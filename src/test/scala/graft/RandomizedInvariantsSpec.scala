package graft

import graft.core.Mvcc
import graft.graph.{Direction, Traversal, TraversalSpec}
import graft.pipeline.TimeSeries
import org.apache.spark.sql.functions._

/** Seeded randomized cross-checks of the engine's core invariants
  * against tiny in-memory reference implementations. Complements the
  * fixed-fixture specs: these sweep shapes (skew, gaps, fan-in, ties)
  * a hand-written fixture wouldn't cover.
  */
class RandomizedInvariantsSpec extends SparkSpec {
  import spark.implicits._

  test("BFS (id, depth) equals an in-memory reference BFS on random graphs") {
    for (seed <- Seq(1, 2, 3)) {
      val rnd = new scala.util.Random(seed)
      val n = 60
      val edges = (1 to 180).map { _ =>
        (s"n${rnd.nextInt(n)}", s"n${rnd.nextInt(n)}", "calls")
      }.distinct.toDF("src", "dst", "edge_type")
      val seed0 = "n0"
      val got = Traversal.bfs(edges, Seq(seed0).toDF("id"),
          TraversalSpec(Direction.Outgoing, maxDepth = 5, maxResults = 10000))
        .select("id", "depth").as[(String, Int)].collect().toSet

      // reference BFS over the collected adjacency list
      val adj = edges.select("src", "dst").as[(String, String)].collect()
        .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).toSet }
      var depth = 0
      var frontier = Set(seed0)
      var seen = Map(seed0 -> 0)
      while (depth < 5 && frontier.nonEmpty) {
        depth += 1
        val next = frontier.flatMap(u => adj.getOrElse(u, Set.empty))
          .filterNot(seen.contains)
        seen = seen ++ next.map(_ -> depth)
        frontier = next
      }
      assert(got === seen.toSet, s"seed=$seed")
    }
  }

  test("BFS at driver-level gates 0, small and unbounded equals an in-memory reference") {
    import graft.graph.{EdgeFilter => F}
    import Direction._
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.unsafe.types.UTF8String
    // Spark's string order, computed apart from the engine's comparator
    def lt(a: String, b: String): Boolean =
      UTF8String.fromString(a).compareTo(UTF8String.fromString(b)) < 0
    def pathLt(p: Seq[String], q: Seq[String]): Boolean =
      p.zip(q).find { case (a, b) => a != b }.map { case (a, b) => lt(a, b) }
        .getOrElse(p.length < q.length)
    val rnd = new scala.util.Random(11)
    // U+FFFD sorts before U+1F600 in UTF-8 bytes, after its surrogate
    // pair in Java's UTF-16 String order
    val names = (0 until 24).map { i =>
      Seq(s"n$i", s"\uFFFD$i", s"\uD83D\uDE00$i")(i % 3)
    }
    val types = Seq("calls", "imports", "refs")
    // duplicate edges and self-loops kept
    val edgeRows = (1 to 70).map { _ =>
      (names(rnd.nextInt(24)), names(rnd.nextInt(24)), types(rnd.nextInt(3)))
    }
    // the same edges held on the driver (a LocalRelation: levels expand
    // there, without a job) and as an RDD-backed frame (one job a level)
    val localEdges = edgeRows.toDF("src", "dst", "edge_type")
    val rddEdges = spark.createDataFrame(localEdges.rdd, localEdges.schema)

    // (id, depth, lexicographically smallest shortest path), sorted by
    // (depth, id) and capped, over whole levels like the engine
    def reference(dir: Direction, filt: F, seeds: Seq[String],
                  maxDepth: Int, maxResults: Int): Seq[(String, Int, Seq[String])] = {
      val kept = edgeRows.filter { case (_, _, t) => filt match {
        case F.Include(ts) => ts.contains(t)
        case F.Exclude(ts) => !ts.contains(t)
        case _ => true
      } }.map { case (s, d, _) => (s, d) }
      val hops = dir match {
        case Outgoing => kept
        case Incoming => kept.map(_.swap)
        case Both => kept ++ kept.map(_.swap)
      }
      val adj = hops.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2) }
      var seen = seeds.map(s => s -> ((0, Seq(s)))).toMap
      var frontier = seen.keySet
      var depth = 0
      while (depth < maxDepth && seen.size < maxResults && frontier.nonEmpty) {
        depth += 1
        val next = (for (u <- frontier.toSeq; v <- adj.getOrElse(u, Nil)
                         if !seen.contains(v)) yield v -> (seen(u)._2 :+ v))
          .groupBy(_._1).map { case (v, ps) =>
            v -> ((depth, ps.map(_._2).reduce((p, q) => if (pathLt(q, p)) q else p)))
          }
        seen ++= next
        frontier = next.keySet
      }
      seen.toSeq.map { case (id, (d, p)) => (id, d, p) }
        .sortWith((x, y) => x._2 < y._2 || x._2 == y._2 && lt(x._1, y._1))
        .take(maxResults)
    }
    // deepest level a driver-side state handed to the distributed loop
    // held (-1: no hand-off)
    def handedOffAt(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.logical.collectLeaves().collect {
        case l: LocalRelation => l.data.map(r => r.getInt(r.numFields - 1))
      }.flatten.maxOption.getOrElse(-1)

    // (direction, filter, seeds, depth, max results, paths, small gate)
    val cases = Seq(
      (Outgoing, F.All, Seq(names(0)), 4, 10000, true, 4L),
      (Incoming, F.Include(Seq("calls", "imports")),
        Seq(names(1), names(1), names(2)), 3, 10000, false, 6L),
      (Both, F.Exclude(Seq("refs")), Seq(names(2), names(3), names(2)), 4, 10000, true, 12L),
      (Outgoing, F.All, Seq(names(4), names(5)), 5, 6, false, 8L),
      (Both, F.All, Seq(names(6)), 3, 9, true, 8L))
    for ((dir, filt, seeds, depth, cap, paths, small) <- cases;
         (edges, form) <- Seq(localEdges -> "local", rddEdges -> "rdd")) {
      val want = reference(dir, filt, seeds.distinct, depth, cap)
      val runs = Seq(0L, small, Long.MaxValue).map { gate =>
        gate -> Traversal.bfsLoop(edges, seeds.toDF("id"), dir, depth, cap.toLong,
          filt, paths, localRows = gate)
      }
      val label = s"$form $dir $filt seeds=$seeds"
      for ((gate, df) <- runs) {
        val got = df.collect().toSeq.map { r =>
          (r.getAs[String]("id"), r.getAs[Int]("depth"),
            if (paths) r.getAs[Seq[String]]("path") else Seq.empty[String])
        }
        assert(got === want.map { case (id, d, p) => (id, d, if (paths) p else Nil) },
          s"$label gate=$gate")
        assert(df.schema === runs.head._2.schema, s"$label gate=$gate")
      }
      val byGate = runs.toMap
      assert(!byGate(0L).isLocal && handedOffAt(byGate(0L)) == -1, label)
      assert(handedOffAt(byGate(small)) >= 1, s"$label: no hand-off after a driver level")
      assert(byGate(Long.MaxValue).isLocal, label)
    }
  }

  test("putBlocks sequences are max+1..max+n in id order on skewed batches") {
    for (seed <- Seq(7, 8)) {
      val rnd = new scala.util.Random(seed)
      val base = rnd.nextInt(1000).toLong
      // skewed id distribution with gaps and string sort != numeric sort
      val ids = rnd.shuffle((0 until 300).map(i =>
        if (i < 200) s"blk${rnd.nextInt(100000)}" else s"a${rnd.nextInt(50)}x$i"))
        .distinct
      val existing = Seq(("seed0", base, false, "v"))
        .toDF("id", "sequence", "is_deleted", "value")
      val puts = ids.map(id => (id, s"payload-$id")).toDF("id", "value")
      val out = Mvcc.putBlocks(existing, puts)
        .filter(col("id") =!= "seed0")
        .select("id", "sequence").as[(String, Long)].collect().sortBy(_._1)
      val want = ids.sorted.zipWithIndex.map { case (id, i) => (id, base + i + 1) }
      assert(out.toSeq === want, s"seed=$seed")
    }
  }

  test("asofJoin equals brute-force argmax on random keyed streams") {
    for (seed <- Seq(21, 22)) {
      val rnd = new scala.util.Random(seed)
      def gen(nRows: Int, tag: Long) = (0 until nRows).map { i =>
        (tag * 10000 + i, s"k${rnd.nextInt(8)}", rnd.nextInt(500).toLong,
          rnd.nextDouble())
      }
      val l = gen(300, 1).toDF("event_id", "k", "ts", "v")
      val r = gen(300, 2).toDF("event_id", "k", "ts", "v")
      val got = TimeSeries.asofJoin(l, r, "k", "ts", "event_id",
        Seq("event_id", "v")).select("event_id", "asof_event_id", "asof_v")
      val brute = l.as("l").join(r.as("r"),
          $"l.k" === $"r.k" && $"r.ts" <= $"l.ts", "left")
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy($"l.event_id")
            .orderBy($"r.ts".desc_nulls_last, $"r.event_id".desc_nulls_last)))
        .filter($"rn" === 1)
        .select($"l.event_id", $"r.event_id".as("asof_event_id"),
          $"r.v".as("asof_v"))
      assert(got.exceptAll(brute).isEmpty && brute.exceptAll(got).isEmpty,
        s"seed=$seed")
    }
  }

  test("compaction is invisible to readers after random put/delete storms") {
    for (seed <- Seq(31, 32)) {
      val rnd = new scala.util.Random(seed)
      var table = Seq(("init", 1L, false, "v0"))
        .toDF("id", "sequence", "is_deleted", "value")
      // random storm: interleaved put batches and deletes over a small
      // hot id space (maximizing rewrites + delete/resurrect races)
      for (_ <- 1 to 4) {
        val puts = (1 to 40).map(_ => s"id${rnd.nextInt(15)}").distinct
          .map(id => (id, s"v${rnd.nextInt(1000)}")).toDF("id", "value")
        table = Mvcc.putBlocks(table, puts)
        val dels = (1 to 5).map(_ => s"id${rnd.nextInt(15)}").distinct
          .filter(id => table.filter(col("id") === id).count() > 0)
        if (dels.nonEmpty) table = Mvcc.deleteBlocks(table, dels)
      }
      val before = graft.core.Schemas.currentView(table)
        .select("id", "sequence", "value").as[(String, Long, String)]
        .collect().toSet
      val compacted = Mvcc.compact(table)
      val after = graft.core.Schemas.currentView(compacted)
        .select("id", "sequence", "value").as[(String, Long, String)]
        .collect().toSet
      assert(after === before, s"seed=$seed")
      // compacted table holds exactly one row per live-or-tombstoned id
      val perId = compacted.groupBy("id").agg(count(lit(1)).as("c"))
        .filter(col("c") > 1).count()
      assert(perId == 0L, s"seed=$seed")
    }
  }

  /** Runs `check` on both inputs the graph loops take: the raw pairs,
    * and the persisted, deduped both-orientation frame passed with
    * `undirectedPairs = true`, as every `graph_*` entry passes
    * `CodeGraph.undPairs`.
    */
  private def bothInputs(pairs: Seq[(String, String)])(
      check: (String, org.apache.spark.sql.DataFrame, Boolean) => Unit): Unit = {
    check("raw", pairs.toDF("src", "dst"), false)
    val und = pairs.flatMap { case (a, b) => Seq((a, b), (b, a)) }.distinct
      .toDF("src", "dst").persist()
    try {
      und.count()
      check("persisted", und, true)
    } finally und.unpersist(blocking = true)
  }

  /** A 4-clique with three 6-node pendant paths: at k = 2 each path
    * peels one node per round, six rounds in all.
    */
  private val pendantPaths: Seq[(String, String)] = {
    val clique = for (a <- 0 to 3; b <- a + 1 to 3) yield (s"c$a", s"c$b")
    val paths = for (p <- 0 to 2; i <- 0 to 5)
      yield (if (i == 0) s"c$p" else s"p${p}_${i - 1}", s"p${p}_$i")
    clique ++ paths
  }

  test("kcore equals in-memory iterated peeling on random graphs") {
    import graft.graph.GraphAnalytics
    val random = for (seed <- Seq(41, 42, 43)) yield {
      val rnd = new scala.util.Random(seed)
      val n = 40
      (s"seed=$seed", 3, (1 to 120).map { _ =>
        (s"n${rnd.nextInt(n)}", s"n${rnd.nextInt(n)}")
      }.distinct.filter { case (a, b) => a != b })
    }
    for ((graph, k, pairs) <- random :+ (("pendant paths", 2, pendantPaths))) {
      val und0 = pairs.flatMap { case (a, b) => Seq((a, b), (b, a)) }.toSet
      // one application of the peel function to the undirected set
      def peel(und: Set[(String, String)], k: Int) = {
        val keep = und.groupBy(_._1).filter(_._2.size >= k).keySet
        und.filter { case (a, b) => keep(a) && keep(b) }
      }
      def degrees(und: Set[(String, String)]) =
        und.groupBy(_._1).map { case (v, es) => v -> es.size.toLong }
      val rounds = 8
      // reference: exactly `rounds` applications of the peel function
      val want = degrees(Iterator.iterate(und0)(peel(_, k)).drop(rounds).next())
      // coreness: the largest k whose peel, run to its fixpoint, keeps
      // the node
      def core(k: Int) = Iterator.iterate(und0)(peel(_, k))
        .sliding(2).collectFirst { case Seq(a, b) if a == b => a }.get
      val wantCore = (1 to und0.size).iterator.map(core)
        .takeWhile(_.nonEmpty).zipWithIndex
        .flatMap { case (c, i) => c.map(_._1 -> (i + 1).toLong) }
        .toSeq.groupBy(_._1).map { case (v, ks) => v -> ks.map(_._2).max }
      bothInputs(pairs) { (input, edges, undirected) =>
        val got = GraphAnalytics.kcore(edges, k, rounds,
            undirectedPairs = undirected)
          .as[(String, Long)].collect().toMap
        assert(got === want, s"$graph, $input")
        val gotCore = GraphAnalytics.coreness(edges, rounds = 40,
            undirectedPairs = undirected)
          .as[(String, Long)].collect().toMap
        assert(gotCore === wantCore, s"coreness, $graph, $input")
      }
    }
  }

  test("hitsFixedPoint equals the in-memory integer-renormalized replay") {
    import graft.graph.GraphAnalytics
    for (seed <- Seq(51, 52)) {
      val rnd = new scala.util.Random(seed)
      val n = 30
      val pairs = (1 to 100).map { _ =>
        (s"n${rnd.nextInt(n)}", s"n${rnd.nextInt(n)}")
      }.filter { case (a, b) => a != b }.distinct
      val iters = 4
      val scale = 1000000000000L
      val got = GraphAnalytics.hitsFixedPoint(
          pairs.toDF("src", "dst"), iters)
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
        .toMap

      // in-memory replay of the exact integer iteration
      val nodes = pairs.flatMap { case (a, b) => Seq(a, b) }.distinct.sorted
      val init = scale / nodes.size
      var hub = nodes.map(_ -> init).toMap
      var auth = Map.empty[String, Long]
      for (_ <- 1 to iters) {
        // proportional integer renormalization (r8): raw·scale div Σraw
        // in 128-bit — rescales up on sparse graphs too, no mass decay
        val aRaw = pairs.groupBy(_._2).map { case (v, es) =>
          v -> es.map(e => hub(e._1)).sum }
        val sA = math.max(1L, aRaw.values.sum)
        auth = nodes.map(v => v ->
          (BigInt(aRaw.getOrElse(v, 0L)) * scale / sA).toLong).toMap
        val hRaw = pairs.groupBy(_._1).map { case (u, es) =>
          u -> es.map(e => auth(e._2)).sum }
        val sH = math.max(1L, hRaw.values.sum)
        hub = nodes.map(v => v ->
          (BigInt(hRaw.getOrElse(v, 0L)) * scale / sH).toLong).toMap
      }
      val want = nodes.map(v => v -> (hub(v), auth(v))).toMap
      assert(got === want, s"seed=$seed")
    }
  }

  test("harmonicFromSeeds equals in-memory multi-source BFS on random graphs") {
    import graft.graph.GraphAnalytics
    for (seed <- Seq(21, 22)) {
      val rnd = new scala.util.Random(seed)
      val n = 30
      val pairs = (1 to 90).map { _ =>
        (s"n${rnd.nextInt(n)}", s"n${rnd.nextInt(n)}")
      }.filter { case (a, b) => a != b }.distinct
      val seeds = Seq("n0", "n1", "n2")
      val d = 3
      val got = GraphAnalytics.harmonicFromSeeds(
          pairs.toDF("src", "dst"), seeds, maxDepth = d)
        .collect().map(r => r.getString(0) ->
          ((1 to d).map(i => r.getLong(i)), r.getLong(d + 1),
            r.getDouble(d + 2))).toMap

      // reference: per-seed BFS over the undirected adjacency
      val adj = pairs.flatMap { case (a, b) => Seq(a -> b, b -> a) }
        .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).toSet }
      val dist = seeds.flatMap { s =>
        var frontier = Set(s); var seen = Map(s -> 0); var depth = 0
        while (depth < d && frontier.nonEmpty) {
          depth += 1
          val next = frontier.flatMap(u => adj.getOrElse(u, Set.empty))
            .filterNot(seen.contains)
          seen ++= next.map(_ -> depth); frontier = next
        }
        seen.collect { case (id, dd) if dd > 0 => (id, dd) }
      }
      val want = dist.groupBy(_._1).map { case (id, ds) =>
        val counts = (1 to d).map(dd => ds.count(_._2 == dd).toLong)
        val h = counts.zipWithIndex
          .map { case (c, i) => c.toDouble / (i + 1).toDouble }.sum
        id -> ((counts, counts.sum,
          BigDecimal(h).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
      }
      assert(got === want, s"seed=$seed")
    }
  }

  test("doubleSweep eccentricities match in-memory BFS farthest-node picks") {
    import graft.graph.GraphAnalytics
    for (seed <- Seq(31, 32)) {
      val rnd = new scala.util.Random(seed)
      val n = 40
      val pairs = (1 to 70).map { _ =>
        (s"n${rnd.nextInt(n)}", s"n${rnd.nextInt(n)}")
      }.filter { case (a, b) => a != b }.distinct
      val adj = pairs.flatMap { case (a, b) => Seq(a -> b, b -> a) }
        .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).toSet }
      def sweep(s: String): (String, Int) = {
        var frontier = Set(s); var seen = Map(s -> 0); var depth = 0
        while (depth < 12 && frontier.nonEmpty) {
          depth += 1
          val next = frontier.flatMap(u => adj.getOrElse(u, Set.empty))
            .filterNot(seen.contains)
          seen ++= next.map(_ -> depth); frontier = next
        }
        // (depth desc, id asc) tie-break, matching the operator
        seen.toSeq.sortBy { case (id, dd) => (-dd, id) }.head match {
          case (id, dd) => (id, dd)
        }
      }
      val (f1, e1) = sweep("n0")
      val (f2, e2) = sweep(f1)
      val got = GraphAnalytics.doubleSweep(pairs.toDF("src", "dst"), "n0")
        .orderBy("sweep").collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      assert(got.toSeq == Seq((1, "n0", f1, e1.toLong), (2, f1, f2, e2.toLong)),
        s"seed=$seed")
    }
  }

  test("ktruss delta-decrement equals in-memory recompute peeling on random graphs") {
    // guards the delta machinery: per-(survivor, triangle) dedup (a
    // triangle losing TWO edges must decrement its survivor once),
    // adjacency shrink via array_except, maintained-support == the
    // recompute the oracle replays
    import graft.graph.GraphAnalytics
    for (seed <- Seq(11, 12, 13)) {
      val rnd = new scala.util.Random(seed)
      val n = 25
      val pairs = (1 to 140).map { _ =>
        (s"n${rnd.nextInt(n)}", s"n${rnd.nextInt(n)}")
      }.filter { case (a, b) => a != b }
        .map { case (a, b) => if (a < b) (a, b) else (b, a) }.distinct
      val k = 4
      val rounds = 4
      val got = GraphAnalytics.ktruss(pairs.toDF("src", "dst"), k, rounds)
        .as[(String, String, Long)].collect()
        .map { case (a, b, s) => (a, b) -> s }.toMap

      // reference: `rounds` full recompute peels + one final support pass
      def support(es: Set[(String, String)]): Map[(String, String), Long] = {
        val adj = es.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
          .groupBy(_._1).map { case (v, xs) => v -> xs.map(_._2).toSet }
        es.map { case (a, b) =>
          (a, b) -> (adj(a) & adj(b)).size.toLong
        }.toMap
      }
      var es = pairs.toSet
      for (_ <- 1 to rounds) {
        val s = support(es)
        es = es.filter(e => s(e) >= (k - 2).toLong)
      }
      assert(got === support(es), s"seed=$seed")
    }
  }

  test("connectedComponents equals union-find on random graphs") {
    // guards the DELTA message optimization: only changed labels vote,
    // which must still land on the true min-label components (sparse
    // graphs give multi-round convergence tails; the 6-round budget
    // covers diameter ~126 via pointer jumping)
    import graft.graph.GraphAnalytics
    for (seed <- Seq(7, 8, 9)) {
      val rnd = new scala.util.Random(seed)
      val n = 60
      val pairs = (1 to 50).map { _ =>
        (f"n${rnd.nextInt(n)}%02d", f"n${rnd.nextInt(n)}%02d")
      }.filter { case (a, b) => a != b }

      val parent = scala.collection.mutable.Map.empty[String, String]
      def find(x: String): String = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(ra) = rb
      }
      val nodes = pairs.flatMap { case (a, b) => Seq(a, b) }.distinct
      val want = nodes.groupBy(find).values
        .flatMap(ms => ms.map(_ -> ms.min)).toMap
      bothInputs(pairs) { (input, edges, undirected) =>
        val got = GraphAnalytics.connectedComponents(edges, rounds = 6,
            undirectedPairs = undirected)
          .as[(String, String)].collect().toMap
        assert(got === want, s"seed=$seed, $input")
      }
    }
  }

  test("labelPropagation equals an in-memory synchronous replay on random graphs") {
    import graft.graph.GraphAnalytics
    for (seed <- Seq(11, 12, 13)) {
      val rnd = new scala.util.Random(seed)
      val n = 30
      val pairs = (1 to 70).map { _ =>
        (f"n${rnd.nextInt(n)}%02d", f"n${rnd.nextInt(n)}%02d")
      }.distinct.filter { case (a, b) => a != b }
      val rounds = 4
      // every node adopts the most frequent label among its distinct
      // neighbours, ties to the smallest label, all nodes at once
      val nbrs = pairs.flatMap { case (a, b) => Seq((a, b), (b, a)) }.distinct
        .groupBy(_._1).map { case (v, es) => v -> es.map(_._2) }
      var labels = nbrs.keys.map(v => v -> v).toMap
      for (_ <- 1 to rounds) {
        labels = nbrs.map { case (v, ns) =>
          v -> ns.groupBy(labels).toSeq
            .minBy { case (l, votes) => (-votes.size, l) }._1
        }
      }
      bothInputs(pairs) { (input, edges, undirected) =>
        val got = GraphAnalytics.labelPropagation(edges, rounds,
            undirectedPairs = undirected)
          .as[(String, String)].collect().toMap
        assert(got === labels, s"seed=$seed, $input")
      }
    }
  }

  test("maximalIndependentSet and greedyColoring equal an in-memory Luby replay on random graphs") {
    import graft.graph.GraphAnalytics
    // the engines' priority: md5 hex of the id, then the id
    def pri(id: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(id.getBytes("UTF-8")).map(b => f"$b%02x").mkString + id
    // seeds whose graphs need at least two rounds under both peels
    for (seed <- Seq(31, 32)) {
      val rnd = new scala.util.Random(seed)
      val n = 24
      def node() = f"n${rnd.nextInt(n)}%02d"
      // self-loops included: a node is never its own neighbour
      val pairs = ((1 to 40).map(_ => (node(), node())) ++
        (1 to 4).map { _ => val x = node(); (x, x) }).distinct
      val nbrs = pairs.filter { case (a, b) => a != b }
        .flatMap { case (a, b) => Seq((a, b), (b, a)) }
        .groupBy(_._1).map { case (v, es) => v -> es.map(_._2).toSet }
      // per round, the undecided nodes whose priority is below every
      // undecided neighbour's ('~' when none is left) are selected; MIS
      // removes them and their neighbours, coloring only them. Rows are
      // id -> (status, round), as both loops report them
      def replay(rounds: Int, mis: Boolean): Map[String, (String, Int)] = {
        var undec = nbrs.keySet
        val rows = Map.newBuilder[String, (String, Int)]
        for (r <- 1 to rounds) {
          val sel = undec.filter { v =>
            val mn = (nbrs(v) & undec).map(pri).minOption.getOrElse("~")
            pri(v) < mn
          }
          val out = if (mis) (sel.flatMap(nbrs) & undec) -- sel
            else Set.empty[String]
          rows ++= sel.map(_ -> (if (mis) "in" else "colored", r)) ++
            out.map(_ -> ("out", r))
          undec = undec -- sel -- out
        }
        rows.result() ++
          undec.map(_ -> (if (mis) "undecided" else "uncolored", 0))
      }
      def run(mis: Boolean, edges: org.apache.spark.sql.DataFrame,
              rounds: Int, undirected: Boolean) =
        if (mis) GraphAnalytics.maximalIndependentSet(edges, rounds,
            undirectedPairs = undirected)
          .collect().map(r => r.getString(0) -> (r.getString(1), r.getInt(2)))
        else GraphAnalytics.greedyColoring(edges, rounds,
            undirectedPairs = undirected)
          .collect().map(r => r.getString(0) -> (r.getString(2), r.getInt(1)))
      for (mis <- Seq(true, false)) {
        // the fewest rounds that decide every node, and one round fewer,
        // which leaves some undecided
        val all = Iterator.from(1)
          .find(r => replay(r, mis).values.forall(_._2 > 0)).get
        assert(all >= 2, s"seed=$seed decides every node in one round")
        for (rounds <- Seq(all - 1, all)) {
          val want = replay(rounds, mis)
          bothInputs(pairs) { (input, edges, undirected) =>
            val where = s"mis=$mis, seed=$seed, rounds=$rounds, $input"
            val got = run(mis, edges, rounds, undirected)
            assert(got.length === want.size, where)
            assert(got.toMap === want, where)
          }
        }
      }
    }
  }

  test("louvainOneLevel and louvainLevels equal an exact in-memory Louvain replay on random graphs") {
    import graft.graph.GraphAnalytics
    // the half-move gate: md5 hex of "id#round", first 8 digits + 1, even
    def moves(id: String, r: Int) = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$id#$r".getBytes("UTF-8")).map(b => f"$b%02x").mkString
      (java.lang.Long.parseLong(hex.take(8), 16) + 1L) % 2L == 0L
    }
    // one move phase from the singleton partition over weighted rows
    // (a, b) -> w, both orientations. A node scores each neighbour
    // community and its own (STAY) by 2m·k_{i,C} − k_i·(tot_C − [C own]·k_i)
    // in BigInt; the best score wins, ties to the smaller community.
    // Self-loop rows count in the degree always, in k_{i,C} only with
    // `selfInKic` (level 1 counts them, as its oracle does; the meta
    // levels keep them as intra-community mass only)
    def movePhase(w: Map[(String, String), Long], rounds: Int,
                  selfInKic: Boolean): Map[String, String] = {
      val deg = w.groupMapReduce(_._1._1)(_._2)(_ + _)
      val twoM = BigInt(w.values.sum)
      var lbl = deg.keys.map(v => v -> v).toMap
      for (r <- 1 to rounds) {
        val tot = deg.groupMapReduce(d => lbl(d._1))(_._2)(_ + _)
        val kic = w.toSeq.collect { case ((a, b), x) if selfInKic || a != b =>
          (a, lbl(b)) -> x }.groupMapReduce(_._1)(_._2)(_ + _)
        lbl = lbl.map { case (v, own) =>
          val cands = kic.keys.collect { case (`v`, c) => c }.toSet + own
          val best = cands.toSeq.map { c =>
            val k = BigInt(deg(v))
            val score = twoM * BigInt(kic.getOrElse((v, c), 0L)) -
              k * (BigInt(tot(c)) - (if (c == own) k else BigInt(0)))
            (-score, c)
          }.min._2
          v -> (if (moves(v, r)) best else own)
        }
      }
      lbl
    }
    def contract(w: Map[(String, String), Long], comm: Map[String, String]) =
      w.toSeq.map { case ((a, b), x) => (comm(a), comm(b)) -> x }
        .groupMapReduce(_._1)(_._2)(_ + _)
    var metaMoved = false
    for (seed <- Seq(71, 72, 73)) {
      val rnd = new scala.util.Random(seed)
      val n = 36
      def node() = f"n${rnd.nextInt(n)}%02d"
      // duplicate pairs, both orientations and self-loops included
      val base = (1 to 70).map(_ => (node(), node()))
      val pairs = base ++ base.take(10) ++ base.slice(10, 20).map(_.swap) ++
        (1 to 4).map { _ => val x = node(); (x, x) }
      val und = pairs.flatMap { case (a, b) => Seq((a, b), (b, a)) }.distinct
        .map(_ -> 1L).toMap
      val (rounds1, roundsMeta) = (4, 4)
      val l1 = movePhase(und, rounds1, selfInKic = true)
      // level 2 and 3: contract by the previous level's communities and
      // move again; no early exit (a level that moves nothing is the
      // identity, so the engine's early exit must not change the result)
      val l2 = movePhase(contract(und, l1), roundsMeta, selfInKic = false)
      val l3 = movePhase(contract(contract(und, l1), l2), roundsMeta,
        selfInKic = false)
      metaMoved ||= l2.exists { case (c, d) => c != d }
      val want1 = l1
      val want3 = l1.map { case (v, c) => v -> l3(l2(c)) }
      bothInputs(pairs) { (input, edges, undirected) =>
        val got1 = GraphAnalytics.louvainOneLevel(edges, rounds1,
            undirectedPairs = undirected)
          .as[(String, String)].collect().toMap
        assert(got1 === want1, s"louvainOneLevel, seed=$seed, $input")
        for (gate <- Seq(1000000L, 0L)) {
          val got3 = GraphAnalytics.louvainLevels(edges, rounds1, roundsMeta,
              maxLevels = 3, undirectedPairs = undirected,
              metaDriverMax = gate)
            .as[(String, String)].collect().toMap
          assert(got3 === want3,
            s"louvainLevels, metaDriverMax=$gate, seed=$seed, $input")
        }
      }
    }
    assert(metaMoved, "no seed merges communities at level 2")
  }

  test("pagerank family: mass bounds, rank ordering and exact integer replay") {
    import graft.graph.GraphAnalytics
    val scale = 1000000000000L
    val iters = 5
    // in-memory replay of the fixed-point iteration over weighted edges
    // (w = 1 for the unweighted variants): share = rank·w div W(u),
    // dangling mass div |S| goes to the teleport set S (every node for
    // the global variants), rank' = 15·tele div 100 + 85·(inc + dsh) div 100
    def replay(es: Seq[(String, String, Long)], seeds: Seq[String]): Map[String, Long] = {
      val nodes = es.flatMap(e => Seq(e._1, e._2)).distinct
      val tele = if (seeds.isEmpty) nodes.map(_ -> scale / nodes.size).toMap
        else nodes.map(v => v -> (if (seeds.contains(v)) scale / seeds.size else 0L)).toMap
      val wout = es.groupBy(_._1).map { case (u, out) => u -> out.map(_._3).sum }
      var rank = tele
      for (_ <- 1 to iters) {
        val dsh = nodes.filterNot(wout.contains).map(rank).sum /
          (if (seeds.isEmpty) nodes.size else seeds.size)
        val inc = es.groupBy(_._2).map { case (v, in) =>
          v -> in.map(e => rank(e._1) * e._3 / wout(e._1)).sum }
        rank = nodes.map(v => v -> (15L * tele(v) / 100L + 85L * (inc.getOrElse(v, 0L) +
          (if (tele(v) > 0L) dsh else 0L)) / 100L)).toMap
      }
      rank
    }
    def unit(pairs: Seq[(String, String)]) = pairs.distinct.map(p => (p._1, p._2, 1L))
    def collect(df: org.apache.spark.sql.DataFrame) =
      df.as[(String, Long)].collect().toMap
    for (seed <- Seq(51, 52)) {
      val rnd = new scala.util.Random(seed)
      // random DAG (edges only low->high) with a guaranteed hub sink
      val n = 30
      val pairs = ((1 to 100).map { _ =>
        val a = rnd.nextInt(n - 1)
        val b = a + 1 + rnd.nextInt(n - a - 1)
        (f"n$a%02d", f"n$b%02d")
      } ++ (0 until n - 1).map(i => (f"n$i%02d", f"n${n - 1}%02d"))).distinct
      val pr = GraphAnalytics.pagerankFixedPoint(
          pairs.toDF("src", "dst"), iters = 5, scale = scale)
        .as[(String, Long)].collect().toMap
      // every node ranked; total mass within integer-floor loss
      assert(pr.size == n, s"seed=$seed")
      val total = pr.values.sum
      assert(total <= scale && total > scale * 9 / 10, s"seed=$seed total=$total")
      // the all-incoming sink out-ranks every source-only node
      val sink = pr(f"n${n - 1}%02d")
      assert(pr.filterKeys(_ != f"n${n - 1}%02d").values.forall(_ < sink),
        s"seed=$seed")
      assert(pr === replay(unit(pairs), Nil), s"seed=$seed (DAG replay)")
    }
    // random directed graphs with cycles, duplicate pairs, self-loops
    // and dangling nodes (only n00..n23 have out-edges)
    for (seed <- Seq(61, 62)) {
      val rnd = new scala.util.Random(seed)
      val n = 30
      val pairs = (1 to 90).map(_ =>
        (f"n${rnd.nextInt(n - 6)}%02d", f"n${rnd.nextInt(n)}%02d"))
      val es = pairs.map(p => (p._1, p._2, 1L + rnd.nextInt(9)))
      val nodes = pairs.flatMap(p => Seq(p._1, p._2)).distinct.sorted
      val pr = collect(GraphAnalytics.pagerankFixedPoint(
        pairs.toDF("src", "dst"), iters = iters, scale = scale))
      assert(pr === replay(unit(pairs), Nil), s"seed=$seed (pagerank)")
      for (seeds <- Seq(Seq(nodes.head), Seq(nodes(1), nodes(5), nodes.last))) {
        val ppr = collect(GraphAnalytics.pprFixedPoint(
          pairs.toDF("src", "dst"), seeds, iters = iters, scale = scale))
        assert(ppr === replay(unit(pairs), seeds), s"seed=$seed (ppr $seeds)")
      }
      val wpr = collect(GraphAnalytics.pagerankWeighted(
        es.toDF("src", "dst", "w"), iters = iters, scale = scale))
      assert(wpr === replay(es, Nil), s"seed=$seed (weighted)")
    }
  }

  test("minimumSpanningForest equals in-memory Kruskal under the same total order") {
    import graft.graph.GraphAnalytics
    import org.apache.spark.sql.DataFrame
    def forest(edges: DataFrame, tail: Long, meta: Long = 1000000L,
               canonical: Boolean = false) =
      GraphAnalytics.minimumSpanningForest(edges, driverTailMax = tail,
          metaDriverMax = meta, canonicalInput = canonical)
        .as[(String, String, Long)].collect().toSet
    // every execution path must agree with Kruskal: tail = 0 forces every
    // round distributed (Borůvka contraction all the way); the default
    // takes the whole-graph driver tail on this size; a mid-size
    // threshold runs distributed rounds, then the tail
    val tails = Seq(0L, 200000L, 20L)
    for (seed <- Seq(91, 92, 93)) {
      val rnd = new scala.util.Random(seed)
      val n = 40
      val raw = (1 to 120).map { _ =>
        (f"n${rnd.nextInt(n)}%02d", f"n${rnd.nextInt(n)}%02d",
          (1 + rnd.nextInt(9)).toLong)
      }.distinct
      // reference Kruskal over the canonical (a, b, min w) edges with
      // the (w, a, b) total order — the unique MSF under that order
      val canon = raw.filter(e => e._1 != e._2)
        .map { case (x, y, w) =>
          (if (x < y) x else y, if (x < y) y else x, w) }
        .groupBy(e => (e._1, e._2))
        .map { case ((a, b), es) => (a, b, es.map(_._3).min) }.toSeq
      val parent = scala.collection.mutable.Map.empty[String, String]
      def find(x: String): String = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      val want = canon.sortBy(e => (e._3, e._1, e._2)).flatMap {
        case (a, b, w) =>
          val (ra, rb) = (find(a), find(b))
          if (ra == rb) None else { parent(ra) = rb; Some((a, b, w)) }
      }.toSet
      val edges = raw.toDF("src", "dst", "w")
      for (tail <- tails)
        assert(forest(edges, tail) === want, s"seed=$seed driverTailMax=$tail")
      // every contraction on the components kernel
      assert(forest(edges, 0L, meta = 0L) === want, s"seed=$seed metaDriverMax=0")
      // one row per undirected pair, a < b: the input skips the dedup
      val canonEdges = canon.toDF("src", "dst", "w")
      assert(forest(canonEdges, 0L, canonical = true) === want,
        s"seed=$seed canonicalInput")
      val persisted = canonEdges.persist()
      try {
        persisted.count()
        assert(forest(persisted, 0L, canonical = true) === want,
          s"seed=$seed canonicalInput, persisted")
      } finally persisted.unpersist(blocking = true)
    }
    // ids past U+FFFF: UTF-16 order puts P above Q and T, code point
    // order (UTF-8 bytes, Spark's) below them; every path breaks the
    // weight tie by Spark's order
    val (p, q, t) = ("\uFFFF", "\uD83D\uDE00", "\uD83D\uDE01")
    val triangle = Seq((p, q, 1L), (q, t, 1L), (t, p, 1L)).toDF("src", "dst", "w")
    for (tail <- tails)
      assert(forest(triangle, tail) === Set((p, q, 1L), (p, t, 1L)),
        s"triangle driverTailMax=$tail")
  }

  test("funnelSteps equals an in-memory greedy walk on random event streams") {
    import graft.streaming.EventStreams
    val steps = Seq("view", "click", "purchase")
    val types = Seq("view", "click", "purchase", "signup", "error")
    for (seed <- Seq(61, 62, 63)) {
      val rnd = new scala.util.Random(seed)
      val rows = (1 to 400).map { i =>
        (i.toLong, rnd.nextInt(50).toLong * 1000000L, // coarse ts -> many ties
          rnd.nextInt(25).toLong, types(rnd.nextInt(types.size)))
      }
      // row order must not matter: the walk sorts internally
      val shuffled = rnd.shuffle(rows)
      val got = EventStreams.funnelSteps(
          shuffled.toDF("event_id", "ts_us", "user_id", "event_type"))
        .as[(Long, Long)].collect().toMap
      val want = rows.groupBy(_._3).map { case (uid, evs) =>
        var stage = 0
        evs.sortBy(e => (e._2, e._1)).foreach { e =>
          if (stage < steps.size && e._4 == steps(stage)) stage += 1
        }
        uid -> stage.toLong
      }
      assert(got === want, s"seed=$seed")
    }
  }

  test("histQuantiles is within one bin width of the exact percentile") {
    import graft.pipeline.Sketches
    for (seed <- Seq(71, 72)) {
      val rnd = new scala.util.Random(seed)
      val vals = (1 to 2000).map(_ => ("g", rnd.nextDouble() * 500.0))
      val est = Sketches.histQuantiles(vals.toDF("g", "v"), Seq("g"), "v",
        binWidth = 10.0).collect().head
      val sorted = vals.map(_._2).sorted
      def exact(q: Double): Double = {
        val pos = q * (sorted.size - 1)
        val lo = sorted(pos.toInt)
        val hi = sorted(math.min(pos.toInt + 1, sorted.size - 1))
        lo + (pos - pos.toInt) * (hi - lo)
      }
      for ((q, i) <- Seq(0.5, 0.9, 0.99).zipWithIndex)
        assert(math.abs(est.getDouble(i + 1) - exact(q)) <= 10.0,
          s"seed=$seed q=$q est=${est.getDouble(i + 1)} exact=${exact(q)}")
    }
  }

  test("KMV estimate tracks the true distinct count within sampling error") {
    import graft.pipeline.Sketches
    for ((n, seed) <- Seq((300, 81), (3000, 82))) {
      val rnd = new scala.util.Random(seed)
      // duplicates + skew: each value drawn from n distinct keys
      val vals = (1 to n * 3).map(_ => ("g", s"k${rnd.nextInt(n)}"))
      val nTrue = vals.map(_._2).distinct.size
      val est = Sketches.kmvDistinct(vals.toDF("g", "v"), Seq("g"), "v",
        k = 256).collect().head.getDouble(1)
      // RSE ~ 1/sqrt(k-2) ~ 6.3%; allow 4 sigma
      assert(math.abs(est - nTrue) / nTrue < 0.25,
        s"seed=$seed est=$est true=$nTrue")
    }
  }
}
