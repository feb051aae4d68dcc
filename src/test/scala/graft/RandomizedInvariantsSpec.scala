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

  test("kcore equals in-memory iterated peeling on random graphs") {
    import graft.graph.GraphAnalytics
    for (seed <- Seq(41, 42, 43)) {
      val rnd = new scala.util.Random(seed)
      val n = 40
      val pairs = (1 to 120).map { _ =>
        (s"n${rnd.nextInt(n)}", s"n${rnd.nextInt(n)}")
      }.distinct.filter { case (a, b) => a != b }
      val k = 3
      val rounds = 8
      val got = GraphAnalytics.kcore(pairs.toDF("src", "dst"), k, rounds)
        .as[(String, Long)].collect().toMap

      // reference: exactly `rounds` applications of the peel function
      // over the undirected multiset (both orientations)
      var und = pairs.flatMap { case (a, b) => Seq((a, b), (b, a)) }.toSet
      for (_ <- 1 to rounds) {
        val deg = und.groupBy(_._1).map { case (v, es) => v -> es.size }
        val keep = deg.filter(_._2 >= k).keySet
        und = und.filter { case (a, b) => keep(a) && keep(b) }
      }
      val want = und.groupBy(_._1)
        .map { case (v, es) => v -> es.size.toLong }
      assert(got === want, s"seed=$seed")
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
      val got = GraphAnalytics.connectedComponents(
          pairs.toDF("src", "dst"), rounds = 6)
        .as[(String, String)].collect().toMap

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
      assert(got === want, s"seed=$seed")
    }
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
    for (seed <- Seq(91, 92, 93)) {
      val rnd = new scala.util.Random(seed)
      val n = 40
      val raw = (1 to 120).map { _ =>
        (f"n${rnd.nextInt(n)}%02d", f"n${rnd.nextInt(n)}%02d",
          (1 + rnd.nextInt(9)).toLong)
      }.distinct
      // both execution paths must agree with Kruskal: tail=0 forces
      // every round distributed (Borůvka contraction all the way);
      // the default takes the whole-graph driver tail on this size
      val gotPerPath = Seq(0L, 200000L).map { tail =>
        GraphAnalytics.minimumSpanningForest(
            raw.toDF("src", "dst", "w"), driverTailMax = tail)
          .as[(String, String, Long)].collect().toSet
      }
      // and a mid-size threshold exercises distributed-rounds-then-tail
      val gotMixed = GraphAnalytics.minimumSpanningForest(
          raw.toDF("src", "dst", "w"), driverTailMax = 20L)
        .as[(String, String, Long)].collect().toSet
      val got = gotPerPath.head
      assert(gotPerPath(1) === got, s"seed=$seed (driver tail path)")
      assert(gotMixed === got, s"seed=$seed (mixed path)")
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
      assert(got === want, s"seed=$seed")
    }
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
