package graft.graph

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

/** Mirrors the reference's traversal scenario tests
  * (`/root/reference/src/tests/scenarios/query.zig:34-154, 384, 527`):
  * single/multi-hop consistency, depth limits, edge-type filtering,
  * cyclic termination, deterministic ordering.
  */
class TraversalEngineSpec extends SparkSpec {

  import spark.implicits._

  //   a -> b -> c -> d     (calls)
  //   a -> e               (imports)
  //   cyc1 -> cyc2 -> cyc3 -> cyc1   (cycle)
  private lazy val edges: DataFrame = Seq(
    ("a", "b", "calls"), ("b", "c", "calls"), ("c", "d", "calls"),
    ("a", "e", "imports"),
    ("cyc1", "cyc2", "calls"), ("cyc2", "cyc3", "calls"), ("cyc3", "cyc1", "calls"),
  ).toDF("src", "dst", "edge_type")

  private def seed(ids: String*): DataFrame = ids.toDF("id")

  private def resultMap(df: DataFrame): Map[String, Int] =
    df.collect().map(r => r.getAs[String]("id") -> r.getAs[Int]("depth")).toMap

  test("single-hop outgoing") {
    val r = resultMap(Traversal.bfs(edges, seed("a"),
      TraversalSpec(Direction.Outgoing, maxDepth = 1)))
    assert(r == Map("a" -> 0, "b" -> 1, "e" -> 1))
  }

  test("multi-hop respects depth limit") {
    val r = resultMap(Traversal.bfs(edges, seed("a"),
      TraversalSpec(Direction.Outgoing, maxDepth = 2)))
    assert(r == Map("a" -> 0, "b" -> 1, "e" -> 1, "c" -> 2))
  }

  test("incoming direction") {
    val r = resultMap(Traversal.bfs(edges, seed("d"),
      TraversalSpec(Direction.Incoming, maxDepth = 10)))
    assert(r == Map("d" -> 0, "c" -> 1, "b" -> 2, "a" -> 3))
  }

  test("bidirectional reaches both sides") {
    val r = resultMap(Traversal.bfs(edges, seed("b"),
      TraversalSpec(Direction.Both, maxDepth = 1)))
    assert(r == Map("b" -> 0, "a" -> 1, "c" -> 1))
  }

  test("edge type filter: only/include/exclude") {
    val only = resultMap(Traversal.bfs(edges, seed("a"),
      TraversalSpec(Direction.Outgoing, maxDepth = 3,
        edgeFilter = EdgeFilter.Only("imports"))))
    assert(only == Map("a" -> 0, "e" -> 1))
    val excl = resultMap(Traversal.bfs(edges, seed("a"),
      TraversalSpec(Direction.Outgoing, maxDepth = 3,
        edgeFilter = EdgeFilter.Exclude(Seq("imports")))))
    assert(excl == Map("a" -> 0, "b" -> 1, "c" -> 2, "d" -> 3))
  }

  test("cyclic graph terminates with min depths") {
    val r = resultMap(Traversal.bfs(edges, seed("cyc1"),
      TraversalSpec(Direction.Outgoing, maxDepth = 50)))
    assert(r == Map("cyc1" -> 0, "cyc2" -> 1, "cyc3" -> 2))
  }

  test("max_results truncates in (depth, id) order") {
    val r = Traversal.bfs(edges, seed("a"),
      TraversalSpec(Direction.Outgoing, maxDepth = 3, maxResults = 2))
    val got = r.collect().map(x => (x.getAs[String]("id"), x.getAs[Int]("depth"))).toSeq
    assert(got == Seq(("a", 0), ("b", 1)))
  }

  test("path tracking emits the lexicographically-smallest shortest path") {
    val multi = edges.union(Seq(("a", "c", "calls")).toDF("src", "dst", "edge_type"))
    val r = Traversal.bfs(multi, seed("a"),
      TraversalSpec(Direction.Outgoing, maxDepth = 3, trackPaths = true))
    val paths = r.collect().map(x =>
      x.getAs[String]("id") -> x.getAs[scala.collection.Seq[String]]("path")).toMap
    assert(paths("c") == Seq("a", "c"))          // shortest beats a->b->c
    assert(paths("d") == Seq("a", "c", "d"))     // built on the shortest prefix
  }

  test("topo levels = longest path from roots; Kahn layers") {
    val dag = Seq(("a", "b"), ("b", "c"), ("a", "c"), ("c", "d"))
      .toDF("src", "dst")
    val r = Traversal.topoLevels(dag).collect()
      .map(x => x.getAs[String]("id") -> x.getAs[Int]("level")).toMap
    assert(r == Map("a" -> 0, "b" -> 1, "c" -> 2, "d" -> 3))
  }

  test("topo levels marks cycle members with -1, keeps the DAG part") {
    val r = Traversal.topoLevels(edges.select("src", "dst")).collect()
      .map(x => x.getAs[String]("id") -> x.getAs[Int]("level")).toMap
    assert(r("a") == 0 && r("b") == 1 && r("c") == 2 && r("d") == 3 && r("e") == 1)
    assert(r("cyc1") == -1 && r("cyc2") == -1 && r("cyc3") == -1)
  }

  test("paths between: all shortest paths, capped, lexicographic") {
    val g = Seq(("s", "x", "t"), ("s", "y", "t")).flatMap { case (a, m, b) =>
      Seq((a, m, "calls"), (m, b, "calls"))
    }.toDF("src", "dst", "edge_type")
    val r = Traversal.pathsBetween(g, "s", "t", maxDepth = 5, maxPaths = 100)
      .collect().map(_.getAs[scala.collection.Seq[String]]("path")).toSeq
    assert(r == Seq(Seq("s", "x", "t"), Seq("s", "y", "t")))
  }

  test("paths between: longer-than-shortest paths enumerate, shortest first") {
    // diamond-with-chord: a->d (len 1), a->b->d (len 2), a->b->c->d (len 3)
    val g = Seq(("a", "d"), ("a", "b"), ("b", "d"), ("b", "c"), ("c", "d"))
      .map { case (s, t) => (s, t, "calls") }.toDF("src", "dst", "edge_type")
    val r = Traversal.pathsBetween(g, "a", "d", maxDepth = 10, maxPaths = 100)
      .collect().map(_.getAs[scala.collection.Seq[String]]("path")).toSeq
    assert(r == Seq(Seq("a", "d"), Seq("a", "b", "d"), Seq("a", "b", "c", "d")))
  }

  test("paths between: maxPaths cap keeps the shortest paths") {
    val g = Seq(("a", "d"), ("a", "b"), ("b", "d"), ("b", "c"), ("c", "d"))
      .map { case (s, t) => (s, t, "calls") }.toDF("src", "dst", "edge_type")
    val r = Traversal.pathsBetween(g, "a", "d", maxDepth = 10, maxPaths = 2)
      .collect().map(_.getAs[scala.collection.Seq[String]]("path")).toSeq
    assert(r == Seq(Seq("a", "d"), Seq("a", "b", "d")))
  }

  test("paths between: source equals target") {
    val r = Traversal.pathsBetween(edges, "a", "a").collect()
      .map(_.getAs[scala.collection.Seq[String]]("path")).toSeq
    assert(r == Seq(Seq("a")))
  }

  test("paths between: unreachable target is empty") {
    assert(Traversal.pathsBetween(edges, "d", "a").isEmpty)
  }

  test("deep chain traversal (reference depth-20 scenario)") {
    val chain = (0 until 25).map(i => (s"n%03d".format(i), s"n%03d".format(i + 1), "calls"))
      .toDF("src", "dst", "edge_type")
    val r = Traversal.bfs(chain, seed("n000"),
      TraversalSpec(Direction.Outgoing, maxDepth = 20))
    assert(r.count() == 21) // seed + 20 hops
  }

  test("driver levels hand off to the distributed loop once a collect passes the gate") {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    // a star: n0 reaches 40 leaves, 5 per partition, so the running
    // total (not one partition) crosses a gate of 10
    val star = (1 to 40).map(i => ("n0", s"l$i", "calls"))
      .toDF("src", "dst", "edge_type").repartition(8)
    def run(seeds: DataFrame, gate: Long): DataFrame =
      Traversal.bfsLoop(star, seeds, Direction.Outgoing, 2, 10000L, localRows = gate)
    def localDepths(df: DataFrame): Seq[Int] =
      df.queryExecution.logical.collectLeaves().collect {
        case l: LocalRelation => l.data.map(r => r.getInt(r.numFields - 1))
      }.flatten
    val leaves = (1 to 40).map(i => s"l$i").toDF("id").repartition(8)
    for (seeds <- Seq(seed("n0"), leaves)) {
      val want = run(seeds, 0L).collect().toSeq
      val got = run(seeds, 10L)
      assert(got.collect().toSeq === want)
      assert(!got.isLocal)
    }
    // one seed fits, level 1 does not: only the seed was held locally
    assert(localDepths(run(seed("n0"), 10L)) === Seq(0))
    // 40 seeds do not fit: nothing was held locally
    assert(localDepths(run(leaves, 10L)).isEmpty)
    assert(spark.sparkContext.getJobTags().isEmpty)
  }
  test("dfsStackOrder replays the reference stack machine under truncation") {
    // a -> b, a -> c, b -> d, c -> e; ascending push => descending pops:
    // visit a, c, e, b, d — truncation at 3 keeps {a, c, e}, which the
    // canonical (depth, id) BFS cap ({a, b, c}) cannot reproduce
    val edges = Seq(("a", "b"), ("a", "c"), ("b", "d"), ("c", "e"))
      .map { case (s0, d0) => (s0, d0, "calls") }
      .toDF("src", "dst", "edge_type")
    val full = Traversal.dfsStackOrder(edges, "a",
      TraversalSpec(Direction.Outgoing, maxDepth = 5, maxResults = 100))
      .orderBy("visit_rank")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(full.toSeq == Seq(("a", 0L, 0L), ("c", 1L, 1L), ("e", 2L, 2L),
      ("b", 1L, 3L), ("d", 2L, 4L)))
    val truncated = Traversal.dfsStackOrder(edges, "a",
      TraversalSpec(Direction.Outgoing, maxDepth = 5, maxResults = 3))
      .orderBy("visit_rank").collect().map(_.getString(0))
    assert(truncated.toSeq == Seq("a", "c", "e"))
    // untruncated, the visited SET equals the canonical BFS set
    val bfsSet = Traversal.bfs(edges, Seq("a").toDF("id"),
      TraversalSpec(Direction.Outgoing, maxDepth = 5, maxResults = 100))
      .select("id").collect().map(_.getString(0)).toSet
    assert(full.map(_._1).toSet == bfsSet)
  }

  test("astarHeapOrder replays the reference priority-queue machine") {
    // star a -> {b,c,d,e}, each child -> one grandchild. Hand-traced
    // Zig-heap replay (pop root, move LAST to root, sift down with
    // strict compares — equal-priority entries swap downward, left
    // child wins ties): depth-1 pops come out b, c, e, d — neither
    // FIFO nor sorted, exactly the heap-mechanical order.
    val edges = Seq(("a", "b"), ("a", "c"), ("a", "d"), ("a", "e"),
      ("b", "f"), ("c", "g"), ("d", "h"), ("e", "i"))
      .map { case (s0, d0) => (s0, d0, "calls") }
      .toDF("src", "dst", "edge_type")
    val full = Traversal.astarHeapOrder(edges, "a",
      TraversalSpec(Direction.Outgoing, maxDepth = 5, maxResults = 100))
      .orderBy("visit_rank")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(full.toSeq == Seq(("a", 0L, 0L), ("b", 1L, 1L), ("c", 1L, 2L),
      ("e", 1L, 3L), ("d", 1L, 4L), ("f", 2L, 5L), ("i", 2L, 6L),
      ("h", 2L, 7L), ("g", 2L, 8L)))
    // truncation keeps the heap-pop prefix {a,b,c,e} — the canonical
    // (depth, id) BFS cap would keep {a,b,c,d}
    val truncated = Traversal.astarHeapOrder(edges, "a",
      TraversalSpec(Direction.Outgoing, maxDepth = 5, maxResults = 4))
      .orderBy("visit_rank").collect().map(_.getString(0))
    assert(truncated.toSeq == Seq("a", "b", "c", "e"))
    // untruncated: visited SET and depths equal canonical BFS
    val bfsRows = Traversal.bfs(edges, Seq("a").toDF("id"),
      TraversalSpec(Direction.Outgoing, maxDepth = 5, maxResults = 100))
      .select("id", "depth").collect()
      .map(r => (r.getString(0), r.getAs[Number]("depth").longValue)).toMap
    assert(full.map(f => (f._1, f._2)).toMap == bfsRows)
  }

  test("astarHeapOrder honors the depth cap") {
    // chain with branches: depth cap stops expansion, not recording
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "d"))
      .map { case (s0, d0) => (s0, d0, "calls") }
      .toDF("src", "dst", "edge_type")
    val got = Traversal.astarHeapOrder(edges, "a",
      TraversalSpec(Direction.Outgoing, maxDepth = 2, maxResults = 100))
      .orderBy("visit_rank")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(got.toSeq == Seq(("a", 0L), ("b", 1L), ("c", 2L)))
  }

  test("dfsStackOrder records stack depth and honors the depth cap") {
    // diamond a->b->d, a->c->d plus tail d->f: first-visit depth is the
    // STACK depth (c branch reaches d at depth 2 before b is popped)
    val edges = Seq(("a", "b"), ("a", "c"), ("b", "d"), ("c", "d"), ("d", "f"))
      .map { case (s0, d0) => (s0, d0, "calls") }
      .toDF("src", "dst", "edge_type")
    val got = Traversal.dfsStackOrder(edges, "a",
      TraversalSpec(Direction.Outgoing, maxDepth = 2, maxResults = 100))
      .orderBy("visit_rank")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    // visits: a(0), c(1), d(2) [depth cap: f not expanded], b(1)
    assert(got.toSeq == Seq(("a", 0L), ("c", 1L), ("d", 2L), ("b", 1L)))
  }

}
