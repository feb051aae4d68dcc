package graft.graph

import graft.SparkSpec
import org.apache.spark.sql.functions._

class GraphAnalyticsSpec extends SparkSpec {
  import spark.implicits._

  test("pagerank: fixed-point ranks on a known graph behave like PageRank") {
    // star: a,b,c -> hub; hub dangles. Hub must out-rank the leaves.
    val g = Seq(("a", "h"), ("b", "h"), ("c", "h")).toDF("src", "dst")
    val pr = GraphAnalytics.pagerankFixedPoint(g, iters = 5)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(pr.keySet == Set("a", "b", "c", "h"))
    assert(pr("h") > pr("a"))
    assert(pr("a") == pr("b") && pr("b") == pr("c")) // symmetry is exact
    // total mass stays within integer-floor loss of the scale
    val total = pr.values.sum
    assert(total > 900000000000L && total <= 1000000000000L)
  }

  test("pagerank: deterministic across partitionings (integer sums)") {
    val g = (1 to 40).map(i => (s"n${i % 7}", s"n${(3 * i + 1) % 7}"))
      .toDF("src", "dst")
    val a = GraphAnalytics.pagerankFixedPoint(g.repartition(1), iters = 4)
      .orderBy("id").collect().toSeq
    val b = GraphAnalytics.pagerankFixedPoint(g.repartition(13), iters = 4)
      .orderBy("id").collect().toSeq
    assert(a == b)
  }

  test("kcore: triangle with a tail peels to the triangle at k=2") {
    // triangle a-b-c plus tail c-d-e: 2-core = the triangle, each deg 2
    val g = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "e"))
      .toDF("src", "dst")
    val core = GraphAnalytics.kcore(g, k = 2, rounds = 8)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(core == Map("a" -> 2L, "b" -> 2L, "c" -> 2L))
  }

  test("kcore: cascade needs multiple peels and early-exits at fixpoint") {
    // chain hanging off a clique: each peel removes one chain node
    val clique = Seq(("k1", "k2"), ("k1", "k3"), ("k2", "k3"))
    val chain = Seq(("k3", "t1"), ("t1", "t2"), ("t2", "t3"), ("t3", "t4"))
    val g = (clique ++ chain).toDF("src", "dst")
    val core = GraphAnalytics.kcore(g, k = 2, rounds = 20)
      .select("id").as[String].collect().toSet
    assert(core == Set("k1", "k2", "k3"))
  }

  test("kcore: entire graph below k yields an empty core") {
    val g = Seq(("a", "b"), ("c", "d")).toDF("src", "dst")
    assert(GraphAnalytics.kcore(g, k = 2, rounds = 8).isEmpty)
  }

  test("connectedComponents: labels each component by its min id") {
    // chain + pair + directed triangle (direction must not matter)
    val g = Seq(("a", "b"), ("b", "c"), ("x", "y"),
      ("p", "q"), ("q", "r"), ("r", "p")).toDF("src", "dst")
    val cc = GraphAnalytics.connectedComponents(g, rounds = 6)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(cc == Map("a" -> "a", "b" -> "a", "c" -> "a",
      "x" -> "x", "y" -> "x", "p" -> "p", "q" -> "p", "r" -> "p"))
  }

  test("connectedComponents: 40-chain converges in log-rounds; extra rounds are no-ops") {
    val g = (1 until 40).map(i => (f"n$i%03d", f"n${i + 1}%03d"))
      .toDF("src", "dst")
    val a = GraphAnalytics.connectedComponents(g, rounds = 6)
      .orderBy("id").collect().toSeq
    // every node reaches the chain head within 6 (neighbor-min + jump)
    // rounds: reach(t) >= 2*(reach(t-1)+1) covers distance 39 at t=5
    assert(a.map(_.getString(1)).distinct == Seq("n001"))
    // running past the fixpoint changes nothing (the oracle contract)
    val b = GraphAnalytics.connectedComponents(g, rounds = 12)
      .orderBy("id").collect().toSeq
    assert(a == b)
  }

  test("triangleCounts: K4 plus a tail — 3 per clique node, tail absent") {
    val vs = Seq("a", "b", "c", "d")
    val k4 = for { x <- vs; y <- vs if x < y } yield (x, y)
    val g = (k4 :+ ("d", "e")).toDF("src", "dst")
    val t = GraphAnalytics.triangleCounts(g)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(t == Map("a" -> 3L, "b" -> 3L, "c" -> 3L, "d" -> 3L))
  }

  test("triangleCounts: reversed and duplicate edges count once") {
    val g = Seq(("a", "b"), ("b", "a"), ("b", "c"), ("c", "a"), ("a", "c"))
      .toDF("src", "dst")
    val t = GraphAnalytics.triangleCounts(g)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(t == Map("a" -> 1L, "b" -> 1L, "c" -> 1L))
  }

  test("triangleCountsAdj equals the wedge-join variant on a dense random graph") {
    val rnd = new scala.util.Random(5)
    val g = Seq.fill(300)((rnd.nextInt(20).toLong, rnd.nextInt(20).toLong))
      .filter { case (a, b) => a != b }
      .toDF("src", "dst")
    val wedge = GraphAnalytics.triangleCounts(g)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val adj = GraphAnalytics.triangleCountsAdj(g)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(wedge.nonEmpty && wedge == adj)
  }

  test("relatedNodes: ranks 2-hop candidates by Jaccard, excludes direct neighbors") {
    // s-{n1,n2}; c-{n1,n2} twin -> 1.0; d-{n1} -> 1/(2+1-1) = 0.5
    val g = Seq(("s", "n1"), ("s", "n2"), ("c", "n1"), ("c", "n2"), ("d", "n1"))
      .toDF("src", "dst")
    val r = GraphAnalytics.relatedNodes(g, "s", k = 10)
      .collect().map(x => (x.getString(0), x.getLong(1), x.getDouble(3))).toSeq
    assert(r == Seq(("c", 2L, 1.0), ("d", 1L, 0.5)))
  }

  test("linkPredTopK: square yields both diagonals at jaccard 1.0, tie-broken by id") {
    // square a-b-c-d-a: candidates are exactly the two diagonals,
    // cn = 2 each, jaccard = 2/(2+2-2) = 1.0; (a,c) sorts before (b,d)
    val g = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("a", "d")).toDF("src", "dst")
    val r = GraphAnalytics.linkPredTopK(g, k = 10)
      .collect().map(x => (x.getString(0), x.getString(1), x.getLong(2), x.getDouble(3))).toSeq
    assert(r == Seq(("a", "c", 2L, 1.0), ("b", "d", 2L, 1.0)))
  }

  test("linkPredTopK: adjacent pairs never surface; k truncates; hub cap excludes centers") {
    // K3: every 2-hop pair is already an edge -> no candidates
    val k3 = Seq(("a", "b"), ("b", "c"), ("a", "c")).toDF("src", "dst")
    assert(GraphAnalytics.linkPredTopK(k3, k = 10).count() == 0L)
    // star h-{x1..x5}: all candidate pairs come from center h; capping
    // h's degree out of generation leaves nothing (leaves have deg 1)
    val star = (1 to 5).map(i => ("h", s"x$i")).toDF("src", "dst")
    assert(GraphAnalytics.linkPredTopK(star, k = 100, maxDeg = 4).count() == 0L)
    val full = GraphAnalytics.linkPredTopK(star, k = 100)
    assert(full.count() == 10L) // C(5,2) leaf pairs
    // k = 1 keeps only the first in the total order
    val top1 = GraphAnalytics.linkPredTopK(star, k = 1)
      .collect().map(x => (x.getString(0), x.getString(1))).toSeq
    assert(top1 == Seq(("x1", "x2")))
  }

  test("linkPredTopK ra: center degree weights the wedge, fixed-point exact") {
    // square a-b-c-d-a: (a,c) has centers b,d of degree 2 each ->
    // ras = 2 * (2^20 div 2) = 2^20 -> ra = 1.0
    val g = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("a", "d")).toDF("src", "dst")
    val r = GraphAnalytics.linkPredTopK(g, k = 10, score = "ra")
      .collect().map(x => (x.getString(0), x.getString(1), x.getLong(2), x.getDouble(3))).toSeq
    assert(r == Seq(("a", "c", 2L, 1.0), ("b", "d", 2L, 1.0)))
    // star h-{x1,x2,x3}: leaf pairs share only the hub (deg 3):
    // ra = (2^20 div 3) / 2^20 = 349525/1048576 = 0.333333 rounded
    val star = Seq(("h", "x1"), ("h", "x2"), ("h", "x3")).toDF("src", "dst")
    val s = GraphAnalytics.linkPredTopK(star, k = 10, score = "ra")
      .collect().map(x => (x.getString(0), x.getString(1), x.getDouble(3))).toSeq
    assert(s == Seq(("x1", "x2", 0.333333), ("x1", "x3", 0.333333),
      ("x2", "x3", 0.333333)))
  }

  test("maximalIndependentSet: independence + maximality invariants") {
    // random graph: the set must be independent; with enough rounds
    // every node is decided and every 'out' node has an 'in' neighbor
    val rnd = new scala.util.Random(7)
    val edges = (1 to 120).map(_ =>
      (s"n${rnd.nextInt(30)}", s"n${rnd.nextInt(30)}"))
      .filter { case (a, b) => a != b }
    val g = edges.toDF("src", "dst")
    val res = GraphAnalytics.maximalIndependentSet(g, rounds = 8)
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2)))
    val byId = res.groupBy(_._1)
    assert(byId.values.forall(_.size == 1), "every node exactly once")
    val inSet = res.filter(_._2 == "in").map(_._1).toSet
    val und = edges.flatMap { case (a, b) => Seq((a, b), (b, a)) }.toSet
    // independence: no edge inside the set
    assert(!und.exists { case (a, b) => inSet(a) && inSet(b) })
    // 8 rounds decide a 30-node graph: nothing undecided, and every
    // out node is adjacent to an in node (maximality)
    assert(!res.exists(_._2 == "undecided"))
    val outs = res.filter(_._2 == "out").map(_._1)
    assert(outs.forall(o => und.exists { case (a, b) => a == o && inSet(b) }))
    // determinism: a second run reproduces the exact rows
    val res2 = GraphAnalytics.maximalIndependentSet(g, rounds = 8)
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2)))
    assert(res.sorted.toSeq == res2.sorted.toSeq)
  }

  test("maximalIndependentSet: single edge decides in round 1") {
    val g = Seq(("a", "b")).toDF("src", "dst")
    val res = GraphAnalytics.maximalIndependentSet(g, rounds = 2)
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2)))
      .sortBy(_._1)
    assert(res.map(_._2).sorted.toSeq == Seq("in", "out"))
    assert(res.forall(_._3 == 1))
  }

  test("triangleCountsAdj: K4 plus a tail") {
    val vs = Seq("a", "b", "c", "d")
    val k4 = for { x <- vs; y <- vs if x < y } yield (x, y)
    val g = (k4 :+ ("d", "e")).toDF("src", "dst")
    val t = GraphAnalytics.triangleCountsAdj(g)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(t == Map("a" -> 3L, "b" -> 3L, "c" -> 3L, "d" -> 3L))
  }

  test("labelPropagation: two cliques joined by a bridge settle to two communities") {
    // cliques {a1,a2,a3} and {b1,b2,b3}, bridge a3-b1. After LPA each
    // clique converges to its min label; the bridge endpoints hear 2
    // votes from their own clique vs 1 from across — clique wins.
    def clique(vs: Seq[String]) = for { x <- vs; y <- vs if x < y } yield (x, y)
    val g = (clique(Seq("a1", "a2", "a3")) ++ clique(Seq("b1", "b2", "b3")) :+
      ("a3", "b1")).toDF("src", "dst")
    val m = GraphAnalytics.labelPropagation(g, rounds = 4)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(Seq("a1", "a2", "a3").map(m).distinct.size == 1)
    assert(Seq("b1", "b2", "b3").map(m).distinct.size == 1)
    assert(m("a1") != m("b1"))
  }

  test("labelPropagation: deterministic across partitionings and rounds-idempotent on a clique") {
    val g = (1 to 30).map(i => (s"n${i % 6}", s"n${(i * 5 + 2) % 6}"))
      .filter { case (a, b) => a != b }.toDF("src", "dst")
    val a = GraphAnalytics.labelPropagation(g.repartition(1), rounds = 4)
      .orderBy("id").collect().toSeq
    val b = GraphAnalytics.labelPropagation(g.repartition(7), rounds = 4)
      .orderBy("id").collect().toSeq
    assert(a == b)
    // a 3-clique reaches the all-min fixpoint by round 3 (round 1 swaps
    // labels pairwise; the min label dominates from round 2); extra
    // rounds past the fixpoint are no-ops
    val k = (for { x <- Seq("x", "y", "z"); y <- Seq("x", "y", "z") if x < y }
      yield (x, y)).toDF("src", "dst")
    val r3 = GraphAnalytics.labelPropagation(k, rounds = 3).orderBy("id").collect().toSeq
    val r5 = GraphAnalytics.labelPropagation(k, rounds = 5).orderBy("id").collect().toSeq
    assert(r3 == r5)
    assert(r3.forall(_.getString(1) == "x"))
  }

  test("ppr: teleport mass concentrates rank around the seeds") {
    // chain x -> y -> z plus unrelated clique; seed = x. Rank must flow
    // x -> y -> z and the unrelated component must stay at zero.
    val g = Seq(("x", "y"), ("y", "z"), ("p", "q"), ("q", "p"))
      .toDF("src", "dst")
    val pr = GraphAnalytics.pprFixedPoint(g, seeds = Seq("x"), iters = 5)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // reachable-from-seed nodes hold all the mass (z, the dangling
    // sink, legitimately accumulates the most — its inflow only leaves
    // via the dangling redistribution back to the seed)
    assert(pr("x") > 0L && pr("y") > 0L && pr("z") > 0L)
    assert(pr("p") == 0L && pr("q") == 0L)
    assert(pr.values.sum <= 1000000000000L) // floor-loss only, never gain
    // deterministic across partitionings
    val a = GraphAnalytics.pprFixedPoint(g.repartition(1), Seq("x"), iters = 5)
      .orderBy("id").collect().toSeq
    val b = GraphAnalytics.pprFixedPoint(g.repartition(7), Seq("x"), iters = 5)
      .orderBy("id").collect().toSeq
    assert(a == b)
  }

  test("ppr: multi-seed splits the teleport mass equally") {
    val g = Seq(("a", "m"), ("b", "m")).toDF("src", "dst")
    val pr = GraphAnalytics.pprFixedPoint(g, seeds = Seq("a", "b"), iters = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(pr("a") == pr("b")) // symmetric seeds, exact integer equality
    assert(pr("m") > 0L)
  }

  test("randomWalks: every emitted step follows an edge, deterministically") {
    val g = Seq(("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"))
      .toDF("src", "dst")
    val edgeSet = Set(("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"))
    val walks = GraphAnalytics.randomWalks(g, steps = 3)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(walks.length == 3) // one walk per node
    walks.foreach { case (wid, path, hops) =>
      val ids = path.split("->").toSeq
      assert(ids.head == wid)
      assert(hops == ids.length - 1)
      ids.sliding(2).foreach { case Seq(u, v) => assert(edgeSet((u, v))) }
    }
    // a cycle never strands the walk: all walks take the full 3 hops
    assert(walks.forall(_._3 == 3L))
    // deterministic across partitionings
    val a = GraphAnalytics.randomWalks(g.repartition(1), steps = 3)
      .orderBy("walk_id").collect().toSeq
    val b = GraphAnalytics.randomWalks(g.repartition(5), steps = 3)
      .orderBy("walk_id").collect().toSeq
    assert(a == b)
  }

  test("randomWalks: a dangling node truncates its walk") {
    val g = Seq(("a", "b")).toDF("src", "dst") // b has no out-edges
    val m = GraphAnalytics.randomWalks(g, steps = 4)
      .collect().map(r => r.getString(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(m("b") == (("b", 0L)))          // stuck at the start
    assert(m("a") == (("a->b", 1L)))       // one hop, then stuck
  }

  test("walkSkipGramPairs emits the brute-force windowed pairs") {
    // hand walks: one 4-node path, one singleton (no pairs)
    val walks = Seq(("w1", "a->b->c->d", 3L), ("w2", "x", 0L))
      .toDF("walk_id", "path", "hops")
    val got = GraphAnalytics.walkSkipGramPairs(walks, window = 2)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    // brute force over positions |i-j| <= 2, i != j
    val path = Seq("a", "b", "c", "d")
    val want = (for {
      i <- path.indices; j <- path.indices
      if i != j && math.abs(i - j) <= 2
    } yield (path(i), path(j))).groupBy(identity).view
      .mapValues(_.size.toLong).toMap
    assert(got == want)
    assert(!got.keys.exists { case (c, x) => c == "x" || x == "x" })
  }

  test("hitsFixedPoint: bipartite hubs/authorities separate; deterministic") {
    // h1,h2 point at a1..a3: h-side must score as pure hubs, a-side as
    // pure authorities; h3 points only at h1 (a weaker hub whose
    // target is not an authority hub-side)
    val g = (for { h <- Seq("h1", "h2"); a <- Seq("a1", "a2", "a3") }
      yield (h, a)) :+ (("h3", "h1"))
    val df = g.toDF("src", "dst")
    val r = GraphAnalytics.hitsFixedPoint(df, iters = 4)
      .collect().map(x => x.getString(0) -> (x.getLong(1), x.getLong(2)))
      .toMap
    // a-side: zero hub score (no out-edges), symmetric authority
    assert(Seq("a1", "a2", "a3").forall(a => r(a)._1 == 0L))
    assert(r("a1")._2 == r("a2")._2 && r("a2")._2 == r("a3")._2)
    assert(r("a1")._2 > 0L)
    // h1/h2: equal dominant hubs; h3's hub rides only h1's authority,
    // which is tiny -> strictly smaller
    assert(r("h1")._1 == r("h2")._1 && r("h1")._1 > r("h3")._1)
    // deterministic across partitionings
    val b = GraphAnalytics.hitsFixedPoint(df.repartition(5), iters = 4)
      .orderBy("id").collect().map(_.toSeq).toSeq
    val a = GraphAnalytics.hitsFixedPoint(df.repartition(1), iters = 4)
      .orderBy("id").collect().map(_.toSeq).toSeq
    assert(a == b)
  }

  test("pagerankWeighted: weight-proportional shares; w=1 reduces to unweighted") {
    // a splits rank 3:1 between b and c
    val g = Seq(("a", "b", 3L), ("a", "c", 1L)).toDF("src", "dst", "w")
    val pr = GraphAnalytics.pagerankWeighted(g, iters = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(pr("b") > pr("c"))
    assert(pr.values.sum > 900000000000L && pr.values.sum <= 1000000000000L)
    // all-ones weights must match the unweighted operator exactly
    val pairs = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"))
    val w1 = GraphAnalytics.pagerankWeighted(
        pairs.map { case (s, d) => (s, d, 1L) }.toDF("src", "dst", "w"),
        iters = 4)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val u = GraphAnalytics.pagerankFixedPoint(
        pairs.toDF("src", "dst"), iters = 4)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(w1 == u)
  }

  test("ktruss: K5 survives 4-truss peeling, a triangle and a pendant do not") {
    // K5 on 1..5 (every edge has 3 common neighbors), a separate
    // triangle 10-11-12 (support 1), and a pendant edge 5-6 (support 0)
    val k5 = for { i <- 1 to 5; j <- (i + 1) to 5 } yield (s"n$i", s"n$j")
    val g = (k5 ++ Seq(("t10", "t11"), ("t10", "t12"), ("t11", "t12"),
      ("n5", "x6"))).toDF("src", "dst")
    val t4 = GraphAnalytics.ktruss(g, k = 4, rounds = 3)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    assert(t4.keySet == k5.toSet)          // exactly the K5 edges
    assert(t4.values.forall(_ == 3L))      // each closes 3 triangles
    // k=3 keeps the triangle too (support 1 >= 1), still not the pendant
    val t3 = GraphAnalytics.ktruss(g, k = 3, rounds = 3)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(t3 == k5.toSet ++ Set(("t10", "t11"), ("t10", "t12"), ("t11", "t12")))
    // cascade: a triangle fan sharing one edge — peeling the weak edges
    // must NOT happen for k=4 when the shared edge's support comes from
    // multiple fan triangles, but each fan edge itself has support 1
    val fan = Seq(("a", "b"), ("a", "c"), ("b", "c"), ("a", "d"), ("b", "d"))
      .toDF("src", "dst") // two triangles abc, abd sharing edge ab
    val f4 = GraphAnalytics.ktruss(fan, k = 4, rounds = 3).collect()
    // every edge except ab has support 1 -> peels; then ab alone has 0
    assert(f4.isEmpty)
  }

  test("harmonicFromSeeds: per-depth counts and Σ1/d on a known graph") {
    // path a-b-c-d (undirected) plus a separate pair e-f
    val g = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("e", "f"))
      .toDF("src", "dst")
    val got = GraphAnalytics.harmonicFromSeeds(
        g, seeds = Seq("a", "d", "e"), maxDepth = 3)
      .collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)), r.getLong(4),
          r.getDouble(5)))
      .toMap
    // from a: b@1 c@2 d@3; from d: c@1 b@2 a@3; from e: f@1.
    // d(seed,seed)=0 rows are excluded by definition.
    assert(got.keySet == Set("a", "b", "c", "d", "f"))
    assert(got("b") == (((1L, 1L, 0L), 2L, 1.5)))   // 1/1 (a) + 1/2 (d)
    assert(got("c") == (((1L, 1L, 0L), 2L, 1.5)))   // 1/1 (d) + 1/2 (a)
    assert(got("a") == (((0L, 0L, 1L), 1L, 0.333333))) // 1/3 (d)
    assert(got("d") == (((0L, 0L, 1L), 1L, 0.333333))) // 1/3 (a)
    assert(got("f") == (((1L, 0L, 0L), 1L, 1.0)))      // 1/1 (e)
    // deterministic across partitionings
    val b5 = GraphAnalytics.harmonicFromSeeds(
        g.repartition(5), seeds = Seq("a", "d", "e"), maxDepth = 3)
      .orderBy("id").collect().map(_.toSeq).toSeq
    val b1 = GraphAnalytics.harmonicFromSeeds(
        g.repartition(1), seeds = Seq("a", "d", "e"), maxDepth = 3)
      .orderBy("id").collect().map(_.toSeq).toSeq
    assert(b5 == b1)
  }

  test("modularity counts self-loop degrees like the oracle's degree table") {
    // triangle {a,b,c} + self-loop (d,d) + edge (d,e). canon (a < b)
    // drops the self-loop from m/intra on both engines, but the
    // oracle's dg CTE still counts deg(d) = 2 ((d,d) and (d,e) rows of
    // g0) — the engine must match. Hand computation: LPA(4) →
    // communities {a,b,c} (label a) and {d,e} (label d, the self-edge
    // vote keeps d on its own label in round 1); m = 4, intra = 4,
    // D = 6 and 3 → B = 45; Q = (4·4·4 − 45)/(4·16) = 19/64.
    val g = Seq(("a", "b"), ("b", "c"), ("a", "c"), ("d", "d"), ("d", "e"))
      .toDF("src", "dst")
    val row = GraphAnalytics.modularity(g, rounds = 4).head()
    assert(row.getLong(0) == 4L)  // m
    assert(row.getLong(1) == 4L)  // intra_edges
    assert(row.getDouble(2) == 0.296875)
  }

  test("stressFromSeeds: σ·g on a path and on a diamond (hand-computed)") {
    // path a-b-c-d, seeds {a, d}: from a the DAG is a→b→c→d with
    // g(b)=2 (paths b→c, b→c→d), g(c)=1 → stress b=1·2, c=1·1;
    // from d symmetric (c=2, b=1). Endpoints are never interior.
    val path = Seq(("a", "b"), ("b", "c"), ("c", "d")).toDF("src", "dst")
    val got = GraphAnalytics.stressFromSeeds(path, Seq("a", "d"), maxDepth = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("a" -> 0L, "b" -> 3L, "c" -> 3L, "d" -> 0L))
    // diamond a-{b1,b2}-c: two shortest a→c paths, one through each
    // b — σ(c)=2 but c is never interior; each b carries exactly one
    val diamond = Seq(("a", "b1"), ("a", "b2"), ("b1", "c"), ("b2", "c"))
      .toDF("src", "dst")
    val g2 = GraphAnalytics.stressFromSeeds(diamond, Seq("a"), maxDepth = 2)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(g2 == Map("b1" -> 1L, "b2" -> 1L, "c" -> 0L))
    // σ multiplies through interior chains: diamond + tail c-e, depth 3
    // g(b_i) = (g(c)+1) = 2, stress(b_i) = 2; stress(c) = σ(c)·g(c) = 2
    val tailed = diamond.union(Seq(("c", "e")).toDF("src", "dst"))
    val g3 = GraphAnalytics.stressFromSeeds(tailed, Seq("a"), maxDepth = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(g3 == Map("b1" -> 2L, "b2" -> 2L, "c" -> 2L, "e" -> 0L))
    // deterministic across partitionings
    val s5 = GraphAnalytics.stressFromSeeds(tailed.repartition(5),
      Seq("a"), maxDepth = 3).orderBy("id").collect().map(_.toSeq).toSeq
    val s1 = GraphAnalytics.stressFromSeeds(tailed.repartition(1),
      Seq("a"), maxDepth = 3).orderBy("id").collect().map(_.toSeq).toSeq
    assert(s5 == s1)
  }

  test("localClustering: triangle 1.0, path interior 0, K4-with-tail exact") {
    // K3: every node has deg 2, 1 triangle -> coeff = scale exactly
    val k3 = Seq(("a", "b"), ("b", "c"), ("a", "c")).toDF("src", "dst")
    val c3 = GraphAnalytics.localClustering(k3)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(c3 == Map("a" -> (2L, 1L, 1000000000L),
      "b" -> (2L, 1L, 1000000000L), "c" -> (2L, 1L, 1000000000L)))
    // path a-b-c: interior deg 2 no triangle -> 0; endpoints deg 1 -> 0
    val path = Seq(("a", "b"), ("b", "c")).toDF("src", "dst")
    val cp = GraphAnalytics.localClustering(path)
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(cp == Map("a" -> 0L, "b" -> 0L, "c" -> 0L))
    // K4 + tail d-e: clique nodes a,b,c coeff 1; d has deg 4, 3
    // triangles -> 2*3/(4*3) = 0.5; e deg 1 -> 0
    val vs = Seq("a", "b", "c", "d")
    val k4 = for { x <- vs; y <- vs if x < y } yield (x, y)
    val g = (k4 :+ ("d", "e")).toDF("src", "dst")
    val c4 = GraphAnalytics.localClustering(g)
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(c4 == Map("a" -> 1000000000L, "b" -> 1000000000L,
      "c" -> 1000000000L, "d" -> 500000000L, "e" -> 0L))
  }

  test("greedyColoring: proper coloring, deterministic, horizon-capped") {
    val rnd = new scala.util.Random(11)
    val edges = (1 to 150).map(_ =>
      (s"n${rnd.nextInt(25)}", s"n${rnd.nextInt(25)}"))
      .filter { case (a, b) => a != b }
    val g = edges.toDF("src", "dst")
    val res = GraphAnalytics.greedyColoring(g, rounds = 25)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2)))
    assert(res.groupBy(_._1).values.forall(_.size == 1), "each node once")
    // enough rounds: everything colored
    assert(res.forall(_._3 == "colored"))
    val color = res.map(t => t._1 -> t._2).toMap
    // proper: no edge is monochromatic
    assert(!edges.exists { case (a, b) => color(a) == color(b) })
    // deterministic
    val res2 = GraphAnalytics.greedyColoring(g, rounds = 25)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2)))
    assert(res.sorted.toSeq == res2.sorted.toSeq)
    // horizon: 1 round on a path colors the local minima only, rest
    // report uncolored with color 0
    val path = Seq(("a", "b"), ("b", "c"), ("c", "d")).toDF("src", "dst")
    val r1 = GraphAnalytics.greedyColoring(path, rounds = 1)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2)))
    assert(r1.exists(_._3 == "uncolored"))
    assert(r1.filter(_._3 == "uncolored").forall(_._2 == 0))
    assert(r1.filter(_._3 == "colored").forall(_._2 == 1))
  }

  test("louvainOneLevel: barbell splits into its two cliques; deterministic") {
    // two K4s joined by one bridge edge — the canonical community
    // fixture. After enough synchronous rounds each clique coalesces
    // onto one community and the two differ.
    val left = Seq("a1", "a2", "a3", "a4")
    val right = Seq("b1", "b2", "b3", "b4")
    def clique(vs: Seq[String]) =
      for { x <- vs; y <- vs if x < y } yield (x, y)
    val g = (clique(left) ++ clique(right) :+ ("a1", "b1"))
      .toDF("src", "dst")
    val res = GraphAnalytics.louvainOneLevel(g, rounds = 4)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(res.keySet == (left ++ right).toSet)
    val lc = left.map(res).distinct
    val rc = right.map(res).distinct
    assert(lc.size == 1, s"left clique one community: $res")
    assert(rc.size == 1, s"right clique one community: $res")
    assert(lc.head != rc.head, "cliques are distinct communities")
    // deterministic across partitionings (integer scores)
    val p1 = GraphAnalytics.louvainOneLevel(g.repartition(1), rounds = 4)
      .orderBy("id").collect().map(_.toSeq).toSeq
    val p7 = GraphAnalytics.louvainOneLevel(g.repartition(7), rounds = 4)
      .orderBy("id").collect().map(_.toSeq).toSeq
    assert(p1 == p7)
    // degree-mass penalty: a star stays centered (hub + leaves one
    // community is fine) but two stars bridged must NOT merge
    val s1 = (1 to 5).map(i => ("h1", s"x$i"))
    val s2 = (1 to 5).map(i => ("h2", s"y$i"))
    val gs = (s1 ++ s2 :+ ("h1", "h2")).toDF("src", "dst")
    val rs = GraphAnalytics.louvainOneLevel(gs, rounds = 4)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(rs("x1") != rs("y1"), "bridged stars keep separate communities")
  }

  test("betweennessFromSeeds: randomized brute-force Brandes equivalence") {
    // The graph_msf verification pattern: the entry has no SQL oracle
    // (float dependency sums are order-sensitive), so pin its values
    // against an in-memory reference Brandes on random graphs.
    val rnd = new scala.util.Random(20260815)
    for (trial <- 1 to 3) {
      val n = 12 + rnd.nextInt(6)
      val edges = (1 to 40).map(_ =>
          (s"v${rnd.nextInt(n)}", s"v${rnd.nextInt(n)}"))
        .filter { case (a, b) => a != b }.distinct
      val seeds = Seq.fill(3)(s"v${rnd.nextInt(n)}").distinct
      val maxDepth = 1 + rnd.nextInt(4)
      val got = GraphAnalytics.betweennessFromSeeds(
          edges.toDF("src", "dst"), seeds, maxDepth)
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      // reference Brandes on the undirected view, depth-truncated
      val adj = (edges ++ edges.map(_.swap)).distinct
        .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sorted }
        .withDefaultValue(Seq.empty)
      val want = scala.collection.mutable.Map.empty[String, Double]
        .withDefaultValue(0.0)
      val reached = scala.collection.mutable.Set.empty[String]
      for (s <- seeds) {
        val dist = scala.collection.mutable.Map(s -> 0)
        val sigma = scala.collection.mutable.Map(s -> 1.0)
          .withDefaultValue(0.0)
        var frontier = Seq(s)
        var d = 0
        while (frontier.nonEmpty && d < maxDepth) {
          d += 1
          val nxt = scala.collection.mutable.Map.empty[String, Double]
          for (u <- frontier; v <- adj(u) if !dist.contains(v))
            nxt(v) = nxt.getOrElse(v, 0.0) + sigma(u)
          frontier = nxt.keys.toSeq.sorted
          for ((v, sg) <- nxt) { dist(v) = d; sigma(v) = sg }
        }
        reached ++= dist.keys.filter(_ != s)
        val delta = scala.collection.mutable.Map.empty[String, Double]
          .withDefaultValue(0.0)
        for (v <- dist.keys.toSeq.sortBy(dist).reverse if dist(v) >= 1) {
          for (w <- adj(v) if dist.get(w).contains(dist(v) + 1))
            delta(v) += sigma(v) / sigma(w) * (1.0 + delta(w))
          want(v) += delta(v)
        }
        // seed-level nodes at depth 0 excluded; nodes AT the horizon
        // have delta 0 but are reported (reached, zero interior role)
      }
      assert(got.keySet == reached.toSet,
        s"trial $trial: reached sets differ: ${got.keySet} vs $reached")
      for (v <- reached)
        assert(math.abs(got(v) - want(v)) < 1e-6,
          s"trial $trial node $v: got ${got(v)} want ${want(v)}")
    }
  }

  test("louvainTwoLevel: ring of triangles — level 2 merges what level 1 cannot") {
    // The resolution-limit fixture (Fortunato & Barthélemy 2007): a
    // ring of 10 triangles joined by single bridges. Level 1 finds the
    // 10 triangles (no single-node move can merge two of them), but
    // modularity INCREASES when adjacent triangles merge once the ring
    // is long enough (2m·e12 > k1·k2 ⟺ 8r > 64 ⟺ r > 8) — a move only
    // the contracted meta-graph pass can make.
    val n = 10
    val tri = (0 until n).flatMap { i =>
      Seq((s"t${i}a", s"t${i}b"), (s"t${i}b", s"t${i}c"),
        (s"t${i}a", s"t${i}c"))
    }
    val bridges = (0 until n).map(i => (s"t${i}c", s"t${(i + 1) % n}a"))
    val g = (tri ++ bridges).toDF("src", "dst")
    val l1 = GraphAnalytics.louvainOneLevel(g, rounds = 6)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    // level 1: each triangle is one community; 10 distinct communities
    for (i <- 0 until n)
      assert(Set(l1(s"t${i}a"), l1(s"t${i}b"), l1(s"t${i}c")).size == 1,
        s"triangle $i coalesced at level 1")
    assert(l1.values.toSet.size == n, s"level 1 = $n communities")
    val l2 = GraphAnalytics.louvainTwoLevel(g, rounds1 = 6, rounds2 = 4)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    // level 2 must not SPLIT a triangle...
    for (i <- 0 until n)
      assert(Set(l2(s"t${i}a"), l2(s"t${i}b"), l2(s"t${i}c")).size == 1,
        s"triangle $i intact at level 2")
    // ...and must MERGE at least one adjacent pair
    val nComm2 = l2.values.toSet.size
    assert(nComm2 < n, s"level 2 merged triangles: $nComm2 < $n")
    // merged groups are contiguous arcs of the ring: every community's
    // triangle set, if > 1 triangle, contains an adjacent pair
    val byComm = (0 until n).groupBy(i => l2(s"t${i}a"))
    for ((c, tris) <- byComm if tris.size > 1)
      assert(tris.exists(i => tris.contains((i + 1) % n) ||
        tris.contains((i + n - 1) % n)),
        s"community $c = $tris holds ring-adjacent triangles")
    // deterministic across partitionings (integer scores + md5 parity)
    val p1 = GraphAnalytics.louvainTwoLevel(g.repartition(1),
      rounds1 = 6, rounds2 = 4).orderBy("id").collect().map(_.toSeq).toSeq
    val p7 = GraphAnalytics.louvainTwoLevel(g.repartition(7),
      rounds1 = 6, rounds2 = 4).orderBy("id").collect().map(_.toSeq).toSeq
    assert(p1 == p7)
    // the DRIVER FINISHER and the distributed meta rounds are the same
    // function: forcing the fallback (metaDriverMax = 0) must replay
    // the identical labels (BigInt score ≡ DECIMAL(38,0), local md5
    // parity ≡ Sketches.hash32, first-in-sorted-order ≡ min-struct)
    val dist = GraphAnalytics.louvainTwoLevel(g, rounds1 = 6, rounds2 = 4,
      metaDriverMax = 0L).orderBy("id").collect().map(_.toSeq).toSeq
    assert(dist == p1)
    // the STAY candidate: a 2-clique barbell must NOT merge at level 2
    // (merging two equal K4s across one bridge lowers modularity —
    // without the stay candidate the meta-pass would swap/merge them)
    val left = Seq("a1", "a2", "a3", "a4")
    val right = Seq("b1", "b2", "b3", "b4")
    def clique(vs: Seq[String]) =
      for { x <- vs; y <- vs if x < y } yield (x, y)
    val barbell = (clique(left) ++ clique(right) :+ ("a1", "b1"))
      .toDF("src", "dst")
    val rb = GraphAnalytics.louvainTwoLevel(barbell, rounds1 = 4,
      rounds2 = 4).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(rb("a1") != rb("b1"), "equal cliques stay separate at level 2")
    assert(left.map(rb).distinct.size == 1 &&
      right.map(rb).distinct.size == 1)
  }

  test("louvainLevels: ring of 40 triangles — level 3 merges what level 2 cannot") {
    // Deeper resolution-limit fixture: with r = 40 triangles
    // (m = 160, 2m = 320) merging single triangles pays at level 2
    // (320 > 8·8) and merging triangle-ARCS still pays at level 3
    // (320 > 16·16 for pairs), while the two-level pass stops at
    // whatever arcs its 4 meta rounds reach — the hierarchy only the
    // contract-then-move LOOP can descend.
    val n = 40
    val tri = (0 until n).flatMap { i =>
      Seq((s"t${i}a", s"t${i}b"), (s"t${i}b", s"t${i}c"),
        (s"t${i}a", s"t${i}c"))
    }
    val bridges = (0 until n).map(i => (s"t${i}c", s"t${(i + 1) % n}a"))
    val g = (tri ++ bridges).toDF("src", "dst")
    def comms(df: org.apache.spark.sql.DataFrame): Map[String, String] =
      df.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val l2 = comms(GraphAnalytics.louvainTwoLevel(g, rounds1 = 8, rounds2 = 4))
    val l3 = comms(GraphAnalytics.louvainLevels(g, rounds1 = 8,
      roundsMeta = 4, maxLevels = 3))
    // the load-bearing claim: the THIRD contract-then-move level finds
    // merges the two-level pass cannot — strictly fewer communities.
    // (On a 40-ring the half-move schedule can legitimately leave a
    // boundary node attached to the neighboring arc, so exact
    // arc-partition shape is NOT asserted — only the hierarchy depth.)
    val n2 = l2.values.toSet.size
    val n3 = l3.values.toSet.size
    assert(n2 < n, s"level 2 merged something: $n2 < $n")
    assert(n3 < n2, s"level 3 merged beyond level 2: $n3 < $n2")
    // maxLevels = 2 IS louvainTwoLevel (the wrapper is the same code)
    val two = GraphAnalytics.louvainLevels(g, rounds1 = 8, roundsMeta = 4,
      maxLevels = 2).orderBy("id").collect().map(_.toSeq).toSeq
    val tl = GraphAnalytics.louvainTwoLevel(g, rounds1 = 8, rounds2 = 4)
      .orderBy("id").collect().map(_.toSeq).toSeq
    assert(two == tl)
    // deterministic across partitionings; driver finisher ≡ distributed
    val p1 = GraphAnalytics.louvainLevels(g.repartition(1), rounds1 = 8,
      roundsMeta = 4, maxLevels = 3).orderBy("id").collect().map(_.toSeq).toSeq
    val p7 = GraphAnalytics.louvainLevels(g.repartition(7), rounds1 = 8,
      roundsMeta = 4, maxLevels = 3).orderBy("id").collect().map(_.toSeq).toSeq
    val dist = GraphAnalytics.louvainLevels(g, rounds1 = 8, roundsMeta = 4,
      maxLevels = 3, metaDriverMax = 0L).orderBy("id").collect().map(_.toSeq).toSeq
    assert(p1 == p7 && dist == p1)
    // EARLY EXIT: on the equal-clique barbell level 2 moves nothing
    // (the STAY candidate holds both cliques), so maxLevels = 3 must
    // return the two-level answer — the fixpoint loop stopped
    val left = Seq("a1", "a2", "a3", "a4")
    val right = Seq("b1", "b2", "b3", "b4")
    def clique(vs: Seq[String]) =
      for { x <- vs; y <- vs if x < y } yield (x, y)
    val barbell = (clique(left) ++ clique(right) :+ ("a1", "b1"))
      .toDF("src", "dst")
    val b3 = GraphAnalytics.louvainLevels(barbell, rounds1 = 4,
      roundsMeta = 4, maxLevels = 3).orderBy("id").collect().map(_.toSeq).toSeq
    val b2 = GraphAnalytics.louvainTwoLevel(barbell, rounds1 = 4,
      rounds2 = 4).orderBy("id").collect().map(_.toSeq).toSeq
    assert(b3 == b2)
  }

  test("featureProp: mean aggregation exact on a star; deterministic") {
    // star h-{x1,x2,x3}: deg h=3, leaves 1. h0: h=3M, x=1M.
    // iter1: h(h) = (3M + 3*1M) div 4 = 1.5M
    //        h(x) = (1M + 3M) div 2 = 2M
    // iter2: h(h) = (1.5M + 3*2M) div 4 = 1875000
    //        h(x) = (2M + 1.5M) div 2 = 1750000
    val g = Seq(("h", "x1"), ("h", "x2"), ("h", "x3")).toDF("src", "dst")
    val r = GraphAnalytics.featureProp(g, iters = 2)
      .collect().map(x => x.getString(0) -> (x.getLong(1), x.getLong(2))).toMap
    assert(r == Map("h" -> (3L, 1875000L), "x1" -> (1L, 1750000L),
      "x2" -> (1L, 1750000L), "x3" -> (1L, 1750000L)))
    // deterministic across partitionings (integer sums)
    val big = (1 to 60).map(i => (s"n${i % 11}", s"n${(5 * i + 2) % 11}"))
      .filter { case (a, b) => a != b }.toDF("src", "dst")
    val p1 = GraphAnalytics.featureProp(big.repartition(1), iters = 3)
      .orderBy("id").collect().map(_.toSeq).toSeq
    val p9 = GraphAnalytics.featureProp(big.repartition(9), iters = 3)
      .orderBy("id").collect().map(_.toSeq).toSeq
    assert(p1 == p9)
  }

  test("coreness agrees with kcore: {v : coreness(v) >= k} == k-core survivors") {
    // pseudo-random graph, deterministic; enough rounds for both to
    // reach their fixpoints
    val edges = (1 to 300).map(i =>
      (s"n${(i * 37) % 40}", s"n${(i * 53 + 11) % 40}"))
      .filter { case (a, b) => a != b }.toDF("src", "dst")
    val core = GraphAnalytics.coreness(edges, rounds = 12)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    for (k <- Seq(2, 3, 4)) {
      val survivors = GraphAnalytics.kcore(edges, k = k, rounds = 12)
        .collect().map(_.getString(0)).toSet
      val byCoreness = core.filter(_._2 >= k).keySet
      assert(byCoreness == survivors, s"k=$k")
    }
  }

  test("coreness: h-index fixed point reaches the exact core numbers") {
    // K4 clique {a,b,c,d} (coreness 3); bridge d-e-f keeps e at
    // coreness 2 (degree never drops below 2 during peeling);
    // triangle {f,g,h} (coreness 2); pendant a-t (coreness 1)
    val g = Seq(("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"),
      ("c", "d"), ("d", "e"), ("e", "f"), ("f", "g"), ("f", "h"), ("g", "h"),
      ("a", "t")).toDF("src", "dst")
    val r = GraphAnalytics.coreness(g, rounds = 6)
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(r == Map("a" -> 3L, "b" -> 3L, "c" -> 3L, "d" -> 3L,
      "e" -> 2L, "f" -> 2L, "g" -> 2L, "h" -> 2L, "t" -> 1L))
    // extra rounds past the fixpoint change nothing (the oracle contract)
    val more = GraphAnalytics.coreness(g, rounds = 9)
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(more == r)
    // deterministic across partitionings
    val p1 = GraphAnalytics.coreness(g.repartition(1), rounds = 4)
      .orderBy("id").collect().map(_.toSeq).toSeq
    val p9 = GraphAnalytics.coreness(g.repartition(9), rounds = 4)
      .orderBy("id").collect().map(_.toSeq).toSeq
    assert(p1 == p9)
  }

  test("kcore, connectedComponents and coreness leave only the frames their output reads") {
    import org.apache.spark.graft.StoredBlocks
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.LogicalRDD
    // a 4-clique with a 5-node pendant path (five peel rounds at k = 2)
    // and a separate triangle
    val pairs = (for (a <- 0 to 3; b <- a + 1 to 3) yield (s"c$a", s"c$b")) ++
      (0 to 4).map(i => (if (i == 0) "c0" else s"p${i - 1}", s"p$i")) ++
      Seq(("t0", "t1"), ("t1", "t2"), ("t2", "t0"))
    val raw = pairs.toDF("src", "dst")
    val und = pairs.flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .toDF("src", "dst").persist()
    und.count()
    // MSF reads weighted edges; the weights tie, so (a, b) order decides
    def msf(e: DataFrame, tail: Long, meta: Long) =
      GraphAnalytics.minimumSpanningForest(e.withColumn("w", lit(1L)),
        driverTailMax = tail, metaDriverMax = meta)
    val loops = Seq[(String, (DataFrame, Boolean) => DataFrame)](
      "kcore" -> ((e, u) => GraphAnalytics.kcore(e, k = 2, rounds = 8,
        undirectedPairs = u)),
      "connectedComponents" -> ((e, u) => GraphAnalytics.connectedComponents(
        e, rounds = 6, undirectedPairs = u)),
      "coreness" -> ((e, u) => GraphAnalytics.coreness(e, rounds = 12,
        undirectedPairs = u)),
      "maximalIndependentSet" -> ((e, u) => GraphAnalytics.maximalIndependentSet(
        e, rounds = 4, undirectedPairs = u)),
      "greedyColoring" -> ((e, u) => GraphAnalytics.greedyColoring(e,
        rounds = 6, undirectedPairs = u)),
      "randomWalks" -> ((e, u) => GraphAnalytics.randomWalks(e, steps = 3,
        pairsDistinct = u)),
      "louvainOneLevel" -> ((e, u) => GraphAnalytics.louvainOneLevel(e,
        rounds = 3, undirectedPairs = u)),
      // the meta rounds on the driver, then distributed
      "louvainLevels" -> ((e, u) => GraphAnalytics.louvainLevels(e,
        rounds1 = 3, roundsMeta = 3, undirectedPairs = u)),
      "louvainLevels at metaDriverMax = 0" -> ((e, u) =>
        GraphAnalytics.louvainLevels(e, rounds1 = 3, roundsMeta = 3,
          undirectedPairs = u, metaDriverMax = 0L)),
      // the whole-graph driver tail; distributed rounds with the driver
      // contraction; distributed rounds with the components kernel
      "minimumSpanningForest" -> ((e, _) => msf(e, 1000000L, 1000000L)),
      "minimumSpanningForest at driverTailMax = 0" -> ((e, _) =>
        msf(e, 0L, 1000000L)),
      "minimumSpanningForest at driverTailMax = 0, metaDriverMax = 0" ->
        ((e, _) => msf(e, 0L, 0L)))
    try {
      for ((name, run) <- loops; (input, edges, u) <-
             Seq(("raw", raw, false), ("persisted", und, true))) {
        val before = StoredBlocks.rddBlocks().keySet
        val out = run(edges, u)
        // the output reads checkpointed frames only: the final frame of a
        // loop that converges on this graph before its last round, every
        // round's state frame of the Luby loops, the last frame of each
        // Louvain level, every round's chosen edges of MSF; besides them,
        // MSF's Kruskal tail is a frame built on the driver
        val reads = out.queryExecution.analyzed
          .collect { case lr: LogicalRDD => lr.rdd }
        val frames = reads.filterNot(r => name.startsWith("minimumSpanningForest") &&
          StoredBlocks.driverBuilt(r))
        assert(reads.nonEmpty && frames.forall(_.isCheckpointed), s"$name on $input")
        assert(out.collect().nonEmpty)
        // counted from the block manager, after the output's action: a
        // frame the output does not read holds no block, one it reads
        // holds every partition
        val stored = StoredBlocks.rddBlocks()
        val left = stored.keySet -- before
        assert(left.subsetOf(frames.map(_.id).toSet),
          s"$name on $input pairs left ${(left -- frames.map(_.id)).size} frames it does not read")
        assert(frames.forall(r => stored.get(r.id).contains(r.partitions.length)),
          s"$name on $input pairs reads a released frame")
      }
    } finally und.unpersist(blocking = true)
  }
}
