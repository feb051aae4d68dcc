package graftbench

import org.scalatest.funsuite.AnyFunSuite

/** The report's arithmetic and the seeded generators, on synthetic
  * inputs: no Spark session, no engine.
  */
class HarnessSpec extends AnyFunSuite {

  test("tail: the highest percentile with at least ten samples above it") {
    val xs = (1 to 40).map(_.toDouble)
    val t = Stats.tail(xs)
    assert(t.value == 30.0 && t.n == 40 && t.percentile == 75.0)
    assert(xs.count(_ > t.value) == 10)
    // eleven samples: rank 1 is the only one with ten above it
    assert(Stats.tail((1 to 11).map(_.toDouble)).value == 1.0)
    // ten or fewer: no percentile qualifies, the maximum is reported as p100
    val few = Stats.tail(Seq(3.0, 1.0, 2.0))
    assert(few.value == 3.0 && few.percentile == 100.0 && few.n == 3)
    // order of arrival does not matter
    assert(Stats.tail(scala.util.Random.shuffle(xs)) == t)
  }

  test("median and quantiles interpolate like the reference definition") {
    assert(Stats.median(Seq(5.0, 1.0, 3.0)) == 3.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.quantile(Seq(0.0, 10.0), 0.25) == 2.5)
  }

  test("driver gap: window minus the union of stage intervals inside it") {
    // no stages: the whole window is gap
    assert(Stats.gap(Nil, 100, 200) == 100)
    // overlapping stages count once: [110,150) ∪ [140,160) = 50
    assert(Stats.gap(Seq((110L, 150L), (140L, 160L)), 100, 200) == 50)
    // nested and duplicate intervals
    assert(Stats.gap(Seq((120L, 180L), (130L, 140L), (120L, 180L)), 100, 200) == 40)
    // stages straddling the window edges are clipped to it
    assert(Stats.gap(Seq((50L, 120L), (190L, 260L)), 100, 200) == 70)
    // stages wholly outside the window do not count
    assert(Stats.gap(Seq((0L, 90L), (210L, 300L)), 100, 200) == 100)
    // disjoint, unsorted
    assert(Stats.covered(Seq((170L, 180L), (100L, 110L), (140L, 145L)), 0, 1000) == 25)
    // a fully busy window has no gap
    assert(Stats.gap(Seq((90L, 210L)), 100, 200) == 0)
  }

  test("self time: duration minus the part the direct children cover") {
    val spans = Seq(
      Span(0, "op", 0, -1, 0, 100),
      Span(1, "client", 0, 0, 10, 40),
      Span(2, "replay", 0, 0, 40, 95),
      Span(3, "store", 0, 2, 45, 60),
      Span(4, "query", 0, 2, 55, 90), // overlaps its sibling by 5
      Span(5, "inner", 0, 4, 60, 70))
    val self = Tracer.selfTimes(spans)
    assert(self(0) == 100 - 85)
    assert(self(1) == 30)
    assert(self(2) == 55 - 45)
    assert(self(3) == 15 && self(4) == 35 - 10 && self(5) == 10)
    // self times of one operation add up to its root's wall time when
    // children do not overlap; the overlap is the only double count
    assert(self.values.sum == 100 + 5)
  }

  test("coverage: layer self time inside the containers over their wall time") {
    val spans = Seq(
      Span(0, "op", 0, -1, 0, 200),
      Span(1, "client", 0, 0, 0, 100), // outside every container
      Span(2, "replay", 0, 0, 100, 200),
      Span(3, "api.parse", 0, 2, 100, 110),
      Span(4, "store.current_graph", 0, 2, 110, 150),
      Span(5, "graph.inner", 0, 4, 120, 130), // nested: counted once
      Span(6, "collect", 0, 2, 150, 170), // harness step: not a layer
      Span(7, "api.render", 0, 2, 170, 190),
      Span(8, "api.parse", 1, -1, 300, 400)) // a layer span in no container
    val replay = (s: Span) => s.name == "replay"
    // 10 + (40 - 10) + 10 + 20 of the replay's 100
    assert(Tracer.coverage(spans, replay) == 0.7)
    assert(Tracer.coverage(spans, _ => false) == 0.0)
    assert(Tracer.isLayer("query.resolve") && !Tracer.isLayer("client"))
  }

  test("tracer: nesting, op ids, and a disabled tracer records nothing") {
    val t = new Tracer(true)
    t.op("a") { t.span("x") { t.span("y")(()) } }
    t.op("b") { t.span("x")(()) }
    val s = t.spans
    assert(s.map(_.name) == Seq("a", "x", "y", "b", "x"))
    assert(s.map(_.op) == Seq(0, 0, 0, 1, 1))
    assert(s.map(_.parent) == Seq(-1, 0, 1, -1, 3))
    assert(s.forall(x => x.end >= x.start))
    val off = new Tracer(false)
    assert(off.op("a")(off.span("x")(7)) == 7 && off.spans.isEmpty)
  }

  private val names = (1 to 300).map(i => f"fn$i%03d")

  test("requests: the same seed gives the same list, another seed another") {
    val a = Gen.requests(42, names, 500)
    assert(a == Gen.requests(42, names.reverse, 500))
    assert(a != Gen.requests(43, names, 500))
  }

  test("requests: every block of 20 holds the fixed mix, half per protocol") {
    val rs = Gen.requests(7, names, 200)
    rs.grouped(20).foreach { b =>
      assert(b.groupBy(_.kind).map { case (k, v) => k -> v.size } ==
        Map("find" -> 8, "callers" -> 4, "callees" -> 3, "trace" -> 3, "status" -> 2))
      assert(b.count(_.protocol == "line") == 10)
      for (k <- Seq("callers", "callees", "trace"))
        assert(b.filter(_.kind == k).map(_.depth).toSet == Set(1, 2, 3))
    }
    assert(rs.take(8).map(_.kind).toSet.size == 5)
    assert(rs.forall(r => r.depth >= 1 && r.depth <= 3))
    assert(rs.filter(_.kind != "status").forall(r => names.contains(r.target)))
    // the seed moves targets only, never the schedule
    val other = Gen.requests(8, names, 200)
    assert(rs.map(r => (r.kind, r.protocol, r.depth)) ==
      other.map(r => (r.kind, r.protocol, r.depth)))
  }

  test("requests: a traversal's target reaches the slot's depth") {
    // fnNNN reaches depth NNN % 4 in every direction
    def reaches(k: String, d: Int, name: String) = name.takeRight(3).toInt % 4 >= d
    val rs = Gen.requests(9, names, 400, reaches)
    assert(rs.filter(r => r.kind != "find" && r.kind != "status")
      .forall(r => reaches(r.kind, r.depth, r.target)))
    assert(rs.filter(_.kind == "find").exists(r => !reaches("callers", 1, r.target)))
    assert(rs == Gen.requests(9, names.reverse, 400, reaches))
  }

  test("requests: targets are Zipf-skewed toward a hot set every seed shares") {
    val rs = Gen.requests(11, names, 4000).filter(_.kind != "status")
    val counts = rs.groupBy(_.target).values.map(_.size).toSeq.sorted.reverse
    // rank 1 of Zipf(1) over 300 names carries about 16% of the draws
    assert(counts.head > rs.size / 10)
    assert(counts.head > 20 * counts.last)
    val other = Gen.requests(12, names, 4000).filter(_.kind != "status")
    assert(other.groupBy(_.target).maxBy(_._2.size)._1 == rs.groupBy(_.target).maxBy(_._2.size)._1)
    assert(other.map(_.target) != rs.map(_.target))
  }

  test("edits: the same seed gives the same cycles; names are unique") {
    val files = Seq("b.py", "a.py", "c/d.py")
    val callees = Seq("g", "f")
    val e = Gen.edits(5, files, callees, 50)
    assert(e == Gen.edits(5, files.reverse, callees.reverse, 50))
    assert(e != Gen.edits(6, files, callees, 50))
    assert(e.map(_.name).distinct.size == 50)
    assert(e.forall(x => files.contains(x.file) && callees.contains(x.callee)))
    assert(e.head.name == "graft_bench_5_0")
  }
}
