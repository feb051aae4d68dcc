package graft.core

import org.scalatest.funsuite.AnyFunSuite

class UnionFindSpec extends AnyFunSuite {
  test("labels are the least member of each set, as dupGroups labels pairs") {
    // DedupSpec: 1-2, 2-3 chain => {1,2,3} labelled 1; 7-9 => labelled 7
    val sets = new UnionFind[Long]
    Seq((1L, 2L), (2L, 3L), (7L, 9L)).foreach { case (a, b) => sets.union(a, b) }
    assert(sets.labels.toMap == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 9L -> 7L))
    assert(!sets.union(3L, 1L) && sets.union(9L, 2L))
    assert(sets.labels.map(_._2).toSet == Set(1L))
  }

  test("find halves a chain as deep as its length without recursing") {
    // unioned in descending order, each root hangs below the next lower
    // id: one tree level per member, past what a recursive find can walk
    val n = 200000
    val sets = new UnionFind[Int]
    for (i <- n - 1 to 1 by -1) assert(sets.union(i, i - 1))
    assert(sets.find(n - 1) == 0)
    assert(sets.labels.forall(_._2 == 0) && sets.labels.size == n)
  }

  test("SqlOrder compares strings by code point, as UTF-8 bytes order them") {
    val (p, q, t) = ("\uFFFF", "\uD83D\uDE00", "\uD83D\uDE01")
    val ids = Seq(t, "a", q, p, "ab", "", "\uE000")
    val bytes = Ordering.by((s: String) => s.getBytes("UTF-8").toSeq.map(_ & 0xff))(
      Ordering.Implicits.seqOrdering[Seq, Int])
    assert(ids.sorted(UnionFind.SqlOrder) == ids.sorted(bytes))
    assert(ids.sorted(UnionFind.SqlOrder) == Seq("", "a", "ab", "\uE000", p, q, t))
    val sets = new UnionFind[Any]()(UnionFind.SqlOrder)
    sets.union(t, q); sets.union(q, p)
    assert(sets.find(t) == p)
    assert(UnionFind.SqlOrder.compare(-0.0, 0.0) == 0)
    assert(UnionFind.SqlOrder.compare(Double.NaN, Double.PositiveInfinity) > 0)
  }
}
