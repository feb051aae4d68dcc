package graft.core

import scala.collection.mutable

/** Disjoint sets on the driver, for the metadata-scale graphs a job
  * collects: MSF's chosen edges and its Kruskal tail, verified near-dup
  * pairs. The root of every set is its least member under `ord`, so a
  * member's label is the one min-label propagation computes
  * ([[graft.graph.GraphAnalytics.connectedComponents]]). [[find]] is
  * iterative with path halving: a chain unioned in descending order
  * builds a tree as deep as the chain.
  */
final class UnionFind[K](implicit ord: Ordering[K]) {
  private val parent = mutable.HashMap.empty[K, K]

  /** The least member of `x`'s set; `x` becomes a member if it was none. */
  def find(x: K): K = {
    var c = x
    while (parent.getOrElseUpdate(c, c) != c) {
      parent(c) = parent(parent(c))
      c = parent(c)
    }
    c
  }

  /** Merge the sets of `x` and `y`; false when they were one already. */
  def union(x: K, y: K): Boolean = {
    val (rx, ry) = (find(x), find(y))
    if (ord.lt(rx, ry)) parent(ry) = rx else if (rx != ry) parent(rx) = ry
    rx != ry
  }

  /** Every member with its label, the least member of its set. */
  def labels: Seq[(K, K)] = parent.keys.toVector.map(k => k -> find(k))
}

object UnionFind {
  /** The order Spark SQL compares the values of a collected id or weight
    * column in, so a driver path breaks ties as `least`, `greatest` and
    * a struct `min` do: strings by code point, which is UTF-8 byte order
    * (`String.compareTo` is UTF-16 order and puts U+E000-U+FFFF above
    * the supplementary planes); doubles with -0.0 equal to 0.0 and NaN
    * above every number; other values of one class by their own order;
    * null first.
    */
  val SqlOrder: Ordering[Any] = {
    case (x, y) if x == null || y == null =>
      java.lang.Boolean.compare(x != null, y != null)
    case (x: String, y: String) => codePoints(x, y)
    case (x: Double, y: Double) => if (x == y) 0 else java.lang.Double.compare(x, y)
    case (x: Comparable[_], y) if x.getClass == y.getClass =>
      x.asInstanceOf[Comparable[Any]].compareTo(y)
    case (x, y) => codePoints(x.toString, y.toString)
  }

  private def codePoints(x: String, y: String): Int = {
    val i = (0 until math.min(x.length, y.length)).indexWhere(i => x(i) != y(i))
    if (i < 0) Integer.compare(x.length, y.length)
    else Integer.compare(rank(x(i)), rank(y(i)))
  }

  // a UTF-16 unit's place in code point order: surrogates encode the
  // code points above U+FFFF, so they move above U+E000-U+FFFF
  private def rank(c: Char): Int =
    if (c >= 0xE000) c - 0x800 else if (c >= 0xD800) c + 0x2000 else c
}
