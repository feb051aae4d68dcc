package graft

import graft.expressions.{ArrayShingles, DotProductFloat, MinHashBandKeys, MinHashBandKeysMd5, MinKgramHash, RepetitionStats, SimHash16, TextStats, TopKBy, WedgePairs}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Session extensions registering the engine's native expressions.
  * Install with `.config("spark.sql.extensions", "graft.GraftExtensions")`
  * or `SparkSession.builder.withExtensions(new GraftExtensions)`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  /** Validated integer-literal argument: foldable, non-null, numeric —
    * so SQL like `shingles(text, NULL)` or `shingles(text, 'x')` gets
    * a targeted resolution error naming the function and argument
    * instead of a NullPointerException/ClassCastException out of the
    * builder.
    */
  private def intLit(fn: String)(
      e: org.apache.spark.sql.catalyst.expressions.Expression,
      name: String): Int = {
    require(e.foldable, s"$fn $name must be a literal")
    e.eval() match {
      case n: Number => n.intValue()
      case null => throw new IllegalArgumentException(
        s"$fn $name must be a non-null integer literal")
      case other => throw new IllegalArgumentException(
        s"$fn $name must be an integer literal, got ${other.getClass.getSimpleName}")
    }
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    // declarative similarity API → codegen vec_dot, automatically
    // (see graft.plans.FuseDotProduct for why this is a Rule)
    ext.injectOptimizerRule(_ => graft.plans.FuseDotProduct)
    // a global sort over driver-held rows sorts on the driver, no job
    // (see graft.plans.SortLocalRelation)
    ext.injectOptimizerRule(_ => graft.plans.SortLocalRelation)
    ext.injectFunction((
      FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[DotProductFloat].getName, "vec_dot"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.size == 2, "vec_dot takes exactly 2 arguments")
        DotProductFloat(children.head, children(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("minhash_bands"),
      new ExpressionInfo(classOf[MinHashBandKeys].getName, "minhash_bands"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.size == 4,
          "minhash_bands takes (text, n, k, bands) — 4 arguments")
        val lit = intLit("minhash_bands") _
        MinHashBandKeys(children.head, lit(children(1), "n"),
          lit(children(2), "k"), lit(children(3), "bands"))
      }))
    ext.injectFunction((
      FunctionIdentifier("minhash_bands_md5"),
      new ExpressionInfo(classOf[MinHashBandKeysMd5].getName, "minhash_bands_md5"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.size == 4,
          "minhash_bands_md5 takes (text, n, k, bands) — 4 arguments")
        val lit = intLit("minhash_bands_md5") _
        MinHashBandKeysMd5(children.head, lit(children(1), "n"),
          lit(children(2), "k"), lit(children(3), "bands"))
      }))
    ext.injectFunction((
      FunctionIdentifier("shingles"),
      new ExpressionInfo(classOf[ArrayShingles].getName, "shingles"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.size == 2, "shingles takes (text, n) — 2 arguments")
        ArrayShingles(children.head, intLit("shingles")(children(1), "n"))
      }))
    ext.injectFunction((
      FunctionIdentifier("topk_by"),
      new ExpressionInfo(classOf[TopKBy].getName, "topk_by"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.size == 3,
          "topk_by takes (item, score, k) — 3 arguments")
        // bare AggregateFunction: the analyzer wraps it in an
        // AggregateExpression at resolution
        TopKBy(children.head, children(1),
          intLit("topk_by")(children(2), "k"))
      }))
    ext.injectFunction((
      FunctionIdentifier("simhash16"),
      new ExpressionInfo(classOf[SimHash16].getName, "simhash16"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.size == 1, "simhash16 takes exactly 1 argument")
        SimHash16(children.head)
      }))
    ext.injectFunction((
      FunctionIdentifier("min_kgram"),
      new ExpressionInfo(classOf[MinKgramHash].getName, "min_kgram"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.size == 2, "min_kgram takes (text, k) — 2 arguments")
        MinKgramHash(children.head, intLit("min_kgram")(children(1), "k"))
      }))
    ext.injectFunction((
      FunctionIdentifier("rep_stats"),
      new ExpressionInfo(classOf[RepetitionStats].getName, "rep_stats"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.size == 1, "rep_stats takes exactly 1 argument")
        RepetitionStats(children.head)
      }))
    ext.injectFunction((
      FunctionIdentifier("wedge_pairs"),
      new ExpressionInfo(classOf[WedgePairs].getName, "wedge_pairs"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.size == 2,
          "wedge_pairs takes (adj, pack) — 2 arguments")
        val p = children(1)
        require(p.foldable, "wedge_pairs pack must be a literal")
        val pv = p.eval() match {
          case n: Number => n.longValue()
          case other => throw new IllegalArgumentException(
            s"wedge_pairs pack must be an integer literal, got $other")
        }
        WedgePairs(children.head, pv)
      }))
    // seeded xxhash64 (r13): Spark's built-in `xxhash64` pins seed 42;
    // the LSH family hashes each shingle under k DIFFERENT seeds
    // (XXH64.hashUnsafeBytes(bytes, seed = h) inside MinHashBandKeys).
    // Exposing the seeded Catalyst XxHash64 lets the shingle→hash
    // dictionary entry materialize exactly those values, which is what
    // makes the fast-banding DuckDB oracle possible (the oracle treats
    // the per-shingle hashes as trusted opaque labels and recomputes
    // everything downstream of them).
    ext.injectFunction((
      FunctionIdentifier("xxhash64_seed"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.XxHash64].getName,
        "xxhash64_seed"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.size >= 2,
          "xxhash64_seed takes (expr..., seed) — at least 2 arguments")
        val seed = children.last
        require(seed.foldable, "xxhash64_seed seed must be a literal")
        val sv = seed.eval() match {
          case n: Number => n.longValue()
          case other => throw new IllegalArgumentException(
            s"xxhash64_seed seed must be an integer literal, got $other")
        }
        org.apache.spark.sql.catalyst.expressions.XxHash64(children.init, sv)
      }))
    ext.injectFunction((
      FunctionIdentifier("text_stats"),
      new ExpressionInfo(classOf[TextStats].getName, "text_stats"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.size == 1, "text_stats takes exactly 1 argument")
        TextStats(children.head)
      }))
  }
}
