package graft.plans

import graft.SparkSpec
import graft.api.Cli
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Ascending, Literal, Rand, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Sort}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._

class SortLocalRelationSpec extends SparkSpec {
  import spark.implicits._

  // doubles with NaN, both zeros, infinities and nulls; strings whose
  // UTF-8 byte order differs from Java's UTF-16 order (U+FFFD sorts
  // before U+1F600 in bytes, after its surrogate pair in UTF-16)
  private val doubles = Seq[java.lang.Double](Double.NaN, -0.0, 0.0, null,
    Double.PositiveInfinity, Double.NegativeInfinity, 1.5, -2.0, 0.0, Double.NaN)
  private val strings = Seq("b", "�", "😀", null, "a", "é", "", "B",
    "�x", "z")
  private val local: DataFrame = doubles.indices.map { i =>
    (i.toLong, doubles(i), strings((i * 3) % strings.length), i % 3)
  }.toDF("id", "d", "s", "k")
  private val distributed: DataFrame =
    spark.createDataFrame(local.rdd, local.schema).repartition(3)

  private def sortedLocally(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]

  test("orders equal Spark's distributed sort: directions, null placement, NaN, -0.0, UTF-8, keys") {
    // `id` last breaks every tie, so a different tie rule (-0.0 before
    // 0.0, say) would show as a different order
    val orders: Seq[Seq[Column]] = Seq(
      Seq(col("d").asc), Seq(col("d").desc), Seq(col("d").asc_nulls_last),
      Seq(col("d").desc_nulls_first), Seq(col("s").asc), Seq(col("s").desc_nulls_last),
      Seq(col("k").asc, col("s").desc_nulls_first),
      Seq(col("k").desc, col("d").asc_nulls_last, col("s").asc),
      Seq(length(col("s")).desc, col("d").asc))
    for (order <- orders) {
      val got = local.orderBy(order :+ col("id"): _*)
      assert(sortedLocally(got), order)
      val want = distributed.orderBy(order :+ col("id"): _*)
      assert(!sortedLocally(want))
      assert(got.collect().toSeq.map(_.toString) === want.collect().toSeq.map(_.toString),
        order)
    }
  }

  test("leaves sortWithinPartitions and non-deterministic orders alone") {
    def sorts(df: DataFrame): Int =
      df.queryExecution.optimizedPlan.collect { case s: Sort => s }.length
    assert(sorts(local.sortWithinPartitions("d")) == 1)
    assert(sorts(local.orderBy("d")) == 0)
    // the analyzer pulls a non-deterministic order into a projection
    // below the sort, so the rule meets one only in a hand-built plan
    val rel = local.queryExecution.optimizedPlan.asInstanceOf[LocalRelation]
    val byRand = Sort(Seq(SortOrder(Rand(Literal(7L)), Ascending)), global = true, rel)
    assert(SortLocalRelation(byRand) eq byRand)
  }

  test("a find over local frames plans no exchange and answers as over distributed ones") {
    val blocks = Seq(
      ("b2", "function", "lib.zig:alpha", "fn alpha"),
      ("b1", "function", "main.zig:alpha", "fn alpha"),
      ("b3", "function", "lib.zig:beta", "fn beta"),
      ("b0", "type", "lib.zig:alpha", "struct alpha")).toDF("id", "unit_type", "unit_id", "content")
    val edges = Seq(("b2", "b3", "calls")).toDF("src", "dst", "edge_type")
    val find = Cli.FindCmd("function", "alpha", maxResults = 1)
    val got = Cli.execute(blocks, edges, find)
    assert(got.queryExecution.executedPlan.collect { case e: Exchange => e }.isEmpty,
      got.queryExecution.executedPlan)
    val want = Cli.execute(spark.createDataFrame(blocks.rdd, blocks.schema),
      spark.createDataFrame(edges.rdd, edges.schema), find)
    assert(got.collect().toSeq === want.collect().toSeq)
    assert(got.collect().map(_.getString(0)).toSeq == Seq("b1"))
  }
}
