package graft.tools

import graft.Queries
import graft.graph.{CodeGraph, Direction, Traversal}
import org.apache.spark.sql.SparkSession

/** Dev tool: dump formatted plans for selected queries to audit
  * pushdown (PushedFilters / ReadSchema), broadcast choices, and
  * whole-stage-codegen coverage.
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val names = if (args.nonEmpty) args.toSeq
      else Seq("filter_contains", "q1_agg", "q3_top_orders", "keyword_search",
        "ann_topk", "find_blocks_batch")
    val spark = session()
    names.foreach { n =>
      println(s"\n========== $n ==========")
      Queries.queries(n)(spark, dir).explain("formatted")
    }
    spark.stop()
  }

  private[tools] def session(): SparkSession = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}

/** Dev tool: the distributed BFS loop's `bfs_level` round plans. Runs
  * `bfs_out_depth3`'s traversal with the driver-level gate at 0, so
  * every level takes the distributed path; a traversal this small
  * otherwise runs its levels on the driver and traces no round. Run it
  * on a fixture directory (argument or SPARK_GRAFT_SF_DIR) with
  * SPARK_GRAFT_PLAN_TRACE set, then compare the capture with
  * `tools/round_plans.py`.
  */
object DistributedBfsPlans {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.orElse(sys.env.get("SPARK_GRAFT_SF_DIR"))
      .getOrElse(sys.error("usage: DistributedBfsPlans <fixture dir>"))
    val spark = PlanAudit.session()
    import spark.implicits._
    val n = Traversal.bfsLoop(CodeGraph.edges(spark, dir), Seq("O0").toDF("id"),
      Direction.Outgoing, 3, 10000L, localRows = 0L).count()
    println(s"bfs_out_depth3, every level distributed: $n rows")
    spark.stop()
  }
}
