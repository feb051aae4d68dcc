package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession, classic}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types.StructType

/** Frames over rows the engine already holds in Catalyst's internal
  * form: driver-held rows as a `LocalRelation`, persisted rows as a
  * `LogicalRDD`. Building a frame converts no row; every call gets fresh
  * attribute ids, so two frames over the same rows join like two scans.
  * `Dataset.ofRows` is package-private to Spark's SQL module, hence this
  * package.
  */
object Frames {

  private def of(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** A frame over driver-held rows. */
  def local(spark: SparkSession, rows: LocalRelation): DataFrame =
    of(spark, rows.newInstance())

  /** A frame over an RDD of `schema`-shaped internal rows. */
  def distributed(spark: SparkSession, rows: RDD[InternalRow],
                  schema: StructType): DataFrame =
    of(spark, LogicalRDD(DataTypeUtils.toAttributes(schema), rows)(
      spark.asInstanceOf[classic.SparkSession]))
}
