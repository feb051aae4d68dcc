package graft.core

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The round lifecycle [[Loop]] owns, on a toy loop that adds 1 per round. */
class LoopSpec extends SparkSpec {
  import spark.implicits._

  private def rdd(frame: DataFrame) =
    frame.queryExecution.analyzed.asInstanceOf[LogicalRDD].rdd
  private def materialized(frame: DataFrame) = rdd(frame).isCheckpointed
  private def released(frame: DataFrame) =
    rdd(frame).getStorageLevel == StorageLevel.NONE
  private def step(frame: DataFrame) = frame.select((col("x") + 1).as("x"))

  test("an eager carry releases its predecessor, the seed included, once it is materialized") {
    Loop.run(spark, Loop.Eager) { loop =>
      val seed = loop.seed(Seq(1L, 2L, 3L).toDF("x"))
      assert(materialized(seed) && !released(seed))
      val r1 = loop.carry("loopspec_eager", step(seed))
      assert(materialized(r1) && !released(r1))
      assert(released(seed))
      val r2 = loop.carry("loopspec_eager", step(r1))
      assert(materialized(r2) && !released(r2))
      assert(released(r1))
      assert(r2.as[Long].collect().sorted === Array(3L, 4L, 5L))
    }
  }

  test("a lazy carry is never released before the action that materializes its successor") {
    Loop.run(spark, Loop.Lazy) { loop =>
      val base = loop.pin(Seq(1L, 2L, 3L).toDF("x"))
      val r1 = loop.carry("loopspec_lazy", step(base))
      val r2 = loop.carry("loopspec_lazy", step(r1))
      assert(!materialized(r1) && !materialized(r2))
      assert(!released(r1) && !released(r2))
      assert(loop.settle(r2.agg(sum("x")).first().getLong(0)) === 12L)
      assert(materialized(r2) && !released(r2))
      assert(released(r1))
      // release = false leaves the superseded frame to the caller
      val r3 = loop.carry("loopspec_lazy", step(r2))
      assert(!released(r2))
      loop.settle(r3.count(), release = false)
      assert(materialized(r3) && !released(r2) && !released(r3))
      assert(r2.as[Long].collect().sorted === Array(3L, 4L, 5L))
      assert(!released(base))
    }
  }

  test("AQE and the shuffle width are restored after a normal exit and a mid-round exception") {
    val aqe = "spark.sql.adaptive.enabled"
    val width = "spark.sql.shuffle.partitions"
    val saved = (spark.conf.get(aqe), spark.conf.get(width))
    def confs() = (spark.conf.get(aqe), spark.conf.get(width))
    try {
      spark.conf.set(aqe, "true")
      spark.conf.set(width, "16")
      val seen = Loop.run(spark, Loop.Eager) { loop =>
        (confs(), loop.rounds(1000L)(confs()))
      }
      // AQE is off for the whole loop; only the rounds run narrower
      assert(seen === (("false", "16"), ("false", "4")))
      assert(confs() === (("true", "16")))
      val err = intercept[IllegalStateException] {
        Loop.run(spark, Loop.Eager) { loop =>
          val seed = loop.seed(Seq(1L).toDF("x"))
          loop.rounds(1000L) {
            loop.carry("loopspec_fail", step(seed))
            throw new IllegalStateException("mid-round")
          }
        }
      }
      assert(err.getMessage === "mid-round")
      assert(confs() === (("true", "16")))
    } finally {
      spark.conf.set(aqe, saved._1)
      spark.conf.set(width, saved._2)
    }
  }
}
