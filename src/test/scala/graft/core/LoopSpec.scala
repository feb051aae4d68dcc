package graft.core

import graft.SparkSpec
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
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
    val out = Loop.run(spark, Loop.Eager) { loop =>
      val seed = loop.seed("loopspec_eager", Seq(1L, 2L, 3L).toDF("x"))
      assert(materialized(seed) && !released(seed))
      val r1 = loop.carry("loopspec_eager", step(seed))
      assert(materialized(r1) && !released(r1))
      assert(released(seed))
      val r2 = loop.carry("loopspec_eager", step(r1))
      assert(materialized(r2) && !released(r2))
      assert(released(r1))
      r2
    }
    assert(out.as[Long].collect().sorted === Array(3L, 4L, 5L))
  }

  test("a lazy carry is never released before the action that materializes its successor") {
    var base, r2, other: DataFrame = null
    val out = Loop.run(spark, Loop.Lazy) { loop =>
      base = loop.pin(Seq(1L, 2L, 3L).toDF("x"))
      val r1 = loop.carry("loopspec_lazy", step(base))
      r2 = loop.carry("loopspec_lazy", step(r1))
      assert(!materialized(r1) && !materialized(r2))
      assert(!released(r1) && !released(r2))
      assert(loop.settle(r2.agg(sum("x")).first().getLong(0)) === 12L)
      assert(materialized(r2) && !released(r2))
      assert(released(r1))
      // the newest frame of a chain is held while another chain settles
      other = loop.carry("loopspec_lazy_other", step(r2))
      loop.settle(other.count())
      assert(materialized(other) && !released(r2) && !released(base))
      step(r2)
    }
    // the output reads r2 only: the pin and the other chain are released
    assert(!released(r2) && released(other) && released(base))
    assert(out.as[Long].collect().sorted === Array(4L, 5L, 6L))
  }

  test("a frame stays while a lazy carry of another chain still reads it") {
    var a0, a1, a2, b1: DataFrame = null
    val out = Loop.run(spark, Loop.Lazy) { loop =>
      a0 = loop.seed("loopspec_a", Seq(1L, 2L, 3L).toDF("x"))
      a1 = loop.carry("loopspec_a", step(a0))
      b1 = loop.carry("loopspec_b", step(a0))
      loop.settle(a1.count())
      assert(materialized(a1) && !materialized(b1))
      assert(!released(a0)) // b1's lineage still reaches it
      loop.settle(b1.count())
      assert(released(a0) && !released(a1) && !released(b1))
      // a frame traced under another tag continues chain a
      a2 = loop.carry("loopspec_a_other_tag", step(a1), chain = "loopspec_a")
      loop.settle(a2.count())
      assert(released(a1) && !released(a2) && !released(b1))
      step(a2)
    }
    assert(released(b1) && !released(a2))
    assert(out.as[Long].collect().sorted === Array(4L, 5L, 6L))
  }

  test("a frame of a chain supersedes the chains nested under it") {
    var outer0, inner, innerUnd, outer1: DataFrame = null
    val out = Loop.run(spark, Loop.Lazy) { loop =>
      outer0 = loop.seed("loopspec_outer", Seq(1L, 2L, 3L).toDF("x"))
      innerUnd = loop.seed("loopspec_outer/inner_und", step(outer0))
      inner = loop.carry("loopspec_inner", step(innerUnd), eager = true,
        chain = "loopspec_outer/inner")
      // a nested frame leaves the outer chain's newest frame held
      assert(!released(outer0) && !released(innerUnd) && !released(inner))
      outer1 = loop.carry("loopspec_outer", outer0.join(inner, "x"), eager = true)
      assert(released(inner) && released(innerUnd) && released(outer0))
      outer1
    }
    assert(!released(outer1))
    assert(out.as[Long].collect().sorted === Array(3L))
  }

  test("an eager carry's one job checkpoints the lazy carries it computes and releases what they read") {
    val sc = spark.sparkContext
    val (group, flush) = ("loopspec_truncate", "loopspec_flush")
    val starts = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        starts.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
    }
    var live0, live1, state1: DataFrame = null
    sc.addSparkListener(listener)
    try {
      val out = Loop.run(spark, Loop.Eager) { loop =>
        live0 = loop.seed("loopspec_live", Seq(1L, 2L, 3L).toDF("x"))
        live1 = loop.carry("loopspec_live", step(live0), eager = false)
        assert(!materialized(live1) && !released(live0))
        // only the state frame's job computes live1, in another chain
        sc.setJobGroup(group, group)
        try state1 = loop.carry("loopspec_state", step(live1))
        finally sc.clearJobGroup()
        assert(materialized(state1) && materialized(live1))
        assert(released(live0) && !released(live1))
        state1
      }
      assert(released(live1) && !released(state1))
      assert(out.as[Long].collect().sorted === Array(3L, 4L, 5L))
      // the bus delivers job starts in order: once the flush job's start
      // is seen, so is every start of the carry's group
      sc.setJobGroup(flush, flush)
      try sc.parallelize(Seq(1)).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!starts.contains(flush) && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(starts.contains(flush))
      assert(starts.toArray.count(_ == group) === 1)
    } finally sc.removeSparkListener(listener)
  }

  test("a materialized lazy carry keeps its plan's metrics while the loop holds it") {
    // a job submitted before the carry was materialized still reports
    // these metrics, and the driver drops the updates of collected ones
    def carried(loop: Loop, prev: DataFrame) = {
      val next = step(prev)
      val frame = loop.carry("loopspec_metrics", next)
      val metric = next.queryExecution.executedPlan
        .collectFirst { case p if p.metrics.nonEmpty => p.metrics.values.head }
      (frame, new java.lang.ref.WeakReference[AnyRef](metric.get))
    }
    val out = Loop.run(spark, Loop.Lazy) { loop =>
      val seed = loop.seed("loopspec_metrics", Seq(1L, 2L, 3L).toDF("x"))
      val (r1, metric) = carried(loop, seed)
      loop.settle(r1.count())
      assert(materialized(r1))
      for (_ <- 1 to 3) { System.gc(); Thread.sleep(50) }
      assert(metric.get != null)
      r1
    }
    assert(out.as[Long].collect().sorted === Array(2L, 3L, 4L))
  }

  test("AQE and the shuffle width are restored after a normal exit and a mid-round exception") {
    val aqe = "spark.sql.adaptive.enabled"
    val width = "spark.sql.shuffle.partitions"
    val saved = (spark.conf.get(aqe), spark.conf.get(width))
    def confs() = (spark.conf.get(aqe), spark.conf.get(width))
    try {
      spark.conf.set(aqe, "true")
      spark.conf.set(width, "16")
      var seen: Any = null
      Loop.run(spark, Loop.Eager) { loop =>
        seen = (confs(), loop.rounds(1000L)(confs()))
        spark.emptyDataFrame
      }
      // AQE is off for the whole loop; only the rounds run narrower
      assert(seen === (("false", "16"), ("false", "4")))
      assert(confs() === (("true", "16")))
      val err = intercept[IllegalStateException] {
        Loop.run(spark, Loop.Eager) { loop =>
          val seed = loop.seed("loopspec_fail", Seq(1L).toDF("x"))
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
