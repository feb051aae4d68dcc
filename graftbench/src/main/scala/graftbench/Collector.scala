package graftbench

import org.apache.spark.graftbench.BusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** What Spark did inside one operation's window (a request, a sync, a
  * graph entry), measured from outside through listener events.
  */
final case class Window(
    wallMs: Long, jobs: Long, stages: Long, tasks: Long,
    driverGapMs: Long, executorCpuNs: Long, executorRunMs: Long,
    gcMs: Long, shuffleReadBytes: Long, shuffleWriteBytes: Long,
    shuffleRecords: Long, spillBytes: Long, inputBytes: Long,
    outputBytes: Long, scanRows: Long, storageBytes: Long,
    cacheHits: Long, cacheMisses: Long, cacheInvalidations: Long)

object Window {

  /** Sum of counts and times; storage is a level, so it takes the max. */
  def sum(ws: Seq[Window]): Window = ws.foldLeft(empty) { (a, b) =>
    Window(a.wallMs + b.wallMs, a.jobs + b.jobs, a.stages + b.stages,
      a.tasks + b.tasks, a.driverGapMs + b.driverGapMs,
      a.executorCpuNs + b.executorCpuNs, a.executorRunMs + b.executorRunMs,
      a.gcMs + b.gcMs, a.shuffleReadBytes + b.shuffleReadBytes,
      a.shuffleWriteBytes + b.shuffleWriteBytes,
      a.shuffleRecords + b.shuffleRecords, a.spillBytes + b.spillBytes,
      a.inputBytes + b.inputBytes, a.outputBytes + b.outputBytes,
      a.scanRows + b.scanRows, math.max(a.storageBytes, b.storageBytes),
      a.cacheHits + b.cacheHits, a.cacheMisses + b.cacheMisses,
      a.cacheInvalidations + b.cacheInvalidations)
  }

  val empty: Window = Window(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
}

/** A SparkListener plus a QueryExecutionListener, attached by the
  * benchmark (never by the engine) in the traced run only. `window`
  * drains the listener bus on entry and exit, so every event between
  * the two drains belongs to the body that ran between them; the driver
  * gap is the window's wall time minus the union of its stages' run
  * intervals. The engine's query-cache counters are read at both edges.
  */
final class Collector(spark: SparkSession)
    extends SparkListener with QueryExecutionListener {

  private var jobs, stages, tasks = 0L
  private var stageSpans = Vector.empty[(Long, Long)]
  private var cpuNs, runMs, gcMs, shR, shW, shRec, spill, in, out = 0L
  private var scanRows = 0L

  def install(): this.type = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    this
  }

  def remove(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  private def reset(): Unit = synchronized {
    jobs = 0; stages = 0; tasks = 0; stageSpans = Vector.empty
    cpuNs = 0; runMs = 0; gcMs = 0; shR = 0; shW = 0; shRec = 0
    spill = 0; in = 0; out = 0; scanRows = 0
  }

  def window[A](body: => A): (A, Window) = {
    BusDrain.drain(spark.sparkContext)
    reset()
    val (h0, m0, _, i0) = Harness.cacheStats(spark)
    val t0 = System.currentTimeMillis()
    val r = body
    val t1 = System.currentTimeMillis()
    val (h1, m1, _, i1) = Harness.cacheStats(spark)
    BusDrain.drain(spark.sparkContext)
    val storage = spark.sparkContext.getExecutorMemoryStatus.values
      .map { case (max, free) => max - free }.sum
    val w = synchronized {
      Window(t1 - t0, jobs, stages, tasks, Stats.gap(stageSpans, t0, t1),
        cpuNs, runMs, gcMs, shR, shW, shRec, spill, in, out, scanRows,
        storage, h1 - h0, m1 - m0, i1 - i0)
    }
    (r, w)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    synchronized(jobs += 1)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stages += 1
      val i = e.stageInfo
      for (a <- i.submissionTime; b <- i.completionTime)
        stageSpans :+= ((a, b))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      cpuNs += m.executorCpuTime
      runMs += m.executorRunTime
      gcMs += m.jvmGCTime
      shR += m.shuffleReadMetrics.totalBytesRead
      shW += m.shuffleWriteMetrics.bytesWritten
      shRec += m.shuffleReadMetrics.recordsRead +
        m.shuffleWriteMetrics.recordsWritten
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      in += m.inputMetrics.bytesRead
      out += m.outputMetrics.bytesWritten
    }
  }

  /** Rows produced by the leaves of the executed plan: file, cache and
    * checkpoint scans.
    */
  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = {
    def leafRows(p: SparkPlan): Long = p match {
      case a: AdaptiveSparkPlanExec => leafRows(a.executedPlan)
      case q: QueryStageExec => leafRows(q.plan)
      case leaf if leaf.children.isEmpty =>
        leaf.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
      case other => other.children.map(leafRows).sum
    }
    val n = leafRows(qe.executedPlan)
    synchronized(scanRows += n)
  }

  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = ()
}
