package graftbench

import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer

/** What one workload run is given: the session, the seed, the measured
  * window, whether this is the traced run, and its directories inside
  * the checkout (`work` for state, `input` for the generated inputs).
  */
final case class Ctx(spark: SparkSession, workload: String, seed: Long,
                     seconds: Int, trace: Boolean, work: String,
                     input: String) {
  val tracer = new Tracer(trace)
  lazy val collector: Collector = new Collector(spark).install()
  /** (call name, listener window) of every traced call. */
  val windows = ArrayBuffer.empty[(String, Window)]

  /** Off for the traced run's untraced baseline: its first half, or the
    * untraced copy of each request on `serve_code`.
    */
  def tracing: Boolean = tracer.enabled
  def tracing_=(on: Boolean): Unit = tracer.enabled = on
  val report = new Report

  /** One operation: the root span its steps nest under. */
  def op[A](name: String)(body: => A): A = tracer.op(name)(body)

  /** The operation's call into the system: a span, and in the traced
    * run a listener window whose counts feed the per-layer report.
    */
  def call[A](name: String)(body: => A): A =
    if (!tracing) body
    else {
      val (r, w) = collector.window(tracer.span(name)(body))
      windows += ((name, w))
      r
    }

  /** Run `loop(until)` for the measured window. The traced run spends
    * its first half untraced, as the overhead baseline, and returns how
    * many samples that half took (`count`, read between the halves).
    */
  def measure(count: => Int)(loop: Long => Unit): Option[Int] = {
    def after(ns: Long): Long = System.nanoTime() + ns
    if (!trace) { loop(after(seconds * 1000000000L)); None }
    else {
      tracing = false
      loop(after(seconds * 500000000L))
      val n = count
      tracing = true
      loop(after(seconds * 500000000L))
      Some(n)
    }
  }
}

/** The run's figures: end-to-end metrics for the final line, named
  * figures printed one per line, and the failure count.
  */
final class Report {
  var attempted = 0L
  var failed = 0L
  val failures = ArrayBuffer.empty[String]
  val endToEnd = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
  val perLayer = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
  val lines = ArrayBuffer.empty[String]

  def attempt(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; if (failures.size < 20) failures += what }
  }

  /** A figure of the workload, printed by name. */
  def named(name: String, value: Double, unit: String, note: String = ""): Unit =
    lines += f"$name%-40s ${Report.num(value)}%14s $unit%-6s $note".trim
}

object Report {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else BigDecimal(v).bigDecimal.toPlainString

  def json(m: Iterable[(String, (Double, String))]): String =
    m.map { case (k, (v, u)) => s""""$k":{"value":${num(v)},"unit":"$u"}""" }
      .mkString("{", ",", "}")

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

object Harness {

  def session(): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .appName("graftbench")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.rdd.compress", "true")
      .config("spark.checkpoint.compress", "true")
      .config("spark.sql.ui.retainedExecutions", "8")
      .config("spark.ui.retainedJobs", "200")
      .config("spark.ui.retainedStages", "200")
      .config("spark.ui.retainedTasks", "2000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private val t0 = System.nanoTime()

  /** A phase mark in the run's log: seconds since the harness started. */
  def phase(name: String): Unit =
    System.err.println(f"graftbench phase ${(System.nanoTime() - t0) / 1e9}%.1f s: $name")

  /** Time `body` in ns. */
  def timed[A](body: => A): (A, Long) = {
    val t0 = System.nanoTime()
    val r = body
    (r, System.nanoTime() - t0)
  }

  /** Bytes and regular-file count under `dir`. */
  def du(dir: String): (Long, Long) = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) (0L, 0L)
    else {
      val st = java.nio.file.Files.walk(root)
      try {
        var bytes = 0L; var files = 0L
        st.forEach { p =>
          if (java.nio.file.Files.isRegularFile(p)) {
            bytes += java.nio.file.Files.size(p); files += 1
          }
        }
        (bytes, files)
      } finally st.close()
    }
  }

  /** The per-layer figures every workload reports in its traced run:
    * Spark's work and the engine's query-cache traffic per measured
    * call, from the listener windows; the share of the `container`
    * spans' wall time that layer spans account for; and the overhead of
    * tracing on the end-to-end figure.
    */
  def layerReport(ctx: Ctx, rowsReturned: Long, overheadPct: Double,
                  container: Span => Boolean): Unit = {
    val w = Window.sum(ctx.windows.map(_._2).toSeq)
    val n = math.max(1, ctx.windows.size).toDouble
    val mb = 1024.0 * 1024.0
    val (hits, misses) = (w.cacheHits.toDouble, w.cacheMisses.toDouble)
    val put = ctx.report.perLayer
    put("spark.jobs_per_op") = (w.jobs / n, "count")
    put("spark.stages_per_op") = (w.stages / n, "count")
    put("spark.tasks_per_op") = (w.tasks / n, "count")
    put("spark.driver_gap_ms_per_op") = (w.driverGapMs / n, "ms")
    put("spark.executor_cpu_s") = (w.executorCpuNs / 1e9 / n, "s/op")
    put("spark.executor_run_s") = (w.executorRunMs / 1e3 / n, "s/op")
    put("spark.gc_s") = (w.gcMs / 1e3 / n, "s/op")
    put("spark.shuffle_read_mb") = (w.shuffleReadBytes / mb / n, "MB/op")
    put("spark.shuffle_write_mb") = (w.shuffleWriteBytes / mb / n, "MB/op")
    put("spark.shuffle_records") = (w.shuffleRecords / n, "count/op")
    put("spark.spill_mb") = (w.spillBytes / mb / n, "MB/op")
    put("spark.input_mb") = (w.inputBytes / mb / n, "MB/op")
    put("spark.output_mb") = (w.outputBytes / mb / n, "MB/op")
    put("spark.storage_peak_mb") = (w.storageBytes / mb, "MB")
    put("query.cache_hits") = (hits / n, "count/op")
    put("query.cache_misses") = (misses / n, "count/op")
    put("query.cache_invalidations") = (w.cacheInvalidations / n, "count/op")
    put("query.cache_hit_ratio") =
      (if (hits + misses > 0) hits / (hits + misses) else 0.0, "ratio")
    put("query.rows_scanned_per_row_returned") =
      (w.scanRows.toDouble / math.max(1L, rowsReturned), "ratio")
    put("trace.self_time_coverage") =
      (Tracer.coverage(splitLink(ctx.tracer.spans)._2, container), "ratio")
    put("trace.overhead_pct") = (overheadPct, "%")
  }

  /** (hits, misses, evictions, invalidations) of the session's cache. */
  def cacheStats(spark: SparkSession): (Long, Long, Long, Long) = {
    val c = graft.query.QueryCache.forSession(spark)
    val (h, m, e) = c.stats
    (h, m, e, c.invalidations)
  }

  /** Write spans as JSON lines into the run's work directory, from
    * where run.py keeps them.
    */
  def writeSpans(ctx: Ctx): Unit =
    java.nio.file.Files.write(
      java.nio.file.Paths.get(ctx.work, "spans.jsonl"),
      Tracer.toJsonLines(ctx.tracer.spans).mkString("\n").getBytes("UTF-8"))

  /** Spans of the set-up's `link` op, and of every other op. */
  private def splitLink(spans: Seq[Span]): (Seq[Span], Seq[Span]) = {
    val linkOps = spans.filter(s => s.parent == -1 && s.name == "link").map(_.op).toSet
    spans.partition(s => linkOps(s.op))
  }

  /** Self time per span name, printed by name: for the link as ms, for
    * the measured ops as ms per op. A root's own self time is reported
    * as `op`: harness work between steps, such as listener drains.
    */
  def spanLines(ctx: Ctx): Unit = {
    val spans = ctx.tracer.spans
    val self = Tracer.selfTimes(spans)
    def byName(ss: Seq[Span]): Seq[(String, Double)] =
      ss.groupBy(s => if (s.parent == -1) "op" else s.name).toSeq.sortBy(_._1)
        .map { case (n, xs) => n -> xs.map(x => self(x.id)).sum / 1e6 }
    val (link, rest) = splitLink(spans)
    for ((n, ms) <- byName(link)) ctx.report.named(s"link.self.$n", ms, "ms")
    val ops = math.max(1, rest.count(_.parent == -1))
    for ((n, ms) <- byName(rest)) ctx.report.named(s"self.$n", ms / ops, "ms/op")
  }
}
