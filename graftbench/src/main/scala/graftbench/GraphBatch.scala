package graftbench

import graft.Queries
import graft.graph.CodeGraph
import scala.collection.mutable.ArrayBuffer

/** `graph_batch`: six registered graph entries, one of each loop family
  * the iterative-kernel work targets, run in order over a seeded
  * TPC-H-shaped fixture with the CodeGraph views they read materialized
  * first. The timed action writes each entry's result as parquet, which
  * computes every output column and leaves the output the DuckDB oracle
  * check reads afterwards.
  */
object GraphBatch {

  val Entries: Seq[String] = Seq("bfs_out_depth5", "graph_pagerank",
    "graph_components_fresh", "graph_mis", "graph_triangles", "graph_ktruss")

  private def materialize(ctx: Ctx): Unit = {
    val (s, d) = (ctx.spark, ctx.input)
    Seq(CodeGraph.edges(s, d), CodeGraph.edgePairs(s, d), CodeGraph.undPairs(s, d),
      CodeGraph.coPairs(s, d)).foreach(_.count())
  }

  private def output(ctx: Ctx, name: String): String = s"${ctx.work}/outputs/$name"

  /** The entry's call (`graph.build`: building its frame, which runs
    * the driver-side loop rounds of the iterative entries) and the
    * action (`graph.write`).
    */
  private def runEntry(ctx: Ctx, name: String): Unit = {
    val df = ctx.tracer.span("graph.build")(Queries.queries(name)(ctx.spark, ctx.input))
    ctx.tracer.span("graph.write")(df.write.mode("overwrite").parquet(output(ctx, name)))
  }

  def run(ctx: Ctx): Unit = {
    val rep = ctx.report
    // set-up: build the derived views the entries read. Once per run,
    // cold, like the code workloads' link: repeating it would not fit.
    val setup = Harness.timed(materialize(ctx))._2 / 1e9
    Harness.phase("set-up done")
    rep.endToEnd("setup_s") = (setup, "s")
    rep.named("setup_s", setup, "s", "materialize the CodeGraph views")
    // No warm-up pass: a batch job in a fresh JVM pays its own JIT and
    // codegen, so the timed passes include them. A pass that would not
    // fit the window's remainder is not started (each phase runs one).
    val passes = ArrayBuffer.empty[Seq[(String, Long, Boolean)]]
    def loop(until: Long): Unit = {
      var last = 0L
      while (last == 0L || System.nanoTime() + last < until) {
        val t0 = System.nanoTime()
        passes += Entries.map { e =>
          val (ok, ns) = Harness.timed(ctx.op(e) {
            try { ctx.call(e)(runEntry(ctx, e)); true }
            catch { case ex: Exception =>
              rep.failures += s"$e: ${ex.getClass.getSimpleName}: ${ex.getMessage}".take(300)
              false
            }
          })
          rep.attempt(ok, s"$e failed")
          (e, ns, ok)
        }
        last = System.nanoTime() - t0
      }
    }
    if (ctx.trace) {
      // traced run: a warm pass first, so the untraced baseline and the
      // traced half are both warm and their ratio is the overhead
      ctx.tracing = false
      loop(0L)
      passes.clear()
    }
    val untraced = ctx.measure(passes.size)(loop)
    Harness.phase("passes done")
    val traced = untraced.map(n => passes.drop(n)).getOrElse(passes).toSeq
    val passMs = traced.map(_.map(_._2).sum / 1e6)
    // one pass as the sum of per-entry medians
    val entryMs = Entries.map(e => e -> Stats.median(
      traced.flatMap(_.filter(_._1 == e)).map(_._2 / 1e6)))
    rep.endToEnd("op_ms") = (entryMs.map(_._2).sum, "ms")
    rep.named("graph_batch_s", entryMs.map(_._2).sum / 1e3, "s",
      s"per-entry medians of ${passMs.size} passes")
    for ((e, m) <- entryMs) rep.named(s"graph.${e}_s", m / 1e3, "s", s"n=${passMs.size}")
    // each entry's oracle, for the check run.py makes on the outputs
    val oracles = Entries.map { e =>
      val runs = passes.map(_.count(x => x._1 == e && x._3)).sum max 1
      s"${Report.str(e)}:{\"sql\":${Report.str(Queries.oracles(e))},\"runs\":$runs}"
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(output(ctx, "oracles.json")),
      oracles.mkString("{", ",", "}"))
    if (ctx.trace) {
      val rows = Entries.map(e => e -> ctx.spark.read.parquet(output(ctx, e)).count()).toMap
      rep.named("graph.bfs_rows", rows("bfs_out_depth5").toDouble, "count")
      for (e <- Entries) {
        val ws = ctx.windows.filter(_._1 == e).map(_._2)
        val n = math.max(1, ws.size).toDouble
        rep.named(s"graph.${e}_jobs", ws.map(_.jobs).sum / n, "count")
        rep.named(s"graph.${e}_driver_gap_s", ws.map(_.driverGapMs).sum / n / 1e3, "s")
        rep.named(s"graph.${e}_shuffle_mb",
          ws.map(w => w.shuffleReadBytes + w.shuffleWriteBytes).sum / n / 1048576.0, "MB")
      }
      val bfs = ctx.windows.filter(_._1 == "bfs_out_depth5").map(_._2.wallMs)
      rep.named("graph.bfs_ms", bfs.sum.toDouble / math.max(1, bfs.size), "ms")
      val base = Stats.median(passes.take(untraced.get).map(_.map(_._2).sum / 1e6).toSeq)
      Harness.layerReport(ctx, rows.values.sum * traced.size,
        (entryMs.map(_._2).sum / base - 1) * 100,
        s => s.parent != -1 && Entries.contains(s.name))
    }
  }
}
