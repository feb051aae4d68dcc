package graftbench

/** One benchmark run inside a fresh JVM:
  * `graftbench.Main --workload W --seed N --seconds S --trace 0|1
  * --work DIR --input DIR --out FILE`. Writes its figures to FILE as one
  * JSON object; run.py adds the oracle check and prints the final line.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val spark = Harness.session()
    Harness.phase("session up")
    val ctx = Ctx(spark, a("workload"), a("seed").toLong, a("seconds").toInt,
      a("trace") == "1", a("work"), a("input"))
    try {
      ctx.workload match {
        case "serve_code" => Code.serve(ctx)
        case "edit_sync" => Code.editSync(ctx)
        case "graph_batch" => GraphBatch.run(ctx)
        case w => throw new IllegalArgumentException(s"unknown workload: $w")
      }
      Harness.phase("workload done")
      if (ctx.trace) {
        Harness.spanLines(ctx)
        Harness.writeSpans(ctx)
        ctx.collector.remove()
      }
      val r = ctx.report
      val json =
        s"""{"attempted":${r.attempted},"failed":${r.failed},""" +
          s""""end_to_end":${Report.json(r.endToEnd)},""" +
          s""""per_layer":${Report.json(r.perLayer)},""" +
          s""""lines":${r.lines.map(Report.str).mkString("[", ",", "]")},""" +
          s""""failures":${r.failures.map(Report.str).mkString("[", ",", "]")}}"""
      java.nio.file.Files.writeString(java.nio.file.Paths.get(a("out")), json)
    } finally spark.stop()
  }
}
