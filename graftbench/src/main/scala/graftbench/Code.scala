package graftbench

import com.fasterxml.jackson.databind.JsonNode
import graft.api.{BinaryProtocol, Cli, CliServer, ServerEncoding, WorkspaceStore}
import graft.api.BinaryProtocol._
import graft.core.Schemas
import graft.ingest.{DispatchParser, Ingest, SemanticResolver}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import scala.collection.mutable.ArrayBuffer

/** The two workloads on the code store: `serve_code` (reads only, one
  * closed-loop client, both wire protocols) and `edit_sync` (edit, sync
  * and read-after-write cycles). Both link the same pinned source tree
  * through a CliServer on a loopback port.
  */
object Code {

  val Workspace = "ps"

  final class Served(ctx: Ctx, val stateDir: String) {
    val server: CliServer = new CliServer(ctx.spark, stateDir, 0).start()
    val client = new Client(server.boundPort)
    def storeRoot: String = WorkspaceStore.stateRoot(stateDir)
    def stop(): Unit = server.stop()
  }

  private def tree(ctx: Ctx): String = s"${ctx.input}/tree"

  private def int(n: JsonNode, f: String): Long = n.path(f).asLong(-1L)

  /** Set up: a fresh store, a CliServer on it, and a `link` of the tree
    * over the line protocol. One set-up per run: in a fresh JVM a link
    * costs 25-32 s of mostly per-job overhead on 4 cores, so repeating it
    * would not fit a run. Reports the set-up and link times and the link
    * summary.
    */
  def setup(ctx: Ctx): Served = {
    val t0 = System.nanoTime()
    val srv = new Served(ctx, s"${ctx.work}/state")
    val ((resp, _), linkNs) = Harness.timed(ctx.op("link") {
      val r = ctx.call("client.link")(
        srv.client.line(s"""link --path "${tree(ctx)}" --name $Workspace"""))
      replayLink(ctx)
      r
    })
    val setupNs = System.nanoTime() - t0
    Harness.phase("set-up done")
    val row = Client.rows(resp).toOption.flatMap(_.headOption)
      .filter(r => int(r, "blocks_linked") > 0)
    ctx.report.attempt(row.nonEmpty, s"link: ${resp.toString.take(300)}")
    if (row.isEmpty) {
      srv.stop()
      throw new IllegalStateException(s"link failed: $resp")
    }
    val rep = ctx.report
    rep.endToEnd("setup_s") = (setupNs / 1e9, "s")
    rep.named("setup_s", setupNs / 1e9, "s", "server start + link")
    rep.named("link_s", linkNs / 1e9, "s")
    rep.named("ingest.files", int(row.get, "files_processed").toDouble, "count")
    rep.named("ingest.units", int(row.get, "blocks_linked").toDouble, "count")
    rep.named("ingest.edges", int(row.get, "edges_linked").toDouble, "count")
    val (bytes, files) = Harness.du(srv.storeRoot)
    val (srcBytes, _) = Harness.du(tree(ctx))
    rep.named("store.files", files.toDouble, "count")
    rep.named("store.bytes", bytes.toDouble, "B")
    rep.named("store.bytes_per_src_byte", bytes.toDouble / srcBytes, "ratio")
    if (ctx.trace) {
      val w = ctx.windows.map(_._2).toSeq
      rep.named("link.spark_jobs", w.map(_.jobs).sum.toDouble, "count")
      rep.named("link.driver_gap_s", w.map(_.driverGapMs).sum / 1e3, "s")
      rep.named("link.input_mb", w.map(_.inputBytes).sum / 1048576.0, "MB")
      rep.named("link.output_mb", w.map(_.outputBytes).sum / 1048576.0, "MB")
      ctx.windows.clear()
    }
    srv
  }

  /** Traced run only: the link's ingest steps replayed in process. */
  private def replayLink(ctx: Ctx): Unit = if (ctx.tracing) {
    val spark = ctx.spark
    ctx.tracer.span("replay") {
      val files = ctx.tracer.span("ingest.read") {
        val f = Ingest.readDirectory(spark, tree(ctx)).cache()
        f.count(); f
      }
      val units = ctx.tracer.span("ingest.parse") {
        val u = Ingest.parseFiles(files, DispatchParser).cache()
        u.count(); u
      }
      ctx.tracer.span("ingest.resolve") {
        SemanticResolver.edgesAsBlocks(
          SemanticResolver.downgradeOrphanMethods(units), Workspace).count()
      }
      units.unpersist(); files.unpersist()
    }
  }

  private def lastSeg(s: String): String = s.substring(s.lastIndexOf(':') + 1)

  private def functionNames(model: Model): Seq[String] =
    model.blocks.values.filter(_.unitType == "function")
      .map(b => lastSeg(b.unitId)).toSeq.distinct.sorted

  // ---------------------------------------------------------------- serve

  /** A response as it came off the wire. */
  sealed trait Resp { def bytes: Int }
  final case class LineResp(json: JsonNode, bytes: Int) extends Resp
  final case class BinResp(msgType: Int, payload: Array[Byte]) extends Resp {
    def bytes: Int = BinaryProtocol.HeaderSize + payload.length
  }

  def lineText(r: Gen.Request): String = r.kind match {
    case "find" => s"find --type function --name ${r.target} --max-results 10"
    case "callers" | "callees" =>
      s"show --relation ${r.kind} --target ${r.target} --max-depth ${r.depth}"
    case "trace" => s"trace --direction callees --target ${r.target} --max-depth ${r.depth}"
    case "status" => "status --verbose"
  }

  private def binaryMessage(r: Gen.Request): (Int, Array[Byte]) = r.kind match {
    case "find" => (MsgType.FindRequest, encodeFindRequest(FindRequest(r.target, 10)))
    case "callers" => (MsgType.ShowCallersRequest,
      encodeShowRequest(ShowRequest(r.target, r.depth)))
    case "callees" => (MsgType.ShowCalleesRequest,
      encodeShowRequest(ShowRequest(r.target, r.depth)))
    case "trace" => (MsgType.TraceRequest,
      encodeTraceRequest(TraceRequest(r.target, "", r.depth)))
    case "status" => (MsgType.StatusRequest, Array.emptyByteArray)
  }

  def send(srv: Served, r: Gen.Request): Resp =
    if (r.protocol == "line") {
      val (j, n) = srv.client.line(lineText(r)); LineResp(j, n)
    } else {
      val (t, p) = binaryMessage(r); val (rt, rp) = srv.client.binary(t, p)
      BinResp(rt, rp)
    }

  /** Rows (blocks or paths) a response carries. */
  def rowCount(resp: Resp): Int = resp match {
    case LineResp(j, _) => Client.rows(j).map(_.size).getOrElse(0)
    case BinResp(MsgType.FindResponse, p) => decodeFindResponse(p).map(_.size).getOrElse(0)
    case BinResp(MsgType.ShowResponse, p) => decodeShowResponse(p).map(_._1.size).getOrElse(0)
    case BinResp(MsgType.TraceResponse, p) => decodeTraceResponse(p).map(_.size).getOrElse(0)
    case _ => 1
  }

  /** The response against the model's answer: None if it matches. */
  def check(r: Gen.Request, resp: Resp, m: Model): Option[String] = {
    def diff[A](what: String, got: Seq[A], want: Seq[A]): Option[String] =
      if (got == want) None
      else Some(s"$what ${r.protocol} ${r.target} d${r.depth}: got ${got.size} " +
        s"rows, want ${want.size}; first diff at " +
        got.zipAll(want, null, null).indexWhere { case (a, b) => a != b })
    val callers = r.kind == "callers"
    (r.kind, resp) match {
      case (_, LineResp(j, _)) => Client.rows(j) match {
        case Left(e) => Some(s"${r.kind} error: $e")
        case Right(rows) => r.kind match {
          case "find" =>
            diff("find", rows.map(x => (x.path("id").asText, x.path("unit_id").asText,
                x.path("source_uri").asText, x.path("sequence").asLong, x.path("content").asText)),
              m.find(r.target, 10).map(b => (b.id, b.unitId, b.sourceUri, b.sequence, b.content)))
          case "callers" | "callees" =>
            diff("show", rows.map(x => (x.path("id").asText, x.path("depth").asInt,
                x.path("unit_id").asText)),
              m.show(r.target, callers, r.depth).map { case (id, d) => (id, d, m.blocks(id).unitId) })
          case "trace" =>
            diff("trace", rows.map(x => (x.path("id").asText, x.path("depth").asInt,
                x.path("path").asText)), m.trace(r.target, callers = false, r.depth))
          case _ =>
            diff("status", rows.map(x => (x.path("workspace").asText,
                x.path("block_count").asLong, x.path("edge_count").asLong)),
              Seq((Workspace, m.blocks.size.toLong, m.edgeRows)))
        }
      }
      case (_, BinResp(t, p)) =>
        def ids(bs: Seq[BlockInfo]) = bs.map(b => Client.idText(b.idBytes))
        def idOf(s: String) = Client.idText(blockIdBytes(s))
        (r.kind, t) match {
          case ("find", MsgType.FindResponse) =>
            decodeFindResponse(p).fold(e => Some(e), bs =>
              diff("find", bs.map(b => (Client.idText(b.idBytes), b.uri)),
                m.find(r.target, 10).map(b => (idOf(b.id), Model.clip(b.sourceUri)))))
          case ("callers" | "callees", MsgType.ShowResponse) =>
            decodeShowResponse(p).fold(e => Some(e), { case (bs, _) =>
              diff("show", ids(bs), m.show(r.target, callers, r.depth).map(x => idOf(x._1)))
            })
          case ("trace", MsgType.TraceResponse) =>
            decodeTraceResponse(p).fold(e => Some(e), ps =>
              diff("trace", ps.map(x => (x.nodes.map(Client.idText), x.totalDistance)),
                m.trace(r.target, callers = false, r.depth).take(100).map { case (_, d, path) =>
                  (path.split("->").toSeq.take(256).map(idOf), d) }))
          case ("status", MsgType.StatusResponse) =>
            decodeStatusResponse(p).fold(e => Some(e), s =>
              diff("status", Seq((s.blockCount, s.edgeCount)),
                Seq((m.blocks.size.toLong, m.edgeRows))))
          case _ => Some(s"${r.kind}: ${Client.errorText(t, p)}")
        }
    }
  }

  /** Traced run only: the request's steps replayed in process, each
    * forced inside its own span so that no step's cost lands in a later
    * one: `api.parse` (`Cli.parse`, or the binary decode), then for a
    * query `store.current_graph` (`WorkspaceStore.currentGraph`,
    * persisted and counted) and `query.resolve` (find) or `graph.bfs`
    * (show, trace), each `Cli.execute` plus collect over that graph; for
    * status `store.status`. Last the response: `api.render` (`Cli.render`
    * as JSON, as the line protocol answers) or `api.encode` (the encoder
    * the server uses for the binary response type).
    */
  private def replay(ctx: Ctx, srv: Served, r: Gen.Request): Unit = {
    val spark = ctx.spark
    val t = ctx.tracer
    t.span("replay") {
      val cmd = t.span("api.parse") {
        if (r.protocol == "line") Cli.parse(lineText(r).split(' ').toSeq).toOption.get
        else {
          val (_, p) = binaryMessage(r)
          r.kind match {
            case "find" => Cli.FindCmd("function", decodeFindRequest(p).toOption.get.query, "", 10)
            case "callers" | "callees" =>
              val q = decodeShowRequest(p).toOption.get
              Cli.ShowCmd(r.kind, q.target, maxDepth = q.maxDepth)
            case "trace" =>
              val q = decodeTraceRequest(p).toOption.get
              Cli.TraceCmd("callees", q.source, q.maxDepth)
            case _ => Cli.StatusCmd(verbose = true)
          }
        }
      }
      val (rows, schema) = cmd match {
        case _: Cli.StatusCmd => t.span("store.status") {
          val df = Cli.executeWorkspace(spark, srv.stateDir, cmd)
          (df.collect(), df.schema)
        }
        case _ =>
          val (blocks, edges) = t.span("store.current_graph") {
            val (b, e) = WorkspaceStore.currentGraph(spark, srv.stateDir)
            b.persist().count(); e.persist().count()
            (b, e)
          }
          try t.span(if (r.kind == "find") "query.resolve" else "graph.bfs") {
            val df = Cli.execute(blocks, edges, cmd)
            (df.collect(), df.schema)
          } finally { blocks.unpersist(true); edges.unpersist(true) }
      }
      if (r.protocol == "line") t.span("api.render")(Cli.render(local(spark, rows, schema), "json"))
      else t.span("api.encode")(encode(spark, r.kind, rows, schema))
    }
  }

  private def local(spark: org.apache.spark.sql.SparkSession, rows: Array[Row],
                    schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  /** The binary response as the server builds it for the request type. */
  private def encode(spark: org.apache.spark.sql.SparkSession, kind: String,
                     rows: Array[Row], schema: StructType): Array[Byte] = kind match {
    case "find" => encodeFindResponse(ServerEncoding.blockInfos(local(spark, rows, schema)))
    case "callers" | "callees" =>
      encodeShowResponse(ServerEncoding.blockInfos(local(spark, rows, schema)), Nil)
    case "trace" =>
      encodeTraceResponse(rows.toSeq.map(x => TracePath(
        x.getAs[String]("path").split("->").toSeq.map(blockIdBytes), x.getAs[Int]("depth"))))
    case _ =>
      val code = Map("synced" -> 0, "needs_sync" -> 1, "sync_error" -> 2, "never_synced" -> 3)
      val infos = rows.toSeq.map(x => WorkspaceInfo(x.getAs[String]("workspace"),
        x.getAs[String]("root_path"), x.getAs[Long]("block_count").toInt,
        x.getAs[Long]("edge_count").toInt, x.getAs[Long]("synced_at"),
        code.getOrElse(x.getAs[String]("sync_status"), 3), x.getAs[Long]("storage_bytes")))
      encodeStatusResponse(StatusResponse(infos.map(_.blockCount.toLong).sum,
        infos.map(_.edgeCount.toLong).sum, 0, 0L, infos.map(_.storageBytes).sum, 0L, infos))
  }

  /** Traced run only, outside the replay: the core layer's share of a
    * query, the MVCC current view of the stored blocks, which
    * `store.current_graph` computes inside itself.
    */
  private def probeCore(ctx: Ctx, srv: Served): Unit =
    ctx.tracer.span("probe")(ctx.tracer.span("core.current_view") {
      Schemas.currentView(WorkspaceStore.load(ctx.spark, srv.stateDir).blocks).count()
    })

  private type Sample = (Gen.Request, Long, Boolean, Int, Int)

  def serve(ctx: Ctx): Unit = {
    val srv = setup(ctx)
    try {
      val model = Model.load(ctx.spark, srv.storeRoot)
      // how deep each name's traversal goes, per direction
      val reach = scala.collection.mutable.Map.empty[(String, Boolean), Int]
      def reaches(kind: String, depth: Int, name: String): Boolean =
        reach.getOrElseUpdate((name, kind == "callers"),
          model.bfs(name, kind == "callers", 3).map(_._2).max) >= depth
      val reqs = Gen.requests(ctx.seed, functionNames(model), 4000, reaches)
      // warm-up, outside every figure: every kind over both protocols,
      // so the first timed requests do not pay class loading and codegen
      for (k <- Seq("find", "callers", "callees", "trace", "status");
           p <- Seq("line", "binary"))
        send(srv, reqs.find(r => r.kind == k && r.depth == 1).get.copy(protocol = p))
      val plain, traced = ArrayBuffer.empty[Sample]
      def one(r: Gen.Request, trace: Boolean): Unit = {
        ctx.tracing = trace
        val (resp, ns) = ctx.op(r.kind) {
          val x = Harness.timed(ctx.call("client")(send(srv, r)))
          if (trace) { replay(ctx, srv, r); probeCore(ctx, srv) }
          x
        }
        val err = check(r, resp, model)
        ctx.report.attempt(err.isEmpty, err.getOrElse(""))
        (if (trace) traced else plain) += ((r, ns, err.isEmpty, resp.bytes, rowCount(resp)))
      }
      // the traced run sends every request twice, untraced and traced,
      // in alternating order, so the overhead compares the same requests
      val until = System.nanoTime() + ctx.seconds * 1000000000L
      var i = 0
      while (System.nanoTime() < until) {
        val r = reqs(i % reqs.size)
        if (!ctx.trace) one(r, trace = false)
        else if (i % 2 == 0) { one(r, trace = false); one(r, trace = true) }
        else { one(r, trace = true); one(r, trace = false) }
        i += 1
      }
      report(ctx, plain.toSeq, traced.toSeq)
    } finally srv.stop()
  }

  /** The mix's typical latency in ms: per-kind medians weighted by the
    * mix, steadier over a short run than one median across unlike kinds.
    */
  private def mix(s: Seq[Sample]): Double = {
    val byKind = s.groupBy(_._1.kind).map { case (k, v) => k -> Stats.median(v.map(_._2 / 1e6)) }
    val weight = Gen.Schedule.groupBy(_._1).map { case (k, v) => k -> v.size.toDouble }
    byKind.map { case (k, m) => weight(k) * m }.sum / byKind.keys.map(weight).sum
  }

  /** End-to-end figures from the untraced requests; in the traced run,
    * per-layer figures from the traced ones.
    */
  private def report(ctx: Ctx, plain: Seq[Sample], traced: Seq[Sample]): Unit = {
    val rep = ctx.report
    val ms = plain.map(x => x._2 / 1e6)
    val tail = Stats.tail(ms)
    val mixMs = mix(plain)
    rep.endToEnd("op_ms") = (mixMs, "ms")
    rep.named("serve.mix_ms", mixMs, "ms", "per-kind medians, mix-weighted")
    rep.named("serve.p50_ms", Stats.median(ms), "ms", s"n=${ms.size}")
    rep.named("serve.tail_ms", tail.value, "ms", f"p${tail.percentile}%.1f of n=${tail.n}")
    val finds = plain.filter(_._1.kind == "find").map(_._2 / 1e6)
    val trav = plain.filter(x => Set("callers", "callees", "trace")(x._1.kind)).map(_._2 / 1e6)
    if (finds.nonEmpty) rep.named("serve.find_p50_ms", Stats.median(finds), "ms", s"n=${finds.size}")
    if (trav.nonEmpty) rep.named("serve.traverse_p50_ms", Stats.median(trav), "ms", s"n=${trav.size}")
    rep.named("serve.rps", plain.count(_._3) / (plain.map(_._2).sum / 1e9), "1/s",
      "correct responses per busy second")
    for (p <- Seq("line", "binary")) {
      val x = plain.filter(_._1.protocol == p).map(_._2 / 1e6)
      if (x.nonEmpty) rep.named(s"serve.${p}_p50_ms", Stats.median(x), "ms", s"n=${x.size}")
    }
    if (ctx.trace) {
      rep.named("api.response_kb", traced.map(_._4).sum / 1024.0 / traced.size, "KB/op")
      // how closely the in-process replay reproduces the served request
      val spans = ctx.tracer.spans
      def total(name: String) = spans.filter(_.name == name).map(_.durNs).sum.toDouble
      rep.named("trace.replay_ratio", total("replay") / math.max(1.0, total("client")), "ratio",
        "replay wall time / client wall time")
      Harness.layerReport(ctx, traced.map(_._5.toLong).sum, (mix(traced) / mixMs - 1) * 100,
        _.name == "replay")
    }
  }

  // ----------------------------------------------------------- edit_sync

  def editSync(ctx: Ctx): Unit = {
    val srv = setup(ctx)
    try {
      val model = Model.load(ctx.spark, srv.storeRoot)
      val fns = model.blocks.values.filter(_.unitType == "function").toSeq
      val files = fns.map(_.filePath).distinct
      // a bare call resolves to a module-level function, so callees are
      // drawn from those (unit id "<file>:<name>") whose names are
      // identifiers (the parser suffixes repeated definitions `name#n`)
      val callees = fns.filter(_.unitId.count(_ == ':') == 1).map(b => lastSeg(b.unitId))
        .filter(_.matches("[A-Za-z_][A-Za-z0-9_]*"))
      val edits = Gen.edits(ctx.seed, files, callees, 1000)
      val root = java.nio.file.Paths.get(tree(ctx))
      val original = scala.collection.mutable.Map.empty[String, String]
      def path(f: String) = root.resolve(f)
      val cycles = ArrayBuffer.empty[(Long, Long, Seq[Long])]
      val syncStats = ArrayBuffer.empty[(Long, Long, Long)]
      var prev: Option[Gen.Edit] = None
      var i = 0
      // at least one cycle per phase: a sync can outlast the window
      def loop(until: Long): Unit = {
        val start = cycles.size
        while (cycles.size == start || System.nanoTime() < until) {
          val e = edits(i % edits.size)
          i += 1
          prev.foreach(p => java.nio.file.Files.writeString(path(p.file), original(p.file)))
          val before = original.getOrElseUpdate(e.file,
            java.nio.file.Files.readString(path(e.file)))
          java.nio.file.Files.writeString(path(e.file),
            before + s"\n\ndef ${e.name}():\n    return ${e.callee}()\n")
          val (((sync, syncNs), reads), cycleNs) = Harness.timed(ctx.op("cycle") {
            val s = Harness.timed(ctx.call("client.sync")(
              srv.client.line(s"sync --name $Workspace")._1))
            val f = Harness.timed(ctx.call("client.find")(
              srv.client.line(s"find --type function --name ${e.name}")._1))
            val sh = Harness.timed(ctx.call("client.show")(srv.client.line(
              s"show --relation callers --target ${e.callee} --max-depth 1")._1))
            if (ctx.tracing) replaySync(ctx, srv)
            (s, Seq(f, sh))
          })
          syncStats ++= checkCycle(ctx, srv, e, prev, sync, reads.map(_._1))
          cycles += ((cycleNs, syncNs, reads.map(_._2)))
          prev = Some(e)
        }
      }
      val untraced = ctx.measure(cycles.size)(loop)
      val rep = ctx.report
      val traced = untraced.map(n => cycles.drop(n)).getOrElse(cycles).toSeq
      val cyc = traced.map(_._1 / 1e6)
      rep.endToEnd("op_ms") = (Stats.median(cyc), "ms")
      rep.named("cycle.p50_ms", Stats.median(cyc), "ms", s"n=${cyc.size}")
      rep.named("sync.p50_s", Stats.median(traced.map(_._2 / 1e9)), "s", s"n=${traced.size}")
      val raw = traced.flatMap(_._3).map(_ / 1e6)
      rep.named("read_after_write.p50_ms", Stats.median(raw), "ms", s"n=${raw.size}")
      rep.named("ingest.reparse_ratio",
        syncStats.map(_._2).sum.toDouble / math.max(1L, syncStats.map(_._1).sum), "ratio")
      rep.named("core.mvcc_rows_appended",
        syncStats.map(_._3).sum.toDouble / math.max(1, syncStats.size), "rows/sync")
      if (ctx.trace) {
        val base = Stats.median(cycles.take(untraced.get).map(_._1 / 1e6).toSeq)
        val syncW = ctx.windows.filter(_._1 == "client.sync").map(_._2)
        rep.named("store.write_mb", syncW.map(_.outputBytes).sum / 1048576.0 /
          math.max(1, syncW.size), "MB/sync")
        rep.named("store.sync_ms", syncW.map(_.wallMs).sum.toDouble /
          math.max(1, syncW.size), "ms/sync")
        Harness.layerReport(ctx, traced.size.toLong, (Stats.median(cyc) / base - 1) * 100,
          _.name == "replay")
      }
    } finally srv.stop()
  }

  /** Untimed checks of one cycle: the sync reparsed the edit, the new
    * function and its call edge are visible, the previous one is gone.
    * Returns the sync summary (files processed, files reparsed, block
    * rows appended).
    */
  private def checkCycle(ctx: Ctx, srv: Served, e: Gen.Edit, prev: Option[Gen.Edit],
                         sync: JsonNode, reads: Seq[JsonNode]): Option[(Long, Long, Long)] = {
    val rep = ctx.report
    val unit = s"${e.file}:${e.name}"
    val syncRow = Client.rows(sync).toOption.flatMap(_.headOption)
    rep.attempt(syncRow.exists(r => int(r, "files_reparsed") >= 1),
      s"sync ${e.name}: $sync")
    val found = Client.rows(reads(0)).toOption.getOrElse(Nil)
    rep.attempt(found.exists(_.path("unit_id").asText == unit),
      s"find ${e.name}: ${reads(0).toString.take(300)}")
    val callers = Client.rows(reads(1)).toOption.getOrElse(Nil)
    rep.attempt(callers.exists(r => r.path("unit_id").asText == unit &&
      r.path("depth").asInt == 1), s"callers of ${e.callee} lack ${e.name}")
    prev.filter(_.name != e.name).foreach { p =>
      val (j, _) = srv.client.line(s"find --type function --name ${p.name}")
      rep.attempt(Client.rows(j).exists(_.isEmpty), s"${p.name} still visible: $j")
    }
    syncRow.map(r => (int(r, "files_processed"), int(r, "files_reparsed"),
      int(r, "blocks_synced") + int(r, "blocks_removed")))
  }

  /** Traced run only: the sync's read and current-view steps replayed. */
  private def replaySync(ctx: Ctx, srv: Served): Unit = {
    val spark = ctx.spark
    ctx.tracer.span("replay") {
      ctx.tracer.span("ingest.read") {
        Ingest.readDirectory(spark, tree(ctx)).toDF()
          .select(xxhash64(col("content"))).collect()
      }
      val st = ctx.tracer.span("store.load")(WorkspaceStore.load(spark, srv.stateDir))
      ctx.tracer.span("core.current_view")(Schemas.currentView(st.blocks).count())
    }
  }
}
