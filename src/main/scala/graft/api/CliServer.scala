package graft.api

import org.apache.spark.sql.SparkSession

/** `kausal server` — the long-lived daemon mode
  * (`/root/reference/src/cli/parser.zig:225` `parse_server`,
  * `src/server/connection_manager.zig`; the reference's e2e suite runs
  * every query against a live server, `tests/e2e/harness.zig:1-40`).
  *
  * The Spark analogue: a thin line-protocol loop over a warmed
  * SparkSession — the session, its extensions, and the workspace store
  * stay hot across requests, which is the entire point of daemon mode
  * (a cold `Cli.main` pays session startup per query; the reference
  * pays storage recovery per CLI invocation the same way,
  * `src/cli/cli.zig` connect-or-spawn).
  *
  * Protocol, mirroring the reference's request/response framing at
  * line granularity instead of its binary TCP header
  * (`server/cli_protocol.zig:83-574` — the wire FORMAT is a transport
  * detail, the command vocabulary is the capability):
  *   - one request per line: the CLI argument vector, shell-style
  *     tokenized (double quotes group words);
  *   - one response per line: `{"ok":true,"result":[...]}` with the
  *     rows as JSON objects, or `{"ok":false,"error":"..."}`;
  *   - `stop` shuts the server down (reference `kausal server stop`);
  *   - `stats` answers the server's counters ([[CliServer.Counters]]):
  *     requests, errors and a latency histogram per command over both
  *     protocols, plus the session [[graft.query.QueryCache]]'s hits,
  *     misses and invalidations. Counting costs one `nanoTime` pair per
  *     request.
  *
  * Connections are handled sequentially — the single-threaded core is
  * the reference's own concurrency model ("Single-Threaded Core: no
  * data races by design", README.md:46); Spark parallelism lives
  * INSIDE each query, not across requests.
  */
final class CliServer(spark: SparkSession, stateDir: String, port: Int = 0,
                      host: String = "127.0.0.1") {

  // bind the REQUESTED interface, loopback by default — an
  // unauthenticated line protocol that can link arbitrary paths and
  // read file contents must never listen on the wildcard address
  // unless the operator explicitly asks (--host 0.0.0.0)
  private val socket = new java.net.ServerSocket(
    port, 50, java.net.InetAddress.getByName(host))
  @volatile private var running = true
  private val thread = new Thread(() => acceptLoop(), "graft-cli-server")
  private val counters = new CliServer.Counters

  /** Ephemeral-port friendly: the actually-bound port. */
  def boundPort: Int = socket.getLocalPort

  def start(): this.type = {
    thread.setDaemon(true)
    thread.start()
    this
  }

  /** Blocks until the serve loop exits (a client sent `stop`). */
  def awaitTermination(): Unit = thread.join()

  /** Idempotent shutdown; joins the accept loop. */
  def stop(): Unit = {
    running = false
    try socket.close() catch { case _: java.io.IOException => () }
    thread.join(30000)
  }

  private def acceptLoop(): Unit =
    while (running) {
      try {
        val conn = socket.accept()
        try handle(conn) finally conn.close()
      } catch {
        case _: java.net.SocketException => () // closed by stop()
        case _: java.io.IOException => ()
      }
    }

  /** Protocol sniff on the FIRST byte only: the binary magic starts
    * 0x4C ('L', LE 'KAUL'), while every line-protocol command word is
    * lowercase — so one byte disambiguates. Peeking more would block a
    * line client that sends fewer than 4 bytes and waits for a reply
    * (an empty line, a 1-2 char command) forever. The peeked byte is
    * pushed back either way; a stray 'L' from a malformed line client
    * lands in the binary handler's header validation and gets a framed
    * error, the same contract as any malformed binary frame.
    */
  private def handle(conn: java.net.Socket): Unit = {
    val raw = new java.io.PushbackInputStream(
      new java.io.BufferedInputStream(conn.getInputStream), 1)
    val first = raw.read()
    if (first < 0) return
    raw.unread(first)
    if (first == 0x4C) {
      handleBinary(raw, conn.getOutputStream)
      return
    }
    val in = new java.io.BufferedReader(
      new java.io.InputStreamReader(raw, "UTF-8"))
    val out = new java.io.PrintWriter(
      new java.io.OutputStreamWriter(conn.getOutputStream, "UTF-8"), true)
    var line = in.readLine()
    while (line != null && running) {
      val toks = CliServer.tokenize(line)
      if (toks == Seq("stop")) {
        out.println("""{"ok":true,"result":[{"reply":"stopping"}]}""")
        running = false
        try socket.close() catch { case _: java.io.IOException => () }
        return
      }
      if (toks == Seq("stats")) out.println(statsJson())
      else {
        val t0 = System.nanoTime()
        val resp = dispatch(toks)
        counters.record(toks.headOption.filter(CliServer.LineCommands)
          .getOrElse("other"), System.nanoTime() - t0,
          resp.startsWith("""{"ok":true"""))
        out.println(resp)
      }
      line = if (running) in.readLine() else null
    }
  }

  /** The reference's binary protocol loop
    * (`/root/reference/src/server/cli_protocol.zig:40-90` dispatch):
    * framed request in, framed response out, one connection until EOF.
    * Request semantics mirror the reference handlers exactly:
    * find parses the `workspace:X type:Y name:Z` structured query
    * (`:231-245`), show_callers/callees are depth-bounded traversals
    * returning blocks with an EMPTY edge array (`:334` — the reference
    * passes `&[_]GraphEdge{}` too), trace picks callees when `source`
    * is non-empty else callers (`:402`), and link/sync/unlink map to
    * the workspace store. A malformed header answers
    * `error_response(invalid_request)` and closes, like
    * `MessageHeader.validate` failing the connection.
    */
  private def handleBinary(in: java.io.InputStream,
                           rawOut: java.io.OutputStream): Unit = {
    import BinaryProtocol._
    val out = new java.io.BufferedOutputStream(rawOut)
    var open = true
    while (open && running) {
      readMessage(in) match {
        case Left("eof") => open = false
        case Left(err) =>
          writeMessage(out, MsgType.ErrorResponse,
            encodeErrorResponse(ErrorResponse(ErrorCode.InvalidRequest, err)))
          open = false
        case Right((h, payload)) =>
          val t0 = System.nanoTime()
          val (t, p) =
            try respondBinary(h.msgType, payload)
            catch {
              case e: Throwable =>
                (MsgType.ErrorResponse, encodeErrorResponse(ErrorResponse(
                  ErrorCode.ServerError,
                  s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}")))
            }
          counters.record(CliServer.binaryCommand(h.msgType),
            System.nanoTime() - t0, t != MsgType.ErrorResponse)
          writeMessage(out, t, p)
      }
    }
  }

  /** One request → (response type, response payload). */
  private def respondBinary(msgType: Int,
                            payload: Array[Byte]): (Int, Array[Byte]) = {
    import BinaryProtocol._
    def err(code: Int, msg: String): (Int, Array[Byte]) =
      (MsgType.ErrorResponse, encodeErrorResponse(ErrorResponse(code, msg)))
    def operation(df: org.apache.spark.sql.DataFrame): (Int, Array[Byte]) = {
      df.collect() // execute for effect; workspace results are tiny
      (MsgType.OperationResponse,
        encodeOperationResponse(OperationResponse(success = true, "ok")))
    }
    def queryBlocks(cmd: Cli.Command): org.apache.spark.sql.DataFrame =
      Cli.executeQuery(spark, stateDir, cmd)
    msgType match {
      case MsgType.PingRequest =>
        (MsgType.PongResponse, Array.emptyByteArray)
      case MsgType.FindRequest =>
        decodeFindRequest(payload) match {
          case Left(m) => err(ErrorCode.InvalidRequest, m)
          case Right(req) =>
            // structured query `workspace:X type:Y name:Z`
            // (cli_protocol.zig:231-245); bare text is the name and the
            // type defaults to function
            var ws = ""; var etype = "function"; var name = req.query
            req.query.split(" ").foreach { part =>
              if (part.startsWith("workspace:")) ws = part.drop(10)
              else if (part.startsWith("type:")) etype = part.drop(5)
              else if (part.startsWith("name:")) name = part.drop(5)
            }
            val df = queryBlocks(Cli.FindCmd(etype, name, ws,
              math.min(req.maxResults, MaxBlocksPerResponse)))
            (MsgType.FindResponse, encodeFindResponse(CliServer.blockInfos(df)))
        }
      case MsgType.ShowCallersRequest | MsgType.ShowCalleesRequest =>
        decodeShowRequest(payload) match {
          case Left(m) => err(ErrorCode.InvalidRequest, m)
          case Right(req) =>
            val rel = if (msgType == MsgType.ShowCallersRequest) "callers"
                      else "callees"
            val df = queryBlocks(Cli.ShowCmd(rel, req.target,
              maxDepth = math.max(req.maxDepth, 1)))
            (MsgType.ShowResponse,
              encodeShowResponse(CliServer.blockInfos(df), Nil))
        }
      case MsgType.TraceRequest =>
        decodeTraceRequest(payload) match {
          case Left(m) => err(ErrorCode.InvalidRequest, m)
          case Right(req) =>
            // source non-empty => callees from source, else callers of
            // target (cli_protocol.zig:401-402)
            val (dir, entity) =
              if (req.source.nonEmpty) ("callees", req.source)
              else ("callers", req.target)
            if (entity.isEmpty)
              err(ErrorCode.InvalidRequest, "Either source or target must be specified")
            else {
              val df = queryBlocks(
                Cli.TraceCmd(dir, entity, math.max(req.maxDepth, 1)))
              val rows = df.collect()
              val pathIdx = df.columns.indexOf("path")
              val depthIdx = df.columns.indexOf("depth")
              val paths = rows.toSeq.map { r =>
                val nodes = r.getString(pathIdx).split("->").toSeq
                TracePath(nodes.map(blockIdBytes),
                  r.getInt(depthIdx))
              }
              (MsgType.TraceResponse, encodeTraceResponse(paths))
            }
        }
      case MsgType.LinkRequest =>
        decodeLinkRequest(payload) match {
          case Left(m) => err(ErrorCode.InvalidRequest, m)
          case Right(req) =>
            val name = if (req.name.nonEmpty) req.name
                       else new java.io.File(req.path).getName
            operation(Cli.executeWorkspace(spark, stateDir,
              Cli.LinkCmd(req.path, name)))
        }
      case MsgType.SyncRequest =>
        decodeSyncRequest(payload) match {
          case Left(m) => err(ErrorCode.InvalidRequest, m)
          case Right(req) if req.name == "--all" =>
            // the reference's sync-all sentinel travels IN the name
            // field (cli_protocol.zig:514-545); an empty registry is
            // a server_error, not a no-op success. The emptiness check
            // is on the COLLECTED name list (r12, ADVICE) — an
            // IllegalArgumentException out of sync itself (a concurrent
            // unlink between this read and sync's own load) propagates
            // to the generic ServerError path instead of masquerading
            // as "no codebases".
            import spark.implicits._
            val names = graft.core.Schemas.currentView(
              WorkspaceStore.load(spark, stateDir).registry)
              .select("id").as[String].collect().toSeq
            if (names.isEmpty) err(ErrorCode.ServerError,
              "No linked codebases to sync")
            else {
              val n = WorkspaceStore.sync(spark, stateDir, names).count()
              (MsgType.OperationResponse, encodeOperationResponse(
                OperationResponse(success = true,
                  s"Successfully synced $n codebases")))
            }
          case Right(req) =>
            operation(Cli.executeWorkspace(spark, stateDir,
              Cli.SyncCmd(Some(req.name))))
        }
      case MsgType.UnlinkRequest =>
        // reuses the SyncRequest payload layout (client.zig:243)
        decodeSyncRequest(payload) match {
          case Left(m) => err(ErrorCode.InvalidRequest, m)
          case Right(req) =>
            operation(Cli.executeWorkspace(spark, stateDir,
              Cli.UnlinkCmd(req.name)))
        }
      case MsgType.ClearWorkspaceRequest =>
        // EMPTY payload; clears ALL linked codebases (the reference
        // handler rejects any payload and calls
        // clear_all_linked_codebases — cli_protocol.zig:556-573)
        if (payload.nonEmpty)
          err(ErrorCode.InvalidRequest,
            "Clear workspace request should have empty payload")
        else {
          WorkspaceStore.clearAll(spark, stateDir).collect()
          (MsgType.OperationResponse, encodeOperationResponse(
            OperationResponse(success = true,
              "Successfully cleared all linked codebases from workspace")))
        }
      case MsgType.StatusRequest =>
        val rows = Cli.executeWorkspace(spark, stateDir,
          Cli.StatusCmd(verbose = true)).collect()
        val statusCode = Map("synced" -> 0, "needs_sync" -> 1,
          "sync_error" -> 2, "never_synced" -> 3)
        val infos = rows.toSeq.take(MaxWorkspacesPerStatus).map { r =>
          WorkspaceInfo(
            name = r.getAs[String]("workspace"),
            path = r.getAs[String]("root_path"),
            blockCount = r.getAs[Long]("block_count").toInt,
            edgeCount = r.getAs[Long]("edge_count").toInt,
            lastSyncTimestamp = r.getAs[Long]("synced_at"),
            syncStatus = statusCode.getOrElse(r.getAs[String]("sync_status"), 3),
            storageBytes = r.getAs[Long]("storage_bytes"))
        }
        val resp = StatusResponse(
          blockCount = infos.map(_.blockCount.toLong).sum,
          edgeCount = infos.map(_.edgeCount.toLong).sum,
          sstableCount = 0, memtableSize = 0L,
          totalDiskUsage = infos.map(_.storageBytes).sum,
          uptimeSeconds = (System.nanoTime() - startedNanos) / 1000000000L,
          workspaces = infos)
        (MsgType.StatusResponse, encodeStatusResponse(resp))
      case other =>
        err(ErrorCode.UnknownCommand, f"unknown message type 0x$other%04X")
    }
  }

  private val startedNanos = System.nanoTime()

  /** The `stats` reply: one row holding the uptime, the session
    * cache's counts and the per-command counters.
    */
  private def statsJson(): String = {
    val cache = graft.query.QueryCache.forSession(spark)
    val (hits, misses, _) = cache.stats
    val uptime = (System.nanoTime() - startedNanos) / 1000000000L
    s"""{"ok":true,"result":[{"uptime_s":$uptime,"cache_hits":$hits,""" +
      s""""cache_misses":$misses,"cache_invalidations":${cache.invalidations},""" +
      s"""${counters.json}}]}"""
  }

  private def dispatch(toks: Seq[String]): String =
    try Cli.parse(toks) match {
      case Left(err) => CliServer.errorJson(err)
      case Right(cmd) =>
        val df =
          if (!Cli.isQueryCommand(cmd)) Cli.executeWorkspace(spark, stateDir, cmd)
          else Cli.executeQuery(spark, stateDir, cmd)
        s"""{"ok":true,"result":${Cli.render(df, "json")}}"""
    } catch {
      case e: Throwable =>
        CliServer.errorJson(
          s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}")
    }
}

object CliServer {

  /** Line-protocol command words counted under their own name; any
    * other first token counts as `other`.
    */
  private val LineCommands = Set("find", "show", "trace", "link", "unlink",
    "sync", "status", "ping", "version", "help")

  /** The counter name of a binary request type (the line verb it maps to). */
  private def binaryCommand(msgType: Int): String = {
    import BinaryProtocol.MsgType._
    msgType match {
      case FindRequest => "find"
      case ShowCallersRequest | ShowCalleesRequest => "show"
      case TraceRequest => "trace"
      case LinkRequest => "link"
      case UnlinkRequest => "unlink"
      case SyncRequest => "sync"
      case ClearWorkspaceRequest => "clear"
      case StatusRequest => "status"
      case PingRequest => "ping"
      case _ => "other"
    }
  }

  /** Requests, errors and latency per command: a fixed log-bucket
    * histogram whose bucket i < [[Counters.Bounds]].length counts the
    * requests that took at most `Bounds(i)` ms (and more than the
    * bound before it); the last bucket counts the slower rest.
    */
  private[api] final class Counters {
    // per command: requests, errors, total ns, then the bucket counts
    private val byCommand = scala.collection.mutable.TreeMap.empty[String, Array[Long]]

    def record(command: String, nanos: Long, ok: Boolean): Unit = synchronized {
      val c = byCommand.getOrElseUpdate(command,
        new Array[Long](3 + Counters.Bounds.length + 1))
      c(0) += 1
      if (!ok) c(1) += 1
      c(2) += nanos
      c(3 + Counters.bucket(nanos)) += 1
    }

    /** `"bucket_le_ms":[...],"commands":[...]`, commands by name. */
    def json: String = synchronized {
      val cmds = byCommand.map { case (k, c) =>
        f"""{"command":"$k","requests":${c(0)},"errors":${c(1)},""" +
          f""""total_ms":${c(2) / 1e6}%.3f,"buckets":${c.drop(3).mkString("[", ",", "]")}}"""
      }
      s""""bucket_le_ms":${Counters.Bounds.mkString("[", ",", "]")},""" +
        s""""commands":${cmds.mkString("[", ",", "]")}"""
    }
  }

  private[api] object Counters {
    /** Bucket upper bounds: 1, 2, 4, ... 65,536 ms. */
    val Bounds: Seq[Long] = (0 to 16).map(1L << _)

    def bucket(nanos: Long): Int = {
      val ms = (nanos + 999999L) / 1000000L // rounded up
      if (ms <= 1) 0
      else math.min(64 - java.lang.Long.numberOfLeadingZeros(ms - 1), Bounds.length)
    }
  }

  /** Shell-style request tokenizer: whitespace-separated, double quotes
    * group words (`find --name "Foo Bar"`). No escapes — names with
    * embedded quotes don't occur in the command vocabulary.
    */
  private[api] def tokenize(line: String): Seq[String] = {
    val toks = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var inQuote = false
    var seen = false
    for (c <- line) c match {
      case '"' => inQuote = !inQuote; seen = true
      case ' ' | '\t' if !inQuote =>
        if (seen) { toks += cur.result(); cur.clear(); seen = false }
      case ch => cur += ch; seen = true
    }
    if (seen) toks += cur.result()
    toks.toSeq
  }

  /** One-shot client: connect, send one request line, read one response
    * line — `kausal server stop` / `server status` against a live
    * daemon.
    */
  def request(host: String, port: Int, line: String): String = {
    val s = new java.net.Socket(host, port)
    try {
      val out = new java.io.PrintWriter(
        new java.io.OutputStreamWriter(s.getOutputStream, "UTF-8"), true)
      val in = new java.io.BufferedReader(
        new java.io.InputStreamReader(s.getInputStream, "UTF-8"))
      out.println(line)
      Option(in.readLine()).getOrElse("")
    } finally s.close()
  }

  /** Pack a (bounded) block-result frame into wire `BlockInfo`s —
    * `BlockInfo.from_block` (protocol.zig:436-449): id, source URI
    * (the [[Cli.renderLlm]] column conventions: `source_uri` then
    * `file_path` then `unknown`), 256-byte content preview, and the
    * metadata size as the byte length of the same metadata JSON the
    * llm renderer assembles from the non-core columns.
    */
  private[api] def blockInfos(
      df: org.apache.spark.sql.DataFrame): Seq[BinaryProtocol.BlockInfo] = {
    val cols = df.columns
    val idx = cols.zipWithIndex.toMap
    val core = Set("id", "source_uri", "file_path", "sequence", "content")
    val metaCols = cols.filterNot(core)
    df.collect().toSeq.map { r =>
      def str(c: String): Option[String] =
        idx.get(c).flatMap(j => Option(r.get(j)).map(_.toString))
      val metaJson = metaCols.map(c =>
        "\"" + c + "\":\"" + str(c).getOrElse("") + "\"")
        .mkString("{", ",", "}")
      BinaryProtocol.BlockInfo(
        BinaryProtocol.blockIdBytes(str("id").getOrElse("")),
        str("source_uri").orElse(str("file_path")).getOrElse("unknown"),
        str("content").getOrElse(""),
        metaJson.getBytes("UTF-8").length)
    }
  }

  private[api] def errorJson(msg: String): String =
    """{"ok":false,"error":"""" + msg.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\"}"
}
