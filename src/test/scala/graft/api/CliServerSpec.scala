package graft.api

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.SparkSpec

/** e2e for daemon mode, the shape of the reference's e2e harness
  * (`/root/reference/tests/e2e/harness.zig:1-40`: spawn server → send
  * commands over the socket → assert responses → stop): start a
  * CliServer on an ephemeral port against a fresh state dir, drive the
  * full lifecycle (ping → link a real tree → find → show callers →
  * status) through the wire, then `stop` and verify shutdown.
  */
class CliServerSpec extends SparkSpec {

  private def writeTree(files: (String, String)*): java.io.File = {
    val root = java.nio.file.Files.createTempDirectory("graft-srv").toFile
    for ((rel, content) <- files) {
      val f = new java.io.File(root, rel)
      f.getParentFile.mkdirs()
      java.nio.file.Files.write(f.toPath, content.getBytes("UTF-8"))
    }
    root
  }

  test("server parse: modes, flags, defaults (parser.zig:274-314)") {
    assert(Cli.parse(Seq("server")) == Right(Cli.ServerCmd("start")))
    assert(Cli.parse(Seq("server", "start", "--port", "7070")) ==
      Right(Cli.ServerCmd("start", port = 7070)))
    assert(Cli.parse(Seq("server", "stop", "--host", "h", "--port", "1")) ==
      Right(Cli.ServerCmd("stop", "h", 1)))
    assert(Cli.parse(Seq("server", "status", "--port", "9", "--data-dir", "/x")) ==
      Right(Cli.ServerCmd("status", port = 9, dataDir = Some("/x"))))
    // stop/status/restart must name the daemon: a portless stop would
    // connect to port 0 (never valid) and a portless restart would
    // silently spawn a second daemon beside the running one
    assert(Cli.parse(Seq("server", "status")).isLeft)
    assert(Cli.parse(Seq("server", "stop")).isLeft)
    assert(Cli.parse(Seq("server", "restart")).isLeft)
    assert(Cli.parse(Seq("server", "bogus")).isLeft)
    assert(Cli.parse(Seq("server", "--port")).isLeft)   // dangling value
    assert(Cli.parse(Seq("server", "--port", "x")).isLeft)
  }

  test("lifecycle over the wire: ping -> link -> find -> callers -> stop") {
    val tree = writeTree("lib.zig" ->
      "fn alpha() void {\n    beta();\n}\nfn beta() void {\n    return;\n}\n")
    val state = java.nio.file.Files.createTempDirectory("graft-srv-state")
      .toFile.getAbsolutePath
    val srv = new CliServer(spark, state).start()
    val port = srv.boundPort
    try {
      def req(line: String): String = CliServer.request("127.0.0.1", port, line)

      assert(req("ping").contains("\"pong\""))
      assert(req("version").contains(Cli.Version))

      val linked = req(s"link --path ${tree.getAbsolutePath} --name proj")
      assert(linked.startsWith("""{"ok":true"""), linked)

      val found = req("find --type function --name alpha --workspace proj")
      assert(found.contains("lib.zig:alpha"), found)

      // alpha calls beta -> alpha is a depth-1 caller of beta
      val callers = req("show --relation callers --target beta --workspace proj")
      assert(callers.contains("lib.zig:beta") &&
        callers.contains("lib.zig:alpha"), callers)

      // parse errors come back structured, connection stays usable
      assert(req("find --typo x").startsWith("""{"ok":false"""))
      assert(req("ping").contains("\"pong\""))

      // one request per line on a SINGLE connection too
      val s = new java.net.Socket("127.0.0.1", port)
      try {
        val out = new java.io.PrintWriter(
          new java.io.OutputStreamWriter(s.getOutputStream, "UTF-8"), true)
        val in = new java.io.BufferedReader(
          new java.io.InputStreamReader(s.getInputStream, "UTF-8"))
        out.println("status")
        assert(in.readLine().contains("proj"))
        out.println("help --topic server")
        assert(in.readLine().contains("server [start|stop|restart|status]"))
      } finally s.close()

      assert(req("stop").contains("stopping"))
      srv.awaitTermination()
      intercept[java.io.IOException] {
        CliServer.request("127.0.0.1", port, "ping")
      }
    } finally {
      srv.stop()
      Option(tree.listFiles()).foreach(_.foreach(_.delete())); tree.delete()
    }
  }

  /** Bytes read through Hadoop's local file system, by every thread. */
  private def fileBytesRead(): Long = {
    import scala.jdk.CollectionConverters._
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesRead).sum
  }

  /** Jobs run, and bytes the session read from files, while `f` runs.
    * The bytes come from the file system's counters, not from task
    * input metrics: Spark adds every cached block a task reads to
    * `inputMetrics.bytesRead` too, so those never read 0 over a
    * resident copy.
    */
  private def measured[T](f: => T): (T, Int, Long) = {
    val sc = spark.sparkContext
    org.apache.spark.graft.ListenerBusDrain.drain(sc)
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    sc.addSparkListener(l)
    try {
      val read0 = fileBytesRead()
      val r = f
      val read = fileBytesRead() - read0
      org.apache.spark.graft.ListenerBusDrain.drain(sc)
      (r, jobs.get, read)
    } finally sc.removeSparkListener(l)
  }

  private def json(s: String): JsonNode = new ObjectMapper().readTree(s)

  private val alphaBeta =
    "fn alpha() void {\n    beta();\n}\nfn beta() void {\n    return;\n}\n"

  /** A linked one-file tree behind one server, shared by the
    * resident-graph tests below because a link runs over a hundred
    * Spark jobs. They run in file order; only the last one writes to
    * the store.
    */
  private final class Linked {
    val tree: java.io.File = writeTree("lib.zig" -> alphaBeta)
    val state: String = java.nio.file.Files.createTempDirectory("graft-srv-state")
      .toFile.getAbsolutePath
    val srv: CliServer = new CliServer(spark, state).start()
    def req(line: String): String = CliServer.request("127.0.0.1", srv.boundPort, line)
    def find(name: String): String = req(s"find --type function --name $name")
    private val linked = req(s"link --path ${tree.getAbsolutePath} --name proj")
    assert(linked.startsWith("""{"ok":true"""), linked)
  }

  private var linkedStore = Option.empty[Linked]
  private def linked: Linked = linkedStore.getOrElse {
    val l = new Linked; linkedStore = Some(l); l
  }

  override def afterAll(): Unit = {
    linkedStore.foreach { l =>
      l.srv.stop()
      Option(l.tree.listFiles()).foreach(_.foreach(_.delete())); l.tree.delete()
    }
    super.afterAll()
  }

  private def stats(): JsonNode = {
    val st = json(linked.req("stats"))
    assert(st.path("ok").asBoolean(), st)
    st.path("result").get(0)
  }

  private def commands(row: JsonNode): Map[String, JsonNode] =
    (0 until row.path("commands").size).map(row.path("commands").get(_))
      .map(c => c.path("command").asText -> c).toMap

  private def longs(a: JsonNode): Seq[Long] =
    (0 until a.size).map(a.get(_).asLong)

  test("resident graph: warm queries read no parquet; status, load and caller unpersist keep it") {
    val l = linked
    val cache = graft.query.QueryCache.forSession(spark)
    val (first, jobs1, bytes1) = measured(l.find("alpha"))
    assert(first.contains("lib.zig:alpha"), first)
    assert(bytes1 > 0L, "the first query reads the store")
    val (second, jobs2, bytes2) = measured(l.find("alpha"))
    assert(second == first)
    assert(bytes2 == 0L, "a warm find scans no parquet")
    assert(jobs2 <= jobs1, s"warm $jobs2 jobs vs cold $jobs1")
    val misses = cache.stats._2
    // status answers from the same entry; load's refreshByPath
    // re-caches persisted plans over the store path
    assert(l.req("status").contains("proj"))
    WorkspaceStore.load(spark, l.state)
    // a caller persisting and dropping the frames it was handed
    val (b, e) = WorkspaceStore.currentGraph(spark, l.state)
    b.persist().count(); e.persist().count()
    b.unpersist(true); e.unpersist(true)
    val (third, _, bytes3) = measured(
      l.req("show --relation callers --target beta --max-depth 2"))
    assert(third.contains("lib.zig:alpha"), third)
    assert(bytes3 == 0L, "no rebuild after status, load or unpersist")
    assert(cache.stats._2 == misses, "no cache miss after the first find")
  }

  test("stats verb: per-command counts, latency histograms and cache counters") {
    val l = linked
    l.find("beta") // the resident entry is built
    val before = stats()
    l.find("alpha")
    l.find("beta")
    l.req("find --typo x")
    l.req("status")
    // a binary find counts under the same command
    val sock = new java.net.Socket("127.0.0.1", l.srv.boundPort)
    try {
      import BinaryProtocol._
      writeMessage(sock.getOutputStream, MsgType.FindRequest,
        encodeFindRequest(FindRequest("alpha", 10)))
      val reply = readMessage(sock.getInputStream)
      assert(reply.exists(_._1.msgType == MsgType.FindResponse), reply)
    } finally sock.close()
    val row = stats()
    val fields = scala.jdk.CollectionConverters.IteratorHasAsScala(
      row.fieldNames()).asScala.toSeq
    assert(fields == Seq("uptime_s", "cache_hits", "cache_misses",
      "cache_invalidations", "bucket_le_ms", "commands"))
    val bounds = longs(row.path("bucket_le_ms"))
    assert(bounds == (0 to 16).map(1L << _))
    val (was, now) = (commands(before), commands(row))
    assert(now("link").path("requests").asLong == 1L)
    def delta(cmd: String, field: String): Long =
      now(cmd).path(field).asLong - was.get(cmd).map(_.path(field).asLong).getOrElse(0L)
    assert(delta("find", "requests") == 4L && delta("find", "errors") == 1L)
    assert(delta("status", "requests") == 1L && delta("status", "errors") == 0L)
    val buckets = longs(now("find").path("buckets"))
    assert(buckets.length == bounds.length + 1 &&
      buckets.sum == now("find").path("requests").asLong)
    assert(now("find").path("total_ms").asDouble > 0.0)
    // the three answered finds and the status hit the resident entry
    assert(row.path("cache_hits").asLong - before.path("cache_hits").asLong >= 4L)
    assert(row.path("cache_misses").asLong == before.path("cache_misses").asLong)
  }

  test("warm depth-3 show and trace: at most 8 jobs each, no parquet read") {
    val l = linked
    for (line <- Seq("show --relation callers --target beta --max-depth 3",
                     "trace --direction callers --target beta --max-depth 3")) {
      val cold = l.req(line)
      val (warm, jobs, bytes) = measured(l.req(line))
      assert(warm == cold)
      // beta at depth 0, its caller alpha at depth 1
      assert(json(warm).path("result").size == 2, warm)
      assert(jobs <= 8, s"$line: $jobs jobs")
      assert(bytes == 0L, s"$line read parquet")
    }
  }

  /** RDD blocks stored while `f` runs. */
  private def rddBlocksStored(f: => Unit): Int = {
    val sc = spark.sparkContext
    org.apache.spark.graft.ListenerBusDrain.drain(sc)
    val stored = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onBlockUpdated(
          e: org.apache.spark.scheduler.SparkListenerBlockUpdated): Unit = {
        val b = e.blockUpdatedInfo
        if (b.blockId.isRDD && b.storageLevel.isValid) stored.incrementAndGet()
      }
    }
    sc.addSparkListener(l)
    try { f; org.apache.spark.graft.ListenerBusDrain.drain(sc); stored.get }
    finally sc.removeSparkListener(l)
  }

  test("warm find/show/trace/status: no job over driver-held tables; threshold -1 answers the same") {
    import BinaryProtocol._
    val l = linked
    def binary(port: Int, msgType: Int, payload: Array[Byte]): Any = {
      val sock = new java.net.Socket("127.0.0.1", port)
      try {
        writeMessage(sock.getOutputStream, msgType, payload)
        val (h, p) = readMessage(sock.getInputStream).toOption.get
        // a status reply carries the server's uptime; the rest is compared
        if (h.msgType == MsgType.StatusResponse)
          decodeStatusResponse(p).toOption.get.copy(uptimeSeconds = 0L)
        else (h.msgType, p.toSeq)
      } finally sock.close()
    }
    val lines = Seq("find --type function --name alpha",
      "show --relation callers --target beta --max-depth 3",
      "trace --direction callers --target beta --max-depth 3",
      "status")
    val frames = Seq(
      MsgType.FindRequest -> encodeFindRequest(FindRequest("alpha", 10)),
      MsgType.ShowCallersRequest -> encodeShowRequest(ShowRequest("beta", 3)),
      MsgType.TraceRequest -> encodeTraceRequest(TraceRequest("", "beta", 3)),
      MsgType.StatusRequest -> Array.emptyByteArray)
    def requests(port: Int): Seq[(String, () => Any)] =
      lines.map(q => q -> (() => CliServer.request("127.0.0.1", port, q))) ++
        frames.map { case (t, p) => f"binary 0x$t%04X" -> (() => binary(port, t, p)) }
    // every request once cold, then (name, warm response, warm jobs)
    def warm(port: Int): Seq[(String, Any, Int)] = requests(port).map { case (name, r) =>
      r()
      val (resp, jobs, _) = measured(r())
      (name, resp, jobs)
    }

    val held = warm(l.srv.boundPort)
    for ((name, resp, jobs) <- held) assert(jobs == 0, s"$name: $jobs jobs, $resp")
    assert(json(held(1)._2.toString).path("result").size == 2, held(1))

    // the same store behind a session whose threshold holds no table on
    // the driver: the resident entry keeps blocks and edges distributed
    val dist = spark.newSession()
    dist.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val srv = new CliServer(dist, l.state).start()
    try {
      val far = warm(srv.boundPort)
      for (((name, want, _), (_, got, jobs)) <- held.zip(far)) {
        assert(got == want, name)
        assert(jobs <= 8, s"$name: $jobs jobs")
      }
      assert(far.exists(_._3 > 0), "the distributed tables run jobs")
      // the resident edges are not persisted again per traversal
      assert(rddBlocksStored(requests(srv.boundPort)(1)._2()) == 0)
    } finally {
      srv.stop()
      graft.query.QueryCache.forSession(dist).invalidateAll()
    }
  }

  test("resident graph follows every commit: server sync, another session's write") {
    val l = linked
    assert(l.find("alpha").contains("lib.zig:alpha"))
    // a server sync of an edited file: alpha renamed to gamma
    java.nio.file.Files.write(new java.io.File(l.tree, "lib.zig").toPath,
      alphaBeta.replace("alpha", "gamma").getBytes("UTF-8"))
    assert(l.req("sync --name proj").startsWith("""{"ok":true"""))
    assert(l.find("gamma").contains("lib.zig:gamma"))
    assert(!l.find("alpha").contains("lib.zig:alpha"))
    // an unlink through another session: that session has its own
    // cache, so only the epoch key can tell this server's entry is
    // outdated; the workspace leaves both find and status
    val invalidations = graft.query.QueryCache.forSession(spark).invalidations
    WorkspaceStore.unlink(spark.newSession(), l.state, "proj").collect()
    assert(graft.query.QueryCache.forSession(spark).invalidations == invalidations)
    assert(json(l.find("gamma")).path("result").size == 0)
    assert(json(l.req("status")).path("result").size == 0)
  }

  test("tokenizer: quoted names group; blank lines yield no tokens") {
    assert(CliServer.tokenize("""find --name "Foo Bar" --type function""") ==
      Seq("find", "--name", "Foo Bar", "--type", "function"))
    assert(CliServer.tokenize("  ") == Seq.empty)
    assert(CliServer.tokenize("""a "" b""") == Seq("a", "", "b"))
  }
}
