package graft.api

import graft.graph.{CodeGraph, Direction, EdgeFilter, Traversal, TraversalSpec}
import graft.query.{Lookups, NameResolver}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** CLI/API surface, mirroring the reference's command shapes
  * (`/root/reference/src/cli/parser.zig:38-156`): `find`, `show`,
  * `trace`, with text/json/csv rendering
  * (`parser.zig:13-17`, `renderer.zig`). The TCP wire protocol is a
  * transport detail, not a capability — the Spark build exposes the
  * same commands as a library API + a thin main.
  */
object Cli {

  sealed trait Command
  final case class FindCmd(entityType: String, name: String,
                           workspace: String = "", maxResults: Int = 10,
                           format: String = "text") extends Command
  final case class ShowCmd(relation: String, target: String,
                           workspace: String = "", maxDepth: Int = 3,
                           format: String = "text") extends Command
  // `allPaths` is accepted for flag parity: the reference PARSES
  // --all-paths (parser.zig:129, 468) but no handler ever reads it —
  // trace output is min-depth paths either way. Same here.
  final case class TraceCmd(direction: String, target: String,
                            maxDepth: Int = 10,
                            format: String = "text",
                            allPaths: Boolean = false) extends Command
  final case class LinkCmd(path: String, name: String,
                           include: Seq[String] = graft.ingest.Ingest.DefaultInclude,
                           exclude: Seq[String] = Nil,
                           format: String = "text") extends Command
  final case class UnlinkCmd(name: String, format: String = "text") extends Command
  final case class SyncCmd(name: Option[String], all: Boolean = false,
                           format: String = "text") extends Command
  final case class StatusCmd(verbose: Boolean = false,
                             format: String = "text") extends Command
  case object PingCmd extends Command
  case object VersionCmd extends Command
  final case class HelpCmd(topic: Option[String]) extends Command
  /** `server [start|stop|restart|status] [--host H] [--port P]
    * [--data-dir D]` — the daemon verbs (reference `parser.zig:274-314`;
    * default mode `start`, like `ServerCommand{}`'s zero value).
    */
  final case class ServerCmd(mode: String, host: String = "127.0.0.1",
                             port: Int = 0,
                             dataDir: Option[String] = None) extends Command

  private val EntityTypes = Set("function", "struct_type", "constant", "variable",
    "type", "struct", "const", "var", "document", "customer", "supplier",
    "nation", "region", "order", "part")
  private val Relations = Set("callers", "callees", "imports", "exports")
  private val Directions = Set("callers", "callees")
  private val Formats = Set("text", "json", "csv", "llm")

  private val KnownFlags = Set("type", "name", "workspace", "max-results",
    "relation", "target", "max-depth", "format", "direction",
    "path", "include", "exclude", "topic")
  // flags that take no value (reference parser.zig:130-156: --verbose,
  // --force, --all, --all_paths are presence-only)
  private val BoolFlags = Set("verbose", "force", "all", "all-paths")
  // which commands actually HANDLE each presence-only flag — a bool flag
  // on any other command is an error, same contract as value flags: a
  // typo'd/misplaced flag must never silently run with defaults.
  // (--force is parsed by the reference but has no handler anywhere,
  // parser.zig:130-156 — so it is rejected on every command here.)
  private val BoolFlagCommands = Map(
    "verbose" -> Set("status"),
    "all" -> Set("sync"),
    "all-paths" -> Set("trace"),
    "force" -> Set.empty[String])

  /** Argument parser for the reference's command vocabulary
    * (`parser.zig:38-156`): query commands `find|show|trace`, workspace
    * commands `link|unlink|sync|status`, health `ping|version|help`.
    * Error-message-first like the reference parser: an
    * unknown/misspelled flag, a dangling `--flag` with no value, or a
    * bare non-flag token is an error — never silently ignored (a
    * typo'd flag running with defaults is worse than failing).
    */
  def parse(args: Seq[String]): Either[String, Command] = {
    if (args.isEmpty)
      return Left("no command; expected find|show|trace|link|unlink|sync|status|ping|version|help|server")
    // `server` takes an optional leading BARE mode token
    // (parser.zig:278-292) — every other command is flags-only, so it
    // parses before the generic flag loop
    if (args.head == "server") return parseServer(args.tail)
    val toks = args.tail
    var flags = Map.empty[String, String]
    var i = 0
    while (i < toks.length) {
      val t = toks(i)
      if (!t.startsWith("--"))
        return Left(s"expected a --flag, got: $t")
      val k = t.drop(2)
      if (BoolFlags(k)) { flags += k -> "true"; i += 1 }
      else if (!KnownFlags(k)) return Left(s"unknown flag: $t")
      else if (i + 1 >= toks.length) return Left(s"flag $t is missing a value")
      else { flags += k -> toks(i + 1); i += 2 }
    }
    def int(k: String, dflt: Int): Either[String, Int] =
      flags.get(k).map(v => v.toIntOption.toRight(s"--$k must be an integer"))
        .getOrElse(Right(dflt))
    def globs(k: String, dflt: Seq[String]): Seq[String] =
      flags.get(k).map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
        .getOrElse(dflt)
    val format = flags.getOrElse("format", "text")
    if (!Formats(format)) return Left(s"unknown format: $format")
    for (k <- flags.keySet.intersect(BoolFlags).toSeq.sorted)
      if (!BoolFlagCommands(k).contains(args.head))
        return Left(s"flag --$k is not valid for ${args.head}")
    args.head match {
      case "find" =>
        for {
          t <- flags.get("type").toRight("find requires --type")
          n <- flags.get("name").toRight("find requires --name")
          _ <- if (EntityTypes(t)) Right(()) else Left(s"unknown entity type: $t")
          k <- int("max-results", 10)
        } yield FindCmd(t, n, flags.getOrElse("workspace", ""), k, format)
      case "show" =>
        for {
          r <- flags.get("relation").toRight("show requires --relation")
          t <- flags.get("target").toRight("show requires --target")
          _ <- if (Relations(r)) Right(()) else Left(s"unknown relation: $r")
          d <- int("max-depth", 3)
        } yield ShowCmd(r, t, flags.getOrElse("workspace", ""), d, format)
      case "trace" =>
        for {
          dir <- flags.get("direction").toRight("trace requires --direction")
          t <- flags.get("target").toRight("trace requires --target")
          _ <- if (Directions(dir)) Right(()) else Left(s"unknown direction: $dir")
          d <- int("max-depth", 10)
        } yield TraceCmd(dir, t, d, format, flags.contains("all-paths"))
      case "link" =>
        // --name defaults to the path's basename (parser.zig:138-141)
        flags.get("path").toRight("link requires --path").map { p =>
          val dfltName = p.reverse.dropWhile(_ == '/').reverse
            .split('/').lastOption.filter(_.nonEmpty).getOrElse(p)
          LinkCmd(p, flags.getOrElse("name", dfltName),
            globs("include", graft.ingest.Ingest.DefaultInclude),
            globs("exclude", Nil), format)
        }
      case "unlink" =>
        flags.get("name").toRight("unlink requires --name")
          .map(n => UnlinkCmd(n, format))
      case "sync" =>
        val all = flags.contains("all")
        if (!all && !flags.contains("name"))
          Left("sync requires --name or --all")
        else if (all && flags.contains("name"))
          Left("sync takes --name or --all, not both")
        else Right(SyncCmd(flags.get("name"), all, format))
      case "status" => Right(StatusCmd(flags.contains("verbose"), format))
      case "ping" => Right(PingCmd)
      case "version" => Right(VersionCmd)
      case "help" => Right(HelpCmd(flags.get("topic")))
      case other => Left(s"unknown command: $other")
    }
  }

  private def parseServer(toks: Seq[String]): Either[String, Command] = {
    val (mode, rest) = toks.headOption match {
      case Some(m) if !m.startsWith("--") =>
        if (Set("start", "stop", "restart", "status")(m)) (m, toks.tail)
        else return Left(s"unknown server mode: $m")
      case _ => ("start", toks)
    }
    var host = "127.0.0.1"
    var port = 0
    var dataDir = Option.empty[String]
    var i = 0
    while (i < rest.length) {
      rest(i) match {
        case "--host" | "--port" | "--data-dir" if i + 1 >= rest.length =>
          return Left(s"flag ${rest(i)} is missing a value")
        case "--host" => host = rest(i + 1); i += 2
        case "--port" =>
          port = rest(i + 1).toIntOption
            .getOrElse(return Left("--port must be an integer")); i += 2
        case "--data-dir" => dataDir = Some(rest(i + 1)); i += 2
        case other => return Left(s"unknown flag: $other")
      }
    }
    // error-message-first, like every other command: stop/status must
    // name the daemon they target, and a portless restart would
    // "stop" nothing and silently spawn a SECOND daemon next to the
    // running one
    if (mode != "start" && port == 0)
      return Left(s"server $mode requires --port")
    Right(ServerCmd(mode, host, port, dataDir))
  }

  /** Map the CLI's entity-type vocabulary to stored unit types
    * (`struct_type` → `type` etc., reference `parser.zig:90-104`).
    */
  private def canonicalType(t: String): String = t match {
    case "struct_type" | "struct" => "type"
    case "constant" => "const"
    case "variable" => "var"
    case x => x
  }

  /** Execute against a blocks/edges pair. `show imports/exports` map to
    * outgoing/incoming `imports`-typed traversal at depth 1×maxDepth,
    * callers/callees to incoming/outgoing all-type traversal — the
    * reference's handler table (`server/cli_protocol.zig:282-441`).
    */
  def execute(blocks: DataFrame, edges: DataFrame, cmd: Command): DataFrame =
    cmd match {
      case FindCmd(t, n, ws, k, _) =>
        // find returns BLOCKS: the full reference block surface
        // (id/sequence/source_uri/content, `BlockInfo.from_block`
        // protocol.zig:436-449) when the store carries those columns —
        // the llm renderer and the binary FindResponse consume them
        val have = blocks.columns.toSet
        val cols = Seq("id") ++
          (if (have("sequence")) Seq("sequence") else Nil) ++
          Seq("unit_type", "unit_id") ++
          (if (have("source_uri")) Seq("source_uri") else Nil) ++
          Seq("content")
        NameResolver.findByName(blocks, ws, canonicalType(t), n)
          .select(cols.map(col): _*)
          .orderBy("id").limit(k)
      case ShowCmd(rel, target, ws, depth, _) =>
        // target may be a name of any unit type or a raw id: resolve by
        // trailing unit_id segment or exact id, workspace-scoped
        val wsBlocks = if (ws.isEmpty) blocks
                       else blocks.filter(col("workspace") === ws)
        val seedDf = wsBlocks.filter(
          substring_index(col("unit_id"), ":", -1) === target ||
            col("id") === target)
          .select("id") // the BFS dedups its seeds
        val (dir, filt) = rel match {
          case "callers" => (Direction.Incoming, EdgeFilter.All)
          case "callees" => (Direction.Outgoing, EdgeFilter.All)
          case "imports" => (Direction.Outgoing, EdgeFilter.Only("imports"))
          case "exports" => (Direction.Incoming, EdgeFilter.Only("imports"))
        }
        // the traversal is capped at 1,000 rows: collect it and look its
        // ids up in `blocks` by a filter, not a join, so driver-held
        // blocks fold to one local relation and distributed ones take
        // one narrow scan
        val depthOf = Traversal.bfs(edges, seedDf, TraversalSpec(dir, depth, 1000, filt))
          .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
        blocks.filter(col("id").isin(depthOf.keys.toSeq: _*))
          .select(col("id"), element_at(typedLit(depthOf), col("id")).as("depth"),
            col("unit_type"), col("unit_id"))
          .orderBy("depth", "id")
      case TraceCmd(dirName, target, depth, _, _) =>
        val seedDf = blocks.filter(
          substring_index(col("unit_id"), ":", -1) === target ||
            col("id") === target).select("id")
        val dir = if (dirName == "callers") Direction.Incoming else Direction.Outgoing
        Traversal.bfs(edges, seedDf,
          TraversalSpec(dir, depth, 1000, EdgeFilter.All, trackPaths = true))
          .select(col("id"), col("depth"), concat_ws("->", col("path")).as("path"))
          .orderBy("depth", "id")
      case other =>
        throw new IllegalArgumentException(
          s"not a query command: $other (use executeWorkspace)")
    }

  /** Engine version string, reported by `version` and `ping` like the
    * reference daemon's handshake (`cli_protocol.zig:16-24` version
    * fields).
    */
  val Version = "0.3.0"

  /** Execute a workspace/health command against a mutable state dir
    * (see [[WorkspaceStore]]). Returns a small frame for rendering —
    * every command's result is a table, same as the query commands.
    */
  def executeWorkspace(spark: SparkSession, stateDir: String,
                       cmd: Command): DataFrame = {
    import spark.implicits._
    cmd match {
      case LinkCmd(path, name, inc, exc, _) =>
        WorkspaceStore.link(spark, stateDir, name, path, inc, exc)
      case UnlinkCmd(name, _) => WorkspaceStore.unlink(spark, stateDir, name)
      case SyncCmd(nameOpt, all, _) =>
        val names =
          if (all) {
            val st = WorkspaceStore.load(spark, stateDir)
            graft.core.Schemas.currentView(st.registry)
              .select("id").as[String].collect().toSeq
          } else nameOpt.toSeq
        WorkspaceStore.sync(spark, stateDir, names)
      case StatusCmd(verbose, _) => WorkspaceStore.status(spark, stateDir, verbose)
      case PingCmd => Seq(("pong", Version)).toDF("reply", "version")
      case VersionCmd => Seq(Version).toDF("version")
      case HelpCmd(topic) =>
        val all = Seq(
          ("find", "find --type T --name N [--workspace W] [--max-results K] [--format F]"),
          ("show", "show --relation callers|callees|imports|exports --target T [--workspace W] [--max-depth D]"),
          ("trace", "trace --direction callers|callees --target T [--max-depth D]"),
          ("link", "link --path P [--name N] [--include GLOBS] [--exclude GLOBS]"),
          ("unlink", "unlink --name N"),
          ("sync", "sync --name N | --all"),
          ("status", "status [--verbose]"),
          ("ping", "ping"), ("version", "version"),
          ("server", "server [start|stop|restart|status] [--host H] [--port P] [--data-dir D]"))
        topic.fold(all)(t => all.filter(_._1 == t)).toDF("command", "usage")
      case other =>
        throw new IllegalArgumentException(s"not a workspace command: $other")
    }
  }

  /** Run a query command against `dir`: against the workspace store's
    * resident current graph when `dir` holds store state
    * ([[WorkspaceStore.currentGraph]]), else against the graph derived
    * from the fixture tables under `dir`.
    */
  def executeQuery(spark: SparkSession, dir: String, cmd: Command): DataFrame = {
    val (blocks, edges) =
      if (WorkspaceStore.exists(spark, dir)) WorkspaceStore.currentGraph(spark, dir)
      else (CodeGraph.nodeBlocks(spark, dir), CodeGraph.edges(spark, dir))
    execute(blocks, edges, cmd)
  }

  def isQueryCommand(cmd: Command): Boolean = cmd match {
    case _: FindCmd | _: ShowCmd | _: TraceCmd => true
    case _ => false
  }

  /** Render a (small, already-capped) result in the reference's output
    * formats. Collects to the driver — CLI results are bounded by
    * max_results, never a full table.
    */
  def render(df: DataFrame, format: String): String = format match {
    case "llm" => renderLlm(df)
    // a projection, not `toJSON`: over driver-held rows it folds into
    // the relation and renders without a job
    case "json" => df.select(to_json(struct(col("*"))))
      .collect().map(_.getString(0)).mkString("[", ",", "]")
    case "csv" =>
      val cols = df.columns
      def esc(s: String): String =
        if (s == null) ""
        else if (s.contains(",") || s.contains("\"") || s.contains("\n"))
          "\"" + s.replace("\"", "\"\"") + "\""
        else s
      (cols.mkString(",") +: df.collect().map(_.toSeq.map(v =>
        esc(if (v == null) null else v.toString)).mkString(","))).mkString("\n")
    case _ => // text: aligned columns
      val cols = df.columns
      val rows = df.collect().map(_.toSeq.map(v => if (v == null) "" else v.toString))
      val widths = cols.indices.map { i =>
        (cols(i).length +: rows.map(_(i).length)).max
      }
      def line(vals: Seq[String]): String =
        vals.zip(widths).map { case (v, w) => v.padTo(w, ' ') }.mkString("  ")
      (line(cols.toIndexedSeq) +: rows.map(r => line(r))).mkString("\n")
  }

  /** `format_for_llm` — the reference's LLM-context rendering of a
    * block result (`/root/reference/src/query/operations.zig:156-175`):
    * a `Retrieved N blocks:` header, then each block framed as
    *
    * {{{
    * --- BEGIN CONTEXT BLOCK ---
    * Block {i} (ID: {id}):
    * Source: {source_uri}
    * Sequence: {sequence}
    * Metadata: {metadata_json}
    * Content: {content}
    * --- END CONTEXT BLOCK ---
    * }}}
    *
    * Column mapping: `id`/`content`/`sequence` print directly;
    * Source prefers `source_uri` then `file_path` then the reference's
    * own placeholder shape (it always has a URI; for frames that carry
    * none we print `unknown`); every REMAINING column becomes a key in
    * the Metadata JSON object in frame column order — the analogue of
    * the reference's free-form `metadata_json`, which its ingestion
    * fills with exactly these unit attributes
    * (`src/ingestion/ingest_directory.zig` metadata assembly). Missing
    * `sequence` prints 0. Deterministic: a pure function of the frame's
    * (ordered, capped) rows, so it is oracle-able as a 1-row string —
    * see the `cli_format_llm` entry.
    */
  def renderLlm(df: DataFrame): String = {
    val cols = df.columns
    val idx = cols.zipWithIndex.toMap
    def jsonEsc(s: String): String = s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
    val core = Set("id", "source_uri", "file_path", "sequence", "content")
    val metaCols = cols.filterNot(core)
    val rows = df.collect()
    val sb = new StringBuilder
    sb ++= s"Retrieved ${rows.length} blocks:\n\n"
    var i = 1
    for (r <- rows) {
      def str(c: String): Option[String] =
        idx.get(c).flatMap(j => Option(r.get(j)).map(_.toString))
      sb ++= "--- BEGIN CONTEXT BLOCK ---\n"
      sb ++= s"Block $i (ID: ${str("id").getOrElse("")}):\n"
      sb ++= s"Source: ${str("source_uri").orElse(str("file_path")).getOrElse("unknown")}\n"
      sb ++= s"Sequence: ${str("sequence").getOrElse("0")}\n"
      val meta = metaCols.map { c =>
        val v = idx.get(c).map(r.get).orNull
        val rendered = v match {
          case null => "null"
          case b: Boolean => b.toString
          case n @ (_: Int | _: Long | _: Short | _: Byte) => n.toString
          case other => "\"" + jsonEsc(other.toString) + "\""
        }
        "\"" + jsonEsc(c) + "\":" + rendered
      }.mkString("{", ",", "}")
      sb ++= s"Metadata: $meta\n"
      sb ++= s"Content: ${str("content").getOrElse("")}\n"
      sb ++= "--- END CONTEXT BLOCK ---\n\n"
      i += 1
    }
    sb.result()
  }

  /** Thin main: `runMain graft.api.Cli <sfDir> find --type ... ` —
    * runs against the derived fixture graph.
    */
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")}]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // the library's native expressions (shingles, vec_dot, ...) are
      // session extensions; every entry-point session installs them
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    parse(args.drop(1).toSeq) match {
      case Left(err) => System.err.println(err); sys.exit(2)
      case Right(ServerCmd(mode, host, port, dataDir)) =>
        val stateDir = dataDir.getOrElse(dir)
        mode match {
          case "start" =>
            val srv = new CliServer(spark, stateDir, port, host).start()
            println(s"""{"listening":${srv.boundPort}}""")
            srv.awaitTermination()
          case "restart" =>
            try CliServer.request(host, port, "stop")
            catch { case _: java.io.IOException => () } // not running: fine
            val srv = new CliServer(spark, stateDir, port, host).start()
            println(s"""{"listening":${srv.boundPort}}""")
            srv.awaitTermination()
          case "stop" => println(CliServer.request(host, port, "stop"))
          case _ => println(CliServer.request(host, port, "stats"))
        }
      case Right(cmd) =>
        val fmt = cmd match {
          case c: FindCmd => c.format
          case c: ShowCmd => c.format
          case c: TraceCmd => c.format
          case c: LinkCmd => c.format
          case c: UnlinkCmd => c.format
          case c: SyncCmd => c.format
          case c: StatusCmd => c.format
          case _ => "text"
        }
        val result =
          if (!isQueryCommand(cmd)) executeWorkspace(spark, dir, cmd)
          else executeQuery(spark, dir, cmd)
        println(render(result, fmt))
    }
    spark.stop()
  }
}
