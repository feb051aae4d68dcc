package graft.api

import graft.core.{Mvcc, Schemas}
import graft.ingest.{DispatchParser, Ingest, SemanticResolver, SourceParser}
import graft.query.QueryCache
import org.apache.hadoop.fs.Path
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.graft.Frames
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable

/** Parquet-backed persistent workspace state for the CLI's
  * `link/unlink/sync/status` commands — the Spark analogue of the
  * reference server's storage engine + workspace manager pair
  * (`/root/reference/src/workspace/manager.zig:113-377`,
  * `/root/reference/src/server/cli_protocol.zig:83-574`). The reference
  * keeps this state in its LSM store under the daemon's data dir; here
  * it is five parquet tables under `<stateDir>/_graft_ws/`:
  *
  *   - `registry`: MVCC-versioned (id, root_path, synced_at, sequence,
  *     is_deleted) — link/unlink history is queryable like any table;
  *   - `blocks`: MVCC-versioned ingested blocks (append-only epochs;
  *     re-link/sync shadow old versions rather than rewriting them);
  *   - `edges`: resolved (src, dst, edge_type, workspace) relations;
  *   - `files` / `units` (r13): the incremental-parse index — per-file
  *     content hashes and the raw parse snapshot sync diffs against so
  *     an unchanged file is never re-parsed (see [[State]]).
  *
  * Writes go through write-to-temp + rename so a failed job never
  * leaves a half-written table behind, and each command materializes
  * its new state before the swap (the read path and write path never
  * race on the same files). At 100 TB the same layout holds with the
  * rename swapped for a transactional table format's commit; the table
  * shapes, MVCC sequencing, and append-only contract are unchanged.
  */
object WorkspaceStore {

  /** `files` and `units` (r13) are the INCREMENTAL-PARSE index: the
    * per-file content hashes sync diffs against, and the raw parse
    * output (pre-downgrade [[graft.ingest.ParsedUnit]] rows, workspace
    * column added) that lets a sync re-run the GLOBAL passes —
    * orphan-method downgrade and scoped-then-global edge resolution,
    * both of which need every unit in the workspace — without
    * re-parsing unchanged files. Both are replaced per workspace at
    * link/sync (current-snapshot tables, like `edges`); a legacy store
    * missing them reads as empty, which degrades to "every file
    * changed" = the old full re-parse, never to wrong output. The
    * units table duplicates block content (it is a parse CACHE); a
    * parser upgrade invalidates it implicitly because `link` always
    * re-parses the whole tree.
    */
  final case class State(registry: DataFrame, blocks: DataFrame,
                         edges: DataFrame, files: DataFrame,
                         units: DataFrame)

  // include_globs/exclude_globs (r11, ADVICE): the surface a workspace
  // was LINKED with must replay on sync — before this, sync always
  // re-enumerated with Ingest.DefaultInclude, and since sync tombstones
  // every current-view id absent from the fresh parse, a workspace
  // linked with wider or custom globs had its out-of-default units mass-
  // tombstoned by its first sync. Legacy registries (written before the
  // columns existed) read as NULL here; sync falls back to `**` for
  // those — the WIDEST surface, because a fallback must never let sync
  // tombstone units it merely failed to re-enumerate (widening only
  // re-adds; narrowing destroys). Migration note: a legacy store's
  // first sync may therefore ADD document units for non-code files;
  // re-link to pin the intended globs.
  private val registrySchema = StructType(Seq(
    StructField("id", StringType), StructField("root_path", StringType),
    StructField("synced_at", LongType),
    StructField("include_globs", ArrayType(StringType)),
    StructField("exclude_globs", ArrayType(StringType)),
    StructField("sequence", LongType),
    StructField("is_deleted", BooleanType)))

  private val blocksSchema = StructType(Seq(
    StructField("id", StringType), StructField("sequence", LongType),
    StructField("workspace", StringType), StructField("unit_type", StringType),
    StructField("unit_id", StringType), StructField("file_path", StringType),
    StructField("source_uri", StringType), StructField("content", StringType),
    StructField("is_deleted", BooleanType)))

  private val edgesSchema = StructType(Seq(
    StructField("src", StringType), StructField("dst", StringType),
    StructField("edge_type", StringType), StructField("workspace", StringType)))

  private val filesSchema = StructType(Seq(
    StructField("workspace", StringType),
    StructField("file_path", StringType),
    StructField("content_hash", LongType)))

  // exactly ParsedUnit's encoder schema + workspace, so stored rows
  // round-trip through .as[ParsedUnit] after dropping the column
  private val unitsSchema: StructType = StructType(
    StructField("workspace", StringType) +:
      org.apache.spark.sql.Encoders.product[graft.ingest.ParsedUnit]
        .schema.fields.toSeq)

  def stateRoot(stateDir: String): String = s"$stateDir/_graft_ws"

  def exists(spark: SparkSession, stateDir: String): Boolean = {
    val p = new Path(stateRoot(stateDir))
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  private def readOrEmpty(spark: SparkSession, path: String,
                          schema: StructType): DataFrame = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) spark.read.schema(schema).parquet(path)
    else spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }

  def load(spark: SparkSession, stateDir: String): State = {
    val root = stateRoot(stateDir)
    // Drop any cached file listing for the store before planning a
    // read: Spark's shared FileStatusCache survives a writer's
    // delete+rename table swap, so without this a reader that follows
    // a swap (its own earlier read, or another process's sync — the
    // failure the write lock serializes but cannot cache-invalidate)
    // plans against part files that no longer exist and dies with
    // FAILED_READ_FILE mid-scan. Metadata-scale: invalidates driver
    // cache entries only, lists nothing.
    try spark.catalog.refreshByPath(root)
    catch { case _: org.apache.spark.sql.AnalysisException => () }
    State(
      readOrEmpty(spark, s"$root/registry", registrySchema),
      readOrEmpty(spark, s"$root/blocks", blocksSchema),
      readOrEmpty(spark, s"$root/edges", edgesSchema),
      readOrEmpty(spark, s"$root/files", filesSchema),
      readOrEmpty(spark, s"$root/units", unitsSchema))
  }

  /** Overwrite-in-place safely: parquet output can't overwrite files a
    * lazy plan is still reading, so write to a sibling temp dir first,
    * then swap via rename (the poor-cluster's atomic commit).
    */
  private def writeAtomic(df: DataFrame, dest: String): Unit = {
    val spark = df.sparkSession
    val destPath = new Path(dest)
    val fs = destPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(dest + ".tmp-" + System.nanoTime())
    df.write.mode("overwrite").parquet(tmp.toString)
    if (fs.exists(destPath)) fs.delete(destPath, true)
    if (!fs.rename(tmp, destPath))
      throw new java.io.IOException(s"rename $tmp -> $destPath failed")
    // invalidate this session's cached listing of the swapped table —
    // the other half of the stale-FileStatusCache fix in [[load]]
    spark.catalog.refreshByPath(dest)
  }

  private def save(stateDir: String, st: State): Unit = {
    val root = stateRoot(stateDir)
    writeAtomic(st.registry, s"$root/registry")
    writeAtomic(st.blocks, s"$root/blocks")
    writeAtomic(st.edges, s"$root/edges")
    writeAtomic(st.files, s"$root/files")
    writeAtomic(st.units, s"$root/units")
  }

  /** EXCLUSIVE WRITE LOCK for the mutating commands (r9). Temp+rename
    * makes each table swap atomic PER WRITER, but link/unlink/sync are
    * read-modify-write over all three tables: two concurrent syncs
    * could both read epoch N and both write N+1, silently losing one
    * writer's rows. Mutations therefore serialize on a lock file
    * created exclusively: on `file:` paths with `Files.createFile`
    * (O_EXCL — the local Hadoop FS's `create(overwrite = false)` is
    * check-then-create, so two threads could both take the lock), on
    * other schemes with `create(overwrite = false)` (atomic
    * create-exclusive on HDFS). The lock converts the silent-interleave
    * failure into either serialization or a loud error, and it is what
    * makes the query graph's epoch key ([[currentGraph]]) see one
    * writer's commit at a time. A crashed holder's lock goes stale
    * after `staleMs` and is broken by the next acquirer; acquisition
    * past `waitMs` fails LOUDLY naming the lock path rather than
    * proceeding unprotected. The reference reaches the same
    * single-writer guarantee through its daemon: all CLI mutations
    * funnel through one server process (`cli_protocol.zig`); a shared
    * filesystem has to earn it with a lock instead.
    */
  private[api] def withWriteLock[T](spark: SparkSession, stateDir: String,
                                    waitMs: Long = 60000L,
                                    staleMs: Long = 600000L)(f: => T): T = {
    val lockPath = new Path(stateRoot(stateDir) + "/_lock")
    val fs = lockPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(lockPath.getParent)
    val local = fs.getUri.getScheme == "file"
    val deadline = System.currentTimeMillis() + waitMs
    var held = false
    while (!held) {
      try {
        val stamp = (s"${java.lang.ProcessHandle.current().pid()} " +
          s"${System.currentTimeMillis()}").getBytes("UTF-8")
        if (local) { // both throw if the lock exists
          val p = java.nio.file.Paths.get(fs.makeQualified(lockPath).toUri)
          java.nio.file.Files.write(java.nio.file.Files.createFile(p), stamp)
        } else {
          val out = fs.create(lockPath, false)
          out.write(stamp)
          out.close()
        }
        held = true
      } catch {
        case _: java.io.IOException =>
          val st = try Some(fs.getFileStatus(lockPath))
                   catch { case _: java.io.IOException => None }
          st match {
            case Some(s) if System.currentTimeMillis() - s.getModificationTime
                > staleMs =>
              fs.delete(lockPath, false) // stale holder: break and retry
            case _ if System.currentTimeMillis() > deadline =>
              throw new IllegalStateException(
                s"workspace store is locked by another writer: $lockPath " +
                  s"(waited ${waitMs} ms; delete the file if the holder is dead)")
            case _ => Thread.sleep(200)
          }
      }
    }
    try f finally fs.delete(lockPath, false)
  }

  /** Current (non-tombstoned, latest-sequence) blocks/edges view for the
    * query commands — what `find/show/trace` run against once any
    * workspace is linked. Scoped to LIVE workspaces: an `unlink`
    * tombstones only the registry row (blocks stay time-travelable), so
    * the query view must semi-join both tables against the registry's
    * current view or unlinked workspaces would keep answering queries
    * (reference `manager.zig:192-247`: unlink removes the workspace from
    * the query surface). The registry is driver-sized → broadcast
    * semi-join, a map-side filter on the blocks/edges scan.
    *
    * RESIDENT, keyed on the committed store epoch. The view (live
    * registry rows, live blocks, live edges, and their per-workspace
    * counts, which [[status]] answers from) is derived once per epoch
    * and held as one [[QueryCache.versioned]] entry of the session cache,
    * built lazily by the first query (never by `link`). Each call lists
    * `registry/`, `blocks/` and `edges/` (one `listStatus` per table,
    * [[epoch]]); a different set of part-file names than the entry was
    * built at is a different epoch, so the entry is dropped and
    * re-derived. Spark names part files with a per-write UUID, so every
    * writer's commit changes the key — including a writer in another
    * session or process, whose write never reaches this session's
    * cache. A same-session write also drops the entry when it is
    * planned ([[graft.core.Mvcc]] invalidates the session cache), before
    * `save` commits; the key is what keeps a rebuild between that plan
    * and the commit from being served after it. The key assumes the
    * writers serialize on [[withWriteLock]].
    *
    * The registry rows are driver-sized and held on the driver. Blocks
    * and edges are each held where Spark would put a table of their
    * size, gated independently on the bytes measured when the entry is
    * built:
    *   - at most `spark.sql.autoBroadcastJoinThreshold` (Spark's own
    *     "small enough to copy everywhere"): copied `UnsafeRow`s on the
    *     driver. Every call returns a fresh `LocalRelation` frame over
    *     them ([[org.apache.spark.sql.graft.Frames]]), so Spark's
    *     `ConvertToLocalRelation` and [[graft.plans.SortLocalRelation]]
    *     evaluate a served plan's filters, projections and sorts on the
    *     driver and the plan runs no job; [[graft.graph.Traversal]]
    *     expands BFS levels over the same rows on the driver;
    *   - above it: a persisted RDD of internal rows, and every call
    *     returns a fresh `LogicalRDD` frame over it.
    * Two Spark behaviours therefore leave the entry alone:
    *   - [[load]]'s `refreshByPath` re-caches every persisted plan that
    *     reads the store path; neither frame reads a path;
    *   - a caller's `persist` or `unpersist(true)` of a returned frame
    *     caches or drops that frame's own plan, never the rows below it.
    * The RDDs are named, so harness storage sweeps of anonymous RDDs
    * ([[graft.core.Checkpoints.sweepAnonymous]]) skip them too. Should
    * their blocks be lost anyway, they recompute from the epoch's own
    * part files, which the key guarantees are still the current ones.
    */
  def currentGraph(spark: SparkSession, stateDir: String): (DataFrame, DataFrame) = {
    val g = resident(spark, stateDir)
    (g.blocks.frame(spark), g.edges.frame(spark))
  }

  /** One table of the resident current graph: its rows, held on the
    * driver or persisted, their schema, and the live row count per
    * workspace.
    */
  private final case class Pinned(rows: Either[LocalRelation, RDD[InternalRow]],
                                  schema: StructType,
                                  perWorkspace: scala.collection.Map[String, Long]) {
    def frame(spark: SparkSession): DataFrame =
      rows.fold(Frames.local(spark, _), Frames.distributed(spark, _, schema))
    def release(): Unit = rows.foreach(_.unpersist(blocking = false))
  }

  /** A live registry row, as `status` reports it. */
  private final case class Workspace(id: String, rootPath: String, syncedAt: Long)

  private final case class Resident(workspaces: Seq[Workspace], blocks: Pinned,
                                    edges: Pinned) {
    def release(): Unit = { blocks.release(); edges.release() }
  }

  /** Persist `df`'s rows as copied `UnsafeRow`s; the one job that
    * materializes them also counts them per workspace and sums their
    * bytes. Rows of at most `maxBytes` then move to the driver (a second
    * job, over the persisted copy) and the persisted copy is dropped.
    */
  private def pin(df: DataFrame, name: String, maxBytes: Long): Pinned = {
    val schema = df.schema
    val ws = schema.fieldIndex("workspace")
    val rows = df.queryExecution.toRdd.mapPartitions { it =>
      val unsafe = UnsafeProjection.create(schema)
      it.map(r => unsafe(r).copy(): InternalRow)
    }.setName(name).persist(StorageLevel.MEMORY_AND_DISK)
    val parts = rows.mapPartitions { it =>
      val n = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
      var bytes = 0L
      for (r <- it) {
        n(if (r.isNullAt(ws)) null else r.getUTF8String(ws).toString) += 1
        bytes += r.asInstanceOf[UnsafeRow].getSizeInBytes
      }
      Iterator((n.toSeq, bytes))
    }.collect()
    val perWorkspace = parts.flatMap(_._1).groupMapReduce(_._1)(_._2)(_ + _)
    val held =
      if (parts.map(_._2).sum > maxBytes) Right(rows)
      else {
        val local = LocalRelation(DataTypeUtils.toAttributes(schema),
          rows.collect().toSeq)
        rows.unpersist(blocking = false)
        Left(local)
      }
    Pinned(held, schema, perWorkspace)
  }

  /** The committed epoch the query graph reads: the sorted part-file
    * names of `registry/`, `blocks/` and `edges/`.
    */
  private def epoch(spark: SparkSession, stateDir: String): String = {
    val root = new Path(stateRoot(stateDir))
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq("registry", "blocks", "edges").map { t =>
      val names =
        try fs.listStatus(new Path(root, t)).map(_.getPath.getName).sorted
        catch { case _: java.io.FileNotFoundException => Array.empty[String] }
      names.mkString(s"$t:", ",", "")
    }.mkString(";")
  }

  private def resident(spark: SparkSession, stateDir: String): Resident =
    QueryCache.forSession(spark).versioned(
      s"store|current-graph|$stateDir", epoch(spark, stateDir)) {
      import spark.implicits._
      val st = load(spark, stateDir)
      val workspaces = Schemas.currentView(st.registry)
        .select(col("id"), col("root_path"), coalesce(col("synced_at"), lit(0L)))
        .as[(String, String, Long)].collect().toSeq
        .map { case (id, root, at) => Workspace(id, root, at) }
      val live = broadcast(workspaces.map(_.id).toDF("workspace"))
      val tag = s"graft current graph $stateDir"
      val maxBytes = spark.sessionState.conf.autoBroadcastJoinThreshold
      Resident(workspaces,
        pin(Schemas.currentView(st.blocks).join(live, Seq("workspace"), "left_semi"),
          s"$tag blocks", maxBytes),
        pin(st.edges.join(live, Seq("workspace"), "left_semi"), s"$tag edges", maxBytes))
    }(_.release())

  /** INCREMENTAL-sync delta (r8): rows of `fresh` that are NEW or
    * CHANGED versus the stored current view — same id but different
    * content (or any other block column). Unchanged units produce NO
    * new MVCC row: before this, every `kausal sync` re-appended the
    * whole workspace as a fresh epoch, so the versioned table grew by
    * V rows per sync whether anything changed or not — at 100 TB the
    * difference between "sync cost ∝ edit size" and "sync cost ∝
    * corpus size". (The reference records `last_sync_timestamp` "for
    * incremental change detection", `manager.zig:257-258`, but its
    * sync is delete-then-reingest; the MVCC shape lets us do better.)
    * One hash-projection per side + one anti-join on (id, hash).
    */
  private def changedBlocks(curView: DataFrame, fresh: DataFrame): DataFrame = {
    val hash = xxhash64(col("unit_type"), col("unit_id"), col("file_path"),
      col("source_uri"), col("content"))
    val curKeyed = curView.select(col("id").as("__cid"), hash.as("__ch"))
    fresh.withColumn("__h", hash)
      .join(curKeyed,
        col("id") === col("__cid") && col("__h") === col("__ch"), "left_anti")
      .drop("__h")
  }

  /** `kausal link --path P --name N`: register the workspace and ingest
    * its tree through the MVCC write path (new blocks become the next
    * sequence epoch; a re-link shadows the previous epoch, never
    * rewrites it). RE-linking an already-registered name routes through
    * the same diff `sync` performs: current-view ids absent from the
    * fresh parse (units deleted from the tree, or excluded by new
    * globs) are tombstoned and the workspace's edges are REPLACED, not
    * appended — otherwise stale blocks and phantom edges from the
    * previous link would survive in the current view (the reference's
    * re-link is delete-then-reingest, `manager.zig:113-190`). Returns a
    * one-row summary frame for rendering.
    */
  def link(spark: SparkSession, stateDir: String, name: String, rootPath: String,
           include: Seq[String] = Ingest.DefaultInclude,
           exclude: Seq[String] = Nil,
           parser: SourceParser = DispatchParser,
           nowSeconds: Long = System.currentTimeMillis() / 1000L): DataFrame = withWriteLock(spark, stateDir) {
    import spark.implicits._
    val st = load(spark, stateDir)
    // skipped-file visibility (r11, ADVICE; single-enumeration r12):
    // the default include list narrowed from `**` to the code-extension
    // surface — report how many enumerated files the include globs
    // excluded so a silently narrowed link is visible in its own
    // summary. ONE enumeration produces both counts (the listing is the
    // cost on a huge monorepo; the include globs apply as a column
    // predicate over it, not as a second tree walk).
    val (files, nAll) =
      Ingest.readDirectoryWithTotal(spark, rootPath, include, exclude)
    val parsed = Ingest.parseFiles(files, parser).cache()
    val units = SemanticResolver.downgradeOrphanMethods(parsed)
    val blocks = Ingest.unitsToBlocks(units, name).drop("sequence", "is_deleted")
    val edges = SemanticResolver.edgesAsBlocks(units, name)
    val nFiles = files.count()
    val reg2 = Mvcc.putBlocks(st.registry,
      Seq((name, rootPath, nowSeconds, include, exclude))
        .toDF("id", "root_path", "synced_at", "include_globs", "exclude_globs"))
    // delta-put (r8): unchanged units already in the current view (a
    // relink over live data, or a relink after unlink — unlink only
    // tombstones the REGISTRY, the block view stays live) produce no
    // new epoch rows
    val curWs = Schemas.currentView(st.blocks)
      .filter(col("workspace") === name)
    // ids live in the current view but absent from the fresh parse →
    // tombstone. UNCONDITIONAL (r8b): gating this on registry liveness
    // let link-after-unlink of a tree that changed while unlinked
    // resurrect vanished units and their edges — the block current
    // view (not the registry row) is what decides what must go. Stays
    // a DataFrame end-to-end (deleteBlocksDf): no driver collect, so a
    // re-link of an arbitrarily large workspace never funnels its
    // vanished-id set through the driver; on a first link curWs is
    // empty and both the diff and the tombstone pass are no-ops.
    val gone = curWs.select("id").except(blocks.select("id"))
    val blocks2 = Mvcc.deleteBlocksDf(
      Mvcc.putBlocks(st.blocks, changedBlocks(curWs, blocks)), gone)
    // the workspace's edge set is REPLACED, never merged — same
    // reasoning (null-safe filter: block tombstones carry NULL
    // workspace; on a first link the filter matches nothing)
    val edges2 = Mvcc.putEdges(
      st.edges.filter(!(col("workspace") <=> name)), edges)
    val (nBlocks, nEdges) = (blocks.count(), edges.count())
    // incremental-parse index snapshots (r13): per-file content hashes
    // + the raw (pre-downgrade) parse, replaced per workspace — what a
    // later `sync` diffs against so it re-parses only changed files
    val files2 = st.files.filter(!(col("workspace") <=> name))
      .unionByName(files.toDF().select(lit(name).as("workspace"),
        col("path").as("file_path"),
        xxhash64(col("content")).as("content_hash")))
    val units2 = st.units.filter(!(col("workspace") <=> name))
      .unionByName(parsed.toDF().withColumn("workspace", lit(name))
        .select(unitsSchema.fieldNames.map(col).toSeq: _*))
    save(stateDir, State(reg2, blocks2, edges2, files2, units2))
    Seq((name, rootPath, nFiles, nAll - nFiles, nBlocks, nEdges))
      .toDF("workspace", "root_path", "files_processed", "files_skipped",
        "blocks_linked", "edges_linked")
  }

  /** `kausal unlink --name N`: tombstone the registry row. Blocks are
    * NOT physically removed (reference `manager.zig:192-247`) — the
    * registry tombstone hides the workspace from `status` and the
    * query view while its history stays time-travelable.
    */
  def unlink(spark: SparkSession, stateDir: String, name: String): DataFrame = withWriteLock(spark, stateDir) {
    import spark.implicits._
    val st = load(spark, stateDir)
    val known = Schemas.currentView(st.registry)
      .filter(col("id") === name).count() > 0
    if (!known)
      throw new IllegalArgumentException(s"workspace not linked: $name")
    save(stateDir, st.copy(registry = Mvcc.deleteBlocks(st.registry, Seq(name))))
    Seq((name, "unlinked")).toDF("workspace", "result")
  }

  /** `kausal sync --name N` / `--all`: re-ingest linked workspaces
    * INCREMENTALLY. Only new-or-CHANGED units (content-hash diff vs the
    * current view, [[changedBlocks]]) become the next MVCC epoch via
    * `putBlocks`; unchanged units write nothing; units that vanished
    * from the tree get tombstones — the append-only improvement on the
    * reference's delete-then-reingest sync (`manager.zig:249-377`; its
    * `last_sync_timestamp` is tracked "for incremental change
    * detection" that the native engine never ships). A no-op sync of a
    * 100-TB workspace appends zero block rows. Edges are replaced per
    * workspace (the edge table is a current-state index, like the
    * reference's).
    */
  def sync(spark: SparkSession, stateDir: String, names: Seq[String],
           parser: SourceParser = DispatchParser,
           nowSeconds: Long = System.currentTimeMillis() / 1000L): DataFrame = withWriteLock(spark, stateDir) {
    import spark.implicits._
    val st = load(spark, stateDir)
    val reg = Schemas.currentView(st.registry)
      .select("id", "root_path", "include_globs", "exclude_globs")
      .as[(String, String, Option[Seq[String]], Option[Seq[String]])]
      .collect()
      .map(r => r._1 -> ((r._2,
        // NULL globs = legacy registry row (pre-r11 schema): fall back
        // to `**`, the non-destructive direction — see registrySchema.
        // The fallback is DISCLOSED per row in the sync summary
        // (`legacy_globs`, r12 ADVICE): a first post-upgrade sync that
        // mass-ingests non-code files should be visible where it
        // happens, not discovered from store growth.
        r._3.getOrElse(Seq("**")), r._4.getOrElse(Nil),
        r._3.isEmpty))).toMap
    val missing = names.filterNot(reg.contains)
    if (missing.nonEmpty)
      throw new IllegalArgumentException(s"workspace not linked: ${missing.mkString(", ")}")
    var cur = st
    val summaries = names.sorted.map { name =>
      val (root, include, exclude, legacyGlobs) = reg(name)
      // sync re-enumerates with the SAME globs link registered —
      // a re-sync must neither widen the workspace to files link
      // excluded nor tombstone units link's wider globs included
      // NOT cached: a cached plan rooted at this tree's scan would be
      // served (stale) to every later scan of the same root — see the
      // refreshByPath note in Ingest.enumerateSized. The tree is read
      // twice (hash pass + re-parse of the changed subset); the parse
      // is the cost being avoided, not the read.
      val files = Ingest.readDirectory(spark, root, include, exclude)
      // INCREMENTAL PARSE (r13): diff per-file content hashes against
      // the stored file index and re-PARSE only new-or-changed files;
      // unchanged files' raw units come from the stored parse snapshot.
      // Reading+hashing still touches every file (that is the change
      // detector); the parser — the expensive pass — runs ∝ the edit.
      // A legacy store with no file index diffs everything as changed
      // = the old full re-parse. The GLOBAL passes (orphan-method
      // downgrade, scoped-then-global resolution) run over the merged
      // unit set, so cross-file retargeting from an edit is identical
      // to a full re-ingest — pinned by CliWorkspaceSpec.
      val fh = files.toDF().select(col("path").as("file_path"),
        xxhash64(col("content")).as("content_hash"))
      val prevF = cur.files.filter(col("workspace") === name)
        .select("file_path", "content_hash")
      val changedPaths = fh
        .join(prevF, Seq("file_path", "content_hash"), "left_anti")
        .select("file_path").cache()
      val vanishedPaths = prevF.select("file_path")
        .join(fh.select("file_path"), Seq("file_path"), "left_anti")
      val nFiles = files.count()
      val nChanged = changedPaths.count()
      val nVanished = vanishedPaths.count()
      val r2 = Mvcc.putBlocks(cur.registry,
        Seq((name, root, nowSeconds, include, exclude))
          .toDF("id", "root_path", "synced_at",
            "include_globs", "exclude_globs"))
      if (nChanged == 0 && nVanished == 0) {
        // nothing changed: zero block versions written, blocks/edges/
        // index untouched; only the registry's synced_at advances
        cur = cur.copy(registry = r2)
        (name, nFiles, 0L, 0L, 0L, legacyGlobs)
      } else {
        val reparse = files.join(
          changedPaths.withColumnRenamed("file_path", "path"),
          Seq("path"), "left_semi").as[Ingest.FileDoc]
        val parsedNew = Ingest.parseFiles(reparse, parser)
        val keptRaw = cur.units.filter(col("workspace") === name)
          .drop("workspace")
          .join(changedPaths.withColumnRenamed("file_path", "__cp"),
            col("filePath") === col("__cp"), "left_anti")
          .join(vanishedPaths.withColumnRenamed("file_path", "__vp"),
            col("filePath") === col("__vp"), "left_anti")
          .as[graft.ingest.ParsedUnit]
        val allRaw = keptRaw.unionByName(parsedNew).cache()
        val units = SemanticResolver.downgradeOrphanMethods(allRaw)
        val blocks = Ingest.unitsToBlocks(units, name)
          .drop("sequence", "is_deleted")
        val edges = SemanticResolver.edgesAsBlocks(units, name)
        val curWs = Schemas.currentView(cur.blocks)
          .filter(col("workspace") === name)
        // INCREMENTAL write (r8): only new-or-changed units become
        // epoch rows — `blocks_synced` reports the delta actually
        // written.
        val delta = changedBlocks(curWs, blocks)
        // ids present in the current view but absent from the fresh
        // unit set → tombstone (file/unit deleted since link).
        // DataFrame end-to-end (deleteBlocksDf) — no driver collect of
        // the vanished-id set.
        val gone = curWs.select("id").except(blocks.select("id"))
        val b2 = Mvcc.deleteBlocksDf(Mvcc.putBlocks(cur.blocks, delta), gone)
        // null-safe filter: block tombstones carry NULL workspace
        val e2 = cur.edges.filter(!(col("workspace") <=> name))
          .unionByName(edges)
        val f2 = cur.files.filter(!(col("workspace") <=> name))
          .unionByName(fh.select(lit(name).as("workspace"),
            col("file_path"), col("content_hash")))
        val u2 = cur.units.filter(!(col("workspace") <=> name))
          .unionByName(allRaw.toDF().withColumn("workspace", lit(name))
            .select(unitsSchema.fieldNames.map(col).toSeq: _*))
        cur = State(r2, b2, e2, f2, u2)
        (name, nFiles, delta.count(), gone.count(), nChanged, legacyGlobs)
      }
    }
    save(stateDir, cur)
    summaries.toDF("workspace", "files_processed", "blocks_synced",
      "blocks_removed", "files_reparsed", "legacy_globs")
  }

  /** Clear ALL linked workspaces — the wire protocol's
    * `clear_workspace_request` (reference
    * `src/server/cli_protocol.zig:556-573`:
    * `clear_all_linked_codebases`, empty payload, operation
    * response). Like [[unlink]], only the registry rows are
    * tombstoned in one MVCC epoch + one save; blocks stay
    * time-travelable (reference `manager.zig:192-247`). Clearing an
    * empty registry is a no-op success, as the reference's loop over
    * zero codebases is.
    */
  def clearAll(spark: SparkSession, stateDir: String): DataFrame = withWriteLock(spark, stateDir) {
    import spark.implicits._
    val st = load(spark, stateDir)
    val names = Schemas.currentView(st.registry)
      .select("id").as[String].collect().toSeq.sorted
    if (names.nonEmpty)
      save(stateDir,
        st.copy(registry = Mvcc.deleteBlocks(st.registry, names)))
    Seq((names.length.toLong, "cleared"))
      .toDF("workspaces_cleared", "result")
  }

  /** `kausal status [--verbose]`: one row per linked workspace with
    * block/edge counts and the reference's sync-status classification
    * (never_synced / synced within 1 h / needs_sync —
    * `cli_protocol.zig:96-113`). Verbose adds the reference's storage
    * estimate: 2 KiB per block + 64 B per edge
    * (`cli_protocol.zig:115-130`).
    */
  def status(spark: SparkSession, stateDir: String, verbose: Boolean = false,
             nowSeconds: Long = System.currentTimeMillis() / 1000L): DataFrame = {
    import spark.implicits._
    val g = resident(spark, stateDir)
    val base = g.workspaces.sortBy(_.id).map { w =>
      (w.id, w.rootPath,
        g.blocks.perWorkspace.getOrElse(w.id, 0L),
        g.edges.perWorkspace.getOrElse(w.id, 0L),
        if (w.syncedAt == 0L) "never_synced"
        else if (nowSeconds - w.syncedAt <= 3600L) "synced"
        else "needs_sync",
        // the raw epoch seconds behind sync_status: binary status
        // clients render it as last_sync (the reference's
        // WorkspaceInfo.last_sync_timestamp carries the real value,
        // not 0 — format_time_ago over it, protocol.zig:53)
        w.syncedAt)
    }.toDF("workspace", "root_path", "block_count", "edge_count",
      "sync_status", "synced_at")
    if (!verbose) base.drop("synced_at")
    else base.withColumn("storage_bytes",
      col("block_count") * lit(2048L) + col("edge_count") * lit(64L))
  }
}
