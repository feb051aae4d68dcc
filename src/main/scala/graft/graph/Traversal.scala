package graft.graph

import org.apache.spark.SparkException
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.apache.spark.unsafe.types.UTF8String

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.reflect.ClassTag

/** Direction of a traversal, reference `src/query/traversal.zig:162-173`. */
sealed trait Direction
object Direction {
  case object Outgoing extends Direction
  case object Incoming extends Direction
  case object Both extends Direction
}

/** Edge-type filter, reference `src/query/traversal.zig:196-205`. */
sealed trait EdgeFilter
object EdgeFilter {
  case object All extends EdgeFilter
  final case class Only(t: String) extends EdgeFilter
  final case class Include(ts: Seq[String]) extends EdgeFilter
  final case class Exclude(ts: Seq[String]) extends EdgeFilter
}

/** Bounded k-hop traversal spec, reference `TraversalQuery`
  * (`src/query/traversal.zig:208-248`): defaults depth=10, results=1000,
  * caps depth ≤ 100, results ≤ 10000.
  */
final case class TraversalSpec(
    direction: Direction = Direction.Outgoing,
    maxDepth: Int = 10,
    maxResults: Int = 1000,
    edgeFilter: EdgeFilter = EdgeFilter.All,
    trackPaths: Boolean = false) {
  require(maxDepth >= 1 && maxDepth <= 100, "max_depth must be 1..100")
  require(maxResults >= 1 && maxResults <= 10000, "max_results must be 1..10000")
}

/** Iterative level-synchronous BFS — the Spark re-expression of the
  * reference's traversal engine (`src/query/traversal.zig:348-455`).
  * Each level runs one of two ways, chosen from the sizes the loop
  * already knows:
  *  - **driver levels**, while the visited set and the frontier stay
  *    under a 100k-row gate (the frontier gate divided by depth + 1 when
  *    paths are tracked). When the hop projection plans to a
  *    `LocalRelation` (edges held on the driver, as the store's current
  *    graph holds a small table), a level runs on the driver over those
  *    rows and no job runs; the seeds likewise. Otherwise a level is ONE
  *    narrow Spark job: the visited ids go out as a broadcast map that
  *    ranks the frontier, each edge partition returns the new ids it
  *    reaches with their best predecessor rank, and the driver merges
  *    them and picks the canonical path. Both read the rows through the
  *    same expansion. The result is a local frame. This is the served
  *    `show`/`trace` case: frontiers of a few dozen ids.
  *  - **distributed levels**, from the level where the state or an
  *    expansion would cross the gate: frontier ⋈ edges → next frontier,
  *    anti-join against visited for cycle safety, `localCheckpoint` to
  *    keep lineage flat. About four jobs per level under adaptive
  *    execution (frontier broadcast, dedup shuffle stage, visited
  *    broadcast, the level count).
  * Both produce the same rows, order and schema.
  *
  * BFS, DFS and A* in the reference visit the same *set* (A*'s heuristic
  * is stubbed to uniform 1.0, `traversal.zig:1282-1290`; SCC delegates to
  * DFS, `:977-983`) — they differ only in visit order, which matters only
  * under `max_results` truncation. We canonicalize ordering to
  * (depth, id), per SURVEY.md §7.5.
  *
  * Scale notes (100 TB):
  *  - the edge-type filter and direction projection are applied ONCE
  *    before the loop, so every level joins against the smallest possible
  *    edge set, and Parquet dictionary pushdown prunes edge files;
  *  - a driver level scans the edges once, narrowly, like a broadcast
  *    join's probe side, and dedups and subtracts the visited set on
  *    the executors. A level that would overflow the gate costs one
  *    cancelled job and hands its state to the distributed loop: the
  *    driver keeps at most gate rows, and receives past that only the
  *    results of tasks that finish before the cancel lands, each at
  *    most gate + 1 rows;
  *  - on the distributed side the frontier is usually tiny relative to
  *    edges → broadcast-hash join. The optimizer cannot see that on its
  *    own (localCheckpoint erases size stats), but the loop knows each
  *    frame's EXACT row count from its per-level count() — it hints
  *    broadcast while the frontier/visited are small and falls back to
  *    the shuffled join past 100k rows (measured on the bench: the hint
  *    is the difference between a per-level sort-merge of the whole edge
  *    table and a map-side hash probe — 2-3x per traversal);
  *  - the edges side never gets re-shuffled when bucketed by join key.
  */
object Traversal {

  private def filterEdges(edges: DataFrame, f: EdgeFilter): DataFrame = f match {
    case EdgeFilter.All => edges
    case EdgeFilter.Only(t) => edges.filter(col("edge_type") === t)
    case EdgeFilter.Include(ts) => edges.filter(col("edge_type").isin(ts: _*))
    case EdgeFilter.Exclude(ts) => edges.filter(!col("edge_type").isin(ts: _*))
  }

  /** Project edges to (from, to) hops honoring direction. Bidirectional =
    * union of both orientations (reference expands both at
    * `traversal.zig:580-622`).
    */
  private def hops(edges: DataFrame, d: Direction): DataFrame = d match {
    case Direction.Outgoing => edges.select(col("src").as("from"), col("dst").as("to"))
    case Direction.Incoming => edges.select(col("dst").as("from"), col("src").as("to"))
    case Direction.Both =>
      edges.select(col("src").as("from"), col("dst").as("to"))
        .union(edges.select(col("dst").as("from"), col("src").as("to")))
  }

  /** BFS from `seeds` (a DataFrame with column `id`).
    *
    * Returns (id, depth[, path]): every node reachable within
    * `spec.maxDepth`, at its minimum depth; the seed itself at depth 0
    * (the reference visits the start node, `traversal.zig:371-383`).
    * With `trackPaths`, `path` is the lexicographically-smallest shortest
    * path from a seed, as ARRAY<STRING> — canonical, unlike the
    * reference's visit-order-dependent path (documented deviation).
    * Result capped at `maxResults` by (depth, id) order.
    */
  def bfs(edges: DataFrame, seeds: DataFrame, spec: TraversalSpec): DataFrame =
    bfsLoop(edges, seeds, spec.direction, spec.maxDepth, spec.maxResults.toLong,
      spec.edgeFilter, spec.trackPaths)

  /** Compat-mode DFS: the reference's exact stack machine
    * (`traversal.zig:458-563` — pop last, skip visited, record, push
    * unvisited neighbors; depth-capped expansion; stop at
    * `max_results`), with one necessary determinization: the reference
    * pushes neighbors in its edge index's APPEND order
    * (`graph_edge_index.zig:put_edge` keeps insertion-ordered lists),
    * which is an ingest-history artifact no re-implementation can
    * reproduce; this engine's stored edge index is sorted, so compat
    * mode defines push order as ascending neighbor id (exploration
    * therefore pops descending — the stack reversal is preserved).
    *
    * Returns (id, depth, visit_rank): depth as first visited (stack
    * depth, NOT minimum depth), visit_rank the preorder position —
    * the ordering [[bfs]]'s canonical (depth, id) set deliberately
    * does not reproduce. Only the order under `maxResults` truncation
    * differs from [[bfs]]; untruncated, the visited SET is identical
    * (spec-pinned).
    *
    * Scale shape: the reachable universe comes from the distributed
    * [[bfs]] (a superset of any visit order's result); only the
    * cap-bounded reachable SUBGRAPH is collected for the sequential
    * replay — ≤ the reference's own 10k-result cap, metadata-scale
    * like the Borůvka driver union-find. Visit order is inherently
    * sequential; the reference pays the same single-threaded walk.
    */
  def dfsStackOrder(edges: DataFrame, seedId: String,
                    spec: TraversalSpec): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val adj = reachableAdjacency(edges, seedId, spec, "dfsStackOrder")
    val visited = scala.collection.mutable.Set.empty[String]
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
    val stack = scala.collection.mutable.ArrayBuffer((seedId, 0))
    while (stack.nonEmpty && out.size < spec.maxResults) {
      val (id, depth) = stack.remove(stack.size - 1)
      if (!visited.contains(id)) {
        visited += id
        out += ((id, depth.toLong, out.size.toLong))
        if (depth < spec.maxDepth)
          adj.getOrElse(id, Array.empty[String]).foreach { nb =>
            if (!visited.contains(nb)) stack += ((nb, depth + 1))
          }
      }
    }
    out.toSeq.toDF("id", "depth", "visit_rank")
  }

  /** Compat-mode A*: the reference's exact priority-queue machine
    * (`traversal.zig:685-798` — pop min f_cost, record, enqueue
    * unvisited neighbors with visited marked AT ENQUEUE,
    * `traversal.zig:1157-1177`), with the same determinization as
    * [[dfsStackOrder]]: neighbors enqueue in ascending-id order (the
    * reference's edge-index append order is an ingest-history
    * artifact).
    *
    * The reference heuristic is a uniform stub
    * (`traversal.zig:1282-1290`: h = 1.0), so f = g + h = depth + 1 —
    * every queue entry's priority is monotone in its depth and the
    * visited-at-enqueue rule makes each node's depth its BFS depth.
    * Pop order is therefore nondecreasing in depth, and the visited
    * SET and depths equal canonical [[bfs]] (spec-pinned); what this
    * twin adds is the exact WITHIN-DEPTH pop order under
    * `max_results` truncation, which is determined by the binary-heap
    * mechanics of Zig's `std.PriorityQueue`: add = append + sift-up
    * (strict less-than, so an equal-priority add stays a leaf — and
    * since a new entry's f is always the max in the queue, adds never
    * sift here); remove = pop root, move LAST element to the root,
    * sift-down choosing the left child on ties and swapping on
    * equality (strict less-than both ways). That sift profile is what
    * makes the tie order non-FIFO — replayed verbatim below.
    *
    * Scale shape: identical to [[dfsStackOrder]] — distributed BFS
    * computes the reachable universe, only the cap-bounded reachable
    * SUBGRAPH is collected for the sequential replay (visit order is
    * inherently sequential; the reference pays the same walk).
    *
    * Returns (id, depth, visit_rank) in pop order.
    */
  def astarHeapOrder(edges: DataFrame, seedId: String,
                     spec: TraversalSpec): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val adj = reachableAdjacency(edges, seedId, spec, "astarHeapOrder")
    // Zig std.PriorityQueue replay. Priorities compare by f = d + 1
    // (monotone in d; the seed's f = 0 is never compared — it pops
    // alone). Swap-in-place sifts are compare-equivalent to the
    // reference's copy-chain form: same comparisons, same final array.
    val heap = scala.collection.mutable.ArrayBuffer.empty[(String, Int)]
    def less(x: (String, Int), y: (String, Int)): Boolean = x._2 < y._2
    def add(e: (String, Int)): Unit = {
      heap += e
      var i = heap.size - 1
      while (i > 0 && less(heap(i), heap((i - 1) >> 1))) {
        val p = (i - 1) >> 1
        val t = heap(i); heap(i) = heap(p); heap(p) = t
        i = p
      }
    }
    def removeMin(): (String, Int) = {
      val item = heap(0)
      val last = heap.remove(heap.size - 1)
      if (heap.nonEmpty) {
        heap(0) = last
        var idx = 0
        var done = false
        while (!done) {
          val l = idx * 2 + 1
          if (l >= heap.size) done = true
          else {
            val r = l + 1
            val lesser = if (r < heap.size && less(heap(r), heap(l))) r else l
            if (less(heap(idx), heap(lesser))) done = true
            else {
              val t = heap(idx); heap(idx) = heap(lesser); heap(lesser) = t
              idx = lesser
            }
          }
        }
      }
      item
    }
    val visited = scala.collection.mutable.Set(seedId)
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
    add((seedId, 0))
    while (heap.nonEmpty && out.size < spec.maxResults) {
      val (id, depth) = removeMin()
      out += ((id, depth.toLong, out.size.toLong))
      if (depth < spec.maxDepth)
        adj.getOrElse(id, Array.empty[String]).foreach { nb =>
          if (!visited.contains(nb)) { add((nb, depth + 1)); visited += nb }
        }
    }
    out.toSeq.toDF("id", "depth", "visit_rank")
  }

  /** The input of the [[dfsStackOrder]] and [[astarHeapOrder]] replays:
    * the subgraph reachable from `seedId` under `spec`, as each node's
    * successors in ascending id order. `caller` names the replay in the
    * cap error.
    */
  private def reachableAdjacency(edges: DataFrame, seedId: String,
                                 spec: TraversalSpec,
                                 caller: String): Map[String, Array[String]] = {
    val spark = edges.sparkSession
    import spark.implicits._
    val reached = bfs(edges, Seq(seedId).toDF("id"),
      spec.copy(maxResults = 10000, trackPaths = false))
    // a driver-side BFS already returned a local frame: nothing to
    // checkpoint, and its rows are counted without a job
    val (reach, reachN) =
      if (reached.isLocal) (reached.select("id"), reached.collect().length.toLong)
      else {
        val r = reached.select("id").localCheckpoint(true)
        (r, r.count())
      }
    // The replay's adjacency is only correct if the reachable universe
    // was NOT truncated by the 10k cap (the cap equals the reference's
    // own max_results ceiling, so a legal query can't exceed it — but a
    // caller with a deeper spec could). A capped reach would silently
    // reorder the walk; fail loudly instead.
    require(reachN < 10000,
      s"$caller: reachable set hit the 10k cap ($reachN) — " +
        "visit order would be computed over a truncated adjacency")
    hops(filterEdges(edges, spec.edgeFilter), spec.direction)
      .join(reach.withColumnRenamed("id", "from"), Seq("from"), "left_semi")
      .join(reach.withColumnRenamed("id", "to"), Seq("to"), "left_semi")
      .select("from", "to") // joins move their key first — pin the order
      .distinct()
      .collect().map(r => (r.getString(0), r.getString(1)))
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sorted }
  }

  /** The loop behind [[bfs]], with the result cap widened to Long so
    * internal callers (the bidirectional-search legs, which must NOT
    * truncate their frontiers — a dropped meeting candidate silently
    * lengthens the reported shortest path) can run uncapped. The public
    * API keeps the reference's 10k cap via [[TraversalSpec]].
    *
    * `localRows` is the driver-level gate (see the object scaladoc):
    * 0 runs every level distributed, `Long.MaxValue` every level on the
    * driver. Only tests set it.
    */
  private[graft] def bfsLoop(edges: DataFrame, seeds: DataFrame,
                             direction: Direction, maxDepth: Int,
                             maxResults: Long,
                             edgeFilter: EdgeFilter = EdgeFilter.All,
                             trackPaths: Boolean = false,
                             localRows: Long = BcastRows): DataFrame = {
    // If the edges are already resident (the normal case: a
    // materialized graph or the store's current graph), the hop
    // projection is a cheap in-memory scan per level — re-persisting it
    // would copy the whole table per query.
    val parentCached = resident(edges)
    val hop0 = hops(filterEdges(edges, edgeFilter), direction)
    val hop = if (parentCached) hop0 else hop0.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val seed0 = (
        if (trackPaths)
          seeds.select(col("id"), array(col("id")).as("path"))
        else seeds.select(col("id"))
      ).distinct().withColumn("depth", lit(0))
      val start =
        if (localRows > 0)
          driverLevels(hop, seeds, seed0, maxDepth, maxResults, trackPaths, localRows)
        else Right(seeded(seed0))
      start.fold(identity, distributedLevels(hop, _, maxDepth, maxResults, trackPaths))
    } finally if (!parentCached) hop.unpersist()
  }

  /** Whether `df`'s rows are already held in memory: a persisted frame,
    * rows on the driver (a `LocalRelation`) or a frame straight over a
    * persisted RDD, as [[graft.api.WorkspaceStore.currentGraph]] hands
    * out. Persisting such a source again would only copy it.
    */
  private def resident(df: DataFrame): Boolean =
    df.storageLevel != StorageLevel.NONE || (df.queryExecution.analyzed match {
      case _: LocalRelation => true
      case r: LogicalRDD => r.rdd.getStorageLevel != StorageLevel.NONE
      case _ => false
    })

  /** Row gate of the BFS loop: below it a frame is broadcast (distributed
    * levels) or held on the driver (driver levels). For driver levels
    * the value is measured, not only borrowed from the broadcast hint:
    * `ScaleProbe bfsgate` (1.2M-edge synthetic graph, 4 cores, medians
    * of 3) ran one level faster on the driver up to ~110k visited rows
    * and ~80k new ids (2.27 s vs 2.54 s distributed) and slower from
    * ~310k and ~210k (5.07 s vs 2.91 s).
    */
  private val BcastRows = 100000L

  /** The gate on a level's frontier. With `trackPaths` every frontier row
    * carries a path of ~depth ids, so a row-count threshold alone
    * under-estimates the frame's bytes by a factor of the depth — the
    * cap is scaled down by the rows' width (the 10 MB byte heuristic the
    * optimizer would have applied is unavailable: checkpoint erased
    * stats).
    */
  private def frontierCap(gate: Long, depth: Int, trackPaths: Boolean): Long =
    if (trackPaths) gate / (depth + 1) else gate

  /** Where a distributed BFS continues from: the visited set
    * (id, [path,] depth), the last level and their row counts.
    */
  private final case class BfsState(visited: DataFrame, frontier: DataFrame,
                                    depth: Int, total: Long, frontierSize: Long)

  /** The distributed loop's start: the distinct seeds, checkpointed. */
  private def seeded(seed0: DataFrame): BfsState = {
    val s = seed0.localCheckpoint(false)
    val n = s.count()
    BfsState(s, s, 0, n, n)
  }

  /** One distributed level: frontier ⋈ hops, minus the visited set, at
    * `depth`. Broadcast hints come from the frames' exact row counts.
    */
  private def nextLevel(hop: DataFrame, visited: DataFrame, frontier: DataFrame,
                        depth: Int, total: Long, frontierSize: Long,
                        trackPaths: Boolean): DataFrame = {
    val expandFrom =
      if (frontierSize <= frontierCap(BcastRows, depth, trackPaths)) broadcast(frontier)
      else frontier
    val expandedRaw = expandFrom.join(hop, expandFrom("id") === hop("from"))
    val visitedIds0 = visited.select(col("id").as("vid"))
    val visitedIds =
      if (total <= BcastRows) broadcast(visitedIds0) else visitedIds0
    // dedup first in the SOURCE, but the placement is the
    // optimizer's call either way: PushDownLeftSemiAntiJoin moves
    // the anti below the aggregate (its condition only touches the
    // grouping key), so writing the anti first produces the
    // IDENTICAL physical plan (r14 A/B: plans/r14/rounds/
    // bfs_level_r*.txt matched operator-for-operator across both
    // source orders). Kept in the r13 order; both orders produce
    // the identical set.
    val expanded =
      if (trackPaths)
        expandedRaw
          .select(col("to").as("id"), concat(col("path"), array(col("to"))).as("path"))
          // one canonical (lexicographically smallest) path per node
          .groupBy("id").agg(min(col("path")).as("path"))
          .join(visitedIds, col("id") === col("vid"), "left_anti")
      else
        expandedRaw.select(col("to").as("id")).distinct()
          .join(visitedIds, col("id") === col("vid"), "left_anti")
    expanded.withColumn("depth", lit(depth))
  }

  /** Levels as distributed joins, from `start` until `maxDepth`,
    * `maxResults` or an empty frontier.
    */
  private def distributedLevels(hop: DataFrame, start: BfsState, maxDepth: Int,
                                maxResults: Long, trackPaths: Boolean): DataFrame = {
    // ONE action per level: `count()` materializes the level (an eager
    // localCheckpoint would be a second, separate materialization job —
    // the LAZY variant materializes on the count and still replaces the
    // logical plan with a flat LogicalRDD up front). Adaptive execution
    // still runs that action as a job per broadcast and shuffle stage.
    // Lineage truncation here is load-bearing: each level's
    // plan references the previous level twice (frontier join +
    // visited union), so without it the logical tree doubles per level
    // — exponential plan text that OOMs plan rendering near depth 20.
    // Checkpoint blocks are also cleaned by the ContextCleaner once
    // unreferenced, unlike Dataset persist entries which pin the cache
    // manager until an explicit unpersist.
    var BfsState(visited, frontier, depth, total, frontierSize) = start
    while (depth < maxDepth && total < maxResults && frontierSize > 0) {
      depth += 1
      val next0 = nextLevel(hop, visited, frontier, depth, total, frontierSize, trackPaths)
      graft.core.PlanTrace.round("bfs_level", next0)
      val next = next0.localCheckpoint(false)
      // visited stays a lazy union of per-level checkpointed frames
      visited = visited.union(next)
      frontier = next
      frontierSize = next.count()
      total += frontierSize
    }
    // canonical (depth, id) ordering for deterministic truncation;
    // uncapped internal callers skip the global sort entirely
    if (maxResults >= Int.MaxValue.toLong) visited
    else visited.orderBy(col("depth"), col("id")).limit(maxResults.toInt)
  }

  /** Levels on the driver while the visited set and the frontier stay
    * under `gate` rows (the frontier gate scaled as in [[frontierCap]]).
    * A level maps the visited ids to -1 and each frontier id to its path
    * rank, and the hop rows return the new ids they reach from the
    * frontier, each with its best predecessor rank ([[gathered]]): on the
    * driver when the hops are held there, else in ONE narrow job, the map
    * going out as a broadcast (an `isin` list would grow the plan with
    * the frontier). The driver merges them and builds the canonical
    * paths. The seeds are gathered first, the same way.
    *
    * Returns the result as a local frame with the distributed loop's
    * schema, sorted by (depth, id) and capped like it; or, when the
    * seeds, the state or a level's expansion would cross the gate, the
    * state to continue from with [[distributedLevels]]. What reaches the
    * driver is bounded as [[collectBounded]] states.
    */
  private def driverLevels(hop: DataFrame, seeds: DataFrame, seed0: DataFrame,
                           maxDepth: Int, maxResults: Long, trackPaths: Boolean,
                           gate: Long): Either[DataFrame, BfsState] = {
    val spark = hop.sparkSession
    val cap = if (gate >= Int.MaxValue) Int.MaxValue - 1 else gate.toInt
    val seedIds = gathered(seeds.select(col("id")), gate, ()) { (_, rows) =>
      minRankUpTo(rows.map(r => str(r, 0) -> 0), cap)
    } match {
      case Some(found) => found
      case None => return Right(seeded(seed0))
    }

    // every visited row, in visit order; `parents` holds the index of
    // the row before it on its canonical path (-1 at a seed)
    val ids = ArrayBuffer.empty[String]
    val keys = ArrayBuffer.empty[Option[UTF8String]]
    val depths = ArrayBuffer.empty[Int]
    val parents = ArrayBuffer.empty[Int]
    var depth = 0
    // a level's rows in canonical-path order: all paths of a level have
    // the same length, so a node's path order is (its predecessor's
    // rank, its id); the seeds' is their id order
    def admit(found: Array[(String, Int)], prev: IndexedSeq[Int]): IndexedSeq[Int] = {
      val best = mutable.HashMap.empty[String, Int]
      for ((id, r) <- found) best(id) = math.min(r, best.getOrElse(id, r))
      best.toIndexedSeq.map { case (id, r) => (r, sparkKey(id), id) }
        .sortBy(t => (t._1, t._2))
        .map { case (r, key, id) =>
          ids += id; keys += key; depths += depth
          parents += (if (trackPaths && prev != null) prev(r) else -1)
          ids.length - 1
        }
    }
    var frontier = admit(seedIds, null)

    // the distributed loop's schema: its union takes the level frames'
    // nullability once a level has run (analysis only, no job)
    lazy val levelSchema =
      seed0.union(nextLevel(hop, seed0, seed0, 1, 0L, 0L, trackPaths)).schema
    def frame(rows: Seq[Int]): DataFrame = {
      def path(i: Int): List[String] =
        if (i < 0) Nil else ids(i) :: path(parents(i))
      spark.createDataFrame(rows.map { i =>
        if (trackPaths) Row(ids(i), path(i).reverse, depths(i)) else Row(ids(i), depths(i))
      }.asJava, if (depth == 0) seed0.schema else levelSchema)
    }
    def handOff = Right(BfsState(frame(ids.indices), frame(frontier), depth,
      ids.length.toLong, frontier.length.toLong))

    while (depth < maxDepth && ids.length < maxResults && frontier.nonEmpty) {
      if (ids.length > gate || frontier.length > frontierCap(gate, depth + 1, trackPaths))
        return handOff
      // visited ids map to -1, frontier ids to their path rank within
      // the level (0 for all without paths). A null id never matches
      // the distributed joins, so it is neither visited nor expanded.
      val marks = mutable.HashMap.empty[String, Int]
      for (id <- ids if id != null) marks(id) = -1
      for ((i, r) <- frontier.zipWithIndex if ids(i) != null)
        marks(ids(i)) = if (trackPaths) r else 0
      val found = gathered(hop, gate, marks.toMap) { (m, rows) =>
        minRankUpTo(rows.flatMap { r =>
          val to = str(r, 1)
          m.get(str(r, 0)).filter(_ >= 0 && !m.contains(to)).map(to -> _)
        }, cap)
      }
      if (found.isEmpty) return handOff
      val prev = frontier
      depth += 1
      frontier = admit(found.get, prev)
    }
    val order = ids.indices.sortBy(i => (depths(i), keys(i)))
    Left(frame(if (maxResults >= Int.MaxValue.toLong) order else order.take(maxResults.toInt)))
  }

  /** Each distinct id of `it` with its smallest rank, stopping once more
    * than `cap` ids are held: a partition's share of a level can only
    * tell the driver that it overflows.
    */
  private def minRankUpTo(it: Iterator[(String, Int)],
                          cap: Int): Iterator[(String, Int)] = {
    val best = mutable.HashMap.empty[String, Int]
    while (it.hasNext && best.size <= cap) {
      val (id, r) = it.next()
      best(id) = math.min(r, best.getOrElse(id, r))
    }
    best.iterator
  }

  /** All rows of `rows` in ONE job while their running count stays within
    * `gate`, else None. The job is cancelled as soon as the results
    * received pass the gate, and results past it are dropped, so the
    * driver holds at most `gate` rows plus the one result that crossed
    * it; tasks still running when the cancel lands may ship their
    * results, which are dropped too. `limit(n).collect()` is no
    * substitute: its incremental take can run several jobs.
    */
  private def collectBounded(rows: RDD[(String, Int)],
                             gate: Long): Option[Array[(String, Int)]] = {
    val sc = rows.sparkContext
    val tag = s"graft-bfs-level-${java.util.UUID.randomUUID()}"
    val parts = ArrayBuffer.empty[Array[(String, Int)]]
    var n = 0L
    sc.addJobTag(tag)
    try sc.runJob(rows, (it: Iterator[(String, Int)]) => it.toArray,
      (_: Int, part: Array[(String, Int)]) =>
        if (n <= gate) {
          n += part.length
          if (n > gate) sc.cancelJobsWithTag(tag) else parts += part
        })
    catch { case _: SparkException if n > gate => () }
    finally sc.removeJobTag(tag)
    if (n > gate) None else Some(parts.toArray.flatten)
  }

  /** What `expand` makes of `df`'s rows, while its count stays within
    * `gate`; else None. Rows `df` holds on the driver (its plan folds to
    * a `LocalRelation`) expand there, without a job; others in ONE job
    * ([[collectBounded]]), each partition reading `shared` from a
    * broadcast (TorrentBroadcast runs no job).
    */
  private def gathered[T: ClassTag](df: DataFrame, gate: Long, shared: T)(
      expand: (T, Iterator[InternalRow]) => Iterator[(String, Int)])
      : Option[Array[(String, Int)]] =
    df.queryExecution.optimizedPlan match {
      case l: LocalRelation =>
        Some(expand(shared, l.data.iterator).toArray).filter(_.length <= gate)
      case _ =>
        val bc = df.sparkSession.sparkContext.broadcast(shared)
        try collectBounded(df.queryExecution.toRdd.mapPartitions(expand(bc.value, _)), gate)
        finally bc.destroy()
    }

  private def str(r: InternalRow, i: Int): String =
    if (r.isNullAt(i)) null else r.getUTF8String(i).toString

  /** Spark's string order: UTF-8 bytes, unsigned, unlike `String` order,
    * which compares UTF-16 units. Nulls first, as in an ascending sort.
    */
  private def sparkKey(id: String): Option[UTF8String] =
    Option(id).map(UTF8String.fromString)

  /** Topological level of every node: Kahn's algorithm by frontier
    * peeling (reference `traverse_topological_sort`,
    * `src/query/traversal.zig:986-1135`). Each round peels the current
    * zero-in-degree layer at `level = round`; a node's level is therefore
    * the longest path from any root to it. When no zero-in-degree node
    * remains but nodes do, those leftovers are exactly Kahn's cycle
    * members — returned with level = -1 (the reference returns an empty
    * result on cycles, `traversal.zig:1095-1107`; partial output with the
    * cyclic part marked is strictly more informative, and trivially
    * maskable for compat).
    *
    * Scale: each iteration touches only the REMAINING edges (shrinking
    * every round), not the whole graph — unlike a whole-graph fixpoint,
    * a deep thin chain costs O(chain) small jobs, not O(depth × |E|)
    * full shuffles. maxIters = 100 matches the reference depth cap
    * (`traversal.zig:242-247`).
    */
  def topoLevels(edges: DataFrame, maxIters: Int = 100,
                 edgesDistinct: Boolean = false): DataFrame = graft.core.Checkpoints.withoutAqe(edges.sparkSession) {
    // `edgesDistinct`: caller vouches the (src,dst) projection is
    // already duplicate-free (e.g. a materialized pair view) — skips
    // the per-call distinct shuffle; an already-cached input also
    // skips the redundant persist copy.
    val pairs =
      if (edgesDistinct) edges.select(col("src"), col("dst"))
      else edges.select(col("src"), col("dst")).distinct()
    val parentCached = edgesDistinct && edges.storageLevel != StorageLevel.NONE
    // when this call owns the persist, lay the edges out hash-partitioned
    // by src: every round's semi-join probes on src, so the persisted
    // layout is reused each round instead of re-exchanging e (the
    // in-memory analogue of the bucketed-by-src edge table; measured
    // ~25% off the whole sort at sf0.1)
    val nPart = edges.sparkSession.sessionState.conf.numShufflePartitions max 1
    val e = if (parentCached) pairs
            else pairs.repartition(nPart, col("src"))
              .persist(StorageLevel.MEMORY_AND_DISK)
    // Delta-Kahn: keep only the positive in-degree table and SUBTRACT the
    // peeled layer's contribution each round, instead of re-materializing
    // the remaining edge set — per-round cost is O(edges out of the
    // layer), and the stored state (indeg) only shrinks.
    // NOTE: like the BFS loop above, each round localCheckpoints:
    // `merged` feeds the NEXT round's state twice (layer semi-join +
    // indeg), and truncating lineage per round keeps the cumulative
    // plan flat — measured 3x faster than cached-lineage frames here.
    // LAZY checkpoints: the per-round `layerCount` action materializes
    // them, so each round costs exactly one job (eager would add a
    // second materialization job per round).
    var indeg = e.groupBy(col("dst").as("id"))
      .agg(count(lit(1)).as("deg")).localCheckpoint(false)
    // roots = nodes with no incoming edge. Every node of an edge-pair
    // input appears as a src or a dst, and dst-only nodes are never
    // roots — so distinct(src) anti-join indeg IS the root set, at half
    // the setup shuffle of the full distinct(src ∪ dst) node table.
    var layer = e.select(col("src").as("id")).distinct()
      .join(indeg, Seq("id"), "left_anti")
      .localCheckpoint(false)
    var out = layer.withColumn("level", lit(0))
    var level = 0
    var layerCount = layer.count()
    while (layerCount > 0 && level < maxIters) {
      level += 1
      // NO broadcast hint here, unlike the BFS loop — measured twice
      // (interleaved A/B at sf0.1): with e persisted hash-partitioned
      // by src, the semi-join already only exchanges the small layer
      // side, so per-round broadcast construction (collect + hash
      // build, twice per round) costs MORE than it saves — 2.6 s vs
      // 2.4 s median for the full sort.
      val dec = e
        .join(layer.withColumnRenamed("id", "src"), Seq("src"), "left_semi")
        .groupBy(col("dst").as("id")).agg(count(lit(1)).as("sub"))
      val merged = indeg.join(dec, Seq("id"), "left")
        .withColumn("deg2", col("deg") - coalesce(col("sub"), lit(0L)))
        .localCheckpoint(false)
      // layer and the next indeg are cheap filters over the checkpointed
      // merge — no extra materialization jobs
      layer = merged.filter(col("deg2") <= 0).select("id")
      indeg = merged.filter(col("deg2") > 0)
        .select(col("id"), col("deg2").as("deg"))
      layerCount = layer.count()
      if (layerCount > 0)
        out = out.union(layer.withColumn("level", lit(level)))
    }
    // anything still holding in-degree is on (or downstream of) a cycle
    out.union(indeg.select("id").withColumn("level", lit(-1)))
  }

  /** Simple paths between two nodes in order of INCREASING length,
    * shortest first, up to `maxPaths` (reference `find_paths_between`,
    * `src/query/traversal.zig:1366-1500`: "in order of increasing
    * length, with shortest paths first", cap 100). BFS expanding whole
    * paths (no cross-path visited set — distinct paths may share
    * interior nodes), per-path cycle guard; a path that reaches `to`
    * terminates there (it leaves the frontier — matching the oracle's
    * `head <> to` recursion guard) and the search CONTINUES to deeper
    * levels until `maxPaths` paths are collected or `maxDepth` is hit.
    *
    * `frontierCap` bounds the number of in-flight paths per level (kept
    * in lexicographic path order). Without it the intermediate frontier
    * on a dense graph is combinatorial — every simple path, not every
    * node — and OOMs long before depth 10; the reference likewise caps
    * paths DURING search (`traversal.zig:1373`). When the cap binds, the
    * result keeps the lexicographically-smallest paths per level
    * (pruning keeps the smallest prefixes, and path order is
    * prefix-consistent), just not guaranteed exhaustive.
    */
  def pathsBetween(edges: DataFrame, from: String, to: String,
                   maxDepth: Int = 10, maxPaths: Int = 100,
                   frontierCap: Int = 10000): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val parentCached = edges.storageLevel != StorageLevel.NONE
    val hop0 = hops(edges, Direction.Outgoing)
    val hop = if (parentCached) hop0 else hop0.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      if (from == to) return Seq(Seq(from)).toDF("path")
      var frontier = Seq(Seq(from)).toDF("path")
        .withColumn("head", lit(from)).localCheckpoint(false)
      var frontierSize = frontier.count()
      var depth = 0
      var nHits = 0L
      var collected: List[DataFrame] = Nil // one hit batch per depth, in order
      while (depth < maxDepth && nHits < maxPaths && frontierSize > 0) {
        depth += 1
        // frontier is hard-capped at frontierCap paths -> always small
        // enough to broadcast against the edge table (checkpoint erased
        // the stats the optimizer would need to see that)
        val expanded = broadcast(frontier).join(hop, col("head") === col("from"))
          .filter(!array_contains(col("path"), col("to"))) // per-path cycle guard
          .select(concat(col("path"), array(col("to"))).as("path"), col("to").as("head"))
          // per-level prune: lexicographically-smallest K paths survive
          .orderBy(col("path")).limit(frontierCap)
          .localCheckpoint(false)
        // the level's one job: it materializes the lazy checkpoint and
        // counts all paths and the hits together
        val Row(total: Long, n: Long) =
          expanded.agg(count(lit(1)), count_if(col("head") === lit(to))).head()
        val hits = expanded.filter(col("head") === lit(to)).select("path")
        if (n > 0) { collected = hits :: collected; nHits += n }
        // paths that reached `to` are done — only the rest keep expanding
        frontier = expanded.filter(col("head") =!= lit(to))
        frontierSize = total - n
      }
      collected.reverse
        .foldLeft(spark.emptyDataset[Seq[String]].toDF("path"))(_ union _)
        .orderBy(size(col("path")), col("path")).limit(maxPaths)
    } finally if (!parentCached) hop.unpersist()
  }
}
