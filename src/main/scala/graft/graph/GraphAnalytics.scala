package graft.graph

import graft.core.Loop
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Whole-graph analytics beyond the reference's traversal surface —
  * PageRank and k-core, the two classic "which nodes matter / which
  * subgraph is dense" primitives a code-graph engine is asked for next
  * (rank entities for context packing, find the load-bearing core of a
  * dependency graph). The reference has no analogue; these follow the
  * brief's beyond-reference mandate like the pipeline operators.
  *
  * DETERMINISM DESIGN: both operators run in fixed-point integer
  * arithmetic (LONG micro-units) instead of doubles. A distributed
  * SUM(double) is order-dependent (floating addition doesn't
  * associate), so float ranks can't be hash-compared against an
  * external oracle; integer sums are exact and order-independent on
  * ANY partitioning, so the DuckDB oracle reproduces every iteration
  * bit-for-bit. The float variant is a one-line column swap; the
  * geometry (joins, aggregations, shuffles) is identical.
  */
object GraphAnalytics {

  /** PageRank by power iteration in fixed-point arithmetic.
    *
    * Rank is carried as LONG units of `scale` total mass (default 1e12).
    * Per iteration, with damping d = 85/100 and N = |nodes|:
    *   share(v)   = rank(v) div outdeg(v)          (per out-edge)
    *   dangShare  = sum(rank over outdeg-0 nodes) div N
    *   rank'(v)   = (15 * base) div 100
    *              + (85 * (Σ incoming shares + dangShare)) div 100
    * where base = scale div N. Every op is integer (div = floor,
    * operands non-negative) → exact, associative, oracle-portable.
    *
    * Scale shape: one groupBy(src) for out-degrees (once), then per
    * iteration one equi-join rank⋈edges on src (probes a
    * src-partitioned/bucketed edge layout with no re-exchange — or
    * ships the V-sized share table as a broadcast while V fits) and ONE
    * O(V) partial-agg shuffle that folds the incoming sums INTO the
    * state rebuild: the old-state rows ride the same union as the
    * contribution rows, so there is no second V⋈V join and no
    * broadcast of the aggregated result. No all-pairs anything;
    * per-iteration cost is O(|E|) map-side + one shuffle of O(|V|).
    *
    * One eager carry per iteration ([[graft.core.Loop]] has the round
    * lifecycle); every round and the final frame pass the conservation
    * self-check of [[rankFold]].
    */
  def pagerankFixedPoint(edges: DataFrame, iters: Int = 5,
                         scale: Long = 1000000000000L,
                         pairsDistinct: Boolean = false): DataFrame =
    Loop.run(edges.sparkSession, Loop.Eager) { loop =>
      withSrcPairs(edges, pairsDistinct) { pairs =>
        rankFold(loop, "pagerank", "pagerank_iter", pairs,
          outTopology(pairs, count(lit(1)).as("outdeg")),
          Seq(expr("rank div outdeg").as("share")), col("share"), iters, scale)(
          uniformTeleport(scale))
      }
    }

  /** What a PageRank-family caller adds to [[rankFold]] once n = |V| is
    * known: the round-0 rank, the teleport term of rank', which nodes
    * take the dangling share (`dangIn`, SQL over `dsh`, 0 elsewhere) and
    * the divisor that splits the dangling mass.
    */
  private final case class Teleport(rank0: Column, term: Column,
                                    dangIn: String, dangDiv: Long)

  /** Global PageRank's teleport: base = scale div n everywhere. */
  private def uniformTeleport(scale: Long)(n: Long): Teleport =
    Teleport(lit(scale / n), lit(15L * (scale / n) / 100L), "dsh", n)

  /** (id, degree) over every endpoint of `edges`; `degree` aggregates
    * each node's out-edges and is NULL on the dangling set.
    */
  private def outTopology(edges: DataFrame, degree: Column): DataFrame =
    endpoints(edges).join(edges.groupBy(col("src").as("id")).agg(degree),
      Seq("id"), "left")

  private def endpoints(edges: DataFrame): DataFrame =
    edges.select(col("src").as("id"))
      .union(edges.select(col("dst").as("id"))).distinct()

  /** The (src, dst) pair view of `edges` for the loops that probe on src,
    * lent to `f`. `pairsDistinct`: the caller vouches (src, dst) is
    * duplicate-free; if its frame is also persisted (e.g.
    * CodeGraph.edgePairs) it is used as is — no distinct shuffle, no
    * second in-memory copy.
    */
  private def withSrcPairs[T](edges: DataFrame, pairsDistinct: Boolean)(
      f: DataFrame => T): T = {
    val pairs = edges.select(col("src"), col("dst"))
    bySrc(if (pairsDistinct) pairs else pairs.distinct(),
      pairsDistinct && edges.storageLevel != StorageLevel.NONE)(f)
  }

  /** Lend `edges` to `f` laid out by src like the stored edge index, so
    * per-iteration probes on src exchange ONLY the O(V) state side —
    * never the edge set. Persisted for `f` and released after it, unless
    * the caller's frame is already `cached`.
    */
  private def bySrc[T](edges: DataFrame, cached: Boolean)(f: DataFrame => T): T = {
    val laid = if (cached) edges
      else edges.repartition(col("src")).persist(StorageLevel.MEMORY_AND_DISK)
    try f(laid) finally if (!cached) laid.unpersist()
  }

  /** The fold every PageRank-family round runs — a Pregel superstep as
    * one message join plus one group-by combine (Pregelix's shape).
    *
    * `topology` is (id, degree, extra...): `degree` is NULL on dangling
    * nodes, and every column beyond `id` is carried unchanged from round
    * to round. A round:
    *  - folds the dangling mass and the conservation SELF-CHECK into ONE
    *    1-row frame (`dsh`): row count must equal n and total mass stay
    *    within floor-loss distance of `scale` (integer PageRank conserves
    *    mass up to ≤ 1 unit per row), else an in-plan raise_error fails
    *    the round — a lost or duplicated storage block fails loudly
    *    instead of surfacing as a silent hash mismatch. Fused into the
    *    state rebuild as a broadcast (r14), it costs no driver action;
    *  - SHIPS the `shipped` columns of the live (non-dangling) rows into
    *    the E-sized join with `edges` on src while V is broadcastable
    *    (r14 — the LPA/components pattern): the checkpointed state
    *    carries no size stats, so without the hint the planner
    *    sort-merge-joins and RE-EXCHANGES the edge set at the loop width
    *    every iteration (JobProbe: a 32-task E-sort stage per
    *    iteration); `inc` is each contribution, read off the joined row;
    *  - rebuilds the state as ONE partial-agg shuffle: old-state rows
    *    (inc 0, real carried columns) union contribution rows (inc, NULL
    *    carried columns); max() recovers the carried columns, sum(inc)
    *    the incoming mass. Every contribution dst is a node and every
    *    node has a state row, so the groupBy is total over V. Integer
    *    sums make the result identical on the broadcast or shuffled path.
    * The final frame, which the caller writes, is checked once more.
    */
  private def rankFold(loop: Loop, name: String, tag: String,
                       edges: DataFrame, topology: DataFrame,
                       shipped: Seq[Column], inc: Column, iters: Int,
                       scale: Long)(teleport: Long => Teleport): DataFrame = {
    val topo = loop.seed(topology)
    val n = topo.count() // free: topo is materialized
    val tp = teleport(n)
    val carried = topo.columns.toSeq.filter(_ != "id")
    val degree = col(carried.head)
    val minMass = scale - scale / 100L
    def ship(df: DataFrame) = if (n <= 1000000L) broadcast(df) else df
    var state = topo.withColumn("rank", tp.rank0)
    // per-iteration state shuffles are V-sized; the contribution
    // shuffle's input is E-scale — size from both (edges is
    // materialized, its count is a cache scan)
    loop.rounds(n, edges.count()) {
      for (it <- 1 to iters) {
        val inv = state.agg(
          count(lit(1)).as("cnt"),
          sum("rank").as("total"),
          coalesce(sum(when(degree.isNull, col("rank"))), lit(0L)).as("dang"))
          .select(expr(
            s"CASE WHEN cnt = ${n}L AND total > 0L AND total <= ${scale}L" +
              s" AND total >= ${minMass}L THEN dang div ${tp.dangDiv}L" +
              s" ELSE CAST(raise_error(concat('$name invariant broken " +
              s"before iter $it: rows=', cnt, ' (expected $n), mass=', " +
              s"total, ' (expected ~$scale) — a state frame lost or " +
              "duplicated storage blocks')) AS BIGINT) END").as("dsh"))
        val live = state.filter(degree.isNotNull)
          .select(col("id").as("src") +: shipped: _*)
        val contrib = edges.join(ship(live), Seq("src"))
          .select(col("dst").as("id") +:
            carried.map(lit(null).cast("long").as(_)) :+ inc.as("inc"): _*)
        val folds = carried.map(c => max(c).as(c)) :+ sum("inc").as("inc")
        state = loop.carry(tag, state
          .select(col("id") +: carried.map(col) :+ lit(0L).as("inc"): _*)
          .unionByName(contrib)
          .groupBy("id")
          .agg(folds.head, folds.tail: _*)
          .crossJoin(broadcast(inv))
          .select(col("id") +: carried.map(col) :+ (tp.term +
            expr(s"85 * (inc + ${tp.dangIn}) div 100")).as("rank"): _*))
      }
    }
    val fin = state.agg(count(lit(1)).as("cnt"), sum("rank").as("total"))
      .first()
    if (fin.getLong(0) != n || fin.getLong(1) <= 0L ||
        fin.getLong(1) > scale || fin.getLong(1) < minMass)
      throw new IllegalStateException(
        s"$name invariant broken on final state: rows=${fin.getLong(0)} " +
          s"(expected $n), mass=${fin.getLong(1)} (expected ~$scale)")
    state.select("id", "rank")
  }

  /** DuckDB oracle for [[pagerankFixedPoint]]: the SAME iteration
    * unrolled as chained CTEs (generated by this function from the same
    * constants — the oracle-from-shared-constants pattern used across
    * the pipeline operators). `edgesSql` is a CTE body producing
    * (src, dst, ...).
    */
  def pagerankSql(edgesSql: String, iters: Int = 5,
                  scale: Long = 1000000000000L): String = {
    val sb = new StringBuilder
    sb ++= s"WITH e AS ($edgesSql), "
    // AS MATERIALIZED on every multiply-referenced CTE: each r_t feeds
    // round t+1 twice (dangling + shares) — inlined, the tree would
    // expand 2^iters-fold (see kcoreSql)
    sb ++= "pairs AS MATERIALIZED (SELECT DISTINCT src, dst FROM e), "
    sb ++= "nodes AS MATERIALIZED (SELECT src AS id FROM pairs UNION SELECT dst FROM pairs), "
    sb ++= "c AS MATERIALIZED (SELECT COUNT(*) AS n, " + scale + " // COUNT(*) AS base FROM nodes), "
    sb ++= "deg AS MATERIALIZED (SELECT src AS id, COUNT(*) AS outdeg FROM pairs GROUP BY 1), "
    sb ++= "r0 AS MATERIALIZED (SELECT id, (SELECT base FROM c) AS rank FROM nodes)"
    for (t <- 1 to iters) {
      val p = s"r${t - 1}"
      sb ++= s", d$t AS MATERIALIZED " +
        s"(SELECT COALESCE(SUM(rank), 0) // (SELECT n FROM c) AS dsh " +
        s"FROM $p WHERE NOT EXISTS (SELECT 1 FROM deg WHERE deg.id = $p.id))"
      sb ++= s", s$t AS MATERIALIZED " +
        s"(SELECT p.dst AS id, SUM(r.rank // g.outdeg) AS inc " +
        s"FROM $p r JOIN deg g ON g.id = r.id JOIN pairs p ON p.src = r.id GROUP BY 1)"
      sb ++= s", r$t AS MATERIALIZED " +
        s"(SELECT n.id, (SELECT (15 * base) // 100 FROM c) + " +
        s"(85 * (COALESCE(s.inc, 0) + (SELECT dsh FROM d$t))) // 100 AS rank " +
        s"FROM nodes n LEFT JOIN s$t s ON s.id = n.id)"
    }
    // CAST: DuckDB widens the SUM-derived rank to HUGEINT (int128);
    // the driver's arrow-path harness normalizes HUGEINT differently
    // than int64, so the hash diverges even when values are identical
    // (the r5/r6 red-row root cause). Spark's side is LongType.
    sb ++= s" SELECT id, CAST(rank AS BIGINT) AS rank FROM r$iters ORDER BY rank DESC, id"
    sb.result()
  }

  /** Edge-WEIGHTED PageRank in the same fixed-point LONG arithmetic as
    * [[pagerankFixedPoint]]: a node's rank splits over its out-edges
    * proportionally to weight — share(u→v) = rank(u)·w(u,v) div W(u),
    * W(u) = Σ out-weights — the variant real graphs need when edges
    * carry multiplicity (call counts, co-occurrence counts,
    * interaction strength). Same geometry per iteration ([[rankFold]]):
    * ONE state⋈edges equi-join probing the src-partitioned weighted edge
    * set + ONE O(V) partial-agg state rebuild; dangling mass and the
    * conservation self-check ride the fused invariant row, and the
    * final frame is checked too.
    * Integer floor-divs lose < 1 unit per edge per iteration —
    * well inside the scale/100 invariant tolerance. Caller contract:
    * `w ≥ 1` and `max(rank)·max(w) < 2^63` (at the default scale,
    * any w ≤ ~10^5 is safe); ANSI mode fails loudly otherwise.
    *
    * `edgesW` columns: src, dst, w (one row per weighted edge).
    */
  def pagerankWeighted(edgesW: DataFrame, iters: Int = 5,
                       scale: Long = 1000000000000L): DataFrame =
    Loop.run(edgesW.sparkSession, Loop.Eager) { loop =>
      val weighted = edgesW.select(col("src"), col("dst"),
        col("w").cast("long").as("w"))
      bySrc(weighted, cached = false) { ew =>
        // enforce the caller contract UP FRONT: w = 0 silently leaks rank
        // mass (rank·0 div wout) and w < 0 corrupts the distribution until
        // the conservation invariant trips iterations later with a
        // confusing message — one O(E) partial agg on the just-persisted
        // edge set (also its materializing action) fails at the input
        val minW = ew.agg(coalesce(min("w"), lit(1L))).first().getLong(0)
        require(minW >= 1L,
          s"pagerankWeighted requires every edge weight >= 1, got min(w)=$minW")
        rankFold(loop, "weighted pagerank", "pagerank_weighted_iter", ew,
          outTopology(ew, sum("w").as("wout")),
          Seq(col("rank"), col("wout")), expr("(rank * w) div wout"), iters,
          scale)(uniformTeleport(scale))
      }
    }

  /** DuckDB oracle for [[pagerankWeighted]] — the identical iteration
    * unrolled over the weighted edge CTE (`weightedSql` must yield
    * src, dst, w).
    */
  def pagerankWeightedSql(weightedSql: String, iters: Int = 5,
                          scale: Long = 1000000000000L): String = {
    val sb = new StringBuilder
    sb ++= s"WITH we AS MATERIALIZED ($weightedSql), "
    sb ++= "nodes AS MATERIALIZED (SELECT src AS id FROM we UNION SELECT dst FROM we), "
    sb ++= "c AS MATERIALIZED (SELECT COUNT(*) AS n, " + scale +
      " // COUNT(*) AS base FROM nodes), "
    sb ++= "wg AS MATERIALIZED (SELECT src AS id, SUM(w) AS wout FROM we GROUP BY 1), "
    sb ++= "r0 AS MATERIALIZED (SELECT id, (SELECT base FROM c) AS rank FROM nodes)"
    for (t <- 1 to iters) {
      val p = s"r${t - 1}"
      sb ++= s", d$t AS MATERIALIZED " +
        s"(SELECT COALESCE(SUM(rank), 0) // (SELECT n FROM c) AS dsh " +
        s"FROM $p WHERE NOT EXISTS (SELECT 1 FROM wg WHERE wg.id = $p.id))"
      sb ++= s", s$t AS MATERIALIZED " +
        s"(SELECT p.dst AS id, SUM((r.rank * p.w) // g.wout) AS inc " +
        s"FROM $p r JOIN wg g ON g.id = r.id JOIN we p ON p.src = r.id GROUP BY 1)"
      sb ++= s", r$t AS MATERIALIZED " +
        s"(SELECT n.id, (SELECT (15 * base) // 100 FROM c) + " +
        s"(85 * (COALESCE(s.inc, 0) + (SELECT dsh FROM d$t))) // 100 AS rank " +
        s"FROM nodes n LEFT JOIN s$t s ON s.id = n.id)"
    }
    sb ++= s" SELECT id, CAST(rank AS BIGINT) AS rank FROM r$iters ORDER BY rank DESC, id"
    sb.result()
  }

  /** HITS (Kleinberg hubs & authorities) in overflow-safe integer
    * arithmetic — PageRank's link-analysis sibling: authority(v) =
    * Σ hub over in-neighbors, hub(u) = Σ authority over out-neighbors
    * (computed from the CURRENT iteration's authorities, the standard
    * sequencing), each renormalized per step. Instead of the float L2
    * norm, normalization is integer and PROPORTIONAL in both
    * directions: score = raw·scale div max(1, Σraw), computed in
    * DECIMAL(38,0) (HUGEINT on the DuckDB side) so raw·scale never
    * wraps — total mass returns to ~scale each step with bounded floor
    * loss whether Σraw is above OR below scale (a down-only divisor
    * would let sparse graphs with avg out-degree < 1 floor-divide all
    * ranking signal to zero), and the oracle replays it exactly (a
    * float norm could never hash-match across engines).
    *
    * Scale shape per iteration: TWO E-scale equi-joins probing the
    * src-partitioned pair view (one per direction) + two O(V)
    * partial-agg folds; the normalization scalar rides each fold's
    * materializing action. Returns (id, hub, authority).
    */
  def hitsFixedPoint(edges: DataFrame, iters: Int = 5,
                     scale: Long = 1000000000000L,
                     pairsDistinct: Boolean = false): DataFrame =
    Loop.run(edges.sparkSession, Loop.Lazy) { loop =>
      withSrcPairs(edges, pairsDistinct) { pairs =>
        val nodes = loop.pin(endpoints(pairs))
        val n = nodes.count()
        // SPARSE state carry (r14): a node absent from a raw-sum frame
        // has score 0 and contributes NOTHING to either propagation sum
        // or normalization scalar — so the per-iteration zero-fill
        // (nodes ⋈ hub ⋈ authority + one eager checkpoint job, two
        // V-scale joins per iteration) is dead weight. Carry only the
        // raw-sum frames as lazy carries (2 jobs/iteration — each
        // normalization aggregate doubles as the materializing action,
        // the bfsLoop pattern) and zero-fill ONCE at the end; values are
        // identical by construction (guide §1.2: remove passes that
        // compute what you throw away).
        var hubs: DataFrame = nodes.select(col("id"), lit(scale / n).as("hub"))
        var auths: DataFrame = null
        // SHIP the V-sized score tables into both E-sized joins while V
        // is broadcastable (r14 — see rankFold): without the hint the
        // stat-less checkpointed state forces a sort-merge join that
        // re-exchanges the edge set at the loop width per direction per
        // iteration; broadcast keeps both probes map-side over the
        // cached edge partitions (the dst-keyed probe could never reuse
        // the src layout anyway).
        val smallV = n <= 1000000L
        def shipIf(df: DataFrame) = if (smallV) broadcast(df) else df
        def total(raw: DataFrame) =
          raw.agg(coalesce(sum("raw"), lit(0L))).first().getLong(0)
        def normalized(raw: DataFrame, total: Long, as: String) =
          raw.select(col("id"), expr(s"CAST(raw AS DECIMAL(38,0)) * ${scale}L" +
            s" div ${math.max(1L, total)}L").as(as))
        loop.rounds(n, pairs.count()) {
          for (t <- 1 to iters) {
            // authorities from the previous hubs
            val aRaw = loop.carry("hits_authraw_iter", pairs
              .join(shipIf(hubs.select(col("id").as("src"), col("hub"))),
                Seq("src"))
              .groupBy(col("dst").as("id")).agg(sum("hub").as("raw")))
            auths = normalized(aRaw, loop.settle(total(aRaw)), "authority")
            // hubs from the NEW authorities (standard HITS sequencing)
            val hRaw = loop.carry("hits_hubraw_iter", pairs
              .join(shipIf(auths.select(col("id").as("dst"), col("authority"))),
                Seq("dst"))
              .groupBy(col("src").as("id")).agg(sum("authority").as("raw")))
            // the final authorities feed the output assembly: keep them
            hubs = normalized(hRaw, loop.settle(total(hRaw), release = t < iters),
              "hub")
          }
        }
        // the ONE zero-fill join pass, over the final frames only
        nodes
          .join(hubs, Seq("id"), "left")
          .join(auths.withColumnRenamed("id", "id2"),
            col("id") === col("id2"), "left")
          .select(col("id"), coalesce(col("hub"), lit(0L)).as("hub"),
            coalesce(col("authority"), lit(0L)).as("authority"))
      }
    }

  /** DuckDB oracle for [[hitsFixedPoint]] — the identical iteration
    * (integer renormalization included) unrolled as MATERIALIZED CTEs.
    */
  def hitsSql(edgesSql: String, iters: Int = 5,
              scale: Long = 1000000000000L): String = {
    val sb = new StringBuilder
    sb ++= s"WITH e AS ($edgesSql), "
    sb ++= "pairs AS MATERIALIZED (SELECT DISTINCT src, dst FROM e), "
    sb ++= "nodes AS MATERIALIZED (SELECT src AS id FROM pairs UNION SELECT dst FROM pairs), "
    sb ++= "c AS MATERIALIZED (SELECT " + scale + " // COUNT(*) AS init FROM nodes), "
    sb ++= "st0 AS MATERIALIZED (SELECT id, (SELECT init FROM c) AS hub, " +
      "(SELECT init FROM c) AS authority FROM nodes)"
    for (t <- 1 to iters) {
      val p = s"st${t - 1}"
      sb ++= s", ar$t AS MATERIALIZED (SELECT p.dst AS id, SUM(s.hub) AS raw " +
        s"FROM $p s JOIN pairs p ON p.src = s.id GROUP BY 1)"
      sb ++= s", sa$t AS MATERIALIZED (SELECT GREATEST(1, " +
        s"COALESCE(SUM(raw), 0)) AS s FROM ar$t)"
      sb ++= s", an$t AS MATERIALIZED (SELECT id, CAST(raw * " +
        s"CAST($scale AS HUGEINT) // (SELECT s FROM sa$t) AS BIGINT) " +
        s"AS authority FROM ar$t)"
      sb ++= s", hr$t AS MATERIALIZED (SELECT p.src AS id, " +
        s"SUM(a.authority) AS raw " +
        s"FROM an$t a JOIN pairs p ON p.dst = a.id GROUP BY 1)"
      sb ++= s", sh$t AS MATERIALIZED (SELECT GREATEST(1, " +
        s"COALESCE(SUM(raw), 0)) AS s FROM hr$t)"
      sb ++= s", hn$t AS MATERIALIZED (SELECT id, CAST(raw * " +
        s"CAST($scale AS HUGEINT) // (SELECT s FROM sh$t) AS BIGINT) " +
        s"AS hub FROM hr$t)"
      sb ++= s", st$t AS MATERIALIZED (SELECT n.id, " +
        s"COALESCE(h.hub, 0) AS hub, COALESCE(a.authority, 0) AS authority " +
        s"FROM nodes n LEFT JOIN hn$t h ON h.id = n.id " +
        s"LEFT JOIN an$t a ON a.id = n.id)"
    }
    sb ++= s" SELECT id, CAST(hub AS BIGINT) AS hub, " +
      s"CAST(authority AS BIGINT) AS authority FROM st$iters " +
      "ORDER BY hub DESC, id"
    sb.result()
  }

  /** k-core: iteratively peel nodes of (undirected) degree < k; what
    * remains after `rounds` peels is the k-core (training-data use: the
    * dense cluster of a near-dup graph; code-graph use: the load-bearing
    * kernel of a dependency graph). Returns (id, deg) of surviving nodes
    * with their degree inside the core.
    *
    * The loop exits early once a round removes nothing (the fixpoint —
    * further rounds are no-ops), so `rounds` only caps pathological peel
    * chains. The ORACLE unrolls exactly `rounds` rounds; results agree
    * in every case because the peel function is deterministic and
    * idempotent past the fixpoint: converged-early ≡ ran-all-rounds.
    *
    * Scale shape: each round is one partial-agg degree count plus two
    * broadcast-able semi-joins against the shrinking keep-set; the edge
    * set only shrinks. Same one-action-per-round checkpoint pattern as
    * the topo loop.
    */
  def kcore(edges: DataFrame, k: Int, rounds: Int = 8,
            pairsDistinct: Boolean = false,
            undirectedPairs: Boolean = false): DataFrame = graft.core.Checkpoints.withoutAqe(edges.sparkSession) {
    // undirected view: both orientations, DEDUPED — an input holding
    // both (a,b) and (b,a) is one undirected edge, not two (a plain
    // union would double-count its degree contribution).
    // `undirectedPairs`: caller passes a stored undirected index
    // (CodeGraph.undPairs / the second bucketed edge-table copy) that
    // is already exactly that view — skip the 2|E| union+distinct.
    // an already-persisted undirected index is consumed as-is (the
    // checkpoint copy is only for derived views — see
    // connectedComponents); the loop reassigns `und` to shrunk
    // checkpointed frames from round 1 on either way.
    val parentCached = undirectedPairs &&
      edges.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    val undInit = if (undirectedPairs)
      edges.select(col("src").as("a"), col("dst").as("b"))
    else {
      val und0 =
        if (pairsDistinct) edges.select(col("src"), col("dst"))
        else edges.select(col("src"), col("dst")).distinct()
      und0.select(col("src").as("a"), col("dst").as("b"))
        .union(und0.select(col("dst").as("a"), col("src").as("b")))
        .distinct()
    }
    var und = if (parentCached) undInit else undInit.localCheckpoint(false)
    // DELTA peeling (the same trick as the topo loop): degrees are
    // aggregated over the full edge set ONCE; each round subtracts the
    // removed nodes' contributions from their surviving neighbors
    // instead of re-counting the whole (shrinking) graph — per-round
    // cost is O(edges incident to the peeled layer) + one O(V) merge,
    // and one driver action (the removed-layer count).
    var deg = und.groupBy(col("a").as("id")).agg(count(lit(1)).as("deg"))
      .localCheckpoint(false)
    var r = 0
    var removedCnt = 1L
    while (r < rounds && removedCnt > 0) {
      r += 1
      val removed = deg.filter(col("deg") < k).select("id")
        .localCheckpoint(false)
      removedCnt = removed.count() // the round's single action
      if (removedCnt > 0) {
        // the peeled layer is the JOIN side of every edge-set probe this
        // round; with the loop running under withoutAqe and no stats, a
        // bare join plans as sort-merge — FOUR full sorts of the O(E)
        // edge set per round, the super-linear term the r8 scale probe
        // measured (kcore 15.5× at 10× data; every other headliner
        // ≤ 7.3×). Broadcasting the layer makes each round one map-only
        // pass over und. The layer is V-bounded and usually tiny after
        // round 1; past the broadcast bound (same 4M-key ballpark as
        // the other V-threshold switches) fall back to shuffle — a
        // billion-node first peel on a 100-TB graph must not be
        // collected to the driver.
        def rem(as: String) = {
          val r0 = removed.withColumnRenamed("id", as)
          if (removedCnt <= 4000000L) broadcast(r0) else r0
        }
        // decrement = edges FROM a removed node TO a survivor (und holds
        // both orientations, so removed→removed rows are dropped by the
        // anti-join and never decrement anyone). dec is bounded by
        // removedCnt·(k−1) — every removed node had deg < k — so its
        // broadcast gate must carry the (k−1) FACTOR: at k=16 a 4M-node
        // peel layer can legally produce ~60M decrement rows, far past
        // what the 4M-key ballpark is meant to allow through the driver.
        val dec0 = und
          .join(rem("a"), Seq("a"), "left_semi")
          .join(rem("b"), Seq("b"), "left_anti")
          .groupBy(col("b").as("id")).agg(count(lit(1)).as("sub"))
        val dec =
          if (removedCnt * math.max(1L, k - 1L) <= 4000000L) broadcast(dec0)
          else dec0
        deg = deg.join(rem("id"), Seq("id"), "left_anti")
          .join(dec, Seq("id"), "left")
          .select(col("id"),
            (col("deg") - coalesce(col("sub"), lit(0L))).as("deg"))
          .localCheckpoint(false)
        und = und
          .join(rem("a"), Seq("a"), "left_anti")
          .join(rem("b"), Seq("b"), "left_anti")
          .localCheckpoint(false)
      }
    }
    // deg 0 rows are fully-orphaned survivors — nodes with no remaining
    // edge; the oracle's final per-edge count likewise omits them
    deg.filter(col("deg") > 0)
  }

  /** Connected components by min-label propagation with pointer
    * jumping, DataFrame-native (the scale path — needs no graph
    * re-materialization, its oracle is plain SQL, and since r9 it also
    * backs [[graft.pipeline.Dedup.dupGroups]], retiring the former
    * GraphX Pregel twin).
    *
    * Each round does two label-shrinking steps:
    *   1. neighbor-min:  l(v) <- min(l(v), min over neighbors l(u))
    *   2. pointer jump:  l(v) <- l(l(v))   (labels are always node ids,
    *      so the jump is a self-equi-join of the label table)
    * The jump halves the remaining label-tree depth, so convergence is
    * O(log diameter) rounds, not O(diameter) — the difference between
    * ~6 and ~100 shuffles on a long-chain 100-TB graph.
    *
    * ORACLE CONTRACT (same as [[kcore]]): the engine and the oracle run
    * exactly `rounds` rounds; both steps are deterministic and
    * idempotent past the fixpoint, so a generous `rounds` costs only
    * no-op passes, never a wrong answer. 6 rounds cover any diameter
    * up to ~126 (reach ≥ 2·(reach+1) per round).
    *
    * Per round: one edges⋈labels equi-join + one O(V) partial-agg min
    * + one O(V) label self-join. Round frames are EAGER localCheckpoints:
    * each round's m/jumped are read by multiple downstream branches
    * (both jump sides, next round's union + broadcast), and a LAZY
    * checkpoint consumed from several branches lets each branch's job
    * recompute the whole unmaterialized ancestor chain (measured 3×
    * slower end-to-end than materializing eagerly once). When the node
    * count is small (≤ 1M, measured once up front) the label table is
    * broadcast into both joins, which (a) never shuffles the edge set
    * and (b) sidesteps the label skew that otherwise dominates late
    * rounds — once most labels equal the component minimum, a shuffled
    * jump join would hash almost every row to ONE reducer. At larger V
    * the shuffled path + AQE skew split takes over, with the edge set
    * pre-partitioned on the probe key so only labels move. Labels
    * compare lexicographically (binary string order — identical in
    * Spark and DuckDB for the ASCII ids used here).
    */
  def connectedComponents(edges: DataFrame, rounds: Int = 6,
                          pairsDistinct: Boolean = false,
                          undirectedPairs: Boolean = false): DataFrame = graft.core.Checkpoints.withoutAqe(edges.sparkSession) {
    // both orientations, NOT deduped: min-propagation is idempotent
    // over duplicate edges (unlike k-core's degree counts), so the 2|E|
    // dedup shuffle would buy nothing — the msgs groupBy folds dupes.
    // `undirectedPairs`: a stored undirected index is consumed as-is.
    // an already-persisted undirected index is consumed as-is — the
    // checkpoint copy is only for derived views (copying the stored
    // E-sized table per query would double its storage for nothing)
    val parentCached = undirectedPairs &&
      edges.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    val und0raw = if (undirectedPairs)
      edges.select(col("src").as("a"), col("dst").as("b"))
    else {
      val pairs0 =
        if (pairsDistinct) edges.select(col("src"), col("dst"))
        else edges.select(col("src"), col("dst")).distinct()
      pairs0.select(col("src").as("a"), col("dst").as("b"))
        .union(pairs0.select(col("dst").as("a"), col("src").as("b")))
    }
    val und0 = if (parentCached) und0raw else und0raw.localCheckpoint(false)
    val init = und0.select(col("a").as("id")).distinct()
      .withColumn("lbl", col("id"))
      .localCheckpoint(false)
    // the single up-front action: sizes the broadcast decision (and
    // materializes und/init)
    val nV = init.count()
    val small = nV <= 1000000L
    // non-broadcast path: hash-partition the edge set by the probe side
    // once, so per-round joins exchange only the O(V) label table
    val und = if (small) und0
      else und0.repartition(col("a")).localCheckpoint(false)
    // DELTA propagation: only nodes whose label CHANGED last round send
    // messages this round. Labels are monotone non-increasing (both the
    // neighbor-min and the jump only shrink them), so an unchanged
    // neighbor's label was already folded into v's min in the round
    // after it last changed — re-sending it can never lower anything.
    // By induction the per-round states are IDENTICAL to the
    // full-message version (which is what the unrolled oracle replays);
    // what changes is the cost: late rounds send only the convergence
    // tail (measured at sf0.1: round 4 touches 3k of 186k nodes), and
    // on a 100-TB graph the O(log diameter) tail rounds become nearly
    // free instead of re-shuffling E-sized votes. A round with zero
    // changes IS the fixpoint — every later round is a no-op, so the
    // loop exits early with the oracle-identical state.
    // FUSED round frames (r6): the old round materialized THREE eager
    // checkpoints (min-agg m, jumped, nextChanged) — 3 persist jobs +
    // a count per round, and the round's fixed job overhead, not its
    // shuffles, dominated the bench. Now the previous label rides the
    // min-agg union as a third column (label rows carry prev = own lbl,
    // message rows carry prev = NULL; max(prev) recovers it since every
    // node has exactly one label row), so the pointer jump + changed
    // filter become ONE cheap join over the min-agg frame. m is still
    // checkpointed — the jump reads it from BOTH sides, and feeding a
    // lazy m into a broadcast build + the main pass would run the
    // E-sized message aggregation twice per round (measured: the two
    // copies were 0.5 s + 0.8 s of a 1.6 s round).
    // Lifecycle is a strict chain: m_t ← nf_{t-1}, nf_t ← m_t; after
    // nf_t materializes, m_t and nf_{t-1} have no live consumers and
    // are released with a blocking unpersist.
    val lblType = init.schema("lbl").dataType
    var labels = init
    var changed = init // round 1: every node is fresh
    var frame: DataFrame = null // checkpointed frame backing labels/changed
    var converged = false
    // per-round m/nf frames are V-sized, the round-1 message shuffle
    // is E-scale — size from both (und is materialized by init's count)
    graft.core.Checkpoints.withLoopShuffle(edges.sparkSession, nV,
      und.count()) {
    for (_ <- 1 to rounds if !converged) {
      val chA = changed.withColumnRenamed("id", "a")
      val msgs = und.join(if (small) broadcast(chA) else chA, Seq("a"))
        .select(col("b").as("id"), col("lbl"))
      // LAZY on the broadcast path (r14): the jump join's broadcast
      // build (mSide's executeCollect — its own job) necessarily runs
      // BEFORE the probe stage, so it materializes m's cache and the
      // probe reads it — sequential consumers, no duplicate compute.
      // The shuffled big-V path keeps the eager checkpoint: there both
      // jump sides are independent shuffle-map stages that would race
      // on an unmaterialized frame.
      val m = labels.select(col("id"), col("lbl"), col("lbl").as("prev"))
        .unionByName(msgs.withColumn("prev", lit(null).cast(lblType)))
        .groupBy("id").agg(min("lbl").as("lbl"), max("prev").as("prev"))
        .localCheckpoint(!small)
      // every label value is a node id with its own row in m → inner
      // join is total; l'(v) = l(l(v))
      val mSide = m.select(col("id").as("lbl"), col("lbl").as("lbl2"))
      // nf LAZY: the convergence count below is its materializing
      // action (the bfsLoop pattern) — 1-2 jobs/round instead of 3
      val nf = m.join(if (small) broadcast(mSide) else mSide, Seq("lbl"))
        .select(col("id"), col("lbl2").as("lbl"), col("prev"))
        .localCheckpoint(false)
      converged = nf.filter(col("lbl") =!= col("prev")).count() == 0L
      graft.core.Checkpoints.drop(m) // both jump sides have read it
      if (frame != null) graft.core.Checkpoints.drop(frame)
      else graft.core.Checkpoints.drop(init) // round 1 consumed it
      frame = nf
      labels = nf.select("id", "lbl")
      changed = nf.filter(col("lbl") =!= col("prev")).select("id", "lbl")
    }
    } // withLoopShuffle
    labels.select(col("id"), col("lbl").as("component"))
  }

  /** Minimum spanning forest by Borůvka's algorithm, deterministic:
    * edge "weights" are totally ordered as (w, a, b), which makes the
    * MSF unique — and therefore equal to what Kruskal produces under
    * the same order (RandomizedInvariantsSpec pins that equivalence).
    * Per round, every component selects its minimum outgoing edge
    * (struct-min partial agg — no per-component sort), selected edges
    * join the forest, and touched components contract via
    * [[connectedComponents]] over the component graph (which is ≤ V/2
    * nodes after the first round and shrinks geometrically).
    *
    * Scale shape: per round one edges⋈labels equi-join + one O(V)
    * struct-min, then contraction over the META-graph (one chosen edge
    * per component — component-sized, not edge-sized, and shrinking
    * ≥2× per round). Contraction is hybrid: while the meta-graph has
    * ≤ `metaDriverMax` edges it is union-found ON THE DRIVER (it's
    * metadata scale, exactly like Mvcc's partition offsets — a dozen
    * distributed jobs to merge a few thousand labels is pure
    * overhead); above that, the distributed pointer-jumping
    * [[connectedComponents]] contracts it. Borůvka halves component
    * count per round → `rounds` = O(log V); early exit when no
    * crossing edges remain.
    *
    * No DuckDB oracle — MSF needs iterated contraction, which SQL
    * can't replay faithfully; verification is the spec's Kruskal
    * equivalence on random graphs (same strategy a native engine
    * would use).
    *
    * Driver tail (r7): once the contracted meta-graph has ≤
    * `driverTailMax` crossing edges it is COLLECTED and finished with
    * one driver-side Kruskal — the same metadata-scale argument as the
    * `metaDriverMax` union-find gate (≤1M five-field rows ≈ tens of MB, the same order as the `metaDriverMax` pair collect;
    * a geometric tail of 4+ distributed rounds at ~5 jobs each to
    * merge that is pure scheduling overhead). The MSF is UNIQUE under
    * the (w, a, b) total order, so finishing with a different
    * algorithm (Kruskal vs more Borůvka rounds) cannot change the
    * result. At 100 TB the early E-scale rounds still run distributed;
    * Borůvka's ≥2× per-round component shrink guarantees the tail is
    * reached in O(log V) rounds. Pass `driverTailMax = 0` to force the
    * all-rounds distributed path (specs exercise both).
    *
    * Returns forest edges (a, b, w) with a < b.
    */
  def minimumSpanningForest(edges: DataFrame, rounds: Int = 8,
                            metaDriverMax: Long = 1000000L,
                            canonicalInput: Boolean = false,
                            driverTailMax: Long = 1000000L): DataFrame = graft.core.Checkpoints.withoutAqe(edges.sparkSession) {
    // canonical undirected edge list: a < b, min weight per pair.
    // `canonicalInput` lets a caller that KNOWS its pairs are already
    // unique per undirected pair (e.g. a stored distinct edge index of
    // a DAG with no reverse edges) skip the one dedup groupBy + its
    // checkpoint — on such input the agg is row-preserving, a pure
    // E-scale shuffle for nothing.
    val canonRaw = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"), col("w"))
      .filter(col("a") =!= col("b"))
    val canon =
      if (canonicalInput) {
        // canonical input still MATERIALIZES once unless the caller's
        // frame is already persisted: the canonical projection may sit
        // on expensive per-row expressions (graph_msf packs string ids
        // into checked LONGs here), and without a checkpoint EVERY
        // consumer re-executes them — measured at sf0.1 (r14 JobProbe):
        // round-1 chosen burned 334 executor-s, ~320 of it CPU,
        // because the size scan, the round-1 struct-min (two scans via
        // the union) and the contraction probe each re-packed the full
        // edge list. One eager E-sized checkpoint (3 LONG columns)
        // replaces all of that with cache reads.
        if (edges.storageLevel ==
            org.apache.spark.storage.StorageLevel.NONE)
          canonRaw.localCheckpoint(true)
        else canonRaw
      }
      else canonRaw.groupBy("a", "b").agg(min("w").as("w"))
        .localCheckpoint(true)
    // TRUE Borůvka contraction: after each round the graph is
    // re-expressed over component labels — (ca, cb) meta-endpoints with
    // the original endpoints (oa, ob) carried so forest edges stay
    // real. Only the lightest edge between each component pair
    // survives contraction (any heavier parallel edge closes a
    // 2-cycle once contracted — cycle property — so it can never join
    // the MSF). The working set therefore shrinks geometrically:
    // round 1 touches E, later rounds touch the meta-graph only.
    var live = canon.select(col("a").as("ca"), col("b").as("cb"),
      col("w"), col("a").as("oa"), col("b").as("ob"))
    var forest = canon.limit(0)
    var r = 0
    var crossing = -1L // unknown before the first materialization
    // the chosen table is ≤ V rows (one minimal edge per component)
    // but round-1 chooseMin and the contraction groupBy shuffle
    // edge-scale inputs whose combine only pays off on sparse graphs —
    // size from both V and E. Both sizes come from ONE fused scan
    // (r7; was a count + an O(E) distinct+count = two jobs, ~3 s cold
    // at sf0.1): count is exact; V is bounded by the sum of per-side
    // approx distincts (≤2× over when most nodes appear on both
    // sides) — sizing only needs the magnitude, and withLoopShuffle
    // rounds to a partition count anyway.
    val sizeRow = canon.agg(count(lit(1)), approx_count_distinct(col("a")),
      approx_count_distinct(col("b"))).head()
    val nEdges = sizeRow.getLong(0)
    val nNodes = math.min(sizeRow.getLong(1) + sizeRow.getLong(2),
      2 * nEdges)
    // shared by the driver-tail and the total-order forest assembly:
    // deterministic cross-type compare for the generic id column
    val anyOrd: Ordering[Any] = {
      case (x: Long, y: Long) => java.lang.Long.compare(x, y)
      case (x: Int, y: Int) => Integer.compare(x, y)
      case (x: Double, y: Double) => java.lang.Double.compare(x, y)
      case (x: String, y: String) => x.compareTo(y)
      case (x, y) => x.toString.compareTo(y.toString)
    }
    // Kruskal over a collected meta-graph under the global (w, oa, ob)
    // total order — the driver tail's finisher. Returns the chosen
    // (oa, ob, w) rows as a frame in the live schema's id/w types.
    def kruskalTail(rows: Array[org.apache.spark.sql.Row]): DataFrame = {
      val parent = scala.collection.mutable.Map.empty[Any, Any]
      def find(x: Any): Any = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r0 = find(p); parent(x) = r0; r0 }
      }
      val ordered = rows.sortWith { (x, y) =>
        val c = anyOrd.compare(x.get(2), y.get(2)) // w at ordinal 2
        if (c != 0) c < 0
        else {
          val c2 = anyOrd.compare(x.get(3), y.get(3)) // oa
          if (c2 != 0) c2 < 0 else anyOrd.compare(x.get(4), y.get(4)) < 0
        }
      }
      val picked = ordered.flatMap { row =>
        val (ca, cb) = (row.get(0), row.get(1))
        val (ra, rb) = (find(ca), find(cb))
        if (ra == rb) None
        else { parent(ra) = rb
          Some(org.apache.spark.sql.Row(row.get(3), row.get(4), row.get(2))) }
      }
      val spark = edges.sparkSession
      val lt = live.schema
      spark.createDataFrame(
        spark.sparkContext.parallelize(picked.toIndexedSeq, 1),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("a", lt("oa").dataType),
          org.apache.spark.sql.types.StructField("b", lt("ob").dataType),
          org.apache.spark.sql.types.StructField("w", lt("w").dataType))))
    }
    // metadata-scale input: no distributed rounds at all, one Kruskal
    if (driverTailMax > 0 && nEdges <= driverTailMax) {
      val rows = live.select("ca", "cb", "w", "oa", "ob").collect()
      forest = forest.unionByName(kruskalTail(rows))
      crossing = 0
    }
    graft.core.Checkpoints.withLoopShuffle(edges.sparkSession, nNodes,
      nEdges) {
    while (r < rounds && crossing != 0) {
      r += 1
      // each component's minimal incident edge under the (w, oa, ob)
      // total order — seen from both endpoints. An edge chosen by BOTH
      // its components appears twice; that duplicate is deliberately
      // NOT dropped here (a per-round distinct is an extra shuffle
      // stage inside every materialization) — union-find and the
      // contraction are duplicate-insensitive, and the forest dedups
      // ONCE at assembly.
      val e = struct(col("w"), col("oa"), col("ob"), col("ca"), col("cb"))
      val ch = live.select(col("ca").as("comp"), e.as("e"))
        .union(live.select(col("cb").as("comp"), e.as("e")))
        .groupBy("comp").agg(min("e").as("e"))
        .select(col("e.w").as("w"), col("e.oa").as("oa"),
          col("e.ob").as("ob"), col("e.ca").as("ca"), col("e.cb").as("cb"))
      graft.core.PlanTrace.round("msf_chosen_round", ch)
      val chosen = ch.localCheckpoint(true)
      forest = forest.unionByName(
        chosen.select(col("oa").as("a"), col("ob").as("b"), col("w")))
      // nChosen counts CHOOSING components (a doubly-chosen edge rides
      // twice since the per-round distinct was dropped), so it is up to
      // 2x the distinct chosen edges; using it for the metaDriverMax
      // gate is therefore CONSERVATIVE — overcounting can only push the
      // merge to the distributed path early, never collect too much.
      val nChosen = chosen.count() // materialized: free
      if (nChosen == 0) crossing = 0
      else {
        // merged-set relabeling (set -> its MIN member, the same
        // labeling connectedComponents yields). The chosen meta-graph
        // has ≤ one edge per component; while it is metadata-sized it
        // is union-found on the driver (like Mvcc's partition offsets
        // — a dozen distributed jobs to merge a few thousand labels is
        // pure overhead); past metaDriverMax the distributed
        // pointer-jumping CC takes over.
        val mapping =
          if (nChosen <= metaDriverMax) {
            // id-type-generic (String ids OR a caller's packed LONG
            // encoding — narrow integer keys make every loop shuffle
            // cheaper, see graph_msf's entry): rows collect as Any,
            // the representative choice just needs a DETERMINISTIC
            // order, and the mapping frame is rebuilt with the input's
            // own id type.
            val es = chosen.select("ca", "cb")
              .collect().map(x => (x.get(0), x.get(1)))
            val parent = scala.collection.mutable.Map.empty[Any, Any]
            def find(x: Any): Any = {
              val p = parent.getOrElse(x, x)
              if (p == x) x else { val r0 = find(p); parent(x) = r0; r0 }
            }
            es.foreach { case (x, y) =>
              val (rx, ry) = (find(x), find(y)); if (rx != ry) parent(rx) = ry
            }
            val members = (es.map(_._1) ++ es.map(_._2)).distinct
            val minOfRoot = members.groupBy(find).map { case (root, ms) =>
              root -> ms.min(anyOrd)
            }
            val spark = edges.sparkSession
            // RDD-backed, NOT .toSeq.toDF: a round-1 mapping is
            // V-sized (every node picks an edge in round 1), and a
            // LocalRelation that size would be embedded in the plan
            // LITERALLY — re-analyzed and re-serialized by every
            // downstream job that touches either join side.
            // Parallelized, the mapping is task data like any other
            // frame and the broadcast below ships it once.
            val idType = chosen.schema("ca").dataType
            val rows = members.map(m =>
              org.apache.spark.sql.Row(m, minOfRoot(find(m))))
            spark.createDataFrame(
              spark.sparkContext.parallelize(rows.toIndexedSeq,
                math.max(1, members.length / 50000)),
              org.apache.spark.sql.types.StructType(Seq(
                org.apache.spark.sql.types.StructField("c", idType),
                org.apache.spark.sql.types.StructField("c2", idType))))
          } else
            connectedComponents(
              chosen.select(col("ca").as("src"), col("cb").as("dst")),
              rounds = 6, pairsDistinct = false)
              .select(col("id").as("c"), col("component").as("c2"))
        // contract: relabel endpoints, drop intra-component edges, keep
        // the lightest (w, oa, ob) edge per component pair. The
        // broadcast hint only applies to the driver-sized mapping; the
        // distributed-CC branch's mapping shuffles normally.
        val m = struct(col("w"), col("oa"), col("ob"))
        def side(from: String, to: String) = {
          val s0 = mapping.select(col("c").as(from), col("c2").as(to))
          if (nChosen <= metaDriverMax) broadcast(s0) else s0
        }
        val prevLive = live
        val ct = live
          .join(side("ca", "ma"), Seq("ca"), "left")
          .join(side("cb", "mb"), Seq("cb"), "left")
          .select(coalesce(col("ma"), col("ca")).as("na"),
            coalesce(col("mb"), col("cb")).as("nb"),
            col("w"), col("oa"), col("ob"))
          .filter(col("na") =!= col("nb"))
          .select(least(col("na"), col("nb")).as("ca"),
            greatest(col("na"), col("nb")).as("cb"),
            col("w"), col("oa"), col("ob"))
          .groupBy("ca", "cb").agg(min(m).as("m"))
          .select(col("ca"), col("cb"), col("m.w").as("w"),
            col("m.oa").as("oa"), col("m.ob").as("ob"))
        graft.core.PlanTrace.round("msf_contract_round", ct)
        live = ct.localCheckpoint(true)
        crossing = live.count()
        // prev round's live frame is dead (chosen frames stay: forest
        // is a lazy union over them; round 1's prev is a projection of
        // canon, where drop() is a strict no-op)
        graft.core.Checkpoints.drop(prevLive)
        // driver tail: the meta-graph is metadata-scale — collect the
        // (already materialized) live frame and finish with Kruskal
        // instead of paying ~5 more jobs per geometric-tail round
        if (crossing > 0 && crossing <= driverTailMax) {
          val rows = live.select("ca", "cb", "w", "oa", "ob").collect()
          forest = forest.unionByName(kruskalTail(rows))
          graft.core.Checkpoints.drop(live)
          crossing = 0
        }
      }
    }
    } // withLoopShuffle
    // canon is dead once the loop exits: round 1 and the driver tail
    // are materialized, and forest's `canon.limit(0)` seed is folded
    // to an empty LocalRelation by OptimizeLimitZero before execution.
    // (A caller-persisted canonical frame is not a bare checkpoint
    // LogicalRDD, so drop() is a strict no-op there.)
    graft.core.Checkpoints.drop(canon)
    // ONE forest-sized dedup replaces the per-round distinct: the only
    // duplicates possible are the doubly-chosen (both-endpoint) edges
    forest.select("a", "b", "w").distinct()
  }

  /** Community detection by synchronous label propagation (LPA):
    * every node simultaneously adopts the most frequent label among its
    * neighbors, ties broken by the smallest label — the deterministic
    * variant (plain LPA's async update order is run-dependent, which
    * would make the result unverifiable; synchronous + total tie-break
    * replays identically on any partitioning AND in the oracle).
    * Training-data use: clustering the near-dup graph into families;
    * code-graph use: module discovery over the dependency graph.
    *
    * ORACLE CONTRACT (same as [[kcore]]/[[connectedComponents]]): engine
    * and oracle run exactly `rounds` synchronous steps. Unlike those
    * two, LPA has no convergence guarantee (bipartite structures can
    * oscillate), so the operator IS "the label state after `rounds`
    * steps" — a fixed-round semantic, not a fixpoint approximation.
    *
    * Per round: one edges⋈labels equi-join (probes the stored
    * undirected index with no re-exchange), one (id, lbl) partial-agg
    * count, one per-id min — all hash shuffles of O(V·avg-label-mix),
    * never anything pairwise. The winner is picked with
    * min(struct(-count, label)) — a partial-aggregatable min, not a
    * per-id sort window.
    */
  def labelPropagation(edges: DataFrame, rounds: Int = 4,
                       pairsDistinct: Boolean = false,
                       undirectedPairs: Boolean = false): DataFrame = graft.core.Checkpoints.withoutAqe(edges.sparkSession) {
    // distinct undirected view — label COUNTS need dedup (a pair stored
    // in both orientations is one neighbor relation, not two votes).
    // An already-persisted undirected index is consumed as-is; the
    // checkpoint copy is only for derived views (und is read every
    // round, never mutated).
    val parentCached = undirectedPairs &&
      edges.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    val und0 = if (undirectedPairs)
      edges.select(col("src").as("a"), col("dst").as("b"))
    else {
      val pairs0 =
        if (pairsDistinct) edges.select(col("src"), col("dst"))
        else edges.select(col("src"), col("dst")).distinct()
      pairs0.select(col("src").as("a"), col("dst").as("b"))
        .union(pairs0.select(col("dst").as("a"), col("src").as("b")))
        .distinct()
    }
    val undRaw = if (parentCached) und0 else und0.localCheckpoint(false)
    var labels = undRaw.select(col("a").as("id")).distinct()
      .withColumn("lbl", col("id"))
      .localCheckpoint(false)
    // the vote join probes und on `b`, but a stored undirected index is
    // laid out by `a` — shuffling the O(E) edge set per round to the
    // other key is the classic LPA bottleneck. The label table is O(V);
    // while it is broadcastable, ship IT instead and the edge set never
    // moves (same V-threshold pattern as connectedComponents). Past the
    // threshold, re-lay the edge set out by `b` ONCE so every round's
    // shuffled join exchanges only the O(V) label table — never E per
    // round. The one up-front count also materializes und/labels.
    val nV = labels.count()
    val small = nV <= 1000000L
    val und = if (small) undRaw
      else undRaw.repartition(col("b")).localCheckpoint(false)
    // the winner table keys on id (V-scale) but the vote agg's input
    // is E-scale with weak map-side combining on dense graphs — size
    // from both (und is materialized by labels' count)
    graft.core.Checkpoints.withLoopShuffle(edges.sparkSession, nV,
      und.count()) {
    for (_ <- 1 to rounds) {
      // vote of neighbor b's label to node a (every node of und has ≥1
      // neighbor, so the synchronous update is total)
      val lblsB = labels.withColumnRenamed("id", "b")
      val votes = und
        .join(if (small) broadcast(lblsB) else lblsB, Seq("b"))
        .groupBy(col("a").as("id"), col("lbl"))
        .agg(count(lit(1)).as("c"))
      labels = votes
        .groupBy("id")
        .agg(min(struct((-col("c")).as("nc"), col("lbl").as("l"))).as("w"))
        .select(col("id"), col("w.l").as("lbl"))
        .localCheckpoint(false)
    }
    } // withLoopShuffle
    labels.select(col("id"), col("lbl").as("community"))
  }

  /** The CTE chain shared by [[lpaSql]] and [[modularitySql]]: builds
    * `g0` (deduped undirected orientation rows) and `l<rounds>` (the
    * final label table).
    */
  private def lpaCtes(edgesSql: String, rounds: Int): String = {
    val sb = new StringBuilder
    sb ++= s"WITH e AS ($edgesSql), "
    sb ++= "pairs AS MATERIALIZED (SELECT DISTINCT src, dst FROM e), "
    sb ++= "g0 AS MATERIALIZED (SELECT src AS a, dst AS b FROM pairs " +
      "UNION SELECT dst, src FROM pairs), "
    sb ++= "l0 AS MATERIALIZED (SELECT DISTINCT a AS id, a AS lbl FROM g0)"
    for (t <- 1 to rounds) {
      val p = s"l${t - 1}"
      sb ++= s", c$t AS MATERIALIZED (SELECT g.a AS id, l.lbl, COUNT(*) AS c " +
        s"FROM g0 g JOIN $p l ON l.id = g.b GROUP BY 1, 2)"
      sb ++= s", l$t AS MATERIALIZED (SELECT id, lbl FROM (" +
        s"SELECT id, lbl, row_number() OVER (PARTITION BY id " +
        s"ORDER BY c DESC, lbl) AS rn FROM c$t) WHERE rn = 1)"
    }
    sb.result()
  }

  /** DuckDB oracle for [[labelPropagation]]: `rounds` unrolled
    * vote-count + argmin steps (generated from the same tie-break).
    */
  def lpaSql(edgesSql: String, rounds: Int = 4): String =
    lpaCtes(edgesSql, rounds) +
      s" SELECT id, lbl AS community FROM l$rounds ORDER BY id"

  /** Newman modularity of the [[labelPropagation]] partition, as ONE
    * exact rational: Q = Σ_c [e_c/m − (D_c/2m)²] = (4·m·A − B)/(4·m²)
    * with A = Σ_c intra-community edges, B = Σ_c (degree sum)², m =
    * undirected edge count — all LONG until the single rounded double
    * division, so the oracle replays the whole chain (4 LPA rounds
    * included) bit-for-bit. Returns one row
    * (m, intra_edges, modularity).
    *
    * Scale shape: the partition comes from [[labelPropagation]]; the
    * metric itself is two broadcast-able label joins over the canonical
    * edge list + two partial-agg sums.
    */
  def modularity(edges: DataFrame, rounds: Int = 4,
                 pairsDistinct: Boolean = false,
                 undirectedPairs: Boolean = false): DataFrame =
    modularityOfLabels(
      labelPropagation(edges, rounds, pairsDistinct, undirectedPairs)
        .withColumnRenamed("community", "lbl")
        .localCheckpoint(true),
      undView(edges, pairsDistinct, undirectedPairs))

  /** Newman modularity of the [[louvainOneLevel]] partition — the
    * quality metric for the modularity-ASCENDING phase, same exact
    * rational as [[modularity]]; the oracle replays the full unrolled
    * louvain chain (stay candidate, parity gate) plus the metric.
    */
  def louvainModularity(edges: DataFrame, rounds: Int = 4,
                        pairsDistinct: Boolean = false,
                        undirectedPairs: Boolean = false): DataFrame =
    louvainModularityOf(
      louvainOneLevel(edges, rounds, pairsDistinct, undirectedPairs),
      edges, pairsDistinct, undirectedPairs)

  /** [[louvainModularity]] over an ALREADY-COMPUTED louvain partition
    * (id, community) — the metric tail alone. Lets a caller that has
    * the partition as a stored artifact (the session QueryCache, a
    * written table) score it without re-running the move rounds: the
    * r9 bench suite paid the identical level-1 chain three times
    * across the louvain family, ~12% of suite wall-clock.
    */
  def louvainModularityOf(labels: DataFrame, edges: DataFrame,
                          pairsDistinct: Boolean = false,
                          undirectedPairs: Boolean = false): DataFrame =
    modularityOfLabels(
      labels.withColumnRenamed("community", "lbl")
        .localCheckpoint(true),
      undView(edges, pairsDistinct, undirectedPairs))

  /** The symmetrized distinct pair view shared by the modularity
    * metrics (both orientations; self-loops kept for the degree-slot
    * remainder).
    */
  private def undView(edges: DataFrame, pairsDistinct: Boolean,
                      undirectedPairs: Boolean): DataFrame =
    if (undirectedPairs)
      edges.select(col("src").as("a"), col("dst").as("b"))
    else {
      val p0 =
        if (pairsDistinct) edges.select(col("src"), col("dst"))
        else edges.select(col("src"), col("dst")).distinct()
      p0.select(col("src").as("a"), col("dst").as("b"))
        .union(p0.select(col("dst").as("a"), col("src").as("b")))
        .distinct()
    }

  /** The metric body shared by [[modularity]] and [[louvainModularity]]:
    * Q = (4mA − B)/4m² over a checkpointed (id, lbl) table and the
    * symmetrized pair view.
    */
  private def modularityOfLabels(labels: DataFrame,
                                 und: DataFrame): DataFrame = {
    // canon has exactly ONE consumer (the labeled build) — its r8
    // eager checkpoint materialized the E-sized filtered view for
    // nothing; the filter now fuses into the labeled job (r14).
    val canon = und.filter(col("a") < col("b"))
    // the label table broadcasts only while V-bounded (same threshold
    // as the LPA rounds themselves); above it the joins shuffle — the
    // label side is O(V), never the edge set twice
    val smallV = labels.count() <= 1000000L
    def lbl(as: String, out: String) = {
      val s0 = labels.select(col("id").as(as), col("lbl").as(out))
      if (smallV) broadcast(s0) else s0
    }
    // The labels table joins canon ONCE, and the labeled frame is
    // checkpointed so both metric aggregates read it (r8 — previously
    // the labels table went through THREE separate broadcast builds:
    // two for m+intra, one more for a V-scale degree agg + join.
    // Driver-side broadcast construction of a near-threshold label
    // table is exactly the GC-pressure amplifier behind this entry's
    // in-suite heavy tail; see SURVEY §6).
    val labeled = canon
      .join(lbl("a", "la"), Seq("a"))
      .join(lbl("b", "lb"), Seq("b"))
      .select("la", "lb")
      .localCheckpoint(true)
    // the label joins are total (every endpoint has exactly one LPA
    // label), so count(*) over the labeled frame IS |canon|, and the
    // intra count rides the same aggregate as a conditional sum
    val mi = labeled
      .agg(count(lit(1)).as("m"),
        sum(when(col("la") === col("lb"), 1L).otherwise(0L))
          .as("intra_edges"))
    // D_c = Σ_{v∈c} deg(v), but over the canonical edge list each edge
    // contributes exactly one endpoint-slot to D_la and one to D_lb —
    // so the per-community degree sums fall out of the SAME labeled
    // frame (endpoint-slot union → count per label), no degree table,
    // no third labels join: B = Σ_c D_c². SELF-LOOPS are the one case
    // canon (a < b) excludes that the degree table in the oracle's dg
    // CTE still counts (deg from g0, which keeps its (x, x) row): they
    // contribute no edge to m/intra on either engine, but one degree
    // slot — fold that (usually empty) remainder in so the engine and
    // the oracle stay bit-for-bit on graphs with recursive edges.
    val selfSlots = und.filter(col("a") === col("b"))
      .join(lbl("a", "__sl"), Seq("a")).select(col("__sl").as("lbl"))
    val b = labeled.select(col("la").as("lbl"))
      .unionAll(labeled.select(col("lb").as("lbl")))
      .unionAll(selfSlots)
      .groupBy("lbl").agg(count(lit(1)).as("dc"))
      .agg(coalesce(sum(col("dc") * col("dc")), lit(0L)).as("__b"))
    // BOTH metric aggregates ride the CALLER'S single action as a
    // 1-row cross join over the checkpointed labeled frame (r14): the
    // two .first() driver round-trips and the literal re-assembly are
    // gone — same expression, same operand order as the generated SQL.
    mi.crossJoin(broadcast(b))
      .select(col("m"), col("intra_edges"),
        round((lit(4.0) * col("m") * col("intra_edges") - col("__b")) /
          (lit(4.0) * col("m") * col("m")), 6).as("modularity"))
  }

  /** DuckDB oracle for [[modularity]], generated over the same
    * unrolled LPA chain.
    */
  def modularitySql(edgesSql: String, rounds: Int = 4): String =
    lpaCtes(edgesSql, rounds) + modularityTailSql(s"l$rounds")

  /** DuckDB oracle for [[louvainModularity]] — the unrolled louvain
    * chain of [[louvainSql]] plus the identical metric tail.
    */
  def louvainModularitySql(edgesSql: String, rounds: Int = 4): String =
    louvainCtesSql(edgesSql, rounds) + modularityTailSql(s"l$rounds")

  /** The Q = (4mA − B)/4m² metric tail over a label CTE (id, lbl),
    * shared by [[modularitySql]] and [[louvainModularitySql]] (both
    * chains expose the same `g0` symmetrized pair CTE).
    */
  private def modularityTailSql(lblCte: String): String =
    s""", qcanon AS (SELECT a, b FROM g0 WHERE a < b),
       | qm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM qcanon),
       | qia AS (SELECT CAST(COUNT(*) AS BIGINT) AS intra FROM qcanon c
       |  JOIN $lblCte x ON x.id = c.a JOIN $lblCte y ON y.id = c.b
       |  WHERE x.lbl = y.lbl),
       | qdg AS (SELECT g0.a AS id, COUNT(*) AS deg FROM g0 GROUP BY 1),
       | qdc AS (SELECT l.lbl, SUM(d.deg) AS dsum FROM qdg d
       |  JOIN $lblCte l ON l.id = d.id GROUP BY 1),
       | qbb AS (SELECT CAST(SUM(dsum * dsum) AS BIGINT) AS b FROM qdc)
       | SELECT m, intra AS intra_edges,
       |  round((4.0 * m * intra - b) / (4.0 * m * m), 6) AS modularity
       | FROM qm, qia, qbb""".stripMargin.replace("\n", " ")

  /** DuckDB oracle for [[connectedComponents]]: `rounds` unrolled
    * (neighbor-min + jump) steps, every CTE materialized (each l_t is
    * read twice by its own jump join and twice by round t+1).
    */
  def componentsSql(edgesSql: String, rounds: Int = 6): String = {
    val sb = new StringBuilder
    sb ++= s"WITH e AS ($edgesSql), "
    sb ++= "pairs AS MATERIALIZED (SELECT DISTINCT src, dst FROM e), "
    sb ++= "g0 AS MATERIALIZED (SELECT src AS a, dst AS b FROM pairs " +
      "UNION SELECT dst, src FROM pairs), "
    sb ++= "l0 AS MATERIALIZED (SELECT DISTINCT a AS id, a AS lbl FROM g0)"
    for (t <- 1 to rounds) {
      val p = s"l${t - 1}"
      sb ++= s", m$t AS MATERIALIZED (SELECT id, MIN(lbl) AS lbl FROM (" +
        s"SELECT id, lbl FROM $p " +
        s"UNION ALL SELECT g.b AS id, l.lbl FROM g0 g JOIN $p l ON l.id = g.a" +
        s") GROUP BY id)"
      sb ++= s", l$t AS MATERIALIZED (SELECT x.id, y.lbl " +
        s"FROM m$t x JOIN m$t y ON y.id = x.lbl)"
    }
    sb ++= s" SELECT id, lbl AS component FROM l$rounds ORDER BY id"
    sb.result()
  }

  /** Per-node triangle counts over the undirected simple graph of
    * `edges`, by degree-ordered edge orientation ("node-iterator++"):
    * orient every undirected edge from its lower-(degree, id) endpoint;
    * generate wedges only at each triangle's lowest-degree corner; close
    * against the canonical edge set. Wedge volume is O(|E|^{3/2})
    * (arboricity bound) instead of Σ deg² — the difference between a
    * star-heavy 100-TB graph finishing and not. All joins are
    * equi-joins; no node ever pairs beyond its oriented neighbors.
    *
    * Returns (id, triangles) for nodes in ≥1 triangle.
    *
    * `canonical`: caller vouches the input is already loop-free,
    * deduped, and oriented src < dst — skips the re-canonicalization
    * shuffle (a co-occurrence derivation emitting p < q pairs is
    * already canonical).
    */
  def triangleCounts(edges: DataFrame, pairsDistinct: Boolean = false,
                     canonical: Boolean = false): DataFrame = {
    val p0 =
      if (pairsDistinct || canonical) edges.select(col("src"), col("dst"))
      else edges.select(col("src"), col("dst")).distinct()
    // canonical undirected edges: a < b, loops dropped, deduped
    // EAGER checkpoints: canon is read by three branches (deg, the
    // orientation join, the closing semi-join) and o by two (both wedge
    // sides) — lazily-checkpointed multi-branch frames get recomputed
    // per branch (see connectedComponents)
    val canon = (
      if (canonical) p0.select(col("src").as("a"), col("dst").as("b"))
      else p0.filter(col("src") =!= col("dst"))
        .select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b"))
        .distinct()
      ).localCheckpoint(true)
    val deg = canon.select(col("a").as("id"))
      .union(canon.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
    val lower = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    val o = canon
      .join(deg.select(col("id").as("a"), col("deg").as("da")), Seq("a"))
      .join(deg.select(col("id").as("b"), col("deg").as("db")), Seq("b"))
      .select(when(lower, col("a")).otherwise(col("b")).as("u"),
        when(lower, col("b")).otherwise(col("a")).as("v"))
      .localCheckpoint(true)
    // wedges at the lowest-order corner u; the corner pair (v, w) is
    // unordered → pair by plain id so the closing edge is exactly the
    // canonical row (v, w)
    val wedges = o.join(o.select(col("u"), col("v").as("w")), Seq("u"))
      .filter(col("v") < col("w"))
    // the wedge set is the big intermediate (Σ out-deg² ≫ |E|); when
    // the edge set is broadcastable, close wedges map-side so they
    // never shuffle — only the final histogram-sized agg moves. The
    // count is free: canon is already checkpoint-materialized.
    val closing0 = canon.select(col("a").as("v"), col("b").as("w"))
    val closing =
      if (canon.count() <= 5000000L) broadcast(closing0) else closing0
    val tri = wedges.join(closing, Seq("v", "w"), "left_semi")
    tri.select(explode(array(col("u"), col("v"), col("w"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("triangles"))
  }

  /** Per-node triangle counts via per-edge common-neighbor
    * intersection (edge-iterator): build each node's sorted adjacency
    * array once, then for every canonical edge (v, w) count
    * |adj(v) ∩ adj(w)| — the triangles through that edge. A triangle at
    * node x contributes 1 to exactly two of x's incident edges, so
    * per-node = Σ incident edge counts / 2.
    *
    * Same asymptotic work as [[triangleCounts]] (Σ deg²) but the wedge
    * set NEVER materializes as rows — it lives inside the array
    * intersects — so nothing Σdeg²-sized is shuffled or allocated
    * per-row. On the sf0.1 co-occurrence graph (41M wedges) this is the
    * difference between a 6 s wedge-join stage and a ~1 s map stage.
    *
    * THE BOUND THAT PICKS THE VARIANT: per-row adjacency arrays mean
    * max-degree-bounded memory (deg ~222 here). On a power-law graph
    * with 10⁶-degree hubs the arrays blow up; use the wedge-join
    * [[triangleCounts]] there — it streams wedges without per-row
    * blowup. GraphAnalyticsSpec pins the two equal.
    */
  def triangleCountsAdj(edges: DataFrame, pairsDistinct: Boolean = false,
                        canonical: Boolean = false): DataFrame = {
    val p0 =
      if (pairsDistinct || canonical) edges.select(col("src"), col("dst"))
      else edges.select(col("src"), col("dst")).distinct()
    // an already-persisted canonical store view (coPairs) is consumed
    // as-is (r14): the eager checkpoint was an E-scale copy of a table
    // that is already in memory
    val parentCached = canonical &&
      edges.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    val canon0 =
      if (canonical) p0.select(col("src").as("a"), col("dst").as("b"))
      else p0.filter(col("src") =!= col("dst"))
        .select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b"))
        .distinct()
    val canon = if (parentCached) canon0 else canon0.localCheckpoint(true)
    val nbrs = canon.select(col("a").as("id"), col("b").as("nb"))
      .union(canon.select(col("b").as("id"), col("a").as("nb")))
      .groupBy("id").agg(sort_array(collect_set(col("nb"))).as("adj"))
      .localCheckpoint(true)
    // V-sized node table with bounded arrays → broadcast both probe
    // joins when it fits; the edge set then never shuffles at all
    val smallV = nbrs.count() <= 2000000L
    def side(k: String, out: String) =
      if (smallV) broadcast(nbrs.select(col("id").as(k), col("adj").as(out)))
      else nbrs.select(col("id").as(k), col("adj").as(out))
    val perEdge = canon
      .join(side("a", "adjA"), Seq("a"))
      .join(side("b", "adjB"), Seq("b"))
      .select(col("a"), col("b"),
        size(array_intersect(col("adjA"), col("adjB"))).cast("long").as("c"))
    perEdge
      .select(explode(array(
        struct(col("a").as("id"), col("c")),
        struct(col("b").as("id"), col("c")))).as("e"))
      .select(col("e.id"), col("e.c"))
      .groupBy("id").agg(expr("sum(c) div 2").as("triangles"))
      .filter(col("triangles") > 0)
  }

  /** Related-entities query (link-prediction primitive): rank every
    * 2-hop node by Jaccard similarity of its undirected neighborhood to
    * a seed's — "what else looks like this node's neighbors but isn't
    * linked yet". The code-graph use is the reference's find_references
    * one step further: candidate edges, not existing ones.
    *
    * Seed-anchored, so the whole query is bounded by the seed's 2-hop
    * fan-out: the seed's neighbor set is broadcast into one equi-join
    * over the edge set (common-neighbor counts fall out of a groupBy),
    * direct neighbors leave via a broadcast anti-join, and the top-k is
    * an orderBy+limit (TakeOrderedAndProject — per-partition heaps, no
    * global sort). Nothing all-pairs anywhere; the batch-all-seeds
    * variant is [[triangleCountsAdj]]'s adjacency-array shape applied
    * to candidate pairs.
    *
    * jaccard = cn / (deg(seed) + deg(v) − cn), exact integer inputs,
    * one rounded division — oracle-portable bit-for-bit.
    */
  def relatedNodes(edges: DataFrame, seedId: String, k: Int = 20,
                   pairsDistinct: Boolean = false,
                   undirectedPairs: Boolean = false): DataFrame = {
    // distinct undirected view — common-neighbor COUNTS need dedup
    // (read by three branches → eager, see connectedComponents).
    // `undirectedPairs`: a stored undirected index is consumed as-is
    // (already persisted → no checkpoint copy needed).
    val und = if (undirectedPairs)
      edges.select(col("src").as("a"), col("dst").as("b"))
    else {
      val pairs0 =
        if (pairsDistinct) edges.select(col("src"), col("dst"))
        else edges.select(col("src"), col("dst")).distinct()
      pairs0.select(col("src").as("a"), col("dst").as("b"))
        .union(pairs0.select(col("dst").as("a"), col("src").as("b")))
        .distinct()
        .localCheckpoint(true)
    }
    val deg = und.groupBy(col("a").as("id")).agg(count(lit(1)).as("deg"))
    val seedN = und.filter(col("a") === seedId)
      .select(col("b").as("x")).localCheckpoint(true)
    val seedDeg = seedN.count() // seed-bounded driver value (like the
                                // ann_topk query-vector fetch)
    val cn = und
      .join(broadcast(seedN.withColumnRenamed("x", "a")), Seq("a"))
      .select(col("b").as("id"))
      .filter(col("id") =!= seedId)
      .groupBy("id").agg(count(lit(1)).as("cn"))
    cn.join(broadcast(seedN.withColumnRenamed("x", "id")), Seq("id"), "left_anti")
      .join(deg, Seq("id"))
      .select(col("id"), col("cn"), col("deg"),
        round(col("cn") / (lit(seedDeg) + col("deg") - col("cn")), 6)
          .as("jaccard"))
      .orderBy(col("jaccard").desc, col("id")).limit(k)
  }

  /** DuckDB oracle for [[relatedNodes]]. */
  def relatedSql(edgesSql: String, seedId: String, k: Int = 20): String =
    s"""WITH e AS ($edgesSql),
       | p AS (SELECT DISTINCT src, dst FROM e),
       | und AS (SELECT src AS a, dst AS b FROM p UNION SELECT dst, src FROM p),
       | deg AS (SELECT a AS id, COUNT(*) AS deg FROM und GROUP BY 1),
       | sn AS (SELECT b AS x FROM und WHERE a = '$seedId'),
       | cn AS (SELECT u.b AS id, COUNT(*) AS cn FROM und u
       |   JOIN sn ON u.a = sn.x WHERE u.b <> '$seedId' GROUP BY 1),
       | cand AS (SELECT * FROM cn WHERE id NOT IN (SELECT x FROM sn))
       | SELECT c.id, c.cn, d.deg,
       |  round(c.cn / ((SELECT COUNT(*) FROM sn) + d.deg - c.cn), 6) AS jaccard
       | FROM cand c JOIN deg d USING (id)
       | ORDER BY jaccard DESC, id LIMIT $k"""
      .stripMargin.replace("\n", " ")

  /** GLOBAL link prediction — the batch-all-seeds variant that
    * [[relatedNodes]] is the seed-anchored special case of: the top-k
    * NON-adjacent candidate pairs ranked by neighborhood Jaccard over a
    * canonical (src < dst) undirected pair set. This is the classic
    * "suggest missing edges" primitive (common-neighbors / Jaccard link
    * prediction, Liben-Nowell & Kleinberg 2003) applied engine-wide
    * rather than per seed.
    *
    * Shape: the whole candidate machine runs on DENSE INTEGER CODES
    * with pair keys PACKED INTO ONE LONG — strings touch only the
    * V-sized dictionary at the edges of the plan. Node codes are the
    * distributed global rank over ids ([[graft.pipeline.Sampling
    * .globalRankBy]] — range-partition + per-partition row_number +
    * broadcast offsets, never a one-task window), so CODE ORDER ≡ ID
    * ORDER and every downstream canonical (v < w) / tie-break
    * comparison transfers. Per-center sorted adjacency arrays of codes
    * (one E-scale groupBy — the [[triangleCountsAdj]] build), wedge
    * pairs explode MAP-SIDE from each center's array directly as
    * `x·2³² + y` packed longs (no structs, no string pairs — the
    * wedge stream is one primitive-long column, an order of magnitude
    * less allocation and a cheap single-long hash-agg key), counted by
    * one groupBy, existing edges leave via a left-anti join on the
    * same packed key, degrees attach via two V-sized broadcast joins,
    * and the top-k is TakeOrderedAndProject; only the k winners decode
    * back to string ids. Measured on the sf0.1 FK graph (16.5M wedges,
    * 15.5M candidates): ~9× over the string-struct formulation.
    *
    * `maxDeg` is the documented HUB CAP every production link-prediction
    * pipeline carries: a center of degree d contributes C(d, 2) wedge
    * rows, so an unbounded hub makes the wedge set quadratic in the hub
    * degree; centers above the cap are excluded from candidate
    * GENERATION (their edges still count toward endpoint degrees).
    * At 100 TB this cap — not the box — bounds the shuffle: wedge
    * volume ≤ V·C(maxDeg, 2) regardless of skew. It is also the
    * SIGNAL guard: wedges through a super-hub (all customers of one
    * nation) say nothing about their endpoints, and their Jaccard
    * contribution is negligible by construction (cn ≤ deg share).
    *
    * jaccard = cn / (deg(v) + deg(w) − cn): exact integer inputs, one
    * rounded division, same oracle-portability contract as
    * [[relatedNodes]]; (jaccard DESC, cn DESC, v, w) is a total order,
    * so the top-k is deterministic.
    *
    * Packing bound: codes are 1..V, so pk = v·2³² + w stays below 2⁶³
    * for V < 2³¹ — two billion nodes; beyond that the require fails
    * loudly and the struct-keyed formulation (this function's git
    * history) is the drop-in fallback.
    */
  /** Canonical deduped (a, b) pairs, a < b — the link-prediction
    * candidate machine's input normalization.
    */
  private def lpCanon(pairs: DataFrame, canonical: Boolean): DataFrame = {
    val canon0 =
      if (canonical) pairs.select(col("src").as("a"), col("dst").as("b"))
      else pairs.filter(col("src") =!= col("dst"))
        .select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b"))
        .distinct()
    // read by the dictionary build and the coded-pair join; materialize
    // once unless the caller's view is already persisted (the
    // stored-index path, e.g. CodeGraph.edgePairs/coPairs)
    if (pairs.storageLevel != org.apache.spark.storage.StorageLevel.NONE
        && canonical) canon0
    else canon0.localCheckpoint(true)
  }

  /** The (id, code) dictionary half of the link-prediction index:
    * contiguous 0..V-1 codes in id order (rank is monotone, so id
    * order and code order agree — the tie-break device downstream).
    * Artifact-shaped (r10): `graph_linkpred` and `graph_ra_linkpred`
    * run the identical O(E) index build before their scoring phases
    * diverge, so the queries layer stores dict+adj once per session
    * (the 100-TB deployment writes this index at ingest, like the
    * bucketed edge table it derives from).
    */
  def linkPredDict(pairs: DataFrame, canonical: Boolean = false): DataFrame = {
    val canon = lpCanon(pairs, canonical)
    val nodes = canon.select(col("a").as("id"))
      .union(canon.select(col("b").as("id"))).distinct()
    val (ranked, v) = graft.pipeline.Sampling.globalRankBy(
      nodes, Seq(col("id")))
    require(v < (1L << 31),
      s"linkPredTopK packs node codes into one LONG (v*2^32 + w); " +
        s"V=$v exceeds 2^31 — use the struct-keyed fallback")
    ranked.select(col("id"), col("pos").as("code"))
  }

  /** The coded sorted-adjacency half of the index: (code, sorted
    * neighbor codes), both edge orientations merged.
    */
  def linkPredAdj(pairs: DataFrame, dict: DataFrame,
                  canonical: Boolean = false): DataFrame = {
    val canon = lpCanon(pairs, canonical)
    val P = 4294967296L
    val smallV = dict.count() <= 2000000L
    def dictAs(idCol: String, out: String) = {
      val d = dict.select(col("id").as(idCol), col("code").as(out))
      if (smallV) broadcast(d) else d
    }
    // coded canonical pairs: rank is monotone in id, so a < b (strings)
    // implies ac < bc (codes) and the packed key is canonical too
    val canonC = canon
      .join(dictAs("a", "ac"), Seq("a")).join(dictAs("b", "bc"), Seq("b"))
      .select((col("ac") * P + col("bc")).as("pk"))
    // NB: `div` (integer division), never `/` — the float quotient
    // loses mantissa bits for pk near 2^63
    canonC
      .select(expr(s"pk div ${P}L").as("id"), (col("pk") % P).as("nb"))
      .union(canonC.select((col("pk") % P).as("id"),
        expr(s"pk div ${P}L").as("nb")))
      .groupBy("id").agg(sort_array(collect_set(col("nb"))).as("adj"))
  }

  def linkPredTopK(pairs: DataFrame, k: Int = 100, maxDeg: Int = 1000,
                   canonical: Boolean = false,
                   score: String = "jaccard",
                   index: Option[(DataFrame, DataFrame)] = None): DataFrame = {
    require(k >= 1, "linkPredTopK needs k >= 1")
    require(maxDeg >= 2, "linkPredTopK needs maxDeg >= 2")
    require(score == "jaccard" || score == "ra",
      s"linkPredTopK score must be 'jaccard' or 'ra', got '$score'")
    // (dict, adj) — precomputed stored artifacts when the caller has
    // them (the two bench entries share one index build per session),
    // built-and-checkpointed here otherwise (specs, probes)
    val (dict, adj) = index.getOrElse {
      val dct = linkPredDict(pairs, canonical).localCheckpoint(true)
      (dct, linkPredAdj(pairs, dct, canonical).localCheckpoint(true))
    }
    // NOTE (r14): a "fused size scan" over adj (count + Σ size(adj)/2,
    // one job replacing these two) was A/B'd and REVERTED: with the
    // two pre-jobs gone, the heavy wedge stage reproducibly ran in a
    // ~10× slower mode (ra_linkpred 4.0 s → 12.6/14.5/22.5 s across
    // three runs; stage CPU 58 → 515 executor-s on identical input) —
    // the sizing jobs double as code warm-up for the explode/agg
    // machinery before the one big stage runs. Two cheap jobs buying a
    // JIT-warm heavy stage is the right trade at every scale.
    val v = dict.count()
    val smallV = v <= 2000000L
    def dictAs(idCol: String, out: String) = {
      val d = dict.select(col("id").as(idCol), col("code").as(out))
      if (smallV) broadcast(d) else d
    }
    val P = 4294967296L // 2^32
    // the canonical packed edge set, re-derived map-side from the
    // adjacency (set semantics agree: adj was built via collect_set)
    val canonC = adj
      .select(col("id"), explode(col("adj")).as("nb"))
      .filter(col("id") < col("nb"))
      .select((col("id") * P + col("nb")).as("pk"))
    val deg = adj.select(col("id"), size(col("adj")).cast("long").as("deg"))
    val adjGen = adj.filter(size(col("adj")).between(2, maxDeg))
    // one exchange for the whole candidate machine (the wedge-count
    // groupBy), materialized so the join tail never re-pays the
    // interpreted-HOF explode; the anti-join probes a BROADCAST of the
    // packed edge set when it fits (8M longs ≈ 64 MB — the E-side
    // bound; above it, AQE plans the shuffle anti-join)
    val smallE = canonC.count() <= 8000000L
    // map-side wedge explode per center straight to packed longs via
    // the native [[graft.expressions.WedgePairs]] loop (arrays are
    // sorted, so x < y and the key is canonical by construction); the
    // composable HOF tree it replaced burned ~740 executor-CPU-seconds
    // at sf0.1 in interpreted lambda frames + boxed longs — see the
    // expression's Scaladoc; `LinkPredSpec` pins native ≡ HOF
    val wedgeCol = explode(call_function("wedge_pairs",
      col("adj"), lit(P))).as("pk")
    val counted =
      if (score == "ra") {
        // resource-allocation index (Zhou/Lü/Zhang 2009): every wedge
        // through center c contributes 1/deg(c) — here the INTEGER
        // fixed-point RA_SCALE div deg(c), identical per center, so
        // the per-pair sum is order-independent and the oracle
        // hash-matches (the house integer-oracle pattern; the float
        // 1/ln(deg) of Adamic–Adar cannot)
        adjGen
          .withColumn("w", expr(s"${RaScale}L div size(adj)"))
          .select(col("w"), wedgeCol)
          .groupBy("pk").agg(count(lit(1)).as("cn"), sum("w").as("ras"))
      } else {
        adjGen
          .select(wedgeCol)
          .groupBy("pk").agg(count(lit(1)).as("cn"))
      }
    // NO checkpoint on the wedge-count frame (r14): it has exactly ONE
    // consumer (the anti-join → score → top-k chain below), so the r10
    // eager materialization wrote and re-read the suite's biggest
    // intermediate (15.5M rows at sf0.1) for nothing — the comment it
    // carried ("never re-pay the explode") predates the native
    // wedge_pairs expression and the single-consumer shape. Dropping it
    // fuses the whole candidate machine into one job with one exchange
    // (the wedge-count groupBy); guide §1.2/§2.4.
    val cand = counted
      .join(if (smallE) broadcast(canonC) else canonC, Seq("pk"), "left_anti")
      .withColumn("vc", expr(s"pk div ${P}L"))
      .withColumn("wc", col("pk") % P)
      .drop("pk")
    def degAs(idCol: String, out: String) = {
      val d = deg.select(col("id").as(idCol), col("deg").as(out))
      if (smallV) broadcast(d) else d
    }
    // code order ≡ id order, so the code-keyed sort IS the
    // (score, cn, v, w) total order the oracle replays —
    // TakeOrderedAndProject, then only k rows decode
    val top =
      if (score == "ra")
        cand.select(col("vc"), col("wc"), col("cn"),
          round(col("ras") / RaScale.toDouble, 6).as("ra"))
          .orderBy(col("ra").desc, col("cn").desc, col("vc"), col("wc"))
          .limit(k)
      else cand
        .join(degAs("vc", "deg_v"), Seq("vc"))
        .join(degAs("wc", "deg_w"), Seq("wc"))
        .select(col("vc"), col("wc"), col("cn"),
          round(col("cn") / (col("deg_v") + col("deg_w") - col("cn")), 6)
            .as("jaccard"))
        .orderBy(col("jaccard").desc, col("cn").desc, col("vc"), col("wc"))
        .limit(k)
    val scoreCol = if (score == "ra") "ra" else "jaccard"
    top
      .join(dict.select(col("code").as("vc"), col("id").as("v")), Seq("vc"))
      .join(dict.select(col("code").as("wc"), col("id").as("w")), Seq("wc"))
      .select(col("v"), col("w"), col("cn"), col(scoreCol))
      .orderBy(col(scoreCol).desc, col("cn").desc, col("v"), col("w"))
  }

  /** Fixed-point scale for the resource-allocation index: 2^20, so
    * `RaScale div deg` keeps ~6 significant digits for degrees up to
    * ~10^5 and the per-pair LONG sum is overflow-safe for billions of
    * common neighbors.
    */
  val RaScale = 1048576L

  /** DuckDB oracle for [[linkPredTopK]] — the wedge SELF-JOIN replay
    * of the map-side array explode (same candidate set: a center
    * yields each unordered pair of its neighbors once).
    */
  def linkPredSql(edgesSql: String, k: Int = 100, maxDeg: Int = 1000): String =
    s"""WITH e AS ($edgesSql),
       | canon AS MATERIALIZED (
       |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       |  FROM e WHERE src <> dst),
       | und AS MATERIALIZED (
       |  SELECT a, b FROM canon UNION ALL SELECT b, a FROM canon),
       | deg AS MATERIALIZED (
       |  SELECT a AS id, COUNT(*) AS deg FROM und GROUP BY 1),
       | ctr AS (SELECT id FROM deg WHERE deg BETWEEN 2 AND $maxDeg),
       | cnt AS (
       |  SELECT u1.b AS v, u2.b AS w, CAST(COUNT(*) AS BIGINT) AS cn
       |  FROM und u1 JOIN und u2 ON u1.a = u2.a AND u1.b < u2.b
       |  JOIN ctr ON u1.a = ctr.id GROUP BY 1, 2),
       | cand AS (
       |  SELECT c.v, c.w, c.cn FROM cnt c
       |  LEFT JOIN canon ON c.v = canon.a AND c.w = canon.b
       |  WHERE canon.a IS NULL)
       | SELECT c.v, c.w, c.cn,
       |  round(c.cn / (dv.deg + dw.deg - c.cn), 6) AS jaccard
       | FROM cand c
       |  JOIN deg dv ON dv.id = c.v JOIN deg dw ON dw.id = c.w
       | ORDER BY jaccard DESC, cn DESC, v, w LIMIT $k"""
      .stripMargin.replace("\n", " ")

  /** DuckDB oracle for [[linkPredTopK]] with `score = "ra"` — the
    * wedge self-join replay carrying the per-center integer
    * fixed-point weight ($RaScale // deg); SUM(BIGINT) widens to
    * HUGEINT in DuckDB, hence the CAST back, and the final division
    * forces a DOUBLE operand so DuckDB's DECIMAL literal rules can't
    * change the rounding.
    */
  def linkPredRaSql(edgesSql: String, k: Int = 100, maxDeg: Int = 1000): String =
    s"""WITH e AS ($edgesSql),
       | canon AS MATERIALIZED (
       |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       |  FROM e WHERE src <> dst),
       | und AS MATERIALIZED (
       |  SELECT a, b FROM canon UNION ALL SELECT b, a FROM canon),
       | deg AS MATERIALIZED (
       |  SELECT a AS id, COUNT(*) AS deg FROM und GROUP BY 1),
       | ctr AS (SELECT id, $RaScale // deg AS w FROM deg
       |  WHERE deg BETWEEN 2 AND $maxDeg),
       | cnt AS (
       |  SELECT u1.b AS v, u2.b AS w, CAST(COUNT(*) AS BIGINT) AS cn,
       |   CAST(SUM(ctr.w) AS BIGINT) AS ras
       |  FROM und u1 JOIN und u2 ON u1.a = u2.a AND u1.b < u2.b
       |  JOIN ctr ON u1.a = ctr.id GROUP BY 1, 2),
       | cand AS (
       |  SELECT c.v, c.w, c.cn, c.ras FROM cnt c
       |  LEFT JOIN canon ON c.v = canon.a AND c.w = canon.b
       |  WHERE canon.a IS NULL)
       | SELECT v, w, cn,
       |  round(ras / CAST($RaScale AS DOUBLE), 6) AS ra
       | FROM cand
       | ORDER BY ra DESC, cn DESC, v, w LIMIT $k"""
      .stripMargin.replace("\n", " ")

  /** DuckDB oracle for [[triangleCounts]]. */
  def trianglesSql(edgesSql: String): String =
    s"""WITH e AS ($edgesSql),
       | pairs AS MATERIALIZED (SELECT DISTINCT src, dst FROM e),
       | canon AS MATERIALIZED (
       |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       |  FROM pairs WHERE src <> dst),
       | deg AS MATERIALIZED (SELECT id, COUNT(*) AS deg FROM (
       |  SELECT a AS id FROM canon UNION ALL SELECT b FROM canon) GROUP BY id),
       | o AS MATERIALIZED (
       |  SELECT CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND c.a < c.b)
       |    THEN c.a ELSE c.b END AS u,
       |   CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND c.a < c.b)
       |    THEN c.b ELSE c.a END AS v
       |  FROM canon c JOIN deg da ON da.id = c.a JOIN deg db ON db.id = c.b),
       | wg AS (SELECT o1.u, o1.v, o2.v AS w FROM o o1
       |   JOIN o o2 ON o1.u = o2.u AND o1.v < o2.v),
       | t AS (SELECT u, v, w FROM wg
       |   WHERE EXISTS (SELECT 1 FROM canon WHERE a = wg.v AND b = wg.w)),
       | x AS (SELECT unnest([u, v, w]) AS id FROM t)
       | SELECT id, COUNT(*) AS triangles FROM x GROUP BY id ORDER BY id"""
      .stripMargin.replace("\n", " ")

  /** k-truss: iterative triangle-support peeling — the edge-level
    * dense-subgraph primitive complementing node-level [[kcore]]: the
    * k-truss is the maximal subgraph in which every edge closes at
    * least k−2 triangles WITHIN the subgraph (Cohen's trussness; a
    * k-truss is always inside the (k−1)-core but strictly denser).
    *
    * Fixed-round semantics like [[kcore]]: e_0 = canonical a<b edges;
    * per round, support(a,b) = |adj(a) ∩ adj(b)| over the SURVIVING
    * edge set (sorted-adjacency intersect — the [[triangleCountsAdj]]
    * machinery; a common neighbor c means edges a–c and b–c survive,
    * so the count is exactly the in-subgraph triangle support), then
    * edges below k−2 peel. After `rounds` peels (early exit at the
    * fixpoint — later rounds are no-ops, so a generous `rounds` is
    * never wrong) ONE final support pass emits (a, b, support) for the
    * surviving set, unfiltered — the oracle unrolls the identical
    * chain.
    *
    * Scale shape — DELTA-DECREMENT peeling (the published distributed
    * truss-decomposition scheme): ONLY round 1 pays the full support
    * pass (one E-scale adjacency groupBy + two V-sized probe joins,
    * broadcast while V ≤ 2M, like the triangle count). Every later
    * round is peel-bounded: the triangles lost this round are
    * enumerated from the PEELED edges' common-neighbor lists (peeled ×
    * degree rows, deduplicated per (surviving edge, triangle) so a
    * triangle with two peeled co-edges decrements its survivor ONCE),
    * supports update by subtraction, and the adjacency arrays shrink
    * by `array_except` against the peeled neighbor lists instead of
    * rebuilding. The maintained support is by construction the exact
    * in-subgraph triangle count after every round — identical to the
    * recompute chain the oracle replays (and to what the naive
    * 4-full-pass variant produced: measured 21.6 s → delta cuts the
    * three post-first passes to peel-bounded work).
    */
  def ktruss(edges: DataFrame, k: Int = 4, rounds: Int = 3,
             canonical: Boolean = false): DataFrame = {
    require(k >= 3, "ktruss needs k >= 3")
    require(rounds >= 1, "ktruss needs rounds >= 1")
    val need = (k - 2).toLong
    val p0 =
      if (canonical) edges.select(col("src").as("a"), col("dst").as("b"))
      else edges.select(col("src"), col("dst"))
        .filter(col("src") =!= col("dst"))
        .select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b"))
        .distinct()
    // the peeler re-reads canon across every round's two self-joins —
    // a dedicated checkpoint copy beats re-scanning the cached parent
    // view per consumer (fresh-probe A/B at sf0.1: 8.6 s with the
    // copy vs 11.2 s consuming the persisted coPairs view directly)
    val canon = p0.localCheckpoint(true)
    // the broadcast gate is V-bounded; V only shrinks as edges peel,
    // so deciding it once up front stays valid for every round
    val smallV = canon.select(col("a").as("id"))
      .union(canon.select(col("b").as("id"))).distinct().count() <= 2000000L
    def bcastIf(cond: Boolean, df: DataFrame) =
      if (cond) broadcast(df) else df
    def side(nb: DataFrame, kk: String, out: String) =
      bcastIf(smallV, nb.select(col("id").as(kk), col("adj").as(out)))
    // round 1: the one full support pass
    var nbrs = canon.select(col("a").as("id"), col("b").as("nb"))
      .union(canon.select(col("b").as("id"), col("a").as("nb")))
      .groupBy("id").agg(sort_array(collect_set(col("nb"))).as("adj"))
      .localCheckpoint(true)
    var sup = canon
      .join(side(nbrs, "a", "adjA"), Seq("a"))
      .join(side(nbrs, "b", "adjB"), Seq("b"))
      .select(col("a"), col("b"),
        size(array_intersect(col("adjA"), col("adjB")))
          .cast("long").as("support"))
      .localCheckpoint(true)
    graft.core.Checkpoints.drop(canon)
    var converged = false
    for (_ <- 1 to rounds if !converged) {
      // LAZY: the peel count is the materializing action (r14)
      val peeled = sup.filter(col("support") < need)
        .select("a", "b").localCheckpoint(false)
      val nPeeled = peeled.count()
      if (nPeeled == 0L) {
        converged = true
        graft.core.Checkpoints.drop(peeled)
      } else {
        val alive = sup.filter(col("support") >= need)
        // triangles this peel destroys, from the peeled edges' own
        // common-neighbor lists (adjacency = round-start graph)
        val tri = bcastIf(nPeeled <= 2000000L, peeled)
          .join(side(nbrs, "a", "adjA"), Seq("a"))
          .join(side(nbrs, "b", "adjB"), Seq("b"))
          .select(col("a"), col("b"),
            explode(array_intersect(col("adjA"), col("adjB"))).as("w"))
          .withColumn("t", sort_array(array(col("a"), col("b"), col("w"))))
        // each destroyed triangle decrements its (up to two) surviving
        // co-edges once — dedup on (edge, triangle) so a triangle with
        // TWO peeled edges doesn't double-hit the third
        val dec = tri.select(explode(array(
            struct(least(col("a"), col("w")).as("u"),
              greatest(col("a"), col("w")).as("v"), col("t")),
            struct(least(col("b"), col("w")).as("u"),
              greatest(col("b"), col("w")).as("v"), col("t")))).as("e"))
          .select(col("e.u").as("a"), col("e.v").as("b"), col("e.t").as("t"))
          .distinct()
          .groupBy("a", "b").agg(count(lit(1)).as("dec"))
        val supNext = alive
          .join(bcastIf(nPeeled <= 2000000L, dec), Seq("a", "b"), "left")
          .select(col("a"), col("b"),
            (col("support") - coalesce(col("dec"), lit(0L))).as("support"))
          .localCheckpoint(true)
        // shrink the adjacency arrays by the peeled neighbor lists —
        // no rebuild: V-sized join against a peel-bounded side
        val gone = peeled.select(col("a").as("id"), col("b").as("nb"))
          .union(peeled.select(col("b").as("id"), col("a").as("nb")))
          .groupBy("id").agg(collect_set(col("nb")).as("gone"))
        val nbrsNext = nbrs
          .join(bcastIf(nPeeled <= 2000000L, gone), Seq("id"), "left")
          .select(col("id"), when(col("gone").isNull, col("adj"))
            .otherwise(array_except(col("adj"), col("gone"))).as("adj"))
          .localCheckpoint(true)
        graft.core.Checkpoints.drop(sup)
        graft.core.Checkpoints.drop(nbrs)
        graft.core.Checkpoints.drop(peeled)
        sup = supNext
        nbrs = nbrsNext
      }
    }
    graft.core.Checkpoints.drop(nbrs)
    sup
  }

  /** DuckDB oracle for [[ktruss]]: `rounds` unrolled (adjacency →
    * intersect-support → peel) steps over MATERIALIZED per-round CTEs,
    * then the same final unfiltered support pass.
    */
  def ktrussSql(edgesSql: String, k: Int = 4, rounds: Int = 3): String = {
    val need = k - 2
    val sb = new StringBuilder
    sb ++= s"WITH e AS ($edgesSql), "
    sb ++= "pairs AS MATERIALIZED (SELECT DISTINCT src, dst FROM e), "
    sb ++= "g0 AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS a, " +
      "greatest(src, dst) AS b FROM pairs WHERE src <> dst)"
    def adj(r: Int, src: String) =
      s", n$r AS MATERIALIZED (SELECT id, list_sort(list(nb)) AS adj FROM (" +
        s"SELECT a AS id, b AS nb FROM $src " +
        s"UNION ALL SELECT b, a FROM $src) GROUP BY id)"
    def sup(r: Int, src: String) =
      s", s$r AS MATERIALIZED (SELECT g.a, g.b, " +
        s"CAST(len(list_intersect(na.adj, nb.adj)) AS BIGINT) AS support " +
        s"FROM $src g JOIN n$r na ON na.id = g.a JOIN n$r nb ON nb.id = g.b)"
    for (r <- 1 to rounds) {
      sb ++= adj(r, s"g${r - 1}")
      sb ++= sup(r, s"g${r - 1}")
      sb ++= s", g$r AS MATERIALIZED (SELECT a, b FROM s$r WHERE support >= $need)"
    }
    sb ++= adj(rounds + 1, s"g$rounds")
    sb ++= sup(rounds + 1, s"g$rounds")
    sb ++= s" SELECT a, b, support FROM s${rounds + 1} ORDER BY a, b"
    sb.result()
  }

  /** DuckDB oracle for [[kcore]]: `rounds` unrolled peels. Every
    * per-round CTE is `AS MATERIALIZED`: each g_t is referenced three
    * times by round t+1, so letting the planner inline them would
    * expand the tree 3^rounds-fold (observed as thousands of re-opened
    * parquet scans).
    */
  def kcoreSql(edgesSql: String, k: Int, rounds: Int = 8): String = {
    val sb = new StringBuilder
    sb ++= s"WITH e AS ($edgesSql), "
    sb ++= "pairs AS MATERIALIZED (SELECT DISTINCT src, dst FROM e), "
    // UNION (not UNION ALL): dedup reversed input pairs, same as the engine
    sb ++= "g0 AS MATERIALIZED (SELECT src AS a, dst AS b FROM pairs " +
      "UNION SELECT dst, src FROM pairs)"
    for (t <- 1 to rounds) {
      val p = s"g${t - 1}"
      sb ++= s", k$t AS MATERIALIZED " +
        s"(SELECT a AS id FROM $p GROUP BY 1 HAVING COUNT(*) >= $k)"
      sb ++= s", g$t AS MATERIALIZED " +
        s"(SELECT a, b FROM $p WHERE a IN (SELECT id FROM k$t) " +
        s"AND b IN (SELECT id FROM k$t))"
    }
    sb ++= s" SELECT a AS id, COUNT(*) AS deg FROM g$rounds GROUP BY 1 ORDER BY id"
    sb.result()
  }

  /** FULL core decomposition — every node's CORENESS (the largest k
    * for which it survives k-core peeling) by the h-index fixed point
    * [Lü et al., Nature Communications 2016]: c_0 = degree,
    * c_{t+1}(v) = H({c_t(u) : u ∈ N(v)}). The sequence is monotone
    * non-increasing per node and converges exactly to the coreness;
    * every step is deterministic and idempotent past the fixpoint, so
    * the fixed-horizon unrolled oracle replays it (the kcore/lpa
    * contract). [[kcore]] answers "which nodes survive THIS k"; this
    * answers "what is every node's k" in one run.
    *
    * Per round: one edges⋈state probe gathering neighbor values at
    * each node + one per-node rank window (the h-index is
    * H = max{r : r-th largest neighbor value ≥ r} — the window sort
    * is neighbor-list-local, and the MAX(CASE cn ≥ rn) fold is
    * tie-order invariant) + one O(V) merge with the previous state
    * for the early-exit check. Small-V path broadcasts the state into
    * the probe with the edge set pre-partitioned on the WINDOW key, so
    * a round is one map-only join + an exchange-free window; at larger
    * V the state join shuffles V-sized rows and the window pays one
    * E-sized exchange per round — the honest minimum for a gather
    * that must sort each node's neighborhood.
    */
  def coreness(edges: DataFrame, rounds: Int = 4,
               pairsDistinct: Boolean = false,
               undirectedPairs: Boolean = false): DataFrame = graft.core.Checkpoints.withoutAqe(edges.sparkSession) {
    import org.apache.spark.sql.expressions.Window
    val undInit = if (undirectedPairs)
      edges.select(col("src").as("a"), col("dst").as("b"))
    else {
      val p0 =
        if (pairsDistinct) edges.select(col("src"), col("dst"))
        else edges.select(col("src"), col("dst")).distinct()
      p0.select(col("src").as("a"), col("dst").as("b"))
        .union(p0.select(col("dst").as("a"), col("src").as("b")))
        .distinct()
    }
    var state = undInit.groupBy(col("a").as("id"))
      .agg(count(lit(1)).as("c")).localCheckpoint(true)
    val nV = state.count()
    val small = nV <= 1000000L
    // the probe layout: partitioned on the WINDOW key when the state
    // broadcasts (join preserves it → zero window exchange); on the
    // big path partition on the JOIN key so per-round joins move only
    // the O(V) state
    val und = (if (small) undInit.repartition(col("a"))
      else undInit.repartition(col("b"))).localCheckpoint(false)
    var frame: DataFrame = null
    var converged = false
    graft.core.Checkpoints.withLoopShuffle(edges.sparkSession, nV,
      und.count()) {
      for (_ <- 1 to rounds if !converged) {
        val stateB = state.select(col("id").as("b"), col("c").as("cn"))
        val nb = und.join(if (small) broadcast(stateB) else stateB, Seq("b"))
        val rn = row_number().over(
          Window.partitionBy("a").orderBy(col("cn").desc, col("b")))
        val h = nb.withColumn("rn", rn)
          .groupBy(col("a").as("id"))
          .agg(coalesce(max(when(col("cn") >= col("rn"),
            col("rn").cast("long"))), lit(0L)).as("c2"))
        // LAZY: the convergence count is the materializing action
        // (the bfsLoop pattern — r14, one job per round instead of two)
        val merged = state.withColumnRenamed("c", "prev")
          .join(h, Seq("id"))
          .select(col("id"), col("c2").as("c"), col("prev"))
          .localCheckpoint(false)
        converged = merged.filter(col("c") =!= col("prev")).count() == 0L
        if (frame != null) graft.core.Checkpoints.drop(frame)
        frame = merged
        state = merged.select("id", "c")
      }
    }
    state.select(col("id"), col("c").as("coreness"))
  }

  /** DuckDB oracle for [[coreness]] — the identical h-index rounds
    * unrolled (same neighbor-rank window, same MAX(CASE) fold).
    */
  def corenessSql(edgesSql: String, rounds: Int = 4): String = {
    val sb = new StringBuilder
    sb ++= s"WITH e AS ($edgesSql), "
    sb ++= "pairs AS MATERIALIZED (SELECT DISTINCT src, dst FROM e), "
    sb ++= "u AS MATERIALIZED (SELECT src AS a, dst AS b FROM pairs " +
      "UNION SELECT dst, src FROM pairs), "
    sb ++= "c0 AS (SELECT a AS id, CAST(COUNT(*) AS BIGINT) AS c " +
      "FROM u GROUP BY 1)"
    for (t <- 1 to rounds) {
      sb ++= s", j$t AS (SELECT u.a, s.c AS cn, row_number() OVER " +
        s"(PARTITION BY u.a ORDER BY s.c DESC, u.b) AS rn " +
        s"FROM u JOIN c${t - 1} s ON s.id = u.b)"
      sb ++= s", c$t AS (SELECT a AS id, CAST(COALESCE(MAX(CASE WHEN " +
        s"cn >= rn THEN rn END), 0) AS BIGINT) AS c FROM j$t GROUP BY 1)"
    }
    sb ++= s" SELECT id, c AS coreness FROM c$rounds ORDER BY id"
    sb.result()
  }

  /** Personalized PageRank: power iteration where the teleport vector is
    * concentrated on a seed set instead of uniform — "rank the graph
    * from THESE nodes' point of view" (context packing around an anchor
    * set, related-entity expansion, seed-biased sampling). Same
    * fixed-point LONG arithmetic as [[pagerankFixedPoint]] (integer sums
    * are order-independent → oracle-portable bit-for-bit):
    *
    *   tele(v)   = scale div |S|  if v ∈ S else 0
    *   dangShare = sum(rank over outdeg-0 nodes) div |S|   (to seeds)
    *   rank'(v)  = (15 * tele(v)) div 100
    *             + (85 * (Σ incoming shares + [v∈S] dangShare)) div 100
    *
    * Scale shape identical to the global variant: one out-degree agg
    * (once), then per iteration one rank⋈edges equi-join on src + one
    * partial-agg shuffle; the seed set is a driver-side literal (the
    * anchor list of a context query — reference caps anchors at 4,
    * `context_query.zig:151-157`), so seed membership is a codegen'd
    * `isin`, not a join.
    */
  def pprFixedPoint(edges: DataFrame, seeds: Seq[String], iters: Int = 5,
                    scale: Long = 1000000000000L,
                    pairsDistinct: Boolean = false): DataFrame = {
    require(seeds.nonEmpty, "ppr needs at least one seed")
    val nSeeds = seeds.size.toLong
    Loop.run(edges.sparkSession, Loop.Eager) { loop =>
      withSrcPairs(edges, pairsDistinct) { pairs =>
        // the state additionally carries the fixed teleport column;
        // round 0's rank is a lazy copy of it over the seeded topology
        val topology = outTopology(pairs, count(lit(1)).as("outdeg"))
          .withColumn("tele",
            when(col("id").isin(seeds: _*), lit(scale / nSeeds)).otherwise(lit(0L)))
        rankFold(loop, "ppr", "ppr_iter", pairs, topology,
          Seq(expr("rank div outdeg").as("share")), col("share"), iters, scale)(
          _ => Teleport(col("tele"), expr("15 * tele div 100"),
            "if(tele > 0L, dsh, 0L)", nSeeds))
      }
    }
  }

  /** DuckDB oracle for [[pprFixedPoint]] — the same iteration unrolled,
    * generated from the same constants (seed list, scale, iters).
    */
  def pprSql(edgesSql: String, seeds: Seq[String], iters: Int = 5,
             scale: Long = 1000000000000L): String = {
    val nSeeds = seeds.size.toLong
    val tshare = scale / nSeeds
    val seedList = seeds.map(s => s"'$s'").mkString(", ")
    val sb = new StringBuilder
    sb ++= s"WITH e AS ($edgesSql), "
    sb ++= "pairs AS MATERIALIZED (SELECT DISTINCT src, dst FROM e), "
    sb ++= "nodes AS MATERIALIZED (SELECT src AS id FROM pairs UNION SELECT dst FROM pairs), "
    sb ++= "deg AS MATERIALIZED (SELECT src AS id, COUNT(*) AS outdeg FROM pairs GROUP BY 1), "
    sb ++= s"r0 AS MATERIALIZED (SELECT id, CASE WHEN id IN ($seedList) " +
      s"THEN $tshare ELSE 0 END AS rank FROM nodes)"
    for (t <- 1 to iters) {
      val p = s"r${t - 1}"
      sb ++= s", d$t AS MATERIALIZED " +
        s"(SELECT COALESCE(SUM(rank), 0) // $nSeeds AS dsh " +
        s"FROM $p WHERE NOT EXISTS (SELECT 1 FROM deg WHERE deg.id = $p.id))"
      sb ++= s", s$t AS MATERIALIZED " +
        s"(SELECT p.dst AS id, SUM(r.rank // g.outdeg) AS inc " +
        s"FROM $p r JOIN deg g ON g.id = r.id JOIN pairs p ON p.src = r.id GROUP BY 1)"
      sb ++= s", r$t AS MATERIALIZED " +
        s"(SELECT n.id, (15 * CASE WHEN n.id IN ($seedList) THEN $tshare ELSE 0 END) // 100 + " +
        s"(85 * (COALESCE(s.inc, 0) + CASE WHEN n.id IN ($seedList) " +
        s"THEN (SELECT dsh FROM d$t) ELSE 0 END)) // 100 AS rank " +
        s"FROM nodes n LEFT JOIN s$t s ON s.id = n.id)"
    }
    // CAST to BIGINT for the same HUGEINT-normalization reason as
    // [[pagerankSql]] — SUM-derived rank widens to int128 in DuckDB.
    sb ++= s" SELECT id, CAST(rank AS BIGINT) AS rank FROM r$iters ORDER BY rank DESC, id"
    sb.result()
  }

  /** Deterministic random walks — the corpus generator behind
    * DeepWalk/node2vec-style graph embeddings (a training-data pipeline
    * op: walks ARE the documents the skip-gram model trains on). One
    * walk starts at every node; at step t the walk at node u moves to
    * the out-neighbor v minimizing `md5(walk_id || ':t:' || v)` — a
    * deterministic hash-pick that both engines reproduce exactly, in
    * place of an RNG (the brief's no-`Math.random` determinism rule;
    * statistically it is a uniform pick per (walk, step), which is the
    * DeepWalk distribution). A walk at a node with no out-edges stays
    * put (truncated walk, like the reference traversal hitting a leaf).
    *
    * Returns (walk_id, path ARRAY, hops). Scale shape: per step, one
    * equi-join state⋈edges on the current node, then the per-walk
    * winner via min(struct(h, dst)) — a PARTIAL-AGGREGATABLE min (each
    * map task emits at most one candidate per walk, so the shuffle is
    * walk-bounded, never edge-bounded; r7 — previously a window
    * row_number whose exchange carried every E-scale candidate row
    * with the walk's path attached), and one walk_id-keyed V⋈V join
    * folding the winner back into the path state. Walk count is a
    * parameter of the caller's seed set at 100 TB — start from a node
    * SAMPLE, not all of V; the per-step cost is O(out-edges of current
    * frontier).
    */
  def randomWalks(edges: DataFrame, steps: Int = 3,
                  pairsDistinct: Boolean = false): DataFrame =
    withSrcPairs(edges, pairsDistinct) { pairs =>
      var state = endpoints(pairs).select(col("id").as("walk_id"),
        col("id").as("cur"), array(col("id")).as("path")).localCheckpoint(true)
      // the LPA/pagerank broadcast pattern (r14): the walk state is
      // O(V) and its checkpoint erased the stats the planner would
      // need, so the per-step candidate join was re-sorting/exchanging
      // per round — ship the (walk, cur) projection and the V-bounded
      // winner table into map-side joins instead; the stored pair view
      // never moves, the only shuffle left per step is the winner
      // partial-agg. Past the V gate the shuffled plan is the correct
      // 100-TB shape and stands.
      val nV = state.count()
      val small = nV <= 1000000L
      def bc(df: DataFrame): DataFrame = if (small) broadcast(df) else df
      graft.core.Checkpoints.withoutAqe(edges.sparkSession) {
      graft.core.Checkpoints.withLoopShuffle(edges.sparkSession, nV) {
      for (t <- 1 to steps) {
        // INNER join: a walk at a sink simply has no candidate row and
        // the left join below keeps it in place. min(struct(h, dst)) is
        // the lexicographic (h, dst) minimum — the same winner the
        // former row_number(ORDER BY h, dst) picked, but map-side
        // combinable: the exchange carries at most one candidate per
        // (map partition, walk) instead of every out-edge with the
        // walk's whole path attached.
        val cand = bc(state.select(col("walk_id"), col("cur")))
          .join(pairs, col("cur") === col("src"))
          .select(col("walk_id"), struct(
            md5(concat(col("walk_id"), lit(s":$t:"), col("dst"))).as("h"),
            col("dst").as("d")).as("e"))
        val win = cand.groupBy("walk_id").agg(min("e").as("e"))
        val prev = state
        val stepped = state.join(bc(win), Seq("walk_id"), "left")
          .select(col("walk_id"),
            coalesce(col("e.d"), col("cur")).as("cur"),
            when(col("e.d").isNull, col("path"))
              .otherwise(concat(col("path"), array(col("e.d")))).as("path"))
        graft.core.PlanTrace.round("walks_step", stepped)
        state = stepped.localCheckpoint(true)
        graft.core.Checkpoints.drop(prev) // step t's frame: dead now
      }
      } // withLoopShuffle
      } // withoutAqe
      // '->'-joined string, not ARRAY: the driver's comparator (and any
      // hash-based external check) wants sortable scalar cells — same
      // flattening contract as paths_between
      state.select(col("walk_id"),
        concat_ws("->", col("path")).as("path"),
        (size(col("path")) - 1).cast("long").as("hops"))
    }

  /** Skip-gram training pairs from [[randomWalks]] output — the step
    * that turns walks into the (center, context) co-occurrence corpus a
    * DeepWalk/node2vec embedding model trains on: every ordered pair of
    * nodes within `window` positions of each other on a walk, counted
    * across walks. Pure higher-order-function expansion per walk row
    * (no join — the pair universe is generated in place, bounded by
    * walk_len · 2·window per walk) + one (center, context) partial-agg
    * count. At 100 TB the walks input is the sampled-seed corpus;
    * pair volume is walks × window — linear, never graph-quadratic.
    */
  def walkSkipGramPairs(walks: DataFrame, window: Int = 2): DataFrame = {
    require(window >= 1, "window must be >= 1")
    val arr = split(col("path"), "->")
    val pairs = flatten(transform(sequence(lit(0), size(arr) - 1), i =>
      transform(
        filter(sequence(greatest(lit(0), i - window),
          least(size(arr) - 1, i + window)), j => j =!= i),
        j => struct(element_at(arr, i + 1).as("center"),
          element_at(arr, j + 1).as("context")))))
    walks.select(explode(pairs).as("p"))
      .select(col("p.center").as("center"), col("p.context").as("context"))
      .groupBy("center", "context").agg(count(lit(1)).as("cnt"))
  }

  /** DuckDB oracle for [[walkSkipGramPairs]] over the unrolled
    * [[randomWalksSql]] chain: the same window expansion as list
    * comprehensions over each walk's path array.
    */
  def walkSkipGramPairsSql(edgesSql: String, steps: Int = 3,
                           window: Int = 2): String = {
    val walksCtes = randomWalksSql(edgesSql, steps)
    val base = walksCtes.substring(0, walksCtes.indexOf(" SELECT walk_id,"))
    s"""$base, pr AS (
       |  SELECT unnest(flatten(list_transform(range(0, len(path)),
       |    i -> list_transform(
       |      list_filter(range(CASE WHEN i - $window > 0
       |          THEN i - $window ELSE 0 END,
       |        CASE WHEN i + $window + 1 < len(path)
       |          THEN i + $window + 1 ELSE len(path) END),
       |        j -> j != i),
       |      j -> struct_pack(center := path[i + 1],
       |        context := path[j + 1]))))) AS p
       |  FROM w$steps)
       | SELECT p.center AS center, p.context AS context,
       |  CAST(COUNT(*) AS BIGINT) AS cnt
       | FROM pr GROUP BY 1, 2 ORDER BY center, context"""
      .stripMargin.replace("\n", " ")
  }

  /** DuckDB oracle for [[randomWalks]]: the same hash-pick unrolled one
    * CTE pair per step (candidates, then per-walk rank-1 survivor).
    */
  def randomWalksSql(edgesSql: String, steps: Int = 3): String = {
    val sb = new StringBuilder
    sb ++= s"WITH e AS ($edgesSql), "
    sb ++= "pairs AS MATERIALIZED (SELECT DISTINCT src, dst FROM e), "
    sb ++= "nodes AS MATERIALIZED (SELECT src AS id FROM pairs UNION SELECT dst FROM pairs), "
    sb ++= "w0 AS MATERIALIZED (SELECT id AS walk_id, id AS cur, [id] AS path FROM nodes)"
    for (t <- 1 to steps) {
      val p = s"w${t - 1}"
      sb ++= s", c$t AS (SELECT w.walk_id, w.cur, w.path, p.dst, " +
        s"md5(w.walk_id || ':$t:' || p.dst) AS h " +
        s"FROM $p w LEFT JOIN pairs p ON p.src = w.cur)"
      sb ++= s", w$t AS MATERIALIZED (SELECT walk_id, " +
        "COALESCE(dst, cur) AS cur, " +
        "CASE WHEN dst IS NULL THEN path ELSE list_append(path, dst) END AS path " +
        s"FROM (SELECT *, row_number() OVER (PARTITION BY walk_id " +
        s"ORDER BY h NULLS LAST, dst NULLS LAST) AS rn FROM c$t) WHERE rn = 1)"
    }
    sb ++= s" SELECT walk_id, array_to_string(path, '->') AS path, " +
      s"CAST(len(path) - 1 AS BIGINT) AS hops " +
      s"FROM w$steps ORDER BY walk_id"
    sb.result()
  }

  /** Diameter lower bound + eccentricity sample by the classic
    * DOUBLE-SWEEP heuristic (Magnien–Latapy–Habib): BFS from a seed,
    * then BFS again from the farthest node found — sweep 2's
    * eccentricity is a lower bound on the diameter that is exact on
    * trees and empirically tight on real graphs, at the cost of TWO
    * BFS runs instead of V. Ties at the farthest node break (depth
    * desc, id asc) — deterministic, and the oracle replays the same
    * order.
    *
    * Scale shape: two uncapped frontier BFS loops over the stored
    * undirected index (each O(diameter) rounds of frontier⋈edges
    * probes — the [[Traversal.bfsLoop]] machinery with its
    * size-hinted broadcasts) + one 1-row collect per sweep for the
    * next seed (seed selection, like a context query's anchors).
    * Returns two rows: (sweep, seed, far_id, ecc).
    */
  def doubleSweep(edges: DataFrame, seedId: String,
                  maxDepth: Int = 12,
                  undirectedPairs: Boolean = false): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    // eccentricity is an undirected notion: expand a directed edge list
    // to both orientations; a stored undirected index is consumed as-is
    val und =
      if (undirectedPairs) edges
      else {
        val p = edges.select(col("src"), col("dst")).distinct()
        p.union(p.select(col("dst").as("src"), col("src").as("dst")))
          // distinct: Spark union is UNION ALL — reciprocal input
          // pairs (a,b)+(b,a) would double every und row, silently
          // doubling sigma/degree counts (the oracles' UNION dedups)
          .distinct()
      }
    // cost note: ~2×(ecc+1) BFS levels of per-level scheduling latency
    // — the intrinsic double-sweep price (the alternative is V BFS
    // runs for the exact diameter). A/B'd AQE off for the loop (47
    // jobs/184 stages vs 97/444) — wall-clock identical, so the
    // frontier-loop policy (keep AQE, SURVEY §6) stands.
    def sweep(seed: String): (String, Int) = {
      val r = Traversal.bfsLoop(und, Seq(seed).toDF("id"),
        Direction.Outgoing, maxDepth, Long.MaxValue)
      val far = r.orderBy(desc("depth"), col("id")).limit(1).collect().head
      (far.getString(0), far.getInt(1))
    }
    val (far1, ecc1) = sweep(seedId)
    val (far2, ecc2) = sweep(far1)
    Seq((1, seedId, far1, ecc1.toLong), (2, far1, far2, ecc2.toLong))
      .toDF("sweep", "seed", "far_id", "ecc")
  }

  /** DuckDB oracle for [[doubleSweep]]: two set-semantics (UNION)
    * recursive expansions — the deduped working set keeps the row
    * volume at V×depth instead of the path-counting blowup UNION ALL
    * would hit on an undirected graph — with the same min-depth fold
    * and (depth desc, id) farthest tie-break.
    */
  def doubleSweepSql(edgesSql: String, seedId: String,
                     maxDepth: Int = 12): String =
    s"""WITH RECURSIVE e AS ($edgesSql),
       | p AS (SELECT DISTINCT src, dst FROM e),
       | u AS (SELECT src, dst FROM p UNION SELECT dst, src FROM p),
       | r1 AS (
       |  SELECT '$seedId' AS id, 0 AS depth
       |  UNION
       |  SELECT u.dst AS id, r1.depth + 1 FROM r1 JOIN u ON u.src = r1.id
       |   WHERE r1.depth < $maxDepth),
       | m1 AS (SELECT id, MIN(depth) AS depth FROM r1 GROUP BY id),
       | f1 AS (SELECT id, depth FROM m1 ORDER BY depth DESC, id LIMIT 1),
       | r2 AS (
       |  SELECT id, 0 AS depth FROM f1
       |  UNION
       |  SELECT u.dst AS id, r2.depth + 1 FROM r2 JOIN u ON u.src = r2.id
       |   WHERE r2.depth < $maxDepth),
       | m2 AS (SELECT id, MIN(depth) AS depth FROM r2 GROUP BY id),
       | f2 AS (SELECT id, depth FROM m2 ORDER BY depth DESC, id LIMIT 1)
       | SELECT 1 AS sweep, '$seedId' AS seed, id AS far_id,
       |  CAST(depth AS BIGINT) AS ecc FROM f1
       | UNION ALL
       | SELECT 2, (SELECT id FROM f1), id, CAST(depth AS BIGINT) FROM f2
       | ORDER BY sweep""".stripMargin.replace("\n", " ")

  /** Harmonic centrality from a seed sample — the sampled-source
    * estimator every centrality pipeline uses at scale (exact
    * all-pairs closeness is O(V·E); the standard approximation runs
    * BFS from k sampled sources and sums 1/d, e.g. Eppstein–Wang's
    * centrality estimator). Harmonic (Σ 1/d) rather than classic
    * closeness because it is well-defined on disconnected graphs.
    *
    * Implementation: ONE multi-source labeled BFS — the frontier is
    * keyed by (seed, id) so all seeds advance in the same per-level
    * job, instead of |seeds| sequential BFS runs. Per level: one
    * frontier⋈edges equi-join + one distinct + one anti-join against
    * the visited set (the [[Traversal.bfsLoop]] shape with a composite
    * key). Frontier loops keep AQE on (the probe side shrinks
    * unpredictably — the same A/B reasoning as BFS/SSSP, SURVEY §6).
    *
    * DETERMINISM: the per-depth reach counts n_d are integers (exact
    * on any partitioning); the single float expression
    * Σ n_d / d is evaluated in one fixed left-to-right order on both
    * engines, so round(·, 6) is hash-stable — no distributed double
    * sum anywhere.
    *
    * Returns (id, n1..n_maxDepth, n_reach, harmonic) for every node
    * reached by ≥1 seed at depth ≥ 1; d(seed, seed) = 0 is excluded
    * per the definition. At 100 TB: seeds is a parameter-sized sample,
    * state is O(seeds · V) worst case but in practice bounded by the
    * reached neighborhoods; the edge set is probed in place.
    */
  def harmonicFromSeeds(edges: DataFrame, seeds: Seq[String],
                        maxDepth: Int = 3,
                        undirectedPairs: Boolean = false): DataFrame = {
    require(maxDepth >= 1 && maxDepth <= 30, "maxDepth must be 1..30")
    require(seeds.nonEmpty, "harmonicFromSeeds needs at least one seed")
    val spark = edges.sparkSession
    import spark.implicits._
    val parentCached = undirectedPairs &&
      edges.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    val und0 =
      if (undirectedPairs) edges.select(col("src"), col("dst"))
      else {
        val p = edges.select(col("src"), col("dst")).distinct()
        p.union(p.select(col("dst").as("src"), col("src").as("dst")))
          // distinct: Spark union is UNION ALL — reciprocal input
          // pairs (a,b)+(b,a) would double every und row, silently
          // doubling sigma/degree counts (the oracles' UNION dedups)
          .distinct()
      }
    val und = if (parentCached) und0
      else und0.repartition(col("src"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val seed0 = seeds.toDF("seed")
        .select(col("seed"), col("seed").as("id")).distinct()
        .localCheckpoint(false)
      var visited = seed0.withColumn("depth", lit(0))
      var frontier = seed0
      var frontierN = frontier.count()
      var visitedN = frontierN
      val bcastRows = 100000L
      for (d <- 1 to maxDepth if frontierN > 0) {
        val from = if (frontierN <= bcastRows) broadcast(frontier) else frontier
        val expanded = from.join(und, from("id") === und("src"))
          .select(col("seed"), col("dst").as("id")).distinct()
        val seen0 = visited.select(col("seed").as("vs"), col("id").as("vid"))
        // gate on the VISITED set's own size — the frontier can
        // collapse to a handful of rows right after a huge level, and
        // broadcasting the cumulative set on the frontier's say-so
        // would ship millions of rows through the driver
        val seen = if (visitedN <= bcastRows) broadcast(seen0) else seen0
        val next = expanded
          .join(seen, col("seed") === col("vs") && col("id") === col("vid"),
            "left_anti")
          .localCheckpoint(false)
        visited = visited.union(next.withColumn("depth", lit(d)))
        frontier = next
        frontierN = next.count()
        visitedN += frontierN
      }
      val counts = (1 to maxDepth).map(d =>
        sum(when(col("depth") === d, 1L).otherwise(0L)).as(s"n$d"))
      val harmonic = (1 to maxDepth)
        .map(d => col(s"n$d").cast("double") / lit(d.toDouble))
        .reduce(_ + _)
      visited.filter(col("depth") > 0)
        .groupBy("id")
        .agg(counts.head, counts.tail: _*)
        .withColumn("n_reach",
          (1 to maxDepth).map(d => col(s"n$d")).reduce(_ + _))
        .withColumn("harmonic", round(harmonic, 6))
    } finally if (!parentCached) und.unpersist()
  }

  /** Sampled STRESS centrality — Brandes' two-phase accumulation over
    * the BFS level DAG, in ALL-INTEGER arithmetic (which is what makes
    * it exactly oracle-able; float betweenness can never hash-match
    * across engines because the dependency sums are order-sensitive
    * fractions). stress(v) = Σ_{s,t} σ_st(v): the number of shortest
    * paths (from the sampled seed set, depth-truncated at `maxDepth` —
    * fixed-horizon semantics like every iterative oracle here) passing
    * THROUGH v as an interior vertex.
    *
    * Phase 1, forward: one multi-source labeled BFS (the
    * [[harmonicFromSeeds]] frontier shape) carrying σ — the
    * shortest-path COUNT — folded by a per-level partial agg:
    * σ_d(v) = Σ σ_{d-1}(u) over frontier edges (u,v), new nodes only.
    * Phase 2, backward: per level from the horizon up,
    * g(v) = Σ_{w ∈ DAG-succ(v)} (g(w) + 1) — the number of shortest
    * paths from v to ANY strict descendant (chain a→b→c gives
    * g(b)=1, g(a)=2; a diamond gives g(top)=4 — one term per path per
    * endpoint). Then stress_s(v) = σ_s(v)·g_s(v), summed over seeds —
    * every operation an integer join + partial agg.
    *
    * Scale shape: 2·maxDepth frontier-sized equi-joins against the
    * stored pair view (forward AND backward probe the same index);
    * per-seed state is neighborhood-bounded exactly like harmonic.
    * σ grows at most (max out-degree)^maxDepth — depth-truncation is
    * also the integer-overflow bound, and DuckDB replays the same
    * BIGINT arithmetic (loud on overflow where Spark would wrap;
    * the small-horizon contract keeps both exact).
    *
    * Returns (id, stress) for every non-seed node reached by ≥1 seed;
    * leaves carry stress 0 (reached, on no interior position).
    */
  def stressFromSeeds(edges: DataFrame, seeds: Seq[String],
                      maxDepth: Int = 3,
                      undirectedPairs: Boolean = false): DataFrame = {
    require(maxDepth >= 1 && maxDepth <= 12, "maxDepth must be 1..12")
    require(seeds.nonEmpty, "stressFromSeeds needs at least one seed")
    val spark = edges.sparkSession
    import spark.implicits._
    val parentCached = undirectedPairs &&
      edges.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    val und0 =
      if (undirectedPairs) edges.select(col("src"), col("dst"))
      else {
        val p = edges.select(col("src"), col("dst")).distinct()
        p.union(p.select(col("dst").as("src"), col("src").as("dst")))
          // distinct: Spark union is UNION ALL — reciprocal input
          // pairs (a,b)+(b,a) would double every und row, silently
          // doubling sigma/degree counts (the oracles' UNION dedups)
          .distinct()
      }
    val und = if (parentCached) und0
      else und0.repartition(col("src"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val (levels, visitedTotal) = brandesForward(und, seeds, maxDepth)
      // broadcast the V×seeds-bounded level/g frames into the E-scale
      // probes while small (r14): the lazy-checkpointed levels carry
      // no stats, so the planner otherwise re-exchanges the edge set
      // per backward level
      def bcIf(df: DataFrame) =
        if (visitedTotal <= 100000L) broadcast(df) else df
      // ---- backward: g per level, deepest first (horizon level g=0) ----
      val deepest = levels.length - 1
      var gAbove = levels(deepest).select(col("seed"), col("id"),
        lit(0L).as("g"))
      val contrib = scala.collection.mutable.ArrayBuffer(
        levels(deepest).join(gAbove, Seq("seed", "id"))
          .select(col("id"), (col("sigma") * col("g")).as("c")))
      for (d <- (deepest - 1) to 1 by -1) {
        val lv = levels(d)
        val childG = gAbove.select(col("seed").as("cs"), col("id").as("cid"),
          col("g").as("cg"))
        val gHere = und
          .join(bcIf(lv.select(col("seed"), col("id"))),
            col("id") === und("src"))
          .join(bcIf(childG),
            col("seed") === col("cs") && col("dst") === col("cid"))
          .groupBy("seed", "id").agg(sum(col("cg") + 1L).as("g"))
        val gFull0 = lv.select(col("seed"), col("id"), col("sigma"))
          .join(gHere, Seq("seed", "id"), "left")
          .select(col("seed"), col("id"),
            coalesce(col("g"), lit(0L)).as("g"), col("sigma"))
        graft.core.PlanTrace.round("stress_backward_level", gFull0)
        val gFull = gFull0.localCheckpoint(false)
        contrib += gFull.select(col("id"), (col("sigma") * col("g")).as("c"))
        gAbove = gFull.select("seed", "id", "g")
      }
      contrib.reduce(_ unionByName _)
        .groupBy("id").agg(sum("c").as("stress"))
    } finally if (!parentCached) und.unpersist()
  }

  /** The Brandes FORWARD phase shared by [[stressFromSeeds]] and
    * [[betweennessFromSeeds]]: per-level (seed, id, sigma) frames over
    * the given undirected pair view — σ = number of shortest paths
    * from the seed, folded per level over frontier edges, new nodes
    * only (the multi-source labeled-BFS frontier shape of
    * [[harmonicFromSeeds]]).
    */
  private def brandesForward(und: DataFrame, seeds: Seq[String],
                             maxDepth: Int)
  : (scala.collection.mutable.ArrayBuffer[DataFrame], Long) = {
    val spark = und.sparkSession
    import spark.implicits._
    val bcastRows = 100000L
    val lvl0 = seeds.toDF("seed")
      .select(col("seed"), col("seed").as("id"), lit(1L).as("sigma"))
      .distinct().localCheckpoint(false)
    val levels = scala.collection.mutable.ArrayBuffer(lvl0)
    var visited = lvl0.select("seed", "id")
    var frontierN = lvl0.count()
    var visitedN = frontierN
    for (_ <- 1 to maxDepth if frontierN > 0) {
      val prev = levels.last
      val from = if (frontierN <= bcastRows) broadcast(prev) else prev
      val seen0 = visited.select(col("seed").as("vs"), col("id").as("vid"))
      // visited-set broadcast gated on ITS size, not the frontier's
      // (same reasoning as harmonicFromSeeds: a collapsed frontier
      // after a huge level must not broadcast the cumulative set)
      val seen = if (visitedN <= bcastRows) broadcast(seen0) else seen0
      val next = from.join(und, from("id") === und("src"))
        .select(col("seed"), col("dst").as("id"), col("sigma"))
        .join(seen, col("seed") === col("vs") && col("id") === col("vid"),
          "left_anti")
        .groupBy("seed", "id").agg(sum("sigma").as("sigma"))
        .localCheckpoint(false)
      levels += next
      visited = visited.union(next.select("seed", "id"))
      frontierN = next.count()
      visitedN += frontierN
    }
    // visitedN bounds every level frame — the backward phase's
    // broadcast gate (r14)
    (levels, visitedN)
  }

  /** Sampled BETWEENNESS centrality — the standard fractional-
    * dependency Brandes accumulation (Brandes 2001, δ-recursion)
    * that [[stressFromSeeds]]' integer variant approximates:
    * δ_s(v) = Σ_{w ∈ DAG-succ(v)} (σ_sv / σ_sw) · (1 + δ_s(w)),
    * betweenness(v) = Σ_seeds δ_s(v) — the one centrality a
    * graph-features pipeline asks for that integer arithmetic cannot
    * express (the dependency quotients are true rationals).
    *
    * Because float dependency sums are ORDER-SENSITIVE, this is a
    * deliberate rows-only entry (no hash-exact DuckDB oracle can
    * exist); its values are pinned by a randomized brute-force
    * equivalence spec (`GraphAnalyticsSpec`, the [[minimumSpanningForest]]
    * verification pattern) against an in-memory reference Brandes.
    *
    * Scale shape identical to stress: shared forward σ phase, then
    * maxDepth frontier-sized equi-joins backward, per-seed state
    * neighborhood-bounded. Returns (id, betweenness ROUND 6) for
    * every non-seed node reached by ≥1 seed.
    */
  def betweennessFromSeeds(edges: DataFrame, seeds: Seq[String],
                           maxDepth: Int = 3,
                           undirectedPairs: Boolean = false): DataFrame = {
    require(maxDepth >= 1 && maxDepth <= 12, "maxDepth must be 1..12")
    require(seeds.nonEmpty, "betweennessFromSeeds needs at least one seed")
    val parentCached = undirectedPairs &&
      edges.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    val und0 =
      if (undirectedPairs) edges.select(col("src"), col("dst"))
      else {
        val p = edges.select(col("src"), col("dst")).distinct()
        p.union(p.select(col("dst").as("src"), col("src").as("dst")))
          // distinct: Spark union is UNION ALL — reciprocal input
          // pairs (a,b)+(b,a) would double every und row, silently
          // doubling sigma/degree counts (the oracles' UNION dedups)
          .distinct()
      }
    val und = if (parentCached) und0
      else und0.repartition(col("src"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val (levels, visitedTotal) = brandesForward(und, seeds, maxDepth)
      val deepest = levels.length - 1
      if (deepest == 0) // isolated seeds: nothing reached, empty result
        levels(0).select(col("id"), lit(0.0).as("betweenness")).limit(0)
      else {
      // broadcast the V×seeds-bounded frames into the E-scale probes
      // while small (r14 — see stressFromSeeds)
      def bcIf(df: DataFrame) =
        if (visitedTotal <= 100000L) broadcast(df) else df
      // horizon level: δ = 0 (no descendants inside the horizon)
      var dAbove = levels(deepest).select(col("seed"), col("id"),
        col("sigma"), lit(0.0).as("delta"))
      val contrib = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
      contrib += levels(deepest).select(col("id"), lit(0.0).as("c"))
      for (d <- (deepest - 1) to 1 by -1) {
        val lv = levels(d)
        val childD = dAbove.select(col("seed").as("cs"),
          col("id").as("cid"), col("sigma").as("csig"),
          col("delta").as("cdelta"))
        // Σ (1+δ_w)/σ_w over DAG successors; σ_v multiplies after the
        // fold (constant per group — keeps the agg a single sum)
        val dHere = und
          .join(bcIf(lv.select(col("seed"), col("id"))),
            col("id") === und("src"))
          .join(bcIf(childD),
            col("seed") === col("cs") && col("dst") === col("cid"))
          .groupBy("seed", "id")
          .agg(sum((col("cdelta") + lit(1.0)) /
            col("csig").cast("double")).as("dpart"))
        val dFull0 = lv.select(col("seed"), col("id"), col("sigma"))
          .join(dHere, Seq("seed", "id"), "left")
          .select(col("seed"), col("id"), col("sigma"),
            (coalesce(col("dpart"), lit(0.0)) *
              col("sigma").cast("double")).as("delta"))
        graft.core.PlanTrace.round("betweenness_backward_level", dFull0)
        val dFull = dFull0.localCheckpoint(false)
        contrib += dFull.select(col("id"), col("delta").as("c"))
        dAbove = dFull.select("seed", "id", "sigma", "delta")
      }
      contrib.reduce(_ unionByName _)
        .groupBy("id").agg(round(sum("c"), 6).as("betweenness"))
      }
    } finally if (!parentCached) und.unpersist()
  }

  /** DuckDB oracle for [[stressFromSeeds]] — the identical levels
    * unrolled as CTEs: forward σ with NOT-EXISTS visited exclusion,
    * backward g from the horizon up, stress = Σ σ·g per node.
    */
  def stressSql(edgesSql: String, seeds: Seq[String],
                maxDepth: Int = 3): String = {
    val seedRows = seeds.map(s => s"('$s')").mkString(", ")
    val sb = new StringBuilder
    sb ++= s"WITH e AS ($edgesSql), "
    sb ++= "p AS (SELECT DISTINCT src, dst FROM e), "
    sb ++= "u AS (SELECT src, dst FROM p UNION SELECT dst, src FROM p), "
    sb ++= s"l0 AS (SELECT seed, seed AS id, CAST(1 AS BIGINT) AS sigma " +
      s"FROM (VALUES $seedRows) s(seed))"
    for (d <- 1 to maxDepth) {
      val vis = (0 until d).map(i =>
        s"SELECT seed, id FROM l$i").mkString(" UNION ALL ")
      sb ++= s", l$d AS (SELECT x.seed, u.dst AS id, " +
        s"CAST(SUM(x.sigma) AS BIGINT) AS sigma " +
        s"FROM l${d - 1} x JOIN u ON u.src = x.id " +
        s"WHERE NOT EXISTS (SELECT 1 FROM ($vis) v " +
        s"WHERE v.seed = x.seed AND v.id = u.dst) GROUP BY 1, 2)"
    }
    sb ++= s", g$maxDepth AS (SELECT seed, id, CAST(0 AS BIGINT) AS g, " +
      s"sigma FROM l$maxDepth)"
    for (d <- (maxDepth - 1) to 1 by -1) {
      sb ++= s", gh$d AS (SELECT x.seed, x.id, " +
        s"CAST(SUM(c.g + 1) AS BIGINT) AS g " +
        s"FROM l$d x JOIN u ON u.src = x.id " +
        s"JOIN g${d + 1} c ON c.seed = x.seed AND c.id = u.dst " +
        "GROUP BY 1, 2)"
      sb ++= s", g$d AS (SELECT x.seed, x.id, " +
        s"CAST(COALESCE(gh.g, 0) AS BIGINT) AS g, x.sigma " +
        s"FROM l$d x LEFT JOIN gh$d gh " +
        "ON gh.seed = x.seed AND gh.id = x.id)"
    }
    val all = (1 to maxDepth).map(d =>
      s"SELECT id, sigma * g AS c FROM g$d").mkString(" UNION ALL ")
    sb ++= s" SELECT id, CAST(SUM(c) AS BIGINT) AS stress FROM ($all) " +
      "GROUP BY id ORDER BY id"
    sb.result()
  }

  /** DuckDB oracle for [[harmonicFromSeeds]]: recursive multi-source
    * expansion (UNION ALL + min-depth fold, the [[QueriesGraph]] BFS
    * oracle shape with a seed label), then the identical per-depth
    * count + single fixed-order float expression.
    */
  def harmonicSql(edgesSql: String, seeds: Seq[String],
                  maxDepth: Int = 3): String = {
    val seedRows = seeds.map(s => s"('$s')").mkString(", ")
    val counts = (1 to maxDepth).map(d =>
      s"CAST(SUM(CASE WHEN d = $d THEN 1 ELSE 0 END) AS BIGINT) AS n$d")
      .mkString(", ")
    val reach = (1 to maxDepth).map(d => s"n$d").mkString(" + ")
    val harm = (1 to maxDepth)
      .map(d => s"CAST(n$d AS DOUBLE) / CAST($d AS DOUBLE)")
      .mkString(" + ")
    s"""WITH RECURSIVE e AS ($edgesSql),
       | p AS (SELECT DISTINCT src, dst FROM e),
       | u AS (SELECT src, dst FROM p UNION SELECT dst, src FROM p),
       | r AS (
       |  SELECT seed, seed AS id, 0 AS depth FROM (VALUES $seedRows) s(seed)
       |  UNION ALL
       |  SELECT r.seed, u.dst AS id, r.depth + 1 FROM r JOIN u ON u.src = r.id
       |   WHERE r.depth < $maxDepth),
       | md AS (SELECT seed, id, MIN(depth) AS d FROM r GROUP BY 1, 2),
       | agg AS (SELECT id, $counts FROM md WHERE d > 0 GROUP BY id)
       | SELECT id, ${(1 to maxDepth).map(d => s"n$d").mkString(", ")},
       |  CAST($reach AS BIGINT) AS n_reach, round($harm, 6) AS harmonic
       | FROM agg ORDER BY id""".stripMargin.replace("\n", " ")
  }

  /** Deterministic Luby MAXIMAL INDEPENDENT SET (r8): per round, a
    * node joins the set iff its priority beats every UNDECIDED
    * neighbor's; winners and their neighbors leave the game. Priority
    * = `md5(id) || id` — a total, collision-free order both engines
    * compute identically (the same cross-engine-md5 device as
    * [[randomWalks]]' argmin next-hop), which is what makes the round
    * states — and hence the unrolled-CTE oracle — hash-exact where a
    * seeded-RNG Luby could never match. Fixed-round semantics like
    * [[kcore]]/[[labelPropagation]]: `rounds` rounds exactly; nodes
    * still undecided after the horizon are reported as such (status
    * 'undecided', round 0) rather than silently dropped — Luby
    * decides an expected constant fraction per round, so the horizon
    * plays the same bounded-iteration role as every other fixed-point
    * entry. The independence + fixed-horizon-maximality invariants are
    * spec-pinned on random graphs ([[GraphAnalyticsSpec]]).
    *
    * Scale shape: per round ONE join of the (shrinking) undecided set
    * against the stored undirected index + one min-agg + one anti-join
    * — O(live edges) per round, O(log V) expected rounds to empty;
    * state carries (id, pri) only.
    *
    * Returns (id, status, round): every node exactly once — 'in'
    * (joined the set in `round`), 'out' (eliminated as a winner's
    * neighbor in `round`), or 'undecided' (round 0, past the horizon).
    */
  def maximalIndependentSet(pairs: DataFrame, rounds: Int = 4,
                            undirectedPairs: Boolean = false): DataFrame = graft.core.Checkpoints.withoutAqe(pairs.sparkSession) {
    require(rounds >= 1, "maximalIndependentSet needs rounds >= 1")
    val parentCached = undirectedPairs &&
      pairs.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    val und0raw = if (undirectedPairs)
      pairs.select(col("src").as("a"), col("dst").as("b"))
    else {
      val p0 = pairs.filter(col("src") =!= col("dst"))
        .select(col("src"), col("dst")).distinct()
      p0.select(col("src").as("a"), col("dst").as("b"))
        .union(p0.select(col("dst").as("a"), col("src").as("b")))
    }
    val und = if (parentCached) und0raw else und0raw.localCheckpoint(true)
    // the Luby priority is a PURE FUNCTION of the node id — the r14
    // realization that removes every per-round E-scale exchange: no
    // round ever needs to JOIN a priority table onto the edge set,
    // because min-neighbor-priority is computable map-side from the
    // edge rows themselves.
    def pri(c: org.apache.spark.sql.Column) = concat(md5(c), c)
    // ONE fused sizing scan over the (persisted) undirected view
    // replaces the r13 undec.count()+und.count() pair (VERDICT #3:
    // derive the loop-shuffle width without extra driver actions);
    // nV only gates broadcasts / sizes partitions, so the approx
    // distinct is exact enough by construction.
    val szRow = und.agg(count(lit(1)),
      approx_count_distinct(col("a"))).head()
    val nE = szRow.getLong(0)
    val nV = math.min(szRow.getLong(1), nE)
    val small = nV <= 1000000L
    def bcIf(df: DataFrame) = if (small) broadcast(df) else df
    var undec = und.select(col("a").as("id")).distinct()
      .withColumn("pri", pri(col("id")))
      .localCheckpoint(true)
    // live-edge carry: undec shrinks monotonically, so this round's
    // live set (both ends undecided) is a SUBSET of last round's.
    // r14 REWORK (guide §2.3/§2.4 — the r13 eager-checkpoint variant
    // was a driver-adjudicated regression, ADVICE r13): the old round
    // REBUILT live by joining undec onto both endpoints — two E-scale
    // exchanges per round — and ran 4 eager checkpoint jobs. Now:
    //   - min-neighbor-priority is a map-side expression over the
    //     carried live edges + ONE partial-agg shuffle that combines
    //     to V-sized output (never an E exchange);
    //   - live shrinks by BROADCAST anti-joins against the round's
    //     decided set (map-only, preserves partitioning), carried as
    //     a LAZY checkpoint that the NEXT round's first job
    //     materializes — single consumer at a time, so the r13
    //     duplicate-stage concern does not apply;
    //   - sel/eliminated/undec' are all filters over ONE fused
    //     per-round state frame (id, pri, sel, nb) — 2 eager jobs per
    //     round instead of 4, and the out-union at the end reads only
    //     cached state frames.
    var live = und
    var prevLive: DataFrame = null
    var out: DataFrame = null
    graft.core.Checkpoints.withLoopShuffle(pairs.sparkSession, nV, nE) {
      var prevScored: DataFrame = null
      for (r <- 1 to rounds) {
        // '~' (0x7E) exceeds every md5-hex/ascii-id char → +infinity
        // for nodes whose neighbors have all left the game
        val minNb = live.groupBy(col("a").as("id"))
          .agg(min(pri(col("b"))).as("mn"))
        val scored0 = undec.join(minNb, Seq("id"), "left")
          .select(col("id"), col("pri"),
            (col("pri") < coalesce(col("mn"), lit("~"))).as("sel"))
        graft.core.PlanTrace.round("mis_scored_round", scored0)
        val scored = // round job 1 (also materializes live)
          scored0.localCheckpoint(true)
        // live_{r-1} is dead once live_r materialized (inside job 1)
        if (prevLive != null) graft.core.Checkpoints.drop(prevLive)
        // winners' neighbors: nodes of the live graph adjacent to a
        // selected node (all still undecided by construction)
        val selA = scored.filter(col("sel")).select(col("id").as("a"))
        val nbr = live.join(bcIf(selA), Seq("a"), "left_semi")
          .select(col("b").as("id")).distinct()
          .withColumn("nb", lit(true))
        val state0 = scored.join(bcIf(nbr), Seq("id"), "left")
          .select(col("id"), col("pri"), col("sel"),
            coalesce(col("nb"), lit(false)).as("nb"))
        graft.core.PlanTrace.round("mis_state_round", state0)
        val state = state0.localCheckpoint(true) // round job 2
        if (prevScored != null) graft.core.Checkpoints.drop(prevScored)
        prevScored = scored
        val roundOut = state.filter(col("sel"))
          .select(col("id"), lit("in").as("status"), lit(r).as("round"))
          .unionAll(state.filter(!col("sel") && col("nb"))
            .select(col("id"), lit("out").as("status"), lit(r).as("round")))
        out = if (out == null) roundOut else out.unionAll(roundOut)
        undec = state.filter(!col("sel") && !col("nb"))
          .select(col("id"), col("pri"))
        if (r < rounds) {
          val decided = state.filter(col("sel") || col("nb")).select("id")
          prevLive = live
          val live0 = live
            .join(bcIf(decided.withColumnRenamed("id", "a")), Seq("a"),
              "left_anti")
            .join(bcIf(decided.withColumnRenamed("id", "b")), Seq("b"),
              "left_anti")
          graft.core.PlanTrace.round("mis_live_round", live0)
          live = live0.localCheckpoint(false) // materialized by round r+1's job 1
        }
      }
      if (prevScored != null) graft.core.Checkpoints.drop(prevScored)
      // the final round's E-scale carry has no consumer left (out and
      // undec read only the V-sized state frames) — release it now
      // instead of at the harness sweep (ADVICE r13)
      graft.core.Checkpoints.drop(live)
    }
    out.unionAll(undec.select(col("id"), lit("undecided").as("status"),
      lit(0).as("round")))
  }

  /** DuckDB oracle for [[maximalIndependentSet]] — the identical
    * rounds unrolled as MATERIALIZED CTEs (same `md5(id) || id`
    * priority, same '~' infinity).
    */
  def misSql(edgesSql: String, rounds: Int = 4): String = {
    val sb = new StringBuilder
    sb ++= s"WITH e AS ($edgesSql), "
    sb ++= "p AS MATERIALIZED (SELECT DISTINCT src, dst FROM e WHERE src <> dst), "
    sb ++= "u AS MATERIALIZED (SELECT src AS a, dst AS b FROM p " +
      "UNION ALL SELECT dst, src FROM p), "
    sb ++= "u0 AS MATERIALIZED (SELECT id, md5(id) || id AS pri FROM " +
      "(SELECT DISTINCT a AS id FROM u))"
    for (r <- 1 to rounds) {
      val prev = s"u${r - 1}"
      sb ++= s", er$r AS MATERIALIZED (SELECT u.a, u.b, ub.pri AS pb " +
        s"FROM u JOIN $prev ua ON u.a = ua.id JOIN $prev ub ON u.b = ub.id)"
      sb ++= s", mn$r AS MATERIALIZED (SELECT a AS id, MIN(pb) AS mn " +
        s"FROM er$r GROUP BY 1)"
      sb ++= s", sel$r AS MATERIALIZED (SELECT s.id FROM $prev s " +
        s"LEFT JOIN mn$r m ON s.id = m.id " +
        s"WHERE s.pri < COALESCE(m.mn, '~'))"
      sb ++= s", dec$r AS MATERIALIZED (SELECT id FROM sel$r " +
        s"UNION SELECT er.b FROM er$r er JOIN sel$r s ON er.a = s.id)"
      sb ++= s", u$r AS MATERIALIZED (SELECT s.id, s.pri FROM $prev s " +
        s"LEFT JOIN dec$r d ON s.id = d.id WHERE d.id IS NULL)"
    }
    val sels = (1 to rounds).map(r =>
      s"SELECT id, 'in' AS status, $r AS round FROM sel$r " +
        s"UNION ALL SELECT d.id, 'out', $r FROM dec$r d " +
        s"LEFT JOIN sel$r s ON d.id = s.id WHERE s.id IS NULL")
      .mkString(" UNION ALL ")
    sb ++= s" $sels UNION ALL SELECT id, 'undecided', 0 FROM u$rounds"
    sb.toString
  }

  /** Local clustering coefficient per node — "how much of my
    * neighborhood is itself connected": coeff(v) = 2·tri(v) /
    * (deg(v)·(deg(v)−1)), the per-node refinement of the global
    * triangle count (Watts–Strogatz; the node-level density feature a
    * graph-ML pipeline attaches alongside degree and PageRank).
    * Fixed-point: coeff is emitted as LONG units of `scale` —
    * 2·tri·scale div (deg·(deg−1)) computed in DECIMAL(38,0) so the
    * numerator never wraps on hub nodes (tri grows ~deg²; 2·tri·scale
    * exceeds 2⁶³ around deg ~10⁵ at the default scale) — the same
    * overflow-safe-integer convention as [[hitsFixedPoint]], and the
    * reason a hash-exact cross-engine oracle exists at all (a float
    * ratio would be bit-stable here too, but the integer form keeps
    * the whole surface on one convention).
    *
    * Scale shape: the [[triangleCountsAdj]] edge-iterator — one
    * E-scale groupBy builds sorted adjacency arrays, per-edge
    * common-neighbor intersects count triangles with nothing
    * Σdeg²-sized ever materializing as rows, one V-sized agg folds
    * per-edge counts to per-node, one V-sized left join attaches
    * degrees. Max-degree-bounded memory like its parent — on graphs
    * with 10⁶-degree hubs swap the triangle stage for the wedge-join
    * [[triangleCounts]] shape.
    *
    * Returns (id, deg, triangles, coeff) for every node with ≥1 edge;
    * deg-1 nodes get coeff 0 (the conventional value).
    */
  def localClustering(edges: DataFrame, scale: Long = 1000000000L,
                      pairsDistinct: Boolean = false,
                      canonical: Boolean = false): DataFrame = {
    val p0 =
      if (pairsDistinct || canonical) edges.select(col("src"), col("dst"))
      else edges.select(col("src"), col("dst")).distinct()
    // an already-persisted canonical store view (coPairs) is consumed
    // as-is (r14) — no E-scale checkpoint copy
    val parentCached = canonical &&
      edges.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    val canon0 =
      if (canonical) p0.select(col("src").as("a"), col("dst").as("b"))
      else p0.filter(col("src") =!= col("dst"))
        .select(least(col("src"), col("dst")).as("a"),
          greatest(col("src"), col("dst")).as("b"))
        .distinct()
    val canon = if (parentCached) canon0 else canon0.localCheckpoint(true)
    val nbrs = canon.select(col("a").as("id"), col("b").as("nb"))
      .union(canon.select(col("b").as("id"), col("a").as("nb")))
      .groupBy("id").agg(sort_array(collect_set(col("nb"))).as("adj"))
      .localCheckpoint(true)
    val smallV = nbrs.count() <= 2000000L
    def side(k: String, out: String) =
      if (smallV) broadcast(nbrs.select(col("id").as(k), col("adj").as(out)))
      else nbrs.select(col("id").as(k), col("adj").as(out))
    val perEdge = canon
      .join(side("a", "adjA"), Seq("a"))
      .join(side("b", "adjB"), Seq("b"))
      .select(col("a"), col("b"),
        size(array_intersect(col("adjA"), col("adjB"))).cast("long").as("c"))
    val tri = perEdge
      .select(explode(array(
        struct(col("a").as("id"), col("c")),
        struct(col("b").as("id"), col("c")))).as("e"))
      .select(col("e.id"), col("e.c"))
      .groupBy("id").agg(expr("sum(c) div 2").as("triangles"))
    nbrs.select(col("id"), size(col("adj")).cast("long").as("deg"))
      .join(tri, Seq("id"), "left")
      .select(col("id"), col("deg"),
        coalesce(col("triangles"), lit(0L)).as("triangles"),
        when(col("deg") >= 2,
          expr(s"CAST(2 * coalesce(triangles, 0) AS DECIMAL(38,0))" +
            s" * ${scale}L div (deg * (deg - 1))").cast("long"))
          .otherwise(lit(0L)).as("coeff"))
  }

  /** DuckDB oracle for [[localClustering]] — adjacency degrees + the
    * [[trianglesSql]] wedge closing, the identical DECIMAL-safe
    * fixed-point division (HUGEINT on the DuckDB side).
    */
  def localClusteringSql(edgesSql: String,
                         scale: Long = 1000000000L): String =
    s"""WITH e AS ($edgesSql),
       | pairs AS MATERIALIZED (SELECT DISTINCT src, dst FROM e),
       | canon AS MATERIALIZED (
       |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       |  FROM pairs WHERE src <> dst),
       | deg AS MATERIALIZED (SELECT id, CAST(COUNT(*) AS BIGINT) AS deg FROM (
       |  SELECT a AS id FROM canon UNION ALL SELECT b FROM canon) GROUP BY id),
       | o AS MATERIALIZED (
       |  SELECT CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND c.a < c.b)
       |    THEN c.a ELSE c.b END AS u,
       |   CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND c.a < c.b)
       |    THEN c.b ELSE c.a END AS v
       |  FROM canon c JOIN deg da ON da.id = c.a JOIN deg db ON db.id = c.b),
       | wg AS (SELECT o1.u, o1.v, o2.v AS w FROM o o1
       |   JOIN o o2 ON o1.u = o2.u AND o1.v < o2.v),
       | t AS (SELECT u, v, w FROM wg
       |   WHERE EXISTS (SELECT 1 FROM canon WHERE a = wg.v AND b = wg.w)),
       | x AS (SELECT unnest([u, v, w]) AS id FROM t),
       | tri AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS triangles
       |   FROM x GROUP BY id)
       | SELECT d.id, d.deg,
       |  CAST(COALESCE(t.triangles, 0) AS BIGINT) AS triangles,
       |  CAST(CASE WHEN d.deg >= 2
       |   THEN CAST(2 * COALESCE(t.triangles, 0) AS HUGEINT) * $scale
       |     // (CAST(d.deg AS HUGEINT) * (d.deg - 1))
       |   ELSE 0 END AS BIGINT) AS coeff
       | FROM deg d LEFT JOIN tri t ON d.id = t.id ORDER BY d.id"""
      .stripMargin.replace("\n", " ")

  /** Greedy distributed vertex coloring by iterated local-minima
    * independent sets (the Jones–Plassmann wave schedule with
    * hash-deterministic priorities): per round, every still-uncolored
    * node whose `md5(id) || id` priority beats all uncolored neighbors
    * takes the round number as its color and leaves. Each color class
    * is an independent set by construction (two adjacent survivors
    * can't both be their neighborhood minimum), so the result is a
    * proper coloring of everything colored within the horizon —
    * the scheduling primitive ("which tasks can run simultaneously"
    * over a dependency graph) one step past [[maximalIndependentSet]],
    * which this shares its machinery with: same priority device, same
    * '~' infinity, same fixed-round horizon semantics, but peeling
    * ONLY the winners each round (no neighbor elimination), so rounds
    * = colors. Nodes past the horizon report color 0 'uncolored'
    * rather than silently dropping.
    *
    * Scale shape: per round one join of the shrinking uncolored set
    * against the stored undirected index + one min-agg + one anti-join
    * — O(live edges) per round; expected rounds to empty ≈ max greedy
    * color ≈ O(degeneracy) on real graphs.
    *
    * Returns (id, color, status): 'colored' (color = round ≥ 1) or
    * 'uncolored' (color 0).
    */
  def greedyColoring(pairs: DataFrame, rounds: Int = 6,
                     undirectedPairs: Boolean = false): DataFrame = graft.core.Checkpoints.withoutAqe(pairs.sparkSession) {
    require(rounds >= 1, "greedyColoring needs rounds >= 1")
    val parentCached = undirectedPairs &&
      pairs.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    val und0raw = if (undirectedPairs)
      pairs.select(col("src").as("a"), col("dst").as("b"))
    else {
      val p0 = pairs.filter(col("src") =!= col("dst"))
        .select(col("src"), col("dst")).distinct()
      p0.select(col("src").as("a"), col("dst").as("b"))
        .union(p0.select(col("dst").as("a"), col("src").as("b")))
    }
    val und = if (parentCached) und0raw else und0raw.localCheckpoint(true)
    // r14 REWORK — the maximalIndependentSet device, one step simpler
    // because coloring only removes the WINNERS each round (their
    // neighbors stay in the game): the priority is a pure function of
    // the id (md5(id)||id), so no round ever joins a priority table
    // onto the edge set; min-neighbor-priority is ONE map-side
    // partial-agg over the carried live edges (combines to V-sized
    // shuffle output), the per-round state (id, pri, sel) is ONE eager
    // frame whose filters yield the round's colors AND the next undec,
    // and live shrinks by broadcast anti-joins (map-only) carried as a
    // lazy checkpoint that the next round's single job materializes.
    // 1 eager job per round instead of 3, zero E-scale exchanges
    // (guide §2.3/§2.4; the r13 eager variant was a driver-adjudicated
    // regression — ADVICE r13).
    def pri(c: org.apache.spark.sql.Column) = concat(md5(c), c)
    val szRow = und.agg(count(lit(1)),
      approx_count_distinct(col("a"))).head()
    val nE = szRow.getLong(0)
    val nV = math.min(szRow.getLong(1), nE)
    val small = nV <= 1000000L
    def bcIf(df: DataFrame) = if (small) broadcast(df) else df
    var undec = und.select(col("a").as("id")).distinct()
      .withColumn("pri", pri(col("id")))
      .localCheckpoint(true)
    var live = und
    var prevLive: DataFrame = null
    var out: DataFrame = null
    graft.core.Checkpoints.withLoopShuffle(pairs.sparkSession, nV, nE) {
      for (r <- 1 to rounds) {
        val minNb = live.groupBy(col("a").as("id"))
          .agg(min(pri(col("b"))).as("mn"))
        val state0 = undec.join(minNb, Seq("id"), "left")
          .select(col("id"), col("pri"),
            (col("pri") < coalesce(col("mn"), lit("~"))).as("sel"))
        graft.core.PlanTrace.round("coloring_state_round", state0)
        val state = // the round's ONE job (materializes live too)
          state0.localCheckpoint(true)
        if (prevLive != null) graft.core.Checkpoints.drop(prevLive)
        out = {
          val roundOut = state.filter(col("sel"))
            .select(col("id"), lit(r).as("color"), lit("colored").as("status"))
          if (out == null) roundOut else out.unionAll(roundOut)
        }
        undec = state.filter(!col("sel")).select(col("id"), col("pri"))
        if (r < rounds) {
          val selIds = state.filter(col("sel")).select("id")
          prevLive = live
          val live0 = live
            .join(bcIf(selIds.withColumnRenamed("id", "a")), Seq("a"),
              "left_anti")
            .join(bcIf(selIds.withColumnRenamed("id", "b")), Seq("b"),
              "left_anti")
          graft.core.PlanTrace.round("coloring_live_round", live0)
          live = live0.localCheckpoint(false) // materialized by round r+1's job
        }
      }
      // the final round's E-scale carry has no consumer left — release
      // it now instead of at the harness sweep (ADVICE r13)
      graft.core.Checkpoints.drop(live)
    }
    out.unionAll(undec.select(col("id"), lit(0).as("color"),
      lit("uncolored").as("status")))
  }

  /** DuckDB oracle for [[greedyColoring]] — the identical rounds
    * unrolled as MATERIALIZED CTEs (same priority, same '~' infinity,
    * winners-only peel).
    */
  def coloringSql(edgesSql: String, rounds: Int = 6): String = {
    val sb = new StringBuilder
    sb ++= s"WITH e AS ($edgesSql), "
    sb ++= "p AS MATERIALIZED (SELECT DISTINCT src, dst FROM e WHERE src <> dst), "
    sb ++= "u AS MATERIALIZED (SELECT src AS a, dst AS b FROM p " +
      "UNION ALL SELECT dst, src FROM p), "
    sb ++= "u0 AS MATERIALIZED (SELECT id, md5(id) || id AS pri FROM " +
      "(SELECT DISTINCT a AS id FROM u))"
    for (r <- 1 to rounds) {
      val prev = s"u${r - 1}"
      sb ++= s", mn$r AS MATERIALIZED (SELECT u.a AS id, MIN(ub.pri) AS mn " +
        s"FROM u JOIN $prev ua ON u.a = ua.id JOIN $prev ub ON u.b = ub.id " +
        "GROUP BY 1)"
      sb ++= s", sel$r AS MATERIALIZED (SELECT s.id FROM $prev s " +
        s"LEFT JOIN mn$r m ON s.id = m.id " +
        s"WHERE s.pri < COALESCE(m.mn, '~'))"
      sb ++= s", u$r AS MATERIALIZED (SELECT s.id, s.pri FROM $prev s " +
        s"LEFT JOIN sel$r d ON s.id = d.id WHERE d.id IS NULL)"
    }
    val sels = (1 to rounds).map(r =>
      s"SELECT id, $r AS color, 'colored' AS status FROM sel$r")
      .mkString(" UNION ALL ")
    sb ++= s" $sels UNION ALL SELECT id, 0, 'uncolored' FROM u$rounds"
    sb.toString
  }

  /** GNN-style feature propagation (SGC / LightGCN shape without the
    * learned weights): iterate h'(v) = (h(v) + Σ_{u∈N(v)} h(u)) div
    * (deg(v) + 1) — mean aggregation over the self-looped neighborhood,
    * the message-passing primitive every graph neural network lowers
    * to, and the cheapest way to attach "what my neighborhood looks
    * like" features to nodes for a downstream model. Seeded with
    * h₀ = deg·`scale` (degree is the canonical structural feature;
    * `scale` keeps precision through the integer mean), carried as
    * LONG with the neighborhood sum accumulated in DECIMAL(38,0)
    * (matching the oracle's HUGEINT — hub sums can exceed a LONG) —
    * the same exact-arithmetic convention as every fixed-point
    * entry, making the unrolled oracle hash-exact where float means
    * never could be.
    *
    * Scale shape per iteration: ONE equi-join of the V-sized state
    * against the stored undirected index + one V-sized partial agg
    * (the old state rides the union — the pagerank fold), no
    * exchanges beyond the agg. Returns (id, deg, feature).
    */
  def featureProp(pairs: DataFrame, iters: Int = 2,
                  scale: Long = 1000000L,
                  undirectedPairs: Boolean = false): DataFrame = Loop.run(pairs.sparkSession, Loop.Lazy) { loop =>
    require(iters >= 1, "featureProp needs iters >= 1")
    val parentCached = undirectedPairs &&
      pairs.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    val und0raw = if (undirectedPairs)
      pairs.select(col("src").as("a"), col("dst").as("b"))
    else {
      val p0 = pairs.filter(col("src") =!= col("dst"))
        .select(col("src"), col("dst")).distinct()
      p0.select(col("src").as("a"), col("dst").as("b"))
        .union(p0.select(col("dst").as("a"), col("src").as("b")))
    }
    val und = if (parentCached) und0raw else loop.pin(und0raw)
    val deg = loop.pin(und.groupBy(col("a").as("id"))
      .agg(count(lit(1)).as("deg")))
    var state = deg.select(col("id"), (col("deg") * scale).as("h"))
    // ship the V-sized frames into the E join / the V merge while
    // broadcastable (r14 — the pagerank/LPA pattern): the checkpointed
    // deg carries no stats, so the planner otherwise sort-merge-joins
    // and re-exchanges the edge set per iteration
    val smallV = deg.count() <= 1000000L
    def shipIf(df: DataFrame) = if (smallV) broadcast(df) else df
    // lazy carries: the round frames materialize in the caller's write.
    // No `loop.rounds`: the rounds keep the session shuffle width, as in
    // r14 — the narrower loop width measured no faster (fresh-JVM,
    // sf0.1, a 16-partition session on a 4-core host: 6.9 s median at
    // the loop width vs 6.4 s at the session width, 4 pairs)
    for (_ <- 1 to iters) {
      val msgs = und
        .join(shipIf(state.select(col("id").as("a"), col("h"))), Seq("a"))
        .select(col("b").as("id"), col("h"))
      state = loop.carry("feature_prop_iter", state.select(col("id"), col("h"))
        .unionAll(msgs)
        // accumulate in DECIMAL(38,0): a hub-heavy graph (~1e6-degree
        // nodes) can overflow a LONG sum, which non-ANSI Spark wraps
        // silently while the HUGEINT oracle errors loudly — the exact
        // asymmetry the repo's decimal convention exists to avoid
        .groupBy("id")
        .agg(sum(col("h").cast("decimal(38,0)")).as("hs"))
        .join(shipIf(deg), Seq("id"))
        .select(col("id"),
          expr("hs div (deg + 1)").cast("long").as("h")))
    }
    state.join(shipIf(deg), Seq("id"))
      .select(col("id"), col("deg"), col("h").as("feature"))
  }

  /** DuckDB oracle for [[featureProp]] — the identical iterations
    * unrolled as MATERIALIZED CTEs.
    */
  def featurePropSql(edgesSql: String, iters: Int = 2,
                     scale: Long = 1000000L): String = {
    val sb = new StringBuilder
    sb ++= s"WITH e AS ($edgesSql), "
    sb ++= "p AS MATERIALIZED (SELECT DISTINCT src, dst FROM e WHERE src <> dst), "
    sb ++= "u AS MATERIALIZED (SELECT src AS a, dst AS b FROM p " +
      "UNION ALL SELECT dst, src FROM p), "
    sb ++= "deg AS MATERIALIZED (SELECT a AS id, CAST(COUNT(*) AS BIGINT) " +
      "AS deg FROM u GROUP BY 1), "
    sb ++= s"h0 AS MATERIALIZED (SELECT id, deg * $scale AS h FROM deg)"
    for (i <- 1 to iters) {
      val prev = s"h${i - 1}"
      sb ++= s", m$i AS MATERIALIZED (SELECT u.b AS id, s.h " +
        s"FROM $prev s JOIN u ON u.a = s.id)"
      sb ++= s", h$i AS MATERIALIZED (SELECT t.id, " +
        s"CAST(SUM(t.h) // (d.deg + 1) AS BIGINT) AS h FROM " +
        s"(SELECT id, h FROM $prev UNION ALL SELECT id, h FROM m$i) t " +
        s"JOIN deg d ON d.id = t.id GROUP BY t.id, d.deg)"
    }
    sb ++= s" SELECT h.id, d.deg, h.h AS feature FROM h$iters h " +
      "JOIN deg d ON d.id = h.id ORDER BY h.id"
    sb.toString
  }

  /** Modularity-ASCENDING community detection — the local-moving phase
    * of Louvain (Blondel et al. 2008), in the deterministic synchronous
    * formulation: per round every node evaluates, against the CURRENT
    * partition, the modularity gain of adopting each neighbor
    * community — or STAYING, an explicit candidate scored at
    * k_{i,own∖i} (0 for a singleton) so a node with only
    * negative-gain moves keeps its community — and the active half of
    * the nodes move simultaneously to their argmax (see the parity
    * gate below). The gain comparison is EXACT integer arithmetic:
    * for node i and candidate community C (i notionally removed),
    * ΔQ(i→C) ranks by  2m·k_{i,C} − k_i·Σtot_{C∖i}  — the standard
    * formula with the constant 1/2m² factor dropped (rank-invariant) —
    * computed in DECIMAL(38,0) (2m·k at 100-TB edge counts exceeds a
    * LONG; DuckDB's HUGEINT replays it exactly, and the silent-wrap
    * asymmetry between non-ANSI Spark and loud DuckDB is precisely
    * what the decimal convention exists to avoid). Ties break
    * (score desc, community asc) — total, so the unrolled oracle is
    * hash-exact. Where [[labelPropagation]] counts neighbors, this
    * weighs them against community degree mass: LPA's known failure
    * mode (one giant label swallowing a hub-heavy graph) is exactly
    * what the k_i·Σtot penalty prevents.
    *
    * Plain simultaneous argmax OSCILLATES on symmetric structures
    * (two mutually-best nodes trade labels forever — measured on a
    * ring of triangles, where it never coalesces a single triangle);
    * each round therefore activates a pseudo-random HALF of the nodes
    * (portable md5-based [[graft.pipeline.Sketches.hash32]] of
    * (id, round) — per-round rehashing, so any symmetric pair lands
    * in different halves within a few rounds, which a fixed 2-class
    * parity cannot guarantee) — the Jones-Plassmann-style randomized
    * schedule parallel Louvain implementations use. Full multi-level
    * Louvain = this phase + graph contraction: [[louvainTwoLevel]].
    *
    * Scale shape per round: one O(V) label⋈degree partial agg
    * (community masses, community-count-sized), one E-scale probe of
    * the stored undirected index against the O(V) label table
    * (k_{i,C}), one (node, neighbor-community)-sized join tree, one
    * V-scale argmax fold (the LPA min-struct winner). Returns
    * (id, community).
    */
  def louvainOneLevel(edges: DataFrame, rounds: Int = 3,
                      pairsDistinct: Boolean = false,
                      undirectedPairs: Boolean = false): DataFrame = graft.core.Checkpoints.withoutAqe(edges.sparkSession) {
    require(rounds >= 1, "louvainOneLevel needs rounds >= 1")
    val parentCached = undirectedPairs &&
      edges.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    val und0 = if (undirectedPairs)
      edges.select(col("src").as("a"), col("dst").as("b"))
    else {
      val pairs0 =
        if (pairsDistinct) edges.select(col("src"), col("dst"))
        else edges.select(col("src"), col("dst")).distinct()
      pairs0.select(col("src").as("a"), col("dst").as("b"))
        .union(pairs0.select(col("dst").as("a"), col("src").as("b")))
        .distinct()
    }
    val und = if (parentCached) und0 else und0.localCheckpoint(false)
    val deg = und.groupBy(col("a").as("id"))
      .agg(count(lit(1)).as("deg"))
      .localCheckpoint(true)
    // both orientations stored → row count IS 2m (and materializes und)
    val twoM = und.count()
    var labels = deg.select(col("id"), col("id").as("lbl"))
      .localCheckpoint(false)
    val nV = deg.count()
    // the LPA broadcast pattern: every per-round join against O(V)
    // state ships the STATE, never re-exchanges the stored edge index
    // or the (node, community) candidate table
    val small = nV <= 1000000L
    def bc(df: DataFrame): DataFrame = if (small) broadcast(df) else df
    // exact-integer score in LONG while it provably fits — identical
    // values to the DECIMAL(38,0) path for 2m ≤ 10^9 (every term is
    // bounded by (2m)²; see weightedMetaMove), far cheaper per row.
    val scoreExpr =
      if (twoM <= 1000000000L)
        expr(s"${twoM}L * kic - ka * (tot - IF(la = lbl, ka, 0L))")
      else
        expr(s"CAST(${twoM}L AS DECIMAL(38,0)) * kic" +
          " - CAST(ka AS DECIMAL(38,0))" +
          " * (tot - IF(la = lbl, ka, 0L))")
    graft.core.Checkpoints.withLoopShuffle(edges.sparkSession,
      nV, twoM) {
      for (r <- 1 to rounds) {
        // community degree mass under the current partition
        val tot = labels.join(deg, Seq("id"))
          .groupBy("lbl").agg(sum("deg").as("tot"))
        // k_{i,C}: edges from i into each neighbor community, with the
        // STAY candidate (r9) riding the SAME aggregation as 0-count
        // rows (own community is always a candidate, at k_{i,own∖i} —
        // 0 for a singleton — so a node with only negative-gain moves
        // keeps its community instead of being forced to the
        // least-bad neighbor); one exchange, not a union + re-agg
        val cand0 = und
          .join(bc(labels.select(col("id").as("b"), col("lbl"))), Seq("b"))
          .select(col("a").as("id"), col("lbl"), lit(1L).as("cnt"))
          .unionByName(labels.select(col("id"), col("lbl"),
            lit(0L).as("cnt")))
          .groupBy("id", "lbl").agg(sum("cnt").as("kic"))
        val cand = cand0
          .join(bc(tot), Seq("lbl"))
          .join(bc(deg.select(col("id"), col("deg").as("ka"))), Seq("id"))
          .join(bc(labels.select(col("id"), col("lbl").as("la"))), Seq("id"))
          .select(col("id"), col("lbl"), col("la"), scoreExpr.as("score"))
        // hash-parity move gate (r9): only half the nodes (portable
        // md5 parity of (id, round)) adopt their argmax — the
        // Jones-Plassmann-style schedule parallel Louvain uses to
        // stop the synchronous two-node swap oscillation that plain
        // simultaneous argmax produces on symmetric structures (a
        // bridged pair would otherwise trade labels forever). `la`
        // rides the argmax fold (constant per id), so the update
        // needs no join back against the label table.
        // LAZY round frame (r14, measured): an eager variant (one
        // blocking materialization per round, superseded frame
        // dropped) was tried for the concurrent-broadcast-build
        // recomputation and REGRESSED the deep entry 13.5→18.4 s in
        // fresh-JVM probes — the serial round barrier costs more than
        // the duplicated lazy-chain builds save at this frame size.
        val labels0 = cand
          .groupBy("id")
          .agg(min(struct((-col("score")).as("ns"), col("lbl").as("l"))).as("w"),
            max(col("la")).as("la"))
          .select(col("id"),
            when(pmod(graft.pipeline.Sketches.hash32(
              concat(col("id"), lit(s"#$r"))), lit(2L)) === lit(0L),
              col("w.l"))
              .otherwise(col("la")).as("lbl"))
        graft.core.PlanTrace.round("louvain_move_round", labels0)
        labels = labels0.localCheckpoint(false)
      }
    }
    labels.select(col("id"), col("lbl").as("community"))
  }

  /** DuckDB oracle for [[louvainOneLevel]] — the identical rounds
    * unrolled (HUGEINT score, same tie-break).
    */
  def louvainSql(edgesSql: String, rounds: Int = 3): String =
    louvainCtesSql(edgesSql, rounds) +
      s" SELECT id, lbl AS community FROM l$rounds ORDER BY id"

  /** The level-1 CTE chain (g0/deg/mm/l0..l`rounds`) shared by
    * [[louvainSql]] and [[louvainTwoLevelSql]].
    */
  private def louvainCtesSql(edgesSql: String, rounds: Int): String = {
    val sb = new StringBuilder
    sb ++= s"WITH e AS ($edgesSql), "
    sb ++= "pairs AS MATERIALIZED (SELECT DISTINCT src, dst FROM e), "
    sb ++= "g0 AS MATERIALIZED (SELECT src AS a, dst AS b FROM pairs " +
      "UNION SELECT dst, src FROM pairs), "
    sb ++= "deg AS MATERIALIZED (SELECT a AS id, CAST(COUNT(*) AS BIGINT) " +
      "AS deg FROM g0 GROUP BY 1), "
    sb ++= "mm AS MATERIALIZED (SELECT CAST(COUNT(*) AS BIGINT) AS twom FROM g0), "
    sb ++= "l0 AS MATERIALIZED (SELECT id, id AS lbl FROM deg)"
    for (r <- 1 to rounds) {
      val p = s"l${r - 1}"
      sb ++= s", tot$r AS MATERIALIZED (SELECT l.lbl, SUM(d.deg) AS tot " +
        s"FROM $p l JOIN deg d USING (id) GROUP BY 1)"
      sb ++= s", kic$r AS MATERIALIZED (SELECT g.a AS id, lb.lbl, " +
        s"CAST(COUNT(*) AS BIGINT) AS kic " +
        s"FROM g0 g JOIN $p lb ON lb.id = g.b GROUP BY 1, 2)"
      sb ++= s", cu$r AS MATERIALIZED (SELECT id, lbl, MAX(kic) AS kic " +
        s"FROM (SELECT id, lbl, kic FROM kic$r " +
        s"UNION ALL SELECT id, lbl, CAST(0 AS BIGINT) FROM $p) " +
        "GROUP BY 1, 2)"
      sb ++= s", cand$r AS MATERIALIZED (SELECT k.id, k.lbl, " +
        "CAST(mm.twom AS HUGEINT) * k.kic - CAST(d.deg AS HUGEINT) * " +
        "(t.tot - CASE WHEN la.lbl = k.lbl THEN d.deg ELSE 0 END) AS score " +
        s"FROM cu$r k JOIN tot$r t ON t.lbl = k.lbl " +
        s"JOIN deg d ON d.id = k.id JOIN $p la ON la.id = k.id CROSS JOIN mm)"
      sb ++= s", lw$r AS MATERIALIZED (SELECT id, lbl FROM (" +
        s"SELECT id, lbl, row_number() OVER (PARTITION BY id " +
        s"ORDER BY score DESC, lbl) AS rn FROM cand$r) WHERE rn = 1)"
      sb ++= s", l$r AS MATERIALIZED (SELECT l.id, " +
        s"CASE WHEN (${graft.pipeline.Sketches.hash32Sql(s"l.id || '#$r'")})" +
        s" % 2 = 0 THEN w.lbl ELSE l.lbl END AS lbl " +
        s"FROM $p l JOIN lw$r w ON w.id = l.id)"
    }
    sb.toString
  }

  /** FULL (two-level) Louvain — [[louvainOneLevel]] composed with the
    * standard graph-contraction second pass (Blondel et al. 2008 §2):
    * level-1 communities become WEIGHTED meta-nodes (edge weight =
    * number of inter-community edge orientations, self-loops carry the
    * intra-community mass so weighted degree and 2m are preserved
    * exactly), and the same modularity-ascending move phase runs on
    * the meta-graph. This is where the resolution limit
    * (Fortunato & Barthélemy 2007) gets crossed: merges that no
    * single-node move can reach — e.g. adjacent small cliques in a
    * large ring — happen here as one meta-node move.
    *
    * The meta move phase is the weighted generalization of the
    * level-1 phase, with the same two stabilizers (STAY candidate,
    * hash-parity move gate — see [[louvainOneLevel]]), all replayed
    * exactly by the unrolled two-level oracle.
    *
    * Scale shape: level 1 as [[louvainOneLevel]]; the contraction is
    * ONE E-scale probe of the stored undirected index against the
    * O(V) label table + a community²-bounded (in practice ~E-meta)
    * partial agg; every level-2 round runs on the META graph —
    * community-count-sized state, inter-community-edge-sized probes —
    * which at 100 TB is orders of magnitude below V. Returns
    * (id, community) for every original node.
    */
  def louvainTwoLevel(edges: DataFrame, rounds1: Int = 3,
                      rounds2: Int = 4,
                      pairsDistinct: Boolean = false,
                      undirectedPairs: Boolean = false,
                      metaDriverMax: Long = 1000000L,
                      l1Precomputed: Option[DataFrame] = None): DataFrame =
    louvainLevels(edges, rounds1, rounds2, maxLevels = 2,
      pairsDistinct = pairsDistinct, undirectedPairs = undirectedPairs,
      metaDriverMax = metaDriverMax, l1Precomputed = l1Precomputed)

  /** FULL Blondel recursion (r10 — generalizes the r9 two-level pass):
    * contract-then-move LEVELS until no meta-node moves or `maxLevels`
    * is reached, the published algorithm's outer loop (Blondel et al.
    * 2008 §2). Level k ≥ 3 contracts the LEVEL-(k−1) META GRAPH by its
    * own move labels — meta-edge-scale work, never a second pass over
    * the original edges — so a deep community hierarchy (billion-node
    * web graphs) costs one E-scale contraction total plus
    * geometrically-shrinking meta phases. Early exit is safe for the
    * unrolled oracle: a level that moves nothing yields the identity
    * mapping, and every subsequent unrolled level replays that
    * identity (same meta graph, same parity schedule), so engine and
    * oracle agree whether or not the engine kept looping.
    *
    * Each level's move phase carries the r9 stabilizers (STAY
    * candidate, md5 (id, round) hash-parity half-move gate) and the
    * same exact-integer score; the round parity is per (meta-id,
    * round) and deliberately level-independent, replayed identically
    * by [[louvainLevelsSql]].
    */
  def louvainLevels(edges: DataFrame, rounds1: Int = 3,
                    roundsMeta: Int = 4,
                    maxLevels: Int = 3,
                    pairsDistinct: Boolean = false,
                    undirectedPairs: Boolean = false,
                    metaDriverMax: Long = 1000000L,
                    l1Precomputed: Option[DataFrame] = None): DataFrame = graft.core.Checkpoints.withoutAqe(edges.sparkSession) {
    require(rounds1 >= 1 && roundsMeta >= 1 && maxLevels >= 2,
      "louvainLevels needs rounds1, roundsMeta >= 1 and maxLevels >= 2")
    val parentCached = undirectedPairs &&
      edges.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    val und0 = if (undirectedPairs)
      edges.select(col("src").as("a"), col("dst").as("b"))
    else {
      val pairs0 =
        if (pairsDistinct) edges.select(col("src"), col("dst"))
        else edges.select(col("src"), col("dst")).distinct()
      pairs0.select(col("src").as("a"), col("dst").as("b"))
        .union(pairs0.select(col("dst").as("a"), col("src").as("b")))
        .distinct()
    }
    val und = if (parentCached) und0 else und0.localCheckpoint(true)
    // level 1 gets the ORIGINAL frame + flags: a derived select would
    // lose the parent's storage level and force louvainOneLevel to
    // re-materialize the E-sized undirected view a second time.
    // `l1Precomputed` (must be louvainOneLevel(same edges, rounds1)'s
    // (id, community) output, typically the session-cached stored
    // partition) skips the level-1 chain entirely — the caller's frame
    // is already persisted, so no re-checkpoint.
    val l1 = l1Precomputed match {
      case Some(pre) => pre.select(col("id"), col("community").as("c1"))
      case None => louvainOneLevel(
          if (parentCached) edges
          else und.select(col("a").as("src"), col("b").as("dst")),
          rounds = rounds1, pairsDistinct = pairsDistinct,
          undirectedPairs = undirectedPairs ||
            !parentCached) // und is already the symmetrized view
        .select(col("id"), col("community").as("c1"))
        .localCheckpoint(true)
    }
    // contraction (level 2): meta edge weight = count of
    // (both-orientation) und rows between the two communities;
    // self-loops (ca = cb) carry the intra-community mass, so Σw = 2m
    // and wdeg(C) = Σ_{u∈C} deg(u). The ONE E-scale probe of the run.
    // The V-sized (id, community) mapping broadcasts under the same
    // 1M gate the meta phase uses (r11): the static planner sees a
    // ~V-row side above the 10 MB auto threshold and plans TWO
    // E-scale shuffle joins plus the groupBy shuffle — broadcasting
    // cuts the contraction to map-side joins + one shuffle (isolated
    // 3-iter warm median 14.2 → 11.7 s for the level-3 resume); past
    // the gate the shuffle
    // plan is the correct 100-TB shape and stands.
    val l1Bc = l1.count() <= metaDriverMax
    def bcL1(df: DataFrame): DataFrame = if (l1Bc) broadcast(df) else df
    var metaE = und
      .join(bcL1(l1.select(col("id").as("a"), col("c1").as("ca"))), Seq("a"))
      .join(bcL1(l1.select(col("id").as("b"), col("c1").as("cb"))), Seq("b"))
      .groupBy(col("ca").as("a"), col("cb").as("b"))
      .agg(count(lit(1)).as("w"))
      .localCheckpoint(true)
    // mapping: original id → community at the deepest finished level
    var mapping = l1
    var level = 2
    var continueLoop = true
    while (continueLoop) {
      val (lbl, small) = weightedMetaMove(
        edges.sparkSession, metaE, roundsMeta, metaDriverMax)
      def bc(df: DataFrame): DataFrame = if (small) broadcast(df) else df
      mapping = mapping
        .join(bc(lbl.select(col("id").as("c1"), col("lbl").as("cnext"))),
          Seq("c1"))
        .select(col("id"), col("cnext").as("c1"))
      level += 1
      if (level > maxLevels) continueLoop = false
      else {
        // fixpoint test: a level where NO meta node adopted a different
        // community cannot enable further merges — stop. One tiny
        // driver action on the meta-V-sized label table.
        val moved = lbl.filter(col("id") =!= col("lbl")).limit(1).count() > 0
        if (!moved) continueLoop = false
        else {
          // contract the META graph by its own labels — meta-scale only
          metaE = metaE
            .join(bc(lbl.select(col("id").as("a"), col("lbl").as("ca"))), Seq("a"))
            .join(bc(lbl.select(col("id").as("b"), col("lbl").as("cb"))), Seq("b"))
            .groupBy(col("ca").as("a"), col("cb").as("b"))
            .agg(sum("w").as("w"))
            .localCheckpoint(true)
        }
      }
    }
    mapping.select(col("id"), col("c1").as("community"))
  }

  /** One weighted modularity-ascending move phase over a meta graph
    * (a, b, w) — the loop body of [[louvainLevels]], with the r9
    * driver finisher: a metadata-sized contracted graph (≤
    * `metaDriverMax` meta-edges, the minimumSpanningForest convention)
    * is collected once and the rounds run locally instead of paying
    * ~5 tiny distributed stages × rounds of pure driver latency —
    * identical semantics (exact integer score in BigInt, same
    * tie-break, same (id, round) md5 parity), spec-pinned equal to the
    * distributed fallback that runs past the gate. Returns the final
    * (id, lbl) label table and whether it is broadcast-small.
    */
  private def weightedMetaMove(spark: org.apache.spark.sql.SparkSession,
                               metaE: DataFrame, rounds: Int,
                               metaDriverMax: Long): (DataFrame, Boolean) = {
    // ONE fused size scan (r14): edge count (the driver-path gate) and
    // total weight 2m ride the same job — and the V-meta degree table
    // plus the label init are built only on the path that reads them
    // (the driver finisher computes degrees locally; building mdeg's
    // eager checkpoint before the gate was a wasted job there).
    val szRow = metaE.agg(count(lit(1)), coalesce(sum("w"), lit(0L))).first()
    val nMetaE = szRow.getLong(0)
    val twoM = szRow.getLong(1)
    if (nMetaE <= metaDriverMax) {
      val rows = metaE.collect().map(r =>
        (r.getString(0), r.getString(1), r.getLong(2)))
      val deg = new scala.collection.mutable.HashMap[String, Long]
      rows.foreach { case (a, _, w) => deg(a) = deg.getOrElse(a, 0L) + w }
      val lbl = new scala.collection.mutable.HashMap[String, String]
      deg.keys.foreach(k => lbl(k) = k)
      val tm = BigInt(twoM)
      for (r <- 1 to rounds) {
        val tot = new scala.collection.mutable.HashMap[String, Long]
        for ((id, d) <- deg) {
          val c = lbl(id); tot(c) = tot.getOrElse(c, 0L) + d
        }
        val kic = new scala.collection.mutable.HashMap[(String, String), Long]
        val nbrC = new scala.collection.mutable.HashMap[
          String, scala.collection.mutable.TreeSet[String]]
        rows.foreach { case (a, b, w) =>
          if (a != b) {
            val c = lbl(b)
            val k = (a, c); kic(k) = kic.getOrElse(k, 0L) + w
            nbrC.getOrElseUpdate(a,
              scala.collection.mutable.TreeSet.empty[String]) += c
          }
        }
        val next = new scala.collection.mutable.HashMap[String, String]
        for (id <- deg.keys) {
          val la = lbl(id)
          val ka = BigInt(deg(id))
          val cands = (nbrC.get(id).map(_.toSet).getOrElse(Set.empty)
            + la).toSeq.sorted
          var bestLbl = ""
          var bestScore: BigInt = null
          for (c <- cands) {
            val k = BigInt(kic.getOrElse((id, c), 0L))
            val t = BigInt(tot(c)) - (if (c == la) ka else BigInt(0))
            val score = tm * k - ka * t
            if (bestScore == null || score > bestScore) {
              bestScore = score; bestLbl = c
            } // ties: first in lbl-asc iteration wins (same as min-struct)
          }
          next(id) = if (hash32Local(s"$id#$r") % 2L == 0L) bestLbl else la
        }
        next.foreach { case (k, v) => lbl(k) = v }
      }
      import spark.implicits._
      (broadcast(lbl.toSeq.toDF("id", "lbl")), true)
    } else {
      val mdeg = metaE.groupBy(col("a").as("id"))
        .agg(sum("w").as("deg"))
        .localCheckpoint(true)
      var lbl2 = mdeg.select(col("id"), col("id").as("lbl"))
        .localCheckpoint(false)
      val small = nMetaE <= 8000000L
      def bc(df: DataFrame): DataFrame = if (small) broadcast(df) else df
      // exact-integer score in LONG while it provably fits (r14): every
      // term is bounded by 2m·kic and ka·tot ≤ (2m)², so for
      // 2m ≤ 10^9 the LONG result equals the DECIMAL(38,0) one bit for
      // bit (integer arithmetic, no overflow) at a fraction of the
      // per-row cost — Decimal128 multiply/compare dominated the
      // meta-round stages in the r14 JobProbe. Past the gate (a 100-TB
      // graph) the DECIMAL path stands.
      val scoreExpr =
        if (twoM <= 1000000000L)
          expr(s"${twoM}L * kic - ka * (tot - IF(la = lbl, ka, 0L))")
        else
          expr(s"CAST(${twoM}L AS DECIMAL(38,0)) * kic" +
            " - CAST(ka AS DECIMAL(38,0))" +
            " * (tot - IF(la = lbl, ka, 0L))")
      for (r <- 1 to rounds) {
        val tot = lbl2.join(mdeg, Seq("id"))
          .groupBy("lbl").agg(sum("deg").as("tot"))
        // stay rows ride the kic aggregation as weight-0 rows; `la`
        // rides the argmax fold — same one-exchange shape as level 1
        val cand0 = metaE.filter(col("a") =!= col("b"))
          .join(bc(lbl2.select(col("id").as("b"), col("lbl"))), Seq("b"))
          .select(col("a").as("id"), col("lbl"), col("w").as("cnt"))
          .unionByName(lbl2.select(col("id"), col("lbl"),
            lit(0L).as("cnt")))
          .groupBy("id", "lbl").agg(sum("cnt").as("kic"))
        val cand = cand0
          .join(bc(tot), Seq("lbl"))
          .join(bc(mdeg.select(col("id"), col("deg").as("ka"))), Seq("id"))
          .join(bc(lbl2.select(col("id"), col("lbl").as("la"))), Seq("id"))
          .select(col("id"), col("lbl"), col("la"), scoreExpr.as("score"))
        // EAGER round frame on the DISTRIBUTED meta path (r14,
        // re-measured): the round frame feeds THREE broadcast builds
        // next round (kic's b-side, tot, la), and with a lazy
        // checkpoint the concurrent builds raced the unfilled cache and
        // re-executed the whole cand chain 2-3× per round — the r14
        // JobProbe showed paired 50-80 executor-s duplicate stages
        // every round. One blocking materialization removes the
        // duplicates; the superseded frame drops immediately. (The r13
        // eager experiment that regressed bundled louvainOneLevel's
        // V-scale rounds too — the level-1 frames keep the lazy
        // variant, see louvainOneLevel.)
        val prev = lbl2
        val lbl2Next = cand
          .groupBy("id")
          .agg(min(struct((-col("score")).as("ns"), col("lbl").as("l"))).as("w"),
            max(col("la")).as("la"))
          .select(col("id"),
            when(pmod(graft.pipeline.Sketches.hash32(
              concat(col("id"), lit(s"#$r"))), lit(2L)) === lit(0L),
              col("w.l"))
              .otherwise(col("la")).as("lbl"))
        graft.core.PlanTrace.round("louvain_meta_round", lbl2Next)
        lbl2 = lbl2Next.localCheckpoint(true)
        graft.core.Checkpoints.drop(prev)
      }
      (lbl2, small)
    }
  }
  /** Driver-side replica of [[graft.pipeline.Sketches.hash32]]:
    * first 8 hex chars of md5(s) parsed base-16, + 1. Used by the
    * louvainTwoLevel driver finisher so its move parity is
    * bit-identical to the distributed path's and the oracle's.
    */
  private def hash32Local(s: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString.take(8)
    java.lang.Long.parseLong(hex, 16) + 1L
  }

  /** DuckDB oracle for [[louvainTwoLevel]] — the level-1 chain of
    * [[louvainSql]] plus the contraction and the weighted meta rounds
    * (stay candidate, hash-parity move gate) unrolled identically.
    */
  def louvainTwoLevelSql(edgesSql: String, rounds1: Int = 3,
                         rounds2: Int = 4): String = {
    val sb = new StringBuilder(louvainCtesSql(edgesSql, rounds1))
    sb ++= s", me AS MATERIALIZED (SELECT la.lbl AS a, lb.lbl AS b, " +
      "CAST(COUNT(*) AS BIGINT) AS w FROM g0 g " +
      s"JOIN l$rounds1 la ON la.id = g.a " +
      s"JOIN l$rounds1 lb ON lb.id = g.b GROUP BY 1, 2)"
    sb ++= ", md AS MATERIALIZED (SELECT a AS id, " +
      "CAST(SUM(w) AS BIGINT) AS deg FROM me GROUP BY 1)"
    sb ++= ", mm2 AS MATERIALIZED (SELECT CAST(SUM(w) AS BIGINT) " +
      "AS twom FROM me)"
    sb ++= ", m0 AS MATERIALIZED (SELECT id, id AS lbl FROM md)"
    for (r <- 1 to rounds2) {
      val p = s"m${r - 1}"
      sb ++= s", mt$r AS MATERIALIZED (SELECT l.lbl, " +
        s"CAST(SUM(d.deg) AS BIGINT) AS tot " +
        s"FROM $p l JOIN md d USING (id) GROUP BY 1)"
      sb ++= s", mk$r AS MATERIALIZED (SELECT g.a AS id, lb.lbl, " +
        s"CAST(SUM(g.w) AS BIGINT) AS kic FROM me g " +
        s"JOIN $p lb ON lb.id = g.b WHERE g.a <> g.b GROUP BY 1, 2)"
      sb ++= s", mc$r AS MATERIALIZED (SELECT id, lbl, MAX(kic) AS kic " +
        s"FROM (SELECT id, lbl, kic FROM mk$r " +
        s"UNION ALL SELECT id, lbl, CAST(0 AS BIGINT) FROM $p) " +
        "GROUP BY 1, 2)"
      sb ++= s", ms$r AS MATERIALIZED (SELECT c.id, c.lbl, " +
        "CAST(mm2.twom AS HUGEINT) * c.kic - CAST(d.deg AS HUGEINT) * " +
        "(t.tot - CASE WHEN la.lbl = c.lbl THEN d.deg ELSE 0 END) " +
        s"AS score FROM mc$r c JOIN mt$r t ON t.lbl = c.lbl " +
        s"JOIN md d ON d.id = c.id JOIN $p la ON la.id = c.id " +
        "CROSS JOIN mm2)"
      sb ++= s", mw$r AS MATERIALIZED (SELECT id, lbl FROM (" +
        "SELECT id, lbl, row_number() OVER (PARTITION BY id " +
        s"ORDER BY score DESC, lbl) AS rn FROM ms$r) WHERE rn = 1)"
      sb ++= s", m$r AS MATERIALIZED (SELECT l.id, " +
        s"CASE WHEN (${graft.pipeline.Sketches.hash32Sql(s"l.id || '#$r'")})" +
        s" % 2 = 0 THEN w.lbl ELSE l.lbl END AS lbl " +
        s"FROM $p l JOIN mw$r w ON w.id = l.id)"
    }
    sb ++= s" SELECT l.id, m.lbl AS community FROM l$rounds1 l " +
      s"JOIN m$rounds2 m ON m.id = l.lbl ORDER BY l.id"
    sb.toString
  }

  /** DuckDB oracle for [[louvainLevels]] — the level-1 chain of
    * [[louvainSql]] plus EVERY meta level's contraction and weighted
    * move rounds unrolled (stay candidate, (id, round) hash-parity
    * gate, HUGEINT score). Unconditional unrolling is sound against
    * the engine's early exit: a no-move level is the identity mapping
    * and every later unrolled level replays it (see
    * [[louvainLevels]]).
    */
  def louvainLevelsSql(edgesSql: String, rounds1: Int = 3,
                       roundsMeta: Int = 4, levels: Int = 3): String = {
    val sb = new StringBuilder(
      louvainLevelCtes(edgesSql, rounds1, roundsMeta, levels))
    // compose the per-level mappings down to original ids
    sb ++= s" SELECT l.id, x${levels}_$roundsMeta.lbl AS community " +
      s"FROM l$rounds1 l " +
      s"JOIN x2_$roundsMeta ON x2_$roundsMeta.id = l.lbl"
    for (k <- 3 to levels)
      sb ++= s" JOIN x${k}_$roundsMeta ON x${k}_$roundsMeta.id " +
        s"= x${k - 1}_$roundsMeta.lbl"
    sb ++= " ORDER BY l.id"
    sb.toString
  }

  /** DuckDB oracle for the LEVEL-MAPPING view (id, c1..cN) — the
    * dendrogram every level of [[louvainLevels]] produces, exposed by
    * the `graph_louvain_hierarchy` entry. Shares the unrolled CTE
    * chain with [[louvainLevelsSql]].
    */
  def louvainHierarchySql(edgesSql: String, rounds1: Int = 3,
                          roundsMeta: Int = 4, levels: Int = 3): String = {
    val sb = new StringBuilder(
      louvainLevelCtes(edgesSql, rounds1, roundsMeta, levels))
    sb ++= s" SELECT l.id, l.lbl AS c1"
    for (k <- 2 to levels) sb ++= s", x${k}_$roundsMeta.lbl AS c$k"
    sb ++= s" FROM l$rounds1 l " +
      s"JOIN x2_$roundsMeta ON x2_$roundsMeta.id = l.lbl"
    for (k <- 3 to levels)
      sb ++= s" JOIN x${k}_$roundsMeta ON x${k}_$roundsMeta.id " +
        s"= x${k - 1}_$roundsMeta.lbl"
    sb ++= " ORDER BY l.id"
    sb.toString
  }

  /** The unrolled level-1 + meta-level CTE chain shared by
    * [[louvainLevelsSql]] and [[louvainHierarchySql]].
    */
  private def louvainLevelCtes(edgesSql: String, rounds1: Int,
                               roundsMeta: Int, levels: Int): String = {
    require(levels >= 2)
    val sb = new StringBuilder(louvainCtesSql(edgesSql, rounds1))
    for (k <- 2 to levels) {
      // contraction: level 2 probes the original pair view by the
      // level-1 labels; level k >= 3 contracts level (k-1)'s meta graph
      if (k == 2)
        sb ++= s", e2 AS MATERIALIZED (SELECT la.lbl AS a, lb.lbl AS b, " +
          "CAST(COUNT(*) AS BIGINT) AS w FROM g0 g " +
          s"JOIN l$rounds1 la ON la.id = g.a " +
          s"JOIN l$rounds1 lb ON lb.id = g.b GROUP BY 1, 2)"
      else
        sb ++= s", e$k AS MATERIALIZED (SELECT la.lbl AS a, lb.lbl AS b, " +
          s"CAST(SUM(g.w) AS BIGINT) AS w FROM e${k - 1} g " +
          s"JOIN x${k - 1}_$roundsMeta la ON la.id = g.a " +
          s"JOIN x${k - 1}_$roundsMeta lb ON lb.id = g.b GROUP BY 1, 2)"
      sb ++= s", d$k AS MATERIALIZED (SELECT a AS id, " +
        s"CAST(SUM(w) AS BIGINT) AS deg FROM e$k GROUP BY 1)"
      sb ++= s", v$k AS MATERIALIZED (SELECT CAST(SUM(w) AS BIGINT) " +
        s"AS twom FROM e$k)"
      sb ++= s", x${k}_0 AS MATERIALIZED (SELECT id, id AS lbl FROM d$k)"
      for (r <- 1 to roundsMeta) {
        val p = s"x${k}_${r - 1}"
        sb ++= s", t${k}_$r AS MATERIALIZED (SELECT l.lbl, " +
          s"CAST(SUM(d.deg) AS BIGINT) AS tot " +
          s"FROM $p l JOIN d$k d USING (id) GROUP BY 1)"
        sb ++= s", k${k}_$r AS MATERIALIZED (SELECT g.a AS id, lb.lbl, " +
          s"CAST(SUM(g.w) AS BIGINT) AS kic FROM e$k g " +
          s"JOIN $p lb ON lb.id = g.b WHERE g.a <> g.b GROUP BY 1, 2)"
        sb ++= s", c${k}_$r AS MATERIALIZED (SELECT id, lbl, MAX(kic) AS kic " +
          s"FROM (SELECT id, lbl, kic FROM k${k}_$r " +
          s"UNION ALL SELECT id, lbl, CAST(0 AS BIGINT) FROM $p) " +
          "GROUP BY 1, 2)"
        sb ++= s", s${k}_$r AS MATERIALIZED (SELECT c.id, c.lbl, " +
          s"CAST(v$k.twom AS HUGEINT) * c.kic - CAST(d.deg AS HUGEINT) * " +
          "(t.tot - CASE WHEN la.lbl = c.lbl THEN d.deg ELSE 0 END) " +
          s"AS score FROM c${k}_$r c JOIN t${k}_$r t ON t.lbl = c.lbl " +
          s"JOIN d$k d ON d.id = c.id JOIN $p la ON la.id = c.id " +
          s"CROSS JOIN v$k)"
        sb ++= s", w${k}_$r AS MATERIALIZED (SELECT id, lbl FROM (" +
          "SELECT id, lbl, row_number() OVER (PARTITION BY id " +
          s"ORDER BY score DESC, lbl) AS rn FROM s${k}_$r) WHERE rn = 1)"
        sb ++= s", x${k}_$r AS MATERIALIZED (SELECT l.id, " +
          s"CASE WHEN (${graft.pipeline.Sketches.hash32Sql(s"l.id || '#$r'")})" +
          s" % 2 = 0 THEN w.lbl ELSE l.lbl END AS lbl " +
          s"FROM $p l JOIN w${k}_$r w ON w.id = l.id)"
      }
    }
    sb.toString
  }
}
