package graft.core

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** The round lifecycle of a checkpoint-driven iterative graph loop.
  *
  * Every iterative kernel carries its state from round to round as a
  * `localCheckpoint` frame. `Loop` owns the decisions each of them used
  * to repeat by hand:
  *  - [[Loop.run]] scopes AQE off for the whole kernel, set-up and
  *    final checks included ([[Checkpoints.withoutAqe]] has the
  *    measurements);
  *  - [[rounds]] runs the rounds at the loop shuffle width sized from
  *    the row counts the kernel already took
  *    ([[Checkpoints.withLoopShuffle]]); a V-sized state frame the
  *    rounds join against is broadcast while it has at most
  *    [[Loop.BroadcastStateRows]] rows;
  *  - [[carry]] hands each round's frame to [[PlanTrace.round]] under
  *    its chain's tag and checkpoints it; [[seed]] checkpoints a chain's
  *    round-0 frame and [[pin]] a set-up frame the rounds read;
  *  - the loop releases every frame it checkpointed once nothing it
  *    still holds reads it.
  *
  * RELEASE RULE. A loop carries one or more chains, by default one per
  * tag: k-core carries its degree table and its edge set side by side,
  * and a per-round peeled layer; components alternates its min and
  * jump frames in one chain, each superseding the other; hits keeps
  * two chains because its output reads the newest of both. A kernel
  * run inside another loop's round nests its chains under one of the
  * caller's, as `<chain>/<name>`: the caller's next frame of `<chain>`
  * supersedes them too, so the caller owns them (MSF's contraction
  * runs the components kernel under its own chain). It holds
  * the newest frame of every chain and every pinned frame. At each
  * release point — an eager [[carry]], after its checkpoint job, and
  * [[settle]], after its action — every other frame is released
  * unless the lineage of a held frame still reaches it: a lazy carry
  * reads its predecessors until a job has computed and checkpointed
  * it, a checkpointed frame reads nothing, and a broadcast side is
  * collected when the frame that reads it is checkpointed. So a frame
  * is released only once the successors that read it are
  * materialized, whichever chain they belong to: k-core's edge set
  * `und_t` is first materialized one or two rounds after it is
  * carried, and its predecessor, and the peeled layer it anti-joins on
  * the shuffled path, stay until then. A job checkpoints every lazy
  * loop frame it computes, not only the first one on each lineage path
  * as Spark does by default, and an eager carry's job does so too:
  * k-core's degree table is computed only through the peeled layer's
  * count, and the Luby kernel's lazy `live` edges only inside the next
  * round's eager job; either would otherwise keep every predecessor
  * alive. When the kernel returns, every frame its output
  * does not read is released too, pins included: a loop leaves behind
  * only what its caller's action still reads.
  *
  * RELEASE IS BLOCKING. A `localCheckpoint` block cannot be recomputed
  * once removed (its lineage is truncated), so an asynchronous removal
  * racing a job that still reads the frame corrupts results silently:
  * the r5 driver run recorded a hash mismatch on exactly the two
  * entries that dropped frames asynchronously mid-loop. Each release is
  * a blocking unpersist that runs at a release point, so it is a
  * happens-before edge.
  *
  * EAGER OR LAZY is fixed per loop ([[Loop.Carry]]) and holds for every
  * checkpoint the loop takes unless the call says otherwise:
  *  - [[Loop.Eager]]: the checkpoint job is the round's one action.
  *    Right when the round frame has several readers in the next round
  *    (the PageRank fold reads it for the invariant row, the shares and
  *    the union) and nothing else in the round would materialize it.
  *  - [[Loop.Lazy]]: the frame materializes in an action the round runs
  *    anyway ([[settle]], e.g. a normalization sum or a changed-row
  *    count), or only at the final write. That saves the serial barrier
  *    of one checkpoint job per round, which measured faster for
  *    single-reader frames (hits, feature_prop; r14 reverted louvain's
  *    eager rounds for the same reason). A loop that never calls
  *    [[settle]] releases nothing before it returns.
  * An early exit is a settled action's result: `converged =
  * loop.settle(changed.count() == 0L)`.
  *
  * SESSION CONFS. AQE and the shuffle width are session-scoped SQL
  * confs: a concurrent query on the SAME session plans under them
  * while a loop runs (acceptable for this engine's one-query-at-a-time
  * sessions). Both are restored on every exit, an exception included.
  */
final class Loop private (spark: SparkSession, mode: Loop.Carry) {
  private val eagerByDefault = mode == Loop.Eager
  // every frame checkpointed and not yet released; the newest frame of
  // each chain; the pinned frames
  private var owned = Vector.empty[RDD[_]]
  private val newest = scala.collection.mutable.Map.empty[String, RDD[_]]
  private var pinned = List.empty[RDD[_]]
  // the SQL metrics of each owned frame's plan, by frame. A job that was
  // submitted before a lazy frame's checkpoint truncated its lineage
  // still runs the frame's operators and reports their metrics; once the
  // truncation drops the last driver reference to those metrics and
  // they are garbage-collected, the driver discards the updates and
  // logs "Failed to update accumulator" for every task.
  private val metrics = scala.collection.mutable.Map.empty[Int, Seq[AnyRef]]

  /** Checkpoint a set-up frame the rounds read (an edge view, a degree
    * table); it is held until the loop returns.
    */
  def pin(df: DataFrame, eager: Boolean = eagerByDefault): DataFrame = {
    val frame = checkpoint(df, eager)
    pinned ::= rdd(frame)
    frame
  }

  /** Checkpoint the round-0 frame of `chain`; its first carry
    * supersedes it.
    */
  def seed(chain: String, df: DataFrame): DataFrame = {
    val frame = checkpoint(df, eagerByDefault)
    hold(chain, frame)
    frame
  }

  /** Run the rounds at the loop shuffle width ([[Checkpoints.withLoopShuffle]]). */
  def rounds[T](stateRows: Long, edgeRows: Long = 0L)(body: => T): T =
    Checkpoints.withLoopShuffle(spark, stateRows, edgeRows)(body)

  /** Checkpoint one round's frame, traced under `tag`, as the newest of
    * `chain` (by default the tag's own). An eager carry is materialized
    * here and then releases what it made dead; a lazy one waits for
    * [[settle]].
    */
  def carry(tag: String, next: DataFrame, eager: Boolean = eagerByDefault,
            chain: String = ""): DataFrame = {
    PlanTrace.round(tag, next)
    val frame = checkpoint(next, eager)
    hold(if (chain.isEmpty) tag else chain, frame)
    if (eager) release(newest.values ++ pinned)
    frame
  }

  /** Run the action that materializes the newest lazy carries, then
    * release the frames no held frame reads any more.
    */
  def settle[A](action: => A): A = {
    val result = action
    release(newest.values ++ pinned)
    result
  }

  /** Every frame is created with Spark's `checkpointAllMarkedAncestors`
    * local property set (an RDD reads it when it is created), so the job
    * that computes it checkpoints the lazy frames below it as well. An
    * eager frame is created lazily too and then counted in one job:
    * Spark's own eager checkpoint visits the marked ancestors before its
    * job, and computes each one it finds in a job of its own.
    */
  private def checkpoint(df: DataFrame, eager: Boolean): DataFrame = {
    val sc = spark.sparkContext
    val key = "spark.checkpoint.checkpointAllMarkedAncestors"
    val prev = sc.getLocalProperty(key)
    sc.setLocalProperty(key, "true")
    val frame = try df.localCheckpoint(eager = false)
      finally sc.setLocalProperty(key, prev)
    owned :+= rdd(frame)
    metrics(rdd(frame).id) =
      df.queryExecution.executedPlan.collectWithSubqueries {
        case p => p.metrics.values }.flatten
    if (eager) rdd(frame).count()
    frame
  }

  /** Make `frame` the newest of `chain`, superseding the chains nested
    * under it.
    */
  private def hold(chain: String, frame: DataFrame): Unit = {
    newest.filterInPlace((c, _) => !c.startsWith(chain + "/"))
    newest(chain) = rdd(frame)
  }

  private def rdd(frame: DataFrame): RDD[_] =
    frame.queryExecution.analyzed.asInstanceOf[LogicalRDD].rdd

  /** Blocking-unpersist every owned frame that `held` neither is nor
    * reaches through its unmaterialized lineage.
    */
  private def release(held: Iterable[RDD[_]]): Unit = {
    val live = scala.collection.mutable.Set.empty[Int]
    def walk(r: RDD[_]): Unit =
      if (live.add(r.id)) r.dependencies.foreach(d => walk(d.rdd))
    held.foreach(walk)
    val (kept, dead) = owned.partition(r => live(r.id))
    dead.foreach { r =>
      r.unpersist(blocking = true)
      metrics -= r.id
    }
    owned = kept
  }

  private def finish(out: DataFrame): DataFrame = {
    release(out.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd })
    out
  }
}

object Loop {
  /** How a loop checkpoints its frames; see [[Loop]]. */
  sealed trait Carry
  case object Eager extends Carry
  case object Lazy extends Carry

  /** The V gate: a loop ships a V-sized state frame (labels, ranks,
    * scores) into its E-sized joins as a broadcast while V is at most
    * this many rows, so the edge set never moves; past it the joins
    * shuffle the state and the edge set stays laid out by the probe
    * key. The state row count is the one [[Loop.rounds]] sizes from.
    */
  val BroadcastStateRows = 1000000L

  /** Run one iterative kernel with AQE off, restoring it afterwards, and
    * release every frame the kernel checkpointed that its output does
    * not read.
    */
  def run(spark: SparkSession, carry: Carry)(body: Loop => DataFrame): DataFrame =
    Checkpoints.withoutAqe(spark) {
      val loop = new Loop(spark, carry)
      loop.finish(body(loop))
    }
}
