package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

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
  *    ([[Checkpoints.withLoopShuffle]]);
  *  - [[carry]] hands each round's frame to [[PlanTrace.round]] under
  *    the loop's tag, checkpoints it, and releases the frames it
  *    supersedes — the seed frame ([[seed]]) included — once it is
  *    materialized.
  *
  * RELEASE IS BLOCKING. A `localCheckpoint` block cannot be recomputed
  * once removed (its lineage is truncated), so an asynchronous removal
  * racing a job that still reads the frame corrupts results silently:
  * the r5 driver run recorded a hash mismatch on exactly the two
  * entries that dropped frames asynchronously mid-loop. Each release is
  * a blocking unpersist ([[Checkpoints.drop]]) that runs only after the
  * superseding frame is materialized, so the release point is a
  * happens-before edge; peak storage is two frames, not `rounds`.
  *
  * EAGER OR LAZY is fixed per loop ([[Loop.Carry]]):
  *  - [[Loop.Eager]]: the checkpoint job is the round's one action.
  *    Right when the round frame has several readers in the next round
  *    (the PageRank fold reads it for the invariant row, the shares and
  *    the union) and nothing else in the round would materialize it.
  *  - [[Loop.Lazy]]: the frame materializes in an action the round runs
  *    anyway ([[settle]], e.g. a normalization sum), or only at the
  *    final write. That saves the serial barrier of one checkpoint job
  *    per round, which measured faster for single-reader frames
  *    (hits, feature_prop; r14 reverted louvain's eager rounds for the
  *    same reason). A lazy frame is never released before the action
  *    that materializes its successor has returned: a loop that never
  *    calls [[settle]] releases nothing.
  *
  * SESSION CONFS. AQE and the shuffle width are session-scoped SQL
  * confs: a concurrent query on the SAME session plans under them
  * while a loop runs (acceptable for this engine's one-query-at-a-time
  * sessions). Both are restored on every exit, an exception included.
  */
final class Loop private (spark: SparkSession, mode: Loop.Carry) {
  // the newest carried frame, and the older frames it supersedes that
  // are released once it is materialized
  private var newest: Option[DataFrame] = None
  private var superseded: List[DataFrame] = Nil

  /** Eagerly checkpoint a frame that lives for the whole loop (an edge
    * view, a degree table the output reads); the loop never releases it.
    */
  def pin(df: DataFrame): DataFrame = df.localCheckpoint(true)

  /** Eagerly checkpoint the round-0 frame; the first carry supersedes it. */
  def seed(df: DataFrame): DataFrame = {
    val frame = df.localCheckpoint(true)
    push(frame)
    frame
  }

  /** Run the rounds at the loop shuffle width ([[Checkpoints.withLoopShuffle]]). */
  def rounds[T](stateRows: Long, edgeRows: Long = 0L)(body: => T): T =
    Checkpoints.withLoopShuffle(spark, stateRows, edgeRows)(body)

  /** Checkpoint one round's frame. An eager carry is materialized here
    * and releases the frames it supersedes; a lazy one waits for [[settle]].
    */
  def carry(tag: String, next: DataFrame): DataFrame = {
    PlanTrace.round(tag, next)
    val frame = next.localCheckpoint(mode == Loop.Eager)
    push(frame)
    if (mode == Loop.Eager) release()
    frame
  }

  /** Run the action that materializes the newest lazy carry, then release
    * the frames it supersedes — or, with `release = false`, leave them to
    * the caller (a final-round frame the output still reads).
    */
  def settle[A](action: => A, release: Boolean = true): A = {
    val result = action
    if (release) this.release() else superseded = Nil
    result
  }

  private def push(frame: DataFrame): Unit = {
    superseded = superseded ++ newest
    newest = Some(frame)
  }

  private def release(): Unit = {
    superseded.foreach(Checkpoints.drop)
    superseded = Nil
  }
}

object Loop {
  /** How a loop checkpoints its carried frames; see [[Loop]]. */
  sealed trait Carry
  case object Eager extends Carry
  case object Lazy extends Carry

  /** Run one iterative kernel with AQE off, restoring it afterwards. */
  def run[T](spark: SparkSession, carry: Carry)(body: Loop => T): T =
    Checkpoints.withoutAqe(spark)(body(new Loop(spark, carry)))
}
