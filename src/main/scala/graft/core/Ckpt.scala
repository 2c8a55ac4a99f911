package graft.core

import org.apache.spark.sql.DataFrame

/** Central lineage-bounding materialization for the iterative operators
  * (pageRank, connected components, semanticDedup refinement, BPE vocab
  * rounds, GD classifier rounds, the shared pair-spine memo).
  *
  * Mode is picked from the session, not a knob: when the context has a
  * checkpoint directory (`sc.setCheckpointDir(...)` — the standard
  * cluster deployment step for iterative Spark jobs), frames checkpoint
  * RELIABLY to it and survive executor loss; otherwise they
  * `localCheckpoint()` — faster (no DFS write), but the blocks live on
  * the executors that computed them and die with them BY DESIGN. The
  * multi-executor ladder rung measured exactly that failure: one
  * executor heap-OOMed mid-suite and every consumer of its blocks
  * failed with CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND (SCALE.md §5). At
  * 1000 executors, loss is routine — production deployments set the
  * checkpoint dir (and `spark.cleaner.referenceTracking.cleanCheckpoints`
  * to reap finished checkpoints); local[n] development keeps the fast
  * path, where executor loss cannot happen short of JVM death.
  *
  * [[org.apache.spark.sql.GraftColumnShim.unpersistCheckpoint]] stays
  * the matching release call for both modes (reliable-checkpoint scans
  * hold no storage blocks, so it degrades to a no-op); an operator
  * calls it through its [[Owner]]. [[rounds]] is the operators' one
  * round loop. */
object Ckpt {
  def apply(df: DataFrame, eager: Boolean = true): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
      df.checkpoint(eager)
    else df.localCheckpoint(eager)

  /** [[apply]], but a LOCAL checkpoint pins DISK_ONLY instead of
    * MEMORY_AND_DISK. For CORPUS-SIZED transients (e.g. pageRank's
    * deduplicated edge list): a memory-resident block that big evicts
    * its way through the storage pool and squeezes execution memory to
    * zero — the ×100 rung measured exactly that
    * (UNABLE_TO_ACQUIRE_MEMORY in the build aggregation on the 8 GB rig
    * with the default level, clean with DISK_ONLY). Reliable mode
    * already writes files, so the level is moot there. Compact
    * per-entity frames (dict, rank spine, outputs) stay on [[apply]] —
    * they are the blocks that SHOULD live in memory. */
  def spill(df: DataFrame, eager: Boolean = true): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
      df.checkpoint(eager)
    else df.localCheckpoint(eager,
      org.apache.spark.storage.StorageLevel.DISK_ONLY)

  /** The round loop of every iterative operator: from `init`, run
    * `step(state, round)` (rounds count from 0) until it reports
    * convergence (the second half of its result) or `max` rounds have
    * run. Returns (state, rounds run, converged). Control flow only:
    * every action and checkpoint is the step's own. */
  def rounds[S](init: S, max: Int)(step: (S, Int) => (S, Boolean)): (S, Int, Boolean) = {
    var (s, r, converged) = (init, 0, false)
    while (!converged && r < max) {
      val (next, c) = step(s, r)
      s = next; converged = c; r += 1
    }
    (s, r, converged)
  }

  /** The checkpoints one operator call makes, and when each is freed.
    * A LAZY checkpoint's blocks are the only copy of its rows (lineage
    * is truncated), so a frame may be freed only once nothing
    * unmaterialized still reads it:
    *   - [[apply]] takes a frame the call checkpointed;
    *   - [[retire]] marks one as superseded, and the next [[after]]
    *     frees it once its action has materialized the successor;
    *   - on exit, [[output]] eagerly checkpoints the returned frame and
    *     then frees every other frame, and [[close]] frees every frame
    *     but the ones the returned value still reads.
    * The owner itself runs no Spark action beyond [[output]]'s eager
    * checkpoint. */
  final class Owner {
    private var held, retired = Vector.empty[DataFrame]
    def apply(df: DataFrame): DataFrame = { held :+= df; df }
    def retire(df: DataFrame): Unit = { held = held.filterNot(_ eq df); retired :+= df }
    def after[T](action: => T): T = {
      val t = action
      free(retired); retired = Vector.empty
      t
    }
    def output(out: DataFrame): DataFrame = { val o = Ckpt(out); close(); o }
    def close(keep: DataFrame*): Unit = {
      free((retired ++ held).filterNot(f => keep.exists(_ eq f)))
      held = Vector.empty; retired = Vector.empty
    }
    private def free(frames: Seq[DataFrame]): Unit =
      frames.foreach(org.apache.spark.sql.GraftColumnShim.unpersistCheckpoint)
  }

  /** Call-site syntax: `df.ckpt()` / `df.ckpt(eager = false)` /
    * `df.ckptSpill()`. */
  implicit class CkptOps(private val df: DataFrame) extends AnyVal {
    def ckpt(eager: Boolean = true): DataFrame = Ckpt(df, eager)
    def ckptSpill(eager: Boolean = true): DataFrame = Ckpt.spill(df, eager)
  }
}
