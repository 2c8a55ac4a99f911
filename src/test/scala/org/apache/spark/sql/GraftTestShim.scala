package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.LogicalRDD

/** Test-only accessors for `private[spark]` state, used to simulate
  * cluster failure modes inside local-mode specs.
  *
  *   - [[dropCheckpointBlocks]] removes a checkpointed frame's blocks
  *     from the block manager WITHOUT unpersisting the RDD — exactly
  *     the state an executor death leaves behind (storage level still
  *     set, blocks gone), which `rdd.unpersist` cannot reproduce (it
  *     resets the storage level too).
  *   - [[setCheckpointDir]] sets or CLEARS the context checkpoint dir
  *     (the public `SparkContext.setCheckpointDir` cannot clear it), so
  *     a spec can exercise the reliable-checkpoint mode and restore the
  *     shared session for the suites that follow.
  *   - [[drainListeners]] blocks until every posted scheduler event has
  *     reached the listeners; [[jobsDuring]] uses it to count a call's
  *     jobs.
  *   - [[rddIds]] names the RDDs a frame's plan scans, so a spec can
  *     tell the blocks an output reads from blocks a call leaked. */
object GraftTestShim {

  /** Simulate executor loss for a localCheckpoint()ed Dataset: drop its
    * storage blocks from the block manager, keeping the RDD's storage
    * level (and the stale master metadata an executor death would
    * leave). No-op for non-checkpoint plans. */
  def dropCheckpointBlocks(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case lr: LogicalRDD =>
        org.apache.spark.SparkEnv.get.blockManager.master
          .removeRdd(lr.rdd.id, blocking = true)
      case _ => ()
    }

  /** Set (Some) or clear (None) the context's checkpoint directory. */
  def setCheckpointDir(sc: SparkContext, dir: Option[String]): Unit =
    dir match {
      case Some(d) => sc.setCheckpointDir(d)
      case None => sc.checkpointDir = None
    }

  /** Wait until the listener bus has delivered every posted event. */
  def drainListeners(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** Spark jobs started while `f` runs, AQE stage jobs included. */
  def jobsDuring(sc: SparkContext)(f: => Unit): Int = {
    drainListeners(sc)
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try f finally {
      drainListeners(sc)
      sc.removeSparkListener(listener)
    }
    jobs.get
  }

  /** Ids of the RDDs `df`'s plan scans (its checkpoint leaves). */
  def rddIds(df: DataFrame): Set[Int] =
    df.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd.id }.toSet
}
