package org.apache.spark.sql

import org.apache.spark.sql.internal.{SortOrder => SortOrderNode}

/** Minimal accessor for `Column`'s internal node (`private[sql]` in
  * Spark 4): unwraps an explicit `.asc`/`.desc` into its child column +
  * direction, so graft's rank machinery can derive a numeric bucketing
  * lead from the FIRST order column of a caller-supplied sort. Columns
  * that are not sort orders pass through as ascending.
  *
  * The third element flags Spark's DEFAULT null placement (asc ⇒ NULLS
  * FIRST, desc ⇒ NULLS LAST) — the only placements the bucket rank's
  * dedicated null bucket reproduces. An explicit `asc_nulls_last` /
  * `desc_nulls_first` returns false so the caller can take a
  * null-ordering-faithful path instead of silently mis-ranking nulls. */
object GraftColumnShim {
  def unwrapSortOrder(c: Column): (Column, Boolean, Boolean) = c.node match {
    case so: SortOrderNode =>
      val asc = so.sortDirection == SortOrderNode.Ascending
      val defaultNulls =
        if (asc) so.nullOrdering == SortOrderNode.NullsFirst
        else so.nullOrdering == SortOrderNode.NullsLast
      (Column(so.child), asc, defaultNulls)
    case _ => (c, true, true)
  }

  /** Column over a native graft expression of one column, built by `f`
    * from that column's expression. Native expressions are constructed
    * here, not through the function registry: their constructor data
    * (PQ codebooks, BPE merge lists, literal targets) has no SQL form,
    * operator code then does not depend on session registration order,
    * and Column↔Expression conversion is `private[sql]`. */
  def nativeColumn(c: Column)(
      f: org.apache.spark.sql.catalyst.expressions.Expression =>
        org.apache.spark.sql.catalyst.expressions.Expression): Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(
      f(org.apache.spark.sql.classic.ExpressionUtils.expression(c)))

  /** Column over the native [[graft.functions.PqCodesExpr]]. */
  def pqCodesColumn(vec: Column, books: Array[Array[Array[Double]]]): Column =
    nativeColumn(vec)(graft.functions.PqCodesExpr(_, books))

  /** Column over the native [[graft.functions.HexVotes16Expr]]. */
  def hexVotes16Column(hex: Column): Column =
    nativeColumn(hex)(graft.functions.HexVotes16Expr(_))

  /** Column over the native [[graft.functions.MinHashSigExpr]]. */
  def minhashSignatureColumn(text: Column, shingleWidth: Int, numHashes: Int): Column =
    nativeColumn(text)(graft.functions.MinHashSigExpr(_, shingleWidth, numHashes))

  /** Column over the native [[graft.functions.BpeMergesExpr]]. */
  def bpeMergesColumn(syms: Column, merges: Array[(String, String)]): Column =
    nativeColumn(syms)(graft.functions.BpeMergesExpr(_, merges))

  /** Release the cached blocks behind a `localCheckpoint()`ed Dataset:
    * its analyzed plan is a `LogicalRDD` over the checkpointed
    * (persisted) RDD, so unpersist that RDD directly —
    * `Dataset.unpersist` only touches `CacheManager` entries and would
    * leave localCheckpoint blocks orphaned. Matches ONLY the plan ROOT
    * (the frame `localCheckpoint()` itself returned): walking the whole
    * plan would also free any still-shared UPSTREAM checkpoint a derived
    * frame happens to reference (e.g. a frame built on the cached q32
    * pairs spine), and localCheckpoint blocks are unrecoverable by
    * design. Callers therefore keep a handle to the checkpointed frame
    * itself, never a projection of it. No-op for other plans;
    * non-blocking.
    *
    * RELIABLE checkpoints (context has a checkpoint dir — see
    * [[graft.core.Ckpt]]) hold no storage blocks, but they hold DFS
    * FILES, which Spark only reaps when
    * `spark.cleaner.referenceTracking.cleanCheckpoints` is set AND the
    * RDD reference is GC'd — a long-running service can accrete
    * corpus-sized checkpoint directories between GCs. Release here is
    * therefore symmetric across modes: the RDD's own `rdd-<id>`
    * checkpoint directory is deleted eagerly when it points inside the
    * context checkpoint dir. Same contract as the block release: the
    * caller is done with the frame — a served read after release was
    * already a bug in local mode (unrecoverable blocks). */
  def unpersistCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(false)
        val sc = df.sparkSession.sparkContext
        for {
          ckptFile <- lr.rdd.getCheckpointFile // None for localCheckpoint
          baseDir <- sc.getCheckpointDir
          ckptPath = new org.apache.hadoop.fs.Path(ckptFile)
          // containment, not string prefix: "/ckpt2/rdd-1" must NOT
          // match base "/ckpt", so compare against base + "/"
          basePath = new org.apache.hadoop.fs.Path(baseDir).toUri.getPath
          if ckptPath.toUri.getPath.startsWith(
            basePath.stripSuffix("/") + "/")
        } {
          try ckptPath.getFileSystem(sc.hadoopConfiguration)
            .delete(ckptPath, true)
          catch { case _: Throwable => () } // best-effort reap
        }
      case _ => ()
    }


  /** True iff every partition block behind a `localCheckpoint()`ed
    * Dataset is still reported by the block manager master. Local
    * checkpoint blocks are unrecoverable BY DESIGN — a lost executor
    * takes its partitions with it, and any consumer then fails with
    * CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND even though recompute is
    * possible. A service that MEMOIZES checkpointed frames must
    * therefore validate liveness at serve time and treat dead blocks as
    * a cache miss. Conservative: plans other than a checkpoint scan
    * return true (nothing to validate).
    *
    * INVARIANT (asserted at memo-insert time via
    * [[checkpointMaterialized]]): validated frames must be EAGERLY
    * checkpointed. A lazy `localCheckpoint(eager = false)` sets the
    * storage level immediately but materializes no blocks until its
    * first action, so this probe would report it dead and a memo would
    * evict-and-recompute it on every serve. */
  def checkpointBlocksLive(df: DataFrame): Boolean =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        val rdd = lr.rdd
        if (rdd.getStorageLevel == org.apache.spark.storage.StorageLevel.NONE) true
        else {
          val ids = (0 until rdd.getNumPartitions)
            .map(p => org.apache.spark.storage.RDDBlockId(rdd.id, p))
            .toArray[org.apache.spark.storage.BlockId]
          val master = org.apache.spark.SparkEnv.get.blockManager.master
          master.getLocations(ids).forall(_.nonEmpty)
        }
      case _ => true
    }

  /** True iff the frame is a checkpoint scan that has ACTUALLY
    * materialized — eagerly checkpointed, i.e. either reliably
    * checkpointed (the RDD is marked checkpointed once files are
    * written) or a local checkpoint with at least one block reported.
    * The memo's insert-time guard: inserting a LAZY checkpoint (no
    * blocks until first action) would make [[checkpointBlocksLive]]
    * evict-and-recompute the entry on every serve — an invariant that
    * was previously implicit in both producers being eager. */
  def checkpointMaterialized(df: DataFrame): Boolean =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        val rdd = lr.rdd
        rdd.isCheckpointed || {
          rdd.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE &&
            rdd.getNumPartitions > 0 && {
              val ids = (0 until rdd.getNumPartitions)
                .map(p => org.apache.spark.storage.RDDBlockId(rdd.id, p))
                .toArray[org.apache.spark.storage.BlockId]
              org.apache.spark.SparkEnv.get.blockManager.master
                .getLocations(ids).exists(_.nonEmpty)
            }
        }
      case _ => false
    }

  /** True iff the streaming query runs under a trigger that free-runs
    * on timer batches: the default `ProcessingTime(0)`. Paced
    * processing-time, AvailableNow, and Once triggers are all bounded.
    * Touches `execution.streaming.runtime` internals
    * (StreamingQueryWrapper / StreamExecution — the public
    * StreamingQuery interface does not expose the trigger), so it lives
    * HERE: this file is the project's one documented
    * version-fragility bargain, and every `org.apache.spark.sql
    * .execution` reference stays inside it. Unknown implementations
    * conservatively return false (bounded). */
  def unpacedTrigger(q: org.apache.spark.sql.streaming.StreamingQuery): Boolean =
    (q match {
      case w: org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper =>
        Option(w.streamingQuery.trigger)
      case se: org.apache.spark.sql.execution.streaming.runtime.StreamExecution =>
        Option(se.trigger)
      case _ => None
    }).exists {
      case pt: org.apache.spark.sql.execution.streaming.ProcessingTimeTrigger =>
        pt.intervalMs <= 0
      case _ => false
    }

  /** In-memory streaming source for the dev-tool ladders
    * (`execution.streaming.runtime.MemoryStream` — a test-scope
    * internal with no public equivalent for driving a paced
    * multi-batch replay). Aliased + constructed here so ladder code
    * carries no `execution` reference of its own. */
  type MemStream[A] =
    org.apache.spark.sql.execution.streaming.runtime.MemoryStream[A]

  def memoryStream[A: Encoder](spark: SparkSession): MemStream[A] =
    org.apache.spark.sql.execution.streaming.runtime.MemoryStream[A](
      implicitly[Encoder[A]], spark.sqlContext)

  /** The long behind a MemoryStream offset, if it is one. */
  def longOffsetValue(
      off: org.apache.spark.sql.connector.read.streaming.Offset): Option[Long] =
    off match {
      case lo: org.apache.spark.sql.execution.streaming.runtime.LongOffset =>
        Some(lo.offset)
      case _ => None
    }

  /** FQCN for `spark.sql.streaming.stateStore.providerClass` — derived
    * from the class object so a Spark-side rename fails at compile time
    * here, not at runtime in a ladder run. */
  val rocksDBStateStoreProviderClass: String =
    classOf[org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider]
      .getName

  /** Drain the async listener bus (`private[spark]`), so a metrics
    * listener's counters are complete before a caller snapshots them —
    * task-end events post asynchronously and can land AFTER the action
    * that produced them returns. Bounded wait; a saturated bus past the
    * timeout shows up as a torn snapshot, not a hang. */
  def drainListenerBus(spark: SparkSession, timeoutMs: Long = 10000L): Unit =
    try spark.sparkContext.listenerBus.waitUntilEmpty(timeoutMs)
    catch { case _: Throwable => () }
}
