package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.Ckpt.CkptOps

/** Link-graph analytics for corpus curation. Web-scale training-data
  * pipelines weight documents by graph centrality (harmonic/PageRank over
  * the hyperlink graph is the canonical crawl-quality prior); the same
  * primitive ranks entities in any derived relation graph.
  */
object Graph {

  /** PageRank over a directed edge list, fixed iteration count.
    *
    * r_{i+1}(v) = (1-d)/N + d * Σ_{(u,v)∈E} r_i(u) / outdeg(u)
    *
    * This is the "leaky" formulation: mass flowing from dangling nodes
    * (no out-edges) is dropped, not redistributed — symmetrize the edge
    * list first (as the undirected-graph callers do) if every node must
    * keep out-degree ≥ 1. Deterministic: no RNG, fixed `iters`.
    *
    * 100 TB shape: the edge list is deduplicated and joined with its
    * out-degrees ONCE, then localCheckpoint-ed — it re-enters every
    * round's join with bounded lineage and AQE re-plans each round on
    * real propagated sizes (same discipline as
    * [[Dedup.connectedComponentsWithStats]]). Each round is exactly one
    * shuffle join (ranks meet edges on src) plus one partial-aggregated
    * groupBy (contributions meet on dst) — never an all-pairs form, and
    * per-round state is one (node, rank) row per node. The only driver
    * scalar is N (node count — free, counted off the already-checkpointed
    * node blocks). Hub nodes (a page every doc links to) produce a
    * skewed dst groupBy — partial aggregation bounds it at one row per
    * (dst × task).
    *
    * Unlike connected components (unbounded rounds, per-round
    * convergence probe), the iteration count here is FIXED, so rounds
    * chain LAZILY into one job and only checkpoint every
    * `checkpointEvery` rounds — shallow runs (iters < checkpointEvery)
    * execute as a single action with no per-round driver round-trips,
    * while deep runs keep lineage (and optimizer time) bounded.
    *
    * Returns (id, rank) for every node appearing in any edge. ID TYPE
    * CONTRACT: integer-typed endpoint columns take the relabel-free
    * fast path and return `id` as LONG (the caller's ids unchanged);
    * any other type is cast to string and `id` comes back as STRING. */
  def pageRank(edges: DataFrame, srcCol: String = "src",
               dstCol: String = "dst", iters: Int = 5,
               damping: Double = 0.85, checkpointEvery: Int = 7): DataFrame = {
    require(iters >= 0, "iters must be non-negative")
    require(checkpointEvery > 0, "checkpointEvery must be positive")
    // INTEGRAL-ID FAST PATH: when both endpoint columns are already
    // integer-typed, the dense-long relabel below is pure overhead — the
    // ids ARE compact spine keys. Skipping it removes, per run: the
    // dictionary build (a distinct + eager checkpoint job), TWO
    // relabel joins that each shuffle the whole edge list on STRING
    // keys, and the final label-back join — and every remaining shuffle
    // carries 8-byte longs instead of strings (narrower types + removed
    // shuffles; before/after numbers in OPTIMIZATION_r19.md).
    val integral = {
      import org.apache.spark.sql.types._
      def ok(n: String) = edges.schema(n).dataType match {
        case ByteType | ShortType | IntegerType | LongType => true
        case _ => false
      }
      ok(srcCol) && ok(dstCol)
    }
    if (integral) return pageRankLong(edges, srcCol, dstCol, iters,
      damping, checkpointEvery)
    // ONE eager materialization of the caller's upstream: dict and spine
    // both read the deduplicated edge list, and without this checkpoint
    // each build job recomputes the whole upstream subtree (for q84 that
    // is an orders⋈lineitem join — measured 2-3 recomputes costing more
    // than the 5 rank rounds themselves). ckptSpill = DISK_ONLY when
    // local: a corpus-sized string block in the memory pool squeezed
    // execution memory to zero at ×100 on the 8 GB rig
    // (UNABLE_TO_ACQUIRE_MEMORY in the build aggregation) — on disk it
    // is read twice and competes with nothing. Freed with the other
    // working blocks below; the per-ROUND state stays on the compact
    // dense-long spine regardless (SCALE.md §3.5).
    val eStr = edges.select(col(srcCol).cast("string").as("src"),
        col(dstCol).cast("string").as("dst"))
      .distinct()
      .ckptSpill()
    // RELABEL to dense longs before iterating — the standard engine move
    // (GraphX, GraphFrames, every native graph engine run on integer
    // vertex ids). The spine re-enters every round's join and lives in
    // block storage for the whole run; carrying the caller's string ids
    // through it costs ~3-4× the memory of two longs (measured: the ×100
    // ladder rung, 120M symmetrized edges, OOMed the 8 GB rig's
    // aggregates under a ~12 GB deserialized string spine and thrashed
    // at 24 GB; the long spine is ~3.8 GB). monotonically_increasing_id
    // is partition-dependent, so the dictionary is FROZEN by an eager-
    // via-count localCheckpoint before anything reads it — downstream
    // determinism comes from the materialized blocks, and the public
    // output maps back to the caller's ids regardless.
    val dict = eStr.select(col("src").as("name"))
      .union(eStr.select(col("dst").as("name")))
      .distinct()
      .select(col("name"), monotonically_increasing_id().as("nid"))
      .ckpt(false)
    val n = dict.count() // materializes dict; one driver scalar, not data
    val e = eStr
      .join(dict.select(col("name").as("src"), col("nid").as("srcId")), "src")
      .join(dict.select(col("name").as("dst"), col("nid").as("dstId")), "dst")
      .select(col("srcId").as("src"), col("dstId").as("dst"))
    val (ranks, working) = rankRounds(e, dict.select(col("nid")), n,
      iters, damping, checkpointEvery)
    // ONE eager checkpoint of the (node, rank)-sized result, mapped back
    // to the CALLER's node ids, then every working block is freed
    val out = ranks.join(dict, ranks("id") === dict("nid"))
      .select(col("name").as("id"), col("rank"))
      .ckpt()
    (Seq(eStr, dict) ++ working).foreach(
      org.apache.spark.sql.GraftColumnShim.unpersistCheckpoint)
    out
  }

  /** [[pageRank]] for integer-typed endpoint ids — the caller's ids are
    * the spine keys, no relabel. */
  private def pageRankLong(edges: DataFrame, srcCol: String, dstCol: String,
                           iters: Int, damping: Double,
                           checkpointEvery: Int): DataFrame = {
    // LAZY checkpoints: the eager form ran one more driver job per
    // checkpoint. Lazy defers only the RESULT stage to the two actions
    // that already exist (nodes.count here, the output checkpoint
    // below): under AQE, `localCheckpoint(eager = false)` still runs
    // every shuffle map stage of its plan at call time (it builds the
    // final plan to get the RDD), so the shuffles below are paid here.
    // Blocks still bound lineage exactly as before; the unpersists at
    // the end run strictly after materialization.
    // Repartition on src FIRST: hash(src) satisfies the distinct's
    // (src, dst) clustering (same src ⇒ same partition), so the edge
    // list is shuffled ONCE in the materialization job — the r19 shape
    // paid the distinct's own (src, dst) exchange and then re-shuffled
    // the whole edge list through a separate repartition(src) when
    // building the spine (plan diff in plans/r20/). REPARTITION_BY_NUM
    // so AQE cannot coalesce the width. NOTE the layout does NOT
    // survive the checkpoint (see [[rankRounds]]) — this is purely a
    // setup-job saving.
    val parts = math.max(1,
      edges.sparkSession.sessionState.conf.numShufflePartitions)
    val e = edges.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .repartition(parts, col("src"))
      .distinct()
      .ckptSpill(false)
    val nodes = e.select(col("src").as("nid"))
      .union(e.select(col("dst").as("nid")))
      .distinct()
      .ckpt(false)
    val n = nodes.count() // materializes e + nodes; one driver scalar
    val (ranks, working) = rankRounds(e, nodes, n, iters, damping,
      checkpointEvery)
    // ONE eager checkpoint of the (node, rank)-sized result, then free
    // every working block. Without it the returned lazy chain re-runs
    // all `iters` joins on EVERY caller action, and the working blocks
    // stay pinned for the session (the long-lived-session leak class: a
    // hundred queries of leaked spines eventually evict each other into
    // disk thrash).
    val out = ranks.ckpt()
    (Seq(e, nodes) ++ working).foreach(
      org.apache.spark.sql.GraftColumnShim.unpersistCheckpoint)
    out
  }

  /** The rank rounds of [[pageRank]] over a deduplicated long edge list
    * `e` (src, dst), its node frame `nodes` (one column, `nid`) and
    * node count `n`. Returns the LAZY (id, rank) frame and
    * the working checkpoints the caller frees once it has materialized
    * its output.
    *
    * Round shape (r20, from the executed-plan audit in plans/r20/): a
    * checkpoint scan carries NO recognizable partitioning under AQE
    * (eager and lazy alike get an Exchange on a same-key join), so the
    * per-round spine exchange cannot be elided — AQE's ReusedExchange
    * collapses the identical per-round spine exchanges to one write
    * re-read per round, which is the best this structure admits. What
    * each round pays beyond that read: one node-sized ranks exchange,
    * one hash join (SHUFFLE_HASH — no edge-sized sorts), and the
    * partial-aggregated contribution groupBy on dst. */
  private def rankRounds(e: DataFrame, nodes: DataFrame, n: Long,
                         iters: Int, damping: Double,
                         checkpointEvery: Int): (DataFrame, Seq[DataFrame]) = {
    // SHUFFLE_HASH: the build side is the ≤nodes-sized outDeg; SMJ would
    // only add two sorts
    val outDeg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    // (src, dst, deg) long-keyed spine — reused by every round's join
    val spine = e.join(outDeg.hint("SHUFFLE_HASH"), "src")
      .ckpt(false) // result stage runs in the output job's first round;
                   // its shuffle map stages run here (AQE, see pageRankLong)
    // Nodes with NO in-edges take zero contribution in EVERY round (every
    // spine src has rank > 0 and deg ≥ 1, so every node with an in-edge
    // appears in every round's contribution aggregate), so their rank is
    // the constant (1−d)/N after any round — computed ONCE here
    // (node-sized anti join) and unioned into each round's result instead
    // of the per-round nodes ⋈ contribs left join that re-scanned and
    // re-shuffled the node frame every round (guide §2.4; the r20 in-loop
    // plan dump shows the join and its exchanges gone —
    // plans/r20/q84_pagerank_round_{before,after}.txt). The double is
    // unchanged: the old path computed (1−d)/N + d·0.0 and x + d·0.0 ≡ x
    // for x > 0.
    val noInRanks = nodes
      .join(e.select(col("dst").as("nid")).distinct(), Seq("nid"), "left_anti")
      .select(col("nid").as("id"), lit((1.0 - damping) / n).as("rank"))
      .ckpt(false) // node-sized; shuffle stages run here, the rest in the output job
    var ranks = nodes.select(col("nid").as("id"), lit(1.0 / n).as("rank"))
    val intermediates = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    for (round <- 0 until iters) {
      // SHUFFLE_HASH on the node-sized ranks side: SMJ would SORT the
      // edge-sized spine every round after its exchange; the hash join
      // streams the spine unsorted and builds per-partition tables
      // bounded by nodes/parts rows of 16 bytes — spillable,
      // partition-count-scaled (guide §3.1). Same-JVM interleaved A/B,
      // 5 rounds each: leftjoin 3.19 s / union 2.79 / union+SHJ 2.00
      // (OPTIMIZATION_r20.md §1; plans under plans/r20/).
      ranks = spine
        .join(ranks.select(col("id").as("src"), col("rank"))
          .hint("SHUFFLE_HASH"), "src")
        .groupBy(col("dst").as("id"))
        .agg(sum(col("rank") / col("deg")).as("cin"))
        .select(col("id"),
          (lit((1.0 - damping) / n) +
            lit(damping) * col("cin")).as("rank"))
        .unionByName(noInRanks)
      // periodic eager checkpoint: deep iteration counts keep lineage
      // and planning time bounded; shallow runs stay one lazy chain
      // into the caller's output checkpoint
      if ((round + 1) % checkpointEvery == 0 && round + 1 < iters) {
        ranks = ranks.ckpt()
        intermediates += ranks
      }
    }
    (ranks, Seq(spine, noInRanks) ++ intermediates)
  }
}
