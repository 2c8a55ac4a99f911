package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Ckpt
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
    * 100 TB shape: the edge list is shuffled ONCE by src, deduplicated
    * and given its out-degrees inside that partitioning, and
    * localCheckpoint-ed as the (src, dst, deg) spine — it re-enters
    * every round's join with bounded lineage and AQE re-plans each round
    * on real propagated sizes (same discipline as
    * [[Dedup.connectedComponentsWithStats]]). Each round pays ONE
    * exchange: the partial-aggregated contribution groupBy on dst. Its
    * output is hash(id)-partitioned and is the next round's ranks side
    * as is, so the round's join exchanges only the spine, whose write
    * AQE shares across the rounds of one action (OPTIMIZATION_r20.md
    * §1). Per-round state is one (node, rank) row per node, and the only
    * driver scalar is N. Hub nodes (a page every doc links to) produce a
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
    * Returns (id, rank) for every node appearing in any edge; an edge
    * with a null endpoint is dropped and names no node. ID TYPE
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
    // Both paths end in ONE eager checkpoint of the (node, rank)-sized
    // result, then free every working block. Without it the returned
    // lazy chain re-runs all `iters` joins on EVERY caller action, and
    // the working blocks stay pinned for the session (the long-lived-
    // session leak class: a hundred queries of leaked spines eventually
    // evict each other into disk thrash).
    val own = new Ckpt.Owner
    if (integral)
      return own.output(rankRounds(own, edges.select(
        col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst")),
        iters, damping, checkpointEvery))
    // ONE eager materialization of the caller's upstream: dict and the
    // relabel both read the edge list, and without this checkpoint each
    // build job recomputes the whole upstream subtree (measured 2-3
    // recomputes costing more than the 5 rank rounds themselves). No
    // distinct here: the spine set-up in [[rankRounds]] deduplicates
    // inside its one src exchange. ckptSpill = DISK_ONLY when local: a
    // corpus-sized string block in the memory pool squeezed execution
    // memory to zero at ×100 on the 8 GB rig (UNABLE_TO_ACQUIRE_MEMORY
    // in the build aggregation) — on disk it is read twice and competes
    // with nothing. Freed with the other working blocks; the per-ROUND
    // state stays on the compact dense-long spine regardless (SCALE.md
    // §3.5).
    val eStr = own(edges.select(col(srcCol).cast("string").as("src"),
        col(dstCol).cast("string").as("dst"))
      .ckptSpill())
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
    val dict = own(eStr.select(col("src").as("name"))
      .union(eStr.select(col("dst").as("name")))
      .distinct()
      .select(col("name"), monotonically_increasing_id().as("nid"))
      .ckpt(false))
    dict.count() // materializes (freezes) dict before either join reads it
    val e = eStr
      .join(dict.select(col("name").as("src"), col("nid").as("srcId")), "src")
      .join(dict.select(col("name").as("dst"), col("nid").as("dstId")), "dst")
      .select(col("srcId").as("src"), col("dstId").as("dst"))
    val ranks = rankRounds(own, e, iters, damping, checkpointEvery)
    // the output maps back to the CALLER's node ids
    own.output(ranks.join(dict, ranks("id") === dict("nid"))
      .select(col("name").as("id"), col("rank")))
  }

  /** The set-up and rank rounds of [[pageRank]] over a long edge list
    * `edges` (src, dst; duplicates allowed). Returns the LAZY (id, rank)
    * frame; its working checkpoints go to `own`. */
  private def rankRounds(own: Ckpt.Owner, edges: DataFrame, iters: Int,
                         damping: Double, checkpointEvery: Int): DataFrame = {
    // SET-UP FROM ONE EXCHANGE. repartition(src) hash-partitions the
    // edges; hash(src) satisfies both the distinct's (src, dst)
    // clustering and the out-degree window's src clustering, so neither
    // adds an Exchange. REPARTITION_BY_NUM so AQE cannot coalesce the
    // width. NOTE the layout does NOT survive the checkpoint: a
    // checkpoint scan carries no partitioning under AQE, so every
    // round's join re-exchanges the spine (one write per action, shared
    // by AQE's ReusedExchange). LAZY checkpoints: the eager form ran one
    // more driver job per checkpoint. Under AQE,
    // `localCheckpoint(eager = false)` still runs every shuffle map stage
    // of its plan at call time (it builds the final plan to get the
    // RDD); the result stage runs in the next job that reads the blocks.
    // Edges with a null endpoint name no node and are dropped; the filter
    // also makes the spine's src and dst non-nullable, so no round's scan
    // gets an inferred null filter and every round reads the SAME spine
    // exchange (the last round's plan differed by one and wrote its own).
    val parts = math.max(1,
      edges.sparkSession.sessionState.conf.numShufflePartitions)
    val spine = own(edges.where(col("src").isNotNull && col("dst").isNotNull)
      .repartition(parts, col("src"))
      .distinct()
      .withColumn("deg", count(lit(1)).over(Window.partitionBy(col("src"))))
      .ckptSpill(false)) // edge-sized: DISK_ONLY (see Ckpt.spill)
    // every node with its has-in-edge flag, from one aggregate over the
    // spine: n, the initial ranks and the no-in-edge set all read it
    val flags = own(spine.select(explode(array(
        struct(col("src").as("nid"), lit(false).as("in")),
        struct(col("dst").as("nid"), lit(true).as("in")))).as("f"))
      .groupBy(col("f.nid").as("nid")).agg(max(col("f.in")).as("in"))
      .ckpt(false))
    val n = flags.count() // materializes spine + flags; one driver scalar
    // Nodes with NO in-edge get a zero contribution row in every round,
    // INSIDE the aggregate: the round's output then covers every node
    // and stays hash(id)-partitioned, so the next round's join needs no
    // ranks-side exchange (a union after the aggregate forced one). The
    // double is unchanged: (1−d)/N + d·0.0 ≡ (1−d)/N, and nodes with an
    // in-edge get the same summands as before.
    val zeros = flags.filter(!col("in"))
      .select(col("nid").as("id"), lit(0.0).as("c"))
    val prior = flags.select(col("nid").as("id"), lit(1.0 / n).as("rank"))
    Ckpt.rounds(prior, iters) { (ranks, round) =>
      // SHUFFLE_HASH on the node-sized ranks side: SMJ would SORT the
      // edge-sized spine every round after its exchange; the hash join
      // streams the spine unsorted and builds per-partition tables
      // bounded by nodes/parts rows of 16 bytes — spillable,
      // partition-count-scaled (guide §3.1; OPTIMIZATION_r20.md §1).
      val next = spine
        .join(ranks.select(col("id").as("src"), col("rank"))
          .hint("SHUFFLE_HASH"), "src")
        .select(col("dst").as("id"), (col("rank") / col("deg")).as("c"))
        .unionByName(zeros)
        .groupBy(col("id"))
        .agg(sum(col("c")).as("cin"))
        .select(col("id"),
          (lit((1.0 - damping) / n) + lit(damping) * col("cin")).as("rank"))
      // periodic eager checkpoint: deep iteration counts keep lineage
      // and planning time bounded; shallow runs stay one lazy chain
      // into the caller's output checkpoint
      val deep = (round + 1) % checkpointEvery == 0 && round + 1 < iters
      (if (deep) own(next.ckpt()) else next, false)
    }._1
  }
}
