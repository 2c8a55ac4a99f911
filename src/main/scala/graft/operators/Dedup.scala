package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Ckpt
import graft.core.Ckpt.CkptOps

/** Deduplication for training-data pipelines. Each flavor is a standalone
  * DataFrame transform designed for the 100 TB shape:
  *
  *   - exact: one hash-groupBy shuffle on a digest, never on raw text;
  *   - MinHash+LSH: shingle → k independent min-hashes → banded bucket
  *     join, so candidate generation is a groupBy on short band keys and
  *     the quadratic verify step only runs inside buckets;
  *   - SimHash: linear-scan fingerprint, near-dups collide in buckets;
  *   - n-gram Jaccard: exact pairwise similarity, but only on LSH/bucket
  *     candidates — never all-pairs.
  *
  * All hashing is md5-based (deterministic, engine-portable) — no RNG, so
  * results are reproducible run-to-run and match the DuckDB oracle.
  */
object Dedup {

  /** Id column prepared for a capped-bucket election
    * ([[graft.functions.FirstKByOrder]] orders by a long): cast to long,
    * RAISING on ids the cast silently nulls out (non-numeric strings,
    * null ids). Without the guard a string-keyed corpus fed through a
    * capped path would corrupt every elected id to null while the
    * uncapped paths — which keep ids opaque — accept it fine; failing
    * loudly mirrors [[crossCorpusNearDups]]' packing guard. */
  private[operators] def electionId(id: Column): Column = {
    // try_cast, not cast: under ANSI a bad cast throws Spark's generic
    // CAST_INVALID_INPUT mid-task, under non-ANSI it silently nulls —
    // try_cast makes both configs land on the one contract error below
    val asLong = id.try_cast("long")
    when(asLong.isNotNull, asLong).otherwise(raise_error(concat(
      lit("capped-bucket election requires a numeric (long-castable) id; got "),
      coalesce(id.cast("string"), lit("null")))))
  }

  /** Exact dedup: canonical (min-id) row per identical text. Returns
    * (id, canonical_id, group_size); a row is a duplicate iff
    * id != canonical_id. Shape: `groupBy(digest).agg(min, count)` + join
    * back on digest — MAP-SIDE partial aggregation reduces even a
    * mass-duplicated digest to one row per task before its exchange, and
    * the join back is a streaming probe (sort-merge/hash, AQE
    * skew-splittable), so no task ever materializes a duplicate GROUP.
    * (The previous window formulation — min/count over
    * `Window.partitionBy(digest)` — saved the second digest scan but
    * pinned a digest's entire group to one window task: a boilerplate
    * page duplicated 10⁸× at 100 TB is one 10⁸-row partition. The second
    * scan recomputes only a projection + md5 — cheap; the exchange still
    * carries a 32-byte digest, never the document.)
    *
    * Null-text rows: `md5(null)` is null, and a plain equi-join would
    * silently DROP those rows (null keys never match) — neither flagged
    * duplicate nor kept. Each instead gets its OWN synthetic digest
    * (`n#<id>` — cannot collide with md5's 32-hex output), so it falls
    * out of the SAME single pass as a singleton group (canonical_id =
    * id, group_size = 1): missing text is missing, not identical
    * content, so a downstream keep-canonical filter never discards a
    * document merely because its text is null. Unique keys also mean no
    * skew funnel — a null-safe join would send every null-text row at
    * 100 TB into one bucket, while a filter-split union (the previous
    * shape) recomputes the whole upstream subtree for the second branch:
    * a pipeline feeding a scored scan here paid the scoring twice.
    *
    * The contract is TOTAL: when the id is ALSO null (`n#<id>` would
    * itself be null and the row would silently vanish from the
    * equi-join — neither flagged nor kept), the row does not enter the
    * join at all. It is a singleton BY CONSTRUCTION — nothing can ever
    * match it — so its (null, null, 1) mapping is emitted as a direct
    * projection unioned under the join output. The row is KEPT, which
    * is the whole contract, and every expression in the plan is
    * DETERMINISTIC: the earlier formulation gave these rows a
    * `r#<monotonic id>` digest and let them ride the self-join, but
    * `monotonically_increasing_id()` is nondeterministic and was
    * evaluated independently on BOTH sides of that join — agreement
    * relied on exchange reuse handing both scans the same splits, a
    * plan shape Spark does not guarantee across versions/AQE decisions.
    * The null/null branch's filter pushes to the scan and prunes to two
    * columns, so its extra pass is a metadata-cheap scan, not a third
    * full read — WHEN `df` is a file scan. For a COMPUTED input the
    * branch is a third evaluation of the upstream subtree (column
    * pruning trims the projection, but upstream filters/joins re-run).
    * Accepted: the branch selects only rows where id AND text are both
    * null — a degenerate population — and the alternative (a
    * row-unique synthetic digest riding the self-join) is exactly the
    * nondeterminism this formulation removed; callers feeding an
    * expensive computed pipeline should checkpoint it first. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val d = df.select(col(idCol).as("id"),
      coalesce(md5(col(textCol)),
        concat(lit("n#"), col(idCol).cast("string"))).as("digest"))
    val keyed = d.filter(col("digest").isNotNull)
    val g = keyed.groupBy(col("digest"))
      .agg(min(col("id")).as("canonical_id"), count(lit(1)).as("group_size"))
      .withColumnRenamed("digest", "__gdigest")
    val joined = keyed.join(g, col("digest") === col("__gdigest"))
      .select(col("id"), col("canonical_id"), col("group_size"))
    // digest is null ⇔ text AND id are both null — filter on THAT
    // conjunction directly (Catalyst does not rewrite
    // IsNull(coalesce(md5(..), ..)) into it, so filtering on the digest
    // would re-run md5 over every row just to select this branch; the
    // raw null tests push to the scan). `id` is null here, so reusing
    // it as canonical_id keeps the column's type without a cast
    val nullSingletons = df
      .filter(col(idCol).isNull && col(textCol).isNull)
      .select(col(idCol).as("id"), col(idCol).as("canonical_id"),
        lit(1L).as("group_size"))
    joined.unionByName(nullSingletons)
  }

  /** Canonical (min-id) row per identical text, in ONE scan and ONE
    * shuffle. Unlike [[exact]] — which returns every row's group mapping
    * and therefore joins the digested input against itself (two scans of
    * the source) — this keeps only the surviving canonical rows, the
    * common shape for a dedup stage inside a corpus pipeline. Map-side
    * partial `min_by` reduces each partition to one candidate row per
    * digest BEFORE the shuffle, so at 100 TB the exchange carries a
    * 32-byte digest + one payload struct per distinct document, not the
    * corpus. Returns (id, payloadCols..., group_size).
    *
    * Null-text rows survive as SINGLETONS (same contract as [[exact]],
    * same mechanism): each gets a unique `n#<id>` synthetic digest, so
    * it rides the one groupBy as its own group — grouping them under
    * the null digest would silently drop all but one missing-text
    * document (and skew one reducer), while a filter-split union (the
    * previous shape) recomputed the whole upstream subtree for the
    * null branch — a pipeline feeding a scored scan paid its regex
    * battery TWICE per row.
    *
    * The contract is TOTAL here too (same as [[exact]]): a null-id
    * null-text row gets a row-unique `r#<monotonic id>` digest instead
    * of a null one — a null digest would fold EVERY such row into one
    * group and min_by would silently discard all but one. Unlike
    * [[exact]]'s old join formulation, the nondeterministic id is SAFE
    * here: this is a single scan feeding one groupBy — no join, no
    * second evaluation to disagree with — so each row's digest is
    * evaluated exactly once, and any value works as long as it is
    * row-unique (`r#` cannot collide with md5's 32-hex output or
    * `n#`). */
  def exactCanonical(df: DataFrame, idCol: String, textCol: String,
                     payloadCols: Seq[String]): DataFrame = {
    val row = struct((col(idCol).as("id") +: payloadCols.map(col)): _*)
    val d = df.select(
      coalesce(md5(col(textCol)),
        concat(lit("n#"), col(idCol).cast("string")),
        concat(lit("r#"), monotonically_increasing_id().cast("string"))
      ).as("digest"),
      col(idCol).as("id"), row.as("row"))
    d.groupBy(col("digest"))
      // election key struct(id IS NULL, id), not bare id: min_by SKIPS
      // rows whose ordering key is null, so an all-null-id group would
      // elect a NULL row (payload silently lost). The struct is never
      // null, non-null ids still win (false < true), and among null ids
      // the pick is arbitrary — same as any other exact tie
      .agg(min_by(col("row"),
          struct(col("id").isNull.as("n"), col("id").as("v"))).as("row"),
        count(lit(1)).as("group_size"))
      .select(col("row.*"), col("group_size"))
  }

  /** Per-row shingle ARRAY — the unit for MinHash and Jaccard: all
    * overlapping w-token windows (tokens joined with one space) of the
    * maximal runs of non-whitespace ([[TextAnalysis.asciiWs]]), in text
    * order and with duplicates kept (harmless for min-hash). One native
    * expression over the text's bytes
    * ([[graft.functions.ShingleArrayExpr]]): no regex, no explode, no
    * shuffle. Empty below w tokens, null on a null text; `w` must be at
    * least 1 (analysis error otherwise). */
  def shingleArray(textCol: Column, w: Int): Column =
    org.apache.spark.sql.GraftColumnShim.nativeColumn(textCol)(
      graft.functions.ShingleArrayExpr(_, w))

  /** MinHash signature: h_i = min over shingles of a DISJOINT 8-hex
    * (32-bit) window of a salted digest — digest d_j = md5(j + "#" +
    * shingle) carries families 4j..4j+3 at hex offsets 0/8/16/24, so
    * every family reads an independent 32-bit hash. (Round 2 used
    * OVERLAPPING 16-hex windows of one digest — stride-1 neighbors share
    * 15 of 16 chars, so the per-shingle argmin was usually the same
    * shingle across adjacent families: far fewer effective independent
    * hashes than numHashes, degrading LSH recall, and the downstream
    * exact-Jaccard verify can only kill false positives, never recover
    * misses.) Needs no RNG and is identical in any engine with md5.
    * Shingles are [[shingleArray]]'s w-token windows; documents with
    * fewer than w tokens have no signature and are dropped.
    *
    * Shape: one native per-row expression,
    * [[graft.functions.MinHashSigExpr]], computes a document's k minima
    * in one pass over its bytes (⌈k/4⌉ md5 per shingle occurrence, no
    * per-shingle String, hex string or row), and an aggregate takes
    * the min of each h_i per id over one row per document, so rows
    * that share an id merge; its exchange carries k 8-char keys per id
    * per partition. Short documents are filtered AFTER the aggregate
    * (all their h_i are null): a filter on the signature column below
    * it could be pushed through the projection and run the expression
    * twice. */
  def minhashSignature(df: DataFrame, idCol: String, textCol: String,
                       shingleWidth: Int, numHashes: Int): DataFrame = {
    require(shingleWidth >= 1 && numHashes >= 1,
      s"shingleWidth and numHashes must be >= 1, got $shingleWidth and $numHashes")
    val sig = df.select(col(idCol).as("id"),
      org.apache.spark.sql.GraftColumnShim
        .minhashSignatureColumn(col(textCol), shingleWidth, numHashes).as("sig"))
    val aggs = (0 until numHashes).map(i => min(col("sig").getItem(i)).as(s"h$i"))
    sig.groupBy(col("id")).agg(aggs.head, aggs.tail: _*)
      .filter(col("h0").isNotNull)
  }

  /** LSH banding: split the signature into `bands` bands of `rowsPerBand`
    * hashes; band key = joined hashes. Docs sharing any band key are
    * candidates. Returns (band, key, id).
    *
    * ONE posexplode pass — a union of per-band projections would plant
    * `bands` copies of the (expensive) signature aggregation in the plan;
    * ReuseExchange dedups the shuffle but each copy still re-runs the
    * final aggregate. */
  def lshBands(sig: DataFrame, bands: Int, rowsPerBand: Int): DataFrame =
    sig.select(col("id"),
        posexplode(bandKeys(i => col(s"h$i"), bands, rowsPerBand)).as(Seq("band", "key")))
      .select(col("band"), col("key"), col("id"))

  /** The `bands` LSH band keys of one signature, as an array column:
    * key b joins hashes `h(b·rowsPerBand)` … `h(b·rowsPerBand +
    * rowsPerBand − 1)` with "|". `h(i)` is the i-th MinHash value —
    * [[lshBands]] reads the aggregated `h$i` columns, the streaming
    * twins read the per-row signature array. */
  private[graft] def bandKeys(h: Int => Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { b =>
      concat_ws("|", (0 until rowsPerBand).map(r => h(b * rowsPerBand + r)): _*)
    }: _*)

  /** Candidate pairs (a < b) sharing at least one LSH band bucket. The
    * self-join happens per (band, key) bucket — skew-safe as long as
    * bucket sizes stay small (r large enough).
    *
    * `maxBucketSize` guards the adversarial case: a crawl with 10M copies
    * of one page puts 10M ids in one band bucket, and the within-bucket
    * self-join goes quadratic. With a cap, only the `cap` smallest ids of
    * an oversized bucket generate pairs — selected by the bounded
    * [[graft.functions.FirstKByOrder]] aggregate, NOT a
    * bucket-partitioned row_number window: the aggregate's map-side
    * partials reduce even a 10⁸-id bucket to ≤ cap ids per task before
    * its exchange, so the cap MECHANISM is itself hot-bucket-safe (the
    * window form pinned the whole bucket to one sort task just to rank
    * it). Deterministic: id order is total within a bucket. Mass
    * duplicates still dedup: the surviving ids pair with each other, and
    * byte-identical copies belong to [[exact]] anyway. */
  def lshCandidates(bandDf: DataFrame, maxBucketSize: Option[Int] = None): DataFrame = {
    val capped = maxBucketSize match {
      case Some(cap) =>
        require(cap >= 2, s"maxBucketSize=$cap: need at least 2 ids to form a pair")
        val firstK = udaf(new graft.functions.FirstKByOrder(cap))
        bandDf.groupBy(col("band"), col("key"))
          .agg(firstK(electionId(col("id")), lit(0.0)).as("__fk"))
          .select(col("band"), col("key"),
            explode(col("__fk.items.ord")).as("id"))
      case None => bandDf
    }
    // Join strategy MEASURED and left to the planner (r20): forcing
    // SHUFFLE_HASH so both sides share one Exchange(band, key) — vs the
    // planner's broadcast of the capped frame — is a statistical TIE in
    // a same-JVM interleaved A/B (bcast 2.645 s / shj 2.690 s median of
    // 7 on the full q32 spine, OPTIMIZATION_r20.md §3); the broadcast
    // side's apparent pipeline duplication is mostly healed by
    // ReuseExchange on the signature and election exchanges already, and
    // at scale the size estimates rule out the broadcast on their own.
    // Pinned here so the hint isn't re-tried blindly.
    val l = capped.as("l"); val r = capped.as("r")
    l.join(r, col("l.band") === col("r.band") && col("l.key") === col("r.key") &&
        col("l.id") < col("r.id"))
      .select(col("l.id").as("a"), col("r.id").as("b")).distinct()
  }

  /** Exact Jaccard of the w-shingle SETS of each candidate pair (a, b):
    * |S(a) ∩ S(b)| / |S(a) ∪ S(b)|, where S is the distinct
    * [[shingleArray]] windows of a document's text. Returns
    * (a, b, jaccard) for the pairs that share at least one shingle.
    *
    * Each pair is verified in its own row: the candidates join `docs`
    * once per side on the id (two joins, no shingle rows, no
    * aggregate), and one projection builds both sets and measures their
    * intersection. The pair leaves through a zero-or-one-row generator
    * rather than a Filter: an inner join absorbs a Filter above it into
    * its condition, where every reference to the sets is evaluated
    * again with no common-subexpression elimination (a 5k-pair hub of
    * 200-token docs on a 4-core host: 2.2 s through the generator, 9.2 s
    * through a Filter). A threshold filter on `jaccard` stays above it.
    *
    * The work is per pair: a document in k pairs is shingled k times.
    * With the native [[shingleArray]] that still beats a per-document
    * exploded shingle pass on a dense candidate graph (500 docs, w = 1,
    * uncapped, threshold 0.2, 78,558 pairs: 2.2–2.9 s against 4.8–6.6 s
    * in one JVM on a 4-core host; 6.2–8.3 s with the regex shingles it
    * replaced), and capped banding keeps pairs per document few anyway.
    *
    * `idCol` must be a key of `docs`. If two rows share an id, each row
    * is verified against its own text, so the pair comes out once per
    * matching row combination. */
  def jaccard(candidates: DataFrame, docs: DataFrame, idCol: String,
              textCol: String, shingleWidth: Int): DataFrame = {
    def side(c: String) = docs.select(col(idCol).as(c), col(textCol).as(s"__t$c"))
    def set(c: String) = array_distinct(shingleArray(col(s"__t$c"), shingleWidth))
    val (i, n) = (col("__i"), col("__n"))
    candidates.join(side("a"), "a").join(side("b"), "b")
      .select(col("a"), col("b"), set("a").as("__sa"), set("b").as("__sb"))
      .select(col("a"), col("b"),
        size(array_intersect(col("__sa"), col("__sb"))).as("__i"),
        (size(col("__sa")) + size(col("__sb"))).as("__n"))
      .select(col("a"), col("b"), explode(when(i > 0,
        array(i.cast("double") / (n - i).cast("double")))).as("jaccard"))
  }

  /** Full MinHash-LSH near-dup pipeline → (a, b, jaccard) pairs above
    * threshold, verified exactly. Signatures and bands are map-side; the
    * only shuffles are the band-bucket join (short keys) and whatever
    * the two id joins of the per-pair [[jaccard]] verify need (the
    * candidate pairs are small, so the planner usually broadcasts one
    * side). The candidate frame has one consumer, the verify, so the
    * whole call is one lazy plan with no intermediate checkpoint.
    * `idCol` must be a key of `df` (see [[jaccard]]).
    *
    * `materialize = true` localCheckpoints the (small — pairs, not
    * corpus) result so several consumers — the pair report, connected
    * components, canonical-survivor selection — share ONE run of the
    * expensive minhash spine instead of re-deriving it each. Any
    * pipeline that both lists near-dups and clusters them wants this. */
  def minhashNearDups(df: DataFrame, idCol: String, textCol: String,
                      shingleWidth: Int = 3, numHashes: Int = 12,
                      bands: Int = 4, threshold: Double = 0.7,
                      maxBucketSize: Option[Int] = None,
                      materialize: Boolean = false): DataFrame = {
    val sig = minhashSignature(df, idCol, textCol, shingleWidth, numHashes)
    val cand = lshCandidates(lshBands(sig, bands, numHashes / bands), maxBucketSize)
    val pairs = jaccard(cand, df, idCol, textCol, shingleWidth)
      .filter(col("jaccard") >= threshold)
    if (materialize) pairs.ckpt() else pairs
  }

  /** Near-dup pairs ACROSS two corpora only — the incremental-crawl
    * ("which new docs duplicate the existing corpus?") and train-eval
    * overlap shape. Runs ONE shared minhash/banding spine over the
    * union and keeps only cross-side candidate pairs, so the cost is
    * one [[minhashNearDups]] pass, never |A|·|B|. Ids are packed as
    * 2·id + side (requires non-negative ids < 2^62): packing is
    * monotone per side and order-preserving overall, so banding caps —
    * which select within a bucket by id order — behave exactly as over
    * the raw ids, and a pair's orientation (smaller id first) survives.
    * The bound is ENFORCED per row (a codegen'd map-side check, no extra
    * job): a null/non-numeric id or one ≥ 2^62 raises rather than
    * silently packing to null or overflowing into wrong pairs.
    * Returns (a_id from `a`, b_id from `b`, jaccard ≥ threshold). */
  def crossCorpusNearDups(a: DataFrame, b: DataFrame, idCol: String,
                          textCol: String, shingleWidth: Int = 3,
                          numHashes: Int = 12, bands: Int = 4,
                          threshold: Double = 0.7,
                          maxBucketSize: Option[Int] = None): DataFrame = {
    def packed(df: DataFrame, side: Int): DataFrame = {
      val id = col(idCol).cast("long")
      df.select(
        when(id.isNotNull && id >= 0 && id < (1L << 62), id * 2 + side)
          .otherwise(raise_error(concat(
            lit("crossCorpusNearDups: id must be a non-negative integer" +
              " < 2^62 (2*id+side packing); got "),
            coalesce(col(idCol).cast("string"), lit("null"))))).as("__xid"),
        col(textCol).as("__xtext"))
    }
    val ta = packed(a, 0)
    val tb = packed(b, 1)
    val pairs = minhashNearDups(ta.unionByName(tb), "__xid", "__xtext",
      shingleWidth, numHashes, bands, threshold, maxBucketSize)
    pairs.filter(pmod(col("a"), lit(2)) =!= pmod(col("b"), lit(2)))
      .select(
        shiftright(when(pmod(col("a"), lit(2)) === 0, col("a"))
          .otherwise(col("b")), 1).as("a_id"),
        shiftright(when(pmod(col("a"), lit(2)) === 0, col("b"))
          .otherwise(col("a")), 1).as("b_id"),
        col("jaccard"))
  }

  /** Connected components over an undirected edge list — the consolidation
    * step that turns near-dup PAIRS into dedup CLUSTERS (each node gets
    * the minimum id reachable from it; keep one doc per label). Hash-min
    * label propagation: each round propagates labels across edges (one
    * shuffle join) and keeps the per-node min (one partial-aggregated
    * groupBy), then POINTER-JUMPS — every node also adopts its label's
    * own label, composing the label map with itself, so chains collapse
    * at 2^round speed: O(log diameter) rounds even for pathological
    * long-chain components (version-drift dup runs), not O(diameter).
    * Each round is localCheckpoint-ed: lineage stays bounded — the plan
    * never grows with iteration count — and each round's join is
    * re-planned by AQE on the REAL propagated sizes. Only nodes that
    * appear in some edge are returned; an edge with a null endpoint is
    * dropped and names no node (the [[Graph.pageRank]] contract). The
    * returned labels read the final round's checkpoint, which the call
    * has materialized; every other block it made is freed. */
  def connectedComponents(edges: DataFrame, aCol: String = "a",
                          bCol: String = "b", maxRounds: Int = 25): DataFrame =
    connectedComponentsWithStats(edges, aCol, bCol, maxRounds)._1

  /** [[connectedComponents]] plus its convergence record: (labels, rounds
    * actually run, converged). The round count is the load-independent
    * scale invariant: pointer jumping collapses any component in
    * O(log diameter) rounds, so a regression to plain hash-min surfaces
    * as maxRounds-without-convergence — a structural signal no
    * wall-clock bound can give on a contended host. */
  def connectedComponentsWithStats(edges: DataFrame, aCol: String = "a",
                                   bCol: String = "b",
                                   maxRounds: Int = 25): (DataFrame, Int, Boolean) = {
    val own = new Ckpt.Owner
    val (last, rounds, converged) = components(own, edges, aCol, bCol, maxRounds)
    own.close(last)
    (last.select(col("id"), col("label")), rounds, converged)
  }

  /** The rounds of [[connectedComponentsWithStats]], with `own` holding
    * its checkpoints. Returns the final round's checkpoint itself (id,
    * label, prev), materialized by the round's convergence count: a
    * caller frees it through `own` once its output no longer reads it. */
  private[operators] def components(own: Ckpt.Owner, edges: DataFrame,
                                    aCol: String, bCol: String,
                                    maxRounds: Int): (DataFrame, Int, Boolean) = {
    // maxRounds == 0 would skip the loop and return labels whose lazy
    // checkpoint no action ever materialized (r19 ADVICE)
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    // materialize the symmetrized edge list ONCE: it re-enters every
    // round's join, and without the checkpoint each round would re-run
    // the whole upstream pipeline that produced the pairs (measured 3×
    // the total cost on the minhash path). Deliberately NOT
    // pre-partitioned on the round join key: an r19 A/B measured the
    // fixed-width spine serializing the (tiny, AQE-coalesced) local
    // rounds into fixed-width task storms (q65 0.37 → 0.55 s, q99
    // +9%) — the per-round exchanges stay ENSURE_REQUIREMENTS so AQE
    // sizes them to the real propagated volumes at every scale.
    // LAZY (r19): the result stage runs inside round 1's
    // convergence-count job together with the initial labels — the
    // eager form paid two extra driver jobs per call before any round
    // ran. Under AQE a lazy checkpoint still runs its shuffle map stages
    // (the initial labels' groupBy exchange) at call time: only the
    // result stage is deferred. Edges with a null endpoint are dropped
    // before it.
    val e = edges.select(col(aCol).cast("long").as("src"), col(bCol).cast("long").as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
    val sym = own(e.union(e.select(col("dst").as("src"), col("src").as("dst")))
      .ckpt(false))
    // each round's state is the checkpointed frame itself (plan root =
    // LogicalRDD) — unpersistCheckpoint frees only root checkpoints
    val init = own(sym.groupBy(col("src")).agg(min(col("dst")).as("nmin"))
      .select(col("src").as("id"), least(col("src"), col("nmin")).as("label"))
      .ckpt(false))
    Ckpt.rounds(init, maxRounds) { (labelsCkpt, _) =>
      val labels = labelsCkpt.select(col("id"), col("label"))
      val prop = sym.join(labels.select(col("id").as("dst"), col("label")), "dst")
        .groupBy(col("src")).agg(min(col("label")).as("nlabel"))
      val neigh = labels.join(prop.select(col("src").as("id"), col("nlabel")), Seq("id"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("nlabel"), col("label"))).as("nl"),
          col("label").as("prev"))
      // LAZY checkpoint + convergence count in ONE job: the count action
      // below is what materializes the checkpoint blocks, so each round
      // costs a single job (an eager checkpoint followed by a separate
      // isEmpty scan was two)
      val next = own(neigh.join(
          labels.select(col("id").as("jid"), col("label").as("jlabel")),
          neigh("nl") === col("jid"), "left")
        .select(neigh("id"),
          least(col("nl"), coalesce(col("jlabel"), col("nl"))).as("label"),
          col("prev"))
        .ckpt(false))
      // the count materializes `next`: the previous round's label blocks
      // are superseded and freed instead of pinned for the session
      own.retire(labelsCkpt)
      (next, own.after(next.filter(col("label") < col("prev")).count() == 0))
    }
  }

  /** Content-defined chunking (CDC) dedup report: split each doc into
    * variable-length chunks at CONTENT-DEFINED boundaries — a token
    * whose md5 starts with one of `boundaryHexFirst` hex chars ends its
    * chunk (probability h/16 per token → mean chunk ≈ 16/h tokens) —
    * and report, per doc, how many of its chunks appear verbatim in
    * OTHER documents. This is the storage-dedup/FastCDC idea applied at
    * token level: unlike [[segmentDedup]]'s fixed stride, a one-token
    * insertion shifts only the chunk it lands in (boundaries re-anchor
    * on content), so shared passages still align across edited copies.
    *
    * 100 TB shape: the boundary flag is a pure token function; the chunk
    * id is an exclusive prefix count over a per-DOC window (bounded by
    * DOCUMENT length — never a corpus-keyed
    * partition); chunk reassembly is a per-(doc, chunk) aggregate
    * bounded by chunk length; corpus-wide frequency groups md5 digests
    * (map-side partials); the dup bit joins back on the digest,
    * AQE-splittable. Returns one row per doc:
    * (id, n_chunks, n_dup_chunks, dup_ratio) — empty docs 0/0/0.0. */
  def cdcChunkDedup(docs: DataFrame, idCol: String, textCol: String,
                    boundaryHexFirst: Int = 1): DataFrame = {
    val chunks = cdcChunkDigests(docs, idCol, textCol, boundaryHexFirst)
    val freq = chunks.groupBy(col("dig").as("fdig"))
      .agg(countDistinct(col("id")).as("nd"))
    val per = chunks.join(freq, col("dig") === col("fdig"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("nd") > 1, 1L).otherwise(0L)).as("n_dup_chunks"))
    docs.select(col(idCol).as("id"))
      .join(per, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
        coalesce(col("n_dup_chunks"), lit(0L)).as("n_dup_chunks"),
        when(coalesce(col("n_chunks"), lit(0L)) === 0, lit(0.0))
          .otherwise(round(col("n_dup_chunks").cast("double") /
            col("n_chunks").cast("double") + lit(1e-9), 4) + lit(0.0))
          .as("dup_ratio"))
  }

  /** The chunk stage of [[cdcChunkDedup]], exposed for pipelines (and
    * the streaming twin's parity harness) that consume the chunk
    * digests directly: one row per (doc, chunk) with the chunk's md5.
    * Boundary flag = pure token function; chunk id = exclusive prefix
    * count over a per-DOC window (bounded by document length). */
  def cdcChunkDigests(docs: DataFrame, idCol: String, textCol: String,
                      boundaryHexFirst: Int = 1): DataFrame = {
    require(boundaryHexFirst >= 1 && boundaryHexFirst <= 15,
      s"boundaryHexFirst must be in [1,15], got $boundaryHexFirst")
    val boundaryChars = "0123456789abcdef".take(boundaryHexFirst).map(_.toString)
    val toks = docs.select(col(idCol).as("id"),
      posexplode(TextAnalysis.tokens(col(textCol))).as(Seq("pos", "tok")))
    val bnd = when(substring(md5(col("tok")), 1, 1).isin(boundaryChars: _*), 1L)
      .otherwise(0L)
    val win = Window.partitionBy(col("id")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, -1)
    toks.withColumn("chunk", coalesce(sum(bnd).over(win), lit(0L)))
      .groupBy(col("id"), col("chunk"))
      .agg(md5(array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
          s => s.getField("tok")), " ")).as("dig"))
  }

  /** Cluster-aware canonical-survivor selection: consolidate near-dup
    * PAIRS into clusters ([[connectedComponents]]) and keep the BEST
    * row of each cluster by (score desc, id asc) — the production dedup
    * policy ("keep the longest / highest-quality copy"), where
    * [[exact]]'s min-id canonical is only the byte-identical special
    * case. Docs in no pair are their own single-row cluster and always
    * survive.
    *
    * 100 TB shape: clustering inherits the pointer-jumped O(log
    * diameter) rounds; the labeling is one left join of the corpus
    * against the (pairs-sized) label set; survivor election is a
    * partial-aggregated `min_by` over (cluster) — one row per (cluster
    * × task) crosses the exchange, so a 10⁸-row dup cluster never
    * gathers anywhere; the keep bit joins back on the cluster id,
    * AQE-splittable. No windows.
    *
    * Returns one row per input doc: (id, cluster, score, keep). */
  def canonicalByScore(df: DataFrame, idCol: String, scoreCol: Column,
                       pairs: DataFrame, aCol: String = "a",
                       bCol: String = "b"): DataFrame = {
    val labels = connectedComponents(pairs, aCol, bCol)
      .withColumnRenamed("id", "__lid")
    val labeled = df.select(col(idCol).cast("long").as("id"), scoreCol.as("score"))
      .join(labels, col("id") === col("__lid"), "left")
      .select(col("id"), coalesce(col("label"), col("id")).as("cluster"),
        col("score"))
    // min_by over struct(-score, id): lexicographic struct order makes
    // the minimum the (max score, then min id) row — one hash-aggregate
    // with map-side partials, never a window over the cluster. A null
    // score must LOSE to every real score (null sorts smallest in struct
    // order, so un-coalesced it would WIN the election): coalesce to
    // -Inf, which negates to +Inf and sorts last; an all-null cluster
    // degrades to min-id survivor.
    val best = labeled.groupBy(col("cluster").as("__bc"))
      .agg(min_by(col("id"), struct(
        negate(coalesce(col("score").cast("double"),
          lit(Double.NegativeInfinity))), col("id")))
        .as("__survivor"))
    labeled.join(best, col("cluster") === col("__bc"))
      .select(col("id"), col("cluster"), col("score"),
        (col("id") === col("__survivor")).as("keep"))
  }

  /** Benchmark-contamination check: for each EVAL document, the fraction
    * of its distinct word w-shingles that appear anywhere in the TRAIN
    * corpus. The eval set (benchmarks are small by definition) is
    * broadcast, so the train side is ONE map-side scan — explode, hash
    * join against the broadcast shingle set, partial-aggregated match
    * counts; the 100 TB corpus never shuffles. Returns
    * (id, matched, total, contamination ∈ [0,1]) per eval doc; eval docs
    * shorter than one shingle report 0/0 → contamination 0. */
  def contamination(train: DataFrame, eval: DataFrame, idCol: String,
                    textCol: String, w: Int): DataFrame = {
    val evalSh = shingleSet(eval, idCol, textCol, w)
    val totals = evalSh.groupBy(col("id")).agg(count(lit(1)).as("total"))
    val hits = train.select(explode(shingleArray(col(textCol), w)).as("shingle"))
      .join(broadcast(evalSh), "shingle")
      .groupBy(col("id")).agg(countDistinct(col("shingle")).as("matched"))
    eval.select(col(idCol).as("id"))
      .join(totals, Seq("id"), "left")
      .join(hits, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("matched"), lit(0L)).as("matched"),
        coalesce(col("total"), lit(0L)).as("total"),
        when(coalesce(col("total"), lit(0L)) === 0, lit(0.0))
          .otherwise(coalesce(col("matched"), lit(0L)).cast("double") /
            col("total").cast("double")).as("contamination"))
  }

  /** The distinct (id, shingle) pairs of a frame's w-shingles — the eval
    * side of [[contamination]] and of its streaming twin. */
  private[graft] def shingleSet(df: DataFrame, idCol: String, textCol: String,
                                w: Int): DataFrame =
    df.select(col(idCol).as("id"),
      explode(shingleArray(col(textCol), w)).as("shingle")).distinct()

  /** 16-bit SimHash over whitespace tokens: bit i is set when the majority
    * of token digests have hex digit i in [8..f]. Same-fingerprint docs are
    * near-dup candidates. Linear scan + one groupBy. */
  def simhash16(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // ONE native vote-mask expression per token (bit i of `m` = "hex
    // char i of md5 is in [8-f]") instead of 16 substring+isin subtrees
    // per row; each per-bit sum then reads its vote with two bit-ops.
    // Vote identity with the old form is pinned in ExpressionSpec;
    // before/after in OPTIMIZATION_r20.md (§4 expression work). The vote
    // mask assumes non-null tokens: a null `m` would be skipped by sum().
    val toks = df.select(col(idCol).as("id"),
        explode(TextAnalysis.tokens(col(textCol))).as("tok"))
      .withColumn("m", org.apache.spark.sql.GraftColumnShim
        .hexVotes16Column(md5(col("tok"))))
    val bitSums = (0 until 16).map { i =>
      sum(shiftright(col("m"), i).bitwiseAND(lit(1)) * 2 - 1).as(s"s$i")
    }
    val agg = toks.groupBy(col("id")).agg(bitSums.head, bitSums.tail: _*)
    val fp = (0 until 16).map(i =>
      when(col(s"s$i") > 0, lit(1L << i)).otherwise(lit(0L))).reduce(_ + _)
    agg.select(col("id"), fp.as("simhash"))
  }

  /** 64-bit SimHash fingerprint — the SCALE-PATH twin of [[simhash16]].
    * Same majority-vote construction, but each bit comes from the native
    * codegen'd `xxhash64` of the token instead of an md5 hex digit, so
    * the fingerprint carries 64 bits of entropy. Why it exists: with a
    * 16-bit fingerprint, pigeonhole banding at maxHamming = 2 gives
    * segments of ~5 bits — at most ~64 distinct keys per band — so the
    * candidate-pair volume is Θ(N²/64) for ANY corpus, closed or open
    * vocab (the x10 scale ladder measures exactly this). At 64 bits the
    * segments carry ~21 bits (~2M keys), and bucket occupancy — hence
    * candidate volume — collapses to near-linear at web-corpus
    * fingerprint entropy. Kept separate from [[simhash16]] because the
    * 16-bit construction is oracle-pinned (DuckDB reproduces the md5
    * hex-digit votes bit-for-bit in q33/q105's SQL). */
  def simhash64(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(idCol).as("id"),
        explode(TextAnalysis.tokens(col(textCol))).as("tok"))
      .withColumn("h", xxhash64(col("tok")))
    val bitSums = (0 until 64).map { i =>
      sum(shiftright(col("h"), i).bitwiseAND(lit(1L)) * 2 - 1).as(s"s$i")
    }
    val agg = toks.groupBy(col("id")).agg(bitSums.head, bitSums.tail: _*)
    // disjoint bit patterns: summing == OR-ing, and the i = 63 term wraps
    // to Long.MinValue exactly as a sign-bit pattern should
    val fp = (0 until 64).map(i =>
      when(col(s"s$i") > 0, lit(1L << i)).otherwise(lit(0L))).reduce(_ + _)
    agg.select(col("id"), fp.as("simhash"))
  }

  /** SimHash near-dup PAIRS: (a, b, hamming) with
    * hamming(simhash16(a), simhash16(b)) ≤ maxHamming — the
    * bit-fingerprint dedup modality beside shingle-MinHash (robust to
    * small token substitutions rather than reorderings). Candidate
    * generation is PIGEONHOLE banding: the 16 fingerprint bits split
    * into maxHamming+1 contiguous segments, and any pair within the
    * hamming budget must agree EXACTLY on at least one segment — so
    * candidates come from an equi-join on (segment index, segment
    * value), never an all-pairs scan, and the exact popcount verify
    * runs on candidates only. Same scale shape as [[lshCandidates]]:
    * short-key buckets, map-side fingerprints, AQE-splittable joins —
    * and the same `maxBucketSize` guard: a corpus with 10⁵ byte-similar
    * copies of one page puts every copy in ONE bucket of every segment
    * (identical fingerprints), and the within-bucket self-join goes
    * quadratic; with a cap, only the cap smallest ids of an oversized
    * bucket generate pairs, elected by the bounded
    * [[graft.functions.FirstKByOrder]] aggregate (map-side partials —
    * the cap mechanism is itself hot-bucket-safe). Docs with no tokens
    * have no fingerprint and emit no pairs.
    *
    * OUTPUT-DENSITY contract: the dominant cost is the verified-pair
    * VOLUME, ≈ Σ_buckets C(n_b, 2) candidate pairs before the popcount
    * filter. At `bits = 16` this volume is quadratic BY CONSTRUCTION,
    * for any corpus: banding at maxHamming = 2 splits the fingerprint
    * into ~5-bit segments — at most ~2^6 distinct keys per band — so
    * n_b ≥ N/64 and candidates are Θ(N²/64) even at perfect
    * fingerprint entropy (the x10 scale ladder measured the natural- and
    * closed-vocab corpora within 25% of each other; the key space, not
    * the vocab, is the bound). The DEFAULT is therefore the measured
    * scale path, `bits = 64` ([[simhash64]]): ~21-bit segments (~2M keys
    * per band) collapse the bucket occupancy, and the pair volume with
    * it, to the corpus's true near-dup density (11× faster with 7× fewer
    * pairs at the ×10 rung). `bits = 16` remains for [[simhash16]]
    * parity — the DuckDB-oracle shape of q33/q105 pins it explicitly at
    * those call sites. `maxBucketSize` bounds the
    * per-bucket budget at C(cap, 2) in either width; a membership-only
    * emission mode (each id paired to its bucket's min) was considered
    * and DECLINED — star pairs that fail the hamming verify would
    * disconnect members whose pairwise distance passes, silently
    * changing cluster semantics. Pipelines that need clusters, not
    * pairs, should feed these pairs to the connected-components
    * clusterer, capped. */
  def simhashNearDups(df: DataFrame, idCol: String, textCol: String,
                      maxHamming: Int = 2,
                      maxBucketSize: Option[Int] = None,
                      bits: Int = 64): DataFrame = {
    require(bits == 16 || bits == 64, s"bits must be 16 or 64, got $bits")
    require(maxHamming >= 1 && maxHamming < bits,
      s"maxHamming must be in [1,${bits - 1}], got $maxHamming")
    val nSeg = maxHamming + 1
    val bounds = (0 to nSeg).map(j => bits * j / nSeg)
    val fps = if (bits == 16) simhash16(df, idCol, textCol)
              else simhash64(df, idCol, textCol)
    val segs = (0 until nSeg).map { j =>
      val lo = bounds(j); val w = bounds(j + 1) - lo
      shiftright(col("simhash"), lo).bitwiseAND(lit((1L << w) - 1))
    }
    val uncapped = fps.select(col("id"), col("simhash"),
      posexplode(array(segs: _*)).as(Seq("band", "key")))
    val banded = maxBucketSize match {
      case Some(cap) if bits <= 52 =>
        require(cap >= 2, s"maxBucketSize=$cap: need at least 2 ids to form a pair")
        val firstK = udaf(new graft.functions.FirstKByOrder(cap))
        // keep the fingerprint through the election: pack it as the
        // payload (16 bits — exact in the double payload), so the kept
        // rows need no join back to the fingerprint frame
        uncapped.groupBy(col("band"), col("key"))
          .agg(firstK(electionId(col("id")), col("simhash").cast("double"))
            .as("__fk"))
          .select(col("band"), col("key"), explode(col("__fk.items")).as("__it"))
          .select(col("__it.ord").as("id"),
            col("__it.payload").cast("long").as("simhash"),
            col("band"), col("key"))
      case Some(cap) =>
        require(cap >= 2, s"maxBucketSize=$cap: need at least 2 ids to form a pair")
        // a 64-bit fingerprint does NOT round-trip the double payload
        // (53-bit mantissa): elect ids only, meet in a semi-join — the
        // same shape as embeddingNearDups' cap, still never pinning the
        // bomb bucket to one task
        val firstK = udaf(new graft.functions.FirstKByOrder(cap))
        val keep = uncapped.groupBy(col("band").as("__b"), col("key").as("__k"))
          .agg(firstK(electionId(col("id")), lit(0.0)).as("__fk"))
          .select(col("__b"), col("__k"), explode(col("__fk.items.ord")).as("__kid"))
        uncapped.join(keep, col("band") === col("__b") &&
          col("key") === col("__k") && col("id") === col("__kid"), "left_semi")
      case None => uncapped
    }
    // Join strategy MEASURED and left to the planner (r20): the
    // executed plan shows the fingerprint pipeline planted once per
    // join side under the planner's broadcast (plans/r20/q105_*), but
    // the duplicated segments are cheap (q33 pins the whole fingerprint
    // aggregation at ~70 ms task time at sf0.1) and a SHUFFLE_HASH
    // rewrite that shares one Exchange(band, key) across both sides
    // measured canary-flat (targeted runs, q17 canary; the minhash twin
    // measured the same tie, OPTIMIZATION_r20.md §2-3). The real cost is
    // the verified pair VOLUME (the output-density contract above) —
    // pinned so the hint isn't re-tried blindly.
    val l = banded.as("l")
    val r = banded.as("r")
    // popcount verify BEFORE the pair dedup: a pair's XOR is a pure
    // function of its two fingerprints, so every banded copy of a pair
    // passes or fails together and the filter commutes with the
    // distinct. Candidates outnumber verified pairs by orders of
    // magnitude (each segment key admits hamming > maxHamming pairs by
    // construction), so filtering first shrinks the distinct's exchange
    // from the candidate volume to the verified-pair volume — the
    // shuffle-fewer-bytes move, cheap codegen'd bit_count on the map
    // side (before/after in OPTIMIZATION_r19.md).
    l.join(r, col("l.band") === col("r.band") && col("l.key") === col("r.key") &&
        col("l.id") < col("r.id"))
      .select(col("l.id").as("a"), col("r.id").as("b"),
        col("l.simhash").bitwiseXOR(col("r.simhash")).as("__x"))
      .withColumn("hamming", expr("bit_count(__x)").cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("a"), col("b"), col("hamming"))
      .distinct() // a pair may agree on several segments
  }

  /** Embedding cosine near-dup: pairs with cosine ≥ threshold. Brute-force
    * within LSH sign-buckets (see [[Similarity.hyperplaneBuckets]]) to
    * avoid the full cross join. `maxBucketSize` is the mass-duplicate
    * guard shared by every candidate generator here (a viral page
    * embedded 10⁸× collapses into one bucket whatever `planes` is):
    * kept ids are elected by the bounded [[graft.functions.FirstKByOrder]]
    * aggregate and met in a semi-join, so neither the election nor the
    * pairing ever pins the bomb bucket to one task. */
  def embeddingNearDups(emb: DataFrame, idCol: String, vecCol: String,
                        planes: Int, threshold: Double,
                        maxBucketSize: Option[Int] = None): DataFrame = {
    val dims = Similarity.vecDims(emb, vecCol)
    // bucket computed inline on the single scan — a hyperplaneBuckets
    // frame joined back by id would read and shuffle the corpus twice
    val uncapped = emb.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .withColumn("norm", Similarity.norm(col("vec")))
      .withColumn("bucket", Similarity.bucketExpr(col("vec"), planes, dims))
    val withB = maxBucketSize match {
      case Some(cap) =>
        require(cap >= 2, s"maxBucketSize=$cap: need at least 2 ids to form a pair")
        val firstK = udaf(new graft.functions.FirstKByOrder(cap))
        val keep = uncapped.groupBy(col("bucket").as("__kb"))
          .agg(firstK(electionId(col("id")), lit(0.0)).as("__fk"))
          .select(col("__kb"), explode(col("__fk.items.ord")).as("__kid"))
        uncapped.join(keep,
          col("bucket") === col("__kb") && col("id") === col("__kid"), "left_semi")
      case None => uncapped
    }
    val l = withB.as("l"); val r = withB.as("r")
    l.join(r, col("l.bucket") === col("r.bucket") && col("l.id") < col("r.id"))
      .select(col("l.id").as("a"), col("r.id").as("b"),
        (Similarity.dot(col("l.vec"), col("r.vec")) /
          (col("l.norm") * col("r.norm"))).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** CCNet-style corpus-level segment dedup (boilerplate removal): split
    * each doc into consecutive `segTokens`-token segments, drop every
    * segment whose exact text appears in more than `maxDocs` DISTINCT
    * documents corpus-wide, and reassemble the survivors in original
    * order. This is the paragraph-hash dedup step of CCNet/Gopher-class
    * pipelines — headers, license banners and nav boilerplate repeat
    * verbatim across pages and poison LM training mixes.
    *
    * 100 TB shape: segment construction is one MAP-SIDE projection
    * (token-array slice — no explode, no shuffle, no per-token rows);
    * the corpus-wide frequency count groups md5(segment) digests, never
    * raw text; the blocklist (only segments OVER the threshold) is far
    * smaller than the corpus and meets the exploded segments in a
    * LEFT ANTI join that Spark is free to broadcast or shuffle on real
    * sizes (no forced broadcast — the blocklist of a pathological corpus
    * can be big); reassembly is a per-doc collect whose size is bounded
    * by the DOCUMENT length, never by the corpus.
    *
    * Returns one row per input doc:
    * (id, n_segments, n_kept, n_kept_tokens, kept_text) — empty/blank
    * docs report 0/0/0/"". */
  def segmentDedup(docs: DataFrame, idCol: String, textCol: String,
                   segTokens: Int = 3, maxDocs: Int = 2): DataFrame = {
    require(segTokens > 0, "segTokens must be positive")
    // null text tokenizes to null, not [] — coalesce so NULL-text rows
    // keep the documented 0/0/0/"" contract instead of a null n_segments
    val toks = coalesce(TextAnalysis.tokens(col(textCol)),
      array().cast("array<string>"))
    // map-side segment array: slice the token array in strides — guard
    // the empty case (sequence(0,-1) would DESCEND, not produce empty)
    val nSegs = ceil(size(toks).cast("double") / lit(segTokens.toDouble)).cast("int")
    val segArr = when(size(toks) === 0, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(0), nSegs - 1),
        i => array_join(slice(toks, i * segTokens + 1, lit(segTokens)), " ")))
    // The corpus is read twice at full segment cost — once to COUNT
    // segment frequencies, once to FILTER against the blocklist — the
    // canonical two-pass CCNet shape (recomputing the cheap projection
    // beats materializing a corpus-sized intermediate) — plus one
    // projection-only scan for per-doc totals (needed even for docs
    // whose every segment is blocked), which computes ceil(n/seg)
    // directly and never builds the segment array.
    val base = docs.select(col(idCol).as("id"), segArr.as("sa"))
    val segs = base
      .select(col("id"), posexplode(col("sa")).as(Seq("seg", "seg_text")))
      .withColumn("dig", md5(col("seg_text")))
    // corpus-wide frequency on the digest only; blocklist = over-threshold
    val blocked = segs.groupBy(col("dig").as("bdig"))
      .agg(countDistinct(col("id")).as("ndocs"))
      .filter(col("ndocs") > maxDocs)
      .select(col("bdig"))
    val kept = segs.join(blocked, segs("dig") === blocked("bdig"), "left_anti")
    // per-doc reassembly: bounded by doc length, not corpus size
    val agg = kept.groupBy(col("id")).agg(
      count(lit(1)).as("n_kept"),
      sum(size(TextAnalysis.tokens(col("seg_text"))).cast("long")).as("n_kept_tokens"),
      array_join(
        transform(array_sort(collect_list(struct(col("seg"), col("seg_text")))),
          s => s.getField("seg_text")), " ").as("kept_text"))
    docs.select(col(idCol).as("id"), nSegs.cast("long").as("n_segments"))
      .join(agg, Seq("id"), "left")
      .select(col("id"),
        col("n_segments"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("n_kept_tokens"), lit(0L)).as("n_kept_tokens"),
        coalesce(col("kept_text"), lit("")).as("kept_text"))
  }
}
