package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling for training-data pipelines.
  *
  * All selection is md5-keyed (no RNG): a row's fate is a pure function
  * of (seed, id), so samples are reproducible run-to-run, stable under
  * task retries and AQE re-execution, engine-portable (the DuckDB oracle
  * reproduces them exactly), and the filter is map-side only — no
  * shuffle, no sort, no sampling pass, at any scale.
  *
  * Selection rule: survive iff the first 8 hex chars of
  * `md5(seed + "#" + id)` — a uniform 32-bit value — compare below the
  * fraction's hex threshold. Comparing HEX STRINGS (same lowercase hex
  * in every md5 implementation) avoids any hex→int conversion
  * differences between engines.
  */
object Sampling {

  /** `floor(fraction · 2^32)` as 8 lowercase hex chars — the selection
    * threshold; exposed so oracles can embed the identical literal.
    * Fraction ≥ 1 returns "g", which compares above every hex string —
    * keep-everything strata really keep everything (a clamped "ffffffff"
    * would drop the 2^-32 of rows whose hash equals it). */
  def hexThreshold(fraction: Double): String = {
    if (fraction >= 1.0) "g"
    else {
      val t = math.min(math.max((fraction * 4294967296.0).toLong, 0L), 4294967295L)
      f"$t%08x"
    }
  }

  private def hash8(idCol: Column, seed: Long): Column =
    substring(md5(concat(lit(s"$seed#"), idCol.cast("string"))), 1, 8)

  /** Deterministic Bernoulli sample at `fraction`. */
  def bernoulli(df: DataFrame, idCol: String, fraction: Double, seed: Long): DataFrame =
    if (fraction >= 1.0) df
    else df.filter(hash8(col(idCol), seed) < lit(hexThreshold(fraction)))

  /** Deterministic corpus shuffle (training-epoch reordering): position
    * = rank of md5(seed#id), ties broken by id. Different seeds give
    * independent permutations; the same seed reproduces the epoch order
    * exactly across runs and engines. The rank runs on the Catalyst-only
    * bucket path — the numeric lead is the digest's first 15 hex chars
    * (60 uniform bits) — so no RDD hop and no single-partition sort.
    * Adds `pos` (0-based). */
  def deterministicShuffle(df: DataFrame, idCol: String, seed: Long): DataFrame = {
    require(!df.columns.contains("pos"),
      "deterministicShuffle adds a `pos` column; rename the existing `pos` first")
    // the rank writes ord/idx — shelter caller columns with those names
    // behind reserved temps instead of silently dropping them; when idCol
    // itself is one of them, keep hashing/sorting by its sheltered name
    val clashes = Seq("ord", "idx").filter(df.columns.contains)
    val sheltered = clashes.foldLeft(df)((d, c) => d.withColumnRenamed(c, s"__user_$c"))
    val workId = if (clashes.contains(idCol)) s"__user_$idCol" else idCol
    val h = md5(concat(lit(s"$seed#"), col(workId).cast("string")))
    val lead = conv(substring(col("__h"), 1, 15), 16, 10).cast("long")
    val ranked = graft.core.IndexOps.rankNumericPrefix(
      sheltered.withColumn("__h", h), lead,
      Seq(col("__h").asc, col(workId).asc), renumberIdx = false)
      .withColumn("pos", col("ord"))
      .drop("__h", "ord", "idx")
    clashes.foldLeft(ranked)((d, c) => d.withColumnRenamed(s"__user_$c", c))
  }

  /** Deterministic per-group CAP: keep at most `n` rows per group,
    * chosen uniformly by md5 order (seed-keyed, reproducible, engine-
    * portable) — the "cap every domain at N documents" step of corpus
    * curation, where a handful of mega-domains would otherwise dominate
    * the training mix. Selection = [[Similarity.topKPerGroup]] on a
    * NEGATED digest prefix (top-k of -hash ≡ bottom-k of hash ≡ a
    * uniform n-subset), so the plan is the bounded aggregate — map-side
    * partial top-ks, O(n) rows per (group × task), no window, and the
    * hot mega-domain never sits in one task. The prefix is 13 hex chars
    * = 52 bits, EXACT in the aggregate's double score — a longer prefix
    * would round in the 53-bit mantissa and could swap ranks against an
    * exact-arithmetic oracle; at 52 bits the double order equals the
    * fixed-length lowercase-hex string order an engine compares.
    * Returns (group, id) plus `pick` (1..n in hash order — a stable
    * epoch-independent sub-order). */
  def capPerGroup(df: DataFrame, groupCol: String, idCol: String,
                  n: Int, seed: Long): DataFrame = {
    val lead = conv(substring(md5(concat(lit(s"$seed#"),
      col(idCol).cast("string"))), 1, 13), 16, 10).cast("double")
    val scored = df.select(col(groupCol), col(idCol),
      negate(lead).as("__neg"))
    graft.operators.Similarity.topKPerGroup(scored, groupCol, "__neg", idCol, n)
      .select(col(groupCol), col("rank").as("pick"), col(idCol))
  }

  /** Keep the TOP `frac` of each group by `score` (descending, ties by
    * `tieBreak` ascending) — the "best X% per language/domain" curation
    * gate, with a PER-GROUP k (⌈n_g·frac⌉, so every non-empty group
    * keeps at least one row) that the fixed-k bounded aggregates cannot
    * express. Hot-key-safe by construction: the within-group rank is
    * [[Windows.groupedRunningTotal]] with value 1 — the grouped
    * sub-bucket prefix machinery, never `Window.partitionBy(group)` —
    * ranked ascending on the NEGATED score so "top" is a prefix. The
    * per-group sizes are one tiny aggregate the planner may broadcast.
    * (score, tieBreak) must be a total order within each group; score
    * must be numeric and non-null. */
  def topFractionPerGroup(df: DataFrame, groupCol: String, scoreCol: String,
                          tieBreakCol: String, frac: Double): DataFrame = {
    require(frac > 0 && frac <= 1, s"frac must be in (0,1], got $frac")
    val scored = df.withColumn("__negs", negate(col(scoreCol).cast("double")))
    val ranked = Windows.groupedRunningTotal(scored, col(groupCol),
      col("__negs"), Seq(col("__negs"), col(tieBreakCol)), lit(1L), "__rank")
    val sizes = df.groupBy(col(groupCol).as("__szg"))
      .agg(count(lit(1)).as("__n"))
    ranked.join(sizes, col(groupCol) <=> col("__szg"))
      .filter(col("__rank") <= ceil(col("__n") * frac))
      .drop("__negs", "__rank", "__szg", "__n")
  }

  /** Hashed-unigram feature bucket in [0, 256) — the oracle-replayable
    * feature hash behind [[dsirLogRatio]]: the first two hex chars of
    * md5(token), each nibble decoded arithmetically from its ASCII code
    * ('0'-'9' → 0-9, 'a'-'f' → 10-15) so DuckDB computes the identical
    * bucket with its own ascii() (it has no hex→int conv). Pure
    * codegen'd expressions. */
  private[graft] def hashBucket256(tok: Column): Column = {
    def nib(c: Column): Column =
      when(ascii(c) <= 57, ascii(c) - 48).otherwise(ascii(c) - 87)
    val h = md5(tok)
    (nib(substring(h, 1, 1)) * 16 + nib(substring(h, 2, 1))).cast("int")
  }

  /** The per-bucket log-ratio model behind [[dsirLogRatio]]: ≤256 rows
    * (`__rbk`, `__lr`) — one corpus scan, map-side partial-aggregated
    * into the bounded bucket frame. `modelSampleFraction < 1` estimates
    * the model on a deterministic md5-keyed doc sample (the paper's own
    * scale lever — at 100 TB the model pass reads the sample, only the
    * scoring pass reads everything; smoothed ratios converge long before
    * the full corpus is counted). */
  private[graft] def dsirModel(docs: DataFrame, idCol: String, textCol: String,
                               targetPred: Column,
                               modelSampleFraction: Double = 1.0,
                               seed: Long = 7L): DataFrame = {
    val b = 256
    val base =
      if (modelSampleFraction >= 1.0) docs
      else bernoulli(docs, idCol, modelSampleFraction, seed)
    val toks = base.select(targetPred.as("__tgt"),
        explode(graft.operators.TextAnalysis.tokens(col(textCol))).as("__dsir_tok"))
      .withColumn("__bk", hashBucket256(col("__dsir_tok")))
    val obs = toks.groupBy(col("__bk"))
      .agg(count(lit(1)).as("__src_n"),
        sum(when(col("__tgt"), 1L).otherwise(0L)).as("__tgt_n"))
    // complete the frame to ALL b buckets: a bucket unseen by the (maybe
    // sampled) model pass still has a well-defined smoothed ratio, and
    // scoring must not silently drop its tokens
    val model = docs.sparkSession.range(b)
      .select(col("id").cast("int").as("__bk"))
      .join(obs, Seq("__bk"), "left")
      .select(col("__bk"), coalesce(col("__src_n"), lit(0L)).as("__src_n"),
        coalesce(col("__tgt_n"), lit(0L)).as("__tgt_n"))
    // totals ride the same tiny frame (≤b rows) — no extra corpus pass
    val totals = model.agg(sum(col("__src_n")).as("__src_t"),
      sum(col("__tgt_n")).as("__tgt_t"))
    model.crossJoin(broadcast(totals))
      .select(col("__bk").as("__rbk"),
        (log((col("__tgt_n") + 1).cast("double") / (col("__tgt_t") + b)) -
          log((col("__src_n") + 1).cast("double") / (col("__src_t") + b))).as("__lr"))
  }

  /** DSIR-style importance weighting (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): score every doc by
    * the log-likelihood ratio of a hashed bag-of-unigrams model of the
    * TARGET distribution (rows matching `targetPred`) against the model
    * of the full source corpus — the standard "select web data that
    * looks like the high-quality target" curation gate. Resampling is
    * composition: feed the returned score to
    * [[topFractionPerGroup]] / a threshold filter.
    *
    * Scale shape: the model pass explodes tokens and map-side
    * partial-aggregates them into the 256-bucket model frames (bounded
    * rows regardless of corpus size); per-bucket add-1-smoothed log
    * ratios broadcast back onto the scoring token scan; per-doc sum is
    * one partial-aggregated groupBy(doc). No windows, no driver collect
    * beyond the 256-row model. `modelSampleFraction` shrinks the model
    * pass to a deterministic doc sample (see [[dsirModel]]). Docs with
    * no tokens score 0 with n_toks=0. Returns (idCol, n_toks,
    * logratio). */
  def dsirLogRatio(docs: DataFrame, idCol: String, textCol: String,
                   targetPred: Column,
                   modelSampleFraction: Double = 1.0): DataFrame = {
    val ratios = dsirModel(docs, idCol, textCol, targetPred, modelSampleFraction)
    val toks = docs.select(col(idCol),
        explode(graft.operators.TextAnalysis.tokens(col(textCol))).as("__dsir_tok"))
      .withColumn("__bk", hashBucket256(col("__dsir_tok")))
    val perDoc = toks.join(broadcast(ratios), col("__bk") === col("__rbk"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("__nt"), sum(col("__lr")).as("__sum"))
    docs.select(col(idCol))
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("__nt"), lit(0L)).as("n_toks"),
        coalesce(col("__sum"), lit(0.0)).as("logratio"))
  }

  /** Temperature-scaled mixture weights (the T5/LLaMA multilingual
    * mixing recipe): per-group sampling probability p_i ∝ n_i^alpha,
    * where n_i is the group's token count and alpha ∈ (0, 1] flattens
    * the head (alpha = 1 → proportional, alpha → 0 → uniform). Also
    * reports `epochs` = p_i · budget / n_i — the number of passes over
    * group i the mix implies at `budgetTokens`, the over-epoching
    * number a mix designer actually watches.
    *
    * Scale shape: ONE partial-aggregated groupBy over the corpus to the
    * #groups-sized count frame; the normalizer is a 1-row broadcast.
    * Returns (groupCol, n_tokens, p, epochs). */
  def temperatureMix(docs: DataFrame, groupCol: String, nTokens: Column,
                     alpha: Double, budgetTokens: Long): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, "alpha must be in (0, 1]")
    require(budgetTokens >= 0, "budgetTokens must be non-negative")
    val counts = docs.groupBy(col(groupCol))
      .agg(sum(nTokens).cast("long").as("n_tokens"))
    val z = counts.agg(sum(pow(col("n_tokens"), alpha)).as("__z"))
    counts.crossJoin(broadcast(z))
      .withColumn("p", pow(col("n_tokens"), alpha) / col("__z"))
      .select(col(groupCol), col("n_tokens"), col("p"),
        (col("p") * budgetTokens / col("n_tokens")).as("epochs"))
  }

  /** Global quantile TIERS: assign every row the `nTiers`-quantile
    * bucket of `metric` (tier 1 = lowest band … nTiers = highest) — the
    * "quality decile" stratification step that feeds tier-weighted
    * sampling and per-tier dataset cards. Thresholds are the exact
    * linear-interpolation percentiles at i/nTiers, i = 1..nTiers−1,
    * ROUNDED to 4 decimals so both engines' interpolation arithmetic
    * lands on identical literals; a row's tier is
    * 1 + #{thresholds strictly below it} (ties attach DOWNWARD — a row
    * exactly on a threshold stays in the lower tier).
    *
    * Scale shape: ONE percentile aggregate to a 1-row frame (Spark's
    * percentile is a partial-aggregated single pass), broadcast back via
    * crossJoin; tier assignment is a codegen'd map-side comparison
    * chain. No sort of the corpus, no window, no shuffle of the data —
    * the classic "global quantiles without a global sort" plan.
    *
    * `approx = true` is the 100 TB lever: the exact percentile's buffer
    * grows with DISTINCT metric values (fine for bounded metrics like
    * quality scores, unbounded for, say, raw byte lengths over a whole
    * crawl) — the approx path runs `approx_percentile`'s GK sketch
    * (O(accuracy) memory, rank error ≤ n/accuracy) and returns dataset
    * values instead of interpolated ones, so tier BOUNDARIES can shift
    * by the rank tolerance while the tier semantics (monotone in the
    * metric, ties attach downward) are unchanged.
    * Adds `tier` (int 1..nTiers). */
  def quantileTiers(df: DataFrame, metric: Column, nTiers: Int,
                    approx: Boolean = false, accuracy: Int = 10000): DataFrame = {
    df.crossJoin(broadcast(tierThresholds(df, metric, nTiers, approx, accuracy)))
      .withColumn("tier", tierExpr(metric, nTiers, i => col(s"__t$i")).cast("int"))
      .drop((1 until nTiers).map(i => s"__t$i"): _*)
  }

  /** The 1-row frame of [[quantileTiers]]' rounded thresholds
    * `__t1` … `__t(nTiers−1)`. */
  private[graft] def tierThresholds(df: DataFrame, metric: Column, nTiers: Int,
                                    approx: Boolean, accuracy: Int): DataFrame = {
    require(nTiers >= 2, s"nTiers must be at least 2, got $nTiers")
    if (approx) {
      val ps = array((1 until nTiers).map(i => lit(i.toDouble / nTiers)): _*)
      df.agg(approx_percentile(metric.cast("double"), ps, lit(accuracy)).as("__ta"))
        .select((1 until nTiers).map(i =>
          round(element_at(col("__ta"), i), 4).as(s"__t$i")): _*)
    } else {
      val thrAggs = (1 until nTiers).map(i =>
        round(percentile(metric.cast("double"), lit(i.toDouble / nTiers)), 4)
          .as(s"__t$i"))
      df.agg(thrAggs.head, thrAggs.tail: _*)
    }
  }

  /** A row's tier: 1 + the number of thresholds `thr(1)` …
    * `thr(nTiers−1)` strictly below its metric (ties attach downward). */
  private[graft] def tierExpr(metric: Column, nTiers: Int, thr: Int => Column): Column =
    (1 until nTiers).map(i =>
      when(metric.cast("double") > thr(i), 1).otherwise(0))
      .reduce(_ + _) + lit(1)

  /** Stratified sample: per-stratum fractions (the training-mix
    * reweighting step — e.g. upweight low-resource languages). The
    * stratum→threshold table rides a map literal (`element_at`, pure
    * codegen'd projection — no join, not even a broadcast). Strata
    * absent from `fractions` use `defaultFraction`. */
  def stratified(df: DataFrame, idCol: String, strataCol: String,
                 fractions: Map[String, Double], defaultFraction: Double,
                 seed: Long): DataFrame = {
    val thresholds = fractions.map { case (k, f) => k -> hexThreshold(f) }
    val thr = coalesce(
      element_at(typedLit(thresholds), col(strataCol)),
      lit(hexThreshold(defaultFraction)))
    df.filter(hash8(col(idCol), seed) < thr)
  }
}
