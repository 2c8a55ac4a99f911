package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.Ckpt
import graft.core.Ckpt.CkptOps

/** Fasttext-style quality-classifier training and scoring — the
  * "train a small classifier on exemplar data, score the crawl" gate
  * of GPT-3/LLaMA-class curation pipelines, on the same hashed
  * bag-of-unigrams features as [[Sampling.dsirLogRatio]] (256
  * md5-derived buckets, so the DuckDB oracle replays the hash).
  *
  * Model: logistic regression, length-normalized bucket counts as
  * features, trained by full-batch gradient descent for a fixed
  * iteration count. Distribution shape mirrors k-means
  * (graft.operators.Similarity): the MODEL is driver-side (257 doubles
  * — bounded like the centroid list), the DATA never leaves the
  * cluster. Per iteration: probabilities are one colocated
  * features⋈probs join off a doc-hashed checkpoint of the feature
  * frame, the gradient one partial-aggregated groupBy(bucket) down to
  * ≤256 rows. Iterations cost O(corpus)/round with only 257 doubles of
  * driver traffic each — at 100 TB you train on an exemplar SAMPLE
  * (the deployed pattern) and only SCORING scans everything, one
  * broadcast-weights map-side pass.
  */
object Classifier {

  /** Hashed-unigram features: one row per (doc, bucket) — (idCol, `y`
    * 0/1 from `labelPred`, `bk`, `x` = bucket count / doc token count).
    * Zero-token docs contribute NO feature rows (their logit is the
    * bias alone); [[logisticTrain]]/[[logisticScore]] re-attach them
    * from the doc frame. */
  def hashedFeatures(docs: DataFrame, idCol: String, textCol: String,
                     labelPred: Column): DataFrame = {
    val toks = docs.select(col(idCol),
        when(labelPred, 1.0).otherwise(0.0).as("y"),
        explode(graft.operators.TextAnalysis.tokens(col(textCol))).as("__tok"))
      .withColumn("bk", Sampling.hashBucket256(col("__tok")))
    val counts = toks.groupBy(col(idCol), col("y"), col("bk"))
      .agg(count(lit(1)).cast("double").as("__c"))
    val lens = toks.groupBy(col(idCol).as("__lid"))
      .agg(count(lit(1)).cast("double").as("__n"))
    counts.join(lens, col(idCol) === col("__lid"))
      .select(col(idCol), col("y"), col("bk"), (col("__c") / col("__n")).as("x"))
  }

  /** Per-doc probabilities under (weights, bias): one broadcast join +
    * one partial-aggregated groupBy(doc). `docs` re-attaches
    * feature-less (zero-token) docs, whose p = sigmoid(bias). Returns
    * (idCol, y, p). */
  def logisticScore(docs: DataFrame, idCol: String, labelPred: Column,
                    feats: DataFrame, weights: Array[Double],
                    bias: Double): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val w = weights.zipWithIndex.map { case (v, i) => (i, v) }.toSeq
      .toDF("__wbk", "__wv")
    // groupBy on the bare id attribute (renamed after the aggregate) —
    // harmless either way; see the r20 note in logisticTrainOnFeatures:
    // no materialized-frame layout is recognized here, the exchange is
    // paid and partial-aggregated
    val logits = feats.join(broadcast(w), col("bk") === col("__wbk"))
      .groupBy(col(idCol))
      .agg(sum(col("x") * col("__wv")).as("__dot"))
      .withColumnRenamed(idCol, "__sid")
    docs.select(col(idCol), when(labelPred, 1.0).otherwise(0.0).as("y"))
      .join(logits, col(idCol) === col("__sid"), "left")
      .select(col(idCol), col("y"),
        (lit(1.0) / (lit(1.0) + exp(-(coalesce(col("__dot"), lit(0.0)) + bias))))
          .as("p"))
  }

  /** [[hashedFeatures]] plus the always-on bias feature row (bk = 256,
    * x = 1 for EVERY doc, zero-token docs included) — the joint-frame
    * form [[logisticTrain]] iterates on. Exposed so a train-then-score
    * pipeline can build (and checkpoint) the frame ONCE and feed both
    * phases: the bias rows are inert to [[logisticScore]] (its inner
    * join against 256 weights drops bk = 256), so the SAME frame serves
    * training and scoring without a second feature-extraction pass. */
  def fullFeatures(docs: DataFrame, idCol: String, textCol: String,
                   labelPred: Column): DataFrame =
    hashedFeatures(docs, idCol, textCol, labelPred)
      .unionByName(docs.select(col(idCol),
        when(labelPred, 1.0).otherwise(0.0).as("y"),
        lit(256).as("bk"), lit(1.0).as("x")))

  /** Full-batch gradient-descent logistic regression over the hashed
    * features. Deterministic: fixed iteration count, zero init,
    * gradient = mean over ALL docs of (p − y)·x (bias: (p − y)), update
    * w := w − lr·grad. Returns (weights[256], bias). The feature frame
    * is localCheckpoint-ed once; each iteration runs two bounded
    * aggregations over it (probs by doc, gradient by bucket) and moves
    * 257 doubles to the driver. */
  def logisticTrain(docs: DataFrame, idCol: String, textCol: String,
                    labelPred: Column, iters: Int,
                    lr: Double): (Array[Double], Double) = {
    // bias as an always-on feature at bk=256 (x=1 for EVERY doc, built
    // from the doc frame so zero-token docs carry exactly that row):
    // one joint (w, bias) vector means each round is ONE colocated
    // join + ONE ≤257-row partial-aggregated gradient — no separate
    // bias pass, no second evaluation of the probability frame.
    val own = new Ckpt.Owner
    val full = own(fullFeatures(docs, idCol, textCol, labelPred)
      .ckpt())
    val n = docs.count().toDouble
    val model = logisticTrainOnFeatures(full, idCol, n, iters, lr)
    // the model is the return value — the feature checkpoint has no
    // downstream consumers and must not stay pinned for the session
    own.close()
    model
  }

  /** The GD loop of [[logisticTrain]] over a caller-provided (and
    * caller-checkpointed) [[fullFeatures]] frame — exposed so pipelines
    * that train AND score can pay the feature extraction once. `n` is
    * the doc count (the gradient normalizer). */
  def logisticTrainOnFeatures(full: DataFrame, idCol: String, n: Double,
                              iters: Int, lr: Double): (Array[Double], Double) = {
    require(iters >= 0, "iters must be non-negative")
    val spark = full.sparkSession
    import spark.implicits._
    val (w, _, _) = Ckpt.rounds(Array.fill(257)(0.0), if (n > 0) iters else 0) { (w, _) =>
      val wDf = w.zipWithIndex.map { case (v, i) => (i, v) }.toSeq
        .toDF("__wbk", "__wv")
      // NOTE (r20, claim DROPPED with evidence): the r19 hope that the
      // checkpointed frame's hash(id) layout satisfies this aggregation
      // without an exchange is structurally impossible — a checkpoint
      // scan carries NO recognizable partitioning under AQE (micro-
      // check + in-loop executed plan, plans/r20/q91_*). The exchange
      // is per-round and feature-frame-sized but partial-aggregated.
      // The alternative that CAN elide it — repartition(id) + persist()
      // (InMemoryRelation keeps its layout) — was measured 25× worse
      // task time at bench scale (29.3 s vs 1.2 s per run: per-round
      // broadcast builds of the cached frame + fixed-width cache scans;
      // same pathology as the r19 reverted fixed-N repartition). Pinned
      // here so neither form is re-tried blindly.
      val probs = full.join(broadcast(wDf), col("bk") === col("__wbk"))
        .groupBy(col(idCol))
        .agg(first(col("y")).as("__py"),
          (lit(1.0) / (lit(1.0) + exp(-sum(col("x") * col("__wv"))))).as("__pp"))
        .withColumnRenamed(idCol, "__pid")
      // joint gradient: features join probs on the doc id (both sides
      // hash on it — colocated), partial-aggregated to ≤257 rows
      val grad = full.join(probs, col(idCol) === col("__pid"))
        .groupBy(col("bk"))
        .agg((sum((col("__pp") - col("__py")) * col("x")) / n).as("g"))
        .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
      (Array.tabulate(257)(i => w(i) - lr * grad.getOrElse(i, 0.0)), false)
    }
    (w.take(256), w(256))
  }

}
