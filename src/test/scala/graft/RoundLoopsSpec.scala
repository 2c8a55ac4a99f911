package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.Ckpt.CkptOps
import graft.operators.{Classifier, Dedup, Graph, Similarity, TextAnalysis => TA}

/** Job counts and checkpoint-block lifecycle of the seven iterative
  * operators (pageRank, connected components, BPE training, GD
  * logistic regression, k-means, PQ Lloyd, semanticDedup's refine
  * loop), each run on a small in-memory fixture. */
class RoundLoopsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // a path of 10 nodes: diameter 9, so labels need several rounds
  private def chain: DataFrame =
    (0 until 9).map(i => (100L + i, 101L + i)).toDF("a", "b")

  private def graph: DataFrame =
    (0 until 30).flatMap(i => Seq((i.toString, ((i * 7 + 3) % 30).toString),
      (i.toString, ((i * 11 + 5) % 30).toString))).toDF("src", "dst")

  private def corpus: DataFrame = Seq(
    (1L, "low low low low low", "en"),
    (2L, "lower lower newest newest", "en"),
    (3L, "newest newest newest newest widest widest", "de"),
    (4L, "aaab aaab aaab", "de"),
    (5L, "", "de")).toDF("doc_id", "text", "lang")

  // two poles in 4 dims: k-means and PQ both need more than one round
  private def vectors: DataFrame = (0 until 24).map { i =>
    val pole = if (i % 2 == 0) 0f else 10f
    (i.toLong, Array(pole + i % 3, pole + i % 5, pole - i % 2, pole + i % 7 * 0.5f))
  }.toDF("vec_id", "embedding")

  // one tight 120-vector cluster: with refineTarget = 40 every cell of
  // it is oversized, so the refine loop runs at least one round
  private def massCluster: DataFrame = spark.range(120).select(
    col("id").as("vec_id"),
    array((0 until 6).map(j =>
      (lit(if (j == 0) 1.0f else 0.0f) +
        sin((col("id") + 1) * lit(0.11 * (j + 1))).cast("float") * lit(0.01f))
        .cast("float")): _*).as("embedding"))

  private def refined(emb: DataFrame): DataFrame =
    Similarity.semanticDedup(emb, "vec_id", "embedding", nlist = 4,
      threshold = 0.99, refineTarget = Some(40), refineFanout = 4,
      refineMaxRounds = 3)

  private def jobsDuring(f: => Unit): Int =
    org.apache.spark.sql.GraftTestShim.jobsDuring(spark.sparkContext)(f)

  // Jobs of one call plus the collect of what it returns, AQE stage jobs
  // included. Each bound is the count the operator ran before its loop
  // moved onto Ckpt.rounds and Ckpt.Owner.
  test("job counts: connected components, BPE, GD, k-means, PQ, refine") {
    val cc = chain
    val docs = corpus
    val feats = Classifier.fullFeatures(docs, "doc_id", "text",
      col("lang") === "en").ckpt()
    val emb = vectors
    val mass = massCluster
    val cases = Seq[(String, Int, () => Unit)](
      ("connectedComponents", 32, () => Dedup.connectedComponents(cc).collect()),
      ("bpeTrainMerges", 13, () => TA.bpeTrainMerges(docs, "text", 6).collect()),
      ("logisticTrainOnFeatures", 25, () =>
        Classifier.logisticTrainOnFeatures(feats, "doc_id", 5.0, iters = 5, lr = 0.5)),
      ("kmeansIterate", 6, () =>
        Similarity.kmeansIterate(emb, "vec_id", "embedding", 2).collect()),
      ("pqTrainBooks", 5, () =>
        Similarity.pqTrainBooks(emb, "vec_id", "embedding", m = 2, ksub = 2)),
      ("semanticDedup refine", 67, () => refined(mass).collect()))
    val over = cases.flatMap { case (name, bound, run) =>
      val jobs = jobsDuring(run())
      if (jobs > bound) Some(s"$name ran $jobs jobs, bound $bound") else None
    }
    assert(over.isEmpty, over.mkString("; "))
  }

  private def pinned: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keysIterator.toSet

  // Each case returns the frames its call returned (none for a model).
  // While they are held, the only pinned RDDs the call added are the ones
  // those frames read; once they are dropped and GC runs, none are left.
  test("block lifecycle: each operator pins only what its output reads") {
    val cases = Seq[(String, () => Seq[DataFrame])](
      ("pageRank long ids", () => Seq(Graph.pageRank(chain.toDF("src", "dst"),
        iters = 5, checkpointEvery = 2))),
      ("pageRank string ids", () => Seq(Graph.pageRank(graph, iters = 5,
        checkpointEvery = 2))),
      ("connectedComponents", () => Seq(Dedup.connectedComponents(chain))),
      ("bpeTrain", () => { val (m, v) = TA.bpeTrain(corpus, "text", 6); Seq(m, v) }),
      ("bpeTrainMerges", () => Seq(TA.bpeTrainMerges(corpus, "text", 6))),
      ("logisticTrain", () => {
        Classifier.logisticTrain(corpus, "doc_id", "text", col("lang") === "en",
          iters = 3, lr = 0.5)
        Seq.empty
      }),
      ("kmeansIterate", () =>
        Seq(Similarity.kmeansIterate(vectors, "vec_id", "embedding", 2))),
      ("pqTrainBooks", () => {
        Similarity.pqTrainBooks(vectors, "vec_id", "embedding", m = 2, ksub = 2)
        Seq.empty
      }),
      ("semanticDedup refine", () => Seq(refined(massCluster))),
      ("semanticDedup unrefined", () => Seq(Similarity.semanticDedup(massCluster,
        "vec_id", "embedding", nlist = 4, threshold = 0.99, refineTarget = None))))
    cases.foreach { case (name, run) =>
      val before = pinned
      var held = run()
      held.foreach(_.collect())
      val reads = held.flatMap(org.apache.spark.sql.GraftTestShim.rddIds).toSet
      val extra = pinned -- before -- reads
      assert(extra.isEmpty, s"$name: blocks pinned beyond its output: " +
        extra.toSeq.sorted.mkString(","))
      held = null
      val deadline = System.nanoTime + 60L * 1000 * 1000 * 1000
      var left = pinned -- before
      while (left.nonEmpty && System.nanoTime < deadline) {
        System.gc(); Thread.sleep(200)
        left = pinned -- before
      }
      assert(left.isEmpty, s"$name: blocks still pinned after its output " +
        s"was dropped: ${left.toSeq.sorted.mkString(",")}")
    }
  }
}
