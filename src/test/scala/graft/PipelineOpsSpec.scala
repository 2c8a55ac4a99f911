package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Dedup, Graph, TextAnalysis => TA}

/** Specs for the round-9 curation additions: corpus-level segment dedup
  * (CCNet boilerplate removal), PageRank, and BM25 scoring — each with a
  * closed-form oracle on tiny data plus a structural plan check.
  */
class PipelineOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // --- segmentDedup ---------------------------------------------------

  test("segmentDedup drops corpus-frequent segments, keeps order") {
    // "a b" opens 3 of 4 docs → blocked at maxDocs=2; everything else
    // survives. Doc 4 is blank. Segment size 2.
    val docs = Seq(
      (1L, "a b x y"),
      (2L, "a b p q r"),
      (3L, "a b x y"),   // second seg "x y" appears in docs 1,3 only → kept
      (4L, "")
    ).toDF("doc_id", "text")
    val out = Dedup.segmentDedup(docs, "doc_id", "text", segTokens = 2, maxDocs = 2)
      .orderBy("id").collect()
    // doc1: segs ["a b","x y"] → "a b" blocked (3 docs) → kept "x y"
    assert(out(0).getLong(1) == 2 && out(0).getLong(2) == 1)
    assert(out(0).getString(4) == "x y")
    assert(out(0).getLong(3) == 2) // n_kept_tokens
    // doc2: segs ["a b","p q","r"] → kept "p q r" (2 segments, 3 tokens)
    assert(out(1).getLong(2) == 2 && out(1).getLong(3) == 3)
    assert(out(1).getString(4) == "p q r")
    // doc4 (blank): 0/0/0/""
    assert(out(3).getLong(1) == 0 && out(3).getLong(2) == 0)
    assert(out(3).getString(4) == "")
  }

  test("segmentDedup counts DISTINCT docs, not occurrences") {
    // "a b" twice inside ONE doc is 1 distinct doc — must NOT be blocked
    // at maxDocs=1 unless a second doc has it
    val docs = Seq((1L, "a b a b"), (2L, "z z")).toDF("doc_id", "text")
    val out = Dedup.segmentDedup(docs, "doc_id", "text", segTokens = 2, maxDocs = 1)
      .orderBy("id").collect()
    assert(out(0).getString(4) == "a b a b") // both segments kept
    assert(out(1).getString(4) == "z z")
  }

  test("segmentDedup short-tail segment hashes separately") {
    // 5 tokens at segTokens=2 → segments [t0 t1][t2 t3][t4]: the 1-token
    // tail is its own segment, not merged or dropped
    val docs = Seq((1L, "p q r s t")).toDF("doc_id", "text")
    val out = Dedup.segmentDedup(docs, "doc_id", "text", segTokens = 2, maxDocs = 1)
      .collect()
    assert(out(0).getLong(1) == 3)
    assert(out(0).getString(4) == "p q r s t")
  }

  test("segmentDedup plan: no per-doc window, no cartesian") {
    val docs = Seq((1L, "a b c d")).toDF("doc_id", "text")
    val plan = Dedup.segmentDedup(docs, "doc_id", "text")
      .queryExecution.optimizedPlan.toString
    assert(!plan.toLowerCase.contains("windowexpression"),
      s"segment dedup must not use windows:\n$plan")
    assert(!plan.toLowerCase.contains("cartesian"))
  }

  // --- pageRank -------------------------------------------------------

  test("pageRank: two-node symmetric graph converges to uniform") {
    // a↔b: by symmetry every iteration keeps rank = 0.5 each
    val e = Seq(("a", "b"), ("b", "a")).toDF("src", "dst")
    val r = Graph.pageRank(e, iters = 5).collect()
      .map(x => x.getString(0) -> x.getDouble(1)).toMap
    assert(math.abs(r("a") - 0.5) < 1e-12)
    assert(math.abs(r("b") - 0.5) < 1e-12)
  }

  test("pageRank: star hub outranks leaves; closed-form 1 iteration") {
    // leaves l1..l3 → hub, hub → each leaf (symmetrized star), N=4.
    // After 1 round from uniform 0.25:
    //   hub = 0.15/4 + 0.85·(3·(0.25/1)) = 0.0375 + 0.6375 = 0.675
    //   leaf = 0.15/4 + 0.85·(0.25/3)    = 0.0375 + 0.070833…
    val fwd = Seq(("l1", "h"), ("l2", "h"), ("l3", "h")).toDF("src", "dst")
    val sym = fwd.union(fwd.select(col("dst").as("src"), col("src").as("dst")))
    val r = Graph.pageRank(sym, iters = 1).collect()
      .map(x => x.getString(0) -> x.getDouble(1)).toMap
    assert(math.abs(r("h") - ((1.0 - 0.85) / 4 + 0.85 * 0.75)) < 1e-12)
    val leaf = (1.0 - 0.85) / 4 + 0.85 * (0.25 / 3)
    Seq("l1", "l2", "l3").foreach(l => assert(math.abs(r(l) - leaf) < 1e-12))
    // total mass conserved on a symmetrized (dangling-free) graph
    assert(math.abs(r.values.sum - 1.0) < 1e-9)
  }

  test("pageRank: dangling sink leaks mass (documented semantics)") {
    // a → b with NO back edge: b's mass has nowhere to go and is dropped
    val e = Seq(("a", "b")).toDF("src", "dst")
    val r = Graph.pageRank(e, iters = 3).collect()
      .map(x => x.getString(0) -> x.getDouble(1)).toMap
    assert(r.values.sum < 1.0 - 1e-6)
    assert(r("b") > r("a")) // b still receives a's flow
  }

  test("pageRank: iters=0 returns the uniform prior") {
    val e = Seq(("a", "b"), ("b", "c")).toDF("src", "dst")
    val r = Graph.pageRank(e, iters = 0).collect()
    assert(r.length == 3)
    r.foreach(x => assert(math.abs(x.getDouble(1) - 1.0 / 3) < 1e-12))
  }

  private def jobsDuring(f: => Unit): Int =
    org.apache.spark.sql.GraftTestShim.jobsDuring(spark.sparkContext)(f)

  /** The earlier round formulation, kept as the value reference: the
    * contribution aggregate on dst, then the no-in-edge constant
    * (1−d)/N unioned in AFTER it, from a left-anti join of the nodes
    * against the edge destinations. */
  private def referenceRanks(edges: Seq[(Long, Long)], iters: Int,
                             damping: Double = 0.85): Map[Long, Double] = {
    val e = edges.toDF("src", "dst").distinct()
    val nodes = e.select(col("src").as("nid"))
      .union(e.select(col("dst").as("nid"))).distinct()
    val n = nodes.count()
    val spine = e.join(e.groupBy(col("src")).agg(count(lit(1)).as("deg")), "src")
    val noInRanks = nodes
      .join(e.select(col("dst").as("nid")).distinct(), Seq("nid"), "left_anti")
      .select(col("nid").as("id"), lit((1.0 - damping) / n).as("rank"))
    var ranks = nodes.select(col("nid").as("id"), lit(1.0 / n).as("rank"))
    for (_ <- 0 until iters)
      ranks = spine
        .join(ranks.select(col("id").as("src"), col("rank")), "src")
        .groupBy(col("dst").as("id"))
        .agg(sum(col("rank") / col("deg")).as("cin"))
        .select(col("id"),
          (lit((1.0 - damping) / n) + lit(damping) * col("cin")).as("rank"))
        .unionByName(noInRanks)
    ranks.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
  }

  test("pageRank == the union-after-aggregate reference: no-in-edge nodes, sinks, duplicates, self-loops, both id paths") {
    val graphs = Seq(
      // 4 and 5 have no in-edge; 6 is a dangling sink
      "directed" -> Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 1L), (5L, 2L),
        (3L, 6L), (2L, 6L)),
      // duplicate edges and self-loops; 4 has no in-edge, 5 is a sink
      "dups+loops" -> Seq((1L, 1L), (1L, 2L), (1L, 2L), (2L, 1L), (2L, 2L),
        (3L, 3L), (3L, 1L), (3L, 1L), (4L, 3L), (2L, 5L)))
    for ((name, edges) <- graphs; iters <- Seq(0, 1, 5)) {
      val ref = referenceRanks(edges, iters)
      val longEdges = edges.toDF("src", "dst")
      val strEdges = edges.map { case (a, b) => (a.toString, b.toString) }
        .toDF("src", "dst")
      for (every <- Seq(1, 2, 7)) {
        val where = s"$name iters=$iters checkpointEvery=$every"
        val lr = Graph.pageRank(longEdges, iters = iters, checkpointEvery = every)
          .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
        val sr = Graph.pageRank(strEdges, iters = iters, checkpointEvery = every)
          .collect().map(r => r.getString(0).toLong -> r.getDouble(1)).toMap
        for ((path, got) <- Seq("long" -> lr, "string" -> sr)) {
          assert(got.keySet == ref.keySet, s"$where $path ids")
          ref.foreach { case (k, v) =>
            assert(math.abs(got(k) - v) < 1e-12, s"$where $path id $k: ${got(k)} vs $v")
          }
        }
      }
    }
  }

  test("pageRank drops edges with a null endpoint on both id paths") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 1L))
    val withNulls = edges.map { case (a, b) => (Option(a), Option(b)) } ++
      Seq((Some(2L), None), (None, Some(3L)), (None, None))
    val ref = referenceRanks(edges, 3)
    val lr = Graph.pageRank(withNulls.toDF("src", "dst"), iters = 3).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val sr = Graph.pageRank(withNulls.map { case (a, b) =>
        (a.map(_.toString), b.map(_.toString)) }.toDF("src", "dst"), iters = 3)
      .collect().map(r => r.getString(0).toLong -> r.getDouble(1)).toMap
    for (got <- Seq(lr, sr)) {
      assert(got.keySet == ref.keySet)
      ref.foreach { case (k, v) => assert(math.abs(got(k) - v) < 1e-12, k) }
    }
  }

  test("pageRank long ids: job count on a symmetrized graph at iters=5") {
    // set-up: one src exchange for dedup + degrees, one node-flag
    // aggregate, the count; then one dst exchange per round plus the
    // spine exchange, shared by the rounds of the output checkpoint
    val fwd = (0 until 30).flatMap(i => Seq((i.toLong, ((i * 7 + 3) % 30).toLong),
      (i.toLong, ((i * 11 + 5) % 30).toLong))).toDF("src", "dst")
    val sym = fwd.union(fwd.select(col("dst").as("src"), col("src").as("dst")))
    var out: org.apache.spark.sql.DataFrame = null
    val jobs = jobsDuring { out = Graph.pageRank(sym, iters = 5) }
    assert(jobs <= 12, s"pageRank ran $jobs jobs")
    assert(math.abs(out.collect().map(_.getDouble(1)).sum - 1.0) < 1e-9)
  }

  test("pageRank string ids: ranks match the long path; one output block; job count") {
    // 30 nodes on two out-edges each, plus 3 sources nobody links to
    val pairs = (0 until 30).flatMap(i => Seq((i, (i * 7 + 3) % 30),
      (i, (i * 11 + 5) % 30))) ++ Seq((30, 0), (31, 1), (32, 2))
    val longRanks = Graph.pageRank(pairs.map { case (a, b) => (a.toLong, b.toLong) }
        .toDF("src", "dst"), iters = 5, checkpointEvery = 2).collect()
      .map(r => r.getLong(0).toString -> r.getDouble(1)).toMap
    val strEdges = pairs.map { case (a, b) => (a.toString, b.toString) }
      .toDF("src", "dst")
    def pinnedIds: Set[Int] =
      spark.sparkContext.getPersistentRDDs.keysIterator.toSet
    val before = pinnedIds
    var out: org.apache.spark.sql.DataFrame = null
    val jobs = jobsDuring { out = Graph.pageRank(strEdges, iters = 5, checkpointEvery = 2) }
    // relabel, periodic round checkpoints and the output checkpoint,
    // AQE stage jobs included
    assert(jobs <= 25, s"pageRank ran $jobs jobs")
    val strRanks = out.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(strRanks.keySet == longRanks.keySet)
    strRanks.foreach { case (k, v) => assert(math.abs(v - longRanks(k)) < 1e-12, k) }
    // while the result is held: exactly ONE new pinned RDD, the output
    // checkpoint — edge list, dict, spine, node flags and round
    // checkpoints are freed
    val deadline = System.nanoTime + 120L * 1000 * 1000 * 1000
    var extra = (pinnedIds -- before).toSeq.sorted
    while (extra.size > 1 && System.nanoTime < deadline) {
      System.gc(); Thread.sleep(500)
      extra = (pinnedIds -- before).toSeq.sorted
    }
    assert(extra.size == 1, s"blocks pinned after the call: ${extra.mkString(",")}")
    // drop the result: the output checkpoint itself must be reapable
    out = null
    var remaining = (pinnedIds -- before).toSeq
    while (remaining.nonEmpty && System.nanoTime < deadline) {
      System.gc(); Thread.sleep(500)
      remaining = (pinnedIds -- before).toSeq
    }
    assert(remaining.isEmpty, "output checkpoint still pinned after the result was dropped")
  }

  // long-id twins: the integral-id fast path (no relabel, id returned as
  // LONG — the documented id-type contract) has its own set-up, so it
  // needs the same behavioral pins as the string path (r19 ADVICE)
  test("pageRank long ids: uniform two-node, star closed form, dangling leak, iters=0") {
    val e2 = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val r2 = Graph.pageRank(e2, iters = 5).collect()
      .map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(math.abs(r2(1L) - 0.5) < 1e-12 && math.abs(r2(2L) - 0.5) < 1e-12)

    val fwd = Seq((1L, 9L), (2L, 9L), (3L, 9L)).toDF("src", "dst")
    val sym = fwd.union(fwd.select(col("dst").as("src"), col("src").as("dst")))
    val rs = Graph.pageRank(sym, iters = 1).collect()
      .map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(math.abs(rs(9L) - ((1.0 - 0.85) / 4 + 0.85 * 0.75)) < 1e-12)
    val leaf = (1.0 - 0.85) / 4 + 0.85 * (0.25 / 3)
    Seq(1L, 2L, 3L).foreach(l => assert(math.abs(rs(l) - leaf) < 1e-12))
    assert(math.abs(rs.values.sum - 1.0) < 1e-9)

    val dangling = Seq((1L, 2L)).toDF("src", "dst")
    val rd = Graph.pageRank(dangling, iters = 3).collect()
      .map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(rd.values.sum < 1.0 - 1e-6 && rd(2L) > rd(1L))

    val r0 = Graph.pageRank(Seq((1L, 2L), (2L, 3L)).toDF("src", "dst"),
      iters = 0).collect()
    assert(r0.length == 3)
    r0.foreach(x => assert(math.abs(x.getDouble(1) - 1.0 / 3) < 1e-12))
    // checkpointEvery cadence mid-run: periodic eager checkpoint path
    val rc = Graph.pageRank(sym, iters = 5, checkpointEvery = 2).collect()
      .map(x => x.getLong(0) -> x.getDouble(1)).toMap
    val rn = Graph.pageRank(sym, iters = 5).collect()
      .map(x => x.getLong(0) -> x.getDouble(1)).toMap
    rc.keys.foreach(k => assert(rc(k) == rn(k),
      s"checkpointEvery must not change values: $k ${rc(k)} ${rn(k)}"))
  }

  // --- bm25 -----------------------------------------------------------

  test("bm25 matches the closed form on a 2-doc corpus") {
    // corpus: d1 = "x x y" (dl 3), d2 = "z z" (dl 2); query = (x, z)
    // N=2, avgdl=2.5; df(x)=1, df(z)=1 → idf = ln(1 + 1.5/1.5) = ln 2
    val docs = Seq((1L, "x x y"), (2L, "z z")).toDF("doc_id", "text")
    val out = TA.bm25(docs, "doc_id", "text", Seq("x", "z"))
      .orderBy("id").collect()
    val k1 = 1.2; val b = 0.75
    def s(tf: Double, dl: Double) =
      math.log(2.0) * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / 2.5))
    assert(math.abs(out(0).getDouble(2) - s(2, 3)) < 1e-9) // d1: only x hits
    assert(out(0).getLong(1) == 1)
    assert(math.abs(out(1).getDouble(2) - s(2, 2)) < 1e-9) // d2: only z hits
  }

  test("bm25: rarer term scores higher at equal tf") {
    val docs = Seq(
      (1L, "common rare"), (2L, "common pad"), (3L, "common pad"),
      (4L, "pad pad")).toDF("doc_id", "text")
    val r = TA.bm25(docs, "doc_id", "text", Seq("common", "rare"))
      .filter(col("id") === 1L).head()
    // within doc 1 both terms have tf=1 and same dl — the score must
    // exceed twice the common-term-only score of doc 2 (idf(rare) > idf(common))
    val d2 = TA.bm25(docs, "doc_id", "text", Seq("common", "rare"))
      .filter(col("id") === 2L).head()
    assert(r.getDouble(2) > 2 * d2.getDouble(2))
    assert(r.getLong(1) == 2)
  }

  // --- semanticDedup --------------------------------------------------

  test("semanticDedup merges planted duplicate groups, keeps min ids") {
    // two planted duplicate groups (identical vectors → cosine 1, same
    // cell by construction) + one singleton; orthogonal across groups so
    // no cross-group pair can clear the threshold even if cells collide
    val v = Array(1.0f, 0.0f, 0.0f, 0.0f)
    val w = Array(0.0f, 1.0f, 0.0f, 0.0f)
    val u = Array(0.0f, 0.0f, 1.0f, 0.0f)
    val emb = Seq((1L, v), (2L, v), (3L, v), (10L, w), (11L, w), (20L, u))
      .toDF("vec_id", "embedding")
    val out = graft.operators.Similarity
      .semanticDedup(emb, "vec_id", "embedding", nlist = 4, threshold = 0.4)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getBoolean(3))).toMap
    assert(out(1L) == ((1L, true)) && out(2L) == ((1L, false)) && out(3L) == ((1L, false)))
    assert(out(10L) == ((10L, true)) && out(11L) == ((10L, false)))
    assert(out(20L) == ((20L, true)))
  }

  test("semanticDedup plan: no corpus-wide cross join, no window") {
    val emb = Seq((1L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    // refineTarget = None: the refined default returns a checkpoint scan
    // whose plan is opaque — the assert needs the raw lazy construction
    val plan = graft.operators.Similarity
      .semanticDedup(emb, "vec_id", "embedding", nlist = 2, threshold = 0.5,
        refineTarget = None)
      .queryExecution.optimizedPlan.toString.toLowerCase
    assert(!plan.contains("cartesian"), s"cartesian product in plan:\n$plan")
    assert(!plan.contains("windowexpression"), s"window in plan:\n$plan")
  }

  // --- bpeTrain -------------------------------------------------------

  /** Naive reference BPE (word-freq dict, greedy left-to-right merge,
    * (count desc, pair asc) tie-break) — the in-test oracle. */
  private def naiveBpe(wordFreq: Map[String, Long], nMerges: Int)
  : (List[(String, String, Long)], Map[String, List[String]]) = {
    var vocab = wordFreq.map { case (w, f) => w -> (f, w.map(_.toString).toList) }
    val merges = scala.collection.mutable.ListBuffer.empty[(String, String, Long)]
    var done = false
    var i = 0
    while (i < nMerges && !done) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      vocab.values.foreach { case (f, syms) =>
        syms.zip(syms.drop(1)).foreach(p => counts(p) = counts.getOrElse(p, 0L) + f)
      }
      if (counts.isEmpty || counts.values.max < 2) done = true
      else {
        val ((a, b), n) = counts.toSeq.minBy { case ((x, y), c) => (-c, x + " " + y) }
        merges += ((a, b, n))
        vocab = vocab.map { case (w, (f, syms)) =>
          val out = scala.collection.mutable.ListBuffer.empty[String]
          var j = 0
          while (j < syms.length) {
            if (j + 1 < syms.length && syms(j) == a && syms(j + 1) == b) {
              out += (a + b); j += 2
            } else { out += syms(j); j += 1 }
          }
          w -> (f, out.toList)
        }
        i += 1
      }
    }
    (merges.toList, vocab.map { case (w, (_, s)) => w -> s })
  }

  test("bpeTrain matches naive BPE on the classic corpus, incl. a==b merges") {
    // Sennrich-flavored toy corpus plus an aaa-run word to force the
    // greedy a==b case; freqs via repetition
    val docs = Seq(
      (1L, "low low low low low"),
      (2L, "lower lower newest newest"),
      (3L, "newest newest newest newest widest widest"),
      (4L, "aaab aaab aaab")
    ).toDF("doc_id", "text")
    val wordFreq = Map("low" -> 5L, "lower" -> 2L, "newest" -> 6L,
      "widest" -> 2L, "aaab" -> 3L)
    val (expMerges, expVocab) = naiveBpe(wordFreq, 8)

    val (merges, vocab) = TA.bpeTrain(docs, "text", 8)
    val gotMerges = merges.orderBy("rank").collect()
      .map(r => (r.getString(1), r.getString(2), r.getLong(4))).toList
    assert(gotMerges == expMerges)
    val gotVocab = vocab.collect()
      .map(r => r.getString(0) -> r.getSeq[String](2).toList).toMap
    assert(gotVocab == expVocab)
    // the aaa-run merged greedily: "aaab" under merge (a,a) keeps the
    // odd 'a' separate (never ["a","aa",…] right-to-left)
    assert(expVocab("aaab").mkString("|") == gotVocab("aaab").mkString("|"))
  }

  test("bpeTrain stops early when no pair repeats; empty corpus is empty") {
    val docs = Seq((1L, "ab cd")).toDF("doc_id", "text")
    val (merges, _) = TA.bpeTrain(docs, "text", 10)
    assert(merges.count() == 0L) // every pair count is 1 — nothing to merge
    val none = Seq((1L, "")).toDF("doc_id", "text")
    val (m2, v2) = TA.bpeTrain(none, "text", 3)
    assert(m2.count() == 0L && v2.count() == 0L)
  }

  test("bpeTrain plan: rounds run on the vocab frame, not the corpus") {
    // after round 1 the lineage must be a checkpointed (vocab-sized)
    // RDD scan — the corpus parquet/localtable never re-enters
    val docs = Seq((1L, "xy xy xy zz")).toDF("doc_id", "text")
    val (_, vocab) = TA.bpeTrain(docs, "text", 2)
    val plan = vocab.queryExecution.optimizedPlan.toString
    assert(plan.contains("LogicalRDD") || plan.contains("ExistingRDD"),
      s"expected checkpointed vocab lineage:\n$plan")
    assert(!plan.toLowerCase.contains("localrelation"),
      s"corpus re-entered the round lineage:\n$plan")
  }

  test("bm25: empty doc scores zero; plan is shuffle-free for the corpus") {
    val docs = Seq((1L, ""), (2L, "x")).toDF("doc_id", "text")
    val out = TA.bm25(docs, "doc_id", "text", Seq("x")).orderBy("id").collect()
    assert(out(0).getDouble(2) == 0.0 && out(0).getLong(1) == 0)
    assert(out(1).getDouble(2) > 0)
    // structural: no window, no sort-merge join — stats meet the scan
    // via a broadcast of one row
    val plan = TA.bm25(docs, "doc_id", "text", Seq("x"))
      .queryExecution.optimizedPlan.toString.toLowerCase
    assert(!plan.contains("windowexpression"))
  }

  // --- crossCorpusNearDups --------------------------------------------

  test("crossCorpusNearDups: cross-side pairs only, colliding ids safe") {
    // doc 1 in A and doc 1 in B share an id but different text — the
    // packed-id space keeps them distinct. A's two internal dups (1,2)
    // must NOT pair; A1~B7 and A2~B7 must.
    val t = "the quick brown fox jumps over the lazy dog again and again"
    val a = Seq((1L, t), (2L, t), (3L, "completely different words here now ok"))
      .toDF("doc_id", "text")
    val b = Seq((1L, "unrelated corpus text that matches nothing at all"),
      (7L, t)).toDF("doc_id", "text")
    val got = Dedup.crossCorpusNearDups(a, b, "doc_id", "text",
      shingleWidth = 3, numHashes = 12, bands = 4, threshold = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toList
      .sortBy(p => (p._1, p._2))
    assert(got.map(p => (p._1, p._2)) == List((1L, 7L), (2L, 7L)),
      s"got $got")
    got.foreach(p => assert(p._3 == 1.0)) // identical text → jaccard 1
  }

  // --- bpeSegment / bpeEncode ----------------------------------------

  test("bpeSegment applies merges greedily in rank order, OOV included") {
    val words = Seq("abcab", "zzz", "ab", "a", "").toDF("word")
    val merges = Seq(("a", "b"), ("ab", "c"))
    val got = TA.bpeSegment(words, "word", merges).collect()
      .map(r => r.getString(0) -> r.getSeq[String](1).toList).toMap
    // "abcab": (a,b) → [ab, c, ab]; (ab,c) → [abc, ab]
    assert(got("abcab") == List("abc", "ab"))
    assert(got("zzz") == List("z", "z", "z")) // untouched by either merge
    assert(got("ab") == List("ab"))
    assert(got("a") == List("a"))
    assert(got("") == Nil)
  }

  test("bpeEncode on the training corpus reproduces the trainer's counts") {
    val docs = Seq(
      (1L, "low low low low low"),
      (2L, "lower lower newest newest"),
      (3L, "newest newest newest newest widest widest"),
      (4L, "")
    ).toDF("doc_id", "text")
    val wordFreq = Map("low" -> 5L, "lower" -> 2L, "newest" -> 6L,
      "widest" -> 2L)
    val (expMerges, expVocab) = naiveBpe(wordFreq, 6)
    val (mergesDf, _) = TA.bpeTrain(docs, "text", 6)
    val merges = mergesDf.orderBy("rank").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    assert(merges.toList == expMerges.map(m => (m._1, m._2)))
    val got = TA.bpeEncode(docs, "doc_id", "text", merges)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toList
    def enc(ws: Seq[String]) = (ws.size.toLong, ws.map(expVocab(_).size.toLong).sum)
    val exp = List(
      (1L, enc(Seq.fill(5)("low"))),
      (2L, enc(Seq("lower", "lower", "newest", "newest"))),
      (3L, enc(Seq.fill(4)("newest") ++ Seq.fill(2)("widest"))),
      (4L, (0L, 0L))).map { case (id, (nw, nb)) => (id, nw, nb) }
    assert(got == exp)
  }

  // The merges run once per distinct word (the kernel's per-task memo), in
  // one projection over docs: no exchange, aggregate, join or window.
  test("bpeEncode plan: merges run on the distinct-word frame, no window") {
    val docs = Seq((1L, "xy xy zz")).toDF("doc_id", "text")
    val df = TA.bpeEncode(docs, "doc_id", "text", Seq(("x", "y")))
    val plan = df.queryExecution.optimizedPlan.toString.toLowerCase
    assert(!plan.contains("windowexpression"), s"window in plan:\n$plan")
    assert(!plan.contains("cartesian"), s"cartesian in plan:\n$plan")
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, Repartition, RepartitionByExpression}
    val shuffling = df.queryExecution.optimizedPlan.collect {
      case n @ (_: Aggregate | _: Join | _: Repartition | _: RepartitionByExpression) => n.nodeName
    }
    assert(shuffling.isEmpty, s"bpeEncode plans ${shuffling.mkString(", ")}:\n$plan")
    val physical = df.queryExecution.executedPlan.toString.toLowerCase
    Seq("exchange", "aggregate", "join").foreach(n =>
      assert(!physical.contains(n), s"$n in the physical plan:\n$physical"))
    assert(df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq((1L, 3L, 4L))) // xy → 1 symbol twice, zz → 2
  }

  test("bpeEncode contract: null, blank, astral and invalid UTF-8 text; ids are keys") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{BinaryType, LongType, StructField, StructType}
    val ab = Seq(("a", "b"))
    val astral = Seq(("\uD83D\uDE00", "x")) // 😀 + x
    def utf8(s: String): Array[Byte] = s.getBytes("UTF-8")
    // (case, merges, (id, text bytes) rows, expected (id, n_words, n_bpe_tokens) rows)
    val cases: Seq[(String, Seq[(String, String)], Seq[(java.lang.Long, Array[Byte])],
                    Seq[(Option[Long], Long, Long)])] = Seq(
      ("null text", ab, Seq((1L, null)), Seq((Some(1L), 0L, 0L))),
      ("empty text", ab, Seq((1L, utf8(""))), Seq((Some(1L), 0L, 0L))),
      ("blank text", ab, Seq((1L, utf8(" \t\n\r\u000B\f "))), Seq((Some(1L), 0L, 0L))),
      // 😀x merges to one symbol; 𝒜𝒷 is two code points (four UTF-16 units)
      ("astral text", astral, Seq((1L, utf8("\uD83D\uDE00x \uD835\uDC9C\uD835\uDCB7"))),
        Seq((Some(1L), 2L, 3L))),
      ("empty merge list: tokens are code points", Nil,
        Seq((1L, utf8("\uD83D\uDE00x \uD835\uDC9C\uD835\uDCB7 ab"))), Seq((Some(1L), 3L, 6L))),
      // 'a', a stray continuation byte, a space, a truncated 3-byte lead, 'b':
      // split(word, "") reads 0x80 as one character and 0xE6 as the lead
      // of a 3-byte character that swallows the 'b'
      ("invalid UTF-8", ab, Seq((1L, Array[Byte](0x61, 0x80.toByte, 0x20, 0xE6.toByte, 0x62))),
        Seq((Some(1L), 2L, 3L))),
      ("null id counts its text", ab, Seq((null, utf8("ab ab c"))), Seq((None, 3L, 3L))),
      ("duplicate ids: each row on its own text", ab,
        Seq((7L, utf8("ab")), (7L, utf8("ab cd")), (8L, null)),
        Seq((Some(7L), 1L, 1L), (Some(7L), 2L, 3L), (Some(8L), 0L, 0L))))
    val schema = StructType(Seq(StructField("doc_id", LongType), StructField("raw", BinaryType)))
    cases.foreach { case (name, merges, rows, want) =>
      val docs = spark.createDataFrame(
          spark.sparkContext.parallelize(rows.map { case (id, b) => Row(id, b) }, 2), schema)
        .select(col("doc_id"), col("raw").cast("string").as("text"))
      val out = TA.bpeEncode(docs, "doc_id", "text", merges)
      assert(out.columns.toSeq == Seq("doc_id", "n_words", "n_bpe_tokens"), name)
      assert(!out.schema("n_words").nullable && !out.schema("n_bpe_tokens").nullable, name)
      val got = out.collect().map(r =>
        (if (r.isNullAt(0)) None else Some(r.getLong(0)), r.getLong(1), r.getLong(2))).toSeq
      assert(got.sortBy(_.toString) == want.sortBy(_.toString), name)
    }
  }

  // --- dsirLogRatio ---------------------------------------------------

  /** JVM twin of Sampling.hashBucket256: first two hex chars of md5. */
  private def bucket256(tok: String): Int = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(tok.getBytes("UTF-8"))
    ((d(0) >> 4) & 0xf) * 16 + (d(0) & 0xf)
  }

  test("dsirLogRatio matches the closed-form hashed-unigram model") {
    val docs = Seq(
      (1L, "alpha beta alpha", "en"),
      (2L, "gamma gamma delta", "de"),
      (3L, "alpha delta", "en"),
      (4L, "", "de")
    ).toDF("doc_id", "text", "lang")
    // independent replay: bucket counts over all tokens, target = en
    val toks = Seq(
      (1L, Seq("alpha", "beta", "alpha"), true),
      (2L, Seq("gamma", "gamma", "delta"), false),
      (3L, Seq("alpha", "delta"), true))
    val src = scala.collection.mutable.Map.empty[Int, Long]
    val tgt = scala.collection.mutable.Map.empty[Int, Long]
    toks.foreach { case (_, ws, isT) => ws.foreach { w =>
      val b = bucket256(w)
      src(b) = src.getOrElse(b, 0L) + 1
      if (isT) tgt(b) = tgt.getOrElse(b, 0L) + 1
    }}
    val srcT = src.values.sum; val tgtT = toks.filter(_._3).map(_._2.size).sum
    def lr(b: Int) =
      math.log((tgt.getOrElse(b, 0L) + 1).toDouble / (tgtT + 256)) -
        math.log((src(b) + 1).toDouble / (srcT + 256))
    val exp = toks.map { case (id, ws, _) => id -> ws.map(w => lr(bucket256(w))).sum }.toMap
    val got = graft.operators.Sampling
      .dsirLogRatio(docs, "doc_id", "text", col("lang") === "en")
      .orderBy("doc_id").collect()
    assert(got.map(_.getLong(0)).toList == List(1L, 2L, 3L, 4L))
    toks.foreach { case (id, ws, _) =>
      val row = got(id.toInt - 1)
      assert(row.getLong(1) == ws.size)
      assert(math.abs(row.getDouble(2) - exp(id)) < 1e-9,
        s"doc $id: got ${row.getDouble(2)}, expected ${exp(id)}")
    }
    assert(got(3).getLong(1) == 0L && got(3).getDouble(2) == 0.0)
    // target-looking docs score above source-looking docs
    assert(got(0).getDouble(2) > got(1).getDouble(2))
    // structural: no window anywhere in the plan
    val plan = graft.operators.Sampling
      .dsirLogRatio(docs, "doc_id", "text", col("lang") === "en")
      .queryExecution.optimizedPlan.toString.toLowerCase
    assert(!plan.contains("windowexpression"), s"window in plan:\n$plan")
  }

  test("logisticTrain matches an independent GD replay; separates labels") {
    val docs = Seq(
      (1L, "good clean prose here", "en"),
      (2L, "good solid prose indeed", "en"),
      (3L, "zxq vvk qqj", "de"),
      (4L, "vvk zxq zxq", "de"),
      (5L, "", "de")
    ).toDF("doc_id", "text", "lang")
    // independent replay: features by JVM md5 bucket, 3 GD rounds
    val corpus = Seq(
      (1L, Seq("good", "clean", "prose", "here"), 1.0),
      (2L, Seq("good", "solid", "prose", "indeed"), 1.0),
      (3L, Seq("zxq", "vvk", "qqj"), 0.0),
      (4L, Seq("vvk", "zxq", "zxq"), 0.0),
      (5L, Seq.empty[String], 0.0))
    val feats = corpus.map { case (id, ws, y) =>
      val m = ws.groupBy(bucket256).view.mapValues(_.size.toDouble / ws.size).toMap
      (id, y, m)
    }
    val w = Array.fill(256)(0.0); var b = 0.0
    val n = corpus.size.toDouble
    for (_ <- 1 to 3) {
      val ps = feats.map { case (id, y, m) =>
        (id, y, m, 1.0 / (1.0 + math.exp(-(m.map { case (k, x) => w(k) * x }.sum + b))))
      }
      val grad = Array.fill(256)(0.0)
      ps.foreach { case (_, y, m, p) => m.foreach { case (k, x) => grad(k) += (p - y) * x } }
      val bg = ps.map { case (_, y, _, p) => p - y }.sum / n
      for (i <- 0 until 256) w(i) -= 0.5 * grad(i) / n
      b -= 0.5 * bg
    }
    val expP = feats.map { case (id, _, m) =>
      id -> 1.0 / (1.0 + math.exp(-(m.map { case (k, x) => w(k) * x }.sum + b)))
    }.toMap

    val C = graft.operators.Classifier
    val (gw, gb) = C.logisticTrain(docs, "doc_id", "text", col("lang") === "en", 3, 0.5)
    assert(math.abs(gb - b) < 1e-12)
    (0 until 256).foreach(i => assert(math.abs(gw(i) - w(i)) < 1e-12,
      s"w($i): ${gw(i)} vs ${w(i)}"))
    val got = C.logisticScore(docs, "doc_id", col("lang") === "en",
        C.hashedFeatures(docs, "doc_id", "text", col("lang") === "en"), gw, gb)
      .orderBy("doc_id").collect()
    got.foreach(r => assert(math.abs(r.getDouble(2) - expP(r.getLong(0))) < 1e-12))
    // the classifier separates: every en doc scores above every de doc
    val (en, de) = got.partition(_.getDouble(1) == 1.0)
    assert(en.map(_.getDouble(2)).min > de.map(_.getDouble(2)).max)
    // zero-token doc rides the bias alone
    assert(math.abs(got(4).getDouble(2) - 1.0 / (1.0 + math.exp(-gb))) < 1e-12)
    // structural: no windows in the scoring plan
    val plan = C.logisticScore(docs, "doc_id", col("lang") === "en",
        C.hashedFeatures(docs, "doc_id", "text", col("lang") === "en"), gw, gb)
      .queryExecution.optimizedPlan.toString.toLowerCase
    assert(!plan.contains("windowexpression"), s"window in plan:\n$plan")
  }

  test("temperatureMix: closed-form weights, alpha=1 is proportional") {
    // groups: a=900 tokens (9 docs x 100), b=100 (1 x 100)
    val docs = ((1 to 9).map(i => (i.toLong, "a", 100L)) :+ (10L, "b", 100L))
      .toDF("doc_id", "grp", "nt")
    val half = graft.operators.Sampling
      .temperatureMix(docs, "grp", col("nt"), alpha = 0.5, budgetTokens = 1000L)
      .orderBy("grp").collect()
    // p_a = 30/(30+10) = 0.75, p_b = 0.25
    assert(half(0).getLong(1) == 900L && half(1).getLong(1) == 100L)
    assert(math.abs(half(0).getDouble(2) - 0.75) < 1e-12)
    assert(math.abs(half(1).getDouble(2) - 0.25) < 1e-12)
    // epochs: a = 0.75*1000/900, b = 0.25*1000/100 = 2.5 (tail over-epochs)
    assert(math.abs(half(0).getDouble(3) - 750.0 / 900) < 1e-12)
    assert(math.abs(half(1).getDouble(3) - 2.5) < 1e-12)
    val prop = graft.operators.Sampling
      .temperatureMix(docs, "grp", col("nt"), alpha = 1.0, budgetTokens = 1000L)
      .orderBy("grp").collect()
    assert(math.abs(prop(0).getDouble(2) - 0.9) < 1e-12)
    // alpha=1: every group runs exactly budget/corpus epochs
    assert(math.abs(prop(0).getDouble(3) - 1.0) < 1e-12)
    assert(math.abs(prop(1).getDouble(3) - 1.0) < 1e-12)
  }

  test("dsirLogRatio sampled model: every token still scored, no drops") {
    // with a sampled model pass, buckets unseen by the sample must still
    // score via the completed (smoothed) model frame — n_toks may never
    // shrink. 40 docs so some survive any md5-keyed half-sample.
    val docs = (1L to 40L).map(i =>
      (i, s"tok$i alpha tok${i + 100}", if (i % 2 == 0) "en" else "de"))
      .toDF("doc_id", "text", "lang")
    val got = graft.operators.Sampling
      .dsirLogRatio(docs, "doc_id", "text", col("lang") === "en",
        modelSampleFraction = 0.5)
      .orderBy("doc_id").collect()
    assert(got.length == 40)
    got.foreach(r => assert(r.getLong(1) == 3L,
      s"doc ${r.getLong(0)}: n_toks ${r.getLong(1)} — sampled model dropped tokens"))
  }
}
