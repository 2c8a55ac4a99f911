package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TopKByScore
import graft.core.Ckpt
import graft.core.Ckpt.CkptOps

/** Similarity search over embedding columns (`array<float>`).
  *
  * Baseline: brute-force cosine top-k — a broadcast of the (small) query
  * set against a full corpus scan; one shuffle for the per-query top-k.
  * Scale path: md5-seeded random-hyperplane LSH buckets, so candidate
  * generation is a bucket-equality join instead of a cross join. All
  * pseudo-randomness is md5-derived — deterministic, engine-portable, and
  * reproducible against the DuckDB oracle.
  *
  * Vector math rides the native codegen'd [[graft.functions.DotProductExpr]]
  * (reads float embeddings directly — no array<double> cast projection),
  * with norms precomputed per side so each candidate pair costs one dot
  * product. Measured history: unrolling into 64 element_at terms was ~2×
  * slower than the zip_with lambda; the native loop beats the lambda ~5×
  * on the near-dup join.
  */
object Similarity {

  /** Σ aᵢ·bᵢ over two array<double|float> columns, via the native
    * [[graft.functions.DotProductExpr]] (codegen'd tight loop). Requires
    * `GraftFunctions.register(spark)` or the GraftExtensions SQL
    * extension on the session — every graft query entry registers
    * idempotently. The interpreted fallback below needs no registration. */
  def dot(a: Column, b: Column): Column = call_function("graft_dot", a, b)

  /** Registration-free dot product: `zip_with` + `aggregate` built-ins.
    * Higher-order-function lambdas run interpreted — measurably slower
    * per element — but need nothing on the session. */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (p, q) => p * q), lit(0.0), (acc, v) => acc + v)

  def norm(v: Column): Column = sqrt(dot(v, v))

  /** Cosine similarity — self-contained (norms recomputed per call);
    * hot paths below precompute norms instead. */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** md5-derived ±1 hyperplane sign: +1 iff the first hex digit of
    * md5("p-j") is ≥ '8'. Computed on the driver; identical to the SQL
    * `substr(md5(p || '-' || j), 1, 1) BETWEEN '8' AND 'f'` the oracle
    * uses, so buckets match bit-for-bit. */
  private[graft] def planeSign(plane: Int, dim: Int): Double = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$plane-$dim".getBytes("UTF-8"))
    if (((d(0) >> 4) & 0xf) >= 8) 1.0 else -1.0
  }

  private[operators] def vecDims(df: DataFrame, vecCol: String): Int =
    df.select(size(col(vecCol))).first().getInt(0)

  /** The random-hyperplane bucket id as a PURE COLUMN EXPRESSION over an
    * array<double> vector column: bit p is the sign of Σ_j v_j·s(p,j),
    * sign matrix inlined as literals. Being an expression (not a
    * DataFrame), consumers attach it to their own scan — no join back by
    * id, no second read of the corpus. `planeOffset` selects a disjoint
    * plane family (for multi-table LSH); 0 is the q36-oracle family. */
  def bucketExpr(vec: Column, planes: Int, dims: Int, planeOffset: Int = 0): Column =
    (0 until planes).map { p =>
      val signs = array((0 until dims).map(j => lit(planeSign(planeOffset + p, j))): _*)
      when(dot(vec, signs) > 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Random-hyperplane LSH bucket per vector — [[bucketExpr]] over one
    * narrow projection: no explode, no join, no shuffle; it pipelines
    * into whatever scan feeds it. That is the shape that survives a
    * 100 TB corpus. */
  def hyperplaneBuckets(emb: DataFrame, idCol: String, vecCol: String,
                        planes: Int): DataFrame = {
    val dims = vecDims(emb, vecCol)
    emb.select(col(idCol).as("id"),
      bucketExpr(col(vecCol), planes, dims).as("bucket"))
  }

  /** Distributed per-query top-k over a scored candidate frame
    * (qid, nid, scoreCol): the bounded [[TopKByScore]] aggregate ranks by
    * (score desc, nid asc) with MAP-SIDE partial top-ks, so the exchange
    * carries at most k entries per (query × task) and no task ever holds
    * a query's full candidate set — unlike `Window.partitionBy(qid)`,
    * which materializes every candidate of a query in ONE task (the
    * 100 TB single-task bottleneck this replaces). Rank comes from the
    * position in the sorted top-k array: no window anywhere in the plan.
    * Bit-identical to the single-window form — top-k selection commutes
    * with partitioning and the (rounded score desc, id asc) order is
    * total. */
  private def topKByQuery(scored: DataFrame, k: Int, scoreCol: String,
                          outScore: String): DataFrame =
    topKPerGroup(scored.select(col("qid"), col(scoreCol).as(outScore), col("nid")),
      "qid", outScore, "nid", k)

  /** Per-GROUP bounded top-k over ANY scored frame — the public generic
    * form of the per-query ranking above (same aggregate, caller's
    * column names): top-k docs by quality per language, top-k products
    * by revenue per brand, etc. Emits (group, rank, id, score) with
    * rank 1..k following (score desc, id asc). `idCol` must be a long
    * id (the deterministic tiebreak); ties on score are resolved by it,
    * so results are total-ordered and engine-reproducible. No window
    * anywhere in the plan — the classic `Window.partitionBy(group)` +
    * `row_number <= k` holds every row of a group in one task, this
    * shape never does. */
  def topKPerGroup(df: DataFrame, groupCol: String, scoreCol: String,
                   idCol: String, k: Int): DataFrame = {
    val tk = udaf(new TopKByScore(k))
    // graft_barrier (a declared-non-deterministic identity) pins the
    // caller's scoring tree in its OWN codegen'd projection: without
    // it the optimizer collapses the score expressions into the udaf's
    // input, where they evaluate interpreted per row — measured 2.3 s
    // vs 0.17 s on q80's 30-node ADC tree over 20k candidate rows
    // (OPTIMIZATION_r19.md). Values are unchanged (identity).
    graft.functions.GraftFunctions.register(df.sparkSession) // idempotent
    df.select(col(groupCol), call_function("graft_barrier", col(scoreCol)).as(scoreCol),
        col(idCol))
      .groupBy(col(groupCol))
      .agg(tk(col(scoreCol), col(idCol)).as("__tk"))
      .select(col(groupCol), posexplode(col("__tk.items")).as(Seq("__r", "__item")))
      .select(col(groupCol), (col("__r") + 1).cast("long").as("rank"),
        col("__item.id").as(idCol), col("__item.score").as(scoreCol))
  }

  /** Int8 scalar quantization of an embedding column — the standard ANN
    * index-compression step (4× smaller vectors, table scans stay
    * bandwidth-bound). Two phases, both scale-shaped: per-dimension
    * min/max stats via one partial-aggregated shuffle of #dims keys,
    * collected (bounded by dims) and inlined as literals; then
    * quantization is a PURE MAP-SIDE projection — code_i =
    * floor((x_i−mn_i)/(mx_i−mn_i)·255 + 0.5), constant dims → 0.
    * `floor` (not `round`): identical double inputs floor identically
    * in every engine, while round-half algorithms differ. Returns per
    * vector: the code sum (integer-exact audit), max and mean absolute
    * reconstruction error (sequential left-fold sum, matching an SQL
    * engine's ordered list_sum). */
  /** Per-dimension (min, max) corpus stats — one partial-aggregated
    * #dims-key shuffle, collected (bounded by dims). */
  private def dimStats(emb: DataFrame, vecCol: String): (Array[Double], Array[Double]) = {
    val stats = emb.select(posexplode(col(vecCol)).as(Seq("dim", "v")))
      .groupBy(col("dim"))
      .agg(min(col("v").cast("double")).as("mn"), max(col("v").cast("double")).as("mx"))
      .orderBy(col("dim")).collect()
    (stats.map(_.getDouble(1)), stats.map(_.getDouble(2)))
  }

  /** Codes for one vector column against literal per-dim stats. */
  private def codesExpr(vec: Column, mins: Column, maxs: Column): Column =
    transform(transform(vec, x => x.cast("double")), (x, i) => {
      val mn = get(mins, i); val mx = get(maxs, i)
      when(mx === mn, lit(0.0))
        .otherwise(floor((x - mn) / (mx - mn) * lit(255.0) + lit(0.5)))
    })

  /** De-quantized (reconstructed) vector from codes. */
  private def reconExpr(codes: Column, mins: Column, maxs: Column): Column =
    transform(codes, (q, i) => {
      val mn = get(mins, i); val mx = get(maxs, i)
      mn + q * (mx - mn) / lit(255.0)
    })

  def scalarQuantizeInt8(emb: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val (mnArr, mxArr) = dimStats(emb, vecCol)
    val mins = typedLit(mnArr)
    val maxs = typedLit(mxArr)
    val xd = transform(col(vecCol), x => x.cast("double"))
    val codes = codesExpr(col(vecCol), mins, maxs)
    val recon = reconExpr(codes, mins, maxs)
    val errs = zip_with(xd, recon, (x, r) => abs(r - x))
    emb.select(col(idCol).as("id"),
      aggregate(codes, lit(0L), (acc, q) => acc + q.cast("long")).as("q_sum"),
      array_max(errs).as("max_abs_err"),
      (aggregate(errs, lit(0.0), (acc, e) => acc + e) / size(xd)).as("mean_abs_err"))
  }

  /** Quantized search + exact rerank — the PQ-style two-stage ANN pattern:
    * score every candidate on the 4×-compressed int8 RECONSTRUCTION
    * (approximate cosine, cheap and bandwidth-friendly at corpus scale),
    * keep the top `rerank` per query, then rerank only those survivors
    * with the exact float cosine and return the top `k`. Per-dim stats
    * ride [[dimStats]] (one #dims-key shuffle, inlined as literals);
    * both stages broadcast the query side; approximate and exact scores
    * are rounded before ranking with an id tiebreak, so FP summation
    * order can never flip a rank. The approximate fold is a sequential
    * left fold over doubles — the same arithmetic an SQL engine's
    * ordered list_sum replays. */
  def quantizedRerankTopK(corpus: DataFrame, queries: DataFrame,
                          idCol: String, vecCol: String, k: Int,
                          rerank: Int): DataFrame = {
    require(k > 0 && rerank >= k)
    val (mnArr, mxArr) = dimStats(corpus, vecCol)
    val mins = typedLit(mnArr); val maxs = typedLit(mxArr)
    def recon(vec: Column) = reconExpr(codesExpr(vec, mins, maxs), mins, maxs)
    // dotHof, not graft_dot: the reconstruction is array<double> (the
    // native expression is float-only) and the HOF's sequential left
    // fold is the parity-bearing arithmetic here
    val c = corpus.select(col(idCol).as("nid"), col(vecCol).as("nvec"),
        recon(col(vecCol)).as("nr"))
      .withColumn("nrnorm", sqrt(dotHof(col("nr"), col("nr"))))
      .withColumn("nnorm", norm(col("nvec")))
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qvec"),
        recon(col(vecCol)).as("qr"))
      .withColumn("qrnorm", sqrt(dotHof(col("qr"), col("qr"))))
      .withColumn("qnorm", norm(col("qvec")))
    val approx = c.crossJoin(broadcast(q))
      .filter(col("nid") =!= col("qid"))
      .select(col("qid"), col("nid"),
        round(dotHof(col("qr"), col("nr")) / (col("qrnorm") * col("nrnorm"))
          + lit(1e-9), 4).as("approx"))
    // stage 1 keeps only (qid, nid) survivors via the bounded top-k
    // aggregate — no corpus-sized window partition. Stage 2 then FETCHES
    // the survivors' original float vectors by id (broadcast of the
    // bounded rerank×|Q| survivor list against the corpus scan — the
    // PQ-index shape: codes rank, originals are re-read only for the
    // shortlist) and reranks exactly. Both stages stay window-free.
    val survivors = topKByQuery(approx, rerank, "approx", "approx")
      .select(col("qid"), col("nid"))
    val exact = corpus.select(col(idCol).as("nid"), col(vecCol).as("nvec"))
      .join(broadcast(survivors), "nid")
      .join(broadcast(q.select(col("qid"), col("qvec"), col("qnorm"))), "qid")
      .withColumn("nnorm", norm(col("nvec")))
      .select(col("qid"), col("nid"),
        round(dot(col("qvec"), col("nvec")) / (col("qnorm") * col("nnorm")), 4)
          .as("cosine"))
    topKByQuery(exact, k, "cosine", "cosine")
      .select(col("qid"), col("rank"), col("nid"), col("cosine"))
  }

  /** One Lloyd iteration of k-means over an embedding column: assign every
    * vector to its nearest of k centroids, then recompute per-cluster
    * per-dimension means. Centroids are the first k vectors by id
    * (deterministic seed); they are collected once (k rows, bounded) and
    * inlined as LITERALS, so assignment is a pure map-side projection —
    * k codegen'd `graft_dot` products per row, argmin via `least` over
    * (distance, cid) structs, NO crossJoin and NO assignment shuffle.
    * The only shuffle is the partial-aggregated (cluster, dim) mean.
    * Distance uses the reduced form −2·x·c + c·c (the x·x term is
    * constant across candidates), sequential double accumulation — the
    * same arithmetic an SQL engine's ordered list-dot replays, so ties
    * and near-ties rank identically. Iterating = calling this again with
    * the returned means as centroids. */
  def kmeansStep(emb: DataFrame, idCol: String, vecCol: String, k: Int): DataFrame =
    stepFrom(emb, vecCol, seedCentroids(emb, idCol, vecCol, k))

  private def seedCentroids(emb: DataFrame, idCol: String, vecCol: String,
                            k: Int): Array[(Long, Array[Float])] = {
    require(k > 0)
    emb.orderBy(col(idCol)).limit(k)
      .select(col(idCol).cast("long"), col(vecCol))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
  }

  private def stepFrom(emb: DataFrame, vecCol: String,
                       cents: Array[(Long, Array[Float])]): DataFrame = {
    val vec = col(vecCol)
    // Assignment as ONE native expression (r20): the former k-candidate
    // `least(struct(-2·dot+|c|², cid))` forest is the same expression
    // cliff PqCodesExpr was built for in r19 (q80) — at k = 512 the
    // one-shot projection compiles outside JIT limits and runs as cold
    // bytecode. A single-subspace codebook (m = 1, ksub = k, dsub =
    // dims) computes the identical reduced-L2 argmin with identical
    // arithmetic (ascending double fold, d = −2s + |c|² with |c|²
    // precomputed from the same float-widened doubles) and the identical
    // tie-break: the centroids are sorted by cid here (seedCentroids
    // orders by the caller's id column, which for string ids is not
    // numeric order), so PqCodes' smaller-INDEX tie equals least's
    // smaller-CID tie for any input. The index maps back to the cid
    // through a k-element literal lookup.
    val sorted = cents.sortBy(_._1)
    val books: Array[Array[Array[Double]]] =
      Array(sorted.map(_._2.map(_.toDouble)))
    val cids: Array[Long] = sorted.map(_._1)
    val t = element_at(
      org.apache.spark.sql.GraftColumnShim.pqCodesColumn(vec, books), 1)
    val best = element_at(typedLit(cids), (t + 1).cast("int"))
    emb.select(best.as("cluster"), posexplode(vec).as(Seq("dim", "v")))
      .groupBy(col("cluster"), col("dim"))
      .agg(count(lit(1)).as("n_members"),
        avg(col("v").cast("double")).as("mean"))
  }

  /** Full Lloyd loop: seed from the first k vectors, repeat assignment +
    * means until the (float-quantized) centroids stop moving or maxIter.
    * Each round is ONE shuffle (the (cluster, dim) mean) plus a bounded
    * k×dims collect to rebuild the literal centroids — the classic
    * driver-coordinated iterate, with no growing lineage because each
    * round's plan is rebuilt from literals. Clusters that lose every
    * member keep their previous centroid (the standard empty-cluster
    * rule). Returns the final (cluster, dim, n_members, mean) frame. */
  def kmeansIterate(emb: DataFrame, idCol: String, vecCol: String, k: Int,
                    maxIter: Int = 10): DataFrame = {
    require(maxIter > 0)
    val seed = seedCentroids(emb, idCol, vecCol, k)
    // the seed step is round 1 of maxIter
    Ckpt.rounds((seed, stepFrom(emb, vecCol, seed)), maxIter - 1) { (st, _) =>
      val (cents, out) = st
      val byCluster = out.collect()
        .groupBy(_.getLong(0))
        .map { case (cid, rows) =>
          val arr = new Array[Float](rows.length)
          rows.foreach(r => arr(r.getInt(1)) = r.getDouble(3).toFloat)
          cid -> arr
        }
      val nextCents = cents.map { case (cid, old) =>
        (cid, byCluster.getOrElse(cid, old))
      }
      val converged = nextCents.zip(cents).forall {
        case ((_, a), (_, b)) => a.sameElements(b)
      }
      if (converged) (st, true)
      else ((nextCents, stepFrom(emb, vecCol, nextCents)), false)
    }._1._2
  }

  // ---------- Product quantization (PQ) ----------

  private def dotSeq(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }
  private def sqNormSeq(a: Array[Double]): Double = dotSeq(a, a)

  /** Deterministic PQ seed codebooks: subspace `j`'s `ksub` centroids are
    * the j-th slices of the first `ksub` vectors by id — the same seeding
    * rule as [[kmeansStep]], reproducible in any engine (refine with
    * [[pqTrainBooks]]). Doubles throughout; every later sum is a
    * sequential left fold, the arithmetic an SQL oracle's ordered
    * `list_sum` replays. Shape `books(sub)(centroid)(localDim)`. */
  def pqSeedBooks(emb: DataFrame, idCol: String, vecCol: String,
                  m: Int, ksub: Int): Array[Array[Array[Double]]] = {
    val dims = vecDims(emb, vecCol)
    require(m > 0 && dims % m == 0, s"dims $dims not divisible by m=$m")
    require(ksub > 0)
    val dsub = dims / m
    val rows = emb.orderBy(col(idCol)).limit(ksub)
      .select(col(vecCol)).collect()
      .map(_.getSeq[Float](0).toArray.map(_.toDouble))
    require(rows.length == ksub, s"corpus has ${rows.length} < ksub=$ksub vectors")
    Array.tabulate(m)(j => rows.map(v => v.slice(j * dsub, (j + 1) * dsub)))
  }

  /** PQ codes for one vector column against literal codebooks: code_j =
    * argmin_t of the reduced L2² to centroid t (−2·x·c + c·c; the x·x
    * term is constant across candidates), ties to the smaller centroid
    * id — a PURE MAP-SIDE projection, like every assignment step here:
    * the 100 TB corpus is encoded to m small ints per vector in one
    * scan, no join, no shuffle. */
  def pqCodesExpr(vec: Column, books: Array[Array[Array[Double]]]): Column =
    // ONE native codegen'd expression (r19): the previous
    // `array(least(struct(-2·dot(slice…)+|c|², cid)…)…)` forest was
    // m·ksub literal-dot nodes whose one-shot projection, when planned
    // OUTSIDE whole-stage codegen (e.g. feeding the ObjectHashAggregate
    // ranker), compiled into a method too large to JIT and ran as cold
    // bytecode — profiled at ~95 µs/row on q80's scoring stage
    // (OPTIMIZATION_r19.md). Identical arithmetic and tie-break, one
    // compact loop, plan shrinks by hundreds of nodes.
    org.apache.spark.sql.GraftColumnShim.pqCodesColumn(vec, books)

  /** PQ-encode a corpus: (id, codes array<long> of length m). */
  def pqEncode(emb: DataFrame, idCol: String, vecCol: String,
               books: Array[Array[Array[Double]]]): DataFrame =
    emb.select(col(idCol).as("id"), pqCodesExpr(col(vecCol), books).as("codes"))

  /** Per-subspace Lloyd refinement of [[pqSeedBooks]] — ALL m subspaces
    * advance together in ONE (sub, centroid, localDim) mean shuffle per
    * round (assignment is the map-side [[pqCodesExpr]] against literal
    * books; a per-subspace loop would scan the corpus m× per round).
    * Driver-coordinated like [[kmeansIterate]]: bounded m·ksub·dsub
    * collect per round rebuilds the literals, empty centroids keep their
    * previous position, convergence compares float-quantized books. */
  def pqTrainBooks(emb: DataFrame, idCol: String, vecCol: String,
                   m: Int, ksub: Int, maxIter: Int = 10): Array[Array[Array[Double]]] = {
    require(maxIter > 0)
    val seed = pqSeedBooks(emb, idCol, vecCol, m, ksub)
    val dsub = seed(0)(0).length
    Ckpt.rounds(seed, maxIter) { (books, _) =>
      val rows = emb
        .select(pqCodesExpr(col(vecCol), books).as("__codes"),
          posexplode(col(vecCol)).as(Seq("dim", "v")))
        .withColumn("sub", (col("dim") / dsub).cast("int"))
        .select(col("sub"),
          element_at(col("__codes"), col("sub") + 1).as("cid"),
          (col("dim") % dsub).as("ldim"), col("v").cast("double").as("v"))
        .groupBy(col("sub"), col("cid"), col("ldim"))
        .agg(avg(col("v")).as("mean"))
        .collect()
      val next = books.map(_.map(_.clone()))
      rows.foreach { r =>
        next(r.getInt(0))(r.getLong(1).toInt)(r.getInt(2)) = r.getDouble(3)
      }
      (next, next.zip(books).forall { case (nj, bj) =>
        nj.zip(bj).forall { case (nc, bc) =>
          nc.map(_.toFloat).sameElements(bc.map(_.toFloat))
        }
      })
    }._1
  }

  /** PQ asymmetric-distance (ADC) top-k: every corpus vector is scored
    * against each query through its m-byte code alone — score =
    * Σ_j lut[q][j][code_j], where the per-query lookup table holds the
    * reduced L2² from the query's j-th subvector to every centroid
    * (−2·q·c + c·c; the q·q term is constant per query, ranking
    * unchanged). The LUT (#queries·m·ksub doubles) is driver-built from
    * the broadcast-sized query side — the same bound every ranker here
    * puts on queries — and inlined as ONE map literal, so scoring is a
    * map-side fold over the codes: the corpus's floats are never read
    * again (PQ's point: the scan is code-bandwidth-bound, 4·dims/m
    * compression at ksub ≤ 256). Ranking: rounded distance asc, id asc,
    * through the bounded top-k aggregate — no window. Combine with the
    * IVF cells for candidate pruning; ADC is the scan-cost half. */
  def pqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
             vecCol: String, k: Int, m: Int, ksub: Int,
             trainedBooks: Option[Array[Array[Array[Double]]]] = None): DataFrame = {
    val books = trainedBooks.getOrElse(pqSeedBooks(corpus, idCol, vecCol, m, ksub))
    require(books.length == m && books.forall(_.length == ksub))
    val coded = corpus.select(col(idCol).as("nid"),
      pqCodesExpr(col(vecCol), books).as("__codes"))
    val pairs = coded.crossJoin(broadcast(
      queries.select(col(idCol).cast("long").as("qid"))))
    adcRank(pairs, pqLut(queries, idCol, vecCol, books, m), m, ksub, k)
  }

  /** Query-side ADC lookup tables: per query id, the m·ksub flattened
    * `-2·q_sub·c + |c|²` terms (the query-dependent half of the ADC
    * distance decomposition). Collected driver-side — queries are
    * broadcast-sized by contract. Shared by [[pqTopK]]/[[ivfPqTopK]] so
    * the LUT layout can never drift between them. */
  private def pqLut(queries: DataFrame, idCol: String, vecCol: String,
                    books: Array[Array[Array[Double]]],
                    m: Int): Map[Long, Seq[Double]] = {
    val dsub = books(0)(0).length
    queries.select(col(idCol).cast("long"), col(vecCol)).collect()
      .map { r =>
        val qv = r.getSeq[Float](1).toArray.map(_.toDouble)
        r.getLong(0) -> (0 until m).flatMap { j =>
          val qsub = qv.slice(j * dsub, (j + 1) * dsub)
          books(j).toSeq.map(cv => -2.0 * dotSeq(qsub, cv) + sqNormSeq(cv))
        }
      }.toMap
  }

  /** Shared ADC score + rank tail of [[pqTopK]]/[[ivfPqTopK]]: fold each
    * candidate's m-byte code against the inlined LUT, round (+0.0
    * normalizes IEEE −0.0 — engines disagree on its sign bit, not its
    * value), and rank distance ASC through the (score desc, id asc)
    * bounded aggregate on the negated rounded distance (negation of a
    * rounded double is exact). `pairs` carries (qid, nid, __codes). */
  private def adcRank(pairs: DataFrame, lutMap: Map[Long, Seq[Double]],
                      m: Int, ksub: Int, k: Int): DataFrame = {
    // the LUT fold UNROLLED over the m (plan-time constant) subspaces:
    // `transform` + `aggregate` higher-order lambdas run INTERPRETED per
    // row — they were the scan's dominant CPU — while the equivalent
    // chain of GetArrayItem additions is whole-stage codegen'd. The
    // per-query LUT lookup (a linear probe of the literal map) is
    // materialized ONCE per row in its own projection so the unrolled
    // terms index an attribute, not m copies of the map probe.
    // Summation order is unchanged (left fold, j ascending; the dropped
    // 0.0 seed only affects an IEEE −0.0 the +0.0 normalizer after
    // round() already kills), so scores are bit-identical (before/after
    // in OPTIMIZATION_r19.md).
    val contribSum = (0 until m).map { j =>
      element_at(col("__lut"), lit(j * ksub) + col("__codes")(j).cast("int") + lit(1))
    }.reduce(_ + _)
    val scored = pairs.filter(col("nid") =!= col("qid"))
      .withColumn("__lut", element_at(typedLit(lutMap), col("qid")))
      .select(col("qid"), col("nid"),
        (round(contribSum, 4) + lit(0.0)).as("adc"))
    topKByQuery(scored.withColumn("__neg", negate(col("adc"))), k, "__neg", "__neg")
      .select(col("qid"), col("rank"), col("nid"),
        (negate(col("__neg")) + lit(0.0)).as("adc"))
  }

  /** IVF+PQ top-k — the canonical billion-scale ANN layout (coarse
    * cells prune candidates, codes make each candidate cheap): the IVF
    * cell equi-join restricts scoring to the query's cell, then every
    * surviving candidate costs one fold over its m-byte PQ code against
    * the query's literal LUT — neither side's floats are touched after
    * the map-side cell/code projections. Same codebook/LUT machinery as
    * [[pqTopK]] (queries broadcast-sized, LUT inlined), same bounded
    * window-free ranking; cells are [[cellExpr]]'s deterministic
    * pseudo-centroids, exactly q48's. A hot cell is a hot JOIN key —
    * AQE-splittable — never a window partition. */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                vecCol: String, k: Int, nlist: Int, m: Int, ksub: Int,
                trainedBooks: Option[Array[Array[Array[Double]]]] = None): DataFrame = {
    val books = trainedBooks.getOrElse(pqSeedBooks(corpus, idCol, vecCol, m, ksub))
    require(books.length == m && books.forall(_.length == ksub))
    val dims = vecDims(corpus, vecCol)
    val c = corpus.select(col(idCol).as("nid"),
      cellExpr(col(vecCol), nlist, dims).as("cell"),
      pqCodesExpr(col(vecCol), books).as("__codes"))
    val q = queries.select(col(idCol).cast("long").as("qid"),
      cellExpr(col(vecCol), nlist, dims).as("cell"))
    val pairs = c.join(broadcast(q), "cell")
    adcRank(pairs, pqLut(queries, idCol, vecCol, books, m), m, ksub, k)
  }

  /** Brute-force cosine top-k: for each query vector, the k nearest corpus
    * vectors (excluding itself). Ranking key is (rounded cosine desc, id
    * asc) — rounded so FP summation order can never flip a rank. */
  def cosineTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                 vecCol: String, k: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("nid"),
        col(vecCol).as("nvec"))
      .withColumn("nnorm", norm(col("nvec")))
    val q = queries.select(col(idCol).as("qid"),
        col(vecCol).as("qvec"))
      .withColumn("qnorm", norm(col("qvec")))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("nid") =!= col("qid"))
      .select(col("qid"), col("nid"),
        round(dot(col("qvec"), col("nvec")) / (col("qnorm") * col("nnorm")), 4)
          .as("cosine"))
    // bounded top-k aggregate, not Window.partitionBy(qid): a window
    // partition here would hold the ENTIRE corpus per query in one task
    topKByQuery(scored, k, "cosine", "cosine")
      .select(col("qid"), col("rank"), col("nid"), col("cosine"))
  }

  /** Above this, [[cellExpr]] switches from flat argmax (O(nlist·dims)
    * per row) to the two-level product assignment (O(√nlist·dims)).
    * Every oracle-pinned query uses nlist = 4, far below the switch, so
    * the flat path — and its DuckDB parity — is untouched. */
  private[graft] val FlatNlistMax = 16

  private def bankArgmax(vec: Column, planes: Int, dims: Int,
                         seedBase: Int): Column = {
    val projs = array((0 until planes).map { c =>
      val signs = array((0 until dims).map(j => lit(planeSign(c + seedBase, j))): _*)
      dot(vec, signs)
    }: _*)
    (array_position(projs, array_max(projs)) - 1).cast("long")
  }

  /** The IVF cell id as a pure column expression: argmax projection onto
    * `nlist` deterministic pseudo-centroids (md5-derived ±1 direction
    * vectors — same family as the hyperplanes); same rationale as
    * [[bucketExpr]].
    *
    * SCALE PATH: flat argmax costs O(nlist·dims) PER ROW, and the
    * SemDeDup configuration grows nlist ∝ corpus (cells stay
    * ~constant-sized) — so assignment alone would be O(N²·dims/cell)
    * across the corpus, a quadratic term the x10 scale ladder exposed
    * before any join ran. Above [[FlatNlistMax]] the cell is therefore a
    * PRODUCT of two independent ⌈√nlist⌉-plane banks
    * (cell = argmax₁·side + argmax₂): O(√nlist·dims) per row, cell space
    * side² ≥ nlist, still a pure function of the vector (no assignment
    * shuffle, no trained state). The trade is partition granularity, not
    * correctness — every consumer treats the cell as an opaque
    * partitioner and [[probeCellsExpr]] ranks the same product space, so
    * nprobe = 1 keeps picking exactly this cell (the combo score is a
    * SEPARABLE sum, so its argmax is the pair of bank argmaxes). */
  def cellExpr(vec: Column, nlist: Int, dims: Int): Column =
    if (nlist <= FlatNlistMax) bankArgmax(vec, nlist, dims, 7919)
    else {
      val side = math.ceil(math.sqrt(nlist.toDouble)).toInt
      bankArgmax(vec, side, dims, 7919) * side +
        bankArgmax(vec, side, dims, 104729)
    }

  /** Size of [[cellExpr]]'s id domain: cell ids fall in [0, cellDomain).
    * Refinement needs it to allocate COLLISION-FREE child-cell ids —
    * `cell * fanout + idx` alone would let a child id land on another
    * ORIGINAL cell's id and silently merge their members. */
  private[graft] def cellDomain(nlist: Int): Long =
    if (nlist <= FlatNlistMax) nlist.toLong
    else {
      val side = math.ceil(math.sqrt(nlist.toDouble)).toLong
      side * side
    }

  def ivfAssign(emb: DataFrame, idCol: String, vecCol: String,
                nlist: Int): DataFrame = {
    val dims = vecDims(emb, vecCol)
    emb.select(col(idCol).as("id"),
      cellExpr(col(vecCol), nlist, dims).as("cell"))
  }

  /** IVF ANN top-k with nprobe=1: exact cosine within the query's cell.
    * Coarser than the hyperplane buckets (nlist cells vs 2^planes), which
    * trades recall for fewer, larger candidate lists. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int, nlist: Int): DataFrame = {
    val dims = vecDims(corpus, vecCol)
    // cell id is a pure function of the vector — computed inline on each
    // side's scan; joining an ivfAssign frame back by id would re-read
    // the corpus and shuffle it once more for nothing
    val c = corpus.select(col(idCol).as("nid"), col(vecCol).as("nvec"))
      .withColumn("nnorm", norm(col("nvec")))
      .withColumn("cell", cellExpr(col("nvec"), nlist, dims))
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qvec"))
      .withColumn("qnorm", norm(col("qvec")))
      .withColumn("cell", cellExpr(col("qvec"), nlist, dims))
    val scored = c.join(q, "cell")
      .filter(col("nid") =!= col("qid"))
      .select(col("qid"), col("nid"),
        round(dot(col("qvec"), col("nvec")) / (col("qnorm") * col("nnorm")), 4)
          .as("cosine"))
    // bounded aggregate, not Window.partitionBy(qid): a hot IVF cell puts a
    // query's whole candidate list in one bucket, and a window would pin it
    // to one task — the aggregate's map-side partial top-ks never do
    topKByQuery(scored, k, "cosine", "cosine")
  }

  /** The `nprobe` NEAREST pseudo-centroid cells of a vector, as an
    * in-row array expression — [[cellExpr]]'s top-1 generalized to the
    * IVF recall knob (proj desc, cell asc on ties; nprobe = 1 picks
    * exactly cellExpr's cell). Pure expression: consumers attach it to
    * their own scan, no join back, no second read. */
  def probeCellsExpr(vec: Column, nlist: Int, nprobe: Int, dims: Int): Column =
    if (nlist <= FlatNlistMax) {
      val entries = array((0 until nlist).map { c =>
        val signs = array((0 until dims).map(j => lit(planeSign(c + 7919, j))): _*)
        struct(negate(dot(vec, signs)).as("np"), lit(c.toLong).as("cell"))
      }: _*)
      transform(slice(array_sort(entries), 1, nprobe), s => s.getField("cell"))
    } else {
      // two-level product space (see cellExpr): rank (c1, c2) combos by
      // the SEPARABLE sum proj₁(c1) + proj₂(c2) — its argmax is the pair
      // of bank argmaxes, so nprobe = 1 is exactly cellExpr's cell.
      // PRUNING: a combo in the global top-p must draw each index from
      // its bank's top-p — if c1 ranks below p in bank 1 (np asc, idx
      // asc), the p better (c1', c2) combos all rank before (c1, c2),
      // ties included (equal np ⇒ smaller cell id ranks first). So sort
      // each bank once (O(side log side)) and enumerate only
      // min(p, side)² combos, instead of sorting all side² — the
      // difference between a query-side convenience and an expression
      // that still works at a 100 TB nlist (side ~10³).
      val side = math.ceil(math.sqrt(nlist.toDouble)).toInt
      val p = math.min(nprobe, side)
      def bankTop(seedBase: Int): Column = {
        val entries = array((0 until side).map { c =>
          val signs = array((0 until dims).map(j => lit(planeSign(c + seedBase, j))): _*)
          struct(negate(dot(vec, signs)).as("np"), lit(c.toLong).as("c"))
        }: _*)
        slice(array_sort(entries), 1, p)
      }
      val t1 = bankTop(7919); val t2 = bankTop(104729)
      val combos = flatten(transform(t1, a => transform(t2, b =>
        struct((a.getField("np") + b.getField("np")).as("np"),
          (a.getField("c") * side + b.getField("c")).as("cell")))))
      transform(slice(array_sort(combos), 1, nprobe), s => s.getField("cell"))
    }

  /** IVF ANN top-k with `nprobe` > 1 — the standard IVF recall lever:
    * each query probes its `nprobe` nearest cells instead of one, so
    * recall rises with candidate volume (≈ nprobe/nlist of the corpus
    * per query) while the plan stays the same cell-equality join —
    * never a wider scan. The corpus side keeps ONE cell per vector
    * (inline on its scan); only the QUERY side fans out ×nprobe (ids +
    * vectors of the small side). Ranking is the bounded [[TopKByScore]]
    * aggregate — a hot cell is a hot join key, AQE-splittable, never a
    * window partition. nprobe = 1 reproduces [[ivfTopK]] exactly. */
  def ivfTopKProbed(corpus: DataFrame, queries: DataFrame, idCol: String,
                    vecCol: String, k: Int, nlist: Int, nprobe: Int): DataFrame = {
    require(nprobe >= 1 && nprobe <= nlist,
      s"nprobe must be in [1, nlist=$nlist], got $nprobe")
    val dims = vecDims(corpus, vecCol)
    val c = corpus.select(col(idCol).as("nid"), col(vecCol).as("nvec"))
      .withColumn("nnorm", norm(col("nvec")))
      .withColumn("cell", cellExpr(col("nvec"), nlist, dims))
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qvec"))
      .withColumn("qnorm", norm(col("qvec")))
      .withColumn("cell",
        explode(probeCellsExpr(col("qvec"), nlist, nprobe, dims)))
    val scored = c.join(q, "cell")
      .filter(col("nid") =!= col("qid"))
      .select(col("qid"), col("nid"),
        round(dot(col("qvec"), col("nvec")) / (col("qnorm") * col("nnorm")), 4)
          .as("cosine"))
    topKByQuery(scored, k, "cosine", "cosine")
  }

  /** Multi-table LSH ANN top-k: `tables` independent hyperplane tables
    * (disjoint md5 plane families via `planeOffset = t·planes`);
    * candidates are bucket-mates in ANY table, so recall compounds as
    * 1−(1−p)^L while each table remains a bucket-equality join — the
    * standard recall knob that costs candidate volume, never a wider
    * scan. Shape: both sides explode to (table, bucket) pairs carrying
    * ONLY ids (L× a 3-column shuffle, not L× the vectors), the distinct
    * candidate pairs join back to the corpus by id (touching candidate
    * rows only) with the query side broadcast, and each surviving pair
    * costs one dot product. */
  def annTopKMultiTable(corpus: DataFrame, queries: DataFrame, idCol: String,
                        vecCol: String, k: Int, planes: Int, tables: Int): DataFrame = {
    val dims = vecDims(corpus, vecCol)
    def tableBuckets(df: DataFrame, out: String) =
      df.select(col(idCol).as(out),
        posexplode(array((0 until tables).map(t =>
          bucketExpr(col(vecCol), planes, dims, planeOffset = t * planes)): _*))
          .as(Seq("t", "bucket")))
    val cand = tableBuckets(corpus, "nid")
      .join(tableBuckets(queries, "qid"), Seq("t", "bucket"))
      .filter(col("nid") =!= col("qid"))
      .select(col("qid"), col("nid")).distinct()
    val c = corpus.select(col(idCol).as("nid"), col(vecCol).as("nvec"))
      .withColumn("nnorm", norm(col("nvec")))
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qvec"))
      .withColumn("qnorm", norm(col("qvec")))
    val scored = cand.join(c, "nid").join(broadcast(q), "qid")
      .select(col("qid"), col("nid"),
        round(dot(col("qvec"), col("nvec")) / (col("qnorm") * col("nnorm")), 4)
          .as("cosine"))
    // same bounded-aggregate ranking as ivfTopK — multi-table candidates
    // compound across tables, making hot queries even likelier
    topKByQuery(scored, k, "cosine", "cosine")
  }

  /** LSH-bucketed ANN top-k: exact cosine, but only within the query's
    * bucket — the 1000-executor path when the corpus no longer broadcasts. */
  def annTopKBucketed(corpus: DataFrame, queries: DataFrame, idCol: String,
                      vecCol: String, k: Int, planes: Int): DataFrame = {
    val dims = vecDims(corpus, vecCol)
    // bucket inline on each side's scan (see ivfTopK's rationale)
    val c = corpus.select(col(idCol).as("nid"), col(vecCol).as("nvec"))
      .withColumn("nnorm", norm(col("nvec")))
      .withColumn("bucket", bucketExpr(col("nvec"), planes, dims))
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qvec"))
      .withColumn("qnorm", norm(col("qvec")))
      .withColumn("bucket", bucketExpr(col("qvec"), planes, dims))
    val scored = c.join(q, "bucket")
      .filter(col("nid") =!= col("qid"))
      .select(col("qid"), col("nid"),
        round(dot(col("qvec"), col("nvec")) / (col("qnorm") * col("nnorm")), 4)
          .as("cosine"))
    // a skewed hyperplane bucket (embedding clusters make them common)
    // would pin a query's candidates to one window task — rank with the
    // bounded aggregate instead
    topKByQuery(scored, k, "cosine", "cosine")
  }

  /** SemDeDup-style semantic dedup: coarse-cluster the embeddings into
    * `nlist` IVF cells, take exact pairwise cosine ONLY within a cell
    * (the published recipe: k-means the corpus, prune duplicates inside
    * clusters — never all-pairs), consolidate the ≥ `threshold` pairs
    * into components via pointer-jumped connected components, and keep
    * the minimum id of each component.
    *
    * 100 TB shape: the cell id is a pure function of the vector,
    * computed inline on each scan (no assignment shuffle); the
    * quadratic step is bounded per cell (choose nlist so cells fit —
    * the same knob the paper tunes); the component pass inherits
    * [[Dedup.connectedComponents]]' O(log diameter) rounds and bounded
    * lineage; the final labeling is one left join of ids against the
    * (small) duplicate-pair node set.
    *
    * `maxCellSize` guards the adversarial case nlist cannot: a
    * mass-duplicated embedding (one viral page embedded 10⁸×) collapses
    * into ONE cell regardless of nlist, and the within-cell self-join
    * goes quadratic. With a cap, only the `cap` smallest ids of an
    * oversized cell generate pairs — the same deterministic id-order
    * semantics as [[Dedup.lshCandidates]]' maxBucketSize, and the same
    * bounded-aggregate mechanism: the kept-id election is
    * [[graft.functions.FirstKByOrder]] (map-side partials reduce the
    * bomb cell to ≤ cap ids per task), met by a semi-join that keeps
    * the VECTORS out of the aggregate buffer — a hot cell is a hot
    * join key, AQE-splittable, never a window partition. Rows
    * beyond the cap stay in the OUTPUT (labeled keep=true, their own
    * canonical) — mass duplicates still dedup among the surviving ids,
    * and byte-identical copies belong to [[Dedup.exact]] anyway.
    *
    * `refineTarget` closes the gap `maxCellSize` leaves: a pseudo-
    * centroid (direction-argmax) partitioner CANNOT split a tight
    * cluster — near-identical vectors share every bank's argmax — so
    * cells bottom out at the corpus's intrinsic cluster mass no matter
    * how large nlist grows (the ×30 scale ladder measured exactly this:
    * mass label-clusters held the within-cell verify quadratic until
    * the cap bound it, and the cap forfeits dedup among beyond-cap
    * rows). With `refineTarget = Some(t)`, cells still larger than `t`
    * are recursively split by DATA-DEPENDENT Voronoi boundaries: elect
    * `refineFanout` pivot ids per oversized cell (the bounded
    * [[graft.functions.FirstKByOrder]] aggregate again), pack each
    * cell's ≤ fanout pivot vectors into ONE array row (bounded
    * aggregate, broadcast-shaped join key = the cell), and assign each
    * member in-row (no explode, no window): max-cosine pivot if that
    * cosine meets `threshold` (COVERED), else a dedicated per-cell
    * UNCOVERED bucket. Repeat on cells still above `t`
    * (≤ `refineMaxRounds` rounds, each one checkpointed pass over the
    * oversized slice — the [[Dedup.connectedComponents]] block
    * lifecycle, superseded rounds freed). Because pivots inside a
    * near-dup cluster are themselves mutual near-dups, the assignment
    * pass also EMITS the member→pivot pairs that meet `threshold`
    * (≤ fanout per member per round): those STAR EDGES reconnect the
    * sub-cells through the pivot graph, so splitting a mass cluster
    * never splits its component. The uncovered bucket is what makes
    * this hold for MIXED cells (pseudo-centroid ties put several
    * distinct clusters in one cell): a cluster whose ids lost every
    * pivot seat concentrates there and the next round elects pivots
    * from ITS members — iterative peeling, one dominant cluster per
    * round — instead of Voronoi-scattering edge-less across sub-cells.
    * Net: the within-cell join stays linear in `t` while ALL rows keep
    * deduping, where the cap alone would keep only its elected ids.
    * Identical-vector bombs tie every pivot cosine and refuse to split
    * (rounds burn, deterministically): the star edges still connect the
    * whole bomb to one component, and `maxCellSize` remains the cost
    * guard for its pair join — the two knobs compose.
    *
    * Refinement is ON BY DEFAULT (`refineTarget = Some(4096)`): the ×30
    * scale ladder measured the unrefined shape bottoming out at
    * intrinsic cluster mass — quadratic verify until the cap binds, and
    * the cap forfeits recall — so the measured-safe configuration is
    * what a caller gets without reading this paragraph. The default is
    * INERT (zero refine rounds, results bit-identical to
    * `refineTarget = None`) whenever no cell exceeds 4096 rows, at the
    * cost of one cell-count pass; corpora whose clusters are all smaller
    * than that — or callers needing the raw lazy plan (the refined
    * result is returned as a compact eager checkpoint) — can pass
    * `refineTarget = None` explicitly, which is the oracle-pinned shape
    * of q86. Sparse corpora with a tight threshold may burn the bounded
    * `refineMaxRounds` passes without splitting (uncovered mass stays
    * uncovered); `maxCellSize` remains the hard cost guard either way.
    *
    * Returns one row per vector: (id, cell, canonical_id, keep) — with
    * refinement, `cell` is the final refined cell. */
  def semanticDedup(emb: DataFrame, idCol: String, vecCol: String,
                    nlist: Int, threshold: Double,
                    maxCellSize: Option[Int] = None,
                    refineTarget: Option[Int] = Some(4096),
                    refineFanout: Int = 16,
                    refineMaxRounds: Int = 4): DataFrame = {
    val dims = vecDims(emb, vecCol)
    val base = emb.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .withColumn("norm", norm(col("vec")))
      .withColumn("cell", cellExpr(col("vec"), nlist, dims))
    val own = new Ckpt.Owner
    val (withCell, starEdges) = refineTarget match {
      case None => (base, None)
      case Some(t) =>
        require(t >= 2, s"refineTarget=$t: need at least 2 rows to pair")
        require(refineFanout >= 2 && refineMaxRounds >= 1,
          s"refineFanout=$refineFanout / refineMaxRounds=$refineMaxRounds")
        val firstK = udaf(new graft.functions.FirstKByOrder(refineFanout))
        // eager checkpoint: the loop re-reads the frame every round
        // (counts + splits); without it each round re-runs the scan +
        // cell assignment
        val start = own(base.ckpt())
        // child-cell ids live in [idLo, idLo + idLo*fanout) each round —
        // disjoint from every id already in play (all < idLo). Without
        // the offset, cell 3's round-2 grandchild (3·f+3)·f+2 collides
        // with original cell (3·f+3)'s members and silently merges
        // unrelated components (caught by the ground-truth spec).
        val ((cur, edges, _), _, _) = Ckpt.rounds(
            (start, Option.empty[DataFrame], cellDomain(nlist)), refineMaxRounds) { (st, _) =>
          val (cur, edges, idLo) = st
          val over = cur.groupBy(col("cell")).count()
            .filter(col("count") > t).select(col("cell").as("__oc"))
          if (over.isEmpty) (st, true)
          else {
            val members = cur.join(over, col("cell") === col("__oc"), "left_semi")
            val rest = cur.join(over, col("cell") === col("__oc"), "left_anti")
            val pivIds = members.groupBy(col("cell"))
              .agg(firstK(Dedup.electionId(col("id")), lit(0.0)).as("__fk"))
              .select(col("cell"),
                posexplode(col("__fk.items.ord")).as(Seq("pidx", "pid")))
            // one row per oversized cell holding its ≤ fanout pivots —
            // a bounded aggregate, never a per-member fan-out
            val pivArr = pivIds
              .join(members.select(col("cell"), col("id").as("pid"),
                col("vec").as("pvec"), col("norm").as("pnorm")), Seq("cell", "pid"))
              .groupBy(col("cell"))
              .agg(collect_list(struct(col("pidx"), col("pid"),
                col("pvec"), col("pnorm"))).as("__piv"))
            val joined = members.join(pivArr, "cell")
            val cos = (p: Column) => dot(col("vec"), p.getField("pvec")) /
              (col("norm") * p.getField("pnorm"))
            val best = array_max(transform(col("__piv"),
              p => struct(cos(p).as("c"), p.getField("pidx").as("i"))))
            // COVERED members (≥ threshold of their best pivot) split by
            // Voronoi; UNCOVERED members — a co-resident cluster whose
            // ids lost every pivot seat to another cluster's smaller ids
            // — all land in one dedicated child bucket. If that bucket
            // is still oversized, the NEXT round elects pivots from its
            // own members (now the minimum ids present), covering the
            // cluster that was shut out: iterative peeling, one dominant
            // cluster per round, so star-edge connectivity holds for
            // every cluster that gets a round — without this, a minority
            // cluster Voronoi-scatters across sub-cells it shares no
            // passing edge with, and its component silently splits
            // (caught by the ground-truth spec).
            val subIdx = when(best.getField("c") >= lit(threshold),
              best.getField("i")).otherwise(lit(refineFanout))
            val assigned = joined.select(col("id"), col("vec"), col("norm"),
              (lit(idLo) + col("cell") * (refineFanout + 1) + subIdx)
                .as("cell"))
            // star edges (eager checkpoint: they must survive the
            // superseded round's free below)
            val roundEdges = own(joined.select(col("id"),
                explode(filter(col("__piv"), p =>
                  p.getField("pid") =!= col("id") && cos(p) >= lit(threshold)))
                  .as("__p"))
              .select(col("id").as("a"), col("__p.pid").as("b"))
              .ckpt())
            // the eager checkpoint of `next` supersedes `cur`
            own.retire(cur)
            val next = own.after(own(rest.unionByName(assigned).ckpt()))
            // child ids occupied [idLo, idLo + idLo*(fanout+1)); next
            // round's range starts past them
            ((next, Some(edges.map(_.unionByName(roundEdges)).getOrElse(roundEdges)),
              idLo + idLo * (refineFanout + 1)), false)
          }
        }
        (cur, edges)
    }
    val capped = maxCellSize match {
      case Some(cap) =>
        require(cap >= 2, s"maxCellSize=$cap: need at least 2 ids to form a pair")
        val firstK = udaf(new graft.functions.FirstKByOrder(cap))
        val keep = withCell.groupBy(col("cell").as("__kc"))
          .agg(firstK(Dedup.electionId(col("id")), lit(0.0)).as("__fk"))
          .select(col("__kc"), explode(col("__fk.items.ord")).as("__kid"))
        withCell.join(keep,
          col("cell") === col("__kc") && col("id") === col("__kid"), "left_semi")
      case None => withCell
    }
    val l = capped.as("l"); val r = capped.as("r")
    val pairs = l.join(r,
        col("l.cell") === col("r.cell") && col("l.id") < col("r.id"))
      .select(col("l.id").as("a"), col("r.id").as("b"),
        (dot(col("l.vec"), col("r.vec")) /
          (col("l.norm") * col("r.norm"))).as("cosine"))
      .filter(col("cosine") >= threshold)
    val ccInput = starEdges match {
      case Some(e) => pairs.select(col("a"), col("b")).unionByName(e)
      case None => pairs
    }
    // the components' checkpoints join this call's owner: its final
    // labels are materialized before it returns, so from here on nothing
    // reads the star edges or the symmetrized edge list
    val (labels, _, _) = Dedup.components(own, ccInput, "a", "b", maxRounds = 25)
    val out = withCell.select(col("id"), col("cell"))
      .join(labels.select(col("id"), col("label")), Seq("id"), "left")
      .select(col("id"), col("cell"),
        coalesce(col("label"), col("id")).as("canonical_id"),
        (coalesce(col("label"), col("id")) === col("id")).as("keep"))
    // unrefined, the lazy output reads only the final labels. Refined,
    // the pageRank lifecycle applies: `withCell` is the final round's
    // corpus-sized (id, vec, norm, cell) checkpoint, embedding vectors
    // included, so ONE eager checkpoint of the COMPACT output (4 narrow
    // columns), then every working block is freed and nothing
    // corpus-sized outlives the call
    if (refineTarget.isEmpty) { own.close(labels); out }
    else own.output(out)
  }
}
