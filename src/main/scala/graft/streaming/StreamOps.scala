package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.functions.ExprHelpers.tokenStrings

/** Structured-Streaming reinterpretation of the reference's stream surface
  * (BASELINE.json north-star; SURVEY.md §7.2 step 8).
  *
  * The reference's streams are bounded index sequences; unbounded
  * generators (`useInfinite`/`useGenerate`/`useRandom` with no limit,
  * semantic.h:1763-1827) only make sense as true streaming sources here:
  *
  *   - rate source ≈ `useInfinite` (monotone value + timestamp);
  *   - event-time `window()` ≈ slide/tumble with time standing in for the
  *     logical index (the reference has no watermarks or late data —
  *     SURVEY.md §2.4 — so watermarking is additive);
  *   - `flatMapGroupsWithState` ≈ a per-key running Collector
  *     (Identity/Accumulate live in the state, Finish on emit).
  */
object StreamOps {

  /** `useInfinite`-style unbounded generator: one row per tick with a
    * monotone `idx` and `value = f(idx)` expressed as a Column transform. */
  def infinite(spark: SparkSession, rowsPerSecond: Long, f: Column => Column): DataFrame =
    spark.readStream.format("rate")
      .option("rowsPerSecond", rowsPerSecond.toString)
      .load()
      .select(col("timestamp"), col("value").as("idx"), f(col("value")).as("value"))

  /** `useRandom()`-style unbounded generator (semantic.h:1873-1935, the
    * no-count overloads): uniform doubles in [min, max) at a fixed rate.
    * The uniform variate is a HASH of the rate source's monotone counter
    * (not rand()): deterministic under micro-batch replay, so
    * exactly-once sinks see the same values on retry — the streaming
    * analog of the batch factory's explicit seed. */
  def randomStream(spark: SparkSession, rowsPerSecond: Long,
                   min: Double, max: Double, seed: Long): DataFrame =
    spark.readStream.format("rate")
      .option("rowsPerSecond", rowsPerSecond.toString)
      .load()
      .select(col("timestamp"), col("value").as("idx"),
        (lit(min) + graft.core.SemanticStream.hashUniform(col("value"), seed) *
          (max - min)).as("value"))

  /** Tumbling event-time window aggregation with watermarking —
    * the streaming face of Windows.tumbleId. */
  def tumbleAgg(events: DataFrame, tsCol: String, valueCol: String,
                size: String, watermark: String): DataFrame =
    events.withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), size))
      .agg(count(lit(1)).as("n"), sum(col(valueCol)).as("sum_value"))

  /** Sliding event-time window aggregation (slide < size overlaps, exactly
    * like WindowCollectable.slide). */
  def slideAgg(events: DataFrame, tsCol: String, valueCol: String,
               size: String, slide: String, watermark: String): DataFrame =
    events.withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), size, slide))
      .agg(count(lit(1)).as("n"), sum(col(valueCol)).as("sum_value"))

  /** Gap-based session windows — the streaming twin of the batch
    * sessionization query (q38). */
  def sessionAgg(events: DataFrame, tsCol: String, keyCol: String,
                 gap: String, watermark: String): DataFrame =
    events.withWatermark(tsCol, watermark)
      .groupBy(col(keyCol), session_window(col(tsCol), gap))
      .agg(count(lit(1)).as("n"))

  case class RunningAgg(key: String, n: Long, sum: Double, mean: Double)

  /** The same running collector on the Spark 4 `transformWithState` API —
    * the target surface for custom stateful operators (BASELINE.json
    * north-star). State layout is explicit (a named ValueState holding the
    * Accumulator), timers/TTL available when needed. Requires the RocksDB
    * state store provider. */
  class RunningStatsProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[String, (String, Double), RunningAgg] {
    import org.apache.spark.sql.streaming.{TimerValues, TTLConfig, ValueState}
    import org.apache.spark.sql.Encoders

    @transient private var state: ValueState[(Long, Double)] = _

    override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      state = getHandle.getValueState[(Long, Double)]("acc",
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaDouble), TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[(String, Double)],
                                 timerValues: TimerValues): Iterator[RunningAgg] = {
      var (n, s) = Option(state.get()).getOrElse((0L, 0.0))
      rows.foreach { r => n += 1; s += r._2 }
      state.update((n, s))
      Iterator.single(RunningAgg(key, n, s, if (n == 0) 0.0 else s / n))
    }
  }

  /** Streaming exact dedup: first occurrence per key wins; state for a
    * key expires once the watermark passes it — the unbounded twin of
    * Dedup.exact with bounded state. */
  def streamingDedup(events: DataFrame, keyCols: Seq[String],
                     tsCol: String, watermark: String): DataFrame =
    events.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  /** `df`'s columns renamed, in order, to the fields of `T` — the batch
    * kernels' column names as the twins' result types. */
  private def typed[T](df: DataFrame)(implicit enc: Encoder[T]): Dataset[T] =
    df.toDF(enc.schema.fieldNames.toIndexedSeq: _*).as[T]

  /** The first-seen register behind the candidate twins, over (key, id)
    * rows with a string key (bucket and cell ids are cast): the first id
    * to bring a key is kept as that key's state, and every later id of
    * the key is emitted as (key, id, first_id). Within a micro-batch the
    * smallest id comes first. A `ttl` (see [[streamingNearDupCandidates]])
    * opts into processing-time expiry: a key that stays quiet that long
    * is evicted. `None` keeps every register for the life of the query. */
  private def firstSeen(keyed: DataFrame, ttl: Option[String]): DataFrame = {
    import keyed.sparkSession.implicits._
    val timeout =
      if (ttl.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    keyed.groupBy(col("key")).as[String, (String, Long)]
      .flatMapGroupsWithState[Long, (String, Long, Long)](OutputMode.Append, timeout) {
        case (_, _, state: GroupState[Long]) if state.hasTimedOut =>
          state.remove(); Iterator.empty
        case (key, it, state: GroupState[Long]) =>
          val ids = it.map(_._2).toSeq.distinct.sorted
          val first = state.getOption.getOrElse(ids.head)
          state.update(first) // unconditional: a TTL refresh needs a write
          ttl.foreach(state.setTimeoutDuration)
          ids.filterNot(_ == first).map(dup => (key, dup, first)).iterator
      }.toDF("key", "id", "first_id")
  }

  /** A doc stream's LSH band keys as (band, key, id) rows: the batch
    * [[graft.functions.MinHashSigExpr]] signature per row, banded by
    * [[graft.operators.Dedup.bandKeys]]. A doc shorter than one shingle
    * has no signature and so no band keys, as in the batch operator: a
    * sentinel key would make every blank doc collide. */
  private def streamBands(docs: Dataset[(Long, String)], shingleWidth: Int,
                          numHashes: Int, bands: Int): DataFrame = {
    require(numHashes % bands == 0)
    val keys = graft.operators.Dedup.bandKeys(
      i => col("sig").getItem(i), bands, numHashes / bands)
    docs.toDF("id", "text")
      .select(col("id"), org.apache.spark.sql.GraftColumnShim
        .minhashSignatureColumn(col("text"), shingleWidth, numHashes).as("sig"))
      .select(col("id"),
        posexplode(when(col("sig").isNotNull, keys)).as(Seq("band", "key")))
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Streaming MinHash+LSH near-dup candidates — the unbounded twin of
    * [[graft.operators.Dedup.minhashNearDups]]'s candidate stage. Each
    * incoming (id, text) gets the batch signature and band keys
    * ([[streamBands]]) ON THE MAP SIDE; the only stateful op is a
    * per-band-key first-seen register, so state is one id per observed
    * band key. Emits (id, firstSeenId) for every later doc that collides
    * with a key's first document — the same pair may arrive via several
    * bands; dedup downstream if exact pairs are needed.
    *
    * State is one register row per DISTINCT band key — which grows with
    * distinct content, i.e. contractually unbounded over an endless
    * corpus stream. `ttl` bounds it: a processing-time duration (e.g.
    * "24 hours") after which a band key that has stayed QUIET (no
    * arrivals) is evicted; the clock refreshes on every arrival, so the
    * TTL is the operator's duplication horizon — a near-dup arriving
    * within `ttl` of its bucket's last sighting is still caught, a
    * later one re-registers as first-seen (exactly the horizon contract
    * of [[streamingDedup]]'s watermark, in processing time because this
    * register keys on content, not event time). `None` keeps the full
    * register (parity with the batch candidate stage over any replay). */
  def streamingNearDupCandidates(docs: Dataset[(Long, String)],
                                 shingleWidth: Int = 3, numHashes: Int = 12,
                                 bands: Int = 4,
                                 ttl: Option[String] = None): Dataset[(Long, Long)] = {
    import docs.sparkSession.implicits._
    // a processing-time TTL makes the query free-run empty batches
    // under the default trigger — arm the runtime guard (see
    // [[pacedTrigger]] for the fix the guard demands)
    if (ttl.isDefined)
      FreeRunGuard.arm(docs.sparkSession, "streamingNearDupCandidates(ttl)")
    val banded = streamBands(docs, shingleWidth, numHashes, bands)
      .select(concat_ws("|", col("band").cast("string"), col("key")).as("key"), col("id"))
    typed[(Long, Long)](firstSeen(banded, ttl).select(col("id"), col("first_id")))
  }

  /** The MANDATORY trigger for TTL'd twins: a processing-time-timeout
    * query never latches "no new data" (the engine keeps batches
    * running so timers can fire), so under the default unpaced trigger
    * it free-runs empty micro-batches back-to-back, re-checkpointing
    * every state store each time — measured batch 2281 on a 10-batch
    * replay (SCALE.md §6). Pass this to `.trigger(...)` on the
    * writeStream; [[FreeRunGuard]] (armed automatically by the TTL'd
    * twins) catches the misconfiguration at runtime. 500 ms keeps timer
    * resolution well under any realistic duplication-horizon `ttl`
    * while bounding the quiet-stream batch rate at 2/s. */
  def pacedTrigger(
      interval: String = "500 milliseconds"): org.apache.spark.sql.streaming.Trigger =
    org.apache.spark.sql.streaming.Trigger.ProcessingTime(interval)

  /** Streaming embedding near-dup candidates — the unbounded twin of
    * [[graft.operators.Dedup.embeddingNearDups]]'s bucket stage: each
    * incoming (id, vector) is bucketed MAP-SIDE by the batch
    * [[graft.operators.Similarity.bucketExpr]] itself; the only
    * stateful op is a per-bucket first-seen register, so state is one
    * id per observed bucket (≤ 2^planes rows, ever). Emits
    * (id, firstSeenId) for every later arrival in a bucket; exact
    * cosine verification of candidates happens downstream, exactly as
    * in the batch operator. */
  def streamingEmbeddingNearDupCandidates(vecs: Dataset[(Long, Seq[Float])],
                                          planes: Int, dims: Int): Dataset[(Long, Long)] = {
    import vecs.sparkSession.implicits._
    graft.functions.GraftFunctions.register(vecs.sparkSession) // graft_dot
    val keyed = vecs.toDF("id", "vec").select(
      graft.operators.Similarity.bucketExpr(col("vec"), planes, dims)
        .cast("string").as("key"), col("id"))
    typed[(Long, Long)](firstSeen(keyed, None).select(col("id"), col("first_id")))
  }

  /** Streaming SemDeDup candidates — the unbounded twin of
    * [[graft.operators.Similarity.semanticDedup]]'s cell stage: each
    * incoming (id, vector) is assigned its IVF cell MAP-SIDE by the
    * batch [[graft.operators.Similarity.cellExpr]] itself (flat argmax
    * up to `FlatNlistMax`, the two-bank product above it); the only
    * stateful op is a per-cell first-seen register, so state is one id
    * per observed cell — bounded by the cell domain EVER, the tightest
    * state bound of any twin here. Emits (id, firstSeenId, cell) for
    * every later arrival in a cell; exact cosine verification of
    * candidates happens downstream, exactly as the batch operator's
    * within-cell pairwise step (a capped batch run verifies only the
    * cap's survivors — the register's first-id star is the streaming
    * counterpart of that bound). */
  def streamingSemanticDedupCandidates(vecs: Dataset[(Long, Seq[Float])],
                                       nlist: Int, dims: Int): Dataset[(Long, Long, Long)] = {
    import vecs.sparkSession.implicits._
    graft.functions.GraftFunctions.register(vecs.sparkSession) // graft_dot
    val keyed = vecs.toDF("id", "vec").select(
      graft.operators.Similarity.cellExpr(col("vec"), nlist, dims)
        .cast("string").as("key"), col("id"))
    typed[(Long, Long, Long)](firstSeen(keyed, None)
      .select(col("id"), col("first_id"), col("key").cast("long")))
  }

  /** Streaming CDC chunk-dedup candidates — the unbounded twin of
    * [[graft.operators.Dedup.cdcChunkDedup]]'s frequency stage: each
    * incoming (id, text) is chunked MAP-SIDE at the batch operator's
    * exact content-defined boundaries (a token whose md5 first hex char
    * falls under `boundaryHexFirst` ends its chunk), and each chunk
    * digest meets a per-digest first-seen register. Emits
    * (id, firstSeenId, digest) for every chunk whose digest an EARLIER
    * doc already produced — the prefix-causal face of the batch
    * operator's "appears in >1 distinct doc" bit (a batch pair (a,b)
    * surfaces when the later side arrives). Within-doc repeats do not
    * self-collide (the register stores the doc id). State is one id per
    * DISTINCT chunk digest — at 100 TB of streamed corpus the register
    * IS the distinct-chunk set, so production runs must bound it: `ttl`
    * is the processing-time duplication horizon (quiet digests are
    * evicted after it, the clock refreshing on every sighting; a chunk
    * recurring after eviction re-registers as first-seen), with the
    * same contract as [[streamingNearDupCandidates]]. `None` keeps the
    * full register — batch-parity over any replay, bounded runs only.
    *
    * The chunking is a scalar copy of the batch chunk stage, which
    * numbers each doc's tokens with a per-doc window — not legal on a
    * stream. */
  def streamingCdcChunkCandidates(docs: Dataset[(Long, String)],
                                  boundaryHexFirst: Int = 1,
                                  ttl: Option[String] = None): Dataset[(Long, Long, String)] = {
    import docs.sparkSession.implicits._
    require(boundaryHexFirst >= 1 && boundaryHexFirst <= 15,
      s"boundaryHexFirst must be in [1,15], got $boundaryHexFirst")
    if (ttl.isDefined) // see [[pacedTrigger]]: TTL queries free-run unpaced
      FreeRunGuard.arm(docs.sparkSession, "streamingCdcChunkCandidates(ttl)")
    val boundarySet = "0123456789abcdef".take(boundaryHexFirst).toSet
    val chunked: Dataset[(String, Long)] = docs.flatMap { case (id, text) =>
      val toks = tokenStrings(text).toSeq
      if (toks.isEmpty) Seq.empty[(String, Long)]
      else {
        val chunks = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
        var cur = scala.collection.mutable.ArrayBuffer.empty[String]
        toks.foreach { t =>
          cur += t
          if (boundarySet.contains(md5hex(t).charAt(0))) {
            chunks += cur.toSeq; cur = scala.collection.mutable.ArrayBuffer.empty
          }
        }
        if (cur.nonEmpty) chunks += cur.toSeq
        // distinct digests per doc: within-doc repeats are not dups here
        chunks.map(c => md5hex(c.mkString(" "))).distinct.map(d => (d, id)).toSeq
      }
    }
    typed[(Long, Long, String)](firstSeen(chunked.toDF("key", "id"), ttl)
      .select(col("id"), col("first_id"), col("key")))
  }

  /** Streaming cross-corpus dedup candidates — the admission gate "is
    * this incoming doc a near-dup of the EXISTING corpus?", the
    * unbounded twin of [[graft.operators.Dedup.crossCorpusNearDups]]'s
    * candidate stage. The static corpus's LSH band keys are computed
    * ONCE with the batch operators and eagerly checkpointed; each
    * streamed doc gets the same signature and band keys map-side
    * ([[streamBands]]) and meets them in a STATELESS stream-static
    * equi-join on (band, key) — no state store at all, unlike the
    * within-stream register of [[streamingNearDupCandidates]]. Emits
    * (streamId, corpusId) once per shared band — dedup/verify
    * downstream, as with every candidate stage. */
  def streamingCrossDedupCandidates(docs: Dataset[(Long, String)],
                                    corpus: DataFrame, idCol: String,
                                    textCol: String, shingleWidth: Int = 3,
                                    numHashes: Int = 12,
                                    bands: Int = 4): DataFrame = {
    val streamKeys = streamBands(docs, shingleWidth, numHashes, bands)
      .select(col("band"), col("key"), col("id").as("stream_id"))
    val staticKeys = graft.operators.Dedup.lshBands(
        graft.operators.Dedup.minhashSignature(
          corpus, idCol, textCol, shingleWidth, numHashes),
        bands, numHashes / bands)
      .select(col("band"), col("key"), col("id").as("corpus_id"))
      .localCheckpoint() // one batch computation, re-read per micro-batch
    streamKeys.join(staticKeys, Seq("band", "key"))
      .select(col("stream_id"), col("corpus_id"), col("band"))
  }

  /** Streaming benchmark-contamination tracking — the unbounded twin of
    * [[graft.operators.Dedup.contamination]] with the roles arranged the
    * way deployment actually runs them: the EVAL sets are static and
    * small (benchmarks, by definition), so their distinct shingles are
    * computed once by the batch operator's own eval stage and eagerly
    * checkpointed; the TRAIN corpus is what streams. Each arriving train
    * doc is shingled map-side with [[graft.operators.Dedup.shingleArray]]
    * and meets the eval shingles in a stream-static join, emitting
    * (eval_id, shingle); a streaming dropDuplicates keeps only
    * FIRST-TIME matches — state is bounded by the eval sets' total
    * shingle count, never by the stream. Running per-eval-doc
    * contamination is a downstream aggregation of these first-match
    * rows over the (also static) per-doc totals. */
  def streamingContamination(docs: Dataset[(Long, String)], eval: DataFrame,
                             idCol: String, textCol: String, w: Int): DataFrame = {
    val evalSh = graft.operators.Dedup.shingleSet(eval, idCol, textCol, w)
      .select(col("id").cast("long").as("eval_id"), col("shingle"))
      .localCheckpoint() // one batch computation, re-read per micro-batch
    docs.toDF("id", "text")
      .select(explode(graft.operators.Dedup.shingleArray(col("text"), w)).as("shingle"))
      .join(evalSh, "shingle")
      .select(col("eval_id"), col("shingle"))
      .dropDuplicates("eval_id", "shingle")
  }

  /** [[runningStats]] rendered with transformWithState. */
  def runningStatsTws(events: Dataset[(String, Double)]): Dataset[RunningAgg] = {
    import events.sparkSession.implicits._
    events.groupByKey(_._1)
      .transformWithState(new RunningStatsProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update)
  }

  /** First-seen exact dedup on `transformWithState`: one boolean
    * ValueState per key; the first arrival (min id within its batch, so
    * the emitted survivor is deterministic under any within-batch row
    * order) passes, every later duplicate is suppressed. State survives
    * checkpoint restart — the deployment-shape dedup for a file-source →
    * parquet-sink pipeline. Unbounded keys keep state forever; bound it
    * with a TTLConfig when the duplication horizon allows (the
    * watermark-bounded twin is [[streamingDedup]]). */
  class FirstSeenDedupProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[String, (Long, String), (Long, String)] {
    import org.apache.spark.sql.streaming.{TimerValues, TTLConfig, ValueState}
    import org.apache.spark.sql.Encoders

    @transient private var seen: ValueState[Boolean] = _

    override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      seen = getHandle.getValueState[Boolean]("seen", Encoders.scalaBoolean, TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[(Long, String)],
                                 timerValues: TimerValues): Iterator[(Long, String)] = {
      if (seen.exists()) Iterator.empty
      else {
        seen.update(true)
        Iterator.single(rows.minBy(_._1))
      }
    }
  }

  case class TopKEntry(group: String, rank: Long, id: Long, score: Double)

  /** Streaming per-group bounded top-k on `transformWithState` — the
    * unbounded twin of [[graft.operators.Similarity.topKPerGroup]].
    * State per group is the SAME compacted ≤k-entry buffer the batch
    * aggregate carries (its partition-invariance law — any chunking and
    * merge order equals the global sort-take, property-tested in
    * PropertySpec — is exactly what makes incremental arrival
    * equivalent to the batch run), so state is O(k) per group no matter
    * how many rows stream through. Each trigger emits a group's
    * refreshed top-k snapshot (Update semantics downstream: the latest
    * snapshot per group is the answer). */
  class TopKProcessor(k: Int)
    extends org.apache.spark.sql.streaming.StatefulProcessor[String, (String, Long, Double), TopKEntry] {
    import org.apache.spark.sql.streaming.{TimerValues, TTLConfig, ValueState}
    import org.apache.spark.sql.Encoders

    @transient private var state: ValueState[graft.functions.TopKBuf] = _
    @transient private lazy val agg = new graft.functions.TopKByScore(k)

    override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      state = getHandle.getValueState[graft.functions.TopKBuf]("topk",
        Encoders.product[graft.functions.TopKBuf], TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[(String, Long, Double)],
                                 timerValues: TimerValues): Iterator[TopKEntry] = {
      var buf = Option(state.get()).getOrElse(agg.zero)
      rows.foreach { case (_, id, score) =>
        buf = agg.reduce(buf, graft.functions.ScoredId(score, id))
      }
      val fin = agg.finish(buf)
      state.update(fin) // compacted: ≤ k entries persist, never the stream
      fin.items.iterator.zipWithIndex.map { case (s, i) =>
        TopKEntry(key, i + 1L, s.id, s.score)
      }
    }
  }

  /** [[TopKProcessor]] wired over (group, id, score) rows. */
  def streamingTopKPerGroup(rows: Dataset[(String, Long, Double)],
                            k: Int): Dataset[TopKEntry] = {
    import rows.sparkSession.implicits._
    rows.groupByKey(_._1)
      .transformWithState(new TopKProcessor(k),
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update)
  }

  /** One tagged row of the streaming as-of union — the same (key, time,
    * tag, tie) spine the batch [[graft.operators.Joins.asof]] unions:
    * `tag = 0` is a RIGHT (quote) row carrying (qid, px), `tag = 1` a
    * LEFT (trade) row carrying `leftId`. */
  case class AsofEvent(key: String, t: Long, tag: Int, tie: Long,
                       leftId: Long, qid: Long, px: Double)

  /** One as-of match: the left row id and the payload of the latest
    * right row at-or-before it (None when no right row precedes). */
  case class AsofJoined(leftId: Long, qid: Option[Long], px: Option[Double])

  /** Streaming AS-OF join on `transformWithState` — the unbounded twin
    * of [[graft.operators.Joins.asof]]. State per key is ONE register:
    * the (t, tie, payload) of the latest right row seen — O(1) per key,
    * bounded by key count, no matter how many rows stream through
    * (the batch operator's running-last carry, held as state instead of
    * recomputed). Each micro-batch sorts a key's rows by the batch
    * operator's exact order (t, tag asc — rights before lefts at equal
    * time — then tie) and sweeps once: rights advance the register
    * (latest (t, tie) wins, the batch tiebreak), lefts emit the current
    * register.
    *
    * Semantics are PROCESS-TIME as-of: a left row matches the latest
    * right row among those already seen. When the tagged stream arrives
    * in (t, tag, tie) order — in-order sources, or watermarked
    * reordering upstream — the emitted matches equal the batch
    * `Joins.asof` exactly (the parity spec replays exactly this); a
    * late right row never rewrites past emissions, only informs
    * subsequent lefts. `ttl` (processing-time) bounds state for keys
    * that go quiet — the eviction knob for unbounded key universes. */
  class AsofProcessor(ttl: Option[java.time.Duration] = None)
    extends org.apache.spark.sql.streaming.StatefulProcessor[String, AsofEvent, AsofJoined] {
    import org.apache.spark.sql.streaming.{TimerValues, TTLConfig, ValueState}
    import org.apache.spark.sql.Encoders

    @transient private var lastRight: ValueState[(Long, Long, Long, Double)] = _

    override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      lastRight = getHandle.getValueState[(Long, Long, Long, Double)]("lastRight",
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong,
          Encoders.scalaLong, Encoders.scalaDouble),
        ttl.map(TTLConfig(_)).getOrElse(TTLConfig.NONE))

    override def handleInputRows(key: String, rows: Iterator[AsofEvent],
                                 timerValues: TimerValues): Iterator[AsofJoined] = {
      // micro-batch iterators carry no order — restore the batch
      // operator's total order before the sweep
      val sorted = rows.toArray.sortBy(r => (r.t, r.tag, r.tie))
      var st = Option(lastRight.get())
      val out = Seq.newBuilder[AsofJoined]
      sorted.foreach { r =>
        if (r.tag == 0) {
          // latest (t, tie) wins — identical to the batch running-last
          // over (t, tag, tie); an out-of-order right older than the
          // register is ignored, never regresses it
          if (st.forall(s => s._1 < r.t || (s._1 == r.t && s._2 <= r.tie)))
            st = Some((r.t, r.tie, r.qid, r.px))
        } else out += AsofJoined(r.leftId, st.map(_._3), st.map(_._4))
      }
      st.foreach(lastRight.update)
      out.result().iterator
    }
  }

  /** [[AsofProcessor]] wired over a tagged union stream. Build the union
    * exactly like the batch operator does: rights as
    * `AsofEvent(key, rightTime, 0, rightTieBreak, -1, qid, px)`, lefts
    * as `AsofEvent(key, leftTime, 1, Long.MinValue, leftId, -1, 0)`. */
  def streamingAsof(events: Dataset[AsofEvent],
                    ttl: Option[java.time.Duration] = None): Dataset[AsofJoined] = {
    import events.sparkSession.implicits._
    if (ttl.isDefined) // see [[pacedTrigger]]: TTL queries free-run unpaced
      FreeRunGuard.arm(events.sparkSession, "streamingAsof(ttl)")
    events.groupByKey(_.key)
      .transformWithState(new AsofProcessor(ttl),
        if (ttl.isDefined) org.apache.spark.sql.streaming.TimeMode.ProcessingTime()
        else org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Append)
  }

  /** Streaming RANGE (interval) join — the unbounded twin of
    * [[graft.operators.Joins.rangeJoin]] for the fixed-width window
    * case (hi = rightTime + window): left rows against right rows of
    * the same key with `leftTime ∈ [rightTime, rightTime + window)`,
    * as a watermarked stream-stream inner join. The two-sided
    * event-time bound in the join condition is what lets Spark's
    * stream-stream join EVICT buffered rows once the watermark passes
    * their match horizon — state is bounded by rate × (window +
    * watermark delay), never the stream. No bin-explode is needed
    * here: the batch operator bins time to turn a range predicate into
    * an equi-join key; the streaming join buffers by key and applies
    * the range natively. Emits the aliased frames (`l.*`, `r.*`) like
    * the batch twin; add residual predicates (self-pair exclusion,
    * payload filters) downstream. Time columns must be timestamps
    * (watermarks don't attach to raw longs — `timestamp_micros` the
    * epoch first). */
  def streamingRangeJoin(left: DataFrame, right: DataFrame,
                         leftKeyCol: String, rightKeyCol: String,
                         leftTimeCol: String, rightTimeCol: String,
                         window: String, watermark: String): DataFrame = {
    val l = left.withWatermark(leftTimeCol, watermark).alias("l")
    val r = right.withWatermark(rightTimeCol, watermark).alias("r")
    l.join(r,
      col(s"l.$leftKeyCol") === col(s"r.$rightKeyCol") &&
        col(s"l.$leftTimeCol") >= col(s"r.$rightTimeCol") &&
        col(s"l.$leftTimeCol") < col(s"r.$rightTimeCol") + expr(s"INTERVAL $window"))
  }

  /** One document offered to the streaming token-budget curator:
    * `k` is the deterministic admission-order key (the batch q66 shape
    * uses md5(doc_id) — an epoch-stable shuffle), `nTokens` its cost. */
  case class BudgetedDoc(lang: String, k: String, docId: Long, nTokens: Long)

  /** One admitted document with the tokens consumed before it. */
  case class AdmittedDoc(docId: Long, lang: String, nTokens: Long, cumBefore: Long)

  /** Streaming token-budget domain mixing — the unbounded twin of the
    * q66 batch shape (`Windows.groupedRunningTotal` + prefix filter): a
    * document is admitted iff its language's running token total BEFORE
    * it is still under `budget`; every arrival (admitted or not) adds
    * its tokens to the running total, exactly like the batch prefix
    * sum over the full order. State is ONE long per language — O(langs)
    * forever — where the batch operator's distributed prefix sum is
    * re-derived per run. Within a micro-batch rows are swept in
    * (k, docId) order; when the stream arrives in that order (the
    * parity spec replays exactly this), admissions equal the batch
    * operator's bit for bit. */
  class TokenBudgetProcessor(budget: Long)
    extends org.apache.spark.sql.streaming.StatefulProcessor[String, BudgetedDoc, AdmittedDoc] {
    import org.apache.spark.sql.streaming.{TimerValues, TTLConfig, ValueState}
    import org.apache.spark.sql.Encoders

    @transient private var total: ValueState[Long] = _

    override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      total = getHandle.getValueState[Long]("total", Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[BudgetedDoc],
                                 timerValues: TimerValues): Iterator[AdmittedDoc] = {
      var t = if (total.exists()) total.get() else 0L
      val out = Seq.newBuilder[AdmittedDoc]
      rows.toArray.sortBy(r => (r.k, r.docId)).foreach { r =>
        if (t < budget) out += AdmittedDoc(r.docId, key, r.nTokens, t)
        t += r.nTokens
      }
      total.update(t)
      out.result().iterator
    }
  }

  /** [[TokenBudgetProcessor]] wired over a document stream. */
  def streamingTokenBudget(docs: Dataset[BudgetedDoc], budget: Long): Dataset[AdmittedDoc] = {
    import docs.sparkSession.implicits._
    docs.groupByKey(_.lang)
      .transformWithState(new TokenBudgetProcessor(budget),
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Append)
  }

  /** Streaming blocklist decontamination — the unbounded twin of
    * [[graft.operators.Joins.bloomAntiJoin]], and the deployment shape
    * for "filter a document stream against a fixed contamination list".
    * The blocklist is STATIC: its bloom bitmap is built once at plan
    * time and broadcast, so the stream side is fully STATELESS — rows
    * the bloom clears pass on the map side of their micro-batch, and
    * only bloom-passing rows (true hits + the fpp tail) are verified by
    * a stream-static left_anti join (a per-batch broadcast lookup, no
    * state store, nothing buffered across triggers). Emitted rows are
    * bit-identical to the batch operator over the same input rows,
    * whatever the micro-batch boundaries — the operator is row-local.
    * Delegates to the batch implementation: every piece (probe filter,
    * stream-static anti join, self-union) is streaming-legal as
    * composed. */
  def streamingBlocklistFilter(stream: DataFrame, keys: DataFrame,
                               streamKey: Column, keysKey: Column,
                               fpp: Double = 0.01, expectedItems: Long = -1L): DataFrame =
    graft.operators.Joins.bloomAntiJoin(stream, keys, streamKey, keysKey, fpp, expectedItems)

  /** One LM-scored document: id, bigram count, add-one bigram
    * cross-entropy (0.0 when the doc has no bigrams). */
  case class LmScored(id: Long, nBigrams: Long, crossEntropy: Double)

  /** Streaming LM quality scoring — the unbounded twin of
    * [[graft.operators.TextAnalysis.lmCrossEntropy]], in the shape LM
    * filters actually deploy (CCNet ships its model to every worker):
    * the bigram model is counted ONCE from the static train corpus,
    * collected and broadcast, and each streamed document is scored in
    * one map-side pass over its own bigrams — STATELESS, no state
    * store, no shuffle, scores bit-identical to the batch operator for
    * the same (train, doc) inputs (same tokenization, same counts,
    * same ln/mean — the parity spec asserts exact equality). The
    * broadcast bounds this twin to models that fit in executor memory
    * (the bloom-bitmap class of trade); past that, score in micro-batch
    * joins with `foreachBatch` against the distributed model instead.
    *
    * The scorer is a scalar copy of the batch one: the model is a
    * corpus-sized map, and as a `typedLit` it would be embedded in the
    * plan. */
  def streamingLmScore(docs: Dataset[(Long, String)],
                       train: DataFrame, trainTextCol: String): Dataset[LmScored] = {
    import docs.sparkSession.implicits._
    val c2Rows = graft.operators.TextAnalysis.bigramCounts(train, trainTextCol)
      .collect().map(r => r.getString(0) -> r.getLong(1))
    val c2 = c2Rows.toMap
    val c1 = c2Rows.groupMapReduce(_._1.takeWhile(_ != ' '))(_._2)(_ + _)
    val v = train.select(
        explode(graft.operators.TextAnalysis.tokens(col(trainTextCol))).as("tok"))
      .agg(countDistinct(col("tok"))).head().getLong(0)
    val bc = docs.sparkSession.sparkContext.broadcast((c2, c1, v))
    docs.map { case (id, text) =>
      val (m2, m1, vv) = bc.value
      val toks = tokenStrings(text)
      var n = 0L; var sum = 0.0
      var i = 0
      while (i < toks.length - 1) {
        val w1 = toks(i)
        val key = w1 + " " + toks(i + 1)
        val p = (m2.getOrElse(key, 0L) + 1.0) / (m1.getOrElse(w1, 0L) + vv)
        sum -= math.log(p); n += 1; i += 1
      }
      LmScored(id, n, if (n == 0) 0.0 else sum / n)
    }
  }

  /** One BM25-scored document: id, number of query terms present, score. */
  case class Bm25Scored(id: Long, nQueryHits: Long, score: Double)

  /** Streaming BM25 scoring — the unbounded twin of
    * [[graft.operators.TextAnalysis.bm25]]: corpus statistics (N, avgdl,
    * per-term df) come from the batch operator's own stats aggregate
    * over the static reference corpus, collected ONCE on the driver;
    * each streamed doc runs the batch tf projection and score
    * expression with those statistics as literals — stateless, no state
    * store, no shuffle. Same deployment trade as [[streamingLmScore]]:
    * the model side is frozen at stream start (scores match the batch
    * operator run against the same reference corpus; they are NOT
    * re-normalized as the stream itself grows — that is the standard
    * retrieval-filter contract). */
  def streamingBm25(docs: Dataset[(Long, String)], corpus: DataFrame,
                    corpusTextCol: String, terms: Seq[String],
                    k1: Double = 1.2, b: Double = 0.75): Dataset[Bm25Scored] = {
    import docs.sparkSession.implicits._
    val TA = graft.operators.TextAnalysis
    val stats = TA.termStats(
      TA.termFreqs(corpus, lit(0L), col(corpusTextCol), terms), terms.size).head()
    // an empty (or all-blank) reference corpus has no positive avgdl:
    // every doc then scores 0 rather than dividing by it
    val score =
      if (stats.isNullAt(1) || stats.getDouble(1) <= 0) lit(0.0)
      else TA.bm25Score(terms.size, k1, b, lit(stats.getDouble(0)),
        lit(stats.getDouble(1)), i => lit(stats.getDouble(2 + i)))
    typed[Bm25Scored](TA.termFreqs(docs.toDF("id", "text"), col("id"), col("text"), terms)
      .select(col("id"), TA.queryHits(terms.size), score))
  }

  /** One TF-IDF-scored document: id, query hits, smooth-idf score. */
  case class TfidfScored(id: Long, nQueryHits: Long, score: Double)

  /** Streaming TF-IDF scoring — the unbounded twin of
    * [[graft.operators.TextAnalysis.tfidf]]: corpus statistics (N,
    * per-term df — smooth sklearn idf) come from the STATIC reference
    * corpus in the batch operator's one stats aggregate, collected on
    * the driver, and each streamed doc runs the batch score expression
    * with them as literals. Stateless — no state store, no shuffle,
    * model frozen at stream start, exactly the [[streamingBm25]]
    * deployment contract. */
  def streamingTfidf(docs: Dataset[(Long, String)], corpus: DataFrame,
                     corpusTextCol: String, terms: Seq[String]): Dataset[TfidfScored] = {
    import docs.sparkSession.implicits._
    val TA = graft.operators.TextAnalysis
    val stats = TA.termStats(
      TA.termFreqs(corpus, lit(0L), col(corpusTextCol), terms), terms.size).head()
    typed[TfidfScored](TA.termFreqs(docs.toDF("id", "text"), col("id"), col("text"), terms)
      .select(col("id"), TA.queryHits(terms.size),
        TA.tfidfScore(terms.size, lit(stats.getDouble(0)),
          i => lit(stats.getDouble(2 + i)))))
  }

  /** One Gopher-rule-scored document. */
  case class GopherScored(id: Long, nWords: Long, meanWordLen: Double,
                          fracAlphaWords: Double, nStopwordHits: Long,
                          pass: Boolean)

  /** Streaming Gopher-rule filtering — the unbounded twin of
    * [[graft.operators.TextAnalysis.gopherQuality]]. The batch operator
    * is a pure per-row projection (no corpus statistics at all), so it
    * runs on the stream as it is: fully stateless, the admission-gate
    * shape — score-and-drop before anything stateful sees the doc. */
  def streamingGopherQuality(docs: Dataset[(Long, String)],
                             minWords: Long = 50, maxWords: Long = 100000,
                             minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
                             minAlphaFrac: Double = 0.8,
                             minStopHits: Long = 2): Dataset[GopherScored] = {
    import docs.sparkSession.implicits._
    typed[GopherScored](graft.operators.TextAnalysis.gopherQuality(
      docs.toDF("id", "text"), "id", "text", minWords, maxWords, minMeanLen,
      maxMeanLen, minAlphaFrac, minStopHits))
  }

  /** One tier-assigned row: id, metric value, quantile tier. */
  case class TierAssigned(id: Long, metric: Double, tier: Int)

  /** Streaming quantile-tier assignment — the unbounded twin of
    * [[graft.operators.Sampling.quantileTiers]]: the nTiers−1 rounded
    * thresholds are computed ONCE from the static reference corpus with
    * the batch operator's own aggregate (exact or approx — the same
    * `approx` scale lever) and collected (nTiers−1 doubles); each
    * streamed (id, metric) runs the batch tier expression with them as
    * literals. Stateless — no state store, no shuffle, thresholds
    * frozen at stream start (the deployment contract of a
    * tier-stratified admission gate). */
  def streamingQuantileTiers(rows: Dataset[(Long, Double)], corpus: DataFrame,
                             metric: Column, nTiers: Int,
                             approx: Boolean = false,
                             accuracy: Int = 10000): Dataset[TierAssigned] = {
    import rows.sparkSession.implicits._
    val S = graft.operators.Sampling
    val thr = S.tierThresholds(corpus, metric, nTiers, approx, accuracy).head()
    typed[TierAssigned](rows.toDF("id", "m").select(col("id"), col("m"),
      S.tierExpr(col("m"), nTiers, i => lit(thr.getDouble(i - 1))).cast("int")))
  }

  /** Per doc of a stream: `n`, its token count, and `s`, the sum over
    * its tokens, in order, of `model(hashBucket256(token))` — the
    * batch [[graft.operators.Sampling.hashBucket256]] looked up in a
    * frozen 256-entry model. A null text has no tokens. */
  private def bucketSum(docs: Dataset[(Long, String)], model: Array[Double]): DataFrame = {
    val toks = coalesce(graft.operators.TextAnalysis.tokens(col("text")),
      array().cast("array<string>"))
    val m = typedLit(model)
    docs.toDF("id", "text").select(col("id"), size(toks).cast("long").as("n"),
      aggregate(transform(toks,
          t => element_at(m, graft.operators.Sampling.hashBucket256(t) + 1)),
        lit(0.0), (acc, x) => acc + x).as("s"))
  }

  /** One DSIR-scored document: id, token count, hashed-unigram
    * log-likelihood ratio. */
  case class DsirScored(id: Long, nToks: Long, logratio: Double)

  /** Streaming DSIR scoring — the unbounded twin of
    * [[graft.operators.Sampling.dsirLogRatio]]: the 256-bucket
    * target/source log-ratio model is computed ONCE from the static
    * reference corpus (the batch operator's own model stage — identical
    * smoothing and tie behavior) and collected (256 rows); each
    * streamed doc sums its tokens' log ratios through the batch bucket
    * hash ([[bucketSum]]). Stateless — no state store, no shuffle,
    * model frozen at stream start (the deployment contract of an
    * importance-resampling admission gate). */
  def streamingDsir(docs: Dataset[(Long, String)], reference: DataFrame,
                    refIdCol: String, refTextCol: String,
                    targetPred: org.apache.spark.sql.Column): Dataset[DsirScored] = {
    import docs.sparkSession.implicits._
    // the model frame is complete (all 256 buckets, smoothed), so the
    // lookup is total
    val lrs = new Array[Double](256)
    graft.operators.Sampling.dsirModel(reference, refIdCol, refTextCol, targetPred)
      .collect().foreach(r => lrs(r.getInt(0)) = r.getDouble(1))
    typed[DsirScored](bucketSum(docs, lrs))
  }

  /** One BPE-counted document: id, word count, BPE token count. */
  case class BpeCounted(id: Long, nWords: Long, nBpeTokens: Long)

  /** Streaming BPE token counting — the unbounded twin of
    * [[graft.operators.TextAnalysis.bpeEncode]]: each streamed doc is
    * tokenized and every word segmented by the batch word→symbols
    * expression ([[graft.operators.TextAnalysis.bpeSymbols]]), the
    * symbol counts summed per doc — map-side and stateless. Where the
    * batch operator segments each distinct word of the corpus once, the
    * stream segments every word occurrence. */
  def streamingBpeCount(docs: Dataset[(Long, String)],
                        merges: Seq[(String, String)]): Dataset[BpeCounted] = {
    import docs.sparkSession.implicits._
    val ms = merges.toArray
    val toks = coalesce(graft.operators.TextAnalysis.tokens(col("text")),
      array().cast("array<string>"))
    typed[BpeCounted](docs.toDF("id", "text").select(col("id"),
      size(toks).cast("long"),
      aggregate(transform(toks, w =>
          size(graft.operators.TextAnalysis.bpeSymbols(w, ms)).cast("long")),
        lit(0L), (acc, x) => acc + x)))
  }

  /** One classifier-scored document: id, token count, P(label). */
  case class QualityScored(id: Long, nToks: Long, p: Double)

  /** Streaming quality-classifier scoring — the unbounded twin of
    * [[graft.operators.Classifier.logisticScore]]: with weights trained
    * once (batch, on the exemplar corpus), each streamed doc sums its
    * tokens' weights through the batch bucket hash ([[bucketSum]]); the
    * length-normalized features make the logit that sum over the token
    * count, plus the bias. Stateless — the admission-gate deployment
    * shape of a fasttext-style quality filter. */
  def streamingQualityScore(docs: Dataset[(Long, String)],
                            weights: Array[Double],
                            bias: Double): Dataset[QualityScored] = {
    import docs.sparkSession.implicits._
    require(weights.length == 256, "expected 256 bucket weights")
    val z = when(col("n") === 0, lit(bias))
      .otherwise(col("s") / col("n").cast("double") + lit(bias))
    typed[QualityScored](bucketSum(docs, weights).select(col("id"), col("n"),
      lit(1.0) / (lit(1.0) + exp(-z))))
  }

  /** One surviving Misra-Gries counter: the bucket it lives in, the key,
    * and its RESIDUAL count (a lower bound on the true count — see
    * [[graft.functions.MisraGries]]). */
  case class HHCandidate(bucket: Int, key: String, residual: Long)

  /** Per-bucket Misra-Gries over `transformWithState` — the unbounded
    * twin of [[graft.operators.TextAnalysis.heavyHitters]]' sketch pass.
    * State per bucket is the SAME ≤k-entry MG buffer the batch aggregate
    * carries; each trigger folds the bucket's new rows into it and emits
    * the refreshed candidate snapshot (Update semantics downstream). */
  class HeavyHittersProcessor(k: Int)
    extends org.apache.spark.sql.streaming.StatefulProcessor[Int, (Int, String), HHCandidate] {
    import org.apache.spark.sql.streaming.{TimerValues, TTLConfig, ValueState}
    import org.apache.spark.sql.Encoders

    @transient private var state: ValueState[graft.functions.MGBuf] = _
    @transient private lazy val agg = new graft.functions.MisraGries(k)

    override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      state = getHandle.getValueState[graft.functions.MGBuf]("mg",
        Encoders.product[graft.functions.MGBuf], TTLConfig.NONE)

    override def handleInputRows(key: Int, rows: Iterator[(Int, String)],
                                 timerValues: TimerValues): Iterator[HHCandidate] = {
      var buf = Option(state.get()).getOrElse(agg.zero)
      rows.foreach { case (_, k) => buf = agg.reduce(buf, k) }
      state.update(buf) // ≤ k counters persist, never the stream
      buf.keys.iterator.map { case (kk, c) => HHCandidate(key, kk, c) }
    }
  }

  /** Streaming heavy-hitters candidates: keys are hash-routed to
    * `buckets` MG sketches, state O(buckets·k) TOTAL however many rows
    * stream through. The global guarantee SHARPENS under bucketing: a
    * key's whole count lands in one bucket, and the bucket's survival
    * threshold n_bucket/(k+1) ≤ n/(k+1), so the union of per-bucket
    * survivors contains every key with true count > n/(k+1) — the same
    * candidate-superset contract the batch operator finishes with an
    * exact recount (do the same downstream of this stream: snapshot the
    * candidates, exact-count them in micro-batch or at rest). */
  def streamingHeavyHitters(keys: Dataset[String], k: Int,
                            buckets: Int = 16): Dataset[HHCandidate] = {
    import keys.sparkSession.implicits._
    keys.map(s => (math.floorMod(s.hashCode, buckets), s))
      .groupByKey(_._1)
      .transformWithState(new HeavyHittersProcessor(k),
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update)
  }

  /** [[FirstSeenDedupProcessor]] wired over (id, key) rows. */
  def firstSeenDedupTws(docs: Dataset[(Long, String)]): Dataset[(Long, String)] = {
    import docs.sparkSession.implicits._
    docs.groupByKey(_._2)
      .transformWithState(new FirstSeenDedupProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Append)
  }

  /** Per-key running summate/average as a stateful collector: the state is
    * the Accumulator, every trigger emits the Finished view — a faithful
    * streaming rendering of Collector.collect (collector.h:186-204). */
  def runningStats[K](events: Dataset[(String, Double)]): Dataset[RunningAgg] = {
    import events.sparkSession.implicits._
    events.groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Double), RunningAgg](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        case (key, rows, state: GroupState[(Long, Double)]) =>
          val (n0, s0) = state.getOption.getOrElse((0L, 0.0))
          var n = n0; var s = s0
          rows.foreach { r => n += 1; s += r._2 }
          state.update((n, s))
          Iterator.single(RunningAgg(key, n, s, if (n == 0) 0.0 else s / n))
      }
  }
}
