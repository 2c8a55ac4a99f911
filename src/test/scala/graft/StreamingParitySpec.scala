package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.StreamOps

/** Batch ≡ streaming equivalence harness over the REAL sf0.001 tables —
  * the oracle-grade correctness signal for the streaming surface
  * (BASELINE north-star; VERDICT r2 #1). Each case replays driver
  * parquet rows through a MemoryStream in deterministic micro-batches
  * (ordered chunks + processAllAvailable between adds) and asserts the
  * streaming operator's final output equals — not resembles — the
  * already-oracle-gated batch twin on the same rows. */
class StreamingParitySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"
  private def docs: DataFrame = spark.read.parquet(s"$sfDir/documents.parquet")
  // ts normalized to long nanos regardless of the generator's physical type
  private def events: DataFrame = Queries.eventsTsNanos(spark, sfDir)

  /** Feed rows through a MemoryStream in ordered chunks, one micro-batch
    * per chunk, fully processed before the next is added. */
  private def replay[T](mem: MemoryStream[T], rows: Seq[T], chunk: Int,
                        q: org.apache.spark.sql.streaming.StreamingQuery): Unit =
    rows.grouped(chunk).foreach { batch =>
      mem.addData(batch: _*)
      q.processAllAvailable()
    }

  test("parity: streamingDedup ≡ Dedup.exact survivors on documents") {
    implicit val sq = spark.sqlContext
    // the sf tables carry no byte-identical texts, so dedup on a COARSE
    // key (first 4 tokens — 476 distinct over 500 docs) to make the
    // equivalence exercise real collisions, with the same key on both
    // sides and the same operators a pipeline would use
    val keyed = docs.select(col("doc_id"),
      array_join(slice(split(trim(col("text")), "\\s+"), 1, 4), " ").as("key"))
    val batchSurvivors = graft.operators.Dedup.exact(keyed, "doc_id", "key")
      .filter(col("id") === col("canonical_id"))
      .select(col("id")).collect().map(_.getLong(0)).toSet

    // equivalence contract: streamingDedup ≡ batch exact dedup exactly
    // when the WATERMARK HORIZON covers the replay — state for a key
    // expires once the watermark passes it (that is the operator's
    // bounded-state point), so the delay must span the synthetic ts
    // range (500 s here; a 1-minute delay demonstrably resurfaces
    // cross-batch duplicates). ts starts at +1 h so the first row is
    // never at the initial watermark boundary.
    val mem = MemoryStream[(Long, String)]
    val st = mem.toDF().toDF("doc_id", "key")
      .withColumn("ts", timestamp_micros((col("doc_id") + 3600L) * 1000000L))
    val out = StreamOps.streamingDedup(st, Seq("key"), "ts", "2 hours")
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("parity_dedup").start()
    val rows = keyed.orderBy(col("doc_id")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    replay(mem, rows, chunk = 25, q)
    q.stop()
    val streamSurvivors = spark.table("parity_dedup")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    // first occurrence per key in id order == batch min-id canonical rows
    assert(streamSurvivors == batchSurvivors)
    assert(streamSurvivors.size < 500) // the coarse key really collided
  }

  test("parity: sessionAgg ≡ q38 batch sessionization on events") {
    implicit val sq = spark.sqlContext
    // q38's own query fn is the oracle-gated batch truth
    val batch = QueriesSim.all("q38_sessions")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq

    val mem = MemoryStream[(Long, Long, Long)] // (event_id, user_id, ts_us)
    val st = mem.toDF().toDF("event_id", "user_id", "ts_us")
      .withColumn("ts", timestamp_micros(col("ts_us")))
    val out = StreamOps.sessionAgg(st, "ts", "user_id", "30 minutes", "1 minute")
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("parity_sessions").start()
    // ts is long nanos under nanosAsLong; micro truncation is verified
    // equivalent for the gap classification (no gap sits on the boundary)
    val rows = events.select(col("event_id"), col("user_id"),
        expr("ts div 1000").as("ts_us"))
      .orderBy(col("ts_us"), col("event_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    replay(mem, rows, chunk = 100, q)
    // sentinel far past every session closes all real windows
    mem.addData((-1L, 999999L, rows.map(_._3).max + 100L * 86400L * 1000000L))
    q.processAllAvailable()
    q.stop()
    val stream = spark.table("parity_sessions")
      .filter(col("user_id") =!= 999999L)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_sessions"), sum(col("n")).as("n_events"))
      .orderBy(col("user_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(stream == batch)
  }

  test("parity: streamingNearDupCandidates vs q32's batch candidate stage") {
    implicit val sq = spark.sqlContext
    import graft.operators.Dedup
    // batch candidate pairs (uncapped — the cap is inert at this scale)
    val sig = Dedup.minhashSignature(docs, "doc_id", "text", 3, 12)
    val batchPairs = Dedup.lshCandidates(Dedup.lshBands(sig, 4, 3))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    val mem = MemoryStream[(Long, String)]
    val out = StreamOps.streamingNearDupCandidates(mem.toDS())
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("parity_neardup").start()
    val rows = docs.select(col("doc_id"), col("text"))
      .orderBy(col("doc_id")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    replay(mem, rows, chunk = 50, q)
    q.stop()
    val streamPairs = spark.table("parity_neardup").collect()
      .map(r => { val a = r.getLong(0); val b = r.getLong(1)
        (math.min(a, b), math.max(a, b)) }).toSet

    // every streaming collision IS a batch candidate pair (same band
    // construction ⇒ shared key ⇒ batch candidate)...
    assert(streamPairs.subsetOf(batchPairs))
    // ...and the streaming graph connects every batch pair: the stateful
    // op links later docs to a bucket's FIRST doc, so a k-doc bucket
    // yields a star, not a clique — equality holds component-wise
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    streamPairs.foreach { case (a, b) => parent(find(a)) = find(b) }
    batchPairs.foreach { case (a, b) =>
      assert(find(a) == find(b), s"batch candidate ($a,$b) not connected in streaming graph")
    }
    assert(batchPairs.nonEmpty && streamPairs.nonEmpty)
  }

  test("parity: tumbleAgg ≡ batch time-bucket aggregation on events") {
    implicit val sq = spark.sqlContext
    val sizeUs = 6L * 3600L * 1000000L // 6-hour tumbling windows
    val batch = events.select(expr("ts div 1000").as("ts_us"), col("value"))
      .groupBy((floor(col("ts_us") / sizeUs) * sizeUs).as("w_start_us"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("s"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap

    val mem = MemoryStream[(Long, Double)] // (ts_us, value)
    val st = mem.toDF().toDF("ts_us", "value")
      .withColumn("ts", timestamp_micros(col("ts_us")))
    val out = StreamOps.tumbleAgg(st, "ts", "value", "6 hours", "1 minute")
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("parity_tumble").start()
    val rows = events.select(expr("ts div 1000").as("ts_us"), col("value"))
      .orderBy(col("ts_us")).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    replay(mem, rows, chunk = 100, q)
    mem.addData((rows.map(_._1).max + 100L * 86400L * 1000000L, 0.0)) // close all
    q.processAllAvailable()
    q.stop()
    val stream = spark.table("parity_tumble")
      .select(unix_micros(col("window.start")).as("w"), col("n"), col("sum_value"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter(_._1 <= rows.map(_._1).max) // drop the sentinel's window
      .sortBy(_._1)
    assert(stream.map(_._1).toSet == batch.keySet)
    stream.foreach { case (w, n, s) =>
      val (bn, bs) = batch(w)
      assert(n == bn, s"window $w count")
      assert(math.abs(s - bs) <= math.max(1e-9, math.abs(bs) * 1e-12), s"window $w sum")
    }
    assert(stream.size > 5) // the month of events spans many 6h windows
  }

  test("parity under out-of-order arrival: shuffled replay ≡ batch sessions and tumbles") {
    implicit val sq = spark.sqlContext
    // real streams deliver late-but-within-watermark rows; jitter each
    // row's ARRIVAL position by up to 1 day of event time (seeded, so
    // deterministic) under a 3-day watermark delay — no row is droppable,
    // every batch arrives internally unsorted and overlapping its
    // neighbors, and the final output must still equal the batch truth
    val rng = new scala.util.Random(0xBADCAFE)
    val dayUs = 86400L * 1000000L
    val base = events.select(col("event_id"), col("user_id"),
        expr("ts div 1000").as("ts_us"), col("value"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val jittered = base.map(r => (r, r._3 + (rng.nextDouble() * dayUs).toLong))
      .sortBy(_._2).map(_._1).toSeq
    val maxTs = base.map(_._3).max

    // sessions: same batch truth as the in-order parity case (q38)
    val batchSessions = QueriesSim.all("q38_sessions")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val memS = MemoryStream[(Long, Long, Long)]
    val stS = memS.toDF().toDF("event_id", "user_id", "ts_us")
      .withColumn("ts", timestamp_micros(col("ts_us")))
    val outS = StreamOps.sessionAgg(stS, "ts", "user_id", "30 minutes", "3 days")
    val qS = outS.writeStream.outputMode("append").format("memory")
      .queryName("ooo_sessions").start()
    replay(memS, jittered.map(r => (r._1, r._2, r._3)), chunk = 100, qS)
    memS.addData((-1L, 999999L, maxTs + 100L * dayUs))
    qS.processAllAvailable()
    qS.stop()
    val gotSessions = spark.table("ooo_sessions")
      .filter(col("user_id") =!= 999999L)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_sessions"), sum(col("n")).as("n_events"))
      .orderBy(col("user_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(gotSessions == batchSessions)

    // tumbling windows over the same shuffled feed
    val sizeUs = 6L * 3600L * 1000000L
    val batchTumble = base.groupBy(r => r._3 / sizeUs * sizeUs)
      .map { case (w, rs) => w -> (rs.length.toLong, rs.map(_._4).sum) }
    val memT = MemoryStream[(Long, Double)]
    val stT = memT.toDF().toDF("ts_us", "value")
      .withColumn("ts", timestamp_micros(col("ts_us")))
    val outT = StreamOps.tumbleAgg(stT, "ts", "value", "6 hours", "3 days")
    val qT = outT.writeStream.outputMode("append").format("memory")
      .queryName("ooo_tumble").start()
    replay(memT, jittered.map(r => (r._3, r._4)), chunk = 100, qT)
    memT.addData((maxTs + 100L * dayUs, 0.0))
    qT.processAllAvailable()
    qT.stop()
    val gotTumble = spark.table("ooo_tumble")
      .select(unix_micros(col("window.start")).as("w"), col("n"), col("sum_value"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter(_._1 <= maxTs).sortBy(_._1)
    assert(gotTumble.map(_._1).toSet == batchTumble.keySet)
    gotTumble.foreach { case (w, n, s) =>
      val (bn, bs) = batchTumble(w)
      assert(n == bn, s"window $w count under out-of-order replay")
      assert(math.abs(s - bs) <= math.max(1e-9, math.abs(bs) * 1e-12))
    }
  }

  test("parity across checkpoint restart: streamingDedup survivors unchanged") {
    implicit val sq = spark.sqlContext
    // same coarse key as the in-order dedup parity case
    val keyed = docs.select(col("doc_id"),
      array_join(slice(split(trim(col("text")), "\\s+"), 1, 4), " ").as("key"))
    val batchSurvivors = graft.operators.Dedup.exact(keyed, "doc_id", "key")
      .filter(col("id") === col("canonical_id"))
      .select(col("id")).collect().map(_.getLong(0)).toSet
    val rows = keyed.orderBy(col("doc_id")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq

    // the memory sink refuses checkpoint recovery (not fault-tolerant);
    // the parquet file sink is the recovery-capable one — exactly the
    // sink a production dedup would land in anyway
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt_").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_sink_").toString
    val mem = MemoryStream[(Long, String)]
    val st = mem.toDF().toDF("doc_id", "key")
      .withColumn("ts", timestamp_micros((col("doc_id") + 3600L) * 1000000L))
    val out = StreamOps.streamingDedup(st, Seq("key"), "ts", "2 hours")

    // first half, fully committed, then a hard stop
    val q1 = out.writeStream.outputMode("append").format("parquet")
      .option("path", outDir).option("checkpointLocation", ckpt).start()
    replay(mem, rows.take(250), chunk = 25, q1)
    q1.stop()
    val firstHalf = spark.read.parquet(outDir)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet

    // restart FROM THE CHECKPOINT: the dedup state store must come back,
    // so keys seen before the stop still suppress their later duplicates
    val q2 = out.writeStream.outputMode("append").format("parquet")
      .option("path", outDir).option("checkpointLocation", ckpt).start()
    replay(mem, rows.drop(250), chunk = 25, q2)
    q2.stop()
    val all = spark.read.parquet(outDir)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSeq

    // no survivor emitted twice across the restart, and the final
    // output is exactly the batch truth
    assert(all.size == all.toSet.size)
    assert(all.toSet == batchSurvivors)
    assert(firstHalf.nonEmpty && (all.toSet -- firstHalf).nonEmpty)
  }

  test("parity: slideAgg ≡ batch sliding-window aggregation on events") {
    implicit val sq = spark.sqlContext
    // batch truth via the slide fan-out arithmetic (the time-domain face
    // of WindowCollectable.slide: window w covers [w*slide, w*slide+size)),
    // computed independently of streaming window() internals
    val sizeUs = 6L * 3600L * 1000000L
    val slideUs = 2L * 3600L * 1000000L
    val base = events.select(expr("ts div 1000").as("ts_us"), col("value"))
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val batchWindows = base.flatMap { case (ts, v) =>
      val wMax = math.floorDiv(ts, slideUs)
      val wMin = math.floorDiv(ts - sizeUs, slideUs) + 1
      (wMin to wMax).map(w => (w * slideUs, v))
    }.groupBy(_._1).map { case (w, vs) => w -> (vs.length.toLong, vs.map(_._2).sum) }

    val mem = MemoryStream[(Long, Double)]
    val st = mem.toDF().toDF("ts_us", "value")
      .withColumn("ts", timestamp_micros(col("ts_us")))
    val out = StreamOps.slideAgg(st, "ts", "value", "6 hours", "2 hours", "1 minute")
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("parity_slide").start()
    val rows = base.sortBy(_._1).toSeq
    replay(mem, rows, chunk = 100, q)
    mem.addData((base.map(_._1).max + 100L * 86400L * 1000000L, 0.0))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("parity_slide")
      .select(unix_micros(col("window.start")).as("w"), col("n"), col("sum_value"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter(_._1 <= base.map(_._1).max).sortBy(_._1)
    assert(got.map(_._1).toSet == batchWindows.keySet)
    got.foreach { case (w, n, s) =>
      val (bn, bs) = batchWindows(w)
      assert(n == bn, s"slide window $w count")
      assert(math.abs(s - bs) <= math.max(1e-9, math.abs(bs) * 1e-12))
    }
    assert(got.size > batchWindows.size / 2 && got.size > 10)
  }

  test("parity across checkpoint restart: runningStatsTws state resumes (RocksDB)") {
    implicit val sq = spark.sqlContext
    // transformWithState's ValueState must come back from the checkpoint:
    // counts continue from where the stopped query left off, never reset.
    // Update-mode needs a recovery-capable sink → foreachBatch into a
    // driver-side buffer (collecting tiny per-key aggregates is the
    // sink's job here, not an operator collapse).
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ckpt = java.nio.file.Files.createTempDirectory("graft_tws_ckpt_").toString
      val mem = MemoryStream[(String, Double)]
      val out = StreamOps.runningStatsTws(mem.toDS())
      val buf = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Double)]()
      def start() = out.writeStream.outputMode("update")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.Dataset[StreamOps.RunningAgg], _: Long) =>
          df.collect().foreach(r => buf.add((r.key, r.n, r.sum)))
        }.start()
      val rows = events.select(col("event_type"), col("value"))
        .orderBy(col("event_id")).collect()
        .map(r => (r.getString(0), r.getDouble(1))).toSeq

      val q1 = start()
      replay(mem, rows.take(1000), chunk = 200, q1)
      q1.stop()
      val atStop = buf.toArray(Array.empty[(String, Long, Double)])
        .groupBy(_._1).map { case (k, us) => k -> us.maxBy(_._2) }
      assert(atStop.values.map(_._2).sum == 1000L) // every pre-stop row counted once

      val q2 = start()
      replay(mem, rows.drop(1000), chunk = 200, q2)
      q2.stop()
      val lastPerKey = buf.toArray(Array.empty[(String, Long, Double)])
        .groupBy(_._1).map { case (k, us) => k -> us.maxBy(_._2) }

      val batch = events.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("s")).collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
      assert(lastPerKey.keySet == batch.keySet)
      lastPerKey.foreach { case (k, (_, n, s)) =>
        val (bn, bs) = batch(k)
        assert(n == bn, s"key $k count across restart")
        assert(math.abs(s - bs) <= math.max(1e-9, math.abs(bs) * 1e-12), s"key $k sum")
      }
    } finally prev match {
      case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("parity: runningStatsTws final state ≡ batch summate/average") {
    implicit val sq = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[(String, Double)]
      val out = StreamOps.runningStatsTws(mem.toDS())
      val q = out.writeStream.outputMode("update").format("memory")
        .queryName("parity_running").start()
      val rows = events.select(col("event_type"), col("value"))
        .orderBy(col("event_id")).collect()
        .map(r => (r.getString(0), r.getDouble(1))).toSeq
      replay(mem, rows, chunk = 200, q)
      q.stop()
      val lastPerKey = spark.table("parity_running").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
        .groupBy(_._1).map { case (k, us) => k -> us.maxBy(_._2) }
      val batch = events.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("s")).collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
      assert(lastPerKey.keySet == batch.keySet)
      lastPerKey.foreach { case (k, (_, n, s, mean)) =>
        val (bn, bs) = batch(k)
        assert(n == bn, s"key $k count")
        // summation order differs (arrival vs partition merge) — ulp slack
        assert(math.abs(s - bs) <= math.max(1e-9, math.abs(bs) * 1e-12), s"key $k sum")
        assert(math.abs(mean - bs / bn) <= math.max(1e-9, math.abs(mean) * 1e-12))
      }
      // tie one key to the collector surface itself: Statistics.summate/
      // average over the same rows (the reference's useSummate/useAverage)
      val k0 = batch.keySet.min
      val st0 = graft.core.SemanticStream.indexedFrom(
        events.filter(col("event_type") === k0), col("value"), Seq(col("event_id")))
      val stats = new graft.core.Statistics(
        st0.select(col("ord"), col("idx"), col("value").cast("double").as("value")))
      val (_, n0, s0, m0) = lastPerKey(k0)
      assert(math.abs(stats.summate - s0) <= math.max(1e-9, math.abs(s0) * 1e-12))
      assert(math.abs(stats.average - m0) <= math.max(1e-9, math.abs(m0) * 1e-12))
      assert(stats.df.count() == n0)
    } finally prev match {
      case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("parity across checkpoint restart: file source → firstSeenDedupTws → parquet sink") {
    // the DEPLOYMENT shape of streaming dedup: parquet files landing in a
    // directory, transformWithState first-seen dedup, parquet sink — the
    // query is killed between file arrivals and restarted from the
    // checkpoint, so the ValueState must come back or already-seen keys
    // re-emit. Batch twin: Dedup.exact survivors on the same rows.
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val inDir = java.nio.file.Files.createTempDirectory("graft_fsrc_in_").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_fsrc_ckpt_").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_fsrc_out_").toString
    try {
      // same coarse key as the streamingDedup case: first 4 tokens, 476
      // distinct over 500 docs, so collisions are real
      val keyed = docs.select(col("doc_id"),
        array_join(slice(split(trim(col("text")), "\\s+"), 1, 4), " ").as("key"))
      val rows = keyed.orderBy(col("doc_id")).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
      // split INSIDE the widest duplicate group so at least one key
      // straddles the restart — the case that catches lost state
      val dupGroups = rows.groupBy(_._2).filter(_._2.size > 1)
      assert(dupGroups.nonEmpty, "fixture must carry key collisions")
      val ids = dupGroups.maxBy { case (_, rs) => rs.map(_._1).max - rs.map(_._1).min }._2.map(_._1)
      val splitId = (ids.min + ids.max) / 2
      val (h1, h2) = rows.partition(_._1 <= splitId)
      val straddlers = h1.map(_._2).toSet intersect h2.map(_._2).toSet
      assert(straddlers.nonEmpty)

      h1.toDF("doc_id", "key").coalesce(1).write.mode("append").parquet(inDir)
      val src = spark.readStream.schema("doc_id LONG, key STRING").parquet(inDir)
        .as[(Long, String)]
      val out = StreamOps.firstSeenDedupTws(src).toDF("id", "key")
      def start() = out.writeStream.outputMode("append").format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt).start()

      val q1 = start()
      q1.processAllAvailable()
      q1.stop()
      val phase1 = spark.read.parquet(outDir).collect()
        .map(r => (r.getLong(0), r.getString(1)))
      val h1MinByKey = h1.groupBy(_._2).map { case (k, rs) => k -> rs.map(_._1).min }
      assert(phase1.length == h1MinByKey.size)
      phase1.foreach { case (id, k) => assert(id == h1MinByKey(k), s"phase-1 survivor for '$k'") }

      // second file lands while the query is DOWN; restart from checkpoint
      h2.toDF("doc_id", "key").coalesce(1).write.mode("append").parquet(inDir)
      val q2 = start()
      q2.processAllAvailable()
      q2.stop()

      val got = spark.read.parquet(outDir).collect()
        .map(r => (r.getLong(0), r.getString(1)))
      // state survived: straddling keys emitted exactly once, from phase 1
      assert(got.length == got.map(_._2).distinct.length, "a key emitted twice across restart")
      val batchSurvivors = graft.operators.Dedup
        .exactCanonical(keyed, "doc_id", "key", Seq("key"))
        .select(col("id"), col("key")).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(got.toSet == batchSurvivors)
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
      // the three temp trees (input, checkpoint, output) would otherwise
      // leak disk across test runs
      Seq(inDir, ckpt, outDir).foreach { d =>
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
        }
        rm(new java.io.File(d))
      }
    }
  }

  test("parity across checkpoint restart: streamingTopKPerGroup ≡ batch topKPerGroup (RocksDB)") {
    implicit val sq = spark.sqlContext
    // the streaming twin of q74: docs' quality scores stream in per
    // lang, state is the compacted ≤k top-k buffer, the query is killed
    // mid-stream and resumed from the checkpoint — the final snapshot
    // per group must equal the oracle-gated batch operator on the same
    // rows, bit for bit (rank, id AND score).
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_topk_ckpt_").toString
    try {
      val scored = docs.select(col("lang"), col("doc_id"),
        graft.operators.TextAnalysis.qualityScore(col("text")).as("q"))
      val rows = scored.orderBy(col("doc_id")).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
      val mem = MemoryStream[(String, Long, Double)]
      val out = StreamOps.streamingTopKPerGroup(mem.toDS(), k = 3)
      val buf = new java.util.concurrent.ConcurrentLinkedQueue[(Long, StreamOps.TopKEntry)]()
      val seq = new java.util.concurrent.atomic.AtomicLong()
      def start() = out.writeStream.outputMode("update")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.Dataset[StreamOps.TopKEntry], _: Long) =>
          val stamp = seq.incrementAndGet()
          df.collect().foreach(e => buf.add((stamp, e)))
        }.start()

      val q1 = start()
      replay(mem, rows.take(250), chunk = 100, q1)
      q1.stop()
      val q2 = start() // state resumes from RocksDB checkpoint
      replay(mem, rows.drop(250), chunk = 100, q2)
      q2.stop()

      // latest snapshot per group = rows from the highest stamp that
      // touched the group
      val latest = buf.toArray(Array.empty[(Long, StreamOps.TopKEntry)])
        .groupBy(_._2.group)
        .flatMap { case (_, es) =>
          val top = es.map(_._1).max
          es.filter(_._1 == top).map(_._2).toSeq
        }
        .map(e => (e.group, e.rank, e.id, e.score)).toSet
      val batch = graft.operators.Similarity.topKPerGroup(
        scored, "lang", "q", "doc_id", 3).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
      assert(latest == batch)
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(new java.io.File(ckpt))
    }
  }

  test("parity across checkpoint restart: streamingAsof ≡ batch Joins.asof (RocksDB), state O(keys)") {
    implicit val sq = spark.sqlContext
    // the streaming twin of q43: orders (rights) and events (lefts)
    // stream in as one tagged union in the batch operator's (t, tag,
    // tie) order; the query is killed mid-stream and resumed from the
    // RocksDB checkpoint. Every emitted match must equal the
    // oracle-gated batch as-of bit for bit, and state must be ONE
    // running-last register per key with at least one right row — never
    // the stream.
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_asof_ckpt_").toString
    try {
      val ev = events.select(col("event_id"), col("user_id"), col("ts"))
      val ord = spark.read.parquet(s"$sfDir/orders.parquet")
        .select(col("o_custkey"), col("o_orderdate"), col("o_orderkey"), col("o_totalprice"))
      val batch = graft.operators.Joins.asof(
        left = ev, right = ord,
        leftKey = col("user_id") + 1, rightKey = col("o_custkey"),
        leftTime = col("ts"),
        rightTime = unix_micros(col("o_orderdate").cast("timestamp")) * 1000L,
        rightPayload = Seq("o_orderkey", "o_totalprice"),
        rightTieBreak = col("o_orderkey"))
        .select(col("event_id"), col("o_orderkey"), col("o_totalprice")).collect()
        .map(r => (r.getLong(0),
          if (r.isNullAt(1)) None else Some(r.getLong(1)),
          if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSet

      val rights = ord.select(col("o_custkey").cast("string"),
          (unix_micros(col("o_orderdate").cast("timestamp")) * 1000L).as("t"),
          col("o_orderkey"), col("o_totalprice")).collect()
        .map(r => StreamOps.AsofEvent(r.getString(0), r.getLong(1), 0,
          r.getLong(2), -1L, r.getLong(2), r.getDouble(3)))
      val lefts = ev.select((col("user_id") + 1).cast("string"), col("ts"), col("event_id"))
        .collect()
        .map(r => StreamOps.AsofEvent(r.getString(0), r.getLong(1), 1,
          Long.MinValue, r.getLong(2), -1L, 0.0))
      // the batch operator's exact total order — in-order replay is the
      // regime where streaming ≡ batch holds exactly
      val rows = (rights ++ lefts).sortBy(r => (r.t, r.tag, r.tie)).toSeq

      val mem = MemoryStream[StreamOps.AsofEvent]
      val out = StreamOps.streamingAsof(mem.toDS())
      val buf = new java.util.concurrent.ConcurrentLinkedQueue[StreamOps.AsofJoined]()
      def start() = out.writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.Dataset[StreamOps.AsofJoined], _: Long) =>
          df.collect().foreach(buf.add)
        }.start()

      val half = rows.length / 2
      val q1 = start()
      replay(mem, rows.take(half), chunk = 2000, q1)
      q1.stop()
      val q2 = start() // running-last registers resume from the checkpoint
      replay(mem, rows.drop(half), chunk = 2000, q2)
      val stateRows = q2.lastProgress.stateOperators.map(_.numRowsTotal).sum
      q2.stop()

      val got = buf.toArray(Array.empty[StreamOps.AsofJoined])
        .map(j => (j.leftId, j.qid, j.px)).toSet
      assert(got == batch)
      // O(keys) state: one register per key that has seen a right row,
      // regardless of how many rows streamed through
      val rightKeys = rights.map(_.key).distinct.length.toLong
      assert(stateRows == rightKeys,
        s"state rows $stateRows != $rightKeys right keys — state is not O(keys)")
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(new java.io.File(ckpt))
    }
  }

  test("parity across checkpoint restart: streamingHeavyHitters candidates finish to batch heavyHitters (RocksDB), state O(buckets)") {
    implicit val sq = spark.sqlContext
    // the streaming twin of q82's sketch pass: document tokens stream
    // through 4 hash-routed Misra-Gries sketches (k=200 each), the query
    // is killed mid-stream and resumed from the RocksDB checkpoint. The
    // final candidate union must contain every true heavy hitter (the
    // per-bucket threshold n_bucket/(k+1) only SHARPENS the global
    // n/(k+1) bound), so exact-recounting the candidates must reproduce
    // the batch operator's exact top-10 — and state must be one MG
    // buffer per bucket, never the token stream.
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_hh_ckpt_").toString
    try {
      val toks = docs.select(posexplode(
          graft.operators.TextAnalysis.tokens(col("text"))).as(Seq("p", "tok")),
          col("doc_id"))
        .orderBy(col("doc_id"), col("p"))
        .collect().map(_.getString(1)).toSeq
      val batch = graft.operators.TextAnalysis.heavyHitters(
        docs.select(explode(graft.operators.TextAnalysis.tokens(col("text"))).as("tok")),
        col("tok"), h = 10, k = 500)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toList
      assert(batch.nonEmpty)

      val mem = MemoryStream[String]
      val out = StreamOps.streamingHeavyHitters(mem.toDS(), k = 200, buckets = 4)
      val buf = new java.util.concurrent.ConcurrentLinkedQueue[(Long, StreamOps.HHCandidate)]()
      val seq = new java.util.concurrent.atomic.AtomicLong()
      def start() = out.writeStream.outputMode("update")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.Dataset[StreamOps.HHCandidate], _: Long) =>
          val stamp = seq.incrementAndGet()
          df.collect().foreach(e => buf.add((stamp, e)))
        }.start()

      val half = toks.length / 2
      val q1 = start()
      replay(mem, toks.take(half), chunk = 5000, q1)
      q1.stop()
      val q2 = start() // MG buffers resume from the checkpoint
      replay(mem, toks.drop(half), chunk = 5000, q2)
      val stateRows = q2.lastProgress.stateOperators.map(_.numRowsTotal).sum
      q2.stop()

      // candidate union = latest snapshot per bucket
      val all = buf.toArray(Array.empty[(Long, StreamOps.HHCandidate)])
      val candidates = all.groupBy(_._2.bucket).flatMap { case (_, es) =>
        val top = es.map(_._1).max
        es.filter(_._1 == top).map(_._2.key).toSeq
      }.toSet
      // superset contract: every batch top-10 key is a streamed candidate
      val batchKeys = batch.map(_._2).toSet
      assert(batchKeys.subsetOf(candidates),
        s"missing hitters: ${batchKeys -- candidates}")
      // finish the job exactly as the batch operator does: exact-count
      // the candidates, rank (count desc, key asc), cut to 10
      val exact = toks.filter(candidates).groupBy(identity)
        .map { case (k, v) => (k, v.size.toLong) }
      val finished = exact.toSeq.sortBy { case (k, n) => (-n, k) }.take(10)
        .zipWithIndex.map { case ((k, n), i) => (i + 1L, k, n) }.toList
      assert(finished == batch)
      // O(buckets) state: one MG buffer row per bucket
      assert(stateRows <= 4L,
        s"state rows $stateRows > 4 buckets — state is not O(buckets)")
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(new java.io.File(ckpt))
    }
  }

  test("parity: streamingRangeJoin ≡ batch rangeJoin (q51 shape), state evicted past the horizon") {
    implicit val sq = spark.sqlContext
    // the q51 shape: same-user event pairs within 10 minutes AFTER a
    // trigger event, both sides the events stream itself. Batch truth
    // from the oracle-gated binned rangeJoin on the same rows.
    val evMicros = spark.read.parquet(s"$sfDir/events.parquet")
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts").cast("timestamp")).as("ts_us"))
    val win = 600L * 1000000L
    val triggers = evMicros.select(col("event_id").as("t_event"),
      col("user_id").as("t_user"), col("ts_us").as("lo"),
      (col("ts_us") + win).as("hi"))
    val batch = graft.operators.Joins.rangeJoin(evMicros, triggers,
      leftKeyCol = "user_id", rightKeyCol = "t_user",
      leftTimeCol = "ts_us", rightLoCol = "lo", rightHiCol = "hi",
      binWidth = win)
      .filter(col("l.event_id") =!= col("r.t_event"))
      .select(col("r.t_event"), col("l.event_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(batch.nonEmpty)

    val rows = evMicros.orderBy(col("ts_us")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val memL = MemoryStream[(Long, Long, Long)]
    val memR = MemoryStream[(Long, Long, Long)]
    def tsify(df: DataFrame) = df.toDF("event_id", "user_id", "ts_us")
      .withColumn("ts", timestamp_micros(col("ts_us"))).drop("ts_us")
    val joined = StreamOps.streamingRangeJoin(
      tsify(memL.toDF()), tsify(memR.toDF()),
      leftKeyCol = "user_id", rightKeyCol = "user_id",
      leftTimeCol = "ts", rightTimeCol = "ts",
      window = "10 minutes", watermark = "20 minutes")
      .filter(col("l.event_id") =!= col("r.event_id"))
      .select(col("r.event_id").as("a"), col("l.event_id").as("b"))
    val q = joined.writeStream.outputMode("append").format("memory")
      .queryName("parity_rangejoin").start()
    // both sides replay the SAME ordered event stream in lockstep
    rows.grouped(100).foreach { chunk =>
      memL.addData(chunk: _*); memR.addData(chunk: _*)
      q.processAllAvailable()
    }
    val stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
    q.stop()
    val got = spark.table("parity_rangejoin").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == batch)
    // the events span ~30 days against a 30-minute match horizon: the
    // join must have EVICTED nearly everything — buffering the whole
    // stream (the unbounded-state regression) shows up as ~2n rows
    assert(stateRows < rows.length / 2,
      s"state rows $stateRows — stream-stream join is not evicting past the watermark")
  }

  test("parity: streamingBlocklistFilter ≡ batch bloomAntiJoin, stateless stream-static") {
    implicit val sq = spark.sqlContext
    // the q77 shape: blocklist = word 3-shingles of the doc_id%25 docs;
    // the corpus shingle stream is decontaminated against it. Batch
    // truth from the oracle-gated bloomAntiJoin on the same rows.
    val block = docs.filter(col("doc_id") % 25 === 0)
      .select(explode(graft.operators.Dedup.shingleArray(col("text"), 3)).as("shingle"))
      .distinct()
    val corpusSh = docs.filter(col("doc_id") % 25 =!= 0)
      .select(col("doc_id"), explode(graft.operators.Dedup.shingleArray(col("text"), 3)).as("shingle"))
    val batchClean = graft.operators.Joins.bloomAntiJoin(
        corpusSh, block, col("shingle"), col("shingle"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet

    val mem = MemoryStream[(Long, String)]
    val st = mem.toDF().toDF("doc_id", "shingle")
    val out = StreamOps.streamingBlocklistFilter(st, block, col("shingle"), col("shingle"))
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("parity_blocklist").start()
    val rows = corpusSh.orderBy(col("doc_id"), col("shingle")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    replay(mem, rows, chunk = 500, q)
    // STATELESS: no state store operators at all — the static side is a
    // per-batch broadcast, nothing is buffered across triggers
    val stateRows = Option(q.lastProgress)
      .map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(0L)
    q.stop()
    val streamClean = spark.table("parity_blocklist")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(streamClean == batchClean)
    // the filter really dropped contaminated shingles, and kept some
    assert(streamClean.nonEmpty && streamClean.size < rows.size)
    assert(stateRows == 0L, s"expected a stateless plan, got $stateRows state rows")
  }

  test("parity: streamingLmScore ≡ batch lmCrossEntropy, stateless map-side model") {
    implicit val sq = spark.sqlContext
    // q79 shape: model counted from the full sf0.001 corpus; the same
    // docs stream through the broadcast-model scorer
    val batch = graft.operators.TextAnalysis
      .lmCrossEntropy(docs, docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap

    val mem = MemoryStream[(Long, String)]
    val out = StreamOps.streamingLmScore(mem.toDS(), docs, "text")
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("parity_lmscore").start()
    val rows = docs.select(col("doc_id"), col("text")).orderBy(col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    replay(mem, rows, chunk = 20, q)
    val stateRows = Option(q.lastProgress)
      .map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(0L)
    q.stop()
    val streamed = spark.table("parity_lmscore")
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2)))).toMap
    assert(streamed.keySet == batch.keySet)
    // n_bigrams must match exactly; the cross-entropy to 1e-9 — the
    // batch sum is a distributed reduction whose addition ORDER differs
    // from the scorer's sequential per-doc loop, so the last ulps of an
    // IEEE sum may differ even though every term is identical
    streamed.foreach { case (id, (n, ce)) =>
      assert(n == batch(id)._1, s"doc $id n_bigrams $n vs ${batch(id)._1}")
      assert(math.abs(ce - batch(id)._2) < 1e-9, s"doc $id ce $ce vs ${batch(id)._2}")
    }
    assert(stateRows == 0L, s"expected a stateless plan, got $stateRows state rows")
  }

  test("parity: streamingBm25 ≡ batch bm25, stateless map-side scorer") {
    implicit val sq = spark.sqlContext
    // q85 shape: corpus stats (N, avgdl, df) frozen from the full
    // sf0.001 corpus; the same docs stream through the batch score
    // expression with those stats as literals
    val terms = Seq("spark", "join", "window")
    val batch = graft.operators.TextAnalysis.bm25(docs, "doc_id", "text", terms)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap

    val mem = MemoryStream[(Long, String)]
    val out = StreamOps.streamingBm25(mem.toDS(), docs, "text", terms)
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("parity_bm25").start()
    val rows = docs.select(col("doc_id"), col("text")).orderBy(col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    replay(mem, rows, chunk = 100, q)
    val stateRows = Option(q.lastProgress)
      .map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(0L)
    q.stop()
    val streamed = spark.table("parity_bm25")
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2)))).toMap
    assert(streamed.keySet == batch.keySet)
    // hit counts exactly; scores to 1e-12 — every term is the same IEEE
    // expression, only the corpus-stats aggregation order could differ
    // by ulps between the two plans
    streamed.foreach { case (id, (h, s)) =>
      assert(h == batch(id)._1, s"doc $id hits $h vs ${batch(id)._1}")
      assert(math.abs(s - batch(id)._2) < 1e-12, s"doc $id score $s vs ${batch(id)._2}")
    }
    assert(stateRows == 0L, s"expected a stateless plan, got $stateRows state rows")
  }

  test("parity: streamingTfidf ≡ batch tfidf, stateless map-side scorer") {
    implicit val sq = spark.sqlContext
    // q98 shape: (N, df) frozen from the full sf0.001 corpus; the same
    // docs stream through the batch score expression
    val terms = Seq("spark", "join", "window")
    val batch = graft.operators.TextAnalysis.tfidf(docs, "doc_id", "text", terms)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap

    val mem = MemoryStream[(Long, String)]
    val out = StreamOps.streamingTfidf(mem.toDS(), docs, "text", terms)
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("parity_tfidf").start()
    val rows = docs.select(col("doc_id"), col("text")).orderBy(col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    replay(mem, rows, chunk = 100, q)
    val stateRows = Option(q.lastProgress)
      .map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(0L)
    q.stop()
    val streamed = spark.table("parity_tfidf")
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2)))).toMap
    assert(streamed.keySet == batch.keySet)
    streamed.foreach { case (id, (h, s)) =>
      assert(h == batch(id)._1, s"doc $id hits $h vs ${batch(id)._1}")
      assert(math.abs(s - batch(id)._2) < 1e-12, s"doc $id score $s vs ${batch(id)._2}")
    }
    assert(stateRows == 0L, s"expected a stateless plan, got $stateRows state rows")
  }

  test("parity: streamingGopherQuality ≡ batch gopherQuality, stateless") {
    implicit val sq = spark.sqlContext
    // no corpus statistics at all — the twin must be BIT-equal per row,
    // rounding included. Two extra docs hold astral tokens: a word's
    // length counts code points, not UTF-16 units
    val gdocs = docs.select(col("doc_id"), col("text")).union(Seq(
      (900001L, "the cat \uD83D\uDE00\uD83D\uDE00\uD83D\uDE00 of and to"),
      (900002L, "\uD835\uDC9C\uD835\uDCB7\uD835\uDCB8 the and")).toDF("doc_id", "text"))
    val batch = graft.operators.TextAnalysis.gopherQuality(gdocs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getLong(4), r.getBoolean(5)))
      .toMap
    assert(batch(900001L)._2 == 2.6667 && batch(900002L)._2 == 3.0)

    val mem = MemoryStream[(Long, String)]
    val out = StreamOps.streamingGopherQuality(mem.toDS())
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("parity_gopher").start()
    val rows = gdocs.orderBy(col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    replay(mem, rows, chunk = 100, q)
    val stateRows = Option(q.lastProgress)
      .map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(0L)
    q.stop()
    val streamed = spark.table("parity_gopher")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getLong(4), r.getBoolean(5)))
      .toMap
    assert(streamed == batch)
    assert(stateRows == 0L, s"expected a stateless plan, got $stateRows state rows")
  }

  test("parity: streamingQuantileTiers ≡ batch quantileTiers, stateless") {
    implicit val sq = spark.sqlContext
    // q101 shape: decile thresholds of n_chars frozen from the full
    // sf0.001 corpus; the same rows stream through the batch
    // comparison chain — tier assignment must be bit-equal
    val src = docs.select(col("doc_id"),
      col("n_chars").cast("double").as("m"))
    val batch = graft.operators.Sampling.quantileTiers(src, col("m"), 10)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap

    val mem = MemoryStream[(Long, Double)]
    val out = StreamOps.streamingQuantileTiers(mem.toDS(), src, col("m"), 10)
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("parity_tiers").start()
    val rows = src.orderBy(col("doc_id")).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    replay(mem, rows, chunk = 100, q)
    val stateRows = Option(q.lastProgress)
      .map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(0L)
    q.stop()
    val streamed = spark.table("parity_tiers")
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(streamed == batch)
    assert(stateRows == 0L, s"expected a stateless plan, got $stateRows state rows")
  }

  test("parity: repetitionSignals applies to a stream verbatim, stateless") {
    implicit val sq = spark.sqlContext
    // the battery is a pure per-row projection (Column expressions
    // only), so the BATCH OPERATOR ITSELF is its streaming twin — no
    // scalar re-implementation to drift. Assert it runs on an unbounded
    // frame and is bit-equal to the batch pass over the same rows.
    val batch = graft.operators.TextAnalysis
      .repetitionSignals(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)))
      .toMap

    val mem = MemoryStream[(Long, String)]
    val out = graft.operators.TextAnalysis.repetitionSignals(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text")
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("parity_repsig").start()
    val rows = docs.select(col("doc_id"), col("text")).orderBy(col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    replay(mem, rows, chunk = 100, q)
    val stateRows = Option(q.lastProgress)
      .map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(0L)
    q.stop()
    val streamed = spark.table("parity_repsig")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)))
      .toMap
    assert(streamed == batch)
    assert(stateRows == 0L, s"expected a stateless plan, got $stateRows state rows")
  }

  test("parity: streamingDsir ≡ batch dsirLogRatio, stateless map-side model") {
    implicit val sq = spark.sqlContext
    // q89 shape: the 256-bucket target/source log-ratio model frozen
    // from the full sf0.001 corpus; the same docs stream through the
    // frozen-model scorer
    val batch = graft.operators.Sampling
      .dsirLogRatio(docs, "doc_id", "text", col("lang") === "en")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap

    val mem = MemoryStream[(Long, String)]
    val out = StreamOps.streamingDsir(mem.toDS(), docs, "doc_id", "text",
      col("lang") === "en")
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("parity_dsir").start()
    val rows = docs.select(col("doc_id"), col("text")).orderBy(col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    replay(mem, rows, chunk = 100, q)
    val stateRows = Option(q.lastProgress)
      .map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(0L)
    q.stop()
    val streamed = spark.table("parity_dsir")
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2)))).toMap
    assert(streamed.keySet == batch.keySet)
    // token counts exactly; log-ratio sums to 1e-9 — the batch per-doc
    // sum is a distributed reduction whose addition order differs from
    // the scorer's sequential loop
    streamed.foreach { case (id, (n, lr)) =>
      assert(n == batch(id)._1, s"doc $id n_toks $n vs ${batch(id)._1}")
      assert(math.abs(lr - batch(id)._2) < 1e-9, s"doc $id lr $lr vs ${batch(id)._2}")
    }
    assert(stateRows == 0L, s"expected a stateless plan, got $stateRows state rows")
  }

  test("parity: streamingEmbeddingNearDupCandidates ≡ batch hyperplane buckets") {
    implicit val sq = spark.sqlContext
    // batch truth: the same seeded hyperplane buckets over sf0.001
    // embeddings; a k-vector bucket must stream as a star on its
    // first-arrived (= smallest, ordered replay) id
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val planes = 6
    val buckets = graft.operators.Similarity
      .hyperplaneBuckets(emb, "vec_id", "embedding", planes)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val expected = buckets.groupBy(_._2).values.flatMap { grp =>
      val ids = grp.map(_._1).sorted
      ids.tail.map(id => (id, ids.head))
    }.toSet

    val dims = emb.selectExpr("size(embedding)").first().getInt(0)
    val mem = MemoryStream[(Long, Seq[Float])]
    val out = StreamOps.streamingEmbeddingNearDupCandidates(mem.toDS(), planes, dims)
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("parity_embdup").start()
    val rows = emb.orderBy(col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
    replay(mem, rows, chunk = 100, q)
    val stateRows = Option(q.lastProgress)
      .map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(0L)
    q.stop()
    val streamed = spark.table("parity_embdup").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == expected,
      s"pair sets differ: extra=${(streamed -- expected).take(5)} missing=${(expected -- streamed).take(5)}")
    // state = one register per OBSERVED bucket
    val nBuckets = buckets.map(_._2).distinct.length
    assert(stateRows == nBuckets.toLong,
      s"state rows $stateRows vs $nBuckets observed buckets")
  }

  test("parity across checkpoint restart: streamingSemanticDedupCandidates ≡ batch IVF cells") {
    implicit val sq = spark.sqlContext
    // batch truth: the same deterministic pseudo-centroid cells over
    // sf0.001 embeddings (semanticDedup's coarse stage); a k-vector cell
    // must stream as a star on its first-arrived (= smallest, ordered
    // replay) id — and that register must SURVIVE a hard restart
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    // 25 cells take cellExpr's two-bank product path (> FlatNlistMax)
    Seq(8, 25).foreach { nlist =>
      val cells = graft.operators.Similarity.ivfAssign(emb, "vec_id", "embedding", nlist)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val expected = cells.groupBy(_._2).toSeq.flatMap { case (cell, grp) =>
        val ids = grp.map(_._1).sorted
        ids.tail.map(id => (id, ids.head, cell))
      }.toSet

      val dims = emb.selectExpr("size(embedding)").first().getInt(0)
      val rows = emb.orderBy(col("vec_id")).collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
      val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt_").toString
      val outDir = java.nio.file.Files.createTempDirectory("graft_sink_").toString
      val mem = MemoryStream[(Long, Seq[Float])]
      val out = StreamOps.streamingSemanticDedupCandidates(mem.toDS(), nlist, dims)
        .toDF("id", "first_id", "cell")

      // first half, fully committed, then a hard stop
      val q1 = out.writeStream.outputMode("append").format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt).start()
      replay(mem, rows.take(250), chunk = 50, q1)
      val stateRows1 = Option(q1.lastProgress)
        .map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(0L)
      q1.stop()

      // restart FROM THE CHECKPOINT: the per-cell first-seen registers
      // must come back, or post-restart arrivals elect NEW firsts
      val q2 = out.writeStream.outputMode("append").format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt).start()
      replay(mem, rows.drop(250), chunk = 50, q2)
      val stateRows2 = Option(q2.lastProgress)
        .map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(0L)
      q2.stop()

      val streamed = spark.read.parquet(outDir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(streamed == expected,
        s"extra=${(streamed -- expected).take(5)} missing=${(expected -- streamed).take(5)}")
      // state = one register per OBSERVED cell, bounded by nlist ever
      val nCells = cells.map(_._2).distinct.length
      assert(stateRows2 == nCells.toLong,
        s"state rows $stateRows2 vs $nCells observed cells")
      assert(stateRows1 <= nlist.toLong && stateRows2 <= nlist.toLong)
    }
  }

  test("parity: streamingCdcChunkCandidates ≡ batch CDC chunk digests") {
    implicit val sq = spark.sqlContext
    import graft.operators.Dedup
    // batch truth: the operator's OWN chunk stage over sf0.001 docs; a
    // digest shared by k docs must stream as a star on its
    // first-arrived (= smallest, ordered replay) doc id
    val chunks = Dedup.cdcChunkDigests(docs, "doc_id", "text")
      .select(col("id"), col("dig")).distinct()
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val expected = chunks.groupBy(_._2).toSeq.flatMap { case (dig, grp) =>
      val ids = grp.map(_._1).distinct.sorted
      ids.tail.map(id => (id, ids.head, dig))
    }.toSet
    assert(expected.nonEmpty, "fixture must produce cross-doc chunk dups")

    val mem = MemoryStream[(Long, String)]
    val out = StreamOps.streamingCdcChunkCandidates(mem.toDS())
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("parity_cdc").start()
    val rows = docs.select(col("doc_id"), col("text")).orderBy(col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    replay(mem, rows, chunk = 50, q)
    val stateRows = Option(q.lastProgress)
      .map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(0L)
    q.stop()
    val streamed = spark.table("parity_cdc").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(streamed == expected,
      s"extra=${(streamed -- expected).take(3)} missing=${(expected -- streamed).take(3)}")
    // state = one register per DISTINCT chunk digest
    val nDigests = chunks.map(_._2).distinct.length
    assert(stateRows == nDigests.toLong,
      s"state rows $stateRows vs $nDigests distinct digests")
  }

  /** Poll until `cond` holds. A TTL'd register (ProcessingTimeTimeout)
    * keeps the engine running no-data batches for timeout processing —
    * `shouldRunAnotherBatch` is always true under that conf, so
    * `processAllAvailable()` NEVER returns on these queries; progress
    * metrics are the only safe synchronization. */
  private def await(what: String, timeoutMs: Long = 90000)(cond: => Boolean): Unit = {
    val t0 = System.currentTimeMillis
    while (!cond) {
      assert(System.currentTimeMillis - t0 < timeoutMs, s"timed out awaiting: $what")
      Thread.sleep(200)
    }
  }

  private def stateRows(q: org.apache.spark.sql.streaming.StreamingQuery): Long =
    Option(q.lastProgress).map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(-1L)

  test("TTL: streamingCdcChunkCandidates evicts quiet digests after the horizon") {
    implicit val sq = spark.sqlContext
    import graft.operators.Dedup
    // distinct digest count per doc, from the batch operator itself (no
    // hardcoded chunking assumptions)
    def nDigests(text: String): Long = Dedup.cdcChunkDigests(
      Seq((1L, text)).toDF("doc_id", "text"), "doc_id", "text")
      .select(col("dig")).distinct().count()
    val textA = "alpha beta gamma delta epsilon"
    val na = nDigests(textA)
    assert(na > 0)

    val mem = MemoryStream[(Long, String)]
    // 30 s, not 10: the TTL is processing-time, so every observation
    // below races wall-clock against it — stateRows(q) reads
    // lastProgress, and under a GC-heavy full-suite session the na-rows
    // window can slip past a 10 s horizon before the poller sees it
    // (flaked under `sbt test`, passed alone). 3× margin instead.
    val out = StreamOps.streamingCdcChunkCandidates(mem.toDS(),
      ttl = Some("30 seconds"))
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("cdc_ttl").start()
    try {
      mem.addData((1L, textA))
      await(s"doc 1's $na digest registers")(stateRows(q) == na)
      // the horizon lapses with NO further sightings → registers decay
      // to zero (without eviction they'd hold the distinct-digest set
      // forever — the 100 TB state bomb this knob exists for)
      await("state decay to 0")(stateRows(q) == 0L)
      // Post-eviction, docs 3 and 4 (both repeating doc 1's text) arrive
      // in ONE micro-batch — same addData call, so no wall-clock race
      // against the TTL on a loaded host: doc 3 must RE-REGISTER as
      // first-seen (not emit as a dup of evicted doc 1) and doc 4 must
      // dup against doc 3 within the same horizon.
      mem.addData((3L, textA), (4L, textA))
      await("post-eviction re-register + within-horizon dup")(
        spark.table("cdc_ttl").collect()
          .exists(r => r.getLong(0) == 4L && r.getLong(1) == 3L))
      assert(!spark.table("cdc_ttl").collect().exists(_.getLong(0) == 3L),
        "doc 3 must re-register as first-seen, not emit as a dup")
      // await, not assert: observing na re-registered rows ONCE proves
      // the contract; a subsequent eviction is the knob working
      await(s"re-registered state rows == $na")(stateRows(q) == na)
    } finally q.stop()
  }

  test("TTL: streamingNearDupCandidates evicts quiet band keys after the horizon") {
    implicit val sq = spark.sqlContext
    val textA = "aa bb cc dd ee ff gg hh"
    val mem = MemoryStream[(Long, String)]
    // 30 s TTL: same wall-clock-observation margin rationale as the CDC
    // TTL test above
    val out = StreamOps.streamingNearDupCandidates(mem.toDS(),
      ttl = Some("30 seconds"))
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("neardup_ttl").start()
    try {
      mem.addData((1L, textA))
      await("doc 1's 4 band registers")(stateRows(q) == 4L)
      await("state decay to 0")(stateRows(q) == 0L)
      // post-eviction: docs 3 and 4 in ONE micro-batch (no wall-clock
      // race vs the TTL) — 3 re-registers, 4 dups against it
      mem.addData((3L, textA), (4L, textA))
      await("post-eviction re-register + within-horizon dup")(
        spark.table("neardup_ttl").collect()
          .exists(r => r.getLong(0) == 4L && r.getLong(1) == 3L))
      assert(!spark.table("neardup_ttl").collect().exists(_.getLong(0) == 3L),
        "doc 3 must re-register as first-seen, not emit as a dup")
      // await, not assert: once 4 rows are observed the contract is
      // proven; a later eviction is the knob working
      await("re-registered state rows == 4")(stateRows(q) == 4L)
    } finally q.stop()
  }

  test("plan invariance: q32/q96 digests equal under default conf and factoryMode=NO_CODEGEN") {
    // the MinHash queries through both paths of every native expression
    // they use: whole-stage `doGenCode` (default) and interpreted `eval`
    def digest(name: String): String = {
      val df = SparkEntry.queries(name)(spark, sfDir)
      val cols = df.columns.sorted.toSeq
      val lines = df.select(cols.map(col): _*).collect().map(_.toString).sorted
      assert(lines.nonEmpty, s"$name returned no rows")
      java.security.MessageDigest.getInstance("MD5")
        .digest(lines.mkString("\n").getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    val names = Seq("q32_minhash_pairs", "q96_cross_dedup")
    val default = names.map(digest)
    val key = "spark.sql.codegen.factoryMode"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "NO_CODEGEN")
    val interpreted = try names.map(digest) finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
    assert(interpreted == default)
  }

  test("parity: streamingCrossDedupCandidates ≡ batch cross-side band keys, stateless") {
    implicit val sq = spark.sqlContext
    import graft.operators.Dedup
    // static corpus = even ids, stream = odd ids. Expected candidates:
    // every (odd, even) pair sharing a (band, key) — computed batch-side
    // from the same banding the stream must reproduce
    val corpus = docs.filter(col("doc_id") % 2 === 0)
    val streamDocs = docs.filter(col("doc_id") % 2 === 1)
    val keys = Dedup.lshBands(
        Dedup.minhashSignature(docs, "doc_id", "text", 3, 12), 4, 3)
    val byKey = keys.collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
      .groupBy(t => (t._1, t._2))
    val expected = byKey.values.flatMap { grp =>
      val (odd, even) = grp.map(_._3).toSeq.partition(_ % 2 == 1)
      odd.flatMap(o => even.map(e => (o, e)))
    }.toSet

    val mem = MemoryStream[(Long, String)]
    val out = StreamOps.streamingCrossDedupCandidates(
      mem.toDS(), corpus, "doc_id", "text")
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("parity_crossdedup").start()
    val rows = streamDocs.select(col("doc_id"), col("text"))
      .orderBy(col("doc_id")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    replay(mem, rows, chunk = 100, q)
    val stateRows = Option(q.lastProgress)
      .map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(0L)
    q.stop()
    val streamed = spark.table("parity_crossdedup").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == expected,
      s"extra=${(streamed -- expected).take(5)} missing=${(expected -- streamed).take(5)}")
    assert(stateRows == 0L, s"expected a stateless plan, got $stateRows state rows")
  }

  test("parity: streamingContamination ≡ batch contamination, eval-bounded state") {
    implicit val sq = spark.sqlContext
    import graft.operators.{Dedup, TextAnalysis => TA}
    // q55 shape: eval = every 25th doc truncated to 12 tokens; the TRAIN
    // corpus streams against the checkpointed eval shingle frame
    val eval = docs.filter(col("doc_id") % 25 === 0)
      .select(col("doc_id"),
        array_join(slice(TA.tokens(col("text")), 1, 12), " ").as("text"))
    val batch = Dedup.contamination(docs, eval, "doc_id", "text", w = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    val mem = MemoryStream[(Long, String)]
    val out = StreamOps.streamingContamination(mem.toDS(), eval, "doc_id", "text", w = 3)
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("parity_contam").start()
    val rows = docs.select(col("doc_id"), col("text")).orderBy(col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    replay(mem, rows, chunk = 100, q)
    val stateRows = Option(q.lastProgress)
      .map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(0L)
    q.stop()
    val streamed = spark.table("parity_contam").collect()
      .map(r => r.getLong(0)).groupBy(identity).view.mapValues(_.length.toLong).toMap
    // first-match rows per eval doc == the batch matched count; eval
    // docs with zero matches emit nothing (batch reports matched=0)
    batch.foreach { case (id, m) =>
      assert(streamed.getOrElse(id, 0L) == m, s"eval $id: ${streamed.get(id)} vs $m")
    }
    assert(streamed.keySet.subsetOf(batch.keySet))
    // state is bounded by the eval sets' matched-shingle count
    assert(stateRows == batch.values.sum,
      s"state rows $stateRows vs ${batch.values.sum} matched pairs")
  }

  test("parity: streamingBpeCount ≡ batch bpeEncode, stateless scorer") {
    implicit val sq = spark.sqlContext
    // q88 shape: merges trained batch-side on the full sf0.001 corpus;
    // the same docs stream through the batch word segmenter
    val (mergesDf, _) = graft.operators.TextAnalysis.bpeTrain(docs, "text", 6)
    val merges = mergesDf.orderBy("rank").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    // one extra doc holds astral characters: a word's symbols are its
    // code points, not its UTF-16 units
    val bdocs = docs.select(col("doc_id"), col("text")).union(Seq(
      (900001L, "ab ab \uD83D\uDE00x \uD835\uDC9C\uD835\uDCB7")).toDF("doc_id", "text"))
    val batch = graft.operators.TextAnalysis
      .bpeEncode(bdocs, "doc_id", "text", merges)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap

    val mem = MemoryStream[(Long, String)]
    val out = StreamOps.streamingBpeCount(mem.toDS(), merges)
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("parity_bpe").start()
    val rows = bdocs.orderBy(col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    replay(mem, rows, chunk = 100, q)
    val stateRows = Option(q.lastProgress)
      .map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(0L)
    q.stop()
    val streamed = spark.table("parity_bpe")
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(streamed == batch) // integer counts — exact equality
    assert(stateRows == 0L, s"expected a stateless plan, got $stateRows state rows")
  }

  test("parity: streamingQualityScore ≡ batch logisticScore, stateless scorer") {
    implicit val sq = spark.sqlContext
    // q91 shape: weights trained batch-side on the full sf0.001 corpus,
    // frozen; the same docs stream through the scorer
    val C = graft.operators.Classifier
    val pred = col("lang") === "en"
    val (w, b) = C.logisticTrain(docs, "doc_id", "text", pred, iters = 3, lr = 0.5)
    val batch = C.logisticScore(docs, "doc_id", pred,
        C.hashedFeatures(docs, "doc_id", "text", pred), w, b)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap

    val mem = MemoryStream[(Long, String)]
    val out = StreamOps.streamingQualityScore(mem.toDS(), w, b)
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("parity_quality").start()
    val rows = docs.select(col("doc_id"), col("text")).orderBy(col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    replay(mem, rows, chunk = 100, q)
    val stateRows = Option(q.lastProgress)
      .map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(0L)
    q.stop()
    val streamed = spark.table("parity_quality")
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toMap
    assert(streamed.keySet == batch.keySet)
    // probabilities to 1e-9: the batch dot groups per-bucket counts
    // before multiplying, the scorer sums per-token weights — same
    // value, different IEEE association
    streamed.foreach { case (id, p) =>
      assert(math.abs(p - batch(id)) < 1e-9, s"doc $id p $p vs ${batch(id)}")
    }
    assert(stateRows == 0L, s"expected a stateless plan, got $stateRows state rows")
  }

  test("parity across checkpoint restart: streamingTokenBudget ≡ q66 batch mixing, state O(langs)") {
    implicit val sq = spark.sqlContext
    // the q66 curation shape as a stream: docs arrive in the epoch-
    // shuffle order (md5(doc_id), doc_id); each language admits until
    // its 3000-token budget is consumed. Batch truth is q66's own
    // oracle-gated query; the stream is killed mid-replay and resumed.
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_budget_ckpt_").toString
    try {
      val batch = QueriesText.all("q66_token_budget_mix")(spark, sfDir).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
      val rows = docs.select(col("lang"),
          md5(col("doc_id").cast("string")).as("k"), col("doc_id"),
          graft.operators.TextAnalysis.tokenCount(col("text")).as("n_tokens"))
        .collect()
        .map(r => StreamOps.BudgetedDoc(r.getString(0), r.getString(1),
          r.getLong(2), r.getLong(3)))
        .sortBy(d => (d.k, d.docId)).toSeq

      val mem = MemoryStream[StreamOps.BudgetedDoc]
      val out = StreamOps.streamingTokenBudget(mem.toDS(), budget = 3000L)
      val buf = new java.util.concurrent.ConcurrentLinkedQueue[StreamOps.AdmittedDoc]()
      def start() = out.writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.Dataset[StreamOps.AdmittedDoc], _: Long) =>
          df.collect().foreach(buf.add)
        }.start()

      val q1 = start()
      replay(mem, rows.take(250), chunk = 50, q1)
      q1.stop()
      val q2 = start() // per-lang running totals resume from the checkpoint
      replay(mem, rows.drop(250), chunk = 50, q2)
      val stateRows = q2.lastProgress.stateOperators.map(_.numRowsTotal).sum
      q2.stop()

      val got = buf.toArray(Array.empty[StreamOps.AdmittedDoc])
        .map(a => (a.docId, a.lang, a.nTokens, a.cumBefore)).toSet
      assert(got == batch)
      // O(langs) state: one running total per language, ever
      val langs = rows.map(_.lang).distinct.length.toLong
      assert(stateRows == langs, s"state rows $stateRows != $langs langs")
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(new java.io.File(ckpt))
    }
  }

  test("streamingTopKPerGroup state stays O(groups·k) at larger-than-state scale") {
    implicit val sq = spark.sqlContext
    // 50k scored rows stream into 5 groups with k=3: the state store
    // must hold exactly ONE compacted ≤k buffer per group — 5 state
    // rows — no matter how many rows flowed through. A processor that
    // buffers the stream (the O(n)-state regression this guards) shows
    // up as numRowsTotal tracking the input count. Results must still
    // equal the oracle-gated batch operator bit for bit.
    val n = 50000
    val rows = (0 until n).map { i =>
      // deterministic, collision-free scores: a bijective odd multiplier
      // mod 2^31, scaled — distinct doubles so the (score desc, id asc)
      // order is unambiguous across engines
      val h = (i.toLong * 2654435761L) & 0x7fffffffL
      (s"g${i % 5}", i.toLong, h / 1000.0)
    }
    // transformWithState requires the RocksDB provider (multiple column
    // families); same conf wrap as the restart-parity case
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
    val mem = MemoryStream[(String, Long, Double)]
    val out = StreamOps.streamingTopKPerGroup(mem.toDS(), k = 3)
    val buf = new java.util.concurrent.ConcurrentLinkedQueue[(Long, StreamOps.TopKEntry)]()
    val seq = new java.util.concurrent.atomic.AtomicLong()
    val q = out.writeStream.outputMode("update")
      .foreachBatch { (df: org.apache.spark.sql.Dataset[StreamOps.TopKEntry], _: Long) =>
        val stamp = seq.incrementAndGet()
        df.collect().foreach(e => buf.add((stamp, e)))
      }.start()
    replay(mem, rows, chunk = 10000, q)
    val stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
    q.stop()
    assert(stateRows == 5L,
      s"state rows $stateRows != 5 groups — state is not O(groups·k)")
    // latest snapshot per group == batch operator on the same rows
    val batchDf = rows.toDF("group", "id", "score")
    val batch = graft.operators.Similarity.topKPerGroup(
      batchDf, "group", "score", "id", 3).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val got = buf.toArray(Array.empty[(Long, StreamOps.TopKEntry)])
      .groupBy(_._2.group)
      .flatMap { case (_, es) =>
        val top = es.map(_._1).max
        es.filter(_._1 == top).map(_._2).toSeq
      }
      .map(e => (e.group, e.rank, e.id, e.score)).toSet
    assert(got.size == 15 && got == batch)
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }
}
