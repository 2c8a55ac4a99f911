package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.StreamOps

/** Streaming smoke: MemoryStream drives the streaming operators
  * synchronously (processAllAvailable), asserting against batch answers. */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("FreeRunGuard fires on a TTL'd twin free-running under the default " +
      "trigger, stays quiet under the paced trigger") {
    import graft.streaming.FreeRunGuard
    implicit val sq = spark.sqlContext
    val oldThreshold = FreeRunGuard.threshold
    FreeRunGuard.threshold = 5 // seconds, not minutes, of free-running
    // construction arms the guard (ttl ⇒ processing-time timeouts ⇒ the
    // engine never latches "no new data")
    val mem = MemoryStream[(Long, String)]
    val out = graft.streaming.StreamOps.streamingNearDupCandidates(
      mem.toDS(), ttl = Some("30 seconds"))
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("freerun_guarded").start() // DEFAULT trigger — the bug
    try {
      mem.addData((1L, "a b c d e"), (2L, "a b c d e"))
      val deadline = System.currentTimeMillis + 90000
      while (!FreeRunGuard.hasFired(q.runId) &&
        System.currentTimeMillis < deadline) Thread.sleep(100)
      assert(FreeRunGuard.hasFired(q.runId),
        "guard must flag consecutive unpaced empty batches")
    } finally { q.stop(); FreeRunGuard.threshold = oldThreshold }

    // paced twin: empty batches tick at the trigger rate; the guard's
    // predicate (unpaced trigger) never matches, so it stays quiet
    val mem2 = MemoryStream[(Long, String)]
    val out2 = graft.streaming.StreamOps.streamingNearDupCandidates(
      mem2.toDS(), ttl = Some("30 seconds"))
    val q2 = out2.writeStream.outputMode("append").format("memory")
      .queryName("freerun_paced")
      .trigger(graft.streaming.StreamOps.pacedTrigger("100 milliseconds"))
      .start()
    try {
      mem2.addData((1L, "a b c d e"), (2L, "a b c d e"))
      Thread.sleep(3000) // ~30 paced empty batches at 100 ms
      assert(!FreeRunGuard.hasFired(q2.runId),
        "paced queries must never trip the guard")
      assert(FreeRunGuard.consecutiveEmpties(q2.runId) == 0,
        "paced empty batches must not accumulate toward the threshold")
    } finally q2.stop()
  }

  test("FreeRunGuard hard-stop mode terminates a free-running TTL'd query") {
    import graft.streaming.FreeRunGuard
    implicit val sq = spark.sqlContext
    val (oldT, oldM) = (FreeRunGuard.threshold, FreeRunGuard.mode)
    FreeRunGuard.threshold = 5
    FreeRunGuard.mode = "stop" // SPARK_GRAFT_FREERUN=stop, spec-injectable
    val mem = MemoryStream[(Long, String)]
    val out = graft.streaming.StreamOps.streamingNearDupCandidates(
      mem.toDS(), ttl = Some("30 seconds"))
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("freerun_stopped").start() // default trigger — the bug
    try {
      mem.addData((1L, "a b c d e"))
      val deadline = System.currentTimeMillis + 90000
      while (q.isActive && System.currentTimeMillis < deadline)
        Thread.sleep(100)
      assert(!q.isActive,
        "stop mode must terminate the free-running query, not just log")
    } finally {
      if (q.isActive) q.stop()
      FreeRunGuard.threshold = oldT; FreeRunGuard.mode = oldM
    }
  }

  test("tumbleAgg over a memory stream matches the batch aggregation") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, Double)]
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val rows = (0 until 120).map { i =>
      (new java.sql.Timestamp(base.getTime + i * 10000L), i.toDouble)
    }
    mem.addData(rows: _*)
    val df = mem.toDF().toDF("ts", "value")
    val agg = StreamOps.tumbleAgg(df, "ts", "value", "5 minutes", "1 minute")
    val q = agg.writeStream.outputMode("append").format("memory")
      .queryName("tumble_out").trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.processAllAvailable(); q.stop()
    // 120 rows @10s = 20 min → 4 windows of 30 rows; append mode emits only
    // watermark-closed windows, so check the ones that fired
    val out = spark.table("tumble_out").orderBy(col("window.start")).collect()
    assert(out.nonEmpty)
    assert(out.forall(_.getAs[Long]("n") == 30L))
    val sums = out.map(_.getAs[Double]("sum_value")).toSeq
    // batch oracle: groupBy 5-min buckets of the same rows
    val batch = rows.groupBy(r => r._1.getTime / 300000L).view.mapValues(_.map(_._2).sum)
      .toSeq.sortBy(_._1).map(_._2)
    assert(sums == batch.take(sums.length))
  }

  test("streamingNearDupCandidates pairs near-identical docs across batches") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val out = StreamOps.streamingNearDupCandidates(mem.toDS())
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("neardup_out").start()
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    mem.addData((1L, base), (2L, "completely unrelated text about spark internals and shuffles"),
      (5L, "   "), (6L, ""))
    q.processAllAvailable()
    mem.addData((3L, base), (4L, base + " ok"), (7L, " \t "))
    q.processAllAvailable()
    q.stop()
    val pairs = spark.table("neardup_out").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // doc 3 (exact dup) must collide with first-seen doc 1 on every band;
    // doc 4 (one-word suffix change) shares most shingles → at least one band
    assert(pairs.contains((3L, 1L)))
    assert(pairs.contains((4L, 1L)))
    // the unrelated doc never pairs; blank docs (5,6,7) emit no band keys
    // at all — they must NOT collide with each other or anything else
    assert(!pairs.exists(p => Set(2L, 5L, 6L, 7L).contains(p._1) ||
      Set(2L, 5L, 6L, 7L).contains(p._2)))
  }

  test("randomStream: streaming schema + deterministic hash-uniform values") {
    val st = StreamOps.randomStream(spark, 10, -2.0, 3.0, seed = 7L)
    assert(st.isStreaming)
    assert(st.columns.toSeq == Seq("timestamp", "idx", "value"))
    // the value column is a pure function of idx — evaluate the identical
    // formula over a batch range twice: bounded and replay-identical
    def batchVals: Seq[Double] = spark.range(1000).select(
      (lit(-2.0) + pmod(xxhash64(col("id"), lit(7L)), lit(1L << 52))
        .cast("double") / lit((1L << 52).toDouble) * (3.0 - -2.0)).as("v"))
      .collect().map(_.getDouble(0)).toSeq
    val a = batchVals; val b = batchVals
    assert(a == b) // replay-deterministic, unlike rand()
    assert(a.forall(v => v >= -2.0 && v < 3.0))
    // crude uniformity: both halves of the range populated
    assert(a.count(_ < 0.5) > 300 && a.count(_ >= 0.5) > 300)
  }

  test("runningStats stateful collector accumulates across triggers") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(String, Double)]
    val out = StreamOps.runningStats(mem.toDS())
    val q = out.writeStream.outputMode("update").format("memory")
      .queryName("running_out").start()
    mem.addData(("a", 1.0), ("a", 2.0), ("b", 10.0))
    q.processAllAvailable()
    mem.addData(("a", 3.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("running_out").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    // last update for key a must reflect all three rows
    val lastA = rows.filter(_._1 == "a").maxBy(_._2)
    assert(lastA == (("a", 3L, 6.0)))
    val lastB = rows.filter(_._1 == "b").maxBy(_._2)
    assert(lastB == (("b", 1L, 10.0)))
  }

  test("transformWithState running collector matches flatMapGroupsWithState") {
    implicit val sq = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[(String, Double)]
      val out = StreamOps.runningStatsTws(mem.toDS())
      val q = out.writeStream.outputMode("update").format("memory")
        .queryName("tws_out").start()
      mem.addData(("a", 1.0), ("a", 2.0), ("b", 10.0))
      q.processAllAvailable()
      mem.addData(("a", 3.0))
      q.processAllAvailable()
      q.stop()
      val rows = spark.table("tws_out").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      assert(rows.filter(_._1 == "a").maxBy(_._2) == (("a", 3L, 6.0)))
      assert(rows.filter(_._1 == "b").maxBy(_._2) == (("b", 1L, 10.0)))
    } finally prev match {
      case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("slideAgg emits overlapping windows") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, Double)]
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val rows = (0 until 60).map { i =>
      (new java.sql.Timestamp(base.getTime + i * 10000L), 1.0)
    }
    mem.addData(rows: _*)
    val agg = StreamOps.slideAgg(mem.toDF().toDF("ts", "value"),
      "ts", "value", "4 minutes", "2 minutes", "1 minute")
    val q = agg.writeStream.outputMode("append").format("memory")
      .queryName("slide_out").start()
    q.processAllAvailable(); q.stop()
    val out = spark.table("slide_out")
      .orderBy(col("window.start")).collect()
    assert(out.nonEmpty)
    // interior windows cover 4 min @ 6 rows/min = 24 rows
    assert(out.map(_.getAs[Long]("n")).max == 24L)
  }

  test("streaming dedup keeps first occurrence per key") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String, Double)]
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def t(s: Int) = new java.sql.Timestamp(base.getTime + s * 1000L)
    val df = mem.toDF().toDF("ts", "k", "v")
    val out = StreamOps.streamingDedup(df, Seq("k"), "ts", "10 seconds")
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("dedup_out").start()
    mem.addData((t(0), "a", 1.0), (t(1), "a", 2.0), (t(2), "b", 3.0))
    q.processAllAvailable()
    mem.addData((t(3), "a", 4.0), (t(4), "c", 5.0))
    q.processAllAvailable()
    q.stop()
    val vals = spark.table("dedup_out").collect()
      .map(r => (r.getString(1), r.getDouble(2))).sorted.toSeq
    assert(vals == Seq(("a", 1.0), ("b", 3.0), ("c", 5.0)))
  }

  test("session windows close on gap") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String)]
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def t(minutes: Int) = new java.sql.Timestamp(base.getTime + minutes * 60000L)
    mem.addData((t(0), "u1"), (t(1), "u1"), (t(45), "u1"), (t(46), "u1"),
      (t(120), "u1")) // third burst just advances the watermark
    val df = mem.toDF().toDF("ts", "user")
    val agg = StreamOps.sessionAgg(df, "ts", "user", "10 minutes", "1 minute")
    val q = agg.writeStream.outputMode("append").format("memory")
      .queryName("session_out").start()
    q.processAllAvailable(); q.stop()
    val ns = spark.table("session_out").collect().map(_.getAs[Long]("n")).sorted.toSeq
    assert(ns == Seq(2L, 2L)) // two closed 2-event sessions
  }

  test("infinite: a rate source yields a gap-free idx and value = f(idx) across batches") {
    // semantic.h:1763-1783: an unbounded generator whose element at
    // index i is f(i). Drive the rate source until several micro-batches
    // have committed, then check every delivered row against f.
    val st = StreamOps.infinite(spark, 20, c => c * 3 + 1)
    assert(st.isStreaming)
    assert(st.columns.toSeq == Seq("timestamp", "idx", "value"))
    val q = st.writeStream.outputMode("append").format("memory")
      .queryName("infinite_out").start()
    try {
      val deadline = System.currentTimeMillis + 60000
      while ((Option(q.lastProgress).forall(_.batchId < 3) ||
          spark.table("infinite_out").count() < 20) &&
          System.currentTimeMillis < deadline) Thread.sleep(200)
    } finally q.stop()
    val rows = spark.table("infinite_out").collect()
      .map(r => (r.getTimestamp(0).getTime, r.getLong(1), r.getLong(2)))
      .sortBy(_._2).toSeq
    assert(rows.length >= 20, s"only ${rows.length} rows arrived")
    assert(rows.map(_._2) == rows.indices.map(_.toLong)) // 0, 1, 2, … no gap, no repeat
    assert(rows.forall { case (_, i, v) => v == 3 * i + 1 })
    assert(rows.map(_._1) == rows.map(_._1).sorted) // time advances with idx
  }

  test("the streaming twins plan no typed map closure before the register or sink") {
    // Each twin applies its batch Column kernel to the stream. A
    // MapElements or MapPartitions node in the analyzed plan would be a
    // Scala closure doing that work a second way, free to drift from
    // the batch kernel.
    import org.apache.spark.sql.catalyst.plans.logical.{MapElements, MapPartitions}
    implicit val sq = spark.sqlContext
    val corpus = Seq((1L, "the spark join window the of"), (2L, "a join of two tables"))
      .toDF("doc_id", "text")
    val texts = MemoryStream[(Long, String)].toDS()
    val vecs = MemoryStream[(Long, Seq[Float])].toDS()
    val metrics = MemoryStream[(Long, Double)].toDS()
    val terms = Seq("spark", "join")
    val twins: Seq[(String, org.apache.spark.sql.Dataset[_])] = Seq(
      "streamingNearDupCandidates" -> StreamOps.streamingNearDupCandidates(texts),
      "streamingCrossDedupCandidates" ->
        StreamOps.streamingCrossDedupCandidates(texts, corpus, "doc_id", "text"),
      "streamingEmbeddingNearDupCandidates" ->
        StreamOps.streamingEmbeddingNearDupCandidates(vecs, 4, 3),
      "streamingSemanticDedupCandidates" ->
        StreamOps.streamingSemanticDedupCandidates(vecs, 25, 3),
      "streamingContamination" ->
        StreamOps.streamingContamination(texts, corpus, "doc_id", "text", 2),
      "streamingBm25" -> StreamOps.streamingBm25(texts, corpus, "text", terms),
      "streamingTfidf" -> StreamOps.streamingTfidf(texts, corpus, "text", terms),
      "streamingGopherQuality" -> StreamOps.streamingGopherQuality(texts),
      "streamingQuantileTiers" -> StreamOps.streamingQuantileTiers(metrics,
        corpus.select(col("doc_id").cast("double").as("m")), col("m"), 2),
      "streamingDsir" ->
        StreamOps.streamingDsir(texts, corpus, "doc_id", "text", col("doc_id") === 1L),
      "streamingBpeCount" -> StreamOps.streamingBpeCount(texts, Seq(("j", "o"))),
      "streamingQualityScore" ->
        StreamOps.streamingQualityScore(texts, Array.fill(256)(0.1), -0.5))
    twins.foreach { case (name, ds) =>
      assert(ds.isStreaming, name)
      val plan = ds.queryExecution.analyzed
      val closures = plan.collect {
        case n @ (_: MapElements | _: MapPartitions) => n.nodeName
      }
      assert(closures.isEmpty, s"$name plans ${closures.mkString(", ")}:\n$plan")
    }
  }
}
