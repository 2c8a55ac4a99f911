package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core._
import graft.core.Terminals._
import graft.functions.CharSeq
import graft.operators.{Dedup, Multimodal, Similarity}

/** Specs for grouping/window stream methods, distribution, gradient,
  * encode/decode, multimodal plumbing, and bucketed ANN. */
class OperatorSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  def fromInts(xs: Int*): SemanticStream[Int] = SemanticStream.from(spark, xs)

  test("group collects per key in arrival order") {
    val g = fromInts(5, 2, 7, 4, 9).group(v => v % 2)
      .collect().map(r => r.getInt(0) -> r.getSeq[Int](1)).toMap
    assert(g(1) == Seq(5, 7, 9))
    assert(g(0) == Seq(2, 4))
  }

  test("groupMap applies key and value projections to the ORIGINAL element") {
    // key = parity of the original, value = original * 10 — if the key
    // were computed from the projected value, everything would land in
    // bucket 0 (multiples of 10 are all even)
    val g = fromInts(1, 2, 3, 4).groupMap(v => v % 2, v => v * 10)
      .collect().map(r => r.getInt(0) -> r.getSeq[Int](1)).toMap
    assert(g(1) == Seq(10, 30))
    assert(g(0) == Seq(20, 40))
  }

  test("partitionChunks preserves arrival order inside chunks") {
    val p = SemanticStream.range(spark, 0, 10).partitionChunks(4)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(p(0L) == Seq(0L, 1, 2, 3))
    assert(p(1L) == Seq(4L, 5, 6, 7))
    assert(p(2L) == Seq(8L, 9))
  }

  test("slide includes partial tails; tumble == slide(n,n)") {
    val s = SemanticStream.range(spark, 0, 10)
    val windows = s.slide(4, 3).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(windows(0L) == Seq(0L, 1, 2, 3))
    assert(windows(1L) == Seq(3L, 4, 5, 6))
    assert(windows(2L) == Seq(6L, 7, 8, 9))
    assert(windows(3L) == Seq(9L)) // partial tail
    val t = s.tumble(4).collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val t2 = s.slide(4, 4).collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(t == t2)
  }

  test("nested per-window aggregation: map over windows like the reference") {
    // reference: slide → map(w -> w.toStatistics.average()) — here the
    // window elements array aggregates in place (semantic.h:1595-1643 + §3.2)
    val s = SemanticStream.range(spark, 0, 10)
    val avgs = s.slide(4, 3)
      .select(col("win"), expr("aggregate(elements, 0D, (a, x) -> a + x)" +
        " / size(elements)").as("avg"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(avgs(0L) == 1.5 && avgs(1L) == 4.5 && avgs(2L) == 7.5 && avgs(3L) == 9.0)
  }

  test("distribution matches the reference finisher on a hand-computed case") {
    // values: 1 at idx {0,3}, 2 at idx {1}, 3 at idx {2}
    // posSums: 1→3, 2→1, 3→2 ; counts: 1→2, 2→1, 3→1
    // mode posSum = 1 (all freq 1, smallest wins), mode cnt = 1
    // sd_pos = sqrt(((3-1)²+0+1²)/3) = sqrt(5/3); sd_cnt = sqrt(1/3)
    val st = SemanticStream.from(spark, Seq(1.0, 2.0, 3.0, 1.0)).toStatistics
    val d = st.distribution.collect()
      .map(r => r.getDouble(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val sdPos = math.sqrt(5.0 / 3.0); val sdCnt = math.sqrt(1.0 / 3.0)
    assert(math.abs(d(1.0)._1 - 2.0 / sdPos) < 1e-9)
    assert(math.abs(d(1.0)._2 - 1.0 / sdCnt) < 1e-9)
    assert(math.abs(d(2.0)._1 - 0.0) < 1e-9)
    assert(math.abs(d(3.0)._1 - 1.0 / sdPos) < 1e-9)
    // constant stream: all sums equal → σ floored to 1.0, scores 0
    val c = SemanticStream.from(spark, Seq(7.0, 7.0, 7.0)).toStatistics
    val dc = c.distribution.collect()
    assert(dc.length == 1 && dc(0).getDouble(1) == 0.0 && dc(0).getDouble(2) == 0.0)
  }

  test("gradient descent converges on a quadratic") {
    // cost = Σ (θ_i - i)² → gradient 2(θ_i - i); start from collected values
    val st = SemanticStream.from(spark, Seq(5.0, 5.0, 5.0)).toStatistics
    val theta = st.gradient(
      t => t.zipWithIndex.map { case (x, i) => 2.0 * (x - i) },
      lr = 0.1, maxIter = 500, eps = 1e-9)
    theta.zipWithIndex.foreach { case (x, i) =>
      assert(math.abs(x - i) < 1e-6, s"theta($i)=$x")
    }
  }

  test("encode/decode round-trips across reference charsets; invalid → U+FFFD") {
    val df = Seq("hello", "héllo latin", "日本語 text").toDF("s")
    for (cs <- Seq("utf8", "utf16le", "utf16be")) {
      val rt = df.select(
        CharSeq.decodeCharset(CharSeq.encodeCharset(col("s"), cs), cs).as("r"))
        .collect().map(_.getString(0))
      assert(rt.toSeq == Seq("hello", "héllo latin", "日本語 text"), cs)
    }
    // latin1 round-trips only its own repertoire
    val lat = df.select(CharSeq.decodeCharset(
      CharSeq.encodeCharset(col("s"), "latin1"), "latin1").as("r"))
      .collect().map(_.getString(0))
    assert(lat(0) == "hello" && lat(1) == "héllo latin")
    // truncated UTF-8 multibyte sequence decodes to replacement chars
    val bad = Seq(Array[Byte](0x68, 0xC3.toByte)).toDF("b")
    val dec = bad.select(CharSeq.decodeCharset(col("b"), "utf8")).collect()(0).getString(0)
    assert(dec.startsWith("h") && dec.contains("�"))
  }

  test("multimodal extractMeta and frameSamplePlan shapes") {
    val df = Seq((1L, "abcdef"), (2L, "x" * 301), (3L, "yz"))
      .toDF("id", "payload")
      .select(col("id"), col("payload").cast("binary").as("payload"))
    val meta = Multimodal.extractMeta(df, "id", "payload").collect()
      .map(m => m.id -> m).toMap
    assert(meta(1L).byte_len == 6 && meta(1L).kind == "image")
    assert(meta(2L).kind == "audio" && meta(2L).width == 301 % 640)
    assert(meta(3L).kind == "video")
    val frames = Multimodal.frameSamplePlan(
      Multimodal.extractMeta(df, "id", "payload").toDF(), stride = 2)
    val f3 = frames.filter(col("id") === 3).collect()
    assert(f3.nonEmpty) // video row fans out to sampled frame indices
    assert(f3.map(_.getAs[Long]("frame_idx")).forall(_ % 2 == 0))
  }

  test("real image decode: header-only imageio round trip, unknown and truncated bytes") {
    import graft.operators.Multimodal.MediaCodec
    // encode → decode round trip recovers format + dimensions from bytes
    for ((fmt, w, h) <- Seq(("png", 17, 9), ("jpeg", 3, 31), ("png", 1, 1))) {
      val bytes = MediaCodec.encodeImage(w, h, fmt)
      assert(bytes.nonEmpty)
      assert(MediaCodec.decodeImageHeader(bytes).contains((fmt, w, h)))
    }
    // non-image and truncated payloads are rejected, not crashed on
    assert(MediaCodec.decodeImageHeader("not an image".getBytes).isEmpty)
    assert(MediaCodec.decodeImageHeader(Array.empty[Byte]).isEmpty)
    val png = MediaCodec.encodeImage(20, 20, "png")
    val header = MediaCodec.decodeImageHeader(png.take(24)) // signature, no IHDR payload
    assert(header.isEmpty || header.exists(_._1 == "png")) // never throws
    // the distributed path: fixture images → real decode, every row present
    val ids = Seq(0L, 1L, 63L, 64L, 95L, 130L).toDF("doc_id")
    val metas = Multimodal.imageMeta(
      Multimodal.syntheticImages(ids, "doc_id"), "id", "img")
      .collect().map(m => m.id -> m).toMap
    assert(metas.size == 6)
    for ((id, m) <- metas) {
      assert(m.format == (if (id % 2 == 0) "png" else "jpeg"))
      assert(m.width == 1 + id % 64 && m.height == 1 + id % 48)
      assert(m.byte_len > 0)
    }
    // unknown bytes surface as rows, not drops (audit-scan contract)
    val mixed = Seq((1L, "junk".getBytes), (2L, MediaCodec.encodeImage(5, 4, "png")))
      .toDF("id", "img")
    val mm = Multimodal.imageMeta(mixed, "id", "img").collect().map(m => m.id -> m).toMap
    assert(mm(1L).format == "unknown" && mm(1L).width == -1L)
    assert(mm(2L).format == "png" && mm(2L).width == 5L && mm(2L).height == 4L)
  }

  test("real audio decode: header-only javax.sound round trip, unknown and truncated bytes") {
    import graft.operators.Multimodal.MediaCodec
    // encode → decode round trip recovers rate/channels/frames from bytes
    for ((rate, ch, frames) <- Seq((8000, 1, 50), (44100, 2, 249), (16000, 1, 1))) {
      val bytes = MediaCodec.encodeWav(rate, ch, frames)
      assert(bytes.nonEmpty)
      assert(MediaCodec.decodeAudioHeader(bytes)
        .contains(("wav", rate, ch, frames.toLong)))
    }
    // the decoder is container-generic, not WAV-hardcoded: an AIFF file
    // (big-endian PCM, JDK-bundled writer) round-trips the same way
    {
      import javax.sound.sampled._
      val af = new AudioFormat(8000f, 16, 1, true, true) // AIFF is big-endian
      val ais = new AudioInputStream(
        new java.io.ByteArrayInputStream(new Array[Byte](42 * 2)), af, 42L)
      val bos = new java.io.ByteArrayOutputStream()
      AudioSystem.write(ais, AudioFileFormat.Type.AIFF, bos)
      assert(MediaCodec.decodeAudioHeader(bos.toByteArray)
        .contains(("aif", 8000, 1, 42L)))
    }
    // non-audio and truncated payloads are rejected, not crashed on
    assert(MediaCodec.decodeAudioHeader("not audio bytes".getBytes).isEmpty)
    assert(MediaCodec.decodeAudioHeader(Array.empty[Byte]).isEmpty)
    val wav = MediaCodec.encodeWav(22050, 2, 100)
    assert(MediaCodec.decodeAudioHeader(wav.take(20)).isEmpty) // RIFF tag, no fmt chunk
    // the distributed path: fixture WAVs → real decode, every row present
    val ids = Seq(0L, 1L, 4L, 5L, 199L, 200L).toDF("doc_id")
    val metas = Multimodal.audioMeta(
      Multimodal.syntheticAudio(ids, "doc_id"), "id", "wav")
      .collect().map(m => m.id -> m).toMap
    assert(metas.size == 6)
    for ((id, m) <- metas) {
      assert(m.format == "wav")
      assert(m.sample_rate == 8000 * (1 + id % 5))
      assert(m.channels == 1 + id % 2)
      assert(m.frames == 50 + id % 200)
      assert(m.byte_len > m.frames * m.channels * 2) // header + PCM payload
    }
    // unknown bytes surface as rows, not drops (audit-scan contract)
    val mixed = Seq((1L, "junk".getBytes), (2L, MediaCodec.encodeWav(8000, 1, 10)))
      .toDF("id", "wav")
    val mm = Multimodal.audioMeta(mixed, "id", "wav").collect().map(m => m.id -> m).toMap
    assert(mm(1L).format == "unknown" && mm(1L).frames == -1L)
    assert(mm(2L).format == "wav" && mm(2L).sample_rate == 8000L && mm(2L).frames == 10L)
  }

  test("pair-spine cache: regenerating the fixture in-session evicts the stale spine") {
    // q65 rides a per-(session, dir, data-version) cached pair spine;
    // rewriting documents.parquet under the same dir must change the
    // answer (footer fingerprint eviction), not serve stale clusters
    val dir = java.nio.file.Files.createTempDirectory("graft-pairs").toFile
    try {
      def writeDocs(texts: Seq[String]): Unit =
        texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
          .toDF("doc_id", "text").coalesce(1)
          .write.mode("overwrite").parquet(s"${dir.getAbsolutePath}/documents.parquet")
      val near = "the quick brown fox jumps over the lazy dog again and again"
      writeDocs(Seq(near, near + " x", "entirely different content here", "unrelated words"))
      val q65 = QueriesText.all("q65_neardup_clusters")
      val first = q65(spark, dir.getAbsolutePath).collect()
      assert(first.exists(r => r.getLong(1) != r.getLong(0))) // a real cluster
      // second call with UNCHANGED data hits the cache (same result)
      assert(q65(spark, dir.getAbsolutePath).collect().toSeq == first.toSeq)
      Thread.sleep(5) // mtime tick — fingerprints must differ
      writeDocs(Seq("alpha one", "beta two", "gamma three"))
      // no near-dups in the new corpus → no clustered docs at all; any
      // surviving row means the stale spine was served
      val second = q65(spark, dir.getAbsolutePath).collect()
      assert(second.isEmpty, "stale spine served after fixture regeneration")
      QueriesText.resetPairsCache()
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(dir)
    }
  }

  test("real audio CONTENT decode: PCM stats match the closed-form waveform") {
    import graft.operators.Multimodal.MediaCodec
    // the fixture ramp (data byte i = i % 251) decoded little-endian:
    // sample k = (2k % 251) + 256·((2k+1) % 251), sign-extended 16-bit.
    // frames=4 mono → samples 256, 770, 1284, 1798
    val stats = Multimodal.audioPcmStats(
      Seq((0L, MediaCodec.encodeWav(8000, 1, 4))).toDF("id", "wav"), "id", "wav")
      .collect().head
    assert(stats.frames == 4L)
    assert(stats.mean_abs == (256 + 770 + 1284 + 1798) / 4.0)
    assert(stats.peak == 1798L)
    assert(stats.clip_ratio == 0.0)
    // big-endian PCM (AIFF) decodes through the same one-pass reducer:
    // sample k = 256·(2k % 251) + ((2k+1) % 251) → 1, 515
    locally {
      import javax.sound.sampled._
      val af = new AudioFormat(8000f, 16, 1, true, true)
      val data = Array.tabulate[Byte](4)(i => (i % 251).toByte)
      val ais = new AudioInputStream(new java.io.ByteArrayInputStream(data), af, 2L)
      val bos = new java.io.ByteArrayOutputStream()
      AudioSystem.write(ais, AudioFileFormat.Type.AIFF, bos)
      val s = Multimodal.audioPcmStats(
        Seq((0L, bos.toByteArray)).toDF("id", "wav"), "id", "wav").collect().head
      assert(s.frames == 2L && s.mean_abs == 258.0 && s.peak == 515L)
    }
    // clipping counter: one full-scale sample out of two → ratio 0.5,
    // and |-32768| is counted without Int overflow
    locally {
      import javax.sound.sampled._
      val af = new AudioFormat(8000f, 16, 1, true, false)
      val data = Array[Byte](0xff.toByte, 0x7f, 0x00, 0x80.toByte) // 32767, -32768
      val ais = new AudioInputStream(new java.io.ByteArrayInputStream(data), af, 2L)
      val bos = new java.io.ByteArrayOutputStream()
      AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
      val s = Multimodal.audioPcmStats(
        Seq((0L, bos.toByteArray)).toDF("id", "wav"), "id", "wav").collect().head
      assert(s.peak == 32768L && s.clip_ratio == 1.0)
      assert(s.mean_abs == (32767 + 32768) / 2.0)
    }
    // stereo: frames reported per frame, stats over ALL channel samples
    val st = Multimodal.audioPcmStats(
      Seq((1L, MediaCodec.encodeWav(16000, 2, 3))).toDF("id", "wav"), "id", "wav")
      .collect().head
    assert(st.frames == 3L) // 6 samples / 2 channels
    // undecodable bytes surface as a row with -1 sentinels, not a drop
    val bad = Multimodal.audioPcmStats(
      Seq((9L, "junk".getBytes)).toDF("id", "wav"), "id", "wav").collect().head
    assert(bad.frames == -1L && bad.peak == -1L)
  }

  test("real video FRAME decode: RIFF/AVI walk + per-frame raster stats") {
    import graft.operators.Multimodal.MediaCodec
    // MPNG fixture: lossless frames, every pixel a closed form — verify
    // one id end-to-end against the hand-computed pattern
    val out = Multimodal.videoFrameStats(
      Multimodal.syntheticPatternAvis(Seq(5L).toDF("doc_id"), "doc_id"),
      "id", "avi").collect().sortBy(_.frame)
    assert(out.length == 3) // 1 + 5%3
    out.zipWithIndex.foreach { case (s, f) =>
      val pid = 4 * 5 + f
      val w = 1 + pid % 16; val h = 1 + pid % 12
      assert(s.width == w && s.height == h, s"frame $f dims")
      val px = for { y <- 0 until h; x <- 0 until w }
        yield ((pid + 3 * x + 5 * y) % 256, (2 * pid + 7 * x + y) % 256,
          (5 * pid + x + 11 * y) % 256)
      assert(s.mean_r == px.map(_._1).sum.toDouble / px.size)
      assert(s.max_g == px.map(_._2).max.toLong)
      assert(s.mean_b == px.map(_._3).sum.toDouble / px.size)
    }
    // real MJPG (lossy JPEG frames): the container walk and the ImageIO
    // frame decode must both work on genuine JPEG bytes — dims are exact,
    // pixel means are NOT asserted (JPEG quantizes)
    val jpegFrames = (0 until 2).map { f =>
      val img = new java.awt.image.BufferedImage(
        16 + f, 9 + f, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val g2 = img.createGraphics()
      g2.setColor(new java.awt.Color(200, 100, 50)); g2.fillRect(0, 0, 16 + f, 9 + f)
      g2.dispose()
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", bos)
      bos.toByteArray
    }
    val mjpg = MediaCodec.encodeAvi("MJPG", 16, 9, 30, jpegFrames)
    val js = Multimodal.videoFrameStats(
      Seq((7L, mjpg)).toDF("id", "avi"), "id", "avi").collect().sortBy(_.frame)
    assert(js.map(s => (s.frame, s.width, s.height)).toSeq ==
      Seq((0L, 16L, 9L), (1L, 17L, 10L)))
    // a JPEG-of-flat-color decodes near the fill color even after
    // quantization — proves real pixel data flowed, not a header echo
    assert(math.abs(js.head.mean_r - 200) < 10 && math.abs(js.head.mean_b - 50) < 10)
    // malformed containers surface as sentinel rows, never drops
    val bad = Multimodal.videoFrameStats(
      Seq((9L, "RIFFjunk".getBytes), (10L, Array.empty[Byte]))
        .toDF("id", "avi"), "id", "avi").collect()
    assert(bad.length == 2 && bad.forall(s => s.frame == -1L && s.width == -1L))
    // adversarial chunk size cannot wrap the bounds check or overrun:
    // bytes 16-19 are the first LIST's size — blow it past the buffer
    val evil = mjpg.clone()
    evil(16) = 0xff.toByte; evil(17) = 0xff.toByte
    evil(18) = 0xff.toByte; evil(19) = 0x7f.toByte
    val es = Multimodal.videoFrameStats(
      Seq((11L, evil)).toDF("id", "avi"), "id", "avi").collect()
    assert(es.length == 1 && es.head.frame == -1L)
  }

  test("real strided frame sampling: only every stride-th frame decoded") {
    // id=5 → 3 frames; stride 2 keeps container indices 0 and 2 with
    // their ORIGINAL frame numbers and exact closed-form stats
    val out = Multimodal.videoFrameSample(
      Multimodal.syntheticPatternAvis(Seq(5L).toDF("doc_id"), "doc_id"),
      "id", "avi", stride = 2).collect().sortBy(_.frame)
    assert(out.map(_.frame).toSeq == Seq(0L, 2L))
    out.foreach { s =>
      val pid = 4 * 5 + s.frame
      val w = 1 + pid % 16; val h = 1 + pid % 12
      assert(s.width == w && s.height == h)
      val px = for { y <- 0 until h.toInt; x <- 0 until w.toInt }
        yield (pid + 3 * x + 5 * y) % 256
      assert(s.mean_r == px.sum.toDouble / px.size)
    }
    // stride past the frame count keeps exactly frame 0
    val one = Multimodal.videoFrameSample(
      Multimodal.syntheticPatternAvis(Seq(5L).toDF("doc_id"), "doc_id"),
      "id", "avi", stride = 10).collect()
    assert(one.map(_.frame).toSeq == Seq(0L))
    // malformed containers still surface the sentinel row
    val bad = Multimodal.videoFrameSample(
      Seq((9L, "RIFFjunk".getBytes)).toDF("id", "avi"), "id", "avi", 2).collect()
    assert(bad.length == 1 && bad.head.frame == -1L)
  }

  test("capPerGroup: deterministic n-subset per group, window-free, seed-independent groups") {
    import graft.operators.Sampling
    // one mega-group (the domain-cap motivation) + small groups under n
    val df = spark.range(1000).select(
      when(col("id") < 900, lit("mega")).otherwise(concat(lit("s"), col("id") % 20))
        .as("src"), col("id"))
    val capped = Sampling.capPerGroup(df, "src", "id", n = 5, seed = 42L)
    assert(!capped.queryExecution.executedPlan.toString.contains("Window"))
    val rows = capped.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val byGroup = rows.groupBy(_._1)
    assert(byGroup("mega").length == 5) // capped
    assert(byGroup.forall(_._2.length <= 5))
    assert(byGroup("mega").map(_._2).sorted.toSeq == Seq(1L, 2L, 3L, 4L, 5L))
    // deterministic: same seed → same picks; different seed → (almost
    // surely) different mega-group subset
    val again = Sampling.capPerGroup(df, "src", "id", 5, 42L).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.sortBy(r => (r._1, r._2)).toSeq == again.sortBy(r => (r._1, r._2)).toSeq)
    val other = Sampling.capPerGroup(df, "src", "id", 5, 43L).collect()
      .filter(_.getString(0) == "mega").map(_.getLong(2)).toSet
    assert(other != byGroup("mega").map(_._3).toSet)
  }

  test("PQ: codes well-formed, Lloyd refinement never increases quantization error") {
    import graft.operators.Similarity
    graft.functions.GraftFunctions.register(spark)
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val m = 4; val ksub = 8
    val seed = Similarity.pqSeedBooks(emb, "vec_id", "embedding", m, ksub)
    val dsub = seed(0)(0).length
    val codes = Similarity.pqEncode(emb, "vec_id", "embedding", seed)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
    assert(codes.values.forall(c => c.length == m && c.forall(t => t >= 0 && t < ksub)))
    // a seed vector's j-th slice IS centroid j's source: vector 0 must
    // encode to its own centroid in every subspace (distance 0 is minimal)
    val firstId = emb.orderBy(col("vec_id")).select(col("vec_id"))
      .head().getLong(0)
    assert(codes(firstId).forall(_ == 0L))

    // error-decrease law: total L2² to assigned centroids under trained
    // books ≤ under seed books (Lloyd's monotonicity, the reason to train)
    val vecs = emb.select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getSeq[Float](1).toArray.map(_.toDouble))
    def totalErr(books: Array[Array[Array[Double]]]): Double =
      vecs.map { v =>
        (0 until m).map { j =>
          val sub = v.slice(j * dsub, (j + 1) * dsub)
          books(j).map(c => sub.zip(c).map { case (x, y) =>
            (x - y) * (x - y) }.sum).min
        }.sum
      }.sum
    val trained = Similarity.pqTrainBooks(emb, "vec_id", "embedding", m, ksub,
      maxIter = 5)
    val e0 = totalErr(seed); val e1 = totalErr(trained)
    assert(e1 <= e0 + 1e-6, s"training increased error: $e0 -> $e1")
    assert(e1 < e0 * 0.9, s"training barely moved: $e0 -> $e1")
  }

  test("pqTopK: ADC recall beats random, self excluded, ranks dense") {
    import graft.operators.Similarity
    graft.functions.GraftFunctions.register(spark)
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 20)
    val k = 10
    // trained books at production-ish granularity (m=8 subspaces of 8
    // dims, 16 centroids each; the q80 oracle pins the coarser 4×8
    // configuration — these synthetic near-random vectors cap recall at
    // coarse settings: 4×8 seed books reach ~1.7 mean overlap)
    val books = Similarity.pqTrainBooks(emb, "vec_id", "embedding",
      m = 8, ksub = 16, maxIter = 5)
    val got = Similarity.pqTopK(emb, queries, "vec_id", "embedding",
      k = k, m = 8, ksub = 16, trainedBooks = Some(books)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val byQ = got.groupBy(_._1)
    assert(byQ.size == 20)
    byQ.foreach { case (q, rows) =>
      assert(rows.map(_._2).sorted.toSeq == (1L to k), s"ranks not dense for $q")
      assert(!rows.map(_._3).contains(q), s"query $q returned itself")
    }
    // recall@10 vs exact L2 (ADC approximates L2 over PQ codes): with
    // 500 vectors a random 10-subset would overlap 10·10/499 ≈ 0.2 ids —
    // require the mean overlap to clear 2 (an order of magnitude above)
    val all = emb.collect().map(r =>
      (r.getLong(0), r.getSeq[Float](1).toArray.map(_.toDouble))).toMap
    val recall = (0L until 20L).map { q =>
      val qv = all(q)
      val exact = all.toSeq.filter(_._1 != q)
        .map { case (id, v) =>
          (id, v.zip(qv).map { case (x, y) => (x - y) * (x - y) }.sum) }
        .sortBy { case (id, d) => (d, id) }.take(k).map(_._1).toSet
      byQ(q).map(_._3).count(exact.contains).toDouble
    }.sum / 20.0
    assert(recall > 2.0, s"mean ADC overlap with exact L2 top-10 = $recall")
  }

  test("ivfPqTopK: candidates share the query's cell, ADC scores agree with brute PQ") {
    import graft.operators.Similarity
    graft.functions.GraftFunctions.register(spark)
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 10)
    val (m, ksub, nlist) = (4, 8, 4)
    val ivfpq = Similarity.ivfPqTopK(emb, queries, "vec_id", "embedding",
      k = 5, nlist = nlist, m = m, ksub = ksub).collect()
      .map(r => ((r.getLong(0), r.getLong(2)), r.getDouble(3))).toMap
    assert(ivfpq.nonEmpty)
    // cell-pruning invariant: every (query, neighbor) pair shares a cell
    val dims = 64
    val cells = emb.select(col("vec_id"),
      Similarity.cellExpr(col("embedding"), nlist, dims).as("cell"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    ivfpq.keys.foreach { case (q, n) =>
      assert(cells(q) == cells(n), s"pair ($q,$n) crosses cells")
    }
    // scoring invariant: the composed operator's ADC equals brute PQ's
    // for every pair it returns (pruning changes the candidate set,
    // never the score)
    val brute = Similarity.pqTopK(emb, queries, "vec_id", "embedding",
      k = emb.count().toInt, m = m, ksub = ksub).collect()
      .map(r => ((r.getLong(0), r.getLong(2)), r.getDouble(3))).toMap
    ivfpq.foreach { case (pair, adc) =>
      assert(brute(pair) == adc, s"ADC mismatch for $pair: $adc vs ${brute(pair)}")
    }
  }

  test("topFractionPerGroup: per-group ceil(n*frac), ties by id, null groups, no raw-group window") {
    import graft.operators.Sampling
    val df = Seq(
      ("a", 1L, 10.0), ("a", 2L, 20.0), ("a", 3L, 30.0), ("a", 4L, 40.0), ("a", 5L, 50.0),
      ("b", 6L, 1.0), ("b", 7L, 2.0),
      ("c", 11L, 9.0), ("c", 12L, 9.0), // full score tie → tieBreak asc wins
      (null.asInstanceOf[String], 8L, 5.0), (null.asInstanceOf[String], 9L, 6.0),
      (null.asInstanceOf[String], 10L, 7.0)
    ).toDF("g", "id", "score").repartition(7)
    val got = Sampling.topFractionPerGroup(df, "g", "score", "id", 0.4)
    val picked = got.collect()
      .map(r => (Option(r.getString(0)).getOrElse("∅"), r.getLong(1))).toSet
    // a: ceil(5·0.4)=2 → top scores 50,40; b: ceil(2·0.4)=1 → score 2;
    // c: ceil(2·0.4)=1, tie on score → smaller id 11; null group:
    // ceil(3·0.4)=2 → scores 7,6 (null groups ride the struct bucket key)
    assert(picked == Set(("a", 5L), ("a", 4L), ("b", 7L), ("c", 11L),
      ("∅", 10L), ("∅", 9L)))
    // every window in the plan partitions on machinery buckets, never the
    // raw group alone: with 13 rows in ≤5 groups a raw-group window would
    // be the q74-class single-task-per-group shape this operator retires
    val plan = got.queryExecution.executedPlan.toString
    assert(!plan.contains("windowspecdefinition(g#"),
      s"window partitioned on the raw group:\n$plan")
  }

  test("topFractionPerGroup parity with the windowed rank on real documents") {
    import graft.operators.Sampling
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val got = Sampling.topFractionPerGroup(docs, "lang", "n_chars", "doc_id", 0.25)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("lang"))
      .orderBy(col("n_chars").desc, col("doc_id"))
    val want = docs
      .withColumn("rk", row_number().over(w))
      .withColumn("n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("lang"))))
      .filter(col("rk") <= ceil(col("n") * 0.25))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == want && got.nonEmpty)
  }

  test("heavyHitters: MG prune at vocab >> k, exact recount matches brute force") {
    import graft.operators.TextAnalysis
    // ~160k distinct tail keys + 3 hot keys over 200k rows: vocabulary
    // dwarfs the sketch budget (k=64), so the decrement/merge prune is
    // exercised hard — and the final answer must still be EXACT
    val df = spark.range(200000).select(
      when(col("id") % 5 === 0, lit("hot_a"))
        .when(col("id") % 7 === 0, lit("hot_b"))
        .when(col("id") % 11 === 0, lit("hot_c"))
        .otherwise(concat(lit("t"), col("id"))).as("key"))
    val got = TextAnalysis.heavyHitters(df, col("key"), h = 3, k = 64).collect()
    val brute = df.groupBy(col("key")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("key").asc).limit(3)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got.map(r => (r.getString(1), r.getLong(2))).toSeq == brute)
    assert(got.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    assert(got.forall(_.getBoolean(3)), "hot counts are far above n/(k+1)")
    // a starved sketch must NOT claim exactness: [a,a,a,b,c] with k=2
    // can decrement b and c away, leaving one candidate for h=2 — the
    // floor (3 > 5/3) clears, but the missing second row means the
    // top-2 list is unproven
    val starved = Seq("a", "a", "a", "b", "c").toDF("key")
    val g2 = TextAnalysis.heavyHitters(starved, col("key"), h = 2, k = 2).collect()
    if (g2.length < 2) assert(g2.forall(!_.getBoolean(3)),
      s"claimed exact top-2 with ${g2.length} rows")
  }

  test("MisraGries law: keys above n/(k+1) survive any chunking and merge order") {
    val agg = new graft.functions.MisraGries(9)
    val rnd = new scala.util.Random(42)
    for (trial <- 0 until 20) {
      val n = 2000
      // cubed uniform → zipf-ish head over ~50 symbols
      val data = Seq.fill(n)(s"k${(math.pow(rnd.nextDouble(), 3) * 50).toInt}")
      val counts = data.groupBy(identity).map { case (k, v) => k -> v.size }
      val chunks = data.grouped(rnd.nextInt(300) + 50).toSeq
      val bufs = chunks.map(c => c.foldLeft(agg.zero)(agg.reduce))
      val merged = rnd.shuffle(bufs).reduce(agg.merge)
      assert(merged.keys.size <= 9)
      counts.filter(_._2 > n / 10.0).keys.foreach { hot =>
        assert(merged.keys.contains(hot), s"trial $trial lost heavy key $hot")
      }
    }
  }

  test("lmCrossEntropy: closed-form add-one bigram model, empty docs score 0") {
    import graft.operators.TextAnalysis
    // corpus: "a b a b" → bigrams (a b),(b a),(a b); "a b" → (a b);
    // "c" → none (but c joins the vocab). Model: c2("a b")=3,
    // c2("b a")=1; c1(a)=3, c1(b)=1; V=3.
    val docs = Seq((1L, "a b a b"), (2L, "a b"), (3L, "c"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.lmCrossEntropy(docs, docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val pAB = (3.0 + 1) / (3 + 3) // P(b|a)
    val pBA = (1.0 + 1) / (1 + 3) // P(a|b)
    assert(got(1L)._1 == 3L)
    assert(math.abs(got(1L)._2 - -(2 * math.log(pAB) + math.log(pBA)) / 3) < 1e-12)
    assert(got(2L)._1 == 1L)
    assert(math.abs(got(2L)._2 - -math.log(pAB)) < 1e-12)
    assert(got(3L) == (0L, 0.0)) // no bigrams → explicit zero row
    // gibberish scores worse than in-distribution text when the model
    // is trained elsewhere (the actual curation use): score both
    // against the doc-1/doc-2 model
    val scoreIt = (t: String) => TextAnalysis.lmCrossEntropy(
      docs.filter(col("doc_id") =!= 3L), Seq((9L, t)).toDF("doc_id", "text"),
      "doc_id", "text").collect().head.getDouble(2)
    assert(scoreIt("a b a b") < scoreIt("q z q z"))
    // cross-corpus unseen bigram keeps the w1 MARGINAL: "a c" is not in
    // the doc-1/doc-2 model but c1(a)=3 and V={a,b}=2, so P(c|a) =
    // (0+1)/(3+2) — NOT (0+1)/(0+2), which would break P(.|a)
    // normalization (the c1-only-via-model-row bug this case pins down)
    assert(math.abs(scoreIt("a c") - -math.log(1.0 / 5)) < 1e-12)
    // and an unseen w1 falls back to the pure smoothing mass (0+1)/(0+V)
    assert(math.abs(scoreIt("z c") - -math.log(1.0 / 2)) < 1e-12)
  }

  test("topKPerGroup: window-free plan, bit-identical to the row_number window") {
    // mixed group sizes, score ties resolved by id, k larger than one group
    val rows = Seq(
      ("a", 1L, 0.9), ("a", 2L, 0.9), ("a", 3L, 0.5), ("a", 4L, 0.95),
      ("b", 5L, 0.1), ("b", 6L, 0.2),
      ("c", 7L, 0.7))
    val df = rows.toDF("g", "id", "score").repartition(8)
    val got = Similarity.topKPerGroup(df, "g", "score", "id", 3)
    // no window anywhere — the single-task-per-group shape is the point
    assert(!got.queryExecution.executedPlan.toString.contains("Window"),
      "topKPerGroup must not plan a window")
    val naive = df.withColumn("rank",
      row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy(col("g")).orderBy(col("score").desc, col("id"))))
      .filter(col("rank") <= 3).select(col("g"), col("rank").cast("long"),
        col("id"), col("score"))
    assert(got.collect().toSet == naive.collect().toSet)
    // k exceeding a group's size returns the whole group, ranked
    assert(got.filter(col("g") === "c").count() == 1L)
  }

  test("FirstKByOrder: window-free first-k per group, bit-identical to the row_number window") {
    // skewed: one hot user owns 75% of the rows — the shape that pins a
    // Window.partitionBy(user) to one task but costs the aggregate O(k)
    val df = spark.range(2000).select(
      when(col("id") < 1500, lit(0L)).otherwise(col("id") % 7).as("user_id"),
      col("id").as("event_id"),
      (col("id") * 17 % 101).cast("double").as("value")).repartition(8)
    val firstK = udaf(new graft.functions.FirstKByOrder(8))
    val got = df.groupBy(col("user_id"))
      .agg(firstK(col("event_id"), col("value")).as("fk"))
      .select(col("user_id"), posexplode(col("fk.items")).as(Seq("rn", "item")))
      .select(col("user_id"), col("rn").cast("long").as("rn"),
        col("item.ord").as("event_id"), col("item.payload").as("value"))
    assert(!got.queryExecution.executedPlan.toString.contains("Window"),
      "FirstKByOrder must not plan a window")
    val naive = df.withColumn("rn",
      (row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("event_id"))) - 1).cast("long"))
      .filter(col("rn") < 8)
      .select(col("user_id"), col("rn"), col("event_id"), col("value"))
    assert(got.collect().toSet == naive.collect().toSet)
  }

  test("q37/q42 query plans are window-free (hot-user-safe first-k)") {
    // q38 is hot-user-safe differently: its lag runs through the bucketed
    // grouped-prefix machinery, whose windows are partition-BOUNDED, not
    // absent — covered by the StressSpec hot-user case instead
    Seq("q37_dft8", "q42_fft12").foreach { q =>
      val plan = QueriesSim.all(q)(spark, "/root/testdata/sf0.001")
        .queryExecution.executedPlan.toString
      assert(!plan.contains("Window"), s"$q must not plan a window")
    }
  }

  test("real image CONTENT decode: pixel stats match the closed-form pattern") {
    // patterned PNG round trip: every pixel of the fixture is a closed
    // form of (id, x, y); the rasterizing reducer must recover exact
    // per-channel means and maxima from the encoded bytes
    val ids = Seq(0L, 5L, 130L)
    val stats = Multimodal.imagePixelStats(
      Multimodal.syntheticPatternImages(ids.toDF("doc_id"), "doc_id"),
      "id", "img").collect().map(s => s.id -> s).toMap
    for (id <- ids) {
      val w = 1 + (id % 16).toInt; val h = 1 + (id % 12).toInt
      val px = for (y <- 0 until h; x <- 0 until w)
        yield ((id + 3 * x + 5 * y) % 256, (2 * id + 7 * x + y) % 256,
               (5 * id + x + 11 * y) % 256)
      val s = stats(id)
      assert(s.width == w && s.height == h)
      assert(s.mean_r == px.map(_._1).sum.toDouble / px.size)
      assert(s.mean_g == px.map(_._2).sum.toDouble / px.size)
      assert(s.mean_b == px.map(_._3).sum.toDouble / px.size)
      assert(s.max_r == px.map(_._1).max && s.max_g == px.map(_._2).max &&
             s.max_b == px.map(_._3).max)
    }
    // undecodable bytes surface as a row with -1 sentinels, not a drop
    val bad = Multimodal.imagePixelStats(
      Seq((9L, "junk".getBytes)).toDF("id", "img"), "id", "img").collect().head
    assert(bad.width == -1L && bad.max_r == -1L)
  }

  test("real image resize: NN round trip, no-upscale identity, sentinel") {
    // id=47: 16x12 source → 8x6 box → scale 0.5 → 8x6 target. The
    // returned PNG must RE-DECODE to exactly the NN-sampled closed-form
    // pixels — proves the re-encode is real, not just the stats
    val out = Multimodal.imageResize(
      Multimodal.syntheticPatternImages(Seq(47L).toDF("doc_id"), "doc_id"),
      "id", "img", maxW = 8, maxH = 6).collect().head
    assert(out.width == 16 && out.height == 12)
    assert(out.target_w == 8 && out.target_h == 6)
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(out.png))
    assert(img.getWidth == 8 && img.getHeight == 6)
    var sr = 0L
    for (y <- 0 until 6; x <- 0 until 8) {
      val sx = x * 16 / 8; val sy = y * 12 / 6
      val rgb = img.getRGB(x, y)
      val er = (47 + 3 * sx + 5 * sy) % 256
      val eg = (2 * 47 + 7 * sx + sy) % 256
      val eb = (5 * 47 + sx + 11 * sy) % 256
      assert(((rgb >> 16) & 0xff) == er && ((rgb >> 8) & 0xff) == eg &&
        (rgb & 0xff) == eb, s"pixel ($x,$y)")
      sr += er
    }
    assert(out.mean_r == sr.toDouble / 48)
    // a source already inside the box passes through bit-identically
    val small = Multimodal.syntheticPatternImages(Seq(2L).toDF("doc_id"), "doc_id")
    val kept = Multimodal.imageResize(small, "id", "img", 16, 12).collect().head
    assert(kept.target_w == 3 && kept.target_h == 3) // 3x3 source, untouched
    val a = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(kept.png))
    val b = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(
      small.collect().head.getAs[Array[Byte]](1)))
    for (y <- 0 until 3; x <- 0 until 3)
      assert(a.getRGB(x, y) == b.getRGB(x, y))
    // undecodable bytes → sentinel row, not a dropped id or failed task
    val bad = Multimodal.imageResize(
      Seq((9L, "junk".getBytes)).toDF("id", "img"), "id", "img", 8, 6)
      .collect().head
    assert(bad.width == -1L && bad.target_w == -1L && bad.png == null)
  }

  test("real audio decimate: output WAV re-decodes to the kept ramp frames") {
    import graft.operators.Multimodal.MediaCodec
    // stereo 101-frame ramp at 8000 Hz, factor 3 → frames 0,3,...,99 →
    // 34 frames at 2666 Hz (float rate truncation is the operator's
    // documented .toLong)
    val wav = MediaCodec.encodeWav(8000, 2, 101)
    val out = Multimodal.audioDecimate(
      Seq((7L, wav)).toDF("id", "wav"), "id", "wav", factor = 3).collect().head
    assert(out.in_frames == 101 && out.out_frames == 34 && out.out_rate == 2666)
    // re-decode the RETURNED bytes: every kept sample must equal the
    // closed-form ramp value of its ORIGINAL frame index
    val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(out.wav))
    assert(ais.getFormat.getChannels == 2 && !ais.getFormat.isBigEndian)
    val pcm = ais.readAllBytes()
    assert(pcm.length == 34 * 4)
    var absSum = 0L
    for (of <- 0 until 34; c <- 0 until 2) {
      val k = (of * 3) * 2 + c // original sample index
      val lo = (2 * k) % 251; val hi = (2 * k + 1) % 251
      val exp = ((hi << 8) | lo).toShort.toInt
      val i = (of * 2 + c) * 2
      val got = (((pcm(i + 1) & 0xff) << 8) | (pcm(i) & 0xff)).toShort.toInt
      assert(got == exp, s"frame $of ch $c")
      absSum += math.abs(exp)
    }
    assert(out.mean_abs == absSum.toDouble / 68)
    // BIG-ENDIAN source (AIFF carries BE PCM-16): the decoded samples
    // must be byte-swapped into the LE output WAV — a pass-through of BE
    // bytes under an LE header would corrupt every sample
    val beFrames = 10
    val bePcm = new Array[Byte](beFrames * 2)
    for (f <- 0 until beFrames) {
      val v = (f * 257 - 500).toShort
      bePcm(2 * f) = (v >> 8).toByte; bePcm(2 * f + 1) = (v & 0xff).toByte
    }
    val beFmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, true)
    val beBos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(bePcm), beFmt, beFrames.toLong),
      javax.sound.sampled.AudioFileFormat.Type.AIFF, beBos)
    val be = Multimodal.audioDecimate(
      Seq((3L, beBos.toByteArray)).toDF("id", "wav"), "id", "wav", 2).collect().head
    assert(be.in_frames == 10 && be.out_frames == 5, s"be: $be")
    val bais = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(be.wav))
    assert(!bais.getFormat.isBigEndian) // LE by spec, whatever the source
    val bpcm = bais.readAllBytes()
    assert(bpcm.length == 5 * 2)
    for (of <- 0 until 5) {
      val exp = of * 2 * 257 - 500
      val got = (((bpcm(2 * of + 1) & 0xff) << 8) | (bpcm(2 * of) & 0xff)).toShort.toInt
      assert(got == exp, s"be frame $of: $got != $exp")
    }
    // factor 1 is the identity on frames; garbage → sentinel
    val id1 = Multimodal.audioDecimate(
      Seq((1L, wav)).toDF("id", "wav"), "id", "wav", factor = 1).collect().head
    assert(id1.out_frames == 101 && id1.out_rate == 8000)
    val bad = Multimodal.audioDecimate(
      Seq((2L, "junk".getBytes)).toDF("id", "wav"), "id", "wav", 2).collect().head
    assert(bad.in_frames == -1L && bad.wav == null)
  }

  test("real video decode: ISO-BMFF box walk round trip, unknown and truncated bytes") {
    import graft.operators.Multimodal.MediaCodec
    // encode → decode round trip recovers brand/timescale/duration/dims
    for ((brand, ts, dur, w, h) <- Seq(("isom", 600, 601L, 160, 90),
                                       ("mp42", 1000, 5432L, 1920, 1080),
                                       ("isom", 90000, 0L, 1, 1))) {
      val bytes = MediaCodec.encodeMp4(brand, ts, dur, w, h)
      assert(bytes.nonEmpty)
      assert(MediaCodec.decodeVideoHeader(bytes).contains((brand, ts.toLong, dur, w, h)))
    }
    // non-video, truncated, and box-size-overrun payloads are rejected
    assert(MediaCodec.decodeVideoHeader("not an mp4 file!".getBytes).isEmpty)
    assert(MediaCodec.decodeVideoHeader(Array.empty[Byte]).isEmpty)
    val mp4 = MediaCodec.encodeMp4("isom", 600, 1200L, 640, 360)
    assert(MediaCodec.decodeVideoHeader(mp4.take(12)).isEmpty) // ftyp cut short
    val corrupt = mp4.clone()
    corrupt(0) = 0x7f.toByte // ftyp size overruns the file
    assert(MediaCodec.decodeVideoHeader(corrupt).isEmpty)
    // adversarial 0x7ffffff0 size must fail cleanly, not wrap the bounds
    // check into a negative offset and crash. The ftyp box is 20 bytes
    // (8 hdr + brand + minor + compat brand), so moov's SIZE is at 20
    val hugeBox = mp4.clone()
    assert(new String(hugeBox, 24, 4, "ISO-8859-1") == "moov") // offset sanity
    val moovOff = 20
    hugeBox(moovOff) = 0x7f.toByte; hugeBox(moovOff + 1) = 0xff.toByte
    hugeBox(moovOff + 2) = 0xff.toByte; hugeBox(moovOff + 3) = 0xf0.toByte
    assert(MediaCodec.decodeVideoHeader(hugeBox).isEmpty)
    // real-world trak layout: video trak + 0×0 audio trak, either order
    assert(MediaCodec.decodeVideoHeader(
      MediaCodec.encodeMp4Multi("isom", 600, 60L, Seq((1920, 1080), (0, 0))))
      .contains(("isom", 600L, 60L, 1920, 1080)))
    assert(MediaCodec.decodeVideoHeader(
      MediaCodec.encodeMp4Multi("isom", 600, 60L, Seq((0, 0), (640, 360))))
      .contains(("isom", 600L, 60L, 640, 360)))
    // mvhd duration is unsigned: > 2^31 ticks must decode, not go "unknown"
    assert(MediaCodec.decodeVideoHeader(
      MediaCodec.encodeMp4("mp42", 90000, 3000000000L, 64, 64))
      .contains(("mp42", 90000L, 3000000000L, 64, 64)))
    // size=0 ("extends to end of file", legal for a trailing mdat)
    val size0 = mp4.clone()
    val mdatOff = mp4.length - 24
    assert(new String(size0, mdatOff + 4, 4, "ISO-8859-1") == "mdat") // offset sanity
    size0(mdatOff) = 0; size0(mdatOff + 1) = 0; size0(mdatOff + 2) = 0; size0(mdatOff + 3) = 0
    assert(MediaCodec.decodeVideoHeader(size0).contains(("isom", 600L, 1200L, 640, 360)))
    // size=1 + 64-bit largesize form on an interleaved free box
    val free = java.nio.ByteBuffer.allocate(24)
    free.putInt(1).put("free".getBytes("ISO-8859-1")).putLong(24L).putLong(0L)
    val spliced = mp4.dropRight(24) ++ free.array() ++ mp4.takeRight(24)
    assert(MediaCodec.decodeVideoHeader(spliced).contains(("isom", 600L, 1200L, 640, 360)))
    // the distributed path: fixture MP4s → real decode, every row present
    val ids = Seq(0L, 1L, 7L, 8L, 8999L, 9000L).toDF("doc_id")
    val metas = Multimodal.videoMeta(
      Multimodal.syntheticVideos(ids, "doc_id"), "id", "mp4")
      .collect().map(m => m.id -> m).toMap
    assert(metas.size == 6)
    for ((id, m) <- metas) {
      assert(m.brand == (if (id % 2 == 0) "isom" else "mp42"))
      assert(m.duration_ms == (600 + id % 9000) * 1000 / 600)
      assert(m.width == 160 + (id % 8) * 80 && m.height == 90 + (id % 8) * 45)
      assert(m.byte_len > 0)
    }
    // unknown bytes surface as rows, not drops (audit-scan contract)
    val mixed = Seq((1L, "junk".getBytes), (2L, MediaCodec.encodeMp4("mp42", 600, 60L, 320, 240)))
      .toDF("id", "mp4")
    val mm = Multimodal.videoMeta(mixed, "id", "mp4").collect().map(m => m.id -> m).toMap
    assert(mm(1L).brand == "unknown" && mm(1L).duration_ms == -1L)
    assert(mm(2L).brand == "mp42" && mm(2L).duration_ms == 100L && mm(2L).width == 320L)
  }

  test("luhn-gated card redaction: valid redacts, checksum-fail passes through") {
    import graft.operators.TextAnalysis
    val rows = Seq(
      (1L, "pay 4111-1111-1111-1111 now"), // classic valid test number
      (2L, "id 4111111111111112 x"), // last digit off by one → NOT a card
      (3L, "visa13 4222222222222 ok"), // 13-digit valid card
      (4L, "ssn 123-45-6789 here"),
      (5L, "order 1234 5678 9012 3456 ref") // space-separated, invalid sum
    ).toDF("id", "t")
    val out = rows.select(col("id"),
        TextAnalysis.redactPiiDeep(col("t")).as("r"),
        TextAnalysis.luhnValid(col("t")).as("lv"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "pay [CARD] now")
    assert(out(2L) == "id 4111111111111112 x") // untouched: the gate held
    assert(out(3L) == "visa13 [CARD] ok")
    assert(out(4L) == "ssn [SSN] here")
    assert(out(5L) == "order 1234 5678 9012 3456 ref")
  }

  test("token count is symmetric across engines on adversarial whitespace") {
    import graft.operators.TextAnalysis
    // the probe corpus: every class of text that makes split-based token
    // counts diverge between Java (drops trailing empty fields; \s
    // includes \x0B) and RE2/DuckDB (keeps trailing empties; \s excludes
    // \x0B) — the exact divergence that turned q66 red on foreign data
    val probes = Seq(
      "plain two tokens", "trailing tab\t", "trailing newline\n",
      "both trailing \t\n", "embedded\u000Bvtab", "\u000B", "  ", "",
      "\t\n\r\f", " leading and trailing ", "a", "a  b\t\tc\n\nd",
      "mixed \t ws \u000B run \r\n end\f")
    // the oracle formula, reimplemented verbatim: maximal runs of the
    // explicit ASCII non-whitespace class (identical in Java and RE2,
    // so this in-test Java evaluation IS what DuckDB computes)
    val runCount = "[^ \t\n\r\u000B\f]+".r
    def oracleCount(s: String): Long = runCount.findAllIn(s).length.toLong
    val got = probes.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "t")
      .select(col("id"), TextAnalysis.tokenCount(col("t")).as("n"),
        size(TextAnalysis.tokens(col("t"))).cast("long").as("na"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    probes.zipWithIndex.foreach { case (t, i) =>
      val exp = oracleCount(t)
      assert(got(i.toLong)._1 == exp,
        s"tokenCount(${t.replace("\n", "\\n").replace("\t", "\\t")}) = " +
          s"${got(i.toLong)._1}, oracle run-count = $exp")
      assert(got(i.toLong)._2 == exp, "tokens() array length must equal tokenCount")
    }
    // and the motivation: the OLD split-based formulas genuinely disagree
    // with each other on these probes, so symmetry is not vacuous here
    def javaSplitCount(s: String): Long = {
      val t = s.trim
      if (t.isEmpty) 0L else t.split("\\s+").length.toLong
    }
    def duckSplitCount(s: String): Long = {
      // regexp_split_to_array keeps leading/trailing empty fields; DuckDB
      // trim() strips SPACES only
      val t = s.dropWhile(_ == ' ').reverse.dropWhile(_ == ' ').reverse
      if (t.isEmpty) 0L else t.split("[ \t\n\f\r]+", -1).length.toLong
    }
    assert(probes.exists(p => javaSplitCount(p) != duckSplitCount(p)),
      "probe corpus must contain at least one split-divergent text")
  }

  test("brute-force top-k is window-free and matches the single-window reference") {
    import graft.operators.Similarity
    import org.apache.spark.sql.expressions.Window
    // deterministic synthetic corpus with plenty of rounded-cosine TIES
    // (sin lattice) across many input partitions, so the map-side partial
    // top-k merge and the (score desc, id asc) tiebreak both get exercised
    val dims = 8
    val data = (0 until 1200).map { i =>
      (i.toLong, Array.tabulate(dims)(j => math.sin((i + 1) * (j + 1)).toFloat))
    }
    val emb = data.toDF("vec_id", "embedding").repartition(13)
    val queries = emb.filter(col("vec_id") % 80 === 0)
    val got = Similarity.cosineTopK(emb, queries, "vec_id", "embedding", k = 7)
    // the scale claim: NO window operator anywhere — a Window.partitionBy
    // (qid) would hold the whole corpus for one query in a single task
    assert(!got.queryExecution.executedPlan.toString.contains("Window"),
      "cosineTopK must not contain a window operator")
    // reference: the same scored frame ranked by one global window —
    // correct by construction, just not scalable
    val c = emb.select(col("vec_id").as("nid"), col("embedding").as("nvec"))
      .withColumn("nnorm", Similarity.norm(col("nvec")))
    val q = queries.select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      .withColumn("qnorm", Similarity.norm(col("qvec")))
    val scored = c.crossJoin(broadcast(q)).filter(col("nid") =!= col("qid"))
      .select(col("qid"), col("nid"),
        round(Similarity.dot(col("qvec"), col("nvec")) /
          (col("qnorm") * col("nnorm")), 4).as("cosine"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cosine").desc, col("nid").asc)
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("qid"), r.getAs[Long]("rank"))
    val ref = scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 7)
      .collect().map(r => key(r) -> (r.getAs[Long]("nid"), r.getAs[Double]("cosine"))).toMap
    val gotRows = got.collect()
    assert(gotRows.length == ref.size)
    gotRows.foreach { r =>
      val (nid, cos) = ref(key(r))
      assert(r.getAs[Long]("nid") == nid && r.getAs[Double]("cosine") == cos,
        s"mismatch at ${key(r)}: got (${r.getAs[Long]("nid")}, " +
          s"${r.getAs[Double]("cosine")}), window reference ($nid, $cos)")
    }
    // the PQ-style rerank path must be window-free too (both stages)
    val reranked = Similarity.quantizedRerankTopK(emb, queries, "vec_id",
      "embedding", k = 5, rerank = 20)
    assert(!reranked.queryExecution.executedPlan.toString.contains("Window"),
      "quantizedRerankTopK must not contain a window operator")
    assert(reranked.count() == queries.count() * 5)
  }

  test("plan shapes: redaction is map-side; quantize and kmeans shuffle exactly once") {
    import graft.operators.{Similarity, TextAnalysis}
    def shuffles(df: org.apache.spark.sql.DataFrame): Int =
      "Exchange".r.findAllIn(df.queryExecution.executedPlan.toString).length
    val docs = Seq((1L, "a@b.io and 10.0.0.1")).toDF("doc_id", "text")
    // scrub + counts: pure projection, zero exchanges
    assert(shuffles(docs.select(TextAnalysis.redactPii(col("text")),
      TextAnalysis.piiCounts(col("text")))) == 0)
    val emb = Seq((1L, Array(1f, 2f)), (2L, Array(3f, 4f)), (3L, Array(5f, 6f)))
      .toDF("vec_id", "embedding")
    // quantize: stats are collected before the plan is built; the
    // returned frame itself is one map-side projection, zero exchanges
    assert(shuffles(Similarity.scalarQuantizeInt8(emb, "vec_id", "embedding")) == 0)
    // kmeans step: literal centroids → the ONLY exchange is the
    // (cluster, dim) partial-aggregated mean
    assert(shuffles(Similarity.kmeansStep(emb, "vec_id", "embedding", 2)) == 1)
  }

  test("int8 quantization: codes, constant dims, reconstruction error") {
    import graft.operators.Similarity
    // dim0 spans [0,10] → codes 0/128/255; dim1 is constant → code 0, err 0
    val df = Seq((1L, Array(0f, 7f)), (2L, Array(10f, 7f)), (3L, Array(5f, 7f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.scalarQuantizeInt8(df, "vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(out(1L)._1 == 0L && out(2L)._1 == 255L && out(3L)._1 == 128L)
    assert(out(1L)._2 == 0.0 && out(2L)._2 == 0.0) // endpoints reconstruct exactly
    val e3 = math.abs(128.0 * 10 / 255 - 5.0)
    assert(math.abs(out(3L)._2 - e3) < 1e-12)      // max err = dim0 err
    assert(math.abs(out(3L)._3 - e3 / 2) < 1e-12)  // mean over 2 dims
  }

  test("kmeans step: literal-centroid argmin assignment, per-dim means") {
    import graft.operators.Similarity
    // seeds = first 2 ids: (0,0) and (10,10); the rest sit clearly nearer
    // one pole each, so the assignment is unambiguous
    val df = Seq(
      (0L, Array(0f, 0f)), (1L, Array(10f, 10f)),
      (2L, Array(1f, 0f)), (3L, Array(0f, 1f)),
      (4L, Array(9f, 10f)), (5L, Array(10f, 9f))).toDF("vec_id", "embedding")
    val out = Similarity.kmeansStep(df, "vec_id", "embedding", 2).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(out.size == 4) // 2 clusters × 2 dims
    assert(out((0L, 0))._1 == 3L && out((1L, 0))._1 == 3L)
    assert(math.abs(out((0L, 0))._2 - 1.0 / 3) < 1e-12)
    assert(math.abs(out((0L, 1))._2 - 1.0 / 3) < 1e-12)
    assert(math.abs(out((1L, 0))._2 - 29.0 / 3) < 1e-12)
    assert(math.abs(out((1L, 1))._2 - 29.0 / 3) < 1e-12)
    // k = 1: degenerate but legal — everything in one cluster
    val one = Similarity.kmeansStep(df, "vec_id", "embedding", 1).collect()
    assert(one.length == 2 && one.forall(_.getLong(2) == 6L))
  }

  test("quantized rerank: near-total recall of the exact top-5 on real embeddings") {
    import graft.operators.Similarity
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.filter(col("vec_id") < 10)
    def pairs(df: org.apache.spark.sql.DataFrame) = df
      .select(col("qid"), col("nid")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity.cosineTopK(emb, q, "vec_id", "embedding", 5))
    val quant = pairs(Similarity.quantizedRerankTopK(emb, q, "vec_id", "embedding", 5, 20))
    assert(exact.size == 50 && quant.size == 50)
    // int8 reconstruction error is small, so the 20-deep cut should
    // almost never evict a true top-5 neighbor
    val recall = (exact intersect quant).size / 50.0
    assert(recall >= 0.9, s"recall $recall")
  }

  test("kmeans iterate: migrates a bad seed pair to the true cluster means") {
    import graft.operators.Similarity
    // both seeds start inside pole A; Lloyd must walk centroid 1 out to
    // pole B over several rounds and stop at the exact fixpoint
    val df = Seq(
      (0L, Array(0f, 0f)), (1L, Array(1f, 1f)),
      (2L, Array(0f, 1f)), (3L, Array(1f, 0f)),
      (4L, Array(10f, 10f)), (5L, Array(11f, 11f))).toDF("vec_id", "embedding")
    val out = Similarity.kmeansIterate(df, "vec_id", "embedding", 2, maxIter = 10)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(out((0L, 0)) == ((4L, 0.5)) && out((0L, 1)) == ((4L, 0.5)))
    assert(out((1L, 0)) == ((2L, 10.5)) && out((1L, 1)) == ((2L, 10.5)))
  }

  test("kmeans with string ids: lexicographic seeds, tie goes to the smaller cid") {
    import graft.operators.Similarity
    // seeds are the first 2 ids in STRING order: "10" (10,10) then
    // "9" (0,0) — descending as numbers. (5,5) is exactly equidistant
    // from both (reduced L2 0 vs −200+200) and must take cid 9.
    val df = Seq(
      ("10", Array(10f, 10f)), ("9", Array(0f, 0f)),
      ("95", Array(1f, 0f)), ("96", Array(0f, 1f)), ("97", Array(9f, 10f)),
      ("98", Array(10f, 9f)), ("99", Array(5f, 5f))).toDF("vec_id", "embedding")
    def byCell(out: org.apache.spark.sql.DataFrame) = out.collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    val step = byCell(Similarity.kmeansStep(df, "vec_id", "embedding", 2))
    assert(step.keySet.map(_._1) == Set(9L, 10L))
    assert(step((9L, 0)) == ((4L, 1.5)) && step((9L, 1)) == ((4L, 1.5)))
    assert(step((10L, 0))._1 == 3L && math.abs(step((10L, 0))._2 - 29.0 / 3) < 1e-12)
    // the Lloyd loop reaches that fixpoint in one more round
    val iter = byCell(Similarity.kmeansIterate(df, "vec_id", "embedding", 2))
    assert(iter == step)
  }

  test("grouped running total: per-group cumsum matches the naive window, string lead") {
    import graft.operators.Windows
    import org.apache.spark.sql.expressions.{Window => W}
    val df = (0L until 400L).map { i =>
      (i, s"g${i % 3}", 1L + i % 7, f"k${(i * 37) % 400}%03d")
    }.toDF("id", "grp", "v", "k").repartition(8)
    val got = Windows.groupedRunningTotal(df, col("grp"), col("k"),
        Seq(col("k"), col("id")), col("v"), "cum")
      .select(col("id"), col("cum")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val naive = df.withColumn("cum",
        sum(col("v")).over(W.partitionBy(col("grp")).orderBy(col("k"), col("id"))
          .rowsBetween(W.unboundedPreceding, W.currentRow)))
      .select(col("id"), col("cum")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == naive)
    // a map-typed lead has no monotone projection → loud failure
    intercept[IllegalArgumentException] {
      Windows.groupedRunningTotal(
        df.withColumn("m", map(col("k"), col("v"))),
        col("grp"), col("m"), Seq(col("id")), col("v"), "cum")
    }
  }

  test("groupedRunningLag: exclusive-prefix lag matches the naive window, ties and hot group") {
    import graft.operators.Windows
    import org.apache.spark.sql.expressions.{Window => W}
    // one hot group (75% of rows) + ts ties within groups broken by eid —
    // the strict-totality contract is (ts, eid), eid unique
    val df = spark.range(600).select(
      when(col("id") < 450, lit("hot")).otherwise(concat(lit("u"), col("id") % 13)).as("u"),
      (col("id") % 50).as("ts"), col("id").as("eid")).repartition(8)
    val got = Windows.groupedRunningLag(df, col("u"), col("ts"),
        Seq(col("ts"), col("eid")), Seq(("ts", "prev_ts")))
      .select(col("u"), col("eid"), col("prev_ts")).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> Option(r.get(2))).toMap
    val naive = df.withColumn("prev_ts",
        lag(col("ts"), 1).over(W.partitionBy(col("u")).orderBy(col("ts"), col("eid"))))
      .select(col("u"), col("eid"), col("prev_ts")).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> Option(r.get(2))).toMap
    assert(got == naive)
    // every group's order-first row has a null lag
    assert(got.count(_._2.isEmpty) == naive.count(_._2.isEmpty))
  }

  test("groupedRunningLast: typed fast path is hash-aggregated; string carry falls back, both exact") {
    import graft.operators.Windows
    import org.apache.spark.sql.expressions.{Window => W}
    // sparse carries: only every 3rd row has a value, so the running
    // last must bridge nulls within AND across sub-buckets
    val df = spark.range(400).select(
      (col("id") % 5).as("g"), col("id").as("ts"),
      when(col("id") % 3 === 0, col("id") * 7).as("num"),
      when(col("id") % 3 === 0, concat(lit("s"), col("id"))).as("str"))
      .repartition(8)
    def naive(c: String) = df.withColumn(c,
      last(col(c), ignoreNulls = true).over(W.partitionBy(col("g")).orderBy(col("ts"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)))
      .select(col("ts").as("k"), col(c)).collect()
      .map(r => r.getLong(0) -> Option(r.get(1))).toMap
    // long carry → LastLongByOrder (ObjectHashAggregate — no
    // SortAggregate anywhere in the summary branch)
    val fast = Windows.groupedRunningLast(df, col("g"), col("ts"),
      Seq(col("ts")), Seq("num"))
    assert(!fast.queryExecution.executedPlan.toString.contains("SortAggregate"),
      "integral-order long carry must take the hash-aggregated summary path")
    assert(fast.select(col("ts"), col("num")).collect()
      .map(r => r.getLong(0) -> Option(r.get(1))).toMap == naive("num"))
    // string carry → struct-max fallback, same answer
    val slow = Windows.groupedRunningLast(df, col("g"), col("ts"),
      Seq(col("ts")), Seq("str"))
    assert(slow.queryExecution.executedPlan.toString.contains("SortAggregate"),
      "non-numeric carry must fall back to the struct-max summary")
    assert(slow.select(col("ts"), col("str")).collect()
      .map(r => r.getLong(0) -> Option(r.get(1))).toMap == naive("str"))
  }

  test("grouped running total/lag: a NULL group is one ordinary group (struct-key null safety)") {
    import graft.operators.Windows
    import org.apache.spark.sql.expressions.{Window => W}
    // a third of rows carry a null group — the struct(group, sub-bucket)
    // key must route them through stats, windows and carry joins as one
    // coherent group, exactly like Spark's own groupBy(null) semantics
    val df = spark.range(300).select(
      when(col("id") % 3 === 0, lit(null).cast("string"))
        .otherwise(concat(lit("g"), col("id") % 2)).as("g"),
      col("id").as("ts"), (col("id") % 7 + 1).as("v")).repartition(8)
    val gotCum = Windows.groupedRunningTotal(df, col("g"), col("ts"),
        Seq(col("ts")), col("v"), "cum")
      .select(col("ts").as("k"), col("cum")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val naiveCum = df.withColumn("cum",
        sum(col("v")).over(W.partitionBy(col("g")).orderBy(col("ts"))
          .rowsBetween(W.unboundedPreceding, W.currentRow)))
      .select(col("ts"), col("cum")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotCum == naiveCum)
    val gotLag = Windows.groupedRunningLag(df, col("g"), col("ts"),
        Seq(col("ts")), Seq(("ts", "prev")))
      .select(col("ts").as("k"), col("prev")).collect()
      .map(r => r.getLong(0) -> Option(r.get(1))).toMap
    val naiveLag = df.withColumn("prev",
        lag(col("ts"), 1).over(W.partitionBy(col("g")).orderBy(col("ts"))))
      .select(col("ts"), col("prev")).collect()
      .map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(gotLag == naiveLag)
  }

  test("connected components: chains need multi-round propagation, cycles terminate") {
    import graft.operators.Dedup
    // path 10-2-7-4 (min in the middle of arrival order), cycle 20-21-22-20,
    // pair 30-31: labels = min reachable id, regardless of shape
    val edges = Seq((10L, 2L), (2L, 7L), (7L, 4L),
      (20L, 21L), (21L, 22L), (22L, 20L), (30L, 31L)).toDF("a", "b")
    val got = Dedup.connectedComponents(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(10L -> 2L, 2L -> 2L, 7L -> 2L, 4L -> 2L,
      20L -> 20L, 21L -> 20L, 22L -> 20L, 30L -> 30L, 31L -> 30L))
    // a long chain converges within maxRounds (diameter 9 > 1 round)
    val chain = (0 until 9).map(i => (100L + i, 101L + i)).toDF("a", "b")
    val chainLabels = Dedup.connectedComponents(chain).collect()
      .map(r => r.getLong(1)).distinct
    assert(chainLabels.sameElements(Array(100L)))
    // empty edge list → empty result, no crash
    assert(Dedup.connectedComponents(Seq.empty[(Long, Long)].toDF("a", "b")).isEmpty)
    // self-loops and duplicate edges don't distort labels or multiply rows
    val messy = Seq((5L, 5L), (5L, 6L), (5L, 6L), (6L, 5L), (7L, 7L)).toDF("a", "b")
    val m = Dedup.connectedComponents(messy).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m == Map(5L -> 5L, 6L -> 5L, 7L -> 7L))
    // an edge with a null endpoint is dropped and names no node: no null
    // id, and 5 (only ever next to a null) is not a singleton
    val holes = Seq[(java.lang.Long, java.lang.Long)]((1L, 2L), (2L, null),
      (null, 5L), (7L, 8L)).toDF("a", "b")
    val h = Dedup.connectedComponents(holes).collect()
      .map(r => r.get(0) -> r.get(1)).toMap
    assert(h == Map(1L -> 1L, 2L -> 1L, 7L -> 7L, 8L -> 7L))
  }

  test("PII redaction: emails, phones, IPv4; order, boundaries, clean text untouched") {
    import graft.operators.TextAnalysis
    val rows = Seq(
      (1L, "mail bob.smith+tag@sub.example.co.uk now"),
      (2L, "call 555-123-4567 or 555.123.4567"),
      (3L, "host 192.168.1.254 up, v1.2.3.4.5 is a version"),
      (4L, "clean text with numbers 12345 and v2.0 only"),
      (5L, "a@b.io at 10.0.0.1 tel 800-555-0199"))
      .toDF("id", "t")
    val out = rows.select(col("id"), TextAnalysis.redactPii(col("t")).as("r"),
        TextAnalysis.piiCounts(col("t")).as("c"))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getString(1) == "mail [EMAIL] now")
    assert(out(2L).getString(1) == "call [PHONE] or [PHONE]")
    // "v1" blocks the leading \b, so the leftmost IPv4 match in the
    // version string starts after the first dot: over-redaction, but
    // identical in Java and RE2 (leftmost-first in both)
    assert(out(3L).getString(1) == "host [IP] up, v1.[IP] is a version")
    assert(out(4L).getString(1) == "clean text with numbers 12345 and v2.0 only")
    assert(out(5L).getString(1) == "[EMAIL] at [IP] tel [PHONE]")
    val c5 = out(5L).getStruct(2)
    assert(c5.getLong(0) == 1L && c5.getLong(1) == 1L && c5.getLong(2) == 1L)
    val c4 = out(4L).getStruct(2)
    assert(c4.getLong(0) == 0L && c4.getLong(1) == 0L && c4.getLong(2) == 0L)
  }

  test("gap-fill terminals: maxBy/minBy, forEach count, collectWith, out/error, blob, concatenateAll") {
    val s = fromInts(3, 1, 4, 1, 5)
    assert(s.terminals.maxBy(identity).contains(5))
    assert(s.terminals.minBy(identity).contains(1))
    assert(s.terminals.forEach(_ => ()) == 5L)
    val sumAgg = new org.apache.spark.sql.expressions.Aggregator[Int, Long, Long] {
      def zero = 0L
      def reduce(b: Long, x: Int) = b + x
      def merge(a: Long, b: Long) = a + b
      def finish(r: Long) = r
      def bufferEncoder = org.apache.spark.sql.Encoders.scalaLong
      def outputEncoder = org.apache.spark.sql.Encoders.scalaLong
    }
    assert(s.terminals.collectWith(sumAgg) == 14L)
    assert(s.terminals.out() == "[3,1,4,1,5]")
    assert(s.terminals.error("|", "", "") == "3|1|4|1|5")
    assert(SemanticStream.blob(spark, "abc").terminals.toVector ==
      Vector('a'.toByte, 'b'.toByte, 'c'.toByte))
    assert(SemanticStream.blob(spark, "abcdef", 1, 3).terminals.toVector ==
      Vector('b'.toByte, 'c'.toByte))
    assert(fromInts(1, 2).concatenateAll(Seq(7, 8, 9)).terminals.toVector ==
      Vector(1, 2, 7, 8, 9))
  }

  test("charseq gap-fills: replaceFirstK, asciiTrim") {
    val df = Seq("a-b-a-b-a", "\t x \n").toDF("s")
    val r = df.select(CharSeq.replaceFirstK(col("s"), "a", "X", 2).as("r"),
      CharSeq.asciiTrim(col("s")).as("t")).collect()
    assert(r(0).getString(0) == "X-b-X-b-a")
    assert(r(1).getString(1) == "x")
  }

  test("numerical gradient converges on a quadratic cost") {
    val st = SemanticStream.from(spark, Seq(4.0, 4.0)).toStatistics
    val theta = st.gradientNumerical(
      t => t.zipWithIndex.map { case (x, i) => (x - i) * (x - i) }.sum,
      lr = 0.1, maxIter = 1000, eps = 1e-9)
    assert(math.abs(theta(0) - 0.0) < 1e-4 && math.abs(theta(1) - 1.0) < 1e-4)
  }

  test("multimodal feature stub feeds the ANN path end-to-end") {
    val df = (1 to 30).map(i => (i.toLong, ("payload" * i).take(50 + i)))
      .toDF("id", "payload")
      .select(col("id"), col("payload").cast("binary").as("payload"))
    val feats = Multimodal.fakeFeatures(df, "id", "payload", dims = 16).toDF()
    // deterministic: same payload → same embedding
    val again = Multimodal.fakeFeatures(df, "id", "payload", dims = 16).toDF()
    assert(feats.collect().map(_.getSeq[Float](1)).toSeq ==
      again.collect().map(_.getSeq[Float](1)).toSeq)
    // unit-normalized
    feats.collect().foreach { r =>
      val v = r.getSeq[Float](1)
      assert(math.abs(v.map(x => x * x).sum - 1.0) < 1e-3)
    }
    // plugs into the similarity operators
    val buckets = Similarity.hyperplaneBuckets(feats, "id", "embedding", planes = 3)
    assert(buckets.count() == 30)
    val topk = Similarity.cosineTopK(feats, feats.filter(col("id") <= 2),
      "id", "embedding", k = 3)
    assert(topk.count() == 6)
    // resize plan clamps to the bounding box
    val meta = Multimodal.extractMeta(df, "id", "payload").toDF()
    val rp = Multimodal.resizePlan(meta, 64, 48).collect()
    rp.foreach { r =>
      assert(r.getAs[Long]("target_w") <= 64 && r.getAs[Long]("target_h") <= 48)
    }
  }

  test("IVF assign/topk: cells partition the corpus; neighbors share cells") {
    val vecs = (0 until 60).map { i =>
      (i.toLong, Array.tabulate(8)(j => math.cos(i * 0.31 + j * 1.7).toFloat))
    }.toDF("vec_id", "embedding")
    val cells = Similarity.ivfAssign(vecs, "vec_id", "embedding", nlist = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cells.size == 60)
    assert(cells.values.forall(c => c >= 0 && c < 4))
    assert(cells.values.toSet.size > 1) // corpus actually spreads over cells
    val topkDf = Similarity.ivfTopK(vecs, vecs.filter(col("vec_id") < 3),
      "vec_id", "embedding", k = 3, nlist = 4)
    // a hot IVF cell must never pin a query's candidates to one window task
    assert(!topkDf.queryExecution.executedPlan.toString.contains("Window"),
      "ivfTopK must not plan a window")
    val topk = topkDf.collect()
    assert(topk.nonEmpty)
    topk.foreach { r =>
      assert(cells(r.getAs[Long]("qid")) == cells(r.getAs[Long]("nid")))
    }
    // per query, ranks are 1..m with cosine non-increasing
    topk.groupBy(_.getAs[Long]("qid")).values.foreach { rs =>
      val sorted = rs.sortBy(_.getAs[Long]("rank"))
      assert(sorted.map(_.getAs[Long]("rank")).toSeq == (1L to sorted.length))
      val cos = sorted.map(_.getAs[Double]("cosine"))
      assert(cos.zip(cos.tail).forall { case (a, b) => a >= b })
    }
  }

  test("exactCanonical keeps the min-id row per identical text with sizes") {
    val docs = Seq(
      (10L, "en", "hello world"),
      (3L, "de", "hello world"),
      (7L, "fr", "unique text"),
      (5L, "en", "hello world")
    ).toDF("doc_id", "lang", "text")
    val out = graft.operators.Dedup.exactCanonical(docs, "doc_id", "text",
      payloadCols = Seq("lang")).collect()
      .map(r => r.getAs[Long]("id") -> (r.getAs[String]("lang"), r.getAs[Long]("group_size")))
      .toMap
    assert(out == Map(3L -> ("de", 3L), 7L -> ("fr", 1L)))
    // must agree with exact()'s canonical mapping
    val viaExact = graft.operators.Dedup.exact(docs, "doc_id", "text")
      .filter(col("id") === col("canonical_id"))
      .collect().map(_.getAs[Long]("id")).toSet
    assert(out.keySet == viaExact)
  }

  test("runningTotal matches a local cumulative sum, including negatives") {
    import graft.operators.Windows
    val rng = new scala.util.Random(42)
    val rows = (0 until 3000).map(i => (i.toLong, rng.nextInt(200) - 100))
    val got = Windows.runningTotal(rows.toDF("k", "v"), col("k"),
      Seq(col("k").asc), col("v"), "cum")
      .orderBy(col("k")).collect().map(_.getAs[Long]("cum")).toSeq
    val expected = rows.map(_._2.toLong).scanLeft(0L)(_ + _).tail
    // negatives make any bucket's running sum peak above its final
    // total — offsets must come from sum(value), not max(cum)
    assert(got == expected)
  }

  test("stratified fraction 1.0 keeps every row of the stratum") {
    import graft.operators.Sampling
    val df = (0 until 5000).map(i => (i.toLong, "en")).toDF("id", "lang")
    assert(Sampling.stratified(df, "id", "lang", Map("en" -> 1.0),
      defaultFraction = 0.0, seed = 1).count() == 5000L)
    assert(Sampling.hexThreshold(1.0) == "g")
  }

  test("deterministic sampling: reproducible, rate-accurate, stable subsets") {
    import graft.operators.Sampling
    val df = (0 until 20000).map(i => (i.toLong, if (i % 3 == 0) "en" else "xx"))
      .toDF("id", "lang")
    val a = Sampling.bernoulli(df, "id", 0.3, seed = 11).collect().map(_.getLong(0)).toSet
    val b = Sampling.bernoulli(df, "id", 0.3, seed = 11).collect().map(_.getLong(0)).toSet
    assert(a == b) // run-to-run deterministic
    assert(math.abs(a.size / 20000.0 - 0.3) < 0.02) // within 2pp of the rate
    // a larger fraction with the same seed yields a SUPERSET (the
    // threshold family is nested — handy for curriculum-style growth)
    val big = Sampling.bernoulli(df, "id", 0.6, seed = 11).collect().map(_.getLong(0)).toSet
    assert(a.subsetOf(big))
    assert(Sampling.bernoulli(df, "id", 1.0, seed = 11).count() == 20000L)
    // stratified rates hold per stratum
    val st = Sampling.stratified(df, "id", "lang", Map("en" -> 0.9),
      defaultFraction = 0.1, seed = 11)
      .groupBy("lang").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(math.abs(st("en") / 6667.0 - 0.9) < 0.05)
    assert(math.abs(st("xx") / 13333.0 - 0.1) < 0.05)
  }

  test("deterministicShuffle shelters caller ord/idx columns") {
    import graft.operators.Sampling
    val df = (0 until 100).map(i => (i.toLong, i * 10L, s"i$i"))
      .toDF("id", "ord", "idx")
    val out = Sampling.deterministicShuffle(df, "id", seed = 5L)
    assert(out.columns.sorted.toSeq == Seq("id", "idx", "ord", "pos"))
    val r = out.filter(col("id") === 7L).collect()(0)
    assert(r.getAs[Long]("ord") == 70L && r.getAs[String]("idx") == "i7")
    // permutation unchanged by the extra columns
    val plain = Sampling.deterministicShuffle(df.select("id"), "id", seed = 5L)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("pos")).toMap
    val withCols = out.collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("pos")).toMap
    assert(plain == withCols)
    // idCol may itself be named ord/idx — the shelter must keep resolving it
    val idIsOrd = Sampling.deterministicShuffle(
      df.withColumnRenamed("id", "x").withColumnRenamed("ord", "id")
        .withColumnRenamed("x", "ord"), "ord", seed = 5L)
    assert(idIsOrd.columns.sorted.toSeq == Seq("id", "idx", "ord", "pos"))
    val byOrd = idIsOrd.collect().map(r => r.getAs[Long]("ord") -> r.getAs[Long]("pos")).toMap
    assert(plain == byOrd) // same ids (now under "ord"), same permutation
    // a pre-existing pos is ambiguous with the output — rejected loudly
    val e = intercept[IllegalArgumentException] {
      Sampling.deterministicShuffle(df.withColumn("pos", lit(1)), "id", seed = 5L)
    }
    assert(e.getMessage.contains("pos"))
  }

  test("rangeJoin: bin-spanning intervals match once; empty intervals drop") {
    import graft.operators.Joins
    val points = Seq((1L, 10L, 5L), (2L, 10L, 25L), (3L, 10L, 95L), (4L, 99L, 25L))
      .toDF("pid", "k", "t")
    val intervals = Seq(
      (100L, 10L, 0L, 30L),   // spans bins 0-2 @ binWidth 10 → matches t=5, t=25
      (200L, 10L, 90L, 96L),  // matches t=95
      (300L, 10L, 50L, 50L),  // empty → dropped
      (400L, 77L, 0L, 100L))  // key with no points
      .toDF("iid", "ik", "lo", "hi")
    val out = Joins.rangeJoin(points, intervals, "k", "ik", "t", "lo", "hi",
      binWidth = 10L)
      .select(col("r.iid"), col("l.pid")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    // each qualifying pair EXACTLY once despite interval 100 covering 3 bins
    assert(out == Seq((100L, 1L), (100L, 2L), (200L, 3L)))
  }

  test("gopherQuality: rule battery on crafted pass/fail docs") {
    import graft.operators.TextAnalysis
    val pass = (("the word " * 20) + ("of and that have with " * 6)).trim // 70 words, stops, alpha
    val docs = Seq(
      (1L, pass),
      (2L, ""),                                  // empty: 0 metrics, fail
      (3L, "short doc with the and of"),         // 6 words < 50 → fail
      (4L, Seq.fill(60)("12345").mkString(" "))  // no alpha, no stops → fail
    ).toDF("doc_id", "text")
    val out = TextAnalysis.gopherQuality(docs, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("id") -> r).toMap
    assert(out(1L).getAs[Boolean]("pass"))
    assert(out(1L).getAs[Long]("n_words") == 70)
    assert(!out(2L).getAs[Boolean]("pass"))
    assert(out(2L).getAs[Long]("n_words") == 0 &&
      out(2L).getAs[Double]("mean_word_len") == 0.0)
    assert(!out(3L).getAs[Boolean]("pass"))
    assert(out(3L).getAs[Long]("n_stopword_hits") == 4) // with, the, and, of
    assert(!out(4L).getAs[Boolean]("pass"))
    assert(out(4L).getAs[Double]("frac_alpha_words") == 0.0)
  }

  test("tfidf matches the closed-form smooth-idf score") {
    import graft.operators.TextAnalysis
    val docs = Seq((1L, "spark spark join"), (2L, "join window"),
      (3L, "nothing here")).toDF("doc_id", "text")
    val got = TextAnalysis.tfidf(docs, "doc_id", "text",
      Seq("spark", "join", "window"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    def idf(df: Double) = math.log(4.0 / (df + 1.0)) + 1.0
    val exp1 = 2 * idf(1) + 1 * idf(2) // spark tf=2 df=1; join tf=1 df=2
    val exp2 = 1 * idf(2) + 1 * idf(1) // join + window
    assert(got(1L)._1 == 2 && math.abs(got(1L)._2 - exp1) < 1e-12)
    assert(got(2L)._1 == 2 && math.abs(got(2L)._2 - exp2) < 1e-12)
    assert(got(3L) == ((0L, 0.0)))
  }

  test("quantileTiers: decile assignment with heavy ties, window-free") {
    import graft.operators.Sampling
    // 100 rows, metric = id % 10 (ten 10-row tie runs): interpolated
    // decile thresholds land at v + 0.9-ish between consecutive values,
    // so tier(v) = v + 1 exactly — and a row ON a threshold would stay
    // in the lower tier by the strict > rule
    val df = spark.range(100).select(col("id"), (col("id") % 10).as("m"))
    val out = Sampling.quantileTiers(df, col("m"), 10)
    val plan = out.queryExecution.optimizedPlan.toString.toLowerCase
    assert(!plan.contains("windowexpression"), "quantileTiers must be window-free")
    val got = out.select(col("m"), col("tier")).distinct()
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got.size == 10)
    (0L until 10L).foreach(v => assert(got(v) == v + 1, s"m=$v tier ${got(v)}"))
    // constant metric: every threshold equals the value, nothing exceeds
    // anything → everyone tier 1
    val const = Sampling.quantileTiers(
      spark.range(50).select(col("id"), lit(7).as("m")), col("m"), 4)
    assert(const.select(col("tier")).distinct().collect().map(_.getInt(0)).toSeq == Seq(1))
    // approx scale path (GK sketch thresholds — dataset values, not
    // interpolations): on the tie-run fixture the rank-10·i boundary
    // element is value i−1, so tiers still come out v+1 exactly
    val approx = Sampling.quantileTiers(df, col("m"), 10, approx = true)
      .select(col("m"), col("tier")).distinct()
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(approx.size == 10)
    (0L until 10L).foreach(v => assert(approx(v) == v + 1, s"approx m=$v tier ${approx(v)}"))
  }

  test("repetitionSignals: closed-form loop doc, clean doc, empty doc") {
    import graft.operators.TextAnalysis
    // "a b a b a b" (len 11): 2-grams "a b"×3 + "b a"×2 → top2 = 3,
    // dup2 chars = 3·3 + 2·3 = 15 → 15/11; 3-grams "a b a"×2 +
    // "b a b"×2 → top3 = 2, dup3 = 2·5 + 2·5 = 20 → 20/11; 4-grams
    // "a b a b"×2 + "b a b a"×1 → dup4 = 2·7 = 14 → 14/11
    val docs = Seq((1L, "a b a b a b"), (2L, "x y z"), (3L, ""))
      .toDF("doc_id", "text")
    val out = TextAnalysis.repetitionSignals(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)))
      .toMap
    def r4(v: Double) = BigDecimal(v + 1e-9)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(1L) == ((3L, 2L, r4(15.0 / 11), r4(20.0 / 11), r4(14.0 / 11))))
    assert(out(2L) == ((1L, 1L, 0.0, 0.0, 0.0))) // no repeats
    assert(out(3L) == ((0L, 0L, 0.0, 0.0, 0.0))) // empty doc
  }

  test("zipfHeadFit: exact power law fits alpha=1 r2=1; top-k plan shape") {
    import graft.operators.TextAnalysis
    // freq_r = 12/r for ranks 1..4 (12, 6, 4, 3) is EXACTLY Zipfian:
    // ln f = ln 12 − 1·ln r, so alpha = 1, r2 = 1, intercept = ln 12
    val text = Seq.fill(12)("a") ++ Seq.fill(6)("b") ++
      Seq.fill(4)("c") ++ Seq.fill(3)("d")
    val docs = Seq((1L, text.mkString(" "))).toDF("doc_id", "text")
    val fit = TextAnalysis.zipfHeadFit(docs, "doc_id", "text", k = 100)
    // the vocabulary ranking must be TakeOrderedAndProject (distributed
    // per-partition top-k), never a full global sort
    assert(fit.queryExecution.executedPlan.toString.contains("TakeOrderedAndProject"),
      "zipf head must rank via TakeOrderedAndProject")
    val r = fit.collect().head
    assert(r.getLong(0) == 4)
    assert(r.getDouble(1) == 1.0, s"alpha ${r.getDouble(1)}")
    assert(r.getDouble(2) == BigDecimal(math.log(12.0) + 1e-9)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(r.getDouble(3) == 1.0, s"r2 ${r.getDouble(3)}")
    // degenerate: single-token corpus → slope undefined → alpha 0, r2 0
    val one = TextAnalysis.zipfHeadFit(
      Seq((1L, "x x x")).toDF("doc_id", "text"), "doc_id", "text")
      .collect().head
    assert(one.getLong(0) == 1 && one.getDouble(1) == 0.0 && one.getDouble(3) == 0.0)
  }

  test("simhashNearDups: pigeonhole banding loses no pair vs brute force") {
    import graft.operators.Dedup
    // 40 docs over a small shared vocab → heavily correlated
    // fingerprints: the banding must return EXACTLY the brute-force
    // hamming<=k set (pigeonhole is lossless by construction — any pair
    // within budget agrees on >= 1 of k+1 segments)
    val docs = (0 until 40).map(i =>
      (i.toLong, (0 until 12).map(j => s"w${(i * 7 + j * 3) % 20}").mkString(" ")))
      .toDF("doc_id", "text")
    for (k <- Seq(1, 2, 3)) {
      val banded = Dedup.simhashNearDups(docs, "doc_id", "text",
          maxHamming = k, bits = 16)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val fps = Dedup.simhash16(docs, "doc_id", "text")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val brute = (for {
        a <- fps.keys; b <- fps.keys if a < b
        h = java.lang.Long.bitCount(fps(a) ^ fps(b)).toLong if h <= k
      } yield (a, b, h)).toSet
      assert(banded == brute, s"k=$k: banding diverges from brute force " +
        s"(missing=${(brute -- banded).take(3)} extra=${(banded -- brute).take(3)})")
    }
    // an empty doc has no fingerprint and pairs with nothing
    val withEmpty = docs.union(Seq((99L, "")).toDF("doc_id", "text"))
    assert(Dedup.simhashNearDups(withEmpty, "doc_id", "text", 2, bits = 16)
      .filter(col("a") === 99L || col("b") === 99L).count() == 0L)
    // the bucket cap bounds a mass-dup bomb: 300 identical docs share
    // every segment bucket — capped at 10, only the 10 smallest ids
    // pair (C(10,2), hamming 0), elected window-free
    val bomb = (0 until 300).map(i => (i.toLong, "same text every time here"))
      .toDF("doc_id", "text")
    val capped = Dedup.simhashNearDups(bomb, "doc_id", "text",
      maxHamming = 2, maxBucketSize = Some(10), bits = 16)
    assert(!capped.queryExecution.optimizedPlan.toString.toLowerCase
      .contains("windowexpression"))
    val pairs = capped.collect()
    assert(pairs.length == 45)
    assert(pairs.forall(r => r.getLong(0) < 10 && r.getLong(1) < 10 &&
      r.getLong(2) == 0L))
  }

  test("simhashNearDups bits=64 (the default): banding lossless; capped path window-free") {
    import graft.operators.Dedup
    // same correlated corpus as the 16-bit spec: the 64-bit banding must
    // return EXACTLY the brute-force hamming<=k set over simhash64
    val docs = (0 until 40).map(i =>
      (i.toLong, (0 until 12).map(j => s"w${(i * 7 + j * 3) % 20}").mkString(" ")))
      .toDF("doc_id", "text")
    val fps = Dedup.simhash64(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (k <- Seq(1, 2, 3)) {
      // no bits arg: the DEFAULT must be the 64-bit scale path
      val banded = Dedup.simhashNearDups(docs, "doc_id", "text",
        maxHamming = k)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val brute = (for {
        a <- fps.keys; b <- fps.keys if a < b
        h = java.lang.Long.bitCount(fps(a) ^ fps(b)).toLong if h <= k
      } yield (a, b, h)).toSet
      assert(banded == brute, s"k=$k: 64-bit banding diverges from brute " +
        s"force (missing=${(brute -- banded).take(3)} extra=${(banded -- brute).take(3)})")
    }
    // the wide-fingerprint capped path (ids elected, fingerprints met in
    // a semi-join — a 64-bit fp doesn't round-trip the double payload):
    // 300 identical docs capped at 10 → C(10,2) hamming-0 pairs, and the
    // election is the bounded aggregate, never a window
    val bomb = (0 until 300).map(i => (i.toLong, "same text every time here"))
      .toDF("doc_id", "text")
    val capped = Dedup.simhashNearDups(bomb, "doc_id", "text",
      maxHamming = 2, maxBucketSize = Some(10), bits = 64)
    assert(!capped.queryExecution.optimizedPlan.toString.toLowerCase
      .contains("windowexpression"))
    val pairs = capped.collect()
    assert(pairs.length == 45)
    assert(pairs.forall(r => r.getLong(0) < 10 && r.getLong(1) < 10 &&
      r.getLong(2) == 0L))
  }

  test("two-level cellExpr above FlatNlistMax: probe-consistent, dedups exactly") {
    import graft.operators.{Dedup, Similarity}
    val dims = 8
    val nlist = 25 // > FlatNlistMax → the O(√nlist) product assignment
    assert(nlist > Similarity.FlatNlistMax)
    // (id + 1): id = 0 would be the all-zero vector, whose cosine with
    // its own copies is NaN — copies would never dedup
    val emb = spark.range(400).select(col("id").as("vec_id"),
      array((0 until dims).map(j =>
        sin((col("id") + 1) * lit(0.37 * (j + 1))).cast("float")): _*).as("embedding"))
    // contract 1: nprobe = 1 picks EXACTLY cellExpr's cell (the combo
    // score is a separable sum, so its argmax is the pair of bank
    // argmaxes) — the same consistency the flat path guarantees
    val both = emb.select(
      Similarity.cellExpr(col("embedding"), nlist, dims).as("cell"),
      element_at(Similarity.probeCellsExpr(col("embedding"), nlist, 1, dims), 1)
        .as("probed"))
    assert(both.filter(col("cell") =!= col("probed")).count() == 0L)
    // contract 2: identical vectors ALWAYS share a cell (pure function of
    // the vector), so a 3-copy group dedups to one canonical under the
    // two-level assignment exactly as under the flat one
    val tripled = emb.union(emb.filter(col("vec_id") < 3)
        .withColumn("vec_id", col("vec_id") + 1000))
      .union(emb.filter(col("vec_id") < 3)
        .withColumn("vec_id", col("vec_id") + 2000))
    val out = Similarity.semanticDedup(tripled, "vec_id", "embedding",
      nlist = nlist, threshold = 0.999)
    assert(out.count() == 406L)
    val groups = out.filter(col("id") % 1000 < 3)
      .groupBy(col("id") % 1000).agg(
        countDistinct(col("canonical_id")).as("nc"),
        min(col("canonical_id")).as("mc"))
      .collect()
    assert(groups.length == 3)
    groups.foreach { r =>
      assert(r.getLong(1) == 1L, s"copies of ${r.get(0)} split canonicals")
      assert(r.getLong(2) == r.getLong(0), "canonical must be the min id")
    }
  }

  test("embeddingNearDups bucket cap bounds an identical-embedding bomb") {
    import graft.operators.Dedup
    // 200 identical embeddings land in ONE hyperplane bucket whatever
    // planes is; capped at 10, only the 10 smallest ids pair (C(10,2),
    // cosine 1), elected window-free; rows past the cap emit nothing
    val emb = spark.range(200).select(col("id").as("vec_id"),
      array(lit(1.0f), lit(0.25f), lit(0.5f), lit(0.125f)).as("embedding"))
    val out = Dedup.embeddingNearDups(emb, "vec_id", "embedding",
      planes = 4, threshold = 0.9, maxBucketSize = Some(10))
    assert(!out.queryExecution.optimizedPlan.toString.toLowerCase
      .contains("windowexpression"))
    val pairs = out.collect()
    assert(pairs.length == 45)
    assert(pairs.forall(r => r.getLong(0) < 10 && r.getLong(1) < 10))
    // q40's 4096 cap is inert at every oracle SF (≤ 2,000 vectors total)
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
      val e = spark.read.parquet(s"/root/testdata/$sf/embeddings.parquet")
      assert(e.count() < 4096, s"$sf embeddings outgrew the inertness argument")
    }
  }

  test("q105's bucket cap (4096) is provably inert at every oracle scale") {
    import graft.operators.Dedup
    // mirror of the q32/q86 inertness asserts: no simhash segment
    // bucket at any oracle SF comes close to the cap, so capped ≡
    // uncapped ≡ the oracle's brute-force pair set
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
      val docs = spark.read.parquet(s"/root/testdata/$sf/documents.parquet")
      val fps = Dedup.simhash16(docs, "doc_id", "text")
      val nSeg = 3
      val bounds = (0 to nSeg).map(j => 16 * j / nSeg)
      val segs = (0 until nSeg).map { j =>
        val lo = bounds(j); val w = bounds(j + 1) - lo
        shiftright(col("simhash"), lo).bitwiseAND(lit((1L << w) - 1))
      }
      val maxBucket = fps
        .select(posexplode(array(segs: _*)).as(Seq("band", "key")))
        .groupBy("band", "key").count()
        .agg(max("count")).collect()(0).getLong(0)
      assert(maxBucket < 4096, s"$sf max segment bucket $maxBucket !< 4096")
    }
  }

  test("cdcChunkDedup: content-defined boundaries survive an insertion shift") {
    import graft.operators.Dedup
    // md5("w18") starts with '0' → "w18" is a boundary token; w0..w5
    // are not. Doc A = [w0 w1 w18][w2 w3 w4 w5]; doc B inserts "w9"
    // BEFORE the boundary: [w9 w0 w1 w18][w2 w3 w4 w5] — the first
    // chunk changes but the post-boundary chunk re-anchors and matches
    // verbatim. A fixed-stride segmenter (q83's shape) would misalign
    // everything after the insertion. Doc C is unrelated.
    val docs = Seq(
      (1L, "w0 w1 w18 w2 w3 w4 w5"),
      (2L, "w9 w0 w1 w18 w2 w3 w4 w5"),
      (3L, "w6 w7 w8"),
      (4L, "")).toDF("doc_id", "text")
    val out = Dedup.cdcChunkDedup(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out(1L) == ((2L, 1L, 0.5)))  // [w0 w1 w18] unique, tail shared
    assert(out(2L) == ((2L, 1L, 0.5)))  // [w9 w0 w1 w18] unique, tail shared
    assert(out(3L) == ((1L, 0L, 0.0)))
    assert(out(4L) == ((0L, 0L, 0.0)))  // empty doc: 0/0/0.0
  }

  test("canonicalByScore keeps the best-scoring doc per cluster") {
    import graft.operators.Dedup
    // cluster {1,2,3} via chain pairs, singleton 9; best score in the
    // cluster is doc 2 (longest); tie case: {5,6} equal scores → min id
    val docs = Seq((1L, 10L), (2L, 50L), (3L, 20L), (9L, 5L),
      (5L, 7L), (6L, 7L)).toDF("doc_id", "n_chars")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("a", "b")
    val out = Dedup.canonicalByScore(docs, "doc_id", col("n_chars"), pairs)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    assert(out(1L) == ((1L, 10L, false)))
    assert(out(2L) == ((1L, 50L, true)))  // longest survives, not min id
    assert(out(3L) == ((1L, 20L, false)))
    assert(out(9L) == ((9L, 5L, true)))   // singleton survives
    assert(out(5L) == ((5L, 7L, true)))   // tie → smaller id
    assert(out(6L) == ((5L, 7L, false)))
    // plan shape: survivor election is an aggregate, never a window
    val plan = Dedup.canonicalByScore(docs, "doc_id", col("n_chars"), pairs)
      .queryExecution.optimizedPlan.toString.toLowerCase
    assert(!plan.contains("windowexpression"), "canonicalByScore must be window-free")
  }

  test("exact dedup returns null-text rows as singleton groups") {
    import graft.operators.Dedup
    // md5(null) is null; a plain equi-join would silently DROP these
    // rows from the dedup report (neither flagged duplicate nor kept).
    // Missing text is missing, NOT identical content: each null-text row
    // must survive as its own group so a downstream keep-canonical
    // filter never discards a document for having no text
    val docs = Seq((1L, "same"), (2L, null), (3L, "same"), (4L, null),
      (5L, null)).toDF("doc_id", "text")
    val out = Dedup.exact(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out.size == 5, "no row may be dropped")
    assert(out(2L) == ((2L, 1L)))
    assert(out(4L) == ((4L, 1L)))
    assert(out(5L) == ((5L, 1L)))
    assert(out(1L) == ((1L, 2L)))
    assert(out(3L) == ((1L, 2L)))
    // exactCanonical: same contract — every null-text row survives
    val surv = Dedup.exactCanonical(docs, "doc_id", "text", Seq("text"))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(surv == Map(1L -> 2L, 2L -> 1L, 4L -> 1L, 5L -> 1L))
  }

  test("exact dedup: null-id null-text rows are kept, not silently dropped") {
    import graft.operators.Dedup
    // the `n#<id>` synthetic digest is itself null when the id is ALSO
    // null: an equi-join would drop such rows from exact()'s report
    // (they are now routed around the join as direct singleton
    // projections), and exactCanonical() would fold them all into one
    // null-digest group and discard all but one (its total fallback is
    // `r#<monotonic id>` — safe there: single scan, no join)
    val docs = Seq[(java.lang.Long, String)]((1L, "same"), (null, null),
      (3L, "same"), (null, null), (null, "real text"))
      .toDF("doc_id", "text")
    val ex = Dedup.exact(docs, "doc_id", "text").collect()
    assert(ex.length == 5, "every row must appear in the mapping")
    // all three null-id rows (two null/null, one with real text) ride as
    // singletons: group_size 1, canonical_id = min(null) = null
    val nullRows = ex.filter(_.isNullAt(0))
    assert(nullRows.length == 3)
    assert(nullRows.forall(_.getLong(2) == 1L))
    val canon = Dedup.exactCanonical(docs, "doc_id", "text", Seq("text"))
    assert(canon.count() == 4, // "same" collapses 2→1; both null/null kept
      "null/null rows must each survive as their own group")
    assert(canon.filter("text IS NULL").count() == 2)
  }

  test("exact dedup: deterministic plan — null/null rows survive an upstream shuffle") {
    import graft.operators.Dedup
    // the round-14 formulation gave null/null rows a nondeterministic
    // `r#<monotonic id>` digest evaluated independently on BOTH sides of
    // the self-join; with an upstream shuffle the two scans' post-shuffle
    // row orders (and thus the r# values) could diverge and the rows
    // silently drop. They are now routed AROUND the join as direct
    // singleton projections. Pin both the behavior (kept, with an
    // upstream exchange in the plan) and the plan shape (no
    // nondeterministic expression anywhere in exact()'s plan — the
    // plan-level guarantee the verdict asked for, stronger than any
    // single execution passing)
    val docs = Seq[(java.lang.Long, String)]((1L, "same"), (null, null),
      (3L, "same"), (null, null), (null, null))
      .toDF("doc_id", "text")
      .repartition(7, col("doc_id")) // upstream shuffle feeding the dedup
    val out = Dedup.exact(docs, "doc_id", "text")
    val nondet = out.queryExecution.optimizedPlan.collect {
      case p => p.expressions.filterNot(_.deterministic)
    }.flatten
    assert(nondet.isEmpty,
      s"exact()'s plan must be fully deterministic, found: $nondet")
    assert(out.count() == 5, "no row may drop across the shuffle")
    assert(out.filter("id IS NULL AND canonical_id IS NULL AND group_size = 1")
      .count() == 3, "each null/null row is its own singleton group")
  }

  test("capped election raises on non-numeric ids instead of nulling them") {
    import graft.operators.Dedup
    val bands = Seq((0, "k", "docA"), (0, "k", "docB"), (0, "k", "docC"))
      .toDF("band", "key", "id")
    // uncapped path keeps ids opaque — strings are fine
    assert(Dedup.lshCandidates(bands).count() == 3)
    // capped path orders by long — a silent cast would corrupt every
    // elected id to null; it must fail loudly instead
    val ex = intercept[Exception] {
      Dedup.lshCandidates(bands, maxBucketSize = Some(2)).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("numeric")), s"got: $ex")
    // numeric STRINGS cast cleanly and must still work
    val numeric = Seq((0, "k", "7"), (0, "k", "3"), (0, "k", "5"))
      .toDF("band", "key", "id")
    val pairs = Dedup.lshCandidates(numeric, maxBucketSize = Some(2))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((3L, 5L)))
  }

  test("canonicalByScore: null scores lose the election, never win it") {
    import graft.operators.Dedup
    // null sorts SMALLEST in struct order, so an un-coalesced
    // struct(-score, id) would make the null-score row the survivor
    val docs = Seq((1L, Some(10.0)), (2L, None), (3L, Some(4.0)),
      (7L, None), (8L, None)).toDF("doc_id", "score")
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("a", "b")
    val out = Dedup.canonicalByScore(docs, "doc_id", col("score"), pairs)
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(out(1L), "real score must beat null")
    assert(!out(2L) && !out(3L))
    // all-null cluster degrades to min-id survivor
    assert(out(7L) && !out(8L))
  }

  test("zipfHeadFit: empty corpus returns the documented zeros, not nulls") {
    import graft.operators.TextAnalysis
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val r = TextAnalysis.zipfHeadFit(empty, "doc_id", "text", k = 50).collect()
    assert(r.length == 1)
    assert(r(0).getLong(0) == 0L)
    assert(r(0).getDouble(1) == 0.0, "alpha")
    assert(r(0).getDouble(2) == 0.0, "intercept")
    assert(r(0).getDouble(3) == 0.0, "r2")
  }

  test("lshCandidates caps a pathological mega-bucket without losing dedup") {
    import graft.operators.Dedup
    // one band bucket with 200 ids (a mass-duplicated page) + a normal
    // 2-id bucket that must be unaffected by the cap
    val mega = (0 until 200).map(i => (0, "same-key", i.toLong))
    val normal = Seq((1, "other-key", 500L), (1, "other-key", 501L))
    val bands = (mega ++ normal).toDF("band", "key", "id")
    val cappedDf = Dedup.lshCandidates(bands, maxBucketSize = Some(10))
    // the cap mechanism itself must be the bounded aggregate, never a
    // bucket-partitioned window (a 10^8-id bucket would pin one task)
    val plan = cappedDf.queryExecution.optimizedPlan.toString.toLowerCase
    assert(!plan.contains("windowexpression"), "capped banding must be window-free")
    val capped = cappedDf.collect()
    val megaPairs = capped.filter(_.getAs[Long]("a") < 500)
    // quadratic blowup bounded: C(10,2) = 45 pairs, not C(200,2) = 19900
    assert(megaPairs.length == 45)
    assert(megaPairs.forall(r => r.getAs[Long]("a") < 10 && r.getAs[Long]("b") < 10))
    // the small bucket still pairs
    assert(capped.exists(r => r.getAs[Long]("a") == 500L && r.getAs[Long]("b") == 501L))
    // uncapped behavior unchanged
    assert(Dedup.lshCandidates(bands).count() == 19900L + 1L)
  }

  test("q32's bucket cap (64) is provably inert at every oracle scale") {
    import graft.operators.Dedup
    // the cap only truncates buckets LARGER than it; assert no band
    // bucket at any oracle SF comes close, so capped ≡ uncapped results
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
      val docs = spark.read.parquet(s"/root/testdata/$sf/documents.parquet")
      val sig = Dedup.minhashSignature(docs, "doc_id", "text", 3, 12)
      val maxBucket = Dedup.lshBands(sig, 4, 3)
        .groupBy("band", "key").count()
        .agg(max("count")).collect()(0).getLong(0)
      assert(maxBucket < 64, s"$sf max band bucket $maxBucket !< 64")
    }
  }

  test("q86's cell cap (4096) is provably inert at every oracle scale") {
    // the cap only truncates cells LARGER than it; assert no IVF cell at
    // any oracle SF comes close, so capped ≡ uncapped results
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
      val emb = spark.read.parquet(s"/root/testdata/$sf/embeddings.parquet")
      val dims = emb.select(size(col("embedding"))).head().getInt(0)
      val maxCell = emb
        .select(Similarity.cellExpr(col("embedding"), 4, dims).as("cell"))
        .groupBy("cell").count()
        .agg(max("count")).collect()(0).getLong(0)
      assert(maxCell < 4096, s"$sf max IVF cell $maxCell !< 4096")
    }
  }

  test("semanticDedup cell cap bounds a mega-cell without losing dedup") {
    // 300 byte-identical embeddings (one viral page embedded 300×) all
    // land in ONE cell regardless of nlist. Uncapped that cell's
    // self-join is C(300,2) = 44,850 pairs; the cap bounds it to
    // C(10,2) = 45 from the 10 smallest ids — which still collapse to
    // canonical 0 — while rows past the cap stay in the OUTPUT as their
    // own keepers (the lshCandidates maxBucketSize semantics exactly).
    val emb = spark.range(300).select(col("id").as("vec_id"),
      array(lit(1.0f), lit(0.5f), lit(0.25f), lit(0.125f)).as("embedding"))
    val out = Similarity.semanticDedup(emb, "vec_id", "embedding",
      nlist = 8, threshold = 0.99, maxCellSize = Some(10))
    // the cap election is the bounded aggregate + semi-join, windowless
    val plan = out.queryExecution.optimizedPlan.toString.toLowerCase
    assert(!plan.contains("windowexpression"), "capped semanticDedup must be window-free")
    val rows = out.collect()
    assert(rows.length == 300)
    val collapsed = rows.filter(r => r.getAs[Long]("canonical_id") == 0L)
    assert(collapsed.length == 10 && collapsed.forall(_.getAs[Long]("id") < 10))
    assert(rows.filter(_.getAs[Long]("id") >= 10).forall(r =>
      r.getAs[Boolean]("keep") && r.getAs[Long]("canonical_id") == r.getAs[Long]("id")))
    // an inert cap is bit-identical to the uncapped run
    val uncapped = Similarity.semanticDedup(emb, "vec_id", "embedding",
      nlist = 8, threshold = 0.99, maxCellSize = Some(300))
    val full = Similarity.semanticDedup(emb, "vec_id", "embedding",
      nlist = 8, threshold = 0.99)
    assert(uncapped.exceptAll(full).count() == 0L)
    assert(full.exceptAll(uncapped).count() == 0L)
  }

  test("semanticDedup refineTarget: splits mass cells, star edges keep components") {
    // two tight 300-vector clusters (near-identical within, orthogonal-ish
    // across) — a direction-argmax partitioner can NOT split them however
    // large nlist is, so without refinement their cells verify C(300,2)
    // pairs each. refineTarget splits them by data-dependent Voronoi
    // pivots; the star edges must keep each cluster ONE component.
    val dims = 8
    def cluster(base: Long, center: Int, n: Int) =
      spark.range(n).select((col("id") + base).as("vec_id"),
        array((0 until dims).map(j =>
          (when(lit(j == center), lit(1.0f)).otherwise(lit(0.0f)) +
            sin((col("id") + base + 1) * lit(0.13 * (j + 1))).cast("float") * lit(0.01f))
            .cast("float")): _*).as("embedding"))
    val emb = cluster(0L, 0, 300).unionByName(cluster(1000L, 3, 300))
    val nlist = 32 // > FlatNlistMax: exercises the two-level path too
    val refined = Similarity.semanticDedup(emb, "vec_id", "embedding",
      nlist = nlist, threshold = 0.99,
      refineTarget = Some(50), refineFanout = 4, refineMaxRounds = 4)
    // the refined result is returned as a compact checkpoint (leak
    // lifecycle), so its own plan is a LogicalRDD scan — assert
    // window-freedom on the unrefined construction, whose plan IS the
    // shared cell/pair machinery the refinement builds on
    val plan = Similarity.semanticDedup(emb, "vec_id", "embedding",
        nlist = nlist, threshold = 0.99, refineTarget = None)
      .queryExecution.optimizedPlan.toString.toLowerCase
    assert(!plan.contains("windowexpression"), "refinement must be window-free")
    val rows = refined.collect()
    assert(rows.length == 600)
    // the mass cells actually split: no refined cell exceeds the target
    val cellSizes = rows.groupBy(_.getAs[Long]("cell")).map(_._2.length)
    assert(cellSizes.max <= 50,
      s"refined max cell ${cellSizes.max} exceeds refineTarget")
    // ground truth: the unrefined run (all within-cell pairs) — on
    // all-mutual clusters the star edges must reproduce its components
    val full = Similarity.semanticDedup(emb, "vec_id", "embedding",
      nlist = nlist, threshold = 0.99, refineTarget = None)
      .select(col("id"), col("canonical_id"))
    val refinedLabels = refined.select(col("id"), col("canonical_id"))
    assert(refinedLabels.exceptAll(full).count() == 0L)
    assert(full.exceptAll(refinedLabels).count() == 0L)
    // sanity on top of the equality: cross-cluster cosine ≈ 0, so a
    // canonical must never cross the cluster boundary (a star edge to a
    // sub-threshold pivot would show up exactly here)
    assert(rows.forall(r =>
      (r.getAs[Long]("id") < 1000L) == (r.getAs[Long]("canonical_id") < 1000L)))
  }

  test("semanticDedup refine + cap: identical-vector bomb dedups FULLY via star edges") {
    // 1000 byte-identical embeddings: Voronoi refinement cannot split
    // them (every pivot cosine ties), so the cap bounds the pair join —
    // but the star edges connect EVERY member to the elected pivots, so
    // the whole bomb still collapses to one canonical. Cap alone would
    // leave rows past the cap as their own keepers; refine + cap keeps
    // the cost bound AND the full dedup.
    val emb = spark.range(1000).select(col("id").as("vec_id"),
      array(lit(1.0f), lit(0.5f), lit(0.25f), lit(0.125f)).as("embedding"))
    val out = Similarity.semanticDedup(emb, "vec_id", "embedding",
      nlist = 8, threshold = 0.99, maxCellSize = Some(16),
      refineTarget = Some(64), refineFanout = 4, refineMaxRounds = 3)
    val rows = out.collect()
    assert(rows.length == 1000)
    assert(rows.forall(_.getAs[Long]("canonical_id") == 0L),
      "star edges must label every identical copy with the min id")
    assert(rows.count(_.getAs[Boolean]("keep")) == 1)
  }

  test("semanticDedup refineTarget: no corpus-sized block outlives the call") {
    // the refine loop eagerly checkpoints the corpus-sized
    // (id, vec, norm, cell) frame every round — vectors included. The
    // contract (pageRank lifecycle) is: ONE compact output checkpoint may
    // stay pinned while the caller holds the result; every working block
    // (final refine round, CC labels) is freed or ContextCleaner-reapable
    // once the local refs die. Regression here = the long-lived-session
    // leak class: ScaleLadder's warm-up + 3 timed runs in one JVM would
    // pin 4 corpus-sized block sets and skew the very rung that measures
    // this path.
    def pinnedIds: Set[Int] =
      spark.sparkContext.getPersistentRDDs.keysIterator.toSet
    val dims = 6
    val emb = spark.range(400).select(col("id").as("vec_id"),
      array((0 until dims).map(j =>
        (lit(if (j == 0) 1.0f else 0.0f) +
          sin((col("id") + 1) * lit(0.11 * (j + 1))).cast("float") * lit(0.01f))
          .cast("float")): _*).as("embedding"))
    val before = pinnedIds
    var out = Similarity.semanticDedup(emb, "vec_id", "embedding",
      nlist = 8, threshold = 0.99,
      refineTarget = Some(40), refineFanout = 4, refineMaxRounds = 4)
    assert(out.count() == 400L)
    // while the result is held: converge down to exactly ONE new pinned
    // RDD — the compact (id, cell, canonical_id, keep) output checkpoint
    val deadline = System.nanoTime + 120L * 1000 * 1000 * 1000
    var extra = (pinnedIds -- before).toSeq.sorted
    while (extra.size > 1 && System.nanoTime < deadline) {
      System.gc(); Thread.sleep(500)
      extra = (pinnedIds -- before).toSeq.sorted
    }
    assert(extra.size == 1,
      s"blocks pinned after the call (ids ${extra.mkString(",")}): " +
        s"${extra.size}, but only the compact output checkpoint may " +
        "survive — a refine-round or CC working block is leaking")
    // drop the result: the output checkpoint itself must be reapable
    out = null
    var remaining = (pinnedIds -- before).toSeq
    while (remaining.nonEmpty && System.nanoTime < deadline) {
      System.gc(); Thread.sleep(500)
      remaining = (pinnedIds -- before).toSeq
    }
    assert(remaining.isEmpty,
      "output checkpoint still pinned after the result was dropped — " +
        "something holds a strong reference past the caller's lifetime")
  }

  test("minhashNearDups duplicate bomb: capped banding stays linearithmic") {
    import graft.operators.Dedup
    // 10k byte-identical copies of one page: identical signatures put all
    // 10k ids in ONE bucket per band. Uncapped, the within-bucket join is
    // C(10000,2) ≈ 5·10^7 pairs; the cap bounds it to C(cap,2) from the
    // cap smallest ids — still enough for the pairs to dedup against.
    val docs = (0 until 10000).map(i =>
      (i.toLong, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashNearDups(docs, "doc_id", "text",
      shingleWidth = 3, numHashes = 12, bands = 4, threshold = 0.2,
      maxBucketSize = Some(8)).collect()
    assert(pairs.length == 28) // C(8,2)
    assert(pairs.forall(r => r.getAs[Long]("a") < 8 && r.getAs[Long]("b") < 8))
    assert(pairs.forall(_.getAs[Double]("jaccard") == 1.0))
  }

  // --- near-dup verify vs the exploded-shingle reference ----------------

  /** The earlier verify, kept as the value reference: one (id, shingle)
    * row per distinct shingle, the intersection counted from two shingle
    * joins and an (a, b) aggregate, and the set sizes from a per-id
    * aggregate. Pairs that share no shingle drop out of the inner join;
    * rows that share an id merge into one shingle set. */
  private def explodedJaccard(candidates: DataFrame, shingles: DataFrame): DataFrame = {
    val sizes = shingles.groupBy(col("id")).agg(count(lit(1)).as("sz"))
    val sa = shingles.select(col("id").as("a"), col("shingle"))
    val sb = shingles.select(col("id").as("b"), col("shingle"))
    val inter = candidates.join(sa, "a").join(sb, Seq("b", "shingle"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed("id", "a").withColumnRenamed("sz", "sza"), "a")
      .join(sizes.withColumnRenamed("id", "b").withColumnRenamed("sz", "szb"), "b")
      .select(col("a"), col("b"),
        (col("inter").cast("double") /
          (col("sza") + col("szb") - col("inter")).cast("double")).as("jaccard"))
  }

  private def explodedShingles(df: DataFrame, idCol: String, textCol: String,
                               w: Int): DataFrame =
    df.select(col(idCol).as("id"),
      explode(Dedup.shingleArray(col(textCol), w)).as("shingle")).distinct()

  /** The earlier minhashNearDups verify: candidate ids (union + distinct),
    * the docs left-semi-joined to them, their exploded shingles, then
    * [[explodedJaccard]]. */
  private def explodedNearDups(df: DataFrame, idCol: String, textCol: String,
                               w: Int, threshold: Double,
                               cap: Option[Int]): DataFrame = {
    val sig = Dedup.minhashSignature(df, idCol, textCol, w, 12)
    val cand = Dedup.lshCandidates(Dedup.lshBands(sig, 4, 3), cap)
    val candIds = cand.select(col("a").as("id"))
      .union(cand.select(col("b").as("id"))).distinct()
    val candDocs = df.join(candIds.withColumnRenamed("id", idCol),
      Seq(idCol), "left_semi")
    explodedJaccard(cand, explodedShingles(candDocs, idCol, textCol, w))
      .filter(col("jaccard") >= threshold)
  }

  /** (a, b, raw bits of jaccard), sorted: equality is bit-level. */
  private def pairBits(df: DataFrame): Seq[(Long, Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1),
      java.lang.Double.doubleToRawLongBits(r.getDouble(2)))).sorted.toSeq

  /** Empty, null, single-token, mixed-whitespace and repeated-shingle
    * texts, with near-duplicates among them. */
  private lazy val edgeDocs = Seq[(Long, String)](
    (1L, ""), (2L, null), (3L, "solo"), (4L, "solo"),
    (5L, "a b\tc\nd\u000Be\ff\r g"), (6L, "a b c d e f g"),
    (7L, "x y x y x y x y"), (8L, "x y x y x y"), (9L, "  a  b c d e f g  "),
    (10L, "p q r s t u v w"), (11L, "p q r s t u v x"), (12L, "\t\t"),
    (13L, "x y x y x y x y x y")).toDF("doc_id", "text")

  /** The oracle fixture's 500 documents. */
  private lazy val sf001Docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")

  test("minhashNearDups == the exploded-shingle reference: bit-equal pairs over w, threshold and cap") {
    for ((name, df) <- Seq("sf0.01" -> sf001Docs, "edge" -> edgeDocs);
         w <- Seq(1, 3); cap <- Seq(None, Some(64))) {
      // the reference at threshold 0 once; each threshold is its filter
      val ref = pairBits(explodedNearDups(df, "doc_id", "text", w, 0.0, cap))
      assert(ref.nonEmpty, s"$name w=$w cap=$cap: no pairs to compare")
      for (t <- Seq(0.0, 0.2, 0.7)) {
        val got = pairBits(Dedup.minhashNearDups(df, "doc_id", "text",
          shingleWidth = w, numHashes = 12, bands = 4, threshold = t,
          maxBucketSize = cap))
        val want = ref.filter(p => java.lang.Double.longBitsToDouble(p._3) >= t)
        assert(got == want, s"$name w=$w threshold=$t cap=$cap: " +
          s"${got.size} pairs vs ${want.size}; first diff " +
          (got.diff(want) ++ want.diff(got)).take(3))
      }
    }
  }

  test("jaccard == the exploded-shingle reference on all edge-frame pairs") {
    // every pair of the edge frame, disjoint and null/empty texts
    // included: pairs sharing no shingle are dropped on both sides
    val ids = edgeDocs.select(col("doc_id"))
    val cands = ids.as("l").join(ids.as("r"), col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("a"), col("r.doc_id").as("b"))
    for (w <- Seq(1, 3)) {
      val got = pairBits(Dedup.jaccard(cands, edgeDocs, "doc_id", "text", w))
      val want = pairBits(explodedJaccard(cands,
        explodedShingles(edgeDocs, "doc_id", "text", w)))
      assert(got == want, s"w=$w")
      assert(got.nonEmpty && got.size < 78, s"w=$w: ${got.size} of 78 pairs")
    }
  }

  test("crossCorpusNearDups == the exploded-shingle reference on packed ids") {
    val a = sf001Docs.filter(col("doc_id") % 2 === 0)
    val b = sf001Docs.filter(col("doc_id") % 2 === 1)
    def packed(df: DataFrame, side: Int) =
      df.select((col("doc_id") * 2 + side).as("__xid"), col("text").as("__xtext"))
    for (w <- Seq(1, 3); cap <- Seq(None, Some(64))) {
      val side = pmod(col("a"), lit(2))
      val want = pairBits(explodedNearDups(packed(a, 0).unionByName(packed(b, 1)),
          "__xid", "__xtext", w, 0.2, cap)
        .filter(side =!= pmod(col("b"), lit(2)))
        .select(
          shiftright(when(side === 0, col("a")).otherwise(col("b")), 1),
          shiftright(when(side === 0, col("b")).otherwise(col("a")), 1),
          col("jaccard")))
      val got = pairBits(Dedup.crossCorpusNearDups(a, b, "doc_id", "text",
        shingleWidth = w, threshold = 0.2, maxBucketSize = cap))
      assert(want.nonEmpty, s"w=$w cap=$cap: no pairs to compare")
      assert(got == want, s"w=$w cap=$cap")
    }
  }

  test("jaccard: idCol is a key; rows sharing an id are verified one by one") {
    // id 1 has two rows; each is verified against doc 2 with its own
    // text. The exploded form merged them into one shingle set instead.
    val x = "one two three four five six"
    val y = "one two three four seven eight"
    val docs = Seq((1L, x), (1L, y), (2L, x)).toDF("doc_id", "text")
    val cands = Seq((1L, 2L)).toDF("a", "b")
    val got = Dedup.jaccard(cands, docs, "doc_id", "text", 3).collect()
      .map(_.getDouble(2)).sorted.toSeq
    // x vs x: 4/4; y vs x: {one two three, two three four} of 4 + 4 - 2
    assert(got == Seq(2.0 / 6.0, 1.0))
    val merged = explodedJaccard(cands, explodedShingles(docs, "doc_id", "text", 3))
      .collect().map(_.getDouble(2)).toSeq
    assert(merged == Seq(4.0 / 6.0)) // |x ∪ y| = 6 shingles, 4 shared with x
  }

  test("minhashNearDups: one lazy plan, 6 Spark jobs per collect") {
    // AQE runs each exchange as its own job. On this fixture the
    // exploded verify, with its two lazy checkpoints, ran 13 jobs
    val t = "the quick brown fox jumps over the lazy dog again and again"
    val docs = Seq((1L, t), (2L, t), (3L, "completely different words here now ok"),
      (4L, t + " plus a tail"), (5L, "unrelated corpus text that matches nothing"))
      .toDF("doc_id", "text")
    var rows = 0
    val jobs = org.apache.spark.sql.GraftTestShim.jobsDuring(spark.sparkContext) {
      rows = Dedup.minhashNearDups(docs, "doc_id", "text", threshold = 0.2,
        maxBucketSize = Some(64)).collect().length
    }
    assert(rows == 3)
    assert(jobs <= 6, s"$jobs jobs")
  }

  test("ivfTopKProbed: nprobe=1 ≡ ivfTopK; nprobe=nlist ≡ brute force") {
    val vecs = (0 until 60).map { i =>
      (i.toLong, Array.tabulate(8)(j => math.cos(i * 0.9 + j * 0.3).toFloat))
    }.toDF("vec_id", "embedding")
    val queries = vecs.filter(col("vec_id") < 4)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("qid"), col("rank"), col("nid"), col("cosine"))
        .collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).sorted.toSeq
    // probe-1 is exactly the single-cell operator
    assert(rows(Similarity.ivfTopKProbed(vecs, queries, "vec_id", "embedding",
        k = 3, nlist = 4, nprobe = 1)) ==
      rows(Similarity.ivfTopK(vecs, queries, "vec_id", "embedding",
        k = 3, nlist = 4)))
    // probing EVERY cell is full recall: identical to brute-force cosine
    assert(rows(Similarity.ivfTopKProbed(vecs, queries, "vec_id", "embedding",
        k = 3, nlist = 4, nprobe = 4)) ==
      rows(Similarity.cosineTopK(vecs, queries, "vec_id", "embedding", k = 3)))
    // recall is monotone in nprobe: every probe-1 neighbor set is a
    // subset of the probe-2 candidate universe (rank order may shift)
    val p1 = Similarity.ivfTopKProbed(vecs, queries, "vec_id", "embedding",
      k = 3, nlist = 4, nprobe = 1)
    val p2 = Similarity.ivfTopKProbed(vecs, queries, "vec_id", "embedding",
      k = 60, nlist = 4, nprobe = 2)
    assert(p1.join(p2, Seq("qid", "nid"), "left_anti").count() == 0L)
    // window-free ranking, like every ANN entry point here
    assert(!p2.queryExecution.optimizedPlan.toString.toLowerCase
      .contains("windowexpression"))
    // the SAME laws hold on the two-level product path (nlist = 25 >
    // FlatNlistMax, side = 5, cell space = 25): probe-1 ≡ top-1 cell,
    // and probing all side² cells is full recall — this exercises the
    // pruned combo enumeration (each bank's top-p only) end to end
    assert(rows(Similarity.ivfTopKProbed(vecs, queries, "vec_id", "embedding",
        k = 3, nlist = 25, nprobe = 1)) ==
      rows(Similarity.ivfTopK(vecs, queries, "vec_id", "embedding",
        k = 3, nlist = 25)))
    assert(rows(Similarity.ivfTopKProbed(vecs, queries, "vec_id", "embedding",
        k = 3, nlist = 25, nprobe = 25)) ==
      rows(Similarity.cosineTopK(vecs, queries, "vec_id", "embedding", k = 3)))
  }

  test("annTopKBucketed agrees with brute force within shared buckets") {
    val vecs = (0 until 40).map { i =>
      (i.toLong, Array.tabulate(8)(j => math.sin(i * 0.7 + j).toFloat))
    }.toDF("vec_id", "embedding")
    val queries = vecs.filter(col("vec_id") < 3)
    val annDf = Similarity.annTopKBucketed(vecs, queries, "vec_id", "embedding",
      k = 3, planes = 2)
    // a skewed hyperplane bucket must never pin a query to one window task
    assert(!annDf.queryExecution.executedPlan.toString.contains("Window"),
      "annTopKBucketed must not plan a window")
    val ann = annDf.collect()
    assert(ann.nonEmpty)
    val buckets = Similarity.hyperplaneBuckets(vecs, "vec_id", "embedding", 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every returned neighbor must share the query's bucket, ranks 1..k
    ann.foreach { r =>
      assert(buckets(r.getAs[Long]("qid")) == buckets(r.getAs[Long]("nid")))
      assert(r.getAs[Long]("rank") >= 1 && r.getAs[Long]("rank") <= 3)
    }
  }

  test("ANN recall@10 on the real embeddings table beats the random baseline") {
    // the quality question the plan-shape asserts can't answer: how much
    // of the true top-10 do the bucketed paths recover on REAL clustered
    // vectors (sf0.001 embeddings, 64-dim, labeled clusters)? Everything
    // is md5-deterministic, so recall is a fixed number — pin a floor
    // well below the measured value, far above the random baseline
    // (10/(n-1) ≈ 2%).
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val queries = emb.filter(col("vec_id") % 5 === 0) // a fifth of the corpus
    val truth = Similarity.cosineTopK(emb, queries, "vec_id", "embedding", k = 10)
      .collect().map(r => r.getAs[Long]("qid") -> r.getAs[Long]("nid"))
      .groupBy(_._1).map { case (q, ns) => q -> ns.map(_._2).toSet }
    def recallOf(ann: Array[org.apache.spark.sql.Row]): Double = {
      val got = ann.map(r => r.getAs[Long]("qid") -> r.getAs[Long]("nid"))
        .groupBy(_._1).map { case (q, ns) => q -> ns.map(_._2).toSet }
      truth.map { case (q, t) =>
        got.get(q).fold(0.0)(g => (g & t).size.toDouble / t.size)
      }.sum / truth.size
    }
    val lsh = recallOf(Similarity.annTopKBucketed(emb, queries, "vec_id",
      "embedding", k = 10, planes = 4).collect())
    val ivf = recallOf(Similarity.ivfTopK(emb, queries, "vec_id",
      "embedding", k = 10, nlist = 8).collect())
    val multiDf = Similarity.annTopKMultiTable(emb, queries, "vec_id",
      "embedding", k = 10, planes = 4, tables = 8)
    assert(!multiDf.queryExecution.executedPlan.toString.contains("Window"),
      "annTopKMultiTable must not plan a window")
    val multi = recallOf(multiDf.collect())
    info(f"recall@10: lsh(planes=4)=$lsh%.3f ivf(nlist=8)=$ivf%.3f " +
      f"multi(4×8)=$multi%.3f")
    // single-table paths: modest but well above the ~2% random baseline
    assert(lsh >= 0.08, s"LSH recall@10 $lsh under the pinned floor")
    assert(ivf >= 0.08, s"IVF recall@10 $ivf under the pinned floor")
    // the multi-table knob must actually compound recall
    assert(multi >= lsh * 2, s"multi-table recall $multi did not compound over $lsh")
    assert(multi >= 0.4, s"multi-table recall@10 $multi under the pinned floor")
  }
}
