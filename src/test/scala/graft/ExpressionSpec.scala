package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.GraftFunctions
import graft.operators.{Dedup, TextAnalysis => TA}

/** The regex forms that the native tokenizer kernels replaced, kept as
  * the reference they are pinned against: Java regexes over the text
  * decoded to a `String`. */
object RegexText {
  private val ws = TA.asciiWs

  def tokens(c: Column): Column = regexp_extract_all(c, lit(s"[^$ws]+"), lit(0))

  def tokenCount(c: Column): Column = size(tokens(c)).cast("long")

  def shingleArray(c: Column, w: Int): Column = {
    val norm = regexp_replace(trim(c), s"[$ws]+", " ")
    val unit = Seq.fill(w)("\\S+").mkString(" ")
    regexp_extract_all(norm, lit(s"(?:^| )(?=($unit))"), lit(1))
  }

  def countOccurrences(c: Column, target: String): Column =
    regexp_count(c, lit(java.util.regex.Pattern.quote(target))).cast("long")

  private def wordHits(c: Column, w: String): Column =
    countOccurrences(concat(lit(" "), c, lit(" ")), s" $w ")

  def alphaRatio(c: Column): Column =
    length(regexp_replace(c, "[^a-zA-Z]", "")).cast("double") /
      greatest(length(c), lit(1)).cast("double")

  def stopwordRatio(c: Column): Column = {
    val hits = Seq("the", "a", "and", "of", "to", "in", "is").map(wordHits(c, _)).reduce(_ + _)
    hits.cast("double") / greatest(tokenCount(c), lit(1L)).cast("double")
  }

  def qualityScore(c: Column): Column = {
    val lenScore = when(length(c) >= 200 && length(c) <= 5000, 1.0)
      .when(length(c) >= 50, 0.5).otherwise(0.0)
    val stop = least(stopwordRatio(c) * 5.0, lit(1.0))
    round((lenScore + alphaRatio(c) + stop) / 3.0 + 1e-9, 4)
  }

  def langId(c: Column): Column = {
    def hits(markers: Seq[String]): Column = markers.map(wordHits(c, _)).reduce(_ + _)
    val en = hits(Seq("the", "a", "and"))
    val de = hits(Seq("der", "und", "die"))
    val fr = hits(Seq("le", "la", "et"))
    val es = hits(Seq("el", "los", "y"))
    when(en >= de && en >= fr && en >= es && en > 0, "en")
      .when(de >= fr && de >= es && de > 0, "de")
      .when(fr >= es && fr > 0, "fr")
      .when(es > 0, "es")
      .otherwise("und")
  }
}

/** Native-expression specs: code_points under codegen, utf32 round trips,
  * and U+FFFD policies (SURVEY.md §5, unicodeCorpus fixture). */
class ExpressionSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("graft_code_points matches String.codePoints incl. astral plane") {
    GraftFunctions.register(spark)
    val corpus = Seq("hello", "héllo", "日本語", "emoji 🎉🎊 end", "")
    val got = corpus.toDF("s")
      .selectExpr("graft_code_points(s) AS cps")
      .collect().map(_.getSeq[Int](0).toSeq)
    val want = corpus.map(_.codePoints().toArray.toSeq)
    assert(got.toSeq == want)
  }

  test("CharSeq.codePoints rides CodePointsExpr: real code points, not UTF-8 bytes") {
    GraftFunctions.register(spark)
    // ascii()-based extraction would return the first UTF-8 byte of é
    // (signed -61), not U+00E9 = 233
    val got = Seq("héllo").toDF("s")
      .select(graft.functions.CharSeq.codePoints(col("s"), 3).as("cps"))
      .collect()(0).getSeq[Int](0)
    assert(got == Seq('h'.toInt, 0xE9, 'l'.toInt))
  }

  test("positional indexOf/lastIndexOf follow charsequence.h:900-988") {
    val df = Seq("xx data yy data zz").toDF("s") // "data" at 3 and 11
    def one(c: org.apache.spark.sql.Column): Long =
      df.select(c.as("v")).collect()(0).getLong(0)
    import graft.functions.CharSeq._
    assert(one(indexOf(col("s"), "data", 0)) == 3L)
    assert(one(indexOf(col("s"), "data", 3)) == 3L)
    assert(one(indexOf(col("s"), "data", 4)) == 11L)
    assert(one(indexOf(col("s"), "data", 12)) == -1L)
    assert(one(indexOf(col("s"), "data", 99)) == -1L)  // from >= len → -1
    assert(one(lastIndexOf(col("s"), "data", 99)) == -1L) // reference: no clamp
    assert(one(lastIndexOf(col("s"), "data", 17)) == 11L)
    assert(one(lastIndexOf(col("s"), "data", 11)) == 11L)
    assert(one(lastIndexOf(col("s"), "data", 10)) == 3L)
    assert(one(lastIndexOf(col("s"), "data", 2)) == -1L)
  }

  test("asciiTrim strips the full reference set incl. vertical tab U+000B") {
    val got = Seq("\u000B\t hi \u000B\f\r\n").toDF("s")
      .select(graft.functions.CharSeq.asciiTrim(col("s")).as("t"))
      .collect()(0).getString(0)
    assert(got == "hi")
  }

  test("graft_dot matches the interpreted zip_with form and known values") {
    GraftFunctions.register(spark)
    val df = Seq(
      (Array(1.0, 2.0, 3.0), Array(4.0, 5.0, 6.0)),   // 4+10+18 = 32
      (Array(0.5, -2.0), Array(-1.0, 0.25)),          // -0.5-0.5 = -1
      (Array.empty[Double], Array.empty[Double])      // 0
    ).toDF("a", "b")
    val got = df.select(graft.operators.Similarity.dot(col("a"), col("b")).as("d"))
      .collect().map(_.getDouble(0)).toSeq
    assert(got == Seq(32.0, -1.0, 0.0))
    val hof = df.select(graft.operators.Similarity.dotHof(col("a"), col("b")).as("d"))
      .collect().map(_.getDouble(0)).toSeq
    assert(got == hof)
    // float arrays read directly (no cast projection), incl. mixed
    // float x double — equals the cast-then-dot form bit for bit
    val fdf = Seq((Array(1.5f, -2.25f, 3.0f), Array(2.0, 4.0, -1.0)))
      .toDF("f", "d")
    val mixed = fdf.select(
      graft.operators.Similarity.dot(col("f"), col("d")).as("m"),
      graft.operators.Similarity.dot(col("f"), col("f")).as("ff"),
      graft.operators.Similarity.dot(col("f").cast("array<double>"), col("d")).as("c"))
      .collect()(0)
    assert(mixed.getDouble(0) == mixed.getDouble(2)) // 3 - 9 - 3 = -9
    assert(mixed.getDouble(0) == -9.0)
    assert(mixed.getDouble(1) == 1.5 * 1.5 + 2.25 * 2.25 + 9.0)
  }

  test("utf32 encode/decode round-trips; byte layout is per-endianness") {
    GraftFunctions.register(spark)
    val corpus = Seq("A", "héllo", "日本語", "🎉")
    val rt = corpus.toDF("s").selectExpr(
      "graft_utf32le_decode(graft_utf32le_encode(s)) AS le",
      "graft_utf32be_decode(graft_utf32be_encode(s)) AS be",
      "graft_utf32be_encode(s) AS bytes").collect()
    rt.zip(corpus).foreach { case (r, s) =>
      assert(r.getString(0) == s && r.getString(1) == s)
    }
    // "A" big-endian = 00 00 00 41
    assert(rt(0).getAs[Array[Byte]]("bytes").toSeq == Seq[Byte](0, 0, 0, 0x41))
    // 🎉 U+1F389 big-endian = 00 01 F3 89
    assert(rt(3).getAs[Array[Byte]]("bytes").toSeq ==
      Seq[Byte](0, 1, 0xF3.toByte, 0x89.toByte))
  }

  test("encodeCharset/decodeCharset route utf32le/be NAMES to the native expressions") {
    GraftFunctions.register(spark)
    import graft.functions.CharSeq._
    val df = Seq("héllo 🎉").toDF("s")
    val r = df.select(
      decodeCharset(encodeCharset(col("s"), "utf32le"), "utf32le").as("le"),
      decodeCharset(encodeCharset(col("s"), "UTF32BE"), "utf32be").as("be"),
      encodeCharset(lit("A"), "utf32be").as("bytes")).collect()(0)
    assert(r.getString(0) == "héllo 🎉")
    assert(r.getString(1) == "héllo 🎉") // case-insensitive name routing
    assert(r.getAs[Array[Byte]]("bytes").toSeq == Seq[Byte](0, 0, 0, 0x41))
  }

  test("graft_dot rejects non-float/double arrays at ANALYSIS time") {
    GraftFunctions.register(spark)
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      Seq((Array(1, 2), Array(3, 4))).toDF("a", "b")
        .selectExpr("graft_dot(a, b)").collect()
    }
    assert(e.getMessage.contains("graft_dot"))
    intercept[org.apache.spark.sql.AnalysisException] {
      Seq(("x", Array(1.0))).toDF("a", "b").selectExpr("graft_dot(a, b)").collect()
    }
  }

  test("graft_dot: null elements count as 0.0 (additive identity), both eval paths") {
    GraftFunctions.register(spark)
    // 1*2 + null*5 + 3*4 = 14
    val got = spark.sql(
      "SELECT graft_dot(array(1.0D, NULL, 3.0D), array(2.0D, 5.0D, 4.0D)) AS d")
      .collect()(0).getDouble(0)
    assert(got == 14.0)
  }

  test("utf16le decode parity with the reference (charsequence.h:392-427)") {
    import graft.functions.CharSeq._
    def dec(bytes: Array[Byte]): Seq[Int] =
      Seq(bytes).toDF("b").select(decodeCharset(col("b"), "utf16le").as("s"))
        .collect()(0).getString(0).codePoints().toArray.toSeq
    // matching cases: lone surrogates and truncated tails → U+FFFD
    assert(dec(Array[Byte](0x00, 0xD8.toByte)) == Seq(0xFFFD))        // lone high, at end
    assert(dec(Array[Byte](0x00, 0xDC.toByte)) == Seq(0xFFFD))        // lone low
    assert(dec(Array[Byte](0x41, 0x00, 0x42)) == Seq(0x41, 0xFFFD))   // odd trailing byte
    assert(dec(Array[Byte](0x3C, 0xD8.toByte, 0x89.toByte, 0xDF.toByte)) ==
      Seq(0x1F389)) // valid astral pair
    // DOCUMENTED DIVERGENCE (COVERAGE.md §2.6): high surrogate followed
    // by a non-low unit — the reference consumes 2 bytes and re-decodes
    // the next unit (→ U+FFFD U+0041); the JVM decoder reports the pair
    // as ONE malformed sequence (→ U+FFFD). Pin the JVM behavior so any
    // platform change is caught.
    assert(dec(Array[Byte](0x00, 0xD8.toByte, 0x41, 0x00)) == Seq(0xFFFD))
    assert(dec(Array[Byte](0x00, 0xD8.toByte, 0x00, 0xD8.toByte)) == Seq(0xFFFD))
  }

  test("utf16be decode parity with the reference (charsequence.h:265-495)") {
    // the reference validates BOTH byte orders through the same state
    // machine; mirror the utf16le malformed classes big-endian so the
    // symmetry is pinned, not assumed
    import graft.functions.CharSeq._
    def dec(bytes: Array[Byte]): Seq[Int] =
      Seq(bytes).toDF("b").select(decodeCharset(col("b"), "utf16be").as("s"))
        .collect()(0).getString(0).codePoints().toArray.toSeq
    assert(dec(Array[Byte](0xD8.toByte, 0x00)) == Seq(0xFFFD))        // lone high, at end
    assert(dec(Array[Byte](0xDC.toByte, 0x00)) == Seq(0xFFFD))        // lone low
    assert(dec(Array[Byte](0x00, 0x41, 0x42)) == Seq(0x41, 0xFFFD))   // odd trailing byte
    assert(dec(Array[Byte](0xD8.toByte, 0x3C, 0xDF.toByte, 0x89.toByte)) ==
      Seq(0x1F389)) // valid astral pair
    // same documented divergence as utf16le (COVERAGE.md §2.6): the JVM
    // decoder reports high+non-low as ONE malformed sequence
    assert(dec(Array[Byte](0xD8.toByte, 0x00, 0x00, 0x41)) == Seq(0xFFFD))
    assert(dec(Array[Byte](0xD8.toByte, 0x00, 0xD8.toByte, 0x00)) == Seq(0xFFFD))
  }

  test("utf32 decode: invalid scalar values and truncated tails → U+FFFD") {
    GraftFunctions.register(spark)
    val bad = Seq(
      Array[Byte](0, 0, 0xD8.toByte, 0),          // U+D800 surrogate (BE)
      Array[Byte](0, 0x11, 0, 0),                 // U+110000 out of range
      Array[Byte](0, 0, 0, 0x41, 0, 0))           // 'A' + truncated tail
      .toDF("b")
    val out = bad.selectExpr("graft_utf32be_decode(b) AS s")
      .collect().map(_.getString(0))
    assert(out(0) == "�")
    assert(out(1) == "�")
    assert(out(2) == "A�")
  }

  test("graft_nfc/nfd/nfkc/nfkd: composition, compatibility, dedup canonicalization") {
    GraftFunctions.register(spark)
    import graft.operators.TextAnalysis
    val decomposed = "cafe\u0301 \u212B" // e + combining acute, Angstrom sign
    val composed = "caf\u00E9 \u00C5"     // precomposed \u00E9, \u00C5
    val compat = "\uFB01ne \u2460"        // fi ligature, circled one
    val df = Seq(decomposed, composed, compat).toDF("s")
    // NFC composes the combining mark and maps U+212B -> U+00C5: both
    // spellings of the same text become bit-identical (the dedup
    // canonicalization property) while compatibility chars are KEPT
    val nfc = df.select(TextAnalysis.normalizeUnicode(col("s"), "NFC").as("n"))
      .collect().map(_.getString(0))
    assert(nfc(0) == composed && nfc(1) == composed)
    assert(nfc(2) == compat)
    // after NFC the two spellings digest identically; before, they do not
    val digests = df.select(md5(col("s")).as("raw"),
      md5(TextAnalysis.normalizeUnicode(col("s"), "NFC")).as("norm")).collect()
    assert(digests(0).getString(0) != digests(1).getString(0))
    assert(digests(0).getString(1) == digests(1).getString(1))
    // NFKC additionally folds compatibility forms
    val nfkc = df.select(TextAnalysis.normalizeUnicode(col("s"), "NFKC").as("n"))
      .collect().map(_.getString(0))
    assert(nfkc(2) == "fine 1")
    // NFD decomposes the precomposed spelling back out; NFKD also folds
    val nfd = df.select(TextAnalysis.normalizeUnicode(col("s"), "NFD").as("n"))
      .collect().map(_.getString(0))
    assert(nfd(1) == "cafe\u0301 A\u030A") // A + combining ring
    val nfkd = df.select(TextAnalysis.normalizeUnicode(col("s"), "NFKD").as("n"))
      .collect().map(_.getString(0))
    assert(nfkd(2) == "fine 1")
    // null and empty pass through
    val ne = Seq[Option[String]](None, Some("")).toDF("s")
      .select(TextAnalysis.normalizeUnicode(col("s")).as("n")).collect()
    assert(ne(0).isNullAt(0) && ne(1).getString(0) == "")
    // unknown form rejected at column-build time
    intercept[IllegalArgumentException] {
      TextAnalysis.normalizeUnicode(col("s"), "NFX")
    }
  }

  test("PqCodesExpr matches the least-struct reference form (r19 native rewrite)") {
    GraftFunctions.register(spark)
    // deterministic pseudo-random corpus: dims=8, m=2, ksub=3 — includes
    // a short vector (subvector truncation = slice semantics) and exact
    // distance ties (argmin keeps the SMALLER centroid id, least's
    // (d asc, cid asc) struct order)
    def vec(seed: Int, n: Int): Seq[Float] =
      (0 until n).map(i => (((seed * 31 + i) % 17) - 8) / 8.0f)
    val rows = (0 until 40).map(i => (i.toLong, vec(i, 8))) ++
      Seq((100L, vec(3, 5)), (101L, Seq.empty[Float]),
        (102L, vec(7, 8)), (103L, vec(7, 8))) // duplicates => same codes
    val emb = rows.toDF("vec_id", "embedding")
    val books: Array[Array[Array[Double]]] = Array.tabulate(2) { j =>
      Array.tabulate(3) { t =>
        // centroid 2 duplicates centroid 1 in subspace 0: a forced tie
        val tt = if (j == 0 && t == 2) 1 else t
        Array.tabulate(4)(i => (((j * 7 + tt * 5 + i) % 9) - 4) / 4.0)
      }
    }
    // independent reference: the exact arithmetic of the pre-r19
    // expression form — ascending-index double fold over the slice,
    // d = -2*s + |c|^2, argmin with smaller-cid tie-break
    def refCodes(v: Seq[Float]): Seq[Long] = (0 until 2).map { j =>
      val sub = v.slice(j * 4, j * 4 + 4).map(_.toDouble)
      val scored = books(j).zipWithIndex.map { case (cv, t) =>
        val s = sub.zip(cv).map { case (a, b) => a * b }.sum
        val sq = cv.map(x => x * x).sum
        (-2.0 * s + sq, t.toLong)
      }
      scored.minBy(identity)._2 // (d asc, cid asc)
    }
    val got = emb
      .select(col("vec_id"),
        graft.operators.Similarity.pqCodesExpr(col("embedding"), books).as("codes"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
    rows.foreach { case (id, v) =>
      assert(got(id) == refCodes(v), s"codes diverge for vec $id")
    }
    // the forced tie actually exercised: some vector picks centroid 1
    // over its duplicate 2 in subspace 0
    assert(rows.forall { case (id, _) => got(id).head != 2L || books(0)(1).sameElements(books(0)(2)) == false })
  }

  test("graft_hex_votes16 matches the 16 substring-isin votes (r20 native rewrite)") {
    GraftFunctions.register(spark)
    // real md5 hex strings + adversarial shapes (short, empty). The
    // parity contract is the md5-hex domain: LOWERCASE hex (the old
    // isin form votes 0 on uppercase; the helper accepts A-F — pinned
    // separately below)
    val corpus = Seq("the", "quick", "brown", "fox", "", "a",
      "ffffffffffffffff", "0000000000000000")
    val df = corpus.toDF("tok")
      .withColumn("h", when(length(col("tok")) === 16 || length(col("tok")) === 0,
        col("tok")).otherwise(md5(col("tok"))))
    // reference: the pre-r20 expression form
    val oldVotes = (0 until 16).map { i =>
      when(substring(col("h"), i + 1, 1)
        .isin("8", "9", "a", "b", "c", "d", "e", "f"), 1).otherwise(0)
        .as(s"v$i")
    }
    val rows = df.select(
      (col("h") +: (org.apache.spark.sql.GraftColumnShim
        .hexVotes16Column(col("h")).as("m") +: oldVotes)): _*).collect()
    rows.foreach { r =>
      val m = r.getInt(1)
      (0 until 16).foreach { i =>
        val want = r.getInt(2 + i)
        assert(((m >> i) & 1) == want,
          s"vote $i diverges for '${r.getString(0)}': mask=$m want=$want")
      }
    }
    // uppercase hex (not produced by md5, but the helper accepts it):
    // A-F at positions 0-5 vote 1 (bits 0x3F); "0123456789" at positions
    // 6-15 votes only on '8' (pos 14) and '9' (pos 15) → 0xC000
    val up = graft.functions.ExprHelpers.hexVotes16(
      org.apache.spark.unsafe.types.UTF8String.fromString("ABCDEF0123456789"))
    assert(up == 0xC03F)
  }

  test("BpeMergesExpr matches the greedy carry fold (r20 native rewrite)") {
    GraftFunctions.register(spark)
    // independent reference: greedy left-to-right non-overlapping merge
    // with carry re-arm — the documented mergeAdjacent semantics
    def refMerge(syms: List[String], a: String, b: String): List[String] = {
      val out = scala.collection.mutable.ListBuffer.empty[String]
      var carry: String = null
      syms.foreach { x =>
        if (carry == null) { if (x == a) carry = x else out += x }
        else {
          if (x == b) { out += a + b; carry = null }
          else if (x == a) { out += carry; carry = x }
          else { out += carry; out += x; carry = null }
        }
      }
      if (carry != null) out += carry
      out.toList
    }
    def refAll(word: String, merges: Seq[(String, String)]): List[String] =
      merges.foldLeft(word.map(_.toString).toList) { case (s, (a, b)) =>
        refMerge(s, a, b) }
    val merges = Seq(("a", "a"), ("aa", "b"), ("c", "aab"), ("x", "y"))
    val words = Seq("aaa", "aaaa", "ab", "aab", "caab", "ccaabb", "xyxy",
      "xxyy", "", "z", "aabcaab")
    val got = words.toDF("w")
      .select(col("w"), org.apache.spark.sql.GraftColumnShim.bpeMergesColumn(
        filter(split(col("w"), ""), x => x =!= ""), merges.toArray).as("syms"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1).toList).toMap
    words.foreach { w =>
      assert(got(w) == refAll(w, merges), s"merge diverges for '$w': ${got(w)}")
    }
    // classic greedy pin from the scaladoc: "a a a" -> ["aa", "a"]
    assert(got("aaa") == List("aa", "a"))
  }

  /** The signature as it was computed before [[graft.functions.MinHashSigExpr]]:
    * explode the in-row shingle set, ⌈k/4⌉ md5 hex digests per shingle,
    * and a `min` aggregate over k 8-char substrings. */
  private def explodeSignature(df: org.apache.spark.sql.DataFrame,
                               w: Int, k: Int): org.apache.spark.sql.DataFrame = {
    val sh = df.select(col("id"),
      explode(array_distinct(RegexText.shingleArray(col("text"), w))).as("shingle"))
    val withDigests = sh.select(col("id") +: (0 until (k + 3) / 4).map(j =>
      md5(concat(lit(s"$j#"), col("shingle"))).as(s"d$j")): _*)
    val aggs = (0 until k).map(i =>
      min(substring(col(s"d${i / 4}"), (i % 4) * 8 + 1, 8)).as(s"h$i"))
    withDigests.groupBy(col("id")).agg(aggs.head, aggs.tail: _*)
  }

  test("MinHashSigExpr signature == the explode/md5/substring/min form, eval and codegen") {
    val texts = Seq[String](
      null, "", "   ", "one", "one two",
      "the quick brown fox jumps over the lazy dog",
      "  leading and trailing spaces  ",
      "\ttab\tsep\u000Bvt\fff\r\ncrlf\nnl end\t",
      "nbsp\u00A0joins one token here", "ideographic\u3000space is a token char",
      "日本語 の テキスト です ね", "astral 🎉 𝔘𝔫𝔦 tokens 🎊 end",
      "a b a b a b a b a b", "dup dup dup dup dup", "only  two")
    val rows = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) } ++
      // two rows per id merge by min
      Seq((100L, "alpha beta gamma delta"), (100L, "delta epsilon zeta eta theta"),
        (101L, "x"), (101L, "lone row survives with its id"))
    // an RDD source, not a local relation: the optimizer would fold the
    // projection over local rows through `eval` in every mode
    val df = spark.sparkContext.parallelize(rows, 2).toDF("id", "text")
    def sigs(d: org.apache.spark.sql.DataFrame): Map[Long, Seq[String]] =
      d.collect().map(r => r.getLong(0) -> (1 until r.length).map(r.getString)).toMap
    val key = "spark.sql.codegen.factoryMode"
    val prev = spark.conf.getOption(key)
    try {
      for (mode <- Seq("NO_CODEGEN", "CODEGEN_ONLY"); w <- Seq(1, 3); k <- Seq(1, 4, 10, 12)) {
        spark.conf.set(key, mode)
        val native = graft.operators.Dedup.minhashSignature(df, "id", "text", w, k)
        val got = sigs(native)
        val want = sigs(explodeSignature(df, w, k))
        assert(got == want, s"$mode w=$w k=$k")
        assert(got.values.forall(_.forall(_.matches("[0-9a-f]{8}"))))
        // null, empty and too-short texts have no signature: dropped
        assert(!got.contains(0L) && !got.contains(1L) && !got.contains(2L))
        assert(got.contains(3L) == (w == 1) && got.contains(4L) == (w == 1))
        assert(got.contains(100L) && got.contains(101L))
        // the path under test: NO_CODEGEN runs `eval` (no whole-stage
        // stage at all), CODEGEN_ONLY compiles `doGenCode` with no
        // interpreted fallback
        val plan = native.queryExecution.executedPlan.toString
        // first match: AQE prints the final plan before the initial one
        val sigLine = plan.split("\n").find(_.contains("graft_minhash_signature"))
        assert(sigLine.isDefined, plan)
        assert(sigLine.get.contains("*(") == (mode == "CODEGEN_ONLY"), s"$mode:\n$plan")
      }
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("no declared ranker plan strands a Filter above a graft_barrier projection") {
    GraftFunctions.register(spark)
    // the EvalBarrier determinism flag blocks predicate pushdown through
    // any projection containing it (documented at the registration
    // site); assert the current call sites keep every Filter BELOW the
    // barrier, so nothing is lost today
    import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter, LogicalPlan}
    val rankers = Seq("q35_cosine_topk", "q49_ann_bucketed", "q61_ann_multitable",
      "q69_quantized_rerank", "q74_topk_per_group", "q80_pq_adc",
      "q81_ivfpq", "q104_ivf_nprobe")
    val dir = "/root/testdata/sf0.001"
    rankers.foreach { name =>
      val plan = SparkEntry.queries(name)(spark, dir)
        .queryExecution.optimizedPlan
      // stranded = the Filter would have pushed through projections to
      // the scan but is stopped by the barrier: barrier reachable from
      // the Filter through PROJECT nodes only (an intervening
      // Aggregate/Generate/Join gates pushdown on its own terms)
      import org.apache.spark.sql.catalyst.plans.logical.{Project => LProject}
      def strands(p: LogicalPlan): Boolean = p match {
        case pr: LProject =>
          pr.projectList.exists(_.exists(_.isInstanceOf[graft.functions.EvalBarrier])) ||
            strands(pr.child)
        case _ => false
      }
      plan.foreach {
        case f: LFilter =>
          assert(!strands(f.child),
            s"$name: Filter stranded above a graft_barrier projection —\n$plan")
        case _ => ()
      }
    }
  }

  test("EvalBarrier (graft_barrier) is a value-identity and survives codegen") {
    GraftFunctions.register(spark)
    val df = Seq((1L, 2.5), (2L, -0.0), (3L, Double.NaN)).toDF("id", "x")
    val got = df.selectExpr("id", "graft_barrier(x * 2.0) AS y")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(got(1L) == 5.0)
    assert(java.lang.Double.doubleToRawLongBits(got(2L)) ==
      java.lang.Double.doubleToRawLongBits(-0.0)) // identity, no normalization
    assert(got(3L).isNaN)
    // the barrier's whole point: it reads non-deterministic to the
    // optimizer, so a scoring projection cannot be inlined into an
    // ObjectHashAggregate's input expressions
    val e = graft.functions.EvalBarrier(
      org.apache.spark.sql.catalyst.expressions.Literal(1.0))
    assert(!e.deterministic)
  }

  /** The test-data layout's sf0.01 `documents` table. */
  private val documentsSf001 = "/root/testdata/sf0.01/documents.parquet"

  /** Texts at the edges of the tokenizer and count contracts. */
  private val edgeTexts = Seq[String](
    null, "", " ", "   ", "\t", " \t\n\r\u000B\f ", "one", "one two",
    "  leading and trailing spaces  ", "\tlead tab", "trail tab\t",
    "\u000Bvt lead", "vt trail\u000B", "\fform\ffeed\f", "crlf\r\nline two\r\n",
    "nbsp\u00A0joins a\u00A0b", "ideographic\u3000space", "café é è the été",
    "日本語 の テキスト です", "astral 🎉 𝔘𝔫𝔦 tokens 🎊", "the the the", "thethe the",
    "the", " the ", "The THE the", "the, the. the", "a a a a", "und die der und",
    "le la et el los y", "y y y", "a.b..c....", "(x) (x)(x)",
    "the quick brown fox jumps over the lazy dog and a cat is in the hat " * 4,
    "der Hund und die Katze und der Vogel")

  /** The edge texts plus the sf0.01 `documents` texts, as an RDD-backed
    * frame: over a local relation the optimizer would fold every
    * projection through `eval`, whatever the factory mode. */
  private def textCorpus(): DataFrame = {
    val docs = spark.read.parquet(documentsSf001)
      .select(col("text")).as[String].collect().toSeq
    spark.sparkContext.parallelize((edgeTexts ++ docs).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }, 3).toDF("id", "text")
  }

  /** Runs `f` with `spark.sql.codegen.factoryMode` set to each of
    * NO_CODEGEN (every expression through `eval`) and CODEGEN_ONLY
    * (through `doGenCode`, no interpreted fallback). */
  private def inFactoryModes[T](f: String => T): Seq[T] = {
    val key = "spark.sql.codegen.factoryMode"
    val prev = spark.conf.getOption(key)
    try Seq("NO_CODEGEN", "CODEGEN_ONLY").map { mode => spark.conf.set(key, mode); f(mode) }
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Binary values compared by content, doubles by their bits. */
  private def canonical(r: Row): Seq[Any] = r.toSeq.map {
    case b: Array[Byte] => b.toSeq
    case d: Double => java.lang.Double.doubleToRawLongBits(d)
    case x => x
  }

  test("native tokenizer kernels == their regex forms on sf0.01 documents and edge texts") {
    val t = col("text")
    val cols: Seq[(String, Column, Column)] = Seq(
      ("tokens", TA.tokens(t), RegexText.tokens(t)),
      ("tokenCount", TA.tokenCount(t), RegexText.tokenCount(t)),
      ("alphaRatio", TA.alphaRatio(t), RegexText.alphaRatio(t)),
      ("stopwordRatio", TA.stopwordRatio(t), RegexText.stopwordRatio(t)),
      ("qualityScore", TA.qualityScore(t), RegexText.qualityScore(t)),
      ("langId", TA.langId(t), RegexText.langId(t))) ++
      Seq(1, 2, 3, 5).map(w =>
        (s"shingleArray w=$w", Dedup.shingleArray(t, w), RegexText.shingleArray(t, w))) ++
      Seq("the", " the ", "a", "und", "é", "日本", "🎉", ".", "..", "(x)", "\t", "\u00A0").map(x =>
        (s"countOccurrences '$x'", TA.countOccurrences(t, x), RegexText.countOccurrences(t, x)))
    val corpus = textCorpus()
    inFactoryModes { mode =>
      val df = corpus.select(col("id") +: col("text") +:
        cols.flatMap { case (n, a, b) => Seq(a.as(s"n_$n"), b.as(s"r_$n")) }: _*)
      cols.indices.foreach { k =>
        assert(df.schema(2 + 2 * k).dataType == df.schema(3 + 2 * k).dataType, cols(k)._1)
      }
      val rows = df.collect()
      assert(rows.length == edgeTexts.length + 500)
      rows.foreach { r =>
        cols.indices.foreach { k =>
          val (got, want) = (r.get(2 + 2 * k), r.get(3 + 2 * k))
          val same = (got, want) match {
            case (x: Double, y: Double) =>
              java.lang.Double.doubleToRawLongBits(x) == java.lang.Double.doubleToRawLongBits(y)
            case _ => got == want
          }
          assert(same, s"$mode ${cols(k)._1} on ${r.get(1)}: native $got, regex $want")
        }
      }
      val byText = rows.filter(!_.isNullAt(1)).map(r => r.getString(1) -> r).toMap
      def at(text: String, name: String) = byText(text).get(2 + 2 * cols.indexWhere(_._1 == name))
      // non-overlapping: " the " matches once in "the the the"
      assert(at("the the the", "countOccurrences ' the '") == 1L)
      assert(at("a.b..c....", "countOccurrences '..'") == 3L)
      assert(at("nbsp\u00A0joins a\u00A0b", "tokens") == Seq("nbsp\u00A0joins", "a\u00A0b"))
      assert(at(" \t\n\r\u000B\f ", "tokens") == Seq.empty)
    }
  }

  /** [[TA.bpeEncode]] as it was planned before [[graft.functions.BpeCountExpr]]:
    * explode the (doc, word) rows, segment the distinct words, join the
    * symbol counts back, group by doc, and left-join the docs. */
  private def explodeBpeEncode(docs: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    val words = docs.select(col("id"), explode(TA.tokens(col("text"))).as("__w"))
    val dict = TA.bpeSegment(words.select(col("__w").as("__word")).distinct(), "__word", merges)
      .select(col("__word"), size(col("syms")).cast("long").as("__ns"))
    val perDoc = words.join(dict, col("__w") === col("__word"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("__nw"), sum(col("__ns")).as("__nb"))
    docs.select(col("id"))
      .join(perDoc, Seq("id"), "left")
      .select(col("id"), coalesce(col("__nw"), lit(0L)).as("n_words"),
        coalesce(col("__nb"), lit(0L)).as("n_bpe_tokens"))
  }

  /** `n` merges over the symbol pool of `text`: each merges two symbols
    * drawn half the time from the 60 oldest and half from the whole
    * pool, and adds their concatenation to it, so early merges fire on
    * many words and late ones on few. Seeded. */
  private def randomMerges(text: String, n: Int, seed: Int): Seq[(String, String)] = {
    val rnd = new scala.util.Random(seed)
    val pool = scala.collection.mutable.ArrayBuffer(text.codePoints().toArray.distinct
      .map(cp => new String(Character.toChars(cp))).filter(_.trim.nonEmpty).toSeq: _*)
    def pick(): String =
      pool(if (rnd.nextBoolean()) rnd.nextInt(math.min(60, pool.size)) else rnd.nextInt(pool.size))
    Seq.fill(n) { val (a, b) = (pick(), pick()); pool += a + b; (a, b) }
  }

  test("BpeCountExpr == the explode/distinct/join bpeEncode, eval and codegen") {
    val corpus = textCorpus().union(spark.sparkContext.parallelize(Seq(
        (10000L, Array[Byte](0x61, 0x80.toByte, 0x20, 0xE6.toByte, 0x62)), // invalid UTF-8
        (10001L, Array[Byte](0xF0.toByte, 0x9F.toByte, 0x20, 0x61, 0x62, 0xC3.toByte))), 1)
      .toDF("id", "raw").select(col("id"), col("raw").cast("string").as("text")))
    val texts = (edgeTexts.filter(_ != null) :+ "the spark table window data").mkString(" ")
    val lists = Seq(
      "no merges" -> Nil,
      "hand list" -> Seq(("t", "h"), ("th", "e"), ("a", "a"), ("aa", "a"),
        ("\uD83C\uDF89", " "), ("e", "\u00E9"), ("\u65E5", "\u672C")),
      "1000 merges" -> randomMerges(texts, 1000, seed = 7))
    val want = lists.map { case (name, ms) =>
      name -> explodeBpeEncode(corpus, ms).collect().map(canonical).toSet }
    assert(want.forall(_._2.size == edgeTexts.length + 502))
    // the merges do fire: the lists give different counts
    assert(want.map(_._2).distinct.size == lists.size)
    inFactoryModes { mode =>
      lists.zip(want).foreach { case ((name, ms), (_, expected)) =>
        val got = TA.bpeEncode(corpus, "id", "text", ms)
        val ref = explodeBpeEncode(corpus, ms)
        assert(got.schema.map(_.dataType) == ref.schema.map(_.dataType), s"$mode $name")
        assert(got.collect().map(canonical).toSet == expected, s"$mode $name")
        val plan = got.queryExecution.executedPlan.toString
        val line = plan.split("\n").find(_.contains("graft_bpe_count"))
        assert(line.isDefined, plan)
        assert(line.get.contains("*(") == (mode == "CODEGEN_ONLY"), s"$mode:\n$plan")
      }
    }
  }

  test("tokenCount(null) is size(null): null under ANSI, -1 without") {
    val key = "spark.sql.ansi.enabled"
    val prev = spark.conf.getOption(key)
    try Seq("true" -> null, "false" -> -1L).foreach { case (ansi, want) =>
      spark.conf.set(key, ansi)
      val df = spark.sparkContext.parallelize(Seq[(Long, String)]((1L, null)), 1)
        .toDF("id", "text")
      inFactoryModes { mode =>
        val r = df.select(TA.tokenCount(col("text")), RegexText.tokenCount(col("text"))).head()
        assert(r.get(0) == want && r.get(1) == want, s"ansi=$ansi $mode: $r")
      }
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("invalid UTF-8: tokens keep the raw bytes; counts equal the decoded text's") {
    import graft.functions.ExprHelpers
    import org.apache.spark.unsafe.types.UTF8String
    // 'a', a stray continuation byte, a space, a truncated 3-byte lead, 'b'
    val raw = UTF8String.fromBytes(Array[Byte](0x61, 0x80.toByte, 0x20, 0xE6.toByte, 0x62))
    val toks = ExprHelpers.shingles(raw, 1).array.toSeq
      .map(_.asInstanceOf[UTF8String].getBytes.toSeq)
    assert(toks == Seq(Seq[Byte](0x61, 0x80.toByte), Seq[Byte](0xE6.toByte, 0x62)))
    // the String path decodes each bad byte to U+FFFD, which is not
    // whitespace and not a letter, so counts agree
    assert(raw.toString == "a\uFFFD \uFFFDb")
    assert(ExprHelpers.tokenCount(raw) == 2 && ExprHelpers.asciiLetterCount(raw) == 2)
  }

  test("padded literal count reads the text between two virtual spaces") {
    import graft.functions.ExprHelpers.countLiteral
    import org.apache.spark.unsafe.types.UTF8String.fromString
    val the = " the ".getBytes("UTF-8")
    // " the the the ": the match at 0 ends on the space the next one
    // would start with, so 2, non-overlapping; unpadded only the middle
    assert(countLiteral(fromString("the the the"), the, pad = true) == 2)
    assert(countLiteral(fromString("the the the"), the, pad = false) == 1)
    assert(countLiteral(fromString("the"), the, pad = true) == 1)
    assert(countLiteral(fromString(""), "  ".getBytes("UTF-8"), pad = true) == 1)
    assert(countLiteral(fromString(""), the, pad = true) == 0)
  }

  test("eval and codegen agree for every native kernel; the plan takes the mode's path") {
    GraftFunctions.register(spark)
    import org.apache.spark.sql.GraftColumnShim
    val corpus = textCorpus()
    def vec(seed: Int): Seq[Double] = (0 until 8).map(i => (((seed * 31 + i) % 17) - 8) / 8.0)
    val books = Array.tabulate(2, 3, 4)((j, t, i) => (((j * 7 + t * 5 + i) % 9) - 4) / 4.0)
    val vecs = spark.sparkContext.parallelize((0 until 40).map(i => (i.toLong, vec(i))), 2)
      .toDF("id", "v")
    val words = spark.sparkContext.parallelize(Seq("aaa", "aab", "caab", "", "xyxy", "ab")
      .map(w => (w, w.map(_.toString))), 2).toDF("w", "syms")
    val mergeList = Array(("a", "a"), ("aa", "b"), ("c", "aab"), ("x", "y"))
    val cases: Seq[(String, () => DataFrame)] = Seq(
      "graft_shingles" -> (() => corpus.select(col("id"), Dedup.shingleArray(col("text"), 2))),
      "graft_token_count" -> (() => corpus.select(col("id"), TA.tokenCount(col("text")))),
      "graft_count_literal" -> (() => corpus.select(col("id"), TA.langId(col("text")),
        TA.countOccurrences(col("text"), "the"))),
      "graft_ascii_letters" -> (() => corpus.select(col("id"), TA.alphaRatio(col("text")))),
      "graft_minhash_signature" -> (() => corpus.select(col("id"),
        GraftColumnShim.minhashSignatureColumn(col("text"), 2, 5))),
      "graft_pq_codes" -> (() => vecs.select(col("id"),
        GraftColumnShim.pqCodesColumn(col("v"), books))),
      "graft_hex_votes16" -> (() => corpus.select(col("id"),
        GraftColumnShim.hexVotes16Column(md5(col("text"))))),
      "graft_bpe_merges" -> (() => words.select(col("w"),
        GraftColumnShim.bpeMergesColumn(col("syms"), mergeList))),
      "graft_bpe_count" -> (() => corpus.select(col("id"),
        GraftColumnShim.bpeCountColumn(col("text"), mergeList))),
      "graft_utf32le_encode" -> (() => corpus.select(col("id"),
        call_function("graft_utf32le_encode", col("text")))),
      "graft_utf32be_decode" -> (() => corpus.select(col("id"),
        call_function("graft_utf32be_decode",
          call_function("graft_utf32be_encode", col("text"))))))
    cases.foreach { case (name, build) =>
      val Seq(interpreted, generated) = inFactoryModes { mode =>
        val df = build()
        val rows = df.collect().map(canonical).toSeq
        val plan = df.queryExecution.executedPlan.toString
        val line = plan.split("\n").find(_.contains(name))
        assert(line.isDefined, s"$name not in the plan:\n$plan")
        assert(line.get.contains("*(") == (mode == "CODEGEN_ONLY"), s"$name $mode:\n$plan")
        rows
      }
      assert(interpreted.nonEmpty && interpreted == generated, name)
    }
  }

  test("the gate, tokens and shingles plan no regex expression") {
    import org.apache.spark.sql.catalyst.expressions.{RLike, RegExpCount, RegExpExtractAll, RegExpReplace}
    val docs = spark.read.parquet(documentsSf001)
    val t = col("text")
    val gate = docs.select(col("doc_id"), TA.langId(t).as("lang"),
      TA.qualityScore(t).as("quality"), TA.tokenCount(t).as("n_tokens"))
    val plans = Seq(
      "gate projection" -> gate,
      "filtered gate" -> gate.filter(col("quality") >= 0.5),
      "tokens" -> docs.select(TA.tokens(t)),
      "shingleArray" -> docs.select(Dedup.shingleArray(t, 3)),
      "gopherQuality" -> TA.gopherQuality(docs, "doc_id", "text"))
    plans.foreach { case (name, df) =>
      val plan = df.queryExecution.optimizedPlan
      val regex = plan.collect { case p => p.expressions }.flatten.flatMap(_.collect {
        case e @ (_: RegExpCount | _: RegExpExtractAll | _: RegExpReplace | _: RLike) => e
      })
      assert(regex.isEmpty, s"$name plans a regex:\n$plan")
    }
  }
}
