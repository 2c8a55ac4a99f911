package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.GraftColumnShim.nativeColumn
import org.apache.spark.sql.internal.SQLConf
import graft.core.Ckpt
import graft.core.Ckpt.CkptOps
import graft.functions.{AsciiLetterCountExpr, CountLiteralExpr, TokenCountExpr}

/** Text analysis for large-scale training-data pipelines, plus the
  * reference's charsequence scalar surface (charsequence.h §2.6) expressed
  * as pure column functions — everything here is codegen'd Catalyst
  * expressions, no UDFs, so it survives 100 TB scans.
  */
object TextAnalysis {

  private val lower = "abcdefghijklmnopqrstuvwxyz"
  private val upper = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"

  /** ASCII-only case mapping (charsequence.h:1120-1158: a-z/A-Z ±32 only,
    * non-ASCII untouched — full-Unicode upper()/lower() would diverge). */
  def asciiUpper(c: Column): Column = translate(c, lower, upper)

  /** Unicode normalization (NFC/NFD/NFKC/NFKD) via the native codegen'd
    * [[graft.functions.UnicodeNormalize]] expression — the text
    * canonicalization step before digest-keyed dedup (combining-mark vs
    * precomposed spellings of the same text must hash identically or
    * exact dedup under-merges). Requires `GraftFunctions.register` (or
    * the GraftExtensions SQL extension) on the session. */
  def normalizeUnicode(c: Column, form: String = "NFC"): Column = {
    require(Set("NFC", "NFD", "NFKC", "NFKD")(form.toUpperCase),
      s"unknown normalization form: $form")
    call_function(s"graft_${form.toLowerCase}", c)
  }

  /** Non-overlapping occurrence count (charsequence.h:1078-1103): the
    * reference's count loop over the text's bytes, left to right and
    * resuming after each match, in one native expression
    * ([[graft.functions.CountLiteralExpr]]) with no regex and no decoded
    * copy of the text. Null text → null. */
  def countOccurrences(c: Column, target: String): Column = {
    // empty target would match at every position (length+1) — not a
    // count anyone wants; reject early (r19 ADVICE)
    require(target.nonEmpty, "countOccurrences: target must be non-empty")
    nativeColumn(c)(CountLiteralExpr(_, target, pad = false))
  }

  /** Occurrences of the word `w` delimited by single spaces, counting
    * the text's ends as spaces: `countOccurrences(" " + c + " ", " w ")`
    * without the concatenated copy. */
  private def wordHits(c: Column, w: String): Column =
    nativeColumn(c)(CountLiteralExpr(_, s" $w ", pad = true))

  /** The ASCII whitespace set, written out explicitly because the
    * engines' `\s` classes disagree: Java's includes `\x0B`, RE2's
    * (DuckDB, Go) does not — and Java's `split` DROPS trailing empty
    * fields while DuckDB's `regexp_split_to_array` KEEPS them, so any
    * text ending in `\t`/`\n` diverges by one token under a split-based
    * count. Tokens are maximal NON-whitespace runs over this explicit
    * set, which is symmetric by construction: no `\s`, no split, no trim
    * dependency. The byte tokenizer behind [[tokens]]
    * ([[graft.functions.ExprHelpers.tokenSpans]]) and the oracle-side
    * `[^ \t\n\r\x0b\f]+` must name the same six bytes. */
  val asciiWs = " \\t\\n\\r\\x0B\\f"

  /** Canonical token array: the maximal runs of non-whitespace
    * ([[graft.functions.ExprHelpers.tokenSpans]]). Blank → empty array. */
  def tokens(c: Column): Column = Dedup.shingleArray(c, 1)

  /** Whitespace token count, without building the token array. Empty or
    * blank → 0; null → what `size(null)` gives (null, or -1 under
    * `spark.sql.legacy.sizeOfNull` with ANSI off). */
  def tokenCount(c: Column): Column =
    nativeColumn(c)(TokenCountExpr(_, SQLConf.get.legacySizeOfNull))

  /** BPE-ish token count: alpha runs, digit runs, single punctuation. */
  def tokenCountBpeish(c: Column): Column =
    size(regexp_extract_all(c,
      lit(s"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9$asciiWs]"), lit(0))).cast("long")

  /** Share of ASCII letters among the text's characters: one byte pass
    * ([[graft.functions.AsciiLetterCountExpr]]) over `length`. */
  def alphaRatio(c: Column): Column =
    nativeColumn(c)(AsciiLetterCountExpr(_)).cast("double") /
      greatest(length(c), lit(1)).cast("double")

  def stopwordRatio(c: Column): Column = {
    val stops = Seq("the", "a", "and", "of", "to", "in", "is")
    val hits = stops.map(wordHits(c, _)).reduce(_ + _)
    hits.cast("double") / greatest(tokenCount(c), lit(1L)).cast("double")
  }

  /** Composite quality score in [0,1]: length band + alpha ratio +
    * stopword presence — the standard cheap pre-filter for LLM corpora.
    * The 1e-9 nudge pushes exact round-half ties off the boundary, where
    * engines' rounding algorithms (BigDecimal-exact vs scale-multiply)
    * legitimately disagree by one ulp. */
  def qualityScore(c: Column): Column = {
    val lenScore = when(length(c) >= 200 && length(c) <= 5000, 1.0)
      .when(length(c) >= 50, 0.5).otherwise(0.0)
    val alpha = alphaRatio(c)
    val stop = least(stopwordRatio(c) * 5.0, lit(1.0))
    round((lenScore + alpha + stop) / 3.0 + 1e-9, 4)
  }

  /** N-gram-free language-ID heuristic: marker-token hit counts per
    * language, argmax with fixed precedence (en,de,fr,es), 'und' when all
    * zero. Deterministic and SQL-mirrorable. */
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

  /** Vocabulary with document frequencies over a corpus: one narrow
    * explode + one aggregation; `idf = ln(N / doc_freq)`. The
    * top-of-funnel op for tokenizer training and tf-idf pipelines. */
  def vocabulary(df: org.apache.spark.sql.DataFrame, idCol: String,
                 textCol: String): org.apache.spark.sql.DataFrame = {
    val toks = df.select(col(idCol).as("id"),
      explode(tokens(col(textCol))).as("token"))
    val n = df.select(count(lit(1)).as("__n"))
    toks.groupBy(col("token"))
      .agg(count(lit(1)).as("occurrences"),
        countDistinct(col("id")).as("doc_freq"))
      .join(broadcast(n))
      .withColumn("idf", log(col("__n").cast("double") / col("doc_freq")))
      .drop("__n")
  }

  /** Within-document repetition ratio in [0,1): the fraction of
    * duplicated word n-grams, `1 - distinct/total` — the standard
    * repetition filter for LLM corpora (boilerplate, keyword stuffing,
    * degenerate generation loops). Rides [[Dedup.shingleArray]], so the
    * whole thing is ONE codegen'd projection per row: no explode, no
    * shuffle, linear in text size. Documents shorter than one n-gram
    * score 0. */
  def repetitionRatio(c: Column, n: Int = 3): Column = {
    val sh = Dedup.shingleArray(c, n)
    when(size(sh) <= 0, lit(0.0))
      .otherwise(lit(1.0) -
        size(array_distinct(sh)).cast("double") / size(sh).cast("double"))
  }

  /** Gopher-style rule-based quality filter (Rae et al. 2021 §A1.1, the
    * standard pre-filter battery of LLM curation pipelines), restricted
    * to the deterministic SQL-mirrorable subset: word count band, mean
    * word length band, alphabetic-word fraction, and minimum stopword
    * hits. Every metric is ONE codegen'd map-side projection over the
    * token array — no explode, no shuffle, linear in text size: at
    * 100 TB this is a pure scan the optimizer can fuse with whatever
    * runs next (the `pass` bit prunes the corpus before anything
    * heavier). Empty docs report 0 metrics and fail.
    *
    * Returns (id, n_words, mean_word_len, frac_alpha_words, n_stopword
    * _hits, pass). */
  def gopherQuality(df: org.apache.spark.sql.DataFrame, idCol: String,
                    textCol: String, minWords: Long = 50,
                    maxWords: Long = 100000, minMeanLen: Double = 3.0,
                    maxMeanLen: Double = 10.0, minAlphaFrac: Double = 0.8,
                    minStopHits: Long = 2): org.apache.spark.sql.DataFrame = {
    val stops = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    val toks = tokens(col(textCol))
    val nWords = size(toks).cast("long")
    val meanLen = when(nWords === 0, lit(0.0)).otherwise(
      aggregate(transform(toks, t => length(t).cast("long")), lit(0L),
        (acc, x) => acc + x).cast("double") / nWords.cast("double"))
    val alphaFrac = when(nWords === 0, lit(0.0)).otherwise(
      size(filter(toks, t => nativeColumn(t)(AsciiLetterCountExpr(_)) > 0)).cast("double") /
        nWords.cast("double"))
    val stopHits = size(filter(toks, t => t.isin(stops: _*))).cast("long")
    df.select(col(idCol).as("id"),
      nWords.as("n_words"),
      (round(meanLen + lit(1e-9), 4) + lit(0.0)).as("mean_word_len"),
      (round(alphaFrac + lit(1e-9), 4) + lit(0.0)).as("frac_alpha_words"),
      stopHits.as("n_stopword_hits"),
      (nWords >= minWords && nWords <= maxWords &&
        meanLen >= minMeanLen && meanLen <= maxMeanLen &&
        alphaFrac > minAlphaFrac && stopHits >= minStopHits).as("pass"))
  }

  /** TF-IDF relevance against a fixed query-term set — the linear
    * retrieval scorer beside [[bm25]] (smooth sklearn idf:
    * `ln((N+1)/(df+1)) + 1`), and the classic feature map for the
    * quality classifiers. Identical 100 TB shape as bm25: per-term tf is
    * a MAP-SIDE token-array fold on the single corpus scan, the corpus
    * statistics (N, per-term df) reduce to ONE row broadcast back via
    * crossJoin, the corpus itself never shuffles. Returns
    * (id, n_query_hits, score); empty docs score 0. */
  def tfidf(docs: org.apache.spark.sql.DataFrame, idCol: String,
            textCol: String, terms: Seq[String]): org.apache.spark.sql.DataFrame = {
    val base = termFreqs(docs, col(idCol), col(textCol), terms)
    base.crossJoin(broadcast(termStats(base, terms.size)))
      .select(col("id"), queryHits(terms.size).as("n_query_hits"),
        tfidfScore(terms.size, col("nn"), i => col(s"df$i")).as("score"))
  }

  /** The map-side projection of the query-term scorers [[bm25]] and
    * [[tfidf]]: `id`, the token count `dl` and one `tf$i` per query term,
    * folded from the token array (the terms are literals: no explode, no
    * per-token rows). `terms` must be non-empty and duplicate-free. */
  private[graft] def termFreqs(docs: org.apache.spark.sql.DataFrame, id: Column,
                               text: Column, terms: Seq[String]): org.apache.spark.sql.DataFrame = {
    require(terms.nonEmpty, "need at least one query term")
    require(terms.distinct.size == terms.size, "query terms must be unique")
    val toks = tokens(text)
    val tfCols = terms.zipWithIndex.map { case (t, i) =>
      size(filter(toks, x => x === lit(t))).cast("double").as(s"tf$i")
    }
    docs.select((id.as("id") +: size(toks).cast("double").as("dl") +: tfCols): _*)
  }

  /** The corpus statistics of a [[termFreqs]] frame, reduced to ONE row:
    * `nn` (doc count), `avgdl` and `df$i` per term. */
  private[graft] def termStats(base: org.apache.spark.sql.DataFrame,
                               nTerms: Int): org.apache.spark.sql.DataFrame = {
    val statAggs = count(lit(1)).cast("double").as("nn") +:
      avg(col("dl")).as("avgdl") +:
      (0 until nTerms).map(i =>
        sum(when(col(s"tf$i") > 0, 1.0).otherwise(0.0)).as(s"df$i"))
    base.agg(statAggs.head, statAggs.tail: _*)
  }

  /** Number of query terms a [[termFreqs]] row contains. */
  private[graft] def queryHits(nTerms: Int): Column =
    (0 until nTerms).map(i =>
      when(col(s"tf$i") > 0, 1L).otherwise(0L).cast("long")).reduce(_ + _)

  /** Smooth-idf TF-IDF of a [[termFreqs]] row against corpus statistics
    * given as columns: the batch operator's broadcast stats row, or
    * literals frozen by the streaming twin. */
  private[graft] def tfidfScore(nTerms: Int, nn: Column, df: Int => Column): Column =
    (0 until nTerms).map { i =>
      val idf = log((nn + lit(1.0)) / (df(i) + lit(1.0))) + lit(1.0)
      col(s"tf$i") * idf
    }.reduce(_ + _)

  /** BM25 of a [[termFreqs]] row against corpus statistics given as
    * columns (see [[tfidfScore]]); docs with no tokens score 0. */
  private[graft] def bm25Score(nTerms: Int, k1: Double, b: Double, nn: Column,
                               avgdl: Column, df: Int => Column): Column =
    (0 until nTerms).map { i =>
      val idf = log(lit(1.0) + (nn - df(i) + lit(0.5)) / (df(i) + lit(0.5)))
      val tf = col(s"tf$i")
      val denom = tf + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / avgdl)
      when(col("dl") > 0, idf * tf * lit(k1 + 1.0) / denom).otherwise(lit(0.0))
    }.reduce(_ + _)

  /** Zipf HEAD fit: least-squares regression of ln(freq) on ln(rank)
    * over the top-`k` vocabulary — the corpus-health diagnostic (natural
    * text fits alpha ≈ 1; TOO clean a fit flags template/boilerplate
    * corpora, a flat head flags shuffled or synthetic text). The head is
    * what Zipf's law describes, and restricting to it is also what makes
    * the operator scale-exact: ranking a FULL vocabulary needs a global
    * sort whose freq-1 tail is one giant unsplittable tie, while the
    * top-k by (freq desc, token asc) compiles to TakeOrderedAndProject —
    * per-partition top-k, driver merge of k rows, no full sort, no
    * data-sized window (the k-row rank window is bounded by k).
    *
    * Returns ONE row: (n_head, alpha, intercept, r2), alpha = −slope,
    * all rounded to 4. Degenerate corpora (fewer than 2 distinct
    * tokens) return alpha = 0, r2 = 0. */
  def zipfHeadFit(df: org.apache.spark.sql.DataFrame, idCol: String,
                  textCol: String, k: Int = 100): org.apache.spark.sql.DataFrame = {
    require(k >= 2, s"k must be at least 2, got $k")
    val head = df.select(explode(tokens(col(textCol))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("token").asc)
      .limit(k)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("freq").desc, col("token").asc) // ≤ k rows — bounded
    val pts = head.withColumn("rank", row_number().over(w))
      .select(log(col("rank").cast("double")).as("x"),
        log(col("freq").cast("double")).as("y"))
    // sums coalesced to 0.0: an EMPTY corpus yields null sums, which
    // would make dxx null — the when(dxx === 0) degenerate guard never
    // fires on null, and alpha/intercept/r2 come back null instead of
    // the documented 0s. With the coalesce, zero points → dxx = 0 → the
    // guards fire and the degenerate contract holds for empty input too.
    val s = pts.agg(count(lit(1)).cast("double").as("n"),
      coalesce(sum(col("x")), lit(0.0)).as("sx"),
      coalesce(sum(col("y")), lit(0.0)).as("sy"),
      coalesce(sum(col("x") * col("y")), lit(0.0)).as("sxy"),
      coalesce(sum(col("x") * col("x")), lit(0.0)).as("sxx"),
      coalesce(sum(col("y") * col("y")), lit(0.0)).as("syy"))
    val dxx = col("n") * col("sxx") - col("sx") * col("sx")
    val dyy = col("n") * col("syy") - col("sy") * col("sy")
    val dxy = col("n") * col("sxy") - col("sx") * col("sy")
    val slope = when(dxx === 0, lit(0.0)).otherwise(dxy / dxx)
    val r2 = when(dxx === 0 || dyy === 0, lit(0.0))
      .otherwise(dxy * dxy / (dxx * dyy))
    s.select(col("n").cast("long").as("n_head"),
      (round(negate(slope) + lit(1e-9), 4) + lit(0.0)).as("alpha"),
      (round(when(col("n") === 0, lit(0.0))
        .otherwise((col("sy") - slope * col("sx")) / col("n")) + lit(1e-9), 4)
        + lit(0.0)).as("intercept"),
      (round(r2 + lit(1e-9), 4) + lit(0.0)).as("r2"))
  }

  /** Within-document repetition-signal battery — the duplicate-n-gram
    * half of the Gopher/MassiveText filter set (Rae et al. 2021 §A1.1),
    * beside [[repetitionRatio]]: per doc, the occurrence count of the
    * most frequent 2-/3-gram (`top2_cnt`, `top3_cnt` — loops and
    * keyword stuffing spike these) and, for n = 2,3,4, the fraction of
    * characters covered by n-grams occurring ≥ 2× (`dupN_char_frac` =
    * Σ over distinct repeated n-grams of count·len(gram) / len(text) —
    * a pure sum, so no argmax tie-break enters the contract).
    *
    * Everything is computed IN-ROW over [[Dedup.shingleArray]] slices
    * (higher-order functions — O(k²) in the doc's token count, linear
    * across the corpus, no explode/shuffle/window): the 100 TB shape is
    * one map-side projection the optimizer fuses with the scan. */
  def repetitionSignals(df: org.apache.spark.sql.DataFrame, idCol: String,
                        textCol: String): org.apache.spark.sql.DataFrame = {
    def counts(n: Int): Column = {
      val sh = Dedup.shingleArray(col(textCol), n)
      transform(array_distinct(sh),
        x => struct(size(filter(sh, y => y === x)).cast("long").as("c"),
          length(x).cast("long").as("l")))
    }
    def topCnt(n: Int): Column = {
      val cs = counts(n)
      when(size(cs) === 0, lit(0L))
        .otherwise(array_max(transform(cs, s => s.getField("c"))))
    }
    def dupFrac(n: Int): Column = {
      val cs = counts(n)
      val dupChars = aggregate(
        filter(cs, s => s.getField("c") >= 2), lit(0L),
        (acc, s) => acc + s.getField("c") * s.getField("l"))
      round(dupChars.cast("double") /
        greatest(length(col(textCol)), lit(1)).cast("double") + lit(1e-9), 4) +
        lit(0.0)
    }
    df.select(col(idCol).as("id"),
      topCnt(2).as("top2_cnt"), topCnt(3).as("top3_cnt"),
      dupFrac(2).as("dup2_char_frac"), dupFrac(3).as("dup3_char_frac"),
      dupFrac(4).as("dup4_char_frac"))
  }

  /** PII patterns, deliberately restricted to the regex subset where
    * Java (Spark codegen) and RE2 (DuckDB, Go, many scrubbing services)
    * agree byte-for-byte: ASCII classes, bounded repetition, \b/\d in
    * their shared ASCII meaning — no backrefs, no lookaround. Order
    * matters when redacting: emails first (their local parts contain
    * digits), then phones, then IPs. */
  val emailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val phonePattern = "\\d{3}[-. ]\\d{3}[-. ]\\d{4}"
  val ipv4Pattern = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** PII redaction — the standard pre-training scrub (emails, phone
    * numbers, IPv4 addresses → typed placeholder tokens). Three chained
    * codegen'd `regexp_replace`s: map-side, no shuffle, linear in text
    * size — the shape that survives a 100 TB corpus scan. */
  def redactPii(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, emailPattern, "[EMAIL]"),
        phonePattern, "[PHONE]"),
      ipv4Pattern, "[IP]")

  /** Per-document PII hit counts (audit signal: how much was scrubbed). */
  def piiCounts(c: Column): Column = struct(
    size(regexp_extract_all(c, lit(emailPattern), lit(0))).cast("long").as("n_emails"),
    size(regexp_extract_all(c, lit(phonePattern), lit(0))).cast("long").as("n_phones"),
    size(regexp_extract_all(c, lit(ipv4Pattern), lit(0))).cast("long").as("n_ips"))

  /** SSN-like (ddd-dd-dddd) and payment-card-like (4×4 digit groups with
    * optional `-`/space separators, 13-16 digits) patterns — still the
    * Java/RE2-shared subset (ASCII classes, bounded reps, \b, \d). */
  val ssnPattern = "\\b\\d{3}-\\d{2}-\\d{4}\\b"
  val cardPattern = "\\b\\d{4}[- ]?\\d{4}[- ]?\\d{4}[- ]?\\d{1,4}\\b"

  /** Luhn checksum term sum over the candidate's digits, `j` counted
    * 1-based from the RIGHT; a digit is doubled (with digit-sum
    * correction 2d−9 when 2d>9) iff `j % 2 == doubledParity`. Detection
    * uses parity 0 (check digit at j=1 undoubled); fixture construction
    * over a 15-digit prefix uses parity 1 (those digits sit one position
    * left of the final card). Pure column arithmetic — mirrors
    * identically in any SQL engine. */
  def luhnSum(digits: Column, doubledParity: Int): Column =
    aggregate(sequence(lit(1), length(digits)), lit(0), (acc, j) => {
      val d = digits.substr(length(digits) - j + 1, lit(1)).cast("int")
      acc + when(j % 2 === doubledParity, d * 2 - when(d > 4, 9).otherwise(0))
        .otherwise(d)
    })

  /** True iff the candidate's digits (separators stripped) are 13-16
    * long and Luhn-check out — the standard false-positive gate real
    * scrubbing pipelines apply before redacting card-like numbers. */
  def luhnValid(candidate: Column): Column = {
    val digits = regexp_replace(candidate, "[^0-9]", "")
    length(digits).between(13, 16) && luhnSum(digits, 0) % 10 === 0
  }

  /** Replace only the LUHN-VALID card-like matches with `[CARD]`: the
    * candidates come from one regex pass, the validity gate is computed
    * per candidate, and the surviving literals fold over the text with
    * exact-string `replace` — random 16-digit ids that fail the checksum
    * are left untouched (the behavior that separates a PII scrub from a
    * digit shredder). */
  def redactValidCards(c: Column): Column = {
    val valid = filter(regexp_extract_all(c, lit(cardPattern), lit(0)),
      m => luhnValid(m))
    aggregate(valid, c, (acc, m) => replace(acc, m, lit("[CARD]")))
  }

  /** Full-depth PII scrub: Luhn-gated cards first (so later digit
    * patterns can never eat half a card number), then SSNs, then the
    * email → phone → IP chain of [[redactPii]]. */
  def redactPiiDeep(c: Column): Column =
    redactPii(regexp_replace(redactValidCards(c), ssnPattern, "[SSN]"))

  /** Split each document into consecutive ≤`size`-token chunks — the
    * pre-tokenization sharding step before sequence packing. One output
    * row per (doc, chunk) with the chunk's text and token count;
    * map-side only (explode + array slice, no shuffle). Blank documents
    * produce no chunks. */
  def chunkByTokens(df: org.apache.spark.sql.DataFrame, idCol: String,
                    textCol: String, size: Int): org.apache.spark.sql.DataFrame = {
    require(size > 0)
    val toks = tokens(col(textCol))
    val n = tokenCount(col(textCol))
    val chunkIds = when(n === 0, array().cast("array<long>"))
      .otherwise(sequence(lit(0L), ceil(n.cast("double") / size).cast("long") - 1))
    df.select(col(idCol).as("id"), toks.as("__toks"),
        explode(chunkIds).as("chunk"))
      .select(col("id"), col("chunk"),
        array_join(slice(col("__toks"), (col("chunk") * size + 1).cast("int"), lit(size)), " ")
          .as("chunk_text"),
        least(lit(size.toLong),
          (org.apache.spark.sql.functions.size(col("__toks")) - col("chunk") * size).cast("long"))
          .as("n_chunk_tokens"))
  }

  /** Greedy contiguous sequence packing: assign chunks — consecutive in
    * (doc, chunk) order — to fixed token-budget bins by EXCLUSIVE running
    * total, i.e. the concat-then-split packing used before tokenization.
    * A chunk that straddles a budget boundary belongs to the bin its
    * first token falls in (real packers then split at the boundary).
    * Rides [[Windows.runningTotal]], so the global cumulative sum is
    * distributed (bucketed prefix sums), never a single-partition
    * window. Adds (cum_tokens, bin). */
  def packChunks(chunks: org.apache.spark.sql.DataFrame, idCol: String,
                 chunkCol: String, nTokensCol: String,
                 budget: Long): org.apache.spark.sql.DataFrame = {
    require(budget > 0)
    Windows.runningTotal(chunks, col(idCol),
      Seq(col(idCol).asc, col(chunkCol).asc), col(nTokensCol), "cum_tokens")
      .withColumn("bin",
        floor((col("cum_tokens") - col(nTokensCol)).cast("double") / budget)
          .cast("long"))
  }

  /** Corpus bigram (adjacent-token-pair) counts — the unit statistic a
    * BPE-style tokenizer trainer maximizes over. Rides the in-row
    * 2-shingle array: one explode + one aggregation, map-side partial
    * counts shrink the shuffle to distinct pairs per partition. */
  def bigramCounts(df: org.apache.spark.sql.DataFrame,
                   textCol: String): org.apache.spark.sql.DataFrame =
    df.select(explode(Dedup.shingleArray(col(textCol), 2)).as("bigram"))
      .groupBy(col("bigram"))
      .agg(count(lit(1)).as("n"))

  /** CCNet-style n-gram LM quality scoring: per-document cross-entropy
    * under an add-one-smoothed bigram model counted from `train` —
    * the classic "wiki-side perplexity" curation signal (low = fluent,
    * high = gibberish/boilerplate). P(w2|w1) = (c(w1 w2)+1)/(c(w1·)+V);
    * score = −mean ln P over the doc's bigram multiset (0.0 for docs
    * shorter than one bigram, with n_bigrams = 0).
    *
    * Every count is exact integer arithmetic on the same tokenization as
    * [[bigramCounts]]/[[Dedup.shingleArray]], so any engine reproduces
    * the model bit-for-bit; only the final ln/mean is floating.
    *
    * Scale shape: the model is two hash aggregates (bigram counts;
    * leading-token counts derived MODEL-side — one row per distinct
    * bigram, so the w1 re-aggregation fans out by distinct successors,
    * never by corpus occurrences). Docs join the denormalized
    * (bigram → c2, c1) model once, 1:1 per doc-bigram occurrence — no
    * fanout — then one per-doc aggregate. The doc↔model join key is
    * Zipf-skewed ("of the" is everywhere): AQE's skew-join split
    * handles the oversized partitions, and for extreme corpora the
    * Zipf HEAD of the model (top-M bigrams carry most matches) can be
    * broadcast ahead of the shuffle join — the vocab scalar here rides
    * exactly that pattern (a 1-row broadcast). No windows anywhere. */
  def lmCrossEntropy(train: org.apache.spark.sql.DataFrame,
                     docs: org.apache.spark.sql.DataFrame,
                     idCol: String, textCol: String): org.apache.spark.sql.DataFrame = {
    val c2 = bigramCounts(train, textCol)
    val c1 = c2.groupBy(substring_index(col("bigram"), " ", 1).as("__w1"))
      .agg(sum(col("n")).as("c1"))
    val model = c2.select(col("bigram"), col("n").as("c2"))
    val vocab = train.select(explode(tokens(col(textCol))).as("tok"))
      .agg(countDistinct(col("tok")).as("v"))
    val db = docs.select(col(idCol).as("id"),
      explode(Dedup.shingleArray(col(textCol), 2)).as("bigram"))
      .withColumn("__w1", substring_index(col("bigram"), " ", 1))
    // c1 joins on the DOC bigram's first token, independently of whether
    // the bigram itself is in the model: a doc bigram "a c" unseen in
    // train must score (0+1)/(c1(a)+V), not (0+1)/(0+V) — carrying c1
    // only on matched model rows breaks P(.|w1) normalization and
    // diverges from streamingLmScore's independent m1 lookup
    val scored = db.join(model, Seq("bigram"), "left")
      .join(c1, Seq("__w1"), "left")
      .crossJoin(broadcast(vocab))
      .select(col("id"),
        negate(log((coalesce(col("c2"), lit(0L)) + lit(1.0)) /
          (coalesce(col("c1"), lit(0L)) + col("v")))).as("nll"))
    val perDoc = scored.groupBy(col("id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("nll")).as("__sum_nll"))
    docs.select(col(idCol).as("id")).join(perDoc, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        when(coalesce(col("n_bigrams"), lit(0L)) === 0L, lit(0.0))
          .otherwise(col("__sum_nll") / col("n_bigrams")).as("cross_entropy"))
  }

  /** Exact top-`h` most frequent keys WITHOUT a vocabulary-wide shuffle —
    * the heavy-hitters curation primitive (dominant tokens, domains,
    * boilerplate lines) at corpus scale, where a plain
    * `groupBy(key).count.orderBy` shuffles every distinct key:
    *
    *  1. one pass of the [[graft.functions.MisraGries]] bounded sketch
    *     (O(k) state per task, merged associatively) surfaces every key
    *     whose true count CAN exceed n/(k+1) — at most k candidates;
    *  2. the candidates are exact-counted with a literal-IN filtered
    *     aggregate (the corpus sheds every non-candidate row map-side),
    *     ranked (count desc, key asc) and cut to h.
    *
    * The result is provably exact whenever the h-th true count exceeds
    * n/(k+1); `hh_guaranteed` reports that check from the data itself
    * (true ⇒ the rows ARE the exact top-h; false ⇒ the tail of the list
    * may be missing a key — raise k). The rank window runs over the ≤k
    * exact-counted candidates, the same bounded-frame exception as
    * IndexOps' offset windows — never over the corpus. Returns
    * (rank, key, n_key, hh_guaranteed). */
  def heavyHitters(df: org.apache.spark.sql.DataFrame, keyCol: Column,
                   h: Int, k: Int): org.apache.spark.sql.DataFrame = {
    require(h > 0 && k >= h, s"need k >= h > 0, got h=$h k=$k")
    val mg = udaf(new graft.functions.MisraGries(k))
    val keys = df.select(keyCol.cast("string").as("key"))
      .filter(col("key").isNotNull)
    val sketchRow = keys.agg(mg(col("key")).as("buf"),
      count(lit(1)).as("n")).head()
    val n = sketchRow.getLong(1)
    val cand = sketchRow.getStruct(0).getMap[String, Long](0).keys.toSeq
    if (cand.isEmpty) return df.sparkSession.emptyDataFrame
      .select(lit(0L).as("rank"), lit("").as("key"), lit(0L).as("n_key"),
        lit(false).as("hh_guaranteed")).limit(0)
    val exact = keys.filter(col("key").isin(cand: _*))
      .groupBy(col("key")).agg(count(lit(1)).as("n_key"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("n_key").desc, col("key").asc)
    // lazy checkpoint (≤h rows): the first consumer action materializes
    // it, so the exact-recount scan+shuffle runs ONCE and later actions
    // reuse the blocks (reaped by the ContextCleaner with the frame, the
    // cand/sh memo convention)
    val ranked = exact
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= h)
      .ckpt(false)
    // exactness needs BOTH: every returned count clears the MG survival
    // threshold n/(k+1) AND the list actually has h rows (every
    // candidate occurs, so #rows = min(h, #candidates)) — with fewer
    // candidates than h the tail ranks are unproven even when the floor
    // clears, since non-candidates may hold any count ≤ n/(k+1).
    // (Conservative when the corpus has < h distinct keys: proving THAT
    // would cost the vocabulary-wide distinct count this operator
    // exists to avoid — raise k or fall back to a plain groupBy there.)
    // The floor is a broadcast 1-row join over the ≤h-row checkpoint —
    // r19 ran it as a separate driver head() job per call; as a column
    // the whole operator is ONE consumer job after the sketch (r20,
    // guide §1.2 fewer passes). n and cand.size are driver scalars from
    // the sketch row, so the threshold comparison stays exact.
    val floor = ranked.agg(min(col("n_key")).as("__floor"))
    ranked.join(broadcast(floor))
      .select(col("rank"), col("key"), col("n_key"),
        (col("__floor").isNotNull &&
          col("__floor").cast("double") > lit(n.toDouble / (k + 1)) &&
          lit(cand.size >= h)).as("hh_guaranteed"))
  }

  /** Document fingerprint: content hash plus a prefix-shingle hash (a
    * cheap stand-in for rolling-hash sketches; md5 matches every engine). */
  def fingerprint(c: Column): Column = md5(c)
  def prefixShingleFingerprint(c: Column, nTokens: Int = 8): Column =
    md5(array_join(slice(tokens(c), 1, nTokens), " "))

  /** BM25 relevance of every document against a fixed query-term set —
    * the retrieval-style data-selection primitive ("keep docs that look
    * like the target distribution" seeds curation by scoring the corpus
    * against exemplar queries).
    *
    *   score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
    *   idf(t)   = ln(1 + (N − df + 0.5)/(df + 0.5))      (Lucene form)
    *
    * 100 TB shape: per-term tf and dl are MAP-SIDE token-array folds on
    * the single corpus scan (one codegen'd projection — the query terms
    * are literals, no explode, no per-token rows); the corpus statistics
    * (N, avgdl, per-term df) reduce to ONE row, broadcast back via
    * crossJoin — the same 1-row-frame pattern as lmCrossEntropy's vocab
    * scalar. Zero shuffles of the corpus itself; no windows.
    *
    * Returns (id, n_query_hits, score) for every doc — empty docs score
    * 0. `terms` must be non-empty and duplicate-free. */
  def bm25(docs: org.apache.spark.sql.DataFrame, idCol: String,
           textCol: String, terms: Seq[String], k1: Double = 1.2,
           b: Double = 0.75): org.apache.spark.sql.DataFrame = {
    // one map-side projection (dl + a tf column per literal query term);
    // the corpus stats reduce to ONE row: N, avgdl, df per term
    val base = termFreqs(docs, col(idCol), col(textCol), terms)
    base.crossJoin(broadcast(termStats(base, terms.size)))
      .select(col("id"), queryHits(terms.size).as("n_query_hits"),
        bm25Score(terms.size, k1, b, col("nn"), col("avgdl"), i => col(s"df$i"))
          .as("score"))
  }

  /** Greedy left-to-right adjacent merge of (a, b) → ab inside a symbol
    * array — one `aggregate` HOF fold, map-side. The carry holds a
    * pending `a` that may merge with a following `b`; with a == b the
    * classic BPE greedy behavior falls out ("a a a" → ["aa", "a"]). */
  private[operators] def mergeAdjacent(syms: Column, a: String, b: String): Column = {
    val empty = array().cast("array<string>")
    val noCarry = lit(null).cast("string")
    aggregate(syms,
      struct(empty.as("out"), noCarry.as("carry")),
      (acc, x) => {
        val out = acc.getField("out"); val carry = acc.getField("carry")
        when(carry.isNull,
          when(x === lit(a), struct(out.as("out"), x.as("carry")))
            .otherwise(struct(concat(out, array(x)).as("out"), noCarry.as("carry"))))
          .otherwise( // carry is always the pending `a`
            when(x === lit(b),
              struct(concat(out, array(lit(a + b))).as("out"), noCarry.as("carry")))
              .when(x === lit(a),
                struct(concat(out, array(carry)).as("out"), x.as("carry")))
              .otherwise(struct(concat(out, array(carry, x)).as("out"),
                noCarry.as("carry"))))
      },
      acc => when(acc.getField("carry").isNull, acc.getField("out"))
        .otherwise(concat(acc.getField("out"), array(acc.getField("carry")))))
  }

  /** BPE merge training (Sennrich-style, no end-of-word marker — merges
    * stay word-internal) — the tokenizer-training step of an LLM data
    * pipeline, distributed the way the classic algorithm is actually
    * cheap: train on the WORD-FREQUENCY DICTIONARY, not the corpus. The
    * corpus is scanned ONCE (one groupBy to the vocab-sized (word,
    * freq) frame); every subsequent round touches only that frame:
    *
    *   1. adjacent symbol pairs weighted by word freq — a map-side
    *      zip_with + explode, partial-aggregated groupBy(pair);
    *   2. the argmax pair (count desc, pair asc — deterministic
    *      tie-break) — a 1-row driver collect;
    *   3. the merge applied map-side to every word's symbols
    *      ([[mergeAdjacent]]), then localCheckpoint-ed so round r+1
    *      plans one pass, not r.
    *
    * Per-round driver traffic is ONE pair; per round AQE runs two
    * Spark jobs, the pair aggregation's exchange (which also
    * materializes the round's vocab checkpoint) and the top-1 result,
    * after one job for the word count: six merges are 13 jobs (pinned
    * in RoundLoopsSpec). At 100 TB the corpus cost is the single word
    * count (and real trainers subsample even that). Stops early when no
    * pair repeats.
    *
    * Returns (merges, vocabSyms): merges = (rank, left, right, pair,
    * count) in merge order; vocabSyms = (word, freq, syms) after all
    * merges — the trained segmentation of every word. */
  def bpeTrain(docs: org.apache.spark.sql.DataFrame, textCol: String,
               nMerges: Int): (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val own = new Ckpt.Owner
    val (merges, vocab) = bpeTrainLoop(own, docs, textCol, nMerges)
    // materialize the trained segmentation eagerly, then free the last
    // rounds' blocks it was computed from
    (merges, own.output(vocab))
  }

  /** [[bpeTrain]] when the caller wants the MERGE LIST only (the encode
    * path of q88/q92-class pipelines, which re-segments through
    * [[bpeEncode]] anyway): skips materializing the trained vocab frame
    * — one fewer vocab-sized job per call — and frees every
    * intermediate round's blocks before returning. */
  def bpeTrainMerges(docs: org.apache.spark.sql.DataFrame, textCol: String,
                     nMerges: Int): org.apache.spark.sql.DataFrame = {
    val own = new Ckpt.Owner
    val (merges, _) = bpeTrainLoop(own, docs, textCol, nMerges)
    own.close()
    merges
  }

  /** The shared merge loop: per round ONE best-pair query (two AQE
    * jobs, see [[bpeTrain]]) and no materialization of its own — the
    * merged vocab is a LAZY localCheckpoint whose blocks materialize
    * inside the NEXT round's best-pair aggregation (the eager-checkpoint
    * form paid a separate vocab materialization job per round; at small
    * vocab sizes those jobs were pure scheduling overhead — before/after
    * in OPTIMIZATION_r19.md). A superseded round's blocks can only be
    * freed AFTER the round that reads them has materialized its own
    * checkpoint (lazy-checkpoint lineage is truncated — recompute after
    * unpersist is impossible), so `own` frees each one after the next
    * round's aggregation. Returns (merges DF, final vocab [LAZY — its
    * blocks and the previous round's still live in `own`]). */
  private def bpeTrainLoop(own: Ckpt.Owner, docs: org.apache.spark.sql.DataFrame,
                           textCol: String, nMerges: Int): (org.apache.spark.sql.DataFrame,
                                                            org.apache.spark.sql.DataFrame) = {
    require(nMerges >= 0, "nMerges must be non-negative")
    val spark = docs.sparkSession
    import spark.implicits._
    val words = docs.select(explode(tokens(col(textCol))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
    // split("") keeps a trailing empty field under Spark's limit=-1
    // convention — drop empties so symbols are exactly the characters
    val init = own(words.select(col("word"), col("freq"),
        filter(split(col("word"), ""), x => x =!= "").as("syms"))
      .ckpt(false))
    val ((vocab, merges), _, _) = Ckpt.rounds(
        (init, Vector.empty[(Long, String, String, String, Long)]), nMerges) { (st, round) =>
      val (vocab, merges) = st
      val n1 = greatest(size(col("syms")) - 1, lit(0))
      // this query materializes `vocab`: the round BEFORE it is freed
      // once it has run (nothing unmaterialized depends on its blocks)
      val best = own.after(vocab.select(col("freq"),
          explode(zip_with(slice(col("syms"), lit(1), n1),
            slice(col("syms"), lit(2), n1),
            (x, y) => concat_ws(" ", x, y))).as("pair"))
        .groupBy(col("pair")).agg(sum(col("freq")).as("n"))
        .orderBy(col("n").desc, col("pair").asc)
        .limit(1).collect())
      if (best.isEmpty || best(0).getLong(1) < 2) (st, true)
      else {
        val parts = best(0).getString(0).split(' ')
        val a: String = parts(0); val b: String = parts(1)
        own.retire(vocab)
        // native single-merge pass (same carry semantics as the
        // interpreted mergeAdjacent fold — see bpeSegment)
        val merged = own(vocab.select(col("word"), col("freq"),
            org.apache.spark.sql.GraftColumnShim.bpeMergesColumn(
              col("syms"), Array((a, b))).as("syms"))
          .ckpt(false))
        ((merged, merges :+ ((round + 1L, a, b, a + b, best(0).getLong(1)))), false)
      }
    }
    (merges.toDF("rank", "left", "right", "pair", "count"), vocab)
  }

  /** Apply a trained BPE merge list (rank order) to segment each word of
    * a word-per-row frame — the ENCODE side of [[bpeTrain]], for any
    * word set including OOV words the trainer never saw. The WHOLE merge
    * list runs as ONE native expression
    * ([[graft.functions.BpeMergesExpr]]): per word, one tight loop per
    * merge with the same greedy left-to-right non-overlapping carry
    * semantics the trainer applied (so encoding the training corpus
    * reproduces the trainer's own `vocabSyms` exactly — pinned against
    * the interpreted [[mergeAdjacent]] fold in ExpressionSpec). The r19
    * form was nMerges nested interpreted `aggregate` HOF passes plus a
    * checkpoint every 8 merges to bound the expression tree; the native
    * expression is one plan node at any merge count, so neither the
    * passes nor the checkpoints remain (§4, before/after in
    * OPTIMIZATION_r20.md). A word's symbols are its characters as
    * `split(word, "")` gives them (code points on valid UTF-8), the
    * symbols [[bpeEncode]] counts. Adds `syms` (array&lt;string&gt;). */
  def bpeSegment(words: org.apache.spark.sql.DataFrame, wordCol: String,
                 merges: Seq[(String, String)]): org.apache.spark.sql.DataFrame =
    words.withColumn("syms", org.apache.spark.sql.GraftColumnShim.bpeMergesColumn(
      filter(split(col(wordCol), ""), x => x =!= ""), merges.toArray))

  /** BPE-encode a corpus against a trained merge list and report per-doc
    * token counts — the tokenizer-application step of an LLM data
    * pipeline (token budgeting, sequence packing, cost estimation all
    * start from exactly this number). One projection over `docs`, with
    * no shuffle, aggregate or join: the native
    * [[graft.functions.BpeCountExpr]] walks each text's tokens
    * ([[tokens]]), splits every word into the symbols [[bpeSegment]]
    * gives it, applies the merge list in rank order, and sums the
    * symbol counts. A per-task memo of word → symbol count merges each
    * distinct word once per task, so merge work stays O(vocab · nMerges)
    * per task, not O(corpus tokens · nMerges); Zipf-hot words are memo
    * hits, never a partition pin. Returns (idCol, n_words,
    * n_bpe_tokens), one row per input row, in input order.
    *
    * Contract: null or token-less text gives (0, 0). Each row is counted
    * on its own text, so `idCol` is a key (as for [[Dedup.jaccard]]):
    * rows that share an id each keep their own counts, and a null id
    * gets its text's counts. */
  def bpeEncode(docs: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
                merges: Seq[(String, String)]): org.apache.spark.sql.DataFrame =
    // two projections: the struct is computed once, then read per field
    docs.select(col(idCol),
        org.apache.spark.sql.GraftColumnShim.bpeCountColumn(col(textCol), merges.toArray)
          .as("__bpe"))
      .select(col(idCol), col("__bpe.n_words").as("n_words"),
        col("__bpe.n_bpe_tokens").as("n_bpe_tokens"))
}
