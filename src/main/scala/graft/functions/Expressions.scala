package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, DoubleType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the charsequence surface that Spark's
  * built-ins cannot express (SURVEY.md §2.6):
  *
  *   - [[CodePointsExpr]] — string → array<int> of Unicode code points
  *     (the reference's `Charsequence.getPoints`, charsequence.h:1264-1281)
  *     with real `doGenCode`, so it stays inside whole-stage codegen
  *     (unlike a `transform(sequence…)` lambda, which is interpreted);
  *   - [[Utf32Encode]] / [[Utf32Decode]] — the utf32le/be charsets
  *     (charsequence.h:21-32, 214-263, 428-495) missing from Spark's
  *     encode/decode; strict validation with U+FFFD replacement exactly
  *     like the reference (invalid scalar → U+FFFD on encode; bad length /
  *     out-of-range / surrogate word → U+FFFD on decode).
  */
case class CodePointsExpr(child: Expression)
  extends UnaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_code_points"

  override def nullSafeEval(input: Any): Any =
    new GenericArrayData(input.asInstanceOf[UTF8String].toString.codePoints().toArray)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |int[] ${ev.value}_cps = $c.toString().codePoints().toArray();
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(${ev.value}_cps);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): CodePointsExpr =
    copy(child = newChild)
}

/** Dot product of two array<double|float> columns with real `doGenCode` —
  * the hot loop of every similarity/ANN operator. `zip_with` + `aggregate`
  * express the same thing but higher-order-function lambdas run
  * INTERPRETED (one closure call + boxing per element); this native loop
  * reads packed ArrayData inside whole-stage codegen. Float elements are
  * widened per element (float→double is exact), so callers can dot raw
  * float embeddings against double literals WITHOUT the array-copying
  * `cast(array<double>)` projection. Accumulation is ascending-index
  * double either way — bit-identical to the cast-then-fold form. Lengths
  * may differ (shorter wins) — callers pass equal-dim vectors. */
case class DotProductExpr(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  /** Only array<float>/array<double> inputs make sense — anything else
    * would read garbage through getDouble. Checked at ANALYSIS time, not
    * discovered inside codegen. NULL ELEMENTS count as 0.0 (additive
    * identity — a null dimension contributes nothing), checked only when
    * the array type admits nulls so nullless columns keep the tight
    * loop. */
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(org.apache.spark.sql.types.FloatType | DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two array<float>/array<double> arguments, " +
          s"got ${left.dataType.catalogString} and ${right.dataType.catalogString}")
  }

  private def isFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(org.apache.spark.sql.types.FloatType, _) => true
    case _ => false
  }

  private def mayHaveNulls(e: Expression): Boolean = e.dataType match {
    case ArrayType(_, n) => n
    case _ => true
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val y = b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val xf = isFloat(left); val yf = isFloat(right)
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      val xv =
        if (x.isNullAt(i)) 0.0
        else if (xf) x.getFloat(i).toDouble else x.getDouble(i)
      val yv =
        if (y.isNullAt(i)) 0.0
        else if (yf) y.getFloat(i).toDouble else y.getDouble(i)
      s += xv * yv
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val i = ctx.freshName("i")
      def get(arr: String, idx: String, e: Expression) = {
        val raw =
          if (isFloat(e)) s"(double) $arr.getFloat($idx)" else s"$arr.getDouble($idx)"
        if (mayHaveNulls(e)) s"($arr.isNullAt($idx) ? 0.0 : $raw)" else raw
      }
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += ${get(a, i, left)} * ${get(b, i, right)};
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): DotProductExpr =
    copy(left = newLeft, right = newRight)
}

/** PQ code assignment against a LITERAL codebook as ONE native
  * expression — code_j = argmin_t of (−2·x_sub·c_{j,t} + |c_{j,t}|²),
  * ties to the smaller centroid id. Replaces the m·ksub-node
  * `least(struct(dot(slice…)))` forest the r19 profiling caught running
  * ~95 µs/row: outside whole-stage codegen (e.g. feeding an
  * ObjectHashAggregate ranker) that forest's one-shot projection
  * compiles to a method too large to JIT and executes as cold bytecode,
  * while this tight reference-array loop stays small in any stage —
  * and shrinks the plan from hundreds of literal nodes to one.
  *
  * Bit-compatibility with the expression form it replaces
  * ([[graft.operators.Similarity.pqCodesExpr]]'s r18 shape): ascending-
  * index double accumulation per subvector (float elements widened
  * per element — exact), d = −2·s + |c|² with the squared norm
  * PRECOMPUTED driver-side from the same doubles, null elements read
  * as 0.0 (the [[DotProductExpr]] convention), short vectors truncate
  * each subvector like `slice` (missing dims contribute nothing), and
  * the argmin keeps the earlier centroid on `Double.compare` ties —
  * exactly `least`'s (d asc, cid asc) struct order (d is never −0.0:
  * it always ends in `+ |c|²`, and −0.0 + (+0.0) = +0.0).
  * `books(sub)(centroid)(localDim)`. The codebook is constructor data
  * and MUST NOT be mutated after construction (sqNorms derives lazily
  * from the same reference); case-class equality on it is reference-
  * based — conservative (missed subexpression elimination / plan-cache
  * reuse), never incorrect. */
case class PqCodesExpr(child: Expression, books: Array[Array[Array[Double]]])
  extends UnaryExpression {

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)
  override def prettyName: String = "graft_pq_codes"

  @transient private lazy val m = books.length
  @transient private lazy val ksub = books(0).length
  @transient private lazy val dsub = books(0)(0).length
  @transient private lazy val sqNorms: Array[Array[Double]] =
    books.map(_.map(cv => { var s = 0.0; var i = 0
      while (i < cv.length) { s += cv(i) * cv(i); i += 1 }; s }))

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(org.apache.spark.sql.types.FloatType | DoubleType, _)
        if books.nonEmpty && books.forall(b => b.nonEmpty &&
          b.forall(_.length == books(0)(0).length)) &&
          books.forall(_.length == books(0).length) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires an array<float>/array<double> argument and a " +
            s"rectangular non-empty codebook, got ${child.dataType.catalogString}")
    }

  private def isFloat: Boolean = child.dataType match {
    case ArrayType(org.apache.spark.sql.types.FloatType, _) => true
    case _ => false
  }
  private def mayHaveNulls: Boolean = child.dataType match {
    case ArrayType(_, n) => n
    case _ => true
  }

  override def nullSafeEval(input: Any): Any = {
    val vec = input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val n = vec.numElements()
    val fl = isFloat
    val codes = new Array[Long](m)
    var j = 0
    while (j < m) {
      val base = j * dsub
      var bestD = 0.0; var bestC = 0L; var first = true
      var t = 0
      while (t < ksub) {
        val cv = books(j)(t)
        var s = 0.0; var i = 0
        val lim = math.max(0, math.min(dsub, n - base))
        while (i < lim) {
          val x =
            if (mayHaveNulls && vec.isNullAt(base + i)) 0.0
            else if (fl) vec.getFloat(base + i).toDouble
            else vec.getDouble(base + i)
          s += x * cv(i); i += 1
        }
        val d = -2.0 * s + sqNorms(j)(t)
        if (first || java.lang.Double.compare(d, bestD) < 0) {
          bestD = d; bestC = t.toLong; first = false
        }
        t += 1
      }
      codes(j) = bestC
      j += 1
    }
    new GenericArrayData(codes)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val booksRef = ctx.addReferenceObj("pqBooks", books, "double[][][]")
    val normsRef = ctx.addReferenceObj("pqNorms", sqNorms, "double[][]")
    nullSafeCodeGen(ctx, ev, vec => {
      val codes = ctx.freshName("codes")
      val j = ctx.freshName("j"); val t = ctx.freshName("t")
      val i = ctx.freshName("i"); val s = ctx.freshName("s")
      val d = ctx.freshName("d"); val lim = ctx.freshName("lim")
      val base = ctx.freshName("base"); val cv = ctx.freshName("cv")
      val bestD = ctx.freshName("bestD"); val bestC = ctx.freshName("bestC")
      val first = ctx.freshName("first")
      val get =
        if (isFloat) s"(double) $vec.getFloat($base + $i)"
        else s"$vec.getDouble($base + $i)"
      val getNull =
        if (mayHaveNulls) s"($vec.isNullAt($base + $i) ? 0.0 : $get)" else get
      s"""
         |long[] $codes = new long[$m];
         |for (int $j = 0; $j < $m; $j++) {
         |  int $base = $j * $dsub;
         |  int $lim = java.lang.Math.max(0,
         |    java.lang.Math.min($dsub, $vec.numElements() - $base));
         |  double $bestD = 0.0; long $bestC = 0L; boolean $first = true;
         |  for (int $t = 0; $t < $ksub; $t++) {
         |    double[] $cv = $booksRef[$j][$t];
         |    double $s = 0.0;
         |    for (int $i = 0; $i < $lim; $i++) {
         |      $s += $getNull * $cv[$i];
         |    }
         |    double $d = -2.0 * $s + $normsRef[$j][$t];
         |    if ($first || java.lang.Double.compare($d, $bestD) < 0) {
         |      $bestD = $d; $bestC = (long) $t; $first = false;
         |    }
         |  }
         |  $codes[$j] = $bestC;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($codes);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): PqCodesExpr =
    copy(child = newChild)
}

/** A unary expression over one string argument, type-checked at
  * analysis rather than discovered inside generated code. */
trait StringInput extends UnaryExpression {
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a string argument, got ${child.dataType.catalogString}")
}

/** JVM-static helpers shared by interpreted eval and generated code.
  * Loop-heavy expression bodies live HERE and `doGenCode` emits a
  * one-line call: the generated projection method stays tiny (JIT-
  * friendly regardless of how many such expressions a stage fuses) and
  * eval/codegen cannot drift apart — the r19 PqCodes profiling showed
  * exactly what an over-large generated method costs (cold bytecode). */
object ExprHelpers {

  /** Bit i (0..15) set iff hex char i of `s` is in [8-9a-fA-F] — i.e.
    * the high bit of the i-th nibble of a hex digest. One pass over the
    * bytes; replaces 16 substring+isin subtree evaluations per row in
    * the SimHash vote projection. Strings shorter than 16 chars vote 0
    * on the missing positions (md5 hex is always 32). */
  def hexVotes16(s: UTF8String): Int = {
    val n = math.min(16, s.numBytes())
    var m = 0
    var i = 0
    while (i < n) {
      val c = s.getByte(i)
      if ((c >= '8' && c <= '9') || (c >= 'a' && c <= 'f') ||
          (c >= 'A' && c <= 'F')) m |= (1 << i)
      i += 1
    }
    m
  }

  /** Apply a BPE merge list to a symbol array: for each (a, b) in rank
    * order, one greedy left-to-right non-overlapping adjacent-merge pass
    * — EXACTLY [[graft.operators.TextAnalysis.mergeAdjacent]]'s carry
    * semantics ("a a a" → ["aa", "a"]; a null element never matches,
    * flushes a pending carry, and is copied through). Arrays ping-pong;
    * sizes only shrink. */
  def bpeApplyMerges(arr: org.apache.spark.sql.catalyst.util.ArrayData,
                     a: Array[UTF8String], b: Array[UTF8String],
                     ab: Array[UTF8String]): GenericArrayData = {
    var n = arr.numElements()
    var cur = new Array[AnyRef](n)
    var i = 0
    while (i < n) {
      cur(i) = if (arr.isNullAt(i)) null else arr.getUTF8String(i)
      i += 1
    }
    var k = 0
    while (k < a.length) {
      val ak = a(k); val bk = b(k); val abk = ab(k)
      val out = new Array[AnyRef](n)
      var m = 0
      var carry: AnyRef = null // non-null iff a pending `a` may merge
      var j = 0
      while (j < n) {
        val x = cur(j)
        if (carry == null) {
          if (x != null && x.equals(ak)) carry = x
          else { out(m) = x; m += 1 }
        } else {
          if (x != null && x.equals(bk)) { out(m) = abk; m += 1; carry = null }
          else if (x != null && x.equals(ak)) { out(m) = carry; m += 1; carry = x }
          else { out(m) = carry; m += 1; out(m) = x; m += 1; carry = null }
        }
        j += 1
      }
      if (carry != null) { out(m) = carry; m += 1 }
      cur = out; n = m
      k += 1
    }
    if (n < cur.length) cur = java.util.Arrays.copyOf(cur, n)
    new GenericArrayData(cur)
  }

  /** True for the six ASCII whitespace bytes `[ \t\n\r\x0B\f]`
    * ([[graft.operators.TextAnalysis.asciiWs]]; `\t`..`\r` are 9..13).
    * None of them occurs inside a multi-byte UTF-8 sequence, so U+00A0
    * and U+3000 are token characters. */
  private def isAsciiWs(b: Byte): Boolean = b == ' ' || (b >= '\t' && b <= '\r')

  /** First byte offset at or after `i` whose whitespace-ness differs
    * from `ws`, or the text length. */
  private def skip(s: UTF8String, i: Int, ws: Boolean): Int = {
    val len = s.numBytes()
    var j = i
    while (j < len && isAsciiWs(s.getByte(j)) == ws) j += 1
    j
  }

  /** The library's one ASCII-whitespace tokenizer: the tokens of `s` are
    * its maximal runs of non-[[isAsciiWs]] bytes, and this returns their
    * (start, end) byte offsets packed as `spans(2t)`, `spans(2t + 1)`,
    * in text order. Blank text has none. Every tokenizing graft function
    * reads these spans (or [[tokenCount]], the same walk without them):
    * tokens, shingles, MinHash signatures and the streaming twins. */
  def tokenSpans(s: UTF8String): Array[Int] = {
    val len = s.numBytes()
    var spans = new Array[Int](32)
    var m = 0
    var i = skip(s, 0, ws = true)
    while (i < len) {
      val e = skip(s, i, ws = false)
      if (m == spans.length) spans = java.util.Arrays.copyOf(spans, 2 * m)
      spans(m) = i; spans(m + 1) = e
      m += 2
      i = skip(s, e, ws = true)
    }
    java.util.Arrays.copyOf(spans, m)
  }

  /** Number of [[tokenSpans]] of `s`, without building them. */
  def tokenCount(s: UTF8String): Int = {
    val len = s.numBytes()
    var n = 0
    var i = skip(s, 0, ws = true)
    while (i < len) {
      n += 1
      i = skip(s, skip(s, i, ws = false), ws = true)
    }
    n
  }

  /** Copy the window of `w` tokens from token `t` of `bytes`, joined with
    * one space, to the start of `dst`; returns its length. */
  private def joinWindow(bytes: Array[Byte], spans: Array[Int], t: Int, w: Int,
                         dst: Array[Byte]): Int = {
    var m = 0
    var u = t
    while (u < t + w) {
      if (u > t) { dst(m) = ' '; m += 1 }
      val l = spans(2 * u + 1) - spans(2 * u)
      System.arraycopy(bytes, spans(2 * u), dst, m, l)
      m += l
      u += 1
    }
    m
  }

  /** Every window of `w` consecutive [[tokenSpans]] tokens of `s`, in text
    * order, joined with one space and duplicates kept; empty below `w`
    * tokens. `w = 1` gives the tokens themselves. Bytes are kept as
    * stored, so on malformed UTF-8 a token carries the raw bytes, where a
    * `String`-decoding tokenizer would carry U+FFFD. */
  def shingles(s: UTF8String, w: Int): GenericArrayData = {
    val spans = tokenSpans(s)
    val n = spans.length / 2 - w + 1
    if (n <= 0) return new GenericArrayData(new Array[AnyRef](0))
    // copied unless `s` owns exactly this array: tokens never alias a row buffer
    val bytes = s.getBytes
    val out = new Array[AnyRef](n)
    val window = if (w == 1) null else new Array[Byte](bytes.length)
    var t = 0
    while (t < n) {
      out(t) =
        if (w == 1) UTF8String.fromBytes(bytes, spans(2 * t), spans(2 * t + 1) - spans(2 * t))
        else UTF8String.fromBytes(
          java.util.Arrays.copyOf(window, joinWindow(bytes, spans, t, w, window)))
      t += 1
    }
    new GenericArrayData(out)
  }

  /** [[tokenSpans]] over a JVM string, for row-at-a-time code: each token
    * decoded back to a `String`. */
  def tokenStrings(text: String): Array[String] = {
    val bytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val spans = tokenSpans(UTF8String.fromBytes(bytes))
    Array.tabulate(spans.length / 2)(t => new String(bytes, spans(2 * t),
      spans(2 * t + 1) - spans(2 * t), java.nio.charset.StandardCharsets.UTF_8))
  }

  /** Non-overlapping occurrences of the bytes of `target` in `s`, matched
    * left to right with the search resuming after each match
    * (charsequence.h:1078-1103). With `pad`, the text is read as
    * `" " + s + " "` without building that copy. `target` is non-empty.
    * On valid UTF-8 this is the count over code points, since a UTF-8
    * match can only start at a character boundary. */
  def countLiteral(s: UTF8String, target: Array[Byte], pad: Boolean): Int = {
    val p = if (pad) 1 else 0
    val len = s.numBytes() + 2 * p
    val m = target.length
    def at(v: Int): Byte = if (pad && (v == 0 || v == len - 1)) ' ' else s.getByte(v - p)
    var n = 0
    var i = 0
    while (i + m <= len) {
      var j = 0
      while (j < m && at(i + j) == target(j)) j += 1
      if (j == m) { n += 1; i += m } else i += 1
    }
    n
  }

  /** Number of ASCII letters `[a-zA-Z]` in `s`; they are whole characters
    * in any UTF-8 text, valid or not. */
  def asciiLetterCount(s: UTF8String): Int = {
    val len = s.numBytes()
    var n = 0
    var i = 0
    while (i < len) {
      val b = s.getByte(i) | 0x20 // folds A-Z onto a-z, and nothing else onto it
      if (b >= 'a' && b <= 'z') n += 1
      i += 1
    }
    n
  }

  private val md5 = ThreadLocal.withInitial[java.security.MessageDigest](
    () => java.security.MessageDigest.getInstance("MD5"))
  private val hexDigits = "0123456789abcdef".getBytes("US-ASCII")

  /** MinHash signature of one text, in one pass and with no per-shingle
    * String, hex string or row ([[graft.operators.Dedup.minhashSignature]]).
    * The shingles are [[shingles]]'s: every window of `w` [[tokenSpans]]
    * tokens joined with one space. Family 4j+q is the minimum,
    * compared unsigned, of big-endian word q of md5("j#" + shingle).
    * Returns the `k` minima as 8-char lowercase hex (whose string order is
    * the unsigned order), or null when the text is null or has fewer than
    * `w` tokens. Bytes are hashed as stored: on malformed UTF-8 this
    * differs from a String-decoding tokenizer, which would hash U+FFFD. */
  def minhashSignature(text: UTF8String, w: Int, k: Int): GenericArrayData = {
    if (text == null) return null
    val spans = tokenSpans(text)
    val n = spans.length / 2
    if (n < w) return null
    val bytes = text.getBytes
    val numDigests = (k + 3) / 4
    val prefixes = Array.tabulate(numDigests)(j => s"$j#".getBytes("US-ASCII"))
    val mins = Array.fill(k)(-1) // 0xffffffff: the unsigned maximum
    val md = md5.get()
    val dig = new Array[Byte](16)
    val shingle = new Array[Byte](bytes.length) // a joined window is never longer than the text
    var t = 0
    while (t + w <= n) {
      val m = joinWindow(bytes, spans, t, w, shingle)
      var j = 0
      while (j < numDigests) {
        md.update(prefixes(j))
        md.update(shingle, 0, m)
        md.digest(dig, 0, 16)
        var q = 0
        while (q < 4 && 4 * j + q < k) {
          val o = 4 * q
          val v = ((dig(o) & 0xff) << 24) | ((dig(o + 1) & 0xff) << 16) |
            ((dig(o + 2) & 0xff) << 8) | (dig(o + 3) & 0xff)
          if (Integer.compareUnsigned(v, mins(4 * j + q)) < 0) mins(4 * j + q) = v
          q += 1
        }
        j += 1
      }
      t += 1
    }
    val out = new Array[AnyRef](k)
    var f = 0
    while (f < k) {
      val hex = new Array[Byte](8)
      var v = mins(f)
      var p = 7
      while (p >= 0) { hex(p) = hexDigits(v & 0xf); v >>>= 4; p -= 1 }
      out(f) = UTF8String.fromBytes(hex)
      f += 1
    }
    new GenericArrayData(out)
  }

  def utf32Encode(input: UTF8String, bigEndian: Boolean): Array[Byte] = {
    val cps = input.toString.codePoints().toArray
    val out = new Array[Byte](cps.length * 4)
    var i = 0
    while (i < cps.length) {
      // lone surrogates cannot appear in a valid String's codePoints();
      // out-of-range values are impossible — but keep the reference's
      // U+FFFD guard for defense in depth (charsequence.h:214-231)
      val cp = if (cps(i) > 0x10FFFF || (cps(i) >= 0xD800 && cps(i) <= 0xDFFF)) 0xFFFD else cps(i)
      val o = i * 4
      if (bigEndian) {
        out(o) = ((cp >> 24) & 0xff).toByte; out(o + 1) = ((cp >> 16) & 0xff).toByte
        out(o + 2) = ((cp >> 8) & 0xff).toByte; out(o + 3) = (cp & 0xff).toByte
      } else {
        out(o) = (cp & 0xff).toByte; out(o + 1) = ((cp >> 8) & 0xff).toByte
        out(o + 2) = ((cp >> 16) & 0xff).toByte; out(o + 3) = ((cp >> 24) & 0xff).toByte
      }
      i += 1
    }
    out
  }

  def utf32Decode(bytes: Array[Byte], bigEndian: Boolean): UTF8String = {
    val sb = new java.lang.StringBuilder(bytes.length / 4 + 1)
    var o = 0
    while (o + 4 <= bytes.length) {
      val cp =
        if (bigEndian)
          ((bytes(o) & 0xff) << 24) | ((bytes(o + 1) & 0xff) << 16) |
            ((bytes(o + 2) & 0xff) << 8) | (bytes(o + 3) & 0xff)
        else
          (bytes(o) & 0xff) | ((bytes(o + 1) & 0xff) << 8) |
            ((bytes(o + 2) & 0xff) << 16) | ((bytes(o + 3) & 0xff) << 24)
      // strict validation → U+FFFD (charsequence.h:428-471)
      val valid = cp >= 0 && cp <= 0x10FFFF && !(cp >= 0xD800 && cp <= 0xDFFF)
      sb.appendCodePoint(if (valid) cp else 0xFFFD)
      o += 4
    }
    if (o < bytes.length) sb.appendCodePoint(0xFFFD) // truncated trailing unit
    UTF8String.fromString(sb.toString)
  }
}

/** SimHash-16 hex votes as ONE native expression: bit i of the result
  * is set iff hex char i of the input is in [8-f] — the per-token vote
  * mask the 16 per-bit sums then read with shift/and. Replaces 16
  * `substring(h, i+1, 1).isin("8"…"f")` subtrees (16 UTF8String slices
  * + up to 128 string compares per row) with one byte loop (§4:
  * eliminate expensive expression forests in the hot path). */
case class HexVotes16Expr(child: Expression) extends StringInput {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_hex_votes16"

  override def nullSafeEval(input: Any): Any =
    ExprHelpers.hexVotes16(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.ExprHelpers.hexVotes16($c);")

  override protected def withNewChildInternal(newChild: Expression): HexVotes16Expr =
    copy(child = newChild)
}

/** A full BPE merge list applied to a symbol array as ONE native
  * expression — per word: one tight loop per merge over a ping-pong
  * pair of arrays, instead of nMerges interpreted `aggregate` HOF
  * passes each allocating a struct carry + array concat per element
  * (§4). Semantics are exactly the chained
  * [[graft.operators.TextAnalysis.mergeAdjacent]] folds it replaces
  * (greedy left-to-right, non-overlapping, carry may re-arm on `a`),
  * pinned against the HOF form in ExpressionSpec. The merge list is
  * constructor data (like [[PqCodesExpr]]'s codebook) and must not be
  * mutated after construction; case-class equality on it is
  * reference-based — conservative (missed subexpression elimination),
  * never incorrect. */
case class BpeMergesExpr(child: Expression, merges: Array[(String, String)])
  extends UnaryExpression {

  override def dataType: DataType = child.dataType match {
    case ArrayType(_, n) => ArrayType(StringType, containsNull = n)
    case _ => ArrayType(StringType, containsNull = true)
  }
  override def prettyName: String = "graft_bpe_merges"

  @transient private lazy val aArr: Array[UTF8String] =
    merges.map(m => UTF8String.fromString(m._1))
  @transient private lazy val bArr: Array[UTF8String] =
    merges.map(m => UTF8String.fromString(m._2))
  @transient private lazy val abArr: Array[UTF8String] =
    merges.map(m => UTF8String.fromString(m._1 + m._2))

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires an array<string> argument, got ${child.dataType.catalogString}")
    }

  override def nullSafeEval(input: Any): Any =
    ExprHelpers.bpeApplyMerges(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      aArr, bArr, abArr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = "org.apache.spark.unsafe.types.UTF8String[]"
    val aRef = ctx.addReferenceObj("bpeA", aArr, cls)
    val bRef = ctx.addReferenceObj("bpeB", bArr, cls)
    val abRef = ctx.addReferenceObj("bpeAb", abArr, cls)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.ExprHelpers.bpeApplyMerges($c, $aRef, $bRef, $abRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): BpeMergesExpr =
    copy(child = newChild)
}

/** The MinHash signature of a text column as ONE native expression:
  * `numHashes` 8-hex minima over the `shingleWidth`-token shingles (see
  * [[ExprHelpers.minhashSignature]]), null when the text is null or too
  * short for one shingle. One row per document instead of one per
  * shingle, and no md5 hex string or substring per shingle: ExpressionSpec
  * pins the values against that explode/md5/substring/min form. */
case class MinHashSigExpr(child: Expression, shingleWidth: Int, numHashes: Int)
  extends StringInput {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_minhash_signature"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (shingleWidth < 1 || numHashes < 1)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires shingleWidth >= 1 and numHashes >= 1, " +
          s"got $shingleWidth and $numHashes")
    else super.checkInputDataTypes()

  override def nullSafeEval(input: Any): Any =
    ExprHelpers.minhashSignature(input.asInstanceOf[UTF8String], shingleWidth, numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = graft.functions.ExprHelpers.minhashSignature($c, $shingleWidth, $numHashes);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): MinHashSigExpr =
    copy(child = newChild)
}

/** The `shingleWidth`-token shingles of a text column as ONE native
  * expression ([[ExprHelpers.shingles]]): `shingleWidth = 1` is
  * [[graft.operators.TextAnalysis.tokens]], any width is
  * [[graft.operators.Dedup.shingleArray]]. The data type is the
  * `array<string>` that `regexp_extract_all` had. */
case class ShingleArrayExpr(child: Expression, shingleWidth: Int)
  extends StringInput {

  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def prettyName: String = "graft_shingles"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (shingleWidth < 1)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires shingleWidth >= 1, got $shingleWidth")
    else super.checkInputDataTypes()

  override def nullSafeEval(input: Any): Any =
    ExprHelpers.shingles(input.asInstanceOf[UTF8String], shingleWidth)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.ExprHelpers.shingles($c, $shingleWidth);")

  override protected def withNewChildInternal(newChild: Expression): ShingleArrayExpr =
    copy(child = newChild)
}

/** The token count of a text column ([[ExprHelpers.tokenCount]]) as a
  * long, without building the token array. A null text gives what
  * `size(null)` gives: -1 under `legacySizeOfNull`, else null, with the
  * flag taken from the session conf when the column is built, like
  * Spark's `Size`. */
case class TokenCountExpr(child: Expression, legacySizeOfNull: Boolean)
  extends StringInput {

  override def dataType: DataType = LongType
  override def nullable: Boolean = child.nullable && !legacySizeOfNull
  override def prettyName: String = "graft_token_count"

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val s = child.eval(input)
    if (s != null) ExprHelpers.tokenCount(s.asInstanceOf[UTF8String]).toLong
    else if (legacySizeOfNull) -1L
    else null
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val onNull =
      if (legacySizeOfNull) s"${ev.value} = -1L;" else s"${ev.isNull} = true;"
    ev.copy(code = code"""
      |${c.code}
      |boolean ${ev.isNull} = false;
      |long ${ev.value} = 0L;
      |if (${c.isNull}) {
      |  $onNull
      |} else {
      |  ${ev.value} = graft.functions.ExprHelpers.tokenCount(${c.value});
      |}""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): TokenCountExpr =
    copy(child = newChild)
}

/** Non-overlapping occurrences of a literal `target` in a text column
  * ([[ExprHelpers.countLiteral]]) as a long, null on a null text. With
  * `pad` the text is read as `" " + text + " "`, so `" the "` also counts
  * a leading or trailing word. The target bytes are constructor data, so
  * every target shares one generated body. */
case class CountLiteralExpr(child: Expression, target: String, pad: Boolean)
  extends StringInput {
  require(target.nonEmpty, "CountLiteralExpr: target must be non-empty")

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_count_literal"

  @transient private lazy val targetBytes =
    target.getBytes(java.nio.charset.StandardCharsets.UTF_8)

  override def nullSafeEval(input: Any): Any =
    ExprHelpers.countLiteral(input.asInstanceOf[UTF8String], targetBytes, pad).toLong

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val t = ctx.addReferenceObj("target", targetBytes, "byte[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = (long) graft.functions.ExprHelpers.countLiteral($c, $t, $pad);")
  }

  override protected def withNewChildInternal(newChild: Expression): CountLiteralExpr =
    copy(child = newChild)
}

/** Number of ASCII letters in a text column
  * ([[ExprHelpers.asciiLetterCount]]) as an int, null on a null text. */
case class AsciiLetterCountExpr(child: Expression) extends StringInput {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_ascii_letters"

  override def nullSafeEval(input: Any): Any =
    ExprHelpers.asciiLetterCount(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.ExprHelpers.asciiLetterCount($c);")

  override protected def withNewChildInternal(newChild: Expression): AsciiLetterCountExpr =
    copy(child = newChild)
}

case class Utf32Encode(child: Expression, bigEndian: Boolean)
  extends UnaryExpression {

  override def dataType: DataType = BinaryType
  override def prettyName: String = if (bigEndian) "graft_utf32be_encode" else "graft_utf32le_encode"

  override def nullSafeEval(input: Any): Any =
    ExprHelpers.utf32Encode(input.asInstanceOf[UTF8String], bigEndian)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.ExprHelpers.utf32Encode($c, $bigEndian);")

  override protected def withNewChildInternal(newChild: Expression): Utf32Encode =
    copy(child = newChild)
}

case class Utf32Decode(child: Expression, bigEndian: Boolean)
  extends UnaryExpression {

  override def dataType: DataType = StringType
  override def prettyName: String = if (bigEndian) "graft_utf32be_decode" else "graft_utf32le_decode"

  override def nullSafeEval(input: Any): Any =
    ExprHelpers.utf32Decode(input.asInstanceOf[Array[Byte]], bigEndian)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.ExprHelpers.utf32Decode($c, $bigEndian);")

  override protected def withNewChildInternal(newChild: Expression): Utf32Decode =
    copy(child = newChild)
}

/** Unicode normalization (NFC/NFD/NFKC/NFKD) as a native codegen'd
  * expression — the canonicalization step a dedup pipeline needs before
  * hashing text (visually identical strings with different code-point
  * sequences — combining marks vs precomposed, compatibility forms —
  * must digest identically or exact dedup silently under-merges). Spark
  * has no built-in for this; a Scala UDF would run interpreted with
  * per-row boxing. `java.text.Normalizer` is pure-JVM ICU-equivalent
  * for the four standard forms. */
case class UnicodeNormalize(child: Expression, form: java.text.Normalizer.Form)
  extends StringInput {

  override def dataType: DataType = StringType
  override def prettyName: String = s"graft_${form.name().toLowerCase}"

  override def nullSafeEval(input: Any): Any =
    UTF8String.fromString(java.text.Normalizer.normalize(
      input.asInstanceOf[UTF8String].toString, form))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = org.apache.spark.unsafe.types.UTF8String.fromString(
         |  java.text.Normalizer.normalize($c.toString(),
         |    java.text.Normalizer.Form.${form.name()}));""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): UnicodeNormalize =
    copy(child = newChild)
}

/** Identity expression DECLARED non-deterministic — an optimizer
  * barrier. Use case (r19, measured on the ADC rankers): the optimizer
  * collapses a scoring projection into the input expressions of a
  * following `udaf` aggregate (ObjectHashAggregate), where they are
  * evaluated WITHOUT whole-stage codegen — per-row interpreted
  * evaluation of a 30-node scoring tree cost ~100 µs/row (q80: 2.3 s
  * for a 20k-row ranking whose projection alone ran in 0.17 s).
  * Wrapping the score in this barrier keeps the projection its own
  * codegen'd stage and hands the aggregate a plain attribute. Identity
  * semantics: same value, nullability and codegen as the child; only
  * the determinism flag differs, and the value IS deterministic — the
  * flag is load-bearing solely against expression inlining (the same
  * trick as `asNondeterministic()` on an expensive UDF, guide §4.4). */
case class EvalBarrier(child: Expression) extends UnaryExpression {
  override lazy val deterministic: Boolean = false
  override def dataType: DataType = child.dataType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "graft_barrier"
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    child.eval(input)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = c.code, isNull = c.isNull, value = c.value)
  }
  override protected def withNewChildInternal(newChild: Expression): EvalBarrier =
    copy(child = newChild)
}

/** The native graft functions by SQL name, so they are usable from SQL
  * and via `call_function`. [[table]] is the ONE list: [[register]]
  * reads it per session and [[graft.plans.GraftExtensions]] injects it
  * at session build. Expressions built from constructor data (PQ
  * codebooks, BPE merge lists) have no SQL form and are reached through
  * `GraftColumnShim` instead. */
object GraftFunctions {
  import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder

  /** (name, usage, builder) of every SQL-callable graft function. */
  val table: Seq[(String, String, FunctionBuilder)] = Seq[(String, String, FunctionBuilder)](
    // CONSTRAINT (r19 verdict): the non-determinism flag that stops the
    // optimizer inlining the barrier's child into an aggregate's input
    // ALSO blocks predicate pushdown through any projection containing
    // it — a filter written above a barrier column stays above it. Only
    // place graft_barrier immediately upstream of the consumer it
    // shields (an aggregate/udaf input); never upstream of a selective
    // filter that should reach the scan. Every current call site sits
    // directly under an aggregation (ExpressionSpec pins the plan shape).
    ("graft_barrier", "x -> x, an optimizer barrier against inlining",
      exprs => EvalBarrier(exprs.head)),
    ("graft_hex_votes16", "hex string -> int, bit i = hex digit i in [8-f]",
      exprs => HexVotes16Expr(exprs.head)),
    ("graft_code_points", "string -> array<int> of Unicode code points",
      exprs => CodePointsExpr(exprs.head)),
    ("graft_dot", "array<double> x array<double> -> dot product",
      exprs => DotProductExpr(exprs(0), exprs(1))),
    ("graft_utf32le_encode", "string -> UTF-32LE bytes",
      exprs => Utf32Encode(exprs.head, bigEndian = false)),
    ("graft_utf32be_encode", "string -> UTF-32BE bytes",
      exprs => Utf32Encode(exprs.head, bigEndian = true)),
    ("graft_utf32le_decode", "UTF-32LE bytes -> string (U+FFFD policy)",
      exprs => Utf32Decode(exprs.head, bigEndian = false)),
    ("graft_utf32be_decode", "UTF-32BE bytes -> string (U+FFFD policy)",
      exprs => Utf32Decode(exprs.head, bigEndian = true))
  ) ++ java.text.Normalizer.Form.values().toSeq.map { form =>
    (s"graft_${form.name().toLowerCase}",
      s"string -> ${form.name()}-normalized string",
      (exprs => UnicodeNormalize(exprs.head, form)): FunctionBuilder)
  }

  /** Register the names this session does not already resolve. Idempotent:
    * operators and query builders call it per invocation, and a repeat
    * call (or a session built with [[graft.plans.GraftExtensions]])
    * replaces nothing. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    table.foreach { case (name, _, build) =>
      val id = org.apache.spark.sql.catalyst.FunctionIdentifier(name)
      if (!reg.functionExists(id)) reg.createOrReplaceTempFunction(name, build, "built-in")
    }
  }
}
