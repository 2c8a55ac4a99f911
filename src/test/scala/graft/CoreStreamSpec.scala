package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.core._
import graft.core.Terminals._
import graft.functions.Moments

object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.legacy.codingErrorAction", "true")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-wh").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    graft.functions.GraftFunctions.register(s)
    s
  }
}

/** Per-op unit tests against the in-memory indexed-fold oracle
  * (SURVEY.md §5.1): each assertion encodes the reference semantics —
  * renumbering rules, index wrap, exact statistic formulas. */
class CoreStreamSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  def rng(n: Int): SemanticStream[Long] = SemanticStream.range(spark, 0, n)

  test("range: half-open, stepped, negative, zero-step-empty") {
    assert(SemanticStream.range(spark, 0, 5).terminals.toVector == Vector(0L, 1, 2, 3, 4))
    assert(SemanticStream.range(spark, 0, 10, 3).terminals.toVector == Vector(0L, 3, 6, 9))
    assert(SemanticStream.range(spark, 5, 0, -2).terminals.toVector == Vector(5L, 3, 1))
    assert(SemanticStream.range(spark, 0, 5, 0).terminals.count() == 0)
    assert(SemanticStream.rangeClosed(spark, 1, 5).terminals.toVector == Vector(1L, 2, 3, 4, 5))
  }

  test("map preserves index; filter renumbers 0..n-1") {
    val s = rng(10).map(_ * 2)          // idx 0..9 preserved
    val f = s.filter(_ % 3 == 0)        // values 0,6,12,18 → renumbered
    val pairs = f.resolved.ds.collect().sortBy(_.idx).map(e => (e.idx, e.value)).toSeq
    assert(pairs == Seq((0L, 0L), (1L, 6L), (2L, 12L), (3L, 18L)))
  }

  test("mapIndexed observes renumbered indices") {
    val v = rng(10).filter(_ % 2 == 1).mapIndexed((e, i) => e * 100 + i).terminals.toVector
    assert(v == Vector(100L, 301L, 502L, 703L, 904L)) // values 1,3,5,7,9 idx 0..4
  }

  test("limit / skip / sub / translate index contracts") {
    assert(rng(10).limit(3).terminals.toVector == Vector(0L, 1, 2))
    // skip keeps counters n, n+1, ... as indices (semantic.h:1469-1473)
    val sk = rng(10).skip(7)
    assert(sk.ds.collect().map(_.idx).sorted.toSeq == Seq(7L, 8, 9))
    // …which wrap mod 3 at ordered materialization: 7%3=1, 8%3=2, 9%3=0
    assert(sk.terminals.toVector == Vector(9L, 7, 8))
    // sub keeps positions 2,3,4 as indices; wrap mod 3 → [3,4,2]
    assert(rng(10).sub(2, 5).terminals.toVector == Vector(3L, 4, 2))
    val tr = rng(3).translate(100)
    assert(tr.ds.collect().map(_.idx).sorted.toSeq == Seq(100L, 101, 102))
    // 100%3=1, 101%3=2, 102%3=0 → [2, 0, 1]
    assert(tr.terminals.toVector == Vector(2L, 0, 1))
  }

  test("limit/filter follow arrival order even after reverse") {
    // reverse only negates indices; emission order is unchanged, so limit
    // takes the FIRST-emitted elements (semantic.h:1363-1367)…
    assert(rng(5).reverse.limit(2).terminals.toVector == Vector(0L, 1))
    // …and filter renumbers survivors by the arrival counter
    assert(rng(5).reverse.filter(_ % 2 == 0).terminals.toVector == Vector(0L, 2, 4))
  }

  test("reverse: mod-n wrap keeps element 0 first, reverses the rest") {
    // idx negation + wrap (n-(|i|%n))%n: [e0, e4, e3, e2, e1]
    assert(rng(5).reverse.terminals.toVector == Vector(0L, 4, 3, 2, 1))
  }

  test("negative translate wraps at ordered materialization") {
    // idx-1 for 0..4 → -1,0,1,2,3 → wrap(-1)=4: element 0 goes last
    assert(rng(5).translate(-1).terminals.toVector == Vector(1L, 2, 3, 4, 0))
  }

  test("distinct keeps first occurrence") {
    val s = SemanticStream.from(spark, Seq(3, 1, 3, 2, 1, 3))
    assert(s.distinct.terminals.toVector == Vector(3, 1, 2))
  }

  test("distinctBy derived key keeps min-idx element") {
    val s = SemanticStream.from(spark, Seq("aa", "b", "cc", "d"))
    assert(s.distinctBy(_.length).terminals.toVector == Vector("aa", "b"))
  }

  test("concatenate renumbers continuously, preserves order") {
    val a = SemanticStream.from(spark, Seq(1, 2))
    val b = SemanticStream.from(spark, Seq(10, 20, 30))
    val c = a.concatenate(b)
    assert(c.terminals.toVector == Vector(1, 2, 10, 20, 30))
    assert(c.ds.collect().map(_.idx).sorted.toSeq == Seq(0L, 1, 2, 3, 4))
    assert(a.concatenate(99).terminals.toVector == Vector(1, 2, 99))
  }

  test("takeWhile stops at first failure; dropWhile mirrors") {
    val s = SemanticStream.from(spark, Seq(1, 2, 3, 10, 2, 1))
    assert(s.takeWhile(v => v < 5).terminals.toVector == Vector(1, 2, 3))
    assert(s.dropWhile(v => v < 5).terminals.toVector == Vector(10, 2, 1))
    // all match → takeWhile keeps everything, dropWhile empties
    assert(s.takeWhile(v => v < 100).terminals.count() == 6)
    assert(s.dropWhile(v => v < 100).terminals.count() == 0)
  }

  test("takeWhileProbed ≡ takeWhile across early/late/no-failure cases") {
    val cases = Seq(
      Seq(9, 1, 2),                        // first element fails
      Seq(1, 2, 3, 10, 2, 1),              // mid failure
      (1 to 500).map(_ % 5).toSeq,         // many failures
      Seq(1, 2, 3, 4))                     // no failure
    for (xs <- cases; win <- Seq(1L, 3L, 64L)) {
      val s = SemanticStream.from(spark, xs)
      val full = s.takeWhile(v => v < 5).terminals.toVector
      val probed = s.takeWhileProbed(v => v < 5, win).terminals.toVector
      assert(probed == full, s"xs=$xs win=$win")
    }
    // sparse ords (after a filter) still probe correctly
    val sparse = SemanticStream.from(spark, (0 until 100)).filter(_ % 7 == 0)
    assert(sparse.takeWhileProbed(v => v < 50, 2).terminals.toVector ==
      sparse.takeWhile(v => v < 50).terminals.toVector)
  }

  test("flatMap renumbers continuously; empties vanish") {
    val s = SemanticStream.from(spark, Seq(2, 0, 3))
    val f = s.flatMap(n => Seq.fill(n)(n))
    assert(f.terminals.toVector == Vector(2, 2, 3, 3, 3))
    assert(f.ds.collect().map(_.idx).sorted.toSeq == Seq(0L, 1, 2, 3, 4))
  }

  test("explodeColumn flattens array values in order") {
    val s = SemanticStream.from(spark, Seq(Seq(1, 2), Seq.empty[Int], Seq(3)))
    assert(s.explodeColumn[Int](identity).terminals.toVector == Vector(1, 2, 3))
  }

  test("sorted is stable and renumbers") {
    val s = SemanticStream.from(spark, Seq(3, 1, 2, 1))
    assert(s.sorted.terminals.toVector == Vector(1, 1, 2, 3))
    val idx = s.sorted.ds.collect().sortBy(_.idx).map(_.idx).toSeq
    assert(idx == Seq(0L, 1, 2, 3))
  }

  test("string sort takes the bucket path (no RDD) and stays stable") {
    val words = Seq("pear", "Apple", "apple", "banana", "", "apples",
      "zebra", "éclair", "banana", "ban")
    val s = SemanticStream.from(spark, words)
    val sorted = s.sortByColumn(identity)
    assert(!sorted.toDF.queryExecution.executedPlan.toString.contains("ExistingRDD"))
    val got = sorted.ds.collect().sortBy(_.idx).map(_.value).toVector
    // Spark string order is UTF8 binary; for this corpus Java's order
    // agrees (é > ASCII on both). Stability: equal keys keep arrival order
    val expected = words.zipWithIndex
      .sortBy { case (w, i) => (w, i) }.map(_._1).toVector
    assert(got == expected)
    val desc = s.sortByColumn(identity, ascending = false)
      .ds.collect().sortBy(_.idx).map(_.value).toVector
    val expDesc = words.zipWithIndex
      .sortBy { case (w, i) => (w, i) }(Ordering.Tuple2(Ordering.String.reverse, Ordering.Int))
      .map(_._1).toVector
    assert(desc == expDesc)
  }

  test("sortByColumn with NULL keys: nulls first asc, last desc (Spark order)") {
    val s = SemanticStream.from(spark, Seq(9, 3, 6, 1, 12))
    // key = null for multiples of 3 → nullable numeric lead
    import org.apache.spark.sql.functions.{lit, when}
    def key(v: org.apache.spark.sql.Column) = when(v % 3 === 0, lit(null)).otherwise(v)
    val asc = s.sortByColumn(key).ds.collect().sortBy(_.idx).map(_.value).toSeq
    // null-key rows (9,3,6,12) keep arrival order among themselves (idx
    // tiebreak), then non-null keys ascending
    assert(asc == Seq(9, 3, 6, 12, 1))
    val desc = s.sortByColumn(key, ascending = false)
      .ds.collect().sortBy(_.idx).map(_.value).toSeq
    assert(desc == Seq(1, 9, 3, 6, 12)) // desc: non-null first, nulls last
  }

  test("findAt with negative index wraps (n-(|i|%n))%n") {
    val s = SemanticStream.from(spark, Seq(10, 20, 30, 40))
    assert(s.terminals.findAt(1).contains(20))
    assert(s.terminals.findAt(-1).contains(40))   // (4-1)%4=3
    assert(s.terminals.findAt(-5).contains(40))   // (4-(5%4))%4=3
    assert(s.terminals.findAt(-4).contains(10))   // (4-0)%4... (4-(4%4))%4=0
    assert(s.terminals.findAt(9).isEmpty)
  }

  test("find first/last/any, matches") {
    val s = rng(100).filter(_ % 7 == 3)
    assert(s.terminals.findFirst().contains(3L))
    assert(s.terminals.findLast().contains(94L))
    assert(s.terminals.findAny(42L).nonEmpty)
    assert(rng(10).terminals.allMatch(v => v < 10))
    assert(rng(10).terminals.anyMatch(v => v === 5))
    assert(rng(10).terminals.noneMatch(v => v > 100))
  }

  test("findFirst probes a bounded ord prefix and falls back on sparse ords") {
    // dense ords: the probe window [0,4) contains ord 0 → the probe alone
    // answers; the result must match the full-scan semantics
    val dense = rng(100)
    assert(dense.terminals.findFirst(probeWindow = 4).contains(0L))
    // sparse ords: filter survivors keep their original arrival ords
    // (50..99), so the [0,4) probe is empty and the fallback aggregate
    // must still find the min-ord survivor
    val sparse = rng(100).filter(_ >= 50)
    assert(sparse.terminals.findFirst(probeWindow = 4).contains(50L))
    // empty stream: both probe and fallback miss → None, no exception
    assert(rng(100).filter(_ > 1000).terminals.findFirst(probeWindow = 4).isEmpty)
    assert(rng(0).terminals.findFirst().isEmpty)
    assert(rng(0).terminals.findLast().isEmpty)
  }

  test("collectWithInterrupt stops at the reference's exact minimal prefix") {
    import org.apache.spark.sql.{Encoder, Encoders}
    class SumAgg extends org.apache.spark.sql.expressions.Aggregator[Long, Long, Long] {
      def zero: Long = 0L
      def reduce(b: Long, a: Long): Long = b + a
      def merge(a: Long, b: Long): Long = a + b
      def finish(r: Long): Long = r
      def bufferEncoder: Encoder[Long] = Encoders.scalaLong
      def outputEncoder: Encoder[Long] = Encoders.scalaLong
    }
    // reference semantics: accept 0,1,2,… and stop at the first element
    // that pushes the running sum to >= 100 — that is 14 (sum 105)
    val got = rng(1000).terminals.collectWithInterrupt(
      new SumAgg, (r: Long) => r >= 100L, initialWindow = 4)
    assert(got == 105L)
    // never interrupts → full aggregate
    val full = rng(1000).terminals.collectWithInterrupt(
      new SumAgg, (r: Long) => r >= Long.MaxValue, initialWindow = 4)
    assert(full == 499500L)
    // empty stream → the collector's zero, no exception
    assert(rng(0).terminals.collectWithInterrupt(
      new SumAgg, (r: Long) => r >= 100L) == 0L)
  }

  test("reduce with and without identity") {
    assert(rng(5).terminals.reduce(_ + _).contains(10L))
    assert(rng(5).terminals.reduce(100L, _ + _) == 110L)
    assert(rng(0).terminals.reduce(_ + _).isEmpty)
    assert(rng(0).terminals.reduce(7L, _ + _) == 7L)
  }

  test("reduce scans the data exactly once (no isEmpty pre-job)") {
    // a per-element accumulator counts scans: the old isEmpty-then-reduce
    // shape touched (part of) the data twice; the partial-fold form must
    // touch every element exactly once, identity form included
    val acc = spark.sparkContext.longAccumulator("touches")
    val s = rng(1000).map { v => acc.add(1); v }
    assert(s.terminals.reduce(_ + _).contains(499500L))
    assert(acc.value == 1000L)
    val acc2 = spark.sparkContext.longAccumulator("touches2")
    val s2 = rng(1000).map { v => acc2.add(1); v }
    assert(s2.terminals.reduce(0L, _ + _) == 499500L)
    assert(acc2.value == 1000L)
  }

  test("container views: multimap/stack/queue/priority-queue/sorted-set") {
    val s = SemanticStream.from(spark, Seq(3, 1, 4, 1, 5))
    assert(s.terminals.toStack == List(5, 1, 4, 1, 3))
    assert(s.terminals.toQueue.toList == List(3, 1, 4, 1, 5))
    assert(s.terminals.toPriorityQueue.dequeueAll.toList == List(5, 4, 3, 1, 1))
    assert(s.terminals.toSortedSet.toList == List(1, 3, 4, 5))
    val mm = s.terminals.toMultimap[Int](v => v % 2)
    assert(mm(1) == Seq(3, 1, 1, 5) && mm(0) == Seq(4))
    assert(s.terminals.toMultiset == Map(3 -> 1L, 1 -> 2L, 4 -> 1L, 5 -> 1L))
    assert(s.terminals.toSortedMultiset.toList ==
      List(1 -> 2L, 3 -> 1L, 4 -> 1L, 5 -> 1L))
  }

  test("joinString and toMap last-wins") {
    val s = SemanticStream.from(spark, Seq(1, 2, 3))
    assert(s.terminals.joinString() == "[1,2,3]")
    assert(s.terminals.joinString("-", "<", ">") == "<1-2-3>")
    val m = SemanticStream.from(spark, Seq("a1", "b1", "a2"))
      .terminals.toMap[String](v => org.apache.spark.sql.functions.substring(v, 1, 1))
    assert(m == Map("a" -> "a2", "b" -> "b1"))
  }

  test("materialize ⇄ transform alternation (Collectable.semantic round trip)") {
    // reference: ordered materialization re-emits in buffer order; a
    // downstream filter renumbers against THAT order (semantic.h:585-597)
    val s = rng(5).reverse.ordered // [0,4,3,2,1]
    assert(s.filter(_ % 2 == 0).terminals.toVector == Vector(0L, 4, 2))
    assert(s.limit(3).terminals.toVector == Vector(0L, 4, 3))
    // self-concatenation
    val a = SemanticStream.from(spark, Seq(1, 2))
    assert(a.concatenate(a).terminals.toVector == Vector(1, 2, 1, 2))
    // takeWhile failing on the first element → empty; dropWhile keeps all
    val t = SemanticStream.from(spark, Seq(9, 1, 2))
    assert(t.takeWhile(v => v < 5).terminals.count() == 0)
    assert(t.dropWhile(v => v < 5).terminals.toVector == Vector(9, 1, 2))
  }

  test("statistics: summate/average/range/variance vs oracle; empty → 0") {
    val xs = Seq(2.0, 4.0, 4.0, 4.0, 5.0, 5.0, 7.0, 9.0)
    val st = SemanticStream.from(spark, xs).toStatistics
    assert(st.summate == xs.sum)
    assert(st.average == xs.sum / xs.size)
    assert(st.rangeStat == 7.0)
    assert(math.abs(st.variance - 4.0) < 1e-12)      // classic σ²=4 set
    assert(math.abs(st.standardDeviation - 2.0) < 1e-12)
    val e = SemanticStream.from(spark, Seq.empty[Double]).toStatistics
    assert(e.summate == 0.0 && e.average == 0.0 && e.rangeStat == 0.0)
  }

  test("percentile: NumPy linear interpolation; median even-n mean") {
    val st = SemanticStream.from(spark, Seq(1.0, 2.0, 3.0, 4.0)).toStatistics
    assert(st.median == 2.5)
    assert(st.percentile(25) == 1.75)  // rank .25*3 = 0.75 → 1 + .75*(2-1)
    assert(st.percentile(0) == 1.0 && st.percentile(100) == 4.0)
    assertThrows[IllegalArgumentException](st.percentile(101))
  }

  test("approx scale-path terminals honor their sketch error bounds") {
    // 10k distinct values 0..9999: GK rank error ≤ n/accuracy = 1 at
    // accuracy 10k, so the p50/p99 estimates sit within ±2 ranks of the
    // exact order statistic; HLL++ at rsd 0.05 lands within 3σ = 15%
    val st = SemanticStream.range(spark, 0, 10000).map(_.toDouble).toStatistics
    assert(math.abs(st.approxPercentile(50) - st.percentile(50)) <= 2.0)
    assert(math.abs(st.approxPercentile(99) - st.percentile(99)) <= 2.0)
    val d = st.approxDistinct(0.05)
    assert(d > 8500 && d < 11500, s"HLL estimate $d out of bounds")
    // empty stream: the same zero-conventions as the exact terminals
    val e = SemanticStream.from(spark, Seq.empty[Double]).toStatistics
    assert(e.approxPercentile(50) == 0.0 && e.approxDistinct() == 0L)
    assertThrows[IllegalArgumentException](st.approxPercentile(101))
  }

  test("mode: frequency counting, smallest-value tie-break") {
    assert(SemanticStream.from(spark, Seq(1.0, 2.0, 2.0, 3.0)).toStatistics.mode.contains(2.0))
    assert(SemanticStream.from(spark, Seq(3.0, 1.0)).toStatistics.mode.contains(1.0))
  }

  test("skewness/kurtosis match reference formulas incl. small-n zeros") {
    def refSkew(xs: Seq[Double]): Double = {
      if (xs.size < 3) return 0.0
      val n = xs.size.toDouble; val mean = xs.sum / n
      val varp = xs.map(x => (x - mean) * (x - mean)).sum / n
      if (varp == 0) return 0.0
      val sd = math.sqrt(varp)
      (n / ((n - 1) * (n - 2))) * xs.map(x => math.pow(x - mean, 3)).sum / (sd * sd * sd)
    }
    def refKurt(xs: Seq[Double]): Double = {
      if (xs.size < 4) return 0.0
      val n = xs.size.toDouble; val mean = xs.sum / n
      val varp = xs.map(x => (x - mean) * (x - mean)).sum / n
      if (varp == 0) return 0.0
      val s4 = varp * varp
      val num = n * (n + 1) * (n - 1) * xs.map(x => math.pow(x - mean, 4)).sum
      val den = (n - 2) * (n - 3) * s4 * n * n
      num / den - 3.0 * (n - 1) * (n - 1) / ((n - 2) * (n - 3))
    }
    val sets = Seq(
      Seq(1.0, 2.0), Seq(1.0, 2.0, 3.0), Seq(1.0, 2.0, 4.0, 8.0),
      Seq(2.0, 4.0, 4.0, 4.0, 5.0, 5.0, 7.0, 9.0),
      (1 to 100).map(i => math.sin(i * 1.7) * i))
    for (xs <- sets) {
      val st = SemanticStream.from(spark, xs).toStatistics
      assert(math.abs(st.skewness - refSkew(xs)) < 1e-9, s"skew $xs")
      assert(math.abs(st.kurtosis - refKurt(xs)) < 1e-9, s"kurt $xs")
    }
  }

  test("Moments aggregator: combiner law merge(fold(a), fold(b)) == fold(a++b)") {
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 20) {
      val a = Seq.fill(rnd.nextInt(50))(rnd.nextDouble() * 100 - 50)
      val b = Seq.fill(rnd.nextInt(50))(rnd.nextDouble() * 100 - 50)
      val merged = Moments.of(a).merge(Moments.of(b))
      val whole = Moments.of(a ++ b)
      assert(merged.n == whole.n)
      assert(math.abs(merged.mean - whole.mean) < 1e-9)
      assert(math.abs(merged.m2 - whole.m2) < 1e-6)
      assert(math.abs(merged.m3 - whole.m3) < 1e-5)
      assert(math.abs(merged.m4 - whole.m4) < 1e-3)
    }
  }

  test("frequency: per-value position profile") {
    val f = SemanticStream.from(spark, Seq(5.0, 7.0, 5.0)).toStatistics.frequency
    assert(f(5.0) == (Seq(0L, 2L), 2L))
    assert(f(7.0) == (Seq(1L), 1L))
  }

  test("frequencyDF: distributed form — sorted positions, one row per distinct value") {
    val df = SemanticStream.from(spark, Seq(5.0, 7.0, 5.0, 7.0, 5.0))
      .toStatistics.frequencyDF
    val rows = df.orderBy(org.apache.spark.sql.functions.col("value")).collect()
      .map(r => (r.getDouble(0), r.getSeq[Long](1).toSeq, r.getLong(2)))
    assert(rows.toSeq == Seq((5.0, Seq(0L, 2L, 4L), 3L), (7.0, Seq(1L, 3L), 2L)))
    // the Map finisher is the collected view of the same frame
    val m = SemanticStream.from(spark, Seq(5.0, 7.0, 5.0, 7.0, 5.0))
      .toStatistics.frequency
    assert(m(5.0) == (Seq(0L, 2L, 4L), 3L) && m(7.0) == (Seq(1L, 3L), 2L))
  }

  test("randomDoubles/randomLongs: partition-invariant values within their bounds") {
    // spark.range takes spark.sql.leafNodeDefaultParallelism partitions:
    // each value must depend on (seed, index) only, not on the split
    val key = "spark.sql.leafNodeDefaultParallelism"
    val saved = spark.conf.getOption(key)
    def draw(parts: Int): (Vector[Double], Vector[Long]) =
      try {
        spark.conf.set(key, parts.toString)
        val d = SemanticStream.randomDoubles(spark, -2.5, 4.0, 500, seed = 7)
        val l = SemanticStream.randomLongs(spark, -3, 4, 500, seed = 7)
        assert(d.ds.rdd.getNumPartitions == parts)
        assert(l.ds.rdd.getNumPartitions == parts)
        (d.terminals.toVector, l.terminals.toVector)
      } finally saved match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    val (d1, l1) = draw(1)
    val (d7, l7) = draw(7)
    assert(d1 == d7 && l1 == l7)
    assert(d1.size == 500 && d1.forall(x => x >= -2.5 && x < 4.0))
    assert(l1.size == 500 && l1.forall(x => x >= -3 && x <= 4))
    // uniform enough that both ends of the long range are drawn
    assert(l1.toSet == (-3L to 4L).toSet)
    // another seed, other values
    assert(SemanticStream.randomDoubles(spark, -2.5, 4.0, 500, seed = 8)
      .terminals.toVector != d1)
  }
}
