package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.IndexOps

/** Determinism/robustness stress for the ranking core — the operation
  * everything else's index semantics rest on. */
class IndexOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("string leads: rankNumericPrefix auto-projects; unique-key path rejects") {
    // a numeric-parseable string lead used to bucket on lexicographic
    // min/max cast to double ('9' > '10' → inverted width) and silently
    // mis-rank; the prefix projection ranks it correctly in STRING order
    val df = Seq("10", "11", "9", "090", "9a").toDF("k")
    val got = IndexOps.rankNumericPrefix(df, col("k"), Seq(col("k").asc),
        renumberIdx = true)
      .orderBy(col("idx")).collect().map(_.getAs[String]("k")).toSeq
    assert(got == Seq("090", "10", "11", "9", "9a")) // UTF8 binary order
    // the unique-key path is a numeric-PK contract — still rejects
    val e = intercept[IllegalArgumentException] {
      IndexOps.renumberByUniqueKey(df, col("k"))
    }
    assert(e.getMessage.contains("numeric lead"))
  }

  test("runningTotal works over string-keyed rows (the forwarded-idCol path)") {
    // Windows.runningTotal forwards an arbitrary caller idCol into the
    // bucket rank; string ids must order/permute correctly (ADVICE r2)
    val df = Seq(("b", 2L), ("a", 5L), ("c", 1L), ("aa", 3L))
      .toDF("id", "v")
    val got = graft.operators.Windows.runningTotal(df, col("id"),
        Seq(col("id").asc), col("v"), "cum")
      .orderBy(col("id")).collect()
      .map(r => r.getAs[String]("id") -> r.getAs[Long]("cum")).toMap
    // exclusive-or-inclusive aside: cum follows id order a, aa, b, c
    assert(got("a") == 5L && got("aa") == 8L && got("b") == 10L && got("c") == 11L)
  }

  test("rankByOrd: sparse, skewed ords → contiguous idx in ord order") {
    // squares: heavily right-skewed value distribution across buckets
    val df = (0 until 5000).map(i => (i.toLong * i, s"v$i"))
      .toDF("ord", "value").withColumn("idx", lit(-1L))
    val ranked = IndexOps.rankByOrd(df)
    val rows = ranked.orderBy(col("idx")).collect()
    assert(rows.length == 5000)
    assert(rows.map(_.getAs[Long]("idx")).toSeq == (0L until 5000L))
    // order preserved: idx follows ascending original ord
    assert(rows.map(_.getAs[String]("value")).toSeq ==
      (0 until 5000).map(i => s"v$i"))
  }

  test("rankByOrd: negative and adversarial ord ranges") {
    val df = Seq(-1000000L, -1L, 0L, 1L, 999999999L).zipWithIndex
      .map { case (o, i) => (o, i) }.toDF("ord", "value")
      .withColumn("idx", lit(0L))
    val r = IndexOps.rankByOrd(df).orderBy(col("idx"))
      .collect().map(r => (r.getAs[Long]("idx"), r.getAs[Int]("value")))
    assert(r.toSeq == Seq((0L, 0), (1L, 1), (2L, 2), (3L, 3), (4L, 4)))
  }

  test("rankByOrd: empty and single-row inputs") {
    val empty = Seq.empty[(Long, String)].toDF("ord", "value").withColumn("idx", lit(0L))
    assert(IndexOps.rankByOrd(empty).count() == 0)
    val one = Seq((42L, "x")).toDF("ord", "value").withColumn("idx", lit(0L))
    val r = IndexOps.rankByOrd(one).collect()(0)
    assert(r.getAs[Long]("idx") == 0L && r.getAs[Long]("ord") == 0L)
  }

  test("bounded concatenate and ordered wrap avoid the RDD hop") {
    import graft.core.SemanticStream
    import graft.core.Terminals._
    val a = SemanticStream.range(spark, 0, 4)
    val b = SemanticStream.from(spark, Seq(100L, 200L))
    val c = a.concatenate(b)
    assert(c.ordBound == 6L)
    assert(c.terminals.toVector == Vector(0L, 1, 2, 3, 100, 200))
    // bounded path: pure Catalyst — no ExistingRDD scan in the plan
    assert(!c.toDF.queryExecution.executedPlan.toString.contains("ExistingRDD"))
    // ordered wrap of Raw indices likewise stays in Catalyst
    val w = SemanticStream.range(spark, 0, 5).translate(-1).ordered
    assert(!w.toDF.queryExecution.executedPlan.toString.contains("ExistingRDD"))
    assert(w.terminals.toVector == Vector(1L, 2, 3, 4, 0))
  }

  test("rankNumericPrefix == local stable sort, incl. heavy lead ties") {
    // lead has only 5 distinct values (worst-case bucket degeneracy) and
    // a unique tiebreak; must match a local sort exactly and repeatedly
    val rows = (0 until 3000).map(i => ((i * 13) % 5, (i * 7919) % 3000, i))
    val df = rows.toDF("lead", "tie", "value")
    def run() = IndexOps.rankNumericPrefix(df, col("lead"),
      Seq(col("lead").asc, col("tie").asc), renumberIdx = true)
      .orderBy(col("idx")).collect().map(_.getAs[Int]("value")).toSeq
    val expected = rows.sortBy(r => (r._1, r._2)).map(_._3)
    val first = run()
    assert(first == expected)
    assert(run() == first)
  }

  test("rankNumericPrefix: descending lead, doubles, degenerate all-equal") {
    val df = (0 until 500).map(i => (math.sin(i) * 100.0, i)).toDF("lead", "value")
    val desc = IndexOps.rankNumericPrefix(df, col("lead"),
      Seq(col("lead").desc, col("value").asc), renumberIdx = true,
      ascending = false)
      .orderBy(col("idx")).collect().map(_.getAs[Int]("value")).toSeq
    val expected = (0 until 500).map(i => (math.sin(i) * 100.0, i))
      .sortBy { case (l, v) => (-l, v) }.map(_._2)
    assert(desc == expected)
    // all-equal lead: single bucket, still correct (width 0 guard)
    val flat = (0 until 100).map(i => (7.0, i)).toDF("lead", "value")
    val r = IndexOps.rankNumericPrefix(flat, col("lead"),
      Seq(col("lead").asc, col("value").asc), renumberIdx = true)
      .orderBy(col("idx")).collect().map(_.getAs[Int]("value")).toSeq
    assert(r == (0 until 100))
  }

  test("rankNumericPrefix: randomized trials vs local sort (negatives, dupes, clusters)") {
    val rng = new scala.util.Random(0xC0FFEE)
    for (trial <- 0 until 5) {
      val n = 500 + rng.nextInt(2000)
      // mix shapes: uniform, clustered (heavy ties), negative-heavy
      val rows = (0 until n).map { i =>
        val lead = trial % 3 match {
          case 0 => rng.nextDouble() * 2000 - 1000
          case 1 => (rng.nextInt(7) * 13).toDouble // 7 distinct values
          case 2 => -math.abs(rng.nextGaussian()) * 100
        }
        (lead, i)
      }
      val got = IndexOps.rankNumericPrefix(rows.toDF("lead", "tie"),
        col("lead"), Seq(col("lead").asc, col("tie").asc), renumberIdx = true)
        .orderBy(col("idx")).collect().map(_.getAs[Int]("tie")).toSeq
      val expected = rows.sortBy { case (l, t) => (l, t) }.map(_._2)
      assert(got == expected, s"trial $trial, n=$n")
    }
  }

  test("numeric-lead rank paths never introduce an RDD scan") {
    val df = (0 until 200).map(i => (math.cos(i) * 10.0, i)).toDF("lead", "value")
    val plan = IndexOps.rankNumericPrefix(df, col("lead"),
      Seq(col("lead").asc, col("value").asc), renumberIdx = true)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("ExistingRDD"))
    // the unique-key stream bridge likewise (the q05 regression class)
    import graft.core.SemanticStream
    val ev = (0 until 100).map(i => Tuple1(i.toLong)).toDF("k")
    val st = SemanticStream.fromUniqueKey[Long](ev, col("k"), col("k"))
    val wrapped = st.translate(-3).ordered
    assert(!wrapped.toDF.queryExecution.executedPlan.toString.contains("ExistingRDD"))
  }

  test("struct sort keys stay on the Catalyst bucket path (no RDD hop)") {
    import graft.core.SemanticStream
    val spark2 = spark; import spark2.implicits._
    // (int, string) struct key: leading field numeric → buckets on it
    val data = (0 until 500).map(i => ((i * 37) % 100, s"s${i % 7}"))
    val sorted = SemanticStream.from(spark, data).sortByColumn(identity)
    assert(!sorted.toDF.queryExecution.executedPlan.toString.contains("ExistingRDD"))
    val got = sorted.toDF.orderBy(col("idx")).collect()
      .map { r => val s = r.getStruct(2); (s.getInt(0), s.getString(1)) }.toSeq
    assert(got == data.sorted)
    // string-leading struct: buckets on the 7-byte prefix projection
    val sdata = (0 until 300).map(i => (s"k${(i * 13) % 50}%03d", i))
    val ssorted = SemanticStream.from(spark, sdata).sortByColumn(identity)
    assert(!ssorted.toDF.queryExecution.executedPlan.toString.contains("ExistingRDD"))
    val sgot = ssorted.toDF.orderBy(col("idx")).collect()
      .map { r => val s = r.getStruct(2); (s.getString(0), s.getInt(1)) }.toSeq
    assert(sgot == sdata.sorted)
  }

  test("array sort keys: lexicographic order, [] at the correct end, no RDD hop") {
    import graft.core.SemanticStream
    val data: Seq[Seq[Int]] =
      Seq(Seq(2, 1), Seq(), Seq(1, 5), Seq(1), Seq(2), Seq(1, 5, 0), Seq())
    val sorted = SemanticStream.from(spark, data).sortByColumn(identity)
    assert(!sorted.toDF.queryExecution.executedPlan.toString.contains("ExistingRDD"))
    val got = sorted.toDF.orderBy(col("idx")).collect()
      .map(_.getSeq[Int](2).toSeq).toSeq
    import scala.math.Ordering.Implicits.seqOrdering
    assert(got == data.sorted)
    assert(got.take(2) == Seq(Seq(), Seq())) // empty arrays first asc
    // desc: empty arrays (null lead → null bucket) land LAST
    val desc = SemanticStream.from(spark, data)
      .sortByColumn(identity, ascending = false)
    val dgot = desc.toDF.orderBy(col("idx")).collect()
      .map(_.getSeq[Int](2).toSeq).toSeq
    assert(dgot == data.sorted.reverse)
  }

  test("date and timestamp_ntz sort keys: Catalyst-only, correct order") {
    import graft.core.SemanticStream
    import java.time.{LocalDate, LocalDateTime}
    // date→bigint casts are illegal in Spark 4 — these keys must project
    // via unix_date, not fail analysis, and must not hop to the RDD rank
    val dates = (0 until 200).map(i => LocalDate.of(2020, 1, 1).plusDays(((i * 37) % 400) - 100L))
    val dsorted = SemanticStream.from(spark, dates).sortByColumn(identity)
    assert(!dsorted.toDF.queryExecution.executedPlan.toString.contains("ExistingRDD"))
    val dgot = dsorted.toDF.orderBy(col("idx"))
      .select(col("value").cast("string")).collect().map(_.getString(0)).toSeq
    assert(dgot == dates.sorted.map(_.toString))
    // ntz buckets day-granular (tz-free coarsening); full order still
    // resolves within the day, including sub-day ties broken by arrival
    val stamps = (0 until 300).map { i =>
      LocalDateTime.of(2021, 3, 1, 0, 0, 0).plusMinutes(((i * 97) % 5000).toLong * 7)
    }
    val tsorted = SemanticStream.from(spark, stamps).sortByColumn(identity)
    assert(!tsorted.toDF.queryExecution.executedPlan.toString.contains("ExistingRDD"))
    val tgot = tsorted.toDF.orderBy(col("idx"))
      .select(col("value").cast("string")).collect().map(_.getString(0)).toSeq
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
    assert(tgot == stamps.sorted.map(_.format(fmt)))
  }

  test("date-leading struct sort key: recursion projects the date field") {
    import graft.core.SemanticStream
    import java.time.LocalDate
    val data = (0 until 150).map(i =>
      (LocalDate.of(2022, 1, 1).plusDays((i * 13) % 40L), (i * 7) % 11))
    val sorted = SemanticStream.from(spark, data).sortByColumn(identity)
    assert(!sorted.toDF.queryExecution.executedPlan.toString.contains("ExistingRDD"))
    val got = sorted.toDF.orderBy(col("idx"))
      .select(col("value._1").cast("string"), col("value._2")).collect()
      .map(r => (r.getString(0), r.getInt(1))).toSeq
    assert(got == data.sorted.map { case (d, v) => (d.toString, v) })
  }

  test("string sort with NULLs: null bucket lands at the correct end, asc and desc") {
    import graft.core.SemanticStream
    val data = Seq("beta", null, "alpha", "gamma", null)
    val asc = SemanticStream.from(spark, data).sortByColumn(identity)
    assert(!asc.toDF.queryExecution.executedPlan.toString.contains("ExistingRDD"))
    val ag = asc.toDF.orderBy(col("idx")).collect().map(_.getString(2)).toSeq
    assert(ag == Seq(null, null, "alpha", "beta", "gamma")) // Spark asc = NULLS FIRST
    val desc = SemanticStream.from(spark, data).sortByColumn(identity, ascending = false)
    val dg = desc.toDF.orderBy(col("idx")).collect().map(_.getString(2)).toSeq
    assert(dg == Seq("gamma", "beta", "alpha", null, null)) // desc = NULLS LAST
  }

  test("general renumberBy and the multi-column indexed bridge stay Catalyst-only") {
    // renumberBy used to back these with an RDD zipWithIndex (lineage
    // freeze, AQE-opaque); the first order column now projects to a
    // bucketing lead and the whole rank stays in Catalyst — desc leads
    // included
    val df = (0 until 2000).map(i => ((i * 37) % 100, i % 7, i))
      .toDF("a", "b", "value")
    val out = IndexOps.renumberBy(df,
      Seq(col("a").desc, col("b").asc, col("value").asc))
    assert(!out.queryExecution.executedPlan.toString.contains("ExistingRDD"))
    val got = out.orderBy(col("idx")).collect().map(_.getAs[Int]("value")).toSeq
    assert(got == (0 until 2000).sortBy(i => (-((i * 37) % 100), i % 7, i)))
    // Readers.indexed with an arbitrary multi-column caller order
    val t = (0 until 500).map(i => (s"k${i % 50}", (i * 13) % 97, s"v$i"))
      .toDF("k", "n", "v")
    val s = graft.sources.Readers.indexed[String](t, col("v"),
      Seq(col("k").asc, col("n").desc, col("v").asc))
    assert(!s.toDF.queryExecution.executedPlan.toString.contains("ExistingRDD"))
    val sgot = s.toDF.orderBy(col("idx")).collect().map(_.getString(2)).toSeq
    val expected = (0 until 500).map(i => (s"k${i % 50}", (i * 13) % 97, s"v$i"))
      .sortBy { case (k, n, v) => (k, -n, v) }.map(_._3)
    assert(sgot == expected)
  }

  test("unknown-bound concatenate stays Catalyst-only (grouped bucket rank)") {
    import graft.core.SemanticStream
    import graft.core.Terminals._
    val a0 = SemanticStream.range(spark, 0, 1000)
    val b0 = SemanticStream.range(spark, 100, 1500)
    // strip the bounds: the ord invariant still holds, but concatenate
    // can no longer linearize (src, ord) into one unique numeric key
    val a = new SemanticStream(a0.ds, a0.state)
    val b = new SemanticStream(b0.ds, b0.state)
    val c = a.concatenate(b)
    assert(c.ordBound == Long.MaxValue)
    assert(!c.toDF.queryExecution.executedPlan.toString.contains("ExistingRDD"))
    assert(c.terminals.toVector ==
      ((0L until 1000L) ++ (100L until 1500L)).toVector)
  }

  test("rankGroupedPrefix == local sort over (group, lead), stable") {
    val rows = (0 until 3000).map(i => (i % 3, (i * 7919) % 500, i))
    val df = rows.toDF("g", "o", "value")
    def run() = IndexOps.rankGroupedPrefix(df, col("g"), col("o"),
      Seq(col("g").asc, col("o").asc, col("value").asc), renumberIdx = true)
      .orderBy(col("idx")).collect().map(_.getAs[Int]("value")).toSeq
    val expected = rows.sortBy { case (g, o, v) => (g, o, v) }.map(_._3)
    val first = run()
    assert(first == expected)
    assert(run() == first)
  }

  test("binary sort keys: unsigned lexicographic order, no RDD hop") {
    import graft.core.SemanticStream
    val data: Seq[Array[Byte]] = Seq(
      Array[Byte](2, 1), Array.empty[Byte], Array[Byte](1, 5),
      Array(0xFF.toByte), Array[Byte](1), Array[Byte](2),
      Array[Byte](1, 5, 0), Array[Byte](0x7F), Array(0x80.toByte))
    def cmp(x: Array[Byte], y: Array[Byte]): Int = {
      val n = math.min(x.length, y.length)
      var i = 0
      while (i < n) {
        val d = (x(i) & 0xFF) - (y(i) & 0xFF)
        if (d != 0) return d
        i += 1
      }
      x.length - y.length
    }
    val expected = data.sortWith((x, y) => cmp(x, y) < 0).map(_.toSeq)
    val sorted = SemanticStream.from(spark, data).sortByColumn(identity)
    assert(!sorted.toDF.queryExecution.executedPlan.toString.contains("ExistingRDD"))
    val got = sorted.toDF.orderBy(col("idx")).collect()
      .map(_.getAs[Array[Byte]](2).toSeq).toSeq
    assert(got == expected)
    val desc = SemanticStream.from(spark, data)
      .sortByColumn(identity, ascending = false)
    val dgot = desc.toDF.orderBy(col("idx")).collect()
      .map(_.getAs[Array[Byte]](2).toSeq).toSeq
    assert(dgot == expected.reverse)
  }

  test("renumberBy honors an explicit non-default null ordering (asc_nulls_last)") {
    // the bucket rank's null bucket reproduces only Spark's DEFAULT null
    // placement; an explicit asc_nulls_last must take the faithful path
    // and still rank correctly — nulls at the END under asc
    val df = Seq[(java.lang.Long, Int)]((3L, 0), (null, 1), (1L, 2), (null, 3), (2L, 4))
      .toDF("k", "v")
    val got = IndexOps.renumberBy(df, Seq(col("k").asc_nulls_last, col("v").asc))
      .orderBy(col("idx")).collect().map(_.getAs[Int]("v")).toSeq
    assert(got == Seq(2, 4, 0, 1, 3)) // k=1,2,3 then the two nulls by v
    // default asc (nulls first) stays on the Catalyst bucket path
    val asc = IndexOps.renumberBy(df, Seq(col("k").asc, col("v").asc))
    assert(!asc.queryExecution.executedPlan.toString.contains("ExistingRDD"))
    val agot = asc.orderBy(col("idx")).collect().map(_.getAs[Int]("v")).toSeq
    assert(agot == Seq(1, 3, 2, 4, 0))
  }

  test("renumberByDenseKey is a projection: no exchange, idx is the key") {
    // dense-key shortcut: ord/idx are the key itself, no exchange at all
    val dense = (0 until 100).map(i => (i.toLong, s"v$i")).toDF("k", "v")
    val dr = IndexOps.renumberByDenseKey(dense, col("k"))
    assert(!dr.queryExecution.executedPlan.toString.contains("Exchange"))
    assert(dr.filter(col("v") === "v42").first().getAs[Long]("idx") == 42L)
  }

  test("renumberBy composite keys: stable across repeated runs") {
    val df = (0 until 2000).map(i => ((i * 37) % 100, i % 7, i))
      .toDF("a", "b", "value")
    def run() = IndexOps.renumberBy(df, Seq(col("a").asc, col("b").asc, col("value").asc))
      .orderBy(col("idx")).collect().map(_.getAs[Int]("value")).toSeq
    val first = run()
    assert(run() == first)
    assert(first == (0 until 2000).sortBy(i => ((i * 37) % 100, i % 7, i)))
  }
}
