package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.Terminals._
import graft.sources.Readers

/** Source/sink layer + extensions + driver-contract sanity. */
class SourcesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("lines source indexes file order; csv/json readers honor pinned schemas") {
    val dir = java.nio.file.Files.createTempDirectory("graft-src").toFile
    val txt = new java.io.File(dir, "t.txt")
    java.nio.file.Files.writeString(txt.toPath, "alpha\nbeta\ngamma\n")
    assert(Readers.lines(spark, txt.getPath).terminals.toVector ==
      Vector("alpha", "beta", "gamma"))

    val csvF = new java.io.File(dir, "t.csv")
    java.nio.file.Files.writeString(csvF.toPath, "id,name\n1,a\n2,b\n")
    val c = Readers.csv(spark, csvF.getPath, "id INT, name STRING")
    assert(c.schema.simpleString == "struct<id:int,name:string>")
    assert(c.count() == 2)

    val jsonF = new java.io.File(dir, "t.json")
    java.nio.file.Files.writeString(jsonF.toPath, """{"id":1}""" + "\n" + """{"id":2}""" + "\n")
    assert(Readers.jsonLines(spark, jsonF.getPath, "id BIGINT").count() == 2)
  }

  test("indexed bridge + partitioned write round trip") {
    val df = Seq((3L, "c"), (1L, "a"), (2L, "b")).toDF("k", "v")
    val s = Readers.indexed[String](df, col("v"), Seq(col("k").asc))
    assert(s.terminals.toVector == Vector("a", "b", "c"))

    val out = java.nio.file.Files.createTempDirectory("graft-sink").toFile.getPath + "/p"
    Readers.writePartitioned(df, out, Seq("k"))
    val back = spark.read.parquet(out)
    assert(back.count() == 3)
    // partition pruning: filter on the partition column reads one dir
    assert(back.filter(col("k") === 2L).collect().map(_.getString(0)).toSeq == Seq("b"))
  }

  test("bucketed tables join without a shuffle") {
    val a = (1 to 200).map(i => (i.toLong, s"a$i")).toDF("k", "va")
    val b = (1 to 200).map(i => (i.toLong, i * 2.0)).toDF("k", "vb")
    Readers.writeBucketed(a, "graft_bkt_a", "k", 4)
    Readers.writeBucketed(b, "graft_bkt_b", "k", 4)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val j = spark.table("graft_bkt_a").join(spark.table("graft_bkt_b"), "k")
      assert(j.count() == 200)
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"bucketed join must not shuffle:\n$plan")
      assert(plan.contains("SortMergeJoin"))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("GraftExtensions injects native functions at session build") {
    val base = spark // force TestSpark init first
    // the one table GraftFunctions.register reads
    val names = graft.functions.GraftFunctions.table.map(_._1)
    assert(names.contains("graft_barrier") && names.contains("graft_hex_votes16"))
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      // reuses the JVM's SparkContext but builds a NEW session; the
      // programmatic hook exercises the same injection path the static
      // spark.sql.extensions conf drives on a fresh cluster
      val s2 = SparkSession.builder()
        .withExtensions(new graft.plans.GraftExtensions())
        .getOrCreate()
      val missing = names.filterNot(n => s2.catalog.functionExists(n))
      assert(missing.isEmpty, s"not injected by GraftExtensions: $missing")
      val r = s2.sql("SELECT graft_code_points('hi') AS c, " +
        "graft_utf32be_decode(graft_utf32be_encode('héllo')) AS s, " +
        "graft_barrier(7) AS b, graft_hex_votes16('f000000000000000') AS v")
        .collect()(0)
      assert(r.getSeq[Int](0) == Seq(104, 105))
      assert(r.getString(1) == "héllo")
      assert(r.getInt(2) == 7 && r.getInt(3) == 1)
    } finally {
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }

  test("GraftFunctions.register is idempotent: a repeat call replaces nothing") {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val s = spark
    val reg = s.sessionState.functionRegistry
    graft.functions.GraftFunctions.register(s)
    val ids = graft.functions.GraftFunctions.table.map(t =>
      org.apache.spark.sql.catalyst.FunctionIdentifier(t._1))
    // count the registry's "replaced a previously registered function"
    // warnings
    val replaced = new java.util.concurrent.atomic.AtomicInteger()
    val probe = new AbstractAppender("graft-register-probe", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getMessage.getFormattedMessage.contains("replaced a previously registered"))
          replaced.incrementAndGet()
    }
    probe.start()
    val root = LogManager.getContext(false).asInstanceOf[LoggerContext]
      .getConfiguration.getRootLogger
    root.addAppender(probe, Level.WARN, null)
    try {
      // the probe sees a real replacement...
      val (name, _, build) = graft.functions.GraftFunctions.table.head
      reg.createOrReplaceTempFunction(name, build, "built-in")
      assert(replaced.get == 1, "probe did not see a forced replacement")
      replaced.set(0)
      val before = ids.map(reg.lookupFunction)
      assert(before.forall(_.isDefined))
      // ...and a second register call on the same session makes none
      graft.functions.GraftFunctions.register(s)
      graft.functions.GraftFunctions.register(s)
      assert(replaced.get == 0, s"register replaced ${replaced.get} functions")
      assert(ids.map(reg.lookupFunction).zip(before).forall { case (a, b) => a.get eq b.get })
    } finally {
      root.removeAppender(probe.getName)
      probe.stop()
    }
  }

  test("ord probes push their range to the parquet scan (row-group pruning)") {
    import graft.core.{Elem, IndexState, SemanticStream}
    // ord-sorted parquet, range-partitioned so each file covers an ord
    // slice — the layout takeWhileProbed's scaladoc promises to prune
    val dir = java.nio.file.Files.createTempDirectory("graft-probe").toString
    spark.range(100000).select(col("id").as("ord"), col("id").as("idx"),
        col("id").as("value"))
      .repartitionByRange(8, col("ord")).sortWithinPartitions(col("ord"))
      .write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
    // the probe's filter shape, exactly as takeWhileProbed issues it
    val probePlan = df.filter(col("ord") >= 0L && col("ord") < 65536L)
      .queryExecution.executedPlan.toString
    assert(probePlan.contains("PushedFilters:"))
    assert(probePlan.contains("GreaterThanOrEqual(ord,0)") &&
      probePlan.contains("LessThan(ord,65536)"), probePlan)
    // end-to-end: probed takeWhile over the parquet-backed stream stops
    // at the boundary and its RESULT plan also scans under a pushed
    // ord bound (the tail of the file set is never read)
    val st = new SemanticStream[Long](df.as[Elem[Long]], IndexState.Contiguous)
    val taken = st.takeWhileProbed(_ < 50L, initialWindow = 256)
    val plan = taken.toDF.queryExecution.executedPlan.toString
    assert(plan.contains("LessThan(ord,50)"), plan)
    assert(taken.toDF.count() == 50L)
    // findFirst's probe window is the same pushdown-visible shape
    import graft.core.Terminals._
    assert(st.terminals.findFirst(probeWindow = 256).contains(0L))
  }

  test("fromDenseKey: ord is the scan column — probes push down, no rank stages") {
    val dir = java.nio.file.Files.createTempDirectory("graft-dense").toString
    spark.range(10000).select(col("id").as("k"),
        (col("id") * 2).cast("double").as("v"))
      .repartitionByRange(4, col("k")).sortWithinPartitions(col("k"))
      .write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
    val st = graft.core.SemanticStream.fromDenseKey[Double](df, col("v"), col("k"))
    assert(st.ordBound == 10000L)
    // no shuffle, no window — the stream is a pure projection of the scan
    val plan = st.toDF.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Window"), plan)
    // the probe's window filter reaches the parquet scan
    val probed = st.takeWhileProbed(_ < 100.0, initialWindow = 256)
    val ppln = probed.toDF.queryExecution.executedPlan.toString
    assert(ppln.contains("PushedFilters:") && ppln.contains("LessThan(k,50)"), ppln)
    assert(probed.toDF.count() == 50L)
    // values and indices line up with the key
    val rows = st.toDF.orderBy(col("idx")).limit(3).collect()
    assert(rows.map(_.getAs[Long]("idx")).toSeq == Seq(0L, 1L, 2L))
    assert(rows.map(_.getAs[Double]("value")).toSeq == Seq(0.0, 2.0, 4.0))
  }

  test("jsonLinesAudited: corrupt lines are accounted for, never dropped or fatal") {
    import graft.sources.Readers
    val dir = java.nio.file.Files.createTempDirectory("graft_jsonl_").toFile
    try {
      val f = new java.io.File(dir, "data.jsonl")
      java.nio.file.Files.writeString(f.toPath, Seq(
        """{"id": 1, "text": "good one"}""",
        """{"id": 2, "text": "also good"}""",
        """{"id": 3, "text": "truncated""",
        "",
        "not json at all",
        " \t ", // whitespace-only — must land on the bad side, not as nulls
        """{"id": 4, "text": "recovers after corruption"}""").mkString("", "\n", "\n"))
      val (good, bad) = Readers.jsonLinesAudited(
        spark, f.getAbsolutePath, "id BIGINT, text STRING")
      val g = good.collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
      assert(g.toSeq == Seq((1L, "good one"), (2L, "also good"),
        (4L, "recovers after corruption")))
      // corrupt AND blank lines surface on the bad side — from_json
      // returns a NULL struct (not a corrupt record) for empty input, so
      // blanks must not leak into good as all-null rows; good + bad ==
      // input lines holds exactly
      val b = bad.collect().map(_.getString(0))
      assert(b.length == 4, b.toSeq)
      assert(b.exists(_.contains("truncated")) && b.contains("not json at all"))
      assert(b.count(_.trim.isEmpty) == 2)
      val totalLines = spark.read.text(f.getAbsolutePath).count()
      assert(good.count() + b.length == totalLines)
      // the good side does not expose the corrupt column
      assert(!good.columns.contains("_corrupt_record"))
    } finally {
      def rm(x: java.io.File): Unit = {
        Option(x.listFiles()).foreach(_.foreach(rm)); x.delete(); ()
      }
      rm(dir)
    }
  }

  test("driver contract: every oracle key has a query; queries are well-formed at smoke tier") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracles without queries: $missing")
    // every query must plan and execute on sf0.001 without throwing
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, "/root/testdata/sf0.001")
      assert(df.columns.nonEmpty, name)
      df.count() // executes the plan
    }
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
