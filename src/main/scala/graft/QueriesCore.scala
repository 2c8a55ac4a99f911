package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{IndexOps, SemanticStream}
import graft.operators.Windows
import graft.sources.Readers

/** Index-op / window / grouping queries (SURVEY.md §2.1-2.4) over the
  * driver tables, with DuckDB oracles. The indexed view of `events` is
  * idx = rank of event_id — assigned distributed (IndexOps), matching
  * `row_number() OVER (ORDER BY event_id) - 1` in the oracle.
  */
object QueriesCore {

  /** event_id is a DENSE 0-based PK (verified at every SF), so the rank
    * of event_id IS event_id: ord/idx are the scan column itself — no
    * rank stages, and ord-window probes (q21's findFirst, q08) push to
    * the parquet scan as PushedFilters. */
  private def indexedEvents(s: SparkSession, dir: String): DataFrame =
    Readers.table(s, dir, "events")
      .withColumn("ord", col("event_id")).withColumn("idx", col("event_id"))

  /** Indexed events as a typed SemanticStream[Long] over event_id — the
    * dense-key bridge (see [[indexedEvents]]): zero rank computation,
    * scan-column ord, known ordBound so downstream ordered/concatenate
    * linearize and stay Catalyst-only. */
  private def eventStream(s: SparkSession, dir: String): SemanticStream[Long] = {
    import s.implicits._
    SemanticStream.fromDenseKey[Long](
      Readers.table(s, dir, "events").select(col("event_id")),
      col("event_id"), col("event_id"))
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    // filter renumbers survivors 0..n-1 (semantic.h:1197-1216); filtering
    // BEFORE the rank pushes the predicate into the parquet scan and ranks
    // only survivors — renumbering the full stream first would be wasted
    "q02_filter_renumber" -> ((s, dir) => {
      val filtered = Readers.table(s, dir, "events").filter(col("value") > 50.0)
      IndexOps.renumberByUniqueKey(filtered, col("event_id"))
        .select(col("idx"), col("event_id"))
        .orderBy(col("idx"))
    }),

    // map preserves the upstream index (semantic.h:1376-1395)
    "q03_map_index" -> ((s, dir) =>
      indexedEvents(s, dir)
        .select(col("idx"), col("event_id"), round(col("value") * 2, 2).as("doubled"))
        .orderBy(col("idx"))),

    // sub(start,end): arrival positions [100,200) (semantic.h:1512-1530)
    "q04_limit_skip_sub" -> ((s, dir) =>
      indexedEvents(s, dir)
        .filter(col("idx") >= 100 && col("idx") < 200)
        .select(col("idx"), col("event_id"))
        .orderBy(col("idx"))),

    // translate(-3) then ordered materialization → mod-n wrap
    // (semantic.h:1577-1590, 492-504), via the typed SemanticStream API
    "q05_translate_wrap" -> ((s, dir) => {
      val out = eventStream(s, dir).translate(-3).ordered.toDF
      out.select(col("value").as("event_id"), col("idx").as("pos"))
        .orderBy(col("pos"), col("event_id"))
    }),

    // distinct: first occurrence per key in arrival order (semantic.h:1122)
    "q06_distinct_first" -> ((s, dir) =>
      indexedEvents(s, dir)
        .groupBy(col("event_type"))
        .agg(min(col("idx")).as("first_idx"), count(lit(1)).as("n"))
        .orderBy(col("event_type"))),

    // sort: stable value sort + renumber (semantic.h:1483-1503) — the
    // numeric lead (value) keeps the rank on the Catalyst bucket path
    "q07_sort_renumber" -> ((s, dir) => {
      val sorted = IndexOps.rankNumericPrefix(
        Readers.table(s, dir, "events"), col("value"),
        Seq(col("value").asc, col("event_id").asc), renumberIdx = true)
      sorted.select(col("idx"), col("event_id"), col("value")).orderBy(col("idx"))
    }),

    // takeWhile: prefix strictly before first failure (semantic.h:1532-1554)
    // via the PROBED short-circuit — exponentially growing ord windows stop
    // at the first window containing a failure, so an early boundary (as
    // here) never scans the tail. Oracle-gated equivalence with the plain
    // boundary-aggregate form.
    "q08_takewhile" -> ((s, dir) => {
      import s.implicits._
      // event_id is a DENSE 0-based PK → ord is the scan column itself:
      // each probe window is a PushedFilters range scan, and no per-probe
      // rank re-computation happens (fromUniqueKey's computed ord cannot
      // push below the rank)
      val st = SemanticStream.fromDenseKey[(Long, Double)](
        Readers.table(s, dir, "events").select(col("event_id"), col("value")),
        struct(col("event_id").as("_1"), col("value").as("_2")),
        col("event_id"))
      st.takeWhileProbed(v => v.getField("_2") < 99.0).toDF
        .select(col("idx"), col("value._1").as("event_id"),
          col("value._2").as("value"))
        .orderBy(col("idx"))
    }),

    // dropWhile: rest, renumbered from 0 (semantic.h:1166-1195)
    "q09_dropwhile" -> ((s, dir) => {
      val ev = indexedEvents(s, dir)
      val boundary = ev.filter(!(col("value") < 99.0))
        .agg(coalesce(min(col("idx")), lit(Long.MaxValue)).as("b"))
      val rest = ev.join(broadcast(boundary)).filter(col("idx") >= col("b"))
      IndexOps.renumberByUniqueKey(rest.drop("ord", "idx", "b"), col("event_id"))
        .select(col("idx").as("new_idx"), col("event_id"))
        .orderBy(col("new_idx"))
    }),

    // concatenate: order-preserving union, continuous renumber
    // (semantic.h:1012-1120), via the typed API
    "q10_concat" -> ((s, dir) => {
      import s.implicits._
      def part(lo: Long, hi: Long): SemanticStream[Long] = {
        val src = Readers.table(s, dir, "orders")
          .filter(col("o_orderkey") >= lo && col("o_orderkey") < hi)
        // unique-key bridge → known ordBound → concatenate linearizes
        // (src, ord) into one key and ranks Catalyst-only; the key filter
        // bounds the row count, so no count job is needed
        SemanticStream.fromUniqueKey[Long](src.select(col("o_orderkey")),
          col("o_orderkey"), col("o_orderkey"), boundHint = Some(hi - lo))
      }
      part(0, 100).concatenate(part(100, 200)).toDF
        .select(col("idx"), col("value").as("o_orderkey"))
        .orderBy(col("idx"))
    }),

    // the SURVEY §7.2 minimum slice, factory-to-terminal, via the typed
    // API: range → map → filter → summate (needs no input table)
    "q11_range_pipeline" -> ((s, dir) => {
      import s.implicits._
      val st = SemanticStream.range(s, 0, 100000)
        .mapColumn[Long](v => v * 2)
        .filterColumn(v => v % 3 === 0)
      st.toDF.agg(sum(col("value")).as("total"), count(lit(1)).as("n"))
    }),

    // group → per-key ordered element list (collector.h:1065-1093)
    "q12_group_lines" -> ((s, dir) =>
      Readers.table(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("n_lines"),
          array_join(transform(sort_array(collect_list(col("l_linenumber"))),
            x => x.cast("string")), ",").as("lines"))
        .orderBy(col("l_orderkey"))),

    // partition(size): fixed chunks in arrival order (collector.h:2098-2136)
    "q13_chunks" -> ((s, dir) => {
      // packed-key bucket rank over the natural (orderkey, linenumber)
      // PK: l_linenumber is 1..7 by TPC-H construction, so orderkey*8 +
      // linenumber is collision-free and order-preserving. A/B vs the
      // grouped-minor rank (BENCH_NOTES.md Round 7): consistently ~1.2×
      // faster here; both shapes are scale-safe
      val li = IndexOps.renumberByUniqueKey(Readers.table(s, dir, "lineitem"),
        col("l_orderkey") * lit(8L) + col("l_linenumber"))
      li.groupBy(Windows.chunkId(col("idx"), 1000).as("chunk"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_extendedprice")), 2).as("sum_price"))
        .orderBy(col("chunk"))
    }),

    // partitionBy(keyF): buckets in ascending key order (collector.h:2138)
    "q14_partition_by" -> ((s, dir) =>
      Readers.table(s, dir, "events")
        .groupBy((col("user_id") % 16).as("bucket"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"),
          min(col("event_id")).as("first_event"))
        .orderBy(col("bucket"))),

    // tumble(size) over the logical index (semantic.h:910-913)
    "q15_tumble" -> ((s, dir) =>
      indexedEvents(s, dir)
        .groupBy(Windows.tumbleId(col("idx"), 500).as("win"))
        .agg(count(lit(1)).as("n"), round(avg(col("value")), 4).as("avg_value"),
          round(sum(col("value")), 2).as("sum_value"))
        .orderBy(col("win"))),

    // slide(size, step) incl. partial tails (semantic.h:1595-1643)
    "q16_slide" -> ((s, dir) =>
      indexedEvents(s, dir)
        .select(Windows.slideIds(col("idx"), 1000, 250).as("win"), col("value"))
        .groupBy(col("win"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
        .orderBy(col("win")))
  )

  private val evCte =
    "WITH ev AS (SELECT *, row_number() OVER (ORDER BY event_id) - 1 AS idx FROM events)"

  val oracles: Map[String, String] = Map(
    "q02_filter_renumber" ->
      s"""SELECT row_number() OVER (ORDER BY event_id) - 1 AS idx, event_id
         |FROM events WHERE value > 50 ORDER BY idx""".stripMargin,

    "q03_map_index" ->
      s"""$evCte SELECT idx, event_id, round(value * 2, 2) AS doubled
         |FROM ev ORDER BY idx""".stripMargin,

    "q04_limit_skip_sub" ->
      s"""$evCte SELECT idx, event_id FROM ev
         |WHERE idx >= 100 AND idx < 200 ORDER BY idx""".stripMargin,

    "q05_translate_wrap" ->
      s"""$evCte, n AS (SELECT count(*) AS n FROM ev)
         |SELECT event_id, (((idx - 3) % n.n) + n.n) % n.n AS pos
         |FROM ev, n ORDER BY pos, event_id""".stripMargin,

    "q06_distinct_first" ->
      s"""$evCte SELECT event_type, min(idx) AS first_idx, count(*) AS n
         |FROM ev GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q07_sort_renumber" ->
      """SELECT row_number() OVER (ORDER BY value, event_id) - 1 AS idx,
        |  event_id, value
        |FROM events ORDER BY idx""".stripMargin,

    "q08_takewhile" ->
      s"""$evCte, b AS (
         |  SELECT coalesce(min(idx), 9223372036854775807) AS b FROM ev
         |  WHERE NOT (value < 99))
         |SELECT idx, event_id, value FROM ev, b
         |WHERE idx < b.b ORDER BY idx""".stripMargin,

    "q09_dropwhile" ->
      s"""$evCte, b AS (
         |  SELECT coalesce(min(idx), 9223372036854775807) AS b FROM ev
         |  WHERE NOT (value < 99))
         |SELECT row_number() OVER (ORDER BY event_id) - 1 AS new_idx, event_id
         |FROM ev, b WHERE idx >= b.b ORDER BY new_idx""".stripMargin,

    "q10_concat" ->
      """SELECT row_number() OVER (
        |    ORDER BY (CASE WHEN o_orderkey < 100 THEN 0 ELSE 1 END), o_orderkey) - 1
        |  AS idx, o_orderkey
        |FROM orders WHERE o_orderkey < 200 ORDER BY idx""".stripMargin,

    "q11_range_pipeline" ->
      """SELECT CAST(sum(x) AS BIGINT) AS total, count(*) AS n
        |FROM (SELECT i * 2 AS x FROM range(0, 100000) t(i))
        |WHERE x % 3 = 0""".stripMargin,

    "q12_group_lines" ->
      """SELECT l_orderkey, count(*) AS n_lines,
        |  string_agg(l_linenumber::VARCHAR, ',' ORDER BY l_linenumber) AS lines
        |FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin,

    "q13_chunks" ->
      """WITH li AS (SELECT *,
        |    row_number() OVER (ORDER BY l_orderkey, l_linenumber) - 1 AS idx
        |  FROM lineitem)
        |SELECT CAST(floor(idx / 1000) AS BIGINT) AS chunk, count(*) AS n,
        |  round(sum(l_extendedprice), 2) AS sum_price
        |FROM li GROUP BY chunk ORDER BY chunk""".stripMargin,

    "q14_partition_by" ->
      """SELECT user_id % 16 AS bucket, count(*) AS n,
        |  round(sum(value), 2) AS sum_value, min(event_id) AS first_event
        |FROM events GROUP BY bucket ORDER BY bucket""".stripMargin,

    "q15_tumble" ->
      s"""$evCte SELECT CAST(floor(idx / 500) AS BIGINT) AS win, count(*) AS n,
         |  round(avg(value), 4) AS avg_value, round(sum(value), 2) AS sum_value
         |FROM ev GROUP BY win ORDER BY win""".stripMargin,

    "q16_slide" ->
      s"""$evCte, wins AS (
         |  SELECT DISTINCT CAST(floor(idx / 250.0) AS BIGINT) AS win FROM ev)
         |SELECT w.win, count(*) AS n, round(sum(e.value), 2) AS sum_value
         |FROM wins w JOIN ev e
         |  ON e.idx >= w.win * 250 AND e.idx < w.win * 250 + 1000
         |GROUP BY w.win ORDER BY win""".stripMargin
  )
}
