package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.IndexOps
import graft.functions.StatFunctions
import graft.sources.Readers

/** Statistics / find / match / join queries (SURVEY.md §2.3, §2.5) with
  * DuckDB oracles. Skewness/kurtosis use the reference's exact formulas
  * (population σ inside, sample bias factors outside — collector.h:3065-
  * 3239) via the single-pass Chan-merge Aggregator; the oracle recomputes
  * them two-pass in SQL.
  */
object QueriesStats {

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    // PageRank over the symmetrized customer↔supplier relation graph
    // (orders ⋈ lineitem), 5 fixed iterations, damping 0.85 — the
    // graph-centrality quality prior of web-crawl curation, on TPC-H
    // relations. One shuffle join + one partial agg per round; the
    // edge spine is checkpointed once.
    "q84_pagerank" -> ((s, dir) => {
      val o = Readers.table(s, dir, "orders"); val l = Readers.table(s, dir, "lineitem")
      // node ids packed as longs (customer 2k, supplier 2k+1) instead of
      // "c<k>"/"s<k>" strings: the graph is isomorphic, pageRank takes
      // its integral-id fast path (no relabel dictionary, long-keyed
      // shuffles), and the string labels the oracle pins are
      // reconstructed from the packing AFTER the rank loop — the same
      // decision-on-small-keys / label-at-the-end move as guide §8
      val e0 = o.join(l, o("o_orderkey") === l("l_orderkey"))
        .select((col("o_custkey").cast("long") * 2).as("src"),
          (col("l_suppkey").cast("long") * 2 + 1).as("dst"))
      val sym = e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
      graft.operators.Graph.pageRank(sym, iters = 5, damping = 0.85)
        .select(
          when(pmod(col("id"), lit(2)) === 0,
            concat(lit("c"), shiftright(col("id"), 1).cast("string")))
            .otherwise(
              concat(lit("s"), shiftright(col("id"), 1).cast("string")))
            .as("node"),
          round(col("rank") + lit(1e-9), 7).as("rank"))
        .orderBy(col("node"))
    }),

    // variance family: population convention (collector.h:688-836)
    "q17_stats_group" -> ((s, dir) =>
      Readers.table(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          round(var_pop(col("l_quantity")), 4).as("var_pop_qty"),
          round(stddev_pop(col("l_quantity")), 4).as("stddev_pop_qty"),
          round(min(col("l_quantity")), 4).as("min_qty"),
          round(max(col("l_quantity")), 4).as("max_qty"),
          round(max(col("l_quantity")) - min(col("l_quantity")), 4).as("range_qty"))
        .orderBy(col("l_returnflag"))),

    // percentile family: linear interpolation at p·(n−1) (collector.h:2298)
    "q18_percentiles" -> ((s, dir) =>
      Readers.table(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          round(percentile(col("l_extendedprice"), lit(0.5)), 4).as("median_price"),
          round(percentile(col("l_extendedprice"), lit(0.25)), 4).as("p25_price"),
          round(percentile(col("l_extendedprice"), lit(0.75)), 4).as("p75_price"),
          round(percentile(col("l_extendedprice"), lit(0.75)) -
            percentile(col("l_extendedprice"), lit(0.25)), 4).as("iqr_price"))
        .orderBy(col("l_returnflag"))),

    // mode: frequency count, smallest-value tie-break (collector.h:2251)
    "q19_mode" -> ((s, dir) => {
      val counts = Readers.table(s, dir, "lineitem")
        .groupBy(col("l_linestatus"), col("l_quantity"))
        .agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy(col("l_linestatus"))
        .orderBy(col("cnt").desc, col("l_quantity").asc)
      counts.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("l_linestatus"), col("l_quantity").as("mode_qty"), col("cnt"))
        .orderBy(col("l_linestatus"))
    }),

    // reference-formula skewness/kurtosis via single-pass Aggregator
    "q20_skew_kurt" -> ((s, dir) =>
      Readers.table(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          // + 0.0 kills IEEE -0.0 after rounding (a skew of exactly zero
          // can carry either sign bit depending on summation order; the
          // driver hash-compares raw values)
          (round(StatFunctions.skewness_ref(col("l_quantity")), 4) + lit(0.0)).as("skew_qty"),
          (round(StatFunctions.kurtosis_ref(col("l_quantity")), 4) + lit(0.0)).as("kurt_qty"))
        .orderBy(col("l_returnflag"))),

    // find first/last/at/negative-at (collector.h:838-1063)
    "q21_find" -> ((s, dir) => {
      val ev = IndexOps.renumberByUniqueKey(Readers.table(s, dir, "events"), col("event_id"))
      val n = ev.count()
      val negTarget = (n - (5 % n)) % n // findAt(-5)
      ev.agg(
        min_by(col("event_id"), col("idx")).as("first_event"),
        max_by(col("event_id"), col("idx")).as("last_event"),
        max(when(col("idx") === 100, col("event_id"))).as("at_100"),
        max(when(col("idx") === negTarget, col("event_id"))).as("at_neg5"))
    }),

    // all/any/none match (collector.h:399-448)
    "q22_match" -> ((s, dir) =>
      Readers.table(s, dir, "events").agg(
        bool_and(col("value") >= 0.0).as("all_nonneg"),
        bool_or(col("value") > 1000.0).as("any_big"),
        (!bool_or(col("value") < 0.0)).as("none_neg"))),

    // frequency/distribution profile per value class (collector.h:1805-2096)
    "q23_frequency_profile" -> ((s, dir) => {
      // event_id is a DENSE 0-based PK (asserted in SourcesSpec): the
      // arrival index IS the key — no rank stage at all
      val ev = IndexOps.renumberByDenseKey(Readers.table(s, dir, "events"), col("event_id"))
      ev.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), min(col("idx")).as("min_idx"),
          max(col("idx")).as("max_idx"), sum(col("idx")).as("sum_idx"))
        .orderBy(col("event_type"))
    }),

    // broadcast equi-join (parity-plus relational surface)
    "q24_join_brand" -> ((s, dir) => {
      val li = Readers.table(s, dir, "lineitem")
      val p = Readers.table(s, dir, "part")
      li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
          .as("revenue"), count(lit(1)).as("n"))
        .orderBy(col("p_brand"))
    }),

    // 3-way join, TPC-H Q3 shape
    "q25_join_q3" -> ((s, dir) => {
      val c = Readers.table(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val o = Readers.table(s, dir, "orders")
      val li = Readers.table(s, dir, "lineitem")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy(col("o_orderpriority"))
        .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
          .as("revenue"), count(lit(1)).as("n"))
        .orderBy(col("o_orderpriority"))
    }),

    // two-stage salted aggregation — result must equal the direct groupBy
    "q44_salted_agg" -> ((s, dir) =>
      graft.operators.Joins.saltedAgg(
        Readers.table(s, dir, "lineitem"), col("l_returnflag"), saltBuckets = 8,
        partials = Seq(sum(col("l_quantity")).as("psum"), count(lit(1)).as("pcnt")),
        finals = Seq(round(sum(col("psum")), 2).as("sum_qty"),
          sum(col("pcnt")).as("n")))
        .withColumnRenamed("key", "l_returnflag")
        .orderBy(col("l_returnflag"))),

    // distribution collector: z-scores of per-value (position-sum, count)
    // against the mode across distinct values (collector.h:1908-2096)
    "q41_distribution" -> ((s, dir) => {
      import s.implicits._
      // packed-key bucket rank (linenumber 1..7 → stride 8), the q58/q13
      // shape: the r7 A/B against the grouped-minor rank read a wall
      // tie, but the r19 per-run diag attributed ~17× the CPU-seconds to
      // this query vs q58 (same table, same rank target) — the grouped-
      // minor window (one ≤7-row sort partition per order) burns cores
      // the 32-wide local rig absorbs but a contended cluster pays for;
      // the packed key ranks in #shuffle-partition-wide windows instead
      // (numbers in OPTIMIZATION_r19.md)
      val li = IndexOps.renumberByUniqueKey(Readers.table(s, dir, "lineitem"),
        col("l_orderkey") * lit(8L) + col("l_linenumber"))
      val stream = new graft.core.SemanticStream(
        li.select(col("ord"), col("idx"),
          col("l_quantity").cast("double").as("value")).as[graft.core.Elem[Double]],
        graft.core.IndexState.Contiguous)
      import graft.core.Terminals._
      stream.toStatistics.distribution
        .select(col("value"), round(col("pos_score"), 4).as("pos_score"),
          round(col("cnt_score"), 4).as("cnt_score"))
        .orderBy(col("value"))
    }),

    // frequency collector, DISTRIBUTED form (collector.h:1805-1906):
    // per distinct value the sorted visible-index positions + count, as a
    // DataFrame — never a driver map. The scalar projections (first/last/
    // sum/size) are computed FROM the positions array, so the oracle
    // checks the array content, not a recomputation from the source.
    "q58_frequency" -> ((s, dir) => {
      import s.implicits._
      // packed-key bucket rank (linenumber 1..7 → stride 8): ~1.6×
      // faster than the grouped-minor rank here, every session
      // (BENCH_NOTES.md Round 7 A/B)
      val li = IndexOps.renumberByUniqueKey(Readers.table(s, dir, "lineitem"),
        col("l_orderkey") * lit(8L) + col("l_linenumber"))
      val stream = new graft.core.SemanticStream(
        li.select(col("ord"), col("idx"),
          col("l_quantity").cast("double").as("value")).as[graft.core.Elem[Double]],
        graft.core.IndexState.Contiguous)
      import graft.core.Terminals._
      stream.toStatistics.frequencyDF
        .select(col("value"), col("cnt"),
          size(col("positions")).cast("long").as("n_pos"),
          element_at(col("positions"), 1).as("first_pos"),
          element_at(col("positions"), -1).as("last_pos"),
          aggregate(col("positions"), lit(0L), (a, x) => a + x).as("sum_pos"))
        .orderBy(col("value"))
    }),

    // 5-way join (TPC-H Q5 shape): revenue by nation for one region —
    // broadcast chain for the dimensions, one shuffle for the fact join
    "q47_q5ish" -> ((s, dir) => {
      val li = Readers.table(s, dir, "lineitem")
      val o = Readers.table(s, dir, "orders")
      val c = Readers.table(s, dir, "customer")
      val n = Readers.table(s, dir, "nation")
      val r = Readers.table(s, dir, "region").filter(col("r_name") === "ASIA")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
          .as("revenue"), count(lit(1)).as("n"))
        .orderBy(col("revenue").desc, col("n_name"))
    }),

    // anti join: customers with no high-value order, per nation
    "q26_anti_join" -> ((s, dir) => {
      val c = Readers.table(s, dir, "customer")
      val o = Readers.table(s, dir, "orders").filter(col("o_totalprice") > 450000.0)
      val n = Readers.table(s, dir, "nation")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_lonely"))
        .orderBy(col("n_name"))
    }),

    // gradient descent (useGradient, collector.h:2944-2994) under the
    // oracle: θ₀ = nationkeys, quadratic cost Σ(θᵢ−bᵢ)² with targets
    // bᵢ = length(n_name), lr=0.1, EXACTLY 20 iterations (eps=0 →
    // never early-stops). The update θ ← θ − lr·2·(θ−b) is replayed
    // op-for-op by a DuckDB recursive CTE, so pre-round doubles are
    // bit-identical — the round(6) is belt and braces
    "q60_gradient" -> ((s, dir) => {
      val nation = Readers.table(s, dir, "nation")
      // dense-key bridge: n_nationkey is a DENSE 0-based PK by TPC-H
      // construction (exactly 25 rows, keys 0..24, at every SF), so the
      // rank IS the key — zero rank stages, where the generic
      // indexedFrom bridge paid the full bucket-rank machinery on a
      // 25-row table (r19: ~195 tasks per bench window for 25 rows)
      val st = IndexOps.renumberByDenseKey(
        nation.select(col("n_nationkey"), col("n_name"))
          .withColumn("value", col("n_nationkey").cast("double")),
        col("n_nationkey"))
      val stats = new graft.core.Statistics(
        st.select(col("ord"), col("idx"), col("value")))
      val b = nation.orderBy(col("n_nationkey"))
        .select(length(col("n_name")).cast("double")).collect().map(_.getDouble(0))
      val theta = stats.gradient(
        th => th.zip(b).map { case (t, bi) => 2.0 * (t - bi) },
        lr = 0.1, maxIter = 20, eps = 0.0)
      import s.implicits._
      theta.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toSeq
        .toDF("i", "theta")
        .select(col("i"), round(col("theta"), 6).as("theta"))
        .orderBy(col("i"))
    })
  )

  private def skewKurtOracle: String =
    """WITH m AS (
      |  SELECT l_returnflag AS k, count(*) AS n, avg(l_quantity) AS mu
      |  FROM lineitem GROUP BY 1),
      |c AS (
      |  SELECT m.k, m.n,
      |    sum(pow(l.l_quantity - m.mu, 2)) / m.n AS varp,
      |    sum(pow(l.l_quantity - m.mu, 3)) AS s3,
      |    sum(pow(l.l_quantity - m.mu, 4)) AS s4
      |  FROM lineitem l JOIN m ON l.l_returnflag = m.k
      |  GROUP BY m.k, m.n, m.mu)
      |SELECT k AS l_returnflag,
      |  round(CASE WHEN n < 3 OR varp = 0 THEN 0 ELSE
      |    (n / ((n - 1.0) * (n - 2.0))) * (s3 / pow(sqrt(varp), 3)) END, 4)
      |    + 0.0 AS skew_qty,
      |  round(CASE WHEN n < 4 OR varp = 0 THEN 0 ELSE
      |    (n * (n + 1.0) * (n - 1.0) * s4) /
      |      ((n - 2.0) * (n - 3.0) * varp * varp * n * n)
      |    - 3.0 * (n - 1.0) * (n - 1.0) / ((n - 2.0) * (n - 3.0)) END, 4)
      |    + 0.0 AS kurt_qty
      |FROM c ORDER BY l_returnflag""".stripMargin

  val oracles: Map[String, String] = Map(
    // 5 unrolled PageRank rounds; constants written as (1.0 - 0.85) and
    // 0.85 to match the Spark driver-side literals bit-for-bit. `pr`
    // inside the CTEs (rank is a DuckDB window keyword); aliased back
    // to "rank" at the end.
    "q84_pagerank" -> {
      val iterCtes = (1 to 5).map { i =>
        s"""r$i AS (
           |  SELECT n.id,
           |    (1.0 - 0.85) / (SELECT n FROM nn) + 0.85 * coalesce(c.cin, 0.0)
           |      AS pr
           |  FROM nodes n LEFT JOIN (
           |    SELECT e.dst AS id, sum(r.pr / d.deg) AS cin
           |    FROM e JOIN r${i - 1} r ON e.src = r.id
           |    JOIN deg d ON e.src = d.src
           |    GROUP BY 1) c USING (id))""".stripMargin
      }.mkString(",\n")
      s"""WITH e0 AS (
         |  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
         |    's' || CAST(l_suppkey AS VARCHAR) AS dst
         |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
         |e AS (SELECT src, dst FROM e0
         |      UNION SELECT dst AS src, src AS dst FROM e0),
         |nodes AS (SELECT DISTINCT src AS id FROM e),
         |nn AS (SELECT count(*) AS n FROM nodes),
         |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
         |r0 AS (SELECT id, 1.0 / (SELECT n FROM nn) AS pr FROM nodes),
         |$iterCtes
         |SELECT id AS node, round(pr + 1e-9, 7) AS "rank"
         |FROM r5 ORDER BY node""".stripMargin
    },

    "q60_gradient" ->
      """WITH RECURSIVE it AS (
        |  SELECT CAST(n_nationkey AS BIGINT) AS i,
        |    CAST(n_nationkey AS DOUBLE) AS theta,
        |    CAST(length(n_name) AS DOUBLE) AS b, 0 AS k
        |  FROM nation
        |  UNION ALL
        |  SELECT i, theta - 0.1 * (2 * (theta - b)), b, k + 1
        |  FROM it WHERE k < 20
        |)
        |SELECT i, round(theta, 6) AS theta FROM it WHERE k = 20
        |ORDER BY i""".stripMargin,

    "q44_salted_agg" ->
      """SELECT l_returnflag, round(sum(l_quantity), 2) AS sum_qty,
        |  count(*) AS n
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    "q17_stats_group" ->
      """SELECT l_returnflag,
        |  round(var_pop(l_quantity), 4) AS var_pop_qty,
        |  round(stddev_pop(l_quantity), 4) AS stddev_pop_qty,
        |  round(min(l_quantity), 4) AS min_qty,
        |  round(max(l_quantity), 4) AS max_qty,
        |  round(max(l_quantity) - min(l_quantity), 4) AS range_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q18_percentiles" ->
      """SELECT l_returnflag,
        |  round(quantile_cont(l_extendedprice, 0.5), 4) AS median_price,
        |  round(quantile_cont(l_extendedprice, 0.25), 4) AS p25_price,
        |  round(quantile_cont(l_extendedprice, 0.75), 4) AS p75_price,
        |  round(quantile_cont(l_extendedprice, 0.75)
        |    - quantile_cont(l_extendedprice, 0.25), 4) AS iqr_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q19_mode" ->
      """WITH counts AS (
        |  SELECT l_linestatus, l_quantity, count(*) AS cnt
        |  FROM lineitem GROUP BY 1, 2),
        |ranked AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY l_linestatus ORDER BY cnt DESC, l_quantity ASC) AS rn
        |  FROM counts)
        |SELECT l_linestatus, l_quantity AS mode_qty, cnt
        |FROM ranked WHERE rn = 1 ORDER BY l_linestatus""".stripMargin,

    "q20_skew_kurt" -> skewKurtOracle,

    "q21_find" ->
      """WITH ev AS (SELECT *, row_number() OVER (ORDER BY event_id) - 1 AS idx
        |  FROM events),
        |n AS (SELECT count(*) AS n FROM ev)
        |SELECT
        |  min_by(event_id, idx) AS first_event,
        |  max_by(event_id, idx) AS last_event,
        |  max(CASE WHEN idx = 100 THEN event_id END) AS at_100,
        |  max(CASE WHEN idx = (SELECT (n - (5 % n)) % n FROM n)
        |      THEN event_id END) AS at_neg5
        |FROM ev""".stripMargin,

    "q22_match" ->
      """SELECT bool_and(value >= 0) AS all_nonneg,
        |  bool_or(value > 1000) AS any_big,
        |  NOT bool_or(value < 0) AS none_neg
        |FROM events""".stripMargin,

    "q23_frequency_profile" ->
      """WITH ev AS (SELECT *, row_number() OVER (ORDER BY event_id) - 1 AS idx
        |  FROM events)
        |SELECT event_type, count(*) AS n, min(idx) AS min_idx,
        |  max(idx) AS max_idx, CAST(sum(idx) AS BIGINT) AS sum_idx
        |FROM ev GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q24_join_brand" ->
      """SELECT p_brand,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
        |  count(*) AS n
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,

    "q25_join_q3" ->
      """SELECT o_orderpriority,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
        |  count(*) AS n
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q41_distribution" ->
      """WITH li AS (SELECT *,
        |    row_number() OVER (ORDER BY l_orderkey, l_linenumber) - 1 AS idx
        |  FROM lineitem),
        |pv AS (
        |  SELECT CAST(l_quantity AS DOUBLE) AS val,
        |    CAST(sum(idx) AS DOUBLE) AS pos_sum,
        |    CAST(count(*) AS DOUBLE) AS cnt
        |  FROM li GROUP BY 1),
        |mp AS (SELECT pos_sum AS mode_pos FROM (
        |  SELECT pos_sum, count(*) f FROM pv GROUP BY 1
        |  ORDER BY f DESC, pos_sum ASC LIMIT 1)),
        |mc AS (SELECT cnt AS mode_cnt FROM (
        |  SELECT cnt, count(*) f FROM pv GROUP BY 1
        |  ORDER BY f DESC, cnt ASC LIMIT 1)),
        |sd AS (
        |  SELECT
        |    CASE WHEN sqrt(avg(pow(pos_sum - mode_pos, 2))) < 0.001 THEN 1.0
        |      ELSE sqrt(avg(pow(pos_sum - mode_pos, 2))) END AS sd_pos,
        |    CASE WHEN sqrt(avg(pow(cnt - mode_cnt, 2))) < 0.001 THEN 1.0
        |      ELSE sqrt(avg(pow(cnt - mode_cnt, 2))) END AS sd_cnt
        |  FROM pv, mp, mc)
        |SELECT val AS value,
        |  round((pos_sum - mode_pos) / sd_pos, 4) AS pos_score,
        |  round((cnt - mode_cnt) / sd_cnt, 4) AS cnt_score
        |FROM pv, mp, mc, sd ORDER BY value""".stripMargin,

    "q58_frequency" ->
      """WITH li AS (SELECT l_quantity,
        |    row_number() OVER (ORDER BY l_orderkey, l_linenumber) - 1 AS idx
        |  FROM lineitem)
        |SELECT CAST(l_quantity AS DOUBLE) AS value, count(*) AS cnt,
        |  count(*) AS n_pos, min(idx) AS first_pos, max(idx) AS last_pos,
        |  CAST(sum(idx) AS BIGINT) AS sum_pos
        |FROM li GROUP BY 1 ORDER BY value""".stripMargin,

    "q47_q5ish" ->
      """SELECT n_name,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
        |  count(*) AS n
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin,

    "q26_anti_join" ->
      """SELECT n_name, count(*) AS n_lonely
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 450000)
        |GROUP BY n_name ORDER BY n_name""".stripMargin
  )
}
