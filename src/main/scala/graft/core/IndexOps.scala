package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed contiguous rank assignment.
  *
  * The reference renumbers by running an incrementing counter through a
  * single-threaded closure chain (e.g. filter, semantic.h:1202-1209). The
  * Spark-native equivalent must avoid the classic trap — a global
  * `row_number()` window, which collapses to ONE partition. Instead:
  *
  *  1. range-partition by the order columns (parallel sampling + shuffle);
  *  2. per-partition `row_number()` keyed on `spark_partition_id()` —
  *     each partition numbers independently, fully parallel;
  *  3. per-partition counts → cumulative offsets. The count aggregate reads
  *     the SAME range exchange (Spark reuses the shuffle output — no source
  *     re-scan), aggregates #partitions rows, and is broadcast back.
  *
  * Two shuffles of the data total, no driver action, no single-partition
  * stage on the big side — the shape that survives 1000 executors.
  */
object IndexOps {

  /** Rank 0..n-1 following `order`, written to BOTH `ord` and `idx`. */
  def renumberBy(df: DataFrame, order: Seq[Column]): DataFrame =
    rank(df, order, renumberIdx = true)

  /** As [[renumberBy]] over a single numeric key the CALLER GUARANTEES
    * unique (a primary key): takes the Catalyst-only bucket path. */
  def renumberByUniqueKey(df: DataFrame, key: Column): DataFrame =
    rankNumericUnique(df, key, renumberIdx = true)

  /** Rank over a key the CALLER asserts is DENSE 0-based (a synthetic
    * dense PK, e.g. `events.event_id`): the rank IS the key, so `ord`
    * and `idx` are plain scan columns — zero rank stages, and idx
    * predicates reach the source as PushedFilters. The DataFrame-level
    * twin of [[SemanticStream.fromDenseKey]]. */
  def renumberByDenseKey(df: DataFrame, key: Column): DataFrame =
    df.withColumn("ord", key.cast("long")).withColumn("idx", col("ord"))

  /** Rank following `order` written to `ord` only; `idx` passes through
    * (used by ordered materialization, where idx holds wrapped values). */
  def reorderKeepIdx(df: DataFrame, order: Seq[Column]): DataFrame =
    rank(df, order, renumberIdx = false)

  /** As [[reorderKeepIdx]] over a single UNIQUE numeric key: `ord` := rank
    * of key, idx untouched — Catalyst-only bucket path. */
  def reorderKeepIdxUnique(df: DataFrame, key: Column): DataFrame =
    rankNumericUnique(df, key, renumberIdx = false)

  /** Resolve a RankPending stream: visible index = rank of arrival order.
    * `ord` is unique by invariant, so the Catalyst-only bucket path
    * applies: buckets derived from the DATA (min/max + equal width), not
    * from partition ids — deterministic under AQE re-execution, no RDD
    * conversion, lineage preserved. */
  def rankByOrd(df: DataFrame): DataFrame = rankNumericUnique(df, col("ord"), renumberIdx = true)

  /** Catalyst-only rank over a UNIQUE numeric key: equal-width value
    * buckets → per-bucket row_number → bucket-count prefix sums broadcast
    * back. One full shuffle (the per-bucket window); the min/max and
    * count branches re-read the (cheap, columnar) upstream. Ties are
    * impossible by precondition, so results are deterministic. */
  /** Equal-width bucketing is only monotone for genuinely numeric leads —
    * reject anything else at plan-build time instead of mis-ranking. */
  private def requireNumericLead(df: DataFrame, lead: Column): Unit = {
    val dt = df.select(lead).schema.head.dataType
    require(dt.isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"bucket rank needs a numeric lead column, got ${dt.catalogString}; " +
        "project the key to a monotone numeric (see sortByColumn) first")
  }

  private def rankNumericUnique(df: DataFrame, key: Column, renumberIdx: Boolean): DataFrame = {
    requireNumericLead(df, key)
    val parts = math.max(1, df.sparkSession.sessionState.conf.numShufflePartitions)
    val stats = df.agg(min(key).cast("long").as("__mn"), max(key).cast("long").as("__mx"))
    val width = greatest(lit(1.0),
      ceil((col("__mx") - col("__mn") + 1L).cast("double") / parts))
    val bucketed = df.join(broadcast(stats))
      .withColumn("__b", floor((key - col("__mn")).cast("double") / width).cast("long"))
      .drop("__mn", "__mx")
    val w = Window.partitionBy(col("__b")).orderBy(key.asc)
    val rn = bucketed.withColumn("__rn", row_number().over(w).cast("long"))
    // Bucket counts come from the PRE-window frame: max(__rn) per bucket
    // is the same number, but referencing the window output would replay
    // the rank's exchange+sort+window in the offsets branch (and ranks
    // nest — a concatenate of bridges multiplies that replay; q10's
    // final plan held 27 window nodes before this). The count branch is
    // a map-side partial aggregate over the bucketized scan instead.
    // NOTE the prefix-sum window below is unpartitioned BY DESIGN — it
    // runs over at most `parts` bucket-count rows, never the data, so
    // the "No Partition Defined" warning it triggers is expected noise
    val offsets = bucketed.groupBy(col("__b")).agg(count(lit(1)).as("__cnt"))
      .withColumn("__off", coalesce(
        sum(col("__cnt")).over(
          Window.orderBy(col("__b")).rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .select(col("__b"), col("__off"))
    val out = rn.join(broadcast(offsets), "__b")
      .withColumn("ord", col("__off") + col("__rn") - 1L)
    (if (renumberIdx) out.withColumn("idx", col("ord")) else out)
      .drop("__b", "__rn", "__off")
  }

  /** Equal-width value buckets on a numeric lead column, derived from the
    * DATA (min/max) — deterministic under AQE re-execution, unlike
    * anything keyed on partition ids. Adds `__b`. NULL leads land in
    * bucket -1: Spark's asc ordering is NULLS FIRST and its desc is
    * NULLS LAST, and -1 is first in asc bucket order / last in desc —
    * consistent either way. NaN leads fall into the last bucket via
    * `least` (NaN compares greatest in Spark), again matching both sort
    * directions. */
  private[graft] def bucketizeByLead(df: DataFrame, rawLead: Column): DataFrame = {
    // A raw STRING lead would silently mis-rank: min/max would come from
    // lexicographic order cast to double ('9' > '10'), inverting the
    // bucket width. Any orderable non-numeric lead (string, binary,
    // date/timestamp, bool, struct, array) auto-projects through
    // numericLeadOf to an order-preserving number — a COARSENING of the
    // lead's order is all a bucket needs, ties resolve inside it via the
    // caller's full order. Unprojectable types (map) are rejected.
    val dt = df.select(rawLead).schema.head.dataType
    val lead =
      if (dt.isInstanceOf[org.apache.spark.sql.types.NumericType]) rawLead
      else SemanticStream.numericLeadOf(dt, rawLead).getOrElse {
        requireNumericLead(df, rawLead); rawLead
      }
    val parts = math.max(1, df.sparkSession.sessionState.conf.numShufflePartitions)
    val stats = df.agg(min(lead).cast("double").as("__mn"),
      max(lead).cast("double").as("__mx"))
    val width = (col("__mx") - col("__mn")) / parts
    df.join(broadcast(stats))
      .withColumn("__b",
        when(lead.isNull, lit(-1L))
          .when(col("__mx") === col("__mn"), lit(0L))
          .otherwise(least(floor((lead.cast("double") - col("__mn")) / width),
            lit(parts - 1L))).cast("long"))
      .drop("__mn", "__mx")
  }

  /** Prefix offsets over per-bucket totals `(__b, __tot)` → `(__b, __off)`
    * where `__off` is the sum of totals over buckets strictly earlier in
    * the given direction. The window is unpartitioned BY DESIGN: it runs
    * over at most #buckets rows, never the data. */
  private[graft] def prefixOffsets(totals: DataFrame, ascending: Boolean): DataFrame = {
    val bucketOrder = if (ascending) col("__b").asc else col("__b").desc
    totals.withColumn("__off", coalesce(
      sum(col("__tot")).over(
        Window.orderBy(bucketOrder).rowsBetween(Window.unboundedPreceding, -1)),
      lit(0L)))
      .select(col("__b"), col("__off"))
  }

  /** Catalyst-only rank for a TOTAL order whose leading column is numeric
    * (or string — auto-projected, see [[bucketizeByLead]]):
    * [[bucketizeByLead]] → per-bucket `row_number` over the full order →
    * bucket-count [[prefixOffsets]] broadcast back. The same shape as
    * [[rankNumericUnique]], generalized: ties on the lead column are
    * broken by the remaining order columns inside the window, so the
    * caller MUST pass a total order (include a unique tiebreak).
    *
    * Lead-column distribution drives parallelism: equal-width buckets on
    * a high-cardinality lead spread evenly; a heavily-tied lead degrades
    * to fewer effective buckets (still correct). Null/NaN leads sort
    * where Spark's asc/desc ordering puts them (see bucketizeByLead). */
  def rankNumericPrefix(df: DataFrame, lead: Column, order: Seq[Column],
                        renumberIdx: Boolean, ascending: Boolean = true): DataFrame = {
    val w = Window.partitionBy(col("__b")).orderBy(order: _*)
    val bucketed = bucketizeByLead(df, lead)
    val rn = bucketed.withColumn("__rn", row_number().over(w).cast("long"))
    // counts from the PRE-window frame (see rankNumericUnique's note)
    val offsets = prefixOffsets(
      bucketed.groupBy(col("__b")).agg(count(lit(1)).as("__tot")), ascending)
    val out = rn.join(broadcast(offsets), "__b")
      .withColumn("ord", col("__off") + col("__rn") - 1L)
    (if (renumberIdx) out.withColumn("idx", col("ord")) else out)
      .drop("__b", "__rn", "__off")
  }

  /** Composite bucket id for a (small-domain group, numeric lead) order:
    * group-major, equal-width lead sub-buckets within each group from
    * per-group min/max (one cheap agg, broadcast). Monotone in
    * (group asc, lead asc). `group` must be a non-negative, non-null
    * integer of tiny domain (it multiplies the bucket stride). Null
    * leads take the group's dedicated first sub-bucket (asc NULLS FIRST).
    * Adds `__b`. */
  private[graft] def bucketizeByGroupedLead(df: DataFrame, group: Column,
                                            lead: Column): DataFrame = {
    requireNumericLead(df, lead)
    val parts = math.max(1, df.sparkSession.sessionState.conf.numShufflePartitions)
    val stats = df.groupBy(group.as("__g"))
      .agg(min(lead).cast("double").as("__mn"), max(lead).cast("double").as("__mx"))
    val width = (col("__mx") - col("__mn")) / parts
    df.join(broadcast(stats), group <=> col("__g"))
      .withColumn("__b", group.cast("long") * (parts + 1L) +
        when(lead.isNull, lit(0L))
          .when(col("__mx") === col("__mn"), lit(1L))
          .otherwise(lit(1L) + least(floor((lead.cast("double") - col("__mn")) / width),
            lit(parts - 1L))).cast("long"))
      .drop("__g", "__mn", "__mx")
  }

  /** [[rankNumericPrefix]] for a (group, lead) composite order whose
    * FIRST column has tiny cardinality (e.g. concatenate's source
    * ordinal): bucketing on the group alone would collapse to #groups
    * single-threaded windows, so each group gets its own equal-width
    * sub-range of the lead — #groups × #partitions effective buckets.
    * Ascending only (its one caller linearizes an arrival order). */
  def rankGroupedPrefix(df: DataFrame, group: Column, lead: Column,
                        order: Seq[Column], renumberIdx: Boolean): DataFrame = {
    val w = Window.partitionBy(col("__b")).orderBy(order: _*)
    val bucketed = bucketizeByGroupedLead(df, group, lead)
    val rn = bucketed.withColumn("__rn", row_number().over(w).cast("long"))
    // counts from the PRE-window frame (see rankNumericUnique's note)
    val offsets = prefixOffsets(
      bucketed.groupBy(col("__b")).agg(count(lit(1)).as("__tot")), ascending = true)
    val out = rn.join(broadcast(offsets), "__b")
      .withColumn("ord", col("__off") + col("__rn") - 1L)
    (if (renumberIdx) out.withColumn("idx", col("ord")) else out)
      .drop("__b", "__rn", "__off")
  }

  /** General rank: project the first order column to a monotone numeric
    * lead ([[graft.core.SemanticStream.numericLeadOf]] — numeric, string,
    * binary, date/timestamp, bool, struct, array) and take the
    * Catalyst-only bucket path. Two cases keep the legacy RDD rank:
    * leads Catalyst itself cannot order (map-typed — which Spark's own
    * `orderBy` rejects too), and an explicit NON-default null ordering
    * on the lead (`asc_nulls_last`/`desc_nulls_first`): the bucket
    * rank's dedicated null bucket reproduces only Spark's default
    * placement, and the RDD path follows the caller's ordering
    * faithfully. */
  private def rank(df: DataFrame, order: Seq[Column], renumberIdx: Boolean): DataFrame = {
    val (leadCol, asc, defaultNulls) =
      org.apache.spark.sql.GraftColumnShim.unwrapSortOrder(order.head)
    val dt = df.select(leadCol).schema.head.dataType
    SemanticStream.numericLeadOf(dt, leadCol) match {
      case Some(lead) if defaultNulls =>
        rankNumericPrefix(df, lead, order, renumberIdx, ascending = asc)
      case _ => rddRank(df, order, renumberIdx)
    }
  }

  private def rddRank(df: DataFrame, order: Seq[Column], renumberIdx: Boolean): DataFrame = {
    val spark = df.sparkSession
    val parts = math.max(1, spark.sessionState.conf.numShufflePartitions)
    val sorted = df.repartitionByRange(parts, order: _*).sortWithinPartitions(order: _*)
    // zipWithIndex freezes the RDD lineage, so partition ids and range
    // boundaries are computed exactly once (a two-branch DataFrame plan
    // with spark_partition_id() is NOT safe: AQE may coalesce the two
    // consumers of the exchange differently). The extra job it runs to
    // count partition sizes reuses the shuffle output — no source re-scan.
    val schema = sorted.schema
    val ranked = sorted.rdd.zipWithIndex().map { case (row, i) =>
      org.apache.spark.sql.Row.fromSeq(row.toSeq :+ i)
    }
    val withRank = spark.createDataFrame(ranked,
      org.apache.spark.sql.types.StructType(
        schema.fields :+ org.apache.spark.sql.types.StructField(
          "__rank", org.apache.spark.sql.types.LongType, nullable = false)))
    val out = withRank.withColumn("ord", col("__rank"))
    (if (renumberIdx) out.withColumn("idx", col("__rank")) else out).drop("__rank")
  }
}
