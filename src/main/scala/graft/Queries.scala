package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Readers

/** Query registry backing [[SparkEntry]]: every implemented operator from
  * SURVEY.md §2 plus the LLM-pipeline operators, each over the driver
  * parquet tables and (where SQL-expressible) paired with a DuckDB oracle.
  *
  * Families: [[QueriesCore]] (sources/index ops/windows/grouping),
  * [[QueriesStats]] (statistics/find/match/joins), [[QueriesText]]
  * (charsequence surface, text analysis, dedup, multimodal),
  * [[QueriesSim]] (similarity search, spectral, sessionization).
  */
object Queries {

  /** events with `ts` normalized to epoch NANOSECONDS (long), whichever
    * physical type the generator wrote: TIMESTAMP(NANOS) arrives as long
    * under `nanosAsLong` (pass-through); TIMESTAMP_MICROS arrives as a
    * timestamp — isAdjustedToUTC=false infers TIMESTAMP_NTZ, which under
    * the UTC session timezone every entrypoint pins reinterprets exactly
    * to the oracle's naive epoch_ns(). Scaled ×1000 (exact integer, no
    * precision to lose, no overflow until 2262) so downstream gap/as-of/
    * range arithmetic stays exact-integer either way. */
  private[graft] def eventsTsNanos(spark: SparkSession, dir: String): DataFrame = {
    val ev = Readers.table(spark, dir, "events")
    ev.schema("ts").dataType match {
      case org.apache.spark.sql.types.TimestampType | org.apache.spark.sql.types.TimestampNTZType =>
        ev.withColumn("ts",
          unix_micros(col("ts").cast(org.apache.spark.sql.types.TimestampType)) * 1000L)
      case _ => ev
    }
  }

  /** TPC-H Q1-shaped pricing summary: groupBy + sums/avgs over lineitem —
    * the reference's group/summate/average collectors (collector.h:488-544,
    * 1065-1130) as one partial-aggregated Spark plan. */
  def q1Agg(spark: SparkSession, dir: String): DataFrame =
    Readers.table(spark, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-01").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("sum_disc_price"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        round(avg(col("l_discount")), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  val all: Map[String, (SparkSession, String) => DataFrame] =
    Map("q1_agg" -> (q1Agg _)) ++
      QueriesCore.all ++ QueriesStats.all ++ QueriesText.all ++
      QueriesSim.all ++ QueriesChar.all

  val oracles: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base_price,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price,
        |  round(avg(l_quantity), 4) AS avg_qty,
        |  round(avg(l_discount), 4) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-01'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin
  ) ++ QueriesCore.oracles ++ QueriesStats.oracles ++
    QueriesText.oracles ++ QueriesSim.oracles ++ QueriesChar.oracles
}
