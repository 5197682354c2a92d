package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The engine's "stock price" time series, derived from `events`:
  * user_id plays the symbol, the daily average `value` plays the close.
  * This mirrors the reference's (symbol, trade_date, closing_price)
  * fact table (stock_price_history — SURVEY.md §1.3) on the driver's
  * synthetic schema.
  *
  * Determinism: `value` is 2-decimal money, so the daily average is
  * computed over EXACT integer cents (`round(value*100)::long`). Integer
  * sums are order-independent, so `close` is bit-identical across
  * engines, partition counts, and retries — double summation would vary
  * in the last ulp with shuffle layout and break hash-compares (and, at
  * 100 TB, silently change results between runs).
  *
  * Scale: one hash-aggregate shuffle on (user_id, event_date); every
  * downstream window partitions by user_id, so AQE can reuse the
  * shuffle's partitioning.
  */
object DailySeries {

  /** Exact cents column. */
  def cents(value: Column): Column = round(value * 100).cast("long")

  def apply(spark: SparkSession, dir: String): DataFrame =
    series(Tables.events(spark, dir))

  /** [[apply]] over a RAW-pushdown-bounded events scan
    * ([[Tables.eventsIn]]): a filter on the DERIVED
    * `d`/`event_date` column never reaches the parquet reader, so the
    * day-scoped pipeline stages were reading the full events lake to
    * derive one day's bars (invisible at sf0.1's one row group; the
    * decade vs the day at 100 TB — guide §6). Bounds are UTC epoch
    * seconds, [from, until); rows are identical to filtering `d` by
    * construction (event_date IS the UTC floor-to-day of ts), which
    * the q_e1_day oracle hash-gates. */
  def between(spark: SparkSession, dir: String,
              fromSec: Option[Long], untilSec: Option[Long]): DataFrame =
    series(Tables.eventsIn(spark, dir, fromSec, untilSec))

  private def series(events: DataFrame): DataFrame =
    events
      // One shuffle for the whole series pipeline: hash-partitioning by
      // user_id alone satisfies the aggregate's (user_id, d) clustering
      // AND every downstream Window.partitionBy(user_id) — without this
      // the plan pays a second user_id exchange after the rollup.
      // (Map-side partial aggregation still combines before the wire.)
      .repartition(col("user_id"))
      .groupBy(col("user_id"), col("event_date").as("d"))
      .agg(
        (sum(cents(col("value"))).cast("double") / (lit(100.0) * count(lit(1)))).as("close"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        count(lit(1)).as("n_events"))

  /** DuckDB-side equivalent (oracle building block) — the exact same
    * fixed-point arithmetic, op for op. */
  val sql: String =
    """SELECT user_id, CAST(ts AS DATE) AS d,
      |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / (100.0 * count(*)) AS close,
      |       max(value) AS high,
      |       min(value) AS low,
      |       count(*) AS n_events
      |FROM events GROUP BY 1, 2""".stripMargin
}
