package graft.jobs

import graft.Tables
import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Date-partitioned events lake — the 100 TB layout story end-to-end on
  * the driver's own data. One job rewrites the flat `events` table as
  * hive-style `event_date=YYYY-MM-DD` partitions; every daily query
  * then reads with PartitionFilters: directory-level pruning decided at
  * planning time, which skips whole days without opening a single
  * parquet footer — one level better than the row-group pushdown
  * [[Tables.eventsIn]] gets on the flat file (PruningSpec pins the
  * plan shape, q_lake_slice oracle-pins the values).
  *
  * Reference shape: the processed-zone daily folders the reference
  * writes one day at a time (full_stock_pipeline.py:222-235); here the
  * backfill form — one partitioned rewrite of history. The incremental
  * form is [[graft.sources.Sinks.processedParquet]] (append one day's
  * partition) with [[graft.sources.Sinks.mergeIntoPartitioned]] for
  * late-day replays.
  */
object EventsLake {

  /** Write `sfDir`'s events as a lake at `lakePath`. The pre-write
    * `repartition(event_date)` puts each day in ONE task so a day's
    * partition is one file, not one file per shuffle task — the
    * standard small-files guard when backfilling a partitioned lake
    * (at real scale you'd hash on (day, salt) for a few files per
    * day; one task per day is right for the bench sizes). */
  def build(spark: SparkSession, sfDir: String, lakePath: String): Unit =
    Tables.events(spark, sfDir)
      .repartition(col("event_date"))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("event_date")
      .parquet(lakePath)

  /** Retention: drop every `event_date=` partition strictly BEFORE
    * `keepFromDate` (ISO yyyy-MM-dd; string order = date order).
    * Returns the dropped dates, sorted.
    *
    * This is the operational payoff of the date-partitioned layout: at
    * 100 TB, expiring old data is O(days) directory metadata work —
    * no scan, no rewrite, no tombstone compaction. Idempotent
    * (re-expiring is a no-op) and crash-safe (each partition delete is
    * atomic at the directory level; a crash mid-loop leaves a lake
    * that is still valid and simply not fully expired yet). */
  def expire(spark: SparkSession, lakePath: String, keepFromDate: String): Seq[String] = {
    require(keepFromDate.matches("\\d{4}-\\d{2}-\\d{2}"),
      s"keepFromDate must be yyyy-MM-dd, got '$keepFromDate'")
    val path = new org.apache.hadoop.fs.Path(lakePath)
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    val dropped = fs.listStatus(path).toSeq
      .filter(_.isDirectory).map(_.getPath)
      .filter { p =>
        p.getName.startsWith("event_date=") &&
          p.getName.stripPrefix("event_date=") < keepFromDate
      }
    dropped.foreach { p =>
      // fs.delete returning false with the path still present means a
      // failed delete — report it loudly rather than claiming the
      // partition was dropped (a partially failed expiry must not
      // look like a successful one)
      if (!fs.delete(p, true) && fs.exists(p))
        sys.error(s"expire: failed to delete partition $p")
    }
    dropped.map(_.getName.stripPrefix("event_date=")).sorted
  }
}
