package graft.serve

import graft.Tables
import graft.functions.Indicators
import graft.operators.{Checkpoints, DailySeries}
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference dashboard's ten loaders (dashboard/utils/data_loader.py:
  * 29-235) as named DataFrame views over the engine's series model
  * (user_id = symbol, DailySeries = price history).
  *
  * Serving notes: the reference caches each loader for 1h
  * (`@st.cache_data(ttl=3600)`). Here every view reads one shared,
  * already-prepared input per SNAPSHOT of the events files ([[entry]]):
  * the session's daily bars of `dir`, materialized once, and the
  * events relation itself (listed and schema-inferred once), which
  * `companyNews` reads for its event-grain rows. A request whose file
  * listing (path, length, mtime) differs from the one the entry was
  * built from rebuilds both. That is exact invalidation, not a TTL: a
  * landed day or a rewritten file is served on the next request, and
  * an unchanged table is never re-scanned.
  *
  * The snapshot is listed with `listStatus`, never `listFiles`: Hadoop
  * wraps each file `listFiles` returns in a `LocatedFileStatus`, whose
  * constructor reads the file's permission, owner and group, and
  * without the native Hadoop library the local file system reads them
  * by running one `ls -ld` subprocess per file. `listStatus` builds
  * plain statuses and reads none of that.
  *
  * The bars are pinned (`Checkpoints.pin`), not registered with the
  * CacheManager through `cache`/`persist`. The CacheManager substitutes
  * a cached plan into ANY later query of the session whose plan
  * matches, and file indexes compare by root path; so after a file
  * landed from outside the session, an unrelated `DailySeries(spark,
  * dir)` (PricePredictor.features, the registry's series queries)
  * would silently read the stale cached bars. A pinned frame is
  * invisible to the CacheManager; ViewsSpec's freshness spec holds
  * both sides of that.
  *
  * Every view is bounded (top-k or per-key slice): nothing here
  * collects an unbounded result to the driver. Where the bound is
  * small by construction, the view sorts in one partition
  * (`coalesce(1)`): `stockData` holds one symbol's days, `companyList`
  * one row per symbol and `marketBehavior` one row per day. A single
  * partition satisfies both the per-symbol windows' clustering and the
  * sort's ordering, so those views plan no range-sample job and no
  * range shuffle (and `stockData` no exchange at all). The top-k views
  * already end in one `TakeOrderedAndProject`.
  */
object Views {

  /** What a session prepared for one events table, and the snapshot of
    * its files it was prepared from. */
  private final case class Pinned(snapshot: Set[(String, Long, Long)], bars: DataFrame,
                                  events: DataFrame)

  private val pinned = new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), Pinned]()

  /** `DailySeries(spark, dir)` pinned, and `Tables.events(spark, dir)`,
    * once per snapshot of the events files. The snapshot is a
    * driver-side listing of the table's leaf files, the set Spark's scan
    * lists (a name below the root starting with `_` or `.`, e.g. a
    * writer's `_temporary/.../part-*`, is skipped at every level), taken
    * BEFORE the build: a file landing mid-build makes the next request's
    * snapshot differ, so it can cause a spare rebuild but never a stale
    * hit. Concurrent misses on one (session, table) build once; the map
    * is bounded like `ModelArtifact`'s loaded models. A superseded pin's
    * blocks go when Spark's ContextCleaner collects its RDD, after the
    * last request holding it. */
  private def entry(spark: SparkSession, dir: String): Pinned = {
    val path = new Path(s"$dir/events.parquet")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = fs.makeQualified(path)
    def leaves(p: Path): Iterator[FileStatus] =
      fs.listStatus(p).iterator
        .filterNot(f => f.getPath.getName.startsWith("_") || f.getPath.getName.startsWith("."))
        .flatMap(f => if (f.isDirectory) leaves(f.getPath) else Iterator(f))
    val snapshot = leaves(root)
      .map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).toSet
    if (pinned.size > 16) pinned.clear()
    pinned.compute((spark, root.toString), (_, old) =>
      if (old != null && old.snapshot == snapshot) old
      else Pinned(snapshot, Checkpoints.pin(DailySeries(spark, dir)), Tables.events(spark, dir)))
  }

  private def bars(spark: SparkSession, dir: String): DataFrame = entry(spark, dir).bars

  /** data_loader.py:23-40 — company dropdown list (A5). Every event
    * yields a bar row, so the bars hold exactly the events' users. */
  def companyList(spark: SparkSession, dir: String): DataFrame =
    bars(spark, dir)
      .select(col("user_id")).distinct()
      .withColumn("label", concat(lit("User ("), col("user_id"), lit(")")))
      .coalesce(1).orderBy("user_id")

  /** data_loader.py:43-57 — one symbol's series in a date range, with
    * the dashboard's indicator columns (indicators.py). */
  def stockData(spark: SparkSession, dir: String, userId: Long,
                start: String, end: String): DataFrame = {
    val w = Indicators.series("user_id", "d")
    bars(spark, dir)
      .filter(col("user_id") === userId && col("d").between(start, end))
      .coalesce(1)
      .withColumns(Map( // a Map of four keeps this (output) order
        "sma_14" -> Indicators.sma(col("close"), w, 14),
        "ema_14" -> Indicators.ema(col("close"), w, 14),
        "rsi_14" -> Indicators.rsi(col("close"), w, 14),
        "bb_mid" -> Indicators.bollinger(col("close"), w, 20)._1))
      .orderBy("d")
  }

  /** data_loader.py:60-80 — latest prediction per symbol (from the
    * PricePredictor output table). */
  def stockPredictions(predictions: DataFrame, userId: Long): DataFrame =
    predictions.filter(col("user_id") === userId)
      .orderBy(col("d").desc).limit(1)

  /** data_loader.py:83-103 — latest 5 "news" items (events) for a symbol (O4). */
  def companyNews(spark: SparkSession, dir: String, userId: Long): DataFrame =
    entry(spark, dir).events
      .filter(col("user_id") === userId)
      .orderBy(col("ts").desc, col("event_id").desc)
      .select("event_id", "event_type", "value", "event_date")
      .limit(5)

  /** data_loader.py:110-120 — patterns view capped at 100 (J4+O6). */
  def tradingPatterns(spark: SparkSession, dir: String): DataFrame = {
    val w = Indicators.series("user_id", "d")
    bars(spark, dir)
      .withColumn("c1", lag(col("close"), 1).over(w))
      .withColumn("c2", lag(col("close"), 2).over(w))
      .filter(col("c1").isNotNull && col("c2").isNotNull)
      .withColumn("pattern",
        when(col("close") > col("c1") && col("c1") > col("c2"), "Bullish Trend")
          .when(col("close") < col("c1") && col("c1") < col("c2"), "Bearish Trend")
          .otherwise("Neutral"))
      .filter(col("pattern") =!= "Neutral")
      .select("user_id", "d", "pattern")
      .orderBy(col("d").desc, col("user_id"))
      .limit(100)
  }

  private def latestChange(spark: SparkSession, dir: String): DataFrame = {
    val w = Indicators.series("user_id", "d")
    val latest = Window.partitionBy("user_id").orderBy(col("d").desc)
    bars(spark, dir)
      .withColumn("pct_change", Indicators.pctChange(col("close"), w))
      .withColumn("rn", row_number().over(latest))
      .filter(col("rn") === 1 && col("pct_change").isNotNull)
      .select("user_id", "d", "close", "pct_change")
  }

  /** data_loader.py:138-154 — top-10 gainers on the latest day (J5+O1).
    * Ranked like the registry twin `q_top_gainers`: by `pct_change`
    * rounded to 4 places, ties by `user_id`. Only the sort key is
    * rounded; the output values are not. */
  def topGainers(spark: SparkSession, dir: String): DataFrame =
    latestChange(spark, dir).orderBy(round(col("pct_change"), 4).desc, col("user_id")).limit(10)

  /** data_loader.py:157-175 — top-10 losers, ranked like `q_top_losers`. */
  def topLosers(spark: SparkSession, dir: String): DataFrame =
    latestChange(spark, dir).orderBy(round(col("pct_change"), 4).asc, col("user_id")).limit(10)

  /** data_loader.py:201-213 — market-wide daily average (A2). */
  def marketBehavior(spark: SparkSession, dir: String): DataFrame =
    bars(spark, dir)
      .groupBy("d")
      .agg(avg("close").as("avg_close"), count(lit(1)).as("n_users"))
      .coalesce(1).orderBy("d")

  /** data_loader.py:218-232 — top-10 intraday volatility (O3), ranked
    * like `q_top_volatility`: by `pct_range` rounded to 4 places, ties
    * by `user_id`; the output `pct_range` is not rounded. */
  def highVolatility(spark: SparkSession, dir: String): DataFrame = {
    val latest = Window.partitionBy("user_id").orderBy(col("d").desc)
    bars(spark, dir)
      .filter(col("low") > 0)
      .withColumn("pct_range", (col("high") - col("low")) / col("low") * 100)
      .withColumn("rn", row_number().over(latest))
      .filter(col("rn") === 1)
      .select("user_id", "d", "pct_range")
      .orderBy(round(col("pct_range"), 4).desc, col("user_id"))
      .limit(10)
  }

  /** data_loader.py:125-135 — per-symbol sentiment/analysis rollup slice
    * (over the NewsStockAnalysis output). */
  def newsAnalysis(analysis: DataFrame, userId: Long): DataFrame =
    analysis.filter(col("user_id") === userId).orderBy(col("d").desc).limit(30)
}
