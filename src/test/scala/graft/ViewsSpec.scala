package graft

import graft.operators.DailySeries
import graft.serve.Views
import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** The ten dashboard loaders (data_loader.py:29-235) against sf0.001:
  * shape, bounds, internal consistency, equality with their registry
  * twins, and freshness after a day lands.
  */
class ViewsSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  private val dir = "/root/testdata/sf0.001"

  test("companyList: one row per user, labeled") {
    val cl = Views.companyList(spark, dir)
    assert(cl.count() > 0)
    assert(cl.columns.toSeq === Seq("user_id", "label"))
    assert(cl.count() === cl.select("user_id").distinct().count())
  }

  test("stockData: range-bounded single-symbol series with indicators") {
    val anyUser = Views.companyList(spark, dir).head().getLong(0)
    val sd = Views.stockData(spark, dir, anyUser, "2024-01-01", "2024-01-31")
    assert(sd.count() > 0)
    assert(sd.select("user_id").distinct().count() === 1)
    assert(sd.columns.toSeq.takeRight(4) === Seq("sma_14", "ema_14", "rsi_14", "bb_mid"))
  }

  test("topGainers/topLosers: ≤10 rows, ordered, disjoint ends") {
    val g = Views.topGainers(spark, dir).collect()
    val l = Views.topLosers(spark, dir).collect()
    assert(g.length <= 10 && l.length <= 10)
    val gPct = g.map(_.getAs[Double]("pct_change"))
    assert(gPct.sameElements(gPct.sortBy(-_)), "gainers desc")
    assert(gPct.head >= l.map(_.getAs[Double]("pct_change")).head)
  }

  test("marketBehavior covers every trading day once") {
    val mb = Views.marketBehavior(spark, dir)
    assert(mb.count() === mb.select("d").distinct().count())
  }

  test("highVolatility and tradingPatterns are bounded top-k") {
    assert(Views.highVolatility(spark, dir).count() <= 10)
    assert(Views.tradingPatterns(spark, dir).count() <= 100)
  }

  test("companyNews: latest-5 slice for a symbol") {
    val anyUser = Views.companyList(spark, dir).head().getLong(0)
    val news = Views.companyNews(spark, dir, anyUser).collect()
    assert(news.length <= 5 && news.nonEmpty)
  }

  test("stockPredictions/newsAnalysis slice their input tables") {
    val preds = graft.ml.PricePredictor.predictNextDay(spark, dir)
    val anyUser = preds.head().getLong(0)
    assert(Views.stockPredictions(preds, anyUser).count() === 1)
  }

  /** Multiset equality of two frames with the same columns, Spark-side. */
  private def assertSameRows(got: DataFrame, want: DataFrame, what: String): Unit = {
    val w = want.select(got.columns.map(col): _*)
    assert(got.exceptAll(w).isEmpty && w.exceptAll(got).isEmpty, s"$what differs from its twin")
  }

  test("views with a registry twin serve the twin's rows") {
    def twin(q: String) = SparkEntry.queries(q)(spark, dir)
    assertSameRows(Views.companyList(spark, dir).select("user_id"),
      twin("q_latest_day_per_user"), "companyList")
    assert(Views.companyList(spark, dir)
      .filter(col("label") =!= concat(lit("User ("), col("user_id"), lit(")"))).isEmpty)
    assertSameRows(Views.tradingPatterns(spark, dir),
      twin("q_w2_trend").filter(col("pattern") =!= "Neutral")
        .orderBy(col("d").desc, col("user_id")).limit(100), "tradingPatterns")
    // the twins round close to cents and pct_change/pct_range to 4 places
    for ((view, q) <- Seq(Views.topGainers _ -> "q_top_gainers", Views.topLosers _ -> "q_top_losers"))
      assertSameRows(view(spark, dir).select(col("user_id"), col("d"),
        round(col("close"), 2).as("close"), round(col("pct_change"), 4).as("pct_change")), twin(q), q)
    assertSameRows(Views.highVolatility(spark, dir)
      .withColumn("pct_range", round(col("pct_range"), 4)), twin("q_top_volatility"), "highVolatility")
    // and rank them in the twins' order: the rounded value, then user_id
    def order(df: DataFrame) = df.select("user_id", "d").collect().toSeq
    for ((view, q) <- Seq(Views.topGainers _ -> "q_top_gainers", Views.topLosers _ -> "q_top_losers",
                          Views.highVolatility _ -> "q_top_volatility"))
      assert(order(view(spark, dir)) === order(twin(q)), s"$q order")
    // the twin averages closes rounded to micros, the view plain doubles:
    // they agree to within the rounding's half-micro
    val mb = Views.marketBehavior(spark, dir)
    val mbTwin = twin("q_market_behavior")
    assertSameRows(mb.select("d", "n_users"), mbTwin, "marketBehavior")
    assert(mb.join(mbTwin.withColumnRenamed("avg_close", "want"), Seq("d"))
      .filter(abs(col("avg_close") - col("want")) > 5e-7).isEmpty, "marketBehavior avg_close")
  }

  test("bounded views sort in one partition: no range shuffle, stockData no exchange") {
    def exchanges(df: DataFrame): Seq[ShuffleExchangeExec] = {
      df.collect()
      collect(df.queryExecution.executedPlan) { case e: ShuffleExchangeExec => e }
    }
    val anyUser = Views.companyList(spark, dir).head().getLong(0)
    assert(exchanges(Views.stockData(spark, dir, anyUser, "2024-01-01", "2024-01-31")).isEmpty)
    for (view <- Seq(Views.companyList(spark, dir), Views.marketBehavior(spark, dir)))
      assert(!exchanges(view).exists(_.outputPartitioning.isInstanceOf[RangePartitioning]),
        view.queryExecution.executedPlan.toString)
  }

  test("views serve a day landed after their first request; plain scans see it too") {
    val tmp = Files.createTempDirectory("graft-views")
    try {
      val events = Files.createDirectories(tmp.resolve("events.parquet"))
      Files.copy(java.nio.file.Paths.get(s"$dir/events.parquet"), events.resolve("part-0.parquet"))
      val sf = tmp.toString
      // the next day: the last day's events a day later, plus a new user,
      // written outside the table and moved in from outside Spark (Spark's
      // own writer would refresh the table path it writes)
      val raw = spark.read.parquet(s"$dir/events.parquet")
      val lastDay = raw.agg(max(to_date(col("ts")))).head().getDate(0)
      val moved = raw.filter(to_date(col("ts")) === lit(lastDay))
        .withColumn("ts", col("ts") + expr("INTERVAL 1 DAY"))
        .withColumn("event_id", col("event_id") + 1000000000L)
      val newUser = raw.agg(max("user_id")).head().getLong(0) + 1
      val nextDay = moved.unionByName(moved.limit(1).withColumn("user_id", lit(newUser)))
      val staged = tmp.resolve("staged").toString
      nextDay.coalesce(1).write.parquet(staged)

      assert(Views.companyNews(spark, sf, newUser).isEmpty)
      val days0 = Views.marketBehavior(spark, sf).collect().map(_.getDate(0))
      val users0 = Views.companyList(spark, sf).collect().map(_.getLong(0))
      val bars0 = DailySeries(spark, sf).count()
      val file = Files.list(java.nio.file.Paths.get(staged)).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.move(file, events.resolve("part-1.parquet"))

      // first, before any view rebuilds: a plan-matching scan of the same
      // table must not be answered from the views' bars
      val newBars = nextDay.select("user_id").distinct().count()
      assert(DailySeries(spark, sf).count() === bars0 + newBars)
      val days1 = Views.marketBehavior(spark, sf).collect().map(_.getDate(0))
      assert(days1.toSeq === (days0 :+ days1.last).toSeq)
      assert(days1.last.toLocalDate === lastDay.toLocalDate.plusDays(1))
      val users1 = Views.companyList(spark, sf).collect().map(_.getLong(0))
      assert(users1.toSet === users0.toSet + newUser)
      // the events relation companyNews reads is rebuilt with the bars
      val news = Views.companyNews(spark, sf, newUser).collect()
      assert(news.map(_.getAs[java.sql.Date]("event_date").toLocalDate).toSeq ===
        Seq(lastDay.toLocalDate.plusDays(1)))
    } finally rmTree(tmp.toString)
  }
}
