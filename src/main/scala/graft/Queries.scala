package graft

import graft.functions.{Calendar, Indicators}
import graft.operators.{Conform, DailySeries, Merge}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

/** The relational operator surface (SURVEY.md §2) as named queries over
  * the driver's star schema, each with a DuckDB oracle.
  *
  * Mapping of the reference's trading model onto the testdata:
  * `events.user_id` = symbol, daily avg(value) = closing price
  * (see DailySeries). Dims: nation/region/supplier = tech_companies.
  *
  * Every query:
  *  - ends in a total ORDER BY (deterministic row order),
  *  - aliases every computed column identically in Spark and SQL,
  *  - rounds double outputs (fp-order differences between engines),
  *  - outputs DATE / BIGINT / STRING / DOUBLE only (no raw ns
  *    timestamps, no float32, no arrays — oracle-safe types).
  */
object Queries {

  type Q = (SparkSession, String) => DataFrame
  /** name -> (query, optional DuckDB oracle SQL) */
  val registry = scala.collection.mutable.LinkedHashMap[String, (Q, Option[String])]()

  private def register(name: String, oracle: String)(fn: Q): Unit =
    registry(name) = (fn, Some(oracle.stripMargin))
  private def registerNoOracle(name: String)(fn: Q): Unit =
    registry(name) = (fn, None)

  /** One E1 pipeline lake per (JVM, source dir): the Pipeline merges
    * are idempotent, so bench re-passes reuse the lake instead of
    * leaking a fresh temp dir per execution; all lakes are deleted on
    * JVM exit by a single shutdown hook. */
  private val e1Lakes = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private lazy val e1CleanupHook: Unit = sys.addShutdownHook {
    e1Lakes.values.forEach { root =>
      val p = java.nio.file.Paths.get(root)
      if (java.nio.file.Files.exists(p)) {
        val s = java.nio.file.Files.walk(p)
        try s.sorted(java.util.Comparator.reverseOrder())
          .forEach(f => java.nio.file.Files.deleteIfExists(f))
        finally s.close()
      }
    }
  }
  private def e1LakeRoot(dir: String): String = {
    e1CleanupHook
    e1Lakes.computeIfAbsent(dir,
      _ => java.nio.file.Files.createTempDirectory("graft-e1").toString)
  }

  /** The source history's last day — the one q_e1_day replays. */
  private val e1Days = new java.util.concurrent.ConcurrentHashMap[String, java.sql.Date]()
  private def e1LastDay(s: SparkSession, dir: String): java.sql.Date =
    e1Days.computeIfAbsent(dir,
      _ => Tables.events(s, dir).agg(max(col("event_date"))).head().getDate(0))

  /** q_e1_day's standing lake per (JVM, source dir): stood up ONCE by
    * a whole-history replay bounded to BEFORE the last day, so every
    * execution replays that day incrementally against real standing
    * state (same lifecycle/cleanup as [[e1LakeRoot]]). */
  private def e1DayLakeRoot(s: SparkSession, dir: String): String = {
    e1CleanupHook
    e1Lakes.computeIfAbsent(s"e1day:$dir", { _ =>
      val root = java.nio.file.Files.createTempDirectory("graft-e1day").toString
      // the standup is a bounded Pipeline.run — restore the full-replay
      // stage telemetry afterwards so the bench's `e1_stages` can never
      // be this fixture's standup mislabeled as q_e1_pipeline's run
      // (r19 review)
      val saved = graft.jobs.Pipeline.lastStageSeconds
      graft.jobs.Pipeline.run(s, dir, root, before = Some(e1LastDay(s, dir)))
      graft.jobs.Pipeline.lastStageSeconds = saved
      root
    })
  }

  /** One date-partitioned events lake per (JVM, source dir) for
    * q_lake_slice — built once by [[graft.jobs.EventsLake.build]],
    * read by every execution; same lifecycle/cleanup as [[e1LakeRoot]]. */
  private def eventsLakeRoot(s: SparkSession, dir: String): String = {
    e1CleanupHook
    e1Lakes.computeIfAbsent(s"events-lake:$dir", { _ =>
      val path = java.nio.file.Files.createTempDirectory("graft-evlake").toString
      graft.jobs.EventsLake.build(s, dir, s"$path/events")
      s"$path/events"
    })
  }

  // ───────────────────────── aggregations ─────────────────────────

  // A1/A4/P12 — grouped rollup with sum/avg/count (TPC-H Q1 shape).
  // Reference: analyze_news_stock_patterns.py:20-28.
  // (determinism: quantities are integer-valued and prices 2-decimal,
  // so sums run over exact integers — order-independent, no rounding.)
  register("q_agg_summary",
    """SELECT l_returnflag, l_linestatus,
      |       sum(l_quantity) AS sum_qty,
      |       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_price,
      |       avg(l_quantity) AS avg_qty,
      |       count(*) AS cnt
      |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""") { (s, dir) =>
    Tables.lineitem(s, dir)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum("l_quantity").as("sum_qty"),
        (sum(round(col("l_extendedprice") * 100).cast("long")).cast("double") / 100.0).as("sum_price"),
        avg("l_quantity").as("avg_qty"),
        count(lit(1)).as("cnt"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  // A2 — market-wide daily average. Reference: data_loader.py:208-213.
  // (re-aggregated doubles are pre-scaled to fixed-point so the second
  // sum is also exact and order-independent.)
  register("q_market_behavior",
    s"""WITH daily AS (${DailySeries.sql})
       |SELECT d,
       |       CAST(sum(CAST(round(close * 1000000) AS BIGINT)) AS DOUBLE) / (1000000.0 * count(*)) AS avg_close,
       |       count(*) AS n_users
       |FROM daily GROUP BY d ORDER BY d""") { (s, dir) =>
    DailySeries(s, dir)
      .groupBy("d")
      .agg(
        (sum(round(col("close") * 1000000).cast("long")).cast("double") /
          (lit(1000000.0) * count(lit(1)))).as("avg_close"),
        count(lit(1)).as("n_users"))
      .orderBy("d")
  }

  // A3 — per-key latest date. Reference: data_loader.py:145-148.
  register("q_latest_day_per_user",
    """SELECT user_id, max(CAST(ts AS DATE)) AS last_d, count(*) AS n
      |FROM events GROUP BY user_id ORDER BY user_id""") { (s, dir) =>
    Tables.events(s, dir)
      .groupBy("user_id")
      .agg(max("event_date").as("last_d"), count(lit(1)).as("n"))
      .orderBy("user_id")
  }

  // A5/P2 — DISTINCT projection. Reference: data_loader.py:30-33.
  register("q_distinct_dims",
    """SELECT DISTINCT c_nationkey, c_mktsegment FROM customer
      |ORDER BY c_nationkey, c_mktsegment""") { (s, dir) =>
    Tables.customer(s, dir)
      .select("c_nationkey", "c_mktsegment").distinct()
      .orderBy("c_nationkey", "c_mktsegment")
  }

  // ─────────────────────── scans / conform ────────────────────────

  // S6/P2/P9/P10 — pushed-down filter + pruned projection.
  // Reference: data_loader.py:43-57.
  register("q_filter_project",
    """SELECT l_orderkey, l_linenumber, l_quantity AS qty,
      |       l_extendedprice AS price
      |FROM lineitem
      |WHERE l_quantity > 45 AND l_discount <= 0.02
      |  AND CAST(l_shipdate AS DATE) BETWEEN DATE '1995-01-01' AND DATE '1997-12-31'
      |ORDER BY l_orderkey, l_linenumber""") { (s, dir) =>
    Tables.lineitem(s, dir)
      .filter(col("l_quantity") > 45 && col("l_discount") <= 0.02 &&
        to_date(col("l_shipdate")).between("1995-01-01", "1997-12-31"))
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_quantity").as("qty"), col("l_extendedprice").as("price"))
      .orderBy("l_orderkey", "l_linenumber")
  }

  // P1-P4 — rename / subset / add-missing-default / cast+fill conform.
  // Reference: full_stock_pipeline.py:282-317.
  register("q_conform",
    """SELECT l_orderkey AS okey, l_linenumber AS line, l_quantity AS qty,
      |       l_extendedprice AS price, l_discount AS disc, CAST(0.0 AS DOUBLE) AS adj
      |FROM lineitem ORDER BY okey, line""") { (s, dir) =>
    val renamed = Conform.rename(Tables.lineitem(s, dir), Map(
      "l_orderkey" -> "okey", "l_linenumber" -> "line", "l_quantity" -> "qty",
      "l_extendedprice" -> "price", "l_discount" -> "disc"))
    val subset = Conform.selectSubset(renamed, Seq("okey", "line", "qty", "price", "disc"))
    val conformed = Conform.castAndFill(
      Conform.addMissing(subset, Seq("adj" -> lit(0.0))),
      Map("qty" -> DoubleType, "price" -> DoubleType, "disc" -> DoubleType), 0.0)
    conformed.orderBy("okey", "line")
  }

  // P6/P15 — money-string strip + cast (round-trips a '$1,234.56'-style
  // string). Reference: fetch_tech_companies.py:52-53.
  register("q_money_strip",
    """SELECT p_partkey,
      |       '$' || CAST(CAST(p_retailprice AS DECIMAL(12,2)) AS VARCHAR) AS money_raw,
      |       CAST(regexp_replace('$' || CAST(CAST(p_retailprice AS DECIMAL(12,2)) AS VARCHAR), '[$,]', '', 'g') AS DOUBLE) AS price_clean
      |FROM part ORDER BY p_partkey""") { (s, dir) =>
    Tables.part(s, dir)
      .withColumn("money_raw",
        concat(lit("$"), col("p_retailprice").cast("decimal(12,2)").cast("string")))
      .withColumn("price_clean",
        regexp_replace(col("money_raw"), "[$,]", "").cast("double"))
      .select("p_partkey", "money_raw", "price_clean")
      .orderBy("p_partkey")
  }

  // P7 — regex predicate. Reference: fetch_tech_companies.py:56.
  register("q_regex_filter",
    """SELECT p_partkey, p_name FROM part
      |WHERE regexp_matches(p_name, '^(red|blue) [a-z]+$')
      |ORDER BY p_partkey""") { (s, dir) =>
    Tables.part(s, dir)
      .filter(col("p_name").rlike("^(red|blue) [a-z]+$"))
      .select("p_partkey", "p_name")
      .orderBy("p_partkey")
  }

  // P16 — CSV-ish split → explode → trim → distinct.
  // Reference: fetch_transform_news.py:60-66.
  register("q_split_explode",
    """SELECT DISTINCT trim(tok) AS tok
      |FROM (SELECT unnest(string_split(p_type, ' ')) AS tok FROM part) t
      |ORDER BY tok""") { (s, dir) =>
    Tables.part(s, dir)
      .select(explode(split(col("p_type"), " ")).as("tok"))
      .select(trim(col("tok")).as("tok")).distinct()
      .orderBy("tok")
  }

  // P5/P9/P17/P18/P19 — date surface: epoch→date, last-trading-day
  // calendar fold, next-day shift, range predicate.
  // Reference: full_stock_pipeline.py:51-57,321; analyze...py:217.
  register("q_dates",
    """SELECT event_id,
      |       epoch_ns(ts) // 1000000000 AS ts_sec,
      |       CAST(ts AS DATE) AS d,
      |       CASE WHEN isodow(CAST(ts AS DATE)) = 6 THEN CAST(ts AS DATE) - 1
      |            WHEN isodow(CAST(ts AS DATE)) = 7 THEN CAST(ts AS DATE) - 2
      |            ELSE CAST(ts AS DATE) END AS trading_d,
      |       CAST(ts AS DATE) + 1 AS next_d
      |FROM events
      |WHERE CAST(ts AS DATE) >= DATE '2024-01-05'
      |ORDER BY event_id""") { (s, dir) =>
    // event_date >= 2024-01-05 ⟺ ts >= its midnight epoch, but pushed
    // to the raw parquet column instead of filtering the derived column
    Tables.eventsIn(s, dir, Some(1704412800L), None)
      .select(
        col("event_id"),
        col("ts_sec"),
        col("event_date").as("d"),
        Calendar.lastTradingDay(col("event_date")).as("trading_d"),
        Calendar.nextDay(col("event_date")).as("next_d"))
      .orderBy("event_id")
  }

  // Time-sliced rollup through Tables.eventsIn: the [from, until)
  // bound is applied to the RAW parquet ts column (whatever its vintage)
  // so it reaches the scan as a pushed row-group/page filter — the 100 TB
  // "read one day, not the decade" path. TablesSpec pins the pushdown;
  // this query pins the values. Aggregates are count/min/max only —
  // partition-order independent, so byte-exact at any parallelism.
  register("q_time_slice",
    """SELECT event_type,
      |       CAST(count(*) AS BIGINT) AS n,
      |       CAST(min(epoch_ns(ts) // 1000000000) AS BIGINT) AS first_sec,
      |       CAST(max(epoch_ns(ts) // 1000000000) AS BIGINT) AS last_sec
      |FROM events
      |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
      |  AND ts <  TIMESTAMP '2024-01-12 00:00:00'
      |GROUP BY event_type ORDER BY event_type""") { (s, dir) =>
    Tables.eventsIn(s, dir, Some(1704844800L), Some(1705017600L))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        min("ts_sec").as("first_sec"),
        max("ts_sec").as("last_sec"))
      .orderBy("event_type")
  }

  // Same daily rollup OFF THE PARTITIONED LAKE: q_time_slice reads the
  // flat file with a pushed row-group filter; this reads the
  // EventsLake copy where `event_date` is the physical partition key,
  // so the one-day predicate becomes a PartitionFilter — directory
  // pruning at planning time, zero footers opened outside the day
  // (PruningSpec pins the plan; this oracle pins the values against
  // the ORIGINAL flat table, so a lake row lost or misfiled in the
  // rewrite fails the hash gate).
  register("q_lake_slice",
    """SELECT event_type,
      |       CAST(count(*) AS BIGINT) AS n,
      |       CAST(min(epoch_ns(ts) // 1000000000) AS BIGINT) AS first_sec,
      |       CAST(max(epoch_ns(ts) // 1000000000) AS BIGINT) AS last_sec
      |FROM events
      |WHERE ts >= TIMESTAMP '2024-01-11 00:00:00'
      |  AND ts <  TIMESTAMP '2024-01-12 00:00:00'
      |GROUP BY event_type ORDER BY event_type""") { (s, dir) =>
    s.read.parquet(eventsLakeRoot(s, dir))
      .filter(col("event_date") === to_date(lit("2024-01-11")))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        min("ts_sec").as("first_sec"),
        max("ts_sec").as("last_sec"))
      .orderBy("event_type")
  }

  // ───────────────────────────── joins ─────────────────────────────

  // J1 — facts × broadcast dim chain (supplier→nation→region), LEFT.
  // Reference: full_stock_pipeline.py:403-404.
  register("q_join_enrich",
    """SELECT r_name, n_name,
      |       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
      |       count(*) AS cnt
      |FROM lineitem
      |LEFT JOIN supplier ON l_suppkey = s_suppkey
      |LEFT JOIN nation ON s_nationkey = n_nationkey
      |LEFT JOIN region ON n_regionkey = r_regionkey
      |GROUP BY 1, 2 ORDER BY 1, 2""") { (s, dir) =>
    Tables.lineitem(s, dir)
      .join(broadcast(Tables.supplier(s, dir)), col("l_suppkey") === col("s_suppkey"), "left")
      .join(broadcast(Tables.nation(s, dir)), col("s_nationkey") === col("n_nationkey"), "left")
      .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"), "left")
      .groupBy("r_name", "n_name")
      .agg(
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
        count(lit(1)).as("cnt"))
      .orderBy("r_name", "n_name")
  }

  // J2/A1 — two-key left join: per-(user, day) news-ish rollup joined to
  // the daily price series. Reference: analyze_news_stock_patterns.py:58-59.
  register("q_join_two_key",
    s"""WITH daily AS (${DailySeries.sql}),
       |clicks AS (
       |  SELECT user_id, CAST(ts AS DATE) AS d, count(*) AS n_clicks,
       |         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / (100.0 * count(*)) AS avg_click_value
       |  FROM events WHERE event_type = 'click' GROUP BY 1, 2)
       |SELECT c.user_id, c.d, c.n_clicks, c.avg_click_value, daily.close
       |FROM clicks c LEFT JOIN daily
       |  ON c.user_id = daily.user_id AND c.d = daily.d
       |ORDER BY c.user_id, c.d""") { (s, dir) =>
    val clicks = Tables.events(s, dir)
      .filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("event_date").as("d"))
      .agg(count(lit(1)).as("n_clicks"),
        (sum(DailySeries.cents(col("value"))).cast("double") /
          (lit(100.0) * count(lit(1)))).as("avg_click_value"))
    val daily = DailySeries(s, dir).select("user_id", "d", "close")
    clicks.join(daily, Seq("user_id", "d"), "left")
      .select("user_id", "d", "n_clicks", "avg_click_value", "close")
      .orderBy("user_id", "d")
  }

  // J5/O5 — latest row per group via row_number (better than the
  // reference's self-join-to-max). Reference: data_loader.py:143-148.
  register("q_latest_per_group",
    """SELECT o_custkey, o_orderkey, o_totalprice,
      |       CAST(o_orderdate AS DATE) AS od
      |FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
      |        ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn FROM orders) t
      |WHERE rn = 1 ORDER BY o_custkey""") { (s, dir) =>
    val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
    Tables.orders(s, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        to_date(col("o_orderdate")).as("od"))
      .orderBy("o_custkey")
  }

  // J6 — as-of lookup: most recent purchase value at or before each
  // event, per user (ignore-nulls last over a running frame — the
  // window form of the reference's correlated LIMIT 1 subquery).
  // Reference: full_stock_pipeline.py:397-399.
  register("q_asof_lookup",
    """SELECT event_id, user_id,
      |       round(LAST_VALUE(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
      |         OVER (PARTITION BY user_id ORDER BY ts, event_id
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS last_purchase
      |FROM events ORDER BY event_id""") { (s, dir) =>
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, 0)
    Tables.events(s, dir)
      .select(col("event_id"), col("user_id"),
        round(last(when(col("event_type") === "purchase", col("value")), ignoreNulls = true)
          .over(w), 2).as("last_purchase"))
      .orderBy("event_id")
  }

  // J7/A4 — latest-partition filter via a 1-row broadcast join (the
  // distributed form of the scalar subquery). Reference: data_loader.py:118.
  register("q_latest_partition",
    """SELECT o_orderkey, o_custkey, o_totalprice, CAST(o_orderdate AS DATE) AS od
      |FROM orders WHERE o_orderdate = (SELECT max(o_orderdate) FROM orders)
      |ORDER BY o_orderkey""") { (s, dir) =>
    val orders = Tables.orders(s, dir)
    val mx = orders.agg(max("o_orderdate").as("mx"))
    orders.join(broadcast(mx), col("o_orderdate") === col("mx"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        to_date(col("o_orderdate")).as("od"))
      .orderBy("o_orderkey")
  }

  // J4/O6 — inner broadcast dim join + rank cap.
  // Reference: data_loader.py:116-120.
  register("q_rank_limit",
    """SELECT s_suppkey, s_name, n_name, round(s_acctbal, 2) AS acctbal
      |FROM supplier JOIN nation ON s_nationkey = n_nationkey
      |ORDER BY s_acctbal DESC, s_suppkey LIMIT 100""") { (s, dir) =>
    Tables.supplier(s, dir)
      .join(broadcast(Tables.nation(s, dir)), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_name"), col("n_name"),
        round(col("s_acctbal"), 2).as("acctbal"))
      .orderBy(col("s_acctbal").desc, col("s_suppkey"))
      .limit(100)
  }

  // O7 — plain multi-column sort over a broadcast-joined dim pair.
  register("q_sorted_dims",
    """SELECT r_name, n_name, n_nationkey
      |FROM nation JOIN region ON n_regionkey = r_regionkey
      |ORDER BY r_name, n_name""") { (s, dir) =>
    Tables.nation(s, dir)
      .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
      .select("r_name", "n_name", "n_nationkey")
      .orderBy("r_name", "n_name")
  }

  // O4 — global latest-N (TakeOrderedAndProject, true top-k).
  // Reference: data_loader.py:93-94.
  register("q_latest_events",
    """SELECT event_id, user_id, event_type, epoch_ns(ts) // 1000000000 AS ts_sec
      |FROM events ORDER BY ts DESC, event_id DESC LIMIT 5""") { (s, dir) =>
    Tables.events(s, dir)
      .orderBy(col("ts").desc, col("event_id").desc)
      .select("event_id", "user_id", "event_type", "ts_sec")
      .limit(5)
  }

  // ───────────────────── top-k dashboard views ─────────────────────

  private def gainersSql(dirWord: String): String =
    s"""WITH daily AS (${DailySeries.sql}),
       |chg AS (
       |  SELECT user_id, d, close,
       |         round((close - lag(close) OVER w) / nullif(lag(close) OVER w, 0) * 100, 4)
       |           + CAST(0.0 AS DOUBLE) AS pct_change,
       |         row_number() OVER (PARTITION BY user_id ORDER BY d DESC) AS rn
       |  FROM daily WINDOW w AS (PARTITION BY user_id ORDER BY d))
       |SELECT user_id, d, round(close, 2) AS close, pct_change
       |FROM chg WHERE rn = 1 AND pct_change IS NOT NULL
       |ORDER BY pct_change $dirWord, user_id LIMIT 10"""

  private def gainers(s: SparkSession, dir: String, asc: Boolean): DataFrame = {
    val w = Indicators.series("user_id", "d")
    val latest = Window.partitionBy("user_id").orderBy(col("d").desc)
    val chg = DailySeries(s, dir)
      .withColumn("pct_change", round(Indicators.pctChange(col("close"), w), 4))
      .withColumn("rn", row_number().over(latest))
      .filter(col("rn") === 1 && col("pct_change").isNotNull)
      .select(col("user_id"), col("d"), round(col("close"), 2).as("close"), col("pct_change"))
    val sorted = if (asc) chg.orderBy(col("pct_change").asc, col("user_id"))
                 else chg.orderBy(col("pct_change").desc, col("user_id"))
    sorted.limit(10)
  }

  // O1/W1/P11-P13/J5 — top-10 gainers on the latest day.
  // Reference: data_loader.py:138-154.
  register("q_top_gainers", gainersSql("DESC")) { (s, dir) => gainers(s, dir, asc = false) }
  // O1 (ASC) — top-10 losers. Reference: data_loader.py:157-175.
  register("q_top_losers", gainersSql("ASC")) { (s, dir) => gainers(s, dir, asc = true) }

  // O3/P10/P11 — top-10 intraday volatility on the latest day.
  // Reference: data_loader.py:218-232.
  register("q_top_volatility",
    s"""WITH daily AS (${DailySeries.sql}),
       |v AS (
       |  SELECT user_id, d, round((high - low) / low * 100, 4) AS pct_range,
       |         row_number() OVER (PARTITION BY user_id ORDER BY d DESC) AS rn
       |  FROM daily WHERE low > 0)
       |SELECT user_id, d, pct_range FROM v WHERE rn = 1
       |ORDER BY pct_range DESC, user_id LIMIT 10""") { (s, dir) =>
    val latest = Window.partitionBy("user_id").orderBy(col("d").desc)
    DailySeries(s, dir)
      .filter(col("low") > 0)
      .withColumn("pct_range", round((col("high") - col("low")) / col("low") * 100, 4))
      .withColumn("rn", row_number().over(latest))
      .filter(col("rn") === 1)
      .select("user_id", "d", "pct_range")
      .orderBy(col("pct_range").desc, col("user_id"))
      .limit(10)
  }

  // ─────────────────────── window functions ───────────────────────

  private val winSql = "PARTITION BY user_id ORDER BY d"

  // W1 — previous close. Reference: full_stock_pipeline.py:396.
  register("q_w1_prev_close",
    s"""WITH daily AS (${DailySeries.sql})
       |SELECT user_id, d, close, lag(close) OVER ($winSql) AS prev_close
       |FROM daily ORDER BY user_id, d""") { (s, dir) =>
    val w = Indicators.series("user_id", "d")
    DailySeries(s, dir)
      .select(col("user_id"), col("d"), col("close"),
        Indicators.prev(col("close"), w).as("prev_close"))
      .orderBy("user_id", "d")
  }

  // W4 — groupby-shift + fill 0. Reference: full_stock_pipeline.py:324-330.
  register("q_w4_shift_fill",
    s"""WITH daily AS (${DailySeries.sql})
       |SELECT user_id, d, close,
       |       coalesce(lag(close) OVER ($winSql), 0.0) AS prev_filled
       |FROM daily ORDER BY user_id, d""") { (s, dir) =>
    val w = Indicators.series("user_id", "d")
    DailySeries(s, dir)
      .select(col("user_id"), col("d"), col("close"),
        coalesce(Indicators.prev(col("close"), w), lit(0.0)).as("prev_filled"))
      .orderBy("user_id", "d")
  }

  // W5/P13 — per-key percent change, null-guarded.
  // Reference: analyze_news_stock_patterns.py:96.
  register("q_w5_pct_change",
    s"""WITH daily AS (${DailySeries.sql})
       |SELECT user_id, d,
       |       round((close - lag(close) OVER ($winSql))
       |             / nullif(lag(close) OVER ($winSql), 0) * 100, 4)
       |         + CAST(0.0 AS DOUBLE) AS pct_change
       |FROM daily ORDER BY user_id, d""") { (s, dir) =>
    val w = Indicators.series("user_id", "d")
    DailySeries(s, dir)
      .select(col("user_id"), col("d"),
        round(Indicators.pctChange(col("close"), w), 4).as("pct_change"))
      .orderBy("user_id", "d")
  }

  // W6 — next-day label (lead). Reference: analyze_news_stock_patterns.py:110.
  register("q_w6_next_label",
    s"""WITH daily AS (${DailySeries.sql})
       |SELECT user_id, d, close, lead(close) OVER ($winSql) AS next_close
       |FROM daily ORDER BY user_id, d""") { (s, dir) =>
    val w = Indicators.series("user_id", "d")
    DailySeries(s, dir)
      .select(col("user_id"), col("d"), col("close"),
        lead(col("close"), 1).over(w).as("next_close"))
      .orderBy("user_id", "d")
  }

  // W2/P14 — 3-point monotone trend classification.
  // Reference: full_stock_pipeline.py:434-443.
  register("q_w2_trend",
    s"""WITH daily AS (${DailySeries.sql}),
       |l AS (SELECT user_id, d, close,
       |             lag(close, 1) OVER ($winSql) AS c1,
       |             lag(close, 2) OVER ($winSql) AS c2
       |      FROM daily)
       |SELECT user_id, d,
       |       CASE WHEN close > c1 AND c1 > c2 THEN 'Bullish Trend'
       |            WHEN close < c1 AND c1 < c2 THEN 'Bearish Trend'
       |            ELSE 'Neutral' END AS pattern
       |FROM l WHERE c1 IS NOT NULL AND c2 IS NOT NULL
       |ORDER BY user_id, d""") { (s, dir) =>
    val w = Indicators.series("user_id", "d")
    DailySeries(s, dir)
      .withColumn("c1", lag(col("close"), 1).over(w))
      .withColumn("c2", lag(col("close"), 2).over(w))
      .filter(col("c1").isNotNull && col("c2").isNotNull)
      .select(col("user_id"), col("d"),
        when(col("close") > col("c1") && col("c1") > col("c2"), "Bullish Trend")
          .when(col("close") < col("c1") && col("c1") < col("c2"), "Bearish Trend")
          .otherwise("Neutral").as("pattern"))
      .orderBy("user_id", "d")
  }

  // W3/P14 — moving-average crossover over partial frames (SQL AVG
  // semantics: value from row 1). Reference: full_stock_pipeline.py:452-471.
  // Frames scaled to the 30-day series: MA-5 vs MA-20.
  // (windowed averages run over fixed-point micros of the close so the
  // frame sums are exact integers — identical across engines; double
  // frame-sums differ in the last ulp between Spark's sequential frames
  // and DuckDB's segment tree, which flips rounding on boundary rows.)
  register("q_w3_ma_cross",
    s"""WITH daily AS (SELECT user_id, d,
       |                      CAST(round(close * 1000000) AS BIGINT) AS c6
       |               FROM (${DailySeries.sql}) ds),
       |m AS (SELECT user_id, d,
       |             CAST(sum(c6) OVER w5 AS DOUBLE) / (1000000.0 * count(*) OVER w5) AS ma_fast,
       |             CAST(sum(c6) OVER w20 AS DOUBLE) / (1000000.0 * count(*) OVER w20) AS ma_slow
       |      FROM daily
       |      WINDOW w5 AS ($winSql ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
       |             w20 AS ($winSql ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
       |SELECT user_id, d, ma_fast, ma_slow,
       |       CASE WHEN ma_fast > ma_slow THEN 'Golden Cross'
       |            WHEN ma_fast < ma_slow THEN 'Death Cross'
       |            ELSE 'None' END AS signal
       |FROM m ORDER BY user_id, d""") { (s, dir) =>
    val w = Indicators.series("user_id", "d")
    val f5 = w.rowsBetween(-4, 0)
    val f20 = w.rowsBetween(-19, 0)
    def ma(frame: org.apache.spark.sql.expressions.WindowSpec) =
      sum(col("c6")).over(frame).cast("double") / (lit(1000000.0) * count(lit(1)).over(frame))
    DailySeries(s, dir)
      .withColumn("c6", round(col("close") * 1000000).cast("long"))
      .withColumn("ma_fast", ma(f5))
      .withColumn("ma_slow", ma(f20))
      .select(col("user_id"), col("d"), col("ma_fast"), col("ma_slow"),
        when(col("ma_fast") > col("ma_slow"), "Golden Cross")
          .when(col("ma_fast") < col("ma_slow"), "Death Cross")
          .otherwise("None").as("signal"))
      .orderBy("user_id", "d")
  }

  // W7 — pandas-style SMA (null below min_periods).
  // Reference: indicators.py:1-4.
  register("q_w7_sma14",
    s"""WITH daily AS (SELECT user_id, d,
       |                      CAST(round(close * 1000000) AS BIGINT) AS c6
       |               FROM (${DailySeries.sql}) ds)
       |SELECT user_id, d,
       |       CASE WHEN count(*) OVER w14 >= 14
       |            THEN CAST(sum(c6) OVER w14 AS DOUBLE) / (1000000.0 * count(*) OVER w14) END AS sma_14
       |FROM daily
       |WINDOW w14 AS ($winSql ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
       |ORDER BY user_id, d""") { (s, dir) =>
    val w = Indicators.series("user_id", "d")
    val f14 = w.rowsBetween(-13, 0)
    DailySeries(s, dir)
      .withColumn("c6", round(col("close") * 1000000).cast("long"))
      .select(col("user_id"), col("d"),
        when(count(lit(1)).over(f14) >= 14,
          sum(col("c6")).over(f14).cast("double") /
            (lit(1000000.0) * count(lit(1)).over(f14))).as("sma_14"))
      .orderBy("user_id", "d")
  }

  // W9 — RSI-14. Reference: indicators.py:11-18.
  register("q_w9_rsi14",
    s"""WITH daily AS (${DailySeries.sql}),
       |diffs AS (
       |  SELECT user_id, d,
       |         close - lag(close) OVER ($winSql) AS delta
       |  FROM daily),
       |gl AS (
       |  SELECT user_id, d,
       |         CASE WHEN delta > 0 THEN delta ELSE 0.0 END AS gain,
       |         CASE WHEN delta < 0 THEN -delta ELSE 0.0 END AS loss
       |  FROM diffs),
       |ag AS (
       |  SELECT user_id, d,
       |         avg(gain) OVER w14 AS avg_gain, avg(loss) OVER w14 AS avg_loss
       |  FROM gl
       |  WINDOW w14 AS ($winSql ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
       |SELECT user_id, d,
       |       round(CASE WHEN avg_loss = 0 THEN 100.0
       |                  ELSE 100.0 - 100.0 / (1.0 + avg_gain / avg_loss) END, 4) AS rsi_14
       |FROM ag ORDER BY user_id, d""") { (s, dir) =>
    val w = Indicators.series("user_id", "d")
    DailySeries(s, dir)
      .select(col("user_id"), col("d"),
        round(Indicators.rsi(col("close"), w, 14), 4).as("rsi_14"))
      .orderBy("user_id", "d")
  }

  // W10 — Bollinger bands (sample stddev). Reference: indicators.py:20-27.
  // (sample stddev from exact fixed-point frame sums: the textbook
  // (Σx² − (Σx)²/n)/(n−1) over integer micros, evaluated with the same
  // op order in both engines — IndicatorsSpec ties this to the
  // stddev_samp-based library form within 1e-9.)
  register("q_w10_bollinger",
    s"""WITH daily AS (SELECT user_id, d,
       |                      CAST(round(close * 1000000) AS BIGINT) AS c6
       |               FROM (${DailySeries.sql}) ds),
       |m AS (SELECT user_id, d,
       |             CAST(sum(c6) OVER w20 AS DOUBLE) AS s,
       |             CAST(sum(c6 * c6) OVER w20 AS DOUBLE) AS q,
       |             CAST(count(*) OVER w20 AS DOUBLE) AS n
       |      FROM daily
       |      WINDOW w20 AS ($winSql ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
       |SELECT user_id, d,
       |       s / n / 1000000.0 AS bb_mid,
       |       s / n / 1000000.0 + 2.0 * (CASE WHEN n > 1 THEN sqrt(greatest(q - s * s / n, 0.0) / (n - 1.0)) / 1000000.0 END) AS bb_up,
       |       s / n / 1000000.0 - 2.0 * (CASE WHEN n > 1 THEN sqrt(greatest(q - s * s / n, 0.0) / (n - 1.0)) / 1000000.0 END) AS bb_low
       |FROM m ORDER BY user_id, d""") { (s, dir) =>
    val w = Indicators.series("user_id", "d")
    val f20 = w.rowsBetween(-19, 0)
    DailySeries(s, dir)
      .withColumn("c6", round(col("close") * 1000000).cast("long"))
      .withColumn("s", sum(col("c6")).over(f20).cast("double"))
      .withColumn("q", sum(col("c6") * col("c6")).over(f20).cast("double"))
      .withColumn("n", count(lit(1)).over(f20).cast("double"))
      .withColumn("sd", when(col("n") > 1,
        sqrt(greatest(col("q") - col("s") * col("s") / col("n"), lit(0.0)) /
          (col("n") - lit(1.0))) / lit(1000000.0)))
      .select(col("user_id"), col("d"),
        (col("s") / col("n") / lit(1000000.0)).as("bb_mid"),
        (col("s") / col("n") / lit(1000000.0) + lit(2.0) * col("sd")).as("bb_up"),
        (col("s") / col("n") / lit(1000000.0) - lit(2.0) * col("sd")).as("bb_low"))
      .orderBy("user_id", "d")
  }

  // W1/W3 over the fact table (VERDICT: window suite over events AND
  // lineitem): per-supplier daily revenue, previous-day revenue, and a
  // 7-row moving total — fixed-point exact.
  register("q_w_lineitem_supplier",
    """WITH daily AS (
      |  SELECT l_suppkey, CAST(l_shipdate AS DATE) AS d,
      |         CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS rev_c
      |  FROM lineitem GROUP BY 1, 2)
      |SELECT l_suppkey, d,
      |       CAST(rev_c AS DOUBLE) / 100.0 AS revenue,
      |       CAST(lag(rev_c) OVER w AS DOUBLE) / 100.0 AS prev_revenue,
      |       CAST(sum(rev_c) OVER (w ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE) / 100.0 AS rev_7d
      |FROM daily
      |WINDOW w AS (PARTITION BY l_suppkey ORDER BY d)
      |ORDER BY l_suppkey, d""") { (s, dir) =>
    val w = Indicators.series("l_suppkey", "d")
    Tables.lineitem(s, dir)
      .groupBy(col("l_suppkey"), to_date(col("l_shipdate")).as("d"))
      .agg(sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
        .cast("long")).as("rev_c"))
      .select(col("l_suppkey"), col("d"),
        (col("rev_c").cast("double") / 100.0).as("revenue"),
        (lag(col("rev_c"), 1).over(w).cast("double") / 100.0).as("prev_revenue"),
        (sum(col("rev_c")).over(w.rowsBetween(-6, 0)).cast("double") / 100.0).as("rev_7d"))
      .orderBy("l_suppkey", "d")
  }

  // W8/F3 — EMA-14 (pandas ewm(span=14, adjust=False)), exact recursion
  // via collect_list + aggregate HOF; oracle folds the same recursion
  // with DuckDB's list_reduce. Reference: indicators.py:6-9.
  register("q_w8_ema14",
    s"""WITH daily AS (${DailySeries.sql}),
       |h AS (SELECT user_id, d,
       |             list(close) OVER ($winSql ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hist
       |      FROM daily)
       |SELECT user_id, d,
       |       round(list_reduce(hist, (acc, x) -> x * (2.0 / 15.0) + acc * (1.0 - 2.0 / 15.0)), 4) AS ema_14
       |FROM h ORDER BY user_id, d""") { (s, dir) =>
    val w = Indicators.series("user_id", "d")
    DailySeries(s, dir)
      .select(col("user_id"), col("d"),
        round(Indicators.ema(col("close"), w, 14), 4).as("ema_14"))
      .orderBy("user_id", "d")
  }

  // Multi-join analytical shapes on the star schema (the reference has
  // no >2-way joins, but a complete engine must plan them well — these
  // are the TPC-H Q3/Q5 patterns, and PlanAudit keeps them
  // broadcast/pushdown-clean).
  register("q_mjoin_priority",
    """SELECT l_orderkey, CAST(o_orderdate AS DATE) AS od, o_orderpriority,
      |       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND CAST(o_orderdate AS DATE) < DATE '1998-01-01'
      |  AND CAST(l_shipdate AS DATE) > DATE '1996-01-01'
      |GROUP BY 1, 2, 3
      |ORDER BY revenue DESC, l_orderkey LIMIT 10""") { (s, dir) =>
    Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
      .join(Tables.orders(s, dir).filter(to_date(col("o_orderdate")) < "1998-01-01"),
        col("c_custkey") === col("o_custkey"))
      .join(Tables.lineitem(s, dir).filter(to_date(col("l_shipdate")) > "1996-01-01"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"), to_date(col("o_orderdate")).as("od"), col("o_orderpriority"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  register("q_mjoin_volume",
    """SELECT n_name, r_name,
      |       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
      |       count(*) AS cnt
      |FROM lineitem
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |JOIN orders ON l_orderkey = o_orderkey
      |WHERE CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
      |GROUP BY 1, 2 ORDER BY 1, 2""") { (s, dir) =>
    Tables.lineitem(s, dir)
      .join(broadcast(Tables.supplier(s, dir)), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(s, dir)), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
      .join(Tables.orders(s, dir).filter(to_date(col("o_orderdate")) >= "1996-01-01"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("n_name", "r_name")
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
        count(lit(1)).as("cnt"))
      .orderBy("n_name", "r_name")
  }

  // TPC-H Q18 shape ("big customers"): aggregate-filtered key set
  // (HAVING over a fact rollup) joined back to two dimensions. The
  // HAVING set is tiny relative to lineitem → at scale the plan is one
  // fact-table aggregation plus broadcast-able joins, never a second
  // fact scan per customer. Quantities are exact integers, so the sum
  // is an exact BIGINT (no double-order sensitivity).
  register("q_mjoin_bigcust",
    """WITH big AS (
      |  SELECT l_orderkey, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
      |  FROM lineitem GROUP BY l_orderkey
      |  HAVING sum(CAST(l_quantity AS BIGINT)) > 300)
      |SELECT c_name, c_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS od, total_qty
      |FROM big
      |JOIN orders ON o_orderkey = l_orderkey
      |JOIN customer ON c_custkey = o_custkey
      |ORDER BY total_qty DESC, o_orderkey LIMIT 20""") { (s, dir) =>
    val big = Tables.lineitem(s, dir)
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity").cast("long")).as("total_qty"))
      .filter(col("total_qty") > 300)
    big
      .join(Tables.orders(s, dir), col("o_orderkey") === col("l_orderkey"))
      .join(Tables.customer(s, dir), col("c_custkey") === col("o_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        to_date(col("o_orderdate")).as("od"), col("total_qty"))
      .orderBy(col("total_qty").desc, col("o_orderkey"))
      .limit(20)
  }

  // J6 general form — native two-table AS-OF join (plans/AsOfJoin):
  // each purchase matched to the user's latest click at-or-before it.
  // Oracle: DuckDB's built-in ASOF JOIN.
  register("q_asof_join",
    """SELECT p.event_id, p.user_id,
      |       round(p.value, 2) AS purchase_value,
      |       round(c.click_value, 2) AS click_value
      |FROM (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase') p
      |ASOF LEFT JOIN
      |     (SELECT user_id, ts AS click_ts, value AS click_value FROM events WHERE event_type = 'click') c
      |  ON p.user_id = c.user_id AND c.click_ts <= p.ts
      |ORDER BY p.event_id""") { (s, dir) =>
    val ev = Tables.events(s, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts", "value")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"), col("value").as("click_value"))
    graft.plans.AsOf.join(purchases, clicks, Seq("user_id"), "ts", "click_ts")
      .select(col("event_id"), col("user_id"),
        round(col("value"), 2).as("purchase_value"),
        round(col("click_value"), 2).as("click_value"))
      .orderBy("event_id")
  }

  // §2.7 JSON functions — parse the events' JSON props payload
  // relationally (the schema-first cousin of S4's raw-zone ingest).
  register("q_json_props",
    """SELECT event_type,
      |       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
      |       count(*) AS n
      |FROM events GROUP BY event_type ORDER BY event_type""") { (s, dir) =>
    Tables.events(s, dir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy("event_type")
      .agg(sum("k").as("sum_k"), count(lit(1)).as("n"))
      .orderBy("event_type")
  }

  // Corpus quality thresholds — exact interpolated percentiles of the
  // per-doc token count per language (the p50/p95 cutoffs an LLM-corpus
  // filter derives before dropping outliers).
  register("q_quality_quantiles",
    """SELECT lang,
      |       round(quantile_cont(nt, 0.5), 4) AS p50_tokens,
      |       round(quantile_cont(nt, 0.95), 4) AS p95_tokens,
      |       count(*) AS n_docs
      |FROM (SELECT lang,
      |             len(string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ')) AS nt
      |      FROM documents) t
      |GROUP BY lang ORDER BY lang""") { (s, dir) =>
    Tables.documents(s, dir)
      .select(col("lang"), graft.functions.TextStats.nTokens(col("text")).as("nt"))
      .groupBy("lang")
      .agg(
        round(percentile(col("nt"), lit(0.5)), 4).as("p50_tokens"),
        round(percentile(col("nt"), lit(0.95)), 4).as("p95_tokens"),
        count(lit(1)).as("n_docs"))
      .orderBy("lang")
  }

  // E2 — the dashboard's hottest loader (data_loader.py:43-57 +
  // indicators.py): one symbol's range slice with SMA/EMA/Bollinger-mid
  // columns. Same fixed-point / list-fold formulations as the W-suite
  // so the oracle is value-exact.
  register("q_stock_range",
    s"""WITH daily AS (SELECT user_id, d, close,
       |                      CAST(round(close * 1000000) AS BIGINT) AS c6
       |               FROM (${DailySeries.sql}) ds
       |               WHERE user_id = 7 AND d BETWEEN DATE '2024-01-05' AND DATE '2024-01-25'),
       |h AS (SELECT user_id, d, close,
       |             CASE WHEN count(*) OVER w5 >= 5
       |                  THEN CAST(sum(c6) OVER w5 AS DOUBLE) / (1000000.0 * count(*) OVER w5) END AS sma_5,
       |             list(close) OVER (PARTITION BY user_id ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hist
       |      FROM daily
       |      WINDOW w5 AS (PARTITION BY user_id ORDER BY d ROWS BETWEEN 4 PRECEDING AND CURRENT ROW))
       |SELECT user_id, d, close, sma_5,
       |       round(list_reduce(hist, (acc, x) -> x * (2.0 / 15.0) + acc * (1.0 - 2.0 / 15.0)), 4) AS ema_14
       |FROM h ORDER BY d""") { (s, dir) =>
    val w = Indicators.series("user_id", "d")
    val f5 = w.rowsBetween(-4, 0)
    DailySeries(s, dir)
      .filter(col("user_id") === 7 && col("d").between("2024-01-05", "2024-01-25"))
      .withColumn("c6", round(col("close") * 1000000).cast("long"))
      .select(col("user_id"), col("d"), col("close"),
        when(count(lit(1)).over(f5) >= 5,
          sum(col("c6")).over(f5).cast("double") /
            (lit(1000000.0) * count(lit(1)).over(f5))).as("sma_5"),
        round(Indicators.ema(col("close"), w, 14), 4).as("ema_14"))
      .orderBy("d")
  }

  // ROLLUP subtotals (OLAP staple beyond the reference): per-(flag,
  // status), per-flag, and grand-total quantity sums. Subtotal rows'
  // NULL group keys are labeled 'ALL' in BOTH engines so sort keys stay
  // non-null (Spark sorts NULLS FIRST, DuckDB NULLS LAST).
  register("q_rollup",
    """SELECT coalesce(l_returnflag, 'ALL') AS flag,
      |       coalesce(l_linestatus, 'ALL') AS status,
      |       sum(l_quantity) AS sum_qty, count(*) AS cnt
      |FROM lineitem
      |GROUP BY ROLLUP(l_returnflag, l_linestatus)
      |ORDER BY flag, status""") { (s, dir) =>
    Tables.lineitem(s, dir)
      .rollup("l_returnflag", "l_linestatus")
      .agg(sum("l_quantity").as("sum_qty"), count(lit(1)).as("cnt"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("status"),
        col("sum_qty"), col("cnt"))
      .orderBy("flag", "status")
  }

  // CUBE: all 2^d grouping combinations in one pass (Expand-based, one
  // shuffle — not 2^d scans). Region×market-segment customer counts
  // with fixed-point-exact balance sums.
  register("q_cube",
    """SELECT coalesce(r_name, 'ALL') AS region,
      |       coalesce(c_mktsegment, 'ALL') AS segment,
      |       count(*) AS n_cust,
      |       CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_bal
      |FROM customer c
      |JOIN nation n ON c.c_nationkey = n.n_nationkey
      |JOIN region r ON n.n_regionkey = r.r_regionkey
      |GROUP BY CUBE(r_name, c_mktsegment)
      |ORDER BY region, segment""") { (s, dir) =>
    // expressed via spark.sql: the DataFrame .cube() + post-agg
    // coalesce on grouping columns trips the ambiguous-self-join
    // detector in Spark 4 (grouping output vs join input lineage)
    Tables.customer(s, dir).createOrReplaceTempView("customer_v")
    Tables.nation(s, dir).createOrReplaceTempView("nation_v")
    Tables.region(s, dir).createOrReplaceTempView("region_v")
    s.sql("""SELECT coalesce(r_name, 'ALL') AS region,
                    coalesce(c_mktsegment, 'ALL') AS segment,
                    count(*) AS n_cust,
                    CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_bal
             FROM customer_v c
             JOIN nation_v n ON c.c_nationkey = n.n_nationkey
             JOIN region_v r ON n.n_regionkey = r.r_regionkey
             GROUP BY CUBE(r_name, c_mktsegment)
             ORDER BY region, segment""")
  }

  // GROUPING SETS: arbitrary (non-hierarchical) grouping combinations
  // in ONE Expand pass — per-flag, per-status, and grand total, but NOT
  // the (flag, status) cross ROLLUP/CUBE would force. Native Spark 4
  // Dataset.groupingSets API (same Expand+hash-agg physical shape as
  // rollup/cube: one shuffle, map-side combined).
  register("q_grouping_sets",
    """SELECT coalesce(l_returnflag, 'ALL') AS flag,
      |       coalesce(l_linestatus, 'ALL') AS status,
      |       sum(l_quantity) AS sum_qty, count(*) AS cnt
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
      |ORDER BY flag, status""") { (s, dir) =>
    Tables.lineitem(s, dir)
      .groupingSets(
        Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq.empty),
        col("l_returnflag"), col("l_linestatus"))
      .agg(sum("l_quantity").as("sum_qty"), count(lit(1)).as("cnt"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("status"),
        col("sum_qty"), col("cnt"))
      .orderBy("flag", "status")
  }

  // NTILE quality buckets: equal-frequency quartiles of the per-doc
  // quality score WITHIN each language — the "keep the top quality
  // band per language" curation cut. Window is partitioned by lang
  // (never a global single-partition sort); ties broken by doc_id so
  // bucket edges are deterministic in any engine.
  register("q_ntile_quality",
    """WITH q AS (
      |  SELECT doc_id, lang,
      |         round(least(1.0, len(string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ')) / 100.0)
      |               * (1.0 - CAST(len(list_filter(string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' '),
      |                         x -> x IN ('the','a','an','of','to','in','and','is'))) AS DOUBLE)
      |                 / len(string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' '))), 4) AS quality
      |  FROM documents),
      |b AS (SELECT lang, quality,
      |             ntile(4) OVER (PARTITION BY lang ORDER BY quality, doc_id) AS bucket
      |      FROM q)
      |SELECT lang, bucket, count(*) AS n,
      |       min(quality) AS min_q, max(quality) AS max_q
      |FROM b GROUP BY lang, bucket
      |ORDER BY lang, bucket""") { (s, dir) =>
    import graft.functions.TextStats
    // skew-safe exact rank (one language can be half a web corpus —
    // a plain per-lang ntile window sorts it in ONE task); ntile is
    // reconstructed from (rank, n) by the same integer arithmetic
    // both engines run, so the result is bit-identical to the window
    // form and the DuckDB ntile oracle is unchanged
    // pinned: the corpus tokenization feeds the bucket counts AND the
    // final rank join (the q_editdist_lookup precedent — pin expensive
    // reused intermediates, re-derive cheap ones)
    val scored = Tables.documents(s, dir)
      .withColumn("toks", TextStats.tokens(col("text")))
      .select(col("doc_id"), col("lang"),
        round(TextStats.qualityScoreOf(col("toks")), 4).as("quality"))
      .localCheckpoint()
    graft.operators.Sampling.withExactRank(scored, "lang", "quality", "doc_id")
      // DuckDB's ntile is BIGINT and ntileOfRank emits long — schema-aligned
      .withColumn("bucket",
        graft.operators.Sampling.ntileOfRank(col("__rn"), col("__n"), 4))
      .groupBy("lang", "bucket")
      .agg(count(lit(1)).as("n"), min("quality").as("min_q"), max("quality").as("max_q"))
      .orderBy("lang", "bucket")
  }

  // Time-RANGE window: 7 calendar-day moving average — a RANGE frame
  // over epoch-days, NOT a 7-ROW frame (the two differ exactly where
  // the series has gap days; see q_gap_fill). Fixed-point sum so the
  // division is bit-identical across engines.
  register("q_w_range_7d",
    s"""WITH daily AS (${DailySeries.sql})
       |SELECT user_id, d,
       |       CAST(sum(CAST(round(close * 100) AS BIGINT)) OVER w AS DOUBLE)
       |         / (100.0 * count(*) OVER w) AS avg_7d,
       |       count(*) OVER w AS n_7d
       |FROM daily
       |WINDOW w AS (PARTITION BY user_id ORDER BY (d - DATE '1970-01-01')
       |             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
       |ORDER BY user_id, d""") { (s, dir) =>
    val w = Window.partitionBy("user_id").orderBy(expr("unix_date(d)"))
      .rangeBetween(-6, Window.currentRow)
    DailySeries(s, dir)
      .select(col("user_id"), col("d"),
        (sum(round(col("close") * 100).cast(LongType)).over(w).cast(DoubleType) /
          (lit(100.0) * count(lit(1)).over(w))).as("avg_7d"),
        count(lit(1)).over(w).as("n_7d"))
      .orderBy("user_id", "d")
  }

  // Correlated scalar subquery (TPC-H Q17 shape): orders whose price
  // is more than 20x their own lines' average price. Exercises
  // Catalyst decorrelation (RewriteCorrelatedScalarSubquery plans it
  // as an aggregate + join, never a per-row loop) through the
  // spark.sql surface.
  register("q_corr_subquery",
    """SELECT o_orderkey, o_totalprice
      |FROM orders o
      |WHERE CAST(round(o_totalprice * 100) AS BIGINT)
      |        * (SELECT count(*) FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)
      |      > 20 * (SELECT sum(CAST(round(l_extendedprice * 100) AS BIGINT))
      |              FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)
      |ORDER BY o_orderkey""") { (s, dir) =>
    Tables.orders(s, dir).createOrReplaceTempView("orders_v")
    Tables.lineitem(s, dir).createOrReplaceTempView("lineitem_v")
    // price*count > 20*sum compared in integer cents — "price exceeds
    // 20x the order's average line price" without a float-boundary
    // predicate (double avgs differ in ulps across engines/partitions)
    s.sql("""SELECT o_orderkey, o_totalprice
             FROM orders_v o
             WHERE CAST(round(o_totalprice * 100) AS BIGINT)
                     * (SELECT count(*) FROM lineitem_v l WHERE l.l_orderkey = o.o_orderkey)
                   > 20 * (SELECT sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                           FROM lineitem_v l WHERE l.l_orderkey = o.o_orderkey)
             ORDER BY o_orderkey""")
  }

  // Pivot (wide rollup): line status quantities as columns per flag —
  // Spark's .pivot against the portable CASE-aggregation formulation.
  register("q_pivot",
    """SELECT l_returnflag,
      |       sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END) AS qty_F,
      |       sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END) AS qty_O
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""") { (s, dir) =>
    Tables.lineitem(s, dir)
      .groupBy("l_returnflag")
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(sum("l_quantity"))
      .select(col("l_returnflag"), col("F").as("qty_F"), col("O").as("qty_O"))
      .orderBy("l_returnflag")
  }

  // UNPIVOT (the inverse of q_pivot): OHLC wide → (metric, cents) long
  // via Spark's native unpivot API (plans one Expand, no join/union of
  // scans). Values as integer cents so the melt is byte-exact.
  register("q_unpivot",
    s"""WITH daily AS (${DailySeries.sql})
       |SELECT user_id, d, metric, cents FROM (
       |  SELECT user_id, d,
       |         CAST(round(close * 100) AS BIGINT) AS close,
       |         CAST(round(high * 100) AS BIGINT) AS high,
       |         CAST(round(low * 100) AS BIGINT) AS low
       |  FROM daily)
       |UNPIVOT (cents FOR metric IN (close, high, low))
       |WHERE d >= DATE '2024-01-25'
       |ORDER BY user_id, d, metric""") { (s, dir) =>
    DailySeries(s, dir)
      .filter(col("d") >= lit("2024-01-25"))
      .select(col("user_id"), col("d"),
        DailySeries.cents(col("close")).as("close"),
        DailySeries.cents(col("high")).as("high"),
        DailySeries.cents(col("low")).as("low"))
      .unpivot(
        ids = Array(col("user_id"), col("d")),
        values = Array(col("close"), col("high"), col("low")),
        variableColumnName = "metric",
        valueColumnName = "cents")
      .orderBy("user_id", "d", "metric")
  }

  // Semi/anti joins (beyond the reference's surface, core engine ops):
  // customers WITH open orders vs customers with NO orders at all.
  register("q_semi_anti",
    """SELECT c_custkey, c_mktsegment,
      |       CASE WHEN EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
      |            THEN 'has_orders' ELSE 'no_orders' END AS status
      |FROM customer c ORDER BY c_custkey""") { (s, dir) =>
    val customers = Tables.customer(s, dir)
    val orders = Tables.orders(s, dir).select("o_custkey")
    val withOrders = customers
      .join(orders, col("c_custkey") === col("o_custkey"), "left_semi")
      .withColumn("status", lit("has_orders"))
    val without = customers
      .join(orders, col("c_custkey") === col("o_custkey"), "left_anti")
      .withColumn("status", lit("no_orders"))
    withOrders.unionByName(without)
      .select("c_custkey", "c_mktsegment", "status")
      .orderBy("c_custkey")
  }

  // Set operations: brands selling via both channels / only one
  // (INTERSECT and EXCEPT over derived key sets).
  register("q_set_ops",
    """WITH cheap AS (SELECT DISTINCT p_brand FROM part WHERE p_retailprice < 950),
      |expensive AS (SELECT DISTINCT p_brand FROM part WHERE p_retailprice >= 970)
      |SELECT p_brand, 'both' AS tier FROM (SELECT * FROM cheap INTERSECT SELECT * FROM expensive) b
      |UNION ALL
      |SELECT p_brand, 'cheap_only' AS tier FROM (SELECT * FROM cheap EXCEPT SELECT * FROM expensive) c
      |ORDER BY tier, p_brand""") { (s, dir) =>
    val part = Tables.part(s, dir)
    val cheap = part.filter(col("p_retailprice") < 950).select("p_brand").distinct()
    val expensive = part.filter(col("p_retailprice") >= 970).select("p_brand").distinct()
    cheap.intersect(expensive).withColumn("tier", lit("both"))
      .unionByName(cheap.except(expensive).withColumn("tier", lit("cheap_only")))
      .orderBy("tier", "p_brand")
  }

  // Range join — clicks falling inside the 1-hour incident window
  // after each error event, per user (banded equi-join, never a
  // nested-loop theta join). Oracle: DuckDB theta join (tiny at sf0.01).
  register("q_range_join",
    """SELECT c.event_id AS click_id, e.event_id AS incident_id, c.user_id
      |FROM (SELECT * FROM events WHERE event_type = 'click') c
      |JOIN (SELECT * FROM events WHERE event_type = 'error') e
      |  ON c.user_id = e.user_id
      | AND c.ts >= e.ts AND c.ts <= e.ts + INTERVAL 1 HOUR
      |ORDER BY click_id, incident_id""") { (s, dir) =>
    val ev = Tables.events(s, dir)
    val hourNs = 3600L * 1000000000L
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts"))
    val incidents = ev.filter(col("event_type") === "error")
      .select(col("event_id").as("incident_id"), col("user_id"),
        col("ts").as("w_start"), (col("ts") + hourNs).as("w_end"))
    graft.operators.RangeJoin
      .pointInInterval(clicks, incidents, Seq("user_id"), "ts", "w_start", "w_end",
        bucketWidth = hourNs)
      .select("click_id", "incident_id", "user_id")
      .orderBy("click_id", "incident_id")
  }

  // Sketches — approximate distinct (HyperLogLog++) and approximate
  // quantiles (Greenwald-Khanna), the mergeable one-pass summaries a
  // 100 TB profile pass runs instead of exact DISTINCT/sort. Not
  // DuckDB-oracle-able (different sketch impls); SketchSpec bounds the
  // error against exact answers.
  // (sketches only: mixing an exact count_distinct in forces an
  // Expand-based two-phase plan that multiplies the scan — the exact
  // comparison lives in SketchSpec, not the hot path.)
  registerNoOracle("q_sketch_profile") { (s, dir) =>
    Tables.lineitem(s, dir)
      .groupBy("l_returnflag")
      .agg(
        approx_count_distinct(col("l_orderkey"), rsd = 0.02).as("approx_orders"),
        round(expr("approx_percentile(l_extendedprice, 0.5, 2500)"), 2).as("p50_price"),
        round(expr("approx_percentile(l_extendedprice, 0.99, 2500)"), 2).as("p99_price"))
      .orderBy("l_returnflag")
  }

  // Error-bound verification for the sketch pass: each sketch estimate
  // is checked in-engine against the exact answer (±3σ for HLL++ at
  // rsd=0.02; a ±2-rank-percent band for the GK quantiles — the
  // accuracy-2500 guarantee is ±0.04%, so the band is generous), and
  // DuckDB verifies the exact distinct counts plus asserts the bounds
  // held. q_sketch_profile above stays sketch-only — it IS the 100 TB
  // hot path (mergeable one-pass summaries, no Expand); this query is
  // the audit pass a pipeline would run on a sampled slice.
  register("q_sketch_check",
    """SELECT l_returnflag,
      |       count(DISTINCT l_orderkey) AS exact_orders,
      |       TRUE AS orders_ok, TRUE AS p50_ok, TRUE AS p99_ok
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""") { (s, dir) =>
    // fanned (r22, guide §2.5): both the sketch pass and the audit pass
    // are CPU-dense (HLL + percentile buffers per row) over the single-
    // task lineitem scan; project to the three consumed columns first
    val li = Tables.fanOutScan(
      Tables.lineitem(s, dir).select("l_returnflag", "l_orderkey", "l_extendedprice"),
      dir, "lineitem", col("l_orderkey"))
    // The quantile sketches are audited by RANK, not by value: join the
    // 3-row sketch output back onto the fact and count rows below each
    // estimate — two codegen counting scans, no value-buffering exact
    // percentile (which at 100 TB would be the one non-mergeable step).
    val sk = li.groupBy("l_returnflag").agg(
      approx_count_distinct(col("l_orderkey"), rsd = 0.02).as("approx_orders"),
      expr("approx_percentile(l_extendedprice, array(0.5, 0.99), 2500)").as("ap"))
    li.join(broadcast(sk), "l_returnflag")
      .groupBy("l_returnflag")
      .agg(
        countDistinct(col("l_orderkey")).as("exact_orders"),
        first(col("approx_orders")).as("approx_orders"),
        count(lit(1)).as("n"),
        count(when(col("l_extendedprice") < col("ap")(0), 1)).as("c50"),
        count(when(col("l_extendedprice") < col("ap")(1), 1)).as("c99"))
      .select(
        col("l_returnflag"),
        col("exact_orders"),
        (abs(col("approx_orders") - col("exact_orders")) <= col("exact_orders") * 0.06)
          .as("orders_ok"),
        (col("c50") / col("n")).between(0.48, 0.52).as("p50_ok"),
        (col("c99") / col("n")).between(0.985, 0.997).as("p99_ok"))
      .orderBy("l_returnflag")
  }

  // MACD(12,26) + signal EMA(9) of the MACD — two windowing passes,
  // the second over a derived column. Oracle folds the same recursions
  // with list_reduce; macd is rounded to fixed precision BEFORE the
  // signal pass so both engines fold identical inputs.
  register("q_w_macd",
    s"""WITH daily AS (${DailySeries.sql}),
       |m AS (SELECT user_id, d,
       |             round(list_reduce(list(close) OVER win, (acc, x) -> x * (2.0 / 13.0) + acc * (1.0 - 2.0 / 13.0))
       |                   - list_reduce(list(close) OVER win, (acc, x) -> x * (2.0 / 27.0) + acc * (1.0 - 2.0 / 27.0)), 6)
       |               + CAST(0.0 AS DOUBLE) AS macd
       |      FROM daily
       |      WINDOW win AS ($winSql ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       |sig AS (SELECT user_id, d, macd,
       |               round(list_reduce(list(macd) OVER win, (acc, x) -> x * (2.0 / 10.0) + acc * (1.0 - 2.0 / 10.0)), 4)
       |                 + CAST(0.0 AS DOUBLE) AS signal
       |        FROM m
       |        WINDOW win AS ($winSql ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
       |SELECT user_id, d, macd, signal FROM sig ORDER BY user_id, d""") { (s, dir) =>
    val w = Indicators.series("user_id", "d")
    DailySeries(s, dir)
      .withColumn("macd", round(Indicators.macd(col("close"), w, 12, 26), 6))
      .withColumn("signal", round(Indicators.ema(col("macd"), w, 9), 4))
      .select("user_id", "d", "macd", "signal")
      .orderBy("user_id", "d")
  }

  // Stochastic oscillator %K(14) + %D (SMA-3 of %K) — window min/max
  // range position; %K pre-scaled to fixed-point before the %D average
  // so the 3-row frame sums are exact in both engines.
  register("q_w_stochastic",
    s"""WITH daily AS (${DailySeries.sql}),
       |k AS (SELECT user_id, d,
       |             CASE WHEN max(close) OVER w14 <> min(close) OVER w14
       |                  THEN round((close - min(close) OVER w14)
       |                             / (max(close) OVER w14 - min(close) OVER w14) * 100, 4) END AS pct_k
       |      FROM daily
       |      WINDOW w14 AS ($winSql ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)),
       |k4 AS (SELECT user_id, d, pct_k,
       |              CAST(round(pct_k * 10000) AS BIGINT) AS ki
       |       FROM k)
       |SELECT user_id, d, pct_k,
       |       CAST(sum(ki) OVER w3 AS DOUBLE) / (10000.0 * count(ki) OVER w3) AS pct_d
       |FROM k4
       |WINDOW w3 AS ($winSql ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
       |ORDER BY user_id, d""") { (s, dir) =>
    val w = Indicators.series("user_id", "d")
    val f3 = w.rowsBetween(-2, 0)
    DailySeries(s, dir)
      .withColumn("pct_k", round(Indicators.stochasticK(col("close"), w, 14), 4))
      .withColumn("ki", round(col("pct_k") * 10000).cast("long"))
      .select(col("user_id"), col("d"), col("pct_k"),
        (sum(col("ki")).over(f3).cast("double") /
          (lit(10000.0) * count(col("ki")).over(f3))).as("pct_d"))
      .orderBy("user_id", "d")
  }

  // Calendar densify + forward fill: expand each user's daily series
  // to its full date span (sequence/explode — distributed, no driver
  // calendar) and carry the last observation over gap days. The
  // time-series "resample" every training pipeline needs; close values
  // are copied exactly so the oracle compare stays value-exact.
  register("q_gap_fill",
    s"""WITH daily AS (${DailySeries.sql}),
       |span AS (SELECT user_id, min(d) AS d0, max(d) AS d1 FROM daily GROUP BY 1),
       |cal AS (SELECT user_id, CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS d
       |        FROM span),
       |j AS (SELECT c.user_id, c.d, dd.close FROM cal c
       |      LEFT JOIN daily dd ON c.user_id = dd.user_id AND c.d = dd.d)
       |SELECT user_id, d,
       |       last_value(close IGNORE NULLS)
       |         OVER (PARTITION BY user_id ORDER BY d
       |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS close_ff,
       |       close IS NULL AS is_gap
       |FROM j ORDER BY user_id, d""") { (s, dir) =>
    val daily = DailySeries(s, dir)
    val cal = daily.groupBy("user_id")
      .agg(min("d").as("d0"), max("d").as("d1"))
      .select(col("user_id"),
        explode(expr("sequence(d0, d1, interval 1 day)")).as("d"))
    val w = Window.partitionBy("user_id").orderBy("d")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cal.join(daily.select("user_id", "d", "close"), Seq("user_id", "d"), "left")
      .select(col("user_id"), col("d"),
        last(col("close"), ignoreNulls = true).over(w).as("close_ff"),
        col("close").isNull.as("is_gap"))
      .orderBy("user_id", "d")
  }

  // Sessionization: split each user's event stream on >30 min
  // inactivity — lag to flag session starts, running sum to number
  // them; one shuffle on user_id, no self-join. The canonical
  // clickstream operator at lake scale.
  register("q_sessionize",
    """WITH e AS (SELECT user_id, event_id, epoch_ns(ts) AS tns,
      |                  epoch_ns(ts) // 1000000000 AS ts_sec
      |           FROM events),
      |f AS (SELECT user_id, event_id, tns, ts_sec,
      |             CASE WHEN tns - lag(tns) OVER w > 1800000000000 THEN 1 ELSE 0 END AS new_s
      |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tns, event_id)),
      |s AS (SELECT user_id, ts_sec,
      |             CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY tns, event_id
      |                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |                  AS BIGINT) AS session_id
      |      FROM f)
      |SELECT user_id, session_id, count(*) AS n_events,
      |       min(ts_sec) AS start_sec, max(ts_sec) AS end_sec
      |FROM s GROUP BY user_id, session_id
      |ORDER BY user_id, session_id""") { (s, dir) =>
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, dir)
      .withColumn("new_s",
        when(col("ts") - lag(col("ts"), 1).over(w) > 1800L * 1000000000L, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum("new_s").over(run))
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"),
        min("ts_sec").as("start_sec"), max("ts_sec").as("end_sec"))
      .orderBy("user_id", "session_id")
  }

  // Quantile-rank normalization: percent_rank of the quality score
  // WITHIN each language — the rank transform that makes quality cuts
  // comparable across languages with different score distributions
  // ("keep the top 30% per language" = pr >= 0.7). (rank−1)/(n−1) is
  // one integer-ratio division, identical in any engine; doc_id
  // tiebreak makes ranks total.
  register("q_quantile_norm",
    """WITH q AS (
      |  SELECT doc_id, lang,
      |         round(least(1.0, len(string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ')) / 100.0)
      |               * (1.0 - CAST(len(list_filter(string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' '),
      |                         x -> x IN ('the','a','an','of','to','in','and','is'))) AS DOUBLE)
      |                 / len(string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' '))), 4) AS quality
      |  FROM documents)
      |SELECT doc_id, lang, quality,
      |       round(percent_rank() OVER (PARTITION BY lang ORDER BY quality, doc_id), 6) AS pr
      |FROM q ORDER BY doc_id""") { (s, dir) =>
    import graft.functions.TextStats
    // skew-safe exact rank (see q_ntile_quality): percent_rank is
    // (rank−1)/(n−1), the identical double division both engines run
    // over the same total order — bit-identical to the window form
    val scored = Tables.documents(s, dir)
      .withColumn("toks", TextStats.tokens(col("text")))
      .select(col("doc_id"), col("lang"),
        round(TextStats.qualityScoreOf(col("toks")), 4).as("quality"))
      .localCheckpoint() // see q_ntile_quality: one tokenization pass
    graft.operators.Sampling.withExactRank(scored, "lang", "quality", "doc_id")
      .withColumn("pr", round(
        when(col("__n") === 1L, lit(0.0))
          .otherwise((col("__rn") - 1).cast("double") / (col("__n") - 1)), 6))
      .select("doc_id", "lang", "quality", "pr")
      .orderBy("doc_id")
  }

  // PSI drift between the first and second half of the month — the
  // corpus-version drift monitor: Σ (p−q)·ln(p/q) over a shared
  // equi-width bucketing, Laplace-smoothed so empty buckets stay
  // finite, densified to the FIXED 25-bucket grid so the smoothing
  // scale never depends on which buckets happen to be populated,
  // folded in bucket order so the double replays exactly.
  register("q_psi_drift",
    """WITH b0 AS (
      |  SELECT least(24, greatest(0, CAST(floor((value - 0.0) / 20.0) AS BIGINT))) AS bucket,
      |         count(CASE WHEN CAST(ts AS DATE) < DATE '2024-01-15' THEN 1 END) AS n_base,
      |         count(CASE WHEN CAST(ts AS DATE) >= DATE '2024-01-15' THEN 1 END) AS n_cur
      |  FROM events GROUP BY 1),
      |b AS (
      |  SELECT s.bucket, coalesce(b0.n_base, 0) AS n_base, coalesce(b0.n_cur, 0) AS n_cur
      |  FROM (SELECT unnest(range(25)) AS bucket) s LEFT JOIN b0 USING (bucket)),
      |t AS (SELECT CAST(sum(n_base) AS BIGINT) AS tb, CAST(sum(n_cur) AS BIGINT) AS tc,
      |             count(*) AS nb FROM b),
      |terms AS (
      |  SELECT bucket, n_base, n_cur,
      |         ((n_base + 1.0) / (tb + nb) - (n_cur + 1.0) / (tc + nb))
      |           * ln(((n_base + 1.0) / (tb + nb)) / ((n_cur + 1.0) / (tc + nb))) AS term
      |  FROM b, t)
      |SELECT round(list_sum(list_transform(list(struct_pack(bucket := bucket, term := term)
      |                                          ORDER BY bucket), x -> x.term)) + 0.0, 6) AS psi,
      |       count(*) AS n_buckets,
      |       CAST(sum(n_base) AS BIGINT) AS n_base, CAST(sum(n_cur) AS BIGINT) AS n_cur
      |FROM terms""") { (s, dir) =>
    // the 2024-01-15 split lands on the raw ts column (pushed row-group
    // bounds for BOTH scans) instead of the derived event_date
    val base = Tables.eventsIn(s, dir, None, Some(1705276800L))
    val cur = Tables.eventsIn(s, dir, Some(1705276800L), None)
    graft.operators.Profile.psi(base, cur, "value", lo = 0.0, hi = 500.0, nb = 25)
      .agg(
        sort_array(collect_list(struct(col("bucket"), col("term")))).as("cs"),
        count(lit(1)).as("n_buckets"),
        sum("n_base").as("n_base"),
        sum("n_cur").as("n_cur"))
      .select(
        round(aggregate(col("cs"), lit(0.0), (a, x) => a + x.getField("term")) + lit(0.0), 6)
          .as("psi"),
        col("n_buckets"), col("n_base"), col("n_cur"))
  }

  // ───────────────────── numeric profiling / QA ─────────────────────

  // Equi-width histogram of event values per type — the distribution
  // profile a pipeline QA pass materializes per column. Bucket index
  // is per-row integer arithmetic; counts and cent-sums are exact and
  // order-independent, so the histogram is mergeable across any
  // partitioning (the property sketches have, kept while staying
  // exact). One hash aggregation, map-side combined.
  register("q_histogram",
    """SELECT event_type,
      |       least(24, greatest(0, CAST(floor((value - 0.0) / 20.0) AS BIGINT))) AS bucket,
      |       count(*) AS n,
      |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
      |FROM events
      |GROUP BY 1, 2 ORDER BY event_type, bucket""") { (s, dir) =>
    graft.operators.Profile.histogram(
      Tables.events(s, dir), "event_type", "value", lo = 0.0, hi = 500.0, nb = 25)
      .orderBy("event_type", "bucket")
  }

  // Rank-exact winsorization: clip event values at the p05/p95 RANK
  // values per type (bounds are values from the data — no interpolation
  // arithmetic to drift between engines), then the clipped fixed-point
  // sum. The audit-pass twin of GK-sketch clipping (q_quality_quantiles
  // is the mergeable form); see Profile.winsorize for the skew story.
  register("q_winsorize",
    """WITH r AS (
      |  SELECT event_type, value,
      |         row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
      |         count(*) OVER (PARTITION BY event_type) AS n
      |  FROM events),
      |b AS (
      |  SELECT event_type,
      |         min(CASE WHEN rn = CAST(ceil(0.05 * n) AS BIGINT) THEN value END) AS p_lo,
      |         min(CASE WHEN rn = CAST(ceil(0.95 * n) AS BIGINT) THEN value END) AS p_hi
      |  FROM r GROUP BY event_type)
      |SELECT e.event_type, count(*) AS n,
      |       round(min(b.p_lo), 4) AS p05, round(min(b.p_hi), 4) AS p95,
      |       CAST(sum(CAST(round(least(greatest(e.value, b.p_lo), b.p_hi) * 100) AS BIGINT)) AS BIGINT) AS clipped_cents
      |FROM events e JOIN b USING (event_type)
      |GROUP BY e.event_type ORDER BY e.event_type""") { (s, dir) =>
    graft.operators.Profile.winsorize(
      Tables.events(s, dir), "event_type", "value", tieCol = "event_id")
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        round(min("p_lo"), 4).as("p05"),
        round(min("p_hi"), 4).as("p95"),
        sum(round(col("clipped") * 100).cast("long")).as("clipped_cents"))
      .orderBy("event_type")
  }

  // Robust outliers: |x − median| > 3·MAD per event type, both
  // statistics RANK-exact (value at a rank, or the exact midpoint of
  // the two middles) — the mean/stddev-immune outlier gate. Oracle
  // replays the identical two rank passes.
  register("q_robust_outliers",
    """WITH r AS (
      |  SELECT event_type, event_id, value,
      |         row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
      |         count(*) OVER (PARTITION BY event_type) AS n
      |  FROM events),
      |m AS (
      |  SELECT event_type,
      |         (min(CASE WHEN rn = CAST(ceil(n / 2.0) AS BIGINT) THEN value END)
      |          + min(CASE WHEN rn = CAST(floor(n / 2.0) AS BIGINT) + 1 THEN value END)) / 2.0 AS med
      |  FROM r GROUP BY event_type),
      |d AS (
      |  SELECT e.event_type, e.event_id, e.value, m.med,
      |         abs(e.value - m.med) AS absdev
      |  FROM events e JOIN m USING (event_type)),
      |r2 AS (
      |  SELECT event_type, absdev,
      |         row_number() OVER (PARTITION BY event_type ORDER BY absdev, event_id) AS rn,
      |         count(*) OVER (PARTITION BY event_type) AS n
      |  FROM d),
      |mad AS (
      |  SELECT event_type,
      |         (min(CASE WHEN rn = CAST(ceil(n / 2.0) AS BIGINT) THEN absdev END)
      |          + min(CASE WHEN rn = CAST(floor(n / 2.0) AS BIGINT) + 1 THEN absdev END)) / 2.0 AS mad
      |  FROM r2 GROUP BY event_type)
      |SELECT d.event_type, count(*) AS n,
      |       count(CASE WHEN abs(d.value - d.med) > 3.0 * mad.mad THEN 1 END) AS n_outliers,
      |       round(min(d.med), 4) AS med, round(min(mad.mad), 4) AS mad
      |FROM d JOIN mad USING (event_type)
      |GROUP BY d.event_type ORDER BY d.event_type""") { (s, dir) =>
    // projected (§2.3): the operator PINS its input (eager copy), so
    // handing it the full events row materialized the props payload
    // and ts columns it never reads; three columns in. No scan
    // fan-out: at 32 cores the hash repartition made this query slower
    // (2.66 s → 3.70 s)
    graft.operators.Profile.robustOutliers(
      Tables.events(s, dir).select("event_type", "value", "event_id"),
      "event_type", "value", tieCol = "event_id", k = 3.0)
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        count(when(col("is_outlier"), 1)).as("n_outliers"),
        round(min("med"), 4).as("med"),
        round(min("mad"), 4).as("mad"))
      .orderBy("event_type")
  }

  // ──────────────────────── merge / upsert ────────────────────────

  private val mergeTargetSql =
    s"""SELECT * FROM (${DailySeries.sql}) WHERE d < DATE '2024-01-20'"""
  private val mergeUpdatesSql =
    s"""SELECT user_id, d, round(close * 1.05, 6) AS close, high, low, n_events
       |FROM (${DailySeries.sql}) WHERE d >= DATE '2024-01-15'""".stripMargin

  private def mergeFrames(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val daily = DailySeries(s, dir)
    val target = daily.filter(col("d") < lit("2024-01-20"))
    val updates = daily.filter(col("d") >= lit("2024-01-15"))
      .withColumn("close", round(col("close") * 1.05, 6))
      .select("user_id", "d", "close", "high", "low", "n_events")
    (target, updates)
  }

  // U1/U4/U5 — keyed DO-UPDATE merge: updates win on (user_id, d).
  // Reference: full_stock_pipeline.py:405-415.
  register("q_merge_upsert",
    s"""WITH t AS ($mergeTargetSql), u AS ($mergeUpdatesSql)
       |SELECT * FROM u
       |UNION ALL
       |SELECT t.* FROM t WHERE NOT EXISTS
       |  (SELECT 1 FROM u WHERE u.user_id = t.user_id AND u.d = t.d)
       |ORDER BY user_id, d""") { (s, dir) =>
    val (target, updates) = mergeFrames(s, dir)
    Merge.upsert(target, updates, Seq("user_id", "d")).orderBy("user_id", "d")
  }

  // U2/U3/U7 — keyed DO-NOTHING merge: existing target wins.
  // Reference: full_stock_pipeline.py:449,471,482.
  register("q_merge_ignore",
    s"""WITH t AS ($mergeTargetSql), u AS ($mergeUpdatesSql)
       |SELECT * FROM t
       |UNION ALL
       |SELECT u.* FROM u WHERE NOT EXISTS
       |  (SELECT 1 FROM t WHERE t.user_id = u.user_id AND t.d = u.d)
       |ORDER BY user_id, d""") { (s, dir) =>
    val (target, updates) = mergeFrames(s, dir)
    Merge.insertIgnore(target, updates, Seq("user_id", "d")).orderBy("user_id", "d")
  }

  // SCD type-2 versioned dimension — the history-keeping form of the
  // U6 dim upsert: day-2 snapshot closes changed versions, opens new
  // ones, passes unchanged/absent rows through. Change detection is
  // null-safe attr equality; doubles compare on identical input bytes
  // (acctbal + 100.0 is the same IEEE op in both engines).
  register("q_scd2",
    """WITH dim AS (
      |  SELECT c_custkey, c_mktsegment, c_acctbal,
      |         '2024-01-01' AS valid_from, CAST(NULL AS VARCHAR) AS valid_to,
      |         TRUE AS is_current
      |  FROM customer),
      |upd AS (
      |  SELECT c_custkey,
      |         CASE WHEN c_custkey % 11 = 0 THEN 'REMAPPED' ELSE c_mktsegment END AS c_mktsegment,
      |         CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + CAST(100.0 AS DOUBLE) ELSE c_acctbal END AS c_acctbal
      |  FROM customer
      |  UNION ALL
      |  SELECT c_custkey + 1000000, 'NEW', CAST(0.0 AS DOUBLE)
      |  FROM customer WHERE c_custkey < 5),
      |chg AS (
      |  SELECT d.c_custkey FROM dim d JOIN upd u USING (c_custkey)
      |  WHERE d.c_mktsegment IS DISTINCT FROM u.c_mktsegment
      |     OR d.c_acctbal IS DISTINCT FROM u.c_acctbal)
      |SELECT * FROM (
      |  SELECT d.* FROM dim d WHERE d.c_custkey NOT IN (SELECT c_custkey FROM chg)
      |  UNION ALL
      |  SELECT d.c_custkey, d.c_mktsegment, d.c_acctbal, d.valid_from,
      |         '2024-02-01' AS valid_to, FALSE AS is_current
      |  FROM dim d JOIN chg USING (c_custkey)
      |  UNION ALL
      |  SELECT u.c_custkey, u.c_mktsegment, u.c_acctbal,
      |         '2024-02-01' AS valid_from, CAST(NULL AS VARCHAR) AS valid_to,
      |         TRUE AS is_current
      |  FROM upd u JOIN chg USING (c_custkey)
      |  UNION ALL
      |  SELECT u.c_custkey, u.c_mktsegment, u.c_acctbal,
      |         '2024-02-01' AS valid_from, CAST(NULL AS VARCHAR) AS valid_to,
      |         TRUE AS is_current
      |  FROM upd u WHERE u.c_custkey NOT IN (SELECT c_custkey FROM dim))
      |ORDER BY c_custkey, valid_from""") { (s, dir) =>
    val cust = Tables.customer(s, dir)
    val dim0 = cust.select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
      .withColumn("valid_from", lit("2024-01-01"))
      .withColumn("valid_to", lit(null).cast("string"))
      .withColumn("is_current", lit(true))
    val upd = cust.select(
        col("c_custkey"),
        when(col("c_custkey") % 11 === 0, lit("REMAPPED"))
          .otherwise(col("c_mktsegment")).as("c_mktsegment"),
        when(col("c_custkey") % 7 === 0, col("c_acctbal") + lit(100.0))
          .otherwise(col("c_acctbal")).as("c_acctbal"))
      .unionByName(cust.filter(col("c_custkey") < 5).select(
        (col("c_custkey") + 1000000).as("c_custkey"),
        lit("NEW").as("c_mktsegment"),
        lit(0.0).as("c_acctbal")))
    Merge.scd2(dim0, upd, Seq("c_custkey"), "2024-02-01")
      .orderBy("c_custkey", "valid_from")
  }

  // Snapshot diff — recover the delta between two lake versions of a
  // dimension (the audit inverse of the U6 overwrite load): one full
  // outer shuffle join on the key, null-safe per-column compare, and
  // an output that is delta-sized, not corpus-sized. The "new" snapshot
  // is derived deterministically from customer (drops, attr edits,
  // inserts) so both engines diff identical inputs.
  register("q_snapshot_diff",
    """WITH oldt AS (
      |  SELECT c_custkey, c_acctbal, c_mktsegment, c_name, c_nationkey FROM customer),
      |newt AS (
      |  SELECT c_custkey,
      |         CASE WHEN c_custkey % 5 = 0 THEN c_acctbal + CAST(10.0 AS DOUBLE) ELSE c_acctbal END AS c_acctbal,
      |         CASE WHEN c_custkey % 11 = 0 THEN 'REMAPPED' ELSE c_mktsegment END AS c_mktsegment,
      |         c_name, c_nationkey
      |  FROM customer WHERE c_custkey % 7 <> 3
      |  UNION ALL
      |  SELECT c_custkey + 1000000, CAST(0.0 AS DOUBLE), 'NEW', 'new customer',
      |         CAST(0 AS INTEGER)
      |  FROM customer WHERE c_custkey < 5),
      |j AS (
      |  SELECT COALESCE(n.c_custkey, o.c_custkey) AS c_custkey,
      |         o.c_custkey IS NOT NULL AS in_old, n.c_custkey IS NOT NULL AS in_new,
      |         list_filter([
      |           CASE WHEN o.c_acctbal IS DISTINCT FROM n.c_acctbal THEN 'c_acctbal' END,
      |           CASE WHEN o.c_mktsegment IS DISTINCT FROM n.c_mktsegment THEN 'c_mktsegment' END,
      |           CASE WHEN o.c_name IS DISTINCT FROM n.c_name THEN 'c_name' END,
      |           CASE WHEN o.c_nationkey IS DISTINCT FROM n.c_nationkey THEN 'c_nationkey' END
      |         ], x -> x IS NOT NULL) AS cc
      |  FROM oldt o FULL OUTER JOIN newt n ON o.c_custkey = n.c_custkey)
      |SELECT c_custkey,
      |       CASE WHEN NOT in_old THEN 'added' WHEN NOT in_new THEN 'removed'
      |            WHEN len(cc) > 0 THEN 'changed' END AS change,
      |       CASE WHEN in_old AND in_new THEN array_to_string(cc, ',') ELSE '' END AS changed_cols
      |FROM j WHERE (NOT in_old) OR (NOT in_new) OR len(cc) > 0
      |ORDER BY c_custkey""") { (s, dir) =>
    val cust = Tables.customer(s, dir)
    val newSnap = cust
      .filter(col("c_custkey") % 7 =!= 3)
      .select(
        col("c_custkey"),
        when(col("c_custkey") % 5 === 0, col("c_acctbal") + lit(10.0))
          .otherwise(col("c_acctbal")).as("c_acctbal"),
        when(col("c_custkey") % 11 === 0, lit("REMAPPED"))
          .otherwise(col("c_mktsegment")).as("c_mktsegment"),
        col("c_name"), col("c_nationkey"))
      .unionByName(cust.filter(col("c_custkey") < 5).select(
        (col("c_custkey") + 1000000).as("c_custkey"),
        lit(0.0).as("c_acctbal"),
        lit("NEW").as("c_mktsegment"),
        lit("new customer").as("c_name"),
        lit(0).cast("int").as("c_nationkey")))
    graft.operators.SnapshotDiff.diff(cust, newSnap, Seq("c_custkey"))
      .select(col("c_custkey"), col("change"),
        array_join(col("changed_cols"), ",").as("changed_cols"))
      .orderBy("c_custkey")
  }

  // The full-replay trading_patterns oracle — shared by q_e1_pipeline
  // (whole-history replay) and q_e1_day (single-day incremental replay
  // against standing state): BOTH must converge to exactly this table,
  // which is what makes the day path's one-partition merges a
  // hash-proven equivalence, not an approximation.
  private lazy val e1PatternsSql =
    s"""WITH daily AS (${DailySeries.sql}),
       |c6t AS (SELECT user_id, d, close,
       |               CAST(round(close * 1000000) AS BIGINT) AS c6
       |        FROM daily),
       |m AS (SELECT user_id, d, close,
       |             lag(close, 1) OVER w AS c1,
       |             lag(close, 2) OVER w AS c2,
       |             CAST(sum(c6) OVER w5 AS DOUBLE) / (1000000.0 * count(*) OVER w5) AS ma_fast,
       |             CAST(sum(c6) OVER w20 AS DOUBLE) / (1000000.0 * count(*) OVER w20) AS ma_slow
       |      FROM c6t
       |      WINDOW w AS ($winSql),
       |             w5 AS ($winSql ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
       |             w20 AS ($winSql ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)),
       |trend AS (
       |  SELECT user_id, d, 'Trend Patterns' AS pattern_category,
       |         CASE WHEN close > c1 AND c1 > c2 THEN 'Bullish Trend'
       |              WHEN close < c1 AND c1 < c2 THEN 'Bearish Trend' END AS pattern
       |  FROM m WHERE c1 IS NOT NULL AND c2 IS NOT NULL),
       |crossed AS (
       |  SELECT user_id, d, 'Moving Average Patterns' AS pattern_category,
       |         CASE WHEN ma_fast > ma_slow THEN 'Golden Cross'
       |              WHEN ma_fast < ma_slow THEN 'Death Cross' END AS pattern
       |  FROM m)
       |SELECT user_id, d, pattern_category, pattern
       |FROM (SELECT * FROM trend WHERE pattern IS NOT NULL
       |      UNION ALL SELECT * FROM crossed WHERE pattern IS NOT NULL) u
       |ORDER BY user_id, d, pattern""".stripMargin

  // E1 — the reference's whole daily DAG replayed as one run
  // (dags/trading_dashboard.py:96-100): ingest → conform → merge into
  // history → detect patterns → behavior analysis → train + predict,
  // each stage a keyed merge into a parquet lake (jobs/Pipeline.scala).
  // The query executes ALL five stages into a fresh temp lake and
  // returns the trading_patterns table — the deepest SQL-expressible
  // stage (the oracle replays conform → prev-close history → trend +
  // fixed-point MA-cross patterns; DO-NOTHING merge into an empty lake
  // is the identity). The analysis and prediction stages run too;
  // their values are gated by q_join_two_key / q_ml_metrics.
  register("q_e1_pipeline", e1PatternsSql) { (s, dir) =>
    val lake = graft.jobs.Pipeline.run(s, dir, e1LakeRoot(dir))
    s.read.parquet(lake.patterns)
      .select("user_id", "d", "pattern_category", "pattern")
      .orderBy("user_id", "d", "pattern")
  }

  // E1-DAY — the PRODUCTION shape of the same DAG (r18 verdict #3):
  // the reference's cron runs once per day (trading_dashboard.py:56),
  // so the number that scales is "replay ONE day against standing
  // state", not q_e1_pipeline's whole-history backfill (whose floor
  // is rewriting every date partition per merge stage). The fixture
  // stands the lake up ONCE on history MINUS the last day; the query
  // replays exactly that day through the five day-scoped stages
  // (Pipeline.runDay — partition-pruned event scans, a bounded
  // lookback window slice, one-partition merges, fringe-only scoring
  // off the served model artifact) and returns the FULL patterns
  // table against the SAME full-replay oracle as q_e1_pipeline:
  // hash-equality proves the incremental day converges to exactly
  // the full-replay lake. Re-executions replay the same day into the
  // standing lake — the merges are idempotent, so the result is
  // stable AND every sample pays the true single-day cost.
  register("q_e1_day", e1PatternsSql) { (s, dir) =>
    val day = e1LastDay(s, dir)
    val lake = graft.jobs.Pipeline.runDay(s, dir, e1DayLakeRoot(s, dir), day)
    s.read.parquet(lake.patterns)
      .select("user_id", "d", "pattern_category", "pattern")
      .orderBy("user_id", "d", "pattern")
  }
}
