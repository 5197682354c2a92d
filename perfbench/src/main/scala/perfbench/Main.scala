package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.jobs.Pipeline
import graft.serve.Views
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The benchmark's JVM side: stands up one workload on the inputs `run.py`
  * generated, times its operations in a closed loop, writes the outputs the
  * checks need after the timed region, and leaves raw samples in
  * `<work>/result.json` for `run.py` to reduce.
  *
  * Usage: perfbench.Main workload=<daily|dashboard> work=<dir> seconds=<s>
  *        trace=<0|1> cpus=<n> seed=<n>
  */
object Main {

  private def now(): Long = System.currentTimeMillis()

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Peak resident set of this JVM so far, in MiB. */
  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  private def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val st = Files.walk(p)
      try st.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally st.close()
    }

  /** graft.Bench's session config, with scratch space inside the work dir. */
  def session(cpus: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  final class Ctx(val spark: SparkSession, val work: Path, val seconds: Double,
                  val tracer: Option[Tracer], val cpus: Int, val seed: Long) {
    val sf: String = work.resolve("sf").toString
    val startMs: Long = now()
    val out = mutable.LinkedHashMap.empty[String, Any]
    val ops = new ConcurrentLinkedQueue[Map[String, Any]]()
    val layers = mutable.LinkedHashMap.empty[String, Double]
    val setupParts = mutable.LinkedHashMap.empty[String, Double]

    def setupPart[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = body
      setupParts(name) = (System.nanoTime() - t0) / 1e9
      r
    }

    /** Time `body` as one operation; traced, run it as a call. */
    def op[T](name: String)(body: => T): (Double, Option[String], T) = {
      val t0 = System.nanoTime()
      val (id, r) = tracer match {
        case Some(t) => val (i, v) = t.call("workload", name)(body); (Some(i), v)
        case None => (None, body)
      }
      ((System.nanoTime() - t0) / 1e9, id, r)
    }
  }

  // ───────────────────────── Spark per-call layer ─────────────────────────

  private val sparkKeys = Seq("jobs", "tasks", "executor_cpu_s", "executor_run_s",
    "core_idle_share", "shuffle_bytes", "spill_bytes", "task_p50_ms", "task_max_ms",
    "failed_tasks", "driver_self_s")

  /** Spark metrics of one call; `driver_self_s` is the call's wall time
    * minus the union of its job spans. */
  private def sparkRow(st: CallStats, wallS: Double, cpus: Int): Map[String, Double] = {
    val wallMs = wallS * 1000
    val jobs = st.jobSpans.map(j => (j._2, j._3)).toSeq
    val inJobs = if (jobs.isEmpty) 0L else Tracer.covered(jobs, jobs.map(_._1).min, jobs.map(_._2).max)
    Map(
      "jobs" -> st.jobs.toDouble, "tasks" -> st.tasks.toDouble,
      "executor_cpu_s" -> st.cpuNs / 1e9, "executor_run_s" -> st.runMs / 1e3,
      "core_idle_share" -> math.max(0.0, 1 - st.runMs / math.max(1.0, wallMs * cpus)),
      "shuffle_bytes" -> st.shuffleBytes.toDouble, "spill_bytes" -> st.spillBytes.toDouble,
      "task_p50_ms" -> median(st.taskMs.map(_.toDouble).toSeq),
      "task_max_ms" -> (if (st.taskMs.isEmpty) 0.0 else st.taskMs.max.toDouble),
      "failed_tasks" -> st.failedTasks.toDouble,
      "driver_self_s" -> math.max(0.0, wallMs - inJobs) / 1e3)
      .map { case (k, v) => s"spark.$k" -> v } + ("tables.input_bytes" -> st.inputBytes.toDouble)
  }

  private def foldMedians(ctx: Ctx, rows: Seq[Map[String, Double]], keys: Seq[String]): Unit =
    keys.foreach(k => ctx.layers(k) = median(rows.flatMap(_.get(k))))

  private val sparkLayer = sparkKeys.map(k => s"spark.$k") :+ "tables.input_bytes"

  // ───────────────────────────────── daily ─────────────────────────────────

  /** Land one staged arrival day in the raw zone. */
  private def land(ctx: Ctx, day: String): Unit = {
    val name = s"$day.parquet"
    Files.move(ctx.work.resolve("staged").resolve(name), Paths.get(ctx.sf, "events.parquet", name))
  }

  /** Stands up a lake over the landed history, then replays the two staged
    * days through Pipeline.runDay, a warm-up day and the timed day, landing
    * each day's events file untimed just before its run. */
  def daily(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val lake = ctx.work.resolve("lake")
    val staged = Files.list(ctx.work.resolve("staged")).iterator().asScala
      .map(_.getFileName.toString.stripSuffix(".parquet")).toSeq.sorted
    val historyDays = Files.list(Paths.get(ctx.sf, "events.parquet")).iterator().asScala.size
    ctx.out("history_days") = historyDays
    ctx.out("history_longer_than_lookback") = historyDays > Pipeline.DayLookback
    ctx.setupPart("standup")(Pipeline.run(spark, ctx.sf, lake.toString))
    // the first replayed day bootstraps the standing feature table and
    // warms the JIT: set-up, not a measured day
    ctx.setupPart("warmup") {
      land(ctx, staged.head)
      Pipeline.runDay(spark, ctx.sf, lake.toString, java.sql.Date.valueOf(staged.head))
    }
    ctx.out("setup_end_ms") = now()

    // the one timed day, whatever the program's speed: later staged days
    // would be different work (a refit day among them)
    val day = staged(1)
    land(ctx, day)
    def served() = graft.ml.ModelArtifact.servedVersionMeta(spark, lake.resolve("price_model").toString)
    val before = ctx.tracer.map(_ => (Tracer.listFiles(lake), served()))
    val (wall, id, _) = ctx.op(s"runDay $day")(
      Pipeline.runDay(spark, ctx.sf, lake.toString, java.sql.Date.valueOf(day)))
    val st = Pipeline.lastDayStageSeconds
    ctx.ops.add(Map("name" -> "runDay", "day" -> day, "wall_s" -> wall, "stages" -> st.toMap))
    id.foreach { id =>
      val t = ctx.tracer.get
      val stats = t.statsFor(id)
      // E1 stages run one after another from the call's start, so their
      // spans are rebuilt from the stage-seconds fields
      val start = t.allSpans.find(_.id == id).get.start
      val es = st.scanLeft((start, start, "")) { case ((_, end, _), (n, s)) =>
        (end, end + math.round(s * 1000), n) }.tail
        .map { case (a, b, n) => Span(s"$id/$n", id, n, a, b) }
      es.foreach(t.span)
      t.addSparkSpans(id, stats, at => es.find(s => at >= s.start && at < s.end).map(_.id).getOrElse(id))
      val d = Tracer.diff(before.get._1, Tracer.listFiles(lake))
      val dayBytes = Files.size(Paths.get(ctx.sf, "events.parquet", s"$day.parquet")).toDouble
      val refit = served() != before.get._2
      val predictS = st.toMap.getOrElse("predict", 0.0)
      ctx.layers ++= sparkRow(stats, wall, ctx.cpus) ++
        d.map { case (k, v) => s"sinks.$k" -> v } ++ st.map { case (n, s) => s"jobs.${n}_s" -> s } ++
        Map("tables.read_amplification" -> stats.inputBytes / dayBytes,
          "sinks.write_amplification" -> d("bytes_written") / dayBytes,
          "ml.refits" -> (if (refit) 1.0 else 0.0),
          "ml.predict_refit_s" -> (if (refit) predictS else 0.0),
          "ml.predict_fold_s" -> (if (refit) 0.0 else predictS))
    }
    ctx.out("peak_rss_mb") = peakRssMb()
    ctx.out("source_events") = spark.read.parquet(s"${ctx.sf}/events.parquet").count()
    ctx.out("lake_bytes") = Seq("stock_price_history", "trading_patterns", "news_stock_analysis",
      "stock_predictions", "price_features").map(t => dirBytes(lake.resolve(t))).sum
    ctx.out("patterns_oracle_sql") = graft.SparkEntry.oracleSql("q_e1_pipeline")
  }

  // ─────────────────────────────── dashboard ───────────────────────────────

  /** The dashboard's loaders that read the events alone. stockPredictions
    * and newsAnalysis read E1 lake tables, which this workload does not
    * stand up (NOTES.md). */
  private val viewNames: Seq[String] = Seq("companyList", "stockData", "companyNews", "tradingPatterns",
    "topGainers", "topLosers", "marketBehavior", "highVolatility")

  /** Request mix, as one client's deck of ten: per-symbol point reads are
    * the common case, the full-scan top-k views the rest. Clients deal whole
    * decks, each in its own seeded order, so every run issues the same mix. */
  private val deck: Seq[String] = Seq.fill(3)("stockData") ++ Seq("companyNews", "companyList",
    "tradingPatterns", "topGainers", "topLosers", "marketBehavior", "highVolatility")

  /** The analyst's registry query (NOTES.md gives the modules it stands for). */
  private val catalogQuery = "q_editdist_lookup"

  /** Views with an oracle-backed registry twin computing the same rows. */
  private val twins: Map[String, String] = Map("companyList" -> "q_latest_day_per_user",
    "tradingPatterns" -> "q_w2_trend", "topGainers" -> "q_top_gainers",
    "topLosers" -> "q_top_losers", "marketBehavior" -> "q_market_behavior",
    "highVolatility" -> "q_top_volatility")

  final case class Request(view: String, symbol: Long, start: String, end: String)

  /** One client's seeded request stream: Zipf symbol popularity over the
    * generator's popularity ranks, stockData ranges of varied length. */
  final class RequestGen(seed: Long, ranked: IndexedSeq[Long], firstDay: java.time.LocalDate,
                         nDays: Int) {
    private val rnd = new scala.util.Random(seed)
    private val cum = {
      val w = ranked.indices.map(i => math.pow(i + 1, -1.1))
      w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum)
    }
    /** The next deck's requests. */
    def deal(): Seq[Request] = rnd.shuffle(deck).map(request)
    def request(view: String): Request = {
      val sym = ranked(math.min(ranked.size - 1, cum.search(rnd.nextDouble()).insertionPoint))
      val len = 5 + rnd.nextInt(math.max(1, nDays - 4))
      val from = rnd.nextInt(math.max(1, nDays - len + 1))
      Request(view, sym, firstDay.plusDays(from).toString, firstDay.plusDays(from + len - 1).toString)
    }
  }

  private def viewFrame(ctx: Ctx, r: Request): DataFrame = {
    val (s, dir) = (ctx.spark, ctx.sf)
    r.view match {
      case "companyList" => Views.companyList(s, dir)
      case "stockData" => Views.stockData(s, dir, r.symbol, r.start, r.end)
      case "companyNews" => Views.companyNews(s, dir, r.symbol)
      case "tradingPatterns" => Views.tradingPatterns(s, dir)
      case "topGainers" => Views.topGainers(s, dir)
      case "topLosers" => Views.topLosers(s, dir)
      case "marketBehavior" => Views.marketBehavior(s, dir)
      case "highVolatility" => Views.highVolatility(s, dir)
    }
  }

  /** Run `tasks` on `threads` threads; rethrows the first failure. */
  private def inParallel(tasks: Seq[() => Unit], threads: Int): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try tasks.map(t => pool.submit(new Runnable { def run(): Unit = t() })).foreach(_.get())
    finally pool.shutdown()
  }

  /** Execute one request: a view collects its bounded result, a registry
    * query forces every row as graft.Bench does. Traced, the physical plan
    * is forced first so that planning and execution time separate. */
  private def execute(ctx: Ctx, df: DataFrame, collect: Boolean): (Double, Long) = {
    val a = System.nanoTime()
    if (ctx.tracer.isDefined) df.queryExecution.executedPlan
    val planS = (System.nanoTime() - a) / 1e9
    val n = if (collect) df.collect().length.toLong else { df.queryExecution.toRdd.foreach(_ => ()); 0L }
    (planS, n)
  }

  /** `nproc` closed-loop clients share one session and deal decks of
    * dashboard views; each deals one deck, and another only while one as
    * long as its last still ends inside `seconds`. Then an analyst runs the
    * registry query once, alone, so that its time does not depend on how it
    * happened to overlap the views. */
  def dashboard(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val registry = graft.SparkEntry.queries
    val ranked = Files.readAllLines(ctx.work.resolve("symbols_by_rank.txt")).asScala
      .map(_.trim.toLong).toIndexedSeq
    val days = Files.list(Paths.get(ctx.sf, "events.parquet")).iterator().asScala
      .map(_.getFileName.toString.stripSuffix(".parquet")).toSeq.sorted
    val first = java.time.LocalDate.parse(days.head)
    // set-up, on all cores at once: the query's cold run builds its
    // artifact and writes the output the oracle check reads, and each view
    // runs once
    ctx.setupPart("warmup") {
      val g = new RequestGen(ctx.seed, ranked, first, days.size)
      val views = viewNames.map(g.request)
      inParallel((() => registry(catalogQuery)(spark, ctx.sf).coalesce(1).write.mode("overwrite")
        .parquet(ctx.work.resolve(s"check/catalog/$catalogQuery").toString)) +:
        views.map(r => () => { viewFrame(ctx, r).collect(); () }), ctx.cpus)
    }
    ctx.out("setup_end_ms") = now()

    val clients = ctx.cpus
    ctx.out("clients") = clients
    val traced = new ConcurrentLinkedQueue[(String, String, String, Double, Double, Long)]()
    val failures = new java.util.concurrent.atomic.AtomicInteger()
    def request(kind: String, name: String, df: => DataFrame): Unit = {
      val a = System.nanoTime()
      try {
        val (id, (planS, n)) = ctx.tracer match {
          case Some(t) => t.call("workload", name)(execute(ctx, df, kind == "view"))
          case None => ("", execute(ctx, df, kind == "view"))
        }
        val wall = (System.nanoTime() - a) / 1e9
        ctx.ops.add(Map("name" -> name, "kind" -> kind, "wall_s" -> wall))
        if (ctx.tracer.isDefined) traced.add((id, kind, name, wall, planS, n))
      } catch { case e: Throwable =>
        System.err.println(s"[perfbench] $kind $name failed: $e")
        failures.incrementAndGet()
      }
    }
    val t0 = System.nanoTime()
    val viewers = (1 to clients).map { c =>
      new Thread(() => {
        val g = new RequestGen(ctx.seed * 1000 + c, ranked, first, days.size)
        var (decks, last) = (0, 0.0)
        while (decks == 0 || (System.nanoTime() - t0) / 1e9 + last <= ctx.seconds) {
          val d0 = System.nanoTime()
          g.deal().foreach(r => request("view", r.view, viewFrame(ctx, r)))
          last = (System.nanoTime() - d0) / 1e9
          decks += 1
        }
      })
    }
    viewers.foreach(_.start())
    viewers.foreach(_.join())
    ctx.out("views_s") = (System.nanoTime() - t0) / 1e9
    val p0 = System.nanoTime()
    request("query", catalogQuery, registry(catalogQuery)(spark, ctx.sf))
    ctx.out("pass_s") = (System.nanoTime() - p0) / 1e9
    ctx.out("timed_s") = (System.nanoTime() - t0) / 1e9
    ctx.out("peak_rss_mb") = peakRssMb()
    ctx.out("failed_requests") = failures.get()
    ctx.tracer.foreach { t =>
      val tr = traced.asScala.toSeq
      val rows = tr.map { case (id, _, _, wall, _, n) =>
        val st = t.statsFor(id)
        t.addSparkSpans(id, st, _ => id)
        sparkRow(st, wall, ctx.cpus) + ("serve.rows_read_per_row" -> st.inputRecords.toDouble / math.max(1L, n))
      }
      foldMedians(ctx, rows, sparkLayer)
      val views = tr.zip(rows).filter(_._1._2 == "view")
      val qs = tr.filter(_._2 == "query")
      viewNames.foreach(v => ctx.layers(s"serve.${v}_p50_ms") =
        median(views.filter(_._1._3 == v).map(_._1._4 * 1000)))
      ctx.layers("serve.plan_ms_p50") = median(views.map(_._1._5 * 1000))
      ctx.layers("serve.exec_ms_p50") = median(views.map(x => (x._1._4 - x._1._5) * 1000))
      ctx.layers("serve.rows_read_per_row") = median(views.map(_._2("serve.rows_read_per_row")))
      ctx.layers("catalog.plan_s") = median(qs.map(_._5))
      ctx.layers("catalog.exec_s") = median(qs.map(q => q._4 - q._5))
      ctx.layers(s"catalog.${catalogQuery}_s") = median(qs.map(_._4))
    }

    // outputs for the untimed checks: the rows of each view with a
    // registry twin, one JSON object per row
    inParallel(twins.keys.toSeq.map(v => () => {
      Files.write(ctx.work.resolve(s"check/view_$v.jsonl"),
        viewFrame(ctx, Request(v, 0L, "", "")).collect().map(_.json).toSeq.asJava)
      ()
    }), ctx.cpus)
    val sql = graft.SparkEntry.oracleSql
    ctx.out("view_oracle_sql") = twins.map { case (v, q) => v -> sql(q) }
    ctx.out("catalog_oracle_sql") = sql.get(catalogQuery).map(catalogQuery -> _).toMap
  }

  // ───────────────────────────────── main ──────────────────────────────────

  def main(argv: Array[String]): Unit = {
    val args = argv.map { s => val i = s.indexOf('='); s.take(i) -> s.drop(i + 1) }.toMap
    val work = Paths.get(args("work")).toAbsolutePath
    val cpus = args("cpus").toInt
    val t0 = System.nanoTime()
    val spark = session(cpus, work)
    val tracer = if (args("trace") == "1") Some(new Tracer(spark.sparkContext)) else None
    val ctx = new Ctx(spark, work, args("seconds").toDouble, tracer, cpus, args("seed").toLong)
    ctx.setupParts("session") = (System.nanoTime() - t0) / 1e9
    args("workload") match {
      case "daily" => daily(ctx)
      case "dashboard" => dashboard(ctx)
    }
    // the generated inputs must conform to the engine's canonical schemas
    ctx.out("schema_conformable") =
      graft.SchemaReport.assertConformable(spark, ctx.sf, throwOnDrift = false).isEmpty
    ctx.out("setup_parts_s") = ctx.setupParts.toMap
    ctx.out("ops") = ctx.ops.asScala.toSeq
    ctx.out("layers") = ctx.layers.toMap
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    tracer.foreach { t =>
      t.span(Span("workload", "", args("workload"), ctx.startMs, now()))
      val spans = t.allSpans
      val self = Tracer.selfTimes(spans)
      Files.writeString(work.resolve("spans.json"), mapper.writeValueAsString(spans.map(s =>
        Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "start_ms" -> s.start,
          "end_ms" -> s.end, "self_ms" -> self(s.id)) ++ s.attrs)))
    }
    ctx.out("end_ms") = now()
    Files.writeString(work.resolve("result.json"), mapper.writeValueAsString(ctx.out))
    spark.stop()
  }
}
