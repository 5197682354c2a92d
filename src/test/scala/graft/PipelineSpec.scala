package graft

import graft.jobs.Pipeline
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** E1 end-to-end: full pipeline over sf0.001 into a temp lake; every
  * output table keyed-unique; re-running the whole pipeline (same day
  * re-processed) changes nothing — the reference's ON CONFLICT
  * idempotence, at pipeline granularity.
  */
class PipelineSpec extends SparkSpec {
  private val sfDir = "/root/testdata/sf0.001"

  /** The [day − lookbackDays, day] history slice [[Pipeline.runDay]]
    * hands its post-merge stages. */
  private def daySlice(lake: Pipeline.LakePaths, day: java.sql.Date,
                       lookbackDays: Int) =
    spark.read.parquet(lake.history)
      .filter(col("d") >= date_sub(lit(day), lookbackDays) && col("d") <= lit(day))

  test("full E1 run produces keyed tables; rerun is idempotent") {
    val lakeRoot = Files.createTempDirectory("graft-lake").toString
    val lake = Pipeline.run(spark, sfDir, lakeRoot)

    def snapshot(path: String, keys: Seq[String]): (Long, Long) = {
      val df = spark.read.parquet(path)
      val n = df.count()
      val k = df.select(keys.map(col): _*).distinct().count()
      (n, k)
    }
    val tables = Seq(
      lake.history -> Seq("user_id", "d"),
      lake.patterns -> Seq("user_id", "d", "pattern"),
      lake.analysis -> Seq("user_id", "d"),
      lake.predictions -> Seq("user_id", "d"))
    val first = tables.map { case (p, keys) =>
      val (n, k) = snapshot(p, keys)
      assert(n > 0, s"$p is empty")
      assert(n === k, s"$p has duplicate keys")
      p -> n
    }.toMap

    // rerun the whole pipeline over the same input
    Pipeline.run(spark, sfDir, lakeRoot)
    tables.foreach { case (p, keys) =>
      val (n, k) = snapshot(p, keys)
      assert(n === first(p), s"$p row count changed on rerun")
      assert(n === k)
    }
  }

  test("runDay: one-day incremental replay converges to the full-replay lake and serves the standing model") {
    val fullRoot = Files.createTempDirectory("graft-lakeF").toString
    val dayRoot = Files.createTempDirectory("graft-lakeD").toString
    val day = Tables.events(spark, sfDir).agg(max(col("event_date"))).head().getDate(0)
    val full = Pipeline.run(spark, sfDir, fullRoot)
    // standing lake: everything BEFORE the last day
    val inc = Pipeline.run(spark, sfDir, dayRoot, before = Some(day))
    val fitRows = graft.ml.ModelArtifact.servedVersionMeta(spark, inc.models)("train_rows")
    // replay exactly the last day against standing state
    Pipeline.runDay(spark, sfDir, dayRoot, day)
    def rows(p: String): Array[Seq[Any]] = {
      val df = spark.read.parquet(p)
      df.select(df.columns.sorted.map(col): _*).collect()
        .map(_.toSeq).sortBy(_.mkString("|"))
    }
    // the deterministic tables converge EXACTLY (the q_e1_day oracle
    // pins patterns against DuckDB; this pins the other two)
    for ((f, i) <- Seq(full.history -> inc.history,
        full.patterns -> inc.patterns, full.analysis -> inc.analysis)) {
      val (a, b) = (rows(f), rows(i))
      assert(a.length === b.length, s"$i row count diverged from full replay")
      assert(a.sameElements(b), s"$i diverged from the full replay")
    }
    // predictions: the day's sub-bound feature growth must NOT refit —
    // the artifact still serves the standup fit (staleness witness)...
    val feats = graft.ml.PricePredictor.featuresOf(
      spark.read.parquet(inc.history).drop("prev_close")).cache()
    try {
      val nFull = feats.count()
      assert(graft.ml.ModelArtifact.servedVersionMeta(spark, inc.models)("train_rows") === fitRows)
      assert(fitRows < nFull, "the served fit must be the documented one-bound-behind vintage")
      // ...and the stale-serving VALUES are pinned, not assumed (r18
      // advice): every prediction row equals the standing model scoring
      // the full feature frame — keys match the full replay, values
      // come from the one-day-stale fit
      val expected = graft.ml.ModelArtifact.scoreServed(feats, inc.models)
        .collect().map(_.toSeq).sortBy(_.mkString("|"))
      val got = rows(inc.predictions)
      val gotInExpectedOrder = {
        val df = spark.read.parquet(inc.predictions)
        df.select("user_id", "d", "previous_close", "predicted_close").collect()
          .map(_.toSeq).sortBy(_.mkString("|"))
      }
      assert(gotInExpectedOrder.length === expected.length)
      assert(gotInExpectedOrder.sameElements(expected),
        "incremental predictions must be exactly the standing model's scores")
      assert(got.length === rows(full.predictions).length,
        "prediction keys must match the full replay")
    } finally feats.unpersist()
  }

  test("predictDay scores a day-trading symbol whose previous trade predates the lookback") {
    import spark.implicits._
    val lake = Pipeline.LakePaths(Files.createTempDirectory("graft-lakeIdle").toString)
    val day = java.sql.Date.valueOf("2024-03-01")
    def d(s: String) = java.sql.Date.valueOf(s)
    // symbol 1 is idle 20 days (> the 5-day lookback) before trading on
    // `day`; its feature row at 2024-02-09 gets its label FROM `day`,
    // so the day replay must score it even though the symbol has no
    // fringe row inside the lookback (r19 review: an inner fringe join
    // silently dropped it from the predictions table)
    val hist = Seq(
      (1L, d("2024-02-08"), 10.0, 11.0, 9.0),
      (1L, d("2024-02-09"), 11.0, 12.0, 10.0),
      (1L, day, 12.0, 13.0, 11.0),
      (2L, d("2024-02-28"), 19.0, 20.0, 18.0),
      (2L, d("2024-02-29"), 20.0, 21.0, 19.0),
      (2L, day, 22.0, 23.0, 21.0)
    ).toDF("user_id", "d", "close", "high", "low")
    hist.write.partitionBy("d").parquet(lake.history)
    graft.ml.ModelArtifact.init(spark, lake.models)
    graft.ml.ModelArtifact.refresh(spark, lake.models,
      graft.ml.PricePredictor.featuresOf(spark.read.parquet(lake.history)))
    Pipeline.predictDay(spark, lake, day, daySlice(lake, day, 5))
    val preds = spark.read.parquet(lake.predictions)
      .select("user_id", "d").as[(Long, java.sql.Date)].collect().toSet
    assert(preds.contains((1L, d("2024-02-10"))),
      "the idle symbol's newly labeled feature row must produce its prediction")
    assert(preds.contains((2L, day)),
      "the dense symbol's fringe row must produce its next-day prediction")
  }

  test("runDay refuses a day behind the standing frontier (append-only contract)") {
    import spark.implicits._
    val lake = Pipeline.LakePaths(Files.createTempDirectory("graft-lakeGuard").toString)
    def d(s: String) = java.sql.Date.valueOf(s)
    Seq((1L, d("2024-03-05"), 10.0, 11.0, 9.0))
      .toDF("user_id", "d", "close", "high", "low")
      .write.partitionBy("d").parquet(lake.history)
    // a late-arriving day behind the frontier must fail LOUDLY before
    // any stage runs (the guard fires before the source dir is read)
    val e = intercept[IllegalArgumentException] {
      Pipeline.runDay(spark, "unused-src-dir", lake.root, d("2024-03-03"))
    }
    assert(e.getMessage.contains("behind the standing frontier"))
    assert(e.getMessage.contains("Pipeline.run"))
  }

  test("predictDay: folded witnesses and the standing feature table equal a full derivation under adds AND in-place updates") {
    import spark.implicits._
    import graft.ml.{ModelArtifact, PricePredictor}
    val lake = Pipeline.LakePaths(Files.createTempDirectory("graft-lakeFold").toString)
    def dayN(i: Int) = java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(i))
    def bars(is: Seq[Int], closeOf: (Long, Int) => Double) =
      (for { u <- 1L to 3L; i <- is } yield
        (u, dayN(i), closeOf(u, i), closeOf(u, i) + 1.0, closeOf(u, i) - 1.0))
        .toDF("user_id", "d", "close", "high", "low")
    def fullFeats() = PricePredictor.featuresOf(spark.read.parquet(lake.history))
    // the fold must be EXACT, not approximate: after every day, the
    // maintained wit.json equals a from-scratch full-frame measurement
    // under the served edges, and the standing feature table equals
    // featuresOf(full history) row for row
    def assertConverged(where: String): Unit = {
      val full = ModelArtifact.fullWitnessFields(spark, lake.models, fullFeats())
      val wit = ModelArtifact.readWitFields(spark, lake.models)
        .getOrElse(fail(s"$where: no maintained witness"))
      full.foreach { case (k, v) =>
        assert(wit.get(k).contains(v), s"$where: witness field $k diverged " +
          s"(folded ${wit.get(k)}, full $v)")
      }
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.select(df.columns.sorted.map(org.apache.spark.sql.functions.col): _*)
          .collect().map(_.toSeq).sortBy(_.mkString("|"))
      val (t, f) = (rows(spark.read.parquet(lake.features)), rows(fullFeats()))
      assert(t.length === f.length, s"$where: feature table row count diverged")
      assert(t.sameElements(f), s"$where: feature table diverged from featuresOf")
    }
    // 32 standing days keep each day's growth far under the 10% bound,
    // so the test exercises the RIDE path (a refit would trivially
    // re-base the witness)
    bars(0 until 32, (u, i) => 10.0 + u + i * 0.1)
      .write.partitionBy("d").parquet(lake.history)
    ModelArtifact.init(spark, lake.models)
    ModelArtifact.refresh(spark, lake.models, fullFeats())
    val served = ModelArtifact.servedVersionMeta(spark, lake.models)("train_rows")
    // day 32: bootstrap (stands the table up, full tick bases the wit)
    bars(Seq(32), (u, _) => 20.0 + u)
      .write.mode("append").partitionBy("d").parquet(lake.history)
    Pipeline.predictDay(spark, lake, dayN(32), daySlice(lake, dayN(32), 60))
    assertConverged("bootstrap day")
    // day 33: the FOLD path, pure adds (each symbol's fringe row is an
    // insert — its label just arrived)
    bars(Seq(33), (u, _) => 21.0 + u)
      .write.mode("append").partitionBy("d").parquet(lake.history)
    Pipeline.predictDay(spark, lake, dayN(33), daySlice(lake, dayN(33), 60))
    assertConverged("fold day (adds)")
    assert(ModelArtifact.servedVersionMeta(spark, lake.models)("train_rows") === served,
      "sub-bound adds must ride — the fixture's fold path, not a refit, produced the witness")
    // day 33 re-run with CORRECTED closes: the fold's in-place-update
    // case — the fringe rows' labels change and the old rows must XOR
    // back out of the fingerprint and subtract from the buckets
    // (test-local history surgery; production goes through
    // mergeHistoryDay, which upserts the same frontier-day rows)
    val corrected = spark.read.parquet(lake.history)
      .filter(org.apache.spark.sql.functions.col("d") =!= dayN(33))
      .unionByName(bars(Seq(33), (u, _) => 25.0 + u))
    val tmp = Files.createTempDirectory("graft-histRw").toString
    corrected.write.partitionBy("d").parquet(s"$tmp/h")
    rmTree(lake.history)
    java.nio.file.Files.move(java.nio.file.Paths.get(s"$tmp/h"),
      java.nio.file.Paths.get(lake.history))
    Pipeline.predictDay(spark, lake, dayN(33), daySlice(lake, dayN(33), 60))
    assertConverged("fold day (in-place update)")
    // the folded fingerprint must have DETECTED the correction: same
    // count as the previous tick + different content is exactly rule 3
    // (last-tick identity), so the artifact refits — the policy an
    // in-place change always gets (the reference refits every run).
    // The fold's subtract/XOR-out arithmetic itself is pinned by
    // MlSpec's "folded tick rides" case, where a mixed delta
    // legitimately rides and the witness must equal a full measurement.
    val after = ModelArtifact.servedVersionMeta(spark, lake.models)("train_rows")
    assert(after > served,
      "the folded witness must detect the in-place correction and refit")
    assert(after === fullFeats().count(),
      "the refit must train on the corrected standing frame")
    // day 34 — the CRASH WINDOW (r20 self-review): a prior attempt
    // merged the feature table but died before the witness write; a
    // naive retry folds old == new (a no-op) and the witness misses
    // the day forever. Simulate: replay day 34 fully, then restore the
    // pre-day-34 witness (= the crash state: table merged, witness
    // stale) and replay again — the guard must spot standing old rows
    // at a NEW day's delta keys and re-base with a full measurement.
    bars(Seq(34), (u, _) => 26.0 + u)
      .write.mode("append").partitionBy("d").parquet(lake.history)
    val witPath = java.nio.file.Paths.get(s"${lake.models}/wit.json")
    val staleWit = java.nio.file.Files.readAllBytes(witPath)
    Pipeline.predictDay(spark, lake, dayN(34), daySlice(lake, dayN(34), 60))
    java.nio.file.Files.write(witPath, staleWit)
    Pipeline.predictDay(spark, lake, dayN(34), daySlice(lake, dayN(34), 60))
    assertConverged("crash-window retry (stale witness re-based, not folded onto)")
  }

  test("rolling replay: five consecutive runDays converge to the full-replay lake at EVERY step, through a mid-sequence refit") {
    import spark.implicits._
    import graft.ml.{ModelArtifact, PricePredictor}
    import org.apache.spark.sql.functions.{col => c}
    // the b99d37f bug class — state accumulating slightly wrong until a
    // refit papers over it — only manifests N days in; this fixture
    // replays FIVE consecutive days against one standing lake and
    // hash-compares every table to a fresh full replay AFTER EACH DAY
    // (r19 verdict #2). Symbol mix: ten dense daily traders with real
    // value movement (exact-window coverage), one sparse every-3-days
    // trader and one long-idle symbol that re-enters ON a replayed day
    // (both constant-priced so the documented sparse-pattern-window
    // divergence is value-neutral while the orphan fallbacks —
    // mergeHistoryDay's unbounded max_by and dayFeatureDelta's short-
    // context scope — carry real weight: without them price_change and
    // the re-entry feature row diverge). Growth is sized so the model
    // artifact REFITS mid-sequence (day 4 of 5) — the convergence must
    // hold across the refit boundary, not just inside one vintage.
    def dayN(i: Int) = java.sql.Date.valueOf(java.time.LocalDate.of(2024, 2, 1).plusDays(i))
    val srcDir = Files.createTempDirectory("graft-rollsrc").toString
    val rows = scala.collection.mutable.ArrayBuffer[(Long, Long, String, Double, String, java.sql.Timestamp)]()
    var eid = 0L
    def event(u: Long, i: Int, v: Double): Unit = {
      eid += 1
      rows += ((eid, u, "view", v,  "",
        java.sql.Timestamp.valueOf(java.time.LocalDateTime.of(2024, 2, 1, 12, 0)
          .plusDays(i).plusMinutes(u))))
    }
    for (u <- 1L to 10L; i <- 0 until 40)
      event(u, i, 50.0 + u + ((u * 7 + i * 13) % 9 - 4) * 0.25) // dense, moving
    for (i <- 0 until 40 if i % 3 == 0) event(12L, i, 40.0)      // sparse, constant
    for (i <- Seq(0, 1, 2, 36)) event(11L, i, 30.0)              // idle → re-enters d36
    rows.toSeq.toDF("event_id", "user_id", "event_type", "value", "props", "ts")
      .write.parquet(s"$srcDir/events.parquet")
    val incRoot = Files.createTempDirectory("graft-rollinc").toString
    val inc = Pipeline.LakePaths(incRoot)
    Pipeline.run(spark, srcDir, incRoot, before = Some(dayN(35)))
    val standupFit = ModelArtifact.servedVersionMeta(spark, inc.models)("train_rows")
    def rowsOf(p: String): Array[Seq[Any]] = {
      val df = spark.read.parquet(p)
      df.select(df.columns.sorted.map(c): _*).collect()
        .map(_.toSeq).sortBy(_.mkString("|"))
    }
    var sawRefit = false
    for (i <- 35 to 39) {
      Pipeline.runDay(spark, srcDir, incRoot, dayN(i), lookbackDays = 21)
      val fullRoot = Files.createTempDirectory(s"graft-rollfull$i").toString
      val full = Pipeline.run(spark, srcDir, fullRoot, before = Some(dayN(i + 1)))
      for ((f, g) <- Seq(full.history -> inc.history,
          full.patterns -> inc.patterns, full.analysis -> inc.analysis)) {
        val (a, b) = (rowsOf(f), rowsOf(g))
        assert(a.length === b.length, s"day ${dayN(i)}: $g row count diverged")
        assert(a.sameElements(b), s"day ${dayN(i)}: $g diverged from the full replay")
      }
      // predictions: keys match the full replay; values are exactly the
      // SERVED model scoring the standing feature frame (the vintage may
      // legitimately trail the full replay's fresh fit between refits)
      val feats = PricePredictor.featuresOf(
        spark.read.parquet(inc.history).drop("prev_close")).cache()
      try {
        val expected = ModelArtifact.scoreServed(feats, inc.models)
          .collect().map(_.toSeq).sortBy(_.mkString("|"))
        val got = {
          val df = spark.read.parquet(inc.predictions)
          df.select("user_id", "d", "previous_close", "predicted_close")
            .collect().map(_.toSeq).sortBy(_.mkString("|"))
        }
        assert(got.length === rowsOf(full.predictions).length,
          s"day ${dayN(i)}: prediction keys diverged from the full replay")
        assert(got.sameElements(expected),
          s"day ${dayN(i)}: predictions are not the served model's scores")
        // the standing feature table and the maintained witness both
        // equal a from-scratch derivation — per step, not just at the end
        val t = rowsOf(inc.features)
        val ff = feats.select(feats.columns.sorted.map(c): _*)
          .collect().map(_.toSeq).sortBy(_.mkString("|"))
        assert(t.sameElements(ff), s"day ${dayN(i)}: feature table diverged")
        val fullWit = ModelArtifact.fullWitnessFields(spark, inc.models, feats)
        val wit = ModelArtifact.readWitFields(spark, inc.models)
          .getOrElse(fail(s"day ${dayN(i)}: no maintained witness"))
        fullWit.foreach { case (k, v) =>
          assert(wit.get(k).contains(v), s"day ${dayN(i)}: witness $k diverged")
        }
      } finally feats.unpersist()
      if (ModelArtifact.servedVersionMeta(spark, inc.models)("train_rows") != standupFit)
        sawRefit = true
    }
    assert(sawRefit,
      "fixture must drive a drift-triggered refit mid-sequence (growth past the bound)")
    assert(ModelArtifact.servedVersionMeta(spark, inc.models)("train_rows") != standupFit)
  }

  test("pinned pre-merge slice survives a rewrite of the files it read") {
    // runDay shares ONE pinned [day-lookback, day) read across the
    // history merge: the pin (eager checkpoint) must materialize the
    // rows BEFORE any merge rewrites files, so reuse is safe even if a
    // merge touched the very partitions the slice read — the r21
    // verdict's cross-merge coupling, enforced rather than assumed.
    val root = Files.createTempDirectory("graft-pin").toString
    val t = s"$root/t"
    val df0 = spark.range(10).selectExpr("id as k", "id * 2 as v", "'a' as part")
    df0.write.partitionBy("part").parquet(t)
    val pinned = graft.operators.Checkpoints.pin(
      spark.read.parquet(t).filter(col("part") === "a"))
    // rewrite the exact partition the pinned slice read, with new values
    spark.range(10).selectExpr("id as k", "id * 100 as v", "'a' as part")
      .write.mode("overwrite").partitionBy("part").parquet(t)
    val vs = pinned.select("v").collect().map(_.getLong(0)).sorted.toSeq
    assert(vs == (0L until 10L).map(_ * 2),
      "pinned slice re-read post-rewrite files — pin must be eager")
  }

  test("runDay recovers a crashed lake commit before its first read") {
    import graft.sources.StagedCommit
    import org.apache.hadoop.fs.{FileUtil, Path}
    val day = Tables.events(spark, sfDir).agg(max(col("event_date"))).head().getDate(0)
    val clean = Pipeline.run(spark, sfDir,
      Files.createTempDirectory("graft-lakeC").toString, before = Some(day))
    val crashed = Pipeline.run(spark, sfDir,
      Files.createTempDirectory("graft-lakeX").toString, before = Some(day))
    // a history commit that crashed inside its replace of the frontier
    // partition: the live dir already in the marker's trash, its staged
    // twin not yet renamed into place
    val prev = spark.read.parquet(crashed.history).agg(max(col("d"))).head().getDate(0)
    val hist = new Path(crashed.history)
    val fs = hist.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val part = s"d=$prev"
    FileUtil.copy(fs, new Path(hist, part), fs,
      new Path(crashed.root, s"stock_price_history__staged/$part"), false,
      spark.sparkContext.hadoopConfiguration)
    val marker = new Path(crashed.root, "stock_price_history__commit")
    StagedCommit.plan(fs, marker, Seq(
      StagedCommit.Replace(s"stock_price_history__staged/$part", s"stock_price_history/$part"),
      StagedCommit.Drop("stock_price_history__staged")))
    fs.mkdirs(marker.suffix(".trash"))
    fs.rename(new Path(hist, part), new Path(marker.suffix(".trash"), "0"))
    Pipeline.runDay(spark, sfDir, clean.root, day)
    Pipeline.runDay(spark, sfDir, crashed.root, day)
    assert(!fs.exists(marker), "runDay must roll the pending commit forward")
    def rows(p: String): Array[Seq[Any]] = {
      val df = spark.read.parquet(p)
      df.select(df.columns.sorted.map(col): _*).collect()
        .map(_.toSeq).sortBy(_.mkString("|"))
    }
    // the day's prev_close (and the analysis built on it) must read
    // the recovered frontier partition, not fall back to an older row
    for ((c, x) <- Seq(clean.history -> crashed.history, clean.analysis -> crashed.analysis))
      assert(rows(c).sameElements(rows(x)), s"$x diverged from a clean runDay")
  }

  test("patterns only contain the four defined categories") {
    val lakeRoot = Files.createTempDirectory("graft-lake2").toString
    val lake = Pipeline.run(spark, sfDir, lakeRoot)
    val pats = spark.read.parquet(lake.patterns)
      .select("pattern").distinct().collect().map(_.getString(0)).toSet
    assert(pats.subsetOf(Set("Bullish Trend", "Bearish Trend", "Golden Cross", "Death Cross")))
  }
}
