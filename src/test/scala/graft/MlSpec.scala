package graft

import graft.ml.PricePredictor

/** F4/F5 — metric-level test (SURVEY.md §5: MAE/RMSE per
  * analyze_news_stock_patterns.py:129-133, not coefficient equality)
  * on the sf0.001 fixture data.
  */
class MlSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  test("primary model beats the naive persistence baseline on MAE") {
    val feats = PricePredictor.features(spark, dir).cache()
    val model = PricePredictor.fitPrimary(feats)
    val m = PricePredictor.evaluate(model, feats)
    // naive baseline: predict tomorrow = today
    import org.apache.spark.sql.functions._
    val naiveMae = feats.select(avg(abs(col("label") - col("close"))))
      .head().getDouble(0)
    assert(m.mae.isFinite && m.rmse >= m.mae)
    assert(m.mae <= naiveMae * 1.05,
      s"model MAE ${m.mae} should not be worse than naive $naiveMae")
    feats.unpersist()
  }

  test("predictNextDay emits one corrected row per (user, next day)") {
    val preds = PricePredictor.predictNextDay(spark, dir)
    val n = preds.count()
    assert(n > 0)
    assert(preds.select("user_id", "d").distinct().count() === n, "key-unique")
    assert(preds.filter(org.apache.spark.sql.functions.col("predicted_close").isNull).count() === 0)
  }

  test("embedding classifier separates synthetic clusters and beats the majority baseline") {
    import graft.ml.EmbeddingClassifier
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // 4 well-separated Gaussian clusters in 8-d: any linear model must
    // recover them (deterministic seed; margin >> noise)
    val rng = new scala.util.Random(5)
    val centers = Array.tabulate(4, 8)((c, j) => if (j % 4 == c) 10.0 else 0.0)
    val rows = (0 until 200).map { i =>
      val c = i % 4
      (i.toLong, centers(c).map(x => (x + rng.nextGaussian() * 0.5).toFloat).toSeq, c)
    }
    val df = rows.toDF("vec_id", "embedding", "label")
    val m = EmbeddingClassifier.metrics(df, trainFrac = 0.8)
      .as[(Long, Long, Long, Boolean)].head()
    assert(m._1 + m._2 === 200L, "split covers every row")
    assert(m._3 === 4L)
    assert(m._4, "classifier must beat the majority baseline on held-out rows")
    // the md5 split is deterministic: same counts on re-run
    val m2 = EmbeddingClassifier.metrics(df, trainFrac = 0.8)
      .as[(Long, Long, Long, Boolean)].head()
    assert(m === m2)
  }

  test("model artifact: loud unpublished read, staleness no-op, growth-triggered supersession") {
    import graft.ml.ModelArtifact
    import org.apache.spark.sql.functions._
    val path = java.nio.file.Files.createTempDirectory("graft-mlart").toString
    ModelArtifact.init(spark, path)
    ModelArtifact.init(spark, path) // re-init with equal meta: no-op
    val feats = PricePredictor.features(spark, dir).cache()
    try {
      val e = intercept[RuntimeException] {
        ModelArtifact.servedModels(spark, path)
      }
      assert(e.getMessage.contains("no published version"))
      val half = feats.filter(dayofmonth(col("d")) % 2 === 0)
      val (nHalf, nFull) = (half.count(), feats.count())
      assert(nHalf > 0 && nFull > nHalf, "fixture must have a real half/full split")
      val v1 = ModelArtifact.refresh(spark, path, half)
      assert(ModelArtifact.servedVersionMeta(spark, path)("train_rows") === nHalf)
      // same frame again: fresh enough, no refit
      assert(ModelArtifact.maybeRefresh(spark, path, half).isEmpty)
      // the full frame grew past the bound: a new version supersedes
      val v2 = ModelArtifact.maybeRefresh(spark, path, feats)
      assert(v2.nonEmpty && v2.get != v1)
      assert(ModelArtifact.servedVersionMeta(spark, path)("train_rows") === nFull)
      // serving = load + transform, one corrected row per training row
      val served = ModelArtifact.scoreServed(feats, path)
      assert(served.count() === nFull)
      assert(served.filter(col("predicted_close").isNull).count() === 0)
      // in-place VALUE change with the same row count: the fingerprint
      // witness must refit (r18 review: a count-only witness served a
      // fit on superseded values forever under DO-UPDATE sources)
      val corrected = feats.withColumn("label", col("label") + lit(1.0))
      val v3 = ModelArtifact.maybeRefresh(spark, path, corrected)
      assert(v3.nonEmpty && v3.get != v2.get,
        "same-count content change must supersede the served fit")
      assert(ModelArtifact.maybeRefresh(spark, path, corrected).isEmpty,
        "the corrected frame is now the fitted one: fresh")
      // empty frame: the tick no-ops, a forced refresh is loud
      assert(ModelArtifact.maybeRefresh(spark, path, feats.filter(lit(false))).isEmpty)
      val e2 = intercept[IllegalArgumentException] {
        ModelArtifact.refresh(spark, path, feats.filter(lit(false)))
      }
      assert(e2.getMessage.contains("empty training frame"))
    } finally feats.unpersist()
  }

  test("model artifact drift triggers: PSI covariate shift and in-place change inside the growth window") {
    import graft.ml.ModelArtifact
    import org.apache.spark.sql.functions._
    val path = java.nio.file.Files.createTempDirectory("graft-mldrift").toString
    ModelArtifact.init(spark, path)
    val feats = PricePredictor.features(spark, dir).cache()
    try {
      val n = feats.count()
      // fit on a deterministic ~97% vintage so the full frame sits
      // INSIDE the growth window (sub-bound growth, cur > train_rows)
      val base = feats.filter(pmod(xxhash64(col("user_id"), col("d")), lit(100)) >= 3)
      val nBase = base.count()
      assert(nBase > 0 && nBase < n, "fixture needs a real sub-bound split")
      assert(n * 100 < nBase * 110, "growth must stay under the 10% bound")
      ModelArtifact.refresh(spark, path, base)
      // sub-bound growth, same distribution: every rule silent
      assert(ModelArtifact.maybeRefresh(spark, path, feats).isEmpty,
        "sub-bound same-distribution growth must ride")
      // rule 4 (PSI): sub-bound growth + covariate shift. Growth is
      // under the bound, cur > train_rows silences the fingerprint
      // rule, and the count differs from the last tick's — ONLY the
      // histogram witness can see the moved data.
      val shifted = feats
        .filter(pmod(xxhash64(col("user_id"), col("d")), lit(100)) >= 1)
        .withColumn("close", col("close") * 10)
      val nShift = shifted.count()
      assert(nShift > nBase && nShift < n, "PSI fixture must sit mid-window at a fresh count")
      assert(ModelArtifact.maybeRefresh(spark, path, shifted).nonEmpty,
        "a planted covariate shift at sub-bound growth must refit (PSI)")
      assert(ModelArtifact.servedVersionMeta(spark, path)("train_rows") === nShift)
      // grow sub-bound again on the SAME distribution: rides (and the
      // tick records this frame's identity)
      val grown = feats.withColumn("close", col("close") * 10)
      assert(ModelArtifact.maybeRefresh(spark, path, grown).isEmpty,
        "sub-bound growth after the PSI refit must ride")
      // rule 3 (last-tick identity): an in-place correction at the
      // SAME row count as the previous tick, still inside the growth
      // window, with a distribution shift far under the PSI bound —
      // the r18-advice failure shape (unbounded in time before)
      val corrected = grown.withColumn("vol", col("vol") + 0.001)
      assert(ModelArtifact.maybeRefresh(spark, path, corrected).nonEmpty,
        "an in-place change mid-growth-window must refit (tick identity)")
      assert(ModelArtifact.maybeRefresh(spark, path, corrected).isEmpty,
        "the corrected frame is now the fitted one: fresh")
    } finally feats.unpersist()
  }

  test("model artifact: a served version without its fit-time histogram fails the tick loudly") {
    import graft.ml.ModelArtifact
    import graft.sources.IndexMeta
    // refresh always writes the histogram the PSI rule compares
    // against; a served version whose meta lacks it must fail the tick
    // by name, never skip the drift rule silently
    val path = java.nio.file.Files.createTempDirectory("graft-mlnohist").toString
    ModelArtifact.init(spark, path)
    val feats = PricePredictor.features(spark, dir).cache()
    try {
      val v = ModelArtifact.refresh(spark, path, feats)
      val vmeta = s"$path/models/$v/meta.json"
      IndexMeta.write(spark, vmeta, IndexMeta.read(spark, vmeta, "model version")
        .filterNot(_._1.startsWith("h_")).toSeq)
      val e = intercept[IllegalArgumentException] {
        ModelArtifact.maybeRefresh(spark, path, feats)
      }
      assert(e.getMessage.contains(s"models/$v has no fit-time histogram"), e.getMessage)
      assert(e.getMessage.contains("run refresh"), e.getMessage)
    } finally feats.unpersist()
  }

  test("drift monitor derives from the one feature recipe; a frame missing a monitored column is loud") {
    import graft.ml.ModelArtifact
    // ONE source of truth (r19 verdict #1): the fitted assembler's
    // input columns ARE PricePredictor.FeatureCols, and the monitor is
    // exactly that recipe plus the label — extending the recipe cannot
    // leave the monitor behind because there is no second list
    val feats = PricePredictor.features(spark, dir).cache()
    try {
      val primary = PricePredictor.fitPrimary(feats)
      val asm = primary.stages.collectFirst {
        case a: org.apache.spark.ml.feature.VectorAssembler => a
      }.getOrElse(fail("primary pipeline lost its assembler stage"))
      assert(asm.getInputCols.toSeq === PricePredictor.FeatureCols,
        "the fitted recipe and FeatureCols must be the same list")
      assert(PricePredictor.MonitoredCols === PricePredictor.FeatureCols :+ "label")
      // a frame that does not carry every monitored column must fail
      // LOUDLY at fit and at tick — never silently narrow the monitor
      val path = java.nio.file.Files.createTempDirectory("graft-mlmon").toString
      ModelArtifact.init(spark, path)
      val crippled = feats.drop("vol")
      val e1 = intercept[IllegalArgumentException] {
        ModelArtifact.refresh(spark, path, crippled)
      }
      assert(e1.getMessage.contains("monitored feature column"))
      val e2 = intercept[IllegalArgumentException] {
        ModelArtifact.maybeRefresh(spark, path, crippled)
      }
      assert(e2.getMessage.contains("monitored feature column"))
    } finally feats.unpersist()
  }

  test("folded tick: a mixed replacement+insert delta that legitimately rides leaves the witness equal to a full measurement") {
    import graft.ml.ModelArtifact
    import org.apache.spark.sql.functions._
    // the one window where a fold with REPLACEMENTS does not refit —
    // in-place corrections arriving in the SAME tick as sub-bound
    // growth, at a count different from both the fit's and the last
    // tick's, under the PSI bound (the documented blind window). The
    // folded witness must still be EXACT: old rows XOR back out and
    // subtract from the buckets, new rows XOR in and add — afterwards
    // wit.json equals a from-scratch measurement of the final frame.
    val path = java.nio.file.Files.createTempDirectory("graft-mlfold").toString
    ModelArtifact.init(spark, path)
    val feats = PricePredictor.features(spark, dir).cache()
    try {
      val bucket = pmod(xxhash64(col("user_id"), col("d")), lit(100))
      val base = feats.filter(bucket >= 5)            // the fitted vintage
      val replacedOld = base.filter(bucket >= 50 && bucket < 60)
      val replacedNew = replacedOld.withColumn("vol", col("vol") + lit(0.001))
      val inserts = feats.filter(bucket >= 2 && bucket < 5)
      val inserts1 = feats.filter(bucket >= 3 && bucket < 5)
      val inserts2 = feats.filter(bucket >= 2 && bucket < 3)
      val (nBase, nIns) = (base.count(), inserts.count())
      assert(inserts1.count() > 0 && inserts2.count() > 0 && replacedOld.count() > 0,
        "fixture needs all three delta pieces")
      assert(nBase * 110 > (nBase + nIns) * 100, "growth must stay sub-bound")
      ModelArtifact.refresh(spark, path, base) // bases wit.json at (v, base)
      val day = 19876L
      // fold 1 — the day's first replay: pure inserts (stamps last_day)
      val mid = base.unionByName(inserts1)
      assert(ModelArtifact.maybeRefreshFolded(spark, path, day,
        inserts1.limit(0), inserts1, () => mid).isEmpty,
        "sub-bound insert fold must ride")
      // fold 2 — a SAME-DAY re-run with corrections + late rows (the
      // sanctioned replacement shape: last_day == day folds; a NEW day
      // with standing old rows would re-base instead — the crash guard)
      val finalFrame = mid.filter(!(bucket >= 50 && bucket < 60))
        .unionByName(replacedNew).unionByName(inserts2)
      val out = ModelArtifact.maybeRefreshFolded(spark, path, day,
        replacedOld, replacedNew.unionByName(inserts2), () => finalFrame)
      assert(out.isEmpty,
        "sub-bound growth + tiny in-place shift at a fresh count must ride")
      val full = ModelArtifact.fullWitnessFields(spark, path, finalFrame)
      val wit = ModelArtifact.readWitFields(spark, path)
        .getOrElse(fail("no maintained witness after the fold"))
      full.foreach { case (k, v) =>
        assert(wit.get(k).contains(v),
          s"folded witness field $k diverged (folded ${wit.get(k)}, full $v)")
      }
    } finally feats.unpersist()
  }

  test("served-model memo: a recreated artifact root at the same path serves the NEW fit") {
    import graft.ml.ModelArtifact
    import org.apache.spark.sql.functions._
    val path = java.nio.file.Files.createTempDirectory("graft-mlmemo").toString
    val feats = PricePredictor.features(spark, dir).cache()
    try {
      ModelArtifact.init(spark, path)
      ModelArtifact.refresh(spark, path,
        feats.filter(dayofmonth(col("d")) % 2 === 0))
      ModelArtifact.scoreServed(feats, path).count() // warm the memo
      // delete and re-stand-up the SAME absolute path with a different
      // fit: v_1 republishes at the identical resolved dir, and a
      // path-keyed memo would silently serve the PREVIOUS artifact's
      // model (r19 review) — the identity-keyed memo must miss
      rmTree(path)
      ModelArtifact.init(spark, path)
      val shifted = feats.withColumn("label", col("label") * 2.0)
      ModelArtifact.refresh(spark, path, shifted)
      val res = graft.sources.VersionedRoot
        .resolve(spark, s"$path/models", "t").get
      val (p2, r2) = PricePredictor.loadModels(res) // fresh load, no memo
      val fresh = PricePredictor.scoreNextDay(feats, p2, r2)
        .collect().map(_.toSeq).sortBy(_.mkString("|"))
      val served = ModelArtifact.scoreServed(feats, path)
        .collect().map(_.toSeq).sortBy(_.mkString("|"))
      assert(fresh.length > 0)
      assert(served.sameElements(fresh),
        "the memo must serve the recreated root's fit, never the stale pair")
    } finally feats.unpersist()
  }

  test("saved models reload and score identically to the in-memory fit") {
    val feats = PricePredictor.features(spark, dir).cache()
    try {
      val primary = PricePredictor.fitPrimary(feats)
      val residual = PricePredictor.fitResidual(primary, feats)
      val tmp = java.nio.file.Files.createTempDirectory("graft-ml").toString
      PricePredictor.saveModels(primary, residual, tmp)
      val (p2, r2) = PricePredictor.loadModels(tmp)
      val inMem = PricePredictor.scoreNextDay(feats, primary, residual)
        .collect().map(_.toSeq).sortBy(_.mkString("|"))
      val loaded = PricePredictor.scoreNextDay(feats, p2, r2)
        .collect().map(_.toSeq).sortBy(_.mkString("|"))
      assert(inMem.length > 0)
      assert(inMem.sameElements(loaded),
        "loaded-model predictions must be bit-identical to in-memory")
    } finally feats.unpersist()
  }
}
