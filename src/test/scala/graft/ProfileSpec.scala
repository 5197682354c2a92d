package graft

import graft.operators.Profile
import org.apache.spark.sql.functions._

/** Numeric profiling: histogram bucket math (clamping, exact cent
  * sums, layout independence) and rank-exact winsorization bounds.
  */
class ProfileSpec extends SparkSpec {
  import spark.implicits._

  private lazy val vals = (1 to 1000)
    .map(i => (i.toLong, if (i % 2 == 0) "a" else "b", i / 10.0))
    .toDF("id", "grp", "v")

  test("histogram: bucket edges, clamping, and exact counts") {
    // v spans 0.1..100.0; 10 buckets of width 10 over [0, 100)
    val h = Profile.histogram(vals, "grp", "v", lo = 0.0, hi = 100.0, nb = 10)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    // bucket 0 of grp b holds v in [0, 10): ids 1,3,...,99 → 50 odd ids
    assert(h(("b", 0L)) === 50L)
    // v == 100.0 (id 1000, grp a) clamps into the top bucket
    val top = Profile.histogram(vals.filter($"id" === 1000), "grp", "v", 0.0, 100.0, 10)
      .collect()
    assert(top.head.getLong(1) === 9L)
    // counts sum to the input size
    assert(h.values.sum === 1000L)
  }

  test("histogram is identical at any partition layout") {
    def run(parts: Int) = Profile.histogram(vals.repartition(parts), "grp", "v", 0.0, 100.0, 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(run(2) === run(13))
  }

  test("psi: zero on identical snapshots, grows with shift, smoothing keeps it finite") {
    def psiOf(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame): Double =
      Profile.psi(a, b, "v", 0.0, 100.0, 10)
        .agg(sum("term")).head().getDouble(0)
    val same = psiOf(vals, vals)
    assert(math.abs(same) < 1e-12, s"identical snapshots must have PSI ~0, got $same")
    // shift the distribution up by 30: mass moves buckets → PSI grows
    val shifted = vals.withColumn("v", least($"v" + 30.0, lit(99.9)))
    val drift = psiOf(vals, shifted)
    assert(drift > 0.25, s"a 30-point shift must read as 'shifted', got $drift")
    // disjoint supports: smoothing keeps every term finite
    val lowHalf = vals.filter($"v" < 50.0)
    val highHalf = vals.filter($"v" >= 50.0)
    val extreme = psiOf(lowHalf, highHalf)
    assert(!extreme.isNaN && !extreme.isInfinite && extreme > 1.0)
  }

  test("psi: densified to the fixed bucket grid — smoothing scale ignores which buckets are populated") {
    // all mass in bucket 0 of a 25-bucket grid: 24 buckets empty on
    // both sides. The statistic must still smooth over ALL 25 buckets
    // (one synthetic count each), not the 1 observed — otherwise two
    // runs over the same configured grid aren't comparable (ADVICE r6)
    val tight = (1 to 100).map(i => (i.toLong, "a", 1.0)).toDF("id", "grp", "v")
    val out = Profile.psi(tight, tight, "v", lo = 0.0, hi = 500.0, nb = 25)
    assert(out.count() === 25L, "output must carry every configured bucket")
    val rows = out.collect().map(r =>
      r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(rows(0L)._1 === 100L && rows(0L)._2 === 100L)
    assert((1L to 24L).forall(b => rows(b)._1 === 0L && rows(b)._2 === 0L))
    // identical snapshots → every term exactly 0, empty buckets included
    assert(rows.values.forall { case (_, _, t) => math.abs(t) < 1e-15 })
    // hand-check one asymmetric case against the closed form:
    // base 100 rows in bucket 0, cur 100 rows in bucket 1, nb = 2 over [0, 2)
    val b0 = (1 to 100).map(i => (i.toLong, 0.5)).toDF("id", "v")
    val c1 = (1 to 100).map(i => (i.toLong, 1.5)).toDF("id", "v")
    val got = Profile.psi(b0, c1, "v", lo = 0.0, hi = 2.0, nb = 2)
      .agg(sum("term")).head().getDouble(0)
    val p0 = 101.0 / 102.0; val q0 = 1.0 / 102.0
    val expected = (p0 - q0) * math.log(p0 / q0) + (q0 - p0) * math.log(q0 / p0)
    assert(math.abs(got - expected) < 1e-12, s"got $got, expected $expected")
  }

  test("robustOutliers: exact median/MAD, k·MAD gate, resistant to extremes") {
    // grp "x": 1..9 and one wild 1000 → median 5.5... n=10: values 1..9,1000
    // lower mid rank 5 → 5, upper rank 6 → 6, med = 5.5
    val data = ((1 to 9).map(i => (i.toLong, "x", i.toDouble)) :+ (10L, "x", 1000.0))
      .toDF("id", "grp", "v")
    val out = Profile.robustOutliers(data, "grp", "v", tieCol = "id", k = 3.0)
    val med = out.select("med").head().getDouble(0)
    assert(med === 5.5)
    // absdevs: 4.5,3.5,2.5,1.5,0.5,0.5,1.5,2.5,3.5,994.5 → mad = (2.5+2.5)/2
    val mad = out.select("mad").head().getDouble(0)
    assert(mad === 2.5)
    // only the wild point exceeds 3*2.5 = 7.5 from the median
    val outliers = out.filter($"is_outlier").select("id").as[Long].collect().toSet
    assert(outliers === Set(10L))
    // mean/stddev would have been dragged: sanity that MAD ignored the 1000
    assert(mad < 10.0)
  }

  test("winsorize: bounds are the exact rank values and clipping holds") {
    val out = Profile.winsorize(vals, "grp", "v", tieCol = "id")
    // each grp has 500 rows: p05 rank = ceil(25) = 25, p95 rank = 475
    val bounds = out.select("grp", "p_lo", "p_hi").distinct().collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    // grp a values sorted: 0.2, 0.4, ... (even ids /10); 25th = 5.0, 475th = 95.0
    assert(bounds("a") === ((5.0, 95.0)))
    // grp b: odd ids /10 → 25th = 4.9, 475th = 94.9
    assert(bounds("b") === ((4.9, 94.9)))
    // clipped stays within bounds, untouched in the interior
    val bad = out.filter($"clipped" < $"p_lo" || $"clipped" > $"p_hi").count()
    assert(bad === 0L)
    val interior = out.filter($"v" >= $"p_lo" && $"v" <= $"p_hi")
      .filter($"clipped" =!= $"v").count()
    assert(interior === 0L)
  }

  test("winsorize/robustOutliers ≡ plain-window forms (r18: skew-safe rank migration)") {
    // skewed fixture: one dominant group, ties, arbitrary range
    val data = (1 to 4000).map { i =>
      (i.toLong, if (i % 9 == 0) "small" else "big",
        ((i * 31) % 211).toDouble * 13.0 - 900.0)
    }.toDF("id", "grp", "v").repartition(7)
    val part = org.apache.spark.sql.expressions.Window.partitionBy($"grp")
    val byV = part.orderBy($"v", $"id")
    // plain-window winsorize, inline
    val naiveBounds = data
      .withColumn("rn", row_number().over(byV).cast("long"))
      .withColumn("n", count(lit(1)).over(part))
      .groupBy("grp").agg(
        min(when($"rn" === ceil(lit(0.05) * $"n"), $"v")).as("p_lo"),
        min(when($"rn" === ceil(lit(0.95) * $"n"), $"v")).as("p_hi"))
      .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    val gotBounds = Profile.winsorize(data, "grp", "v", tieCol = "id")
      .select("grp", "p_lo", "p_hi").distinct()
      .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    assert(gotBounds === naiveBounds)
    // plain-window median/MAD, inline
    def naiveMedian(in: org.apache.spark.sql.DataFrame, vCol: String) = in
      .withColumn("rn", row_number().over(part.orderBy(col(vCol), $"id")).cast("long"))
      .withColumn("n", count(lit(1)).over(part))
      .groupBy("grp").agg(
        ((min(when($"rn" === ceil($"n" / lit(2.0)), col(vCol)))
          + min(when($"rn" === floor($"n" / lit(2.0)) + lit(1), col(vCol))))
          / lit(2.0)).as("m"))
    val nm = naiveMedian(data, "v").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val gotStats = Profile.robustOutliers(data, "grp", "v", tieCol = "id")
      .select("grp", "med", "mad").distinct().collect()
      .map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    assert(gotStats.view.mapValues(_._1).toMap === nm)
    val nmad = naiveMedian(
      data.join(broadcast(naiveMedian(data, "v")
        .withColumnRenamed("m", "med")), Seq("grp"))
        .withColumn("absdev", abs($"v" - $"med")), "absdev")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(gotStats.view.mapValues(_._2).toMap === nmad)
  }

  // ── count-min sketch ─────────────────────────────────────────────

  private def cmsKeys(rows: (String, Int)*) =
    rows.flatMap { case (k, n) => Seq.fill(n)(k) }.toDF("k")

  test("cms: estimates never underestimate, and are exact when the matrix is wide") {
    val data = cmsKeys("a" -> 100, "b" -> 50, "c" -> 7, "d" -> 1)
    val exact = Map("a" -> 100L, "b" -> 50L, "c" -> 7L, "d" -> 1L)
    // wide sketch: collisions vanish → every estimate is the true count
    val wide = Profile.countMinSketch(data, "k", depth = 4, width = 4096)
    val estWide = Profile.cmsLookup(wide, exact.keys.toSeq.toDF("k"), "k",
        depth = 4, width = 4096)
      .as[(String, Long)].collect().toMap
    assert(estWide === exact)
    // cramped sketch (width 4, 4 keys): collisions are forced, but the
    // min-of-rows estimate must still never fall BELOW the true count
    val tight = Profile.countMinSketch(data, "k", depth = 4, width = 4)
    val estTight = Profile.cmsLookup(tight, exact.keys.toSeq.toDF("k"), "k",
        depth = 4, width = 4)
      .as[(String, Long)].collect().toMap
    exact.foreach { case (k, n) =>
      assert(estTight(k) >= n, s"underestimate for $k: ${estTight(k)} < $n")
    }
    // an unseen key reads 0 unless every row collides (width 4096: none do)
    val unseen = Profile.cmsLookup(wide, Seq("zzz").toDF("k"), "k",
        depth = 4, width = 4096)
      .as[(String, Long)].collect().head._2
    assert(unseen === 0L)
  }

  test("cms: sketches merge linearly — cms(A) ⊕ cms(B) ≡ cms(A ⊎ B)") {
    val a = cmsKeys("a" -> 30, "b" -> 5, "x" -> 2)
    val b = cmsKeys("a" -> 10, "c" -> 8)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Int, Int, Long)].collect().toSet
    val merged = Profile.mergeCms(
      Profile.countMinSketch(a, "k", depth = 3, width = 64),
      Profile.countMinSketch(b, "k", depth = 3, width = 64))
    val whole = Profile.countMinSketch(a.unionByName(b), "k", depth = 3, width = 64)
    assert(rows(merged) === rows(whole))
  }

  test("agg artifact: batch folds + replay serve the exact GROUP BY; contract guard is loud") {
    val root = java.nio.file.Files.createTempDirectory("graft-aggart-spec").toString
    try {
      val rows = Seq(("a", 10L), ("a", 20L), ("b", 5L), ("b", 7L), ("c", 1L))
        .toDF("g", "v")
      Profile.initAggArtifact(spark, root, "g", "v")
      Profile.aggIngestBatch(rows.filter($"v" % 2 === 0), "g", "v", root, 0L)
      Profile.aggIngestBatch(rows.filter($"v" % 2 =!= 0), "g", "v", root, 1L)
      // at-least-once redelivery: byte-identical no-op
      Profile.aggIngestBatch(rows.filter($"v" % 2 === 0), "g", "v", root, 0L)
      val served = Profile.readAggArtifact(spark, root)
        .as[(String, Long, Long)].collect().toSet
      assert(served === Set(("a", 2L, 30L), ("b", 2L, 12L), ("c", 1L, 1L)))
      // a DIFFERENT payload under a used batch key fails loudly
      val collide = intercept[IllegalArgumentException] {
        Profile.aggIngestBatch(rows.filter($"v" % 2 =!= 0), "g", "v", root, 0L)
      }
      assert(collide.getMessage.contains("DIFFERENT contribution"))
      // folding under a different (group, value) contract fails loudly
      val wrong = intercept[IllegalArgumentException] {
        Profile.aggIngestBatch(rows.withColumnRenamed("v", "w"), "g", "w", root, 2L)
      }
      assert(wrong.getMessage.contains("different (group, value) contract"))
      val reinit = intercept[IllegalArgumentException] {
        Profile.initAggArtifact(spark, root, "g", "w")
      }
      assert(reinit.getMessage.contains("different dimensions"))
      // fractional value columns are rejected, not silently truncated:
      // the contract hash can't see types, so the fold itself guards
      Profile.initAggArtifact(spark, s"$root/dbl", "g", "v")
      val frac = intercept[IllegalArgumentException] {
        Profile.aggIngestBatch(Seq(("a", 1.5)).toDF("g", "v"), "g", "v",
          s"$root/dbl", 0L)
      }
      assert(frac.getMessage.contains("integral fixed-point"))
    } finally rmTree(root)
  }

  test("countMinSketchDense ≡ countMinSketch: identical sparse counters at any width/layout") {
    val data = cmsKeys("a" -> 100, "b" -> 50, "c" -> 7, "d" -> 1)
    def sparse(df: org.apache.spark.sql.DataFrame) =
      df.as[(Int, Int, Long)].collect().toSet
    for ((depth, width) <- Seq((4, 512), (3, 65536), (1, 2))) {
      val declarative = sparse(Profile.countMinSketch(data, "k", depth, width))
      val dense = sparse(Profile.countMinSketchDense(data, "k", depth, width))
      assert(dense === declarative, s"divergence at depth=$depth width=$width")
      val densePart = sparse(Profile.countMinSketchDense(
        data.repartition(7), "k", depth, width))
      assert(densePart === declarative, s"layout-dependence at depth=$depth width=$width")
    }
    // nulls are skipped, not hashed as a key — by BOTH forms
    val withNull = data.unionByName(spark.sql("SELECT CAST(NULL AS STRING) AS k"))
    assert(sparse(Profile.countMinSketchDense(withNull, "k", 4, 512))
      === sparse(Profile.countMinSketch(data, "k", 4, 512)))
    assert(sparse(Profile.countMinSketch(withNull, "k", 4, 512))
      === sparse(Profile.countMinSketch(data, "k", 4, 512)))
  }

  test("joinSizeEstimate: exact inner product when wide, never under when cramped") {
    // true join size = Σ_k f_A(k)·f_B(k) = 30·10 + 5·8 = 340
    val a = cmsKeys("a" -> 30, "b" -> 5, "x" -> 2)
    val b = cmsKeys("a" -> 10, "b" -> 8, "y" -> 4)
    val trueSize = 340L
    // wide sketches: no colliding cells → the estimate IS the inner product
    val wide = Profile.joinSizeEstimate(
        Profile.countMinSketch(a, "k", depth = 4, width = 65536),
        Profile.countMinSketch(b, "k", depth = 4, width = 65536))
      .as[Long].collect().head
    assert(wide === trueSize)
    // cramped sketches (width 4): collisions add non-negative cross
    // terms — the min-of-rows estimate must still never undershoot
    val tight = Profile.joinSizeEstimate(
        Profile.countMinSketch(a, "k", depth = 4, width = 4),
        Profile.countMinSketch(b, "k", depth = 4, width = 4))
      .as[Long].collect().head
    assert(tight >= trueSize, s"underestimate: $tight < $trueSize")
    // fully disjoint key sets at a cramped width: rows whose cells
    // happen not to collide carry dot = 0 and MUST participate in the
    // min (r15 review) — both forms answer 0, the provable truth
    val disjointSparse = Profile.joinSizeEstimate(
        Profile.countMinSketch(cmsKeys("x" -> 10), "k", depth = 4, width = 4),
        Profile.countMinSketch(cmsKeys("y" -> 20), "k", depth = 4, width = 4))
      .as[Long].collect().head
    val disjointDense = Profile.joinSizeEstimateDense(
        Profile.countMinSketchDenseRow(cmsKeys("x" -> 10), "k", depth = 4, width = 4),
        Profile.countMinSketchDenseRow(cmsKeys("y" -> 20), "k", depth = 4, width = 4),
        depth = 4, width = 4)
      .select(col("est")).as[Long].collect().head
    assert(disjointSparse === disjointDense,
      s"sparse $disjointSparse vs dense $disjointDense on disjoint keys")
    // dense zero-shuffle form: same estimate as the sparse join form
    // at both widths, and na/nb recover the operand sizes exactly
    for (w <- Seq(4, 65536)) {
      val (est, na, nb) = Profile.joinSizeEstimateDense(
          Profile.countMinSketchDenseRow(a, "k", depth = 4, width = w),
          Profile.countMinSketchDenseRow(b, "k", depth = 4, width = w),
          depth = 4, width = w)
        .as[(Long, Long, Long)].collect().head
      val sparse = Profile.joinSizeEstimate(
          Profile.countMinSketch(a, "k", depth = 4, width = w),
          Profile.countMinSketch(b, "k", depth = 4, width = w))
        .as[Long].collect().head
      assert(est === sparse, s"dense/sparse estimate divergence at width $w")
      assert(na === 37L && nb === 22L, s"operand sizes wrong at width $w: $na, $nb")
    }
  }

  test("cms is identical at any partition layout") {
    val data = cmsKeys("a" -> 100, "b" -> 50, "c" -> 7)
    def run(parts: Int) =
      Profile.countMinSketch(data.repartition(parts), "k", depth = 4, width = 32)
        .as[(Int, Int, Long)].collect().toSet
    assert(run(2) === run(11))
  }

  test("hll profile artifact: shard folds serve union estimates, replay and sharding invariant") {
    // (group, key): group g1 has 400 distinct keys, g2 has 60, g3 has 1
    val rows = (0 until 400).map(i => ("g1", s"k$i")) ++
      (0 until 60).map(i => ("g2", s"m$i")) ++ Seq(("g3", "solo"))
    val df = rows.toDF("g", "k")
    val root = java.nio.file.Files.createTempDirectory("graft-profart-spec").toString
    Profile.initProfileArtifact(spark, root, lgConfigK = 12)
    Profile.profileIngestShard(df.filter($"k".startsWith("k")), "g", "k", root, 0L)
    Profile.profileIngestShard(df.filter(!$"k".startsWith("k")), "g", "k", root, 1L)
    def served(path: String): Map[String, Long] =
      Profile.readProfileArtifact(spark, path).as[(String, Long)].collect().toMap
    val est = served(root)
    val exact = Map("g1" -> 400L, "g2" -> 60L, "g3" -> 1L)
    def inBound(e: Map[String, Long], label: String): Unit =
      exact.foreach { case (g, n) =>
        assert(math.abs(e(g) - n) <= math.max(1, (n * 0.06).toLong),
          s"$label estimate for $g out of bound: ${e(g)} vs $n")
      }
    inBound(est, "sharded")
    // at-least-once REPLAY of a shard key overwrites its partition in
    // place: the served artifact is EXACTLY unchanged
    Profile.profileIngestShard(df.filter(!$"k".startsWith("k")), "g", "k", root, 1L)
    assert(served(root) === est, "replayed shard changed the artifact")
    // a NEW shard key carrying the whole corpus again: union
    // semantics, not sum — g2 at 60 distinct would read ~120 if
    // contributions added; the register max-fold keeps it in bound.
    // (Exact estimate parity across different shard layouts is NOT
    // the contract: Datasketches serves merged sketches with the
    // standard estimator, not direct-update HIP, so layouts agree
    // within the rsd, not bitwise.)
    Profile.profileIngestShard(df, "g", "k", root, 2L)
    inBound(served(root), "overlapping")
    // one-shot fold is in the same bound
    val oneShot = java.nio.file.Files.createTempDirectory("graft-profart-one").toString
    Profile.initProfileArtifact(spark, oneShot, lgConfigK = 12)
    Profile.profileIngestShard(df, "g", "k", oneShot, 0L)
    inBound(served(oneShot), "one-shot")
    // a fold against an uninitialized artifact fails loudly
    intercept[IllegalArgumentException] {
      Profile.profileIngestShard(df, "g", "k", s"$root-nope", 0L)
    }
  }

  test("artifact parts: merge-compaction serves identical folds; debris and tombstones invisible") {
    // the generalized dir-count maintenance (r16 verdict #4/#7) over
    // the EXACT additive family — byte-identity is checkable — plus
    // the estimate-fingerprinted HLL shard family
    val root = java.nio.file.Files.createTempDirectory("graft-merge-spec").toString
    try {
      val rows = (0L until 300L).map(i => (s"g${i % 3}", i)).toDF("g", "v")
      Profile.initAggArtifact(spark, root, "g", "v")
      (0 until 6).foreach { m =>
        Profile.aggIngestBatch(rows.filter($"v" % 6 === m), "g", "v", root, m.toLong)
      }
      val before = Profile.readAggArtifact(spark, root)
        .as[(String, Long, Long)].collect().toSet
      // crash debris without _fp must be invisible to the fold (the
      // GraphArtifact read discipline, now shared by every family)
      Seq(("g0", 999999L, 999999L)).toDF("g", "cnt", "sum")
        .write.parquet(s"$root/parts/b=9")
      assert(Profile.readAggArtifact(spark, root)
        .as[(String, Long, Long)].collect().toSet === before)
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(s"$root/parts/b=9"), true)
      Profile.mergeArtifactParts(spark, root, maxDirs = 2)
      assert(fs.exists(new org.apache.hadoop.fs.Path(s"$root/parts/b=0_5/_fp")))
      assert(Profile.readAggArtifact(spark, root)
        .as[(String, Long, Long)].collect().toSet === before,
        "the merged fold must serve byte-identical aggregates")
      // replay of a merged-away batch key: no-op; different payload loud
      Profile.aggIngestBatch(rows.filter($"v" % 6 === 2), "g", "v", root, 2L)
      assert(Profile.readAggArtifact(spark, root)
        .as[(String, Long, Long)].collect().toSet === before)
      assert(intercept[IllegalArgumentException] {
        Profile.aggIngestBatch(rows.filter($"v" % 6 === 3), "g", "v", root, 2L)
      }.getMessage.contains("DIFFERENT contribution"))
      // HLL shards: the s=-keyed, estimate-fingerprinted family merges
      // under its own fpRow and serves the same estimates
      val hllRows = ((0 until 200).map(i => ("g1", s"k$i")) ++
        (0 until 40).map(i => ("g2", s"m$i"))).toDF("g", "k")
      val hroot = s"$root/hll"
      Profile.initProfileArtifact(spark, hroot, lgConfigK = 12)
      (0 until 4).foreach { m =>
        Profile.profileIngestShard(
          hllRows.filter(pmod(xxhash64($"k"), lit(4)) === m), "g", "k", hroot, m.toLong)
      }
      val est = Profile.readProfileArtifact(spark, hroot)
        .as[(String, Long)].collect().toMap
      Profile.mergeProfileShards(spark, hroot, maxDirs = 1)
      assert(fs.exists(new org.apache.hadoop.fs.Path(s"$hroot/parts/s=0_3/_fp")))
      assert(Profile.readProfileArtifact(spark, hroot)
        .as[(String, Long)].collect().toMap === est,
        "merged shards must serve the identical union estimates")
    } finally rmTree(root)
  }

  test("artifact guards: re-init dim mismatch, batch-key collision, orphan parts all fail loudly") {
    // CMS: same-dim re-init is a no-op; a different geometry refuses
    // (silently rewriting the meta would mix hash geometries under
    // the old parts and break even never-underestimate)
    val cms = java.nio.file.Files.createTempDirectory("graft-cmsguard").toString
    Profile.initCmsArtifact(spark, cms, depth = 4, width = 512)
    Profile.initCmsArtifact(spark, cms, depth = 4, width = 512)
    val eInit = intercept[IllegalArgumentException] {
      Profile.initCmsArtifact(spark, cms, depth = 4, width = 1024)
    }
    assert(eInit.getMessage.contains("different dimensions"), eInit.getMessage)
    // identical redelivery under a used batch key: no-op; a DIFFERENT
    // payload (reset checkpoint / second writer) fails loudly
    val a = cmsKeys("a" -> 5, "b" -> 2)
    Profile.cmsIngestBatch(a, "k", cms, 0L)
    Profile.cmsIngestBatch(a, "k", cms, 0L)
    val base = Profile.readCmsArtifact(spark, cms).as[(Int, Int, Long)].collect().toSet
    val eCol = intercept[IllegalArgumentException] {
      Profile.cmsIngestBatch(cmsKeys("zz" -> 9), "k", cms, 0L)
    }
    assert(eCol.getMessage.contains("DIFFERENT contribution"), eCol.getMessage)
    assert(Profile.readCmsArtifact(spark, cms).as[(Int, Int, Long)].collect().toSet === base,
      "a refused collision must leave the artifact untouched")
    // HLL twin: same guards (fingerprint over the deterministic
    // (group, estimate) view — sketch bytes are not recomputation-stable)
    val hll = java.nio.file.Files.createTempDirectory("graft-hllguard").toString
    Profile.initProfileArtifact(spark, hll, lgConfigK = 12)
    intercept[IllegalArgumentException] {
      Profile.initProfileArtifact(spark, hll, lgConfigK = 13)
    }
    val rows = Seq(("g", "x"), ("g", "y")).toDF("g", "k")
    Profile.profileIngestShard(rows, "g", "k", hll, 0L)
    Profile.profileIngestShard(rows.repartition(3), "g", "k", hll, 0L) // replay, any layout
    intercept[IllegalArgumentException] {
      Profile.profileIngestShard(Seq(("g", "z")).toDF("g", "k"), "g", "k", hll, 0L)
    }
    // parts without a meta: refused at init, not silently adopted
    val orphan = java.nio.file.Files.createTempDirectory("graft-orphanguard").toString
    new java.io.File(s"$orphan/parts").mkdirs()
    intercept[IllegalArgumentException] {
      Profile.initCmsArtifact(spark, orphan, depth = 4, width = 512)
    }
  }
}
