package graft

import graft.operators.Similarity
import org.apache.spark.sql.DataFrame

/** Brute-force kNN exactness on a hand-checkable fixture + LSH recall
  * against the brute-force ground truth on a deterministic corpus.
  */
class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private def emb(rows: (Long, Seq[Float])*): DataFrame =
    rows.toDF("vec_id", "embedding")

  /** The version dir an IVF/IVFPQ index serves, and its `CURRENT` name. */
  private def served(dir: String): String =
    graft.sources.VersionedRoot.resolve(spark, dir, "t").get
  private def current(dir: String): String =
    java.nio.file.Files.readString(java.nio.file.Paths.get(s"$dir/CURRENT")).trim

  test("bruteTopK ranks by exact cosine") {
    // 2-d-style vectors padded into the API's float arrays
    val d = emb(
      0L -> Seq(1f, 0f), // probe
      1L -> Seq(1f, 0.01f), // nearly parallel → top 1
      2L -> Seq(1f, 1f), // 45° → top 2
      3L -> Seq(0f, 1f), // orthogonal → top 3
      4L -> Seq(-1f, 0f)) // opposite → last
    val out = Similarity.bruteTopK(d, d.filter($"vec_id" === 0L), 4)
      .orderBy("rnk").as[(Long, Long, Double, Long)].collect()
    assert(out.map(_._2).toSeq === Seq(1L, 2L, 3L, 4L))
    assert(math.abs(out.head._3 - 1.0) < 1e-4)
    assert(math.abs(out.last._3 + 1.0) < 1e-9)
  }

  /** Deterministic clustered corpus: 8 cluster centers, 25 points each,
    * 64-dim — neighbors should overwhelmingly be cluster-mates. */
  private lazy val corpus: DataFrame = {
    val rng = new scala.util.Random(11)
    val centers = Array.fill(8)(Array.fill(64)(rng.nextGaussian()))
    val rows = for {
      c <- 0 until 8
      i <- 0 until 25
    } yield {
      val v = centers(c).map(x => (x + 0.15 * rng.nextGaussian()).toFloat)
      ((c * 25 + i).toLong, v.toSeq)
    }
    emb(rows: _*)
  }

  test("probe broadcast guard: oversized probe set falls back to a shuffle join") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    def hasBroadcastJoin(df: DataFrame): Boolean = {
      df.count() // finalize AQE so the audited plan is the executed one
      def walk(p: org.apache.spark.sql.execution.SparkPlan): Boolean = p match {
        case ad: AdaptiveSparkPlanExec => walk(ad.executedPlan)
        case _: BroadcastHashJoinExec => true
        case other => other.children.exists(walk)
      }
      walk(df.queryExecution.executedPlan)
    }
    val probes = corpus.filter($"vec_id" < 5)
    // disable size-based auto-broadcast so the planner's choice reflects
    // only the guarded hint (the fixture is tiny; at scale the size
    // estimator makes the same call the guard does)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // within the cap: probe side is broadcast (the by-design baseline)
      assert(hasBroadcastJoin(Similarity.lshTopK(corpus, probes, 3)),
        "small probe set should broadcast")
      // over the cap: the hint is dropped so a huge batch can't OOM
      // executors — planner shuffles instead
      assert(!hasBroadcastJoin(
        Similarity.lshTopK(corpus, probes, 3, maxBroadcastProbes = 3)),
        "oversized probe set must not broadcast")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("lshTopK recall ≥ 0.8 vs brute force on clustered corpus") {
    val probes = corpus.filter($"vec_id" % 25 === 0L) // one probe per cluster
    val truth = Similarity.bruteTopK(corpus, probes, 5)
      .as[(Long, Long, Double, Long)].collect().map(r => (r._1, r._2)).toSet
    val approx = Similarity.lshTopK(corpus, probes, 5)
      .as[(Long, Long, Double, Long)].collect().map(r => (r._1, r._2)).toSet
    val recall = truth.intersect(approx).size.toDouble / truth.size
    assert(recall >= 0.8, s"LSH recall $recall")
  }

  test("persisted IVF index: identical results to in-memory IVF, partition-pruned probe scan") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf").toString + "/idx"
    Similarity.buildIvfIndex(corpus, dir, nCells = 8)
    // inverted file is physically partitioned by cell
    assert(new java.io.File(s"${served(dir)}/inverted").listFiles().exists(_.getName.startsWith("cell=")))
    val probes = corpus.filter($"vec_id" < 5)
    val indexed = Similarity.ivfTopKIndexed(spark, dir, probes, 5, nProbe = 3)
      .as[(Long, Long, Double, Long)].collect().toSet
    val inMemory = Similarity.ivfTopK(corpus, probes, 5, nCells = 8, nProbe = 3)
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(indexed === inMemory, "same seed → same index → same neighbors")
    // the probe scan reads only the probed cells' partitions
    val scanned = Similarity.ivfTopKIndexed(spark, dir, probes, 5, nProbe = 3)
      .queryExecution.executedPlan.toString
    assert(scanned.contains("cell"), scanned.take(500))
  }

  test("compactIvfIndex: cell layout preserved, probe identical, meta and centroids untouched") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfcpt").toString + "/idx"
    Similarity.buildIvfIndex(corpus.filter($"vec_id" % 10 < 8), dir, nCells = 8)
    // two append batches accrete part files into the touched cells
    Similarity.appendToIvfIndex(corpus.filter($"vec_id" % 10 === 8), dir)
    Similarity.appendToIvfIndex(corpus.filter($"vec_id" % 10 === 9), dir)
    def cellFiles: Map[String, Int] =
      new java.io.File(s"${served(dir)}/inverted").listFiles().filter(_.getName.startsWith("cell="))
        .map(d => d.getName -> d.listFiles().count(_.getName.endsWith(".parquet"))).toMap
    val filesBefore = cellFiles
    assert(filesBefore.values.exists(_ > 1), "fixture must accumulate multiple part files")
    val probes = corpus.filter($"vec_id" < 5)
    val before = Similarity.ivfTopKIndexed(spark, dir, probes, 5, nProbe = 3)
      .as[(Long, Long, Double, Long)].collect().toSet
    val metaBefore = java.nio.file.Files.readString(java.nio.file.Paths.get(s"${served(dir)}/meta.json"))
    val centroidsBefore = spark.read.parquet(s"${served(dir)}/centroids")
      .as[(Int, Array[Double])].collect().map { case (c, v) => (c, v.toSeq) }.toSet

    Similarity.compactIvfIndex(spark, dir)

    val filesAfter = cellFiles
    assert(filesAfter.keySet === filesBefore.keySet, "compaction must keep the cell= hive layout")
    assert(filesAfter.values.forall(_ === 1), "small cells compact to one file each")
    val after = Similarity.ivfTopKIndexed(spark, dir, probes, 5, nProbe = 3)
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(after === before, "compaction changed probe results")
    assert(java.nio.file.Files.readString(java.nio.file.Paths.get(s"${served(dir)}/meta.json")) === metaBefore,
      "compaction must not touch meta.json")
    val centroidsAfter = spark.read.parquet(s"${served(dir)}/centroids")
      .as[(Int, Array[Double])].collect().map { case (c, v) => (c, v.toSeq) }.toSet
    assert(centroidsAfter === centroidsBefore, "compaction must not touch centroids")
    // appends after compaction still land probe-visible
    Similarity.appendToIvfIndex(corpus.filter($"vec_id" === 5), dir)
    val grown = Similarity.ivfTopKIndexed(spark, dir, probes, 5, nProbe = 8)
      .as[(Long, Long, Double, Long)].collect()
    assert(grown.exists(_._2 === 5L), "post-compaction append must be probe-visible")
    // only real indexes are compactable
    intercept[IllegalArgumentException] {
      Similarity.compactIvfIndex(spark,
        java.nio.file.Files.createTempDirectory("graft-notivf").toString)
    }
  }

  test("IVF index append: new vectors probe-visible, replayed append is a no-op") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfapp").toString + "/idx"
    Similarity.buildIvfIndex(corpus, dir, nCells = 8)
    // a batch of near-copies of existing vectors: each lands in its
    // twin's cell, so a probe at the twin must now return it first
    val batch = corpus.filter($"vec_id" < 3)
      .select(($"vec_id" + 10000L).as("vec_id"), $"embedding")
    Similarity.appendToIvfIndex(batch, dir)
    val probes = corpus.filter($"vec_id" < 3)
    val got = Similarity.ivfTopKIndexed(spark, dir, probes, k = 1, nProbe = 1)
      .select("q_id", "n_id").as[(Long, Long)].collect().toMap
    (0L until 3L).foreach(i =>
      assert(got(i) === i + 10000L, s"appended twin of $i must be its nearest neighbor"))
    // replay: the anti-join makes a retried append a no-op
    Similarity.appendToIvfIndex(batch, dir)
    val n = spark.read.parquet(s"${served(dir)}/inverted")
      .filter($"vec_id" >= 10000L).count()
    assert(n === 3L, "replayed append duplicated index rows")
  }

  test("IVF index meta: unbuilt/dim-mismatched use fails loudly; dup-id batch appends once") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfmeta").toString + "/idx"
    // no index yet: probe and append must fail loudly, not read nothing
    intercept[IllegalArgumentException] {
      Similarity.ivfTopKIndexed(spark, dir, corpus.filter($"vec_id" < 2), 3)
    }
    intercept[IllegalArgumentException] {
      Similarity.appendToIvfIndex(corpus.filter($"vec_id" < 2), dir)
    }
    Similarity.buildIvfIndex(corpus, dir, nCells = 8) // 64-dim corpus
    // meta fingerprint records the build parameters
    val meta = graft.sources.IndexMeta.read(spark, s"${served(dir)}/meta.json", "IVF index")
    assert(meta("nCells") === 8L && meta("dim") === 64L)
    // appending or probing vectors of a DIFFERENT dim used to silently
    // truncate every distance loop (min-length) and destroy recall —
    // it must throw instead
    def deepMsg(t: Throwable): String =
      (Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage) ++ Iterator("")).mkString(" | ")
    val wrongDim = emb(5000L -> Seq(1f, 2f, 3f))
    val eA = intercept[Throwable] { Similarity.appendToIvfIndex(wrongDim, dir) }
    assert(deepMsg(eA).contains("dim"), deepMsg(eA))
    val eP = intercept[Throwable] {
      Similarity.ivfTopKIndexed(spark, dir, wrongDim, 3).collect()
    }
    assert(deepMsg(eP).contains("dim"), deepMsg(eP))
    // a batch with a duplicated vec_id collapses to one index row (the
    // anti-join only guards against ids already on disk)
    val v = Seq.fill(64)(0.5f)
    Similarity.appendToIvfIndex(emb(7000L -> v, 7000L -> v), dir)
    assert(spark.read.parquet(s"${served(dir)}/inverted").filter($"vec_id" === 7000L).count() === 1L)
  }

  test("persisted IVF index recall ≥ 0.8 vs brute force POST-APPEND") {
    // the production lifecycle: centroids trained on 80% of the
    // corpus, the rest appended against them — recall is measured on
    // the resulting drifted index directly, not transferred from the
    // in-memory path via snapshot equality
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfrec").toString + "/idx"
    Similarity.buildIvfIndex(corpus.filter($"vec_id" % 10 < 8), dir, nCells = 8)
    Similarity.appendToIvfIndex(corpus.filter($"vec_id" % 10 >= 8), dir)
    val probes = corpus.filter($"vec_id" % 25 === 0L)
    val truth = Similarity.bruteTopK(corpus, probes, 5)
      .as[(Long, Long, Double, Long)].collect().map(r => (r._1, r._2)).toSet
    val approx = Similarity.ivfTopKIndexed(spark, dir, probes, 5, nProbe = 2)
      .as[(Long, Long, Double, Long)].collect().map(r => (r._1, r._2)).toSet
    val recall = truth.intersect(approx).size.toDouble / truth.size
    assert(recall >= 0.8, s"post-append indexed IVF recall $recall")
  }

  test("rebuildIvfIndex: versioned atomic swap, probe ≡ fresh build, appends follow the pointer") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfrb").toString + "/idx"
    Similarity.buildIvfIndex(corpus.filter($"vec_id" % 10 < 8), dir, nCells = 8)
    assert(current(dir) === "v_1", "a fresh build publishes v_1")
    Similarity.appendToIvfIndex(corpus.filter($"vec_id" % 10 >= 8), dir) // drifted cells
    val probes = corpus.filter($"vec_id" % 25 === 0L)
    Similarity.rebuildIvfIndex(spark, dir)
    assert(current(dir) === "v_2", "the first rebuild publishes v_2")
    // the pre-rebuild serving version is intact: a probe that resolved
    // before the swap finishes against whole files
    assert(new java.io.File(s"$dir/v_1/inverted").exists() &&
      new java.io.File(s"$dir/v_1/centroids").exists())
    // probe off the rebuilt index ≡ a fresh buildIvfIndex over the same
    // corpus (same seeded fit over the same reloaded rows)
    val got = Similarity.ivfTopKIndexed(spark, dir, probes, 5, nProbe = 2)
      .as[(Long, Long, Double, Long)].collect().toSet
    val freshDir = java.nio.file.Files.createTempDirectory("graft-ivfrf").toString + "/idx"
    Similarity.buildIvfIndex(
      spark.read.parquet(s"$dir/v_1/inverted").select($"vec_id", $"emb".as("embedding")),
      freshDir, nCells = 8)
    val fresh = Similarity.ivfTopKIndexed(spark, freshDir, probes, 5, nProbe = 2)
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(got === fresh, "rebuild must equal a fresh build over the same corpus")
    // every vector survived the re-assignment exactly once
    assert(spark.read.parquet(s"$dir/v_2/inverted").count() === 200L)
    // recall holds on the refreshed centroids
    val truth = Similarity.bruteTopK(corpus, probes, 5)
      .as[(Long, Long, Double, Long)].collect().map(r => (r._1, r._2)).toSet
    val approx = got.map(r => (r._1, r._2))
    assert(truth.intersect(approx).size.toDouble / truth.size >= 0.8)
    // a mid-swap reader (pointer momentarily absent) falls back to the
    // newest COMPLETE version — the same results, never a half-written mix
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/CURRENT"), false)
    val noPointer = Similarity.ivfTopKIndexed(spark, dir, probes, 5, nProbe = 2)
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(noPointer === got, "pointer-less resolution must serve the newest complete version")
    // appends resolve through the pointer: they land in the CURRENT
    // version, and cell telemetry sees them there
    Similarity.rebuildIvfIndex(spark, dir) // re-publishes CURRENT (v_3)
    val twin = corpus.filter($"vec_id" === 0L)
      .select(($"vec_id" + 9000L).as("vec_id"), $"embedding")
    Similarity.appendToIvfIndex(twin, dir)
    assert(spark.read.parquet(s"$dir/v_3/inverted").filter($"vec_id" === 9000L).count() === 1L)
    assert(spark.read.parquet(s"$dir/v_2/inverted").filter($"vec_id" === 9000L).count() === 0L,
      "append must not touch the superseded version")
    assert(Similarity.ivfCellStats(spark, dir).collect().head
      .getAs[Long]("total_vecs") === 201L)
    // bounded version debt: the previous version survives each swap,
    // older ones are deleted
    assert(new java.io.File(s"$dir/v_2").exists(), "previous version must be kept")
    Similarity.rebuildIvfIndex(spark, dir) // v_4 → v_2 ages out
    assert(!new java.io.File(s"$dir/v_2").exists(), "v_2 must age out after two more swaps")
    assert(new java.io.File(s"$dir/v_3").exists())
  }

  test("IVFPQ: exhaustive settings reduce to brute force; pruning keeps recall; lifecycle parity") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfpq").toString + "/idx"
    Similarity.buildIvfPqIndex(corpus, dir, nCells = 8, nCentroids = 64)
    val probes = corpus.filter($"vec_id" % 25 === 0L)
    // nProbe = nCells and an exhaustive shortlist: both reductions are
    // disabled, so the exact-cosine rerank must equal brute force —
    // ranks, neighbors AND round-6 cosines
    val rr = Similarity.ivfPqTopKReranked(spark, dir, corpus, probes, 5,
      nProbe = 8, shortlist = 199)
      .as[(Long, Long, Double, Long)].collect().toSet
    val brute = Similarity.bruteTopK(corpus, probes, 5)
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(rr === brute, "exhaustive IVFPQ rerank must reduce to brute force")
    // REAL pruning (nProbe 2 of 8, shortlist 20): recall holds on the
    // clustered corpus — the double reduction still finds cluster-mates
    val pruned = Similarity.ivfPqTopKReranked(spark, dir, corpus, probes, 5,
      nProbe = 2, shortlist = 20)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val bruteIds = brute.map(r => (r._1, r._2))
    val recall = bruteIds.intersect(pruned).size.toDouble / bruteIds.size
    assert(recall >= 0.8, s"pruned IVFPQ recall $recall")
    // lifecycle: an appended twin lands in its original's cell with
    // IDENTICAL residual codes (frozen centroids + frozen codebook),
    // per-vector-atomic; replay is a no-op; compaction probe-invisible
    val twin = corpus.filter($"vec_id" === 0L)
      .select(($"vec_id" + 7000L).as("vec_id"), $"embedding")
    Similarity.appendToIvfPqIndex(twin, dir)
    Similarity.appendToIvfPqIndex(twin, dir) // replay
    val rows = spark.read.parquet(s"${served(dir)}/codes")
      .filter($"vec_id".isin(0L, 7000L))
      .select("vec_id", "codes", "cell")
      .as[(Long, Seq[Long], Int)].collect()
    val byId = rows.groupBy(_._1)
    assert(byId(7000L).length === 1, "replayed append duplicated IVFPQ code rows")
    assert(byId(7000L).head._2 === byId(0L).head._2, "twin must share its original's codes")
    assert(byId(7000L).head._3 === byId(0L).head._3, "twin must share its original's cell")
    val before = Similarity.ivfPqTopK(spark, dir, probes, 5, nProbe = 3)
      .as[(Long, Long, Double, Long)].collect().toSet
    Similarity.compactIvfPqIndex(spark, dir)
    val after = Similarity.ivfPqTopK(spark, dir, probes, 5, nProbe = 3)
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(after === before, "compaction changed IVFPQ probe results")
    // meta guard: unbuilt probe and append fail loudly
    val unbuilt = java.nio.file.Files.createTempDirectory("graft-noivfpq").toString
    intercept[IllegalArgumentException] {
      Similarity.ivfPqTopK(spark, unbuilt, probes, 3)
    }
    intercept[IllegalArgumentException] {
      Similarity.appendToIvfPqIndex(twin, unbuilt)
    }
  }

  test("rebuildIvfPqIndex: versioned swap, retrained artifacts exact post-rebuild, drift loop, GC parity") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfpqrb").toString + "/idx"
    Similarity.buildIvfPqIndex(corpus.filter($"vec_id" % 10 < 8), dir,
      nCells = 8, nCentroids = 64)
    assert(current(dir) === "v_1", "a fresh build publishes v_1")
    Similarity.appendToIvfPqIndex(corpus.filter($"vec_id" % 10 >= 8), dir) // drifted
    val probes = corpus.filter($"vec_id" % 25 === 0L)
    // a rebuild from a PARTIAL vector store must refuse — it would
    // silently drop the uncovered vectors from the index
    val ePart = intercept[IllegalArgumentException] {
      Similarity.rebuildIvfPqIndex(spark, dir, corpus.filter($"vec_id" < 100L))
    }
    assert(ePart.getMessage.contains("covers"), ePart.getMessage)
    Similarity.rebuildIvfPqIndex(spark, dir, corpus)
    assert(current(dir) === "v_2", "the first rebuild publishes v_2")
    // the pre-rebuild version stays for pre-swap readers
    assert(new java.io.File(s"$dir/v_1/codes").exists() &&
      new java.io.File(s"$dir/v_1/codebook").exists())
    // every indexed vector survived the re-encode exactly once
    assert(spark.read.parquet(s"$dir/v_2/codes").count() === 200L)
    // the strongest post-rebuild pin, partition-independent: with both
    // reductions disabled the rerank off the REBUILT artifacts must
    // still reduce to exact brute force (same gate a fresh build has —
    // a lost vector, wrong cell or corrupt codebook all break it)
    val rr = Similarity.ivfPqTopKReranked(spark, dir, corpus, probes, 5,
      nProbe = 8, shortlist = 199)
      .as[(Long, Long, Double, Long)].collect().toSet
    val brute = Similarity.bruteTopK(corpus, probes, 5)
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(rr === brute, "exhaustive rerank off the rebuilt index must reduce to brute force")
    // REAL pruning still holds recall on the re-trained cells
    val pruned = Similarity.ivfPqTopKReranked(spark, dir, corpus, probes, 5,
      nProbe = 2, shortlist = 20)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    val bruteIds = brute.map(r => (r._1, r._2))
    assert(bruteIds.intersect(pruned).size.toDouble / bruteIds.size >= 0.8)
    // mid-swap reader (pointer momentarily absent) falls back to the
    // newest complete version — same results
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/CURRENT"), false)
    assert(Similarity.ivfPqTopKReranked(spark, dir, corpus, probes, 5,
      nProbe = 8, shortlist = 199)
      .as[(Long, Long, Double, Long)].collect().toSet === brute)
    Similarity.rebuildIvfPqIndex(spark, dir, corpus) // re-publishes CURRENT (v_3)
    // appends resolve through the pointer; telemetry and compaction too
    val twin = corpus.filter($"vec_id" === 0L)
      .select(($"vec_id" + 9000L).as("vec_id"), $"embedding")
    Similarity.appendToIvfPqIndex(twin, dir)
    assert(spark.read.parquet(s"$dir/v_3/codes").filter($"vec_id" === 9000L).count() === 1L)
    assert(spark.read.parquet(s"$dir/v_2/codes").filter($"vec_id" === 9000L).count() === 0L,
      "append must not touch the superseded version")
    assert(Similarity.ivfPqCellStats(spark, dir).collect().head
      .getAs[Long]("total_vecs") === 201L)
    Similarity.compactIvfPqIndex(spark, dir)
    assert(Similarity.ivfPqCellStats(spark, dir).collect().head
      .getAs[Long]("total_vecs") === 201L)
    // bounded version debt, served-version GC (parity with IVF)
    assert(new java.io.File(s"$dir/v_2").exists(), "previous version must be kept")
    Similarity.rebuildIvfPqIndex(spark, dir, corpus.unionByName(twin)) // v_4 → v_2 ages out
    assert(!new java.io.File(s"$dir/v_2").exists())
    assert(new java.io.File(s"$dir/v_3").exists())
  }

  test("maybeRebuildIvfPqIndex: no refit below the bound, refit above restores balance and serves the pile") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfpqauto").toString + "/idx"
    Similarity.buildIvfPqIndex(corpus, dir, nCells = 8, nCentroids = 64)
    assert(!Similarity.maybeRebuildIvfPqIndex(spark, dir, corpus, maxImbalance = 3.0),
      "a freshly built index must not trigger a rebuild")
    // a diffuse new cluster the frozen centroids never saw piles into
    // the nearest existing cell(s); a re-fit splits the new region
    val rng2 = new scala.util.Random(29)
    val newCenter = Array.fill(64)(rng2.nextGaussian())
    val pile = emb((1 to 150).map { i =>
      (20000L + i, newCenter.map(x => (x + 0.8 * rng2.nextGaussian()).toFloat).toSeq)
    }: _*)
    Similarity.appendToIvfPqIndex(pile, dir)
    val all = corpus.unionByName(pile)
    val imbBefore = Similarity.ivfPqCellStats(spark, dir)
      .select("imbalance").as[Double].head()
    assert(imbBefore > 2.0, s"fixture must skew the cells (imbalance $imbBefore)")
    assert(Similarity.maybeRebuildIvfPqIndex(spark, dir, all, maxImbalance = 2.0))
    val imbAfter = Similarity.ivfPqCellStats(spark, dir)
      .select("imbalance").as[Double].head()
    assert(imbAfter < imbBefore, s"refit must reduce imbalance ($imbBefore -> $imbAfter)")
    assert(Similarity.ivfPqCellStats(spark, dir)
      .select("total_vecs").as[Long].head() === 350L)
    intercept[IllegalArgumentException] {
      Similarity.maybeRebuildIvfPqIndex(spark, dir, all, maxImbalance = 0.5)
    }
  }

  test("rebuild GC keys off the SERVED version: incomplete higher-numbered debris dies, the serving version survives") {
    // the r14 advisor's window: a rebuild that crashed after partially
    // writing v_3 (no meta) leaves debris with a HIGHER number than
    // the serving v_2. Numbering-based GC (keep v_(next-1)) would keep
    // the garbage and delete v_2 — the version CURRENT still points at
    // until the swap, which concurrent readers may be mid-scan on.
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfgc").toString + "/idx"
    Similarity.buildIvfIndex(corpus, dir, nCells = 8)
    Similarity.rebuildIvfIndex(spark, dir) // serving = v_2
    val probes = corpus.filter($"vec_id" % 25 === 0L)
    val served = Similarity.ivfTopKIndexed(spark, dir, probes, 5, nProbe = 2)
      .as[(Long, Long, Double, Long)].collect().toSet
    // crashed rebuild: v_3 exists, partially written, NO meta.json
    assert(new java.io.File(s"$dir/v_3/centroids").mkdirs())
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/v_3/centroids/part-junk"),
      Array[Byte](1, 2, 3))
    // resolution ignores the incomplete version entirely
    assert(Similarity.ivfTopKIndexed(spark, dir, probes, 5, nProbe = 2)
      .as[(Long, Long, Double, Long)].collect().toSet === served)
    Similarity.rebuildIvfIndex(spark, dir) // publishes v_4 off v_2
    assert(current(dir) === "v_4")
    assert(new java.io.File(s"$dir/v_2").exists(),
      "the previously SERVED version must survive the swap for in-flight readers")
    assert(!new java.io.File(s"$dir/v_3").exists(),
      "incomplete debris must be deleted, not kept as the 'previous' version")
    assert(Similarity.ivfTopKIndexed(spark, dir, probes, 5, nProbe = 2)
      .as[(Long, Long, Double, Long)].collect().toSet === served)
  }

  test("maybeRebuildIvfIndex: no refit below the imbalance bound, refit above restores balance") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfauto").toString + "/idx"
    Similarity.buildIvfIndex(corpus, dir, nCells = 8)
    assert(!Similarity.maybeRebuildIvfIndex(spark, dir, maxImbalance = 3.0),
      "a freshly built index must not trigger a rebuild")
    // skew the cells: a DIFFUSE new cluster the frozen centroids never
    // saw — its points pile into the nearest existing cell(s), but a
    // re-fit can allocate centroids to the new region and split it
    val rng2 = new scala.util.Random(23)
    val newCenter = Array.fill(64)(rng2.nextGaussian())
    val pile = emb((1 to 150).map { i =>
      (20000L + i, newCenter.map(x => (x + 0.8 * rng2.nextGaussian()).toFloat).toSeq)
    }: _*)
    Similarity.appendToIvfIndex(pile, dir)
    val imbBefore = Similarity.ivfCellStats(spark, dir)
      .select("imbalance").as[Double].head()
    assert(imbBefore > 2.0, s"fixture must skew the cells (imbalance $imbBefore)")
    assert(Similarity.maybeRebuildIvfIndex(spark, dir, maxImbalance = 2.0))
    val imbAfter = Similarity.ivfCellStats(spark, dir)
      .select("imbalance").as[Double].head()
    assert(imbAfter < imbBefore,
      s"refit must reduce imbalance ($imbBefore -> $imbAfter)")
    // the refreshed index serves the full corpus incl. the pile
    assert(Similarity.ivfCellStats(spark, dir)
      .select("total_vecs").as[Long].head() === 350L)
    intercept[IllegalArgumentException] {
      Similarity.maybeRebuildIvfIndex(spark, dir, maxImbalance = 0.5)
    }
  }

  test("ivfCellStats: exact totals, stats consistent with the inverted file") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfstats").toString + "/idx"
    Similarity.buildIvfIndex(corpus.filter($"vec_id" % 10 < 8), dir, nCells = 8)
    Similarity.appendToIvfIndex(corpus.filter($"vec_id" % 10 >= 8), dir)
    val r = Similarity.ivfCellStats(spark, dir).collect().head
    val perCell = spark.read.parquet(s"${served(dir)}/inverted")
      .groupBy("cell").count().as[(Int, Long)].collect().map(_._2)
    assert(r.getAs[Long]("total_vecs") === 200L, "build + append must cover the corpus once")
    assert(r.getAs[Long]("n_cells") === 8L)
    assert(r.getAs[Long]("cells_used") === perCell.length.toLong)
    assert(r.getAs[Long]("max_cell") === perCell.max)
    assert(r.getAs[Long]("min_cell") === perCell.min)
    val expImb = BigDecimal(perCell.max / (200.0 / 8))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getAs[Double]("imbalance") === expImb)
  }

  test("ivfTopK recall ≥ 0.8 vs brute force on clustered corpus") {
    val probes = corpus.filter($"vec_id" % 25 === 0L)
    val truth = Similarity.bruteTopK(corpus, probes, 5)
      .as[(Long, Long, Double, Long)].collect().map(r => (r._1, r._2)).toSet
    val approx = Similarity.ivfTopK(corpus, probes, 5, nCells = 8, nProbe = 2)
      .as[(Long, Long, Double, Long)].collect().map(r => (r._1, r._2)).toSet
    val recall = truth.intersect(approx).size.toDouble / truth.size
    assert(recall >= 0.8, s"IVF recall $recall")
  }

  test("clusterDedupPairs recovers planted scaled duplicates within cells") {
    val rng = new scala.util.Random(31)
    val base = Array.fill(40)(Array.fill(64)(rng.nextGaussian().toFloat))
    val rows = base.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) } ++
      base.take(5).zipWithIndex.map { case (v, i) =>
        ((100 + i).toLong, v.map(x => x * 1.0001f).toSeq) // same direction
      }
    val d = emb(rows: _*)
    val out = Similarity.clusterDedupPairs(d, k = 8, threshold = 0.999)
      .as[(Long, Long, Long, Double)].collect()
    val found = out.map(p => (p._1, p._2)).toSet
    // a scaled copy keeps every cosine, so each planted pair shares its
    // nearest centroid and is found despite the cluster blocking
    assert((0 until 5).map(i => (i.toLong, (100 + i).toLong)).forall(found.contains),
      s"missed planted dups: $found")
    assert(out.forall(_._4 >= 0.999))
    // and the assignment is a partition: pair members share the cell
    assert(out.map(_._3).forall(c => rows.map(_._1).contains(c)))
  }

  test("quantizeInt8: codes in 0..255, reconstruction within half a step") {
    val rng = new scala.util.Random(7)
    val dims = 16
    val rows = (0 until 50).map(i => (i.toLong, Seq.fill(dims)(rng.nextGaussian().toFloat)))
    val out = Similarity.quantizeInt8(emb(rows: _*))
      .select($"vec_id", $"codes").as[(Long, Seq[Int])].collect()
    assert(out.length === 50 && out.forall(_._2.length === dims))
    assert(out.forall(_._2.forall(c => c >= 0 && c <= 255)))
    // dequantize with the per-dim stats and bound the error by the step
    val raw = rows.map { case (id, v) => id -> v.map(_.toDouble) }.toMap
    val mn = (0 until dims).map(j => rows.map(_._2(j).toDouble).min)
    val mx = (0 until dims).map(j => rows.map(_._2(j).toDouble).max)
    out.foreach { case (id, cs) =>
      cs.zipWithIndex.foreach { case (c, j) =>
        val step = (mx(j) - mn(j)) / 256.0
        val xhat = mn(j) + (c + 0.5) * step
        assert(math.abs(raw(id)(j) - xhat) <= step * 0.5 + 1e-12,
          s"vec $id dim $j: ${raw(id)(j)} vs $xhat (step $step)")
      }
    }
  }

  test("truncateNormalize: unit-norm prefix, exact floor codes, zero-vector safe") {
    val rng = new scala.util.Random(11)
    val rows = (0 until 40).map(i => (i.toLong, Seq.fill(16)(rng.nextGaussian().toFloat))) :+
      (99L, Seq.fill(16)(0.0f)) // degenerate: zero norm
    val out = Similarity.truncateNormalize(emb(rows: _*), dims = 4)
      .select($"vec_id", $"norm_full_code", $"norm_pre_code", $"code_digest", $"renorm")
      .as[(Long, Long, Long, Long, Seq[Double])].collect()
      .map(r => r._1 -> r).toMap
    val raw = rows.toMap
    out.foreach { case (id, (_, fullCode, preCode, digest, renorm)) =>
      val v = raw(id).map(_.toDouble)
      val pre = v.take(4)
      val nFull = math.sqrt(v.map(x => x * x).sum)
      val nPre = math.sqrt(pre.map(x => x * x).sum)
      assert(fullCode === math.floor(nFull * 1e6).toLong)
      assert(preCode === math.floor(nPre * 1e6).toLong)
      if (id == 99L) {
        assert(renorm.forall(_ === 0.0) && digest === 0L)
      } else {
        // renormalized prefix is unit length and the digest is the
        // exact sum of the element floor codes
        val n2 = math.sqrt(renorm.map(x => x * x).sum)
        assert(math.abs(n2 - 1.0) < 1e-9, s"vec $id norm $n2")
        assert(digest === renorm.map(x => math.floor(x * 1e6).toLong).sum)
      }
    }
  }

  test("cosinePairs finds planted near-duplicate embeddings, no false positives") {
    // plant near-dups: cluster-mate pairs have cos ≈ 1 only for copies
    val rng = new scala.util.Random(23)
    val base = Array.fill(30)(Array.fill(64)(rng.nextGaussian().toFloat))
    val rows = base.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) } ++
      base.take(5).zipWithIndex.map { case (v, i) =>
        ((100 + i).toLong, v.map(x => x * 1.0001f).toSeq) // same direction
      }
    val d = emb(rows: _*)
    val pairs = Similarity.cosinePairs(d, threshold = 0.999)
      .as[(Long, Long, Double)].collect()
    val found = pairs.map(p => (p._1, p._2)).toSet
    assert((0 until 5).map(i => (i.toLong, (100 + i).toLong)).forall(found.contains),
      s"missed planted dups: $found")
    assert(pairs.forall(_._3 >= 0.999))
  }

  test("pqTopK: ADC resolves clusters and planted near-dups; layout-independent") {
    val probes = corpus.filter($"vec_id" % 25 === 0L)
    val approx = Similarity.pqTopK(corpus, probes, 5, nCentroids = 64)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    // PQ's resolution is the quantization cell: it reliably separates
    // CLUSTERS (inter-cluster distance >> reconstruction error), not
    // the micro-ranking inside a noise ball — so the fidelity check is
    // cluster locality, not exact-neighbor recall
    val crossCluster = approx.count { case (q, n) => q / 25 != n / 25 }
    assert(crossCluster <= approx.size / 5,
      s"$crossCluster of ${approx.size} ADC neighbors crossed clusters")
    val again = Similarity.pqTopK(corpus.repartition(7), probes, 5, nCentroids = 64)
      .select("q_id", "n_id").as[(Long, Long)].collect().toSet
    assert(again === approx)
  }

  test("pqTopK: planted near-duplicates rank above ordinary cluster-mates") {
    // near-copies of each probe (noise far below quantization cell
    // size) quantize to the probe's own codes → ad2 ≈ 0, so ADC must
    // surface all of them before any ordinary cluster-mate
    val rng = new scala.util.Random(13)
    val base = corpus.as[(Long, Seq[Float])].collect()
    val planted = for {
      q <- Seq(0L, 25L, 50L); j <- 0 until 3
    } yield (1000L + q * 10 + j,
      base.find(_._1 == q).get._2.map(x => x + 0.001f * rng.nextGaussian().toFloat))
    val withDups = emb((base.map(t => (t._1, t._2)) ++ planted): _*)
    val out = Similarity.pqTopK(withDups, withDups.filter($"vec_id".isin(0L, 25L, 50L)), 3,
        nCentroids = 64)
      .select("q_id", "n_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    for (q <- Seq(0L, 25L, 50L))
      assert(out(q) === (0 until 3).map(j => 1000L + q * 10 + j).toSet,
        s"probe $q top-3 ${out(q)} is not its planted near-dups")
  }

  test("pqTopK: a codebook vector's own subspace distance is zero to itself") {
    // vectors identical to a codebook entry must score ad2 = 0 against
    // copies of that entry (the quantization is exact there)
    val rows = Seq.tabulate(20)(i => (i.toLong, Seq.fill(64)((i % 5).toFloat)))
    val dup = emb((rows :+ (100L, Seq.fill(64)(1.0f))): _*)
    val out = Similarity.pqTopK(dup, dup.filter($"vec_id" === 100L), 3)
      .as[(Long, Long, Double, Long)].collect()
    // vec 100 equals every value-1 vector; its nearest ADC distance is 0
    assert(out.head._3 === 0.0, s"expected exact-zero ADC, got ${out.head._3}")
  }

  test("persisted PQ index: byte-identical to in-memory pqTopK") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pqidx").toString + "/idx"
    Similarity.buildPqIndex(corpus, dir, nCentroids = 64)
    val probes = corpus.filter($"vec_id" < 5)
    val indexed = Similarity.pqTopKIndexed(spark, dir, probes, 5)
      .as[(Long, Long, Double, Long)].collect().toSet
    val inMem = Similarity.pqTopK(corpus, probes, 5, nCentroids = 64)
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(indexed === inMem, "same codebook + shared scoring tail → identical ADC results")
  }

  test("PQ index lifecycle: frozen-codebook append is probe-visible, replay no-op, compact invisible") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pqapp").toString + "/idx"
    Similarity.buildPqIndex(corpus.filter($"vec_id" % 10 < 8), dir, nCentroids = 64)
    Similarity.appendToPqIndex(corpus.filter($"vec_id" % 10 >= 8), dir)
    // exact twins of three vectors: identical embeddings quantize to the
    // SAME codes against the frozen codebook, so each twin's ADC
    // distance equals its original's self-quantization error → top-k
    val twins = corpus.filter($"vec_id" < 3)
      .select(($"vec_id" + 10000L).as("vec_id"), $"embedding")
    Similarity.appendToPqIndex(twins, dir)
    val probes = corpus.filter($"vec_id" < 3)
    val got = Similarity.pqTopKIndexed(spark, dir, probes, 3)
      .select("q_id", "n_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    (0L until 3L).foreach(i =>
      assert(got(i).contains(i + 10000L), s"appended twin of $i missing from its top-3: ${got(i)}"))
    // replayed append: the anti-join makes it a no-op; codes persist
    // one PER-VECTOR-ATOMIC row carrying the whole nSub-code array
    Similarity.appendToPqIndex(twins, dir)
    val meta = graft.sources.IndexMeta.read(spark, s"$dir/meta.json", "PQ index")
    val twinCodes = spark.read.parquet(s"$dir/codes").filter($"vec_id" >= 10000L)
      .as[(Long, Seq[Long])].collect()
    assert(twinCodes.length === 3, "replayed append duplicated code rows")
    assert(twinCodes.forall(_._2.length === meta("nSub")),
      "a persisted vector must carry ALL its subspace codes in one row")
    // compaction: row-identical codes, probe-identical, meta/codebook untouched
    val before = Similarity.pqTopKIndexed(spark, dir, probes, 5)
      .as[(Long, Long, Double, Long)].collect().toSet
    val metaBefore = java.nio.file.Files.readString(java.nio.file.Paths.get(s"$dir/meta.json"))
    val filesBefore = new java.io.File(s"$dir/codes").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(filesBefore > 1, "fixture must accumulate multiple part files")
    Similarity.compactPqIndex(spark, dir)
    assert(new java.io.File(s"$dir/codes").listFiles().count(_.getName.endsWith(".parquet")) === 1)
    val after = Similarity.pqTopKIndexed(spark, dir, probes, 5)
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(after === before, "compaction changed probe results")
    assert(java.nio.file.Files.readString(java.nio.file.Paths.get(s"$dir/meta.json")) === metaBefore)
  }

  test("pqTopKReranked: exhaustive shortlist reduces to exact brute force; rerank is exact cosine") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pqrr").toString + "/idx"
    Similarity.buildPqIndex(corpus, dir, nCentroids = 64)
    val probes = corpus.filter($"vec_id" < 3)
    // shortlist covering every non-self candidate: the ADC stage prunes
    // nothing, so the rerank must equal brute-force exactly — ranks,
    // neighbors AND round-6 cosine values
    val rr = Similarity.pqTopKReranked(spark, dir, corpus, probes, 5, shortlist = 199)
      .as[(Long, Long, Double, Long)].collect().toSet
    val brute = Similarity.bruteTopK(corpus, probes, 5)
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(rr === brute, "exhaustive-shortlist rerank must reduce to brute force")
    // a REAL (pruning) shortlist still returns exact cosine values in
    // descending order per probe
    val pruned = Similarity.pqTopKReranked(spark, dir, corpus, probes, 5, shortlist = 20)
      .as[(Long, Long, Double, Long)].collect()
    pruned.groupBy(_._1).values.foreach { rows =>
      val sorted = rows.sortBy(_._4)
      assert(sorted.map(_._3).toSeq === sorted.map(_._3).sortBy(-_).toSeq,
        "rerank output not in descending exact-cosine order")
    }
    intercept[IllegalArgumentException] {
      Similarity.pqTopKReranked(spark, dir, corpus, probes, k = 10, shortlist = 5)
    }
  }

  test("index append picks a DETERMINISTIC survivor for conflicting duplicate ids") {
    // one batch, same vec_id, two DIFFERENT embeddings, presented in
    // both input orders: the persisted code rows must be identical —
    // a crash-replayed append may re-present the batch in any order
    // and must index the same vector (max-fingerprint survivor)
    val a = (9999L, Seq.fill(64)(0.25f)); val b = (9999L, Seq.fill(64)(-0.75f))
    def buildAndAppend(batch: Seq[(Long, Seq[Float])]): Set[(Long, Seq[Long])] = {
      val dir = java.nio.file.Files.createTempDirectory("graft-pqdet").toString + "/idx"
      Similarity.buildPqIndex(corpus, dir, nCentroids = 16)
      Similarity.appendToPqIndex(emb(batch: _*), dir)
      spark.read.parquet(s"$dir/codes").filter($"vec_id" === 9999L)
        .as[(Long, Seq[Long])].collect().toSet
    }
    val fwd = buildAndAppend(Seq(a, b))
    val rev = buildAndAppend(Seq(b, a))
    assert(fwd === rev, "survivor depends on batch row order")
    assert(fwd.nonEmpty)
  }

  test("trained PQ codebook: recall/nDCG ≥ the sampled book; same lifecycle serves it") {
    val sampledDir = java.nio.file.Files.createTempDirectory("graft-pqs").toString + "/idx"
    val trainedDir = java.nio.file.Files.createTempDirectory("graft-pqt").toString + "/idx"
    Similarity.buildPqIndex(corpus, sampledDir, nCentroids = 16)
    Similarity.buildPqIndexTrained(corpus, trainedDir, nCentroids = 16, iters = 5)
    val probes = corpus.filter($"vec_id" % 25 === 0) // one probe per cluster
    val truth = Similarity.bruteTopK(corpus, probes, 10)
    // (a) the training OBJECTIVE: mean per-subspace quantization
    // distortion must drop substantially vs the sampled net (Lloyd is
    // monotone from the sampled init, so ≤ is guaranteed; the 0.8
    // factor pins that training genuinely moved the book). Measured
    // against the PERSISTED codebooks — the artifact a probe serves.
    import org.apache.spark.sql.functions.{aggregate => agg_, avg, broadcast, col, explode, lit, min, slice, transform, zip_with, array}
    def distortion(dir: String): Double = {
      val base = corpus.withColumn("emb", transform(col("embedding"), x => x.cast("double")))
      val subs = array((0 until 8).map(lit): _*)
      val sub = base.select(col("vec_id"), explode(subs).as("s"),
        col("emb")).select(col("vec_id"), col("s"),
        slice(col("emb"), col("s") * 8 + 1, lit(8)).as("sv"))
      val cs = spark.read.parquet(s"$dir/codebook")
        .select(col("cid"), explode(subs).as("s"), col("cemb"))
        .select(col("s"), col("cid"), slice(col("cemb"), col("s") * 8 + 1, lit(8)).as("cvec"))
      sub.join(broadcast(cs), Seq("s"))
        .withColumn("d2", agg_(zip_with(col("sv"), col("cvec"),
          (x, y) => (x - y) * (x - y)), lit(0.0), (a, x) => a + x))
        .groupBy("vec_id", "s").agg(min(col("d2")).as("d2"))
        .agg(avg("d2")).as[Double].head()
    }
    val (ds, dt) = (distortion(sampledDir), distortion(trainedDir))
    assert(dt <= 0.8 * ds, s"trained distortion $dt did not improve on sampled $ds")
    // (b) the SERVING tier: reranked recall/nDCG@10 must not fall
    // below the sampled book's (raw-ADC rank order on this fixture is
    // tie-dominated — 25 cluster twins share codes — so the rerank
    // tier, which the evaluation harness gates in production, is the
    // meaningful comparison; on the near-orthogonal bench corpus the
    // trained book beats sampled on BOTH tiers, q_ann_pq_trained_check)
    def rerankMetrics(dir: String): (Double, Double) =
      graft.operators.RankEval.metrics(
        truth, Similarity.pqTopKReranked(spark, dir, corpus, probes, 10, shortlist = 50), 10)
        .agg(avg("recall"), avg("ndcg")).as[(Double, Double)].head()
    val (rs, ns) = rerankMetrics(sampledDir)
    val (rt, nt) = rerankMetrics(trainedDir)
    assert(rt >= rs, s"trained reranked recall@10 $rt fell below sampled $rs")
    assert(nt >= ns, s"trained reranked nDCG@10 $nt fell below sampled $ns")
    assert(rt >= 0.9, s"trained reranked recall@10 $rt below 0.9 on clustered data")
    // the trained artifact carries its training fingerprint and serves
    // the SAME frozen lifecycle: append against the frozen trained
    // book, then compaction, probe-invisibly
    val meta = graft.sources.IndexMeta.read(spark, s"$trainedDir/meta.json", "PQ index")
    assert(meta("trained") === 1L && meta("iters") === 5L)
    val twin = corpus.filter($"vec_id" === 0L)
      .select(($"vec_id" + 5000L).as("vec_id"), $"embedding")
    Similarity.appendToPqIndex(twin, trainedDir)
    // identical embedding + frozen trained book ⇒ identical codes
    val codesOf = spark.read.parquet(s"$trainedDir/codes")
      .filter($"vec_id".isin(0L, 5000L))
      .as[(Long, Seq[Long])].collect().toMap
    assert(codesOf(5000L) === codesOf(0L),
      "twin appended against the frozen trained book must share its original's codes")
    val before = Similarity.pqTopKIndexed(spark, trainedDir, probes, 5)
      .as[(Long, Long, Double, Long)].collect().toSet
    Similarity.compactPqIndex(spark, trainedDir)
    val after = Similarity.pqTopKIndexed(spark, trainedDir, probes, 5)
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(after === before, "compaction changed trained-index probe results")
  }

  test("PQ index meta guard: unbuilt probe/append/compact fail loudly") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pqmeta").toString + "/idx"
    intercept[IllegalArgumentException] {
      Similarity.pqTopKIndexed(spark, dir, corpus.filter($"vec_id" < 2), 3)
    }
    intercept[IllegalArgumentException] {
      Similarity.appendToPqIndex(corpus.filter($"vec_id" < 2), dir)
    }
    intercept[IllegalArgumentException] { Similarity.compactPqIndex(spark, dir) }
  }

  test("randomProject: JL distance preservation in the median, linearity, layout independence") {
    val rng = new scala.util.Random(7)
    val vecs = Seq.tabulate(40)(i =>
      (i.toLong, Seq.fill(64)(rng.nextGaussian().toFloat)))
    val df = emb(vecs: _*)
    val proj = Similarity.randomProject(df, outDim = 16)
      .as[(Long, Seq[Double])].collect().toMap
    val orig = vecs.toMap.view.mapValues(_.map(_.toDouble)).toMap
    def d2(a: Seq[Double], b: Seq[Double]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val distortions = for {
      i <- 0L until 20L; j <- (i + 1) until 20L
    } yield d2(proj(i), proj(j)) / d2(orig(i), orig(j))
    val sorted = distortions.sorted
    val median = sorted(sorted.size / 2)
    assert(median > 0.6 && median < 1.6,
      s"median squared-distance ratio $median outside the JL ballpark")
    // linearity: proj(a) + proj(b) ≈ proj(a + b) (pure linear map)
    val sumVec = emb((999L, vecs(0)._2.zip(vecs(1)._2).map { case (x, y) => x + y }))
    val pSum = Similarity.randomProject(sumVec, outDim = 16)
      .as[(Long, Seq[Double])].head()._2
    val manual = proj(0L).zip(proj(1L)).map { case (x, y) => x + y }
    assert(pSum.zip(manual).forall { case (a, b) => math.abs(a - b) < 1e-5 })
    // layout independence: repartitioning changes nothing
    val again = Similarity.randomProject(df.repartition(7), outDim = 16)
      .as[(Long, Seq[Double])].collect().toMap
    assert(again === proj)
  }
}
