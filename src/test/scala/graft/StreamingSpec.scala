package graft

import graft.streaming.IncrementalIngest
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.Files

/** Structured Streaming incremental ingest: AvailableNow drain of a raw
  * JSON zone with keyed dedup + merge, exactly-once across restarts.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("symbol", StringType), StructField("trade_date", StringType),
    StructField("close", DoubleType)))

  test("availableNow drain → dedup → merge; second drain is incremental") {
    val root = Files.createTempDirectory("graft-stream").toString
    val raw = s"$root/raw"; val target = s"$root/hist"; val ckpt = s"$root/ckpt"
    new java.io.File(raw).mkdirs()

    def land(name: String, lines: Seq[String]): Unit =
      Files.write(java.nio.file.Paths.get(s"$raw/$name"),
        lines.mkString("\n").getBytes)

    land("b1.json", Seq(
      """{"symbol":"AAPL","trade_date":"2024-01-05","close":101.5}""",
      """{"symbol":"AAPL","trade_date":"2024-01-05","close":101.5}""", // dup in batch
      """{"symbol":"MSFT","trade_date":"2024-01-05","close":402.0}"""))
    val q1 = IncrementalIngest.run(spark, raw, schema, target, ckpt,
      Seq("symbol", "trade_date"))
    q1.awaitTermination()
    val after1 = spark.read.parquet(target)
    assert(after1.count() === 2, "in-batch dup collapsed")

    // second landing: one update (AAPL revised) + one new symbol
    land("b2.json", Seq(
      """{"symbol":"AAPL","trade_date":"2024-01-05","close":105.0}""",
      """{"symbol":"GOOG","trade_date":"2024-01-05","close":155.0}"""))
    val q2 = IncrementalIngest.run(spark, raw, schema, target, ckpt,
      Seq("symbol", "trade_date"))
    q2.awaitTermination()
    val rows = spark.read.parquet(target)
      .as[(String, String, Double)].collect()
      .map { case (s, d, c) => ((s, d), c) }.toMap
    assert(rows.size === 3)
    assert(rows(("AAPL", "2024-01-05")) === 105.0, "DO-UPDATE applied incrementally")
    assert(rows(("MSFT", "2024-01-05")) === 402.0, "untouched row preserved")
  }

  test("near-dup ingest service: probe index, reject dups, grow index; replay is idempotent") {
    import graft.operators.Dedup
    import graft.streaming.StreamingDedup
    val root = Files.createTempDirectory("graft-ndingest").toString
    val raw = s"$root/raw"; val idx = s"$root/idx"
    val acc = s"$root/accepted"; val rej = s"$root/rejected"
    new java.io.File(raw).mkdirs()
    def words(seed: Int) = (1 to 30).map(i => s"s${seed}t$i").mkString(" ")
    // seed corpus: docs 1, 2 already in the index
    Dedup.buildLshIndex(
      Seq((1L, words(1)), (2L, words(2))).toDF("doc_id", "text"), idx)
    // duplicate-group state, seeded EMPTY: the ingest folds each
    // batch's verified edges into it (work ∝ batch, no global CC)
    val ccState = s"$root/ccstate"
    Dedup.buildComponentState(Seq.empty[(Long, Long)].toDF("doc_a", "doc_b"), ccState)

    def land(name: String, rows: Seq[(Long, String)]): Unit =
      Files.write(java.nio.file.Paths.get(s"$raw/$name"),
        rows.map { case (id, t) => s"""{"doc_id":$id,"text":"$t"}""" }
          .mkString("\n").getBytes)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))

    // drain 1: 10 = near-dup of corpus doc 2, 11/12 = within-batch
    // near-dups of each other (min id 11 wins), 13 = fresh
    land("d1.json", Seq(
      10L -> words(2).replace("s2t15", "zz"),
      11L -> words(11), 12L -> words(11).replace("s11t7", "qq"),
      13L -> words(13)))
    def drain(): Unit = {
      val docs = spark.readStream.schema(schema).json(raw)
      val q = StreamingDedup.nearDupIngest(docs, idx, acc, rej, s"$root/ckpt",
        groupStatePath = Some(ccState))
      q.awaitTermination()
    }
    drain()
    val acc1 = spark.read.parquet(acc).select("doc_id").as[Long].collect().toSet
    val rej1 = spark.read.parquet(rej)
      .select("doc_id", "matched_id", "via").as[(Long, Long, String)].collect().toSet
    assert(acc1 === Set(11L, 13L))
    assert(rej1 === Set((10L, 2L, "index"), (12L, 11L, "batch")))

    // drain 2: 20 duplicates doc 11 — accepted only via the APPENDED
    // index entry from drain 1 — and 21 is fresh
    land("d2.json", Seq(20L -> words(11), 21L -> words(21)))
    drain()
    val acc2 = spark.read.parquet(acc).select("doc_id").as[Long].collect().toSet
    val rej2 = spark.read.parquet(rej)
      .select("doc_id", "matched_id").as[(Long, Long)].collect().toSet
    assert(acc2 === Set(11L, 13L, 21L))
    assert(rej2.contains((20L, 11L)), "dup of a drain-1-accepted doc must be caught")

    // replay: re-running a batch id must not duplicate sink rows or
    // index entries (foreachBatch is at-least-once)
    val replay = spark.read.schema(schema).json(s"$raw/d2.json")
    StreamingDedup.ingestNearDupBatch(replay, batchId = 1L, idx, acc, rej)
    val accR = spark.read.parquet(acc).select("doc_id").as[Long].collect().toSeq
    assert(accR.sorted === Seq(11L, 13L, 21L), "replayed batch duplicated accepted rows")
    val probe = Dedup.minhashIncrementalIndexed(
        Seq((30L, words(21))).toDF("doc_id", "text"), idx)
      .select("doc_id", "corpus_id").as[(Long, Long)].collect()
    assert(probe.toSeq === Seq((30L, 21L)), "replay duplicated index entries")

    // replay of the batch that held the WITHIN-batch dup pair (11/12):
    // keeper 11 is in the index now, so without the batch-id exclusion
    // the replay would gain a (12, 11, "index") row beside the original
    // (12, 11, "batch") — the sinks must be BYTE-idempotent per batch,
    // not merely idempotent on ids
    val rejBefore = spark.read.parquet(rej).collect().toSet
    val replay1 = spark.read.schema(schema).json(s"$raw/d1.json")
    StreamingDedup.ingestNearDupBatch(replay1, batchId = 0L, idx, acc, rej,
      groupStatePath = Some(ccState))
    val rejAfter = spark.read.parquet(rej).collect().toSet
    assert(rejAfter === rejBefore, "replayed rejected partition must be row-identical")

    // duplicate-group state: the per-batch edge folds (incl. the two
    // replays above, which must no-op) leave EXACTLY the components a
    // global CC over every flagged pair would compute
    val allPairs = spark.read.parquet(rej)
      .filter($"via" =!= "id_collision")
      .select($"doc_id".as("doc_a"), $"matched_id".as("doc_b"))
    val expected = Dedup.connectedComponents(allPairs)
      .as[(Long, Long)].collect().toSet
    val got = Dedup.readComponentState(spark, ccState)
      .as[(Long, Long)].collect().toSet
    assert(got === expected,
      "incremental group state diverged from the full-recompute components")
  }

  test("id collision: reused indexed doc_id with different text is audited, not accepted") {
    import graft.operators.Dedup
    import graft.streaming.StreamingDedup
    val root = Files.createTempDirectory("graft-ndcoll").toString
    val idx = s"$root/idx"; val acc = s"$root/acc"; val rej = s"$root/rej"
    def words(seed: Int) = (1 to 30).map(i => s"c${seed}w$i").mkString(" ")
    Dedup.buildLshIndex(Seq((1L, words(1))).toDF("doc_id", "text"), idx)
    // doc_id 1 arrives again with DIFFERENT content: accepting it would
    // leave a doc in the corpus sink that the index can never match
    // (the append anti-joins its id out) — it must be audited instead
    val batch = Seq((1L, words(99)), (2L, words(2))).toDF("doc_id", "text")
    StreamingDedup.ingestNearDupBatch(batch, batchId = 0L, idx, acc, rej)
    assert(spark.read.parquet(acc).select("doc_id").as[Long].collect().toSet === Set(2L))
    val rejRows = spark.read.parquet(rej)
      .select("doc_id", "via").as[(Long, String)].collect().toSet
    assert(rejRows === Set((1L, "id_collision")))
    // the index still answers for the ORIGINAL content of id 1, and
    // was not polluted with the colliding batch doc
    val p = Dedup.minhashIncrementalIndexed(
        Seq((50L, words(1)), (51L, words(99))).toDF("doc_id", "text"), idx)
      .select("doc_id", "corpus_id").as[(Long, Long)].collect().toSet
    assert(p === Set((50L, 1L)))
    // a REPLAYED batch doc (same id, same content) is NOT a collision
    StreamingDedup.ingestNearDupBatch(
      Seq((2L, words(2))).toDF("doc_id", "text"), batchId = 1L, idx, acc, rej)
    assert(spark.read.parquet(rej).filter($"via" === "id_collision").count() === 1L,
      "an identical replayed doc must not be flagged as a collision")
  }

  test("streaming vector ingest: micro-batches append to the IVF index; replay is a no-op") {
    import graft.operators.Similarity
    import graft.streaming.StreamingVectors
    val root = Files.createTempDirectory("graft-vecingest").toString
    val raw = s"$root/raw"; val idx = s"$root/idx"; val sink = s"$root/vectors"
    new java.io.File(raw).mkdirs()
    val rng = new scala.util.Random(5)
    def vec() = Seq.fill(8)(rng.nextGaussian().toFloat)
    // seed corpus trains the centroids; the stream appends against them
    val seed = (0L until 16L).map(i => (i, vec()))
    Similarity.buildIvfIndex(seed.toDF("vec_id", "embedding"), idx, nCells = 4)
    // PQ + IVFPQ tiers fed by the same stream (nSub=1: the fixture's
    // 8-dim vectors fit one subspace; dim handling is SimilaritySpec's
    // job)
    val pqIdx = s"$root/pqidx"
    Similarity.buildPqIndex(seed.toDF("vec_id", "embedding"), pqIdx,
      nCentroids = 8, nSub = 1)
    val ivfPqIdx = s"$root/ivfpqidx"
    Similarity.buildIvfPqIndex(seed.toDF("vec_id", "embedding"), ivfPqIdx,
      nCells = 4, nCentroids = 8, nSub = 1)

    def land(name: String, rows: Seq[(Long, Seq[Float])]): Unit =
      Files.write(java.nio.file.Paths.get(s"$raw/$name"),
        rows.map { case (id, v) =>
          s"""{"vec_id":$id,"embedding":[${v.mkString(",")}]}"""
        }.mkString("\n").getBytes)
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    def drain(): Unit = {
      val q = StreamingVectors.vectorIngest(
        spark.readStream.schema(schema).json(raw), idx, sink, s"$root/ckpt",
        pqIndexPath = Some(pqIdx), ivfPqIndexPath = Some(ivfPqIdx))
      q.awaitTermination()
    }

    // drain 1: 5 vectors, one duplicated vec_id within the batch
    val dupVec = vec()
    land("v1.json", Seq(100L -> vec(), 101L -> vec(), 102L -> vec(),
      103L -> dupVec, 103L -> dupVec))
    drain()
    // tables are read through the version each index serves
    def served(dir: String) = graft.sources.VersionedRoot.resolve(spark, dir, "t").get
    val inv = () => spark.read.parquet(s"${served(idx)}/inverted")
    assert(inv().count() === 20L, "16 seed + 4 distinct ingested")
    assert(inv().filter($"vec_id" === 103L).count() === 1L,
      "within-batch duplicate vec_id must collapse to one index row")

    // drain 2 is incremental (checkpointed offsets): only the new file
    val probeVec = vec()
    land("v2.json", Seq(200L -> probeVec, 201L -> vec()))
    drain()
    assert(inv().count() === 22L)
    // an ingested vector is immediately probe-visible: a near-copy of
    // 200's embedding must find 200 first
    val got = Similarity.ivfTopKIndexed(spark, idx,
        Seq((999L, probeVec.map(x => x * 1.0001f))).toDF("vec_id", "embedding"),
        k = 1, nProbe = 4)
      .select("n_id").as[Long].collect()
    assert(got.toSeq === Seq(200L))

    // the PQ tier saw the same stream: every distinct id coded exactly
    // once (one per-vector-atomic code row), 16 seed + 6 ingested
    val codes = () => spark.read.parquet(s"$pqIdx/codes")
    assert(codes().count() === 22L, "PQ codes must cover seed + both drains once")
    assert(codes().filter($"vec_id" === 103L).count() === 1L)
    // ...and so did the composed IVFPQ tier, cell-partitioned
    val ivfPqCodes = () => spark.read.parquet(s"${served(ivfPqIdx)}/codes")
    assert(ivfPqCodes().count() === 22L, "IVFPQ codes must cover seed + both drains once")
    assert(ivfPqCodes().filter($"vec_id" === 103L).count() === 1L)

    // replay of batch 1 (foreachBatch is at-least-once): sink partition
    // overwritten in place, every index append a no-op
    val replay = spark.read.schema(schema).json(s"$raw/v2.json")
    StreamingVectors.ingestVectorBatch(replay, batchId = 1L, idx, sink,
      pqIndexPath = Some(pqIdx), ivfPqIndexPath = Some(ivfPqIdx))
    assert(inv().count() === 22L, "replayed append duplicated index rows")
    assert(codes().count() === 22L, "replayed append duplicated PQ code rows")
    assert(ivfPqCodes().count() === 22L, "replayed append duplicated IVFPQ code rows")
    assert(spark.read.parquet(sink).count() === 6L,
      "replayed sink partition duplicated vector rows")
  }

  test("streaming postings ingest: micro-batches fold into the inverted index ≡ batch rebuild, replay no-op") {
    import graft.operators.KeywordSearch
    import graft.streaming.StreamingPostings
    val root = Files.createTempDirectory("graft-postingest").toString
    val raw = s"$root/raw"; val idx = s"$root/idx"; val sink = s"$root/docs"
    new java.io.File(raw).mkdirs()
    val seed = Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (1L, "pack my box with five dozen liquor jugs"),
      (2L, "sphinx of black quartz judge my vow"),
      (3L, ""))
    KeywordSearch.buildInvertedIndex(seed.toDF("doc_id", "text"), idx, termBuckets = 8)
    def land(name: String, rows: Seq[(Long, String)]): Unit =
      Files.write(java.nio.file.Paths.get(s"$raw/$name"),
        rows.map { case (id, t) => s"""{"doc_id":$id,"text":"$t"}""" }
          .mkString("\n").getBytes)
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    def drain(): Unit = {
      val q = StreamingPostings.docIngest(
        spark.readStream.schema(docSchema).json(raw), idx, sink, s"$root/ckpt")
      q.awaitTermination()
    }
    // drain 1: 3 docs, one duplicated doc_id within the batch
    val b1 = Seq((10L, "the fox and the quick cat"), (11L, "judge my dozen dogs"),
      (12L, "brown quartz jugs"), (12L, "brown quartz jugs"))
    land("d1.json", b1)
    drain()
    // drain 2 is incremental (checkpointed offsets): only the new file
    val b2 = Seq((20L, "lazy sphinx packs a black box"), (21L, "vow of the quick judge"))
    land("d2.json", b2)
    drain()
    // STREAMING-MAINTAINED ≡ BATCH REBUILD, row-identically, all three
    // tables — the incremental-equals-rebuild contract of the family
    val allDocs = (seed ++ b1.distinct ++ b2).toDF("doc_id", "text")
    val rebuilt = s"$root/rebuilt"
    KeywordSearch.buildInvertedIndex(allDocs, rebuilt, termBuckets = 8)
    def postings(p: String) = spark.read.parquet(s"$p/postings")
      .select("doc_id", "dl", "term", "tf", "tb")
      .as[(Long, Int, String, Long, Int)].collect().toSet
    def dfreq(p: String) = spark.read.parquet(s"$p/dfreq")
      .select("term", "tb", "dfr").as[(String, Int, Long)].collect().toSet
    def stats(p: String) = spark.read.parquet(s"$p/stats")
      .select("n_docs", "avgdl", "term_buckets").as[(Long, Double, Int)].collect().head
    def docIds(p: String) = spark.read.parquet(s"$p/docs")
      .as[Long].collect().sorted.toSeq
    assert(postings(idx) === postings(rebuilt), "postings diverged from a batch rebuild")
    assert(dfreq(idx) === dfreq(rebuilt), "dfreq diverged from a batch rebuild")
    assert(stats(idx) === stats(rebuilt), "stats (incl. exact avgdl) diverged")
    assert(docIds(idx) === docIds(rebuilt),
      "doc_id side table (the replay anti-join's read) diverged — no dup ids, none missing")
    // probe parity off the streamed index
    val q1 = KeywordSearch.bm25TopKIndexed(spark, idx, Seq("quick", "judge"), 5)
      .as[(Long, Double)].collect().toSeq
    val q2 = KeywordSearch.bm25TopKIndexed(spark, rebuilt, Seq("quick", "judge"), 5)
      .as[(Long, Double)].collect().toSeq
    assert(q1 === q2, "BM25 scores off the streamed index diverged")
    // replay of batch 1 (foreachBatch is at-least-once): sink partition
    // overwritten in place, the index fold a no-op
    StreamingPostings.ingestDocBatch(
      spark.read.schema(docSchema).json(s"$raw/d1.json"), batchId = 0L, idx, sink)
    assert(postings(idx) === postings(rebuilt), "replayed batch changed the postings")
    assert(stats(idx) === stats(rebuilt), "replayed batch changed the stats")
    assert(spark.read.parquet(sink).count() === 5L,
      "replayed sink partition duplicated doc rows")
    // crash window: a marker with complete staging rolls FORWARD on the
    // next ingest; a reader meanwhile fails loudly instead of serving a
    // mid-promote mix
    val b3 = Seq((30L, "a fresh judge vows quartz"))
    KeywordSearch.ingestIntoInvertedIndex(b3.toDF("doc_id", "text"), idx)
    // re-plan b3's commit by hand: simulate the crash point where every
    // step has applied but the marker is still live — recovery must be
    // a no-op for already-promoted content (idempotent apply), so
    // re-running an ingest of ALREADY indexed docs with a stale marker
    // present heals cleanly
    import graft.sources.StagedCommit.{Drop, MoveIn, Replace}
    val tbs = new java.io.File(s"$idx/postings").list().filter(_.startsWith("tb=")).sorted
    graft.sources.StagedCommit.plan(
      org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration),
      new org.apache.hadoop.fs.Path(s"$idx/commit.plan"),
      tbs.toSeq.map(tb => MoveIn(s"postings__staged/$tb", s"postings/$tb")) ++ Seq(
        MoveIn("docs__staged", "docs"), Replace("dfreq__staged", "dfreq"),
        Replace("stats__staged", "stats"), Drop("postings__staged"), Drop("docs__staged")))
    val e = intercept[IllegalArgumentException] {
      KeywordSearch.bm25TopKIndexed(spark, idx, Seq("quick"), 3).collect()
    }
    assert(e.getMessage.contains("unfinished ingest commit"), e.getMessage)
    KeywordSearch.ingestIntoInvertedIndex(b3.toDF("doc_id", "text"), idx) // recover + no-op
    val withB3 = s"$root/rebuilt3"
    KeywordSearch.buildInvertedIndex(allDocs.unionByName(b3.toDF("doc_id", "text")), withB3,
      termBuckets = 8)
    assert(postings(idx) === postings(withB3), "post-recovery postings diverged")
    assert(stats(idx) === stats(withB3), "post-recovery stats diverged")
    assert(docIds(idx) === docIds(withB3), "post-recovery doc_id side table diverged")
  }

  test("streaming CMS ingest: batch folds ≡ one-shot sketch, replay overwrites in place") {
    import graft.operators.Profile
    import graft.streaming.StreamingSketch
    val root = Files.createTempDirectory("graft-cmsingest").toString
    val raw = s"$root/raw"; val art = s"$root/cms"
    new java.io.File(raw).mkdirs()
    Profile.initCmsArtifact(spark, art, depth = 4, width = 1024)
    def land(name: String, rows: Seq[(Long, String)]): Unit =
      Files.write(java.nio.file.Paths.get(s"$raw/$name"),
        rows.map { case (id, t) => s"""{"doc_id":$id,"text":"$t"}""" }
          .mkString("\n").getBytes)
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    def drain(): Unit = {
      val q = StreamingSketch.tokenFrequencyIngest(
        spark.readStream.schema(docSchema).json(raw), art, s"$root/ckpt")
      q.awaitTermination()
    }
    val b1 = Seq((1L, "the quick brown fox the fox"), (2L, "quick quick jumps"))
    val b2 = Seq((3L, "fox brown fox over the lazy dog"))
    land("c1.json", b1); drain()
    land("c2.json", b2); drain()
    // streamed artifact ≡ the one-shot sketch over the union corpus
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Int, Int, Long)].collect().toSet
    val allToks = (b1 ++ b2).toDF("doc_id", "text")
      .select(explode(graft.functions.TextStats.tokens($"text")).as("tok"))
    val oneShot = Profile.countMinSketch(allToks, "tok", depth = 4, width = 1024)
    assert(rows(Profile.readCmsArtifact(spark, art)) === rows(oneShot),
      "streamed artifact diverged from the one-shot sketch")
    // at-least-once replay: re-delivering batch 0 overwrites its own
    // partition byte-identically — counts do NOT double
    StreamingSketch.ingestTokenBatch(b1.toDF("doc_id", "text"), batchId = 0L, art)
    assert(rows(Profile.readCmsArtifact(spark, art)) === rows(oneShot),
      "replayed batch changed the artifact")
    // estimates off the artifact are exact here (width ≫ vocab)
    val est = Profile.cmsArtifactLookup(spark, art,
      Seq("fox", "quick", "the", "zzz").toDF("tok"), "tok")
      .as[(String, Long)].collect().toMap
    assert(est === Map("fox" -> 4L, "quick" -> 3L, "the" -> 3L, "zzz" -> 0L))
    // a fold with no meta (uninitialized artifact) fails loudly
    intercept[IllegalArgumentException] {
      StreamingSketch.ingestTokenBatch(b1.toDF("doc_id", "text"), 0L, s"$root/nope")
    }
  }

  test("streaming HLL profile ingest: per-batch sketches serve union distincts, replay exact no-op") {
    import graft.operators.Profile
    import graft.streaming.StreamingSketch
    val root = Files.createTempDirectory("graft-profingest").toString
    val raw = s"$root/raw"; val art = s"$root/prof"
    new java.io.File(raw).mkdirs()
    Profile.initProfileArtifact(spark, art, lgConfigK = 12)
    def land(name: String, rows: Seq[(String, String)]): Unit =
      Files.write(java.nio.file.Paths.get(s"$raw/$name"),
        rows.map { case (g, k) => s"""{"g":"$g","k":"$k"}""" }
          .mkString("\n").getBytes)
    val schema = StructType(Seq(
      StructField("g", StringType), StructField("k", StringType)))
    def drain(): Unit = {
      val q = StreamingSketch.distinctProfileIngest(
        spark.readStream.schema(schema).json(raw), "g", "k", art, s"$root/ckpt")
      q.awaitTermination()
    }
    // batch 1: 40 distinct keys in g1, 3 in g2; batch 2 re-delivers
    // half of g1 (cross-batch overlap: max-fold counts them once) and
    // adds 10 fresh ones
    val b1 = (0 until 40).map(i => ("g1", s"k$i")) ++
      Seq(("g2", "a"), ("g2", "b"), ("g2", "c"))
    val b2 = (20 until 50).map(i => ("g1", s"k$i"))
    land("c1.json", b1); drain()
    land("c2.json", b2); drain()
    def served: Map[String, Long] =
      Profile.readProfileArtifact(spark, art).as[(String, Long)].collect().toMap
    val est = served
    val exact = Map("g1" -> 50L, "g2" -> 3L)
    exact.foreach { case (g, n) =>
      assert(math.abs(est(g) - n) <= math.max(1, (n * 0.06).toLong),
        s"estimate for $g out of bound: ${est(g)} vs $n")
    }
    // at-least-once replay of batch 0 lands on its own partition
    // byte-identically: the artifact is EXACTLY unchanged
    Profile.profileIngestShard(b1.toDF("g", "k"), "g", "k", art, 0L)
    assert(served === est, "replayed batch changed the artifact")
  }

  test("streaming quantile ingest: folded log-histogram ≡ one-shot over the union, replay no-op") {
    import graft.operators.Profile
    import graft.streaming.StreamingSketch
    val root = Files.createTempDirectory("graft-quantingest").toString
    val raw = s"$root/raw"; val art = s"$root/quant"
    new java.io.File(raw).mkdirs()
    Profile.initQuantileArtifact(spark, art, mbits = 6)
    def land(name: String, rows: Seq[(String, Long)]): Unit =
      Files.write(java.nio.file.Paths.get(s"$raw/$name"),
        rows.map { case (g, v) => s"""{"g":"$g","v":$v}""" }
          .mkString("\n").getBytes)
    val schema = StructType(Seq(
      StructField("g", StringType), StructField("v", LongType)))
    def drain(): Unit = {
      val q = StreamingSketch.quantileProfileIngest(
        spark.readStream.schema(schema).json(raw), "g", "v", art, s"$root/ckpt")
      q.awaitTermination()
    }
    val b1 = (1L to 60L).map(i => ("g1", i * 13 % 200)) ++ Seq(("g2", 5L))
    val b2 = (1L to 40L).map(i => ("g1", 500L + i * 97)) ++ Seq(("g2", 7L))
    land("c1.json", b1); drain()
    land("c2.json", b2); drain()
    def buckets: Seq[(String, Int, Long, Long)] =
      Profile.readQuantileArtifact(spark, art)
        .as[(String, Int, Long, Long)].collect().sorted.toSeq
    val served = buckets
    val oneShot = Profile.logHistogram(
        (b1 ++ b2).toDF("g", "v"), "g", "v", mbits = 6)
      .as[(String, Int, Long, Long)].collect().sorted.toSeq
    assert(served === oneShot, "streamed fold diverged from one-shot build")
    // at-least-once replay of batch 0: byte-identical no-op
    Profile.quantileIngestBatch(b1.toDF("g", "v"), "g", "v", art, 0L)
    assert(buckets === served, "replayed batch changed the artifact")
    // a fold against an uninitialized artifact fails loudly
    intercept[IllegalArgumentException] {
      Profile.quantileIngestBatch(b1.toDF("g", "v"), "g", "v", s"$root/nope", 0L)
    }
  }

  test("streaming drift monitor: first batch silent, identical batch stable, octave-shifted batch alarms, replay no-op") {
    import graft.operators.Profile
    import graft.streaming.StreamingDrift
    val root = Files.createTempDirectory("graft-driftmon").toString
    val raw = s"$root/raw"; val art = s"$root/quant"; val alarms = s"$root/alarms"
    new java.io.File(raw).mkdirs()
    Profile.initQuantileArtifact(spark, art, mbits = 6)
    def land(name: String, rows: Seq[(String, Long)]): Unit =
      Files.write(java.nio.file.Paths.get(s"$raw/$name"),
        rows.map { case (g, v) => s"""{"g":"$g","v":$v}""" }
          .mkString("\n").getBytes)
    val schema = StructType(Seq(
      StructField("g", StringType), StructField("v", LongType)))
    def drain(): Unit = {
      val q = StreamingDrift.quantileDriftMonitor(
        spark.readStream.schema(schema).json(raw), "g", "v",
        art, alarms, s"$root/ckpt")
      q.awaitTermination()
    }
    val base = (1L to 60L).map(i => ("g1", i * 13 % 200 + 1))
    land("c1.json", base); drain()          // batch 0: nothing to compare
    land("c2.json", base); drain()          // batch 1: identical dist
    land("c3.json", base.map { case (g, v) => (g, v * 16) }); drain() // batch 2: 4 octaves up
    def alarmRows: Map[Long, (Double, String)] =
      StreamingDrift.readDriftAlarms(spark, alarms)
        .as[(Long, String, Double, String)].collect()
        .map { case (b, _, psi, st) => b -> (psi, st) }.toMap
    val got = alarmRows
    assert(!got.contains(0L), "first batch must not alarm — nothing to compare")
    assert(got(1L)._1 === 0.0 && got(1L)._2 === "stable",
      s"identical batch must be exactly stable: ${got(1L)}")
    assert(got(2L)._1 > 0.25 && got(2L)._2 === "shifted",
      s"octave shift must alarm shifted: ${got(2L)}")
    // replay of a fully-processed batch: alarm kept verbatim (a
    // recompute against the now-folded artifact would be WRONG),
    // artifact fingerprint-skips — both byte-stable
    val artBefore = Profile.readQuantileArtifact(spark, art)
      .as[(String, Int, Long, Long)].collect().sorted.toSeq
    StreamingDrift.processBatch(base.toDF("g", "v"), 1L, "g", "v", art, alarms)
    assert(alarmRows === got, "replay changed the alarm log")
    assert(Profile.readQuantileArtifact(spark, art)
      .as[(String, Int, Long, Long)].collect().sorted.toSeq === artBefore,
      "replay changed the artifact")
    // replay of batch 0 — which correctly has NO alarm (prior was
    // empty when it ran) — must not fabricate one now that the
    // artifact is non-empty: the fold gate skips the re-judgement
    StreamingDrift.processBatch(base.toDF("g", "v"), 0L, "g", "v", art, alarms)
    assert(alarmRows === got, "batch-0 replay fabricated an alarm")
    // a batch missing every group the artifact holds (only a brand-new
    // group arrives): absence is not drift — g1 gets NO alarm row at
    // this batch (and the new group has no prior to be judged against)
    StreamingDrift.processBatch(
      Seq(("gNew", 7L), ("gNew", 9L)).toDF("g", "v"), 9L, "g", "v", art, alarms)
    assert(StreamingDrift.readDriftAlarms(spark, alarms)
      .filter($"b" === 9L).count() === 0L,
      "absent/new groups fabricated alarm rows")
  }

  test("streaming additive agg ingest: the materialized view is EXACT over the union, replay no-op") {
    import graft.operators.Profile
    import graft.streaming.StreamingSketch
    val root = Files.createTempDirectory("graft-aggingest").toString
    val raw = s"$root/raw"; val art = s"$root/agg"
    new java.io.File(raw).mkdirs()
    Profile.initAggArtifact(spark, art, "g", "v")
    def land(name: String, rows: Seq[(String, Long)]): Unit =
      Files.write(java.nio.file.Paths.get(s"$raw/$name"),
        rows.map { case (g, v) => s"""{"g":"$g","v":$v}""" }
          .mkString("\n").getBytes)
    val schema = StructType(Seq(
      StructField("g", StringType), StructField("v", LongType)))
    def drain(): Unit = {
      val q = StreamingSketch.additiveAggIngest(
        spark.readStream.schema(schema).json(raw), "g", "v", art, s"$root/ckpt")
      q.awaitTermination()
    }
    val b1 = Seq(("g1", 10L), ("g1", 20L), ("g2", 5L))
    val b2 = Seq(("g1", 3L), ("g2", 7L), ("g3", 100L))
    land("c1.json", b1); drain()
    land("c2.json", b2); drain()
    def served: Set[(String, Long, Long)] =
      Profile.readAggArtifact(spark, art).as[(String, Long, Long)].collect().toSet
    val expect = Set(("g1", 3L, 33L), ("g2", 2L, 12L), ("g3", 1L, 100L))
    assert(served === expect, "streamed materialized view diverged from exact")
    // at-least-once replay of batch 0: byte-identical no-op
    Profile.aggIngestBatch(b1.toDF("g", "v"), "g", "v", art, 0L)
    assert(served === expect, "replayed batch changed the view")
  }

  test("mapGroupsWithState running EMA carries recursion across micro-batches") {
    import graft.streaming.StatefulIndicators
    import graft.streaming.StatefulIndicators.{EmaOut, Tick}
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._

    val input = MemoryStream[Tick]
    val q = StatefulIndicators.runningEma(input.toDS(), span = 3)
      .writeStream.format("memory").queryName("ema_out")
      .outputMode(OutputMode.Update()).start()
    try {
      // batch 1: user 1 sees 10, 20  → ema = 20*0.5 + 10*0.5 = 15
      input.addData(Tick(1L, 1L, 10.0), Tick(1L, 2L, 20.0))
      q.processAllAvailable()
      val b1 = spark.table("ema_out").as[EmaOut].collect().last
      assert(b1.ema === 15.0 && b1.n_seen === 2)

      // batch 2: user 1 sees 30 → ema = 30*0.5 + 15*0.5 = 22.5
      // (state carried: a fresh fold would seed at 30)
      input.addData(Tick(1L, 3L, 30.0))
      q.processAllAvailable()
      val b2 = spark.table("ema_out").as[EmaOut].collect().last
      assert(b2.ema === 22.5 && b2.n_seen === 1 && b2.lastTs === 3L)
    } finally q.stop()
  }

  test("flatMapGroupsWithState sessionization closes sessions on gap, across batches") {
    import graft.streaming.Sessionizer
    import graft.streaming.Sessionizer.{Click, SessionOut}
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._

    val input = MemoryStream[Click]
    val q = Sessionizer.sessions(input.toDS(), gapSec = 1800)
      .writeStream.format("memory").queryName("sess_out")
      .outputMode(OutputMode.Append()).start()
    try {
      // batch 1: user 1 two close events, user 2 one — all still open
      input.addData(Click(1L, 0L), Click(1L, 100L), Click(2L, 50L))
      q.processAllAvailable()
      assert(spark.table("sess_out").count() === 0, "open sessions must not emit")

      // batch 2: user 1 jumps past the gap → the 0..100 session closes
      // (2 events, session_id = its start sec 0) and a new one opens;
      // user 2 stays within gap → nothing
      input.addData(Click(1L, 5000L), Click(2L, 1000L))
      q.processAllAvailable()
      val closed = spark.table("sess_out").as[SessionOut].collect()
      assert(closed.toSeq === Seq(SessionOut(1L, 0L, 2L, 0L, 100L)))

      // batch 3: another gap jump for user 1 → the session that started
      // at 5000 closes, session_id = 5000 (start-sec ids stay unique
      // per user with no counter state)
      input.addData(Click(1L, 10000L))
      q.processAllAvailable()
      val after = spark.table("sess_out").as[SessionOut].collect()
        .sortBy(s => (s.user_id, s.session_id))
      assert(after.toSeq === Seq(
        SessionOut(1L, 0L, 2L, 0L, 100L), SessionOut(1L, 5000L, 1L, 5000L, 5000L)))
      // user 2's session is still open: state bounded at one row per key
    } finally q.stop()
  }

  test("closeQuiet timeout close removes state; start-sec ids stay unique") {
    import graft.streaming.Sessionizer
    import graft.streaming.Sessionizer.{Click, OpenSession}
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    import org.apache.spark.api.java.Optional

    def st(s: Option[OpenSession], timedOut: Boolean) = TestGroupState.create[OpenSession](
      Optional.fromNullable(s.orNull),
      GroupStateTimeout.ProcessingTimeTimeout(), 1000000L,
      Optional.empty[Long](), timedOut)
    val fn = Sessionizer.updateSessions(gapSec = 1800, closeQuiet = true) _

    // a session starting at 100 is open, the key goes quiet → timeout
    // emits it with session_id = its start sec and DROPS the state row
    // (no tombstone: state is bounded by concurrently-active keys)
    val s3 = st(Some(OpenSession(100L, 200L, 2L)), timedOut = true)
    val closed = fn(1L, Iterator.empty, s3).toSeq
    assert(closed === Seq(Sessionizer.SessionOut(1L, 100L, 2L, 100L, 200L)))
    assert(s3.isRemoved, "timeout close must drop the state row")

    // the user's next click starts a fresh session from empty state;
    // its id 9000 ≠ 100 — (user, session_id) unique without a counter
    val s4 = st(None, timedOut = false)
    val out = fn(1L, Iterator(Click(1L, 9000L)), s4).toSeq
    assert(out.isEmpty && s4.get === OpenSession(9000L, 9000L, 1L))
    assert(s4.getTimeoutTimestampMs.isPresent, "timeout re-armed for the live session")
  }

  test("churning key space: N keys through timeout leave ZERO state rows behind") {
    // regression gate for the tombstone bug class: if a timeout close
    // ever stops calling state.remove(), a long-running stream over an
    // unbounded key space (anonymous visitors) accretes one state row
    // per key EVER seen instead of per key currently active
    import graft.streaming.Sessionizer
    import graft.streaming.Sessionizer.{Click, OpenSession}
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    import org.apache.spark.api.java.Optional

    def st(s: Option[OpenSession], timedOut: Boolean) = TestGroupState.create[OpenSession](
      Optional.fromNullable(s.orNull),
      GroupStateTimeout.ProcessingTimeTimeout(), 1000000L,
      Optional.empty[Long](), timedOut)
    val fn = Sessionizer.updateSessions(gapSec = 1800, closeQuiet = true) _

    val n = 500
    var leaked = 0
    (1 to n).foreach { k =>
      // key appears once: one click opens a session
      val open = st(None, timedOut = false)
      assert(fn(k.toLong, Iterator(Click(k.toLong, k * 10L)), open).isEmpty)
      assert(open.exists, "open session must hold one state row")
      // ... then never returns: the processing-time timeout fires
      val quiet = st(open.getOption, timedOut = true)
      val out = fn(k.toLong, Iterator.empty, quiet).toSeq
      assert(out.map(_.n_events) === Seq(1L), "timeout must emit the open session")
      if (!quiet.isRemoved) leaked += 1
    }
    assert(leaked === 0, s"$leaked of $n timed-out keys left a state row behind")
  }

  test("streaming exact dedup: first-wins fingerprint state spans micro-batches") {
    import graft.streaming.StreamingDedup
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._

    val input = MemoryStream[(Long, String)]
    val q = StreamingDedup.exactFirstWins(
      input.toDF().toDF("doc_id", "text"), "text")
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData((1L, "hello world"), (2L, "Hello  WORLD"), (3L, "other"))
      q.processAllAvailable()
      // normalized-content dup (2) suppressed within the batch
      assert(spark.table("dedup_out").select("doc_id").as[Long].collect().toSet === Set(1L, 3L))

      // a later batch resending the same content must ALSO be suppressed
      // (state spans batches), while new content passes
      input.addData((4L, "hello   world"), (5L, "fresh text"))
      q.processAllAvailable()
      assert(spark.table("dedup_out").select("doc_id").as[Long].collect().toSet === Set(1L, 3L, 5L))
    } finally q.stop()
  }

  test("watermarked window agg finalizes on watermark advance and drops late rows") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, Double)]
    val agg = input.toDF().toDF("sec", "user", "value")
      .select(timestamp_seconds($"sec").as("ts"), $"user", $"value")
      .withWatermark("ts", "10 seconds")
      .groupBy(window($"ts", "1 minute"), $"user")
      .agg(sum($"value").as("sum_value"))
      .select($"window.start".cast("long").as("w"), $"user", $"sum_value")
    val q = agg.writeStream.format("memory").queryName("wm_out")
      .outputMode("append").start()
    try {
      input.addData((5L, "u1", 1.0), (25L, "u1", 2.0)) // window [0,60)
      q.processAllAvailable()
      // watermark (max event − 10s = 15s) hasn't passed the window end:
      // append mode emits nothing yet
      assert(spark.table("wm_out").count() === 0)

      input.addData((80L, "u1", 4.0)) // advances watermark to 70s
      q.processAllAvailable()
      // [0,60) is final and emitted exactly once
      assert(spark.table("wm_out").as[(Long, String, Double)].collect().toSet
        === Set((0L, "u1", 3.0)))

      // a row 40s behind the 70s watermark is dropped, not re-opened
      input.addData((30L, "u1", 100.0))
      q.processAllAvailable()
      input.addData((200L, "u1", 5.0)) // close [60,120)
      q.processAllAvailable()
      assert(spark.table("wm_out").as[(Long, String, Double)].collect().toSet
        === Set((0L, "u1", 3.0), (60L, "u1", 4.0)))
    } finally q.stop()
  }

  test("stream-stream interval join matches only within the event-time bound") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val imps = MemoryStream[(Long, String)]
    val clicks = MemoryStream[(Long, String)]
    // watermarks on BOTH sides bound the join state — without them a
    // stream-stream join buffers forever
    val impDf = imps.toDF().toDF("isec", "ad")
      .select(timestamp_seconds($"isec").as("its"), $"ad")
      .withWatermark("its", "20 seconds")
    val clkDf = clicks.toDF().toDF("csec", "cad")
      .select(timestamp_seconds($"csec").as("cts"), $"cad")
      .withWatermark("cts", "20 seconds")
    val joined = impDf.join(clkDf,
      expr("ad = cad AND cts BETWEEN its AND its + interval 10 seconds"))
      .select($"ad", $"its".cast("long").as("i"), $"cts".cast("long").as("c"))
    val q = joined.writeStream.format("memory").queryName("ss_join")
      .outputMode("append").start()
    try {
      imps.addData((10L, "a"), (40L, "b"))
      clicks.addData((15L, "a"), (60L, "b")) // a: +5s in-bound; b: +20s out
      q.processAllAvailable()
      assert(spark.table("ss_join").as[(String, Long, Long)].collect().toSet
        === Set(("a", 10L, 15L)))
    } finally q.stop()
  }

  test("streaming heavy hitters: Misra-Gries state merges across micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[String]
    // the mergeable MG aggregate runs as a streaming COMPLETE-mode
    // aggregation: each micro-batch's partial merges into the state
    // store, so the sketch covers the whole stream so far
    val q = input.toDF().toDF("item")
      .groupBy()
      .agg(call_function("graft_freq_items", $"item", lit(8)).as("xs"))
      .select(explode($"xs").as("x"))
      .select($"x.item", $"x.est")
      .writeStream.format("memory").queryName("freq_out")
      .outputMode("complete").start()
    try {
      input.addData(Seq.fill(5)("a") ++ Seq("b", "c"): _*)
      q.processAllAvailable()
      val r1 = spark.table("freq_out").as[(String, Long)].collect().toMap
      assert(r1("a") === 5L && r1("b") === 1L)
      // second batch: counts accumulate across batches (vocab < cap → exact)
      input.addData(Seq.fill(3)("a") ++ Seq.fill(4)("d"): _*)
      q.processAllAvailable()
      val r2 = spark.table("freq_out").as[(String, Long)].collect().toMap
      assert(r2("a") === 8L, s"state must span batches: $r2")
      assert(r2("d") === 4L)
    } finally q.stop()
  }

  test("windowed streaming aggregation shape compiles against a rate-like frame") {
    // semantics of window+watermark verified on a batch frame (same expr)
    val df = Seq(
      ("2024-01-01 00:00:05", "u1", 1.0),
      ("2024-01-01 00:00:25", "u1", 2.0),
      ("2024-01-01 00:01:05", "u1", 3.0)).toDF("ts_s", "user", "value")
      .select(to_timestamp($"ts_s").as("ts"), $"user", $"value")
    val out = df.groupBy(window($"ts", "1 minute"), $"user")
      .agg(count(lit(1)).as("n"), sum($"value").as("sum_value"))
      .select($"user", $"n", $"sum_value").orderBy("n")
      .as[(String, Long, Double)].collect()
    assert(out.toSeq === Seq(("u1", 1L, 3.0), ("u1", 2L, 3.0)))
  }

  test("curation gate: frozen DSIR model + tokenizer gate micro-batches; replay idempotent") {
    import graft.operators.{BpeTrainer, ImportanceSampling}
    import graft.streaming.CurationGate
    val root = Files.createTempDirectory("graft-gate").toString
    val raw = s"$root/raw"; val acc = s"$root/acc"; val rej = s"$root/rej"
    new java.io.File(raw).mkdirs()
    // frozen artifacts: model fit on an alpha-flavored target, BPE
    // merges learned on the same fit corpus
    val target = Seq.tabulate(10)(i => (900L + i, s"alpha beta gamma delta t$i"))
      .toDF("doc_id", "text")
    val fitRaw = (Seq.tabulate(10)(i => (800L + i, s"alpha beta gamma delta r$i")) ++
      Seq.tabulate(10)(i => (700L + i, s"zeta eta theta iota r$i"))).toDF("doc_id", "text")
    ImportanceSampling.saveModel(target, fitRaw, 64, s"$root/model")
    BpeTrainer.saveMerges(BpeTrainer.learn(spark, fitRaw, 4), s"$root/tok")

    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    def land(name: String, rows: Seq[(Long, String)]): Unit =
      Files.write(java.nio.file.Paths.get(s"$root/raw/$name"),
        rows.map { case (id, t) => s"""{"doc_id":$id,"text":"$t"}""" }
          .mkString("\n").getBytes)
    def drain(): Unit = {
      val q = CurationGate.ingest(
        spark.readStream.schema(schema).json(raw),
        s"$root/model", s"$root/tok", acc, rej, s"$root/ckpt",
        nBuckets = 64, minWeight = 0.0, minTokens = 3,
        statsPath = Some(s"$root/stats"))
      q.awaitTermination()
    }
    land("b1.json", Seq(
      1L -> "alpha beta gamma delta fresh content here",  // target-like → accept
      2L -> "zeta eta theta iota other words",            // off-target → low_weight
      3L -> "too short"))                                 // < 3 tokens → short
    drain()
    val a1 = spark.read.parquet(acc).select("doc_id").as[Long].collect().toSet
    val r1 = spark.read.parquet(rej).select("doc_id", "reason")
      .as[(Long, String)].collect().toMap
    assert(a1 === Set(1L))
    assert(r1 === Map(2L -> "low_weight", 3L -> "short"))
    // accepted rows carry the token-budget contribution off the frozen tokenizer
    val nbpe = spark.read.parquet(acc).select("n_bpe").as[Long].head()
    assert(nbpe > 0)

    // second batch drains incrementally; earlier partitions untouched
    land("b2.json", Seq(4L -> "alpha beta gamma delta more target style text"))
    drain()
    val a2 = spark.read.parquet(acc).select("doc_id").as[Long].collect().toSet
    assert(a2 === Set(1L, 4L))

    // replay: foreachBatch is at-least-once — re-running batch 1 with
    // the same id (a crashed-then-retried micro-batch) must leave both
    // sinks byte-identical, because dynamic partition overwrite
    // rewrites exactly its own partition from deterministic scoring
    // per-batch gate telemetry: one stats row per micro-batch, with
    // the acceptance split and the accepted token budget
    val stats = spark.read.parquet(s"$root/stats")
      .select("ingest_batch", "n_in", "n_accepted", "n_short", "n_low_weight")
      .as[(Int, Long, Long, Long, Long)].collect().toSet
    assert(stats === Set((0, 3L, 1L, 1L, 1L), (1, 1L, 1L, 0L, 0L)), s"stats: $stats")

    val before = spark.read.parquet(acc).orderBy("doc_id").collect().toSeq
    val statsBefore = spark.read.parquet(s"$root/stats").orderBy("ingest_batch").collect().toSeq
    CurationGate.gateBatch(
      Seq(4L -> "alpha beta gamma delta more target style text").toDF("doc_id", "text"),
      1L, s"$root/model", s"$root/tok", acc, rej,
      nBuckets = 64, minWeight = 0.0, minTokens = 3,
      statsPath = Some(s"$root/stats"))
    val after = spark.read.parquet(acc).orderBy("doc_id").collect().toSeq
    assert(after === before, "replayed gate must be byte-idempotent")
    val statsAfter = spark.read.parquet(s"$root/stats").orderBy("ingest_batch").collect().toSeq
    assert(statsAfter === statsBefore, "replayed stats must overwrite, not append")
  }

  test("streaming edge ingest: drained ranks ≡ from-scratch sweep, growth-gated refresh, replay no-op") {
    import graft.operators.{Graph, GraphArtifact}
    import graft.streaming.StreamingGraph
    val root = Files.createTempDirectory("graft-edgeingest").toString
    val raw = s"$root/raw"; val art = s"$root/prart"
    new java.io.File(raw).mkdirs()
    GraphArtifact.initRankArtifact(spark, art, iters = 3)
    val edgeSchema = StructType(Seq(
      StructField("src", LongType), StructField("dst", LongType)))
    def land(name: String, rows: Seq[(Long, Long)]): Unit =
      Files.write(java.nio.file.Paths.get(s"$raw/$name"),
        rows.map { case (s, d) => s"""{"src":$s,"dst":$d}""" }
          .mkString("\n").getBytes)
    def drain(): Unit = {
      val q = StreamingGraph.edgeIngest(
        spark.readStream.schema(edgeSchema).json(raw), art, s"$root/ckpt",
        refreshGrowthPct = Some(10))
      q.awaitTermination()
    }
    val b1 = (0L until 80L).map(d => (d, (d * 7 + 3) % 31))
    val b2 = (0L until 80L).map(d => (d, (d * 13 + 5) % 31))
    land("e1.json", b1); drain() // first drain: unconditional publish
    val v1 = GraphArtifact.readRanks(spark, art).as[(Long, Long)].collect().toMap
    assert(v1 === Graph.pageRank(b1.toDF("src", "dst"), iters = 3)
      .as[(Long, Long)].collect().toMap)
    land("e2.json", b2); drain() // 80 new rows on 80: well past 10%
    val v2 = GraphArtifact.readRanks(spark, art).as[(Long, Long)].collect().toMap
    assert(v2 === Graph.pageRank((b1 ++ b2).toDF("src", "dst"), iters = 3)
      .as[(Long, Long)].collect().toMap,
      "streamed ranks diverged from the from-scratch sweep over the union")
    // at-least-once redelivery of batch 0's payload: fingerprint no-op
    StreamingGraph.ingestEdgeBatch(b1.toDF("src", "dst"), 0L, art)
    assert(GraphArtifact.maybeRefreshRanks(spark, art, growthPct = 10).isEmpty,
      "replayed batch must not re-trip the growth trigger")
    assert(GraphArtifact.readRanks(spark, art)
      .as[(Long, Long)].collect().toMap === v2)
    // an ingest against an uninitialized artifact fails loudly
    intercept[IllegalArgumentException] {
      StreamingGraph.ingestEdgeBatch(b1.toDF("src", "dst"), 0L, s"$root/nope")
    }
  }

  test("streaming catalog ingest: drained index ≡ recompute lookup, growth-gated re-derive, replay no-op") {
    import graft.streaming.StreamingLinkIndex
    import graft.operators.{FuzzyJoin, FuzzyLinkIndex}
    val root = Files.createTempDirectory("graft-catingest").toString
    val raw = s"$root/raw"; val art = s"$root/linkidx"
    new java.io.File(raw).mkdirs()
    FuzzyLinkIndex.initLinkIndex(spark, art, k = 1)
    val catSchema = StructType(Seq(
      StructField("id", LongType), StructField("s", StringType)))
    def land(name: String, rows: Seq[(Long, String)]): Unit =
      Files.write(java.nio.file.Paths.get(s"$raw/$name"),
        rows.map { case (i, s) => s"""{"id":$i,"s":"$s"}""" }
          .mkString("\n").getBytes)
    def drain(): Unit = {
      val q = StreamingLinkIndex.catalogIngest(
        spark.readStream.schema(catSchema).json(raw), art, s"$root/ckpt",
        refreshGrowthPct = Some(10))
      q.awaitTermination()
    }
    val b1 = (0L until 60L).map(i => (i, s"name number $i"))
    val b2 = (100L until 160L).map(i => (i, s"name number $i"))
    val probe = Seq((9000L, "name number 42x"), (9001L, "name number 142x")).toDF("id", "s")
    land("c1.json", b1); drain() // first drain: unconditional derive
    assert(FuzzyLinkIndex.editDistanceLookupIndexed(probe, art, "id", "s")
      .as[(Long, Long, Int)].collect().toSet === Set((9000L, 42L, 1)),
      "first drain must serve the partial catalog (142 not yet ingested)")
    land("c2.json", b2); drain() // 60 new on 60: well past 10%
    val want = FuzzyJoin.editDistanceLookup(probe, (b1 ++ b2).toDF("id", "s"),
      "id", "s", k = 1).as[(Long, Long, Int)].collect().toSet
    assert(FuzzyLinkIndex.editDistanceLookupIndexed(probe, art, "id", "s")
      .as[(Long, Long, Int)].collect().toSet === want,
      "streamed index diverged from the recompute lookup over the union catalog")
    assert(want === Set((9000L, 42L, 1), (9001L, 142L, 1)))
    // at-least-once redelivery of batch 0's payload: fingerprint no-op
    StreamingLinkIndex.ingestCatalogBatch(b1.toDF("id", "s"), 0L, art)
    assert(FuzzyLinkIndex.maybeRefreshLinkIndex(spark, art, growthPct = 10).isEmpty,
      "replayed batch must not re-trip the growth trigger")
    // an ingest against an uninitialized artifact fails loudly
    intercept[IllegalArgumentException] {
      StreamingLinkIndex.ingestCatalogBatch(b1.toDF("id", "s"), 0L, s"$root/nope")
    }
  }

  test("streaming bar ingest: history upsert + growth-refreshed model, replay no-op") {
    import graft.streaming.StreamingModel
    import graft.ml.{ModelArtifact, PricePredictor}
    val root = Files.createTempDirectory("graft-mlingest").toString
    val raw = s"$root/raw"; val hist = s"$root/history"; val art = s"$root/model"
    new java.io.File(raw).mkdirs()
    ModelArtifact.init(spark, art)
    val barSchema = StructType(Seq(
      StructField("user_id", LongType), StructField("d", DateType),
      StructField("close", DoubleType), StructField("high", DoubleType),
      StructField("low", DoubleType)))
    def bars(days: Range): Seq[String] = for {
      u <- 1L to 4L; day <- days
    } yield {
      val c = 50.0 + u * 3 + day + (u * day % 5) * 0.25
      f"""{"user_id":$u,"d":"2024-01-${day}%02d","close":$c%.2f,"high":${c + 1}%.2f,"low":${c - 1}%.2f}"""
    }
    def land(name: String, rows: Seq[String]): Unit =
      Files.write(java.nio.file.Paths.get(s"$raw/$name"), rows.mkString("\n").getBytes)
    def drain(): Unit = {
      val q = StreamingModel.barsIngest(
        spark.readStream.schema(barSchema).json(raw), hist, art, s"$root/ckpt",
        refreshGrowthPct = Some(10))
      q.awaitTermination()
    }
    land("b1.json", bars(1 to 8)); drain() // first drain: unconditional fit
    def trainRows: Long =
      PricePredictor.featuresOf(spark.read.parquet(hist)).count()
    val rows1 = trainRows
    assert(rows1 === 4L * 6L, "8 days/user → 6 windowed training rows/user")
    assert(ModelArtifact.servedVersionMeta(spark, art)("train_rows") === rows1,
      "first drain must publish a model fitted on the standing history")
    land("b2.json", bars(9 to 20)); drain() // frame triples: well past 10%
    val rows2 = trainRows
    assert(rows2 === 4L * 18L)
    assert(ModelArtifact.servedVersionMeta(spark, art)("train_rows") === rows2,
      "growth past the bound must supersede the stale fit")
    // serving = load + transform over the standing history's features
    val served = ModelArtifact.scoreServed(
      PricePredictor.featuresOf(spark.read.parquet(hist)), art)
    assert(served.count() === rows2)
    // at-least-once REPLAY of batch 1's bars: the keyed merge upserts
    // row-identical values (history unchanged) and the trigger stays cold
    StreamingModel.ingestBars(
      spark.read.schema(barSchema).json(s"$raw/b1.json"), hist, art)
    assert(trainRows === rows2, "replayed bars changed the standing history")
    assert(ModelArtifact.maybeRefresh(spark, art,
      PricePredictor.featuresOf(spark.read.parquet(hist))).isEmpty,
      "replay must not re-trip the growth trigger")
    // an ingest against an uninitialized model artifact fails loudly
    intercept[IllegalArgumentException] {
      StreamingModel.ingestBars(
        spark.read.schema(barSchema).json(s"$raw/b1.json"),
        s"$root/hist2", s"$root/nope", refreshGrowthPct = Some(10))
    }
  }
}
