package graft

import graft.operators.KeywordSearch

/** BM25 ranking sanity: term saturation, length normalization, rare-term
  * weighting, and layout independence of the folded double score.
  */
class KeywordSearchSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "spark engine spark engine spark engine"),      // tf-heavy, short
    (2L, "spark engine"),                                // both terms, once
    (3L, "spark " + Seq.fill(60)("filler").mkString(" ")), // one term, long doc
    (4L, "engine"),                                      // rare-ish term only
    (5L, "nothing relevant here at all"),
    (6L, "completely off topic words only")
  ).toDF("doc_id", "text")

  test("ranks docs containing more query terms above partial matches") {
    val got = KeywordSearch.bm25TopK(docs, Seq("spark", "engine"), k = 10)
      .as[(Long, Double)].collect()
    val rank = got.map(_._1).toSeq
    assert(!rank.contains(5L) && !rank.contains(6L), "non-matching docs never score")
    // both-term docs beat single-term docs
    val pos = rank.zipWithIndex.toMap
    assert(pos(1L) < pos(3L) && pos(2L) < pos(3L))
    assert(pos(1L) < pos(4L) && pos(2L) < pos(4L))
    // repeated terms help (saturating, but monotone)
    assert(pos(1L) < pos(2L))
  }

  test("length normalization: same tf in a longer doc scores lower") {
    val pair = Seq(
      (1L, "spark alpha beta"),
      (2L, "spark " + Seq.fill(40)("pad").mkString(" "))).toDF("doc_id", "text")
    val got = KeywordSearch.bm25TopK(pair, Seq("spark"), k = 2)
      .as[(Long, Double)].collect().toMap
    assert(got(1L) > got(2L))
  }

  test("persisted inverted index: identical results, term-bucket-pruned scan") {
    val dir = java.nio.file.Files.createTempDirectory("graft-bm25idx").toString
    KeywordSearch.buildInvertedIndex(docs, dir, termBuckets = 16)
    assert(new java.io.File(s"$dir/postings").listFiles().exists(_.getName.startsWith("tb=")))

    val direct = KeywordSearch.bm25TopK(docs, Seq("spark", "engine"), 10)
      .as[(Long, Double)].collect().toSeq
    val indexed = KeywordSearch.bm25TopKIndexed(spark, dir, Seq("spark", "engine"), 10)
      .as[(Long, Double)].collect().toSeq
    assert(indexed === direct, "index path must reproduce the direct scores exactly")

    // the probe's scan is partition-pruned to the query terms' buckets:
    // the same tb filter the index path applies touches a strict
    // subset of the posting files
    val tb = org.apache.spark.sql.functions.pmod(
      org.apache.spark.sql.functions.xxhash64(
        org.apache.spark.sql.functions.lit("spark")),
      org.apache.spark.sql.functions.lit(16L))
    val sparkTb = docs.sparkSession.range(1).select(tb.cast("int")).as[Int].head()
    // count the files the SCAN actually selects (Dataset.inputFiles
    // reports the unpruned index even when PartitionFilters prune)
    def scannedFiles(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.executedPlan.collectLeaves().collectFirst {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.selectedPartitions.totalNumberOfFiles.toInt
      }.get
    val pruned = scannedFiles(spark.read.parquet(s"$dir/postings").filter($"tb" === sparkTb))
    val all = scannedFiles(spark.read.parquet(s"$dir/postings"))
    assert(pruned < all, "single-term probe must touch a strict subset of posting partitions")
  }

  test("scores are independent of partition layout") {
    val a = KeywordSearch.bm25TopK(docs.repartition(1), Seq("spark", "engine"), 10)
      .as[(Long, Double)].collect().toSeq
    val b = KeywordSearch.bm25TopK(docs.repartition(7), Seq("spark", "engine"), 10)
      .as[(Long, Double)].collect().toSeq
    assert(a === b, "folded score must be byte-stable under any partitioning")
  }

  test("unigramSurprisal: rare tokens surprise more; layout-independent") {
    val corpus = Seq(
      (1L, "common common common common"),
      (2L, "rareword"),
      (3L, "common common common common"),
      (4L, "common zebra")).toDF("doc_id", "text")
    val out = KeywordSearch.unigramSurprisal(corpus)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    // doc 2 is a single corpus-hapax token → highest per-token surprisal;
    // doc 4 mixes one hapax with a common token → above the all-common docs
    assert(out(2L) > out(4L) && out(4L) > out(1L))
    assert(out(1L) === out(3L), "identical docs score identically")
    val relaid = KeywordSearch.unigramSurprisal(corpus.repartition(7))
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    assert(relaid === out, "sorted fold must be byte-stable under any partitioning")
  }

  test("incremental index update: equivalent to a full rebuild over the grown corpus") {
    val dir = java.nio.file.Files.createTempDirectory("graft-bm25inc").toString
    KeywordSearch.buildInvertedIndex(docs, dir, termBuckets = 16)
    val newDocs = Seq(
      (100L, "spark shuffle engine internals"),
      (101L, "an entirely different subject matter"),
      (102L, "engine engine engine")).toDF("doc_id", "text")
    KeywordSearch.updateInvertedIndex(newDocs, dir)

    val full = docs.unionByName(newDocs)
    val direct = KeywordSearch.bm25TopK(full, Seq("spark", "engine"), 10)
      .as[(Long, Double)].collect().toSeq
    val indexed = KeywordSearch.bm25TopKIndexed(spark, dir, Seq("spark", "engine"), 10)
      .as[(Long, Double)].collect().toSeq
    assert(indexed === direct,
      "incrementally updated index must reproduce the full-corpus scores exactly")
    // a second increment compounds correctly
    val more = Seq((200L, "spark spark spark")).toDF("doc_id", "text")
    KeywordSearch.updateInvertedIndex(more, dir)
    val direct2 = KeywordSearch.bm25TopK(full.unionByName(more), Seq("spark"), 10)
      .as[(Long, Double)].collect().toSeq
    val indexed2 = KeywordSearch.bm25TopKIndexed(spark, dir, Seq("spark"), 10)
      .as[(Long, Double)].collect().toSeq
    assert(indexed2 === direct2)
  }

  test("compactInvertedIndex: files collapse, tb layout preserved, scores and stats unchanged") {
    val dir = java.nio.file.Files.createTempDirectory("graft-bm25cpt").toString
    KeywordSearch.buildInvertedIndex(docs, dir, termBuckets = 4)
    // several update batches accrete part files into the tb partitions
    (100L to 103L).foreach { i =>
      KeywordSearch.updateInvertedIndex(
        Seq((i, "spark engine extra words")).toDF("doc_id", "text"), dir)
    }
    def bucketFiles(sub: String): Map[String, Int] =
      new java.io.File(s"$dir/$sub").listFiles().filter(_.getName.startsWith("tb="))
        .map(d => d.getName -> d.listFiles().count(_.getName.endsWith(".parquet"))).toMap
    val filesBefore = bucketFiles("postings")
    assert(filesBefore.values.exists(_ > 1), "fixture must accumulate multiple part files")
    val before = KeywordSearch.bm25TopKIndexed(spark, dir, Seq("spark", "engine"), 10)
      .as[(Long, Double)].collect().toSeq
    val statsBefore = spark.read.parquet(s"$dir/stats")
      .as[(Long, Double, Int)].collect().toSeq

    KeywordSearch.compactInvertedIndex(spark, dir)

    val filesAfter = bucketFiles("postings")
    assert(filesAfter.keySet === filesBefore.keySet, "compaction must keep the tb= hive layout")
    assert(filesAfter.values.forall(_ === 1), "small buckets compact to one file each")
    val after = KeywordSearch.bm25TopKIndexed(spark, dir, Seq("spark", "engine"), 10)
      .as[(Long, Double)].collect().toSeq
    assert(after === before, "compaction changed probe scores")
    val statsAfter = spark.read.parquet(s"$dir/stats")
      .as[(Long, Double, Int)].collect().toSeq
    assert(statsAfter === statsBefore, "compaction must not touch the stats table")
    // further updates after compaction still compound correctly
    KeywordSearch.updateInvertedIndex(Seq((300L, "spark spark")).toDF("doc_id", "text"), dir)
    val grown = KeywordSearch.bm25TopKIndexed(spark, dir, Seq("spark"), 10)
      .as[(Long, Double)].collect().toSeq
    val directGrown = KeywordSearch.bm25TopK(
      docs.unionByName((100L to 103L).map(i => (i, "spark engine extra words")).toDF("doc_id", "text"))
        .unionByName(Seq((300L, "spark spark")).toDF("doc_id", "text")),
      Seq("spark"), 10).as[(Long, Double)].collect().toSeq
    assert(grown === directGrown, "post-compaction update must still match a full rebuild")
    // only real indexes are compactable
    intercept[IllegalArgumentException] {
      KeywordSearch.compactInvertedIndex(spark,
        java.nio.file.Files.createTempDirectory("graft-notidx").toString)
    }
  }

  test("a crash inside compactInvertedIndex's commit fails reads loudly and the next ingest rolls it forward, losing no postings") {
    val dir = java.nio.file.Files.createTempDirectory("graft-bm25compactcrash").toString
    KeywordSearch.buildInvertedIndex(docs, dir, termBuckets = 4)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    def p(rel: String) = new org.apache.hadoop.fs.Path(s"$dir/$rel")
    def postings() = spark.read.parquet(s"$dir/postings").count()
    val before = postings()
    // the compaction staged all three tables and published the index's
    // marker, then crashed inside the postings replace: the live
    // postings already sit in the marker's trash, the compacted copy
    // is still staged
    val steps = Seq("postings" -> Seq("tb"), "dfreq" -> Seq("tb"), "docs" -> Nil).map {
      case (table, pcols) =>
        graft.sources.Sinks.stageCompaction(spark, s"$dir/$table", pcols, 128L * 1024 * 1024)
    }
    graft.sources.StagedCommit.plan(fs, p("commit.plan"), steps)
    fs.mkdirs(p("commit.plan.trash"))
    assert(fs.rename(p("postings"), p("commit.plan.trash/0")))
    val e = intercept[IllegalArgumentException] {
      KeywordSearch.bm25TopKIndexed(spark, dir, Seq("spark"), 10)
    }
    assert(e.getMessage.contains("unfinished ingest commit or compaction"), e.getMessage)
    // the next ingest rolls the compaction forward before it stages, so
    // its delta lands on the whole compacted postings
    val b = Seq((700L, "spark engine anew")).toDF("doc_id", "text")
    KeywordSearch.ingestIntoInvertedIndex(b, dir)
    assert(!fs.exists(p("commit.plan")) && !fs.exists(p("commit.plan.trash")))
    assert(postings() === before + 3, "the ingest must add its three postings to the full table")
    val grown = docs.unionByName(b)
    assert(KeywordSearch.bm25TopKIndexed(spark, dir, Seq("spark", "engine"), 10)
      .as[(Long, Double)].collect().toSeq ===
      KeywordSearch.bm25TopK(grown, Seq("spark", "engine"), 10).as[(Long, Double)].collect().toSeq)
  }

  test("doc_id side table: maintained by every writer, required by ingest, stats crash window compactable") {
    val dir = java.nio.file.Files.createTempDirectory("graft-bm25docs").toString
    KeywordSearch.buildInvertedIndex(docs, dir, termBuckets = 4)
    def docIds: Seq[Long] = spark.read.parquet(s"$dir/docs").as[Long].collect().sorted.toSeq
    val base = docs.as[(Long, String)].collect().map(_._1).sorted.toSeq
    assert(docIds === base, "build must write the id side table")
    // ingest maintains it; a replayed batch is anti-joined out (the
    // anti-join reads THIS table, so its correctness is load-bearing)
    val b = Seq((500L, "spark anew here")).toDF("doc_id", "text")
    KeywordSearch.ingestIntoInvertedIndex(b, dir)
    KeywordSearch.ingestIntoInvertedIndex(b, dir) // replay: no-op
    assert(docIds === (base :+ 500L).sorted, "ingest must append exactly once")
    // an index without the id table fails loudly: the replay
    // anti-join reads it (moved aside and back for this check)
    val aside = java.nio.file.Files.createTempDirectory("graft-bm25aside").resolve("docs")
    java.nio.file.Files.move(java.nio.file.Paths.get(s"$dir/docs"), aside)
    intercept[org.apache.spark.sql.AnalysisException] {
      KeywordSearch.ingestIntoInvertedIndex(
        Seq((501L, "engine anew again")).toDF("doc_id", "text"), dir)
    }
    java.nio.file.Files.move(aside, java.nio.file.Paths.get(s"$dir/docs"))
    // the stats mid-replace crash window (live stats moved aside, staged
    // pending, marker live): compactInvertedIndex is documented to
    // roll the commit forward FIRST — it must heal this state, not
    // mistake it for "not an index" (r15 review finding)
    java.nio.file.Files.move(
      java.nio.file.Paths.get(s"$dir/stats"),
      java.nio.file.Paths.get(s"$dir/stats__staged"))
    graft.sources.StagedCommit.plan(
      org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration),
      new org.apache.hadoop.fs.Path(s"$dir/commit.plan"),
      Seq(graft.sources.StagedCommit.Replace("stats__staged", "stats")))
    KeywordSearch.compactInvertedIndex(spark, dir)
    assert(new java.io.File(s"$dir/stats").exists(), "compact must promote the staged stats")
    assert(!new java.io.File(s"$dir/commit.plan").exists(), "compact must retire the marker")
    // the compacted index still scores exactly like a rebuild
    val grown = docs.unionByName(b)
    val direct = KeywordSearch.bm25TopK(grown, Seq("spark", "engine"), 10)
      .as[(Long, Double)].collect().toSeq
    val indexed = KeywordSearch.bm25TopKIndexed(spark, dir, Seq("spark", "engine"), 10)
      .as[(Long, Double)].collect().toSeq
    assert(indexed === direct)
  }

  test("oovRate: coverage against the top-V vocabulary, deterministic cutoff") {
    val corpus = Seq(
      (1L, "alpha beta alpha beta"),   // all in-vocab
      (2L, "alpha rareword"),          // half OOV
      (3L, "weird1 weird2 weird3 weird4")) // all OOV
      .toDF("doc_id", "text")
    // vocab size 2 → alpha(3), beta(2) are the top-2
    val got = KeywordSearch.oovRate(corpus, vocabSize = 2)
      .select("doc_id", "n_tokens", "n_oov", "oov_rate")
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(got(1L) === ((1L, 4L, 0L, 0.0)))
    assert(got(2L) === ((2L, 2L, 1L, 0.5)))
    assert(got(3L) === ((3L, 4L, 4L, 1.0)))
  }

  test("tfidfMoreLikeThis: overlap ranks above partial, none excluded, layout-independent") {
    val corpus = Seq(
      (1L, "spark engine shuffle partition spark"),
      (2L, "spark engine shuffle partition"),        // near-copy of 1 (query)
      (3L, "spark engine other words entirely"),     // partial overlap
      (4L, "shuffle partition alone"),               // partial overlap
      (5L, "unrelated text with zero common tokens"),
      (6L, "more unrelated filler body")
    ).toDF("doc_id", "text")
    val got = KeywordSearch.tfidfMoreLikeThis(corpus, queryDocId = 2L, k = 10)
      .as[(Long, Double)].collect()
    val rank = got.map(_._1).toSeq
    assert(!rank.contains(2L), "query doc excluded")
    assert(!rank.contains(5L) && !rank.contains(6L), "no shared terms → not returned")
    assert(rank.head === 1L, "the near-copy ranks first")
    assert(got.forall { case (_, c) => c >= 0.0 && c <= 1.0 + 1e-9 })
    val relaid = KeywordSearch.tfidfMoreLikeThis(corpus.repartition(7), 2L, 10)
      .as[(Long, Double)].collect()
    assert(relaid.toSeq === got.toSeq, "cosine must be byte-stable under any partitioning")
  }
}
