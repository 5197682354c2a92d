package graft.operators

import graft.functions.TextStats
import graft.sources.StagedCommit
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** BM25 keyword retrieval over a document corpus — the lexical half of
  * a retrieval stack (the dense half is [[Similarity]]). Matches the
  * reference's news-search role (headline/summary text columns,
  * fetch_transform_news.py:104-111) generalized to scored ranking.
  *
  * Scale shape (100 TB): one explode of the corpus filtered to the
  * query's terms — Catalyst pushes the `isin` BEFORE the per-(doc,term)
  * aggregation, so shuffle volume is proportional to matching
  * postings, not corpus tokens. Document-frequency and corpus stats
  * are tiny aggregates (≤ #terms rows and 1 row) broadcast back; no
  * driver-side collect anywhere. An inverted-index materialization
  * (partitionBy(term)) would make repeat queries partition-pruned —
  * same layout trick as [[Similarity.buildIvfIndex]].
  *
  * Determinism: tf/dl/df/N are integers; per-term contributions are
  * fixed double expressions; the per-doc sum folds contributions in
  * SORTED TERM ORDER via a higher-order aggregate (list_sum over a
  * `list(... ORDER BY term)` replays it in any SQL engine), so scores
  * are byte-stable at any partitioning.
  */
object KeywordSearch {

  /** Top-k docs for a bag-of-words query, classic BM25 (k1, b). */
  def bm25TopK(docs: DataFrame, terms: Seq[String], k: Int,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "query needs at least one term")
    // stage the token array ONCE (lambda-captured expressions re-eval
    // per element; see Dedup.gramsOf)
    val toks = docs
      .select(col("doc_id"), TextStats.tokens(col("text")).as("toks"))
      .select(col("doc_id"), size(col("toks")).as("dl"), col("toks"))
    // corpus stats: one row, broadcast
    val stats = toks.agg(
      count(lit(1)).as("n_docs"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    // postings for the query terms only: filter before the aggregation
    val tf = toks
      .select(col("doc_id"), col("dl"), explode(col("toks")).as("term"))
      .filter(col("term").isin(terms: _*))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
    // document frequency per term (tf is unique per (doc, term))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("dfr"))
    score(tf, dfreq, stats, k, k1, b)
  }

  /** Shared scoring tail: contributions joined to broadcast df/stats,
    * folded per doc in sorted term order, top-k. */
  private def score(tf: DataFrame, dfreq: DataFrame, stats: DataFrame,
                    k: Int, k1: Double, b: Double): DataFrame =
    tf.join(broadcast(dfreq), Seq("term"))
      .crossJoin(broadcast(stats))
      .withColumn("contrib",
        log(lit(1.0) + (col("n_docs") - col("dfr") + lit(0.5)) / (col("dfr") + lit(0.5)))
          * col("tf")
          / (col("tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl") / col("avgdl"))))
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("term"), col("contrib")))).as("cs"))
      .withColumn("score",
        round(aggregate(col("cs"), lit(0.0), (acc, x) => acc + x.getField("contrib")), 6))
      .select(col("doc_id"), col("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)

  /** (doc_id, dl, toks) — the tokenized frame every index writer
    * starts from. */
  private def docTokens(docs: DataFrame): DataFrame = docs
    .select(col("doc_id"), TextStats.tokens(col("text")).as("toks"))
    .select(col("doc_id"), size(col("toks")).as("dl"), col("toks"))

  /** (doc_id, dl, term, tf, tb) — THE term-frequency definition,
    * shared by [[buildInvertedIndex]] / [[updateInvertedIndex]] /
    * [[ingestIntoInvertedIndex]] so the streaming-maintained ≡
    * batch-rebuild row-identity contract can never drift from a
    * tokenization or bucketing tweak applied to one writer but not
    * the others (StreamingSpec pins the equivalence; this helper is
    * what makes it structural). */
  private def termFrequencies(toks: DataFrame, termBuckets: Int): DataFrame = toks
    .select(col("doc_id"), col("dl"), explode(col("toks")).as("term"))
    .groupBy(col("doc_id"), col("dl"), col("term"))
    .agg(count(lit(1)).as("tf"))
    .withColumn("tb", pmod(xxhash64(col("term")), lit(termBuckets.toLong)).cast("int"))

  /** Persist an inverted index to `indexPath`: the postings list
    * (doc_id, dl, term, tf) PARTITIONED BY a term-hash bucket, the
    * per-term document frequencies (same bucketing), a slim doc_id
    * side table (what incremental ingest anti-joins against), and a
    * one-row stats table (n_docs, avgdl, bucket count). Build once
    * (one tokenize + one shuffle); then each [[bm25TopKIndexed]]
    * query reads only its terms' bucket partitions — the
    * inverted-index read-reduction made physical as partition
    * pruning, the same layout trick as [[Similarity.buildIvfIndex]].
    * At 100 TB a 3-term query touches ≤ 3/termBuckets of the
    * postings files, with the residual `term IN (...)` filter pushed
    * to parquet row groups. */
  def buildInvertedIndex(docs: DataFrame, indexPath: String,
                         termBuckets: Int = 64): Unit = {
    val toks = docTokens(docs)
    val tf = termFrequencies(toks, termBuckets)
    tf.write.mode("overwrite").partitionBy("tb").parquet(s"$indexPath/postings")
    tf.groupBy("term", "tb").agg(count(lit(1)).as("dfr"))
      .write.mode("overwrite").partitionBy("tb").parquet(s"$indexPath/dfreq")
    // doc_id side table: what ingest's replay anti-join reads — batch
    // cost must never include a postings scan
    toks.select("doc_id")
      .write.mode("overwrite").parquet(s"$indexPath/docs")
    toks.agg(
        count(lit(1)).as("n_docs"),
        (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"),
        max(lit(termBuckets)).as("term_buckets"))
      .coalesce(1).write.mode("overwrite").parquet(s"$indexPath/stats")
  }

  /** Incrementally add documents to a persisted inverted index —
    * corpus growth without the full rebuild. At 100 TB the cost of an
    * update is the cost of tokenizing the NEW documents: postings and
    * the doc_id table take delta-sized appends, dfreq/stats merge at
    * vocab size or smaller.
    *
    * Since the r15 review this IS [[ingestIntoInvertedIndex]]: the
    * earlier raw-append form could crash between its postings and
    * docs appends and leave the two permanently divergent — and the
    * docs table is exactly what the crash-safe path's replay
    * anti-join trusts, so the divergence would silently re-add
    * indexed documents later. Routing through the staged one-marker
    * commit removes that window (and the already-indexed-id
    * anti-join turns a contract-violating batch into a skip instead
    * of silent duplicate postings). */
  def updateInvertedIndex(newDocs: DataFrame, indexPath: String): Unit =
    ingestIntoInvertedIndex(newDocs, indexPath)

  /** The index's one [[StagedCommit]] marker, shared by an ingest and a
    * compaction. Present ⇒ staging is complete and the commit must
    * roll FORWARD before any read or further write; absent ⇒
    * postings, dfreq and stats agree. Both single-writer entries
    * recover it first; [[bm25TopKIndexed]] never mutates and fails
    * loudly while it is pending. */
  private def markerOf(indexPath: String) = new Path(s"$indexPath/commit.plan")

  /** Crash-safe, replay-safe incremental indexing — the ONE
    * incremental write path ([[updateInvertedIndex]] routes here
    * too). Three guarantees a raw append pair could not give, each
    * load-bearing under foreachBatch's at-least-once replay:
    *
    *  1. ANTI-JOIN discipline: already-indexed doc_ids are dropped
    *     first (against the slim `docs` id side table — one row per
    *     document, never the corpus-sized postings; same contract as
    *     [[Similarity.appendToIvfIndex]]), so a crash-retried batch
    *     never double-counts a document in postings, dfreq OR stats.
    *  2. ONE-MARKER commit: the postings delta, the doc_id delta, the
    *     merged dfreq and the merged stats are all staged aside, then
    *     one [[StagedCommit]] promotes them; every step is idempotent
    *     and the next entry rolls a marked commit forward from ANY
    *     crash point. Without this, a crash after the postings append
    *     but before the dfreq write would leave the tables disagreeing
    *     forever — the retried batch's anti-join would skip its docs
    *     and never heal them.
    *  3. Within-batch duplicate doc_ids collapse to a deterministic
    *     survivor (max text fingerprint), so a replayed batch stages
    *     byte-identical deltas.
    *
    * Work is ∝ the batch (tokenize + delta-sized staging) plus the
    * vocab-sized dfreq merge — the indexed corpus is never re-read or
    * rewritten. StreamingSpec pins streaming-maintained ≡ full batch
    * rebuild row-identically, including stats' exact avgdl. */
  def ingestIntoInvertedIndex(newDocs: DataFrame, indexPath: String): Unit = {
    val spark = newDocs.sparkSession
    val fs = new Path(indexPath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    StagedCommit.recover(fs, markerOf(indexPath))
    val stats = spark.read.parquet(s"$indexPath/stats")
    val termBuckets = stats.select(col("term_buckets")).head().getInt(0)
    // replay anti-join reads the slim doc_id side table, NOT the
    // postings (one row per doc vs one per (doc, term) — the
    // difference between an id-column scan and a corpus re-read per
    // micro-batch)
    val indexed = spark.read.parquet(s"$indexPath/docs").select(col("doc_id"))
    val fresh = newDocs
      .groupBy(col("doc_id"))
      .agg(max_by(col("text"), xxhash64(col("doc_id"), col("text"))).as("text"))
      .join(indexed.hint("shuffle_hash"), Seq("doc_id"), "left_anti")
      .localCheckpoint()
    if (fresh.isEmpty) return // full replay (or empty batch): a no-op
    val toks = docTokens(fresh)
    val tf = termFrequencies(toks, termBuckets).localCheckpoint()
    // stage 1/4: the postings delta, partitioned like the live table
    tf.write.mode("overwrite").partitionBy("tb").parquet(s"$indexPath/postings__staged")
    // stage 2/4: the doc_id delta (same move-in promote as postings)
    toks.select("doc_id")
      .write.mode("overwrite").parquet(s"$indexPath/docs__staged")
    // stage 3/4: merged dfreq (old ∪ delta, summed — vocab-sized)
    val deltaDf = tf.groupBy("term", "tb").agg(count(lit(1)).as("dfr"))
    spark.read.parquet(s"$indexPath/dfreq")
      .select("term", "tb", "dfr")
      .unionByName(deltaDf)
      .groupBy("term", "tb").agg(sum(col("dfr")).as("dfr"))
      .localCheckpoint(true) // sever lineage from the table being replaced
      .write.mode("overwrite").partitionBy("tb").parquet(s"$indexPath/dfreq__staged")
    // stage 4/4: merged stats — reconstruct the exact integer token
    // total from the stored avgdl (dl sums are integers < 2^53), so
    // the merged avgdl is bit-identical to a full rebuild's
    val old = stats.select(col("n_docs"), col("avgdl")).head()
    val d = toks.agg(count(lit(1)).as("n"), sum(col("dl")).as("s")).head()
    val nDocs = old.getLong(0) + d.getLong(0)
    val totalDl = Math.round(old.getLong(0) * old.getDouble(1)) +
      (if (d.isNullAt(1)) 0L else d.getLong(1))
    import spark.implicits._
    Seq((nDocs, totalDl.toDouble / nDocs, termBuckets))
      .toDF("n_docs", "avgdl", "term_buckets")
      .coalesce(1).write.mode("overwrite").parquet(s"$indexPath/stats__staged")
    // staging complete → one commit promotes all four tables: the
    // append-shaped postings partitions and docs move in, dfreq and
    // stats are replaced whole, then the staging roots go
    val postingsMoves = fs.listStatus(new Path(s"$indexPath/postings__staged"))
      .map(_.getPath.getName).filter(_.startsWith("tb="))
      .map(tb => StagedCommit.MoveIn(s"postings__staged/$tb", s"postings/$tb"))
    StagedCommit.commit(fs, markerOf(indexPath), postingsMoves.toSeq ++ Seq(
      StagedCommit.MoveIn("docs__staged", "docs"),
      StagedCommit.Replace("dfreq__staged", "dfreq"),
      StagedCommit.Replace("stats__staged", "stats"),
      StagedCommit.Drop("postings__staged"),
      StagedCommit.Drop("docs__staged")))
  }

  /** Compact the persisted inverted index's small files — operational
    * parity with [[graft.operators.Dedup.compactLshIndex]]: every
    * [[updateInvertedIndex]]/[[ingestIntoInvertedIndex]] adds part
    * files into the postings' term-bucket partitions (and rewrites
    * dfreq at shuffle-partition granularity), so file count — which
    * dominates scan setup cost at scale — grows with update cadence.
    * Rolls any marked commit forward first (single-writer
    * maintenance entry point). Crash-safe staged rewrite of both
    * bucketed tables PRESERVING the `tb=` partition layout, committed
    * with the docs table under the index's one marker; contents
    * are row-identical and `stats` (one coalesced file) is untouched,
    * so [[bm25TopKIndexed]] scores before and after agree exactly
    * (KeywordSearchSpec). */
  def compactInvertedIndex(spark: org.apache.spark.sql.SparkSession, indexPath: String,
                           targetFileBytes: Long = 128L * 1024 * 1024): Unit = {
    val p = new Path(s"$indexPath/stats")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // recover FIRST: the commit's stats replace has a window where
    // live stats has moved aside and only stats__staged exists — the
    // existence check before recovery would mistake that exact crash
    // point (the one this entry is documented to heal) for "not an
    // index" (r15 review finding)
    StagedCommit.recover(fs, markerOf(indexPath))
    require(fs.exists(p),
      s"no inverted index at $indexPath — only compact directories built by buildInvertedIndex")
    // the docs id table accretes one small delta per ingest batch too;
    // all three rewrites commit under the ingest's own marker, so one
    // recovery heals either kind of crash
    def staged(table: String, partitionCols: String*) = graft.sources.Sinks
      .stageCompaction(spark, s"$indexPath/$table", partitionCols, targetFileBytes)
    StagedCommit.commit(fs, markerOf(indexPath),
      Seq(staged("postings", "tb"), staged("dfreq", "tb"), staged("docs")))
  }

  /** BM25 top-k against a persisted inverted index. Identical results
    * to [[bm25TopK]] over the same corpus (KeywordSearchSpec) — the
    * arithmetic and fold order are shared — but the scan is
    * partition-pruned to the query terms' buckets. */
  def bm25TopKIndexed(spark: org.apache.spark.sql.SparkSession, indexPath: String,
                      terms: Seq[String], k: Int,
                      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "query needs at least one term")
    // a present marker means postings/dfreq/stats may disagree
    // mid-promote: fail loudly (the single WRITER rolls it forward —
    // a reader racing a live ingest must not mutate the index)
    val mp = markerOf(indexPath)
    require(!StagedCommit.pending(mp.getFileSystem(spark.sparkContext.hadoopConfiguration), mp),
      s"inverted index at $indexPath has an unfinished ingest commit or compaction — " +
        "re-run the failed ingestIntoInvertedIndex or compactInvertedIndex to roll it forward")
    val stats = spark.read.parquet(s"$indexPath/stats")
    val termBuckets = stats.select(col("term_buckets")).head().getInt(0)
    // bucket ids via the exact expression the writer used (local
    // relation, #terms rows — constant-folded, no job against data)
    import spark.implicits._
    val tbs = terms.toDF("term")
      .select(pmod(xxhash64(col("term")), lit(termBuckets.toLong)).cast("int"))
      .as[Int].collect().toSeq.distinct
    val postings = spark.read.parquet(s"$indexPath/postings")
      .filter(col("tb").isInCollection(tbs) && col("term").isin(terms: _*))
      .select("doc_id", "dl", "term", "tf")
    val dfreq = spark.read.parquet(s"$indexPath/dfreq")
      .filter(col("tb").isInCollection(tbs) && col("term").isin(terms: _*))
      .select("term", "dfr")
    score(postings, dfreq, stats.select("n_docs", "avgdl"), k, k1, b)
  }

  /** TF-IDF "more like this": rank the corpus by cosine similarity to
    * one document's ltc-weighted term vector — the lexical
    * find-similar that complements [[bm25TopK]] (bag-of-words query)
    * and `Similarity` (dense embeddings). Weight is the classic
    * (1 + ln tf) · ln(N/df); both factors are ≥ 0, so every dot
    * contribution is ≥ 0 (no −0.0 can arise in the folds).
    *
    * Scale shape: TWO corpus passes. Pass 1 materializes the query
    * doc's weighted vector — the only driver collect, bounded by one
    * document's vocabulary (the same O(small) class as the IVF
    * centroid collect) — and folds its norm locally. Pass 2 scores:
    * postings → df join (AQE broadcasts dim-like vocabularies; the tf
    * exchange feeding both join sides is reused, not recomputed) →
    * one per-doc aggregation producing norm AND dot together (the
    * broadcast query terms are left-joined in, so non-shared terms
    * contribute w² to the norm and an exact +0.0 to the dot). Persist
    * [[buildInvertedIndex]] when queries repeat.
    *
    * Determinism: same sorted-term fold contract as [[bm25TopK]] —
    * per-doc folds run in binary UTF-8 term order (the local query
    * fold uses UTF8String comparison for the same order), so scores
    * replay in any engine. */
  def tfidfMoreLikeThis(docs: DataFrame, queryDocId: Long, k: Int): DataFrame = {
    val spark = docs.sparkSession
    def weighted(d: DataFrame): DataFrame = {
      val tf = d
        .select(col("doc_id"), explode(TextStats.tokens(col("text"))).as("term"))
        .groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf"))
      val nDocs = d.agg(count(lit(1)).as("n_docs"))
      val dfreq = tf.groupBy("term").agg(count(lit(1)).as("dfr"))
      tf.join(dfreq, Seq("term"))
        .crossJoin(broadcast(nDocs))
        .withColumn("w",
          (lit(1.0) + log(col("tf").cast("double")))
            * log(col("n_docs").cast("double") / col("dfr")))
        .select("doc_id", "term", "w")
    }
    // pass 1: the query vector (≤ one doc's vocabulary) + local norm
    // folded in binary UTF-8 term order — the exact order the oracle's
    // ORDER BY term uses (String.compareTo would differ on non-BMP)
    val qTerms = weighted(docs).filter(col("doc_id") === queryDocId)
      .select("term", "w").collect()
      .map(r => (r.getString(0), r.getDouble(1)))
      .sortWith((a, b) =>
        org.apache.spark.unsafe.types.UTF8String.fromString(a._1)
          .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b._1)) < 0)
    require(qTerms.nonEmpty, s"query doc $queryDocId not found or has no tokens")
    val nq = math.sqrt(qTerms.foldLeft(0.0) { case (a, (_, wq)) => a + wq * wq })
    import spark.implicits._
    val qvec = qTerms.toSeq.toDF("term", "wq")
    // pass 2: score the corpus in one per-doc aggregation
    weighted(docs)
      .filter(col("doc_id") =!= queryDocId)
      .join(broadcast(qvec), Seq("term"), "left")
      .withColumn("p", col("w") * coalesce(col("wq"), lit(0.0)))
      .withColumn("shared", when(col("wq").isNotNull, 1L).otherwise(0L))
      .groupBy("doc_id")
      .agg(
        sort_array(collect_list(struct(col("term"), col("w"), col("p")))).as("cs"),
        sum(col("shared")).as("n_shared"))
      .withColumn("nrm",
        sqrt(aggregate(col("cs"), lit(0.0),
          (acc, x) => acc + x.getField("w") * x.getField("w"))))
      .withColumn("dot",
        aggregate(col("cs"), lit(0.0), (acc, x) => acc + x.getField("p")))
      .filter(col("n_shared") > 0)
      .withColumn("cosine", round(col("dot") / (lit(nq) * col("nrm")), 6))
      .select(col("doc_id"), col("cosine"))
      .orderBy(col("cosine").desc, col("doc_id"))
      .limit(k)
  }

  /** Vocabulary coverage / out-of-vocabulary rate: the tokenizer-fit
    * signal — how much of each document the top-`vocabSize` corpus
    * vocabulary covers. High OOV flags encoding-mangled or
    * out-of-domain text; a rising corpus-level OOV rate flags drift
    * against a frozen tokenizer vocabulary.
    *
    * Scale shape: one explode → vocabulary aggregate (top-V by count
    * desc, term asc — a total order, so the cutoff is deterministic),
    * V rows broadcast back onto the token stream, one per-doc count
    * aggregation. V is loader-vocabulary-sized (30-100k), always
    * dim-like. */
  def oovRate(docs: DataFrame, vocabSize: Int = 100): DataFrame = {
    require(vocabSize > 0, "vocabSize must be positive")
    val toks = docs
      .select(col("doc_id"), TextStats.tokens(col("text")).as("toks"))
      .select(col("doc_id"), explode(col("toks")).as("t"))
    val vocab = toks.groupBy("t").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("t")).limit(vocabSize)
      .select(col("t"), lit(1).as("__in"))
    toks.join(broadcast(vocab), Seq("t"), "left")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_tokens"),
        count(when(col("__in").isNull, 1)).as("n_oov"))
      .withColumn("oov_rate",
        round(col("n_oov").cast("double") / col("n_tokens"), 4))
  }

  /** Per-document unigram surprisal — the cheap corpus-LM quality
    * filter (the CCNet/Gopher "perplexity bucket" signal, with the
    * corpus itself as the language model): score(d) = −Σ_t tf·ln p(t)
    * / dl, where p(t) is the token's corpus frequency. Word-salad or
    * rare-token documents score high; repetitive boilerplate scores
    * low — both tails are what a pretraining pipeline drops.
    *
    * Same scale shape as [[bm25TopK]]: per-(doc,term) counts from one
    * explode, the unigram table joined back (shuffle ∝ distinct
    * (doc,term) pairs; the vocab aggregate is heavy-tailed but tiny
    * relative to the corpus), and the per-doc double fold runs in
    * SORTED TERM ORDER so scores are byte-stable at any partitioning
    * and replay exactly in any SQL engine. */
  def unigramSurprisal(docs: DataFrame): DataFrame = {
    val toks = docs
      .select(col("doc_id"), TextStats.tokens(col("text")).as("toks"))
      .select(col("doc_id"), size(col("toks")).as("dl"), col("toks"))
    val tf = toks
      .select(col("doc_id"), col("dl"), explode(col("toks")).as("term"))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val vocab = tf.groupBy("term").agg(sum(col("tf")).as("cnt"))
    val total = vocab.agg(sum(col("cnt")).as("n_tokens"))
    tf.join(vocab, Seq("term"))
      .crossJoin(broadcast(total))
      .withColumn("contrib",
        -col("tf") * log(col("cnt").cast("double") / col("n_tokens")))
      .groupBy(col("doc_id"), col("dl"))
      .agg(sort_array(collect_list(struct(col("term"), col("contrib")))).as("cs"))
      .withColumn("surprisal",
        round(aggregate(col("cs"), lit(0.0), (acc, x) => acc + x.getField("contrib"))
          / col("dl"), 6))
      .select(col("doc_id"), col("dl").cast("long").as("n_tokens"), col("surprisal"))
  }
}
