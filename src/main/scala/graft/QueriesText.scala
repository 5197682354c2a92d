package graft

import graft.functions.{Sentiment, TextClean, TextStats}
import graft.operators.{BpeTrainer, Chunker, Dedup, ImportanceSampling, Multimodal, Similarity}
import org.apache.spark.sql.functions._

/** LLM-data-pipeline queries: dedup, text analysis, similarity search,
  * multimodal plumbing — registered into the same registry as the
  * relational surface. Oracles are provided wherever DuckDB can express
  * the computation; signature-based ops (MinHash/SimHash/LSH) are
  * fixture-verified in ScalaTest instead (DedupSpec/SimilaritySpec).
  */
object QueriesText {
  import Queries.{registry, Q}

  private def register(name: String, oracle: String)(fn: Q): Unit =
    registry(name) = (fn, Some(oracle.stripMargin))
  private def registerNoOracle(name: String)(fn: Q): Unit =
    registry(name) = (fn, None)

  /** Mean recall@5 the IVF path must reach vs the brute-force truth on
    * the near-orthogonal synthetic embeddings (calibrated empirically;
    * see q_ann_ivf_recall). */
  private val IvfRecallBound = 0.8

  /** One persisted LSH index per (JVM, source dir) for
    * q_dedup_incremental_indexed: built ONCE (build on the first
    * corpus slice, appended with the second — the production
    * build → append loop), probed by every execution; deleted on JVM
    * exit. Keyed by dir so mixed-sf test JVMs never cross-probe. */
  private val lshIndexes = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private lazy val lshCleanupHook: Unit = sys.addShutdownHook {
    lshIndexes.values.forEach { root =>
      val p = java.nio.file.Paths.get(root)
      if (java.nio.file.Files.exists(p)) {
        val s = java.nio.file.Files.walk(p)
        try s.sorted(java.util.Comparator.reverseOrder())
          .forEach(f => java.nio.file.Files.deleteIfExists(f))
        finally s.close()
      }
    }
  }
  private def lshIndexRoot(s: org.apache.spark.sql.SparkSession, dir: String): String = {
    lshCleanupHook
    lshIndexes.computeIfAbsent(dir, { _ =>
      val path = java.nio.file.Files.createTempDirectory("graft-lshidx").toString
      val corpus = Tables.documents(s, dir).filter(col("doc_id") % 10 < 8)
      Dedup.buildLshIndex(corpus.filter(col("doc_id") % 10 < 4), path)
      Dedup.appendToLshIndex(corpus.filter(col("doc_id") % 10 >= 4), path)
      path
    })
  }

  /** Persisted IVF index per (JVM, source dir) for the
    * q_ann_ivf_indexed* queries — same lifecycle management as
    * [[lshIndexRoot]], and like it the PRODUCTION lifecycle: built
    * over 80% of the corpus, the rest appended against the frozen
    * centroids, so every probe (and the recall gate) measures the
    * post-append index, not a pristine build snapshot. */
  private def ivfIndexRoot(s: org.apache.spark.sql.SparkSession, dir: String): String = {
    lshCleanupHook
    lshIndexes.computeIfAbsent(s"ivf:$dir", { _ =>
      val path = java.nio.file.Files.createTempDirectory("graft-ivfidx").toString
      val emb = Tables.embeddings(s, dir)
      Similarity.buildIvfIndex(emb.filter(col("vec_id") % 10 < 8), path)
      Similarity.appendToIvfIndex(emb.filter(col("vec_id") % 10 >= 8), path)
      // full maintenance cycle: every probe (and the recall gate) runs
      // against the COMPACTED post-append index, proving compaction is
      // probe-invisible on top of being spec'd row-identical
      Similarity.compactIvfIndex(s, path)
      path
    })
  }

  /** Persisted inverted (BM25) index per (JVM, source dir) for
    * q_bm25_indexed — third index family, same production lifecycle as
    * [[lshIndexRoot]]/[[ivfIndexRoot]]: built over 80% of the corpus,
    * the rest folded in through the STREAMING-maintained path
    * ([[graft.operators.KeywordSearch.ingestIntoInvertedIndex]] — the
    * anti-join + one-marker commit the foreachBatch sink uses, run
    * twice so the second call exercises incremental-over-incremental),
    * then small-file compaction. The probe must then reproduce the
    * in-memory [[q_bm25_topk]] scores byte-for-byte — streaming
    * maintenance ≡ batch build, oracle-gated. */
  private def postingsIndexRoot(s: org.apache.spark.sql.SparkSession, dir: String): String = {
    lshCleanupHook
    lshIndexes.computeIfAbsent(s"postings:$dir", { _ =>
      val path = java.nio.file.Files.createTempDirectory("graft-postidx").toString
      val docs = Tables.documents(s, dir)
      graft.operators.KeywordSearch.buildInvertedIndex(docs.filter(col("doc_id") % 10 < 8), path)
      graft.operators.KeywordSearch.ingestIntoInvertedIndex(docs.filter(col("doc_id") % 10 === 8), path)
      graft.operators.KeywordSearch.ingestIntoInvertedIndex(docs.filter(col("doc_id") % 10 === 9), path)
      graft.operators.KeywordSearch.compactInvertedIndex(s, path)
      path
    })
  }

  /** Persisted PQ index per (JVM, source dir) for q_ann_pq_indexed —
    * fourth index family, same production lifecycle as the other
    * three: codebook sampled over 80% of the corpus, the rest encoded
    * against the FROZEN codebook by append, then small-file
    * compaction. The probe must reproduce the ADC scores the oracle
    * computes from scratch byte-for-byte. */
  private def pqIndexRoot(s: org.apache.spark.sql.SparkSession, dir: String): String = {
    lshCleanupHook
    lshIndexes.computeIfAbsent(s"pq:$dir", { _ =>
      val path = java.nio.file.Files.createTempDirectory("graft-pqidx").toString
      val emb = Tables.embeddings(s, dir)
      Similarity.buildPqIndex(emb.filter(col("vec_id") % 10 < 8), path)
      Similarity.appendToPqIndex(emb.filter(col("vec_id") % 10 >= 8), path)
      Similarity.compactPqIndex(s, path)
      path
    })
  }

  /** Persisted TRAINED-codebook PQ index per (JVM, source dir) — the
    * same 80/20 build → append → compact lifecycle as [[pqIndexRoot]],
    * with the codebook k-means-trained on the 80% slice (Jégou 2011
    * §III) instead of md5-sampled. The q_ann_pq_trained_check gate
    * measures BOTH tiers of this index against the sampled one. */
  private def pqTrainedIndexRoot(s: org.apache.spark.sql.SparkSession, dir: String): String = {
    lshCleanupHook
    lshIndexes.computeIfAbsent(s"pqt:$dir", { _ =>
      val path = java.nio.file.Files.createTempDirectory("graft-pqtidx").toString
      val emb = Tables.embeddings(s, dir)
      Similarity.buildPqIndexTrained(emb.filter(col("vec_id") % 10 < 8), path)
      Similarity.appendToPqIndex(emb.filter(col("vec_id") % 10 >= 8), path)
      Similarity.compactPqIndex(s, path)
      path
    })
  }

  /** Persisted IVFPQ index per (JVM, source dir) — the COMPOSED
    * serving index (coarse cells × residual PQ codes, the faiss
    * IVFPQ shape), with the FULL maintenance lifecycle: 80/20
    * build → append (frozen centroids + codebook), then a versioned
    * REBUILD (re-cluster, retrain the residual codebook, re-encode —
    * the drift repair, served through the atomic CURRENT pointer) and
    * small-file compaction on the rebuilt version. Every registered
    * probe and the recall gate therefore measure a post-rebuild
    * versioned index, proving the refresh is probe-compatible. */
  private def ivfPqIndexRoot(s: org.apache.spark.sql.SparkSession, dir: String): String = {
    lshCleanupHook
    lshIndexes.computeIfAbsent(s"ivfpq:$dir", { _ =>
      val path = java.nio.file.Files.createTempDirectory("graft-ivfpqidx").toString
      val emb = Tables.embeddings(s, dir)
      // 64 codebook entries per subspace (6 bits; the r14 default of 16
      // = 4 bits was the recall bottleneck on the larger corpora —
      // measured rr@sl=50 0.45 at sf0.1 vs 0.62 with 64 entries)
      Similarity.buildIvfPqIndex(emb.filter(col("vec_id") % 10 < 8), path, nCentroids = 64)
      Similarity.appendToIvfPqIndex(emb.filter(col("vec_id") % 10 >= 8), path)
      Similarity.rebuildIvfPqIndex(s, path, emb)
      Similarity.compactIvfPqIndex(s, path)
      path
    })
  }

  /** Persisted duplicate-group component state per (JVM, source dir)
    * for q_dedup_groups_incremental: the near-dup pairs are split in
    * two deterministic hash batches — the first BUILDS the state, the
    * second MERGES into it (the production streaming-dedup lifecycle,
    * where group assignment must cost work ∝ batch, not a global CC
    * re-run). Every execution then reads the merged state, which the
    * full-recompute oracle must match exactly. */
  private def ccStateRoot(s: org.apache.spark.sql.SparkSession, dir: String): String = {
    lshCleanupHook
    lshIndexes.computeIfAbsent(s"ccstate:$dir", { _ =>
      val path = java.nio.file.Files.createTempDirectory("graft-ccstate").toString
      val pairs = graft.operators.Dedup.minhashPairs(Tables.documents(s, dir))
        .select("doc_a", "doc_b")
        .localCheckpoint() // compute the pair set once, split it twice
      val half = pmod(xxhash64(col("doc_a"), col("doc_b")), lit(2L))
      graft.operators.Dedup.buildComponentState(pairs.filter(half === 0), path)
      graft.operators.Dedup.mergeComponentState(pairs.filter(half === 1), path)
      path
    })
  }

  /** Persisted bigram-LM artifact pair per (JVM, source dir): the full
    * count-table model fit once, then QUANTIZED into its deploy tier
    * (fixed-point interpolated log-probs — the KenLM trick). The
    * q_lm_quantized gate scores the corpus against BOTH tiers and
    * bounds the quantization error. */
  private def lmArtifactRoot(s: org.apache.spark.sql.SparkSession, dir: String): String = {
    lshCleanupHook
    lshIndexes.computeIfAbsent(s"lm:$dir", { _ =>
      val path = java.nio.file.Files.createTempDirectory("graft-lm").toString
      graft.operators.LanguageModel.saveModel(Tables.documents(s, dir), s"$path/full")
      graft.operators.LanguageModel.quantizeModel(s, s"$path/full", s"$path/q")
      path
    })
  }

  /** Persisted BPE tokenizer artifact per (JVM, source dir): learned
    * once (8 merges), saved via [[graft.operators.BpeTrainer.saveMerges]],
    * loaded by every q_bpe_encode/q_bpe_vocab execution — the
    * production lifecycle (train once, encode every batch off the
    * frozen artifact) AND a bench win (the 8-round learn loop runs
    * once per JVM, not once per execution). */
  private def bpeMergesRoot(s: org.apache.spark.sql.SparkSession, dir: String): String = {
    lshCleanupHook
    lshIndexes.computeIfAbsent(s"bpe:$dir", { _ =>
      val path = java.nio.file.Files.createTempDirectory("graft-bpetok").toString
      graft.operators.BpeTrainer.saveMerges(
        graft.operators.BpeTrainer.learn(s, Tables.documents(s, dir), 8), path)
      path
    })
  }

  /** Persisted decontamination-filter artifact per (JVM, source dir):
    * the benchmark suite's gram-hash table frozen once and probed by
    * every q_decontaminate_artifact execution — built over roughly half
    * the bench docs, the rest folded in by
    * [[graft.operators.Dedup.appendToDecontaminationFilter]] (the
    * "benchmark suite adopted later" lifecycle), so the probe measures
    * the post-append artifact. */
  private def decontamFilterRoot(s: org.apache.spark.sql.SparkSession, dir: String): String = {
    lshCleanupHook
    lshIndexes.computeIfAbsent(s"decontam:$dir", { _ =>
      val path = java.nio.file.Files.createTempDirectory("graft-decontam").toString
      val bench = Tables.documents(s, dir)
        .select("doc_id", "text").filter(col("doc_id") < 25)
      graft.operators.Dedup.saveDecontaminationFilter(
        bench.filter(col("doc_id") < 13), path, n = 3)
      graft.operators.Dedup.appendToDecontaminationFilter(
        bench.filter(col("doc_id") >= 13), path)
      path
    })
  }

  /** Persisted CMS artifact per (JVM, source dir): the token-frequency
    * sketch built the STREAMING-TELEMETRY way — initialized once, the
    * corpus folded in as two batch contributions
    * ([[graft.operators.Profile.cmsIngestBatch]] under `parts/b=`),
    * then batch 0 REPLAYED (the at-least-once redelivery) so the
    * served artifact proves the overwrite-in-place idempotence
    * contract, not just the happy path. By counter linearity the fold
    * equals the one-shot sketch, so q_cms_artifact shares
    * q_cms_counts' value-exact oracle character for character. */
  /** Shared parity-split artifact lifecycle (r15 review: ONE scaffold
    * instead of a hand-rolled copy per artifact family): temp root →
    * `init` → batch 0 (even `parityCol`) → batch 1 (odd) → batch 0
    * REPLAYED (the at-least-once redelivery every family's registry
    * row must prove is a no-op) — cached per (family, source dir). */
  private def parityArtifactRoot(dir: String, family: String,
      source: => org.apache.spark.sql.DataFrame, parityCol: String)(
      init: String => Unit)(
      ingest: (org.apache.spark.sql.DataFrame, String, Long) => Unit)(
      maintain: String => Unit = _ => ()): String = {
    lshCleanupHook
    lshIndexes.computeIfAbsent(s"$family:$dir", { _ =>
      val path = java.nio.file.Files.createTempDirectory(s"graft-$family").toString
      init(path)
      val src = source
      ingest(src.filter(col(parityCol) % 2 === 0), path, 0L)
      ingest(src.filter(col(parityCol) % 2 === 1), path, 1L)
      // redelivered batch 0: overwrites its own partition byte-identically
      ingest(src.filter(col(parityCol) % 2 === 0), path, 0L)
      // r17: each family's dir-count maintenance runs INSIDE the
      // served lifecycle, so the registry hash gates also prove the
      // merge preserved the folded state exactly
      maintain(path)
      path
    })
  }

  private def cmsArtifactRoot(s: org.apache.spark.sql.SparkSession, dir: String): String =
    parityArtifactRoot(dir, "cmsart",
      Tables.documents(s, dir)
        .select(col("doc_id"), explode(TextStats.tokens(col("text"))).as("tok")),
      "doc_id")(
      graft.operators.Profile.initCmsArtifact(s, _, depth = 4, width = 512))(
      (df, p, b) => graft.operators.Profile.cmsIngestBatch(df, "tok", p, b))(
      graft.operators.Profile.mergeArtifactParts(s, _, maxDirs = 1))

  /** Persisted HLL profile artifact per (JVM, source dir): per-group
    * distinct-order sketches built shard-by-shard (lineitem split in
    * two by l_orderkey parity, shard 0 REPLAYED — the at-least-once
    * redelivery) and served by sketch union. The registered query is
    * the oracle-exact AUDIT form: exact distincts next to a boolean
    * gate that the artifact-served estimates sit inside the sketch's
    * error bound — the q_sketch_check pattern for the ARTIFACT tier. */
  private def profileArtifactRoot(s: org.apache.spark.sql.SparkSession, dir: String): String =
    parityArtifactRoot(dir, "profart",
      Tables.lineitem(s, dir).select("l_returnflag", "l_orderkey"),
      "l_orderkey")(
      graft.operators.Profile.initProfileArtifact(s, _, lgConfigK = 12))(
      (df, p, b) => graft.operators.Profile.profileIngestShard(
        df, "l_returnflag", "l_orderkey", p, b))(
      graft.operators.Profile.mergeProfileShards(s, _, maxDirs = 1))

  /** Persisted log-histogram quantile artifact per (JVM, source dir):
    * per-group price sketches built batch-by-batch (lineitem split in
    * two by l_orderkey parity, batch 0 REPLAYED — the at-least-once
    * redelivery) and served by the linear fold. By counter linearity
    * the folded sketch is byte-identical to the one-shot build, so
    * q_quantile_artifact shares q_quantile_sketch's oracle. */
  /** The (g, v) lineitem frame shared by the quantile and additive-agg
    * artifact fixtures: price cents per returnflag, keyed for the
    * parity split. */
  private def priceCentsByFlag(s: org.apache.spark.sql.SparkSession, dir: String) =
    Tables.lineitem(s, dir).select(col("l_orderkey"),
      col("l_returnflag").as("g"),
      round(col("l_extendedprice") * 100).cast("long").as("v"))

  private def quantileArtifactRoot(s: org.apache.spark.sql.SparkSession, dir: String): String =
    parityArtifactRoot(dir, "quantart", priceCentsByFlag(s, dir), "l_orderkey")(
      graft.operators.Profile.initQuantileArtifact(s, _, mbits = 6))(
      (df, p, b) => graft.operators.Profile.quantileIngestBatch(df, "g", "v", p, b))(
      graft.operators.Profile.mergeArtifactParts(s, _, maxDirs = 1))

  /** Scoped §2.5 scan fan-out of the documents table for the handful
    * of call sites whose downstream per-row work (tokenize, shingle,
    * md5-per-window) is CPU-dense enough that the single-file scan's
    * one task serializes it (r22; replaces r21's net-negative loader-
    * level fanOut): project FIRST to exactly the columns the operator
    * needs (§2.3 — never shuffle the columns it doesn't), then
    * [[Tables.fanOutScan]] hash-repartitions on doc_id (keyed, so no
    * round-robin local sort; identity on any input already wide
    * enough). Light consumers — the ~100 narrow aggregates — keep the
    * plain scan. */
  private def docsFanned(s: org.apache.spark.sql.SparkSession, dir: String,
                         cols: String*): org.apache.spark.sql.DataFrame =
    Tables.fanOutScan(
      Tables.documents(s, dir).select(cols.map(col): _*),
      dir, "documents", col("doc_id"))

  /** The deterministic doc-link graph shared by the PageRank family
    * (q_pagerank / q_ppr_seeds / q_pagerank_artifact): two hash
    * generators mod 1009 over doc_ids — multi-edges collapse,
    * self-loops drop, most hub nodes dangle. */
  private def docLinkEdges(s: org.apache.spark.sql.SparkSession, dir: String) = {
    val docs = Tables.documents(s, dir).select(col("doc_id"))
    docs.select(col("doc_id").as("src"),
        ((col("doc_id") * 7 + 3) % 1009).as("dst"))
      .unionByName(docs.select(col("doc_id").as("src"),
        ((col("doc_id") * 13 + 5) % 1009).as("dst")))
  }

  /** Persisted rank-artifact lifecycle per (JVM, source dir): the
    * doc-link edges land in two src-parity batches (batch 0 REPLAYED
    * after batch 1 — fingerprint no-op), with a refresh after EACH
    * ingest round so the final read serves a version that SUPERSEDED
    * an earlier partial-graph one behind the atomic CURRENT swap.
    * The PPR memo for the 20-seed vetted kernel follows the same
    * rhythm: swept on the partial graph, then growth-trigger-refreshed
    * after the full graph lands — so q_ppr_served reads a version
    * that superseded a stale one, not a happy-path one-shot. */
  private def pagerankArtifactRoot(s: org.apache.spark.sql.SparkSession, dir: String): String = {
    lshCleanupHook
    lshIndexes.computeIfAbsent(s"prart:$dir", { _ =>
      val path = java.nio.file.Files.createTempDirectory("graft-prart").toString
      graft.operators.GraphArtifact.initRankArtifact(s, path, iters = 5)
      val raw = docLinkEdges(s, dir)
      val seeds = s.range(20).select(col("id").as("node"))
      graft.operators.GraphArtifact.ingestEdgeBatch(
        raw.filter(col("src") % 2 === 0), path, 0L)
      graft.operators.GraphArtifact.refreshRanks(s, path) // v_1: partial graph
      // PPR memo v_1 on the partial graph (never-swept → refreshes)
      graft.operators.GraphArtifact.maybeRefreshPpr(s, path, seeds)
      graft.operators.GraphArtifact.ingestEdgeBatch(
        raw.filter(col("src") % 2 === 1), path, 1L)
      // at-least-once redelivery of batch 0: fingerprint no-op
      graft.operators.GraphArtifact.ingestEdgeBatch(
        raw.filter(col("src") % 2 === 0), path, 0L)
      // merge-compact the two edge batches into b=0_1 BEFORE the final
      // refresh — the served ranks sweep MERGED state, so the
      // q_pagerank_artifact / q_ppr_artifact / q_ppr_served hash
      // gates also prove the merge preserved the edge multiset
      graft.operators.GraphArtifact.mergeEdgeBatches(s, path, maxDirs = 1)
      graft.operators.GraphArtifact.refreshRanks(s, path) // v_2: full graph
      // edge rows ~doubled → far past the growth bound → PPR memo v_2
      graft.operators.GraphArtifact.maybeRefreshPpr(s, path, seeds)
      path
    })
  }

  /** The canonical title catalog shared by the record-linkage lookup
    * family (q_editdist_lookup / q_editdist_indexed): first four
    * house-tokenized words per doc, exact-deduped to (id, title) with
    * id = min(doc_id) — the clean list a dirty batch resolves against. */
  private def titleCatalog(s: org.apache.spark.sql.SparkSession, dir: String) =
    docsFanned(s, dir, "doc_id", "text")
      .select(col("doc_id"),
        array_join(slice(TextStats.tokens(col("text")), 1, 4), " ").as("title"))
      .groupBy("title").agg(min(col("doc_id")).as("id"))
      .select("id", "title")

  /** The deterministic dirty inbound batch over a title catalog:
    * negative odd/even typo ids (see q_editdist_join) — provably
    * disjoint from the non-negative catalog ids at any SF. */
  private def dirtyTitles(ttl: org.apache.spark.sql.DataFrame) =
    ttl.filter(col("id") % 11 === 0)
      .select((-(col("id") * 2 + 1)).as("id"), concat(col("title"), lit("x")).as("title"))
      .unionByName(ttl.filter(col("id") % 13 === 0)
        .select((-(col("id") * 2 + 2)).as("id"), concat(col("title"), lit(" q")).as("title")))

  /** ONE oracle for both lookup tiers (recompute and indexed): the
    * UNCHANGED generated Ed-Join replay (two-sided union frequency
    * order) with sa = the dirty batch and sb = the catalog —
    * deliberately a DIFFERENT candidate scheme than the engine's:
    * the prefix lemma makes both complete for any shared order and
    * the exact verify decides every pair, so the hash gate also
    * proves neither restructure lost candidates. */
  private lazy val editDistLookupOracleSql =
    s"""WITH toks AS (
       |  SELECT doc_id,
       |         string_split(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ') AS t
       |  FROM documents),
       |ttl AS (
       |  SELECT min(doc_id) AS id, title
       |  FROM (SELECT doc_id, array_to_string(t[1:4], ' ') AS title FROM toks)
       |  GROUP BY title),
       |dirty AS (
       |  SELECT -(id * 2 + 1) AS id, title || 'x' AS title FROM ttl WHERE id % 11 = 0
       |  UNION ALL SELECT -(id * 2 + 2), title || ' q' FROM ttl WHERE id % 13 = 0),
       |sa AS (SELECT id AS a_id, title AS a_s FROM dirty),
       |sb AS (SELECT id AS b_id, title AS b_s FROM ttl),
       |${graft.operators.FuzzyJoin.editDistanceJoinSql(2)}
       |SELECT a_id, b_id, dist FROM ed
       |ORDER BY a_id, b_id"""

  /** Persisted fuzzy-link index lifecycle per (JVM, source dir): the
    * title catalog lands in two id-parity batches (batch 0 REPLAYED
    * after batch 1 — fingerprint no-op), with a refresh after EACH
    * ingest round so the served version SUPERSEDED an earlier
    * partial-catalog one behind the atomic CURRENT swap. */
  private def fuzzyLinkIndexRoot(s: org.apache.spark.sql.SparkSession, dir: String): String = {
    lshCleanupHook
    lshIndexes.computeIfAbsent(s"fuzzylink:$dir", { _ =>
      val path = java.nio.file.Files.createTempDirectory("graft-fuzzylink").toString
      graft.operators.FuzzyLinkIndex.initLinkIndex(s, path, k = 2, q = 2)
      val ttl = titleCatalog(s, dir).localCheckpoint()
      def ingest(parity: Int, key: Long): Unit =
        graft.operators.FuzzyLinkIndex.ingestCatalogBatch(
          ttl.filter(col("id") % 2 === parity), path, key, "id", "title")
      ingest(0, 0L)
      graft.operators.FuzzyLinkIndex.refreshLinkIndex(s, path) // v_1: partial catalog
      ingest(1, 1L)
      ingest(0, 0L) // at-least-once redelivery of batch 0: fingerprint no-op
      // merge-compact the two catalog batches into b=0_1 BEFORE the
      // final refresh — the served index derives from MERGED state,
      // so q_editdist_indexed's hash gate also proves the merge
      // preserved the catalog exactly
      graft.operators.FuzzyLinkIndex.mergeCatalogBatches(s, path, maxDirs = 1)
      // v_2: full catalog, with the epoch DELIBERATELY pinned to
      // v_1's half-catalog order (bound 1.0 = never re-rank): the
      // full-recompute oracle then hash-gates, at all 3 SFs, that a
      // stale-epoch selection still finds exactly the true pairs —
      // the completeness half of the r19 epoch split, proven on the
      // serving surface rather than assumed from the lemma
      graft.operators.FuzzyLinkIndex.refreshLinkIndex(s, path, orderStaleBound = 1.0)
      path
    })
  }

  /** Persisted model-artifact lifecycle per (JVM, source dir): v_1 is
    * fitted on a deterministic HALF of the training frame (even
    * calendar days), then [[graft.ml.ModelArtifact.maybeRefresh]] with
    * the full frame must trip the growth trigger (~100% ≥ 10%) and
    * publish the full-frame fit behind the CURRENT swap — q_ml_served
    * reads a version that SUPERSEDED a stale one. */
  private def modelArtifactRoot(s: org.apache.spark.sql.SparkSession, dir: String): String = {
    lshCleanupHook
    lshIndexes.computeIfAbsent(s"mlmodel:$dir", { _ =>
      val path = java.nio.file.Files.createTempDirectory("graft-mlmodel").toString
      graft.ml.ModelArtifact.init(s, path)
      val feats = graft.ml.PricePredictor.features(s, dir)
      graft.ml.ModelArtifact.refresh(s, path,
        feats.filter(dayofmonth(col("d")) % 2 === 0)) // v_1: stale vintage
      graft.ml.ModelArtifact.maybeRefresh(s, path, feats) // v_2 supersedes
      path
    })
  }

  // The messy-URL fixture shared by the q_domain_* family AND the
  // curation capstone's anti-domination stage — ONE definition on
  // each engine side so the queries cannot drift: uppercase
  // schemes/hosts, default + non-default ports, userinfo, tracking
  // params, fragments, trailing slashes, and three PSL shapes (a
  // *.kobe.jp wildcard host, its !city.kobe.jp exception, a 3-label
  // k12.ca.us exact suffix).
  private val syntheticUrlSql =
    """CASE CAST(doc_id % 8 AS INT)
      |           WHEN 0 THEN 'HTTP://WWW.Example.COM:80/a/' || CAST(doc_id % 4 AS VARCHAR) || '/?utm_source=x&id=' || CAST(doc_id % 3 AS VARCHAR)
      |           WHEN 1 THEN 'https://News.Example.co.uk/Article/' || CAST(doc_id AS VARCHAR) || '?fbclid=' || CAST(doc_id AS VARCHAR)
      |           WHEN 2 THEN 'https://blog.Other.ORG:443/post/?b=2&a=' || CAST(doc_id % 7 AS VARCHAR)
      |           WHEN 3 THEN 'http://user@example.com/a/0?utm_campaign=z&utm_medium=m#frag'
      |           WHEN 4 THEN 'https://b.a.Shop.Kobe.JP/w/' || CAST(doc_id % 3 AS VARCHAR)
      |           WHEN 5 THEN 'http://www.City.Kobe.JP/ward/' || CAST(doc_id % 2 AS VARCHAR)
      |           WHEN 6 THEN 'https://sub.School.K12.CA.US/class/' || CAST(doc_id % 2 AS VARCHAR)
      |           ELSE 'https://Sub.Site.COM.AU/x/' || CAST(doc_id % 2 AS VARCHAR) || '//'
      |         END""".stripMargin
  private def syntheticUrl(id: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(id % 8 === 0, concat(lit("HTTP://WWW.Example.COM:80/a/"),
      (id % 4).cast("string"), lit("/?utm_source=x&id="), (id % 3).cast("string")))
    .when(id % 8 === 1, concat(lit("https://News.Example.co.uk/Article/"),
      id.cast("string"), lit("?fbclid="), id.cast("string")))
    .when(id % 8 === 2, concat(lit("https://blog.Other.ORG:443/post/?b=2&a="),
      (id % 7).cast("string")))
    .when(id % 8 === 3, lit("http://user@example.com/a/0?utm_campaign=z&utm_medium=m#frag"))
    .when(id % 8 === 4, concat(lit("https://b.a.Shop.Kobe.JP/w/"), (id % 3).cast("string")))
    .when(id % 8 === 5, concat(lit("http://www.City.Kobe.JP/ward/"), (id % 2).cast("string")))
    .when(id % 8 === 6, concat(lit("https://sub.School.K12.CA.US/class/"), (id % 2).cast("string")))
    .otherwise(concat(lit("https://Sub.Site.COM.AU/x/"),
      (id % 2).cast("string"), lit("//")))

  /** The synthetic-URL → canonical-host → PSL-registered-domain CTE
    * chain (doc_id, domain as `<pfx>dom`) — ONE definition shared by
    * q_domain_cap and the curation capstone's anti-domination stage,
    * so the host canonicalization and PSL replay cannot drift between
    * their oracles. `pfx` namespaces the CTEs (the capstone's WITH
    * scope already uses d/p); `where` restricts the doc set (e.g.
    * " WHERE doc_id >= 25" for the capstone's corpus split). Built by
    * placeholder substitution: %P% = prefix (the literal '@' in the
    * userinfo-strip regex forbids a plain replace on '@'). */
  private def domainCtesSql(pfx: String, where: String = ""): String =
    ("""%P%d AS (
      |  SELECT doc_id,
      |         URLEXPR AS url
      |  FROM documentsWHERECLAUSE),
      |%P%p AS (
      |  SELECT doc_id,
      |         lower(regexp_extract(trim(url), '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS sch,
      |         regexp_replace(regexp_replace(trim(url), '#.*$', ''), '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest
      |  FROM %P%d),
      |%P%h0 AS (
      |  SELECT doc_id, sch,
      |         regexp_replace(lower(regexp_extract(rest, '^([^/?]*)', 1)), '^[^@]*@', '') AS hp
      |  FROM %P%p),
      |%P%h1 AS (
      |  SELECT doc_id, CASE WHEN sch = 'http' THEN regexp_replace(hp, ':80$', '')
      |                      WHEN sch = 'https' THEN regexp_replace(hp, ':443$', '')
      |                      ELSE hp END AS hp2
      |  FROM %P%h0),
      |%P%h2 AS (SELECT doc_id,
      |              regexp_replace(regexp_replace(hp2, '^www\.', ''), ':\d+$', '') AS host_np
      |       FROM %P%h1),
      |%P%dom AS (
      |  SELECT doc_id,
      |""".stripMargin +
      graft.functions.Urls.registeredDomainSql("host_np") + """ AS domain
      |  FROM %P%h2)""".stripMargin)
      .replace("URLEXPR", syntheticUrlSql)
      .replace("WHERECLAUSE", where)
      .replace("%P%", pfx)

  /** Drift-monitor lifecycle per (JVM, source dir): a fresh quantile
    * artifact + alarm log driven through three l_orderkey-mod-3 price
    * batches — batch 2 shifted one octave (v*2) so the log carries
    * both alarm bands — then batch 1 REDELIVERED after every fold:
    * both replay gates hold (committed alarm, fingerprinted part), so
    * the log and artifact must stay verbatim. q_drift_monitor reads
    * the alarm log against an oracle that re-derives every alarm from
    * scratch. */
  private def driftMonitorRoot(s: org.apache.spark.sql.SparkSession, dir: String): String = {
    lshCleanupHook
    lshIndexes.computeIfAbsent(s"driftmon:$dir", { _ =>
      val path = java.nio.file.Files.createTempDirectory("graft-driftmon").toString
      val art = s"$path/art"
      val alarms = s"$path/alarms"
      graft.operators.Profile.initQuantileArtifact(s, art, mbits = 6)
      def batch(m: Int, shift: Boolean) = {
        val b = priceCentsByFlag(s, dir).filter(col("l_orderkey") % 3 === m)
        if (shift) b.select(col("g"), (col("v") * 2).as("v"))
        else b.select("g", "v")
      }
      graft.streaming.StreamingDrift.processBatch(batch(0, false), 0L, "g", "v", art, alarms)
      graft.streaming.StreamingDrift.processBatch(batch(1, false), 1L, "g", "v", art, alarms)
      graft.streaming.StreamingDrift.processBatch(batch(2, true), 2L, "g", "v", art, alarms)
      // at-least-once redelivery AFTER later batches folded
      graft.streaming.StreamingDrift.processBatch(batch(1, false), 1L, "g", "v", art, alarms)
      path
    })
  }

  /** Exact materialized-aggregate artifact per (JVM, source dir):
    * per-returnflag (count, price-cents sum) maintained by batch
    * folds (lineitem split by l_orderkey parity, batch 0 REPLAYED).
    * Additivity makes the served view EXACT, so q_agg_artifact's
    * oracle is the plain GROUP BY over the whole table. */
  private def aggArtifactRoot(s: org.apache.spark.sql.SparkSession, dir: String): String =
    parityArtifactRoot(dir, "aggart", priceCentsByFlag(s, dir), "l_orderkey")(
      graft.operators.Profile.initAggArtifact(s, _, "g", "v"))(
      (df, p, b) => graft.operators.Profile.aggIngestBatch(df, "g", "v", p, b))(
      graft.operators.Profile.mergeArtifactParts(s, _, maxDirs = 1))

  /** Shared IR-metric SQL tail for the q_rank_eval* queries: consumes
    * WITH-scope relations `truth` / `cand` (q_id, n_id, rnk ≤ k) and
    * emits per-probe recall/MRR/nDCG at cutoff `k` — ONE definition
    * (the [[graft.operators.RankEval.metrics]] replay), so the metric
    * arithmetic can never silently diverge between evaluated tiers. */
  private def irMetricsSqlTail(k: Int): String =
    s"""tc AS (SELECT q_id, CAST(count(*) AS BIGINT) AS n_rel FROM truth GROUP BY 1),
       |jj AS (
       |  SELECT l.q_id, l.rnk,
       |         CASE WHEN t.n_id IS NOT NULL THEN 1 ELSE 0 END AS rel
       |  FROM cand l LEFT JOIN truth t ON t.q_id = l.q_id AND t.n_id = l.n_id),
       |agg AS (
       |  SELECT q_id, CAST(count(*) AS BIGINT) AS n_cand,
       |         CAST(sum(rel) AS BIGINT) AS hits,
       |         min(CASE WHEN rel = 1 THEN rnk END) AS fr,
       |         list_sum(list(rel / (ln(rnk + 1.0) / ln(2.0)) ORDER BY rnk)) AS dcg
       |  FROM jj GROUP BY 1),
       |idcg AS (
       |  SELECT tc.q_id,
       |         list_sum(list_transform(range(1, least(tc.n_rel, $k) + 1),
       |           i -> 1.0 / (ln(i + 1.0) / ln(2.0)))) AS v
       |  FROM tc)
       |SELECT tc.q_id, tc.n_rel,
       |       coalesce(a.n_cand, 0) AS n_cand,
       |       coalesce(a.hits, 0) AS hits,
       |       round(CAST(coalesce(a.hits, 0) AS DOUBLE) / tc.n_rel, 6) AS recall,
       |       round(coalesce(1.0 / a.fr, 0.0), 6) AS mrr,
       |       round(CASE WHEN i.v > 0 THEN coalesce(a.dcg, 0.0) / i.v ELSE 0.0 END, 6) AS ndcg
       |FROM tc LEFT JOIN agg a USING (q_id) JOIN idcg i USING (q_id)
       |ORDER BY q_id""".stripMargin

  def init(): Unit = if (!registry.contains("q_dedup_exact")) {

    // Exact dedup on normalized content (hash groupBy — one shuffle).
    register("q_dedup_exact",
      """SELECT min(doc_id) AS keeper_id, count(*) AS n_copies
        |FROM (SELECT doc_id,
        |             regexp_replace(trim(lower(text)), '\s+', ' ', 'g') AS norm
        |      FROM documents) t
        |GROUP BY norm ORDER BY keeper_id""") { (s, dir) =>
      Dedup.exact(Tables.documents(s, dir)).orderBy("keeper_id")
    }

    // Text analysis: token counts, BPE-ish counts, quality scoring.
    register("q_text_stats",
      """SELECT doc_id,
        |       len(string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ')) AS n_tokens,
        |       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_bpeish,
        |       round(CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE)
        |             / len(string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ')), 4) AS avg_tok_len,
        |       round(CAST(len(list_filter(string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' '),
        |                       x -> x IN ('the','a','an','of','to','in','and','is'))) AS DOUBLE)
        |             / len(string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ')), 4) AS stop_ratio,
        |       round(least(1.0, len(string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ')) / 100.0)
        |             * (1.0 - CAST(len(list_filter(string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' '),
        |                       x -> x IN ('the','a','an','of','to','in','and','is'))) AS DOUBLE)
        |               / len(string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' '))), 4) AS quality
        |FROM documents ORDER BY doc_id""") { (s, dir) =>
      Tables.documents(s, dir)
        .withColumn("toks", TextStats.tokens(col("text"))) // tokenize once
        .select(
          col("doc_id"),
          size(col("toks")).cast("long").as("n_tokens"),
          TextStats.bpeishCount(col("text")).cast("long").as("n_bpeish"),
          round(TextStats.nCharsNoSpace(col("text")).cast("double") / size(col("toks")), 4)
            .as("avg_tok_len"),
          round(TextStats.stopwordRatioOf(col("toks")), 4).as("stop_ratio"),
          round(TextStats.qualityScoreOf(col("toks")), 4).as("quality"))
        .orderBy("doc_id")
    }

    // Language-ID heuristic vs the labeled lang column.
    register("q_lang_id",
      """WITH g AS (
        |  SELECT doc_id, lang,
        |         CASE WHEN CAST(len(list_filter(string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' '),
        |                      x -> x IN ('the','a','an','of','to','in','and','is'))) AS DOUBLE)
        |                   / len(string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ')) >= 0.05
        |              THEN 'en' ELSE 'unknown' END AS guessed
        |  FROM documents)
        |SELECT guessed, lang, count(*) AS n FROM g
        |GROUP BY 1, 2 ORDER BY 1, 2""") { (s, dir) =>
      Tables.documents(s, dir)
        .withColumn("toks", TextStats.tokens(col("text")))
        .select(col("lang"), TextStats.langGuessOf(col("toks")).as("guessed"))
        .groupBy("guessed", "lang")
        .agg(count(lit(1)).as("n"))
        .orderBy("guessed", "lang")
    }

    // Document fingerprinting (md5 content hash + LSH-ish band).
    register("q_fingerprint",
      """SELECT doc_id,
        |       md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp,
        |       substring(md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')), 1, 4) AS band
        |FROM documents ORDER BY doc_id""") { (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), TextStats.fingerprint(col("text")).as("fp"))
        .withColumn("band", substring(col("fp"), 1, 4)) // hash once
        .orderBy("doc_id")
    }

    // VADER-style sentiment — full scorer (lexicon + caps boost +
    // booster/negation lookback + exclamation emphasis) as pure
    // built-ins, so the ENTIRE heuristic carries a value-exact DuckDB
    // oracle: the bounded 3-token lookback fold is unrolled closed-form
    // on both sides (see Sentiment.compound).
    {
      val valCase = Sentiment.lexicon.toSeq.sortBy(_._1)
        .map { case (w, v) => s"WHEN '$w' THEN CAST($v AS DOUBLE)" }.mkString(" ")
      val sgnCase = Sentiment.lexicon.toSeq.sortBy(_._1)
        .map { case (w, v) => s"WHEN '$w' THEN CAST(${math.signum(v)} AS DOUBLE)" }.mkString(" ")
      def boostCase(subject: String) = Sentiment.boosters.toSeq.sortBy(_._1)
        .map { case (w, b) => s"WHEN '$w' THEN CAST($b AS DOUBLE)" }
        .mkString(s"CASE $subject ", " ", " ELSE CAST(0.0 AS DOUBLE) END")
      val negList = Sentiment.negations.toSeq.sorted.map(n => s"'$n'").mkString(", ")
      def pred(back: Int) = s"(CASE WHEN i > $back THEN toks[i - $back] ELSE NULL END)"
      def flip(back: Int) =
        s"(CASE WHEN ${pred(back)} IN ($negList) THEN CAST(-0.74 AS DOUBLE) ELSE CAST(1.0 AS DOUBLE) END)"
      // ((vInit + sgn·B(p3))·F(p3) + sgn·B(p2))·F(p2) + sgn·B(p1))·F(p1)
      val contrib = Seq(3, 2, 1).foldLeft(
        s"""((CASE x $valCase ELSE CAST(0.0 AS DOUBLE) END)
           | + (CASE WHEN (n_caps > 0 AND n_caps < n_lettered)
           |           AND regexp_matches(stripped[i], '[A-Za-z]')
           |           AND upper(stripped[i]) = stripped[i]
           |         THEN (CASE x $sgnCase ELSE CAST(0.0 AS DOUBLE) END) * CAST(0.733 AS DOUBLE)
           |         ELSE CAST(0.0 AS DOUBLE) END))""".stripMargin) { (acc, back) =>
        s"""(($acc
           | + (CASE x $sgnCase ELSE CAST(0.0 AS DOUBLE) END) * ${boostCase(pred(back))})
           | * ${flip(back)})""".stripMargin
      }
      register("q_sentiment",
        s"""WITH t AS (
           |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS raw FROM documents),
           |s1 AS (
           |  SELECT doc_id, raw,
           |         list_transform(raw, x -> regexp_replace(x, '[!?.,;:]+${"$"}', '')) AS stripped
           |  FROM t),
           |s2 AS (
           |  SELECT doc_id, raw, stripped,
           |         list_transform(stripped, x -> lower(x)) AS toks,
           |         len(list_filter(stripped, x -> regexp_matches(x, '[A-Za-z]'))) AS n_lettered,
           |         len(list_filter(stripped, x -> regexp_matches(x, '[A-Za-z]') AND upper(x) = x)) AS n_caps,
           |         least(4, list_sum(list_transform(raw, x -> length(x) - length(replace(x, '!', ''))))) AS n_excl
           |  FROM s1),
           |s3 AS (
           |  SELECT doc_id, n_excl,
           |         list_sum(list_transform(toks, (x, i) -> $contrib)) AS total
           |  FROM s2)
           |SELECT doc_id,
           |       round(adj / sqrt(adj * adj + CAST(15.0 AS DOUBLE)), 4)
           |         + CAST(0.0 AS DOUBLE) AS sentiment
           |FROM (
           |  SELECT doc_id,
           |         CASE WHEN total > 0 THEN total + n_excl * CAST(0.292 AS DOUBLE)
           |              WHEN total < 0 THEN total - n_excl * CAST(0.292 AS DOUBLE)
           |              ELSE total END AS adj
           |  FROM s3) f
           |ORDER BY doc_id""".stripMargin) { (s, dir) =>
        Sentiment.withCompound(Tables.documents(s, dir), "text", "sentiment")
          .select("doc_id", "sentiment")
          .orderBy("doc_id")
      }
    }

    // The scorer's lexicon core, pure-relational (no UDF): per-token
    // valence lookup → sum → compound normalization s/sqrt(s²+α). This
    // IS DuckDB-expressible, so the lexicon path gets a value-exact
    // oracle; the negation/booster lookback stays UDF-side (q_sentiment).
    {
      // Lexicon valences are exact tenths, so the per-token sum is an
      // INTEGER sum scaled by 10 — order-independent, which frees the
      // Spark plan to explode → broadcast-join the lexicon dim →
      // hash-agg (whole-stage codegen; cost scales with the corpus,
      // not the lexicon). The per-token ~320-way CASE fold this
      // replaced ran INTERPRETED inside the transform() lambda and
      // went quadratic-ish with lexicon growth (76 s at sf0.1 vs
      // 0.6 s for this shape). Both sides divide the same integer by
      // 10.0, so the compare stays byte-exact.
      val caseSql = Sentiment.lexicon.toSeq.sortBy(_._1)
        .map { case (w, v) => s"WHEN '$w' THEN ${math.round(v * 10)}" }.mkString(" ")
      register("q_sentiment_lexicon",
        s"""SELECT doc_id,
           |       round(s / sqrt(s * s + 15.0), 4) + CAST(0.0 AS DOUBLE) AS lex_score
           |FROM (
           |  SELECT doc_id,
           |         CAST(list_sum(list_transform(
           |           string_split(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' '),
           |           x -> CASE x $caseSql ELSE 0 END)) AS DOUBLE)
           |           / CAST(10.0 AS DOUBLE) AS s
           |  FROM documents) t
           |ORDER BY doc_id""") { (s, dir) =>
        import s.implicits._
        val lex = Sentiment.lexicon.toSeq.sortBy(_._1)
          .map { case (w, v) => (w, math.round(v * 10)) }.toDF("tok", "v10")
        // explode_outer + the has-tokens flag: a NULL-text doc keeps its
        // row with a NULL score (as the oracle's list_sum(NULL) does) —
        // a plain explode would silently drop it
        Tables.documents(s, dir)
          .select(col("doc_id"), explode_outer(TextStats.tokens(col("text"))).as("tok"))
          .join(broadcast(lex), Seq("tok"), "left")
          .groupBy("doc_id")
          .agg((sum(coalesce(col("v10"), lit(0L))).cast("double")
            / lit(10.0)).as("s0"),
            max(col("tok").isNotNull).as("has"))
          .withColumn("s", when(col("has"), col("s0")))
          .select(col("doc_id"),
            round(col("s") / sqrt(col("s") * col("s") + lit(15.0)), 4).as("lex_score"))
          .orderBy("doc_id")
      }
    }

    // MinHash-LSH near-dup (banded; DedupSpec checks recall vs brute
    // force). The md5-based permutation family is overflow-free 64-bit
    // arithmetic, so signatures, banding, the candidate join AND the
    // exact-Jaccard verify all replay value-exactly in DuckDB.
    {
      val coeffs = Dedup.minhashCoeffs(64)
      val sigEntries = coeffs.map { case (a, b) =>
        s"list_min(list_transform(h32, x -> (x * $a + $b) % ${Dedup.minhashP}))"
      }.mkString("[", ",\n           ", "]")
      // shared CTE chain ending in `pairs` (the verified near-dup pairs) —
      // the q_dedup_minhash result and the q_dedup_groups input
      val pairsCte =
        s"""t AS (
           |  SELECT doc_id,
           |         string_split(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ') AS toks
           |  FROM documents),
           |g AS (
           |  SELECT doc_id,
           |         CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
           |              ELSE list_transform(range(len(toks) - 2),
           |                                  i -> array_to_string(toks[(i+1):(i+3)], ' ')) END AS grams
           |  FROM t),
           |h AS (
           |  SELECT doc_id,
           |         list_distinct(list_transform(grams,
           |           s -> CAST(concat('0x', substring(md5(s), 1, 8)) AS BIGINT))) AS h32,
           |         list_sort(list_distinct(list_transform(grams,
           |           s -> CAST(concat('0x', substring(md5(s), 1, 15)) AS BIGINT)))) AS h60
           |  FROM g),
           |sig AS (
           |  SELECT doc_id, $sigEntries AS sigs
           |  FROM h),
           |keyed AS (
           |  SELECT doc_id,
           |         unnest(list_transform(range(16),
           |           t -> concat(t, ':', array_to_string(sigs[(t*4+1):(t*4+4)], ',')))) AS band
           |  FROM sig),
           |cand AS (
           |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           |  FROM keyed a JOIN keyed b ON a.band = b.band AND a.doc_id < b.doc_id),
           |j AS (
           |  SELECT doc_a, doc_b,
           |         CAST(len(list_intersect(sa.h60, sb.h60)) AS DOUBLE)
           |         / (len(sa.h60) + len(sb.h60) - len(list_intersect(sa.h60, sb.h60))) AS jacc_raw
           |  FROM cand
           |  JOIN h sa ON sa.doc_id = cand.doc_a
           |  JOIN h sb ON sb.doc_id = cand.doc_b),
           |pairs AS (SELECT doc_a, doc_b, round(jacc_raw, 4) AS jaccard
           |          FROM j WHERE jacc_raw >= 0.5)"""
      register("q_dedup_minhash",
        s"""WITH $pairsCte
           |SELECT doc_a, doc_b, jaccard FROM pairs
           |ORDER BY doc_a, doc_b""") { (s, dir) =>
        Dedup.minhashPairs(Tables.documents(s, dir)).orderBy("doc_a", "doc_b")
      }

      // Duplicate-GROUP resolution: connected components over the
      // near-dup pair graph, each doc labeled with its component's
      // minimum doc_id (the canonical keeper). Spark side is the
      // alternating large-star/small-star contraction (O(log² n)
      // rounds, two bounded shuffles each — diameter-independent);
      // the oracle replays the same components by recursive
      // min-reachability over the identical DuckDB pair set.
      register("q_dedup_groups",
        s"""WITH RECURSIVE $pairsCte,
           |edges AS (
           |  SELECT doc_a AS u, doc_b AS v FROM pairs
           |  UNION
           |  SELECT doc_b, doc_a FROM pairs),
           |reach AS (
           |  SELECT DISTINCT u, u AS m FROM edges
           |  UNION
           |  SELECT e.u, r.m FROM edges e JOIN reach r ON e.v = r.u),
           |grp AS (SELECT u AS doc_id, min(m) AS group_id FROM reach GROUP BY u)
           |SELECT doc_id, group_id,
           |       count(*) OVER (PARTITION BY group_id) AS n_members
           |FROM grp
           |ORDER BY doc_id""") { (s, dir) =>
        val pairs = Dedup.minhashPairs(docsFanned(s, dir, "doc_id", "text"))
          .select("doc_a", "doc_b")
        Dedup.connectedComponents(pairs)
          .withColumn("n_members", count(lit(1)).over(
            org.apache.spark.sql.expressions.Window.partitionBy("group_id")))
          .orderBy("doc_id")
      }

      // The SAME components reached incrementally: the near-dup pairs
      // are split in two deterministic batches, the first builds the
      // persisted (doc_id, group_id) state, the second MERGES into it
      // (root-level CC over the batch only — rounds ∝ batch diameter —
      // then a bucket-pruned relabel). The oracle is q_dedup_groups'
      // full-recompute recursive CTE, so incremental ≡ rebuild is
      // hash-gated on real data, on top of IncrementalCcSpec's
      // crash/replay fixtures. This is the streaming dedup path's
      // missing half: candidates ∝ batch (persisted LSH index), and
      // now GROUP ASSIGNMENT ∝ batch too.
      register("q_dedup_groups_incremental",
        s"""WITH RECURSIVE $pairsCte,
           |edges AS (
           |  SELECT doc_a AS u, doc_b AS v FROM pairs
           |  UNION
           |  SELECT doc_b, doc_a FROM pairs),
           |reach AS (
           |  SELECT DISTINCT u, u AS m FROM edges
           |  UNION
           |  SELECT e.u, r.m FROM edges e JOIN reach r ON e.v = r.u),
           |grp AS (SELECT u AS doc_id, min(m) AS group_id FROM reach GROUP BY u)
           |SELECT doc_id, group_id,
           |       count(*) OVER (PARTITION BY group_id) AS n_members
           |FROM grp
           |ORDER BY doc_id""") { (s, dir) =>
        Dedup.readComponentState(s, ccStateRoot(s, dir))
          .withColumn("n_members", count(lit(1)).over(
            org.apache.spark.sql.expressions.Window.partitionBy("group_id")))
          .orderBy("doc_id")
      }

      // Near-dup-aware train/val/test split — the leakage-safety story
      // end to end: the split key is the doc's duplicate-GROUP id from
      // the INCREMENTALLY-maintained component state (own doc_id for
      // docs with no near-dup), so two near-duplicate documents can
      // never straddle the train/eval boundary — the contamination
      // q_split_assign prevents at source grain, enforced at the
      // finer near-dup grain. Map-only on top of the state read; the
      // oracle recomputes components from scratch AND replays the md5
      // split arithmetic, so a stale or wrong state row flips a
      // doc's split and fails the hash.
      register("q_split_groups",
        s"""WITH RECURSIVE $pairsCte,
           |edges AS (
           |  SELECT doc_a AS u, doc_b AS v FROM pairs
           |  UNION
           |  SELECT doc_b, doc_a FROM pairs),
           |reach AS (
           |  SELECT DISTINCT u, u AS m FROM edges
           |  UNION
           |  SELECT e.u, r.m FROM edges e JOIN reach r ON e.v = r.u),
           |grp AS (SELECT u AS doc_id, min(m) AS group_id FROM reach GROUP BY u),
           |k AS (SELECT d.doc_id, coalesce(g.group_id, d.doc_id) AS group_key
           |      FROM documents d LEFT JOIN grp g USING (doc_id))
           |SELECT doc_id, group_key,
           |       CASE WHEN u < 0.8 THEN 'train' WHEN u < 0.9 THEN 'val' ELSE 'test' END AS split
           |FROM (SELECT doc_id, group_key,
           |             CAST(concat('0x', substring(md5(concat(group_key, ':42')), 1, 15)) AS BIGINT)
           |               / 1152921504606846976.0 AS u
           |      FROM k)
           |ORDER BY doc_id""") { (s, dir) =>
        val keyed = Tables.documents(s, dir)
          .join(Dedup.readComponentState(s, ccStateRoot(s, dir)), Seq("doc_id"), "left")
          .withColumn("group_key", coalesce(col("group_id"), col("doc_id")))
        graft.operators.Sampling.assignSplit(keyed, "group_key")
          .select(col("doc_id"), col("group_key"), col("split"))
          .orderBy("doc_id")
      }

      // Dup-mass telemetry: the duplicate-GROUP size histogram (how
      // many groups of 2, of 3, ... — plus the singleton count) and
      // each band's share of the corpus. The curation dashboard's
      // "how much dup mass, in what shape" rollup over the SAME
      // oracle-proven components as q_dedup_groups; group-count-sized
      // aggregates after the census.
      register("q_dedup_group_sizes",
        s"""WITH RECURSIVE $pairsCte,
           |edges AS (
           |  SELECT doc_a AS u, doc_b AS v FROM pairs
           |  UNION
           |  SELECT doc_b, doc_a FROM pairs),
           |reach AS (
           |  SELECT DISTINCT u, u AS m FROM edges
           |  UNION
           |  SELECT e.u, r.m FROM edges e JOIN reach r ON e.v = r.u),
           |grp AS (SELECT u AS doc_id, min(m) AS group_id FROM reach GROUP BY u),
           |sizes AS (SELECT group_id, CAST(count(*) AS BIGINT) AS sz FROM grp GROUP BY 1),
           |withsingles AS (
           |  SELECT sz, CAST(count(*) AS BIGINT) AS n_groups FROM sizes GROUP BY 1
           |  UNION ALL
           |  SELECT CAST(1 AS BIGINT),
           |         (SELECT count(*) FROM documents)
           |           - (SELECT CAST(coalesce(sum(sz), 0) AS BIGINT) FROM sizes))
           |SELECT sz, n_groups, CAST(sz * n_groups AS BIGINT) AS n_docs,
           |       round(CAST(sz * n_groups AS DOUBLE)
           |             / (SELECT count(*) FROM documents), 4) AS corpus_frac
           |FROM withsingles WHERE n_groups > 0
           |ORDER BY sz""") { (s, dir) =>
        val docs = Tables.documents(s, dir)
        val pairs = Dedup.minhashPairs(docsFanned(s, dir, "doc_id", "text"))
          .select("doc_a", "doc_b")
        val sizes = Dedup.connectedComponents(pairs)
          .groupBy("group_id").agg(count(lit(1)).as("sz"))
        val nDocs = docs.agg(count(lit(1)).as("n_total"))
        val dupTotal = sizes.agg(coalesce(sum(col("sz")), lit(0L)).as("n_dup"))
        val hist = sizes.groupBy("sz").agg(count(lit(1)).as("n_groups"))
          .unionByName(
            nDocs.crossJoin(dupTotal)
              .select(lit(1L).as("sz"), (col("n_total") - col("n_dup")).as("n_groups")))
        hist.filter(col("n_groups") > 0)
          .crossJoin(broadcast(nDocs))
          .select(col("sz"), col("n_groups"),
            (col("sz") * col("n_groups")).as("n_docs"),
            round((col("sz") * col("n_groups")).cast("double") / col("n_total"), 4)
              .as("corpus_frac"))
          .orderBy("sz")
      }

      // Survivor selection — the POLICY step after group resolution:
      // keep the highest-QUALITY member of each dup group (tie → min
      // doc_id), not the arbitrary min-id keeper. One mergeable
      // lexicographic-max aggregation per group; the oracle replays
      // components + quality and picks the same keeper by window rank.
      register("q_dedup_survivors",
        s"""WITH RECURSIVE $pairsCte,
           |edges AS (
           |  SELECT doc_a AS u, doc_b AS v FROM pairs
           |  UNION
           |  SELECT doc_b, doc_a FROM pairs),
           |reach AS (
           |  SELECT DISTINCT u, u AS m FROM edges
           |  UNION
           |  SELECT e.u, r.m FROM edges e JOIN reach r ON e.v = r.u),
           |grp AS (SELECT u AS doc_id, min(m) AS group_id FROM reach GROUP BY u),
           |q AS (
           |  SELECT doc_id,
           |         round(least(1.0, len(toks) / 100.0)
           |               * (1.0 - CAST(len(list_filter(toks,
           |                        x -> x IN ('the','a','an','of','to','in','and','is'))) AS DOUBLE)
           |                 / len(toks)), 4) AS quality
           |  FROM t),
           |jq AS (SELECT g.doc_id, g.group_id, q.quality FROM grp g JOIN q USING (doc_id)),
           |k AS (SELECT group_id, doc_id AS keeper
           |      FROM (SELECT group_id, doc_id,
           |                   row_number() OVER (PARTITION BY group_id
           |                                      ORDER BY quality DESC, doc_id) AS rn
           |            FROM jq) r WHERE rn = 1)
           |SELECT jq.doc_id, jq.group_id, jq.quality, jq.doc_id = k.keeper AS keep
           |FROM jq JOIN k USING (group_id)
           |ORDER BY jq.doc_id""") { (s, dir) =>
        val docs = docsFanned(s, dir, "doc_id", "text")
        val pairs = Dedup.minhashPairs(docs).select("doc_a", "doc_b")
        val groups = Dedup.connectedComponents(pairs)
        val quality = docs
          .withColumn("toks", TextStats.tokens(col("text")))
          .select(col("doc_id"),
            round(TextStats.qualityScoreOf(col("toks")), 4).as("quality"))
        Dedup.survivors(groups, quality)
          .select("doc_id", "group_id", "quality", "keep")
          .orderBy("doc_id")
      }

      // Survivor selection served off the INCREMENTALLY-maintained
      // component state (build + merge over two deterministic pair
      // batches, ccStateRoot) instead of a connected-components
      // recompute — the serving form once the persisted state exists:
      // group resolution is a bucket-partitioned parquet read, so the
      // policy step costs one aggregation + one join however many
      // merges built the state. The oracle is IDENTICAL to
      // q_dedup_survivors (full recursive-CTE recompute + window-rank
      // keeper), so incremental ≡ rebuild is hash-gated for the
      // survivor policy too, not just the raw group labels.
      register("q_dedup_survivors_state",
        s"""WITH RECURSIVE $pairsCte,
           |edges AS (
           |  SELECT doc_a AS u, doc_b AS v FROM pairs
           |  UNION
           |  SELECT doc_b, doc_a FROM pairs),
           |reach AS (
           |  SELECT DISTINCT u, u AS m FROM edges
           |  UNION
           |  SELECT e.u, r.m FROM edges e JOIN reach r ON e.v = r.u),
           |grp AS (SELECT u AS doc_id, min(m) AS group_id FROM reach GROUP BY u),
           |q AS (
           |  SELECT doc_id,
           |         round(least(1.0, len(toks) / 100.0)
           |               * (1.0 - CAST(len(list_filter(toks,
           |                        x -> x IN ('the','a','an','of','to','in','and','is'))) AS DOUBLE)
           |                 / len(toks)), 4) AS quality
           |  FROM t),
           |jq AS (SELECT g.doc_id, g.group_id, q.quality FROM grp g JOIN q USING (doc_id)),
           |k AS (SELECT group_id, doc_id AS keeper
           |      FROM (SELECT group_id, doc_id,
           |                   row_number() OVER (PARTITION BY group_id
           |                                      ORDER BY quality DESC, doc_id) AS rn
           |            FROM jq) r WHERE rn = 1)
           |SELECT jq.doc_id, jq.group_id, jq.quality, jq.doc_id = k.keeper AS keep
           |FROM jq JOIN k USING (group_id)
           |ORDER BY jq.doc_id""") { (s, dir) =>
        val docs = docsFanned(s, dir, "doc_id", "text")
        val quality = docs
          .withColumn("toks", TextStats.tokens(col("text")))
          .select(col("doc_id"),
            round(TextStats.qualityScoreOf(col("toks")), 4).as("quality"))
        Dedup.survivorsFromState(s, ccStateRoot(s, dir), quality)
          .select("doc_id", "group_id", "quality", "keep")
          .orderBy("doc_id")
      }

      // EXPORT CAPSTONE — the whole LOADER half as ONE plan, the
      // mirror of q_curate_corpus's cleaning half: duplicate-group
      // SURVIVORS (served off the incremental component state) →
      // leakage-safe GROUP-KEYED train split (near-dups never straddle
      // the boundary) → per-source TOKEN-BUDGET mix → size-budgeted
      // shard PACKING → DETERMINISTIC training-order shuffle. Every
      // stage's fragment is individually oracle-proven
      // (q_dedup_survivors_state, q_split_groups, q_token_budget_mix,
      // q_shard_pack, q_shuffle_order); this query hash-gates their
      // COMPOSITION — the row set a training job would actually read,
      // with its pack shard, order-preserving shuffle shard and exact
      // global position. The oracle recomputes components from
      // scratch and replays every window, so a stale state row, a
      // budget boundary bug or a shifted shuffle offset fails the hash.
      register("q_export_pipeline",
        s"""WITH RECURSIVE $pairsCte,
           |edges AS (
           |  SELECT doc_a AS u, doc_b AS v FROM pairs
           |  UNION
           |  SELECT doc_b, doc_a FROM pairs),
           |reach AS (
           |  SELECT DISTINCT u, u AS m FROM edges
           |  UNION
           |  SELECT e.u, r.m FROM edges e JOIN reach r ON e.v = r.u),
           |grp AS (SELECT u AS doc_id, min(m) AS group_id FROM reach GROUP BY u),
           |q AS (
           |  SELECT doc_id,
           |         round(least(1.0, len(toks) / 100.0)
           |               * (1.0 - CAST(len(list_filter(toks,
           |                        x -> x IN ('the','a','an','of','to','in','and','is'))) AS DOUBLE)
           |                 / len(toks)), 4) AS quality
           |  FROM t),
           |jq AS (SELECT g.doc_id, g.group_id, q.quality FROM grp g JOIN q USING (doc_id)),
           |k AS (SELECT group_id, doc_id AS keeper
           |      FROM (SELECT group_id, doc_id,
           |                   row_number() OVER (PARTITION BY group_id
           |                                      ORDER BY quality DESC, doc_id) AS rn
           |            FROM jq) r WHERE rn = 1),
           |kept AS (
           |  SELECT d.doc_id, coalesce(g.group_id, d.doc_id) AS group_key
           |  FROM documents d
           |  LEFT JOIN grp g USING (doc_id)
           |  LEFT JOIN k ON k.group_id = g.group_id
           |  WHERE g.doc_id IS NULL OR d.doc_id = k.keeper),
           |train AS (
           |  SELECT doc_id FROM kept
           |  WHERE CAST(concat('0x', substring(md5(concat(group_key, ':42')), 1, 15)) AS BIGINT)
           |          / 1152921504606846976.0 < 0.8),
           |sz AS (
           |  SELECT tr.doc_id, d.source, d.n_chars,
           |         CAST(len(t.toks) AS BIGINT) AS n_toks,
           |         md5(CAST(tr.doc_id AS VARCHAR)) AS hh
           |  FROM train tr
           |  JOIN documents d USING (doc_id)
           |  JOIN t ON t.doc_id = tr.doc_id),
           |b(source, budget) AS (VALUES ('src0', CAST(800 AS BIGINT)), ('src1', CAST(400 AS BIGINT)),
           |                             ('src2', CAST(999999 AS BIGINT)), ('src3', CAST(600 AS BIGINT))),
           |c AS (
           |  SELECT sz.*,
           |         coalesce(CAST(sum(n_toks) OVER (PARTITION BY source ORDER BY hh, n_toks
           |                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS bf
           |  FROM sz),
           |mixed AS (SELECT c.doc_id, c.source, c.n_toks, c.n_chars, c.hh
           |          FROM c JOIN b USING (source) WHERE c.bf < b.budget),
           |packed AS (
           |  SELECT doc_id, source, n_toks,
           |         CAST(floor(coalesce(CAST(sum(n_chars) OVER (ORDER BY hh, n_chars
           |                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
           |                / CAST(20000 AS DOUBLE)) AS INT) AS pack_shard
           |  FROM mixed),
           |sh AS (SELECT doc_id, md5(concat(CAST(doc_id AS VARCHAR), ':42')) AS sh_h FROM packed)
           |SELECT p.doc_id, p.source, p.n_toks, p.pack_shard,
           |       CAST(floor(CAST(concat('0x', substring(sh.sh_h, 1, 2)) AS INT) * 64 / 256) AS INT) AS shard,
           |       row_number() OVER (ORDER BY sh.sh_h, p.doc_id) - 1 AS pos
           |FROM packed p JOIN sh USING (doc_id)
           |ORDER BY p.doc_id""") { (s, dir) =>
        // fanned + pinned (r22): quality and the sized join otherwise
        // each re-tokenize the corpus off the single-task scan
        val toks = graft.operators.Checkpoints.pin(
          docsFanned(s, dir, "doc_id", "text", "source", "n_chars")
            .select(col("doc_id"), col("source"), col("n_chars"),
              TextStats.tokens(col("text")).as("toks")))
        val quality = toks.select(col("doc_id"),
          round(TextStats.qualityScoreOf(col("toks")), 4).as("quality"))
        val surv = Dedup.survivorsFromState(s, ccStateRoot(s, dir), quality)
        val kept = Tables.documents(s, dir).select(col("doc_id"))
          .join(surv.select(col("doc_id"), col("group_id"), col("keep")), Seq("doc_id"), "left")
          .withColumn("group_key", coalesce(col("group_id"), col("doc_id")))
          .filter(coalesce(col("keep"), lit(true)))
        val train = graft.operators.Sampling.assignSplit(kept, "group_key")
          .filter(col("split") === "train")
        // stage boundaries are PINNED (as a production export would
        // materialize between stages): the two-phase cumulative sums
        // inside mix/pack/shuffle each reference their input ~3×, and
        // without pins the whole upstream pipeline re-expands at every
        // reference — 27 copies of the survivor+split subtree in one
        // plan. Each pin computes its stage once, inside the timed run.
        val sized = train.select("doc_id")
          .join(toks.select(col("doc_id"), col("source"), col("n_chars"),
            size(col("toks")).cast("long").as("n_toks")), Seq("doc_id"))
          .localCheckpoint()
        val mixed = graft.operators.Sampling.tokenBudgetMix(sized, "source", "doc_id",
          "n_toks", Map("src0" -> 800L, "src1" -> 400L, "src2" -> 999999L, "src3" -> 600L))
          .localCheckpoint()
        val packed = graft.operators.Sharding.sizeBudgeted(mixed, "doc_id", "n_chars",
            target = 20000L)
          .withColumnRenamed("shard", "pack_shard")
          .localCheckpoint()
        graft.operators.Sampling.shuffleDeterministic(packed, "doc_id", nShards = 64)
          .select("doc_id", "source", "n_toks", "pack_shard", "shard", "pos")
          .orderBy("doc_id")
      }

      // Incremental near-dup — the daily-ingest question: which NEW
      // docs (doc_id % 10 ≥ 8 plays the arriving batch) duplicate a
      // doc the CORPUS (% 10 < 8) already holds. Candidates come from
      // probing the corpus's banded LSH keys with the batch's keys —
      // batch-scaled work against a persisted index, never
      // corpus × corpus. The oracle reuses the identical signature
      // CTEs and filters the band join by the same split.
      register("q_dedup_incremental",
        s"""WITH $pairsCte,
           |icand AS (
           |  SELECT DISTINCT b.doc_id AS doc_id, a.doc_id AS corpus_id
           |  FROM keyed b JOIN keyed a ON a.band = b.band
           |  WHERE b.doc_id % 10 >= 8 AND a.doc_id % 10 < 8),
           |iv AS (
           |  SELECT ic.doc_id, ic.corpus_id,
           |         CAST(len(list_intersect(hb.h60, hc.h60)) AS DOUBLE)
           |         / (len(hb.h60) + len(hc.h60) - len(list_intersect(hb.h60, hc.h60))) AS jacc_raw
           |  FROM icand ic
           |  JOIN h hb ON hb.doc_id = ic.doc_id
           |  JOIN h hc ON hc.doc_id = ic.corpus_id)
           |SELECT doc_id, corpus_id, round(jacc_raw, 4) AS jaccard
           |FROM iv WHERE jacc_raw >= 0.5
           |ORDER BY doc_id, corpus_id""") { (s, dir) =>
        val docs = Tables.documents(s, dir)
        Dedup.minhashIncremental(
          docs.filter(col("doc_id") % 10 < 8),
          docs.filter(col("doc_id") % 10 >= 8))
          .orderBy("doc_id", "corpus_id")
      }

      // Same question answered off the PERSISTED on-disk LSH index —
      // the production service shape: the index is built once per
      // JVM+dir (build on doc_id % 10 < 4, appendToLshIndex for
      // 4 ≤ % 10 < 8, exercising the full build → append → probe
      // loop), and each execution only tokenizes/bands the arriving
      // batch and probes the parquet index. The oracle is IDENTICAL
      // to q_dedup_incremental: the index is an equivalent
      // representation of the corpus, so the probe must return
      // byte-identical pairs.
      register("q_dedup_incremental_indexed",
        s"""WITH $pairsCte,
           |icand AS (
           |  SELECT DISTINCT b.doc_id AS doc_id, a.doc_id AS corpus_id
           |  FROM keyed b JOIN keyed a ON a.band = b.band
           |  WHERE b.doc_id % 10 >= 8 AND a.doc_id % 10 < 8),
           |iv AS (
           |  SELECT ic.doc_id, ic.corpus_id,
           |         CAST(len(list_intersect(hb.h60, hc.h60)) AS DOUBLE)
           |         / (len(hb.h60) + len(hc.h60) - len(list_intersect(hb.h60, hc.h60))) AS jacc_raw
           |  FROM icand ic
           |  JOIN h hb ON hb.doc_id = ic.doc_id
           |  JOIN h hc ON hc.doc_id = ic.corpus_id)
           |SELECT doc_id, corpus_id, round(jacc_raw, 4) AS jaccard
           |FROM iv WHERE jacc_raw >= 0.5
           |ORDER BY doc_id, corpus_id""") { (s, dir) =>
        val docs = Tables.documents(s, dir)
        Dedup.minhashIncrementalIndexed(
          docs.filter(col("doc_id") % 10 >= 8), lshIndexRoot(s, dir))
          .orderBy("doc_id", "corpus_id")
      }

      // CURATION CAPSTONE — the whole cleaning pipeline as ONE plan:
      // every corpus doc (doc_id ≥ 25; < 25 plays the benchmark set)
      // gets a single first-match reason — contaminated (≥5 shared
      // trigrams with a benchmark doc) → near_dup (dup-group member
      // that lost survivor selection to a higher-quality copy) →
      // too_short → repetitive → low_quality → domain_capped (r16
      // verdict #6: the per-registered-domain anti-domination cap,
      // q_domain_cap's PSL + skew-safe md5-rank pipeline applied to
      // the would-be keepers — a megasite contributes at most k pages
      // to the FINAL corpus) → keep. reason = 'keep' IS the final
      // training corpus; everything else is the audit trail of why
      // the corpus shrank. The oracle recomposes the decontamination,
      // components + survivor, funnel AND domain-cap fragments — each
      // individually verified — over the same corpus split.
      {
        val corpusPairsCte = pairsCte.replace(
          "  FROM documents),", "  FROM documents WHERE doc_id >= 25),")
        register("q_curate_corpus",
          s"""WITH RECURSIVE $corpusPairsCte,
             |bt AS (SELECT doc_id AS bench_id,
             |              string_split(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ') AS toks
             |       FROM documents WHERE doc_id < 25),
             |bsh AS (SELECT bench_id,
             |               list_distinct(list_transform(
             |                 CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
             |                      ELSE list_transform(range(len(toks) - 2),
             |                                          i -> array_to_string(toks[(i+1):(i+3)], ' ')) END,
             |                 s -> CAST(concat('0x', substring(md5(s), 1, 15)) AS BIGINT))) AS hb
             |        FROM bt),
             |bhx AS (SELECT bench_id, unnest(hb) AS h FROM bsh),
             |thx AS (SELECT doc_id, unnest(h60) AS h FROM h),
             |cshare AS (SELECT thx.doc_id, bhx.bench_id, count(*) AS c
             |           FROM thx JOIN bhx USING (h) GROUP BY 1, 2),
             |contam AS (SELECT DISTINCT doc_id FROM cshare WHERE c >= 5),
             |edges AS (
             |  SELECT doc_a AS u, doc_b AS v FROM pairs
             |  UNION
             |  SELECT doc_b, doc_a FROM pairs),
             |reach AS (
             |  SELECT DISTINCT u, u AS m FROM edges
             |  UNION
             |  SELECT e.u, r.m FROM edges e JOIN reach r ON e.v = r.u),
             |grp AS (SELECT u AS doc_id, min(m) AS group_id FROM reach GROUP BY u),
             |q AS (SELECT doc_id, len(toks) AS n_tokens,
             |             round(least(1.0, len(toks) / 100.0)
             |                   * (1.0 - CAST(len(list_filter(toks,
             |                            x -> x IN ('the','a','an','of','to','in','and','is'))) AS DOUBLE)
             |                     / len(toks)), 4) AS quality
             |      FROM t),
             |jq AS (SELECT g.doc_id, g.group_id, q.quality FROM grp g JOIN q USING (doc_id)),
             |k AS (SELECT group_id, doc_id AS keeper
             |      FROM (SELECT group_id, doc_id,
             |                   row_number() OVER (PARTITION BY group_id
             |                                      ORDER BY quality DESC, doc_id) AS rn
             |            FROM jq) r WHERE rn = 1),
             |nonsurv AS (SELECT jq.doc_id FROM jq JOIN k USING (group_id)
             |            WHERE jq.doc_id <> k.keeper),
             |g3t AS (SELECT doc_id,
             |               CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
             |                    ELSE list_transform(range(len(toks) - 2),
             |                                        i -> array_to_string(toks[(i+1):(i+3)], ' ')) END AS g3
             |        FROM t),
             |d AS (SELECT doc_id,
             |             round(CAST(1.0 AS DOUBLE)
             |                   - CAST(len(list_distinct(g3)) AS DOUBLE) / len(g3), 4) AS dup3_frac
             |      FROM g3t),
             |cx AS (SELECT doc_id, len(toks) AS n, unnest(toks) AS tok FROM t),
             |mx AS (SELECT doc_id, n, tok, count(*) AS c FROM cx GROUP BY 1, 2, 3),
             |mm AS (SELECT doc_id, round(CAST(max(c) AS DOUBLE) / n, 4) AS top_token_frac
             |       FROM mx GROUP BY doc_id, n),
             |pre AS (
             |  SELECT q.doc_id, q.n_tokens, q.quality,
             |         CASE WHEN co.doc_id IS NOT NULL THEN 'contaminated'
             |              WHEN ns.doc_id IS NOT NULL THEN 'near_dup'
             |              WHEN q.n_tokens < 20 THEN 'too_short'
             |              WHEN d.dup3_frac > 0.2 OR mm.top_token_frac > 0.2 THEN 'repetitive'
             |              WHEN q.quality < 0.30 THEN 'low_quality'
             |              ELSE 'keep' END AS reason0
             |  FROM q JOIN d USING (doc_id) JOIN mm USING (doc_id)
             |  LEFT JOIN contam co USING (doc_id)
             |  LEFT JOIN nonsurv ns USING (doc_id)),
             |""" + domainCtesSql("u", " WHERE doc_id >= 25") + """,
             |rcap AS (
             |  SELECT doc_id FROM (
             |    SELECT p.doc_id,
             |           row_number() OVER (PARTITION BY u.domain
             |                              ORDER BY md5(concat(p.doc_id, ':42')), p.doc_id) AS rn
             |    FROM pre p JOIN udom u USING (doc_id)
             |    WHERE p.reason0 = 'keep') t
             |  WHERE rn <= 3)
             |SELECT pre.doc_id, pre.n_tokens, pre.quality,
             |       CASE WHEN pre.reason0 <> 'keep' THEN pre.reason0
             |            WHEN rc.doc_id IS NOT NULL THEN 'keep'
             |            ELSE 'domain_capped' END AS reason
             |FROM pre LEFT JOIN rcap rc USING (doc_id)
             |ORDER BY doc_id""") { (s, dir) =>
          val docs = docsFanned(s, dir, "doc_id", "text")
          val bench = docs.filter(col("doc_id") < 25)
          val corpus = docs.filter(col("doc_id") >= 25)
          // the contaminated / non-survivor flag sets are
          // corpus-proportional (an adversarial corpus can be mostly
          // contaminated; web corpora run 30-50 % near-dup), so they
          // join by shuffle, never by forced broadcast — all three
          // joins share one doc_id hash partitioning
          val contaminated =
            Dedup.decontaminate(corpus, bench).select("doc_id").distinct()
              .withColumn("__contam", lit(true)).hint("shuffle_hash")
          val pairs = Dedup.minhashPairs(corpus).select("doc_a", "doc_b")
          val groups = Dedup.connectedComponents(pairs)
          // pinned (r22): three signal passes (quality, dup3, top-token)
          // otherwise each re-tokenize the corpus from the scan
          val toksDf = graft.operators.Checkpoints.pin(
            corpus.select(col("doc_id"), TextStats.tokens(col("text")).as("toks")))
          val quality = toksDf.select(col("doc_id"),
            round(TextStats.qualityScoreOf(col("toks")), 4).as("quality"))
          val nonSurvivors =
            Dedup.survivors(groups, quality).filter(!col("keep"))
              .select(col("doc_id")).withColumn("__nd", lit(true))
              .hint("shuffle_hash")
          val signals = toksDf
            .select(col("doc_id"), col("toks"), Dedup.gramsOf(col("toks"), 3).as("g3"))
            .select(col("doc_id"),
              size(col("toks")).cast("long").as("n_tokens"),
              round(lit(1.0) - size(array_distinct(col("g3"))).cast("double")
                / size(col("g3")), 4).as("dup3_frac"))
          // top-token count per-row (r22, guide §2.3/§2.4): the max
          // occurrence count of any token is the longest equal-run of
          // the SORTED token array — one in-row fold (the dupSpans
          // max_run shape) instead of exploding every token occurrence
          // through two corpus-wide shuffles. Same value, oracle-gated.
          val top = toksDf
            .select(col("doc_id"), size(col("toks")).as("n"),
              aggregate(array_sort(col("toks")),
                struct(lit(null).cast("string").as("prev"),
                  lit(0L).as("cur"), lit(0L).as("best")),
                (acc, x) => {
                  val cur = when(x === acc.getField("prev"),
                    acc.getField("cur") + 1L).otherwise(lit(1L))
                  struct(x.as("prev"), cur.as("cur"),
                    greatest(acc.getField("best"), cur).as("best"))
                },
                acc => acc.getField("best")).as("maxc"))
            .select(col("doc_id"),
              round(col("maxc").cast("double") / col("n"), 4).as("top_token_frac"))
          val pre = signals.join(quality, Seq("doc_id")).join(top, Seq("doc_id"))
            .join(contaminated, Seq("doc_id"), "left")
            .join(nonSurvivors, Seq("doc_id"), "left")
            .withColumn("reason0",
              when(col("__contam"), "contaminated")
                .when(col("__nd"), "near_dup")
                .when(col("n_tokens") < 20, "too_short")
                .when(col("dup3_frac") > 0.2 || col("top_token_frac") > 0.2, "repetitive")
                .when(col("quality") < 0.30, "low_quality")
                .otherwise("keep"))
            .localCheckpoint() // feeds the cap stage AND the final join
          // anti-domination stage (r16 verdict #6): the per-registered-
          // domain crawl cap applies to the FINAL corpus — docs that
          // survived every cleaning reason — so one megasite cannot
          // dominate the kept mix. The q_domain_cap pipeline verbatim
          // (PSL derivation + the skew-safe two-phase md5-rank cap),
          // composed over the keepers; survivors past k get their own
          // audit reason. Corpus-proportional set → shuffle join.
          val domains = corpus.select(col("doc_id"),
            graft.functions.Urls.registeredDomain(syntheticUrl(col("doc_id"))).as("domain"))
          val capped = graft.operators.Sampling.exactKPerStratum(
              pre.filter(col("reason0") === "keep").select("doc_id")
                .join(domains, Seq("doc_id")),
              "domain", "doc_id", k = 3)
            .select(col("doc_id")).withColumn("__cap", lit(true))
            .hint("shuffle_hash")
          pre.join(capped, Seq("doc_id"), "left")
            .withColumn("reason",
              when(col("reason0") =!= "keep", col("reason0"))
                .when(col("__cap"), "keep")
                .otherwise("domain_capped"))
            .select("doc_id", "n_tokens", "quality", "reason")
            .orderBy("doc_id")
        }
      }
    }

    // SimHash near-dup — 60-bit md5-based signature: per-bit majority
    // votes, banding, and Hamming verify all replay exactly in DuckDB.
    {
      val sigTerms = (0 until 60).map { b =>
        s"(CASE WHEN list_sum(list_transform(th, h -> CASE WHEN ((h >> $b) & 1) = 1 THEN 1 ELSE -1 END)) > 0 THEN ${1L << b} ELSE 0 END)"
      }.mkString("\n           + ")
      register("q_dedup_simhash",
        s"""WITH t AS (
           |  SELECT doc_id,
           |         list_transform(
           |           string_split(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' '),
           |           tok -> CAST(concat('0x', substring(md5(tok), 1, 15)) AS BIGINT)) AS th
           |  FROM documents),
           |sig AS (
           |  SELECT doc_id, $sigTerms AS sig
           |  FROM t),
           |keyed AS (
           |  SELECT doc_id, sig,
           |         unnest(list_transform(range(4),
           |           i -> concat(i, ':', (sig >> (i*15)) & 32767))) AS band
           |  FROM sig),
           |pairs AS (
           |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           |                  a.sig AS sig_a, b.sig AS sig_b
           |  FROM keyed a JOIN keyed b ON a.band = b.band AND a.doc_id < b.doc_id)
           |SELECT doc_a, doc_b, CAST(bit_count(xor(sig_a, sig_b)) AS BIGINT) AS hamming
           |FROM pairs WHERE bit_count(xor(sig_a, sig_b)) <= 3
           |ORDER BY doc_a, doc_b""") { (s, dir) =>
        Dedup.simhashPairs(Tables.documents(s, dir)).orderBy("doc_a", "doc_b")
      }
    }

    // n-gram Jaccard near-dup (min-k sketch bucketing). Pure built-ins
    // over engine-portable md5 shingle hashes → the whole pipeline
    // (shingle → hash → min-k buckets → candidate join → exact Jaccard)
    // is replayed value-exactly by DuckDB.
    register("q_dedup_ngram",
      """WITH t AS (
        |  SELECT doc_id,
        |         string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ') AS toks
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |         list_sort(list_distinct(list_transform(
        |           CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |                ELSE list_transform(range(len(toks) - 2),
        |                                    i -> array_to_string(toks[(i+1):(i+3)], ' ')) END,
        |           s -> CAST(concat('0x', substring(md5(s), 1, 15)) AS BIGINT)))) AS h
        |  FROM t),
        |keyed AS (SELECT doc_id, unnest(h[1:4]) AS bucket FROM sh),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM keyed a JOIN keyed b ON a.bucket = b.bucket AND a.doc_id < b.doc_id),
        |j AS (
        |  SELECT doc_a, doc_b,
        |         CAST(len(list_intersect(sa.h, sb.h)) AS DOUBLE)
        |         / (len(sa.h) + len(sb.h) - len(list_intersect(sa.h, sb.h))) AS jacc_raw
        |  FROM cand
        |  JOIN sh sa ON sa.doc_id = cand.doc_a
        |  JOIN sh sb ON sb.doc_id = cand.doc_b)
        |SELECT doc_a, doc_b, round(jacc_raw, 4) AS jaccard
        |FROM j WHERE jacc_raw >= 0.5
        |ORDER BY doc_a, doc_b""") { (s, dir) =>
      Dedup.ngramJaccardPairs(docsFanned(s, dir, "doc_id", "text")).orderBy("doc_a", "doc_b")
    }

    // Benchmark decontamination: docs 0-24 act as the held-out
    // benchmark; the training side is the rest of the corpus plus
    // planted contaminated copies (benchmark text behind a prefix), so
    // the flagged set is non-empty and hand-checkable at every sf.
    // Same engine-portable md5 gram hashes as q_dedup_ngram → the
    // explode-join-count pipeline replays value-exactly in DuckDB.
    register("q_decontaminate",
      """WITH bsrc AS (SELECT doc_id, text FROM documents WHERE doc_id < 25),
        |tsrc AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id >= 25
        |  UNION ALL
        |  SELECT doc_id + 100000 AS doc_id,
        |         concat('contaminated sample ', text) AS text
        |  FROM documents WHERE doc_id < 25 AND doc_id % 5 = 0),
        |tt AS (SELECT doc_id,
        |              string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ') AS toks
        |       FROM tsrc),
        |bt AS (SELECT doc_id AS bench_id,
        |              string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ') AS toks
        |       FROM bsrc),
        |tsh AS (SELECT doc_id,
        |               list_sort(list_distinct(list_transform(
        |                 CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |                      ELSE list_transform(range(len(toks) - 2),
        |                                          i -> array_to_string(toks[(i+1):(i+3)], ' ')) END,
        |                 s -> CAST(concat('0x', substring(md5(s), 1, 15)) AS BIGINT)))) AS h
        |        FROM tt),
        |bsh AS (SELECT bench_id,
        |               list_sort(list_distinct(list_transform(
        |                 CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |                      ELSE list_transform(range(len(toks) - 2),
        |                                          i -> array_to_string(toks[(i+1):(i+3)], ' ')) END,
        |                 s -> CAST(concat('0x', substring(md5(s), 1, 15)) AS BIGINT)))) AS h
        |        FROM bt),
        |th AS (SELECT doc_id, unnest(h) AS h FROM tsh),
        |bh AS (SELECT bench_id, unnest(h) AS h FROM bsh)
        |SELECT th.doc_id, bh.bench_id, count(*) AS shared
        |FROM th JOIN bh ON th.h = bh.h
        |GROUP BY th.doc_id, bh.bench_id
        |HAVING count(*) >= 5
        |ORDER BY doc_id, bench_id""") { (s, dir) =>
      val docs = docsFanned(s, dir, "doc_id", "text")
      val bench = docs.filter(col("doc_id") < 25)
      val train = docs.filter(col("doc_id") >= 25).unionByName(
        bench.filter(col("doc_id") % 5 === 0)
          .select((col("doc_id") + 100000).as("doc_id"),
            concat(lit("contaminated sample "), col("text")).as("text")))
      Dedup.decontaminate(train, bench, n = 3, minShared = 5)
        .orderBy("doc_id", "bench_id")
    }

    // Bloom-filter decontamination — the 100 TB shape of
    // q_decontaminate: the benchmark's gram hashes become a broadcast
    // Bloom filter that prunes training grams BEFORE any shuffle; the
    // exact confirm join removes the Bloom's false positives, so the
    // result (and hence the oracle) is identical to the exact path.
    register("q_bloom_decontaminate",
      """WITH bsrc AS (SELECT doc_id, text FROM documents WHERE doc_id < 25),
        |tsrc AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id >= 25
        |  UNION ALL
        |  SELECT doc_id + 100000 AS doc_id,
        |         concat('contaminated sample ', text) AS text
        |  FROM documents WHERE doc_id < 25 AND doc_id % 5 = 0),
        |tt AS (SELECT doc_id,
        |              string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ') AS toks
        |       FROM tsrc),
        |bt AS (SELECT doc_id AS bench_id,
        |              string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ') AS toks
        |       FROM bsrc),
        |tsh AS (SELECT doc_id,
        |               list_sort(list_distinct(list_transform(
        |                 CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |                      ELSE list_transform(range(len(toks) - 2),
        |                                          i -> array_to_string(toks[(i+1):(i+3)], ' ')) END,
        |                 s -> CAST(concat('0x', substring(md5(s), 1, 15)) AS BIGINT)))) AS h
        |        FROM tt),
        |bsh AS (SELECT bench_id,
        |               list_sort(list_distinct(list_transform(
        |                 CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |                      ELSE list_transform(range(len(toks) - 2),
        |                                          i -> array_to_string(toks[(i+1):(i+3)], ' ')) END,
        |                 s -> CAST(concat('0x', substring(md5(s), 1, 15)) AS BIGINT)))) AS h
        |        FROM bt),
        |th AS (SELECT doc_id, unnest(h) AS h FROM tsh),
        |bh AS (SELECT bench_id, unnest(h) AS h FROM bsh)
        |SELECT th.doc_id, bh.bench_id, count(*) AS shared
        |FROM th JOIN bh ON th.h = bh.h
        |GROUP BY th.doc_id, bh.bench_id
        |HAVING count(*) >= 5
        |ORDER BY doc_id, bench_id""") { (s, dir) =>
      val docs = docsFanned(s, dir, "doc_id", "text")
      val bench = docs.filter(col("doc_id") < 25)
      val train = docs.filter(col("doc_id") >= 25).unionByName(
        bench.filter(col("doc_id") % 5 === 0)
          .select((col("doc_id") + 100000).as("doc_id"),
            concat(lit("contaminated sample "), col("text")).as("text")))
      Dedup.decontaminateBloom(train, bench, n = 3, minShared = 5)
        .orderBy("doc_id", "bench_id")
    }

    // Frozen-artifact decontamination — the LIFECYCLE form of
    // q_decontaminate: the bench grams are persisted ONCE (built over
    // half the suite, the rest appended — the "benchmark adopted
    // later" path), and the batch probes the frozen artifact. The
    // confirm join is exact, so the result — and the oracle — is
    // char-for-char q_decontaminate's.
    register("q_decontaminate_artifact",
      """WITH bsrc AS (SELECT doc_id, text FROM documents WHERE doc_id < 25),
        |tsrc AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id >= 25
        |  UNION ALL
        |  SELECT doc_id + 100000 AS doc_id,
        |         concat('contaminated sample ', text) AS text
        |  FROM documents WHERE doc_id < 25 AND doc_id % 5 = 0),
        |tt AS (SELECT doc_id,
        |              string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ') AS toks
        |       FROM tsrc),
        |bt AS (SELECT doc_id AS bench_id,
        |              string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ') AS toks
        |       FROM bsrc),
        |tsh AS (SELECT doc_id,
        |               list_sort(list_distinct(list_transform(
        |                 CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |                      ELSE list_transform(range(len(toks) - 2),
        |                                          i -> array_to_string(toks[(i+1):(i+3)], ' ')) END,
        |                 s -> CAST(concat('0x', substring(md5(s), 1, 15)) AS BIGINT)))) AS h
        |        FROM tt),
        |bsh AS (SELECT bench_id,
        |               list_sort(list_distinct(list_transform(
        |                 CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |                      ELSE list_transform(range(len(toks) - 2),
        |                                          i -> array_to_string(toks[(i+1):(i+3)], ' ')) END,
        |                 s -> CAST(concat('0x', substring(md5(s), 1, 15)) AS BIGINT)))) AS h
        |        FROM bt),
        |th AS (SELECT doc_id, unnest(h) AS h FROM tsh),
        |bh AS (SELECT bench_id, unnest(h) AS h FROM bsh)
        |SELECT th.doc_id, bh.bench_id, count(*) AS shared
        |FROM th JOIN bh ON th.h = bh.h
        |GROUP BY th.doc_id, bh.bench_id
        |HAVING count(*) >= 5
        |ORDER BY doc_id, bench_id""") { (s, dir) =>
      val docs = docsFanned(s, dir, "doc_id", "text")
      val bench = docs.filter(col("doc_id") < 25)
      val train = docs.filter(col("doc_id") >= 25).unionByName(
        bench.filter(col("doc_id") % 5 === 0)
          .select((col("doc_id") + 100000).as("doc_id"),
            concat(lit("contaminated sample "), col("text")).as("text")))
      Dedup.decontaminateWithFilter(train, decontamFilterRoot(s, dir),
          n = 3, minShared = 5)
        .orderBy("doc_id", "bench_id")
    }

    // Fuzzy (near-dup) decontamination — the Llama-recipe complement
    // of q_decontaminate: train docs that are APPROXIMATE copies of a
    // bench doc (verified shingle-Jaccard ≥ 0.7 over MinHash band
    // candidates). The md5 permutation family, the banding, the
    // train × bench candidate join AND the verify all replay
    // value-exactly in DuckDB — same machinery as q_dedup_minhash,
    // run across two corpora instead of within one.
    {
      val coeffs = Dedup.minhashCoeffs(64)
      val sigEntries = coeffs.map { case (a, b) =>
        s"list_min(list_transform(h32, x -> (x * $a + $b) % ${Dedup.minhashP}))"
      }.mkString("[", ",\n           ", "]")
      def sideCte(src: String, idCol: String) =
        s"""${src}t AS (
           |  SELECT $idCol,
           |         string_split(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ') AS toks
           |  FROM ${src}src),
           |${src}g AS (
           |  SELECT $idCol,
           |         CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
           |              ELSE list_transform(range(len(toks) - 2),
           |                                  i -> array_to_string(toks[(i+1):(i+3)], ' ')) END AS grams
           |  FROM ${src}t),
           |${src}h AS (
           |  SELECT $idCol,
           |         list_distinct(list_transform(grams,
           |           s -> CAST(concat('0x', substring(md5(s), 1, 8)) AS BIGINT))) AS h32,
           |         list_sort(list_distinct(list_transform(grams,
           |           s -> CAST(concat('0x', substring(md5(s), 1, 15)) AS BIGINT)))) AS h60
           |  FROM ${src}g),
           |${src}sig AS (
           |  SELECT $idCol, $sigEntries AS sigs
           |  FROM ${src}h),
           |${src}k AS (
           |  SELECT $idCol,
           |         unnest(list_transform(range(16),
           |           t -> concat(t, ':', array_to_string(sigs[(t*4+1):(t*4+4)], ',')))) AS band
           |  FROM ${src}sig)"""
      register("q_decontaminate_neardup",
        s"""WITH bsrc AS (SELECT doc_id AS bench_id, text FROM documents WHERE doc_id < 25),
           |tsrc AS (
           |  SELECT doc_id, text FROM documents WHERE doc_id >= 25
           |  UNION ALL
           |  SELECT doc_id + 200000 AS doc_id,
           |         concat(text, ' evaluation copy') AS text
           |  FROM documents WHERE doc_id < 25 AND doc_id % 3 = 0),
           |${sideCte("t", "doc_id")},
           |${sideCte("b", "bench_id")},
           |cand AS (
           |  SELECT DISTINCT tk.doc_id, bk.bench_id
           |  FROM tk JOIN bk ON tk.band = bk.band),
           |j AS (
           |  SELECT cand.doc_id, cand.bench_id,
           |         CAST(len(list_intersect(sa.h60, sb.h60)) AS DOUBLE)
           |         / (len(sa.h60) + len(sb.h60) - len(list_intersect(sa.h60, sb.h60))) AS jacc_raw
           |  FROM cand
           |  JOIN th sa ON sa.doc_id = cand.doc_id
           |  JOIN bh sb ON sb.bench_id = cand.bench_id)
           |SELECT doc_id, bench_id, round(jacc_raw, 4) AS jaccard
           |FROM j WHERE jacc_raw >= 0.7
           |ORDER BY doc_id, bench_id""") { (s, dir) =>
        val docs = docsFanned(s, dir, "doc_id", "text")
        val bench = docs.filter(col("doc_id") < 25)
        val train = docs.filter(col("doc_id") >= 25).unionByName(
          bench.filter(col("doc_id") % 3 === 0)
            .select((col("doc_id") + 200000).as("doc_id"),
              concat(col("text"), lit(" evaluation copy")).as("text")))
        Dedup.decontaminateNearDup(train, bench, threshold = 0.7)
          .orderBy("doc_id", "bench_id")
      }
    }

    // Count-min sketch: depth × width counter matrix over the token
    // stream, point estimates = min over depth counters. The md5 row
    // hashes make every counter — and hence every estimate — replay
    // value-exactly in DuckDB, so the (never-underestimating) est
    // column is oracle-EXACT next to the true count, not bound-gated.
    val cmsCountsSql =
      """WITH t AS (
        |  SELECT string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ') AS toks
        |  FROM documents),
        |tok AS (SELECT unnest(toks) AS tok FROM t),
        |rr AS (SELECT unnest(range(4)) AS r),
        |sk AS (
        |  SELECT r,
        |         CAST(concat('0x', substring(md5(concat(r, ':', tok)), 1, 15)) AS BIGINT) % 512 AS c,
        |         count(*) AS cnt
        |  FROM tok CROSS JOIN rr
        |  GROUP BY 1, 2),
        |ex AS (SELECT tok, count(*) AS exact_cnt FROM tok GROUP BY tok
        |       ORDER BY exact_cnt DESC, tok LIMIT 20),
        |probe AS (
        |  SELECT ex.tok, ex.exact_cnt, rr.r,
        |         CAST(concat('0x', substring(md5(concat(rr.r, ':', ex.tok)), 1, 15)) AS BIGINT) % 512 AS c
        |  FROM ex CROSS JOIN rr)
        |SELECT p.tok, p.exact_cnt, min(coalesce(sk.cnt, 0)) AS est
        |FROM probe p LEFT JOIN sk ON sk.r = p.r AND sk.c = p.c
        |GROUP BY p.tok, p.exact_cnt
        |ORDER BY tok"""
    register("q_cms_counts", cmsCountsSql) { (s, dir) =>
      val toks = docsFanned(s, dir, "doc_id", "text")
        .select(explode(TextStats.tokens(col("text"))).as("tok"))
      val sketch = graft.operators.Profile.countMinSketch(
        toks, "tok", depth = 4, width = 512)
      val top = toks.groupBy("tok").agg(count(lit(1)).as("exact_cnt"))
        .orderBy(desc("exact_cnt"), col("tok")).limit(20)
      graft.operators.Profile.cmsLookup(sketch, top.select("tok"), "tok",
          depth = 4, width = 512)
        .join(top, Seq("tok"))
        .select(col("tok"), col("exact_cnt"), col("est"))
        .orderBy("tok")
    }

    // The ARTIFACT lifecycle form of q_cms_counts: the sketch is
    // served from the persisted parts/b= fold (two batch
    // contributions + a replayed batch 0 — see cmsArtifactRoot), and
    // by counter linearity the served estimates are byte-identical to
    // the one-shot sketch's, so the oracle IS q_cms_counts' SQL. What
    // this row proves that q_cms_counts doesn't: the artifact's
    // init → fold → replay → read path serves exact counters too.
    // CMS inner-product join-size estimate (Cormode & Muthukrishnan
    // 2005 §4.2): |orders ⋈ lineitem| from two depth×width counter
    // sketches — min over rows of the per-row dot product. The
    // planning stat a 100 TB engine consults before choosing
    // broadcast vs shuffle vs salting, answerable from kilobytes of
    // standing state without scanning either table. Same md5
    // bucketing as q_cms_counts, so the ESTIMATE itself (not just
    // the gates) replays value-exactly in DuckDB, next to the exact
    // join count (the audit side) and the two analytic guarantees:
    // never-under, and over by ≤ 3·|A|·|B|/width (integer form).
    register("q_join_size_sketch",
      """WITH rr AS (SELECT unnest(range(4)) AS r),
        |ska AS (
        |  SELECT r,
        |         CAST(concat('0x', substring(md5(concat(r, ':', o_orderkey)), 1, 15)) AS BIGINT) % 65536 AS c,
        |         count(*) AS cnt
        |  FROM orders CROSS JOIN rr GROUP BY 1, 2),
        |skb AS (
        |  SELECT r,
        |         CAST(concat('0x', substring(md5(concat(r, ':', l_orderkey)), 1, 15)) AS BIGINT) % 65536 AS c,
        |         count(*) AS cnt
        |  FROM lineitem CROSS JOIN rr GROUP BY 1, 2),
        |ip AS (
        |  SELECT a.r, sum(a.cnt * b.cnt) AS dot
        |  FROM ska a JOIN skb b ON a.r = b.r AND a.c = b.c
        |  GROUP BY a.r),
        |est AS (SELECT coalesce(min(coalesce(ip.dot, 0)), 0) AS est
        |        FROM rr LEFT JOIN ip USING (r)),
        |na AS (SELECT CAST(sum(cnt) AS BIGINT) AS na FROM ska WHERE r = 0),
        |nb AS (SELECT CAST(sum(cnt) AS BIGINT) AS nb FROM skb WHERE r = 0),
        |ex AS (
        |  SELECT CAST(count(*) AS BIGINT) AS exact_n
        |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey)
        |SELECT CAST(e.est AS BIGINT) AS est, x.exact_n, na.na, nb.nb,
        |       (e.est >= x.exact_n) AS never_under,
        |       ((e.est - x.exact_n) * 65536 <= 3 * na.na * nb.nb) AS within_bound
        |FROM est e CROSS JOIN ex x CROSS JOIN na CROSS JOIN nb""") { (s, dir) =>
      // DENSE path end to end: each side is ONE pushed single-column
      // scan folded by the native graft_cms aggregate into a single
      // 4·65536-counter array row (one buffer per partition shipped —
      // the declarative explode+groupBy form ships partitions ×
      // cells rows and measured 3+ s/side here); est, |A|, |B| are
      // then array arithmetic on two rows, zero shuffles. The exact
      // join is the audit side.
      val o = Tables.orders(s, dir).select(col("o_orderkey"))
      val l = Tables.lineitem(s, dir).select(col("l_orderkey"))
      val est = graft.operators.Profile.joinSizeEstimateDense(
        graft.operators.Profile
          .countMinSketchDenseRow(o, "o_orderkey", depth = 4, width = 65536),
        graft.operators.Profile
          .countMinSketchDenseRow(l, "l_orderkey", depth = 4, width = 65536),
        depth = 4, width = 65536)
      val ex = o.join(l.hint("shuffle_hash"),
          col("o_orderkey") === col("l_orderkey"))
        .agg(count(lit(1)).as("exact_n"))
      est.crossJoin(broadcast(ex))
        .select(col("est"), col("exact_n"), col("na"), col("nb"),
          (col("est") >= col("exact_n")).as("never_under"),
          ((col("est") - col("exact_n")) * 65536
            <= lit(3L) * col("na") * col("nb")).as("within_bound"))
    }

    register("q_cms_artifact", cmsCountsSql) { (s, dir) =>
      val toks = Tables.documents(s, dir)
        .select(explode(TextStats.tokens(col("text"))).as("tok"))
      val top = toks.groupBy("tok").agg(count(lit(1)).as("exact_cnt"))
        .orderBy(desc("exact_cnt"), col("tok")).limit(20)
      graft.operators.Profile.cmsArtifactLookup(s, cmsArtifactRoot(s, dir),
          top.select("tok"), "tok")
        .join(top, Seq("tok"))
        .select(col("tok"), col("exact_cnt"), col("est"))
        .orderBy("tok")
    }

    // PageRank over a deterministic doc-link graph — the link-
    // authority prior crawl curation ranks sources by (Common Crawl
    // host-graph ranks). Fixed-point integer arithmetic end to end
    // (damping, per-edge shares, dangling redistribution), so the
    // DuckDB oracle unrolls the SAME five sweeps value-exactly —
    // fp PageRank could never hash-match across engines (partition-
    // order sums). Edges are synthesized from doc_ids in BOTH engines
    // (two hash generators mod 1009: multi-edges collapse, self-loops
    // drop, most hub nodes dangle — the redistribution path is load-
    // bearing, not decorative).
    val pageRankOracleSql =
      s"""WITH docs AS (SELECT doc_id FROM documents),
         |raw AS (SELECT doc_id AS src, (doc_id * 7 + 3) % 1009 AS dst FROM docs
         |        UNION ALL SELECT doc_id, (doc_id * 13 + 5) % 1009 FROM docs),
         |edges AS (SELECT DISTINCT src, dst FROM raw WHERE src <> dst),
         |${graft.operators.Graph.pageRankSql(5)}
         |SELECT node, r AS rank FROM it5 ORDER BY rank DESC, node LIMIT 100"""
    register("q_pagerank", pageRankOracleSql) { (s, dir) =>
      graft.operators.Graph.pageRank(docLinkEdges(s, dir), iters = 5)
        .orderBy(desc("rank"), col("node")).limit(100)
    }

    // The ARTIFACT lifecycle form of q_pagerank (r16: the graph
    // family's persisted tier — every other telemetry family already
    // had one): edges land batch-by-batch under the fingerprint
    // replay guard, ranks re-sweep from the STANDING edge state into
    // versioned dirs behind the atomic CURRENT swap, and the query
    // reads the served version — zero compute at read time. The
    // lifecycle exercised per (JVM, dir): init → ingest even-src
    // batch → refresh (v_1, partial graph) → ingest odd-src batch →
    // REPLAY the even batch (fingerprint no-op) → refresh (v_2, full
    // graph, supersedes v_1). By the fixed-point integer contract the
    // incremental fold + re-sweep is hash-exact equal to a
    // from-scratch recompute over the union graph, so the oracle IS
    // q_pagerank's unrolled-CTE SQL, character for character — a
    // stale version served, a lost edge batch, or a fold/replay bug
    // all shift the hash.
    register("q_pagerank_artifact", pageRankOracleSql) { (s, dir) =>
      graft.operators.GraphArtifact.readRanks(s, pagerankArtifactRoot(s, dir))
        .orderBy(desc("rank"), col("node")).limit(100)
    }

    // Personalized PageRank — q_pagerank's graph with the teleport
    // pinned to a 20-node seed set: rank becomes PROXIMITY TO THE
    // SEEDS, the seed-expansion primitive that grows a quality corpus
    // from a vetted kernel. Same fixed-point discipline, same
    // unrolled-sweep oracle, different mass routing (restart + all
    // dangling mass DIV |seeds| to seeds; non-seeds start at 0).
    val pprOracleSql =
      s"""WITH docs AS (SELECT doc_id FROM documents),
         |raw AS (SELECT doc_id AS src, (doc_id * 7 + 3) % 1009 AS dst FROM docs
         |        UNION ALL SELECT doc_id, (doc_id * 13 + 5) % 1009 FROM docs),
         |edges AS (SELECT DISTINCT src, dst FROM raw WHERE src <> dst),
         |seeds AS (SELECT unnest(range(20)) AS node),
         |${graft.operators.Graph.personalizedPageRankSql(5)}
         |SELECT node, r AS rank FROM it5 WHERE r > 0
         |ORDER BY rank DESC, node LIMIT 100"""
    register("q_ppr_seeds", pprOracleSql) { (s, dir) =>
      val seeds = s.range(20).select(col("id").as("node"))
      graft.operators.Graph.personalizedPageRank(docLinkEdges(s, dir), seeds, iters = 5)
        .filter(col("rank") > 0)
        .orderBy(desc("rank"), col("node")).limit(100)
    }

    // PPR off the rank artifact's STANDING EDGE STATE — the second
    // serving surface oracle-gated (GraphArtifact.standingEdges is
    // otherwise spec-only): the seed-expansion query a curation
    // pipeline answers per fresh seed set WITHOUT re-deriving edges
    // from raw text. The artifact's committed batches union to the
    // exact doc-link graph, so the oracle IS q_ppr_seeds' SQL — a
    // lost batch, debris fold, or stale edge state shifts the hash.
    register("q_ppr_artifact", pprOracleSql) { (s, dir) =>
      val seeds = s.range(20).select(col("id").as("node"))
      graft.operators.Graph.personalizedPageRank(
          graft.operators.GraphArtifact.standingEdges(s, pagerankArtifactRoot(s, dir)),
          seeds, iters = 5)
        .filter(col("rank") > 0)
        .orderBy(desc("rank"), col("node")).limit(100)
    }

    // PPR served from the MEMOIZED per-seed-set version (r16 verdict
    // #5): the curation loop re-queries the SAME vetted kernel per
    // crawl batch, and q_ppr_artifact pays the five sweeps per query.
    // The rank artifact memoizes each seed SET's ranks under
    // `ppr/<seed-fingerprint>/v_<n>` — the CURRENT-swap protocol
    // verbatim, refreshed by the same growth trigger — so the repeat
    // query is a parquet read. The fixture swept the memo on the
    // PARTIAL graph first, then the growth trigger superseded it
    // after the full graph landed, so the oracle (q_ppr_seeds' SQL
    // verbatim, full-graph PPR) passes ONLY if the stale version was
    // actually replaced and the seed-set identity resolved the right
    // memo.
    register("q_ppr_served", pprOracleSql) { (s, dir) =>
      val seeds = s.range(20).select(col("id").as("node"))
      graft.operators.GraphArtifact.readPpr(s, pagerankArtifactRoot(s, dir), seeds)
        .filter(col("rank") > 0)
        .orderBy(desc("rank"), col("node")).limit(100)
    }

    // Edit-distance (Levenshtein ≤ 2) self-join over document titles —
    // the fuzzy-string record-linkage staple (typo'd titles, near-
    // identical names) the set-similarity join can't express. Titles
    // are the first four house-tokenized words, EXACT-deduped first
    // (the realistic pipeline order, and it keeps dist-0 pairs from
    // squaring), then two deterministic typo generators plant known
    // near-matches. Ed-Join prefix filtering (kq+1 rarest gram
    // occurrences per string under a shared frequency order) + the
    // short-string band path + exact levenshtein verify — and every
    // stage, prefix selection included, replays value-exactly in
    // DuckDB (FuzzyJoin.editDistanceJoinSql, same constants).
    register("q_editdist_join",
      s"""WITH toks AS (
         |  SELECT doc_id,
         |         string_split(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ') AS t
         |  FROM documents),
         |ttl AS (
         |  SELECT min(doc_id) AS id, title
         |  FROM (SELECT doc_id, array_to_string(t[1:4], ' ') AS title FROM toks)
         |  GROUP BY title),
         |aug AS (
         |  SELECT id, title FROM ttl
         |  UNION ALL SELECT -(id * 2 + 1), title || 'x' FROM ttl WHERE id % 11 = 0
         |  UNION ALL SELECT -(id * 2 + 2), title || ' q' FROM ttl WHERE id % 13 = 0),
         |sa AS (SELECT id AS a_id, title AS a_s FROM aug),
         |sb AS (SELECT id AS b_id, title AS b_s FROM aug),
         |${graft.operators.FuzzyJoin.editDistanceJoinSql(2)}
         |SELECT a_id, b_id, dist FROM ed WHERE a_id < b_id
         |ORDER BY a_id, b_id""") { (s, dir) =>
      val ttl = Tables.documents(s, dir)
        .select(col("doc_id"),
          array_join(slice(TextStats.tokens(col("text")), 1, 4), " ").as("title"))
        .groupBy("title").agg(min(col("doc_id")).as("id"))
        .select("id", "title")
      // typo ids are NEGATIVE (doc_ids are non-negative at every SF)
      // and the two generators take odd/even negatives — provably
      // disjoint from the catalog AND from each other for ANY id
      // range, so editDistanceJoin's unique-id precondition holds at
      // any SF (r15 advice: the old 2i+700000 parity scheme was only
      // generator-vs-generator disjoint and could collide with
      // catalog ids >= 700000)
      val aug = ttl
        .unionByName(ttl.filter(col("id") % 11 === 0)
          .select((-(col("id") * 2 + 1)).as("id"), concat(col("title"), lit("x")).as("title")))
        .unionByName(ttl.filter(col("id") % 13 === 0)
          .select((-(col("id") * 2 + 2)).as("id"), concat(col("title"), lit(" q")).as("title")))
      graft.operators.FuzzyJoin.editDistanceJoin(aug, aug, "id", "title", k = 2)
        .filter(col("a_id") < col("b_id"))
        .orderBy("a_id", "b_id")
    }

    // The LOOKUP form of q_editdist_join — dirty batch against a
    // clean catalog, THE record-linkage deployment shape (typo'd
    // inbound titles resolved to the canonical list). Served by
    // FuzzyJoin.editDistanceLookup: the rarity order is the CATALOG's
    // alone (probe grams absent from it rank rarest at df = 0) and
    // the probe's prefix/short rows BROADCAST onto the catalog's —
    // the catalog is never reshuffled by a probe-sized join key
    // (r15 verdict #6: the general two-table form ran 12 shuffles
    // because both sides rebuilt gram/prefix passes independently).
    // Oracle: the UNCHANGED generated Ed-Join replay (two-sided union
    // frequency order) with sa = the dirty batch and sb = the catalog
    // — deliberately a DIFFERENT candidate scheme than the engine's:
    // the prefix lemma makes both complete for any shared order and
    // the exact verify decides every pair, so the hash gate now also
    // proves the restructure lost no candidates.
    register("q_editdist_lookup", editDistLookupOracleSql) { (s, dir) =>
      // pinned: the tokenize+agg title derivation is the expensive
      // stage (~150k full-text tokenizations) and BOTH sides consume
      // it — without the pin each side's input checkpoint re-derives it
      val ttl = titleCatalog(s, dir).localCheckpoint()
      graft.operators.FuzzyJoin.editDistanceLookup(
          dirtyTitles(ttl), ttl, "id", "title", k = 2)
        .orderBy("a_id", "b_id")
    }

    // The INDEXED form of q_editdist_lookup — the catalog's gram /
    // frequency / prefix passes served from the persisted fuzzy-link
    // index instead of recomputed per inbound batch (r16 verdict #2:
    // the lookup's own comment conceded production would persist
    // them; every other serving family already has its artifact
    // tier). The lifecycle exercised per (JVM, dir): init → ingest
    // even-id catalog batch → refresh (v_1, partial catalog) →
    // ingest odd-id batch → REPLAY the even batch (fingerprint
    // no-op) → refresh (v_2, full catalog, supersedes v_1 behind the
    // atomic CURRENT swap). The serving derivation is the SAME code
    // path the recompute form runs (FuzzyJoin.catalogTables /
    // probeLookup), so the oracle IS q_editdist_lookup's SQL verbatim
    // — a stale version, lost catalog batch, or fold/replay bug all
    // shift the hash.
    register("q_editdist_indexed", editDistLookupOracleSql) { (s, dir) =>
      val ttl = titleCatalog(s, dir).localCheckpoint()
      graft.operators.FuzzyLinkIndex.editDistanceLookupIndexed(
          dirtyTitles(ttl), fuzzyLinkIndexRoot(s, dir), "id", "title")
        .orderBy("a_id", "b_id")
    }

    // Domain-authority capstone: the full crawl-curation ranking path
    // composed as ONE oracle-gated plan — messy synthesized URLs
    // (uppercase, www., per-doc paths) → canonical host (Urls.host) →
    // PSL registered domain → host link graph (each doc links to doc
    // (d*31+7) mod n; hosts keyed by the house md5-60bit ids) →
    // fixed-point PageRank → top-50 hosts with their domains. The
    // oracle derives the CLEAN host independently (implicitly
    // re-verifying canonicalization), replays the PSL CASE chain and
    // the unrolled integer sweeps from the same constants. Three host
    // families exercise three PSL shapes: a default-rule .com, a
    // co.uk exact suffix, and a *.kobe.jp wildcard (every host its
    // own registered domain).
    {
      def hostSql(idExpr: String) =
        s"'h' || CAST(($idExpr) % 211 AS VARCHAR) || '.' || " +
          s"CASE CAST(($idExpr) % 3 AS INT) WHEN 0 THEN 'example.com' " +
          "WHEN 1 THEN 'news.co.uk' ELSE 'shop.kobe.jp' END"
      def hidSql(hostExpr: String) =
        s"CAST(concat('0x', substring(md5($hostExpr), 1, 15)) AS BIGINT)"
      register("q_domain_authority",
        s"""WITH docs AS (SELECT doc_id FROM documents),
           |l AS (SELECT doc_id,
           |             (doc_id * 31 + 7) % (SELECT count(*) FROM docs) AS lnk,
           |             (doc_id * 17 + 3) % 50 AS hub
           |      FROM docs),
           |hh AS (SELECT ${hostSql("doc_id")} AS hs, ${hostSql("lnk")} AS hd FROM l
           |       UNION ALL
           |       SELECT ${hostSql("doc_id")}, ${hostSql("hub")} FROM l),
           |edges AS (SELECT DISTINCT ${hidSql("hs")} AS src, ${hidSql("hd")} AS dst
           |          FROM hh WHERE hs <> hd),
           |hmap AS (SELECT host, ${hidSql("host")} AS hid,
           |""" + graft.functions.Urls.registeredDomainSql("host") +
          s""" AS domain
           |  FROM (SELECT DISTINCT ${hostSql("doc_id")} AS host FROM docs)),
           |${graft.operators.Graph.pageRankSql(5)}
           |SELECT m.host, m.domain, it.r AS rank
           |FROM it5 it JOIN hmap m ON m.hid = it.node
           |ORDER BY rank DESC, host LIMIT 50""") { (s, dir) =>
        def urlOf(id: org.apache.spark.sql.Column) =
          concat(lit("https://WWW.H"), (id % 211).cast("string"), lit("."),
            when(id % 3 === 0, lit("Example.COM"))
              .when(id % 3 === 1, lit("News.CO.UK"))
              .otherwise(lit("Shop.Kobe.JP")),
            lit("/p/"), id.cast("string"))
        def hid(h: org.apache.spark.sql.Column) =
          conv(substring(md5(h), 1, 15), 16, 10).cast("long")
        val docs = Tables.documents(s, dir).select(col("doc_id"))
        val cnt = docs.agg(count(lit(1)).as("n"))
        // two generators: a breadth link across the whole id space and
        // a HUB link into ids 0..49 — the skewed in-degree that makes
        // authority an actual signal (a single affine generator mod n
        // yields a near-regular graph whose ranks all tie)
        val l = docs.crossJoin(broadcast(cnt))
          .select(col("doc_id"), ((col("doc_id") * 31 + 7) % col("n")).as("lnk"),
            ((col("doc_id") * 17 + 3) % 50).as("hub"))
        val edges = l
          .select(col("doc_id"), col("lnk").as("to"))
          .unionByName(l.select(col("doc_id"), col("hub").as("to")))
          .select(graft.functions.Urls.host(urlOf(col("doc_id"))).as("hs"),
            graft.functions.Urls.host(urlOf(col("to"))).as("hd"))
          .select(hid(col("hs")).as("src"), hid(col("hd")).as("dst"))
        val hosts = docs
          .select(graft.functions.Urls.host(urlOf(col("doc_id"))).as("host"))
          .distinct()
          .select(col("host"),
            graft.functions.Urls.registeredDomain(col("host")).as("domain"),
            hid(col("host")).as("hid"))
        graft.operators.Graph.pageRank(edges, iters = 5)
          .join(broadcast(hosts), col("node") === col("hid"))
          .select(col("host"), col("domain"), col("rank"))
          .orderBy(desc("rank"), col("host")).limit(50)
      }
    }

    // HLL profile-artifact audit: the shard-folded, replay-exercised
    // artifact (profileArtifactRoot) serves per-group approx
    // distincts; the query outputs the EXACT distincts next to a gate
    // that each artifact estimate sits within ±6 % of exact (≈3.7σ at
    // lgConfigK=12, rsd ≈ 1.6 %) — so the oracle is value-exact
    // (counts + TRUE) while the sketch serving path is what's under
    // test. The artifact form of q_sketch_check.
    register("q_profile_artifact",
      """SELECT l_returnflag,
        |       count(DISTINCT l_orderkey) AS exact_orders,
        |       TRUE AS orders_ok
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""") { (s, dir) =>
      val served = graft.operators.Profile
        .readProfileArtifact(s, profileArtifactRoot(s, dir))
        .select(col("g").as("l_returnflag"), col("approx_distinct"))
      Tables.lineitem(s, dir)
        .groupBy("l_returnflag")
        .agg(countDistinct(col("l_orderkey")).as("exact_orders"))
        .join(broadcast(served), Seq("l_returnflag"))
        .select(col("l_returnflag"), col("exact_orders"),
          (abs(col("approx_distinct") - col("exact_orders"))
            <= col("exact_orders") * 0.06).as("orders_ok"))
        .orderBy("l_returnflag")
    }

    // Exact materialized aggregate served from the IVM artifact (two
    // batch folds + a replayed redelivery — see aggArtifactRoot): the
    // EXACT tier of the artifact family. Count/sum are additive, so
    // the incrementally-maintained view must equal the plain GROUP BY
    // over the whole table — which IS the oracle. What this row
    // gates: the per-batch pre-aggregation, the contract-frozen meta,
    // the idempotent redelivery, and the serving fold.
    register("q_agg_artifact",
      """SELECT l_returnflag,
        |       CAST(count(*) AS BIGINT) AS cnt,
        |       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""") { (s, dir) =>
      graft.operators.Profile.readAggArtifact(s, aggArtifactRoot(s, dir))
        .select(col("g").as("l_returnflag"), col("cnt"),
          col("sum").as("sum_cents"))
        .orderBy("l_returnflag")
    }

    // Log-histogram quantile sketch (HDR/DDSketch shape, all-integer):
    // per-group p50/p90/p99 of price cents from mergeable bucket
    // counters, next to the exact rank-percentile and a within-bound
    // gate — the quantile member of the sketch/audit pattern
    // (q_cms_counts, q_profile_artifact). EVERYTHING is value-exact:
    // bucket index is ⌊log2⌋ via binary-string length + integer
    // shifts (never libm), the target rank is integer basis-point
    // arithmetic, and the estimate is the walked bucket's exact lower
    // bound — so the DuckDB oracle replays every number, not just the
    // gate. Bound: est ≤ exact < (est+1)·65/64 (2^-6 relative; exact
    // in the linear regime), checked as pure integer comparisons.
    val quantileSketchSql =
      """WITH vals AS (
        |  SELECT l_returnflag AS g, CAST(round(l_extendedprice * 100) AS BIGINT) AS v
        |  FROM lineitem),
        |sk AS (
        |  SELECT g, e, s, count(*) AS cnt
        |  FROM (
        |    SELECT g, v, length(bin(v)) - 1 AS e,
        |           CASE WHEN length(bin(v)) - 1 < 6 THEN v
        |                ELSE (v >> (length(bin(v)) - 1 - 6)) - 64 END AS s
        |    FROM vals)
        |  GROUP BY 1, 2, 3),
        |walk AS (
        |  SELECT g, e, s, cnt,
        |         sum(cnt) OVER (PARTITION BY g ORDER BY e, s) AS cum,
        |         sum(cnt) OVER (PARTITION BY g) AS n,
        |         CASE WHEN e < 6 THEN s ELSE (64 + s) << (e - 6) END AS lb
        |  FROM sk),
        |qs AS (SELECT unnest([5000, 9000, 9900]) AS q_bp),
        |est AS (
        |  SELECT g, q_bp, min(lb) AS est, min(n) AS n
        |  FROM walk CROSS JOIN qs
        |  WHERE cum * 10000 >= CAST(q_bp AS BIGINT) * n
        |  GROUP BY 1, 2),
        |exact AS (
        |  SELECT g, q_bp, min(v) AS exact_v
        |  FROM (SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY v) AS rn,
        |               count(*) OVER (PARTITION BY g) AS n FROM vals)
        |       CROSS JOIN qs
        |  WHERE rn * 10000 >= CAST(q_bp AS BIGINT) * n
        |  GROUP BY 1, 2)
        |SELECT e.g AS g, e.q_bp, CAST(e.est AS BIGINT) AS est_cents,
        |       CAST(x.exact_v AS BIGINT) AS exact_cents, CAST(e.n AS BIGINT) AS n,
        |       (e.est <= x.exact_v AND x.exact_v * 64 < (e.est + 1) * 65) AS within_bound
        |FROM est e JOIN exact x USING (g, q_bp)
        |ORDER BY g, q_bp"""
    val quantileQs = Seq(5000, 9000, 9900)
    def quantileAudit(s: org.apache.spark.sql.SparkSession,
                      vals: org.apache.spark.sql.DataFrame,
                      est: org.apache.spark.sql.DataFrame) = {
      import org.apache.spark.sql.expressions.Window
      import s.implicits._
      val qdf = quantileQs.toDF("q_bp")
      val exact = vals
        .withColumn("rn", row_number().over(
          Window.partitionBy("g").orderBy("v")).cast("long"))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("g")))
        .crossJoin(broadcast(qdf))
        .filter(col("rn") * 10000 >= col("q_bp").cast("long") * col("n"))
        .groupBy("g", "q_bp").agg(min(col("v")).as("exact_cents"))
      est.join(exact, Seq("g", "q_bp"))
        .select(col("g"), col("q_bp"), col("est").as("est_cents"),
          col("exact_cents"), col("n"),
          (col("est") <= col("exact_cents") &&
            col("exact_cents") * 64 < (col("est") + 1) * 65).as("within_bound"))
        .orderBy("g", "q_bp")
    }
    def priceVals(s: org.apache.spark.sql.SparkSession, dir: String) =
      Tables.lineitem(s, dir).select(col("l_returnflag").as("g"),
        round(col("l_extendedprice") * 100).cast("long").as("v"))
    register("q_quantile_sketch", quantileSketchSql) { (s, dir) =>
      val vals = priceVals(s, dir)
      val est = graft.operators.Profile.quantileLookup(
        graft.operators.Profile.logHistogram(vals, "g", "v", mbits = 6),
        quantileQs, mbits = 6)
      quantileAudit(s, vals, est)
    }

    // PSI drift from STANDING sketch state: at 100 TB, "did this
    // corpus snapshot shift against the last one" is answered from
    // two kilobyte log-histogram sketches (the quantile-artifact
    // frames), never a re-scan. Two comparisons per group: even-vs-
    // odd orderkey splits of the same distribution (PSI lands in the
    // <0.1 stable band) and the corpus vs its one-octave price shift
    // (v*2 — every bucket moves, PSI ≫ 0.25), plus the ordering gate.
    // Buckets are the all-integer log-histogram cells; the smoothing
    // universe is the per-group UNION of observed buckets; the term
    // fold runs in (e, s) bucket order (the q_psi_drift idiom), so
    // DuckDB replays the doubles to the rounded 6dp exactly.
    locally {
      def bkSql(src: String) =
        s"""(SELECT g, e, s, count(*) AS cnt FROM (
           |  SELECT g, length(bin(v)) - 1 AS e,
           |         CASE WHEN length(bin(v)) - 1 < 6 THEN v
           |              ELSE (v >> (length(bin(v)) - 1 - 6)) - 64 END AS s
           |  FROM $src) GROUP BY 1, 2, 3)""".stripMargin
      def psiSql(pfx: String, b: String, c: String, out: String) =
        s"""u$pfx AS (SELECT g, e, s, sum(n_base) AS n_base, sum(n_cur) AS n_cur FROM (
           |  SELECT g, e, s, cnt AS n_base, 0 AS n_cur FROM $b
           |  UNION ALL SELECT g, e, s, 0, cnt FROM $c) GROUP BY 1, 2, 3),
           |t$pfx AS (SELECT g, sum(n_base) AS tb, sum(n_cur) AS tc, count(*) AS nbk
           |          FROM u$pfx GROUP BY g),
           |terms$pfx AS (
           |  SELECT u.g, e, s,
           |         ((n_base + 1.0) / (tb + nbk) - (n_cur + 1.0) / (tc + nbk))
           |           * ln(((n_base + 1.0) / (tb + nbk)) / ((n_cur + 1.0) / (tc + nbk))) AS term
           |  FROM u$pfx u JOIN t$pfx t ON u.g = t.g),
           |psi$pfx AS (
           |  SELECT g, round(list_sum(list_transform(list(struct_pack(e := e, s := s, term := term)
           |                                               ORDER BY e, s), x -> x.term)) + 0.0, 6) AS $out
           |  FROM terms$pfx GROUP BY g)""".stripMargin
      register("q_quantile_drift",
        s"""WITH vals AS (SELECT l_returnflag AS g, l_orderkey AS k,
           |                     CAST(round(l_extendedprice * 100) AS BIGINT) AS v FROM lineitem),
           |bk0 AS ${bkSql("(SELECT g, v FROM vals WHERE k % 2 = 0)")},
           |bk1 AS ${bkSql("(SELECT g, v FROM vals WHERE k % 2 = 1)")},
           |bkall AS ${bkSql("(SELECT g, v FROM vals)")},
           |bksh AS ${bkSql("(SELECT g, v * 2 AS v FROM vals)")},
           |${psiSql("A", "bk0", "bk1", "psi_same")},
           |${psiSql("B", "bkall", "bksh", "psi_shift")}
           |SELECT a.g AS g, a.psi_same, b.psi_shift,
           |       (b.psi_shift > a.psi_same) AS shift_dominates
           |FROM psiA a JOIN psiB b USING (g) ORDER BY g""") { (s, dir) =>
        val vals = Tables.lineitem(s, dir).select(col("l_returnflag").as("g"),
          col("l_orderkey").as("k"),
          round(col("l_extendedprice") * 100).cast("long").as("v"))
        def sk(df: org.apache.spark.sql.DataFrame) =
          graft.operators.Profile.logHistogram(df, "g", "v", mbits = 6)
        def fold(base: org.apache.spark.sql.DataFrame,
                 cur: org.apache.spark.sql.DataFrame, out: String) =
          graft.operators.Profile.psiFromLogHistograms(base, cur)
            .groupBy("g")
            .agg(sort_array(collect_list(
              struct(col("e"), col("s"), col("term")))).as("cs"))
            .select(col("g"),
              round(aggregate(col("cs"), lit(0.0),
                (a, x) => a + x.getField("term")) + lit(0.0), 6).as(out))
        val same = fold(sk(vals.filter(col("k") % 2 === 0)),
          sk(vals.filter(col("k") % 2 =!= 0)), "psi_same")
        val shift = fold(sk(vals), sk(vals.select(col("g"), (col("v") * 2).as("v"))),
          "psi_shift")
        same.join(shift, Seq("g"))
          .select(col("g"), col("psi_same"), col("psi_shift"),
            (col("psi_shift") > col("psi_same")).as("shift_dominates"))
          .orderBy("g")
      }
    }

    // The ARTIFACT lifecycle form of q_quantile_sketch: the sketch is
    // served from the persisted parts/b= fold (two batch
    // contributions + a replayed batch 0 — see quantileArtifactRoot),
    // and by counter linearity the served buckets are byte-identical
    // to the one-shot build's, so the oracle IS q_quantile_sketch's
    // SQL. What this row actually gates: init-once meta, two landed
    // batches, an idempotent redelivery, and the serving fold+walk.
    register("q_quantile_artifact", quantileSketchSql) { (s, dir) =>
      val est = graft.operators.Profile.quantileArtifactLookup(
        s, quantileArtifactRoot(s, dir), quantileQs)
      quantileAudit(s, priceVals(s, dir), est)
    }

    // The streaming drift monitor's alarm-log protocol, oracle-gated
    // (r15 verdict #8 — it was spec-only): three price batches fold
    // into a fresh quantile artifact, each judged against the
    // artifact-so-far BEFORE its fold (batch 0 has no prior → no
    // alarm; batch 1 is the same distribution → 'stable'; batch 2 is
    // shifted one octave, v*2, against the 0∪1 fold → 'shifted'),
    // then batch 1 is REDELIVERED after everything folded — both
    // replay gates hold (its alarm committed, its part fingerprinted),
    // so the log must read back verbatim: a recompute-after-fold would
    // judge the batch against itself and rewrite history. The oracle
    // re-derives each alarm from scratch — batch i's sketch PSI'd
    // against the UNION of batches 0..i−1 — with the q_quantile_drift
    // idiom (bucket-ordered term fold, 6dp round); the status bands
    // replay on the raw sum (both fixtures sit orders of magnitude
    // from the 0.1/0.25 edges).
    locally {
      def bkSql(src: String) =
        s"""(SELECT g, e, s, count(*) AS cnt FROM (
           |  SELECT g, length(bin(v)) - 1 AS e,
           |         CASE WHEN length(bin(v)) - 1 < 6 THEN v
           |              ELSE (v >> (length(bin(v)) - 1 - 6)) - 64 END AS s
           |  FROM $src) GROUP BY 1, 2, 3)""".stripMargin
      def psiRawSql(pfx: String, b: String, c: String) =
        s"""u$pfx AS (SELECT g, e, s, sum(n_base) AS n_base, sum(n_cur) AS n_cur FROM (
           |  SELECT g, e, s, cnt AS n_base, 0 AS n_cur FROM $b
           |  UNION ALL SELECT g, e, s, 0, cnt FROM $c) GROUP BY 1, 2, 3),
           |ug$pfx AS (SELECT g FROM u$pfx GROUP BY g
           |           HAVING sum(n_base) > 0 AND sum(n_cur) > 0),
           |t$pfx AS (SELECT g, sum(n_base) AS tb, sum(n_cur) AS tc, count(*) AS nbk
           |          FROM u$pfx GROUP BY g),
           |terms$pfx AS (
           |  SELECT u.g, e, s,
           |         ((n_base + 1.0) / (tb + nbk) - (n_cur + 1.0) / (tc + nbk))
           |           * ln(((n_base + 1.0) / (tb + nbk)) / ((n_cur + 1.0) / (tc + nbk))) AS term
           |  FROM u$pfx u JOIN t$pfx t ON u.g = t.g
           |  WHERE u.g IN (SELECT g FROM ug$pfx)),
           |psi$pfx AS (
           |  SELECT g, list_sum(list_transform(list(struct_pack(e := e, s := s, term := term)
           |                                         ORDER BY e, s), x -> x.term)) AS psi_raw
           |  FROM terms$pfx GROUP BY g)""".stripMargin
      register("q_drift_monitor",
        s"""WITH vals AS (SELECT l_returnflag AS g, l_orderkey AS k,
           |                     CAST(round(l_extendedprice * 100) AS BIGINT) AS v FROM lineitem),
           |bk0 AS ${bkSql("(SELECT g, v FROM vals WHERE k % 3 = 0)")},
           |bk1 AS ${bkSql("(SELECT g, v FROM vals WHERE k % 3 = 1)")},
           |bk01 AS ${bkSql("(SELECT g, v FROM vals WHERE k % 3 IN (0, 1))")},
           |bk2 AS ${bkSql("(SELECT g, v * 2 AS v FROM vals WHERE k % 3 = 2)")},
           |${psiRawSql("A", "bk0", "bk1")},
           |${psiRawSql("B", "bk01", "bk2")}
           |SELECT b, g, round(psi_raw + 0.0, 6) AS psi,
           |       CASE WHEN psi_raw < 0.1 THEN 'stable'
           |            WHEN psi_raw < 0.25 THEN 'drifting'
           |            ELSE 'shifted' END AS status
           |FROM (SELECT CAST(1 AS BIGINT) AS b, g, psi_raw FROM psiA
           |      UNION ALL SELECT CAST(2 AS BIGINT), g, psi_raw FROM psiB)
           |ORDER BY b, g""") { (s, dir) =>
        graft.streaming.StreamingDrift.readDriftAlarms(
            s, s"${driftMonitorRoot(s, dir)}/alarms")
          .select(col("b"), col("g"),
            round(col("psi") + lit(0.0), 6).as("psi"), col("status"))
          .orderBy("b", "g")
      }
    }

    // Passage-level exact dedup (RefinedWeb-style): 8-token passages,
    // passages seen in >1 distinct doc removed, docs reconstructed in
    // passage order. Census keys are 60-bit md5 hashes on both sides.
    register("q_dedup_passage",
      """WITH toks AS (
        |  SELECT doc_id,
        |         string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ') AS t
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, i,
        |         array_to_string(t[(i*8+1):(i*8+8)], ' ') AS passage
        |  FROM (SELECT doc_id, t,
        |               unnest(range(CAST(ceil(len(t) / 8.0) AS BIGINT))) AS i
        |        FROM toks)),
        |h AS (SELECT doc_id, i, passage,
        |             CAST(concat('0x', substring(md5(passage), 1, 15)) AS BIGINT) AS h
        |      FROM p),
        |d AS (SELECT h, count(DISTINCT doc_id) AS nd FROM h GROUP BY h)
        |SELECT doc_id,
        |       count(*) AS n_passages,
        |       CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
        |       coalesce(string_agg(CASE WHEN nd = 1 THEN passage END, ' ' ORDER BY i), '') AS clean_text
        |FROM h JOIN d USING (h)
        |GROUP BY doc_id ORDER BY doc_id""") { (s, dir) =>
      Dedup.passageDedup(docsFanned(s, dir, "doc_id", "text"), window = 8)
        .orderBy("doc_id")
    }

    // Cross-doc duplicated-span telemetry via the full 8-token
    // shingle census (stride 1 — any smaller overlap only matches
    // copies aligned mod stride) — the exact-substring-dedup signal
    // aligned passages can't give. Per doc: window counts, duplicated
    // fraction, and the longest consecutive duplicated run (verbatim
    // quotation vs scattered idiom; max_run R = a shared span of
    // R + 7 tokens). max_run's oracle is the classic gaps-and-islands
    // rewrite of the Spark-side sorted fold.
    register("q_dup_spans",
      """WITH toks AS (
        |  SELECT doc_id,
        |         string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ') AS t
        |  FROM documents),
        |w AS (
        |  SELECT doc_id, i,
        |         array_to_string(t[(i+1):(i+8)], ' ') AS win
        |  FROM (SELECT doc_id, t,
        |               unnest(range(greatest(len(t) - 7, 1))) AS i
        |        FROM toks)),
        |h AS (SELECT doc_id, i,
        |             CAST(concat('0x', substring(md5(win), 1, 15)) AS BIGINT) AS h
        |      FROM w),
        |d AS (SELECT h, count(DISTINCT doc_id) AS nd FROM h GROUP BY h),
        |f AS (SELECT doc_id, i, (nd > 1) AS fl FROM h JOIN d USING (h)),
        |isl AS (SELECT doc_id, i, fl,
        |               i - row_number() OVER (PARTITION BY doc_id, fl ORDER BY i) AS g
        |        FROM f),
        |runs AS (SELECT doc_id, count(*) AS run FROM isl WHERE fl GROUP BY doc_id, g),
        |mr AS (SELECT doc_id, max(run) AS max_run FROM runs GROUP BY doc_id)
        |SELECT f.doc_id,
        |       count(*) AS n_windows,
        |       CAST(sum(CASE WHEN fl THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
        |       round(avg(CASE WHEN fl THEN 1.0 ELSE 0.0 END), 4) AS dup_frac,
        |       CAST(coalesce(any_value(mr.max_run), 0) AS BIGINT) AS max_run
        |FROM f LEFT JOIN mr USING (doc_id)
        |GROUP BY f.doc_id ORDER BY f.doc_id""") { (s, dir) =>
      Dedup.dupSpans(docsFanned(s, dir, "doc_id", "text"), window = 8)
        .orderBy("doc_id")
    }

    // Exact-substring dedup REMOVAL (the acting form of q_dup_spans):
    // every token covered by a cross-doc duplicated 8-token window is
    // stripped in ALL copies; the oracle reconstructs each document's
    // clean text independently, so one token kept or dropped wrongly
    // anywhere in the corpus shifts the hash.
    register("q_dedup_strip_spans",
      """WITH toks AS (
        |  SELECT doc_id,
        |         string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ') AS t
        |  FROM documents),
        |w AS (
        |  SELECT doc_id, i,
        |         array_to_string(t[(i+1):(i+8)], ' ') AS win
        |  FROM (SELECT doc_id, t,
        |               unnest(range(greatest(len(t) - 7, 1))) AS i
        |        FROM toks)),
        |h AS (SELECT doc_id, i,
        |             CAST(concat('0x', substring(md5(win), 1, 15)) AS BIGINT) AS h
        |      FROM w),
        |d AS (SELECT h, count(DISTINCT doc_id) AS nd FROM h GROUP BY h),
        |fl AS (SELECT doc_id, i FROM h JOIN d USING (h) WHERE nd > 1),
        |tp AS (SELECT doc_id, p, t[p+1] AS tok
        |       FROM (SELECT doc_id, t, unnest(range(len(t))) AS p FROM toks)),
        |kept AS (SELECT tp.doc_id, tp.p, tp.tok FROM tp
        |         WHERE NOT EXISTS (SELECT 1 FROM fl
        |                           WHERE fl.doc_id = tp.doc_id
        |                             AND fl.i BETWEEN tp.p - 7 AND tp.p))
        |SELECT tk.doc_id,
        |       CAST(tk.n AS BIGINT) AS n_tokens,
        |       CAST(tk.n - count(k.p) AS BIGINT) AS n_removed,
        |       coalesce(string_agg(k.tok, ' ' ORDER BY k.p), '') AS clean_text
        |FROM (SELECT doc_id, len(t) AS n FROM toks) tk
        |LEFT JOIN kept k ON tk.doc_id = k.doc_id
        |GROUP BY tk.doc_id, tk.n
        |ORDER BY tk.doc_id""") { (s, dir) =>
      Dedup.stripDupSpans(docsFanned(s, dir, "doc_id", "text"), window = 8)
        .orderBy("doc_id")
    }

    // Per-source corpus health — the operational rollup a corpus
    // owner watches per ingest: volume (docs/tokens), short-doc and
    // within-source exact-dup fractions, mean quality (fixed-point
    // integer sum — double summation order differs between engines),
    // and the dominant language with its share (count desc, lang desc
    // tie-break on both sides). One fingerprint census + one rollup;
    // lang mode is a dim-sized aggregate.
    register("q_source_health",
      """WITH t AS (
        |  SELECT doc_id, source, lang,
        |         string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ') AS toks,
        |         md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, source, lang, fp,
        |         CAST(len(toks) AS BIGINT) AS n_tokens,
        |         round(least(1.0, len(toks) / 100.0)
        |               * (1.0 - CAST(len(list_filter(toks,
        |                        x -> x IN ('the','a','an','of','to','in','and','is'))) AS DOUBLE)
        |                 / len(toks)), 4) AS q
        |  FROM t),
        |c AS (SELECT source, fp, count(*) AS nfp FROM b GROUP BY source, fp),
        |f AS (SELECT b.*, c.nfp FROM b JOIN c USING (source, fp)),
        |ps AS (SELECT source,
        |              count(*) AS n_docs,
        |              CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        |              round(CAST(sum(n_tokens) AS DOUBLE) / count(*), 2) AS avg_tokens,
        |              round(sum(CASE WHEN n_tokens < 20 THEN 1.0 ELSE 0.0 END) / count(*), 4) AS short_frac,
        |              round(sum(CASE WHEN nfp > 1 THEN 1.0 ELSE 0.0 END) / count(*), 4) AS exact_dup_frac,
        |              round(CAST(sum(CAST(round(q * 10000) AS BIGINT)) AS DOUBLE)
        |                    / (10000.0 * count(*)), 4) AS avg_quality
        |       FROM f GROUP BY source),
        |lc AS (SELECT source, lang, count(*) AS c FROM documents GROUP BY source, lang),
        |tl AS (SELECT source, lang AS top_lang, c
        |       FROM (SELECT source, lang, c,
        |                    row_number() OVER (PARTITION BY source
        |                                       ORDER BY c DESC, lang DESC) AS rn
        |             FROM lc) r WHERE rn = 1)
        |SELECT ps.source, n_docs, total_tokens, avg_tokens, short_frac,
        |       exact_dup_frac, avg_quality, top_lang,
        |       round(CAST(c AS DOUBLE) / n_docs, 4) AS top_lang_frac
        |FROM ps JOIN tl USING (source) ORDER BY ps.source""") { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, dir)
      val base = docs.select(col("source"), col("doc_id"), col("lang"),
          TextStats.tokens(col("text")).as("toks"),
          TextStats.fingerprint(col("text")).as("fp"))
        .select(col("source"), col("doc_id"), col("lang"), col("fp"),
          size(col("toks")).cast("long").as("n_tokens"),
          round(TextStats.qualityScoreOf(col("toks")), 4).as("q"))
      val census = base.groupBy("source", "fp").agg(count(lit(1)).as("nfp"))
      val flagged = base.join(census.hint("shuffle_hash"), Seq("source", "fp"))
      val perSource = flagged.groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum("n_tokens").as("total_tokens"),
        round(sum("n_tokens").cast("double") / count(lit(1)), 2).as("avg_tokens"),
        round(sum(when(col("n_tokens") < 20, 1.0).otherwise(0.0)) / count(lit(1)), 4)
          .as("short_frac"),
        round(sum(when(col("nfp") > 1, 1.0).otherwise(0.0)) / count(lit(1)), 4)
          .as("exact_dup_frac"),
        round(sum(round(col("q") * 10000).cast("long")).cast("double")
          / (lit(10000.0) * count(lit(1))), 4).as("avg_quality"))
      val topLang = docs.groupBy("source", "lang").agg(count(lit(1)).as("c"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("source").orderBy(col("c").desc, col("lang").desc)))
        .filter(col("rn") === 1)
        .select(col("source"), col("lang").as("top_lang"), col("c"))
      perSource.join(topLang, Seq("source"))
        .withColumn("top_lang_frac",
          round(col("c").cast("double") / col("n_docs"), 4))
        .select("source", "n_docs", "total_tokens", "avg_tokens", "short_frac",
          "exact_dup_frac", "avg_quality", "top_lang", "top_lang_frac")
        .orderBy("source")
    }

    // Domain-grain corpus health — q_source_health at REGISTERED-DOMAIN
    // grain, preceded by URL canonicalization (the CCNet/RefinedWeb
    // stage before source-scoped dedup): lowercase scheme+host, strip
    // userinfo/fragment/default port/www./trailing slash, drop
    // tracking params, SORT the rest. The url column is synthesized
    // deterministically from doc_id in BOTH engines (the testdata has
    // no url column), covering dup-heavy domains, per-doc-unique
    // paths, a co.uk and a com.au two-level suffix, uppercase hosts,
    // and raw forms that only collide after canonicalization. Pure
    // string expressions, map-only — one grouped census, domain-sized
    // aggregates.
    register("q_domain_health",
      """WITH d AS (
        |  SELECT doc_id, n_chars,
        |         """ + syntheticUrlSql + """ AS url
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, n_chars,
        |         lower(regexp_extract(trim(url), '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS sch,
        |         regexp_replace(regexp_replace(trim(url), '#.*$', ''), '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest
        |  FROM d),
        |h0 AS (
        |  SELECT *, regexp_replace(lower(regexp_extract(rest, '^([^/?]*)', 1)), '^[^@]*@', '') AS hp,
        |         regexp_replace(rest, '^[^/?]*', '') AS pq
        |  FROM p),
        |h1 AS (
        |  SELECT *, CASE WHEN sch = 'http' THEN regexp_replace(hp, ':80$', '')
        |                 WHEN sch = 'https' THEN regexp_replace(hp, ':443$', '')
        |                 ELSE hp END AS hp2
        |  FROM h0),
        |h2 AS (SELECT *, regexp_replace(hp2, '^www\.', '') AS host FROM h1),
        |pc AS (
        |  SELECT *, regexp_replace(regexp_extract(pq, '^([^?]*)', 1), '/+$', '') AS path,
        |         coalesce(array_to_string(list_sort(list_filter(string_split(regexp_extract(pq, '\?(.*)$', 1), '&'),
        |           x -> x <> '' AND NOT regexp_matches(x, '^(utm_[a-z]+|gclid|fbclid|ref|mc_cid|mc_eid)(=|$)'))), '&'), '') AS q,
        |         regexp_replace(host, ':\d+$', '') AS host_np
        |  FROM h2),
        |c AS (
        |  SELECT doc_id, n_chars, host,
        |         sch || '://' || host || path || CASE WHEN q = '' THEN '' ELSE '?' || q END AS curl,
        |""" + graft.functions.Urls.registeredDomainSql("host_np") + """ AS domain
        |  FROM pc),
        |cc AS (SELECT domain, host, curl, count(*) AS n, sum(n_chars) AS sc FROM c GROUP BY 1, 2, 3)
        |SELECT domain, CAST(sum(n) AS BIGINT) AS n_docs,
        |       CAST(count(DISTINCT host) AS BIGINT) AS n_hosts,
        |       CAST(count(*) AS BIGINT) AS n_canonical,
        |       round(CAST(sum(CASE WHEN n > 1 THEN n ELSE 0 END) AS DOUBLE) / sum(n), 4) AS url_dup_frac,
        |       round(CAST(sum(sc) AS DOUBLE) / sum(n), 2) AS avg_chars
        |FROM cc GROUP BY domain ORDER BY domain""") { (s, dir) =>
      val id = col("doc_id")
      val url = syntheticUrl(id)
      val t = Tables.documents(s, dir).select(id, col("n_chars"),
        graft.functions.Urls.canonicalizeUrl(url).as("curl"),
        graft.functions.Urls.host(url).as("host"),
        graft.functions.Urls.registeredDomain(url).as("domain"))
      t.groupBy("domain", "host", "curl")
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sc"))
        .groupBy("domain")
        .agg(
          sum("n").as("n_docs"),
          countDistinct("host").as("n_hosts"),
          count(lit(1)).as("n_canonical"),
          round(sum(when(col("n") > 1, col("n")).otherwise(lit(0L))).cast("double")
            / sum("n"), 4).as("url_dup_frac"),
          round(sum("sc").cast("double") / sum("n"), 2).as("avg_chars"))
        .orderBy("domain")
    }

    // Per-domain crawl cap — the anti-domination curation rule: cap
    // pages per REGISTERED DOMAIN before training so one megasite
    // cannot dominate the mix (the standard crawl-curation companion
    // to per-source mixing, which groups by declared source rather
    // than by link identity). ONE plan composes the PSL
    // registered-domain derivation with the deterministic md5-rank
    // cap (Sampling.exactKPerStratum): k = 3 is fixture-small so
    // every synthesized domain actually truncates at every SF. The
    // oracle independently replays the host canonicalization, the
    // PSL CASE chain AND the salted-md5 rank — a wrong domain, a
    // dropped doc or a shifted rank all shift the hash.
    register("q_domain_cap",
      "WITH " + domainCtesSql("") + """,
        |r AS (
        |  SELECT domain, doc_id,
        |         row_number() OVER (PARTITION BY domain
        |                            ORDER BY md5(concat(doc_id, ':42')), doc_id) AS rn
        |  FROM dom)
        |SELECT domain, doc_id FROM r WHERE rn <= 3
        |ORDER BY domain, doc_id""") { (s, dir) =>
      val url = syntheticUrl(col("doc_id"))
      val dom = Tables.documents(s, dir).select(col("doc_id"),
        graft.functions.Urls.registeredDomain(url).as("domain"))
      graft.operators.Sampling.exactKPerStratum(dom, "domain", "doc_id", k = 3)
        .select("domain", "doc_id")
        .orderBy("domain", "doc_id")
    }

    // Source-scoped boilerplate removal (CCNet/RefinedWeb line-freq
    // filter over 8-token passages): a passage is boilerplate when it
    // recurs in ≥ 2 docs AND ≥ 5 % of the docs of its OWN source —
    // site-wide repetition, not cross-site quotation. Same census
    // machinery as q_dedup_passage, scoped by source with a
    // source-size-relative threshold.
    register("q_boilerplate_strip",
      """WITH toks AS (
        |  SELECT doc_id, source,
        |         string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ') AS t
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, source, i,
        |         array_to_string(t[(i*8+1):(i*8+8)], ' ') AS passage
        |  FROM (SELECT doc_id, source, t,
        |               unnest(range(CAST(ceil(len(t) / 8.0) AS BIGINT))) AS i
        |        FROM toks)),
        |h AS (SELECT doc_id, source, i, passage,
        |             CAST(concat('0x', substring(md5(passage), 1, 15)) AS BIGINT) AS h
        |      FROM p),
        |d AS (SELECT source, h, count(DISTINCT doc_id) AS nd FROM h GROUP BY source, h),
        |st AS (SELECT source, count(DISTINCT doc_id) AS nsd FROM documents GROUP BY source),
        |v AS (SELECT source, h, (nd >= 2 AND CAST(nd AS DOUBLE) >= 0.05 * nsd) AS boiler
        |      FROM d JOIN st USING (source))
        |SELECT doc_id,
        |       count(*) AS n_passages,
        |       CAST(sum(CASE WHEN boiler THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
        |       coalesce(string_agg(CASE WHEN NOT boiler THEN passage END, ' ' ORDER BY i), '') AS clean_text
        |FROM h JOIN v USING (source, h)
        |GROUP BY doc_id ORDER BY doc_id""") { (s, dir) =>
      Dedup.boilerplateStrip(docsFanned(s, dir, "doc_id", "source", "text"),
          sourceCol = "source", window = 8, minDocs = 2, minFrac = 0.05)
        .orderBy("doc_id")
    }

    // Token chunking: fixed 16-token windows, 4-token overlap — the
    // doc → encoder-input prep of an embedding pipeline. Pure built-ins
    // (sequence → explode → slice), chunk-count arithmetic is an
    // exact-integer double ceil on both engines.
    register("q_chunk_tokens",
      """WITH t AS (
        |  SELECT doc_id,
        |         string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ') AS toks
        |  FROM documents),
        |n AS (SELECT doc_id, toks,
        |             greatest(CAST(1 AS BIGINT),
        |                      CAST(ceil(CAST(len(toks) - 4 AS DOUBLE)
        |                                / CAST(12.0 AS DOUBLE)) AS BIGINT)) AS n_chunks
        |      FROM t),
        |c AS (SELECT doc_id, toks, unnest(range(n_chunks)) AS chunk_id FROM n)
        |SELECT doc_id, chunk_id,
        |       CAST(len(toks[(chunk_id * 12 + 1):(chunk_id * 12 + 16)]) AS BIGINT) AS n_tokens,
        |       array_to_string(toks[(chunk_id * 12 + 1):(chunk_id * 12 + 16)], ' ') AS chunk_text
        |FROM c ORDER BY doc_id, chunk_id""") { (s, dir) =>
      Chunker.chunkTokens(Tables.documents(s, dir), size = 16, overlap = 4)
        .orderBy("doc_id", "chunk_id")
    }

    // Gopher-style repetition signals: duplicate-2/3-gram fractions
    // (1 − distinct/total) and the most-frequent-token share — the
    // boilerplate/looping-text signals web-scale corpus filters
    // threshold on. Gram fracs are per-row list arithmetic; the top-
    // token share is explode → two-level hash-agg (scales with corpus,
    // shuffles only the (doc_id, token) counts).
    register("q_repetition",
      """WITH t AS (
        |  SELECT doc_id,
        |         string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ') AS toks
        |  FROM documents),
        |g AS (SELECT doc_id,
        |             CASE WHEN len(toks) < 2 THEN [array_to_string(toks, ' ')]
        |                  ELSE list_transform(range(len(toks) - 1),
        |                                      i -> array_to_string(toks[(i+1):(i+2)], ' ')) END AS g2,
        |             CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |                  ELSE list_transform(range(len(toks) - 2),
        |                                      i -> array_to_string(toks[(i+1):(i+3)], ' ')) END AS g3
        |      FROM t),
        |d AS (SELECT doc_id,
        |             round(CAST(1.0 AS DOUBLE)
        |                   - CAST(len(list_distinct(g2)) AS DOUBLE) / len(g2), 4) AS dup2_frac,
        |             round(CAST(1.0 AS DOUBLE)
        |                   - CAST(len(list_distinct(g3)) AS DOUBLE) / len(g3), 4) AS dup3_frac
        |      FROM g),
        |c AS (SELECT doc_id, len(toks) AS n, unnest(toks) AS tok FROM t),
        |m AS (SELECT doc_id, n, tok, count(*) AS c FROM c GROUP BY 1, 2, 3),
        |mm AS (SELECT doc_id, round(CAST(max(c) AS DOUBLE) / n, 4) AS top_token_frac
        |       FROM m GROUP BY doc_id, n)
        |SELECT d.doc_id, dup2_frac, dup3_frac, top_token_frac,
        |       (dup3_frac > 0.2 OR top_token_frac > 0.2) AS repetitive
        |FROM d JOIN mm ON d.doc_id = mm.doc_id
        |ORDER BY d.doc_id""") { (s, dir) =>
      val toksDf = Tables.documents(s, dir)
        .select(col("doc_id"), TextStats.tokens(col("text")).as("toks"))
      // grams staged as real projection columns (lambda-capture rule)
      val fracs = toksDf
        .select(col("doc_id"),
          Dedup.gramsOf(col("toks"), 2).as("g2"),
          Dedup.gramsOf(col("toks"), 3).as("g3"))
        .select(col("doc_id"),
          round(lit(1.0) - size(array_distinct(col("g2"))).cast("double")
            / size(col("g2")), 4).as("dup2_frac"),
          round(lit(1.0) - size(array_distinct(col("g3"))).cast("double")
            / size(col("g3")), 4).as("dup3_frac"))
      val top = toksDf
        .select(col("doc_id"), size(col("toks")).as("n"), explode(col("toks")).as("tok"))
        .groupBy("doc_id", "n", "tok").agg(count(lit(1)).as("c"))
        .groupBy("doc_id", "n").agg(max("c").as("maxc"))
        .select(col("doc_id"),
          round(col("maxc").cast("double") / col("n"), 4).as("top_token_frac"))
      fracs.join(top, Seq("doc_id"))
        .withColumn("repetitive",
          col("dup3_frac") > 0.2 || col("top_token_frac") > 0.2)
        .orderBy("doc_id")
    }

    // Quality filter FUNNEL — the FineWeb-style cascade as one pass:
    // every doc gets each signal plus a verdict naming the FIRST rule
    // that kills it (too_short → repetitive → low_quality → keep), the
    // attribution a curation team needs to see WHY the corpus shrank,
    // not just that it did. One tokenize feeds all signals; the oracle
    // recomposes the same fragments the individual signal queries
    // already verify.
    register("q_quality_funnel",
      """WITH t AS (
        |  SELECT doc_id,
        |         string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ') AS toks
        |  FROM documents),
        |q AS (SELECT doc_id, len(toks) AS n_tokens,
        |             round(least(1.0, len(toks) / 100.0)
        |                   * (1.0 - CAST(len(list_filter(toks,
        |                            x -> x IN ('the','a','an','of','to','in','and','is'))) AS DOUBLE)
        |                     / len(toks)), 4) AS quality
        |      FROM t),
        |g AS (SELECT doc_id,
        |             CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |                  ELSE list_transform(range(len(toks) - 2),
        |                                      i -> array_to_string(toks[(i+1):(i+3)], ' ')) END AS g3
        |      FROM t),
        |d AS (SELECT doc_id,
        |             round(CAST(1.0 AS DOUBLE)
        |                   - CAST(len(list_distinct(g3)) AS DOUBLE) / len(g3), 4) AS dup3_frac
        |      FROM g),
        |c AS (SELECT doc_id, len(toks) AS n, unnest(toks) AS tok FROM t),
        |m AS (SELECT doc_id, n, tok, count(*) AS c FROM c GROUP BY 1, 2, 3),
        |mm AS (SELECT doc_id, round(CAST(max(c) AS DOUBLE) / n, 4) AS top_token_frac
        |       FROM m GROUP BY doc_id, n)
        |SELECT q.doc_id, q.n_tokens, q.quality, d.dup3_frac, mm.top_token_frac,
        |       CASE WHEN q.n_tokens < 20 THEN 'too_short'
        |            WHEN d.dup3_frac > 0.2 OR mm.top_token_frac > 0.2 THEN 'repetitive'
        |            WHEN q.quality < 0.30 THEN 'low_quality'
        |            ELSE 'keep' END AS verdict
        |FROM q JOIN d USING (doc_id) JOIN mm USING (doc_id)
        |ORDER BY doc_id""") { (s, dir) =>
      val toksDf = Tables.documents(s, dir)
        .select(col("doc_id"), TextStats.tokens(col("text")).as("toks"))
      val q = toksDf.select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        round(TextStats.qualityScoreOf(col("toks")), 4).as("quality"))
      val d = toksDf
        .select(col("doc_id"), Dedup.gramsOf(col("toks"), 3).as("g3"))
        .select(col("doc_id"),
          round(lit(1.0) - size(array_distinct(col("g3"))).cast("double")
            / size(col("g3")), 4).as("dup3_frac"))
      val top = toksDf
        .select(col("doc_id"), size(col("toks")).as("n"), explode(col("toks")).as("tok"))
        .groupBy("doc_id", "n", "tok").agg(count(lit(1)).as("c"))
        .groupBy("doc_id", "n").agg(max("c").as("maxc"))
        .select(col("doc_id"),
          round(col("maxc").cast("double") / col("n"), 4).as("top_token_frac"))
      q.join(d, Seq("doc_id")).join(top, Seq("doc_id"))
        .withColumn("verdict",
          when(col("n_tokens") < 20, "too_short")
            .when(col("dup3_frac") > 0.2 || col("top_token_frac") > 0.2, "repetitive")
            .when(col("quality") < 0.30, "low_quality")
            .otherwise("keep"))
        .orderBy("doc_id")
    }

    // PII masking: emails/URLs/phone runs → typed placeholders, with
    // per-category counts. Docs 0-9 get planted PII so the masking is
    // exercised at every sf; the regex subset is shared by Java regex
    // and RE2, so DuckDB replays the masked text byte-for-byte.
    register("q_pii_mask",
      """WITH src AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id < 10
        |              THEN concat(text, ' contact bob@example.com via https://example.com/page?x=1 or +1 (555) 123-4567')
        |              ELSE text END AS text
        |  FROM documents)
        |SELECT doc_id,
        |       regexp_replace(
        |         regexp_replace(
        |           regexp_replace(text, 'https?://[^\s]+', '<URL>', 'g'),
        |           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |         '\+?[0-9][0-9()\-. ]{7,}[0-9]', '<PHONE>', 'g') AS masked,
        |       CAST(len(regexp_extract_all(text, 'https?://[^\s]+')) AS BIGINT) AS n_urls,
        |       CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |       CAST(len(regexp_extract_all(text, '\+?[0-9][0-9()\-. ]{7,}[0-9]')) AS BIGINT) AS n_phones
        |FROM src ORDER BY doc_id""") { (s, dir) =>
      val planted = Tables.documents(s, dir).select(col("doc_id"),
        when(col("doc_id") < 10,
          concat(col("text"),
            lit(" contact bob@example.com via https://example.com/page?x=1 or +1 (555) 123-4567")))
          .otherwise(col("text")).as("text"))
      planted.select(
        col("doc_id"),
        TextClean.maskPii(col("text")).as("masked"),
        TextClean.nUrls(col("text")).as("n_urls"),
        TextClean.nEmails(col("text")).as("n_emails"),
        TextClean.nPhones(col("text")).as("n_phones"))
        .orderBy("doc_id")
    }

    // Brute-force cosine top-5 for 10 probe vectors (exact baseline).
    register("q_ann_brute",
      """WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |probes AS (SELECT * FROM c WHERE vec_id < 10),
        |scored AS (
        |  SELECT p.vec_id AS q_id, n.vec_id AS n_id,
        |         round(list_dot_product(p.emb, n.emb)
        |               / (sqrt(list_dot_product(p.emb, p.emb)) * sqrt(list_dot_product(n.emb, n.emb))), 6)
        |           + CAST(0.0 AS DOUBLE) AS cos
        |  FROM probes p JOIN c n ON p.vec_id <> n.vec_id)
        |SELECT q_id, n_id, cos,
        |       row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk
        |FROM scored
        |QUALIFY rnk <= 5
        |ORDER BY q_id, rnk""") { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      Similarity.bruteTopK(emb, emb.filter(col("vec_id") < 10), 5)
        .orderBy("q_id", "rnk")
    }

    // LSH-bucketed ANN (SimilaritySpec measures recall vs brute). The
    // Rademacher (±1) hyperplanes are literal constants, so the exact
    // bucketing — sign patterns per table — candidate join, scoring and
    // ranking replay value-exactly in DuckDB.
    {
      val nTables = 8; val bits = 8
      val planes = Similarity.hyperplanes(nTables * bits, 64)
      def planeLit(p: Array[Double]) =
        p.map(v => if (v > 0) "1.0" else "-1.0").mkString("[", ",", "]")
      val bucketEntries = (0 until nTables).map { t =>
        val sig = (0 until bits).map { b =>
          s"(CASE WHEN list_dot_product(emb, ${planeLit(planes(t * bits + b))}) > 0 THEN ${1 << b} ELSE 0 END)"
        }.mkString(" + ")
        s"concat('$t:', $sig)"
      }.mkString("[", ",\n           ", "]")
      register("q_ann_lsh",
        s"""WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
           |cb AS (
           |  SELECT vec_id, emb,
           |         unnest($bucketEntries) AS bucket
           |  FROM c),
           |cand AS (
           |  SELECT DISTINCT p.vec_id AS q_id, n.vec_id AS n_id
           |  FROM cb p JOIN cb n ON p.bucket = n.bucket
           |  WHERE p.vec_id < 10 AND p.vec_id <> n.vec_id),
           |scored AS (
           |  SELECT q_id, n_id,
           |         round(list_dot_product(qe.emb, ne.emb)
           |               / (sqrt(list_dot_product(qe.emb, qe.emb))
           |                  * sqrt(list_dot_product(ne.emb, ne.emb))), 6)
           |           + CAST(0.0 AS DOUBLE) AS cos
           |  FROM cand
           |  JOIN c qe ON qe.vec_id = cand.q_id
           |  JOIN c ne ON ne.vec_id = cand.n_id)
           |SELECT q_id, n_id, cos,
           |       row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk
           |FROM scored
           |QUALIFY rnk <= 5
           |ORDER BY q_id, rnk""") { (s, dir) =>
        val emb = Tables.embeddings(s, dir)
        Similarity.lshTopK(emb, emb.filter(col("vec_id") < 10), 5)
          .orderBy("q_id", "rnk")
      }

      // Retrieval-quality evaluation harness (operators/RankEval):
      // recall@10, MRR@10 and nDCG@10 of the LSH tier against the
      // exact brute-force truth, per probe — the metric set that ranks
      // retrieval CONFIGURATIONS against each other, itself
      // oracle-exact because both rankings replay in SQL (constant
      // hyperplanes for LSH, exact cosine for the truth) and the DCG
      // sum folds in candidate-rank order.
      register("q_rank_eval",
        s"""WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
           |cb AS (
           |  SELECT vec_id, emb,
           |         unnest($bucketEntries) AS bucket
           |  FROM c),
           |cnd AS (
           |  SELECT DISTINCT p.vec_id AS q_id, n.vec_id AS n_id
           |  FROM cb p JOIN cb n ON p.bucket = n.bucket
           |  WHERE p.vec_id < 10 AND p.vec_id <> n.vec_id),
           |lscored AS (
           |  SELECT q_id, n_id,
           |         round(list_dot_product(qe.emb, ne.emb)
           |               / (sqrt(list_dot_product(qe.emb, qe.emb))
           |                  * sqrt(list_dot_product(ne.emb, ne.emb))), 6)
           |           + CAST(0.0 AS DOUBLE) AS cos
           |  FROM cnd
           |  JOIN c qe ON qe.vec_id = cnd.q_id
           |  JOIN c ne ON ne.vec_id = cnd.n_id),
           |cand AS (
           |  SELECT q_id, n_id,
           |         row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk
           |  FROM lscored QUALIFY rnk <= 10),
           |bscored AS (
           |  SELECT p.vec_id AS q_id, n.vec_id AS n_id,
           |         round(list_dot_product(p.emb, n.emb)
           |               / (sqrt(list_dot_product(p.emb, p.emb)) * sqrt(list_dot_product(n.emb, n.emb))), 6)
           |           + CAST(0.0 AS DOUBLE) AS cos
           |  FROM c p JOIN c n ON p.vec_id <> n.vec_id
           |  WHERE p.vec_id < 10),
           |truth AS (
           |  SELECT q_id, n_id,
           |         row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk
           |  FROM bscored QUALIFY rnk <= 10),
           |${irMetricsSqlTail(10)}""") { (s, dir) =>
        val emb = Tables.embeddings(s, dir)
        val probes = emb.filter(col("vec_id") < 10)
        graft.operators.RankEval.metrics(
          Similarity.bruteTopK(emb, probes, 10),
          Similarity.lshTopK(emb, probes, 10), 10)
          .orderBy("q_id")
      }
    }

    // Product-quantization ANN (ADC search over md5-sampled codebooks
    // — every code and ADC score is VALUE-exact, so unlike IVF the PQ
    // path is fully oracle-checked, not recall-gated): 8 subspaces ×
    // 16 entries, probes vec 0-2, top-5 by asymmetric distance.
    register("q_ann_pq",
      """WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |cents AS (SELECT vec_id AS cid, emb AS cemb FROM c
        |          ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
        |sub AS (SELECT unnest(range(8)) AS s),
        |ac AS (
        |  SELECT v.vec_id, sub.s, ct.cid,
        |         round(list_sum(list_transform(range(8),
        |               i -> (v.emb[sub.s*8 + i + 1] - ct.cemb[sub.s*8 + i + 1])
        |                    * (v.emb[sub.s*8 + i + 1] - ct.cemb[sub.s*8 + i + 1]))), 6) AS d2
        |  FROM c v, sub, cents ct),
        |codes AS (
        |  SELECT vec_id, s, cid AS code
        |  FROM (SELECT vec_id, s, cid,
        |               row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, cid) AS rn
        |        FROM ac) t
        |  WHERE rn = 1),
        |lut AS (SELECT vec_id AS q_id, s, cid AS code, d2 FROM ac WHERE vec_id < 3),
        |sc AS (
        |  SELECT l.q_id, cd.vec_id AS n_id,
        |         round(list_sum(list(l.d2 ORDER BY l.s)), 6) AS ad2
        |  FROM codes cd JOIN lut l ON cd.s = l.s AND cd.code = l.code
        |  WHERE cd.vec_id <> l.q_id
        |  GROUP BY l.q_id, cd.vec_id)
        |SELECT q_id, n_id, ad2,
        |       row_number() OVER (PARTITION BY q_id ORDER BY ad2, n_id) AS rnk
        |FROM sc QUALIFY rnk <= 5
        |ORDER BY q_id, rnk""") { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      Similarity.pqTopK(emb, emb.filter(col("vec_id") < 3), 5)
        .orderBy("q_id", "rnk")
    }

    // The same ADC probe answered off the PERSISTED PQ index — the
    // codebook is sampled over the 80% build slice only (frozen), the
    // remaining vectors are APPENDED as codes against it, and the
    // compacted artifact serves every probe. The oracle replays that
    // exact lifecycle: cents from the 80% slice, codes for the WHOLE
    // corpus against those cents — so a lost/duplicated code row, a
    // re-sampled codebook, or a compaction bug shifts the hash. Unlike
    // IVF, PQ needs no recall companion: the artifact path is
    // value-exact end to end.
    register("q_ann_pq_indexed",
      """WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |cents AS (SELECT vec_id AS cid, emb AS cemb FROM c
        |          WHERE vec_id % 10 < 8
        |          ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
        |sub AS (SELECT unnest(range(8)) AS s),
        |ac AS (
        |  SELECT v.vec_id, sub.s, ct.cid,
        |         round(list_sum(list_transform(range(8),
        |               i -> (v.emb[sub.s*8 + i + 1] - ct.cemb[sub.s*8 + i + 1])
        |                    * (v.emb[sub.s*8 + i + 1] - ct.cemb[sub.s*8 + i + 1]))), 6) AS d2
        |  FROM c v, sub, cents ct),
        |codes AS (
        |  SELECT vec_id, s, cid AS code
        |  FROM (SELECT vec_id, s, cid,
        |               row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, cid) AS rn
        |        FROM ac) t
        |  WHERE rn = 1),
        |lut AS (SELECT vec_id AS q_id, s, cid AS code, d2 FROM ac WHERE vec_id < 3),
        |sc AS (
        |  SELECT l.q_id, cd.vec_id AS n_id,
        |         round(list_sum(list(l.d2 ORDER BY l.s)), 6) AS ad2
        |  FROM codes cd JOIN lut l ON cd.s = l.s AND cd.code = l.code
        |  WHERE cd.vec_id <> l.q_id
        |  GROUP BY l.q_id, cd.vec_id)
        |SELECT q_id, n_id, ad2,
        |       row_number() OVER (PARTITION BY q_id ORDER BY ad2, n_id) AS rnk
        |FROM sc QUALIFY rnk <= 5
        |ORDER BY q_id, rnk""") { (s, dir) =>
      Similarity.pqTopKIndexed(s, pqIndexRoot(s, dir),
          Tables.embeddings(s, dir).filter(col("vec_id") < 3), 5)
        .orderBy("q_id", "rnk")
    }

    // Two-stage ANN serving off the SAME persisted PQ index: ADC
    // shortlist (top-50 by quantized distance, codes only) → exact-
    // cosine rerank of the shortlist against the full-precision
    // vectors → top-5. The faiss refine shape, fully value-exact:
    // the oracle replays the codes, the ADC shortlist AND the exact
    // rerank, so a shortlist off by one candidate or a rerank tie
    // broken differently fails the hash.
    register("q_ann_pq_rerank",
      """WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |cents AS (SELECT vec_id AS cid, emb AS cemb FROM c
        |          WHERE vec_id % 10 < 8
        |          ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
        |sub AS (SELECT unnest(range(8)) AS s),
        |ac AS (
        |  SELECT v.vec_id, sub.s, ct.cid,
        |         round(list_sum(list_transform(range(8),
        |               i -> (v.emb[sub.s*8 + i + 1] - ct.cemb[sub.s*8 + i + 1])
        |                    * (v.emb[sub.s*8 + i + 1] - ct.cemb[sub.s*8 + i + 1]))), 6) AS d2
        |  FROM c v, sub, cents ct),
        |codes AS (
        |  SELECT vec_id, s, cid AS code
        |  FROM (SELECT vec_id, s, cid,
        |               row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, cid) AS rn
        |        FROM ac) t
        |  WHERE rn = 1),
        |lut AS (SELECT vec_id AS q_id, s, cid AS code, d2 FROM ac WHERE vec_id < 3),
        |sc AS (
        |  SELECT l.q_id, cd.vec_id AS n_id,
        |         round(list_sum(list(l.d2 ORDER BY l.s)), 6) AS ad2
        |  FROM codes cd JOIN lut l ON cd.s = l.s AND cd.code = l.code
        |  WHERE cd.vec_id <> l.q_id
        |  GROUP BY l.q_id, cd.vec_id),
        |short AS (
        |  SELECT q_id, n_id FROM (
        |    SELECT q_id, n_id,
        |           row_number() OVER (PARTITION BY q_id ORDER BY ad2, n_id) AS rs
        |    FROM sc) t
        |  WHERE rs <= 50),
        |rr AS (
        |  SELECT s.q_id, s.n_id,
        |         round(list_dot_product(q.emb, n.emb)
        |               / (sqrt(list_dot_product(q.emb, q.emb))
        |                  * sqrt(list_dot_product(n.emb, n.emb))), 6) AS cos
        |  FROM short s JOIN c q ON q.vec_id = s.q_id JOIN c n ON n.vec_id = s.n_id)
        |SELECT q_id, n_id, cos,
        |       row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk
        |FROM rr QUALIFY rnk <= 5
        |ORDER BY q_id, rnk""") { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      Similarity.pqTopKReranked(s, pqIndexRoot(s, dir), emb,
          emb.filter(col("vec_id") < 3), 5)
        .orderBy("q_id", "rnk")
    }

    // The evaluation harness pointed at the two-stage PQ serving path:
    // recall/MRR/nDCG@10 of the persisted-index ADC-shortlist +
    // exact-rerank probe vs brute-force truth — the number an operator
    // actually tunes `shortlist` against. Same shared metric tail as
    // q_rank_eval; the candidate ranking replays the full persisted-PQ
    // lifecycle (80% codebook, whole-corpus codes, shortlist 50).
    register("q_rank_eval_pq",
      """WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |cents AS (SELECT vec_id AS cid, emb AS cemb FROM c
        |          WHERE vec_id % 10 < 8
        |          ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
        |sub AS (SELECT unnest(range(8)) AS s),
        |ac AS (
        |  SELECT v.vec_id, sub.s, ct.cid,
        |         round(list_sum(list_transform(range(8),
        |               i -> (v.emb[sub.s*8 + i + 1] - ct.cemb[sub.s*8 + i + 1])
        |                    * (v.emb[sub.s*8 + i + 1] - ct.cemb[sub.s*8 + i + 1]))), 6) AS d2
        |  FROM c v, sub, cents ct),
        |codes AS (
        |  SELECT vec_id, s, cid AS code
        |  FROM (SELECT vec_id, s, cid,
        |               row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, cid) AS rn
        |        FROM ac) t
        |  WHERE rn = 1),
        |lut AS (SELECT vec_id AS q_id, s, cid AS code, d2 FROM ac WHERE vec_id < 3),
        |sc AS (
        |  SELECT l.q_id, cd.vec_id AS n_id,
        |         round(list_sum(list(l.d2 ORDER BY l.s)), 6) AS ad2
        |  FROM codes cd JOIN lut l ON cd.s = l.s AND cd.code = l.code
        |  WHERE cd.vec_id <> l.q_id
        |  GROUP BY l.q_id, cd.vec_id),
        |short AS (
        |  SELECT q_id, n_id FROM (
        |    SELECT q_id, n_id,
        |           row_number() OVER (PARTITION BY q_id ORDER BY ad2, n_id) AS rs
        |    FROM sc) t
        |  WHERE rs <= 50),
        |rr AS (
        |  SELECT sh.q_id, sh.n_id,
        |         round(list_dot_product(q.emb, n.emb)
        |               / (sqrt(list_dot_product(q.emb, q.emb))
        |                  * sqrt(list_dot_product(n.emb, n.emb))), 6) AS cos
        |  FROM short sh JOIN c q ON q.vec_id = sh.q_id JOIN c n ON n.vec_id = sh.n_id),
        |cand AS (
        |  SELECT q_id, n_id,
        |         row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk
        |  FROM rr QUALIFY rnk <= 10),
        |bscored AS (
        |  SELECT p.vec_id AS q_id, n.vec_id AS n_id,
        |         round(list_dot_product(p.emb, n.emb)
        |               / (sqrt(list_dot_product(p.emb, p.emb)) * sqrt(list_dot_product(n.emb, n.emb))), 6)
        |           + CAST(0.0 AS DOUBLE) AS cos
        |  FROM c p JOIN c n ON p.vec_id <> n.vec_id
        |  WHERE p.vec_id < 3),
        |truth AS (
        |  SELECT q_id, n_id,
        |         row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk
        |  FROM bscored QUALIFY rnk <= 10),
        |""".stripMargin + irMetricsSqlTail(10)) { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val probes = emb.filter(col("vec_id") < 3)
      graft.operators.RankEval.metrics(
        Similarity.bruteTopK(emb, probes, 10),
        Similarity.pqTopKReranked(s, pqIndexRoot(s, dir), emb, probes, 10, shortlist = 50),
        10)
        .orderBy("q_id")
    }

    // The TRAINED-codebook PQ probe (per-subspace Lloyd k-means,
    // deterministic md5-sampled init — real PQ per Jégou 2011 §III,
    // where most of the method's accuracy lives). Rows-only like
    // q_ann_ivf: iterative float means aren't SQL-replayable. Gated
    // DIRECTLY by q_ann_pq_trained_check's measured-improvement bound
    // on this same persisted index, plus SimilaritySpec's distortion
    // and rerank-tier gates.
    registerNoOracle("q_ann_pq_trained") { (s, dir) =>
      Similarity.pqTopKIndexed(s, pqTrainedIndexRoot(s, dir),
          Tables.embeddings(s, dir).filter(col("vec_id") < 3), 5)
        .orderBy("q_id", "rnk")
    }

    // The gate that makes codebook training a MEASURED improvement,
    // not a claimed one: on the same persisted 80/20 lifecycle
    // indexes, the trained book's recall@10 and nDCG@10 must be ≥ the
    // sampled book's on BOTH serving tiers (raw ADC probe and
    // shortlist-50 exact rerank), against the brute-force truth the
    // oracle already verifies value-exactly (q_ann_brute). Margins on
    // the bench corpus are wide (ADC recall 0.16→0.29 at sf0.01,
    // rerank 0.46→0.59), so the boolean is stable; DuckDB pins it
    // TRUE plus the probe count. The q_ann_ivf_recall pattern.
    register("q_ann_pq_trained_check",
      """SELECT count(*) AS n_probes, TRUE AS trained_ok
        |FROM embeddings WHERE vec_id < 10""") { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val probes = emb.filter(col("vec_id") < 10)
      val truth = Similarity.bruteTopK(emb, probes, 10)
      def tier(root: String): (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) =
        (Similarity.pqTopKIndexed(s, root, probes, 10),
          Similarity.pqTopKReranked(s, root, emb, probes, 10, shortlist = 50))
      val (adcS, rrS) = tier(pqIndexRoot(s, dir))
      val (adcT, rrT) = tier(pqTrainedIndexRoot(s, dir))
      def avgm(cand: org.apache.spark.sql.DataFrame, tag: String) =
        graft.operators.RankEval.metrics(truth, cand, 10)
          .agg(avg(col("recall")).as(s"r_$tag"), avg(col("ndcg")).as(s"n_$tag"))
      avgm(adcS, "adc_s").crossJoin(broadcast(avgm(adcT, "adc_t")))
        .crossJoin(broadcast(avgm(rrS, "rr_s"))).crossJoin(broadcast(avgm(rrT, "rr_t")))
        .crossJoin(broadcast(probes.agg(count(lit(1)).as("n_probes"))))
        .select(col("n_probes"),
          (col("r_adc_t") >= col("r_adc_s") && col("n_adc_t") >= col("n_adc_s") &&
            col("r_rr_t") >= col("r_rr_s") && col("n_rr_t") >= col("n_rr_s"))
            .as("trained_ok"))
    }

    // IVFPQ — the COMPOSED serving index (Jégou 2011 §IV, the faiss
    // billion-scale shape): coarse cells prune WHICH codes a probe
    // reads (partition pruning), residual PQ codes compress WHAT it
    // reads (64 floats → 8 ints), exact-cosine rerank restores
    // precision on the shortlist. Rows-only (KMeans + Lloyd
    // internals); gated by q_ann_ivfpq_check's measured bounds on
    // this same persisted 80/20 index.
    registerNoOracle("q_ann_ivfpq") { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      Similarity.ivfPqTopKReranked(s, ivfPqIndexRoot(s, dir), emb,
          emb.filter(col("vec_id") < 3), 5, nProbe = 8, shortlist = 100)
        .orderBy("q_id", "rnk")
    }

    // The IVFPQ gate: on the persisted post-append POST-REBUILD index
    // (the full maintenance lifecycle), the reranked tier (nProbe 8 of
    // 16, shortlist 100) must reach recall@10 ≥ 0.6 vs the
    // oracle-verified brute truth AND beat the raw ADC head it
    // reranks. Measured at the r15 operating point (64 codebook
    // entries per subspace, shortlist 10×k): rerank 0.83 / 0.87 /
    // 0.78 vs ADC 0.36 / 0.39 / 0.27 at sf0.001 / 0.01 / 0.1 on the
    // near-orthogonal bench corpus (IVF pruning × residual
    // quantization is the hardest case there: no cluster structure).
    // The bound sits at measured-minus-margin rather than the r14
    // floor of 0.5 — and is now actually green at ALL THREE SFs, not
    // just the driver-checked sf0.01 (r14 verdict #8: the old
    // 16-entry/50-shortlist point scored 0.45 at sf0.1, hidden under
    // the slack bound).
    register("q_ann_ivfpq_check",
      """SELECT count(*) AS n_probes, TRUE AS ivfpq_ok
        |FROM embeddings WHERE vec_id < 10""") { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val probes = emb.filter(col("vec_id") < 10)
      val root = ivfPqIndexRoot(s, dir)
      val truth = Similarity.bruteTopK(emb, probes, 10)
      def avgRecall(cand: org.apache.spark.sql.DataFrame, tag: String) =
        graft.operators.RankEval.metrics(truth, cand, 10)
          .agg(avg(col("recall")).as(s"r_$tag"))
      avgRecall(Similarity.ivfPqTopKReranked(s, root, emb, probes, 10,
          nProbe = 8, shortlist = 100), "rr")
        .crossJoin(broadcast(avgRecall(Similarity.ivfPqTopK(s, root, probes, 10,
          nProbe = 8), "adc")))
        .crossJoin(broadcast(probes.agg(count(lit(1)).as("n_probes"))))
        .select(col("n_probes"),
          (col("r_rr") >= 0.6 && col("r_rr") >= col("r_adc")).as("ivfpq_ok"))
    }

    // Topic-balanced sampling: assign every vector to its md5-sampled
    // nearest-centroid TOPIC cluster (the deterministic, oracle-exact
    // clustering q_dedup_semantic established), then take exactly k
    // per cluster by hash rank — the cluster-balanced curation cut
    // that stops one dominant topic from swamping the mix. Composition
    // of two verified pieces (Similarity.assignClusters +
    // Sampling.exactKPerStratum), value-exact end to end.
    register("q_topic_sample",
      """WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |cent AS (SELECT vec_id AS cid, emb AS cemb FROM c
        |         ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT 16),
        |asg AS (
        |  SELECT vec_id, cid,
        |         row_number() OVER (PARTITION BY vec_id ORDER BY cosc DESC, cid) AS rn
        |  FROM (SELECT v.vec_id, ct.cid,
        |               round(list_dot_product(v.emb, ct.cemb)
        |                     / (sqrt(list_dot_product(v.emb, v.emb))
        |                        * sqrt(list_dot_product(ct.cemb, ct.cemb))), 6) AS cosc
        |        FROM c v, cent ct) t),
        |cells AS (SELECT vec_id, cid AS cell FROM asg WHERE rn = 1)
        |SELECT vec_id, cell FROM (
        |  SELECT vec_id, cell,
        |         row_number() OVER (PARTITION BY cell
        |                            ORDER BY md5(concat(vec_id, ':42')), vec_id) AS rs
        |  FROM cells) t
        |WHERE rs <= 10 ORDER BY vec_id""") { (s, dir) =>
      graft.operators.Sampling.exactKPerStratum(
        Similarity.assignClusters(Tables.embeddings(s, dir), 16)
          .select("vec_id", "cell"),
        "cell", "vec_id", k = 10)
        .select(col("vec_id"), col("cell"))
        .orderBy("vec_id")
    }

    // IVF-bucketed ANN (KMeans inverted file; the probe-side scale path).
    registerNoOracle("q_ann_ivf") { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 10), 5)
        .orderBy("q_id", "rnk")
    }

    // The same probe answered off the PERSISTED on-disk IVF index
    // (built once per JVM+dir over 80% of the corpus + the rest
    // appended; each execution is the production path: tiny centroid
    // read + partition-pruned scan of the probed cells). Oracle-less
    // like q_ann_ivf (KMeans internals aren't SQL-replayable); gated
    // DIRECTLY by q_ann_ivf_indexed_recall's bound on this same index
    // (plus SimilaritySpec's indexed ≡ in-memory snapshot equality),
    // and registered so the bench measures the on-disk probe cost.
    registerNoOracle("q_ann_ivf_indexed") { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      Similarity.ivfTopKIndexed(s, ivfIndexRoot(s, dir),
          emb.filter(col("vec_id") < 10), 5)
        .orderBy("q_id", "rnk")
    }

    // Recall gate for the PERSISTED index path — q_ann_ivf_recall's
    // structure, but the approximate side probes the on-disk index
    // (post-append: the index root holds 80% built + 20% appended
    // against frozen centroids, and the probe set itself straddles the
    // two). Closes the gating chain: the on-disk path's recall is
    // measured directly rather than transferred from the in-memory
    // path via snapshot equality, which appends would invalidate.
    register("q_ann_ivf_indexed_recall",
      """SELECT count(*) AS n_probes, TRUE AS recall_ok
        |FROM embeddings WHERE vec_id < 10""") { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val probes = emb.filter(col("vec_id") < 10)
      val truth = Similarity.bruteTopK(emb, probes, 5).select("q_id", "n_id")
      val ivf = Similarity.ivfTopKIndexed(s, ivfIndexRoot(s, dir), probes, 5, nProbe = 8)
        .select("q_id", "n_id")
      val perProbe = truth.join(broadcast(ivf.withColumn("hit", lit(1L))),
        Seq("q_id", "n_id"), "left")
        .groupBy("q_id")
        .agg(count(lit(1)).as("n_true"), sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      perProbe.agg(
        count(lit(1)).as("n_probes"),
        ((sum(col("n_hit")) / sum(col("n_true"))) >= IvfRecallBound).as("recall_ok"))
    }

    // Cell-balance telemetry off the same post-append index — the
    // rebuild trigger (imbalance = max_cell / avg-over-built-cells).
    // The verifiable facts are oracle-gated: the index must hold the
    // WHOLE corpus exactly once (total_vecs = count(*) — build +
    // append, no duplicates, no losses), the built cell count is the
    // default 16, and the stat arithmetic must be internally
    // consistent; the KMeans-dependent per-cell sizes ride along in
    // stats_ok rather than as raw columns.
    register("q_ivf_cell_stats",
      "SELECT count(*) AS total_vecs, 16 AS n_cells, TRUE AS stats_ok FROM embeddings") {
      (s, dir) =>
        Similarity.ivfCellStats(s, ivfIndexRoot(s, dir))
          .select(
            col("total_vecs"),
            col("n_cells").cast("int").as("n_cells"),
            (col("cells_used") >= 1 && col("cells_used") <= col("n_cells") &&
              col("min_cell") <= col("max_cell") &&
              col("avg_cell") <= col("max_cell") &&
              col("imbalance") >= lit(1.0)).as("stats_ok"))
    }

    // Recall gate for the IVF path. Ground truth is the brute-force
    // top-5 — itself value-exact against DuckDB in q_ann_brute — so the
    // chain is sound: DuckDB verifies brute force; this query verifies
    // IVF against brute force and DuckDB asserts the bound held (plus
    // checks the probe count exactly).
    register("q_ann_ivf_recall",
      """SELECT count(*) AS n_probes, TRUE AS recall_ok
        |FROM embeddings WHERE vec_id < 10""") { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val probes = emb.filter(col("vec_id") < 10)
      val truth = Similarity.bruteTopK(emb, probes, 5).select("q_id", "n_id")
      // nProbe=8 of 16 cells: the synthetic embeddings are near-
      // orthogonal noise (no cluster structure, IVF's hardest case), so
      // half the cells are needed for ≥0.8 recall; measured 0.82-0.90
      // across sf0.001-0.1 with the fixed KMeans seed.
      val ivf = Similarity.ivfTopK(emb, probes, 5, nProbe = 8).select("q_id", "n_id")
      // both sides are k x nProbes rows; broadcast (stats on derived
      // frames are unknown, so Spark would otherwise sort-merge)
      val perProbe = truth.join(broadcast(ivf.withColumn("hit", lit(1L))),
        Seq("q_id", "n_id"), "left")
        .groupBy("q_id")
        .agg(count(lit(1)).as("n_true"), sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      perProbe.agg(
        count(lit(1)).as("n_probes"),
        ((sum(col("n_hit")) / sum(col("n_true"))) >= IvfRecallBound).as("recall_ok"))
    }

    // Embedding-cosine near-dup pairs (banded LSH candidates). The
    // synthetic embeddings are near-orthogonal (max pairwise cos ≈ 0.51),
    // so the corpus itself contains no near-dups; the query plants
    // deterministic scaled variants of the first 10 vectors (same
    // direction → cos ≈ 1) and must recover exactly those pairs.
    // The oracle is the SEMANTIC spec — brute-force all pairs ≥
    // threshold — which the banded LSH must reproduce exactly: a scaled
    // copy keeps every hyperplane sign, so each planted pair shares all
    // its buckets and candidate recall on true near-dups is 1.0.
    register("q_dedup_embedding",
      """WITH c AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 1000000,
        |         list_transform(embedding, x -> CAST(x * CAST(1.0001 AS FLOAT) AS DOUBLE))
        |  FROM embeddings WHERE vec_id < 10)
        |SELECT vec_a, vec_b, cos FROM (
        |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |         round(list_dot_product(a.emb, b.emb)
        |               / (sqrt(list_dot_product(a.emb, a.emb))
        |                  * sqrt(list_dot_product(b.emb, b.emb))), 6) AS cos
        |  FROM c a JOIN c b ON a.vec_id < b.vec_id) t
        |WHERE cos >= 0.95 ORDER BY vec_a, vec_b""") { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val planted = emb.filter(col("vec_id") < 10)
        .withColumn("vec_id", col("vec_id") + 1000000)
        .withColumn("embedding", transform(col("embedding"), x => x * lit(1.0001f)))
      Similarity.cosinePairs(emb.unionByName(planted), threshold = 0.95)
        .orderBy("vec_a", "vec_b")
    }

    // SemDeDup-style cluster-then-dedup: deterministic md5-sampled
    // centroids, nearest-centroid assignment (round-6 cosine, centroid
    // id tiebreak), near-dup pairs searched within cells only. The
    // oracle replays the SAME clustering, so results are value-exact
    // even where cluster-blocking differs from brute force.
    register("q_dedup_semantic",
      """WITH c AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 1000000,
        |         list_transform(embedding, x -> CAST(x * CAST(1.0001 AS FLOAT) AS DOUBLE))
        |  FROM embeddings WHERE vec_id < 10),
        |cent AS (
        |  SELECT vec_id AS cid, emb AS cemb FROM c
        |  ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT 16),
        |asg AS (
        |  SELECT vec_id, emb, cid,
        |         row_number() OVER (PARTITION BY vec_id ORDER BY cosc DESC, cid) AS rn
        |  FROM (SELECT v.vec_id, v.emb, ct.cid,
        |               round(list_dot_product(v.emb, ct.cemb)
        |                     / (sqrt(list_dot_product(v.emb, v.emb))
        |                        * sqrt(list_dot_product(ct.cemb, ct.cemb))), 6) AS cosc
        |        FROM c v, cent ct)),
        |cells AS (SELECT vec_id, emb, cid AS cell FROM asg WHERE rn = 1)
        |SELECT vec_a, vec_b, cell, cos FROM (
        |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.cell AS cell,
        |         round(list_dot_product(a.emb, b.emb)
        |               / (sqrt(list_dot_product(a.emb, a.emb))
        |                  * sqrt(list_dot_product(b.emb, b.emb))), 6) AS cos
        |  FROM cells a JOIN cells b ON a.cell = b.cell AND a.vec_id < b.vec_id) t
        |WHERE cos >= 0.95 ORDER BY vec_a, vec_b""") { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val planted = emb.filter(col("vec_id") < 10)
        .withColumn("vec_id", col("vec_id") + 1000000)
        .withColumn("embedding", transform(col("embedding"), x => x * lit(1.0001f)))
      Similarity.clusterDedupPairs(emb.unionByName(planted), k = 16, threshold = 0.95)
        .orderBy("vec_a", "vec_b")
    }

    // Scalar int8 quantization digests — integer outputs, exact at any
    // layout (floor, never round: half-way rules differ by engine).
    register("q_quantize",
      """WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |e AS (SELECT vec_id, unnest(list_transform(emb, (x, i) -> {'dim': i, 'x': x})) AS u FROM c),
        |f AS (SELECT vec_id, u.dim AS dim, u.x AS x FROM e),
        |st AS (SELECT dim, min(x) AS mn, max(x) AS mx FROM f GROUP BY dim),
        |q AS (
        |  SELECT vec_id,
        |         CASE WHEN mx = mn THEN 0
        |              ELSE least(255, CAST(floor((x - mn) / (mx - mn) * CAST(256.0 AS DOUBLE)) AS BIGINT))
        |         END AS code
        |  FROM f JOIN st USING (dim))
        |SELECT vec_id, CAST(sum(code) AS BIGINT) AS code_sum,
        |       CAST(min(code) AS BIGINT) AS code_min,
        |       CAST(max(code) AS BIGINT) AS code_max
        |FROM q GROUP BY vec_id ORDER BY vec_id""") { (s, dir) =>
      Similarity.quantizeInt8(Tables.embeddings(s, dir))
        .select("vec_id", "code_sum", "code_min", "code_max")
        .orderBy("vec_id")
    }

    // Matryoshka truncation: first-8-dims prefix re-L2-normalized,
    // outputs as 1e6 fixed-point FLOOR codes (engine-exact; same rule
    // as q_quantize). Map-only — the 100 TB path has no shuffle at all.
    register("q_embed_truncate",
      """WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |t AS (SELECT vec_id, emb, emb[1:8] AS pre FROM c),
        |n AS (SELECT vec_id, pre,
        |             sqrt(list_sum(list_transform(emb, x -> x * x))) AS norm_full,
        |             sqrt(list_sum(list_transform(pre, x -> x * x))) AS norm_pre
        |      FROM t)
        |SELECT vec_id,
        |       CAST(floor(norm_full * 1e6) AS BIGINT) AS norm_full_code,
        |       CAST(floor(norm_pre * 1e6) AS BIGINT) AS norm_pre_code,
        |       CAST(list_sum(list_transform(pre,
        |              x -> CAST(floor((CASE WHEN norm_pre = 0 THEN CAST(0.0 AS DOUBLE)
        |                                    ELSE x / norm_pre END) * 1e6) AS BIGINT)))
        |            AS BIGINT) AS code_digest
        |FROM n ORDER BY vec_id""") { (s, dir) =>
      Similarity.truncateNormalize(Tables.embeddings(s, dir), dims = 8)
        .select("vec_id", "norm_full_code", "norm_pre_code", "code_digest")
        .orderBy("vec_id")
    }

    // Johnson–Lindenstrauss ±1 random projection 64→16 (Achlioptas
    // matrix, seed-42 literals — same oracle trick as q_ann_lsh): the
    // projected VALUES replay exactly, not just their distance
    // properties. Map-only; output is the first 4 coordinates + a
    // fixed-point digest over all 16.
    {
      val jlPlanes = Similarity.hyperplanes(16, 64)
      def planeLit(p: Array[Double]) =
        p.map(v => if (v > 0) "1.0" else "-1.0").mkString("[", ",", "]")
      val yExprs = (0 until 16)
        .map(j => s"round(list_dot_product(emb, ${planeLit(jlPlanes(j))}) / sqrt(16.0), 6)")
        .mkString(",\n        ")
      register("q_embed_project",
        s"""WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
           |p AS (SELECT vec_id, [$yExprs] AS y FROM c)
           |SELECT vec_id,
           |       y[1] AS y1, y[2] AS y2, y[3] AS y3, y[4] AS y4,
           |       CAST(list_sum(list_transform(y, v -> CAST(floor(v * 1e6) AS BIGINT))) AS BIGINT) AS code_digest
           |FROM p ORDER BY vec_id""") { (s, dir) =>
        Similarity.randomProject(Tables.embeddings(s, dir), outDim = 16)
          .select(col("vec_id"),
            element_at(col("proj"), 1).as("y1"),
            element_at(col("proj"), 2).as("y2"),
            element_at(col("proj"), 3).as("y3"),
            element_at(col("proj"), 4).as("y4"),
            aggregate(
              transform(col("proj"), v => floor(v * lit(1e6)).cast("long")),
              lit(0L), (acc, x) => acc + x).as("code_digest"))
          .orderBy("vec_id")
      }
    }

    // Embedding quality/topic classifier (FineWeb-Edu shape): spark.ml
    // multinomial LR over the embedding column. The model is not
    // SQL-expressible, so the oracle verifies the md5-deterministic
    // split counts exactly and asserts the accuracy gate held —
    // beats_baseline=false hash-fails the driver gate (same design as
    // q_ml_metrics / q_ann_ivf_recall).
    register("q_embed_classifier",
      """WITH s AS (
        |  SELECT vec_id, label,
        |         CAST(concat('0x', substring(md5(CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT)
        |           / CAST(1152921504606846976.0 AS DOUBLE) < 0.8 AS is_train
        |  FROM embeddings)
        |SELECT CAST(sum(CASE WHEN is_train THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
        |       CAST(sum(CASE WHEN NOT is_train THEN 1 ELSE 0 END) AS BIGINT) AS n_test,
        |       CAST(count(DISTINCT label) AS BIGINT) AS n_labels,
        |       TRUE AS beats_baseline
        |FROM s""") { (s, dir) =>
      graft.ml.EmbeddingClassifier.metrics(Tables.embeddings(s, dir))
    }

    // Corpus-LM unigram surprisal — the cheap perplexity-bucket
    // quality signal (CCNet-style), the corpus as its own LM. Per-doc
    // fold in sorted term order: byte-stable at any partitioning.
    register("q_surprisal",
      """WITH toks AS (
        |  SELECT doc_id,
        |         string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ') AS t
        |  FROM documents),
        |d AS (SELECT doc_id, len(t) AS dl, t FROM toks),
        |tf AS (
        |  SELECT doc_id, dl, term, count(*) AS tf
        |  FROM (SELECT doc_id, dl, unnest(t) AS term FROM d)
        |  GROUP BY doc_id, dl, term),
        |vocab AS (SELECT term, CAST(sum(tf) AS BIGINT) AS cnt FROM tf GROUP BY term),
        |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_tokens FROM vocab),
        |c AS (
        |  SELECT doc_id, dl, term, -tf * ln(CAST(cnt AS DOUBLE) / n_tokens) AS contrib
        |  FROM tf JOIN vocab USING (term), tot)
        |SELECT doc_id, dl AS n_tokens,
        |       round(list_sum(list_transform(list(struct_pack(term := term, contrib := contrib)
        |                                          ORDER BY term), x -> x.contrib)) / dl, 6) AS surprisal
        |FROM c GROUP BY doc_id, dl
        |ORDER BY doc_id""") { (s, dir) =>
      graft.operators.KeywordSearch.unigramSurprisal(docsFanned(s, dir, "doc_id", "text"))
        .orderBy("doc_id")
    }

    // F4/F5 — StandardScaler + LinearRegression + residual-correction
    // next-day prediction (spark.ml; not DuckDB-expressible — MlSpec
    // checks MAE/RMSE bounds instead).
    registerNoOracle("q_ml_predict") { (s, dir) =>
      graft.ml.PricePredictor.predictNextDay(s, dir).orderBy("user_id", "d")
    }

    // Metric gate for the ML pipeline: the OLS primary model evaluated
    // on its training frame must beat the lag-1 persistence baseline
    // (predict tomorrow = today) on RMSE. Persistence is a linear
    // function of the features (the `close` column), so least squares
    // guarantees this up to solver tolerance — a real regression would
    // mean the pipeline broke. DuckDB verifies the training-row count
    // exactly (same windowed na.drop condition) and asserts the bound.
    register("q_ml_metrics",
      s"""WITH daily AS (${graft.operators.DailySeries.sql}),
         |f AS (SELECT user_id, close,
         |             lag(close) OVER w AS prev_close,
         |             lead(close) OVER w AS label
         |      FROM daily WINDOW w AS (PARTITION BY user_id ORDER BY d))
         |SELECT count(*) AS n_train, TRUE AS model_ok
         |FROM f
         |WHERE prev_close IS NOT NULL AND prev_close <> 0 AND label IS NOT NULL""") { (s, dir) =>
      import s.implicits._
      val feats = graft.ml.PricePredictor.features(s, dir).cache()
      try {
        val nTrain = feats.count()
        val naiveRmse = feats
          .agg(sqrt(avg(pow(col("label") - col("close"), 2)))).head().getDouble(0)
        val model = graft.ml.PricePredictor.fitPrimary(feats)
        val m = graft.ml.PricePredictor.evaluate(model, feats)
        Seq((nTrain, m.rmse <= naiveRmse * 1.0001)).toDF("n_train", "model_ok")
      } finally feats.unpersist()
    }

    // The persisted model-artifact tier (r17 verdict #1): v_1 is fit
    // on a STALE vintage (even calendar days only), then the growth
    // trigger must supersede it with the full-frame fit behind the
    // atomic CURRENT swap — so the gate below catches a stale or
    // misresolved version, not just a happy-path one-shot.
    register("q_ml_served",
      s"""WITH daily AS (${graft.operators.DailySeries.sql}),
         |f AS (SELECT user_id, close,
         |             lag(close) OVER w AS prev_close,
         |             lead(close) OVER w AS label
         |      FROM daily WINDOW w AS (PARTITION BY user_id ORDER BY d))
         |SELECT count(*) AS n_train, TRUE AS served_ok
         |FROM f
         |WHERE prev_close IS NOT NULL AND prev_close <> 0 AND label IS NOT NULL""") { (s, dir) =>
      import s.implicits._
      val path = modelArtifactRoot(s, dir)
      val feats = graft.ml.PricePredictor.features(s, dir).cache()
      try {
        // staleness witness, exact: the SERVED version must have been
        // fitted on precisely THIS frame — row count AND content
        // fingerprint (r18 review: equal counts alone don't prove
        // frame identity under DO-UPDATE sources); the half-frame v_1
        // fails both here (and hash-fails the oracle). The identity
        // comes from the artifact's OWN definition (canonical-column
        // hash since r20 — a second hand-rolled hash here would fork
        // the formula, which is exactly how this gate broke once)
        val (n, fpX) = graft.ml.ModelArtifact.frameIdentity(feats)
        val vm = graft.ml.ModelArtifact.servedVersionMeta(s, path)
        val fitRows = vm("train_rows")
        val fitFp = vm.get("train_fp").contains(fpX)
        // quality contract, the q_ml_metrics gate run on the SERVED
        // primary: least squares must beat lag-1 persistence on RMSE
        val (primary, _) = graft.ml.ModelArtifact.servedModels(s, path)
        val naiveRmse = feats
          .agg(sqrt(avg(pow(col("label") - col("close"), 2)))).head().getDouble(0)
        val m = graft.ml.PricePredictor.evaluate(primary, feats)
        // serving shape: one corrected next-day row per training row
        val servedRows = graft.ml.ModelArtifact.scoreServed(feats, path).count()
        val ok = fitRows == n && fitFp && servedRows == n &&
          m.rmse <= naiveRmse * 1.0001
        Seq((n, ok)).toDF("n_train", "served_ok")
      } finally feats.unpersist()
    }

    // Corpus curation: key-hash-deterministic stratified downsampling
    // per language (partition-layout independent — SamplingSpec). The
    // md5-derived uniform is engine-portable, so the sampling decision
    // itself is oracle-checked value-exactly in DuckDB.
    register("q_sample_stratified",
      """SELECT doc_id, lang FROM documents
        |WHERE CAST(concat('0x', substring(md5(concat(doc_id, ':42')), 1, 15)) AS BIGINT)
        |        / 1152921504606846976.0
        |      < CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 0.5 WHEN 'fr' THEN 0.5
        |                  WHEN 'es' THEN 0.25 WHEN 'zh' THEN 0.25 ELSE -1.0 END
        |ORDER BY doc_id""") { (s, dir) =>
      graft.operators.Sampling.stratified(
        Tables.documents(s, dir), "lang", "doc_id",
        Map("en" -> 0.5, "de" -> 0.5, "fr" -> 0.5, "es" -> 0.25, "zh" -> 0.25))
        .select("doc_id", "lang")
        .orderBy("doc_id")
    }

    // Temperature-flattened mixing (mT5-style, α=0.5): source shares
    // flattened toward uniform via sqrt weights — sqrt (unlike pow) is
    // IEEE-correctly-rounded, so the rate arithmetic replays byte-
    // exactly in DuckDB. Op order mirrors Sampling.temperatureMix.
    register("q_sample_temperature",
      """WITH counts AS (SELECT lang, CAST(count(*) AS DOUBLE) AS n
        |                FROM documents GROUP BY lang),
        |w AS (SELECT lang, n, sqrt(n) AS wt FROM counts),
        |t AS (SELECT min(n / wt) AS total FROM w),
        |r AS (SELECT lang, least(CAST(1.0 AS DOUBLE), total * wt / n) AS rate FROM w, t)
        |SELECT d.doc_id, d.lang FROM documents d JOIN r USING (lang)
        |WHERE CAST(concat('0x', substring(md5(concat(doc_id, ':42')), 1, 15)) AS BIGINT)
        |        / 1152921504606846976.0 < rate
        |ORDER BY doc_id""") { (s, dir) =>
      graft.operators.Sampling.temperatureMix(
        Tables.documents(s, dir), "lang", "doc_id", alpha = 0.5)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    }

    // Exact-k per stratum: precisely min(k, n) docs per language, the
    // k smallest md5 digests — deterministic at any layout, auditable
    // outside Spark (the oracle replays the identical rank).
    register("q_sample_exact_k",
      """SELECT lang, doc_id FROM (
        |  SELECT lang, doc_id,
        |         row_number() OVER (PARTITION BY lang
        |                            ORDER BY md5(concat(doc_id, ':42')), doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= 50 ORDER BY lang, doc_id""") { (s, dir) =>
      graft.operators.Sampling.exactKPerStratum(
        Tables.documents(s, dir), "lang", "doc_id", k = 50)
        .select("lang", "doc_id")
        .orderBy("lang", "doc_id")
    }

    // Leakage-safe train/val/test split: the split hashes the SOURCE,
    // so all docs from one source share a split (near-dups and
    // same-site pages never straddle the train/eval boundary). The
    // n_sources column is the leakage audit: summed over splits it
    // equals the distinct source count, i.e. no source appears twice.
    register("q_split_assign",
      """WITH s AS (
        |  SELECT lang, source,
        |         CASE WHEN u < 0.8 THEN 'train' WHEN u < 0.9 THEN 'val' ELSE 'test' END AS split
        |  FROM (SELECT lang, source,
        |               CAST(concat('0x', substring(md5(concat(source, ':42')), 1, 15)) AS BIGINT)
        |                 / 1152921504606846976.0 AS u
        |        FROM documents))
        |SELECT split, lang, count(*) AS n, count(DISTINCT source) AS n_sources
        |FROM s GROUP BY split, lang ORDER BY split, lang""") { (s, dir) =>
      graft.operators.Sampling.assignSplit(Tables.documents(s, dir), "source")
        .groupBy("split", "lang")
        .agg(count(lit(1)).as("n"), countDistinct("source").as("n_sources"))
        .orderBy("split", "lang")
    }

    // Weighted source mixing: per-source keep rates derived from the
    // observed counts so the output approximates the target weights
    // (scaled to the largest feasible total, never upsampling). The
    // rate arithmetic is plain double division both sides, and the
    // membership hash is the md5 uniform — value-exact in DuckDB.
    register("q_sample_mix",
      """WITH w(lang, wt) AS (VALUES ('en', CAST(0.6 AS DOUBLE)), ('de', CAST(0.2 AS DOUBLE)),
        |                            ('fr', CAST(0.2 AS DOUBLE))),
        |counts AS (SELECT lang, CAST(count(*) AS DOUBLE) AS n FROM documents GROUP BY lang),
        |j AS (SELECT c.lang, c.n, w.wt FROM counts c JOIN w USING (lang)),
        |t AS (SELECT min(n / wt) AS total FROM j),
        |rates AS (SELECT lang, least(1.0, (SELECT total FROM t) * wt / n) AS rate FROM j)
        |SELECT d.doc_id, d.lang
        |FROM documents d JOIN rates r USING (lang)
        |WHERE CAST(concat('0x', substring(md5(concat(d.doc_id, ':42')), 1, 15)) AS BIGINT)
        |        / 1152921504606846976.0 < r.rate
        |ORDER BY doc_id""") { (s, dir) =>
      graft.operators.Sampling.weightedMix(
        Tables.documents(s, dir), "lang", "doc_id",
        Map("en" -> 0.6, "de" -> 0.2, "fr" -> 0.2))
        .select("doc_id", "lang")
        .orderBy("doc_id")
    }

    // TOKEN-budget mixture — domain weights the way training mixtures
    // actually specify them (tokens, not documents): each source
    // contributes docs in deterministic md5 order until its token
    // budget fills; the straddling doc is kept; unlisted sources drop.
    // The engine's per-source two-phase cumulative sum must reproduce
    // DuckDB's single per-source window exactly.
    register("q_token_budget_mix",
      """WITH s AS (
        |  SELECT doc_id, source,
        |         CAST(len(string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ')) AS BIGINT) AS n_toks,
        |         md5(CAST(doc_id AS VARCHAR)) AS hh
        |  FROM documents),
        |b(source, budget) AS (VALUES ('src0', CAST(800 AS BIGINT)), ('src1', CAST(400 AS BIGINT)),
        |                             ('src2', CAST(999999 AS BIGINT)), ('src3', CAST(600 AS BIGINT))),
        |c AS (
        |  SELECT doc_id, source, n_toks,
        |         coalesce(CAST(sum(n_toks) OVER (PARTITION BY source ORDER BY hh, n_toks
        |                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS bf
        |  FROM s)
        |SELECT c.doc_id, c.source, c.n_toks
        |FROM c JOIN b USING (source)
        |WHERE c.bf < b.budget
        |ORDER BY doc_id""") { (s, dir) =>
      val sized = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"),
          size(TextStats.tokens(col("text"))).cast("long").as("n_toks"))
      graft.operators.Sampling.tokenBudgetMix(sized, "source", "doc_id", "n_toks",
        Map("src0" -> 800L, "src1" -> 400L, "src2" -> 999999L, "src3" -> 600L))
        .select("doc_id", "source", "n_toks")
        .orderBy("doc_id")
    }

    // Epoch-upsampled token budgets — a source whose budget exceeds
    // its data REPEATS (multi-epoch) until the budget fills, capped at
    // 4 passes: how small high-weight domains actually enter a
    // training mixture. Epoch membership is the closed form
    // epoch·total + within-epoch-position < budget — exact integer
    // arithmetic the oracle replays verbatim.
    register("q_token_budget_epochs",
      """WITH s AS (
        |  SELECT doc_id, source,
        |         CAST(len(string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ')) AS BIGINT) AS n_toks,
        |         md5(CAST(doc_id AS VARCHAR)) AS hh
        |  FROM documents),
        |b(source, budget) AS (VALUES ('src0', CAST(3000 AS BIGINT)), ('src4', CAST(2600 AS BIGINT)),
        |                             ('src5', CAST(400 AS BIGINT))),
        |tot AS (SELECT source, CAST(sum(n_toks) AS BIGINT) AS total FROM s GROUP BY source),
        |c AS (
        |  SELECT doc_id, source, n_toks,
        |         coalesce(CAST(sum(n_toks) OVER (PARTITION BY source ORDER BY hh, n_toks
        |                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS bf
        |  FROM s),
        |eps AS (
        |  SELECT b.source, b.budget, t.total,
        |         unnest(range(least(4, (b.budget - 1) // t.total + 1))) AS epoch
        |  FROM b JOIN tot t USING (source))
        |SELECT c.doc_id, c.source, c.n_toks, eps.epoch
        |FROM c JOIN eps USING (source)
        |WHERE eps.epoch * eps.total + c.bf < eps.budget
        |ORDER BY doc_id, epoch""") { (s, dir) =>
      val sized = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"),
          size(TextStats.tokens(col("text"))).cast("long").as("n_toks"))
      graft.operators.Sampling.tokenBudgetMixEpochs(sized, "source", "doc_id", "n_toks",
        Map("src0" -> 3000L, "src4" -> 2600L, "src5" -> 400L), maxEpochs = 4)
        .select("doc_id", "source", "n_toks", "epoch")
        .orderBy("doc_id", "epoch")
    }

    // Size-budgeted shard packing (training-data export): docs in
    // deterministic md5 order, each shard takes consecutive docs until
    // the char budget fills. The engine's two-phase cumulative sum
    // (bucket offsets + within-bucket window) must reproduce DuckDB's
    // single global window exactly. sum(BIGINT) cast back from HUGEINT;
    // floor() both sides (Spark's int cast truncates, DuckDB's rounds).
    register("q_shard_pack",
      """WITH c AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS hh, n_chars AS sz
        |           FROM documents)
        |SELECT doc_id,
        |       CAST(floor(coalesce(CAST(sum(sz) OVER (ORDER BY hh, sz
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
        |              / CAST(20000 AS DOUBLE)) AS INT) AS shard
        |FROM c
        |ORDER BY doc_id""") { (s, dir) =>
      graft.operators.Sharding.sizeBudgeted(
        Tables.documents(s, dir), "doc_id", "n_chars", target = 20000L)
        .select("doc_id", "shard")
        .orderBy("doc_id")
    }

    // Deterministic training-order shuffle: the exact global
    // permutation position (and its order-preserving shard) of every
    // document in md5(doc_id:salt) order — the loader step between
    // packing and export. The oracle IS the semantic spec (one global
    // row_number over the hash order); the Spark side must reproduce
    // it from per-shard windows + a broadcast triangle cumsum, never a
    // global sort partition — any boundary or offset bug shifts pos
    // and fails the hash.
    register("q_shuffle_order",
      """WITH h AS (SELECT doc_id,
        |                  md5(concat(CAST(doc_id AS VARCHAR), ':42')) AS hh
        |           FROM documents)
        |SELECT doc_id,
        |       CAST(floor(CAST(concat('0x', substring(hh, 1, 2)) AS INT) * 64 / 256) AS INT) AS shard,
        |       row_number() OVER (ORDER BY hh, doc_id) - 1 AS pos
        |FROM h
        |ORDER BY doc_id""") { (s, dir) =>
      graft.operators.Sampling.shuffleDeterministic(
        Tables.documents(s, dir), "doc_id", nShards = 64)
        .select("doc_id", "shard", "pos")
        .orderBy("doc_id")
    }

    // BM25 keyword retrieval: postings filtered to the query's terms
    // before any shuffle, corpus stats broadcast, per-doc score folded
    // in sorted term order so the double sum replays byte-exactly.
    // Shared BM25 oracle CTEs (tokenize → stats → query-term postings
    // → per-term contributions) — ONE definition consumed by
    // q_bm25_topk, q_bm25_indexed and q_hybrid_rrf so the arithmetic
    // can never silently diverge between them (same pattern as
    // dsirCtes above).
    val bm25Ctes =
      """toks AS (
        |  SELECT doc_id,
        |         string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ') AS t
        |  FROM documents),
        |d AS (SELECT doc_id, len(t) AS dl, t FROM toks),
        |g AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM d),
        |tf AS (
        |  SELECT doc_id, dl, term, count(*) AS tf
        |  FROM (SELECT doc_id, dl, unnest(t) AS term FROM d)
        |  WHERE term IN ('vector', 'hash', 'merge')
        |  GROUP BY doc_id, dl, term),
        |dfq AS (SELECT term, count(*) AS dfr FROM tf GROUP BY term),
        |bmc AS (
        |  SELECT tf.doc_id, term,
        |         ln(CAST(1.0 AS DOUBLE) + (g.n_docs - dfr + CAST(0.5 AS DOUBLE))
        |              / (dfr + CAST(0.5 AS DOUBLE)))
        |           * tf
        |           / (tf + CAST(1.2 AS DOUBLE) * (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)
        |                + CAST(0.75 AS DOUBLE) * dl / g.avgdl)) AS contrib
        |  FROM tf JOIN dfq USING (term), g)""".stripMargin
    def bm25TopSql(k: Int) =
      s"""WITH $bm25Ctes
         |SELECT doc_id,
         |       round(list_sum(list_transform(list(struct_pack(term := term, contrib := contrib)
         |                                          ORDER BY term), x -> x.contrib)), 6) AS score
         |FROM bmc GROUP BY doc_id
         |ORDER BY score DESC, doc_id LIMIT $k""".stripMargin

    register("q_bm25_topk", bm25TopSql(10)) { (s, dir) =>
      graft.operators.KeywordSearch.bm25TopK(
        Tables.documents(s, dir), Seq("vector", "hash", "merge"), k = 10)
    }

    // Hybrid retrieval: RRF-fuse the BM25 lexical top-50 with the
    // dense cosine top-50 for probe vec 0 (both components
    // independently oracle-verified above). Fusion touches only the
    // two top-k LISTS — the corpus-scale work lives in the retrievers.
    register("q_hybrid_rrf",
      s"""WITH $bm25Ctes,
        |lexs AS (
        |  SELECT doc_id,
        |         round(list_sum(list_transform(list(struct_pack(term := term, contrib := contrib)
        |                                            ORDER BY term), x -> x.contrib)), 6) AS score
        |  FROM bmc GROUP BY doc_id
        |  ORDER BY score DESC, doc_id LIMIT 50),
        |lex AS (SELECT doc_id AS id, row_number() OVER (ORDER BY score DESC, doc_id) AS ra
        |        FROM lexs),
        |ce AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |p AS (SELECT emb FROM ce WHERE vec_id = 0),
        |dscored AS (
        |  SELECT n.vec_id AS id,
        |         round(list_dot_product(p.emb, n.emb)
        |               / (sqrt(list_dot_product(p.emb, p.emb)) * sqrt(list_dot_product(n.emb, n.emb))), 6)
        |           + CAST(0.0 AS DOUBLE) AS cos
        |  FROM p, ce n WHERE n.vec_id <> 0),
        |dense AS (SELECT id, row_number() OVER (ORDER BY cos DESC, id) AS rb
        |          FROM dscored QUALIFY rb <= 50)
        |SELECT COALESCE(lex.id, dense.id) AS doc_id,
        |       round(COALESCE(1.0 / (60 + ra), 0.0) + COALESCE(1.0 / (60 + rb), 0.0), 6) AS rrf,
        |       ra AS lex_rank, rb AS dense_rank
        |FROM lex FULL OUTER JOIN dense ON lex.id = dense.id
        |ORDER BY rrf DESC, doc_id LIMIT 15""") { (s, dir) =>
      val lex = graft.operators.HybridRetrieval.ranks(
        graft.operators.KeywordSearch.bm25TopK(
          Tables.documents(s, dir), Seq("vector", "hash", "merge"), k = 50),
        "doc_id", "score")
      val emb = Tables.embeddings(s, dir)
      val dense = Similarity.bruteTopK(emb, emb.filter(col("vec_id") === 0), 50)
        .select(col("n_id").as("id"), col("rnk").cast("long").as("rank"))
      graft.operators.HybridRetrieval.rrfFuse(lex, dense, 60)
        .select(col("id").as("doc_id"), col("rrf"),
          col("rank_a").as("lex_rank"), col("rank_b").as("dense_rank"))
        .orderBy(col("rrf").desc, col("doc_id")).limit(15)
    }

    // The production SERVING shape of hybrid retrieval: RRF over the
    // two PERSISTED index families — BM25 off the on-disk postings
    // (byte-exact vs in-memory, gated below) and dense cosine off the
    // on-disk IVF inverted file (approximate by design; nProbe=12/16
    // measured ≥0.94 recall@50 across sf0.001–0.1). Rows-only like
    // q_ann_ivf_indexed, gated DIRECTLY by q_hybrid_rrf_indexed_check
    // on the same indexes; registered so the bench measures the
    // two-index serving probe.
    registerNoOracle("q_hybrid_rrf_indexed") { (s, dir) =>
      val lex = graft.operators.HybridRetrieval.ranks(
        graft.operators.KeywordSearch.bm25TopKIndexed(
          s, postingsIndexRoot(s, dir), Seq("vector", "hash", "merge"), k = 50),
        "doc_id", "score")
      val dense = Similarity.ivfTopKIndexed(s, ivfIndexRoot(s, dir),
          Tables.embeddings(s, dir).filter(col("vec_id") === 0), 50, nProbe = 12)
        .select(col("n_id").as("id"), col("rnk").as("rank"))
      graft.operators.HybridRetrieval.rrfFuse(lex, dense, 60)
        .select(col("id").as("doc_id"), col("rrf"),
          col("rank_a").as("lex_rank"), col("rank_b").as("dense_rank"))
        .orderBy(col("rrf").desc, col("doc_id")).limit(15)
    }

    // The gate for q_hybrid_rrf_indexed, closing its chain the way
    // q_ann_ivf_indexed_recall closes q_ann_ivf_indexed: the LEXICAL
    // side off the postings index must reproduce the oracle-verified
    // in-memory BM25 ranks byte-for-byte at the fusion's k=50 (not
    // just q_bm25_indexed's k=10), and the DENSE side's recall@50 vs
    // the oracle-verified brute-force truth must clear the calibrated
    // bound on the post-append IVF index. DuckDB asserts both held
    // and pins the fused row count.
    register("q_hybrid_rrf_indexed_check",
      """SELECT TRUE AS lex_exact_ok, TRUE AS dense_recall_ok,
        |       CAST(15 AS BIGINT) AS n_fused FROM (SELECT 1)""") { (s, dir) =>
      val terms = Seq("vector", "hash", "merge")
      val lexIdx = graft.operators.HybridRetrieval.ranks(
        graft.operators.KeywordSearch.bm25TopKIndexed(
          s, postingsIndexRoot(s, dir), terms, k = 50), "doc_id", "score")
      val lexMem = graft.operators.HybridRetrieval.ranks(
        graft.operators.KeywordSearch.bm25TopK(
          Tables.documents(s, dir), terms, k = 50), "doc_id", "score")
      val lexMism = lexIdx.exceptAll(lexMem).unionAll(lexMem.exceptAll(lexIdx))
        .agg(count(lit(1)).as("n_mism"))
      val emb = Tables.embeddings(s, dir)
      val probe0 = emb.filter(col("vec_id") === 0)
      val truth = Similarity.bruteTopK(emb, probe0, 50).select("q_id", "n_id")
      // ONE on-disk dense probe feeds both legs: the recall gate and
      // the fused count (re-invoking q_hybrid_rrf_indexed here would
      // run both index probes a second time with identical parameters)
      val denseTop = Similarity.ivfTopKIndexed(s, ivfIndexRoot(s, dir), probe0, 50, nProbe = 12)
        .localCheckpoint()
      val dense = denseTop.select("q_id", "n_id").withColumn("hit", lit(1L))
      val recall = truth.join(broadcast(dense), Seq("q_id", "n_id"), "left")
        .agg((sum(coalesce(col("hit"), lit(0L))) / count(lit(1))).as("recall"))
      val fusedN = graft.operators.HybridRetrieval.rrfFuse(
          lexIdx, denseTop.select(col("n_id").as("id"), col("rnk").as("rank")), 60)
        .orderBy(col("rrf").desc, col("id")).limit(15)
        .agg(count(lit(1)).as("n_fused"))
      lexMism.crossJoin(recall).crossJoin(fusedN)
        .select((col("n_mism") === 0).as("lex_exact_ok"),
          (col("recall") >= 0.8).as("dense_recall_ok"),
          col("n_fused"))
    }

    // On-disk inverted-index probe: SAME oracle as q_bm25_topk. The
    // persisted postings (built over 80% of the corpus, 20% appended,
    // then compacted — the full production lifecycle) must reproduce
    // the in-memory scores byte-for-byte off a scan partition-pruned
    // to the query terms' buckets; any lost/duplicated posting fails
    // the hash gate. Third index family with an oracle-gated on-disk
    // probe, joining LSH (q_dedup_incremental_indexed) and IVF
    // (q_ann_ivf_indexed).
    register("q_bm25_indexed", bm25TopSql(10)) { (s, dir) =>
      graft.operators.KeywordSearch.bm25TopKIndexed(
        s, postingsIndexRoot(s, dir), Seq("vector", "hash", "merge"), k = 10)
    }

    // TF-IDF "more like this": corpus ranked by cosine to doc 7's
    // ltc-weighted vector. The oracle folds norm over ALL of a doc's
    // terms and dot over the SHARED terms, both in sorted term order;
    // the Spark side left-joins the query vector so non-shared terms
    // add +0.0 to the dot — an exact identity, so the two folds agree
    // byte-for-byte (all weights ≥ 0: no −0.0 anywhere).
    register("q_tfidf_mlt",
      """WITH toks AS (
        |  SELECT doc_id,
        |         string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ') AS t
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf
        |       FROM (SELECT doc_id, unnest(t) AS term FROM toks) GROUP BY doc_id, term),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |df AS (SELECT term, count(*) AS dfr FROM tf GROUP BY term),
        |w AS (SELECT doc_id, term,
        |             (CAST(1.0 AS DOUBLE) + ln(CAST(tf AS DOUBLE)))
        |               * ln(CAST(n_docs AS DOUBLE) / dfr) AS w
        |      FROM tf JOIN df USING (term), n),
        |norms AS (SELECT doc_id,
        |                 sqrt(list_sum(list_transform(
        |                   list(struct_pack(term := term, w := w) ORDER BY term),
        |                   x -> x.w * x.w))) AS nrm
        |          FROM w GROUP BY doc_id),
        |q AS (SELECT term, w AS wq FROM w WHERE doc_id = 7),
        |qn AS (SELECT nrm AS nq FROM norms WHERE doc_id = 7),
        |dots AS (SELECT w.doc_id,
        |                list_sum(list_transform(
        |                  list(struct_pack(term := term, p := w.w * q.wq) ORDER BY term),
        |                  x -> x.p)) AS dot
        |         FROM w JOIN q USING (term) WHERE w.doc_id <> 7 GROUP BY w.doc_id)
        |SELECT d.doc_id, round(d.dot / (qn.nq * n2.nrm), 6) AS cosine
        |FROM dots d JOIN norms n2 USING (doc_id), qn
        |ORDER BY cosine DESC, doc_id LIMIT 10""") { (s, dir) =>
      graft.operators.KeywordSearch.tfidfMoreLikeThis(
        docsFanned(s, dir, "doc_id", "text"), queryDocId = 7L, k = 10)
    }

    // Vocabulary coverage / OOV rate against the top-100 corpus
    // vocabulary (count desc, term asc — a total order, so the cutoff
    // replays exactly). The tokenizer-fit / drift signal.
    register("q_oov_rate",
      """WITH toks AS (
        |  SELECT doc_id,
        |         unnest(string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ')) AS t
        |  FROM documents),
        |vocab AS (SELECT t FROM toks GROUP BY t ORDER BY count(*) DESC, t LIMIT 100)
        |SELECT toks.doc_id, count(*) AS n_tokens,
        |       count(CASE WHEN v.t IS NULL THEN 1 END) AS n_oov,
        |       round(CAST(count(CASE WHEN v.t IS NULL THEN 1 END) AS DOUBLE) / count(*), 4) AS oov_rate
        |FROM toks LEFT JOIN vocab v USING (t)
        |GROUP BY toks.doc_id ORDER BY toks.doc_id""") { (s, dir) =>
      graft.operators.KeywordSearch.oovRate(Tables.documents(s, dir), vocabSize = 100)
        .orderBy("doc_id")
    }

    // Char-distribution entropy — the compression-proxy quality signal
    // (low ⇒ repetitive boilerplate, high ⇒ noise; both tails are
    // curation drops). Engine side is ONE native codegen'd pass per
    // row (graft_char_entropy); the oracle rebuilds the histogram by
    // exploding code points and folds −p·ln p in the same ascending
    // code-point order. +0.0 normalizes the −0.0 a single-repeated-
    // char doc would produce.
    register("q_char_entropy",
      """WITH chars AS (
        |  SELECT doc_id, unnest(regexp_extract_all(text, '(?s).')) AS c
        |  FROM documents),
        |freq AS (SELECT doc_id, c, count(*) AS n FROM chars GROUP BY doc_id, c),
        |tot AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS nn FROM freq GROUP BY doc_id)
        |SELECT f.doc_id,
        |       round(list_sum(list_transform(
        |         list(struct_pack(c := f.c,
        |                          e := -((CAST(f.n AS DOUBLE) / t.nn) * ln(CAST(f.n AS DOUBLE) / t.nn)))
        |              ORDER BY f.c),
        |         x -> x.e)) + 0.0, 6) AS entropy
        |FROM freq f JOIN tot t USING (doc_id)
        |GROUP BY f.doc_id ORDER BY f.doc_id""") { (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          round(call_function("graft_char_entropy", col("text")), 6).as("entropy"))
        .orderBy("doc_id")
    }

    // Context-window sequence packing: next-fit bins of ≤ 1024 tokens
    // per shard (8 shards by doc_id mod), docs processed in doc_id
    // order. The fold is sequential per shard ONLY — a streaming
    // iterator pass over spill-sorted partitions, no group ever
    // materialized. The oracle replays the identical greedy fold as a
    // recursive CTE, so bin assignment is value-exact.
    register("q_pack_bins",
      """WITH RECURSIVE d AS (
        |  SELECT doc_id % 8 AS shard, doc_id AS id,
        |         CAST(len(string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ')) AS BIGINT) AS size,
        |         row_number() OVER (PARTITION BY doc_id % 8 ORDER BY doc_id) AS rn
        |  FROM documents),
        |pack AS (
        |  SELECT shard, id, size, rn, CAST(1 AS BIGINT) AS bin, size AS fill
        |  FROM d WHERE rn = 1
        |  UNION ALL
        |  SELECT n.shard, n.id, n.size, n.rn,
        |         CASE WHEN p.fill + n.size <= 1024 THEN p.bin ELSE p.bin + 1 END,
        |         CASE WHEN p.fill + n.size <= 1024 THEN p.fill + n.size ELSE n.size END
        |  FROM pack p JOIN d n ON n.shard = p.shard AND n.rn = p.rn + 1)
        |SELECT shard, id, bin, size AS n_tokens
        |FROM pack ORDER BY shard, id""") { (s, dir) =>
      import graft.functions.TextStats
      val sized = Tables.documents(s, dir)
        .select(col("doc_id"),
          size(TextStats.tokens(col("text"))).cast("long").as("n_toks"))
      graft.operators.Packing.nextFitPack(sized, "doc_id", "n_toks",
        shards = 8, capacity = 1024L)
        .orderBy("shard", "id")
    }

    // Packed-bin MATERIALIZATION — the loader artifact itself: per
    // (shard, bin) the concatenated text plus document-boundary
    // metadata (pack-ordered doc ids and the token offset where each
    // doc starts) for attention/position resets. The oracle replays
    // the same recursive-CTE pack, derives offsets as an exclusive
    // windowed running sum, and string-aggregates in the same order.
    register("q_pack_materialize",
      """WITH RECURSIVE d AS (
        |  SELECT doc_id % 8 AS shard, doc_id AS id, text,
        |         CAST(len(string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ')) AS BIGINT) AS size,
        |         row_number() OVER (PARTITION BY doc_id % 8 ORDER BY doc_id) AS rn
        |  FROM documents),
        |pack AS (
        |  SELECT shard, id, size, rn, CAST(1 AS BIGINT) AS bin, size AS fill
        |  FROM d WHERE rn = 1
        |  UNION ALL
        |  SELECT n.shard, n.id, n.size, n.rn,
        |         CASE WHEN p.fill + n.size <= 1024 THEN p.bin ELSE p.bin + 1 END,
        |         CASE WHEN p.fill + n.size <= 1024 THEN p.fill + n.size ELSE n.size END
        |  FROM pack p JOIN d n ON n.shard = p.shard AND n.rn = p.rn + 1),
        |o AS (
        |  SELECT shard, id, bin, size,
        |         coalesce(sum(size) OVER (PARTITION BY shard, bin ORDER BY id
        |                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
        |  FROM pack)
        |SELECT o.shard, o.bin,
        |       count(*) AS n_docs,
        |       CAST(sum(o.size) AS BIGINT) AS n_tokens,
        |       string_agg(CAST(o.id AS VARCHAR), ',' ORDER BY o.id) AS doc_ids,
        |       string_agg(CAST(o.off AS VARCHAR), ',' ORDER BY o.id) AS offsets,
        |       string_agg(d.text, ' ' ORDER BY o.id) AS text
        |FROM o JOIN d ON d.id = o.id
        |GROUP BY o.shard, o.bin
        |ORDER BY o.shard, o.bin""") { (s, dir) =>
      graft.operators.Packing.materialize(
        Tables.documents(s, dir), "doc_id", "text", shards = 8, capacity = 1024L)
        .orderBy("shard", "bin")
    }

    // Exact set-similarity self-join (AllPairs/PPJoin prefix filter):
    // every doc pair with trigram-shingle Jaccard ≥ 0.6, found with NO
    // cross join and verified exactly — the complete-answer
    // counterpart of the MinHash/SimHash sketches. Trigrams, not
    // bigrams: this corpus's bigram vocabulary is ~930 so every
    // prefix bucket is huge (53 s at sf0.1); trigram max-df is 25 and
    // the same 25 near-dup pairs come back in ~1 s. The oracle brute-
    // forces all pairs (feasible at oracle scale only); the engine's
    // prefix filter must reproduce it exactly — a lost candidate is a
    // missing row, a hash-gate failure.
    register("q_simjoin_exact",
      """WITH tok AS (
        |  SELECT doc_id,
        |         string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ') AS t
        |  FROM documents),
        |s AS (SELECT doc_id,
        |             list_distinct(CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
        |                           ELSE list_transform(range(len(t) - 2), i -> array_to_string(t[i+1:i+3], ' ')) END) AS t
        |      FROM tok)
        |SELECT a.doc_id AS id1, b.doc_id AS id2,
        |       round(CAST(len(list_intersect(a.t, b.t)) AS DOUBLE)
        |             / (len(a.t) + len(b.t) - len(list_intersect(a.t, b.t))), 6) AS jaccard
        |FROM s a JOIN s b ON a.doc_id < b.doc_id
        |WHERE CAST(len(list_intersect(a.t, b.t)) AS DOUBLE)
        |        / (len(a.t) + len(b.t) - len(list_intersect(a.t, b.t))) >= 0.6
        |ORDER BY id1, id2""") { (s, dir) =>
      // dfOrdered=false: max trigram df on this corpus is 25 (dim-like
      // buckets), so the hash-value order loses nothing and the prefix
      // is a map-only slice of the already-sorted hash arrays
      graft.operators.SetSimilarityJoin.textSelfJoin(
        docsFanned(s, dir, "doc_id", "text"), "doc_id", "text", n = 3, theta = 0.6,
        dfOrdered = false)
        .orderBy("id1", "id2")
    }

    // Frequent-items sketch profile — the 100 TB shape of q_top_ngrams:
    // a Misra-Gries heavy-hitters aggregate keeps ≤2048 counters per
    // partial state and merges associatively, so the corpus profile is
    // one pass shipping O(capacity) per partition instead of shuffling
    // every distinct gram. Estimates are arrival-order-dependent once
    // decrements fire → rows-only, gated by q_freq_items_check below
    // (the same sketch/audit split as q_sketch_profile/q_sketch_check).
    registerNoOracle("q_freq_items") { (s, dir) =>
      Tables.documents(s, dir)
        .select(TextStats.tokens(col("text")).as("toks")) // stage once: gramsOf re-evals its input per element
        .select(explode(Dedup.gramsOf(col("toks"), 2)).as("gram"))
        .agg(call_function("graft_freq_items", col("gram"), lit(2048)).as("items"))
        .select(explode(col("items")).as("x"))
        .select(col("x.item").as("gram"), col("x.est").as("est"))
        .orderBy(col("est").desc, col("gram"))
        .limit(20)
    }

    // Audit gate for the sketch: on this corpus the bigram vocabulary
    // (~930) is under the 2048-counter capacity, so Misra-Gries fires
    // no decrement and every estimate is EXACT — the oracle asserts
    // presence and exactness for the true top-20. A serialization or
    // merge bug would corrupt a count and flip a boolean. The MG
    // decrement/bound behavior under pressure (capacity << vocab) is
    // property-tested in FreqItemsSpec.
    register("q_freq_items_check",
      """SELECT gram, count(*) AS n, TRUE AS in_sketch, TRUE AS est_exact
        |FROM (
        |  SELECT unnest(CASE WHEN len(t) < 2 THEN [array_to_string(t, ' ')]
        |                ELSE list_transform(range(len(t) - 1), i -> t[i+1] || ' ' || t[i+2]) END) AS gram
        |  FROM (SELECT string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ') AS t
        |        FROM documents))
        |GROUP BY gram ORDER BY n DESC, gram LIMIT 20""") { (s, dir) =>
      val grams = Tables.documents(s, dir)
        .select(TextStats.tokens(col("text")).as("toks")) // stage once: gramsOf re-evals its input per element
        .select(explode(Dedup.gramsOf(col("toks"), 2)).as("gram"))
      val sketch = grams
        .agg(call_function("graft_freq_items", col("gram"), lit(2048)).as("items"))
        .select(explode(col("items")).as("x"))
        .select(col("x.item").as("gram"), col("x.est").as("est"))
      val exactTop = grams.groupBy("gram").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("gram")).limit(20)
      exactTop.join(sketch, Seq("gram"), "left")
        .select(
          col("gram"), col("n"),
          col("est").isNotNull.as("in_sketch"),
          coalesce(col("est") === col("n"), lit(false)).as("est_exact"))
        .orderBy(col("n").desc, col("gram"))
    }

    // Corpus bigram frequency profile (data-quality staple: the "most
    // common n-grams" table). Integer counts — exact at any layout.
    register("q_top_ngrams",
      """SELECT gram, count(*) AS n
        |FROM (
        |  SELECT unnest(CASE WHEN len(t) < 2 THEN [array_to_string(t, ' ')]
        |                ELSE list_transform(range(len(t) - 1), i -> t[i+1] || ' ' || t[i+2]) END) AS gram
        |  FROM (SELECT string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ') AS t
        |        FROM documents))
        |GROUP BY gram ORDER BY n DESC, gram LIMIT 20""") { (s, dir) =>
      Tables.documents(s, dir)
        .select(TextStats.tokens(col("text")).as("toks"))
        .select(explode(Dedup.gramsOf(col("toks"), 2)).as("gram"))
        .groupBy("gram").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("gram"))
        .limit(20)
    }

    // MIXED-modality corpus served by ONE format-dispatched REAL
    // decode pass (r14 verdict #3 — the stub pass is retired): docs
    // become audio/image/video containers by doc_id mod 3, and every
    // unified feature column (container size, dims, natural unit
    // count, headline signal stat) is read out of the actually-parsed
    // container. The oracle replays all three container arithmetics —
    // including the raster/plane byte sums via hex expansion — branch
    // by branch, so a wrong dispatch, a header slip or a plane
    // misread in ANY modality fails the hash.
    register("q_multimodal",
      """WITH b AS (
        |  SELECT doc_id, octet_length(CAST(text AS BLOB)) AS n,
        |         hex(CAST(text AS BLOB)) AS hx
        |  FROM documents),
        |v AS (SELECT doc_id, n,
        |             list_transform(range(n),
        |               i -> CAST(concat('0x', substring(hx, CAST(2*i+1 AS INT), 2)) AS INT)) AS bytes
        |      FROM b),
        |wav AS (
        |  SELECT doc_id, 'audio/wav' AS format,
        |         CAST(56 + 2 * n AS BIGINT) AS n_bytes,
        |         CAST(0 AS BIGINT) AS width, CAST(0 AS BIGINT) AS height,
        |         CAST(n AS BIGINT) AS n_units,
        |         round(n / 8.0, 4) AS detail
        |  FROM v WHERE doc_id % 3 = 0),
        |ppm AS (
        |  SELECT doc_id, 'image/x-portable-pixmap' AS format,
        |         CAST(29 + length(CAST(h AS VARCHAR)) + 48 * h AS BIGINT) AS n_bytes,
        |         CAST(16 AS BIGINT) AS width, h AS height,
        |         CAST(16 * h AS BIGINT) AS n_units,
        |         round(CAST(coalesce(list_sum(bytes), 0) AS DOUBLE) / (16 * h), 4) AS detail
        |  FROM (SELECT doc_id, n, bytes,
        |               greatest(1, CAST(ceil(n / 16.0) AS BIGINT)) AS h
        |        FROM v) t WHERE doc_id % 3 = 1),
        |y4m AS (
        |  SELECT doc_id, 'video/x-yuv4mpeg' AS format,
        |         CAST(39 + 102 * nf AS BIGINT) AS n_bytes,
        |         CAST(8 AS BIGINT) AS width, CAST(8 AS BIGINT) AS height,
        |         nf AS n_units,
        |         round(CAST(list_sum(list_transform(range(64),
        |               j -> CASE WHEN j < n THEN bytes[CAST(j + 1 AS INT)] ELSE 0 END)) AS DOUBLE) / 64, 4) AS detail
        |  FROM (SELECT doc_id, n, bytes,
        |               greatest(1, CAST(ceil(n / 64.0) AS BIGINT)) AS nf
        |        FROM v) t WHERE doc_id % 3 = 2)
        |SELECT * FROM (SELECT * FROM wav UNION ALL SELECT * FROM ppm
        |               UNION ALL SELECT * FROM y4m)
        |ORDER BY doc_id""") { (s, dir) =>
      Multimodal.extractMediaFeatures(
          Multimodal.asMixedMedia(Tables.documents(s, dir)))
        .select(
          col("doc_id"), col("format"), col("n_bytes"), col("width"),
          col("height"), col("n_units"), round(col("detail"), 4).as("detail"))
        .orderBy("doc_id")
    }

    // REAL multimodal decode (no codec needed): each doc's text bytes
    // are encoded as a spec-conformant PCM WAV (RIFF + odd-size junk
    // chunk + fmt + 16-bit mono data) and EVERY output column below is
    // read back out of the binary by actually parsing the RIFF chunk
    // walk in a typed mapPartitions pass. The oracle recomputes the
    // expected container arithmetic from the text alone — a wrong
    // encoder offset, a missed pad byte, or a bad block-align divide
    // shifts n_bytes/n_samples and fails the hash gate.
    register("q_multimodal_wav",
      """SELECT doc_id,
        |       CAST(56 + 2 * octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
        |       CAST(8000 AS BIGINT) AS sample_rate,
        |       CAST(1 AS BIGINT) AS channels,
        |       CAST(16 AS BIGINT) AS bits,
        |       CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_samples,
        |       round(octet_length(CAST(text AS BLOB)) * 1000 / 8000.0, 3) AS dur_ms
        |FROM documents ORDER BY doc_id""") { (s, dir) =>
      Multimodal.extractWavFeatures(Multimodal.asWavMedia(Tables.documents(s, dir)))
        .select(
          col("doc_id"), col("n_bytes"), col("sample_rate"), col("channels"),
          col("bits"), col("n_samples"), round(col("dur_ms"), 3).as("dur_ms"))
        .orderBy("doc_id")
    }

    // REAL image decode (codec-free): each doc's text bytes become a
    // spec-conformant binary PPM (P6 magic + header COMMENT + dims +
    // maxval + RGB raster, r=v g=255−v b=v⊕85, 16-wide zero-padded
    // rows) and every output column is read back by actually parsing
    // the header tokenizer and walking the raster in a typed
    // mapPartitions pass. The oracle recomputes the container
    // arithmetic AND the exact per-channel byte sums from the text
    // alone (via hex expansion) — a wrong header offset, a skipped
    // comment byte, or a misaligned raster walk shifts a mean and
    // fails the hash. The image analog of q_multimodal_wav.
    register("q_multimodal_ppm",
      """WITH b AS (
        |  SELECT doc_id, octet_length(CAST(text AS BLOB)) AS n,
        |         hex(CAST(text AS BLOB)) AS hx
        |  FROM documents),
        |d AS (SELECT doc_id, n, greatest(1, CAST(ceil(n / 16.0) AS BIGINT)) AS h, hx FROM b),
        |v AS (SELECT doc_id, n, h,
        |             list_transform(range(n),
        |               i -> CAST(concat('0x', substring(hx, CAST(2*i+1 AS INT), 2)) AS INT)) AS bytes
        |      FROM d)
        |SELECT doc_id,
        |       CAST(29 + length(CAST(h AS VARCHAR)) + 48 * h AS BIGINT) AS n_bytes,
        |       CAST(16 AS BIGINT) AS width,
        |       h AS height,
        |       CAST(255 AS BIGINT) AS maxval,
        |       CAST(16 * h AS BIGINT) AS n_pixels,
        |       round(CAST(coalesce(list_sum(bytes), 0) AS DOUBLE) / (16 * h), 4) AS r_mean,
        |       round(CAST(coalesce(list_sum(list_transform(bytes, x -> 255 - x)), 0) AS DOUBLE) / (16 * h), 4) AS g_mean,
        |       round(CAST(coalesce(list_sum(list_transform(bytes, x -> xor(x, 85))), 0) AS DOUBLE) / (16 * h), 4) AS b_mean
        |FROM v ORDER BY doc_id""") { (s, dir) =>
      Multimodal.extractPpmFeatures(Multimodal.asPpmMedia(Tables.documents(s, dir)))
        .select(
          col("doc_id"), col("n_bytes"), col("width"), col("height"),
          col("maxval"), col("n_pixels"),
          round(col("r_mean"), 4).as("r_mean"),
          round(col("g_mean"), 4).as("g_mean"),
          round(col("b_mean"), 4).as("b_mean"))
        .orderBy("doc_id")
    }

    // REAL image resize (the thumbnail stage, no stub): decode each
    // P6 → nearest-neighbor downsample to 4×4 (out pixel (x,y) samples
    // src (⌊x·W/4⌋, ⌊y·H/4⌋) — exact integer arithmetic) → re-encode →
    // decode again for features, one typed partition pass. The oracle
    // replays the SAMPLING MAP itself from the text bytes: each of the
    // 16 output pixels' source index, padding included, then the same
    // channel recipe — a wrong floor, a swapped axis or an
    // off-by-one-row slip shifts a sampled byte and fails the hash.
    register("q_multimodal_resize",
      """WITH b AS (
        |  SELECT doc_id, octet_length(CAST(text AS BLOB)) AS n,
        |         hex(CAST(text AS BLOB)) AS hx
        |  FROM documents),
        |d AS (SELECT doc_id, n, greatest(1, CAST(ceil(n / 16.0) AS BIGINT)) AS h, hx FROM b),
        |v AS (SELECT doc_id, n, h,
        |             list_transform(range(n),
        |               i -> CAST(concat('0x', substring(hx, CAST(2*i+1 AS INT), 2)) AS INT)) AS bytes
        |      FROM d),
        |px AS (
        |  SELECT doc_id,
        |         -- a sampled position past the source bytes hits the
        |         -- encoder's ZERO-PADDED raster: all three channels
        |         -- are 0 there (the channel recipe applies to source
        |         -- bytes only), so each channel carries its own CASE
        |         list_transform(range(16),
        |           p -> CASE WHEN ((p // 4) * h // 4) * 16 + (p % 4) * 4 < n
        |                     THEN bytes[CAST(((p // 4) * h // 4) * 16 + (p % 4) * 4 + 1 AS INT)]
        |                     ELSE 0 END) AS rs,
        |         list_transform(range(16),
        |           p -> CASE WHEN ((p // 4) * h // 4) * 16 + (p % 4) * 4 < n
        |                     THEN 255 - bytes[CAST(((p // 4) * h // 4) * 16 + (p % 4) * 4 + 1 AS INT)]
        |                     ELSE 0 END) AS gs,
        |         list_transform(range(16),
        |           p -> CASE WHEN ((p // 4) * h // 4) * 16 + (p % 4) * 4 < n
        |                     THEN xor(bytes[CAST(((p // 4) * h // 4) * 16 + (p % 4) * 4 + 1 AS INT)], 85)
        |                     ELSE 0 END) AS bs
        |  FROM v)
        |SELECT doc_id,
        |       CAST(75 AS BIGINT) AS n_bytes,
        |       CAST(4 AS BIGINT) AS width, CAST(4 AS BIGINT) AS height,
        |       CAST(255 AS BIGINT) AS maxval, CAST(16 AS BIGINT) AS n_pixels,
        |       round(CAST(list_sum(rs) AS DOUBLE) / 16, 4) AS r_mean,
        |       round(CAST(list_sum(gs) AS DOUBLE) / 16, 4) AS g_mean,
        |       round(CAST(list_sum(bs) AS DOUBLE) / 16, 4) AS b_mean
        |FROM px ORDER BY doc_id""") { (s, dir) =>
      Multimodal.extractResizedPpmFeatures(
          Multimodal.asPpmMedia(Tables.documents(s, dir)), 4, 4)
        .select(
          col("doc_id"), col("n_bytes"), col("width"), col("height"),
          col("maxval"), col("n_pixels"),
          round(col("r_mean"), 4).as("r_mean"),
          round(col("g_mean"), 4).as("g_mean"),
          round(col("b_mean"), 4).as("b_mean"))
        .orderBy("doc_id")
    }

    // Real codec-free VIDEO decode + frame sampling: documents encoded
    // as spec-conformant YUV4MPEG2 streams (plain-text header, FRAME
    // markers, raw planar C420 YUV — the video analog of PCM WAV and
    // P6 PPM), then every 2nd frame sampled with EXACT integer plane
    // sums from walking the actual raster. The oracle recomputes every
    // sampled frame's luma/chroma sums from the text bytes via hex
    // expansion (the q_multimodal_ppm pattern), so a wrong frame
    // offset, a missed FRAME marker, a plane-boundary slip or a
    // padding bug fails the hash. mapPartitions + flatMap is the
    // decode-once-emit-per-frame batch shape a real decoder needs.
    register("q_multimodal_y4m",
      """WITH b AS (
        |  SELECT doc_id, octet_length(CAST(text AS BLOB)) AS n,
        |         hex(CAST(text AS BLOB)) AS hx
        |  FROM documents),
        |d AS (SELECT doc_id, n, greatest(1, CAST(ceil(n / 64.0) AS BIGINT)) AS nf, hx FROM b),
        |v AS (SELECT doc_id, n, nf,
        |             list_transform(range(n),
        |               i -> CAST(concat('0x', substring(hx, CAST(2*i+1 AS INT), 2)) AS INT)) AS bytes
        |      FROM d),
        |s AS (
        |  SELECT doc_id, n, nf, t.f,
        |         CAST(list_sum(list_transform(range(64),
        |               j -> CASE WHEN t.f*64 + j < n THEN bytes[CAST(t.f*64 + j + 1 AS INT)] ELSE 0 END)) AS BIGINT) AS y_sum,
        |         CAST(list_sum(list_transform(range(16),
        |               k -> 255 - CASE WHEN t.f*64 + 4*k < n THEN bytes[CAST(t.f*64 + 4*k + 1 AS INT)] ELSE 0 END)) AS BIGINT) AS u_sum,
        |         CAST(list_sum(list_transform(range(16),
        |               k -> xor(CASE WHEN t.f*64 + 4*k < n THEN bytes[CAST(t.f*64 + 4*k + 1 AS INT)] ELSE 0 END, 85))) AS BIGINT) AS v_sum
        |  FROM v, unnest(range(nf)) AS t(f)
        |  WHERE t.f % 2 = 0)
        |SELECT doc_id, f AS frame_idx,
        |       CAST(8 AS BIGINT) AS width, CAST(8 AS BIGINT) AS height,
        |       CAST(25 AS BIGINT) AS fps_num, CAST(1 AS BIGINT) AS fps_den,
        |       nf AS n_frames,
        |       CAST(39 + 102 * nf AS BIGINT) AS n_bytes,
        |       y_sum, u_sum, v_sum,
        |       round(CAST(y_sum AS DOUBLE) / 64, 4) AS y_mean
        |FROM s ORDER BY doc_id, frame_idx""") { (s, dir) =>
      Multimodal.extractY4mFrameFeatures(
          Multimodal.asY4mMedia(Tables.documents(s, dir)), every = 2)
        .select(
          col("doc_id"), col("frame_idx"), col("width"), col("height"),
          col("fps_num"), col("fps_den"), col("n_frames"), col("n_bytes"),
          col("y_sum"), col("u_sum"), col("v_sum"),
          round(col("y_mean"), 4).as("y_mean"))
        .orderBy("doc_id", "frame_idx")
    }

    // ---- BPE tokenizer training (operators/BpeTrainer.scala) ----
    // The corpus-scale half of building a tokenizer. q_bpe_pairs is
    // the first-iteration pair census (the one corpus-scale shuffle);
    // q_bpe_learn oracle-replays the ENTIRE 8-round learn loop —
    // census → pair count → argmax → rewrite — in chained DuckDB CTEs,
    // so a wrong tie-break or a boundary-crossing merge fails the hash.

    register("q_bpe_pairs",
      """WITH words AS (
        |  SELECT w AS word, count(*) AS wc FROM (
        |    SELECT unnest(string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ')) AS w
        |    FROM documents) t WHERE w <> '' GROUP BY 1),
        |pairs AS (
        |  SELECT substr(word, i, 1) AS lhs, substr(word, i+1, 1) AS rhs,
        |         CAST(sum(wc) AS BIGINT) AS pc
        |  FROM words, unnest(range(1, length(word))) AS t(i)
        |  GROUP BY 1, 2)
        |SELECT lhs, rhs, pc FROM pairs ORDER BY pc DESC, lhs, rhs LIMIT 30""") { (s, dir) =>
      val census = BpeTrainer.wordCensus(Tables.documents(s, dir))
        .select(BpeTrainer.wrap(col("word")).as("wstr"), col("wc"))
      BpeTrainer.pairCounts(census)
        .orderBy(col("pc").desc, col("lhs"), col("rhs")).limit(30)
    }

    register("q_bpe_learn",
      BpeTrainer.learnOracleSql("documents", 8)) { (s, dir) =>
      BpeTrainer.learn(s, Tables.documents(s, dir), 8)
        .select(col("rank").cast("long").as("rank"),
          col("lhs"), col("rhs"), col("pc"))
        .orderBy("rank")
    }

    // Interpolated bigram-LM perplexity (operators/LanguageModel): the
    // sequence-aware CCNet-style quality filter. The corpus is its own
    // LM — closed vocab (top-256 + <unk>), bigram table pruned by a
    // total order, pruned bigrams back off to the smoothed unigram.
    // λ is written (1.0 - 0.7) on BOTH sides so the IEEE value agrees.
    register("q_lm_perplexity",
      """WITH toks AS (
        |  SELECT doc_id, string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ') AS tk
        |  FROM documents),
        |seq AS (SELECT doc_id, i AS pos, tk[i] AS w
        |        FROM toks, unnest(range(1, len(tk)+1)) AS t(i)),
        |vocab AS (SELECT w FROM (SELECT w, count(*) AS n FROM seq GROUP BY 1) t
        |          ORDER BY n DESC, w LIMIT 256),
        |mapped AS (SELECT s.doc_id, s.pos,
        |                  CASE WHEN v.w IS NOT NULL THEN s.w ELSE '<unk>' END AS w
        |           FROM seq s LEFT JOIN vocab v ON s.w = v.w),
        |uni AS (SELECT w, CAST(count(*) AS BIGINT) AS cu FROM mapped GROUP BY 1),
        |tot AS (SELECT CAST(sum(cu) AS BIGINT) AS n_corpus,
        |               CAST(count(*) + 1 AS BIGINT) AS v_eff FROM uni),
        |trans AS (SELECT doc_id, pos,
        |                 lag(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w1, w AS w2
        |          FROM mapped QUALIFY w1 IS NOT NULL),
        |bi AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS cb FROM trans GROUP BY 1, 2
        |       ORDER BY cb DESC, w1, w2 LIMIT 4096),
        |scored AS (
        |  SELECT t.doc_id, t.pos,
        |         ln(0.7 * COALESCE(b.cb, 0) / u1.cu
        |            + (1.0 - 0.7) * (u2.cu + 1.0) / (tot.n_corpus + tot.v_eff)) AS lp
        |  FROM trans t
        |  LEFT JOIN bi b ON t.w1 = b.w1 AND t.w2 = b.w2
        |  JOIN uni u1 ON t.w1 = u1.w
        |  JOIN uni u2 ON t.w2 = u2.w, tot)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_trans,
        |       round(exp(-list_sum(list(lp ORDER BY pos)) / count(*)), 6) AS ppl
        |FROM scored GROUP BY doc_id ORDER BY ppl DESC, doc_id LIMIT 25""") { (s, dir) =>
      graft.operators.LanguageModel.docPerplexity(Tables.documents(s, dir))
        .orderBy(col("ppl").desc, col("doc_id")).limit(25)
    }

    // Quantized LM deploy tier: the persisted count-table LM is
    // quantized to fixed-point interpolated log-probs (floor(lp·2^9) —
    // the KenLM deploy trick: score time is table lookups + one
    // multiply, no division/interpolation arithmetic) and the WHOLE
    // corpus is scored against both tiers. The gate bounds the error:
    // floor can only lower each ln-prob by < 2^-9, so quantized
    // perplexity must sit in [ppl·(1−ε), ppl·exp(2^-9)+ε]. DuckDB
    // pins the scored-doc count and asserts the bound held.
    register("q_lm_quantized",
      """SELECT CAST(count(*) AS BIGINT) AS n_docs, TRUE AS within_bound
        |FROM (SELECT doc_id,
        |             string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ') AS tk
        |      FROM documents) t
        |WHERE len(tk) >= 2""") { (s, dir) =>
      val root = lmArtifactRoot(s, dir)
      val docs = Tables.documents(s, dir)
      val full = graft.operators.LanguageModel.perplexityWithModel(docs, s"$root/full")
        .select(col("doc_id"), col("ppl"))
      val q = graft.operators.LanguageModel.perplexityWithQuantizedModel(docs, s"$root/q")
        .select(col("doc_id"), col("ppl").as("ppl_q"))
      full.join(q.hint("shuffle_hash"), Seq("doc_id"))
        .withColumn("ratio", col("ppl_q") / col("ppl"))
        .agg(count(lit(1)).as("n_docs"),
          // coalesce: over zero scored docs max/min are NULL and the
          // bound must hold VACUOUSLY (the oracle's constant TRUE)
          coalesce(
            max(col("ratio")) <= math.exp(math.pow(2.0, -9)) + 1e-4
              && min(col("ratio")) >= 1.0 - 1e-4,
            lit(true)).as("within_bound"))
    }

    // Artifact-size telemetry for the two LM tiers — the observable
    // behind "the deploy ships the quantized tier". Table row counts
    // are oracle-exact (DuckDB re-derives the vocab/bigram table
    // sizes from the same construction); on-disk bytes are real FS
    // numbers folded into a sanity boolean (encodings are not
    // SQL-replayable).
    register("q_lm_artifact_stats",
      """WITH toks AS (
        |  SELECT doc_id, string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ') AS tk
        |  FROM documents),
        |seq AS (SELECT doc_id, i AS pos, tk[i] AS w
        |        FROM toks, unnest(range(1, len(tk)+1)) AS t(i)),
        |vocab AS (SELECT w FROM (SELECT w, count(*) AS n FROM seq GROUP BY 1) t
        |          ORDER BY n DESC, w LIMIT 256),
        |mapped AS (SELECT s.doc_id, s.pos,
        |                  CASE WHEN v.w IS NOT NULL THEN s.w ELSE '<unk>' END AS w
        |           FROM seq s LEFT JOIN vocab v ON s.w = v.w),
        |trans AS (SELECT doc_id, pos,
        |                 lag(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w1, w AS w2
        |          FROM mapped QUALIFY w1 IS NOT NULL)
        |SELECT CAST(least(4096, (SELECT count(*) FROM (SELECT DISTINCT w1, w2 FROM trans) b)) AS BIGINT) AS bi_rows,
        |       CAST(least(4096, (SELECT count(*) FROM (SELECT DISTINCT w1, w2 FROM trans) b)) AS BIGINT) AS qbi_rows,
        |       CAST((SELECT count(DISTINCT w) FROM mapped)
        |            + (CASE WHEN (SELECT count(*) FROM mapped WHERE w = '<unk>') > 0
        |               THEN 0 ELSE 1 END) AS BIGINT) AS quni_rows,
        |       TRUE AS bytes_ok""") { (s, dir) =>
      val root = lmArtifactRoot(s, dir)
      graft.operators.LanguageModel.modelSizeStats(s, s"$root/full", s"$root/q")
        .select(col("bi_rows"), col("qbi_rows"), col("quni_rows"),
          (col("full_bytes") > 0 && col("q_bytes") > 0
            && col("byte_ratio") > 0.0 && col("byte_ratio") <= 1.5).as("bytes_ok"))
    }

    // ---- DSIR importance resampling (operators/ImportanceSampling) ----
    // Select raw docs whose hashed-ngram profile matches a target
    // corpus (here: the English slice). Weights are smoothed
    // log-likelihood ratios over 256 md5 buckets; q_dsir_sample is the
    // derandomized Gumbel-top-k (sampling w/o replacement ∝ exp(w)).
    val dsirCtes =
      """WITH toks AS (
        |  SELECT doc_id, lang,
        |         string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' ') AS tk
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id, lang, tk[i] AS g FROM toks, unnest(range(1, len(tk)+1)) AS t(i)
        |  UNION ALL
        |  SELECT doc_id, lang, tk[i] || ' ' || tk[i+1] AS g
        |  FROM toks, unnest(range(1, len(tk))) AS u(i)),
        |hashed AS (
        |  SELECT doc_id, lang,
        |         CAST(concat('0x', substring(md5(g), 1, 15)) AS BIGINT) % 256 AS b
        |  FROM grams),
        |tgt AS (SELECT b, count(*) AS tc FROM hashed WHERE lang = 'en' GROUP BY 1),
        |rawb AS (SELECT b, count(*) AS rc FROM hashed GROUP BY 1),
        |tot AS (SELECT (SELECT CAST(sum(tc) AS BIGINT) FROM tgt) AS tt,
        |               (SELECT CAST(sum(rc) AS BIGINT) FROM rawb) AS rt),
        |ratio AS (
        |  SELECT rawb.b,
        |         ln((COALESCE(tgt.tc, 0) + 1.0) / (tot.tt + 256.0)) -
        |         ln((rawb.rc + 1.0) / (tot.rt + 256.0)) AS lr
        |  FROM rawb LEFT JOIN tgt ON rawb.b = tgt.b, tot),
        |docb AS (SELECT doc_id, b, count(*) AS c FROM hashed GROUP BY 1, 2),
        |docw AS (
        |  SELECT docb.doc_id, round(list_sum(list(docb.c * r.lr ORDER BY docb.b)), 6) AS w
        |  FROM docb JOIN ratio r ON docb.b = r.b GROUP BY 1)""".stripMargin

    register("q_dsir_weights",
      s"""$dsirCtes
         |SELECT doc_id, w FROM docw ORDER BY w DESC, doc_id LIMIT 25""") { (s, dir) =>
      val docs = docsFanned(s, dir, "doc_id", "text", "lang")
      ImportanceSampling.weights(docs, docs.filter(col("lang") === "en"), 256)
        .orderBy(col("w").desc, col("doc_id")).limit(25)
    }

    register("q_dsir_sample",
      s"""$dsirCtes
         |SELECT doc_id, w,
         |       round(w - ln(-ln((CAST(concat('0x', substring(md5('g:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) + 0.5)
         |                        / 1152921504606846976.0)), 6) AS key
         |FROM docw ORDER BY key DESC, doc_id LIMIT 25""") { (s, dir) =>
      val docs = docsFanned(s, dir, "doc_id", "text", "lang")
      val w = ImportanceSampling.weights(docs, docs.filter(col("lang") === "en"), 256)
      ImportanceSampling.gumbelTopK(w, 25).select("doc_id", "w", "key")
    }

    // Refit telemetry for the frozen DSIR boundary: PSI between the
    // target's bucket distribution and the current raw corpus's
    // (<0.1 stable, >0.25 refit) — the when-to-refit signal that
    // keeps a frozen selection model honest, same design as
    // q_ivf_cell_stats.
    register("q_dsir_drift",
      s"""$dsirCtes,
         |tot2 AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM tgt) AS tn,
         |                (SELECT CAST(count(*) AS BIGINT) FROM rawb) AS rn),
         |j AS (SELECT COALESCE(t.b, r.b) AS b, COALESCE(t.tc, 0) AS tc, COALESCE(r.rc, 0) AS rc
         |      FROM tgt t FULL OUTER JOIN rawb r ON t.b = r.b),
         |terms AS (SELECT j.b,
         |                 ((j.tc + 1.0)/(tot.tt + 256.0) - (j.rc + 1.0)/(tot.rt + 256.0))
         |                 * ln(((j.tc + 1.0)/(tot.tt + 256.0)) / ((j.rc + 1.0)/(tot.rt + 256.0))) AS term
         |          FROM j, tot)
         |SELECT round(list_sum(list(term ORDER BY b))
         |             + (256 - count(*)) * ((1.0/(tt + 256.0)) - (1.0/(rt + 256.0)))
         |               * ln((1.0/(tt + 256.0)) / (1.0/(rt + 256.0))), 6) AS psi,
         |       (SELECT tn FROM tot2) AS n_target_buckets,
         |       (SELECT rn FROM tot2) AS n_raw_buckets
         |FROM terms, tot GROUP BY tt, rt""") { (s, dir) =>
      val docs = docsFanned(s, dir, "doc_id", "text", "lang")
      ImportanceSampling.bucketDrift(docs.filter(col("lang") === "en"), docs, 256)
    }

    // Encode the corpus with the freshly learned merges: map-only
    // chain of literal replaces (fully codegen'd — the 100 TB encode
    // pass), fingerprinted per doc so one wrong merge application
    // anywhere in any document shifts the hash.
    register("q_bpe_encode",
      BpeTrainer.encodeOracleSql("documents", 8)) { (s, dir) =>
      // encode off the PERSISTED tokenizer artifact (learned once per
      // JVM+dir, loaded per execution) — the production lifecycle,
      // and the oracle re-learns from scratch so artifact corruption
      // or a stale merge list fails the hash gate
      val merges = BpeTrainer.loadMerges(s, bpeMergesRoot(s, dir))
      BpeTrainer.encode(Tables.documents(s, dir), merges)
        .select(col("doc_id"),
          BpeTrainer.tokenCount(col("enc")).cast("long").as("n_bpe"),
          md5(col("enc")).as("fp"))
        .orderBy("doc_id")
    }

    // Post-merge vocabulary census: the tokenizer's symbol table after
    // the 8 learned merges (the artifact a loader ships beside the
    // merge rules). Oracle replays the full learn loop then counts
    // symbols over the final census — token-weighted, top-30.
    register("q_bpe_vocab",
      BpeTrainer.vocabOracleSql("documents", 8, 30)) { (s, dir) =>
      val merges = BpeTrainer.loadMerges(s, bpeMergesRoot(s, dir))
      BpeTrainer.vocab(Tables.documents(s, dir), merges)
        .orderBy(col("n").desc, col("sym")).limit(30)
    }
  }
}
