package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.VersionedRoot

/** Similarity search over an embedding column (`Array[Float]`).
  *
  * Two paths, mirroring a production ANN stack:
  *  - `bruteTopK`: exact cosine top-k for a SMALL query set — the query
  *    side is broadcast, so the "cross join" is a single linear scan of
  *    the corpus per partition (no shuffle of the big side). This is the
  *    correctness baseline and is how you'd score 10 probes against
  *    100 TB anyway.
  *  - `lshTopK`: random-hyperplane LSH — corpus and queries are hashed
  *    into sign-pattern buckets (per-row, no shuffle), candidates come
  *    from an equi-join on bucket keys, and only candidates are scored.
  *    Sub-linear reads at scale; recall measured against brute force in
  *    SimilaritySpec.
  *
  * All arithmetic is done in double after an exact float→double widen,
  * with a fixed left-to-right summation order (aggregate HOF), so
  * results are deterministic and oracle-comparable.
  */
object Similarity {

  /** Cosine similarity of two double arrays, sequential sum order:
    * the native codegen'd [[graft.plans.CosineSimilarity]] (one fused
    * loop, no allocation), accumulating left-to-right in double. */
  private def cosine(a: Column, b: Column): Column = call_function("graft_cosine", a, b)

  private def widened(df: DataFrame): DataFrame =
    df.withColumn("emb", transform(col("embedding"), x => x.cast("double")))

  /** DETERMINISTIC within-batch vec_id dedup for the index append
    * paths: a batch carrying one id twice with DIFFERENT embeddings
    * must persist the same survivor on every retry (dropDuplicates
    * keeps an arbitrary row, so a crash-replayed append could index a
    * different vector than the original run — breaking byte-stable
    * replay). Survivor = max full-row fingerprint, the
    * Sinks.jdbcUpsert convention. Keeps whatever columns `df` has
    * beyond (vec_id, emb) out of scope: index appends only ever
    * consume those two. */
  private def dedupVecIds(df: DataFrame): DataFrame =
    df.groupBy(col("vec_id"))
      .agg(max_by(col("emb"), xxhash64(col("vec_id"), col("emb"))).as("emb"))

  /** Probe sides are broadcast by contract (queries ≪ corpus), but the
    * hint was unconditional — a caller handing in a huge query batch
    * would OOM every executor at once. Guard: count up to `maxRows + 1`
    * QUERIES on the raw pre-explode input (LIMIT stops the scan early,
    * so the check is O(maxRows) however large the batch, and it never
    * re-evaluates the exploded signature plan) and drop the hint
    * beyond it, letting the planner shuffle both sides instead. The
    * cap is therefore in actual query vectors for every method — LSH /
    * IVF explosion factors (×nTables, ×nProbe) don't shrink it. */
  private[operators] val defaultMaxBroadcastProbes = 10000
  private def probeSide(probes: DataFrame, rawQueries: DataFrame, maxRows: Int): DataFrame =
    if (rawQueries.limit(maxRows + 1).count() <= maxRows) broadcast(probes) else probes

  /** Exact top-k neighbors of each query vector (queries ≪ corpus). */
  def bruteTopK(embeddings: DataFrame, queries: DataFrame, k: Int,
                maxBroadcastProbes: Int = defaultMaxBroadcastProbes): DataFrame = {
    val corpus = widened(embeddings).select(col("vec_id").as("n_id"), col("emb").as("n_emb"))
    val probes = widened(queries).select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
    val scored = corpus
      .join(probeSide(probes, queries, maxBroadcastProbes), col("q_id") =!= col("n_id"))
      .withColumn("cos", round(cosine(col("q_emb"), col("n_emb")), 6))
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id"))
    scored
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("n_id"), col("cos"), col("rnk").cast("long").as("rnk"))
  }

  /** Deterministic Rademacher (±1) hyperplanes: nPlanes × dim, seed 42.
    * ±1 components make the plane·vector dot a signed subset sum that
    * any SQL engine reproduces exactly from the same literal arrays —
    * which is what lets the LSH bucketing itself be oracle-checked
    * (sign-pattern distribution properties match Gaussian planes for
    * LSH purposes: P[sign differs] grows with the angle). */
  private[graft] def hyperplanes(nPlanes: Int, dim: Int): Array[Array[Double]] = {
    val rng = new scala.util.Random(42)
    Array.fill(nPlanes)(Array.fill(dim)(if (rng.nextBoolean()) 1.0 else -1.0))
  }

  /** LSH bucket keys "t:sig" of a double-array column: per table, each
    * bit is the sign of the ±1-plane dot product. The 8×8 shape runs
    * the fused native expression (one pass); other shapes take the
    * interpreted zip_with+aggregate walks below — bit-identical,
    * TextSignaturesSpec. */
  private[graft] def lshBuckets(emb: Column, nTables: Int, bitsPerTable: Int): Column = {
    if (nTables == 8 && bitsPerTable == 8)
      return call_function("graft_lsh_buckets", emb)
    val planes = hyperplanes(nTables * bitsPerTable, 64)
    val tables = (0 until nTables).map { t =>
      val sig = (0 until bitsPerTable).map { b =>
        val plane = planes(t * bitsPerTable + b)
        val dot = aggregate(
          zip_with(emb, typedLit(plane.toSeq), (x, s) => x * s),
          lit(0.0), (acc, x) => acc + x)
        when(dot > 0, lit(1 << b)).otherwise(lit(0))
      }.reduce(_ + _)
      concat_ws(":", lit(t), sig)
    }
    array(tables: _*)
  }

  /** LSH-bucketed approximate top-k: multi-table random-hyperplane
    * signatures; candidates share a full signature in any table. */
  def lshTopK(embeddings: DataFrame, queries: DataFrame, k: Int,
              nTables: Int = 8, bitsPerTable: Int = 8,
              maxBroadcastProbes: Int = defaultMaxBroadcastProbes): DataFrame = {
    val corpus = widened(embeddings)
      .select(col("vec_id").as("n_id"), col("emb").as("n_emb"),
        explode(lshBuckets(col("emb"), nTables, bitsPerTable)).as("bucket"))
    val probes = widened(queries)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"),
        explode(lshBuckets(col("emb"), nTables, bitsPerTable)).as("bucket"))
    val candidates = corpus
      .join(probeSide(probes, queries, maxBroadcastProbes), Seq("bucket"))
      .filter(col("q_id") =!= col("n_id"))
      .select("q_id", "q_emb", "n_id", "n_emb")
      .dropDuplicates("q_id", "n_id")
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id"))
    candidates
      .withColumn("cos", round(cosine(col("q_emb"), col("n_emb")), 6))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("n_id"), col("cos"), col("rnk").cast("long").as("rnk"))
  }

  /** IVF-style ANN: coarse-quantize the corpus with KMeans (the
    * inverted-file index), then probe each query against only the
    * `nProbe` nearest cluster lists. The index build is one ML fit; a
    * probe reads corpus_rows × nProbe / nCells — the classic IVF
    * read-reduction. Deterministic (fixed seed). */
  def ivfTopK(embeddings: DataFrame, queries: DataFrame, k: Int,
              nCells: Int = 16, nProbe: Int = 4,
              maxBroadcastProbes: Int = defaultMaxBroadcastProbes): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val widenedCorpus = widened(embeddings)
      .withColumn("fv", array_to_vector(col("emb")))
    val km = new KMeans().setK(nCells).setSeed(42)
      .setFeaturesCol("fv").setPredictionCol("cell")
      .fit(widenedCorpus)
    val corpus = km.transform(widenedCorpus)
      .select(col("vec_id").as("n_id"), col("emb").as("n_emb"), col("cell"))
    // nProbe nearest centroids per query (centroid list is tiny: driver math)
    val probeCellsUdf = nearestCellsUdf(km.clusterCenters.map(_.toArray), nProbe)
    val probes = widened(queries)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"),
        explode(probeCellsUdf(col("emb"))).as("cell"))
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id"))
    corpus.join(probeSide(probes, queries, maxBroadcastProbes), Seq("cell"))
      .filter(col("q_id") =!= col("n_id"))
      .dropDuplicates("q_id", "n_id")
      .withColumn("cos", round(cosine(col("q_emb"), col("n_emb")), 6))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("n_id"), col("cos"), col("rnk").cast("long").as("rnk"))
  }

  /** Persist an IVF index to `indexPath`: tiny `centroids` table
    * (cell id + centroid vector) plus the inverted file itself —
    * corpus vectors written PARTITIONED BY cell. Build once (one
    * KMeans fit + one co-partitioned write), then every
    * [[ivfTopKIndexed]] probe reads only its nProbe cell partitions:
    * the IVF read-reduction made physical as partition pruning, which
    * is the shape that matters at 100 TB — a probe touches
    * nProbe/nCells of the corpus files, not the table. The tables land
    * in a `v_<n>` version directory published through
    * [[graft.sources.VersionedRoot]] (`v_1` on a fresh path), the same
    * protocol every later [[rebuildIvfIndex]] uses. */
  def buildIvfIndex(embeddings: DataFrame, indexPath: String, nCells: Int = 16): Unit = {
    val spark = embeddings.sparkSession
    publishVersion(spark, indexPath, VersionedRoot.resolve(spark, indexPath, "IVF index"))(
      writeIvfTables(widened(embeddings).select(col("vec_id"), col("emb")), _, nCells))
  }

  /** The index-build core shared by [[buildIvfIndex]] and
    * [[rebuildIvfIndex]]: one seeded KMeans fit, the tiny centroid
    * table, the cell-partitioned inverted file, and meta WRITTEN LAST —
    * a version directory is only eligible for serving once its meta
    * exists, which is what makes a crashed (re)build invisible. `base`
    * is already (vec_id, emb-double). */
  private def writeIvfTables(base: DataFrame, root: String, nCells: Int): Unit = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val spark = base.sparkSession
    import spark.implicits._
    val widenedCorpus = base.withColumn("fv", array_to_vector(col("emb")))
    val km = new KMeans().setK(nCells).setSeed(ivfSeed)
      .setFeaturesCol("fv").setPredictionCol("cell")
      .fit(widenedCorpus)
    km.clusterCenters.zipWithIndex
      .map { case (c, i) => (i, c.toArray) }.toSeq
      .toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$root/centroids")
    km.transform(widenedCorpus)
      .select(col("vec_id"), col("emb"), col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$root/inverted")
    graft.sources.IndexMeta.write(spark, s"$root/meta.json",
      Seq("nCells" -> nCells.toLong, "seed" -> ivfSeed,
        "dim" -> km.clusterCenters.head.size.toLong))
  }

  private val ivfSeed = 42L

  /** The SERVING version dir of an IVF/IVFPQ index
    * ([[graft.sources.VersionedRoot.resolve]]). Probes, appends,
    * compaction and telemetry all resolve through here, so a rebuild's
    * pointer swap retargets every consumer atomically while readers
    * that already resolved keep their old (still on-disk) version. A
    * path that was never built fails loudly. */
  private def servedRoot(spark: SparkSession, indexPath: String, what: String): String =
    VersionedRoot.resolve(spark, indexPath, what).getOrElse(
      throw new IllegalArgumentException(s"no $what at $indexPath — build the index first"))

  /** Write a complete new version of the index at `indexPath` with
    * `write` (given the new version dir) and publish it: the
    * `CURRENT` swap plus GC keyed on `servedBefore`, the version the
    * caller resolved before writing ([[graft.sources.VersionedRoot]]). */
  private def publishVersion(spark: SparkSession, indexPath: String,
                             servedBefore: Option[String])(write: String => Unit): Unit = {
    val newName = VersionedRoot.nextVersion(spark, indexPath)
    write(s"$indexPath/$newName")
    VersionedRoot.publish(spark, indexPath, newName, servedBefore)
  }

  /** Centroid refresh — the ACTING half of the drift telemetry
    * ([[ivfCellStats]] says WHEN; this is the rebuild): re-cluster the
    * currently indexed corpus with a fresh seeded KMeans fit, write a
    * complete NEW version directory (centroids + re-assigned inverted
    * file + meta), and swap the `CURRENT` pointer. The swap is the
    * only mutation the serving path can observe: a probe resolves
    * either the old version or the new one, never a half-written mix,
    * and the previous version stays on disk so probes that resolved
    * before the swap finish against intact files. GC keeps exactly
    * {new version, the version ACTUALLY served before the swap} —
    * keyed off the resolved old root, NOT off version numbering,
    * because a crashed rebuild can leave an incomplete v_k with a
    * HIGHER number than the serving version. Single-writer, like every
    * persisted artifact here. */
  def rebuildIvfIndex(spark: SparkSession, indexPath: String): Unit = {
    val oldRoot = servedRoot(spark, indexPath, "IVF index")
    val meta = graft.sources.IndexMeta.read(spark, s"$oldRoot/meta.json", "IVF index")
    val nCells = meta.getOrElse("nCells",
      sys.error(s"IVF index meta at $oldRoot lacks nCells")).toInt
    val corpus = spark.read.parquet(s"$oldRoot/inverted").select(col("vec_id"), col("emb"))
    publishVersion(spark, indexPath, Some(oldRoot))(writeIvfTables(corpus, _, nCells))
  }

  /** IVF parameter fingerprint beside the index tables (same
    * [[graft.sources.IndexMeta]] format as the LSH dedup index).
    * `dim` is the load-bearing field: appending or probing with a
    * different embedding dimension would otherwise silently compute
    * truncated distances and degrade recall with no error. Returns the
    * stored build-time dim. */
  private def checkIvfMeta(spark: SparkSession, root: String): Int =
    graft.sources.IndexMeta.read(spark, s"$root/meta.json", "IVF index")
      .getOrElse("dim", sys.error(s"IVF index meta at $root lacks dim"))
      .toInt

  /** Nearest-`nProbe` cells by squared Euclidean against the (tiny,
    * driver-held) centroid array — with nProbe = 1 this is exactly
    * KMeans cell assignment, shared by the probe and the append path
    * so an appended vector lands in the cell a probe will search.
    * Rejects dim-mismatched input vectors loudly: a truncated
    * distance loop would instead assign wrong cells / probe wrong
    * lists and quietly destroy recall. */
  private def nearestCellsUdf(centers: Array[Array[Double]], nProbe: Int) = {
    val dim = centers.head.length
    udf((emb: Seq[Double]) => {
      val v = emb.toArray
      require(v.length == dim,
        s"embedding dim ${v.length} does not match the index's centroid dim $dim")
      centers.zipWithIndex.map { case (c, i) =>
        var d = 0.0; var j = 0
        while (j < dim) { val t = c(j) - v(j); d += t * t; j += 1 }
        (d, i)
      }.sortBy(_._1).take(nProbe).map(_._2)
    })
  }

  private def readCentroids(spark: SparkSession, indexPath: String): Array[Array[Double]] = {
    import spark.implicits._
    spark.read.parquet(s"$indexPath/centroids")
      .as[(Int, Array[Double])].collect().sortBy(_._1).map(_._2)
  }

  /** Append new vectors to a persisted IVF index: assign each to its
    * nearest EXISTING centroid (centroids are not retrained — the
    * standard IVF append; cell-balance drift is what periodic
    * [[rebuildIvfIndex]] runs repair) and append into that cell's
    * partition. Already-indexed vec_ids are anti-joined out first
    * (the id column only — parquet pruning), so a crash-retried
    * append never duplicates a vector: same replay contract as the
    * LSH index. Validates the index's meta fingerprint first — an
    * append with a different embedding dim fails loudly instead of
    * silently truncating the cell-assignment distances. Within-batch
    * duplicate vec_ids collapse to one row (the anti-join only
    * guards against ids already ON DISK), and the batch is pinned
    * with localCheckpoint so the append write cannot re-plan over the
    * same `inverted` table its anti-join reads. */
  def appendToIvfIndex(embeddings: DataFrame, indexPath: String): Unit = {
    val spark = embeddings.sparkSession
    val root = servedRoot(spark, indexPath, "IVF index")
    val metaDim = checkIvfMeta(spark, root)
    val centers = readCentroids(spark, root)
    require(centers.head.length == metaDim,
      s"corrupt IVF index at $root: centroid dim ${centers.head.length} != meta dim $metaDim")
    val indexed = spark.read.parquet(s"$root/inverted").select(col("vec_id"))
    val fresh = widened(embeddings)
      .transform(dedupVecIds)
      .join(indexed.hint("shuffle_hash"), Seq("vec_id"), "left_anti")
      .withColumn("cell", nearestCellsUdf(centers, 1)(col("emb")).getItem(0))
      .select(col("vec_id"), col("emb"), col("cell"))
      .localCheckpoint()
    fresh.write.mode("append").partitionBy("cell").parquet(s"$root/inverted")
  }

  /** ANN top-k against a persisted IVF index: centroids are a tiny
    * driver-side read; the inverted file is scanned with
    * `cell IN (probed cells)` — a partition-pruned read of only the
    * probed lists. Results are identical to [[ivfTopK]] built with the
    * same seed (SimilaritySpec). */
  def ivfTopKIndexed(spark: SparkSession, indexPath: String, queries: DataFrame,
                     k: Int, nProbe: Int = 4,
                     maxBroadcastProbes: Int = defaultMaxBroadcastProbes): DataFrame = {
    import spark.implicits._
    val root = servedRoot(spark, indexPath, "IVF index")
    checkIvfMeta(spark, root) // loud failure on unbuilt/dim-mismatched index
    val centers = readCentroids(spark, root)
    val probeCellsUdf = nearestCellsUdf(centers, nProbe)
    val probes = widened(queries)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"),
        explode(probeCellsUdf(col("emb"))).as("cell"))
    val probedCells = probes.select("cell").distinct().as[Int].collect()
    val corpus = spark.read.parquet(s"$root/inverted")
      .filter(col("cell").isInCollection(probedCells.toSeq)) // partition-pruned
      .select(col("vec_id").as("n_id"), col("emb").as("n_emb"), col("cell"))
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id"))
    corpus.join(probeSide(probes, queries, maxBroadcastProbes), Seq("cell"))
      .filter(col("q_id") =!= col("n_id"))
      .dropDuplicates("q_id", "n_id")
      .withColumn("cos", round(cosine(col("q_emb"), col("n_emb")), 6))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col("n_id"), col("cos"), col("rnk").cast("long").as("rnk"))
  }

  /** Compact the persisted IVF index's append-accumulated small files —
    * operational parity with [[Dedup.compactLshIndex]]: every
    * [[appendToIvfIndex]] batch adds part files into the touched cell
    * partitions, and probe cost at scale grows with FILE count on top
    * of list size. Crash-safe staged rewrite of the `inverted` table
    * that PRESERVES the `cell=` partition layout (the partition pruning
    * IS the index); contents are row-identical and `meta.json` /
    * `centroids` are untouched (centroids are one coalesced file by
    * construction — nothing to compact), so probes before and after
    * agree exactly (SimilaritySpec). */
  def compactIvfIndex(spark: SparkSession, indexPath: String,
                      targetFileBytes: Long = 128L * 1024 * 1024): Unit = {
    val root = servedRoot(spark, indexPath, "IVF index")
    checkIvfMeta(spark, root) // only compact real IVF indexes, loudly
    graft.sources.Sinks.compactPartitioned(
      spark, s"$root/inverted", "cell", targetFileBytes)
  }

  /** Cell-balance telemetry for a persisted IVF index — the
    * observable behind the "periodic rebuilds repair cell-balance
    * drift" contract in [[appendToIvfIndex]]: appends assign to
    * FROZEN centroids, so a drifting ingest distribution piles
    * vectors into a few cells and probe cost (≈ rows × nProbe /
    * nCells on a balanced index) degrades toward a full scan of the
    * hot lists. This is the IVF counterpart of
    * [[Dedup.compactLshIndex]]'s operational-debt story: the stat
    * that tells an operator WHEN to rebuild.
    *
    * One grouped pass over the inverted file's partition column only
    * (vec_id + the `cell` partition value — embeddings are pruned);
    * the built cell count comes from the meta fingerprint so empty
    * cells are visible in the imbalance.
    *
    * Output: one row — total_vecs, n_cells (built), cells_used,
    * max_cell, min_cell (of used cells), avg_cell (over ALL built
    * cells), imbalance = max_cell / avg_cell (1.0 = perfectly
    * balanced; empty cells push it up). */
  def ivfCellStats(spark: SparkSession, indexPath: String): DataFrame = {
    val root = servedRoot(spark, indexPath, "IVF index")
    val nCells = graft.sources.IndexMeta
      .read(spark, s"$root/meta.json", "IVF index")
      .getOrElse("nCells", sys.error(s"IVF index meta at $root lacks nCells"))
    spark.read.parquet(s"$root/inverted")
      .groupBy(col("cell")).agg(count(lit(1)).as("n"))
      .agg(
        sum(col("n")).as("total_vecs"),
        lit(nCells).as("n_cells"),
        count(lit(1)).as("cells_used"),
        max(col("n")).as("max_cell"),
        min(col("n")).as("min_cell"),
        round(sum(col("n")) / lit(nCells), 2).as("avg_cell"),
        round(max(col("n")) / (sum(col("n")) / lit(nCells)), 4).as("imbalance"))
  }

  /** SemDeDup-style cluster-then-dedup (Abbas et al. 2023): assign
    * every vector to its nearest of `k` centroids, then search for
    * near-duplicate pairs only WITHIN each cluster. Work drops from
    * N² to N·k (assignment, against broadcast centroids — a map-only
    * scan) plus Σ n_c² (within-cluster pairs, shuffled by cell) — the
    * shape that makes embedding dedup feasible on a billion-vector
    * corpus, where clusters bound the quadratic term.
    *
    * Centroids are picked deterministically (the `k` vectors with the
    * smallest md5 of their id — a uniform pseudo-random sample any SQL
    * engine replays; see [[Sampling]]) rather than by iterative KMeans:
    * the assignment and pair results are then value-exact and
    * oracle-checkable, and on near-uniform data a random net loses
    * little recall vs trained centroids. Assignment folds per vector
    * via a map-side-combining `max_by` (cos desc, centroid id asc —
    * round-6 cosine so ranking matches any engine's last bit), never a
    * window over the N·k cross product.
    */
  /** Deterministic nearest-centroid assignment over md5-sampled
    * centroids — the shared first half of [[clusterDedupPairs]], also
    * the TOPIC-CLUSTER labeler for cluster-balanced sampling
    * (q_topic_sample): every vector gets the cell of its max-cosine
    * centroid (round-6 cos desc, centroid id asc — a total order any
    * engine replays). Map-only against the broadcast k-row centroid
    * table; one mergeable max_by aggregation, never a window over the
    * N·k product. Output: (vec_id, cell, emb). */
  def assignClusters(embeddings: DataFrame, k: Int): DataFrame = {
    val base = widened(embeddings).select(col("vec_id"), col("emb"))
    val centroids = base
      .orderBy(md5(col("vec_id").cast("string")))
      .limit(k)
      .select(col("vec_id").as("cid"), col("emb").as("cemb"))
    base.crossJoin(broadcast(centroids))
      .withColumn("cos_c", round(cosine(col("emb"), col("cemb")), 6))
      .groupBy(col("vec_id"))
      .agg(
        max_by(col("cid"), struct(col("cos_c"), (-col("cid")).as("nc"))).as("cell"),
        first(col("emb")).as("emb"))
  }

  def clusterDedupPairs(embeddings: DataFrame, k: Int, threshold: Double): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val assigned = assignClusters(embeddings, k)
    // shuffle_hash: the cell-keyed self-join needs no sort order, and
    // letting size estimates pick sort-merge costs two sorts of the
    // whole assigned table
    assigned.as("a")
      .join(assigned.as("b").hint("shuffle_hash"),
        $"a.cell" === $"b.cell" && $"a.vec_id" < $"b.vec_id")
      .withColumn("cos", round(cosine($"a.emb", $"b.emb"), 6))
      .filter(col("cos") >= threshold)
      .select($"a.vec_id".as("vec_a"), $"b.vec_id".as("vec_b"),
        $"a.cell".as("cell"), col("cos"))
  }

  /** Product quantization (Jégou et al., PAMI 2011 — the faiss
    * workhorse): split each vector into `nSub` subvectors, quantize
    * each against its own small codebook, and search by ADC
    * (asymmetric distance: query subvector → codebook lookup tables).
    * Completes the ANN family: brute (exact), LSH (bucketed), IVF
    * (partitioned), PQ (compressed — 64 floats become `nSub` byte
    * codes, the 100 TB memory story).
    *
    * Codebooks are md5-sampled corpus vectors (same determinism
    * argument as [[clusterDedupPairs]]: a random net loses little vs
    * trained centroids on near-uniform data, and every code and every
    * ADC score becomes VALUE-exact and oracle-checkable — no KMeans
    * opacity, so unlike IVF this needs no separate recall-gate query
    * to be trusted, though recall is still spec-bounded).
    *
    * Scale shape: codebooks are `nCentroids` rows broadcast twice
    * (encode + probe LUTs); encoding is one broadcast join + one
    * mergeable argmin per (vector, subspace) — map-side combined,
    * never a window over the N×k product; search joins the CODES
    * (bytes, not floats) to the probe LUTs on (subspace, code) and
    * folds `nSub` terms per candidate in subspace order. Per-probe
    * top-k plans as WindowGroupLimit. */
  def pqTopK(corpus: DataFrame, probes: DataFrame, k: Int,
             nCentroids: Int = 16, nSub: Int = 8): DataFrame = {
    requirePqParams(nSub)
    val base = widened(corpus).select(col("vec_id"), col("emb"))
    val cents = pqCodebook(base, nCentroids)
    val codes = pqEncode(base, cents, nSub)
    pqScore(codes, pqLut(probes, cents, nSub), k)
  }

  private def requirePqParams(nSub: Int): Unit =
    require(nSub >= 1 && 64 % nSub == 0,
      s"nSub=$nSub must divide the 64-dim embedding exactly — a remainder " +
        "would silently drop trailing dimensions from every code and distance")

  /** md5-sampled codebook: (cid, cemb) — cid is the sampled vector's
    * id (the argmin tie-break key, shared by the in-memory and
    * persisted paths so both pick the same entry on equal distances). */
  private def pqCodebook(base: DataFrame, nCentroids: Int): DataFrame =
    base.orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
      .limit(nCentroids)
      .select(col("vec_id").as("cid"), col("emb").as("cemb"))

  /** TRAINED codebook — real PQ (Jégou et al. 2011 §III): independent
    * k-means per subspace, `iters` Lloyd rounds seeded from the
    * md5-sampled net (a deterministic init, so every run trains the
    * same book). Each round is one broadcast-join assignment (argmin
    * over the k-row centroid table — map-side combined, never a
    * window) and one per-(subspace, centroid, dim) mean — the
    * standard N·k/iter k-means cost, run ONCE at build time. Empty
    * cells keep their previous centroid (the k-means convention that
    * never loses codebook entries). Centroids are rounded to 6 dp per
    * round, so the trained values are stable enough to compare across
    * runs; the trained path is still registered rows-only (mean
    * accumulation order is engine-internal — the q_ann_ivf pattern)
    * and gated by q_ann_pq_trained_check's measured-improvement bound.
    *
    * Output keeps the (cid, cemb) contract of [[pqCodebook]] — entry
    * `cid`'s full 64-dim `cemb` is the concatenation of that entry's
    * per-subspace centroids, which is exactly how [[pqSubD2]] slices
    * it — so encode, LUT, probe, append and compaction are all shared
    * with the sampled path unchanged. */
  private[graft] def pqCodebookTrained(base: DataFrame, nCentroids: Int,
                                       nSub: Int, iters: Int): DataFrame = {
    val subDim = 64 / nSub
    val subvecs = pqWithSub(base, nSub)
      .select(col("vec_id"), col("s"), slice(col("emb"), col("s") * subDim + 1, lit(subDim)).as("sv"))
      .transform(Checkpoints.pin)
    val d2 = (a: Column, b: Column) =>
      aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0.0), (acc, x) => acc + x)
    var cents = pqWithSub(pqCodebook(base, nCentroids), nSub)
      .select(col("s"), col("cid"), slice(col("cemb"), col("s") * subDim + 1, lit(subDim)).as("cvec"))
      .transform(Checkpoints.pin)
    (1 to iters).foreach { _ =>
      val assigned = subvecs.join(broadcast(cents), Seq("s"))
        .withColumn("d2", round(d2(col("sv"), col("cvec")), 6))
        .groupBy(col("vec_id"), col("s"))
        .agg(min_by(col("cid"), struct(col("d2"), col("cid"))).as("cid"),
          first(col("sv")).as("sv"))
      val means = assigned
        .select(col("s"), col("cid"), posexplode(col("sv")).as(Seq("dim", "x")))
        .groupBy(col("s"), col("cid"), col("dim"))
        .agg(avg(col("x")).as("m"))
        .groupBy(col("s"), col("cid"))
        .agg(transform(sort_array(collect_list(struct(col("dim"), col("m")))),
          e => round(e.getField("m"), 6)).as("cvec"))
      cents = cents.select(col("s"), col("cid"), col("cvec").as("prev"))
        .join(means, Seq("s", "cid"), "left")
        .select(col("s"), col("cid"), coalesce(col("cvec"), col("prev")).as("cvec"))
        .transform(Checkpoints.pin)
    }
    cents.groupBy(col("cid"))
      .agg(flatten(transform(sort_array(collect_list(struct(col("s"), col("cvec")))),
        e => e.getField("cvec"))).as("cemb"))
  }

  /** [[buildPqIndex]] with a TRAINED codebook (per-subspace Lloyd
    * k-means, deterministic md5-sampled init) — same frozen-artifact
    * lifecycle and layout, so [[appendToPqIndex]]/[[pqTopKIndexed]]/
    * [[pqTopKReranked]]/[[compactPqIndex]] serve it unchanged. Meta
    * records the training (`trained`/`iters`) beside the split
    * fingerprint. Where most of PQ's accuracy lives: the trained book
    * adapts cell boundaries to the corpus distribution instead of
    * quantizing against 16 arbitrary corpus vectors — measured by
    * q_ann_pq_trained_check (recall@10 / nDCG@10 ≥ the sampled book's
    * on the same corpus) and SimilaritySpec's distortion bound. */
  def buildPqIndexTrained(corpus: DataFrame, indexPath: String,
                          nCentroids: Int = 16, nSub: Int = 8, iters: Int = 5): Unit = {
    requirePqParams(nSub)
    require(iters >= 1, "iters must be positive")
    val spark = corpus.sparkSession
    val base = widened(corpus).select(col("vec_id"), col("emb"))
    val cents = pqCodebookTrained(base, nCentroids, nSub, iters).localCheckpoint()
    cents.coalesce(1).write.mode("overwrite").parquet(s"$indexPath/codebook")
    pqPack(pqEncode(base, cents, nSub))
      .write.mode("overwrite").parquet(s"$indexPath/codes")
    graft.sources.IndexMeta.write(spark, s"$indexPath/meta.json",
      Seq("nCentroids" -> nCentroids.toLong, "nSub" -> nSub.toLong, "dim" -> 64L,
        "trained" -> 1L, "iters" -> iters.toLong))
  }

  /** Squared distance between the s-th subvectors, folded in dim order. */
  private def pqSubD2(a: Column, b: Column, s: Column, subDim: Int) = {
    val off = s * subDim
    aggregate(
      zip_with(slice(a, off + 1, lit(subDim)), slice(b, off + 1, lit(subDim)),
        (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, x) => acc + x)
  }

  private def pqWithSub(df: DataFrame, nSub: Int) =
    df.select(col("*"), explode(array((0 until nSub).map(s => lit(s)): _*)).as("s"))

  /** Codes: per (vector, subspace) the nearest codebook entry —
    * mergeable min_by argmin (d2 asc, cid asc), no window. */
  private def pqEncode(base: DataFrame, cents: DataFrame, nSub: Int): DataFrame =
    pqWithSub(base, nSub).crossJoin(broadcast(cents))
      .withColumn("d2", round(pqSubD2(col("emb"), col("cemb"), col("s"), 64 / nSub), 6))
      .groupBy(col("vec_id"), col("s"))
      .agg(min_by(col("cid"), struct(col("d2"), col("cid"))).as("code"))

  /** Pack a vector's nSub (s, code) rows into ONE row carrying the
    * code array in subspace order. This is the PERSISTED layout: a
    * parquet row either commits or doesn't, so every on-disk vec_id
    * carries ALL its subspace codes — a crashed append can never leave
    * a vector with a subset of its codes for the presence-keyed
    * anti-join heal to then skip forever (which would silently
    * underestimate its ADC distance in every probe). */
  private def pqPack(codes: DataFrame): DataFrame =
    codes.groupBy(col("vec_id"))
      .agg(transform(sort_array(collect_list(struct(col("s"), col("code")))),
        e => e.getField("code")).as("codes"))

  /** Unpack the persisted per-vector code arrays back to the
    * (vec_id, s, code) rows [[pqScore]] joins on; position IS the
    * subspace (pqPack sorts by s, and s is dense 0..nSub-1). */
  private def pqUnpack(packed: DataFrame): DataFrame =
    packed.select(col("vec_id"), posexplode(col("codes")).as(Seq("s", "code")))

  /** Probe lookup tables: distance from each query subvector to each
    * codebook entry — (q, s, cid) rows, tiny, broadcast by the caller. */
  private def pqLut(probes: DataFrame, cents: DataFrame, nSub: Int): DataFrame =
    pqWithSub(widened(probes).select(col("vec_id").as("q_id"), col("emb").as("qemb")), nSub)
      .crossJoin(broadcast(cents))
      .withColumn("d2", round(pqSubD2(col("qemb"), col("cemb"), col("s"), 64 / nSub), 6))
      .select(col("q_id"), col("s"), col("cid").as("code"), col("d2"))

  /** Shared ADC scoring tail: join the byte codes to the broadcast
    * probe LUTs on (subspace, code), fold the nSub terms per candidate
    * in subspace order, per-probe top-k as WindowGroupLimit. */
  private def pqScore(codes: DataFrame, lut: DataFrame, k: Int): DataFrame = {
    val byProbe = Window.partitionBy("q_id").orderBy(col("ad2"), col("n_id"))
    codes.join(broadcast(lut), Seq("s", "code"))
      .filter(col("vec_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(sort_array(collect_list(struct(col("s"), col("d2")))).as("ds"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        round(aggregate(col("ds"), lit(0.0),
          (acc, x) => acc + x.getField("d2")), 6).as("ad2"))
      .withColumn("rnk", row_number().over(byProbe).cast("long"))
      .filter(col("rnk") <= k)
  }

  /** Persist a PQ index: the `nCentroids`-row `codebook` table plus the
    * corpus CODES — `nSub` small integers per vector, which at 100 TB
    * ARE the index (the float corpus is never re-read or re-encoded at
    * probe time; 64 floats → nSub codes is the PQ compression story).
    * Build once (one broadcast-join encode pass over the corpus); every
    * [[pqTopKIndexed]] probe then computes its tiny LUTs against the
    * stored codebook and joins the stored codes — identical results to
    * [[pqTopK]] with the same parameters (SimilaritySpec pins it, and
    * q_ann_pq_indexed carries the full value-exact oracle). Same
    * frozen-artifact lifecycle as the LSH/IVF/postings/BPE families:
    * integrity meta beside the tables, append against the frozen
    * codebook, small-file compaction. */
  def buildPqIndex(corpus: DataFrame, indexPath: String,
                   nCentroids: Int = 16, nSub: Int = 8): Unit = {
    requirePqParams(nSub)
    val spark = corpus.sparkSession
    val base = widened(corpus).select(col("vec_id"), col("emb"))
    val cents = pqCodebook(base, nCentroids).localCheckpoint()
    cents.coalesce(1).write.mode("overwrite").parquet(s"$indexPath/codebook")
    pqPack(pqEncode(base, cents, nSub))
      .write.mode("overwrite").parquet(s"$indexPath/codes")
    graft.sources.IndexMeta.write(spark, s"$indexPath/meta.json",
      Seq("nCentroids" -> nCentroids.toLong, "nSub" -> nSub.toLong, "dim" -> 64L))
  }

  /** PQ parameter fingerprint guard (same [[graft.sources.IndexMeta]]
    * contract as the IVF/LSH indexes): probing or appending with a
    * different subspace split than build time would silently join codes
    * against mismatched LUT entries. Returns (nCentroids, nSub). */
  private def checkPqMeta(spark: SparkSession, indexPath: String): (Int, Int) = {
    val m = graft.sources.IndexMeta.read(spark, s"$indexPath/meta.json", "PQ index")
    def f(k: String) = m.getOrElse(k, sys.error(s"PQ index meta at $indexPath lacks $k")).toInt
    (f("nCentroids"), f("nSub"))
  }

  /** Append new vectors to a persisted PQ index: encode against the
    * FROZEN codebook (codebooks are not re-sampled — the standard PQ
    * append; quantization-error drift on a shifting distribution is
    * what periodic [[buildPqIndex]] rebuilds repair) and append the new
    * codes. Already-coded vec_ids are anti-joined out first (the id
    * column only — parquet pruning), so a crash-retried append never
    * duplicates codes; within-batch duplicate ids collapse to one row;
    * the batch is pinned with localCheckpoint so the append write
    * cannot re-plan over the `codes` table its anti-join reads.
    * Presence implies COMPLETENESS: codes persist one row per vec_id
    * carrying the whole nSub-code array ([[pqPack]]), so a partially
    * committed append can only leave whole vectors behind — never a
    * vector with a subset of its subspace codes that the anti-join
    * would then skip forever while [[pqScore]] silently summed fewer
    * d2 terms for it. */
  def appendToPqIndex(embeddings: DataFrame, indexPath: String): Unit = {
    val spark = embeddings.sparkSession
    val (_, nSub) = checkPqMeta(spark, indexPath)
    val cents = spark.read.parquet(s"$indexPath/codebook")
    val coded = spark.read.parquet(s"$indexPath/codes").select(col("vec_id")).distinct()
    val fresh = widened(embeddings).select(col("vec_id"), col("emb"))
      .transform(dedupVecIds)
      .join(coded.hint("shuffle_hash"), Seq("vec_id"), "left_anti")
    pqPack(pqEncode(fresh, cents, nSub))
      .localCheckpoint()
      .write.mode("append").parquet(s"$indexPath/codes")
  }

  /** Compact the persisted PQ index's append-accumulated small files —
    * operational parity with [[compactIvfIndex]]/[[Dedup.compactLshIndex]].
    * Crash-safe staged rewrite of the `codes` table; contents are
    * row-identical and `meta.json`/`codebook` are untouched (the
    * codebook is one coalesced file by construction), so probes before
    * and after agree exactly (SimilaritySpec). */
  def compactPqIndex(spark: SparkSession, indexPath: String,
                     targetFileBytes: Long = 128L * 1024 * 1024): Unit = {
    checkPqMeta(spark, indexPath) // only compact real PQ indexes, loudly
    graft.sources.Sinks.compact(spark, s"$indexPath/codes", targetFileBytes)
  }

  /** ADC top-k against a persisted PQ index: the codebook is a tiny
    * read (broadcast into the probe LUTs), the corpus contribution is
    * the stored CODES — integers, a fraction of the float corpus's
    * bytes — and the scoring tail is [[pqScore]], shared with
    * [[pqTopK]], so results off the artifact are value-identical to
    * the in-memory form over the same indexed corpus. */
  def pqTopKIndexed(spark: SparkSession, indexPath: String,
                    probes: DataFrame, k: Int): DataFrame = {
    val (_, nSub) = checkPqMeta(spark, indexPath)
    val cents = spark.read.parquet(s"$indexPath/codebook")
    val codes = pqUnpack(spark.read.parquet(s"$indexPath/codes"))
    pqScore(codes, pqLut(probes, cents, nSub), k)
  }

  /** Two-stage ANN serving: ADC shortlist off the PERSISTED PQ index,
    * then EXACT-cosine rerank of the shortlist against the full-
    * precision vectors — the production compressed-scan + rerank
    * shape (faiss's IndexPQ + refine). The corpus-scale work reads
    * only CODES; full vectors are fetched for `shortlist` candidates
    * per probe by an id join (the standard rerank fetch — at 100 TB
    * an id-keyed lookup against the vector store, here the corpus
    * table itself). Value-exact end to end: the ADC shortlist is the
    * oracle-replayable [[pqTopKIndexed]] and the rerank is the exact
    * round-6 cosine, so unlike IVF this two-stage path carries a full
    * DuckDB oracle (q_ann_pq_rerank), no recall gate needed. */
  def pqTopKReranked(spark: SparkSession, indexPath: String, corpus: DataFrame,
                     probes: DataFrame, k: Int, shortlist: Int = 50,
                     maxBroadcastProbes: Int = defaultMaxBroadcastProbes): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist must be ≥ k = $k")
    val cand = pqTopKIndexed(spark, indexPath, probes, shortlist)
      .select(col("q_id"), col("n_id"))
    val vecs = widened(corpus).select(col("vec_id").as("n_id"), col("emb").as("n_emb"))
    val probeVecs = widened(probes).select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id"))
    cand
      .join(vecs, Seq("n_id"))
      .join(probeSide(probeVecs, probes, maxBroadcastProbes), Seq("q_id"))
      .withColumn("cos", round(cosine(col("q_emb"), col("n_emb")), 6))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select("q_id", "n_id", "cos", "rnk")
  }

  /** Drift-triggered refresh — the closed loop over the telemetry:
    * read [[ivfCellStats]]'s imbalance (max cell / average over built
    * cells) and [[rebuildIvfIndex]] only when it exceeds
    * `maxImbalance`. Returns whether a rebuild ran. The operator's
    * cron job at 100 TB is exactly this call: cheap stats pass (reads
    * the partition column only) on every tick, the expensive re-fit
    * only when appends have actually skewed the cells. */
  def maybeRebuildIvfIndex(spark: SparkSession, indexPath: String,
                           maxImbalance: Double = 3.0): Boolean = {
    require(maxImbalance >= 1.0, "maxImbalance below 1 would rebuild on every tick")
    val imb = ivfCellStats(spark, indexPath)
      .select(col("imbalance")).collect().head.getDouble(0)
    val refresh = imb > maxImbalance
    if (refresh) rebuildIvfIndex(spark, indexPath)
    refresh
  }

  /** IVFPQ — the composed serving index (Jégou et al. 2011 §IV, the
    * faiss IVFPQ shape and THE billion-scale ANN workhorse): coarse
    * KMeans cells prune WHICH vectors a probe reads (the IVF half),
    * and inside each cell the vector is stored only as PQ codes of its
    * RESIDUAL against the cell centroid (the PQ half — residuals are
    * centered near zero, so the shared trained codebook spends its 16
    * entries per subspace on the part of the vector the cell didn't
    * already explain). A probe reads nProbe/nCells of the CODES — both
    * reductions compose: partition pruning × 64-float→nSub-int
    * compression.
    *
    * Artifact layout mirrors the other families: tiny `centroids` +
    * `codebook` tables, `codes` hive-partitioned by cell (per-vector-
    * atomic rows, the [[pqPack]] invariant), integrity meta. Append
    * assigns against the FROZEN centroids and encodes against the
    * FROZEN codebook (drift repaired by periodic rebuilds, as for
    * IVF); compaction preserves the cell layout. Rows-only at the
    * registry (KMeans + Lloyd internals aren't SQL-replayable) gated
    * by q_ann_ivfpq_check's measured recall bound — the q_ann_ivf
    * pattern. */
  def buildIvfPqIndex(embeddings: DataFrame, indexPath: String, nCells: Int = 16,
                      nCentroids: Int = 16, nSub: Int = 8, iters: Int = 5): Unit = {
    val spark = embeddings.sparkSession
    publishVersion(spark, indexPath, VersionedRoot.resolve(spark, indexPath, "IVFPQ index"))(
      writeIvfPqTables(widened(embeddings).select(col("vec_id"), col("emb")),
        _, nCells, nCentroids, nSub, iters))
  }

  /** The IVFPQ build core shared by [[buildIvfPqIndex]] and
    * [[rebuildIvfPqIndex]] — the same split
    * [[writeIvfTables]] has for the IVF family: coarse KMeans fit,
    * tiny centroid table, residual-space trained codebook,
    * cell-partitioned packed codes, and meta WRITTEN LAST so a
    * crashed (re)build is never eligible for serving. `base` is
    * already (vec_id, emb-double). */
  private def writeIvfPqTables(base: DataFrame, root: String, nCells: Int,
                               nCentroids: Int, nSub: Int, iters: Int): Unit = {
    requirePqParams(nSub)
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val spark = base.sparkSession
    import spark.implicits._
    val km = new KMeans().setK(nCells).setSeed(ivfSeed)
      .setFeaturesCol("fv").setPredictionCol("cell")
      .fit(base.withColumn("fv", array_to_vector(col("emb"))))
    km.clusterCenters.zipWithIndex
      .map { case (c, i) => (i, c.toArray) }.toSeq
      .toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$root/centroids")
    val residuals = ivfPqResiduals(spark, base, s"$root/centroids")
      .localCheckpoint()
    val cents = pqCodebookTrained(
      residuals.select(col("vec_id"), col("emb")), nCentroids, nSub, iters)
      .localCheckpoint()
    cents.coalesce(1).write.mode("overwrite").parquet(s"$root/codebook")
    pqPack(pqEncode(residuals.select(col("vec_id"), col("emb")), cents, nSub))
      .join(residuals.select(col("vec_id"), col("cell")), Seq("vec_id"))
      .write.mode("overwrite").partitionBy("cell").parquet(s"$root/codes")
    graft.sources.IndexMeta.write(spark, s"$root/meta.json",
      Seq("nCells" -> nCells.toLong, "nCentroids" -> nCentroids.toLong,
        "nSub" -> nSub.toLong, "dim" -> 64L, "seed" -> ivfSeed, "iters" -> iters.toLong))
  }

  /** Full refresh of an IVFPQ index — closes the drift loop the IVF
    * family already has ([[rebuildIvfIndex]]) for the composed index,
    * whose frozen coarse cells AND frozen residual codebook skew just
    * the same under streaming appends (r14 verdict #2): re-cluster the
    * cells, RETRAIN the residual codebook, re-encode every indexed
    * vector, all into a new `v_<n+1>` version directory behind the
    * same atomic CURRENT-pointer swap ([[graft.sources.VersionedRoot]]
    * — one observable mutation, incomplete versions never eligible,
    * the served version kept for in-flight readers, debris GC'd).
    *
    * Unlike IVF, the artifact CANNOT seed its own rebuild: PQ codes
    * are lossy, the original vectors are not recoverable from them.
    * `corpus` is therefore the authoritative vector store (the same
    * table [[ivfPqTopKReranked]] fetches full-precision vectors from)
    * and must cover every indexed id — a silent subset would DROP
    * vectors from the index, so coverage is checked loudly. Vectors in
    * `corpus` but not yet indexed are ignored (they belong to the next
    * append), keeping rebuild ≡ "the same index, re-quantized". */
  def rebuildIvfPqIndex(spark: SparkSession, indexPath: String, corpus: DataFrame): Unit = {
    val oldRoot = servedRoot(spark, indexPath, "IVFPQ index")
    val m = graft.sources.IndexMeta.read(spark, s"$oldRoot/meta.json", "IVFPQ index")
    def f(k: String) = m.getOrElse(k, sys.error(s"IVFPQ index meta at $oldRoot lacks $k")).toInt
    val indexed = spark.read.parquet(s"$oldRoot/codes").select(col("vec_id"))
    val base = widened(corpus).select(col("vec_id"), col("emb"))
      .transform(dedupVecIds)
      .join(indexed.hint("shuffle_hash"), Seq("vec_id"), "left_semi")
      .localCheckpoint()
    val nIndexed = indexed.distinct().count()
    val nCovered = base.count()
    require(nCovered == nIndexed,
      s"rebuildIvfPqIndex: corpus covers $nCovered of $nIndexed indexed vectors — " +
        "a rebuild from a partial vector store would silently drop the rest")
    publishVersion(spark, indexPath, Some(oldRoot))(writeIvfPqTables(base, _,
      f("nCells"), f("nCentroids"), f("nSub"), f("iters")))
  }

  /** Drift-triggered IVFPQ refresh — [[maybeRebuildIvfIndex]]'s twin
    * for the composed index: cheap cell-stats tick (reads the codes'
    * partition column only), the expensive re-cluster + codebook
    * retrain only past the imbalance bound. Returns whether a rebuild
    * ran. */
  def maybeRebuildIvfPqIndex(spark: SparkSession, indexPath: String, corpus: DataFrame,
                             maxImbalance: Double = 3.0): Boolean = {
    require(maxImbalance >= 1.0, "maxImbalance below 1 would rebuild on every tick")
    val imb = ivfPqCellStats(spark, indexPath)
      .select(col("imbalance")).collect().head.getDouble(0)
    val refresh = imb > maxImbalance
    if (refresh) rebuildIvfPqIndex(spark, indexPath, corpus)
    refresh
  }

  /** [[ivfCellStats]] for the IVFPQ index: same one-row telemetry
    * (total/used/max/min/avg/imbalance) over the `codes` table's cell
    * partitions — the observable [[maybeRebuildIvfPqIndex]] acts on. */
  def ivfPqCellStats(spark: SparkSession, indexPath: String): DataFrame = {
    val root = servedRoot(spark, indexPath, "IVFPQ index")
    val nCells = graft.sources.IndexMeta
      .read(spark, s"$root/meta.json", "IVFPQ index")
      .getOrElse("nCells", sys.error(s"IVFPQ index meta at $root lacks nCells"))
    spark.read.parquet(s"$root/codes")
      .groupBy(col("cell")).agg(count(lit(1)).as("n"))
      .agg(
        sum(col("n")).as("total_vecs"),
        lit(nCells).as("n_cells"),
        count(lit(1)).as("cells_used"),
        max(col("n")).as("max_cell"),
        min(col("n")).as("min_cell"),
        round(sum(col("n")) / lit(nCells), 2).as("avg_cell"),
        round(max(col("n")) / (sum(col("n")) / lit(nCells)), 4).as("imbalance"))
  }

  /** Assign each vector its nearest frozen centroid's cell and replace
    * `emb` with the RESIDUAL emb − centroid — the shared first step of
    * the IVFPQ build, append and probe paths, so all three quantize in
    * the same residual space. Output: (vec_id, cell, emb=residual). */
  private def ivfPqResiduals(spark: SparkSession, base: DataFrame,
                             centroidsPath: String): DataFrame = {
    val centers = {
      import spark.implicits._
      spark.read.parquet(centroidsPath)
        .as[(Int, Array[Double])].collect().sortBy(_._1).map(_._2)
    }
    val centroids = broadcast(spark.createDataFrame(
      centers.zipWithIndex.toSeq.map { case (c, i) => (i, c.toSeq) })
      .toDF("cell", "__cent"))
    base
      .withColumn("cell", nearestCellsUdf(centers, 1)(col("emb")).getItem(0))
      .join(centroids, Seq("cell"))
      .select(col("vec_id"), col("cell"),
        zip_with(col("emb"), col("__cent"), (x, c) => x - c).as("emb"))
  }

  /** Meta guard against the RESOLVED version dir — the same
    * [[servedRoot]] resolution every IVFPQ consumer shares, so a
    * [[rebuildIvfPqIndex]] swap retargets all of them atomically.
    * Returns nSub. */
  private def checkIvfPqMeta(spark: SparkSession, root: String): Int = {
    val m = graft.sources.IndexMeta.read(spark, s"$root/meta.json", "IVFPQ index")
    m.getOrElse("nCells", sys.error(s"IVFPQ index meta at $root lacks nCells"))
    m.getOrElse("nSub", sys.error(s"IVFPQ index meta at $root lacks nSub")).toInt
  }

  /** Append new vectors: cell against the FROZEN centroids, residual
    * codes against the FROZEN codebook, already-coded ids anti-joined
    * out (id column only — parquet pruning), per-vector-atomic rows —
    * the same replay contract as every other index family. */
  def appendToIvfPqIndex(embeddings: DataFrame, indexPath: String): Unit = {
    val spark = embeddings.sparkSession
    val root = servedRoot(spark, indexPath, "IVFPQ index")
    val nSub = checkIvfPqMeta(spark, root)
    val cents = spark.read.parquet(s"$root/codebook")
    val coded = spark.read.parquet(s"$root/codes").select(col("vec_id")).distinct()
    val fresh = widened(embeddings).select(col("vec_id"), col("emb"))
      .transform(dedupVecIds)
      .join(coded.hint("shuffle_hash"), Seq("vec_id"), "left_anti")
    val residuals = ivfPqResiduals(spark, fresh, s"$root/centroids")
    pqPack(pqEncode(residuals.select(col("vec_id"), col("emb")), cents, nSub))
      .join(residuals.select(col("vec_id"), col("cell")), Seq("vec_id"))
      .localCheckpoint()
      .write.mode("append").partitionBy("cell").parquet(s"$root/codes")
  }

  /** Compact the IVFPQ codes, preserving the `cell=` pruning layout. */
  def compactIvfPqIndex(spark: SparkSession, indexPath: String,
                        targetFileBytes: Long = 128L * 1024 * 1024): Unit = {
    val root = servedRoot(spark, indexPath, "IVFPQ index")
    checkIvfPqMeta(spark, root)
    graft.sources.Sinks.compactPartitioned(
      spark, s"$root/codes", "cell", targetFileBytes)
  }

  /** ADC top-k against the IVFPQ index: per probe, the nProbe nearest
    * cells are selected against the tiny driver-held centroid table;
    * the probe's RESIDUAL against each probed cell's centroid builds
    * that cell's lookup table (nProbe × nSub × nCentroids rows per
    * probe — broadcast); the stored codes are read PARTITION-PRUNED to
    * the probed cells and joined on (cell, s, code). Distance folds in
    * subspace order — the [[pqScore]] discipline, cell-aware. */
  def ivfPqTopK(spark: SparkSession, indexPath: String, probes: DataFrame,
                k: Int, nProbe: Int = 4): DataFrame = {
    import spark.implicits._
    val root = servedRoot(spark, indexPath, "IVFPQ index")
    val nSub = checkIvfPqMeta(spark, root)
    val centers = spark.read.parquet(s"$root/centroids")
      .as[(Int, Array[Double])].collect().sortBy(_._1).map(_._2)
    val cents = spark.read.parquet(s"$root/codebook")
    val centroids = broadcast(spark.createDataFrame(
      centers.zipWithIndex.toSeq.map { case (c, i) => (i, c.toSeq) })
      .toDF("cell", "__cent"))
    val probeCells = widened(probes)
      .select(col("vec_id").as("q_id"), col("emb").as("q_emb"),
        explode(nearestCellsUdf(centers, nProbe)(col("emb"))).as("cell"))
      .join(centroids, Seq("cell"))
      .select(col("q_id"), col("cell"),
        zip_with(col("q_emb"), col("__cent"), (x, c) => x - c).as("q_res"))
    val lut = pqWithSub(probeCells, nSub).crossJoin(broadcast(cents))
      .withColumn("d2", round(pqSubD2(col("q_res"), col("cemb"), col("s"), 64 / nSub), 6))
      .select(col("q_id"), col("cell"), col("s"), col("cid").as("code"), col("d2"))
    val probedCells = probeCells.select("cell").distinct().as[Int].collect()
    val codes = pqUnpackWithCell(
      spark.read.parquet(s"$root/codes")
        .filter(col("cell").isInCollection(probedCells.toSeq))) // partition-pruned
    val byProbe = Window.partitionBy("q_id").orderBy(col("ad2"), col("n_id"))
    codes.join(broadcast(lut), Seq("cell", "s", "code"))
      .filter(col("vec_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(sort_array(collect_list(struct(col("s"), col("d2")))).as("ds"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        round(aggregate(col("ds"), lit(0.0),
          (acc, x) => acc + x.getField("d2")), 6).as("ad2"))
      .withColumn("rnk", row_number().over(byProbe).cast("long"))
      .filter(col("rnk") <= k)
  }

  private def pqUnpackWithCell(packed: DataFrame): DataFrame =
    packed.select(col("vec_id"), col("cell"),
      posexplode(col("codes")).as(Seq("s", "code")))

  /** Two-stage IVFPQ serving: pruned-ADC shortlist off the codes, then
    * exact-cosine rerank against fetched full-precision vectors — the
    * complete faiss IndexIVFPQ + refine production shape. */
  def ivfPqTopKReranked(spark: SparkSession, indexPath: String, corpus: DataFrame,
                        probes: DataFrame, k: Int, nProbe: Int = 4,
                        shortlist: Int = 50,
                        maxBroadcastProbes: Int = defaultMaxBroadcastProbes): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist must be ≥ k = $k")
    val cand = ivfPqTopK(spark, indexPath, probes, shortlist, nProbe)
      .select(col("q_id"), col("n_id"))
    val vecs = widened(corpus).select(col("vec_id").as("n_id"), col("emb").as("n_emb"))
    val probeVecs = widened(probes).select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id"))
    cand
      .join(vecs, Seq("n_id"))
      .join(probeSide(probeVecs, probes, maxBroadcastProbes), Seq("q_id"))
      .withColumn("cos", round(cosine(col("q_emb"), col("n_emb")), 6))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select("q_id", "n_id", "cos", "rnk")
  }

  /** Scalar int8 quantization of an embedding column — the storage
    * path that cuts a float corpus 4× before ANN serving. Per-DIMENSION
    * global min/max (posexplode → 64-row aggregate, broadcast back),
    * then code = min(255, floor((x-mn)/(mx-mn)·256)): floor, not
    * round, so the integer codes are bit-deterministic in any engine
    * (round's half-way rule differs between engines; floor of the same
    * IEEE double never does). Returns one row per vector with integer
    * code digests (sum/min/max) — the oracle-comparable summary — plus
    * the quantized code array for downstream storage. Degenerate
    * constant dimensions (mx = mn) code to 0. */
  def quantizeInt8(embeddings: DataFrame): DataFrame = {
    val dims = widened(embeddings)
      .select(col("vec_id"), posexplode(col("emb")).as(Seq("dim", "x")))
    val stats = dims.groupBy("dim").agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
    dims.join(broadcast(stats), Seq("dim"))
      .withColumn("code",
        when(col("mx") === col("mn"), lit(0L)).otherwise(
          least(lit(255L), floor((col("x") - col("mn")) / (col("mx") - col("mn")) * lit(256.0)))))
      .groupBy("vec_id")
      .agg(
        sum(col("code")).as("code_sum"),
        min(col("code")).cast("long").as("code_min"),
        max(col("code")).cast("long").as("code_max"),
        transform(
          array_sort(collect_list(struct(col("dim"), col("code")))),
          s => s.getField("code").cast("int")).as("codes"))
  }

  /** Matryoshka truncation (Kusupati et al. 2022, the MRL serving
    * trick): keep only the first `dims` coordinates of each embedding
    * and re-L2-normalize — the cheap tier of a coarse-to-fine ANN
    * stack, cutting vector bytes (and dot-product cost) by dims/D
    * before the full-precision rerank. Per-row arithmetic only — no
    * shuffle, no state; at 100 TB this is a map-only pass.
    *
    * Outputs integer FLOOR codes (1e6 fixed point) rather than rounded
    * doubles so every value is bit-deterministic in any engine (floor
    * of the same IEEE double never disagrees; round's half-way rule
    * does — same rule as [[quantizeInt8]]): per-vector norm codes for
    * the full and truncated prefix, the digest (sum) of the
    * renormalized coordinate codes, plus the renormalized prefix array
    * for downstream serving. Zero-norm prefixes code to 0. */
  def truncateNormalize(embeddings: DataFrame, dims: Int = 8): DataFrame = {
    require(dims >= 1, "dims must be positive")
    val sq = (x: Column) => x * x
    val l2 = (v: Column) => sqrt(aggregate(v, lit(0.0), (acc, x) => acc + sq(x)))
    val code = (x: Column) => floor(x * lit(1e6)).cast("long")
    widened(embeddings)
      .select(col("vec_id"), col("emb"), slice(col("emb"), 1, dims).as("pre"))
      .withColumn("norm_full", l2(col("emb")))
      .withColumn("norm_pre", l2(col("pre")))
      .withColumn("renorm",
        when(col("norm_pre") === 0.0, transform(col("pre"), _ => lit(0.0)))
          .otherwise(transform(col("pre"), x => x / col("norm_pre"))))
      .select(
        col("vec_id"),
        code(col("norm_full")).as("norm_full_code"),
        code(col("norm_pre")).as("norm_pre_code"),
        aggregate(col("renorm"), lit(0L), (acc, x) => acc + code(x)).as("code_digest"),
        col("renorm"))
  }

  /** Johnson–Lindenstrauss random projection d→k with the
    * database-friendly deterministic ±1 matrix (Achlioptas 2003),
    * scaled by 1/√k — the cheap dimensionality-reduction tier that
    * needs NO fitting pass (vs PCA): distances are preserved within
    * the JL distortion bound in expectation, and the projection is a
    * pure map over the corpus. ±1 coefficients make each output
    * coordinate a signed subset sum that any engine reproduces
    * exactly from the same literal matrix — the same trick that lets
    * [[lshBuckets]] be oracle-checked — so the projected VALUES (not
    * just their properties) replay in DuckDB. Rounded to 6 dp.
    *
    * Scale shape: map-only (k×d multiply per row, codegen'd
    * expressions, matrix inlined as literals); no shuffle, no state. */
  def randomProject(embeddings: DataFrame, outDim: Int = 16): DataFrame = {
    require(outDim >= 1, "outDim must be positive")
    val planes = hyperplanes(outDim, 64)
    val scale = math.sqrt(outDim.toDouble)
    val projCols = planes.map { row =>
      val coeffs = array(row.map(lit): _*)
      round(
        aggregate(zip_with(col("emb"), coeffs, (x, s) => x * s),
          lit(0.0), (acc, x) => acc + x) / lit(scale), 6)
    }
    widened(embeddings).select(col("vec_id"), array(projCols: _*).as("proj"))
  }

  /** Embedding-cosine near-dup pairs (the dedup flavor of ANN): LSH
    * buckets generate candidates, exact cosine ≥ threshold keeps them.
    * Banded — never an all-pairs crossJoin. */
  def cosinePairs(embeddings: DataFrame, threshold: Double,
                  nTables: Int = 8, bitsPerTable: Int = 8): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val banded = widened(embeddings)
      .select(col("vec_id"), col("emb"),
        explode(lshBuckets(col("emb"), nTables, bitsPerTable)).as("bucket"))
    banded.as("a")
      .join(banded.as("b"), $"a.bucket" === $"b.bucket" && $"a.vec_id" < $"b.vec_id")
      .select($"a.vec_id".as("vec_a"), $"b.vec_id".as("vec_b"),
        $"a.emb".as("emb_a"), $"b.emb".as("emb_b"))
      .dropDuplicates("vec_a", "vec_b")
      .withColumn("cos", round(cosine(col("emb_a"), col("emb_b")), 6))
      .filter(col("cos") >= threshold)
      .select("vec_a", "vec_b", "cos")
  }
}
