package graft.operators

import graft.sources.StagedCommit
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Numeric data profiling for pipeline QA: equi-width histograms and
  * rank-exact winsorization (outlier clipping).
  *
  * Both give exact answers with fully deterministic, engine-portable
  * arithmetic (integer bucket indices, fixed-point cent sums,
  * rank-selected bounds — no interpolated percentiles whose fp
  * evaluation order could differ between engines), and since r18 the
  * rank passes are skew-safe (the two-phase
  * [[Sampling.withExactRankScaled]] — no task ever sorts more than
  * one bucket of one group). The ESTIMATE-grade 100 TB hot path for
  * the same signals remains the mergeable-sketch profile
  * (`q_sketch_profile`: HLL++ distinct, GK quantiles) — one pass,
  * mergeable across shards — with these as the exact tier.
  */
object Profile {

  /** Exact cents column (shared fixed-point idiom; DailySeries.cents). */
  private def cents(c: org.apache.spark.sql.Column) = round(c * 100).cast("long")

  /** Equi-width histogram of `valueCol` per `groupCol` over the fixed
    * range [lo, hi): bucket i covers [lo + i·step, lo + (i+1)·step),
    * out-of-range values clamp into the edge buckets. One hash
    * aggregation — bucket index is per-row integer arithmetic, counts
    * and cent-sums are order-independent, so the histogram is exact at
    * any partitioning (and buckets are mergeable across splits, unlike
    * anything rank-based). Empty buckets are absent (sparse output) —
    * at 100 TB most profiling targets are heavy-tailed and a dense
    * nb-row-per-group densify is a cheap local join if a UI needs it. */
  def histogram(df: DataFrame, groupCol: String, valueCol: String,
                lo: Double, hi: Double, nb: Int): DataFrame = {
    require(nb > 0 && hi > lo, s"bad histogram range [$lo, $hi) / $nb")
    val step = (hi - lo) / nb
    val bucket = least(lit(nb - 1L), greatest(lit(0L),
      floor((col(valueCol) - lit(lo)) / lit(step))))
    df.withColumn("bucket", bucket)
      .groupBy(col(groupCol), col("bucket"))
      .agg(count(lit(1)).as("n"), sum(cents(col(valueCol))).as("sum_cents"))
  }

  /** Population Stability Index between two snapshots of a numeric
    * column — THE drift monitor between corpus versions / training
    * runs: PSI = Σ_buckets (p_b − q_b)·ln(p_b / q_b) over a shared
    * equi-width bucketing. <0.1 stable, 0.1–0.25 drifting, >0.25
    * shifted (the conventional bands). Laplace-smoothed so empty
    * buckets never produce ±∞: both sides add one synthetic count per
    * bucket, and the histogram is densified to ALL `nb` buckets first
    * so the smoothing denominator is the FIXED bucket count — never
    * "however many buckets happened to be populated", which would put
    * two comparisons over the same [lo,hi)/nb on different smoothing
    * scales (ADVICE r6). Every empty bucket's (small, nonzero)
    * smoothing term is included in the sum for the same reason.
    *
    * Both histograms come out of ONE tagged-union aggregation — no
    * join anywhere (a full-outer of the two histograms can't
    * broadcast-hash, so the join form plans a sort-merge join even
    * at 25 rows); nothing here scales with the data beyond the two
    * input scans feeding the union. The per-bucket terms fold in
    * BUCKET ORDER, so the double sum replays exactly in any engine. */
  def psi(base: DataFrame, current: DataFrame, valueCol: String,
          lo: Double, hi: Double, nb: Int): DataFrame = {
    require(nb > 0 && hi > lo, s"bad psi range [$lo, $hi) / $nb")
    val step = (hi - lo) / nb
    val tagged = base.select(col(valueCol).as("__v"), lit(0).as("__side"))
      .unionByName(current.select(col(valueCol).as("__v"), lit(1).as("__side")))
    val observed = tagged
      .withColumn("bucket", least(lit(nb - 1L), greatest(lit(0L),
        floor((col("__v") - lit(lo)) / lit(step)))))
      .groupBy("bucket")
      .agg(
        count(when(col("__side") === 0, 1)).as("n_base"),
        count(when(col("__side") === 1, 1)).as("n_cur"))
    // densify to the full configured bucketing: union an all-buckets
    // zero spine (nb rows, driver-local range — no join, no shuffle
    // beyond the ≤2·nb-row re-aggregate)
    val spine = base.sparkSession.range(nb)
      .select(col("id").as("bucket"), lit(0L).as("n_base"), lit(0L).as("n_cur"))
    val joined = observed.unionByName(spine)
      .groupBy("bucket")
      .agg(sum(col("n_base")).as("n_base"), sum(col("n_cur")).as("n_cur"))
    val tot = joined.agg(
      sum(col("n_base")).as("tb"), sum(col("n_cur")).as("tc"),
      count(lit(1)).as("nbuckets"))
    joined.crossJoin(broadcast(tot))
      .withColumn("p", (col("n_base") + lit(1.0)) / (col("tb") + col("nbuckets")))
      .withColumn("q", (col("n_cur") + lit(1.0)) / (col("tc") + col("nbuckets")))
      .withColumn("term", (col("p") - col("q")) * log(col("p") / col("q")))
      .select(col("bucket"), col("n_base"), col("n_cur"), col("term"))
  }

  /** Robust outlier flagging per group: |x − median| > k · MAD, with
    * median and MAD (median absolute deviation) both RANK-exact —
    * low-rank-of-two-middles, so every statistic is a value from the
    * data (or an exact midpoint of two), never an interpolated
    * percentile whose fp path could differ between engines. The
    * robust z-score is the profiling staple that, unlike mean/stddev,
    * a few extreme rows cannot drag.
    *
    * Two rank passes (values, then absolute deviations) + a broadcast
    * of the per-group statistics. The rank passes run the SKEW-SAFE
    * two-phase form ([[Sampling.withExactRankScaled]] — r17 verdict
    * #3: the plain per-group window serialized a dominant group onto
    * one task; the two-phase rank is bit-identical, so the oracle is
    * untouched); the mergeable-sketch form of the same signal is GK
    * quantiles. Returns the input rows plus `med`, `mad`,
    * `is_outlier`. */
  def robustOutliers(df: DataFrame, groupCol: String, valueCol: String,
                     tieCol: String, k: Double = 3.0): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    // pin the caller's frame ONCE — both rank passes, the deviation
    // join and the output derive from it (r18 verdict #8: each
    // medianOf pinned its input separately, so the caller's lineage
    // materialized twice and the second pin re-copied the first)
    val src = Checkpoints.pin(df)
    def medianOf(in: DataFrame, vCol: String, outName: String,
                 pinned: Boolean): DataFrame = {
      // lower and upper middle ranks: equal when n is odd; the exact
      // median is their midpoint (x + y) / 2 — one add, one halving,
      // identical in any IEEE engine
      val ranked = Sampling.withExactRankScaled(in, groupCol, vCol, tieCol,
        pinned = pinned)
      ranked.groupBy(groupCol).agg(
        ((min(when(col("__rn") === ceil(col("__n") / lit(2.0)), col(vCol)))
          + min(when(col("__rn") === floor(col("__n") / lit(2.0)) + lit(1), col(vCol))))
          / lit(2.0)).as(outName))
    }
    val med = medianOf(src, valueCol, "med", pinned = true)
    // pinned too: the mad rank pass AND the output join both consume
    // it (r19 review: pinning only inside the rank pass left the
    // output re-deriving the src⋈med projection from lineage — the
    // same duplication class the winsorize change eliminated)
    val withMed = Checkpoints.pin(src.join(broadcast(med), groupCol)
      .withColumn("__absdev", abs(col(valueCol) - col("med"))))
    val mad = medianOf(withMed, "__absdev", "mad", pinned = true)
    withMed.join(broadcast(mad), groupCol)
      .withColumn("is_outlier",
        abs(col(valueCol) - col("med")) > lit(k) * col("mad"))
      .drop("__absdev")
  }

  /** Winsorize `valueCol` per `groupCol`: clip to the values at ranks
    * ceil(pLo·n) and ceil(pHi·n) in (value, tieCol) order — the
    * rank-based percentile definition, chosen over interpolation
    * because the selected bounds are VALUES FROM THE DATA (no
    * arithmetic to drift between engines). Returns the input rows
    * plus `p_lo`/`p_hi`/`clipped`.
    *
    * Scale: the rank pass runs the two-phase skew-safe exact rank
    * ([[Sampling.withExactRankScaled]] — r17 verdict #3: the plain
    * per-group window sorted a dominant group in ONE task; the
    * two-phase form is bit-identical under the same (value, tie)
    * order, so q_winsorize's oracle replays unchanged), with the
    * mergeable-sketch form of the same signal being GK quantiles
    * (one pass, `q_quality_quantiles`). The bounds table is one row
    * per group and broadcast back. */
  def winsorize(df: DataFrame, groupCol: String, valueCol: String,
                tieCol: String, pLo: Double = 0.05, pHi: Double = 0.95): DataFrame = {
    require(0 < pLo && pLo < pHi && pHi <= 1, s"bad percentile bounds ($pLo, $pHi)")
    // one pin serves the rank pass AND the output join (r18 verdict
    // #8: the rank core pinned internally while the output re-derived
    // the caller's lineage from scratch)
    val src = Checkpoints.pin(df)
    val bounds = Sampling.withExactRankScaled(src, groupCol, valueCol, tieCol,
        pinned = true)
      .groupBy(groupCol)
      .agg(
        min(when(col("__rn") === ceil(lit(pLo) * col("__n")), col(valueCol))).as("p_lo"),
        min(when(col("__rn") === ceil(lit(pHi) * col("__n")), col(valueCol))).as("p_hi"))
    src.join(broadcast(bounds), groupCol)
      .withColumn("clipped", least(greatest(col(valueCol), col("p_lo")), col("p_hi")))
  }

  // ── count-min sketch ───────────────────────────────────────────────

  /** Count-min sketch (Cormode & Muthukrishnan 2005) over `keyCol`:
    * a depth × width counter matrix where every input row increments
    * one counter per hash row; the point estimate for a key is the MIN
    * of its depth counters — never an underestimate, and over by at
    * most (e/width)·N with probability 1 − 2^−depth. The frequency
    * complement of the Misra-Gries heavy-hitter aggregate
    * (q_freq_items): MG names the heavy keys, CMS answers "how often"
    * for ANY key in O(depth) lookups from state that is
    * depth × width × 8 bytes REGARDLESS of corpus size — the property
    * that makes it the 100 TB frequency-telemetry shape.
    *
    * Spark shape: one map-side explode of `depth` (row, bucket) pairs
    * per input row, then ONE hash aggregation on compact int keys —
    * map-side partial combine collapses each partition to ≤
    * depth · width rows before the shuffle, so shuffle volume is
    * sketch-sized per partition, not corpus-sized. Counters are sums,
    * so sketches are mergeable by construction ([[mergeCms]]) — build
    * per day/shard/stream-batch, add elementwise, query the union.
    *
    * Hashes are the house engine-portable md5 arithmetic (row r of key
    * k buckets at md5("r:k")'s 60-bit prefix mod width), so a SQL
    * engine with md5 reproduces every counter exactly — what lets
    * q_cms_counts carry a value-exact DuckDB oracle rather than a
    * bound-only gate.
    *
    * Output: (r, c, cnt) — sparse (zero counters absent). */
  def countMinSketch(df: DataFrame, keyCol: String,
                     depth: Int = 4, width: Int = 512): DataFrame = {
    require(depth >= 1 && depth <= 16, s"depth must be in 1..16, got $depth")
    require(width >= 2, s"width must be >= 2, got $width")
    df.select(explode(sequence(lit(0), lit(depth - 1))).as("r"),
        col(keyCol).cast("string").as("k"))
      // null keys are skipped, not hashed: concat_ws would silently
      // fold them into an "r"-only bucket — and Spark's concat_ws and
      // a SQL oracle's concat disagree on that folding, so a null
      // reaching the hash could never replay. Same contract as the
      // dense build ([[countMinSketchDense]]).
      .filter(col("k").isNotNull)
      .select(col("r"),
        (conv(substring(md5(concat_ws(":", col("r"), col("k"))), 1, 15), 16, 10)
          .cast("long") % width).cast("int").as("c"))
      .groupBy("r", "c")
      .agg(count(lit(1)).as("cnt"))
  }

  /** The dense-buffer build of [[countMinSketch]] — SAME counters,
    * different physical shape: the native `graft_cms` aggregate
    * ([[graft.plans.CmsAggregate]]) folds each partition into ONE
    * depth·width long array and merges by elementwise add, so the
    * shuffle ships one ~depth·width·8-byte buffer per partition
    * instead of up to depth·width ROWS per partition (the explode +
    * groupBy form's map-side-combine output, which dominates wall
    * time for wide sketches — 65536-wide builds measured 3+ s at
    * sf0.1 declaratively vs sub-second here). Output is the identical
    * sparse (r, c, cnt) frame (CmsAggSpec pins bit-equality), so
    * every downstream consumer and every SQL oracle is unchanged.
    * Prefer this for width ≳ 4k; below that the declarative form's
    * combine output is already tiny. */
  def countMinSketchDense(df: DataFrame, keyCol: String,
                          depth: Int = 4, width: Int = 512): DataFrame =
    countMinSketchDenseRow(df, keyCol, depth, width)
      .select(posexplode(col("sk")).as(Seq("i", "cnt")))
      .filter(col("cnt") > 0)
      .select(expr(s"CAST(i DIV $width AS INT)").as("r"),
        expr(s"CAST(i % $width AS INT)").as("c"), col("cnt"))

  /** The raw dense form: ONE row, `sk` = the depth·width counter
    * array (row r's counter c at index r·width + c). The shape to
    * keep when the consumer is itself array-arithmetic
    * ([[joinSizeEstimateDense]]) — expanding 262k cells to sparse
    * rows through a single-task posexplode costs more than the whole
    * aggregation. */
  def countMinSketchDenseRow(df: DataFrame, keyCol: String,
                             depth: Int = 4, width: Int = 512): DataFrame = {
    require(depth >= 1 && depth <= 16, s"depth must be in 1..16, got $depth")
    require(width >= 2, s"width must be >= 2, got $width")
    df.agg(call_function("graft_cms",
      col(keyCol).cast("string"), lit(depth), lit(width)).as("sk"))
  }

  /** Point-estimate `keyCol` of `keys` against a sketch built with the
    * same (depth, width): est(k) = min over rows of the key's counter,
    * absent counters read 0. The sketch is depth · width rows at most —
    * broadcast onto the (small) query-key side; no shuffle. */
  def cmsLookup(sketch: DataFrame, keys: DataFrame, keyCol: String,
                depth: Int = 4, width: Int = 512): DataFrame = {
    require(depth >= 1 && depth <= 16, s"depth must be in 1..16, got $depth")
    require(width >= 2, s"width must be >= 2, got $width")
    keys.select(col(keyCol), explode(sequence(lit(0), lit(depth - 1))).as("r"))
      .withColumn("c",
        (conv(substring(md5(concat_ws(":", col("r"), col(keyCol).cast("string"))), 1, 15), 16, 10)
          .cast("long") % width).cast("int"))
      .join(broadcast(sketch), Seq("r", "c"), "left")
      .groupBy(keyCol)
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est"))
  }

  /** Elementwise sum of two sketches with the same (depth, width):
    * cms(A) ⊕ cms(B) = cms(A ⊎ B) exactly (counters are sums — the
    * linearity that lets 100 TB build per-shard sketches and fold). */
  def mergeCms(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy("r", "c").agg(sum(col("cnt")).as("cnt"))

  /** Equi-join cardinality estimate from two count-min sketches built
    * with the SAME (depth, width) over the two join keys (Cormode &
    * Muthukrishnan 2005 §4.2, the inner-product estimate):
    * |A ⋈_k B| = Σ_k f_A(k)·f_B(k), estimated as
    * min over rows r of Σ_c a[r,c]·b[r,c]. Each row's dot product is
    * the true size plus non-negative collision cross-terms, so the
    * estimate NEVER undershoots, and exceeds the truth by more than
    * (e/width)·|A|·|B| with probability ≤ 2^−depth.
    *
    * This is the join-planning stat a 100 TB engine consults before
    * picking broadcast vs shuffle vs skew-salting: both sides'
    * sketches are depth × width counters maintainable incrementally
    * (per-shard build + [[mergeCms]] linear fold, or the persisted
    * artifact tier) — the join size of any table pair is answerable
    * from kilobytes of standing state without touching either table.
    * The arithmetic is the same engine-portable md5 bucketing as
    * [[countMinSketch]], so the estimate itself replays value-exactly
    * in a SQL oracle — not just a bound gate.
    *
    * The sketch-pair join is sketch-sized (≤ depth·width rows per
    * side), never corpus-sized. Output: one row, (est). */
  def joinSizeEstimate(cmsA: DataFrame, cmsB: DataFrame): DataFrame = {
    val dots = cmsA.select(col("r"), col("c"), col("cnt").as("cnt_a"))
      .join(cmsB.select(col("r"), col("c"), col("cnt").as("cnt_b"))
        .hint("shuffle_hash"), Seq("r", "c"))
      .groupBy("r").agg(sum(col("cnt_a") * col("cnt_b")).as("dot"))
    // a hash row with NO overlapping cells has dot = 0 — the best
    // possible evidence (the join is provably small) — and the inner
    // join above DROPS it; min over only the surviving rows would
    // overestimate (r15 review: disjoint key sets at cramped width →
    // sparse said 200, dense said 0). Re-spine over every row present
    // in EITHER sketch so zero dots participate in the min; a fully
    // empty pair of sketches yields 0 (the join is empty).
    val rows = cmsA.select(col("r")).unionByName(cmsB.select(col("r"))).distinct()
    rows.join(dots.hint("shuffle_hash"), Seq("r"), "left")
      .agg(coalesce(min(coalesce(col("dot"), lit(0L))), lit(0L)).as("est"))
  }

  /** [[joinSizeEstimate]] over the DENSE single-row sketches
    * ([[countMinSketchDenseRow]], same depth/width both sides): the
    * per-row dot products and their min are array arithmetic on two
    * rows — one broadcast of a ~depth·width·8-byte array, ZERO
    * shuffles, no sparse expansion. Also emits `na`/`nb` (row 0's
    * counter total = the side's row count, by linearity) since the
    * consumer of a join-size estimate always wants the operand sizes
    * too. Identical counters → identical estimate to the sparse form
    * (ProfileSpec pins it). Output: one row, (est, na, nb). */
  def joinSizeEstimateDense(cmsA: DataFrame, cmsB: DataFrame,
                            depth: Int, width: Int): DataFrame = {
    require(depth >= 1 && depth <= 16, s"depth must be in 1..16, got $depth")
    require(width >= 2, s"width must be >= 2, got $width")
    val zero = "CAST(0 AS BIGINT)"
    cmsA.select(col("sk").as("a"))
      .crossJoin(broadcast(cmsB.select(col("sk").as("b"))))
      .select(
        expr(s"""array_min(transform(sequence(0, ${depth - 1}),
                 r -> aggregate(sequence(0, ${width - 1}), $zero,
                        (acc, c) -> acc + a[r * $width + c] * b[r * $width + c])))""")
          .as("est"),
        expr(s"aggregate(slice(a, 1, $width), $zero, (acc, x) -> acc + x)").as("na"),
        expr(s"aggregate(slice(b, 1, $width), $zero, (acc, x) -> acc + x)").as("nb"))
  }

  // ── persisted CMS artifact (the streaming-telemetry tier) ──────────

  /** Shared init for the batch-folded artifacts: write the dimension
    * meta ONCE. Re-running init is a no-op when the dims match and a
    * LOUD failure when they differ (r15 review) — silently rewriting
    * the meta would leave existing `parts/` sketches hashed with the
    * OLD geometry under a meta claiming the new one, and every
    * estimate after that reads mixed-geometry counters (for CMS that
    * breaks even the never-underestimate guarantee, with no error).
    * Parts without a meta are likewise refused, not adopted. */
  private[graft] def initArtifact(spark: org.apache.spark.sql.SparkSession,
                           path: String, what: String,
                           fields: Seq[(String, Long)]): Unit = {
    val meta = new org.apache.hadoop.fs.Path(s"$path/meta.json")
    val fs = meta.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(meta)) {
      val existing = graft.sources.IndexMeta.read(spark, s"$path/meta.json", what)
      require(fields.forall { case (k, v) => existing.get(k).contains(v) },
        s"$what at $path is already initialized with different dimensions " +
          s"(${existing.toSeq.sorted.mkString(", ")} vs ${fields.mkString(", ")}) — " +
          "re-initializing would silently mix hash geometries; delete the artifact to rebuild")
    } else {
      require(!fs.exists(new org.apache.hadoop.fs.Path(s"$path/parts")),
        s"$what at $path has batch parts but no meta — refusing to adopt state " +
          "of unknown geometry; delete the artifact to rebuild")
      graft.sources.IndexMeta.write(spark, s"$path/meta.json", fields)
    }
  }

  /** Land one batch contribution under `parts/<part>`, guarded by a
    * content fingerprint (r15 review): an at-least-once redelivery
    * carries the SAME payload and is skipped (the overwrite would be
    * byte-identical anyway); a DIFFERENT payload under an already-
    * used batch key — a reset checkpoint restarting batch ids at 0,
    * or a second stream sharing the artifact path — fails loudly
    * instead of silently destroying the earlier contribution, the
    * failure the id-keyed sinks catch via their anti-joins but a
    * keyless counting fold cannot. The fingerprint is the row count
    * PLUS an order-independent overflow-free XOR of per-row hashes
    * over `fpRow` (callers whose payload bytes are not
    * recomputation-deterministic fingerprint a deterministic VIEW of
    * the row instead; rows here are unique per part, so XOR's
    * pair-cancellation cannot trigger) — the count costs nothing in
    * the same aggregate and blocks the cheapest XOR-collision shapes
    * (any two contributions of different cardinality). This stays a
    * heuristic guard: two SAME-SIZE contributions whose 64-bit hash
    * XORs collide would still be treated as one redelivery. It is
    * written AFTER the data, so a crash mid-land leaves no
    * fingerprint and the retry takes the plain overwrite path. */
  /** The count+XOR content fingerprint of `df` — the ONE definition of
    * batch-contribution identity, shared by [[landBatchPart]] and
    * [[GraphArtifact.compactEdgeBatches]] so the formula can never
    * fork between the writer and the maintenance rewrite (r16 review). */
  private[graft] def contentFingerprint(df: DataFrame,
      fpRow: DataFrame => org.apache.spark.sql.Column =
        d => xxhash64(d.columns.map(col): _*)): String = {
    val r = df
      .select(fpRow(df).as("__h"))
      .agg(count(lit(1)), coalesce(expr("bit_xor(__h)"), lit(0L)))
      .head()
    s"${r.getLong(0)}x${r.getLong(1)}"
  }

  private[operators] def landBatchPart(contribution: DataFrame, path: String,
                            part: String, what: String,
                            fpRow: DataFrame => org.apache.spark.sql.Column =
                              d => xxhash64(d.columns.map(col): _*),
                            coalesce1: Boolean = true): Unit = {
    val spark = contribution.sparkSession
    recoverParts(spark, path) // a writer entry: heal first
    val df = contribution.localCheckpoint() // one computation for fp + write
    val fp = contentFingerprint(df, fpRow)
    val dir = new Path(s"$path/parts/$part")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val fpFile = new Path(dir, "_fp")
    if (fs.exists(fpFile)) {
      val old = readSmall(fs, fpFile)
      require(old == fp,
        s"$what part $part already holds a DIFFERENT contribution " +
          s"(fingerprint $old vs $fp) — a redelivered batch must be identical; " +
          "this looks like a reset checkpoint or a second writer sharing the artifact")
      return // identical redelivery: nothing to do
    }
    // a merged-away batch has no dir — its fingerprint rides in the
    // `_sources` of the merged part that absorbed it, and the replay
    // contract is identical: same payload is a no-op (its rows
    // already fold via the merged dir), a different payload under a
    // retired key is loud
    retiredFingerprint(fs, dir.getParent, part) match {
      case Some(retired) =>
        require(retired == fp,
          s"$what part $part was merged away holding a DIFFERENT contribution " +
            s"(fingerprint $retired vs $fp) — a redelivered batch must be identical; " +
            "this looks like a reset checkpoint or a second writer sharing the artifact")
        return // identical redelivery of a merged-away batch: no-op
      case None => // fresh batch key: land it below
    }
    // sketch-sized contributions compact to one file; edge-batch-sized
    // ones (GraphArtifact) keep their natural partitioning
    (if (coalesce1) df.coalesce(1) else df)
      .write.mode("overwrite").parquet(dir.toString)
    val out = fs.create(fpFile, true)
    try out.write(fp.toString.getBytes("UTF-8")) finally out.close()
  }

  // ── committed-part plumbing shared by every batch-part family ──────
  // (CMS / quantile / agg / HLL-shard sketches here, rank edges in
  // [[GraphArtifact]], the fuzzy-link catalog in [[FuzzyLinkIndex]]):
  // one definition of "committed", one recovery, one per-dir
  // compaction, one dir-count-bounding merge, all committed under the
  // parts dir's one [[StagedCommit]] marker — so the crash-window
  // engineering can never fork between families.

  private def readSmall(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim finally in.close()
  }

  private val MergedName = ".*-?\\d+_-?\\d+"

  /** The COMMITTED part-dir names under `path/parts` for `prefix`
    * (e.g. "b="): single batch dirs `<prefix><key>` and merged dirs
    * `<prefix><lo>_<hi>` carrying the `_fp` marker; `__staged`
    * maintenance twins never match (name match is EXACT), and
    * merged-away batches have no dir at all — their replay
    * fingerprints ride in the merged part's `_sources`, so the
    * listing stays O(committed dirs), which the merge policy bounds.
    *
    * LOUD while a compaction or merge commit is pending: the part set
    * is transiently partial, and a silent read of it would serve
    * wrong folds. Single-writer entries heal first ([[recoverParts]])
    * and never see this. */
  private[operators] def committedPartDirs(spark: org.apache.spark.sql.SparkSession,
      path: String, prefix: String = "b="): Seq[String] = {
    val parts = new Path(s"$path/parts")
    val fs = parts.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(parts)) Seq.empty
    else {
      require(!StagedCommit.pending(fs, partsMarker(parts)),
        s"artifact at $path has a merge or compaction in progress or crashed — " +
          "the part set is transiently partial; a single-writer entry " +
          "(ingest/refresh/compact/merge) heals it")
      val p = java.util.regex.Pattern.quote(prefix)
      fs.listStatus(parts).filter { s =>
        s.getPath.getName.matches(s"$p-?\\d+(_-?\\d+)?") && fs.exists(new Path(s.getPath, "_fp"))
      }.map(_.getPath.toString).toSeq.sorted
    }
  }

  /** A merged part's `_sources`: one `<batch part> <fingerprint>` line
    * per single batch it absorbed, directly or through a merged
    * source. */
  private def readSources(fs: FileSystem, merged: Path): Seq[(String, String)] = {
    val f = new Path(merged, "_sources")
    readSmall(fs, f).split('\n').toSeq.filter(_.nonEmpty).map { l =>
      val i = l.indexOf(' ')
      require(i > 0, s"corrupt merge record $f: line '$l'")
      l.substring(0, i) -> l.substring(i + 1)
    }
  }

  /** The fingerprint a committed merged part recorded for the
    * merged-away batch `part` (`<prefix><key>`), if any. Only a merged
    * dir whose `<lo>_<hi>` range spans the key can have absorbed it,
    * so a fresh key past every range reads no `_sources` at all. */
  private def retiredFingerprint(fs: FileSystem, parts: Path, part: String): Option[String] = {
    val cut = part.indexOf('=') + 1
    val key = part.substring(cut).toLong
    val Merged = (java.util.regex.Pattern.quote(part.substring(0, cut)) + "(-?\\d+)_(-?\\d+)").r
    if (!fs.exists(parts)) None
    else fs.listStatus(parts).iterator.map(_.getPath).filter { d =>
      d.getName match {
        case Merged(lo, hi) => lo.toLong <= key && key <= hi.toLong
        case _ => false
      }
    }.flatMap(d => readSources(fs, d).find(_._1 == part).map(_._2)).nextOption()
  }

  /** Fold scaffolding shared by the artifact readers: meta-free —
    * public readers check the meta themselves (once). Reads ONLY
    * committed dirs ([[committedPartDirs]]) — crash debris without
    * `_fp`, merged-away parts, and maintenance twins are invisible,
    * the [[GraphArtifact]] read discipline generalized. */
  private def foldParts(spark: org.apache.spark.sql.SparkSession, path: String,
                        prefix: String)(fold: DataFrame => DataFrame,
                                        empty: => DataFrame): DataFrame = {
    val committed = committedPartDirs(spark, path, prefix)
    if (committed.nonEmpty) fold(spark.read.parquet(committed: _*))
    else empty
  }

  /** Read a part dir's stored `_fp`, re-derive the fingerprint from
    * its rows under the family's `fpRow`, and REFUSE on mismatch —
    * maintenance must never launder a corrupted part into a
    * freshly-committed dir. Returns the fresh `count x xor` form. */
  private def verifiedFingerprint(spark: org.apache.spark.sql.SparkSession,
      fs: FileSystem, dir: String, what: String,
      fpRow: DataFrame => org.apache.spark.sql.Column): String = {
    val fresh = contentFingerprint(spark.read.parquet(dir), fpRow)
    val stored = readSmall(fs, new Path(s"$dir/_fp"))
    require(stored == fresh,
      s"$what part at $dir fails its fingerprint ($stored vs $fresh) — " +
        "refusing to rewrite a corrupted part into a freshly-committed dir")
    fresh
  }

  /** Heal a crashed compaction or merge under `path/parts` — runs ONLY
    * at single-writer entry points (ingest, maintenance, refresh);
    * read paths never mutate. A pending commit rolls FORWARD; with no
    * marker left, any `__staged` twin is staging from before its
    * commit point: debris, dropped (its sources are intact). */
  private[operators] def recoverParts(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit = {
    val parts = new Path(s"$path/parts")
    val fs = parts.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(parts)) return
    StagedCommit.recover(fs, partsMarker(parts))
    fs.listStatus(parts).map(_.getPath).filter(_.getName.endsWith("__staged"))
      .foreach(fs.delete(_, true))
  }

  /** The parts dir's one [[StagedCommit]] marker: every compaction
    * and merge commits under it, and [[recoverParts]] rolls it
    * forward. */
  private def partsMarker(parts: Path) = new Path(parts, "_compact.plan")

  /** Small-files maintenance, hoisted from [[GraphArtifact]] (r16
    * verdict #4): each committed part dir above the file-count target
    * is rewritten — its `_fp` (and a merged part's `_sources`) travel
    * INSIDE the staged dir so the promoted dir is committed-with-
    * marker atomically, and the fingerprint is RE-DERIVED from the
    * rows and required equal first ([[verifiedFingerprint]]). Every
    * rewritten dir is then replaced under ONE [[StagedCommit]] per
    * run; a crash rolls it forward at the next single-writer entry
    * via [[recoverParts]], and readers fail loudly while it is
    * pending ([[committedPartDirs]]). Replay semantics are untouched. */
  private[operators] def compactBatchParts(spark: org.apache.spark.sql.SparkSession,
      path: String, what: String, prefix: String = "b=",
      targetFileBytes: Long = 128L * 1024 * 1024,
      fpRow: DataFrame => org.apache.spark.sql.Column =
        d => xxhash64(d.columns.map(col): _*)): Unit = {
    recoverParts(spark, path)
    val parts = new Path(s"$path/parts")
    val fs = parts.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val steps = committedPartDirs(spark, path, prefix).flatMap { dir =>
      val d = new Path(dir)
      val dataFiles = fs.listStatus(d).filter(_.isFile)
        .filterNot(f => f.getPath.getName.startsWith("_") ||
          f.getPath.getName.startsWith("."))
      val nTarget = math.max(1, math.ceil(
        dataFiles.map(_.getLen).sum.toDouble / targetFileBytes).toInt)
      if (dataFiles.length <= nTarget) None
      else {
        val stored = verifiedFingerprint(spark, fs, dir, what, fpRow)
        val staged = new Path(s"${dir}__staged")
        spark.read.parquet(dir).coalesce(nTarget)
          .write.mode("overwrite").parquet(staged.toString)
        val out = fs.create(new Path(staged, "_fp"), true)
        try out.write(stored.getBytes("UTF-8")) finally out.close()
        if (d.getName.matches(MergedName))
          org.apache.hadoop.fs.FileUtil.copy(fs, new Path(d, "_sources"), fs,
            new Path(staged, "_sources"), false, spark.sparkContext.hadoopConfiguration)
        Some(StagedCommit.Replace(staged.getName, d.getName))
      }
    }
    if (steps.nonEmpty) StagedCommit.commit(fs, partsMarker(parts), steps)
  }

  /** Dir-count maintenance (r16 verdict #7): when committed part dirs
    * exceed `maxDirs`, fold a batch of them into ONE
    * `<prefix><minKey>_<maxKey>` dir holding the concatenation of
    * their rows — every family's read folds the union of part rows,
    * so a merge preserves the served result EXACTLY (count+XOR
    * fingerprints compose by construction: the merged `_fp` is the
    * sum of counts and XOR of xors of the VERIFIED sources). Bounds
    * the O(dirs) listing every refresh/serve pays at 10⁵+
    * micro-batches.
    *
    * Merge policy (r17 review): fold the NEW single batches into
    * their own merged dir; only when singles alone cannot reduce the
    * count (≤ 1 single standing) consolidate the merged dirs — so a
    * routine maintenance tick rewrites the new batches, not the whole
    * standing artifact, and the full-history consolidations amortize
    * ~maxDirs ticks apart.
    *
    * Replay after a merge: a redelivered merged-away batch key still
    * no-ops — its original `_fp` rides in the merged part's
    * `_sources` (one line per absorbed batch, carried over by every
    * later consolidation, so the listing bound is real); a DIFFERENT
    * payload under that key still fails loudly. Merged dirs use
    * synthetic `<lo>_<hi>` keys no writer ever lands.
    *
    * Commit: the merged part is staged whole (data, `_fp`,
    * `_sources`), then ONE [[StagedCommit]] under the parts marker
    * replaces the target and drops every source. Before the marker
    * the staged twin is debris and the sources are intact; after it
    * the merge rolls forward ([[recoverParts]]), and readers fail
    * loudly while it is pending ([[committedPartDirs]]). A
    * consolidation whose target name equals a source's is retired by
    * the replace itself. */
  private[operators] def mergeBatchParts(spark: org.apache.spark.sql.SparkSession,
      path: String, what: String, prefix: String = "b=", maxDirs: Int = 64,
      targetFileBytes: Long = 128L * 1024 * 1024,
      fpRow: DataFrame => org.apache.spark.sql.Column =
        d => xxhash64(d.columns.map(col): _*)): Unit = {
    require(maxDirs >= 1, s"maxDirs must be positive, got $maxDirs")
    recoverParts(spark, path)
    val committed = committedPartDirs(spark, path, prefix)
    if (committed.length <= maxDirs) return
    val parts = new Path(s"$path/parts")
    val fs = parts.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val singles = committed.filterNot(d => new Path(d).getName.matches(MergedName))
    val sources = if (singles.length >= 2) singles else committed
    // verify every source BEFORE consuming any (the integrity refusal)
    val fps = sources.map(dir => verifiedFingerprint(spark, fs, dir, what, fpRow))
    val counts = fps.map(f => f.substring(0, f.indexOf('x')).toLong)
    val xors = fps.map(f => java.lang.Long.parseLong(f.substring(f.indexOf('x') + 1)))
    val mergedFp = s"${counts.sum}x${xors.foldLeft(0L)(_ ^ _)}"
    val sourceNames = sources.map(new Path(_).getName)
    val keys = sourceNames.flatMap(_.stripPrefix(prefix).split('_').map(_.toLong))
    val target = s"$prefix${keys.min}_${keys.max}"
    // every single batch the part absorbs: a single source directly,
    // a merged source's own record carried over
    val absorbed = sources.zip(fps).flatMap { case (dir, fp) =>
      val d = new Path(dir)
      if (d.getName.matches(MergedName)) readSources(fs, d) else Seq(d.getName -> fp)
    }
    val staged = new Path(parts, s"${target}__staged")
    val union = spark.read.parquet(sources: _*)
    val totalBytes = sources.map { dir =>
      fs.listStatus(new Path(dir)).filter(_.isFile)
        .filterNot(f => f.getPath.getName.startsWith("_") ||
          f.getPath.getName.startsWith("."))
        .map(_.getLen).sum
    }.sum
    val nFiles = math.max(1, math.ceil(totalBytes.toDouble / targetFileBytes).toInt)
    // singles path: a routine tick folding a handful of small new
    // batches — coalesce is the cheap no-shuffle narrowing. FULL
    // consolidation (≤1 single standing, sources = the whole history):
    // coalesce(nFiles) would CAP the rewrite's upstream parallelism at
    // nFiles tasks (r17 advice — a near-single-task rewrite of every
    // row at 10⁵-batch scale); repartition keeps the scan wide and
    // pays one shuffle for it. Row layout differs, content identical
    // (the fold is a union; the fingerprint is order-independent).
    val shaped = if (singles.length >= 2) union.coalesce(nFiles)
      else union.repartition(nFiles)
    shaped.write.mode("overwrite").parquet(staged.toString)
    def put(name: String, body: String): Unit = {
      val out = fs.create(new Path(staged, name), true)
      try out.write(body.getBytes("UTF-8")) finally out.close()
    }
    put("_sources", absorbed.sorted.map { case (k, v) => s"$k $v\n" }.mkString)
    put("_fp", mergedFp)
    StagedCommit.commit(fs, partsMarker(parts),
      StagedCommit.Replace(staged.getName, target) +:
        sourceNames.filterNot(_ == target).map(StagedCommit.Drop))
  }

  /** Public maintenance pair for the `b=`-keyed sketch artifacts
    * (CMS / quantile / exact-agg — and any future default-fingerprint
    * family): per-dir file compaction and the dir-count-bounding
    * merge. Their parts land coalesced to one file, so the MERGE is
    * the one that matters at 10⁵ micro-batches — without it every
    * serve's fold pays an O(batches) listing + footer read. */
  def compactArtifactParts(spark: org.apache.spark.sql.SparkSession, path: String,
                           targetFileBytes: Long = 128L * 1024 * 1024): Unit = {
    graft.sources.IndexMeta.read(spark, s"$path/meta.json", "batch artifact")
    compactBatchParts(spark, path, "batch artifact", "b=", targetFileBytes)
  }

  def mergeArtifactParts(spark: org.apache.spark.sql.SparkSession, path: String,
                         maxDirs: Int = 64): Unit = {
    graft.sources.IndexMeta.read(spark, s"$path/meta.json", "batch artifact")
    mergeBatchParts(spark, path, "batch artifact", "b=", maxDirs)
  }

  /** The HLL profile family's merge — `s=` shard keys and the
    * ESTIMATE-based fingerprint ([[profileIngestShard]]: sketch BYTES
    * are not recomputation-deterministic, register state is), so the
    * re-derivation the integrity refusal runs matches what ingest
    * stored. */
  def mergeProfileShards(spark: org.apache.spark.sql.SparkSession, path: String,
                         maxDirs: Int = 64): Unit = {
    graft.sources.IndexMeta.read(spark, s"$path/meta.json", "profile artifact")
    mergeBatchParts(spark, path, "profile artifact", "s=", maxDirs,
      fpRow = _ => xxhash64(col("g"), hll_sketch_estimate(col("sk"))))
  }

  /** Initialize a persisted CMS artifact at `path`: the parameter meta
    * that every batch fold is checked against. Contributions land as
    * per-batch sketches under `parts/b=<batchKey>` and the serving
    * read folds them by linearity — the artifact form of [[mergeCms]].
    *
    * Replay discipline: a COUNTING structure cannot anti-join replays
    * away the way the id-keyed indexes do (re-adding a delivered batch
    * doubles its counts with no key to detect it by). Keying each
    * contribution by its batch id with fingerprint-guarded overwrite-
    * in-place ([[landBatchPart]]) makes the fold idempotent instead:
    * an identical redelivery is a no-op, a crash mid-write is healed
    * by the retry, and a COLLIDING batch key (reset checkpoint /
    * second writer) fails loudly. Single writer, like every index
    * family. */
  def initCmsArtifact(spark: org.apache.spark.sql.SparkSession, path: String,
                      depth: Int = 4, width: Int = 512): Unit = {
    require(depth >= 1 && depth <= 16, s"depth must be in 1..16, got $depth")
    require(width >= 2, s"width must be >= 2, got $width")
    initArtifact(spark, path, "CMS artifact",
      Seq("depth" -> depth.toLong, "width" -> width.toLong))
  }

  /** Fold one batch's keys into the artifact (meta-checked dims; see
    * [[initCmsArtifact]] for the idempotence contract). */
  def cmsIngestBatch(df: DataFrame, keyCol: String, path: String,
                     batchKey: Long): Unit = {
    val spark = df.sparkSession
    val meta = graft.sources.IndexMeta.read(spark, s"$path/meta.json", "CMS artifact")
    landBatchPart(
      countMinSketch(df, keyCol, meta("depth").toInt, meta("width").toInt),
      path, s"b=$batchKey", "CMS artifact")
  }

  /** The artifact's merged sketch: Σ over all batch partitions —
    * exact by linearity, schema-stable when no batch has landed. */
  def readCmsArtifact(spark: org.apache.spark.sql.SparkSession,
                      path: String): DataFrame = {
    graft.sources.IndexMeta.read(spark, s"$path/meta.json", "CMS artifact")
    cmsFold(spark, path)
  }

  private def cmsFold(spark: org.apache.spark.sql.SparkSession,
                      path: String): DataFrame =
    foldParts(spark, path, "b=")(
      _.groupBy("r", "c").agg(sum(col("cnt")).as("cnt")),
      spark.range(0).select(col("id").cast("int").as("r"),
        col("id").cast("int").as("c"), col("id").as("cnt")))

  /** Point estimates against the artifact — dims come from the meta
    * (read once), so a caller cannot probe with mismatched hashing. */
  def cmsArtifactLookup(spark: org.apache.spark.sql.SparkSession, path: String,
                        keys: DataFrame, keyCol: String): DataFrame = {
    val meta = graft.sources.IndexMeta.read(spark, s"$path/meta.json", "CMS artifact")
    cmsLookup(cmsFold(spark, path), keys, keyCol,
      meta("depth").toInt, meta("width").toInt)
  }

  // ── persisted HLL profile artifact (mergeable distinct-counts) ─────

  /** Initialize a persisted per-group distinct-count profile at
    * `path`: Datasketches HLL sketches (Spark's `hll_sketch_agg`
    * family) keyed by a group column, one binary sketch per
    * (shard, group). The 100 TB profile shape: each shard/day/stream
    * batch contributes its own sketches ONCE, and "distinct keys per
    * group so far" is served by unioning kilobyte-sized binaries —
    * no re-scan of history, ever. Same artifact discipline as
    * [[initCmsArtifact]]: dims (lgConfigK) frozen in meta and checked
    * at every fold; per-shard contributions land under
    * `parts/s=<shardKey>` with the same fingerprint-guarded
    * overwrite-in-place replay discipline ([[landBatchPart]]:
    * identical redelivery skips, colliding shard keys fail loudly —
    * sketches, like counters, have no row id to anti-join a
    * redelivery away by). */
  def initProfileArtifact(spark: org.apache.spark.sql.SparkSession, path: String,
                          lgConfigK: Int = 12): Unit = {
    require(lgConfigK >= 4 && lgConfigK <= 21,
      s"lgConfigK must be in 4..21 (Datasketches HLL bounds), got $lgConfigK")
    initArtifact(spark, path, "profile artifact",
      Seq("lgConfigK" -> lgConfigK.toLong))
  }

  /** Fold one shard's (group, key) pairs into the artifact: one
    * hash-agg to per-group sketches (map-side partial sketches merge
    * before the shuffle — shuffle volume is sketch-sized), stored as
    * (g string, sk binary) under this shard's partition. */
  def profileIngestShard(df: DataFrame, groupCol: String, keyCol: String,
                         path: String, shardKey: Long): Unit = {
    val spark = df.sparkSession
    val meta = graft.sources.IndexMeta.read(spark, s"$path/meta.json", "profile artifact")
    landBatchPart(
      df.select(col(groupCol).cast("string").as("g"), col(keyCol).as("k"))
        .groupBy("g")
        .agg(hll_sketch_agg(col("k"), lit(meta("lgConfigK").toInt)).as("sk")),
      path, s"s=$shardKey", "profile artifact",
      // HLL sketch BYTES are not recomputation-deterministic (set-mode
      // serialization depends on hash-table layout); register STATE
      // and hence the estimate are — fingerprint that
      fpRow = _ => xxhash64(col("g"), hll_sketch_estimate(col("sk"))))
  }

  // ── exact materialized aggregate (incremental view maintenance) ────

  /** The fixed-point tiers take LONG values by contract (sums and
    * bucket indices replay exactly; fp would drift) — reject
    * fractional input types up front rather than silently truncating
    * them through `cast("long")` (round(x*100) cents is the caller's
    * explicit, visible step). */
  private def requireIntegral(df: DataFrame, valueCol: String, what: String): Unit = {
    val dt = df.schema(valueCol).dataType
    require(dt == org.apache.spark.sql.types.LongType
        || dt == org.apache.spark.sql.types.IntegerType
        || dt == org.apache.spark.sql.types.ShortType
        || dt == org.apache.spark.sql.types.ByteType,
      s"$what: $valueCol must be an integral fixed-point column " +
        s"(got $dt) — convert explicitly, e.g. round(x * 100).cast(\"long\")")
  }

  /** 60-bit md5 contract id for the additive-agg artifact: re-init
    * with different (group, value) columns must fail the geometry
    * guard the same way mismatched sketch dims do — folding batches
    * grouped by DIFFERENT semantics into one view would serve silently
    * wrong aggregates, the worst failure an IVM tier can have. */
  private def aggContract(groupCol: String, valueCol: String): Long =
    java.lang.Long.parseLong(
      org.apache.commons.codec.digest.DigestUtils
        .md5Hex(s"$groupCol:$valueCol").substring(0, 15), 16)

  /** Initialize an EXACT materialized-aggregate artifact at `path`:
    * per-group (count, sum) maintained batch-by-batch — the additive
    * complement of the CMS/HLL/quantile sketch artifacts, for the
    * signals that need no approximation because count and sum are
    * themselves mergeable. This is incremental view maintenance in
    * artifact form: each ingest lands ONE pre-aggregated per-batch
    * frame under `parts/b=<batchKey>` (shuffle is group-cardinality-
    * sized, never corpus-sized) and "count/sum/avg per group over
    * everything so far" is served by folding part frames — no re-scan
    * of history, ever, and unlike the sketches the answer is EXACT.
    * Same single-writer replay discipline ([[landBatchPart]]):
    * identical redelivery is a no-op, colliding batch keys fail
    * loudly. The (groupCol, valueCol) contract is frozen in meta. */
  def initAggArtifact(spark: org.apache.spark.sql.SparkSession, path: String,
                      groupCol: String, valueCol: String): Unit =
    initArtifact(spark, path, "agg artifact",
      Seq("contract" -> aggContract(groupCol, valueCol)))

  /** Fold one batch's rows into the artifact: one hash agg to
    * (g, cnt, sum) — `valueCol` must be the house fixed-point long
    * (sums of longs replay exactly; fp sums would drift with
    * partition order). Meta-checked against the frozen contract. */
  def aggIngestBatch(df: DataFrame, groupCol: String, valueCol: String,
                     path: String, batchKey: Long): Unit = {
    val spark = df.sparkSession
    val meta = graft.sources.IndexMeta.read(spark, s"$path/meta.json", "agg artifact")
    require(meta.get("contract").contains(aggContract(groupCol, valueCol)),
      s"agg artifact at $path was initialized for a different (group, value) " +
        s"contract — folding ($groupCol, $valueCol) batches into it would serve " +
        "silently wrong aggregates; initialize a separate artifact")
    requireIntegral(df, valueCol, "aggIngestBatch")
    landBatchPart(
      // a null value would be COUNTED but not SUMMED — cnt and sum
      // silently disagree about n; fail loudly instead
      df.select(col(groupCol).cast("string").as("g"),
          when(col(valueCol).isNull, raise_error(
            lit(s"aggIngestBatch: null $valueCol — cnt would include the " +
              "row while sum skips it"))).otherwise(col(valueCol))
            .cast("long").as("__v"))
        .groupBy("g")
        .agg(count(lit(1)).as("cnt"), sum(col("__v")).as("sum")),
      path, s"b=$batchKey", "agg artifact")
  }

  /** The materialized view: per-group (cnt, sum) over every ingested
    * batch — exact by additivity, schema-stable when empty. avg is
    * the caller's sum/cnt (kept out of the artifact: a stored ratio
    * is not mergeable; the two additive components are). */
  def readAggArtifact(spark: org.apache.spark.sql.SparkSession,
                      path: String): DataFrame = {
    graft.sources.IndexMeta.read(spark, s"$path/meta.json", "agg artifact")
    foldParts(spark, path, "b=")(
      _.groupBy("g").agg(sum(col("cnt")).as("cnt"), sum(col("sum")).as("sum")),
      spark.range(0).select(col("id").cast("string").as("g"),
        col("id").as("cnt"), col("id").as("sum")))
  }

  // ── log-histogram quantile sketch (HDR-histogram / DDSketch shape) ─

  /** Log-scaled histogram of non-negative fixed-point `valueCol`
    * (long, house cents idiom) per `groupCol` — the mergeable,
    * RELATIVE-error-bounded quantile sketch (the HdrHistogram /
    * DDSketch [Masson VLDB 2019] bucketing, in all-integer form):
    * value v ≥ 2^mbits buckets by (e, s) where e = ⌊log2 v⌋ and s is
    * the next `mbits` mantissa bits (s = (v >> (e − mbits)) − 2^mbits),
    * so each bucket spans a 2^−mbits relative slice of the value
    * axis; values below 2^mbits get an EXACT bucket each (s = v —
    * the linear regime, where relative buckets would be coarser than
    * the integers themselves). Bucket lower bounds are strictly
    * increasing in (e, s) lexicographic order — the property the
    * quantile walk relies on.
    *
    * Why this over GK/KLL/t-digest for the ARTIFACT tier: counters
    * are sums, so sketches merge EXACTLY under union (per-shard
    * build + linear fold, the CMS discipline) and the whole
    * structure — bucket index included — is integer arithmetic that
    * replays verbatim in any SQL engine (⌊log2⌋ via binary-string
    * length, never libm, whose last-ulp differences at bucket
    * boundaries would flip indices between engines). State per group
    * is ≤ ~(64 − mbits + 1)·2^mbits buckets REGARDLESS of corpus
    * size; quantile answers carry relative error < 2^−mbits.
    *
    * One hash aggregation; map-side partial combine collapses each
    * partition to sketch-sized rows before the shuffle. Negative
    * values fail loudly — silently bucketing two's-complement bits
    * would serve garbage quantiles. Output: (g, e, s, cnt), sparse. */
  def logHistogram(df: DataFrame, groupCol: String, valueCol: String,
                   mbits: Int = 6): DataFrame = {
    require(mbits >= 2 && mbits <= 20, s"mbits must be in 2..20, got $mbits")
    requireIntegral(df, valueCol, "logHistogram")
    // nulls fail as loudly as negatives: a null would fall through to
    // a (null, null) bucket whose counted-but-unrankable mass deflates
    // every quantile — and Spark walks nulls FIRST while SQL engines
    // walk them LAST, so it couldn't replay either
    df.select(col(groupCol).cast("string").as("g"),
        when(col(valueCol).isNull || col(valueCol) < 0, raise_error(concat(
          lit(s"logHistogram: null or negative $valueCol: "),
          coalesce(col(valueCol).cast("string"), lit("NULL")))).cast("long"))
          .otherwise(col(valueCol).cast("long")).as("__v"))
      .withColumn("e", (length(bin(col("__v"))) - 1).cast("int"))
      .withColumn("s",
        when(col("e") < mbits, col("__v"))
          .otherwise(expr(s"shiftright(__v, e - $mbits)") - lit(1L << mbits))
          .cast("long"))
      .groupBy("g", "e", "s")
      .agg(count(lit(1)).as("cnt"))
  }

  /** Elementwise sum of two log-histograms built with the same mbits:
    * sketch(A) ⊕ sketch(B) = sketch(A ⊎ B) exactly (linearity — the
    * same per-shard-build-then-fold contract as [[mergeCms]]). */
  def mergeLogHistogram(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy("g", "e", "s").agg(sum(col("cnt")).as("cnt"))

  /** Quantile estimates from a log-histogram: for each basis-point
    * rank q ∈ `qsBp` (1..10000 — integer basis points, so the target
    * rank ⌈q·n/10000⌉ is exact integer arithmetic, no fp rank drift
    * between engines) return the LOWER BOUND of the bucket holding
    * the rank-th smallest value. In the linear regime that IS the
    * exact rank-percentile; in the log regime it undershoots by less
    * than 2^−mbits relative. Output: (g, q_bp, est, n).
    *
    * The walk is a per-group cumulative sum in (e, s) order over
    * sketch-sized input (never corpus-sized), then min(lower bound)
    * over qualifying buckets — valid because lower bounds are
    * monotonic in the walk order. The q_bp spine is values-literal
    * and broadcast. */
  def quantileLookup(sketch: DataFrame, qsBp: Seq[Int],
                     mbits: Int = 6): DataFrame = {
    require(mbits >= 2 && mbits <= 20, s"mbits must be in 2..20, got $mbits")
    require(qsBp.nonEmpty && qsBp.forall(q => q >= 1 && q <= 10000),
      s"q basis points must be in 1..10000, got $qsBp")
    val spark = sketch.sparkSession
    import scala.jdk.CollectionConverters._
    val qdf = spark.createDataFrame(
      qsBp.distinct.map(q => org.apache.spark.sql.Row(q)).asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("q_bp",
          org.apache.spark.sql.types.IntegerType, nullable = false))))
    val walk = Window.partitionBy("g").orderBy("e", "s")
    sketch
      .withColumn("cum", sum(col("cnt")).over(walk))
      .withColumn("n", sum(col("cnt")).over(Window.partitionBy("g")))
      .withColumn("lb",
        when(col("e") < mbits, col("s"))
          .otherwise(expr(s"shiftleft(${1L << mbits} + s, e - $mbits)")))
      .crossJoin(broadcast(qdf))
      .filter(col("cum") * 10000 >= col("q_bp").cast("long") * col("n"))
      .groupBy("g", "q_bp")
      .agg(min(col("lb")).as("est"), min(col("n")).as("n"))
  }

  /** PSI between two log-histogram sketches with the same mbits —
    * the drift monitor ([[psi]]) computed from STANDING sketch state
    * instead of two corpus scans: at 100 TB, "did this week's corpus
    * shift against last week's" is answered from two kilobyte-scale
    * artifacts ([[readQuantileArtifact]] / [[logHistogram]] frames),
    * never a re-read. Per group: the bucket universe is the UNION of
    * both sketches' observed (e, s) buckets, Laplace smoothing over
    * that union's size (the log-bucket space is sparse and unbounded,
    * so the fixed-grid densify of [[psi]] doesn't apply; the union
    * definition is deterministic given the two sketches — same
    * smoothing scale in any engine). Returns per-bucket terms
    * (g, e, s, n_base, n_cur, term); callers fold `term` in (e, s)
    * bucket order (the q_psi_drift idiom) so the double sum replays
    * engine-exactly. */
  def psiFromLogHistograms(base: DataFrame, current: DataFrame): DataFrame = {
    val u = base.select(col("g"), col("e"), col("s"),
        col("cnt").as("n_base"), lit(0L).as("n_cur"))
      .unionByName(current.select(col("g"), col("e"), col("s"),
        lit(0L).as("n_base"), col("cnt").as("n_cur")))
      .groupBy("g", "e", "s")
      .agg(sum(col("n_base")).as("n_base"), sum(col("n_cur")).as("n_cur"))
    val tot = u.groupBy("g").agg(
      sum(col("n_base")).as("tb"), sum(col("n_cur")).as("tc"),
      count(lit(1)).as("nbk"))
    u.join(broadcast(tot), Seq("g"))
      .withColumn("p", (col("n_base") + lit(1.0)) / (col("tb") + col("nbk")))
      .withColumn("q", (col("n_cur") + lit(1.0)) / (col("tc") + col("nbk")))
      .withColumn("term", (col("p") - col("q")) * log(col("p") / col("q")))
      .select(col("g"), col("e"), col("s"),
        col("n_base"), col("n_cur"), col("term"))
  }

  /** Initialize a persisted quantile-profile artifact at `path`:
    * mbits frozen in meta, per-batch log-histograms land under
    * `parts/b=<batchKey>` with the fingerprint-guarded overwrite-in-
    * place replay discipline ([[landBatchPart]]), and the serving
    * read folds by linearity — the quantile member of the CMS/HLL
    * artifact family (same single-writer, same loud-fail guards). */
  def initQuantileArtifact(spark: org.apache.spark.sql.SparkSession,
                           path: String, mbits: Int = 6): Unit = {
    require(mbits >= 2 && mbits <= 20, s"mbits must be in 2..20, got $mbits")
    initArtifact(spark, path, "quantile artifact",
      Seq("mbits" -> mbits.toLong))
  }

  /** Fold one batch's (group, value) rows into the artifact
    * (meta-checked mbits; idempotent under redelivery, loud under a
    * colliding batch key — see [[initCmsArtifact]]). */
  def quantileIngestBatch(df: DataFrame, groupCol: String, valueCol: String,
                          path: String, batchKey: Long): Unit = {
    val spark = df.sparkSession
    val meta = graft.sources.IndexMeta.read(spark, s"$path/meta.json",
      "quantile artifact")
    landBatchPart(
      logHistogram(df, groupCol, valueCol, meta("mbits").toInt),
      path, s"b=$batchKey", "quantile artifact")
  }

  /** The artifact's merged sketch: Σ over all batch partitions —
    * exact by linearity, schema-stable when no batch has landed. */
  def readQuantileArtifact(spark: org.apache.spark.sql.SparkSession,
                           path: String): DataFrame = {
    graft.sources.IndexMeta.read(spark, s"$path/meta.json", "quantile artifact")
    foldParts(spark, path, "b=")(
      _.groupBy("g", "e", "s").agg(sum(col("cnt")).as("cnt")),
      spark.range(0).select(col("id").cast("string").as("g"),
        col("id").cast("int").as("e"), col("id").as("s"), col("id").as("cnt")))
  }

  /** Quantile estimates served from the artifact — mbits comes from
    * the meta (read once), so a caller cannot walk buckets built
    * under a different mantissa geometry. */
  def quantileArtifactLookup(spark: org.apache.spark.sql.SparkSession,
                             path: String, qsBp: Seq[Int]): DataFrame = {
    val meta = graft.sources.IndexMeta.read(spark, s"$path/meta.json",
      "quantile artifact")
    quantileLookup(readQuantileArtifact(spark, path), qsBp,
      meta("mbits").toInt)
  }

  /** Serve the artifact: union each group's shard sketches and
    * estimate — (g, approx_distinct). Union of HLL sketches over
    * disjoint-or-not shards is the sketch of the union of their
    * inputs (the mergeability that makes the artifact exact-in-
    * structure even when shards overlap in keys), so the estimate
    * carries the configured rsd (~1.04/√2^lgConfigK) regardless of
    * how the corpus was sharded. Schema-stable empty frame before
    * any shard lands. */
  def readProfileArtifact(spark: org.apache.spark.sql.SparkSession,
                          path: String): DataFrame = {
    graft.sources.IndexMeta.read(spark, s"$path/meta.json", "profile artifact")
    foldParts(spark, path, "s=")(
      _.groupBy("g")
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"), lit(false)))
          .as("approx_distinct")),
      spark.range(0).select(col("id").cast("string").as("g"),
        col("id").as("approx_distinct")))
  }
}
