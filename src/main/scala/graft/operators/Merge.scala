package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Keyed upsert ("merge") jobs — the Spark re-expression of the
  * reference's Postgres `INSERT ... ON CONFLICT` semantics (SURVEY.md
  * §2.8, U1-U7):
  *
  *   - DO-UPDATE  (U1 stock_price_history, U4 news_stock_analysis,
  *                 U5 stock_predictions): incoming batch wins on key
  *                 collision. Reference: full_stock_pipeline.py:405-415.
  *   - DO-NOTHING (U2 trading_patterns, U3 daily_company_news,
  *                 U7 backfill): existing target wins.
  *                 Reference: full_stock_pipeline.py:449,471,482.
  *   - OVERWRITE  (U6 tech_companies): full replace.
  *                 Reference: fetch_tech_companies.py:66-89.
  *
  * Mechanics: tag-union + window row_number over the key, keeping the
  * preferred provenance; same-key rows of one side (two rows for one
  * key in a batch) resolve to the row with the highest full-row
  * `xxhash64`, the [[graft.sources.Sinks.jdbcUpsert]] rule, so a
  * bootstrap and every replay persist the same survivor. Columns are
  * aligned by name (`unionByName`), so schema drift between target and
  * updates is an explicit error.
  *
  * Scale: one shuffle on the merge key — the same shuffle a SQL MERGE
  * would pay. On a partitioned lake, pair with dynamic partition
  * overwrite (`spark.sql.sources.partitionOverwriteMode=dynamic`) so
  * only partitions containing updated keys rewrite; within a batch both
  * sides should be bucketed by key to make the merge shuffle-free.
  * Idempotence (re-applying a batch is a no-op) is property-tested in
  * MergeSpec.
  */
object Merge {
  private val provCol = "__graft_prov"
  private val seqCol  = "__graft_seq"

  /** One row per `keys` of `df`: the first under `prefer`, then the
    * highest hash of `cols`. */
  private def survivors(df: DataFrame, keys: Seq[String], cols: Seq[String],
                        prefer: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(prefer :+ xxhash64(cols.map(col): _*).desc: _*)
    df.withColumn(seqCol, row_number().over(w))
      .filter(col(seqCol) === 1)
      .drop(seqCol)
  }

  private def merge(target: DataFrame, updates: DataFrame, keys: Seq[String],
                    updatesWin: Boolean): DataFrame = {
    val cols = target.columns.toSeq
    require(keys.forall(cols.contains), s"merge keys $keys must exist in target")
    val t = target.withColumn(provCol, lit(if (updatesWin) 1 else 0))
    val u = updates.select(cols.map(col): _*).withColumn(provCol, lit(if (updatesWin) 0 else 1))
    survivors(t.unionByName(u), keys, cols, Seq(col(provCol))).drop(provCol)
  }

  /** ON CONFLICT (keys) DO UPDATE — updates win. Last-write-wins is
    * undefined within a batch, as in the reference's per-row upsert
    * loop, so same-key updates keep the deterministic survivor. */
  def upsert(target: DataFrame, updates: DataFrame, keys: Seq[String]): DataFrame =
    merge(target, updates, keys, updatesWin = true)

  /** ON CONFLICT (keys) DO NOTHING — existing rows win. */
  def insertIgnore(target: DataFrame, updates: DataFrame, keys: Seq[String]): DataFrame =
    merge(target, updates, keys, updatesWin = false)

  /** U6 — overwrite-upsert: rebuild the dim from the incoming batch. */
  def overwrite(updates: DataFrame, keys: Seq[String]): DataFrame =
    survivors(updates, keys, updates.columns.toSeq, Nil)

  /** Slowly-changing-dimension type 2 — the versioned form of the
    * dimension upserts above (U6's tech_companies dim, kept with full
    * history instead of overwrite). `dim` carries `keys ++ attrs ++
    * (valid_from, valid_to, is_current)`; `updates` is a snapshot of
    * `keys ++ attrs` observed at `asOf`.
    *
    *  - key in both, any attr differs (null-safe) → close the current
    *    version (`valid_to = asOf`, `is_current = false`) and open a
    *    new one (`valid_from = asOf`, open-ended).
    *  - key only in updates → open a first version.
    *  - unchanged or absent from the snapshot → row passes through.
    *
    * Scale shape: NOT a full-outer join — the current slice and the
    * snapshot are tag-unioned and grouped by key (same skeleton as
    * [[merge]]), so the whole operation is ONE key shuffle with
    * map-side combine, no sort, and no skew exposure (a key groups at
    * most two rows). Closed history rows bypass the shuffle entirely —
    * cost tracks the LIVE key count, not accumulated history. Each key
    * group then emits its 1-2 output rows in a single generate pass.
    * Re-applying the same snapshot at the same `asOf` is a no-op
    * (idempotent, MergeSpec). */
  def scd2(dim: DataFrame, updates: DataFrame, keys: Seq[String],
           asOf: String): DataFrame = {
    val metaCols = Seq("valid_from", "valid_to", "is_current")
    val cols = dim.columns.toSeq
    require(metaCols.forall(cols.contains), s"dim needs $metaCols columns")
    require(keys.forall(cols.contains), s"scd2 keys $keys must exist in dim")
    val attrs = cols.filterNot(keys.contains).filterNot(metaCols.contains)
    val fromType = dim.schema("valid_from").dataType
    val toType   = dim.schema("valid_to").dataType
    val asOfFrom = lit(asOf).cast(fromType)
    val closeTo  = lit(asOf).cast(toType)
    val openTo   = lit(null).cast(toType)

    val history = dim.filter(!col("is_current"))
    val tSide = dim.filter(col("is_current")).select(
      keys.map(col) ++ Seq(struct(attrs.map(col): _*).as("payload"),
        col("valid_from"), lit(0).as("prov")): _*)
    val uSide = updates.dropDuplicates(keys).select(
      keys.map(col) ++ Seq(struct(attrs.map(col): _*).as("payload"),
        asOfFrom.as("valid_from"), lit(1).as("prov")): _*)
    // one shuffle: fold the (≤1 current, ≤1 update) rows of each key;
    // the struct wrap keeps attr nulls distinguishable from "side
    // absent", and a single null-safe struct compare detects change
    val grouped = tSide.unionByName(uSide)
      .groupBy(keys.map(col): _*)
      .agg(
        max(when(col("prov") === 0,
          struct(col("payload").as("p"), col("valid_from").as("vf")))).as("t"),
        max(when(col("prov") === 1, struct(col("payload").as("p")))).as("u"))
    val changed = !(col("t.p") <=> col("u.p"))
    def out(payload: Column, vf: Column, vt: Column, cur: Column): Column =
      struct(attrs.map(a => payload.getField(a).as(a)) ++
        Seq(vf.as("valid_from"), vt.as("valid_to"), cur.as("is_current")): _*)
    val emitted = grouped.select(
      keys.map(col) :+ explode(array_compact(array(
        // passthrough: absent from the snapshot, or unchanged
        when(col("t").isNotNull && (col("u").isNull || !changed),
          out(col("t.p"), col("t.vf"), openTo, lit(true))),
        // close the changed current version
        when(col("t").isNotNull && col("u").isNotNull && changed,
          out(col("t.p"), col("t.vf"), closeTo, lit(false))),
        // open the new version, or the first version of a new key
        when(col("u").isNotNull && (col("t").isNull || changed),
          out(col("u.p"), asOfFrom, openTo, lit(true)))))).as("r"): _*)
      .select(keys.map(col) ++ attrs.map(a => col(s"r.$a"))
        ++ metaCols.map(m => col(s"r.$m")): _*)
      .select(cols.map(col): _*)
    history.unionByName(emitted)
  }
}
