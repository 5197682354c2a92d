package graft.sources

import graft.operators.Merge
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** File sinks (SURVEY.md §2.1).
  *
  *  - S2: date-foldered JSON raw zone — the reference writes
  *    `YYYY/MM/DD/{symbol}_{yyyymmdd}.json` (full_stock_pipeline.py:104-111);
  *    Spark's equivalent is hive-style `partitionBy(y,m,d)`, which
  *    Catalyst prunes on read.
  *  - S5: parquet processed zone (full_stock_pipeline.py:222-235).
  *  - S7: overwrite staging (truncate-and-replace semantics,
  *    full_stock_pipeline.py:347-354).
  *  - S8-equivalent: `mergeInto` — read-merge-write with the §2.8 rules
  *    instead of the reference's row-at-a-time JDBC upsert loop.
  *
  * S3 (object-store upload) needs no code: Spark writes `gs://`/`s3a://`
  * paths through the Hadoop FS layer directly.
  */
object Sinks {

  /** S2 — raw zone: JSON partitioned by date folders derived from `dateCol`. */
  def rawJsonZone(df: DataFrame, dateCol: String, path: String): Unit =
    df.withColumn("y", date_format(col(dateCol), "yyyy"))
      .withColumn("m", date_format(col(dateCol), "MM"))
      .withColumn("dd", date_format(col(dateCol), "dd"))
      .write.mode(SaveMode.Append).partitionBy("y", "m", "dd").json(path)

  /** S5 — processed zone: parquet partitioned by the date column. */
  def processedParquet(df: DataFrame, dateCol: String, path: String): Unit =
    df.write.mode(SaveMode.Append).partitionBy(dateCol).parquet(path)

  /** S7 — staging: truncate-and-replace. */
  def overwriteStaging(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(path)

  /** Files per partition dir of every [[mergeIntoPartitioned]] write. */
  private val PartitionFiles = 4

  /** Bound a partitioned write's files-per-partition-dir: cluster the
    * rows by (partition value, a deterministic key-hash bucket in
    * [0, PartitionFiles)) so each partition dir receives at most
    * [[PartitionFiles]] files, whatever `spark.sql.shuffle.partitions`
    * the merge plan ran at. Without this every merged partition dir
    * collected one file per shuffle task (32 here), and the standing
    * table's reads paid ~files × open-latency forever — the classic
    * lake small-files leak, measured as the dominant fixed cost of the
    * day-grain pipeline reads (r19). The bucket is a hash of the merge
    * KEYS (never rand()) so retries and replays lay out identically;
    * parallelism per partition stays [[PartitionFiles]] tasks. */
  private def boundedPartitionLayout(df: DataFrame, keys: Seq[String],
                                     partitionCol: String): DataFrame = {
    // Explicit width (r22, guide §2.5): without it AQE coalesces this
    // byte-light exchange to ONE task, and that task then writes every
    // `col=value` dir of the staged output serially — measured as four
    // ~0.5 s single-task write stages inside one full pipeline replay.
    // The session's shuffle parallelism is the planner's own pre-AQE
    // width; files-per-dir stays bounded by the BUCKET column (each
    // (partition, bucket) group hashes to one task whatever the task
    // count), so the layout contract is unchanged.
    val nW = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    df.repartition(nW, col(partitionCol),
      pmod(xxhash64(keys.map(col): _*), lit(PartitionFiles)))
  }

  /** S8/U* — keyed merge into a partitioned parquet target that only
    * rewrites the partitions the batch touches: read the TOUCHED slice
    * of the target (partition-pruned scan), merge with the batch, write
    * back with dynamic partition overwrite. Untouched partitions are
    * neither read nor rewritten — at 100 TB a daily batch costs one
    * day's partition, not the table. Requires every merge key group to
    * live in one partition (true when partitionCol is derived from the
    * key, as with date-keyed facts). Written partitions carry at most
    * [[PartitionFiles]] files ([[boundedPartitionLayout]]). */
  def mergeIntoPartitioned(updates: DataFrame, targetPath: String, keys: Seq[String],
                           partitionCol: String, doUpdate: Boolean): Unit = {
    require(keys.contains(partitionCol),
      s"partition column $partitionCol must be part of the merge key")
    val spark = updates.sparkSession
    val targetP = new Path(targetPath)
    val fs = targetP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    StagedCommit.recover(fs, markerOf(targetP))
    if (!fs.exists(targetP)) {
      // Crash-atomic bootstrap (ADVICE r20 medium): the first write is
      // staged and committed as ONE whole-dir replace, never written
      // live. A direct write crashing midway would leave a
      // partial-but-existing target dir, and every caller that gates an
      // incremental path on fs.exists(target) — Pipeline.predictDay's
      // witness fold above all — would then take the delta path against
      // a silently incomplete table forever. With the replace, existence
      // of the target is a completeness guarantee.
      StagedCommit.commit(fs, markerOf(targetP), Seq(stage(
        boundedPartitionLayout(Merge.overwrite(updates, keys), keys, partitionCol), targetP, Seq(partitionCol))))
      return
    }
    val touched = updates.select(partitionCol).distinct().collect()
      .map(_.get(0)).toSeq
    val slice = spark.read.parquet(targetPath)
      .filter(col(partitionCol).isInCollection(touched))
    val merged = if (doUpdate) Merge.upsert(slice, updates, keys)
                 else Merge.insertIgnore(slice, updates, keys)
    // The merged slice is staged (so the plan never overwrites files
    // it is scanning — no lineage truncation, no executor-memory
    // materialization), then ONE commit replaces each touched
    // partition dir with its staged twin. After a crash the commit
    // rolls forward on the next entry; the merge itself is idempotent,
    // so a retry converges.
    val staged = stagedOf(targetP)
    boundedPartitionLayout(merged, keys, partitionCol)
      .write.mode(SaveMode.Overwrite).partitionBy(partitionCol).parquet(staged.toString)
    val steps = fs.listStatus(staged).filter(_.isDirectory)
      .map(_.getPath.getName) // hive-style "col=value"
      .map(n => StagedCommit.Replace(s"${staged.getName}/$n", s"${targetP.getName}/$n"))
    StagedCommit.commit(fs, markerOf(targetP), steps.toSeq :+ StagedCommit.Drop(staged.getName))
  }

  /** The staging dir and the commit marker of the table at `target`:
    * siblings, so a bootstrap's staging never makes `target` exist. */
  private def stagedOf(target: Path) = new Path(target.getParent, target.getName + "__staged")
  private def markerOf(target: Path) = new Path(target.getParent, target.getName + "__commit")

  /** Roll forward a crashed commit of the table at `path`, the same
    * recovery its next merge runs first. A job that READS a table
    * before merging into it calls this at entry: a crash inside a
    * replace has already moved a live partition into the marker's
    * trash, and a read before recovery would miss it. One `exists`
    * on a clean table. */
  private[graft] def recover(spark: SparkSession, path: String): Unit = {
    val p = new Path(path)
    StagedCommit.recover(p.getFileSystem(spark.sparkContext.hadoopConfiguration), markerOf(p))
  }

  /** Write `df` whole to the staging dir and return the whole-dir
    * [[StagedCommit.Replace]] that promotes it over `target`, relative
    * to `target`'s parent dir, where every marker that commits it
    * lives. */
  private def stage(df: DataFrame, target: Path, partitionCols: Seq[String] = Nil): StagedCommit.Step = {
    val staged = stagedOf(target)
    val w = df.write.mode(SaveMode.Overwrite)
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .parquet(staged.toString)
    StagedCommit.Replace(staged.getName, target.getName)
  }

  /** S8/U* — keyed merge into an unpartitioned parquet target: read
    * target ∪ updates, resolve by key, rewrite. Prefer
    * [[mergeIntoPartitioned]] for lake-scale targets.
    *
    * Crash-safe: the merged result is staged and committed over the
    * target as one whole-dir replace; a commit a crash left pending is
    * rolled forward on entry, so a retry after a crash never rebuilds
    * the table from the current batch alone.
    */
  def mergeInto(updates: DataFrame, targetPath: String, keys: Seq[String],
                doUpdate: Boolean): Unit = {
    val spark = updates.sparkSession
    val targetP = new Path(targetPath)
    val fs = targetP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    StagedCommit.recover(fs, markerOf(targetP))
    val merged =
      if (!fs.exists(targetP)) Merge.overwrite(updates, keys)
      else {
        val target = spark.read.parquet(targetPath)
        if (doUpdate) Merge.upsert(target, updates, keys)
        else Merge.insertIgnore(target, updates, keys)
      }
    // rewrite via the staging dir: the source scan and the overwrite
    // target must not be the same files
    StagedCommit.commit(fs, markerOf(targetP), Seq(stage(merged, targetP)))
  }

  /** Small-files compaction: rewrite the parquet table at `path` into
    * ceil(bytes / targetFileBytes) files (crash-safe staged replace,
    * same recovery as [[mergeInto]]). The lake's standing
    * maintenance job — streaming ingest and per-day merges accrete
    * small files; scan cost at 100 TB is dominated by file count. */
  def compact(spark: SparkSession, path: String,
              targetFileBytes: Long = 128L * 1024 * 1024): Unit =
    compactUnder(spark, path, Nil, targetFileBytes)

  /** [[compact]] for a hive-partitioned table, PRESERVING the partition
    * layout (a plain compact would flatten `col=value` dirs and destroy
    * the partition pruning the layout exists for — IVF cell lists,
    * inverted-index term buckets, date-partitioned facts). Rows are
    * hashed on the partition column across ceil(bytes/target) tasks, so
    * each task writes at most one file per partition value it holds:
    * small partitions compact to one file, and per-partition file count
    * is bounded by the task count instead of the append history. Same
    * crash-safe staged replace and recovery as [[compact]]. */
  def compactPartitioned(spark: SparkSession, path: String, partitionCol: String,
                         targetFileBytes: Long = 128L * 1024 * 1024): Unit =
    compactUnder(spark, path, Seq(partitionCol), targetFileBytes)

  private def compactUnder(spark: SparkSession, path: String, partitionCols: Seq[String],
                           targetFileBytes: Long): Unit = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    StagedCommit.recover(fs, markerOf(p))
    StagedCommit.commit(fs, markerOf(p), Seq(stageCompaction(spark, path, partitionCols, targetFileBytes)))
  }

  /** Stage the compaction of the table at `path` (the rewrite of
    * [[compact]], or of [[compactPartitioned]] when `partitionCols`
    * names its partition column) and return the step that promotes
    * it, for an artifact that commits several tables under its own
    * marker beside them. The artifact recovers that marker first: the
    * staging dir is `<table>__staged`, the name its own writes stage
    * into. */
  private[graft] def stageCompaction(spark: SparkSession, path: String,
                                     partitionCols: Seq[String],
                                     targetFileBytes: Long): StagedCommit.Step = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = fs.getContentSummary(p).getLength
    val nFiles = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
    val df = spark.read.parquet(path)
    require(partitionCols.forall(df.columns.contains),
      s"compactPartitioned: $path has no column ${partitionCols.mkString(", ")}")
    stage(if (partitionCols.isEmpty) df.repartition(nFiles)
          else df.repartition(nFiles, partitionCols.map(col): _*), p, partitionCols)
  }

  /** S8 over JDBC — the reference's serving-store upsert
    * (full_stock_pipeline.py:358-376: psycopg2 execute_batch with
    * `ON CONFLICT ... DO UPDATE` / `DO NOTHING`), distributed: each
    * PARTITION opens one connection and writes PreparedStatement
    * batches of `batchSize`, so a 1000-executor job upserts in
    * parallel with O(batchSize) memory per task and no driver
    * collect. Portable two-phase upsert (no vendor ON CONFLICT):
    * batched UPDATE by key, then batched INSERT of the rows whose
    * update count was 0; `doUpdate = false` batches plain INSERTs and
    * resolves the duplicate-key failures (SQLState 23505) row-wise —
    * DO-NOTHING semantics without a read-modify-write race.
    *
    * Any count from executeBatch() that isn't a real row count —
    * `Statement.SUCCESS_NO_INFO` (-2, Oracle always), `EXECUTE_FAILED`
    * (-3, drivers that continue past per-row failures instead of
    * throwing), or any other negative — re-runs that row's UPDATE
    * alone (a single executeUpdate's count is always real, and a
    * genuine failure then throws its real error), then INSERTs on 0:
    * "unknown" is never treated as a successful update. The input is
    * deduplicated on the key columns first (same contract as the
    * file-sink Merge paths) — two same-key rows in one batch would
    * otherwise both miss the UPDATE and collide on the INSERT — with
    * a DETERMINISTIC survivor (max full-row fingerprint per key), so
    * retries of conflicting-value inputs converge to the same row
    * instead of whichever dropDuplicates happened to keep.
    *
    * Idempotent by construction (re-running a batch converges), which
    * is the crash story: JDBC targets get at-least-once + idempotence
    * rather than the staged commit of the file sinks. */
  def jdbcUpsert(df0: DataFrame, url: String, table: String, keys: Seq[String],
                 doUpdate: Boolean, batchSize: Int = 1000): Unit = {
    val cols = df0.columns.toSeq
    require(keys.nonEmpty && keys.forall(cols.contains), s"keys $keys must be columns")
    val nonKeys = cols.filterNot(keys.contains)
    require(!doUpdate || nonKeys.nonEmpty, "DO-UPDATE needs at least one non-key column")
    // deterministic survivor per key: order same-key rows by a full-row
    // fingerprint (xxhash64 spans all columns, any layout) and keep the
    // max — identical re-runs write identical rows
    val winner = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*)
      .orderBy(xxhash64(cols.map(col): _*).desc)
    val df = df0
      .withColumn("__rn", row_number().over(winner))
      .filter(col("__rn") === 1).drop("__rn")
    val insertSql =
      s"INSERT INTO $table (${cols.mkString(", ")}) VALUES (${cols.map(_ => "?").mkString(", ")})"
    val updateSql =
      s"UPDATE $table SET ${nonKeys.map(c => s"$c = ?").mkString(", ")} " +
        s"WHERE ${keys.map(k => s"$k = ?").mkString(" AND ")}"
    df.foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
      if (rows.nonEmpty) {
        val conn = java.sql.DriverManager.getConnection(url)
        try {
          conn.setAutoCommit(false)
          val insert = conn.prepareStatement(insertSql)
          val update = if (doUpdate) conn.prepareStatement(updateSql) else null
          def bind(st: java.sql.PreparedStatement, row: org.apache.spark.sql.Row,
                   order: Seq[String]): Unit =
            order.zipWithIndex.foreach { case (c, i) =>
              st.setObject(i + 1, row.getAs[Any](c))
            }
          rows.grouped(batchSize).foreach { batch =>
            if (doUpdate) {
              batch.foreach { r => bind(update, r, nonKeys ++ keys); update.addBatch() }
              val counts = update.executeBatch()
              // count==0 → key absent, INSERT. Anything negative —
              // SUCCESS_NO_INFO (-2), EXECUTE_FAILED (-3), or other
              // driver-specific markers — is NOT a real count; re-run
              // that row's UPDATE alone (a single executeUpdate's count
              // is always real, and a genuine failure throws its real
              // error here) and INSERT on 0. Unknown is never success.
              val misses = batch.zipAll(counts.map(Int.box), null, null).collect {
                case (r, c) if c == null || c.intValue() == 0 => r
                case (r, c) if c.intValue() < 0 =>
                  bind(update, r, nonKeys ++ keys)
                  if (update.executeUpdate() == 0) r else null
              }.filter(_ != null)
              misses.foreach { r => bind(insert, r, cols); insert.addBatch() }
              if (misses.nonEmpty) insert.executeBatch()
            } else {
              // DO NOTHING: insert row-wise, swallowing duplicate-key
              // (batch insert can't tell WHICH row collided portably)
              batch.foreach { r =>
                bind(insert, r, cols)
                try { val _ = insert.executeUpdate() }
                catch {
                  case e: java.sql.SQLException if e.getSQLState == "23505" => ()
                }
              }
            }
            conn.commit()
          }
        } finally conn.close()
      }
    }
  }
}
