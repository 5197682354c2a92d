package graft.sources

import org.apache.spark.sql.SparkSession

/** Tiny integer-field JSON `meta.json` stored beside a persisted
  * index's tables — the parameter fingerprint that makes probing or
  * appending with parameters different from build time fail LOUDLY
  * instead of silently returning wrong (mostly empty or truncated)
  * results. Shared by the LSH dedup index ([[graft.operators.Dedup]])
  * and the IVF ANN index ([[graft.operators.Similarity]]).
  *
  * Uses the Hadoop FS API so the meta file lives wherever the index
  * lives (local disk, HDFS, object store) — same transport as the
  * index tables themselves.
  */
object IndexMeta {

  private def json(fields: Seq[(String, Long)]): Array[Byte] =
    fields.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}").getBytes("UTF-8")

  /** Overwrite `path` with `{"k1":v1,...}`. */
  def write(spark: SparkSession, path: String, fields: Seq[(String, Long)]): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val out = p.getFileSystem(spark.sparkContext.hadoopConfiguration).create(p, true)
    try out.write(json(fields)) finally out.close()
  }

  /** [[write]] via [[StagedCommit.writeAtomic]], for meta files that
    * are REWRITTEN over their lifetime (advisory tick/witness state)
    * rather than written once: a concurrent reader never sees a torn
    * or half-written file — it sees the old content, the new content,
    * or (inside the delete→rename window) no file, and every such
    * caller already treats "missing" as "absent state". Write-once
    * markers ([[write]] at publish time) don't need this: they are
    * created complete before anything points at them. */
  def writeAtomic(spark: SparkSession, path: String, fields: Seq[(String, Long)]): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    StagedCommit.writeAtomic(p.getFileSystem(spark.sparkContext.hadoopConfiguration), p, json(fields))
  }

  /** Read all integer fields; `what` names the index family in errors. */
  def read(spark: SparkSession, path: String, what: String): Map[String, Long] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(p), s"no $what meta at $path — build the index first")
    val in = fs.open(p)
    val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    val m = """"([A-Za-z0-9_]+)":(-?\d+)""".r.findAllMatchIn(txt)
      .map(g => g.group(1) -> g.group(2).toLong).toMap
    require(m.nonEmpty, s"malformed $what meta at $p: $txt")
    m
  }

  /** Read + validate: every expected (field, value) must match what the
    * index was built with. Returns the full stored map (callers read
    * build-time-only fields, e.g. the embedding dim, from it). */
  def check(spark: SparkSession, path: String, what: String,
            expected: Seq[(String, Long)]): Map[String, Long] = {
    val stored = read(spark, path, what)
    val bad = expected.filterNot { case (k, v) => stored.get(k).contains(v) }
    require(bad.isEmpty,
      s"$what parameter mismatch at $path: built with " +
        bad.map { case (k, _) => s"$k=${stored.getOrElse(k, "<absent>")}" }.mkString(", ") +
        ", got " + bad.map { case (k, v) => s"$k=$v" }.mkString(", "))
    stored
  }
}
