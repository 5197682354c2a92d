package graft.sources

import org.apache.spark.sql.SparkSession

/** The versioned-publication protocol behind every refreshable
  * artifact that must swap ATOMICALLY under live readers — the IVF and
  * IVFPQ indexes ([[graft.operators.Similarity]]), graph ranks and PPR
  * memos, the fuzzy-link index and the model artifact all build and
  * refresh through it:
  *
  *  - a refresh writes a COMPLETE new `v_<n>` directory whose
  *    `meta.json` is written LAST, so an incomplete version (crash
  *    mid-write) is never eligible;
  *  - `CURRENT` is a one-line pointer file swapped via temp + rename;
  *    the delete→rename window is benign — a reader finding no
  *    pointer falls back to the NEWEST COMPLETE version, which is
  *    exactly the one being published;
  *  - GC keeps {the new version, the version the refresh actually
  *    RESOLVED before publishing} — keyed off served identity, not
  *    version arithmetic, because a crashed refresh can leave an
  *    incomplete v_k with a HIGHER number than the serving version;
  *  - single writer, like every persisted artifact in the engine.
  *
  * Reader guarantee, stated precisely: a reader that resolved before
  * a publish finishes against intact files across ONE concurrent
  * refresh (its version is the kept `servedBefore`); a reader that
  * holds a resolved version across TWO refresh cycles can lose its
  * files to the second publish's GC. Operators therefore pace
  * maintenance refreshes slower than their longest read job, or
  * disable GC-by-retention out of band if reads are unbounded.
  */
object VersionedRoot {

  private def fsOf(spark: SparkSession, p: org.apache.hadoop.fs.Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def complete(spark: SparkSession, root: String, name: String): Boolean =
    fsOf(spark, new org.apache.hadoop.fs.Path(root))
      .exists(new org.apache.hadoop.fs.Path(s"$root/$name/meta.json"))

  /** Every `v_<n>` dir name under `root` (complete or not). */
  def versions(spark: SparkSession, root: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(root)
    val fs = fsOf(spark, p)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).map(_.getPath.getName)
      .filter(_.matches("v_\\d+")).toSeq
  }

  /** The next `v_<n>` name to write under `root` — max existing
    * number (complete or not: a crashed incomplete v_k must not be
    * re-used) plus one. ONE definition for every refresh
    * (ranks/PPR/fuzzy-link — r17 review: three hand-rolled copies
    * would fork numbering semantics on the next change). */
  def nextVersion(spark: SparkSession, root: String): String =
    s"v_${versions(spark, root).map(_.stripPrefix("v_").toLong).foldLeft(0L)(math.max) + 1}"

  /** The shared growth-trigger staleness predicate: did `cur` rows
    * grow at least `pct` percent past the `baseline` a served version
    * recorded? Integer arithmetic (no overflow below ~9e16 rows at
    * pct ≤ 1000); baseline 0 (pre-trigger vintage) is always stale. */
  def grewPast(cur: Long, baseline: Long, pct: Int): Boolean =
    (cur - baseline) * 100L >= pct.toLong * math.max(baseline, 1L)

  /** Resolve the SERVING version dir: the one `CURRENT` names, else
    * (pointer absent or mid-swap) the newest COMPLETE version, else
    * None (never published). A pointer that reads fine but names an
    * incomplete version is real corruption and stays loud. */
  def resolve(spark: SparkSession, root: String, what: String): Option[String] = {
    val cur = new org.apache.hadoop.fs.Path(s"$root/CURRENT")
    val fs = fsOf(spark, cur)
    def newestComplete(): Option[String] = {
      val done = versions(spark, root).filter(complete(spark, root, _))
      if (done.isEmpty) None
      else Some(s"$root/${done.maxBy(_.stripPrefix("v_").toLong)}")
    }
    // exists→open TOCTOU against a concurrent publish's delete→rename:
    // the vanished-pointer state IS the documented fallback
    val pointed =
      if (!fs.exists(cur)) None
      else try {
        val in = fs.open(cur)
        Some(try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close())
      } catch { case _: java.io.FileNotFoundException => None }
    pointed match {
      case Some(name) =>
        require(complete(spark, root, name),
          s"$what at $root: CURRENT names $name but it is incomplete")
        Some(s"$root/$name")
      case None => newestComplete()
    }
  }

  /** Point `CURRENT` at `newName` ([[StagedCommit.writeAtomic]]) and
    * GC by served identity: everything but {newName, the dir
    * `servedBefore` resolved to} is debris and deleted. */
  def publish(spark: SparkSession, root: String, newName: String,
              servedBefore: Option[String]): Unit = {
    val fs = fsOf(spark, new org.apache.hadoop.fs.Path(root))
    StagedCommit.writeAtomic(fs, new org.apache.hadoop.fs.Path(s"$root/CURRENT"),
      (newName + "\n").getBytes("UTF-8"))
    val keep = Set(newName) ++
      servedBefore.map(s => new org.apache.hadoop.fs.Path(s).getName)
    versions(spark, root).filterNot(keep).foreach { n =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$root/$n"), true)
    }
  }
}
