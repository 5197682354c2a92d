package graft

import org.apache.spark.sql.SparkSession

/** Drift report of the ACTUAL testdata schemas against the engine's
  * canonical expectations. Two surfaces:
  *
  *  - dev main (run first thing each round, before anything touches data):
  *      sbt "runMain graft.SchemaReport /root/testdata/sf0.001"
  *  - [[assertConformable]], called by the [[Verify]] and [[Bench]] entry
  *    points so a driver-side testdata regeneration aborts with ONE named
  *    error BEFORE 124 queries run against a drifted vintage (the failure
  *    mode that silently cost all of round 10).
  *
  * Per column it prints ok (exact), equiv (interchangeable flavor, e.g.
  * TIMESTAMP vs TIMESTAMP_NTZ), cast (value-preserving drift that
  * [[Tables]] conforms silently), or DRIFT (unconformable — queries
  * would fail; extend Tables.canon/castable deliberately). The
  * events.ts vintage is reported separately since [[Tables]] normalizes
  * it outside the conform map. Main exits 1 iff any DRIFT/MISSING row.
  */
object SchemaReport {

  private val tables = Seq("region", "nation", "customer", "supplier", "part",
                           "orders", "lineitem", "events", "documents", "embeddings")

  /** Classify every column of every table under `dir`. Returns the
    * printable report lines and the names (`table.column`) of
    * unconformable columns. Schema-only — reads parquet footers, no data. */
  def check(spark: SparkSession, dir: String): (Seq[String], Seq[String]) = {
    val lines = Seq.newBuilder[String]
    val bad = Seq.newBuilder[String]
    for (t <- tables) {
      val actual = spark.read.parquet(s"$dir/$t.parquet").schema
      lines += s"== $t"
      actual.fields.foreach { f =>
        val status = Tables.driftStatus(t, f.name, f.dataType)
        if (status == "DRIFT") bad += s"$t.${f.name}"
        lines += f"  ${f.name}%-18s ${f.dataType.simpleString}%-16s $status"
      }
      // canon columns absent from the file are drift too (conform throws)
      Tables.canonColumns(t).filterNot(actual.fieldNames.contains).foreach { n =>
        bad += s"$t.$n"
        lines += f"  $n%-18s ${"<absent>"}%-16s MISSING"
      }
    }
    val badCols = bad.result()
    lines += (if (badCols.isEmpty) "NO UNCONFORMABLE DRIFT"
              else s"${badCols.size} UNCONFORMABLE COLUMN(S): ${badCols.mkString(", ")}")
    (lines.result(), badCols)
  }

  /** Entry-point guard: print the full report to stderr (never stdout —
    * Bench's machine-parsed tail budget is sacred) and throw the named
    * drift error if the vintage is unconformable. Returns the bad-column
    * names so callers that must emit their own parseable record before
    * dying (Bench) can pre-check with throwOnDrift=false. */
  def assertConformable(spark: SparkSession, dir: String,
                        throwOnDrift: Boolean = true): Seq[String] = {
    val (lines, bad) = check(spark, dir)
    lines.foreach(System.err.println)
    if (bad.nonEmpty && throwOnDrift)
      throw new IllegalStateException(
        s"testdata drift: unconformable column(s) ${bad.mkString(", ")} in $dir — " +
        "refusing to run queries against a drifted vintage; extend " +
        "Tables.canon/castable deliberately (see stderr report)")
    bad
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = LocalSession.builder(4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val (lines, bad) = check(spark, dir)
    lines.foreach(println)
    spark.stop()
    if (bad.nonEmpty) sys.exit(1)
  }
}
