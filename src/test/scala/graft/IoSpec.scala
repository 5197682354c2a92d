package graft

import graft.sources.{Sinks, Sources, StagedCommit}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.Files

/** End-to-end file IO: date-foldered sinks, filename-derived source
  * columns, CSV header validation, and the read-merge-write sink.
  */
class IoSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("graft-io").toString

  test("S2/S4 round-trip: date-foldered JSON sink, filename key recovery") {
    val dir = tmp()
    val df = Seq(
      ("AAPL", "2024-01-05", 101.5), ("MSFT", "2024-01-05", 402.0),
      ("AAPL", "2024-01-06", 103.0)).toDF("symbol", "trade_date", "close")
      .select($"symbol", to_date($"trade_date").as("trade_date"), $"close")
    Sinks.rawJsonZone(df, "trade_date", dir)
    // partition folders exist (y=2024/m=01/dd=05)
    assert(new java.io.File(s"$dir/y=2024/m=01/dd=05").exists())

    val schema = StructType(Seq(
      StructField("symbol", StringType), StructField("trade_date", DateType),
      StructField("close", DoubleType)))
    val back = Sources.jsonWithFilenameKey(spark, dir, schema,
      "day_folder", raw"dd=(\d+)")
    assert(back.count() === 3)
    assert(back.filter($"day_folder" === "05").count() === 2)
  }

  test("S9: CSV header validation accepts expected, rejects drifted") {
    val dir = tmp()
    Seq(("a", "1"), ("b", "2")).toDF("name", "rank")
      .write.option("header", "true").csv(s"$dir/ok")
    val ok = Sources.csvValidated(spark, s"$dir/ok", Seq("name", "rank"))
    assert(ok.columns.toSeq === Seq("name", "rank") && ok.count() === 2)
    val err = intercept[IllegalArgumentException] {
      Sources.csvValidated(spark, s"$dir/ok", Seq("name", "rank", "market_cap"))
    }
    assert(err.getMessage.contains("market_cap"))
  }

  test("S7 overwrite staging replaces content") {
    val dir = tmp() + "/staging"
    Sinks.overwriteStaging(Seq((1, "a")).toDF("k", "v"), dir)
    Sinks.overwriteStaging(Seq((2, "b"), (3, "c")).toDF("k", "v"), dir)
    assert(spark.read.parquet(dir).count() === 2)
  }

  test("mergeInto: creates, upserts, and stays idempotent on disk") {
    val dir = tmp() + "/target"
    Sinks.mergeInto(Seq((1, "a", 1.0), (2, "a", 2.0)).toDF("k", "d", "v"),
      dir, Seq("k", "d"), doUpdate = true)
    Sinks.mergeInto(Seq((2, "a", 20.0), (3, "a", 3.0)).toDF("k", "d", "v"),
      dir, Seq("k", "d"), doUpdate = true)
    val after = spark.read.parquet(dir).as[(Int, String, Double)].collect().toSet
    assert(after === Set((1, "a", 1.0), (2, "a", 20.0), (3, "a", 3.0)))
    // re-apply: no change
    Sinks.mergeInto(Seq((2, "a", 20.0), (3, "a", 3.0)).toDF("k", "d", "v"),
      dir, Seq("k", "d"), doUpdate = true)
    assert(spark.read.parquet(dir).as[(Int, String, Double)].collect().toSet === after)
  }

  test("mergeInto recovery: interrupted promote never loses merged history") {
    val dir = tmp() + "/target"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    val marker = p(dir + "__commit")
    Sinks.mergeInto(Seq((1, "a", 1.0), (2, "a", 2.0)).toDF("k", "d", "v"),
      dir, Seq("k", "d"), doUpdate = true)

    // simulate a crash inside the commit's whole-dir replace: the live
    // target already moved into the marker's trash, the merged history
    // sits staged, and the marker is pending
    fs.rename(p(dir), p(dir + "__staged"))
    StagedCommit.plan(fs, marker, Seq(StagedCommit.Replace("target__staged", "target")))

    // retry with ONLY the new batch — without recovery this would
    // rebuild the table from the batch alone, discarding rows 1 and 2
    Sinks.mergeInto(Seq((3, "a", 3.0)).toDF("k", "d", "v"),
      dir, Seq("k", "d"), doUpdate = true)
    val rows = spark.read.parquet(dir).as[(Int, String, Double)].collect().toSet
    assert(rows === Set((1, "a", 1.0), (2, "a", 2.0), (3, "a", 3.0)))
    assert(!fs.exists(marker))
    assert(!fs.exists(p(dir + "__staged")))

    // crash AFTER the replace but before the marker retired: the
    // recovery re-applies nothing and the retry still converges
    StagedCommit.plan(fs, marker, Seq(StagedCommit.Replace("target__staged", "target")))
    Sinks.mergeInto(Seq((4, "a", 4.0)).toDF("k", "d", "v"),
      dir, Seq("k", "d"), doUpdate = true)
    assert(spark.read.parquet(dir).count() === 4)
    assert(!fs.exists(marker))
  }

  test("mergeIntoPartitioned rewrites only touched partitions") {
    val dir = tmp() + "/ptarget"
    val day1 = Seq((1, "2024-01-01", 1.0), (2, "2024-01-01", 2.0)).toDF("k", "d", "v")
    val day2 = Seq((1, "2024-01-02", 3.0)).toDF("k", "d", "v")
    Sinks.mergeIntoPartitioned(day1.unionByName(day2), dir, Seq("k", "d"), "d", doUpdate = true)
    val day1Dir = new java.io.File(s"$dir/d=2024-01-01")
    assert(day1Dir.exists())
    val day1FilesBefore = day1Dir.listFiles().filter(_.getName.endsWith(".parquet"))
      .map(f => (f.getName, f.lastModified())).toSet

    // merge a batch touching ONLY day 2 (update k=1 + insert k=3)
    Thread.sleep(1100)
    val batch = Seq((1, "2024-01-02", 30.0), (3, "2024-01-02", 9.0)).toDF("k", "d", "v")
    Sinks.mergeIntoPartitioned(batch, dir, Seq("k", "d"), "d", doUpdate = true)

    val after = spark.read.parquet(dir).as[(Int, Double, String)].collect()
    val rows = spark.read.parquet(dir).select("k", "d", "v")
      .as[(Int, String, Double)].collect().toSet
    assert(rows === Set((1, "2024-01-01", 1.0), (2, "2024-01-01", 2.0),
      (1, "2024-01-02", 30.0), (3, "2024-01-02", 9.0)))
    // day-1 partition files untouched (same names + mtimes)
    val day1FilesAfter = day1Dir.listFiles().filter(_.getName.endsWith(".parquet"))
      .map(f => (f.getName, f.lastModified())).toSet
    assert(day1FilesAfter === day1FilesBefore, "untouched partition was rewritten")
  }

  test("mergeIntoPartitioned recovery: interrupted promote restores the partition") {
    val dir = tmp() + "/ptarget"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    val marker = p(dir + "__commit")
    val day2 = Seq(StagedCommit.Replace("ptarget__staged/d=2024-01-02", "ptarget/d=2024-01-02"),
      StagedCommit.Drop("ptarget__staged"))
    Sinks.mergeIntoPartitioned(
      Seq((1, "2024-01-01", 1.0), (2, "2024-01-02", 2.0)).toDF("k", "d", "v"),
      dir, Seq("k", "d"), "d", doUpdate = true)

    // simulate a crash inside day 2's replace: its live dir already
    // moved aside, its merged copy sits staged, and the marker is pending
    fs.mkdirs(p(dir + "__staged"))
    fs.rename(p(s"$dir/d=2024-01-02"), p(dir + "__staged/d=2024-01-02"))
    StagedCommit.plan(fs, marker, day2)

    // retry with a batch touching ONLY day 1 — without recovery this
    // would silently drop day 2 from the table
    Sinks.mergeIntoPartitioned(Seq((3, "2024-01-01", 3.0)).toDF("k", "d", "v"),
      dir, Seq("k", "d"), "d", doUpdate = true)
    val rows = spark.read.parquet(dir).select("k", "d", "v")
      .as[(Int, String, Double)].collect().toSet
    assert(rows === Set((1, "2024-01-01", 1.0), (3, "2024-01-01", 3.0),
      (2, "2024-01-02", 2.0)))
    assert(!fs.exists(marker) && !fs.exists(p(dir + "__staged")))

    // crash AFTER the partition promoted but before the marker retired:
    // every step is already applied, and recovery must not disturb it
    StagedCommit.plan(fs, marker, day2)
    Sinks.mergeIntoPartitioned(
      Seq((2, "2024-01-02", 2.0)).toDF("k", "d", "v"),
      dir, Seq("k", "d"), "d", doUpdate = true)
    assert(spark.read.parquet(dir).filter($"d" === "2024-01-02").count() === 1)
    assert(!fs.exists(marker))
  }

  test("mergeIntoPartitioned bootstrap is crash-atomic: a crashed first write leaves no live target and the retry re-bootstraps") {
    val dir = tmp() + "/btarget"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    val first = Seq((1, "2024-01-01", 1.0), (2, "2024-01-02", 2.0)).toDF("k", "d", "v")
    def rows() = spark.read.parquet(dir).select("k", "d", "v")
      .as[(Int, String, Double)].collect().toSet
    // A bootstrap that crashed mid-staging leaves only a partial
    // __staged dir and no marker — the live target must NOT exist
    // (fs.exists(target) is the completeness signal Pipeline.predictDay's
    // fold path gates on; ADVICE r20 medium: the old direct write could
    // leave a partial live table the fold path then extended forever).
    fs.mkdirs(p(dir + "__staged/d=2024-01-01"))
    assert(!fs.exists(p(dir)), "crashed bootstrap must leave no live target")
    // the retry re-stages the FULL frame over the stale staging and
    // commits it as one whole-dir replace
    Sinks.mergeIntoPartitioned(first, dir, Seq("k", "d"), "d", doUpdate = true)
    assert(rows() === Set((1, "2024-01-01", 1.0), (2, "2024-01-02", 2.0)))
    assert(!fs.exists(p(dir + "__staged")))
    // A bootstrap that crashed AFTER its marker: the complete staging
    // is pending and the target still reads as absent; the next write
    // rolls the bootstrap forward, then merges into it
    fs.rename(p(dir), p(dir + "__staged"))
    StagedCommit.plan(fs, p(dir + "__commit"),
      Seq(StagedCommit.Replace("btarget__staged", "btarget")))
    assert(!fs.exists(p(dir)), "a pending bootstrap must leave no live target")
    Sinks.mergeIntoPartitioned(Seq((3, "2024-01-03", 3.0)).toDF("k", "d", "v"),
      dir, Seq("k", "d"), "d", doUpdate = true)
    assert(rows() === Set((1, "2024-01-01", 1.0), (2, "2024-01-02", 2.0), (3, "2024-01-03", 3.0)))
    assert(!fs.exists(p(dir + "__staged")) && !fs.exists(p(dir + "__commit")))
  }

  test("S8 JDBC serving sink: batched upsert on embedded Derby, idempotent") {
    val url = "jdbc:derby:memory:graftjdbc;create=true"
    val setup = java.sql.DriverManager.getConnection(url)
    setup.createStatement().execute(
      "CREATE TABLE serving (k INT NOT NULL, d VARCHAR(10) NOT NULL, " +
        "v DOUBLE, PRIMARY KEY (k, d))")
    setup.close()
    def readBack(): Set[(Int, String, Double)] =
      spark.read.format("jdbc").option("url", url)
        .option("dbtable", "serving").load()
        .select($"K".cast("int"), $"D", $"V")
        .as[(Int, String, Double)].collect().toSet

    // DO-UPDATE: second batch updates k=2 and inserts k=3
    Sinks.jdbcUpsert(Seq((1, "a", 1.0), (2, "a", 2.0)).toDF("k", "d", "v"),
      url, "serving", Seq("k", "d"), doUpdate = true, batchSize = 1)
    Sinks.jdbcUpsert(Seq((2, "a", 20.0), (3, "a", 3.0)).toDF("k", "d", "v"),
      url, "serving", Seq("k", "d"), doUpdate = true, batchSize = 1)
    assert(readBack() === Set((1, "a", 1.0), (2, "a", 20.0), (3, "a", 3.0)))
    // idempotent: re-running the same batch changes nothing
    Sinks.jdbcUpsert(Seq((2, "a", 20.0), (3, "a", 3.0)).toDF("k", "d", "v"),
      url, "serving", Seq("k", "d"), doUpdate = true)
    assert(readBack() === Set((1, "a", 1.0), (2, "a", 20.0), (3, "a", 3.0)))

    // DO-NOTHING: duplicate key keeps the existing row, new key inserts
    Sinks.jdbcUpsert(Seq((3, "a", 999.0), (4, "a", 4.0)).toDF("k", "d", "v"),
      url, "serving", Seq("k", "d"), doUpdate = false)
    assert(readBack() === Set((1, "a", 1.0), (2, "a", 20.0),
      (3, "a", 3.0), (4, "a", 4.0)))

    // same-key rows inside ONE input batch: deduped before writing, so
    // neither the UPDATE-miss→INSERT path nor DO-NOTHING hits a PK
    // violation, and exactly one version of the key lands
    Sinks.jdbcUpsert(Seq((5, "a", 5.0), (5, "a", 5.0)).toDF("k", "d", "v"),
      url, "serving", Seq("k", "d"), doUpdate = true, batchSize = 1)
    assert(readBack().count(r => r._1 == 5) === 1)
  }

  test("S5 processed parquet zone is date-partitioned (prunable)") {
    val dir = tmp() + "/processed"
    val df = Seq(("2024-01-05", 1.0), ("2024-01-06", 2.0)).toDF("d", "v")
      .select(to_date($"d").as("d"), $"v")
    Sinks.processedParquet(df, "d", dir)
    assert(new java.io.File(dir).listFiles().exists(_.getName.startsWith("d=")))
    // partition-pruned read touches one folder
    val one = spark.read.parquet(dir).filter($"d" === "2024-01-05")
    assert(one.count() === 1)
  }
}
