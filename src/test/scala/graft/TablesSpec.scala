package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import java.nio.file.Files

/** The `events.ts` physical type changed vintage across driver releases:
  * TIMESTAMP(NANOS) (read as raw ns Long under nanosAsLong) vs
  * TIMESTAMP(MICROS) (native TimestampType). [[Tables.events]] must
  * normalize BOTH to the engine's ns-Long contract — round 10 lost 38
  * queries to `(ts div 1000000000)` DATATYPE_MISMATCH when the micros
  * vintage arrived unhandled.
  */
class TablesSpec extends SparkSpec {

  private val tmpDirs = scala.collection.mutable.ArrayBuffer[String]()
  override def afterAll(): Unit = {
    tmpDirs.foreach { d =>
      val p = java.nio.file.Paths.get(d)
      if (Files.exists(p)) {
        val s = Files.walk(p)
        try s.sorted(java.util.Comparator.reverseOrder())
          .forEach(f => Files.deleteIfExists(f))
        finally s.close()
      }
    }
    super.afterAll()
  }
  private def tmp(prefix: String): String = {
    val d = Files.createTempDirectory(prefix).toString
    tmpDirs += d
    d
  }

  private def writeVintage(vintage: String): String = {
    import spark.implicits._
    val dir = tmp("tables-spec")
    val base = Seq(
      (1L, 1700000000123456L, 7L, "click", 1.5, "{}"),
      (2L, 1700000300987654L, 8L, "view", 2.5, "{}")
    ).toDF("event_id", "us", "user_id", "event_type", "value", "props")
    val df = vintage match {
      case "micros" => base.withColumn("ts", timestamp_micros(col("us")))
      case "ntz"    => base.withColumn("ts",
        timestamp_micros(col("us")).cast("timestamp_ntz"))
      case "long"   => base.withColumn("ts", col("us") * lit(1000L)) // nanosAsLong shape
    }
    df.drop("us").select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }
  test("events normalizes the TIMESTAMP_NTZ vintage to ns Longs") {
    val df = Tables.events(spark, writeVintage("ntz"))
    assert(df.schema("ts").dataType === LongType)
    assert(df.orderBy("event_id").select("ts").head().getLong(0) ===
      1700000000123456000L)
  }

  test("events normalizes the TIMESTAMP(MICROS) vintage to ns Longs") {
    val df = Tables.events(spark, writeVintage("micros"))
    assert(df.schema("ts").dataType === LongType)
    val rows = df.orderBy("event_id")
      .select("ts", "ts_sec", "event_date").collect()
    assert(rows(0).getLong(0) === 1700000000123456000L)
    assert(rows(0).getLong(1) === 1700000000L)
    assert(rows(0).getDate(2).toString === "2023-11-14")
    assert(rows(1).getLong(0) === 1700000300987654000L)
  }

  test("events passes the raw ns-Long vintage through unchanged") {
    val df = Tables.events(spark, writeVintage("long"))
    assert(df.schema("ts").dataType === LongType)
    val rows = df.orderBy("event_id").select("ts", "ts_sec").collect()
    assert(rows(0).getLong(0) === 1700000000123456000L)
    assert(rows(0).getLong(1) === 1700000000L)
  }

  test("both vintages produce identical downstream frames") {
    val a = Tables.events(spark, writeVintage("micros"))
    val b = Tables.events(spark, writeVintage("long"))
    assert(a.schema === b.schema)
    assert(a.orderBy("event_id").collect().toSeq ===
      b.orderBy("event_id").collect().toSeq)
  }

  test("an unknown ts vintage fails loudly instead of garbling dates") {
    import spark.implicits._
    val dir = tmp("tables-spec")
    // plain DOUBLE epoch-seconds — a plausible future generator mistake
    // that `ts div 1e9` would silently turn into 1970 dates
    Seq((1L, 1.7e9, 7L, "click", 1.5, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val e = intercept[IllegalArgumentException](Tables.events(spark, dir))
    assert(e.getMessage.contains("events.ts"))
    assert(e.getMessage.contains("Double"))
  }

  private def pushedFilters(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.collectLeaves().collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.metadata.getOrElse("PushedFilters", "[]")
    }.mkString(";")

  test("eventsBetween pushes the range predicate into the parquet scan") {
    for (vintage <- Seq("micros", "ntz", "long")) {
      val dir = writeVintage(vintage)
      // [1700000000, 1700000300) keeps only event 1 of the two rows
      val df = Tables.eventsIn(spark, dir, Some(1700000000L), Some(1700000300L))
      val rows = df.select("event_id", "ts").collect()
      assert(rows.map(_.getLong(0)).toSeq === Seq(1L), s"vintage=$vintage")
      assert(rows.head.getLong(1) === 1700000000123456000L, s"vintage=$vintage")
      val pushed = pushedFilters(df)
      assert(pushed.contains("GreaterThanOrEqual(ts") && pushed.contains("LessThan(ts"),
        s"vintage=$vintage: range must reach the scan, got: $pushed")
    }
  }

  test("eventsFrom / eventsUntil push their single bound for every vintage") {
    for (vintage <- Seq("micros", "ntz", "long")) {
      val dir = writeVintage(vintage)
      val from = Tables.eventsIn(spark, dir, Some(1700000300L), None)
      assert(from.select("event_id").collect().map(_.getLong(0)).toSeq === Seq(2L),
        s"vintage=$vintage")
      assert(pushedFilters(from).contains("GreaterThanOrEqual(ts"), s"vintage=$vintage")
      val until = Tables.eventsIn(spark, dir, None, Some(1700000300L))
      assert(until.select("event_id").collect().map(_.getLong(0)).toSeq === Seq(1L),
        s"vintage=$vintage")
      assert(pushedFilters(until).contains("LessThan(ts"), s"vintage=$vintage")
    }
  }

  // --- generic schema-drift conformance (all tables) ---------------------

  private def writeLineitem(mutate: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): String = {
    import spark.implicits._
    val dir = tmp("tables-conform")
    val df = Seq((1L, 2L, 3L, 1, 17.0, 1000.5, 0.04, 0.02, "N", "O", "1998-09-02"))
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus", "d")
      .withColumn("l_shipdate", col("d").cast("timestamp")).drop("d")
    mutate(df).write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    dir
  }

  test("conform casts drifted integral/float/date vintages back to canon") {
    val dir = writeLineitem(df => df
      .withColumn("l_linenumber", col("l_linenumber").cast("bigint"))
      .withColumn("l_quantity", col("l_quantity").cast("float"))
      .withColumn("l_shipdate", col("l_shipdate").cast("date")))
    val li = Tables.lineitem(spark, dir)
    assert(li.schema("l_linenumber").dataType ===
      org.apache.spark.sql.types.IntegerType)
    assert(li.schema("l_quantity").dataType ===
      org.apache.spark.sql.types.DoubleType)
    assert(li.schema("l_shipdate").dataType.typeName.startsWith("timestamp"))
    val r = li.head()
    assert(r.getAs[Int]("l_linenumber") === 1)
    assert(r.getAs[Double]("l_quantity") === 17.0)
  }

  test("conform leaves an already-canonical table untouched (pushdown intact)") {
    val li = Tables.lineitem(spark, "/root/testdata/sf0.001")
      .filter(col("l_shipdate") >= lit("1995-01-01").cast("timestamp_ntz"))
    assert(li.count() > 0)
    assert(pushedFilters(li).contains("l_shipdate"),
      "canonical columns must keep raw scan pushdown")
  }

  test("conform absorbs any combination of value-preserving drifts (property, seed 42)") {
    import org.apache.spark.sql.types._
    val rng = new scala.util.Random(42)
    // per-column safe drifts the generator could plausibly introduce
    val drifts: Map[String, Seq[String]] = Map(
      "l_linenumber" -> Seq("int", "bigint", "smallint"),
      "l_quantity" -> Seq("double", "float"),
      "l_extendedprice" -> Seq("double", "float"),
      "l_shipdate" -> Seq("timestamp", "timestamp_ntz", "date"))
    val expected = Map[String, DataType](
      "l_linenumber" -> IntegerType, "l_quantity" -> DoubleType,
      "l_extendedprice" -> DoubleType)
    for (round <- 1 to 6) {
      val combo = drifts.map { case (c, opts) => c -> opts(rng.nextInt(opts.size)) }
      val dir = writeLineitem(df => combo.foldLeft(df) { case (d, (c, t)) =>
        d.withColumn(c, col(c).cast(t))
      })
      val li = Tables.lineitem(spark, dir)
      expected.foreach { case (c, want) =>
        assert(li.schema(c).dataType === want, s"round=$round combo=$combo col=$c")
      }
      assert(li.schema("l_shipdate").dataType.typeName.startsWith("timestamp"),
        s"round=$round combo=$combo")
      val r = li.head()
      assert(r.getAs[Int]("l_linenumber") === 1, s"round=$round combo=$combo")
      assert(r.getAs[Double]("l_quantity") === 17.0, s"round=$round combo=$combo")
      assert(r.getAs[Double]("l_extendedprice") === 1000.5, s"round=$round combo=$combo")
    }
  }

  test("unconformable drift fails with one error naming table, column, types") {
    val dir = writeLineitem(_.withColumn("l_returnflag", lit(7)))
    val e = intercept[IllegalArgumentException](Tables.lineitem(spark, dir))
    assert(e.getMessage.contains("lineitem.l_returnflag"))
    assert(e.getMessage.contains("IntegerType"))
  }

  test("a dropped column fails with one error naming it") {
    val dir = writeLineitem(_.drop("l_discount"))
    val e = intercept[IllegalArgumentException](Tables.lineitem(spark, dir))
    assert(e.getMessage.contains("l_discount"))
  }

  test("typed Schemas.events decodes both vintages") {
    assert(Schemas.events(spark, writeVintage("micros")).head().ts ===
      1700000000123456000L)
    assert(Schemas.events(spark, writeVintage("long")).head().ts ===
      1700000000123456000L)
  }
}
