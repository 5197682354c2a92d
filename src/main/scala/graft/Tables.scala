package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Schema-first readers over the driver-generated star schema
  * (TESTDATA.md). One parquet file per table under the sf dir.
  *
  * Scale notes (100 TB design):
  *  - Every reader is a plain parquet scan: Catalyst pushes filters and
  *    prunes columns into the scan, and on a partitioned lake
  *    (`partitionBy(date)`) partition pruning is automatic. Nothing here
  *    materializes or collects.
  *  - `region`/`nation` are bounded dims (25/5 rows at any SF) — always
  *    broadcast-joined (see `broadcast(...)` at call sites).
  */
object Tables {
  import org.apache.spark.sql.types._

  /** Canonical engine-facing column types per table — what every query,
    * oracle, and case-class Encoder assumes. The driver regenerates
    * testdata between rounds and has already changed physical types once
    * (`events.ts` TIMESTAMP(NANOS) → TIMESTAMP(MICROS), which cost all 38
    * events queries for a round); this map turns the next such drift into
    * either a silent per-column cast or ONE loud, named error instead of
    * 38 scattered DATATYPE_MISMATCH failures. `events.ts` is absent here:
    * its two-vintage normalization is [[normalizeEvents]]. */
  private val canon: Map[String, Seq[(String, DataType)]] = Map(
    "region"   -> Seq("r_regionkey" -> IntegerType, "r_name" -> StringType),
    "nation"   -> Seq("n_nationkey" -> IntegerType, "n_name" -> StringType,
                      "n_regionkey" -> IntegerType),
    "customer" -> Seq("c_custkey" -> LongType, "c_name" -> StringType,
                      "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
                      "c_mktsegment" -> StringType),
    "supplier" -> Seq("s_suppkey" -> LongType, "s_name" -> StringType,
                      "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType),
    "part"     -> Seq("p_partkey" -> LongType, "p_name" -> StringType,
                      "p_brand" -> StringType, "p_type" -> StringType,
                      "p_size" -> IntegerType, "p_retailprice" -> DoubleType),
    "orders"   -> Seq("o_orderkey" -> LongType, "o_custkey" -> LongType,
                      "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
                      "o_orderdate" -> TimestampType, "o_orderpriority" -> StringType),
    "lineitem" -> Seq("l_orderkey" -> LongType, "l_partkey" -> LongType,
                      "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
                      "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
                      "l_discount" -> DoubleType, "l_tax" -> DoubleType,
                      "l_returnflag" -> StringType, "l_linestatus" -> StringType,
                      "l_shipdate" -> TimestampType),
    "events"   -> Seq("event_id" -> LongType, "user_id" -> LongType,
                      "event_type" -> StringType, "value" -> DoubleType,
                      "props" -> StringType),
    "documents" -> Seq("doc_id" -> LongType, "text" -> StringType,
                       "lang" -> StringType, "source" -> StringType,
                       "n_chars" -> LongType),
    "embeddings" -> Seq("vec_id" -> LongType,
                        "embedding" -> ArrayType(FloatType, containsNull = true),
                        "label" -> IntegerType)
  )

  /** Types the engine treats as interchangeable without a cast: every
    * query proven green on either flavor. TIMESTAMP vs TIMESTAMP_NTZ is
    * purely the parquet isAdjustedToUTC bit under our engine-wide UTC
    * sessions (the current testdata vintage reads NTZ), and casting
    * between them would cost the scan pushdown on o_orderdate/l_shipdate
    * filters for zero semantic gain. Array element nullability likewise. */
  private def equivalent(have: DataType, want: DataType): Boolean = (have, want) match {
    case (a, b) if a == b => true
    case (TimestampType, TimestampNTZType) | (TimestampNTZType, TimestampType) => true
    case (ArrayType(f, _), ArrayType(t, _)) => equivalent(f, t)
    case _ => false
  }

  /** Value-preserving conversions we accept silently when a vintage
    * drifts. Everything else (string→numeric, array element changes, a
    * dropped column) is a modeling change, not a representation change —
    * fail fast and loudly. */
  private def isIntegral(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }
  private def castable(from: DataType, to: DataType): Boolean = (from, to) match {
    case (f, t) if isIntegral(f) && isIntegral(t)            => true
    case (f, DoubleType) if isIntegral(f)                    => true
    case (FloatType | _: DecimalType, DoubleType)            => true
    // DATE→TIMESTAMP is value-preserving HERE only because every current
    // generator date is midnight-only, so the round-trip is exact
    // (DriftIntegrationSpec pins this on real data). It is NOT a general
    // guarantee: a vintage that truncated real time-of-day into DATE has
    // already lost the information upstream, and this cast would accept
    // it silently — revisit before extending to such a vintage.
    case (DateType, TimestampType | TimestampNTZType)        => true
    case (ArrayType(f, _), ArrayType(t, _))                  => castable(f, t)
    case _                                                   => false
  }

  /** Once-per-column memo for the conform-cast pushdown warning. */
  private val castWarned = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Conform a known table to [[canon]]: columns already at the canonical
    * type pass through RAW (their scan pushdown is untouched); drifted
    * ones get a single codegen'd cast; unconformable drift throws one
    * error naming table, column, and both types. Unknown table names and
    * extra columns pass through untouched. */
  private def conform(df: DataFrame, table: String): DataFrame =
    canon.get(table).fold(df) { cols =>
      val actual = df.schema.fields.map(f => f.name -> f.dataType).toMap
      val missing = cols.collect { case (n, _) if !actual.contains(n) => n }
      if (missing.nonEmpty)
        throw new IllegalArgumentException(
          s"testdata drift: table '$table' lost column(s) ${missing.mkString(", ")} " +
          s"(have: ${df.schema.fieldNames.mkString(", ")})")
      cols.foldLeft(df) { case (d, (n, want)) =>
        val have = actual(n)
        if (equivalent(have, want)) d
        else if (castable(have, want)) {
          // The silent cast preserves VALUES but forfeits parquet filter
          // pushdown on this column (the scan now sees cast(col), not
          // col) — e.g. an l_shipdate DATE vintage would quietly drop
          // row-group pruning. Warn once per column so a pushdown
          // regression after a vintage change is visible, not silent.
          if (castWarned.add(s"$table.$n"))
            System.err.println(
              s"[graft] testdata drift: $table.$n is ${have.simpleString}, " +
              s"conformed by cast to ${want.simpleString} — parquet filter " +
              "pushdown on this column is forfeited until Tables.canon is " +
              "updated to the new vintage")
          d.withColumn(n, col(n).cast(want))
        }
        else throw new IllegalArgumentException(
          s"testdata drift: $table.$n is $have, engine needs $want and has no " +
          "value-preserving cast — extend Tables.canon/castable deliberately")
      }
    }

  /** Canonical column names of a known table (empty for unknown ones) —
    * lets [[SchemaReport]] flag canon columns missing from the file.
    * `events.ts` is included even though [[normalizeEvents]] (not canon)
    * owns its typing, so a dropped ts still reports MISSING. */
  def canonColumns(table: String): Seq[String] = {
    val cols = canon.getOrElse(table, Seq.empty).map(_._1)
    if (table == "events") cols :+ "ts" else cols
  }

  /** Classification of one actual column against canon, for
    * [[SchemaReport]]: "ok" (exact), "equiv" (interchangeable flavor),
    * "cast" (conformed silently), "DRIFT" (unconformable — queries
    * would fail), "extra" (not in canon). `events.ts` is validated
    * against the vintages [[normalizeEvents]] accepts. */
  def driftStatus(table: String, column: String, actual: DataType): String =
    if (table == "events" && column == "ts") actual match {
      case LongType | TimestampType | TimestampNTZType => "ok (normalized)"
      case _ => "DRIFT"
    }
    else canon.get(table).flatMap(_.collectFirst { case (n, want) if n == column =>
      if (actual == want) "ok"
      else if (equivalent(actual, want)) "equiv"
      else if (castable(actual, want)) s"cast -> ${want.simpleString}"
      else "DRIFT"
    }).getOrElse("extra")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    conform(spark.read.parquet(s"$dir/$name.parquet"), name)

  def lineitem(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "region")
  // Plain scans, no forced repartition (r22): r21's unconditional
  // round-robin fanOut here taxed all ~114 consumers with a
  // full-payload shuffle + local sort of text/vector rows (guide §2.3's
  // anti-pattern) and its df.rdd guard forced an extra physical plan
  // per load — a measured 0.70× geomean regression. Call sites whose
  // downstream per-row work is provably serial-heavy opt in explicitly
  // via [[fanOutScan]] AFTER projecting to the columns they need.
  def documents(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")

  /** Explicit, call-site-scoped scan fan-out (guide §2.5 "input skew:
    * one huge unsplittable file … repartition immediately after the
    * read" + §2.3 "project before the exchange"). Each sf table is ONE
    * parquet file with ONE row group, so a scan plans one task and any
    * CPU-dense work directly above it (shingling, hashing, tokenizing)
    * serializes on one core. Callers project to the narrow columns the
    * operator needs FIRST, then fan out by a deterministic key hash —
    * never round-robin, which pays a full local sort
    * (sortBeforeRepartition) and is retry-unsafe guidance anyway.
    *
    * The guard is the INPUT FILE SIZE (one cheap FS status call, no
    * plan forcing — r21's df.rdd.getNumPartitions guard planned every
    * load twice): if the file already yields >= width scan splits at
    * the session's maxPartitionBytes, the scan is wide on its own and
    * this is the identity — on a lake-scale table no shuffle is ever
    * added. The width is HALF the session's defaultParallelism (at
    * least 2): the fanned work is allocation-heavy string
    * hashing that contends on shared memory bandwidth, so it saturates
    * at about the PHYSICAL core count — half the advertised (SMT)
    * width. Measured on the 32-thread bench host: the same fanned
    * stage set runs ~20-40 % faster at width 16 than 32 (and r21's
    * telemetry: 2.6 CPU-s at 2-wide vs 23.3 at 32-wide for one map
    * stage); derived from parallelism, never a constant, so the
    * 8-core control run fans to 4. */
  def fanOutScan(df: DataFrame, dir: String, table: String,
                 key: org.apache.spark.sql.Column): DataFrame = {
    val spark = df.sparkSession
    val want = math.max(2, spark.sparkContext.defaultParallelism / 2)
    val p = new org.apache.hadoop.fs.Path(s"$dir/$table.parquet")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = try fs.getContentSummary(p).getLength catch { case _: Throwable => 0L }
    val maxSplit = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      spark.conf.get("spark.sql.files.maxPartitionBytes", "128m"))
    if (bytes / math.max(1L, maxSplit) >= want) df
    else df.repartition(want, key)
  }

  /** `events.ts` arrives in one of two physical parquet types depending on
    * the generator vintage: TIMESTAMP(NANOS) (Spark 4 reads it only as a raw
    * nanosecond Long under `spark.sql.legacy.parquet.nanosAsLong=true`) or
    * TIMESTAMP(MICROS) (native TimestampType). Engine contract is the ns
    * Long — every consumer sorts/windows/sessionizes on it — so we
    * normalize here, at the single read chokepoint, and derive:
    *  - `ts` (ns Long, kept for total ordering),
    *  - `event_date` (DATE, UTC) for daily rollups,
    *  - `ts_sec` (epoch seconds, BIGINT) for oracle-safe output.
    * Integer `div`/`unix_micros` everywhere — double math corrupts
    * 1e18-scale longs. The DuckDB oracle side (`epoch_ns(ts)`) is
    * precision-agnostic, so only this Spark-side read needs to care. */
  def events(spark: SparkSession, dir: String): DataFrame =
    normalizeEvents(load(spark, dir, "events"))

  /** Time-range events scan: the predicate is applied to the RAW parquet
    * column, in the raw column's own type, BEFORE the ns-Long
    * normalization — so it reaches the parquet reader as a pushed filter
    * (row-group + page pruning). Filtering the derived `ts` instead would
    * wrap the column in `unix_micros(...) * 1000` and read the full scan.
    * On a 100 TB events lake that is the difference between reading one
    * day and reading the decade. [fromSec, untilSec) are UTC epoch secs;
    * `None` leaves that side open (both `None` is [[events]]). An
    * `event_date >= D` / `event_date < D` engine filter is exactly
    * `fromSec = epochSec(D)` / `untilSec = epochSec(D)` (event_date is
    * the UTC floor-to-day of ts), but unlike filtering the derived
    * column these bounds reach the parquet reader. */
  def eventsIn(spark: SparkSession, dir: String,
               fromSec: Option[Long], untilSec: Option[Long]): DataFrame = {
    val raw = load(spark, dir, "events")
    // foldable literals in the raw column's own type: constant-folded
    // before pushdown, so the scan sees plain `ts >= TIMESTAMP '...'`
    // (or `ts >= <nsLong>`) bounds. Same vintage set — and same curated
    // drift error — as normalizeEvents, which runs after the filter:
    // a dropped/retyped ts must not surface as Spark's generic
    // "Field ts does not exist" here.
    def bound(sec: Long) = raw.schema.fields.find(_.name == "ts").map(_.dataType) match {
      case Some(dt @ (TimestampType | TimestampNTZType)) =>
        timestamp_seconds(lit(sec)).cast(dt)
      case Some(LongType) => lit(sec * 1000000000L)
      case other => throw tsDriftError(other)
    }
    val preds = fromSec.map(s => col("ts") >= bound(s)) ++
                untilSec.map(s => col("ts") < bound(s))
    normalizeEvents(preds.reduceOption(_ && _).fold(raw)(raw.filter))
  }

  /** The one curated events.ts drift error, shared by every site that
    * inspects the raw column ([[eventsIn]], [[normalizeEvents]]). */
  private def tsDriftError(actual: Option[DataType]): IllegalArgumentException =
    new IllegalArgumentException(
      s"testdata drift: events.ts is ${actual.fold("MISSING")(_.toString)}; " +
      "engine knows the ns-Long, TIMESTAMP, and TIMESTAMP_NTZ vintages — " +
      "extend Tables.normalizeEvents deliberately")

  private def normalizeEvents(raw: DataFrame): DataFrame = {
    val ns = raw.schema.fields.find(_.name == "ts").map(_.dataType) match {
      // The micros vintage surfaces as TIMESTAMP or (isAdjustedToUTC=false
      // parquet metadata) TIMESTAMP_NTZ; under the engine-wide UTC session
      // timezone the NTZ→TZ cast is the identity on the underlying micros.
      case Some(TimestampType | TimestampNTZType) =>
        raw.withColumn("ts", unix_micros(col("ts").cast(TimestampType)) * lit(1000L))
      case Some(LongType) => raw // the nanosAsLong vintage — already ns
      // any OTHER vintage would make `ts div 1e9` silently garble every
      // downstream date (e.g. plain INT64 micros → dates in 1970) — the
      // exact failure mode conform exists to make loud. One named error:
      case other => throw tsDriftError(other)
    }
    ns.withColumn("ts_sec", expr("ts div 1000000000"))
      .withColumn("event_date", to_date(timestamp_seconds(expr("ts div 1000000000"))))
  }
}
