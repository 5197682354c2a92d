package graft.functions

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructType}

/** Technical-indicator column functions over a per-key ordered series.
  *
  * Reference semantics: dashboard/components/indicators.py:1-27 and
  * full_stock_pipeline.py:425-489. All windows partition by the series
  * key and order by date — never a global `Window.orderBy` (a global
  * window is a single-task sort at 100 TB; per-key windows shuffle once
  * by key and sort within partitions).
  *
  * Deliberate deviation (documented in SURVEY.md §2.5): the reference
  * dashboard computes rolling indicators on a DESC-sorted frame
  * (app.py:82-86), making them look at future rows. We compute on ASC
  * time order — correctness over bug-compatibility.
  */
object Indicators {

  /** The canonical per-symbol time window. */
  def series(key: String, time: String*): WindowSpec =
    Window.partitionBy(key).orderBy(time.map(col): _*)

  /** W1/W4 — previous value (`LAG(close) OVER (PARTITION BY sym ORDER BY d)`).
    * Reference: full_stock_pipeline.py:396. */
  def prev(c: Column, w: WindowSpec): Column = lag(c, 1).over(w)

  /** W5 — percent change vs previous row, null-guarded (P13).
    * Reference: analyze_news_stock_patterns.py:96 + nullif guards :34-39. */
  def pctChange(c: Column, w: WindowSpec): Column = {
    val p = lag(c, 1).over(w)
    when(p.isNull || p === 0, lit(null)).otherwise((c - p) / p * 100)
  }

  /** W3 — SQL-style moving average over the last `n` rows INCLUDING
    * partial frames (emits a value from row 1, like Postgres AVG over a
    * short frame). Reference: full_stock_pipeline.py:452-471. */
  def movingAvgPartial(c: Column, w: WindowSpec, n: Int): Column =
    avg(c).over(w.rowsBetween(-(n - 1), 0))

  /** W7 — pandas-style SMA: null until the frame holds `n` rows
    * (`rolling(n).mean()` yields NaN below min_periods).
    * Reference: indicators.py:1-4. */
  def sma(c: Column, w: WindowSpec, n: Int): Column = {
    val frame = w.rowsBetween(-(n - 1), 0)
    when(count(c).over(frame) >= n, avg(c).over(frame))
  }

  /** W8/F3 — EMA(span), pandas `ewm(span=n, adjust=False).mean()`:
    * recursive ema_t = alpha*c_t + (1-alpha)*ema_{t-1}, seeded with c_0,
    * alpha = 2/(n+1). Reference: indicators.py:6-9.
    *
    * The native TypedImperativeAggregate `graft_ema`
    * (plans/EmaAggregate) over the growing frame: the window evaluates
    * it incrementally — O(n) per key vs the [[emaHof]] closed form's
    * O(n²), with bit-identical recursion (PlansSpec).
    */
  def ema(c: Column, w: WindowSpec, span: Int): Column =
    call_function("graft_ema", c, lit(span))
      .over(w.rowsBetween(Window.unboundedPreceding, 0))

  /** Composable twin of [[ema]]: exact-recursion fold over the collected
    * history (no extensions required). O(rows × history) per key. */
  def emaHof(c: Column, w: WindowSpec, span: Int): Column = {
    val alpha = 2.0 / (span + 1)
    val hist = collect_list(c).over(w.rowsBetween(Window.unboundedPreceding, 0))
    // fold the tail of the history with the head as the seed
    // (slice length must be a bounded column: int-literal lengths near
    // Int.MaxValue overflow inside Slice and yield an empty array)
    aggregate(
      slice(hist, lit(2), greatest(size(hist) - 1, lit(0))),
      element_at(hist, 1),
      (acc, x) => x * lit(alpha) + acc * lit(1 - alpha)
    )
  }

  /** W8 at scale — single-pass EMA: O(rows) per key instead of the
    * window form's O(rows × history). One shuffle (repartition by key),
    * an in-partition sort, then a streaming fold over each partition —
    * no per-key state beyond one double, so a key with years of history
    * costs memory O(1). Recursion is written identically to [[ema]]
    * (x*α + acc*(1−α)), so results are bit-identical (IndicatorsSpec).
    *
    * Appends `outCol` to `df`'s schema.
    */
  def emaByKey(df: DataFrame, key: String, time: Seq[String], value: String,
               span: Int, outCol: String = "ema"): DataFrame = {
    val alpha = 2.0 / (span + 1)
    val schema = df.schema
    val outSchema = schema.add(outCol, DoubleType, nullable = true)
    val keyIdx = schema.fieldIndex(key)
    val valIdx = schema.fieldIndex(value)
    val sortCols = (key +: time).map(col)
    df.repartition(col(key))
      .sortWithinPartitions(sortCols: _*)
      .mapPartitions { rows =>
        var curKey: Any = null
        var hasKey = false
        var acc = 0.0
        rows.map { r =>
          val k = r.get(keyIdx)
          val x = r.getDouble(valIdx)
          if (!hasKey || k != curKey) { curKey = k; hasKey = true; acc = x }
          else acc = x * alpha + acc * (1 - alpha)
          Row.fromSeq(r.toSeq :+ acc)
        }
      }(Encoders.row(outSchema))
  }

  /** MACD(fast, slow): EMA(fast) − EMA(slow) of the series. The signal
    * line is an EMA of the MACD itself — a second windowing pass over
    * the derived column (see q_w_macd). */
  def macd(c: Column, w: WindowSpec, fast: Int = 12, slow: Int = 26): Column =
    ema(c, w, fast) - ema(c, w, slow)

  /** Stochastic %K(n): position of the close inside the last-n-rows
    * low/high range, 0..100; null when the range is degenerate. */
  def stochasticK(c: Column, w: WindowSpec, n: Int = 14): Column = {
    val frame = w.rowsBetween(-(n - 1), 0)
    val lo = min(c).over(frame)
    val hi = max(c).over(frame)
    when(hi =!= lo, (c - lo) / (hi - lo) * 100)
  }

  /** W9 — RSI(n): mean gain / mean loss over the last n rows,
    * rsi = 100 - 100/(1+rs). Reference: indicators.py:11-18. */
  def rsi(c: Column, w: WindowSpec, n: Int): Column = {
    val delta = c - lag(c, 1).over(w)
    val gain  = when(delta > 0, delta).otherwise(lit(0.0))
    val loss  = when(delta < 0, -delta).otherwise(lit(0.0))
    val frame = w.rowsBetween(-(n - 1), 0)
    val avgGain = avg(gain).over(frame)
    val avgLoss = avg(loss).over(frame)
    when(avgLoss === 0, lit(100.0))
      .otherwise(lit(100.0) - lit(100.0) / (lit(1.0) + avgGain / avgLoss))
  }

  /** W10 — Bollinger bands: mean ± k * sample-stddev over last n rows
    * (pandas `std()` is ddof=1 → `stddev_samp`).
    * Reference: indicators.py:20-27. Returns (mid, upper, lower). */
  def bollinger(c: Column, w: WindowSpec, n: Int, k: Double = 2.0): (Column, Column, Column) = {
    val frame = w.rowsBetween(-(n - 1), 0)
    val mid = avg(c).over(frame)
    val sd  = stddev_samp(c).over(frame)
    (mid, mid + lit(k) * sd, mid - lit(k) * sd)
  }
}
