package graft.forex

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Per-timeframe technical indicators over candle series
  * (reference: fct_eurusd_timeframes.sql:73-83).
  *
  *  - price_diff: close − lag(close) per timeframe (line 76), NULL on the
  *    first candle of each timeframe;
  *  - sma_20 / sma_50: moving averages over physical ROWS frames
  *    (lines 77-78) — partial frames at the partition start average the
  *    available rows (no NULL), exactly the reference's frame semantics;
  *  - unique_id: md5 over timeframe + formatted candle_start (line 83).
  *    The timestamp is normalized via date_format to `yyyy-MM-dd HH:mm:ss`
  *    so the hash is engine-independent (SURVEY §2.9 parity note).
  *
  * All three windows share one (partitionBy timeframe, orderBy candle_start)
  * spec, so Catalyst plans a single shuffle + sort for the whole stage.
  * At 100 TB the partition count is 7 (one per timeframe) — a known skew
  * point; acceptable because the windowed input is already candle-level
  * (orders of magnitude smaller than ticks). If candle count per timeframe
  * outgrew one executor, the fix is range-chunked windows with boundary
  * exchange, not needed at reference semantics.
  *
  * SMAs are rounded to 6 decimals ON BOTH SIDES of the oracle compare:
  * windowed float summation order differs between engines (Spark re-sums the
  * frame, DuckDB uses a segment tree), so the raw doubles can differ in the
  * last ulp.
  */
object Indicators {

  /** Rows in the longest ROWS frame, `sma_50`'s. Every indicator of a
    * candle reads at most the `LongestFrame − 1` candles before it in its
    * timeframe, which is what lets incremental gold rewrite a candle range
    * from its stored predecessors (ForexIncremental).
    */
  final val LongestFrame = 50

  /** Window partitioning: the series key is (keyCols…, timeframe) — the
    * multi-symbol pipeline passes `symbol`, which makes every window here
    * data-parallel across symbols at 100 TB (VERDICT r4 item #1): partition
    * count = |symbols| × 7 instead of 7, no chunking machinery needed.
    */
  private def w(keyCols: Seq[String]) =
    Window.partitionBy(keyCols.map(col) :+ col("timeframe"): _*)
      .orderBy(col("candle_start"))

  def priceDiff(keyCols: Seq[String] = Nil): Column =
    col("close_price") - lag(col("close_price"), 1).over(w(keyCols))

  /** Moving average over a physical ROWS frame.
    *
    * NOT computed as a float `avg`: windowed float summation order is
    * engine-dependent (Spark re-sums the frame, DuckDB uses a segment tree),
    * which makes the last ulp — and therefore any fixed-decimal rounding at a
    * half boundary — nondeterministic across engines. Instead the frame sum
    * is computed in exact DECIMAL (close_price quantized at 1e-10, far below
    * data precision), cast to double, divided by the frame row count: every
    * step is association-independent, so both engines produce bit-identical
    * doubles.
    */
  def sma(n: Int, keyCols: Seq[String] = Nil): Column = {
    val f = w(keyCols).rowsBetween(-(n - 1), Window.currentRow)
    val sumDec = sum(col("close_price").cast(DecimalType(25, 10))).over(f)
    graft.Parity.pround(sumDec.cast("double") / count(lit(1)).over(f), 6)
  }

  /** Surrogate id over the full series key; keyCols prepend to the hashed
    * string so multi-symbol ids stay unique across symbols.
    */
  def uniqueId(keyCols: Seq[String] = Nil): Column = {
    val parts = keyCols.map(col) ++ Seq(col("timeframe"),
      date_format(col("candle_start"), "yyyy-MM-dd HH:mm:ss"))
    md5(concat_ws("|", parts: _*))
  }

  /** Add indicator + id columns to an OHLC candle frame. */
  def enrich(candles: DataFrame, keyCols: Seq[String] = Nil): DataFrame =
    candles
      .withColumn("price_diff", priceDiff(keyCols))
      .withColumn("sma_20", sma(20, keyCols))
      .withColumn("sma_50", sma(LongestFrame, keyCols))
      .withColumn("unique_id", uniqueId(keyCols))
      .select(
        keyCols.map(col) ++ Seq(
          col("unique_id"), col("timeframe"), col("candle_start"),
          col("open_price"), col("high_price"), col("low_price"), col("close_price"),
          col("ticks_5m_count"), col("price_diff"), col("sma_20"), col("sma_50")): _*)
}
