package graft.forex

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** OHLC candle aggregation (reference: fct_eurusd_timeframes.sql:59-71).
  *
  * open  = price at earliest tick in the candle — the reference's
  *         `array_agg(open_price ORDER BY observed_at ASC LIMIT 1)[OFFSET(0)]`
  *         idiom (line 63) is Spark's `min_by`;
  * close = price at latest tick (line 66) → `max_by`;
  * high/low/count are plain aggregates (lines 64-65,68).
  *
  * One hash aggregate: partial (map-side) combine happens automatically, so
  * at scale this shuffles only one pre-aggregated row per
  * (timeframe, candle_start) per input partition. `min_by`/`max_by` are
  * deterministic here because silver is deduped on `observed_at` first
  * (Dedup.keyedKeepOne), so there are no order ties inside a candle.
  */
object Ohlc {

  /** The candle aggregate over ticks (observed_at, *_price); the batch and
    * streaming candles both group with it.
    */
  val tickAggs: Seq[Column] = Seq(
    min_by(col("open_price"), col("observed_at")).as("open_price"),
    max(col("high_price")).as("high_price"),
    min(col("low_price")).as("low_price"),
    max_by(col("close_price"), col("observed_at")).as("close_price"),
    count(lit(1)).as("ticks_5m_count"))

  def candles(fanned: DataFrame, keyCols: Seq[String] = Nil): DataFrame =
    fanned
      .groupBy(keyCols.map(col) ++ Seq(col("timeframe"), col("candle_start")): _*)
      .agg(tickAggs.head, tickAggs.tail: _*)

  /** Hierarchical re-aggregation: coarser candles FROM finer candles, never
    * re-reading ticks — OHLC is a mergeable aggregate (open = open of the
    * earliest child, close = close of the latest, high/low = max/min,
    * count = sum). Correct whenever every coarse boundary is also a fine
    * boundary, which holds for all reference timeframes over a 1h base:
    * the 4h/12h anchors are whole hours (−2h NY shift) and 24h is
    * UTC-midnight-aligned.
    *
    * This is THE candle-store pattern at 100 TB: the tick scan happens once
    * (into the finest persisted timeframe) and every coarser series derives
    * from candle-level data — input is |candles|, orders of magnitude below
    * |ticks|. One explode + one hash aggregate for all targets (the same
    * single-scan shape as Resample.fanout); `min_by`/`max_by` order on the
    * child candle_start, unique per timeframe by construction.
    */
  def rollupCandles(fine: DataFrame, targets: Seq[Resample.Timeframe]): DataFrame = {
    val f = fine.select(col("candle_start").as("child_start"),
      col("open_price"), col("high_price"), col("low_price"),
      col("close_price"), col("ticks_5m_count"))
    val tags = array(targets.map { tf =>
      struct(
        lit(tf.name).as("timeframe"),
        Resample.bucket(col("child_start"), tf).as("candle_start"))
    }: _*)
    f.select(explode(tags).as("tfb"), col("*"))
      .groupBy(col("tfb.timeframe").as("timeframe"),
        col("tfb.candle_start").as("candle_start"))
      .agg(
        min_by(col("open_price"), col("child_start")).as("open_price"),
        max(col("high_price")).as("high_price"),
        min(col("low_price")).as("low_price"),
        max_by(col("close_price"), col("child_start")).as("close_price"),
        sum(col("ticks_5m_count")).as("ticks_5m_count"))
  }
}
