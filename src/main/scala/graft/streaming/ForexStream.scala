package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode}
import org.apache.spark.sql.types._

import graft.forex.{Ohlc, Resample}
import graft.store.IncrementalStore

/** Structured Streaming realization of the reference pipeline.
  *
  * The reference is logically a micro-batch incremental stream — a daily
  * cron appends one day of ticks, a strict high-watermark drops late rows,
  * candles re-aggregate a trailing window (SURVEY §2.10). Here the same
  * semantics run as a real stream:
  *
  *  - source: file stream over the silver tick directory;
  *  - watermark: `withWatermark(observed_at)` — the streaming analog of the
  *    reference's `> max(observed_at)` late-row drop (stg_eurusd.sql:18-21);
  *  - tumbling OHLC: `window()` with the timeframe's width and the −2h NY
  *    anchor as the window startTime offset (fct_eurusd_timeframes.sql:42-56)
  *    — window().start equals Resample.bucket for every timeframe;
  *  - sink: `foreachBatch` → IncrementalStore day-partition upsert, which is
  *    idempotent per key, giving exactly-once table contents on replay (the
  *    reference's MERGE, SURVEY §2.10 row 5).
  */
object ForexStream {

  val tickSchema: StructType = StructType(Seq(
    StructField("observed_at", TimestampType),
    StructField("open_price", DoubleType),
    StructField("high_price", DoubleType),
    StructField("low_price", DoubleType),
    StructField("close_price", DoubleType)))

  /** File-stream of silver ticks from a directory of parquet files, with
    * the series key columns (`symbol`, ForexPipeline.SymbolKey) first.
    */
  def ticks(spark: SparkSession, dir: String, keyCols: Seq[String] = Nil): DataFrame =
    spark.readStream.schema(StructType(
      keyCols.map(StructField(_, StringType)) ++ tickSchema.fields)).parquet(dir)

  /** `window()` parameters reproducing Resample.bucket's grid: width =
    * timeframe width, startTime = anchor shift so boundaries land on the
    * −2h-shifted grid (only 4h/12h have a nonzero anchor; sub-day frames
    * divide the hour and 24h is pure UTC — SURVEY §2.4).
    */
  private def windowFor(tf: Resample.Timeframe) = {
    val width = s"${tf.widthUs / 1000000L} seconds"
    val start = s"${(tf.widthUs - tf.shiftUs) % tf.widthUs / 1000000L} seconds"
    window(col("observed_at"), width, width, start)
  }

  private def ohlcOverWindow(grouped: org.apache.spark.sql.RelationalGroupedDataset,
      tf: Resample.Timeframe, keyCols: Seq[String] = Nil): DataFrame =
    grouped
      .agg(Ohlc.tickAggs.head, Ohlc.tickAggs.tail: _*)
      .select(keyCols.map(col) ++ Seq(
        lit(tf.name).as("timeframe"), col("w.start").as("candle_start"),
        col("open_price"), col("high_price"), col("low_price"),
        col("close_price"), col("ticks_5m_count")): _*)

  /** Streaming OHLC candles for one timeframe (append mode once the
    * watermark passes the window end). `keyCols` adds series keys (symbol)
    * to the grouping — streaming state and shuffle then key on
    * (symbol, window), the same parallelism story as the batch multisym
    * pipeline.
    */
  def candles(ticksStream: DataFrame, tf: Resample.Timeframe,
      lateness: String = "1 hour", keyCols: Seq[String] = Nil): DataFrame =
    ohlcOverWindow(
      ticksStream
        .withWatermark("observed_at", lateness)
        .groupBy(keyCols.map(col) :+ windowFor(tf).as("w"): _*), tf, keyCols)

  /** Complete-mode variant: every window re-emitted per trigger, none
    * withheld behind a watermark — the form whose bounded run is exactly
    * comparable to (and oracle-checked against) the batch candle query.
    * State grows with window count, so it is for bounded replays/backfills,
    * not unbounded streams; `candles` is the production append path.
    */
  def candlesComplete(ticksStream: DataFrame, tf: Resample.Timeframe,
      keyCols: Seq[String] = Nil): DataFrame =
    ohlcOverWindow(
      ticksStream.groupBy(keyCols.map(col) :+ windowFor(tf).as("w"): _*),
      tf, keyCols)

  /** SLIDING-window OHLC: overlapping windows (width > slide), each tick
    * contributing to width/slide windows — the streaming form of a moving
    * aggregate (e.g. "1h candle refreshed every 15m"). Spark's `window()`
    * assigns each row to all windows whose [start, start+width) contains
    * it, starts aligned to the slide grid; state per key is one window
    * aggregate, so memory is O(active windows), and in complete-mode
    * bounded runs the result is exactly the batch explode-to-4-windows
    * equivalent (the oracle's CROSS JOIN range(0, width/slide) form).
    */
  def slidingCandles(ticksStream: DataFrame, width: String = "1 hour",
      slide: String = "15 minutes"): DataFrame =
    ticksStream
      .groupBy(window(col("observed_at"), width, slide).as("w"))
      .agg(Ohlc.tickAggs.head, Ohlc.tickAggs.tail: _*)
      .select(col("w.start").as("window_start"), col("open_price"),
        col("high_price"), col("low_price"), col("close_price"),
        col("ticks_5m_count"))

  /** Streaming analog of the batch keyed dedup (D2): keep one tick per
    * observed_at across micro-batches, with state bounded by the watermark —
    * `dropDuplicatesWithinWatermark` expires each key's dedup state once the
    * watermark passes it, so state size is O(keys per lateness window), not
    * O(stream history). This is the only state-bound-safe streaming dedup at
    * 100 TB/day volumes; plain `dropDuplicates` on a stream accumulates
    * state forever.
    */
  def dedupedTicks(ticksStream: DataFrame, lateness: String = "1 hour"): DataFrame =
    ticksStream
      .withWatermark("observed_at", lateness)
      .dropDuplicatesWithinWatermark("observed_at")

  /** Stream → incremental store: every micro-batch upserts its candle-days
    * (idempotent on (timeframe, candle_start), so replays are exactly-once
    * at the table level).
    */
  def writeToStore(candleStream: DataFrame, targetDir: String): DataStreamWriter[Row] =
    candleStream.writeStream
      .outputMode(OutputMode.Append)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          IncrementalStore.upsertByKey(
            batch, targetDir, tsCol = "candle_start",
            keyCols = Seq("timeframe", "candle_start"))
          () // operation metrics unused here; foreachBatch wants Unit
        }
      }
}
