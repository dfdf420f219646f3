package graft.forex

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** The reference pipeline end-to-end, re-expressed as pure
  * `DataFrame => DataFrame` stages over the driver's `events` table
  * (tick-stream proxy: `ts` → observed_at, `value` → price; SURVEY §7.2).
  *
  * Silver (reference: models/staging/stg_eurusd.sql): typed projection +
  * keyed dedup. Gold (reference: models/marts/fct_eurusd_timeframes.sql):
  * 7-timeframe fan-out → OHLC aggregate → indicators + surrogate id.
  *
  * `dbt_updated_at` / `extraction_date` audit columns are added only by the
  * incremental writer (graft.store.IncrementalStore), never here: query
  * outputs must be deterministic for the DuckDB oracle (SURVEY §7.5).
  */
object ForexPipeline {

  /** The instrument key. The reference runs one pipeline per symbol
    * (`--symbol`, extract_forex.py:276) and stamps `symbol` on every tick
    * (extract_forex.py:138); a multi-instrument deployment holds all symbols
    * in one table and passes this key to every stage (VERDICT r4 item #1:
    * the 100 TB partition key). `Nil` is the single series.
    */
  val SymbolKey: Seq[String] = Seq("symbol")

  /** The `events` column each series key is read from: `event_type` is the
    * testdata's symbol proxy (5 distinct values).
    */
  val KeySource: Map[String, String] = Map("symbol" -> "event_type")

  /** Silver: events → typed, deduped ticks (stg_eurusd.sql:24-40), one row
    * per (keyCols…, observed_at) — still one shuffle. Tie-break on a
    * duplicate key is made deterministic via event_id (SURVEY §5 note on
    * D2's nondeterminism).
    */
  def silver(events: DataFrame, keyCols: Seq[String] = Nil): DataFrame = {
    val typed = events.select(col("event_id") +:
      keyCols.map(k => col(KeySource(k)).as(k)) ++: Seq(
      col("ts").as("observed_at"),
      col("value").as("open_price"),
      col("value").as("high_price"),
      col("value").as("low_price"),
      col("value").as("close_price")): _*)
    Dedup.keyedKeepOne(typed, keyCols.map(col) :+ col("observed_at"),
        Seq(col("event_id")))
      .drop("event_id")
  }

  /** Gold: silver ticks → per-timeframe candles with indicators
    * (fct_eurusd_timeframes.sql:15-86). With a key, the OHLC aggregate keys
    * on (keyCols…, timeframe, candle_start) and every indicator window
    * partitions by (keyCols…, timeframe), so window parallelism grows with
    * the instrument universe instead of being pinned at 7.
    */
  def gold(silver: DataFrame, keyCols: Seq[String] = Nil): DataFrame =
    Indicators.enrich(
      Ohlc.candles(Resample.fanout(silver, keyCols = keyCols), keyCols), keyCols)

  def silverFrom(spark: SparkSession, sfDir: String,
      keyCols: Seq[String] = Nil): DataFrame =
    silver(Tables.events(spark, sfDir), keyCols)

  def goldFrom(spark: SparkSession, sfDir: String,
      keyCols: Seq[String] = Nil): DataFrame =
    gold(silverFrom(spark, sfDir, keyCols), keyCols)
}
