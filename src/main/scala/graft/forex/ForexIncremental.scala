package graft.forex

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.store.IncrementalStore

/** Incremental (micro-batch) materialization of silver + gold — the
  * reference's daily-cron execution model (daily_run.yml:4-6) as plain
  * batch functions.
  *
  * Silver (stg_eurusd.sql:14-40): strict high-watermark — only ticks with
  * `observed_at > max(observed_at)` enter the batch; late rows at or below
  * the watermark are dropped (reference semantics, SURVEY §2.10). The
  * watermark scans silver's newest day partition only.
  *
  * Gold (fct_eurusd_timeframes.sql:15-86): every gold write recomputes a
  * range of candle days and wholesale-replaces exactly those day
  * partitions (SURVEY §4.3 option 1), re-reading the 60-day silver
  * lookback before the range so ROWS-frame SMAs are correct across batch
  * boundaries. The daily run's range is [newest gold day − 1, newest
  * silver day], the `--date` backfill's [d − 1, d + 49]; both come from
  * day listings, so a daily run's scans and writes grow with the days it
  * touches, not with history.
  *
  * Each silver upsert and gold rewrite logs one `[graft]` line to stderr:
  * the upsert's observed metrics, the rewritten candle-day range.
  *
  * `now` is injectable so tests are deterministic (no wall-clock in data).
  */
object ForexIncremental {

  final val LookbackDays = 60

  /** One silver batch: watermark-filter the raw ticks, dedup, upsert. */
  def runSilver(
      events: DataFrame, silverDir: String,
      now: Timestamp = new Timestamp(0L)): Unit = {
    val spark = events.sparkSession
    val wm = IncrementalStore.highWatermark(spark, silverDir, "observed_at")
    val fresh = wm match {
      case Some(w) => events.filter(col("ts") > lit(w))
      case None => events
    }
    upsertSilver(fresh, silverDir, now)
  }

  /** Single-day silver backfill (the reference's `--date` mode,
    * extract_forex.py:276 + daily_run.yml:10-24): reprocess exactly one
    * historical day, bypassing the high-watermark (which would drop any day
    * at or below max(observed_at)). Idempotent: the MERGE upsert replaces
    * that day's rows by key, and only that day's partition is rewritten.
    */
  def runSilverBackfill(
      events: DataFrame, silverDir: String, date: java.time.LocalDate,
      now: Timestamp = new Timestamp(0L)): Unit = {
    val d = java.sql.Date.valueOf(date)
    upsertSilver(events.filter(to_date(col("ts")) === lit(d)), silverDir, now)
  }

  private def upsertSilver(events: DataFrame, silverDir: String,
      now: Timestamp): Unit = {
    val batch = ForexPipeline.silver(events).withColumn("dbt_updated_at", lit(now))
    val m = IncrementalStore.upsertByKey(
      batch, silverDir, tsCol = "observed_at", keyCols = Seq("observed_at"))
    // min/max are absent when nothing was written
    System.err.println(s"[graft] silver upsert($silverDir): " +
      Seq("rows_written", "min_ts_us", "max_ts_us")
        .map(k => s"$k=${m.get(k).fold("none")(_.toString)}").mkString(" "))
  }

  /** How far a changed silver day reaches in the gold table. Backward: the
    * +2h shift makes 4h/12h candles that START late on day d-1 absorb day-d
    * ticks before 02:00, so day d-1 must be rewritten too. Forward: a candle
    * on day x reads candles back to x-49 through its ROWS-frame sma_50 (the
    * 24h timeframe spends one candle per day; shorter timeframes reach less
    * far), so days d+1..d+49 must be rewritten; day d+50's frame starts at
    * d+1 and never sees day d.
    */
  final val BackfillForwardDays = 49

  /** Single-day gold backfill: rewrite every candle-day partition a change
    * to `date`'s silver data can reach — [d-1, d+49] (see
    * BackfillForwardDays). This mirrors the reference's incremental run,
    * which re-merges its whole 60-day lookback window every batch
    * (fct_eurusd_timeframes.sql:25-29) and therefore repairs neighbors for
    * free; rewriting only day d would leave d-1's shifted candles and the
    * SMAs of up to 49 following days stale whenever the backfill actually
    * changed the day. Cost stays O(1) in table size: ~111 days of silver
    * read, <=51 day-partitions rewritten, independent of history length.
    */
  def runGoldBackfill(
      spark: SparkSession, silverDir: String, goldDir: String,
      date: java.time.LocalDate,
      now: Timestamp = new Timestamp(0L)): Unit =
    rewriteGold(spark, silverDir, goldDir,
      date.minusDays(1), date.plusDays(BackfillForwardDays), now)

  /** One daily gold batch: rewrite the candle days [newest gold day − 1,
    * newest silver day]. Every silver row that passed the strict watermark
    * is newer than gold's newest candle, and a candle's indicators read
    * only earlier candles, so no earlier candle can change — except the
    * 4h/12h candles starting late on the day before, which absorb the
    * newest gold day's ticks before 02:00 (the +2h shift). An empty gold
    * table is built from every silver day, starting the day before the
    * first for the same reason. Re-running is idempotent.
    */
  def runGold(
      spark: SparkSession, silverDir: String, goldDir: String,
      now: Timestamp = new Timestamp(0L)): Unit = {
    val silverDays = IncrementalStore.listDays(spark, silverDir)
    if (silverDays.nonEmpty) {
      val from = IncrementalStore.listDays(spark, goldDir).lastOption
        .getOrElse(silverDays.head)
      rewriteGold(spark, silverDir, goldDir, from.minusDays(1), silverDays.last, now)
    }
  }

  /** Recompute the candle days [first, last] and replace exactly those gold
    * day partitions (clustered by timeframe, the reference's `cluster_by`).
    * Silver is read for the days [first − 60, last + 1] only: the lookback
    * feeds the earliest rewritten candles' ROWS-frame SMAs their
    * predecessors, and day last + 1's ticks before 02:00 land in day
    * `last`'s shifted candles. A candle never starts after its ticks, so
    * no later day can reach the range.
    */
  private def rewriteGold(
      spark: SparkSession, silverDir: String, goldDir: String,
      first: java.time.LocalDate, last: java.time.LocalDate,
      now: Timestamp): Unit = {
    val lookback = IncrementalStore.listDays(spark, silverDir).filter(d =>
      !d.isBefore(first.minusDays(LookbackDays)) && !d.isAfter(last.plusDays(1)))
    if (lookback.nonEmpty) {
      val silver = IncrementalStore.readDays(spark, silverDir, lookback)
        .select("observed_at", "open_price", "high_price", "low_price", "close_price")
      val batch = ForexPipeline.gold(silver)
        .filter(to_date(col("candle_start"))
          .between(lit(java.sql.Date.valueOf(first)), lit(java.sql.Date.valueOf(last))))
        .withColumn("dbt_updated_at", lit(now))
      IncrementalStore.overwriteDayPartitions(
        batch, goldDir, tsCol = "candle_start", clusterBy = Seq("timeframe"))
      System.err.println(s"[graft] gold rewrite($goldDir): candle days [$first, $last]")
    }
  }
}
