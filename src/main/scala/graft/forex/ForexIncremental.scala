package graft.forex

import java.sql.{Date, Timestamp}
import java.time.LocalDate

import scala.annotation.tailrec

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.expressions.Window
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
  * partitions (SURVEY §4.3 option 1). The reference re-reads a 60-day
  * lookback so that ROWS-frame SMAs are correct across batch boundaries
  * (fct_eurusd_timeframes.sql:25-29); here the candles of the range are
  * built from its own silver days plus the next one, and each timeframe's
  * window predecessors — the 49 candles before the range — are read back
  * from stored gold (`close_price` only). The daily run's range is
  * [newest gold day − 1, newest silver day], the `--date` backfill's
  * [d − 1, 49th silver day after d]; both come from day listings, so a
  * daily run's scans and writes grow with the days it touches, not with
  * history. A full refresh (empty gold) builds every candle from silver.
  *
  * Each silver upsert and gold rewrite logs one `[graft]` line to stderr:
  * the upsert's observed metrics; the rewritten candle-day range with the
  * silver and gold predecessor day partitions it read.
  *
  * `now` is injectable so tests are deterministic (no wall-clock in data).
  */
object ForexIncremental {

  /** Gold day partitions before a rewritten range searched for its
    * window predecessors (the reference's 60-day lookback, in partitions).
    */
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
      events: DataFrame, silverDir: String, date: LocalDate,
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

  /** Candles before a candle that its indicators read, per timeframe: the
    * `LongestFrame − 1` rows of `sma_50`'s frame (`price_diff` and `sma_20`
    * read fewer).
    */
  final val Predecessors = Indicators.LongestFrame - 1

  /** How far a changed silver day reaches in the gold table, in silver day
    * partitions after it. Backward: the +2h shift makes 4h/12h candles that
    * START late on day d-1 absorb day-d ticks before 02:00, so day d-1 must
    * be rewritten too. Forward: a candle reads its [[Predecessors]] earlier
    * candles, so the candles up to 49 of each timeframe past day d's must
    * be rewritten. Each silver day holds ticks, so it opens candles of its
    * own in every timeframe (for 4h/12h: when it has a tick at or after
    * 10:00 UTC); the 49th silver day after d therefore holds the 49th
    * successor. Forex has no weekend ticks, so counting calendar days
    * would stop short of it.
    */
  final val BackfillForwardDays = Predecessors

  /** Single-day gold backfill: rewrite every candle-day partition a change
    * to `date`'s silver data can reach — from d-1 to the
    * [[BackfillForwardDays]]th silver day after d, [d-1, d+49] on gap-free
    * data. This mirrors the reference's incremental run,
    * which re-merges its whole 60-day lookback window every batch
    * (fct_eurusd_timeframes.sql:25-29) and therefore repairs neighbors for
    * free; rewriting only day d would leave d-1's shifted candles and the
    * SMAs of up to 49 following days stale whenever the backfill actually
    * changed the day. Cost stays O(1) in table size: ~52 silver days and
    * <=60 gold partitions' predecessor columns read, ~51 day-partitions
    * rewritten, independent of history length.
    */
  def runGoldBackfill(
      spark: SparkSession, silverDir: String, goldDir: String,
      date: LocalDate,
      now: Timestamp = new Timestamp(0L)): Unit = {
    val last = IncrementalStore.listDays(spark, silverDir).filter(_.isAfter(date))
      .take(BackfillForwardDays).lastOption.getOrElse(date)
    rewriteGold(spark, silverDir, goldDir, date.minusDays(1), last, now)
  }

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
    *
    * Candles are built from silver days [first, last + 1] only: a candle
    * never starts after its ticks, and day last + 1's ticks before 02:00
    * land in day `last`'s shifted candles. Their indicators read the
    * [[Predecessors]] candles before them in each timeframe, and those
    * before `first` are taken from stored gold — `close_price` is all
    * `price_diff` and both SMAs read, and the SMA's exact decimal sum does
    * not depend on summation order. Gold before `first` is never changed
    * by the run that reads it: the daily run's new silver rows reach back
    * to day newest gold day − 1 at most, and a backfill's day d to d − 1.
    *
    * Predecessors are searched over the newest [[LookbackDays]] gold
    * partitions before `first` (the reference's 60-day lookback, counted in
    * partitions: a feed without weekend ticks holds about 43 daily candles
    * in 60 calendar days). A window that still holds fewer than 49 candles
    * of some timeframe while older partitions exist — a feed with many
    * holidays — is seen in metrics observed by the write itself, and the
    * rewrite runs again over twice the window. Without stored gold (a full
    * refresh) every candle comes from silver.
    */
  private def rewriteGold(
      spark: SparkSession, silverDir: String, goldDir: String,
      first: LocalDate, last: LocalDate, now: Timestamp): Unit = {
    val silverDays = IncrementalStore.listDays(spark, silverDir)
      .filter(d => !d.isBefore(first) && !d.isAfter(last.plusDays(1)))
    if (silverDays.isEmpty) return
    val silver = IncrementalStore.readDays(spark, silverDir, silverDays)
      .select("observed_at", "open_price", "high_price", "low_price", "close_price")
    val candleDay = to_date(col("candle_start"))
    val fresh = Ohlc.candles(Resample.fanout(silver))
      .filter(candleDay.between(lit(Date.valueOf(first)), lit(Date.valueOf(last))))
    val older = IncrementalStore.listDays(spark, goldDir).filter(_.isBefore(first))

    @tailrec def rewrite(window: Int): Unit = {
      val predDays = older.takeRight(window)
      val obs = Observation("graft-gold-predecessors")
      val candles =
        if (predDays.isEmpty) fresh
        else {
          val newest = row_number().over(
            Window.partitionBy("timeframe").orderBy(col("candle_start").desc))
          // per timeframe, how many predecessors the window held; max, not
          // count: a node below the write's range exchange can run twice
          // (boundary sampling), and a max does not double
          val held = Resample.timeframes.map(tf =>
            max(when(col("timeframe") === tf.name, col("__n"))).as(tf.name))
          val preds = IncrementalStore.readDays(spark, goldDir, predDays)
            .select("timeframe", "candle_start", "close_price")
            .withColumn("__n", newest)
            .filter(col("__n") <= Predecessors)
            .observe(obs, held.head, held.tail: _*)
            .drop("__n")
          fresh.unionByName(preds, allowMissingColumns = true)
        }
      val batch = Indicators.enrich(candles)
        .filter(candleDay >= lit(Date.valueOf(first)))
        .withColumn("dbt_updated_at", lit(now))
      IncrementalStore.overwriteDayPartitions(
        batch, goldDir, tsCol = "candle_start", clusterBy = Seq("timeframe"))
      System.err.println(s"[graft] gold rewrite($goldDir): candle days [$first, $last]" +
        s" silver_days_read=${silverDays.size} gold_predecessor_days_read=${predDays.size}")
      val short = predDays.nonEmpty && predDays.size < older.size && {
        val held = obs.get
        Resample.timeframes.exists(tf =>
          Option(held(tf.name)).forall(_.asInstanceOf[Int] < Predecessors))
      }
      if (short) rewrite(window * 2)
    }
    rewrite(LookbackDays)
  }
}
