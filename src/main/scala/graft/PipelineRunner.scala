package graft

import java.sql.Timestamp
import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.forex.{ForexIncremental, ForexPipeline}
import graft.quality.Checks
import graft.store.IncrementalStore

/** E2-parity orchestration entry point (reference:
  * .github/workflows/daily_run.yml — extract, register, staging strictly
  * before marts, tests): one invocation = one incremental batch through
  * bronze → silver → gold with the gold schema-test suite enforced at the
  * end. A scheduler (cron, Airflow, …) calls this daily; re-runs are
  * idempotent by construction (MERGE store).
  *
  * Usage: PipelineRunner <eventsDir> <warehouseDir>
  *          [--full-refresh] [--date=YYYY-MM-DD] [--staging-view] [--full-audit]
  *
  *  --full-refresh     drop silver and gold and rebuild both from the events
  *                     (dbt `--full-refresh`); takes no `--date`;
  *  --date=YYYY-MM-DD  single-day backfill (reference
  *                     extract_forex.py:276, daily_run.yml:10-24):
  *                     reprocess exactly that historical day, idempotently —
  *                     at warehouse scale re-running one bad day must not
  *                     mean a full refresh;
  *  --staging-view     S9 materialization mode (dbt_project.yml:38-48:
  *                     staging=view, marts=table): silver is registered as a
  *                     temp view and gold computes straight from it; only
  *                     gold is persisted. Takes no `--date`;
  *  --full-audit       run the gold checks over the whole table, as dbt's
  *                     schema tests do, not over the rewritten days only.
  *
  * An unknown option or a combination above that is refused stops the run
  * before it starts, with the usage line.
  */
object PipelineRunner {

  private final val Usage = "usage: PipelineRunner <eventsDir> <warehouseDir> " +
    "[--full-refresh] [--date=YYYY-MM-DD] [--staging-view] [--full-audit]"

  /** One batch through bronze → silver → gold, then the gold checks
    * ([[Checks.goldChecks]]), which throw on a violation.
    *
    * A daily or `--date` run checks only the gold day partitions of the
    * candle-day range it rewrote that exist, as [[checkedGold]] reads them.
    * That is the whole-table check's verdict, because:
    *  - `unique_id` is an md5 of timeframe and `candle_start` formatted to
    *    the second (`Indicators.uniqueId`) and `p_date` is
    *    `to_date(candle_start)`, so two equal ids always sit in the same
    *    partition;
    *  - `not_null`, `accepted_values` and `candle_bounds` look at one row at
    *    a time;
    *  - every other partition was checked when a run wrote it, and no other
    *    code path writes gold values (`compactDays` and `retainDays` leave
    *    them unchanged).
    * A null `candle_start` has no day: its rows sit in the null-day
    * partition, which no range holds. That partition's presence fails the
    * check as `not_null(candle_start)`. A run that rewrote nothing (no silver
    * day) checks no day partition, only that the null-day partition is
    * absent, and starts no Spark job for it.
    *
    * A full refresh, the staging view (its rewrite is not a range) and
    * `fullAudit` check the whole table.
    */
  def runOnce(spark: SparkSession, eventsDir: String, warehouse: String,
      fullRefresh: Boolean = false, now: Timestamp = new Timestamp(0L),
      backfillDate: Option[LocalDate] = None,
      stagingView: Boolean = false, fullAudit: Boolean = false): Unit = {
    val silverDir = s"$warehouse/stg_ticks"
    val goldDir = s"$warehouse/fct_timeframes"
    if (fullRefresh) {
      val fs = new org.apache.hadoop.fs.Path(warehouse)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(silverDir), true)
      fs.delete(new org.apache.hadoop.fs.Path(goldDir), true)
    }
    val events = Tables.events(spark, eventsDir)
    val rewritten = if (stagingView) {
      // S9 view materialization: staging never hits disk
      val silver = ForexPipeline.silver(events)
      silver.createOrReplaceTempView("stg_ticks")
      val batch = ForexPipeline.gold(
          spark.table("stg_ticks")
            .select("observed_at", "open_price", "high_price", "low_price", "close_price"))
        .withColumn("dbt_updated_at", lit(now))
      IncrementalStore.overwriteDayPartitions(
        batch, goldDir, tsCol = "candle_start", clusterBy = Seq("timeframe"))
      None // checked whole below
    } else backfillDate match {
      case Some(d) =>
        ForexIncremental.runSilverBackfill(events, silverDir, d, now)
        ForexIncremental.runGoldBackfill(spark, silverDir, goldDir, d, now)
      case None =>
        ForexIncremental.runSilver(events, silverDir, now)
        ForexIncremental.runGold(spark, silverDir, goldDir, now)
    }
    // dbt-test parity: fail the run loudly on contract violations
    checkedGold(spark, goldDir, fullRefresh || stagingView || fullAudit, rewritten)
      .foreach(Checks.enforce(_, Checks.goldChecks))
  }

  /** The gold rows a run's checks read, in the columns
    * [[Checks.goldChecks]] reads; None when that is no row, and then no Spark
    * job runs. With `full`, every partition. Otherwise the day partitions of
    * the candle-day range `rewritten` that exist (none when it is None), and
    * a null-day partition throws as a `not_null(candle_start)` violation
    * (see [[runOnce]]). Logs one `[graft] gold checks` line to stderr with
    * the scope and the number of partitions read.
    */
  private[graft] def checkedGold(spark: SparkSession, goldDir: String, full: Boolean,
      rewritten: Option[(LocalDate, LocalDate)]): Option[DataFrame] = {
    val nullDay = IncrementalStore.hasNullDay(spark, goldDir)
    val (scope, days) =
      if (full) ("full", IncrementalStore.listDays(spark, goldDir))
      else rewritten.fold(("none", Seq.empty[LocalDate])) { case (first, last) =>
        (s"days [$first, $last]", IncrementalStore.listDays(spark, goldDir)
          .filter(d => !d.isBefore(first) && !d.isAfter(last)))
      }
    val read = if (full && nullDay) days.size + 1 else days.size
    System.err.println(s"[graft] gold checks($goldDir): scope=$scope partitions=$read")
    if (!full && nullDay) throw new IllegalStateException(
      s"data-quality violations: not_null(candle_start): $goldDir has a null-day partition")
    val rows =
      if (full) Some(IncrementalStore.readTable(spark, goldDir))
      else if (days.isEmpty) None
      else Some(IncrementalStore.readDays(spark, goldDir, days))
    rows.map(_.select("unique_id", "timeframe", "candle_start", "open_price",
      "high_price", "low_price", "close_price"))
  }

  def main(args: Array[String]): Unit = {
    val (flags, dirs) = args.toSeq.partition(_.startsWith("--"))
    val dates = flags.filter(_.startsWith("--date="))
    def has(flag: String) = flags.contains(flag)
    def usage(why: String) = s"$why\n$Usage"
    val unknown = flags.filterNot(f => dates.contains(f) ||
      Seq("--full-refresh", "--staging-view", "--full-audit").contains(f))
    require(dirs.size == 2, usage(s"expected two directories, got ${dirs.size}"))
    require(unknown.isEmpty, usage(s"unknown option ${unknown.mkString(" ")}"))
    require(dates.size <= 1, usage("--date given more than once"))
    require(dates.isEmpty || !has("--full-refresh"),
      usage("--full-refresh rebuilds every day, so it takes no --date"))
    require(dates.isEmpty || !has("--staging-view"),
      usage("--staging-view rebuilds gold from every day, so it takes no --date"))
    val Seq(eventsDir, warehouse) = dirs
    val backfill = dates.headOption.map(d => LocalDate.parse(d.stripPrefix("--date=")))
    val spark = GraftSession.builder().appName("graft-pipeline").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    runOnce(spark, eventsDir, warehouse, has("--full-refresh"),
      new Timestamp(System.currentTimeMillis()), backfill,
      has("--staging-view"), has("--full-audit"))
    val goldDir = s"$warehouse/fct_timeframes"
    // rows from the footers and partitions from the directory listing, not
    // a scan: runOnce has just enforced not_null(candle_start), so gold has
    // no null-day partition, the only one listDays leaves out
    println(s"[pipeline] gold rows=${IncrementalStore.rowCount(spark, goldDir)} " +
      s"partitions=${IncrementalStore.listDays(spark, goldDir).size}")
    spark.stop()
  }
}
