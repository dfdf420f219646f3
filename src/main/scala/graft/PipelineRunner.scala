package graft

import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
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
  *          [--full-refresh] [--date=YYYY-MM-DD] [--staging-view]
  *
  *  --date=YYYY-MM-DD  single-day backfill (reference
  *                     extract_forex.py:276, daily_run.yml:10-24):
  *                     reprocess exactly that historical day, idempotently —
  *                     at warehouse scale re-running one bad day must not
  *                     mean a full refresh;
  *  --staging-view     S9 materialization mode (dbt_project.yml:38-48:
  *                     staging=view, marts=table): silver is registered as a
  *                     temp view and gold computes straight from it; only
  *                     gold is persisted.
  */
object PipelineRunner {

  def runOnce(spark: SparkSession, eventsDir: String, warehouse: String,
      fullRefresh: Boolean = false, now: Timestamp = new Timestamp(0L),
      backfillDate: Option[java.time.LocalDate] = None,
      stagingView: Boolean = false): Unit = {
    val silverDir = s"$warehouse/stg_ticks"
    val goldDir = s"$warehouse/fct_timeframes"
    if (fullRefresh) {
      val fs = new org.apache.hadoop.fs.Path(warehouse)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(silverDir), true)
      fs.delete(new org.apache.hadoop.fs.Path(goldDir), true)
    }
    val events = Tables.events(spark, eventsDir)
    if (stagingView) {
      // S9 view materialization: staging never hits disk
      val silver = ForexPipeline.silver(events)
      silver.createOrReplaceTempView("stg_ticks")
      val batch = ForexPipeline.gold(
          spark.table("stg_ticks")
            .select("observed_at", "open_price", "high_price", "low_price", "close_price"))
        .withColumn("dbt_updated_at", lit(now))
      IncrementalStore.overwriteDayPartitions(
        batch, goldDir, tsCol = "candle_start", clusterBy = Seq("timeframe"))
    } else backfillDate match {
      case Some(d) =>
        ForexIncremental.runSilverBackfill(events, silverDir, d, now)
        ForexIncremental.runGoldBackfill(spark, silverDir, goldDir, d, now)
      case None =>
        ForexIncremental.runSilver(events, silverDir, now)
        ForexIncremental.runGold(spark, silverDir, goldDir, now)
    }
    // dbt-test parity: fail the run loudly on contract violations
    Checks.enforce(
      IncrementalStore.readTable(spark, goldDir)
        .select("unique_id", "timeframe", "candle_start", "open_price",
          "high_price", "low_price", "close_price"),
      Checks.goldChecks)
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: PipelineRunner <eventsDir> <warehouseDir> [--full-refresh] [--date=YYYY-MM-DD] [--staging-view]")
    val backfill = args.collectFirst {
      case a if a.startsWith("--date=") =>
        java.time.LocalDate.parse(a.stripPrefix("--date="))
    }
    val spark = GraftSession.builder().appName("graft-pipeline").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    runOnce(spark, args(0), args(1), args.contains("--full-refresh"),
      new Timestamp(System.currentTimeMillis()), backfill,
      args.contains("--staging-view"))
    val goldDir = s"${args(1)}/fct_timeframes"
    // partitions from the directory listing, not a scan: runOnce has just
    // enforced not_null(candle_start), so gold has no null-day partition,
    // the only one listDays leaves out
    println(s"[pipeline] gold rows=${IncrementalStore.readTable(spark, goldDir).count()} " +
      s"partitions=${IncrementalStore.listDays(spark, goldDir).size}")
    spark.stop()
  }
}
