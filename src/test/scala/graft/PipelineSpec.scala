package graft

import java.nio.file.Files
import java.time.LocalDate

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit, max, to_date}

import graft.forex.ForexIncremental
import graft.quality.Checks
import graft.store.IncrementalStore

/** S9 materialization modes: staging-as-view must produce the identical
  * gold table as the persisted-staging path (dbt_project.yml:38-48 —
  * staging=view, marts=table). The gold checks' scope per mode, and the
  * command lines `main` refuses.
  */
class PipelineSpec extends SparkSpec {

  private def tmp(): String = Files.createTempDirectory("graft_pl").toString

  /** Append a copy of one row of gold day `day` to that day's partition. */
  private def plantDuplicate(goldDir: String, day: LocalDate): Unit = {
    val one = IncrementalStore.readDays(spark, goldDir, Seq(day))
      .drop(IncrementalStore.PartitionCol).limit(1)
    spark.createDataFrame(java.util.Arrays.asList(one.collect(): _*), one.schema)
      .write.mode("append").parquet(s"$goldDir/${IncrementalStore.PartitionCol}=$day")
  }

  /** Write `rows` with a null `candle_start` into gold: the store puts them
    * in the null-day partition.
    */
  private def plantNullDay(goldDir: String, rows: DataFrame): Unit =
    IncrementalStore.overwriteDayPartitions(
      rows.withColumn("candle_start", lit(null).cast("timestamp")),
      goldDir, tsCol = "candle_start")

  /** The scope of each `[graft] gold checks` line `body` prints to stderr. */
  private def checkScopes(body: => Unit): Seq[String] = {
    val buf = new java.io.ByteArrayOutputStream()
    val saved = System.err
    System.setErr(new java.io.PrintStream(buf, true))
    try body finally System.setErr(saved)
    """\[graft\] gold checks\([^)]*\): scope=(full|none|days \[[^\]]*\])""".r
      .findAllMatchIn(buf.toString).map(_.group(1)).toSeq
  }

  private def goldRows(wh: String): Seq[String] = {
    val df = IncrementalStore.readTable(spark, s"$wh/fct_timeframes")
    val cols = df.columns.filterNot(Seq("dbt_updated_at", "p_date").contains).sorted
    df.select(cols.map(col).toIndexedSeq: _*)
      .collect().map(_.mkString("|")).sorted.toSeq
  }

  test("--staging-view gold equals table-materialized gold") {
    val (whTable, whView) = (tmp(), tmp())
    PipelineRunner.runOnce(spark, sf0001, whTable)
    PipelineRunner.runOnce(spark, sf0001, whView, stagingView = true)
    val (a, b) = (goldRows(whTable), goldRows(whView))
    assert(a === b)
    assert(a.nonEmpty)
    // and view mode wrote no staging table
    assert(!new java.io.File(s"$whView/stg_ticks").exists())
  }

  test("--full-refresh rebuilds from source, discarding drifted store state") {
    import org.apache.spark.sql.functions._
    val (wh, fresh) = (tmp(), tmp())
    PipelineRunner.runOnce(spark, sf0001, wh)
    // fabricate drift: a silver tick 100 days past anything the source
    // backs — an incremental run can never remove it (merges only upsert)
    val silverDir = s"$wh/stg_ticks"
    val fake = IncrementalStore.readTable(spark, silverDir)
      .orderBy(col("observed_at").desc).limit(1)
      .drop(IncrementalStore.PartitionCol)
      .withColumn("observed_at", col("observed_at") + expr("INTERVAL 100 DAYS"))
    val fakeTs = fake.first().getAs[java.sql.Timestamp]("observed_at")
    IncrementalStore.upsertByKey(fake, silverDir,
      tsCol = "observed_at", keyCols = Seq("observed_at"))
    PipelineRunner.runOnce(spark, sf0001, wh) // incremental: drift survives
    assert(IncrementalStore.readTable(spark, silverDir)
      .filter(col("observed_at") === fakeTs).count() === 1L)
    // dbt --full-refresh semantics: drop and rebuild from source alone
    PipelineRunner.runOnce(spark, sf0001, wh, fullRefresh = true)
    assert(IncrementalStore.readTable(spark, silverDir)
      .filter(col("observed_at") === fakeTs).count() === 0L)
    PipelineRunner.runOnce(spark, sf0001, fresh)
    assert(goldRows(wh) === goldRows(fresh))
  }

  test("a daily run checks the days it rewrote; --full-audit checks all of gold") {
    val wh = tmp()
    val goldDir = s"$wh/fct_timeframes"
    PipelineRunner.runOnce(spark, sf0001, wh)
    val days = IncrementalStore.listDays(spark, goldDir)
    plantDuplicate(goldDir, days.head)
    // no new ticks: the run rewrites [newest gold day - 1, newest silver day]
    assert(checkScopes(PipelineRunner.runOnce(spark, sf0001, wh)) ===
      Seq(s"days [${days.last.minusDays(1)}, ${days.last}]"))
    val e = intercept[IllegalStateException](
      PipelineRunner.runOnce(spark, sf0001, wh, fullAudit = true))
    assert(e.getMessage.contains("unique(unique_id)=1"))
  }

  test("a duplicate in a day the daily run rewrote fails its check") {
    val (silverDir, goldDir) = (tmp(), tmp())
    val events = Tables.events(spark, sf0001)
    val newest = events.agg(max(to_date(col("ts")))).first().getDate(0)
    ForexIncremental.runSilver(events.filter(to_date(col("ts")) < lit(newest)), silverDir)
    ForexIncremental.runGold(spark, silverDir, goldDir)
    ForexIncremental.runSilver(events, silverDir)
    val rewritten = ForexIncremental.runGold(spark, silverDir, goldDir)
    // planted after the rewrite, which replaces every day it writes whole,
    // and checked as runOnce checks a daily run
    plantDuplicate(goldDir, rewritten.get._2)
    val e = intercept[IllegalStateException](
      PipelineRunner.checkedGold(spark, goldDir, full = false, rewritten)
        .foreach(Checks.enforce(_, Checks.goldChecks)))
    assert(e.getMessage.contains("unique(unique_id)=1"))
  }

  test("a daily run fails on a null candle_start in the null-day partition") {
    val wh = tmp()
    val goldDir = s"$wh/fct_timeframes"
    PipelineRunner.runOnce(spark, sf0001, wh)
    val one = IncrementalStore.readTable(spark, goldDir)
      .drop(IncrementalStore.PartitionCol).limit(1)
    plantNullDay(goldDir,
      spark.createDataFrame(java.util.Arrays.asList(one.collect(): _*), one.schema))
    assert(IncrementalStore.hasNullDay(spark, goldDir))
    val e = intercept[IllegalStateException](PipelineRunner.runOnce(spark, sf0001, wh))
    assert(e.getMessage.contains("not_null(candle_start)"))
  }

  test("a daily run that rewrote nothing checks no day, but not a null-day partition") {
    val (bronze, wh) = (tmp(), tmp())
    Tables.events(spark, sf0001).limit(0).write.parquet(s"$bronze/events.parquet")
    // no silver day: no gold day is rewritten, and none is read
    assert(checkScopes(PipelineRunner.runOnce(spark, bronze, wh)) === Seq("none"))
    plantNullDay(s"$wh/fct_timeframes",
      spark.range(1).select(lit("5m").as("timeframe"), lit(1.0).as("close_price")))
    val e = intercept[IllegalStateException](PipelineRunner.runOnce(spark, bronze, wh))
    assert(e.getMessage.contains("not_null(candle_start)"))
  }

  test("--full-refresh, --staging-view and --full-audit check the whole table") {
    val wh = tmp()
    val day = LocalDate.parse("2024-01-05")
    assert(checkScopes {
      PipelineRunner.runOnce(spark, sf0001, wh, fullRefresh = true)
      PipelineRunner.runOnce(spark, sf0001, wh, stagingView = true)
      PipelineRunner.runOnce(spark, sf0001, wh, fullAudit = true)
      PipelineRunner.runOnce(spark, sf0001, wh, backfillDate = Some(day), fullAudit = true)
    } === Seq("full", "full", "full", "full"))
    // without it, a --date run checks the range its gold backfill rewrote
    val last = IncrementalStore.listDays(spark, s"$wh/stg_ticks").filter(_.isAfter(day))
      .take(ForexIncremental.BackfillForwardDays).last
    assert(checkScopes(PipelineRunner.runOnce(spark, sf0001, wh, backfillDate = Some(day))) ===
      Seq(s"days [${day.minusDays(1)}, $last]"))
  }

  test("a daily run starts at most 11 Spark jobs, and the report's row count none") {
    val wh = tmp()
    val goldDir = s"$wh/fct_timeframes"
    PipelineRunner.runOnce(spark, sf0001, wh)
    // no new ticks: a daily run over the spec's warehouse as it stands
    val jobs = SparkSpec.jobsStarted(spark)(PipelineRunner.runOnce(spark, sf0001, wh))
    assert(jobs.size <= 11, jobs.mkString("jobs started:\n", "\n", ""))
    var rows = 0L
    assert(SparkSpec.jobsStarted(spark) { rows = IncrementalStore.rowCount(spark, goldDir) } === Nil)
    assert(rows === IncrementalStore.readTable(spark, goldDir).count())
    assert(rows > 0L)
  }

  private def mainRefuses(args: String*): Unit = {
    val e = intercept[IllegalArgumentException](
      PipelineRunner.main((Seq(s"${tmp()}/absent", tmp()) ++ args).toArray))
    assert(e.getMessage.contains("usage: PipelineRunner"))
  }

  test("main refuses --full-refresh with --date (it would leave one day)") {
    mainRefuses("--full-refresh", "--date=2024-01-05")
  }

  test("main refuses --staging-view with --date (it would ignore the date)") {
    mainRefuses("--staging-view", "--date=2024-01-05")
  }

  test("main refuses an unknown option (it would run a daily run instead)") {
    mainRefuses("--full_refresh")
  }
}
