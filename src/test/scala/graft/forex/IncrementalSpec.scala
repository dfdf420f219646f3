package graft.forex

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{PipelineRunner, SparkSpec, Tables}
import graft.store.IncrementalStore

/** MERGE-semantics regression tests (SURVEY §5 item 4): two-batch
  * incremental == one-shot, idempotent re-runs, late-row drop.
  */
class IncrementalSpec extends SparkSpec {

  private def tmp(): String =
    Files.createTempDirectory("graft_inc").toString

  private def events: DataFrame = Tables.events(spark, sf0001)

  private def midpoint: Timestamp = {
    val r = events.agg(min(col("ts")), max(col("ts"))).first()
    new Timestamp((r.getTimestamp(0).getTime + r.getTimestamp(1).getTime) / 2)
  }

  private final val DayUs = 86400L * 1000000L
  private final val Day0Us =
    java.time.Instant.parse("2024-01-01T00:00:00Z").getEpochSecond * 1000000L

  /** `days` days of synthetic ticks from 2024-01-01 UTC, one per 20-minute
    * slot at a hashed offset inside it (distinct, increasing times), with a
    * deterministic price path. The sf test data spans only 30 days, which
    * never crosses the 60-day gold lookback.
    */
  private def longEvents(days: Int): DataFrame = {
    val slotUs = 20L * 60 * 1000000L
    spark.range(days * DayUs / slotUs).select(
      col("id").as("event_id"),
      timestamp_micros(lit(Day0Us) + col("id") * slotUs +
        pmod(xxhash64(col("id")), lit(slotUs - 1000000L))).as("ts"),
      (lit(1.1) + sin(col("id") / 97.0) * 0.02 +
        (pmod(xxhash64(col("id"), lit(1)), lit(1000L)) - 500) / 1e6).as("value"))
  }

  /** `ev` as bronze stands at 01:00 on day `day` (day 0 = 2024-01-01): each
    * daily run lands one more day, and the ticks before 01:00 fall in the
    * previous day's shifted 4h/12h candles.
    */
  private def landedBy(ev: DataFrame, day: Int): DataFrame =
    ev.filter(unix_micros(col("ts")) < lit(Day0Us + day * DayUs + DayUs / 24))

  /** The day index of `ts`, day 0 = 2024-01-01, a Monday. */
  private def dayIndex: org.apache.spark.sql.Column =
    floor((unix_micros(col("ts")) - lit(Day0Us)) / lit(DayUs)).cast("int")

  /** Silver and gold of a one-shot run over `ev`, as sorted rows. */
  private def oneShot(ev: DataFrame): (Seq[String], Seq[String]) = {
    val (silver, gold) = (tmp(), tmp())
    ForexIncremental.runSilver(ev, silver)
    ForexIncremental.runGold(spark, silver, gold)
    (storeRows(silver), storeRows(gold))
  }

  private def storeRows(dir: String): Seq[String] =
    sortedRows(IncrementalStore.readTable(spark, dir), Seq("dbt_updated_at", "p_date"))

  /** Each `p_date=` directory of a local table: its day and file names. */
  private def dayFiles(dir: String): Map[java.time.LocalDate, Set[String]] =
    new java.io.File(dir).listFiles().toSeq
      .filter(f => f.isDirectory && f.getName.startsWith("p_date="))
      .map(f => java.time.LocalDate.parse(f.getName.stripPrefix("p_date=")) ->
        f.listFiles().map(_.getName).toSet)
      .toMap

  private def sortedRows(df: DataFrame, drop: Seq[String]): Seq[String] = {
    val cols = df.columns.filterNot(drop.contains).sorted
    df.select(cols.map(col).toIndexedSeq: _*)
      .collect().map(_.mkString("|")).sorted.toSeq
  }

  test("silver: batch(day1..k) then batch(rest) equals one-shot") {
    val (inc, once) = (tmp(), tmp())
    val m = midpoint
    ForexIncremental.runSilver(events.filter(col("ts") <= lit(m)), inc)
    ForexIncremental.runSilver(events, inc) // watermark picks up the rest
    ForexIncremental.runSilver(events, once)
    val a = sortedRows(IncrementalStore.readTable(spark, inc), Seq("dbt_updated_at", "p_date"))
    val b = sortedRows(IncrementalStore.readTable(spark, once), Seq("dbt_updated_at", "p_date"))
    assert(a === b)
    assert(a.nonEmpty)
  }

  test("silver: re-running the same batch is a no-op (idempotent upsert)") {
    val dir = tmp()
    ForexIncremental.runSilver(events, dir)
    val before = sortedRows(IncrementalStore.readTable(spark, dir), Seq("dbt_updated_at", "p_date"))
    ForexIncremental.runSilver(events, dir)
    val after = sortedRows(IncrementalStore.readTable(spark, dir), Seq("dbt_updated_at", "p_date"))
    assert(before === after)
  }

  test("silver: late rows at/below the watermark are dropped (strict >)") {
    val dir = tmp()
    val m = midpoint
    ForexIncremental.runSilver(events, dir)
    val n1 = IncrementalStore.readTable(spark, dir).count()
    // replay an old slice — everything is <= watermark, nothing may change
    ForexIncremental.runSilver(events.filter(col("ts") <= lit(m)), dir)
    assert(IncrementalStore.readTable(spark, dir).count() === n1)
  }

  test("backfill --date: re-running one historical day equals one-shot") {
    val (silverDir, goldDir) = (tmp(), tmp())
    val (silverOnce, goldOnce) = (tmp(), tmp())
    // pick a day ~3 days before the end of the data
    val maxTs = events.agg(max(col("ts"))).first().getTimestamp(0)
    val day = maxTs.toLocalDateTime.toLocalDate.minusDays(3)
    val d = java.sql.Date.valueOf(day)
    // build the store WITHOUT day N-3 (days after it exist), then backfill it
    ForexIncremental.runSilver(events.filter(to_date(col("ts")) =!= lit(d)), silverDir)
    ForexIncremental.runGold(spark, silverDir, goldDir)
    ForexIncremental.runSilverBackfill(events, silverDir, day)
    ForexIncremental.runGoldBackfill(spark, silverDir, goldDir, day)
    // one-shot over everything
    ForexIncremental.runSilver(events, silverOnce)
    ForexIncremental.runGold(spark, silverOnce, goldOnce)
    val sA = sortedRows(IncrementalStore.readTable(spark, silverDir), Seq("dbt_updated_at", "p_date"))
    val sB = sortedRows(IncrementalStore.readTable(spark, silverOnce), Seq("dbt_updated_at", "p_date"))
    assert(sA === sB)
    // gold: the backfill CHANGED day d's silver (the day was absent from the
    // initial build), which staled day d-1's shifted 4h/12h candles and the
    // SMAs of every following day — the repair must rewrite all of them, so
    // the ENTIRE table must equal the one-shot recompute, not just day d
    val gA = sortedRows(IncrementalStore.readTable(spark, goldDir),
      Seq("dbt_updated_at", "p_date"))
    val gB = sortedRows(IncrementalStore.readTable(spark, goldOnce),
      Seq("dbt_updated_at", "p_date"))
    assert(gA === gB)
    assert(gA.nonEmpty)
  }

  test("gold: incremental after silver growth equals one-shot recompute") {
    val (silverInc, goldInc, silverOnce, goldOnce) = (tmp(), tmp(), tmp(), tmp())
    val m = midpoint
    // incremental: half, gold, then full, gold again
    ForexIncremental.runSilver(events.filter(col("ts") <= lit(m)), silverInc)
    ForexIncremental.runGold(spark, silverInc, goldInc)
    ForexIncremental.runSilver(events, silverInc)
    ForexIncremental.runGold(spark, silverInc, goldInc)
    // one-shot
    ForexIncremental.runSilver(events, silverOnce)
    ForexIncremental.runGold(spark, silverOnce, goldOnce)
    val a = sortedRows(IncrementalStore.readTable(spark, goldInc), Seq("dbt_updated_at", "p_date"))
    val b = sortedRows(IncrementalStore.readTable(spark, goldOnce), Seq("dbt_updated_at", "p_date"))
    assert(a === b)
    assert(a.nonEmpty)
  }

  test("gold: daily runs past the 60-day lookback equal one-shot, rewriting only their days") {
    val ev = longEvents(70)
    val (silverInc, goldInc) = (tmp(), tmp())
    ForexIncremental.runSilver(landedBy(ev, 66), silverInc) // history > 60 days
    ForexIncremental.runGold(spark, silverInc, goldInc)
    for (day <- 67 to 69) {
      val before = dayFiles(goldInc)
      ForexIncremental.runSilver(landedBy(ev, day), silverInc)
      ForexIncremental.runGold(spark, silverInc, goldInc)
      val after = dayFiles(goldInc)
      val (first, last) = (before.keys.max.minusDays(1), dayFiles(silverInc).keys.max)
      val changed = after.keySet.filter(d => before.get(d) != after.get(d))
      assert(changed.contains(last))
      assert(changed.forall(d => !d.isBefore(first) && !d.isAfter(last)),
        s"day $day run changed gold days ${changed.toSeq.sortBy(_.toEpochDay)} " +
          s"outside [$first, $last]")
    }
    assert(storeRows(goldInc) === oneShot(landedBy(ev, 69))._2)
  }

  test("gold: a daily run reads no silver before the newest gold day - 1") {
    val ev = longEvents(70)
    val (silverInc, goldInc) = (tmp(), tmp())
    ForexIncremental.runSilver(landedBy(ev, 66), silverInc)
    ForexIncremental.runGold(spark, silverInc, goldInc)
    // the window predecessors of the rewritten candles come from gold, so
    // silver older than the rewritten range can be gone
    val dropped = IncrementalStore.retainDays(spark, silverInc,
      IncrementalStore.listDays(spark, goldInc).last.minusDays(1))
    assert(dropped.size > 60)
    ForexIncremental.runSilver(landedBy(ev, 67), silverInc)
    ForexIncremental.runGold(spark, silverInc, goldInc)
    assert(storeRows(goldInc) === oneShot(landedBy(ev, 67))._2)
  }

  test("gold: weekday-only ticks with holidays: daily and --date runs equal one-shot") {
    // Monday to Friday, less two Thursday holidays: 60 day partitions hold
    // 48 daily candles, fewer than sma_50 reads, and 49 daily candles span
    // about 70 calendar days
    val ev = longEvents(86).filter(
      pmod(dayIndex, lit(7)) < 5 && !dayIndex.isin(38, 45))
    val (silverInc, goldInc) = (tmp(), tmp())
    ForexIncremental.runSilver(landedBy(ev, 78), silverInc)
    ForexIncremental.runGold(spark, silverInc, goldInc)
    for (day <- Seq(79, 80, 81, 84, 85)) { // 84: the Monday after a weekend
      ForexIncremental.runSilver(landedBy(ev, day), silverInc)
      ForexIncremental.runGold(spark, silverInc, goldInc)
    }
    assert(storeRows(goldInc) === oneShot(landedBy(ev, 85))._2)

    // restate Friday day 11's prices: its 49th daily successor is day 84,
    // 73 calendar days on
    val restated = landedBy(ev, 85).withColumn("value",
      when(dayIndex === 11, col("value") + 0.001).otherwise(col("value")))
    val day11 = java.time.LocalDate.of(2024, 1, 12)
    ForexIncremental.runSilverBackfill(restated, silverInc, day11)
    ForexIncremental.runGoldBackfill(spark, silverInc, goldInc, day11)
    val (silverOnce, goldOnce) = oneShot(restated)
    assert(storeRows(silverInc) === silverOnce)
    assert(storeRows(goldInc) === goldOnce)
  }

  test("checks: a daily run reads the files of the days it rewrote, however long the history") {
    def checkedFiles(days: Int): Int = {
      val ev = longEvents(days)
      val (silverDir, goldDir) = (tmp(), tmp())
      ForexIncremental.runSilver(landedBy(ev, days - 1), silverDir)
      ForexIncremental.runGold(spark, silverDir, goldDir)
      val before = dayFiles(goldDir)
      ForexIncremental.runSilver(landedBy(ev, days), silverDir)
      val rewritten = ForexIncremental.runGold(spark, silverDir, goldDir)
      val after = dayFiles(goldDir)
      val written = after.keySet.filter(d => before.get(d) != after.get(d))
        .flatMap(d => after(d).filter(_.endsWith(".parquet")).map(d -> _))
      val read = PipelineRunner.checkedGold(spark, goldDir, full = false, rewritten)
        .get.inputFiles.toSet.map { (f: String) =>
          val p = new org.apache.hadoop.fs.Path(f)
          java.time.LocalDate.parse(p.getParent.getName.stripPrefix("p_date=")) -> p.getName
        }
      assert(read === written)
      read.size
    }
    assert(checkedFiles(70) === checkedFiles(140))
  }
}
