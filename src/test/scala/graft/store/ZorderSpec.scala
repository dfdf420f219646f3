package graft.store

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** zorderDays: the 2-D file-skip win the rewrite exists for, plus its
  * value-invisibility contract.
  *
  * Fixture: one UTC day of rows whose `close_price` is pseudo-random and
  * INDEPENDENT of `observed_at` (xxhash64 of the row index) — the adversarial
  * case for a 1-D time sort, where every time-sliced file spans the full
  * price range and price predicates prune nothing.
  *
  * Assertions:
  *  (a) for a 2-D probe box (observed_at ∈ a 12h day-slice AND close_price ∈
  *      a 0.15-wide band), the per-file (min,max) bounding boxes of the
  *      z-ordered layout overlap the box in at most HALF the files a 1-D
  *      observed_at-sorted layout with the same file count touches — the
  *      exact file-level stats a real engine prunes row groups by. (The
  *      probe band is narrower than one Morton y-quarter, so the win is
  *      robust to the range-partitioner's data-driven z boundaries leaking
  *      across tile edges.)
  *  (b) the rewrite is value-invisible: byte-identical row multiset before
  *      and after (the CompactionSpec technique).
  */
class ZorderSpec extends SparkSpec {

  private val nFiles = 64

  /** Per-file bounding boxes via input_file_name; counts files whose box
    * intersects the probe (timeLo ≤ t < timeHi, priceLo ≤ p < priceHi).
    * Probe bounds are session-TZ string casts (UTC, pinned by SparkSpec) —
    * a java.sql.Timestamp.valueOf literal would parse in the JVM default
    * timezone and shift the probe box on a non-UTC JVM.
    */
  private def touchedFiles(
      df: DataFrame, timeLo: String, timeHi: String,
      priceLo: Double, priceHi: Double): (Long, Long) = {
    val boxes = df
      .groupBy(input_file_name().as("f"))
      .agg(min(col("observed_at")).as("t_lo"), max(col("observed_at")).as("t_hi"),
        min(col("close_price")).as("p_lo"), max(col("close_price")).as("p_hi"))
    val touched = boxes.filter(
      !(col("t_hi") < lit(timeLo).cast("timestamp") ||
        col("t_lo") >= lit(timeHi).cast("timestamp") ||
        col("p_hi") < lit(priceLo) || col("p_lo") >= lit(priceHi))).count()
    (touched, boxes.count())
  }

  test("z-order layout prunes a 2-D probe box better than a 1-D time sort") {
    val n = 16384L
    // one UTC day of timestamps, uniformly spaced; price decorrelated from
    // time. Base epoch from Instant.parse so the fixture is
    // timezone-independent (Timestamp.valueOf would parse in the JVM
    // default TZ and straddle two p_date partitions on a non-UTC JVM).
    val epochUs = java.time.Instant.parse("2024-03-01T00:00:00Z")
      .getEpochSecond * 1000000L
    val base = spark.range(n).select(
      timestamp_micros(lit(epochUs) + col("id") * lit(86400000000L / n))
        .as("observed_at"),
      (pmod(xxhash64(col("id")), lit(1000000L)).cast("double") / lit(1e6))
        .as("close_price"))

    // z-ordered store: the real write path (overwriteDayPartitions) then the
    // real maintenance op (zorderDays) at 64 files for the day
    val zDir = Files.createTempDirectory("graft_zorder").toString + "/store"
    IncrementalStore.overwriteDayPartitions(base, zDir, "observed_at")
    val before = IncrementalStore.readTable(spark, zDir)
      .collect().map(_.mkString("|")).sorted.toSeq
    val days = Seq(java.time.LocalDate.of(2024, 3, 1))
    IncrementalStore.zorderDays(spark, zDir, days, "observed_at", "close_price",
      filesPerDay = nFiles)

    // value-invisibility: a pure re-arrangement of bytes across files
    val after = IncrementalStore.readTable(spark, zDir)
      .collect().map(_.mkString("|")).sorted.toSeq
    assert(after === before)

    // 1-D comparison layout: same rows, same file count, sorted by time only
    // (µs-on-write is a session-wide conf set once in SparkSpec — no
    // per-test mutation of shared-session state here)
    val sDir = Files.createTempDirectory("graft_zorder_sort").toString + "/store"
    base.withColumn(IncrementalStore.PartitionCol, to_date(col("observed_at")))
      .repartitionByRange(nFiles, col("observed_at"))
      .sortWithinPartitions(col("observed_at"))
      .write.mode("overwrite").partitionBy(IncrementalStore.PartitionCol)
      .parquet(sDir)

    // 2-D probe: half the day AND a 0.15-wide price band
    val (zTouched, zTotal) = touchedFiles(
      IncrementalStore.readTable(spark, zDir),
      "2024-03-01 06:00:00", "2024-03-01 18:00:00", 0.30, 0.45)
    val (sTouched, sTotal) = touchedFiles(
      IncrementalStore.readTable(spark, sDir),
      "2024-03-01 06:00:00", "2024-03-01 18:00:00", 0.30, 0.45)

    assert(zTotal === nFiles.toLong, s"z layout wrote $zTotal files")
    assert(sTotal === nFiles.toLong, s"sort layout wrote $sTotal files")
    // the time sort cannot prune on price: every time-sliced file in the
    // 12h slice spans the full price range
    assert(sTouched >= nFiles / 3L, s"1-D layout touched only $sTouched")
    assert(zTouched * 2 <= sTouched,
      s"z-order touched $zTouched of $zTotal vs 1-D $sTouched of $sTotal")
  }
}
