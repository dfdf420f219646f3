package graft.store

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}
import graft.forex.ForexIncremental

/** compactDays: repeated upserts fragment hot day-partitions into many
  * files; compaction must collapse each selected day to one file with
  * byte-identical data and leave unselected days untouched.
  */
class CompactionSpec extends SparkSpec {

  private def filesPerDay(target: String): Map[String, Int] = {
    val root = new java.io.File(target)
    root.listFiles().filter(_.getName.startsWith("p_date="))
      .map(d => d.getName ->
        d.listFiles().count(f => f.getName.endsWith(".parquet")))
      .toMap
  }

  test("compaction collapses fragmented days to one file, data unchanged") {
    val dir = Files.createTempDirectory("graft_compact").toString
    val events = Tables.events(spark, sf0001)
    // at scale every upsert writes one file per shuffle task into each
    // touched day; at spec scale AQE coalesces those tasks to one, so
    // disable coalescing while building the fragmented fixture — that IS
    // the real multi-task write path
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try ForexIncremental.runSilver(events, dir)
    finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    val allDays = IncrementalStore.readTable(spark, dir)
      .select(col(IncrementalStore.PartitionCol)).distinct()
      .collect().map(_.getDate(0)).sortBy(_.getTime).toSeq
    val beforeFiles = filesPerDay(dir)
    assert(beforeFiles.values.exists(_ > 1),
      s"fixture failed to fragment: $beforeFiles")
    val before = IncrementalStore.readTable(spark, dir)
      .drop("dbt_updated_at")
      .collect().map(_.mkString("|")).sorted.toSeq

    IncrementalStore.compactDays(spark, dir, allDays.map(_.toLocalDate))

    val afterFiles = filesPerDay(dir)
    assert(afterFiles.values.forall(_ === 1), s"still fragmented: $afterFiles")
    val after = IncrementalStore.readTable(spark, dir)
      .drop("dbt_updated_at")
      .collect().map(_.mkString("|")).sorted.toSeq
    assert(after === before)
  }

  test("compaction is day-scoped: unselected days keep their files") {
    val dir = Files.createTempDirectory("graft_compact2").toString
    val events = Tables.events(spark, sf0001)
    ForexIncremental.runSilver(events, dir)
    val days = IncrementalStore.readTable(spark, dir)
      .select(col(IncrementalStore.PartitionCol)).distinct()
      .collect().map(_.getDate(0)).sortBy(_.getTime).toSeq
    assume(days.length >= 2, "need at least 2 day partitions")
    days.foreach { d =>
      ForexIncremental.runSilverBackfill(events, dir, d.toLocalDate)
    }
    val target = days.head
    val beforeOther = filesPerDay(dir) - s"p_date=$target"
    IncrementalStore.compactDays(spark, dir, Seq(target.toLocalDate))
    assert(filesPerDay(dir)(s"p_date=$target") === 1)
    assert((filesPerDay(dir) - s"p_date=$target") === beforeOther,
      "untouched days must keep their exact files")
  }
}
