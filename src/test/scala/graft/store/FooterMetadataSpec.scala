package graft.store

import java.nio.file.Files
import java.time.LocalDate

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.parquet.ParquetFooterReader
import org.apache.spark.sql.functions._

import graft.{GraftSession, SparkSpec}

/** The store's bookkeeping from parquet footers: read schemas, the
  * watermark and the row count equal what the Spark jobs they replace
  * return, and start no job. Also pins the write contract the watermark
  * reads: `tsCol` as INT64 `TIMESTAMP(MICROS)` with statistics.
  */
class FooterMetadataSpec extends SparkSpec {

  private def tmp(): String = Files.createTempDirectory("graft_footer").toString

  private final val DayUs = 86400L * 1000000L
  private final val Day0Us =
    java.time.Instant.parse("2024-02-01T00:00:00Z").getEpochSecond * 1000000L
  private final val Day0 = LocalDate.of(2024, 2, 1)

  /** Rows `ids` over `days` days from 2024-02-01 (by id), with a
    * non-nullable key, a cluster key, a decimal and a nullable string.
    */
  private def batch(ids: Range, days: Int = 3): DataFrame =
    spark.range(ids.start, ids.end).select(
      col("id").as("k"),
      concat(lit("s"), (col("id") % 2).cast("string")).as("sym"),
      timestamp_micros(lit(Day0Us) + (col("id") % days) * DayUs + col("id") * 1000003L).as("ts"),
      (col("id") * 1.5).cast("decimal(18,6)").as("v"),
      when(col("id") % 5 =!= 0, col("id").cast("string")).as("note"))

  private def rows(df: DataFrame): Seq[String] =
    df.select(df.columns.sorted.map(col).toIndexedSeq: _*)
      .collect().map(_.mkString("|")).sorted.toSeq

  private def dayDir(dir: String, day: LocalDate) = s"$dir/${IncrementalStore.PartitionCol}=$day"

  /** What Spark's inference reads back from the whole table and from
    * `days` (given in this order), against the store's reads.
    */
  private def assertReadsAsInferred(dir: String, days: Seq[LocalDate]): Unit = {
    val inferred = spark.read.parquet(dir)
    val table = IncrementalStore.readTable(spark, dir)
    assert(table.schema === inferred.schema)
    assert(rows(table) === rows(inferred))
    if (days.nonEmpty) {
      val inferredDays = spark.read.option("basePath", dir).parquet(days.map(dayDir(dir, _)): _*)
      val read = IncrementalStore.readDays(spark, dir, days)
      assert(read.schema === inferredDays.schema)
      assert(rows(read) === rows(inferredDays))
    }
  }

  private val days3 = Seq(2, 0, 1).map(Day0.plusDays(_))

  test("footer schema equals the inferred schema: upsertByKey") {
    val dir = tmp()
    IncrementalStore.upsertByKey(batch(0 until 60), dir, "ts", Seq("k"), clusterBy = Seq("sym"))
    IncrementalStore.upsertByKey(batch(30 until 90), dir, "ts", Seq("k"), clusterBy = Seq("sym"))
    assertReadsAsInferred(dir, days3)
  }

  test("footer schema equals the inferred schema: overwriteDayPartitions") {
    val dir = tmp()
    IncrementalStore.overwriteDayPartitions(batch(0 until 60), dir, "ts", Seq("sym"))
    assertReadsAsInferred(dir, days3)
  }

  test("footer schema equals the inferred schema: mergeBatchDayPartitions (with __batch_id)") {
    val dir = tmp()
    IncrementalStore.mergeBatchDayPartitions(batch(0 until 60), 1L, dir, "ts")
    IncrementalStore.mergeBatchDayPartitions(batch(60 until 90), 2L, dir, "ts")
    assert(IncrementalStore.readTable(spark, dir).columns.contains(IncrementalStore.BatchIdCol))
    assertReadsAsInferred(dir, days3)
  }

  test("footer schema equals the inferred schema: a table whose only partition is the null day") {
    val dir = tmp()
    IncrementalStore.overwriteDayPartitions(
      batch(0 until 10).withColumn("ts", lit(null).cast("timestamp")), dir, "ts")
    assert(IncrementalStore.listDays(spark, dir).isEmpty)
    assert(IncrementalStore.hasNullDay(spark, dir))
    assertReadsAsInferred(dir, Nil)
  }

  test("footer schema equals the inferred schema: readDays given unsorted days of an evolved table") {
    // days 0-1 lack `extra`, day 2 has it: inference reads the earliest
    // day's first file, whatever order the days are given in
    val dir = tmp()
    IncrementalStore.overwriteDayPartitions(batch(0 until 40, days = 2), dir, "ts")
    IncrementalStore.overwriteDayPartitions(
      batch(0 until 20, days = 1).withColumn("ts", col("ts") + expr("INTERVAL 2 DAYS"))
        .withColumn("extra", lit(7L)), dir, "ts")
    assert(IncrementalStore.listDays(spark, dir) === days3.sortBy(_.toEpochDay))
    assert(!IncrementalStore.readDays(spark, dir, days3).columns.contains("extra"))
    assert(IncrementalStore.readDays(spark, dir, days3.take(1)).columns.contains("extra"))
    assertReadsAsInferred(dir, days3)
    assertReadsAsInferred(dir, days3.take(1))
    // settings under which inference reads every file or types p_date
    // as a string: the footer cannot answer, and inference runs
    for (conf <- Seq("spark.sql.parquet.mergeSchema" -> "true",
        "spark.sql.sources.partitionColumnTypeInference.enabled" -> "false"))
      GraftSession.withConf(spark, conf)(assertReadsAsInferred(dir, days3))
  }

  /** The watermark as the Spark job before footers computed it: the
    * aggregate over the newest day's rows.
    */
  private def aggregateWatermark(dir: String): Option[java.sql.Timestamp] = {
    val newest = IncrementalStore.listDays(spark, dir).last
    Option(spark.read.option("basePath", dir).parquet(dayDir(dir, newest))
      .agg(max(col("ts"))).first().getTimestamp(0))
  }

  /** One file's worth of rows `seconds` past 23:59 on 2024-02-03, later
    * than any row of `batch`.
    */
  private def later(seconds: Int): DataFrame =
    batch(0 until 3, days = 1).withColumn("ts",
      lit(java.sql.Timestamp.valueOf("2024-02-03 23:59:00")) +
        expr(s"INTERVAL $seconds SECONDS")).coalesce(1)

  private def newestDir(dir: String): String =
    dayDir(dir, IncrementalStore.listDays(spark, dir).last)

  /** The watermark and the descriptions of the jobs it started. */
  private def watermarkJobs(dir: String): (Option[java.sql.Timestamp], Seq[String]) = {
    var wm: Option[java.sql.Timestamp] = None
    val jobs = SparkSpec.jobsStarted(spark) {
      wm = IncrementalStore.highWatermark(spark, dir, "ts")
    }
    (wm, jobs)
  }

  test("highWatermark equals the newest day's aggregate over several files, without a job") {
    val dir = tmp()
    IncrementalStore.overwriteDayPartitions(batch(0 until 90), dir, "ts", Seq("sym"))
    later(2).write.mode("append").parquet(newestDir(dir))
    later(1).write.mode("append").parquet(newestDir(dir))
    assert(new java.io.File(newestDir(dir)).list().count(_.endsWith(".parquet")) >= 3)
    val (wm, jobs) = watermarkJobs(dir)
    assert(jobs === Nil)
    assert(wm === aggregateWatermark(dir))
    assert(wm === Some(java.sql.Timestamp.valueOf("2024-02-03 23:59:02")))
  }

  test("highWatermark falls back to the aggregate when a file has no usable statistics") {
    val ts = "spark.sql.parquet.outputTimestampType"
    def append(conf: (String, String)*)(options: (String, String)*)(dir: String): Unit =
      GraftSession.withConf(spark, conf: _*) {
        later(5).write.options(options.toMap).mode("append").parquet(dir)
      }
    val writers = Seq[(String, String => Unit)](
      "INT96" -> append(ts -> "INT96")(),
      "TIMESTAMP_MILLIS" -> append(ts -> "TIMESTAMP_MILLIS")(),
      "no statistics" -> append()("parquet.column.statistics.enabled" -> "false"))
    for ((name, write) <- writers) {
      val dir = tmp()
      IncrementalStore.overwriteDayPartitions(batch(0 until 90), dir, "ts")
      later(1).write.mode("append").parquet(newestDir(dir))
      // the newest row sits in the file without usable statistics
      write(newestDir(dir))
      val (wm, jobs) = watermarkJobs(dir)
      assert(jobs.nonEmpty, s"$name: the aggregate runs")
      assert(wm === aggregateWatermark(dir), name)
      assert(wm === Some(java.sql.Timestamp.valueOf("2024-02-03 23:59:05")), name)
    }
  }

  test("highWatermark before 1582: statistics without rebasing, the aggregate after legacy rebasing") {
    for ((mode, fromStatistics) <- Seq("CORRECTED" -> true, "LEGACY" -> false)) {
      val dir = tmp()
      GraftSession.withConf(spark, "spark.sql.parquet.datetimeRebaseModeInWrite" -> mode) {
        val t0 = java.time.Instant.parse("1500-03-01T10:00:00Z").getEpochSecond * 1000000L
        IncrementalStore.overwriteDayPartitions(spark.range(3).select(col("id").as("k"),
          timestamp_micros(lit(t0) + col("id") * 1000000L).as("ts")), dir, "ts")
      }
      val (wm, jobs) = watermarkJobs(dir)
      assert(jobs.isEmpty === fromStatistics, mode)
      assert(wm === aggregateWatermark(dir), mode)
    }
  }

  test("readDays(...).schema, readTable(...).schema, highWatermark and rowCount start no Spark job") {
    val dir = tmp()
    IncrementalStore.upsertByKey(batch(0 until 60), dir, "ts", Seq("k"))
    val jobs = SparkSpec.jobsStarted(spark) {
      IncrementalStore.readDays(spark, dir, days3).schema
      IncrementalStore.readTable(spark, dir).schema
      IncrementalStore.highWatermark(spark, dir, "ts")
      IncrementalStore.rowCount(spark, dir)
    }
    assert(jobs === Nil)
  }

  test("rowCount equals the rows a scan counts, the null day included") {
    val dir = tmp()
    assert(IncrementalStore.rowCount(spark, dir) === 0L)
    IncrementalStore.upsertByKey(batch(0 until 60), dir, "ts", Seq("k"))
    IncrementalStore.upsertByKey(batch(40 until 95), dir, "ts", Seq("k"))
    IncrementalStore.overwriteDayPartitions(
      batch(500 until 507).withColumn("ts", lit(null).cast("timestamp")), dir, "ts")
    assert(IncrementalStore.rowCount(spark, dir) === 102L)
    assert(IncrementalStore.rowCount(spark, dir) ===
      IncrementalStore.readTable(spark, dir).count())
  }

  test("a store write in an INT96 session still writes tsCol as INT64 TIMESTAMP(MICROS) with statistics") {
    val dir = tmp()
    GraftSession.withConf(spark, "spark.sql.parquet.outputTimestampType" -> "INT96") {
      IncrementalStore.overwriteDayPartitions(batch(0 until 60), dir, "ts")
      // the write pins its type for itself alone
      assert(spark.conf.get("spark.sql.parquet.outputTimestampType") === "INT96")
    }
    val conf = spark.sparkContext.hadoopConfiguration
    val files = IncrementalStore.listDays(spark, dir).flatMap { d =>
      val p = new Path(dayDir(dir, d))
      p.getFileSystem(conf).listStatus(p).toSeq.filter(_.getPath.getName.endsWith(".parquet"))
    }
    assert(files.size >= 3)
    for (f <- files; block <- ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(f, conf),
        ParquetMetadataConverter.NO_FILTER).getBlocks.asScala) {
      val chunk = block.getColumns.asScala.find(_.getPath.toDotString == "ts").get
      assert(chunk.getPrimitiveType.getPrimitiveTypeName === PrimitiveTypeName.INT64)
      assert(chunk.getPrimitiveType.getLogicalTypeAnnotation ===
        LogicalTypeAnnotation.timestampType(true, LogicalTypeAnnotation.TimeUnit.MICROS))
      assert(chunk.getStatistics.hasNonNullValue, f.getPath.toString)
    }
  }
}
