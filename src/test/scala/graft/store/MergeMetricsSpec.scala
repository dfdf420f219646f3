package graft.store

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** upsertByKey's operation metrics (the Delta operationMetrics / Iceberg
  * snapshot-summary analog): observed DURING the write job via
  * Dataset.observe — the spec recounts the written table independently and
  * the two must agree exactly, on the initial-insert, the merge and the
  * new-days path. Also pins the day-listing reads the daily run relies
  * on (the newest-day watermark) and that a store write leaves the session
  * conf as it found it.
  */
class MergeMetricsSpec extends SparkSpec {

  private def freshDir(tag: String): String = {
    val d = s"${sys.props("java.io.tmpdir")}/graft_merge_metrics/$tag"
    val p = new org.apache.hadoop.fs.Path(d)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    d
  }

  /** Rows spread over three days from 2024-02-0`firstDay`. */
  private def batch(ids: Range, firstDay: Int = 1) = {
    import spark.implicits._
    ids.map { i =>
      (i.toLong,
        java.sql.Timestamp.valueOf(f"2024-02-0${firstDay + i % 3}%d 00:00:${i % 60}%02d"),
        i * 1.5)
    }.toDF("k", "ts", "v")
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.select("k", "ts", "v").collect().map(_.mkString("|")).sorted.toSeq

  test("initial insert: observed metrics equal an independent recount") {
    val dir = freshDir("insert")
    val m = IncrementalStore.upsertByKey(batch(0 until 100), dir, "ts", Seq("k"))
    assert(m("rows_written") === 100L)
    val check = spark.read.parquet(dir)
      .agg(count(lit(1)), min(unix_micros(col("ts"))), max(unix_micros(col("ts"))))
      .first()
    assert(m("rows_written") === check.getLong(0))
    assert(m("min_ts_us") === check.getLong(1))
    assert(m("max_ts_us") === check.getLong(2))
  }

  test("merge path: rows_written counts the merged day slice, not the batch") {
    val dir = freshDir("merge")
    IncrementalStore.upsertByKey(batch(0 until 100), dir, "ts", Seq("k"))
    // overlapping keys 50..149: merged slice = anti-join survivors + batch
    val m = IncrementalStore.upsertByKey(batch(50 until 150), dir, "ts", Seq("k"))
    assert(m("rows_written") === 150L,
      "100 old rows, 50 replaced + 100 new batch rows = 150 in the slice")
    assert(spark.read.parquet(dir).count() === 150L)
  }

  test("new days only: same rows and metrics as the anti-join path") {
    val dir = freshDir("new_days")
    IncrementalStore.upsertByKey(batch(0 until 100), dir, "ts", Seq("k"))
    val b = batch(100 until 160, firstDay = 4) // 2024-02-04..06, none stored
    // what the anti-join path writes: stored rows of the batch's days
    // (there are none) that no batch key replaces, plus the batch
    val days = b.select(to_date(col("ts"))).distinct().collect().map(_.getDate(0))
    val antiJoin = spark.read.parquet(dir)
      .filter(col("p_date").isin(days.toIndexedSeq: _*)).drop("p_date")
      .join(b, Seq("k"), "left_anti").unionByName(b)
    val want = antiJoin
      .agg(count(lit(1)), min(unix_micros(col("ts"))), max(unix_micros(col("ts"))))
      .first()
    val wantRows = (rows(spark.read.parquet(dir)) ++ rows(antiJoin)).sorted
    val m = IncrementalStore.upsertByKey(b, dir, "ts", Seq("k"))
    assert(m === Map("rows_written" -> want.getLong(0),
      "min_ts_us" -> want.getLong(1), "max_ts_us" -> want.getLong(2)))
    assert(m("rows_written") === 60L)
    assert(rows(spark.read.parquet(dir)) === wantRows)
  }

  test("highWatermark: newest day's max equals the full-table max; None without days") {
    import spark.implicits._
    val dir = freshDir("watermark")
    assert(IncrementalStore.highWatermark(spark, dir, "ts") === None, "absent table")
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).mkdirs(p)
    assert(IncrementalStore.highWatermark(spark, dir, "ts") === None, "empty table")
    // a null-ts row lands in the null-day partition, which holds no day
    val nullTs = Seq((999L, null: java.sql.Timestamp, 0.0)).toDF("k", "ts", "v")
    IncrementalStore.upsertByKey(nullTs, dir, "ts", Seq("k"))
    assert(IncrementalStore.highWatermark(spark, dir, "ts") === None, "null day only")
    IncrementalStore.upsertByKey(batch(0 until 100), dir, "ts", Seq("k"))
    IncrementalStore.upsertByKey(nullTs, dir, "ts", Seq("k"))
    val table = spark.read.parquet(dir)
    assert(table.filter(col("ts").isNull).count() === 1L)
    assert(table.select("p_date").distinct().count() === 4L, "three days + null day")
    val fullMax = table.agg(max(col("ts"))).first().getTimestamp(0)
    assert(IncrementalStore.highWatermark(spark, dir, "ts") === Some(fullMax))
  }

  test("a store write leaves the session conf unchanged") {
    // unset first: in the shared session an earlier suite's write must not
    // be what makes the before/after snapshots agree
    spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    val before = spark.conf.getAll
    val dir = freshDir("conf")
    IncrementalStore.upsertByKey(batch(0 until 10), dir, "ts", Seq("k"))
    IncrementalStore.upsertByKey(batch(5 until 20), dir, "ts", Seq("k"))
    assert(spark.conf.getAll === before)
  }

  test("with GraftSession's listing conf a store read starts no listing job") {
    val dir = freshDir("listing")
    // 40 day directories: past parallel partition discovery's 32 paths
    val noon0 = java.time.Instant.parse("2024-03-01T12:00:00Z").getEpochSecond * 1000000L
    IncrementalStore.overwriteDayPartitions(spark.range(40).select(col("id").as("k"),
      timestamp_micros(lit(noon0) + col("id") * 86400000000L).as("ts")), dir, "ts")
    def listingJobs(): Int = {
      val descriptions = new java.util.concurrent.ConcurrentLinkedQueue[String]
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          descriptions.add(Option(e.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""))
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        assert(IncrementalStore.readTable(spark, dir).count() === 40L)
        // the bus delivers in order: once the marker job is seen, so is
        // every job the read started
        spark.sparkContext.setJobDescription("listing-probe-marker")
        try spark.sparkContext.parallelize(Seq(1), 1).count()
        finally spark.sparkContext.setJobDescription(null)
        val deadline = System.nanoTime() + 30L * 1000000000L
        while (!descriptions.contains("listing-probe-marker") && System.nanoTime() < deadline)
          Thread.sleep(20)
        assert(descriptions.contains("listing-probe-marker"))
        descriptions.toArray.count(_.toString.startsWith("Listing leaf files"))
      } finally spark.sparkContext.removeSparkListener(listener)
    }
    val (key, value) = graft.GraftSession.DriverListing
    val prior = spark.conf.getOption(key)
    spark.conf.unset(key)
    try {
      assert(listingJobs() > 0, "Spark's default lists 40 directories in a job")
      spark.conf.set(key, value)
      assert(listingJobs() === 0)
    } finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}
