package graft.queries

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}
import graft.store.IncrementalStore

/** Round-17 operator specs: the engine-owned day-completeness contract of
  * the streaming day-store sink (split days, replayed batches), the
  * governed training-pack layout (partition-selection time travel), the
  * histogram family's serve symmetry, the lifecycle sweep on a
  * stream-written store, and the empty-input guards.
  */
class Round17OpsSpec extends SparkSpec {

  private def slurp(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private val d1 = java.sql.Date.valueOf("2024-01-01")
  private val d2 = java.sql.Date.valueOf("2024-01-02")

  private def itemsDf(rows: Seq[(java.sql.Date, Long, Double)]) = {
    import spark.implicits._
    rows.toDF("day", "k", "v")
  }

  // day d1 deliberately SPLIT across the two fragments (the layout the
  // r16 fixtures' repartitionByRange ruled out — here the engine must
  // cope on its own)
  private val fragA = Seq((d1, 1L, 10.0), (d1, 2L, 20.0), (d2, 5L, 50.0))
  private val fragB = Seq((d1, 3L, 30.0), (d1, 4L, 40.0))

  test("runBoundedStreamToDayStore: a day split across two micro-batches " +
      "merges instead of truncating — stored table == one-shot build") {
    val base = StoreQueries.scratchPath(spark, "graft_pipeline/splitday17")
    val p = new org.apache.hadoop.fs.Path(base)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(p, true)
    // two single-file writes → two micro-batches at maxFilesPerTrigger=1,
    // both carrying fragments of day d1
    itemsDf(fragA).coalesce(1).write.mode("append").parquet(base)
    itemsDf(fragB).coalesce(1).write.mode("append").parquet(base)
    val schema = itemsDf(fragA).schema
    val stored = PipelineQueries.runBoundedStreamToDayStore(spark,
      "graft_spec_splitday17",
      () => spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(base),
      "day", clusterBy = Seq("k"))
      .select(col("day"), col("k"), col("v"))
    val oneShot = StoreQueries.freshScratch(spark, "graft_store/spec_splitday17_oneshot")
    IncrementalStore.overwriteDayPartitions(itemsDf(fragA ++ fragB), oneShot,
      "day", clusterBy = Seq("k"))
    val expect = IncrementalStore.readTable(spark, oneShot)
      .select(col("day"), col("k"), col("v"))
    assert(slurp(stored) === slurp(expect))
    assert(stored.count() === 5L)
    // and the run really was multi-batch (else the split never happened)
    val ckpt = new org.apache.hadoop.fs.Path(
      StoreQueries.scratchPath(spark,
        "graft_pipeline/ckpt_graft_spec_splitday17") + "/commits")
    val commits = fs.listStatus(ckpt).map(_.getPath.getName)
      .count(_.forall(_.isDigit))
    assert(commits >= 2, s"expected a multi-micro-batch run, saw $commits")
  }

  // the same split, replay and new batch on the null day: a null `day`
  // lands in the Hive default partition and merges by the same rule
  private val nullDay: java.sql.Date = null
  private val nullFragA = Seq((d1, 1L, 10.0), (nullDay, 2L, 20.0))
  private val nullFragB = Seq((nullDay, 3L, 30.0))

  test("mergeBatchDayPartitions: a REPLAYED batch purges its own prior " +
      "rows (no duplicates), while a NEW batch touching an open day merges") {
    for ((a, b, day) <- Seq((fragA, fragB, d1), (nullFragA, nullFragB, nullDay))) {
      val target = StoreQueries.freshScratch(spark, "graft_store/spec_replay17")
      IncrementalStore.mergeBatchDayPartitions(itemsDf(a), 0L, target,
        "day", clusterBy = Seq("k"))
      IncrementalStore.mergeBatchDayPartitions(itemsDf(b), 1L, target,
        "day", clusterBy = Seq("k"))
      // replay batch 1 verbatim (failure/retry): content must not change
      val before = slurp(IncrementalStore.readTable(spark, target)
        .select(col("day"), col("k"), col("v")))
      assert(before === slurp(itemsDf(a ++ b)), s"day $day")
      IncrementalStore.mergeBatchDayPartitions(itemsDf(b), 1L, target,
        "day", clusterBy = Seq("k"))
      val after = IncrementalStore.readTable(spark, target)
      assert(slurp(after.select(col("day"), col("k"), col("v"))) === before)
      assert(after.count() === (a ++ b).size.toLong)
      // a third, genuinely NEW batch on the open day adds its rows
      IncrementalStore.mergeBatchDayPartitions(
        itemsDf(Seq((day, 6L, 60.0))), 2L, target, "day", clusterBy = Seq("k"))
      val merged = IncrementalStore.readTable(spark, target)
      assert(merged.count() === (a ++ b).size + 1L)
      assert(merged.filter(col("k") === 6L).count() === 1L)
      // the batch-id bookkeeping column is present store-side…
      assert(merged.columns.contains(IncrementalStore.BatchIdCol))
      // …and no staging column reaches the read
      assert(!merged.columns.contains("_staging"))
    }
  }

  test("mergeBatchDayPartitions leaves only day directories in the table, " +
      "after a merge into an open day and after a replay") {
    val target = StoreQueries.freshScratch(spark, "graft_store/spec_nostage17")
    val root = new org.apache.hadoop.fs.Path(target)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dirs = fs.listStatus(root).filter(_.isDirectory).map(_.getPath.getName).toSeq.sorted
    IncrementalStore.mergeBatchDayPartitions(itemsDf(fragA), 0L, target, "day")
    IncrementalStore.mergeBatchDayPartitions(itemsDf(fragB), 1L, target, "day")
    assert(dirs === Seq(s"p_date=$d1", s"p_date=$d2"))
    IncrementalStore.mergeBatchDayPartitions(itemsDf(fragB), 1L, target, "day")
    assert(dirs === Seq(s"p_date=$d1", s"p_date=$d2"))
  }

  test("storeDayIncremental: empty input and all-null days fail with a " +
      "descriptive message, not an NPE") {
    import spark.implicits._
    val empty = Seq.empty[(java.sql.Date, Long)].toDF("day", "k")
    val e1 = intercept[IllegalArgumentException] {
      SketchQueries.storeDayIncremental(spark, "spec_empty17", empty, "day",
        clusterBy = Nil)
    }
    assert(e1.getMessage.contains("nothing to increment"))
    val nullDays = Seq((null: java.sql.Date, 1L), (null: java.sql.Date, 2L))
      .toDF("day", "k")
    val e2 = intercept[IllegalArgumentException] {
      SketchQueries.storeDayIncremental(spark, "spec_nulldays17", nullDays,
        "day", clusterBy = Nil)
    }
    assert(e2.getMessage.contains("nothing to increment"))
  }

  test("seq_pack_layout is a governed day-partition store: ingest-day " +
      "partitions exist and an as-of read of day 1 IS batch-1's packing") {
    val full = TextQueries.queries("sequence_pack_incremental")(spark, sf0001)
    val oneShot = TextQueries.queries("sequence_pack")(spark, sf0001)
    assert(slurp(full) === slurp(oneShot))
    val target = StoreQueries.storeRoot(spark, "seq_pack_layout")
    val root = new org.apache.hadoop.fs.Path(target)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dirs = fs.listStatus(root).map(_.getPath.getName).toSet
    assert(TextQueries.PackIngestDays.forall(d =>
      dirs.contains(s"${IncrementalStore.PartitionCol}=$d")), dirs.toString)
    // time travel = partition selection: the as-of-day-1 read equals the
    // one-shot layout restricted to batch 1's doc_id range
    val toks = Tables.documents(spark, sf0001).agg(min(col("doc_id")),
      max(col("doc_id"))).first()
    val cut = toks.getLong(0) + (toks.getLong(1) - toks.getLong(0)) / 2L
    val asOf = IncrementalStore.readTable(spark, target)
      .filter(col(IncrementalStore.PartitionCol) ===
        lit(TextQueries.PackIngestDays.head))
      .select(col("doc_id"), col("n_tokens"), col("start_pos"))
    val expect = oneShot.filter(col("doc_id") <= cut)
      .select(col("doc_id"), col("n_tokens"), col("start_pos"))
    assert(slurp(asOf) === slurp(expect))
    assert(asOf.count() > 0L)
  }

  test("sequence_pack_incremental: an empty corpus returns the empty " +
      "packed layout (guarded, no NPE)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_emptycorpus")
      .toString
    spark.read.parquet(s"$sf0001/documents.parquet").limit(0)
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = TextQueries.queries("sequence_pack_incremental")(spark, tmp)
    assert(out.columns.toSeq === Seq("doc_id", "n_tokens", "start_pos",
      "pack_id", "pack_offset", "crosses_boundary"))
    assert(out.count() === 0L)
  }

  test("hist serve symmetry: range and store serves answer the span with " +
      "merge_exact == 1 everywhere") {
    Seq("hist_range_serve", "hist_store_serve").foreach { name =>
      val rows = SketchQueries.queries(name)(spark, sf0001).collect()
      assert(rows.nonEmpty, name)
      rows.foreach(r =>
        assert(r.getAs[Long]("merge_exact") === 1L, s"$name: $r"))
    }
  }

  test("stream_store_retention: the sweep runs against the STREAM-written " +
      "table — only at/after-cutoff p_date dirs survive, serve proves it") {
    val rows = SketchQueries.queries("stream_store_retention")(
      spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getAs[Long]("merge_exact") === 1L, r.toString))
    val d0 = Tables.events(spark, sf0001)
      .agg(min(to_date(col("ts")))).head().getDate(0).toLocalDate
    val cutoff = d0.plusDays(16)
    val root = new org.apache.hadoop.fs.Path(
      StoreQueries.storeRoot(spark, "stream_store_retention"))
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val days = fs.listStatus(root).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("p_date="))
      .map(n => java.time.LocalDate.parse(n.stripPrefix("p_date=")))
    assert(days.nonEmpty)
    assert(days.forall(!_.isBefore(cutoff)),
      s"retention left pre-cutoff partitions: ${days.filter(_.isBefore(cutoff))}")
  }
}
