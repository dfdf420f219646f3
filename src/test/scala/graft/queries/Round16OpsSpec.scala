package graft.queries

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}
import graft.store.IncrementalStore

/** Round-16 operator specs: streaming maintenance of the governed sketch
  * store, the shared storeDayIncremental scaffolding, the sketch-store
  * lifecycle interplay (retention / compaction / time travel against
  * sketch day-tables), and the pack manifest's tiling consistency.
  */
class Round16OpsSpec extends SparkSpec {

  private def kllItems(dir: String) =
    SketchQueries.Kll.events(spark, dir)
      .select(col("event_type"), col("day"), col("level"), col("value"),
        col("tid"), col("w"))

  private def slurp(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("stream_kll_store: micro-batch appends into the governed store " +
      "equal the batch merge, and the run really was multi-batch") {
    val streamed = SketchQueries.queries("stream_kll_store")(spark, sf0001)
      .collect().map(_.toString).toSeq
    val batch = SketchQueries.queries("kll_merge_days")(spark, sf0001)
      .collect().map(_.toString).toSeq
    assert(streamed.nonEmpty)
    assert(streamed === batch)
    // the source fixture is 4 range-partitioned files read at
    // maxFilesPerTrigger=1 under AvailableNow → ≥2 committed micro-batches
    val ckpt = new org.apache.hadoop.fs.Path(
      StoreQueries.scratchPath(spark,
        "graft_pipeline/ckpt_graft_stream_kll_store") + "/commits")
    val fs = ckpt.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val commits = fs.listStatus(ckpt).map(_.getPath.getName)
      .count(n => n.forall(_.isDigit))
    assert(commits >= 2, s"expected a multi-micro-batch run, saw $commits")
  }

  test("stream_kll_store: the STORED table itself equals a one-shot " +
      "day-partition write (N micro-batches == one shot through the store)") {
    SketchQueries.queries("stream_kll_store")(spark, sf0001).collect()
    val streamedStore = IncrementalStore.readTable(spark,
      StoreQueries.storeRoot(spark, "stream_kll_store"))
      .select(col("event_type"), col("day"), col("level"), col("value"),
        col("tid"), col("w"))
    val oneShot = StoreQueries.freshScratch(spark, "graft_store/spec_kll_oneshot16")
    IncrementalStore.overwriteDayPartitions(kllItems(sf0001), oneShot,
      "day", clusterBy = Seq("event_type"))
    val expect = IncrementalStore.readTable(spark, oneShot)
      .select(col("event_type"), col("day"), col("level"), col("value"),
        col("tid"), col("w"))
    assert(slurp(streamedStore) === slurp(expect))
    assert(slurp(expect).nonEmpty)
  }

  test("storeDayIncremental: watermark-driven append reassembles the " +
      "one-shot table bit-for-bit") {
    val incr = SketchQueries.storeDayIncremental(spark, "spec_incr16",
      kllItems(sf0001), "day", clusterBy = Seq("event_type"))
      .select(col("event_type"), col("day"), col("level"), col("value"),
        col("tid"), col("w"))
    val oneShot = StoreQueries.freshScratch(spark, "graft_store/spec_oneshot16b")
    IncrementalStore.overwriteDayPartitions(kllItems(sf0001), oneShot,
      "day", clusterBy = Seq("event_type"))
    val expect = IncrementalStore.readTable(spark, oneShot)
      .select(col("event_type"), col("day"), col("level"), col("value"),
        col("tid"), col("w"))
    assert(slurp(incr) === slurp(expect))
  }

  test("sketch store retention: the sweep leaves only p_date dirs at/after " +
      "the cutoff, and the serve proves survivors == logical day filter") {
    val rows = SketchQueries.queries("sketch_store_retention")(
      spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getAs[Long]("merge_exact") === 1L, r.toString))
    val d0 = Tables.events(spark, sf0001)
      .agg(min(to_date(col("ts")))).head().getDate(0).toLocalDate
    val cutoff = d0.plusDays(16)
    val root = new org.apache.hadoop.fs.Path(
      StoreQueries.storeRoot(spark, "hll_day_registers_ret"))
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val days = fs.listStatus(root).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("p_date="))
      .map(n => java.time.LocalDate.parse(n.stripPrefix("p_date=")))
    assert(days.nonEmpty)
    assert(days.forall(!_.isBefore(cutoff)),
      s"retention left pre-cutoff partitions: ${days.filter(_.isBefore(cutoff))}")
  }

  test("compactDays on a governed sketch day-table: values bit-identical, " +
      "per-day file count bounded by the cluster fan-out") {
    import graft.relational.Sketches
    val ev = Tables.events(spark, sf0001)
      .select(to_date(col("ts")).as("day"), col("user_id"))
    val counters = Sketches.cmsCounters(ev, col("user_id").cast("string"),
      groupCols = Seq("day"))
    val stored = SketchQueries.storeDayTable(spark, "cms_counters_spec16",
      counters, "day", clusterBy = Seq("row_id"))
    val before = slurp(stored.select(col("day"), col("row_id"),
      col("bucket"), col("n")))
    val target = StoreQueries.storeRoot(spark, "cms_counters_spec16")
    val days = IncrementalStore.readTable(spark, target)
      .select(col(IncrementalStore.PartitionCol)).distinct()
      .collect().map(_.getDate(0).toLocalDate).toSeq
    IncrementalStore.compactDays(spark, target, days,
      clusterBy = Seq("row_id"))
    val after = slurp(IncrementalStore.readTable(spark, target)
      .select(col("day"), col("row_id"), col("bucket"), col("n")))
    assert(after === before)
    // shuffle.partitions=4 in the test session → ≤4 files per day dir
    val root = new org.apache.hadoop.fs.Path(target)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(root).filter(_.getPath.getName.startsWith("p_date="))
      .foreach { d =>
        val files = fs.listStatus(d.getPath)
          .count(_.getPath.getName.endsWith(".parquet"))
        assert(files >= 1 && files <= 4,
          s"${d.getPath.getName}: $files files after compaction")
      }
  }

  test("sketch store time travel: reading as-of the initial commit equals " +
      "the batch-1 merge; the full read equals the all-days merge") {
    val items = graft.Scratch.table(kllItems(sf0001), "tt16-items")
    val d0 = items.agg(min(col("day"))).head().getDate(0).toLocalDate
    val cut = java.sql.Date.valueOf(d0.plusDays(10))
    val target = StoreQueries.freshScratch(spark, "graft_store/spec_kll_tt16")
    items.filter(col("day") <= cut)
      .write.mode("overwrite").parquet(s"$target/gen=1")
    items.filter(col("day") > cut)
      .write.mode("overwrite").parquet(s"$target/gen=2")
    def serve(df: org.apache.spark.sql.DataFrame): Seq[String] =
      slurp(SketchQueries.Kll.serve(df, df, SketchQueries.AllDays))
    // time travel = directory selection before any IO: gens ≤ 1
    val asOf1 = spark.read.option("basePath", target)
      .parquet(s"$target/gen=1")
    assert(serve(asOf1) === serve(items.filter(col("day") <= cut)))
    val asOf2 = spark.read.option("basePath", target)
      .parquet(s"$target/gen=1", s"$target/gen=2")
    assert(serve(asOf2) === serve(items))
    assert(serve(asOf1) !== serve(asOf2),
      "batch 2 must be visible at gen 2 (the two serves may not collapse)")
  }

  test("stream_hll_store / stream_cms_store: the streamed governed stores " +
      "reassemble the batch day-merge value-for-value") {
    val hll = SketchQueries.queries("stream_hll_store")(spark, sf0001)
      .collect()
    assert(hll.nonEmpty)
    hll.foreach(r => assert(r.getAs[Long]("merge_exact") === 1L, r.toString))
    assert(hll.map(_.toString).toSeq ===
      SketchQueries.queries("hll_merge_days")(spark, sf0001)
        .collect().map(_.toString).toSeq)
    val cms = SketchQueries.queries("stream_cms_store")(spark, sf0001)
      .collect()
    assert(cms.nonEmpty)
    cms.foreach(r => assert(r.getAs[Long]("merge_exact") === 1L, r.toString))
    assert(cms.map(_.toString).toSeq ===
      SketchQueries.queries("cms_merge_days")(spark, sf0001)
        .collect().map(_.toString).toSeq)
    val hist = SketchQueries.queries("stream_hist_store")(spark, sf0001)
      .collect()
    assert(hist.nonEmpty)
    hist.foreach(r => assert(r.getAs[Long]("merge_exact") === 1L, r.toString))
    assert(hist.map(_.toString).toSeq ===
      SketchQueries.queries("hist_merge_days")(spark, sf0001)
        .collect().map(_.toString).toSeq)
  }

  test("hist_store_incremental: the governed histogram counter table " +
      "reassembles the batch day-merge value-for-value") {
    val incr = SketchQueries.queries("hist_store_incremental")(
      spark, sf0001).collect()
    assert(incr.nonEmpty)
    incr.foreach(r => assert(r.getAs[Long]("merge_exact") === 1L, r.toString))
    assert(incr.map(_.toString).toSeq ===
      SketchQueries.queries("hist_merge_days")(spark, sf0001)
        .collect().map(_.toString).toSeq)
  }

  test("sequence_pack_incremental: the token-watermark append equals the " +
      "one-shot layout row-for-row") {
    val incr = TextQueries.queries("sequence_pack_incremental")(spark, sf0001)
      .collect().map(_.toString).toSeq
    val oneShot = TextQueries.queries("sequence_pack")(spark, sf0001)
      .collect().map(_.toString).toSeq
    assert(incr.nonEmpty)
    assert(incr === oneShot)
    // batch 2 really started from the stored watermark, not zero: the
    // persisted batch-1 layout's total equals batch-2's first start_pos
    // (the layout is a governed day-partition table since r17 — each
    // batch owns its ingest-day p_date= partitions)
    val root = StoreQueries.storeRoot(spark, "seq_pack_layout")
    val stored = IncrementalStore.readTable(spark, root)
    def batch(i: Int) = stored.filter(col(IncrementalStore.PartitionCol) ===
      lit(TextQueries.PackIngestDays(i - 1)))
    val b1 = batch(1)
    val b2 = batch(2)
    val b1Total = b1.agg(max(col("start_pos") + col("n_tokens")))
      .head().getLong(0)
    val b2First = b2.orderBy(col("doc_id")).select(col("start_pos"))
      .head().getLong(0)
    assert(b1Total === b2First)
    assert(b1Total > 0L)
  }

  test("pack_manifest: tiling consistency against sequence_pack") {
    val placed = TextQueries.queries("sequence_pack")(spark, sf0001).collect()
    val packs = TextQueries.queries("pack_manifest")(spark, sf0001).collect()
    assert(packs.nonEmpty)
    // every document starts in exactly one pack
    assert(packs.map(_.getAs[Long]("n_docs")).sum === placed.length.toLong)
    // boundary crossers reconcile
    assert(packs.map(_.getAs[Long]("n_boundary_crossers")).sum ===
      placed.map(_.getAs[Long]("crosses_boundary")).sum)
    // pad only where the stream ends: every non-final manifest row is full
    val totalTokens = placed
      .map(r => r.getAs[Long]("start_pos") + r.getAs[Long]("n_tokens")).max
    packs.foreach { p =>
      val id = p.getAs[Long]("pack_id")
      val expectedPad = math.max(0L, (id + 1L) * 1024L - totalTokens)
      assert(p.getAs[Long]("pad_tokens") === expectedPad, p.toString)
    }
    assert(packs.count(_.getAs[Long]("pad_tokens") > 0L) <= 1)
    // first/last really bracket the pack's starting docs
    val byPack = placed.groupBy(_.getAs[Long]("pack_id"))
    packs.foreach { p =>
      val ids = byPack(p.getAs[Long]("pack_id")).map(_.getAs[Long]("doc_id"))
      assert(p.getAs[Long]("first_doc") === ids.min)
      assert(p.getAs[Long]("last_doc") === ids.max)
    }
  }
}
