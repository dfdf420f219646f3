package graft.queries

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}
import graft.store.IncrementalStore

/** Round-17 (cont.) specs: the training-pack artifact's full lifecycle —
  * streaming maintenance of the governed pack layout (`stream_seq_pack`),
  * incremental manifest maintenance with the boundary-pack monoid merge
  * (`pack_manifest_incremental`), replay idempotency of the sequential
  * (watermark-shifted) streaming sink, and the retention floor that keeps
  * late stragglers from resurrecting swept day partitions.
  */
class PackLifecycleSpec extends SparkSpec {

  private def slurp(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("stream_seq_pack: arrival-ordered micro-batches reassemble the " +
      "one-shot layout through the governed store") {
    val streamed = PipelineQueries.queries("stream_seq_pack")(spark, sf0001)
    val oneShot = TextQueries.queries("sequence_pack")(spark, sf0001)
    assert(slurp(streamed) === slurp(oneShot))
    assert(streamed.count() > 0L)
    // the run really was multi-micro-batch (4 quartile files, 1 per
    // trigger) and each batch owns its own ingest-day partition
    val root = new org.apache.hadoop.fs.Path(
      StoreQueries.storeRoot(spark, "stream_seq_pack"))
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dayDirs = fs.listStatus(root).map(_.getPath.getName)
      .filter(_.startsWith(s"${IncrementalStore.PartitionCol}="))
    assert(dayDirs.length === 4, dayDirs.mkString(", "))
  }

  test("pack_manifest_incremental: partial manifests merge to the one-shot " +
      "manifest on the real corpus") {
    val incr = TextQueries.queries("pack_manifest_incremental")(spark, sf0001)
    val oneShot = TextQueries.queries("pack_manifest")(spark, sf0001)
    assert(slurp(incr) === slurp(oneShot))
    assert(incr.count() > 0L)
  }

  test("pack_manifest_incremental: the BOUNDARY pack (one pack, doc starts " +
      "from both ingests) merges by the manifest monoid") {
    // synthetic corpus engineered so the second ingest's first doc starts
    // inside a pack where first-ingest docs also start: 10 docs of 300
    // tokens each ("a "×150 → 150 words + 150 space runs), cut at doc 4
    // (min + span/2) → T1 = 1500: doc 4 starts at 1200 (pack 1, doesn't
    // cross), doc 5 starts at 1500 (pack 1) — pack 1 carries manifest
    // rows in BOTH partials, the case the disjoint real-corpus split
    // can't be relied on to produce
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_boundary").toString
    (0L until 10L).map(i => (i, "a " * 150, "en", "synth", 300L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val incr = TextQueries.queries("pack_manifest_incremental")(spark, tmp)
    val oneShot = TextQueries.queries("pack_manifest")(spark, tmp)
    assert(slurp(incr) === slurp(oneShot))
    // pack 1's merged row really is the sum of two partials: doc 4
    // (start 1200, ingest 1) and docs 5–6 (starts 1500/1800, ingest 2)
    // all start there
    val p1 = incr.filter(col("pack_id") === 1L).head()
    assert(p1.getAs[Long]("n_docs") === 3L)
    assert(p1.getAs[Long]("first_doc") === 4L)
    assert(p1.getAs[Long]("last_doc") === 6L)
    val stored = IncrementalStore.readTable(spark,
      StoreQueries.storeRoot(spark, "pack_manifest_layout"))
    val Seq(day1, day2) = TextQueries.PackIngestDays
    def startsInPack1(d: java.sql.Date) = stored
      .filter(col(IncrementalStore.PartitionCol) === lit(d))
      .filter(col("start_pos") >= 1024L && col("start_pos") < 2048L).count()
    assert(startsInPack1(day1) === 1L && startsInPack1(day2) === 2L,
      "expected pack 1 to hold doc starts from BOTH ingests")
  }

  test("streaming pack sink: a REPLAYED micro-batch recomputes the same " +
      "token watermark (own rows excluded) and leaves the store unchanged") {
    val docs = Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("text"))
    val b = docs.agg(min(col("doc_id")), max(col("doc_id"))).first()
    val cut = b.getLong(0) + (b.getLong(1) - b.getLong(0)) / 2L
    val day = (i: Int) => java.sql.Date.valueOf(s"2024-02-0${i + 1}")
    val target = StoreQueries.freshScratch(spark, "graft_store/spec_pack_replay")
    def runBatch(pred: org.apache.spark.sql.Column, bid: Long): Unit = {
      val tp = new org.apache.hadoop.fs.Path(target)
      val fs = tp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val wm =
        if (!fs.exists(tp)) 0L
        else {
          val r = IncrementalStore.readTable(spark, target)
            .filter(col(IncrementalStore.BatchIdCol) =!= bid)
            .agg(max(col("start_pos") + col("n_tokens"))).first()
          if (r.isNullAt(0)) 0L else r.getLong(0)
        }
      IncrementalStore.mergeBatchDayPartitions(
        TextQueries.shiftedLayout(
          TextQueries.docTokens(docs.filter(pred)), wm)
          .withColumn("ingest_day", lit(day(bid.toInt))),
        bid, target, "ingest_day", clusterBy = Seq("doc_id"))
    }
    runBatch(col("doc_id") <= cut, 0L)
    runBatch(col("doc_id") > cut, 1L)
    val before = slurp(IncrementalStore.readTable(spark, target)
      .select(col("doc_id"), col("n_tokens"), col("start_pos")))
    assert(before.nonEmpty)
    // replay batch 1 (failure/retry): same watermark, same offsets, the
    // merge purges the prior rows — byte-for-byte the same table
    runBatch(col("doc_id") > cut, 1L)
    val after = slurp(IncrementalStore.readTable(spark, target)
      .select(col("doc_id"), col("n_tokens"), col("start_pos")))
    assert(after === before)
  }

  private def itemsDf(rows: Seq[(java.sql.Date, Long, Double)]) = {
    import spark.implicits._
    rows.toDF("day", "k", "v")
  }

  test("retention floor: a late straggler below the floor cannot " +
      "resurrect a swept day partition; at/above-floor rows still merge") {
    val d = (i: Int) => java.sql.Date.valueOf(s"2024-03-0$i")
    val target = StoreQueries.freshScratch(spark, "graft_store/spec_floor17")
    IncrementalStore.mergeBatchDayPartitions(
      itemsDf(Seq((d(1), 1L, 1.0), (d(2), 2L, 2.0), (d(3), 3L, 3.0))),
      0L, target, "day", clusterBy = Seq("k"))
    val cutoff = d(2).toLocalDate
    val dropped = IncrementalStore.retainDays(spark, target, cutoff)
    assert(dropped === Seq(s"${IncrementalStore.PartitionCol}=${d(1)}"))
    // late batch: one straggler for the swept day, one genuine row
    IncrementalStore.mergeBatchDayPartitions(
      itemsDf(Seq((d(1), 9L, 9.0), (d(3), 4L, 4.0))),
      1L, target, "day", clusterBy = Seq("k"),
      retentionFloor = Some(cutoff))
    val stored = IncrementalStore.readTable(spark, target)
    assert(stored.filter(col("day") === lit(d(1))).count() === 0L,
      "the floored straggler resurrected a swept day")
    assert(stored.filter(col("day") === lit(d(3))).count() === 2L)
    assert(stored.count() === 3L)
    // without the floor the same straggler WOULD resurrect the day — the
    // scenario the guard exists for
    IncrementalStore.mergeBatchDayPartitions(
      itemsDf(Seq((d(1), 9L, 9.0))), 2L, target, "day", clusterBy = Seq("k"))
    assert(IncrementalStore.readTable(spark, target)
      .filter(col("day") === lit(d(1))).count() === 1L)
  }

  test("retention floor: null-day rows are never floored (mirroring " +
      "retainDays' null-partition skip)") {
    val d = (i: Int) => java.sql.Date.valueOf(s"2024-04-0$i")
    val target = StoreQueries.freshScratch(spark, "graft_store/spec_floor17_null")
    IncrementalStore.mergeBatchDayPartitions(
      itemsDf(Seq((d(2), 1L, 1.0), (null, 2L, 2.0), (d(1), 3L, 3.0))),
      0L, target, "day", clusterBy = Seq("k"),
      retentionFloor = Some(d(2).toLocalDate))
    val stored = IncrementalStore.readTable(spark, target)
    assert(stored.count() === 2L)
    assert(stored.filter(col("day").isNull).count() === 1L)
    assert(stored.filter(col("day") === lit(d(1))).count() === 0L)
  }
}
