package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Parity, Scratch, Tables}
import graft.relational.{KllSketch, Sketches}
import graft.store.IncrementalStore

/** The four mergeable sketch families as one abstraction — the
  * mergeable-summaries model (Agarwal et al., "Mergeable Summaries", PODS
  * 2012): each family builds a small artifact per (group, day), merges the
  * artifacts of any set of days into the artifact of those days' rows, and
  * reads the merged artifact out. A store keeps the per-day artifacts and
  * answers any day range by merging them, never re-reading row data.
  *
  *  - HLL registers merge by per-bucket max;
  *  - count-min (CMS) counters and histogram bins merge by integer sum;
  *  - KLL items merge by union plus re-compaction.
  *
  * Each merge is EXACT, not just estimate-equal: max and integer sums are
  * associative and commutative, and every KLL compaction decision is the
  * parity of a portable hash of (group, level, pair), a pure function of
  * the items ([[graft.relational.KllSketch]]). So a merged artifact equals
  * the one-shot build over the same rows bit for bit, and every shape
  * below answers with the value of the direct build.
  *
  * One generic implementation per shape serves all four families
  * ([[MergeableSketch]] carries what differs):
  *  - `<f>_merge_days`: every day, merged straight from the per-day build;
  *  - `<f>_range_serve`: the span min(day)+5 … min(day)+15 ([[span]]);
  *  - `<f>_store_serve`: the span, served from a governed store written as
  *    two day batches ([[storeDayTable]]);
  *  - `<f>_store_incremental`: every day, from a store whose own watermark
  *    decides which days to append ([[storeDayIncremental]]);
  *  - `stream_<f>_store`: every day, from a store a bounded stream lands
  *    one micro-batch at a time ([[streamedStore]]).
  *
  * `sketch_store_retention` and `stream_store_retention` sweep the HLL
  * store (two-batch and streamed) with [[IncrementalStore.retainDays]] and
  * serve the surviving days.
  *
  * Every report carries its proof. HLL, CMS and histograms compare the
  * merged artifact with the direct build over the served rows
  * (`merge_exact`, which must be 1). KLL has no direct arm: its DuckDB
  * mirror replays the same hash-parity compaction.
  */
object SketchQueries {

  type Q = (SparkSession, String) => DataFrame

  private val SpanFrom = 5
  private val SpanTo = 15
  /** Days ≤ min(day)+10 are the stores' first batch (the history load). */
  private val HistoryDays = 10
  /** The retention sweep drops every day before min(day)+16. */
  private val RetainFrom = 16

  /** Which days a serve answers, as a DuckDB filter on `day` given `mn`
    * = min(day).
    */
  final case class Scope(pred: String)
  val AllDays: Scope = Scope("TRUE")
  val Span: Scope = Scope(s"day BETWEEN mn + $SpanFrom AND mn + $SpanTo")
  val Retained: Scope = Scope(s"day >= mn + $RetainFrom")

  private val DaySql = "CAST(CAST(ts AS TIMESTAMP) AS DATE)"

  /** One mergeable sketch family. `store` names its governed day table;
    * `clusterBy` is that table's within-day layout.
    */
  abstract class MergeableSketch(val name: String, val store: String,
      val clusterBy: Seq[String]) {
    /** The rows the family sketches, with a DateType `day` column. */
    def events(s: SparkSession, dir: String): DataFrame
    /** The per-(group, day) artifact of `ev`. */
    def perDay(ev: DataFrame): DataFrame
    /** Per-day artifacts of any set of days, merged per group. */
    def merge(days: DataFrame, scope: Scope): DataFrame
    /** Read-out of `merged`, with the proof arm over `rows`. */
    def report(rows: DataFrame, merged: DataFrame): DataFrame
    /** `rows` as the report reads them. */
    def rows(df: DataFrame): DataFrame = df
    /** `events` is already file-backed: the stores need no scratch copy. */
    def fileBacked: Boolean = false
    /** DuckDB mirror of `events`: a SELECT over the `events` table. */
    def eventsSql: String
    /** DuckDB mirror of the per-day build, the merge and the report over
      * the CTE `sp` (the scope's rows): more CTEs, then the final SELECT.
      */
    def serveSql(scope: Scope): String

    def serve(rows: DataFrame, days: DataFrame, scope: Scope): DataFrame =
      report(rows, merge(days, scope))
  }

  object Hll extends MergeableSketch("hll", "hll_day_registers",
      Seq("event_type")) {
    def events(s: SparkSession, dir: String): DataFrame =
      Tables.events(s, dir)
        .select(col("event_type"), to_date(col("ts")).as("day"), col("user_id"))
    def perDay(ev: DataFrame): DataFrame =
      Sketches.hllRegisters(ev, Seq("event_type", "day"), col("user_id"))
    def merge(days: DataFrame, scope: Scope): DataFrame =
      Sketches.mergeRegisters(
        days.select(col("event_type"), col("__bucket"), col("__m")),
        Seq("event_type"))
    /** Merged-register estimate vs the direct sketch and the exact
      * distinct count of `rows`; `merge_exact` compares the raw doubles.
      */
    def report(rows: DataFrame, merged: DataFrame): DataFrame = {
      val fromMerged = Sketches.hllFromRegisters(merged, Seq("event_type"))
        .withColumnRenamed("hll_raw", "raw_merged")
      val direct = Sketches.hllDistinct(rows, Seq("event_type"),
          col("user_id"))
        .withColumnRenamed("hll_raw", "raw_direct")
      val exact = rows.groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("exact_distinct"))
      exact.join(direct, "event_type").join(fromMerged, "event_type")
        .select(col("event_type"), col("exact_distinct"),
          Parity.pround(col("raw_direct"), 6).as("hll_direct"),
          Parity.pround(col("raw_merged"), 6).as("hll_merged"),
          (col("raw_merged") === col("raw_direct")).cast("long")
            .as("merge_exact"))
        .orderBy(col("event_type"))
    }
    val eventsSql = s"SELECT event_type, $DaySql AS day, user_id FROM events"
    def serveSql(scope: Scope): String =
      s"""${Sketches.hllRegistersSql("sp", Seq("event_type", "day"), "user_id", "reg_day")},
         |mreg AS (SELECT event_type, bucket, max(m) AS m FROM reg_day GROUP BY ALL),
         |${Sketches.hllEstimateSql("mreg", Seq("event_type"), "hm")},
         |${Sketches.hllRegistersSql("sp", Seq("event_type"), "user_id", "reg_sp")},
         |${Sketches.hllEstimateSql("reg_sp", Seq("event_type"), "hd")},
         |ex AS (
         |  SELECT event_type, count(DISTINCT user_id) AS exact_distinct
         |  FROM sp GROUP BY 1)
         |SELECT event_type, exact_distinct,
         |       ${Parity.proundSql("hd.hll_raw", 6)} AS hll_direct,
         |       ${Parity.proundSql("hm.hll_raw", 6)} AS hll_merged,
         |       CAST(hm.hll_raw = hd.hll_raw AS BIGINT) AS merge_exact
         |FROM ex JOIN hd USING (event_type) JOIN hm USING (event_type)
         |ORDER BY event_type""".stripMargin
  }

  /** Counters are integer-linear, the strongest case: the summed day
    * tables equal the one-shot counter table cell for cell. The report
    * probes the rows' top-20 users, so the rows are materialized once for
    * the counters, the top-20 and the probes.
    */
  object Cms extends MergeableSketch("cms", "cms_day_counters",
      Seq("row_id")) {
    private def key = col("user_id").cast("string")
    def events(s: SparkSession, dir: String): DataFrame =
      Tables.events(s, dir).select(to_date(col("ts")).as("day"), col("user_id"))
    def perDay(ev: DataFrame): DataFrame =
      Sketches.cmsCounters(ev, key, groupCols = Seq("day"))
    def merge(days: DataFrame, scope: Scope): DataFrame =
      days.groupBy(col("row_id"), col("bucket")).agg(sum(col("n")).as("n"))
    override def rows(df: DataFrame): DataFrame = Scratch.table(df, "cms-rows")
    /** The rows' top-20 users by exact count, each with its estimate from
      * the direct counters over `rows` and from `merged`.
      */
    def report(rows: DataFrame, merged: DataFrame): DataFrame = {
      val direct = Sketches.cmsCounters(rows, key)
      val top = Scratch.table(
        rows.groupBy(col("user_id")).agg(count(lit(1)).as("n_exact"))
          .orderBy(col("n_exact").desc, col("user_id")).limit(20),
        "cms-top")
      val estD = Sketches.cmsEstimate(top, key, direct)
        .withColumnRenamed("n_cms", "n_cms_direct")
      val estM = Sketches.cmsEstimate(top, key, merged)
        .withColumnRenamed("n_cms", "n_cms_merged")
      top
        .join(estD, key === estD("__key"))
        .join(estM, key === estM("__key"))
        .select(col("user_id"), col("n_exact"), col("n_cms_direct"),
          col("n_cms_merged"),
          (col("n_cms_merged") === col("n_cms_direct")).cast("long")
            .as("merge_exact"))
        .orderBy(col("n_exact").desc, col("user_id"))
    }
    val eventsSql =
      s"SELECT $DaySql AS day, user_id, CAST(user_id AS VARCHAR) AS uid FROM events"
    private def probes(src: String, cols: String): String =
      (0 until 4).map { i =>
        s"SELECT $cols, $i AS row_id, ${Sketches.cmsBucketSql(i, "uid")} AS bucket FROM $src"
      }.mkString("\n  UNION ALL ")
    def serveSql(scope: Scope): String =
      s"""pr AS (${probes("sp", "day, user_id, uid")}),
         |dc AS (SELECT row_id, bucket, CAST(count(*) AS BIGINT) AS n
         |       FROM pr GROUP BY 1, 2),
         |dayc AS (SELECT day, row_id, bucket, count(*) AS n
         |         FROM pr GROUP BY 1, 2, 3),
         |mc AS (SELECT row_id, bucket, CAST(sum(n) AS BIGINT) AS n
         |       FROM dayc GROUP BY 1, 2),
         |top AS (
         |  SELECT user_id, uid, CAST(count(*) AS BIGINT) AS n_exact
         |  FROM sp GROUP BY 1, 2 ORDER BY n_exact DESC, user_id LIMIT 20),
         |tp AS (${probes("top", "user_id, uid, n_exact")}),
         |ed AS (SELECT user_id, min(coalesce(dc.n, 0)) AS n_cms_direct
         |       FROM tp LEFT JOIN dc USING (row_id, bucket) GROUP BY 1),
         |em AS (SELECT user_id, min(coalesce(mc.n, 0)) AS n_cms_merged
         |       FROM tp LEFT JOIN mc USING (row_id, bucket) GROUP BY 1)
         |SELECT t.user_id, t.n_exact, ed.n_cms_direct, em.n_cms_merged,
         |       CAST(em.n_cms_merged = ed.n_cms_direct AS BIGINT) AS merge_exact
         |FROM top t JOIN ed USING (user_id) JOIN em USING (user_id)
         |ORDER BY t.n_exact DESC, t.user_id""".stripMargin
  }

  /** Histogram bins of the floored event value. The value is floored
    * BEFORE the long cast on both engines (Spark's double→long cast
    * truncates while DuckDB's rounds). Bin counts are integer-linear, so
    * the summed histogram IS the direct one: the mirror reads the
    * quantiles off the direct histogram and states `merge_exact` = 1.
    */
  object Hist extends MergeableSketch("hist", "hist_day_counts",
      Seq("event_type")) {
    private val BinW = 5L
    private val Qs = Seq(0.5, 0.9, 0.99)
    def events(s: SparkSession, dir: String): DataFrame =
      Tables.events(s, dir)
        .select(col("event_type"), to_date(col("ts")).as("day"),
          floor(col("value")).as("v"))
    def perDay(ev: DataFrame): DataFrame =
      Sketches.histCounts(ev, Seq("event_type", "day"), col("v"), BinW)
    def merge(days: DataFrame, scope: Scope): DataFrame =
      days.groupBy(col("event_type"), col("bin")).agg(sum(col("n")).as("n"))
    def report(rows: DataFrame, merged: DataFrame): DataFrame = {
      val fromMerged = Sketches.histQuantiles(merged, Seq("event_type"),
          BinW, Qs)
        .select(col("event_type"), col("p50_ub").as("m50"),
          col("p90_ub").as("m90"), col("p99_ub").as("m99"))
      val direct = Sketches.histQuantiles(
        Sketches.histCounts(rows, Seq("event_type"), col("v"), BinW),
        Seq("event_type"), BinW, Qs)
      direct.join(fromMerged, "event_type")
        .select(col("event_type"), col("n_rows"),
          col("p50_ub"), col("p90_ub"), col("p99_ub"),
          (col("p50_ub") === col("m50") && col("p90_ub") === col("m90") &&
            col("p99_ub") === col("m99")).cast("long").as("merge_exact"))
        .orderBy(col("event_type"))
    }
    val eventsSql =
      s"SELECT event_type, $DaySql AS day, floor(value) AS v FROM events"
    def serveSql(scope: Scope): String =
      s"""${Sketches.histQuantilesSql("sp", Seq("event_type"), "v", BinW, Qs)}
         |SELECT event_type, n_rows, p50_ub, p90_ub, p99_ub,
         |       CAST(1 AS BIGINT) AS merge_exact
         |FROM hq ORDER BY event_type""".stripMargin
  }

  /** KLL quantile sketches. The per-day build (≈400 rows per (type, day)
    * → ~25 items at level 4) is the shared day-sketch fixture, built once
    * per (JVM, dir) as the per-day sketch job would run once, so the
    * family's rows ARE the day sketches and `perDay` is the identity. The
    * quantiles are actual corpus doubles, so the mirror is hash-exact with
    * no rounding step; there is no direct arm to compare.
    */
  object Kll extends MergeableSketch("kll", "kll_day_sketch",
      Seq("event_type")) {
    private val Qs = Seq(0.5, 0.9, 0.99)
    private val DayRounds = 4
    /** The merge's compaction ceiling: the union of ~30 day sketches
      * re-compacts levels 0 until 9; an 11-day span's until 8.
      */
    private val levels: Map[Scope, Int] = Map(AllDays -> 9, Span -> 8)
    override def fileBacked: Boolean = true
    def events(s: SparkSession, dir: String): DataFrame =
      Scratch.fixture(s, s"kll-day$DayRounds|$dir")(
        KllSketch.sketchAuto(
          Tables.events(s, dir).withColumn("day", to_date(col("ts"))),
          Seq("event_type", "day"), col("value"), col("event_id"),
          rounds = DayRounds))
    def perDay(ev: DataFrame): DataFrame = ev
    /** Every caller hands in file-backed items (the fixture, a store or
      * sink read-back), cheap to count, which lets compactAuto certify
      * the fused single-job cascade.
      */
    def merge(days: DataFrame, scope: Scope): DataFrame =
      KllSketch.compactAuto(
        days.select(col("event_type"), col("level"), col("value"),
          col("tid"), col("w")),
        Seq("event_type"), 0, levels(scope), inputMaterialized = true)
    def report(rows: DataFrame, merged: DataFrame): DataFrame =
      KllSketch.quantiles(merged, Seq("event_type"), Qs)
        .orderBy(col("event_type"))
    val eventsSql =
      s"""SELECT event_type, $DaySql AS day,
         |       0 AS level, CAST(value AS DOUBLE) AS value,
         |       CAST(event_id AS BIGINT) AS tid, CAST(1 AS BIGINT) AS w
         |FROM events""".stripMargin
    def serveSql(scope: Scope): String =
      s"""${KllSketch.compactSql("sp", Seq("event_type", "day"), 0, DayRounds, "skd")},
         |mg AS (SELECT event_type, level, value, tid, w FROM skd),
         |${KllSketch.compactSql("mg", Seq("event_type"), 0, levels(scope), "skm")},
         |${KllSketch.quantilesSql("skm", Seq("event_type"), Qs, "q")}
         |SELECT event_type, n_rows, p50, p90, p99
         |FROM q ORDER BY event_type""".stripMargin
  }

  private val families: Seq[MergeableSketch] = Seq(Hll, Cms, Hist, Kll)

  /** The DuckDB mirror of a family's serve over `scope`'s days. Building
    * the day artifacts from the scope's rows equals building them from
    * every row and then dropping days: each is a pure function of its
    * day's rows.
    */
  def sql(sk: MergeableSketch, scope: Scope): String =
    s"""WITH ev AS (${sk.eventsSql}),
       |d0 AS (SELECT min(day) AS mn FROM ev),
       |sp AS (SELECT ev.* FROM ev CROSS JOIN d0 WHERE ${scope.pred}),
       |${sk.serveSql(scope)}""".stripMargin

  /** The span min(day)+5 … min(day)+15 of `anchor`'s days, as a filter on
    * any relation with a `day` column. The span is data-derived (a
    * broadcast 1-row min) so each query is a pure function of the corpus;
    * a production serve passes literal dates and prunes `p_date=`
    * partitions statically.
    */
  private def span(anchor: DataFrame): DataFrame => DataFrame = {
    val d0 = anchor.agg(min(col("day")).as("d0"))
    _.crossJoin(broadcast(d0))
      .filter(col("day").between(date_add(col("d0"), SpanFrom),
        date_add(col("d0"), SpanTo)))
      .drop("d0")
  }

  private def mergeDays(sk: MergeableSketch): Q = (s, dir) => {
    val ev = sk.rows(sk.events(s, dir))
    sk.serve(ev, sk.perDay(ev), AllDays)
  }

  private def rangeServe(sk: MergeableSketch): Q = (s, dir) => {
    val ev = sk.events(s, dir)
    val inSpan = span(ev)
    sk.serve(sk.rows(inSpan(ev)), inSpan(sk.perDay(ev)), Span)
  }

  private def storeServe(sk: MergeableSketch): Q = (s, dir) => {
    val ev = sk.events(s, dir)
    val stored = storeDayTable(s, sk.store, sk.perDay(ev), "day",
      sk.clusterBy, sk.fileBacked)
    sk.serve(sk.rows(span(ev)(ev)), span(stored)(stored), Span)
  }

  private def storeIncremental(sk: MergeableSketch): Q = (s, dir) => {
    val ev = sk.rows(sk.events(s, dir))
    sk.serve(ev, storeDayIncremental(s, s"${sk.store}_incr", sk.perDay(ev),
      "day", sk.clusterBy, sk.fileBacked), AllDays)
  }

  private def streamStore(sk: MergeableSketch): Q = (s, dir) => {
    val ev = sk.rows(sk.events(s, dir))
    sk.serve(ev, streamedStore(s, s"stream_${sk.name}_store", dir,
      sk.perDay(ev), sk.clusterBy), AllDays)
  }

  /** Sweep every day before min(day)+16 off the stored table at `target`
    * (a directory delete per `p_date=`, no surviving file touched), then
    * serve the survivors. The partition column carries exactly the
    * artifact's day, so the sweep must equal the logical day filter on the
    * rows, and `merge_exact` proves it.
    */
  private def retained(sk: MergeableSketch, s: SparkSession, ev: DataFrame,
      stored: DataFrame, target: String): DataFrame = {
    // a production sweep takes a literal cutoff; here it is derived from
    // the store itself (one column-pruned scalar)
    val cutoff = stored.agg(min(col("day"))).first().getDate(0).toLocalDate
      .plusDays(RetainFrom)
    IncrementalStore.retainDays(s, target, cutoff)
    sk.serve(sk.rows(ev.filter(col("day") >= lit(java.sql.Date.valueOf(cutoff)))),
      IncrementalStore.readTable(s, target), Retained)
  }

  private val sketchStoreRetention: Q = (s, dir) => {
    val ev = Hll.events(s, dir)
    val name = s"${Hll.store}_ret"
    retained(Hll, s, ev,
      storeDayTable(s, name, Hll.perDay(ev), "day", Hll.clusterBy),
      StoreQueries.storeRoot(s, name))
  }

  /** The retention sweep on a STREAM-written layout: a `p_date=`
    * partition laid down by a foreachBatch micro-batch ages out and serves
    * exactly like one written by a batch job. It streams the
    * `stream_hll_store` fixture as ONE micro-batch: the multi-batch
    * reassembly is that query's contract, not this one's.
    */
  private val streamStoreRetention: Q = (s, dir) => {
    val ev = Hll.events(s, dir)
    retained(Hll, s, ev,
      streamedStore(s, "stream_store_retention", dir, Hll.perDay(ev),
        Hll.clusterBy, fixtureName = "stream_hll_store",
        filesPerTrigger = None),
      StoreQueries.storeRoot(s, "stream_store_retention"))
  }

  /** Delete-and-rebuild store `name` with `items`' days ≤ min(day)+10;
    * returns the target and the relation later batches read (scratch-
    * materialized unless already file-backed, because the split bound and
    * every batch re-read it).
    */
  private def loadHistory(s: SparkSession, name: String, items: DataFrame,
      dayCol: String, clusterBy: Seq[String],
      inputMaterialized: Boolean): (String, DataFrame, DataFrame) = {
    val target = StoreQueries.freshScratch(s, s"graft_store/$name")
    val mat =
      if (inputMaterialized) items else Scratch.table(items, s"storeday-$name")
    val d0 = mat.agg(min(col(dayCol)).as("__d0"))
    IncrementalStore.overwriteDayPartitions(
      mat.crossJoin(broadcast(d0))
        .filter(col(dayCol) <= date_add(col("__d0"), HistoryDays)).drop("__d0"),
      target, dayCol, clusterBy = clusterBy)
    (target, mat, d0)
  }

  /** A day-keyed relation written through the governed store as TWO
    * day-partition batches (history ≤ min(day)+10, then the rest: the
    * production cadence where each day's job appends its own `p_date=`
    * partitions); returns the read-back. Batch boundaries are
    * value-invisible and parquet round-trips every payload type
    * bit-exactly. `dayCol` must be a DateType column on `items`.
    */
  private[queries] def storeDayTable(s: SparkSession, name: String,
      items: DataFrame, dayCol: String, clusterBy: Seq[String],
      inputMaterialized: Boolean = false): DataFrame = {
    val (target, mat, d0) =
      loadHistory(s, name, items, dayCol, clusterBy, inputMaterialized)
    IncrementalStore.overwriteDayPartitions(
      mat.crossJoin(broadcast(d0))
        .filter(col(dayCol) > date_add(col("__d0"), HistoryDays)).drop("__d0"),
      target, dayCol, clusterBy = clusterBy)
    IncrementalStore.readTable(s, target)
  }

  /** WATERMARK-DRIVEN maintenance of a governed day table: load the days
    * ≤ min(day)+10, then the store's own newest day partition decides
    * which days are missing and ONLY those are appended (one
    * partition-scoped dynamic overwrite). The read-back holds exactly
    * `items`, so each family's all-days serve shares its merge-days
    * oracle. `dayCol` must be a DateType column on `items`.
    *
    * The watermark is the newest `p_date=` directory from one driver-side
    * listing ([[IncrementalStore.listDays]]) — no Spark job — handed to
    * the increment as a literal, so the increment never reads the files
    * its own overwrite replaces. The store partitions on
    * `p_date = to_date(day)`, so for a DateType day that directory IS
    * max(day). An initial load that stored no day (empty input, or only
    * null days, whose partition listDays skips) fails with a description.
    */
  private[queries] def storeDayIncremental(s: SparkSession, name: String,
      items: DataFrame, dayCol: String, clusterBy: Seq[String],
      inputMaterialized: Boolean = false): DataFrame = {
    val (target, mat, _) =
      loadHistory(s, name, items, dayCol, clusterBy, inputMaterialized)
    val watermark = IncrementalStore.listDays(s, target).lastOption
    require(watermark.isDefined,
      s"storeDayIncremental($name): the initial load stored no day " +
        s"partition (empty input or all-null '$dayCol') — nothing to " +
        "increment from")
    IncrementalStore.overwriteDayPartitions(
      mat.filter(col(dayCol) > lit(java.sql.Date.valueOf(watermark.get))),
      target, dayCol, clusterBy = clusterBy)
    IncrementalStore.readTable(s, target)
  }

  /** Persist a day-keyed artifact relation as a fixture range-partitioned
    * by day into 4 files, stream it back and land every micro-batch in the
    * governed day store through [[PipelineQueries.runBoundedStreamToDayStore]].
    * Range partitioning keeps each micro-batch day-complete (the sink's
    * fast path); the sink's fragment merge makes it not load-bearing.
    *
    * @param filesPerTrigger Some(1) replays the fixture as 4 micro-batches
    *   (the multi-batch reassembly the `stream_*_store` queries prove);
    *   None ingests it as ONE batch.
    */
  private def streamedStore(s: SparkSession, name: String, dir: String,
      items: DataFrame, clusterBy: Seq[String], fixtureName: String = null,
      filesPerTrigger: Option[Int] = Some(1)): DataFrame = {
    val (base, schema) = Scratch.fixtureFiles(s,
        s"${Option(fixtureName).getOrElse(name)}|$dir")(
      items.repartitionByRange(4, col("day")))
    PipelineQueries.runBoundedStreamToDayStore(s, s"graft_$name",
      () => {
        val r = s.readStream.schema(schema)
        filesPerTrigger.fold(r)(n => r.option("maxFilesPerTrigger", n))
          .parquet(base)
      },
      "day", clusterBy = clusterBy)
  }

  /** The five shapes: query name, implementation, and the days served. */
  private val shapes: Seq[(String => String, MergeableSketch => Q, Scope)] =
    Seq(
      (f => s"${f}_merge_days", mergeDays, AllDays),
      (f => s"${f}_range_serve", rangeServe, Span),
      (f => s"${f}_store_serve", storeServe, Span),
      (f => s"${f}_store_incremental", storeIncremental, AllDays),
      (f => s"stream_${f}_store", streamStore, AllDays))

  val queries: Map[String, Q] =
    (for (sk <- families; (named, shape, _) <- shapes)
      yield named(sk.name) -> shape(sk)).toMap ++ Map(
      "sketch_store_retention" -> sketchStoreRetention,
      "stream_store_retention" -> streamStoreRetention)

  val oracleSql: Map[String, String] =
    (for (sk <- families; (named, _, scope) <- shapes)
      yield named(sk.name) -> sql(sk, scope)).toMap ++ Map(
      "sketch_store_retention" -> sql(Hll, Retained),
      "stream_store_retention" -> sql(Hll, Retained))
}
