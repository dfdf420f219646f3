package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Source/sink format coverage beyond parquet: CSV, JSON-lines, and ORC
  * round-trips of a day slice of events, written by the engine and read
  * back with EXPLICIT schemas — never inferred: schema inference is a
  * whole extra pass over the data at 100 TB and is type-unstable between
  * files — then proved value-identical by the parquet-recomputing DuckDB
  * oracle. Each format sits where a production pipeline actually meets
  * it: CSV/JSONL as interchange at the ingest edges (the reference's REST
  * extract emits JSON rows, scripts/extract_forex.py:34-100), ORC as the
  * columnar format a mixed warehouse must read natively.
  *
  * Fidelity notes (the reason these are gate queries, not smoke tests):
  * timestamps serialize at full microsecond precision
  * (`yyyy-MM-dd HH:mm:ss.SSSSSS`, UTC session); doubles go through
  * shortest-round-trip decimal strings in CSV/JSON, so parse-back is
  * bit-exact by Java's Double contract; ORC stores both natively. Row
  * order is never format-carried — every query re-orders by key.
  *
  * Scale shape: one pushed-filter day scan in, one distributed write, one
  * schema-supplied distributed read — no inference pass, no collect.
  */
object FormatQueries {

  type Q = (SparkSession, String) => DataFrame

  private val TsFmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"

  private val sliceSchema = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("value", DoubleType)))

  private def daySlice(s: SparkSession, dir: String): DataFrame =
    graft.Tables.eventsDay(s, dir, java.time.LocalDate.parse("2024-01-07"))
      .select(col("event_id"), col("ts"), col("user_id"), col("value"))

  private def roundtrip(s: SparkSession, dir: String, fmt: String,
      writeOpts: Map[String, String], readOpts: Map[String, String]): DataFrame = {
    val target = StoreQueries.scratchPath(s, s"graft_store/${fmt}_roundtrip")
    daySlice(s, dir).write.mode("overwrite")
      .options(writeOpts).format(fmt).save(target)
    s.read.schema(sliceSchema).options(readOpts).format(fmt).load(target)
      .orderBy(col("event_id"))
  }

  val csvRoundtrip: Q = (s, dir) =>
    roundtrip(s, dir, "csv",
      Map("header" -> "true", "timestampFormat" -> TsFmt),
      Map("header" -> "true", "timestampFormat" -> TsFmt))

  val jsonRoundtrip: Q = (s, dir) =>
    roundtrip(s, dir, "json",
      Map("timestampFormat" -> TsFmt), Map("timestampFormat" -> TsFmt))

  val orcRoundtrip: Q = (s, dir) =>
    roundtrip(s, dir, "orc", Map.empty, Map.empty)

  /** One oracle for all three: the round-trip must be the identity, so
    * the expected relation is just the parquet-recomputed day slice.
    */
  private val roundtripSql: String =
    """SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, value
      |FROM events
      |WHERE CAST(CAST(ts AS TIMESTAMP) AS DATE) = DATE '2024-01-07'
      |ORDER BY event_id""".stripMargin

  private def ticks(s: SparkSession): DataFrame =
    s.read.format("graft-ticks")
      .option("rows", "10000").option("pages", "8").load()

  /** Row-level check of the custom DataSource V2 ([[graft.sources
    * .TickSource]]): a tick_id range slice, every column materialized —
    * the hash gate proves the distributed page readers generate exactly
    * the contract rows (and the pushed range proves bound-narrowing
    * doesn't drop or duplicate boundary rows).
    */
  val restTicksRows: Q = (s, _) =>
    ticks(s)
      .filter(col("tick_id") >= 100L && col("tick_id") < 300L)
      .select(col("tick_id"), col("page"), col("ts"), col("symbol"), col("price"))
      .orderBy(col("tick_id"))

  val restTicksRowsSql: String =
    """SELECT i AS tick_id,
      |       i // 1250 AS page,
      |       make_timestamp(CAST(1704067200000000 AS BIGINT) + i * 1000000) AS ts,
      |       CASE i % 3 WHEN 0 THEN 'EURUSD' WHEN 1 THEN 'GBPUSD'
      |            ELSE 'USDJPY' END AS symbol,
      |       1.0 + CAST((i * 7919) % 10000 AS DOUBLE) / 10000.0 AS price
      |FROM range(100, 300) t(i)
      |ORDER BY tick_id""".stripMargin

  /** Metadata columns over the custom source (`SupportsMetadataColumns` —
    * the `_metadata` contract file sources implement): `_row_in_page` is
    * hidden from the table schema and `SELECT *` but resolvable by name,
    * and carries the row's ordinal WITHIN its original fetch page — the
    * per-response provenance a paginated-ingest debugger asks for. The
    * slice deliberately spans a page boundary (pages are 1250 ids at
    * rows=10000/pages=8), so the gate proves the ordinal RESETS at the
    * boundary and is computed from the page's original start even though
    * the pushed range bounds clip the page mid-way.
    */
  val restMetaCols: Q = (s, _) =>
    ticks(s)
      .filter(col("tick_id") >= 1200L && col("tick_id") < 1300L)
      .select(col("tick_id"), col("page"), col("_row_in_page"))
      .orderBy(col("tick_id"))

  val restMetaColsSql: String =
    """SELECT i AS tick_id,
      |       i // 1250 AS page,
      |       i % 1250 AS _row_in_page
      |FROM range(1200, 1300) t(i)
      |ORDER BY tick_id""".stripMargin

  /** Aggregate over the custom source with BOTH pushdowns live: the
    * tick_id bounds reach the source (pages outside are never planned,
    * rows outside never generated) and column pruning drops `symbol`'s
    * sibling columns from the readers. SourcesSpec asserts the plan
    * carries the pushed filters and the pruned ReadSchema.
    */
  val restSourceAgg: Q = (s, _) =>
    ticks(s)
      .filter(col("tick_id") >= 2500L && col("tick_id") < 7500L)
      .groupBy(col("symbol"))
      .agg(count(lit(1)).as("n_ticks"),
        graft.Parity.pround(
          sum(col("price").cast(org.apache.spark.sql.types.DecimalType(30, 10)))
            .cast("double"), 6).as("sum_price"))
      .orderBy(col("symbol"))

  val restSourceAggSql: String =
    """WITH t AS (
      |  SELECT CASE i % 3 WHEN 0 THEN 'EURUSD' WHEN 1 THEN 'GBPUSD'
      |              ELSE 'USDJPY' END AS symbol,
      |         1.0 + CAST((i * 7919) % 10000 AS DOUBLE) / 10000.0 AS price
      |  FROM range(2500, 7500) r(i))
      |SELECT symbol, count(*) AS n_ticks,
      |       floor(CAST(sum(CAST(price AS DECIMAL(30,10))) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS sum_price
      |FROM t GROUP BY 1 ORDER BY 1""".stripMargin

  /** STREAMING read of the custom connector: the same `graft-ticks`
    * table consumed as a rate-limited micro-batch stream (offset = next
    * unread tick_id, the Kafka model; `maxTicksPerTrigger` admits 3000
    * ids per batch via `SupportsAdmissionControl`, so the bounded run is
    * 4 micro-batches under `Trigger.AvailableNow`). Complete-mode per-
    * symbol aggregate over all batches must equal the one-shot batch
    * arithmetic — which is exactly what the oracle states, proving the
    * offset ranges tile the feed with no gap and no overlap.
    */
  val streamRestSource: Q = (s, _) =>
    PipelineQueries.runBoundedStream(s, "graft_stream_rest_source",
      () => s.readStream.format("graft-ticks")
        .option("rows", "10000").option("pages", "8")
        .option("maxTicksPerTrigger", "3000").load()
        .groupBy(col("symbol"))
        .agg(count(lit(1)).as("n_ticks"),
          graft.Parity.pround(
            sum(col("price").cast(DecimalType(30, 10))).cast("double"), 6)
            .as("sum_price")),
      "complete")
      .orderBy(col("symbol"))

  val streamRestSourceSql: String =
    """WITH t AS (
      |  SELECT CASE i % 3 WHEN 0 THEN 'EURUSD' WHEN 1 THEN 'GBPUSD'
      |              ELSE 'USDJPY' END AS symbol,
      |         1.0 + CAST((i * 7919) % 10000 AS DOUBLE) / 10000.0 AS price
      |  FROM range(0, 10000) r(i))
      |SELECT symbol, count(*) AS n_ticks,
      |       floor(CAST(sum(CAST(price AS DECIMAL(30,10))) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS sum_price
      |FROM t GROUP BY 1 ORDER BY 1""".stripMargin

  /** The connector feeding the flagship operator: streaming hourly OHLC
    * candles per symbol straight off the `graft-ticks` micro-batch
    * stream — the end-to-end shape the reference's pipeline has (REST
    * pages → candles), with the engine's windowed min_by/max_by
    * aggregate as the candle builder and the rate limit exercising
    * cross-batch aggregation state. Oracle: closed-form hour-bucket
    * arithmetic over `range()`.
    */
  val streamRestOhlc: Q = (s, _) =>
    PipelineQueries.runBoundedStream(s, "graft_stream_rest_ohlc",
      () => s.readStream.format("graft-ticks")
        .option("rows", "10000").option("pages", "8")
        .option("maxTicksPerTrigger", "3000").load()
        .groupBy(col("symbol"), window(col("ts"), "1 hour").as("w"))
        .agg(
          min_by(col("price"), col("tick_id")).as("open_price"),
          max(col("price")).as("high_price"),
          min(col("price")).as("low_price"),
          max_by(col("price"), col("tick_id")).as("close_price"),
          count(lit(1)).as("n_ticks")),
      "complete")
      .select(col("symbol"), col("w.start").as("candle_start"),
        col("open_price"), col("high_price"), col("low_price"),
        col("close_price"), col("n_ticks"))
      .orderBy(col("symbol"), col("candle_start"))

  val streamRestOhlcSql: String =
    """WITH t AS (
      |  SELECT i,
      |         CASE i % 3 WHEN 0 THEN 'EURUSD' WHEN 1 THEN 'GBPUSD'
      |              ELSE 'USDJPY' END AS symbol,
      |         make_timestamp(CAST(1704067200000000 AS BIGINT)
      |                        + (i // 3600) * 3600000000) AS candle_start,
      |         1.0 + CAST((i * 7919) % 10000 AS DOUBLE) / 10000.0 AS price
      |  FROM range(0, 10000) r(i))
      |SELECT symbol, candle_start,
      |       arg_min(price, i) AS open_price,
      |       max(price) AS high_price,
      |       min(price) AS low_price,
      |       arg_max(price, i) AS close_price,
      |       count(*) AS n_ticks
      |FROM t GROUP BY 1, 2
      |ORDER BY symbol, candle_start""".stripMargin

  /** Aggregate PUSHDOWN into the custom source: a group-by-less
    * count/min/max over the id-monotone columns is answered by each page
    * partition in O(1) closed form — no tick row is ever generated
    * (`SupportsPushDownAggregates`; SourcesSpec asserts the plan's scan
    * carries `PushedAggregates` and row-less readers). Spark merges the
    * per-page partials (partial pushdown), so the result is exact.
    */
  val restPushedAgg: Q = (s, _) =>
    ticks(s)
      .filter(col("tick_id") >= 1000L && col("tick_id") < 9000L)
      .agg(count(lit(1)).as("n_ticks"),
        min(col("tick_id")).as("min_id"), max(col("tick_id")).as("max_id"),
        min(col("ts")).as("first_ts"), max(col("ts")).as("last_ts"))

  val restPushedAggSql: String =
    """SELECT count(*) AS n_ticks,
      |       min(i) AS min_id, max(i) AS max_id,
      |       make_timestamp(CAST(1704067200000000 AS BIGINT) + min(i) * 1000000) AS first_ts,
      |       make_timestamp(CAST(1704067200000000 AS BIGINT) + max(i) * 1000000) AS last_ts
      |FROM range(1000, 9000) t(i)""".stripMargin

  /** LIMIT pushdown composed with filter pushdown: the source clips its id
    * range to `[lo, lo+limit)` — pagination stops after `limit` rows — so
    * the scan emits exactly the first 100 ids past the pushed bound and
    * the global limit is a no-op on an already-limited feed. Deterministic
    * because the log is id-ordered: "first 100" IS ids 1000..1099.
    */
  val restLimitPush: Q = (s, _) =>
    ticks(s)
      .filter(col("tick_id") >= 1000L)
      .limit(100)
      .select(col("tick_id"), col("symbol"), col("price"))
      .orderBy(col("tick_id"))

  val restLimitPushSql: String =
    """SELECT i AS tick_id,
      |       CASE i % 3 WHEN 0 THEN 'EURUSD' WHEN 1 THEN 'GBPUSD'
      |            ELSE 'USDJPY' END AS symbol,
      |       1.0 + CAST((i * 7919) % 10000 AS DOUBLE) / 10000.0 AS price
      |FROM range(1000, 1100) t(i)
      |ORDER BY tick_id""".stripMargin

  /** Runtime-filtered join (`SupportsRuntimeFiltering`): the build side —
    * high-value order keys, known only after ITS scan runs — reaches the
    * tick scan as an In-filter at RUN time, narrowing the id range and
    * skipping pages none of the keys fall into (the DSv2 dynamic-pruning
    * contract; compile-time pushdown can't see these keys). Join semantics
    * are engine-enforced either way — runtime filtering only prunes — so
    * the oracle is the plain join recomputed in DuckDB.
    */
  val restRuntimeFilter: Q = (s, dir) => {
    val keys = graft.Tables.orders(s, dir)
      .filter(col("o_totalprice") > 400000.0)
      .select(col("o_orderkey"))
    ticks(s).join(keys, col("tick_id") === col("o_orderkey"))
      .groupBy(col("symbol"))
      .agg(count(lit(1)).as("n_ticks"),
        graft.Parity.pround(
          sum(col("price").cast(DecimalType(30, 10))).cast("double"), 6)
          .as("sum_price"))
      .orderBy(col("symbol"))
  }

  val restRuntimeFilterSql: String =
    """WITH t AS (
      |  SELECT i AS tick_id,
      |         CASE i % 3 WHEN 0 THEN 'EURUSD' WHEN 1 THEN 'GBPUSD'
      |              ELSE 'USDJPY' END AS symbol,
      |         1.0 + CAST((i * 7919) % 10000 AS DOUBLE) / 10000.0 AS price
      |  FROM range(0, 10000) r(i)),
      |k AS (SELECT o_orderkey FROM orders WHERE o_totalprice > 400000.0)
      |SELECT symbol, count(*) AS n_ticks,
      |       floor(CAST(sum(CAST(price AS DECIMAL(30,10))) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS sum_price
      |FROM t JOIN k ON tick_id = o_orderkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  private val sinkReadSchema = StructType(Seq(
    StructField("tick_id", LongType),
    StructField("page", LongType), // int on the wire; widened on read
    StructField("ts_us", LongType),
    StructField("symbol", StringType),
    StructField("price", DoubleType)))

  /** BATCH write through the custom DSv2 SINK ([[graft.sources.GraftSink]]
    * — staged-file two-phase commit, SaveMode.Overwrite as truncate inside
    * the job commit), then read the COMMITTED files back and slice. The
    * hash gate proves the full loop: distributed source → distributed
    * staged writers → driver rename commit → schema-supplied read returns
    * exactly the contract rows. Timestamps travel as µs longs (the sink's
    * format contract) and come back via `timestamp_micros`.
    */
  val dsv2SinkRoundtrip: Q = (s, _) => {
    val target = StoreQueries.scratchPath(s, s"graft_store/dsv2_sink")
    ticks(s)
      .select(col("tick_id"), col("page"), unix_micros(col("ts")).as("ts_us"),
        col("symbol"), col("price"))
      .write.format("graft-sink").mode("overwrite").save(target)
    s.read.schema(sinkReadSchema)
      .option("pathGlobFilter", "part-*.csv").csv(target)
      .filter(col("tick_id") < 500L)
      .select(col("tick_id"), col("page"),
        timestamp_micros(col("ts_us")).as("ts"), col("symbol"), col("price"))
      .orderBy(col("tick_id"))
  }

  val dsv2SinkRoundtripSql: String =
    """SELECT i AS tick_id,
      |       i // 1250 AS page,
      |       make_timestamp(CAST(1704067200000000 AS BIGINT) + i * 1000000) AS ts,
      |       CASE i % 3 WHEN 0 THEN 'EURUSD' WHEN 1 THEN 'GBPUSD'
      |            ELSE 'USDJPY' END AS symbol,
      |       1.0 + CAST((i * 7919) % 10000 AS DOUBLE) / 10000.0 AS price
      |FROM range(0, 500) t(i)
      |ORDER BY tick_id""".stripMargin

  /** The connector's own READ path closes the loop: write through the
    * DSv2 sink, read back with `spark.read.format("graft-sink")` — no
    * schema supplied, no manual CSV glob. Inference comes from the
    * `_schema.json` the commit persisted; the scan lists exactly the
    * committed final names (staged files live under `_staging-*` subdirs
    * and can never leak in); the readers invert the writers' wire format
    * cell by cell (timestamps as raw µs longs, "" = NULL). A user of the
    * connector can now round-trip a table without knowing its layout.
    */
  val dsv2SinkReadback: Q = (s, _) => {
    val target = StoreQueries.scratchPath(s, s"graft_store/dsv2_sink_readback")
    ticks(s)
      .filter(col("tick_id") < 2000L)
      .select(col("tick_id"), col("page"), unix_micros(col("ts")).as("ts_us"),
        col("symbol"), col("price"))
      .write.format("graft-sink").mode("overwrite").save(target)
    s.read.format("graft-sink").load(target)
      .select(col("tick_id"), col("page"),
        timestamp_micros(col("ts_us")).as("ts"), col("symbol"), col("price"))
      .orderBy(col("tick_id"))
  }

  val dsv2SinkReadbackSql: String =
    """SELECT i AS tick_id,
      |       i // 1250 AS page,
      |       make_timestamp(CAST(1704067200000000 AS BIGINT) + i * 1000000) AS ts,
      |       CASE i % 3 WHEN 0 THEN 'EURUSD' WHEN 1 THEN 'GBPUSD'
      |            ELSE 'USDJPY' END AS symbol,
      |       1.0 + CAST((i * 7919) % 10000 AS DOUBLE) / 10000.0 AS price
      |FROM range(0, 2000) t(i)
      |ORDER BY tick_id""".stripMargin

  /** STREAMING write through the sink: the rate-limited `graft-ticks`
    * stream (4 micro-batches under AvailableNow) lands as per-epoch
    * committed files — `StreamingWrite.commit(epochId)` renames each
    * epoch's staged set onto epoch-deterministic final names, so a
    * replayed epoch commit is idempotent. The read-back aggregate over ALL
    * epochs must equal the one-shot batch arithmetic — the same oracle as
    * the streaming READ — proving the four epoch commits tile the feed
    * with no loss and no duplication.
    */
  val streamDsv2Sink: Q = (s, _) => {
    val target = StoreQueries.scratchPath(s, s"graft_store/dsv2_sink_stream")
    val (fs, root) = {
      val p = new org.apache.hadoop.fs.Path(target)
      (p.getFileSystem(s.sparkContext.hadoopConfiguration), p)
    }
    fs.delete(root, true)
    val ckpt = StoreQueries.scratchPath(s, s"graft_store/dsv2_sink_stream_ckpt")
    fs.delete(new org.apache.hadoop.fs.Path(ckpt), true)
    PipelineQueries.awaitBounded(s, "stream_dsv2_sink") {
      s.readStream.format("graft-ticks")
        .option("rows", "10000").option("pages", "8")
        .option("maxTicksPerTrigger", "3000").load()
        .select(col("tick_id"), col("page"), unix_micros(col("ts")).as("ts_us"),
          col("symbol"), col("price"))
        .writeStream.format("graft-sink")
        .option("path", target).option("checkpointLocation", ckpt)
    }
    s.read.schema(sinkReadSchema)
      .option("pathGlobFilter", "epoch-*.csv").csv(target)
      .groupBy(col("symbol"))
      .agg(count(lit(1)).as("n_ticks"),
        graft.Parity.pround(
          sum(col("price").cast(DecimalType(30, 10))).cast("double"), 6)
          .as("sum_price"))
      .orderBy(col("symbol"))
  }

  val queries: Map[String, Q] = Map(
    "stream_rest_source" -> streamRestSource,
    "stream_rest_ohlc" -> streamRestOhlc,
    "csv_roundtrip" -> csvRoundtrip,
    "json_roundtrip" -> jsonRoundtrip,
    "orc_roundtrip" -> orcRoundtrip,
    "rest_ticks_rows" -> restTicksRows,
    "rest_meta_cols" -> restMetaCols,
    "rest_source_agg" -> restSourceAgg,
    "rest_pushed_agg" -> restPushedAgg,
    "rest_limit_push" -> restLimitPush,
    "rest_runtime_filter" -> restRuntimeFilter,
    "dsv2_sink_roundtrip" -> dsv2SinkRoundtrip,
    "dsv2_sink_readback" -> dsv2SinkReadback,
    "stream_dsv2_sink" -> streamDsv2Sink)

  val oracleSql: Map[String, String] = Map(
    "stream_rest_source" -> streamRestSourceSql,
    "stream_rest_ohlc" -> streamRestOhlcSql,
    "csv_roundtrip" -> roundtripSql,
    "json_roundtrip" -> roundtripSql,
    "orc_roundtrip" -> roundtripSql,
    "rest_ticks_rows" -> restTicksRowsSql,
    "rest_meta_cols" -> restMetaColsSql,
    "rest_source_agg" -> restSourceAggSql,
    "rest_pushed_agg" -> restPushedAggSql,
    "rest_limit_push" -> restLimitPushSql,
    "rest_runtime_filter" -> restRuntimeFilterSql,
    "dsv2_sink_roundtrip" -> dsv2SinkRoundtripSql,
    "dsv2_sink_readback" -> dsv2SinkReadbackSql,
    "stream_dsv2_sink" -> streamRestSourceSql) // same tiling arithmetic as the read
}
