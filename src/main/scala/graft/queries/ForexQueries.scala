package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.forex.{Dedup, ForexPipeline, Indicators, IndicatorsChunked, Ohlc, Resample, TechIndicators}

/** Driver-contract queries covering the reference pipeline (SURVEY §2),
  * each with a DuckDB oracle over the same parquet tables.
  *
  * Oracle-parity rules (SURVEY §7.4/§7.5):
  *  - events.ts is dual-schema at the Bronze boundary (ns-long or µs
  *    timestamp — see Tables.scala's contract): Spark normalizes to µs
  *    TimestampType, DuckDB `CAST(ts AS TIMESTAMP)` lands on the same µs
  *    value for every supported layout (ns→µs truncation for positive
  *    epochs, identity for µs);
  *  - every aggregate/computed column is aliased to the same name on both
  *    sides (driver sorts columns by name before hashing);
  *  - every output has a total ORDER BY on both sides;
  *  - float aggregates whose summation order is engine-dependent are rounded
  *    identically on both sides.
  */
object ForexQueries {

  type Q = (SparkSession, String) => DataFrame

  private val OneHour = Resample.byName("1h")

  /** `df` sorted by the key, then `cols`. */
  private[queries] def ordered(df: DataFrame, key: Seq[String], cols: String*): DataFrame =
    df.orderBy((key ++ cols).map(col): _*)

  /** Ticks → 1h candles of every series under `key`. */
  private[queries] def candles1h(s: SparkSession, dir: String, key: Seq[String]): DataFrame =
    Ohlc.candles(Resample.fanout(ForexPipeline.silverFrom(s, dir, key), Seq(OneHour), key), key)

  /** The (key…, candle_start, close_price) columns of `candles`. */
  private def closes(candles: DataFrame, key: Seq[String]): DataFrame =
    candles.select((key :+ "candle_start" :+ "close_price").map(col): _*)

  /** The single series' 1h candles as a SHARED fixture: eleven indicator
    * queries (the chunked family, ewma/rsi/macd/bollinger, both enrich
    * forms) consume exactly this table, and each was re-running the silver
    * scan + dedup window + candle aggregate to get it. One (JVM, dir)
    * build, one parquet write, per-consumer column-pruned scans — the
    * derived-table discipline the PCA/KLL families already follow.
    * Timestamps (µs) and doubles round-trip parquet bit-exactly, so every
    * consumer's values are unchanged.
    */
  private[queries] def candles1hShared(s: SparkSession, dir: String): DataFrame =
    graft.Scratch.fixture(s, s"candles-1h|$dir")(candles1h(s, dir, Nil))

  /** A series layout: its key (`Nil` for the one series the reference
    * runs, ForexPipeline.SymbolKey for a table of instruments) and where its
    * 1h candles come from. Each layout keeps the input its queries have
    * always read: the single series reads the shared fixture, the keyed
    * table builds its candles inline.
    */
  final case class Series(key: Seq[String], candles1h: Q) {
    def closes1h(s: SparkSession, dir: String): DataFrame = closes(candles1h(s, dir), key)
  }
  val Single: Series = Series(Nil, candles1hShared)
  val Keyed: Series = Series(ForexPipeline.SymbolKey,
    (s, dir) => candles1h(s, dir, ForexPipeline.SymbolKey))

  // ---------------------------------------------------------------- queries

  /** Silver model: typed projection + keyed dedup (P1, D2, W1). */
  val stgTicks: Q = (s, dir) =>
    ForexPipeline.silverFrom(s, dir).orderBy(col("observed_at"))

  val stgTicksSql: String =
    s"""WITH ${ForexSql.silver(Nil)}
       |SELECT * FROM silver ORDER BY observed_at""".stripMargin

  /** Flagship: full gold model — fan-out, OHLC, indicators, md5 id
    * (T1–T6, A1–A5, W2–W4, §2.9) — for every series under `key`.
    */
  def fctTimeframesOf(key: Seq[String]): Q = (s, dir) =>
    ordered(ForexPipeline.goldFrom(s, dir, key), key, "timeframe", "candle_start")

  /** The single series' gold, the query `SparkEntry.entry` runs. */
  val fctTimeframes: Q = fctTimeframesOf(Nil)

  def fctTimeframesSql(key: Seq[String]): String =
    s"""WITH ${ForexSql.gold(key, Resample.timeframes)}
       |SELECT * FROM gold ORDER BY ${ForexSql.by(key, "timeframe", "candle_start")}""".stripMargin

  /** Single-timeframe OHLC aggregate (A1–A5 in isolation). */
  val ohlc1h: Q = (s, dir) => candles1h(s, dir, Nil).orderBy(col("candle_start"))

  /** The 1h candles of every series under `key`: the oracle of the batch
    * and streaming candle queries.
    */
  def ohlc1hSql(key: Seq[String]): String =
    s"""WITH ${ForexSql.candles(key, Seq(OneHour))}
       |SELECT * FROM candles ORDER BY ${ForexSql.by(key, "candle_start")}""".stripMargin

  /** EWMA over 1h candle closes, one recurrence per series
    * (TechIndicators.ewma).
    */
  def ewma(sr: Series): Q = (s, dir) =>
    ordered(TechIndicators.ewma(sr.closes1h(s, dir), sr.key), sr.key, "candle_start")

  def ewmaSql(key: Seq[String]): String =
    s"""WITH ${ForexSql.closes1h(key)},
       |pre AS (
       |  SELECT *, list(close_price) OVER (${ForexSql.window(key)} ROWS UNBOUNDED PRECEDING) AS px
       |  FROM c)
       |SELECT ${ForexSql.by(key, "candle_start", "close_price")},
       |       ${graft.Parity.proundSql("list_reduce(px, (acc, x) -> 0.2 * x + 0.8 * acc)", 6)} AS ewma
       |FROM pre ORDER BY ${ForexSql.by(key, "candle_start")}""".stripMargin

  /** Fused single-buffer OHLC via the custom OhlcAgg DeclarativeAggregate —
    * same semantics and SAME ORACLE as ohlc_1h, different physical
    * aggregation (one buffer instead of four aggregate functions).
    */
  val ohlc1hFused: Q = (s, dir) => {
    val fanned = Resample.fanout(ForexPipeline.silverFrom(s, dir), Seq(OneHour))
    fanned.groupBy(col("timeframe"), col("candle_start"))
      .agg(graft.functions.OhlcAggregate.ohlc(
        col("observed_at"), col("open_price"), col("high_price"),
        col("low_price"), col("close_price")).as("c"))
      .select(col("timeframe"), col("candle_start"), col("c.open_price"),
        col("c.high_price"), col("c.low_price"), col("c.close_price"),
        col("c.ticks_5m_count"))
      .orderBy(col("candle_start"))
  }

  /** All 7 bucket expressions side-by-side (T2–T5 in isolation). */
  val resampleBuckets: Q = (s, dir) => {
    val silver = ForexPipeline.silverFrom(s, dir)
    val cols = col("observed_at") +: Resample.timeframes.map(tf =>
      Resample.bucket(col("observed_at"), tf).as(s"b_${tf.name}"))
    silver.select(cols: _*).orderBy(col("observed_at"))
  }

  val resampleBucketsSql: String = {
    val bucketCols = Resample.timeframes
      .map(tf => s"${ForexSql.bucket("observed_at", tf)} AS b_${tf.name}")
      .mkString(",\n       ")
    s"""WITH ${ForexSql.silver(Nil)}
       |SELECT observed_at,
       |       $bucketCols
       |FROM silver ORDER BY observed_at""".stripMargin
  }

  /** Indicator stage in isolation over 1h candles (W2–W4). */
  def indicators(sr: Series): Q = (s, dir) =>
    ordered(Indicators.enrich(sr.candles1h(s, dir), sr.key), sr.key, "candle_start")

  def indicatorsSql(key: Seq[String]): String =
    s"""WITH ${ForexSql.gold(key, Seq(OneHour))}
       |SELECT * FROM gold ORDER BY ${ForexSql.by(key, "candle_start")}""".stripMargin

  /** Indicator stage through the chunked scale-out path (bounded chunks +
    * ≤50-row carry-in, parallelism = #chunks instead of #timeframes) —
    * SAME ORACLE as indicators_1h: the physical strategy must not change
    * a bit.
    */
  val indicators1hChunked: Q = (s, dir) =>
    IndicatorsChunked.enrich(candles1hShared(s, dir), candlesPerChunk = 64)
      .orderBy(col("candle_start"))

  /** D1: exact whole-row dedup over raw events. */
  val dedupExactRows: Q = (s, dir) =>
    Dedup.exactRows(Tables.events(s, dir)
        .select(col("event_id"), col("ts").as("observed_at"), col("user_id"),
          col("event_type"), col("value"), col("props")))
      .orderBy(col("event_id"))

  val dedupExactRowsSql: String =
    """SELECT DISTINCT event_id, CAST(ts AS TIMESTAMP) AS observed_at, user_id,
      |       event_type, value, props
      |FROM events ORDER BY event_id""".stripMargin

  /** P3: high-watermark predicate — keep ticks newer than max(observed_at)−7d.
    * The watermark scalar is computed driver-side (one-row agg collect), the
    * filter then pushes down to the parquet scan (SURVEY §4 row 4).
    */
  val watermarkFilter: Q = (s, dir) => {
    val silver = ForexPipeline.silverFrom(s, dir)
    val wmRow = silver.agg(max(col("observed_at"))).first()
    val wm = wmRow.getTimestamp(0)
    val cutoff = new java.sql.Timestamp(wm.getTime - 7L * 86400000L)
    silver.filter(col("observed_at") > lit(cutoff)).orderBy(col("observed_at"))
  }

  val watermarkFilterSql: String =
    s"""WITH ${ForexSql.silver(Nil)}
       |SELECT * FROM silver
       |WHERE observed_at > (SELECT max(observed_at) - INTERVAL 7 DAY FROM silver)
       |ORDER BY observed_at""".stripMargin

  /** T6 shape check: fan-out multiplies rows by 7, tagged per timeframe. */
  val unionFanout: Q = (s, dir) =>
    Resample.fanout(ForexPipeline.silverFrom(s, dir))
      .groupBy(col("timeframe"))
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("candle_start")).as("n_candles"))
      .orderBy(col("timeframe"))

  val unionFanoutSql: String =
    s"""WITH ${ForexSql.candles(Nil, Resample.timeframes)}
       |SELECT timeframe, count(*) AS n_rows,
       |       count(DISTINCT candle_start) AS n_candles
       |FROM fanned GROUP BY 1 ORDER BY timeframe""".stripMargin

  /** Hierarchical candle re-aggregation (Ohlc.rollupCandles): 4h/12h/24h
    * candles derived from 1h candles, never re-reading ticks. The oracle is
    * the DIRECT tick aggregation for those timeframes — rollup must be
    * indistinguishable from recompute, which is what licenses a candle
    * store to build coarse series from the finest persisted one at scale.
    */
  val candlesRollup: Q = (s, dir) => {
    Ohlc.rollupCandles(candles1h(s, dir, Nil),
        Seq(Resample.byName("4h"), Resample.byName("12h"), Resample.byName("24h")))
      .orderBy(col("timeframe"), col("candle_start"))
  }

  val candlesRollupSql: String =
    s"""WITH ${ForexSql.candles(Nil, Resample.timeframes)}
       |SELECT timeframe, candle_start, open_price, high_price, low_price,
       |       close_price, ticks_5m_count
       |FROM candles
       |WHERE timeframe IN ('4h', '12h', '24h')
       |ORDER BY timeframe, candle_start""".stripMargin

  /** Calendar densification + forward fill (TechIndicators.gapFill) of
    * each series' 1h closes, thinned deterministically first (drop hours
    * ≡ 3 mod 5 — real feeds drop ticks, the testdata doesn't). The
    * standard time-series gap-repair operator: grid generation is one row
    * per missing slot (never a cross join), the fill is one ordered window
    * per series.
    */
  def gapFill(key: Seq[String]): Q = (s, dir) => {
    val thinned = closes(candles1h(s, dir, key), key)
      .filter(expr("(unix_micros(candle_start) DIV 3600000000L) % 5 != 3"))
    ordered(TechIndicators.gapFill(thinned, key), key, "candle_start")
  }

  def gapFillSql(key: Seq[String]): String =
    s"""WITH ${ForexSql.closes1h(key)},
       |cf AS (
       |  SELECT * FROM c
       |  WHERE (epoch_us(candle_start) // 3600000000) % 5 != 3),
       |spans AS (
       |  SELECT ${ForexSql.by(key, "min(candle_start) AS lo")}, max(candle_start) AS hi
       |  FROM cf GROUP BY ALL),
       |grid AS (
       |  SELECT ${ForexSql.by(key, "unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS candle_start")}
       |  FROM spans),
       |j AS (
       |  SELECT grid.*, cf.close_price
       |  FROM grid LEFT JOIN cf USING (${ForexSql.by(key, "candle_start")}))
       |SELECT ${ForexSql.by(key, "candle_start")},
       |       last_value(close_price IGNORE NULLS) OVER (${ForexSql.window(key)}
       |         ROWS UNBOUNDED PRECEDING) AS close_filled,
       |       CAST(close_price IS NULL AS BIGINT) AS is_filled
       |FROM j ORDER BY ${ForexSql.by(key, "candle_start")}""".stripMargin

  /** Unpivot/melt: wide OHLC candles to long (candle_start, field, value)
    * form — the feature-table shape ML pipelines join on. Same single-scan
    * explode-of-structs as Resample.fanout (Spark's `stack` plans the same
    * Generate); per-row work only, no shuffle before the output sort.
    */
  val candlesUnpivot: Q = (s, dir) =>
    candles1h(s, dir, Nil)
      .select(col("candle_start"), explode(array(
        struct(lit("open").as("field"), col("open_price").as("value")),
        struct(lit("high").as("field"), col("high_price").as("value")),
        struct(lit("low").as("field"), col("low_price").as("value")),
        struct(lit("close").as("field"), col("close_price").as("value")))).as("fv"))
      .select(col("candle_start"), col("fv.field").as("field"), col("fv.value").as("value"))
      .orderBy(col("candle_start"), col("field"))

  val candlesUnpivotSql: String =
    s"""WITH ${ForexSql.candles(Nil, Seq(OneHour))}
       |SELECT candle_start, 'open' AS field, open_price AS value FROM candles
       |UNION ALL SELECT candle_start, 'high', high_price FROM candles
       |UNION ALL SELECT candle_start, 'low', low_price FROM candles
       |UNION ALL SELECT candle_start, 'close', close_price FROM candles
       |ORDER BY candle_start, field""".stripMargin

  // ------------------------------------------------------------- registry

  val queries: Map[String, Q] = Map(
    "candles_rollup" -> candlesRollup,
    "gap_fill" -> gapFill(Nil),
    "candles_unpivot" -> candlesUnpivot,
    "stg_ticks" -> stgTicks,
    "fct_timeframes" -> fctTimeframes,
    "ohlc_1h" -> ohlc1h,
    "ewma_1h" -> ewma(Single),
    "ohlc_1h_fused" -> ohlc1hFused,
    "resample_buckets" -> resampleBuckets,
    "indicators_1h" -> indicators(Single),
    "indicators_1h_chunked" -> indicators1hChunked,
    "dedup_exact_rows" -> dedupExactRows,
    "watermark_filter" -> watermarkFilter,
    "union_fanout" -> unionFanout)

  val oracleSql: Map[String, String] = Map(
    "candles_rollup" -> candlesRollupSql, // rollup-from-1h vs direct-from-ticks
    "gap_fill" -> gapFillSql(Nil),
    "candles_unpivot" -> candlesUnpivotSql,
    "stg_ticks" -> stgTicksSql,
    "fct_timeframes" -> fctTimeframesSql(Nil),
    "ohlc_1h" -> ohlc1hSql(Nil),
    "ewma_1h" -> ewmaSql(Nil),
    "ohlc_1h_fused" -> ohlc1hSql(Nil), // same semantics, custom aggregate physical op
    "resample_buckets" -> resampleBucketsSql,
    "indicators_1h" -> indicatorsSql(Nil),
    "indicators_1h_chunked" -> indicatorsSql(Nil), // same semantics, chunked plan
    "dedup_exact_rows" -> dedupExactRowsSql,
    "watermark_filter" -> watermarkFilterSql,
    "union_fanout" -> unionFanoutSql)
}
