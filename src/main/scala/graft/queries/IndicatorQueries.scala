package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.forex.TechIndicators

/** Advanced indicator queries (Bollinger, RSI, MACD) over 1h candles, each
  * with a DuckDB oracle. All indicator math is sequential-fold deterministic
  * (see TechIndicators scaladoc); the oracle lambdas are written with the
  * SAME literal arithmetic as the Spark-side fold lambdas so both engines
  * produce bit-identical doubles before the shared pround.
  */
object IndicatorQueries {

  type Q = (SparkSession, String) => DataFrame

  import ForexQueries.{Series, Single, ordered}
  import ForexSql.{by, window}

  /** One 64-candle chunk in µs: the grid every chunked scan here splits on. */
  private val ChunkUs = 3600000000L * 64

  /** Most distinct 64-candle chunks in any one series of `closes`, once per
    * (JVM, dir, key) — two roles (ADVICE r13 #4 + VERDICT r13 next-round #4):
    *
    *  - GUARD: the chunked oracles below mirror MonoidScan's FLAT base
    *    case, exact only while every series has ≤64 chunks. Beyond that
    *    the engine switches to the documented fanout-64 hierarchical
    *    association (different ulp-level roundings, deterministic in the
    *    data) — so a longer-history run fails HERE, naming the
    *    association change, instead of surfacing as a bare hash mismatch.
    *  - HINT: the verified count rides into the scan as `maxChunksHint`,
    *    replacing the per-scan totals scratch write + per-level driver
    *    count actions with zero extra jobs (the macd_chunked small-scale
    *    tax — two scans paid the round-trip twice on a 12-row relation).
    */
  // Same single-immutable-dataset-per-dir assumption as Scratch.fixture
  // (see its STALENESS CONTRACT): a longer history regenerated IN PLACE at
  // a dir this JVM already counted would reuse the stale ≤64 count and
  // bypass the >64 guard (values stay correct — flat matches the oracle —
  // but the documented memory bound and fail-fast are defeated). Mutable
  // sources need a generation stamp in the key, exactly like the fixture
  // registry (ADVICE r14).
  private val chunkCounts =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private def chunksChecked(dir: String, key: Seq[String], closes: DataFrame): Long = {
    val n: Long = chunkCounts.computeIfAbsent(s"$dir|${key.mkString(",")}", _ => {
      val r = closes
        .select(key.map(col) :+ expr(s"unix_micros(candle_start) DIV ${ChunkUs}L").as("ck"): _*)
        .distinct().groupBy(key.map(col): _*).count()
        .agg(max(col("count"))).head()
      if (r.isNullAt(0)) 0L else r.getLong(0)
    })
    if (n > 64)
      throw new IllegalStateException(
        s"chunked-indicator oracle depth exceeded: $n chunks > fanout 64 in " +
          "one series. The DuckDB oracles mirror MonoidScan's flat base " +
          "case; at this history length the engine takes the fanout-64 " +
          "hierarchical association (documented in TechIndicators/MonoidScan " +
          "scaladoc) whose ulp-level roundings differ — the oracle needs one " +
          "more CTE level per 64x of history (affineScanSql association note)")
    n
  }

  /** A chunked scan over the 1h closes of `sr`, handed their verified
    * chunk count as its `maxChunksHint`.
    */
  private def chunked(sr: Series)(scan: (DataFrame, Option[Long]) => DataFrame): Q =
    (s, dir) => {
      val closes = sr.closes1h(s, dir)
      ordered(scan(closes, Some(chunksChecked(dir, sr.key, closes))), sr.key, "candle_start")
    }

  /** The indicator output columns every oracle here selects. */
  private def out(key: Seq[String]): String = by(key, "candle_start", "close_price")

  // ------------------------------------------------------------- Bollinger

  def bollinger(sr: Series): Q = (s, dir) =>
    ordered(TechIndicators.bollinger(sr.closes1h(s, dir), keyCols = sr.key),
      sr.key, "candle_start")

  def bollingerSql(key: Seq[String]): String =
    s"""WITH ${ForexSql.closes1h(key)},
       |p AS (
       |  SELECT *, list(close_price) OVER (${window(key)}
       |           ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS px
       |  FROM c),
       |m AS (
       |  SELECT *, list_reduce(px, (acc, x) -> acc + x) / CAST(len(px) AS DOUBLE) AS bb_mid
       |  FROM p),
       |sd AS (
       |  SELECT *,
       |         sqrt(list_reduce(list_transform(px, x -> (x - bb_mid) * (x - bb_mid)),
       |                          (acc, x) -> acc + x) / CAST(len(px) AS DOUBLE)) AS bb_sd
       |  FROM m)
       |SELECT ${out(key)},
       |       ${graft.Parity.proundSql("bb_mid", 6)} AS bb_mid,
       |       ${graft.Parity.proundSql("bb_mid + 2.0 * bb_sd", 6)} AS bb_upper,
       |       ${graft.Parity.proundSql("bb_mid - 2.0 * bb_sd", 6)} AS bb_lower
       |FROM sd ORDER BY ${by(key, "candle_start")}""".stripMargin

  /** Bollinger through the chunk-parallel frame assembly (bounded
    * ≤19-row carry-in) — SAME ORACLE as bollinger_1h: frame lists are
    * identical, so the physical strategy must not change a bit.
    */
  val bollingerChunked: Q = (s, dir) =>
    TechIndicators.bollingerChunked(Single.closes1h(s, dir)).orderBy(col("candle_start"))

  // ------------------------------------------------------------------ RSI

  def rsi(sr: Series): Q = (s, dir) =>
    ordered(TechIndicators.rsi(sr.closes1h(s, dir), keyCols = sr.key),
      sr.key, "candle_start")

  /** CTEs `d` (close diff) and `g` (gain, loss; first row dropped) over the
    * 1h closes `c`: the Wilder inputs of both RSI oracles.
    */
  private def gainsSql(key: Seq[String]): String =
    s"""d AS (
       |  SELECT *, close_price - lag(close_price) OVER (${window(key)}) AS diff
       |  FROM c),
       |g AS (
       |  SELECT *, greatest(diff, 0.0) AS gain, greatest(0.0 - diff, 0.0) AS loss
       |  FROM d WHERE diff IS NOT NULL)""".stripMargin

  private val rsiSelect: String = graft.Parity.proundSql(
    "CASE WHEN avg_loss = 0.0 THEN 100.0 " +
      "ELSE 100.0 - 100.0 / (1.0 + avg_gain / avg_loss) END", 6) + " AS rsi_14"

  def rsiSql(key: Seq[String]): String =
    s"""WITH ${ForexSql.closes1h(key)},
       |${gainsSql(key)},
       |p AS (
       |  SELECT *, list(gain) OVER pw AS gl, list(loss) OVER pw AS ll
       |  FROM g WINDOW pw AS (${window(key)} ROWS UNBOUNDED PRECEDING)),
       |a AS (
       |  SELECT *,
       |         list_reduce(gl, (acc, x) -> (acc * 13.0 + x) / 14.0) AS avg_gain,
       |         list_reduce(ll, (acc, x) -> (acc * 13.0 + x) / 14.0) AS avg_loss
       |  FROM p)
       |SELECT ${out(key)}, $rsiSelect
       |FROM a ORDER BY ${by(key, "candle_start")}""".stripMargin

  // ----------------------------------------------------------------- MACD

  def macd(sr: Series): Q = (s, dir) =>
    ordered(TechIndicators.macd(sr.closes1h(s, dir), keyCols = sr.key),
      sr.key, "candle_start")

  def macdSql(key: Seq[String]): String =
    s"""WITH ${ForexSql.closes1h(key)},
       |p AS (
       |  SELECT *, list(close_price) OVER (${window(key)} ROWS UNBOUNDED PRECEDING) AS px
       |  FROM c),
       |m AS (
       |  SELECT *,
       |         list_reduce(px, (acc, x) -> acc + (2.0 / 13.0) * (x - acc))
       |         - list_reduce(px, (acc, x) -> acc + (2.0 / 27.0) * (x - acc)) AS macd
       |  FROM p),
       |ms AS (
       |  SELECT *, list(macd) OVER (${window(key)} ROWS UNBOUNDED PRECEDING) AS ml
       |  FROM m),
       |sg AS (
       |  SELECT *, list_reduce(ml, (acc, x) -> acc + (2.0 / 10.0) * (x - acc)) AS signal
       |  FROM ms)
       |SELECT ${out(key)},
       |       ${graft.Parity.proundSql("macd", 6)} AS macd,
       |       ${graft.Parity.proundSql("signal", 6)} AS macd_signal,
       |       ${graft.Parity.proundSql("macd - signal", 6)} AS macd_hist
       |FROM sg ORDER BY ${by(key, "candle_start")}""".stripMargin

  // --------------------------------------------------- chunk-parallel EWMA

  /** EWMA through the chunk-parallel affine scan; chunking composes with
    * the key (the whale-symbol case: one instrument's series splits into
    * time chunks WITHIN its partition, so no task ever sees a whole series).
    */
  def ewmaChunked(sr: Series): Q = chunked(sr)((c, hint) =>
    TechIndicators.ewmaChunked(c, keyCols = sr.key, maxChunksHint = hint))

  /** Oracle in the SAME chunked association as the engine (see
    * TechIndicators.ewmaChunked scaladoc).
    */
  def ewmaChunkedSql(key: Seq[String]): String = {
    val (a, b) = ("CAST(4 AS DOUBLE) / CAST(5 AS DOUBLE)", "CAST(1 AS DOUBLE) / CAST(5 AS DOUBLE)")
    s"""WITH ${ForexSql.closes1h(key)},
       |${affineScanSql(key, "ewma", "c", "close_price", Nil, a, b)}
       |SELECT ${out(key)}, ${graft.Parity.proundSql("ewma", 6)} AS ewma
       |FROM ewma_res ORDER BY ${by(key, "candle_start")}""".stripMargin
  }

  /** DuckDB mirror of TechIndicators.affineScan as a name-prefixed CTE
    * chain over `src` (must have the key, `candle_start` and `valCol`;
    * `extraCols` are carried through), one scan per series of `key`.
    * Exposes `<p>_res` with column `<p>` = the scan value. Literal
    * arithmetic mirrors the Spark lambdas exactly; a and b arrive as SQL
    * expressions — callers pass exact-integer-ratio CASTs (e.g.
    * CAST(13 AS DOUBLE) / CAST(14 AS DOUBLE)), never 17-digit decimal
    * literals: DuckDB types a bare long literal DECIMAL first, and the
    * decimal→double hop can double-round 1 ulp off Spark's direct double
    * parse (ADVICE r4). The Scala side computes the same ratio in doubles,
    * so both engines perform the identical IEEE division.
    *
    * Association note (r13): the `_pv`/`_si` CTEs emit the flat seeded
    * fold over chunk totals — exactly MonoidScan's BASE case, which the
    * engine takes whenever a series has ≤64 chunks (true of the 12-chunk
    * sf0.01/sf0.1 grids this oracle runs on). Beyond 64 chunks the engine
    * switches to the fanout-64 hierarchy (different ulp-level roundings,
    * deterministic in the data); mirroring that would add one more level
    * of this same CTE pattern per 64× of history.
    */
  private def affineScanSql(key: Seq[String], p: String, src: String,
      valCol: String, extraCols: Seq[String], aSql: String, bSql: String): String = {
    val kc = by(key, "chunk_id")
    s"""${p}_ck AS (
       |  SELECT ${by(key ++ extraCols, "candle_start", valCol)},
       |         epoch_us(candle_start) // $ChunkUs AS chunk_id
       |  FROM $src),
       |${p}_p AS (
       |  SELECT *, list($valCol) OVER (${window(key :+ "chunk_id")}
       |    ROWS UNBOUNDED PRECEDING) AS px
       |  FROM ${p}_ck),
       |${p}_ab AS (
       |  SELECT * EXCLUDE (px),
       |         list_reduce(
       |           list_transform(px, x -> {'a': ($aSql), 'b': ($bSql) * x}),
       |           (acc, f) -> {'a': f.a * acc.a, 'b': f.a * acc.b + f.b}) AS abf
       |  FROM ${p}_p),
       |${p}_last AS (SELECT $kc, arg_max(abf, candle_start) AS tot FROM ${p}_ab GROUP BY ALL),
       |${p}_first AS (
       |  SELECT ${by(key, s"arg_min($valCol, candle_start) AS x0")} FROM $src GROUP BY ALL),
       |${p}_pv AS (
       |  SELECT $kc,
       |         coalesce(list(tot) OVER (${window(key, "chunk_id")}
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), []) AS prev
       |  FROM ${p}_last),
       |${p}_si AS (
       |  SELECT ${key.map("pv." + _ + ", ").mkString}pv.chunk_id,
       |         list_reduce(
       |           list_prepend({'a': CAST(1.0 AS DOUBLE), 'b': s0.x0}, prev),
       |           (acc, f) -> {'a': CAST(1.0 AS DOUBLE), 'b': f.a * acc.b + f.b}).b AS s_in
       |  FROM ${p}_pv pv JOIN ${p}_first s0 ON ${ForexSql.keyEq(key, "pv", "s0")}),
       |${p}_res AS (
       |  SELECT ab.* EXCLUDE (chunk_id, abf), ab.abf.a * si.s_in + ab.abf.b AS $p
       |  FROM ${p}_ab ab JOIN ${p}_si si USING ($kc))""".stripMargin
  }

  /** RSI via two chunk-parallel Wilder scans (TechIndicators.rsiChunked):
    * the scale-out form of rsi_1h, oracle-checked in its own chunked
    * association.
    */
  val rsiChunked: Q = chunked(Single)((c, hint) =>
    TechIndicators.rsiChunked(c, maxChunksHint = hint))

  val rsiChunkedSql: String = {
    val a = "CAST(13 AS DOUBLE) / CAST(14 AS DOUBLE)"
    val b = "CAST(1 AS DOUBLE) / CAST(14 AS DOUBLE)"
    s"""WITH ${ForexSql.closes1h(Nil)},
       |${gainsSql(Nil)},
       |${affineScanSql(Nil, "avg_gain", "g", "gain", Seq("close_price", "loss"), a, b)},
       |${affineScanSql(Nil, "avg_loss", "avg_gain_res", "loss", Seq("close_price", "avg_gain"), a, b)}
       |SELECT ${out(Nil)}, $rsiSelect
       |FROM avg_loss_res ORDER BY candle_start""".stripMargin
  }

  /** MACD via three composed affine scans (TechIndicators.macdChunked). */
  val macdChunked: Q = chunked(Single)((c, hint) =>
    TechIndicators.macdChunked(c, maxChunksHint = hint))

  val macdChunkedSql: String = {
    def ab(n: Int) = (
      s"CAST(${n - 1} AS DOUBLE) / CAST(${n + 1} AS DOUBLE)",
      s"CAST(2 AS DOUBLE) / CAST(${n + 1} AS DOUBLE)")
    val (af, bf) = ab(12)
    val (as_, bs) = ab(26)
    val (ag, bg) = ab(9)
    s"""WITH ${ForexSql.closes1h(Nil)},
       |${affineScanSql(Nil, "ema_fast", "c", "close_price", Nil, af, bf)},
       |${affineScanSql(Nil, "ema_slow", "ema_fast_res", "close_price", Seq("ema_fast"), as_, bs)},
       |m AS (
       |  SELECT candle_start, close_price, ema_fast - ema_slow AS macd_raw
       |  FROM ema_slow_res),
       |${affineScanSql(Nil, "sig", "m", "macd_raw", Seq("close_price"), ag, bg)}
       |SELECT candle_start, close_price,
       |       ${graft.Parity.proundSql("macd_raw", 6)} AS macd,
       |       ${graft.Parity.proundSql("sig", 6)} AS macd_signal,
       |       ${graft.Parity.proundSql("macd_raw - sig", 6)} AS macd_hist
       |FROM sig_res ORDER BY candle_start""".stripMargin
  }

  /** Holt level+trend, chunk-parallel (TechIndicators.holtChunked): the
    * 2×2 matrix-affine generalization of the ewma_chunked association —
    * per-chunk {A, c} prefix folds, flat seeded cross-chunk composition
    * (= MonoidScan's ≤64-chunk base case on the 12-chunk sf grids).
    */
  val holtChunked: Q = chunked(Single)((c, hint) =>
    TechIndicators.holtChunked(c, maxChunksHint = hint))

  val holtChunkedSql: String = {
    // NOTE: the per-row matrix-affine folds mirror as RECURSIVE CTEs, not
    // list_reduce: DuckDB 1.0's list_reduce mutates a STRUCT accumulator
    // field by field IN PLACE, so a lambda whose later fields read earlier
    // ones (any 2x2 matrix product does - a21' needs the OLD a11 after
    // a11' was already written) folds wrong values. The scalar {'a','b'}
    // affine oracles dodge this by layout ('b' never reads acc.a); the
    // recursion builds a fresh struct per row and replays the identical
    // left-to-right association as Spark's sequential aggregate().
    s"""WITH RECURSIVE ${ForexSql.closes1h(Nil)},
       |hk AS (
       |  SELECT candle_start, close_price, epoch_us(candle_start) // $ChunkUs AS chunk_id
       |  FROM c),
       |he AS (
       |  SELECT chunk_id, candle_start, close_price,
       |         CAST(row_number() OVER (PARTITION BY chunk_id ORDER BY candle_start) AS BIGINT) AS rn,
       |         {'a11': CAST(0.8 AS DOUBLE), 'a12': CAST(0.8 AS DOUBLE),
       |          'a21': CAST(-0.02 AS DOUBLE), 'a22': CAST(0.98 AS DOUBLE),
       |          'b1': CAST(0.2 AS DOUBLE) * close_price,
       |          'b2': CAST(0.02 AS DOUBLE) * close_price} AS f
       |  FROM hk),
       |hab AS (
       |  SELECT chunk_id, rn, candle_start, close_price, f AS abf
       |  FROM he WHERE rn = 1
       |  UNION ALL
       |  SELECT e.chunk_id, e.rn, e.candle_start, e.close_price,
       |         {'a11': e.f.a11 * r.abf.a11 + e.f.a12 * r.abf.a21,
       |          'a12': e.f.a11 * r.abf.a12 + e.f.a12 * r.abf.a22,
       |          'a21': e.f.a21 * r.abf.a11 + e.f.a22 * r.abf.a21,
       |          'a22': e.f.a21 * r.abf.a12 + e.f.a22 * r.abf.a22,
       |          'b1': e.f.a11 * r.abf.b1 + e.f.a12 * r.abf.b2 + e.f.b1,
       |          'b2': e.f.a21 * r.abf.b1 + e.f.a22 * r.abf.b2 + e.f.b2}
       |  FROM hab r JOIN he e ON e.chunk_id = r.chunk_id AND e.rn = r.rn + 1),
       |hlast AS (
       |  SELECT chunk_id, arg_max(abf, rn) AS tot,
       |         CAST(row_number() OVER (ORDER BY chunk_id) AS BIGINT) AS ck_rn
       |  FROM hab GROUP BY chunk_id),
       |hsi AS (
       |  SELECT CAST(1 AS BIGINT) AS ck_rn,
       |         {'b1': (SELECT arg_min(close_price, candle_start) FROM c),
       |          'b2': CAST(0.0 AS DOUBLE)} AS s
       |  UNION ALL
       |  SELECT r.ck_rn + 1,
       |         {'b1': t.tot.a11 * r.s.b1 + t.tot.a12 * r.s.b2 + t.tot.b1,
       |          'b2': t.tot.a21 * r.s.b1 + t.tot.a22 * r.s.b2 + t.tot.b2}
       |  FROM hsi r JOIN hlast t ON t.ck_rn = r.ck_rn),
       |hraw AS (
       |  SELECT ab.candle_start, ab.close_price,
       |         ab.abf.a11 * si.s.b1 + ab.abf.a12 * si.s.b2 + ab.abf.b1 AS lraw,
       |         ab.abf.a21 * si.s.b1 + ab.abf.a22 * si.s.b2 + ab.abf.b2 AS traw
       |  FROM hab ab
       |  JOIN hlast hl USING (chunk_id)
       |  JOIN hsi si ON si.ck_rn = hl.ck_rn)
       |SELECT candle_start, close_price,
       |       ${graft.Parity.proundSql("lraw", 6)} AS level,
       |       ${graft.Parity.proundSql("traw", 6)} AS trend,
       |       ${graft.Parity.proundSql("lraw + traw", 6)} AS forecast
       |FROM hraw ORDER BY candle_start""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "bollinger_1h" -> bollinger(Single),
    "bollinger_chunked" -> bollingerChunked,
    "rsi_1h" -> rsi(Single),
    "macd_1h" -> macd(Single),
    "ewma_chunked" -> ewmaChunked(Single),
    "rsi_chunked" -> rsiChunked,
    "macd_chunked" -> macdChunked,
    "holt_chunked" -> holtChunked)

  val oracleSql: Map[String, String] = Map(
    "bollinger_1h" -> bollingerSql(Nil),
    "bollinger_chunked" -> bollingerSql(Nil), // same semantics, chunked frame assembly
    "rsi_1h" -> rsiSql(Nil),
    "macd_1h" -> macdSql(Nil),
    "ewma_chunked" -> ewmaChunkedSql(Nil),
    "rsi_chunked" -> rsiChunkedSql,
    "macd_chunked" -> macdChunkedSql,
    "holt_chunked" -> holtChunkedSql)
}
