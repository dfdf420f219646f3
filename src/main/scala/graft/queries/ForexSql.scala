package graft.queries

import graft.forex.{ForexPipeline, Resample}

/** The DuckDB mirror of the paper's pipeline stages — silver dedup,
  * fan-out, OHLC candles, the 1h closes, SMA, surrogate id and the gold
  * indicator select — as CTE fragments built from a series key: `Nil` for
  * the single series the reference runs, [[ForexPipeline.SymbolKey]] for a
  * table of instruments. A key leads every group and window
  * (`PARTITION BY symbol, …`), exactly as the Spark stages' `keyCols` do;
  * without one a series window is `OVER (ORDER BY …)`. Every forex oracle
  * composes these, so a fix to a stage reaches all of them.
  */
object ForexSql {

  /** Column list with the key first. */
  def by(key: Seq[String], cols: String*): String = (key ++ cols).mkString(", ")

  /** Window spec of a series: partitioned by `parts`, ordered by `order`. */
  def window(parts: Seq[String], order: String = "candle_start"): String =
    (if (parts.isEmpty) "" else s"PARTITION BY ${parts.mkString(", ")} ") +
      s"ORDER BY $order"

  /** Equality of two relations on the key (TRUE for the single series). */
  def keyEq(key: Seq[String], l: String, r: String): String =
    if (key.isEmpty) "TRUE" else key.map(k => s"$l.$k = $r.$k").mkString(" AND ")

  /** Resample.bucket's closed form. */
  def bucket(tsCol: String, tf: Resample.Timeframe): String = {
    val u = s"(epoch_us($tsCol) + ${tf.shiftUs})"
    s"make_timestamp($u - ($u % ${tf.widthUs}) - ${tf.shiftUs})"
  }

  /** ForexPipeline.silver: typed projection + keyed dedup, latest event_id
    * kept per (key…, observed_at).
    */
  def silver(key: Seq[String]): String = {
    val src = key.map(ForexPipeline.KeySource)
    val typedKey = src.zip(key).map { case (e, k) => s"$e AS $k, " }.mkString
    s"""silver AS (
       |  SELECT ${by(key, "observed_at")}, open_price, high_price, low_price, close_price FROM (
       |    SELECT ${typedKey}CAST(ts AS TIMESTAMP) AS observed_at,
       |           value AS open_price, value AS high_price,
       |           value AS low_price, value AS close_price,
       |           row_number() OVER (PARTITION BY ${by(src, "CAST(ts AS TIMESTAMP)")}
       |                              ORDER BY event_id DESC) AS rn
       |    FROM events)
       |  WHERE rn = 1)""".stripMargin
  }

  /** Ohlc.tickAggs over ticks (observed_at, *_price). */
  val ohlcAggs: String =
    """arg_min(open_price, observed_at) AS open_price,
      |         max(high_price)                  AS high_price,
      |         min(low_price)                   AS low_price,
      |         arg_max(close_price, observed_at) AS close_price,
      |         count(*)                         AS ticks_5m_count""".stripMargin

  /** silver → Resample.fanout over `tfs` → Ohlc.candles: CTEs `silver`,
    * `fanned`, `candles`.
    */
  def candles(key: Seq[String], tfs: Seq[Resample.Timeframe]): String = {
    val fanned = tfs.map { tf =>
      s"""  SELECT ${by(key, s"'${tf.name}' AS timeframe")}, ${bucket("observed_at", tf)} AS candle_start,
         |         observed_at, open_price, high_price, low_price, close_price FROM silver""".stripMargin
    }
    s"""${silver(key)},
       |fanned AS (
       |${fanned.mkString("\n  UNION ALL\n")}),
       |candles AS (
       |  SELECT ${by(key, "timeframe", "candle_start")},
       |         $ohlcAggs
       |  FROM fanned GROUP BY ALL)""".stripMargin
  }

  /** The 1h closes every indicator oracle reads: [[candles]] plus CTE `c`
    * (key…, candle_start, close_price).
    */
  def closes1h(key: Seq[String]): String =
    s"""${candles(key, Seq(Resample.byName("1h")))},
       |c AS (SELECT ${by(key, "candle_start", "close_price")} FROM candles)""".stripMargin

  /** Indicators.sma: exact DECIMAL frame sum → double → divide by frame
    * count → round. Association-independent on both engines.
    */
  private def sma(key: Seq[String], n: Int): String = {
    val frame = s"${window(key :+ "timeframe")} ROWS BETWEEN ${n - 1} PRECEDING AND CURRENT ROW"
    val avg = s"""CAST(sum(CAST(close_price AS DECIMAL(25,10))) OVER ($frame) AS DOUBLE)
       |         / count(*) OVER ($frame)""".stripMargin
    graft.Parity.proundSql(avg, 6) + s" AS sma_$n"
  }

  /** Indicators.uniqueId: md5 over the key, timeframe and candle_start. */
  private def uniqueId(key: Seq[String]): String =
    s"md5(${(key :+ "timeframe").map(_ + " || '|' || ").mkString}" +
      "strftime(candle_start, '%Y-%m-%d %H:%M:%S')) AS unique_id"

  /** ForexPipeline.gold over `tfs`: [[candles]] plus CTE `gold`. */
  def gold(key: Seq[String], tfs: Seq[Resample.Timeframe]): String =
    s"""${candles(key, tfs)},
       |gold AS (
       |  SELECT ${uniqueId(key)},
       |         ${by(key, "timeframe")}, candle_start, open_price, high_price, low_price,
       |         close_price, ticks_5m_count,
       |         close_price - lag(close_price) OVER (${window(key :+ "timeframe")}) AS price_diff,
       |         ${sma(key, 20)},
       |         ${sma(key, 50)}
       |  FROM candles)""".stripMargin
}
