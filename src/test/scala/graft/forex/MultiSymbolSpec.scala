package graft.forex

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

/** Multi-symbol pipeline contract: the symbol key partitions every stage,
  * so each symbol's slice of the multi-symbol gold must be IDENTICAL to
  * running the single-symbol pipeline on that symbol's ticks alone — no
  * window may leak rows across symbols (lag/SMA frames partitioned by
  * (symbol, timeframe)).
  */
class MultiSymbolSpec extends SparkSpec {

  private lazy val events = Tables.events(spark, sf0001).cache()
  private val key = ForexPipeline.SymbolKey
  private lazy val goldMulti = ForexPipeline.gold(
    ForexPipeline.silver(events, key), key).cache()

  private val compareCols = Seq("timeframe", "candle_start", "open_price",
    "high_price", "low_price", "close_price", "ticks_5m_count",
    "price_diff", "sma_20", "sma_50")

  test("per-symbol slice equals the single-symbol pipeline on that symbol") {
    val symbols = events.select("event_type").distinct()
      .collect().map(_.getString(0)).sorted
    assert(symbols.length >= 2, "fixture must be genuinely multi-symbol")
    symbols.foreach { sym =>
      val slice = goldMulti.filter(col("symbol") === sym)
        .select(compareCols.map(col): _*)
      val solo = ForexPipeline.gold(
          ForexPipeline.silver(events.filter(col("event_type") === sym)))
        .select(compareCols.map(col): _*)
      assert(slice.exceptAll(solo).isEmpty && solo.exceptAll(slice).isEmpty,
        s"symbol $sym diverges from its single-symbol run")
    }
  }

  test("keyed recursive indicators: per-symbol slice equals single-series run") {
    val candles = Ohlc.candles(
        Resample.fanout(ForexPipeline.silver(events, key),
          Seq(Resample.byName("1h")), key), key)
      .select(col("symbol"), col("candle_start"), col("close_price")).cache()
    val symbols = events.select("event_type").distinct()
      .collect().map(_.getString(0)).sorted
    // gap fill over a thinned series, so the grid has slots to fill
    val thinned =
      candles.filter(expr("(unix_micros(candle_start) DIV 3600000000L) % 5 != 3"))
    val keyed = Seq(
      TechIndicators.rsi(candles, keyCols = key),
      TechIndicators.bollinger(candles, keyCols = key),
      TechIndicators.macd(candles, keyCols = key),
      TechIndicators.ewma(candles, keyCols = key),
      TechIndicators.gapFill(thinned, keyCols = key)).map(_.cache())
    symbols.foreach { sym =>
      val solo = candles.filter(col("symbol") === sym).drop("symbol")
      val single = Seq(
        TechIndicators.rsi(solo),
        TechIndicators.bollinger(solo),
        TechIndicators.macd(solo),
        TechIndicators.ewma(solo),
        TechIndicators.gapFill(thinned.filter(col("symbol") === sym).drop("symbol")))
      keyed.zip(single).zip(Seq("rsi", "bollinger", "macd", "ewma", "gap fill")).foreach {
        case ((m, s0), name) =>
          val slice = m.filter(col("symbol") === sym).drop("symbol")
          assert(slice.exceptAll(s0).isEmpty && s0.exceptAll(slice).isEmpty,
            s"$name for symbol $sym diverges from its single-series run")
      }
    }
    // chunking composed with the key: the keyed chunked scan's per-symbol
    // slice is bit-identical to the single-series chunked scan (same
    // chunked association per symbol, nothing leaks across partitions)
    val chunkedKeyed =
      TechIndicators.ewmaChunked(candles, keyCols = key).cache()
    symbols.foreach { sym =>
      val solo = TechIndicators.ewmaChunked(
        candles.filter(col("symbol") === sym).drop("symbol"))
      val slice = chunkedKeyed.filter(col("symbol") === sym).drop("symbol")
      assert(slice.exceptAll(solo).isEmpty && solo.exceptAll(slice).isEmpty,
        s"chunked ewma for symbol $sym diverges from its single-series run")
    }
  }

  test("unique_id stays unique across symbols (symbol is in the hash)") {
    val dups = goldMulti.groupBy("unique_id").count()
      .filter(col("count") > 1).count()
    assert(dups === 0)
  }

  test("every (symbol, timeframe) series is present") {
    val n = goldMulti.select("symbol", "timeframe").distinct().count()
    val symbols = events.select("event_type").distinct().count()
    assert(n === symbols * Resample.timeframes.length)
  }
}
