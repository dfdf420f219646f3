package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType,
  TimestampNTZType, TimestampType}

import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    ForexQueries.fctTimeframes(spark, "/root/testdata/sf0.001")

  /** Output-serialization parity, applied to every query's final frame.
    *
    * - Spark TimestampType writes parquet with isAdjustedToUTC=true, which
    *   DuckDB reads as TIMESTAMP WITH TIME ZONE — a schema mismatch against
    *   the oracle's plain TIMESTAMP even when every value is identical. The
    *   session TZ is pinned UTC, so casting top-level timestamp outputs to
    *   TIMESTAMP_NTZ is value-preserving and reads back as plain TIMESTAMP.
    * - Sub-long integers (size(), row_number(), … produce INT32) widen to
    *   BIGINT: DuckDB's len()/count()/rank() are all BIGINT, and matching
    *   the width exactly keeps the value hash engine-independent.
    * Both casts are lossless; neither changes a single value.
    */
  private[graft] def normalizeOutputs(df: DataFrame): DataFrame = {
    val needs = df.schema.fields.exists(f => f.dataType match {
      case TimestampType | IntegerType | ShortType | ByteType => true
      case _ => false
    })
    if (!needs) df
    else df.select(df.schema.fields.map { f =>
      f.dataType match {
        case TimestampType =>
          col(f.name).cast(TimestampNTZType).as(f.name)
        case IntegerType | ShortType | ByteType =>
          col(f.name).cast(LongType).as(f.name)
        case _ => col(f.name)
      }
    }.toIndexedSeq: _*)
  }

  /** The per-object registries [[queries]] joins. Their names must be
    * disjoint: `++` keeps the last of two equal keys without a word.
    */
  private[graft] def queryMaps: Seq[Map[String, (SparkSession, String) => DataFrame]] =
    Seq(ForexQueries.queries, IndicatorQueries.queries, TextQueries.queries,
      DedupQueries.queries, SimilarityQueries.queries, MediaQueries.queries,
      RelationalQueries.queries, SamplingQueries.queries,
      StoreQueries.queries, PipelineQueries.queries, CurationQueries.queries,
      MultiSymQueries.queries, DriftQueries.queries, FormatQueries.queries,
      FeatureQueries.queries, KllQueries.queries, SketchQueries.queries)

  /** One entry per implemented operator from SURVEY.md §2 (+ §7.4 extension
    * surface: text analysis, dedup family, similarity search, multimodal).
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    queryMaps.reduce(_ ++ _)
      .map { case (name, fn) =>
        name -> ((s: SparkSession, dir: String) => normalizeOutputs(fn(s, dir)))
      }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    ForexQueries.oracleSql ++ IndicatorQueries.oracleSql ++
      TextQueries.oracleSql ++ DedupQueries.oracleSql ++
      SimilarityQueries.oracleSql ++ MediaQueries.oracleSql ++
      RelationalQueries.oracleSql ++ SamplingQueries.oracleSql ++
      StoreQueries.oracleSql ++ PipelineQueries.oracleSql ++
      CurationQueries.oracleSql ++ MultiSymQueries.oracleSql ++
      DriftQueries.oracleSql ++ FormatQueries.oracleSql ++
      FeatureQueries.oracleSql ++ KllQueries.oracleSql ++
      SketchQueries.oracleSql
}
