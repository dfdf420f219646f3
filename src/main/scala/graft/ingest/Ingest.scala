package graft.ingest

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.GraftSession

/** Bronze ingest — Spark equivalent of the reference extractor's
  * validate/prepare/save path (scripts/extract_forex.py:112-199).
  *
  * The network fetch itself (extract_forex.py:34-109) is out of scope for a
  * local engine (SURVEY §2.1 S1/S2): ingest starts from a raw tick DataFrame.
  */
object Ingest {

  /** Time-series API response schema (S1 parity, extract_forex.py:34-67):
    * OHLC values arrive as an array of stringly-typed rows under `values` —
    * the Bronze contract is loosely typed, Silver casts (SURVEY §1.2).
    */
  val apiResponseSchema: StructType = StructType(Seq(
    StructField("meta", StructType(Seq(
      StructField("symbol", StringType),
      StructField("interval", StringType)))),
    StructField("values", ArrayType(StructType(Seq(
      StructField("datetime", StringType),
      StructField("open", StringType),
      StructField("high", StringType),
      StructField("low", StringType),
      StructField("close", StringType))))),
    StructField("status", StringType)))

  /** Parse API JSON response files into raw ticks: explode `values`, type
    * the strings (the pandas `as_pandas` + Silver-cast path of the
    * reference, extract_forex.py:52-61 + stg_eurusd.sql:27-31).
    */
  def fromApiJson(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(apiResponseSchema).json(path)
      .filter(col("status") === "ok")
      .select(col("meta.symbol").as("symbol"), explode(col("values")).as("v"))
      .select(
        to_timestamp(col("v.datetime"), "yyyy-MM-dd HH:mm:ss").as("datetime"),
        col("v.open").cast("double").as("open"),
        col("v.high").cast("double").as("high"),
        col("v.low").cast("double").as("low"),
        col("v.close").cast("double").as("close"),
        col("symbol"))

  /** Multi-day fetch-loop parity (extract_forex.py:202-267, one request
    * per day; outputsize cap at :34-67): the reference's extractor issues
    * one API request per calendar day and the SERVER truncates each
    * response to at most `outputsize` rows, most-recent bars winning (the
    * API returns bars newest-first). `fetchDay` stands in for one API
    * call returning that day's raw ticks — compose it with
    * `Retry.withRetry` for the per-request rate-limit loop (:70-110).
    * Days fetch independently, so one failed day never poisons its
    * neighbors, and at warehouse scale the loop parallelizes trivially
    * (each day is its own bounded request + write).
    */
  def fetchDays(
      days: Seq[java.time.LocalDate],
      fetchDay: java.time.LocalDate => DataFrame,
      outputsize: Int = 800): DataFrame = {
    require(days.nonEmpty, "fetchDays: empty day list")
    require(outputsize > 0, s"fetchDays: outputsize must be positive, got $outputsize")
    days.map { d =>
      // per-request server-side truncation: newest `outputsize` rows win
      fetchDay(d).orderBy(col("datetime").desc).limit(outputsize)
    }.reduce(_.unionByName(_))
  }

  /** validate_and_prepare_data parity (extract_forex.py:112-141):
    * exact-row dedup, time-sort, stamp symbol + extraction timestamp.
    * `extractionTs` is injected, never wall-clock, for determinism.
    */
  def validateAndPrepare(
      raw: DataFrame, symbol: String, extractionTs: Timestamp): DataFrame =
    raw.dropDuplicates()
      .orderBy(col("datetime"))
      .withColumn("symbol", lit(symbol))
      .withColumn("extraction_date", lit(extractionTs))

  /** save_to_gcs_parquet layout parity (extract_forex.py:144-199): snappy
    * parquet under hive partitions `year=YYYY/month=M` derived from the tick
    * time, timestamps coerced to µs (the reference's ns→µs cast,
    * extract_forex.py:173-179, is native in Spark; the write pins the
    * parquet physical type, for itself alone, so downstream readers agree).
    */
  def writeBronze(prepared: DataFrame, baseDir: String): Unit =
    GraftSession.withConf(prepared.sparkSession,
        "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS") {
      prepared
        .withColumn("year", year(col("datetime")))
        .withColumn("month", month(col("datetime")))
        .write
        .mode("append")
        .partitionBy("year", "month")
        .option("compression", "snappy")
        .parquet(baseDir)
    }
}
