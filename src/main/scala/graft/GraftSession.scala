package graft

import org.apache.spark.sql.SparkSession

/** The one session factory. [[base]] holds the conf every session of the
  * engine shares: `local[cores]`, `cores` shuffle partitions, UTC session
  * time, `nanosAsLong` reads (a no-op for µs files, and it lets a
  * TIMESTAMP(NANOS) events file surface as LongType instead of erroring,
  * the `Tables.events` dual-schema contract), UI off, and
  * [[GraftExtensions]]. Each caller adds its own keys on the returned
  * builder:
  *  - [[builder]] (`PipelineRunner`, pipebench): driver-side listing, µs
  *    parquet writes, AQE with skew-join handling;
  *  - `Bench` and `PlanDump`: AQE and [[CodegenCache]];
  *  - `Verify`: µs parquet writes and [[CodegenCache]];
  *  - the test suites' shared session: an app name, a temporary warehouse
  *    directory and µs parquet writes.
  */
object GraftSession {

  /** Makes partition discovery list a read's paths on the driver, however
    * many there are. Past this threshold (32 paths by default) Spark lists
    * them in a job with one task per directory, which a `local[n]` session
    * runs on the same machine anyway: the daily run's checks over 77 days
    * of gold ran 84 tasks with that job and 7 without it.
    */
  final val DriverListing =
    "spark.sql.sources.parallelPartitionDiscovery.threshold" -> Int.MaxValue.toString

  /** The codegen class cache (static conf) defaults to 100 entries; a
    * session running hundreds of distinct query plans cycles it every pass
    * and Janino-recompiles every WholeStageCodegen unit per query per run
    * (measured: 118.8 s -> 94.3 s on a 50-query subset at sf0.1). Any
    * long-lived driver serving many distinct plans wants the cache sized to
    * its plan population; entries are compiled classes, bounded by
    * generated-code size, well within driver heap at 10k.
    */
  final val CodegenCache = "spark.sql.codegen.cache.maxEntries" -> "10000"

  def base(cores: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)

  /** The pipeline's session (`PipelineRunner`, pipebench). */
  def builder(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession.Builder =
    base(cores)
      .config(DriverListing._1, DriverListing._2)
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")

  /** Runs `body` with `settings` applied to the session conf, then puts
    * every key back as it was: a key that was unset before is unset again,
    * not pinned to the value it read as. Restores on a throw too.
    */
  def withConf[T](spark: SparkSession, settings: (String, String)*)(body: => T): T = {
    val explicit = spark.conf.getAll
    val before = settings.map { case (k, _) => k -> explicit.get(k) }
    settings.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
