package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.VecDot

/** SparkSessionExtensions entry point: registers the engine's custom
  * Catalyst expressions as SQL functions, so `spark.sql("SELECT
  * vec_dot(a, b)")` works next to the Column API.
  *
  * Wire up via `.withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction(GraftExtensions.vecDotDescriptor)
    e.injectFunction(GraftExtensions.topkByDescriptor)
    e.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    e.injectOptimizerRule(_ => graft.plans.AsOfJoinPruningRule)
  }
}

object GraftExtensions {

  private[graft] val vecDotDescriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("vec_dot"),
    new ExpressionInfo(classOf[VecDot].getName, "vec_dot"),
    (children: Seq[Expression]) => {
      require(children.size == 2, "vec_dot(arrayA, arrayB) takes 2 arguments")
      VecDot(children.head, children(1))
    })

  /** SQL surface for [[graft.functions.TopKByAgg]]: `topk_by(score, id,
    * k)` with k a literal — the analyzer wraps the returned
    * AggregateFunction in a Complete AggregateExpression like any
    * built-in aggregate, so partial aggregation and ObjectHashAggregate
    * placement are identical to the Column API path.
    */
  private[graft] val topkByDescriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("topk_by"),
    new ExpressionInfo(classOf[graft.functions.TopKByAgg].getName, "topk_by"),
    (children: Seq[Expression]) => {
      require(children.size == 3, "topk_by(score, id, k) takes 3 arguments")
      // any foldable integral k (3, CAST(3 AS BIGINT), 1+2) resolves at
      // analysis time — a clean analysis error beats an execution-time
      // ClassCastException on a perfectly sensible literal spelling
      val kExpr = children(2)
      val k = (if (kExpr.foldable) Option(kExpr.eval()) else None) match {
        case Some(i: Int) => i
        case Some(l: Long) if l.isValidInt => l.toInt
        case Some(s: Short) => s.toInt
        case Some(b: Byte) => b.toInt
        case _ => throw new IllegalArgumentException(
          s"topk_by: k must be a foldable integral literal, got $kExpr")
      }
      graft.functions.TopKByAgg(children.head, children(1), k)
    })

  /** Register on an existing session (for sessions not built with
    * withExtensions, e.g. the driver-owned ones).
    */
  def register(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "vec_dot", exprs => VecDot(exprs.head, exprs(1)), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "topk_by", topkByDescriptor._3, "scala_udf")
  }
}

/** Canonical session factory for library users: local-cluster-shaped conf
  * with the settings every graft workload needs (UTC, ns-timestamp reads,
  * µs writes, AQE with skew-join handling, sane shuffle width).
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

  def builder(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config(DriverListing._1, DriverListing._2)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
}
