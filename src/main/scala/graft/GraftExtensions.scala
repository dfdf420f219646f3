package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.VecDot
import graft.plans.{AsOfJoinPruningRule, AsOfJoinStrategy, IntervalJoinPruningRule, IntervalJoinStrategy}

/** The engine's one `SparkSessionExtensions` entry point: the custom
  * Catalyst expressions as SQL functions (`vec_dot`, `topk_by`, next to
  * the Column API), and the whole custom operators (the as-of join and
  * the interval sweep join: LogicalPlan node → planner strategy →
  * SparkPlan) with their column-pruning optimizer rules.
  *
  * Every [[GraftSession]] session is built with it. A deployment that
  * builds its own sessions loads it from configuration:
  * {{{
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions …
  * }}}
  * A session built without it cannot plan `AsOfJoinNative.backward` or
  * `IntervalJoinNative.contains` ("No plan for AsOfJoinNode").
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction(GraftExtensions.vecDotDescriptor)
    e.injectFunction(GraftExtensions.topkByDescriptor)
    e.injectPlannerStrategy(_ => AsOfJoinStrategy)
    e.injectPlannerStrategy(_ => IntervalJoinStrategy)
    e.injectOptimizerRule(_ => AsOfJoinPruningRule)
    e.injectOptimizerRule(_ => IntervalJoinPruningRule)
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
}
