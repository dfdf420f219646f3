package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** [[graft.GraftExtensions]] is the only way the custom operators reach a
  * session: the shared test session is built by `GraftSession.base`, which
  * injects it, and nothing registers anything per call. With the
  * `experimental` lists empty, Spark's planner would throw "No plan for
  * AsOfJoinNode" (or IntervalJoinNode) without the injected strategies, so
  * a planned exec node is the proof the injection worked.
  */
class GraftExtensionsSpec extends SparkSpec {

  import spark.implicits._

  private def ts(h: Int) = java.sql.Timestamp.valueOf(f"2024-03-01 $h%02d:00:00")

  private def assertNoExperimental(): Unit =
    assert(spark.experimental.extraStrategies.isEmpty &&
      spark.experimental.extraOptimizations.isEmpty,
      "the experimental lists must stay empty for this proof")

  // the probe side carries `extra`, which no projection above the node uses
  private def asofJoin(): DataFrame = AsOfJoinNative.backward(
    Seq((1L, ts(0), "a", "x"), (2L, ts(5), "a", "x"), (3L, ts(7), "a", "x"),
      (4L, ts(9), "b", "x")).toDF("id", "ts", "k", "extra"),
    Seq(("a", ts(5), 50.0), ("a", ts(8), 80.0), ("b", ts(2), 20.0))
      .toDF("k", "rts", "v"),
    "ts", "rts", Seq("k"), Seq("v"))

  private def intervalJoin(): DataFrame = IntervalJoinNative.contains(
    Seq((1L, ts(5), "a", "x"), (2L, ts(10), "a", "x"), (3L, ts(20), "a", "x"))
      .toDF("id", "ts", "k", "extra"),
    Seq(("a", ts(0), ts(10), "p"), ("a", ts(8), ts(12), "q"))
      .toDF("k", "lo", "hi", "tag"),
    Seq("k"), "ts", "lo", "hi", Seq("tag"))

  /** The probe-side output directly below the custom node. */
  private def probeColumns(plan: LogicalPlan): Seq[String] =
    plan.collectFirst {
      case n: AsOfJoinNode => n.left.output.map(_.name)
      case n: IntervalJoinNode => n.left.output.map(_.name)
    }.getOrElse(fail(s"no custom join node in\n$plan"))

  test("withExtensions(new GraftExtensions) plans the native node with an " +
      "EMPTY experimental fallback") {
    assertNoExperimental()
    val df = asofJoin().select(col("id"), col("v"))
    assert(df.queryExecution.executedPlan.toString.contains("AsOfJoin ["),
      "injected strategy must plan AsOfJoinExec")
    val got = df.collect().map(r =>
      r.getLong(0) -> (if (r.isNullAt(1)) null else r.getDouble(1))).toMap
    assert(got === Map(1L -> null, 2L -> 50.0, 3L -> 50.0, 4L -> 20.0))
    assertNoExperimental()
  }

  test("the shared session plans the interval join through the extension alone") {
    assertNoExperimental()
    val df = intervalJoin().select(col("id"), col("tag"))
    assert(df.queryExecution.executedPlan.toString.contains("IntervalJoin"),
      "injected strategy must plan IntervalJoinExec")
    assert(df.collect().map(r => r.getLong(0) -> r.getString(1)).toSet ===
      Set(1L -> "p", 2L -> "p", 2L -> "q"))
    assertNoExperimental()
  }

  test("each injected pruning rule drops an unused probe column below its node") {
    for ((name, join) <- Seq("asof" -> (() => asofJoin()),
        "interval" -> (() => intervalJoin()))) {
      val joined = join()
      assert(probeColumns(joined.queryExecution.optimizedPlan).contains("extra"),
        s"$name: with every column selected the probe side keeps `extra`")
      val pruned = joined.select(col("id"))
      val kept = probeColumns(pruned.queryExecution.optimizedPlan)
      assert(!kept.contains("extra") && kept.contains("id"), s"$name: $kept")
    }
  }
}
