package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.queries.RelationalQueries

/** TopKByAgg: the oracle proves value-equality with the window plan; this
  * pins the PLAN claim (ObjectHashAggregate with a partial phase, no
  * window sort) and the edge semantics the sf-data never exercises
  * (ties, groups smaller than k, null scores, cross-partition merge).
  */
class TopKAggregateSpec extends SparkSpec {

  test("plan: ObjectHashAggregate partial+final, no Window operator, no sort before exchange") {
    val plan = RelationalQueries.topOrdersHeap(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), plan.linesIterator.take(8).mkString("\n"))
    assert(plan.contains("partial_topkbyagg"),
      "map-side partial top-k missing: the exchange would carry full rows")
    assert(!plan.contains("Window"), "the heap form must not fall back to a window")
  }

  test("topk_by is callable from SQL after extension registration, same plan shape") {
    graft.Tables.orders(spark, sf0001).createOrReplaceTempView("topk_orders_v")
    val df = spark.sql(
      """SELECT o_custkey, t.id AS o_orderkey, t.score AS o_totalprice
        |FROM (SELECT o_custkey, topk_by(o_totalprice, o_orderkey, 3) AS top
        |      FROM topk_orders_v GROUP BY o_custkey)
        |LATERAL VIEW explode(top) AS t
        |ORDER BY o_custkey, t.score DESC, t.id""".stripMargin)
    val viaColumn = RelationalQueries.topOrdersHeap(spark, sf0001)
      .select("o_custkey", "o_orderkey", "o_totalprice")
      .collect().map(_.toSeq).toSeq
    assert(df.collect().map(_.toSeq).toSeq === viaColumn)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate") && plan.contains("partial_topkbyagg"))
  }

  test("input coercion: int scores, int ids, and non-int k literals all analyze cleanly") {
    import spark.implicits._
    Seq((1, 10, 5L), (1, 20, 3L), (1, 30, 9L), (2, 40, 1L))
      .toDF("grp", "int_score", "id").createOrReplaceTempView("topk_coerce_v")
    // int score → double, CAST(k AS BIGINT) → foldable integral k: both
    // must resolve at analysis time, not die at execution
    val got = spark.sql(
      """SELECT grp, t.id FROM (
        |  SELECT grp, topk_by(int_score, id, CAST(2 AS BIGINT)) AS top
        |  FROM topk_coerce_v GROUP BY grp)
        |LATERAL VIEW explode(top) AS t
        |ORDER BY grp, t.score DESC""".stripMargin)
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    assert(got === Seq((1, 9L), (1, 3L), (2, 1L)))
    // int id column coerces to long too
    val intId = spark.sql(
      """SELECT topk_by(CAST(int_score AS DOUBLE), grp, 1+1) AS top
        |FROM topk_coerce_v""".stripMargin).collect()
    assert(intId.nonEmpty)
    // non-foldable k still fails with a clean message
    val err = intercept[Exception] {
      spark.sql("SELECT topk_by(int_score, id, grp) FROM topk_coerce_v").collect()
    }
    assert(err.getMessage.contains("foldable integral"), err.getMessage)
  }

  test("ties, small groups, nulls, and cross-partition merge match the window form") {
    import spark.implicits._
    // group 1: tie on score (ids 11 < 12 -> 11 ranks first), 4 candidates
    // group 2: fewer rows than k
    // group 3: null scores are skipped entirely
    val rows = Seq(
      (1L, 11L, Some(5.0)), (1L, 12L, Some(5.0)), (1L, 13L, Some(7.0)),
      (1L, 14L, Some(1.0)),
      (2L, 21L, Some(2.0)),
      (3L, 31L, None), (3L, 32L, Some(4.0)))
    val df = rows.toDF("g", "id", "score")
      .select(col("g"), col("id"), col("score").cast("double"))
      .repartition(6) // force cross-partition partial buffers + merge
    val got = df.groupBy(col("g"))
      .agg(TopKBy.topkByScore(col("score"), col("id"), 3).as("top"))
      .select(col("g"), posexplode(col("top")))
      .select(col("g"), col("col.id"), col("col.score"), (col("pos") + lit(1)).as("rk"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .sortBy(t => (t._1, t._4))
    assert(got === Seq(
      (1L, 13L, 7.0, 1), (1L, 11L, 5.0, 2), (1L, 12L, 5.0, 3),
      (2L, 21L, 2.0, 1),
      (3L, 32L, 4.0, 1)))
  }
}
