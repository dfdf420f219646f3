package graft.relational

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

class SkewSpec extends SparkSpec {

  test("salted count equals plain count on a skewed key distribution") {
    val ev = Tables.events(spark, sf0001) // event_type is low-cardinality/hot
    val plain = ev.groupBy("event_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val salted = Skew.saltedCount(ev, Seq(col("event_type")), col("event_id"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(salted === plain)
  }

  test("salted exact sum equals plain decimal sum bit-for-bit") {
    val ev = Tables.events(spark, sf0001)
    val plain = ev.groupBy("event_type")
      .agg(sum(col("value").cast(org.apache.spark.sql.types.DecimalType(30, 10)))
        .cast("double").as("s"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val salted = Skew.saltedSumExact(ev, Seq(col("event_type")), col("value"), col("event_id"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(salted === plain)
  }

  test("salted small-side join equals plain join") {
    val ev = Tables.events(spark, sf0001)
    import spark.implicits._
    val dim = Seq(("click", 1), ("view", 2), ("purchase", 3), ("signup", 4), ("error", 5))
      .toDF("event_type", "type_id")
    val plain = ev.join(dim, "event_type").count()
    val salted = Skew.saltedJoinSmall(ev, dim, "event_type", col("event_id")).count()
    assert(salted === plain)
  }

  test("vec_dot is callable from SQL after extension registration") {
    Tables.embeddings(spark, sf0001).createOrReplaceTempView("emb")
    val r = spark.sql(
      "SELECT vec_dot(embedding, embedding) AS d FROM emb ORDER BY vec_id LIMIT 1")
      .first().getDouble(0)
    assert(r > 0.0)
  }
}
