package graft.queries

import graft.{GraftSession, SparkEntry, SparkSpec}

/** A query leaves the session as it found it: the same explicitly set conf
  * keys with the same values, and nothing added to the `experimental`
  * strategy or optimizer lists. The queries below each change session
  * state while they run (the native joins' operators, the bounded streams'
  * shuffle partitions, compact_roundtrip's AQE switch).
  */
class SessionIsolationSpec extends SparkSpec {

  private val Aqe = "spark.sql.adaptive.enabled"

  private def state() = (spark.conf.getAll,
    spark.experimental.extraStrategies, spark.experimental.extraOptimizations)

  test("native joins, compact_roundtrip and a bounded stream leave the session unchanged") {
    // unset first: a key that was unset must come back unset, not pinned
    // to the value it read as
    spark.conf.unset(Aqe)
    val before = state()
    for (q <- Seq("asof_join_native", "asof_tolerance", "range_join_native",
        "compact_roundtrip", "stream_ohlc_1h")) {
      assert(SparkEntry.queries(q)(spark, sf0001).count() > 0L, q)
      assert(state() === before, s"$q changed the session")
    }
    assert(!spark.conf.getAll.contains(Aqe))
  }

  test("withConf restores set and unset keys when its body throws") {
    val shuffle = "spark.sql.shuffle.partitions"
    spark.conf.unset(Aqe)
    val before = spark.conf.getAll
    val e = intercept[IllegalStateException] {
      GraftSession.withConf(spark, Aqe -> "false", shuffle -> "7") {
        assert(spark.conf.get(Aqe) === "false" && spark.conf.get(shuffle) === "7")
        throw new IllegalStateException("body failed")
      }
    }
    assert(e.getMessage === "body failed")
    assert(spark.conf.getAll === before)
  }
}
