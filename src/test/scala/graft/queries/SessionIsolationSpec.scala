package graft.queries

import graft.{GraftSession, SparkEntry, SparkSpec}

/** A query leaves the session as it found it: the same explicitly set conf
  * keys with the same values, and nothing added to the `experimental`
  * strategy or optimizer lists. The queries below each change session
  * state while they run (the native joins' operators, the bounded streams'
  * shuffle partitions, compact_roundtrip's AQE switch); the sketch family's
  * queries write governed stores and run bounded streams, and the stream
  * queries read their sources from the fixture registry.
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

  test("the mergeable-sketch queries leave the session unchanged") {
    spark.conf.unset(Aqe)
    val before = state()
    for (q <- SketchQueries.queries.keys.toSeq.sorted) {
      assert(SparkEntry.queries(q)(spark, sf0001).count() > 0L, q)
      assert(state() === before, s"$q changed the session")
    }
  }

  test("the stream queries whose sources come from the fixture registry " +
      "leave the session unchanged") {
    spark.conf.unset(Aqe)
    val before = state()
    for (q <- Seq("stream_ohlc_multisym", "stream_join_attribution",
        "stream_attribution_outer", "stream_to_store", "stream_sliding_ohlc",
        "stream_dedup", "stream_kll", "stream_seq_pack", "stream_hll",
        "stream_hist", "stream_cms", "stream_asof", "stream_gaps",
        "stream_topk", "stream_open_gaps", "stream_neardup", "stream_funnel",
        "stream_ewma", "stream_dsv2_sink")) {
      SparkEntry.queries(q)(spark, sf0001).count()
      assert(state() === before, s"$q changed the session")
    }
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
