package graft.queries

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

/** Round-15 operator specs: the governed day-sketch store, the CMS/HLL
  * range-serving symmetry, and the isotonic calibration serving join.
  */
class Round15OpsSpec extends SparkSpec {

  test("kll_store_serve: serving from the governed store equals the " +
      "fixture-backed range serve value-for-value") {
    val fromStore = SketchQueries.queries("kll_store_serve")(spark, sf0001)
      .collect().map(_.toString).toSeq
    val fromFixture = SketchQueries.queries("kll_range_serve")(spark, sf0001)
      .collect().map(_.toString).toSeq
    assert(fromStore.nonEmpty)
    assert(fromStore === fromFixture)
  }

  test("kll day-sketch store: two day-partition batches reassemble the " +
      "one-shot table bit-for-bit (append day N+1, re-serve, equal)") {
    import graft.store.IncrementalStore
    val items = SketchQueries.Kll.events(spark, sf0001)
      .select(col("event_type"), col("day"), col("level"), col("value"),
        col("tid"), col("w"))
    val d0 = items.agg(min(col("day"))).head().getDate(0).toLocalDate
    val cut = java.sql.Date.valueOf(d0.plusDays(10))
    def freshRoot(name: String): String = {
      val t = StoreQueries.storeRoot(spark, name)
      val p = new org.apache.hadoop.fs.Path(t)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true)
      t
    }
    val oneShot = freshRoot("spec_kll_oneshot")
    val twoBatch = freshRoot("spec_kll_twobatch")
    IncrementalStore.overwriteDayPartitions(items, oneShot, "day",
      clusterBy = Seq("event_type"))
    IncrementalStore.overwriteDayPartitions(
      items.filter(col("day") <= cut), twoBatch, "day",
      clusterBy = Seq("event_type"))
    IncrementalStore.overwriteDayPartitions(
      items.filter(col("day") > cut), twoBatch, "day",
      clusterBy = Seq("event_type"))
    def slurp(t: String) = IncrementalStore.readTable(spark, t)
      .select(col("event_type"), col("day"), col("level"), col("value"),
        col("tid"), col("w"))
      .collect().map(_.toString).sorted.toSeq
    assert(slurp(twoBatch) === slurp(oneShot))
    assert(slurp(oneShot).nonEmpty)
  }

  test("hll_range_serve: register-merge over the span's day tables is " +
      "bit-exact vs the direct span sketch, and exact counts check out") {
    val rows = SketchQueries.queries("hll_range_serve")(spark, sf0001)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("merge_exact") === 1L, r.toString)
      assert(r.getAs[Long]("exact_distinct") > 0L)
    }
    // exact_distinct really is the span's distinct count
    val ev = Tables.events(spark, sf0001)
      .select(col("event_type"), to_date(col("ts")).as("day"), col("user_id"))
    val d0 = ev.agg(min(col("day"))).head().getDate(0).toLocalDate
    val expected = ev.filter(col("day").between(
        java.sql.Date.valueOf(d0.plusDays(5)),
        java.sql.Date.valueOf(d0.plusDays(15))))
      .groupBy("event_type").agg(countDistinct(col("user_id")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows.map(r => r.getString(0) -> r.getAs[Long]("exact_distinct"))
      .toMap === expected)
  }

  test("cms_range_serve: day-summed counters over the span are BIT-equal " +
      "to the one-shot span sketch, and CMS never underestimates") {
    val rows = SketchQueries.queries("cms_range_serve")(spark, sf0001)
      .collect()
    assert(rows.nonEmpty && rows.length <= 20)
    rows.foreach { r =>
      assert(r.getAs[Long]("merge_exact") === 1L, r.toString)
      assert(r.getAs[Long]("n_cms_direct") >= r.getAs[Long]("n_exact"),
        r.toString)
    }
  }

  test("kll_store_incremental: watermark-driven appends reassemble the " +
      "all-days merge value-for-value") {
    val incr = SketchQueries.queries("kll_store_incremental")(spark, sf0001)
      .collect().map(_.toString).toSeq
    val batch = SketchQueries.queries("kll_merge_days")(spark, sf0001)
      .collect().map(_.toString).toSeq
    assert(incr.nonEmpty && incr === batch)
  }

  test("hll/cms store incrementals: watermark-driven appends reassemble " +
      "the whole-range merges value-for-value") {
    val hIncr = SketchQueries.queries("hll_store_incremental")(
      spark, sf0001).collect().map(_.toString).toSeq
    val hBatch = SketchQueries.queries("hll_merge_days")(spark, sf0001)
      .collect().map(_.toString).toSeq
    assert(hIncr.nonEmpty && hIncr === hBatch)
    val cIncr = SketchQueries.queries("cms_store_incremental")(
      spark, sf0001).collect().map(_.toString).toSeq
    val cBatch = SketchQueries.queries("cms_merge_days")(spark, sf0001)
      .collect().map(_.toString).toSeq
    assert(cIncr.nonEmpty && cIncr === cBatch)
  }

  test("governed sketch store: a LITERAL day predicate prunes p_date " +
      "partitions statically (the 100 TB serve path)") {
    import graft.store.IncrementalStore
    // the store laid down by the serve queries (rebuild for independence)
    SketchQueries.queries("kll_store_serve")(spark, sf0001).collect()
    val stored = IncrementalStore.readTable(spark,
      StoreQueries.storeRoot(spark, "kll_day_sketch"))
    val days = stored.select(col("p_date")).distinct()
      .orderBy(col("p_date")).collect().map(_.getDate(0))
    assert(days.length > 2)
    val lit5 = java.sql.Date.valueOf(days(1).toLocalDate)
    val pruned = stored.filter(col("p_date") === lit5)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: ["), plan.take(800))
    assert(plan.contains("p_date"), plan.take(800))
    // the pruned scan reads exactly that day's rows
    val expected = stored.collect()
      .count(_.getAs[java.sql.Date]("p_date") == lit5)
    assert(pruned.count() === expected.toLong && expected > 0)
  }

  test("hll/cms store serves: serving from the governed day tables is " +
      "value-identical to the fixture-free range serves") {
    val hStore = SketchQueries.queries("hll_store_serve")(spark, sf0001)
      .collect().map(_.toString).toSeq
    val hRange = SketchQueries.queries("hll_range_serve")(spark, sf0001)
      .collect().map(_.toString).toSeq
    assert(hStore.nonEmpty && hStore === hRange)
    val cStore = SketchQueries.queries("cms_store_serve")(spark, sf0001)
      .collect().map(_.toString).toSeq
    val cRange = SketchQueries.queries("cms_range_serve")(spark, sf0001)
      .collect().map(_.toString).toSeq
    assert(cStore.nonEmpty && cStore === cRange)
  }

  test("sequence_pack: documents tile the token stream with no gaps, " +
      "offsets stay inside the pack, boundary flags are exact") {
    val rows = TextQueries.queries("sequence_pack")(spark, sf0001)
      .orderBy(col("doc_id")).collect()
    assert(rows.nonEmpty)
    val L = 1024L
    var expectedStart = 0L
    rows.foreach { r =>
      val (n, start) = (r.getAs[Long]("n_tokens"), r.getAs[Long]("start_pos"))
      assert(start === expectedStart, s"gap before ${r.getAs[Long]("doc_id")}")
      expectedStart = start + n
      assert(r.getAs[Long]("pack_id") === start / L)
      assert(r.getAs[Long]("pack_offset") === start % L)
      val crosses = n > 0 && (start / L) != ((start + n - 1) / L)
      assert(r.getAs[Long]("crosses_boundary") === (if (crosses) 1L else 0L))
    }
    // the stream length is the exact token total (no overlap, no padding
    // between documents); the last START pack can precede the stream's
    // final pack only because a tail document spans into it
    val lastEnd = expectedStart
    assert(lastEnd === rows.map(_.getAs[Long]("n_tokens")).sum)
    val maxStartPack = rows.map(_.getAs[Long]("pack_id")).max
    assert(maxStartPack <= (lastEnd - 1) / L)
    assert(maxStartPack === rows.last.getAs[Long]("start_pos") / L)
  }

  test("isotonic_apply: every scored row gets its bin's fitted " +
      "probability, monotone in score, one row per corpus row") {
    val applied = SimilarityQueries.queries("isotonic_apply")(spark, sf0001)
      .collect()
    val nRows = Tables.embeddings(spark, sf0001).count()
    assert(applied.length.toLong === nRows)
    // per-bin p_cal equals the fit report's fitted value
    val fitByBin = SimilarityQueries.queries("isotonic_calibration")(
        spark, sf0001)
      .collect().map(r => r.getAs[Long]("bin") -> r.getAs[Double]("fitted"))
      .toMap
    applied.foreach { r =>
      assert(r.getAs[Double]("p_cal") === fitByBin(r.getAs[Long]("bin")),
        r.toString)
    }
    // PAV guarantee: p_cal is monotone non-decreasing in score
    applied.sortBy(_.getAs[Double]("score")).sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getAs[Double]("p_cal") <= b.getAs[Double]("p_cal"),
          s"$a -> $b")
      case _ =>
    }
  }
}
