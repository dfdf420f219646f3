package graft.queries

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}
import graft.relational.KllSketch

/** Round-14 operator specs: the grouped KLL serving view and the PCA/KLL
  * shared-fixture purity.
  */
class Round14OpsSpec extends SparkSpec {

  test("kll_range_serve: the range read-out from persisted day sketches " +
      "equals the batch day-sketch-then-merge of the span's own rows") {
    // day sketches are per-(type, day) pure functions of each day's rows,
    // so filtering days BEFORE vs AFTER sketching must be indistinguishable
    // — this is exactly what makes a persisted day-sketch table servable
    // for arbitrary ranges without touching row data
    val served = SketchQueries.queries("kll_range_serve")(spark, sf0001).collect()
    assert(served.nonEmpty)

    // batch reference: sketch ONLY the span's rows, merge, read out —
    // constants mirror SketchQueries.Kll (DayRounds = 4, RangeToLevel = 8, the
    // min(day)+5 … min(day)+15 span)
    val ev = Tables.events(spark, sf0001).withColumn("day", to_date(col("ts")))
    val d0 = ev.agg(min(col("day"))).head().getDate(0).toLocalDate
    val span = ev.filter(col("day").between(
      java.sql.Date.valueOf(d0.plusDays(5)), java.sql.Date.valueOf(d0.plusDays(15))))
    val daySk = KllSketch.sketch(span, Seq("event_type", "day"),
      col("value"), col("event_id"), rounds = 4)
    val merged = KllSketch.compact(
      daySk.select(col("event_type"), col("level"), col("value"),
        col("tid"), col("w")),
      Seq("event_type"), 0, 8)
    val batch = KllSketch.quantiles(merged, Seq("event_type"),
        Seq(0.5, 0.9, 0.99))
      .orderBy(col("event_type")).collect()

    assert(served.map(_.toString).toSeq === batch.map(_.toString).toSeq)
  }

  test("kll_range_serve: n_rows counts exactly the span's rows (weight is " +
      "preserved through sketch + merge)") {
    val ev = Tables.events(spark, sf0001).withColumn("day", to_date(col("ts")))
    val d0 = ev.agg(min(col("day"))).head().getDate(0).toLocalDate
    val expected = ev.filter(col("day").between(
        java.sql.Date.valueOf(d0.plusDays(5)), java.sql.Date.valueOf(d0.plusDays(15))))
      .groupBy(col("event_type")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val served = SketchQueries.queries("kll_range_serve")(spark, sf0001)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(served === expected)
  }

  test("pca fixture family: pca_power_iter equals PCA.powerIteration " +
      "directly and whiten consumes the identical fixture loadings") {
    import graft.ml.PCA
    val emb = Tables.embeddings(spark, sf0001)
    // fixture-served component 1 must be the very relation the standalone
    // power iteration computes (topTwo's pc1 arm is arithmetic-identical)
    val p1 = SimilarityQueries.queries("pca_power_iter")(spark, sf0001)
      .collect().map(_.toString).toSeq
    assert(p1.nonEmpty)
    val direct = PCA.powerIteration(PCA.covariance(emb), iters = 4)
      .orderBy(col("dim")).collect().map(_.toString).toSeq
    assert(p1 === direct, "fixture pc1 must equal the standalone chain")
    val again = SimilarityQueries.queries("pca_power_iter")(spark, sf0001)
      .collect().map(_.toString).toSeq
    assert(again === p1, "fixture-served result must be stable across calls")

    // whiten loadings identity: recompute w1/w2 driver-side from the SAME
    // fixture rows (pca_power_iter = component 1, pca_pc2 = component 2)
    // with the engine's exact quantized-dot arithmetic; pca_whiten_2d must
    // reproduce it bit-for-bit — a fixture serving the wrong component's
    // rows under either label fails here
    def comp(q: String): (Map[Long, Double], Double) = {
      val rows = SimilarityQueries.queries(q)(spark, sf0001).collect()
      (rows.map(r => r.getAs[Long]("dim") -> r.getAs[Double]("loading")).toMap,
        rows.head.getAs[Double]("eigenvalue"))
    }
    val (l1, lam1) = comp("pca_power_iter")
    val (l2, lam2) = comp("pca_pc2")
    val m = PCA.dimMeans(emb)
    def whiten(vec: Seq[Double], l: Map[Long, Double], lam: Double): Double = {
      val p = vec.zipWithIndex.map { case (x, i) =>
        math.floor((x - m(i)) * l(i.toLong) * 1e7 + 0.5).toLong
      }.sum / 1e7
      math.floor(p / math.sqrt(lam) * 1e6 + 0.5) / 1e6
    }
    val expected = emb.select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .collect()
      .map(r => r.getLong(0) ->
        (whiten(r.getSeq[Double](1), l1, lam1),
          whiten(r.getSeq[Double](1), l2, lam2)))
      .toMap
    val got = SimilarityQueries.queries("pca_whiten_2d")(spark, sf0001)
      .collect()
      .map(r => r.getLong(0) ->
        (r.getAs[Double]("w1"), r.getAs[Double]("w2"))).toMap
    assert(got === expected)
  }

  test("embedding_isotropy: one fixture-served diagnostic row with the " +
      "spectral invariants (λ1 ≥ λ2 > 0, explained shares inside the trace)") {
    val rows = SimilarityQueries.queries("embedding_isotropy")(spark, sf0001)
      .collect()
    assert(rows.length === 1)
    val r = rows.head
    assert(r.getAs[Long]("n_dims") === 64L)
    val trace = r.getAs[Double]("trace")
    val l1 = r.getAs[Double]("lambda1")
    val l2 = r.getAs[Double]("lambda2")
    assert(trace > 0.0)
    assert(l1 >= l2 && l2 > 0.0)
    assert(r.getAs[Double]("anisotropy") >= 1.0)
    val e1 = r.getAs[Double]("explained1")
    val e2 = r.getAs[Double]("explained2")
    assert(e1 >= e2 && e2 > 0.0 && e1 + e2 <= 1.0 + 1e-9)
    assert(r.getAs[Double]("mean_norm") >= 0.0)
  }

  test("weighted_jaccard: one row per LSH candidate pair, scores in [0,1], " +
      "and never above the set-Jaccard upper structure (w_common bounds)") {
    val docs = Tables.documents(spark, sf0001)
    val nCand = graft.dedup.DocDedup.lshCandidatePairs(docs).count()
    val rows = DedupQueries.queries("weighted_jaccard")(spark, sf0001).collect()
    assert(rows.length.toLong === nCand)
    rows.foreach { r =>
      val wj = r.getAs[Double]("weighted_jaccard")
      assert(wj >= 0.0 && wj <= 1.0, r.toString)
      assert(r.getAs[Long]("w_common") >= 0L)
    }
  }

  test("isotonic_calibration: the minimax form equals driver-side PAV on " +
      "violator-heavy synthetic bins and conserves positive mass") {
    import spark.implicits._
    // rates 0.1, 0.5, 0.3, 0.2, 0.8, 0.6 — two violator runs to pool
    val raw = Seq(
      (0L, 10L, 1L), (1L, 10L, 5L), (2L, 10L, 3L),
      (3L, 10L, 2L), (4L, 10L, 8L), (5L, 10L, 6L))
    val got = graft.ml.Eval.isotonicFit(raw.toDF("bin", "n", "n_pos"))
      .orderBy(org.apache.spark.sql.functions.col("bin"))
      .collect().map(r => (r.getLong(0), r.getAs[Double]("fitted")))
    // driver-side PAV reference: pool adjacent violators until monotone
    case class Blk(var n: Long, var p: Long, var len: Int)
    val blocks = scala.collection.mutable.ArrayBuffer[Blk]()
    raw.foreach { case (_, n, p) =>
      blocks += Blk(n, p, 1)
      while (blocks.length >= 2 &&
          blocks(blocks.length - 2).p * blocks.last.n >=
            blocks.last.p * blocks(blocks.length - 2).n) {
        val b = blocks.remove(blocks.length - 1)
        blocks.last.n += b.n; blocks.last.p += b.p; blocks.last.len += b.len
      }
    }
    val ref = blocks.flatMap(b =>
      Seq.fill(b.len)(math.floor(b.p.toDouble / b.n.toDouble * 1e6 + 0.5) / 1e6))
    assert(got.map(_._2).toSeq === ref.toSeq)
    // monotone and mass-conserving
    got.sliding(2).foreach { case Array((_, a), (_, b)) => assert(a <= b) }
    val mass = got.zip(raw).map { case ((_, f), (_, n, _)) => f * n }.sum
    assert(math.abs(mass - raw.map(_._3).sum.toDouble) <= 1e-3, s"mass $mass")
  }

  test("cms_merge_days: day-summed counters give BIT-identical estimates " +
      "to the one-shot sketch (integer linearity)") {
    val rows = SketchQueries.queries("cms_merge_days")(spark, sf0001).collect()
    val nUsers = Tables.events(spark, sf0001)
      .select(org.apache.spark.sql.functions.countDistinct(
        org.apache.spark.sql.functions.col("user_id"))).head().getLong(0)
    assert(rows.length.toLong === math.min(20L, nUsers))
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("merge_exact") === 1L, r.toString)
      // CMS never underestimates
      assert(r.getAs[Long]("n_cms_direct") >= r.getAs[Long]("n_exact"), r.toString)
    }
  }

  test("cov_merge_shards: merged shard moments agree with the one-shot " +
      "centered covariance up to quantization") {
    // uncentered-merge and centered-one-shot are the same population
    // covariance in exact arithmetic; only the 1e-7 quantization points
    // differ, so cellwise agreement must be tight
    val merged = SimilarityQueries.queries("cov_merge_shards")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Double]("cov")).toMap
    val oneShot = SimilarityQueries.queries("embedding_covariance")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Double]("cov")).toMap
    assert(merged.size === 2080 && oneShot.size === 2080)
    val maxDiff = oneShot.map { case (k, v) => math.abs(merged(k) - v) }.max
    assert(maxDiff <= 1e-4, s"max cellwise diff $maxDiff")
    // diagonal cells are variances: non-negative in both forms
    (0L until 64L).foreach { d =>
      assert(merged((d, d)) >= -1e-6, s"dim $d variance ${merged((d, d))}")
    }
  }
}
