package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Driver-side invariants for the round-13 additions (the oracle pins
  * cross-engine equality; these pin the math itself).
  */
class Round13OpsSpec extends SparkSpec {

  test("pca_pc2: second component is unit-norm, orthogonal to pc1, with a " +
      "smaller eigenvalue") {
    val emb = graft.Tables.embeddings(spark, sf0001)
    val cov = graft.ml.PCA.covariance(emb)
    val pc1 = graft.ml.PCA.powerIteration(cov, iters = 4)
      .collect().map(r => r.getAs[Long]("dim") ->
        (r.getAs[Double]("loading"), r.getAs[Double]("eigenvalue"))).toMap
    val pc2 = graft.ml.PCA.secondComponent(cov, iters = 4)
      .collect().map(r => r.getAs[Long]("dim") ->
        (r.getAs[Double]("loading"), r.getAs[Double]("eigenvalue"))).toMap
    assert(pc1.keySet === pc2.keySet)
    val dot = pc1.keysIterator.map(d => pc1(d)._1 * pc2(d)._1).sum
    assert(math.abs(dot) < 0.02, s"pc1·pc2 = $dot should be ~0")
    val n2 = math.sqrt(pc2.valuesIterator.map(v => v._1 * v._1).sum)
    assert(math.abs(n2 - 1.0) < 1e-3, s"|pc2| = $n2")
    val (e1, e2) = (pc1.values.head._2, pc2.values.head._2)
    assert(e2 <= e1 + 1e-9, s"eig2 $e2 must not exceed eig1 $e1")
    assert(e2 > 0.0)
  }

  test("fs_em_round: probabilities stay in (0,1) even on the degenerate " +
      "sf0.001 pair space, EM raises the match prior coherence at sf0.01 " +
      "(m1 >= u1 for every discriminating field)") {
    // sf0.001's handful of LSH pairs exercises the degenerate-class
    // guards (a one-sided day must not kill the job); the coherence
    // property needs labels that carry signal, so it pins at sf0.01
    val tiny = DedupQueries.fsEmRound(spark, sf0001).collect()
    assert(tiny.map(_.getAs[String]("field")).toSeq === Seq("lang", "length", "source"))
    val rows = DedupQueries.fsEmRound(spark, sf001).collect()
    assert(rows.map(_.getAs[String]("field")).toSeq === Seq("lang", "length", "source"))
    (tiny ++ rows).foreach { r =>
      Seq("m0", "u0", "m1", "u1", "p1").foreach { c =>
        val v = r.getAs[Double](c)
        assert(v > 0.0 && v < 1.0, s"${r.getAs[String]("field")}.$c = $v")
      }
      assert(r.getAs[Double]("weight1") > 0.0)
    }
    // agreement must be likelier under match than non-match, before and after
    rows.foreach { r =>
      assert(r.getAs[Double]("m1") >= r.getAs[Double]("u1"),
        s"${r.getAs[String]("field")}: EM inverted m/u")
    }
    // the prior is the same value on every row
    assert(rows.map(_.getAs[Double]("p1")).distinct.length === 1)
  }

  test("stream_kll equals the batch merge exactly (sketch shipping changes " +
      "no bits)") {
    val batch = SketchQueries.queries("kll_merge_days")(spark, sf0001).collect()
    val streamed = PipelineQueries.streamKll(spark, sf0001).collect()
    assert(streamed.length === batch.length)
    streamed.zip(batch).foreach { case (a, b) => assert(a === b) }
  }

  test("kll_quantiles: n_rows equals the true per-type counts and estimates " +
      "are actual corpus values") {
    val out = KllQueries.kllQuantiles(spark, sf0001).collect()
    val truth = graft.Tables.events(spark, sf0001)
      .groupBy("event_type").agg(count(lit(1)).as("n"),
        collect_set(col("value")).as("vals"))
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("n"), r.getAs[Seq[Double]]("vals").toSet)).toMap
    out.foreach { r =>
      val (n, vals) = truth(r.getAs[String]("event_type"))
      assert(r.getAs[Long]("n_rows") === n)
      Seq("p50", "p90", "p99").foreach { c =>
        assert(vals.contains(r.getAs[Double](c)),
          s"$c must be an actual value of the type's corpus")
      }
    }
  }
}
