package graft
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Driver benchmark: times every SparkEntry query at SPARK_GRAFT_SF_DIR and
  * emits ONE JSON line on stdout (also written to bench.json in the cwd so a
  * log-wrapping launcher can still recover it). Query failures are reported
  * in an "errs" field and on stderr — never swallowed, a broken query must
  * not bench as ~0 s.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // dev-only subset filter (mirrors Verify's): SPARK_GRAFT_QUERIES=a,b,c
    // times just those queries for isolation runs; the driver never sets it
    val onlyQueries = sys.env.get("SPARK_GRAFT_QUERIES").map(_.split(',').toSet)
    val spark = GraftSession.base(cpus.toInt)
      .config("spark.sql.adaptive.enabled", "true")
      .config(GraftSession.CodegenCache._1, GraftSession.CodegenCache._2)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val errs = scala.collection.mutable.LinkedHashMap[String, String]()
    val warmupErrs = scala.collection.mutable.LinkedHashMap[String, String]()
    def runQuery(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
        stage: String): Boolean =
      try { fn(spark, sfDir).count(); true } catch { case e: Throwable =>
        val sink = if (stage == "warmup") warmupErrs else errs
        sink(name) = e.toString.linesIterator.next().take(200)
        System.err.println(s"[bench] $stage $name FAILED: $e")
        e.printStackTrace()
        false
      }
    // Untimed warmup pass first: JVM classloading + whole-stage codegen for
    // an operator is paid once per JVM and would otherwise be attributed to
    // whichever query happens to touch it first (observed 5-15x inflation on
    // cold queries). The timed pass then measures steady-state execution.
    // Warmup failures are reported under their own key — a transient
    // warmup-only failure (scratch-dir setup etc.) must not mark a query
    // that timed clean as erroring.
    val benchQueries = onlyQueries
      .map(f => SparkEntry.queries.view.filterKeys(f).toMap)
      .getOrElse(SparkEntry.queries)
    benchQueries.foreach { case (name, fn) => runQuery(name, fn, "warmup") }
    // Three timed passes, min per query: guards the reported number against
    // one-off JVM events (GC storms, block-store eviction) observed to
    // inflate a single query by ~50x in long multi-query runs, and against
    // ambient machine load (observed to swing whole-run totals ~40%
    // between otherwise identical runs). A failed run yields no time — a
    // broken query must neither bench as ~0 s nor deflate the total.
    def timedPass(): Map[String, Option[Double]] = benchQueries.map { case (name, fn) =>
      val t0 = System.nanoTime()
      val ok = runQuery(name, fn, "timed")
      name -> (if (ok) Some((System.nanoTime() - t0) / 1e9) else None)
    }
    val passes = Seq(timedPass(), timedPass(), timedPass())
    // min over the passes that succeeded; a query with no clean pass is
    // excluded from queries/total and appears only in errs
    val results: Map[String, Double] = passes.head.keys.flatMap { k =>
      passes.flatMap(_(k)).reduceOption((a, b) => math.min(a, b)).map(k -> _)
    }.toMap
    // a query that failed one pass but timed clean in the other is flaky,
    // not broken: report it under transient_errs so errs keys always mean
    // "no clean timed pass"
    val transientErrs = errs.filter { case (k, _) => results.contains(k) }
    transientErrs.keys.foreach(errs.remove)
    def jstr(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    val qs = results.map { case (k, v) => s"${jstr(k)}:$v" }.mkString("{", ",", "}")
    val es = errs.map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }.mkString("{", ",", "}")
    val ws = warmupErrs.map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }.mkString("{", ",", "}")
    val ts = transientErrs.map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }.mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    // excluded = queries with no clean timed pass: they contribute nothing
    // to `total`, so consumers comparing totals across rounds must see the
    // count explicitly — a broken query must not masquerade as a perf win
    val excluded = benchQueries.size - results.size
    // additions-only scaling context for the cross-core-count comparison
    // (r18, VERDICT r17 #2): the bench honors $SPARK_GRAFT_CPUS (master and
    // shuffle partitions above), but at small SFs most inputs are single
    // small parquet files that plan 1-3 scan splits regardless of core
    // count, and the median query is dominated by per-job fixed cost — so
    // flat 8-vs-32-core ratios on the sub-second tail are a data-scale
    // artifact, not an ignored conf. Published machine-readably so the
    // driver can see the planned input parallelism it is ratio-ing over.
    val scanSplits = {
      val names = Seq("lineitem", "orders", "events", "documents", "embeddings")
      names.map { t =>
        val n =
          try spark.read.parquet(s"$sfDir/$t.parquet").rdd.getNumPartitions
          catch { case _: Throwable => -1 }
        s"${jstr(t)}:$n"
      }.mkString("{", ",", "}")
    }
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"errs":$es,"warmup_errs":$ws,"transient_errs":$ts,"excluded":$excluded,"cpus":$cpus,"input_scan_splits":$scanSplits,"sf":${jstr(sfDir)}}"""
    println(json)
    // Second, compact line (no per-query map): the full line at 70+ queries
    // can exceed a log-tail capture window and arrive front-truncated, so
    // always emit one short, self-contained JSON object last.
    val compact =
      s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size},"excluded":$excluded,"errs":$es,"sf":${jstr(sfDir)}}"""
    println(compact)
    Files.writeString(Paths.get("bench.json"), json + "\n" + compact + "\n")
    spark.stop()
  }
}
