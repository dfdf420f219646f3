package pipebench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{GraftSession, SparkEntry}
import pipebench.PipelineBench.{bytesRead, cpuSeconds, emit, timed}

/** One benchmark run of the query engine mix, in one driver JVM.
  *
  *  1. set-up: session start ("[bench] session"), then the oracle pass:
  *     each query's output is written as parquet under `outDir`, with
  *     `oracle_sql.json` beside it, for the DuckDB check that follows the
  *     run. This pass runs cold: class loading, JIT and whole-stage codegen
  *     are paid once per JVM and would otherwise land on whichever timed
  *     query first touches an operator. Each query prints one "[bench]
  *     oracle" line with its cold wall time; "[bench] ready" ends the set-up;
  *  2. timed passes, until `seconds` have passed and at least one pass has
  *     run. Each query runs to the `noop` sink, which materializes every
  *     output row and column; `count()` would let Catalyst prune columns and
  *     whole windows. Each query prints one "[bench] q" line, each pass one
  *     "[bench] pass" line with its wall time, the CPU time and the bytes the
  *     JVM read.
  *
  * The queries come in family order (each family is contiguous), so with a
  * spans file each family of each timed pass is one `queries.<family>`
  * span. Launch traced runs with `-Dspark.extraListeners=pipebench.SpanListener`.
  *
  * Usage: QueryBench <sfDir> <outDir> <seconds> <family:query,...> [<spans.json>]
  */
object QueryBench {

  def main(args: Array[String]): Unit = {
    require(args.length == 4 || args.length == 5,
      "usage: QueryBench <sfDir> <outDir> <seconds> <family:query,...> [<spans.json>]")
    val processStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val Array(sfDir, outDir, secondsArg, list) = args.take(4)
    val spansOut = args.lift(4)
    val order = list.split(",").toSeq.map { fq =>
      val Array(family, name) = fq.split(":")
      (family, name, SparkEntry.queries.getOrElse(name, sys.error(s"no query $name")))
    }
    val families = order.map(_._1).distinct.map(f => f -> order.filter(_._1 == f))
    require(families.map(_._2.size).sum == order.size, "each family must be contiguous")

    Spans.record("jvm.start", processStart, System.currentTimeMillis())
    val spark = Spans.time("session.start") {
      // the codegen class cache is a static conf; sized as graft.Bench sizes
      // it for one session serving many distinct plans
      val s = GraftSession.builder()
        .config("spark.sql.codegen.cache.maxEntries", "10000")
        .appName("graft-queries").getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      s
    }
    emit("session")
    def attempt(name: String)(body: => Unit): Option[String] =
      try { body; None } catch { case e: Exception =>
        e.printStackTrace()
        Some(s"$name: " + e.toString.linesIterator.nextOption().getOrElse("").take(200))
      }

    order.foreach { case (family, name, fn) =>
      val secs = timed(attempt(name) {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      })
      emit("oracle", "family" -> family, "query" -> name, "s" -> secs)
    }
    val oracle = order.map { case (_, name, _) =>
      s"${Spans.str(name)}: ${Spans.str(SparkEntry.oracleSql.getOrElse(name, ""))}"
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracle.mkString("{", ",\n", "}\n"))
    println("[bench] ready"); Console.out.flush()

    def noop(fn: (SparkSession, String) => DataFrame): Unit =
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    val deadline = System.nanoTime() + (secondsArg.toDouble * 1e9).toLong
    var pass = 0
    while (pass == 0 || System.nanoTime() < deadline) {
      val read0 = bytesRead()
      val cpu0 = cpuSeconds()
      val passSecs = timed(families.foreach { case (family, qs) =>
        Spans.time(s"queries.$family")(qs.foreach { case (_, name, fn) =>
          var error: Option[String] = None
          val secs = timed { error = attempt(name)(noop(fn)) }
          emit("q", Seq("pass" -> pass, "family" -> family, "query" -> name, "s" -> secs) ++
            error.toSeq.flatMap(m => Seq("failed" -> true, "error" -> m)): _*)
        })
      })
      emit("pass", "pass" -> pass, "s" -> passSecs, "cpu_s" -> (cpuSeconds() - cpu0),
        "read_bytes" -> (bytesRead() - read0))
      pass += 1
    }
    spark.stop() // drains the listener bus; the listener keeps its records
    spansOut.foreach(Spans.write(_, processStart))
  }
}
