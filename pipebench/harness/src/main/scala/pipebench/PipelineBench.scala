package pipebench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.{GraftSession, PipelineRunner, Tables}
import graft.forex.ForexIncremental
import graft.quality.Checks
import graft.store.IncrementalStore

/** One benchmark run of the daily pipeline, in one driver JVM.
  *
  *  1. set-up: session start ("[bench] session"), then
  *     `PipelineRunner.runOnce(fullRefresh = true)` builds the starting
  *     warehouse from the history bronze ("[bench] setup", with its wall
  *     time);
  *  2. timed operations, until `seconds` have passed and at least `minOps`
  *     have run: land
  *     one prepared bronze file (a new day, or a restated day), then run the
  *     pipeline once as `PipelineRunner.main` does after its session start:
  *     `runOnce` (daily, or `--date` backfill) and the two gold counts main
  *     prints. Each operation prints one "[bench] op" JSON line with its
  *     wall time, the JVM's CPU time, the bytes the JVM read over it and the warehouse files
  *     it changed;
  *  3. truth: the warehouse the correctness check that follows the run
  *     compares with, a full refresh of the final bronze. It is built at the
  *     end of the set-up, from `truthBronze`: the bronze as the first
  *     `minOps` operations leave it. That also warms the JIT for the
  *     operations, and its "[bench] truth" line gives its wall time, a
  *     second sample of a set-up. If more operations run, it is rebuilt from
  *     the final bronze after them.
  *
  * With a spans file, each operation instead makes the same calls one by
  * one under spans (see [[Spans]]); `runOnce`'s call sequence is mirrored
  * in [[tracedOp]], which must follow it if it changes. Launch traced runs
  * with `-Dspark.extraListeners=pipebench.SpanListener`.
  *
  * Usage: PipelineBench <bronzeDir> <warehouseDir> <truthBronzeDir> <truthDir>
  *          <seconds> <minOps> <opsFile> [<spans.json>]
  * Each ops line is `<prepared file>\t<bronze file>\t<daily|YYYY-MM-DD>`.
  */
object PipelineBench {

  private[pipebench] def timed(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  private[pipebench] def emit(tag: String, fields: (String, Any)*): Unit = {
    println(s"[bench] $tag " + Spans.obj(fields: _*))
    Console.out.flush()
  }

  private def report(spark: SparkSession, warehouse: String): Unit = {
    val gold = IncrementalStore.readTable(spark, s"$warehouse/fct_timeframes")
    println(s"[pipeline] gold rows=${gold.count()} " +
      s"partitions=${gold.select(IncrementalStore.PartitionCol).distinct().count()}")
  }

  /** PipelineRunner.runOnce's non-staging path, call by call, under spans. */
  private def tracedOp(spark: SparkSession, bronze: String, warehouse: String,
      date: Option[java.time.LocalDate], now: Timestamp): Unit = {
    val silverDir = s"$warehouse/stg_ticks"
    val goldDir = s"$warehouse/fct_timeframes"
    val events = Spans.time("bronze.read")(Tables.events(spark, bronze))
    date match {
      case Some(d) =>
        Spans.time("forex.silver")(ForexIncremental.runSilverBackfill(events, silverDir, d, now))
        Spans.time("forex.gold")(ForexIncremental.runGoldBackfill(spark, silverDir, goldDir, d, now))
      case None =>
        Spans.time("forex.silver")(ForexIncremental.runSilver(events, silverDir, now))
        Spans.time("forex.gold")(ForexIncremental.runGold(spark, silverDir, goldDir, now))
    }
    Spans.time("quality.checks") {
      Checks.enforce(
        IncrementalStore.readTable(spark, goldDir)
          .select("unique_id", "timeframe", "candle_start", "open_price",
            "high_price", "low_price", "close_price"),
        Checks.goldChecks)
    }
    Spans.time("runner.report")(report(spark, warehouse))
  }

  /** Bytes this JVM has read through read() calls so far (`rchar` of
    * /proc/self/io): parquet, footers, listings' CRCs, shuffle files.
    */
  private[pipebench] def bytesRead(): Long = {
    val src = scala.io.Source.fromFile("/proc/self/io")
    try src.getLines().collectFirst {
      case l if l.startsWith("rchar:") => l.stripPrefix("rchar:").trim.toLong
    }.getOrElse(0L)
    finally src.close()
  }

  /** CPU seconds this JVM has used so far, over all its threads: Spark's
    * tasks, the driver, JIT compilation and garbage collection.
    */
  private[pipebench] def cpuSeconds(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** Data files under `dir`, relative path -> (size, modification time). */
  private def listing(dir: File): Map[String, (Long, Long)] =
    if (!dir.exists()) Map.empty
    else {
      val root = dir.toPath
      val s = Files.walk(root)
      try s.iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
        .map(p => root.relativize(p).toString ->
          ((Files.size(p), Files.getLastModifiedTime(p).toMillis)))
        .toMap
      finally s.close()
    }

  def main(args: Array[String]): Unit = {
    require(args.length == 7 || args.length == 8, "usage: PipelineBench <bronzeDir> " +
      "<warehouseDir> <truthBronzeDir> <truthDir> <seconds> <minOps> <opsFile> [<spans.json>]")
    val processStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val Array(bronze, warehouse, truthBronze, truth, secondsArg, minOps, opsFile) = args.take(7)
    val spansOut = args.lift(7)
    val ops = Files.readAllLines(Paths.get(opsFile)).asScala.filter(_.nonEmpty).map(_.split("\t"))
    Spans.record("jvm.start", processStart, System.currentTimeMillis())
    val spark = Spans.time("session.start") {
      val s = GraftSession.builder().appName("graft-pipeline").getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      s
    }
    emit("session")
    emit("setup", "s" -> timed(Spans.time("setup.full_refresh") {
      PipelineRunner.runOnce(spark, bronze, warehouse, fullRefresh = true)
    }))
    // built before the operations, the truth also warms the JIT for them
    def buildTruth(from: String): Unit =
      emit("truth", "s" -> timed(PipelineRunner.runOnce(spark, from, truth, fullRefresh = true)))
    buildTruth(truthBronze)

    val deadline = System.nanoTime() + (secondsArg.toDouble * 1e9).toLong
    val wh = new File(warehouse)
    var done = 0
    while (done < ops.size && (done < minOps.toInt || System.nanoTime() < deadline)) {
      val Array(prepared, target, mode) = ops(done)
      val date = if (mode == "daily") None else Some(java.time.LocalDate.parse(mode))
      val before = listing(wh)
      Files.createDirectories(Paths.get(target).getParent)
      Files.copy(Paths.get(prepared), Paths.get(target), StandardCopyOption.REPLACE_EXISTING)
      val now = new Timestamp(System.currentTimeMillis())
      val read0 = bytesRead()
      val cpu0 = cpuSeconds()
      val t0 = System.nanoTime()
      val opStart = System.currentTimeMillis()
      val error =
        try {
          if (spansOut.isDefined) tracedOp(spark, bronze, warehouse, date, now)
          else {
            PipelineRunner.runOnce(spark, bronze, warehouse, now = now, backfillDate = date)
            report(spark, warehouse)
          }
          None
        } catch { case e: Exception =>
          e.printStackTrace()
          Some(e.toString.linesIterator.nextOption().getOrElse("").take(200))
        }
      val secs = (System.nanoTime() - t0) / 1e9
      val read = bytesRead() - read0
      val cpu = cpuSeconds() - cpu0
      Spans.record("op", opStart, System.currentTimeMillis())
      val after = listing(wh)
      val changed = (before.keySet ++ after.keySet).filter(k => before.get(k) != after.get(k))
      val fields = Seq("mode" -> mode, "s" -> secs, "cpu_s" -> cpu, "read_bytes" -> read,
        "files_written" -> after.keySet.count(k => before.get(k) != after.get(k)),
        "changed_dirs" -> changed.map(k => Spans.str(new File(k).getParent)).toSeq.sorted) ++
        error.toSeq.flatMap(m => Seq("failed" -> true, "error" -> m))
      emit("op", fields: _*)
      done += 1
    }
    if (done > minOps.toInt) buildTruth(bronze) // more operations ran than it covers
    spark.stop() // drains the listener bus; the listener keeps its records
    spansOut.foreach(Spans.write(_, processStart))
  }
}
