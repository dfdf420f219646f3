package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session, lazily built). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sf0001 = "/root/testdata/sf0.001"
  val sf001 = "/root/testdata/sf0.01"
}

object SparkSpec {

  /** The description of each Spark job `body` starts, in start order, or
    * its call site when it has none. The listener bus delivers in order, so
    * once a marker job run after `body` is seen, so is every job `body`
    * started.
    */
  def jobsStarted(spark: SparkSession)(body: => Unit): Seq[String] = {
    val descriptions = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        descriptions.add(Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.job.description"))
            .orElse(Option(p.getProperty("callSite.short")))).getOrElse(""))
    }
    val marker = "jobs-started-marker"
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      spark.sparkContext.setJobDescription(marker)
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setJobDescription(null)
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!descriptions.contains(marker) && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(descriptions.contains(marker), "the marker job was not seen in 30 s")
      descriptions.toArray(Array.empty[String]).toSeq.takeWhile(_ != marker)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  lazy val session: SparkSession = {
    val s = GraftSession.base(4)
      .appName("graft-test")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
