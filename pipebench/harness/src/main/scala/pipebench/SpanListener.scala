package pipebench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui._

/** Records the raw Spark events of one process: jobs, the tasks of each
  * job, SQL executions and the SQL metrics the driver posts for them.
  *
  * Nothing is attributed while events arrive (the listener bus is
  * asynchronous, so "the span running now" is not the span that caused an
  * event). Attribution to spans happens afterwards, by time: a job or SQL
  * execution belongs to the span its start falls in, and a task belongs
  * to its job.
  *
  * Registered through `spark.extraListeners`, so it sees the session's
  * first events and the program needs no change.
  */
class SpanListener extends SparkListener {
  import SpanListener._

  SpanListener.instance = this

  private[pipebench] val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stageJob = mutable.Map[Int, Int]()
  private[pipebench] val execs = mutable.LinkedHashMap[Long, ExecRec]()
  private val metricNames = mutable.Map[Long, String]()
  private val driverUpdates = mutable.ArrayBuffer[(Long, Long, Long)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val exec = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong)
    jobs(e.jobId) = new JobRec(e.jobId, e.time, exec)
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- stageJob.get(e.stageId); job <- jobs.get(j)) {
      job.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        job.bytesRead += m.inputMetrics.bytesRead
        job.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        job.bytesWritten += m.outputMetrics.bytesWritten
      }
    }
  }

  private def names(p: SparkPlanInfo): Unit = {
    p.metrics.foreach(m => metricNames(m.accumulatorId) = m.name)
    p.children.foreach(names)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        execs(s.executionId) = new ExecRec(s.executionId,
          s.description.linesIterator.nextOption().getOrElse("").take(160), s.time)
        names(s.sparkPlanInfo)
      case u: SparkListenerSQLAdaptiveExecutionUpdate => names(u.sparkPlanInfo)
      case u: SparkListenerSQLAdaptiveSQLMetricUpdates =>
        u.sqlPlanMetrics.foreach(m => metricNames(m.accumulatorId) = m.name)
      case d: SparkListenerDriverAccumUpdates =>
        d.accumUpdates.foreach { case (id, v) => driverUpdates += ((d.executionId, id, v)) }
      case x: SparkListenerSQLExecutionEnd =>
        execs.get(x.executionId).foreach(_.end = x.time)
      case _ =>
    }
  }

  /** Files read and written per SQL execution, from the scan's "number of
    * files read" and the writer's "number of written files" driver metrics.
    */
  private[pipebench] def fileCounts(): Map[Long, (Long, Long)] = synchronized {
    driverUpdates.groupBy(_._1).map { case (exec, ups) =>
      def total(name: String) =
        ups.filter(u => metricNames.get(u._2).contains(name)).map(_._3).sum
      exec -> ((total(FilesRead), total(FilesWritten)))
    }
  }
}

object SpanListener {
  final val FilesRead = "number of files read"
  final val FilesWritten = "number of written files"

  @volatile private[pipebench] var instance: SpanListener = _

  final class JobRec(val id: Int, val start: Long, val exec: Option[Long]) {
    var end: Long = start
    var tasks, bytesRead, shuffleBytes, bytesWritten = 0L
  }

  final class ExecRec(val id: Long, val description: String, val start: Long) {
    var end: Long = start
  }
}
