package pipebench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

/** Span writer: spans are kept in memory while the process runs and written
  * once, as one JSON file, when it ends. Each span gets the Spark work that
  * started inside it (see [[SpanListener]]) and, per SQL execution, a
  * record of that execution's own counts.
  *
  * Counters per span:
  *  - s: wall time;
  *  - jobs, tasks;
  *  - files_read, bytes_read: files the scans listed for reading, bytes
  *    the tasks read;
  *  - shuffle_bytes: shuffle bytes written;
  *  - files_written, bytes_written;
  *  - driver_gap_s: wall time in which no job of the span ran (planning,
  *    file listing, driver-side work).
  */
object Spans {

  final case class Span(name: String, start: Long, end: Long)

  private val spans = mutable.ArrayBuffer[Span]()

  def record(name: String, start: Long, end: Long): Unit = synchronized {
    spans += Span(name, start, end)
  }

  def time[T](name: String)(body: => T): T = {
    val start = System.currentTimeMillis()
    try body finally record(name, start, System.currentTimeMillis())
  }

  private[pipebench] def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** A JSON object; string values are quoted, lists are arrays of raw JSON. */
  private[pipebench] def obj(fields: (String, Any)*): String = fields.map {
    case (k, v: String) => s"${str(k)}: ${str(v)}"
    case (k, v: Seq[_]) => s"${str(k)}: ${v.mkString("[", ", ", "]")}"
    case (k, v) => s"${str(k)}: $v"
  }.mkString("{", ", ", "}")

  /** Seconds of [start, end] not covered by any of the intervals. */
  private def uncovered(start: Long, end: Long, intervals: Seq[(Long, Long)]): Double = {
    var covered = 0L
    var reach = start
    intervals.map { case (a, b) => (math.max(a, start), math.min(b, end)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > reach) { covered += b - math.max(a, reach); reach = b }
      }
    (end - start - covered) / 1000.0
  }

  def write(path: String, processStart: Long): Unit = synchronized {
    val l = SpanListener.instance
    require(l != null, "no SpanListener: launch with -Dspark.extraListeners=pipebench.SpanListener")
    val (jobs, execs, files) =
      l.synchronized((l.jobs.values.toVector, l.execs.values.toVector, l.fileCounts()))
    def inSpan(sp: Span, t: Long) = t >= sp.start && t <= sp.end
    val body = spans.map { sp =>
      val js = jobs.filter(j => inSpan(sp, j.start))
      val es = execs.filter(e => inSpan(sp, e.start))
      val sql = es.map { e =>
        val ej = jobs.filter(_.exec.contains(e.id))
        val (fr, fw) = files.getOrElse(e.id, (0L, 0L))
        obj("id" -> e.id, "description" -> e.description,
          "s" -> (e.end - e.start) / 1000.0, "jobs" -> ej.size,
          "tasks" -> ej.map(_.tasks).sum, "files_read" -> fr,
          "bytes_read" -> ej.map(_.bytesRead).sum,
          "shuffle_bytes" -> ej.map(_.shuffleBytes).sum,
          "files_written" -> fw, "bytes_written" -> ej.map(_.bytesWritten).sum)
      }
      obj("name" -> sp.name, "start_ms" -> sp.start, "end_ms" -> sp.end,
        "s" -> (sp.end - sp.start) / 1000.0,
        "jobs" -> js.size, "tasks" -> js.map(_.tasks).sum,
        "files_read" -> es.map(e => files.getOrElse(e.id, (0L, 0L))._1).sum,
        "bytes_read" -> js.map(_.bytesRead).sum,
        "shuffle_bytes" -> js.map(_.shuffleBytes).sum,
        "files_written" -> es.map(e => files.getOrElse(e.id, (0L, 0L))._2).sum,
        "bytes_written" -> js.map(_.bytesWritten).sum,
        "driver_gap_s" -> uncovered(sp.start, sp.end, js.map(j => (j.start, j.end))),
        "sql" -> sql)
    }
    val json = s"""{"process_start_ms": $processStart, "spans": ${body.mkString("[\n", ",\n", "\n]")}}\n"""
    Files.write(Paths.get(path), json.getBytes(StandardCharsets.UTF_8))
  }
}
