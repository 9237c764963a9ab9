package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** In-memory span recorder. Spans are opened by the benchmark around each
  * call into an engine layer; while one is open its id rides on the
  * driver thread's Spark local properties, so every Spark job the call
  * submits is tagged with the span that caused it ([[JobListener]]).
  * Times are epoch nanoseconds, comparable with the listener's job times.
  */
final class Tracer(sc: SparkContext) {
  import Tracer.Span

  private val baseEpochNs = System.currentTimeMillis() * 1000000L
  private val baseNano = System.nanoTime()
  def nowNs: Long = baseEpochNs + (System.nanoTime() - baseNano)

  var enabled = false
  val spans = mutable.ArrayBuffer.empty[Span]
  private var current = 0 // 0 = no open span
  private var nextId = 1

  /** Run `body` inside span `name`; `attrs` may read the body's result. */
  def span[A](name: String, req: Int = -1, attrs: Map[String, Any] = Map.empty)(body: => A): A = {
    if (!enabled) return body
    val id = nextId; nextId += 1
    val parent = current
    current = id
    sc.setLocalProperty(Tracer.SpanProperty, id.toString)
    val t0 = nowNs
    try body
    finally {
      val t1 = nowNs
      current = parent
      sc.setLocalProperty(Tracer.SpanProperty, if (parent == 0) null else parent.toString)
      spans += Span(id, parent, name, req, t0, t1, attrs)
    }
  }

  /** Attach attributes known only after the span closed. */
  def annotateLast(name: String, attrs: Map[String, Any]): Unit =
    spans.lastIndexWhere(_.name == name) match {
      case -1 => ()
      case i  => spans(i) = spans(i).copy(attrs = spans(i).attrs ++ attrs)
    }

  def toJson: Seq[Map[String, Any]] = spans.toSeq.map { s =>
    Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "req" -> s.req,
      "t0" -> s.t0, "t1" -> s.t1, "attrs" -> s.attrs)
  }
}

object Tracer {
  val SpanProperty = "perfbench.span"

  final case class Span(id: Int, parent: Int, name: String, req: Int,
                        t0: Long, t1: Long, attrs: Map[String, Any])
}

/** Spark listener recording one child span per job (tagged with the
  * benchmark span that submitted it and labelled by its SQL execution's
  * call site) plus the job's summed task counters.
  */
final class JobListener extends SparkListener {
  final class Job(val id: Int, val span: Int, val execId: Long, val t0: Long) {
    @volatile var t1: Long = -1L
    var runMs = 0L
    var inputBytes = 0L
    var shuffleWrite = 0L
    var spill = 0L
    var outputBytes = 0L
  }

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageToJob = mutable.HashMap.empty[Int, Int]
  private val execDesc = mutable.HashMap.empty[Long, String]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    def prop(k: String): Option[String] = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val span = prop(Tracer.SpanProperty).map(_.toInt).getOrElse(0)
    val exec = prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L)
    jobs(e.jobId) = new Job(e.jobId, span, exec, e.time * 1000000L)
    e.stageIds.foreach(s => stageToJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.t1 = e.time * 1000000L)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (jid <- stageToJob.get(e.stageId); j <- jobs.get(jid); m <- Option(e.taskMetrics)) {
      j.runMs += m.executorRunTime
      j.inputBytes += m.inputMetrics.bytesRead
      j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      j.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized { execDesc(s.executionId) = s.description }
    case _ => ()
  }

  /** Wait until every started job has ended and the event stream is
    * quiet (listener events are delivered asynchronously).
    */
  def drain(timeoutMs: Long = 10000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var last = -1
    var stable = 0
    while (System.currentTimeMillis() < deadline && stable < 3) {
      val (n, open) = synchronized { (jobs.size, jobs.values.count(_.t1 < 0)) }
      if (open == 0 && n == last) stable += 1 else stable = 0
      last = n
      Thread.sleep(50)
    }
  }

  def toJson: Seq[Map[String, Any]] = synchronized {
    jobs.values.toSeq.map { j =>
      Map("id" -> j.id, "span" -> j.span, "exec" -> j.execId,
        "desc" -> execDesc.getOrElse(j.execId, ""),
        "t0" -> j.t0, "t1" -> j.t1, "run_ms" -> j.runMs,
        "input_bytes" -> j.inputBytes, "shuffle_write" -> j.shuffleWrite, "spill" -> j.spill,
        "output_bytes" -> j.outputBytes)
    }
  }
}
