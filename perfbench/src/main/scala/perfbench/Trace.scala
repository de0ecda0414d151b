package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Benchmark-side tracing: spans recorded around the public calls the
  * workloads make, kept in memory and written out when the run ends.
  *
  * A span tags the Spark jobs submitted inside it with the job group
  * `pb<spanId>`; [[JobListener]] aggregates task metrics per job, so the
  * post-processing can charge each job to the span that caused it. Jobs that
  * Spark submits under its own group (broadcast exchanges) are charged by
  * time to the innermost span open when they started.
  *
  * The listener is attached only while a traced op runs, and the bus is
  * drained before it is detached, so untraced ops carry no tracing cost at
  * all and the traced run can compare the two.
  *
  * The client is single-threaded: spans nest strictly.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  final class Span(val id: Int, val parent: Int, val op: Int, val name: String,
      val start: Long) { var end: Long = -1L }

  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var recording = false
  private var currentOp = -1

  private val listener = new JobListener

  /** Run `body` as op `id`; its spans and jobs are recorded only when
    * `traced`. Call [[detach]] after the op's time has been taken.
    */
  def op[T](id: Int, name: String, traced: Boolean)(body: => T): T = {
    recording = enabled && traced
    currentOp = id
    if (recording) sc.addSparkListener(listener)
    try span(name)(body) finally currentOp = -1
  }

  /** Delivers the traced op's pending events, then detaches the listener. */
  def detach(): Unit = if (recording) {
    org.apache.spark.ListenerBusDrain(sc)
    sc.removeSparkListener(listener)
    recording = false
  }

  def jobRecords: Seq[java.util.Map[String, Any]] = listener.records

  def span[T](name: String)(body: => T): T =
    if (!recording) body
    else {
      val s = new Span(spans.size, stack.headOption.fold(-1)(_.id), currentOp, name, System.nanoTime())
      spans += s
      stack = s :: stack
      sc.setJobGroup(s"pb${s.id}", name)
      try body
      finally {
        s.end = System.nanoTime()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(s"pb${p.id}", p.name)
          case None    => sc.clearJobGroup()
        }
      }
    }

  def spanRecords: Seq[java.util.Map[String, Any]] = spans.toSeq.map { s =>
    Json.obj("id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
      "start_ns" -> s.start, "end_ns" -> s.end)
  }
}

/** Per-job task-metric totals, keyed by job id. Event times are wall-clock
  * milliseconds; they are mapped onto the tracer's `System.nanoTime` axis
  * through one offset taken when the listener is created.
  */
final class JobListener extends SparkListener {
  private val wall0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  private def toNanos(ms: Long): Long = nano0 + (ms - wall0) * 1000000L

  final class Job(val id: Int, val span: Int, val start: Long) {
    var end = -1L
    var tasks = 0L
    var runMs = 0L
    var wallMs = 0L
    var gcMs = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
    var inputBytes = 0L
    var outputBytes = 0L
  }

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    val span = group.filter(_.startsWith("pb")).map(_.drop(2).toInt).getOrElse(-1)
    jobs(e.jobId) = new Job(e.jobId, span, toNanos(e.time))
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = toNanos(e.time))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (jid <- stageJob.get(e.stageId); j <- jobs.get(jid)) {
      j.tasks += 1
      j.wallMs += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        j.runMs += m.executorRunTime
        j.gcMs += m.jvmGCTime
        j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.diskBytesSpilled
        j.inputBytes += m.inputMetrics.bytesRead
        j.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  def records: Seq[java.util.Map[String, Any]] = synchronized {
    jobs.values.toSeq.map { j =>
      Json.obj("id" -> j.id, "span" -> j.span, "start_ns" -> j.start, "end_ns" -> j.end,
        "tasks" -> j.tasks, "task_run_ms" -> j.runMs, "task_wall_ms" -> j.wallMs,
        "gc_ms" -> j.gcMs, "shuffle_bytes" -> j.shuffleBytes, "spill_bytes" -> j.spillBytes,
        "input_bytes" -> j.inputBytes, "output_bytes" -> j.outputBytes)
    }
  }
}
