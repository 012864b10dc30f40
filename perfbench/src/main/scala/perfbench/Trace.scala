package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer. Times are epoch milliseconds, the clock
  * Spark stamps its job events with, so spans and jobs share one axis. */
final case class Span(
    id: Int, parent: Int, name: String, module: String, pass: Int,
    startMs: Double, endMs: Double)

/** One Spark job, attributed to the span whose call submitted it. */
final class JobRec(val id: Int, val span: Int, val startMs: Long) {
  var endMs: Long = startMs
  var stages = 0
  var tasks = 0
  var taskNs = 0L
  var inputRows = 0L
  var inputBytes = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var peakExecMem = 0L
}

/** Span recorder plus the Spark listener that turns each job into a child
  * span of the benchmark call that submitted it.
  *
  * Every span sets the thread-local property [[SpanKey]] for the duration
  * of its call; Spark copies local properties into each job it submits,
  * so a job names its parent span exactly, with no guessing by time.
  * Spans and jobs are kept in memory and written once when the run ends.
  *
  * With `enabled = false` (the timing runs) no listener is attached, no
  * property is set and nothing is recorded: [[span]] only times. */
final class Tracer(sc: SparkContext) extends SparkListener {
  private val SpanKey = "perfbench.span"
  private val t0Nanos = System.nanoTime()
  private val t0Ms = System.currentTimeMillis().toDouble
  private def nowMs: Double = t0Ms + (System.nanoTime() - t0Nanos) / 1e6

  private var enabled = false
  private var nextId = 1
  private val stack = mutable.Stack[Int](0)
  val spans = mutable.ArrayBuffer.empty[Span]
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, JobRec]

  def start(): Unit = if (!enabled) { enabled = true; sc.addSparkListener(this) }

  def stop(): Unit = if (enabled) {
    org.apache.spark.PerfbenchBus.drain(sc)
    sc.removeSparkListener(this)
    enabled = false
  }

  /** Runs `f` and returns its result with its wall time in seconds. */
  def span[A](name: String, module: String = "", pass: Int = -1)(f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    if (!enabled) {
      val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    } else {
      val id = nextId
      nextId += 1
      val parent = stack.top
      val start = nowMs
      stack.push(id)
      sc.setLocalProperty(SpanKey, id.toString)
      try {
        val a = f
        (a, (System.nanoTime() - t0) / 1e9)
      } finally {
        stack.pop()
        sc.setLocalProperty(SpanKey, if (parent == 0) null else parent.toString)
        spans += Span(id, parent, name, module, pass, start, nowMs)
      }
    }
  }

  // listener callbacks run on the bus thread; the maps are only read
  // after stop() has drained the bus
  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
      .map(_.toInt).getOrElse(0)
    val j = new JobRec(e.jobId, span, e.time)
    jobs(e.jobId) = j
    e.stageIds.foreach(stageJob(_) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- stageJob.get(e.stageId); m <- Option(e.taskMetrics)) {
      j.tasks += 1
      j.taskNs += m.executorRunTime * 1000000L
      j.inputRows += m.inputMetrics.recordsRead
      j.inputBytes += m.inputMetrics.bytesRead
      j.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      j.peakExecMem = math.max(j.peakExecMem, m.peakExecutionMemory)
    }
  }

  def spansJson: String = spans.map { s =>
    Json.obj("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "module" -> s.module,
      "pass" -> s.pass, "start_ms" -> s.startMs, "end_ms" -> s.endMs)
  }.mkString("[", ",", "]")

  def jobsJson: String = synchronized {
    jobs.values.map { j =>
      Json.obj("id" -> j.id, "span" -> j.span, "start_ms" -> j.startMs, "end_ms" -> j.endMs,
        "stages" -> j.stages, "tasks" -> j.tasks, "task_s" -> j.taskNs / 1e9,
        "input_rows" -> j.inputRows, "input_bytes" -> j.inputBytes,
        "shuffle_read_bytes" -> j.shuffleReadBytes,
        "shuffle_write_bytes" -> j.shuffleWriteBytes,
        "spill_bytes" -> j.spillBytes, "peak_exec_mem_bytes" -> j.peakExecMem)
    }.mkString("[", ",", "]")
  }
}

/** Just enough JSON output for the run record (numbers, strings, nested
  * pre-rendered values); the harness reads it back with Python's json. */
object Json {
  final case class Raw(s: String)

  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').result()
  }

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case Raw(s) => s
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(kvs: (String, Any)*): String =
    kvs.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}
