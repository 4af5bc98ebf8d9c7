package graft.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Just enough JSON to write the run record. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
  def num(l: Long): String = l.toString
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
}

/** Wall clock for spans and Spark events on one axis: nanoseconds since
  * the epoch, anchored once so spans keep nanoTime's resolution while
  * listener events (epoch milliseconds) land on the same scale. */
object Clock {
  private val base = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def nowNs(): Long = System.nanoTime() + base
}

final class Span(val id: Long, val name: String, val parent: Long,
    val startNs: Long, val attrs: Seq[(String, String)]) {
  var endNs: Long = startNs
}

/** In-memory spans around the harness's calls into the program. While
  * tracing is active every span sets the `perfbench.span` job property
  * on the calling thread, so each Spark job the call fires — including
  * jobs fired while a query is still being constructed — is attributed
  * to the innermost open span. Inactive, a span is just the call. */
final class Tracer(sc: SparkContext, val runId: String) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var nextId = 1L
  var active = false

  def span[T](name: String, attrs: (String, String)*)(f: => T): T =
    if (!active) f
    else {
      val sp = new Span(nextId, name, stack.headOption.map(_.id).getOrElse(0L),
        Clock.nowNs(), attrs)
      nextId += 1
      spans += sp
      stack = sp :: stack
      val prev = sc.getLocalProperty(Tracer.SpanProp)
      sc.setLocalProperty(Tracer.SpanProp, sp.id.toString)
      try f
      finally {
        sp.endNs = Clock.nowNs()
        stack = stack.tail
        sc.setLocalProperty(Tracer.SpanProp, prev)
      }
    }

  /** Id of the innermost open span (0 when none or inactive). */
  def current: Long = if (active) stack.headOption.map(_.id).getOrElse(0L) else 0L

  def json(t0Ns: Long): String = Json.arr(spans.map { s =>
    Json.obj(Seq(
      "id" -> Json.num(s.id), "name" -> Json.str(s.name),
      "parent" -> Json.num(s.parent), "run" -> Json.str(runId),
      "start" -> Json.num((s.startNs - t0Ns) / 1e9),
      "end" -> Json.num((s.endNs - t0Ns) / 1e9)) ++
      s.attrs.map { case (k, v) => k -> Json.str(v) }: _*)
  })
}

object Tracer {
  val SpanProp = "perfbench.span"
}

/** Per-job, per-stage and per-task accounting from the scheduler's
  * events. Jobs carry the span id the harness set when they were
  * submitted; stages and tasks reach their span through their job. */
final class LayerListener extends SparkListener {
  final class JobRec(val id: Int, val span: Long, val startMs: Long) {
    var endMs: Long = startMs
  }
  final class StageRec(val id: Int, val job: Int) {
    var tasks = 0
    var cpuNs = 0L
    var runMs = 0L
    var gcMs = 0L
    var schedMs = 0L
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var shuffleRecords = 0L
    var spill = 0L
    var input = 0L
    var output = 0L
    val durations = mutable.ArrayBuffer.empty[Long]
  }
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stages = mutable.LinkedHashMap.empty[Int, StageRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Tracer.SpanProp)))
      .map(_.toLong).getOrElse(0L)
    jobs(e.jobId) = new JobRec(e.jobId, span, e.time)
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val job = stageJob.getOrElse(e.stageId, -1)
    val st = stages.getOrElseUpdate(e.stageId, new StageRec(e.stageId, job))
    val m = e.taskMetrics
    val info = e.taskInfo
    st.tasks += 1
    st.durations += info.duration
    if (m != null) {
      st.cpuNs += m.executorCpuTime
      st.runMs += m.executorRunTime
      st.gcMs += m.jvmGCTime
      st.schedMs += math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime)
      st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      st.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
      st.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      st.spill += m.diskBytesSpilled
      st.input += m.inputMetrics.bytesRead
      st.output += m.outputMetrics.bytesWritten
    }
  }

  def json(t0Ns: Long): String = synchronized {
    def sec(ms: Long) = Json.num((ms * 1000000L - t0Ns) / 1e9)
    val js = jobs.values.filter(_.span != 0L).map { j =>
      Json.obj("id" -> Json.num(j.id.toLong), "span" -> Json.num(j.span),
        "start" -> sec(j.startMs), "end" -> sec(j.endMs))
    }
    val traced = jobs.values.filter(_.span != 0L).map(_.id).toSet
    val ss = stages.values.filter(s => traced.contains(s.job)).map { s =>
      val d = s.durations.sorted
      Json.obj("id" -> Json.num(s.id.toLong), "job" -> Json.num(s.job.toLong),
        "tasks" -> Json.num(s.tasks.toLong),
        "cpu_s" -> Json.num(s.cpuNs / 1e9), "run_s" -> Json.num(s.runMs / 1e3),
        "gc_s" -> Json.num(s.gcMs / 1e3), "sched_s" -> Json.num(s.schedMs / 1e3),
        "shuffle_write" -> Json.num(s.shuffleWrite),
        "shuffle_read" -> Json.num(s.shuffleRead),
        "shuffle_records" -> Json.num(s.shuffleRecords),
        "spill" -> Json.num(s.spill), "input" -> Json.num(s.input),
        "output" -> Json.num(s.output),
        "task_max_s" -> Json.num(d.last / 1e3),
        "task_med_s" -> Json.num(d(d.length / 2) / 1e3))
    }
    Json.obj("jobs" -> Json.arr(js), "stages" -> Json.arr(ss))
  }
}

/** Switches span recording and the listener on and off together, so
  * the untraced half of a traced run pays for neither. */
final class Tracing(sc: SparkContext, val tracer: Tracer) {
  val listener = new LayerListener
  def set(on: Boolean): Unit = if (on != tracer.active) {
    if (on) sc.addSparkListener(listener)
    else {
      org.apache.spark.PerfbenchBus.drain(sc)
      sc.removeSparkListener(listener)
    }
    tracer.active = on
  }
}
