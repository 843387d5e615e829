package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer. Times are epoch milliseconds for the
  * listener join (Spark stamps job events in epoch ms) plus a nanoTime
  * duration for the span itself. The counters are filled by
  * [[SpanListener]] from the Spark jobs submitted while the span was the
  * innermost open span of the submitting thread.
  */
final class Span(val id: Long, val parent: Long, val name: String,
    val layer: String, val startMs: Long, val startNs: Long) {
  @volatile var endMs: Long = 0L
  @volatile var durNs: Long = 0L
  val attrs = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  var jobs, stages, tasks = 0
  var taskMs, cpuNs, gcMs, shuffleW, shuffleR, spill = 0L
  val jobIntervals = ArrayBuffer.empty[(Long, Long)]

  /** Wall milliseconds inside the span covered by at least one job. */
  def jobUnionMs: Long = {
    val iv = jobIntervals.map { case (a, b) => (math.max(a, startMs), math.min(b, endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total, curA, curB = 0L
    var open = false
    iv.foreach { case (a, b) =>
      if (open && a <= curB) curB = math.max(curB, b)
      else { if (open) total += curB - curA; curA = a; curB = b; open = true }
    }
    if (open) total += curB - curA
    total
  }
}

/** Span recorder. When tracing is off every call is a plain passthrough
  * (no listener, no local property, nothing kept), so untraced runs
  * measure the program alone.
  *
  * Attribution: entering a span sets the Spark local property
  * [[Trace.Key]] to the span id on the calling thread. Spark copies
  * local properties into every job it submits, and threads started
  * inside the span inherit them, so the listener maps each job to the
  * span that caused it no matter when the event is delivered.
  */
final class Trace(val on: Boolean, val runId: String) {
  private val spans = ArrayBuffer.empty[Span]
  private val byId = new ConcurrentHashMap[Long, Span]()
  private val nextId = new java.util.concurrent.atomic.AtomicLong(1)
  private val stack = new ThreadLocal[List[Span]] { override def initialValue = Nil }
  @volatile private var sc: SparkContext = _

  def attach(ctx: SparkContext): Unit = if (on) {
    sc = ctx
    ctx.addSparkListener(new SpanListener(this))
  }

  def lookup(id: Long): Span = byId.get(id)

  def apply[A](layer: String, name: String)(body: => A): A =
    if (!on) body
    else {
      val parent = stack.get.headOption
      val s = new Span(nextId.getAndIncrement(), parent.map(_.id).getOrElse(0L),
        name, layer, System.currentTimeMillis(), System.nanoTime())
      byId.put(s.id, s)
      spans.synchronized(spans += s)
      stack.set(s :: stack.get)
      val prevProp = if (sc != null) sc.getLocalProperty(Trace.Key) else null
      if (sc != null) sc.setLocalProperty(Trace.Key, s.id.toString)
      try body
      finally {
        s.durNs = System.nanoTime() - s.startNs
        s.endMs = System.currentTimeMillis()
        stack.set(stack.get.tail)
        if (sc != null) sc.setLocalProperty(Trace.Key, prevProp)
      }
    }

  /** Attach a measured attribute to the innermost open span. */
  def attr(key: String, v: Double): Unit =
    if (on) stack.get.headOption.foreach(s => s.attrs(key) = s.attrs.getOrElse(key, 0.0) + v)

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = if (on && sc != null) org.apache.spark.PerfbenchAccess.drain(sc)

  def all: Seq[Span] = spans.synchronized(spans.toList)

  def writeJsonLines(path: String): Unit = {
    drain()
    val w = new java.io.PrintWriter(path, "UTF-8")
    try all.foreach { s =>
      w.println(Json.render(Map(
        "run_id" -> runId, "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "layer" -> s.layer, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "dur_s" -> s.durNs / 1e9, "jobs" -> s.jobs, "stages" -> s.stages,
        "tasks" -> s.tasks, "task_s" -> s.taskMs / 1e3, "cpu_s" -> s.cpuNs / 1e9,
        "gc_s" -> s.gcMs / 1e3, "shuffle_write_b" -> s.shuffleW,
        "shuffle_read_b" -> s.shuffleR, "spill_b" -> s.spill,
        "job_union_s" -> s.jobUnionMs / 1e3, "attrs" -> s.attrs.toMap)))
    } finally w.close()
  }
}

object Trace {
  val Key = "perfbench.span"
}

/** Folds Spark job, stage and task events into the span that submitted
  * the job (see [[Trace]]). Events without the property (Spark's own
  * housekeeping) are ignored.
  */
final class SpanListener(trace: Trace) extends SparkListener {
  private val jobSpan = new ConcurrentHashMap[Int, Span]()
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stageSpan = new ConcurrentHashMap[Int, Span]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val id = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.Key)))
    id.flatMap(i => Option(trace.lookup(i.toLong))).foreach { s =>
      jobSpan.put(e.jobId, s)
      jobStart.put(e.jobId, e.time)
      e.stageIds.foreach(st => stageSpan.putIfAbsent(st, s))
      s.synchronized(s.jobs += 1)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val s = jobSpan.remove(e.jobId)
    val t0 = jobStart.remove(e.jobId)
    if (s != null && t0 != null) s.synchronized(s.jobIntervals += ((t0.longValue, e.time)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = stageSpan.get(e.stageInfo.stageId)
    if (s != null) s.synchronized(s.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = stageSpan.get(e.stageId)
    val m = e.taskMetrics
    if (s != null && m != null) s.synchronized {
      s.tasks += 1
      s.taskMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.shuffleW += m.shuffleWriteMetrics.bytesWritten
      s.shuffleR += m.shuffleReadMetrics.totalBytesRead
      s.spill += m.diskBytesSpilled
    }
  }
}
