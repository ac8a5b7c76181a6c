package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed interval at a layer boundary. Times are epoch milliseconds
  * with sub-millisecond precision, so listener timestamps (epoch ms) and
  * harness timestamps share one clock. `parent` is 0 for a root span;
  * spans of one pass or request share `req`. */
final case class Span(id: Long, parent: Long, req: Long, layer: String, name: String,
    t0: Double, t1: Double)

/** In-memory spans recorded around every call the benchmark makes into a
  * layer, plus a SparkListener that attributes Spark jobs, stages and
  * tasks to the span that launched them. Until [[activate]] is called
  * every method just runs its body, so an untraced run pays for nothing
  * but the clock. */
final class Tracer {
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble
  private val ids = new AtomicLong(0)
  private val stack = ThreadLocal.withInitial[List[(Long, Long)]](() => Nil)
  val spans = new ConcurrentLinkedQueue[Span]()
  @volatile private var sc: SparkContext = _
  @volatile private var listener: TraceListener = _

  def on: Boolean = listener != null

  /** Epoch ms, sub-ms precision, monotonic within the process. */
  def now(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  def newId(): Long = ids.incrementAndGet()

  /** Starts tracing on `context`: spans are kept from now on and its
    * jobs, stages and tasks are listened to. */
  def activate(context: SparkContext): Unit = {
    sc = context
    listener = new TraceListener
    context.addSparkListener(listener)
  }

  /** Runs `body` as a span of `layer`. `req` = -1 inherits the enclosing
    * span's request id; 0 opens a new request. */
  def span[T](layer: String, name: String, req: Long = -1)(body: => T): T =
    if (!on) body
    else {
      val id = newId()
      val outer = stack.get()
      val parent = outer.headOption.map(_._1).getOrElse(0L)
      val r = if (req == 0) id else if (req > 0) req else outer.headOption.map(_._2).getOrElse(id)
      val prevProp = sc.getLocalProperty(Tracer.SpanProp)
      stack.set((id, r) :: outer)
      sc.setLocalProperty(Tracer.SpanProp, id.toString)
      val t0 = now()
      try body
      finally {
        val t1 = now()
        stack.set(outer)
        sc.setLocalProperty(Tracer.SpanProp, prevProp)
        spans.add(Span(id, parent, r, layer, name, t0, t1))
      }
    }

  /** Records an already-timed span (e.g. a streaming trigger). */
  def record(layer: String, name: String, t0: Double, t1: Double): Unit =
    if (on) {
      val id = newId()
      spans.add(Span(id, 0, id, layer, name, t0, t1))
    }

  /** Job spans under their launching span and stage scheduling-wait spans
    * under their job; `layerOf` names a job's layer from its span id. */
  def listenerSpans(layerOf: Long => String): Seq[Span] =
    if (!on) Nil else listener.childSpans(this, layerOf)

  def counters: Map[Long, Tracer.Counters] =
    if (!on) Map.empty else listener.bySpan.toMap

  /** Per-task launch delay after its stage was submitted, in ms. */
  def schedWaits: Seq[Double] = if (!on) Nil else listener.waits.asScala.toSeq

  def taskBusyMs(t0: Double, t1: Double): Double = if (!on) 0.0 else listener.busyMs(t0, t1)
}

object Tracer {
  val SpanProp = "perfbench.span"

  /** Spark work attributed to one span. */
  final class Counters {
    var jobs = 0L
    var tasks = 0L
    var cpuMs = 0.0
    var gcMs = 0.0
    var shuffleBytes = 0L
    var shuffleRows = 0L
    var inputBytes = 0L
    var inputRows = 0L
    var spillBytes = 0L
  }
}

/** Attributes jobs to the harness span that launched them (through the
  * thread-local job property) and keeps what the per-layer metrics need. */
final class TraceListener extends SparkListener {
  private case class Job(span: Long, t0: Double, var t1: Double, stages: Seq[Int])
  private val jobs = mutable.HashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stageSubmit = mutable.HashMap.empty[Int, Double]
  private val stageFirstLaunch = mutable.HashMap.empty[Int, Double]
  private val taskIntervals = mutable.ArrayBuffer.empty[(Double, Double)]
  val bySpan = mutable.HashMap.empty[Long, Tracer.Counters]
  val waits = new ConcurrentLinkedQueue[Double]()

  private def spanOf(stageId: Int): Option[Long] =
    stageJob.get(stageId).flatMap(jobs.get).map(_.span).filter(_ > 0)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProp)))
      .map(_.toLong).getOrElse(0L)
    jobs(e.jobId) = Job(span, e.time.toDouble, e.time.toDouble, e.stageIds)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
    if (span > 0) bySpan.getOrElseUpdate(span, new Tracer.Counters).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.t1 = e.time.toDouble)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    e.stageInfo.submissionTime.foreach(t => stageSubmit(e.stageInfo.stageId) = t.toDouble)
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
    val launch = e.taskInfo.launchTime.toDouble
    if (!stageFirstLaunch.contains(e.stageId)) stageFirstLaunch(e.stageId) = launch
    stageSubmit.get(e.stageId).foreach(s => waits.add(math.max(0.0, launch - s)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val info = e.taskInfo
    taskIntervals += ((info.launchTime.toDouble, info.finishTime.toDouble))
    for (span <- spanOf(e.stageId); m <- Option(e.taskMetrics)) {
      val c = bySpan.getOrElseUpdate(span, new Tracer.Counters)
      c.tasks += 1
      c.cpuMs += m.executorCpuTime / 1e6
      c.gcMs += m.jvmGCTime
      c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRows += m.shuffleWriteMetrics.recordsWritten
      c.inputBytes += m.inputMetrics.bytesRead
      c.inputRows += m.inputMetrics.recordsRead
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Milliseconds of task execution overlapping [t0, t1], summed over
    * tasks (so up to cores × window). */
  def busyMs(t0: Double, t1: Double): Double = synchronized {
    taskIntervals.iterator.map { case (a, b) => math.max(0.0, math.min(b, t1) - math.max(a, t0)) }.sum
  }

  /** Job spans under their launching span, and per-stage scheduling-wait
    * spans (stage submission to first task launch) under their job. */
  def childSpans(tr: Tracer, layerOf: Long => String): Seq[Span] = synchronized {
    jobs.toSeq.filter(_._2.span > 0).flatMap { case (_, j) =>
      val jobId = tr.newId()
      val layer = layerOf(j.span)
      val waitSpans = j.stages.flatMap { s =>
        for (a <- stageSubmit.get(s); b <- stageFirstLaunch.get(s))
          yield Span(tr.newId(), jobId, 0, "sched", "stage_wait", a, math.max(a, b))
      }
      Span(jobId, j.span, 0, layer, "job", j.t0, j.t1) +: waitSpans
    }
  }
}
