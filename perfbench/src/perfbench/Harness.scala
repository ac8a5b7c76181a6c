package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Command-line settings of one benchmark process. */
final case class Settings(workload: String, seed: Long, seconds: Double, trace: Boolean,
    work: String, out: String, cores: Int)

/** One measured pass of a closed-loop workload. */
final case class Op(kind: String, t0: Double, ms: Double, ok: Boolean, traced: Boolean)

/** Session lifecycle, timing, correctness accounting and the raw record
  * one benchmark process hands back to `run.py`. */
final class Harness(val cfg: Settings) {
  val tracer = new Tracer
  @volatile var spark: SparkSession = _
  val setupS = mutable.ArrayBuffer.empty[Double]
  /** Largest heap in use after any collection since the harness started,
    * in bytes: set-ups, the window and the end of the run. */
  private val peakHeap = new AtomicLong(0)
  val ops = mutable.ArrayBuffer.empty[Op]
  val attempted = new AtomicLong(0)
  val failed = new AtomicLong(0)
  val errors = mutable.ArrayBuffer.empty[String]
  val calls = mutable.ArrayBuffer.empty[Map[String, Any]]
  /** Workload-specific raw values (per-layer inputs, live timelines). */
  val extra = mutable.LinkedHashMap.empty[String, Any]
  /** Time the current op or set-up spent checking answers, kept out of
    * its time: op and set-up times measure the program, not the checks. */
  private var checkMs = 0.0

  locally {
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    val onGc: NotificationListener = (n: Notification, _: Any) =>
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val after = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          .getGcInfo.getMemoryUsageAfterGc.asScala
        val used = after.collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        peakHeap.accumulateAndGet(used, math.max(_, _))
      }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case gc: NotificationEmitter => gc.addNotificationListener(onGc, null, null)
      case _ =>
    }
  }

  /** (Re)creates the session the program runs in. */
  def newSession(): SparkSession = {
    if (spark != null) spark.stop()
    spark = SparkSession.builder()
      .master(s"local[${cfg.cores}]")
      .appName("perfbench")
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cfg.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${cfg.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${cfg.work}/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Runs the workload's set-up `reps` times, each in a fresh session on
    * fresh inputs, and keeps the last session for the measured window.
    * Each repetition's wall time is one `setup_s` sample. */
  def setup(reps: Int)(body: Int => Unit): Unit =
    (1 to reps).foreach { k =>
      checkMs = 0.0
      val t0 = tracer.now()
      newSession()
      body(k)
      setupS += (tracer.now() - t0 - checkMs) / 1e3
      sampleHeap()
    }

  /** Heap in use after a full collection, a floor under the peak that
    * does not wait for the asynchronous GC notification. */
  def sampleHeap(): Unit = {
    System.gc()
    System.gc()
    peakHeap.accumulateAndGet(ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed, math.max(_, _))
  }

  /** Starts tracing when this is a traced run (from then on). */
  def startTracing(): Unit = if (cfg.trace && !tracer.on) tracer.activate(spark.sparkContext)

  /** Runs `loop` until the window (a share of `--seconds`) has passed. */
  def window(share: Double)(loop: Double => Unit): Unit = {
    val deadline = tracer.now() + cfg.seconds * 1e3 * share
    loop(deadline)
  }

  def fail(msg: String): Unit = {
    failed.incrementAndGet()
    note(msg)
  }

  /** Keeps the first 20 error messages for the record. */
  private def note(msg: String): Unit = if (errors.size < 20) errors += msg

  /** One operation: times `body`, counts it as attempted and, when it
    * returns false or throws, as failed. */
  def op(kind: String)(body: => Boolean): Boolean = {
    attempted.incrementAndGet()
    val traced = tracer.on
    checkMs = 0.0
    val t0 = tracer.now()
    val ok =
      try tracer.span("op", kind, req = 0)(body)
      catch { case e: Exception => note(s"$kind: $e"); false }
    if (!ok) failed.incrementAndGet()
    ops += Op(kind, t0, tracer.now() - t0 - checkMs, ok, traced)
    ok
  }

  /** One call into the program: build the DataFrame (the program's
    * function, including any eager schema inference and analysis), plan
    * it, execute it, then check the rows. Returns whether they match. */
  def call(module: String, name: String)(build: => DataFrame)(check: Expect.Rows => Option[String]): Boolean = {
    val rows = tracer.span(module, name) {
      val df = tracer.span("plans", "build")(build)
      tracer.span("plans", "plan")(df.queryExecution.executedPlan)
      val rows = tracer.span(module, "exec")(df.collect())
      if (tracer.on) {
        val phases = df.queryExecution.tracker.phases
        def ms(p: String) = phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
        calls += Map("name" -> name, "analysis_ms" -> ms("analysis"),
          "optimization_ms" -> ms("optimization"), "planning_ms" -> ms("planning"),
          "result_rows" -> rows.length)
      }
      rows
    }
    val t0 = tracer.now()
    val verdict = check(Expect.rows(rows))
    checkMs += tracer.now() - t0
    verdict.foreach(why => note(s"$name: $why"))
    verdict.isEmpty
  }

  /** The raw record: everything `run.py` turns into metrics. */
  def record(): Map[String, Any] = {
    val spans = tracer.spans.asScala.toSeq
    val byId = spans.map(s => s.id -> s).toMap
    // a job runs in the layer of the call that launched it; the jobs a
    // `TweetQueries` call launches while its DataFrame is being built are
    // `spark.read.json`'s schema inference, so they are the sources layer's
    def layerOf(id: Long): String = byId.get(id) match {
      case Some(s) if s.name == "build" =>
        val module = byId.get(s.parent).map(_.layer).getOrElse("queries")
        if (module == "queries") "sources" else module
      case Some(s) => s.layer
      case None => "queries"
    }
    if (tracer.on) org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val all = spans ++ tracer.listenerSpans(layerOf)
    val counters = tracer.counters
    val opSpans = spans.filter(_.layer == "op")
    // Spark work per op, summed over the spans under each op
    val parentOf = all.map(s => s.id -> s.parent).toMap
    def opOf(id: Long): Option[Long] = {
      var cur = id
      var guard = 0
      while (cur != 0 && guard < 64 && !byId.get(cur).exists(_.layer == "op")) {
        cur = parentOf.getOrElse(cur, 0L); guard += 1
      }
      Option(cur).filter(_ != 0)
    }
    val sparkTotals = mutable.LinkedHashMap(
      "jobs" -> 0.0, "tasks" -> 0.0, "task_cpu_ms" -> 0.0,
      "gc_ms" -> 0.0, "shuffle_bytes" -> 0.0, "shuffle_rows" -> 0.0,
      "input_bytes" -> 0.0, "input_rows" -> 0.0, "spill_bytes" -> 0.0)
    counters.foreach { case (spanId, c) =>
      if (opOf(spanId).isDefined) {
        sparkTotals("jobs") += c.jobs
        sparkTotals("tasks") += c.tasks
        sparkTotals("task_cpu_ms") += c.cpuMs
        sparkTotals("gc_ms") += c.gcMs
        sparkTotals("shuffle_bytes") += c.shuffleBytes
        sparkTotals("shuffle_rows") += c.shuffleRows
        sparkTotals("input_bytes") += c.inputBytes
        sparkTotals("input_rows") += c.inputRows
        sparkTotals("spill_bytes") += c.spillBytes
      }
    }
    val tracedWindow = opSpans.map(_.t0).minOption.zip(opSpans.map(_.t1).maxOption)
    Map(
      "workload" -> cfg.workload, "seed" -> cfg.seed, "cores" -> cfg.cores,
      "seconds" -> cfg.seconds, "trace" -> cfg.trace,
      "setup_s" -> setupS, "peak_heap_mb" -> peakHeap.get / 1048576.0,
      "attempted" -> attempted.get, "failed" -> failed.get,
      "errors" -> errors,
      "ops" -> ops.map(o => Map(
        "kind" -> o.kind, "t0" -> o.t0, "ms" -> o.ms, "ok" -> o.ok, "traced" -> o.traced)),
      "spans" -> all.map(s => Map("id" -> s.id, "parent" -> s.parent, "req" -> s.req,
        "layer" -> s.layer, "name" -> s.name, "t0" -> s.t0, "t1" -> s.t1)),
      "calls" -> calls,
      "spark" -> sparkTotals,
      "sched_waits_ms" -> tracer.schedWaits,
      "busy_ms" -> tracedWindow.map { case (a, b) => tracer.taskBusyMs(a, b) }.getOrElse(0.0),
      "busy_window_ms" -> tracedWindow.map { case (a, b) => b - a }.getOrElse(0.0),
      "extra" -> extra)
  }

  def close(): Unit = if (spark != null) { spark.stop(); spark = null }
}
