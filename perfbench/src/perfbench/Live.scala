package perfbench

import java.nio.file.{Files, Paths}
import java.time.Instant

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}

import graft.emoji.EmojiOps

/** `live_feed`, the reference's Q2: an open-loop generator publishes
  * 1,000-tweet files on a fixed schedule (tmp file + atomic rename, via
  * `FileFeeder`) into a directory tailed by a complete-mode top-emoji
  * stream (file source → `EmojiOps.extractEmojis` → grouped count →
  * memory sink). The first part of the window publishes at a fixed rate
  * the stream keeps up with (freshness); the rest publishes at a rate well
  * above its capacity, so the stream runs saturated until it has drained
  * the backlog (capacity). `run.py` rejects a run in which the stream
  * caught up before publishing stopped: its rate would be the offered
  * one, not the stream's. */
object Live {
  val FileTweets = 1000
  /** Tweets/s of the freshness phase. */
  val FixedRate = 24000
  /** Tweets/s of the saturation phase: three times the stream's capacity
    * of ~64,000 tweets/s measured on 4 cores (see perfbench/METRICS.md). */
  val SaturationRate = 192000
  /** Share of the window spent at the fixed rate; the rest, at the
    * saturation rate, publishes about as many files as the fixed part. */
  val FixedShare = 5.0 / 6
  /** Distinct seeded files the generator cycles through. */
  val PoolFiles = 32
  private val QueryName = "perfbench_live"

  private final case class Pub(pool: Int, phase: Int, due: Double, start: Double, end: Double)

  def run(h: Harness): Unit = {
    val rnd = new Random(h.cfg.seed)
    val pool = (0 until PoolFiles).map { _ =>
      val t = new TweetGen.Tally
      (TweetGen.batches(rnd, FileTweets, 1, t).head, t)
    }
    val schemaDir = Paths.get(h.cfg.work, "live_schema")
    graft.ingest.FileFeeder.feed(schemaDir, Seq(pool.head._1), prefix = "schema")

    var query: StreamingQuery = null
    var inDir = ""
    val pubs = mutable.ArrayBuffer.empty[Pub]
    val published = new java.util.concurrent.atomic.AtomicInteger(0)

    def publish(poolIdx: Int, phase: Int, due: Double): Unit = {
      val seq = published.getAndIncrement()
      val start = h.tracer.now()
      h.tracer.span("ingest", "publish", req = 0) {
        graft.ingest.FileFeeder.feed(Paths.get(inDir), Seq(pool(poolIdx)._1), prefix = f"live-$seq%06d")
      }
      pubs += Pub(poolIdx, phase, due, start, h.tracer.now())
    }
    def absorbedRows(): Long = query.recentProgress.map(_.numInputRows).sum
    def awaitRows(rows: Long, timeoutMs: Double): Boolean = {
      val deadline = h.tracer.now() + timeoutMs
      while (absorbedRows() < rows && h.tracer.now() < deadline && query.isActive) Thread.sleep(5)
      absorbedRows() >= rows
    }

    h.setup(3) { k =>
      inDir = s"${h.cfg.work}/live_$k/in"
      Files.createDirectories(Paths.get(inDir))
      val schema = h.spark.read.json(schemaDir.toString).schema
      query = h.spark.readStream.schema(schema).json(inDir)
        .select(col("data.text").as("text"))
        .filter(col("text").isNotNull && col("text").rlike(EmojiOps.EmojiClass))
        .select(explode(EmojiOps.extractEmojis(col("text"))).as("emoji"))
        .groupBy("emoji").agg(count(lit(1)).as("cnt"))
        .writeStream.outputMode("complete").format("memory").queryName(QueryName)
        .option("checkpointLocation", s"${h.cfg.work}/live_$k/ckpt")
        .start()
      pubs.clear()
      published.set(0)
      val t0 = h.tracer.now()
      publish(0, -1, t0)
      Loop.warm(h, "first file") { awaitRows(FileTweets, 60000) }
      if (k < 3) query.stop()
    }

    // the schedule: (rate, start offset ms, end offset ms) per phase
    val totalMs = h.cfg.seconds * 1e3
    val fixedMs = totalMs * FixedShare
    val phases = Seq((FixedRate, 0.0, fixedMs), (SaturationRate, fixedMs, totalMs))
    val traceAt = if (h.cfg.trace) fixedMs / 2 else Double.PositiveInfinity
    val progress = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]()
    val t0 = h.tracer.now() + 100
    val schedule = phases.zipWithIndex.flatMap { case ((rate, a, b), p) =>
      val every = FileTweets * 1e3 / rate
      Iterator.iterate(a)(_ + every).takeWhile(_ < b).map(off => (p, t0 + off))
    }
    var traced = false
    schedule.zipWithIndex.foreach { case ((p, due), i) =>
      if (!traced && due - t0 >= traceAt) {
        traced = true
        h.startTracing()
        h.spark.streams.addListener(new StreamingQueryListener {
          override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
          override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
          override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
            progress.add(e.progress)
        })
      }
      val wait = due - h.tracer.now()
      if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
      publish(i % PoolFiles, p, due)
    }
    val nFiles = published.get
    val drained = awaitRows(nFiles.toLong * FileTweets, 60000)
    h.attempted.addAndGet(nFiles - 1)
    val absorbedFiles = (absorbedRows() / FileTweets).toInt
    if (!drained) (absorbedFiles until nFiles).foreach(i => h.fail(s"file $i never absorbed"))

    // the sink's final state must equal the tally of everything published
    val expected = mutable.HashMap.empty[String, Long]
    pubs.foreach(p => pool(p.pool)._2.emoji.foreach { case (e, c) =>
      expected(e) = expected.getOrElse(e, 0L) + c })
    val actual = h.spark.table(QueryName).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val stateOk = actual == expected.toMap
    if (!stateOk) {
      h.fail(s"final state has ${actual.size} emoji, expected ${expected.size}; " +
        s"total ${actual.values.sum} vs ${expected.values.sum}")
      h.failed.set(h.attempted.get)
    }

    val tracedIds = progress.asScala.map(_.batchId).toSet
    val batches = query.recentProgress.toSeq.map { b =>
      val start = Instant.parse(b.timestamp).toEpochMilli.toDouble
      val d = b.durationMs.asScala.map { case (k, v) => k -> v.toDouble }
      val end = start + d.getOrElse("triggerExecution", 0.0)
      val traced = tracedIds.contains(b.batchId)
      if (traced) h.tracer.record("streaming", "trigger", start, end)
      val st = b.stateOperators.headOption
      Map("id" -> b.batchId, "start" -> start, "end" -> end, "rows" -> b.numInputRows,
        "traced" -> traced, "durations" -> d,
        "state_rows" -> st.map(_.numRowsTotal).getOrElse(0L),
        "state_mem_bytes" -> st.map(_.memoryUsedBytes).getOrElse(0L),
        "state_commit_ms" -> st.map(_.commitTimeMs.toDouble).getOrElse(0.0))
    }
    query.stop()
    h.extra("live") = Map(
      "file_tweets" -> FileTweets,
      "phases" -> phases.map { case (r, a, b) => Map("rate" -> r, "t0" -> (t0 + a), "t1" -> (t0 + b)) },
      "files" -> pubs.toSeq.sortBy(_.start).map(p => Map(
        "phase" -> p.phase, "due" -> p.due, "start" -> p.start, "end" -> p.end)),
      "batches" -> batches,
      "trace_at" -> Option.when(h.cfg.trace)(t0 + traceAt))
    h.extra("ingest.bytes") = pubs.map(p => pool(p.pool)._2.bytes).sum
  }
}
