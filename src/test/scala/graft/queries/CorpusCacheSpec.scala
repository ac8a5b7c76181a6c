package graft.queries

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.SparkSpec
import graft.emoji.EmojiOps
import graft.ingest.FileFeeder
import graft.sources.CorpusCache

/** The parse-once tweet corpus (graft.sources.CorpusCache) as the batch
  * questions see it: every case goes through [[TweetQueries.topEmoji]] on
  * a temp `<dir>/tweets` fed with FileFeeder's tmp+rename protocol. */
class CorpusCacheSpec extends SparkSpec {

  private def tweet(text: String): String = s"""{"data": {"text": "$text"}}"""

  /** A fresh sf-style dir whose `tweets/` holds two small files. */
  private def corpusDir(): (String, Path) = {
    val dir = graft.TempDirs.create("graft-corpus-cache")
    val tweets = dir.resolve("tweets")
    FileFeeder.feed(tweets, Seq(
      Seq(tweet("a 😀 b 🔥😀"), tweet("no emoji here")),
      Seq(tweet("🔥 c"), tweet("🎉🎉 d"))))
    (dir.toString, tweets)
  }

  private def rows(df: DataFrame): Seq[(String, Long)] =
    df.collect().toSeq.map(r => (r.getString(0), r.getLong(1)))

  /** The census over a fresh, uncached read of the files. The glob path
    * gives the relation other root paths than the cached directory read,
    * so Spark's CacheManager cannot substitute the cached relation. */
  private def uncachedTopEmoji(tweets: Path): Seq[(String, Long)] = {
    val df = spark.read.json(s"$tweets/*.json")
      .select(col("data.text").as("text"))
      .filter(col("text").isNotNull && col("text").rlike(EmojiOps.EmojiClass))
      .select(explode(EmojiOps.extractEmojis(col("text"))).as("emoji"))
      .groupBy("emoji").agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), asc("emoji"))
    assert(scans(df).isEmpty, "the reference read must not hit the cache")
    rows(df)
  }

  private def scans(df: DataFrame): Seq[InMemoryTableScanExec] =
    allNodes(df.queryExecution.executedPlan).collect { case s: InMemoryTableScanExec => s }

  /** The single cached-relation scan of `df`, with no file scan beside it. */
  private def cachedScan(df: DataFrame): InMemoryTableScanExec = {
    val nodes = allNodes(df.queryExecution.executedPlan)
    assert(!nodes.exists(_.isInstanceOf[FileSourceScanExec]),
      df.queryExecution.executedPlan.toString)
    val found = scans(df)
    assert(found.size == 1, df.queryExecution.executedPlan.toString)
    found.head
  }

  /** Jobs launched by `body` (and the threads it starts). The listener
    * bus delivers events in order, so once a marker job submitted after
    * `body` has ended, every job of `body` has been counted. */
  private def jobsRunBy(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"corpus-cache-${java.util.UUID.randomUUID}"
    val marker = s"$group-marker"
    val started = new AtomicInteger
    val markerEnded = new CountDownLatch(1)
    @volatile var markerJob = -1
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case `group` => started.incrementAndGet()
          case `marker` => markerJob = e.jobId
          case _ =>
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == markerJob) markerEnded.countDown()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "corpus cache probe")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(marker, "listener bus marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(markerEnded.await(60, TimeUnit.SECONDS), "marker job never ended")
      started.get
    } finally sc.removeSparkListener(listener)
  }

  test("a second call on an unchanged corpus scans the cached relation, " +
      "with no inference job and no JSON scan") {
    val (dir, tweets) = corpusDir()
    var first: DataFrame = null
    assert(jobsRunBy { first = TweetQueries.topEmoji(spark, dir) } >= 1,
      "the first call infers the schema")
    val expected = uncachedTopEmoji(tweets)
    assert(rows(first) == expected)
    val firstBuilder = cachedScan(first).relation.cacheBuilder
    assert(firstBuilder.isCachedColumnBuffersLoaded)

    var second: DataFrame = null
    assert(jobsRunBy { second = TweetQueries.topEmoji(spark, dir) } == 0)
    // the same, already-filled columnar buffers: nothing re-reads the files
    assert(cachedScan(second).relation.cacheBuilder eq firstBuilder)
    assert(rows(second) == expected)
  }

  test("an added, rewritten or deleted file invalidates the cache") {
    val (dir, tweets) = corpusDir()
    def check(): Seq[(String, Long)] = {
      val got = rows(TweetQueries.topEmoji(spark, dir))
      assert(got == uncachedTopEmoji(tweets))
      got
    }
    val v0 = check()

    FileFeeder.feed(tweets, Seq(Seq(tweet("🎉 e"), tweet("😀😀😀"))), prefix = "added")
    val v1 = check()
    assert(v1 != v0, "the added file must reach the answer")

    val rewritten = tweets.resolve("feed-00001.json")
    Files.write(rewritten, (tweet("🔥🔥🔥 f") + "\n" + tweet("🎉 g"))
      .getBytes(StandardCharsets.UTF_8))
    val v2 = check()
    assert(v2 != v1, "the rewritten file must reach the answer")

    Files.delete(tweets.resolve("added-00000.json"))
    val v3 = check()
    assert(v3 != v2, "the deleted file must leave the answer")
  }

  test("a corpus whose listing can no longer be read drops its entry") {
    // through the cache directly: TweetQueries would fall back to the
    // fixture corpus once `<dir>/tweets` is gone
    val (_, tweets) = corpusDir()
    val cached = CorpusCache.json(spark, tweets.toString)
    assert(cached.storageLevel == StorageLevel.MEMORY_AND_DISK)
    tweets.toFile.listFiles().foreach(_.delete())
    Files.delete(tweets)
    intercept[java.io.FileNotFoundException](CorpusCache.json(spark, tweets.toString))
    assert(cached.storageLevel == StorageLevel.NONE, "the dropped entry is unpersisted")
  }

  test("a hidden staging file does not invalidate the cache") {
    val (dir, tweets) = corpusDir()
    val first = TweetQueries.topEmoji(spark, dir)
    val expected = rows(first)
    // what FileFeeder writes before its rename, and what the index skips
    Files.write(tweets.resolve(".x.tmp"), tweet("😀 hidden").getBytes(StandardCharsets.UTF_8))
    var second: DataFrame = null
    assert(jobsRunBy { second = TweetQueries.topEmoji(spark, dir) } == 0)
    assert(cachedScan(second).relation.cacheBuilder eq cachedScan(first).relation.cacheBuilder)
    assert(rows(second) == expected)
  }

  test("spark.newSession() gets its own entry") {
    val (dir, tweets) = corpusDir()
    val other: SparkSession = spark.newSession()
    val mine = TweetQueries.topEmoji(spark, dir)
    val theirs = TweetQueries.topEmoji(other, dir)
    assert(mine.sparkSession eq spark)
    assert(theirs.sparkSession eq other)
    cachedScan(theirs)
    val expected = uncachedTopEmoji(tweets)
    assert(rows(mine) == expected)
    assert(rows(theirs) == expected)
  }

  test("a listing change first seen by another session never serves it stale rows") {
    // Spark's CacheManager is shared by the sessions of a context and
    // matches cached plans by result, not by file listing
    val (dir, tweets) = corpusDir()
    rows(TweetQueries.topEmoji(spark, dir))
    FileFeeder.feed(tweets, Seq(Seq(tweet("🎉 later"))), prefix = "added")
    val other = spark.newSession()
    assert(rows(TweetQueries.topEmoji(other, dir)) == uncachedTopEmoji(tweets))
    assert(rows(TweetQueries.topEmoji(spark, dir)) == uncachedTopEmoji(tweets))
  }

  test("concurrent first calls on one corpus build one entry") {
    val (dir, tweets) = corpusDir()
    val threads = 4
    val frames = new Array[DataFrame](threads)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val go = new CountDownLatch(1)
    val jobs = jobsRunBy {
      val ts = (0 until threads).map { i =>
        val t = new Thread(() => {
          go.await()
          try frames(i) = TweetQueries.topEmoji(spark, dir)
          catch { case e: Throwable => errors.add(e) }
        })
        t.start()
        t
      }
      go.countDown()
      ts.foreach(_.join())
    }
    assert(errors.isEmpty, errors.toString)
    assert(jobs == 1, "one schema inference for all concurrent first calls")
    val expected = uncachedTopEmoji(tweets)
    frames.foreach(f => assert(rows(f) == expected))
  }
}
