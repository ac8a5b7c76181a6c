package perfbench

import java.nio.file.Paths

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.emoji.EmojiOps
import graft.queries.TweetQueries

/** Shared pieces of the closed-loop workloads. */
object Loop {
  /** A set-up step's first answer: counted and checked like an op, but
    * not timed as one. */
  def warm(h: Harness, what: String)(ok: => Boolean): Unit = {
    h.attempted.incrementAndGet()
    val good = try ok catch { case e: Exception => h.fail(s"$what: $e"); return }
    if (!good) h.fail(s"$what: wrong answer in set-up")
  }

  /** One client's closed loop of `one()` for the window, at least
    * `minOps` times (a median needs more than one sample). A traced run
    * measures the first half untraced and the second traced, at least one
    * op each, so the two halves give the tracing overhead. */
  def closed(h: Harness, minOps: Int)(one: => Unit): Unit = {
    def phase(share: Double, minOps: Int): Unit = h.window(share) { deadline =>
      var n = 0
      while (n < minOps || h.tracer.now() < deadline) { one; n += 1 }
    }
    if (h.cfg.trace) {
      phase(0.5, 1)
      h.startTracing()
      phase(0.5, 1)
    } else phase(1.0, minOps)
  }

  /** Wall times, in ms, of three noop writes of the scan-only text column
    * (`base`) and of each tokenizer over it, per full pass over `dir`'s
    * tweets from a cached column. `run.py` takes their medians and
    * subtracts the base. */
  def emojiProbe(h: Harness, dir: String, tweets: Long, tokens: Long): Unit = {
    val text = h.spark.read.json(s"$dir/tweets").select(col("data.text").as("text")).cache()
    text.count()
    def ms(f: DataFrame => DataFrame): Seq[Double] = (1 to 3).map { _ =>
      val t0 = h.tracer.now()
      f(text).write.format("noop").mode("overwrite").save()
      h.tracer.now() - t0
    }
    h.extra("emoji_probe") = Map(
      "base" -> ms(identity),
      "extract" -> ms(_.select(EmojiOps.extractEmojis(col("text")))),
      "cluster" -> ms(_.select(EmojiOps.extractEmojiClusters(col("text")))),
      "quirk" -> ms(_.select(explode(EmojiOps.referenceTokenize(col("text"))).as("t"))
        .filter(EmojiOps.isEmojiToken(col("t")))))
    h.extra("emoji.tokens_per_tweet") = tokens.toDouble / tweets
    text.unpersist()
  }
}

/** `census_batch`: the reference's batch questions over one corpus, one
  * client, passes back to back. */
object Census {
  val Tweets = 25000
  val Files = 8

  def run(h: Harness): Unit = {
    val country = TweetGen.Countries(new Random(h.cfg.seed).nextInt(TweetGen.Countries.size))
    var dir = ""
    var tally: TweetGen.Tally = null
    val genS = collection.mutable.ArrayBuffer.empty[Double]
    h.setup(3) { k =>
      dir = s"${h.cfg.work}/census_$k"
      val t0 = h.tracer.now()
      tally = TweetGen.write(h.cfg.seed, Paths.get(dir, "tweets"), Tweets, Files)
      genS += (h.tracer.now() - t0) / 1e3
      Loop.warm(h, "topEmoji") {
        h.call("queries", "topEmoji")(TweetQueries.topEmoji(h.spark, dir))(
          Expect.diff(_, Expect.topEmoji(tally)))
      }
    }
    val t = tally
    val s = h.spark
    // (name, the program's call, its expected rows), expectations built once
    val census: Seq[(String, () => DataFrame, Expect.Rows)] = Seq(
      ("topEmoji", () => TweetQueries.topEmoji(s, dir), Expect.topEmoji(t)),
      ("emojiWordRatio", () => TweetQueries.emojiWordRatio(s, dir), Expect.emojiWordRatio(t)),
      ("mentionEmoji", () => TweetQueries.mentionEmoji(s, dir), Expect.mentionEmoji(t)),
      ("categoryEmoji", () => TweetQueries.categoryEmoji(s, dir), Expect.categoryEmoji(t)),
      ("countryEmojiIncl", () => TweetQueries.countryEmojiIncl(s"^$country$$")(s, dir),
        Expect.countryEmojiIncl(t, country)),
      ("topEmojiGrapheme", () => TweetQueries.topEmojiGrapheme(s, dir), Expect.topEmojiGrapheme(t)),
      ("topEmojiQuirk", () => TweetQueries.topEmojiQuirk(s, dir), Expect.topEmojiQuirk(t)))
    def pass(): Boolean = census.map { case (name, build, expected) =>
      h.call("queries", name)(build())(Expect.diff(_, expected))
    }.forall(identity)
    // one untimed pass first, so the timed ones all run warm
    Loop.warm(h, "warm-up pass")(pass())
    Loop.closed(h, minOps = 2)(h.op("pass")(pass()))
    h.extra("gen_s") = genS
    h.extra("ingest.bytes") = t.bytes
    h.extra("input_tweets") = Tweets
    if (h.cfg.trace) Loop.emojiProbe(h, dir, t.tweets, t.emojiCnt)
  }
}

/** `curate`: the dedup components, LSH candidates and the two curation
  * funnels over a planted-cluster document corpus, one client. */
object Curate {
  val Docs = 3200L

  def run(h: Harness): Unit = {
    var dir = ""
    val genS = collection.mutable.ArrayBuffer.empty[Double]
    def componentsOk(rows: Expect.Rows): Option[String] = {
      val sizes = rows.map(_(1).asInstanceOf[Long])
      if (rows.size == DocGen.clusters(Docs) && sizes.forall(_ == 4)) None
      else Some(s"${rows.size} components, sizes ${sizes.distinct.sorted.take(5)}; " +
        s"expected ${DocGen.clusters(Docs)} of 4")
    }
    h.setup(3) { k =>
      dir = s"${h.cfg.work}/curate_$k"
      val t0 = h.tracer.now()
      DocGen.write(h.spark, dir, Docs, h.cfg.seed)
      genS += (h.tracer.now() - t0) / 1e3
      Loop.warm(h, "minhashLsh") {
        h.call("dedup", "minhashLsh")(Dedup.minhashLsh(h.spark, dir))(rows =>
          Option.when(rows.size < DocGen.plantedPairs(Docs) * 9 / 10)(
            s"${rows.size} candidate pairs for ${DocGen.plantedPairs(Docs)} planted"))
      }
    }
    val s = h.spark
    // the first pass's rows of each oracle-checked call; later passes must
    // repeat them, and run.py checks the first against the DuckDB oracle
    val first = collection.mutable.LinkedHashMap.empty[String, Expect.Rows]
    def same(name: String)(rows: Expect.Rows): Option[String] = first.get(name) match {
      case None => first(name) = rows; None
      case Some(f) => Expect.diff(rows, f).map("differs from the first pass: " + _)
    }
    Loop.closed(h, minOps = 2) {
      h.op("pass") {
        Seq(
          h.call("dedup", "components")(Dedup.components(s, dir))(componentsOk),
          h.call("dedup", "minhashLsh")(Dedup.minhashLsh(s, dir))(same("dedup_minhash_lsh")),
          h.call("dedup", "curationFunnel")(Dedup.curationFunnel(s, dir))(same("pipeline_curation")),
          h.call("dedup", "pretrainFunnel")(Dedup.pretrainFunnel(s, dir))(same("pipeline_pretrain"))
        ).forall(identity)
      }
    }
    val pairs = first.getOrElse("dedup_minhash_lsh", Nil)
    val planted = pairs.count(r => DocGen.planted(r(0).asInstanceOf[Long], r(1).asInstanceOf[Long]))
    h.extra("gen_s") = genS
    h.extra("input_docs") = Docs
    h.extra("dedup.candidate_pairs") = pairs.size
    h.extra("dedup.pair_precision") = if (pairs.isEmpty) 0.0 else planted.toDouble / pairs.size
    h.extra("oracle") = Map(
      "documents" -> s"$dir/documents.parquet",
      "checks" -> first.map { case (name, rows) =>
        name -> Map("sql" -> Dedup.oracles(name), "rows" -> rows)
      })
  }
}
