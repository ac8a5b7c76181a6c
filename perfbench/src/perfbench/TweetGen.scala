package perfbench

import java.nio.file.Path

import scala.collection.mutable
import scala.util.Random

/** Seeded A.1-shaped tweet generator that tallies, while it writes, the
  * exact answer of every `TweetQueries` call the benchmark makes.
  *
  * The tally is derived from how each tweet was *built* (which segments it
  * carries), not by re-running the queries' regexes, so a tokenizer or
  * planner defect shows up as a mismatch instead of agreeing with itself.
  *
  * Tweet shape (one NDJSON line): words, then optionally a glued run of
  * in-block emoji (some with a skin-tone modifier), a ZWJ family, an
  * out-of-block pictograph and an artifact char `( ) |`; 10% carry no
  * text; mentions, context annotations and places are each optional.
  */
object TweetGen {
  val BlockEmoji: Vector[String] = Vector(
    "😀", "😂", "😅", "😍", "🙃", "🙏", "😎", "😱",
    "🌀", "🌈", "🌙", "🍕", "🎉", "🏆", "🐍", "💡", "📚", "🔥", "🗿", "💯",
    "🤖", "🤝", "🥇", "🥳", "🦄", "🧠", "🧿", "🤌")
  // U+1F3FB..U+1F3FF: in the strict class and a grapheme modifier
  val SkinTones: Vector[String] = Vector("🏻", "🏼", "🏽", "🏾", "🏿")
  // outside the strict class, but grapheme-cluster bases
  val OutOfBlock: Vector[String] = Vector("❤", "☀", "✨", "☔", "⚡")
  private val ZwjParts = Vector("👨", "👩", "👧")
  val ZwjFamily: String = ZwjParts.mkString("‍")
  private val Artifacts = Vector("(", ")", "|")
  private val Words = Vector(
    "the", "quick", "brown", "fox", "jumps", "over", "lazy", "dog",
    "spark", "stream", "shuffle", "emoji", "census", "tweet", "data",
    "scale", "hundred", "terabyte", "plan", "joins", "don't", "can't")
  val Users: Vector[String] = Vector("alice", "bob", "carol", "dave", "eve", "mallory")
  val Domains: Vector[String] = Vector("Sports", "Music", "Technology", "News", "Gaming")
  val Countries: Vector[String] = Vector(
    "Brazil", "Japan", "Canada", "Germany", "France", "United States")

  /** Exact expected answers over everything generated so far. Counts are
    * keyed by code-point strings; pair keys are (dimension, emoji). */
  final class Tally {
    var tweets = 0L
    var bytes = 0L
    val emoji = mutable.HashMap.empty[String, Long]
    val clusters = mutable.HashMap.empty[String, Long]
    val quirk = mutable.HashMap.empty[String, Long]
    val mention = mutable.HashMap.empty[(String, String), Long]
    val category = mutable.HashMap.empty[(String, String), Long]
    val country = mutable.HashMap.empty[(String, String), Long]
    var emojiCnt = 0L
    var wordCnt = 0L

    private[TweetGen] def add(t: Tweet): Unit = {
      tweets += 1
      t.text.foreach { _ =>
        t.strict.foreach(e => bump(emoji, e))
        t.clusters.foreach(c => bump(clusters, c))
        if (!t.artifact && t.strict.nonEmpty) bump(quirk, t.strict.mkString)
        emojiCnt += t.strict.size
        wordCnt += t.words
        for (u <- t.mentions if t.places.nonEmpty; e <- t.strict) bump(mention, (u, e))
        for (d <- t.domains; e <- t.strict) bump(category, (d, e))
        for (c <- t.places; e <- t.strict) bump(country, (c, e))
      }
    }
  }

  private def bump[K](m: mutable.HashMap[K, Long], k: K): Unit =
    m.update(k, m.getOrElse(k, 0L) + 1)

  /** One generated tweet and the facts the tally needs about it. */
  final case class Tweet(line: String, text: Option[String], strict: Vector[String],
      clusters: Vector[String], artifact: Boolean, words: Int,
      mentions: Vector[String], domains: Vector[String], places: Vector[String])

  def tweet(rnd: Random): Tweet = {
    val strict = Vector.newBuilder[String]
    val clusters = Vector.newBuilder[String]
    val sb = new StringBuilder
    val nWords = 2 + rnd.nextInt(8)
    (0 until nWords).foreach { i =>
      if (i > 0) sb.append(' ')
      sb.append(Words(rnd.nextInt(Words.length)))
    }
    val nEmoji = rnd.nextInt(6)
    if (nEmoji > 0) sb.append(' ')
    (0 until nEmoji).foreach { _ =>
      val e = BlockEmoji(rnd.nextInt(BlockEmoji.length))
      strict += e
      if (rnd.nextInt(8) == 0) {
        val tone = SkinTones(rnd.nextInt(SkinTones.length))
        strict += tone
        clusters += e + tone
        sb.append(e).append(tone)
      } else {
        clusters += e
        sb.append(e)
      }
    }
    if (rnd.nextInt(10) == 0) {
      sb.append(' ').append(ZwjFamily)
      strict ++= ZwjParts
      clusters += ZwjFamily
    }
    if (rnd.nextInt(5) == 0) {
      val p = OutOfBlock(rnd.nextInt(OutOfBlock.length))
      sb.append(' ').append(p)
      clusters += p
    }
    val artifact = rnd.nextInt(6) == 0
    if (artifact) sb.append(Artifacts(rnd.nextInt(Artifacts.length)))

    val text = if (rnd.nextInt(10) != 0) Some(sb.toString) else None
    val mentions =
      if (rnd.nextInt(3) != 0) Vector.fill(1 + rnd.nextInt(3))(Users(rnd.nextInt(Users.length)))
      else Vector.empty
    val domains =
      if (rnd.nextInt(3) != 0) Vector(Domains(rnd.nextInt(Domains.length))) else Vector.empty
    val places =
      if (rnd.nextInt(2) == 0) Vector(Countries(rnd.nextInt(Countries.length))) else Vector.empty

    val data = Seq(
      text.map(t => s""""text":"$t""""),
      Option.when(mentions.nonEmpty)(mentions
        .map(u => s"""{"username":"$u"}""").mkString("\"entities\":{\"mentions\":[", ",", "]}")),
      Option.when(domains.nonEmpty)(domains
        .map(d => s"""{"domain":{"name":"$d"}}""").mkString("\"context_annotations\":[", ",", "]"))
    ).flatten.mkString(",")
    val includes = Option.when(places.nonEmpty)(places
      .map(c => s"""{"country":"$c"}""").mkString(",\"includes\":{\"places\":[", ",", "]}"))
    val line = s"""{"data":{$data}${includes.getOrElse("")}}"""
    Tweet(line, text, strict.result(), clusters.result(), artifact, nWords,
      mentions, domains, places)
  }

  /** `n` tweets as `files` line batches, tallied into `tally`. */
  def batches(rnd: Random, n: Int, files: Int, tally: Tally): Seq[Seq[String]] = {
    val per = math.max(1, n / files)
    (0 until files).map { f =>
      val count = if (f == files - 1) n - per * (files - 1) else per
      (0 until count).map { _ =>
        val t = tweet(rnd)
        tally.add(t)
        tally.bytes += t.line.getBytes("UTF-8").length + 1
        t.line
      }
    }
  }

  /** Writes `n` tweets into `dir` through the library's rotation
    * protocol (`FileFeeder.feed`) and returns their tally. */
  def write(seed: Long, dir: Path, n: Int, files: Int): Tally = {
    val tally = new Tally
    graft.ingest.FileFeeder.feed(dir, batches(new Random(seed), n, files, tally), prefix = "tweets")
    tally
  }
}
