package perfbench

import org.apache.spark.sql.Row

/** Expected result rows of each `TweetQueries` call, in the call's declared
  * total order, built from a [[TweetGen.Tally]]. Spark orders strings by
  * UTF-8 bytes, which is code-point order, so keys sort by code points
  * here (Java's `compareTo` is UTF-16 order and differs above U+FFFF). */
object Expect {
  type Rows = Seq[Seq[Any]]

  private val byCodePoint: Ordering[String] = (a: String, b: String) => {
    val x = a.codePoints.toArray
    val y = b.codePoints.toArray
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n && x(i) == y(i)) i += 1
    if (i < n) Integer.compare(x(i), y(i)) else Integer.compare(x.length, y.length)
  }

  /** `key, cnt` rows ordered by cnt desc, key asc. */
  private def census(m: collection.Map[String, Long]): Rows =
    m.toSeq.sortWith { case ((ka, ca), (kb, cb)) =>
      ca > cb || (ca == cb && byCodePoint.lt(ka, kb))
    }.map { case (k, c) => Seq(k, c) }

  /** `dim, emoji, cnt` rows ordered by dim asc, cnt desc, emoji asc. */
  private def grouped(m: collection.Map[(String, String), Long]): Rows =
    m.toSeq.sortWith { case (((da, ea), ca), ((db, eb), cb)) =>
      val d = byCodePoint.compare(da, db)
      d < 0 || (d == 0 && (ca > cb || (ca == cb && byCodePoint.lt(ea, eb))))
    }.map { case ((d, e), c) => Seq(d, e, c) }

  def topEmoji(t: TweetGen.Tally): Rows = census(t.emoji)
  def topEmojiGrapheme(t: TweetGen.Tally): Rows = census(t.clusters)
  def topEmojiQuirk(t: TweetGen.Tally): Rows = census(t.quirk)
  def emojiWordRatio(t: TweetGen.Tally): Rows =
    Seq(Seq(t.emojiCnt, t.wordCnt, t.emojiCnt * 1.0 / t.wordCnt))
  def mentionEmoji(t: TweetGen.Tally): Rows = grouped(t.mention)
  def categoryEmoji(t: TweetGen.Tally): Rows = grouped(t.category)
  def countryEmojiIncl(t: TweetGen.Tally, country: String): Rows =
    grouped(t.country.filter(_._1._1 == country))

  def rows(result: Array[Row]): Rows = result.toSeq.map(_.toSeq)

  /** Diff of actual vs expected: None when equal, else a short reason. */
  def diff(actual: Rows, expected: Rows): Option[String] =
    if (actual == expected) None
    else if (actual.size != expected.size)
      Some(s"${actual.size} rows, expected ${expected.size}")
    else {
      val i = actual.indices.find(i => actual(i) != expected(i)).get
      Some(s"row $i is ${actual(i).mkString(",")}, expected ${expected(i).mkString(",")}")
    }
}
