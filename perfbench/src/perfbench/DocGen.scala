package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Seeded variant of `graft.ingest.DocCorpus`'s planted layout: doc i is
  * in group g = i div 4, member m = i mod 4; every 8th group is a
  * near-duplicate cluster whose members share a group-keyed 40-word text
  * except for their first m words; every other doc draws its 40 words
  * from a doc-keyed namespace. The seed picks the word hash, so two seeds
  * give different texts with the same closed-form census: exactly n/32
  * clusters of exactly 4 docs, 6 planted pairs per cluster, and no
  * candidate pair across clusters. (Letting the seed also move which
  * groups are clusters changed a pass's time by 15% between seeds.) */
object DocGen {
  /** Writes `n` docs as `<out>/documents.parquet` (the `Tables` layout). */
  def write(spark: SparkSession, out: String, n: Long, seed: Long): Unit = {
    require(n % 32 == 0, s"n=$n must be divisible by 32 (planted-cluster period)")
    val rnd = new scala.util.Random(seed)
    val a = 1000003L + rnd.nextInt(1 << 30)
    val b = 2654435761L + rnd.nextInt(1 << 30)
    spark.range(n).select(col("id").as("doc_id"))
      .withColumn("g", expr("doc_id div 4"))
      .withColumn("m", col("doc_id") % 4)
      .withColumn("dup", col("g") % 8 === 0)
      .withColumn("text", expr(
        s"""concat_ws(' ', transform(sequence(0, 39), p ->
           |  CASE
           |    WHEN dup AND p < m THEN concat('u', doc_id, '_', p)
           |    WHEN dup THEN concat('w', g, '_', pmod(g * ${a}L + p * ${b}L, 50021))
           |    ELSE concat('d', doc_id, '_', pmod(doc_id * ${a}L + p * ${b}L, 50021))
           |  END))""".stripMargin))
      .select(col("doc_id"), col("text"),
        lit("en").as("lang"), lit("synth").as("source"),
        length(col("text")).cast("long").as("n_chars"))
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
  }

  /** Whether docs a and b are two members of one planted cluster. */
  def planted(a: Long, b: Long): Boolean = a != b && a / 4 == b / 4 && (a / 4) % 8 == 0

  /** Planted clusters and planted (within-cluster) pairs at size n. */
  def clusters(n: Long): Long = n / 32
  def plantedPairs(n: Long): Long = clusters(n) * 6
}
