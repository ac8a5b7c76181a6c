package graft.sources

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parse-once cache for NDJSON corpora (Shark's in-memory columnar cache:
  * parse a table once, run every later query against the cached columns).
  *
  * [[json]] returns `spark.read.json(dir).cache()`, built at most once per
  * session and per version of the directory's listing, and cached at
  * Spark's default MEMORY_AND_DISK level so Spark's memory manager bounds
  * it. The version is a fingerprint: the sorted (path, length,
  * modification time) of every visible file, listed through the Hadoop
  * FileSystem the file index uses and skipping the `.`- and `_`-prefixed
  * names the index skips (FileFeeder's `.x.tmp` staging files, `_COMPLETE`
  * markers). A call whose fingerprint still matches reuses the cached
  * frame; an added, removed or rewritten file unpersists it and the corpus
  * is parsed again. The fingerprint is taken before the read, so a file
  * landing in between can only cause one extra parse, never a stale hit.
  *
  * Entries are grouped per (SparkContext, directory), one frame per
  * session in a group. Spark's CacheManager is shared by every session of
  * a context and matches cached plans by result, not by file listing, so
  * a stale frame left cached in one session would serve its rows to
  * another session's fresh read of the directory. A listing change
  * therefore unpersists the whole group before anything is cached again.
  *
  * Lifecycle: groups whose SparkContext has stopped are dropped on the
  * next call. Entries are dropped explicitly, not through weak keys: each
  * cached DataFrame references its session, so a weak map keyed by
  * session would pin every stopped one. A directory whose listing can no
  * longer be read drops its group before the error propagates. Concurrent
  * calls on one directory serialize on its group, so concurrent first
  * calls build one entry.
  */
object CorpusCache {

  private final case class Key(sc: SparkContext, dir: String)

  /** One directory's frames on one context, all of listing `fingerprint`.
    * Guarded by its own monitor; a group removed from the map is dead. */
  private final class Group {
    var fingerprint: Seq[(String, Long, Long)] = Nil
    val frames = mutable.Map.empty[SparkSession, DataFrame]
    def clear(): Unit = { frames.values.foreach(_.unpersist()); frames.clear() }
  }

  private val groups = new ConcurrentHashMap[Key, Group]()

  /** `spark.read.json(dir)`, parsed once per session and listing version. */
  def json(spark: SparkSession, dir: String): DataFrame = {
    groups.keySet.removeIf(_.sc.isStopped)
    val key = Key(spark.sparkContext, dir)
    val group = groups.computeIfAbsent(key, _ => new Group)
    val frame = group.synchronized {
      // a group dropped while this call waited for it is dead: retry below
      if (groups.get(key) ne group) None
      else {
        val current =
          try listing(spark, dir)
          catch {
            case e: java.io.IOException =>
              groups.remove(key)
              group.clear()
              throw e
          }
        if (current != group.fingerprint) {
          group.clear()
          group.fingerprint = current
        }
        Some(group.frames.getOrElseUpdate(spark, spark.read.json(dir).cache()))
      }
    }
    frame.getOrElse(json(spark, dir))
  }

  /** Sorted (path, length, modification time) of every visible file
    * under `dir`, recursing into visible subdirectories (partitions). */
  private def listing(spark: SparkSession, dir: String): Seq[(String, Long, Long)] = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    def visible(s: FileStatus): Boolean = {
      val name = s.getPath.getName
      !name.startsWith(".") && !name.startsWith("_")
    }
    def walk(p: Path): Seq[(String, Long, Long)] =
      fs.listStatus(p).toSeq.filter(visible).flatMap { s =>
        if (s.isDirectory) walk(s.getPath)
        else Seq((s.getPath.toString, s.getLen, s.getModificationTime))
      }
    walk(root).sorted
  }
}
