package graft.sources

import java.io.FileNotFoundException
import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession

/** Artifacts derived from the files under a path (a table's schema, dd08's
  * corpus Bloom sketch), memoized by that path's listing fingerprint.
  *
  * KEY: the [[Fingerprint]] — every leaf file under the path, listed
  * recursively without the hidden `_`/`.` names Spark's `InMemoryFileIndex`
  * skips, as (path, size, mtime); plus the session state an artifact read
  * through Spark depends on: the SparkContext's application id (a broadcast
  * dies with its context) and the confs that change what parquet schema
  * inference returns.
  *
  * STALENESS: the store holds one entry per (path, artifact name). A lookup
  * whose fingerprint differs from the entry's rebuilds and replaces it, so
  * a rewritten or appended input is never served an artifact of its old
  * contents. A build that throws leaves nothing behind. A path that does
  * not exist has no fingerprint; its build runs unmemoized (and usually
  * reports the missing path). Concurrent misses on one key may each build;
  * every lookup still compares fingerprints, so none is served stale.
  */
object Artifacts {

  /** What an artifact of `path` was built from. */
  final case class Fingerprint(
      path: String,
      leaves: Vector[(String, Long, Long)],
      session: Vector[(String, Option[String])])

  private final case class Entry(fp: Fingerprint, value: AnyRef)

  private val store = new ConcurrentHashMap[(String, String), Entry]()

  /** Session confs that change the schema parquet inference returns. */
  private val inferenceConfs = Vector(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema")

  /** `InMemoryFileIndex`'s hidden-name rule: `_`/`.` prefixes (a `_` name
    * holding `=` is a partition directory) and in-flight `._COPYING_` files. */
  private def hidden(name: String): Boolean =
    (name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")

  /** The listing fingerprint of `path`; None when the path does not exist. */
  def fingerprint(spark: SparkSession, path: String): Option[Fingerprint] = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val top =
      try Some(fs.getFileStatus(root))
      catch { case _: FileNotFoundException => None }
    def leaves(st: FileStatus): Iterator[FileStatus] =
      if (!st.isDirectory) Iterator.single(st)
      else fs.listStatus(st.getPath).iterator
        .filterNot(c => hidden(c.getPath.getName)).flatMap(leaves)
    top.map { st =>
      Fingerprint(path,
        leaves(st).map(l => (l.getPath.toString, l.getLen, l.getModificationTime))
          .toVector.sorted,
        ("applicationId" -> Some(spark.sparkContext.applicationId)) +:
          inferenceConfs.map(k => k -> spark.conf.getOption(k)))
    }
  }

  /** The artifact `name` of the listing `fp`: the memoized one while `fp`
    * is unchanged, else `build`'s result, which replaces it. */
  def getOrBuild[A <: AnyRef](fp: Fingerprint, name: String)(build: => A): A = {
    val key = (fp.path, name)
    val hit = store.get(key)
    if (hit != null && hit.fp == fp) hit.value.asInstanceOf[A]
    else {
      val built = build
      store.put(key, Entry(fp, built))
      built
    }
  }

  /** [[getOrBuild]] on `path`'s current fingerprint. */
  def getOrBuild[A <: AnyRef](spark: SparkSession, path: String, name: String)(
      build: => A): A =
    fingerprint(spark, path) match {
      case Some(fp) => getOrBuild(fp, name)(build)
      case None => build
    }
}
