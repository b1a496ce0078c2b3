package graft.sources

import java.io.{File, FileNotFoundException}
import java.nio.charset.StandardCharsets
import java.util.UUID
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.OptionConverters._

import org.apache.commons.io.FileUtils
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.slf4j.LoggerFactory

/** The one store of state derived from the files under a path, memoized by
  * that path's listing fingerprint. Its artifacts:
  *  - in memory, through [[getOrBuild]]: table schemas, e18's merged
  *    schema, dd08's Bloom sketch, ss08's corpus count, ss05's IVF
  *    centroids, ss06's PQ codebooks, tx15's and tx17's vocabularies;
  *  - on disk, through [[onDisk]]: the e14/e16/e17/e18/e19 format
  *    fixtures, dd11's LSH index, the substring window index, the kNN
  *    graph, tx36's bigram-count sidecar and q37's bucketed tables.
  *
  * KEY: the [[Fingerprint]] — every leaf file under the path, listed
  * recursively without the hidden `_`/`.` names Spark's `InMemoryFileIndex`
  * skips, as (path, size, mtime); plus the session state an artifact read
  * through Spark depends on: the SparkContext's application id (a broadcast
  * or a catalog table dies with its context) and the confs that change what
  * parquet schema inference returns.
  *
  * BUILD ONCE: the store holds one entry per (path, artifact name). A lookup
  * whose fingerprint differs from the entry's rebuilds and replaces it, so
  * a rewritten or appended input is never served an artifact of its old
  * contents. Each (path, name, fingerprint) builds at most once: concurrent
  * misses wait for the one build, which runs outside the map's lock, so a
  * lookup of another key never waits for it. A build that throws leaves
  * nothing behind. A path that does not exist has no fingerprint; its build
  * runs unmemoized (and usually reports the missing path).
  *
  * Each build logs one INFO line (name, path, build milliseconds), each hit
  * one DEBUG line, on the `graft.sources.Artifacts` logger.
  */
object Artifacts {

  /** What an artifact of `path` was built from. */
  final case class Fingerprint(
      path: String,
      leaves: Vector[(String, Long, Long)],
      session: Vector[(String, Option[String])])

  /** One artifact: a memoizing thunk, forced outside the map's lock. */
  private final class Entry(val fp: Fingerprint, build: => AnyRef) {
    lazy val value: AnyRef = build
  }

  private val store = new ConcurrentHashMap[(String, String), Entry]()

  private val log = LoggerFactory.getLogger(getClass.getName.stripSuffix("$"))

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
    val fresh = new Entry(fp, {
      val t0 = System.nanoTime()
      val built = build
      log.info(s"artifact $name of ${fp.path}: built in ${(System.nanoTime() - t0) / 1000000} ms")
      built
    })
    val entry = store.merge(key, fresh, (held, _) => if (held.fp == fp) held else fresh)
    if (entry ne fresh) log.debug(s"artifact $name of ${fp.path}: hit")
    try entry.value.asInstanceOf[A]
    catch { case e: Throwable => store.remove(key, entry); throw e }
  }

  /** [[getOrBuild]] on `path`'s current fingerprint. */
  def getOrBuild[A <: AnyRef](spark: SparkSession, path: String, name: String)(
      build: => A): A =
    fingerprint(spark, path) match {
      case Some(fp) => getOrBuild(fp, name)(build)
      case None => build
    }

  /** The directory of the on-disk artifact `name` of `input`, filled by
    * `write(dir)` on a miss. The directory is
    * `java.io.tmpdir/graft_<name>_<pid>_<fingerprint digest>`: the pid keeps
    * two processes from writing one directory, and a changed input gets a
    * new directory, so a plan built on the old one still reads it. The JVM
    * removes the directory at shutdown. The first build of each name in a
    * process also removes that name's directories left by processes that
    * are gone (killed before their shutdown hook ran): a directory whose pid
    * is dead, or whose pid's process started after the directory was last
    * written (a recycled pid). `name` is lowercase letters, digits and `-`,
    * so a directory name parses back unambiguously. */
  def onDisk(spark: SparkSession, input: String, name: String)(write: String => Unit): String = {
    require(name.matches("[a-z0-9-]+"), s"artifact name '$name' is not [a-z0-9-]+")
    def build(digest: String): String = {
      sweep(name)
      val dir = new File(sys.props("java.io.tmpdir"),
        s"graft_${name}_${ProcessHandle.current().pid()}_$digest")
      sys.addShutdownHook(FileUtils.deleteQuietly(dir): Unit)
      write(dir.getAbsolutePath)
      dir.getAbsolutePath
    }
    fingerprint(spark, input) match {
      case Some(fp) => getOrBuild(fp, name)(build(UUID.nameUUIDFromBytes(
        fp.toString.getBytes(StandardCharsets.UTF_8)).toString))
      case None => build(UUID.randomUUID().toString)
    }
  }

  private val swept = ConcurrentHashMap.newKeySet[String]()

  /** Once per (process, name): remove `name`'s directories whose writer is gone. */
  private def sweep(name: String): Unit =
    if (swept.add(name)) {
      val own = ProcessHandle.current().pid()
      val pidOf = s"^graft_${name}_(\\d{1,18})_".r
      Option(new File(sys.props("java.io.tmpdir")).listFiles()).getOrElse(Array.empty)
        .foreach { d =>
          pidOf.findFirstMatchIn(d.getName).flatMap(_.group(1).toLongOption)
            .filter(_ != own)
            .foreach { pid =>
              val live = ProcessHandle.of(pid).toScala.filter(_.isAlive)
              val recycled = live.flatMap(_.info().startInstant().toScala)
                .exists(_.toEpochMilli > d.lastModified())
              if (live.isEmpty || recycled) FileUtils.deleteQuietly(d)
            }
        }
    }
}
