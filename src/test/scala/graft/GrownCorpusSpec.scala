package graft

import java.io.File
import java.nio.file.Files

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Queries whose builders memoize per-corpus state in
  * [[graft.sources.Artifacts]] (a count, centroids, a codebook, a vocabulary,
  * a persisted index): a repeat call gives the first call's result, and after
  * rows are appended to the corpus the query gives what it gives on a fresh
  * copy of the grown corpus at a new path, with no refresh call. */
class GrownCorpusSpec extends SparkSpec {

  /** The copied tables' ids run 0..499, so an offset of 500·k keeps parity
    * (the dd and tx36 families split the corpus by doc_id parity). */
  private val Offset = 500L

  /** Embeddings grow by four rotated copies of the corpus: 2500 rows in
    * all, which moves ss08's plane count (8 → 9), enters PQ's training
    * prefix (vec_id < 2048) and shifts every label's IVF centroid. */
  private def growEmbeddings(e: DataFrame): DataFrame =
    (1 to 4).map { k =>
      e.select((col("vec_id") + Offset * k).as("vec_id"),
        expr(s"concat(slice(embedding, ${k + 1}, size(embedding) - $k), slice(embedding, 1, $k))")
          .as("embedding"),
        col("label"))
    }.reduce(_ unionByName _)

  /** Documents grow by one copy of the corpus with new words appended,
    * which adds bigrams and merge candidates to the vocabularies and new
    * windows to the substring index. */
  private def growDocuments(d: DataFrame): DataFrame =
    d.select((col("doc_id") + Offset).as("doc_id"),
        concat(col("text"), lit(" qzx zqxj qzxqzx jjqzx")).as("text"),
        col("lang"), col("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))

  private val cases: Seq[(String, String, DataFrame => DataFrame)] = Seq(
    ("ss05_ivf_ann", "embeddings", growEmbeddings),
    ("ss06_pq_ann", "embeddings", growEmbeddings),
    ("ss08_lsh_neardup", "embeddings", growEmbeddings),
    ("tx15_subword_tokens", "documents", growDocuments),
    ("tx17_subword_merged", "documents", growDocuments),
    ("dd19_refreshed_stats", "documents", growDocuments))

  /** sf0.001 copied to a new dir, each table a directory holding its file,
    * so rows can be appended as a second file. */
  private def copyOfSf001(): String = {
    val dir = Files.createTempDirectory("grown-corpus").toFile
    new File(sf001).listFiles().filter(_.getName.endsWith(".parquet")).foreach { t =>
      FileUtils.copyFile(t, new File(dir, s"${t.getName}/part-00000.parquet"))
    }
    dir.getAbsolutePath
  }

  private def copyOf(dir: String): String = {
    val to = Files.createTempDirectory("grown-corpus-copy").toFile
    FileUtils.copyDirectory(new File(dir), to)
    to.getAbsolutePath
  }

  /** The query's rows as a sorted multiset (ss05 has no final order). */
  private def run(query: String, dir: String): Seq[String] = {
    spark.catalog.clearCache()
    try SparkEntry.queries(query)(spark, dir).collect().map(_.toString).toSeq.sorted
    finally Caches.releaseAll()
  }

  for ((query, table, grow) <- cases)
    test(s"$query: a grown corpus equals a fresh copy of it, no refresh call") {
      val dir = copyOfSf001()
      val first = run(query, dir)
      assert(first.nonEmpty, "the copied corpus gives no rows")
      assert(run(query, dir) == first, "a repeat call changed the result")
      val path = s"$dir/$table.parquet"
      grow(spark.read.parquet(path)).write.mode("append").parquet(path)
      val grown = run(query, dir)
      val fresh = run(query, copyOf(dir))
      assert(grown == fresh, s"the grown corpus was served state of the old one: " +
        s"${grown.diff(fresh).take(3)} vs ${fresh.diff(grown).take(3)}")
    }
}
