package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    val only = args.drop(2).toSet // optional filter for local iteration
    val spark = Sessions.build("graft-verify")
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val profile = QueryProfile.attach(spark)
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try profile.span(name) {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // builders may .cache() intra-query-shared frames (dd06/ss05);
      // dropping them here bounds storage memory to one query's caches
      // over the 80+ query run. The pending count is printed BEFORE the
      // release so a builder-cache leak is visible in the round artifacts
      // (a query that registers caches shows its own count; a LEAK is a
      // nonzero count on a query that doesn't). jobs and stages are the
      // query's own, builder and write together; codegen_compiles counts the
      // generated classes it compiled (codegen cache misses), so a query that
      // recompiles on every call shows up too.
      val counts = profile.counts(name)
      val refused = operators.Layout.refusedRows
      val refusedNote =
        if (refused.isEmpty) ""
        else refused.map { case (t, n) => s"$t=$n" }.mkString(" cap_refused{", ",", "}")
      System.err.println(
        s"[verify] $name caches_pending=${Caches.pending} jobs=${counts.jobs} " +
          s"stages=${counts.stages} codegen_compiles=${counts.compiles}$refusedNote")
      operators.Layout.resetRefusedCounters()
      spark.catalog.clearCache()
      Caches.releaseAll()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    profile.close()
    spark.stop()
  }
}
