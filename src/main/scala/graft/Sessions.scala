package graft

import org.apache.spark.sql.SparkSession

/** One place for the engine's session defaults (Verify, Profile, Demo). */
object Sessions {
  /** `spark.sql.codegen.cache.maxEntries`: the generated classes one JVM
    * keeps compiled. Spark's default is 100, and the cache is LRU, so a
    * working set larger than the cache recompiles on almost every access.
    * Sized from two counts of distinct generated classes, taken with a
    * cache large enough to hold them all (sf0.01, `local[4]`): one checked
    * `query_suite` pass of `perfbench` compiles 198, and one full
    * `graft.Verify` pass 2,587 (its `codegen_compiles` summed; 3,083 with
    * the cache at 1,000 and 5,166 at 100). This holds the full suite with
    * ≈1.5x headroom. Holding those 2,587 classes costs ≈19 MB of metaspace,
    * ≈8 KB per class: metaspace after a full GC at the end of the pass,
    * 10,000 entries against 100. */
  val CodegenCacheEntries: Int = 4000

  /** Read parquet TIMESTAMP(NANOS) as long, which [[graft.sources.Tables.events]]
    * needs. Set for the whole session at its start: the conf is part of
    * every `Artifacts` fingerprint, so flipping it at the first events read
    * would build every schema and index built before that read again. */
  val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  def build(app: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(app)
      // custom expressions as SQL functions (uuid5, dot_product, ...)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      // one partition per core locally; on a cluster this would scale with
      // executors — the point is: never the 200 default for this data size
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // zstd shuffle/spill compression (guide §2.3/§9): markedly better
      // ratio than the lz4 default on this engine's text-heavy exchanges
      // for a little more CPU. Measured r20 on the wide-shuffle family at
      // sf0.1/local[32]: 58.8/58.5 s (lz4, two runs) -> 54.4 s (zstd)
      // over the 12-query subset, 10/12 queries faster, and fewer shuffle
      // bytes on disk is also a §5 memory-pressure defense. Not a
      // local-only trade: the ratio advantage grows with scale (shuffle
      // bytes cross the NIC once, §1.3).
      .config("spark.io.compression.codec", "zstd")
      .config("spark.sql.session.timeZone", "UTC")
      // q37's bucketed tables go through saveAsTable; without this the
      // default warehouse is ./spark-warehouse under the process cwd
      // (i.e. inside the repo checkout when a main runs from there)
      .config("spark.sql.warehouse.dir", "/tmp/graft-warehouse")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toLong)
      .config(NanosAsLong, "true")
      .getOrCreate()
  }
}
