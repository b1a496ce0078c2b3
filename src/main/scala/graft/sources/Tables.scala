package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Parquet/CSV source layer.
  *
  * The reference reads whole CSVs from S3 (`src/etl/extraction.py:17-33`) with
  * tolerant missing-key semantics (`:36-112`). Here: parquet scans over the
  * harness testdata (predicate pushdown + column pruning reach the scan), plus
  * the tolerant-read and schema-declared CSV equivalents used by the ETL layer.
  *
  * SCHEMA MEMO: every parquet read in the engine goes through [[parquet]],
  * which reads with `spark.read.schema(memoized)` instead of letting Spark
  * infer the schema, an eager job per read. The schema is the [[Artifacts]]
  * entry "schema" of the path. Its key is the path's listing fingerprint
  * (leaf paths, sizes and mtimes, hidden `_`/`.` files skipped as
  * `InMemoryFileIndex` skips them) plus the application id and the confs
  * that change parquet inference (`legacy.parquet.nanosAsLong`,
  * `parquet.binaryAsString`, `parquet.int96AsTimestamp`,
  * `parquet.inferTimestampNTZ.enabled`, `parquet.mergeSchema`). A rewritten
  * or appended table, or a flipped conf, changes the key and infers again
  * once, so a schema is never served stale; a failed inference is not
  * memoized. A missing path is read unmemoized, so Spark reports it as before.
  */
object Tables {

  /** A parquet scan of `path` with its memoized schema (see the object
    * scaladoc); partition columns of a Hive-partitioned directory are part
    * of that schema, so partition pruning is unchanged. */
  def parquet(spark: SparkSession, path: String): DataFrame =
    Artifacts.fingerprint(spark, path).fold(spark.read.parquet(path))(read(spark, path, _))

  private def read(spark: SparkSession, path: String, fp: Artifacts.Fingerprint): DataFrame =
    spark.read
      .schema(Artifacts.getOrBuild(fp, "schema")(spark.read.parquet(path).schema))
      .parquet(path)

  /** Standard table scan: `dir/name.parquet`. Filters/projections push down. */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    parquet(spark, s"$dir/$name.parquet")

  /** The events table carries TIMESTAMP(NANOS) — illegal for Spark's parquet
    * reader by default. Read nanos as long, then floor-divide to microseconds
    * (matches DuckDB's ns→µs truncation, so oracles agree). */
  def events(spark: SparkSession, dir: String): DataFrame = {
    // Two testdata generations exist (the r11 driver regenerated the
    // fixtures): `ts` was parquet timestamp[ns] — unreadable natively by
    // Spark, hence nanosAsLong + div 1000 — and is now timestamp[us],
    // which Spark reads as TIMESTAMP_NTZ. Adapt on the READ SCHEMA, not a
    // flag: both shapes normalize to the session-UTC TimestampType the
    // downstream operators (windows, as-of joins) were built against.
    // nanosAsLong is part of the schema memo's key, so the memoized schema
    // is the one inferred under it. Sessions.build sets it at session
    // start; this set changes only a session built elsewhere.
    spark.conf.set(graft.Sessions.NanosAsLong, "true")
    val raw = parquet(spark, s"$dir/events.parquet")
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => raw.withColumn("ts", col("ts").cast("timestamp"))
    }
  }

  /** A2 — tolerant scan: missing path → None, caller skips (the reference
    * skips a platform whose S3 key is absent rather than failing the run).
    * Absence is decided by the same listing the schema memo keys on; a
    * path that exists but cannot be read (a truncated file) raises. */
  def tableIfExists(spark: SparkSession, path: String): Option[DataFrame] =
    Artifacts.fingerprint(spark, path).map(read(spark, path, _))

  /** A1 — CSV scan with a *declared* schema (never inferred: inference is a
    * second full pass over 100 TB and nondeterministic on dirty data). */
  def csv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).option("header", "true").csv(path)

  /** A3 — test-mode capped read (`pd.read_csv(nrows=5000)`,
    * reference `src/etl/datapipeline.py:92-108`). */
  def csvCapped(spark: SparkSession, path: String, schema: StructType, n: Int): DataFrame =
    csv(spark, path, schema).limit(n)
}
