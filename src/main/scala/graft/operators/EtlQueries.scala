package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.EtlFunctions._
import graft.sources.{Artifacts, Tables}
import graft.sources.Tables.table

/** The reference's ETL primitives (SURVEY.md §2 Part A) exercised as declared
  * queries over the harness testdata, each with a DuckDB oracle. The same
  * `graft.functions.EtlFunctions` columns power the platform pipeline in
  * `graft.etl` — this surface proves their semantics against an independent
  * engine. */
object EtlQueries {

  /** e14's on-disk CSV fixture, an [[Artifacts.onDisk]] artifact of the
    * supplier table: the builder runs 2-3× per bench round and must not
    * re-write it (a side effect per invocation). */
  private def e14CsvPath(s: SparkSession, dir: String): String =
    Artifacts.onDisk(s, s"$dir/supplier.parquet", "e14-csv") { path =>
      table(s, dir, "supplier")
        .write.mode("overwrite").option("header", "true").csv(path)
    }

  /** e16's JSONL fixture. JSONL is the interchange format LLM
    * training-data pipelines actually trade in; the fixture is the
    * documents table serialized line-per-record, and the declared query
    * proves the schema'd read round-trips it bit-exactly (JSON string
    * escaping included) against the parquet oracle. */
  private def e16JsonlPath(s: SparkSession, dir: String): String =
    Artifacts.onDisk(s, s"$dir/documents.parquet", "e16-jsonl") { path =>
      table(s, dir, "documents")
        .write.mode("overwrite").json(path)
    }

  /** e17's lang-partitioned parquet fixture. Hive-style
    * `partitionBy("lang")` layout: the partition column lives in directory
    * names, not data files, which is the physical shape a 100 TB
    * date/lang-partitioned corpus table actually has on an object store. */
  private def e17PartitionedPath(s: SparkSession, dir: String): String =
    Artifacts.onDisk(s, s"$dir/documents.parquet", "e17-partitioned") { path =>
      table(s, dir, "documents")
        .write.mode("overwrite").partitionBy("lang").parquet(path)
    }

  /** e18's schema-EVOLVED parquet fixture. Two generations under one
    * root: gen=0 is the documents table as first ingested (doc_id, text,
    * lang — even ids), gen=1 adds the later columns (source, n_chars — odd
    * ids). This is the physical reality of a long-lived 100 TB corpus: new
    * columns arrive, old shards are NEVER rewritten, and every reader must
    * null-fill history correctly. */
  private def e18EvolvedPath(s: SparkSession, dir: String): String =
    Artifacts.onDisk(s, s"$dir/documents.parquet", "e18-evolved") { path =>
      val d = table(s, dir, "documents")
      d.filter(col("doc_id") % 2 === 0).select("doc_id", "text", "lang")
        .write.mode("overwrite").parquet(s"$path/gen=0")
      d.filter(col("doc_id") % 2 === 1)
        .select("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$path/gen=1")
    }

  /** e19's ORC fixture. ORC is the other columnar format Spark ships
    * natively (sql/core bundles the reader; no extra connector), and the
    * second most common lake format after parquet — a complete engine must
    * scan it with the same declared-schema discipline. The fixture is the
    * documents table rewritten as ORC with a filter-friendly layout
    * (sorted by n_chars within the write so ORC's min/max stripe stats
    * line up with e19's pushed predicate). */
  private def e19OrcPath(s: SparkSession, dir: String): String =
    Artifacts.onDisk(s, s"$dir/documents.parquet", "e19-orc") { path =>
      table(s, dir, "documents")
        .sortWithinPartitions("n_chars")
        .write.mode("overwrite").orc(path)
    }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // A1 (ORC source) — declared-schema ORC scan with a pushed predicate,
    // exercised end to end: documents round-trips through an on-disk ORC
    // fixture (stripe-sorted by n_chars) and is read back filtered; the
    // oracle replays the filter on the parquet table, so write→push→scan
    // is hash-checked. The declared schema skips inference (a second full
    // pass at 100 TB) exactly as e16 does for JSONL, and the n_chars
    // predicate reaches the ORC reader as a PushedFilter (stripe-level
    // min/max skipping — PruningSpec asserts it in the plan).
    "e19_orc_scan" -> ((s, dir) => {
      val path = e19OrcPath(s, dir)
      s.read.schema(StructType(Seq(
          StructField("doc_id", LongType),
          StructField("text", StringType),
          StructField("lang", StringType),
          StructField("source", StringType),
          StructField("n_chars", LongType))))
        .orc(path)
        .filter(col("n_chars") >= 300L)
        .orderBy("doc_id")
    }),

    // Schema-evolution scan as a DECLARED query: mergeSchema=true unions
    // the generations' footers distributed-side (no second data pass) and
    // null-fills the old generation's missing columns; the oracle replays
    // the null-fill rule on the unevolved parquet, so the evolved
    // write→merge→scan round trip is hash-checked end to end. The merged
    // schema is an artifact of the fixture: the footer-merge job runs on
    // the first call, and later calls read with it declared (e16's
    // discipline), starting no job.
    "e18_evolved_scan" -> ((s, dir) => {
      val path = e18EvolvedPath(s, dir)
      val merged = Artifacts.getOrBuild(s, path, "merged-schema")(
        s.read.option("mergeSchema", "true").parquet(path).schema)
      s.read.schema(merged).parquet(path)
        .select(col("doc_id"), col("text"), col("lang"),
          col("source"), col("n_chars"))
        .orderBy("doc_id")
    }),

    // Partition-pruned scan as a DECLARED query (PruningSpec asserts the
    // mechanism; this makes it gate-checked end to end): the fixture is
    // the documents table rewritten Hive-partitioned by lang, the query
    // filters one lang, and the plan must carry the predicate as a
    // PartitionFilter — directory-level pruning, zero IO for the other
    // partitions. On a 100 TB corpus partitioned by (date, lang) this is
    // the difference between scanning a shard and scanning the lake; the
    // oracle replays the same filter on the unpartitioned parquet, so the
    // write→prune→scan round trip is hash-checked (partition-column
    // round-trip included — lang travels through directory names).
    "e17_partition_prune" -> ((s, dir) => {
      val path = e17PartitionedPath(s, dir)
      Tables.parquet(s, path)
        .filter(col("lang") === "en")
        .select("doc_id", "text", "lang", "source", "n_chars")
        .orderBy("doc_id")
    }),

    // JSONL scan with a DECLARED schema (inference would be a second full
    // pass over 100 TB and could mistype empty partitions); the oracle is
    // the same rows from parquet, so the whole serialize→scan path is
    // hash-checked end to end.
    "e16_jsonl_scan" -> ((s, dir) => {
      val path = e16JsonlPath(s, dir)
      s.read.schema(StructType(Seq(
          StructField("doc_id", LongType),
          StructField("text", StringType),
          StructField("lang", StringType),
          StructField("source", StringType),
          StructField("n_chars", LongType))))
        .json(path)
        .orderBy("doc_id")
    }),

    // A6/A7 — tolerant numeric coercion + floored long cast
    "e01_cast_coerce" -> ((s, dir) => {
      table(s, dir, "documents").select(
        col("doc_id"),
        numCoerce(col("lang")).as("lang_num"), // never numeric -> null
        numCoerce(concat(col("n_chars").cast(StringType), lit("."),
          (col("doc_id") % 10).cast(StringType))).as("synth_num"),
        flooredLong(col("n_chars") / lit(7.0)).as("chars_div7"),
        numCoerce(col("source")).as("source_num")) // 'srcN' -> null
        .orderBy("doc_id")
    }),

    // A13 — timestamp normalize: parse, bad -> epoch, floor to second
    "e02_ts_normalize" -> ((s, dir) => {
      table(s, dir, "orders").select(
        col("o_orderkey"),
        tsNormalize(col("o_orderdate").cast(StringType)).as("ts_norm"),
        tsNormalize(col("o_orderpriority")).as("ts_bad")) // '1-URGENT' -> epoch
        .orderBy("o_orderkey")
    }),

    // A8/A9 — URL synthesis then regex id extraction round-trip
    "e03_url_extract" -> ((s, dir) => {
      val base = "https://listings.example.com/offer/"
      table(s, dir, "orders").select(
        col("o_orderkey"),
        prefixUrl(base, col("o_orderkey").cast(StringType)).as("url"))
        .withColumn("extracted_id", extractId(col("url"), "/offer/(\\d+)"))
        .orderBy("o_orderkey")
    }),

    // A10/A11 — constant null-fill + fill-from-sibling-column
    "e04_null_fill" -> ((s, dir) => {
      table(s, dir, "customer").select(
        col("c_custkey"),
        coalesce(nullif(col("c_mktsegment"), lit("MACHINERY")), lit("Unknown")).as("seg_filled"),
        coalesce(nullif(col("c_mktsegment"), lit("BUILDING")), col("c_name")).as("seg_or_name"),
        coalesce(when(col("c_acctbal") < 0, col("c_acctbal")), lit(0.0)).as("neg_or_zero"))
        .orderBy("c_custkey")
    }),

    // A17 — tolerant Python-list-literal parse. Array results are serialized
    // with array_join for the gate: the driver's pandas comparer cannot sort
    // array cells (round-1 "unhashable type: numpy.ndarray" failures).
    "e05_safe_list_parse" -> ((s, dir) => {
      table(s, dir, "documents").select(
        col("doc_id"),
        safeListParse(concat(lit("['"), col("source"), lit("', '"), col("lang"), lit("']")))
          .as("parsed_arr"),
        safeListParse(col("lang")).as("malformed_arr")) // not a list -> []
        .select(
          col("doc_id"),
          array_join(col("parsed_arr"), ",").as("parsed"),
          array_join(col("malformed_arr"), ",").as("malformed"),
          size(col("parsed_arr")).as("n_parsed"),
          element_at(col("parsed_arr"), 1).as("first_elem"))
        .orderBy("doc_id")
    }),

    // A18/A19 — element-wise prefix and null/blank compaction of arrays,
    // both code-generated (no explode, no UDF, no lambda); the name keeps
    // the higher-order functions they replaced. Arrays serialized for the
    // pandas-based gate (see e05 note).
    "e06_array_hof" -> ((s, dir) => {
      val base = "https://img.example.com/"
      table(s, dir, "documents").select(
        col("doc_id"),
        array_join(prefixEach(base, slice(split(col("text"), " "), 1, 3)), "|")
          .as("photo_urls"),
        array_join(
          arrayCompactStr(col("lang"), lit(null).cast(StringType), lit(""), col("source")),
          "|").as("compact"))
        .orderBy("doc_id")
    }),

    // A20 — single-key map -> JSON string
    "e07_map_json" -> ((s, dir) => {
      table(s, dir, "documents").select(
        col("doc_id"),
        metroJson(col("lang"), col("source"), col("n_chars")).as("subway_time"))
        .orderBy("doc_id")
    }),

    // A15/A21 + enum domains (A26) — conditional map, case norm, domain clamp
    "e09_enum_domain" -> ((s, dir) => {
      table(s, dir, "orders").select(
        col("o_orderkey"),
        enumDomain(col("o_orderpriority"),
          Seq("1-URGENT", "2-HIGH", "3-MEDIUM")).as("prio_clamped"),
        condMap(col("o_orderstatus"), "O", "open", "settled").as("status_mapped"),
        lower(col("o_orderpriority")).as("prio_lower"),
        upper(col("o_orderstatus")).as("status_upper"))
        .orderBy("o_orderkey")
    }),

    // A22 — deterministic keep-first dedup (min key per group via window)
    "e10_dedup_keepfirst" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("lang", "source").orderBy("doc_id")
      table(s, dir, "documents")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    }),

    // A26 — final typed cast to the sink schema (decimal/float/array guards).
    // `price` goes through DECIMAL(18,2) (the A26 semantics under test) and
    // back to double for the gate: the driver's comparer hashes a decimal-
    // typed cell as a Decimal object on whichever side preserves the type,
    // so a decimal-typed output column hash-mismatches even when every
    // value is identical (the round-2 red row). The reference also ships
    // money as float at the boundary (types_transform.py:10-11).
    "e11_final_cast" -> ((s, dir) => {
      table(s, dir, "orders").select(
        col("o_orderkey").cast(LongType).as("listing_id"),
        col("o_totalprice").cast(DecimalType(18, 2)).cast(DoubleType).as("price"),
        (col("o_totalprice") / 100.0).cast(FloatType).as("rate_f32"),
        year(col("o_orderdate")).cast(ShortType).as("built_year"),
        lit(0).cast(ByteType).as("valid"),
        array_join( // null->[] guard, serialized for the pandas-based gate
          coalesce(lit(null).cast(ArrayType(DoubleType)), array().cast(ArrayType(DoubleType)))
            .cast(ArrayType(StringType)), ",").as("subway_distances"))
        .orderBy("listing_id")
    }),

    // A4 — latest-partition discovery as a distributed query: parse
    // `offers_data/{platform}_{yyyyMMdd}.csv` listing keys (synthesized
    // deterministically from orders), regex out platform+date, max(date) per
    // platform — the reference's only aggregation
    // (src/utils/checking_s3_data.py:57-92). The driver-side control-plane
    // twin over a real file listing is etl.Pipeline.resolveDates.
    "e12_latest_partition" -> ((s, dir) => {
      val platforms = array(lit("domclick"), lit("yandex"), lit("avito"), lit("cian"))
      val keys = table(s, dir, "orders").select(
        concat(lit("offers_data/"),
          element_at(platforms, (col("o_orderkey") % 4 + 1).cast(IntegerType)),
          lit("_"), date_format(col("o_orderdate"), "yyyyMMdd"), lit(".csv")).as("key"))
      keys.select(
        regexp_extract(col("key"), "^offers_data/(\\w+)_(\\d{8})\\.csv$", 1).as("platform"),
        regexp_extract(col("key"), "^offers_data/(\\w+)_(\\d{8})\\.csv$", 2).as("dt"))
        .groupBy("platform")
        .agg(max("dt").as("latest_date"), count(lit(1)).as("n_files"))
        .orderBy("platform")
    }),

    // A14/A16 — boolean→flag projection and guarded division.
    "e13_flag_division" -> ((s, dir) => {
      table(s, dir, "customer").select(
        col("c_custkey"),
        boolFlag(when(col("c_custkey") % 2 === 0, "True").otherwise("False")).as("paid_flag"),
        boolFlag(lit(null).cast(StringType)).as("null_flag"), // null -> 0.0
        safeDiv(col("c_acctbal"), (col("c_custkey") % 7).cast(DoubleType)).as("bal_per_unit"))
        .orderBy("c_custkey")
    }),

    // A1 (CSV source) — declared-schema CSV scan, exercised end-to-end:
    // supplier is round-tripped through an on-disk CSV (header, quoting,
    // long/string/int/double typing) and read back via Tables.csv. The
    // oracle reads the parquet table directly, so the gate proves the CSV
    // reader reproduces the typed source exactly — the property the
    // reference's S3-CSV extraction path relies on. The write is a tiny
    // driver-side side effect at plan-build time; the returned plan scans
    // the CSV.
    "e14_csv_scan" -> ((s, dir) => {
      val path = e14CsvPath(s, dir)
      graft.sources.Tables.csv(s, path, StructType(Seq(
          StructField("s_suppkey", LongType),
          StructField("s_name", StringType),
          StructField("s_nationkey", IntegerType),
          StructField("s_acctbal", DoubleType))))
        .orderBy("s_suppkey")
    }),

    // Forward fill (gap filling): per key in time order, nulls take the
    // last non-null observation — the sensor/price-series ETL primitive.
    // One window shuffle on the key; last(ignoreNulls) over an unbounded-
    // preceding frame is the single-pass form (no self-join, no loop).
    "e15_forward_fill" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val o = table(s, dir, "orders").select(
        col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        // synthesize gaps deterministically: every 3rd order hides its price
        when(col("o_orderkey") % 3 === 0, lit(null).cast(DoubleType))
          .otherwise(col("o_totalprice")).as("price_obs"))
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      o.withColumn("price_filled", last(col("price_obs"), ignoreNulls = true).over(w))
        .orderBy("o_custkey", "o_orderdate", "o_orderkey")
    }),

    // A12/A27 — stable surrogate keys: xxhash64-based id + RFC-4122 v5 UUID.
    // No DuckDB oracle (no xxhash64/sha1 there): rows-only + ScalaTest vectors.
    "e08_stable_keys" -> ((s, dir) => {
      table(s, dir, "customer").select(
        col("c_custkey"),
        stableId(col("c_name")).as("name_id"),
        uuid5Key(col("c_custkey"), lit(1)).as("uid"))
        .orderBy("c_custkey")
    }))

  val oracle: Map[String, String] = Map(
    "e15_forward_fill" ->
      """SELECT o_custkey, o_orderkey, o_orderdate,
        |  CASE WHEN o_orderkey % 3 = 0 THEN NULL ELSE o_totalprice END AS price_obs,
        |  last_value(CASE WHEN o_orderkey % 3 = 0 THEN NULL ELSE o_totalprice END
        |             IGNORE NULLS)
        |    OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS price_filled
        |FROM orders
        |ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin,
    "e14_csv_scan" ->
      "SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier ORDER BY s_suppkey",
    "e16_jsonl_scan" ->
      "SELECT doc_id, text, lang, source, n_chars FROM documents ORDER BY doc_id",
    "e19_orc_scan" ->
      """SELECT doc_id, text, lang, source, n_chars FROM documents
        |WHERE n_chars >= 300 ORDER BY doc_id""".stripMargin,
    "e17_partition_prune" ->
      """SELECT doc_id, text, lang, source, n_chars FROM documents
        |WHERE lang = 'en' ORDER BY doc_id""".stripMargin,
    // mirrors e18's generation split: gen=0 (even ids) predates the
    // source/n_chars columns, so the merged scan null-fills them there
    "e18_evolved_scan" ->
      """SELECT doc_id, text, lang,
        |  CASE WHEN doc_id % 2 = 1 THEN source END AS source,
        |  CASE WHEN doc_id % 2 = 1 THEN n_chars END AS n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    "e01_cast_coerce" ->
      """SELECT doc_id,
        |  TRY_CAST(lang AS DOUBLE) AS lang_num,
        |  TRY_CAST(CAST(n_chars AS VARCHAR) || '.' || CAST(doc_id % 10 AS VARCHAR) AS DOUBLE) AS synth_num,
        |  CAST(floor(n_chars / 7.0) AS BIGINT) AS chars_div7,
        |  TRY_CAST(source AS DOUBLE) AS source_num
        |FROM documents ORDER BY doc_id""".stripMargin,
    "e02_ts_normalize" ->
      """SELECT o_orderkey,
        |  date_trunc('second', COALESCE(TRY_CAST(CAST(o_orderdate AS VARCHAR) AS TIMESTAMP),
        |                                TIMESTAMP '1970-01-01 00:00:00')) AS ts_norm,
        |  date_trunc('second', COALESCE(TRY_CAST(o_orderpriority AS TIMESTAMP),
        |                                TIMESTAMP '1970-01-01 00:00:00')) AS ts_bad
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "e03_url_extract" ->
      """SELECT o_orderkey,
        |  'https://listings.example.com/offer/' || CAST(o_orderkey AS VARCHAR) AS url,
        |  CAST(regexp_extract('https://listings.example.com/offer/' || CAST(o_orderkey AS VARCHAR),
        |                      '/offer/(\d+)', 1) AS BIGINT) AS extracted_id
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "e04_null_fill" ->
      """SELECT c_custkey,
        |  COALESCE(NULLIF(c_mktsegment, 'MACHINERY'), 'Unknown') AS seg_filled,
        |  COALESCE(NULLIF(c_mktsegment, 'BUILDING'), c_name) AS seg_or_name,
        |  COALESCE(CASE WHEN c_acctbal < 0 THEN c_acctbal END, 0.0) AS neg_or_zero
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "e05_safe_list_parse" ->
      """SELECT doc_id,
        |  source || ',' || lang AS parsed,
        |  '' AS malformed,
        |  2 AS n_parsed,
        |  source AS first_elem
        |FROM documents ORDER BY doc_id""".stripMargin,
    "e06_array_hof" ->
      """SELECT doc_id,
        |  array_to_string(list_transform(string_split(text, ' ')[1:3],
        |                 x -> 'https://img.example.com/' || regexp_replace(x, '^/+', '')), '|') AS photo_urls,
        |  array_to_string(list_filter([lang, NULL, '', source],
        |              x -> x IS NOT NULL AND trim(x) <> ''), '|') AS compact
        |FROM documents ORDER BY doc_id""".stripMargin,
    "e07_map_json" ->
      """SELECT doc_id,
        |  '{"' || lang || '":["' || source || '","' || CAST(n_chars AS VARCHAR) || '"]}' AS subway_time
        |FROM documents ORDER BY doc_id""".stripMargin,
    "e09_enum_domain" ->
      """SELECT o_orderkey,
        |  CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH','3-MEDIUM')
        |       THEN o_orderpriority ELSE 'Unknown' END AS prio_clamped,
        |  CASE WHEN o_orderstatus = 'O' THEN 'open' ELSE 'settled' END AS status_mapped,
        |  lower(o_orderpriority) AS prio_lower,
        |  upper(o_orderstatus) AS status_upper
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "e10_dedup_keepfirst" ->
      """SELECT doc_id, lang, source FROM (
        |  SELECT doc_id, lang, source,
        |    ROW_NUMBER() OVER (PARTITION BY lang, source ORDER BY doc_id) AS rn
        |  FROM documents) WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    "e11_final_cast" ->
      """SELECT o_orderkey AS listing_id,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price,
        |  CAST(o_totalprice / 100.0 AS FLOAT4) AS rate_f32,
        |  CAST(year(o_orderdate) AS SMALLINT) AS built_year,
        |  CAST(0 AS TINYINT) AS valid,
        |  '' AS subway_distances
        |FROM orders ORDER BY listing_id""".stripMargin,
    "e12_latest_partition" ->
      """WITH keys AS (
        |  SELECT 'offers_data/' ||
        |    (['domclick','yandex','avito','cian'])[CAST(o_orderkey % 4 + 1 AS INT)] ||
        |    '_' || strftime(o_orderdate, '%Y%m%d') || '.csv' AS key
        |  FROM orders)
        |SELECT regexp_extract(key, '^offers_data/(\w+)_(\d{8})\.csv$', 1) AS platform,
        |  MAX(regexp_extract(key, '^offers_data/(\w+)_(\d{8})\.csv$', 2)) AS latest_date,
        |  COUNT(*) AS n_files
        |FROM keys GROUP BY 1 ORDER BY 1""".stripMargin,
    "e13_flag_division" ->
      """SELECT c_custkey,
        |  CAST(CASE WHEN c_custkey % 2 = 0 THEN 1.0 ELSE 0.0 END AS DOUBLE) AS paid_flag,
        |  CAST(0.0 AS DOUBLE) AS null_flag,
        |  CASE WHEN CAST(c_custkey % 7 AS DOUBLE) > 0
        |       THEN c_acctbal / CAST(c_custkey % 7 AS DOUBLE) END AS bal_per_unit
        |FROM customer ORDER BY c_custkey""".stripMargin)
}
