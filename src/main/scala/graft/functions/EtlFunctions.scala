package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** Columnar re-expressions of the reference's row-wise ETL primitives
  * (SURVEY.md §2 Part A, A6–A21). Every function returns a Catalyst
  * `Column` of code-generated expressions: built-ins, or the kernels in
  * [[ListKernels]] where the built-in (`from_json`, `transform`, `filter`)
  * is `CodegenFallback`. There are no row UDFs, and each platform's
  * derivation projection compiles into one whole-stage codegen stage
  * (`EtlCodegenSpec`). Coercions use the `try_` forms: Spark 4 runs ANSI-on
  * by default, and the reference's semantics (`errors='coerce'`, bad input
  * → null) are exactly try_cast.
  *
  * Reference citations are to `/root/reference/` (RealValueAI/real-value-etl).
  */
object EtlFunctions {

  /** A6 — `pd.to_numeric(errors='coerce')`: unparsable → null.
    * Ref: src/etl/transformation.py:33-35 et al. Spark's string→double cast
    * has the same bad-input→null semantics (ANSI off). */
  def numCoerce(c: Column): Column = c.try_cast(DoubleType)

  /** A7 — `np.floor(to_numeric(x)).astype('Int64')`.
    * Ref: src/etl/transformation.py:33-35,60-62. */
  def flooredLong(c: Column): Column = floor(c.try_cast(DoubleType)).try_cast(LongType)

  /** A13 — timestamp normalize: parse (bad → null) → null-fill epoch →
    * floor to second; session TZ pinned UTC so tz-strip is implicit.
    * Ref: src/etl/transformation.py:67-88,272-284,428-432. */
  def tsNormalize(c: Column): Column =
    date_trunc("second",
      coalesce(try_to_timestamp(c), to_timestamp(lit("1970-01-01 00:00:00"))))

  /** A12 — stable surrogate key `abs(hash(x)) % 10**10`.
    * Ref: src/etl/transformation.py:101-103,418-419. The reference uses
    * process-salted Python `hash()` (nondeterministic across runs); we use
    * stable xxhash64 — a documented, deliberate divergence. */
  def stableId(c: Column): Column = pmod(xxhash64(c), lit(10000000000L))

  /** A8 — URL synthesis. Ref: src/etl/transformation.py:21-22,36-38,216. */
  def prefixUrl(base: String, c: Column): Column = concat(lit(base), c)

  /** A9 — regex ID extraction `/offer/(\d+)` → long.
    * Ref: src/etl/transformation.py:231-233,371-383. Empty match → cast null. */
  def extractId(c: Column, pattern: String): Column = {
    val m = regexp_extract(c, pattern, 1)
    when(m === "", lit(null)).otherwise(m).try_cast(LongType)
  }

  /** A14 — boolean → 1.0/0.0 flag. Ref: src/etl/transformation.py:119-124. */
  def boolFlag(c: Column): Column =
    when(c.isNotNull && c.try_cast(BooleanType), lit(1.0)).otherwise(lit(0.0))

  /** A17 — tolerant Python-list-literal parse: `"['a', 'b']"` → array,
    * anything else → []. Ref: src/etl/transformation.py:204-212 (`_safe_eval`).
    * The result is that of the single→double quote rewrite fed to
    * `from_json` (malformed → null → []), see [[PyListLiteral]]. */
  def safeListParse(c: Column): Column =
    ColumnBridge.column(PyListLiteral(ColumnBridge.expression(c)))

  /** A18 — element-wise URL prefix over an array column, stripping leading
    * slashes first (Yandex variant); a null array gives []. Ref:
    * src/etl/transformation.py:157-159,185-187,317-319,357-359. */
  def prefixEach(base: String, c: Column): Column =
    ColumnBridge.column(PrefixEach(ColumnBridge.expression(c), base))

  /** A19 — array from scalar columns, dropping null/blank entries.
    * Ref: src/etl/transformation.py:313-315,467-481. */
  def arrayCompactStr(cols: Column*): Column =
    compact(cols, x => x.isNotNull && trim(x) =!= "")

  def arrayCompactNum(cols: Column*): Column =
    compact(cols, x => x.isNotNull && !isnan(x))

  /** `filter(array(cols), keep)` without the lambda, which is not
    * code-generated: the concatenation of `[x]` for each kept `x` and of
    * `[]` for the rest. `array_repeat(x, 0)` is that `[]` with the type of
    * `[x]`, so the result has the type of `array(cols)`. */
  private def compact(cols: Seq[Column], keep: Column => Column): Column =
    concat(cols.map(x => when(keep(x), array(x)).otherwise(array_repeat(x, 0))): _*)

  /** A20 — single-key map → JSON string `{metro: [transport, minutes]}`.
    * Ref: src/etl/transformation.py:340-346. */
  def metroJson(name: Column, transport: Column, minutes: Column): Column =
    when(name.isNotNull,
      to_json(map(name, array(transport.cast(StringType), minutes.cast(StringType)))))

  /** A16 — guarded division: denominator must be present and > 0.
    * Ref: src/etl/transformation.py:408-413. */
  def safeDiv(num: Column, den: Column): Column =
    when(den.isNotNull && (den > 0), num / den)

  /** A15 — two-way conditional map (`np.where`).
    * Ref: src/etl/transformation.py:290-292. */
  def condMap(c: Column, matchVal: String, ifVal: String, elseVal: String): Column =
    when(c === matchVal, lit(ifVal)).otherwise(lit(elseVal))

  /** Enum domain enforcement for the ClickHouse Enum8 columns: outside the
    * domain → fallback. Ref: schema.md Enum8s; src/utils/types_transform.py:25-73. */
  def enumDomain(c: Column, domain: Seq[String], fallback: String = "Unknown"): Column =
    when(c.isin(domain.map(_.asInstanceOf[Any]): _*), c).otherwise(lit(fallback))

  /** A27 — deterministic RFC-4122 v5 UUID of s"${listingId}_${platformId}".
    * Ref: src/utils/types_transform.py:76-79. */
  def uuid5Key(listingId: Column, platformId: Column): Column =
    Uuid5.uuid5(concat(listingId.cast(StringType), lit("_"), platformId.cast(StringType)))
}
