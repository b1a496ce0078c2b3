package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Physical-layout utilities for the 100 TB posture: skew salting and
  * bucketed co-located joins. These are the knobs you reach for when AQE's
  * automatic skew splitting isn't enough or when a join key is reused across
  * many jobs and the shuffle should be paid once at write time.
  */
object Layout {

  /** Rows refused by [[capHotKeys]], per call-site tag, observable so a real
    * corpus that trips a cap is VISIBLE (refused groups produce zero
    * candidate pairs — recall loss that only exact dedup can recover; silent
    * under-reporting is worse than the skew it prevents). Each builder
    * invocation registers a fresh [[org.apache.spark.sql.Observation]];
    * [[refusedRows]] sums the completed ones per tag.
    *
    * Why `observe()` and not an accumulator: the r5 accumulator needed a
    * Scala UDF as the keep predicate (executing code per row), which broke
    * whole-stage codegen at that filter in every capped plan (dd04/dd05/
    * dd06/ss08 — dd06 paid +0.4 s quiet). `CollectMetrics` computes the
    * refusal count as a side aggregate IN the same pass while the filter
    * stays pure Catalyst; it is also retry-clean (failed tasks don't
    * report) and, unlike a weakly-referenced accumulator, the Observation
    * is strongly held here until [[resetRefusedCounters]]. A capped frame
    * consumed by several plan branches (dd04's self-join) yields ONE metric
    * row per observation name, not one per branch — exact, not inflated. */
  private val refusedObs =
    new java.util.concurrent.ConcurrentLinkedQueue[(String, org.apache.spark.sql.Observation)]()
  private val obsNonce = new java.util.concurrent.atomic.AtomicLong()

  /** Total refused rows per tag since the last [[resetRefusedCounters]]
    * (only tags with nonzero counts). An observation whose query has not
    * finished an action yet reports empty and contributes 0. */
  def refusedRows: Map[String, Long] = {
    val it = refusedObs.iterator()
    val m = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    while (it.hasNext) {
      val (tag, obs) = it.next()
      org.apache.spark.sql.graftbridge.ObservationBridge.getOrEmpty(obs).get("refused").foreach {
        case n: java.lang.Long => m(tag) += n
        case _ => ()
      }
    }
    m.toMap.filter(_._2 > 0)
  }

  /** Drop all registered observations. Long-lived-session housekeeping:
    * call between jobs (alongside [[graft.Caches.releaseAll]]) or the
    * registry grows by one entry per capped-builder invocation. Frames
    * built before a reset still execute fine — their refusals are simply
    * no longer summed. */
  def resetRefusedCounters(): Unit = refusedObs.clear()

  /** The shared hot-key guard behind dd04/dd05/dd06/ss08: count each key
    * group with ONE window pass (no groupBy + join-back) and drop groups
    * larger than `cap` BEFORE any pair join — the bound that keeps one hot
    * bucket/shingle from owning a k² slice of a candidate join at 100 TB.
    * Groups AT the cap are kept (`<=`).
    *
    * Refusals are counted via `observe()` in the same pass (see
    * [[refusedRows]]): the keep filter is pure Catalyst and the metric
    * rides a pass-through CollectMetrics node sitting between the window
    * (itself never codegen'd) and the codegen'd filter span — measured
    * cost-parity with a metric-free filter at sf0.1, unlike the r5 UDF
    * predicate, which put a boxed per-row Scala call inside the filter. */
  def capHotKeys(df: DataFrame, keys: Seq[String], cap: Long,
      tag: String = ""): DataFrame = {
    val label = if (tag.nonEmpty) tag else keys.mkString("+")
    val obs = org.apache.spark.sql.Observation(
      s"graft.capHotKeys.refused[$label]#${obsNonce.incrementAndGet()}")
    refusedObs.add(label -> obs)
    val w = org.apache.spark.sql.expressions.Window.partitionBy(keys.map(col): _*)
    df.withColumn("__grp_sz", count(lit(1)).over(w))
      .observe(obs, coalesce(sum(when(col("__grp_sz") > cap, 1L)), lit(0L)).as("refused"))
      .filter(col("__grp_sz") <= cap)
      .drop("__grp_sz")
  }

  /** Skew-tolerant equi-join: salt the (large, skewed) left side by
    * splitting each key into `saltFactor` virtual keys, and explode the
    * right side across all salt values. Equivalent to `left.join(right,
    * keys)` for inner joins, but a hot key's rows spread over `saltFactor`
    * reducers instead of one.
    *
    * Salt is derived from a stable hash of the left row's other columns (or
    * a provided column), so the join stays deterministic. */
  def saltedJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
      saltFactor: Int, saltSource: Option[Column] = None): DataFrame = {
    val saltCol = saltSource.getOrElse(
      pmod(xxhash64(left.columns.map(col).toSeq: _*), lit(saltFactor.toLong)))
    val saltedLeft = left.withColumn("__salt", saltCol.cast("int"))
    val saltedRight = right.withColumn("__salt",
      explode(sequence(lit(0), lit(saltFactor - 1))))
    saltedLeft.join(saltedRight, keys :+ "__salt").drop("__salt")
  }

  /** Write a table bucketed+sorted by join keys. Two tables bucketed the
    * same way join with NO exchange (and no sort, since buckets are sorted):
    * the shuffle is paid once at write time and amortized over every later
    * join — the standard layout for a fact table joined daily at 100 TB.
    * With a `location` the table is external, its files stored there. */
  def writeBucketed(df: DataFrame, table: String, keys: Seq[String], buckets: Int,
      location: Option[String] = None): Unit =
    location.foldLeft(df.write)(_.option("path", _))
      .mode("overwrite")
      .bucketBy(buckets, keys.head, keys.drop(1): _*)
      .sortBy(keys.head, keys.drop(1): _*)
      .format("parquet")
      .saveAsTable(table)
}
