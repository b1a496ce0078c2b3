package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** As-of (backward) join: for each left row, the most recent right row with
  * `right.ts <= left.ts` within the same key.
  *
  * Implementation is the union+window form: tag both sides, union, one
  * window pass per key ordered by time carrying the last-seen right values
  * forward, then keep left rows. This costs ONE shuffle on the key (same as
  * any grouped window) and never materializes the per-row candidate range a
  * range-join would — at 100 TB it behaves like a sort-merge over
  * co-partitioned event streams, which is the plan you want.
  */
object AsOfJoin {

  /** Generic backward as-of join on a single key and timestamp column.
    * `left`/`right` must share `keyCol` and `tsCol`; right columns named in
    * `carry` are propagated to matching left rows (null if no prior right
    * row). Ties (equal ts) count the right row as visible to the left row.
    *
    * The carry travels as ONE struct of all value columns (ADVICE r13):
    * per-column `last(when(...), ignoreNulls)` would skip a matched right
    * row's null column and stitch values from DIFFERENT right rows —
    * diverging from [[graft.plans.AsOfJoinExec]]'s contract (carry the
    * matched row's values, nulls included). A null KEY never matches
    * (SQL equi-key semantics, same as the exec): null-key left rows get
    * null carries rather than matching null-key right rows that
    * `partitionBy` groups together. */
  def asofBackward(left: DataFrame, right: DataFrame, keyCol: String, tsCol: String,
      carry: Seq[String]): DataFrame = {
    val lTag = left.withColumn("__side", lit(1))
    val rTag = right.withColumn("__side", lit(0))
    val unioned = lTag.unionByName(rTag, allowMissingColumns = true)
    // right rows sort before left rows at equal ts => "<=" semantics
    val w = Window.partitionBy(keyCol).orderBy(col(tsCol), col("__side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val packed = unioned.withColumn("__carry",
      last(when(col("__side") === 0, struct(carry.map(col): _*)),
        ignoreNulls = true).over(w))
    val unpacked = packed.withColumns(carry.map(c =>
      c -> when(col(keyCol).isNotNull, col("__carry").getField(c))).toMap)
    unpacked.filter(col("__side") === 1).drop("__side", "__carry")
  }

  /** Generic forward as-of join: for each left row, the EARLIEST right row
    * with `right.ts >= left.ts` within the same key (ties visible) — the
    * pandas `merge_asof direction='forward'` contract as the union+window
    * mirror of [[graft.plans.AsOfJoinExec]]'s forward mode. Left rows sort
    * BEFORE right rows at equal ts so the tie stays inside the
    * current-row→following frame. Same single shuffle on the key.
    * Same struct-packed carry + null-key contract as [[asofBackward]]. */
  def asofForward(left: DataFrame, right: DataFrame, keyCol: String, tsCol: String,
      carry: Seq[String]): DataFrame = {
    val lTag = left.withColumn("__side", lit(0))
    val rTag = right.withColumn("__side", lit(1))
    val unioned = lTag.unionByName(rTag, allowMissingColumns = true)
    // left rows sort before right rows at equal ts => ">=" semantics
    val w = Window.partitionBy(keyCol).orderBy(col(tsCol), col("__side"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val packed = unioned.withColumn("__carry",
      first(when(col("__side") === 1, struct(carry.map(col): _*)),
        ignoreNulls = true).over(w))
    val unpacked = packed.withColumns(carry.map(c =>
      c -> when(col(keyCol).isNotNull, col("__carry").getField(c))).toMap)
    unpacked.filter(col("__side") === 0).drop("__side", "__carry")
  }

  /** Range join: equi key + time-band residual. The equi key (user_id)
    * carries the shuffle; the band predicate is evaluated as a cheap
    * residual inside the hash join — never a cartesian/BNL join. At 100 TB
    * with no equi key you'd bucket both sides by time window first. */
  val rangeJoinQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "rj01_time_range_join" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"), col("ts").as("p_ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("c_ts"))
      // Both sides descend from the same `events` scan: explicit aliases keep
      // the join condition unambiguous instead of leaning on Spark's
      // dataset-id self-join repair (which logs a trivially-true-predicate
      // warning and silently degrades if a select ever breaks the lineage).
      purchases.alias("p").join(clicks.alias("c"),
          col("p.user_id") === col("c.user_id") &&
          col("c.c_ts") >= col("p.p_ts") - expr("INTERVAL 30 MINUTES") &&
          col("c.c_ts") <= col("p.p_ts"), "left")
        .groupBy("purchase_id")
        .agg(count(col("c_ts")).as("clicks_30m_before"))
        .orderBy("purchase_id")
    }))

  private val asofQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Same backward-as-of semantics through the CUSTOM PHYSICAL OPERATOR
    // ([[graft.plans.AsOfJoinExec]]: co-partition on user_id, (key, time)
    // sort, single forward merge with O(1) state) instead of the
    // union+window form, with a 30-minute tolerance. Emits the matched
    // click time only — deterministic under equal-timestamp ties, which
    // keeps the DuckDB oracle exact.
    "aj02_asof_exec" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"), col("ts").as("p_ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("last_click_ts"))
      graft.plans.AsOfJoinPlan.asofExec(
          purchases, clicks,
          keys = Seq("user_id"), leftTimeCol = "p_ts", rightTimeCol = "last_click_ts",
          valueCols = Seq("last_click_ts"), toleranceUs = Some(30L * 60 * 1000 * 1000))
        .select("purchase_id", "p_ts", "last_click_ts")
        .orderBy("purchase_id")
    }),
    // FORWARD as-of through the custom exec: for every purchase, the
    // EARLIEST follow-up click by the same user within 30 minutes (the
    // post-purchase attribution direction). Same co-partition + (key, time)
    // sort as aj02; the forward merge carries even less state (the matched
    // row IS the read-ahead row).
    "aj03_asof_forward" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"), col("ts").as("p_ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("next_click_ts"))
      graft.plans.AsOfJoinPlan.asofExec(
          purchases, clicks,
          keys = Seq("user_id"), leftTimeCol = "p_ts", rightTimeCol = "next_click_ts",
          valueCols = Seq("next_click_ts"), toleranceUs = Some(30L * 60 * 1000 * 1000),
          forward = true)
        .select("purchase_id", "p_ts", "next_click_ts")
        .orderBy("purchase_id")
    }),
    // NEAREST as-of, composed from the two exec directions (pandas
    // `direction='nearest'`): the closer of the latest prior and earliest
    // later click, ties to the PRIOR row. The second exec adds NO exchange
    // or sort — the first exec's output is already clustered on user_id
    // and (user_id, p_ts)-sorted, so EnsureRequirements reuses both.
    "aj04_asof_nearest" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"), col("ts").as("p_ts"))
      def clicks(as: String) = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as(as))
      val back = graft.plans.AsOfJoinPlan.asofExec(
        purchases, clicks("b_ts"),
        keys = Seq("user_id"), leftTimeCol = "p_ts", rightTimeCol = "b_ts",
        valueCols = Seq("b_ts"))
      val both = graft.plans.AsOfJoinPlan.asofExec(
        back, clicks("f_ts"),
        keys = Seq("user_id"), leftTimeCol = "p_ts", rightTimeCol = "f_ts",
        valueCols = Seq("f_ts"), forward = true)
      both
        .withColumn("b_diff", unix_micros(col("p_ts")) - unix_micros(col("b_ts")))
        .withColumn("f_diff", unix_micros(col("f_ts")) - unix_micros(col("p_ts")))
        .withColumn("nearest_click_ts",
          when(col("b_ts").isNull, col("f_ts"))
            .when(col("f_ts").isNull, col("b_ts"))
            .when(col("b_diff") <= col("f_diff"), col("b_ts"))
            .otherwise(col("f_ts")))
        .withColumn("nearest_diff_us",
          when(col("nearest_click_ts").isNull, lit(null))
            .otherwise(least(col("b_diff"), col("f_diff"))))
        .select("purchase_id", "p_ts", "nearest_click_ts", "nearest_diff_us")
        .orderBy("purchase_id")
    }),
    // For every purchase, the latest prior (or simultaneous) click by the
    // same user: id, timestamp, and the purchase-click latency.
    "aj01_asof_backward" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"),
          col("ts").as("click_ts"), col("event_id").as("click_id"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id").as("purchase_id"))
      asofBackward(purchases, clicks, "user_id", "ts", Seq("click_ts", "click_id"))
        .select(
          col("purchase_id"), col("user_id"), col("ts").as("purchase_ts"),
          col("click_ts").as("last_click_ts"), col("click_id").as("last_click_id"),
          (unix_micros(col("ts")) - unix_micros(col("click_ts"))).as("latency_us"))
        .orderBy("purchase_id")
    }))

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    asofQueries ++ rangeJoinQueries

  val oracle: Map[String, String] = Map(
    "aj03_asof_forward" ->
      """SELECT p.event_id AS purchase_id, p.ts AS p_ts,
        |  (SELECT min(c.ts) FROM events c
        |   WHERE c.event_type = 'click' AND c.user_id = p.user_id
        |     AND c.ts >= p.ts AND c.ts <= p.ts + INTERVAL '30 minutes') AS next_click_ts
        |FROM events p WHERE p.event_type = 'purchase'
        |ORDER BY purchase_id""".stripMargin,
    "aj04_asof_nearest" ->
      """WITH p AS (
        |  SELECT event_id AS purchase_id, user_id, ts AS p_ts
        |  FROM events WHERE event_type = 'purchase'),
        |m AS (
        |  SELECT purchase_id, p_ts,
        |    (SELECT max(c.ts) FROM events c
        |     WHERE c.event_type = 'click' AND c.user_id = p.user_id
        |       AND c.ts <= p.p_ts) AS b_ts,
        |    (SELECT min(c.ts) FROM events c
        |     WHERE c.event_type = 'click' AND c.user_id = p.user_id
        |       AND c.ts >= p.p_ts) AS f_ts
        |  FROM p)
        |SELECT purchase_id, p_ts,
        |  CASE WHEN b_ts IS NULL THEN f_ts
        |       WHEN f_ts IS NULL THEN b_ts
        |       WHEN epoch_us(p_ts) - epoch_us(b_ts)
        |            <= epoch_us(f_ts) - epoch_us(p_ts) THEN b_ts
        |       ELSE f_ts END AS nearest_click_ts,
        |  CASE WHEN b_ts IS NULL AND f_ts IS NULL THEN NULL
        |       ELSE least(epoch_us(p_ts) - epoch_us(b_ts),
        |                  epoch_us(f_ts) - epoch_us(p_ts)) END AS nearest_diff_us
        |FROM m
        |ORDER BY purchase_id""".stripMargin,
    "aj02_asof_exec" ->
      """SELECT p.event_id AS purchase_id, p.ts AS p_ts,
        |  (SELECT max(c.ts) FROM events c
        |   WHERE c.event_type = 'click' AND c.user_id = p.user_id
        |     AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL '30 minutes') AS last_click_ts
        |FROM events p WHERE p.event_type = 'purchase'
        |ORDER BY purchase_id""".stripMargin,
    "rj01_time_range_join" ->
      """SELECT p.event_id AS purchase_id,
        |  (SELECT COUNT(*) FROM events c
        |   WHERE c.event_type = 'click' AND c.user_id = p.user_id
        |     AND c.ts >= p.ts - INTERVAL '30 minutes' AND c.ts <= p.ts) AS clicks_30m_before
        |FROM events p WHERE p.event_type = 'purchase'
        |ORDER BY purchase_id""".stripMargin,
    "aj01_asof_backward" ->
      """SELECT p.event_id AS purchase_id, p.user_id, p.ts AS purchase_ts,
        |  (SELECT max(c.ts) FROM events c
        |   WHERE c.event_type = 'click' AND c.user_id = p.user_id AND c.ts <= p.ts) AS last_click_ts,
        |  (SELECT arg_max(c.event_id, c.ts) FROM events c
        |   WHERE c.event_type = 'click' AND c.user_id = p.user_id AND c.ts <= p.ts) AS last_click_id,
        |  epoch_us(p.ts) - epoch_us((SELECT max(c.ts) FROM events c
        |   WHERE c.event_type = 'click' AND c.user_id = p.user_id AND c.ts <= p.ts)) AS latency_us
        |FROM events p WHERE p.event_type = 'purchase'
        |ORDER BY purchase_id""".stripMargin)
}
