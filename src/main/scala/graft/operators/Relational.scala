package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.Artifacts
import graft.sources.Tables.table

/** Relational operator surface (SURVEY.md §2 Part B): joins (broadcast /
  * shuffle / semi / anti / theta), aggregations (hash, partial+final,
  * distinct, rollup / cube / grouping sets), window functions, sorts /
  * top-k, set ops, scalar function families.
  *
  * Oracle-parity note on floats: `SUM(double)` is order-dependent, and Spark
  * and DuckDB reduce in different orders. Monetary sums therefore go through
  * `DecimalType(28,6)` (exact, associative, commutative) and are cast back to
  * double for a stable comparable value. Scale 6 > the data's true decimal
  * scale (≤4), so Spark's string-based double→decimal cast and DuckDB's
  * binary-based one agree on every row — at scale 2 they diverge on
  * cent-level ties. (The reference's ClickHouse money columns are
  * Decimal(18,2) at the sink boundary only, `schema.md:7-11`.)
  */
object Relational {

  /** Exact decimal sum of a (possibly computed) double column → double. */
  def dsum(c: Column): Column = sum(c.cast(DecimalType(28, 6))).cast(DoubleType)

  /** Exact decimal average → double (sum exact, one double division at the end). */
  def davg(c: Column): Column = dsum(c) / count(lit(1))

  /** The catalog name of q37's bucketed table `side` stored under `artifact`. */
  private def q37Table(artifact: String, side: String): String =
    s"graft_q37_${side}_" + new java.io.File(artifact).getName.replaceAll("[^A-Za-z0-9]+", "_")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- Aggregation: hash agg with partial+final (Catalyst HashAggregateExec) ---
    "q01_pricing_summary" -> ((s, dir) => {
      table(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
          davg(col("l_quantity")).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // --- Scan efficiency: selective filter + narrow projection, both pushed to parquet ---
    "q02_filtered_revenue" -> ((s, dir) => {
      table(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast(TimestampType) &&
          col("l_shipdate") < lit("1997-01-01").cast(TimestampType) &&
          col("l_discount") >= 0.05 && col("l_quantity") < 24)
        .agg(dsum(col("l_extendedprice") * col("l_discount")).as("revenue"),
          count(lit(1)).as("n_rows"))
    }),

    // --- Join: star join; dims are broadcast (no shuffle of the fact side per dim) ---
    "q03_revenue_by_nation" -> ((s, dir) => {
      val li = table(s, dir, "lineitem")
      val o = table(s, dir, "orders")
      val c = table(s, dir, "customer")
      val n = table(s, dir, "nation")
      val r = table(s, dir, "region")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("r_name", "n_name")
    }),

    // --- Join: left semi (EXISTS) ---
    "q04_semi_join" -> ((s, dir) => {
      val o = table(s, dir, "orders")
      val big = table(s, dir, "lineitem").filter(col("l_quantity") >= 45)
      o.join(big, o("o_orderkey") === big("l_orderkey"), "left_semi")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("sum_price"))
        .orderBy("o_orderstatus")
    }),

    // --- Join: left anti (NOT EXISTS) ---
    "q05_anti_join" -> ((s, dir) => {
      val c = table(s, dir, "customer")
      val o = table(s, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_customers"))
        .orderBy("c_mktsegment")
    }),

    // --- Join: equi key + theta residual (ship strictly later than order month) ---
    "q06_theta_join" -> ((s, dir) => {
      val li = table(s, dir, "lineitem")
      val o = table(s, dir, "orders")
      li.join(o, li("l_orderkey") === o("o_orderkey") &&
          li("l_shipdate") > o("o_orderdate") + expr("INTERVAL 90 DAYS"))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_late"), dsum(col("l_extendedprice")).as("late_value"))
        .orderBy("o_orderstatus")
    }),

    // --- Window: top-k per group (rank inside partition, no global sort) ---
    "q07_topk_per_group" -> ((s, dir) => {
      val o = table(s, dir, "orders")
      val w = Window.partitionBy("o_custkey").orderBy(col("o_totalprice").desc, col("o_orderkey"))
      o.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rk")
    }),

    // --- Window: running sum / lag / lead over event time per key ---
    "q08_running_window" -> ((s, dir) => {
      val o = table(s, dir, "orders")
      val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
      o.select(
        col("o_custkey"), col("o_orderkey"),
        sum(col("o_totalprice").cast(DecimalType(28, 6)))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast(DoubleType).as("running_spend"),
        lag(col("o_orderkey"), 1).over(w).as("prev_order"),
        lead(col("o_orderkey"), 1).over(w).as("next_order"),
        row_number().over(w).as("order_seq"))
    }),

    // --- Sort/limit: global top-k → TakeOrderedAndProject (no full sort at scale) ---
    "q09_global_topk" -> ((s, dir) => {
      table(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .limit(10)
    }),

    // --- Aggregation: rollup (hierarchical subtotals) ---
    "q10_rollup" -> ((s, dir) => {
      // Flattened join input first (broadcast dims), then ROLLUP via the SQL
      // surface — the DataFrame rollup+orderBy path trips Spark's ambiguous-
      // self-join check when grouping columns come through a join.
      val c = table(s, dir, "customer")
      val n = table(s, dir, "nation")
      val r = table(s, dir, "region")
      c.join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .select("r_name", "n_name", "c_acctbal")
        .createOrReplaceTempView("cnr_v")
      s.sql("""
        SELECT r_name, n_name, COUNT(*) AS n_customers,
               CAST(SUM(CAST(c_acctbal AS DECIMAL(28,6))) AS DOUBLE) AS sum_bal
        FROM cnr_v
        GROUP BY ROLLUP (r_name, n_name)
        ORDER BY r_name NULLS FIRST, n_name NULLS FIRST
      """)
    }),

    // --- Aggregation: cube (all grouping combinations) ---
    "q11_cube" -> ((s, dir) => {
      table(s, dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("sum_price"))
        .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)
    }),

    // --- Aggregation: GROUPING SETS via the SQL surface ---
    "q12_grouping_sets" -> ((s, dir) => {
      table(s, dir, "orders").createOrReplaceTempView("orders_v")
      s.sql("""
        SELECT o_orderstatus, o_orderpriority,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS sum_price
        FROM orders_v
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
      """)
    }),

    // --- Set ops: intersect / except / union all in one result ---
    "q13_setops" -> ((s, dir) => {
      val cn = table(s, dir, "customer").select(col("c_nationkey").cast(IntegerType).as("nationkey"))
      val sn = table(s, dir, "supplier").select(col("s_nationkey").cast(IntegerType).as("nationkey"))
      val both = cn.intersect(sn).withColumn("tag", lit("both"))
      val custOnly = cn.except(sn).withColumn("tag", lit("customer_only"))
      both.unionByName(custOnly).orderBy("tag", "nationkey")
    }),

    // --- Aggregation: exact distinct + multi-distinct in one pass ---
    "q14_distinct_agg" -> ((s, dir) => {
      table(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          countDistinct(col("l_orderkey")).as("n_orders"),
          countDistinct(col("l_suppkey")).as("n_suppliers"),
          count(lit(1)).as("n_rows"))
        .orderBy("l_returnflag")
    }),

    // --- Scalar functions: string family ---
    "q15_string_funcs" -> ((s, dir) => {
      table(s, dir, "part")
        .select(
          col("p_partkey"),
          lower(col("p_name")).as("name_lower"),
          upper(col("p_brand")).as("brand_upper"),
          length(col("p_name")).as("name_len"),
          substring(col("p_type"), 1, 5).as("type_prefix"),
          concat_ws("|", col("p_brand"), col("p_type")).as("brand_type"),
          regexp_extract(col("p_type"), "(\\w+)$", 1).as("type_last_word"),
          trim(col("p_name")).as("name_trim"),
          replace(col("p_brand"), lit("Brand#"), lit("B")).as("brand_short"))
        .orderBy("p_partkey")
    }),

    // --- Scalar functions: date/time family ---
    "q16_date_funcs" -> ((s, dir) => {
      table(s, dir, "orders")
        .select(
          col("o_orderkey"),
          year(col("o_orderdate")).as("yr"),
          month(col("o_orderdate")).as("mo"),
          dayofmonth(col("o_orderdate")).as("dom"),
          date_trunc("month", col("o_orderdate")).as("month_start"),
          datediff(lit("2002-01-01").cast(DateType), col("o_orderdate").cast(DateType)).as("days_to_2002"),
          (col("o_orderdate") + expr("INTERVAL 30 DAYS")).as("due_date"))
        .orderBy("o_orderkey")
    }),

    // --- Conditionals & null handling ---
    "q17_case_null" -> ((s, dir) => {
      table(s, dir, "customer")
        .select(
          col("c_custkey"),
          when(col("c_acctbal") < 0, "overdrawn")
            .when(col("c_acctbal") < 5000, "standard")
            .otherwise("premium").as("tier"),
          coalesce(nullif(col("c_mktsegment"), lit("MACHINERY")), lit("OTHER")).as("seg_masked"),
          (col("c_acctbal") <=> lit(null)).as("bal_is_null"))
        .orderBy("c_custkey")
    }),

    // --- Semi-structured: JSON extraction + agg ---
    "q18_json_extract" -> ((s, dir) => {
      graft.sources.Tables.events(s, dir)
        .select(col("event_type"), get_json_object(col("props"), "$.k").cast(LongType).as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"), max(col("k")).as("max_k"))
        .orderBy("event_type")
    }),

    // --- Generator: explode array → re-aggregate (word counts) ---
    "q19_explode_words" -> ((s, dir) => {
      table(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("word"))
        .filter(col("word") =!= "")
        .groupBy("word")
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("word"))
    }),

    // --- Aggregation: exact interpolated percentiles / median ---
    "q21_percentiles" -> ((s, dir) => {
      table(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          expr("percentile(l_quantity, 0.5)").as("med_qty"),
          expr("percentile(l_extendedprice, 0.25)").as("p25_price"),
          expr("percentile(l_extendedprice, 0.75)").as("p75_price"))
        .orderBy("l_returnflag")
    }),

    // --- Subquery: uncorrelated IN ---
    "q22_in_subquery" -> ((s, dir) => {
      table(s, dir, "customer").createOrReplaceTempView("customer_v")
      table(s, dir, "orders").createOrReplaceTempView("orders_v22")
      s.sql("""
        SELECT c_mktsegment, COUNT(*) AS n_big_spenders
        FROM customer_v
        WHERE c_custkey IN (SELECT o_custkey FROM orders_v22 WHERE o_totalprice > 400000)
        GROUP BY c_mktsegment ORDER BY c_mktsegment
      """)
    }),

    // --- Subquery: correlated scalar (decorrelated by Catalyst to a join) ---
    "q23_corr_scalar_subquery" -> ((s, dir) => {
      table(s, dir, "orders").createOrReplaceTempView("orders_v23")
      table(s, dir, "lineitem").createOrReplaceTempView("lineitem_v23")
      s.sql("""
        SELECT o_orderkey, o_totalprice,
               (SELECT MAX(l_extendedprice) FROM lineitem_v23
                WHERE l_orderkey = o_orderkey) AS max_item_price
        FROM orders_v23 ORDER BY o_orderkey
      """)
    }),

    // --- Pivot: status columns per priority ---
    "q24_pivot" -> ((s, dir) => {
      table(s, dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", Seq("O", "F", "P"))
        .count()
        .orderBy("o_orderpriority")
    }),

    // --- Join: full outer over pre-aggregated sides (nulls on both edges,
    // coalesced key). Pre-aggregating BEFORE the join keeps the shuffled
    // sides at |distinct keys| rows — the scale-correct order. ---
    "q28_outer_join" -> ((s, dir) => {
      val cn = table(s, dir, "customer")
        .groupBy(col("c_nationkey").as("nk_c")).agg(count(lit(1)).as("n_cust"))
      val sn = table(s, dir, "supplier")
        .groupBy(col("s_nationkey").as("nk_s")).agg(count(lit(1)).as("n_supp"))
      cn.join(sn, col("nk_c") === col("nk_s"), "full_outer")
        .select(
          coalesce(col("nk_c"), col("nk_s")).as("nationkey"),
          coalesce(col("n_cust"), lit(0L)).as("n_cust"),
          coalesce(col("n_supp"), lit(0L)).as("n_supp"))
        .orderBy("nationkey")
    }),

    // --- Window: ranking family (rank / dense_rank / percent_rank / ntile /
    // first_value) — q07/q08 cover row_number, running sums, lag/lead ---
    "q30_rank_family" -> ((s, dir) => {
      val w = Window.partitionBy("o_orderstatus")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      table(s, dir, "orders")
        .filter(col("o_orderkey") % 100 === 0)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
          rank().over(w).as("rk"),
          dense_rank().over(w).as("drk"),
          percent_rank().over(w).as("prk"),
          ntile(4).over(w).as("quartile"),
          first_value(col("o_orderkey"))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .as("top_key"))
        .orderBy("o_orderkey")
    }),

    // The REST of the rank family (q40, r14): cume_dist (peers-inclusive
    // rank ÷ partition size — an int/int IEEE division, tx31's hash
    // license), nth_value over the FULL frame (needs the unbounded-
    // following frame q30's running first_value deliberately avoids),
    // and lead with an explicit default (the sentinel form a gap
    // analysis writes). Same slice and ordering as q30.
    "q40_window_extras" -> ((s, dir) => {
      val w = Window.partitionBy("o_orderstatus")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      val full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      table(s, dir, "orders")
        .filter(col("o_orderkey") % 100 === 0)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
          cume_dist().over(w).as("cd"),
          nth_value(col("o_orderkey"), 2).over(full).as("second_key"),
          lead(col("o_orderkey"), 1, -1L).over(w).as("next_key"))
        .orderBy("o_orderkey")
    }),

    // --- Aggregation extras: count_if, min_by/max_by, grouped string-agg.
    // min_by/max_by keys are zero-padded printf composites (price, orderkey)
    // so ties break deterministically and identically in both engines. ---
    "q31_agg_extras" -> ((s, dir) => {
      table(s, dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
          expr("count_if(o_totalprice > 200000)").as("n_big"),
          expr("""min_by(o_orderkey,
                    format_string('%020.6f', o_totalprice) || '-' ||
                    format_string('%010d', o_orderkey))""").as("cheapest_order"),
          expr("""max_by(o_orderkey,
                    format_string('%020.6f', o_totalprice) || '-' ||
                    format_string('%010d', o_orderkey))""").as("priciest_order"),
          expr("""array_join(array_sort(
                    collect_list(CAST(o_orderkey AS STRING))
                      FILTER (WHERE o_orderkey % 1000 = 0)), ',')""").as("sample_keys"))
        .orderBy("o_orderstatus")
    }),

    // --- Subquery: correlated EXISTS / NOT EXISTS (Catalyst decorrelates
    // to a semi join + anti join over the same scan — both key shuffles,
    // no per-row subquery execution) ---
    // BAG set operations (q39, r14) — INTERSECT ALL / EXCEPT ALL, the
    // multiplicity-preserving forms beside q13/q20's distinct ones: a
    // customer with three open orders and two big ones intersects with
    // multiplicity two, and bag semantics is what dedup accounting needs
    // (how many DUPLICATE rows survive, not which keys). Spark plans
    // these as a count-compare rewrite (generate the min/diff of the two
    // sides' counts) — one aggregation per side, no join explosion.
    // DuckDB runs the identical SQL.
    "q39_bag_setops" -> ((s, dir) => {
      table(s, dir, "orders").createOrReplaceTempView("orders_v39")
      s.sql("""
        SELECT o_custkey FROM (
          SELECT o_custkey FROM orders_v39 WHERE o_orderstatus = 'O'
          INTERSECT ALL
          SELECT o_custkey FROM orders_v39 WHERE o_totalprice > 100000
        ) EXCEPT ALL
        SELECT o_custkey FROM orders_v39 WHERE o_orderpriority = '1-URGENT'
        ORDER BY o_custkey
      """)
    }),

    // LATERAL correlated subquery (q38, r14) — the remaining subquery
    // surface beside IN/scalar/EXISTS: a per-outer-row derived table
    // (top-3 customers by balance per nation), the SQL form analysts
    // reach for before they know the window rewrite. Catalyst
    // decorrelates the LATERAL + LIMIT into the same rank-over-join
    // shape q07 declares directly — asserted by the spec: no
    // CartesianProduct survives and the plan carries a WindowGroupLimit
    // / rank filter, so the lateral surface costs what the window form
    // costs. DuckDB runs the identical SQL.
    "q38_lateral_topk" -> ((s, dir) => {
      table(s, dir, "nation").createOrReplaceTempView("nation_v38")
      table(s, dir, "customer").createOrReplaceTempView("customer_v38")
      s.sql("""
        SELECT n.n_name, t.c_name, t.c_acctbal
        FROM nation_v38 n,
        LATERAL (SELECT c_name, c_acctbal FROM customer_v38 c
                 WHERE c.c_nationkey = n.n_nationkey
                 ORDER BY c_acctbal DESC, c_name LIMIT 3) t
        ORDER BY n.n_name, t.c_acctbal DESC, t.c_name
      """)
    }),

    "q32_exists_subquery" -> ((s, dir) => {
      table(s, dir, "customer").createOrReplaceTempView("customer_v32")
      table(s, dir, "orders").createOrReplaceTempView("orders_v32")
      s.sql("""
        SELECT c_custkey, c_mktsegment
        FROM customer_v32 c
        WHERE EXISTS (SELECT 1 FROM orders_v32 o
                      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
          AND NOT EXISTS (SELECT 1 FROM orders_v32 o
                          WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
        ORDER BY c_custkey
      """)
    }),

    // --- Window: RANGE frame (value-based, peer-inclusive — unlike q08's
    // ROWS frame). Frame membership depends only on the order value, so
    // the result is deterministic under ties; the sum goes through decimal
    // for engine-reproducible addition. ---
    "q33_range_frame" -> ((s, dir) => {
      val o = table(s, dir, "orders")
      val w = Window.partitionBy("o_custkey").orderBy(col("o_totalprice"))
        .rangeBetween(-50000L, 0L)
      o.select(
        col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        count(lit(1)).over(w).as("n_within_50k"),
        sum(col("o_totalprice").cast(DecimalType(28, 6))).over(w)
          .cast(DoubleType).as("band_spend"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    // --- Null-safe equi-join (<=>): NULL keys match NULL keys — still a
    // hash join (EqualNullSafe is a valid hash key), not a nested loop. ---
    "q36_nullsafe_join" -> ((s, dir) => {
      val o = table(s, dir, "orders").select(col("o_orderkey"),
        expr("nullif(o_orderpriority, '1-URGENT')").as("prio"))
      val dim = o.select("prio").distinct()
        .withColumn("prio_label", coalesce(col("prio"), lit("NONE")))
      o.alias("l").join(broadcast(dim.alias("d")), expr("l.prio <=> d.prio"))
        .select(col("l.o_orderkey").as("o_orderkey"), col("d.prio_label").as("prio_label"))
        .orderBy("o_orderkey")
    }),

    // --- Bucketed co-located join ([[Layout.writeBucketed]]): both sides
    // written bucketed+sorted on the join key, then joined with ZERO
    // shuffle exchange and zero sort — the shuffle is paid once at write
    // time and amortized over every later join, the standard layout for a
    // fact table joined daily at 100 TB. The write happens inside the
    // builder because it IS the operator (the declared cost of the layout),
    // but only ONCE per corpus snapshot — that amortization is the
    // operator's entire point, so repeat invocations (bench pass B, a warm
    // session) measure the shuffle-free join, not a re-write. LayoutSpec
    // asserts the plan on this query.
    // The merge hint pins SMJ so the demonstration is the bucket-aligned
    // sort-merge, not a broadcast that would trivially skip the shuffle
    // anyway; grouping by the JOIN key lets the aggregation reuse the
    // join's clustering, and there is no final orderBy (the gate compares
    // sorted row multisets) — so the whole plan carries ZERO exchanges.
    // Oracle = the same join on the unbucketed parquet (bucketing must
    // never change results, only the plan). ---
    "q37_bucketed_join" -> ((s, dir) => {
      // the tables are external, in an Artifacts.onDisk directory of the
      // sf dir; their catalog names derive from that directory, which is
      // unique per (process, input listing, SparkContext)
      val art = Artifacts.onDisk(s, dir, "q37-bucketed") { path =>
        Layout.writeBucketed(table(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderstatus")),
          q37Table(path, "o"), Seq("o_orderkey"), 8, Some(s"$path/o"))
        Layout.writeBucketed(table(s, dir, "lineitem")
          .select(col("l_orderkey").as("o_orderkey"),
            col("l_extendedprice"), col("l_discount")),
          q37Table(path, "l"), Seq("o_orderkey"), 8, Some(s"$path/l"))
      }
      val (ot, lt) = (q37Table(art, "o"), q37Table(art, "l"))
      s.table(ot).filter(col("o_orderstatus") === "F")
        .join(s.table(lt).hint("merge"), "o_orderkey")
        .groupBy("o_orderkey")
        .agg(count(lit(1)).as("n_items"),
          dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
    }),

    // --- Unpivot (inverse of q24's pivot): wide per-status counts back to
    // (priority, status, n) rows via the built-in melt/unpivot — a narrow
    // per-row expansion, no shuffle beyond the feeding aggregation. ---
    "q35_unpivot" -> ((s, dir) => {
      val wide = table(s, dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", Seq("O", "F", "P"))
        .count()
      wide.unpivot(
          ids = Array(col("o_orderpriority")),
          values = Array(col("O"), col("F"), col("P")),
          variableColumnName = "status",
          valueColumnName = "n")
        .filter(col("n").isNotNull)
        .orderBy("o_orderpriority", "status")
    }),

    // --- Skew-salted join ([[Layout.saltedJoin]], salt 8): each left key
    // splits into 8 virtual keys and the (small) right side is exploded
    // across the salt range, so a hot key's rows land on 8 reducers instead
    // of one. Semantically identical to the plain inner join — which is
    // exactly what the oracle asserts. ---
    "q34_salted_join" -> ((s, dir) => {
      val li = table(s, dir, "lineitem")
        .select(col("l_suppkey").as("suppkey"), col("l_extendedprice"))
      val sup = table(s, dir, "supplier")
        .select(col("s_suppkey").as("suppkey"), col("s_name"))
      Layout.saltedJoin(li, sup, Seq("suppkey"), 8)
        .groupBy("s_name")
        .agg(count(lit(1)).as("n_items"), dsum(col("l_extendedprice")).as("revenue"))
        .orderBy("s_name")
    }),

    // --- Generator: posexplode (ordinality-preserving flatten) ---
    "q29_posexplode" -> ((s, dir) => {
      table(s, dir, "documents")
        .select(col("doc_id"),
          posexplode(slice(split(col("text"), " "), 1, 3)).as(Seq("pos", "word")))
        .orderBy("doc_id", "pos")
    }),

    // --- Cross join (tiny dims only — intentional cartesian) ---
    "q25_cross_join" -> ((s, dir) => {
      val r = table(s, dir, "region").select("r_name")
      val st = table(s, dir, "orders").select("o_orderstatus").distinct()
      r.crossJoin(st).orderBy("r_name", "o_orderstatus")
    }),

    // --- Approximate aggregates: HLL distinct + quantile sketch. Rows-only
    // check (sketch internals are engine-specific; exact counterparts are
    // oracle-checked in q14/q21) ---
    "q26_approx_aggs" -> ((s, dir) => {
      table(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          approx_count_distinct(col("l_orderkey")).as("approx_orders"),
          expr("approx_percentile(l_extendedprice, 0.5, 1000)").as("approx_median_price"),
          countDistinct(col("l_orderkey")).as("exact_orders"))
        .orderBy("l_returnflag")
    }),

    // --- Deterministic seeded sample (rows-only: sampling is engine-
    // specific; determinism across reruns is what matters at scale) ---
    "q27_seeded_sample" -> ((s, dir) => {
      table(s, dir, "orders")
        .sample(withReplacement = false, fraction = 0.1, seed = 42)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_sampled"))
        .orderBy("o_orderstatus")
    }),

    // --- Schema-align union (A25 analogue): unionByName with missing columns ---
    "q20_union_by_name" -> ((s, dir) => {
      val c = table(s, dir, "customer").select(
        col("c_name").as("name"), col("c_nationkey").cast(IntegerType).as("nationkey"),
        col("c_acctbal").as("acctbal"), col("c_mktsegment").as("mktsegment"),
        lit("customer").as("kind"))
      val sup = table(s, dir, "supplier").select(
        col("s_name").as("name"), col("s_nationkey").cast(IntegerType).as("nationkey"),
        col("s_acctbal").as("acctbal"), lit("supplier").as("kind"))
      c.unionByName(sup, allowMissingColumns = true)
        .groupBy("kind", "nationkey")
        .agg(count(lit(1)).as("n"), dsum(col("acctbal")).as("sum_bal"),
          count(col("mktsegment")).as("n_with_segment"))
        .orderBy("kind", "nationkey")
    }))

  val oracle: Map[String, String] = Map(
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS sum_disc_price,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*) AS avg_qty,
        |  COUNT(*) AS count_order
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q02_filtered_revenue" ->
      """SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(28,6))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_rows
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount >= 0.05 AND l_quantity < 24""".stripMargin,
    "q03_revenue_by_nation" ->
      """SELECT r_name, n_name,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q04_semi_join" ->
      """SELECT o_orderstatus, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS sum_price
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_quantity >= 45)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q05_anti_join" ->
      """SELECT c_mktsegment, COUNT(*) AS n_customers
        |FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q06_theta_join" ->
      """SELECT o_orderstatus, COUNT(*) AS n_late,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) AS late_value
        |FROM lineitem JOIN orders
        |  ON l_orderkey = o_orderkey AND l_shipdate > o_orderdate + INTERVAL 90 DAY
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q07_topk_per_group" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey
        |                       ORDER BY o_totalprice DESC, o_orderkey) AS rk
        |  FROM orders) WHERE rk <= 3""".stripMargin,
    "q08_running_window" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6)))
        |    OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend,
        |  LAG(o_orderkey, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_order,
        |  LEAD(o_orderkey, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS next_order,
        |  ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS order_seq
        |FROM orders""".stripMargin,
    "q09_global_topk" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,
    "q10_rollup" ->
      """SELECT r_name, n_name, COUNT(*) AS n_customers,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(28,6))) AS DOUBLE) AS sum_bal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP (r_name, n_name)
        |ORDER BY r_name NULLS FIRST, n_name NULLS FIRST""".stripMargin,
    "q11_cube" ->
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS sum_price
        |FROM orders
        |GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,
    "q12_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS sum_price
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,
    "q13_setops" ->
      """SELECT nationkey, 'both' AS tag FROM
        |  (SELECT c_nationkey AS nationkey FROM customer
        |   INTERSECT SELECT s_nationkey FROM supplier)
        |UNION ALL
        |SELECT nationkey, 'customer_only' AS tag FROM
        |  (SELECT c_nationkey AS nationkey FROM customer
        |   EXCEPT SELECT s_nationkey FROM supplier)
        |ORDER BY tag, nationkey""".stripMargin,
    "q14_distinct_agg" ->
      """SELECT l_returnflag,
        |  COUNT(DISTINCT l_orderkey) AS n_orders,
        |  COUNT(DISTINCT l_suppkey) AS n_suppliers,
        |  COUNT(*) AS n_rows
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q15_string_funcs" ->
      """SELECT p_partkey,
        |  lower(p_name) AS name_lower,
        |  upper(p_brand) AS brand_upper,
        |  length(p_name) AS name_len,
        |  substr(p_type, 1, 5) AS type_prefix,
        |  concat_ws('|', p_brand, p_type) AS brand_type,
        |  regexp_extract(p_type, '(\w+)$', 1) AS type_last_word,
        |  trim(p_name) AS name_trim,
        |  replace(p_brand, 'Brand#', 'B') AS brand_short
        |FROM part ORDER BY p_partkey""".stripMargin,
    "q16_date_funcs" ->
      """SELECT o_orderkey,
        |  year(o_orderdate) AS yr,
        |  month(o_orderdate) AS mo,
        |  day(o_orderdate) AS dom,
        |  CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
        |  datediff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS days_to_2002,
        |  o_orderdate + INTERVAL 30 DAY AS due_date
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q17_case_null" ->
      """SELECT c_custkey,
        |  CASE WHEN c_acctbal < 0 THEN 'overdrawn'
        |       WHEN c_acctbal < 5000 THEN 'standard'
        |       ELSE 'premium' END AS tier,
        |  COALESCE(NULLIF(c_mktsegment, 'MACHINERY'), 'OTHER') AS seg_masked,
        |  (c_acctbal IS NOT DISTINCT FROM NULL) AS bal_is_null
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "q18_json_extract" ->
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q19_explode_words" ->
      """SELECT word, COUNT(*) AS n
        |FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        |WHERE word <> ''
        |GROUP BY 1 ORDER BY n DESC, word""".stripMargin,
    "q21_percentiles" ->
      """SELECT l_returnflag,
        |  quantile_cont(l_quantity, 0.5) AS med_qty,
        |  quantile_cont(l_extendedprice, 0.25) AS p25_price,
        |  quantile_cont(l_extendedprice, 0.75) AS p75_price
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q22_in_subquery" ->
      """SELECT c_mktsegment, COUNT(*) AS n_big_spenders
        |FROM customer
        |WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 400000)
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q23_corr_scalar_subquery" ->
      """SELECT o_orderkey, o_totalprice,
        |  (SELECT MAX(l_extendedprice) FROM lineitem
        |   WHERE l_orderkey = o_orderkey) AS max_item_price
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q24_pivot" ->
      """SELECT o_orderpriority,
        |  CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS BIGINT) AS "O",
        |  CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS BIGINT) AS "F",
        |  CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS BIGINT) AS "P"
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "q25_cross_join" ->
      """SELECT r_name, o_orderstatus
        |FROM region CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders)
        |ORDER BY r_name, o_orderstatus""".stripMargin,
    "q28_outer_join" ->
      """SELECT COALESCE(c.nk, s.nk) AS nationkey,
        |  COALESCE(n_cust, 0) AS n_cust,
        |  COALESCE(n_supp, 0) AS n_supp
        |FROM (SELECT c_nationkey AS nk, COUNT(*) AS n_cust FROM customer GROUP BY 1) c
        |FULL OUTER JOIN
        |     (SELECT s_nationkey AS nk, COUNT(*) AS n_supp FROM supplier GROUP BY 1) s
        |  ON c.nk = s.nk
        |ORDER BY nationkey""".stripMargin,
    "q31_agg_extras" ->
      """SELECT o_orderstatus,
        |  CAST(count_if(o_totalprice > 200000) AS BIGINT) AS n_big,
        |  arg_min(o_orderkey, printf('%020.6f', o_totalprice) || '-' ||
        |                      printf('%010d', o_orderkey)) AS cheapest_order,
        |  arg_max(o_orderkey, printf('%020.6f', o_totalprice) || '-' ||
        |                      printf('%010d', o_orderkey)) AS priciest_order,
        |  COALESCE(string_agg(CAST(o_orderkey AS VARCHAR), ',' ORDER BY CAST(o_orderkey AS VARCHAR))
        |             FILTER (WHERE o_orderkey % 1000 = 0), '') AS sample_keys
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "q36_nullsafe_join" ->
      """WITH o AS (
        |  SELECT o_orderkey, nullif(o_orderpriority, '1-URGENT') AS prio FROM orders),
        |d AS (
        |  SELECT DISTINCT prio, COALESCE(prio, 'NONE') AS prio_label FROM o)
        |SELECT o.o_orderkey, d.prio_label
        |FROM o JOIN d ON o.prio IS NOT DISTINCT FROM d.prio
        |ORDER BY o_orderkey""".stripMargin,
    "q37_bucketed_join" ->
      """SELECT o_orderkey, COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS revenue
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE o_orderstatus = 'F'
        |GROUP BY 1""".stripMargin,
    "q35_unpivot" ->
      """WITH wide AS (
        |  SELECT o_orderpriority,
        |    CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS BIGINT) AS o_n,
        |    CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS BIGINT) AS f_n,
        |    CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS BIGINT) AS p_n
        |  FROM orders GROUP BY 1)
        |SELECT o_orderpriority, status, n FROM (
        |  SELECT o_orderpriority, 'O' AS status, o_n AS n FROM wide
        |  UNION ALL SELECT o_orderpriority, 'F', f_n FROM wide
        |  UNION ALL SELECT o_orderpriority, 'P', p_n FROM wide)
        |WHERE n IS NOT NULL
        |ORDER BY o_orderpriority, status""".stripMargin,
    "q34_salted_join" ->
      """SELECT s_name, COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // q39 runs the IDENTICAL SQL on both engines — bag semantics is
    // standard; the sorted-multiset compare is exactly what ALL tests.
    "q39_bag_setops" ->
      """SELECT o_custkey FROM (
        |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        |  INTERSECT ALL
        |  SELECT o_custkey FROM orders WHERE o_totalprice > 100000
        |) EXCEPT ALL
        |SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        |ORDER BY o_custkey""".stripMargin,
    // q38 runs the IDENTICAL SQL on both engines — LATERAL is standard.
    "q38_lateral_topk" ->
      """SELECT n.n_name, t.c_name, t.c_acctbal
        |FROM nation n,
        |LATERAL (SELECT c_name, c_acctbal FROM customer c
        |         WHERE c.c_nationkey = n.n_nationkey
        |         ORDER BY c_acctbal DESC, c_name LIMIT 3) t
        |ORDER BY n.n_name, t.c_acctbal DESC, t.c_name""".stripMargin,
    "q32_exists_subquery" ->
      """SELECT c_custkey, c_mktsegment
        |FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
        |  AND NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
        |ORDER BY c_custkey""".stripMargin,
    "q33_range_frame" ->
      """SELECT o_custkey, o_orderkey, o_totalprice,
        |  count(*) OVER w AS n_within_50k,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) OVER w AS DOUBLE) AS band_spend
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice
        |             RANGE BETWEEN 50000 PRECEDING AND CURRENT ROW)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    // q40: cume_dist is an int/int IEEE division on both engines;
    // nth_value needs the explicit unbounded-following frame in DuckDB
    // too; lead's default keeps the last row non-null.
    "q40_window_extras" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice,
        |  cume_dist() OVER w AS cd,
        |  nth_value(o_orderkey, 2) OVER
        |    (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC, o_orderkey
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS second_key,
        |  lead(o_orderkey, 1, -1) OVER w AS next_key
        |FROM orders
        |WHERE o_orderkey % 100 = 0
        |WINDOW w AS (PARTITION BY o_orderstatus
        |             ORDER BY o_totalprice DESC, o_orderkey)
        |ORDER BY o_orderkey""".stripMargin,
    "q30_rank_family" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice,
        |  CAST(rank() OVER w AS INT) AS rk,
        |  CAST(dense_rank() OVER w AS INT) AS drk,
        |  percent_rank() OVER w AS prk,
        |  CAST(ntile(4) OVER w AS INT) AS quartile,
        |  first_value(o_orderkey) OVER
        |    (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC, o_orderkey
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS top_key
        |FROM orders WHERE o_orderkey % 100 = 0
        |WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC, o_orderkey)
        |ORDER BY o_orderkey""".stripMargin,
    "q29_posexplode" ->
      """SELECT doc_id, CAST(i - 1 AS INT) AS pos,
        |  string_split(text, ' ')[CAST(i AS INT)] AS word
        |FROM documents, range(1, 4) t(i)
        |WHERE i <= len(string_split(text, ' '))
        |ORDER BY doc_id, pos""".stripMargin,
    "q20_union_by_name" ->
      """SELECT kind, nationkey, COUNT(*) AS n,
        |  CAST(SUM(CAST(acctbal AS DECIMAL(28,6))) AS DOUBLE) AS sum_bal,
        |  COUNT(mktsegment) AS n_with_segment
        |FROM (
        |  SELECT c_name AS name, c_nationkey AS nationkey, c_acctbal AS acctbal,
        |         c_mktsegment AS mktsegment, 'customer' AS kind FROM customer
        |  UNION ALL
        |  SELECT s_name, s_nationkey, s_acctbal, NULL, 'supplier' FROM supplier)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
}
