package graft

import org.apache.spark.sql.functions._

import graft.operators.Layout

class LayoutSpec extends SparkSpec {
  import spark.implicits._

  test("saltedJoin equals the plain equi-join on a skewed key") {
    // heavily skewed: 90% of left rows share one key
    val left = (1 to 2000).map(i => (if (i % 10 == 0) i.toLong else 1L, i))
      .toDF("k", "payload")
    val right = (1L to 2000L).map(k => (k, s"dim_$k")).toDF("k", "attr")
    val plain = left.join(right, Seq("k")).select("k", "payload", "attr")
      .collect().map(_.toSeq).toSet
    val salted = Layout.saltedJoin(left, right, Seq("k"), saltFactor = 8)
      .select("k", "payload", "attr")
      .collect().map(_.toSeq).toSet
    assert(salted == plain)
    assert(salted.size == 2000)
  }

  test("capHotKeys refusals are observable, not silent") {
    Layout.resetRefusedCounters()
    // one hot key (90 rows) over the cap, ten singletons under it
    val df = (1 to 100).map(i => (if (i <= 90) "hot" else s"k$i", i)).toDF("k", "v")
    val kept = Layout.capHotKeys(df, Seq("k"), cap = 10, tag = "spec")
    assert(kept.count() == 10)
    assert(Layout.refusedRows("spec") == 90,
      "every dropped row must land in the tagged refusal metric")
    Layout.resetRefusedCounters()
    assert(Layout.refusedRows.isEmpty)
  }

  test("refusal counts stay exact through a cached frame consumed by a self-join") {
    // the dd04/dd06/ss08 shape: cap, cache, join the capped frame to
    // itself. The r5 accumulator counted refusals once per plan BRANCH
    // (and once more per retry); observe() must report the metric exactly
    // once per action regardless of how many branches consume the frame.
    Layout.resetRefusedCounters()
    val df = (1 to 100).map(i => (if (i <= 90) "hot" else s"k$i", i.toLong)).toDF("k", "v")
    val kept = Layout.capHotKeys(df, Seq("k"), cap = 10, tag = "selfjoin").cache()
    try {
      val a = kept.select(col("k"), col("v").as("va"))
      val b = kept.select(col("k"), col("v").as("vb"))
      assert(a.join(b, "k").count() == 10) // 10 singleton keys join 1:1
      assert(Layout.refusedRows("selfjoin") == 90,
        "two consuming branches must not double-count the 90 refusals")
      // a second action on the SAME observed frame must not accumulate
      // further (Observation reports its first completed action)
      assert(kept.count() == 10)
      assert(Layout.refusedRows("selfjoin") == 90)
    } finally {
      kept.unpersist()
      Layout.resetRefusedCounters()
    }
  }

  test("refusal counts stay exact through an UNCACHED frame consumed by a self-join") {
    // round-7 dd06 shape: the capped frame is NOT cached (ReusedExchange
    // shares the window's shuffle, and the cache measured +0.5 s at
    // sf0.1), so the same-named CollectMetrics node is duplicated across
    // every consuming plan branch. The metric must still report exactly
    // once — not once per executed branch.
    Layout.resetRefusedCounters()
    val df = (1 to 100).map(i => (if (i <= 90) "hot" else s"k$i", i.toLong)).toDF("k", "v")
    val kept = Layout.capHotKeys(df, Seq("k"), cap = 10, tag = "uncached-selfjoin")
    val a = kept.select(col("k"), col("v").as("va"))
    val b = kept.select(col("k"), col("v").as("vb"))
    assert(a.join(b, "k").count() == 10)
    assert(Layout.refusedRows("uncached-selfjoin") == 90,
      "branch-duplicated CollectMetrics must not multiply the 90 refusals")
    Layout.resetRefusedCounters()
  }

  test("q37's declared bucketed join runs with zero exchanges and matches the plain join") {
    val df = graft.SparkEntry.queries("q37_bucketed_join")(spark, sf001)
    // bucketing must never change results: same rows as the unbucketed join
    val plain = spark.read.parquet(s"$sf001/orders.parquet")
      .filter(col("o_orderstatus") === "F")
      .join(spark.read.parquet(s"$sf001/lineitem.parquet")
        .withColumnRenamed("l_orderkey", "o_orderkey"), "o_orderkey")
      .groupBy("o_orderkey")
      .agg(count(lit(1)).as("n_items"),
        graft.operators.Relational.dsum(
          col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
    assert(df.collect().toSet == plain.collect().toSet)
    // executed AFTER the action so AQE's final plan is what we assert on:
    // no shuffle AND no broadcast exchange anywhere — scans, merge join,
    // and the join-key aggregation all reuse the bucket clustering (a
    // per-partition Sort is allowed: several writer tasks per bucket mean
    // file-level, not bucket-level, sort order)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"expected an exchange-free plan:\n$plan")
    assert(plan.contains("SortMergeJoin"), s"merge hint must pin SMJ:\n$plan")
    assert(plan.contains("Bucketed: true"), s"scans should use the bucketing:\n$plan")
  }

  test("q37 writes its bucketed tables once per (process, dir)") {
    val q = graft.SparkEntry.queries("q37_bucketed_join")
    q(spark, sf001).count() // ensures the pair exists (earlier test already did)
    val tmp = new java.io.File(sys.props("java.io.tmpdir"))
    // restrict to THIS process's artifact dirs (the tmpdir is shared across
    // JVMs); each holds the two tables' dirs, and an empty one is skipped —
    // .max on an empty array would fail the test spuriously
    def stamps() = tmp.listFiles()
      .filter(_.getName.startsWith(s"graft_q37-bucketed_${ProcessHandle.current().pid()}_"))
      .flatMap(d => Option(d.listFiles()).getOrElse(Array.empty))
      .filter(d => Option(d.listFiles()).exists(_.nonEmpty))
      .map(d => d.getPath -> d.listFiles().map(_.lastModified).max).toMap
    val before = stamps()
    assert(before.nonEmpty)
    q(spark, sf001).count()
    assert(stamps() == before,
      "a repeat invocation must reuse the written tables, not rewrite them")
  }

  test("bucketed tables join with no exchange and no sort") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
    try {
      // fresh in-memory catalog per JVM, but the warehouse dir persists
      Seq("orders_b", "lineitem_b").foreach { t =>
        spark.sql(s"DROP TABLE IF EXISTS $t")
        org.apache.commons.io.FileUtils.deleteQuietly(
          new java.io.File(s"/tmp/graft-warehouse/$t"))
      }
      val o = spark.read.parquet(s"$sf001/orders.parquet")
      val li = spark.read.parquet(s"$sf001/lineitem.parquet")
      Layout.writeBucketed(o, "orders_b", Seq("o_orderkey"), 8)
      Layout.writeBucketed(li.withColumnRenamed("l_orderkey", "o_orderkey"),
        "lineitem_b", Seq("o_orderkey"), 8)
      val joined = spark.table("orders_b")
        .join(spark.table("lineitem_b"), "o_orderkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("ShuffleExchange"), s"plan should be shuffle-free:\n$plan")
      assert(plan.contains("SortMergeJoin"))
      assert(plan.contains("Bucketed: true"), "scans should use the bucketing")
      assert(joined.count() == li.count())
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }
}
