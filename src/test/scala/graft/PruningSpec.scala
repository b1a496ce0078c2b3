package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Scan-efficiency assertions: partition pruning on a partitioned layout —
  * at 100 TB this is the difference between reading one directory and
  * reading the lake. (Predicate pushdown to parquet row groups is asserted
  * via graft.Profile's printed scan nodes (PushedFilters); q02 is the
  * oracle query.) */
class PruningSpec extends SparkSpec {

  test("partitionBy layout prunes non-matching partitions at the scan") {
    val dir = Files.createTempDirectory("graft-prune").toString
    Tables.table(spark, sf001, "orders")
      .withColumn("status", col("o_orderstatus"))
      .write.partitionBy("status").parquet(s"$dir/orders")

    val read = spark.read.parquet(s"$dir/orders").filter(col("status") === "O")
    val scan = read.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters:"), s"no PartitionFilters in:\n$scan")
    assert(scan.contains("= O)"), s"status=O not in partition filters:\n$scan")

    // And the pruned read returns exactly the rows of the pruned key.
    val expected = Tables.table(spark, sf001, "orders")
      .filter(col("o_orderstatus") === "O").count()
    assert(read.count() == expected)
  }

  test("e17 (the DECLARED pruning query) carries lang as a PartitionFilter") {
    val df = SparkEntry.queries("e17_partition_prune")(spark, sf001)
    val scan = df.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters:"), s"no PartitionFilters in:\n$scan")
    assert(scan.contains("= en)"), s"lang=en not a partition filter:\n$scan")
    // the data files must not even carry the partition column
    assert(scan.contains("ReadSchema") && !scan.contains("lang:string"),
      s"lang leaked into the data-file schema (not directory-partitioned?):\n$scan")
  }

  test("e19 (the DECLARED ORC query) pushes n_chars to the ORC reader") {
    val df = SparkEntry.queries("e19_orc_scan")(spark, sf001)
    val scan = df.queryExecution.executedPlan.toString
    // the predicate must reach the scan (stripe-level min/max skipping at
    // scale), not run as a post-scan Filter only
    assert(scan.contains("PushedFilters:") && scan.contains("GreaterThanOrEqual(n_chars,300)"),
      s"n_chars >= 300 not pushed to the ORC scan:\n$scan")
    assert(scan.toLowerCase.contains("format: orc") || scan.toLowerCase.contains("orcscan"),
      s"expected an ORC scan node:\n$scan")
  }

  test("q38 LATERAL + LIMIT decorrelates to WindowGroupLimit, never a per-row re-scan") {
    // The lateral derived table must cost what the window form (q07)
    // costs: Catalyst rewrites the correlated LIMIT into a rank whose
    // WindowGroupLimit keeps per-task top-3 heaps before the exchange,
    // then joins the tiny outer side broadcast.
    val plan = SparkEntry.queries("q38_lateral_topk")(spark, sf001)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"lateral went cartesian:\n$plan")
    assert(plan.contains("WindowGroupLimit"),
      s"lateral top-3 did not decorrelate to WindowGroupLimit:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"outer side should broadcast:\n$plan")
  }
}
