package graft

import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.BinaryType

import graft.functions.BloomMightContainBroadcast
import graft.operators.Dedup

/** The broadcast-Bloom transport behind dd08 (verdict r7 ask #1): the
  * sketch must reach the probe as a broadcast variable read by
  * [[BloomMightContainBroadcast]], never as a plan literal — Catalyst
  * canonicalization re-hashes literal byte arrays across rule batches,
  * which measurably costs ~+0.7 s/invocation at 1 MB and is a non-starter
  * at real fp-index scale. */
class BloomBroadcastSpec extends SparkSpec {
  import spark.implicits._

  /** All binary literals anywhere in the optimized plan, subqueries
    * included. */
  private def binaryLiteralSizes(df: org.apache.spark.sql.DataFrame): Seq[Int] =
    df.queryExecution.optimizedPlan.collectWithSubqueries { case p =>
      p.expressions.flatMap(_.collect {
        case Literal(b: Array[Byte], BinaryType) if b != null => b.length
      })
    }.flatten

  test("dd08's optimized plan carries no large binary literal") {
    val df = Dedup.queries("dd08_bloom_incremental")(spark, sf001)
    val large = binaryLiteralSizes(df).filter(_ > 1024)
    assert(large.isEmpty,
      s"sketch leaked into the plan as a literal (sizes: $large)")
    // and the broadcast probe expression is actually in the plan
    val planStr = df.queryExecution.optimizedPlan.toString
    assert(planStr.contains("bloom_might_contain_broadcast"),
      s"broadcast probe expression missing from plan:\n$planStr")
  }

  test("broadcast probe matches the literal-form BloomFilterMightContain bit for bit") {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column => C, expression => E}
    val vals = spark.range(0, 5000).select($"id", xxhash64($"id".cast("string")).as("h"))
    // sketch over the even half, built with Spark's own aggregate
    val bfAgg = C(new org.apache.spark.sql.catalyst.expressions.aggregate
      .BloomFilterAggregate(E($"h"), E(lit(4096L)), E(lit(4096L * 8)))
      .toAggregateExpression())
    val sketch = vals.filter($"id" % 2 === 0).agg(bfAgg.as("bf"))
      .head().getAs[Array[Byte]](0)
    val bc = spark.sparkContext.broadcast(sketch)
    val literalForm = vals.withColumn("m",
      C(org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        E(lit(sketch)), E($"h"))))
      .select($"id", $"m").collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val bcForm = vals.withColumn("m",
      BloomMightContainBroadcast.bloomMightContain(bc, $"h"))
      .select($"id", $"m").collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(bcForm == literalForm)
    // no false negatives on the member half
    assert((0L until 5000L by 2).forall(bcForm(_)))
  }

  test("a grown corpus rebuilds the sketch with no refresh call") {
    // A stale sketch on a GROWING corpus is a correctness hazard: a batch
    // row matching a NEW corpus entry passes the Bloom stage as
    // definite-new, skips the anti-join and is wrongly kept. The sketch is
    // keyed by documents.parquet's listing fingerprint, so rewriting the
    // corpus must rebuild it with no refresh call.
    val tmp = java.nio.file.Files.createTempDirectory("dd08grow").toString
    def write(rows: Seq[(Long, String)]): Unit =
      rows.toDF("doc_id", "text")
        .withColumn("lang", lit("en")).withColumn("source", lit("s"))
        .withColumn("n_chars", length($"text").cast("long"))
        .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    // generation 1: no cross-half duplicates -> the first sketch lacks
    // every interesting fingerprint
    write(Seq((0L, "alpha"), (1L, "bravo"), (2L, "charlie"), (3L, "delta")))
    assert(Dedup.queries("dd08_bloom_incremental")(spark, tmp).count() == 2)
    // generation 2 (appended): doc 11 duplicates NEW existing doc 10
    write(Seq((0L, "alpha"), (1L, "bravo"), (2L, "charlie"), (3L, "delta"),
      (10L, "echo"), (11L, "echo")))
    val grown = Dedup.queries("dd08_bloom_incremental")(spark, tmp)
      .collect().map(_.getLong(0)).toSet
    assert(!grown.contains(11L), "a stale sketch kept the duplicate doc 11")
    val dd07 = Dedup.queries("dd07_incremental_dedup")(spark, tmp)
      .collect().map(_.getLong(0)).toSet
    assert(grown == dd07)
  }

  test("null hash in, null out (and interpreted eval agrees with codegen)") {
    val bc = spark.sparkContext.broadcast {
      val bf = org.apache.spark.util.sketch.BloomFilter.create(64)
      bf.putLong(42L)
      val out = new java.io.ByteArrayOutputStream()
      bf.writeTo(out)
      out.toByteArray
    }
    val df = Seq[(java.lang.Long, String)]((42L, "in"), (null, "null"))
      .toDF("h", "tag")
      .withColumn("m", BloomMightContainBroadcast.bloomMightContain(bc, $"h"))
    val rows = df.collect().map(r => r.getString(1) -> (if (r.isNullAt(2)) null
      else java.lang.Boolean.valueOf(r.getBoolean(2)))).toMap
    assert(rows("in") == java.lang.Boolean.TRUE)
    assert(rows("null") == null)
    // interpreted path (eval) — same answers
    import org.apache.spark.sql.graftbridge.ColumnBridge.{expression => E}
    val expr = BloomMightContainBroadcast(bc,
      org.apache.spark.sql.catalyst.expressions.Literal(42L))
    assert(expr.eval(null) == true)
    val exprNull = BloomMightContainBroadcast(bc,
      org.apache.spark.sql.catalyst.expressions.Literal(null,
        org.apache.spark.sql.types.LongType))
    assert(exprNull.eval(null) == null)
  }
}
