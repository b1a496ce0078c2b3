package graft

import java.nio.file.Files

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.ColumnBridge

import graft.etl.Pipeline
import graft.functions.RunStamp

/** Generated code is compiled once per JVM: a repeated ETL run reuses the
  * classes of the first, because its `created_at` stamp is read by
  * reference instead of being written into the Java source as a literal. */
class CodegenStabilitySpec extends SparkSpec with EtlFixtures {

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def micros(i: java.time.Instant): Long = DateTimeUtils.instantToMicros(i)

  private def hasStamp(plan: LogicalPlan): Boolean =
    plan.exists(_.expressions.exists(_.exists(_.isInstanceOf[RunStamp])))

  private lazy val raw: Map[String, DataFrame] =
    Map("domclick" -> domclickRaw, "yandex" -> yandexRaw, "avito" -> avitoRaw)

  /** One default-`now` run report into a fresh parquet sink; the sink path. */
  private def load(): String = {
    val out = Files.createTempDirectory("etl-codegen").toString
    val report = Pipeline.runReport(raw)(df => df.write.mode("overwrite").parquet(out))
    assert(report.status == "success" && report.totalRows == 5L, report.message)
    out
  }

  test("a repeated run report compiles no new classes") {
    load()
    val before = compiles
    load()
    assert(compiles - before == 0L, "classes compiled by the second run")
  }

  test("every created_at of one run is the one stamp taken during the call") {
    val t0 = micros(java.time.Instant.now())
    val out = load()
    val t1 = micros(java.time.Instant.now())
    val stamps = spark.read.parquet(out).select("created_at").distinct().collect()
      .map(r => micros(r.getTimestamp(0).toInstant))
    assert(stamps.length == 1, s"created_at values: ${stamps.mkString(", ")}")
    assert(t0 <= stamps.head && stamps.head <= t1, s"${stamps.head} not in [$t0, $t1]")
  }

  test("the stamp is the same with and without codegen, and stays unfolded") {
    val stamp = 1736942400123456L // 2025-01-15 12:00:00.123456 UTC
    def evalUnder(mode: String, wholeStage: Boolean): Seq[Long] = {
      val keys = Seq("spark.sql.codegen.factoryMode", "spark.sql.codegen.wholeStage")
      val saved = keys.map(k => k -> spark.conf.getOption(k))
      spark.conf.set(keys(0), mode)
      spark.conf.set(keys(1), wholeStage)
      try {
        val df = spark.range(3).select(ColumnBridge.column(RunStamp(stamp)).as("t"))
        df.collect().toSeq.map(r => micros(r.getTimestamp(0).toInstant))
      } finally saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    assert(evalUnder("CODEGEN_ONLY", wholeStage = true) == Seq.fill(3)(stamp))
    assert(evalUnder("NO_CODEGEN", wholeStage = false) == Seq.fill(3)(stamp))

    val unified = Pipeline.run(raw)
    assert(hasStamp(unified.queryExecution.optimizedPlan), "created_at was folded")
    assert(unified.select(col("created_at")).distinct().count() == 1L)
  }
}
