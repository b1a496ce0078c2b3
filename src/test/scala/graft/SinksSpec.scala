package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.etl.{Canonical, Pipeline}
import graft.sources.Tables

/** A29 CSV sink + A1 schema-declared CSV scan round-trip (the reference's
  * test-mode loader path, src/etl/loading.py:56-75), and the parquet sink's
  * per-column encodings. */
class SinksSpec extends SparkSpec with EtlFixtures {

  test("parquet sink: per-listing columns carry no dictionary, enum columns keep one") {
    // 400 copies of each kept DomClick row: every column repeats enough
    // for parquet-mr to keep a dictionary unless it is told not to build one
    val copies = domclickRaw.crossJoin(spark.range(400).toDF("copy")).drop("copy")
    val df = Pipeline.run(Map("domclick" -> copies))
    val out = Files.createTempDirectory("graft-sink-parquet").toString
    Pipeline.Sinks.parquet(df, out)

    val conf = spark.sessionState.newHadoopConf()
    val files = Files.walk(java.nio.file.Paths.get(out)).iterator().asScala
      .map(_.toString).filter(_.endsWith(".parquet")).toSeq
    assert(files.nonEmpty)
    val dictionary: Map[String, Boolean] = files.flatMap { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f), conf))
      try reader.getFooter.getBlocks.asScala.toSeq.flatMap(_.getColumns.asScala)
        .map(c => c.getPath.toDotString -> c.hasDictionaryPage)
      finally reader.close()
    }.groupMapReduce(_._1)(_._2)(_ || _)
    def path(f: Canonical.Field) = Pipeline.Sinks.columnPath(f)
    val perListing = Canonical.fields.filter(_.perListing)
    assert(perListing.size == 14)
    assert(perListing.filter(f => dictionary(path(f))).isEmpty,
      s"per-listing columns with a dictionary page: $dictionary")
    val enums = Canonical.fields.filter(_.domain.isDefined)
    assert(enums.filterNot(f => dictionary(path(f))).isEmpty,
      s"enum-domain columns without a dictionary page: $dictionary")

    val back = spark.read.parquet(out)
      .select(Canonical.fields.map(f => col(f.snake).cast(f.dataType)): _*)
    val sent = df.select(Canonical.snakeNames.map(col): _*)
    assert(back.count() == 800L)
    assert(back.exceptAll(sent).isEmpty && sent.exceptAll(back).isEmpty)
  }

  test("csv sink writes a header file that the declared-schema reader round-trips") {
    val dir = Files.createTempDirectory("graft-sink").toString
    val out = s"$dir/listings"
    val df = Tables.table(spark, sf001, "customer")
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      .orderBy("c_custkey")
    Pipeline.Sinks.csv(df, out)

    val schema = StructType(Seq(
      StructField("c_custkey", LongType),
      StructField("c_name", StringType),
      StructField("c_acctbal", DoubleType)))
    val back = Tables.csv(spark, out, schema).orderBy("c_custkey")

    assert(back.count() == df.count())
    val a = df.collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val b = back.collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(a.sameElements(b))
  }

  test("capped csv read limits rows (A3 test-mode semantics)") {
    val dir = Files.createTempDirectory("graft-sink-cap").toString
    val out = s"$dir/capped"
    val df = Tables.table(spark, sf001, "customer").select(col("c_custkey"))
    Pipeline.Sinks.csv(df, out)
    val schema = StructType(Seq(StructField("c_custkey", LongType)))
    assert(Tables.csvCapped(spark, out, schema, 7).count() == 7)
  }
}
