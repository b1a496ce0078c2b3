package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.etl.{Canonical, Pipeline, PlatformSpecs}

/** Fixture-replay E2E: tiny per-platform frames matching FIXTURES.md §A,
  * full 3-platform pipeline, asserts on the unified 50-column output. */
class EtlPipelineSpec extends SparkSpec with EtlFixtures {

  private val fixedNow = lit("2025-01-15 12:00:00").cast("timestamp")

  lazy val unified: DataFrame = Pipeline.run(
    Map("domclick" -> domclickRaw, "yandex" -> yandexRaw, "avito" -> avitoRaw),
    now = fixedNow).cache()

  test("unified output has exactly the 50-column target schema") {
    assert(unified.columns.toSeq == Canonical.snakeNames)
    val types = unified.schema.fields.map(f => f.name -> f.dataType).toMap
    Canonical.fields.foreach { f =>
      assert(types(f.snake) == f.dataType, s"type of ${f.snake}")
    }
  }

  test("row accounting: required-drop and keep-first dedup applied") {
    // domclick: 3 - 1 dropped (missing Price); yandex: 3 - 1 dup; avito: 1
    assert(unified.count() == 2 + 2 + 1)
    assert(unified.filter(col("platform_id") === 1).count() == 2)
    assert(unified.filter(col("platform_id") === 4).count() == 2)
    assert(unified.filter(col("platform_id") === 2).count() == 1)
  }

  test("keep-first dedup kept the FIRST occurrence (A22)") {
    val kept = unified.filter(col("listing_id") === 201).collect()(0)
    assert(kept.getAs[String]("description") == "y-desc") // not "dup"
    assert(kept.getAs[String]("flat_type") == "NEW_FLAT")
  }

  test("derived values: per-sqm division, url synthesis, photo prefixing") {
    val d = unified.filter(col("listing_id") === 101).collect()(0)
    assert(d.getAs[String]("listing_url") == "https://domclick.ru/card/101")
    assert(d.getAs[collection.Seq[String]]("photo_urls").toSeq ==
      Seq("https://img.dmclk.ru/p/1.jpg", "https://img.dmclk.ru/p/2.jpg"))
    assert(d.getAs[collection.Seq[Double]]("subway_distances").toSeq == Seq(350.0, 870.5))
    val y = unified.filter(col("listing_id") === 201).collect()(0)
    assert(math.abs(y.getAs[Double]("price_per_sqm") - 6000000.0 / 48) < 1e-9)
    assert(y.getAs[String]("property_type") == "layout") // NEW_FLAT → layout (A15)
    val a = unified.filter(col("listing_id") === 301).collect()(0)
    assert(a.getAs[Double]("price_per_sqm") == 0.0) // area=0 → guarded null → filled 0 (A16/A26)
    assert(a.getAs[String]("seller_type") == "DEVELOPER")
    assert(a.getAs[String]("property_type") == "flat") // 'Flat' lowered, in-domain (A21)
    assert(a.getAs[Short]("built_year_offer") == 2015) // NOT wrapped mod 256
    assert(a.getAs[collection.Seq[String]]("subway_names").toSeq == Seq("Маяковская")) // null/blank dropped (A19)
    assert(a.getAs[collection.Seq[Double]]("subway_distances").toSeq == Seq(500.5)) // null/bad dropped
  }

  test("company id falls back to stable hash of company name (A11/A12)") {
    val r = unified.filter(col("listing_id") === 103).collect()(0)
    val cid = r.getAs[Long]("company_id")
    assert(cid > 0 && cid < 10000000000L)
    val direct = unified.filter(col("listing_id") === 101).collect()(0)
    assert(direct.getAs[Long]("company_id") == 555L)
  }

  test("timestamps normalized to second precision, tz input handled (A13)") {
    val d = unified.filter(col("listing_id") === 101).collect()(0)
    assert(d.getAs[java.sql.Timestamp]("published_date").toString == "2024-12-01 10:00:00.0")
    assert(unified.filter(col("created_at") =!= fixedNow).count() == 0)
  }

  test("uid is the reference UUIDv5 of listing_id_platform_id (A27)") {
    val a = unified.filter(col("listing_id") === 301).collect()(0)
    assert(a.getAs[String]("uid") == graft.functions.Uuid5Util.v5("301_2"))
  }

  test("enum domains clamp unknown values; fills applied (A10/A26)") {
    val a = unified.filter(col("listing_id") === 301).collect()(0)
    assert(a.getAs[String]("balcony_type") == "UNKNOWN")
    val noNulls = Canonical.fields.filter(_.fill.isDefined).map(_.snake)
    noNulls.foreach { c =>
      assert(unified.filter(col(c).isNull).count() == 0, s"column $c has nulls")
    }
  }

  test("cian passthrough: near-canonical columns survive the pipeline") {
    // Cian has no transformer in the reference (abstract raises; default
    // 'skip'); our engine treats its canonical-shaped input as passthrough.
    val cianRaw = strDF(
      Seq("Object ID", "Price", "Area", "Rooms", "Address", "Deal Type"),
      Seq(Seq("901", "2500000", "33", "1", "Тула, Ленина 1", "sale")))
    val out = Pipeline.run(Map("cian" -> cianRaw), now = fixedNow)
    assert(out.count() == 1)
    val r = out.collect()(0)
    assert(r.getAs[Long]("listing_id") == 901L)
    assert(r.getAs[Double]("price") == 2500000.0)
    assert(r.getAs[Short]("platform_id") == 3)
    assert(r.getAs[String]("deal_type") == "sale")
    assert(r.getAs[String]("uid") == graft.functions.Uuid5Util.v5("901_3"))
    assert(out.columns.toSeq == Canonical.snakeNames)
  }

  test("run report collects per-stage counts in the load action (A32 status dict)") {
    val out = java.nio.file.Files.createTempDirectory("etl-report").toString
    val report = Pipeline.runReport(
      Map("domclick" -> domclickRaw, "yandex" -> yandexRaw, "avito" -> avitoRaw),
      now = fixedNow)(df => df.write.mode("overwrite").parquet(out))
    assert(report.status == "success")
    // post-transform counts: domclick 3-1 required-drop, yandex 3-1 dup, avito 1
    assert(report.rowsByPlatform == Map("domclick" -> 2L, "yandex" -> 2L, "avito" -> 1L))
    assert(report.totalRows == 5L)
    assert(spark.read.parquet(out).count() == 5L) // the load really happened

    val empty = Pipeline.runReport(Map.empty)(_ => fail("load must not run"))
    assert(empty.status == "no_data" && empty.totalRows == 0L)

    // all rows dropped by the required-field filter: the sink must NOT run
    // (a truncate-and-reload sink would otherwise empty the target table)
    val allDropped = domclickRaw.filter(col("Price").isNull)
    val dropped = Pipeline.runReport(Map("domclick" -> allDropped), now = fixedNow)(
      _ => fail("sink must not run for an empty unified frame"))
    assert(dropped.status == "no_data")

    // a load callback that never executes the frame is an error, not a hang
    val noAction = Pipeline.runReport(Map("avito" -> avitoRaw), now = fixedNow,
      metricsTimeout = scala.concurrent.duration.Duration(2, "s"))(_ => ())
    assert(noAction.status == "error" && noAction.message.contains("without executing"))

    val failed = Pipeline.runReport(Map("avito" -> avitoRaw), now = fixedNow)(
      _ => throw new RuntimeException("sink down"))
    assert(failed.status == "error" && failed.message.contains("sink down"))
  }

  test("emptiness probe: a dedup platform is empty when each key group's first row is dropped") {
    // keep-first runs BEFORE the required-field filter: the group's first
    // row lacks Price, so the later duplicate that has it is never kept
    val firstLacksPrice = strDF(yandexCols, Seq(
      Seq("//realty.yandex.ru/offer/777/", null, "48", "Москва, Тверская 5", "2", "4",
        "first", "2024-12-05 11:00:00", "NEW_FLAT", "12", "37.61", "55.76",
        null, null, null, "[]", "AGENT", "2.7", "30", null),
      Seq("//realty.yandex.ru/offer/777/", "6100000", "48", "Москва, Тверская 5", "2", "4",
        "dup", "2024-12-06 11:00:00", "SECONDARY", "12", "37.61", "55.76",
        null, null, null, "[]", "OWNER", "2.7", "30", "6000000")))
    val report = Pipeline.runReport(Map("yandex" -> firstLacksPrice), now = fixedNow)(
      _ => fail("sink must not run for an empty unified frame"))
    assert(report.status == "no_data" && report.totalRows == 0L)
  }

  test("emptiness probe: an emptied no-dedup platform does not hide a non-empty dedup one") {
    val out = java.nio.file.Files.createTempDirectory("etl-probe").toString
    val report = Pipeline.runReport(
      Map("domclick" -> domclickRaw.filter(col("Price").isNull), "avito" -> avitoRaw),
      now = fixedNow)(df => df.write.mode("overwrite").parquet(out))
    assert(report.status == "success")
    assert(report.rowsByPlatform == Map("domclick" -> 0L, "avito" -> 1L))
    assert(report.totalRows == 1L)
    assert(spark.read.parquet(out).count() == 1L)
  }

  test("run report: before the sink runs, one job at most and no shuffle write") {
    // Guards the emptiness probe against a return of the full pre-pass: with
    // a non-empty platform that has no dedup key, the probe is a single
    // limit-1 job with no exchange, so the dedup shuffles run only in the load.
    val out = java.nio.file.Files.createTempDirectory("etl-guard").toString
    val profile = QueryProfile.attach(spark)
    try {
      // the pre span's counts as the sink starts: everything before the sink
      var pre = QueryProfile.Counts()
      val report = profile.span("pre") {
        Pipeline.runReport(
          Map("domclick" -> domclickRaw, "yandex" -> yandexRaw, "avito" -> avitoRaw),
          now = fixedNow) { df =>
          pre = profile.counts("pre")
          profile.span("load")(df.write.mode("overwrite").parquet(out))
        }
      }
      assert(report.status == "success" && report.totalRows == 5L)
      assert(profile.counts("load").jobs >= 1, "no load job seen")
      assert(pre.jobs <= 1, s"${pre.jobs} jobs ran before the sink")
      assert(pre.shuffleWriteBytes == 0L,
        s"stages before the sink wrote ${pre.shuffleWriteBytes} shuffle bytes")
    } finally profile.close()
  }

  test("the full pipeline runs unchanged per micro-batch under streaming") {
    // foreachBatch is the streaming deployment of the reference's pipeline:
    // every stage — keep-first window dedup, derivations, required filter,
    // merge, uuid5 final cast — executes on the micro-batch DataFrame with
    // zero code changes. One input file => one AvailableNow batch, so the
    // per-batch dedup scope equals the batch run and outputs must be
    // row-identical.
    val src = java.nio.file.Files.createTempDirectory("etl-stream-src").toString
    val out = java.nio.file.Files.createTempDirectory("etl-stream-out").toString
    domclickRaw.coalesce(1).write.mode("overwrite").parquet(src)
    val schema = domclickRaw.schema

    val q = spark.readStream.schema(schema).parquet(src)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], _: Long) =>
        Pipeline.run(Map("domclick" -> batch), now = fixedNow)
          .write.mode("append").parquet(out)
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    val streamed = spark.read.parquet(out)
    val direct = Pipeline.run(Map("domclick" -> domclickRaw), now = fixedNow)
    assert(streamed.count() == direct.count() && streamed.count() > 0)
    assert(streamed.exceptAll(direct).isEmpty && direct.exceptAll(streamed).isEmpty,
      "streaming and batch pipeline outputs differ")
  }

  test("ep01 covers ep02: column superset, shared values identical frame-to-frame") {
    // Closes the ep01/ep02 oracle-regime loop in code (r12 verdict #7):
    // ep01's rows-only check is licensed by ep02 hash-covering the shared
    // columns — valid only while ep02's column set really is ep01's minus
    // the three hash-derived ones AND the shared values agree row for row
    // under each query's declared serialization (ep01: to_json arrays;
    // ep02: ';'-joined with %.4f doubles). A drift in either frame's
    // projection breaks the license silently; this pins it.
    val q = graft.SparkEntry.queries
    val e1 = q("ep01_unified_pipeline")(spark, sf001)
    val e2 = q("ep02_pipeline_hashable")(spark, sf001)
    val hashDerived = Set("uid", "company_id", "address_id")
    assert(hashDerived.subsetOf(e1.columns.toSet))
    assert(e1.columns.toSet -- hashDerived == e2.columns.toSet,
      s"ep02 columns are not ep01 minus hash-derived: " +
        s"only_ep01=${e1.columns.toSet -- hashDerived -- e2.columns.toSet}, " +
        s"only_ep02=${e2.columns.toSet -- e1.columns.toSet}")
    val shared = e2.columns.toSeq
    val r1 = e1.select(shared.map(org.apache.spark.sql.functions.col): _*).collect()
    val r2 = e2.collect()
    assert(r1.length == r2.length && r1.nonEmpty)
    def normalize(jsonArr: String): String = {
      import org.json4s.jackson.JsonMethods.parse
      import org.json4s._
      parse(jsonArr) match {
        case JArray(items) => items.map {
          case JString(s) => s
          case JDouble(d) => "%.4f".formatLocal(java.util.Locale.ROOT, d)
          case JInt(i) => "%.4f".formatLocal(java.util.Locale.ROOT, i.toDouble)
          case other => other.values.toString
        }.mkString(";")
        case other => other.values.toString
      }
    }
    r1.zip(r2).zipWithIndex.foreach { case ((a, b), i) =>
      shared.indices.foreach { ci =>
        val (v1, v2) = (a.get(ci), b.get(ci))
        val ok = (v1 == null && v2 == null) || (v1 != null && v1 == v2) ||
          // array column: ep01 JSON vs ep02 ';'-join of the same values
          (v1 != null && v2 != null && v1.toString.startsWith("[") &&
            normalize(v1.toString) == v2.toString)
        assert(ok, s"row $i col ${shared(ci)}: ep01=$v1 ep02=$v2")
      }
    }
  }

  test("merge alone is UNION ALL semantics — no cross-platform dedup (A25)") {
    val frames = Seq(
      Pipeline.transform(domclickRaw, PlatformSpecs.domclick, fixedNow),
      Pipeline.transform(yandexRaw, PlatformSpecs.yandex, fixedNow))
    val merged = Pipeline.merge(frames)
    assert(merged.count() == frames.map(_.count()).sum)
    assert(merged.columns.toSeq == Canonical.snakeNames)
  }
}
