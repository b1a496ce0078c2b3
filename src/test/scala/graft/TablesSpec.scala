package graft

import java.nio.file.{Files, StandardOpenOption}
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, StringType, TimestampType}

import graft.sources.{Artifacts, Tables}

/** The schema memo behind every engine parquet read: a memoized read
  * starts no job, any change to the listing or to an inference conf infers
  * again, and what the memo serves keeps each table's shape (the events
  * `ts` adaptation, Hive partition columns). */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  /** Jobs started while `body` runs, counted by a listener keyed by a local
    * property. A fence job runs after `body`; the bus delivers in order, so
    * once the fence has ended every earlier job start has been seen. */
  private def jobsStartedBy(body: => Unit): Int = {
    val key = "graft.test.tables.phase"
    val jobs = new AtomicInteger()
    val fenceJobs = ConcurrentHashMap.newKeySet[Int]()
    val fenced = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(key))) match {
          case Some("body") => jobs.incrementAndGet()
          case Some("fence") => fenceJobs.add(e.jobId)
          case _ =>
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (fenceJobs.contains(e.jobId)) fenced.countDown()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(key, "body")
      body
      sc.setLocalProperty(key, "fence")
      sc.parallelize(Seq(1), 1).count()
      assert(fenced.await(60, TimeUnit.SECONDS), "no fence job end event")
    } finally {
      sc.setLocalProperty(key, null)
      sc.removeSparkListener(listener)
    }
    jobs.get
  }

  private def tmpDir(prefix: String): String = Files.createTempDirectory(prefix).toString

  test("a second read of an unchanged table starts no job") {
    val dir = tmpDir("tables-memo")
    Seq((1L, "a"), (2L, "b")).toDF("id", "s").write.parquet(s"$dir/t.parquet")
    assert(jobsStartedBy(Tables.table(spark, dir, "t")) == 1, "the first read infers")
    var df: org.apache.spark.sql.DataFrame = null
    assert(jobsStartedBy { df = Tables.table(spark, dir, "t") } == 0)
    assert(df.orderBy("id").as[(Long, String)].collect().toSeq == Seq((1L, "a"), (2L, "b")))
  }

  test("rewriting a table with an added column infers again") {
    val dir = tmpDir("tables-rewrite")
    Seq((1L, "a")).toDF("id", "s").write.parquet(s"$dir/t.parquet")
    assert(Tables.table(spark, dir, "t").columns.toSeq == Seq("id", "s"))
    Seq((1L, "a", 7)).toDF("id", "s", "added")
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    var df: org.apache.spark.sql.DataFrame = null
    assert(jobsStartedBy { df = Tables.table(spark, dir, "t") } == 1)
    assert(df.columns.toSeq == Seq("id", "s", "added"))
    assert(df.select("added").as[Int].collect().toSeq == Seq(7))
  }

  /** One parquet file of one row, written with parquet-mr: Spark cannot
    * write TIMESTAMP(NANOS), and a file Spark writes carries its Spark
    * schema, which inference prefers over the parquet types. */
  private def writeRaw(file: String, message: String)(
      row: org.apache.parquet.example.data.Group => Unit): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType(message)
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(file))
      .withType(schema).withConf(new org.apache.hadoop.conf.Configuration()).build()
    val g = new SimpleGroupFactory(schema).newGroup()
    row(g)
    try w.write(g) finally w.close()
  }

  test("events adapts ts to TimestampType in both generations, memoized or not") {
    val micros = 1700000000123456L
    val expected = java.time.Instant.ofEpochSecond(micros / 1000000L, (micros % 1000000L) * 1000L)
    for ((gen, tsType, raw) <- Seq(
        ("ns", "TIMESTAMP(NANOS,true)", micros * 1000L + 789L),
        ("us", "TIMESTAMP(MICROS,false)", micros))) {
      val dir = tmpDir(s"tables-events-$gen")
      writeRaw(s"$dir/events.parquet",
          s"message events { required int64 event_id; required int64 ts ($tsType); }") {
        g => g.append("event_id", 1L).append("ts", raw)
      }
      for (pass <- Seq("first", "memoized")) {
        var ev: org.apache.spark.sql.DataFrame = null
        val jobs = jobsStartedBy { ev = Tables.events(spark, dir) }
        assert(jobs == (if (pass == "first") 1 else 0), s"$gen $pass read: $jobs jobs")
        assert(ev.schema("ts").dataType == TimestampType, s"$gen $pass read: ${ev.schema}")
        val got = ev.select(col("ts")).head().getAs[java.sql.Timestamp](0).toInstant
        assert(got == expected, s"$gen $pass read")
      }
    }
  }

  test("the e17 partitioned read keeps lang as a partition column and PartitionFilter") {
    for (pass <- Seq("first", "memoized")) {
      val df = SparkEntry.queries("e17_partition_prune")(spark, sf001)
      assert(df.columns.contains("lang"), s"$pass read: ${df.columns.toSeq}")
      val scan = df.queryExecution.executedPlan.toString
      assert(scan.contains("PartitionFilters:") && scan.contains("= en)"),
        s"$pass read: lang=en not a partition filter:\n$scan")
      assert(!scan.contains("lang:string"), s"$pass read: lang in the data schema:\n$scan")
    }
  }

  test("flipping spark.sql.parquet.binaryAsString infers the schema again") {
    val dir = tmpDir("tables-binary")
    // a BINARY column without a UTF8 annotation
    writeRaw(s"$dir/t.parquet", "message t { required int64 id; required binary b; }") {
      g => g.append("id", 1L).append("b", org.apache.parquet.io.api.Binary.fromString("x"))
    }
    val conf = "spark.sql.parquet.binaryAsString"
    assert(Tables.table(spark, dir, "t").schema("b").dataType == BinaryType)
    try {
      spark.conf.set(conf, "true")
      var df: org.apache.spark.sql.DataFrame = null
      assert(jobsStartedBy { df = Tables.table(spark, dir, "t") } == 1)
      assert(df.schema("b").dataType == StringType)
      assert(df.select("b").as[String].collect().toSeq == Seq("x"))
    } finally spark.conf.unset(conf)
    assert(Tables.table(spark, dir, "t").schema("b").dataType == BinaryType)
  }

  test("a failed build is not memoized") {
    val dir = tmpDir("tables-fail")
    Seq(1L).toDF("id").write.parquet(s"$dir/t.parquet")
    val fp = Artifacts.fingerprint(spark, s"$dir/t.parquet").get
    val builds = new AtomicInteger()
    intercept[IllegalStateException] {
      Artifacts.getOrBuild(fp, "probe") { builds.incrementAndGet(); throw new IllegalStateException("boom") }
    }
    def ok: String = Artifacts.getOrBuild(fp, "probe") { builds.incrementAndGet(); "built" }
    assert(ok == "built" && builds.get == 2, "the failure was served from the store")
    assert(ok == "built" && builds.get == 2, "the success was not memoized")
  }

  test("tableIfExists: a missing path gives None, a truncated file raises") {
    val dir = tmpDir("tables-ifexists")
    assert(Tables.tableIfExists(spark, s"$dir/absent.parquet").isEmpty)
    Seq((1L, "a")).toDF("id", "s").coalesce(1).write.parquet(s"$dir/whole")
    val part = Files.list(java.nio.file.Paths.get(s"$dir/whole")).iterator()
    val file = Iterator.continually(part.next()).find(_.getFileName.toString.endsWith(".parquet")).get
    val bytes = Files.readAllBytes(file)
    val truncated = java.nio.file.Paths.get(s"$dir/truncated.parquet")
    Files.write(truncated, bytes.take(bytes.length / 2), StandardOpenOption.CREATE_NEW)
    intercept[Exception](Tables.tableIfExists(spark, truncated.toString).map(_.collect()))
    assert(Tables.tableIfExists(spark, s"$dir/whole").map(_.count()).contains(1L))
  }
}
