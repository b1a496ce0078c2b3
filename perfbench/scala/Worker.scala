package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{IntegerType, LongType, ShortType, StringType, StructField, StructType}

import graft.{Caches, SparkEntry}
import graft.etl.{Canonical, Pipeline}
import graft.sources.Tables

/** One benchmark process: one workload, one client, closed loop.
  *
  * Arguments are `key=value` pairs: `workload`, `data` (generated inputs),
  * `work` (scratch for sinks and check dumps), `seconds`, `trace` (0/1),
  * `seed`, `out` (result JSON path), and either `ops` (declared query
  * names) or, for `etl_load`, `expected` (`platform:rows,...` from the
  * generator).
  *
  * Set-up, untimed: session, a checked pass (every operation once; result
  * dumps for the oracle compare, digests for the rerun compare), then
  * [[WarmPasses]] warm-up passes. Timed: whole passes until `seconds`
  * have elapsed. Every timed operation's row count is checked against the
  * checked pass.
  *
  * With `trace=1`, passes alternate traced and untraced. A traced pass
  * sets the Spark local property [[Tracer.SpanKey]] around each call into
  * a layer and forces the action's Catalyst phases one by one; the
  * [[Tracer]] listener attributes jobs, stages and task metrics by it.
  */
object Worker {

  /** Untimed passes between the checked pass and the timed ones. A fixed
    * count, so that every run and every commit measures equally warm code.
    */
  val WarmPasses = 2

  def newLayers: mutable.Map[String, Double] = mutable.Map.empty[String, Double].withDefaultValue(0.0)

  final class Ctx(val spark: SparkSession, val data: String, val work: String,
      val expected: Map[String, Long]) {
    var traced = false
    /** Per-pass layer totals: seconds and counts by name. */
    var layers = newLayers
    var pendingMax = 0

    /** Time `f` as layer `layer`; when traced, tag its jobs with `span`. */
    def span[T](layer: String, span: String = null)(f: => T): T = {
      val sc = spark.sparkContext
      val prev = sc.getLocalProperty(Tracer.SpanKey)
      if (traced && span != null) sc.setLocalProperty(Tracer.SpanKey, span)
      val t0 = System.nanoTime()
      try f
      finally {
        layers(layer) += (System.nanoTime() - t0) / 1e9
        if (traced && span != null) sc.setLocalProperty(Tracer.SpanKey, prev)
      }
    }

    /** Force the Catalyst phases of `df`'s QueryExecution one by one. */
    def catalyst(df: DataFrame): Unit = if (traced) {
      val qe = df.queryExecution
      span("catalyst.analyze_s")(qe.analyzed)
      span("catalyst.optimize_s")(qe.optimizedPlan)
      span("catalyst.plan_s")(qe.executedPlan)
    }
  }

  /** What one operation returned: row count, and the rows when kept. */
  final case class Outcome(rows: Long, collected: Array[Row], schema: StructType)

  trait Op {
    def name: String
    def run(ctx: Ctx): Outcome
    /** Extra correctness checks in the checked pass; None = fine. */
    def deepCheck(ctx: Ctx, o: Outcome): Option[String] = None
    /** Housekeeping after every call, untimed. */
    def cleanup(ctx: Ctx): Unit = ()
  }

  /** A declared query: builder call, then a collect of its result. */
  final class QueryOp(val name: String) extends Op {
    private val fn = SparkEntry.queries(name)
    def run(ctx: Ctx): Outcome = {
      val df = ctx.span("builder.s", "builder")(fn(ctx.spark, ctx.data))
      ctx.catalyst(df)
      val rows = ctx.span("exec.s", "action")(df.collect())
      Outcome(rows.length.toLong, rows, df.schema)
    }
    override def cleanup(ctx: Ctx): Unit = {
      ctx.pendingMax = math.max(ctx.pendingMax, Caches.pending)
      ctx.spark.catalog.clearCache()
      Caches.releaseAll()
    }
  }

  /** The paper's path: four raw CSVs → runReport → parquet sink. */
  final class EtlOp(platforms: Seq[String]) extends Op {
    val name = "etl_load"
    private var seq = 0
    private def sink(ctx: Ctx) = s"${ctx.work}/sink/$seq"
    def run(ctx: Ctx): Outcome = {
      seq += 1
      val out = sink(ctx)
      val raw = ctx.span("sources.s", "sources") {
        platforms.map { p =>
          val path = s"${ctx.data}/listings/$p.csv"
          p -> Tables.csv(ctx.spark, path, csvSchema(path))
        }.toMap
      }
      val rep = ctx.span("etl.run_s", "precheck") {
        Pipeline.runReport(raw) { df =>
          ctx.span("etl.load_s", "load") {
            ctx.catalyst(df)
            ctx.span("exec.s", "load")(Pipeline.Sinks.parquet(df, out))
          }
        }
      }
      val ok = rep.status == "success" && rep.rowsByPlatform == ctx.expected &&
        rep.totalRows == ctx.expected.values.sum
      if (!ok) throw new IllegalStateException(
        s"run report ${rep.status} (${rep.message}): ${rep.rowsByPlatform} != ${ctx.expected}")
      ctx.layers("etl.rows_out") += rep.totalRows.toDouble
      Outcome(rep.totalRows, null, null)
    }
    override def deepCheck(ctx: Ctx, o: Outcome): Option[String] = {
      val back = ctx.spark.read.parquet(sink(ctx))
      val have = back.schema.fields.map(f => f.name -> f.dataType).toMap
      val bad = Canonical.fields.flatMap { f =>
        have.get(f.snake) match {
          case None => Some(s"${f.snake} missing")
          // the partition column comes back with an inferred integral type
          case Some(t) if f.snake == "platform_id" &&
              Seq(ShortType, IntegerType, LongType).contains(t) => None
          case Some(t) if t != f.dataType => Some(s"${f.snake}: $t != ${f.dataType}")
          case _ => None
        }
      } ++ (if (have.size != Canonical.fields.size) Seq(s"${have.size} columns") else Nil)
      val n = back.count()
      if (bad.nonEmpty) Some(s"sink schema: ${bad.mkString("; ")}")
      else if (n != o.rows) Some(s"sink holds $n rows, report says ${o.rows}")
      else None
    }
    override def cleanup(ctx: Ctx): Unit = deleteTree(new File(sink(ctx)))
  }

  /** Declared all-string schema from the CSV's header line. */
  private def csvSchema(path: String): StructType = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try StructType(src.getLines().next().split(",", -1).toSeq
      .map(c => StructField(c, StringType)))
    finally src.close()
  }

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Order-insensitive digest of a result, for queries without an oracle. */
  def digest(rows: Array[Row]): String = {
    def s(v: Any): String = v match {
      case null => "∅"
      case b: Array[Byte] => b.map("%02x".format(_)).mkString
      case r: Row => r.toSeq.map(s).mkString("(", ",", ")")
      case m: scala.collection.Map[_, _] =>
        m.toSeq.map { case (k, x) => s(k) + "->" + s(x) }.sorted.mkString("{", ",", "}")
      case it: Iterable[_] => it.map(s).mkString("[", ",", "]")
      case x => x.toString
    }
    val lines = rows.map(s).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach(l => md.update((l + "\n").getBytes(StandardCharsets.UTF_8)))
    md.digest().map("%02x".format(_)).mkString
  }

  // ------------------------------------------------------------------ JSON

  private def js(x: Any): String = x match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"
      case '\t' => "\\t"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, v) => js(k.toString) + ":" + js(v) }.mkString("{", ",", "}")
    case it: Iterable[_] => it.map(js).mkString("[", ",", "]")
    case other => js(other.toString)
  }

  // ------------------------------------------------------------------ main

  def main(args: Array[String]): Unit = {
    val a = args.map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    val workload = a("workload")
    val seconds = a("seconds").toDouble
    val traceRun = a("trace") == "1"
    val seed = a("seed").toLong
    val expected = a.get("expected").filter(_.nonEmpty).map(_.split(",").map { kv =>
      val Array(k, v) = kv.split(":"); k -> v.toLong
    }.toMap).getOrElse(Map.empty)

    val t0 = System.nanoTime()
    val spark = graft.Sessions.build("perfbench")
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val ctx = new Ctx(spark, a("data"), a("work"), expected)
    val cores = spark.sparkContext.defaultParallelism

    val ops: Seq[Op] =
      if (workload == "etl_load") Seq(new EtlOp(expected.keys.toSeq.sorted))
      else a("ops").split(",").toSeq.map(new QueryOp(_))
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => ops.exists(_.name == k) }

    // ---- checked pass: row counts, oracle dumps, digests, deep checks
    val t1 = System.nanoTime()
    val checkFailures = mutable.LinkedHashMap.empty[String, String]
    val checkedRows = mutable.Map.empty[String, Long]
    val digests = mutable.Map.empty[String, String]
    for (op <- ops) {
      try {
        val o = op.run(ctx)
        checkedRows(op.name) = o.rows
        if (o.collected != null) {
          // every query is rerun-digest checked; oracle ones are also dumped
          digests(op.name) = digest(o.collected)
          if (oracle.contains(op.name))
            spark.createDataFrame(java.util.Arrays.asList(o.collected: _*), o.schema)
              .coalesce(1).write.mode("overwrite").parquet(s"${ctx.work}/check/${op.name}")
        }
        op.deepCheck(ctx, o).foreach(checkFailures(op.name) = _)
      } catch {
        case e: Throwable => checkFailures(op.name) = s"failed: ${e.getMessage}".take(500)
      } finally op.cleanup(ctx)
    }
    val checkS = (System.nanoTime() - t1) / 1e9

    // the first rerun of each query, in warm-up, is compared with its
    // checked-pass digest
    val rechecked = mutable.Set.empty[String]
    def recheck(op: Op, o: Outcome): Unit =
      if (digests.contains(op.name) && rechecked.add(op.name) && digest(o.collected) != digests(op.name))
        checkFailures(op.name) = "rerun digest differs"

    // ---- warm-up: a fixed number of whole passes
    val t2 = System.nanoTime()
    for (_ <- 1 to WarmPasses; op <- ops if !checkFailures.contains(op.name)) {
      try {
        val o = op.run(ctx)
        recheck(op, o)
        if (o.rows != checkedRows(op.name))
          checkFailures(op.name) = s"rerun returned ${o.rows} rows, checked pass ${checkedRows(op.name)}"
      } catch {
        case e: Throwable => checkFailures(op.name) = s"warm-up failed: ${e.getMessage}".take(500)
      } finally op.cleanup(ctx)
    }
    val warmS = (System.nanoTime() - t2) / 1e9

    // ---- timed passes
    val tracer = new Tracer
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val samples = mutable.ArrayBuffer.empty[Map[String, Any]]
    val firstOpMs = System.currentTimeMillis()
    val tStart = System.nanoTime()
    var k = 0
    while (k == 0 || (System.nanoTime() - tStart) / 1e9 < seconds || (traceRun && k < 2)) {
      ctx.traced = traceRun && k % 2 == 0
      ctx.layers = newLayers
      if (ctx.traced) { tracer.reset(); spark.sparkContext.addSparkListener(tracer) }
      System.err.println(s"[perfbench] pass $k start")
      val order = new Random(seed * 7919 + k).shuffle(ops)
      var wall = 0.0 // operations only: digests and cleanup stay untimed
      var rows = 0L
      for (op <- order) {
        val s0 = System.nanoTime()
        val got =
          try Right(op.run(ctx))
          catch { case e: Throwable => Left(String.valueOf(e.getMessage).take(300)) }
        val dt = (System.nanoTime() - s0) / 1e9
        val (ok, n, err) = got match {
          case Right(o) =>
            recheck(op, o)
            (checkedRows.get(op.name).contains(o.rows), o.rows, null)
          case Left(e) => (false, 0L, e)
        }
        op.cleanup(ctx)
        wall += dt
        rows += n
        samples += Map("name" -> op.name, "pass" -> k, "wall_s" -> dt, "ok" -> ok,
          "rows" -> n, "traced" -> ctx.traced, "error" -> err)
      }
      System.err.println(s"[perfbench] pass $k end")
      if (ctx.traced) {
        org.apache.spark.PerfbenchBridge.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(tracer)
      }
      passes += Map("wall_s" -> wall, "rows" -> rows, "traced" -> ctx.traced,
        "layers" -> (if (ctx.traced) (ctx.layers ++ tracer.snapshot()).toMap else Map.empty))
      k += 1
    }

    import scala.jdk.CollectionConverters._
    val heapPeak = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1e6
    val result = Map(
      "workload" -> workload, "cores" -> cores,
      "first_op_ms" -> firstOpMs,
      "setup" -> Map("session_s" -> sessionS, "check_s" -> checkS, "warm_s" -> warmS),
      "passes" -> passes, "samples" -> samples,
      "oracle" -> oracle, "check_failures" -> checkFailures,
      "caches_pending_max" -> ctx.pendingMax, "heap_peak_mb" -> heapPeak)
    Files.write(Paths.get(a("out")), js(result).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}
