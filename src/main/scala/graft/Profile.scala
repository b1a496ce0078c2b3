package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{InputAdapter, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.metric.SQLMetric

/** `EXPLAIN ANALYZE` for declared queries: runs each named query over `dir`
  * and prints, per rep, the builder's wall and jobs, the execution's wall
  * and [[QueryProfile]] counts, executor CPU as a share of wall × cores, and
  * the final adaptive plan with each node's SQL metrics (`spark.ui` is off,
  * so nothing else shows them). The plan is read from the QueryExecution
  * the action ran, after [[BenchAction]]'s materializing action. Metrics
  * that stayed zero are left out. Any `tools/gen_soak.py` corpus works as
  * `dir`.
  *
  * Usage: runMain graft.Profile <dir> <query…> [--reps N] */
object Profile {
  private val usage = "usage: graft.Profile <dir> <query...> [--reps N]"

  /** One rep of one query. `plan` is the executed plan tree, one node a line. */
  final case class Rep(query: String, rep: Int, builder: QueryProfile.Counts,
      exec: QueryProfile.Counts, materialized: Boolean, cores: Int, plan: Seq[String]) {
    def cpuUtil: Double = if (exec.wallS > 0) exec.cpuS / (exec.wallS * cores) else 0.0

    def render: String = {
      def mb(bytes: Long) = f"${bytes / 1e6}%.2fMB"
      val e = exec
      (Seq(
        s"== $query rep $rep ==",
        f"builder wall=${builder.wallS}%.3fs jobs=${builder.jobs} stages=${builder.stages} " +
          s"tasks=${builder.tasks} compiles=${builder.compiles}",
        f"exec    wall=${e.wallS}%.3fs jobs=${e.jobs} stages=${e.stages} tasks=${e.tasks} " +
          f"cpu=${e.cpuS}%.3fs gc=${e.gcS}%.3fs shuffle_read=${mb(e.shuffleReadBytes)} " +
          s"shuffle_write=${mb(e.shuffleWriteBytes)} spill=${mb(e.spillBytes)} " +
          s"input_rows=${e.inputRows} input=${mb(e.inputBytes)} compiles=${e.compiles}",
        f"cpu_util=$cpuUtil%.3f (cpu / (wall * $cores cores)) " +
          s"action=${if (materialized) "toRdd.count" else "count"}") ++ plan).mkString("\n")
    }
  }

  /** Builds `fn` in a builder span, runs the bench action in an exec span,
    * and reads the plan the action executed. */
  def run(spark: SparkSession, profile: QueryProfile, dir: String, query: String, rep: Int,
      fn: (SparkSession, String) => DataFrame): Rep = {
    val span = s"$query#$rep"
    val df = profile.span(s"$span/builder")(fn(spark, dir))
    val (qe, materialized) = profile.span(s"$span/exec") {
      val materialize = BenchAction.countCollapses(df)
      (BenchAction.run(df, materialize), materialize)
    }
    Rep(query, rep, profile.counts(s"$span/builder"), profile.counts(s"$span/exec"),
      materialized, spark.sparkContext.defaultParallelism, planTree(qe.executedPlan))
  }

  /** `plan` and what it ran, one node a line, indented by depth: the final
    * plan under an adaptive root, the plan under each query stage, and
    * subqueries after a node's children. A reused exchange is not expanded
    * again. */
  def planTree(plan: SparkPlan): Seq[String] = {
    def children(p: SparkPlan): Seq[SparkPlan] = (p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case _: ReusedExchangeExec => Nil
      case _ => p.children ++ p.subqueries
    }).map {
      case i: InputAdapter => i.child
      case c => c
    }
    def lines(p: SparkPlan, depth: Int): Seq[String] = {
      val metrics = p.metrics.toSeq.sortBy(_._1).collect {
        case (key, m) if m.value > 0 => s"${m.name.getOrElse(key)}=${show(m)}"
      }
      val node = p.simpleString(8)
      val head = "  " * depth + (if (node.length > 120) node.take(117) + "..." else node) +
        (if (metrics.isEmpty) "" else metrics.mkString("  [", ", ", "]"))
      head +: children(p).flatMap(lines(_, depth + 1))
    }
    lines(plan, 0)
  }

  private def show(m: SQLMetric): String = m.metricType match {
    case "size" => f"${m.value / 1e6}%.2f MB"
    case "timing" => s"${m.value} ms"
    case "nsTiming" => f"${m.value / 1e6}%.1f ms"
    case _ => m.value.toString
  }

  def main(args: Array[String]): Unit = {
    val at = args.indexOf("--reps")
    val reps = if (at < 0) Some(1) else args.lift(at + 1).flatMap(_.toIntOption).filter(_ >= 1)
    val positional = if (at < 0) args.toSeq else args.toSeq.patch(at, Nil, 2)
    val unknown = positional.drop(1).filterNot(SparkEntry.queries.contains)
    if (positional.size < 2 || reps.isEmpty || unknown.nonEmpty) {
      System.err.println(usage)
      if (unknown.nonEmpty) System.err.println(s"unknown queries: ${unknown.mkString(" ")}")
      sys.exit(2)
    }
    val (dir, queries) = (positional.head, positional.tail)
    val spark = Sessions.build("graft-profile")
    spark.sparkContext.setLogLevel("WARN")
    val profile = QueryProfile.attach(spark)
    for (query <- queries; rep <- 1 to reps.get) {
      try println(run(spark, profile, dir, query, rep, SparkEntry.queries(query)).render)
      catch { case NonFatal(e) => println(s"== $query rep $rep == failed: ${e.getMessage}") }
      spark.catalog.clearCache()
      Caches.releaseAll()
    }
    profile.close()
    spark.stop()
  }
}

/** The bench action is `count()` — but Catalyst can legally ELIMINATE the
  * query's work under a bare count: dd12 ends in left outer joins whose
  * right sides are per-doc aggregates (unique keys), so its count plan
  * collapses to a parquet scan and `count()` times the scan, not the
  * query. Detect that per query by comparing heavy-operator counts
  * (joins/generates/windows) between the optimized count plan and the
  * full plan; a collapsed query is run with the materializing action
  * (`toRdd.count()`, which computes every output row) instead. */
object BenchAction {
  import org.apache.spark.sql.catalyst.plans.logical.{Generate, Join, LogicalPlan, Window => LWindow}
  private def heavyOps(p: LogicalPlan): Int = p.collect {
    case j: Join => j
    case g: Generate => g
    case w: LWindow => w
  }.size
  def countCollapses(df: DataFrame): Boolean =
    heavyOps(df.groupBy().count().queryExecution.optimizedPlan) <
      heavyOps(df.queryExecution.optimizedPlan)
  /** The bench action on `df`: count, unless the count plan drops work the
    * full plan has. Returns the QueryExecution it ran, whose executed plan
    * carries the action's SQL metrics. */
  def run(df: DataFrame, materialize: Boolean): QueryExecution =
    if (materialize) { df.queryExecution.toRdd.count(); df.queryExecution }
    else {
      val counted = df.groupBy().count()
      counted.collect()
      counted.queryExecution
    }
}
