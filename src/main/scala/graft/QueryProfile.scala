package graft

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.ListenerBridge

/** The engine's query profile: one listener that credits each job, stage
  * and task to the span named by the job's local property
  * [[QueryProfile.SpanKey]], Presto's per-query statistics in Spark terms.
  *
  * The listener bus is asynchronous, so an event is credited by the span
  * its job was submitted under, never by the time it arrives; [[counts]]
  * drains the bus first, so once an action has returned every job, stage
  * and task it ran is counted. Jobs started outside any span are not
  * counted. A stage belongs to the span of the first job that listed it,
  * and its tasks with it.
  *
  * [[span]] also records the span's wall time and the generated classes
  * compiled while it ran. Both are taken around the body on the calling
  * thread, so a nested span's wall and compiles are part of its outer
  * span's too, and compiles (a process-wide counter) are exact only while
  * one span runs at a time. Jobs, stages and tasks go to the innermost
  * span alone. */
final class QueryProfile private (spark: SparkSession) extends SparkListener {
  import QueryProfile.{Counts, SpanKey}

  private val sc = spark.sparkContext
  private val stageSpan = mutable.Map.empty[Int, String]
  private val totals = mutable.Map.empty[String, Counts]

  private def add(span: String)(f: Counts => Counts): Unit =
    totals(span) = f(totals.getOrElse(span, Counts()))

  /** Runs `body` with its jobs credited to `name`. */
  def span[T](name: String)(body: => T): T = {
    val outer = sc.getLocalProperty(SpanKey)
    val compiled0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val t0 = System.nanoTime()
    sc.setLocalProperty(SpanKey, name)
    try body
    finally {
      sc.setLocalProperty(SpanKey, outer)
      val wallS = (System.nanoTime() - t0) / 1e9
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled0
      synchronized(add(name)(c => c.copy(wallS = c.wallS + wallS, compiles = c.compiles + compiles)))
    }
  }

  /** Everything credited to `name` so far, after the bus has delivered
    * every event posted before this call. */
  def counts(name: String): Counts = {
    ListenerBridge.drain(sc)
    synchronized(totals.getOrElse(name, Counts()))
  }

  def close(): Unit = sc.removeSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey))).foreach { span =>
      synchronized {
        e.stageIds.foreach(stageSpan.getOrElseUpdate(_, span))
        add(span)(c => c.copy(jobs = c.jobs + 1))
      }
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageSpan.get(e.stageInfo.stageId).foreach(add(_)(c => c.copy(stages = c.stages + 1)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageSpan.get(e.stageId).foreach { span =>
      val m = Option(e.taskMetrics)
      add(span)(c => m.fold(c.copy(tasks = c.tasks + 1))(m => c.copy(
        tasks = c.tasks + 1,
        cpuS = c.cpuS + m.executorCpuTime / 1e9,
        gcS = c.gcS + m.jvmGCTime / 1e3,
        shuffleReadBytes = c.shuffleReadBytes + m.shuffleReadMetrics.totalBytesRead,
        shuffleWriteBytes = c.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
        spillBytes = c.spillBytes + m.memoryBytesSpilled + m.diskBytesSpilled,
        inputRows = c.inputRows + m.inputMetrics.recordsRead,
        inputBytes = c.inputBytes + m.inputMetrics.bytesRead)))
    }
  }
}

object QueryProfile {
  /** The job local property that names a job's span. */
  val SpanKey = "graft.profile.span"

  /** A profile listening on `spark`'s context until [[QueryProfile.close]]. */
  def attach(spark: SparkSession): QueryProfile = {
    val p = new QueryProfile(spark)
    spark.sparkContext.addSparkListener(p)
    p
  }

  /** One span's totals. CPU and GC are summed over tasks; bytes and rows
    * are the task metrics' sums (input is what the scans read). */
  final case class Counts(
      wallS: Double = 0.0,
      jobs: Int = 0,
      stages: Int = 0,
      tasks: Int = 0,
      cpuS: Double = 0.0,
      gcS: Double = 0.0,
      shuffleReadBytes: Long = 0L,
      shuffleWriteBytes: Long = 0L,
      spillBytes: Long = 0L,
      inputRows: Long = 0L,
      inputBytes: Long = 0L,
      compiles: Long = 0L)
}
