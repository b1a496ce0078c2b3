package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Listener that attributes jobs, stages and task metrics to the span
  * named by the job's local property [[Tracer.SpanKey]]. The listener bus
  * is asynchronous, so events are keyed by the property the job was
  * submitted under, never by the time they arrive. */
final class Tracer extends SparkListener {
  private val stageSpan = mutable.Map.empty[Int, String]
  private val counts = mutable.Map.empty[String, Double].withDefaultValue(0.0)

  private def add(k: String, x: Double): Unit = counts(k) += x

  def reset(): Unit = synchronized { stageSpan.clear(); counts.clear() }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .getOrElse("none")
    e.stageIds.foreach(stageSpan(_) = span)
    add("exec.jobs", 1)
    add(s"jobs.$span", 1)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    add("exec.stages", 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val span = stageSpan.getOrElse(e.stageId, "none")
    add("exec.tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      val mb = 1e-6
      add("exec.cpu_s", m.executorCpuTime / 1e9)
      add("exec.gc_s", m.jvmGCTime / 1e3)
      add("exec.shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead * mb)
      add("exec.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten * mb)
      add("exec.spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) * mb)
      add("sources.read_mb", m.inputMetrics.bytesRead * mb)
      add("sources.read_rows", m.inputMetrics.recordsRead.toDouble)
      add(s"write_mb.$span", m.outputMetrics.bytesWritten * mb)
    }
  }

  def snapshot(): Map[String, Double] = synchronized(counts.toMap)
}

object Tracer {
  val SpanKey = "perfbench.span"
}
