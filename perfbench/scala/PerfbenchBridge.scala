package org.apache.spark

/** Access to the listener bus's drain, which Spark keeps package-private:
  * a traced pass waits for every event it caused before reading counts. */
object PerfbenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
