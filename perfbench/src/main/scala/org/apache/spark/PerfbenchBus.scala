package org.apache.spark

/** Package bridge to the listener bus's drain, which Spark keeps
  * `private[spark]`. The traced run calls it once, after its timed region,
  * so every job and task event has reached the trace's listener before the
  * counters are read. */
object PerfbenchBus {
  def drain(sc: SparkContext, timeoutMs: Long): Unit = sc.listenerBus.waitUntilEmpty(timeoutMs)
}
