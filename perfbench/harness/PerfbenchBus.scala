package org.apache.spark

/** Waits until Spark's listener bus has delivered every posted event, so a
  * traced operation's jobs, stages and query executions are all recorded
  * before the next operation starts. The bus is `private[spark]`, hence
  * this one-line bridge in Spark's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
