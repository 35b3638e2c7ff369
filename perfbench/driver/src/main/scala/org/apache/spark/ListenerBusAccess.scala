package org.apache.spark

/** Waits until every listener event posted so far has been delivered, so a
  * traced op's jobs, stages and query executions are attributed to it before
  * the next op starts. `listenerBus` is package-private to Spark. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
