package org.apache.spark

/** Waits until every listener event posted so far has been delivered,
  * so the job and task records of a finished run are complete. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
