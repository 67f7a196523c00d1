package org.apache.spark

/** Reaches `SparkContext.listenerBus` (package-private) so the traced
  * run can wait for every queued listener event before it reads its
  * counters. Returns false when the bus did not drain in time. */
object PerfbenchBus {
  def drain(sc: SparkContext, timeoutMillis: Long = 30000L): Boolean =
    try { sc.listenerBus.waitUntilEmpty(timeoutMillis); true }
    catch { case _: Exception => false }
}
