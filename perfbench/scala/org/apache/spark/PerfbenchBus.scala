package org.apache.spark

/** Barrier over the listener bus. `SparkContext.listenerBus` is
  * package-private, so the benchmark reaches it from this package:
  * after an action returns, its job, stage, task and SQL-execution
  * events may still be queued; draining the bus before the counters
  * are read makes them complete, with no sleep and no race.
  */
object PerfbenchBus {
  def drain(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
