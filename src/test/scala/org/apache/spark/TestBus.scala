package org.apache.spark

/** Barrier over the listener bus for specs that count jobs.
  * `SparkContext.listenerBus` is package-private, so it is reached from
  * this package: draining it after an action makes every job event of
  * that action visible to a listener, with no sleep and no race.
  */
object TestBus {
  def drain(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
