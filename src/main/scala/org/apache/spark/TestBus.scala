package org.apache.spark

/** Barrier over the listener bus, for code that counts jobs or captures
  * plans ([[graft.PlanDump.capture]] and the specs).
  * `SparkContext.listenerBus` is package-private, so it is reached from
  * this package: draining it after an action makes every event of that
  * action visible to a listener, with no sleep and no race.
  */
object TestBus {
  def drain(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
