package org.apache.spark

/** Blocks until every event posted so far has reached the listeners
  * (`SparkContext.listenerBus` is package-private), so a test can read a
  * listener's totals right after an action returns.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
