package org.apache.spark

/** Blocks until every event posted so far has reached the listeners
  * (`SparkContext.listenerBus` is package-private), so a caller can read a
  * listener's totals right after an action returns — `graft.Tool trace`
  * and the listener-counting specs. The session's QueryExecutionListeners
  * hang off the same bus, so their callbacks have run too.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
