package org.apache.spark

/** Waits until every listener event posted so far has been delivered.
  * Listener events arrive asynchronously; reading a listener's counters
  * right after an action would otherwise miss the last task ends. The
  * bus is package-private, hence this file's package.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
