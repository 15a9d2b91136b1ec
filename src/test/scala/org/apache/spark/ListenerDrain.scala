package org.apache.spark

/** Waits until every event posted so far has reached the listeners, so
  * a spec can read a SparkListener's counts right after an action
  * (the listener bus is asynchronous and `private[spark]`). */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
