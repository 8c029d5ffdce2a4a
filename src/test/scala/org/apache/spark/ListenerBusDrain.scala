package org.apache.spark

/** Package-placed accessor for the listener bus drain: a test that
  * counts listener events waits until every queued event has been
  * delivered before it reads its counters.
  */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
