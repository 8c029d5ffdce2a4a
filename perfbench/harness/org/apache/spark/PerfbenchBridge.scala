package org.apache.spark

/** Package-placed accessor for the listener bus drain: the traced run
  * waits until every queued listener event of a phase has been
  * delivered before it reads the counters, so each count lands on the
  * phase (build, execute, write) that caused it.
  */
object PerfbenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
