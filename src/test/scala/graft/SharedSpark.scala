package graft

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** One SparkSession for the whole test JVM (suites share it). Four
  * threads on every host, so test plans do not depend on the machine.
  */
object SharedSpark {
  lazy val spark: SparkSession = GraftSession(threads = 4)

  /** The sf0.001 test tables (TESTDATA.md). */
  val sf0001 = "/root/testdata/sf0.001"

  /** Jobs that `f` starts, counted after the listener bus drained. */
  def jobsOf(s: SparkSession)(f: => Unit): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    val sc = s.sparkContext
    ListenerBusDrain.drain(sc)
    sc.addSparkListener(l)
    try { f; ListenerBusDrain.drain(sc) } finally sc.removeSparkListener(l)
    n.get()
  }
}
