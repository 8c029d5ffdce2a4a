package graft

import org.apache.spark.sql.SparkSession

/** One SparkSession for the whole test JVM (suites share it). Four
  * threads on every host, so test plans do not depend on the machine.
  */
object SharedSpark {
  lazy val spark: SparkSession = GraftSession(threads = 4)

  /** The sf0.001 test tables (TESTDATA.md). */
  val sf0001 = "/root/testdata/sf0.001"
}
