package graft

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** The curation pass's fixed cost. In Spark 4.1 every new session
  * recompiles the generated code of each stage it runs, and with AQE
  * every stage is its own job, so the job count of q38, q108 and q37 in
  * a new session is what the pass pays per session. Job counts repeat
  * exactly from run to run.
  */
class CurationJobsSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  private val sf0001 = SharedSpark.sf0001

  /** Jobs that `f` starts, counted after the listener bus drained. */
  private def jobsOf(s: SparkSession)(f: => Unit): Int = {
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

  test("one curation pass (q38, q108, q37) in a new session runs at most 36 jobs") {
    val s = spark.newSession()
    // a table's schema is inferred once per JVM and Parquet settings:
    // warm it, as every pass after a JVM's first finds it
    Seq("documents", "embeddings").foreach(Tables.load(s, sf0001, _))
    val out = java.nio.file.Files.createTempDirectory("graft-jobs").toString
    val jobs = Seq("q38_dedup_clusters", "q108_dedup_report", "q37_knn_ivf").map { q =>
      var df: DataFrame = null
      val build = jobsOf(s) { df = SparkEntry.queries(q)(s, sf0001) }
      build + jobsOf(s) { df.write.mode(SaveMode.Overwrite).parquet(s"$out/$q") }
    }
    // before the sorts, cuts, probes and schema scans that nothing read
    // were dropped: 63 (q38 26 + 6, q108 2 + 15, q37 9 + 5)
    assert(jobs.sum <= 36, s"jobs per query: $jobs")
  }
}
