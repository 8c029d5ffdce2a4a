package graft

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.scalatest.funsuite.AnyFunSuite

/** The curation pass's fixed cost. With AQE every stage is its own
  * job, and in a new session each stage compiles its generated code
  * again: on the driver because one pass generates more classes than
  * the codegen cache holds (`spark.sql.codegen.cache.maxEntries`, 100),
  * and in the tasks because each session's tasks run under the
  * session's own artifact class loader, which is part of the cache key.
  * So the job count of q38, q108 and q37 in a new session is what the
  * pass pays per session. Job counts repeat exactly from run to run.
  */
class CurationJobsSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  private val sf0001 = SharedSpark.sf0001
  import SharedSpark.jobsOf

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
