package graft

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.WritePath

/** The reference path's fixed cost, counted as [[CurationJobsSpec]]
  * counts the curation pass's: the reference's product (migrate of
  * lineitem, fresh then rerun, keyed on the whole row) and its own
  * analytics (q03, q04) plus the CDC replay (q543), in a new session.
  */
class ReferenceJobsSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  private val sf0001 = SharedSpark.sf0001
  import SharedSpark.jobsOf

  test("one reference pass (migrate fresh and rerun, q03, q04, q543) in a new session runs at most 46 jobs") {
    val s = spark.newSession()
    // a table's schema is inferred once per JVM and Parquet settings:
    // warm it, as every pass after a JVM's first finds it
    Seq("lineitem", "supplier", "nation", "part", "events").foreach(Tables.load(s, sf0001, _))
    val out = java.nio.file.Files.createTempDirectory("graft-ref-jobs").toString
    val keys = Map("lineitem" -> Tables.schemas("lineitem").fieldNames.toSeq)
    val migrate = Seq("fresh", "rerun").map { _ =>
      jobsOf(s) { WritePath.migrate(s, sf0001, s"$out/dest", Seq("lineitem"), keys) }
    }
    val queries = Seq("q03_popularity", "q04_difficulty", "q543_streaming_cdc").map { q =>
      var df: DataFrame = null
      val build = jobsOf(s) { df = SparkEntry.queries(q)(s, sf0001) }
      build + jobsOf(s) { df.write.mode(SaveMode.Overwrite).parquet(s"$out/$q") }
    }
    val jobs = migrate ++ queries
    // before migrate counted the copy it writes, q03 read lineitem in
    // one aggregate, q04 sorted in one partition and q543 read its
    // snapshots with their known schema and merged each batch with one
    // anti-join: 72 (migrate 5 + 4, q03 24, q04 7, q543 32); now 3 + 2,
    // 13, 5, 23
    assert(jobs.sum <= 46, s"jobs per step: $jobs")
  }
}
