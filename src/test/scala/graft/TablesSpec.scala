package graft

import org.apache.spark.sql.types.{LongType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

/** [[Tables.load]]: the per-JVM schema memo follows the file, and the
  * events `ts` normalization still sees the physical type.
  */
class TablesSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  import spark.implicits._

  test("rewriting a table at the same path with another schema is seen by the next load") {
    val dir = java.nio.file.Files.createTempDirectory("graft-tables").toString
    Seq((1L, "a b c", "en", "s", 5L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val first = Tables.load(spark, dir, "documents")
    assert(first.columns.toSeq === Seq("doc_id", "text", "lang", "source", "n_chars"))
    assert(Tables.load(spark, dir, "documents").schema === first.schema)
    // same path, one more column and another type
    Seq((2L, "d e f", "de", "t", 5, 0.5))
      .toDF("doc_id", "text", "lang", "source", "n_chars", "extra")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val second = Tables.load(spark, dir, "documents")
    assert(second.schema === spark.read.parquet(s"$dir/documents.parquet").schema)
    assert(second.columns.last === "extra")
    assert(second.as[(Long, String, String, String, Int, Double)].collect().toSeq ===
      Seq((2L, "d e f", "de", "t", 5, 0.5)))
  }

  test("a legacy nanos events.ts (INT64) is normalized on every load") {
    val dir = java.nio.file.Files.createTempDirectory("graft-nanos").toString
    val day = 86400L * 1000000000L
    Seq((1L, day + 1999L, 7L, "view", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    assert(spark.read.parquet(s"$dir/events.parquet").schema("ts").dataType === LongType)
    (1 to 2).foreach { _ =>
      val ev = Tables.load(spark, dir, "events")
      assert(ev.schema("ts").dataType === TimestampType)
      // nanos truncated to micros
      assert(ev.selectExpr("unix_micros(ts)").as[Long].collect().toSeq ===
        Seq(86400L * 1000000L + 1L))
    }
  }
}
