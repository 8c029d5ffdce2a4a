package graft
import com.fasterxml.jackson.databind.ObjectMapper
import scala.jdk.CollectionConverters._
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. Runs under
  * Bench's session, so the config checked is the config measured. Run
  * it from the repo root: q281's oracle reads `fixtures/` relative to
  * the working directory. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession()
    new java.io.File(outDir).mkdirs()
    // optional comma-separated subset for local iteration
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    SparkEntry.queries
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // per-query isolation: operators persist intermediates for
      // within-query reuse; don't let 40 queries' caches accumulate
      finally spark.catalog.clearCache()
    }
    new ObjectMapper().writeValue(new java.io.File(s"$outDir/oracle_sql.json"),
      new java.util.TreeMap[String, String](SparkEntry.oracleSql.asJava))
    spark.stop()
  }
}
