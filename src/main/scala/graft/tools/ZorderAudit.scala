package graft.tools

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import graft.{GraftSession, Tables}
import graft.operators.Layout

/** Z-order layout read audit: writes lineitem (a) z-ordered on
  * (l_partkey, l_suppkey) and (b) unsorted, same file count, then runs
  * the same selective single-dimension predicates against both and
  * prints the SCAN's numOutputRows — the rows that survive parquet
  * row-group statistics pruning, i.e. the bytes a 100 TB reader
  * actually touches. A z-ordered file covers a bounded rectangle in
  * (part, supp) space, so a predicate on EITHER dimension skips most
  * row groups; the unsorted layout's row groups all span the full
  * domain and nothing skips. Usage:
  * runMain graft.tools.ZorderAudit [sfDir]
  */
object ZorderAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession()
    // static plans: read scan metrics without digging through AQE
    spark.conf.set("spark.sql.adaptive.enabled", "false")

    val base = java.nio.file.Files.createTempDirectory("graft-zaudit").toString
    val li = Tables.load(spark, sfDir, "lineitem")
    val nFiles = 64
    Layout.writeZOrdered(li, "l_partkey", "l_suppkey", s"$base/z", nFiles)
    Layout.writeHilbertOrdered(li, "l_partkey", "l_suppkey",
      s"$base/h", nFiles)
    li.repartition(nFiles).write.mode("overwrite").parquet(s"$base/u")

    val bounds = li.agg(max(col("l_partkey")), max(col("l_suppkey"))).head()
    val (maxPart, maxSupp) = (bounds.getLong(0), bounds.getLong(1))
    // ~10% selectivity on each dimension independently
    val preds = Seq(
      "supp_only" -> (col("l_suppkey") < maxSupp / 10),
      "part_only" -> (col("l_partkey") < maxPart / 10))

    def scanRows(dir: String, pred: org.apache.spark.sql.Column): (Long, Long) = {
      val df = spark.read.parquet(dir).filter(pred)
        .select(col("l_partkey"), col("l_suppkey"), col("l_extendedprice"))
      // execute THIS plan object (count()/write would build a new
      // execution and leave these metrics untouched)
      val plan = df.queryExecution.executedPlan
      val kept = plan.executeCollect().length.toLong
      val scanned = plan.collect {
        case s: FileSourceScanExec => s.metrics("numOutputRows").value
      }.sum
      (scanned, kept)
    }

    val total = li.count()
    preds.foreach { case (name, pred) =>
      val (zScan, zKept) = scanRows(s"$base/z", pred)
      val (hScan, hKept) = scanRows(s"$base/h", pred)
      val (uScan, uKept) = scanRows(s"$base/u", pred)
      require(zKept == uKept && hKept == uKept,
        s"$name: result rows diverge: $zKept / $hKept vs $uKept")
      println(f"$name%-10s total=$total%8d kept=$zKept%8d " +
        f"zorder_scanned=$zScan%8d hilbert_scanned=$hScan%8d " +
        f"unsorted_scanned=$uScan%8d " +
        f"zorder_frac=${zScan.toDouble / total}%.3f " +
        f"hilbert_frac=${hScan.toDouble / total}%.3f " +
        f"unsorted_frac=${uScan.toDouble / total}%.3f")
    }
    spark.stop()
  }
}
