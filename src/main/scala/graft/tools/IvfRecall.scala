package graft.tools

import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.operators.Similarity

/** Recall report for the trained-IVF ANN path (VERDICT round-1 item 7):
  * recall@10 of knnIvfKmeans (k-means centroids, multi-probe) against
  * the exact knnBrute top-10, per query and mean, at several nprobe
  * settings. Usage: runMain graft.tools.IvfRecall [sfDir].
  */
object IvfRecall {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession()
    val exact = Similarity.knnBrute(spark, dir).transform(graft.Iterate.cut)
    // baseline: the oracle-checked label-centroid IVF (q37, nprobe=1)
    val labelRec = Similarity.ivfRecall(Similarity.knnIvf(spark, dir), exact)
    println(f"label-cells nprobe=1 mean_recall@10=" +
      f"${labelRec.agg(avg(col("recall"))).head.getDouble(0)}%.4f")
    spark.catalog.clearCache()
    for {
      spill <- Seq(1, 2, 3)
      nprobe <- Seq(1, 2, 4)
    } {
      val ann = Similarity.knnIvfKmeans(spark, dir, nprobe = nprobe,
        spill = spill)
      // one action: the collected rows supply both the mean and the
      // per-query list (rec is uncached — a second action would re-run
      // the recall join)
      val rows = Similarity.ivfRecall(ann, exact).collect()
      val mean = rows.map(_.getDouble(1)).sum / rows.length
      println(f"spill=$spill%d nprobe=$nprobe%d mean_recall@10=$mean%.4f per_query=" +
        rows.map(r => f"${r.getDouble(1)}%.2f").mkString(","))
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
