package graft.tools

import graft.{GraftSession, SparkEntry}

/** Plan auditor: dumps the formatted physical plan for selected
  * queries so pushdown / broadcast / codegen posture can be reviewed
  * (usage: runMain graft.tools.Explain <sfDir> <query...>).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.tail.toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = GraftSession()
    // SPARK_GRAFT_NOAQE=1: static plans with [codegen id : N]
    // annotations (AdaptiveSparkPlan hides codegen info until runtime)
    // for WholeStageCodegen span audits
    if (sys.env.get("SPARK_GRAFT_NOAQE").contains("1"))
      spark.conf.set("spark.sql.adaptive.enabled", "false")
    names.foreach { n =>
      println(s"\n===== $n =====")
      SparkEntry.queries(n)(spark, dir).explain("formatted")
    }
    spark.stop()
  }
}
