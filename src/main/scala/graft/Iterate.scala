package graft

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}

/** Lineage truncation policy for the iterative fixpoint operators
  * (near-dup cluster propagation, alternating-star connected
  * components, PageRank). Each round of those loops must cut its
  * lineage — otherwise the logical plan doubles per round and the
  * driver re-optimizes an exponentially growing tree.
  *
  * Two modes:
  *
  *  - '''local''' (default): `localCheckpoint()` — blocks live on
  *    executor local storage, reclaimed by the ContextCleaner when the
  *    frame is unreferenced. Right for single-JVM / local[n] runs and
  *    for short-lived jobs where re-running on failure is acceptable.
  *  - '''reliable''': `checkpoint()` — blocks are written to the
  *    SparkContext checkpoint directory (HDFS/S3 on a cluster), so an
  *    executor loss mid-fixpoint recovers from the checkpoint instead
  *    of aborting the whole 100 TB run. Enabled by setting
  *    `spark.graft.checkpoint.reliable=true` AND
  *    `SparkContext.setCheckpointDir(...)`; enabling the flag without
  *    a directory fails fast rather than silently degrading.
  *
  * Both paths go through `Dataset.checkpoint(eager=true)` internals,
  * which record the child's output partitioning and ordering on the
  * resulting `LogicalRDD` — so a `repartition(col).{local,}checkpoint`
  * layout is reusable by later co-partitioned joins in either mode.
  */
object Iterate {

  val ReliableFlag = "spark.graft.checkpoint.reliable"

  /** True when the session asks for reliable (replicated) checkpoints. */
  def reliable(spark: SparkSession): Boolean =
    spark.conf.getOption(ReliableFlag).exists(_.trim.equalsIgnoreCase("true"))

  /** Truncate `df`'s lineage per the session policy (see class doc). */
  def cut(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    if (reliable(spark)) {
      require(spark.sparkContext.getCheckpointDir.isDefined,
        s"$ReliableFlag=true but no checkpoint dir is set — call " +
          "SparkContext.setCheckpointDir(<fault-tolerant path>) first")
      df.checkpoint()
    } else df.localCheckpoint()
  }

  /** [[cut]], returning with the cut frame the value of `metric`, a
    * long-valued aggregate over its rows (say `count(lit(1))`), observed
    * on the cut's own job: a loop that tests the state it just cut
    * (empty? grown? changed?) runs no probe job for it.
    */
  def cutObserved(df: DataFrame, metric: Column): (DataFrame, Long) = {
    val observed = Observation()
    val out = cut(df.observe(observed, metric.as("m")))
    (out, observed.get("m").asInstanceOf[Long])
  }
}
