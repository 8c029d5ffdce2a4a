package graft.tools

import org.apache.spark.sql.functions._

/** Reliable-checkpoint recovery rehearsal: proves the fixpoint
  * discipline ([[graft.Iterate.cut]] under
  * `spark.graft.checkpoint.reliable=true` + a real checkpoint dir)
  * SURVIVES a task failure instead of aborting — the property the
  * mode exists for at 100 TB, demonstrated rather than configured.
  *
  * Runs in its own JVM because task retries need a
  * `local[n, maxFailures]` master (plain local[n] fails the job on
  * the first task failure) and the test suite's shared session can't
  * be re-mastered. IterateSpec spawns this main and asserts the
  * DRILL_OK marker + exit 0.
  *
  * Two detonations, both one-shot fuses that throw on the first task
  * attempt and succeed on the retry:
  *  (a) operator-level: connectedComponents over an edge scan that
  *      throws once — the round-1 job retries the task and the
  *      fixpoint converges to the exact local-mode labels;
  *  (b) mid-fixpoint: round 3 of a 5-round cut() loop throws once
  *      while writing its reliable checkpoint — later rounds read
  *      the recovered checkpoint and the final arithmetic is exact.
  */
object RecoveryDrill {
  private val fuseA = new java.util.concurrent.atomic.AtomicBoolean(false)
  private val fuseB = new java.util.concurrent.atomic.AtomicBoolean(false)

  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession(threads = 4, taskRetries = 1)
    import spark.implicits._
    val ck = java.nio.file.Files.createTempDirectory("graft-drill-ck")
    spark.sparkContext.setCheckpointDir(ck.toString)
    spark.conf.set(graft.Iterate.ReliableFlag, "true")

    // (a) task failure during the fixpoint's input scan. The fuses
    // are asNondeterministic so ConvertToLocalRelation can't fold
    // them on the DRIVER at optimization time — the throw must happen
    // inside a task attempt for the retry machinery to be on trial.
    val boomA = udf((x: Long) => {
      if (fuseA.compareAndSet(false, true))
        throw new RuntimeException("injected task failure (drill A)")
      x
    }).asNondeterministic()
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("src", "dst")
      .repartition(2)
      .withColumn("src", boomA(col("src")))
    val labels = graft.operators.Dedup.connectedComponents(edges)
      .as[(Long, Long)].collect().toSeq.sorted
    require(fuseA.get(), "drill A fuse never fired")
    require(labels == Seq((2L, 1L), (3L, 1L), (11L, 10L)),
      s"wrong labels after recovery: $labels")

    // (b) task failure in the MIDDLE of a checkpointed loop: the
    // detonating round's reliable-checkpoint write job retries its
    // failed task; rounds 4-5 read the recovered checkpoint
    val boomB = udf((x: Long) => {
      if (fuseB.compareAndSet(false, true))
        throw new RuntimeException("injected task failure (drill B)")
      x + 1
    }).asNondeterministic()
    var df = spark.range(0, 100, 1, 4).toDF("v")
    for (round <- 1 to 5) {
      val stepped =
        if (round == 3) df.withColumn("v", boomB(col("v")))
        else df.withColumn("v", col("v") + lit(1L))
      df = graft.Iterate.cut(stepped)
    }
    val total = df.agg(sum(col("v"))).head().getLong(0)
    val expected = (0 until 100).map(_.toLong + 5).sum
    require(fuseB.get(), "drill B fuse never fired")
    require(total == expected, s"wrong sum after recovery: $total != $expected")

    // both fixpoints wrote real part files under the reliable dir
    import scala.jdk.CollectionConverters._
    val wrote = java.nio.file.Files.walk(ck).iterator().asScala
      .exists(_.getFileName.toString.startsWith("part-"))
    require(wrote, s"no checkpoint part files under $ck")

    println("DRILL_OK")
    spark.stop()
  }
}
