package graft

import org.apache.spark.sql.{Column, DataFrame, Dataset, Observation, SparkSession}

/** The one place the engine decides what to materialize: every eager
  * lineage cut is [[cut]], every session-scoped reuse is [[memo]].
  * Fixpoint loops (near-dup cluster propagation, connected components,
  * PageRank) cut each round, or the plan doubles per round; a
  * multi-consumer intermediate is cut once, so its consumers read
  * blocks the ContextCleaner reclaims once the frame is unreferenced
  * (no CacheManager entry, unlike `persist()`).
  *
  * Two modes, for every cut:
  *
  *  - '''local''' (default): `localCheckpoint()` — blocks live on
  *    executor local storage. Right for single-JVM / local[n] runs and
  *    for short-lived jobs where re-running on failure is acceptable.
  *  - '''reliable''': `checkpoint()` — blocks are written to the
  *    SparkContext checkpoint directory (HDFS/S3 on a cluster), so an
  *    executor lost mid-query recovers from the checkpoint instead
  *    of aborting the whole 100 TB run. Enabled by setting
  *    `spark.graft.checkpoint.reliable=true` AND
  *    `SparkContext.setCheckpointDir(...)`; enabling the flag without
  *    a directory fails fast rather than silently degrading.
  *
  * Both paths go through `Dataset.checkpoint(eager=true)` internals,
  * which record the child's output partitioning and ordering on the
  * resulting `LogicalRDD` — so a `repartition(col)` layout cut here is
  * reusable by later co-partitioned joins in either mode.
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
      atCallerSite(spark, "checkpoint")(df.checkpoint())
    } else atCallerSite(spark, "localCheckpoint")(df.localCheckpoint())
  }

  /** Run `body` under the call site a raw `method` call in the operator
    * would have (`localCheckpoint at Dedup.scala:218`), not this file's:
    * the cut RDD keeps it once its lineage is gone, and it names the job
    * in Spark's UI and tells two cut sources apart in
    * `DupCheck.planDigest`.
    */
  private def atCallerSite[T](spark: SparkSession, method: String)(body: => T): T = {
    def ours(c: String) = c == "graft.Iterate" || c.startsWith("graft.Iterate$")
    def internal(c: String) =
      Seq("org.apache.spark.", "scala.", "java.", "jdk.").exists(c.startsWith)
    val caller = Thread.currentThread.getStackTrace.iterator
      .dropWhile(f => !ours(f.getClassName))
      .find(f => !ours(f.getClassName) && !internal(f.getClassName))
    val sc = spark.sparkContext
    val key = "callSite.short" // the property SparkContext.setCallSite sets
    val prior = sc.getLocalProperty(key)
    caller.foreach(f => sc.setLocalProperty(key, s"$method at ${f.getFileName}:${f.getLineNumber}"))
    try body finally sc.setLocalProperty(key, prior)
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

  private val memos = new java.util.concurrent.ConcurrentHashMap[(SparkSession, Any), Any]()

  /** `build`'s value for `key`, built once per session (deterministic
    * inputs make the reuse semantics-free). `key` names its owner first,
    * `("coPurchasePairs", dir, cap)`. `build` may reach other memos
    * (q38's labels reach the shingle table), so it runs outside the map:
    * two concurrent first calls may both build; the first stored wins.
    */
  def memo[T](spark: SparkSession, key: Any)(build: => T): T = {
    val k = (spark, key)
    Option(memos.get(k)).getOrElse {
      val built = build
      Option(memos.putIfAbsent(k, built)).getOrElse(built)
    }.asInstanceOf[T]
  }

  /** Drop every memo entry (tests; long sessions switching corpora). */
  private[graft] def clearMemo(): Unit = memos.clear()

  /** Ids of the RDDs behind the frames memo entries hold, directly or in
    * a tuple: a between-rep unpersist sweep must spare them. */
  private[graft] def memoRddIds: Set[Int] = {
    import scala.jdk.CollectionConverters._
    memos.values.asScala.toSeq.flatMap {
      case ds: Dataset[_] => Seq(ds)
      case p: Product => p.productIterator.collect { case ds: Dataset[_] => ds }
      case _ => Nil
    }.flatMap(_.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
    }).toSet
  }
}
