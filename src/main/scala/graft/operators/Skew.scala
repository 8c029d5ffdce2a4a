package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew-mitigation utilities (100 TB posture; SURVEY §4 "salting for
  * skew"). AQE's skew-join handles sort-merge skew automatically at
  * runtime; explicit salting remains the tool for (a) aggregations on
  * power-law keys and (b) joins where one hot key dominates a task.
  */
object Skew {

  /** Salted inner equi-join: the fact side gets a deterministic salt
    * in [0, saltFactor) derived from its other key material (never
    * rand() — reruns must produce identical partitioning); the dim
    * side is replicated saltFactor times. Result equals the plain
    * join, but the hot key's rows spread over saltFactor reduce tasks.
    */
  def saltedJoin(fact: DataFrame, dim: DataFrame, key: String,
                 saltFactor: Int, saltSource: Column): DataFrame = {
    val salted = fact.withColumn("__salt",
      pmod(xxhash64(saltSource), lit(saltFactor)).cast("int"))
    val salts = dim.sparkSession.range(saltFactor.toLong)
      .select(col("id").cast("int").as("__salt"))
    val replicated = dim.crossJoin(broadcast(salts))
    salted.join(replicated, Seq(key, "__salt")).drop("__salt")
  }

  /** Two-level aggregation for power-law group keys: partial aggregate
    * on (key, salt), then final on key. Works for any commutative
    * re-aggregable pair (partialAgg over rows, finalAgg over partials).
    */
  def twoLevelAgg(df: DataFrame, key: String, saltSource: Column,
                  saltFactor: Int,
                  partialAgg: Seq[Column], finalAgg: Seq[Column]): DataFrame =
    df.withColumn("__salt", pmod(xxhash64(saltSource), lit(saltFactor)))
      .groupBy(col(key), col("__salt"))
      .agg(partialAgg.head, partialAgg.tail: _*)
      .groupBy(col(key))
      .agg(finalAgg.head, finalAgg.tail: _*)

  /** Distributed EXACT global rank — the 100 TB replacement for
    * `row_number() OVER (ORDER BY ...)` with no partition key, which
    * Spark plans as an Exchange to a SINGLE partition (the
    * acknowledged sore spot of the q42/q79/q90-family global
    * rankings: one reducer sorts the world). Here the total order is
    * produced by a RANGE exchange (sampled boundaries, all reducers
    * sort their slice) and the global rank is reassembled
    * arithmetically: per-partition row counts — a metadata-sized
    * collect, one row per partition — prefix-sum into offsets, and
    * each row's rank = its partition's offset + its ordinal within
    * the partition (ordinal = monotonically_increasing_id minus the
    * partition's minimum, which is exact because the counter is
    * consecutive within a partition and the rows are already sorted).
    *
    * REQUIRES a fully tiebroken sort (a total order): rows that
    * compare equal could straddle a range boundary, and their
    * relative rank would then depend on boundary sampling. With a
    * total order the result is deterministic and equal to the
    * single-partition window row_number (spec + oracle-proven by
    * q324). Wall-clock: all reducers sort in parallel; the only
    * driver traffic is |partitions| (count, min-id) pairs.
    */
  def globalRank(df: DataFrame, sortCols: Seq[Column],
                 parts: Int = 0): DataFrame = {
    val spark = df.sparkSession
    val n = if (parts > 0) parts
      else spark.sessionState.conf.numShufflePartitions
    val parted = df.repartitionByRange(n, sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
      .withColumn("__pid", spark_partition_id())
      .withColumn("__mid", monotonically_increasing_id())
      .transform(graft.Iterate.cut) // consumers: partition stats + the rank map
    val stats = parted.groupBy(col("__pid"))
      .agg(count(lit(1)).as("c"), min(col("__mid")).as("m0"))
      .collect() // one row PER PARTITION — metadata-sized by design
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    val offsets = stats.scanLeft((0, 0L, 0L, 0L)) {
      case ((_, acc, _, _), (pid, c, m0)) => (pid, acc + c, c, m0)
    }.tail.map { case (pid, cum, c, m0) => (pid, cum - c, m0) }
    val offDf = spark.createDataFrame(offsets.toSeq)
      .toDF("__pid", "__off", "__m0")
    parted.join(broadcast(offDf), "__pid")
      .withColumn("rank",
        col("__off") + (col("__mid") - col("__m0")) + 1L)
      .drop("__pid", "__mid", "__off", "__m0")
  }

  /** Distributed exact `ntile(k) OVER (ORDER BY ...)` — the same
    * bucket assignment as the built-in (first n mod k buckets take
    * the extra row), computed from [[globalRank]] + closed-form
    * arithmetic instead of a single-partition window. Same total-
    * order requirement; PlansSpec proves bucket-for-bucket equality
    * with the built-in on colliding data.
    */
  def globalNtile(df: DataFrame, k: Int, sortCols: Seq[Column],
                  out: String = "ntile"): DataFrame = {
    val ranked = globalRank(df, sortCols)
    val n = ranked.agg(count(lit(1)).as("__n"))
    ranked.crossJoin(broadcast(n))
      .withColumn("__q", expr(s"__n div $k"))
      .withColumn("__r", expr(s"__n % $k"))
      .withColumn(out,
        when(col("rank") <= col("__r") * (col("__q") + 1),
          expr("(rank - 1) div (__q + 1) + 1"))
          .otherwise(expr(
            "__r + (rank - __r * (__q + 1) - 1) div greatest(__q, 1) + 1"))
          .cast("int"))
      .drop("rank", "__n", "__q", "__r")
  }
}
