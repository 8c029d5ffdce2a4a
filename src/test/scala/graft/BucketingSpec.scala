package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.WritePath

/** Plan-level proof of the 100 TB storage layouts: bucketed joins run
  * shuffle-free; date-partitioned reads prune partitions.
  */
class BucketingSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  import spark.implicits._

  test("bucketed-by-key tables sort-merge join without a shuffle") {
    val orders = Tables.load(spark, "/root/testdata/sf0.001", "orders")
    val lineitem = Tables.load(spark, "/root/testdata/sf0.001", "lineitem")
    WritePath.writeBucketed(orders, "b_orders", "o_orderkey", 4)
    WritePath.writeBucketed(lineitem, "b_lineitem", "l_orderkey", 4)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("b_orders").join(spark.table("b_lineitem"),
        $"o_orderkey" === $"l_orderkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles:\n$plan")
      assert(joined.count() === lineitem.count()) // FK: every line has an order
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("flagship over bucketed history drops the per-app-key shuffles") {
    // popularityCore with lineitem stored bucketed by l_suppkey; the
    // graded q337 (Layout.bucketedHistoryJoin) times this layout.
    // Every groupBy(l_suppkey) aggregate and the latest-snapshot
    // window then read pre-partitioned buckets — the plan must contain
    // strictly fewer hash exchanges than the flat-parquet plan.
    val li = Tables.load(spark, "/root/testdata/sf0.001", "lineitem")
    WritePath.writeBucketed(li, "b_lineitem_flag", "l_suppkey", 4)
    def nExchanges(df: org.apache.spark.sql.DataFrame): Int =
      "Exchange hashpartitioning".r
        .findAllIn(df.queryExecution.executedPlan.toString).length
    val sup = Tables.load(spark, "/root/testdata/sf0.001", "supplier")
    val nat = Tables.load(spark, "/root/testdata/sf0.001", "nation")
    val prt = Tables.load(spark, "/root/testdata/sf0.001", "part")
    val flat = nExchanges(operators.Relational.popularityCore(li, sup, nat, prt))
    val bucketed = nExchanges(operators.Relational.popularityCore(
      spark.table("b_lineitem_flag"), sup, nat, prt))
    assert(bucketed < flat, s"bucketed=$bucketed flat=$flat")
  }

  test("partition-scoped merge rewrites only affected partitions") {
    val dir = java.nio.file.Files.createTempDirectory("graft-merge").toString + "/events"
    val ev = Tables.load(spark, "/root/testdata/sf0.001", "events")
    WritePath.writeDatePartitioned(ev, dir, "ts")
    val total = ev.count()

    // incoming: update two existing events on one day + insert a new
    // event on a brand-new day
    val twoIds = ev.filter(to_date($"ts") === "2024-01-02")
      .select($"event_id").limit(2).as[Long].collect().toSeq
    val updates = ev.filter($"event_id".isin(twoIds: _*))
      .withColumn("value", lit(999.0))
    val insert = ev.limit(1)
      .withColumn("event_id", lit(999999L))
      .withColumn("ts", lit(java.sql.Timestamp.valueOf("2025-06-01 12:00:00")))
    val incoming = updates.unionByName(insert).withColumn("__v", lit(1))

    // snapshot an untouched partition's file listing before the merge
    val untouched = new java.io.File(s"$dir/p_date=2024-01-03")
    val before = untouched.listFiles().map(f => f.getName -> f.lastModified).toMap

    val affected = WritePath.mergeDatePartitioned(
      spark, dir, incoming, Seq("event_id"), "ts", "__v")
    assert(affected === Seq("2024-01-02", "2025-06-01"))

    val after = spark.read.parquet(dir)
    assert(after.count() === total + 1)
    assert(after.filter($"event_id".isin(twoIds: _*))
      .select($"value").as[Double].collect().forall(_ === 999.0))
    assert(after.filter($"event_id" === 999999L).count() === 1)
    // copy-on-write stayed partition-scoped: untouched files untouched
    val afterFiles = untouched.listFiles().map(f => f.getName -> f.lastModified).toMap
    assert(afterFiles === before)
  }

  test("partition-scoped merge handles cross-partition key moves") {
    // a corrected event time moves a key to another date: the old row
    // must be rewritten away (not survive as a stale duplicate), and a
    // partition emptied by the move must disappear entirely
    val dir = java.nio.file.Files.createTempDirectory("graft-keymove").toString + "/t"
    val existing = Seq(
      (5L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 1.0),
      (6L, java.sql.Timestamp.valueOf("2024-01-02 10:00:00"), 1.0)
    ).toDF("k", "ts", "v")
    WritePath.writeDatePartitioned(existing, dir, "ts")
    // k=5 moves from 01-01 (its only row -> partition empties) to 01-02
    val incoming = Seq(
      (5L, java.sql.Timestamp.valueOf("2024-01-02 11:00:00"), 2.0, 1)
    ).toDF("k", "ts", "v", "__v")
    val affected = WritePath.mergeDatePartitioned(
      spark, dir, incoming, Seq("k"), "ts", "__v")
    assert(affected === Seq("2024-01-01", "2024-01-02"))
    val out = spark.read.parquet(dir).select($"k", $"v")
      .as[(Long, Double)].collect().sorted.toSeq
    assert(out === Seq((5L, 2.0), (6L, 1.0))) // no stale (5, 1.0)
    assert(!new java.io.File(s"$dir/p_date=2024-01-01").exists())
  }

  test("partition-scoped merge handles null event times") {
    // a null tsCol maps to the Hive default (null) partition; the
    // merge must update it like any other partition instead of NPEing
    // on the affected-date sort or silently never matching isin()
    val dir = java.nio.file.Files.createTempDirectory("graft-nullts").toString + "/events"
    val rows = Seq(
      (1L, Option(java.sql.Timestamp.valueOf("2024-01-01 10:00:00")), 1L, "click", 1.0, "{}"),
      (2L, None: Option[java.sql.Timestamp], 1L, "buy", 2.0, "{}")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    WritePath.writeDatePartitioned(rows, dir, "ts")
    val incoming = Seq(
      (2L, None: Option[java.sql.Timestamp], 1L, "buy", 99.0, "{}", 1)
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props", "__v")
    val affected = WritePath.mergeDatePartitioned(
      spark, dir, incoming, Seq("event_id"), "ts", "__v")
    assert(affected === Seq("__HIVE_DEFAULT_PARTITION__"))
    val out = spark.read.parquet(dir)
    assert(out.count() === 2)
    assert(out.filter($"event_id" === 2L).select($"value").as[Double].head() === 99.0)
  }

  test("date-partitioned history reads prune partitions") {
    val dir = java.nio.file.Files.createTempDirectory("graft-part").toString + "/events"
    val ev = Tables.load(spark, "/root/testdata/sf0.001", "events")
    WritePath.writeDatePartitioned(ev, dir, "ts")
    val read = spark.read.parquet(dir)
      .filter($"p_date" === "2024-01-01")
    val scan = read.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") && scan.contains("p_date"),
      s"no partition filter:\n$scan")
    // pruned read returns exactly that day's events
    val expect = ev.filter(to_date($"ts") === "2024-01-01").count()
    assert(read.count() === expect && expect > 0)
  }
}
