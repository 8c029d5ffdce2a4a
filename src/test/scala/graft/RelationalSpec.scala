package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Relational

/** Semantics-trap unit tests (SURVEY §4 watch items) on tiny literal
  * frames: log10 base, NULLIF null propagation, DESC NULLS FIRST,
  * latest-per-key tie-breaking, decimal-exact sums.
  */
class RelationalSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  import spark.implicits._

  test("F3: log10 is base 10, not ln (Postgres LOG trap)") {
    val r = Seq(100.0).toDF("x").select(log10($"x")).head.getDouble(0)
    assert(r === 2.0)
  }

  test("F2: NULLIF(0,0) division propagates NULL through the blend") {
    // lib.ts:393-394: zero max score => NULL popularity, not 0
    val df = Seq((1.0, 0.0)).toDF("score", "maxScore")
      .select((lit(0.7) * ($"score" / nullif($"maxScore", lit(0.0))) + lit(0.3)).as("pop"))
    assert(df.head.isNullAt(0))
  }

  test("O1: desc_nulls_first puts NULL scores on top (Postgres DESC)") {
    val df = Seq(Some(1.0), None, Some(3.0)).toDF("s")
      .orderBy($"s".desc_nulls_first)
    assert(df.collect().map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0))).toSeq
      === Seq(None, Some(3.0), Some(1.0)))
  }

  test("W1: latest-per-key breaks capturedAt ties deterministically") {
    import org.apache.spark.sql.expressions.Window
    val snaps = Seq(
      ("a", 10L, 1L, "first"), ("a", 10L, 2L, "second"), // tied ts
      ("a", 5L, 3L, "old"), ("b", 7L, 4L, "only")
    ).toDF("handle", "ts", "id", "v")
    val w = Window.partitionBy($"handle").orderBy($"ts".desc, $"id".desc)
    val latest = snaps.withColumn("rn", row_number().over(w)).filter($"rn" === 1)
    val got = latest.select("handle", "v").as[(String, String)].collect().toMap
    assert(got === Map("a" -> "second", "b" -> "only"))
  }

  test("decSum is exact and order-independent") {
    val vals = Seq.tabulate(1000)(i => 0.1 + i * 1e-6)
    val a = vals.toDF("x").repartition(7).agg(Relational.decSum($"x")).head.getDouble(0)
    val b = vals.reverse.toDF("x").repartition(3).agg(Relational.decSum($"x")).head.getDouble(0)
    assert(a === b)
  }

  test("driver smoke: entry() runs on a plain session and returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("flagship popularity on the reference-shaped micro-fixture") {
    // FIXTURES.md §2 traps: an app with no history at all must get
    // NULL popularity (F2), not zero; dimension join is left (J2).
    val li = Seq(
      // (orderkey, partkey, suppkey, linenumber, qty, price, disc, tax, rf, ls, ship)
      (1L, 10L, 100L, 0, 1.0, 5.0, 0.0, 0.0, "N", "O", java.sql.Timestamp.valueOf("2024-01-02 00:00:00")),
      (2L, 10L, 100L, 1, 1.0, 6.0, 0.0, 0.0, "A", "F", java.sql.Timestamp.valueOf("2024-01-03 00:00:00")),
      // second rec row for 100 keeps max_rec = 1.5 ≠ 1 — with a single
      // position-0 rec the reference's NULLIF(max_rec, 1) nulls every
      // blend (pinned in the quirk test below)
      (4L, 10L, 100L, 1, 1.0, 4.0, 0.0, 0.0, "N", "O", java.sql.Timestamp.valueOf("2024-01-02 00:00:00")),
      (3L, 11L, 101L, 0, 1.0, 7.0, 0.0, 0.0, "N", "O", java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))
    ).toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
      "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate")
    val sup = Seq(
      (100L, "s100", 1, 10.0), (101L, "s101", 2, 20.0),
      (999L, "ghost", 99, 0.0) // no history anywhere -> NULL popularity
    ).toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
    val nat = Seq((1, "ALPHA", 0), (2, "BETA", 0)).toDF("n_nationkey", "n_name", "n_regionkey")
    val prt = Seq((10L, "p", "B1", "t", 1, 1.0), (11L, "q", "B2", "t", 1, 1.0))
      .toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice")

    val out = Relational.popularityCore(li, sup, nat, prt).collect()
    assert(out.length === 3)
    // NULLs first under desc_nulls_first: the ghost app leads
    assert(out.head.getAs[Long]("app_key") === 999L)
    assert(out.head.isNullAt(out.head.fieldIndex("popularity")))
    // ghost has no nation match: developer_name coalesces to ""
    assert(out.head.getAs[String]("developer_name") === "")
    // both active suppliers have rec rows ('N'): popularity defined
    val rest = out.tail.map(r => r.getAs[Long]("app_key") -> r.getAs[Double]("popularity")).toMap
    assert(rest.keySet === Set(100L, 101L))
    assert(rest.values.forall(p => p > 0.0 && p <= 1.0))
  }

  test("reference quirk: NULLIF(max_rec, 1) nulls the blend when max_rec = 1") {
    // lib.ts:393-394 divides by NULLIF(max, 1), not NULLIF(max, 0): a
    // corpus whose best recommendation score is exactly 1 (one lone
    // position-0 recommendation) yields NULL popularity for EVERY app.
    // Replicated, not "fixed" (SURVEY F2) — this pin documents it.
    val li = Seq(
      (1L, 10L, 100L, 0, 1.0, 5.0, 0.0, 0.0, "N", "O", java.sql.Timestamp.valueOf("2024-01-02 00:00:00"))
    ).toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
      "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate")
    val sup = Seq((100L, "s100", 1, 10.0)).toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
    val nat = Seq((1, "ALPHA", 0)).toDF("n_nationkey", "n_name", "n_regionkey")
    val prt = Seq((10L, "p", "B1", "t", 1, 1.0))
      .toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice")
    val out = Relational.popularityCore(li, sup, nat, prt).collect()
    assert(out.length === 1)
    // rec_score = 1/(0+1) = 1 = max_rec => NULLIF(max_rec, 1) is NULL
    assert(out.head.isNullAt(out.head.fieldIndex("popularity")))
  }

  test("popularityCore scans lineitem at most twice") {
    // the category sizes and one per-supplier aggregate; the global
    // maxes reuse that aggregate's exchange (before: 7 scans)
    val Seq(li, sup, nat, prt) = Seq("lineitem", "supplier", "nation", "part")
      .map(Tables.load(spark, SharedSpark.sf0001, _))
    val df = Relational.popularityCore(li, sup, nat, prt)
    df.collect()
    val scans = new AdaptiveSparkPlanHelper {}.collect(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec
        if s.relation.location.rootPaths.exists(_.getName == "lineitem.parquet") => s
    }
    assert(scans.nonEmpty && scans.size <= 2, df.queryExecution.executedPlan.toString)
  }

  test("lateCulprits: sole-late wins, shared-late and single-supplier orders drop") {
    val dir = java.nio.file.Files.createTempDirectory("graft-q21").toString
    def day(d: Long) = new java.sql.Timestamp(d * 86400000L)
    // order 1: s7 late, s8 on time  -> culprit s7
    // order 2: s7 and s8 both late  -> shared blame, no culprit
    // order 3: s7 late but sole supplier -> not "kept others waiting"
    // order 4: s8 late (day 70 > 60), s7 on time -> culprit s8
    Seq((1L, 7L, 100L), (1L, 8L, 10L),
        (2L, 7L, 100L), (2L, 8L, 100L),
        (3L, 7L, 100L),
        (4L, 8L, 70L), (4L, 7L, 5L))
      .zipWithIndex.map { case ((ok, sk, sd), i) =>
        (ok, 10L, sk, i, 1.0, 1.0, 0.0, 0.0, "N", "O", day(sd)) }
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    Seq(1L, 2L, 3L, 4L).map(ok => (ok, 1L, "O", 1.0, day(0), "1-URGENT"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    Seq((7L, "s7", 1, 0.0), (8L, "s8", 1, 0.0))
      .toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
      .write.mode("overwrite").parquet(s"$dir/supplier.parquet")
    val out = Relational.lateCulprits(spark, dir)
      .as[(Long, String, Long)].collect().toSeq
    assert(out === Seq((7L, "s7", 1L), (8L, "s8", 1L)))
  }

  test("returnRateRanking: Wilson lower bound ranks certainty, minN gates noise") {
    val dir = java.nio.file.Files.createTempDirectory("graft-wilson").toString
    val ship = java.sql.Timestamp.valueOf("2024-01-02 00:00:00")
    // p20: 12/12 returned; p10: 6/12; p30: 5/5 but only 5 lines — the
    // all-returns small-n part is EXCLUDED by minN, which is the point
    val lines =
      (1 to 12).map(i => (10L, if (i <= 6) "R" else "N")) ++
        (1 to 12).map(_ => (20L, "R")) ++ (1 to 5).map(_ => (30L, "R"))
    lines.zipWithIndex.map { case ((pk, rf), i) =>
        (i.toLong, pk, 1L, i, 1.0, 1.0, 0.0, 0.0, rf, "O", ship) }
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    def wilsonLo(n: Long, k: Long): Double = {
      val z = 1.96; val p = k.toDouble / n; val z2n = z * z / n
      val center = (p + z2n / 2) / (1.0 + z2n)
      val half = (z * math.sqrt((p * (1.0 - p) + z2n / 4) / n)) / (1.0 + z2n)
      BigDecimal(center - half)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val out = Relational.returnRateRanking(spark, dir)
      .as[(Long, Long, Long, Double, Double)].collect().toSeq
    assert(out === Seq(
      (20L, 12L, 12L, 1.0, wilsonLo(12, 12)),
      (10L, 12L, 6L, 0.5, wilsonLo(12, 6))))
    // the bound actually discounts certainty: 12/12 ranks ~0.76, not 1
    assert(wilsonLo(12, 12) < 0.8 && wilsonLo(12, 12) > 0.7)
  }

  test("abcXyz: exact 80/95 revenue boundaries, CV=0.5 lands inclusive in X") {
    val dir = java.nio.file.Files.createTempDirectory("graft-abc").toString
    def day(d: Long) = new java.sql.Timestamp(d * 86400000L)
    // revenue 80/15/5 hits the A and B thresholds EXACTLY (5·80=4·100,
    // 20·95=19·100 — the cross-multiplied decimal compare, no floats);
    // p20's weekly demand (1,3) has CV exactly 0.5 -> X inclusive;
    // p30's (1,1,10) -> CV² = 162/144 > 1 -> Z.
    Seq(
      (1L, 10L, 10L, 40.0, 0L), (2L, 10L, 10L, 40.0, 7L),
      (3L, 20L, 1L, 7.5, 0L), (4L, 20L, 3L, 7.5, 7L),
      (5L, 30L, 1L, 2.0, 0L), (6L, 30L, 1L, 2.0, 7L),
      (7L, 30L, 10L, 1.0, 14L))
      .map { case (ok, pk, q, px, d) =>
        (ok, pk, 1L, 1, q.toDouble, px, 0.0, 0.0, "N", "O", day(d)) }
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val out = Relational.abcXyz(spark, dir)
      .as[(Long, Double, String, Long, Long, String)].collect().toSeq
    assert(out === Seq(
      (10L, 80.0, "A", 2L, 20L, "X"),
      (20L, 15.0, "B", 2L, 4L, "X"),
      (30L, 5.0, "C", 3L, 12L, "Z")))
  }

  test("percentileScorecard: rank family over a tiebroken order, per nation") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pctl").toString
    // nation 1: balances 10 < 20 = 20 < 40 (tie broken by custkey);
    // nation 2: a single customer (percent_rank degenerates to 0)
    Seq((1L, 10.0, 1), (2L, 20.0, 1), (3L, 20.0, 1), (4L, 40.0, 1),
        (9L, 7.0, 2))
      .map { case (ck, b, n) => (ck, s"c$ck", n, b, "BUILDING") }
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal",
        "c_mktsegment")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    val out = Relational.percentileScorecard(spark, dir)
      .as[(Long, Int, Double, Double, Double, Int)].collect().toSeq
    assert(out === Seq(
      (1L, 1, 10.0, 0.0, 0.25, 1),
      (2L, 1, 20.0, 0.333333, 0.5, 2),   // tie split by custkey
      (3L, 1, 20.0, 0.666667, 0.75, 3),
      (4L, 1, 40.0, 1.0, 1.0, 4),
      (9L, 2, 7.0, 0.0, 1.0, 1)))
  }

  test("smallQtyRevenue: only below-20%-of-part-average lineitems count") {
    val dir = java.nio.file.Files.createTempDirectory("graft-q17").toString
    Seq((1L, "p1", "Brand#A", "T", 1, 1.0), (2L, "p2", "Brand#B", "T", 1, 1.0))
      .toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice")
      .write.mode("overwrite").parquet(s"$dir/part.parquet")
    // part 1: quantities 1, 10, 10, 19 -> avg 10, threshold 2: only the
    // qty-1 row (price 70) qualifies -> 70/7 = 10 per year.
    // part 2: quantities 5, 5 -> threshold 1: nothing qualifies.
    Seq((1L, 1L, 1.0, 70.0), (2L, 1L, 10.0, 1.0), (3L, 1L, 10.0, 1.0),
        (4L, 1L, 19.0, 1.0), (5L, 2L, 5.0, 1.0), (6L, 2L, 5.0, 1.0))
      .map { case (ok, pk, q, px) => (ok, pk, 1L, 1, q, px, 0.0, 0.0,
        "N", "O", new java.sql.Timestamp(0L)) }
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val out = graft.operators.Relational.smallQtyRevenue(spark, dir)
      .as[(String, Long, Double)].collect().toSeq
    assert(out === Seq(("Brand#A", 1L, 10.0)))
  }

  test("largeVolumeOrders: HAVING threshold keeps only bulk orders, sorted by qty") {
    val dir = java.nio.file.Files.createTempDirectory("graft-q18").toString
    Seq((1L, "alice", 1, 0.0, "B"), (2L, "bob", 1, 0.0, "B"))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    Seq((10L, 1L, 100.0), (11L, 2L, 200.0), (12L, 2L, 50.0))
      .map { case (ok, ck, tp) => (ok, ck, "O", tp,
        new java.sql.Timestamp(0L), "1-URGENT") }
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    // order 10: 150+150=300 > 250; order 11: 260 > 250; order 12: 10
    Seq((10L, 150.0), (10L, 150.0), (11L, 260.0), (12L, 10.0))
      .zipWithIndex
      .map { case ((ok, q), i) => (ok, i.toLong, 1L, 1, q, 1.0, 0.0, 0.0,
        "N", "O", new java.sql.Timestamp(0L)) }
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val out = graft.operators.Relational.largeVolumeOrders(spark, dir)
      .as[(String, Long, Long, Double, Double)].collect().toSeq
    assert(out === Seq(
      ("alice", 1L, 10L, 100.0, 300.0),
      ("bob", 2L, 11L, 200.0, 260.0)))
  }

  test("groupMode: count ties resolve to the lexically first priority") {
    val dir = java.nio.file.Files.createTempDirectory("graft-mode").toString
    Seq((1L, "c1", 1, 0.0, "B"), (2L, "c2", 2, 0.0, "B"))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    // nation 1: URGENT x2, HIGH x1 -> mode URGENT, share 2/3
    // nation 2: HIGH x1, LOW x1 (tie) -> lexically first wins: 2-HIGH
    Seq((10L, 1L, "1-URGENT"), (11L, 1L, "1-URGENT"), (12L, 1L, "2-HIGH"),
        (13L, 2L, "2-HIGH"), (14L, 2L, "3-LOW"))
      .map { case (ok, ck, pr) => (ok, ck, "O", 1.0,
        new java.sql.Timestamp(0L), pr) }
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val out = graft.operators.Relational.groupMode(spark, dir)
      .as[(Int, String, Long, Long, Double)].collect().toSeq
    assert(out === Seq(
      (1, "1-URGENT", 2L, 3L, 0.666667),
      (2, "2-HIGH", 1L, 2L, 0.5)))
  }

  test("dominantShareSuppliers: only above-half-share suppliers survive") {
    val dir = java.nio.file.Files.createTempDirectory("graft-q20").toString
    Seq((1, "GERMANY", 1), (2, "FRANCE", 1)).toDF("n_nationkey", "n_name", "n_regionkey")
      .write.mode("overwrite").parquet(s"$dir/nation.parquet")
    Seq((1L, "sup1", 1, 0.0), (2L, "sup2", 2, 0.0))
      .toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
      .write.mode("overwrite").parquet(s"$dir/supplier.parquet")
    // part 1: sup1 ships 60 of 100 (dominant), sup2 40
    // part 2: sup1 50, sup2 50 -> exactly half is NOT > 0.5 -> neither
    Seq((1L, 1L, 1L, 60.0), (2L, 1L, 2L, 40.0),
        (3L, 2L, 1L, 50.0), (4L, 2L, 2L, 50.0))
      .map { case (ok, pk, sk, q) => (ok, pk, sk, 1, q, 1.0, 0.0, 0.0,
        "N", "O", new java.sql.Timestamp(0L)) }
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val out = graft.operators.Relational.dominantShareSuppliers(spark, dir, share = 0.5)
      .as[(Long, String, String, Long)].collect().toSeq
    assert(out === Seq((1L, "sup1", "GERMANY", 1L)))
  }

  test("supplierHhi: monopoly scores 10000, an even split scores 10000/n") {
    val dir = java.nio.file.Files.createTempDirectory("graft-hhi").toString
    Seq((1L, "TYPE_A"), (2L, "TYPE_B"))
      .map { case (pk, t) => (pk, s"part$pk", "b", t, 1, "c", 1.0, "x") }
      .toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size",
        "p_container", "p_retailprice", "p_comment")
      .write.mode("overwrite").parquet(s"$dir/part.parquet")
    // TYPE_A: supplier 1 only (monopoly). TYPE_B: 4 suppliers x 25.00
    val rows = Seq((1L, 1L, 1L, 100.0)) ++
      (1L to 4L).map(s => (10L + s, 2L, s, 25.0))
    rows.map { case (ok, pk, sk, price) => (ok, pk, sk, 1, 1.0, price,
        0.0, 0.0, "N", "O", new java.sql.Timestamp(0L)) }
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val out = graft.operators.Relational.supplierHhi(spark, dir)
      .as[(String, Long, Long, Double, Double)].collect().toSeq
    assert(out === Seq(
      ("TYPE_A", 1L, 10000L, 10000.0, 1.0),
      ("TYPE_B", 4L, 10000L, 2500.0, 0.25)))
  }

  test("cheapestSupplier: Q2 tie semantics keep every min-cost supplier") {
    val dir = java.nio.file.Files.createTempDirectory("graft-q2").toString
    Seq((1, "GERMANY", 1)).toDF("n_nationkey", "n_name", "n_regionkey")
      .write.mode("overwrite").parquet(s"$dir/nation.parquet")
    Seq((1L, "s1", 1, 0.0), (2L, "s2", 1, 0.0), (3L, "s3", 1, 0.0))
      .toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
      .write.mode("overwrite").parquet(s"$dir/supplier.parquet")
    // part 1: s1 sells 2 units for 10 (cost 5), s2 sells 1 for 8 (8)
    // part 2: s2 and s3 both at unit cost 3 -> BOTH rows return
    Seq((1L, 1L, 1L, 2.0, 10.0), (2L, 1L, 2L, 1.0, 8.0),
        (3L, 2L, 2L, 2.0, 6.0), (4L, 2L, 3L, 1.0, 3.0))
      .map { case (ok, pk, sk, q, px) => (ok, pk, sk, 1, q, px, 0.0, 0.0,
        "N", "O", new java.sql.Timestamp(0L)) }
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val out = graft.operators.Relational.cheapestSupplier(spark, dir)
      .as[(Long, Long, String, String, Long)].collect().toSeq
    assert(out === Seq(
      (1L, 1L, "s1", "GERMANY", 5000000L),
      (2L, 2L, "s2", "GERMANY", 3000000L),
      (2L, 3L, "s3", "GERMANY", 3000000L)))
  }
}
