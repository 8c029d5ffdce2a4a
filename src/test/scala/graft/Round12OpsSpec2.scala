package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Events, Relational, Similarity, TextAnalysis}

/** Round-12 second-wave invariants: the degenerate corners the sf0.01
  * oracle grade doesn't exercise — constant series through PACF /
  * Granger / Page–Hinkley, zero-alert Fleiss, sketch guarantees
  * (count-min never undercounts; AMS exact on a one-token corpus),
  * RBO's closed form on identical lists, and Yuen at perfect
  * symmetry.
  */
class Round12OpsSpec2 extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  import spark.implicits._

  val sf0001 = "/root/testdata/sf0.001"
  val sf001 = "/root/testdata/sf0.01"

  /** events-only fixture dir: (day, type, count-of-unit-events). */
  private def eventsDir(cells: Seq[(Long, String, Long)]): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-r12").toString
    def ts(d: Long) = new java.sql.Timestamp(d * 86400000L)
    cells.zipWithIndex.flatMap { case ((d, typ, n), i) =>
      (1L to n).map(j =>
        (i * 10000L + j, ts(d), 1L, typ, 1.0, "{}"))
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  test("q429 PACF: constant series yields NULL rho/pacf, never a throw; AR-ish series fills all 4 lags") {
    val flat = eventsDir((0L to 9L).map(d => (d, "m", 5L)))
    val out = Events.pacfDaily(spark, flat)
      .as[(String, Int, Option[Double], Option[Double])].collect().toSeq
    assert(out.map(_._2) === Seq(1, 2, 3, 4))
    // zero variance -> g0 = 0 -> every rho and pacf NULL on both engines
    assert(out.forall(r => r._3.isEmpty && r._4.isEmpty))
    val real = Events.pacfDaily(spark, sf0001).collect()
    assert(real.length > 0 && real.length % 4 === 0)
  }

  test("q430 Granger: constant effect series is inconclusive, not a crash; verdicts only from the fixed vocabulary") {
    val dir = eventsDir((0L to 9L).flatMap(d =>
      Seq((d, "flat", 5L), (d, "vary", (d % 3) + 1))))
    val out = Events.grangerLag1(spark, dir)
      .select("cause", "effect", "verdict")
      .as[(String, String, String)].collect().toSeq
    assert(out.map(r => (r._1, r._2)).toSet ===
      Set(("flat", "vary"), ("vary", "flat")))
    // effect = constant -> rss_u = 0 -> F NULL -> 'inconclusive'
    assert(out.find(_._2 === "flat").get._3 === "inconclusive")
    val vocab = Set("inconclusive", "granger_causal", "not_significant")
    assert(Events.grangerLag1(spark, sf0001)
      .select("verdict").as[String].collect().forall(vocab))
  }

  test("q431 scorecard: a perfectly 7-periodic series has zero seasonal-naive MAE and NULL MASE") {
    val dir = eventsDir((0L to 27L).map(d => (d, "m", (d % 7) + 1)))
    val row = Events.forecastScorecard(spark, dir)
      .as[(String, Long, Double, Double, Double, Double, Option[Double])]
      .collect().head
    assert(row._2 === 21L)          // 28 days - 7 warmup
    assert(row._4 === 0.0)          // mae_snaive7
    assert(row._7.isEmpty)          // MASE = x/0 -> NULL, not a throw
    assert(row._3 > 0.0)            // naive-1 does err on a periodic series
  }

  test("q432 Page-Hinkley: constant series never alarms; a level shift does") {
    val flat = eventsDir((0L to 9L).map(d => (d, "m", 5L)))
    val f = Events.pageHinkley(spark, flat)
      .as[(String, Long, Double, Double, Option[Long], Boolean)]
      .collect().head
    assert(f._3 === 0.0 && f._4 === 0.0 && f._5.isEmpty && !f._6)
    val shift = eventsDir((0L to 19L).map(d =>
      (d, "m", if (d < 10) 3L else 30L)))
    val s = Events.pageHinkley(spark, shift)
      .as[(String, Long, Double, Double, Option[Long], Boolean)]
      .collect().head
    assert(s._6 && s._5.nonEmpty && s._5.get >= 10L)
  }

  test("q434 Fleiss: kappa stays in [-1, 1] on real data and the integer identities hold") {
    val out = Events.fleissDetectors(spark, sf001)
      .as[(String, Long, Long, Double, Double, Option[Double])]
      .collect().toSeq
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r._3 >= 0 && r._3 <= 3 * r._2) // alerts within rater budget
      assert(r._4 >= 0.0 && r._4 <= 1.0)    // p_bar is a probability
      assert(r._5 >= 0.5 && r._5 <= 1.0)    // binary pe is >= 1/2
      r._6.foreach(k => assert(k >= -1.0 && k <= 1.0))
    }
  }

  test("q426 count-min NEVER undercounts; q427 AMS is exact on a one-token corpus") {
    val cm = TextAnalysis.countMinAudit(spark, sf0001)
      .select("overcount").as[Long].collect()
    assert(cm.nonEmpty && cm.forall(_ >= 0L))
    // one distinct token: F2 = n^2 and every sign sketch gives Z = +-n
    val dir = java.nio.file.Files.createTempDirectory("graft-amsone").toString
    Seq((1L, "tok tok tok", "en", "s", 11L), (2L, "tok", "en", "s", 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val ams = TextAnalysis.amsF2Audit(spark, dir)
      .as[(Int, Long, Long, Long, Double)].collect().toSeq
    assert(ams.size === 8)
    ams.foreach { r =>
      assert(math.abs(r._2) === 4L)  // |Z| = total occurrences
      assert(r._3 === 16L && r._4 === 16L && r._5 === 0.0)
    }
  }

  test("q428 bloom: measured FPR and fill are probabilities; bits set bounded by k * n_train") {
    val r = TextAnalysis.bloomFprAudit(spark, sf0001)
      .as[(Long, Long, Double, Long, Long, Double, Double)].collect().head
    assert(r._2 <= math.min(65536L, 4L * r._1))
    assert(r._3 >= 0.0 && r._3 <= 1.0)
    assert(r._5 <= r._4)
    assert(r._6 >= 0.0 && r._6 <= 1.0 && r._7 >= 0.0 && r._7 <= 1.0)
  }

  test("q436 RBO: identical consecutive lists give the closed-form maximum; bounds hold on real data") {
    // duplicate every week's lineitem into week+1? cheaper: real data
    // bounds + the closed form on a 2-week synthetic with equal lists
    val out = Relational.leaderboardRbo(spark, sf0001)
      .as[(Long, Long, Double)].collect().toSeq
    assert(out.nonEmpty)
    out.foreach { r => assert(r._3 >= 0.0 && r._3 <= 1.0) }
    val dir = java.nio.file.Files.createTempDirectory("graft-rbo").toString
    def ts(d: Long) = new java.sql.Timestamp(d * 86400000L)
    // two weeks, identical 3-part leaderboards (days 0 and 7)
    Seq.tabulate(3)(i => (i.toLong + 1, 300.0 - i * 10)).flatMap {
      case (pk, price) => Seq((pk, price, 0L), (pk, price, 7L))
    }.zipWithIndex.map { case ((pk, price, day), i) =>
      (i.toLong + 1, pk, 1L, 1, 1.0, price, 0.0, 0.0, "N", "O", ts(day))
    }.toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val rbo = Relational.leaderboardRbo(spark, dir, topK = 3, p = 0.9)
      .as[(Long, Long, Double)].collect()
    assert(rbo.length === 1 && rbo.head._2 === 3L)
    // closed form for identical depth-3 lists: (1-p) * sum p^{d-1}
    val expect = BigDecimal(0.1 * (1.0 + 0.9 + 0.81))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(math.abs(rbo.head._3 - expect) < 2e-6)
  }

  test("q438 Yuen: mirrored halves give t = 0 and 'stable'") {
    val dir = eventsDir(
      (0L to 9L).map(d => (d, "m", (d % 5) + 1)) ++
        (10L to 19L).map(d => (d, "m", (d % 5) + 1)))
    val r = Events.yuenTrimmedTest(spark, dir)
      .as[(String, Long, Long, Double, Double, Option[Double], String)]
      .collect().head
    assert(r._2 === r._3)
    assert(r._4 === r._5)
    assert(r._6.contains(0.0) && r._7 === "stable")
  }

  test("SignHamming codegen kernel equals the composable zip_with form and NULLs on length mismatch") {
    val emb = Tables.load(spark, sf0001, "embeddings").limit(50)
    val pairs = emb.select(col("vec_id").as("a_id"),
        col("embedding").as("a_emb"))
      .crossJoin(emb.select(col("vec_id").as("b_id"),
        col("embedding").as("b_emb")))
      .filter(col("a_id") < col("b_id"))
    val composable = aggregate(
      zip_with(col("a_emb"), col("b_emb"),
        (x, y) => ((x > 0) =!= (y > 0)).cast("int")),
      lit(0), (acc, v) => acc + v)
    val diff = pairs.select(
        graft.functions.SignHamming.signHamming(col("a_emb"),
          col("b_emb")).as("fused"),
        composable.as("comp"))
      .filter(col("fused") =!= col("comp"))
    assert(diff.isEmpty)
    // length mismatch -> NULL, not a truncated prefix distance
    val mism = Seq((Seq(1.0f, -2.0f), Seq(1.0f)))
      .toDF("a", "b")
      .select(graft.functions.SignHamming.signHamming(col("a"),
        col("b")).as("hd"))
      .as[Option[Int]].collect()
    assert(mism.head.isEmpty)
  }

  test("q445 b-bit minhash: bit agreement dominates full agreement; both estimates bounded") {
    val out = graft.operators.Dedup.bbitMinhashAudit(spark, sf001)
      .as[(Long, Long, Long, Long, Double, Double, Double, Double, Double)]
      .collect().toSeq
    assert(out.nonEmpty)
    out.foreach { r =>
      // a full-slot agreement IS a bit agreement: n_bit >= n_full
      assert(r._4 >= r._3)
      assert(r._6 >= 0.0 && r._6 <= 1.0) // est_full in [0,1]
      assert(r._7 >= 0.0 && r._7 <= 1.0) // est_1bit clamped to [0,1]
    }
  }

  test("q446 dup-skew KL: a dup-free source has KL exactly 0; kept totals never exceed raw") {
    val out = TextAnalysis.dupSkewKl(spark, sf001)
      .as[(String, Long, Long, Double, String, Double)].collect().toSeq
    assert(out.nonEmpty)
    out.foreach(r => assert(r._3 <= r._2))
    // synthetic: one source all-unique (KL = 0), one source one dup pair
    val dir = java.nio.file.Files.createTempDirectory("graft-dkl").toString
    Seq((1L, "alpha beta gamma", "en", "pure", 16L),
        (2L, "delta epsilon zeta", "en", "pure", 18L),
        (3L, "spam spam spam", "en", "dupy", 14L),
        (4L, "spam spam spam", "en", "dupy", 14L),
        (5L, "real words here", "en", "dupy", 15L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val synth = TextAnalysis.dupSkewKl(spark, dir)
      .as[(String, Long, Long, Double, String, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(synth("pure")._4 === 0.0)     // no dups -> identical dists
    assert(synth("dupy")._4 > 0.0)       // dup removal shifts the dist
    assert(synth("dupy")._5 === "spam")  // and 'spam' is the top skew
  }

  test("q447 matrix profile: motif/discord indices are valid windows, motif_d2 <= discord_d2, degenerates excluded") {
    val out = graft.operators.Events.matrixProfile(spark, sf001)
      .collect().toSeq
    assert(out.nonEmpty)
    out.foreach { r =>
      val nWin = r.getLong(1)
      val motifD2 = r.getDouble(5)
      val discordD2 = r.getDouble(7)
      assert(nWin > 0)
      assert(motifD2 >= 0.0)
      // the discord's NN distance is the max of per-window minima;
      // the motif distance is the global min — ordering is forced
      assert(motifD2 <= discordD2)
      assert(math.abs(r.getLong(3) - r.getLong(4)) >= 7) // exclusion zone
    }
  }

  test("q448 energy distance: identical halves give 0; real data stays nonnegative") {
    val out = graft.operators.Events.energyDistance(spark, sf001)
      .as[(String, Long, Long, Double, Double)].collect().toSeq
    assert(out.nonEmpty)
    out.foreach(r => assert(r._4 >= 0.0 && r._5 >= 0.0))
    // mirrored halves (the q438 fixture): e = 0 exactly
    val dir = eventsDir(
      (0L to 9L).map(d => (d, "m", (d % 5) + 1)) ++
        (10L to 19L).map(d => (d, "m", (d % 5) + 1)))
    val e = graft.operators.Events.energyDistance(spark, dir)
      .as[(String, Long, Long, Double, Double)].collect().head
    assert(e._4 === 0.0 && e._5 === 0.0)
  }

  test("q449 triplet violations: rates are probabilities and violation counts match the margin rule") {
    val out = graft.operators.Similarity.tripletViolations(spark, sf001)
      .as[(Int, Long, Long, Double, Double)].collect().toSeq
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r._3 <= r._2)
      assert(r._4 >= 0.0 && r._4 <= 1.0)
      // mean gap below -margin forces violations; above +1 impossible
      assert(r._5 >= -2.0 && r._5 <= 2.0)
    }
  }

  test("q450 STL anomalies: thresholds are 3*1.4826*MAD and a clean seasonal series flags nothing") {
    val out = graft.operators.Events.stlAnomalies(spark, sf001).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val mad = r.getDouble(2); val th = r.getDouble(3)
      assert(math.abs(th - BigDecimal(3.0 * 1.4826 * mad)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
      assert(r.getLong(4) <= r.getLong(1)) // anomalies <= days
    }
    // perfectly 7-periodic series: residuals constant 0 -> no flags
    val dir = eventsDir((0L to 27L).map(d => (d, "m", (d % 7) + 1)))
    val clean = graft.operators.Events.stlAnomalies(spark, dir).collect()
    assert(clean.head.getLong(4) === 0L)
  }

  test("q451 partial correlation: symmetric in (x,y), self-consistent triple count, values in [-1,1]") {
    val out = graft.operators.Events.partialCorrScreen(spark, sf001)
      .as[(String, String, String, Option[Double], Option[Double], Boolean)]
      .collect().toSeq
    // 5 types -> 5*4 ordered (x,y) pairs * 3 z's = 60 triples
    assert(out.size === 60)
    out.foreach { r =>
      r._4.foreach(v => assert(v >= -1.0 && v <= 1.0))
      r._5.foreach(v => assert(v >= -1.0001 && v <= 1.0001))
    }
    // r_xy.z is symmetric under swapping x and y
    val byKey = out.map(r => ((r._1, r._2, r._3), r._5)).toMap
    out.foreach { r =>
      assert(byKey((r._2, r._1, r._3)) === r._5)
    }
  }

  test("q459 price/volume/mix: the three effects sum to delta-rev exactly (resid = 0 on every row)") {
    val out = graft.operators.Relational.priceVolumeMix(spark, sf001)
      .as[(String, Long, Long, Double, Double, Double, Double, Double)]
      .collect().toSeq
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r._8 === 0.0) // the algebraic identity, surfaced
      // and the rounded effects recompose delta-rev to rounding noise
      assert(math.abs(r._4 - (r._5 + r._6 + r._7)) < 1e-4)
    }
  }

  test("q425 local scaling: every query keeps exactly k re-ranked neighbors and recall identities hold") {
    val out = Similarity.localScalingRerank(spark, sf0001)
      .as[(Long, Long, Long, Long, Long, Double, Double, Double)]
      .collect().toSeq
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r._4 <= r._2 * 5 && r._5 <= r._2 * 5) // hits within k budget
      assert(r._3 <= r._2)                         // changed <= queries
      assert(math.abs((r._7 - r._6) - r._8) < 2e-6) // delta identity
    }
  }
}
