package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Events, Relational, Similarity, TextAnalysis}

/** Round-12 third-wave invariants: the game-theoretic identities of
  * Shapley attribution (efficiency, null-player, symmetry) on a
  * constructed coalition lattice, keyness positivity/ordering, and
  * the Hurst ladder's degenerate-variance corner.
  */
class Round12OpsSpec3 extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  import spark.implicits._

  val sf001 = "/root/testdata/sf0.01"

  /** Events fixture where every 4-bit channel mask is an observed
    * coalition of `per` users and conversion is decided by `conv`.
    */
  private def coalitionDir(per: Int, conv: Int => Boolean): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-r12c").toString
    val chans = Seq("click", "error", "signup", "view")
    def ts(i: Long) = new java.sql.Timestamp(86400000L + i * 1000L)
    val rows = for {
      mask <- 0 until 16
      u <- 0 until per
      uid = mask * 1000L + u
      ev <- chans.zipWithIndex.collect {
        case (c, i) if (mask & (1 << i)) != 0 => c
      } ++ (if (conv(mask)) Seq("purchase") else Nil)
    } yield (uid * 100L + ev.hashCode.abs % 97, ts(uid), uid, ev, 1.0, "{}")
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  test("q466 Shapley: null players get 0, the sole causal channel gets v, efficiency holds in integers") {
    // conversion iff the user touched click -> click is the whole game
    val dir = coalitionDir(10, mask => (mask & 1) != 0)
    val out = Events.shapleyFunnel(spark, dir)
      .as[(String, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out("click")._1 === 24000000L)   // full credit: phi = v = 1.0
    assert(out("click")._2 === 1.0)
    Seq("error", "signup", "view").foreach(c => assert(out(c)._1 === 0L))
    // efficiency: sum phi = v(all channels) - v(empty) = 1 - 0
    assert(out.values.map(_._1).sum === 24000000L)
  }

  test("q466 Shapley: symmetric channels earn identical credit and efficiency holds on an interaction game") {
    // conversion iff the user touched BOTH click and view (bits 1 and 8):
    // click and view are symmetric players, error/signup null players
    val dir = coalitionDir(6, mask => (mask & 9) == 9)
    val out = Events.shapleyFunnel(spark, dir)
      .as[(String, Long, Double)].collect()
      .map(r => r._1 -> r._2).toMap
    assert(out("click") === out("view"))
    assert(out("error") === 0L && out("signup") === 0L)
    assert(out.values.sum === 24000000L) // v(1111)=1, v(0000)=0
  }

  test("q466 Shapley on sf0.01: four channels, efficiency telescopes against the coalition table") {
    val out = Events.shapleyFunnel(spark, sf001)
      .as[(String, Long, Double)].collect().toSeq
    assert(out.map(_._1).sorted === Seq("click", "error", "signup", "view"))
    out.foreach { case (_, x24, phi) =>
      assert(math.abs(phi - x24.toDouble / 2.4e7) === 0.0)
    }
  }

  test("q467 keyness: ranks are 1..5 per source, g2 positive and nonincreasing, counts integer-consistent") {
    val out = TextAnalysis.keynessTerms(spark, sf001)
      .as[(String, Int, String, Long, Long, Double)].collect().toSeq
    assert(out.nonEmpty)
    out.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.map(_._2).sorted === (1 to rows.size))
      val g2s = rows.sortBy(_._2).map(_._6)
      assert(g2s.zip(g2s.tail).forall { case (a, b) => a >= b })
    }
    out.foreach { r =>
      assert(r._4 >= 1L && r._5 >= 0L)
      assert(r._6 > 0.0) // overused-only candidates have positive G^2
    }
  }

  test("q468 Hurst: constant daily series yields NULL ladder (sigma = 0 everywhere), never a throw") {
    val dir = java.nio.file.Files.createTempDirectory("graft-r12h").toString
    def ts(d: Long) = new java.sql.Timestamp(d * 86400000L)
    (0L until 28L).flatMap(d => (1L to 3L).map(j =>
      (d * 100L + j, ts(d), 1L, "m", 1.0, "{}")))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = Events.hurstLadder(spark, dir)
      .as[(String, Option[Double], Option[Double], Option[Double], Option[Double])]
      .collect().toSeq
    assert(out.size === 1)
    assert(out.head._2.isEmpty && out.head._3.isEmpty &&
      out.head._4.isEmpty && out.head._5.isEmpty)
  }

  test("q469 periodogram: a pure 7-day cycle puts the dominant period at 7, exactly one dominant per type") {
    val dir = java.nio.file.Files.createTempDirectory("graft-r12p").toString
    def ts(d: Long) = new java.sql.Timestamp(d * 86400000L)
    (0L until 28L).flatMap(d => (1L to (d % 7) * 4L + 1L).map(j =>
      (d * 1000L + j, ts(d), 1L, "m", 1.0, "{}")))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = Events.periodogram(spark, dir)
      .as[(String, Int, Double, Boolean)].collect().toSeq
    assert(out.count(_._4) === 1)
    assert(out.find(_._4).get._2 === 7)
    val p7 = out.find(_._2 == 7).get._3
    out.filter(r => r._2 != 7 && r._2 != 14).foreach(r => assert(r._3 < p7 / 10))
  }

  test("q469 periodogram on sf0.01: full period grid per type, nonnegative power") {
    val out = Events.periodogram(spark, sf001)
      .as[(String, Int, Double, Boolean)].collect().toSeq
    assert(out.size === 40) // 5 types x 8 periods
    out.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.count(_._4) === 1)
      assert(rows.map(_._2).sorted === Seq(2, 3, 4, 5, 6, 7, 10, 14))
    }
    out.foreach(r => assert(r._3 >= 0.0))
  }

  test("q470 gap exponentiality: KS distance in [0,1], verdicts typed, lambda positive") {
    val out = Events.gapExponentiality(spark, sf001)
      .as[(String, Long, Double, Double, Double, String)].collect().toSeq
    assert(out.size === 5)
    out.foreach { r =>
      assert(r._2 > 0L)
      assert(r._3 > 0.0)
      assert(r._4 >= 0.0 && r._4 <= 1.0)
      assert(r._5 > 0.0)
      assert(Set("non_exponential", "exponential_ok", "degenerate").contains(r._6))
    }
  }

  test("q471 Davies-Bouldin: worst_other is never self, scatter and R positive, all labels present") {
    val out = Similarity.daviesBouldin(spark, sf001)
      .as[(Int, Long, Double, Int, Double)].collect().toSeq
    assert(out.size === 10)
    assert(out.map(_._1).sorted === (0 until 10))
    out.foreach { r =>
      assert(r._4 !== r._1)
      assert(r._3 > 0.0 && r._5 > 0.0)
      assert(r._2 > 0L)
    }
  }

  test("q472 SAX: a constant series symbolizes to all-'b' (one motif), ranks well-formed on sf0.01") {
    val dir = java.nio.file.Files.createTempDirectory("graft-r12s").toString
    def ts(d: Long) = new java.sql.Timestamp(d * 86400000L)
    (0L until 20L).flatMap(d => (1L to 4L).map(j =>
      (d * 100L + j, ts(d), 1L, "m", 1.0, "{}")))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val flat = Events.saxMotifs(spark, dir)
      .as[(String, Int, String, Long)].collect().toSeq
    assert(flat.size === 1)
    assert(flat.head._3 === "bbb")
    assert(flat.head._4 === 8L) // 10 frames -> 8 sliding 3-words
    val out = Events.saxMotifs(spark, sf001)
      .as[(String, Int, String, Long)].collect().toSeq
    out.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.map(_._2).sorted === (1 to rows.size))
      val occ = rows.sortBy(_._2).map(_._4)
      assert(occ.zip(occ.tail).forall { case (a, b) => a >= b })
    }
    out.foreach(r => assert(r._3.length === 3 &&
      r._3.forall("abcd".contains(_))))
  }

  test("q473 Simpson screen: a textbook composition flip is caught (strata positive, pooled negative)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-r12x").toString
    def ts(d: Long) = new java.sql.Timestamp(86400000L + d)
    // stratum LOW sells at small discounts with HIGH quantities,
    // stratum HIGH at large discounts with LOW quantities; within each,
    // quantity RISES with discount
    val rows = Seq(
      (1L, "LOW", 0.00, 50.0), (2L, "LOW", 0.01, 52.0),
      (3L, "LOW", 0.02, 54.0), (4L, "HIGH", 0.08, 5.0),
      (5L, "HIGH", 0.09, 7.0), (6L, "HIGH", 0.10, 9.0))
    rows.map { case (pk, _, disc, qty) =>
      (1000L + pk, pk, 1L, 1, qty, 100.0, disc, 0.0, "N", "O", ts(pk))
    }.toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
      "l_quantity", "l_extendedprice", "l_discount", "l_tax",
      "l_returnflag", "l_linestatus", "l_shipdate")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    rows.map { case (pk, t, _, _) => (pk, s"part$pk", t) }
      .toDF("p_partkey", "p_name", "p_type")
      .write.mode("overwrite").parquet(s"$dir/part.parquet")
    val out = Relational.simpsonScreen(spark, dir)
      .as[(String, Long, Option[Double], Option[Double], Option[Boolean])]
      .collect().toSeq
    assert(out.size === 2)
    out.foreach { r =>
      assert(r._3.exists(_ > 0.0))      // every stratum: positive slope
      assert(r._4.exists(_ < 0.0))      // pooled: negative slope
      assert(r._5.contains(true))       // and the screen says so
    }
  }

  test("q473 Simpson screen on sf0.01: one global slope, flags consistent with the sign product") {
    val out = Relational.simpsonScreen(spark, sf001)
      .as[(String, Long, Option[Double], Option[Double], Option[Boolean])]
      .collect().toSeq
    assert(out.nonEmpty)
    assert(out.map(_._4).distinct.size === 1)
    out.foreach { r =>
      (r._3, r._4) match {
        case (Some(s), Some(g)) => assert(r._5.contains(s * g < 0))
        case _ => assert(r._5.isEmpty || r._5.contains(false))
      }
    }
  }

  test("q474 DTW kernel: identity gives 0, distance <= L1, and a phase shift warps to near-zero") {
    import org.apache.spark.sql.functions._
    val a = Seq(0.0, 0.0, 0.0, 1.0, 2.0, 1.0, 0.0, 0.0, 0.0, 0.0)
    // the same pulse shifted 2 left, endpoints still flat — an
    // unconstrained warp aligns it exactly (endpoints must pair up)
    val b = a.drop(2) ++ Seq(0.0, 0.0)
    val df = Seq((a, a, b)).toDF("x", "same", "shifted")
    val r = df.select(
      graft.functions.DtwDistance.dtw(col("x"), col("same")).as("d0"),
      graft.functions.DtwDistance.dtw(col("x"), col("shifted")).as("ds"),
      aggregate(zip_with(col("x"), col("shifted"), (p, q) => abs(p - q)),
        lit(0.0), (acc, v) => acc + v).as("l1s"))
      .as[(Double, Double, Double)].head()
    assert(r._1 === 0.0)
    assert(r._2 < r._3)  // warping absorbs the shift; L1 cannot
    assert(r._2 === 0.0) // an unconstrained warp aligns the pulse exactly
  }

  test("q474 DTW profiles on sf0.01: 10 pairs, dtw <= l1 on every row, symmetric-free ordering") {
    val out = Events.dtwHourProfiles(spark, sf001)
      .as[(String, String, Double, Double)].collect().toSeq
    assert(out.size === 10)
    out.foreach { r =>
      assert(r._1 < r._2)
      assert(r._4 <= r._3 + 1e-9)
      assert(r._4 >= 0.0)
    }
  }

  test("q475 CMH: single row, verdict tracks the chi2 cut, OR positive on sf0.01") {
    val out = Relational.cmhPooled(spark, sf001)
      .as[(Long, Option[Double], Option[Double], String)].collect().toSeq
    assert(out.size === 1)
    val r = out.head
    assert(r._2.exists(_ > 0.0))
    (r._3, r._4) match {
      case (Some(c), v) =>
        assert(v === (if (c > 3.841459) "associated" else "no_association"))
      case (None, v) => assert(v === "degenerate")
    }
  }

  test("q476 Ljung-Box: constant series is degenerate (not a throw); sf0.01 gives 5 typed verdicts") {
    val flat = eventsDir((0L to 13L).map(d => (d, "m", 3L)))
    val out = Events.ljungBox(spark, flat)
      .as[(String, Long, Option[Double], Int, String)].collect().toSeq
    assert(out.size === 1)
    assert(out.head._3.isEmpty && out.head._5 === "degenerate")
    val real = Events.ljungBox(spark, sf001)
      .as[(String, Long, Option[Double], Int, String)].collect().toSeq
    assert(real.size === 5)
    real.foreach { r =>
      assert(r._4 === 7)
      r._3.foreach(q => assert(q >= 0.0))
      assert(Set("autocorrelated", "white_noise", "degenerate").contains(r._5))
    }
  }

  test("q477 Dickey-Fuller: constant series is degenerate; sf0.01 series give finite t-stats") {
    val flat = eventsDir((0L to 9L).map(d => (d, "m", 2L)))
    val out = Events.dickeyFuller(spark, flat)
      .as[(String, Long, Option[Double], Option[Double], String)].collect().toSeq
    assert(out.size === 1)
    assert(out.head._5 === "degenerate")
    val real = Events.dickeyFuller(spark, sf001)
      .as[(String, Long, Option[Double], Option[Double], String)].collect().toSeq
    assert(real.size === 5)
    real.foreach { r =>
      assert(r._2 >= 2L)
      assert(Set("stationary", "unit_root", "degenerate").contains(r._5))
    }
  }

  test("q478 burstiness: adaptation and mean_tf consistency (df2 <= df, mean_tf >= 1, adaptation in [0,1])") {
    val out = TextAnalysis.termBurstiness(spark, sf001)
      .as[(String, Long, Long, Double, Double)].collect().toSeq
    assert(out.size === 20)
    out.foreach { r =>
      assert(r._2 >= r._3)        // cf >= df
      assert(r._4 >= 1.0)         // mean tf at least 1 by construction
      assert(r._5 >= 0.0 && r._5 <= 1.0)
    }
    val ad = out.map(_._5)
    assert(ad.zip(ad.tail).forall { case (a, b) => a >= b })
  }

  test("q479 KN continuation: context counts bounded by cf and by the bigram-type total, probs in (0,1]") {
    val out = TextAnalysis.knContinuation(spark, sf001)
      .as[(String, Long, Long, Double, Double)].collect().toSeq
    assert(out.size === 20)
    out.foreach { r =>
      assert(r._3 >= 1L)
      assert(r._4 > 0.0 && r._4 <= 1.0)
      assert(r._5 > 0.0 && r._5 <= 1.0)
    }
    val pc = out.map(_._5)
    assert(pc.zip(pc.tail).forall { case (a, b) => a >= b })
  }

  test("q480 Juilland D: D in [0,1], dispersed bucket dominates clumped, 10+10 rows") {
    val out = TextAnalysis.juillandDispersion(spark, sf001)
      .as[(String, String, Long, Double)].collect().toSeq
    assert(out.size === 20)
    val byBucket = out.groupBy(_._1)
    assert(byBucket.keySet === Set("most_dispersed", "most_clumped"))
    out.foreach(r => assert(r._4 >= -1e-9 && r._4 <= 1.0 + 1e-9))
    val minDispersed = byBucket("most_dispersed").map(_._4).min
    val maxClumped = byBucket("most_clumped").map(_._4).max
    assert(minDispersed >= maxClumped)
  }

  test("q481 Burrows Delta: nonnegative, sorted ascending, distinct ordered pairs") {
    val out = TextAnalysis.burrowsDelta(spark, sf001)
      .as[(String, String, Double)].collect().toSeq
    assert(out.size === 10)
    out.foreach { r =>
      assert(r._1 < r._2)
      assert(r._3 >= 0.0)
    }
    val ds = out.map(_._3)
    assert(ds.zip(ds.tail).forall { case (a, b) => a <= b })
  }

  test("q482 Borda: score is exactly the sum of the three ranks, consensus fully ordered") {
    val out = Relational.bordaSuppliers(spark, sf001)
      .as[(Int, Long, Long, Int, Int, Int)].collect().toSeq
    assert(out.size === 20)
    assert(out.map(_._1) === (1 to 20))
    out.foreach { r =>
      assert(r._3 === r._4.toLong + r._5 + r._6)
      assert(r._4 >= 1 && r._5 >= 1 && r._6 >= 1)
    }
    val bs = out.map(_._3)
    assert(bs.zip(bs.tail).forall { case (a, b) => a <= b })
  }

  test("q483 bin advisor: 4 metrics, Sturges matches ceil(log2 n)+1, FD bins cover the range") {
    val out = graft.operators.Profile.histogramBinAdvisor(spark, sf001)
      .as[(String, Long, Double, Double, Option[Long], Double, Int)]
      .collect().toSeq
    assert(out.map(_._1).sorted === Seq("c_acctbal", "l_extendedprice",
      "l_quantity", "o_totalprice"))
    out.foreach { r =>
      val expectSturges =
        (64 - java.lang.Long.numberOfLeadingZeros(r._2 - 1)) + 1
      assert(r._7 === expectSturges)
      assert(r._3 >= 0.0 && r._4 >= 0.0 && r._6 >= 0.0)
      r._5.foreach(b => assert(b >= 1L))
    }
  }

  test("q484 Theil: shares sum to 1 and the between+within decomposition recomposes the total") {
    val out = graft.operators.Profile.theilDecomposition(spark, sf001)
      .as[(String, Long, Double, Double, Double, Double, Double)]
      .collect().toSeq
    assert(out.size === 25)
    assert(math.abs(out.map(_._3).sum - 1.0) < 1e-3)
    val total = out.map(_._7).sum // per-nation contributions to T_total
    val recomposed = out.map(_._5).sum + out.map(_._6).sum
    assert(math.abs(recomposed - total) < 1e-3)
    out.foreach(r => assert(r._4 >= -1e-6)) // within-Theil nonnegative
  }

  test("q485 source ablation: one row per train source, constant baseline, delta consistency") {
    val out = TextAnalysis.sourceAblationValue(spark, sf001)
      .as[(String, Long, Long, Double, Double, Double)].collect().toSeq
    assert(out.nonEmpty)
    assert(out.map(_._5).distinct.size === 1) // acc_full constant
    out.foreach { r =>
      assert(r._3 <= r._2)
      assert(r._4 >= 0.0 && r._4 <= 1.0)
      // delta tracks the rounded difference to rounding noise
      assert(math.abs(r._6 - (r._4 - r._5)) < 2e-6)
    }
  }

  test("q486 Jarque-Bera: constant series degenerate; five graded verdicts with finite moments") {
    val flat = eventsDir((0L to 13L).map(d => (d, "m", 3L)))
    val out = Events.jarqueBera(spark, flat)
      .as[(String, Long, Option[Double], Option[Double], Option[Double], String)]
      .collect().toSeq
    assert(out.head._6 === "degenerate")
    val real = Events.jarqueBera(spark, sf001)
      .as[(String, Long, Option[Double], Option[Double], Option[Double], String)]
      .collect().toSeq
    assert(real.size === 5)
    real.foreach { r =>
      r._4.foreach(k => assert(k > 0.0))   // kurtosis positive
      r._5.foreach(j => assert(j >= 0.0))  // JB nonnegative
      assert(Set("non_normal", "normal_ok", "degenerate").contains(r._6))
    }
  }

  test("q487 permutation entropy: monotone series has H=0 and one pattern; sf0.01 in [0,1]") {
    val mono = eventsDir((0L to 11L).map(d => (d, "m", d + 1L)))
    val out = Events.permutationEntropy(spark, mono)
      .as[(String, Long, Long, Double, String)].collect().toSeq
    assert(out.size === 1)
    assert(out.head._3 === 1L)          // one ordinal pattern only
    assert(out.head._4 === 0.0)         // zero entropy
    assert(out.head._5 === "012")       // strictly increasing triple
    val real = Events.permutationEntropy(spark, sf001)
      .as[(String, Long, Long, Double, String)].collect().toSeq
    assert(real.size === 5)
    real.foreach { r =>
      assert(r._4 >= 0.0 && r._4 <= 1.0 + 1e-9)
      assert(r._3 >= 1L && r._3 <= 6L)
      assert(r._5.length === 3)
    }
  }

  test("q488 sample entropy: B <= A <= pairs, SampEn nonnegative when defined") {
    val out = Events.sampleEntropy(spark, sf001)
      .as[(String, Long, Long, Long, Option[Double])].collect().toSeq
    assert(out.size === 5)
    out.foreach { r =>
      assert(r._4 <= r._3 && r._3 <= r._2)
      r._5.foreach(se => assert(se >= 0.0))
    }
  }

  test("q489 UCB1: exactly one next_pick, ucb >= mean, under-sampled arms get bigger bonuses") {
    val out = graft.operators.Curation.ucbAllocation(spark, sf001)
      .as[(String, Long, Long, Double, Double, Boolean)].collect().toSeq
    assert(out.size === 20)
    assert(out.count(_._6) === 1)
    out.foreach { r =>
      assert(r._3 <= r._2)
      assert(r._5 >= r._4) // optimism bonus is nonnegative
    }
    val bonus = out.map(r => (r._2, r._5 - r._4)).sortBy(_._1)
    bonus.zip(bonus.tail).foreach { case ((n1, b1), (n2, b2)) =>
      if (n1 < n2) assert(b1 >= b2 - 1e-6) // bonus decreases with pulls
    }
  }

  test("q490 k-dist advisor: deciles nondecreasing, exactly one knee, distances in [0,2]") {
    val out = Similarity.kdistEpsAdvisor(spark, sf001)
      .as[(Int, Double, Option[Double], Boolean)].collect().toSeq
    assert(out.size === 10)
    assert(out.map(_._1) === (1 to 10))
    val ks = out.map(_._2)
    assert(ks.zip(ks.tail).forall { case (a, b) => a <= b })
    out.foreach(r => assert(r._2 >= 0.0 && r._2 <= 2.0))
    assert(out.count(_._4) === 1)
    // endpoints have no curvature (lag/lead undefined there)
    assert(out.head._3.isEmpty && out.last._3.isEmpty)
  }

  test("q491 TAR walker: roundtrip exact, corrupt checksum detected, truncations rejected") {
    import graft.sources.Multimodal.{encodeTar, sniffTar}
    val payload = "hello tar world".getBytes("US-ASCII")
    val t = encodeTar(payload)
    val n = payload.length
    val k = n % 4 + 1
    val expect = (0 until k).map(i => 12L + (n + 11 * i) % 40).sum
    assert(sniffTar(t) === Some((k, expect, true)))
    // flip a data... header byte inside the mode field: checksum must fail
    val corrupt = t.clone(); corrupt(101) = '9'.toByte
    assert(sniffTar(corrupt).exists(!_._3))
    // truncate before the closing zero blocks: malformed, not a crash
    assert(sniffTar(t.take(t.length - 1024)).isEmpty)
    assert(sniffTar(t.take(511)).isEmpty)
    // magic destroyed: rejected outright
    val nomagic = t.clone(); nomagic(257) = 'X'.toByte
    assert(sniffTar(nomagic).isEmpty)
  }

  test("q492 Haar ladder: energies integer-exact, shares sum to 1 per type, level counts halve") {
    val out = Events.haarEnergyLadder(spark, sf001)
      .as[(String, Int, Long, Long, Option[Double])].collect().toSeq
    assert(out.size === 15)
    out.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.map(_._2).sorted === Seq(1, 2, 3))
      val byLvl = rows.sortBy(_._2).map(_._3)
      // each level has about half the previous level's pairs
      byLvl.zip(byLvl.tail).foreach { case (a, b) => assert(b <= a / 2 + 1) }
      val shareSum = rows.flatMap(_._5).sum
      assert(math.abs(shareSum - 1.0) < 1e-5)
    }
    out.foreach(r => assert(r._4 >= 0L))
  }

  test("q493 Weibull gaps: shape/scale positive, verdicts typed, five types") {
    val out = Events.weibullGapFit(spark, sf001)
      .as[(String, Long, Option[Double], Option[Double], String)].collect().toSeq
    assert(out.size === 5)
    out.foreach { r =>
      assert(r._2 > 0L)
      r._3.foreach(k => assert(k > 0.0))
      r._4.foreach(s => assert(s > 0.0))
      assert(Set("bursty", "poisson_like", "regular", "degenerate").contains(r._5))
    }
  }

  test("q494 Hill ladder: diversity orders are decreasing (0D >= 1D >= 2D), evenness in (0,1]") {
    val out = Relational.hillDiversity(spark, sf001)
      .as[(String, Long, Double, Double, Double)].collect().toSeq
    assert(out.size === 25)
    out.foreach { r =>
      assert(r._2.toDouble + 1e-6 >= r._3)   // 0D >= 1D
      assert(r._3 + 1e-3 >= r._4)            // 1D >= 2D (rounded slack)
      assert(r._5 > 0.0 && r._5 <= 1.0 + 1e-6)
    }
  }

  test("q495 cost sweep: exactly one optimum, FP monotone down / FN monotone up in the threshold") {
    val out = TextAnalysis.costThresholdSweep(spark, sf001)
      .as[(Int, Double, Long, Long, Long, Double, Boolean)].collect().toSeq
    assert(out.size === 10)
    assert(out.count(_._7) === 1)
    val byT = out.sortBy(_._2)
    val fps = byT.map(_._3); val fns = byT.map(_._4)
    assert(fps.zip(fps.tail).forall { case (a, b) => a >= b })
    assert(fns.zip(fns.tail).forall { case (a, b) => a <= b })
    out.foreach(r => assert(r._5 === r._3 + 5 * r._4))
  }

  /** events-only fixture dir shared by the time-series corners. */
  private def eventsDir(cells: Seq[(Long, String, Long)]): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-r12e").toString
    def ts(d: Long) = new java.sql.Timestamp(d * 86400000L)
    cells.zipWithIndex.flatMap { case ((d, typ, n), i) =>
      (1L to n).map(j => (i * 10000L + j, ts(d), 1L, typ, 1.0, "{}"))
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  test("q468 Hurst on sf0.01: positive R/S ladder and a finite exponent per type") {
    val out = Events.hurstLadder(spark, sf001)
      .as[(String, Option[Double], Option[Double], Option[Double], Option[Double])]
      .collect().toSeq
    assert(out.size === 5)
    out.foreach { r =>
      Seq(r._2, r._3, r._4).foreach(v => assert(v.exists(_ > 0.0)))
      assert(r._5.exists(h => !h.isNaN && h > -1.0 && h < 2.0))
    }
  }
}
