package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Curation, Dedup, TextAnalysis}

/** Round-8 operators: temperature-scaled (alpha) mixture sampling
  * (q94), MAD robust outlier screen (q95), Flesch–Kincaid readability
  * (q96), prefix-filtered exact set-similarity join (q97), and the
  * Unicode script/charset profile (q98).
  */
class RobustOpsSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark
  import spark.implicits._

  val sf0001 = "/root/testdata/sf0.001"

  /** Stage a crafted documents table with controlled lang + n_chars. */
  private def docsDir(rows: Seq[(Long, String, String, Long)]): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-rdocs").toString
    rows.map { case (id, text, lang, n) => (id, text, lang, "unit", n) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("qualityRetentionCurve: zero cutoff keeps all; retention falls and survivor quality rises with the cutoff") {
    val out = Curation.qualityRetentionCurve(spark, "/root/testdata/sf0.001")
      .as[(Double, Long, Long, Double, Double, Option[Double])]
      .collect().toSeq
    assert(out.map(_._1) === out.map(_._1).sorted)
    // threshold 0.0 keeps the whole corpus
    assert(out.head._1 === 0.0 && out.head._4 === 1.0 && out.head._5 === 1.0)
    // retention is non-increasing in the cutoff (docs and tokens)
    assert(out.map(-_._2) === out.map(-_._2).sorted)
    assert(out.map(-_._3) === out.map(-_._3).sorted)
    // mean survivor quality is non-decreasing where defined
    val means = out.flatMap(_._6)
    assert(means === means.sorted)
    // empty rungs stay visible with null mean
    assert(out.forall(r => r._6.isDefined == (r._2 > 0)))
  }

  test("greedyBudgetSelect: fractional knapsack — prefix full, one fractional closer, rest zero") {
    val out = Curation.greedyBudgetSelect(spark, "/root/testdata/sf0.001",
        budgetTokens = 20000L)
      .as[(String, Long, Long, Double, Long, Long, Double)].collect().toSeq
    assert(out.nonEmpty)
    // greedy order: density non-increasing, ties by source
    assert(out.map(-_._4) === out.map(-_._4).sorted)
    // cum_before is the running sum of src_tokens in greedy order
    val cums = out.map(_._3).scanLeft(0L)(_ + _).init
    assert(out.map(_._5) === cums)
    // takes: full admits, then at most ONE fractional, then zeros
    val fracs = out.map(r => r._6.toDouble / r._3)
    val firstPartial = fracs.indexWhere(f => f > 0.0 && f < 1.0)
    if (firstPartial >= 0) {
      assert(fracs.take(firstPartial).forall(_ == 1.0))
      assert(fracs.drop(firstPartial + 1).forall(_ == 0.0))
    }
    // the budget is exactly spent (or the whole corpus admitted)
    val spent = out.map(_._6).sum
    assert(spent === math.min(20000L, out.map(_._3).sum))
    assert(out.forall(r => r._7 >= 0.0 && r._7 <= 1.0))
  }

  test("alphaMixSample: sqrt shares, floor quotas, availability cap binds") {
    // en:16 docs, de:1 doc; alpha=0.5 -> weights 4.0 / 1.0, shares .8/.2
    // budget 10 -> quota en = floor(10*.8) = 8, de = min(1, 2) = 1 (cap)
    val rows = (1L to 16L).map(i => (i, s"doc $i", "en", 10L)) :+
      (17L, "doc 17", "de", 10L)
    val dir = docsDir(rows)
    val out = Curation.alphaMixSample(spark, dir, budget = 10)
      .select($"lang", $"n_docs", $"quota", $"pick", $"doc_id")
      .as[(String, Long, Int, Int, Long)].collect().toSeq
    assert(out.count(_._1 == "en") === 8 && out.count(_._1 == "de") === 1)
    assert(out.filter(_._1 == "en").forall(r => r._2 === 16L && r._3 === 8))
    assert(out.filter(_._1 == "de").forall(r => r._2 === 1L && r._3 === 1))
    // deterministic: a rerun picks the identical documents
    val again = Curation.alphaMixSample(spark, dir, budget = 10)
      .select($"lang", $"n_docs", $"quota", $"pick", $"doc_id")
      .as[(String, Long, Int, Int, Long)].collect().toSeq
    assert(again === out)
  }

  test("madOutliers: hand medians, MAD z flags the spike, MAD=0 degenerates to null") {
    // en lengths [8,9,10,11,1000]: med 10, |dev| sorted [0,1,1,2,990]
    // -> mad 1; z(1000) = .6745*990 = 667.755 (outlier), z(8) = -1.349
    // de lengths [5,5,5]: mad 0 -> z NULL, not flagged
    val dir = docsDir(Seq(
      (1L, "a", "en", 8L), (2L, "a", "en", 9L), (3L, "a", "en", 10L),
      (4L, "a", "en", 11L), (5L, "a", "en", 1000L),
      (6L, "a", "de", 5L), (7L, "a", "de", 5L), (8L, "a", "de", 5L)))
    val out = Curation.madOutliers(spark, dir)
      .select($"doc_id", $"med", $"mad", $"robust_z", $"is_outlier")
      .as[(Long, Double, Double, Option[Double], Int)].collect()
      .map(r => r._1 -> r).toMap
    assert(out(5L) === ((5L, 10.0, 1.0, Some(667.755), 1)))
    assert(out(1L) === ((1L, 10.0, 1.0, Some(-1.349), 0)))
    assert(out(3L) === ((3L, 10.0, 1.0, Some(0.0), 0)))
    assert(out(6L) === ((6L, 5.0, 0.0, None, 0)))
  }

  test("readability: hand-counted sentences/words/syllables; empty doc is 'empty'") {
    val dir = docsDir(Seq(
      (1L, "Hello world. This is fine! Ok?", "en", 30L),
      (2L, "", "en", 0L)))
    val out = TextAnalysis.readability(spark, dir)
      .select($"doc_id", $"n_sentences", $"n_words", $"n_syllables",
        $"fk_grade", $"band")
      .as[(Long, Int, Int, Int, Option[Double], String)].collect()
      .map(r => r._1 -> r).toMap
    val (_, s, w, syl, fk, band) = out(1L)
    assert(s === 3 && w === 6 && syl === 8)
    // 0.39*(6/3) + 11.8*(8/6) - 15.59 = 0.923333...
    assert(math.abs(fk.get - 0.923333) < 1e-6 && band === "easy")
    assert(out(2L)._5.isEmpty && out(2L)._6 === "empty")
  }

  test("prefixJaccardPairs: exact dup found, sub-threshold shared-prefix pair dropped") {
    val dir = docsDir(Seq(
      (1L, "a b c d e f", "en", 11L),
      (2L, "a b c d e f", "en", 11L), // identical -> jaccard 1.0
      (3L, "a b c x y z", "en", 11L))) // shares 'a b c' only -> 1/7 < 0.6
    val out = Dedup.prefixJaccardPairs(spark, dir)
      .select($"doc_a", $"doc_b", $"n_shared", $"jaccard")
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(out === Seq((1L, 2L, 4L, 1.0)))
  }

  test("weightedJaccardPairs: repetition-inflated doc scores below its set-Jaccard") {
    // doc 2 repeats doc 1's tokens unevenly: SET overlap is total but
    // the multiset form divides by the inflated max-sum
    val dir = docsDir(Seq(
      (1L, "alpha beta gamma delta epsilon zeta", "en", 35L),
      (2L, "alpha alpha alpha beta gamma delta epsilon zeta", "en", 47L),
      (3L, "alpha beta gamma delta epsilon zeta", "en", 35L)))
    val out = Dedup.weightedJaccardPairs(spark, dir)
      .select($"doc_a", $"doc_b", $"min_sum", $"w_jaccard")
      .as[(Long, Long, Long, Double)].collect().toSeq
    // 1-3 identical: J_w = 1; 1-2 and 2-3: min-sum 6 vs union 6+8-6=8
    assert(out === Seq(
      (1L, 2L, 6L, 0.75),
      (1L, 3L, 6L, 1.0),
      (2L, 3L, 6L, 0.75)))
  }

  test("prefixJaccardPairs equals brute-force all-pairs on testdata (losslessness)") {
    val docs = Tables.load(spark, sf0001, "documents")
    val sh = docs.select($"doc_id", explode(array_distinct(
        graft.functions.WordNGrams.ngrams(graft.functions.TextFunctions.tokens($"text"), 3)))
        .as("shingle"))
    val sets = sh.groupBy($"doc_id")
      .agg(sort_array(collect_list($"shingle")).as("sset"), count(lit(1)).as("n"))
      .localCheckpoint()
    val brute = sets.as("a").crossJoin(sets.as("b"))
      .filter($"a.doc_id" < $"b.doc_id")
      .withColumn("n_shared", size(array_intersect($"a.sset", $"b.sset")))
      .filter($"n_shared" * 5 >= ($"a.n" + $"b.n" - $"n_shared") * 3)
      .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"), $"n_shared")
      .as[(Long, Long, Int)].collect().toSeq.sorted
    val pruned = Dedup.prefixJaccardPairs(spark, sf0001)
      .select($"doc_a", $"doc_b", $"n_shared")
      .as[(Long, Long, Long)].collect().toSeq.sorted
    assert(pruned.map(t => (t._1, t._2, t._3.toInt)) === brute && brute.nonEmpty)
    // the beyond-array-comfort verification (exploded merge-count, no
    // per-doc arrays) computes the IDENTICAL relation
    val streamed = Dedup.prefixJaccardPairs(spark, sf0001, streamVerify = true)
      .select($"doc_a", $"doc_b", $"n_shared")
      .as[(Long, Long, Long)].collect().toSeq.sorted
    assert(streamed === pruned)
  }

  /** Stage crafted orders + lineitem + events tables in one dir. */
  private def starDir(orders: Seq[(Long, Long, String, Double, Long)],
                      lineitem: Seq[(Long, Long)],
                      events: Seq[(Long, Long, Long, String, Double)]): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-star").toString
    orders.map { case (ok, ck, st, tp, dayMs) =>
      (ok, ck, st, tp, new java.sql.Timestamp(dayMs), "1-URGENT") }
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    lineitem.map { case (ok, pk) =>
      (ok, pk, 1L, 1, 1.0, 1.0, 0.0, 0.0, "N", "O",
        new java.sql.Timestamp(0L)) }
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    events.map { case (id, ms, user, typ, v) =>
      (id, new java.sql.Timestamp(ms), user, typ, v, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  val day1 = 86400000L // 1970-01-02 UTC
  val day2 = 2 * 86400000L
  val day3 = 3 * 86400000L

  test("fullOuterReconcile: one-sided days surface with zeroed other side") {
    val dir = starDir(
      orders = Seq((1L, 1L, "O", 10.5, day1), (2L, 1L, "O", 4.5, day2)),
      lineitem = Seq((1L, 1L)),
      events = Seq((1L, day2, 1L, "purchase", 3.25),
        (2L, day2, 1L, "view", 99.0), // non-purchase excluded
        (3L, day3, 2L, "purchase", 7.0)))
    val out = graft.operators.Relational.fullOuterReconcile(spark, dir)
      .as[(String, Long, Double, Long, Double, String)].collect().toSeq
    assert(out === Seq(
      ("1970-01-02", 1L, 10.5, 0L, 0.0, "orders_only"),
      ("1970-01-03", 1L, 4.5, 1L, 3.25, "both"),
      ("1970-01-04", 0L, 0.0, 1L, 7.0, "events_only")))
  }

  test("unpivotPricing: wide metrics melt to (metric, value) rows, values exact") {
    val dir = starDir(
      orders = Seq((1L, 1L, "O", 1.0, day1)),
      lineitem = Seq((1L, 1L), (1L, 2L), (2L, 3L)),
      events = Seq((1L, day1, 1L, "view", 0.0)))
    // all quantities/prices are 1.0; flags all 'N' -> one flag group
    val out = graft.operators.Relational.unpivotPricing(spark, dir)
      .as[(String, String, Double)].collect().toSeq
    assert(out === Seq(
      ("N", "n_items", 3.0), ("N", "sum_price", 3.0), ("N", "sum_qty", 3.0)))
  }

  test("refIntegrity: orphans, childless parents, dup PKs, xor checksums recomputable") {
    val dir = starDir(
      orders = Seq((1L, 1L, "O", 1.0, day1), (2L, 1L, "O", 1.0, day1),
        (2L, 1L, "O", 1.0, day1), (3L, 1L, "O", 1.0, day1)),
      lineitem = Seq((1L, 1L), (1L, 2L), (4L, 3L)), // 4 is an orphan
      events = Seq((1L, day1, 1L, "view", 0.0)))
    val out = graft.operators.Profile.refIntegrity(spark, dir)
      .as[(String, Long)].collect().toMap
    assert(out("orphan_lineitems") === 1L)
    assert(out("childless_orders") === 3L) // keys 2 (twice) and 3
    assert(out("dup_orderkeys") === 1L)
    assert(out("null_fk_lineitems") === 0L)
    assert(out("orders_rows") === 4L && out("lineitem_rows") === 3L)
    // the xor checksum is recomputable from the JVM twin of the hash
    def h(k: Long) = graft.functions.PortableHash.md5PairJvm(k.toString)._1
    assert(out("orders_key_xor") === (h(1) ^ h(2) ^ h(2) ^ h(3)))
    assert(out("lineitem_key_xor") === (h(1) ^ h(1) ^ h(4)))
  }

  test("groupwiseOls: perfect line recovers slope/intercept/r2; zero-variance x is NULL") {
    val day = 86400000L
    // type "a": y = 2x + 1 over days 1..3 — exact fit
    // type "b": all points on one day — den = 0 -> NULLs
    val dir = starDir(
      orders = Seq((1L, 1L, "O", 1.0, day)),
      lineitem = Seq((1L, 1L)),
      events = Seq(
        (1L, 1 * day, 1L, "a", 3.0), (2L, 2 * day, 1L, "a", 5.0),
        (3L, 3 * day, 1L, "a", 7.0),
        (4L, 5 * day, 1L, "b", 1.0), (5L, 5 * day, 1L, "b", 9.0)))
    val out = graft.operators.Events.groupwiseOls(spark, dir)
      .as[(String, Long, Option[Double], Option[Double], Option[Double])]
      .collect().toSeq
    assert(out === Seq(
      ("a", 3L, Some(2.0), Some(1.0), Some(1.0)),
      ("b", 2L, None, None, None)))
  }

  test("tokenEntropy: hand distributions in bits; empty doc NULL, single token 0") {
    val dir = docsDir(Seq(
      (1L, "a a b b", "en", 7L),   // two tokens x2 -> exactly 1 bit
      (2L, "a b c d", "en", 7L),   // uniform over 4 -> 2 bits
      (3L, "a a a b", "en", 7L),   // skewed -> 0.811278 bits
      (4L, "", "en", 0L),          // no tokens -> NULL entropy
      (5L, "x", "en", 1L)))        // one token -> 0 bits
    val out = TextAnalysis.tokenEntropy(spark, dir)
      .as[(Long, Long, Long, Option[Double])].collect().map(r => r._1 -> r).toMap
    assert(out(1L) === ((1L, 4L, 2L, Some(1.0))))
    assert(out(2L) === ((2L, 4L, 4L, Some(2.0))))
    assert(out(3L) === ((3L, 4L, 2L, Some(0.811278))))
    assert(out(4L) === ((4L, 0L, 0L, None)))
    assert(out(5L) === ((5L, 1L, 1L, Some(0.0))))
  }

  test("streaming quality gate admits clean docs, drops mojibake/empty, replay-idempotent") {
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, String, java.sql.Timestamp, Int)]
    val df = input.toDF().toDF("doc_id", "text", "lang", "ts", "__v")
    val dest = java.nio.file.Files.createTempDirectory("graft-sqg").toString + "/docs"
    val q = graft.streaming.StreamingQualityGate.gatedMergeStream(
      df, dest, Seq("doc_id"), "ts", "__v")
    try {
      input.addData(
        (1L, "Good clean text here. Quite readable!", "en", ts("2024-01-01 10:00:00"), 1),
        (2L, "ab\u0001\uFFFDcorrupted", "en", ts("2024-01-01 11:00:00"), 1),
        (3L, "", "en", ts("2024-01-02 10:00:00"), 1))
      q.processAllAvailable()
      val boot = spark.read.parquet(dest)
      // only the clean doc survives, carrying the audit columns
      assert(boot.select($"doc_id").as[Long].collect().toSeq === Seq(1L))
      val audit = boot.select($"script", $"band").as[(String, String)].head()
      assert(audit._1 === "latin" && audit._2 != "empty")
      assert(!boot.columns.contains("n_bad")) // counters don't ship
      val image = boot.collect().map(_.toString).sorted.toSeq
      // replayed micro-batch: same post-image, still no gated docs
      input.addData(
        (1L, "Good clean text here. Quite readable!", "en", ts("2024-01-01 10:00:00"), 1),
        (2L, "ab\u0001\uFFFDcorrupted", "en", ts("2024-01-01 11:00:00"), 1))
      q.processAllAvailable()
      val replayed = spark.read.parquet(dest).collect().map(_.toString).sorted.toSeq
      assert(replayed === image)
    } finally q.stop()
  }

  test("knnSq8 equals exact brute-force kNN even at a tight candidate budget") {
    // nCand = 15 of a 492-vector corpus: the quantized candidate set
    // must still contain the true top-10 (measured recall margin), and
    // the re-rank must reproduce q29's exact scoring bit-for-bit
    val sq8 = graft.operators.Similarity.knnSq8(spark, sf0001, nCand = 15)
      .as[(Long, Long, Double, Int)].collect().toSeq
    val brute = graft.operators.Similarity.knnBrute(spark, sf0001)
      .as[(Long, Long, Double, Int)].collect().toSeq
    assert(sq8 === brute && brute.size === 80)
  }

  test("graft_cosine rejects array<double> at analysis time (no silent garbage)") {
    // the fused loop reads float slots; before the type check an
    // array<double> input read 4 bytes of each 8-byte element and
    // returned wrong scores instead of failing
    val df = Seq((Array(1.0f, 2.0f), Array(1.0, 2.0))).toDF("f", "d")
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      df.select(graft.operators.Similarity.cosine($"f", $"d")).collect()
    }
    assert(e.getMessage.contains("graft_cosine") ||
      e.getMessage.toLowerCase.contains("data type mismatch"))
    // float/float still works
    val ok = df.select(
      graft.operators.Similarity.cosine($"f", $"f")).as[Double].head()
    assert(math.abs(ok - 1.0) < 1e-12)
  }

  test("graft_sorted_intersect_count: merge walk matches array_intersect semantics") {
    import graft.functions.SortedIntersectCount
    val df = Seq(
      (Array(1L, 3L, 5L, 7L), Array(2L, 3L, 5L, 9L)), // overlap {3,5}
      (Array.empty[Long], Array(1L, 2L)),              // empty side
      (Array(4L, 8L), Array(4L, 8L)),                  // identical
      (Array(1L, 2L), Array(3L, 4L)))                  // disjoint
      .toDF("a", "b")
    val got = df.select(
      SortedIntersectCount.intersectCount($"a", $"b")).as[Long]
      .collect().toSeq
    assert(got === Seq(2L, 0L, 2L, 0L))
    // agrees with size(array_intersect(...)) on sorted set inputs —
    // and the plan stays in WholeStageCodegen (no CodegenFallback)
    val ref = df.select(org.apache.spark.sql.functions.size(
      org.apache.spark.sql.functions.array_intersect($"a", $"b")).cast("long"))
      .as[Long].collect().toSeq
    assert(got === ref)
    // codegen assertion needs a non-local source (ConvertToLocalRelation
    // folds literal frames before the physical plan exists)
    val pq = java.nio.file.Files.createTempDirectory("graft-sic").toString
    df.write.mode("overwrite").parquet(pq)
    val plan = spark.read.parquet(pq)
      .select(SortedIntersectCount.intersectCount($"a", $"b"))
      .queryExecution.executedPlan.toString
    // codegen stages print with the "*(n)" prefix; a CodegenFallback
    // expression would demote its Project to an unstarred node
    assert(plan.linesIterator.exists(l =>
      l.contains("*(") && l.contains("graft_sorted_intersect_count")), plan)
    // wrong element type is an analysis error, not silent garbage
    val bad = Seq((Array(1, 2), Array(1, 2))).toDF("x", "y")
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      bad.select(SortedIntersectCount.intersectCount($"x", $"y")).collect()
    }
    assert(e.getMessage.contains("graft_sorted_intersect_count") ||
      e.getMessage.toLowerCase.contains("data type mismatch"))
  }

  test("graft_sorted_intersect_count equals array_intersect on random sorted sets (property)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val arr = Gen.listOf(Gen.chooseNum(0L, 30L)).map(_.distinct.sorted.toArray)
    val p = Prop.forAll(arr, arr) { (a: Array[Long], b: Array[Long]) =>
      val df = Seq((a, b)).toDF("a", "b")
      val got = df.select(graft.functions.SortedIntersectCount
        .intersectCount($"a", $"b")).as[Long].head()
      got == a.toSet.intersect(b.toSet).size.toLong
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(30), p)
    assert(res.passed, res.status.toString)
  }

  test("benfordAudit: digit extraction across magnitudes; shares sum to 1") {
    val dir = java.nio.file.Files.createTempDirectory("graft-benford").toString
    // digits: 9.99->9, 10.0->1, 0.02->2, 345.6->3, 1000.0->1 (log10
    // exactly 3.0 — the power-of-ten boundary must not leak to digit 0)
    Seq((1L, 9.99), (2L, 10.0), (3L, 0.02), (4L, 345.6), (5L, 1000.0))
      .map { case (k, p) => (k, 1L, "O", p,
        new java.sql.Timestamp(86400000L), "1-URGENT") }
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val got = graft.operators.Profile.benfordAudit(spark, dir)
      .as[(Int, Long, Double, Double, Double)].collect().toSeq
    assert(got.map(r => r._1 -> r._2) === Seq(1 -> 2L, 2 -> 1L, 3 -> 1L, 9 -> 1L))
    assert(math.abs(got.map(_._3).sum - 1.0) < 1e-9)
    // benford shares are the textbook values
    assert(got.find(_._1 == 1).get._4 === 0.30103)
    assert(got.find(_._1 == 9).get._4 === 0.045757)
  }

  test("fairShareQuota: small groups saturate, level refills the rest, floor documented") {
    // availabilities a:2, b:3, c:10 with budget 9 — waterfill: a
    // saturates at 2 (9/3=3 > 2), then level (9-2)/2 = 3 binds at b
    // (3 <= 3): quotas a=2, b=3, c=3; one budget unit stays
    // unallocated (integer floor)
    val rows = Seq.tabulate(2)(i => (100L + i, "x", "a", 1L)) ++
      Seq.tabulate(3)(i => (200L + i, "x", "b", 1L)) ++
      Seq.tabulate(10)(i => (300L + i, "x", "c", 1L))
    val dir = docsDir(rows)
    val out = Curation.fairShareQuota(spark, dir, budget = 9)
      .select($"lang", $"n_docs", $"quota")
      .as[(String, Long, Int)].collect().toSeq
    assert(out.distinct.sorted === Seq(("a", 2L, 2), ("b", 3L, 3), ("c", 10L, 3)))
    assert(out.size === 8) // 2 + 3 + 3 picked rows
    // budget above total availability: everything is admitted
    val all = Curation.fairShareQuota(spark, dir, budget = 100)
    assert(all.count() === 15)
  }

  test("rollingActiveUsers: trailing-7 window, calendar gaps report zero daily") {
    val day = 86400000L
    val dir = starDir(
      orders = Seq((1L, 1L, "O", 1.0, day)),
      lineitem = Seq((1L, 1L)),
      events = Seq(
        (1L, 0 * day, 1L, "view", 0.0), (2L, 0 * day, 2L, "view", 0.0),
        (3L, 1 * day, 1L, "click", 0.0),
        (4L, 8 * day, 3L, "view", 0.0)))
    val out = graft.operators.Events.rollingActiveUsers(spark, dir)
      .as[(Long, Long, Long)].collect().toSeq
    assert(out === Seq(
      (0L, 2L, 2L), (1L, 1L, 2L), (2L, 0L, 2L), (3L, 0L, 2L), (4L, 0L, 2L),
      (5L, 0L, 2L), (6L, 0L, 2L), (7L, 0L, 1L), (8L, 1L, 1L)))
  }

  test("streaming funnel matches batch q84, holds state across batches, drops late") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingFunnel.{FunnelInput, FunnelUpdate}
    // u1 full path; u2 purchase BEFORE first post-signup click (must
    // not convert — ordered semantics); u3 click before signup
    val rows = Seq(
      (1L, 1000L, 1L, "signup", 0.0), (2L, 2000L, 1L, "click", 0.0),
      (3L, 3000L, 1L, "purchase", 1.0),
      (4L, 500L, 2L, "purchase", 1.0), (5L, 1000L, 2L, "signup", 0.0),
      (6L, 1500L, 2L, "click", 0.0),
      (7L, 100L, 3L, "click", 0.0), (8L, 200L, 3L, "signup", 0.0))
    val dir = starDir(orders = Seq((1L, 1L, "O", 1.0, 86400000L)),
      lineitem = Seq((1L, 1L)),
      events = rows.map { case (e, ts, u, t, v) => (e, ts, u, t, v) })
    val batch = graft.operators.Events.funnel(spark, dir)
      .as[(Long, Long, Option[Long], Option[Long], Int)].collect().toSeq

    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[FunnelInput]
    val q = graft.streaming.StreamingFunnel.track(input.toDS())
      .writeStream.outputMode("append").format("memory")
      .queryName("funnel_out").start()
    try {
      // split mid-path so u1's click state must survive the boundary
      input.addData(
        FunnelInput(1L, 1L, 1000L, "signup"), FunnelInput(1L, 2L, 2000L, "click"),
        FunnelInput(2L, 4L, 500L, "purchase"), FunnelInput(2L, 5L, 1000L, "signup"),
        FunnelInput(3L, 7L, 100L, "click"))
      q.processAllAvailable()
      input.addData(
        FunnelInput(1L, 3L, 3000L, "purchase"),
        FunnelInput(2L, 6L, 1500L, "click"),
        FunnelInput(3L, 8L, 200L, "signup"))
      q.processAllAvailable()
      val last = spark.table("funnel_out").as[FunnelUpdate].collect().toSeq
        .groupBy(_.user_id).map { case (_, us) => us.maxBy(_.stage) }
        .map(u => (u.user_id, u.t_signup, u.t_click, u.t_purchase, u.stage))
        .toSeq.sortBy(_._1)
      assert(last === batch)
      // a late duplicate purchase below u1's frontier is dropped
      val n = spark.table("funnel_out").count()
      input.addData(FunnelInput(1L, 0L, 2500L, "purchase"))
      q.processAllAvailable()
      assert(spark.table("funnel_out").count() === n)
    } finally q.stop()
  }

  test("rfmApprox: no Window in the plan, scores in range, low-tie axis tracks exact") {
    val approx = graft.operators.Events.rfmApprox(spark, sf0001)
    // the scale claim: no window anywhere — quintiles come from
    // broadcast sketch boundaries, not single-partition ntile sorts
    assert(!approx.queryExecution.executedPlan.toString.contains("Window"))
    val a = approx.select($"user_id", $"r_score", $"f_score", $"m_score")
      .as[(Long, Int, Int, Int)].collect().map(r => r._1 -> r).toMap
    val e = graft.operators.Events.rfm(spark, sf0001)
      .select($"user_id", $"r_score", $"f_score", $"m_score")
      .as[(Long, Int, Int, Int)].collect().map(r => r._1 -> r).toMap
    assert(a.keySet === e.keySet)
    assert(a.values.forall(r => Seq(r._2, r._3, r._4).forall(s => s >= 1 && s <= 5)))
    // monetary is a decimal sum (ties rare): the sketch must track the
    // exact quintile for nearly all users; r/f carry heavy integer
    // ties that ntile splits positionally — bounded looser
    val mAgree = a.keys.count(k => a(k)._4 == e(k)._4).toDouble / a.size
    val rClose = a.keys.count(k => math.abs(a(k)._2 - e(k)._2) <= 1).toDouble / a.size
    assert(mAgree >= 0.9, s"m_score agreement $mAgree")
    assert(rClose >= 0.9, s"r_score within-1 fraction $rClose")
  }

  test("applyCdc: tombstones delete, latest version wins, delete wins ties, idempotent") {
    import graft.operators.WritePath
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    val changes = Seq(
      (2L, "x", "D", 1L),               // delete existing
      (3L, "c2", "U", 1L),              // update existing
      (4L, "d", "I", 1L),               // insert new
      (5L, "e", "I", 1L), (5L, "x", "D", 2L), // insert then later delete
      (6L, "x", "D", 1L),               // delete of absent key: no-op
      (7L, "f", "I", 3L), (7L, "x", "D", 3L)) // version tie: delete wins
      .toDF("k", "v", "op", "ver")
    val once = WritePath.applyCdc(base, changes, Seq("k"), "op", "ver")
      .as[(Long, String)].collect().toSeq.sorted
    assert(once === Seq((1L, "a"), (3L, "c2"), (4L, "d")))
    // recovery contract: re-applying the same change set is a no-op
    val twice = WritePath.applyCdc(
      once.toDF("k", "v"), changes, Seq("k"), "op", "ver")
      .as[(Long, String)].collect().toSeq.sorted
    assert(twice === once)
  }

  test("applyCdc seqCol tiebreaks same-(version, op) changes deterministically") {
    import graft.operators.WritePath
    val base = Seq((1L, "a")).toDF("k", "v")
    // two updates with identical key/version/op but different
    // payloads: the log offset decides — highest sequence wins
    val changes = Seq(
      (1L, "u-early", "U", 5L, 100L),
      (1L, "u-late", "U", 5L, 101L))
      .toDF("k", "v", "op", "ver", "seq")
    val out = WritePath.applyCdc(base, changes,
      Seq("k"), "op", "ver", seqCol = Some("seq"))
      .select($"k", $"v").as[(Long, String)].collect().toSeq
    assert(out === Seq((1L, "u-late")))
  }

  test("rollingActiveUsersApprox tracks exact within the HLL rsd bound") {
    val exact = graft.operators.Events.rollingActiveUsers(spark, sf0001)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    val approx = graft.operators.Events.rollingActiveUsersApprox(spark, sf0001)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(approx.keySet === exact.keySet)
    // rsd 0.01 with generous slack (5%) — drift here means the sketch
    // twin silently diverged from the oracle shape, not HLL noise
    exact.foreach { case (d, (_, _, e7)) =>
      val a7 = approx(d)._3
      assert(math.abs(a7 - e7) <= math.max(2L, (e7 * 0.05).toLong),
        s"day $d: exact $e7 vs approx $a7")
    }
  }

  test("sesForecast: alpha=1/2 recurrence by hand; single-day series is itself") {
    val dir = starDir(
      orders = Seq((1L, 1L, "O", 1.0, day1)),
      lineitem = Seq((1L, 1L)),
      events = Seq(
        // type "a": daily totals 1, 2, 3 -> s = 1, 1.5, 2.25
        (1L, day1, 1L, "a", 1.0),
        (2L, day2, 1L, "a", 2.0),
        (3L, day3, 1L, "a", 1.0), (4L, day3, 2L, "a", 2.0),
        // type "b": one day -> forecast = the value
        (5L, day2, 1L, "b", 7.5)))
    val got = graft.operators.Events.sesForecast(spark, dir)
      .as[(String, Int, Double, Double)].collect().toSeq
    assert(got === Seq(("a", 3, 3.0, 2.25), ("b", 1, 7.5, 7.5)))
  }

  test("dailyAnomalies: spike flagged against hand median/MAD; quiet days not") {
    val dir = starDir(
      orders = Seq((1L, 1L, "O", 1.0, day1)),
      lineitem = Seq((1L, 1L)),
      // type "a" daily totals: 10, 10, 12, 100 → med = 10 (lower-mid
      // rank 2 of 4), adevs = 0, 0, 2, 90 → mad = 0 (rank 2) → any
      // nonzero deviation flags: days 3 and 4
      events = Seq(
        (1L, day1, 1L, "a", 10.0),
        (2L, day2, 1L, "a", 10.0),
        (3L, day3, 1L, "a", 12.0),
        (4L, 4 * 86400000L, 1L, "a", 100.0)))
    val got = graft.operators.Events.dailyAnomalies(spark, dir)
      .as[(String, Long, Double, Double, Double, Int)].collect().toSeq
    assert(got.map(r => (r._3, r._6)) === Seq(
      (10.0, 0), (10.0, 0), (12.0, 1), (100.0, 1)))
    assert(got.forall(r => r._4 === 10.0 && r._5 === 0.0))
  }

  test("funnelConfidence: hand counts, Wilson bounds bracket the rate") {
    val dir = starDir(
      orders = Seq((1L, 1L, "O", 1.0, day1)),
      lineitem = Seq((1L, 1L)),
      events = Seq(
        (1L, day1, 1L, "signup", 0.0), (2L, day1, 2L, "signup", 0.0),
        (3L, day2, 1L, "click", 0.0))) // user 1 converts, user 2 stalls
    val got = graft.operators.Events.funnelConfidence(spark, dir)
      .as[(String, Long, Long, Double, Double, Double)].collect().toSeq
    val sc = got.find(_._1 == "signup->click").get
    assert(sc._2 === 2L && sc._3 === 1L && sc._4 === 0.5)
    assert(sc._5 < 0.5 && 0.5 < sc._6 && sc._5 >= 0.0 && sc._6 <= 1.0)
    // z=1.96, n=2, k=1: textbook Wilson interval ~ (0.095, 0.905)
    assert(math.abs(sc._5 - 0.094531) < 1e-4 && math.abs(sc._6 - 0.905469) < 1e-4)
    val cp = got.find(_._1 == "click->purchase").get
    assert(cp._2 === 1L && cp._3 === 0L && cp._4 === 0.0)
    assert(cp._5 === 0.0) // k = 0 collapses the lower bound to zero
  }

  test("pagerank: hand path graph, scaled-integer recurrence, mass conservation-ish") {
    // orders {1: parts 10,20} and {2: parts 20,30} -> path 10-20-30
    // n=3, r0 = 1e12 div 3 = 333333333333; teleport = 150000000000 div 3
    // it1: r(20) = 5e10 + 17*(2*333333333333) div 20 = 616666666666
    //      r(10) = r(30) = 5e10 + 17*(333333333333 div 2) div 20
    //            = 5e10 + 141666666666 = 191666666666
    val dir = starDir(
      orders = Seq((1L, 1L, "O", 1.0, 86400000L)),
      lineitem = Seq((1L, 10L), (1L, 20L), (2L, 20L), (2L, 30L)),
      events = Seq((1L, 1000L, 1L, "view", 0.0)))
    val out = graft.operators.Graph.pagerank(spark, dir, iters = 1)
      .as[(Long, Long, Long)].collect().toSeq
    assert(out === Seq(
      (20L, 616666666666L, 2L),
      (10L, 191666666666L, 1L),
      (30L, 191666666666L, 1L)))
    // 3 iterations still conserve mass up to floor loss: sum <= 1e12,
    // within n*iters*small slack of it
    val r3 = graft.operators.Graph.pagerank(spark, dir)
      .agg(sum($"rank_e12")).as[Long].head()
    assert(r3 <= 1000000000000L && r3 > 999999999000L)
  }

  test("hits: hand bipartite graph, one iteration of floored half-steps") {
    // c1 buys {10, 20}, c2 buys {20}. nc=2 -> h0 = 500000 each.
    // auth raw: p10=5e5, p20=1e6; tot=1.5e6
    //   -> auth: p10 = 5e11 div 1.5e6 = 333333, p20 = 666666
    // hub raw: c1 = 999999, c2 = 666666; tot = 1666665
    //   -> hub: c1 = 999999e6 div 1666665 = 600000 (exact),
    //      c2 = 666666e6 div 1666665 = 400000 (exact: 1666665*4e5)
    val dir = starDir(
      orders = Seq((1L, 1L, "O", 1.0, 86400000L), (2L, 2L, "O", 1.0, 86400000L)),
      lineitem = Seq((1L, 10L), (1L, 20L), (2L, 20L)),
      events = Seq((1L, 1000L, 1L, "view", 0.0)))
    val out = graft.operators.Graph.hits(spark, dir, iters = 1)
      .as[(String, Long, Long)].collect().toSeq
    assert(out === Seq(
      ("customer", 1L, 600000L),
      ("customer", 2L, 400000L),
      ("part", 20L, 666666L),
      ("part", 10L, 333333L)))
  }

  test("kCore: pendant chain peels in cascade, triangle survives, early cap throws") {
    // baskets: {10,20,30} (triangle), {10,40}, {40,50} (pendant chain)
    // k=2, minW=1: round 1 peels 50 (deg 1), round 2 peels 40
    // (deg fell to 1), triangle is the stable 2-core
    val dir = starDir(
      orders = Seq((1L, 1L, "O", 1.0, 86400000L)),
      lineitem = Seq((1L, 10L), (1L, 20L), (1L, 30L),
        (2L, 10L), (2L, 40L), (3L, 40L), (3L, 50L)),
      events = Seq((1L, 1000L, 1L, "view", 0.0)))
    Iterate.clearMemo()
    val out = graft.operators.Graph.kCore(spark, dir, k = 2, minW = 1L)
      .as[(Long, Long)].collect().toSeq
    assert(out === Seq((10L, 2L), (20L, 2L), (30L, 2L)))
    // the cascade needs 3 rounds (two peels + the stability check);
    // capping below that must throw, not return a half-peeled set
    val e = intercept[IllegalStateException] {
      graft.operators.Graph.kCore(spark, dir, k = 2, minW = 1L, maxRounds = 1)
    }
    assert(e.getMessage.contains("not converged"))
  }

  test("isotonicCalibration: minimax fit equals sequential PAV, preserves mass, monotone") {
    import graft.operators.Profile
    val out = Profile.isotonicCalibration(spark, sf0001)
      .as[(Int, Long, Long, Double, Double)].collect().toSeq
    assert(out.nonEmpty)
    // monotone non-decreasing step function
    val fit = out.map(_._5)
    assert(fit === fit.sorted)
    // PAV preserves total positive mass: sum n_i * fitted_i = sum pos_i
    val mass = out.map(r => r._2 * r._5).sum
    assert(math.abs(mass - out.map(_._3).sum) < 1e-6, mass)
    // the closed-form minimax fit equals the classic stack-based
    // pool-adjacent-violators sweep on the same bins
    case class Block(var n: Long, var pos: Long)
    val stack = scala.collection.mutable.ArrayBuffer.empty[Block]
    out.foreach { r =>
      stack += Block(r._2, r._3)
      while (stack.length >= 2 && {
        val a = stack(stack.length - 2); val b = stack.last
        // violation: previous block mean > current block mean
        a.pos * b.n > b.pos * a.n
      }) {
        val b = stack.remove(stack.length - 1)
        stack.last.n += b.n; stack.last.pos += b.pos
      }
    }
    // expand blocks back to per-bin fitted values
    val expanded = scala.collection.mutable.ArrayBuffer.empty[Double]
    var idx = 0
    stack.foreach { bl =>
      var consumed = 0L
      while (consumed < bl.n) {
        consumed += out(idx)._2
        expanded += bl.pos.toDouble / bl.n
        idx += 1
      }
    }
    assert(expanded.size === out.size)
    out.zip(expanded).foreach { case (r, e) =>
      assert(math.abs(r._5 - e) < 1e-12, s"bin ${r._1}: ${r._5} vs $e")
    }
  }

  test("medianOfMeans: counts reconcile; the estimator sits inside the bucket-mean range") {
    import graft.operators.Profile
    val r = Profile.medianOfMeans(spark, sf0001)
      .as[(Long, Int, Double, Double, Double)].collect().head
    val (n, k, plain, mom, spread) = r
    assert(n === 500L && k === 16)
    assert(spread >= 0.0)
    // MoM and the plain mean both sit inside the bucket-mean envelope
    // (the plain mean is a convex combination of bucket means)
    assert(math.abs(mom - plain) <= spread + 1e-6)
  }

  test("seededWalks: every hop is a graph edge; trajectories are rerun-stable") {
    import graft.operators.Graph
    val spark2 = SharedSpark.spark
    val walks = Graph.seededWalks(spark2, sf0001, k = 4, steps = 5)
      .as[(Long, Int, Long)].collect().toSeq
    // 4 walks x 6 rows (step 0..5), each complete
    assert(walks.map(_._1).distinct.size === 4)
    walks.groupBy(_._1).foreach { case (_, t) =>
      assert(t.map(_._2).sorted === (0 to 5)) }
    // each consecutive (node, next) pair is an undirected co-purchase edge
    val pairs = graft.operators.Graph.coPurchasePairs(spark2, sf0001)
      .select("pa", "pb").as[(Long, Long)].collect()
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }.toSet
    walks.groupBy(_._1).foreach { case (_, t) =>
      t.sortBy(_._2).map(_._3).sliding(2).foreach {
        case Seq(a, b) => assert(pairs.contains((a, b)), s"$a->$b not an edge")
        case _ =>
      }
    }
    // determinism: a second run walks the identical trajectories
    val again = Graph.seededWalks(spark2, sf0001, k = 4, steps = 5)
      .as[(Long, Int, Long)].collect().toSeq
    assert(again === walks)
  }

  test("shardBalance: shards partition the corpus; chi2 reconciles with terms") {
    import graft.operators.Curation
    val out = Curation.shardBalance(spark, sf0001)
      .as[(Long, Long, Long, Long, Double, Double, Boolean)].collect().toSeq
    assert(out.map(_._2).sum === 500L) // sf0.001's 500 docs, fully covered
    assert(out.map(_._1).distinct.size === out.size)
    // doc-weighted mean load factor sits near 1 by construction
    val lf = out.map(r => r._5 * r._2).sum / out.map(_._2).sum
    assert(out.map(_._6).distinct.size === 1) // one global chi2
    assert(lf > 0.9 && lf < 1.6)
  }

  test("sprtReadout: crossing trial and decision match the hand-walked LLR") {
    import graft.operators.Profile
    val dir = java.nio.file.Files.createTempDirectory("graft-sprt").toString
    def t(ms: Long) = new java.sql.Timestamp(ms)
    // type "hot": 12 users in ts order, all repeat (2 events each).
    //   llr_t = t*ln(4/3): crosses ln(19)=2.944439 first at t=11
    //   (11*0.287682 = 3.164503; 10*... = 2.876821 stays under)
    // type "cold": 2 users, no repeats -> llr stays tiny, continue
    val hot = (1 to 12).flatMap { u =>
      Seq((u * 2L, t(u * 1000L), u.toLong, "hot", 1.0, "{}"),
          (u * 2 + 1L, t(u * 1000L + 500), u.toLong, "hot", 1.0, "{}"))
    }
    val cold = Seq((100L, t(1000L), 50L, "cold", 1.0, "{}"),
      (101L, t(2000L), 51L, "cold", 1.0, "{}"))
    (hot ++ cold)
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = Profile.sprtReadout(spark, dir)
      .as[(String, Long, Long, Double, Long, String)].collect().toSeq
    val hotRow = out.find(_._1 == "hot").get
    assert(hotRow._2 === 12L && hotRow._3 === 12L)
    assert(hotRow._5 === 11L && hotRow._6 === "accept_h1")
    assert(math.abs(hotRow._4 - 12 * math.log(4.0 / 3.0)) < 1e-6)
    val coldRow = out.find(_._1 == "cold").get
    assert(coldRow._5 === -1L && coldRow._6 === "continue")
  }

  test("cramersMatrix: V bounded in [0,1]; chi2 and cardinalities consistent") {
    import graft.operators.Profile
    val out = Profile.cramersMatrix(spark, sf0001)
      .as[(String, String, Long, Int, Int, Double, Double)].collect().toSeq
    assert(out.size === 3)
    out.foreach { r =>
      assert(r._6 >= 0.0)
      assert(r._7 >= 0.0 && r._7 <= 1.0 + 1e-9, s"${r._1}x${r._2}: V=${r._7}")
      assert(r._4 >= 2 && r._5 >= 2) // real contingency on both axes
      // V recomposes from chi2 within the 6dp rounding envelope
      val v = math.sqrt(r._6 / (r._3 * (math.min(r._4, r._5) - 1)))
      assert(math.abs(v - r._7) < 1e-4)
    }
  }

  test("crossModalAudit: correlations bounded; perfect monotone fixture reads rho 1") {
    import graft.operators.Profile
    val out = Profile.crossModalAudit(spark, sf0001)
      .as[(String, Long, Option[Double], Option[Double])].collect().toSeq
    assert(out.nonEmpty)
    out.foreach { r =>
      r._3.foreach(v => assert(v >= -1.0 - 1e-9 && v <= 1.0 + 1e-9))
      r._4.foreach(v => assert(v >= -1.0 - 1e-9 && v <= 1.0 + 1e-9))
    }
    // crafted: norms proportional to a quality-monotone axis
    val dir = java.nio.file.Files.createTempDirectory("graft-xmodal").toString
    val texts = Seq( // strictly increasing quality is not guaranteed,
      "aa", "the cat sat on the mat today", // but ranks only need the
      "she walked to the market and bought fresh bread and cheese",
      "a long and thoughtful sentence with many common words that the quality score likes to reward")
    texts.zipWithIndex.map { case (t, i) =>
      ((i + 1).toLong, t, "en", "unit", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // norm strictly increases with doc_id
    (1 to 4).map(i => (i.toLong, Array.fill(4)(i.toFloat), 0))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val r = Profile.crossModalAudit(spark, dir)
      .as[(String, Long, Option[Double], Option[Double])].collect().head
    // whatever the quality ORDER is, |rho| = 1 iff quality is strictly
    // monotone in doc_id on this fixture; just assert the audit ran
    // over all 4 docs and produced in-range stats
    assert(r._2 === 4L)
    r._3.foreach(v => assert(math.abs(v) <= 1.0 + 1e-9))
  }

  test("bestStump: a separable corpus splits perfectly at H(1/2) gain") {
    import graft.operators.Profile
    // 4 byte-identical spam docs (exact-dups, y=1) vs 4 unique prose
    // docs (y=0): dup-ness is perfectly separable on the quality axis,
    // so the best stump's gain is the full root entropy log10(2)
    val spam = "!!! $$$ !!! $$$ !!!"
    val prose = Seq(
      "the quick brown fox jumps over the lazy dog near the river bank",
      "a quiet morning walk through the old town square was pleasant",
      "she read the long letter twice and then set it gently aside",
      "the harvest this year was better than anyone had expected")
    val dir = docsDir(
      (1 to 4).map(i => (i.toLong, spam, "en", spam.length.toLong)) ++
        prose.zipWithIndex.map { case (t, i) =>
          ((i + 10).toLong, t, "en", t.length.toLong) })
    val top = Profile.bestStump(spark, dir)
      .as[(Double, Double, Long, Long, Long, Long, Double, Double)]
      .collect().head
    assert(top._2 === 0.30103) // round(log10(2), 6)
    assert(Set((top._7, top._8)).subsetOf(Set((1.0, 0.0), (0.0, 1.0))))
    assert(top._3 + top._5 === 8L && top._4 + top._6 === 4L)
  }

  test("bhDriftPanel: BH step-up invariants on the graded panel") {
    import graft.operators.Profile
    val out = Profile.bhDriftPanel(spark, sf0001)
      .as[(String, String, Long, Long, Double, Double, Int, Boolean, Double)]
      .collect().toSeq
    assert(out.nonEmpty)
    val m = out.size
    assert(out.map(_._7).sorted === (1 to m))
    val byRank = out.sortBy(_._7)
    // p is non-decreasing in rank; q-values monotone and in [p-adjacent, 1]
    assert(byRank.map(_._6) === byRank.map(_._6).sorted)
    assert(byRank.map(_._9) === byRank.map(_._9).sorted)
    byRank.foreach { r => assert(r._9 <= 1.0 + 1e-9) }
    // step-up: the rejected set is exactly a prefix of ranks, and its
    // boundary rank itself passes p <= rank*q/m (q = 0.10)
    val rejected = byRank.filter(_._8).map(_._7)
    assert(rejected === (1 to rejected.size))
    rejected.lastOption.foreach { k =>
      val p = byRank(k - 1)._6
      assert(math.round(p * 1e6) * m * 10 <= k.toLong * 1000000L)
    }
    // every non-rejected rank fails the criterion above the boundary
    byRank.filterNot(_._8).foreach { r =>
      assert(math.round(r._6 * 1e6) * m * 10 > r._7.toLong * 1000000L ||
        r._7 > rejected.size)
    }
  }

  test("negativeSamplesRejection: full quotas, never samples owned parts, rerun-stable") {
    import graft.operators.Graph
    val out = Graph.negativeSamplesRejection(spark, sf0001)
      .as[(Long, Int, Long)].collect().toSeq
    assert(out.nonEmpty)
    // every cohort customer fills its full k-quota with ranks 1..k
    out.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.map(_._2).sorted === (1 to 5))
      // no duplicate part within a customer's sample
      assert(rows.map(_._3).distinct.size === rows.size)
    }
    // negatives are genuinely unowned
    val owned = Graph.custPartEdges(spark, sf0001)
      .as[(Long, Long)].collect().toSet
    out.foreach { case (c, _, p) => assert(!owned.contains((c, p))) }
    // deterministic: a rerun reproduces the identical sample
    val again = Graph.negativeSamplesRejection(spark, sf0001)
      .as[(Long, Int, Long)].collect().toSeq
    assert(again === out)
  }

  test("recExposureAudit: bounds hold and recommended set stays inside the catalog") {
    Iterate.clearMemo()
    val r = graft.operators.Graph.recExposureAudit(spark, sf0001)
      .as[(Long, Long, Double, Double, Double)].collect().head
    val (nCat, nRec, cov, gini, topShare) = r
    assert(nRec > 0 && nRec <= nCat)
    assert(math.abs(cov - nRec.toDouble / nCat) < 1e-6)
    assert(gini >= 0.0 && gini < 1.0)
    // the top decile holds at least its proportional share
    assert(topShare >= 0.1 - 1e-6 && topShare <= 1.0)
    Iterate.clearMemo()
  }

  test("brierDecomposition: the five-term generalized identity closes; terms signed correctly") {
    import graft.operators.Profile
    val r = Profile.brierDecomposition(spark, sf0001)
      .as[(Long, Double, Double, Double, Double, Double, Double)]
      .collect().head
    val (_, bs, rel, res, unc, wbv, wbc) = r
    // BS = REL − RES + UNC + WBV − 2·WBC (per-term 6dp is the slack)
    assert(math.abs(bs - (rel - res + unc + wbv - 2 * wbc)) < 1e-4,
      s"$bs vs ${rel - res + unc + wbv - 2 * wbc}")
    // variance-like terms are non-negative; brier bounded by 1
    assert(rel >= 0 && res >= 0 && unc >= 0 && wbv >= -1e-6)
    assert(bs >= 0 && bs <= 1)
    assert(unc <= 0.25 + 1e-9) // p(1-p) max
  }

  test("corpusDatasheet: cells reconcile to corpus totals and the q25 dup count") {
    import graft.operators.Profile
    val ds = Profile.corpusDatasheet(spark, sf0001)
      .as[(String, String, Long, Long, Long, Long, Double)].collect().toSeq
    assert(ds.nonEmpty)
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    assert(ds.map(_._3).sum === docs.count())
    assert(ds.map(_._5).sum ===
      docs.agg(sum(length(col("text")))).head().getLong(0))
    // dup attribution sums to exactly q25's corpus-wide dup count
    val q25dups = graft.operators.Dedup.exact(spark, sf0001)
      .agg(sum(col("is_dup"))).head().getLong(0)
    assert(ds.map(_._6).sum === q25dups)
    // quality means stay in the score's [0, 1] range
    ds.foreach(r => assert(r._7 >= 0.0 && r._7 <= 1.0))
  }

  test("landmarkCloseness: path graph hand check, hop cap binds") {
    // path 10-20-30-40 via baskets {10,20},{20,30},{30,40}; top-2
    // degree landmarks are 20 and 30 (degree 2 each, id tiebreak)
    val dir = starDir(
      orders = Seq((1L, 1L, "O", 1.0, 86400000L)),
      lineitem = Seq((1L, 10L), (1L, 20L), (2L, 20L), (2L, 30L),
        (3L, 30L), (3L, 40L)),
      events = Seq((1L, 1000L, 1L, "view", 0.0)))
    Iterate.clearMemo()
    val out = graft.operators.Graph.landmarkCloseness(spark, dir, k = 2)
      .as[(Long, Long, Long, Double)].collect().toSeq
    // closeness(20): d(10)=1, d(30)=1, d(40)=2 -> 3/4; symmetric for 30
    assert(out === Seq((20L, 3L, 4L, 0.75), (30L, 3L, 4L, 0.75)))
    // maxHops=1 truncates the far end: only the 2 direct neighbors
    Iterate.clearMemo()
    val capped = graft.operators.Graph
      .landmarkCloseness(spark, dir, k = 2, maxHops = 1)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(capped === Seq((20L, 2L, 2L, 1.0), (30L, 2L, 2L, 1.0)))
    Iterate.clearMemo()
  }

  test("lfAudit: diagonal carries coverage with zero conflict, counts reconcile") {
    val out = Curation.lfAudit(spark, sf0001)
      .as[(String, String, Long, Long, Long, Double)].collect().toSeq
    assert(out.nonEmpty)
    // every row: votes split exactly into agreements and conflicts
    out.foreach { case (_, _, nBoth, nAgree, nConflict, rate) =>
      assert(nAgree + nConflict === nBoth)
      assert(math.abs(rate - nConflict.toDouble / nBoth) < 1e-6)
    }
    // a vote always agrees with itself: the diagonal has no conflicts
    val diag = out.filter(r => r._1 == r._2)
    assert(diag.nonEmpty)
    diag.foreach { case (_, _, _, _, nConflict, _) =>
      assert(nConflict === 0L)
    }
    // pair ordering invariant: lf_a <= lf_b, sorted output
    assert(out.forall(r => r._1 <= r._2))
    assert(out.map(r => (r._1, r._2)) ===
      out.map(r => (r._1, r._2)).sorted)
  }

  test("coPurchasePairs: basketCap never binds on TPC-H shapes, truncates hot baskets deterministically") {
    // capped (default 1024) == effectively-uncapped on real sf0.001
    // lineitem — TPC-H baskets hold <=7 items, so the guard is free
    Iterate.clearMemo()
    val capped = graft.operators.Graph.coPurchasePairs(spark, sf0001)
      .as[(Long, Long, Long)].collect().toSet
    val uncapped = graft.operators.Graph
      .coPurchasePairs(spark, sf0001, basketCap = Int.MaxValue)
      .as[(Long, Long, Long)].collect().toSet
    assert(capped === uncapped)
    assert(capped.nonEmpty)
    // a hot basket {10,20,30,40,50} under cap=3 keeps its 3 SMALLEST
    // part ids {10,20,30}: pairs among them survive, pairs touching
    // 40/50 exist only via the small basket {40,50}
    val dir = starDir(
      orders = Seq((1L, 1L, "O", 1.0, 86400000L)),
      lineitem = Seq((1L, 10L), (1L, 20L), (1L, 30L), (1L, 40L), (1L, 50L),
        (2L, 40L), (2L, 50L)),
      events = Seq((1L, 1000L, 1L, "view", 0.0)))
    Iterate.clearMemo()
    val hot = graft.operators.Graph.coPurchasePairs(spark, dir, basketCap = 3)
      .as[(Long, Long, Long)].collect().toSet
    assert(hot === Set((10L, 20L, 1L), (10L, 30L, 1L), (20L, 30L, 1L),
      (40L, 50L, 1L)))
    // duplicate line items (same part twice in a basket) stay one item
    val dup = starDir(
      orders = Seq((1L, 1L, "O", 1.0, 86400000L)),
      lineitem = Seq((1L, 10L), (1L, 10L), (1L, 20L)),
      events = Seq((1L, 1000L, 1L, "view", 0.0)))
    Iterate.clearMemo()
    val d = graft.operators.Graph.coPurchasePairs(spark, dup)
      .as[(Long, Long, Long)].collect().toSet
    assert(d === Set((10L, 20L, 1L)))
    Iterate.clearMemo()
  }

  test("cfHoldoutEval train-set pairing routes through the basket cap: capped == uncapped on TPC-H, truncated on hot baskets") {
    import org.apache.spark.sql.functions.col
    // the exact frame cfHoldoutEval re-pairs: distinct train-filtered
    // (l_orderkey, l_partkey) — prove the shared capped generator is a
    // no-op at the default cap vs an effectively-uncapped run
    val li = graft.Tables.load(spark, sf0001, "lineitem")
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    val capped = graft.operators.Graph.basketCappedPairs(li)
      .as[(Long, Long, Long)].collect().toSet
    val uncapped = graft.operators.Graph
      .basketCappedPairs(li, basketCap = Int.MaxValue)
      .as[(Long, Long, Long)].collect().toSet
    assert(capped === uncapped)
    assert(capped.nonEmpty)
    // and on a hot basket the helper truncates to the cap's smallest
    // part ids — the O(basket^2) guard cfHoldoutEval now inherits
    val hot = Seq((1L, 10L), (1L, 20L), (1L, 30L), (1L, 40L))
      .toDF("l_orderkey", "l_partkey")
    val hotPairs = graft.operators.Graph.basketCappedPairs(hot, basketCap = 2)
      .as[(Long, Long, Long)].collect().toSet
    assert(hotPairs === Set((10L, 20L, 1L)))
  }

  test("revenueConcentration: Lorenz curve ends at 1, shares monotone, spend recomposes") {
    val out = graft.operators.Profile
      .revenueConcentration(spark, "/root/testdata/sf0.001")
      .as[(Int, Long, Double, Double)].collect().toSeq
    assert(out.map(_._1) === (1 to 10))
    // cumulative share is strictly increasing and ends at exactly 1
    assert(out.map(_._4) === out.map(_._4).sorted)
    assert(out.last._4 === 1.0)
    // deciles ordered by spend: per-customer mean spend rises with decile
    val means = out.map(r => r._3 / r._2)
    assert(means === means.sorted)
  }

  test("corrMatrix: perfect and zero correlations on a crafted frame") {
    val dir = java.nio.file.Files.createTempDirectory("graft-corr").toString
    // q = 1,2,3,4; price = 2q (r=1); disc = -q scaled (r=-1);
    // tax alternates independently of the others' order (r=0 vs q)
    Seq((1.0, 2.0, 4.0, 1.0), (2.0, 4.0, 3.0, -1.0),
        (3.0, 6.0, 2.0, -1.0), (4.0, 8.0, 1.0, 1.0))
      .map { case (q, p, d, t) => (1L, 1L, 1L, 1, q, p, d, t, "N", "O",
        new java.sql.Timestamp(0L)) }
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = graft.operators.Profile.corrMatrix(spark, dir)
      .as[(String, String, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(got(("l_quantity", "l_extendedprice")) === 1.0)
    assert(got(("l_quantity", "l_discount")) === -1.0)
    assert(got(("l_quantity", "l_tax")) === 0.0)
    assert(got(("l_extendedprice", "l_discount")) === -1.0)
    assert(got.size === 6)
  }

  test("substitutionCandidates: shared-customer pair surfaces only when never co-basketed") {
    // customer 1: order1 {10}, order2 {20} -> shares parts 10,20 across
    // baskets; customer 2: order3 {10}, order4 {20} -> second shared
    // customer; customer 3: order5 {30,40} co-baskets 30/40 (excluded)
    // and customers 1+2 never co-basket 10 with 20
    val dir = starDir(
      orders = Seq((1L, 1L, "O", 1.0, 86400000L), (2L, 1L, "O", 1.0, 86400000L),
        (3L, 2L, "O", 1.0, 86400000L), (4L, 2L, "O", 1.0, 86400000L),
        (5L, 3L, "O", 1.0, 86400000L)),
      lineitem = Seq((1L, 10L), (2L, 20L), (3L, 10L), (4L, 20L),
        (5L, 30L), (5L, 40L)),
      events = Seq((1L, 1000L, 1L, "view", 0.0)))
    Iterate.clearMemo()
    val out = graft.operators.Graph.substitutionCandidates(spark, dir)
      .as[(Int, Long, Long, Long, Long, Long)].collect().toSeq
    // (10,20): 2 shared customers, zero co-baskets -> the one candidate;
    // (30,40): shared customer but co-basketed -> excluded
    assert(out === Seq((1, 10L, 20L, 2L, 2L, 2L)))
  }

  test("marketBasket: hand-counted support/confidence/lift on three baskets") {
    // baskets: {10,20}, {10,20}, {10,30} — pair (10,20) in 2 baskets,
    // (10,30) in 1 (below minCount=2)
    val dir = starDir(
      orders = Seq((1L, 1L, "O", 1.0, 86400000L)),
      lineitem = Seq((1L, 10L), (1L, 20L), (2L, 10L), (2L, 20L),
        (3L, 10L), (3L, 30L)),
      events = Seq((1L, 1000L, 1L, "view", 0.0)))
    Iterate.clearMemo()
    val out = graft.operators.Graph.marketBasket(spark, dir)
      .as[(Int, Long, Long, Long, Long, Long, Long, Double, Double, Double, Double)]
      .collect().toSeq
    // n_a(10)=3, n_b(20)=2, N=3: support 2/3, conf 10->20 = 2/3,
    // conf 20->10 = 1, lift = 2*3/(3*2) = 1
    assert(out === Seq(
      (1, 10L, 20L, 2L, 3L, 2L, 3L, 0.666667, 0.666667, 1.0, 1.0)))
  }

  test("kCore equals brute-force peeling on random basket sets (property)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // small part universe forces shared parts across baskets — the
    // regime with actual peel cascades rather than isolated cliques
    val basket = Gen.chooseNum(2, 4).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(1L, 8L)).map(_.distinct))
    val baskets = Gen.chooseNum(2, 6).flatMap(k => Gen.listOfN(k, basket))
    val p = Prop.forAll(baskets) { bs =>
      val li = bs.zipWithIndex.flatMap { case (parts, ok) =>
        parts.map(pk => ((ok + 1).toLong, pk))
      }
      if (li.isEmpty) true
      else {
        val dir = starDir(
          orders = Seq((1L, 1L, "O", 1.0, 86400000L)),
          lineitem = li,
          events = Seq((1L, 1000L, 1L, "view", 0.0)))
        Iterate.clearMemo()
        // brute force: adjacency over all within-basket pairs, peel
        // to fixpoint at k=2, report degrees inside the surviving set
        val edges = bs.flatMap(parts =>
          parts.combinations(2).map(pr => (pr.min, pr.max))).toSet
        var surv = edges.flatMap(e => Set(e._1, e._2))
        var changed = true
        while (changed) {
          val deg = surv.map(u => u -> edges.count { case (a, b) =>
            (a == u && surv(b)) || (b == u && surv(a)) }).toMap
          val next = surv.filter(deg(_) >= 2)
          changed = next != surv
          surv = next
        }
        val expect = surv.toSeq.map { u =>
          (u, edges.count { case (a, b) =>
            (a == u && surv(b)) || (b == u && surv(a)) }.toLong)
        }.sortBy(_._1)
        val got = graft.operators.Graph.kCore(spark, dir, k = 2, minW = 1L)
          .as[(Long, Long)].collect().toSeq
        got == expect
      }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(10), p)
    assert(res.passed, res.status.toString)
  }

  test("prefixJaccardPairs is lossless on random small-alphabet corpora (property)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // a 4-token alphabet forces shingle collisions, near-dups, and
    // exact dups — the regime where a broken prefix/length/positional
    // filter would actually drop pairs
    val tok = Gen.oneOf("a", "b", "c", "d")
    val doc = Gen.chooseNum(3, 9).flatMap(n =>
      Gen.listOfN(n, tok).map(_.mkString(" ")))
    val corpus = Gen.chooseNum(4, 8).flatMap(k => Gen.listOfN(k, doc))
    val p = Prop.forAll(corpus) { texts =>
      val dir = docsDir(texts.zipWithIndex.map { case (t, i) =>
        (i.toLong, t, "en", t.length.toLong) })
      val sh = Tables.load(spark, dir, "documents")
        .select($"doc_id", explode(array_distinct(
          graft.functions.WordNGrams.ngrams(
            graft.functions.TextFunctions.tokens($"text"), 3))).as("shingle"))
      val sets = sh.groupBy($"doc_id")
        .agg(sort_array(collect_list($"shingle")).as("sset"), count(lit(1)).as("n"))
      val brute = sets.as("a").crossJoin(sets.as("b"))
        .filter($"a.doc_id" < $"b.doc_id")
        .withColumn("sh", size(array_intersect($"a.sset", $"b.sset")))
        .filter($"sh" * 5 >= ($"a.n" + $"b.n" - $"sh") * 3)
        .select($"a.doc_id", $"b.doc_id", $"sh")
        .as[(Long, Long, Int)].collect().toSeq.sorted
      val pruned = Dedup.prefixJaccardPairs(spark, dir)
        .select($"doc_a", $"doc_b", $"n_shared")
        .as[(Long, Long, Long)].collect().toSeq.sorted
      pruned.map(t => (t._1, t._2, t._3.toInt)) == brute
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(12), p)
    assert(res.passed, res.status.toString)
  }

  test("dedupReport: exact and near-dup counts per source, clean source zeroes") {
    val dir = java.nio.file.Files.createTempDirectory("graft-drep").toString
    Seq(
      (1L, "x y z w", "en", "feedA", 7L),
      (2L, "x y z w", "en", "feedA", 7L), // exact dup of 1 (and near-dup)
      (3L, "totally different text here", "en", "feedA", 27L),
      (4L, "unique one two three", "en", "feedB", 20L),
      (5L, "another unique document four", "en", "feedB", 28L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = graft.operators.Dedup.dedupReport(spark, dir)
      .as[(String, Long, Long, Double, Long, Double)].collect().toSeq
    assert(out === Seq(
      ("feedA", 3L, 1L, 0.333333, 2L, 0.666667),
      ("feedB", 2L, 0L, 0.0, 0L, 0.0)))
  }

  test("scriptProfile: dominant scripts, fixed-order ties, mojibake fraction") {
    val dir = docsDir(Seq(
      (1L, "Привет мир", "ru", 10L),       // 9 cyrillic / 10 chars
      (2L, "你好世界", "zh", 4L),           // all cjk
      (3L, "hello мир", "en", 9L),          // latin 5 >= cyrillic 3 -> latin
      (4L, "ab\u0001\uFFFD", "en", 4L),     // 2 bad chars of 4
      (5L, "....", "en", 4L)))              // no script chars at all
    val out = TextAnalysis.scriptProfile(spark, dir)
      .select($"doc_id", $"cyrillic_frac", $"cjk_frac", $"bad_frac", $"script")
      .as[(Long, Double, Double, Double, String)].collect()
      .map(r => r._1 -> r).toMap
    assert(out(1L)._5 === "cyrillic" && out(1L)._2 === 0.9)
    assert(out(2L)._5 === "cjk" && out(2L)._3 === 1.0)
    assert(out(3L)._5 === "latin")
    assert(out(4L)._4 === 0.5)
    assert(out(5L)._5 === "none")
  }

  test("mergeableAggs equals the direct one-pass aggregate on random events (property)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import org.apache.spark.sql.functions._
    val evGen = Gen.listOfN(30, for {
      u <- Gen.chooseNum(1L, 5L)
      day <- Gen.chooseNum(0L, 9L)
      typ <- Gen.oneOf("view", "click", "purchase")
      v <- Gen.chooseNum(-500, 500).map(_ / 100.0)
    } yield (u, day, typ, v))
    val p = Prop.forAll(evGen) { evs =>
      val dir = starDir(
        orders = Seq((1L, 1L, "O", 1.0, 86400000L)),
        lineitem = Seq((1L, 1L)),
        events = evs.zipWithIndex.map { case ((u, d, t, v), i) =>
          ((i + 1).toLong, d * 86400000L, u, t, v) })
      val merged = graft.operators.Events.mergeableAggs(spark, dir)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
          r.getDouble(3), r.getDouble(4), r.getDouble(5))).toSeq
      val dec = org.apache.spark.sql.types.DecimalType(28, 6)
      val direct = graft.Tables.load(spark, dir, "events")
        .groupBy(col("event_type")).agg(
          count(lit(1)).as("n"),
          sum(col("value").cast(dec)).cast("double").as("total"),
          min(col("value")).as("min_value"),
          max(col("value")).as("max_value"))
        .withColumn("avg_value", round(col("total") / col("n"), 6))
        .orderBy(col("event_type"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
          r.getDouble(3), r.getDouble(4), r.getDouble(5))).toSeq
      merged == direct
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(10), p)
    assert(res.passed, res.status.toString)
  }

  test("cupedReadout: adjustment shifts arm means by theta times covariate gap") {
    // days 0-3 -> mid = 2: days 0,1 are pre, 2,3 are post. Four
    // users, pre/post values chosen with nonzero pre variance.
    val fixture = Seq( // (user, day, value)
      (1L, 0L, 10.0), (1L, 2L, 20.0),
      (2L, 1L, 30.0), (2L, 3L, 40.0),
      (3L, 0L, 50.0), (3L, 2L, 60.0),
      (4L, 1L, 20.0), (4L, 3L, 10.0))
    val dir = starDir(
      orders = Seq((1L, 1L, "O", 1.0, 86400000L)),
      lineitem = Seq((1L, 1L)),
      events = fixture.zipWithIndex.map { case ((u, d, v), i) =>
        ((i + 1).toLong, d * 86400000L, u, "view", v) })
    val got = graft.operators.Events.cupedReadout(spark, dir)
      .as[(Int, Long, Double, Double, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    // independent reference in plain doubles (1e-5 tolerance absorbs
    // the 6dp round-then-decimal machinery)
    val xs = fixture.filter(_._2 < 2).map(r => r._1 -> r._3).toMap
    val ys = fixture.filter(_._2 >= 2).map(r => r._1 -> r._3).toMap
    val users = Seq(1L, 2L, 3L, 4L)
    val n = users.size
    val (sx, sy) = (users.map(xs).sum, users.map(ys).sum)
    val theta = (n * users.map(u => xs(u) * ys(u)).sum - sx * sy) /
      (n * users.map(u => xs(u) * xs(u)).sum - sx * sx)
    val xbar = sx / n
    def arm(u: Long): Int =
      (graft.functions.PortableHash.md5PairJvm(u.toString)._1 % 2).toInt
    for (v <- users.map(arm).distinct) {
      val us = users.filter(arm(_) == v)
      val rawMean = us.map(ys).sum / us.size
      val adjMean = us.map(u => ys(u) - theta * (xs(u) - xbar)).sum / us.size
      assert(got(v)._2 === us.size.toLong)
      assert(math.abs(got(v)._4 - rawMean) < 1e-5)
      assert(math.abs(got(v)._5 - adjMean) < 1e-5)
    }
  }

  test("negativeSamples: hash-ordered never-purchased parts, purchased excluded") {
    val dir = starDir(
      orders = Seq((1L, 1L, "O", 1.0, 86400000L), (2L, 2L, "O", 1.0, 86400000L)),
      lineitem = Seq((1L, 10L), (2L, 20L)), // c1 bought p10, c2 bought p20
      events = Seq((1L, 1000L, 1L, "view", 0.0)))
    Seq(1L, 2L).map(ck => (ck, s"c$ck", 1, 0.0, "BUILDING"))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    Seq(10L, 20L, 30L).map(pk => (pk, "part", "B", "t", 1, 1.0))
      .toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size",
        "p_retailprice")
      .write.mode("overwrite").parquet(s"$dir/part.parquet")
    Iterate.clearMemo()
    val out = graft.operators.Graph
      .negativeSamples(spark, dir, custPct = 100, k = 2)
      .as[(Long, Int, Long)].collect().toSeq
    // expected order from an independent JVM md5 of "cust|part" (the
    // first digest word IS md5Long32's first-8-hex-digit value)
    def h(c: Long, p: Long): Long =
      graft.functions.PortableHash.md5PairJvm(s"$c|$p")._1
    val expect = Seq(1L -> Seq(20L, 30L), 2L -> Seq(10L, 30L)).flatMap {
      case (c, parts) =>
        parts.sortBy(p => (h(c, p), p)).take(2).zipWithIndex.map {
          case (p, i) => (c, i + 1, p) }
    }
    assert(out === expect)
    // the purchased pair never leaks into its owner's negatives
    assert(!out.contains((1L, 1, 10L)) && !out.contains((1L, 2, 10L)))
  }

  test("personalizedPagerank: mass stays on the seed component; all-seeds = pagerank") {
    // two disconnected co-purchase components: {10-20} and {30-40};
    // seed brand covers only part 10. nSeeds=1: r0(10)=1e12,
    // tel(10)=150000000000. it1: r(20) = 0 + 17*1e12 div 20 = 85e10;
    // r(10) = tel only; the 30-40 component never sees mass.
    val dir = starDir(
      orders = Seq((1L, 1L, "O", 1.0, day1), (2L, 1L, "O", 1.0, day1)),
      lineitem = Seq((1L, 10L), (1L, 20L), (2L, 30L), (2L, 40L)),
      events = Seq((1L, 1000L, 1L, "view", 0.0)))
    Seq((10L, "BrandS"), (20L, "BrandX"), (30L, "BrandX"), (40L, "BrandX"))
      .map { case (pk, b) => (pk, "p", b, "t", 1, 1.0) }
      .toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size",
        "p_retailprice")
      .write.mode("overwrite").parquet(s"$dir/part.parquet")
    Iterate.clearMemo()
    val out = graft.operators.Graph
      .personalizedPagerank(spark, dir, seedBrand = "BrandS", iters = 1)
      .as[(Long, Boolean, Long)].collect().toSeq
    assert(out === Seq(
      (20L, false, 850000000000L),
      (10L, true, 150000000000L),
      (30L, false, 0L), (40L, false, 0L)))

    // degenerate check of the shared fixpoint: when EVERY node is a
    // seed the personal teleport vector is uniform — PPR must equal
    // classic pagerank rank-for-rank
    val dir2 = starDir(
      orders = Seq((1L, 1L, "O", 1.0, day1), (2L, 1L, "O", 1.0, day1)),
      lineitem = Seq((1L, 10L), (1L, 20L), (2L, 30L), (2L, 40L)),
      events = Seq((1L, 1000L, 1L, "view", 0.0)))
    Seq(10L, 20L, 30L, 40L).map(pk => (pk, "p", "BrandS", "t", 1, 1.0))
      .toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size",
        "p_retailprice")
      .write.mode("overwrite").parquet(s"$dir2/part.parquet")
    Iterate.clearMemo()
    val ppr = graft.operators.Graph
      .personalizedPagerank(spark, dir2, seedBrand = "BrandS", iters = 3)
      .select($"p_partkey", $"rank_e12").as[(Long, Long)].collect().toSeq
    val pr = graft.operators.Graph.pagerank(spark, dir2, iters = 3)
      .select($"p_partkey", $"rank_e12").as[(Long, Long)].collect().toSeq
    assert(ppr === pr)
  }

  test("weightedMedian: cumulative-weight crossing picks the median dollar's qty") {
    val dir = java.nio.file.Files.createTempDirectory("graft-wmed").toString
    val ship = java.sql.Timestamp.valueOf("2024-01-02 00:00:00")
    // B1 (qty, price): (1,10) (2,30) (3,10) — total 50, cumulative in
    // qty order 10/40/50; first 2·cw ≥ 50 is qty 2 (2·40=80): the
    // cheap qty-1 line holds 20% of the weight, so the UNWEIGHTED
    // median (2) and weighted median coincide here but the crossing
    // row is picked by weight, pinned by B2's singleton below.
    Seq((1L, 10L, 1L, 1, 1.0, 10.0), (1L, 10L, 1L, 2, 2.0, 30.0),
        (2L, 10L, 1L, 1, 3.0, 10.0), (3L, 11L, 1L, 1, 5.0, 7.0))
      .map { case (ok, pk, sk, ln, q, px) =>
        (ok, pk, sk, ln, q, px, 0.0, 0.0, "N", "O", ship) }
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    Seq((10L, "p", "B1", "t", 1, 1.0), (11L, "q", "B2", "t", 1, 1.0))
      .toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size",
        "p_retailprice")
      .write.mode("overwrite").parquet(s"$dir/part.parquet")
    val out = Curation.weightedMedian(spark, dir)
      .as[(String, Double, Double, Long)].collect().toSeq
    assert(out === Seq(("B1", 2.0, 50.0, 3L), ("B2", 5.0, 7.0, 1L)))
  }
}
