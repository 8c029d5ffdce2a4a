package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Curation, Events, TextAnalysis}

/** Round-3 operators' unit rows: repetition signals and bigram-LM on
  * degenerate documents, ordered window analytics at partition
  * boundaries, histogram quantiles' error bound, and the q56 scoring
  * join's AQE skew-split (the Zipf-hot function-word path).
  */
class TextOpsSpec extends AnyFunSuite {

  test("langConfusion: cells sum back to per-doc agreement and label totals") {
    import SharedSpark.spark.implicits._
    val sf = "/root/testdata/sf0.001"
    val cells = graft.operators.TextAnalysis.langConfusion(SharedSpark.spark, sf)
      .as[(String, String, Long, Long, Double)].collect().toSeq
    val perDoc = graft.operators.TextAnalysis.langIdQuery(SharedSpark.spark, sf)
      .as[(Long, String, String, Int)].collect().toSeq
    // label totals recompose
    cells.groupBy(_._1).foreach { case (lang, cs) =>
      assert(cs.map(_._3).sum === cs.head._4)
      assert(cs.head._4 === perDoc.count(_._2 == lang))
    }
    // diagonal mass == total agreement count from the graded q22 output
    val diag = cells.filter(c => c._1 == c._2).map(_._3).sum
    assert(diag === perDoc.map(_._4.toLong).sum)
  }
  lazy val spark = SharedSpark.spark
  import spark.implicits._

  /** Stage a crafted documents table (full schema) in a temp dir. */
  private def docsDir(rows: Seq[(Long, String)], nFiles: Int = 1): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-docs").toString
    rows.map { case (id, text) => (id, text, "en", "unit", text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartition(nFiles)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("repetitionSignals: <2-token docs yield NULL fractions") {
    val dir = docsDir(Seq(
      (1L, ""),            // 0 tokens
      (2L, "solo"),        // 1 token: no bigrams, dup_token_frac 0
      (3L, "a a a"),       // all-duplicate: top bigram covers all
      (4L, "w x y z")))    // all-distinct
    val out = TextAnalysis.repetitionSignals(spark, dir)
      .as[(Long, Int, Option[Double], Option[Double], Option[Double])]
      .collect().toSeq
    assert(out === Seq(
      (1L, 0, None, None, None),
      (2L, 1, Some(0.0), None, None),
      (3L, 3, Some(0.666667), Some(1.0), Some(0.5)),
      (4L, 4, Some(0.0), Some(0.333333), Some(0.0))))
  }

  test("bigramLm: <2-token docs carry 0 bigrams and NULL entropy") {
    // corpus: one real bigram (a,b); vocab {a,b,x} so
    // P(b|a) = (1+1)/(1+3) = 0.5, lp = round(log10 .5, 6) = -0.30103
    val dir = docsDir(Seq((1L, "a b"), (2L, "x"), (3L, "")))
    val out = TextAnalysis.bigramLm(spark, dir)
      .as[(Long, Long, Option[Double])].collect().toSeq
    assert(out === Seq(
      (1L, 1L, Some(0.30103)),
      (2L, 0L, None),
      (3L, 0L, None)))
  }

  test("windowAnalytics: gap/lead NULL at partition boundaries, exact frames") {
    val dir = java.nio.file.Files.createTempDirectory("graft-wevents").toString
    def t(ms: Long) = new java.sql.Timestamp(ms)
    Seq(
      (1L, t(1000), 1L, "click", 1.5, "{}"),
      (2L, t(4000), 1L, "view", 2.25, "{}"),
      (3L, t(4000), 1L, "buy", 0.25, "{}"),   // ts tie -> event_id tiebreak
      (4L, t(9000), 2L, "click", 3.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = Events.windowAnalytics(spark, dir)
      .select($"user_id", $"event_id", $"seq", $"gap_ms", $"next_type",
        $"running_value", $"moving_avg3")
      .as[(Long, Long, Int, Option[Long], Option[String], Double, Double)]
      .collect().toSeq
    assert(out === Seq(
      (1L, 1L, 1, None, Some("view"), 1.5, 1.5),
      (1L, 2L, 2, Some(3000L), Some("buy"), 3.75, 1.875),
      (1L, 3L, 3, Some(0L), None, 4.0, 1.333333),
      (2L, 4L, 1, None, None, 3.0, 3.0)))
  }

  test("lengthQuantilesHist: bin upper bounds, within binWidth of exact") {
    val sf = "/root/testdata/sf0.001"
    val exact = Curation.lengthQuantiles(spark, sf)
      .select($"lang", $"median_chars", $"p90_chars")
      .as[(String, Long, Long)].collect()
      .map { case (l, m, p) => l -> (m, p) }.toMap
    val hist = Curation.lengthQuantilesHist(spark, sf)
      .select($"lang", $"median_chars_ub", $"p90_chars_ub")
      .as[(String, Long, Long)].collect()
    assert(hist.nonEmpty)
    hist.foreach { case (lang, medUb, p90Ub) =>
      val (med, p90) = exact(lang)
      assert(medUb >= med && medUb - med < 64, s"$lang median: $medUb vs $med")
      assert(p90Ub >= p90 && p90Ub - p90 < 64, s"$lang p90: $p90Ub vs $p90")
    }
  }

  test("WordNGrams equals the composable transform form (property)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import graft.functions.WordNGrams
    val tok = Gen.oneOf(
      Gen.alphaNumStr.map(s => if (s.isEmpty) "t" else s.take(6)),
      Gen.const("日本語"), Gen.const("😀"), Gen.const("x"))
    val gen = for {
      n <- Gen.chooseNum(1, 4)
      len <- Gen.chooseNum(n, 10)
      toks <- Gen.listOfN(len, tok)
    } yield (n, toks)
    val p = Prop.forAll(gen) { case (n, toks) =>
      val df = Seq(Tuple1(toks)).toDF("toks").withColumn("m", size($"toks"))
      val fused = df.select(WordNGrams.ngrams($"toks", n).as("g"))
        .as[Seq[String]].head()
      val composable = df.select(expr(
        s"transform(sequence(0, m - $n), i -> concat_ws(' ', slice(toks, i + 1, $n)))"
      ).as("g")).as[Seq[String]].head()
      fused == composable
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(30), p)
    assert(res.passed, res.status.toString)
    // below-width arrays yield an EMPTY array (the composable form's
    // descending sequence() would misbehave there; callers pre-filter)
    val short = Seq(Tuple1(Seq("only"))).toDF("toks")
      .select(graft.functions.WordNGrams.ngrams($"toks", 3).as("g"))
      .as[Seq[String]].head()
    assert(short === Seq.empty)
  }

  test("ArrayMaxFreq / ArrayCountIn equal their composable forms (property)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val tok = Gen.oneOf("a", "b", "c", "der", "und", "日本")
    val gen = Gen.listOf(tok)
    val words = Seq("der", "und", "a")
    val p = Prop.forAll(gen) { toks =>
      val df = Seq(Tuple1(toks)).toDF("toks")
      val fused = df.select(
        graft.functions.ArrayMaxFreq.maxFreq($"toks").as("mf"),
        graft.functions.ArrayCountIn.countIn($"toks", words).as("ci"))
        .as[(Option[Long], Long)].head()
      val expectMf = if (toks.isEmpty) None
        else Some(toks.groupBy(identity).values.map(_.length).max.toLong)
      val expectCi = toks.count(words.contains).toLong
      fused == ((expectMf, expectCi))
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(30), p)
    assert(res.passed, res.status.toString)
  }

  test("decontamination: >=minShared distinct shared trigrams flags a doc") {
    // pick ids by their md5 bucket so the eval/corpus split is known
    val buckets = spark.range(1, 200)
      .select($"id", (graft.functions.PortableHash.md5Long32($"id") % 100).as("b"))
      .as[(Long, Long)].collect().toMap
    val evalId = buckets.collectFirst { case (id, b) if b < 2 => id }.get
    val corpusIds = buckets.collect { case (id, b) if b >= 2 => id }.toSeq.sorted
    val Seq(cA, cB, cC) = corpusIds.take(3)
    val dir = docsDir(Seq(
      (evalId, "w1 w2 w3 w4 w5"),   // eval: trigrams w123 w234 w345
      (cA, "w1 w2 w3 w4 w5 w1 w2 w3"), // shares 3 distinct -> flagged
      (cB, "w1 w2 w3 w4"),          // shares 2 -> below threshold
      (cC, "x1 x2 x3 x4 x5")))      // disjoint
    val out = graft.operators.Dedup.decontamination(spark, dir)
      .as[(Long, Long)].collect().toSeq
    assert(out === Seq((cA, 3L)))
  }

  test("decontamination plans a broadcast of the eval trigram set") {
    // the 100 TB guarantee: the screen is a map-side join against the
    // (small) benchmark n-gram set — a shuffle on the raw trigram
    // would carry the whole corpus
    val out = graft.operators.Dedup.decontamination(spark, "/root/testdata/sf0.001")
    out.collect()
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastExchange"), s"no broadcast:\n$plan")
  }

  test("mixRebalance: weighted quotas, availability caps, deterministic") {
    val dir = java.nio.file.Files.createTempDirectory("graft-mix").toString
    val rows = (1 to 30).map(i => (i.toLong, s"doc $i", "en", "unit", 5L)) ++
      Seq((100L, "nur eins", "de", "unit", 8L))
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val weights = Seq("en" -> 0.5, "de" -> 0.5)
    def run() = graft.operators.Curation
      .mixRebalance(spark, dir, budget = 8, weights = weights)
      .as[(String, Int, Long)].collect().toSeq
    val out = run()
    // en: quota 4 of 30 available; de: quota 4 but only 1 available
    assert(out.count(_._1 == "en") === 4)
    assert(out.count(_._1 == "de") === 1)
    assert(out.filter(_._1 == "en").map(_._2) === Seq(1, 2, 3, 4))
    assert(run() === out) // rerun-stable (hash order, not rand())
    // the literal max-quota bound plans the partial WindowGroupLimit
    // (the per-lang CASE bound alone would be opaque to the rule)
    val plan = graft.operators.Curation
      .mixRebalance(spark, dir, budget = 8, weights = weights)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), s"no WindowGroupLimit:\n$plan")
  }

  test("bigramLm scoring join: AQE splits the Zipf-hot w1 partition") {
    // corpus where one function-word bigram dominates — the documented
    // 100 TB risk on the (w1, w2) scoring join; prove the stated
    // mitigation (AQE skew-split) actually fires on this exact query
    // the hot rows are near-identical, so the shuffle blocks compress
    // hard — thresholds must sit below the COMPRESSED hot-partition
    // size for the split to trigger on this small corpus
    val hot = Seq.tabulate(400) { i => (i.toLong, ("the " * 400) + s"u$i") }
    // several input files + a small split cap => several MAP tasks:
    // AQE can only split a skewed reduce partition at map-block
    // granularity, so a single-mapper shuffle is unsplittable
    val dir = docsDir(hot, nFiles = 8)
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.files.maxPartitionBytes" -> "8MB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "1KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1KB",
      "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val out = TextAnalysis.bigramLm(spark, dir)
      assert(out.collect().length === hot.length)
      val plan = out.queryExecution.executedPlan.toString
      assert(plan.contains("isFinalPlan=true"))
      assert(plan.contains("skew=true"), s"no skew split in final plan:\n$plan")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("NfcNormalize: combining marks compose; ASCII is identity (property)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import graft.functions.NfcNormalize
    // decomposed (base + combining mark) pairs vs their precomposed twins,
    // written as explicit escapes so source encoding can't collapse them
    val combining = Gen.oneOf(
      "e\u0301" -> "\u00e9",   // e + acute -> LATIN SMALL LETTER E WITH ACUTE
      "a\u0308" -> "\u00e4",   // a + diaeresis
      "n\u0303" -> "\u00f1",   // n + tilde
      "o\u0302" -> "\u00f4",   // o + circumflex
      "A\u030a" -> "\u00c5")   // A + ring above
    val gen = for {
      pre <- Gen.alphaNumStr.map(_.take(8))
      cs <- Gen.listOfN(3, combining)
      post <- Gen.alphaNumStr.map(_.take(8))
    } yield (pre + cs.map(_._1).mkString + post,
             pre + cs.map(_._2).mkString + post)
    val p = Prop.forAll(gen) { case (decomposed, precomposed) =>
      val out = Seq(decomposed, precomposed, "plain ascii").toDF("s")
        .select(NfcNormalize.nfcCol($"s").as("n"))
        .as[String].collect().toSeq
      out(0) == precomposed && out(1) == precomposed && out(2) == "plain ascii"
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(30), p)
    assert(res.passed, res.status.toString)
  }

  test("exactNormalized: NFC-equivalent spellings land in one dup group") {
    val dir = docsDir(Seq(
      (1L, "caf\u00e9 au lait"),       // precomposed e-acute
      (2L, "cafe\u0301 au lait"),      // e + combining acute — same text
      (3L, "cafe au lait")))           // genuinely different (no accent)
    val out = graft.operators.Dedup.exactNormalized(spark, dir)
      .select($"doc_id", $"nfc_changed", $"rep_id", $"is_dup")
      .as[(Long, Int, Long, Int)].collect().toSeq
    assert(out === Seq(
      (1L, 0, 1L, 0),    // already NFC, representative of its group
      (2L, 1, 1L, 1),    // rewritten by NFC, deduped against doc 1
      (3L, 0, 3L, 0)))   // accentless text stays its own group
  }

  test("exactNormalized: casefold is ASCII-only (engine-portable by construction)") {
    // ASCII case differences merge; non-ASCII case differences do NOT —
    // JVM lower() and utf8proc lower() can disagree on exotic mappings
    // (U+0130 LATIN CAPITAL I WITH DOT ABOVE expands to i + combining
    // dot in one engine, maps 1:1 in another), so q82 folds only A-Z
    val dir = docsDir(Seq(
      (1L, "CAFE au lait"),            // ASCII upper: folds, dups doc 2
      (2L, "cafe au lait"),
      (3L, "İstanbul gezisi"),    // U+0130: untouched by the fold
      (4L, "istanbul gezisi"),         // so it does NOT dup doc 3
      (5L, "CAFÉ au lait")))      // É stays É: not a dup of anything
    val out = graft.operators.Dedup.exactNormalized(spark, dir)
      .select($"doc_id", $"rep_id", $"is_dup")
      .as[(Long, Long, Int)].collect().toSeq
    assert(out === Seq(
      (1L, 1L, 0), (2L, 1L, 1),   // ASCII fold merges
      (3L, 3L, 0), (4L, 4L, 0),   // dotted-I stays distinct
      (5L, 5L, 0)))               // non-ASCII case difference preserved
  }

  test("vocabularyHeavyHitters: MG presence and undercount bounds vs exact") {
    val dir = "/root/testdata/sf0.001"
    val k = 50
    val exact = TextAnalysis.vocabulary(spark, dir)
      .select($"token", $"tf").as[(String, Long)].collect().toMap
    val n = exact.values.sum
    val bound = n / (k + 1)
    val sketch = TextAnalysis.vocabularyHeavyHitters(spark, dir, k)
      .as[(String, Long)].collect().toMap
    assert(sketch.size <= k && sketch.nonEmpty)
    // presence: every true heavy hitter (tf > N/(k+1)) must appear
    exact.foreach { case (t, tf) =>
      if (tf > bound) assert(sketch.contains(t), s"missing heavy hitter $t ($tf > $bound)")
    }
    // estimates never overcount, and undercount by at most N/(k+1)
    sketch.foreach { case (t, est) =>
      val tf = exact.getOrElse(t, 0L)
      assert(est <= tf, s"$t overcounted: $est > $tf")
      assert(tf - est <= bound, s"$t undercounted past the bound: $tf - $est > $bound")
    }
  }

  test("oovRate: late-half tokens outside the early vocab, by hand") {
    val dir = java.nio.file.Files.createTempDirectory("graft-oov").toString
    // early = docs 1,2; late = docs 3,4. en late tokens: a b c NEW ->
    // 1 OOV of 4; fr late: fully covered
    Seq((1L, "a b c", "en"), (2L, "x y", "fr"),
        (3L, "a b c new", "en"), (4L, "x y x", "fr"))
      .map { case (id, text, lang) => (id, text, lang, "s", text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = TextAnalysis.oovRate(spark, dir)
      .as[(String, Long, Long, Double)].collect().toSeq
    assert(got === Seq(("en", 4L, 1L, 0.25), ("fr", 3L, 0L, 0.0)))
  }

  test("collocations: glued pair outranks frequent-but-independent pair") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pmi").toString
    // "new york" always co-occurs (5 times, each word only in the
    // pair); "the cat" co-occurs 5 times but both words also roam free
    val glued = Seq.fill(5)("new york").mkString(" the ")
    val loose = (Seq.fill(5)("the cat") ++ Seq.fill(5)("cat naps") ++
      Seq.fill(5)("the dog")).mkString(" ")
    Seq((1L, glued), (2L, loose))
      .map { case (id, text) => (id, text, "en", "s", text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = TextAnalysis.collocations(spark, dir, minCount = 5, topK = 5)
      .as[(Int, String, String, Long, Double)].collect().toSeq
    assert(got.head._2 === "new" && got.head._3 === "york" && got.head._4 === 5L)
    val pairs = got.map(r => (r._2, r._3))
    val pmiOf = got.map(r => ((r._2, r._3), r._5)).toMap
    assert(pairs.contains(("the", "cat")))
    assert(pmiOf(("new", "york")) > pmiOf(("the", "cat")))
  }

  test("ngramDiversity: hand-computed trigram counts, short docs drop out") {
    // doc 1: trigrams [a b c, b c a, c a b, a b c] -> total 4, distinct 3,
    // hapax 2 (b-c-a, c-a-b); doc 2 has <3 tokens and contributes nothing
    val dir = docsDir(Seq((1L, "a b c a b c"), (2L, "x y")))
    val out = TextAnalysis.ngramDiversity(spark, dir)
      .as[(String, Long, Long, Long, Double, Double)].collect().toSeq
    assert(out === Seq(("unit", 4L, 3L, 2L, 0.75, 0.666667)))
  }

  test("heapsFit: all-unique corpus fits beta 1 with r2 1; saturated corpus fits beta 0") {
    // 300 docs, every token globally unique -> cum_types == cum_tokens
    // at every bucket -> the log-log fit is exactly y = x
    val uniq = (1 to 300).map(i => (i.toLong, s"u${i}a u${i}b u${i}c"))
    val d1 = docsDir(uniq)
    val r1 = TextAnalysis.heapsFit(spark, d1)
      .as[(Long, Double, Double, Option[Double])].collect().head
    assert(r1 === ((4L, 1.0, 0.0, Some(1.0)))) // docs 1..300 span 4 buckets
    // one token repeated everywhere -> vocabulary saturates at bucket 0;
    // zero y-variance nulls r2 (the degenerate-fit contract)
    val sat = (1 to 300).map(i => (i.toLong, "same same same"))
    val r2 = TextAnalysis.heapsFit(spark, docsDir(sat))
      .as[(Long, Double, Double, Option[Double])].collect().head
    assert(r2._2 === 0.0 && r2._1 === 4L && r2._4.isEmpty)
  }

  test("pplBuckets: tertiles balanced and ordered head <= middle <= tail") {
    val out = TextAnalysis.pplBuckets(SharedSpark.spark, "/root/testdata/sf0.001")
      .as[(String, String, Long, Double, Double, Double)].collect().toSeq
    assert(out.nonEmpty)
    out.groupBy(_._1).foreach { case (lang, rows) =>
      val m = rows.map(r => r._2 -> r).toMap
      // ntile balance: sizes differ by at most 1
      assert(rows.map(_._3).max - rows.map(_._3).min <= 1, s"$lang unbalanced")
      // the CE envelope is ordered across buckets
      for {
        h <- m.get("head"); mid <- m.get("middle")
      } assert(h._5 <= mid._4 + 1e-9, s"$lang head/middle overlap")
      for {
        mid <- m.get("middle"); t <- m.get("tail")
      } assert(mid._5 <= t._4 + 1e-9, s"$lang middle/tail overlap")
      rows.foreach(r => assert(r._4 <= r._6 && r._6 <= r._5 + 1e-9))
    }
  }

  test("goodTuringVocab: hand-counted singleton/doubleton estimates") {
    // en: tokens a a b c -> N=4 V=3 N1=2 N2=1
    //   p_unseen = 2/4 = 0.5 ; chao1 = 3 + 2*1/(2*2) = 3.5
    val dir = java.nio.file.Files.createTempDirectory("graft-gt").toString
    Seq((1L, "a a b", "en"), (2L, "c", "en"), (3L, "x x", "de"))
      .map { case (id, text, lang) => (id, text, lang, "unit", text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = TextAnalysis.goodTuringVocab(spark, dir)
      .as[(String, Long, Long, Long, Long, Double, Double)].collect().toSeq
    // de: tokens x x -> N=2 V=1 N1=0 N2=1 -> p_unseen 0, chao1 = 1.0
    assert(out === Seq(
      ("de", 2L, 1L, 0L, 1L, 0.0, 1.0),
      ("en", 4L, 3L, 2L, 1L, 0.5, 3.5)))
  }

  test("winnowCandidates: the w+k-1 detection guarantee holds regardless of alignment") {
    import graft.operators.Dedup
    // docs 1/2 share an 8-token run (= w+k-1 for k=4, w=5) at
    // DIFFERENT offsets amid disjoint filler -> a full common hash
    // window exists, its min is selected by both, the pair MUST
    // surface; doc 3 shares nothing and must stay out
    val run = "alpha bravo charlie delta echo foxtrot golf hotel"
    val dir = docsDir(Seq(
      (1L, s"one two three $run four five six"),
      (2L, s"seven eight $run nine ten eleven twelve"),
      (3L, "completely different words with zero overlap here now")))
    val pairs = Dedup.winnowCandidates(spark, dir, minShared = 1)
      .as[(Long, Long, Long)].collect().toSeq
    assert(pairs.map(p => (p._1, p._2)) === Seq((1L, 2L)))
    // one token short of the guarantee: detection is no longer owed
    // (may or may not pair; with disjoint filler the windows' mins
    // land in the filler) — assert only that nothing crashes and doc 3
    // stays out
    val short7 = "alpha bravo charlie delta echo foxtrot golf"
    val dir2 = docsDir(Seq(
      (1L, s"one two three four five six seven eight $short7"),
      (2L, s"$short7 nine ten eleven twelve thirteen fourteen fifteen"),
      (3L, "completely different words with zero overlap here now")))
    val p2 = Dedup.winnowCandidates(spark, dir2, minShared = 1)
      .as[(Long, Long, Long)].collect().toSeq
    assert(!p2.exists(p => p._1 == 3L || p._2 == 3L))
    // short-doc fallback: twin 4-token docs (< w grams) fingerprint
    // via their single truncated-window min and still pair
    val dir3 = docsDir(Seq(
      (1L, "tiny little dup doc"),
      (2L, "tiny little dup doc"),
      (3L, "other short text here")))
    val p3 = Dedup.winnowCandidates(spark, dir3, minShared = 1)
      .as[(Long, Long, Long)].collect().toSeq
    assert(p3.map(p => (p._1, p._2)) === Seq((1L, 2L)))
  }

  test("invertedIndex: df/tf/capped postings, df-desc top-k, cap binds") {
    // "the": docs 1,2,3 (tf 2+1+1); "cat": docs 1,2 (tf 1+1);
    // "sat": doc 1 only (tf 3)
    val dir = docsDir(Seq(
      (1L, "the cat sat sat sat the"),
      (2L, "the cat"),
      (3L, "the")))
    val out = TextAnalysis.invertedIndex(spark, dir, topTokens = 2,
      postingsCap = 2)
      .as[(String, Long, Long, String)].collect().toSeq
    // top-2 by (df desc, token asc): the(3), cat(2); postings capped
    // to the 2 SMALLEST doc_ids (rank before collect, not after)
    assert(out === Seq(
      ("the", 3L, 4L, "1,2"),
      ("cat", 2L, 2L, "1,2")))
    // the capped-collect plan carries the literal-bounded rank filter:
    // a WindowGroupLimit prunes posting lists map-side before collect
    val plan = TextAnalysis.invertedIndex(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan.take(2000))
  }

  test("bpeMergePairs: counts weight pairs by word frequency") {
    // "aab" ×3 (pairs aa, ab each ×3), "ab" ×2 (ab ×2), "x!y" splits
    // into single chars (no pairs), punctuation/digits are separators
    val dir = docsDir(Seq(
      (1L, "aab aab AB"), (2L, "aab ab x9y"), (3L, "")))
    val out = graft.operators.TextAnalysis.bpeMergePairs(spark, dir)
      .as[(String, Long)].collect().toSeq
    assert(out === Seq(("ab", 5L), ("aa", 3L)))
  }

  test("rakeKeyphrases: stopword-delimited runs, degree/freq hand math") {
    // "for"/"the" are en stopwords. Corpus word stats: deep freq 3
    // degree 6 (all phrases len 2) → ratio 2; learning 2/4 → 2;
    // models 1/2 → 2; alpha freq 2 degree 2 → ratio 1. Phrase scores:
    // "deep learning" = 4 (2 occurrences), "deep models" = 4,
    // "alpha" = 1 (2 single-token runs split by "the").
    val dir = docsDir(Seq(
      (1L, "deep learning for deep models"),
      (2L, "the deep learning"),
      (3L, "alpha the alpha")))
    val out = graft.operators.TextAnalysis.rakeKeyphrases(spark, dir)
      .as[(String, Long, Long, Double)].collect().toSeq
    assert(out === Seq(
      ("deep learning", 2L, 2L, 4.0),
      ("deep models", 2L, 1L, 4.0),
      ("alpha", 1L, 2L, 1.0)))
  }

  test("tokenizerFertility: hand sums, multi-byte chars split bytes from chars") {
    // "ab cd": ws 2, bpe 2, 5 chars/bytes; "a,b": ws 1, bpe 3 (a , b),
    // 3 chars/bytes; "é": ws 1, bpe 1 (symbol class), 1 char, 2 bytes
    val dir = docsDir(Seq((1L, "ab cd"), (2L, "a,b"), (3L, "é")))
    val out = graft.operators.TextAnalysis.tokenizerFertility(spark, dir)
      .as[(String, String, Long, Long, Long, Long, Long, Double, Double,
        Double)].collect().toSeq
    assert(out === Seq(
      ("en", "unit", 3L, 4L, 6L, 9L, 10L, 1.5, 1.666667, 1.5)))
  }

  test("trainBpe: classic greedy merge sequence with lexicographic tiebreaks") {
    val dir = java.nio.file.Files.createTempDirectory("graft-bpe").toString
    // vocab after the corpus aggregate: low x2, lower x1
    Seq((1L, "low low lower"))
      .map { case (id, t) => (id, t, "en", "unit", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val merges = graft.operators.TextAnalysis.trainBpe(spark, dir, nMerges = 3)
      .as[(Int, String, String, Long)].collect().toSeq
    // r1: (l,o)=3 ties (o,w)=3, lex 'l' wins; r2: (lo,w)=3;
    // r3: (low,e)=1 ties (e,r)=1, lex 'e' wins
    assert(merges === Seq((1, "l", "o", 3L), (2, "lo", "w", 3L),
      (3, "e", "r", 1L)))
    // overlap rule: 'aaaa' merges non-overlapping left-to-right, and
    // training EXHAUSTS once the word is one symbol (no phantom rounds)
    Seq((1L, "aaaa"))
      .map { case (id, t) => (id, t, "en", "unit", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val m2 = graft.operators.TextAnalysis.trainBpe(spark, dir, nMerges = 2)
      .as[(Int, String, String, Long)].collect().toSeq
    // r1: (a,a) counted at all 3 adjacencies, merged pairwise -> [aa, aa]
    assert(m2 === Seq((1, "a", "a", 3L), (2, "aa", "aa", 1L)))
    val m10 = graft.operators.TextAnalysis.trainBpe(spark, dir, nMerges = 10)
      .as[(Int, String, String, Long)].collect().toSeq
    assert(m10 === m2)
  }

  test("applyBpe: learned merges tokenize the training corpus consistently") {
    val dir = java.nio.file.Files.createTempDirectory("graft-bpea").toString
    Seq((1L, "low low lower"), (2L, "lower low"))
      .map { case (id, t) => (id, t, "en", "unit", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val docs = graft.Tables.load(spark, dir, "documents")
    val merges = graft.operators.TextAnalysis.trainBpe(spark, dir, nMerges = 2)
      .as[(Int, String, String, Long)].collect().toSeq.map(m => (m._2, m._3))
    // rules (l,o) then (lo,w): "low" -> [low], "lower" -> [low, e, r]
    val out = graft.operators.TextAnalysis.applyBpe(spark, docs, merges)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(out === Seq((1L, 3L, 5L, 1.666667), (2L, 2L, 4L, 2.0)))
  }

  test("BPE fold rewrite equals a reference Scala merge on random words (property)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    def refMerge(syms: List[String], a: String, b: String): List[String] = {
      // textbook left-to-right non-overlapping merge
      syms match {
        case x :: y :: rest if x == a && y == b =>
          (a + b) :: refMerge(rest, a, b)
        case x :: rest => x :: refMerge(rest, a, b)
        case Nil => Nil
      }
    }
    val letter = Gen.oneOf('a', 'b', 'c')
    val word = Gen.listOfN(8, letter).map(_.mkString)
    val p = Prop.forAll(word, letter, letter) { (w: String, ca: Char, cb: Char) =>
      val dir = java.nio.file.Files.createTempDirectory("graft-bpp").toString
      Seq((1L, w)).map { case (id, t) => (id, t, "en", "unit", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val docs = graft.Tables.load(spark, dir, "documents")
      val got = graft.operators.TextAnalysis
        .applyBpe(spark, docs, Seq((ca.toString, cb.toString)))
        .as[(Long, Long, Long, Double)].head()
      val expected = refMerge(w.toList.map(_.toString), ca.toString, cb.toString)
      got._3 == expected.size.toLong
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(15), p)
    assert(res.passed, res.status.toString)
  }

  test("yuleK: hand spectrum — 'a a a b' scores K=3750, hapax 0.5; pure repetition maxes out") {
    val dir = docsDir(Seq((1L, "a a a b")))
    val out = graft.operators.TextAnalysis.yuleK(spark, dir)
      .as[(String, Long, Long, Long, Double, Double)].collect().toSeq
    // N=4, V=2, spectrum {3:1, 1:1}: K = 1e4*(9+1-4)/16 = 3750
    assert(out === Seq(("unit", 4L, 2L, 1L, 3750.0, 0.5)))
    // a one-type corpus: K = 1e4*(N^2-N)/N^2 -> approaches 1e4, no hapax
    val rep = docsDir(Seq((1L, Seq.fill(100)("x").mkString(" "))))
    val r = graft.operators.TextAnalysis.yuleK(spark, rep)
      .as[(String, Long, Long, Long, Double, Double)].collect().head
    assert(r._2 === 100L && r._3 === 1L && r._4 === 0L)
    assert(r._5 === 9900.0 && r._6 === 0.0)
  }

  test("coverageCurve: hand spectrum — powers-of-two checkpoints, final row covers 1.0") {
    // tf: a=4, b=2, c=1, d=1 -> ranks 1..4; buckets k=1:{a} k=2:{b} k=4:{c,d}
    val dir = docsDir(Seq((1L, "a a a a b b c d")))
    val out = graft.operators.TextAnalysis.coverageCurve(spark, dir)
      .as[(Long, Long, Long, Long, Double, Double)].collect().toSeq
    assert(out === Seq(
      (1L, 4L, 8L, 4L, 0.5, 0.5),
      (2L, 4L, 8L, 6L, 0.75, 0.25),
      (4L, 4L, 8L, 8L, 1.0, 0.0)))
    // coverage is monotone and the curve always ends at exactly 1
    assert(out.map(_._5) === out.map(_._5).sorted)
    assert(out.last._5 === 1.0 && out.last._1 === out.last._2)
  }

  test("nbLangConfusion: separable corpus classifies the holdout perfectly") {
    val dir = java.nio.file.Files.createTempDirectory("graft-nb").toString
    // doc_id % 5 == 0 is the holdout fifth; both classes contribute
    // train docs AND one test doc each
    val rows =
      (1L to 5L).map(i => (i, "aaa aaa aab", "aa")) ++
      (11L to 15L).map(i => (i, "bbb bbb bba", "bb"))
    rows.map { case (id, t, lang) => (id, t, lang, "unit", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = graft.operators.TextAnalysis.nbLangConfusion(spark, dir)
      .as[(String, String, Long, Double)].collect().toSeq
    assert(out === Seq(("aa", "aa", 1L, 1.0), ("bb", "bb", 1L, 1.0)))
  }

  test("labelNoiseScreen: clean separable corpus flags nothing; a planted mislabel surfaces with positive margin") {
    val dir = java.nio.file.Files.createTempDirectory("graft-lns").toString
    def write(rows: Seq[(Long, String, String)]): Unit =
      rows.map { case (id, t, lang) => (id, t, lang, "unit", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val clean = (1L to 4L).map(i => (i, "aaa aaa aab", "aa")) ++
      (11L to 14L).map(i => (i, "bbb bbb bba", "bb"))
    write(clean)
    assert(graft.operators.TextAnalysis.labelNoiseScreen(spark, dir)
      .count() === 0L)
    // plant one doc whose text is pure class-bb mass under label aa
    write(clean :+ ((21L, "bbb bbb bba", "aa")))
    val flagged = graft.operators.TextAnalysis.labelNoiseScreen(spark, dir)
      .as[(Long, String, String, Double)].collect().toSeq
    assert(flagged.map(_._1).contains(21L))
    val f = flagged.find(_._1 == 21L).get
    assert(f._2 === "aa" && f._3 === "bb" && f._4 > 0.0)
  }

  test("invertedIndexIncremental: merge(base, delta) equals the full rebuild exactly") {
    val sf = "/root/testdata/sf0.001"
    val inc = graft.operators.TextAnalysis.invertedIndexIncremental(spark, sf)
      .as[(String, Long, Long, String)].collect().toSeq
    val full = graft.operators.TextAnalysis.invertedIndex(spark, sf)
      .as[(String, Long, Long, String)].collect().toSeq
    assert(inc === full)
    assert(inc.nonEmpty)
  }

  test("classifierKappa: chance-correction identity holds; perfect agreement reads kappa 1") {
    val out = graft.operators.TextAnalysis
      .classifierKappa(spark, "/root/testdata/sf0.001")
      .as[(Long, Long, Double, Double, Double)].collect().toSeq
    assert(out.size === 1)
    val (n, agree, po, pe, kappa) = out.head
    assert(n > 0 && agree <= n)
    assert(po >= 0.0 && po <= 1.0 && pe > 0.0 && pe < 1.0)
    assert(kappa >= -1.0 && kappa <= 1.0)
    // the identity recomputes from the row's own (unrounded-within-6dp)
    // parts: kappa ≈ (po − pe) / (1 − pe)
    assert(math.abs(kappa - (po - pe) / (1 - pe)) < 1e-4)
    // a corpus where both mechanisms must agree (every doc pure-'en'
    // stopword mass, labeled en) scores kappa 1? No: one class makes
    // pe = 1 and kappa undefined — use TWO clean classes instead
    val dir = java.nio.file.Files.createTempDirectory("graft-kap").toString
    val rows =
      (1L to 10L).map(i => (i, "the of and to the", "en")) ++
      (11L to 20L).map(i => (i, "der die und das der", "de"))
    rows.map { case (id, t, lang) => (id, t, lang, "unit", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val clean = graft.operators.TextAnalysis.classifierKappa(spark, dir)
      .as[(Long, Long, Double, Double, Double)].collect().head
    assert(clean._3 === 1.0 && clean._5 === 1.0)
  }

  test("compressionRatio: repetition compresses below the flag line, varied prose doesn't") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cmp").toString
    val varied = (1 to 40).map(i => s"w${i * 7919 % 1000}x$i").mkString(" ")
    Seq((1L, "a" * 400), (2L, varied))
      .map { case (id, t) => (id, t, "en", "unit", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = graft.operators.TextAnalysis.compressionRatio(spark, dir)
      .as[(Long, Long, Long, Double, Int)].collect().toSeq
    val byId = out.map(r => r._1 -> r).toMap
    assert(byId(1L)._4 < 0.1 && byId(1L)._5 === 1) // pure repetition
    assert(byId(2L)._4 > byId(1L)._4 && byId(2L)._5 === 0)
    // deterministic: fixed level, reset per doc
    val again = graft.operators.TextAnalysis.compressionRatio(spark, dir)
      .as[(Long, Long, Long, Double, Int)].collect().toSeq
    assert(again === out)
  }
}
