package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.tools.DupCheck

/** The duplicate-operator screen, wired into `sbt test` (round-12
  * verdict: three near-duplicates were caught only by manual review —
  * q470, q493, a q508 CUPED draft — and the hand grep that missed one
  * used a silently-dead `a\|b` alternation). No SparkSession: the
  * screen is pure shingle/Jaccard over the registered oracle SQL.
  */
class DupCheckSpec extends AnyFunSuite {

  test("no non-allowlisted oracle pair reaches the duplicate threshold") {
    val hits = DupCheck.flagged(SparkEntry.oracleSql)
    assert(hits.isEmpty, "near-duplicate oracle SQL pairs:\n" +
      hits.map { case (a, b, s) => f"  $s%.3f  $a ~ $b" }.mkString("\n") +
      "\nde-duplicate the operator or add the pair to " +
      "DupCheck.intentionalTwins with its reason")
  }

  test("every intentionalTwins entry names two currently-registered queries") {
    val names = SparkEntry.oracleSql.keySet
    DupCheck.intentionalTwins.keys.foreach { case (a, b) =>
      assert(names.contains(a), s"stale twin entry: $a")
      assert(names.contains(b), s"stale twin entry: $b")
    }
  }

  test("the registry refuses a repeated query name and an empty oracle") {
    import SparkEntry.Query
    val q = Query("q03_popularity", operators.Relational.popularity(_, _), "SELECT 1")
    val e = intercept[IllegalArgumentException](SparkEntry.byName(Seq(q, q)))
    assert(e.getMessage.contains("q03_popularity"))
    intercept[IllegalArgumentException](Query("q999_draft", q.build, " ").oracle)
  }

  test("a seeded synthetic duplicate is caught") {
    // the exact failure mode the screen exists for: someone re-registers
    // an existing operator under a new name with cosmetic edits (alias
    // renames, whitespace, one changed literal)
    val original = SparkEntry.oracleSql("q03_popularity")
    val cosmetic = original
      .replace("AS ", "as ")
      .replace("  ", " ") + " -- draft"
    val entries = Map("q03_popularity" -> original, "q999_draft" -> cosmetic)
    val hits = DupCheck.flagged(entries)
    assert(hits.exists { case (a, b, s) =>
      Set(a, b) == Set("q03_popularity", "q999_draft") && s >= DupCheck.threshold })
  }

  test("no two operator scaladoc first-lines are near-identical") {
    val root = new java.io.File("src/main/scala/graft")
    assume(root.isDirectory) // repo-relative; skip outside the repo
    val docs = DupCheck.scaladocFirstLines(root)
    assert(docs.size > 400, s"doc extraction looks broken: ${docs.size}")
    val hits = DupCheck.flaggedDocs(root)
    assert(hits.isEmpty, "near-duplicate operator summaries:\n" +
      hits.map { case (a, b, s) => f"  $s%.3f  $a ~ $b" }.mkString("\n"))
  }

  test("the doc screen catches a near-verbatim summary") {
    val a = "Kendall tau-b rank concordance between every unordered pair"
    val b = "Kendall tau-b rank concordance between every unordered pairs"
    assert(DupCheck.jaccard(DupCheck.shingles(a), DupCheck.shingles(b)) >=
      DupCheck.docThreshold)
  }

  test("no two registered queries compile to the same canonicalized plan") {
    val spark = SharedSpark.spark
    val groups = DupCheck.samePlanGroups(spark, "/root/testdata/sf0.001")
    assert(groups.isEmpty, "same-plan query groups (the operator tree is " +
      "identical — one of each group is a re-registration):\n" +
      groups.map(_.mkString("  ", " == ", "")).mkString("\n"))
  }

  test("the plan screen catches a seeded same-plan duplicate") {
    val spark = SharedSpark.spark
    val dir = "/root/testdata/sf0.001"
    // two INDEPENDENT builds of the same query: fresh analysis assigns
    // fresh exprIds throughout — only exprId normalization makes the
    // digests collide, which is exactly the re-registration failure mode
    val a = SparkEntry.queries("q10_filters")(spark, dir)
    val b = SparkEntry.queries("q10_filters")(spark, dir)
    assert(DupCheck.planDigest(a) === DupCheck.planDigest(b))
    // and a REAL difference (one more filter) digests apart
    import org.apache.spark.sql.functions.lit
    assert(DupCheck.planDigest(a.filter(lit(true))) !==
      DupCheck.planDigest(b))
  }

  test("closure kernels are part of the digest (the q244/q295 first-run catch)") {
    val spark = SharedSpark.spark
    val dir = "/root/testdata/sf0.001"
    // aHash vs pHash: identical operator trees, the entire difference
    // is the mapPartitions kernel — the screen's first run collided
    // them because canonicalization ignores closures
    val a = SparkEntry.queries("q244_image_ahash_dups")(spark, dir)
    val b = SparkEntry.queries("q295_image_phash_dups")(spark, dir)
    assert(DupCheck.planDigest(a) !== DupCheck.planDigest(b))
    // a rebuilt closure-bearing plan still digests equal to itself
    val a2 = SparkEntry.queries("q244_image_ahash_dups")(spark, dir)
    assert(DupCheck.planDigest(a) === DupCheck.planDigest(a2))
  }

  test("every planScreenExclusions entry names a currently-registered query") {
    val names = SparkEntry.queries.keySet
    DupCheck.planScreenExclusions.keys.foreach { n =>
      assert(names.contains(n), s"stale plan-screen exclusion: $n")
    }
  }

  test("jaccard and the size-ratio prefilter agree on known values") {
    val a = DupCheck.shingles("SELECT x FROM t GROUP BY x")
    assert(DupCheck.jaccard(a, a) == 1.0)
    val b = DupCheck.shingles("SELECT y FROM u WHERE y > 0")
    assert(DupCheck.jaccard(a, b) < 0.5)
    // disjoint short strings
    assert(DupCheck.jaccard(Set("abcde"), Set("fghij")) == 0.0)
  }
}

/** Orchestrator plumbing: the chunk-merge path parses child
  * bench_detail.json lines with flat-section regexes; this pins the
  * format contract so a detail-line change cannot silently zero a
  * chunk (parseDetail returns None on ANY missing query, triggering
  * the single-JVM fallback rather than a short total).
  */
class BenchParseSpec extends org.scalatest.funsuite.AnyFunSuite {
  val detail = """{"metric":"bench_detail","reps":3,""" +
    """"queries":{"q01_a":1.500,"q02_b":null,"x01_c":0.250},""" +
    """"runs":{"q01_a":[1.400,1.500,1.600],"q02_b":[],"x01_c":[0.250]},""" +
    """"spread":{"q01_a":0.200,"q02_b":0.000,"x01_c":0.000},""" +
    """"isolated":{},"failed":["q02_b"],"sf":"/tmp/x"}"""

  test("section extracts flat dicts and arrays") {
    assert(Bench.section(detail, "queries").contains("\"q01_a\":1.500"))
    assert(Bench.section(detail, "failed") === "\"q02_b\"")
    assert(Bench.section(detail, "isolated") === "")
  }

  test("parseDetail round-trips medians, runs and failure flags") {
    val r = Bench.parseDetail(detail, Seq("q01_a", "q02_b", "x01_c"))
    assert(r.isDefined)
    val byName = r.get.map(x => x._1 -> x).toMap
    assert(byName("q01_a")._2 === 1.5)
    assert(byName("q01_a")._3 === Seq(1.4, 1.5, 1.6))
    assert(byName("q01_a")._4 === true)
    assert(byName("q02_b")._4 === false)
    assert(byName("x01_c")._2 === 0.25)
  }

  test("parseDetail refuses a detail line missing a requested query") {
    assert(Bench.parseDetail(detail, Seq("q01_a", "q99_missing")).isEmpty)
  }
}
