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

  test("a collection-valued expression field is data, not a closure site") {
    val spark = SharedSpark.spark
    import org.apache.spark.sql.functions.{array, col, lit, udf}
    import graft.functions.ArrayCountIn.countIn
    val words = Seq("the", "a", "of")
    def counted(ws: Seq[String]) =
      spark.range(1).select(countIn(array(lit("the"), lit("cat")), ws).as("n"))
    // a List and an ArraySeq of the same words plan the same tree
    assert(DupCheck.planDigest(counted(words.toList)) ===
      DupCheck.planDigest(counted(scala.collection.immutable.ArraySeq(words: _*))))
    // two closures from different sites still digest apart
    val plusOne = udf((x: Long) => x + 1)
    val plusTwo = udf((x: Long) => x + 2)
    assert(DupCheck.planDigest(spark.range(1).select(plusOne(col("id")))) !==
      DupCheck.planDigest(spark.range(1).select(plusTwo(col("id")))))
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

  test("every SPARK_GRAFT_ variable in src/main and scripts is listed and counted in README's Bench section") {
    val readme = new java.io.File("README.md")
    assume(readme.isFile) // repo-relative; skip outside the repo
    val knob = "SPARK_GRAFT_[A-Z_]*[A-Z]".r
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles.toSeq.flatMap(files) else Seq(f)
    def read(f: java.io.File) =
      new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
    val used = (files(new java.io.File("src/main")) ++ files(new java.io.File("scripts")))
      .flatMap(f => knob.findAllIn(read(f))).toSet
    val text = read(readme)
    val start = text.indexOf("\n### Bench\n")
    assert(start >= 0, "README has no '### Bench' section")
    val end = text.indexOf("\n#", start + 1)
    val section = text.substring(start, if (end < 0) text.length else end)
    val listed = knob.findAllIn(section).toSet
    assert(used === listed, s"in code only: ${(used -- listed).toSeq.sorted}; " +
      s"in README only: ${(listed -- used).toSeq.sorted}")
    assert(section.contains(s"${used.size} variables"),
      s"README's Bench section should state '${used.size} variables'")
  }

  test("src/main builds custom expressions as Columns, never through a SQL function name") {
    val root = new java.io.File("src/main")
    assume(root.isDirectory) // repo-relative; skip outside the repo
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles.toSeq.flatMap(files) else Seq(f)
    val hits = files(root).filter(_.getName.endsWith(".scala")).flatMap { f =>
      val lines = java.nio.file.Files.readAllLines(f.toPath).toArray(Array.empty[String])
      lines.zipWithIndex.collect {
        case (l, i) if l.contains("createOrReplaceTempFunction") ||
            l.contains("call_function(") => s"${f.getPath}:${i + 1}: ${l.trim}"
      }
    }
    assert(hits.isEmpty, "build the expression with GraftSqlBridge.column " +
      "instead of registering a SQL name:\n" + hits.mkString("\n"))
  }

  test("src/main materializes only through Iterate: no raw checkpoint, no session memo map") {
    val root = new java.io.File("src/main")
    assume(root.isDirectory) // repo-relative; skip outside the repo
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles.toSeq.flatMap(files) else Seq(f)
    val sessionMap = """ConcurrentHashMap\[\s*\(\s*SparkSession""".r
    val hits = files(root)
      .filter(f => f.getName.endsWith(".scala") && f.getName != "Iterate.scala")
      .flatMap { f =>
        val text = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
        val lines = text.split("\n", -1)
        def at(i: Int) = s"${f.getPath}:${i + 1}: ${lines(i).trim}"
        val cuts = lines.indices.collect {
          case i if lines(i).contains(".localCheckpoint(") ||
              lines(i).contains(".checkpoint(") => at(i)
        }
        // a multi-line type argument still names its key on the next line
        val memos = sessionMap.findAllMatchIn(text)
          .map(m => at(text.substring(0, m.start).count(_ == '\n'))).toSeq
        cuts ++ memos
      }
    assert(hits.isEmpty, "cut with Iterate.cut and memoize with Iterate.memo, " +
      "so the session's checkpoint policy covers it:\n" + hits.mkString("\n"))
  }

  test("graft.functions keeps each kernel in one companion method, called by its class name") {
    val root = new java.io.File("src/main/scala/graft/functions")
    assume(root.isDirectory) // repo-relative; skip outside the repo
    // a hand-written Java kernel needs fresh names; the other two are the
    // retired spellings of a kernel's class in generated code
    val banned = Seq("freshName(", "$.MODULE$", "\"graft.functions.")
    val sources = root.listFiles.toSeq.filter(_.getName.endsWith(".scala"))
    val hits = sources.flatMap { f =>
      val lines = java.nio.file.Files.readAllLines(f.toPath).toArray(Array.empty[String])
      lines.zipWithIndex.collect {
        case (l, i) if banned.exists(l.contains) => s"${f.getPath}:${i + 1}: ${l.trim}"
      }
    }
    // every generated-code site calls its own companion's kernel
    val unnamed = sources.filter { f =>
      val text = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      text.contains("def doGenCode") &&
        !text.contains(s"$${classOf[${f.getName.stripSuffix(".scala")}].getName}.")
    }.map(_.getPath)
    assert(hits.isEmpty && unnamed.isEmpty, "call the companion's kernel from " +
      "doGenCode through classOf[X].getName:\n" +
      (hits ++ unnamed).mkString("\n"))
  }

  test("src/main folds keyed streaming state only through StreamFold and the unordered accumulators") {
    val root = new java.io.File("src/main")
    assume(root.isDirectory) // repo-relative; skip outside the repo
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles.toSeq.flatMap(files) else Seq(f)
    // Update-mode accumulators fold unordered: no frontier, no session
    val allowed = Set("StreamFold.scala", "StreamingBottomK.scala",
      "StreamingCountMin.scala", "StreamingHeavyHitters.scala", "StreamingShapley.scala")
    val hits = files(root)
      .filter(f => f.getName.endsWith(".scala") && !allowed(f.getName))
      .flatMap { f =>
        val lines = java.nio.file.Files.readAllLines(f.toPath).toArray(Array.empty[String])
        lines.zipWithIndex.collect {
          case (l, i) if l.contains(".flatMapGroupsWithState[") =>
            s"${f.getPath}:${i + 1}: ${l.trim}"
        }
      }
    assert(hits.isEmpty, "fold through StreamFold.inOrder or StreamFold.gapSessions, " +
      "so the frontier and the idle flush stay written once:\n" + hits.mkString("\n"))
  }
}

/** Orchestrator plumbing: the chunk-merge path reads child
  * bench_detail.json lines back with the same JSON codec that writes
  * them; this pins the format contract so a detail-line change cannot
  * silently zero a chunk (parseDetail returns None on ANY missing
  * query, triggering the single-JVM fallback rather than a short
  * total), and pins the orchestrator's chunk and isolation planning.
  */
class BenchParseSpec extends org.scalatest.funsuite.AnyFunSuite {
  val detail = """{"metric":"bench_detail","reps":3,""" +
    """"queries":{"q01_a":1.500,"q02_b":null,"x01_c":0.250},""" +
    """"runs":{"q01_a":[1.400,1.500,1.600],"q02_b":[],"x01_c":[0.250]},""" +
    """"spread":{"q01_a":0.200,"q02_b":0.000,"x01_c":0.000},""" +
    """"isolated":{},"failed":["q02_b"],"sf":"/tmp/x"}"""

  test("a child line's median and spread read back beside a nested isolated dict") {
    val nested = detail.replace(""""isolated":{}""",
      """"isolated":{"q01_a":{"median":1.250,"spread":0.125},"q02_b":null}""")
    val out = "[child log line]\n" + nested + "\n" + """{"metric":"total"}"""
    assert(Bench.isolatedStats(out, "q01_a") === Some((1.5, 0.2)))
    assert(Bench.isolatedStats(out, "q02_b") === None) // failed: null median
    assert(Bench.isolatedStats(out, "q99_missing") === None)
    val iso = Bench.readDetail(out).get.path("isolated")
    assert(iso.path("q01_a").path("median").asDouble === 1.25)
    assert(iso.path("q01_a").path("spread").asDouble === 0.125)
    assert(iso.path("q02_b").isNull)
    assert(Bench.parseDetail(out, Seq("q01_a", "q02_b")).map(_.map(_._4)) ===
      Some(Seq(true, false)))
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

  // A passing q*, a failed q*, an x* extra; one isolated median and one
  // shed child; canary observations with and without a host factor.
  private val results = Seq(
    ("q01_pricing_summary", 1.5, Seq(1.4, 1.5, 1.6), true),
    ("q02_latest_event_per_user", 0.9876, Seq(0.31, 2.4567, 0.9876), false),
    ("q05_join_inner", 12.34567, Seq(12.0, 12.34567, 15.5), true),
    ("x01_quantiles_sketch", 0.25, Seq(0.25, 0.26, 0.24), true))
  private val isolated = Seq(
    "q05_join_inner" -> Some((11.2345, 0.0567)),
    "q551_streaming_interval_join" -> None)
  private val canaryObs = Seq(
    "q01_pricing_summary" -> Some(1.7), "q05_join_inner" -> None)

  // The lines the string-concatenating emitter printed for the input
  // above (captured before the codec moved to Jackson).
  private val detailNoCanary =
    """{"metric":"bench_detail","reps":3,"queries":{"q01_pricing_summary":1.500,"q02_latest_event_per_user":null,"q05_join_inner":12.346,"x01_quantiles_sketch":0.250},"runs":{"q01_pricing_summary":[1.400,1.500,1.600],"q02_latest_event_per_user":[0.310,2.457,0.988],"q05_join_inner":[12.000,12.346,15.500],"x01_quantiles_sketch":[0.250,0.260,0.240]},"spread":{"q01_pricing_summary":0.200,"q02_latest_event_per_user":2.147,"q05_join_inner":3.500,"x01_quantiles_sketch":0.020},"isolated":{},"failed":["q02_latest_event_per_user"],"sf":"/data/sf0.1"}"""
  private val totalNoIsolated =
    """{"metric":"total","value":13.846,"unit":"sec","reps":3,"spread_total":5.847,"max_spread":{"q":"q05","sec":3.500},"isolated":{},"queries":{"q01":1.500,"q02":null,"q05":12.346},"extras":{"x01":0.250},"failed":["q02"],"detail":"bench_detail.json","sf":"/data/sf0.1"}"""
  private def detailWithCanary(hf: String, lo: String, hi: String) =
    s"""{"metric":"bench_detail","reps":3,"queries":{"q01_pricing_summary":1.500,"q02_latest_event_per_user":null,"q05_join_inner":12.346,"x01_quantiles_sketch":0.250},"runs":{"q01_pricing_summary":[1.400,1.500,1.600],"q02_latest_event_per_user":[0.310,2.457,0.988],"q05_join_inner":[12.000,12.346,15.500],"x01_quantiles_sketch":[0.250,0.260,0.240]},"spread":{"q01_pricing_summary":0.200,"q02_latest_event_per_user":2.147,"q05_join_inner":3.500,"x01_quantiles_sketch":0.020},"isolated":{"q05_join_inner":{"median":11.235,"spread":0.057},"q551_streaming_interval_join":null},"failed":["q02_latest_event_per_user"],"chunks":9,"canary":{"q01_pricing_summary":1.700,"q05_join_inner":null},"canary_pins":{"q01_pricing_summary":1.667,"q05_join_inner":1.164,"q09_count_distinct":0.485,"q10_filters":0.735,"q36_vocabulary":0.686,"q52_topk_per_source":0.945,"q533_streaming_croston":3.670,"q536_flac_meta":0.341},"host_factor":$hf,"host_factor_lo":$lo,"host_factor_hi":$hi,"sf":"/data/sf0.1"}"""
  private val totalIsolated =
    """{"metric":"total","value":13.846,"unit":"sec","reps":3,"spread_total":5.847,"max_spread":{"q":"q05","sec":3.500},"isolated":{"q05":11.235,"q551":null},"queries":{"q01":1.500,"q02":null,"q05":12.346},"extras":{"x01":0.250},"failed":["q02"],"detail":"bench_detail.json","sf":"/data/sf0.1"}"""

  test("render prints the provisional and final lines byte for byte as before") {
    assert(Bench.render(results, Seq.empty, 3, "/data/sf0.1", None,
      provisional = true) === Seq(detailNoCanary, totalNoIsolated,
      """{"metric":"total_compact","provisional":true,"value":13.846,"unit":"sec","n":3,"n_ok":2,"extras_s":0.250,"sf":"/data/sf0.1"}"""))
    assert(Bench.render(results, isolated, 3, "/data/sf0.1",
      Some((canaryObs, Some((0.95, 0.9, 1.01)), 9)), provisional = false) === Seq(
      detailWithCanary("0.950", "0.900", "1.010"), totalIsolated,
      """{"metric":"total_compact","value":13.846,"unit":"sec","n":3,"n_ok":2,"extras_s":0.250,"chunks":9,"host_factor":0.950,"host_band":[0.900,1.010],"canary":{"q01":1.700,"q05":null},"sf":"/data/sf0.1"}"""))
    // off the pinned scale: no host factor
    assert(Bench.render(results, isolated, 3, "/data/sf0.1",
      Some((canaryObs, None, 9)), provisional = false) === Seq(
      detailWithCanary("null", "null", "null"), totalIsolated,
      """{"metric":"total_compact","value":13.846,"unit":"sec","n":3,"n_ok":2,"extras_s":0.250,"chunks":9,"host_factor":null,"host_band":null,"canary":{"q01":1.700,"q05":null},"sf":"/data/sf0.1"}"""))
    // chunk-failure fallback: the sweep's final lines
    assert(Bench.render(results, Seq.empty, 3, "/data/sf0.1", None,
      provisional = false) === Seq(detailNoCanary, totalNoIsolated,
      """{"metric":"total_compact","value":13.846,"unit":"sec","n":3,"n_ok":2,"extras_s":0.250,"sf":"/data/sf0.1"}"""))
  }

  test("a rendered detail line parses back to the same results") {
    val line = Bench.render(results, isolated, 3, "/data/sf0.1", None,
      provisional = false).head
    val back = Bench.parseDetail(line, results.map(_._1)).get
    assert(back.map(r => (r._1, r._4)) === results.map(r => (r._1, r._4)))
    assert(back.head._2 === 1.5 && back.head._3 === Seq(1.4, 1.5, 1.6))
    assert(back(1)._2 === 0.0) // a failed query's median reads as null
    assert(Bench.isolatedStats(line, "q05_join_inner") === Some((12.346, 3.5)))
  }

  test("chunkSlices: every name once, the streaming replays alone and last") {
    val names = SparkEntry.queries.keys.toSeq.sorted ++
      (1 to 7).map(i => f"x$i%02d_extra")
    val slices = Bench.chunkSlices(names)
    assert(slices.flatten.sorted === names.sorted)
    assert(slices.last.toSet === Bench.streamingReplays.toSet)
    val cap = math.ceil(names.size.toDouble / Bench.ChunkCount).toInt
    assert(slices.init.forall(s => s.size <= cap &&
      !s.exists(Bench.streamingReplays.contains)))
    assert(slices.size === Bench.ChunkCount + 1)
  }

  test("isolationOrder: passed pins, then noisy passed q* by spread, at most 8 auto") {
    // spread 5 on median 10 is over both floors (1 s, 0.3 x median)
    def noisy(n: String, spread: Double) = (n, 10.0, Seq(10.0, 10.0 + spread), true)
    val autos = (1 to 10).map(i => noisy(f"q9$i%02d_auto", 3.0 + i))
    val rs = autos ++ Seq(
      noisy("q900_failed", 20.0).copy(_4 = false),
      noisy("x08_extra", 20.0),
      noisy("q899_quiet", 2.9), // 2.9 < 0.3 x 10
      ("q898_small", 0.5, Seq(0.1, 0.9), true), // 0.8 < 1 s
      noisy("q48_category_difficulty", 20.0), // a pin: never an auto
      noisy("q47_rollup", 0.0).copy(_4 = false)) // a failed pin
    val order = Bench.isolationOrder(rs)
    val auto = order.drop(1)
    assert(order.head === "q48_category_difficulty")
    assert(auto === autos.reverse.take(Bench.IsolatedCount).map(_._1))
  }
}
