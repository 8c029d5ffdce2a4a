package graft
import org.apache.spark.sql.SparkSession

/** Benchmark driver. Two modes:
  *
  *  - ORCHESTRATOR (default, `SPARK_GRAFT_CHUNKS`>1, no subset filter):
  *    splits the graded suite into N contiguous alphabetical chunks and
  *    runs each in a FRESH child JVM, then merges the per-query results
  *    into the same two artifacts as before. Rationale (round-12
  *    verdict item 3): a single 500+-query JVM ages — fragmented heap,
  *    filled code cache, accumulated weak refs — and by the tail the
  *    in-suite medians ran 4-12x their fresh-JVM cost (q187 51 s
  *    in-suite vs 12.5 s isolated), ~13% of the whole total. Chunking
  *    industrializes the q71/q72 lesson: every query now runs within
  *    ~1/N of a suite of aging instead of up to a full one.
  *  - SWEEP (child / subset / bucketed / `SPARK_GRAFT_CHUNKS=0`): the
  *    classic single-JVM loop — warmup, reps, median, per-query spread.
  *
  * The orchestrator also runs a HOST-CALIBRATION CANARY (round-12
  * verdict item 2): a fresh child JVM measuring three queries chosen to
  * cover the three cost regimes — q10 scan-bound, q09 shuffle-bound,
  * q52 window-bound — against medians pinned at round-13 build time.
  * `host_factor` = median(observed/pinned) ships in the compact trailer
  * so round-over-round totals are self-normalizing: the r11->r12 total
  * jump (398->842 s) was mostly a slower host, and proving that took a
  * day of isolated re-runs; now the artifact carries the proof.
  */
object Bench {

  /** Canary pins: fresh-JVM medians (5 reps, 1 warmup, all eight in one
    * child, sf0.1, local[32]) measured on the ROUND-14 build host —
    * median of 5 such child runs (PLANS.md "host canary r14 re-pin"
    * records the protocol, the old 3-query epoch, and the per-run
    * spread). Widened from 3 to 8 queries spanning the suite's cost
    * regimes (round-13 verdict item 2: a 3-query median cannot resolve
    * the 10-20% swings it is asked to settle); `host_factor` is now a
    * TRIMMED mean (drop min/max ratio) with a lo/hi band in both
    * trailers. host_factor in any later round reads relative to THIS
    * host epoch; re-pin only with a PLANS.md note recording old/new.
    */
  val canaryPins: Seq[(String, Double)] = Seq(
    "q01_pricing_summary" -> 1.667, // scan + wide agg (flagship shape)
    "q05_join_inner" -> 1.164, // join-bound
    "q09_count_distinct" -> 0.485, // shuffle-bound
    "q10_filters" -> 0.735, // scan-bound
    "q36_vocabulary" -> 0.686, // text explode + heavy agg
    "q52_topk_per_source" -> 0.945, // window-bound
    "q533_streaming_croston" -> 3.670, // streaming replay (state store)
    "q536_flac_meta" -> 0.341) // mapPartitions kernel-bound

  /** Always-isolated queries (round-12 verdict item 1): carried
    * reference-surface queries whose r12 in-suite medians moved above
    * the established host band (q48 x2.6) or that are new with no
    * isolated median yet (q473/q483). The auto-selector keys on
    * in-suite SPREAD, which misses a query that is consistently slow
    * in-suite (q48's spread was 0.087 s); this list pins them
    * unconditionally so every future round has a fresh-JVM median to
    * grade drift against. Override: SPARK_GRAFT_ISOLATE_PIN.
    *
    * ORDER = shedding priority: the wall budget (round-14 verdict
    * item 1) drops children from the END of this list first, so the
    * two most expensive, least readable graded queries (q551/q552 —
    * round-14 item 4: q551 isolated spread 11.8 on median 19.3, q552
    * never isolated at all) sit at the FRONT.
    */
  val isolatePins: Seq[String] = Seq(
    "q551_streaming_interval_join", "q552_streaming_dedup_eviction",
    "q48_category_difficulty", "q47_rollup", "q50_categories_report",
    "q473_simpson_screen", "q483_bin_advisor",
    // round-13 verdict item 4: pins whose r13 isolated medians carried
    // spread >= their median (q276: 12.67 vs 4.59) or near it (q107
    // 2.77, q108 2.91) — pinned so every round re-measures them fresh
    "q276_edge_support", "q107_pagerank", "q108_dedup_report")

  /** The five driver-graded streaming replays (round-14 verdict item
    * 3): correctness instruments, not throughput queries — repeated
    * reps only re-measure accumulated state-store litter (r14: q551
    * 23.4→58.5 s rep-over-rep) and their shared-JVM neighbors become
    * unreadable (q544 0.58→13.7 s, q545 1.9 isolated vs 33.3 worst
    * rep). The orchestrator quarantines them into their OWN fresh
    * child at reps=1; q551/q552 additionally carry isolation pins for
    * a clean 5-rep fresh-JVM median.
    */
  val streamingReplays: Seq[String] = Seq(
    "q533_streaming_croston", "q543_streaming_cdc",
    "q551_streaming_interval_join", "q552_streaming_dedup_eviction",
    "q554_streaming_sessions")

  /** Non-graded scale-path twins benched alongside the graded suite
    * (no oracle — sketch forms with engine-specific interpolation;
    * their specs bound the drift against the exact forms). Declared as
    * (name, builder) so the orchestrator can slice NAMES without a
    * SparkSession.
    */
  private val extraSpecs: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)] = Seq(
    // q42/q60's approx_percentile form (QuantilesSpec bounds error)
    "x01_quantiles_sketch" -> ((s, d) => operators.Curation.lengthQuantilesApprox(s, d)),
    // q90's scale twin: sketch quintile boundaries broadcast back —
    // no single-partition ntile sorts (RobustOpsSpec bounds the drift)
    "x02_rfm_sketch" -> ((s, d) => operators.Events.rfmApprox(s, d)),
    // q106's scale twin: HLL sketches instead of exact (day, user)
    // distinct sets (RobustOpsSpec bounds the rsd drift)
    "x03_rolling_active_sketch" -> ((s, d) => operators.Events.rollingActiveUsersApprox(s, d)),
    // q36's scale twin: Misra-Gries heavy hitters, <= k counters per
    // buffer instead of the vocabulary shuffle (TextOpsSpec asserts
    // the MG presence/undercount bounds)
    "x04_vocab_heavy_hitters" -> ((s, d) => operators.TextAnalysis.vocabularyHeavyHitters(s, d)),
    // q36 under ScaleMode.Sketch: HLL df per token — same code path,
    // the dial swaps only the distinct aggregate (ScaleModeSpec
    // bounds the rsd drift against Exact)
    "x05_vocab_sketch" -> ((s, d) => operators.TextAnalysis.vocabularyApprox(s, d)),
    // q110 under ScaleMode.Sketch: HLL inclusion-exclusion replaces
    // the shingle-keyed self-join entirely (ScaleModeSpec bounds the
    // drift against Exact)
    "x06_overlap_sketch" -> ((s, d) => operators.Dedup.crossSourceOverlapApprox(s, d)),
    // q153's scale twin: rejection sampling — catalog-size-
    // independent draws instead of ranking every candidate
    // (RobustOpsSpec pins the quota/determinism contract)
    "x07_negatives_rejection" -> ((s, d) => operators.Graph.negativeSamplesRejection(s, d)),
    // q424's bench-side twin: the O(n) rolling-hash substring extent
    "x08_substring_dups_rolling" -> ((s, d) => operators.Spans.substringDupExtentFast(s, d)))

  private def envSfDir: String =
    sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  def f3(d: Double): String =
    java.lang.String.format(java.util.Locale.ROOT, "%.3f", Double.box(d))
  private def shortKey(name: String): String = name.takeWhile(_ != '_')
  private def medianOf(sorted: Seq[Double]): Double =
    if (sorted.size % 2 == 1) sorted(sorted.size / 2)
    else (sorted(sorted.size / 2 - 1) + sorted(sorted.size / 2)) / 2

  def main(args: Array[String]): Unit = {
    val only = sys.env.get("SPARK_GRAFT_ONLY")
    val isChild = sys.env.get("SPARK_GRAFT_CHILD").contains("1")
    val bucketed = sys.env.get("SPARK_GRAFT_BUCKETED").contains("1")
    // 8 chunks of ~70 (was 4 of ~135 — round-13 verdict item 3: the
    // late-chunk tail still carried up to ~3x within-chunk aging; at
    // ~70 queries per fresh JVM the measured in-suite/isolated ratio
    // stays inside the host band)
    val chunks = sys.env.getOrElse("SPARK_GRAFT_CHUNKS", "8").toInt
    if (!isChild && !bucketed && only.isEmpty && chunks > 1) orchestrate(chunks)
    else sweep()
  }

  // ------------------------------------------------------------------
  // child-JVM plumbing (shared by chunk, canary and isolated runs)
  // ------------------------------------------------------------------

  /** Run `graft.Bench` in a fresh JVM restricted to `names`; return the
    * child's full-fidelity bench_detail.json content. Children inherit
    * SPARK_GRAFT_CHILD=1 so the recursion is structurally closed.
    */
  private def runChild(names: Seq[String], reps: Int, warmup: Int,
      xmx: String, timeoutSec: Long): Option[String] = try {
    val javaBin = new java.io.File(new java.io.File(
      System.getProperty("java.home"), "bin"), "java").getAbsolutePath
    val classes = new java.io.File(getClass.getProtectionDomain
      .getCodeSource.getLocation.toURI).getAbsolutePath
    val cp = classes + java.io.File.pathSeparator + "/opt/spark/jars/*"
    val modOpts = org.apache.spark.launcher.JavaModuleOptions
      .defaultModuleOptions().split("\\s+").toSeq.filter(_.nonEmpty)
    val cmd = Seq(javaBin, s"-Xmx$xmx") ++ modOpts ++
      Seq("-cp", cp, "graft.Bench")
    val tmp = java.nio.file.Files.createTempDirectory("graft-child").toFile
    val outFile = new java.io.File(tmp, "out.json")
    val pb = new ProcessBuilder(cmd: _*)
    pb.directory(tmp) // child's bench_detail.json lands here, not ours
    pb.redirectOutput(outFile)
    pb.redirectError(ProcessBuilder.Redirect.INHERIT)
    val env = pb.environment()
    env.put("SPARK_GRAFT_ONLY", names.mkString(","))
    env.put("SPARK_GRAFT_REPS", reps.toString)
    env.put("SPARK_GRAFT_WARMUP_REPS", warmup.toString)
    env.put("SPARK_GRAFT_CHILD", "1")
    env.put("SPARK_GRAFT_SF_DIR", envSfDir)
    env.put("SPARK_GRAFT_CPUS", GraftSession.defaultThreads.toString)
    val p = pb.start()
    val finished = p.waitFor(timeoutSec, java.util.concurrent.TimeUnit.SECONDS)
    if (!finished) { p.destroyForcibly(); None }
    else {
      val f = new java.io.File(tmp, "bench_detail.json")
      if (f.exists)
        Some(new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
      else {
        // fall back to stdout (the detail line is printed before the
        // file write, so a failed write still leaves it parseable)
        val out = new String(
          java.nio.file.Files.readAllBytes(outFile.toPath), "UTF-8")
        if (out.contains("\"metric\":\"bench_detail\"")) Some(out) else None
      }
    }
  } catch { case e: Throwable =>
    System.err.println(s"[bench] child run failed: ${e.getMessage}")
    None
  }

  /** Extract a flat `"key":{...}` dict (or `"key":[...]` array) body
    * from a detail line. Detail dict values are brace-free (scalars or
    * number arrays) with ONE exception: the `isolated` dict nests
    * `{median,spread}` objects, so `section(out, "isolated")` would
    * truncate at the first inner `}` — callers must not use this
    * helper for that key (none do).
    */
  private[graft] def section(out: String, key: String): String = {
    val tag = "\"" + key + "\":"
    val i = out.indexOf(tag)
    if (i < 0) return ""
    val open = out.charAt(i + tag.length)
    val close = if (open == '[') ']' else '}'
    val s = i + tag.length
    val e = out.indexOf(close, s)
    if (e < 0) "" else out.substring(s + 1, e)
  }

  /** An isolated child's (median, spread) for `name`, read from its
    * detail line's `queries` and `spread` dicts. */
  private[graft] def isolatedStats(out: String, name: String)
      : Option[(Double, Double)] = {
    val q = java.util.regex.Pattern.quote(name)
    def value(key: String): Option[Double] =
      (s""""$q":([0-9.]+)""".r).findFirstMatchIn(section(out, key))
        .map(_.group(1).toDouble)
    value("queries").flatMap(m => value("spread").map(s => (m, s)))
  }

  /** Parse a child's detail JSON back into the in-memory result shape:
    * (name, median, rep times, ok).
    */
  private[graft] def parseDetail(out: String, names: Seq[String])
      : Option[Seq[(String, Double, Seq[Double], Boolean)]] = {
    val qs = section(out, "queries")
    val runs = section(out, "runs")
    val failed = section(out, "failed")
    if (qs.isEmpty) return None
    val res = names.flatMap { n =>
      val q = java.util.regex.Pattern.quote(n)
      val m = (s""""$q":([0-9.]+|null)""".r).findFirstMatchIn(qs)
      val ts = (s""""$q":\\[([0-9.,]*)\\]""".r).findFirstMatchIn(runs)
        .map(_.group(1).split(",").toSeq.filter(_.nonEmpty).map(_.toDouble))
        .getOrElse(Seq.empty)
      val ok = !failed.contains("\"" + n + "\"")
      m.map { mm =>
        val med = if (mm.group(1) == "null") 0.0 else mm.group(1).toDouble
        (n, med, if (ts.nonEmpty) ts else Seq(med), ok)
      }
    }
    // a chunk that lost queries (OOM-killed mid-suite) must not
    // silently shrink the graded total
    if (res.size == names.size) Some(res) else {
      System.err.println(s"[bench] chunk parse: expected ${names.size} " +
        s"queries, got ${res.size}")
      None
    }
  }

  // ------------------------------------------------------------------
  // orchestrator
  // ------------------------------------------------------------------

  private def orchestrate(chunks: Int): Unit = {
    val sfDir = envSfDir
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    // overall wall budget (round-14 verdict item 1: the r14 run
    // measured everything, then died in the optional post-sweep phases
    // — canary + 16 isolated children — taking the only parseable
    // trailer with it). Chunks ALWAYS run (they are the graded
    // number); every later phase checks the remaining budget first and
    // is shed, cheapest-information-last, when it is exhausted.
    val wallBudgetS =
      sys.env.getOrElse("SPARK_GRAFT_WALL_BUDGET_S", "3900").toLong
    val tStart = System.nanoTime()
    def remainingS: Long = wallBudgetS - (System.nanoTime() - tStart) / 1000000000L
    val qNames = SparkEntry.queries.keys.toSeq.sorted
    val allNames = qNames ++ extraSpecs.map(_._1)
    // streaming replays quarantined into their own reps=1 child
    // (round-14 verdict item 3) — see [[streamingReplays]]
    val (replayNames, restNames) =
      allNames.partition(streamingReplays.contains)
    val per = math.ceil(restNames.size.toDouble / chunks).toInt
    val slices = restNames.grouped(per).toSeq ++
      (if (replayNames.nonEmpty) Seq(replayNames) else Seq.empty)
    val chunkXmx = sys.env.getOrElse("SPARK_GRAFT_CHUNK_XMX", "24g")
    val chunkTimeout =
      sys.env.getOrElse("SPARK_GRAFT_CHUNK_TIMEOUT_S", "3600").toLong
    System.err.println(s"[bench] orchestrator: ${restNames.size} queries " +
      s"in ${slices.size - 1} fresh-JVM chunks of <= $per + " +
      s"${replayNames.size} streaming replays in a reps=1 child")
    val parsed = slices.zipWithIndex.map { case (slice, i) =>
      val isReplayChild = slice.headOption.exists(streamingReplays.contains)
      val t0 = System.nanoTime()
      val r = runChild(slice, if (isReplayChild) 1 else reps, 0,
          chunkXmx, chunkTimeout)
        .flatMap(parseDetail(_, slice))
      System.err.println(s"[bench] chunk ${i + 1}/${slices.size}: " +
        s"${slice.size} queries, ${f3((System.nanoTime() - t0) / 1e9)} s" +
        (if (r.isEmpty) " FAILED" else ""))
      r
    }
    if (parsed.exists(_.isEmpty)) {
      // safety net: the graded artifact must always exist — fall back
      // to the classic single-JVM sweep (r12 behavior) rather than
      // shipping a partial total
      System.err.println("[bench] chunk failure -> falling back to " +
        "single-JVM sweep")
      sweep()
      return
    }
    val results = parsed.flatten.flatten

    // PROVISIONAL artifact immediately after the merge: the graded
    // total now exists in captured stdout (and bench_detail.json) no
    // matter where a driver-side kill lands during the refinement
    // phases below. The final emit reprints everything; the driver's
    // last-2000-chars tail reads whichever trailer survived.
    emit(results, Seq.empty, reps, sfDir, None, provisional = true)

    // host-calibration canary: fresh child, 5 reps, 1 warmup — the
    // same protocol the pins were measured with
    val canaryNames = canaryPins.map(_._1)
    val canaryBudgetOk = remainingS > 420
    if (!canaryBudgetOk)
      System.err.println(s"[bench] wall budget: ${remainingS}s left -> " +
        "skipping canary + isolated children")
    val canary: Seq[(String, Option[Double])] =
      (if (canaryBudgetOk) runChild(canaryNames, 5, 1, "8g",
        math.min(900L, remainingS)) else None) match {
        case Some(out) =>
          val qs = section(out, "queries")
          canaryNames.map { n =>
            val q = java.util.regex.Pattern.quote(n)
            n -> (s""""$q":([0-9.]+)""".r).findFirstMatchIn(qs)
              .map(_.group(1).toDouble)
          }
        case None => canaryNames.map(_ -> None)
      }
    val ratios = canary.flatMap { case (n, obs) =>
      obs.flatMap(o => canaryPins.toMap.get(n).map(p => o / p)) }.sorted
    // pins are an sf0.1 epoch: at any other SF the observations still
    // ship (for eyeballing) but the factor is meaningless -> null
    val pinnedSf = sfDir.replaceAll("/+$", "").endsWith("sf0.1")
    // trimmed mean (drop min/max) + the surviving ratios' lo/hi band:
    // a single cold canary query can no longer drag the factor, and
    // the band states how much the 10-20% round-over-round questions
    // can actually be trusted (round-13 verdict item 2)
    val hostFactor: Option[(Double, Double, Double)] =
      if (ratios.nonEmpty && pinnedSf) {
        val trimmed =
          if (ratios.size >= 4) ratios.drop(1).dropRight(1) else ratios
        Some((trimmed.sum / trimmed.size, trimmed.head, trimmed.last))
      } else None

    // isolated re-measurement: the standing pins (consistently-slow
    // carried queries the spread rule can't see) plus the auto-selected
    // noisiest survivors of the merged sweep
    def spreadOf(ts: Seq[Double]): Double = ts.max - ts.min
    val pins = sys.env.get("SPARK_GRAFT_ISOLATE_PIN")
      .map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(isolatePins)
      .filter(n => results.exists(r => r._1 == n && r._4))
    val autoN = sys.env.getOrElse("SPARK_GRAFT_ISOLATED_N", "8").toInt
    val auto = results
      .filter { case (n, m, ts, ok) => n.startsWith("q") && ok &&
        !pins.contains(n) && spreadOf(ts) > math.max(1.0, 0.3 * m) }
      .sortBy { case (_, _, ts, _) => -spreadOf(ts) }
      .take(autoN).map(_._1)
    // pins lead (list order = shedding priority), autos follow; every
    // child checks the remaining wall budget — a None for a shed child
    // is honest "not measured", never a blocked graded artifact
    val isolated: Seq[(String, Option[(Double, Double)])] =
      (pins ++ auto).map { n =>
        n -> (if (!canaryBudgetOk || remainingS < 120) None
        else runChild(Seq(n), 5, 1,
            sys.env.getOrElse("SPARK_GRAFT_ISOLATED_XMX", "8g"),
            math.min(300L, remainingS)).flatMap(isolatedStats(_, n)))
      }
    emit(results, isolated, reps, sfDir, Some((canary, hostFactor, slices.size)))
  }

  // ------------------------------------------------------------------
  // artifact emission (shared: orchestrator and classic sweep)
  // ------------------------------------------------------------------

  private def emit(results: Seq[(String, Double, Seq[Double], Boolean)],
      isolated: Seq[(String, Option[(Double, Double)])],
      reps: Int, sfDir: String,
      canaryInfo: Option[(Seq[(String, Option[Double])],
        Option[(Double, Double, Double)], Int)],
      provisional: Boolean = false)
      : Unit = {
    // Two artifacts from one run. The driver keeps only the LAST 2000
    // chars of stdout in BENCH_r{N}.json ("tail") — round 4's full-name
    // runs dict pushed the headline total out of that window, so the
    // final line is COMPACT (short qNN keys, 3-decimal medians) and is
    // guaranteed to fit; the full-fidelity record (full names, all
    // runs, failures) is printed first and written to bench_detail.json.
    def spreadOf(ts: Seq[Double]): Double = ts.max - ts.min
    val detailQs = results.map { case (k, m, _, ok) =>
      "\"" + k + "\":" + (if (ok) f3(m) else "null") }.mkString("{", ",", "}")
    val detailRuns = results.map { case (k, _, ts, _) =>
      "\"" + k + "\":[" + ts.map(f3).mkString(",") + "]" }.mkString("{", ",", "}")
    // per-query spread = max − min of the reps (for 3 reps this IS the
    // interquartile spread): the box-noise band around each median, so
    // a round-over-round drift can be read against it instead of
    // re-litigating untouched code (round-8 advice: q50/q51/q92)
    val detailSpread = results.map { case (k, _, ts, _) =>
      "\"" + k + "\":" + f3(spreadOf(ts)) }.mkString("{", ",", "}")
    val failedNames = results.filterNot(_._4).map(r => "\"" + r._1 + "\"")
      .mkString("[", ",", "]")
    val detailIso = isolated.map { case (k, r) =>
      "\"" + k + "\":" + r.map { case (m, s) =>
        s"""{"median":${f3(m)},"spread":${f3(s)}}""" }.getOrElse("null")
    }.mkString("{", ",", "}")
    val canaryDetail = canaryInfo.map { case (canary, hf, nChunks) =>
      val cq = canary.map { case (n, o) =>
        "\"" + n + "\":" + o.map(f3).getOrElse("null") }.mkString("{", ",", "}")
      val cp = canaryPins.map { case (n, p) =>
        "\"" + n + "\":" + f3(p) }.mkString("{", ",", "}")
      s""","chunks":$nChunks,"canary":$cq,"canary_pins":$cp,"host_factor":${
        hf.map(h => f3(h._1)).getOrElse("null")},"host_factor_lo":${
        hf.map(h => f3(h._2)).getOrElse("null")},"host_factor_hi":${
        hf.map(h => f3(h._3)).getOrElse("null")}"""
    }.getOrElse("")
    val detail = s"""{"metric":"bench_detail","reps":$reps,"queries":$detailQs,"runs":$detailRuns,"spread":$detailSpread,"isolated":$detailIso,"failed":$failedNames$canaryDetail,"sf":"$sfDir"}"""
    println(detail)
    try java.nio.file.Files.write(java.nio.file.Paths.get("bench_detail.json"),
      (detail + "\n").getBytes("UTF-8"))
    catch { case e: Throwable =>
      System.err.println(s"[bench] detail file write failed: ${e.getMessage}") }
    // graded total = standard qNN queries that succeeded, ONLY — extras
    // (x*) and bucketed-mode (b*) timings live under "extras" so the
    // round-over-round headline stays apples-to-apples; a query that
    // threw on any rep reports null instead of a fast-looking elapsed
    val (graded, extra) = results.partition(_._1.startsWith("q"))
    val total = graded.collect { case (_, m, _, true) => m }.sum
    val qs = graded.map { case (k, m, _, ok) =>
      "\"" + shortKey(k) + "\":" + (if (ok) f3(m) else "null") }
      .mkString("{", ",", "}")
    val xs = extra.map { case (k, m, _, ok) =>
      "\"" + shortKey(k) + "\":" + (if (ok) f3(m) else "null") }
      .mkString("{", ",", "}")
    val failedShort = results.filterNot(_._4).map(r => "\"" + shortKey(r._1) + "\"")
      .mkString("[", ",", "]")
    // headline spread summary (full per-query spreads live in the
    // detail file — the compact line must stay inside the driver's
    // 2000-char tail window): total spread across graded queries and
    // the single noisiest query
    val gradedSpreads = graded.map { case (k, _, ts, _) => k -> spreadOf(ts) }
    val (noisyQ, noisyS) =
      if (gradedSpreads.nonEmpty) gradedSpreads.maxBy(_._2) else ("none", 0.0)
    val spreadTotal = gradedSpreads.map(_._2).sum
    // compact isolated dict: fresh-JVM 5-rep median per noisy query
    // (full median+spread pairs live in the detail file)
    val isoShort = isolated.map { case (k, r) =>
      "\"" + shortKey(k) + "\":" + r.map(x => f3(x._1)).getOrElse("null")
    }.mkString("{", ",", "}")
    println(s"""{"metric":"total","value":${f3(total)},"unit":"sec","reps":$reps,"spread_total":${f3(spreadTotal)},"max_spread":{"q":"${shortKey(noisyQ)}","sec":${f3(noisyS)}},"isolated":$isoShort,"queries":$qs,"extras":$xs,"failed":$failedShort,"detail":"bench_detail.json","sf":"$sfDir"}""")
    // truncation-proof trailer: the driver's artifact keeps only the
    // LAST ~2000 chars of stdout and the big line above fronts its
    // "value" field, so (round-10 verdict item 3) the canonical total
    // is restated LAST in a line short enough to always survive any
    // tail capture. host_factor rides here: total/host_factor is the
    // epoch-normalized number round-over-round deltas should grade.
    val extrasTotal = extra.collect { case (_, m, _, true) => m }.sum
    val nOk = graded.count(_._4)
    val canaryCompact = canaryInfo.map { case (canary, hf, nChunks) =>
      val cq = canary.map { case (n, o) =>
        "\"" + shortKey(n) + "\":" + o.map(f3).getOrElse("null") }
        .mkString("{", ",", "}")
      s""","chunks":$nChunks,"host_factor":${
        hf.map(h => f3(h._1)).getOrElse("null")},"host_band":${
        hf.map(h => "[" + f3(h._2) + "," + f3(h._3) + "]").getOrElse("null")
        },"canary":$cq"""
    }.getOrElse("")
    val prov = if (provisional) """"provisional":true,""" else ""
    println(s"""{"metric":"total_compact",$prov"value":${f3(total)},"unit":"sec","n":${graded.size},"n_ok":$nOk,"extras_s":${f3(extrasTotal)}$canaryCompact,"sf":"$sfDir"}""")
    // the trailer is the round's graded number: force it through any
    // pipe/file buffering NOW, before optional later phases run (the
    // r14 rc=124 kill left a fully-measured run with no captured total)
    System.out.flush()
  }

  // ------------------------------------------------------------------
  // between-rep hygiene
  // ------------------------------------------------------------------

  /** Deterministically reclaim localCheckpoint litter between reps
    * (round-14 verdict item 2): unpersist every persistent RDD that is
    * NOT backing a session memo. The ContextCleaner reclaims released
    * checkpoint blocks asynchronously and lags the rep cadence, so in
    * r14's shared chunk JVMs the litter itself got measured (q370
    * 41.9→67.5→75.6 s across reps vs 11.5 isolated; q384 25.8→61.3).
    * Memo-backed blocks are protected: their cross-query steady-state
    * reuse is the deployed semantics (round-8 verdict item 2), and
    * unpersisting a lineage-truncated frame would break, not slow,
    * its next consumer.
    */
  private[graft] def reclaimCheckpoints(spark: SparkSession): Unit = {
    val keep: Set[Int] =
      (operators.Dedup.memoFrames ++ operators.Graph.memoFrames)
        .flatMap { df =>
          df.queryExecution.analyzed.collect {
            case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
          }
        }.toSet
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!keep.contains(id))
        try rdd.unpersist(blocking = true)
        catch { case _: Throwable => () }
    }
  }

  // ------------------------------------------------------------------
  // classic single-JVM sweep (children, subsets, bucketed mode,
  // SPARK_GRAFT_CHUNKS=0)
  // ------------------------------------------------------------------

  private def sweep(): Unit = {
    val sfDir = envSfDir
    val cpus = GraftSession.defaultThreads
    val spark = GraftSession(cpus)
    // JVM/codegen warmup outside the timed region: exercise the code
    // paths the queries hit (scan, hash agg, broadcast + shuffle join,
    // window, sort) over the 5-row region table, so the first timed
    // query measures the query, not first-touch JIT/codegen of those
    // operator classes
    try {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      val r = spark.read.parquet(s"$sfDir/region.parquet")
      r.write.format("noop").mode("overwrite").save()
      r.groupBy(col("r_regionkey")).agg(count(lit(1)).as("n"))
        .join(r, "r_regionkey")
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("r_regionkey")).orderBy(col("r_name"))))
        .orderBy(col("rn"), col("r_regionkey"))
        .write.format("noop").mode("overwrite").save()
      r.as("a").join(r.as("b").hint("shuffle_hash"),
          col("a.r_regionkey") === col("b.r_regionkey"))
        .write.format("noop").mode("overwrite").save()
    } catch { case _: Throwable => () }
    // noop sink: forces full evaluation of every column (a bare count()
    // would let Catalyst prune the projections being benchmarked).
    // optional comma-separated subset for isolated measurement
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    def selected(name: String): Boolean = only.forall(_.contains(name))

    // Bucketed-layout mode (SPARK_GRAFT_BUCKETED=1, not part of the
    // driver's graded run): materialize the history table bucketed by
    // the join/window key ONCE (untimed — the storage layout is a
    // prerequisite, like a table format's clustering), then time the
    // flagship and a history⋈history join against it. BucketingSpec
    // proves the plans shuffle-free; this mode measures them.
    // Each layout's untimed setup (bucketed table / z-ordered copy)
    // runs ONLY if a query that reads it survives the SPARK_GRAFT_ONLY
    // filter — an isolated b01 run must not pay b03's full rewrite.
    val bucketedQueries: Seq[(String, () => org.apache.spark.sql.DataFrame)] =
      if (sys.env.get("SPARK_GRAFT_BUCKETED").contains("1")) {
        import org.apache.spark.sql.functions._
        val wantBucketed =
          selected("b01_flagship_bucketed") || selected("b02_history_join_bucketed")
        if (wantBucketed) {
          operators.WritePath.writeBucketed(
            Tables.load(spark, sfDir, "lineitem"), "lineitem_b", "l_suppkey", cpus)
        }
        // b03: z-order layout read benefit — write lineitem z-ordered
        // on (l_partkey, l_suppkey) ONCE (untimed, like the bucketing
        // above), then time a l_suppkey-only selective scan: the
        // dimension a single-key-sorted layout could NOT prune, but
        // the Morton layout's per-file min/max CAN (evidence table in
        // PLANS.md; LayoutSpec pins the span narrowing).
        val zdir = spark.conf.get("spark.sql.warehouse.dir") + "/lineitem_z"
        if (selected("b03_zorder_scan"))
          operators.Layout.writeZOrdered(
            Tables.load(spark, sfDir, "lineitem"),
            "l_partkey", "l_suppkey", zdir, 64)
        // b04: the native as-of join's layout-reuse case — both sides
        // bucketed by the key ONCE (untimed), the recurring join then
        // plans with ZERO exchanges (PlansSpec pins the plan; this
        // measures it against q296's unbucketed 0.35 s in-suite cost)
        if (selected("b04_asof_bucketed")) {
          val ev = Tables.load(spark, sfDir, "events")
            .withColumn("ms", operators.Relational.tsMs("ts"))
          operators.WritePath.writeBucketed(
            ev.filter(col("event_type") === "purchase")
              .select(col("event_id").as("purchase_id"), col("user_id"),
                col("ms").as("p_ms")),
            "purch_b", "user_id", cpus)
          operators.WritePath.writeBucketed(
            ev.filter(col("event_type") === "signup")
              .groupBy(col("user_id"), col("ms").as("s_ms"))
              .agg(max(col("event_id")).as("signup_id")),
            "signup_b", "user_id", cpus)
        }
        Seq(
          "b01_flagship_bucketed" -> (() => operators.Relational.popularityCore(
            spark.table("lineitem_b"),
            Tables.load(spark, sfDir, "supplier"),
            Tables.load(spark, sfDir, "nation"),
            Tables.load(spark, sfDir, "part"))),
          "b02_history_join_bucketed" -> (() => {
            val a = spark.table("lineitem_b")
            val b = spark.table("lineitem_b")
              .groupBy(col("l_suppkey")).agg(max(col("l_shipdate")).as("max_ship"))
            a.join(b, "l_suppkey")
              .filter(col("l_shipdate") === col("max_ship"))
              .select(col("l_suppkey"), col("l_orderkey"), col("l_extendedprice"))
          }),
          "b03_zorder_scan" -> (() => {
            spark.read.parquet(zdir)
              .filter(col("l_suppkey") < 100)
              .select(col("l_suppkey"), col("l_partkey"), col("l_extendedprice"))
          }),
          "b04_asof_bucketed" -> (() =>
            graft.plans.AsofJoinOps.asofJoin(
              spark.table("purch_b"), spark.table("signup_b"),
              Seq("user_id"), "p_ms", "s_ms")))
      } else Seq.empty

    val extras: Seq[(String, () => org.apache.spark.sql.DataFrame)] =
      extraSpecs.map { case (n, fn) => n -> (() => fn(spark, sfDir)) }

    // graded order: alphabetical
    val standard = SparkEntry.queries.toSeq.sortBy(_._1)
      .map { case (n, fn) => n -> (() => fn(spark, sfDir)) }
    // median of `reps` timed passes per query: the driver grades one
    // artifact, so a late-run GC pause or shared-box hiccup must not
    // masquerade as a regression (round-3 postmortem: +28% on
    // byte-identical code). All passes are surfaced in "runs".
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    // untimed warmup passes before the timed reps (0 in the graded
    // sweep — the suite warms itself; isolated children set 1 so their
    // 5 timed reps measure steady state, not first-query codegen)
    val warmupReps = sys.env.getOrElse("SPARK_GRAFT_WARMUP_REPS", "0").toInt
    val results = (standard ++ extras ++ bucketedQueries)
      .filter { case (n, _) => selected(n) }
      .map { case (name, fn) =>
        var failures = 0
        (1 to warmupReps).foreach { _ =>
          try { fn().write.format("noop").mode("overwrite").save() }
          catch { case _: Throwable => () }
          finally { spark.catalog.clearCache(); reclaimCheckpoints(spark) }
        }
        val times = (1 to reps).map { _ =>
          val t0 = System.nanoTime()
          try fn().write.format("noop").mode("overwrite").save()
          catch { case e: Throwable =>
            failures += 1
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
          }
          val secs = (System.nanoTime() - t0) / 1e9
          // cleanup OUTSIDE the timed region: CacheManager entries are
          // dropped here; localCheckpoint blocks are unpersisted
          // SYNCHRONOUSLY (reclaimCheckpoints — round-14 item 2: the
          // async ContextCleaner lagged the rep cadence and the litter
          // got measured). The memos (Dedup labels/shingles, Graph
          // pairs) are deliberately protected: one fixpoint per
          // session is the deployed semantics (round-8 verdict item 2
          // — q38/q50/q80/q89/q108 share the labels), so medians
          // report the shared-fixpoint steady state; the cold first
          // rep stays visible in "runs" and "spread".
          spark.catalog.clearCache()
          reclaimCheckpoints(spark)
          secs
        }
        // bound the GC debt a heavy query leaves for the NEXT one
        System.gc()
        val sorted = times.sorted
        // true median for any rep count (upper-middle alone is biased
        // for even reps)
        val median = medianOf(sorted)
        (name, median, times, failures == 0)
      }
    // --- isolated re-measurement of the noisy tail ------------------
    // Legacy path (SPARK_GRAFT_CHUNKS=0 single-JVM runs only — the
    // orchestrator does its own selection): queries whose spread says
    // "this median proves nothing" re-run in FRESH single-query JVMs
    // (5 reps, same session config) and BOTH numbers ship.
    def spreadOfTs(ts: Seq[Double]): Double = ts.max - ts.min
    // auto-select the noisiest survivors of a full, non-child sweep
    val isoCandidates =
      if (sys.env.get("SPARK_GRAFT_CHILD").contains("1") || only.nonEmpty) Seq.empty
      else
        results.filter { case (n, m, ts, ok) =>
            n.startsWith("q") && ok && spreadOfTs(ts) > math.max(1.0, 0.3 * m) }
          .sortBy { case (_, _, ts, _) => -spreadOfTs(ts) }
          // bound 8 (was 4 — round-10 verdict: q185/q108 spreads of
          // ~7.5 s ranked 5th/6th and missed the cut, leaving their
          // medians unpinned)
          .take(sys.env.getOrElse("SPARK_GRAFT_ISOLATED_N", "8").toInt)
          .map(_._1)
    val isolated: Seq[(String, Option[(Double, Double)])] =
      isoCandidates.map { n =>
        n -> runChild(Seq(n), 5, 1,
            sys.env.getOrElse("SPARK_GRAFT_ISOLATED_XMX", "8g"), 300)
          .flatMap(isolatedStats(_, n))
      }
    emit(results, isolated, reps, sfDir, None)
    spark.stop()
  }
}
