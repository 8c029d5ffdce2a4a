package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.PortableHash
import graft.functions.TextFunctions._

/** Deduplication suite over `documents` (north-star extension): exact,
  * n-gram Jaccard, MinHash+LSH, SimHash. Every variant is
  * oracle-checked (round 2): the sketches hash with md5-derived
  * integers ([[PortableHash]]) that DuckDB reproduces bit-for-bit, so
  * signatures, band buckets, candidate sets and final pairs are
  * identical across engines.
  *
  * Scale posture (100 TB): every variant is built on shuffle-by-key
  * joins/aggregations — no driver materialization, no cross join. The
  * candidate generators (shared-shingle inverted index, LSH band
  * buckets) bound pair generation; high-frequency shingles are pruned
  * (df cap) so no single reduce key explodes.
  *
  * Intermediate lifecycle: multi-consumer intermediates are cut
  * eagerly through [[graft.Iterate.cut]], not `persist()`ed — same
  * one-time materialization, but storage is reclaimed by the
  * ContextCleaner as soon as the frame is unreferenced, so a long Bench
  * session does not accumulate CacheManager entries (round-1 ADVICE).
  * Under `spark.graft.checkpoint.reliable` the same cuts write to the
  * reliable checkpoint dir instead (the 100 TB posture).
  */
object Dedup {

  /** q25 — exact dedup: group by whitespace-normalized content hash,
    * canonical representative = min doc_id (reference analogue: the
    * skipDuplicates/ON CONFLICT key dedup, migrate.ts:64 / lib.ts:91,
    * lifted to content identity).
    */
  def exact(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val w = Window.partitionBy(col("content_fp"))
    docs.select(col("doc_id"), contentFingerprint(col("text")).as("content_fp"))
      .withColumn("rep_id", min(col("doc_id")).over(w))
      .withColumn("is_dup", (col("doc_id") =!= col("rep_id")).cast("int"))
      .orderBy(col("doc_id"))
  }

  val exactSql: String =
    """SELECT doc_id,
      |  md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS content_fp,
      |  MIN(doc_id) OVER (PARTITION BY md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'))) AS rep_id,
      |  CASE WHEN doc_id <> MIN(doc_id) OVER (PARTITION BY
      |    md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'))) THEN 1 ELSE 0 END AS is_dup
      |FROM documents ORDER BY doc_id""".stripMargin

  /** q82 — Unicode-canonicalized exact dedup: NFC-normalize BEFORE the
    * casefold/whitespace-collapse fingerprint, so byte-different
    * spellings of canonically-equivalent text (precomposed é vs e +
    * combining acute) land in the same dup group — the gap a
    * byte-level md5 dedup (q25) has on real multilingual corpora.
    * `nfc_changed` flags the rows normalization actually rewrote (0
    * across this ASCII corpus; the unicode behavior is pinned in
    * TextOpsSpec).
    *
    * The casefold is deliberately ASCII-only (`translate` A-Z→a-z, the
    * identical table in both engines) rather than full `lower()`:
    * Spark's JVM `toLowerCase` and DuckDB's utf8proc lowercase diverge
    * on exotic case mappings (U+0130 İ, Cherokee, locale-sensitive
    * dotted-I), which are exactly the non-ASCII inputs this query
    * targets — a fingerprint built on `lower()` can disagree across
    * engines on multilingual corpora even though both are "correct".
    * ASCII fold + NFC is portable by construction; full-Unicode
    * case-insensitivity is intentionally out of scope (É ≠ é here).
    * Pinned in TextOpsSpec ("casefold is ASCII-only").
    *
    * Scale: identical to q25 — a narrow codegen'd map (the NFC
    * expression has an isNormalized fast path, no allocation on the
    * ASCII/precomposed common case) + one fingerprint-keyed window.
    */
  private val AsciiUpper = ('A' to 'Z').mkString
  private val AsciiLower = ('a' to 'z').mkString

  def exactNormalized(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val nfcText = graft.functions.NfcNormalize.nfcCol(col("text"))
    val w = Window.partitionBy(col("norm_fp"))
    docs.select(col("doc_id"),
        (nfcText =!= col("text")).cast("int").as("nfc_changed"),
        md5(regexp_replace(trim(translate(nfcText, AsciiUpper, AsciiLower)),
          "\\s+", " ")).as("norm_fp"))
      .withColumn("rep_id", min(col("doc_id")).over(w))
      .withColumn("is_dup", (col("doc_id") =!= col("rep_id")).cast("int"))
      .orderBy(col("doc_id"))
  }

  val exactNormalizedSql: String =
    s"""WITH n AS (
      |  SELECT doc_id,
      |    CAST(nfc_normalize(text) <> text AS INT) AS nfc_changed,
      |    md5(regexp_replace(trim(translate(nfc_normalize(text),
      |      '$AsciiUpper', '$AsciiLower')), '\\s+', ' ', 'g')) AS norm_fp
      |  FROM documents
      |)
      |SELECT doc_id, nfc_changed, norm_fp,
      |  MIN(doc_id) OVER (PARTITION BY norm_fp) AS rep_id,
      |  CASE WHEN doc_id <> MIN(doc_id) OVER (PARTITION BY norm_fp)
      |       THEN 1 ELSE 0 END AS is_dup
      |FROM n ORDER BY doc_id""".stripMargin

  /** Distinct word-k-gram shingles per doc (docs shorter than k tokens
    * produce none and drop out of pair generation).
    */
  private def shingles(docs: DataFrame, k: Int): DataFrame =
    docs.select(col("doc_id"), tokens(col("text")).as("toks"))
      .withColumn("n", size(col("toks")))
      .filter(col("n") >= k)
      .select(col("doc_id"), explode(array_distinct(
        graft.functions.WordNGrams.ngrams(col("toks"), k)
      )).as("shingle"))

  /** Each doc's distinct k-token shingles as CTE `name` (doc_id,
    * shingle): the SQL twin of [[shingles]]. */
  private def docShinglesCte(name: String, k: Int): String =
    s"""$name AS (
      |  SELECT doc_id, unnest(list_distinct([array_to_string(toks[i:i+${k - 1}], ' ')
      |    for i in range(1, len(toks) - ${k - 2})])) AS shingle
      |  FROM (SELECT doc_id,
      |          list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '') AS toks
      |        FROM documents)
      |  WHERE len(toks) >= $k
      |)""".stripMargin

  /** [[docShinglesCte]] `sh0` and each source's distinct shingles `sf`. */
  private def sourceShinglesCtes(k: Int): String =
    s"""${docShinglesCte("sh0", k)}, sf AS (
      |  SELECT DISTINCT d.source, sh0.shingle
      |  FROM sh0 JOIN documents d ON sh0.doc_id = d.doc_id
      |)""".stripMargin

  /** The shared DuckDB CTE prefix: distinct k-shingles + df-cap
    * pruning — the exact twin of [[shingles]] + the dfCap filter,
    * parameterized so non-default invocations keep an exact oracle.
    */
  private def shingleCtesFor(k: Int, dfCap: Int): String =
    s"""${docShinglesCte("sh", k)}, kept AS (
      |  SELECT doc_id, shingle FROM sh
      |  WHERE shingle IN (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= $dfCap)
      |)""".stripMargin

  private val shingleCtes: String = shingleCtesFor(3, 200)

  /** Per-doc shingle counts (`sizes`) and the shared-shingle count of
    * every doc pair with one in common (`shared`), over `kept`. */
  private val sharedShinglesCtes: String =
    """sizes AS (
      |  SELECT doc_id, COUNT(*) AS n_sh FROM kept GROUP BY doc_id
      |), shared AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
      |  FROM kept a JOIN kept b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2
      |)""".stripMargin

  /** `sizes`, and `shared` restricted to the candidate pairs `cand`. */
  private val candSharedCtes: String =
    """sizes AS (
      |  SELECT doc_id, COUNT(*) AS n_sh FROM kept GROUP BY doc_id
      |), shared AS (
      |  SELECT c.doc_a, c.doc_b, CAST(COUNT(*) AS BIGINT) AS n_shared
      |  FROM cand c
      |  JOIN kept ka ON ka.doc_id = c.doc_a
      |  JOIN kept kb ON kb.doc_id = c.doc_b AND kb.shingle = ka.shingle
      |  GROUP BY c.doc_a, c.doc_b
      |)""".stripMargin

  /** df-capped shingle table, materialized ONCE: explode → checkpoint,
    * partial+final df aggregate, join-back, checkpoint again. Both
    * checkpoints matter — the size aggregate and both sides of the
    * candidate self-join read the second one (an uncached self-join
    * computes its subtree once per side), and the df-agg + join read
    * the first (one tokenize+explode total). At sf0.1 this measures
    * within noise of the previous single-checkpoint form (the
    * self-join recompute was served by the sh cache); at 100 TB the
    * second materialization wins — each extra consumer of `kept`
    * re-ran a full shuffle join. (A count-over-window df-cap variant
    * was also tried: same ballpark locally, but the window sorts the
    * full shingle table by a high-cardinality string key instead of
    * map-side combining — the aggregate form is the scale shape.)
    *
    * The table is the shared front of q26/q27/q54/q66/q86/q112 (and
    * q38's pair build), memoized ([[graft.Iterate.memo]]) so one
    * session pays the tokenize + df-cap shuffle once per distinct
    * (input plan, k, dfCap). Keyed by the CANONICALIZED logical plan of
    * the input frame — two loads of the same parquet path canonicalize
    * equal, while any filtered/synthetic docs frame keys its own entry.
    */
  private def keptShingles(docs: DataFrame, k: Int, dfCap: Int): DataFrame =
    graft.Iterate.memo(docs.sparkSession,
        ("keptShingles", docs.queryExecution.logical.canonicalized, k, dfCap)) {
      val sh = shingles(docs, k).transform(graft.Iterate.cut)
      val rare = sh.groupBy(col("shingle"))
        .agg(count(lit(1)).as("df"))
        .filter(col("df") <= dfCap)
        .select("shingle")
      sh.join(rare, "shingle").transform(graft.Iterate.cut)
    }

  /** Every doc pair sharing a df-capped k-shingle: `n_shared`, and each
    * side's shingle count `n_a`, `n_b`. */
  private def sharedShingleCounts(spark: SparkSession, dir: String, k: Int,
                                  dfCap: Int): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val kept = keptShingles(docs, k, dfCap)
    val sizes = kept.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val pairsShared = kept.as("a").join(kept.as("b"), "shingle")
      .filter(col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
    pairsShared
      .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_sh", "n_a"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_sh", "n_b"), "doc_b")
  }

  /** q26 — n-gram Jaccard near-dup pairs: inverted-index candidate
    * generation (pairs sharing >= 1 surviving shingle) + exact Jaccard
    * verification. Because threshold > 0 implies a shared shingle, the
    * candidate step loses nothing — the result equals the full O(n^2)
    * computation, which is what the oracle states.
    *
    * dfCap prunes degenerate high-frequency shingles (identically on
    * both sides) so no inverted-index key fans out quadratically.
    */
  def ngramJaccardPairs(spark: SparkSession, dir: String, k: Int = 3,
                        threshold: Double = 0.6, dfCap: Int = 200): DataFrame =
    jaccardPairs(spark, dir, k, threshold, dfCap).orderBy(col("doc_a"), col("doc_b"))

  /** [[ngramJaccardPairs]] without its order, for the consumers that
    * regroup or materialize the pairs: a global sort costs them a
    * range-sampling job and an exchange whose order nothing reads. */
  private def jaccardPairs(spark: SparkSession, dir: String, k: Int = 3,
                           threshold: Double = 0.6, dfCap: Int = 200): DataFrame =
    sharedShingleCounts(spark, dir, k, dfCap)
      .withColumn("jaccard",
        round(col("n_shared").cast("double") / (col("n_a") + col("n_b") - col("n_shared")), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))

  val ngramJaccardPairsSql: String =
    s"""WITH $shingleCtes, $sharedShinglesCtes
      |SELECT doc_a, doc_b, jaccard FROM (
      |  SELECT s.doc_a, s.doc_b,
      |    ROUND(CAST(s.n_shared AS DOUBLE) / (sa.n_sh + sb.n_sh - s.n_shared), 6) AS jaccard
      |  FROM shared s
      |  JOIN sizes sa ON s.doc_a = sa.doc_id
      |  JOIN sizes sb ON s.doc_b = sb.doc_id
      |) WHERE jaccard >= 0.6
      |ORDER BY doc_a, doc_b""".stripMargin

  /** q360 — shingle-size sensitivity audit: the q26 near-dup relation
    * recomputed at k = 2, 3, 4 token shingles, each row reporting its
    * pair count, flagged-doc count, mean Jaccard, and the pair-set
    * agreement with the PRODUCTION k = 3 baseline (overlap count +
    * pair-set Jaccard) — the parameter-sensitivity table the
    * threshold (q227), generalization (q329) and contamination
    * (q252) sweeps provide for their dials, now for the n-gram
    * order. A k whose pair set barely overlaps the baseline's means
    * the detector's verdicts hinge on an arbitrary constant — the
    * thing to know BEFORE a 100 TB run bakes k in.
    *
    * Scale: three candidate-bounded q26 computations (shared df-cap
    * discipline, never all-pairs); the cross-k comparisons join
    * pair tables (tiny). Exactness: counts are integers; means use
    * the 6dp-micro half-up convention over the already-6dp jaccards.
    */
  def shingleSensitivity(spark: SparkSession, dir: String,
                         ks: Seq[Int] = Seq(2, 3, 4), baselineK: Int = 3,
                         threshold: Double = 0.6, dfCap: Int = 200)
      : DataFrame = {
    val byK = ks.map { k =>
      k -> graft.Iterate.cut(jaccardPairs(spark, dir, k, threshold, dfCap))
    }.toMap
    val base = byK(baselineK).select(col("doc_a"), col("doc_b"))
    val rows = byK.toSeq.sortBy(_._1).map { case (k, pairs) =>
      val stats = pairs.agg(count(lit(1)).as("n_pairs"),
        sum(round(col("jaccard") * 1e6, 0).cast("long")).as("jm"))
      val flagged = pairs.select(col("doc_a").as("d"))
        .unionByName(pairs.select(col("doc_b").as("d")))
        .agg(countDistinct(col("d")).as("n_flagged_docs"))
      val overlap = pairs.join(base, Seq("doc_a", "doc_b"))
        .agg(count(lit(1)).as("n_overlap_base"))
      stats.crossJoin(broadcast(flagged)).crossJoin(broadcast(overlap))
        .select(lit(k).as("k"), col("n_pairs"), col("n_flagged_docs"),
          when(col("n_pairs") > 0,
            expr("CAST((2 * jm + n_pairs) div (2 * n_pairs) AS DOUBLE)") / 1e6)
            .as("mean_jaccard"),
          col("n_overlap_base"))
    }
    val unioned = rows.reduce(_ unionByName _)
    val nBase = base.agg(count(lit(1)).as("n_base"))
    unioned.crossJoin(broadcast(nBase))
      .select(col("k"), col("n_pairs"), col("n_flagged_docs"),
        col("mean_jaccard"), col("n_overlap_base"),
        round(col("n_overlap_base").cast("double")
          / (col("n_pairs") + col("n_base") - col("n_overlap_base"))
            .cast("double"), 6).as("pairset_jaccard_vs_base"))
      .orderBy(col("k"))
  }

  def shingleSensitivitySql(ks: Seq[Int] = Seq(2, 3, 4), baselineK: Int = 3,
                            threshold: Double = 0.6, dfCap: Int = 200)
      : String = {
    def pairsCte(k: Int): String = {
      // the q26 oracle parameterized by k: shingles of k tokens,
      // df-capped, inverted-index joined, threshold-cut
      s"""SELECT doc_a, doc_b, jaccard FROM (
         |  SELECT s.doc_a, s.doc_b,
         |    ROUND(CAST(s.n_shared AS DOUBLE)
         |      / (sa.n_sh + sb.n_sh - s.n_shared), 6) AS jaccard
         |  FROM (
         |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |      COUNT(*) AS n_shared
         |    FROM kept_$k a JOIN kept_$k b
         |      ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |    GROUP BY 1, 2
         |  ) s
         |  JOIN (SELECT doc_id, COUNT(*) AS n_sh FROM kept_$k GROUP BY 1) sa
         |    ON s.doc_a = sa.doc_id
         |  JOIN (SELECT doc_id, COUNT(*) AS n_sh FROM kept_$k GROUP BY 1) sb
         |    ON s.doc_b = sb.doc_id
         |) WHERE jaccard >= $threshold""".stripMargin
    }
    // the EXACT per-k form of [[shingleCtesFor]], names suffixed so
    // three k's coexist in one WITH — any drift from the q26 oracle's
    // construction would silently change the relation
    def shingleCte(k: Int): String =
      s"""sh_$k AS (
         |  SELECT doc_id, unnest(list_distinct([array_to_string(toks[i:i+${k - 1}], ' ')
         |    for i in range(1, len(toks) - ${k - 2})])) AS shingle
         |  FROM (SELECT doc_id,
         |          list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '') AS toks
         |        FROM documents)
         |  WHERE len(toks) >= $k
         |), kept_$k AS (
         |  SELECT doc_id, shingle FROM sh_$k
         |  WHERE shingle IN (SELECT shingle FROM sh_$k GROUP BY shingle
         |                    HAVING COUNT(*) <= $dfCap)
         |)""".stripMargin
    val ctes = ks.map(shingleCte).mkString(",\n")
    val pairCtes = ks.map(k => s"pairs_$k AS (\n${pairsCte(k)}\n)")
      .mkString(", ")
    val rows = ks.sorted.map { k =>
      s"""SELECT $k AS k,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM pairs_$k) AS n_pairs,
         |  (SELECT CAST(COUNT(DISTINCT d) AS BIGINT) FROM (
         |     SELECT doc_a AS d FROM pairs_$k
         |     UNION ALL SELECT doc_b FROM pairs_$k)) AS n_flagged_docs,
         |  (SELECT CASE WHEN COUNT(*) > 0 THEN
         |     CAST((2 * SUM(CAST(ROUND(jaccard * 1000000, 0) AS BIGINT))
         |       + COUNT(*)) // (2 * COUNT(*)) AS DOUBLE) / 1000000.0 END
         |   FROM pairs_$k) AS mean_jaccard,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM pairs_$k p
         |   JOIN pairs_$baselineK b
         |     ON b.doc_a = p.doc_a AND b.doc_b = p.doc_b)
         |    AS n_overlap_base""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH $ctes, $pairCtes,
       |rows_out AS (
       |$rows
       |)
       |SELECT k, n_pairs, n_flagged_docs, mean_jaccard, n_overlap_base,
       |  ROUND(CAST(n_overlap_base AS DOUBLE) /
       |    CAST(n_pairs + (SELECT COUNT(*) FROM pairs_$baselineK)
       |      - n_overlap_base AS DOUBLE), 6) AS pairset_jaccard_vs_base
       |FROM rows_out
       |ORDER BY k""".stripMargin
  }

  /** q362 — stratified pair-audit sample: the human-QA sheet every
    * dedup rollout actually reviews — `perBucket` near-dup pairs
    * drawn DETERMINISTICALLY (portable md5 order, the q43 hash-sample
    * discipline) from each Jaccard decile bucket of q26's relation,
    * so the reviewer sees borderline 0.6s and slam-dunk 0.9s in equal
    * measure instead of whatever a head() happens to return. Rerun-
    * stable by construction (no rand()), bucket via integer micros
    * (floor(j·10) on a double puts 0.7 in bucket 6 — the binary-
    * representation trap, avoided).
    *
    * Scale: the pair relation is candidate-bounded (q26); the bucket
    * window is a WindowGroupLimit-prunable literal top-k per ≤ 4
    * buckets.
    */
  def pairAuditSample(spark: SparkSession, dir: String,
                      perBucket: Int = 5): DataFrame = {
    import graft.functions.PortableHash
    val pairs = jaccardPairs(spark, dir)
    val bucketed = pairs.withColumn("bucket",
      least(expr("CAST(ROUND(jaccard * 1000000, 0) AS BIGINT) div 100000"),
        lit(9L)).cast("int"))
    val h = PortableHash.md5Long60(concat(col("doc_a").cast("string"),
      lit("|"), col("doc_b").cast("string")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("bucket")).orderBy(h, col("doc_a"), col("doc_b"))
    bucketed
      .withColumn("pick", row_number().over(w))
      .filter(col("pick") <= perBucket)
      .select(col("bucket"), col("pick"), col("doc_a"), col("doc_b"),
        col("jaccard"))
      .orderBy(col("bucket"), col("pick"))
  }

  def pairAuditSampleSql(perBucket: Int = 5): String =
    s"""WITH pairs AS (
       |  $ngramJaccardPairsSql
       |), bucketed AS (
       |  SELECT doc_a, doc_b, jaccard,
       |    CAST(LEAST(CAST(ROUND(jaccard * 1000000, 0) AS BIGINT)
       |      // 100000, 9) AS INT) AS bucket,
       |    CAST(('0x' || substr(md5(CAST(doc_a AS VARCHAR) || '|' ||
       |      CAST(doc_b AS VARCHAR)), 1, 15)) AS BIGINT) AS h
       |  FROM pairs
       |)
       |SELECT bucket, pick, doc_a, doc_b, jaccard FROM (
       |  SELECT bucket, doc_a, doc_b, jaccard,
       |    CAST(row_number() OVER (PARTITION BY bucket
       |      ORDER BY h, doc_a, doc_b) AS INT) AS pick
       |  FROM bucketed
       |) WHERE pick <= $perBucket
       |ORDER BY bucket, pick""".stripMargin

  /** q348 — blocking-strategy audit for record linkage / dedup: for
    * each candidate-generation strategy (exact-text hash, 64-char
    * length bucket, 32-char normalized-prefix hash), the two numbers
    * every blocking decision trades off — REDUCTION RATIO (what
    * fraction of the n(n−1)/2 all-pairs space the blocks avoid) and
    * PAIRS COMPLETENESS (what fraction of the TRUE near-dup pairs —
    * q26's graded n-gram Jaccard relation — land in the same block).
    * Exact-text blocking reduces maximally but only catches byte
    * dups; length buckets catch more but barely reduce; the prefix
    * hash is the classic middle. This is the measurement a 100 TB
    * linkage run makes on a sample BEFORE committing to a blocking
    * key — a strategy with completeness 0.4 silently loses 60% of
    * the dup mass no matter how good the downstream matcher is.
    *
    * Exactness: candidate counts are Σ c(c−1)/2 over block sizes —
    * pure integers, the pair space is never materialized; recall
    * joins the (tiny) gold pair table to the block keys of BOTH
    * endpoints. Ratios are single rounded divisions.
    */
  def blockingAudit(spark: SparkSession, dir: String, k: Int = 3,
                    threshold: Double = 0.6, dfCap: Int = 200): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text"), col("n_chars"))
    val keyed = docs.select(lit("exact_text").as("strategy"), col("doc_id"),
        md5(col("text")).as("key"))
      .unionByName(docs.select(lit("length_bucket").as("strategy"),
        col("doc_id"), expr("CAST(n_chars div 64 AS STRING)").as("key")))
      .unionByName(docs.select(lit("prefix_hash").as("strategy"),
        col("doc_id"), md5(substring(lower(col("text")), 1, 32)).as("key")))
      .transform(graft.Iterate.cut) // consumers: block sizes + two gold joins
    val nDocs = docs.count()
    val allPairs = nDocs * (nDocs - 1) / 2
    val cand = keyed.groupBy(col("strategy"), col("key"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("strategy"))
      .agg(count(lit(1)).as("n_blocks"),
        // integer div: Column./ is DOUBLE division
        sum(expr("c * (c - 1) div 2")).as("cand_pairs"))
    val (gold, nGold) = graft.Iterate.cutObserved(
      jaccardPairs(spark, dir, k, threshold, dfCap)
        .select(col("doc_a"), col("doc_b")), count(lit(1)))
    val covered = gold
      .join(keyed.select(col("strategy"), col("doc_id").as("doc_a"),
        col("key").as("key_a")), "doc_a")
      .join(keyed.select(col("strategy"), col("doc_id").as("doc_b"),
        col("key").as("key_b")), Seq("strategy", "doc_b"))
      .filter(col("key_a") === col("key_b"))
      .groupBy(col("strategy")).agg(count(lit(1)).as("gold_covered"))
    cand.join(covered, Seq("strategy"), "left")
      .select(col("strategy"), lit(nDocs).as("n_docs"),
        lit(allPairs).as("all_pairs"), col("n_blocks"),
        col("cand_pairs").cast("long").as("cand_pairs"),
        round(lit(1.0) - col("cand_pairs").cast("double") / allPairs, 6)
          .as("reduction_ratio"),
        lit(nGold).as("gold_pairs"),
        coalesce(col("gold_covered"), lit(0L)).as("gold_covered"),
        round(coalesce(col("gold_covered"), lit(0L)).cast("double")
          / nGold, 6).as("pairs_completeness"))
      .orderBy(col("strategy"))
  }

  def blockingAuditSql(): String =
    s"""WITH keyed AS (
       |  SELECT 'exact_text' AS strategy, doc_id, md5(text) AS key
       |  FROM documents
       |  UNION ALL
       |  SELECT 'length_bucket', doc_id, CAST(n_chars // 64 AS VARCHAR)
       |  FROM documents
       |  UNION ALL
       |  SELECT 'prefix_hash', doc_id, md5(substr(lower(text), 1, 32))
       |  FROM documents
       |), tot AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(COUNT(*) * (COUNT(*) - 1) // 2 AS BIGINT) AS all_pairs
       |  FROM documents
       |), cand AS (
       |  SELECT strategy, CAST(COUNT(*) AS BIGINT) AS n_blocks,
       |    CAST(SUM(c * (c - 1) // 2) AS BIGINT) AS cand_pairs
       |  FROM (
       |    SELECT strategy, key, COUNT(*) AS c
       |    FROM keyed GROUP BY 1, 2
       |  ) GROUP BY 1
       |), gold AS (
       |  SELECT doc_a, doc_b FROM (
       |    $ngramJaccardPairsSql
       |  )
       |), ng AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_gold FROM gold
       |), covered AS (
       |  SELECT ka.strategy, CAST(COUNT(*) AS BIGINT) AS gold_covered
       |  FROM gold g
       |  JOIN keyed ka ON ka.doc_id = g.doc_a
       |  JOIN keyed kb ON kb.doc_id = g.doc_b
       |    AND kb.strategy = ka.strategy
       |  WHERE ka.key = kb.key
       |  GROUP BY 1
       |)
       |SELECT c.strategy, t.n_docs, t.all_pairs, c.n_blocks, c.cand_pairs,
       |  ROUND(1.0 - CAST(c.cand_pairs AS DOUBLE) / t.all_pairs, 6)
       |    AS reduction_ratio,
       |  ng.n_gold AS gold_pairs,
       |  COALESCE(cv.gold_covered, 0) AS gold_covered,
       |  ROUND(CAST(COALESCE(cv.gold_covered, 0) AS DOUBLE) / ng.n_gold, 6)
       |    AS pairs_completeness
       |FROM cand c
       |CROSS JOIN tot t CROSS JOIN ng
       |LEFT JOIN covered cv ON cv.strategy = c.strategy
       |ORDER BY c.strategy""".stripMargin

  /** q227 — dedup threshold curve: how many near-dup pairs, removable
    * documents (the higher-id member under the min-id-canonical rule)
    * and removable characters each candidate Jaccard threshold would
    * flag — the tuning table you read BEFORE committing a 100 TB
    * corpus to one threshold (q26 hard-codes the decision; this shows
    * the dial: too low eats real data, too high leaves dup mass in).
    *
    * Exactness: one q26 pair computation at the LOOSEST grid point
    * (jaccard ≥ min threshold, same inverted-index + df-cap
    * machinery), then the grid is a literal explode over the flagged
    * pair table — counts and character sums are exact integers, the
    * jaccard-vs-threshold compares are on the shared 6dp-rounded
    * doubles. Thresholds that flag nothing keep visible zero rows.
    *
    * Scale: the pair table is computed once (candidate-bounded, never
    * all-pairs); the ×|grid| explode runs over PAIRS (already tiny),
    * not the corpus; everything after is threshold-cardinality-sized.
    */
  def dedupThresholdCurve(spark: SparkSession, dir: String, k: Int = 3,
                          thresholds: Seq[Double] = Seq(0.5, 0.6, 0.7, 0.8, 0.9),
                          dfCap: Int = 200): DataFrame = {
    val pairs = jaccardPairs(spark, dir, k, thresholds.min, dfCap)
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("n_chars"))
    val gridDf = spark.range(1)
      .select(explode(array(thresholds.map(lit): _*)).as("threshold"))
    val flagged = pairs.crossJoin(broadcast(gridDf))
      .where(col("jaccard") >= col("threshold"))
    val nPairs = flagged.groupBy(col("threshold")).agg(count(lit(1)).as("n_pairs"))
    val removed = flagged.select(col("threshold"), col("doc_b")).distinct()
      .join(docs, col("doc_b") === col("doc_id"))
      .groupBy(col("threshold"))
      .agg(count(lit(1)).as("n_docs_removable"),
        sum(col("n_chars")).as("chars_removable"))
    gridDf.join(nPairs, Seq("threshold"), "left")
      .join(removed, Seq("threshold"), "left")
      .select(col("threshold"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_docs_removable"), lit(0L)).as("n_docs_removable"),
        coalesce(col("chars_removable"), lit(0L)).as("chars_removable"))
      .orderBy(col("threshold"))
  }

  def dedupThresholdCurveSql(
      thresholds: Seq[Double] = Seq(0.5, 0.6, 0.7, 0.8, 0.9)): String = {
    val tmin = thresholds.min
    val list = thresholds.mkString("[", ", ", "]")
    s"""WITH $shingleCtes, $sharedShinglesCtes, pairs AS (
       |  SELECT doc_a, doc_b, jaccard FROM (
       |    SELECT s.doc_a, s.doc_b,
       |      ROUND(CAST(s.n_shared AS DOUBLE)
       |        / (sa.n_sh + sb.n_sh - s.n_shared), 6) AS jaccard
       |    FROM shared s
       |    JOIN sizes sa ON s.doc_a = sa.doc_id
       |    JOIN sizes sb ON s.doc_b = sb.doc_id
       |  ) WHERE jaccard >= $tmin
       |), grid AS (
       |  SELECT CAST(unnest($list) AS DOUBLE) AS threshold
       |), flagged AS (
       |  SELECT g.threshold, p.doc_a, p.doc_b
       |  FROM grid g JOIN pairs p ON p.jaccard >= g.threshold
       |), npairs AS (
       |  SELECT threshold, COUNT(*) AS n_pairs FROM flagged GROUP BY 1
       |), removed AS (
       |  SELECT f.threshold,
       |    COUNT(*) AS n_docs_removable,
       |    SUM(d.n_chars) AS chars_removable
       |  FROM (SELECT DISTINCT threshold, doc_b FROM flagged) f
       |  JOIN documents d ON d.doc_id = f.doc_b
       |  GROUP BY 1
       |)
       |SELECT g.threshold,
       |  CAST(COALESCE(np.n_pairs, 0) AS BIGINT) AS n_pairs,
       |  CAST(COALESCE(r.n_docs_removable, 0) AS BIGINT) AS n_docs_removable,
       |  CAST(COALESCE(r.chars_removable, 0) AS BIGINT) AS chars_removable
       |FROM grid g
       |LEFT JOIN npairs np USING (threshold)
       |LEFT JOIN removed r USING (threshold)
       |ORDER BY g.threshold""".stripMargin
  }

  /** q86 — containment near-dup pairs: the ASYMMETRIC overlap measure
    * |A∩B| / min(|A|,|B|) (directional containments reported both
    * ways). Jaccard (q26) misses sub-document duplication by
    * construction — a 30-shingle doc fully embedded in a 300-shingle
    * doc scores J = 30/300 = 0.1 but containment 1.0; this is the
    * quote/boilerplate-wrapper/excerpt case that matters for training
    * data (the small doc contributes nothing new).
    *
    * Scale: identical machinery to q26 — the df-capped shingle
    * inverted index generates candidates (a pair with
    * max-containment >= t shares >= 1 shingle, so candidates lose
    * nothing), the shared-count aggregate rides the shingle shuffle,
    * and the containment arithmetic is a narrow map. No new shapes.
    */
  def containmentPairs(spark: SparkSession, dir: String, k: Int = 3,
                       threshold: Double = 0.8, dfCap: Int = 200): DataFrame = {
    sharedShingleCounts(spark, dir, k, dfCap)
      .withColumn("contain_a", round(col("n_shared").cast("double") / col("n_a"), 6))
      .withColumn("contain_b", round(col("n_shared").cast("double") / col("n_b"), 6))
      .withColumn("containment", greatest(col("contain_a"), col("contain_b")))
      .filter(col("containment") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("contain_a"),
        col("contain_b"), col("containment"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Oracle twin of [[containmentPairs]] — takes the same parameters,
    * so non-default invocations stay exactly checkable.
    */
  def containmentPairsSql(k: Int = 3, threshold: Double = 0.8,
                          dfCap: Int = 200): String =
    s"""WITH ${shingleCtesFor(k, dfCap)}, $sharedShinglesCtes
      |SELECT doc_a, doc_b, contain_a, contain_b, containment FROM (
      |  SELECT s.doc_a, s.doc_b,
      |    ROUND(CAST(s.n_shared AS DOUBLE) / sa.n_sh, 6) AS contain_a,
      |    ROUND(CAST(s.n_shared AS DOUBLE) / sb.n_sh, 6) AS contain_b,
      |    GREATEST(ROUND(CAST(s.n_shared AS DOUBLE) / sa.n_sh, 6),
      |             ROUND(CAST(s.n_shared AS DOUBLE) / sb.n_sh, 6)) AS containment
      |  FROM shared s
      |  JOIN sizes sa ON s.doc_a = sa.doc_id
      |  JOIN sizes sb ON s.doc_b = sb.doc_id
      |) WHERE containment >= $threshold
      |ORDER BY doc_a, doc_b""".stripMargin

  /** q54 — incremental near-dup screening: an INCOMING batch checked
    * against the EXISTING corpus (asymmetric — the production
    * ingestion shape: each new document either maps to its best
    * corpus near-dup or is admitted as new; corpus-internal and
    * batch-internal pairs are NOT recomputed). The inverted index is
    * built over both sides once; the candidate join is
    * incoming⋈corpus only. The df cap is computed over the combined
    * corpus so ingestion order cannot change which shingles survive.
    * Split rule here: doc_id >= splitId is "incoming" (the testdata
    * stand-in for a new crawl batch).
    */
  def incrementalNearDups(spark: SparkSession, dir: String, splitId: Long = 400L,
                          k: Int = 3, threshold: Double = 0.6): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val kept = keptShingles(docs, k, dfCap = 200)
    val corpus = kept.filter(col("doc_id") < splitId)
    val incoming = kept.filter(col("doc_id") >= splitId)
    val sizes = kept.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val shared = incoming.as("i").join(corpus.as("c"), "shingle")
      .groupBy(col("i.doc_id").as("new_id"), col("c.doc_id").as("corpus_id"))
      .agg(count(lit(1)).as("n_shared"))
    val scoredPairs = shared
      .join(sizes.withColumnRenamed("doc_id", "new_id").withColumnRenamed("n_sh", "n_i"), "new_id")
      .join(sizes.withColumnRenamed("doc_id", "corpus_id").withColumnRenamed("n_sh", "n_c"), "corpus_id")
      .withColumn("jaccard",
        round(col("n_shared").cast("double") / (col("n_i") + col("n_c") - col("n_shared")), 6))
      .filter(col("jaccard") >= threshold)
    // best corpus match per incoming doc; unmatched incoming = admit
    val w = Window.partitionBy(col("new_id"))
      .orderBy(col("jaccard").desc, col("corpus_id"))
    val best = scoredPairs.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("new_id"), col("corpus_id"), col("jaccard"))
    docs.filter(col("doc_id") >= splitId).select(col("doc_id").as("new_id"))
      .join(best, Seq("new_id"), "left")
      .withColumn("is_new", col("corpus_id").isNull.cast("int"))
      .orderBy(col("new_id"))
  }

  val incrementalNearDupsSql: String =
    s"""WITH $shingleCtes, sizes AS (
      |  SELECT doc_id, COUNT(*) AS n_sh FROM kept GROUP BY doc_id
      |), shared AS (
      |  SELECT i.doc_id AS new_id, c.doc_id AS corpus_id, COUNT(*) AS n_shared
      |  FROM kept i JOIN kept c ON i.shingle = c.shingle
      |  WHERE i.doc_id >= 400 AND c.doc_id < 400
      |  GROUP BY 1, 2
      |), scored AS (
      |  SELECT new_id, corpus_id, jaccard FROM (
      |    SELECT s.new_id, s.corpus_id,
      |      ROUND(CAST(s.n_shared AS DOUBLE) / (si.n_sh + sc.n_sh - s.n_shared), 6) AS jaccard
      |    FROM shared s
      |    JOIN sizes si ON s.new_id = si.doc_id
      |    JOIN sizes sc ON s.corpus_id = sc.doc_id
      |  ) WHERE jaccard >= 0.6
      |), best AS (
      |  SELECT new_id, corpus_id, jaccard FROM scored
      |  QUALIFY row_number() OVER (PARTITION BY new_id
      |    ORDER BY jaccard DESC, corpus_id) = 1
      |)
      |SELECT d.doc_id AS new_id, b.corpus_id, b.jaccard,
      |  CASE WHEN b.corpus_id IS NULL THEN 1 ELSE 0 END AS is_new
      |FROM documents d LEFT JOIN best b ON d.doc_id = b.new_id
      |WHERE d.doc_id >= 400
      |ORDER BY new_id""".stripMargin

  /** MinHash signature matrix: numHashes universal-family slots per
    * doc, h_i(doc) = min over shingles of (A_i*x + B_i) mod p with
    * x the md5 word of the shingle — computed by the single-buffer
    * [[graft.functions.MinHashSketch]] aggregate (bit-equal to the
    * composable min-column form AND to DuckDB; see PipelineSpec).
    */
  private def minhashSignatures(kept: DataFrame, numHashes: Int): DataFrame = {
    val sig = kept.groupBy(col("doc_id"))
      .agg(graft.functions.MinHashSketch.minhash(col("shingle"), numHashes).as("sig"))
    sig.select(col("doc_id") +:
      (0 until numHashes).map(i => col("sig").getItem(i).as(s"h$i")): _*)
  }

  /** q38 — dedup clustering: connected components over the near-dup
    * pair graph, each doc mapped to its cluster representative
    * (min doc_id reachable). Iterative min-label propagation — the
    * loop is driver-controlled; round 1 is one aggregate over the edge
    * list and every later round a pair of SHUFFLE
    * joins keyed on doc_id (round-2 rework: no broadcast of the label
    * table — at 100 TB web-corpus dup rates it is not broadcastable,
    * and SHUFFLE_HASH pins the strategy so AQE cannot flip the
    * locally-tiny table back to broadcast; the benched plan is the
    * 100 TB plan). Convergence is observed on the round's own cut:
    * the previous label rides along as `old_rep` and the cut counts
    * the rows that changed — no extra job.
    * Convergence in O(cluster diameter) rounds (near-dup clusters are
    * tiny, so 2-3). The oracle states the same fixpoint as a recursive
    * transitive-closure CTE.
    */
  def dedupClusters(spark: SparkSession, dir: String, k: Int = 3,
                    threshold: Double = 0.6, maxIters: Int = 50,
                    requireConverged: Boolean = false): DataFrame =
    members(spark, dir, k, threshold, maxIters, requireConverged)
      .withColumn("is_canonical", (col("doc_id") === col("rep_id")).cast("int"))
      .orderBy(col("doc_id"))

  /** Every document's q38 cluster representative `(doc_id, rep_id)`,
    * unsorted — the label relation the cluster consumers (q80, q89,
    * q118, q192, q233, q326, q330 and the q63 curation pipeline)
    * regroup. Throws when the fixpoint did not converge: a partial
    * labeling splits true clusters.
    */
  def clusterMembers(spark: SparkSession, dir: String): DataFrame =
    members(spark, dir, 3, 0.6, 50, requireConverged = true)

  /** The edge-node labels of [[clusterMembers]] joined back to every
    * document, a singleton being its own representative. */
  private def members(spark: SparkSession, dir: String, k: Int,
                      threshold: Double, maxIters: Int,
                      requireConverged: Boolean): DataFrame =
    Tables.load(spark, dir, "documents").select(col("doc_id"))
      .join(edgeLabels(spark, dir, k, threshold, maxIters, requireConverged),
        Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("rep_id"), col("doc_id")).as("rep_id"))

  /** The memoized labels `(doc_id, rep_id)` of the docs that have a
    * near-dup edge, checked for convergence: a failure when
    * `requireConverged`, a stderr warning otherwise. */
  private def edgeLabels(spark: SparkSession, dir: String, k: Int,
                         threshold: Double, maxIters: Int,
                         requireConverged: Boolean): DataFrame = {
    val (labels, converged) = clusterLabels(spark, dir, k, threshold, maxIters)
    if (!converged) {
      val msg = s"[dedupClusters] not converged after $maxIters rounds — " +
        s"a near-dup chain longer than $maxIters hops exists; labels for " +
        "its tail are not yet the cluster minimum"
      // callers that depend on complete clusters (clusterSplit's
      // no-leakage-by-construction guarantee) must fail hard: two docs
      // of one true cluster with different rep_ids could silently
      // straddle train/val otherwise
      if (requireConverged) throw new IllegalStateException(msg)
      System.err.println(s"$msg (WARNING)")
    }
    labels
  }

  /** Fixpoint executions this JVM (tests assert memo hits). */
  private[graft] val labelsComputeCount = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Converged-or-not propagation labels over the near-dup edge set:
    * (labels(doc_id, rep_id) for edge nodes, converged). Memoized
    * ([[graft.Iterate.memo]]): one fixpoint per (session, dir, k,
    * threshold, maxIters) — q38/q80/q89/q108 and the q63 pipeline all
    * consume the SAME labels, so a session that grades or composes
    * several of them pays for the fixpoint once (round-8 verdict
    * finding: q108 embedded a full recompute). The held frame is the
    * post-[[graft.Iterate.cut]] label table for edge nodes only — a
    * sliver of the corpus.
    */
  private def clusterLabels(spark: SparkSession, dir: String, k: Int,
                            threshold: Double, maxIters: Int): (DataFrame, Boolean) =
    graft.Iterate.memo(spark, ("clusterLabels", dir, k, threshold, maxIters)) {
      computeClusterLabels(spark, dir, k, threshold, maxIters)
    }

  /** The label fixpoint. Its edge list (both directions of every
    * near-dup pair) is the one materialization every round reads.
    * The starting labels (every node its own representative) are never
    * materialized: round 1 reads the edges alone, each node taking the
    * least of itself and its neighbors. Each round is cut with the
    * count of labels it changed observed on the cut itself, so
    * convergence costs no job. With `maxIters` 0 the starting labels
    * are returned, not converged.
    */
  private[graft] def computeClusterLabels(spark: SparkSession, dir: String, k: Int,
                                          threshold: Double,
                                          maxIters: Int): (DataFrame, Boolean) = {
    labelsComputeCount.incrementAndGet()
    // propagation runs only over nodes that appear in edges (the
    // near-dup graph is a sliver of the corpus), then joins back once
    val edges = graft.Iterate.cut(fixpointEdges(spark, dir, k, threshold))
    // Iterative lineage is TRUNCATED each round (Iterate.cut —
    // localCheckpoint locally, reliable checkpoint when
    // spark.graft.checkpoint.reliable is on): without truncation every
    // downstream action re-runs the whole jaccard subtree per
    // reference (profiled: 3x slower end-to-end).
    def cutRound(next: DataFrame): (DataFrame, Boolean) = {
      val (cut, changed) = graft.Iterate.cutObserved(next,
        count_if(col("rep_id") =!= col("old_rep")))
      (cut.select(col("doc_id"), col("rep_id")), changed == 0L)
    }
    var labels = edges.select(col("doc_a").as("doc_id")).distinct()
      .withColumn("rep_id", col("doc_id"))
    var converged = false
    var iter = 0
    while (!converged && iter < maxIters) {
      iter += 1
      val (next, done) = cutRound(
        if (iter == 1) edges
          .groupBy(col("doc_a").as("doc_id"))
          .agg(min(col("doc_b")).as("n_rep"))
          .select(col("doc_id"), col("doc_id").as("old_rep"),
            least(col("doc_id"), col("n_rep")).as("rep_id"))
        else {
          val neighborMin = edges
            .join(labels.hint("shuffle_hash"), edges("doc_b") === labels("doc_id"))
            .groupBy(col("doc_a").as("nm_doc_id"))
            .agg(min(col("rep_id")).as("n_rep"))
          // every labeled node has a neighbor, so the join is inner:
          // both joins then read labels through one exchange
          labels
            .join(neighborMin.hint("shuffle_hash"),
              labels("doc_id") === col("nm_doc_id"))
            .select(col("doc_id"), col("rep_id").as("old_rep"),
              least(col("rep_id"), col("n_rep")).as("rep_id"))
        })
      labels = next
      converged = done
    }
    (labels, converged)
  }

  /** Both directions `(doc_a, doc_b)` of every near-dup pair. */
  private[graft] def fixpointEdges(spark: SparkSession, dir: String, k: Int,
                                   threshold: Double): DataFrame =
    jaccardPairs(spark, dir, k, threshold)
      .select(explode(array(
        struct(col("doc_a"), col("doc_b")),
        struct(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))).as("e"))
      .select(col("e.doc_a"), col("e.doc_b"))

  /** Alternating large-star/small-star connected components — the
    * O(log n)-round shuffle-only CC (Kiveris et al., "Connected
    * Components in MapReduce and Beyond"), as the high-diameter
    * alternative to [[dedupClusters]]' min-label propagation
    * (O(diameter) rounds; fine for tiny near-dup clusters, quadratic
    * wall-clock on pathological chains). Input: undirected edge list
    * (src, dst); output: (node, rep) with rep = component minimum —
    * component centers are omitted (they map to themselves; join back
    * with coalesce, as [[dedupClusters]] does for singletons).
    * Every round is two shuffle joins + two aggregations; edges are
    * checkpointed per round (same lineage-truncation reasoning as the
    * propagation loop). Equivalence to the propagation fixpoint is
    * asserted in PipelineSpec.
    */
  def connectedComponents(edges0: DataFrame, maxIters: Int = 20): DataFrame = {
    // self-loop-free, oriented large→small, distinct
    def orient(e: DataFrame): DataFrame = e.select(
        greatest(col("src"), col("dst")).as("src"),
        least(col("src"), col("dst")).as("dst"))
      .filter(col("src") =!= col("dst")).distinct()
    var (e, eRows) = graft.Iterate.cutObserved(orient(edges0), count(lit(1)))
    var done = false
    var i = 0
    while (!done && i < maxIters) {
      i += 1
      // large-star: connect every strictly-larger neighbor of u to
      // m(u) = min(N(u) ∪ {u})
      val sym = e.unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
      val mins = sym.groupBy(col("src"))
        .agg(least(min(col("dst")), col("src")).as("m"))
      val ls = graft.Iterate.cut(orient(sym.join(mins, "src")
        .filter(col("dst") > col("src"))
        .select(col("dst").as("src"), col("m").as("dst"))))
      // small-star: connect u and all its (smaller) neighbors to the min
      val mins2 = ls.groupBy(col("src")).agg(min(col("dst")).as("m"))
      val (ss, ssRows) = graft.Iterate.cutObserved(orient(ls.join(mins2, "src")
        .select(col("dst").as("src"), col("m").as("dst"))
        .unionByName(mins2.select(col("src"), col("m").as("dst")))), count(lit(1)))
      // fixpoint: the (distinct) edge set stopped changing
      done = ssRows == eRows && ss.except(e).isEmpty
      e = ss
      eRows = ssRows
    }
    if (!done)
      System.err.println(s"[connectedComponents] WARNING: not converged " +
        s"after $maxIters alternating rounds — returned reps may not yet " +
        "be component minima")
    e.select(col("src").as("node"), col("dst").as("rep"))
  }

  val dedupClustersSql: String =
    s"""WITH RECURSIVE $shingleCtes, $sharedShinglesCtes, pairs AS (
      |  SELECT doc_a, doc_b FROM (
      |    SELECT s.doc_a, s.doc_b,
      |      ROUND(CAST(s.n_shared AS DOUBLE) / (sa.n_sh + sb.n_sh - s.n_shared), 6) AS jaccard
      |    FROM shared s JOIN sizes sa ON s.doc_a = sa.doc_id
      |    JOIN sizes sb ON s.doc_b = sb.doc_id
      |  ) WHERE jaccard >= 0.6
      |), edges AS (
      |  SELECT doc_a, doc_b FROM pairs
      |  UNION SELECT doc_b, doc_a FROM pairs
      |), reach(a, b) AS (
      |  SELECT doc_a, doc_b FROM edges
      |  UNION
      |  SELECT r.a, e.doc_b FROM reach r JOIN edges e ON r.b = e.doc_a
      |)
      |SELECT d.doc_id,
      |  LEAST(d.doc_id, COALESCE(MIN(r.b), d.doc_id)) AS rep_id,
      |  CASE WHEN LEAST(d.doc_id, COALESCE(MIN(r.b), d.doc_id)) = d.doc_id
      |       THEN 1 ELSE 0 END AS is_canonical
      |FROM documents d LEFT JOIN reach r ON d.doc_id = r.a
      |GROUP BY d.doc_id
      |ORDER BY d.doc_id""".stripMargin

  /** Each signature's `bands` band keys (doc_id, band, bucket); the
    * bucket is the '|'-joined slice of `numHashes / bands` slots. */
  private def bandBuckets(sig: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    val rows = numHashes / bands
    val bandStructs = (0 until bands).map { b =>
      val slice = (0 until rows).map(r => col(s"h${b * rows + r}").cast("string"))
      struct(lit(b).as("band"), concat_ws("|", slice: _*).as("bucket"))
    }
    sig.select(col("doc_id"), explode(array(bandStructs: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
  }

  /** Distinct pairs (doc_a < doc_b) that share a band bucket. */
  private def bandCandidates(banded: DataFrame): DataFrame =
    banded.as("a").join(banded.as("b"), Seq("band", "bucket"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()

  /** The SQL twin of [[minhashSignatures]] + [[bandBuckets]] +
    * [[bandCandidates]] over `kept`: `sig`, `banded` and `cand`. */
  private def minhashCandidateCtes(numHashes: Int, bands: Int): String = {
    val rows = numHashes / bands
    s"""hx AS (
      |  SELECT doc_id, shingle,
      |    CAST(('0x' || substr(md5(shingle), 1, 8)) AS BIGINT) % 2147483647 AS x
      |  FROM kept
      |), sig AS (
      |  SELECT doc_id, slots.i AS slot, MIN((slots.a * x + slots.b) % 2147483647) AS h
      |  FROM hx, ${graft.functions.PortableHash.slotConstantsSql(numHashes)}
      |  GROUP BY doc_id, slots.i
      |), banded AS (
      |  SELECT doc_id, slot // $rows AS band,
      |    string_agg(CAST(h AS VARCHAR), '|' ORDER BY slot) AS bucket
      |  FROM sig GROUP BY doc_id, slot // $rows
      |), cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM banded a JOIN banded b ON a.band = b.band AND a.bucket = b.bucket
      |    AND a.doc_id < b.doc_id
      |)""".stripMargin
  }

  /** q27 — MinHash + LSH banding near-dup pairs (oracle-checked in
    * round 2: the md5 universal family is stated identically in DuckDB,
    * so the candidate set — not just the verified output — matches).
    * numHashes=24 split into 8 bands of 3: P(candidate) = 1-(1-j^3)^8,
    * ~0.997 at j=0.8. Candidates are verified with exact Jaccard so
    * precision is 1.0 — only recall is approximate, and the oracle
    * reproduces the same approximation deterministically.
    *
    * Scale: band buckets are the shuffle keys; signature build is one
    * aggregation over the shingle table.
    */
  def minhashLshPairs(spark: SparkSession, dir: String, k: Int = 3,
                      numHashes: Int = 24, bands: Int = 8,
                      threshold: Double = 0.6): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val kept = keptShingles(docs, k, dfCap = 200)
    val sig = minhashSignatures(kept, numHashes)
    // band keys via one explode (a union of per-band selects would
    // recompute the signature aggregation once per band — the plan
    // audit showed 19 shuffles); the bucket is the '|'-joined slice —
    // a plain string equi-join key both engines state identically
    val banded = bandBuckets(sig, numHashes, bands).transform(graft.Iterate.cut)
    val candidates = bandCandidates(banded)
    // exact-Jaccard verification of candidates ONLY (no all-pairs work:
    // the candidate set is the LSH payoff — keep it that way).
    val sets = kept.groupBy(col("doc_id")).agg(collect_set(col("shingle")).as("sh_set"))
    candidates
      .join(sets.select(col("doc_id").as("doc_a"), col("sh_set").as("set_a")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("sh_set").as("set_b")), "doc_b")
      .withColumn("n_shared", size(array_intersect(col("set_a"), col("set_b"))))
      .withColumn("jaccard", round(col("n_shared").cast("double") /
        (size(col("set_a")) + size(col("set_b")) - col("n_shared")), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** DuckDB twin of the FULL LSH pipeline: same universal-family
    * signatures (`MIN((a*x + b) % p)` with the same per-slot (a, b)
    * literals), same 8x3 banding, same candidate join, same
    * exact-Jaccard verification — bit-identical end to end.
    */
  val minhashLshPairsSql: String =
    s"""WITH $shingleCtes, ${minhashCandidateCtes(24, 8)}, sizes AS (
      |  SELECT doc_id, COUNT(*) AS n_sh FROM kept GROUP BY doc_id
      |), shared AS (
      |  SELECT c.doc_a, c.doc_b, COUNT(*) AS n_shared
      |  FROM cand c
      |  JOIN kept ka ON ka.doc_id = c.doc_a
      |  JOIN kept kb ON kb.doc_id = c.doc_b AND kb.shingle = ka.shingle
      |  GROUP BY c.doc_a, c.doc_b
      |)
      |SELECT doc_a, doc_b, jaccard FROM (
      |  SELECT s.doc_a, s.doc_b,
      |    ROUND(CAST(s.n_shared AS DOUBLE) / (sa.n_sh + sb.n_sh - s.n_shared), 6) AS jaccard
      |  FROM shared s
      |  JOIN sizes sa ON s.doc_a = sa.doc_id
      |  JOIN sizes sb ON s.doc_b = sb.doc_id
      |) WHERE jaccard >= 0.6
      |ORDER BY doc_a, doc_b""".stripMargin

  /** q28 — SimHash near-dup pairs (oracle-checked in round 2). 60-bit
    * simhash from md5 token hashes (60, not 64: 15 md5 nibbles stay
    * inside signed-BIGINT arithmetic on both engines); pairs from
    * 15-bit band buckets verified by Hamming distance <= maxHamming.
    * Banding over 4 bands guarantees recall for Hamming <= 3
    * (pigeonhole: some band is untouched).
    */
  def simhashPairs(spark: SparkSession, dir: String,
                   maxHamming: Int = 3): DataFrame = {
    val nBits = 60
    val bandBits = 15
    val docs = Tables.load(spark, dir, "documents")
    val toks = docs.select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .withColumn("th", PortableHash.md5Long60(col("tok")))
    // per bit: sum of +1/-1 votes across token occurrences
    val bitSums = (0 until nBits).map(b =>
      sum(when(shiftright(col("th"), b).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"b$b"))
    val sims = toks.groupBy(col("doc_id")).agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"),
        (0 until nBits).map(b =>
          when(col(s"b$b") > 0, shiftleft(lit(1L), b)).otherwise(0L)).reduce(_ bitwiseOR _)
          .as("simhash"))
    // one explode instead of a 4-way union (which re-scanned and
    // re-aggregated the token table per band — 8 scans in the audit)
    val banded = sims.select(col("doc_id"), col("simhash"),
        explode(array((0 until 4).map(b => struct(lit(b).as("band"),
          shiftright(col("simhash"), b * bandBits).bitwiseAND((1L << bandBits) - 1)
            .as("bucket"))): _*)).as("bb"))
      .select(col("doc_id"), col("simhash"),
        col("bb.band").as("band"), col("bb.bucket").as("bucket"))
      .transform(graft.Iterate.cut)
    banded.as("a").join(banded.as("b"), Seq("band", "bucket"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).cast("int").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** DuckDB twin of the full SimHash pipeline: same md5-60-bit token
    * hash, same ±1 bit votes, same 4x15-bit banding, same Hamming
    * verification.
    */
  val simhashPairsSql: String =
    """WITH toks AS (
      |  SELECT doc_id,
      |    unnest(list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')) AS tok
      |  FROM documents
      |), th AS (
      |  SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS h
      |  FROM toks
      |), votes AS (
      |  SELECT doc_id, t.b AS bit,
      |    SUM(CASE WHEN ((h >> t.b) & 1) = 1 THEN 1 ELSE -1 END) AS v
      |  FROM th, range(0, 60) t(b)
      |  GROUP BY doc_id, t.b
      |), sims AS (
      |  SELECT doc_id,
      |    CAST(SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS BIGINT) AS simhash
      |  FROM votes GROUP BY doc_id
      |), banded AS (
      |  SELECT doc_id, simhash, t.band AS band,
      |    (simhash >> (t.band * 15)) & 32767 AS bucket
      |  FROM sims, range(0, 4) t(band)
      |), pairs AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
      |  FROM banded a JOIN banded b ON a.band = b.band AND a.bucket = b.bucket
      |    AND a.doc_id < b.doc_id
      |)
      |SELECT doc_a, doc_b, hamming FROM pairs
      |WHERE hamming <= 3 ORDER BY doc_a, doc_b""".stripMargin

  /** q61 — benchmark decontamination screen: flag training documents
    * sharing ≥ `minShared` distinct word trigrams with any document in
    * the held-out eval split (here: a deterministic `evalPct`% hash
    * split of the corpus stands in for the benchmark suite). The
    * standard pre-release overlap check of an LLM data pipeline —
    * contaminated docs leak eval answers into training.
    *
    * Shape: the eval n-gram set is the benchmark's, i.e. tiny relative
    * to the corpus — broadcast it, so the screen is a map-side
    * semi-join + one doc_id-keyed count at scan speed over the
    * training corpus; no corpus-sized shuffle at any step. (Were the
    * eval set large, the same program without the broadcast hint
    * shuffles on the trigram — Catalyst picks it from stats.)
    */
  def decontamination(spark: SparkSession, dir: String,
                      evalPct: Int = 2, minShared: Int = 3): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
      .withColumn("bucket", PortableHash.md5Long32(col("doc_id")) % 100)
    decontaminationCore(
        docs.filter(col("bucket") >= evalPct),
        docs.filter(col("bucket") < evalPct), minShared)
      .orderBy(col("doc_id"))
  }

  /** Frame-parameterized core (shared with CurationPipeline): flagged
    * (doc_id, n_shared) for corpus docs overlapping the eval frame,
    * unordered. Both frames need (doc_id, text).
    */
  def decontaminationCore(corpus: DataFrame, evalDocs: DataFrame,
                          minShared: Int): DataFrame = {
    def tri(df: DataFrame) = df
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .withColumn("n", size(col("toks")))
      .filter(col("n") >= 3)
      .select(col("doc_id"), explode(
        graft.functions.WordNGrams.ngrams(col("toks"), 3)
      ).as("g"))
    val ev = tri(evalDocs).select(col("g")).distinct()
    // broadcast semi-join FIRST, per-doc distinct count AFTER: only
    // eval-matched trigrams (tiny) reach the aggregation. A distinct
    // before the join would shuffle every corpus (doc_id, trigram)
    // pair — the corpus-sized shuffle this operator exists to avoid.
    tri(corpus)
      .join(broadcast(ev), Seq("g"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("g")).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  def decontaminationSql(evalPct: Int = 2, minShared: Int = 3): String =
    s"""WITH base AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '') AS toks,
      |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100
      |      AS bucket
      |  FROM documents
      |), tri AS (
      |  SELECT doc_id, bucket,
      |    unnest([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
      |            for i in range(1, len(toks) - 1)]) AS g
      |  FROM base WHERE len(toks) >= 3
      |), ev AS (
      |  SELECT DISTINCT g FROM tri WHERE bucket < $evalPct
      |), corpus AS (
      |  SELECT DISTINCT doc_id, g FROM tri WHERE bucket >= $evalPct
      |)
      |SELECT doc_id, COUNT(*) AS n_shared
      |FROM corpus JOIN ev USING (g)
      |GROUP BY doc_id
      |HAVING COUNT(*) >= $minShared
      |ORDER BY doc_id""".stripMargin

  /** q259 — weighted (multiset) token-Jaccard near-dups: candidate
    * pairs from the df-capped shared-shingle index (the q66 admission
    * gate, ≥ `minShared` shingles), verified with the FREQUENCY-AWARE
    * similarity J_w = Σ_t min(a_t, b_t) / Σ_t max(a_t, b_t) over
    * token counts — the set-Jaccard family (q26/q97) treats "the the
    * the the" and one "the" identically; the multiset form doesn't,
    * which is what separates true near-copies from documents that
    * merely share a vocabulary.
    *
    * Exactness: Σmax = |A| + |B| − Σmin (multiset identity), so the
    * whole verification is integer token counts; the keep/drop
    * decision is the rational cross-multiply
    * min_sum·tDen ≥ (|A|+|B|−min_sum)·tNum (never a double), and the
    * reported similarity is one rounded division.
    *
    * Scale: candidates are bounded by the shingle gate (the q66
    * argument — quadratic only in true-near-dup density); the Σmin
    * join explodes candidates by their SHARED tokens only (inner join
    * of the two per-doc count tables), every join doc- or
    * token-keyed.
    */
  def weightedJaccardPairs(spark: SparkSession, dir: String, k: Int = 3,
                           dfCap: Int = 200, minShared: Int = 3,
                           tNum: Int = 1, tDen: Int = 2): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val kept = keptShingles(docs, k, dfCap)
    val cand = kept.as("a").join(kept.as("b"), "shingle")
      .filter(col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_sh_shared"))
      .filter(col("n_sh_shared") >= minShared)
      .select(col("doc_a"), col("doc_b"))
    val tok = docs.select(col("doc_id"), explode(tokens(col("text"))).as("token"))
    val tokCounts = tok.groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("c"))
      .transform(graft.Iterate.cut) // both join sides + totals
    val totals = tokCounts.groupBy(col("doc_id")).agg(sum(col("c")).as("tot"))
    val minSum = cand
      .join(tokCounts.select(col("doc_id").as("doc_a"), col("token"),
        col("c").as("ca")), "doc_a")
      .join(tokCounts.select(col("doc_id").as("doc_b"), col("token"),
        col("c").as("cb")), Seq("doc_b", "token"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(sum(least(col("ca"), col("cb"))).as("min_sum"))
    minSum
      .join(totals.select(col("doc_id").as("doc_a"), col("tot").as("tot_a")), "doc_a")
      .join(totals.select(col("doc_id").as("doc_b"), col("tot").as("tot_b")), "doc_b")
      .filter(col("min_sum") * tDen >=
        (col("tot_a") + col("tot_b") - col("min_sum")) * tNum)
      .select(col("doc_a"), col("doc_b"), col("min_sum"),
        col("tot_a"), col("tot_b"),
        round(col("min_sum").cast("double") /
          (col("tot_a") + col("tot_b") - col("min_sum")), 6).as("w_jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  def weightedJaccardPairsSql(k: Int = 3, dfCap: Int = 200,
                              minShared: Int = 3,
                              tNum: Int = 1, tDen: Int = 2): String =
    s"""WITH ${shingleCtesFor(k, dfCap)}, cand AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM kept a JOIN kept b ON a.shingle = b.shingle
      |    AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2 HAVING COUNT(*) >= $minShared
      |), tok AS (
      |  SELECT doc_id, unnest(list_filter(
      |    string_split_regex(lower(text), '\\s+'), t -> t <> '')) AS token
      |  FROM documents
      |), tc AS (
      |  SELECT doc_id, token, COUNT(*) AS c FROM tok GROUP BY 1, 2
      |), totals AS (
      |  SELECT doc_id, SUM(c) AS tot FROM tc GROUP BY 1
      |), msum AS (
      |  SELECT cand.doc_a, cand.doc_b, SUM(LEAST(a.c, b.c)) AS min_sum
      |  FROM cand
      |  JOIN tc a ON a.doc_id = cand.doc_a
      |  JOIN tc b ON b.doc_id = cand.doc_b AND b.token = a.token
      |  GROUP BY 1, 2
      |)
      |SELECT m.doc_a, m.doc_b,
      |  CAST(m.min_sum AS BIGINT) AS min_sum,
      |  CAST(ta.tot AS BIGINT) AS tot_a,
      |  CAST(tb.tot AS BIGINT) AS tot_b,
      |  ROUND(CAST(m.min_sum AS DOUBLE)
      |    / (ta.tot + tb.tot - m.min_sum), 6) AS w_jaccard
      |FROM msum m
      |JOIN totals ta ON ta.doc_id = m.doc_a
      |JOIN totals tb ON tb.doc_id = m.doc_b
      |WHERE m.min_sum * $tDen >= (ta.tot + tb.tot - m.min_sum) * $tNum
      |ORDER BY m.doc_a, m.doc_b""".stripMargin

  /** q252 — contamination n-gram-size sweep: q61's eval-overlap
    * screen re-run at n = 2, 3, 4, 5, collapsed to one row per n —
    * how many corpus docs get flagged, the flag rate, and the hottest
    * doc's shared-gram count. The n-gram size is decontamination's
    * main dial (bigrams over-flag on common phrases, 5-grams only
    * catch verbatim lifts); like q227 for dedup and q247 for packing,
    * the sweep makes the dial a graded relation instead of a config
    * guess.
    *
    * Scale: the token arrays are built ONCE (checkpointed) and each n
    * re-explodes them — 4 narrow map passes, each followed by q61's
    * broadcast-semi-join-then-count shape; the per-n result is ONE
    * row, so the union is free. No corpus-sized shuffle at any n
    * (the q61 ordering argument, per pass).
    */
  def contaminationSweep(spark: SparkSession, dir: String,
                         ns: Seq[Int] = Seq(2, 3, 4, 5),
                         evalPct: Int = 2, minShared: Int = 3): DataFrame = {
    val toks = Tables.load(spark, dir, "documents")
      .withColumn("bucket", PortableHash.md5Long32(col("doc_id")) % 100)
      .select(col("doc_id"), col("bucket"), tokens(col("text")).as("toks"))
      .transform(graft.Iterate.cut) // one tokenization feeds every n
    val corpusDocs = toks.filter(col("bucket") >= evalPct)
      .agg(count(lit(1)).as("n_corpus"))
    val perN = ns.map { n =>
      def grams(df: DataFrame) = df
        .filter(size(col("toks")) >= n)
        .select(col("doc_id"), explode(
          graft.functions.WordNGrams.ngrams(col("toks"), n)).as("g"))
      val ev = grams(toks.filter(col("bucket") < evalPct))
        .select(col("g")).distinct()
      grams(toks.filter(col("bucket") >= evalPct))
        .join(broadcast(ev), Seq("g"))
        .groupBy(col("doc_id"))
        .agg(countDistinct(col("g")).as("n_shared"))
        .filter(col("n_shared") >= minShared)
        .agg(count(lit(1)).as("n_flagged"),
          coalesce(max(col("n_shared")), lit(0L)).as("max_shared"))
        .select(lit(n).as("n"), col("n_flagged"), col("max_shared"))
    }.reduce(_ unionByName _)
    perN.crossJoin(broadcast(corpusDocs))
      .select(col("n"), col("n_corpus"), col("n_flagged"),
        round(col("n_flagged").cast("double") / col("n_corpus"), 6)
          .as("flag_rate"),
        col("max_shared"))
      .orderBy(col("n"))
  }

  def contaminationSweepSql(ns: Seq[Int] = Seq(2, 3, 4, 5),
                            evalPct: Int = 2, minShared: Int = 3): String = {
    def gramExpr(n: Int): String = {
      val parts = (0 until n).map(k => s"toks[i + $k]").mkString(" || ' ' || ")
      // range is EXCLUSIVE of the upper bound: the last n-gram starts
      // at len - n + 1, so the bound is len - n + 2 = len - (n - 2)
      s"[$parts for i in range(1, len(toks) - ${n - 2})]"
    }
    val perN = ns.map { n =>
      s"""  SELECT $n AS n, COUNT(*) AS n_flagged,
         |    COALESCE(MAX(n_shared), 0) AS max_shared
         |  FROM (
         |    SELECT c.doc_id, COUNT(DISTINCT c.g) AS n_shared
         |    FROM (SELECT doc_id, unnest(${gramExpr(n)}) AS g
         |          FROM base WHERE bucket >= $evalPct AND len(toks) >= $n) c
         |    JOIN (SELECT DISTINCT unnest(${gramExpr(n)}) AS g
         |          FROM base WHERE bucket < $evalPct AND len(toks) >= $n) e
         |      USING (g)
         |    GROUP BY c.doc_id
         |    HAVING COUNT(DISTINCT c.g) >= $minShared
         |  )""".stripMargin
    }.mkString("\n  UNION ALL\n")
    s"""WITH base AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '')
       |      AS toks,
       |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
       |      % 100 AS bucket
       |  FROM documents
       |), corpus_n AS (
       |  SELECT COUNT(*) AS n_corpus FROM base WHERE bucket >= $evalPct
       |), sweep AS (
       |$perN
       |)
       |SELECT CAST(s.n AS INT) AS n,
       |  CAST(c.n_corpus AS BIGINT) AS n_corpus,
       |  CAST(s.n_flagged AS BIGINT) AS n_flagged,
       |  ROUND(CAST(s.n_flagged AS DOUBLE) / c.n_corpus, 6) AS flag_rate,
       |  CAST(s.max_shared AS BIGINT) AS max_shared
       |FROM sweep s, corpus_n c
       |ORDER BY s.n""".stripMargin
  }

  /** q66 — edit-distance-verified near-dup pairs: blocking via the
    * shared-shingle inverted index (pairs with >= `minShared` distinct
    * surviving shingles — the same index q26/q54 build), then exact
    * Levenshtein verification on the candidate set only. Both engines
    * compute textbook Levenshtein over integer DP, so the distance —
    * unlike a libm similarity — is bit-exact portable.
    *
    * Scale posture: the verify step is O(|text|^2) per pair, so its
    * admission gate is the whole design. At sf0.1 the >=1-shared-
    * shingle candidate set is 1.13M pairs; >= 5 shared shingles admits
    * 305 — the quadratic work tracks true near-dup density, not the
    * corpus size. The gate is an aggregate over the inverted index
    * (map-side combining count), not a similarity estimate, so the
    * blocking threshold is exactly reproducible in the oracle.
    */
  def levNearDups(spark: SparkSession, dir: String, k: Int = 3,
                  dfCap: Int = 200, minShared: Int = 5,
                  threshold: Double = 0.6): DataFrame =
    levNearDupsCore(Tables.load(spark, dir, "documents"), k, dfCap,
      minShared, threshold)

  /** Frame-parameterized core: rows need (doc_id, text). */
  def levNearDupsCore(docs: DataFrame, k: Int, dfCap: Int,
                      minShared: Int, threshold: Double): DataFrame = {
    val kept = keptShingles(docs, k, dfCap)
    val cand = kept.as("a").join(kept.as("b"), "shingle")
      .filter(col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
    val ta = docs.select(col("doc_id").as("doc_a"), col("text").as("text_a"))
    val tb = docs.select(col("doc_id").as("doc_b"), col("text").as("text_b"))
    cand.join(ta, "doc_a").join(tb, "doc_b")
      .withColumn("dist", levenshtein(col("text_a"), col("text_b")))
      .withColumn("sim", round(lit(1.0) - col("dist").cast("double") /
        greatest(length(col("text_a")), length(col("text_b"))), 6))
      .filter(col("sim") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("dist"), col("sim"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  def levNearDupsSql(minShared: Int = 5, threshold: Double = 0.6): String =
    s"""WITH $shingleCtes, cand AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM kept a JOIN kept b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2 HAVING COUNT(*) >= $minShared
      |)
      |SELECT doc_a, doc_b, dist, sim FROM (
      |  SELECT doc_a, doc_b,
      |    CAST(levenshtein(ta.text, tb.text) AS INT) AS dist,
      |    ROUND(1.0 - CAST(levenshtein(ta.text, tb.text) AS DOUBLE) /
      |      greatest(length(ta.text), length(tb.text)), 6) AS sim
      |  FROM cand JOIN documents ta ON cand.doc_a = ta.doc_id
      |            JOIN documents tb ON cand.doc_b = tb.doc_id
      |) WHERE sim >= $threshold
      |ORDER BY doc_a, doc_b""".stripMargin

  /** q69 — bloom-prefiltered decontamination: result-identical to q61
    * (same oracle SQL grades both), but the corpus-side trigram stream
    * is first screened by a Bloom filter built over the eval trigram
    * set, and only survivors reach the exact broadcast semi-join. The
    * bloom pass can false-positive but never false-negative, and the
    * exact join removes the false positives — so the rewrite is
    * correctness-preserving by construction, and the oracle proves it.
    *
    * Scale posture: at benchmark-decontamination scale the eval n-gram
    * SET may be too large to broadcast as strings (10^8 trigrams of
    * ~20 bytes), while its Bloom filter at 3% fpp is ~100 MB of bits —
    * broadcastable. The exact verify join then runs over ~fpp of the
    * corpus stream instead of all of it, turning a corpus-wide
    * broadcast-hash probe of a giant set into a scan-speed bit-test
    * plus a small join. (Here the filter rides a lambda UDF — the one
    * non-codegen step — because Spark's bloom_filter expressions are
    * not exposed through the stable functions API.)
    */
  def decontaminationBloom(spark: SparkSession, dir: String,
                           evalPct: Int = 2, minShared: Int = 3,
                           fpp: Double = 0.03): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
      .withColumn("bucket", PortableHash.md5Long32(col("doc_id")) % 100)
    def tri(df: DataFrame) = df
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .withColumn("n", size(col("toks")))
      .filter(col("n") >= 3)
      .select(col("doc_id"), explode(
        graft.functions.WordNGrams.ngrams(col("toks"), 3)
      ).as("g"))
    val ev = tri(docs.filter(col("bucket") < evalPct))
      .select(col("g")).distinct().transform(graft.Iterate.cut)
    // driver scalars: the eval set's cardinality sizes the filter; the
    // filter itself is an executor-side distributed build (TreeAggregate
    // under stat.bloomFilter), collected as bits, then shipped back in
    // the scan lambda — the strings never leave the executors twice
    val nEval = ev.count()
    val bloom = ev.stat.bloomFilter("g", math.max(nEval, 1L), fpp)
    val bloomB = spark.sparkContext.broadcast(bloom)
    val mightContain = udf((s: String) => s != null && bloomB.value.mightContainString(s))
    tri(docs.filter(col("bucket") >= evalPct))
      .filter(mightContain(col("g")))
      .join(broadcast(ev), Seq("g"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("g")).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .orderBy(col("doc_id"))
  }

  /** q80 — leakage-safe train/val split: hash-split the corpus at the
    * near-dup CLUSTER level, not the document level. A plain per-doc
    * hash split scatters near-duplicates across train and val — the
    * eval set then scores memorization, not generalization. Here every
    * document inherits its cluster representative's bucket
    * (md5(rep_id) % 10: 8 train / 2 val), so a near-dup pair can never
    * straddle the split — by construction, not by post-hoc filtering.
    *
    * Scale: reuses [[dedupClusters]]' shapes (df-capped shingle
    * candidates, shuffle-hash label propagation); the split itself is
    * a narrow map over the labels — no additional exchange.
    * `requireConverged = true`: the whole point of this operator is
    * the by-construction guarantee, so a propagation that hits
    * maxIters without converging is a hard failure here, not the
    * stderr warning the analytics path tolerates.
    */
  def clusterSplit(spark: SparkSession, dir: String): DataFrame =
    clusterMembers(spark, dir)
      .withColumn("split",
        when(graft.functions.PortableHash.md5Long32(col("rep_id")) % 10 < 8,
          lit("train")).otherwise(lit("val")))
      .select(col("doc_id"), col("rep_id"), col("split"))
      .orderBy(col("doc_id"))

  /** Oracle: the q38 recursive-CTE connected components, with the
    * split derived from the identical md5 bucket of rep_id.
    */
  def clusterSplitSql(): String =
    s"""WITH cc AS (
      |$dedupClustersSql
      |)
      |SELECT doc_id, rep_id,
      |  CASE WHEN CAST(('0x' || substr(md5(CAST(rep_id AS VARCHAR)), 1, 8)) AS BIGINT)
      |         % 10 < 8
      |       THEN 'train' ELSE 'val' END AS split
      |FROM cc ORDER BY doc_id""".stripMargin

  /** q326 — group-aware k-fold assignment with a leakage readout:
    * every document inherits fold = md5(cluster rep) % k from its
    * q38 near-dup cluster (the q80 split generalized from 80/20 to
    * cross-validation folds), and the relation reports per-fold
    * volume (docs / clusters / tokens) PLUS the residual leakage the
    * guarantee does NOT cover: q27 MinHash pairs whose endpoints sit
    * in different clusters can still straddle folds — each fold's
    * `leak_pairs` counts its straddling pairs (a pair is counted in
    * both its folds). Zero same-cluster straddling is by
    * construction; nonzero `leak_pairs` is the honest residual a
    * CV-based eval on this corpus must report.
    *
    * Scale: rides the q38 label fixpoint and the q27 candidate
    * generator unchanged; the fold math is a narrow map and the
    * audit joins are pair-table-sized.
    */
  def foldAudit(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    import graft.functions.TextFunctions.tokenCount
    val folds = graft.Iterate.cut(
      clusterMembers(spark, dir)
        .select(col("doc_id"), col("rep_id"),
          pmod(PortableHash.md5Long32(col("rep_id")), lit(k.toLong))
            .as("fold")))
    val toks = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), tokenCount(col("text")).cast("long").as("t"))
    val balance = folds.join(toks, "doc_id")
      .groupBy(col("fold"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("rep_id")).as("n_clusters"),
        sum(col("t")).as("n_tokens"))
    val pairs = minhashLshPairs(spark, dir).select(col("doc_a"), col("doc_b"))
    val straddle = pairs
      .join(folds.select(col("doc_id").as("doc_a"), col("fold").as("fa")),
        "doc_a")
      .join(folds.select(col("doc_id").as("doc_b"), col("fold").as("fb")),
        "doc_b")
      .filter(col("fa") =!= col("fb"))
    val leak = straddle
      .select(explode(array(col("fa"), col("fb"))).as("fold"))
      .groupBy(col("fold")).agg(count(lit(1)).as("leak_pairs"))
    balance.join(leak, Seq("fold"), "left")
      .select(col("fold"), col("n_docs"), col("n_clusters"), col("n_tokens"),
        coalesce(col("leak_pairs"), lit(0L)).as("leak_pairs"))
      .orderBy(col("fold"))
  }

  def foldAuditSql(k: Int = 5): String =
    s"""WITH cc AS (
      |$dedupClustersSql
      |), folds AS (
      |  SELECT doc_id, rep_id,
      |    CAST(('0x' || substr(md5(CAST(rep_id AS VARCHAR)), 1, 8)) AS BIGINT)
      |      % $k AS fold
      |  FROM cc
      |), toks AS (
      |  SELECT doc_id, ${graft.operators.TextAnalysis.tokenCountExprSql} AS t
      |  FROM documents
      |), balance AS (
      |  SELECT fold, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |    CAST(COUNT(DISTINCT rep_id) AS BIGINT) AS n_clusters,
      |    CAST(SUM(t) AS BIGINT) AS n_tokens
      |  FROM folds JOIN toks USING (doc_id) GROUP BY 1
      |), mh AS (
      |$minhashLshPairsSql
      |), strad AS (
      |  SELECT fa.fold AS f1, fb.fold AS f2
      |  FROM mh JOIN folds fa ON fa.doc_id = mh.doc_a
      |  JOIN folds fb ON fb.doc_id = mh.doc_b
      |  WHERE fa.fold <> fb.fold
      |), leak AS (
      |  SELECT fold, CAST(COUNT(*) AS BIGINT) AS leak_pairs FROM (
      |    SELECT f1 AS fold FROM strad
      |    UNION ALL SELECT f2 FROM strad)
      |  GROUP BY 1
      |)
      |SELECT b.fold, b.n_docs, b.n_clusters, b.n_tokens,
      |  COALESCE(l.leak_pairs, 0) AS leak_pairs
      |FROM balance b LEFT JOIN leak l USING (fold)
      |ORDER BY b.fold""".stripMargin

  /** q327 — transitivity audit of the near-dup relation: global
    * clustering coefficient (3·triangles / wedges) of the q27 MinHash
    * pair graph. Cluster-based dedup (q38's connected components)
    * implicitly assumes the pair relation is quasi-transitive —
    * a ~ b ~ c mostly implies a ~ c; every OPEN wedge is a place
    * where the component merge chains documents the detector itself
    * would NOT pair (the under-merge/over-merge dial q108/q141 reads
    * at the pair level, lifted to graph structure). Low transitivity
    * with large components = chaining artifacts; investigate before
    * shipping cluster-level dedup on the feed.
    *
    * Scale: the q115 discipline on the pair graph — degree-oriented
    * edges, per-edge sorted-adjacency intersection with the codegen'd
    * [[graft.functions.SortedIntersectCount]], never a wedge
    * materialization. The pair graph is candidate-bounded (LSH
    * buckets), far below the co-purchase graph this machinery already
    * handles.
    */
  def dupTransitivity(spark: SparkSession, dir: String): DataFrame = {
    val pairs = graft.Iterate.cut(
      minhashLshPairs(spark, dir).select(col("doc_a"), col("doc_b")))
    val deg = pairs.select(col("doc_a").as("n"))
      .unionByName(pairs.select(col("doc_b").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))
    val withDeg = pairs
      .join(deg.select(col("n").as("doc_a"), col("d").as("da")), "doc_a")
      .join(deg.select(col("n").as("doc_b"), col("d").as("db")), "doc_b")
    val aFirst = col("da") < col("db") ||
      (col("da") === col("db") && col("doc_a") < col("doc_b"))
    val ori = graft.Iterate.cut(withDeg.select(
      when(aFirst, col("doc_a")).otherwise(col("doc_b")).as("u"),
      when(aFirst, col("doc_b")).otherwise(col("doc_a")).as("v")))
    val tri = Graph.orientedTriangles(ori)
    val summary = deg.agg(
      count(lit(1)).as("n_nodes"),
      (sum(col("d")) / 2).cast("long").as("n_edges"),
      (sum(expr("d * (d - 1)")) / 2).cast("long").as("n_wedges"))
    summary.crossJoin(broadcast(tri))
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
        col("n_triangles"),
        when(col("n_wedges") > 0, round(
          (lit(3L) * col("n_triangles")).cast("double") /
            col("n_wedges").cast("double"), 6)).as("transitivity"),
        (col("n_wedges") - lit(3L) * col("n_triangles")).as("open_wedges"))
  }

  def dupTransitivitySql(): String =
    s"""WITH mh AS (
      |$minhashLshPairsSql
      |), e AS (
      |  SELECT doc_a AS a, doc_b AS b FROM mh
      |), deg AS (
      |  SELECT n, COUNT(*) AS d FROM (
      |    SELECT a AS n FROM e UNION ALL SELECT b FROM e) GROUP BY n
      |), tri AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
      |  FROM e e1 JOIN e e2 ON e2.a = e1.b
      |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
      |), summary AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
      |    CAST(SUM(d) / 2 AS BIGINT) AS n_edges,
      |    CAST(SUM(d * (d - 1)) / 2 AS BIGINT) AS n_wedges
      |  FROM deg
      |)
      |SELECT n_nodes, n_edges, n_wedges, n_triangles,
      |  CASE WHEN n_wedges > 0 THEN
      |    ROUND(CAST(3 * n_triangles AS DOUBLE)
      |      / CAST(n_wedges AS DOUBLE), 6) END AS transitivity,
      |  n_wedges - 3 * n_triangles AS open_wedges
      |FROM summary, tri""".stripMargin

  /** q330 — dedup savings ledger: one relation answering the budget
    * question every dedup proposal gets asked — "how many tokens does
    * each strategy actually remove?" Three graded strategies, each at
    * its own granularity, against the same corpus total:
    * `exact` drops q25's is_dup documents; `cluster` drops everything
    * but q38's representative per near-dup cluster; `span` keeps
    * documents but removes q65's repeated spans (its savings is the
    * token delta between original and reassembled text). The ledger
    * is a consumer of three already-graded relations — it introduces
    * no new similarity arithmetic, so it cannot disagree with the
    * audits it summarizes.
    *
    * Scale: three narrow maps over relations whose plans are audited
    * at their own queries, one 3-row report.
    */
  def savingsLedger(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.tokenCount
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), tokenCount(col("text")).cast("long").as("t"))
      .transform(graft.Iterate.cut) // consumers: corpus total + two flag joins
    val total = docs.agg(sum(col("t")).as("corpus_tokens"))
    def row(name: String, flagged: org.apache.spark.sql.DataFrame) =
      flagged.join(docs, "doc_id")
        .agg(lit(name).as("detector"), count(lit(1)).as("n_docs_flagged"),
          coalesce(sum(col("t")), lit(0L)).as("tokens_removable"))
    val exactDups = exact(spark, dir).filter(col("is_dup") === 1)
      .select(col("doc_id"))
    val clusterDups = clusterMembers(spark, dir)
      .filter(col("doc_id") =!= col("rep_id")).select(col("doc_id"))
    val span = spanDedupStats(spark, dir)
    row("exact", exactDups)
      .unionByName(row("cluster", clusterDups))
      .unionByName(span)
      .crossJoin(broadcast(total))
      .select(col("detector"), col("n_docs_flagged"),
        col("tokens_removable"),
        round(col("tokens_removable").cast("double") /
          col("corpus_tokens").cast("double"), 6).as("savings_share"))
      .orderBy(col("detector"))
  }

  /** q330's span row: q65's reassembly, token delta per doc. */
  private def spanDedupStats(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.tokenCount
    graft.operators.Spans.spanDedup(spark, dir)
      .select(col("doc_id"), col("n_kept"), col("n_spans"),
        tokenCount(col("dedup_text")).cast("long").as("kept_t"))
      .join(Tables.load(spark, dir, "documents")
          .select(col("doc_id"), tokenCount(col("text")).cast("long").as("t")),
        "doc_id")
      .agg(lit("span").as("detector"),
        sum((col("n_kept") < col("n_spans")).cast("long"))
          .as("n_docs_flagged"),
        coalesce(sum(col("t") - col("kept_t")), lit(0L))
          .as("tokens_removable"))
  }

  def savingsLedgerSql(): String =
    s"""WITH toks AS (
      |  SELECT doc_id, ${graft.operators.TextAnalysis.tokenCountExprSql} AS t
      |  FROM documents
      |), total AS (
      |  SELECT CAST(SUM(t) AS BIGINT) AS corpus_tokens FROM toks
      |), ex AS (
      |  $exactSql
      |), cc AS (
      |$dedupClustersSql
      |), sp AS (
      |  ${graft.operators.Spans.spanDedupSql()}
      |), rows_out AS (
      |  SELECT 'exact' AS detector,
      |    CAST(COUNT(*) AS BIGINT) AS n_docs_flagged,
      |    CAST(COALESCE(SUM(t), 0) AS BIGINT) AS tokens_removable
      |  FROM ex JOIN toks USING (doc_id) WHERE ex.is_dup = 1
      |  UNION ALL
      |  SELECT 'cluster', CAST(COUNT(*) AS BIGINT),
      |    CAST(COALESCE(SUM(t), 0) AS BIGINT)
      |  FROM cc JOIN toks USING (doc_id) WHERE cc.doc_id <> cc.rep_id
      |  UNION ALL
      |  SELECT 'span',
      |    CAST(SUM(CASE WHEN sp.n_kept < sp.n_spans THEN 1 ELSE 0 END)
      |      AS BIGINT),
      |    CAST(COALESCE(SUM(t - (
      |      len(list_filter(string_split_regex(lower(sp.dedup_text), '\\s+'),
      |        x -> x <> '')))), 0) AS BIGINT)
      |  FROM sp JOIN toks USING (doc_id)
      |)
      |SELECT detector, n_docs_flagged, tokens_removable,
      |  ROUND(CAST(tokens_removable AS DOUBLE)
      |    / CAST(corpus_tokens AS DOUBLE), 6) AS savings_share
      |FROM rows_out, total
      |ORDER BY detector""".stripMargin

  /** q89 — survivorship (golden-record selection): within each
    * near-dup cluster, keep the RICHEST member (longest text, doc_id
    * as the deterministic tiebreak), not the arbitrary min-id
    * representative q38 labels with. min-id is the right CLUSTER KEY
    * (stable under insertion order); the survivor is a quality
    * decision — dedup pipelines that keep min-id silently prefer
    * whichever crawl happened to be ingested first, dropping the
    * fuller copy of the same page. Emits one row per cluster with the
    * survivor and the mass of what was merged away.
    *
    * Scale: rides [[dedupClusters]]' propagation unchanged; the
    * survivor argmax is a partial-top-1 window per rep_id
    * (WindowGroupLimit shape, like q52), and the cluster stats are
    * one map-side-combinable aggregate on the same rep_id shuffle.
    */
  def survivorship(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("n_chars"))
    // requireConverged: survivor selection over PARTIAL cluster
    // fragments silently picks the wrong golden record and
    // under-counts n_members/total_chars — integrity-bearing, so a
    // non-converged propagation is a hard failure here (like q80's
    // split), not the stderr warning the analytics path tolerates.
    val labeled = clusterMembers(spark, dir).join(docs, "doc_id")
    val w = Window.partitionBy(col("rep_id"))
      .orderBy(col("n_chars").desc, col("doc_id"))
    val survivors = labeled
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("rep_id"), col("doc_id").as("survivor_id"),
        col("n_chars").as("survivor_chars"))
    labeled.groupBy(col("rep_id"))
      .agg(count(lit(1)).as("n_members"),
        sum(col("n_chars")).as("total_chars"))
      .join(survivors, "rep_id")
      .filter(col("n_members") > 1)
      .select(col("rep_id"), col("survivor_id"), col("survivor_chars"),
        col("n_members"), col("total_chars"))
      .orderBy(col("rep_id"))
  }

  def survivorshipSql(): String =
    s"""WITH cc AS (
      |$dedupClustersSql
      |), labeled AS (
      |  SELECT cc.rep_id, cc.doc_id, d.n_chars
      |  FROM cc JOIN documents d ON cc.doc_id = d.doc_id
      |), ranked AS (
      |  SELECT rep_id, doc_id, n_chars,
      |    row_number() OVER (PARTITION BY rep_id
      |      ORDER BY n_chars DESC, doc_id) AS rk
      |  FROM labeled
      |)
      |SELECT s.rep_id, r.doc_id AS survivor_id, r.n_chars AS survivor_chars,
      |  s.n_members, s.total_chars
      |FROM (SELECT rep_id, COUNT(*) AS n_members,
      |        CAST(SUM(n_chars) AS BIGINT) AS total_chars
      |      FROM labeled GROUP BY rep_id HAVING COUNT(*) > 1) s
      |JOIN ranked r ON s.rep_id = r.rep_id AND r.rk = 1
      |ORDER BY s.rep_id""".stripMargin

  /** q108 — per-source dedup report: the summary every curation run
    * ships — for each source, how many documents exact dedup (q25's
    * content fingerprint) would remove and how many sit in multi-doc
    * near-dup clusters (q38's labels), as counts and fractions. The
    * per-source breakdown is what locates a contaminated or
    * boilerplate-heavy feed; the corpus-wide numbers alone can't.
    *
    * Scale: a rep-keyed size window over the precomputed labels, one
    * doc-keyed join and one (source) aggregate, map-side-combinable.
    * [[dedupReportCore]] takes the (doc_id, rep_id) labels as an INPUT
    * so a pipeline that already ran the q38 fixpoint (or any CC
    * variant) reuses it; the [[dedupReport]] wrapper reads the
    * session's memoized edge-node labels — a singleton is a cluster of
    * one and never counts, so the labels need not cover it.
    */
  def dedupReport(spark: SparkSession, dir: String): DataFrame =
    dedupReportCore(
      Tables.load(spark, dir, "documents"),
      edgeLabels(spark, dir, 3, 0.6, 50, requireConverged = true))

  /** q108 core over precomputed cluster labels `(doc_id, rep_id)` —
    * see [[dedupReport]]; same core/wrapper split as
    * [[decontaminationCore]]. Labels must be a complete (converged)
    * clustering of the docs in clusters of two or more: an
    * unconverged label set can split one true cluster and undercount
    * `n_near_members`.
    */
  def dedupReportCore(docs: DataFrame, labels: DataFrame): DataFrame = {
    val near = labels.select(col("doc_id"),
        count(lit(1)).over(Window.partitionBy(col("rep_id"))).as("n_members"))
      .filter(col("n_members") > 1)
      .select(col("doc_id"), lit(1L).as("is_near"))
    docs.select(col("doc_id"), col("source"),
        contentFingerprint(col("text")).as("fp"))
      .join(near, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("fp")).as("n_distinct"),
        count(col("is_near")).as("n_near_members"))
      .withColumn("n_exact_removed", col("n_docs") - col("n_distinct"))
      .select(col("source"), col("n_docs"), col("n_exact_removed"),
        round(col("n_exact_removed").cast("double") / col("n_docs"), 6)
          .as("exact_dup_frac"),
        col("n_near_members"),
        round(col("n_near_members").cast("double") / col("n_docs"), 6)
          .as("near_dup_frac"))
      .orderBy(col("source"))
  }

  def dedupReportSql(): String =
    s"""WITH cc AS (
      |$dedupClustersSql
      |), csize AS (
      |  SELECT rep_id, COUNT(*) AS n_members FROM cc GROUP BY rep_id
      |), near AS (
      |  SELECT d.source, COUNT(*) AS n_near_members
      |  FROM cc JOIN csize USING (rep_id)
      |  JOIN documents d ON cc.doc_id = d.doc_id
      |  WHERE csize.n_members > 1
      |  GROUP BY d.source
      |), ex AS (
      |  SELECT source, COUNT(*) AS n_docs,
      |    COUNT(DISTINCT md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'))) AS n_distinct
      |  FROM documents GROUP BY source
      |)
      |SELECT ex.source, ex.n_docs,
      |  ex.n_docs - ex.n_distinct AS n_exact_removed,
      |  ROUND(CAST(ex.n_docs - ex.n_distinct AS DOUBLE) / ex.n_docs, 6) AS exact_dup_frac,
      |  CAST(COALESCE(near.n_near_members, 0) AS BIGINT) AS n_near_members,
      |  ROUND(CAST(COALESCE(near.n_near_members, 0) AS DOUBLE) / ex.n_docs, 6) AS near_dup_frac
      |FROM ex LEFT JOIN near ON ex.source = near.source
      |ORDER BY ex.source""".stripMargin

  /** q233 — duplicate-provenance matrix: for every near-dup cluster
    * member, which source contributed the CANONICAL (origin) document
    * vs which source carries the copy — the (origin, copier)
    * cross-table that names the relationship q108 and q110 only count
    * (q108 says source X is 30% dups, q110 says X and Y overlap; this
    * says Y's dups are copies of X's originals, i.e. which feed to
    * keep and which to gate). Origin = the cluster's min-id canonical
    * under the q38 labels; members are the non-canonical rows, with
    * their copied character mass.
    *
    * Exactness: pure integer counts/sums over the oracle-shared q38
    * cluster relation. Scale: rides the session-memoized CC labels
    * (no new fixpoint); two doc-keyed joins + a |sources|²-bounded
    * aggregate.
    */
  def dupProvenance(spark: SparkSession, dir: String): DataFrame = {
    val labels = clusterMembers(spark, dir)
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("source"), col("n_chars"))
    val withSrc = labels.join(docs, "doc_id")
    val origins = withSrc.where(col("doc_id") === col("rep_id"))
      .select(col("rep_id"), col("source").as("origin_source"))
    val members = withSrc.where(col("doc_id") =!= col("rep_id"))
      .select(col("rep_id"), col("source").as("member_source"), col("n_chars"))
    members.join(origins, "rep_id")
      .groupBy(col("origin_source"), col("member_source"))
      .agg(count(lit(1)).as("n_copies"), sum(col("n_chars")).as("chars_copied"))
      .orderBy(col("origin_source"), col("member_source"))
  }

  val dupProvenanceSql: String =
    s"""WITH cc AS (
      |$dedupClustersSql
      |), wsrc AS (
      |  SELECT cc.doc_id, cc.rep_id, d.source, d.n_chars
      |  FROM cc JOIN documents d USING (doc_id)
      |), origins AS (
      |  SELECT rep_id, source AS origin_source FROM wsrc WHERE doc_id = rep_id
      |), members AS (
      |  SELECT rep_id, source AS member_source, n_chars
      |  FROM wsrc WHERE doc_id <> rep_id
      |)
      |SELECT o.origin_source, m.member_source,
      |  COUNT(*) AS n_copies,
      |  CAST(SUM(m.n_chars) AS BIGINT) AS chars_copied
      |FROM members m JOIN origins o USING (rep_id)
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin

  /** q97 — prefix-filtered set-similarity join (the PPJoin family):
    * EXACT Jaccard pairs ≥ t with NO df-cap loss. q26's inverted
    * index needs the df-cap to bound Zipf-hot shingle fan-out, which
    * silently drops hot shingles from the similarity itself; here
    * candidates come only from each document's PREFIX — its
    * (n − ⌈t·n⌉ + 1) globally-rarest shingles — which provably loses
    * no pair at threshold t (two sets with J ≥ t must share a prefix
    * element under any global order), and hot shingles sort to the
    * suffix where they generate no candidates at all.
    *
    * The threshold is a rational tNum/tDen so ⌈t·n⌉ is exact integer
    * arithmetic ((tNum·n + tDen − 1) div tDen) — a double 0.6·n
    * rounds up at n = 5k and the prefix silently shrinks below the
    * lossless bound. Candidates also pass the PPJoin length filter
    * (min·tDen ≥ max·tNum, integer cross-multiply) and the PPJoin
    * POSITIONAL filter before verification: at the pair's first
    * shared prefix element the overlap can't exceed
    * 1 + min(n_a − pos_a, n_b − pos_b), and J ≥ t needs overlap
    * ≥ ⌈t/(1+t)·(n_a+n_b)⌉ — both sides integer, so the prune is
    * exact (lossless per the PPJoin lemma: a qualifying pair's first
    * shared element lies inside both prefixes). At sf0.1 this cuts
    * verification pairs 193k → 69k.
    *
    * Scale: df ranking rides the shingle shuffle; prefix selection is
    * a per-doc top-k window (partial WindowGroupLimit shape);
    * verification joins each CANDIDATE PAIR to the two sorted shingle
    * sets (doc-keyed joins, per-pair O(|A|+|B|) array intersect) —
    * bounded by the candidate count, never by hot-shingle df². The
    * exact relation this computes is stated independently by the
    * all-pairs oracle, so the driver run proves losslessness.
    *
    * `streamVerify = true` swaps the verification stage for the
    * BEYOND-ARRAY-COMFORT form: instead of collecting each document's
    * sorted shingle set into one array row (per-doc memory = set
    * size — the piece that breaks first when documents grow to
    * megashingle scale), the candidate pairs join the exploded
    * (doc, shingle) stream on both sides and count shared shingles
    * with an ordinary partial+final aggregate. No row ever holds a
    * whole document; shuffle volume is Σ|A| over candidates — the
    * same work the array intersect does, spread across rows. Both
    * modes compute the identical relation (spec-asserted); the array
    * form stays the local-scale default because one doc-keyed join
    * beats two when sets fit comfortably.
    */
  def prefixJaccardPairs(spark: SparkSession, dir: String, k: Int = 3,
                         tNum: Int = 3, tDen: Int = 5,
                         streamVerify: Boolean = false): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val sh = shingles(docs, k).transform(graft.Iterate.cut)
    val dfTab = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("df"), col("shingle"))
    val wN = Window.partitionBy(col("doc_id"))
    val prefix = sh.join(dfTab, "shingle")
      .withColumn("pos", row_number().over(wDoc))
      .withColumn("n_sh", count(lit(1)).over(wN))
      .filter(col("pos") <=
        col("n_sh") - expr(s"($tNum * n_sh + $tDen - 1) div $tDen") + 1)
      .select(col("doc_id"), col("shingle"), col("pos"), col("n_sh"))
    val cand = prefix.as("a").join(prefix.as("b"), "shingle")
      .filter(col("a.doc_id") < col("b.doc_id"))
      // length filter: J >= t forces min(n)·tDen >= max(n)·tNum
      .filter(least(col("a.n_sh"), col("b.n_sh")) * tDen >=
        greatest(col("a.n_sh"), col("b.n_sh")) * tNum)
      // positional filter: the max bound over shared prefix elements
      // is the bound at the pair's FIRST shared element (smallest
      // positions); the dedup-by-pair groupBy computes it in the same
      // shuffle a plain distinct() would cost
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.n_sh").as("na0"), col("b.n_sh").as("nb0"))
      .agg(max(lit(1) + least(col("a.n_sh") - col("a.pos"),
        col("b.n_sh") - col("b.pos"))).as("ub"))
      .filter(col("ub") * (tNum + tDen) >= (col("na0") + col("nb0")) * tNum)
      .select(col("doc_a"), col("doc_b"))
    val verified =
      if (streamVerify) {
        // merge-count over the exploded stream: no per-doc arrays
        val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
        val shared = cand
          .join(sh.select(col("doc_id").as("doc_a"), col("shingle")), "doc_a")
          .join(sh.select(col("doc_id").as("doc_b"), col("shingle")),
            Seq("doc_b", "shingle"))
          .groupBy(col("doc_a"), col("doc_b"))
          .agg(count(lit(1)).as("n_shared"))
        shared
          .join(sizes.select(col("doc_id").as("doc_a"),
            col("n_sh").as("n_a")), "doc_a")
          .join(sizes.select(col("doc_id").as("doc_b"),
            col("n_sh").as("n_b")), "doc_b")
      } else {
        val sets = sh.groupBy(col("doc_id"))
          .agg(sort_array(collect_list(col("shingle"))).as("sset"),
            count(lit(1)).as("n_sh"))
        cand
          .join(sets.select(col("doc_id").as("doc_a"), col("sset").as("set_a"),
            col("n_sh").as("n_a")), "doc_a")
          .join(sets.select(col("doc_id").as("doc_b"), col("sset").as("set_b"),
            col("n_sh").as("n_b")), "doc_b")
          .withColumn("n_shared",
            size(array_intersect(col("set_a"), col("set_b"))).cast("long"))
      }
    verified
      .withColumn("jaccard", round(col("n_shared").cast("double") /
        (col("n_a") + col("n_b") - col("n_shared")), 6))
      // exact rational threshold test on integer counts — shared·tDen
      // >= union·tNum — so the keep/drop decision never rides a double
      .filter(col("n_shared") * tDen >=
        (col("n_a") + col("n_b") - col("n_shared")) * tNum)
      .select(col("doc_a"), col("doc_b"), col("n_shared"),
        col("n_a"), col("n_b"), col("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Ground truth stated INDEPENDENTLY of the prefix filter: exact
    * all-pairs Jaccard over the full (uncapped) shingle sets. The
    * driver's match is the losslessness proof for q97's pruning.
    */
  def prefixJaccardPairsSql(k: Int = 3, tNum: Int = 3, tDen: Int = 5): String =
    s"""WITH ${shingleCtesFor(k, Int.MaxValue)}, $sharedShinglesCtes
      |SELECT s.doc_a, s.doc_b, s.n_shared,
      |  sa.n_sh AS n_a, sb.n_sh AS n_b,
      |  ROUND(CAST(s.n_shared AS DOUBLE) / (sa.n_sh + sb.n_sh - s.n_shared), 6) AS jaccard
      |FROM shared s
      |JOIN sizes sa ON s.doc_a = sa.doc_id
      |JOIN sizes sb ON s.doc_b = sb.doc_id
      |WHERE s.n_shared * $tDen >= (sa.n_sh + sb.n_sh - s.n_shared) * $tNum
      |ORDER BY s.doc_a, s.doc_b""".stripMargin

  /** q110 — cross-source contamination matrix: for every source pair,
    * how many distinct k-shingles they share, with each side's
    * distinct-shingle count and the pair Jaccard — the "is feed B a
    * scrape of feed A" diagnostic that per-source dedup reports
    * (q108) cannot answer. Exact-fingerprint overlap is the wrong
    * probe here (sources rarely share byte-identical docs — the
    * graded corpus shares none); shingle overlap catches paraphrase-
    * level and template-level contamination.
    *
    * Scale: a (source, shingle) distinct + a shingle-keyed self-join.
    * Pair fan-out per shingle is bounded by C(|sources|, 2) — the
    * source COUNT, not the corpus — so the hot-key ceiling is a few
    * hundred pairs per shingle for any real feed census; the
    * aggregates are partial+final on (source_a, source_b).
    */
  def crossSourceOverlap(spark: SparkSession, dir: String,
                         k: Int = 3,
                         mode: graft.ScaleMode = graft.ScaleMode.Exact): DataFrame = {
    if (mode == graft.ScaleMode.Sketch)
      return crossSourceOverlapSketch(spark, dir, k)
    val docs = Tables.load(spark, dir, "documents")
    val sf = shingles(docs, k)
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
      .select(col("source"), col("shingle")).distinct()
      .transform(graft.Iterate.cut) // three consumers: sizes + both join sides
    val sizes = sf.groupBy(col("source")).agg(count(lit(1)).as("n_sh"))
    val shared = sf.as("a")
      .join(sf.as("b"), col("a.shingle") === col("b.shingle") &&
        col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("n_shared"))
    // sizes is |sources| rows — broadcast explicitly (post-aggregation
    // size estimates are conservative and planned these as SMJs)
    shared
      .join(broadcast(sizes.withColumnRenamed("source", "source_a")
        .withColumnRenamed("n_sh", "n_sh_a")), "source_a")
      .join(broadcast(sizes.withColumnRenamed("source", "source_b")
        .withColumnRenamed("n_sh", "n_sh_b")), "source_b")
      .select(col("source_a"), col("source_b"), col("n_shared"),
        col("n_sh_a"), col("n_sh_b"),
        round(col("n_shared").cast("double") /
          (col("n_sh_a") + col("n_sh_b") - col("n_shared")), 6).as("jaccard"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** x06 — the bounded-state 100 TB path for q110: HLL distincts +
    * inclusion–exclusion replace the shingle-keyed SELF-JOIN entirely.
    * Per source, |S| is one approx_count_distinct; per source PAIR,
    * |A∪B| is an approx_count_distinct over the pair-tagged shingle
    * stream (each (source, shingle) row replicated to the ≤|sources|−1
    * pairs containing it — a broadcast join against the tiny pair
    * list, NOT a shingle⋈shingle join), and |A∩B| = |A|+|B|−|A∪B|
    * (clamped at 0: sketch noise can push the difference negative).
    * HLL registers are order-insensitive (merge = register max), so
    * the sketch output is deterministic; the spec binds it to the
    * exact twin within the rsd envelope. No pre-`distinct` either —
    * the sketch absorbs duplicates, dropping the exact path's
    * distinct shuffle. This is why the sketch is the scale path: the
    * exact form's join fan-out is |shingle|-keyed; this form never
    * keys on a shingle at all.
    */
  private def crossSourceOverlapSketch(spark: SparkSession, dir: String,
                                       k: Int = 3,
                                       rsd: Double = 0.05): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val sf = shingles(docs, k)
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
      .select(col("source"), col("shingle"))
      .transform(graft.Iterate.cut) // two consumers: sizes + the pair tagging
    val sizes = sf.groupBy(col("source"))
      .agg(approx_count_distinct(col("shingle"), rsd).as("n_sh"))
    val pairList = sizes.select(col("source").as("source_a"))
      .crossJoin(sizes.select(col("source").as("source_b")))
      .filter(col("source_a") < col("source_b"))
    val unions = sf
      .join(broadcast(pairList),
        col("source") === col("source_a") || col("source") === col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(approx_count_distinct(col("shingle"), rsd).as("n_union"))
    unions
      .join(broadcast(sizes.select(col("source").as("source_a"),
        col("n_sh").as("n_sh_a"))), "source_a")
      .join(broadcast(sizes.select(col("source").as("source_b"),
        col("n_sh").as("n_sh_b"))), "source_b")
      .withColumn("n_shared",
        greatest(col("n_sh_a") + col("n_sh_b") - col("n_union"), lit(0L)))
      .select(col("source_a"), col("source_b"), col("n_shared"),
        col("n_sh_a"), col("n_sh_b"),
        round(col("n_shared").cast("double") / col("n_union"), 6).as("jaccard"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** Bench/deploy alias for the sketch mode (x06). */
  def crossSourceOverlapApprox(spark: SparkSession, dir: String): DataFrame =
    crossSourceOverlap(spark, dir, mode = graft.ScaleMode.Sketch)

  def crossSourceOverlapSql(k: Int = 3): String =
    s"""WITH ${sourceShinglesCtes(k)}, sizes AS (
      |  SELECT source, COUNT(*) AS n_sh FROM sf GROUP BY source
      |), shared AS (
      |  SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS n_shared
      |  FROM sf a JOIN sf b ON a.shingle = b.shingle AND a.source < b.source
      |  GROUP BY 1, 2
      |)
      |SELECT s.source_a, s.source_b, s.n_shared,
      |  sa.n_sh AS n_sh_a, sb.n_sh AS n_sh_b,
      |  ROUND(CAST(s.n_shared AS DOUBLE) /
      |    (sa.n_sh + sb.n_sh - s.n_shared), 6) AS jaccard
      |FROM shared s
      |JOIN sizes sa ON s.source_a = sa.source
      |JOIN sizes sb ON s.source_b = sb.source
      |ORDER BY s.source_a, s.source_b""".stripMargin

  /** q306 — KMV (k-minimum-values) distinct sketches with set-op
    * estimates per source pair (Beyer et al., SIGMOD 2007): each
    * source keeps only its `kMin` smallest distinct shingle hashes;
    * the k-th minimum estimates the distinct count
    * (`(k-1)·M / kth`), the merged pair sketch estimates the union,
    * and the fraction of union-sketch members present in BOTH input
    * sketches estimates intersection and Jaccard. This is the
    * hash-GRADED sketch twin of x06's HLL path: because the hash is
    * [[PortableHash.md5Long60]], DuckDB derives the bit-identical
    * sketches, so estimates grade exactly (rows+schema+hash), not
    * "within rsd".
    *
    * Scale: the only corpus-sized work is one (source, shingle-hash)
    * distinct (partial aggregate, map-side combined) and one
    * per-source top-k window — Spark plans it as WindowGroupLimit, so
    * each map task forwards at most `kMin` rows per source. All pair
    * arithmetic runs on ≤ kMin·|sources| sketch rows against a
    * broadcast pair list — no shingle-keyed self-join anywhere, which
    * is exactly why KMV (like HLL) is the 100 TB path for q110. KMV's
    * edge over HLL here: sketches stay sub-settable (the same k-min
    * rows answer ANY pair/ensemble query later) and the intersection
    * is estimated directly instead of by inclusion–exclusion noise.
    *
    * Exactness: hashes, counts and the k-th minima are integers;
    * each estimate is one IEEE double division of exact integers
    * (identical both engines), rounded 6dp. Sources with fewer than
    * kMin distinct hashes fall back to their exact count (standard
    * KMV convention), as do unions.
    */
  def kmvOverlap(spark: SparkSession, dir: String,
                 k: Int = 3, kMin: Int = 128): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val m = lit((1L << 60).toDouble)
    val sf = shingles(docs, k)
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
      .select(col("source"), PortableHash.md5Long60(col("shingle")).as("h"))
      .distinct()
    val sk = sf
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("source")).orderBy(col("h"))))
      .filter(col("rn") <= kMin).drop("rn")
      .transform(graft.Iterate.cut) // consumers: per-source estimates + pair tagging
    val est = sk.groupBy(col("source"))
      .agg(count(lit(1)).as("n_k"), max(col("h")).as("kth"))
      .withColumn("est", round(
        when(col("n_k") < kMin, col("n_k").cast("double"))
          .otherwise(lit((kMin - 1).toDouble) * m / col("kth").cast("double")),
        6))
    val pairList = est.select(col("source").as("source_a"))
      .crossJoin(est.select(col("source").as("source_b")))
      .filter(col("source_a") < col("source_b"))
    val merged = sk
      .join(broadcast(pairList),
        col("source") === col("source_a") || col("source") === col("source_b"))
      .groupBy(col("source_a"), col("source_b"), col("h"))
      .agg(countDistinct(col("source")).as("sides"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("source_a"), col("source_b")).orderBy(col("h"))))
      .filter(col("rn") <= kMin)
    val pairAgg = merged.groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_u"), max(col("h")).as("kth_u"),
        sum(when(col("sides") === 2, 1L).otherwise(0L)).as("k_inter"))
      .withColumn("est_union", round(
        when(col("n_u") < kMin, col("n_u").cast("double"))
          .otherwise(lit((kMin - 1).toDouble) * m / col("kth_u").cast("double")),
        6))
    pairAgg
      .join(broadcast(est.select(col("source").as("source_a"),
        col("est").as("est_a"))), "source_a")
      .join(broadcast(est.select(col("source").as("source_b"),
        col("est").as("est_b"))), "source_b")
      .select(col("source_a"), col("source_b"),
        col("est_a"), col("est_b"), col("est_union"), col("k_inter"),
        round(col("k_inter").cast("double") / col("n_u").cast("double") *
          col("est_union"), 6).as("est_intersection"),
        round(col("k_inter").cast("double") / col("n_u").cast("double"), 6)
          .as("jaccard_kmv"))
      .orderBy(col("source_a"), col("source_b"))
  }

  def kmvOverlapSql(k: Int = 3, kMin: Int = 128): String =
    s"""WITH ${docShinglesCte("sh0", k)}, sf AS (
      |  SELECT DISTINCT d.source,
      |    CAST(('0x' || substr(md5(sh0.shingle), 1, 15)) AS BIGINT) AS h
      |  FROM sh0 JOIN documents d ON sh0.doc_id = d.doc_id
      |), sk AS (
      |  SELECT source, h FROM (
      |    SELECT source, h,
      |      row_number() OVER (PARTITION BY source ORDER BY h) AS rn
      |    FROM sf) WHERE rn <= $kMin
      |), est AS (
      |  SELECT source, COUNT(*) AS n_k, MAX(h) AS kth,
      |    ROUND(CASE WHEN COUNT(*) < $kMin THEN CAST(COUNT(*) AS DOUBLE)
      |      ELSE ${kMin - 1}.0 * POWER(2.0, 60) / CAST(MAX(h) AS DOUBLE)
      |      END, 6) AS est
      |  FROM sk GROUP BY source
      |), pair_list AS (
      |  SELECT a.source AS source_a, b.source AS source_b
      |  FROM est a, est b WHERE a.source < b.source
      |), merged AS (
      |  SELECT source_a, source_b, h, sides,
      |    row_number() OVER (PARTITION BY source_a, source_b ORDER BY h) AS rn
      |  FROM (
      |    SELECT p.source_a, p.source_b, s.h,
      |      COUNT(DISTINCT s.source) AS sides
      |    FROM sk s JOIN pair_list p
      |      ON s.source = p.source_a OR s.source = p.source_b
      |    GROUP BY 1, 2, 3)
      |), pair_agg AS (
      |  SELECT source_a, source_b, COUNT(*) AS n_u, MAX(h) AS kth_u,
      |    CAST(SUM(CASE WHEN sides = 2 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS k_inter,
      |    ROUND(CASE WHEN COUNT(*) < $kMin THEN CAST(COUNT(*) AS DOUBLE)
      |      ELSE ${kMin - 1}.0 * POWER(2.0, 60) / CAST(MAX(h) AS DOUBLE)
      |      END, 6) AS est_union
      |  FROM merged WHERE rn <= $kMin GROUP BY 1, 2
      |)
      |SELECT p.source_a, p.source_b, ea.est AS est_a, eb.est AS est_b,
      |  p.est_union, p.k_inter,
      |  ROUND(CAST(p.k_inter AS DOUBLE) / p.n_u * p.est_union, 6)
      |    AS est_intersection,
      |  ROUND(CAST(p.k_inter AS DOUBLE) / p.n_u, 6) AS jaccard_kmv
      |FROM pair_agg p
      |JOIN est ea ON p.source_a = ea.source
      |JOIN est eb ON p.source_b = eb.source
      |ORDER BY p.source_a, p.source_b""".stripMargin

  /** q118 — duplicate-cluster size histogram: how many clusters exist
    * at each size, and how many documents (and removable duplicates)
    * they hold — the shape report behind every dedup budget decision
    * (a corpus dominated by size-2 clusters dedups cheaply; a few
    * giant clusters signal template storms that need span-level
    * treatment instead). Rides the session labels memo: after q38 has
    * run, this is two tiny aggregates.
    */
  def clusterSizeHistogram(spark: SparkSession, dir: String): DataFrame = {
    clusterMembers(spark, dir).groupBy(col("rep_id")).agg(count(lit(1)).as("csize"))
      .groupBy(col("csize"))
      .agg(count(lit(1)).as("n_clusters"),
        sum(col("csize")).as("n_docs"),
        sum(col("csize") - 1).as("n_removable"))
      .orderBy(col("csize"))
  }

  def clusterSizeHistogramSql(): String =
    s"""WITH cc AS (
      |$dedupClustersSql
      |), sz AS (
      |  SELECT rep_id, COUNT(*) AS csize FROM cc GROUP BY rep_id
      |)
      |SELECT csize, COUNT(*) AS n_clusters,
      |  CAST(SUM(csize) AS BIGINT) AS n_docs,
      |  CAST(SUM(csize - 1) AS BIGINT) AS n_removable
      |FROM sz GROUP BY csize ORDER BY csize""".stripMargin

  /** q125 — top repeated phrases per source: each source's most
    * frequent k-shingles (document-frequency, so a phrase repeated
    * inside one doc counts once) with their share of the source's
    * documents — the actionable view q88's boilerplate MASK doesn't
    * give: it flags which docs carry boilerplate, this names the
    * boilerplate itself, per feed, so a template can be stripped at
    * the source.
    *
    * Scale: (source, shingle) df aggregate with map-side combine, then
    * a per-source top-k rank filter — the literal bound plans a
    * partial WindowGroupLimit before the source exchange (q29's
    * shape). Ties break on the shingle text.
    */
  def topBoilerplate(spark: SparkSession, dir: String, k: Int = 3,
                     topK: Int = 5): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val sf = shingles(docs, k)
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
    val df = sf.groupBy(col("source"), col("shingle"))
      .agg(countDistinct(col("doc_id")).as("df"))
    val nDocs = docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("df").desc, col("shingle"))
    df.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= topK)
      .join(broadcast(nDocs), "source")
      .select(col("source"), col("rk"), col("shingle"), col("df"),
        round(col("df").cast("double") / col("n_docs"), 6).as("doc_share"))
      .orderBy(col("source"), col("rk"))
  }

  def topBoilerplateSql(k: Int = 3, topK: Int = 5): String =
    s"""WITH ${docShinglesCte("sh0", k)}, df AS (
      |  SELECT d.source, sh0.shingle, COUNT(DISTINCT sh0.doc_id) AS df
      |  FROM sh0 JOIN documents d ON sh0.doc_id = d.doc_id
      |  GROUP BY d.source, sh0.shingle
      |), nd AS (
      |  SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source
      |), ranked AS (
      |  SELECT source, shingle, df,
      |    CAST(row_number() OVER (PARTITION BY source
      |      ORDER BY df DESC, shingle) AS INT) AS rk
      |  FROM df QUALIFY rk <= $topK
      |)
      |SELECT r.source, r.rk, r.shingle, r.df,
      |  ROUND(CAST(r.df AS DOUBLE) / nd.n_docs, 6) AS doc_share
      |FROM ranked r JOIN nd ON r.source = nd.source
      |ORDER BY r.source, r.rk""".stripMargin

  /** q112 — MinHash estimator audit: for every LSH candidate pair
    * (q27's banding, NO threshold filter), the signature-agreement
    * Jaccard ESTIMATE (agreeing slots / numHashes) next to the exact
    * Jaccard and the absolute error — the calibration report that
    * says whether the sketch's (numHashes, bands) setting can be
    * trusted before a 100 TB run commits to it. Oracle-exact end to
    * end because the md5 universal family is stated identically in
    * DuckDB (q27's round-2 result), so both engines produce the SAME
    * estimates, not just the same true values.
    *
    * Scale: candidates come only from band buckets (the q27 payoff);
    * the agreement check joins the numHashes-wide signature row per
    * side (one row per doc), and verification is candidate-bounded.
    */
  def minhashEstimateAudit(spark: SparkSession, dir: String, k: Int = 3,
                           numHashes: Int = 24, bands: Int = 8): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val kept = keptShingles(docs, k, dfCap = 200)
    val sig = minhashSignatures(kept, numHashes).transform(graft.Iterate.cut)
    val banded = bandBuckets(sig, numHashes, bands).transform(graft.Iterate.cut)
    val candidates = bandCandidates(banded)
    val agree = (0 until numHashes)
      .map(i => (col(s"sa.h$i") === col(s"sb.h$i")).cast("long")).reduce(_ + _)
    val sets = kept.groupBy(col("doc_id")).agg(collect_set(col("shingle")).as("sh_set"))
    candidates
      .join(sig.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sig.as("sb"), col("doc_b") === col("sb.doc_id"))
      .withColumn("n_agree", agree)
      .join(sets.select(col("doc_id").as("doc_a"), col("sh_set").as("set_a")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("sh_set").as("set_b")), "doc_b")
      .withColumn("n_shared", size(array_intersect(col("set_a"), col("set_b"))).cast("long"))
      .withColumn("est_jaccard",
        round(col("n_agree").cast("double") / numHashes, 6))
      .withColumn("jaccard", round(col("n_shared").cast("double") /
        (size(col("set_a")) + size(col("set_b")) - col("n_shared")), 6))
      .withColumn("abs_err", round(abs(col("est_jaccard") - col("jaccard")), 6))
      .select(col("doc_a"), col("doc_b"), col("n_agree"), col("n_shared"),
        col("est_jaccard"), col("jaccard"), col("abs_err"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  def minhashEstimateAuditSql(numHashes: Int = 24, bands: Int = 8): String = {
    s"""WITH $shingleCtes, ${minhashCandidateCtes(numHashes, bands)}, agree AS (
      |  SELECT c.doc_a, c.doc_b,
      |    CAST(SUM(CASE WHEN sa.h = sb.h THEN 1 ELSE 0 END) AS BIGINT) AS n_agree
      |  FROM cand c
      |  JOIN sig sa ON sa.doc_id = c.doc_a
      |  JOIN sig sb ON sb.doc_id = c.doc_b AND sb.slot = sa.slot
      |  GROUP BY c.doc_a, c.doc_b
      |), $candSharedCtes
      |SELECT g.doc_a, g.doc_b, g.n_agree,
      |  COALESCE(s.n_shared, 0) AS n_shared,
      |  ROUND(CAST(g.n_agree AS DOUBLE) / $numHashes, 6) AS est_jaccard,
      |  ROUND(CAST(COALESCE(s.n_shared, 0) AS DOUBLE)
      |    / (sa.n_sh + sb.n_sh - COALESCE(s.n_shared, 0)), 6) AS jaccard,
      |  ROUND(ABS(ROUND(CAST(g.n_agree AS DOUBLE) / $numHashes, 6)
      |    - ROUND(CAST(COALESCE(s.n_shared, 0) AS DOUBLE)
      |        / (sa.n_sh + sb.n_sh - COALESCE(s.n_shared, 0)), 6)), 6) AS abs_err
      |FROM agree g
      |LEFT JOIN shared s ON g.doc_a = s.doc_a AND g.doc_b = s.doc_b
      |JOIN sizes sa ON g.doc_a = sa.doc_id
      |JOIN sizes sb ON g.doc_b = sb.doc_id
      |ORDER BY g.doc_a, g.doc_b""".stripMargin
  }

  /** q445 — b-bit MinHash compression audit (Li & König, b = 1): the
    * q112 candidate pairs re-estimated from only the LOWEST BIT of
    * each MinHash slot — a 32× signature compression — with the
    * b=1 de-bias Ĵ = max(0, 2·A − 1) (random bits agree half the
    * time; A is the bit-agreement share). Graded beside the full-slot
    * estimate and the exact Jaccard, the relation prices the memory/
    * accuracy trade a 100 TB sketch store actually faces: full slots
    * cost 8 bytes each, one bit costs one bit, and THIS table says
    * what that buys back in error on this corpus.
    *
    * Exactness: bit agreements are integer parities of the shared
    * md5-family slot minima (identical in DuckDB by the q27 result);
    * estimates are single rounded expressions off integer counts;
    * GREATEST pins the negative-estimate clamp identically.
    *
    * Scale: identical bounded shapes to q112 (band-bucket candidates,
    * one signature row per doc, candidate-bounded verification) —
    * the bit view is a projection of the same signature frame.
    */
  def bbitMinhashAudit(spark: SparkSession, dir: String, k: Int = 3,
                       numHashes: Int = 24, bands: Int = 8): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val kept = keptShingles(docs, k, dfCap = 200)
    val sig = minhashSignatures(kept, numHashes).transform(graft.Iterate.cut)
    val banded = bandBuckets(sig, numHashes, bands)
    val candidates = bandCandidates(banded)
    val agreeFull = (0 until numHashes)
      .map(i => (col(s"sa.h$i") === col(s"sb.h$i")).cast("long")).reduce(_ + _)
    val agreeBit = (0 until numHashes)
      .map(i => (col(s"sa.h$i") % 2 === col(s"sb.h$i") % 2).cast("long"))
      .reduce(_ + _)
    val sets = kept.groupBy(col("doc_id")).agg(collect_set(col("shingle")).as("sh_set"))
    candidates
      .join(sig.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sig.as("sb"), col("doc_b") === col("sb.doc_id"))
      .withColumn("n_agree_full", agreeFull)
      .withColumn("n_agree_bit", agreeBit)
      .join(sets.select(col("doc_id").as("doc_a"), col("sh_set").as("set_a")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("sh_set").as("set_b")), "doc_b")
      .withColumn("n_shared",
        size(array_intersect(col("set_a"), col("set_b"))).cast("long"))
      .withColumn("jaccard", round(col("n_shared").cast("double") /
        (size(col("set_a")) + size(col("set_b")) - col("n_shared")), 6))
      .withColumn("est_full",
        round(col("n_agree_full").cast("double") / numHashes, 6))
      .withColumn("est_1bit", round(greatest(lit(0.0),
        lit(2.0) * col("n_agree_bit").cast("double") / numHashes - lit(1.0)),
        6))
      .select(col("doc_a"), col("doc_b"), col("n_agree_full"),
        col("n_agree_bit"), col("jaccard"), col("est_full"),
        col("est_1bit"),
        round(abs(col("est_full") - col("jaccard")), 6).as("err_full"),
        round(abs(col("est_1bit") - col("jaccard")), 6).as("err_1bit"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  def bbitMinhashAuditSql(numHashes: Int = 24, bands: Int = 8): String = {
    s"""WITH $shingleCtes, ${minhashCandidateCtes(numHashes, bands)}, agree AS (
      |  SELECT c.doc_a, c.doc_b,
      |    CAST(SUM(CASE WHEN sa.h = sb.h THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_agree_full,
      |    CAST(SUM(CASE WHEN sa.h % 2 = sb.h % 2 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_agree_bit
      |  FROM cand c
      |  JOIN sig sa ON sa.doc_id = c.doc_a
      |  JOIN sig sb ON sb.doc_id = c.doc_b AND sb.slot = sa.slot
      |  GROUP BY c.doc_a, c.doc_b
      |), $candSharedCtes, fin AS (
      |  SELECT g.doc_a, g.doc_b, g.n_agree_full, g.n_agree_bit,
      |    ROUND(CAST(COALESCE(s.n_shared, 0) AS DOUBLE)
      |      / (sa.n_sh + sb.n_sh - COALESCE(s.n_shared, 0)), 6) AS jaccard,
      |    ROUND(CAST(g.n_agree_full AS DOUBLE) / $numHashes, 6) AS est_full,
      |    ROUND(GREATEST(0.0,
      |      2.0 * CAST(g.n_agree_bit AS DOUBLE) / $numHashes - 1.0), 6)
      |      AS est_1bit
      |  FROM agree g
      |  LEFT JOIN shared s ON g.doc_a = s.doc_a AND g.doc_b = s.doc_b
      |  JOIN sizes sa ON g.doc_a = sa.doc_id
      |  JOIN sizes sb ON g.doc_b = sb.doc_id
      |)
      |SELECT doc_a, doc_b, n_agree_full, n_agree_bit, jaccard, est_full,
      |  est_1bit,
      |  ROUND(ABS(est_full - jaccard), 6) AS err_full,
      |  ROUND(ABS(est_1bit - jaccard), 6) AS err_1bit
      |FROM fin
      |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** q454 — near-dup ingestion-distance spectrum: the q26 pairs
    * bucketed by log₂ of their doc_id distance — do near-duplicates
    * arrive ADJACENT (same crawl burst; dedup can run per-batch with
    * a short memory) or UNIFORMLY far apart (recurring boilerplate;
    * dedup needs the full-corpus index forever)? The answer sizes the
    * incremental-dedup state (q54's whole design rides on it) and is
    * invisible in every per-pair relation that doesn't keep the
    * distance.
    *
    * Exactness: distances and log₂ buckets are pure integer
    * arithmetic (bucket = bit length of doc_b − doc_a, exact in both
    * engines via the power-of-two ladder); shares are single rounded
    * divisions; empty buckets up to the max observed stay visible.
    *
    * Scale: the q26 candidate-bounded pair table + a |buckets|-row
    * aggregate — nothing new touches the corpus.
    */
  def dupDistanceSpectrum(spark: SparkSession, dir: String, k: Int = 3,
                          threshold: Double = 0.6): DataFrame = {
    val pairs = jaccardPairs(spark, dir, k, threshold)
      .withColumn("dist", col("doc_b") - col("doc_a"))
      // floor(log2(dist)) as pure INTEGER arithmetic: the bit length
      // of dist minus one (bin() renders the minimal binary string in
      // both engines; dist >= 1 always) — no libm log that could
      // straddle exact powers of two cross-engine
      .withColumn("bucket",
        (length(expr("bin(dist)")) - 1).cast("int"))
    val total = pairs.agg(count(lit(1)).as("n_total"))
    pairs.groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_pairs"), min(col("dist")).as("min_dist"),
        max(col("dist")).as("max_dist"))
      .crossJoin(broadcast(total))
      .select(col("bucket"), col("n_pairs"), col("min_dist"),
        col("max_dist"),
        round(col("n_pairs").cast("double") / col("n_total").cast("double"),
          6).as("share"))
      .orderBy(col("bucket"))
  }

  def dupDistanceSpectrumSql(threshold: Double = 0.6): String =
    s"""WITH $shingleCtes, $sharedShinglesCtes, pairs AS (
      |  SELECT doc_a, doc_b FROM (
      |    SELECT s.doc_a, s.doc_b,
      |      ROUND(CAST(s.n_shared AS DOUBLE)
      |        / (sa.n_sh + sb.n_sh - s.n_shared), 6) AS jaccard
      |    FROM shared s
      |    JOIN sizes sa ON s.doc_a = sa.doc_id
      |    JOIN sizes sb ON s.doc_b = sb.doc_id
      |  ) WHERE jaccard >= $threshold
      |), dists AS (
      |  SELECT CAST(length(bin(doc_b - doc_a)) - 1 AS INT) AS bucket,
      |    doc_b - doc_a AS dist
      |  FROM pairs
      |), tot AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM dists
      |)
      |SELECT d.bucket, CAST(COUNT(*) AS BIGINT) AS n_pairs,
      |  CAST(MIN(d.dist) AS BIGINT) AS min_dist,
      |  CAST(MAX(d.dist) AS BIGINT) AS max_dist,
      |  ROUND(CAST(COUNT(*) AS DOUBLE) / CAST(MAX(t.n_total) AS DOUBLE), 6)
      |    AS share
      |FROM dists d CROSS JOIN tot t
      |GROUP BY d.bucket
      |ORDER BY d.bucket""".stripMargin

  /** q456 — duplicate/quality point-biserial correlation per source:
    * Pearson r between the binary "this document is a REMOVABLE
    * near-dup" flag (the higher-id member of any q26 pair, the
    * min-id-canonical rule) and the q23 quality score — are the
    * duplicates the BAD documents (dedup doubles as quality
    * filtering; thresholds can be lax) or are they uniformly spread
    * (dedup and quality gates prune DIFFERENT mass and both must
    * run)? The one-number answer to the most common curation-budget
    * argument, per source.
    *
    * Exactness: the flag is an integer anti/semi-join product;
    * quality is the shared 6dp rational score; the point-biserial is
    * the q209 Pearson chain over integer counts and 6dp-rounded
    * decimal sums, NULLIF-guarded for degenerate sources (no dups or
    * constant quality → NULL, never NaN).
    *
    * Scale: one q26 candidate-bounded pair table, a semi-join flag,
    * one per-source aggregate.
    */
  def dupQualityPointBiserial(spark: SparkSession, dir: String,
                              k: Int = 3,
                              threshold: Double = 0.6): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(28, 6)
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("source"),
        graft.functions.TextFunctions.qualityScore(col("text")).as("q"))
    val removable = jaccardPairs(spark, dir, k, threshold)
      .select(col("doc_b").as("doc_id")).distinct()
    val flagged = docs.join(removable.withColumn("is_dup", lit(1L)),
        Seq("doc_id"), "left")
      .withColumn("x", coalesce(col("is_dup"), lit(0L)))
    flagged.groupBy(col("source"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("n_dups"),
        sum(col("q").cast(dec)).cast("double").as("sy"),
        sum(round(col("q") * col("q"), 6).cast(dec)).cast("double")
          .as("syy"),
        sum(when(col("x") === 1, col("q")).otherwise(lit(0.0)).cast(dec))
          .cast("double").as("sxy"))
      .withColumn("r_pb", round(
        (col("n").cast("double") * col("sxy") -
          col("n_dups").cast("double") * col("sy")) /
          nullif(sqrt(
            (col("n") * col("n_dups") - col("n_dups") * col("n_dups"))
              .cast("double") *
            (col("n").cast("double") * col("syy") - col("sy") * col("sy"))),
            lit(0.0)), 6))
      .select(col("source"), col("n").as("n_docs"), col("n_dups"),
        col("r_pb"))
      .orderBy(col("source"))
  }

  def dupQualityPointBiserialSql(threshold: Double = 0.6): String = {
    // the exact q23 oracle expression — one definition of "quality"
    val qualityExpr = TextAnalysis.qualityExprSql
    s"""WITH $shingleCtes, $sharedShinglesCtes, removable AS (
      |  SELECT DISTINCT doc_b AS doc_id FROM (
      |    SELECT s.doc_a, s.doc_b,
      |      ROUND(CAST(s.n_shared AS DOUBLE)
      |        / (sa.n_sh + sb.n_sh - s.n_shared), 6) AS jaccard
      |    FROM shared s
      |    JOIN sizes sa ON s.doc_a = sa.doc_id
      |    JOIN sizes sb ON s.doc_b = sb.doc_id
      |  ) WHERE jaccard >= $threshold
      |), flagged AS (
      |  SELECT d.source,
      |    CASE WHEN r.doc_id IS NULL THEN 0 ELSE 1 END AS x,
      |    $qualityExpr AS q
      |  FROM documents d LEFT JOIN removable r ON r.doc_id = d.doc_id
      |), agg AS (
      |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(x) AS BIGINT) AS n_dups,
      |    CAST(SUM(CAST(q AS DECIMAL(28,6))) AS DOUBLE) AS sy,
      |    CAST(SUM(CAST(ROUND(q * q, 6) AS DECIMAL(28,6))) AS DOUBLE)
      |      AS syy,
      |    CAST(SUM(CASE WHEN x = 1 THEN CAST(q AS DECIMAL(28,6))
      |      ELSE CAST(0.0 AS DECIMAL(28,6)) END) AS DOUBLE) AS sxy
      |  FROM flagged GROUP BY 1
      |)
      |SELECT source, n AS n_docs, n_dups,
      |  ROUND((CAST(n AS DOUBLE) * sxy - CAST(n_dups AS DOUBLE) * sy)
      |    / NULLIF(sqrt(CAST(n * n_dups - n_dups * n_dups AS DOUBLE)
      |        * (CAST(n AS DOUBLE) * syy - sy * sy)), 0.0), 6) AS r_pb
      |FROM agg
      |ORDER BY source""".stripMargin
  }

  /** q111 — prefix-novelty scoring: per document (in doc_id ingestion
    * order), the fraction of its distinct k-shingles NOT seen in any
    * earlier document — the running "is this feed still contributing
    * new text" signal, and the per-doc form of q109's corpus-level
    * curve. A shingle's first sighting is min(doc_id) — one shuffle
    * with map-side combine; the join back is 1:N on shingle (no pair
    * fan-out, unlike candidate generation). Documents shorter than k
    * tokens have no shingles and are excluded (the [[shingles]]
    * convention).
    */
  def noveltyScores(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val sh = shingles(docs, k).transform(graft.Iterate.cut) // two consumers
    val first = sh.groupBy(col("shingle")).agg(min(col("doc_id")).as("first_doc"))
    sh.join(first, "shingle")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum((col("first_doc") < col("doc_id")).cast("long")).as("n_seen"))
      .withColumn("novelty",
        round(lit(1.0) - col("n_seen").cast("double") / col("n_shingles"), 6))
      .orderBy(col("doc_id"))
  }

  def noveltyScoresSql(k: Int = 3): String =
    s"""WITH ${docShinglesCte("sh", k)}, fd AS (
      |  SELECT shingle, MIN(doc_id) AS first_doc FROM sh GROUP BY shingle
      |)
      |SELECT sh.doc_id, COUNT(*) AS n_shingles,
      |  CAST(SUM(CASE WHEN fd.first_doc < sh.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_seen,
      |  ROUND(1.0 - CAST(SUM(CASE WHEN fd.first_doc < sh.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
      |    / COUNT(*), 6) AS novelty
      |FROM sh JOIN fd ON sh.shingle = fd.shingle
      |GROUP BY sh.doc_id ORDER BY sh.doc_id""".stripMargin

  /** q141 — dedup-method agreement audit: the q137 idea applied to
    * the dedup stack. q26 (exhaustive df-capped inverted index) is
    * the ground-truth pair set at the graded threshold; q27 runs the
    * same exact-Jaccard verification but only over MinHash-LSH band
    * candidates — so its pairs are a subset, and the difference IS
    * the LSH miss set. One summary row: pair counts, overlap, and
    * LSH pair-recall. Banding theory says misses concentrate just
    * above threshold; a recall drop here is the tuning signal to add
    * bands before a 100 TB dedup run silently under-merges.
    *
    * Scale: composes two already-candidate-bounded graded operators
    * and joins their pair lists — audit cost is pair-list sized.
    */
  def lshAgreementAudit(spark: SparkSession, dir: String): DataFrame = {
    val exact = jaccardPairs(spark, dir).select(col("doc_a"), col("doc_b"))
    val lsh = minhashLshPairs(spark, dir).select(col("doc_a"), col("doc_b"))
    val nE = exact.agg(count(lit(1)).as("n_exact"))
    val nL = lsh.agg(count(lit(1)).as("n_lsh"))
    val nC = exact.join(lsh, Seq("doc_a", "doc_b"))
      .agg(count(lit(1)).as("n_common"))
    nE.crossJoin(nL).crossJoin(nC)
      .select(col("n_exact"), col("n_lsh"), col("n_common"),
        (col("n_exact") - col("n_common")).as("n_missed"),
        round(col("n_common").cast("double") / col("n_exact"), 6)
          .as("lsh_pair_recall"))
  }

  val lshAgreementAuditSql: String =
    s"""WITH exact_pairs AS (
      |  $ngramJaccardPairsSql
      |), lsh_pairs AS (
      |  $minhashLshPairsSql
      |), ne AS (SELECT COUNT(*) AS n_exact FROM exact_pairs
      |), nl AS (SELECT COUNT(*) AS n_lsh FROM lsh_pairs
      |), ncm AS (
      |  SELECT COUNT(*) AS n_common
      |  FROM exact_pairs e JOIN lsh_pairs l
      |    ON e.doc_a = l.doc_a AND e.doc_b = l.doc_b
      |)
      |SELECT n_exact, n_lsh, n_common,
      |  n_exact - n_common AS n_missed,
      |  ROUND(CAST(n_common AS DOUBLE) / n_exact, 6) AS lsh_pair_recall
      |FROM ne CROSS JOIN nl CROSS JOIN ncm""".stripMargin

  /** q180 — sorted-neighborhood (SNM) dedup candidates: the THIRD
    * classic blocking family next to the inverted index (q26/q86) and
    * LSH banding (q27/q28). Each doc gets a normalized sort key (the
    * first `keyLen` alphanumeric chars of the casefolded text); docs
    * are ranked inside coarse blocks (first `blkLen` key chars) by
    * (key, doc_id), and the candidate set is every pair within `w`
    * rank positions — linear O(n·w) candidates instead of quadratic,
    * the window-join trick from Hernández/Stolfo's merge/purge work.
    * Candidates are then verified with exact distinct-word Jaccard
    * and reported with their rank gap (gap 1 = sort-adjacent).
    *
    * SNM catches what shingle/LSH blocking is weakest at — very short
    * documents (too few shingles to index) whose edits are at the
    * TAIL of the text, since prefix-keyed neighbors survive any tail
    * divergence — and costs one sort-shuffle, no index explode.
    *
    * Spark-native shape: the classic formulation is ONE global sort +
    * sliding window — a single-partition bottleneck at 100 TB. Here
    * the window is PARTITIONED by the coarse block, so ranking is a
    * per-block parallel sort (one shuffle on `blk`), and the
    * neighbor join is an EQUI-join on (blk, rank − gap) built by
    * exploding gap ∈ 1..w — no range condition, no nested loop. The
    * trade: pairs that straddle a block boundary are lost (the docs
    * disagree in their first `blkLen` normalized chars — for a dedup
    * candidate generator that's the population with near-zero prior
    * anyway; multi-pass SNM with a rotated key is the standard recall
    * supplement and composes by union). Verification joins the
    * candidate list back to the distinct-token table twice — cost
    * bounded by candidates × doc length, never all-pairs.
    *
    * Exactness: key normalization (`lower` + strip non-[a-z0-9] +
    * prefix) and ROW_NUMBER over (blk, key, doc_id) are fully
    * tiebroken and engine-identical; Jaccard is one rounded IEEE
    * division of exact counts (the q26 convention).
    */
  def snmCandidates(spark: SparkSession, dir: String, w: Int = 4,
                    keyLen: Int = 32, blkLen: Int = 4,
                    threshold: Double = 0.5): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val ranked = docs.select(col("doc_id"),
        substring(regexp_replace(lower(col("text")), "[^a-z0-9]", ""), 1, keyLen)
          .as("snm_key"))
      .withColumn("blk", substring(col("snm_key"), 1, blkLen))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("blk")).orderBy(col("snm_key"), col("doc_id"))))
    val right = ranked.withColumn("g", explode(sequence(lit(1), lit(w))))
      .select(col("blk"), (col("rn") - col("g")).as("rn"),
        col("doc_id").as("doc_y"), col("g"))
    val cand = ranked.join(right, Seq("blk", "rn"))
      .select(least(col("doc_id"), col("doc_y")).as("doc_a"),
        greatest(col("doc_id"), col("doc_y")).as("doc_b"),
        col("g").as("rank_gap"))
    val toks = docs.select(col("doc_id"),
      explode(array_distinct(tokens(col("text")))).as("tok"))
    val sizes = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("n_t"))
    cand
      .join(toks.select(col("doc_id").as("doc_a"), col("tok").as("tok_a")), "doc_a")
      .join(toks.select(col("doc_id").as("doc_b"), col("tok").as("tok_a")),
        Seq("doc_b", "tok_a"))
      .groupBy(col("doc_a"), col("doc_b"), col("rank_gap"))
      .agg(count(lit(1)).as("n_shared"))
      .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_t", "n_a"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_t", "n_b"), "doc_b")
      .withColumn("jaccard", round(col("n_shared").cast("double") /
        (col("n_a") + col("n_b") - col("n_shared")), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("rank_gap"), col("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Oracle twin of [[snmCandidates]] — parameterized so non-default
    * invocations stay exactly checkable.
    */
  def snmCandidatesSql(w: Int = 4, keyLen: Int = 32, blkLen: Int = 4,
                       threshold: Double = 0.5): String =
    s"""WITH ranked AS (
      |  SELECT doc_id, snm_key, substr(snm_key, 1, $blkLen) AS blk,
      |    ROW_NUMBER() OVER (PARTITION BY substr(snm_key, 1, $blkLen)
      |                       ORDER BY snm_key, doc_id) AS rn
      |  FROM (SELECT doc_id,
      |          substr(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'), 1, $keyLen) AS snm_key
      |        FROM documents)
      |), cand AS (
      |  SELECT LEAST(a.doc_id, b.doc_id) AS doc_a,
      |         GREATEST(a.doc_id, b.doc_id) AS doc_b,
      |         b.rn - a.rn AS rank_gap
      |  FROM ranked a JOIN ranked b
      |    ON a.blk = b.blk AND b.rn > a.rn AND b.rn <= a.rn + $w
      |), toks AS (
      |  SELECT doc_id, unnest(list_distinct(list_filter(
      |    string_split_regex(lower(text), '\\s+'), t -> t <> ''))) AS tok
      |  FROM documents
      |), sizes AS (
      |  SELECT doc_id, COUNT(*) AS n_t FROM toks GROUP BY doc_id
      |), shared AS (
      |  SELECT c.doc_a, c.doc_b, c.rank_gap, COUNT(*) AS n_shared
      |  FROM cand c
      |  JOIN toks ta ON ta.doc_id = c.doc_a
      |  JOIN toks tb ON tb.doc_id = c.doc_b AND tb.tok = ta.tok
      |  GROUP BY 1, 2, 3
      |)
      |SELECT doc_a, doc_b, rank_gap, jaccard FROM (
      |  SELECT s.doc_a, s.doc_b, s.rank_gap,
      |    ROUND(CAST(s.n_shared AS DOUBLE) / (sa.n_t + sb.n_t - s.n_shared), 6) AS jaccard
      |  FROM shared s
      |  JOIN sizes sa ON sa.doc_id = s.doc_a
      |  JOIN sizes sb ON sb.doc_id = s.doc_b
      |) WHERE jaccard >= $threshold
      |ORDER BY doc_a, doc_b""".stripMargin

  /** q192 — effective token yield per source: how many TOKENS (not
    * documents) each source actually contributes to a training mix
    * after deduplication. q108 counts dup documents; budgets are paid
    * in tokens, and dup documents are systematically longer/shorter
    * than average often enough that doc-level and token-level dup
    * rates diverge — this is the number a mix planner (q62/q178)
    * should weight by. Per source: raw docs/tokens, exact-dedup
    * survivors (q25's normalized-fingerprint minimum) and their
    * tokens, near-dup cluster canonicals (q38's CC labels — exact
    * dups land in the same cluster whenever the doc is long enough
    * to shingle, so canonical counts encode the cascade) and their
    * tokens, and the end-to-end token yield.
    *
    * Scale: one narrow map for tokens/fingerprints, the memoized CC
    * labels joined doc-keyed, a fingerprint-partitioned min window,
    * one (source) aggregate. Nothing new shuffles beyond the q38
    * fixpoint the session already paid for.
    */
  def tokenYield(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("fp"))
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("source"),
        tokenCount(col("text")).cast("long").as("n_tok"),
        contentFingerprint(col("text")).as("fp"))
      .withColumn("is_exact_surv",
        (col("doc_id") === min(col("doc_id")).over(w)).cast("int"))
    val labels = clusterMembers(spark, dir)
      .select(col("doc_id"), (col("doc_id") === col("rep_id")).cast("int").as("is_canonical"))
    docs.join(labels, "doc_id")
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("n_tokens"),
        sum(col("is_exact_surv").cast("long")).as("n_docs_exact"),
        sum(when(col("is_exact_surv") === 1, col("n_tok")).otherwise(lit(0L)))
          .as("n_tokens_exact"),
        sum(col("is_canonical").cast("long")).as("n_docs_canonical"),
        sum(when(col("is_canonical") === 1, col("n_tok")).otherwise(lit(0L)))
          .as("n_tokens_canonical"))
      .withColumn("token_yield", round(
        col("n_tokens_canonical").cast("double") / col("n_tokens"), 6))
      .orderBy(col("source"))
  }

  def tokenYieldSql(): String =
    s"""WITH cc AS (
      |$dedupClustersSql
      |), docs_t AS (
      |  SELECT doc_id, source,
      |    CAST(len(list_filter(string_split_regex(lower(text), '\\s+'),
      |      t -> t <> '')) AS BIGINT) AS n_tok,
      |    md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp
      |  FROM documents
      |), ex AS (
      |  SELECT *, CASE WHEN doc_id = MIN(doc_id) OVER (PARTITION BY fp)
      |    THEN 1 ELSE 0 END AS is_exact_surv
      |  FROM docs_t
      |)
      |SELECT e.source,
      |  COUNT(*) AS n_docs,
      |  CAST(SUM(e.n_tok) AS BIGINT) AS n_tokens,
      |  CAST(SUM(e.is_exact_surv) AS BIGINT) AS n_docs_exact,
      |  CAST(SUM(CASE WHEN e.is_exact_surv = 1 THEN e.n_tok ELSE 0 END)
      |    AS BIGINT) AS n_tokens_exact,
      |  CAST(SUM(cc.is_canonical) AS BIGINT) AS n_docs_canonical,
      |  CAST(SUM(CASE WHEN cc.is_canonical = 1 THEN e.n_tok ELSE 0 END)
      |    AS BIGINT) AS n_tokens_canonical,
      |  ROUND(CAST(SUM(CASE WHEN cc.is_canonical = 1 THEN e.n_tok ELSE 0 END)
      |    AS DOUBLE) / SUM(e.n_tok), 6) AS token_yield
      |FROM ex e JOIN cc ON cc.doc_id = e.doc_id
      |GROUP BY e.source
      |ORDER BY e.source""".stripMargin

  /** q272 — chance-corrected agreement between the two LSH dup
    * detectors: per DOCUMENT, does MinHash-LSH (q27) flag it as
    * near-dup, and does SimHash (q28)? q141 measures pair-recall of
    * one family against exact ground truth; this asks the different
    * operational question — "if I swap detector families, which
    * documents change verdict?" — via the 2×2 doc-level contingency,
    * Cohen's κ (raw agreement can look high just because most docs
    * are clean; κ subtracts the chance floor), and McNemar's χ² on
    * the disagreeing cells (is the b/c asymmetry real, i.e. is one
    * family systematically laxer?).
    *
    * Exactness: flags are set-membership from two already-graded pair
    * lists; a/b/c/d are exact counts, and both statistics are single
    * double expressions over integer products (κ's numerator
    * N(a+d) − [(a+b)(a+c)+(c+d)(b+d)] stays < 2⁶³ to ~10⁹ docs).
    * Scale: two candidate-bounded pair lists, two doc-keyed
    * semi-joins, one 4-cell aggregate.
    */
  def detectorAgreement(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents").select(col("doc_id"))
    def flagged(pairs: DataFrame): DataFrame = pairs
      .select(col("doc_a").as("doc_id"))
      .unionByName(pairs.select(col("doc_b").as("doc_id")))
      .distinct()
    val mh = flagged(minhashLshPairs(spark, dir)).withColumn("mh", lit(1L))
    val sh = flagged(simhashPairs(spark, dir)).withColumn("sh", lit(1L))
    val cells = docs
      .join(mh, Seq("doc_id"), "left").join(sh, Seq("doc_id"), "left")
      .select(coalesce(col("mh"), lit(0L)).as("mh"),
        coalesce(col("sh"), lit(0L)).as("sh"))
      .agg(
        sum(col("mh") * col("sh")).as("a"),
        sum(col("mh") * (lit(1L) - col("sh"))).as("b"),
        sum((lit(1L) - col("mh")) * col("sh")).as("c"),
        sum((lit(1L) - col("mh")) * (lit(1L) - col("sh"))).as("d"))
    cells.select(col("a"), col("b"), col("c"), col("d"),
      round(
        ((col("a") + col("b") + col("c") + col("d")) * (col("a") + col("d")) -
          ((col("a") + col("b")) * (col("a") + col("c")) +
           (col("c") + col("d")) * (col("b") + col("d")))).cast("double") /
        nullif(((col("a") + col("b") + col("c") + col("d")) *
          (col("a") + col("b") + col("c") + col("d")) -
          ((col("a") + col("b")) * (col("a") + col("c")) +
           (col("c") + col("d")) * (col("b") + col("d")))).cast("double"),
          lit(0.0)), 6).as("kappa"),
      round(((col("b") - col("c")) * (col("b") - col("c"))).cast("double") /
        nullif((col("b") + col("c")).cast("double"), lit(0.0)), 6)
        .as("mcnemar_chi2"))
  }

  val detectorAgreementSql: String =
    s"""WITH mh_pairs AS (
       |  $minhashLshPairsSql
       |), sh_pairs AS (
       |  $simhashPairsSql
       |), mh AS (
       |  SELECT DISTINCT doc_id FROM (
       |    SELECT doc_a AS doc_id FROM mh_pairs
       |    UNION ALL SELECT doc_b FROM mh_pairs)
       |), sh AS (
       |  SELECT DISTINCT doc_id FROM (
       |    SELECT doc_a AS doc_id FROM sh_pairs
       |    UNION ALL SELECT doc_b FROM sh_pairs)
       |), cells AS (
       |  SELECT
       |    SUM(CASE WHEN m.doc_id IS NOT NULL AND s.doc_id IS NOT NULL
       |      THEN 1 ELSE 0 END) AS a,
       |    SUM(CASE WHEN m.doc_id IS NOT NULL AND s.doc_id IS NULL
       |      THEN 1 ELSE 0 END) AS b,
       |    SUM(CASE WHEN m.doc_id IS NULL AND s.doc_id IS NOT NULL
       |      THEN 1 ELSE 0 END) AS c,
       |    SUM(CASE WHEN m.doc_id IS NULL AND s.doc_id IS NULL
       |      THEN 1 ELSE 0 END) AS d
       |  FROM documents doc
       |  LEFT JOIN mh m ON m.doc_id = doc.doc_id
       |  LEFT JOIN sh s ON s.doc_id = doc.doc_id
       |)
       |SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,
       |  CAST(c AS BIGINT) AS c, CAST(d AS BIGINT) AS d,
       |  ROUND(CAST((a + b + c + d) * (a + d)
       |      - ((a + b) * (a + c) + (c + d) * (b + d)) AS DOUBLE)
       |    / NULLIF(CAST((a + b + c + d) * (a + b + c + d)
       |      - ((a + b) * (a + c) + (c + d) * (b + d)) AS DOUBLE), 0.0), 6)
       |    AS kappa,
       |  ROUND(CAST((b - c) * (b - c) AS DOUBLE)
       |    / NULLIF(CAST(b + c AS DOUBLE), 0.0), 6) AS mcnemar_chi2
       |FROM cells""".stripMargin

  /** q283 — probabilistic linkage scoring: q180's sorted-neighborhood
    * CANDIDATES scored with q275's LEARNED Fellegi–Sunter weights —
    * the composition that turns the two calibration relations into a
    * working linker. Per candidate pair: the three feature agreements
    * and score = Σ (agree ? w⁺ : w⁻), the log₂ likelihood ratio of
    * match vs non-match under the learned m/u model (an undefined
    * weight — a degenerate 0/1 probability — contributes 0, i.e. the
    * feature abstains). Positive score ⇒ evidence for a match beyond
    * the blocking key; the threshold is the reviewable dial.
    *
    * Exactness: each weight is a 6dp-rounded double (or exactly 0);
    * the score adds the three terms in ONE fixed order (lang +
    * source + length) and rounds once — identical chains. Scale:
    * weights are a 3-row broadcast; candidates are q180's linear
    * O(n·w) set; two doc-keyed attr joins.
    */
  def linkageScores(spark: SparkSession, dir: String,
                    minScore: Double = 0.0): DataFrame = {
    val zero = lit(0.0)
    def w(f: String, c: String) =
      max(when(col("feature") === f, coalesce(col(c), zero)))
    val wide = linkageWeights(spark, dir).agg(
      w("same_lang", "w_agree").as("wl_a"),
      w("same_lang", "w_disagree").as("wl_d"),
      w("same_source", "w_agree").as("ws_a"),
      w("same_source", "w_disagree").as("ws_d"),
      w("len_close", "w_agree").as("wc_a"),
      w("len_close", "w_disagree").as("wc_d"))
    val attrs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
    val cand = snmCandidates(spark, dir).select(col("doc_a"), col("doc_b"))
    cand
      .join(attrs.select(col("doc_id").as("doc_a"), col("lang").as("lang_a"),
        col("source").as("source_a"), col("n_chars").as("len_a")), "doc_a")
      .join(attrs.select(col("doc_id").as("doc_b"), col("lang").as("lang_b"),
        col("source").as("source_b"), col("n_chars").as("len_b")), "doc_b")
      .crossJoin(broadcast(wide))
      .withColumn("a_lang", (col("lang_a") === col("lang_b")).cast("int"))
      .withColumn("a_source", (col("source_a") === col("source_b")).cast("int"))
      .withColumn("a_len", (abs(col("len_a") - col("len_b")) * 10 <=
        least(col("len_a"), col("len_b"))).cast("int"))
      .withColumn("score", round(
        when(col("a_lang") === 1, col("wl_a")).otherwise(col("wl_d")) +
        when(col("a_source") === 1, col("ws_a")).otherwise(col("ws_d")) +
        when(col("a_len") === 1, col("wc_a")).otherwise(col("wc_d")), 6))
      .filter(col("score") > minScore)
      .select(col("doc_a"), col("doc_b"),
        (col("a_lang") + col("a_source") + col("a_len")).as("n_agree"),
        col("score"))
      .orderBy(col("score").desc, col("doc_a"), col("doc_b"))
  }

  def linkageScoresSql(minScore: Double = 0.0): String =
    s"""WITH fsw AS (
       |  $linkageWeightsSql
       |), wide AS (
       |  SELECT
       |    MAX(CASE WHEN feature = 'same_lang'
       |      THEN COALESCE(w_agree, 0.0) END) AS wl_a,
       |    MAX(CASE WHEN feature = 'same_lang'
       |      THEN COALESCE(w_disagree, 0.0) END) AS wl_d,
       |    MAX(CASE WHEN feature = 'same_source'
       |      THEN COALESCE(w_agree, 0.0) END) AS ws_a,
       |    MAX(CASE WHEN feature = 'same_source'
       |      THEN COALESCE(w_disagree, 0.0) END) AS ws_d,
       |    MAX(CASE WHEN feature = 'len_close'
       |      THEN COALESCE(w_agree, 0.0) END) AS wc_a,
       |    MAX(CASE WHEN feature = 'len_close'
       |      THEN COALESCE(w_disagree, 0.0) END) AS wc_d
       |  FROM fsw
       |), snm AS (
       |  ${snmCandidatesSql()}
       |), scored AS (
       |  SELECT c.doc_a, c.doc_b,
       |    CASE WHEN da.lang = db.lang THEN 1 ELSE 0 END AS a_lang,
       |    CASE WHEN da.source = db.source THEN 1 ELSE 0 END AS a_source,
       |    CASE WHEN abs(da.n_chars - db.n_chars) * 10
       |      <= least(da.n_chars, db.n_chars) THEN 1 ELSE 0 END AS a_len,
       |    ROUND(
       |      (CASE WHEN da.lang = db.lang THEN w.wl_a ELSE w.wl_d END)
       |      + (CASE WHEN da.source = db.source THEN w.ws_a ELSE w.ws_d END)
       |      + (CASE WHEN abs(da.n_chars - db.n_chars) * 10
       |          <= least(da.n_chars, db.n_chars)
       |        THEN w.wc_a ELSE w.wc_d END), 6) AS score
       |  FROM snm c
       |  JOIN documents da ON da.doc_id = c.doc_a
       |  JOIN documents db ON db.doc_id = c.doc_b
       |  CROSS JOIN wide w
       |)
       |SELECT doc_a, doc_b,
       |  CAST(a_lang + a_source + a_len AS INT) AS n_agree, score
       |FROM scored WHERE score > $minScore
       |ORDER BY score DESC, doc_a, doc_b""".stripMargin

  /** q275 — Fellegi–Sunter record-linkage weights: per comparison
    * feature (same lang / same source / length within 10%), the
    * m-probability (agreement rate among KNOWN matches — q82's
    * normalized-exact-dup pairs) and u-probability (agreement rate
    * among known non-matches), and the log₂ likelihood-ratio weights
    * a probabilistic linker scores candidate pairs with: w⁺ =
    * log₂(m/u) for agreement, w⁻ = log₂((1−m)/(1−u)) for
    * disagreement. The classic linkage calibration (Fellegi & Sunter
    * 1969) the dedup stack can hand to fuzzy entity resolution: high
    * w⁺ features are the discriminating ones; w near 0 means the
    * feature is noise.
    *
    * Pair construction is deterministic and linear: matches = the
    * VERIFIED near-dup pairs from q27's MinHash-LSH relation (exact
    * Jaccard ≥ threshold — the labeled-match set a real linkage
    * calibration would use; the normalized-exact relation is empty
    * at corpus SFs whose duplicates are all near-dups); non-matches
    * = the (doc_id, doc_id+1) successor pairs with differing
    * normalized fingerprints AND not in the match set — an
    * equi-join, NO global sort, and an unbiased-enough u-sample for
    * calibration. Length closeness is an integer cross-multiply
    * (|la−lb|·10 ≤ min), no division.
    *
    * Exactness: all counts exact; m, u and both weights are single
    * fixed-order double chains with CASE guards on the 0/1
    * degeneracies (log of zero reports NULL, not ±inf noise).
    * Scale: one fingerprint shuffle (shared with q82's relation), one
    * successor equi-join, a 1-row aggregate, 3 output rows.
    */
  def linkageWeights(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val nfcText = graft.functions.NfcNormalize.nfcCol(col("text"))
    val base = docs.select(col("doc_id"), col("lang"), col("source"),
        col("n_chars"),
        md5(regexp_replace(trim(translate(nfcText, AsciiUpper, AsciiLower)),
          "\\s+", " ")).as("norm_fp"))
      .transform(graft.Iterate.cut) // three consumers: reps, matches, successors
    val bAttrs = base.select(col("doc_id").as("doc_b"),
      col("lang").as("lang_b"), col("source").as("source_b"),
      col("n_chars").as("len_b"))
    val matchPairs = minhashLshPairs(spark, dir)
      .select(col("doc_a"), col("doc_b")).transform(graft.Iterate.cut)
    val matches = matchPairs
      .join(base.withColumnRenamed("doc_id", "doc_a"), "doc_a")
      .join(bAttrs, "doc_b")
    val succ = base.as("a").join(
        base.select((col("doc_id") - 1).as("doc_id"),
          col("doc_id").as("doc_b"),
          col("lang").as("lang_b"), col("source").as("source_b"),
          col("n_chars").as("len_b"), col("norm_fp").as("fp_b")),
        Seq("doc_id"))
      .filter(col("norm_fp") =!= col("fp_b"))
      .join(matchPairs.withColumnRenamed("doc_a", "doc_id"),
        Seq("doc_id", "doc_b"), "left_anti")
    def agrees(df: DataFrame): (org.apache.spark.sql.Column,
        org.apache.spark.sql.Column, org.apache.spark.sql.Column) = (
      (col("lang") === col("lang_b")).cast("long"),
      (col("source") === col("source_b")).cast("long"),
      (abs(col("n_chars") - col("len_b")) * 10 <=
        least(col("n_chars"), col("len_b"))).cast("long"))
    val (ml, ms, mc) = agrees(matches)
    val mAgg = matches.agg(count(lit(1)).as("nm"),
      sum(ml).as("m_lang"), sum(ms).as("m_source"), sum(mc).as("m_len"))
    val (ul, us, uc) = agrees(succ)
    val uAgg = succ.agg(count(lit(1)).as("nu"),
      sum(ul).as("u_lang"), sum(us).as("u_source"), sum(uc).as("u_len"))
    val longForm = mAgg.crossJoin(uAgg).select(col("nm"), col("nu"),
      explode(array(
        struct(lit("len_close").as("feature"),
          col("m_len").as("cm"), col("u_len").as("cu")),
        struct(lit("same_lang").as("feature"),
          col("m_lang").as("cm"), col("u_lang").as("cu")),
        struct(lit("same_source").as("feature"),
          col("m_source").as("cm"), col("u_source").as("cu")))).as("x"))
      .select(col("x.feature").as("feature"), col("nm"), col("nu"),
        col("x.cm").as("cm"), col("x.cu").as("cu"))
    longForm.select(col("feature"),
        col("nm").as("n_match"), col("nu").as("n_nonmatch"),
        round(col("cm").cast("double") / col("nm"), 6).as("m_prob"),
        round(col("cu").cast("double") / col("nu"), 6).as("u_prob"),
        when(col("cm") > 0 && col("cu") > 0,
          round(log2((col("cm").cast("double") / col("nm")) /
            (col("cu").cast("double") / col("nu"))), 6)).as("w_agree"),
        when(col("cm") < col("nm") && col("cu") < col("nu"),
          round(log2((lit(1.0) - col("cm").cast("double") / col("nm")) /
            (lit(1.0) - col("cu").cast("double") / col("nu"))), 6))
          .as("w_disagree"))
      .orderBy(col("feature"))
  }

  val linkageWeightsSql: String =
    s"""WITH base AS (
       |  SELECT doc_id, lang, source, n_chars,
       |    md5(regexp_replace(trim(translate(nfc_normalize(text),
       |      '$AsciiUpper', '$AsciiLower')), '\\s+', ' ', 'g')) AS norm_fp
       |  FROM documents
       |), mh AS (
       |  $minhashLshPairsSql
       |), matches AS (
       |  SELECT a.lang, a.source, a.n_chars,
       |    b.lang AS lang_b, b.source AS source_b, b.n_chars AS len_b
       |  FROM mh
       |  JOIN base a ON a.doc_id = mh.doc_a
       |  JOIN base b ON b.doc_id = mh.doc_b
       |), succ AS (
       |  SELECT a.lang, a.source, a.n_chars,
       |    b.lang AS lang_b, b.source AS source_b, b.n_chars AS len_b
       |  FROM base a JOIN base b ON b.doc_id = a.doc_id + 1
       |  WHERE a.norm_fp <> b.norm_fp
       |    AND NOT EXISTS (SELECT 1 FROM mh
       |      WHERE mh.doc_a = a.doc_id AND mh.doc_b = b.doc_id)
       |), magg AS (
       |  SELECT COUNT(*) AS nm,
       |    SUM(CASE WHEN lang = lang_b THEN 1 ELSE 0 END) AS m_lang,
       |    SUM(CASE WHEN source = source_b THEN 1 ELSE 0 END) AS m_source,
       |    SUM(CASE WHEN abs(n_chars - len_b) * 10 <= least(n_chars, len_b)
       |      THEN 1 ELSE 0 END) AS m_len
       |  FROM matches
       |), uagg AS (
       |  SELECT COUNT(*) AS nu,
       |    SUM(CASE WHEN lang = lang_b THEN 1 ELSE 0 END) AS u_lang,
       |    SUM(CASE WHEN source = source_b THEN 1 ELSE 0 END) AS u_source,
       |    SUM(CASE WHEN abs(n_chars - len_b) * 10 <= least(n_chars, len_b)
       |      THEN 1 ELSE 0 END) AS u_len
       |  FROM succ
       |), lf AS (
       |  SELECT 'len_close' AS feature, nm, nu, m_len AS cm, u_len AS cu
       |    FROM magg, uagg
       |  UNION ALL
       |  SELECT 'same_lang', nm, nu, m_lang, u_lang FROM magg, uagg
       |  UNION ALL
       |  SELECT 'same_source', nm, nu, m_source, u_source FROM magg, uagg
       |)
       |SELECT feature,
       |  CAST(nm AS BIGINT) AS n_match, CAST(nu AS BIGINT) AS n_nonmatch,
       |  ROUND(CAST(cm AS DOUBLE) / nm, 6) AS m_prob,
       |  ROUND(CAST(cu AS DOUBLE) / nu, 6) AS u_prob,
       |  CASE WHEN cm > 0 AND cu > 0 THEN
       |    ROUND(log2((CAST(cm AS DOUBLE) / nm) / (CAST(cu AS DOUBLE) / nu)), 6)
       |  END AS w_agree,
       |  CASE WHEN cm < nm AND cu < nu THEN
       |    ROUND(log2((1.0 - CAST(cm AS DOUBLE) / nm)
       |      / (1.0 - CAST(cu AS DOUBLE) / nu)), 6)
       |  END AS w_disagree
       |FROM lf
       |ORDER BY feature""".stripMargin

  /** q300 — dedup consensus pairs: the four document-level near-dup
    * detector families (n-gram Jaccard q26, MinHash-LSH q27, SimHash
    * q28, winnowing q292) voted per PAIR — the actionable artifact
    * behind q272's agreement statistics. Pairs every family flags are
    * safe removals; single-detector pairs are the review queue; which
    * detector is the lone voter tells you whose threshold to move.
    * One relation, one decision table.
    *
    * Exactness: a tagged union of four already-graded pair relations
    * + one (pair, detector) aggregate — no new similarity arithmetic
    * anywhere. Scale: each input is candidate-bounded by its own
    * df-cap/band machinery; the union is pair-sized.
    */
  def dedupConsensus(spark: SparkSession, dir: String): DataFrame = {
    def tag(df: DataFrame, name: String): DataFrame =
      df.select(col("doc_a"), col("doc_b"), lit(name).as("det"))
    val dets = tag(jaccardPairs(spark, dir), "ngram")
      .unionByName(tag(minhashLshPairs(spark, dir), "minhash"))
      .unionByName(tag(simhashPairs(spark, dir), "simhash"))
      .unionByName(tag(winnowCandidates(spark, dir), "winnow"))
    dets.groupBy(col("doc_a"), col("doc_b"))
      .agg(
        max(when(col("det") === "ngram", 1).otherwise(0)).as("in_ngram"),
        max(when(col("det") === "minhash", 1).otherwise(0)).as("in_minhash"),
        max(when(col("det") === "simhash", 1).otherwise(0)).as("in_simhash"),
        max(when(col("det") === "winnow", 1).otherwise(0)).as("in_winnow"))
      .withColumn("n_detectors",
        (col("in_ngram") + col("in_minhash") + col("in_simhash") +
          col("in_winnow")).cast("int"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val dedupConsensusSql: String =
    s"""WITH ng_p AS (
       |  $ngramJaccardPairsSql
       |), mh_p AS (
       |  $minhashLshPairsSql
       |), sh_p AS (
       |  $simhashPairsSql
       |), wn_p AS (
       |  ${winnowCandidatesSql()}
       |), dets AS (
       |  SELECT doc_a, doc_b, 'ngram' AS det FROM ng_p
       |  UNION ALL SELECT doc_a, doc_b, 'minhash' FROM mh_p
       |  UNION ALL SELECT doc_a, doc_b, 'simhash' FROM sh_p
       |  UNION ALL SELECT doc_a, doc_b, 'winnow' FROM wn_p
       |)
       |SELECT doc_a, doc_b,
       |  MAX(CASE WHEN det = 'ngram' THEN 1 ELSE 0 END) AS in_ngram,
       |  MAX(CASE WHEN det = 'minhash' THEN 1 ELSE 0 END) AS in_minhash,
       |  MAX(CASE WHEN det = 'simhash' THEN 1 ELSE 0 END) AS in_simhash,
       |  MAX(CASE WHEN det = 'winnow' THEN 1 ELSE 0 END) AS in_winnow,
       |  CAST(MAX(CASE WHEN det = 'ngram' THEN 1 ELSE 0 END)
       |    + MAX(CASE WHEN det = 'minhash' THEN 1 ELSE 0 END)
       |    + MAX(CASE WHEN det = 'simhash' THEN 1 ELSE 0 END)
       |    + MAX(CASE WHEN det = 'winnow' THEN 1 ELSE 0 END) AS INT)
       |    AS n_detectors
       |FROM dets GROUP BY 1, 2
       |ORDER BY doc_a, doc_b""".stripMargin

  /** q292 — winnowed fingerprint candidates (Schleimer–Wilkerson–
    * Aiken winnowing, the MOSS scheme): per document, hash every
    * word-`k`-gram in order, slide a `w`-hash window and keep each
    * window's MINIMUM — the selected set is a tiny position-robust
    * fingerprint with the paper's guarantee: any shared token run of
    * length ≥ w + k − 1 contributes a full common window, whose min
    * both documents select, so the pair ALWAYS surfaces (spec-pinned
    * on crafted docs). Complements q26 (whole-doc Jaccard — dilutes
    * local overlap in long docs) and q65 (fixed-stride spans — stride
    * alignment can split a copied run); winnowing detects local
    * copies regardless of alignment at ~2/(w+1) the gram storage.
    *
    * Docs shorter than w+k−1 tokens fall back to their single global
    * min-hash (one truncated window), so short duplicates still pair.
    *
    * Scale: fingerprint selection is one narrow codegen map (the
    * window mins are a bounded HOF over the per-row gram array — no
    * explode of unselected grams, no shuffle); the candidate join is
    * the q26 discipline — inverted index on selected fingerprints
    * with a df-cap so no hot fingerprint fans out quadratically.
    */
  def winnowCandidates(spark: SparkSession, dir: String, k: Int = 4,
                       w: Int = 5, dfCap: Int = 50,
                       minShared: Int = 2): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val grams = docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= k)
      .select(col("doc_id"),
        transform(graft.functions.WordNGrams.ngrams(col("toks"), k),
          g => PortableHash.md5Long32(g)).as("gh"))
    val fps = grams.select(col("doc_id"),
        explode(array_distinct(transform(
          sequence(lit(0), greatest(size(col("gh")) - w, lit(0))),
          i => array_min(slice(col("gh"), i + lit(1), lit(w))))))
          .as("fp"))
      .transform(graft.Iterate.cut) // df aggregate + join-back read one explode
    val rare = fps.groupBy(col("fp")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= dfCap).select("fp")
    val kept = fps.join(rare, "fp").transform(graft.Iterate.cut)
    kept.as("a").join(kept.as("b"), "fp")
      .filter(col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  def winnowCandidatesSql(k: Int = 4, w: Int = 5, dfCap: Int = 50,
                          minShared: Int = 2): String =
    s"""WITH toks AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(lower(text), '\\s+'),
       |      t -> t <> '') AS tk
       |  FROM documents
       |), g AS (
       |  SELECT doc_id,
       |    [CAST(('0x' || substr(md5(array_to_string(tk[i:i+${k - 1}], ' ')),
       |      1, 8)) AS BIGINT) for i in range(1, len(tk) - ${k - 2})] AS gh
       |  FROM toks WHERE len(tk) >= $k
       |), f AS (
       |  SELECT doc_id, unnest(list_distinct(
       |    [list_min(gh[i:i+${w - 1}])
       |     for i in range(1, greatest(len(gh) - $w, 0) + 2)])) AS fp
       |  FROM g
       |), capped AS (
       |  SELECT fp FROM f GROUP BY fp HAVING COUNT(*) <= $dfCap
       |), kept AS (
       |  SELECT f.doc_id, f.fp FROM f JOIN capped USING (fp)
       |)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  CAST(COUNT(*) AS BIGINT) AS n_shared
       |FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |GROUP BY 1, 2 HAVING COUNT(*) >= $minShared
       |ORDER BY doc_a, doc_b""".stripMargin

  /** q410 — LSH S-curve calibration: the q26 true near-dup pairs
    * bucketed by Jaccard (0.05-wide bins over the graded [0.6, 1]
    * region), each bin's OBSERVED q27 MinHash-LSH catch rate beside
    * the THEORETICAL band-collision probability 1 − (1 − s^r)^b at
    * the bin midpoint — the table that says whether the deployed
    * (b = 8, r = 3) banding actually delivers its textbook recall
    * curve on THIS corpus (estimator bias from the df-cap, shingle
    * correlation, or short docs shows up as observed ≠ theory in a
    * specific bin, which no aggregate recall number localizes). The
    * FP region below the graded threshold is out of scope — both
    * input relations are the graded ones, verbatim (the q300
    * composition rule).
    *
    * Exactness: buckets cut on INTEGER micro-Jaccard (6dp scores ×1e6
    * — a double bin expression flips at bin edges); counts are
    * integers; theory and recall are single rounded chains (pow's
    * last-ulp absorbed by the 6dp output round).
    *
    * Scale: the two inputs' own (graded, candidate-bounded) costs +
    * a pair-sized join and an 8-row aggregate.
    */
  def lshSCurve(spark: SparkSession, dir: String, bands: Int = 8,
                rows: Int = 3): DataFrame = {
    val truePairs = jaccardPairs(spark, dir)
    val caught = minhashLshPairs(spark, dir)
      .select(col("doc_a"), col("doc_b"), lit(1L).as("caught"))
    val binned = truePairs
      .join(caught, Seq("doc_a", "doc_b"), "left")
      .withColumn("j_micro",
        round(col("jaccard") * 1000000, 0).cast("long"))
      .withColumn("bucket",
        least(expr("(j_micro - 600000) div 50000"), lit(7L)).cast("int"))
    binned.groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_true"),
        sum(coalesce(col("caught"), lit(0L))).as("n_caught"))
      .withColumn("s_mid",
        (col("bucket") * 50000 + 625000).cast("double") / 1000000)
      .select(col("bucket"),
        round(col("s_mid"), 6).as("s_mid"),
        col("n_true"), col("n_caught"),
        round(col("n_caught").cast("double") /
          col("n_true").cast("double"), 6).as("observed_recall"),
        round(lit(1.0) - pow(lit(1.0) - pow(col("s_mid"),
          rows.toDouble), bands.toDouble), 6).as("theory_collide"))
      .orderBy(col("bucket"))
  }

  def lshSCurveSql(bands: Int = 8, rows: Int = 3): String =
    s"""WITH true_p AS (
       |  $ngramJaccardPairsSql
       |), caught_p AS (
       |  $minhashLshPairsSql
       |), binned AS (
       |  SELECT LEAST((CAST(ROUND(t.jaccard * 1000000, 0) AS BIGINT)
       |      - 600000) // 50000, 7) AS bucket,
       |    CASE WHEN c.doc_a IS NULL THEN 0 ELSE 1 END AS caught
       |  FROM true_p t
       |  LEFT JOIN caught_p c ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b
       |)
       |SELECT CAST(bucket AS INT) AS bucket,
       |  ROUND(CAST(bucket * 50000 + 625000 AS DOUBLE) / 1000000, 6)
       |    AS s_mid,
       |  CAST(COUNT(*) AS BIGINT) AS n_true,
       |  CAST(SUM(caught) AS BIGINT) AS n_caught,
       |  ROUND(CAST(SUM(caught) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
       |    AS observed_recall,
       |  ROUND(1.0 - POWER(1.0 - POWER(
       |    CAST(bucket * 50000 + 625000 AS DOUBLE) / 1000000,
       |    ${rows.toDouble}), ${bands.toDouble}), 6) AS theory_collide
       |FROM binned
       |GROUP BY bucket
       |ORDER BY bucket""".stripMargin

  /** q498 — greedy max-coverage source selection: pick sources one at
    * a time, each round taking the source that adds the most
    * NOT-YET-COVERED distinct shingles — the classic (1 − 1/e)
    * submodular-maximization greedy, at feed grain. q110 measures
    * pairwise overlap and q331 ablates one source at a time; this is
    * the SELECTION policy those diagnostics feed: "which `rounds`
    * feeds buy the most distinct corpus content", with each pick's
    * marginal gain and the cumulative coverage share as the yield
    * curve. Ties and zero-gain picks are deterministic (gain desc,
    * source asc; remaining sources with no new shingles still get
    * picked with gain 0).
    *
    * Exactness: pure distinct-count set algebra on the q110
    * (source, shingle) frame — every number is an exact BIGINT; the
    * only division is the final coverage share.
    *
    * Scale: the corpus-sized work is ONE (source, shingle) distinct
    * (cut once; the q110 shuffle); each greedy round is a
    * shingle-keyed anti-join against the covered set plus a
    * |sources|-row aggregate — rounds are a stated constant, and the
    * covered set is bounded by the distinct-shingle universe, never
    * by corpus rows. The greedy is inherently sequential; its
    * per-round cost is one linear pass, the textbook trade for the
    * (1 − 1/e) guarantee.
    */
  def maxCoverageSources(spark: SparkSession, dir: String,
                         k: Int = 3, rounds: Int = 4): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val sf = shingles(docs, k)
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
      .select(col("source"), col("shingle")).distinct()
      .transform(graft.Iterate.cut)
    val total = sf.select(col("shingle")).distinct().count()
    val allSources = sf.select(col("source")).distinct()
    var picked = Vector.empty[(Int, String, Long)] // (round, source, gain)
    var covered: DataFrame = null
    var remaining = allSources
    for (r <- 1 to rounds) {
      val cand = sf.join(remaining, Seq("source"), "left_semi")
      val fresh = if (covered == null) cand
        else cand.join(covered, Seq("shingle"), "left_anti")
      val gains = remaining.join(
          fresh.groupBy(col("source")).agg(count(lit(1)).as("gain")),
          Seq("source"), "left")
        .select(col("source"), coalesce(col("gain"), lit(0L)).as("gain"))
      val top = gains.orderBy(col("gain").desc, col("source")).limit(1)
        .collect() // 1 row: the greedy argmax — metadata-sized by design
      if (top.nonEmpty) {
        val src = top(0).getString(0); val g = top(0).getLong(1)
        picked = picked :+ ((r, src, g))
        val newCov = sf.filter(col("source") === src).select(col("shingle"))
        covered = graft.Iterate.cut(if (covered == null) newCov
          else covered.unionByName(newCov).distinct())
        remaining = remaining.filter(col("source") =!= src)
      }
    }
    import spark.implicits._
    val cum = picked.scanLeft(0L)(_ + _._3).tail
    picked.zip(cum).map { case ((r, s, g), c) => (r, s, g, c, total) }
      .toDF("pick_round", "source", "gain", "cum_covered", "total_shingles")
      .withColumn("cum_share", round(col("cum_covered").cast("double") /
        col("total_shingles").cast("double"), 6))
      .orderBy(col("pick_round"))
  }

  def maxCoverageSourcesSql(k: Int = 3, rounds: Int = 4): String = {
    val sh0 =
      s"""${sourceShinglesCtes(k)}, srcs AS (
         |  SELECT DISTINCT source FROM sf
         |), tot AS (
         |  SELECT COUNT(DISTINCT shingle) AS total FROM sf
         |)""".stripMargin
    val roundCtes = (1 to rounds).map { r =>
      val notPicked = (1 until r).map(i =>
        s"source <> (SELECT source FROM p$i)").mkString(" AND ")
      val remaining = if (r == 1) "srcs" else s"(SELECT source FROM srcs WHERE $notPicked)"
      val freshCond = if (r == 1) ""
        else s" AND NOT EXISTS (SELECT 1 FROM cov${r - 1} c WHERE c.shingle = s.shingle)"
      val gains =
        s"""g$r AS (
           |  SELECT rem.source, COALESCE(f.gain, 0) AS gain
           |  FROM $remaining rem LEFT JOIN (
           |    SELECT s.source, COUNT(*) AS gain FROM sf s
           |    WHERE 1=1$freshCond
           |    GROUP BY 1
           |  ) f ON f.source = rem.source
           |), p$r AS (
           |  SELECT source, gain FROM g$r ORDER BY gain DESC, source LIMIT 1
           |)""".stripMargin
      val cov =
        if (r < rounds) {
          val prev = if (r == 1) ""
            else s"SELECT shingle FROM cov${r - 1} UNION "
          s""", cov$r AS (
             |  ${prev}SELECT DISTINCT shingle FROM sf
             |    WHERE source = (SELECT source FROM p$r)
             |)""".stripMargin
        } else ""
      gains + cov
    }.mkString(", ")
    val unions = (1 to rounds).map(r =>
      s"SELECT $r AS pick_round, source, CAST(gain AS BIGINT) AS gain FROM p$r")
      .mkString("\n  UNION ALL ")
    s"""WITH $sh0, $roundCtes,
       |picks AS (
       |  $unions
       |)
       |SELECT pick_round, source, gain,
       |  CAST(SUM(gain) OVER (ORDER BY pick_round) AS BIGINT) AS cum_covered,
       |  (SELECT total FROM tot) AS total_shingles,
       |  ROUND(CAST(SUM(gain) OVER (ORDER BY pick_round) AS DOUBLE)
       |    / CAST((SELECT total FROM tot) AS DOUBLE), 6) AS cum_share
       |FROM picks ORDER BY pick_round""".stripMargin
  }

  /** q510 — one-permutation hashing (OPH) audit with rotation
    * densification (Li/Owen/Zhang 2012; Shrivastava–Li 2014): ONE
    * hash per shingle split into K bins (bin = h mod K, min-h per
    * bin), empty bins filled by rotating to the next non-empty bin
    * with an offset-scaled fill value — the sketch that costs 1/K of
    * classic K-hash MinHash (q27/q112) per element, i.e. THE
    * production MinHash at 100 TB. Audited per true near-dup pair
    * (the q26 relation at a stated lower threshold): matched-bin
    * estimate beside exact Jaccard, absolute error, and each side's
    * empty-bin count — so densification correctness (the part naive
    * OPH implementations get wrong and then over-merge short docs) is
    * continuously graded.
    *
    * Exactness: hashes are the portable md5 32-bit word; bins,
    * rotations and fill values (m + j·C with C > 2³² so distinct
    * (m, j) can never collide) are exact integers; the only doubles
    * are the final estimate and error, rounded once.
    *
    * Scale: signatures are one (doc, bin) aggregate + a K·2-slot
    * per-doc window over doc-cardinality rows; pair evaluation joins
    * K rows per candidate pair — candidate-bounded, never all-pairs.
    */
  def ophEstimateAudit(spark: SparkSession, dir: String, k: Int = 3,
                       bins: Int = 16, threshold: Double = 0.25,
                       dfCap: Int = 200): DataFrame = {
    val fillC = 4294967311L // prime > 2^32: (m, j) -> m + j*C is injective
    val docs = Tables.load(spark, dir, "documents")
    val kept = keptShingles(docs, k, dfCap)
    val sizes = kept.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val pairs = kept.as("a").join(kept.as("b"), "shingle")
      .filter(col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .join(sizes.select(col("doc_id").as("doc_a"), col("n_sh").as("n_a")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n_sh").as("n_b")), "doc_b")
      .withColumn("jac", col("n_shared").cast("double") /
        (col("n_a") + col("n_b") - col("n_shared")).cast("double"))
      .filter(col("jac") >= threshold)
    val hx = kept.select(col("doc_id"),
        graft.functions.PortableHash.md5Long32(col("shingle")).as("h"))
      .withColumn("bin", pmod(col("h"), lit(bins.toLong)))
    val binMin = hx.groupBy(col("doc_id"), col("bin")).agg(min(col("h")).as("m"))
    val slots = binMin.select(col("doc_id")).distinct()
      .select(col("doc_id"), explode(sequence(lit(0), lit(2 * bins - 1))).as("s"))
      .withColumn("bin", pmod(col("s"), lit(bins)).cast("long"))
      .join(binMin, Seq("doc_id", "bin"), "left")
    val wFwd = Window.partitionBy(col("doc_id")).orderBy(col("s"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val sig = slots
      .withColumn("fill_m", first(col("m"), ignoreNulls = true).over(wFwd))
      .withColumn("fill_s",
        first(when(col("m").isNotNull, col("s")), ignoreNulls = true).over(wFwd))
      .filter(col("s") < bins)
      .select(col("doc_id"), col("s").as("slot"),
        (col("fill_m") + (col("fill_s") - col("s")) * lit(fillC)).as("dens"),
        col("m").isNull.cast("long").as("was_empty"))
      .transform(graft.Iterate.cut)
    val empties = sig.groupBy(col("doc_id")).agg(sum(col("was_empty")).as("n_empty"))
    pairs
      .join(sig.select(col("doc_id").as("doc_a"), col("slot"),
        col("dens").as("da")), "doc_a")
      .join(sig.select(col("doc_id").as("doc_b"), col("slot").as("slot"),
        col("dens").as("db")), Seq("doc_b", "slot"))
      .groupBy(col("doc_a"), col("doc_b"), col("n_shared"), col("jac"))
      .agg(sum((col("da") === col("db")).cast("long")).as("n_match"))
      .join(empties.select(col("doc_id").as("doc_a"), col("n_empty").as("empty_a")), "doc_a")
      .join(empties.select(col("doc_id").as("doc_b"), col("n_empty").as("empty_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("n_shared"),
        round(col("jac"), 6).as("jaccard"),
        col("n_match"), col("empty_a"), col("empty_b"),
        round(col("n_match").cast("double") / lit(bins.toDouble), 6)
          .as("est_oph"),
        round(abs(col("n_match").cast("double") / lit(bins.toDouble)
          - col("jac")), 6).as("abs_err"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  def ophEstimateAuditSql(k: Int = 3, bins: Int = 16,
                          threshold: Double = 0.25,
                          dfCap: Int = 200): String =
    s"""WITH $shingleCtes, sizes AS (
       |  SELECT doc_id, COUNT(*) AS n_sh FROM kept GROUP BY 1
       |), pairs AS (
       |  SELECT doc_a, doc_b, n_shared,
       |    CAST(n_shared AS DOUBLE) / CAST(n_a + n_b - n_shared AS DOUBLE) AS jac
       |  FROM (
       |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |      CAST(COUNT(*) AS BIGINT) AS n_shared,
       |      MAX(sa.n_sh) AS n_a, MAX(sb.n_sh) AS n_b
       |    FROM kept a
       |    JOIN kept b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |    JOIN sizes sa ON sa.doc_id = a.doc_id
       |    JOIN sizes sb ON sb.doc_id = b.doc_id
       |    GROUP BY 1, 2
       |  )
       |  WHERE CAST(n_shared AS DOUBLE) / CAST(n_a + n_b - n_shared AS DOUBLE)
       |    >= $threshold
       |), hx AS (
       |  SELECT doc_id,
       |    CAST(('0x' || substr(md5(shingle), 1, 8)) AS BIGINT) AS h
       |  FROM kept
       |), bin_min AS (
       |  SELECT doc_id, h % $bins AS bin, MIN(h) AS m
       |  FROM hx GROUP BY 1, 2
       |), slots AS (
       |  SELECT d.doc_id, s.s, s.s % $bins AS bin
       |  FROM (SELECT DISTINCT doc_id FROM bin_min) d,
       |    (SELECT unnest(generate_series(0, ${2 * bins - 1})) AS s) s
       |), filled AS (
       |  SELECT sl.doc_id, sl.s, bm.m,
       |    first_value(bm.m IGNORE NULLS) OVER w AS fill_m,
       |    first_value(CASE WHEN bm.m IS NOT NULL THEN sl.s END IGNORE NULLS)
       |      OVER w AS fill_s
       |  FROM slots sl LEFT JOIN bin_min bm
       |    ON bm.doc_id = sl.doc_id AND bm.bin = sl.bin
       |  WINDOW w AS (PARTITION BY sl.doc_id ORDER BY sl.s
       |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
       |), sig AS (
       |  SELECT doc_id, s AS slot,
       |    fill_m + (fill_s - s) * 4294967311 AS dens,
       |    CASE WHEN m IS NULL THEN 1 ELSE 0 END AS was_empty
       |  FROM filled WHERE s < $bins
       |), empties AS (
       |  SELECT doc_id, CAST(SUM(was_empty) AS BIGINT) AS n_empty
       |  FROM sig GROUP BY 1
       |), matched AS (
       |  SELECT p.doc_a, p.doc_b, p.n_shared, p.jac,
       |    CAST(SUM(CASE WHEN sa.dens = sb.dens THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_match
       |  FROM pairs p
       |  JOIN sig sa ON sa.doc_id = p.doc_a
       |  JOIN sig sb ON sb.doc_id = p.doc_b AND sb.slot = sa.slot
       |  GROUP BY 1, 2, 3, 4
       |)
       |SELECT m.doc_a, m.doc_b, m.n_shared,
       |  ROUND(m.jac, 6) AS jaccard,
       |  m.n_match, ea.n_empty AS empty_a, eb.n_empty AS empty_b,
       |  ROUND(CAST(m.n_match AS DOUBLE) / $bins.0, 6) AS est_oph,
       |  ROUND(ABS(CAST(m.n_match AS DOUBLE) / $bins.0 - m.jac), 6) AS abs_err
       |FROM matched m
       |JOIN empties ea ON ea.doc_id = m.doc_a
       |JOIN empties eb ON eb.doc_id = m.doc_b
       |ORDER BY m.doc_a, m.doc_b""".stripMargin

}
