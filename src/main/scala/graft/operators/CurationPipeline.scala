package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFunctions

/** The operators composed into one end-to-end curation run — the
  * full pretraining-data flow a user of this engine would build from
  * the pieces (each individually oracle-checked):
  *
  *   documents
  *     → near-dup clustering (q38's fixpoint): keep cluster canonicals
  *     → boilerplate gate (q55's repetition signals): drop
  *       duplicate-token/duplicate-bigram outliers
  *     → quality gate (q23's score): drop the low-quality tail
  *     → decontamination screen (q61's core): drop docs overlapping
  *       the held-out eval split
  *     → PII scrub (q57's redaction): clean text + audit count
  *     → per-source cap (q52's top-k): bound any one source's share
  *     → sequence packing (q53): token-budget placement over the
  *       SCRUBBED text (the tokens that actually ship)
  *
  * One DataFrame chain, one action at the end. Operator-internal
  * checkpoints (dedup's shingle/pair tables) stay scoped to their
  * operator — CurationPipelineSpec asserts the composed run leaves no
  * CacheManager entries and is rerun-deterministic, the "composed into
  * longer pipelines" lifecycle concern from round-1 review.
  *
  * Scale shape: every stage is shuffle-by-key or a narrow map; the
  * only driver scalars are dedup's convergence probes.
  */
object CurationPipeline {

  def curateCorpus(spark: SparkSession, dir: String,
                   minQuality: Double = 0.5, perSource: Int = 50,
                   budget: Int = 2048, nBuckets: Int = 32,
                   maxDupTokenFrac: Double = 0.95, evalPct: Int = 2,
                   minShared: Int = 3): DataFrame =
    stageFrames(spark, dir, minQuality, perSource, budget, nBuckets,
      maxDupTokenFrac, evalPct, minShared).last._2
      .select(col("doc_id"), col("source"), col("lang"), col("quality"),
        col("n_redactions"), col("n_tokens"), col("bucket"), col("seq_id"),
        col("seq_offset"))
      .orderBy(col("doc_id"))

  /** The pipeline's named intermediate frames, in order — the SINGLE
    * construction both [[curateCorpus]] (which ships the last frame)
    * and the q417 stage ledger consume, so the ledger cannot drift
    * from the pipeline it observes. */
  private[operators] def stageFrames(spark: SparkSession, dir: String,
      minQuality: Double = 0.5, perSource: Int = 50,
      budget: Int = 2048, nBuckets: Int = 32,
      maxDupTokenFrac: Double = 0.95, evalPct: Int = 2,
      minShared: Int = 3): Seq[(String, DataFrame)] = {
    val docs = Tables.load(spark, dir, "documents")

    // 1. near-dup clustering: canonical representatives only
    val canon = Dedup.clusterMembers(spark, dir)
      .filter(col("doc_id") === col("rep_id"))
      .select(col("doc_id"))
    val deduped = docs.join(canon, Seq("doc_id"), "left_semi")

    // 2. boilerplate gate — q55's core: drop duplicate-token outliers
    // (NULL fractions = <2-token docs: keep, nothing to judge)
    val repetitive = TextAnalysis.repetitionSignalsCore(deduped)
      .filter(col("dup_token_frac") > maxDupTokenFrac)
      .select(col("doc_id"))
    val varied = deduped.join(repetitive, Seq("doc_id"), "left_anti")

    // 3. quality gate
    val scored = varied.select(col("doc_id"), col("source"), col("lang"),
        col("text"), TextFunctions.qualityScore(col("text")).as("quality"))
      .filter(col("quality") >= minQuality)

    // 4. decontamination screen — q61's core against the held-out
    // eval hash split (stand-in for the benchmark suite)
    val evalDocs = docs.filter(
      graft.functions.PortableHash.md5Long32(col("doc_id")) % 100 < evalPct)
    val contaminated = Dedup.decontaminationCore(scored, evalDocs, minShared)
      .select(col("doc_id"))
    val clean = scored.join(contaminated, Seq("doc_id"), "left_anti")
      // eval docs themselves never ship as training data
      .join(evalDocs.select(col("doc_id")), Seq("doc_id"), "left_anti")

    // 5. PII scrub: the packed corpus carries the clean copy
    val redacted = Pii.redactDocs(clean)

    // 6. per-source cap — q52's core over the composed frame
    val capped = Curation.topKPerSourceCore(redacted, perSource, rankCol = "src_rank")

    // 7. token-budget sequence placement — q53's core, counting the
    // SCRUBBED text's tokens (what actually ships)
    val withTokens = capped.select(col("doc_id"), col("source"), col("lang"),
      col("quality"), col("n_redactions"),
      TextFunctions.tokenCount(col("text")).as("n_tokens"))
    val packed = Curation.sequencePackCore(withTokens, budget, nBuckets)
    Seq(
      "0_input" -> docs,
      "1_dedup" -> deduped,
      "2_repetition" -> varied,
      "3_quality" -> scored,
      "4_decontaminated" -> clean,
      "5_redacted" -> redacted,
      "6_capped" -> capped,
      "7_packed" -> packed)
  }

  /** q417 — pipeline stage ledger: one row per q63 stage with rows
    * surviving, rows dropped from the previous stage, and the drop
    * share — the observability layer every production curation run
    * logs ("the quality gate suddenly dropped 40%" is an incident;
    * without the ledger it's an invisible training-mix shift). Built
    * on the SAME frame construction q63 grades, so the ledger and
    * the pipeline cannot disagree; count-preserving stages (redact,
    * pack) show zero drops by construction, which is itself a graded
    * invariant.
    *
    * Exactness: integer counts + single rounded divisions. Scale:
    * one count aggregate per stage over the shared lazy frames —
    * Spark reuses the common stage prefixes across the counts.
    */
  def pipelineLedger(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val frames = stageFrames(spark, dir)
    val counts = frames.map { case (name, df) =>
      df.agg(lit(name).as("stage"), count(lit(1)).as("rows_out"))
    }.reduce(_ unionByName _)
    val w = Window.partitionBy(lit(1)).orderBy(col("stage"))
    counts
      .withColumn("rows_in", lag(col("rows_out"), 1).over(w))
      .withColumn("dropped", col("rows_in") - col("rows_out"))
      .select(col("stage"), col("rows_out"), col("rows_in"),
        col("dropped"),
        round(col("dropped").cast("double") /
          nullif(col("rows_in").cast("double"), lit(0.0)), 6)
          .as("drop_share"))
      .orderBy(col("stage"))
  }

  /** q63 — the WHOLE pipeline as one DuckDB oracle: every stage's
    * proven twin composed in order (recursive-CTE dedup from q38,
    * per-row repetition gate from q55, the q23 quality expression, the
    * q61 trigram screen, q57's redaction regex, q52's windowed cap,
    * q53's bucketed packing). Hash-exact end-to-end means the stages
    * compose without semantic drift — the strongest correctness
    * statement this engine makes.
    */
  /** The shared CTE chain both the q63 final and the q417 ledger
    * oracle state — one construction, two finals (mirrors
    * [[stageFrames]]). */
  private val pipelineCtesSql: String = {
    val toks = "list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '')"
    val tri = "unnest([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] " +
      "for i in range(1, len(toks) - 1)]) AS g"
    val md5b = "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)"
    s"""canon AS (
      |  SELECT doc_id FROM (${Dedup.dedupClustersSql}) WHERE is_canonical = 1
      |), base AS (
      |  SELECT d.doc_id, d.source, d.lang, d.text, $toks AS toks
      |  FROM documents d JOIN canon USING (doc_id)
      |), varied AS (
      |  SELECT * FROM base
      |  WHERE (ROUND(1.0 - CAST(len(list_distinct(toks)) AS DOUBLE)
      |           / NULLIF(len(toks), 0), 6) > 0.95) IS NOT TRUE
      |), scored AS (
      |  SELECT doc_id, source, lang, text, toks,
      |    ${TextAnalysis.qualityExprSql} AS quality
      |  FROM varied
      |  WHERE ${TextAnalysis.qualityExprSql} >= 0.5
      |), evaldocs AS (
      |  SELECT doc_id, $toks AS toks FROM documents WHERE $md5b % 100 < 2
      |), evtri0 AS (
      |  SELECT $tri FROM evaldocs WHERE len(toks) >= 3
      |), evtri AS (SELECT DISTINCT g FROM evtri0
      |), cotri0 AS (
      |  SELECT doc_id, $tri FROM scored WHERE len(toks) >= 3
      |), cotri AS (SELECT DISTINCT doc_id, g FROM cotri0
      |), contaminated AS (
      |  SELECT doc_id FROM cotri JOIN evtri USING (g)
      |  GROUP BY doc_id HAVING COUNT(*) >= 3
      |), clean AS (
      |  SELECT * FROM scored
      |  WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
      |    AND doc_id NOT IN (SELECT doc_id FROM evaldocs)
      |), redacted AS (
      |  SELECT doc_id, source, lang, quality,
      |    CAST(len(regexp_extract_all(text, '[0-9]{4,}')) AS BIGINT) AS n_redactions,
      |    regexp_replace(text, '[0-9]{4,}', '[ID]', 'g') AS rtext
      |  FROM clean
      |), capped AS (
      |  SELECT * FROM (
      |    SELECT r.*, row_number() OVER (PARTITION BY source
      |      ORDER BY quality DESC, doc_id) AS src_rank
      |    FROM redacted r
      |  ) WHERE src_rank <= 50
      |), witht AS (
      |  SELECT doc_id, source, lang, quality, n_redactions,
      |    len(list_filter(string_split_regex(lower(rtext), '\\s+'), t -> t <> ''))
      |      AS n_tokens,
      |    $md5b % 32 AS bucket
      |  FROM capped
      |), packed AS (
      |  SELECT *, CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY bucket
      |    ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |    AS BIGINT) AS cum_before
      |  FROM witht
      |)""".stripMargin
  }

  val curateCorpusSql: String =
    s"""WITH $pipelineCtesSql
      |SELECT doc_id, source, lang, quality, n_redactions, n_tokens, bucket,
      |  cum_before // 2048 AS seq_id, cum_before % 2048 AS seq_offset
      |FROM packed ORDER BY doc_id""".stripMargin

  val pipelineLedgerSql: String = {
    val stages = Seq(
      ("0_input", "documents"), ("1_dedup", "base"),
      ("2_repetition", "varied"), ("3_quality", "scored"),
      ("4_decontaminated", "clean"), ("5_redacted", "redacted"),
      ("6_capped", "capped"), ("7_packed", "packed"))
    val unions = stages.map { case (name, cte) =>
      s"SELECT '$name' AS stage, CAST(COUNT(*) AS BIGINT) AS rows_out FROM $cte"
    }.mkString("\nUNION ALL\n")
    s"""WITH $pipelineCtesSql, counts AS (
      |$unions
      |)
      |SELECT stage, rows_out,
      |  lag(rows_out) OVER (ORDER BY stage) AS rows_in,
      |  lag(rows_out) OVER (ORDER BY stage) - rows_out AS dropped,
      |  ROUND(CAST(lag(rows_out) OVER (ORDER BY stage) - rows_out
      |      AS DOUBLE)
      |    / NULLIF(CAST(lag(rows_out) OVER (ORDER BY stage) AS DOUBLE),
      |      0.0), 6) AS drop_share
      |FROM counts
      |ORDER BY stage""".stripMargin
  }
}
