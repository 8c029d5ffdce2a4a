package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Data-curation operators over `documents` (north-star: the
  * selection/inspection passes of a training-data pipeline): exact
  * group quantiles, deterministic hash sampling, stratified sampling.
  *
  * Sampling uses a cross-engine deterministic hash (first 8 md5 hex
  * digits as a long) — never rand(): reruns and retried tasks must
  * select identical rows (same reason the reference's pipelines are
  * idempotent via ON CONFLICT, lib.ts:90-92).
  */
object Curation {

  /** Deterministic per-row hash in [0, 2^32): portable across engines
    * (DuckDB: CAST('0x'||substr(md5(x),1,8) AS BIGINT)). One
    * definition for the whole engine — delegates to [[PortableHash]].
    */
  def md5Bucket(c: Column): Column = graft.functions.PortableHash.md5Long32(c)

  /** q42 — exact per-group quantiles by rank selection (no
    * percentile interpolation: interpolation semantics differ across
    * engines, rank selection is bit-exact). Integer rank arithmetic:
    * median = rank (n+1) div 2, p90 = rank ceil(9n/10).
    * Scale: one shuffle on the group key; the per-group sort is the
    * window — for heavy groups this is the sort-based variant of
    * approx_percentile, chosen here for oracle exactness.
    */
  def lengthQuantiles(spark: SparkSession, dir: String,
                      mode: graft.ScaleMode = graft.ScaleMode.Exact): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    // the ONLY exact↔sketch difference: quantile strategy — per-group
    // rank selection (exact, needs the per-group sort) vs the
    // mergeable approx_percentile sketch (partial+final only, the
    // 100 TB plan). Shared load and output shape.
    val quantiled = mode match {
      case graft.ScaleMode.Exact =>
        val w = Window.partitionBy(col("lang")).orderBy(col("n_chars"), col("doc_id"))
        docs
          .withColumn("rn", row_number().over(w))
          .withColumn("n", count(lit(1)).over(Window.partitionBy(col("lang"))))
          .groupBy(col("lang"))
          .agg(
            max(col("n")).as("n_docs"),
            // integer div (Column./ is double division — a fractional
            // rank would match nothing and null the quantile)
            max(when(col("rn") === expr("(n + 1) div 2"), col("n_chars"))).as("median_chars"),
            max(when(col("rn") === expr("(n * 9 + 9) div 10"), col("n_chars"))).as("p90_chars"))
      case graft.ScaleMode.Sketch =>
        docs.groupBy(col("lang"))
          .agg(
            count(lit(1)).as("n_docs"),
            percentile_approx(col("n_chars"), lit(0.5), lit(10000)).as("median_chars"),
            percentile_approx(col("n_chars"), lit(0.9), lit(10000)).as("p90_chars"))
    }
    quantiled.orderBy(col("lang"))
  }

  val lengthQuantilesSql: String =
    """WITH ranked AS (
      |  SELECT lang, n_chars,
      |    row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rn,
      |    COUNT(*) OVER (PARTITION BY lang) AS n
      |  FROM documents
      |)
      |SELECT lang, MAX(n) AS n_docs,
      |  MAX(CASE WHEN rn = (n + 1) // 2 THEN n_chars END) AS median_chars,
      |  MAX(CASE WHEN rn = (n * 9 + 9) // 10 THEN n_chars END) AS p90_chars
      |FROM ranked GROUP BY lang ORDER BY lang""".stripMargin

  /** The 100 TB form of [[lengthQuantiles]] (benched as x01):
    * [[graft.ScaleMode.Sketch]] — one-pass mergeable quantile sketch,
    * no per-group sort. Not oracle-registered (sketch interpolation
    * differs across engines); the spec suite bounds its error against
    * the exact form.
    */
  def lengthQuantilesApprox(spark: SparkSession, dir: String): DataFrame =
    lengthQuantiles(spark, dir, graft.ScaleMode.Sketch)

  /** q60 — histogram (equi-width bin) quantiles: the deterministic
    * 100 TB scale path for [[lengthQuantiles]]. Bin every length into
    * `binWidth`-wide buckets, partial+final count per (lang, bin) —
    * map-side combinable, bounded state (maxLen/binWidth bins per
    * group), NO per-group row sort — then pick the bin containing the
    * target rank and report its inclusive upper bound. Unlike the
    * `approx_percentile` sketch ([[lengthQuantilesApprox]], whose
    * interpolation is engine-specific), this is pure integer
    * arithmetic, so DuckDB states the identical answer — an
    * oracle-exact approximate quantile. Error is bounded by binWidth.
    */
  def lengthQuantilesHist(spark: SparkSession, dir: String,
                          binWidth: Int = 64): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val bins = docs
      .groupBy(col("lang"), expr(s"n_chars div $binWidth").as("bin"))
      .agg(count(lit(1)).as("cnt"))
    val wCum = Window.partitionBy(col("lang")).orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = bins
      .withColumn("cum", sum(col("cnt")).over(wCum))
      .withColumn("n", sum(col("cnt")).over(Window.partitionBy(col("lang"))))
    // the bin containing rank r: first bin with cum >= r  <=>
    // cum >= r AND cum - cnt < r (cheap to state as one predicate)
    def atRank(rank: Column): Column =
      max(when(col("cum") >= rank && (col("cum") - col("cnt")) < rank,
        (col("bin") + 1) * binWidth - 1))
    cum.groupBy(col("lang"))
      .agg(
        max(col("n")).as("n_docs"),
        atRank(expr("(n + 1) div 2")).as("median_chars_ub"),
        atRank(expr("(n * 9 + 9) div 10")).as("p90_chars_ub"))
      .orderBy(col("lang"))
  }

  def lengthQuantilesHistSql(binWidth: Int = 64): String =
    s"""WITH bins AS (
      |  SELECT lang, n_chars // $binWidth AS bin, COUNT(*) AS cnt
      |  FROM documents GROUP BY 1, 2
      |), cum AS (
      |  SELECT lang, bin, cnt,
      |    SUM(cnt) OVER (PARTITION BY lang ORDER BY bin
      |      ROWS UNBOUNDED PRECEDING) AS cum,
      |    SUM(cnt) OVER (PARTITION BY lang) AS n
      |  FROM bins
      |)
      |SELECT lang, CAST(MAX(n) AS BIGINT) AS n_docs,
      |  MAX(CASE WHEN cum >= (n + 1) // 2 AND cum - cnt < (n + 1) // 2
      |    THEN (bin + 1) * $binWidth - 1 END) AS median_chars_ub,
      |  MAX(CASE WHEN cum >= (n * 9 + 9) // 10 AND cum - cnt < (n * 9 + 9) // 10
      |    THEN (bin + 1) * $binWidth - 1 END) AS p90_chars_ub
      |FROM cum GROUP BY lang ORDER BY lang""".stripMargin

  /** q43 — deterministic Bernoulli-style sampling: keep rows whose
    * content-independent hash bucket falls under the rate. Rerun-stable
    * and join-free (a pure map over the scan).
    */
  def hashSample(spark: SparkSession, dir: String, pct: Int = 10): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    docs.filter(md5Bucket(col("doc_id")) % 100 < pct)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  val hashSampleSql: String =
    """SELECT doc_id, lang, n_chars FROM documents
      |WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 10
      |ORDER BY doc_id""".stripMargin

  /** q44 — stratified sampling: a fixed quota per stratum (lang),
    * selected in deterministic hash order. The standard
    * balanced-subset pass for training mixes.
    */
  def stratifiedSample(spark: SparkSession, dir: String, perStratum: Int = 20): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val w = Window.partitionBy(col("lang"))
      .orderBy(md5Bucket(col("doc_id")), col("doc_id"))
    docs.withColumn("pick", row_number().over(w))
      .filter(col("pick") <= perStratum)
      .select(col("lang"), col("pick"), col("doc_id"), col("n_chars"))
      .orderBy(col("lang"), col("pick"))
  }

  /** q62 — training-mix rebalance: sample the corpus toward TARGET
    * language proportions under a document budget, capped by
    * availability — the mix-weighting pass that turns a raw crawl
    * distribution into the training distribution. Per-language quota =
    * floor(budget × weight); rows are picked in deterministic hash
    * order (rerun-stable, like every sampler here); a language with
    * fewer documents than its quota contributes everything it has
    * (the cap binds — at sf0.01, de/es/fr bind and en/zh do not).
    *
    * Shape: quotas are plan-time literals (the weights are config, not
    * data), so this is ONE lang-keyed window + filter — the rank
    * filter plans the same partial WindowGroupLimit as q52's top-k:
    * each map partition ships at most quota rows per language.
    */
  def mixRebalance(spark: SparkSession, dir: String,
                   budget: Int = 500,
                   weights: Seq[(String, Double)] = Seq(
                     "en" -> 0.40, "de" -> 0.15, "es" -> 0.15,
                     "fr" -> 0.15, "zh" -> 0.15)): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val quota = weights.foldLeft(lit(0)) { case (acc, (l, w)) =>
      when(col("lang") === l, lit((budget * w).toInt)).otherwise(acc)
    }
    val w = Window.partitionBy(col("lang"))
      .orderBy(md5Bucket(col("doc_id")), col("doc_id"))
    // two-step rank filter: the LITERAL max-quota bound is what
    // InferWindowGroupLimit needs to plan the partial WindowGroupLimit
    // (a CASE bound is opaque to it); the per-lang CASE then refines.
    // Each map partition ships at most max-quota rows per language.
    val maxQuota = weights.map { case (_, wt) => (budget * wt).toInt }.max
    docs.withColumn("pick", row_number().over(w))
      .filter(col("pick") <= maxQuota && col("pick") <= quota)
      .select(col("lang"), col("pick"), col("doc_id"))
      .orderBy(col("lang"), col("pick"))
  }

  def mixRebalanceSql(budget: Int = 500,
                      weights: Seq[(String, Double)] = Seq(
                        "en" -> 0.40, "de" -> 0.15, "es" -> 0.15,
                        "fr" -> 0.15, "zh" -> 0.15)): String = {
    val cases = weights.map { case (l, w) =>
      s"WHEN '$l' THEN ${(budget * w).toInt}" }.mkString(" ")
    s"""WITH ranked AS (
      |  SELECT lang, doc_id,
      |    CAST(row_number() OVER (PARTITION BY lang ORDER BY
      |      CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT),
      |      doc_id) AS INT) AS pick
      |  FROM documents
      |)
      |SELECT lang, pick, doc_id FROM ranked
      |WHERE pick <= CASE lang $cases ELSE 0 END
      |ORDER BY lang, pick""".stripMargin
  }

  /** q52 — top-k per group by quality: the standard "keep the best N
    * documents per source" curation pass of a pretraining pipeline.
    * The rank filter plans as a PARTIAL WindowGroupLimit before the
    * shuffle (same shape PlansSpec pins for kNN): each map partition
    * ships at most k rows per source, so at 100 TB the shuffle carries
    * O(partitions * sources * k), not the corpus.
    */
  /** Frame-parameterized core (shared with CurationPipeline): rank
    * rows within `source` by (quality DESC, doc_id), keep the top k.
    */
  def topKPerSourceCore(scored: DataFrame, k: Int,
                        rankCol: String = "rank"): DataFrame = {
    val w = Window.partitionBy(col("source"))
      .orderBy(col("quality").desc, col("doc_id"))
    scored.withColumn(rankCol, row_number().over(w))
      .filter(col(rankCol) <= k)
  }

  def topKPerSource(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val scored = docs.select(col("doc_id"), col("source"), col("lang"),
      graft.functions.TextFunctions.qualityScore(col("text")).as("quality"))
    topKPerSourceCore(scored, k).orderBy(col("source"), col("rank"))
  }

  /** DuckDB twin: the q23 oracle's proven quality expression
    * ([[TextAnalysis.qualityExprSql]]) + the same windowed top-k.
    */
  val topKPerSourceSql: String =
    s"""WITH scored AS (
      |  SELECT doc_id, source, lang,
      |    ${TextAnalysis.qualityExprSql} AS quality
      |  FROM documents
      |)
      |SELECT doc_id, source, lang, quality,
      |  CAST(row_number() OVER (PARTITION BY source
      |    ORDER BY quality DESC, doc_id) AS INT) AS rank
      |FROM scored
      |QUALIFY rank <= 5
      |ORDER BY source, rank""".stripMargin

  /** q53 — deterministic sequence packing: assign each document to a
    * fixed-token-budget training sequence by running token offset —
    * the batch/sequence construction pass of an LLM pretraining
    * pipeline. Scale shape: the running sum is windowed WITHIN a hash
    * bucket (md5(doc_id) % nBuckets), never globally — one shuffle on
    * bucket, each partition packs independently (a global cumsum would
    * serialize the corpus through one partition). seq_id is globally
    * unique as (bucket, local sequence index). Greedy-split semantics:
    * a document starts in the sequence its cumulative offset falls in
    * (documents may straddle a boundary; the packer downstream splits
    * or pads — this operator decides placement deterministically).
    */
  /** Frame-parameterized core (shared with CurationPipeline): given
    * rows with `doc_id` and `n_tokens`, add (bucket, seq_id,
    * seq_offset) — the bucketed running-offset placement.
    */
  def sequencePackCore(t: DataFrame, budget: Int, nBuckets: Int): DataFrame = {
    val bucketed = t.withColumn("bucket", md5Bucket(col("doc_id")) % nBuckets)
    val w = Window.partitionBy(col("bucket")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    bucketed
      .withColumn("cum_before", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("seq_id", expr(s"cum_before div $budget"))
      .withColumn("seq_offset", col("cum_before") % budget)
      .drop("cum_before")
  }

  def sequencePack(spark: SparkSession, dir: String, budget: Int = 2048,
                   nBuckets: Int = 32): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val t = docs.select(col("doc_id"),
      graft.functions.TextFunctions.tokenCount(col("text")).as("n_tokens"))
    sequencePackCore(t, budget, nBuckets)
      .select(col("doc_id"), col("bucket"), col("n_tokens"), col("seq_id"),
        col("seq_offset"))
      .orderBy(col("doc_id"))
  }

  val sequencePackSql: String =
    s"""WITH t AS (
      |  SELECT doc_id,
      |    ${TextAnalysis.tokenCountExprSql} AS n_tokens,
      |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 32 AS bucket
      |  FROM documents
      |), c AS (
      |  SELECT doc_id, bucket, n_tokens,
      |    CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
      |  FROM t
      |)
      |SELECT doc_id, bucket, n_tokens,
      |  cum_before // 2048 AS seq_id,
      |  cum_before % 2048 AS seq_offset
      |FROM c ORDER BY doc_id""".stripMargin

  /** q67 — systematic probability-proportional-to-size (PPS) sampling:
    * k sampling points spaced W_total/k apart over the cumulative
    * weight axis, rows ordered by a deterministic md5 permutation.
    * Every row is selected with probability proportional to its weight
    * (rows heavier than W_total/k get multiplicity > 1 via n_picks);
    * selection is pure integer arithmetic — `(cum * k) div W_total`
    * crossings — so the sample is bit-exact reproducible across
    * engines and reruns, with none of the libm (-ln(u)/w exponential
    * keys) portability trap.
    *
    * Scale posture: the global cumulative sum is the textbook
    * two-level prefix sum, not a single-partition window. hkey is
    * uniform in [0, 2^32), so range-bucketing its high bits yields
    * `nBuckets` contiguous, balanced slices of the global (hkey,
    * doc_id) order; each bucket cumsums independently (one shuffle),
    * and the per-bucket totals — nBuckets rows — form the broadcast
    * offset table. Weight here is n_chars (a stand-in for any
    * positive importance weight, e.g. quality x token count).
    * Headroom: cum*k must fit a long — at 10^15 total weight that
    * bounds k at ~9000; beyond that switch the selection arithmetic
    * to DECIMAL(38,0).
    */
  def systematicSample(spark: SparkSession, dir: String, k: Int = 60,
                       nBuckets: Int = 32): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    systematicSampleCore(
      docs.select(col("doc_id"), col("n_chars").as("weight")), k, nBuckets)
  }

  /** Frame-parameterized core: rows need (doc_id, weight>0); returns
    * (doc_id, weight, n_picks) for selected rows, ordered by doc_id.
    * Invariant (pinned in CurationOpsSpec): sum(n_picks) == k exactly.
    */
  def systematicSampleCore(rows: DataFrame, k: Int, nBuckets: Int): DataFrame = {
    // three consumers (local cumsum, bucket offsets, grand total):
    // materialize the hashed frame once, house convention
    val t = rows.select(col("doc_id"), col("weight"),
      md5Bucket(col("doc_id")).as("hkey"))
      .withColumn("bucket", expr(s"hkey div ${4294967296L / nBuckets}"))
      .transform(graft.Iterate.cut)
    val wLocal = Window.partitionBy(col("bucket"))
      .orderBy(col("hkey"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = t.withColumn("cum_local", sum(col("weight")).over(wLocal))
    // per-bucket totals -> running offsets: nBuckets rows, so the
    // single-partition window and the broadcast are both O(nBuckets)
    val wOff = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = t.groupBy(col("bucket"))
      .agg(sum(col("weight")).as("bw"))
      .withColumn("offset", coalesce(sum(col("bw")).over(wOff), lit(0L)))
      .select(col("bucket"), col("offset"))
    val totals = t.agg(sum(col("weight")).as("w_total"))
    local.join(broadcast(offsets), "bucket")
      .crossJoin(broadcast(totals))
      .withColumn("cum_hi", col("cum_local") + col("offset"))
      .withColumn("cum_lo", col("cum_hi") - col("weight"))
      .withColumn("n_picks",
        (expr(s"(cum_hi * $k) div w_total") - expr(s"(cum_lo * $k) div w_total"))
          .cast("int"))
      .filter(col("n_picks") > 0)
      .select(col("doc_id"), col("weight"), col("n_picks"))
      .orderBy(col("doc_id"))
  }

  def systematicSampleSql(k: Int = 60): String =
    s"""WITH t AS (
      |  SELECT doc_id, n_chars AS weight,
      |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS hkey
      |  FROM documents
      |), c AS (
      |  SELECT doc_id, weight,
      |    CAST(SUM(weight) OVER (ORDER BY hkey, doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_hi,
      |    CAST(SUM(weight) OVER () AS BIGINT) AS w_total
      |  FROM t
      |)
      |SELECT doc_id, weight,
      |  CAST((cum_hi * $k) // w_total - ((cum_hi - weight) * $k) // w_total AS INT)
      |    AS n_picks
      |FROM c
      |WHERE (cum_hi * $k) // w_total > ((cum_hi - weight) * $k) // w_total
      |ORDER BY doc_id""".stripMargin

  /** q73 — per-source winsorization (outlier clipping): clip n_chars
    * to the exact per-source [p05, p95] rank-selected bounds — the
    * standard robust-scaling pass before length-based curation
    * decisions (a handful of pathological documents must not stretch
    * a source's length budget). Rank selection, not interpolation,
    * for cross-engine exactness (the q42 rule); bounds ride a window
    * per source, then the clip is a narrow map. Scale: one shuffle on
    * source for the ranks; the 100 TB path computes the bounds with
    * the approx sketch (x01's form) and broadcast-joins them back.
    */
  def winsorize(spark: SparkSession, dir: String): DataFrame =
    winsorizeCore(Tables.load(spark, dir, "documents"))

  /** Frame-parameterized core: rows need (doc_id, source, n_chars). */
  def winsorizeCore(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("source")).orderBy(col("n_chars"), col("doc_id"))
    val wAll = Window.partitionBy(col("source"))
    docs
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("lo", max(when(col("rn") === expr("(n + 19) div 20"),
        col("n_chars"))).over(wAll))
      .withColumn("hi", max(when(col("rn") === expr("(n * 19 + 19) div 20"),
        col("n_chars"))).over(wAll))
      .select(col("doc_id"), col("source"), col("n_chars"), col("lo"), col("hi"),
        greatest(least(col("n_chars"), col("hi")), col("lo")).as("clipped"),
        (col("n_chars") < col("lo") || col("n_chars") > col("hi"))
          .cast("int").as("is_clipped"))
      .orderBy(col("doc_id"))
  }

  val winsorizeSql: String =
    """WITH ranked AS (
      |  SELECT doc_id, source, n_chars,
      |    row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS rn,
      |    COUNT(*) OVER (PARTITION BY source) AS n
      |  FROM documents
      |), bounds AS (
      |  SELECT doc_id, source, n_chars,
      |    MAX(CASE WHEN rn = (n + 19) // 20 THEN n_chars END)
      |      OVER (PARTITION BY source) AS lo,
      |    MAX(CASE WHEN rn = (n * 19 + 19) // 20 THEN n_chars END)
      |      OVER (PARTITION BY source) AS hi
      |  FROM ranked
      |)
      |SELECT doc_id, source, n_chars, lo, hi,
      |  GREATEST(LEAST(n_chars, hi), lo) AS clipped,
      |  CAST(n_chars < lo OR n_chars > hi AS INT) AS is_clipped
      |FROM bounds ORDER BY doc_id""".stripMargin

  val stratifiedSampleSql: String =
    """SELECT lang, pick, doc_id, n_chars FROM (
      |  SELECT lang, doc_id, n_chars,
      |    CAST(row_number() OVER (PARTITION BY lang
      |      ORDER BY CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT),
      |               doc_id) AS INT) AS pick
      |  FROM documents
      |) WHERE pick <= 20
      |ORDER BY lang, pick""".stripMargin

  /** q79 — distribution-rank features per source: NTILE deciles,
    * PERCENT_RANK, CUME_DIST over (n_chars, doc_id) within each
    * source, plus the decile-based keep flag (drop the bottom decile
    * per source — the curation move these functions exist for).
    *
    * Oracle parity: the window ordering is fully tiebroken
    * (n_chars, doc_id), so every rank function is deterministic;
    * PERCENT_RANK/CUME_DIST are exact integer ratios evaluated in
    * double — identical operands → identical IEEE results — rounded
    * to 6dp as belt-and-braces.
    *
    * Scale: one shuffle on source; ranks need a per-source ordered
    * pass (the windowed-rank reality). If one source dominates the
    * corpus, the two-level bucketed rank of q67's prefix-sum pattern
    * is the drop-in replacement: bucket by hash-range within source,
    * rank within buckets, add broadcast per-bucket offsets.
    */
  def qualityDeciles(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val w = Window.partitionBy(col("source")).orderBy(col("n_chars"), col("doc_id"))
    docs.select(col("doc_id"), col("source"), col("n_chars"))
      .withColumn("decile", ntile(10).over(w))
      .withColumn("pct_rank", round(percent_rank().over(w), 6))
      .withColumn("cume", round(cume_dist().over(w), 6))
      .withColumn("keep", (col("decile") > 1).cast("int"))
      .orderBy(col("doc_id"))
  }

  val qualityDecilesSql: String =
    """SELECT doc_id, source, n_chars,
      |  CAST(NTILE(10) OVER w AS INT) AS decile,
      |  ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
      |  ROUND(CUME_DIST() OVER w, 6) AS cume,
      |  CAST(NTILE(10) OVER w > 1 AS INT) AS keep
      |FROM documents
      |WINDOW w AS (PARTITION BY source ORDER BY n_chars, doc_id)
      |ORDER BY doc_id""".stripMargin

  /** q87 — weighted priority sampling (Duffield-Thorup): per source,
    * the k documents with the largest priority w/u, where w = n_chars
    * (the weight: longer docs are likelier picks, in proportion) and
    * u = (md5(doc_id)+1)/2^32 — a deterministic uniform in (0,1].
    * Unlike the equal-probability forms (q43 hash, q44 stratified,
    * q67 systematic), inclusion probability here is proportional to
    * weight — the "sample by token count" primitive a mixture builder
    * needs so that sampled TOKENS, not sampled documents, follow the
    * target distribution.
    *
    * Float portability (the reason this is w/u and not the textbook
    * u^(1/w) key, which orders identically): (h+1) <= 2^32 is exact in
    * a double, /2^32 is a power-of-two scale (exact), and w/u is ONE
    * IEEE division — correctly rounded, so both engines compute the
    * bit-identical double. pow/log are not correctly rounded and may
    * differ in the last ulp across runtimes; division is safe the way
    * `round(x, 6)` alone is not.
    *
    * Scale: a narrow map to score + the q52 per-group partial-top-k
    * window (WindowGroupLimit prunes to k per source inside each map
    * task before the source shuffle).
    */
  def weightedPrioritySample(spark: SparkSession, dir: String,
                             k: Int = 20): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val u = (md5Bucket(col("doc_id")) + 1).cast("double") / lit(4294967296.0)
    val w = Window.partitionBy(col("source"))
      .orderBy(col("priority").desc, col("doc_id"))
    docs.select(col("doc_id"), col("source"), col("n_chars"))
      .withColumn("priority", col("n_chars").cast("double") / u)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .withColumn("priority", round(col("priority"), 6))
      .orderBy(col("source"), col("rk"))
  }

  /** q94 — temperature-scaled (alpha) mixture sampling: per-language
    * sampling shares DERIVED from the data, p_l ∝ n_l^alpha — the
    * multilingual mixing move (alpha < 1 upweights low-resource
    * languages relative to their raw counts; alpha = 1 is proportional,
    * alpha = 0 uniform). q62 takes target weights as CONFIG; here the
    * weights come from the corpus itself, so quotas are data-dependent
    * and ride a broadcast join instead of plan-time literals.
    *
    * Oracle parity: the alpha power is the one cross-engine libm call,
    * so it is rounded to 6dp and fixed in DECIMAL(18,6) BEFORE the
    * share division — every downstream float op (share, floor, quota)
    * then runs on identical operands in both engines.
    *
    * Scale: the weight/quota table is one tiny aggregate (|langs|
    * rows) broadcast back; picking is one lang shuffle whose rank
    * filter keeps the LITERAL budget bound first, so
    * InferWindowGroupLimit plans the partial top-k (each map partition
    * ships ≤ budget rows per lang) before the data-dependent quota
    * refines.
    */
  def alphaMixSample(spark: SparkSession, dir: String, budget: Int = 400,
                     alpha: Double = 0.5): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val dec = org.apache.spark.sql.types.DecimalType(18, 6)
    val wts = docs.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("w6", round(pow(col("n_docs").cast("double"), lit(alpha)), 6).cast(dec))
    val total = wts.agg(sum(col("w6")).as("total"))
    val quotas = wts.crossJoin(broadcast(total))
      .withColumn("ratio", col("w6").cast("double") / col("total").cast("double"))
      .withColumn("share", round(col("ratio"), 6))
      .withColumn("quota", least(col("n_docs").cast("double"),
        floor(lit(budget.toDouble) * col("ratio"))).cast("int"))
      .select(col("lang"), col("n_docs"), col("share"), col("quota"))
    val w = Window.partitionBy(col("lang"))
      .orderBy(md5Bucket(col("doc_id")), col("doc_id"))
    docs.select(col("lang"), col("doc_id"))
      .withColumn("pick", row_number().over(w))
      .filter(col("pick") <= budget) // literal bound → partial WindowGroupLimit
      .join(broadcast(quotas), "lang")
      .filter(col("pick") <= col("quota"))
      .select(col("lang"), col("n_docs"), col("share"), col("quota"),
        col("pick"), col("doc_id"))
      .orderBy(col("lang"), col("pick"))
  }

  def alphaMixSampleSql(budget: Int = 400, alpha: Double = 0.5): String =
    s"""WITH counts AS (
      |  SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang
      |), wts AS (
      |  SELECT lang, n_docs,
      |    CAST(ROUND(pow(CAST(n_docs AS DOUBLE), $alpha), 6) AS DECIMAL(18,6)) AS w6
      |  FROM counts
      |), tot AS (
      |  SELECT CAST(SUM(w6) AS DECIMAL(18,6)) AS total FROM wts
      |), quotas AS (
      |  SELECT lang, n_docs,
      |    ROUND(CAST(w6 AS DOUBLE) / CAST(total AS DOUBLE), 6) AS share,
      |    CAST(LEAST(CAST(n_docs AS DOUBLE),
      |      FLOOR($budget.0 * (CAST(w6 AS DOUBLE) / CAST(total AS DOUBLE)))) AS INT) AS quota
      |  FROM wts CROSS JOIN tot
      |), picked AS (
      |  SELECT lang, doc_id, CAST(row_number() OVER (PARTITION BY lang
      |    ORDER BY CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT),
      |             doc_id) AS INT) AS pick
      |  FROM documents
      |)
      |SELECT q.lang, q.n_docs, q.share, q.quota, p.pick, p.doc_id
      |FROM picked p JOIN quotas q USING (lang)
      |WHERE p.pick <= q.quota
      |ORDER BY lang, pick""".stripMargin

  /** q95 — robust outlier screen: per-language median absolute
    * deviation (MAD) z-scores over document length. Mean/stddev
    * z-scores move with the outliers they hunt; the median/MAD pair is
    * the standard robust replacement (z = 0.6745·(x − med)/MAD,
    * |z| > 3.5 flags — the classic Iglewicz–Hoban screen for length
    * spam in a crawl).
    *
    * Exactness: medians by RANK SELECTION (q42's move — no
    * percentile interpolation semantics to match across engines):
    * med = mean of the values at ranks (n+1) div 2 and (n+2) div 2.
    * All arithmetic below double-exact: integer sums halved, absolute
    * deviations in 0.5 steps, so both medians are bit-identical
    * across engines; the single rounded output is the z itself.
    *
    * Scale: two ordered window passes over the SAME lang shuffle
    * (Catalyst reuses the exchange; the second sort is the cost of
    * exactness). At 100 TB swap the rank-selected medians for
    * approx_percentile(0.5) of x and of |x − med| — the q60 histogram
    * pattern — and the whole screen is two partial+final aggs.
    */
  def madOutliers(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val wAll = Window.partitionBy(col("lang"))
    val wv = Window.partitionBy(col("lang")).orderBy(col("n_chars"), col("doc_id"))
    // every quantity stays INTEGER until display: m2 = 2·median,
    // idev = 2·deviation, dd = 4·MAD. robust_z is then the exact
    // rational 1349000·(2x − m2)/dd in micro-units, rounded half-away-
    // from-zero in integer arithmetic identically on both engines —
    // the q56 convention. The old double form round(0.6745·(x−med)/
    // mad, 6) hit EXACT 6dp half-boundaries at sf0.1 (half-integer
    // med/mad make the quotient a small-denominator rational; 12 rows
    // landed on …5 where Spark's HALF_UP and DuckDB's binary-double
    // rounding split).
    val withMed = docs
      .withColumn("rn", row_number().over(wv))
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("v1", max(when(col("rn") === expr("(n + 1) div 2"),
        col("n_chars"))).over(wAll))
      .withColumn("v2", max(when(col("rn") === expr("(n + 2) div 2"),
        col("n_chars"))).over(wAll))
      .withColumn("m2", col("v1") + col("v2"))
      .withColumn("med", col("m2") / 2.0)
      .withColumn("idev", abs(col("n_chars") * 2 - col("m2")))
    val wd = Window.partitionBy(col("lang")).orderBy(col("idev"), col("doc_id"))
    withMed
      .withColumn("rd", row_number().over(wd))
      .withColumn("d1", max(when(col("rd") === expr("(n + 1) div 2"),
        col("idev"))).over(wAll))
      .withColumn("d2", max(when(col("rd") === expr("(n + 2) div 2"),
        col("idev"))).over(wAll))
      .withColumn("dd", col("d1") + col("d2"))
      .withColumn("mad", col("dd") / 4.0)
      .withColumn("zp", lit(1349000L) * (col("n_chars") * 2 - col("m2")))
      .withColumn("micro", expr(
        """CASE WHEN dd = 0 THEN NULL
          |     WHEN zp >= 0 THEN (2 * zp + dd) div (2 * dd)
          |     ELSE -((2 * (-zp) + dd) div (2 * dd)) END""".stripMargin))
      .withColumn("robust_z", col("micro").cast("double") / 1e6)
      .withColumn("is_outlier",
        coalesce((abs(col("robust_z")) > 3.5).cast("int"), lit(0)))
      .select(col("doc_id"), col("lang"), col("n_chars"), col("med"),
        col("mad"), col("robust_z"), col("is_outlier"))
      .orderBy(col("doc_id"))
  }

  val madOutliersSql: String =
    """WITH ranked AS (
      |  SELECT doc_id, lang, n_chars,
      |    row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rn,
      |    COUNT(*) OVER (PARTITION BY lang) AS n
      |  FROM documents
      |), med AS (
      |  SELECT doc_id, lang, n_chars, n,
      |    (MAX(CASE WHEN rn = (n + 1) // 2 THEN n_chars END)
      |       OVER (PARTITION BY lang)
      |     + MAX(CASE WHEN rn = (n + 2) // 2 THEN n_chars END)
      |       OVER (PARTITION BY lang)) AS m2
      |  FROM ranked
      |), devs AS (
      |  SELECT doc_id, lang, n_chars, n, m2,
      |    ABS(n_chars * 2 - m2) AS idev
      |  FROM med
      |), dranked AS (
      |  SELECT doc_id, lang, n_chars, n, m2, idev,
      |    row_number() OVER (PARTITION BY lang ORDER BY idev, doc_id) AS rd
      |  FROM devs
      |), madt AS (
      |  SELECT doc_id, lang, n_chars, m2,
      |    (MAX(CASE WHEN rd = (n + 1) // 2 THEN idev END)
      |       OVER (PARTITION BY lang)
      |     + MAX(CASE WHEN rd = (n + 2) // 2 THEN idev END)
      |       OVER (PARTITION BY lang)) AS dd,
      |    1349000 * (n_chars * 2 - m2) AS zp
      |  FROM dranked
      |), z AS (
      |  SELECT doc_id, lang, n_chars, m2, dd,
      |    CASE WHEN dd = 0 THEN NULL
      |         WHEN zp >= 0 THEN (2 * zp + dd) // (2 * dd)
      |         ELSE -((2 * (-zp) + dd) // (2 * dd)) END AS micro
      |  FROM madt
      |)
      |SELECT doc_id, lang, n_chars,
      |  m2 / 2.0 AS med, dd / 4.0 AS mad,
      |  CAST(micro AS DOUBLE) / 1e6 AS robust_z,
      |  COALESCE(CAST(ABS(CAST(micro AS DOUBLE) / 1e6) > 3.5 AS INT), 0) AS is_outlier
      |FROM z ORDER BY doc_id""".stripMargin

  /** q105 — fair-share (water-filling) quota allocation: divide a
    * document budget across languages so no group is starved — every
    * group gets the common LEVEL unless its availability saturates
    * first, in which case its surplus refills the others (the
    * max-min-fairness allocation of multi-tenant schedulers, applied
    * to corpus budgeting; q62 takes target weights, q94 derives
    * power-law shares — this one equalizes). At sf0.01/budget 400 the
    * four small languages saturate (64/70/73/75) and en takes the
    * level, 118 — the budget allocates exactly.
    *
    * Exactness: the level search is pure integer arithmetic on the
    * sorted availability prefix sums — candidate level for rank i is
    * (B − c_{i−1}) div (S − i + 1); the first rank where it does not
    * exceed availability fixes the level. Integer floors mean up to
    * (unsaturated − 1) units of budget stay unallocated — documented,
    * deterministic.
    *
    * Scale: the allocation runs on the |langs|-row counts frame
    * (single-partition windows over a tiny aggregate — the q34
    * pivot-domain precedent); picking is the q94 shape (literal
    * budget bound plans the partial WindowGroupLimit, broadcast quota
    * refines).
    */
  def fairShareQuota(spark: SparkSession, dir: String,
                     budget: Int = 400): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val wOrd = Window.orderBy(col("n_docs"), col("lang"))
    val wAll = Window.partitionBy()
    val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
    val leveled = counts
      .withColumn("i", row_number().over(wOrd))
      .withColumn("c", sum(col("n_docs")).over(
        wOrd.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("s", count(lit(1)).over(wAll))
      .withColumn("lvl", expr(s"($budget - (c - n_docs)) div (s - i + 1)"))
      .withColumn("flag", col("lvl") <= col("n_docs"))
      .withColumn("istar", min(when(col("flag"), col("i"))).over(wAll))
      .withColumn("level", max(when(col("i") === col("istar"), col("lvl"))).over(wAll))
      .withColumn("quota", when(col("level").isNull, col("n_docs"))
        .otherwise(least(col("n_docs"), col("level"))).cast("int"))
      .select(col("lang"), col("n_docs"), col("quota"))
    val w = Window.partitionBy(col("lang"))
      .orderBy(md5Bucket(col("doc_id")), col("doc_id"))
    docs.select(col("lang"), col("doc_id"))
      .withColumn("pick", row_number().over(w))
      .filter(col("pick") <= budget) // literal bound → partial WindowGroupLimit
      .join(broadcast(leveled), "lang")
      .filter(col("pick") <= col("quota"))
      .select(col("lang"), col("n_docs"), col("quota"), col("pick"), col("doc_id"))
      .orderBy(col("lang"), col("pick"))
  }

  def fairShareQuotaSql(budget: Int = 400): String =
    s"""WITH counts AS (
      |  SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang
      |), ranked AS (
      |  SELECT lang, n_docs,
      |    row_number() OVER (ORDER BY n_docs, lang) AS i,
      |    SUM(n_docs) OVER (ORDER BY n_docs, lang
      |      ROWS UNBOUNDED PRECEDING) AS c,
      |    COUNT(*) OVER () AS s
      |  FROM counts
      |), leveled AS (
      |  SELECT lang, n_docs, i,
      |    ($budget - (c - n_docs)) // (s - i + 1) AS lvl,
      |    ($budget - (c - n_docs)) // (s - i + 1) <= n_docs AS flag
      |  FROM ranked
      |), fixed AS (
      |  SELECT lang, n_docs,
      |    CAST(CASE WHEN MAX(CASE WHEN i = istar THEN lvl END) OVER () IS NULL
      |         THEN n_docs
      |         ELSE LEAST(n_docs, MAX(CASE WHEN i = istar THEN lvl END) OVER ())
      |    END AS INT) AS quota
      |  FROM (SELECT *, MIN(CASE WHEN flag THEN i END) OVER () AS istar
      |        FROM leveled)
      |), picked AS (
      |  SELECT lang, doc_id, CAST(row_number() OVER (PARTITION BY lang
      |    ORDER BY CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT),
      |             doc_id) AS INT) AS pick
      |  FROM documents
      |)
      |SELECT f.lang, f.n_docs, f.quota, p.pick, p.doc_id
      |FROM picked p JOIN fixed f USING (lang)
      |WHERE p.pick <= f.quota
      |ORDER BY lang, pick""".stripMargin

  def weightedPrioritySampleSql(k: Int = 20): String =
    s"""WITH scored AS (
      |  SELECT doc_id, source, n_chars,
      |    CAST(n_chars AS DOUBLE) /
      |      ((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) + 1)
      |        / 4294967296.0) AS priority
      |  FROM documents
      |), ranked AS (
      |  SELECT doc_id, source, n_chars, priority,
      |    CAST(row_number() OVER (PARTITION BY source
      |      ORDER BY priority DESC, doc_id) AS INT) AS rk
      |  FROM scored
      |)
      |SELECT doc_id, source, n_chars, ROUND(priority, 6) AS priority, rk
      |FROM ranked WHERE rk <= $k
      |ORDER BY source, rk""".stripMargin

  /** q119 — context-length fit report: for each candidate context
    * length, how the corpus would fare — documents over the limit,
    * the token fraction truncation would discard, and the ideal
    * packed-bin count for what survives. The choose-your-sequence-
    * length table every pretraining run consults before committing a
    * tokenization budget; q53 then performs the packing the ideal
    * column bounds.
    *
    * Exactness: pure integer aggregates (token counts, clamped sums,
    * ceil-div bins); the single double is the 6dp loss fraction in one
    * fixed operand order. Scale: one narrow map for token counts, a
    * ×|lengths| literal explode, one partial+final aggregate on the
    * (tiny) length key.
    */
  def contextFitReport(spark: SparkSession, dir: String,
                       lengths: Seq[Int] = Seq(128, 512, 2048)): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
      .select(graft.functions.TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"))
    docs.select(col("n_tokens"),
        explode(array(lengths.map(lit): _*)).as("ctx_len"))
      .groupBy(col("ctx_len"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum((col("n_tokens") > col("ctx_len")).cast("long")).as("n_over"),
        sum(col("n_tokens")).as("total_tokens"),
        sum(greatest(col("n_tokens") - col("ctx_len"), lit(0L))).as("lost_tokens"),
        sum(least(col("n_tokens"), col("ctx_len"))).as("kept_tokens"))
      .select(col("ctx_len"), col("n_docs"), col("n_over"),
        col("total_tokens"), col("lost_tokens"),
        round(col("lost_tokens").cast("double") / col("total_tokens"), 6)
          .as("loss_frac"),
        // integer ceil-div (Column./ is double division — inexact in
        // principle for large token totals)
        expr("(kept_tokens + ctx_len - 1) div ctx_len").as("n_bins_ideal"))
      .orderBy(col("ctx_len"))
  }

  def contextFitReportSql(lengths: Seq[Int] = Seq(128, 512, 2048)): String =
    s"""WITH t AS (
      |  SELECT len(list_filter(string_split_regex(lower(text), '\\s+'),
      |    x -> x <> '')) AS n_tokens
      |  FROM documents
      |), e AS (
      |  SELECT n_tokens, CAST(l AS INT) AS ctx_len
      |  FROM t, unnest([${lengths.mkString(", ")}]) AS u(l)
      |)
      |SELECT ctx_len, COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN n_tokens > ctx_len THEN 1 ELSE 0 END) AS BIGINT) AS n_over,
      |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
      |  CAST(SUM(GREATEST(n_tokens - ctx_len, 0)) AS BIGINT) AS lost_tokens,
      |  ROUND(CAST(SUM(GREATEST(n_tokens - ctx_len, 0)) AS DOUBLE)
      |    / CAST(SUM(n_tokens) AS BIGINT), 6) AS loss_frac,
      |  CAST((SUM(LEAST(n_tokens, ctx_len)) + ctx_len - 1) // ctx_len AS BIGINT)
      |    AS n_bins_ideal
      |FROM e GROUP BY ctx_len ORDER BY ctx_len""".stripMargin

  /** q138 — cross-source score calibration: each document's quality
    * percent-rank WITHIN its source next to its GLOBAL percent-rank,
    * and the gap between them. A threshold tuned on the global
    * distribution silently over-prunes any source whose scores run
    * low (q23's formula is length/stopword-based — a terse source is
    * systematically punished); the gap column is the per-doc evidence
    * for per-source thresholds vs one global cut.
    *
    * Exactness: percent_rank is (rank−1)/(n−1) on exact integer
    * ranks with a fully-tiebroken ordering — small rationals,
    * identical doubles both engines, rounded at 6dp.
    *
    * Scale: the per-source rank is a source-partitioned window; the
    * global rank is a TOTAL ORDER — fine as a report at audit sizes,
    * and the documented 100 TB path swaps it for the x01 KLL-sketch
    * quantile inverse (percent-rank ≈ CDF value at the doc's score),
    * which needs no global sort.
    */
  def scoreCalibration(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions
    val docs = Tables.load(spark, dir, "documents")
    val scored = docs.select(col("doc_id"), col("source"),
      TextFunctions.qualityScore(col("text")).as("quality"))
    val wSrc = Window.partitionBy(col("source"))
      .orderBy(col("quality"), col("doc_id"))
    val wAll = Window.orderBy(col("quality"), col("doc_id"))
    scored
      .withColumn("pr_source", round(percent_rank().over(wSrc), 6))
      .withColumn("pr_global", round(percent_rank().over(wAll), 6))
      .select(col("doc_id"), col("source"), col("quality"),
        col("pr_source"), col("pr_global"),
        round(col("pr_source") - col("pr_global"), 6).as("calibration_gap"))
      .orderBy(col("doc_id"))
  }

  def scoreCalibrationSql(): String = {
    val q = graft.operators.TextAnalysis.qualityExprSql
    s"""WITH scored AS (
       |  SELECT doc_id, source, $q AS quality FROM documents
       |)
       |SELECT doc_id, source, quality,
       |  ROUND(PERCENT_RANK() OVER ws, 6) AS pr_source,
       |  ROUND(PERCENT_RANK() OVER wg, 6) AS pr_global,
       |  ROUND(ROUND(PERCENT_RANK() OVER ws, 6)
       |    - ROUND(PERCENT_RANK() OVER wg, 6), 6) AS calibration_gap
       |FROM scored
       |WINDOW ws AS (PARTITION BY source ORDER BY quality, doc_id),
       |  wg AS (ORDER BY quality, doc_id)
       |ORDER BY doc_id""".stripMargin
  }

  /** q129 — filter-cascade attrition report: an ordered battery of
    * Gopher-style document-quality rules (min/max length, stopword
    * density, top-token repetition, punctuation density), reporting per
    * rule how many documents reach it, fail it, and survive it. The
    * standard curation diagnostic: it tells you which rule is doing the
    * cutting and what the cumulative yield is, before you commit a
    * filter config to a 100 TB run (the reference's migrate loop logs
    * the same kind of per-stage progress, migrate.ts:57-66).
    *
    * Every rule is an INTEGER cross-multiplication (`25*stop >= n`, not
    * `stop/n >= 0.04`) so both engines compare exact integers — no
    * float ratios anywhere.
    *
    * Shape: one narrow map computes the per-doc signals (token count by
    * the shared tokenizer, stopword hits via the codegen'd
    * [[graft.functions.ArrayCountIn]] over the union of the four
    * language lists, top-token count via [[graft.functions.ArrayMaxFreq]]
    * — no explode, no per-doc shuffle), then the first-failed-rule index
    * per doc, one tiny aggregation keyed by that index (≤ 6 groups),
    * and the cumulative report assembled by a window over the ≤ 5-row
    * rules frame. At 100 TB: a single scan + an O(rules) reduce.
    */
  def filterCascade(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions
    val stopAll = TextFunctions.langStopwords.flatMap(_._2).distinct.sorted
    val docs = Tables.load(spark, dir, "documents")
    val sig = docs.select(
      TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"),
      TextFunctions.punctCount(col("text")).cast("long").as("n_punct"),
      graft.functions.ArrayCountIn
        .countIn(TextFunctions.tokens(col("text")), stopAll)
        .cast("long").as("stop_hits"),
      graft.functions.ArrayMaxFreq
        .maxFreq(TextFunctions.tokens(col("text")))
        .cast("long").as("max_freq"))
    // First failing rule (1-based position in the cascade); survivors → 0.
    val firstFail = when(col("n_tokens") < 20, 1)
      .when(col("n_tokens") > 2000, 2)
      .when(col("stop_hits") * 25 < col("n_tokens"), 3)
      .when(col("max_freq") * 5 > col("n_tokens"), 4)
      .when(col("n_punct") * 10 > col("n_tokens"), 5)
      .otherwise(0)
    val failCounts = sig.select(firstFail.as("rule_idx"))
      .groupBy(col("rule_idx")).agg(count(lit(1)).as("n"))
    val total = failCounts.agg(sum(col("n")).as("n_total"))
    val rules = spark.createDataFrame(Seq(
      (1, "min_tokens_20"), (2, "max_tokens_2000"),
      (3, "stopword_ratio_4pct"), (4, "top_token_repetition_20pct"),
      (5, "punct_ratio_10pct"))).toDF("rule_idx", "rule")
    val w = Window.orderBy(col("rule_idx"))
      .rowsBetween(Window.unboundedPreceding, -1)
    rules.join(failCounts, Seq("rule_idx"), "left")
      .withColumn("n_fail", coalesce(col("n"), lit(0L)))
      .withColumn("prior_fails", coalesce(sum(col("n_fail")).over(w), lit(0L)))
      .crossJoin(total)
      .select(
        col("rule_idx"),
        col("rule"),
        (col("n_total") - col("prior_fails")).as("n_in"),
        col("n_fail"),
        (col("n_total") - col("prior_fails") - col("n_fail")).as("n_out"))
      .orderBy(col("rule_idx"))
  }

  def filterCascadeSql(): String = {
    val stopAll = graft.functions.TextFunctions.langStopwords
      .flatMap(_._2).distinct.sorted
    val inList = stopAll.map(w => s"'$w'").mkString(", ")
    s"""WITH sig AS (
       |  SELECT
       |    len(list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '')) AS n_tokens,
       |    len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]')) AS n_punct,
       |    len(list_filter(string_split_regex(lower(text), '\\s+'), t -> t IN ($inList))) AS stop_hits,
       |    (SELECT MAX(c) FROM (
       |       SELECT COUNT(*) AS c FROM unnest(list_filter(
       |         string_split_regex(lower(text), '\\s+'), t -> t <> '')) AS u(tok)
       |       GROUP BY tok)) AS max_freq
       |  FROM documents
       |), ff AS (
       |  SELECT CASE
       |    WHEN n_tokens < 20 THEN 1
       |    WHEN n_tokens > 2000 THEN 2
       |    WHEN stop_hits * 25 < n_tokens THEN 3
       |    WHEN max_freq * 5 > n_tokens THEN 4
       |    WHEN n_punct * 10 > n_tokens THEN 5
       |    ELSE 0 END AS rule_idx
       |  FROM sig
       |), fc AS (
       |  SELECT rule_idx, COUNT(*) AS n FROM ff GROUP BY rule_idx
       |), rules(rule_idx, rule) AS (VALUES
       |  (1, 'min_tokens_20'), (2, 'max_tokens_2000'),
       |  (3, 'stopword_ratio_4pct'), (4, 'top_token_repetition_20pct'),
       |  (5, 'punct_ratio_10pct')
       |), joined AS (
       |  SELECT r.rule_idx, r.rule, COALESCE(fc.n, 0) AS n_fail,
       |    COALESCE(SUM(COALESCE(fc.n, 0)) OVER (ORDER BY r.rule_idx
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior_fails,
       |    (SELECT SUM(n) FROM fc) AS n_total
       |  FROM rules r LEFT JOIN fc ON r.rule_idx = fc.rule_idx
       |)
       |SELECT rule_idx, rule,
       |  CAST(n_total - prior_fails AS BIGINT) AS n_in,
       |  CAST(n_fail AS BIGINT) AS n_fail,
       |  CAST(n_total - prior_fails - n_fail AS BIGINT) AS n_out
       |FROM joined ORDER BY rule_idx""".stripMargin
  }

  /** q157 — length-distribution flattening sampler: buckets documents
    * by length (`n_chars div bucketWidth`), sets a UNIFORM target
    * count per observed bucket (total div #buckets), and thins each
    * over-represented bucket down to it by deterministic importance
    * acceptance — keep a doc iff u32 · n_bucket < 2³² · target. The
    * "match the length histogram" pass that stops a trainer from
    * seeing 90% short documents; under-represented buckets pass
    * through whole (acceptance capped at 1 — this sampler thins, it
    * does not replicate).
    *
    * Exactness: the acceptance test is PURE 64-bit integer
    * arithmetic (u32 < 2³², n_bucket ≤ corpus, both sides < 2⁶³ for
    * any corpus this engine grades) — no doubles anywhere, so the
    * kept set is bit-identical across engines by construction, and
    * E[n_after] = target exactly. Reports per bucket:
    * before/target/after.
    *
    * Scale: one scan + one bucket-count aggregate broadcast back;
    * the thinning filter is a narrow map — no shuffle of the corpus
    * itself (the report aggregate shuffles bucket-sized rows).
    */
  def flattenLengths(spark: SparkSession, dir: String,
                     bucketWidth: Int = 100): DataFrame = {
    val base = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), expr(s"n_chars div $bucketWidth").as("bucket"))
    val counts = base.groupBy(col("bucket")).agg(count(lit(1)).as("n_before"))
    val target = counts.agg(
      expr("sum(n_before) div count(*)").as("n_target"))
    val withQuota = counts.crossJoin(broadcast(target))
    val kept = base
      .join(broadcast(withQuota), Seq("bucket"))
      .filter(md5Bucket(col("doc_id")) * col("n_before") <
        lit(4294967296L) * least(col("n_before"), col("n_target")))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n_after"))
    withQuota.join(kept, Seq("bucket"), "left")
      .select(col("bucket"), col("n_before"), col("n_target"),
        coalesce(col("n_after"), lit(0L)).as("n_after"))
      .orderBy(col("bucket"))
  }

  def flattenLengthsSql(bucketWidth: Int = 100): String =
    s"""WITH base AS (
      |  SELECT doc_id, n_chars // $bucketWidth AS bucket FROM documents
      |), counts AS (
      |  SELECT bucket, COUNT(*) AS n_before FROM base GROUP BY bucket
      |), quota AS (
      |  SELECT CAST(SUM(n_before) AS BIGINT) // COUNT(*) AS n_target
      |  FROM counts
      |), kept AS (
      |  SELECT b.bucket, COUNT(*) AS n_after
      |  FROM base b JOIN counts c ON b.bucket = c.bucket
      |  WHERE CAST(('0x' || substr(md5(CAST(b.doc_id AS VARCHAR)), 1, 8))
      |      AS BIGINT) * c.n_before
      |    < 4294967296 * LEAST(c.n_before, (SELECT n_target FROM quota))
      |  GROUP BY b.bucket
      |)
      |SELECT c.bucket, c.n_before, (SELECT n_target FROM quota) AS n_target,
      |  CAST(COALESCE(k.n_after, 0) AS BIGINT) AS n_after
      |FROM counts c LEFT JOIN kept k ON c.bucket = k.bucket
      |ORDER BY c.bucket""".stripMargin

  /** q162 — cross-source quantile normalization of quality scores:
    * every document's score is replaced by the GLOBAL score at its
    * within-source rank position, so all sources share one scale and
    * "top decile" means the same thing everywhere. q138 audits how
    * source score distributions disagree; this is the transform that
    * removes the disagreement (the microarray quantile-normalization
    * move, applied to heterogeneous corpus scoring).
    *
    * Mapping: a doc at within-source rank r of n_s maps to global rank
    * ((r−1)·(N−1)) div (n_s−1) + 1 — pure integer arithmetic, so the
    * join key is exact in both engines (n_s = 1 maps to the global
    * median position). Both rankings tiebreak by doc_id.
    *
    * Scale: the global rank is NOT a single-partition window — it
    * decomposes as bucket offset + within-bucket rank: docs bucket by
    * floor(quality·10) (11 buckets), per-bucket counts make a tiny
    * offsets table (broadcast), and row_number partitions by bucket.
    * The only unpartitioned window in the plan runs over 11 rows.
    * The rank-alignment join is one doc-sized shuffle on the rank key.
    */
  def quantileNormalize(spark: SparkSession, dir: String): DataFrame = {
    val scored = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("source"),
        graft.functions.TextFunctions.qualityScore(col("text")).as("quality"))
      .withColumn("bucket", floor(col("quality") * 10).cast("int"))
    val wSrc = Window.partitionBy(col("source"))
      .orderBy(col("quality"), col("doc_id"))
    val ranked = scored
      .withColumn("rn_s", row_number().over(wSrc))
      .withColumn("n_s",
        count(lit(1)).over(Window.partitionBy(col("source"))))
    // distributed global rank: per-bucket counts -> exclusive prefix
    // offsets (11-row window) -> offset + within-bucket row_number
    val offsets = scored.groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_b"))
      .withColumn("offset",
        coalesce(sum(col("n_b")).over(
          Window.orderBy(col("bucket"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val nG = scored.agg(count(lit(1)).as("n_g"))
    val wBucket = Window.partitionBy(col("bucket"))
      .orderBy(col("quality"), col("doc_id"))
    val global = scored
      .join(broadcast(offsets.select(col("bucket"), col("offset"))), "bucket")
      .withColumn("rn_g", col("offset") + row_number().over(wBucket))
      .select(col("rn_g"), col("quality").as("norm_quality"))
    ranked.crossJoin(broadcast(nG))
      .withColumn("target_rn",
        when(col("n_s") > 1,
          expr("((rn_s - 1) * (n_g - 1)) div (n_s - 1) + 1"))
          .otherwise(expr("(n_g + 1) div 2")).cast("long"))
      .join(global, col("target_rn") === col("rn_g"))
      .select(col("doc_id"), col("source"), col("quality"),
        col("norm_quality"))
      .orderBy(col("doc_id"))
  }

  val quantileNormalizeSql: String = {
    val q = graft.operators.TextAnalysis.qualityExprSql
    s"""WITH scored AS (
       |  SELECT doc_id, source, $q AS quality FROM documents
       |), src AS (
       |  SELECT doc_id, source, quality,
       |    row_number() OVER (PARTITION BY source
       |      ORDER BY quality, doc_id) AS rn_s,
       |    COUNT(*) OVER (PARTITION BY source) AS n_s,
       |    COUNT(*) OVER () AS n_g
       |  FROM scored
       |), grank AS (
       |  SELECT quality AS norm_quality,
       |    row_number() OVER (ORDER BY quality, doc_id) AS rn_g
       |  FROM scored
       |)
       |SELECT s.doc_id, s.source, s.quality, g.norm_quality
       |FROM src s JOIN grank g ON g.rn_g =
       |  CASE WHEN s.n_s > 1
       |    THEN ((s.rn_s - 1) * (s.n_g - 1)) // (s.n_s - 1) + 1
       |    ELSE (s.n_g + 1) // 2 END
       |ORDER BY s.doc_id""".stripMargin
  }

  /** q168 — leave-one-out target encoding of o_orderpriority against
    * o_totalprice: each order's categorical feature becomes the mean
    * target of all OTHER orders sharing its category,
    * (Σ_cat − y_row) / (n_cat − 1). The standard leakage-safe encoding
    * for categorical features in gradient-boosting pipelines — naive
    * category-mean encoding leaks the row's own label into its
    * feature; LOO removes exactly that row's contribution, per row,
    * without a second pass.
    *
    * Singleton categories encode NULL (no "other" rows exist), stated
    * explicitly in both engines rather than relying on x/0 semantics.
    *
    * Engine parity: the category sum is accumulated as DECIMAL(18,6)
    * (order-independent, exact), cast to double once, and the per-row
    * subtraction/division happens in IEEE double with one final
    * round(6) — identical sequences on both engines.
    *
    * Scale: one map-side-combinable aggregate over the category domain
    * (tiny), broadcast back over the fact rows — a narrow, zero-extra-
    * shuffle encode pass. At 100 TB the same shape holds for any
    * low-cardinality categorical; high-cardinality keys flip the
    * broadcast to a co-partitioned join with no logic change.
    */
  def looTargetEncode(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.load(spark, dir, "orders")
    val stats = orders.groupBy(col("o_orderpriority"))
      .agg(sum(col("o_totalprice").cast("decimal(18,6)"))
             .cast("double").as("cat_sum"),
           count(lit(1)).as("cat_n"))
    orders.join(broadcast(stats), "o_orderpriority")
      .withColumn("loo_enc",
        when(col("cat_n") > 1,
          round((col("cat_sum") - col("o_totalprice")) /
            (col("cat_n") - 1), 6)))
      .select(col("o_orderkey"), col("o_orderpriority"),
        col("o_totalprice"), col("loo_enc"))
      .orderBy(col("o_orderkey"))
  }

  val looTargetEncodeSql: String =
    """WITH stats AS (
      |  SELECT o_orderpriority,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
      |      AS cat_sum,
      |    COUNT(*) AS cat_n
      |  FROM orders GROUP BY 1
      |)
      |SELECT o.o_orderkey, o.o_orderpriority, o.o_totalprice,
      |  CASE WHEN s.cat_n > 1
      |    THEN ROUND((s.cat_sum - o.o_totalprice) / (s.cat_n - 1), 6)
      |  END AS loo_enc
      |FROM orders o JOIN stats s USING (o_orderpriority)
      |ORDER BY o.o_orderkey""".stripMargin

  /** q178 — temperature-scaled training-mix schedule per source: the
    * data-mixture table an LLM pretraining run is configured from.
    * Sampling weights follow the τ = 1/2 temperature rule
    * `p_s ∝ n_tokens(s)^τ` (the multilingual/multi-source upsampling
    * convention of mT5/XLM-R — square-root scaling lifts small
    * sources without letting the head dominate), reported against the
    * proportional share, with the upsampling boost and the number of
    * effective epochs each source would run at a 10M-token budget —
    * the overfit-risk column (epochs ≫ 1 on a small source means
    * memorization pressure). q62 enforces a GIVEN mix by sampling;
    * this DERIVES the mix from corpus statistics.
    *
    * Exactness: per-source token totals are exact BIGINT sums; each
    * √n is one correctly-rounded IEEE sqrt, rounded to 6dp before the
    * DECIMAL(28,6) normalization sum (order-independence across
    * sources — the q103 convention); every published ratio is one
    * fixed double chain over those engine-identical operands.
    *
    * Scale: one per-source aggregate over a narrow codegen token-count
    * map — map-side combinable, |sources| output rows, no shuffle
    * beyond the final tiny aggregate; the normalization runs on the
    * |sources|-row table via one window.
    */
  def mixTemperature(spark: SparkSession, dir: String,
                     budgetTokens: Long = 10000000L): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(28, 6)
    val perSource = Tables.load(spark, dir, "documents")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(graft.functions.TextFunctions.tokenCount(col("text")).cast("long"))
          .as("n_tokens"))
    val wAll = Window.partitionBy()
    perSource
      .withColumn("rw", round(sqrt(col("n_tokens").cast("double")), 6))
      .withColumn("sum_rw", sum(col("rw").cast(dec)).over(wAll).cast("double"))
      .withColumn("sum_tok", sum(col("n_tokens")).over(wAll))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        round(col("rw") / col("sum_rw"), 6).as("p_temp"),
        round(col("n_tokens").cast("double") / col("sum_tok"), 6).as("p_prop"),
        round((col("rw") / col("sum_rw")) /
          (col("n_tokens").cast("double") / col("sum_tok")), 6).as("boost"),
        round((col("rw") / col("sum_rw")) * lit(budgetTokens.toDouble) /
          col("n_tokens"), 6).as("epochs_at_budget"))
      .orderBy(col("source"))
  }

  def mixTemperatureSql(budgetTokens: Long = 10000000L): String =
    s"""WITH per_source AS (
      |  SELECT source, COUNT(*) AS n_docs,
      |    CAST(SUM(len(list_filter(
      |      string_split_regex(lower(text), '\\s+'), t -> t <> '')))
      |      AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY 1
      |), scored AS (
      |  SELECT source, n_docs, n_tokens,
      |    ROUND(sqrt(CAST(n_tokens AS DOUBLE)), 6) AS rw,
      |    CAST(SUM(CAST(ROUND(sqrt(CAST(n_tokens AS DOUBLE)), 6)
      |      AS DECIMAL(28,6))) OVER () AS DOUBLE) AS sum_rw,
      |    CAST(SUM(n_tokens) OVER () AS BIGINT) AS sum_tok
      |  FROM per_source
      |)
      |SELECT source, n_docs, n_tokens,
      |  ROUND(rw / sum_rw, 6) AS p_temp,
      |  ROUND(CAST(n_tokens AS DOUBLE) / sum_tok, 6) AS p_prop,
      |  ROUND((rw / sum_rw) / (CAST(n_tokens AS DOUBLE) / sum_tok), 6)
      |    AS boost,
      |  ROUND((rw / sum_rw) * CAST($budgetTokens AS DOUBLE) / n_tokens, 6)
      |    AS epochs_at_budget
      |FROM scored ORDER BY source""".stripMargin

  /** q195 — weighted median (lower) of line quantity per brand,
    * weighted by extended price: the first quantity, in (quantity,
    * orderkey, linenumber) order, whose cumulative weight reaches half
    * the brand's total. Revenue-weighted medians answer "what quantity
    * does the median DOLLAR ship at" — robust to the long tail of
    * cheap lines that drags the unweighted median, and the missing
    * sibling of the unweighted rank quantiles (q42) and MAD screen
    * (q95).
    *
    * Exactness: weights accumulate as DECIMAL(18,6) (window sum is
    * widened-decimal, order-independent); the crossing test compares
    * `2·cw ≥ W` in exact decimal arithmetic — no halving, no float
    * drift, so both engines pick the identical crossing row given the
    * identical total order (fully tiebroken by the line's PK).
    *
    * Scale: one shuffle on brand for the cumulative window plus a
    * map-side-combinable totals aggregate; the brand domain is small,
    * so per-partition sort is the cost — for a 100 TB run with huge
    * single groups, the two-pass bucketed prefix-sum path (q60's
    * histogram quantiles, weight-summed per bucket) replaces the
    * single-partition sort; this exact form is the oracle and the
    * small-group workhorse.
    */
  def weightedMedian(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
      .select(col("l_partkey"), col("l_orderkey"), col("l_linenumber"),
        col("l_quantity"),
        expr("CAST(l_extendedprice AS DECIMAL(18,6))").as("w"))
    val part = Tables.load(spark, dir, "part")
      .select(col("p_partkey"), col("p_brand"))
    val j = li.join(broadcast(part), col("l_partkey") === col("p_partkey"))
    val cumW = Window.partitionBy(col("p_brand"))
      .orderBy(col("l_quantity"), col("l_orderkey"), col("l_linenumber"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val totW = Window.partitionBy(col("p_brand"))
    val crossing = j
      .withColumn("cw", sum(col("w")).over(cumW))
      .withColumn("tw", sum(col("w")).over(totW))
      .filter(lit(2) * col("cw") >= col("tw"))
      .groupBy(col("p_brand"))
      .agg(min(col("l_quantity")).as("w_median_qty"))
    val totals = j.groupBy(col("p_brand"))
      .agg(sum(col("w")).cast("double").as("total_weight"),
        count(lit(1)).as("n_items"))
    totals.join(crossing, Seq("p_brand"))
      .select(col("p_brand"), col("w_median_qty"),
        col("total_weight"), col("n_items"))
      .orderBy(col("p_brand"))
  }

  val weightedMedianSql: String =
    """WITH j AS (
      |  SELECT p.p_brand, l.l_quantity, l.l_orderkey, l.l_linenumber,
      |    CAST(l.l_extendedprice AS DECIMAL(18,6)) AS w
      |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      |), c AS (
      |  SELECT p_brand, l_quantity,
      |    SUM(w) OVER (PARTITION BY p_brand
      |                 ORDER BY l_quantity, l_orderkey, l_linenumber
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
      |    SUM(w) OVER (PARTITION BY p_brand) AS tw
      |  FROM j
      |), sel AS (
      |  SELECT p_brand, MIN(l_quantity) AS w_median_qty
      |  FROM c WHERE 2 * cw >= tw GROUP BY 1
      |), t AS (
      |  SELECT p_brand, CAST(SUM(w) AS DOUBLE) AS total_weight,
      |    CAST(COUNT(*) AS BIGINT) AS n_items
      |  FROM j GROUP BY 1
      |)
      |SELECT t.p_brand, sel.w_median_qty, t.total_weight, t.n_items
      |FROM t JOIN sel USING (p_brand)
      |ORDER BY p_brand""".stripMargin

  /** q243 — cumulative gains/lift table: rank orders by value
    * (o_totalprice desc, the "inspect the big orders first" triage
    * score) into deciles and read off, decile by decile, what share
    * of all LATE orders (any lineitem shipped > 60 days after the
    * order date — the q235 lateness contract) the top-k% capture
    * versus the share of orders inspected — the operating curve every
    * score-gated intervention is actually chosen from ("auditing the
    * top 20% of orders catches 23% of late shipments — lift 1.15, the
    * score is nearly useless"). q207 grades a scorer with ONE number
    * (AUC); this is the threshold-choosing table behind any such
    * score.
    *
    * Determinism: deciles come from ntile over the TOTAL order
    * (o_totalprice desc, o_orderkey asc) — with the id tiebreak both
    * engines assign identical deciles, where a ties-unbroken ntile
    * would be pick-any. Counts stay integers through the cumulative
    * window; capture/share/lift are exact-integer quotients rounded
    * once, NULLIF-guarded so an SF with zero late orders degrades to
    * NULL rather than erroring.
    *
    * Scale: the label is one order-keyed semi-join (the q235 plan);
    * the decile now comes from [[Skew.globalNtile]] — the range-
    * exchange global rank plus closed-form bucket arithmetic, so NO
    * single-partition window remains in this plan (the round-10
    * closure of the q79/q147-family global-sort caveat; the oracle is
    * the unchanged built-in ntile); everything after the decile tag
    * collapses to 10 rows before the cumulative window.
    */
  def gainsTable(spark: SparkSession, dir: String,
                 lateDays: Int = 60): DataFrame = {
    val orders = Tables.load(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))
    val li = Tables.load(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_shipdate"))
    val late = orders.join(li,
        col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") > col("o_orderdate") +
            expr(s"INTERVAL $lateDays DAYS"),
        "left_semi")
      .select(col("o_orderkey"), lit(1).as("is_late"))
    val labeled = orders.join(late, Seq("o_orderkey"), "left")
      .withColumn("is_late", coalesce(col("is_late"), lit(0)))
    // Skew.globalNtile replaces the single-partition ntile window
    // (round-10: the q79-family global-sort caveat made real) —
    // bucket-for-bucket the built-in's assignment, computed from the
    // range-exchange global rank; the oracle is unchanged
    val deciled = Skew.globalNtile(labeled, 10,
      Seq(col("o_totalprice").desc, col("o_orderkey")), out = "decile")
    val perDecile = deciled.groupBy(col("decile"))
      .agg(count(lit(1)).as("n_orders"), sum(col("is_late")).as("n_late"))
    val wCum = Window.orderBy(col("decile"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val totals = perDecile.agg(sum(col("n_orders")).as("n_all"),
      sum(col("n_late")).as("late_all"))
    perDecile
      .withColumn("cum_orders", sum(col("n_orders")).over(wCum))
      .withColumn("cum_late", sum(col("n_late")).over(wCum))
      .crossJoin(broadcast(totals))
      .select(col("decile"), col("n_orders"), col("n_late"),
        round(col("cum_late").cast("double") /
          nullif(col("late_all").cast("double"), lit(0.0)), 6).as("capture"),
        round(col("cum_orders").cast("double") / col("n_all"), 6).as("share"),
        round((col("cum_late") * col("n_all")).cast("double") /
          nullif((col("cum_orders") * col("late_all")).cast("double"),
            lit(0.0)), 6).as("lift"))
      .orderBy(col("decile"))
  }

  def gainsTableSql(lateDays: Int = 60): String =
    s"""WITH labeled AS (
      |  SELECT o.o_orderkey, o.o_totalprice,
      |    CASE WHEN EXISTS (
      |      SELECT 1 FROM lineitem l
      |      WHERE l.l_orderkey = o.o_orderkey
      |        AND l.l_shipdate > o.o_orderdate + INTERVAL $lateDays DAY)
      |      THEN 1 ELSE 0 END AS is_late
      |  FROM orders o
      |), deciled AS (
      |  SELECT is_late,
      |    NTILE(10) OVER (ORDER BY o_totalprice DESC, o_orderkey) AS decile
      |  FROM labeled
      |), per_decile AS (
      |  SELECT decile, COUNT(*) AS n_orders, SUM(is_late) AS n_late
      |  FROM deciled GROUP BY decile
      |), cum AS (
      |  SELECT decile, n_orders, n_late,
      |    SUM(n_orders) OVER w AS cum_orders,
      |    SUM(n_late) OVER w AS cum_late
      |  FROM per_decile
      |  WINDOW w AS (ORDER BY decile
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |), totals AS (
      |  SELECT SUM(n_orders) AS n_all, SUM(n_late) AS late_all
      |  FROM per_decile
      |)
      |SELECT CAST(decile AS INT) AS decile,
      |  CAST(n_orders AS BIGINT) AS n_orders,
      |  CAST(n_late AS BIGINT) AS n_late,
      |  ROUND(CAST(cum_late AS DOUBLE)
      |    / NULLIF(CAST(t.late_all AS DOUBLE), 0.0), 6) AS capture,
      |  ROUND(CAST(cum_orders AS DOUBLE) / t.n_all, 6) AS share,
      |  ROUND(CAST(cum_late * t.n_all AS DOUBLE)
      |    / NULLIF(CAST(cum_orders * t.late_all AS DOUBLE), 0.0), 6) AS lift
      |FROM cum, totals t
      |ORDER BY decile""".stripMargin

  /** q247 — packing-budget sweep: for each candidate sequence length,
    * the fragmentation profile of the q53 chop-packer — how many
    * sequences the corpus fills, how many documents get SPLIT across
    * a sequence boundary (the truncated-context cost of chop-packing)
    * and the fill ratio of the sequence budget — the tuning table for
    * choosing a training sequence length. q53 commits to ONE budget;
    * this prices all the candidates from a single pass.
    *
    * Exactness: pure integer arithmetic — a doc crosses a boundary
    * iff cum_before div L < (cum_before + n_tokens − 1) div L (empty
    * docs guarded to false); sequences per bucket are
    * ceil(total/L) = (total + L − 1) div L; the only doubles are the
    * two final rounded ratios.
    *
    * Scale: the expensive part — token counts + the per-bucket
    * cumulative window — runs ONCE; every budget reuses the same
    * frame through a 4-way literal explode (map-side, no re-scan,
    * no re-sort). Aggregates collapse to |budgets| rows.
    */
  def packingSweep(spark: SparkSession, dir: String,
                   budgets: Seq[Int] = Seq(512, 1024, 2048, 4096),
                   nBuckets: Int = 32): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val t = docs.select(col("doc_id"),
      graft.functions.TextFunctions.tokenCount(col("text"))
        .cast("long").as("n_tokens"))
      .withColumn("bucket", md5Bucket(col("doc_id")) % nBuckets)
    val w = Window.partitionBy(col("bucket")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val c = t.withColumn("cum_before",
        coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .transform(graft.Iterate.cut) // one window pass feeds every budget + totals
    val budgetCol = explode(array(budgets.map(lit): _*)).as("budget")
    val fragged = c.select(col("*"), budgetCol)
      .withColumn("crosses",
        (col("n_tokens") > 0 &&
          expr("cum_before div budget") <
            expr("(cum_before + n_tokens - 1) div budget")).cast("long"))
      .groupBy(col("budget"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        sum(col("crosses")).as("frag_docs"))
    val seqs = c.groupBy(col("bucket"))
      .agg(sum(col("n_tokens")).as("tot"))
      .select(col("tot"), explode(array(budgets.map(lit): _*)).as("budget"))
      .groupBy(col("budget"))
      .agg(sum(expr("(tot + budget - 1) div budget")).as("n_seqs"))
    fragged.join(seqs, "budget")
      .select(col("budget"), col("n_docs"), col("total_tokens"),
        col("n_seqs"), col("frag_docs"),
        round(col("frag_docs").cast("double") / col("n_docs"), 6)
          .as("frag_rate"),
        round(col("total_tokens").cast("double") /
          (col("n_seqs") * col("budget")).cast("double"), 6).as("fill_ratio"))
      .orderBy(col("budget"))
  }

  def packingSweepSql(budgets: Seq[Int] = Seq(512, 1024, 2048, 4096),
                      nBuckets: Int = 32): String = {
    val blist = budgets.mkString("[", ", ", "]")
    s"""WITH t AS (
      |  SELECT doc_id,
      |    CAST(${TextAnalysis.tokenCountExprSql} AS BIGINT) AS n_tokens,
      |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
      |      % $nBuckets AS bucket
      |  FROM documents
      |), c AS (
      |  SELECT doc_id, bucket, n_tokens,
      |    CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      |      AS cum_before
      |  FROM t
      |), fragged AS (
      |  SELECT b.budget,
      |    COUNT(*) AS n_docs,
      |    SUM(n_tokens) AS total_tokens,
      |    SUM(CASE WHEN n_tokens > 0
      |      AND cum_before // b.budget
      |        < (cum_before + n_tokens - 1) // b.budget
      |      THEN 1 ELSE 0 END) AS frag_docs
      |  FROM c, (SELECT unnest($blist) AS budget) b
      |  GROUP BY b.budget
      |), seqs AS (
      |  SELECT b.budget, SUM((tot + b.budget - 1) // b.budget) AS n_seqs
      |  FROM (SELECT bucket, SUM(n_tokens) AS tot FROM c GROUP BY bucket),
      |    (SELECT unnest($blist) AS budget) b
      |  GROUP BY b.budget
      |)
      |SELECT CAST(f.budget AS INT) AS budget,
      |  CAST(f.n_docs AS BIGINT) AS n_docs,
      |  CAST(f.total_tokens AS BIGINT) AS total_tokens,
      |  CAST(s.n_seqs AS BIGINT) AS n_seqs,
      |  CAST(f.frag_docs AS BIGINT) AS frag_docs,
      |  ROUND(CAST(f.frag_docs AS DOUBLE) / f.n_docs, 6) AS frag_rate,
      |  ROUND(CAST(f.total_tokens AS DOUBLE)
      |    / CAST(s.n_seqs * f.budget AS DOUBLE), 6) AS fill_ratio
      |FROM fragged f JOIN seqs s ON s.budget = f.budget
      |ORDER BY f.budget""".stripMargin
  }

  /** q274 — Neyman (variance-optimal) sample allocation per source:
    * given a total sampling budget, how many docs should each source
    * contribute so the stratified estimate of mean length has MINIMUM
    * variance? n_h ∝ N_h·σ_h — big AND internally-diverse strata earn
    * samples; a huge-but-uniform source earns few. The principled
    * upgrade over q44's equal-per-stratum and the proportional rule
    * (allocation theory from classic survey sampling, the same
    * family as q67's PPS). Allocations are integers that sum EXACTLY
    * to the budget (largest-remainder apportionment, the q105
    * exhaustiveness discipline).
    *
    * Exactness: N_h·σ_h = √(N_h·Σx² − (Σx)²) — the radicand is an
    * exact DECIMAL(38,0) integer, √ is correctly-rounded IEEE on both
    * engines (q29 precedent), and the weight is 6dp-rounded then
    * SCALED TO AN INTEGER, so base shares and remainders are pure
    * integer arithmetic: base_h = (budget·w_h) div W, leftover dealt
    * by (remainder, source) rank. No double comparisons anywhere in
    * the apportionment.
    *
    * Scale: one documents scan into a |sources|-row aggregate; the
    * apportionment is catalog-sized window algebra.
    */
  def neymanAllocation(spark: SparkSession, dir: String,
                       budget: Long = 1000L): DataFrame = {
    val wAll = Window.partitionBy()
    val stats = Tables.load(spark, dir, "documents")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(expr("CAST(n_chars AS DECIMAL(38,0))")).as("sx"),
        sum(expr("CAST(n_chars AS DECIMAL(38,0)) * n_chars")).as("sxx"))
      // round-to-integer BEFORE the long cast: Spark's double→long
      // cast truncates while DuckDB's rounds; an explicit ROUND is
      // half-up on positives in both engines, so the scaled weight is
      // the same integer everywhere
      .withColumn("wi",
        round(sqrt((col("n_docs") * col("sxx") - col("sx") * col("sx"))
          .cast("double")) * 1e6).cast("long"))
    val alloc = stats
      .withColumn("w_tot", sum(col("wi")).over(wAll))
      .withColumn("base", expr(s"($budget * wi) div w_tot"))
      .withColumn("rem", expr(s"$budget * wi - base * w_tot"))
      .withColumn("leftover", lit(budget) - sum(col("base")).over(wAll))
      .withColumn("pri", row_number().over(
        Window.orderBy(col("rem").desc, col("source"))))
      .withColumn("alloc",
        (col("base") + when(col("pri") <= col("leftover"), 1L).otherwise(0L))
          .cast("long"))
    alloc.select(col("source"), col("n_docs"),
        round(col("wi") / 1e6 / col("n_docs"), 6).as("sigma"),
        col("alloc"))
      .orderBy(col("source"))
  }

  def neymanAllocationSql(budget: Long = 1000L): String =
    s"""WITH stats AS (
       |  SELECT source, COUNT(*) AS n_docs,
       |    SUM(CAST(n_chars AS HUGEINT)) AS sx,
       |    SUM(CAST(n_chars AS HUGEINT) * n_chars) AS sxx
       |  FROM documents GROUP BY source
       |), weighted AS (
       |  SELECT source, n_docs,
       |    CAST(ROUND(sqrt(CAST(n_docs * sxx - sx * sx AS DOUBLE)) * 1e6)
       |      AS BIGINT) AS wi
       |  FROM stats
       |), shares AS (
       |  SELECT source, n_docs, wi,
       |    SUM(wi) OVER () AS w_tot,
       |    ($budget * wi) // SUM(wi) OVER () AS base,
       |    $budget * wi - (($budget * wi) // SUM(wi) OVER ()) * SUM(wi) OVER ()
       |      AS rem
       |  FROM weighted
       |), dealt AS (
       |  SELECT source, n_docs, wi, base,
       |    $budget - SUM(base) OVER () AS leftover,
       |    ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS pri
       |  FROM shares
       |)
       |SELECT source, n_docs,
       |  ROUND(wi / 1e6 / n_docs, 6) AS sigma,
       |  CAST(base + CASE WHEN pri <= leftover THEN 1 ELSE 0 END AS BIGINT)
       |    AS alloc
       |FROM dealt
       |ORDER BY source""".stripMargin

  /** q290 — weak-supervision labeling-function audit (the Snorkel-
    * style diagnostic matrix): five deterministic label functions
    * vote keep(+1)/drop(−1)/abstain(0) on every document — token
    * length, stopword density, distinct-token (repetition) ratio,
    * average word length, character budget — each two-sided with an
    * abstain band, and the audit reports, for every LF pair (diagonal
    * included), how often both fire, agree, and conflict. This is the
    * table a curation team reads BEFORE trusting a rule-built label
    * set: a high-conflict pair means the rules encode different
    * notions of quality; a zero-overlap pair means the matrix can't
    * estimate their correlation. Diagonal rows carry each LF's
    * coverage (n_both = votes cast) and polarity split via n_agree
    * (= n_pos on the diagonal, since a vote always agrees with
    * itself) — so one relation holds the whole diagnostic.
    *
    * Every vote threshold is an INTEGER cross-multiplication (e.g.
    * `5*digits > chars`, never `digits/chars > 0.2`) so both engines
    * decide identically with no float drift. Scale: one narrow map
    * builds the 5 votes, an unpivot + doc-keyed self-join fans each
    * doc to ≤15 pairs (literal bound — LF count, not data), one pair
    * aggregate; nothing corpus-squared.
    */
  def lfAudit(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.{langStopwords, stopwordHits,
      tokenCount, tokens}
    val docs = Tables.load(spark, dir, "documents")
    val n = tokenCount(col("text"))
    val dn = size(array_distinct(tokens(col("text"))))
    val s = stopwordHits(col("text"), langStopwords.head._2)
    val c = length(col("text"))
    // avg word length numerator: chars minus the n−1 separators
    val wl = c - n + 1
    val votes = docs.select(col("doc_id"),
      when(n >= 70, 1).when(n < 25, -1).otherwise(0).as("lf_length"),
      when(s * 10 >= n && n > 0, 1).when(s * 50 < n, -1)
        .otherwise(0).as("lf_stopword"),
      when(dn * 10 >= n * 7, 1).when(dn * 5 < n * 2, -1)
        .otherwise(0).as("lf_repeat"),
      when(wl * 10 >= n * 47 && n > 0, 1).when(wl * 10 < n * 43, -1)
        .otherwise(0).as("lf_wordlen"),
      when(c >= 400, 1).when(c < 150, -1).otherwise(0).as("lf_charbudget"))
    val lfs = Seq("lf_length", "lf_stopword", "lf_repeat", "lf_wordlen",
      "lf_charbudget")
    val long = votes.select(col("doc_id"), expr(
      "stack(" + lfs.length + ", " +
        lfs.map(f => s"'$f', $f").mkString(", ") + ") AS (lf, vote)"))
      .filter(col("vote") =!= 0)
    long.as("a").join(long.as("b"),
        col("a.doc_id") === col("b.doc_id") && col("a.lf") <= col("b.lf"))
      .groupBy(col("a.lf").as("lf_a"), col("b.lf").as("lf_b"))
      .agg(count(lit(1)).as("n_both"),
        sum(when(col("a.vote") === col("b.vote"), 1L).otherwise(0L))
          .as("n_agree"),
        sum(when(col("a.vote") =!= col("b.vote"), 1L).otherwise(0L))
          .as("n_conflict"))
      .withColumn("conflict_rate",
        round(col("n_conflict").cast("double") / col("n_both"), 6))
      .orderBy(col("lf_a"), col("lf_b"))
  }

  val lfAuditSql: String = {
    val stop = graft.functions.TextFunctions.langStopwords.head._2
      .map(w => s"'$w'").mkString(",")
    s"""WITH m AS (
       |  SELECT doc_id,
       |    len(list_filter(string_split_regex(lower(text), '\\s+'),
       |      t -> t <> '')) AS n,
       |    len(list_distinct(list_filter(
       |      string_split_regex(lower(text), '\\s+'), t -> t <> ''))) AS dn,
       |    len(list_filter(string_split_regex(lower(text), '\\s+'),
       |      t -> t IN ($stop))) AS s,
       |    length(text) AS c
       |  FROM documents
       |), votes AS (
       |  SELECT doc_id,
       |    CASE WHEN n >= 70 THEN 1 WHEN n < 25 THEN -1 ELSE 0 END AS lf_length,
       |    CASE WHEN s * 10 >= n AND n > 0 THEN 1
       |         WHEN s * 50 < n THEN -1 ELSE 0 END AS lf_stopword,
       |    CASE WHEN dn * 10 >= n * 7 THEN 1
       |         WHEN dn * 5 < n * 2 THEN -1 ELSE 0 END AS lf_repeat,
       |    CASE WHEN (c - n + 1) * 10 >= n * 47 AND n > 0 THEN 1
       |         WHEN (c - n + 1) * 10 < n * 43 THEN -1 ELSE 0 END AS lf_wordlen,
       |    CASE WHEN c >= 400 THEN 1 WHEN c < 150 THEN -1 ELSE 0 END
       |      AS lf_charbudget
       |  FROM m
       |), long AS (
       |  SELECT doc_id, lf, vote FROM (
       |    SELECT doc_id, 'lf_length' AS lf, lf_length AS vote FROM votes
       |    UNION ALL SELECT doc_id, 'lf_stopword', lf_stopword FROM votes
       |    UNION ALL SELECT doc_id, 'lf_repeat', lf_repeat FROM votes
       |    UNION ALL SELECT doc_id, 'lf_wordlen', lf_wordlen FROM votes
       |    UNION ALL SELECT doc_id, 'lf_charbudget', lf_charbudget FROM votes
       |  ) WHERE vote <> 0
       |)
       |SELECT a.lf AS lf_a, b.lf AS lf_b,
       |  CAST(COUNT(*) AS BIGINT) AS n_both,
       |  CAST(SUM(CASE WHEN a.vote = b.vote THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_agree,
       |  CAST(SUM(CASE WHEN a.vote <> b.vote THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_conflict,
       |  ROUND(SUM(CASE WHEN a.vote <> b.vote THEN 1 ELSE 0 END)
       |    / COUNT(*), 6) AS conflict_rate
       |FROM long a JOIN long b ON a.doc_id = b.doc_id AND a.lf <= b.lf
       |GROUP BY 1, 2
       |ORDER BY lf_a, lf_b""".stripMargin
  }

  /** q320 — training-shard assignment audit: documents land in
    * `nShards` output shards by the deterministic md5 hash every
    * epoch-shuffled training run uses (same doc → same shard across
    * reruns and retried tasks — the idempotence sampling already
    * relies on), and the relation reports what the data-loading tier
    * actually cares about: per-shard document/token/byte volume, each
    * shard's deviation from the uniform expectation, and the global
    * imbalance chi² with the q167 decimal-term convention (df =
    * nShards − 1; at 16 shards the 0.05 critical value is 24.995790).
    * A skewed shard is a straggler at training time; this is the
    * pre-flight check that catches it while it's still a repartition
    * away from free.
    *
    * Scale: one narrow map (hash + token count ride the scan) and one
    * nShards-row aggregate — no joins; the window runs over the shard
    * table. Exactness: volumes are integers; chi² terms round to 6dp
    * and sum as DECIMAL(28,6).
    */
  def shardBalance(spark: SparkSession, dir: String,
                   nShards: Int = 16): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    import graft.functions.TextFunctions.tokenCount
    val docs = Tables.load(spark, dir, "documents")
      .select(
        pmod(graft.functions.PortableHash.md5Long32(col("doc_id")),
          lit(nShards.toLong)).as("shard"),
        tokenCount(col("text")).cast("long").as("toks"),
        col("n_chars"))
    val shards = docs.groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("n_tokens"),
        sum(col("n_chars")).as("n_bytes"))
    val w = Window.partitionBy(lit(1))
    shards
      .withColumn("total_docs", sum(col("n_docs")).over(w))
      .withColumn("exp", col("total_docs").cast("double") / nShards)
      .withColumn("term",
        round(pow(col("n_docs") - col("exp"), 2) / col("exp"), 6)
          .cast(DecimalType(28, 6)))
      .withColumn("chi2", sum(col("term")).over(w).cast("double"))
      .select(col("shard"), col("n_docs"), col("n_tokens"), col("n_bytes"),
        round(col("n_docs") / col("exp"), 6).as("load_factor"),
        col("chi2"), (col("chi2") > 24.995790).as("imbalanced"))
      .orderBy(col("shard"))
  }

  def shardBalanceSql(nShards: Int = 16): String =
    s"""WITH docs AS (
       |  SELECT CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
       |      AS BIGINT) % $nShards AS shard,
       |    ${graft.operators.TextAnalysis.tokenCountExprSql} AS toks,
       |    n_chars
       |  FROM documents
       |), shards AS (
       |  SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(toks) AS BIGINT) AS n_tokens,
       |    CAST(SUM(n_chars) AS BIGINT) AS n_bytes
       |  FROM docs GROUP BY shard
       |), terms AS (
       |  SELECT *, SUM(n_docs) OVER () AS total_docs,
       |    CAST(SUM(n_docs) OVER () AS DOUBLE) / $nShards AS exp,
       |    CAST(ROUND(POW(n_docs - CAST(SUM(n_docs) OVER () AS DOUBLE)
       |        / $nShards, 2)
       |      / (CAST(SUM(n_docs) OVER () AS DOUBLE) / $nShards), 6)
       |      AS DECIMAL(28,6)) AS term
       |  FROM shards
       |)
       |SELECT shard, n_docs, n_tokens, n_bytes,
       |  ROUND(n_docs / exp, 6) AS load_factor,
       |  CAST(SUM(term) OVER () AS DOUBLE) AS chi2,
       |  CAST(SUM(term) OVER () AS DOUBLE) > 24.995790 AS imbalanced
       |FROM terms
       |ORDER BY shard""".stripMargin

  /** q333 — Lorenz curve of token mass over documents: docs ranked by
    * token count (full tiebreak) into deciles via [[Skew.globalNtile]]
    * — the range-exchange path, no single-partition window — with
    * per-decile token sums and the cumulative share curve. The
    * curve q133's scalar Gini integrates: "the top decile of
    * documents holds X% of the tokens" is the packing/budget reading
    * a context-window planner and a storage-tiering decision both
    * consume. Second graded consumer of the distributed ntile (after
    * q243), against the built-in-ntile oracle.
    *
    * Exactness: token counts integers; shares are single rounded
    * divisions of exact sums. Scale: the ranking sorts in parallel
    * across range partitions; everything after is 10 rows.
    */
  def lorenzCurve(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.tokenCount
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), tokenCount(col("text")).cast("long").as("t"))
    val deciled = Skew.globalNtile(docs, 10,
      Seq(col("t"), col("doc_id")), out = "decile")
    val cells = deciled.groupBy(col("decile"))
      .agg(count(lit(1)).as("n_docs"), sum(col("t")).as("decile_tokens"))
    val w = Window.orderBy(col("decile"))
      .rowsBetween(Window.unboundedPreceding, 0)
    cells
      .withColumn("cum_tokens", sum(col("decile_tokens")).over(w))
      .withColumn("total", sum(col("decile_tokens")).over(
        Window.partitionBy(lit(1))))
      .select(col("decile"), col("n_docs"), col("decile_tokens"),
        round(col("decile_tokens").cast("double") /
          col("total").cast("double"), 6).as("token_share"),
        round(col("cum_tokens").cast("double") /
          col("total").cast("double"), 6).as("cum_share"))
      .orderBy(col("decile"))
  }

  val lorenzCurveSql: String =
    s"""WITH docs AS (
       |  SELECT doc_id,
       |    CAST(${graft.operators.TextAnalysis.tokenCountExprSql} AS BIGINT)
       |      AS t
       |  FROM documents
       |), deciled AS (
       |  SELECT t, ntile(10) OVER (ORDER BY t, doc_id) AS decile FROM docs
       |), cells AS (
       |  SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(t) AS BIGINT) AS decile_tokens
       |  FROM deciled GROUP BY 1
       |)
       |SELECT decile, n_docs, decile_tokens,
       |  ROUND(CAST(decile_tokens AS DOUBLE)
       |    / CAST(SUM(decile_tokens) OVER () AS DOUBLE), 6) AS token_share,
       |  ROUND(CAST(SUM(decile_tokens) OVER (ORDER BY decile
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
       |    / CAST(SUM(decile_tokens) OVER () AS DOUBLE), 6) AS cum_share
       |FROM cells
       |ORDER BY decile""".stripMargin

  /** q359 — quality-threshold retention curve: for each candidate
    * cutoff on the shared 6dp quality score, how many documents and
    * tokens survive and what the surviving mean quality reads — the
    * dial table you consult BEFORE hard-coding a quality gate (q63's
    * pipeline fixes 0.5; q227 is this same instrument for the dedup
    * threshold). Tokens-retained is the budget axis; mean-quality of
    * the survivors is the payoff axis; the knee is the cutoff.
    * Thresholds that keep nothing stay as visible zero rows.
    *
    * Exactness: per-doc quality is the 6dp score held as integer
    * micros; the threshold compare (qm ≥ thr·1e6 as integers) and all
    * counts are exact; means use the half-up micro convention.
    * Scale: ONE corpus scan; the ×|grid| explode runs over the
    * per-doc (tokens, micro-quality) pairs — a narrow frame — and
    * aggregates per threshold.
    */
  def qualityRetentionCurve(spark: SparkSession, dir: String,
      thresholds: Seq[Double] = Seq(0.0, 0.2, 0.4, 0.5, 0.6, 0.8, 0.9))
      : DataFrame = {
    import graft.functions.TextFunctions.{qualityScore, tokenCount}
    val docs = Tables.load(spark, dir, "documents")
      .select(tokenCount(col("text")).cast("long").as("t"),
        round(qualityScore(col("text")) * 1e6, 0).cast("long").as("qm"))
    val grid = spark.range(1)
      .select(explode(array(thresholds.map(lit): _*)).as("threshold"))
    val total = docs.agg(count(lit(1)).as("n_total"),
      sum(col("t")).as("tokens_total"))
    docs.crossJoin(broadcast(grid))
      .withColumn("keep",
        (col("qm") >= round(col("threshold") * 1e6, 0).cast("long"))
          .cast("long"))
      .groupBy(col("threshold"))
      .agg(sum(col("keep")).as("n_kept"),
        coalesce(sum(when(col("keep") === 1, col("t"))), lit(0L))
          .as("tokens_kept"),
        sum(when(col("keep") === 1, col("qm"))).as("qm_kept"))
      .crossJoin(broadcast(total))
      .select(col("threshold"), col("n_kept"), col("tokens_kept"),
        round(col("n_kept").cast("double") / col("n_total").cast("double"), 6)
          .as("doc_retention"),
        round(col("tokens_kept").cast("double")
          / col("tokens_total").cast("double"), 6).as("token_retention"),
        when(col("n_kept") > 0,
          expr("CAST((2 * qm_kept + n_kept) div (2 * n_kept) AS DOUBLE)") / 1e6)
          .as("mean_quality_kept"))
      .orderBy(col("threshold"))
  }

  def qualityRetentionCurveSql(
      thresholds: Seq[Double] = Seq(0.0, 0.2, 0.4, 0.5, 0.6, 0.8, 0.9))
      : String = {
    val grid = thresholds.map(t => s"($t)").mkString(", ")
    s"""WITH docs AS (
       |  SELECT ${graft.operators.TextAnalysis.tokenCountExprSql} AS t,
       |    CAST(ROUND((${graft.operators.TextAnalysis.qualityExprSql})
       |      * 1000000, 0) AS BIGINT) AS qm
       |  FROM documents
       |), grid(threshold) AS (VALUES $grid),
       |total AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
       |    CAST(SUM(t) AS BIGINT) AS tokens_total
       |  FROM docs
       |), cells AS (
       |  SELECT g.threshold,
       |    CAST(SUM(CASE WHEN d.qm >= CAST(ROUND(g.threshold * 1000000, 0) AS BIGINT)
       |      THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |    CAST(COALESCE(SUM(CASE WHEN d.qm >=
       |      CAST(ROUND(g.threshold * 1000000, 0) AS BIGINT) THEN d.t END), 0)
       |      AS BIGINT) AS tokens_kept,
       |    CAST(SUM(CASE WHEN d.qm >= CAST(ROUND(g.threshold * 1000000, 0) AS BIGINT)
       |      THEN d.qm END) AS BIGINT) AS qm_kept
       |  FROM docs d CROSS JOIN grid g
       |  GROUP BY 1
       |)
       |SELECT c.threshold, c.n_kept, c.tokens_kept,
       |  ROUND(CAST(c.n_kept AS DOUBLE) / CAST(t.n_total AS DOUBLE), 6)
       |    AS doc_retention,
       |  ROUND(CAST(c.tokens_kept AS DOUBLE) / CAST(t.tokens_total
       |    AS DOUBLE), 6) AS token_retention,
       |  CASE WHEN c.n_kept > 0 THEN
       |    CAST((2 * c.qm_kept + c.n_kept) // (2 * c.n_kept) AS DOUBLE)
       |      / 1000000.0 END AS mean_quality_kept
       |FROM cells c CROSS JOIN total t
       |ORDER BY c.threshold""".stripMargin
  }

  /** q356 — greedy token-budget source selection (the knapsack-greedy
    * mixing decision): sources ranked by quality-per-token density
    * (integer-micro mean of the shared 6dp quality score), then
    * greedily admitted in density order until the token budget is
    * spent — the first source that doesn't fully fit is admitted
    * FRACTIONALLY (its take_tokens = the remaining budget; the
    * fractional-knapsack optimum for a divisible corpus, which token
    * sampling makes true in practice). One row per source in greedy
    * order: density, cumulative tokens before it, its take, and the
    * admitted fraction — the "what gets in at budget B and why"
    * worklist, complementing q62/q178's proportional mixes with the
    * quality-maximizing corner solution.
    *
    * Exactness: token counts and micro-quality sums are integers; the
    * density is one rounded division; takes are integer min/greatest
    * algebra over a cumulative window on |sources| rows.
    */
  def greedyBudgetSelect(spark: SparkSession, dir: String,
                         budgetTokens: Long = 20000L): DataFrame = {
    import graft.functions.TextFunctions.{qualityScore, tokenCount}
    val bySrc = Tables.load(spark, dir, "documents")
      .select(col("source"),
        tokenCount(col("text")).cast("long").as("t"),
        round(qualityScore(col("text")) * 1e6, 0).cast("long").as("qm"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("t")).as("src_tokens"),
        sum(col("qm")).as("q_micro"))
      .withColumn("density",
        round(col("q_micro").cast("double") / 1e6
          / col("src_tokens").cast("double"), 9))
    val w = Window.orderBy(col("density").desc, col("source"))
      .rowsBetween(Window.unboundedPreceding, -1)
    bySrc
      .withColumn("cum_before",
        coalesce(sum(col("src_tokens")).over(w), lit(0L)))
      .withColumn("take_tokens",
        greatest(lit(0L),
          least(col("src_tokens"), lit(budgetTokens) - col("cum_before"))))
      .select(col("source"), col("n_docs"), col("src_tokens"),
        col("density"), col("cum_before"), col("take_tokens"),
        round(col("take_tokens").cast("double")
          / col("src_tokens").cast("double"), 6).as("admitted_frac"))
      .orderBy(col("density").desc, col("source"))
  }

  def greedyBudgetSelectSql(budgetTokens: Long = 20000L): String =
    s"""WITH by_src AS (
       |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(t) AS BIGINT) AS src_tokens,
       |    CAST(SUM(qm) AS BIGINT) AS q_micro
       |  FROM (
       |    SELECT source,
       |      ${TextAnalysis.tokenCountExprSql} AS t,
       |      CAST(ROUND((${TextAnalysis.qualityExprSql}) * 1000000, 0)
       |        AS BIGINT) AS qm
       |    FROM documents
       |  )
       |  GROUP BY 1
       |), dens AS (
       |  SELECT *, ROUND(CAST(q_micro AS DOUBLE) / 1000000.0
       |    / CAST(src_tokens AS DOUBLE), 9) AS density
       |  FROM by_src
       |)
       |SELECT source, n_docs, src_tokens, density,
       |  CAST(COALESCE(SUM(src_tokens) OVER (ORDER BY density DESC, source
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |    AS cum_before,
       |  CAST(GREATEST(0, LEAST(src_tokens,
       |    $budgetTokens - COALESCE(SUM(src_tokens)
       |      OVER (ORDER BY density DESC, source
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)))
       |    AS BIGINT) AS take_tokens,
       |  ROUND(CAST(GREATEST(0, LEAST(src_tokens,
       |    $budgetTokens - COALESCE(SUM(src_tokens)
       |      OVER (ORDER BY density DESC, source
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)))
       |    AS DOUBLE) / CAST(src_tokens AS DOUBLE), 6) AS admitted_frac
       |FROM dens
       |ORDER BY density DESC, source""".stripMargin

  /** q331 — leave-one-out source ablation: for every source, the
    * corpus-level quality and volume statistics WITHOUT that source —
    * "which feed moves the needle, and in which direction" as one
    * relation. Dropping a source whose `delta_mean_quality` is
    * negative RAISES corpus quality; `token_share` prices what that
    * costs in volume. This is pure group algebra (global sums minus
    * group sums), so the whole ablation fan-out costs ONE aggregate —
    * no per-source re-scan, which is exactly why it scales where the
    * naive "filter and recompute per source" loop doesn't.
    *
    * Exactness: quality is the shared 6dp score summed as DECIMAL;
    * every mean uses the integer-micro half-up convention off exact
    * (count, micro-sum) pairs; deltas subtract two such means.
    */
  def sourceAblation(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.{qualityScore, tokenCount}
    val docs = Tables.load(spark, dir, "documents")
      .select(col("source"),
        tokenCount(col("text")).cast("long").as("t"),
        round(qualityScore(col("text")) * 1e6, 0).cast("long").as("qm"))
    val bySrc = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_s"), sum(col("t")).as("t_s"),
        sum(col("qm")).as("q_s"))
    val totals = bySrc.agg(sum(col("n_s")).as("n"), sum(col("t_s")).as("tt"),
      sum(col("q_s")).as("qq"))
    bySrc.crossJoin(broadcast(totals))
      .select(col("source"), col("n_s").as("n_docs"),
        round(col("t_s").cast("double") / col("tt").cast("double"), 6)
          .as("token_share"),
        (expr("CAST((2 * q_s + n_s) div (2 * n_s) AS DOUBLE)") / 1e6)
          .as("mean_quality"),
        (expr("CAST((2 * qq + n) div (2 * n) AS DOUBLE)") / 1e6)
          .as("corpus_mean"),
        round(
          expr("CAST((2 * (qq - q_s) + (n - n_s)) div (2 * (n - n_s)) AS DOUBLE)") / 1e6 -
          expr("CAST((2 * qq + n) div (2 * n) AS DOUBLE)") / 1e6, 6)
          .as("delta_mean_quality"))
      .orderBy(col("source"))
  }

  val sourceAblationSql: String =
    s"""WITH docs AS (
       |  SELECT source,
       |    ${graft.operators.TextAnalysis.tokenCountExprSql} AS t,
       |    CAST(ROUND(${graft.operators.TextAnalysis.qualityExprSql} * 1e6, 0)
       |      AS BIGINT) AS qm
       |  FROM documents
       |), by_src AS (
       |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_s,
       |    CAST(SUM(t) AS BIGINT) AS t_s, CAST(SUM(qm) AS BIGINT) AS q_s
       |  FROM docs GROUP BY 1
       |), totals AS (
       |  SELECT CAST(SUM(n_s) AS BIGINT) AS n, CAST(SUM(t_s) AS BIGINT) AS tt,
       |    CAST(SUM(q_s) AS BIGINT) AS qq
       |  FROM by_src
       |)
       |SELECT source, n_s AS n_docs,
       |  ROUND(CAST(t_s AS DOUBLE) / CAST(tt AS DOUBLE), 6) AS token_share,
       |  CAST((2 * q_s + n_s) // (2 * n_s) AS DOUBLE) / 1e6 AS mean_quality,
       |  CAST((2 * qq + n) // (2 * n) AS DOUBLE) / 1e6 AS corpus_mean,
       |  ROUND(CAST((2 * (qq - q_s) + (n - n_s)) // (2 * (n - n_s))
       |      AS DOUBLE) / 1e6
       |    - CAST((2 * qq + n) // (2 * n) AS DOUBLE) / 1e6, 6)
       |    AS delta_mean_quality
       |FROM by_src, totals
       |ORDER BY source""".stripMargin

  /** q315 — DSIR importance resampling (Xie et al., NeurIPS 2023
    * "Data Selection for Language Models via Importance Resampling"):
    * raw-pool documents are weighted by the log-likelihood ratio of
    * two hashed-unigram bag models — the TARGET domain (the
    * lexicographically-first source stands in for "quality" data)
    * versus the remaining RAW pool — and resampled by Gumbel-top-k on
    * the weights, the paper's exact sampling-without-replacement
    * construction. The selected set is the "looks most like the
    * target domain" training subset, the method FineWeb-class
    * pipelines use to steer mixture composition without training a
    * classifier.
    *
    * Determinism/parity: feature hashing is [[graft.functions
    * .PortableHash.md5Long32]] mod B buckets; add-1-smoothed bucket
    * log-ratios round to 6dp and multiply exact per-doc bucket counts
    * into a DECIMAL(18,6) sum (order-independent); the Gumbel noise
    * is inverse-CDF'd from the q308-style seeded md5 uniform. Both
    * engines derive the identical selection. Scale: one token
    * explode collapsing map-side to (doc, bucket) counts, bucket
    * stats broadcast (B rows), one narrow per-doc aggregate, and a
    * TakeOrdered top-k — no corpus-sized sort.
    */
  def dsirSelect(spark: SparkSession, dir: String, buckets: Int = 256,
                 k: Int = 64): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    import graft.functions.PortableHash
    import graft.functions.TextFunctions.tokens
    val docs = Tables.load(spark, dir, "documents")
    val target = docs.agg(min(col("source"))).head.getString(0)
    val toks = docs
      .select(col("doc_id"), col("source"),
        explode(tokens(col("text"))).as("t"))
      .withColumn("b", pmod(PortableHash.md5Long32(col("t")),
        lit(buckets.toLong)))
    val docBuckets = toks.groupBy(col("doc_id"), col("source"), col("b"))
      .agg(count(lit(1)).as("cd"))
      .transform(graft.Iterate.cut) // consumers: both pool counts + the scoring join
    val domain = spark.range(buckets).select(col("id").as("b"))
    def pool(cond: Column): DataFrame = domain
      .join(docBuckets.filter(cond).groupBy(col("b"))
        .agg(sum(col("cd")).as("c")), Seq("b"), "left")
      .select(col("b"), coalesce(col("c"), lit(0L)).as("c"))
    val ct = pool(col("source") === target)
      .withColumnRenamed("c", "ct")
    val cr = pool(col("source") =!= target)
      .withColumnRenamed("c", "cr")
    val stats = ct.join(cr, "b")
      .crossJoin(broadcast(
        ct.agg(sum(col("ct")).as("nt"))
          .crossJoin(cr.agg(sum(col("cr")).as("nr")))))
      .select(col("b"), round(
        log10((col("ct") + 1).cast("double") /
          (col("nt") + buckets).cast("double")) -
        log10((col("cr") + 1).cast("double") /
          (col("nr") + buckets).cast("double")), 6)
        .cast(DecimalType(12, 6)).as("diff"))
    val logw = docBuckets.filter(col("source") =!= target)
      .join(broadcast(stats), "b")
      .groupBy(col("doc_id"), col("source"))
      .agg(sum(col("cd")).as("n_toks"),
        sum(col("cd") * col("diff")).cast(DecimalType(18, 6)).as("lw"))
    val u = (PortableHash.md5Long60(col("doc_id")).cast("double") + 0.5) /
      lit((1L << 60).toDouble)
    val scored = logw
      .withColumn("gumbel", round(-log(-log(u)), 6))
      .withColumn("log_ratio", col("lw").cast("double"))
      .withColumn("score",
        round(col("log_ratio") + col("gumbel"), 6))
      .select(col("doc_id"), col("source"), col("n_toks"),
        col("log_ratio"), col("gumbel"), col("score"))
      .orderBy(col("score").desc, col("doc_id")).limit(k)
    scored.withColumn("rank", row_number().over(
        Window.orderBy(col("score").desc, col("doc_id"))).cast("int"))
      .orderBy(col("rank"))
  }

  def dsirSelectSql(buckets: Int = 256, k: Int = 64): String =
    s"""WITH target AS (SELECT MIN(source) AS ts FROM documents),
       |toks AS (
       |  SELECT doc_id, source,
       |    CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT) % $buckets AS b
       |  FROM (
       |    SELECT doc_id, source, unnest(list_filter(
       |      string_split_regex(lower(text), '\\s+'), t -> t <> '')) AS t
       |    FROM documents)
       |), doc_buckets AS (
       |  SELECT doc_id, source, b, COUNT(*) AS cd
       |  FROM toks GROUP BY 1, 2, 3
       |), domain AS (
       |  SELECT unnest(range(0, $buckets)) AS b
       |), ct AS (
       |  SELECT d.b, COALESCE(SUM(x.cd), 0) AS ct
       |  FROM domain d LEFT JOIN (
       |    SELECT b, cd FROM doc_buckets, target WHERE source = ts) x
       |    ON x.b = d.b
       |  GROUP BY d.b
       |), cr AS (
       |  SELECT d.b, COALESCE(SUM(x.cd), 0) AS cr
       |  FROM domain d LEFT JOIN (
       |    SELECT b, cd FROM doc_buckets, target WHERE source <> ts) x
       |    ON x.b = d.b
       |  GROUP BY d.b
       |), stats AS (
       |  SELECT ct.b, CAST(ROUND(
       |    log10(CAST(ct.ct + 1 AS DOUBLE) /
       |      CAST(nt.nt + $buckets AS DOUBLE)) -
       |    log10(CAST(cr.cr + 1 AS DOUBLE) /
       |      CAST(nr.nr + $buckets AS DOUBLE)), 6) AS DECIMAL(12,6)) AS diff
       |  FROM ct JOIN cr ON ct.b = cr.b,
       |    (SELECT SUM(ct) AS nt FROM ct) nt,
       |    (SELECT SUM(cr) AS nr FROM cr) nr
       |), logw AS (
       |  SELECT db.doc_id, db.source,
       |    CAST(SUM(db.cd) AS BIGINT) AS n_toks,
       |    CAST(SUM(db.cd * s.diff) AS DECIMAL(18,6)) AS lw
       |  FROM doc_buckets db JOIN stats s ON s.b = db.b, target
       |  WHERE db.source <> ts
       |  GROUP BY 1, 2
       |), scored AS (
       |  SELECT doc_id, source, n_toks,
       |    CAST(lw AS DOUBLE) AS log_ratio,
       |    ROUND(-ln(-ln((CAST(CAST(('0x' || substr(md5(CAST(doc_id AS
       |      VARCHAR)), 1, 15)) AS BIGINT) AS DOUBLE) + 0.5)
       |      / POWER(2.0, 60))), 6) AS gumbel
       |  FROM logw
       |)
       |SELECT doc_id, source, n_toks, log_ratio, gumbel,
       |  ROUND(log_ratio + gumbel, 6) AS score,
       |  CAST(row_number() OVER (ORDER BY ROUND(log_ratio + gumbel, 6) DESC,
       |    doc_id) AS INT) AS rank
       |FROM scored
       |QUALIFY rank <= $k
       |ORDER BY rank""".stripMargin

  /** q382 — Hamilton-apportioned (largest-remainder) stratified
    * sample: a FIXED total budget allocated across sources exactly
    * proportionally to their document counts — base quota
    * ⌊B·n_s/N⌋ per source, the leftover seats going to the largest
    * remainders (B·n_s mod N, integer) — then rows picked per source
    * in deterministic hash order up to the quota. q44 fixes a quota
    * per stratum and q62 takes CONFIG weights; this is the third
    * allocation a sampler needs: "exactly B rows total, exactly
    * proportional, no config" — the apportionment problem, solved the
    * way legislatures do, with quotas that always sum to B by
    * construction.
    *
    * Exactness: every quota is integer arithmetic (⌊·⌋, mod, a
    * remainder rank with a deterministic tiebreak); row picks are the
    * shared portable-md5 order. Scale: one count aggregate,
    * |sources|-row quota algebra, one source-keyed rank window whose
    * LITERAL budget bound plans the partial WindowGroupLimit (the
    * q62 two-step trick — the data-derived quota refines after).
    */
  /** q440 — curriculum mix schedule: for each of `epochs` training
    * epochs, the per-source document quota under a LINEAR
    * interpolation from the corpus's natural mix (epoch 0) to the
    * uniform mix (last epoch), each epoch's `budget` apportioned
    * EXACTLY by Hamilton's method — the "start where the data is,
    * end where the coverage should be" schedule every multi-source
    * training run negotiates (q62 rebalances once; q391 optimizes a
    * static blend; this is the blend AS A FUNCTION OF TRAINING TIME,
    * materialized as quotas a sampler can execute verbatim).
    *
    * Exactness: the interpolated weight is the exact rational
    * (n_s·(E−1−e)·S + N·e) / (N·S·(E−1)) — integer numerators and
    * denominators throughout, so Hamilton's floor + largest-remainder
    * runs on integers (remainder ties break by source); Σ quota =
    * budget per epoch BY CONSTRUCTION (q382's conservation law, now
    * per epoch). The displayed weight is one rounded division.
    *
    * Scale: one source-count aggregate (the only corpus-sized work);
    * everything after runs on |sources|·epochs rows with
    * single-partition windows over that tiny frame (the q34
    * pivot-domain precedent).
    */
  def mixSchedule(spark: SparkSession, dir: String, epochs: Int = 4,
                  budget: Int = 100): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val counts = docs.groupBy(col("source")).agg(count(lit(1)).as("n_s"))
    val totals = docs.agg(count(lit(1)).as("n_all"))
      .crossJoin(counts.agg(count(lit(1)).as("n_src")))
    val grid = counts.crossJoin(broadcast(totals))
      .select(col("source"), col("n_s"), col("n_all"), col("n_src"),
        explode(sequence(lit(0), lit(epochs - 1))).as("epoch"))
      // exact rational weight: num/den with den = n_all*n_src*(E-1)
      .withColumn("num",
        col("n_s") * (lit(epochs - 1) - col("epoch")) * col("n_src") +
          col("n_all") * col("epoch"))
      .withColumn("den",
        col("n_all") * col("n_src") * lit((epochs - 1).toLong))
    val wE = Window.partitionBy(col("epoch"))
    val quotas = grid
      .withColumn("base", expr(s"($budget * num) div den"))
      .withColumn("rem", expr(s"($budget * num) % den"))
      .withColumn("leftover", lit(budget) - sum(col("base")).over(wE))
      .withColumn("rrank", row_number().over(
        Window.partitionBy(col("epoch"))
          .orderBy(col("rem").desc, col("source"))))
      .withColumn("quota",
        (col("base") + (col("rrank") <= col("leftover")).cast("long"))
          .cast("int"))
    quotas.select(col("epoch"), col("source"), col("n_s").as("n_docs"),
        round(col("num").cast("double") / col("den").cast("double"), 6)
          .as("weight"),
        col("quota"))
      .orderBy(col("epoch"), col("source"))
  }

  def mixScheduleSql(epochs: Int = 4, budget: Int = 100): String =
    s"""WITH counts AS (
       |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_s
       |  FROM documents GROUP BY 1
       |), totals AS (
       |  SELECT (SELECT COUNT(*) FROM documents) AS n_all,
       |    CAST(COUNT(*) AS BIGINT) AS n_src
       |  FROM counts
       |), grid AS (
       |  SELECT c.source, c.n_s, t.n_all, t.n_src, e.epoch,
       |    c.n_s * (${epochs - 1} - e.epoch) * t.n_src
       |      + t.n_all * e.epoch AS num,
       |    t.n_all * t.n_src * ${epochs - 1} AS den
       |  FROM counts c, totals t, range(0, $epochs) AS e(epoch)
       |), quotas AS (
       |  SELECT *,
       |    ($budget * num) // den AS base,
       |    ($budget * num) % den AS rem
       |  FROM grid
       |), ranked AS (
       |  SELECT *,
       |    $budget - SUM(base) OVER (PARTITION BY epoch) AS leftover,
       |    row_number() OVER (PARTITION BY epoch
       |      ORDER BY rem DESC, source) AS rrank
       |  FROM quotas
       |)
       |SELECT CAST(epoch AS INT) AS epoch, source, n_s AS n_docs,
       |  ROUND(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 6) AS weight,
       |  CAST(base + (CASE WHEN rrank <= leftover THEN 1 ELSE 0 END)
       |    AS INT) AS quota
       |FROM ranked
       |ORDER BY epoch, source""".stripMargin

  /** q443 — capture–recapture corpus-size estimate (Chapman's
    * bias-corrected Lincoln–Petersen): two INDEPENDENT deterministic
    * "captures" (disjoint md5 salts, the q43 hash-sample convention)
    * each see ~1/4 of the corpus; the overlap sizes the whole:
    * N̂ = (n₁+1)(n₂+1)/(m+1) − 1. The estimator every crawl/dedup
    * operation reaches for when the universe is unlistable ("how many
    * distinct pages exist, given two crawls and their overlap?") —
    * graded here on a KNOWN corpus, so the relation doubles as the
    * calibration audit (estimate beside truth beside signed error),
    * the q112/q342 discipline.
    *
    * Exactness: capture membership is an exact md5-mod predicate
    * (integer, stated in the oracle); n₁, n₂, m, N are integer
    * counts; Chapman is one integer-product division, floored on both
    * engines.
    *
    * Scale: one scan with two narrow predicates, four global counts —
    * no joins, no shuffle beyond the count aggregates.
    */
  def captureRecapture(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        (graft.functions.PortableHash.md5Long32(
          concat(col("doc_id").cast("string"), lit("|capA"))) % 4 === 0)
          .as("in_a"),
        (graft.functions.PortableHash.md5Long32(
          concat(col("doc_id").cast("string"), lit("|capB"))) % 4 === 0)
          .as("in_b"))
    docs.agg(count(lit(1)).as("n_true"),
        sum(col("in_a").cast("long")).as("n1"),
        sum(col("in_b").cast("long")).as("n2"),
        sum((col("in_a") && col("in_b")).cast("long")).as("m"))
      .select(col("n_true"), col("n1"), col("n2"), col("m"),
        expr("(n1 + 1) * (n2 + 1) div (m + 1) - 1").as("n_chapman"),
        expr("(n1 + 1) * (n2 + 1) div (m + 1) - 1 - n_true")
          .as("signed_err"))
  }

  val captureRecaptureSql: String =
    """WITH caps AS (
      |  SELECT doc_id,
      |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|capA'),
      |      1, 8)) AS BIGINT) % 4 = 0 AS in_a,
      |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|capB'),
      |      1, 8)) AS BIGINT) % 4 = 0 AS in_b
      |  FROM documents
      |), agg AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_true,
      |    CAST(SUM(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      |    CAST(SUM(CASE WHEN in_b THEN 1 ELSE 0 END) AS BIGINT) AS n2,
      |    CAST(SUM(CASE WHEN in_a AND in_b THEN 1 ELSE 0 END) AS BIGINT)
      |      AS m
      |  FROM caps
      |)
      |SELECT n_true, n1, n2, m,
      |  (n1 + 1) * (n2 + 1) // (m + 1) - 1 AS n_chapman,
      |  (n1 + 1) * (n2 + 1) // (m + 1) - 1 - n_true AS signed_err
      |FROM agg""".stripMargin

  /** q453 — Horvitz–Thompson estimator calibration: a Poisson PPS
    * sample (inclusion probability π_i ∝ document length, capped at
    * 1, drawn with the q308 seeded md5 uniform) and the HT total
    * Σ_sample n_chars/π_i beside the TRUE total chars per source —
    * the survey-sampling identity every size-biased sample must be
    * read through (q87 samples by weight; this grades the
    * de-biasing). An HT estimate that drifts from truth on a KNOWN
    * corpus means the π bookkeeping is wrong — the bug class that
    * silently corrupts every "estimated token count from a 1%
    * sample" number at 100 TB.
    *
    * Exactness: π_i = min(1, n_chars·rate) with rate a RATIONAL
    * literal (1/avg·target — stated in the oracle); inclusion
    * compares the md5-uniform u < π on shared doubles; each HT term
    * n_chars/π_i rounds at 6dp into a DECIMAL sum; errors are single
    * rounded expressions.
    *
    * Scale: one narrow map + two aggregates — no joins, no windows.
    */
  def htEstimate(spark: SparkSession, dir: String,
                 ratePerChar: Double = 0.001): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(28, 6)
    val docs = Tables.load(spark, dir, "documents")
      .select(col("source"), col("doc_id"), col("n_chars"))
      .withColumn("pi", least(lit(1.0),
        col("n_chars").cast("double") * lit(ratePerChar)))
      .withColumn("u",
        (md5Bucket(col("doc_id")) + 1).cast("double") / lit(4294967296.0))
      .withColumn("in_sample", col("u") < col("pi"))
    docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("true_chars"),
        sum(col("in_sample").cast("long")).as("n_sampled"),
        sum(when(col("in_sample"),
          round(col("n_chars").cast("double") / col("pi"), 6))
          .otherwise(lit(0.0)).cast(dec)).cast("double").as("ht_est"))
      .select(col("source"), col("n_docs"), col("true_chars"),
        col("n_sampled"), round(col("ht_est"), 6).as("ht_chars"),
        round((col("ht_est") - col("true_chars").cast("double")) /
          col("true_chars").cast("double"), 6).as("rel_err"))
      .orderBy(col("source"))
  }

  def htEstimateSql(ratePerChar: Double = 0.001): String =
    s"""WITH base AS (
       |  SELECT source, doc_id, n_chars,
       |    LEAST(1.0, CAST(n_chars AS DOUBLE) * $ratePerChar) AS pi,
       |    (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
       |      AS BIGINT) + 1) / 4294967296.0 AS u
       |  FROM documents
       |), agg AS (
       |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(n_chars) AS BIGINT) AS true_chars,
       |    CAST(SUM(CASE WHEN u < pi THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_sampled,
       |    CAST(SUM(CASE WHEN u < pi
       |      THEN CAST(ROUND(CAST(n_chars AS DOUBLE) / pi, 6)
       |        AS DECIMAL(28,6))
       |      ELSE CAST(0.0 AS DECIMAL(28,6)) END) AS DOUBLE) AS ht_est
       |  FROM base GROUP BY 1
       |)
       |SELECT source, n_docs, true_chars, n_sampled,
       |  ROUND(ht_est, 6) AS ht_chars,
       |  ROUND((ht_est - CAST(true_chars AS DOUBLE))
       |    / CAST(true_chars AS DOUBLE), 6) AS rel_err
       |FROM agg
       |ORDER BY source""".stripMargin

  /** q452 — size-biased sample distortion audit: the KS distance
    * between the corpus length ECDF and (a) the RAW ECDF of the q453
    * PPS sample — size-biased by construction — and (b) the
    * Horvitz–Thompson 1/π-WEIGHTED sample ECDF, whose EXPECTATION is
    * the corpus ECDF. Per source, the pair says whether the
    * weighting's de-bias has beaten its variance at THIS sample size:
    * on a handful of draws per source both distances are
    * sampling-noise-dominated and D_ht can exceed D_raw (visible
    * honestly in the graded rows); at the sample sizes a 100 TB run
    * draws, the bias term dominates and the weighted ECDF wins.
    * Either way this is the audit to run before trusting ANY
    * distributional statistic computed off a weighted sample.
    *
    * Exactness: ECDFs are cumulative integer counts (and 6dp-rounded
    * decimal weight sums) over the fully tiebroken per-source length
    * order, evaluated at every corpus length; the two KS sups are
    * exact MAX picks of rounded differences; empty samples surface
    * NULL KS (never a throw).
    *
    * Scale: one narrow map (the q453 predicate), per-source
    * cumulative windows over the length frame, a |sources|-row
    * readout.
    */
  def sampleDistortionKs(spark: SparkSession, dir: String,
                         ratePerChar: Double = 0.001): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(28, 6)
    val base = Tables.load(spark, dir, "documents")
      .select(col("source"), col("doc_id"), col("n_chars"))
      .withColumn("pi", least(lit(1.0),
        col("n_chars").cast("double") * lit(ratePerChar)))
      .withColumn("u",
        (md5Bucket(col("doc_id")) + 1).cast("double") / lit(4294967296.0))
      .withColumn("in_sample", (col("u") < col("pi")).cast("long"))
      .withColumn("w", when(col("u") < col("pi"),
        round(lit(1.0) / col("pi"), 6)).otherwise(lit(0.0)).cast(dec))
    val wOrd = Window.partitionBy(col("source"))
      .orderBy(col("n_chars"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("source"))
    val cum = base
      .withColumn("c_true", count(lit(1)).over(wOrd))
      .withColumn("c_raw", sum(col("in_sample")).over(wOrd))
      .withColumn("c_w", sum(col("w")).over(wOrd))
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("n_s", sum(col("in_sample")).over(wAll))
      .withColumn("w_tot", sum(col("w")).over(wAll))
      // evaluate each ECDF at the LAST row of every tied length value
      .withColumn("is_last", lead(col("n_chars"), 1).over(
        Window.partitionBy(col("source"))
          .orderBy(col("n_chars"), col("doc_id"))).isNull ||
        lead(col("n_chars"), 1).over(
          Window.partitionBy(col("source"))
            .orderBy(col("n_chars"), col("doc_id"))) =!= col("n_chars"))
      .filter(col("is_last"))
      .withColumn("f_true",
        col("c_true").cast("double") / col("n").cast("double"))
      .withColumn("f_raw", col("c_raw").cast("double") /
        nullif(col("n_s").cast("double"), lit(0.0)))
      .withColumn("f_ht", col("c_w").cast("double") /
        nullif(col("w_tot").cast("double"), lit(0.0)))
    cum.groupBy(col("source"))
      .agg(max(col("n")).as("n_docs"), max(col("n_s")).as("n_sampled"),
        round(max(abs(round(col("f_raw") - col("f_true"), 9))), 6)
          .as("ks_raw"),
        round(max(abs(round(col("f_ht") - col("f_true"), 9))), 6)
          .as("ks_ht"))
      .orderBy(col("source"))
  }

  def sampleDistortionKsSql(ratePerChar: Double = 0.001): String =
    s"""WITH base AS (
       |  SELECT source, doc_id, n_chars,
       |    LEAST(1.0, CAST(n_chars AS DOUBLE) * $ratePerChar) AS pi,
       |    (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
       |      AS BIGINT) + 1) / 4294967296.0 AS u
       |  FROM documents
       |), flags AS (
       |  SELECT source, doc_id, n_chars,
       |    CASE WHEN u < pi THEN 1 ELSE 0 END AS in_sample,
       |    CASE WHEN u < pi THEN CAST(ROUND(1.0 / pi, 6) AS DECIMAL(28,6))
       |      ELSE CAST(0.0 AS DECIMAL(28,6)) END AS w
       |  FROM base
       |), cum AS (
       |  SELECT source, doc_id, n_chars,
       |    CAST(COUNT(*) OVER wo AS BIGINT) AS c_true,
       |    CAST(SUM(in_sample) OVER wo AS BIGINT) AS c_raw,
       |    SUM(w) OVER wo AS c_w,
       |    CAST(COUNT(*) OVER wp AS BIGINT) AS n,
       |    CAST(SUM(in_sample) OVER wp AS BIGINT) AS n_s,
       |    SUM(w) OVER wp AS w_tot,
       |    lead(n_chars) OVER (PARTITION BY source
       |      ORDER BY n_chars, doc_id) AS next_len
       |  FROM flags
       |  WINDOW wo AS (PARTITION BY source ORDER BY n_chars, doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
       |    wp AS (PARTITION BY source)
       |), ev AS (
       |  SELECT source, n, n_s,
       |    CAST(c_true AS DOUBLE) / CAST(n AS DOUBLE) AS f_true,
       |    CAST(c_raw AS DOUBLE) / NULLIF(CAST(n_s AS DOUBLE), 0.0)
       |      AS f_raw,
       |    CAST(c_w AS DOUBLE) / NULLIF(CAST(w_tot AS DOUBLE), 0.0)
       |      AS f_ht
       |  FROM cum
       |  WHERE next_len IS NULL OR next_len <> n_chars
       |)
       |SELECT source, CAST(MAX(n) AS BIGINT) AS n_docs,
       |  CAST(MAX(n_s) AS BIGINT) AS n_sampled,
       |  ROUND(MAX(ABS(ROUND(f_raw - f_true, 9))), 6) AS ks_raw,
       |  ROUND(MAX(ABS(ROUND(f_ht - f_true, 9))), 6) AS ks_ht
       |FROM ev
       |GROUP BY source
       |ORDER BY source""".stripMargin

  /** q460 — ingestion-order quality drift: mean quality score per
    * doc_id decile plus the OLS slope of quality on decile index —
    * "is the feed degrading as it grows?" asked of the corpus itself.
    * A negative slope is the earliest warning that a crawler started
    * eating spam or a source's editorial floor dropped; per-decile
    * means show WHERE the knee is. (q111 tracks novelty over
    * ingestion; this tracks quality — the two together date a feed's
    * decay.)
    *
    * Exactness: deciles are exact integer rank arithmetic over the
    * fully tiebroken doc order (the q404 convention); quality is the
    * shared q23 6dp rational; decile means accumulate decimal sums;
    * the slope is one shared double chain off decile-level integer/
    * decimal sums.
    *
    * Scale: one global rank (Skew.globalRank posture at 100 TB; a
    * plain window here), 10-row aggregates after.
    */
  def qualityDriftByIngestion(spark: SparkSession, dir: String,
                              buckets: Int = 10): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(28, 6)
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        graft.functions.TextFunctions.qualityScore(col("text")).as("q"))
    val w = Window.orderBy(col("doc_id"))
    val ranked = docs
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(lit(1))))
      .withColumn("decile",
        expr(s"least($buckets - 1, (rn - 1) * $buckets div n)").cast("int"))
    val per = ranked.groupBy(col("decile"))
      .agg(count(lit(1)).as("n_docs"),
        round(sum(col("q").cast(dec)).cast("double") /
          count(lit(1)).cast("double"), 6).as("mean_quality"))
    // slope of mean_quality on decile over the 10-row frame
    val s = per.agg(count(lit(1)).as("k"),
        sum(col("decile").cast("long")).as("sx"),
        sum(col("mean_quality").cast(dec)).cast("double").as("sy"),
        sum(col("decile") * col("decile")).cast("long").as("sxx"),
        sum(round(col("decile") * col("mean_quality"), 6).cast(dec))
          .cast("double").as("sxy"))
      .select(round(
        (col("k").cast("double") * col("sxy") -
          col("sx").cast("double") * col("sy")) /
          nullif((col("k") * col("sxx") - col("sx") * col("sx"))
            .cast("double"), lit(0.0)), 6).as("slope"))
    per.crossJoin(broadcast(s))
      .select(col("decile"), col("n_docs"), col("mean_quality"),
        col("slope"),
        when(col("slope") < -0.005, "degrading")
          .when(col("slope") > 0.005, "improving")
          .otherwise("stable").as("trend"))
      .orderBy(col("decile"))
  }

  def qualityDriftByIngestionSql(buckets: Int = 10): String = {
    val q = graft.operators.TextAnalysis.qualityExprSql
    s"""WITH ranked AS (
       |  SELECT doc_id, $q AS q,
       |    CAST(row_number() OVER (ORDER BY doc_id) AS BIGINT) AS rn,
       |    CAST(COUNT(*) OVER () AS BIGINT) AS n
       |  FROM documents
       |), per AS (
       |  SELECT CAST(LEAST($buckets - 1, (rn - 1) * $buckets // n)
       |      AS INT) AS decile,
       |    CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    ROUND(CAST(SUM(CAST(q AS DECIMAL(28,6))) AS DOUBLE)
       |      / CAST(COUNT(*) AS DOUBLE), 6) AS mean_quality
       |  FROM ranked GROUP BY 1
       |), sl AS (
       |  SELECT ROUND(
       |    (CAST(COUNT(*) AS DOUBLE)
       |        * CAST(SUM(CAST(ROUND(decile * mean_quality, 6)
       |          AS DECIMAL(28,6))) AS DOUBLE)
       |      - CAST(SUM(decile) AS DOUBLE)
       |        * CAST(SUM(CAST(mean_quality AS DECIMAL(28,6)))
       |          AS DOUBLE))
       |    / NULLIF(CAST(COUNT(*) * SUM(decile * decile)
       |        - SUM(decile) * SUM(decile) AS DOUBLE), 0.0), 6) AS slope
       |  FROM per
       |)
       |SELECT p.decile, p.n_docs, p.mean_quality, s.slope,
       |  CASE WHEN s.slope < -0.005 THEN 'degrading'
       |    WHEN s.slope > 0.005 THEN 'improving'
       |    ELSE 'stable' END AS trend
       |FROM per p CROSS JOIN sl s
       |ORDER BY p.decile""".stripMargin
  }

  def hamiltonSample(spark: SparkSession, dir: String,
                     budget: Int = 100): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val counts = docs.groupBy(col("source")).agg(count(lit(1)).as("n_s"))
    val nAll = docs.agg(count(lit(1)).as("n_all"))
    val wAll = Window.partitionBy(lit(1))
    val quotas = counts.crossJoin(broadcast(nAll))
      .withColumn("base", expr(s"($budget * n_s) div n_all"))
      .withColumn("rem", expr(s"($budget * n_s) % n_all"))
      .withColumn("leftover", lit(budget) - sum(col("base")).over(wAll))
      .withColumn("rrank", row_number().over(
        Window.partitionBy(lit(1)).orderBy(col("rem").desc, col("source"))))
      .withColumn("quota",
        (col("base") + (col("rrank") <= col("leftover")).cast("long"))
          .cast("int"))
      .select(col("source"), col("n_s").as("n_docs"), col("quota"))
    val w = Window.partitionBy(col("source"))
      .orderBy(md5Bucket(col("doc_id")), col("doc_id"))
    docs.withColumn("pick", row_number().over(w))
      .filter(col("pick") <= budget)
      .join(broadcast(quotas), "source")
      .filter(col("pick") <= col("quota"))
      .select(col("source"), col("n_docs"), col("quota"), col("pick"),
        col("doc_id"))
      .orderBy(col("source"), col("pick"))
  }

  def hamiltonSampleSql(budget: Int = 100): String =
    s"""WITH counts AS (
       |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_s FROM documents
       |  GROUP BY 1
       |), n_all AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_all FROM documents
       |), quotas AS (
       |  SELECT source, n_s AS n_docs,
       |    CAST(base + CASE WHEN rrank <= $budget - total_base
       |      THEN 1 ELSE 0 END AS INT) AS quota
       |  FROM (
       |    SELECT source, n_s,
       |      ($budget * n_s) // n_all AS base,
       |      ($budget * n_s) % n_all AS rem,
       |      SUM(($budget * n_s) // n_all) OVER () AS total_base,
       |      row_number() OVER (ORDER BY ($budget * n_s) % n_all DESC,
       |        source) AS rrank
       |    FROM counts CROSS JOIN n_all)
       |), picked AS (
       |  SELECT source, doc_id,
       |    CAST(row_number() OVER (PARTITION BY source
       |      ORDER BY CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
       |        1, 8)) AS BIGINT), doc_id) AS INT) AS pick
       |  FROM documents
       |)
       |SELECT p.source, q.n_docs, q.quota, p.pick, p.doc_id
       |FROM picked p JOIN quotas q ON p.source = q.source
       |WHERE p.pick <= q.quota
       |ORDER BY p.source, p.pick""".stripMargin

  /** q387 — effective sample size (ESS) audit of quality weighting:
    * per source, Kish's ESS = (Σw)²/Σw² for the q23 quality scores
    * used as sampling/importance weights, plus the efficiency ratio
    * ESS/n and the max-weight share. THE diagnostic every weighted
    * pipeline (q87 weighted sample, q177 IPS, q315 DSIR) should run
    * before trusting its weights: efficiency near 1 means the
    * weighting is nearly uniform (why bother?), efficiency near 1/n
    * means one document dominates and the "sample of 50k" is
    * effectively a sample of a few — variance blows up silently. Two
    * numbers, read before every weighted run at 100 TB.
    *
    * Exactness: weights are the shared 6dp quality scores; Σw and Σw²
    * accumulate 6dp-rounded terms in DECIMAL(28,6)
    * (order-independent); ESS and ratios are fixed double chains
    * rounded at 6dp; max is exact.
    *
    * Scale: one narrow quality map + one per-source aggregate — the
    * q23 envelope.
    */
  def weightEssAudit(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.qualityScore
    val dec = org.apache.spark.sql.types.DecimalType(28, 6)
    val docs = Tables.load(spark, dir, "documents")
      .select(col("source"), qualityScore(col("text")).as("w"))
    docs.groupBy(col("source")).agg(
        count(lit(1)).as("n"),
        sum(col("w").cast(dec)).cast("double").as("sw"),
        sum(round(col("w") * col("w"), 6).cast(dec)).cast("double")
          .as("sww"),
        max(col("w")).as("w_max"))
      .select(col("source"), col("n"),
        round((col("sw") * col("sw")) / col("sww"), 6).as("ess"),
        round((col("sw") * col("sw")) / col("sww") /
          col("n").cast("double"), 6).as("efficiency"),
        round(col("w_max") / col("sw"), 6).as("max_weight_share"))
      .orderBy(col("source"))
  }

  val weightEssAuditSql: String =
    s"""WITH docs AS (
       |  SELECT source,
       |    ${graft.operators.TextAnalysis.qualityExprSql} AS w
       |  FROM documents
       |), agg AS (
       |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(CAST(w AS DECIMAL(28,6))) AS DOUBLE) AS sw,
       |    CAST(SUM(CAST(ROUND(w * w, 6) AS DECIMAL(28,6))) AS DOUBLE)
       |      AS sww,
       |    MAX(w) AS w_max
       |  FROM docs GROUP BY 1
       |)
       |SELECT source, n,
       |  ROUND((sw * sw) / sww, 6) AS ess,
       |  ROUND((sw * sw) / sww / CAST(n AS DOUBLE), 6) AS efficiency,
       |  ROUND(w_max / sw, 6) AS max_weight_share
       |FROM agg
       |ORDER BY source""".stripMargin

  /** q391 — optimal two-source blend search: for the corpus's two
    * LARGEST sources, sweep the mixing weight w over a 21-point grid
    * and score each blend's Jensen–Shannon divergence from the
    * corpus-wide language distribution, flagging the minimizer — the
    * mix-DESIGN question ("what ratio of A to B reproduces the target
    * mix?") that q62 answers only when someone already hands it the
    * weights and q178 answers only by temperature-flattening. Grid
    * search over an exact objective is how a curation run actually
    * picks a blend: the sweep IS the evidence, so it ships as the
    * relation.
    *
    * Exactness: all probabilities are integer-count ratios; each JSD
    * term is one fixed double chain (0·ln 0 guarded to 0) rounded at
    * 6dp and summed as DECIMAL(28,6) over the |langs|-sized support;
    * the winner is a deterministic (jsd, w) argmin. The top-2 source
    * pick is an integer-count rank with a lexicographic tiebreak.
    *
    * Scale: one (source, lang) aggregate, then a
    * |grid| × |langs| frame — config-sized. Only the first aggregate
    * sees the corpus.
    */
  def optimalBlend(spark: SparkSession, dir: String,
                   steps: Int = 20): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(28, 6)
    val docs = Tables.load(spark, dir, "documents")
      .select(col("source"), col("lang"))
    val srcCounts = docs.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val top2 = srcCounts
      .withColumn("rr", row_number().over(Window.partitionBy(lit(1))
        .orderBy(col("n").desc, col("source"))))
      .filter(col("rr") <= 2)
      .groupBy()
      .agg(max(when(col("rr") === 1, col("source"))).as("src_a"),
        max(when(col("rr") === 1, col("n"))).as("n_a"),
        max(when(col("rr") === 2, col("source"))).as("src_b"),
        max(when(col("rr") === 2, col("n"))).as("n_b"))
    val cells = docs.groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("c"))
    val global = docs.groupBy(col("lang")).agg(count(lit(1)).as("c_t"))
      .crossJoin(broadcast(docs.agg(count(lit(1)).as("n_t"))))
    val withAb = global.crossJoin(broadcast(top2))
      .join(cells.select(col("source").as("src_a"), col("lang"),
        col("c").as("c_a")), Seq("src_a", "lang"), "left")
      .join(cells.select(col("source").as("src_b"), col("lang"),
        col("c").as("c_b")), Seq("src_b", "lang"), "left")
      .withColumn("pa", coalesce(col("c_a"), lit(0L)).cast("double") /
        col("n_a").cast("double"))
      .withColumn("pb", coalesce(col("c_b"), lit(0L)).cast("double") /
        col("n_b").cast("double"))
      .withColumn("pt", col("c_t").cast("double") / col("n_t").cast("double"))
    val grid = withAb.select(col("src_a"), col("src_b"), col("pa"),
        col("pb"), col("pt"),
        explode(sequence(lit(0), lit(steps))).as("wi"))
      .withColumn("w", col("wi").cast("double") / lit(steps.toDouble))
      .withColumn("m", col("w") * col("pa") +
        (lit(1.0) - col("w")) * col("pb"))
      .withColumn("avg", (col("m") + col("pt")) / 2)
      .withColumn("term", round(
        when(col("m") > 0,
          lit(0.5) * col("m") * log(col("m") / col("avg")))
          .otherwise(lit(0.0)) +
        when(col("pt") > 0,
          lit(0.5) * col("pt") * log(col("pt") / col("avg")))
          .otherwise(lit(0.0)), 6).cast(dec))
    val scored = grid.groupBy(col("src_a"), col("src_b"), col("wi"))
      .agg(round(sum(col("term")).cast("double"), 6).as("jsd"))
    scored
      .withColumn("is_best", (row_number().over(Window
        .partitionBy(lit(1)).orderBy(col("jsd"), col("wi"))) === 1)
        .cast("int"))
      .select(col("src_a"), col("src_b"),
        round(col("wi").cast("double") / lit(steps.toDouble), 6).as("w"),
        col("jsd"), col("is_best"))
      .orderBy(col("w"))
  }

  def optimalBlendSql(steps: Int = 20): String =
    s"""WITH src_counts AS (
       |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n
       |  FROM documents GROUP BY 1
       |), top2 AS (
       |  SELECT MAX(CASE WHEN rr = 1 THEN source END) AS src_a,
       |    MAX(CASE WHEN rr = 1 THEN n END) AS n_a,
       |    MAX(CASE WHEN rr = 2 THEN source END) AS src_b,
       |    MAX(CASE WHEN rr = 2 THEN n END) AS n_b
       |  FROM (SELECT source, n,
       |    row_number() OVER (ORDER BY n DESC, source) AS rr
       |    FROM src_counts) WHERE rr <= 2
       |), cells AS (
       |  SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS c
       |  FROM documents GROUP BY 1, 2
       |), global AS (
       |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS c_t,
       |    (SELECT COUNT(*) FROM documents) AS n_t
       |  FROM documents GROUP BY 1
       |), with_ab AS (
       |  SELECT t.src_a, t.src_b, g.lang,
       |    CAST(COALESCE(a.c, 0) AS DOUBLE) / CAST(t.n_a AS DOUBLE) AS pa,
       |    CAST(COALESCE(b.c, 0) AS DOUBLE) / CAST(t.n_b AS DOUBLE) AS pb,
       |    CAST(g.c_t AS DOUBLE) / CAST(g.n_t AS DOUBLE) AS pt
       |  FROM global g CROSS JOIN top2 t
       |  LEFT JOIN cells a ON a.source = t.src_a AND a.lang = g.lang
       |  LEFT JOIN cells b ON b.source = t.src_b AND b.lang = g.lang
       |), grid AS (
       |  SELECT src_a, src_b, wi,
       |    CAST(ROUND(
       |      CASE WHEN m > 0 THEN 0.5 * m * ln(m / avg) ELSE 0.0 END +
       |      CASE WHEN pt > 0 THEN 0.5 * pt * ln(pt / avg) ELSE 0.0 END,
       |      6) AS DECIMAL(28,6)) AS term
       |  FROM (
       |    SELECT src_a, src_b, pt, wi,
       |      (CAST(wi AS DOUBLE) / $steps.0) * pa
       |        + (1.0 - CAST(wi AS DOUBLE) / $steps.0) * pb AS m,
       |      ((CAST(wi AS DOUBLE) / $steps.0) * pa
       |        + (1.0 - CAST(wi AS DOUBLE) / $steps.0) * pb + pt) / 2
       |        AS avg
       |    FROM with_ab
       |    CROSS JOIN (SELECT unnest(range(0, $steps + 1)) AS wi) g
       |  )
       |), scored AS (
       |  SELECT src_a, src_b, wi,
       |    ROUND(CAST(SUM(term) AS DOUBLE), 6) AS jsd
       |  FROM grid GROUP BY 1, 2, 3
       |)
       |SELECT src_a, src_b,
       |  ROUND(CAST(wi AS DOUBLE) / $steps.0, 6) AS w, jsd,
       |  CAST(row_number() OVER (ORDER BY jsd, wi) = 1 AS INT) AS is_best
       |FROM scored
       |ORDER BY w""".stripMargin

  /** q399 — per-language calibrated quality gates: for each language,
    * the quality threshold that nominally retains ρ = 80% of ITS OWN
    * documents (the exact (1−ρ) lower order statistic), plus what the
    * operational rule `quality ≥ τ` actually keeps in docs and
    * tokens. One GLOBAL threshold (q359's sweep) silently
    * discriminates: a language whose quality scores run structurally
    * low loses most of its mass at a cutoff tuned on English — the
    * classic multilingual-curation failure. Per-language quantile
    * gates equalize retention by construction; this relation IS those
    * gates plus the tie-honesty columns (operational kept ≠ nominal
    * kept when scores tie at τ — surfaced, not hidden).
    *
    * Exactness: τ is an exact rank pick off the fully tiebroken
    * per-language sort; kept counts/token sums are integers filtered
    * by the 6dp-quantized shared quality score; shares are single
    * rounded divisions.
    *
    * Scale: one narrow quality map, one per-language rank window
    * (the q90-family sort), two per-language aggregates.
    */
  def perLangGates(spark: SparkSession, dir: String,
                   retain: Double = 0.8): DataFrame = {
    import graft.functions.TextFunctions.{qualityScore, tokenCount}
    val docs = Tables.load(spark, dir, "documents")
      .select(col("lang"), col("doc_id"),
        qualityScore(col("text")).as("q"),
        tokenCount(col("text")).cast("long").as("toks"))
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("q"), col("doc_id"))
    val ranked = docs
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("lang"))))
      .withColumn("k",
        ceil(lit(1.0 - retain) * col("n").cast("double")).cast("long"))
    val tau = ranked.groupBy(col("lang"))
      .agg(max(col("n")).as("n_docs"),
        max(when(col("rn") === col("k"), col("q"))).as("tau"))
    docs.join(broadcast(tau), "lang")
      .groupBy(col("lang"))
      .agg(max(col("n_docs")).as("n_docs"),
        round(max(col("tau")), 6).as("tau"),
        sum((col("q") >= col("tau")).cast("long")).as("n_kept"),
        sum(col("toks")).as("n_tokens"),
        sum(when(col("q") >= col("tau"), col("toks")).otherwise(0L))
          .as("tokens_kept"))
      .select(col("lang"), col("n_docs"), col("tau"), col("n_kept"),
        round(col("n_kept").cast("double") / col("n_docs").cast("double"),
          6).as("doc_retention"),
        round(col("tokens_kept").cast("double") /
          col("n_tokens").cast("double"), 6).as("token_retention"))
      .orderBy(col("lang"))
  }

  def perLangGatesSql(retain: Double = 0.8): String =
    s"""WITH docs AS (
       |  SELECT lang, doc_id,
       |    ${graft.operators.TextAnalysis.qualityExprSql} AS q,
       |    CAST(${graft.operators.TextAnalysis.tokenCountExprSql}
       |      AS BIGINT) AS toks
       |  FROM documents
       |), ranked AS (
       |  SELECT lang, q,
       |    CAST(row_number() OVER (PARTITION BY lang ORDER BY q, doc_id)
       |      AS BIGINT) AS rn,
       |    COUNT(*) OVER (PARTITION BY lang) AS n
       |  FROM docs
       |), tau AS (
       |  SELECT lang, CAST(MAX(n) AS BIGINT) AS n_docs,
       |    MAX(CASE WHEN rn = CAST(CEIL(${1.0 - retain}
       |      * CAST(n AS DOUBLE)) AS BIGINT) THEN q END) AS tau
       |  FROM ranked GROUP BY 1
       |)
       |SELECT d.lang, MAX(t.n_docs) AS n_docs,
       |  ROUND(MAX(t.tau), 6) AS tau,
       |  CAST(SUM(CASE WHEN d.q >= t.tau THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_kept,
       |  ROUND(CAST(SUM(CASE WHEN d.q >= t.tau THEN 1 ELSE 0 END)
       |      AS DOUBLE) / CAST(MAX(t.n_docs) AS DOUBLE), 6)
       |    AS doc_retention,
       |  ROUND(CAST(SUM(CASE WHEN d.q >= t.tau THEN d.toks ELSE 0 END)
       |      AS DOUBLE) / CAST(SUM(d.toks) AS DOUBLE), 6)
       |    AS token_retention
       |FROM docs d JOIN tau t ON d.lang = t.lang
       |GROUP BY d.lang
       |ORDER BY d.lang""".stripMargin

  /** q403 — expected-exposure (memorization-risk) audit: under
    * quality-proportional sampling for E epochs, each document's
    * expected training exposure is E·n·w/Σw — and documents seen many
    * times are the ones models memorize (the published
    * memorization-vs-duplication result). Per source: the max and
    * p99-rank exposure, the share of documents over an exposure
    * threshold, and the expected-token mass those hot documents
    * absorb — read BEFORE training, because the fix (cap the weights,
    * dedup harder) is cheap before the run and impossible after.
    * Completes q387's ESS (which says the weights are degenerate;
    * this says what the degeneracy DOES over E epochs).
    *
    * Exactness: weights are the 6dp shared quality scores with
    * decimal Σw; exposures are one fixed double chain; the p99 is an
    * exact rank pick; shares are integer-count divisions.
    *
    * Scale: one narrow quality map, one per-source decimal aggregate
    * broadcast back, one per-source rank window.
    */
  def exposureAudit(spark: SparkSession, dir: String, epochs: Int = 4,
                    hotFactor: Double = 2.0): DataFrame = {
    import graft.functions.TextFunctions.{qualityScore, tokenCount}
    val dec = org.apache.spark.sql.types.DecimalType(28, 6)
    val docs = Tables.load(spark, dir, "documents")
      .select(col("source"), col("doc_id"),
        qualityScore(col("text")).as("w"),
        tokenCount(col("text")).cast("long").as("toks"))
    val tot = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n"),
        sum(col("w").cast(dec)).cast("double").as("sw"))
    val ex = docs.join(broadcast(tot), "source")
      .withColumn("exposure",
        lit(epochs.toDouble) * col("n").cast("double") * col("w") /
          col("sw"))
      .withColumn("is_hot",
        (col("exposure") > lit(epochs.toDouble) * lit(hotFactor))
          .cast("long"))
    val wRank = Window.partitionBy(col("source"))
      .orderBy(col("exposure"), col("doc_id"))
    ex.withColumn("rn", row_number().over(wRank).cast("long"))
      .withColumn("p99_rn", expr("CAST(CEIL(0.99 * n) AS BIGINT)"))
      .groupBy(col("source"))
      .agg(max(col("n")).as("n_docs"),
        round(max(col("exposure")), 6).as("max_exposure"),
        round(max(when(col("rn") === col("p99_rn"), col("exposure"))), 6)
          .as("p99_exposure"),
        sum(col("is_hot")).as("n_hot"),
        round(sum(col("is_hot")).cast("double") /
          max(col("n")).cast("double"), 6).as("hot_share"),
        round(sum(when(col("is_hot") === 1,
            round(col("exposure") * col("toks").cast("double"), 6))
          .otherwise(lit(0.0)).cast(dec)).cast("double"), 6)
          .as("hot_expected_tokens"))
      .orderBy(col("source"))
  }

  def exposureAuditSql(epochs: Int = 4, hotFactor: Double = 2.0): String =
    s"""WITH docs AS (
       |  SELECT source, doc_id,
       |    ${graft.operators.TextAnalysis.qualityExprSql} AS w,
       |    CAST(${graft.operators.TextAnalysis.tokenCountExprSql}
       |      AS BIGINT) AS toks
       |  FROM documents
       |), tot AS (
       |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(CAST(w AS DECIMAL(28,6))) AS DOUBLE) AS sw
       |  FROM docs GROUP BY 1
       |), ex AS (
       |  SELECT d.source, d.doc_id, d.toks, t.n,
       |    ${epochs.toDouble} * CAST(t.n AS DOUBLE) * d.w / t.sw
       |      AS exposure,
       |    CASE WHEN ${epochs.toDouble} * CAST(t.n AS DOUBLE) * d.w / t.sw
       |      > ${epochs.toDouble} * $hotFactor THEN 1 ELSE 0 END AS is_hot
       |  FROM docs d JOIN tot t ON d.source = t.source
       |), ranked AS (
       |  SELECT *,
       |    CAST(row_number() OVER (PARTITION BY source
       |      ORDER BY exposure, doc_id) AS BIGINT) AS rn,
       |    CAST(CEIL(0.99 * n) AS BIGINT) AS p99_rn
       |  FROM ex
       |)
       |SELECT source, CAST(MAX(n) AS BIGINT) AS n_docs,
       |  ROUND(MAX(exposure), 6) AS max_exposure,
       |  ROUND(MAX(CASE WHEN rn = p99_rn THEN exposure END), 6)
       |    AS p99_exposure,
       |  CAST(SUM(is_hot) AS BIGINT) AS n_hot,
       |  ROUND(CAST(SUM(is_hot) AS DOUBLE) / CAST(MAX(n) AS DOUBLE), 6)
       |    AS hot_share,
       |  ROUND(CAST(SUM(CAST(CASE WHEN is_hot = 1
       |    THEN ROUND(exposure * CAST(toks AS DOUBLE), 6)
       |    ELSE 0.0 END AS DECIMAL(28,6))) AS DOUBLE), 6)
       |    AS hot_expected_tokens
       |FROM ranked
       |GROUP BY source
       |ORDER BY source""".stripMargin

  /** q404 — dedup yield curve: exact-duplicate density by corpus
    * prefix — for each doc-id decile cutoff, how many documents in
    * the prefix already have an earlier same-fingerprint twin, and
    * the cumulative dup share. Dup density GROWS with corpus size by
    * construction (every new doc has more chances to collide), and
    * this curve is how a 100 TB ingest forecasts the dedup budget of
    * the NEXT 10× from the current prefix (q330 prices what dedup
    * saved; this extrapolates what it will save). One pass: a doc's
    * "duplicate of an earlier doc" flag is prefix-independent, so the
    * whole curve is a cumulative sum over deciles — the naive
    * per-cutoff rescan never happens.
    *
    * Exactness: the earlier-twin flag is an integer min-doc_id
    * comparison over the q25 fingerprint window; deciles are integer
    * rank arithmetic over the fully tiebroken doc order; cumulative
    * counts are window integer sums.
    *
    * Scale: one fingerprint shuffle (the q25 cost) + one global rank
    * (Skew.globalRank posture at 100 TB; a plain window here) + a
    * 10-row cumulative.
    */
  def dedupYieldCurve(spark: SparkSession, dir: String,
                      buckets: Int = 10): DataFrame = {
    import graft.functions.TextFunctions.contentFingerprint
    val wFp = Window.partitionBy(col("content_fp"))
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), contentFingerprint(col("text")).as("content_fp"))
      .withColumn("is_dup",
        (col("doc_id") > min(col("doc_id")).over(wFp)).cast("long"))
    val wOrd = Window.orderBy(col("doc_id"))
    val n1 = docs.agg(count(lit(1)).as("n_all"))
    val bucketed = docs.crossJoin(broadcast(n1))
      .withColumn("rn", row_number().over(wOrd).cast("long"))
      .withColumn("bucket",
        least(expr(s"((rn - 1) * $buckets) div n_all + 1"),
          lit(buckets.toLong)).cast("int"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("is_dup")).as("n_dups"))
    val wCum = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bucketed
      .withColumn("cum_docs", sum(col("n_docs")).over(wCum))
      .withColumn("cum_dups", sum(col("n_dups")).over(wCum))
      .select(col("bucket"), col("n_docs"), col("n_dups"),
        col("cum_docs"), col("cum_dups"),
        round(col("cum_dups").cast("double") /
          col("cum_docs").cast("double"), 6).as("cum_dup_share"))
      .orderBy(col("bucket"))
  }

  def dedupYieldCurveSql(buckets: Int = 10): String = {
    val fp = "md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'))"
    s"""WITH docs AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id > MIN(doc_id) OVER (PARTITION BY $fp)
       |         THEN 1 ELSE 0 END AS is_dup
       |  FROM documents
       |), bucketed AS (
       |  SELECT LEAST(((rn - 1) * $buckets) // n_all + 1, $buckets)
       |      AS bucket,
       |    is_dup
       |  FROM (
       |    SELECT doc_id, is_dup,
       |      CAST(row_number() OVER (ORDER BY doc_id) AS BIGINT) AS rn,
       |      COUNT(*) OVER () AS n_all
       |    FROM docs
       |  )
       |), agg AS (
       |  SELECT CAST(bucket AS INT) AS bucket,
       |    CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(is_dup) AS BIGINT) AS n_dups
       |  FROM bucketed GROUP BY 1
       |)
       |SELECT bucket, n_docs, n_dups,
       |  CAST(SUM(n_docs) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING)
       |    AS BIGINT) AS cum_docs,
       |  CAST(SUM(n_dups) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING)
       |    AS BIGINT) AS cum_dups,
       |  ROUND(CAST(SUM(n_dups) OVER (ORDER BY bucket
       |      ROWS UNBOUNDED PRECEDING) AS DOUBLE)
       |    / CAST(SUM(n_docs) OVER (ORDER BY bucket
       |      ROWS UNBOUNDED PRECEDING) AS DOUBLE), 6) AS cum_dup_share
       |FROM agg
       |ORDER BY bucket""".stripMargin
  }

  /** q413 — weighted sampling WITHOUT replacement via exponential
    * race keys (Efraimidis–Spirakis A-ES): every document draws
    * e = −ln(u)/w from a seeded uniform, and the k SMALLEST keys per
    * source are EXACTLY a weight-proportional without-replacement
    * sample — the one-pass, shuffle-light algorithm distributed
    * engines actually use for weighted reservoirs (q87's
    * with-replacement form can pick a hot doc twice; training mixes
    * must not). The key insight is the algorithm: no sequential
    * reservoir, no rejection loop — a rank over independent keys, so
    * it parallelizes perfectly and reruns identically.
    *
    * Determinism: uniforms are the q308 md5 convention keyed on
    * (source, doc); weights are the shared 6dp quality scores floored
    * at 1e-6 (zero-weight docs must not divide by zero — they get
    * astronomically large keys instead, i.e. effectively never
    * sampled); keys round at 9dp before the (key, doc) rank so a
    * last-ulp ln() divergence cannot flip a pick.
    *
    * Scale: one narrow map + one per-source rank ≤ k window (literal
    * bound — partial WindowGroupLimit).
    */
  def weightedReservoir(spark: SparkSession, dir: String,
                        k: Int = 20): DataFrame = {
    import graft.functions.PortableHash
    import graft.functions.TextFunctions.qualityScore
    val docs = Tables.load(spark, dir, "documents")
      .select(col("source"), col("doc_id"),
        qualityScore(col("text")).as("w"))
    val u = (PortableHash.md5Long60(concat(col("source"), lit("|es|"),
      col("doc_id").cast("string"))).cast("double") + 0.5) /
      lit((1L << 60).toDouble)
    val keyed = docs.withColumn("ekey",
      round(-log(u) / greatest(col("w"), lit(1e-6)), 9))
    val wRank = Window.partitionBy(col("source"))
      .orderBy(col("ekey"), col("doc_id"))
    keyed.withColumn("pick", row_number().over(wRank))
      .filter(col("pick") <= k)
      .select(col("source"), col("pick"), col("doc_id"),
        round(col("w"), 6).as("weight"), col("ekey"))
      .orderBy(col("source"), col("pick"))
  }

  def weightedReservoirSql(k: Int = 20): String =
    s"""WITH docs AS (
       |  SELECT source, doc_id,
       |    ${graft.operators.TextAnalysis.qualityExprSql} AS w
       |  FROM documents
       |), keyed AS (
       |  SELECT source, doc_id, w,
       |    ROUND(-ln((CAST(CAST(('0x' || substr(md5(source || '|es|' ||
       |      CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS DOUBLE)
       |      + 0.5) / POWER(2.0, 60)) / GREATEST(w, 1e-6), 9) AS ekey
       |  FROM docs
       |)
       |SELECT source, pick, doc_id, ROUND(w, 6) AS weight, ekey FROM (
       |  SELECT source, doc_id, w, ekey,
       |    CAST(row_number() OVER (PARTITION BY source
       |      ORDER BY ekey, doc_id) AS INT) AS pick
       |  FROM keyed
       |) WHERE pick <= $k
       |ORDER BY source, pick""".stripMargin

  /** q420 — quality-gate DISPARITY audit: per language, the doc and
    * token retention under one GLOBAL quality threshold (the corpus's
    * own 20th-percentile score) side by side with the calibrated 80%
    * target the q399 per-language gates deliver by construction — the
    * disparity column is the fairness cost of the single-threshold
    * shortcut, quantified (the language whose retention falls 30
    * points below target is the one the global gate silently
    * defunds). q399 ships the fix; this relation is the evidence
    * that motivates deploying it.
    *
    * Exactness: the global threshold is an exact corpus-wide rank
    * pick ([[graft.operators.Skew.globalRank]]-style total order at
    * audit scale: one rank window over the fully tiebroken score
    * order); retention counts are integers on the 6dp shared scores;
    * disparities are single rounded subtractions.
    *
    * Scale: one quality map + one global rank window + per-language
    * aggregates.
    */
  def gateDisparity(spark: SparkSession, dir: String,
                    retain: Double = 0.8): DataFrame = {
    import graft.functions.TextFunctions.{qualityScore, tokenCount}
    val docs = Tables.load(spark, dir, "documents")
      .select(col("lang"), col("doc_id"),
        qualityScore(col("text")).as("q"),
        tokenCount(col("text")).cast("long").as("toks"))
    val wAll = Window.partitionBy(lit(1)).orderBy(col("q"), col("doc_id"))
    val tau = docs
      .withColumn("rn", row_number().over(wAll).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(lit(1))))
      .withColumn("k",
        ceil(lit(1.0 - retain) * col("n").cast("double")).cast("long"))
      .filter(col("rn") === col("k"))
      .select(col("q").as("tau_global"))
    docs.crossJoin(broadcast(tau))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum((col("q") >= col("tau_global")).cast("long")).as("n_kept"),
        sum(col("toks")).as("n_tokens"),
        sum(when(col("q") >= col("tau_global"), col("toks"))
          .otherwise(0L)).as("tokens_kept"),
        round(max(col("tau_global")), 6).as("tau_global"))
      .select(col("lang"), col("n_docs"), col("tau_global"),
        round(col("n_kept").cast("double") / col("n_docs").cast("double"),
          6).as("global_doc_retention"),
        round(col("tokens_kept").cast("double") /
          col("n_tokens").cast("double"), 6).as("global_token_retention"),
        round(col("n_kept").cast("double") / col("n_docs").cast("double")
          - lit(retain), 6).as("disparity_vs_target"))
      .orderBy(col("lang"))
  }

  def gateDisparitySql(retain: Double = 0.8): String =
    s"""WITH docs AS (
       |  SELECT lang, doc_id,
       |    ${graft.operators.TextAnalysis.qualityExprSql} AS q,
       |    CAST(${graft.operators.TextAnalysis.tokenCountExprSql}
       |      AS BIGINT) AS toks
       |  FROM documents
       |), tau AS (
       |  SELECT q AS tau_global FROM (
       |    SELECT q,
       |      CAST(row_number() OVER (ORDER BY q, doc_id) AS BIGINT) AS rn,
       |      CAST(CEIL(${1.0 - retain} * CAST(COUNT(*) OVER ()
       |        AS DOUBLE)) AS BIGINT) AS k
       |    FROM docs
       |  ) WHERE rn = k
       |)
       |SELECT d.lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  ROUND(MAX(t.tau_global), 6) AS tau_global,
       |  ROUND(CAST(SUM(CASE WHEN d.q >= t.tau_global THEN 1 ELSE 0 END)
       |      AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
       |    AS global_doc_retention,
       |  ROUND(CAST(SUM(CASE WHEN d.q >= t.tau_global THEN d.toks
       |      ELSE 0 END) AS DOUBLE) / CAST(SUM(d.toks) AS DOUBLE), 6)
       |    AS global_token_retention,
       |  ROUND(CAST(SUM(CASE WHEN d.q >= t.tau_global THEN 1 ELSE 0 END)
       |      AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) - $retain, 6)
       |    AS disparity_vs_target
       |FROM docs d CROSS JOIN tau t
       |GROUP BY d.lang
       |ORDER BY d.lang""".stripMargin

  /** q489 — UCB1 crawl-allocation table: each source is a bandit arm,
    * its historical pulls are the docs already ingested, reward = the
    * doc passes the shared q23 quality gate (≥ 0.5), and
    * UCB = mean reward + √(2·ln N / n_arm) — the optimism bonus that
    * tells an acquisition loop WHICH FEED TO CRAWL NEXT: exploit the
    * high-quality source, but keep exploring the under-sampled ones
    * (a 3-doc source with middling quality outranks a 10k-doc source
    * with the same mean). The deterministic-policy companion to the
    * logged off-policy evaluator (q180-family) — no randomness, so
    * both engines pick the same arm.
    *
    * Exactness: pulls and successes are exact integers off one scan
    * (reward reuses the SHARED quality expression, so the gate cannot
    * drift from q23); mean, bonus and UCB are one fixed IEEE chain
    * rounded once; `next_pick` is the (rounded UCB, source) argmax.
    *
    * Scale: one |sources|-row aggregate + a broadcast 1-row total.
    */
  def ucbAllocation(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.load(spark, dir, "documents")
      .withColumn("reward",
        (graft.functions.TextFunctions.qualityScore(col("text")) >= 0.5)
          .cast("long"))
    val arms = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_pulls"), sum(col("reward")).as("n_success"))
    val tot = arms.agg(sum(col("n_pulls")).as("n_total"))
    val scored = arms.crossJoin(broadcast(tot))
      .withColumn("mean_reward", round(col("n_success").cast("double")
        / col("n_pulls").cast("double"), 6))
      .withColumn("ucb", round(
        col("n_success").cast("double") / col("n_pulls").cast("double")
          + sqrt(lit(2.0) * log(col("n_total").cast("double"))
            / col("n_pulls").cast("double")), 6))
    scored
      .withColumn("next_pick", row_number().over(Window.partitionBy(lit(1))
        .orderBy(col("ucb").desc, col("source"))) === 1)
      .select(col("source"), col("n_pulls"), col("n_success"),
        col("mean_reward"), col("ucb"), col("next_pick"))
      .orderBy(col("source"))
  }

  def ucbAllocationSql: String =
    s"""WITH arms AS (
      |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_pulls,
      |    CAST(SUM(CASE WHEN (${TextAnalysis.qualityExprSql}) >= 0.5
      |      THEN 1 ELSE 0 END) AS BIGINT) AS n_success
      |  FROM documents GROUP BY 1
      |), tot AS (
      |  SELECT CAST(SUM(n_pulls) AS BIGINT) AS n_total FROM arms
      |), scored AS (
      |  SELECT a.source, a.n_pulls, a.n_success,
      |    ROUND(CAST(a.n_success AS DOUBLE) / CAST(a.n_pulls AS DOUBLE), 6)
      |      AS mean_reward,
      |    ROUND(CAST(a.n_success AS DOUBLE) / CAST(a.n_pulls AS DOUBLE)
      |      + sqrt(2.0 * ln(CAST(t.n_total AS DOUBLE))
      |        / CAST(a.n_pulls AS DOUBLE)), 6) AS ucb
      |  FROM arms a CROSS JOIN tot t
      |)
      |SELECT source, n_pulls, n_success, mean_reward, ucb,
      |  ROW_NUMBER() OVER (ORDER BY ucb DESC, source) = 1 AS next_pick
      |FROM scored
      |ORDER BY source""".stripMargin

  /** q512 — raking (iterative proportional fitting) of a
    * deterministic 1-in-7 document sample to the corpus lang × source
    * margins: three unrolled IPF rounds (lang → source → lang)
    * produce per-cell weights whose weighted sample reproduces the
    * corpus lang margins exactly and the source margins up to the
    * reported residual — the survey-statistics standard for
    * de-biasing any sampled audit (quality reviews, human evals)
    * back to corpus shape, and the missing piece between q44's
    * stratified draws and q453's single-margin HT de-bias (raking
    * calibrates to TWO margins without knowing the joint).
    *
    * Exactness: cell and margin counts are exact integers; each
    * round's adjustment factor is one double division rounded at 6dp
    * before multiplying into the cell weight (also rounded 6dp), so
    * every weight is a product of three 6dp factors computed
    * identically on both engines; the residual is a fixed-order
    * double chain. Sample cells missing a whole corpus lang/source
    * surface in the residual rather than silently matching.
    *
    * Scale: one documents scan for the sample cells + one for the
    * margins; everything after is |langs|×|sources|-cell arithmetic.
    */
  def rakingCalibration(spark: SparkSession, dir: String,
                        mod: Int = 7): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("source"))
    val cells = docs.filter(pmod(col("doc_id"), lit(mod)) === 0)
      .groupBy(col("lang"), col("source")).agg(count(lit(1)).as("n"))
      .transform(graft.Iterate.cut)
    val langM = docs.groupBy(col("lang")).agg(count(lit(1)).as("lm"))
    val srcM = docs.groupBy(col("source")).agg(count(lit(1)).as("sm"))
    def adjust(df: DataFrame, marginDf: DataFrame, key: String,
               marginCol: String, wIn: String, wOut: String): DataFrame = {
      val tot = df.groupBy(col(key))
        .agg(sum(round(col("n") * col(wIn), 6)
          .cast(org.apache.spark.sql.types.DecimalType(28, 6)))
          .cast("double").as("wt"))
      df.join(tot, key).join(broadcast(marginDf), key)
        .withColumn("f", round(col(marginCol).cast("double") /
          nullif(col("wt"), lit(0.0)), 6))
        .withColumn(wOut, round(col(wIn) * col("f"), 6))
        .drop("wt", "f", marginCol)
    }
    val w0 = cells.withColumn("w0", lit(1.0))
    val r1 = adjust(w0, langM, "lang", "lm", "w0", "w1")
    val r2 = adjust(r1, srcM, "source", "sm", "w1", "w2")
    val r3 = adjust(r2, langM, "lang", "lm", "w2", "w3")
    val resid = r3.groupBy(col("source"))
      .agg(sum(round(col("n") * col("w3"), 6)
        .cast(org.apache.spark.sql.types.DecimalType(28, 6)))
        .cast("double").as("wt"))
      .join(broadcast(srcM), "source")
      .withColumn("rr", round(abs(col("wt") - col("sm").cast("double")) /
        col("sm").cast("double"), 6))
      .agg(max(col("rr")).as("max_source_resid"))
    r3.crossJoin(broadcast(resid))
      .select(col("lang"), col("source"), col("n").as("n_sample"),
        round(col("w3"), 6).as("weight"),
        round(col("n") * col("w3"), 6).as("est_corpus_n"),
        col("max_source_resid"))
      .orderBy(col("lang"), col("source"))
  }

  def rakingCalibrationSql(mod: Int = 7): String =
    s"""WITH cells AS (
       |  SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n
       |  FROM documents WHERE doc_id % $mod = 0 GROUP BY 1, 2
       |), lang_m AS (
       |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS lm FROM documents GROUP BY 1
       |), src_m AS (
       |  SELECT source, CAST(COUNT(*) AS BIGINT) AS sm FROM documents GROUP BY 1
       |), w0 AS (
       |  SELECT lang, source, n, 1.0 AS w0 FROM cells
       |), t1 AS (
       |  SELECT lang,
       |    CAST(SUM(CAST(ROUND(n * w0, 6) AS DECIMAL(28,6))) AS DOUBLE) AS wt
       |  FROM w0 GROUP BY 1
       |), r1 AS (
       |  SELECT w.lang, w.source, w.n,
       |    ROUND(w.w0 * ROUND(CAST(m.lm AS DOUBLE) / NULLIF(t.wt, 0.0), 6), 6)
       |      AS w1
       |  FROM w0 w JOIN t1 t ON t.lang = w.lang
       |  JOIN lang_m m ON m.lang = w.lang
       |), t2 AS (
       |  SELECT source,
       |    CAST(SUM(CAST(ROUND(n * w1, 6) AS DECIMAL(28,6))) AS DOUBLE) AS wt
       |  FROM r1 GROUP BY 1
       |), r2 AS (
       |  SELECT w.lang, w.source, w.n,
       |    ROUND(w.w1 * ROUND(CAST(m.sm AS DOUBLE) / NULLIF(t.wt, 0.0), 6), 6)
       |      AS w2
       |  FROM r1 w JOIN t2 t ON t.source = w.source
       |  JOIN src_m m ON m.source = w.source
       |), t3 AS (
       |  SELECT lang,
       |    CAST(SUM(CAST(ROUND(n * w2, 6) AS DECIMAL(28,6))) AS DOUBLE) AS wt
       |  FROM r2 GROUP BY 1
       |), r3 AS (
       |  SELECT w.lang, w.source, w.n,
       |    ROUND(w.w2 * ROUND(CAST(m.lm AS DOUBLE) / NULLIF(t.wt, 0.0), 6), 6)
       |      AS w3
       |  FROM r2 w JOIN t3 t ON t.lang = w.lang
       |  JOIN lang_m m ON m.lang = w.lang
       |), resid AS (
       |  SELECT MAX(ROUND(ABS(wt - CAST(sm AS DOUBLE)) / CAST(sm AS DOUBLE), 6))
       |    AS max_source_resid
       |  FROM (
       |    SELECT r.source,
       |      CAST(SUM(CAST(ROUND(n * w3, 6) AS DECIMAL(28,6))) AS DOUBLE) AS wt
       |    FROM r3 r GROUP BY 1
       |  ) x JOIN src_m s ON s.source = x.source
       |)
       |SELECT r.lang, r.source, r.n AS n_sample,
       |  ROUND(r.w3, 6) AS weight,
       |  ROUND(r.n * r.w3, 6) AS est_corpus_n,
       |  d.max_source_resid
       |FROM r3 r CROSS JOIN resid d
       |ORDER BY r.lang, r.source""".stripMargin
}
