package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** PII / identifier scrubbing (north-star extension: the redaction
  * pass every training-data pipeline runs before release). Pattern
  * redaction is a pure map over the scan — `regexp_replace` /
  * `regexp_count` are codegen'd built-ins, so at 100 TB this runs at
  * scan speed with full column pruning and no shuffle at all (the
  * only shuffle below is the final presentation sort).
  *
  * Patterns deliberately stay in the regex subset with identical
  * semantics in Java regex (Spark) and RE2 (DuckDB): character
  * classes, bounded/unbounded repetition — no backreferences, no
  * lookaround. The testdata carries no real PII, so the audited
  * fields are the synthetic identifier-bearing strings: customer
  * names (`Customer#000000042`) and event JSON payloads
  * (`{"k": 69}`) — the plumbing (scan-speed redact + audit counts +
  * cross-table union) is the real deliverable.
  */
object Pii {

  private val idRun = "[0-9]{4,}" // long digit runs: account-ish ids
  private val numRun = "[0-9]+"   // any number in a JSON payload

  /** Scan-speed redaction map over an events-shaped frame — the
    * reusable core shared by the batch audit (q57) and the streaming
    * redact-on-ingest twin ([[graft.streaming.StreamingPii]]): adds
    * the redacted payload and the match count, drops nothing.
    */
  /** Scrub long digit runs (account-ish identifiers) from a documents
    * frame's text in place, keeping an audit count — the corpus-side
    * redaction stage of CurationPipeline. Pure codegen'd map.
    */
  def redactDocs(df: DataFrame): DataFrame =
    df.withColumn("n_redactions",
        regexp_count(col("text"), lit(idRun)).cast("long"))
      .withColumn("text", regexp_replace(col("text"), idRun, "[ID]"))

  def redactEvents(df: DataFrame): DataFrame =
    df.withColumn("props_redacted", regexp_replace(col("props"), numRun, "[NUM]"))
      .withColumn("n_matches", regexp_count(col("props"), lit(numRun)).cast("long"))

  /** q57 — cross-table redaction audit: every customer name and every
    * event payload, redacted, with match counts — UNION ALL of two
    * independent scan-speed map stages (the audit a scrub job emits
    * alongside the cleaned copy).
    */
  def redactionAudit(spark: SparkSession, dir: String): DataFrame = {
    val cus = Tables.load(spark, dir, "customer")
    val ev = Tables.load(spark, dir, "events")
    val cusAudit = cus.select(
      lit("customer").as("src_table"),
      col("c_custkey").as("rec_id"),
      regexp_replace(col("c_name"), idRun, "[ID]").as("redacted"),
      regexp_count(col("c_name"), lit(idRun)).cast("long").as("n_matches"))
    val evAudit = redactEvents(ev).select(
      lit("events").as("src_table"),
      col("event_id").as("rec_id"),
      col("props_redacted").as("redacted"),
      col("n_matches"))
    cusAudit.unionByName(evAudit)
      .orderBy(col("src_table"), col("rec_id"))
  }

  val redactionAuditSql: String =
    """SELECT * FROM (
      |  SELECT 'customer' AS src_table, c_custkey AS rec_id,
      |    regexp_replace(c_name, '[0-9]{4,}', '[ID]', 'g') AS redacted,
      |    CAST(len(regexp_extract_all(c_name, '[0-9]{4,}')) AS BIGINT) AS n_matches
      |  FROM customer
      |  UNION ALL
      |  SELECT 'events' AS src_table, event_id AS rec_id,
      |    regexp_replace(props, '[0-9]+', '[NUM]', 'g') AS redacted,
      |    CAST(len(regexp_extract_all(props, '[0-9]+')) AS BIGINT) AS n_matches
      |  FROM events
      |)
      |ORDER BY src_table, rec_id""".stripMargin

  /** q199 — k-anonymity audit over the customer quasi-identifiers
    * (nation, market segment, account-balance bucket): for every QI
    * combination, its equivalence-class size `k`, the size after one
    * generalization step (dropping the balance bucket), and whether
    * the class is re-identifiable (`k < kMin`). The standard privacy
    * gate before releasing "anonymized" records: any row in a small
    * class is linkable, and the two-level k shows whether coarsening
    * the balance attribute would fix it or the (nation, segment) cell
    * is itself too small.
    *
    * Scale: one hash aggregate on the QI triple plus a window over
    * the AGGREGATED classes (bounded by the QI domain, not rows);
    * both engines bucket with the same IEEE divide-then-floor.
    */
  def kAnonymityAudit(spark: SparkSession, dir: String, kMin: Int = 5,
                      bucketWidth: Double = 1000.0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val classes = Tables.load(spark, dir, "customer")
      .groupBy(col("c_nationkey"), col("c_mktsegment"),
        floor(col("c_acctbal") / bucketWidth).as("bal_bucket"))
      .agg(count(lit(1)).as("k"))
    classes
      .withColumn("k_generalized", sum(col("k")).over(
        Window.partitionBy(col("c_nationkey"), col("c_mktsegment"))))
      .withColumn("at_risk", col("k") < kMin)
      .select(col("c_nationkey"), col("c_mktsegment"), col("bal_bucket"),
        col("k"), col("k_generalized"), col("at_risk"))
      .orderBy(col("c_nationkey"), col("c_mktsegment"), col("bal_bucket"))
  }

  def kAnonymityAuditSql(kMin: Int = 5, bucketWidth: Double = 1000.0): String =
    s"""WITH g AS (
       |  SELECT c_nationkey, c_mktsegment,
       |    CAST(FLOOR(c_acctbal / $bucketWidth) AS BIGINT) AS bal_bucket,
       |    CAST(COUNT(*) AS BIGINT) AS k
       |  FROM customer GROUP BY 1, 2, 3
       |)
       |SELECT c_nationkey, c_mktsegment, bal_bucket, k,
       |  CAST(SUM(k) OVER (PARTITION BY c_nationkey, c_mktsegment)
       |    AS BIGINT) AS k_generalized,
       |  k < $kMin AS at_risk
       |FROM g
       |ORDER BY c_nationkey, c_mktsegment, bal_bucket""".stripMargin

  /** q215 — l-diversity audit: q199 tells you each quasi-identifier
    * class is big enough (k-anonymity); this asks whether the
    * SENSITIVE attribute inside each class is varied enough — a
    * k-anonymous class whose members all share one balance bucket
    * still leaks it (the homogeneity attack l-diversity exists for).
    * Per (nation, segment) class: k, distinct sensitive values l, and
    * the sensitive distribution's entropy in bits (entropy
    * l-diversity needs H ≥ log l; a skewed class scores low even with
    * high nominal l). `at_risk` flags l < lMin.
    *
    * Exactness: entropy uses q103's aggregate-stable identity
    * H = log10(k) − Σ c·log10(c)/k with per-term 6dp rounds into a
    * DECIMAL sum, divided by log10(2) once. Scale: one (class,
    * sensitive) count aggregate then one class aggregate — both
    * map-side combinable, output is class-cardinality-sized.
    */
  def lDiversityAudit(spark: SparkSession, dir: String, lMin: Int = 3,
                      bucketWidth: Double = 1000.0): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(18, 6)
    val cells = Tables.load(spark, dir, "customer")
      .groupBy(col("c_nationkey"), col("c_mktsegment"),
        floor(col("c_acctbal") / bucketWidth).as("sens"))
      .agg(count(lit(1)).as("c"))
    cells.groupBy(col("c_nationkey"), col("c_mktsegment"))
      .agg(sum(col("c")).as("k"), count(lit(1)).as("l_distinct"),
        sum(round(col("c") * log10(col("c")), 6).cast(dec)).as("s"))
      .select(col("c_nationkey"), col("c_mktsegment"), col("k"),
        col("l_distinct"),
        round((log10(col("k")) - col("s").cast("double") / col("k"))
          / lit(0.30102999566398120), 6).as("entropy_bits"),
        (col("l_distinct") < lMin).as("at_risk"))
      .orderBy(col("c_nationkey"), col("c_mktsegment"))
  }

  def lDiversityAuditSql(lMin: Int = 3, bucketWidth: Double = 1000.0): String =
    s"""WITH cells AS (
       |  SELECT c_nationkey, c_mktsegment,
       |    CAST(FLOOR(c_acctbal / $bucketWidth) AS BIGINT) AS sens,
       |    COUNT(*) AS c
       |  FROM customer GROUP BY 1, 2, 3
       |)
       |SELECT c_nationkey, c_mktsegment,
       |  CAST(SUM(c) AS BIGINT) AS k,
       |  COUNT(*) AS l_distinct,
       |  ROUND((log10(SUM(c)) - CAST(SUM(CAST(ROUND(c * log10(c), 6)
       |      AS DECIMAL(18,6))) AS DOUBLE) / SUM(c))
       |    / CAST(0.30102999566398120 AS DOUBLE), 6) AS entropy_bits,
       |  COUNT(*) < $lMin AS at_risk
       |FROM cells GROUP BY 1, 2
       |ORDER BY 1, 2""".stripMargin

  /** q240 — t-closeness audit: q199 checks class sizes, q215 checks
    * sensitive-value variety; this checks sensitive-value
    * DISTRIBUTION — per (nation, segment) class, the earth-mover's
    * distance between the class's balance-bucket distribution and the
    * global one. A class can be k-anonymous AND l-diverse yet still
    * leak ("everyone in this cell is in the top balance buckets");
    * t-closeness bounds exactly that skew. For the ordered bucket
    * domain the EMD is the mean absolute CDF gap:
    * t = Σᵢ |F_class(i) − F_global(i)| / (m − 1) over the m ordered
    * buckets (the final bucket's gap is identically 0 — both CDFs
    * reach 1 — and is summed harmlessly).
    *
    * Exactness: the CDF gap is kept as the integer cross-product
    * |cum_c·N − cum_g·k| (the ksDrift discipline) and divided by
    * k·N·(m−1) exactly once; classes missing a bucket contribute a
    * zero count via the dense grid, so both engines accumulate the
    * same m terms.
    *
    * Scale: counts collapse to (class, bucket) cells before anything
    * else; the dense grid is classes × buckets (domain-sized, not
    * row-sized) built from two broadcast-small aggregates; the
    * cumulative windows run per class over ≤ m rows.
    */
  def tClosenessAudit(spark: SparkSession, dir: String, tMax: Double = 0.25,
                      bucketWidth: Double = 1000.0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cus = Tables.load(spark, dir, "customer")
      .select(col("c_nationkey"), col("c_mktsegment"),
        floor(col("c_acctbal") / bucketWidth).as("sens"))
    val cells = cus.groupBy(col("c_nationkey"), col("c_mktsegment"), col("sens"))
      .agg(count(lit(1)).as("c"))
    val classes = cells.groupBy(col("c_nationkey"), col("c_mktsegment"))
      .agg(sum(col("c")).as("k"))
    val buckets = cells.groupBy(col("sens")).agg(sum(col("c")).as("g"))
    val globals = buckets.agg(sum(col("g")).as("n_total"),
      count(lit(1)).as("m"))
    val grid = classes.crossJoin(broadcast(buckets))
      .join(cells, Seq("c_nationkey", "c_mktsegment", "sens"), "left")
      .withColumn("c0", coalesce(col("c"), lit(0L)))
    val wCum = Window.partitionBy(col("c_nationkey"), col("c_mktsegment"))
      .orderBy(col("sens"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val withCdf = grid
      .withColumn("cum_c", sum(col("c0")).over(wCum))
      .withColumn("cum_g", sum(col("g")).over(wCum))
    withCdf.crossJoin(broadcast(globals))
      .groupBy(col("c_nationkey"), col("c_mktsegment"), col("k"),
        col("n_total"), col("m"))
      .agg(sum(abs(col("cum_c") * col("n_total") - col("cum_g") * col("k")))
        .as("gap_num"))
      .select(col("c_nationkey"), col("c_mktsegment"), col("k"),
        round(col("gap_num").cast("double") /
          (col("k").cast("double") * col("n_total").cast("double") *
            (col("m") - 1).cast("double")), 6).as("t_emd"))
      .withColumn("at_risk", col("t_emd") > tMax)
      .orderBy(col("c_nationkey"), col("c_mktsegment"))
  }

  def tClosenessAuditSql(tMax: Double = 0.25,
                         bucketWidth: Double = 1000.0): String =
    s"""WITH cus AS (
       |  SELECT c_nationkey, c_mktsegment,
       |    CAST(FLOOR(c_acctbal / $bucketWidth) AS BIGINT) AS sens
       |  FROM customer
       |), cells AS (
       |  SELECT c_nationkey, c_mktsegment, sens, COUNT(*) AS c
       |  FROM cus GROUP BY 1, 2, 3
       |), classes AS (
       |  SELECT c_nationkey, c_mktsegment, SUM(c) AS k FROM cells GROUP BY 1, 2
       |), buckets AS (
       |  SELECT sens, SUM(c) AS g FROM cells GROUP BY 1
       |), globals AS (
       |  SELECT SUM(g) AS n_total, COUNT(*) AS m FROM buckets
       |), grid AS (
       |  SELECT cl.c_nationkey, cl.c_mktsegment, cl.k, b.sens, b.g,
       |    COALESCE(ce.c, 0) AS c0
       |  FROM classes cl CROSS JOIN buckets b
       |  LEFT JOIN cells ce ON ce.c_nationkey = cl.c_nationkey
       |    AND ce.c_mktsegment = cl.c_mktsegment AND ce.sens = b.sens
       |), cdf AS (
       |  SELECT c_nationkey, c_mktsegment, k,
       |    SUM(c0) OVER w AS cum_c,
       |    SUM(g) OVER w AS cum_g
       |  FROM grid
       |  WINDOW w AS (PARTITION BY c_nationkey, c_mktsegment ORDER BY sens
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |)
       |SELECT c_nationkey, c_mktsegment, CAST(k AS BIGINT) AS k,
       |  ROUND(CAST(SUM(ABS(cum_c * g2.n_total - cum_g * k)) AS DOUBLE)
       |    / (CAST(k AS DOUBLE) * g2.n_total * (g2.m - 1)), 6) AS t_emd,
       |  ROUND(CAST(SUM(ABS(cum_c * g2.n_total - cum_g * k)) AS DOUBLE)
       |    / (CAST(k AS DOUBLE) * g2.n_total * (g2.m - 1)), 6) > $tMax
       |    AS at_risk
       |FROM cdf, globals g2
       |GROUP BY c_nationkey, c_mktsegment, k, g2.n_total, g2.m
       |ORDER BY c_nationkey, c_mktsegment""".stripMargin

  /** q329 — generalization-ladder sweep for k-anonymity: the q199
    * audit re-run at every rung of a balance-bucket generalization
    * ladder (width 250 → 4000), reporting per width how many
    * quasi-identifier classes and how many ROWS remain below the k
    * threshold, plus the information loss proxy (distinct classes
    * remaining). This is the dial an anonymization pass actually
    * turns: the first width whose `rows_at_risk` hits zero is the
    * release configuration, and the class-count column prices what
    * that safety costs in resolution.
    *
    * Scale: ONE scan — the ladder is a literal explode (5 rows per
    * customer), one (width, class) aggregate, one width-grain
    * rollup. Exactness: all counts integer; the risk share is one
    * rounded division.
    */
  def generalizationSweep(spark: SparkSession, dir: String,
                          kMin: Int = 5): DataFrame = {
    val widths = Seq(250, 500, 1000, 2000, 4000)
    val cust = Tables.load(spark, dir, "customer")
      .select(col("c_nationkey"), col("c_mktsegment"), col("c_acctbal"))
      .withColumn("w", explode(lit(widths.toArray)))
    val classes = cust
      .groupBy(col("w"), col("c_nationkey"), col("c_mktsegment"),
        floor(col("c_acctbal") / col("w")).as("bal_bucket"))
      .agg(count(lit(1)).as("k"))
    classes.groupBy(col("w").as("bucket_width"))
      .agg(count(lit(1)).as("n_classes"),
        sum((col("k") < kMin).cast("long")).as("classes_at_risk"),
        sum(when(col("k") < kMin, col("k")).otherwise(0L))
          .as("rows_at_risk"),
        sum(col("k")).as("n_rows"))
      .select(col("bucket_width"), col("n_classes"), col("classes_at_risk"),
        col("rows_at_risk"),
        round(col("rows_at_risk").cast("double") /
          col("n_rows").cast("double"), 6).as("risk_share"))
      .orderBy(col("bucket_width"))
  }

  def generalizationSweepSql(kMin: Int = 5): String =
    s"""WITH cust AS (
       |  SELECT c_nationkey, c_mktsegment, c_acctbal,
       |    unnest([250, 500, 1000, 2000, 4000]) AS w
       |  FROM customer
       |), classes AS (
       |  SELECT w, c_nationkey, c_mktsegment,
       |    FLOOR(c_acctbal / w) AS bal_bucket, COUNT(*) AS k
       |  FROM cust GROUP BY 1, 2, 3, 4
       |)
       |SELECT w AS bucket_width,
       |  CAST(COUNT(*) AS BIGINT) AS n_classes,
       |  CAST(SUM(CASE WHEN k < $kMin THEN 1 ELSE 0 END) AS BIGINT)
       |    AS classes_at_risk,
       |  CAST(SUM(CASE WHEN k < $kMin THEN k ELSE 0 END) AS BIGINT)
       |    AS rows_at_risk,
       |  ROUND(CAST(SUM(CASE WHEN k < $kMin THEN k ELSE 0 END) AS DOUBLE)
       |    / CAST(SUM(k) AS DOUBLE), 6) AS risk_share
       |FROM classes
       |GROUP BY w
       |ORDER BY bucket_width""".stripMargin

  /** q308 — differentially-private histogram release: per
    * (event_type, day) distinct-user counts with Laplace(1/ε) noise,
    * the ε-DP release mechanism (Dwork et al. 2006) completing the
    * privacy battery (q199 k-anonymity → q215 l-diversity → q240
    * t-closeness audit what a release LOOKS like; this one produces
    * the release). Contribution bounding: a user contributes at most
    * one unit per cell (COUNT DISTINCT user), so per-cell sensitivity
    * under add/remove-one-presence is 1 and the per-cell noise scale
    * is b = 1/ε; cross-cell composition (a user may appear in many
    * cells) is the release-planner's ε budget split, noted here, not
    * hidden. `released = max(0, round(n + noise))` is standard
    * post-processing (clamp + integer rounding preserve DP).
    *
    * Noise is drawn by inverse-CDF from a SEEDED uniform
    * (md5 of the cell key) — the same determinism-for-grading trick
    * every sampling query here uses (q43/q87): both engines derive
    * the bit-identical noise, so the release grades exactly. A
    * production release swaps the md5 uniform for a fresh
    * cryptographic draw; the plan shape is unchanged. The true count
    * rides along because this relation doubles as the curator-side
    * calibration audit (signed error per cell); only the `released`
    * column crosses the trust boundary.
    *
    * Scale: one distinct + one partial+final count keyed by cell, a
    * narrow map for the noise — no joins, no windows.
    */
  def dpHistogram(spark: SparkSession, dir: String,
                  eps: Double = 1.0): DataFrame = {
    import graft.functions.PortableHash
    val cells = Tables.load(spark, dir, "events")
      .select(col("event_type"), to_date(col("ts")).as("day"), col("user_id"))
      .distinct()
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("n_users"))
    val h = PortableHash.md5Long60(
      concat(col("event_type"), lit("|"), col("day").cast("string")))
    val v = (h.cast("double") + 0.5) / lit((1L << 60).toDouble) - 0.5
    val noise = round(
      lit(-1.0 / eps) *
        when(v >= 0, 1.0).otherwise(-1.0) *
        log(lit(1.0) - lit(2.0) * abs(v)), 6)
    cells
      .withColumn("noise", noise)
      .withColumn("released",
        greatest(lit(0L), round(col("n_users") + col("noise"), 0).cast("long")))
      .select(col("event_type"), col("day"), col("n_users"), col("noise"),
        col("released"),
        (col("released") - col("n_users")).as("signed_err"))
      .orderBy(col("event_type"), col("day"))
  }

  /** q353 — differentially-private MEAN release per event type,
    * completing the release-mechanism pair (q308 released counts;
    * real curators also publish means): the classic two-query
    * construction. Contribution bounding first — each user
    * contributes ONE value per type (their exact per-type mean,
    * clamped to [0, C] and held as integer micros so the sum is
    * order-independent) — then Laplace(C/ε_s) noise on the clamped
    * SUM and Laplace(1/ε_n) on the user COUNT (ε split evenly), and
    * released_mean = noisy_sum / max(1, noisy_count). True values
    * ride along as the curator-side calibration audit (the q308
    * convention); only the `released_*` columns cross the trust
    * boundary.
    *
    * Determinism: the noise is the q308 seeded inverse-CDF draw
    * (md5-derived uniforms keyed on (type, tag)) — swap in a
    * cryptographic source in deployment, the plan is unchanged.
    * Scale: one (type, user) aggregate, one per-type aggregate, a
    * narrow noise map.
    */
  def dpMeanRelease(spark: SparkSession, dir: String, eps: Double = 1.0,
                    clampHi: Double = 10.0): DataFrame = {
    import graft.functions.PortableHash
    val epsHalf = eps / 2.0
    val perUser = Tables.load(spark, dir, "events")
      .select(col("event_type"), col("user_id"), col("value"))
      .groupBy(col("event_type"), col("user_id"))
      .agg((graft.operators.Relational.decSum(col("value"))
        / count(col("value"))).as("u_mean"))
      .select(col("event_type"),
        round(least(greatest(col("u_mean"), lit(0.0)), lit(clampHi)) * 1e6, 0)
          .cast("long").as("u_micro"))
    val cells = perUser.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_users"), sum(col("u_micro")).as("sum_micro"))
    def lap(tag: String, scale: Double): Column = {
      val h = PortableHash.md5Long60(concat(col("event_type"), lit(tag)))
      val v = (h.cast("double") + 0.5) / lit((1L << 60).toDouble) - 0.5
      round(lit(-scale) * when(v >= 0, 1.0).otherwise(-1.0) *
        log(lit(1.0) - lit(2.0) * abs(v)), 6)
    }
    cells
      .withColumn("noise_sum", lap("|S", clampHi / epsHalf))
      .withColumn("noise_cnt", lap("|N", 1.0 / epsHalf))
      .withColumn("released_n",
        greatest(lit(1L), round(col("n_users") + col("noise_cnt"), 0).cast("long")))
      .withColumn("released_sum",
        col("sum_micro").cast("double") / 1e6 + col("noise_sum"))
      .select(col("event_type"), col("n_users"),
        round(col("sum_micro").cast("double") / 1e6
          / col("n_users").cast("double"), 6).as("true_mean"),
        col("noise_sum"), col("noise_cnt"), col("released_n"),
        round(col("released_sum") / col("released_n").cast("double"), 6)
          .as("released_mean"))
      .orderBy(col("event_type"))
  }

  def dpMeanReleaseSql(eps: Double = 1.0, clampHi: Double = 10.0): String = {
    val epsHalf = eps / 2.0
    def lapSql(tag: String, scale: Double): String =
      s"""ROUND(${-scale} *
         |      (CASE WHEN v$tag >= 0 THEN 1.0 ELSE -1.0 END) *
         |      ln(1.0 - 2.0 * abs(v$tag)), 6)""".stripMargin
    def seedSql(tag: String): String =
      s"""(CAST(CAST(('0x' || substr(md5(event_type || '|$tag'), 1, 15))
         |      AS BIGINT) AS DOUBLE) + 0.5) / POWER(2.0, 60) - 0.5""".stripMargin
    s"""WITH per_user AS (
       |  SELECT event_type,
       |    CAST(ROUND(LEAST(GREATEST(
       |      CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
       |        / COUNT(value), 0.0), $clampHi) * 1000000, 0) AS BIGINT)
       |      AS u_micro
       |  FROM events GROUP BY event_type, user_id
       |), cells AS (
       |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_users,
       |    CAST(SUM(u_micro) AS BIGINT) AS sum_micro
       |  FROM per_user GROUP BY 1
       |), seeded AS (
       |  SELECT event_type, n_users, sum_micro,
       |    ${seedSql("S")} AS vS,
       |    ${seedSql("N")} AS vN
       |  FROM cells
       |), noised AS (
       |  SELECT event_type, n_users, sum_micro,
       |    ${lapSql("S", clampHi / epsHalf)} AS noise_sum,
       |    ${lapSql("N", 1.0 / epsHalf)} AS noise_cnt
       |  FROM seeded
       |)
       |SELECT event_type, n_users,
       |  ROUND(CAST(sum_micro AS DOUBLE) / 1000000.0
       |    / CAST(n_users AS DOUBLE), 6) AS true_mean,
       |  noise_sum, noise_cnt,
       |  GREATEST(1, CAST(ROUND(n_users + noise_cnt, 0) AS BIGINT))
       |    AS released_n,
       |  ROUND((CAST(sum_micro AS DOUBLE) / 1000000.0 + noise_sum)
       |    / CAST(GREATEST(1, CAST(ROUND(n_users + noise_cnt, 0) AS BIGINT))
       |      AS DOUBLE), 6) AS released_mean
       |FROM noised
       |ORDER BY event_type""".stripMargin
  }

  def dpHistogramSql(eps: Double = 1.0): String =
    s"""WITH cells AS (
       |  SELECT event_type, CAST(ts AS DATE) AS day,
       |    COUNT(DISTINCT user_id) AS n_users
       |  FROM events GROUP BY 1, 2
       |), seeded AS (
       |  SELECT event_type, day, n_users,
       |    (CAST(CAST(('0x' || substr(md5(event_type || '|' ||
       |        CAST(day AS VARCHAR)), 1, 15)) AS BIGINT) AS DOUBLE)
       |      + 0.5) / POWER(2.0, 60) - 0.5 AS v
       |  FROM cells
       |), noised AS (
       |  SELECT event_type, day, n_users,
       |    ROUND(${-1.0 / eps} *
       |      (CASE WHEN v >= 0 THEN 1.0 ELSE -1.0 END) *
       |      ln(1.0 - 2.0 * abs(v)), 6) AS noise
       |  FROM seeded
       |)
       |SELECT event_type, day, CAST(n_users AS BIGINT) AS n_users, noise,
       |  GREATEST(0, CAST(ROUND(n_users + noise, 0) AS BIGINT)) AS released,
       |  GREATEST(0, CAST(ROUND(n_users + noise, 0) AS BIGINT))
       |    - CAST(n_users AS BIGINT) AS signed_err
       |FROM noised
       |ORDER BY event_type, day""".stripMargin

  /** q368 — differentially-private MEDIAN release per event type via
    * the exponential mechanism (McSherry–Talwar), completing the
    * release triple: q308 counts (Laplace), q353 means (two-query
    * Laplace), this medians — the right mechanism, because Laplace on
    * a median's unbounded sensitivity is useless while the
    * exponential mechanism only needs RANK sensitivity 1. Candidates
    * are the per-user mean values (one row per user = bounded
    * contribution, the q353 discipline); utility u_i = −|i − target|
    * in rank units; the draw is the Gumbel-max trick —
    * argmax(ε·u_i/2 + g_i) over seeded Gumbel noise — which samples
    * exactly the exponential-mechanism distribution without
    * normalizing.
    *
    * Determinism: the Gumbel noise is the q308 seeded convention
    * (md5-derived uniform per (type, rank) → −ln(−ln(u))); both
    * engines build the identical double key, 6dp-rounded before the
    * deterministic (key DESC, rank) argmax so a last-ulp libm
    * divergence cannot flip the winner. True median rides along as
    * the curator-side calibration audit; only `released_*` crosses
    * the trust boundary.
    *
    * Scale: one (type, user) aggregate, one per-type rank window
    * (user-cardinality, the acknowledged q90-family sort; hits
    * [[graft.operators.Skew.globalRank]] if a single type's users
    * outgrow a partition), a narrow key map, and a literal top-1
    * WindowGroupLimit.
    */
  def dpQuantileRelease(spark: SparkSession, dir: String,
                        eps: Double = 1.0): DataFrame = {
    import graft.functions.PortableHash
    import org.apache.spark.sql.expressions.Window
    val ranked = Events.rankedUserMeans(spark, dir)
      .withColumn("target", expr("(n + 1) div 2"))
    val u = (PortableHash.md5Long60(concat(col("event_type"), lit("|"),
      col("i").cast("string"))).cast("double") + 0.5) /
      lit((1L << 60).toDouble)
    val keyed = ranked.withColumn("ekey",
      round(lit(-eps / 2.0) * abs(col("i") - col("target")).cast("double") +
        -log(-log(u)), 6))
    val pick = keyed
      .withColumn("rn", row_number().over(Window
        .partitionBy(col("event_type"))
        .orderBy(col("ekey").desc, col("i"))))
      .filter(col("rn") === 1)
      .select(col("event_type"), col("u_mean"), col("i"), col("target"))
    val med = ranked.groupBy(col("event_type")).agg(
      max(col("n")).as("n_users"),
      max(when(col("i") === expr("(n + 1) div 2"), col("u_mean"))).as("m1"),
      max(when(col("i") === expr("(n + 2) div 2"), col("u_mean"))).as("m2"))
    pick.join(broadcast(med), "event_type")
      .select(col("event_type"), col("n_users"),
        round((col("m1") + col("m2")) / 2, 6).as("true_median"),
        round(col("u_mean"), 6).as("released_value"),
        col("i").as("released_rank"),
        abs(col("i") - col("target")).as("rank_abs_err"))
      .orderBy(col("event_type"))
  }

  def dpQuantileReleaseSql(eps: Double = 1.0): String =
    s"""WITH ${Events.rankedUserMeansCtes}, keyed AS (
       |  SELECT event_type, u_mean, i, n, (n + 1) // 2 AS target,
       |    ROUND(${-eps / 2.0} * CAST(ABS(i - ((n + 1) // 2)) AS DOUBLE) +
       |      -ln(-ln((CAST(CAST(('0x' || substr(md5(event_type || '|' ||
       |        CAST(i AS VARCHAR)), 1, 15)) AS BIGINT) AS DOUBLE) + 0.5)
       |        / POWER(2.0, 60))), 6) AS ekey
       |  FROM ranked
       |), pick AS (
       |  SELECT event_type, u_mean, i, target FROM (
       |    SELECT *, row_number() OVER (PARTITION BY event_type
       |      ORDER BY ekey DESC, i) AS rn
       |    FROM keyed
       |  ) WHERE rn = 1
       |), med AS (
       |  SELECT event_type, CAST(MAX(n) AS BIGINT) AS n_users,
       |    MAX(CASE WHEN i = (n + 1) // 2 THEN u_mean END) AS m1,
       |    MAX(CASE WHEN i = (n + 2) // 2 THEN u_mean END) AS m2
       |  FROM ranked GROUP BY 1
       |)
       |SELECT p.event_type, m.n_users,
       |  ROUND((m.m1 + m.m2) / 2, 6) AS true_median,
       |  ROUND(p.u_mean, 6) AS released_value,
       |  p.i AS released_rank,
       |  ABS(p.i - p.target) AS rank_abs_err
       |FROM pick p JOIN med m USING (event_type)
       |ORDER BY p.event_type""".stripMargin

  /** q408 — differentially-private TOP-K selection (peeling
    * exponential mechanism): release which k event types have the
    * most users WITHOUT revealing exact counts — each of k rounds
    * runs one exponential-mechanism draw (ε/k budget, user-presence
    * sensitivity 1) over the types not yet selected, via the seeded
    * Gumbel-max trick keyed on (type, round). Completes the DP
    * release family's fourth verb: counts (q308), means (q353),
    * quantiles (q368), and now SELECTION — "which items" is the
    * query dashboards actually ask, and argmax-with-noise is its
    * correct private form (releasing noisy counts and sorting them
    * spends budget on magnitudes nobody asked for).
    *
    * Determinism: q308's md5-uniform convention → Gumbel noise; keys
    * are 6dp-rounded before the deterministic (key DESC, type)
    * argmax (the q368 guard). True counts ride along curator-side;
    * only (round, event_type) crosses the trust boundary.
    *
    * Scale: one contribution-bounded (type, user)-distinct aggregate;
    * the k peeling rounds run on the |types|-row frame.
    */
  def dpTopK(spark: SparkSession, dir: String, k: Int = 3,
             eps: Double = 1.0): DataFrame = {
    import graft.functions.PortableHash
    val counts = Tables.load(spark, dir, "events")
      .select(col("event_type"), col("user_id")).distinct()
      .groupBy(col("event_type")).agg(count(lit(1)).as("n_users"))
      .transform(graft.Iterate.cut) // consumed once per peeling round
    val epsRound = eps / k
    var picks: DataFrame = null
    var remaining = counts
    (1 to k).foreach { r =>
      val u = (PortableHash.md5Long60(concat(col("event_type"),
        lit(s"|topk|$r"))).cast("double") + 0.5) /
        lit((1L << 60).toDouble)
      val keyed = remaining.withColumn("ekey",
        round(lit(epsRound / 2.0) * col("n_users").cast("double") +
          -log(-log(u)), 6))
      val sel = keyed
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(lit(1))
            .orderBy(col("ekey").desc, col("event_type"))))
        .filter(col("rn") === 1)
        .select(lit(r).as("round"), col("event_type"), col("n_users"))
      picks = if (picks == null) sel else picks.unionByName(sel)
      remaining = remaining.join(
        sel.select(col("event_type")), Seq("event_type"), "left_anti")
    }
    picks.orderBy(col("round"))
  }

  def dpTopKSql(k: Int = 3, eps: Double = 1.0): String = {
    val epsRound = eps / k
    def keyed(r: Int, excl: Seq[Int]): String = {
      val not = if (excl.isEmpty) ""
        else "WHERE event_type NOT IN (" +
          excl.map(i => s"SELECT event_type FROM sel$i")
            .mkString(" UNION ALL ") + ")"
      s"""sel$r AS (
         |  SELECT $r AS round, event_type, n_users FROM (
         |    SELECT event_type, n_users,
         |      row_number() OVER (ORDER BY ROUND(${epsRound / 2.0}
         |        * CAST(n_users AS DOUBLE) +
         |        -ln(-ln((CAST(CAST(('0x' || substr(md5(event_type ||
         |          '|topk|$r'), 1, 15)) AS BIGINT) AS DOUBLE) + 0.5)
         |          / POWER(2.0, 60))), 6) DESC, event_type) AS rn
         |    FROM counts $not
         |  ) WHERE rn = 1
         |)""".stripMargin
    }
    val chain = (1 to k).map(r => keyed(r, (1 until r).toSeq))
      .mkString(",\n")
    s"""WITH counts AS (
       |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_users FROM (
       |    SELECT DISTINCT event_type, user_id FROM events
       |  ) GROUP BY 1
       |),
       |$chain
       |SELECT * FROM (
       |${(1 to k).map(r => s"SELECT round, event_type, n_users FROM sel$r")
          .mkString("\nUNION ALL\n")}
       |)
       |ORDER BY round""".stripMargin
  }

  /** q442 — randomized response (Warner's forced-response, the LOCAL
    * differential-privacy verb): each user answers "did you
    * purchase?" truthfully with probability p = 3/4, otherwise with a
    * fair coin, and the curator de-biases the aggregate rate via
    * p̂ = (r̂ − (1−p)/2) / p. The central-DP releases (q308 counts,
    * q353 mean, q368 median, q408 top-k) trust the curator; this is
    * the mechanism for when NOBODY is trusted with individual truth —
    * the per-user reports are already private, and the relation
    * shows the estimator recovering the true rate beside its error.
    * ε = ln(3) per user here ((p + (1−p)/2)/((1−p)/2) = 3).
    *
    * Determinism: both coins are the q308 seeded-inverse-CDF
    * convention — the selector compares a 60-bit md5 word against the
    * EXACT integer threshold 3·2⁵⁸ (p = 3/4 needs no floating
    * point), the forced answer is an independent md5 parity bit; both
    * engines derive bit-identical reports, so the release grades
    * hash-exact. Production swaps the md5 words for client-side
    * cryptographic draws; the plan is unchanged.
    *
    * Scale: one (user, type) presence aggregate over a distinct-user
    * frame, a narrow coin map, one per-type aggregate — no joins
    * beyond the user-universe cross, which is |users|×|types| rows of
    * three integers.
    */
  def randomizedResponse(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.PortableHash
    val ev = Tables.load(spark, dir, "events")
    val users = ev.select(col("user_id")).distinct()
    val types = ev.select(col("event_type")).distinct()
    val truth = ev.select(col("user_id"), col("event_type")).distinct()
      .withColumn("did", lit(1L))
    val universe = users.crossJoin(broadcast(types))
      .join(truth, Seq("user_id", "event_type"), "left")
      .withColumn("did", coalesce(col("did"), lit(0L)))
    // selector: truth with p = 3/4 — exact integer threshold 3 * 2^58
    val sel = PortableHash.md5Long60(
      concat(col("user_id").cast("string"), lit("|sel|"),
        col("event_type"))) < lit(3L << 58)
    val coin = (PortableHash.md5Long60(
      concat(col("user_id").cast("string"), lit("|rnd|"),
        col("event_type"))) % 2 === 0).cast("long")
    val reported = universe
      .withColumn("report", when(sel, col("did")).otherwise(coin))
    reported.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("did")).as("n_true"),
        sum(col("report")).as("n_reported"))
      .withColumn("true_rate", round(
        col("n_true").cast("double") / col("n_users").cast("double"), 6))
      .withColumn("reported_rate",
        col("n_reported").cast("double") / col("n_users").cast("double"))
      .select(col("event_type"), col("n_users"), col("n_true"),
        col("n_reported"), col("true_rate"),
        round(col("reported_rate"), 6).as("reported_rate"),
        round((col("reported_rate") - lit(0.125)) / lit(0.75), 6)
          .as("estimated_rate"),
        round(abs((col("reported_rate") - lit(0.125)) / lit(0.75) -
          col("n_true").cast("double") / col("n_users").cast("double")), 6)
          .as("abs_err"))
      .orderBy(col("event_type"))
  }

  val randomizedResponseSql: String =
    s"""WITH users AS (
       |  SELECT DISTINCT user_id FROM events
       |), types AS (
       |  SELECT DISTINCT event_type FROM events
       |), truth AS (
       |  SELECT DISTINCT user_id, event_type, 1 AS did FROM events
       |), universe AS (
       |  SELECT u.user_id, t.event_type,
       |    CAST(COALESCE(tr.did, 0) AS BIGINT) AS did
       |  FROM users u CROSS JOIN types t
       |  LEFT JOIN truth tr
       |    ON tr.user_id = u.user_id AND tr.event_type = t.event_type
       |), reported AS (
       |  SELECT event_type, did,
       |    CASE WHEN CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)
       |        || '|sel|' || event_type), 1, 15)) AS BIGINT)
       |        < ${3L << 58}
       |      THEN did
       |      ELSE CASE WHEN CAST(('0x' || substr(md5(CAST(user_id AS
       |        VARCHAR) || '|rnd|' || event_type), 1, 15)) AS BIGINT)
       |        % 2 = 0 THEN 1 ELSE 0 END
       |    END AS report
       |  FROM universe
       |), agg AS (
       |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_users,
       |    CAST(SUM(did) AS BIGINT) AS n_true,
       |    CAST(SUM(report) AS BIGINT) AS n_reported
       |  FROM reported GROUP BY 1
       |)
       |SELECT event_type, n_users, n_true, n_reported,
       |  ROUND(CAST(n_true AS DOUBLE) / CAST(n_users AS DOUBLE), 6)
       |    AS true_rate,
       |  ROUND(CAST(n_reported AS DOUBLE) / CAST(n_users AS DOUBLE), 6)
       |    AS reported_rate,
       |  ROUND((CAST(n_reported AS DOUBLE) / CAST(n_users AS DOUBLE)
       |    - 0.125) / 0.75, 6) AS estimated_rate,
       |  ROUND(ABS((CAST(n_reported AS DOUBLE) / CAST(n_users AS DOUBLE)
       |    - 0.125) / 0.75
       |    - CAST(n_true AS DOUBLE) / CAST(n_users AS DOUBLE)), 6)
       |    AS abs_err
       |FROM agg
       |ORDER BY event_type""".stripMargin
}
