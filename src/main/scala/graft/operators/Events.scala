package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.Relational.{decSum, tsMs}

/** Batch event analytics (SURVEY §2.10): the reference has no streaming
  * surface — temporal logic is batch over append-only history tables —
  * so event windows and sessionization are implemented batch-first
  * (the Structured Streaming forms live in graft.streaming).
  */
object Events {

  /** Calendar day of `ts` as integer epoch days with FLOOR-division
    * semantics: `us - pmod(us, d)` is the largest day multiple ≤ us
    * (pmod is nonnegative), so the final `div` is exact — equal to
    * DuckDB's `epoch_ms(ts) // 86400000` for ALL timestamps. A bare
    * `div` truncates toward zero, silently assigning pre-1970
    * timestamps to the following day relative to the oracle.
    */
  private[operators] val epochDayExpr: Column = expr(
    "(unix_micros(ts) - pmod(unix_micros(ts), 86400000000)) div 86400000000")

  /** The daily series: per (event_type, day) value sum `v` (DECIMAL). */
  private def dailyValues(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "events")
      .groupBy(col("event_type"), epochDayExpr.as("day"))
      .agg(decSum(col("value")).as("v"))

  /** Per (event_type, day) event count `v`. */
  private def dailyCounts(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "events")
      .groupBy(col("event_type"), epochDayExpr.as("day"))
      .agg(count(lit(1)).as("v"))

  /** The SQL twins of [[dailyValues]] and [[dailyCounts]], and the
    * daily sum in integer micro-units (`v_e6`). */
  private val dailyValuesCte: String =
    """daily AS (
      |  SELECT event_type, epoch_ms(ts) // 86400000 AS day,
      |    CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS v
      |  FROM events GROUP BY 1, 2
      |)""".stripMargin

  private val dailyCountsCte: String =
    """daily AS (
      |  SELECT event_type, epoch_ms(ts) // 86400000 AS day,
      |    CAST(COUNT(*) AS BIGINT) AS v
      |  FROM events GROUP BY 1, 2
      |)""".stripMargin

  private val dailyMicrosCte: String =
    """daily AS (
      |  SELECT event_type, epoch_ms(ts) // 86400000 AS day,
      |    CAST(SUM(CAST(value AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS v_e6
      |  FROM events GROUP BY 1, 2
      |)""".stripMargin

  /** q19 — tumbling window aggregate: hourly counts/sums per event
    * type via the `window()` function (the same expression Structured
    * Streaming uses, so the batch and streaming plans share semantics).
    * Scale: a single hash aggregation on (window, type) — at 100 TB
    * input files partitioned by event date make this partition-local.
    */
  def tumblingHourly(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
    ev.groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        decSum(col("value")).as("sum_value"))
      .select(
        expr("unix_micros(w.start) div 1000").as("hour_ms"),
        col("event_type"), col("n_events"), col("sum_value"))
      .orderBy(col("hour_ms"), col("event_type"))
  }

  val tumblingHourlySql: String =
    """SELECT epoch_ms(date_trunc('hour', ts)) AS hour_ms, event_type,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1, 2 ORDER BY hour_ms, event_type""".stripMargin

  /** `ev` (with `ts_ms`) plus a per-user `session_id`: a user's first
    * event, and any event more than `gapMinutes` after the previous
    * one, opens a new session. */
  private def withSessionIds(ev: DataFrame, gapMinutes: Int): DataFrame = {
    val gapMs = gapMinutes * 60000L
    val wOrder = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_ms"), col("event_id"))
    ev.withColumn("prev_ts", lag(col("ts_ms"), 1).over(wOrder))
      .withColumn("new_session",
        when(col("prev_ts").isNull || col("ts_ms") - col("prev_ts") > gapMs, 1L)
          .otherwise(0L))
      .withColumn("session_id",
        sum(col("new_session")).over(wOrder.rowsBetween(Window.unboundedPreceding, 0)))
  }

  /** The SQL twin of [[withSessionIds]]' first step: `new_session`
    * flags each event that opens a session. */
  private def sessionFlagsCte(gapMinutes: Int): String =
    s"""flagged AS (
      |  SELECT user_id, event_id, event_type, epoch_ms(ts) AS ts_ms,
      |    CASE WHEN lag(epoch_ms(ts)) OVER w IS NULL
      |              OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER w > ${gapMinutes * 60000L}
      |         THEN 1 ELSE 0 END AS new_session
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id)
      |)""".stripMargin

  /** [[sessionFlagsCte]] plus the running `session_id` (`sess`). */
  private def sessionCtes(gapMinutes: Int): String =
    s"""${sessionFlagsCte(gapMinutes)}, sess AS (
      |  SELECT user_id, event_id, event_type, ts_ms,
      |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
      |      ROWS UNBOUNDED PRECEDING) AS session_id
      |  FROM flagged
      |)""".stripMargin

  /** q20 — gap-based sessionization (SURVEY §2.10: `ts - lag(ts) > gap`
    * cumulative-sum pattern): a new session starts after a 30-minute
    * silence. Deterministic ordering via (ts_ms, event_id).
    * Scale: one shuffle on user_id; the window sort is per-user within
    * partitions — no global sort. Skewed power-users would be handled
    * by AQE or a two-level (user, coarse-time-bucket) pre-session pass.
    */
  def sessionize(spark: SparkSession, dir: String, gapMinutes: Int = 30): DataFrame = {
    val ev = Tables.load(spark, dir, "events").withColumn("ts_ms", tsMs("ts"))
    val flagged = withSessionIds(ev, gapMinutes)
    flagged.groupBy(col("user_id"), col("session_id"))
      .agg(
        min(col("ts_ms")).as("session_start_ms"),
        max(col("ts_ms")).as("session_end_ms"),
        count(lit(1)).as("n_events"),
        decSum(col("value")).as("session_value"))
      .orderBy(col("user_id"), col("session_id"))
  }

  /** q58 — per-key ordered window analytics (SURVEY §2.10 widened
    * beyond row_number/sum: lag/lead navigation, running totals,
    * bounded moving averages — the per-entity timeline features of an
    * event pipeline).
    *
    * Scale: ONE shuffle on user_id serves every window below (same
    * partitioning + ordering → one Window operator, one sort within
    * partitions — verified in the plan audit). No global sort until
    * the presentation ORDER BY.
    *
    * Oracle parity: running/moving sums accumulate DECIMAL(18,6), not
    * double — Spark accumulates cumulative frames row-by-row while
    * DuckDB uses segment trees, so double addition would associate
    * differently; decimal addition is exact under any association.
    */
  def windowAnalytics(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events").withColumn("ts_ms", tsMs("ts"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_ms"), col("event_id"))
    val decVal = col("value").cast(org.apache.spark.sql.types.DecimalType(18, 6))
    ev.select(col("user_id"), col("event_id"), col("ts_ms"), col("event_type"), col("value"))
      .withColumn("seq", row_number().over(w))
      .withColumn("gap_ms", col("ts_ms") - lag(col("ts_ms"), 1).over(w))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .withColumn("running_value",
        sum(decVal).over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("double"))
      .withColumn("moving_avg3",
        round(sum(decVal).over(w.rowsBetween(-2, 0)).cast("double") /
          count(col("value")).over(w.rowsBetween(-2, 0)), 6))
      .orderBy(col("user_id"), col("seq"))
  }

  val windowAnalyticsSql: String =
    """SELECT user_id, event_id, epoch_ms(ts) AS ts_ms, event_type, value,
      |  CAST(row_number() OVER w AS INT) AS seq,
      |  epoch_ms(ts) - lag(epoch_ms(ts)) OVER w AS gap_ms,
      |  lead(event_type) OVER w AS next_type,
      |  CAST(SUM(CAST(value AS DECIMAL(18,6)))
      |    OVER (w ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_value,
      |  ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6)))
      |      OVER (w ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) /
      |    COUNT(value) OVER (w ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) AS moving_avg3
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id)
      |ORDER BY user_id, seq""".stripMargin

  /** q78 — time-based RANGE window frames (SURVEY §2.10 widened past
    * q58's ROWS frames): per event, the count / decimal sum / min over
    * the trailing 1-hour window of the SAME user — the "activity in
    * the last hour" feature family, where the frame is defined by the
    * ORDER-BY value (epoch ms), not a row count, so ties (equal
    * timestamps) are peers and the frame is deterministic without a
    * row tiebreak.
    *
    * Scale: the same single user_id shuffle as q58 — RANGE frames add
    * no exchange, only a per-partition ordered scan with a sliding
    * frame boundary. Presentation sort tiebreaks on event_id because
    * equal-ts rows are interchangeable ONLY in frame membership, not
    * in output order.
    */
  def timeRangeWindows(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events").withColumn("ts_ms", tsMs("ts"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_ms"))
      .rangeBetween(-3600000L, 0L)
    val decVal = col("value").cast(org.apache.spark.sql.types.DecimalType(18, 6))
    ev.select(col("user_id"), col("event_id"), col("ts_ms"), col("value"))
      .withColumn("n_1h", count(lit(1)).over(w))
      .withColumn("sum_1h", sum(decVal).over(w).cast("double"))
      .withColumn("min_1h", min(col("value")).over(w))
      .orderBy(col("user_id"), col("ts_ms"), col("event_id"))
  }

  val timeRangeWindowsSql: String =
    """SELECT user_id, event_id, epoch_ms(ts) AS ts_ms, value,
      |  COUNT(*) OVER w AS n_1h,
      |  CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS sum_1h,
      |  MIN(value) OVER w AS min_1h
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts)
      |  RANGE BETWEEN 3600000 PRECEDING AND CURRENT ROW)
      |ORDER BY user_id, ts_ms, event_id""".stripMargin

  val sessionizeSql: String =
    """WITH flagged AS (
      |  SELECT user_id, event_id, value, epoch_ms(ts) AS ts_ms,
      |    CASE WHEN lag(epoch_ms(ts)) OVER w IS NULL
      |           OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER w > 1800000
      |         THEN 1 ELSE 0 END AS new_session
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id)
      |), sessions AS (
      |  SELECT user_id, event_id, value, ts_ms,
      |    CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      |  FROM flagged
      |)
      |SELECT user_id, session_id,
      |  MIN(ts_ms) AS session_start_ms, MAX(ts_ms) AS session_end_ms,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS session_value
      |FROM sessions GROUP BY user_id, session_id
      |ORDER BY user_id, session_id""".stripMargin

  /** q83 — cohort retention matrix: users are assigned to the weekly
    * cohort of their FIRST event (Monday-truncated, identical
    * `date_trunc('week')` in both engines), then each (cohort,
    * week-offset) cell counts the distinct cohort members active that
    * week — the classic product-analytics retention triangle.
    *
    * Scale: first-event per user is a partial-aggregable min on the
    * user_id shuffle key; weekly activity is a distinct over (user,
    * week) — also map-side combinable; the cohort join is user_id ⋈
    * user_id, co-partitioned with the aggregates around it, and the
    * final cell aggregate is over the tiny (cohort × offset) domain.
    * Nothing here holds per-user state wider than one row.
    */
  def cohortRetention(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
    val firsts = ev.groupBy(col("user_id"))
      .agg(min(col("ts")).as("first_ts"))
      .withColumn("cohort", to_date(date_trunc("week", col("first_ts"))))
      .select(col("user_id"), col("cohort"))
    val activity = ev
      .select(col("user_id"), to_date(date_trunc("week", col("ts"))).as("week"))
      .distinct()
    val sizes = firsts.groupBy(col("cohort"))
      .agg(count(lit(1)).as("cohort_size"))
    activity.join(firsts, "user_id")
      .withColumn("week_offset",
        (datediff(col("week"), col("cohort")) / 7).cast("int"))
      .groupBy(col("cohort"), col("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_active"))
      .join(sizes, "cohort")
      .withColumn("retention",
        round(col("n_active").cast("double") / col("cohort_size"), 6))
      .select(col("cohort"), col("week_offset"), col("n_active"),
        col("cohort_size"), col("retention"))
      .orderBy(col("cohort"), col("week_offset"))
  }

  val cohortRetentionSql: String =
    """WITH firsts AS (
      |  SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort
      |  FROM events GROUP BY user_id
      |), activity AS (
      |  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS week
      |  FROM events
      |), sizes AS (
      |  SELECT cohort, COUNT(*) AS cohort_size FROM firsts GROUP BY cohort
      |), cells AS (
      |  SELECT f.cohort,
      |    CAST(date_diff('day', f.cohort, a.week) / 7 AS INT) AS week_offset,
      |    COUNT(DISTINCT a.user_id) AS n_active
      |  FROM activity a JOIN firsts f ON a.user_id = f.user_id
      |  GROUP BY 1, 2
      |)
      |SELECT c.cohort, c.week_offset, c.n_active, s.cohort_size,
      |  ROUND(CAST(c.n_active AS DOUBLE) / s.cohort_size, 6) AS retention
      |FROM cells c JOIN sizes s ON c.cohort = s.cohort
      |ORDER BY c.cohort, c.week_offset""".stripMargin

  /** Each user's first signup (`s1`), first click after it (`s2`) and
    * first purchase after that (`s3`). */
  private val funnelStepsCtes: String =
    """s1 AS (
      |  SELECT user_id, MIN(epoch_ms(ts)) AS t_signup
      |  FROM events WHERE event_type = 'signup' GROUP BY user_id
      |), s2 AS (
      |  SELECT e.user_id, MIN(epoch_ms(e.ts)) AS t_click
      |  FROM events e JOIN s1 ON e.user_id = s1.user_id
      |  WHERE e.event_type = 'click' AND epoch_ms(e.ts) > s1.t_signup
      |  GROUP BY e.user_id
      |), s3 AS (
      |  SELECT e.user_id, MIN(epoch_ms(e.ts)) AS t_purchase
      |  FROM events e JOIN s2 ON e.user_id = s2.user_id
      |  WHERE e.event_type = 'purchase' AND epoch_ms(e.ts) > s2.t_click
      |  GROUP BY e.user_id
      |)""".stripMargin

  /** q84 — ordered funnel (signup → click → purchase): per user, the
    * earliest signup, the earliest click STRICTLY AFTER that signup,
    * and the earliest purchase strictly after that click — order
    * matters, so a purchase before the first post-signup click does
    * not convert. `stage` is the furthest step reached.
    *
    * Scale: each step is a filter + min-aggregate keyed on user_id
    * joined to the previous step's frontier — three co-partitioned
    * user_id shuffles, no windows, no per-user event buffering; the
    * progressive-min form is how funnels stay linear when one user can
    * have millions of events (the alternative — sorting each user's
    * full history — pays an O(n log n) sort for a pair of mins).
    */
  def funnel(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events").withColumn("ts_ms", tsMs("ts"))
    val s1 = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("ts_ms")).as("t_signup"))
    val s2 = ev.filter(col("event_type") === "click")
      .join(s1, "user_id")
      .filter(col("ts_ms") > col("t_signup"))
      .groupBy(col("user_id")).agg(min(col("ts_ms")).as("t_click"))
    val s3 = ev.filter(col("event_type") === "purchase")
      .join(s2, "user_id")
      .filter(col("ts_ms") > col("t_click"))
      .groupBy(col("user_id")).agg(min(col("ts_ms")).as("t_purchase"))
    s1.join(s2, Seq("user_id"), "left")
      .join(s3, Seq("user_id"), "left")
      .withColumn("stage",
        when(col("t_purchase").isNotNull, lit(3))
          .when(col("t_click").isNotNull, lit(2))
          .otherwise(lit(1)))
      .select(col("user_id"), col("t_signup"), col("t_click"),
        col("t_purchase"), col("stage"))
      .orderBy(col("user_id"))
  }

  /** q123 — funnel conversion rates with Wilson 95% intervals: per
    * funnel transition (signup→click, click→purchase), the observed
    * conversion rate and its Wilson score interval — the significance
    * lens that says whether a step's movement is real or small-n
    * noise (the Wald ±1.96·√(p(1−p)/n) interval misbehaves exactly at
    * the small n and extreme p where funnels live; Wilson does not).
    *
    * Exactness: n and k are exact integers from q84's stage counts;
    * every double op (the Wilson algebra with z = 1.96, one fixed
    * operand order, sqrt correctly-rounded IEEE) runs identically on
    * both engines; bounds round to 6dp. Scale: rides q84's funnel —
    * the interval math is arithmetic on a 2-row aggregate.
    */
  def funnelConfidence(spark: SparkSession, dir: String): DataFrame = {
    val counts = funnel(spark, dir).agg(
      count(lit(1)).as("n1"),
      sum((col("stage") >= 2).cast("long")).as("n2"),
      sum((col("stage") >= 3).cast("long")).as("n3"))
    val steps = counts.select(
      explode(array(
        struct(lit("signup->click").as("step"),
          col("n1").as("n"), col("n2").as("k")),
        struct(lit("click->purchase").as("step"),
          col("n2").as("n"), col("n3").as("k")))).as("s"))
      .select(col("s.step").as("step"), col("s.n").as("n"), col("s.k").as("k"))
    val z = lit(1.96)
    val p = col("k").cast("double") / col("n")
    val z2n = z * z / col("n")
    val center = (p + z2n / 2) / (lit(1.0) + z2n)
    val half = (z * sqrt((p * (lit(1.0) - p) + z2n / 4) / col("n"))) /
      (lit(1.0) + z2n)
    steps.select(col("step"), col("n"), col("k"),
        round(p, 6).as("rate"),
        round(center - half, 6).as("wilson_lo"),
        round(center + half, 6).as("wilson_hi"))
      .orderBy(col("step"))
  }

  val funnelConfidenceSql: String =
    s"""WITH $funnelStepsCtes, counts AS (
      |  SELECT (SELECT COUNT(*) FROM s1) AS n1,
      |         (SELECT COUNT(*) FROM s2) AS n2,
      |         (SELECT COUNT(*) FROM s3) AS n3
      |), steps AS (
      |  SELECT 'signup->click' AS step, n1 AS n, n2 AS k FROM counts
      |  UNION ALL
      |  SELECT 'click->purchase', n2, n3 FROM counts
      |), calc AS (
      |  -- z is CAST to DOUBLE: a bare 1.96 literal is DECIMAL(3,2) in
      |  -- DuckDB and would route the algebra through decimal ops
      |  SELECT step, n, k,
      |    CAST(k AS DOUBLE) / n AS p,
      |    CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE) / n AS z2n
      |  FROM steps
      |), calc2 AS (
      |  SELECT step, n, k, p,
      |    (p + z2n / 2) / (1.0 + z2n) AS center,
      |    (CAST(1.96 AS DOUBLE) * sqrt((p * (1.0 - p) + z2n / 4) / n))
      |      / (1.0 + z2n) AS half
      |  FROM calc
      |)
      |SELECT step, n, k,
      |  ROUND(p, 6) AS rate,
      |  ROUND(center - half, 6) AS wilson_lo,
      |  ROUND(center + half, 6) AS wilson_hi
      |FROM calc2 ORDER BY step""".stripMargin

  /** q90 — RFM segmentation: per purchasing user, Recency (ms since
    * their last purchase, measured from the corpus-max purchase time),
    * Frequency (purchase count) and Monetary (decimal-exact value
    * sum), each scored into quintiles (5 = best), composed into the
    * classic 3-digit RFM segment.
    *
    * Scale: the per-user aggregate is map-side combinable on the
    * user_id key and shrinks events to one row per purchaser BEFORE
    * any window; the corpus max rides a broadcast 1-row aggregate
    * (q03/q12's pattern — no `OVER ()`). The quintile ntile windows
    * are global over the aggregated users table — integer-exact
    * (no float quantile boundaries to disagree over) but
    * single-partition; the 100 TB path replaces them with
    * approx-quantile boundaries broadcast back (q42's documented
    * exact-vs-approx tradeoff, applied to users instead of lengths).
    */
  def rfm(spark: SparkSession, dir: String,
          mode: graft.ScaleMode = graft.ScaleMode.Exact): DataFrame = {
    val per = rfmPerUser(spark, dir)
    // the ONLY exact↔sketch difference: quintile scoring — global
    // ntile windows (integer-exact, single-partition sort) vs
    // approx_percentile boundaries broadcast back (fully parallel,
    // ties split by value instead of position). Base aggregate and
    // output shape are one shared body.
    val scored = mode match {
      case graft.ScaleMode.Exact =>
        def quintile(order: Column*): Column = ntile(5).over(
          Window.orderBy(order: _*))
        per
          .withColumn("r_score", quintile(col("recency_ms").desc, col("user_id")))
          .withColumn("f_score", quintile(col("frequency").asc, col("user_id")))
          .withColumn("m_score", quintile(col("monetary").asc, col("user_id")))
      case graft.ScaleMode.Sketch =>
        val qs = array((1 to 4).map(i => lit(i / 5.0)): _*)
        val bounds = per.agg(
          percentile_approx(col("recency_ms"), qs, lit(10000)).as("rb"),
          percentile_approx(col("frequency"), qs, lit(10000)).as("fb"),
          percentile_approx(col("monetary"), qs, lit(10000)).as("mb"))
        def above(c: Column, b: Column): Column =
          (1 to 4).map(i => (c > element_at(b, i)).cast("int")).reduce(_ + _) + 1
        def below(c: Column, b: Column): Column =
          (1 to 4).map(i => (c < element_at(b, i)).cast("int")).reduce(_ + _) + 1
        per.crossJoin(broadcast(bounds))
          .withColumn("r_score", below(col("recency_ms"), col("rb")))
          .withColumn("f_score", above(col("frequency"), col("fb")))
          .withColumn("m_score", above(col("monetary"), col("mb")))
    }
    scored
      .withColumn("rfm",
        col("r_score") * 100 + col("f_score") * 10 + col("m_score"))
      .select(col("user_id"), col("recency_ms"), col("frequency"),
        col("monetary"), col("r_score"), col("f_score"), col("m_score"),
        col("rfm"))
      .orderBy(col("user_id"))
  }

  /** Shared q90/x02 base: one map-side-combinable per-user aggregate
    * over purchases, corpus max broadcast back (q03/q12's pattern).
    */
  private def rfmPerUser(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.load(spark, dir, "events")
      .filter(col("event_type") === "purchase")
      .withColumn("ts_ms", tsMs("ts"))
    val maxTs = p.agg(max(col("ts_ms")).as("corpus_max_ms"))
    p.groupBy(col("user_id"))
      .agg(max(col("ts_ms")).as("last_ms"),
        count(lit(1)).as("frequency"),
        decSum(col("value")).as("monetary"))
      .crossJoin(broadcast(maxTs))
      .withColumn("recency_ms", col("corpus_max_ms") - col("last_ms"))
  }

  val rfmSql: String =
    """WITH p AS (
      |  SELECT user_id, epoch_ms(ts) AS ts_ms, value
      |  FROM events WHERE event_type = 'purchase'
      |), per AS (
      |  SELECT user_id, MAX(ts_ms) AS last_ms,
      |    COUNT(*) AS frequency,
      |    CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS monetary
      |  FROM p GROUP BY user_id
      |), scored AS (
      |  SELECT user_id,
      |    (SELECT MAX(ts_ms) FROM p) - last_ms AS recency_ms,
      |    frequency, monetary
      |  FROM per
      |)
      |SELECT user_id, recency_ms, frequency, monetary,
      |  CAST(NTILE(5) OVER (ORDER BY recency_ms DESC, user_id) AS INT) AS r_score,
      |  CAST(NTILE(5) OVER (ORDER BY frequency ASC, user_id) AS INT) AS f_score,
      |  CAST(NTILE(5) OVER (ORDER BY monetary ASC, user_id) AS INT) AS m_score,
      |  CAST(NTILE(5) OVER (ORDER BY recency_ms DESC, user_id) AS INT) * 100 +
      |  CAST(NTILE(5) OVER (ORDER BY frequency ASC, user_id) AS INT) * 10 +
      |  CAST(NTILE(5) OVER (ORDER BY monetary ASC, user_id) AS INT) AS rfm
      |FROM scored ORDER BY user_id""".stripMargin

  /** 100 TB scale path of q90 (benched as x02, not oracle-graded):
    * the three global ntile windows — single-partition sorts over the
    * aggregated users table — replaced by approx_percentile quintile
    * BOUNDARIES (one 1-row sketch aggregate) broadcast back and
    * compared per row: fully parallel, no global sort anywhere.
    * Same q42-exact-vs-approx tradeoff, applied to users: sketch
    * boundaries assign tied values to one side where ntile splits
    * ties positionally, so scores can differ at bucket edges (and
    * the sketch itself is approximate) — the exact form stays the
    * oracle.
    */
  def rfmApprox(spark: SparkSession, dir: String): DataFrame =
    rfm(spark, dir, graft.ScaleMode.Sketch)

  /** q91 — last-touch attribution: each purchase is attributed to the
    * same user's most recent PRIOR touch (click or view); purchases
    * with no prior touch are 'direct'. Revenue rolls up per channel —
    * the marketing-analytics sibling of the as-of join (q46): same
    * tagged single-pass window over the merged stream, one user_id
    * shuffle, no join, then a tiny channel aggregate.
    */
  def lastTouchAttribution(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
      .filter(col("event_type").isin("purchase", "click", "view"))
      .withColumn("ts_ms", tsMs("ts"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_ms"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    ev.withColumn("last_touch",
        last(when(col("event_type") =!= "purchase", col("event_type")),
          ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .withColumn("channel", coalesce(col("last_touch"), lit("direct")))
      .groupBy(col("channel"))
      .agg(count(lit(1)).as("n_purchases"),
        decSum(col("value")).as("attributed_value"))
      .orderBy(col("channel"))
  }

  val lastTouchAttributionSql: String =
    """WITH tagged AS (
      |  SELECT event_type, value,
      |    last_value(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_touch
      |  FROM events WHERE event_type IN ('purchase', 'click', 'view')
      |)
      |SELECT COALESCE(last_touch, 'direct') AS channel,
      |  COUNT(*) AS n_purchases,
      |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS attributed_value
      |FROM tagged WHERE event_type = 'purchase'
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** q93 — session co-occurrence lift: which event types appear
    * together in one session more (lift > 1) or less (< 1) than
    * independence predicts — association-rule mining's support/lift
    * over q20's gap sessions. The transition matrix (q92) is ordered
    * and adjacent; this is unordered whole-session affinity.
    *
    * Scale: sessions are q20's running-sum window (one user_id
    * shuffle); the distinct (session, type) table is a
    * map-side-combinable aggregate; the pair join is a self-join
    * co-partitioned on the session key, whose fan-out is bounded by
    * (distinct types per session choose 2) — with a bounded type
    * vocabulary this is linear in sessions, never all-pairs of events.
    * The session total rides a broadcast 1-row aggregate. Lift
    * arithmetic is one multiply + one divide over exact integer
    * counts in a fixed order — correctly-rounded IEEE both engines.
    */
  def sessionCooccurrence(spark: SparkSession, dir: String,
                          gapMinutes: Int = 30): DataFrame = {
    val ev = Tables.load(spark, dir, "events").withColumn("ts_ms", tsMs("ts"))
    val st = withSessionIds(ev, gapMinutes)
      .select(col("user_id"), col("session_id"), col("event_type"))
      .distinct()
      .transform(graft.Iterate.cut) // three consumers: totals, singles, pair join
    val total = st.select(col("user_id"), col("session_id")).distinct()
      .agg(count(lit(1)).as("n_sessions"))
    val singles = st.groupBy(col("event_type")).agg(count(lit(1)).as("n_single"))
    val pairs = st.as("a")
      .join(st.as("b"), Seq("user_id", "session_id"))
      .filter(col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.event_type").as("type_a"), col("b.event_type").as("type_b"))
      .agg(count(lit(1)).as("n_ab"))
    pairs
      .join(broadcast(singles.select(col("event_type").as("type_a"),
        col("n_single").as("n_a"))), "type_a")
      .join(broadcast(singles.select(col("event_type").as("type_b"),
        col("n_single").as("n_b"))), "type_b")
      .crossJoin(broadcast(total))
      .withColumn("lift", round(
        col("n_ab").cast("double") * col("n_sessions") /
          (col("n_a").cast("double") * col("n_b")), 6))
      .select(col("type_a"), col("type_b"), col("n_ab"), col("n_a"),
        col("n_b"), col("n_sessions"), col("lift"))
      .orderBy(col("type_a"), col("type_b"))
  }

  def sessionCooccurrenceSql(gapMinutes: Int = 30): String = {
    s"""WITH ${sessionFlagsCte(gapMinutes)}, st AS (
      |  SELECT DISTINCT user_id, session_id, event_type FROM (
      |    SELECT user_id, event_type,
      |      SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
      |        ROWS UNBOUNDED PRECEDING) AS session_id
      |    FROM flagged
      |  )
      |), total AS (
      |  SELECT COUNT(*) AS n_sessions
      |  FROM (SELECT DISTINCT user_id, session_id FROM st)
      |), singles AS (
      |  SELECT event_type, COUNT(*) AS n_single FROM st GROUP BY event_type
      |), pairs AS (
      |  SELECT a.event_type AS type_a, b.event_type AS type_b, COUNT(*) AS n_ab
      |  FROM st a JOIN st b ON a.user_id = b.user_id
      |    AND a.session_id = b.session_id AND a.event_type < b.event_type
      |  GROUP BY 1, 2
      |)
      |SELECT p.type_a, p.type_b, p.n_ab, sa.n_single AS n_a, sb.n_single AS n_b,
      |  t.n_sessions,
      |  ROUND(CAST(p.n_ab AS DOUBLE) * t.n_sessions /
      |    (CAST(sa.n_single AS DOUBLE) * sb.n_single), 6) AS lift
      |FROM pairs p
      |JOIN singles sa ON p.type_a = sa.event_type
      |JOIN singles sb ON p.type_b = sb.event_type
      |CROSS JOIN total t
      |ORDER BY p.type_a, p.type_b""".stripMargin
  }

  /** q92 — event-type transition matrix: for each consecutive pair in
    * a user's (ts, event_id)-ordered stream, count from→to transitions
    * and the row-normalized probability — the first-order Markov view
    * of user journeys (what follows a view? how often does an error
    * precede churn?). The funnel (q84) asks about one fixed path; this
    * is the whole transition structure at once.
    *
    * Scale: the lead() pairs ride one user_id shuffle (same exchange
    * family as q58/q85); the transition aggregate collapses to the
    * tiny (types × types) domain map-side, and the row totals come
    * from a second aggregate over that domain (a broadcast join back
    * — never a window over the raw stream). Decimal division is
    * avoided: probability is an O(1)-magnitude score, round(x, 6).
    */
  def eventTransitions(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events").withColumn("ts_ms", tsMs("ts"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_ms"), col("event_id"))
    val pairs = ev
      .withColumn("to_type", lead(col("event_type"), 1).over(w))
      .filter(col("to_type").isNotNull)
      .select(col("event_type").as("from_type"), col("to_type"))
    val counts = pairs.groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    val totals = counts.groupBy(col("from_type"))
      .agg(sum(col("n")).as("row_total"))
    counts.join(broadcast(totals), "from_type")
      .withColumn("prob", round(col("n").cast("double") / col("row_total"), 6))
      .select(col("from_type"), col("to_type"), col("n"),
        col("row_total"), col("prob"))
      .orderBy(col("from_type"), col("to_type"))
  }

  val eventTransitionsSql: String =
    """WITH pairs AS (
      |  SELECT event_type AS from_type,
      |    lead(event_type) OVER (PARTITION BY user_id
      |      ORDER BY epoch_ms(ts), event_id) AS to_type
      |  FROM events
      |), counts AS (
      |  SELECT from_type, to_type, COUNT(*) AS n
      |  FROM pairs WHERE to_type IS NOT NULL GROUP BY 1, 2
      |), totals AS (
      |  SELECT from_type, CAST(SUM(n) AS BIGINT) AS row_total
      |  FROM counts GROUP BY 1
      |)
      |SELECT c.from_type, c.to_type, c.n, t.row_total,
      |  ROUND(CAST(c.n AS DOUBLE) / t.row_total, 6) AS prob
      |FROM counts c JOIN totals t ON c.from_type = t.from_type
      |ORDER BY c.from_type, c.to_type""".stripMargin

  val funnelSql: String =
    s"""WITH $funnelStepsCtes
      |SELECT s1.user_id, s1.t_signup, s2.t_click, s3.t_purchase,
      |  CASE WHEN s3.t_purchase IS NOT NULL THEN 3
      |       WHEN s2.t_click IS NOT NULL THEN 2 ELSE 1 END AS stage
      |FROM s1 LEFT JOIN s2 ON s1.user_id = s2.user_id
      |        LEFT JOIN s3 ON s1.user_id = s3.user_id
      |ORDER BY s1.user_id""".stripMargin

  /** q144 — time-to-convert distribution: per funnel step, exact
    * min/median/p90/max of the millisecond latency between stage
    * timestamps for users who completed the step (q84 gives the
    * stage reach, q123 the rate confidence — this is the "how LONG
    * does converting take" axis, the input to abandonment timeouts
    * and attribution windows).
    *
    * Exactness: latencies are exact integer ms differences from q84's
    * min-timestamps; quantiles are the q42 rank-selection convention
    * ((n+1) div 2 and (9n+9) div 10 on a fully-tiebroken ordering) —
    * no interpolation, so both engines pick the same element.
    *
    * Scale: rides the q84 funnel (three filtered aggregates), then a
    * per-step window over CONVERTED users only — the small end of the
    * funnel, orders of magnitude under the event scan.
    */
  def timeToConvert(spark: SparkSession, dir: String): DataFrame = {
    val f = funnel(spark, dir)
    val steps = f.select(explode(array(
        struct(lit("1_signup_to_click").as("step"),
          (col("t_click") - col("t_signup")).as("dt_ms"), col("user_id")),
        struct(lit("2_click_to_purchase").as("step"),
          (col("t_purchase") - col("t_click")).as("dt_ms"), col("user_id")),
        struct(lit("3_signup_to_purchase").as("step"),
          (col("t_purchase") - col("t_signup")).as("dt_ms"), col("user_id"))))
        .as("s"))
      .select(col("s.step").as("step"), col("s.dt_ms").as("dt_ms"),
        col("s.user_id").as("user_id"))
      .filter(col("dt_ms").isNotNull)
    val w = Window.partitionBy(col("step")).orderBy(col("dt_ms"), col("user_id"))
    steps
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("step"))))
      .groupBy(col("step"))
      .agg(
        max(col("n")).as("n_users"),
        min(col("dt_ms")).as("min_ms"),
        max(when(col("rn") === expr("(n + 1) div 2"), col("dt_ms"))).as("median_ms"),
        max(when(col("rn") === expr("(n * 9 + 9) div 10"), col("dt_ms"))).as("p90_ms"),
        max(col("dt_ms")).as("max_ms"))
      .orderBy(col("step"))
  }

  val timeToConvertSql: String =
    s"""WITH funnel_frame AS (
      |  $funnelSql
      |), steps AS (
      |  SELECT step, dt_ms, user_id FROM (
      |    SELECT '1_signup_to_click' AS step,
      |      t_click - t_signup AS dt_ms, user_id FROM funnel_frame
      |    UNION ALL
      |    SELECT '2_click_to_purchase', t_purchase - t_click, user_id
      |    FROM funnel_frame
      |    UNION ALL
      |    SELECT '3_signup_to_purchase', t_purchase - t_signup, user_id
      |    FROM funnel_frame
      |  ) WHERE dt_ms IS NOT NULL
      |), ranked AS (
      |  SELECT step, dt_ms,
      |    row_number() OVER (PARTITION BY step ORDER BY dt_ms, user_id) AS rn,
      |    COUNT(*) OVER (PARTITION BY step) AS n
      |  FROM steps
      |)
      |SELECT step, CAST(MAX(n) AS BIGINT) AS n_users,
      |  MIN(dt_ms) AS min_ms,
      |  MAX(CASE WHEN rn = (n + 1) // 2 THEN dt_ms END) AS median_ms,
      |  MAX(CASE WHEN rn = (n * 9 + 9) // 10 THEN dt_ms END) AS p90_ms,
      |  MAX(dt_ms) AS max_ms
      |FROM ranked GROUP BY step ORDER BY step""".stripMargin

  /** q145 — day-of-week seasonality profile: per (event type,
    * weekday), event count, share of the type's events, and exact
    * mean value. The rhythm baseline q121's daily anomaly flags and
    * q120's forecast implicitly assume — a type whose Monday share is
    * 3× its Sunday share needs weekday-conditional thresholds, and
    * this is the relation that says so.
    *
    * Weekday is PURE INTEGER arithmetic off the epoch day:
    * `pmod(day + 3, 7)` with 0 = Monday (1970-01-01 was a Thursday),
    * floor-division safe for pre-1970 timestamps like everything
    * downstream of [[epochDayExpr]]. Mean value accumulates in
    * DECIMAL(18,6); share is an exact-count quotient.
    *
    * Scale: one partial+final aggregate into ≤ |types|·7 groups plus
    * a broadcast of per-type totals — pure map-side shape.
    */
  def dowSeasonality(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
    val cells = ev
      .withColumn("dow", expr(
        "pmod((unix_micros(ts) - pmod(unix_micros(ts), 86400000000))" +
          " div 86400000000 + 3, 7)"))
      .groupBy(col("event_type"), col("dow"))
      .agg(count(lit(1)).as("n"),
        round(decSum(col("value")) / count(lit(1)), 6).as("mean_value"))
    val totals = cells.groupBy(col("event_type"))
      .agg(sum(col("n")).as("n_type"))
    cells.join(broadcast(totals), "event_type")
      .select(col("event_type"), col("dow"), col("n"),
        round(col("n").cast("double") / col("n_type"), 6).as("share"),
        col("mean_value"))
      .orderBy(col("event_type"), col("dow"))
  }

  val dowSeasonalitySql: String =
    """WITH cells AS (
      |  SELECT event_type,
      |    ((((epoch_ms(ts) // 86400000) + 3) % 7) + 7) % 7 AS dow,
      |    COUNT(*) AS n,
      |    ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
      |      / COUNT(*), 6) AS mean_value
      |  FROM events GROUP BY 1, 2
      |), totals AS (
      |  SELECT event_type, SUM(n) AS n_type FROM cells GROUP BY 1
      |)
      |SELECT c.event_type, c.dow, c.n,
      |  ROUND(CAST(c.n AS DOUBLE) / t.n_type, 6) AS share,
      |  c.mean_value
      |FROM cells c JOIN totals t ON c.event_type = t.event_type
      |ORDER BY c.event_type, c.dow""".stripMargin

  /** q102 — group-wise OLS regression: per event type, the
    * least-squares trend of purchase value over time (is this metric
    * drifting?) from the five classic sufficient statistics — the
    * aggregate-composable form of regr_slope/regr_r2, which is also
    * the 100 TB form: one partial+final aggregate per group, no
    * second pass, no window.
    *
    * Exactness: x is the integer epoch DAY ([[epochDayExpr]] — FLOOR
    * division, matching DuckDB's `//` for pre-1970 timestamps too),
    * y the raw value; each product term is rounded to 6dp BEFORE the
    * decimal cast (the q103 convention — double→decimal conversion on
    * an unrounded product can land on a half-boundary where Spark's
    * shortest-repr BigDecimal HALF_UP and DuckDB's binary-double
    * rounding disagree by 1e-6); all five sums accumulate in
    * DECIMAL(28,6) (order-independent; (28,6) because Σx² at day²
    * ≈ 4·10⁸ overflows the house (18,6) at ~10⁴ rows), are cast to
    * double once, and the slope/intercept/r² arithmetic runs in one
    * fixed operand order — identical IEEE results in both engines,
    * rounded to 6dp at the end. Degenerate groups (single x, zero
    * variance) surface as NULL via NULLIF rather than dividing by ~0
    * noise.
    */
  def groupwiseOls(spark: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(28, 6)
    def dsum(c: Column): Column = sum(c.cast(dec)).cast("double")
    val e = Tables.load(spark, dir, "events")
      .withColumn("x", epochDayExpr.cast("double"))
      .withColumn("y", col("value"))
    val stats = e.groupBy(col("event_type")).agg(
      count(lit(1)).as("n"),
      dsum(col("x")).as("sx"),
      dsum(col("y")).as("sy"),
      dsum(round(col("x") * col("x"), 6)).as("sxx"),
      dsum(round(col("x") * col("y"), 6)).as("sxy"),
      dsum(round(col("y") * col("y"), 6)).as("syy"))
    stats
      .withColumn("den", nullif(col("n") * col("sxx") - col("sx") * col("sx"), lit(0.0)))
      .withColumn("num", col("n") * col("sxy") - col("sx") * col("sy"))
      .withColumn("slope", round(col("num") / col("den"), 6))
      // intercept rounds to 4dp, not the house 6: at epoch-day x the
      // intercept magnitude is ~10³, and at sf0.01 its exact double
      // sits ON a 6dp half-boundary where Spark's BigDecimal HALF_UP
      // and DuckDB's binary-double rounding disagree by 1e-6; 4dp
      // keeps every dropped tail far from a half
      .withColumn("intercept", round(
        (col("sy") - (col("num") / col("den")) * col("sx")) / col("n"), 4))
      .withColumn("r2", round(
        (col("num") * col("num")) /
          nullif(col("den") * (col("n") * col("syy") - col("sy") * col("sy")),
            lit(0.0)), 6))
      .select(col("event_type"), col("n"), col("slope"), col("intercept"), col("r2"))
      .orderBy(col("event_type"))
  }

  /** q120 — exponentially-smoothed daily-value forecast per event
    * type: SES with α = 1/2 over the per-day decimal-exact value
    * totals — tomorrow's expected metric with recency-weighted
    * history, the first-reach forecasting primitive of every ops
    * dashboard.
    *
    * Exactness (why α is HALF and not a parameter): the recurrence
    * s_t = (y_t + s_{t−1}) / 2 only does IEEE-exact halvings, and both
    * engines fold the same ordered array left-to-right with the first
    * element as seed (Spark `aggregate` over the day-sorted values;
    * DuckDB `list_reduce`, whose seed is also the head) — so the
    * smoothed value is bit-identical without any per-term rounding. A
    * general α multiplies by inexact doubles each step and would need
    * the q103 rounding machinery.
    *
    * Scale: one (type, day) aggregate with map-side combine, then one
    * per-type fold over a days-long array — series length is calendar
    * days, never event count; the collected array is bounded by the
    * corpus time span.
    */
  def sesForecast(spark: SparkSession, dir: String): DataFrame = {
    val daily = dailyValues(spark, dir)
    daily.groupBy(col("event_type"))
      .agg(array_sort(collect_list(struct(col("day"), col("v")))).as("dv"))
      .select(col("event_type"),
        size(col("dv")).as("n_days"),
        element_at(col("dv"), -1).getField("v").as("last_value"),
        round(expr(
          """aggregate(
            |  slice(transform(dv, x -> x.v), 2, size(dv) - 1),
            |  CAST(dv[0].v AS DOUBLE),
            |  (s, x) -> (x + s) / 2D)""".stripMargin), 6).as("ses_forecast"))
      .orderBy(col("event_type"))
  }

  val sesForecastSql: String =
    s"""WITH $dailyValuesCte, series AS (
      |  SELECT event_type, list(v ORDER BY day) AS vals FROM daily GROUP BY 1
      |)
      |SELECT event_type,
      |  CAST(len(vals) AS INT) AS n_days,
      |  vals[len(vals)] AS last_value,
      |  ROUND(list_reduce(vals, (s, x) -> (x + s) / 2), 6) AS ses_forecast
      |FROM series ORDER BY event_type""".stripMargin

  /** q121 — daily anomaly flags per event type: each day's value
    * total scored against the type's exact median and MAD (median
    * absolute deviation), flagged when |v − med| > 3·MAD — the robust
    * ops-alerting screen (a mean/σ rule is itself dragged by the
    * outliers it should catch; the median/MAD pair is not). The
    * series sibling of q95's per-document MAD screen.
    *
    * Exactness: daily totals are decimal sums; median and MAD are
    * rank-SELECTED values (lower-middle rank, (v, day)-tiebroken —
    * q42's convention), so every compared number is an exact double
    * both engines share, and the 3·MAD comparison needs no rounding
    * machinery. Scale: one (type, day) aggregate, then two windows
    * partitioned by type over the days-long daily table — catalog-
    * sized, never event-sized.
    */
  def dailyAnomalies(spark: SparkSession, dir: String): DataFrame = {
    val daily = dailyValues(spark, dir)
    val wMed = Window.partitionBy(col("event_type")).orderBy(col("v"), col("day"))
    val med = daily
      .withColumn("rn", row_number().over(wMed))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("event_type"))))
      .groupBy(col("event_type"))
      .agg(max(when(col("rn") === expr("(n + 1) div 2"), col("v"))).as("med"))
    val dev = daily.join(broadcast(med), "event_type")
      .withColumn("adev", abs(col("v") - col("med")))
    val wMad = Window.partitionBy(col("event_type")).orderBy(col("adev"), col("day"))
    val mad = dev
      .withColumn("rn", row_number().over(wMad))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("event_type"))))
      .groupBy(col("event_type"))
      .agg(max(when(col("rn") === expr("(n + 1) div 2"), col("adev"))).as("mad"))
    dev.join(broadcast(mad), "event_type")
      .select(col("event_type"), col("day"), col("v"), col("med"), col("mad"),
        (col("adev") > col("mad") * 3).cast("int").as("is_anomaly"))
      .orderBy(col("event_type"), col("day"))
  }

  val dailyAnomaliesSql: String =
    s"""WITH $dailyValuesCte, med AS (
      |  SELECT event_type,
      |    MAX(CASE WHEN rn = (n + 1) // 2 THEN v END) AS med
      |  FROM (
      |    SELECT event_type, v,
      |      row_number() OVER (PARTITION BY event_type ORDER BY v, day) AS rn,
      |      COUNT(*) OVER (PARTITION BY event_type) AS n
      |    FROM daily
      |  ) GROUP BY event_type
      |), dev AS (
      |  SELECT d.event_type, d.day, d.v, m.med, ABS(d.v - m.med) AS adev
      |  FROM daily d JOIN med m USING (event_type)
      |), mad AS (
      |  SELECT event_type,
      |    MAX(CASE WHEN rn = (n + 1) // 2 THEN adev END) AS mad
      |  FROM (
      |    SELECT event_type, adev,
      |      row_number() OVER (PARTITION BY event_type ORDER BY adev, day) AS rn,
      |      COUNT(*) OVER (PARTITION BY event_type) AS n
      |    FROM dev
      |  ) GROUP BY event_type
      |)
      |SELECT dev.event_type, dev.day, dev.v, dev.med, mad.mad,
      |  CASE WHEN dev.adev > mad.mad * 3 THEN 1 ELSE 0 END AS is_anomaly
      |FROM dev JOIN mad USING (event_type)
      |ORDER BY dev.event_type, dev.day""".stripMargin

  /** q106 — rolling 7-day active users (WAU) per calendar day, plus
    * the daily distinct for contrast — the windowed-distinct metric
    * every product dashboard runs. Computed in the explode form: each
    * event day contributes its user to the 7 report days it covers,
    * then ONE (report_day, user) distinct aggregate — never a
    * per-day self-join over the raw stream, and never a
    * sliding-window scan per day.
    *
    * Days with no trailing activity report 0 (the calendar spine is
    * a 1-row min/max aggregate exploded to the day range — no
    * driver-side date loop).
    *
    * Scale: the ×7 explode rides the scan; both distinct aggregates
    * partial+final on (day, user). At 100 TB the same shape carries
    * HLL sketches instead of exact distincts (one sketch per day,
    * merged across the window — the q60 approx-twin pattern);
    * exact stays as the oracle form.
    */
  def rollingActiveUsers(spark: SparkSession, dir: String,
                         windowDays: Int = 7,
                         mode: graft.ScaleMode = graft.ScaleMode.Exact): DataFrame = {
    // the ONLY exact↔sketch difference: the distinct-user aggregation
    // strategy — exact set vs fixed-size HLL sketch (rsd 1%). The
    // explode shape, spine, joins, and output are one shared body.
    val distinctUsers: Column => Column = mode match {
      case graft.ScaleMode.Exact  => countDistinct(_)
      case graft.ScaleMode.Sketch => approx_count_distinct(_, 0.01)
    }
    val ev = Tables.load(spark, dir, "events")
      .select(epochDayExpr.as("day"), col("user_id"))
    val days = ev.agg(min(col("day")).as("mn"), max(col("day")).as("mx"))
      .select(explode(sequence(col("mn"), col("mx"))).as("epoch_day"))
    val w7 = ev
      .select(explode(sequence(col("day"), col("day") + (windowDays - 1)))
        .as("epoch_day"), col("user_id"))
      .groupBy(col("epoch_day"))
      .agg(distinctUsers(col("user_id")).as("n_users_7d"))
    val d1 = ev.groupBy(col("day").as("epoch_day"))
      .agg(distinctUsers(col("user_id")).as("n_users_1d"))
    days
      .join(d1, Seq("epoch_day"), "left")
      .join(w7, Seq("epoch_day"), "left")
      .select(col("epoch_day"),
        coalesce(col("n_users_1d"), lit(0L)).as("n_users_1d"),
        coalesce(col("n_users_7d"), lit(0L)).as("n_users_7d"))
      .orderBy(col("epoch_day"))
  }

  /** 100 TB scale path of q106 (benched as x03, not oracle-graded):
    * [[rollingActiveUsers]] in [[graft.ScaleMode.Sketch]] — the exact
    * (day, user) distinct aggregates become HLL sketches; the exact
    * form stays the oracle.
    */
  def rollingActiveUsersApprox(spark: SparkSession, dir: String,
                               windowDays: Int = 7): DataFrame =
    rollingActiveUsers(spark, dir, windowDays, graft.ScaleMode.Sketch)

  def rollingActiveUsersSql(windowDays: Int = 7): String =
    s"""WITH ev AS (
      |  SELECT epoch_ms(ts) // 86400000 AS day, user_id FROM events
      |), bounds AS (
      |  SELECT MIN(day) AS mn, MAX(day) AS mx FROM ev
      |), days AS (
      |  SELECT unnest(range(mn, mx + 1)) AS epoch_day FROM bounds
      |), w7 AS (
      |  SELECT e.day + o.o AS epoch_day, COUNT(DISTINCT e.user_id) AS n_users_7d
      |  FROM ev e CROSS JOIN (SELECT unnest(range(0, $windowDays)) AS o) o
      |  GROUP BY 1
      |), d1 AS (
      |  SELECT day AS epoch_day, COUNT(DISTINCT user_id) AS n_users_1d
      |  FROM ev GROUP BY 1
      |)
      |SELECT d.epoch_day,
      |  COALESCE(d1.n_users_1d, 0) AS n_users_1d,
      |  COALESCE(w7.n_users_7d, 0) AS n_users_7d
      |FROM days d
      |LEFT JOIN d1 USING (epoch_day)
      |LEFT JOIN w7 USING (epoch_day)
      |ORDER BY epoch_day""".stripMargin

  val groupwiseOlsSql: String =
    """WITH pts AS (
      |  SELECT event_type,
      |    CAST((epoch_ms(ts) // 86400000) AS DOUBLE) AS x, value AS y
      |  FROM events
      |), stats AS (
      |  SELECT event_type, COUNT(*) AS n,
      |    CAST(SUM(CAST(x AS DECIMAL(28,6))) AS DOUBLE) AS sx,
      |    CAST(SUM(CAST(y AS DECIMAL(28,6))) AS DOUBLE) AS sy,
      |    CAST(SUM(CAST(ROUND(x * x, 6) AS DECIMAL(28,6))) AS DOUBLE) AS sxx,
      |    CAST(SUM(CAST(ROUND(x * y, 6) AS DECIMAL(28,6))) AS DOUBLE) AS sxy,
      |    CAST(SUM(CAST(ROUND(y * y, 6) AS DECIMAL(28,6))) AS DOUBLE) AS syy
      |  FROM pts GROUP BY event_type
      |), derived AS (
      |  SELECT event_type, n,
      |    NULLIF(n * sxx - sx * sx, 0.0) AS den,
      |    n * sxy - sx * sy AS num, sx, sy, syy
      |  FROM stats
      |)
      |SELECT event_type, n,
      |  ROUND(num / den, 6) AS slope,
      |  ROUND((sy - (num / den) * sx) / n, 4) AS intercept,
      |  ROUND((num * num) / NULLIF(den * (n * syy - sy * sy), 0.0), 6) AS r2
      |FROM derived ORDER BY event_type""".stripMargin

  /** q355 — synthetic-control-lite readout: the top-revenue nation is
    * the "treated" unit; every other nation is scored as a candidate
    * control by its PRE-period SSE against the treated weekly-revenue
    * series (dense week grid, zero-filled — a nation silent for a
    * week must count as disagreement, not vanish), the split point
    * being the exact midpoint of the week range (the q135 temporal
    * discipline). One row per candidate: pre-period fit, fit rank,
    * and the post-period revenue gap — the donor-pool diagnostic a
    * causal analyst reads before trusting any single-control
    * comparison (q183's DiD assumes the control; this SHOWS the
    * choice and what it costs). Not a weighted synthetic control —
    * the single-best-donor readout, stated as such.
    *
    * Exactness: weekly revenues are exact integer CENTS (the half-up
    * ×100 convention), so post sums and gaps are BIGINTs; each SSE
    * term is (cents-diff / 1e8)² — million-dollar units keep the
    * squares small enough that the 6dp-rounded, DECIMAL-summed total
    * casts to double EXACTLY (the first cut summed raw dollars and
    * lost the last ulp in the decimal→double conversion — 19
    * significant digits don't fit a double). Scale: one orders-sized
    * aggregate; everything after lives on the |weeks| × |nations|
    * grid.
    */
  def syntheticControl(spark: SparkSession, dir: String): DataFrame = {
    val weekly = graft.Tables.load(spark, dir, "orders")
      .join(graft.Tables.load(spark, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(graft.Tables.load(spark, dir, "nation")
        .select(col("n_nationkey"), col("n_name")),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name").as("nation"),
        expr("unix_micros(cast(date_trunc('week', o_orderdate) as timestamp)) div 1000")
          .as("week_ms"),
        round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
      .groupBy(col("nation"), col("week_ms"))
      .agg(sum(col("cents")).as("rev_c"))
    val weeks = weekly.select(col("week_ms")).distinct()
    val nations = weekly.select(col("nation")).distinct()
    val grid = weeks.crossJoin(nations)
      .join(weekly, Seq("nation", "week_ms"), "left")
      .withColumn("rev_c", coalesce(col("rev_c"), lit(0L)))
    val treated = weekly.groupBy(col("nation"))
      .agg(sum(col("rev_c")).as("tot"))
      .orderBy(col("tot").desc, col("nation")).limit(1)
      .select(col("nation").as("treated_nation"))
    val mid = weeks.agg(
      expr("(min(week_ms) + max(week_ms)) div 2").as("mid_ms"))
    val t = grid.join(broadcast(treated),
        col("nation") === col("treated_nation"))
      .select(col("treated_nation"), col("week_ms"), col("rev_c").as("t_c"))
    val c = grid.join(broadcast(treated),
        col("nation") =!= col("treated_nation"))
      .select(col("nation").as("control_nation"), col("week_ms"),
        col("rev_c").as("c_c"))
    val scored = c.join(t, "week_ms").crossJoin(broadcast(mid))
      .withColumn("is_pre", col("week_ms") <= col("mid_ms"))
      .withColumn("term", when(col("is_pre"),
        round(pow((col("t_c") - col("c_c")).cast("double") / 1e8, 2), 6)
          .cast("decimal(28,6)")))
      .groupBy(col("treated_nation"), col("control_nation"))
      .agg(sum(col("term")).cast("double").as("pre_sse_msq"),
        sum(when(!col("is_pre"), col("t_c"))).as("t_post_c"),
        sum(when(!col("is_pre"), col("c_c"))).as("c_post_c"))
    scored
      .withColumn("fit_rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("pre_sse_msq"), col("control_nation"))))
      .select(col("treated_nation"), col("control_nation"),
        col("pre_sse_msq"), col("fit_rank"),
        (col("fit_rank") === 1).as("is_best"),
        col("t_post_c").as("treated_post_cents"),
        col("c_post_c").as("control_post_cents"),
        (col("t_post_c") - col("c_post_c")).as("post_gap_cents"))
      .orderBy(col("fit_rank"))
  }

  val syntheticControlSql: String =
    """WITH weekly AS (
      |  SELECT n.n_name AS nation,
      |    epoch_ms(date_trunc('week', o.o_orderdate)) AS week_ms,
      |    CAST(SUM(CAST(ROUND(o.o_totalprice * 100, 0) AS BIGINT))
      |      AS BIGINT) AS rev_c
      |  FROM orders o
      |  JOIN customer c ON c.c_custkey = o.o_custkey
      |  JOIN nation n ON n.n_nationkey = c.c_nationkey
      |  GROUP BY 1, 2
      |), weeks AS (SELECT DISTINCT week_ms FROM weekly),
      |nations AS (SELECT DISTINCT nation FROM weekly),
      |grid AS (
      |  SELECT ns.nation, w.week_ms, COALESCE(wk.rev_c, 0) AS rev_c
      |  FROM weeks w CROSS JOIN nations ns
      |  LEFT JOIN weekly wk
      |    ON wk.nation = ns.nation AND wk.week_ms = w.week_ms
      |), treated AS (
      |  SELECT nation AS treated_nation FROM weekly
      |  GROUP BY 1 ORDER BY SUM(rev_c) DESC, nation LIMIT 1
      |), mid AS (
      |  SELECT (MIN(week_ms) + MAX(week_ms)) // 2 AS mid_ms FROM weeks
      |), t AS (
      |  SELECT tr.treated_nation, g.week_ms, g.rev_c AS t_c
      |  FROM grid g JOIN treated tr ON g.nation = tr.treated_nation
      |), c AS (
      |  SELECT g.nation AS control_nation, g.week_ms, g.rev_c AS c_c
      |  FROM grid g JOIN treated tr ON g.nation <> tr.treated_nation
      |), scored AS (
      |  SELECT t.treated_nation, c.control_nation,
      |    CAST(SUM(CASE WHEN c.week_ms <= m.mid_ms THEN
      |      CAST(ROUND(POWER(CAST(t.t_c - c.c_c AS DOUBLE) / 100000000.0,
      |        2), 6) AS DECIMAL(28,6)) END) AS DOUBLE) AS pre_sse_msq,
      |    CAST(SUM(CASE WHEN c.week_ms > m.mid_ms THEN t.t_c END)
      |      AS BIGINT) AS t_post_c,
      |    CAST(SUM(CASE WHEN c.week_ms > m.mid_ms THEN c.c_c END)
      |      AS BIGINT) AS c_post_c
      |  FROM c JOIN t ON t.week_ms = c.week_ms CROSS JOIN mid m
      |  GROUP BY 1, 2
      |)
      |SELECT treated_nation, control_nation, pre_sse_msq,
      |  CAST(row_number() OVER (ORDER BY pre_sse_msq, control_nation)
      |    AS INT) AS fit_rank,
      |  row_number() OVER (ORDER BY pre_sse_msq, control_nation) = 1
      |    AS is_best,
      |  t_post_c AS treated_post_cents,
      |  c_post_c AS control_post_cents,
      |  t_post_c - c_post_c AS post_gap_cents
      |FROM scored
      |ORDER BY fit_rank""".stripMargin

  /** q354 — event burst compaction (debounce): within each
    * (user, event_type), events closer than `gapMs` to their
    * predecessor chain into one BURST (the q20 gaps-and-islands key,
    * per type) and only the burst's FIRST event is kept — the retry-
    * storm / double-click compaction every event pipeline runs before
    * counting anything. Output: per kept event, the burst's size and
    * span — the kept row carries the evidence of what it absorbed
    * (dropped rows are aggregated in, not silently gone; q25's dedup
    * ledger discipline).
    *
    * Semantics note (stated, not accidental): chaining is ISLAND
    * debounce — an event within gapMs of its PREDECESSOR joins the
    * burst even if it is further than gapMs from the burst's KEPT
    * head (the greedy-from-head variant is a different operator; the
    * island form is the one expressible as one window pass and the
    * one that kills retry storms, which chain by construction).
    *
    * Scale: one (user, type)-keyed window pass + one burst aggregate —
    * single shuffle key, no joins.
    */
  def burstCompaction(spark: SparkSession, dir: String,
                      gapMs: Long = 60000L): DataFrame = {
    val ev = Tables.load(spark, dir, "events").withColumn("ts_ms", tsMs("ts"))
      .select(col("user_id"), col("event_type"), col("ts_ms"), col("event_id"))
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts_ms"), col("event_id"))
    val bursts = ev
      .withColumn("prev_ts", lag(col("ts_ms"), 1).over(w))
      .withColumn("new_burst",
        when(col("prev_ts").isNull || col("ts_ms") - col("prev_ts") > gapMs, 1L)
          .otherwise(0L))
      .withColumn("burst_id",
        sum(col("new_burst")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
    bursts.groupBy(col("user_id"), col("event_type"), col("burst_id"))
      .agg(min(struct(col("ts_ms"), col("event_id"))).getField("event_id")
          .as("kept_event_id"),
        min(col("ts_ms")).as("burst_start_ms"),
        max(col("ts_ms")).as("burst_end_ms"),
        count(lit(1)).as("n_absorbed"))
      .select(col("user_id"), col("event_type"), col("kept_event_id"),
        col("burst_start_ms"), col("burst_end_ms"), col("n_absorbed"),
        (col("n_absorbed") - 1).as("n_dropped"))
      .orderBy(col("user_id"), col("event_type"), col("burst_start_ms"),
        col("kept_event_id"))
  }

  val burstCompactionSql: String =
    """WITH flagged AS (
      |  SELECT user_id, event_type, epoch_ms(ts) AS ts_ms, event_id,
      |    CASE WHEN lag(epoch_ms(ts)) OVER w IS NULL
      |           OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER w > 60000
      |         THEN 1 ELSE 0 END AS new_burst
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id, event_type
      |    ORDER BY epoch_ms(ts), event_id)
      |), bursts AS (
      |  SELECT user_id, event_type, ts_ms, event_id,
      |    SUM(new_burst) OVER (PARTITION BY user_id, event_type
      |      ORDER BY ts_ms, event_id ROWS UNBOUNDED PRECEDING) AS burst_id
      |  FROM flagged
      |)
      |SELECT user_id, event_type,
      |  CAST((MIN({'ts_ms': ts_ms, 'event_id': event_id})).event_id
      |    AS BIGINT) AS kept_event_id,
      |  MIN(ts_ms) AS burst_start_ms,
      |  MAX(ts_ms) AS burst_end_ms,
      |  CAST(COUNT(*) AS BIGINT) AS n_absorbed,
      |  CAST(COUNT(*) - 1 AS BIGINT) AS n_dropped
      |FROM bursts
      |GROUP BY user_id, event_type, burst_id
      |ORDER BY user_id, event_type, burst_start_ms, kept_event_id""".stripMargin

  /** q350 — the salted hot-key join, GRADED: events (fact) joined to
    * a per-type dimension on `event_type` — a 5-value key, the
    * pathological all-keys-hot case — through
    * [[graft.operators.Skew.saltedJoin]]: the fact side salts
    * deterministically from event_id (never rand() — reruns must
    * repartition identically), the dimension replicates saltFactor
    * ways, and the join key becomes (event_type, salt) so each hot
    * key's rows spread over saltFactor reduce tasks instead of
    * hammering five. The oracle states the PLAIN join — the match is
    * the proof salting is a pure partitioning trick that never
    * changes the relation (the q337-layout argument, for skew).
    * Report: per type, how many events exceed their type's mean
    * value — the fact×dim probe every enrichment join makes.
    */
  def saltedHotKeyJoin(spark: SparkSession, dir: String,
                       saltFactor: Int = 8): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
      .select(col("event_id"), col("event_type"), col("value"))
    val dim = ev.groupBy(col("event_type"))
      .agg((decSum(col("value")) / count(col("value"))).as("avg_value"))
    Skew.saltedJoin(ev, dim, "event_type", saltFactor, col("event_id"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("value") > col("avg_value"), 1L).otherwise(0L))
          .as("n_above_avg"))
      .select(col("event_type"), col("n_events"), col("n_above_avg"),
        round(col("n_above_avg").cast("double")
          / col("n_events").cast("double"), 6).as("share_above"))
      .orderBy(col("event_type"))
  }

  val saltedHotKeyJoinSql: String =
    """WITH d AS (
      |  SELECT event_type,
      |    CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
      |      / COUNT(value) AS avg_value
      |  FROM events GROUP BY 1
      |)
      |SELECT e.event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
      |  CAST(SUM(CASE WHEN e.value > d.avg_value THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_above_avg,
      |  ROUND(CAST(SUM(CASE WHEN e.value > d.avg_value THEN 1 ELSE 0 END)
      |      AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS share_above
      |FROM events e JOIN d USING (event_type)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** q346 — session concurrency curve at hour grain: for every hour
    * bucket that any session touches, how many sessions were ACTIVE
    * (interval overlaps the hour), how many STARTED and how many
    * ENDED there — the load curve capacity planning reads (peak
    * concurrency = the max row; Little's law cross-checks against
    * q140's interarrival view). Sessions are q20's exact contract
    * (per-user 30-min inactivity gap, (ts, event_id) ordering), so
    * the concurrency curve reconciles with the graded session table
    * by construction. Hours no session touches produce no row — the
    * histogram is sparse, not zero-filled (the dense spine is q334's
    * trick, deliberately not repeated where idle gaps carry no
    * information).
    *
    * Scale: sessionization is the one user-keyed window pass; each
    * session explodes to (duration-hours + 1) rows — bounded by the
    * gap rule times the calendar — and everything after is
    * hour-grain aggregates. No global sweep-line running sum, no
    * single-partition window.
    */
  def sessionConcurrency(spark: SparkSession, dir: String): DataFrame = {
    val hourMs = 3600000L
    val sess = sessionize(spark, dir)
      .select(col("session_start_ms").as("s_ms"),
        col("session_end_ms").as("e_ms"))
      .transform(graft.Iterate.cut) // consumers: spans + the two endpoint histograms
    val spans = sess.withColumn("hour_start_ms",
      explode(sequence(expr(s"(s_ms div $hourMs) * $hourMs"),
        expr(s"(e_ms div $hourMs) * $hourMs"), lit(hourMs))))
    val active = spans.groupBy(col("hour_start_ms"))
      .agg(count(lit(1)).as("n_active"))
    val started = sess.groupBy(expr(s"(s_ms div $hourMs) * $hourMs")
        .as("hour_start_ms"))
      .agg(count(lit(1)).as("n_started"))
    val ended = sess.groupBy(expr(s"(e_ms div $hourMs) * $hourMs")
        .as("hour_start_ms"))
      .agg(count(lit(1)).as("n_ended"))
    active
      .join(started, Seq("hour_start_ms"), "left")
      .join(ended, Seq("hour_start_ms"), "left")
      .select(col("hour_start_ms"), col("n_active"),
        coalesce(col("n_started"), lit(0L)).as("n_started"),
        coalesce(col("n_ended"), lit(0L)).as("n_ended"))
      .orderBy(col("hour_start_ms"))
  }

  val sessionConcurrencySql: String =
    """WITH flagged AS (
      |  SELECT user_id, event_id, epoch_ms(ts) AS ts_ms,
      |    CASE WHEN lag(epoch_ms(ts)) OVER w IS NULL
      |           OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER w > 1800000
      |         THEN 1 ELSE 0 END AS new_session
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id)
      |), numbered AS (
      |  SELECT user_id, ts_ms,
      |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
      |      ROWS UNBOUNDED PRECEDING) AS session_id
      |  FROM flagged
      |), sess AS (
      |  SELECT user_id, session_id,
      |    MIN(ts_ms) AS s_ms, MAX(ts_ms) AS e_ms
      |  FROM numbered GROUP BY 1, 2
      |), spans AS (
      |  SELECT unnest(generate_series((s_ms // 3600000) * 3600000,
      |    (e_ms // 3600000) * 3600000, 3600000)) AS hour_start_ms
      |  FROM sess
      |), act AS (
      |  SELECT hour_start_ms, CAST(COUNT(*) AS BIGINT) AS n_active
      |  FROM spans GROUP BY 1
      |), st AS (
      |  SELECT (s_ms // 3600000) * 3600000 AS hour_start_ms,
      |    CAST(COUNT(*) AS BIGINT) AS n_started
      |  FROM sess GROUP BY 1
      |), en AS (
      |  SELECT (e_ms // 3600000) * 3600000 AS hour_start_ms,
      |    CAST(COUNT(*) AS BIGINT) AS n_ended
      |  FROM sess GROUP BY 1
      |)
      |SELECT a.hour_start_ms, a.n_active,
      |  COALESCE(st.n_started, 0) AS n_started,
      |  COALESCE(en.n_ended, 0) AS n_ended
      |FROM act a
      |LEFT JOIN st USING (hour_start_ms)
      |LEFT JOIN en USING (hour_start_ms)
      |ORDER BY hour_start_ms""".stripMargin

  /** q132 — frequent session paths: the top-k event-type TRIGRAMS
    * taken consecutively inside a session (q92's transition matrix is
    * the order-1 view; three-step paths expose the funnel detours a
    * Markov matrix averages away — "view→click→error" vs
    * "view→click→purchase" have the same first transition).
    *
    * Sessions are q20/q93's contract: per-user 30-min inactivity gap,
    * events ordered by (ts_ms, event_id) — the fully-tiebroken
    * cross-engine ordering. Support = trigram occurrences across all
    * sessions; share = support / total trigram slots (exact-count
    * quotient, rounded at 6dp on identical doubles).
    *
    * Scale: sessionization is one user-keyed window scan (the
    * already-graded q20 shape), the two `lead`s stay inside that same
    * window pass — no extra shuffle — and the trigram count is a
    * partial+final aggregate over at most |event_types|³ groups. The
    * top-k is a TakeOrdered over those groups, never a global sort.
    */
  def sessionPaths(spark: SparkSession, dir: String,
                   gapMinutes: Int = 30, topK: Int = 20): DataFrame = {
    val ev = Tables.load(spark, dir, "events").withColumn("ts_ms", tsMs("ts"))
    val sess = withSessionIds(ev, gapMinutes)
    val wSess = Window.partitionBy(col("user_id"), col("session_id"))
      .orderBy(col("ts_ms"), col("event_id"))
    val tri = sess
      .withColumn("e2", lead(col("event_type"), 1).over(wSess))
      .withColumn("e3", lead(col("event_type"), 2).over(wSess))
      .filter(col("e2").isNotNull && col("e3").isNotNull)
      .select(col("event_type").as("e1"), col("e2"), col("e3"))
    val counts = tri.groupBy(col("e1"), col("e2"), col("e3"))
      .agg(count(lit(1)).as("support"))
    val total = counts.agg(sum(col("support")).as("n_trigrams"))
    counts.crossJoin(broadcast(total))
      .withColumn("share",
        round(col("support").cast("double") / col("n_trigrams"), 6))
      .orderBy(col("support").desc, col("e1"), col("e2"), col("e3"))
      .limit(topK)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("support").desc, col("e1"), col("e2"), col("e3"))))
      .select(col("rank"), col("e1"), col("e2"), col("e3"),
        col("support"), col("share"))
      .orderBy(col("rank"))
  }

  /** q135 — order-2 Markov next-event backtest with a TEMPORAL
    * holdout: trigram contexts (e1, e2) from the first half of the
    * time range train an argmax next-event predictor; trigrams from
    * the second half score it. The "is yesterday's behavior model
    * still right today" check a funnel team runs before acting on
    * q92/q132 — evaluated out-of-time, not in-sample.
    *
    * Determinism: the split point is `(min + max) div 2` of epoch-ms
    * (exact integers); a trigram belongs to the half its FIRST event
    * falls in (sessions may straddle the boundary; the trigram's
    * assignment must not). The predictor tie-breaks equal counts by
    * event-type order. Unseen test contexts predict NULL and score
    * zero hits — visible rows, not dropped ones.
    *
    * Scale: trigram extraction rides the one q20 sessionization
    * window pass; train/test land in ≤ |types|³ groups each; the
    * predictor is a |types|²-row broadcast joined to test contexts.
    */
  def markovBacktest(spark: SparkSession, dir: String,
                     gapMinutes: Int = 30): DataFrame = {
    val ev = Tables.load(spark, dir, "events").withColumn("ts_ms", tsMs("ts"))
    val sess = withSessionIds(ev, gapMinutes)
    val wSess = Window.partitionBy(col("user_id"), col("session_id"))
      .orderBy(col("ts_ms"), col("event_id"))
    val bounds = ev.agg(min(col("ts_ms")).as("lo"), max(col("ts_ms")).as("hi"))
    val tri = sess
      .withColumn("e2", lead(col("event_type"), 1).over(wSess))
      .withColumn("e3", lead(col("event_type"), 2).over(wSess))
      .filter(col("e2").isNotNull && col("e3").isNotNull)
      .select(col("event_type").as("e1"), col("e2"), col("e3"), col("ts_ms"))
      .crossJoin(broadcast(bounds))
      .withColumn("is_train", col("ts_ms") <= expr("(lo + hi) div 2"))
    val trainCounts = tri.filter(col("is_train"))
      .groupBy(col("e1"), col("e2"), col("e3")).agg(count(lit(1)).as("c"))
    val wCtx = Window.partitionBy(col("e1"), col("e2"))
      .orderBy(col("c").desc, col("e3"))
    val predictor = trainCounts
      .withColumn("rn", row_number().over(wCtx))
      .filter(col("rn") === 1)
      .select(col("e1"), col("e2"), col("e3").as("predicted"))
    val test = tri.filter(!col("is_train"))
      .groupBy(col("e1"), col("e2"), col("e3")).agg(count(lit(1)).as("c"))
    test
      .join(broadcast(predictor), Seq("e1", "e2"), "left")
      .groupBy(col("e1"), col("e2"), col("predicted"))
      .agg(
        sum(col("c")).as("n_test"),
        sum(when(col("e3") === col("predicted"), col("c")).otherwise(0L))
          .as("n_hits"))
      .select(col("e1"), col("e2"), col("predicted"), col("n_test"),
        col("n_hits"),
        round(col("n_hits").cast("double") / col("n_test"), 6).as("hit_rate"))
      .orderBy(col("e1"), col("e2"))
  }

  def markovBacktestSql(gapMinutes: Int = 30): String = {
    s"""WITH ${sessionCtes(gapMinutes)}, bounds AS (
      |  SELECT MIN(epoch_ms(ts)) AS lo, MAX(epoch_ms(ts)) AS hi FROM events
      |), tri AS (
      |  SELECT event_type AS e1,
      |    lead(event_type, 1) OVER ws AS e2,
      |    lead(event_type, 2) OVER ws AS e3,
      |    ts_ms <= (SELECT (lo + hi) // 2 FROM bounds) AS is_train
      |  FROM sess
      |  WINDOW ws AS (PARTITION BY user_id, session_id ORDER BY ts_ms, event_id)
      |), tri2 AS (
      |  SELECT * FROM tri WHERE e2 IS NOT NULL AND e3 IS NOT NULL
      |), train AS (
      |  SELECT e1, e2, e3, COUNT(*) AS c FROM tri2 WHERE is_train GROUP BY 1, 2, 3
      |), predictor AS (
      |  SELECT e1, e2, e3 AS predicted FROM (
      |    SELECT e1, e2, e3,
      |      row_number() OVER (PARTITION BY e1, e2 ORDER BY c DESC, e3) AS rn
      |    FROM train
      |  ) WHERE rn = 1
      |), test AS (
      |  SELECT e1, e2, e3, COUNT(*) AS c FROM tri2 WHERE NOT is_train GROUP BY 1, 2, 3
      |)
      |SELECT t.e1, t.e2, p.predicted,
      |  CAST(SUM(t.c) AS BIGINT) AS n_test,
      |  CAST(SUM(CASE WHEN t.e3 = p.predicted THEN t.c ELSE 0 END) AS BIGINT)
      |    AS n_hits,
      |  ROUND(CAST(SUM(CASE WHEN t.e3 = p.predicted THEN t.c ELSE 0 END) AS DOUBLE)
      |    / CAST(SUM(t.c) AS BIGINT), 6) AS hit_rate
      |FROM test t LEFT JOIN predictor p ON t.e1 = p.e1 AND t.e2 = p.e2
      |GROUP BY 1, 2, 3 ORDER BY 1, 2""".stripMargin
  }

  /** q140 — inter-arrival spectrum: per event type, the histogram of
    * per-user gaps between consecutive occurrences, bucketed by
    * powers of two (bucket k holds 2^k ≤ gap_ms < 2^(k+1); zero gaps
    * get bucket −1). The burstiness fingerprint behind retention and
    * session-gap tuning: a spectrum with mass at seconds AND days is
    * two regimes one mean would blur; q121's anomaly flags assume a
    * rhythm, this is the rhythm.
    *
    * Exactness: bucketing is a generated chain of INTEGER comparisons
    * against power-of-two literals — no log2 calls, whose 1-ulp
    * wobble near exact powers would be the only thing either engine
    * could disagree on. Min/max/count per bucket are exact.
    *
    * Scale: one (user, type)-partitioned window pass for the lag,
    * then a ≤ |types|·42-group reduce. Same shuffle budget as q20.
    */
  def interarrivalSpectrum(spark: SparkSession, dir: String,
                           maxBucket: Int = 41): DataFrame = {
    val ev = Tables.load(spark, dir, "events").withColumn("ts_ms", tsMs("ts"))
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts_ms"), col("event_id"))
    val gaps = ev
      .withColumn("gap_ms", col("ts_ms") - lag(col("ts_ms"), 1).over(w))
      .filter(col("gap_ms").isNotNull)
    val bucket = (0 to maxBucket).foldLeft(when(col("gap_ms") < 1L, -1)) {
      (acc, k) => acc.when(col("gap_ms") < (1L << (k + 1)), k)
    }.otherwise(maxBucket + 1)
    gaps.select(col("event_type"), bucket.as("bucket"), col("gap_ms"))
      .groupBy(col("event_type"), col("bucket"))
      .agg(count(lit(1)).as("n"),
        min(col("gap_ms")).as("min_gap_ms"),
        max(col("gap_ms")).as("max_gap_ms"))
      .orderBy(col("event_type"), col("bucket"))
  }

  def interarrivalSpectrumSql(maxBucket: Int = 41): String = {
    val cases = (0 to maxBucket).map { k =>
      s"WHEN gap_ms < ${1L << (k + 1)} THEN $k"
    }.mkString("\n      |    ")
    s"""WITH gaps AS (
      |  SELECT event_type,
      |    epoch_ms(ts) - lag(epoch_ms(ts)) OVER
      |      (PARTITION BY user_id, event_type
      |       ORDER BY epoch_ms(ts), event_id) AS gap_ms
      |  FROM events
      |), bucketed AS (
      |  SELECT event_type, gap_ms,
      |    CASE WHEN gap_ms < 1 THEN -1
      |    $cases
      |    ELSE ${maxBucket + 1} END AS bucket
      |  FROM gaps WHERE gap_ms IS NOT NULL
      |)
      |SELECT event_type, bucket, COUNT(*) AS n,
      |  MIN(gap_ms) AS min_gap_ms, MAX(gap_ms) AS max_gap_ms
      |FROM bucketed GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  def sessionPathsSql(gapMinutes: Int = 30, topK: Int = 20): String = {
    s"""WITH ${sessionCtes(gapMinutes)}, tri AS (
      |  SELECT event_type AS e1,
      |    lead(event_type, 1) OVER ws AS e2,
      |    lead(event_type, 2) OVER ws AS e3
      |  FROM sess
      |  WINDOW ws AS (PARTITION BY user_id, session_id ORDER BY ts_ms, event_id)
      |), counts AS (
      |  SELECT e1, e2, e3, COUNT(*) AS support FROM tri
      |  WHERE e2 IS NOT NULL AND e3 IS NOT NULL
      |  GROUP BY 1, 2, 3
      |), total AS (
      |  SELECT SUM(support) AS n_trigrams FROM counts
      |)
      |SELECT CAST(row_number() OVER (ORDER BY support DESC, e1, e2, e3) AS INT) AS rank,
      |  e1, e2, e3, support,
      |  ROUND(CAST(support AS DOUBLE) / n_trigrams, 6) AS share
      |FROM counts CROSS JOIN total
      |QUALIFY rank <= $topK
      |ORDER BY rank""".stripMargin
  }
  /** q156 — CUPED variance-reduced A/B readout over events: users are
    * deterministically assigned to control/treatment by portable-hash
    * parity (the reproducible randomization unit of every large-scale
    * experiment platform), the observation window splits at the
    * corpus midpoint day into pre/post periods, and the post-period
    * per-user metric is adjusted by its pre-period covariate:
    * y' = y − θ(x − x̄) with θ = cov(x,y)/var(x) POOLED across both
    * arms (the standard CUPED estimator — pooling keeps θ independent
    * of assignment, so the adjustment is unbiased). Reports per-arm
    * raw and adjusted means plus the pooled pre/post R² — the
    * fraction of metric variance the covariate removes.
    *
    * Exactness: per-user period sums are decimal; pooled moments are
    * the q102 round-then-decimal sufficient statistics; θ, x̄ and the
    * adjusted means are closed forms over those sums — no per-row
    * adjusted pass is needed because mean(y′) per arm collapses to
    * (Σy − θ(Σx − n·x̄))/n. Scale: one user-keyed aggregate, one
    * 1-row pooled frame broadcast back onto a 2-row arm table.
    */
  def cupedReadout(spark: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(28, 6)
    def dsum(c: Column): Column = sum(c.cast(dec)).cast("double")
    val e = Tables.load(spark, dir, "events")
      .select(col("user_id"), epochDayExpr.as("day"), col("value"))
    val bounds = e.agg(min(col("day")).as("mn"), max(col("day")).as("mx"))
      .select(expr("(mn + mx + 1) div 2").as("mid"))
    val perUser = e.crossJoin(broadcast(bounds))
      .groupBy(col("user_id"))
      .agg(
        dsum(when(col("day") < col("mid"), col("value")).otherwise(lit(0.0)))
          .as("x"),
        dsum(when(col("day") >= col("mid"), col("value")).otherwise(lit(0.0)))
          .as("y"))
      .withColumn("variant",
        (graft.functions.PortableHash.md5Long32(col("user_id")) % 2).cast("int"))
    val pooled = perUser.agg(
      count(lit(1)).as("n"),
      dsum(col("x")).as("sx"),
      dsum(col("y")).as("sy"),
      dsum(round(col("x") * col("x"), 6)).as("sxx"),
      dsum(round(col("x") * col("y"), 6)).as("sxy"),
      dsum(round(col("y") * col("y"), 6)).as("syy"))
      .withColumn("den", nullif(col("n") * col("sxx") - col("sx") * col("sx"),
        lit(0.0)))
      .withColumn("num", col("n") * col("sxy") - col("sx") * col("sy"))
      .withColumn("theta", col("num") / col("den"))
      .withColumn("xbar", col("sx") / col("n"))
      .withColumn("r2_pre_post", round(
        (col("num") * col("num")) /
          nullif(col("den") * (col("n") * col("syy") - col("sy") * col("sy")),
            lit(0.0)), 6))
      .select(col("theta"), col("xbar"), col("r2_pre_post"))
    perUser
      .groupBy(col("variant"))
      .agg(count(lit(1)).as("n_users"),
        dsum(col("x")).as("vsx"),
        dsum(col("y")).as("vsy"))
      .crossJoin(broadcast(pooled))
      .select(
        col("variant"), col("n_users"),
        round(col("vsx") / col("n_users"), 6).as("mean_pre"),
        round(col("vsy") / col("n_users"), 6).as("mean_raw"),
        round((col("vsy") - col("theta") * (col("vsx") - col("n_users") * col("xbar")))
          / col("n_users"), 6).as("mean_adj"),
        col("r2_pre_post"))
      .orderBy(col("variant"))
  }

  val cupedReadoutSql: String =
    """WITH e AS (
      |  SELECT user_id, epoch_ms(ts) // 86400000 AS day, value FROM events
      |), mid AS (
      |  SELECT (MIN(day) + MAX(day) + 1) // 2 AS mid FROM e
      |), per_user AS (
      |  SELECT user_id,
      |    CAST(SUM(CASE WHEN day < (SELECT mid FROM mid)
      |      THEN CAST(value AS DECIMAL(28,6)) ELSE CAST(0 AS DECIMAL(28,6))
      |      END) AS DOUBLE) AS x,
      |    CAST(SUM(CASE WHEN day >= (SELECT mid FROM mid)
      |      THEN CAST(value AS DECIMAL(28,6)) ELSE CAST(0 AS DECIMAL(28,6))
      |      END) AS DOUBLE) AS y,
      |    CAST(CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
      |      AS BIGINT) % 2 AS INT) AS variant
      |  FROM e GROUP BY user_id
      |), pooled AS (
      |  SELECT COUNT(*) AS n,
      |    CAST(SUM(CAST(x AS DECIMAL(28,6))) AS DOUBLE) AS sx,
      |    CAST(SUM(CAST(y AS DECIMAL(28,6))) AS DOUBLE) AS sy,
      |    CAST(SUM(CAST(ROUND(x * x, 6) AS DECIMAL(28,6))) AS DOUBLE) AS sxx,
      |    CAST(SUM(CAST(ROUND(x * y, 6) AS DECIMAL(28,6))) AS DOUBLE) AS sxy,
      |    CAST(SUM(CAST(ROUND(y * y, 6) AS DECIMAL(28,6))) AS DOUBLE) AS syy
      |  FROM per_user
      |), param AS (
      |  SELECT
      |    (n * sxy - sx * sy) / NULLIF(n * sxx - sx * sx, 0.0) AS theta,
      |    sx / n AS xbar,
      |    ROUND(((n * sxy - sx * sy) * (n * sxy - sx * sy))
      |      / NULLIF((n * sxx - sx * sx) * (n * syy - sy * sy), 0.0), 6)
      |      AS r2_pre_post
      |  FROM pooled
      |), arms AS (
      |  SELECT variant, COUNT(*) AS n_users,
      |    CAST(SUM(CAST(x AS DECIMAL(28,6))) AS DOUBLE) AS vsx,
      |    CAST(SUM(CAST(y AS DECIMAL(28,6))) AS DOUBLE) AS vsy
      |  FROM per_user GROUP BY variant
      |)
      |SELECT variant, n_users,
      |  ROUND(vsx / n_users, 6) AS mean_pre,
      |  ROUND(vsy / n_users, 6) AS mean_raw,
      |  ROUND((vsy - theta * (vsx - n_users * xbar)) / n_users, 6) AS mean_adj,
      |  r2_pre_post
      |FROM arms CROSS JOIN param
      |ORDER BY variant""".stripMargin
  /** q160 — mergeable aggregate state (incremental view
    * maintenance): the per-type metric profile computed as TWO
    * partial aggregates — the "yesterday" half and the "today" delta,
    * split at the corpus midpoint day — merged by pure state algebra:
    * counts and decimal sums add, min/max fold, avg re-derives from
    * merged state. The oracle computes the same profile in one direct
    * pass, so the hash match IS the proof that the merge is lossless
    * — the algebra every 100 TB rolling aggregate, streaming
    * checkpoint, and backfill-then-merge pipeline stands on (and the
    * reason avg is carried as (sum, n), never as a mean).
    *
    * Scale: both halves are map-side-combined partial aggregates over
    * one scan each; the merge is a |types|-row full-outer join. A
    * deployed pipeline persists yesterday's state and scans ONLY the
    * delta — the shape this query grades.
    */
  def mergeableAggs(spark: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(28, 6)
    val e = Tables.load(spark, dir, "events")
      .select(col("event_type"), epochDayExpr.as("day"), col("value"))
    val bounds = e.agg(min(col("day")).as("mn"), max(col("day")).as("mx"))
      .select(expr("(mn + mx + 1) div 2").as("mid"))
    val halves = e.crossJoin(broadcast(bounds))
    def part(half: DataFrame, suffix: String): DataFrame =
      half.groupBy(col("event_type")).agg(
        count(lit(1)).as(s"n$suffix"),
        sum(col("value").cast(dec)).as(s"s$suffix"),
        min(col("value")).as(s"mn$suffix"),
        max(col("value")).as(s"mx$suffix"))
    val old = part(halves.filter(col("day") < col("mid")), "1")
    val delta = part(halves.filter(col("day") >= col("mid")), "2")
    old.join(delta, Seq("event_type"), "full_outer")
      .select(
        col("event_type"),
        (coalesce(col("n1"), lit(0L)) + coalesce(col("n2"), lit(0L))).as("n"),
        (coalesce(col("s1"), lit(0).cast(dec)) +
          coalesce(col("s2"), lit(0).cast(dec))).cast("double").as("total"),
        least(coalesce(col("mn1"), col("mn2")), coalesce(col("mn2"), col("mn1")))
          .as("min_value"),
        greatest(coalesce(col("mx1"), col("mx2")), coalesce(col("mx2"), col("mx1")))
          .as("max_value"))
      .withColumn("avg_value", round(col("total") / col("n"), 6))
      .orderBy(col("event_type"))
  }

  /** Direct single-pass statement of the same profile — the merge
    * correctness oracle. */
  val mergeableAggsSql: String =
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS total,
      |  MIN(value) AS min_value,
      |  MAX(value) AS max_value,
      |  ROUND(CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*), 6)
      |    AS avg_value
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** q161 — CUSUM change-point detection per event type: the day that
    * best splits the type's daily-total series into two regimes, found
    * as the argmax of the centered cumulative sum
    * |S_d − (d/n)·S_n| — the classic CUSUM statistic, and the first
    * split of binary segmentation. Where q121 flags individual outlier
    * days and q124 measures drift between fixed halves, this LOCATES
    * the structural break (a scraper change, a schema migration, a
    * traffic-mix shift) without being told where to look.
    *
    * Exactness: daily totals are decimal sums cast to double (q121's
    * convention); the centered statistic is computed with one fixed
    * IEEE operation order (cum − idx·total/n) in both engines, so the
    * argmax compares bit-identical doubles, (stat desc, day asc)
    * tiebroken. The last day is excluded — a split must leave both
    * sides non-empty. Only presentation columns are rounded.
    *
    * Scale: one event-sized (type, day) aggregate; every window after
    * that runs over the days-long daily table partitioned by type —
    * catalog-sized, never event-sized. At 100 TB the daily aggregate
    * is the only shuffle, and date-partitioned input makes it
    * partition-local.
    */
  def changePoints(spark: SparkSession, dir: String): DataFrame = {
    val daily = dailyValues(spark, dir)
    val wType = Window.partitionBy(col("event_type"))
    val wCum = wType.orderBy(col("day"))
    val scored = daily
      .withColumn("idx", row_number().over(wCum))
      .withColumn("cum", sum(col("v")).over(wCum))
      .withColumn("n", count(lit(1)).over(wType))
      .withColumn("total", sum(col("v")).over(wType))
      .filter(col("idx") < col("n"))
      .withColumn("stat",
        abs(col("cum") - col("idx").cast("double") * col("total") / col("n")))
    scored
      .withColumn("rn", row_number().over(
        wType.orderBy(col("stat").desc, col("day"))))
      .filter(col("rn") === 1)
      .select(
        col("event_type"),
        col("day").as("change_day"),
        col("n").cast("int").as("n_days"),
        round(col("stat"), 6).as("cusum_stat"),
        round(col("cum") / col("idx"), 6).as("mean_before"),
        round((col("total") - col("cum")) / (col("n") - col("idx")), 6)
          .as("mean_after"))
      .orderBy(col("event_type"))
  }

  val changePointsSql: String =
    s"""WITH $dailyValuesCte, scored AS (
      |  SELECT event_type, day,
      |    row_number() OVER (PARTITION BY event_type ORDER BY day) AS idx,
      |    SUM(v) OVER (PARTITION BY event_type ORDER BY day) AS cum,
      |    COUNT(*) OVER (PARTITION BY event_type) AS n,
      |    SUM(v) OVER (PARTITION BY event_type) AS total
      |  FROM daily
      |), stats AS (
      |  SELECT *, ABS(cum - CAST(idx AS DOUBLE) * total / n) AS stat
      |  FROM scored WHERE idx < n
      |), winner AS (
      |  SELECT *, row_number() OVER (PARTITION BY event_type
      |    ORDER BY stat DESC, day) AS rn
      |  FROM stats
      |)
      |SELECT event_type, day AS change_day, CAST(n AS INT) AS n_days,
      |  ROUND(stat, 6) AS cusum_stat,
      |  ROUND(cum / idx, 6) AS mean_before,
      |  ROUND((total - cum) / (n - idx), 6) AS mean_after
      |FROM winner WHERE rn = 1
      |ORDER BY event_type""".stripMargin

  /** q171 — split-conformal forecast intervals per event type: fit
    * q102's OLS trend on the FIRST 60% of each type's daily series
    * (day-rank split, integer cross-multiplication `10·r ≤ 6·n` — no
    * float thresholds), take the conformal quantile q̂ of the absolute
    * residuals on the NEXT 20% (calibration), and report the empirical
    * coverage of `|y − ŷ| ≤ q̂` on the FINAL 20% (test). This is
    * distribution-free uncertainty calibration (split conformal
    * prediction, Vovk et al.; Lei et al. 2018) — the audit that tells
    * a forecasting pipeline whether "90% interval" means 90% BEFORE
    * anyone ships the interval, with the temporal split discipline of
    * q135 (never calibrate on the past you trained on).
    *
    * q̂ is the k-th smallest calibration residual with
    * k = min(⌈0.9·(n_cal+1)⌉, n_cal) — the finite-sample-valid
    * conformal rank, computed in integer arithmetic
    * `(9·n_cal + 18) div 10`; selection is q42-style rank-pick, exact
    * in both engines regardless of residual ties.
    *
    * Engine parity: the fit reuses q102's machinery verbatim (decimal
    * sufficient statistics, slope 6dp / intercept 4dp); predictions
    * and residuals are deterministic IEEE double chains over those
    * published coefficients with one final round(6).
    *
    * Scale: one (type, day) aggregate (map-side combinable; series
    * length = calendar days, not events), then three window/agg passes
    * over the days-long per-type series. Everything after the first
    * aggregate is calendar-sized.
    */
  def conformalForecast(spark: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(28, 6)
    def dsum(c: Column): Column = sum(c.cast(dec)).cast("double")
    val daily = dailyValues(spark, dir)
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val ranked = daily
      .withColumn("r", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("event_type"))))
      .withColumn("x", col("day").cast("double"))
    val fit = ranked.filter(col("r") * 10 <= col("n") * 6)
      .groupBy(col("event_type")).agg(
        count(lit(1)).as("n_train"),
        dsum(col("x")).as("sx"),
        dsum(col("v")).as("sy"),
        dsum(round(col("x") * col("x"), 6)).as("sxx"),
        dsum(round(col("x") * col("v"), 6)).as("sxy"))
      .withColumn("den",
        nullif(col("n_train") * col("sxx") - col("sx") * col("sx"), lit(0.0)))
      .withColumn("num", col("n_train") * col("sxy") - col("sx") * col("sy"))
      .withColumn("slope", round(col("num") / col("den"), 6))
      .withColumn("intercept", round(
        (col("sy") - (col("num") / col("den")) * col("sx")) / col("n_train"), 4))
      .select(col("event_type"), col("n_train"), col("slope"), col("intercept"))
    val scored = ranked.join(fit, "event_type")
      .withColumn("resid", round(abs(
        col("v") - (col("slope") * col("x") + col("intercept"))), 6))
    val cal = scored
      .filter(col("r") * 10 > col("n") * 6 && col("r") * 10 <= col("n") * 8)
      .withColumn("rr", row_number().over(Window.partitionBy(col("event_type"))
        .orderBy(col("resid").asc, col("day").asc)))
      .withColumn("n_cal",
        count(lit(1)).over(Window.partitionBy(col("event_type"))))
      .groupBy(col("event_type")).agg(
        max(col("n_cal")).as("n_cal"),
        max(when(col("rr") === least(expr("(9 * n_cal + 18) div 10"),
          col("n_cal")), col("resid"))).as("qhat"))
    scored.filter(col("r") * 10 > col("n") * 8)
      .join(cal, "event_type")
      .groupBy(col("event_type")).agg(
        max(col("n")).as("n_days"),
        max(col("n_train")).as("n_train"),
        max(col("n_cal")).as("n_cal"),
        count(lit(1)).as("n_test"),
        max(col("qhat")).as("qhat"),
        round(sum(when(col("resid") <= col("qhat"), 1L).otherwise(0L))
          .cast("double") / count(lit(1)), 6).as("coverage"))
      .orderBy(col("event_type"))
  }

  val conformalForecastSql: String =
    s"""WITH $dailyValuesCte, ranked AS (
      |  SELECT event_type, day, v, CAST(day AS DOUBLE) AS x,
      |    row_number() OVER (PARTITION BY event_type ORDER BY day) AS r,
      |    COUNT(*) OVER (PARTITION BY event_type) AS n
      |  FROM daily
      |), fit AS (
      |  SELECT event_type, COUNT(*) AS n_train,
      |    CAST(SUM(CAST(x AS DECIMAL(28,6))) AS DOUBLE) AS sx,
      |    CAST(SUM(CAST(v AS DECIMAL(28,6))) AS DOUBLE) AS sy,
      |    CAST(SUM(CAST(ROUND(x * x, 6) AS DECIMAL(28,6))) AS DOUBLE) AS sxx,
      |    CAST(SUM(CAST(ROUND(x * v, 6) AS DECIMAL(28,6))) AS DOUBLE) AS sxy
      |  FROM ranked WHERE r * 10 <= n * 6 GROUP BY 1
      |), coef AS (
      |  SELECT event_type, n_train,
      |    ROUND((n_train * sxy - sx * sy)
      |      / NULLIF(n_train * sxx - sx * sx, 0.0), 6) AS slope,
      |    ROUND((sy - ((n_train * sxy - sx * sy)
      |        / NULLIF(n_train * sxx - sx * sx, 0.0)) * sx)
      |      / n_train, 4) AS intercept
      |  FROM fit
      |), scored AS (
      |  SELECT r.event_type, r.day, r.r, r.n, c.n_train,
      |    ROUND(ABS(r.v - (c.slope * r.x + c.intercept)), 6) AS resid
      |  FROM ranked r JOIN coef c USING (event_type)
      |), calr AS (
      |  SELECT event_type, resid,
      |    row_number() OVER (PARTITION BY event_type
      |      ORDER BY resid, day) AS rr,
      |    COUNT(*) OVER (PARTITION BY event_type) AS n_cal
      |  FROM scored WHERE r * 10 > n * 6 AND r * 10 <= n * 8
      |), qh AS (
      |  SELECT event_type, MAX(n_cal) AS n_cal,
      |    MAX(CASE WHEN rr = LEAST((9 * n_cal + 18) // 10, n_cal)
      |      THEN resid END) AS qhat
      |  FROM calr GROUP BY 1
      |)
      |SELECT s.event_type,
      |  CAST(MAX(s.n) AS BIGINT) AS n_days,
      |  CAST(MAX(s.n_train) AS BIGINT) AS n_train,
      |  CAST(MAX(q.n_cal) AS BIGINT) AS n_cal,
      |  COUNT(*) AS n_test,
      |  MAX(q.qhat) AS qhat,
      |  ROUND(CAST(SUM(CASE WHEN s.resid <= q.qhat THEN 1 ELSE 0 END)
      |    AS DOUBLE) / COUNT(*), 6) AS coverage
      |FROM scored s JOIN qh q USING (event_type)
      |WHERE s.r * 10 > s.n * 8
      |GROUP BY s.event_type
      |ORDER BY s.event_type""".stripMargin

  /** q172 — STL-lite seasonal decomposition of each type's daily
    * value series into trend + weekday seasonal + residual: trend is
    * a centered 7-day moving average (full windows only — the three
    * edge days each side carry no trend and are excluded), the
    * seasonal component is the mean detrended value per weekday
    * re-centered to sum to zero per type, and the residual is what
    * remains. This is the decomposition q145's weekday shares gesture
    * at and q121's anomaly flags want as input — an alert on the
    * RESIDUAL fires on genuine irregularity instead of re-discovering
    * Monday every week.
    *
    * Exactness: the MA numerator sums the 6dp-exact daily totals in
    * DECIMAL(18,6) over a ROWS window (order-independent, exact in
    * both engines), cast to double once, divided by the literal 7;
    * detrended values are rounded to 6dp and re-aggregated through
    * the same decimal-sum machinery; every subtraction after that is
    * one fixed IEEE chain over engine-identical operands.
    *
    * Scale: one (type, day) aggregate (map-side combinable), one
    * ROWS-framed window and one weekday aggregate over the
    * calendar-sized daily table, and a broadcast join of the
    * ≤ |types|·7 seasonal table back onto it — nothing after the
    * first aggregate is event-sized.
    */
  def stlDecompose(spark: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(18, 6)
    val daily = dailyValues(spark, dir)
    val wMa = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(-3, 3)
    val trended = daily
      .withColumn("w_n", count(lit(1)).over(wMa))
      .withColumn("trend", when(col("w_n") === 7,
        round(sum(col("v").cast(dec)).over(wMa).cast("double") / 7, 6)))
      .filter(col("trend").isNotNull)
      .withColumn("det", round(col("v") - col("trend"), 6))
      .withColumn("dow", pmod(col("day") + 3, lit(7)))
    val seasonalRaw = trended.groupBy(col("event_type"), col("dow"))
      .agg(round(sum(col("det").cast(dec)).cast("double") / count(lit(1)), 6)
        .as("s_raw"))
    val seasonal = seasonalRaw
      .withColumn("s_mean",
        sum(col("s_raw").cast(dec)).over(Window.partitionBy(col("event_type")))
          .cast("double") /
          count(lit(1)).over(Window.partitionBy(col("event_type"))))
      .select(col("event_type"), col("dow"),
        round(col("s_raw") - col("s_mean"), 6).as("seasonal"))
    trended.join(broadcast(seasonal), Seq("event_type", "dow"))
      .select(col("event_type"), col("day"), col("v"), col("trend"),
        col("seasonal"), round(col("det") - col("seasonal"), 6).as("resid"))
      .orderBy(col("event_type"), col("day"))
  }

  val stlDecomposeSql: String =
    s"""WITH $dailyValuesCte, trended AS (
      |  SELECT event_type, day, v,
      |    ROUND(CAST(SUM(CAST(v AS DECIMAL(18,6))) OVER w AS DOUBLE) / 7, 6)
      |      AS trend,
      |    COUNT(*) OVER w AS w_n
      |  FROM daily
      |  WINDOW w AS (PARTITION BY event_type ORDER BY day
      |    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
      |), det AS (
      |  SELECT event_type, day, v, trend,
      |    ROUND(v - trend, 6) AS det,
      |    ((((day + 3) % 7) + 7) % 7) AS dow
      |  FROM trended WHERE w_n = 7
      |), sraw AS (
      |  SELECT event_type, dow,
      |    ROUND(CAST(SUM(CAST(det AS DECIMAL(18,6))) AS DOUBLE)
      |      / COUNT(*), 6) AS s_raw
      |  FROM det GROUP BY 1, 2
      |), seas AS (
      |  SELECT event_type, dow,
      |    ROUND(s_raw - CAST(SUM(CAST(s_raw AS DECIMAL(18,6)))
      |        OVER (PARTITION BY event_type) AS DOUBLE)
      |      / COUNT(*) OVER (PARTITION BY event_type), 6) AS seasonal
      |  FROM sraw
      |)
      |SELECT d.event_type, d.day, d.v, d.trend, s.seasonal,
      |  ROUND(d.det - s.seasonal, 6) AS resid
      |FROM det d JOIN seas s ON d.event_type = s.event_type AND d.dow = s.dow
      |ORDER BY d.event_type, d.day""".stripMargin

  /** q173 — EWMA control chart per event type: each day's value total
    * against an exponentially-weighted moving average (λ = 1/5), with
    * the one-step forecast error `dev = v_t − E_{t−1}` flagged when
    * |dev| exceeds 3× the type's mean |dev| — the classic EWMA control
    * chart (Roberts 1959), the smoother-memory alternative to q121's
    * median/MAD daily screen (EWMA adapts to slow drift; MAD does
    * not).
    *
    * Exactness: the recurrence runs in SCALED INTEGERS — daily totals
    * become exact micro-units via a decimal multiply
    * (`Σvalue × 1e6 → BIGINT`, no double in the path), and
    * `E_t = (v_t + 4·E_{t−1}) div 5` is integer arithmetic both
    * engines execute identically (Spark `div` and DuckDB `//` both
    * truncate; all values non-negative here anyway — q107's
    * scaled-integer lesson applied to smoothing). Spark folds the
    * day-sorted series with the `aggregate` HOF (per-type, list is
    * calendar-days long); DuckDB runs the same recurrence as a
    * recursive CTE. The alert compares `|dev|·n > 3·Σ|dev|` in
    * integers — no rounding machinery anywhere.
    *
    * Scale: one (type, day) aggregate with map-side combine, one
    * per-type fold over a days-long array, one lag window and one
    * per-type aggregate on the calendar-sized result.
    */
  def ewmaControl(spark: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(18, 6)
    val daily = Tables.load(spark, dir, "events")
      .groupBy(col("event_type"), epochDayExpr.as("day"))
      .agg((sum(col("value").cast(dec)) * 1000000).cast("long").as("v_e6"))
    val folded = daily
      .groupBy(col("event_type"))
      .agg(array_sort(collect_list(struct(col("day"), col("v_e6")))).as("dv"))
      .select(col("event_type"), explode(expr(
        """aggregate(
          |  slice(dv, 2, size(dv) - 1),
          |  array(named_struct(
          |    'day', dv[0].day, 'v_e6', dv[0].v_e6, 'ewma_e6', dv[0].v_e6)),
          |  (acc, x) -> acc || array(named_struct(
          |    'day', x.day, 'v_e6', x.v_e6,
          |    'ewma_e6', (x.v_e6 + 4 * element_at(acc, -1).ewma_e6) div 5)))"""
          .stripMargin)).as("r"))
      .select(col("event_type"), col("r.day").as("day"),
        col("r.v_e6").as("v_e6"), col("r.ewma_e6").as("ewma_e6"))
    val wLag = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val withDev = folded
      .withColumn("dev_e6", col("v_e6") - lag(col("ewma_e6"), 1).over(wLag))
    val stats = withDev.groupBy(col("event_type")).agg(
      count(col("dev_e6")).as("n_dev"),
      sum(abs(col("dev_e6"))).as("sum_abs"))
    withDev.join(broadcast(stats), "event_type")
      .select(col("event_type"), col("day"),
        round(col("v_e6").cast("double") / 1000000, 6).as("v"),
        round(col("ewma_e6").cast("double") / 1000000, 6).as("ewma"),
        round(col("dev_e6").cast("double") / 1000000, 6).as("dev"),
        when(col("dev_e6").isNotNull,
          (abs(col("dev_e6")) * col("n_dev") > col("sum_abs") * 3).cast("int"))
          .as("is_alert"))
      .orderBy(col("event_type"), col("day"))
  }

  /** q179 — A/B power analysis per event type: for each candidate
    * relative lift (1%, 2%, 5%) in mean event value, the per-arm
    * sample size of a two-sample test at α = 0.05 / power 0.80
    * (`n = 2(z_{α/2}+z_β)²σ²/Δ²`) and the days of traffic needed to
    * fill both arms at the type's observed event rate — the
    * experiment-sizing table q156 (CUPED) and q167 (SRM) bracket: SRM
    * audits a running test, CUPED shrinks its variance, this says
    * whether the test is WORTH STARTING (a 90-day runway for a 1%
    * lift is a "no").
    *
    * Exactness: mean/variance come from the q102 sufficient-statistic
    * machinery (6dp-rounded product terms, DECIMAL(28,6) sums, one
    * fixed double chain); the z constants are 6dp literals combined
    * in-engine so both sides square the identical double; `ceil`
    * outputs integral doubles cast to BIGINT. Degenerate types
    * (single event) surface NULL via NULLIF rather than noise.
    *
    * Scale: one partial+final aggregate per type over the event scan
    * (the distinct-day count rides the same shuffle), then a
    * |types|×|grid| cross join on the tiny stats table.
    */
  def powerAnalysis(spark: SparkSession, dir: String,
                    lifts: Seq[Double] = Seq(0.01, 0.02, 0.05)): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(28, 6)
    def dsum(c: Column): Column = sum(c.cast(dec)).cast("double")
    val stats = Tables.load(spark, dir, "events")
      .withColumn("day", epochDayExpr)
      .groupBy(col("event_type")).agg(
        count(lit(1)).as("n"),
        countDistinct(col("day")).as("n_days"),
        dsum(col("value")).as("sy"),
        dsum(round(col("value") * col("value"), 6)).as("syy"))
    val z = lit(1.959964) + lit(0.841621)
    val grid = explode(array(lifts.map(lit(_)): _*)).as("rel_lift")
    stats.select(col("*"), grid)
      .withColumn("mean_v", col("sy") / col("n"))
      .withColumn("var_v",
        (col("syy") - col("sy") * col("sy") / col("n")) /
          nullif((col("n") - 1).cast("double"), lit(0.0)))
      .withColumn("mde", col("rel_lift") * col("mean_v"))
      .withColumn("n_per_arm",
        ceil(lit(2) * (z * z) * col("var_v") / (col("mde") * col("mde"))))
      .select(col("event_type"), col("rel_lift"), col("n"), col("n_days"),
        round(col("mean_v"), 6).as("mean_value"),
        round(sqrt(col("var_v")), 6).as("sd_value"),
        round(col("mde"), 6).as("mde_abs"),
        col("n_per_arm"),
        ceil(col("n_per_arm").cast("double") * 2 * col("n_days") / col("n"))
          .as("days_to_power"))
      .orderBy(col("event_type"), col("rel_lift"))
  }

  def powerAnalysisSql(lifts: Seq[Double] = Seq(0.01, 0.02, 0.05)): String = {
    val gridVals = lifts.map(l => s"CAST($l AS DOUBLE)").mkString(", ")
    s"""WITH stats AS (
      |  SELECT event_type, COUNT(*) AS n,
      |    COUNT(DISTINCT epoch_ms(ts) // 86400000) AS n_days,
      |    CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sy,
      |    CAST(SUM(CAST(ROUND(value * value, 6) AS DECIMAL(28,6)))
      |      AS DOUBLE) AS syy
      |  FROM events GROUP BY 1
      |), gridded AS (
      |  SELECT s.*, g.rel_lift,
      |    sy / n AS mean_v,
      |    (syy - sy * sy / n) / NULLIF(CAST(n - 1 AS DOUBLE), 0.0) AS var_v,
      |    rel_lift * (sy / n) AS mde,
      |    (CAST(1.959964 AS DOUBLE) + CAST(0.841621 AS DOUBLE)) AS z
      |  FROM stats s
      |  CROSS JOIN (SELECT unnest([$gridVals]) AS rel_lift) g
      |), sized AS (
      |  SELECT *, CAST(CEIL(2 * (z * z) * var_v / (mde * mde)) AS BIGINT)
      |    AS n_per_arm
      |  FROM gridded
      |)
      |SELECT event_type, rel_lift, n, n_days,
      |  ROUND(mean_v, 6) AS mean_value,
      |  ROUND(sqrt(var_v), 6) AS sd_value,
      |  ROUND(mde, 6) AS mde_abs,
      |  n_per_arm,
      |  CAST(CEIL(CAST(n_per_arm AS DOUBLE) * 2 * n_days / n) AS BIGINT)
      |    AS days_to_power
      |FROM sized
      |ORDER BY event_type, rel_lift""".stripMargin
  }

  /** q177 — off-policy evaluation of an ε-greedy target policy over
    * the logged event stream (IPS / SNIPS / ESS): treat each event as
    * a logged bandit decision (action = event_type, reward = value,
    * context = day), with the behavioral propensity taken as the
    * day's empirical action share. The target policy plays yesterday's
    * best-mean action with probability 3/4 and explores uniformly
    * with 1/4. Per day: the inverse-propensity-scored value estimate,
    * its self-normalized variant, Kong's effective sample size
    * (Σw)²/Σw², and the max importance weight — the counterfactual
    * "what would the greedy policy have earned" report (Horvitz &
    * Thompson 1952; Swaminathan & Joachims 2015) every
    * interaction-log pipeline ships beside its A/B dashboards, with
    * ESS/max_w as the standard trust diagnostics.
    *
    * Exactness: propensities and policy probabilities are exact
    * rationals assembled in ONE fixed IEEE chain
    * `(3/4·𝟙 + (1/4)/K)·n/n_a`; each per-action IPS term is rounded
    * to 6dp and summed in DECIMAL(28,6) (order-independent across
    * the ≤K terms), and rewards enter as 6dp-exact decimal sums. The
    * previous-day argmax is rank-picked with a lexicographic
    * tie-break.
    *
    * Scale: one (day, action) aggregate with map-side combine is the
    * only event-sized pass; the argmax window, the day-shift join and
    * the diagnostic sums all run on the calendar×actions table.
    */
  def ipsOffPolicy(spark: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(28, 6)
    val daily = Tables.load(spark, dir, "events")
      .groupBy(epochDayExpr.as("day"), col("event_type"))
      .agg(count(lit(1)).as("n_a"), decSum(col("value")).as("sum_r"))
    val perDay = daily.groupBy(col("day"))
      .agg(sum(col("n_a")).as("n"), count(lit(1)).as("k"))
    val wArg = Window.partitionBy(col("day"))
      .orderBy((col("sum_r") / col("n_a")).desc, col("event_type"))
    val chosen = daily
      .withColumn("rn", row_number().over(wArg))
      .filter(col("rn") === 1)
      .select((col("day") + 1).as("day"), col("event_type").as("chosen_action"))
    val scored = daily
      .join(perDay, "day")
      .join(chosen, "day")
      .withColumn("ind",
        when(col("event_type") === col("chosen_action"), lit(1.0)).otherwise(lit(0.0)))
      .withColumn("w",
        (lit(0.75) * col("ind") + lit(0.25) / col("k")) * col("n") / col("n_a"))
    scored.groupBy(col("day"), col("chosen_action"), col("n"), col("k"))
      .agg(
        sum(col("sum_r").cast(dec)).cast("double").as("b_sum"),
        sum(round(col("w") * col("sum_r"), 6).cast(dec)).cast("double").as("num"),
        sum(round(col("w") * col("n_a"), 6).cast(dec)).cast("double").as("den"),
        sum(round(col("w") * col("w") * col("n_a"), 6).cast(dec)).cast("double").as("sq"),
        max(col("w")).as("w_max"))
      .select(col("day"), col("chosen_action"), col("n"), col("k"),
        round(col("b_sum") / col("n"), 6).as("behavior_value"),
        round(col("num") / col("n"), 6).as("ips_value"),
        round(col("num") / col("den"), 6).as("snips_value"),
        round(col("den") * col("den") / col("sq"), 6).as("ess"),
        round(col("w_max"), 6).as("max_w"))
      .orderBy(col("day"))
  }

  val ipsOffPolicySql: String =
    """WITH daily AS (
      |  SELECT epoch_ms(ts) // 86400000 AS day, event_type,
      |    COUNT(*) AS n_a,
      |    CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_r
      |  FROM events GROUP BY 1, 2
      |), per_day AS (
      |  SELECT day, CAST(SUM(n_a) AS BIGINT) AS n, COUNT(*) AS k
      |  FROM daily GROUP BY 1
      |), chosen AS (
      |  SELECT day + 1 AS day, event_type AS chosen_action FROM (
      |    SELECT day, event_type, row_number() OVER (PARTITION BY day
      |      ORDER BY sum_r / n_a DESC, event_type) AS rn
      |    FROM daily
      |  ) WHERE rn = 1
      |), scored AS (
      |  SELECT d.day, c.chosen_action, p.n, p.k, d.n_a, d.sum_r,
      |    (CAST(0.75 AS DOUBLE) *
      |      (CASE WHEN d.event_type = c.chosen_action THEN CAST(1.0 AS DOUBLE)
      |        ELSE CAST(0.0 AS DOUBLE) END)
      |      + CAST(0.25 AS DOUBLE) / p.k) * p.n / d.n_a AS w
      |  FROM daily d
      |  JOIN per_day p ON p.day = d.day
      |  JOIN chosen c ON c.day = d.day
      |)
      |SELECT day, chosen_action, n, k,
      |  ROUND(CAST(SUM(CAST(sum_r AS DECIMAL(28,6))) AS DOUBLE) / n, 6)
      |    AS behavior_value,
      |  ROUND(CAST(SUM(CAST(ROUND(w * sum_r, 6) AS DECIMAL(28,6))) AS DOUBLE)
      |    / n, 6) AS ips_value,
      |  ROUND(CAST(SUM(CAST(ROUND(w * sum_r, 6) AS DECIMAL(28,6))) AS DOUBLE)
      |    / CAST(SUM(CAST(ROUND(w * n_a, 6) AS DECIMAL(28,6))) AS DOUBLE), 6)
      |    AS snips_value,
      |  ROUND(CAST(SUM(CAST(ROUND(w * n_a, 6) AS DECIMAL(28,6))) AS DOUBLE)
      |    * CAST(SUM(CAST(ROUND(w * n_a, 6) AS DECIMAL(28,6))) AS DOUBLE)
      |    / CAST(SUM(CAST(ROUND(w * w * n_a, 6) AS DECIMAL(28,6))) AS DOUBLE),
      |    6) AS ess,
      |  ROUND(MAX(w), 6) AS max_w
      |FROM scored
      |GROUP BY day, chosen_action, n, k
      |ORDER BY day""".stripMargin

  val ewmaControlSql: String =
    s"""WITH RECURSIVE $dailyMicrosCte, ranked AS (
      |  SELECT event_type, day, v_e6,
      |    row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn
      |  FROM daily
      |), rec AS (
      |  SELECT event_type, day, rn, v_e6, v_e6 AS ewma_e6
      |  FROM ranked WHERE rn = 1
      |  UNION ALL
      |  SELECT n.event_type, n.day, n.rn, n.v_e6,
      |    (n.v_e6 + 4 * r.ewma_e6) // 5
      |  FROM ranked n JOIN rec r
      |    ON n.event_type = r.event_type AND n.rn = r.rn + 1
      |), withdev AS (
      |  SELECT event_type, day, v_e6, ewma_e6,
      |    v_e6 - lag(ewma_e6) OVER (PARTITION BY event_type ORDER BY day)
      |      AS dev_e6
      |  FROM rec
      |), stats AS (
      |  SELECT event_type, COUNT(dev_e6) AS n_dev,
      |    SUM(ABS(dev_e6)) AS sum_abs
      |  FROM withdev GROUP BY 1
      |)
      |SELECT w.event_type, w.day,
      |  ROUND(CAST(w.v_e6 AS DOUBLE) / 1000000, 6) AS v,
      |  ROUND(CAST(w.ewma_e6 AS DOUBLE) / 1000000, 6) AS ewma,
      |  ROUND(CAST(w.dev_e6 AS DOUBLE) / 1000000, 6) AS dev,
      |  CASE WHEN w.dev_e6 IS NULL THEN NULL
      |    ELSE CAST(ABS(w.dev_e6) * s.n_dev > s.sum_abs * 3 AS INT) END
      |    AS is_alert
      |FROM withdev w JOIN stats s ON w.event_type = s.event_type
      |ORDER BY w.event_type, w.day""".stripMargin

  /** q183 — difference-in-differences (DiD) experiment readout per
    * event type: users are hash-assigned to control/treatment (the
    * q156 assignment convention), days split pre/post at the observed
    * midpoint (the q156 boundary), and the estimate is the classic
    * 2×2: (treat_post − treat_pre) − (ctrl_post − ctrl_pre) on
    * per-event value means. Complements the experiment suite — q156
    * (CUPED variance reduction), q167 (SRM guard), q179 (power):
    * DiD is the readout shape when treatment rolls out over TIME and
    * a parallel-trends baseline is available rather than a clean
    * concurrent A/B. The large-sample SE pools the four cell
    * variances (Var[m] = s²/n per cell, independence across cells).
    *
    * Exactness: cell sums ride DECIMAL(28,6) with per-term 6dp
    * rounding on squares (the q156/q179 discipline); each derived
    * stat is ONE fixed-operand-order IEEE chain over those exact
    * cell aggregates, rounded to 6dp at the end. The 2×2 collapse is
    * MAX over a single-row-per-cell frame — engine-identical.
    *
    * Scale: one shuffle on (event_type, variant, period) with full
    * map-side combine, then a |event_type|-row pivot — nothing else.
    * The broadcast `bounds` scalar is the one driver-free global.
    */
  def didReadout(spark: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(28, 6)
    def dsum(c: Column): Column = sum(c.cast(dec)).cast("double")
    val e = Tables.load(spark, dir, "events")
      .select(col("event_type"), col("user_id"), epochDayExpr.as("day"), col("value"))
    val bounds = e.agg(min(col("day")).as("mn"), max(col("day")).as("mx"))
      .select(expr("(mn + mx + 1) div 2").as("mid"))
    val cells = e.crossJoin(broadcast(bounds))
      .withColumn("variant",
        (graft.functions.PortableHash.md5Long32(col("user_id")) % 2).cast("int"))
      .withColumn("period", (col("day") >= col("mid")).cast("int"))
      .groupBy(col("event_type"), col("variant"), col("period"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sy"),
        dsum(round(col("value") * col("value"), 6)).as("syy"))
      .withColumn("m", col("sy") / col("n"))
      .withColumn("v", (col("syy") - col("sy") * col("sy") / col("n")) /
        nullif((col("n") - 1).cast("double"), lit(0.0)))
    def cell(c: Column, variant: Int, period: Int): Column =
      max(when(col("variant") === variant && col("period") === period, c))
    val wide = cells.groupBy(col("event_type")).agg(
      cell(col("n"), 0, 0).as("n_c_pre"), cell(col("n"), 0, 1).as("n_c_post"),
      cell(col("n"), 1, 0).as("n_t_pre"), cell(col("n"), 1, 1).as("n_t_post"),
      cell(col("m"), 0, 0).as("m_c_pre"), cell(col("m"), 0, 1).as("m_c_post"),
      cell(col("m"), 1, 0).as("m_t_pre"), cell(col("m"), 1, 1).as("m_t_post"),
      cell(col("v"), 0, 0).as("v_c_pre"), cell(col("v"), 0, 1).as("v_c_post"),
      cell(col("v"), 1, 0).as("v_t_pre"), cell(col("v"), 1, 1).as("v_t_post"))
    wide
      .withColumn("did", (col("m_t_post") - col("m_t_pre")) -
        (col("m_c_post") - col("m_c_pre")))
      .withColumn("se", sqrt(
        col("v_t_post") / col("n_t_post") + col("v_t_pre") / col("n_t_pre") +
        col("v_c_post") / col("n_c_post") + col("v_c_pre") / col("n_c_pre")))
      .select(col("event_type"),
        col("n_c_pre"), col("n_c_post"), col("n_t_pre"), col("n_t_post"),
        round(col("m_t_pre"), 6).as("mean_t_pre"),
        round(col("m_t_post"), 6).as("mean_t_post"),
        round(col("m_c_pre"), 6).as("mean_c_pre"),
        round(col("m_c_post"), 6).as("mean_c_post"),
        round(col("did"), 6).as("did_estimate"),
        round(col("se"), 6).as("did_se"),
        round(col("did") / nullif(col("se"), lit(0.0)), 6).as("t_stat"))
      .orderBy(col("event_type"))
  }

  val didReadoutSql: String =
    """WITH e AS (
      |  SELECT event_type, user_id, epoch_ms(ts) // 86400000 AS day, value
      |  FROM events
      |), mid AS (
      |  SELECT (MIN(day) + MAX(day) + 1) // 2 AS mid FROM e
      |), cells AS (
      |  SELECT event_type,
      |    CAST(CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
      |      AS BIGINT) % 2 AS INT) AS variant,
      |    CAST(day >= (SELECT mid FROM mid) AS INT) AS period,
      |    COUNT(*) AS n,
      |    CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sy,
      |    CAST(SUM(CAST(ROUND(value * value, 6) AS DECIMAL(28,6)))
      |      AS DOUBLE) AS syy
      |  FROM e GROUP BY 1, 2, 3
      |), stats AS (
      |  SELECT *, sy / n AS m,
      |    (syy - sy * sy / n) / NULLIF(CAST(n - 1 AS DOUBLE), 0.0) AS v
      |  FROM cells
      |), wide AS (
      |  SELECT event_type,
      |    MAX(CASE WHEN variant = 0 AND period = 0 THEN n END) AS n_c_pre,
      |    MAX(CASE WHEN variant = 0 AND period = 1 THEN n END) AS n_c_post,
      |    MAX(CASE WHEN variant = 1 AND period = 0 THEN n END) AS n_t_pre,
      |    MAX(CASE WHEN variant = 1 AND period = 1 THEN n END) AS n_t_post,
      |    MAX(CASE WHEN variant = 0 AND period = 0 THEN m END) AS m_c_pre,
      |    MAX(CASE WHEN variant = 0 AND period = 1 THEN m END) AS m_c_post,
      |    MAX(CASE WHEN variant = 1 AND period = 0 THEN m END) AS m_t_pre,
      |    MAX(CASE WHEN variant = 1 AND period = 1 THEN m END) AS m_t_post,
      |    MAX(CASE WHEN variant = 0 AND period = 0 THEN v END) AS v_c_pre,
      |    MAX(CASE WHEN variant = 0 AND period = 1 THEN v END) AS v_c_post,
      |    MAX(CASE WHEN variant = 1 AND period = 0 THEN v END) AS v_t_pre,
      |    MAX(CASE WHEN variant = 1 AND period = 1 THEN v END) AS v_t_post
      |  FROM stats GROUP BY event_type
      |), scored AS (
      |  SELECT *,
      |    (m_t_post - m_t_pre) - (m_c_post - m_c_pre) AS did,
      |    sqrt(v_t_post / n_t_post + v_t_pre / n_t_pre +
      |         v_c_post / n_c_post + v_c_pre / n_c_pre) AS se
      |  FROM wide
      |)
      |SELECT event_type, n_c_pre, n_c_post, n_t_pre, n_t_post,
      |  ROUND(m_t_pre, 6) AS mean_t_pre,
      |  ROUND(m_t_post, 6) AS mean_t_post,
      |  ROUND(m_c_pre, 6) AS mean_c_pre,
      |  ROUND(m_c_post, 6) AS mean_c_post,
      |  ROUND(did, 6) AS did_estimate,
      |  ROUND(se, 6) AS did_se,
      |  ROUND(did / NULLIF(se, 0.0), 6) AS t_stat
      |FROM scored
      |ORDER BY event_type""".stripMargin

  /** q200 — cohort LTV (lifetime-value) curve: users cohorted by
    * first-event week (q83's cohort key), purchase revenue accumulated
    * per cohort-age week, reported as the running per-user cumulative —
    * the revenue twin of the q83 retention triangle, and the curve
    * payback-period decisions read ("cohort X recovers CAC by week
    * 3"). Weeks with retention but zero purchases still appear in the
    * grid (activity drives the rows, revenue left-joins on), so the
    * curve is gapless wherever the cohort was alive.
    *
    * Exactness: revenue accumulates as DECIMAL(18,6) end-to-end — the
    * running cumulative windows over the DECIMAL, not the double, so
    * partial-sum order never shows; the per-user division is one
    * rounded IEEE op at the end. Scale: two user-keyed aggregates
    * (first-touch, weekly revenue) and one window over the
    * cohort×age grid — cohort-count sized, not event-sized.
    */
  def cohortLtv(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val ev = Tables.load(spark, dir, "events")
    val firsts = ev.groupBy(col("user_id"))
      .agg(min(col("ts")).as("first_ts"))
      .withColumn("cohort", to_date(date_trunc("week", col("first_ts"))))
      .select(col("user_id"), col("cohort"))
    val sizes = firsts.groupBy(col("cohort"))
      .agg(count(lit(1)).as("cohort_size"))
    // activity grid keeps zero-revenue weeks alive
    val activity = ev
      .select(col("user_id"), to_date(date_trunc("week", col("ts"))).as("week"))
      .distinct()
    val weeklyRev = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), to_date(date_trunc("week", col("ts"))).as("week"),
        col("value"))
      .groupBy(col("user_id"), col("week"))
      .agg(sum(col("value").cast(DecimalType(18, 6))).as("rev_d"))
    val cells = activity
      .join(weeklyRev, Seq("user_id", "week"), "left")
      .join(firsts, "user_id")
      .withColumn("age_week", (datediff(col("week"), col("cohort")) / 7).cast("int"))
      .groupBy(col("cohort"), col("age_week"))
      .agg(coalesce(sum(col("rev_d")),
        lit(0).cast(DecimalType(18, 6))).as("week_rev_d"))
    val w = Window.partitionBy(col("cohort")).orderBy(col("age_week"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cells
      .withColumn("cum_rev_d", sum(col("week_rev_d")).over(w))
      .join(sizes, "cohort")
      .select(col("cohort"), col("age_week"), col("cohort_size"),
        col("week_rev_d").cast("double").as("week_rev"),
        col("cum_rev_d").cast("double").as("cum_rev"),
        round(col("cum_rev_d").cast("double") / col("cohort_size"), 6)
          .as("ltv_per_user"))
      .orderBy(col("cohort"), col("age_week"))
  }

  /** q203 — Markov removal-effect attribution: model each session as a
    * first-order chain over channel states (START → event types → CONV
    * at the first purchase, DROP at session end), estimate transition
    * counts from the corpus, and credit each channel by how much the
    * START→CONV absorption probability FALLS when that channel is
    * removed (its transitions redirected to DROP) — the
    * data-driven multi-touch model that last-touch (q91) approximates.
    *
    * Semantics pinned for exactness: absorption probability is the
    * `steps`-step synchronous recurrence p'(s) = (Σ_t cnt(s,t)·p(t))
    * div n(s) in SCALED-INTEGER units of 1e-12 (CONV ≡ 1e12, DROP ≡
    * 0) — the same floor-division discipline as q107, so both engines
    * replay it bit-for-bit; `steps` = 16 bounds journey length by far
    * (sessions here are ≤ dozens of events).
    *
    * Scale split: transition counting — sessionize (q20's gap rule),
    * truncate at first conversion, lag-pair — is the data-sized work,
    * all one user-keyed shuffle; the chain itself collapses to a
    * ≤ |channels|²-row matrix, COLLECTED and iterated on the driver
    * with BigInt (the pivot-domain precedent: driver scalars bounded
    * by the CHANNEL vocabulary, never by rows). The 1+|channels|
    * absorption runs are arithmetic on that tiny matrix.
    */
  def markovAttribution(spark: SparkSession, dir: String,
                        gapMinutes: Int = 30, steps: Int = 16,
                        channels: Seq[String] =
                          Seq("click", "error", "signup", "view")): DataFrame = {
    val ScaleE12 = 1000000000000L
    val ev = Tables.load(spark, dir, "events").withColumn("ts_ms", tsMs("ts"))
    val sess = withSessionIds(ev, gapMinutes)
    val wSess = Window.partitionBy(col("user_id"), col("session_id"))
      .orderBy(col("ts_ms"), col("event_id"))
    val kept = sess
      .withColumn("prior_conv",
        sum((col("event_type") === "purchase").cast("long"))
          .over(wSess.rowsBetween(Window.unboundedPreceding, -1)))
      .filter(coalesce(col("prior_conv"), lit(0L)) === 0L)
      .withColumn("state",
        when(col("event_type") === "purchase", lit("CONV"))
          .otherwise(col("event_type")))
    val inner = kept
      .withColumn("src", coalesce(lag(col("state"), 1).over(wSess), lit("START")))
      .select(col("src"), col("state").as("dst"))
    val terminal = kept
      .withColumn("rn_desc", row_number().over(
        Window.partitionBy(col("user_id"), col("session_id"))
          .orderBy(col("ts_ms").desc, col("event_id").desc)))
      .filter(col("rn_desc") === 1 && col("state") =!= "CONV")
      .select(col("state").as("src"), lit("DROP").as("dst"))
    val tm = inner.unionByName(terminal)
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("cnt"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val outdeg = tm.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val transient = outdeg.keySet // START + observed channels
    def absorb(removed: Option[String]): BigInt = {
      val live = transient -- removed
      var p = live.map(_ -> BigInt(0)).toMap
      for (_ <- 1 to steps) {
        p = live.map { s =>
          val num = tm.collect { case ((`s`, t), c) =>
            val pt = if (t == "CONV") BigInt(ScaleE12)
                     else p.getOrElse(t, BigInt(0)) // DROP and removed = 0
            BigInt(c) * pt
          }.sum
          s -> num / BigInt(outdeg(s))
        }.toMap
      }
      p.getOrElse("START", BigInt(0))
    }
    val baseP = absorb(None).toLong
    val rows = channels.sorted.map { c =>
      (c, outdeg.getOrElse(c, 0L), baseP, absorb(Some(c)).toLong) }
    import spark.implicits._
    rows.toDF("channel", "n_touch", "base_p_e12", "removed_p_e12")
      .withColumn("removal_effect",
        when(col("base_p_e12") === 0, lit(null).cast("double"))
          .otherwise(round(
            (col("base_p_e12") - col("removed_p_e12")).cast("double") /
              col("base_p_e12"), 6)))
      .orderBy(col("channel"))
  }

  def markovAttributionSql(gapMinutes: Int = 30, steps: Int = 16,
                           channels: Seq[String] =
                             Seq("click", "error", "signup", "view")): String = {
    val gapMs = gapMinutes * 60000L
    val base =
      s"""WITH ev AS (
        |  SELECT user_id, event_id, event_type, epoch_ms(ts) AS ts_ms
        |  FROM events
        |), flagged AS (
        |  SELECT *, CASE WHEN prev_ts IS NULL OR ts_ms - prev_ts > $gapMs
        |      THEN 1 ELSE 0 END AS new_session
        |  FROM (SELECT *, lag(ts_ms) OVER
        |    (PARTITION BY user_id ORDER BY ts_ms, event_id) AS prev_ts FROM ev)
        |), sess AS (
        |  SELECT *, SUM(new_session) OVER (PARTITION BY user_id
        |    ORDER BY ts_ms, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM flagged
        |), kept AS (
        |  SELECT *, CASE WHEN event_type = 'purchase' THEN 'CONV'
        |    ELSE event_type END AS state
        |  FROM (
        |    SELECT *, COALESCE(SUM(CASE WHEN event_type = 'purchase'
        |        THEN 1 ELSE 0 END) OVER (PARTITION BY user_id, session_id
        |        ORDER BY ts_ms, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS prior_conv
        |    FROM sess)
        |  WHERE prior_conv = 0
        |), inner_t AS (
        |  SELECT COALESCE(lag(state) OVER (PARTITION BY user_id, session_id
        |    ORDER BY ts_ms, event_id), 'START') AS src, state AS dst
        |  FROM kept
        |), term_t AS (
        |  SELECT state AS src, 'DROP' AS dst FROM (
        |    SELECT state, row_number() OVER (PARTITION BY user_id, session_id
        |      ORDER BY ts_ms DESC, event_id DESC) AS rn_desc
        |    FROM kept)
        |  WHERE rn_desc = 1 AND state <> 'CONV'
        |), tm AS MATERIALIZED (
        |  SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
        |    SELECT src, dst FROM inner_t
        |    UNION ALL SELECT src, dst FROM term_t)
        |  GROUP BY 1, 2
        |), od AS MATERIALIZED (
        |  SELECT src AS state, CAST(SUM(cnt) AS BIGINT) AS n FROM tm GROUP BY 1
        |)""".stripMargin
    def chain(tag: String, removed: Option[String]): String = {
      val whereOd = removed.map(c => s" WHERE o.state <> '$c'").getOrElse("")
      val v0 =
        s""", v_${tag}_0 AS MATERIALIZED (
          |  SELECT o.state, CAST(0 AS BIGINT) AS p FROM od o$whereOd
          |)""".stripMargin
      val its = (1 to steps).map { k =>
        s""", v_${tag}_$k AS MATERIALIZED (
          |  SELECT o.state, CAST((
          |    SELECT COALESCE(SUM(t.cnt * CASE WHEN t.dst = 'CONV'
          |        THEN 1000000000000
          |        ELSE COALESCE((SELECT v.p FROM v_${tag}_${k - 1} v
          |                       WHERE v.state = t.dst), 0) END), 0)
          |    FROM tm t WHERE t.src = o.state) // o.n AS BIGINT) AS p
          |  FROM od o$whereOd
          |)""".stripMargin
      }.mkString
      v0 + its
    }
    val chains = chain("base", None) +
      channels.map(c => chain(c, Some(c))).mkString
    val rows = channels.sorted.map { c =>
      s"""  SELECT '$c' AS channel,
         |    COALESCE((SELECT n FROM od WHERE state = '$c'), 0) AS n_touch,
         |    (SELECT p FROM v_base_$steps WHERE state = 'START') AS base_p_e12,
         |    COALESCE((SELECT p FROM v_${c}_$steps WHERE state = 'START'), 0)
         |      AS removed_p_e12""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""$base${chains}
       |SELECT channel, n_touch, base_p_e12, removed_p_e12,
       |  CASE WHEN base_p_e12 = 0 THEN NULL
       |    ELSE ROUND(CAST(base_p_e12 - removed_p_e12 AS DOUBLE)
       |      / base_p_e12, 6) END AS removal_effect
       |FROM (
       |$rows
       |)
       |ORDER BY channel""".stripMargin
  }

  val cohortLtvSql: String =
    """WITH firsts AS (
      |  SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort
      |  FROM events GROUP BY user_id
      |), sizes AS (
      |  SELECT cohort, COUNT(*) AS cohort_size FROM firsts GROUP BY cohort
      |), activity AS (
      |  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS week
      |  FROM events
      |), weekly_rev AS (
      |  SELECT user_id, CAST(date_trunc('week', ts) AS DATE) AS week,
      |    SUM(CAST(value AS DECIMAL(18,6))) AS rev_d
      |  FROM events WHERE event_type = 'purchase'
      |  GROUP BY 1, 2
      |), cells AS (
      |  SELECT f.cohort,
      |    CAST(date_diff('day', f.cohort, a.week) / 7 AS INT) AS age_week,
      |    COALESCE(SUM(r.rev_d), CAST(0 AS DECIMAL(18,6))) AS week_rev_d
      |  FROM activity a
      |  LEFT JOIN weekly_rev r ON r.user_id = a.user_id AND r.week = a.week
      |  JOIN firsts f ON a.user_id = f.user_id
      |  GROUP BY 1, 2
      |), cum AS (
      |  SELECT cohort, age_week, week_rev_d,
      |    SUM(week_rev_d) OVER (PARTITION BY cohort ORDER BY age_week
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_rev_d
      |  FROM cells
      |)
      |SELECT c.cohort, c.age_week, s.cohort_size,
      |  CAST(c.week_rev_d AS DOUBLE) AS week_rev,
      |  CAST(c.cum_rev_d AS DOUBLE) AS cum_rev,
      |  ROUND(CAST(c.cum_rev_d AS DOUBLE) / s.cohort_size, 6) AS ltv_per_user
      |FROM cum c JOIN sizes s ON c.cohort = s.cohort
      |ORDER BY c.cohort, c.age_week""".stripMargin

  /** q209 — autocorrelation function (ACF) of daily event counts per
    * type at lags 1/2/3/7: the periodicity detector behind every
    * forecasting choice (a strong lag-7 says "weekly seasonality —
    * use q145's profile"; fast decay says q120's SES is enough). ACF
    * is Pearson r between the daily-count series and its lag-shifted
    * self over the DENSE calendar — missing days count 0 (computing
    * on gappy days would silently correlate across holes).
    *
    * Exactness: daily counts are integers, so ALL sufficient sums
    * (Σx, Σy, Σxy, Σx², Σy²) are exact BIGINTs; numerator and the two
    * variance terms are exact integer expressions converted to double
    * once, then one division + sqrt (both correctly rounded IEEE) and
    * one 6dp round. Constant or single-pair series hit the NULLIF
    * guard (den = 0 → NULL). At 100 TB daily counts near 1e9 push
    * Σx² toward 2^63 — swap the sums to DECIMAL(38,0); the shape
    * stays.
    *
    * Scale: one (type, day) count aggregate (map-side combined), a
    * calendar-sized spine from a per-type min/max, and ONE window
    * pass (all four leads share the type-partitioned day sort)
    * unpivoted by `stack` — the raw stream is touched once; the
    * series table is days-long, never event-sized.
    */
  def acfDaily(spark: SparkSession, dir: String,
               lags: Seq[Int] = Seq(1, 2, 3, 7)): DataFrame = {
    val daily = dailyCounts(spark, dir)
    val spine = daily.groupBy(col("event_type"))
      .agg(min(col("day")).as("mn"), max(col("day")).as("mx"))
      .select(col("event_type"),
        explode(sequence(col("mn"), col("mx"))).as("day"))
    val dense = spine.join(daily, Seq("event_type", "day"), "left")
      .select(col("event_type"), col("day"),
        coalesce(col("v"), lit(0L)).as("v"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val withLeads = lags.foldLeft(dense) { (df, k) =>
      df.withColumn(s"y_$k", lead(col("v"), k).over(w))
    }
    withLeads
      .select(col("event_type"), col("v").as("x"),
        expr(s"stack(${lags.size}, ${lags.map(k => s"$k, y_$k").mkString(", ")})")
          .as(Seq("lag", "y")))
      .where(col("y").isNotNull)
      .groupBy(col("event_type"), col("lag"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .select(col("event_type"), col("lag"), col("n_pairs"),
        round((col("n_pairs") * col("sxy") - col("sx") * col("sy")).cast("double")
          / nullif(
            sqrt((col("n_pairs") * col("sxx") - col("sx") * col("sx")).cast("double")
              * (col("n_pairs") * col("syy") - col("sy") * col("sy")).cast("double")),
            lit(0.0)), 6).as("acf"))
      .orderBy(col("event_type"), col("lag"))
  }

  def acfDailySql(lags: Seq[Int] = Seq(1, 2, 3, 7)): String = {
    val leadCols = lags.map(k => s"lead(v, $k) OVER w AS y_$k").mkString(",\n      |    ")
    val unpivot = lags.map(k =>
      s"SELECT event_type, x, $k AS lag, y_$k AS y FROM leads").mkString("\n      |  UNION ALL ")
    s"""WITH daily AS (
       |  SELECT event_type, epoch_ms(ts) // 86400000 AS day,
       |    COUNT(*) AS v
       |  FROM events GROUP BY 1, 2
       |), spine AS (
       |  SELECT event_type, unnest(range(mn, mx + 1)) AS day
       |  FROM (SELECT event_type, MIN(day) AS mn, MAX(day) AS mx
       |        FROM daily GROUP BY 1)
       |), dense AS (
       |  SELECT s.event_type, s.day, COALESCE(d.v, 0) AS v
       |  FROM spine s LEFT JOIN daily d
       |    ON d.event_type = s.event_type AND d.day = s.day
       |), leads AS (
       |  SELECT event_type, v AS x,
       |    $leadCols
       |  FROM dense
       |  WINDOW w AS (PARTITION BY event_type ORDER BY day)
       |), pairs AS (
       |  $unpivot
       |), agg AS (
       |  SELECT event_type, lag, COUNT(*) AS n_pairs,
       |    SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy,
       |    SUM(x * x) AS sxx, SUM(y * y) AS syy
       |  FROM pairs WHERE y IS NOT NULL GROUP BY 1, 2
       |)
       |SELECT event_type, CAST(lag AS INT) AS lag,
       |  CAST(n_pairs AS BIGINT) AS n_pairs,
       |  ROUND(CAST(n_pairs * sxy - sx * sy AS DOUBLE)
       |    / NULLIF(sqrt(CAST(n_pairs * sxx - sx * sx AS DOUBLE)
       |        * CAST(n_pairs * syy - sy * sy AS DOUBLE)), 0.0), 6) AS acf
       |FROM agg ORDER BY event_type, lag""".stripMargin
  }

  /** Purchase, click and view events with `ts_ms` and each event's
    * `journey`: the number of the user's purchases before it. */
  private def journeyEvents(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
      .filter(col("event_type").isin("purchase", "click", "view"))
      .withColumn("ts_ms", tsMs("ts"))
    val wPrev = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_ms"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    ev.withColumn("journey",
      count(when(col("event_type") === "purchase", 1)).over(wPrev))
  }

  /** Per channel credit count and total: the `credited` touch shares plus
    * a "direct" credit for each purchase whose journey had no touch. */
  private def creditTotals(credited: DataFrame, purchases: DataFrame,
                           touches: DataFrame): DataFrame = {
    val direct = purchases.join(
        touches.select(col("user_id"), col("journey")).distinct(),
        Seq("user_id", "journey"), "left_anti")
      .select(lit("direct").as("channel"), round(col("value"), 6).as("v"))
    credited.unionByName(direct)
      .groupBy(col("channel"))
      .agg(count(lit(1)).as("n_credits"), decSum(col("v")).as("attributed_value"))
      .orderBy(col("channel"))
  }

  /** q210 — U-shaped (position-based) multi-touch attribution: each
    * purchase's value splits 40% to the journey's first touch, 40% to
    * the last, and the remaining 20% evenly across middle touches
    * (1-touch journeys take 100%, 2-touch 50/50, touchless purchases
    * stay 'direct') — the standard middle ground between q91's
    * last-touch and q203's Markov removal effects. A journey is the
    * touch run since the user's previous purchase: the same
    * purchase-count window resets journeys without any join against
    * a purchase table.
    *
    * Determinism: journey ids are exclusive-frame purchase counts
    * (empty frame = 0 both engines); first/last are fully tiebroken
    * by (ts, event_id); credits are CASE doubles with the one inexact
    * quotient (0.2/(k−2)) written identically on both sides; each
    * credited term rounds at 6dp before the DECIMAL sum (q103
    * convention).
    *
    * Scale: ONE user_id window pass tags journeys, one (user,
    * journey) window ranks touches, the purchase join is
    * co-partitioned on the same keys, and the rollup is a tiny
    * channel aggregate — event-sized work only in the two window
    * passes, no self-join over the stream.
    */
  def uShapedAttribution(spark: SparkSession, dir: String): DataFrame = {
    val tagged = journeyEvents(spark, dir)
    val purchases = tagged.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("journey"), col("value"))
    val wJ = Window.partitionBy(col("user_id"), col("journey"))
    val touches = tagged.filter(col("event_type") =!= "purchase")
      .select(col("user_id"), col("journey"), col("event_type").as("channel"),
        col("ts_ms"), col("event_id"))
      .withColumn("rn",
        row_number().over(wJ.orderBy(col("ts_ms"), col("event_id"))))
      .withColumn("k", count(lit(1)).over(wJ))
    val credited = touches.join(purchases, Seq("user_id", "journey"))
      .withColumn("credit",
        when(col("k") === 1, lit(1.0))
          .when(col("k") === 2, lit(0.5))
          .when(col("rn") === 1 || col("rn") === col("k"), lit(0.4))
          .otherwise(lit(0.2) / (col("k") - 2)))
      .select(col("channel"), round(col("value") * col("credit"), 6).as("v"))
    creditTotals(credited, purchases, touches)
  }

  val uShapedAttributionSql: String =
    """WITH ev AS (
      |  SELECT user_id, event_id, event_type, value, epoch_ms(ts) AS ts_ms,
      |    COUNT(CASE WHEN event_type = 'purchase' THEN 1 END)
      |      OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS journey
      |  FROM events WHERE event_type IN ('purchase', 'click', 'view')
      |), purchases AS (
      |  SELECT user_id, journey, value FROM ev WHERE event_type = 'purchase'
      |), touches AS (
      |  SELECT user_id, journey, event_type AS channel,
      |    row_number() OVER (PARTITION BY user_id, journey
      |                       ORDER BY ts_ms, event_id) AS rn,
      |    COUNT(*) OVER (PARTITION BY user_id, journey) AS k
      |  FROM ev WHERE event_type <> 'purchase'
      |), credited AS (
      |  SELECT t.channel,
      |    ROUND(p.value * (CASE WHEN t.k = 1 THEN CAST(1.0 AS DOUBLE)
      |      WHEN t.k = 2 THEN CAST(0.5 AS DOUBLE)
      |      WHEN t.rn = 1 OR t.rn = t.k THEN CAST(0.4 AS DOUBLE)
      |      ELSE CAST(0.2 AS DOUBLE) / (t.k - 2) END), 6) AS v
      |  FROM touches t JOIN purchases p USING (user_id, journey)
      |  UNION ALL
      |  SELECT 'direct' AS channel, ROUND(p.value, 6) AS v
      |  FROM purchases p
      |  WHERE NOT EXISTS (SELECT 1 FROM touches t
      |                    WHERE t.user_id = p.user_id AND t.journey = p.journey)
      |)
      |SELECT channel, COUNT(*) AS n_credits,
      |  CAST(SUM(CAST(v AS DECIMAL(18,6))) AS DOUBLE) AS attributed_value
      |FROM credited GROUP BY 1 ORDER BY 1""".stripMargin

  /** q220 — time-decay attribution: each purchase's value splits over
    * its journey's touches with weights halving per day of age
    * (2^−Δdays), the recency curve between q91's winner-take-all and
    * q210's position split. Journeys are q210's purchase-count
    * windows; touchless purchases stay 'direct'.
    *
    * Exactness: weights are INTEGER powers of two — Δdays (capped at
    * 52) is rescaled per journey to iw = 1 << (maxΔ − Δ), so the
    * credit iw/Σiw is one double division of exact BIGINTs, identical
    * both engines (no pow(), whose libm exactness we'd otherwise have
    * to trust); credited terms round at 6dp into DECIMAL sums.
    *
    * Scale: q210's posture — two key-partitioned window passes (one
    * per-user, one per-journey carrying max, sum and the rescale),
    * a co-partitioned purchase join, a channel-sized rollup.
    */
  def timeDecayAttribution(spark: SparkSession, dir: String): DataFrame = {
    val tagged = journeyEvents(spark, dir)
    val purchases = tagged.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("journey"), col("value"),
        col("ts_ms").as("p_ts"))
    val wJ = Window.partitionBy(col("user_id"), col("journey"))
    val touches = tagged.filter(col("event_type") =!= "purchase")
      .select(col("user_id"), col("journey"), col("event_type").as("channel"),
        col("ts_ms"))
      .join(purchases, Seq("user_id", "journey"))
      .withColumn("d",
        least(expr("(p_ts - ts_ms) div 86400000"), lit(52L)))
      .withColumn("maxd", max(col("d")).over(wJ))
      .withColumn("iw", expr("shiftleft(cast(1 as bigint), cast(maxd - d as int))"))
      .withColumn("sumw", sum(col("iw")).over(wJ))
    val credited = touches
      .select(col("channel"),
        round(col("value") * (col("iw").cast("double") / col("sumw")), 6).as("v"))
    creditTotals(credited, purchases, touches)
  }

  val timeDecayAttributionSql: String =
    """WITH ev AS (
      |  SELECT user_id, event_id, event_type, value, epoch_ms(ts) AS ts_ms,
      |    COUNT(CASE WHEN event_type = 'purchase' THEN 1 END)
      |      OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS journey
      |  FROM events WHERE event_type IN ('purchase', 'click', 'view')
      |), purchases AS (
      |  SELECT user_id, journey, value, ts_ms AS p_ts
      |  FROM ev WHERE event_type = 'purchase'
      |), touch_d AS (
      |  SELECT t.user_id, t.journey, t.event_type AS channel,
      |    LEAST(CAST((p.p_ts - t.ts_ms) // 86400000 AS BIGINT), 52) AS d
      |  FROM ev t JOIN purchases p USING (user_id, journey)
      |  WHERE t.event_type <> 'purchase'
      |), weighted AS (
      |  SELECT user_id, journey, channel,
      |    CAST(1 AS BIGINT) << CAST(
      |      MAX(d) OVER (PARTITION BY user_id, journey) - d AS INT) AS iw
      |  FROM touch_d
      |), summed AS (
      |  SELECT user_id, journey, channel, iw,
      |    SUM(iw) OVER (PARTITION BY user_id, journey) AS sumw
      |  FROM weighted
      |), credited AS (
      |  SELECT s.channel,
      |    ROUND(p.value * (CAST(s.iw AS DOUBLE) / s.sumw), 6) AS v
      |  FROM summed s JOIN purchases p USING (user_id, journey)
      |  UNION ALL
      |  SELECT 'direct' AS channel, ROUND(p.value, 6) AS v
      |  FROM purchases p
      |  WHERE NOT EXISTS (SELECT 1 FROM touch_d t
      |                    WHERE t.user_id = p.user_id AND t.journey = p.journey)
      |)
      |SELECT channel, COUNT(*) AS n_credits,
      |  CAST(SUM(CAST(v AS DECIMAL(18,6))) AS DOUBLE) AS attributed_value
      |FROM credited GROUP BY 1 ORDER BY 1""".stripMargin

  /** q217 — Theil–Sen robust trend per event type: the MEDIAN of all
    * pairwise day-slopes of the daily value series — the estimator
    * that shrugs off the outlier days that drag q102's OLS line (up
    * to ~29% contamination). Median = rank-SELECTED slope (lower-
    * middle rank, fully tiebroken by (slope, d1, d2) — q121's
    * convention), so the output is an exact double both engines
    * share; slopes are single divisions of decimal-sum daily values
    * over integer day gaps.
    *
    * Scale: the pair join is over the DAILY table (calendar-sized,
    * never event-sized) co-partitioned on event_type — n days yields
    * n(n−1)/2 slope rows per type, quadratic in the series length
    * only; one ordered window selects the median. A years-long 100 TB
    * series (n ~ 10⁴ days → 10⁸ pairs) switches to the repeated-
    * median variant or coarser buckets; the graded shape stays.
    */
  def theilSenTrend(spark: SparkSession, dir: String): DataFrame = {
    val daily = dailyValues(spark, dir)
    val pairs = daily.as("a").join(daily.as("b"),
        col("a.event_type") === col("b.event_type") && col("a.day") < col("b.day"))
      .select(col("a.event_type").as("event_type"),
        ((col("b.v") - col("a.v")) / (col("b.day") - col("a.day"))).as("slope"),
        col("a.day").as("d1"), col("b.day").as("d2"))
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("slope"), col("d1"), col("d2"))
    pairs
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("event_type"))))
      .groupBy(col("event_type"))
      .agg(max(col("n")).as("n_pairs"),
        max(when(col("rn") === expr("(n + 1) div 2"), col("slope")))
          .as("slope_per_day"))
      .orderBy(col("event_type"))
  }

  val theilSenTrendSql: String =
    s"""WITH $dailyValuesCte, slopes AS (
      |  SELECT a.event_type, (b.v - a.v) / (b.day - a.day) AS slope,
      |    a.day AS d1, b.day AS d2
      |  FROM daily a JOIN daily b
      |    ON a.event_type = b.event_type AND a.day < b.day
      |), ranked AS (
      |  SELECT event_type, slope,
      |    row_number() OVER (PARTITION BY event_type
      |      ORDER BY slope, d1, d2) AS rn,
      |    COUNT(*) OVER (PARTITION BY event_type) AS n
      |  FROM slopes
      |)
      |SELECT event_type, CAST(MAX(n) AS BIGINT) AS n_pairs,
      |  MAX(CASE WHEN rn = (n + 1) // 2 THEN slope END) AS slope_per_day
      |FROM ranked GROUP BY event_type ORDER BY event_type""".stripMargin

  /** q222 — forecast backtest with temporal holdout: naive (y_{t−1})
    * and seasonal-naive (y_{t−7}) forecasts scored on the LATE half
    * of each type's dense daily series (q135's integer-midpoint
    * split), with MASE — MAE(seasonal-naive on test) scaled by the
    * in-sample one-step naive MAE, the standard scale-free comparison
    * (Hyndman & Koehler 2006). The honesty check q120/q172 need
    * before anyone trusts a forecast: beat these two baselines or go
    * home.
    *
    * Exactness: daily values are decimal sums (exact shared doubles);
    * each |y − ŷ| rounds at 6dp before its DECIMAL sum (q103
    * convention), and every MAE/MASE is a single guarded division.
    * Lag forecasts ride ONE type-partitioned day-ordered window
    * (lag 1 and lag 7 share the sort); the split day is exact integer
    * arithmetic. Test days whose lag-7 source falls before the series
    * start are excluded from BOTH seasonal columns (stated n_test
    * counts the naive-scored days).
    *
    * Scale: q209's posture — calendar-sized series tables, one window
    * pass, one reduce per type.
    */
  def forecastBacktest(spark: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(18, 6)
    val daily = dailyValues(spark, dir)
    val spine = daily.groupBy(col("event_type"))
      .agg(min(col("day")).as("mn"), max(col("day")).as("mx"))
      .select(col("event_type"), col("mn"), col("mx"),
        explode(sequence(col("mn"), col("mx"))).as("day"))
    val dense = spine.join(daily, Seq("event_type", "day"), "left")
      .select(col("event_type"), col("day"),
        coalesce(col("v"), lit(0.0)).as("v"),
        expr("(mn + mx) div 2").as("mid"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val lagged = dense
      .withColumn("p1", lag(col("v"), 1).over(w))
      .withColumn("p7", lag(col("v"), 7).over(w))
    lagged.groupBy(col("event_type"))
      .agg(
        sum(when(col("day") > col("mid") && col("p1").isNotNull, 1))
          .as("n_test"),
        sum(when(col("day") > col("mid") && col("p1").isNotNull,
          round(abs(col("v") - col("p1")), 6).cast(dec))).as("ae1"),
        sum(when(col("day") > col("mid") && col("p7").isNotNull, 1))
          .as("n_test7"),
        sum(when(col("day") > col("mid") && col("p7").isNotNull,
          round(abs(col("v") - col("p7")), 6).cast(dec))).as("ae7"),
        sum(when(col("day") <= col("mid") && col("p1").isNotNull, 1))
          .as("n_train"),
        sum(when(col("day") <= col("mid") && col("p1").isNotNull,
          round(abs(col("v") - col("p1")), 6).cast(dec))).as("aeTr"))
      .select(col("event_type"), col("n_test"),
        round(col("ae1").cast("double")
          / nullif(col("n_test").cast("double"), lit(0.0)), 6).as("mae_naive"),
        round(col("ae7").cast("double")
          / nullif(col("n_test7").cast("double"), lit(0.0)), 6).as("mae_snaive"),
        round((col("ae7").cast("double") / nullif(col("n_test7").cast("double"), lit(0.0)))
          / nullif(col("aeTr").cast("double")
            / nullif(col("n_train").cast("double"), lit(0.0)), lit(0.0)), 6)
          .as("mase_snaive"))
      .orderBy(col("event_type"))
  }

  val forecastBacktestSql: String =
    s"""WITH $dailyValuesCte, bounds AS (
      |  SELECT event_type, MIN(day) AS mn, MAX(day) AS mx FROM daily GROUP BY 1
      |), dense AS (
      |  SELECT s.event_type, s.day, COALESCE(d.v, 0.0) AS v, s.mid
      |  FROM (SELECT b.event_type, (b.mn + b.mx) // 2 AS mid,
      |          unnest(range(b.mn, b.mx + 1)) AS day
      |        FROM bounds b) s
      |  LEFT JOIN daily d ON d.event_type = s.event_type AND d.day = s.day
      |), lagged AS (
      |  SELECT event_type, day, v, mid,
      |    lag(v, 1) OVER w AS p1, lag(v, 7) OVER w AS p7
      |  FROM dense WINDOW w AS (PARTITION BY event_type ORDER BY day)
      |), agg AS (
      |  SELECT event_type,
      |    SUM(CASE WHEN day > mid AND p1 IS NOT NULL THEN 1 END) AS n_test,
      |    SUM(CASE WHEN day > mid AND p1 IS NOT NULL
      |      THEN CAST(ROUND(ABS(v - p1), 6) AS DECIMAL(18,6)) END) AS ae1,
      |    SUM(CASE WHEN day > mid AND p7 IS NOT NULL THEN 1 END) AS n_test7,
      |    SUM(CASE WHEN day > mid AND p7 IS NOT NULL
      |      THEN CAST(ROUND(ABS(v - p7), 6) AS DECIMAL(18,6)) END) AS ae7,
      |    SUM(CASE WHEN day <= mid AND p1 IS NOT NULL THEN 1 END) AS n_train,
      |    SUM(CASE WHEN day <= mid AND p1 IS NOT NULL
      |      THEN CAST(ROUND(ABS(v - p1), 6) AS DECIMAL(18,6)) END) AS ae_tr
      |  FROM lagged GROUP BY 1
      |)
      |SELECT event_type, CAST(n_test AS BIGINT) AS n_test,
      |  ROUND(CAST(ae1 AS DOUBLE)
      |    / NULLIF(CAST(n_test AS DOUBLE), 0.0), 6) AS mae_naive,
      |  ROUND(CAST(ae7 AS DOUBLE)
      |    / NULLIF(CAST(n_test7 AS DOUBLE), 0.0), 6) AS mae_snaive,
      |  ROUND((CAST(ae7 AS DOUBLE) / NULLIF(CAST(n_test7 AS DOUBLE), 0.0))
      |    / NULLIF(CAST(ae_tr AS DOUBLE)
      |      / NULLIF(CAST(n_train AS DOUBLE), 0.0), 0.0), 6) AS mase_snaive
      |FROM agg ORDER BY event_type""".stripMargin

  /** q232 — lead-lag cross-correlation (CCF) between event types:
    * Pearson r between type A's daily count series and type B's
    * lag-shifted series over the SHARED dense calendar — "does a
    * click spike today predict purchases tomorrow?" The asymmetric
    * companion of q209's ACF (corr(a_t, b_{t+lag}) large says A LEADS
    * B), the lead-lag screen read before building any cross-metric
    * forecast on q222's backtest.
    *
    * Exactness: q209's discipline exactly — integer counts on the
    * zero-filled GLOBAL calendar (cross-series alignment demands one
    * spine), all sufficient sums exact BIGINTs, numerator/variances
    * integer until one double conversion + sqrt + 6dp round, NULLIF
    * for degenerate series. Self-pairs are excluded (that row is
    * q209).
    *
    * Scale: the dense table is |types|×|days|; the lag shift is a
    * projection (day − lag) and the pairing ONE day-keyed join whose
    * fan-out is |types|² per day — calendar-sized work with a small
    * constant, the raw stream is touched once by the count aggregate.
    */
  def crossCorrelation(spark: SparkSession, dir: String,
                       lags: Seq[Int] = Seq(1, 2, 3)): DataFrame = {
    val daily = dailyCounts(spark, dir)
    val spine = daily.agg(min(col("day")).as("mn"), max(col("day")).as("mx"))
      .select(explode(sequence(col("mn"), col("mx"))).as("day"))
    val types = daily.select(col("event_type")).distinct()
    val dense = types.crossJoin(spine)
      .join(daily, Seq("event_type", "day"), "left")
      .select(col("event_type"), col("day"), coalesce(col("v"), lit(0L)).as("v"))
    val a = dense.select(col("event_type").as("type_a"), col("day"),
      col("v").as("x"))
    val b = dense
      .crossJoin(broadcast(spark.range(1)
        .select(explode(array(lags.map(l => lit(l)): _*)).as("lag"))))
      .select(col("event_type").as("type_b"), col("lag"),
        (col("day") - col("lag")).as("day"), col("v").as("y"))
    a.join(b, "day")
      .where(col("type_a") =!= col("type_b"))
      .groupBy(col("type_a"), col("type_b"), col("lag"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .select(col("type_a"), col("type_b"), col("lag"), col("n_pairs"),
        round((col("n_pairs") * col("sxy") - col("sx") * col("sy")).cast("double")
          / nullif(
            sqrt((col("n_pairs") * col("sxx") - col("sx") * col("sx")).cast("double")
              * (col("n_pairs") * col("syy") - col("sy") * col("sy")).cast("double")),
            lit(0.0)), 6).as("ccf"))
      .orderBy(col("type_a"), col("type_b"), col("lag"))
  }

  def crossCorrelationSql(lags: Seq[Int] = Seq(1, 2, 3)): String = {
    val list = lags.mkString("[", ", ", "]")
    s"""WITH daily AS (
       |  SELECT event_type, epoch_ms(ts) // 86400000 AS day, COUNT(*) AS v
       |  FROM events GROUP BY 1, 2
       |), spine AS (
       |  SELECT unnest(range(mn, mx + 1)) AS day
       |  FROM (SELECT MIN(day) AS mn, MAX(day) AS mx FROM daily)
       |), types AS (SELECT DISTINCT event_type FROM daily
       |), dense AS (
       |  SELECT t.event_type, s.day, COALESCE(d.v, 0) AS v
       |  FROM types t CROSS JOIN spine s
       |  LEFT JOIN daily d ON d.event_type = t.event_type AND d.day = s.day
       |), b AS (
       |  SELECT event_type AS type_b, CAST(l.lag AS INT) AS lag,
       |    day - l.lag AS day, v AS y
       |  FROM dense, (SELECT unnest($list) AS lag) l
       |), agg AS (
       |  SELECT a.event_type AS type_a, b.type_b, b.lag,
       |    COUNT(*) AS n_pairs,
       |    SUM(a.v) AS sx, SUM(b.y) AS sy, SUM(a.v * b.y) AS sxy,
       |    SUM(a.v * a.v) AS sxx, SUM(b.y * b.y) AS syy
       |  FROM dense a JOIN b ON a.day = b.day
       |  WHERE a.event_type <> b.type_b
       |  GROUP BY 1, 2, 3
       |)
       |SELECT type_a, type_b, lag, CAST(n_pairs AS BIGINT) AS n_pairs,
       |  ROUND(CAST(n_pairs * sxy - sx * sy AS DOUBLE)
       |    / NULLIF(sqrt(CAST(n_pairs * sxx - sx * sx AS DOUBLE)
       |        * CAST(n_pairs * syy - sy * sy AS DOUBLE)), 0.0), 6) AS ccf
       |FROM agg ORDER BY type_a, type_b, lag""".stripMargin
  }

  /** q231 — Durbin–Watson residual diagnostics: fit each type's DAILY
    * value series with q102's sufficient-statistic OLS, then test the
    * day-ordered residuals for serial correlation —
    * DW = Σ(e_t − e_{t−1})² / Σe_t² (≈2 independent, →0 positively
    * correlated, →4 negatively). The regression-trust gauge: a q102
    * trend whose residuals autocorrelate has understated errors, and
    * the honest next step is q209/q222's time-series machinery, not a
    * tighter line.
    *
    * Exactness: slope (6dp) and intercept (4dp — q102's half-boundary
    * precedent at epoch-day magnitudes) are rounded ONCE and shared,
    * so every residual is the same double on both engines; each
    * residual and each squared term rounds at 6dp before its
    * DECIMAL(28,6) sum; DW is one guarded division. Scale: one
    * (type, day) aggregate, one broadcast coefficient join, ONE
    * type-ordered window pass for the lag — daily-table sized
    * throughout.
    */
  def olsResidualDw(spark: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(28, 6)
    def dsum(c: Column): Column = sum(c.cast(dec)).cast("double")
    val daily = Tables.load(spark, dir, "events")
      .groupBy(col("event_type"), epochDayExpr.as("day"))
      .agg(decSum(col("value")).as("y"))
      .withColumn("x", col("day").cast("double"))
    val coef = daily.groupBy(col("event_type")).agg(
        count(lit(1)).as("n"),
        dsum(col("x")).as("sx"), dsum(col("y")).as("sy"),
        dsum(round(col("x") * col("x"), 6)).as("sxx"),
        dsum(round(col("x") * col("y"), 6)).as("sxy"))
      .withColumn("den",
        nullif(col("n") * col("sxx") - col("sx") * col("sx"), lit(0.0)))
      .withColumn("num", col("n") * col("sxy") - col("sx") * col("sy"))
      .withColumn("slope", round(col("num") / col("den"), 6))
      .withColumn("intercept", round(
        (col("sy") - (col("num") / col("den")) * col("sx")) / col("n"), 4))
      .select(col("event_type"), col("slope"), col("intercept"))
    val resid = daily.join(broadcast(coef), "event_type")
      .withColumn("e",
        round(col("y") - (col("intercept") + col("slope") * col("x")), 6))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    resid.withColumn("e_prev", lag(col("e"), 1).over(w))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
        max(col("slope")).as("slope"), max(col("intercept")).as("intercept"),
        dsum(round(col("e") * col("e"), 6)).as("sse"),
        dsum(when(col("e_prev").isNotNull,
          round((col("e") - col("e_prev")) * (col("e") - col("e_prev")), 6)))
          .as("sdiff"))
      .select(col("event_type"), col("n_days"), col("slope"), col("intercept"),
        round(col("sdiff") / nullif(col("sse"), lit(0.0)), 6).as("dw"))
      .orderBy(col("event_type"))
  }

  val olsResidualDwSql: String =
    """WITH daily AS (
      |  SELECT event_type, epoch_ms(ts) // 86400000 AS day,
      |    CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS y
      |  FROM events GROUP BY 1, 2
      |), d2 AS (
      |  SELECT event_type, day, y, CAST(day AS DOUBLE) AS x FROM daily
      |), stats AS (
      |  SELECT event_type, COUNT(*) AS n,
      |    CAST(SUM(CAST(x AS DECIMAL(28,6))) AS DOUBLE) AS sx,
      |    CAST(SUM(CAST(y AS DECIMAL(28,6))) AS DOUBLE) AS sy,
      |    CAST(SUM(CAST(ROUND(x * x, 6) AS DECIMAL(28,6))) AS DOUBLE) AS sxx,
      |    CAST(SUM(CAST(ROUND(x * y, 6) AS DECIMAL(28,6))) AS DOUBLE) AS sxy
      |  FROM d2 GROUP BY 1
      |), coef AS (
      |  SELECT event_type,
      |    ROUND((n * sxy - sx * sy)
      |      / NULLIF(n * sxx - sx * sx, 0.0), 6) AS slope,
      |    ROUND((sy - ((n * sxy - sx * sy) / NULLIF(n * sxx - sx * sx, 0.0))
      |      * sx) / n, 4) AS intercept
      |  FROM stats
      |), resid AS (
      |  SELECT d.event_type, d.day,
      |    ROUND(d.y - (c.intercept + c.slope * d.x), 6) AS e,
      |    c.slope, c.intercept
      |  FROM d2 d JOIN coef c USING (event_type)
      |), lagged AS (
      |  SELECT event_type, slope, intercept, e,
      |    lag(e) OVER (PARTITION BY event_type ORDER BY day) AS e_prev
      |  FROM resid
      |)
      |SELECT event_type, COUNT(*) AS n_days,
      |  MAX(slope) AS slope, MAX(intercept) AS intercept,
      |  ROUND(CAST(SUM(CASE WHEN e_prev IS NOT NULL
      |      THEN CAST(ROUND((e - e_prev) * (e - e_prev), 6) AS DECIMAL(28,6))
      |      END) AS DOUBLE)
      |    / NULLIF(CAST(SUM(CAST(ROUND(e * e, 6) AS DECIMAL(28,6)))
      |      AS DOUBLE), 0.0), 6) AS dw
      |FROM lagged GROUP BY event_type ORDER BY event_type""".stripMargin

  /** q219 — burstiness (Fano factor) of daily event counts per type:
    * variance-to-mean ratio over the dense calendar — 1 means
    * Poisson-like arrivals, >1 says events clump (bot bursts, batch
    * replays), <1 says they are over-regular (schedulers). The
    * dispersion gauge that tells you whether q121's anomaly
    * thresholds face noise or structure.
    *
    * Exactness: counts over the dense spine (q209's zero-filled
    * calendar) make every sufficient sum an exact BIGINT; mean,
    * sample variance and fano are single exact-integer-ratio
    * divisions — fano = (n·Σx² − (Σx)²) / ((n−1)·Σx) — rounded once
    * at 6dp; degenerate series (n ≤ 1 or zero total) hit NULLIF.
    *
    * Scale: identical posture to q209 — one count aggregate, one
    * calendar spine, one per-type reduce; nothing event-sized
    * survives the first aggregate.
    */
  def burstiness(spark: SparkSession, dir: String): DataFrame = {
    val daily = dailyCounts(spark, dir)
    val spine = daily.groupBy(col("event_type"))
      .agg(min(col("day")).as("mn"), max(col("day")).as("mx"))
      .select(col("event_type"),
        explode(sequence(col("mn"), col("mx"))).as("day"))
    val dense = spine.join(daily, Seq("event_type", "day"), "left")
      .select(col("event_type"), coalesce(col("v"), lit(0L)).as("v"))
    dense.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
        sum(col("v")).as("sx"), sum(col("v") * col("v")).as("sxx"))
      .select(col("event_type"), col("n_days"),
        round(col("sx").cast("double") / col("n_days"), 6).as("mean_daily"),
        round((col("n_days") * col("sxx") - col("sx") * col("sx")).cast("double")
          / nullif((col("n_days") * (col("n_days") - 1)).cast("double"), lit(0.0)), 6)
          .as("var_daily"),
        round((col("n_days") * col("sxx") - col("sx") * col("sx")).cast("double")
          / nullif(((col("n_days") - 1) * col("sx")).cast("double"), lit(0.0)), 6)
          .as("fano"))
      .orderBy(col("event_type"))
  }

  val burstinessSql: String =
    """WITH daily AS (
      |  SELECT event_type, epoch_ms(ts) // 86400000 AS day, COUNT(*) AS v
      |  FROM events GROUP BY 1, 2
      |), spine AS (
      |  SELECT event_type, unnest(range(mn, mx + 1)) AS day
      |  FROM (SELECT event_type, MIN(day) AS mn, MAX(day) AS mx
      |        FROM daily GROUP BY 1)
      |), dense AS (
      |  SELECT s.event_type, COALESCE(d.v, 0) AS v
      |  FROM spine s LEFT JOIN daily d
      |    ON d.event_type = s.event_type AND d.day = s.day
      |), agg AS (
      |  SELECT event_type, COUNT(*) AS n, SUM(v) AS sx, SUM(v * v) AS sxx
      |  FROM dense GROUP BY 1
      |)
      |SELECT event_type, CAST(n AS BIGINT) AS n_days,
      |  ROUND(CAST(sx AS DOUBLE) / n, 6) AS mean_daily,
      |  ROUND(CAST(n * sxx - sx * sx AS DOUBLE)
      |    / NULLIF(CAST(n * (n - 1) AS DOUBLE), 0.0), 6) AS var_daily,
      |  ROUND(CAST(n * sxx - sx * sx AS DOUBLE)
      |    / NULLIF(CAST((n - 1) * sx AS DOUBLE), 0.0), 6) AS fano
      |FROM agg ORDER BY event_type""".stripMargin

  /** q241 — Holt linear-trend forecast per event type: double
    * exponential smoothing over the per-day decimal-exact value
    * totals — level AND trend state, so a steadily growing metric
    * forecasts its growth where q120's SES (level only) lags one
    * trend-step behind. The coupled recurrences with α = β = ½:
    * s_t = (y_t + s_{t−1} + b_{t−1})/2,
    * b_t = ((s_t − s_{t−1}) + b_{t−1})/2, seeded with the textbook
    * s₁ = y₁, b₁ = y₂ − y₁; forecast(h=1) = s_T + b_T.
    *
    * Exactness (the q120 argument, extended to coupled state): each
    * step is additions and EXACT halvings of IEEE doubles, and both
    * engines fold the identical day-ordered sequence with the
    * identical seed — Spark `aggregate` with a two-field struct
    * state, DuckDB `list_reduce` with a two-element list state — so
    * the final (level, trend) pair is bit-identical with no per-step
    * rounding. A one-day series cannot seed a trend and is guarded to
    * (y₁, 0) on both sides.
    *
    * Scale: one (type, day) aggregate with map-side combine, then one
    * per-type fold over a calendar-days-long array (the q120 bound —
    * series length is time span, never event count).
    */
  def holtForecast(spark: SparkSession, dir: String): DataFrame = {
    val daily = dailyValues(spark, dir)
    daily.groupBy(col("event_type"))
      .agg(array_sort(collect_list(struct(col("day"), col("v")))).as("dv"))
      .select(col("event_type"),
        size(col("dv")).as("n_days"),
        expr(
          """CASE WHEN size(dv) = 1
            |  THEN named_struct('s', CAST(dv[0].v AS DOUBLE), 'b', 0D)
            |  ELSE aggregate(
            |    slice(transform(dv, x -> CAST(x.v AS DOUBLE)), 3,
            |      greatest(size(dv) - 2, 0)),
            |    named_struct(
            |      's', CAST(dv[0].v AS DOUBLE),
            |      'b', CAST(dv[1].v AS DOUBLE) - CAST(dv[0].v AS DOUBLE)),
            |    (acc, x) -> named_struct(
            |      's', (x + acc.s + acc.b) / 2D,
            |      'b', (((x + acc.s + acc.b) / 2D) - acc.s + acc.b) / 2D))
            |END""".stripMargin).as("st"))
      .select(col("event_type"), col("n_days"),
        round(col("st.s"), 6).as("level"),
        round(col("st.b"), 6).as("trend"),
        round(col("st.s") + col("st.b"), 6).as("holt_forecast"))
      .orderBy(col("event_type"))
  }

  val holtForecastSql: String =
    s"""WITH $dailyValuesCte, series AS (
      |  SELECT event_type, CAST(list(v ORDER BY day) AS DOUBLE[]) AS vals
      |  FROM daily GROUP BY 1
      |), folded AS (
      |  SELECT event_type, len(vals) AS n_days,
      |    CASE WHEN len(vals) = 1 THEN [vals[1], 0.0]
      |    ELSE list_reduce(
      |      list_concat([[vals[1], vals[2] - vals[1]]],
      |        [[x, 0.0] for x in vals[3:]]),
      |      (acc, x) -> [ (x[1] + acc[1] + acc[2]) / 2,
      |                    (((x[1] + acc[1] + acc[2]) / 2) - acc[1] + acc[2]) / 2 ])
      |    END AS st
      |  FROM series
      |)
      |SELECT event_type, CAST(n_days AS INT) AS n_days,
      |  ROUND(st[1], 6) AS level,
      |  ROUND(st[2], 6) AS trend,
      |  ROUND(st[1] + st[2], 6) AS holt_forecast
      |FROM folded ORDER BY event_type""".stripMargin

  /** q263 — event-stream compaction report: per event type, how many
    * events are REDUNDANT REPEATS — same user, same type, same value,
    * within `dedupMs` of the previous such event — the telemetry
    * compaction every ingest pipeline runs (button-mash clicks,
    * retry-looped errors, double-fired beacons), reported as kept vs
    * dropped with the compaction ratio. q25's dedup is content
    * identity across the corpus; this is TEMPORAL adjacency identity
    * within a stream — different operator, different shuffle key.
    *
    * Determinism: "previous such event" is lag() over the
    * (user, type, value)-partitioned (ts, event_id) order, so chains
    * of rapid repeats keep their FIRST event and drop the rest
    * (every repeat is within dedupMs of its predecessor — the
    * standard compaction contract). Integer ms compare only.
    *
    * Scale: one shuffle on (user_id, event_type, value) — finer than
    * q20's user key, so hot users spread across partitions; the
    * report aggregate collapses to |types| rows map-side.
    */
  def streamCompaction(spark: SparkSession, dir: String,
                       dedupMs: Long = 60000L): DataFrame = {
    val ev = Tables.load(spark, dir, "events").withColumn("ts_ms", tsMs("ts"))
    val w = Window.partitionBy(col("user_id"), col("event_type"), col("value"))
      .orderBy(col("ts_ms"), col("event_id"))
    ev.withColumn("prev_ts", lag(col("ts_ms"), 1).over(w))
      .withColumn("dropped",
        (col("prev_ts").isNotNull &&
          col("ts_ms") - col("prev_ts") <= dedupMs).cast("long"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("dropped")).as("n_dropped"))
      .select(col("event_type"), col("n_events"), col("n_dropped"),
        (col("n_events") - col("n_dropped")).as("n_kept"),
        round(col("n_dropped").cast("double") / col("n_events"), 6)
          .as("drop_rate"))
      .orderBy(col("event_type"))
  }

  def streamCompactionSql(dedupMs: Long = 60000L): String =
    s"""WITH flagged AS (
       |  SELECT event_type,
       |    CASE WHEN lag(epoch_ms(ts)) OVER w IS NOT NULL
       |      AND epoch_ms(ts) - lag(epoch_ms(ts)) OVER w <= $dedupMs
       |      THEN 1 ELSE 0 END AS dropped
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id, event_type, value
       |    ORDER BY epoch_ms(ts), event_id)
       |)
       |SELECT event_type,
       |  COUNT(*) AS n_events,
       |  CAST(SUM(dropped) AS BIGINT) AS n_dropped,
       |  CAST(COUNT(*) - SUM(dropped) AS BIGINT) AS n_kept,
       |  ROUND(CAST(SUM(dropped) AS DOUBLE) / COUNT(*), 6) AS drop_rate
       |FROM flagged GROUP BY event_type
       |ORDER BY event_type""".stripMargin

  /** q262 — engagement-segment migration matrix: purchase-frequency
    * terciles computed INDEPENDENTLY in the timeline's two halves
    * (the q124/q213 midpoint split, on time), crossed per user into a
    * (segment_h1 → segment_h2) transition matrix with inactive (0)
    * as an explicit state — the retention analytics readout ("how
    * many heavy buyers lapsed, how many new users converted to
    * heavy") that q90's single-snapshot RFM cannot express.
    *
    * Determinism: terciles are ntile over the fully-tiebroken
    * (frequency, user_id) order among that half's ACTIVE users (the
    * q243 discipline); the midpoint split is integer epoch-ms
    * arithmetic ((mn + mx) div 2 — both engines floor identically on
    * nonnegative ms). Scale: two per-user count aggregates and a
    * full-outer user join; the acknowledged global ntile sort runs
    * over active USERS (swap for quantile-boundary bucketing at
    * 100 TB, the q90 sketch note); the matrix is ≤ 16 cells.
    */
  def segmentMigration(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.load(spark, dir, "events")
      .filter(col("event_type") === "purchase")
      .withColumn("ts_ms", tsMs("ts"))
    val bounds = p.agg(min(col("ts_ms")).as("mn"), max(col("ts_ms")).as("mx"))
    val halves = p.crossJoin(broadcast(bounds))
      .withColumn("late", (col("ts_ms") * 2 > col("mn") + col("mx")).cast("int"))
    def segs(late: Int) = halves.filter(col("late") === late)
      .groupBy(col("user_id")).agg(count(lit(1)).as("freq"))
      .withColumn("seg", ntile(3).over(
        Window.orderBy(col("freq"), col("user_id"))))
      .select(col("user_id"), col("seg"))
    val joined = segs(0).withColumnRenamed("seg", "seg_h1")
      .join(segs(1).withColumnRenamed("seg", "seg_h2"), Seq("user_id"), "full_outer")
      .select(coalesce(col("seg_h1"), lit(0)).as("seg_h1"),
        coalesce(col("seg_h2"), lit(0)).as("seg_h2"))
    val cells = joined.groupBy(col("seg_h1"), col("seg_h2"))
      .agg(count(lit(1)).as("n_users"))
    cells
      .withColumn("row_total", sum(col("n_users")).over(
        Window.partitionBy(col("seg_h1"))))
      .withColumn("share_of_row",
        round(col("n_users").cast("double") / col("row_total"), 6))
      .orderBy(col("seg_h1"), col("seg_h2"))
  }

  val segmentMigrationSql: String =
    """WITH p AS (
      |  SELECT user_id, epoch_ms(ts) AS ts_ms
      |  FROM events WHERE event_type = 'purchase'
      |), bounds AS (SELECT MIN(ts_ms) AS mn, MAX(ts_ms) AS mx FROM p),
      |halves AS (
      |  SELECT user_id,
      |    CASE WHEN ts_ms * 2 > b.mn + b.mx THEN 1 ELSE 0 END AS late
      |  FROM p, bounds b
      |), s0 AS (
      |  SELECT user_id, NTILE(3) OVER (ORDER BY COUNT(*), user_id) AS seg
      |  FROM halves WHERE late = 0 GROUP BY user_id
      |), s1 AS (
      |  SELECT user_id, NTILE(3) OVER (ORDER BY COUNT(*), user_id) AS seg
      |  FROM halves WHERE late = 1 GROUP BY user_id
      |), joined AS (
      |  SELECT COALESCE(s0.seg, 0) AS seg_h1, COALESCE(s1.seg, 0) AS seg_h2
      |  FROM s0 FULL OUTER JOIN s1 USING (user_id)
      |), cells AS (
      |  SELECT seg_h1, seg_h2, COUNT(*) AS n_users
      |  FROM joined GROUP BY 1, 2
      |)
      |SELECT CAST(seg_h1 AS INT) AS seg_h1, CAST(seg_h2 AS INT) AS seg_h2,
      |  CAST(n_users AS BIGINT) AS n_users,
      |  CAST(SUM(n_users) OVER (PARTITION BY seg_h1) AS BIGINT) AS row_total,
      |  ROUND(CAST(n_users AS DOUBLE)
      |    / SUM(n_users) OVER (PARTITION BY seg_h1), 6) AS share_of_row
      |FROM cells
      |ORDER BY seg_h1, seg_h2""".stripMargin

  /** q258 — Holt–Winters additive seasonal forecast per event type
    * (α = β = γ = ½, period 7): level + trend + a 7-slot day-of-week
    * seasonal state over the DENSE daily value series — the
    * forecasting family's completion (q120 SES: level; q241 Holt:
    * +trend; this: +weekly seasonality, which daily ops metrics
    * always carry). Recurrences, all exact halvings:
    * s_t = (y_t − c_{t−7} + s_{t−1} + b_{t−1})/2,
    * b_t = ((s_t − s_{t−1}) + b_{t−1})/2,
    * c_t = ((y_t − s_t) + c_{t−7})/2; seeds s₁ = y₁, b₁ = y₂ − y₁,
    * c ≡ 0 (the first period learns the seasonal shape).
    * Forecast(h=1) = s_T + b_T + c_{next day-of-week}.
    *
    * Exactness (the q120/q241 argument, extended to 9-slot state):
    * every step is additions and EXACT halvings of IEEE doubles;
    * Spark folds `aggregate` with a (s, b, c-array) struct state,
    * DuckDB `list_reduce` with a 9-element list state, over the
    * identical dense day-ordered sequence — verified bit-identical on
    * a hand series before grading. The series is DENSIFIED (q219's
    * calendar spine) so c_{t−7} always means "same weekday last
    * week", never "7 observations ago".
    *
    * Scale: one (type, day) aggregate, a calendar-bounded spine
    * join, one per-type fold over a days-long array.
    */
  def holtWinters(spark: SparkSession, dir: String): DataFrame = {
    val daily = dailyValues(spark, dir)
    val bounds = daily.groupBy(col("event_type"))
      .agg(min(col("day")).as("mn"), max(col("day")).as("mx"))
    val spine = bounds.select(col("event_type"), col("mn"),
      explode(sequence(col("mn"), col("mx"))).as("day"))
    val dense = spine.join(daily, Seq("event_type", "day"), "left")
      .withColumn("v", coalesce(col("v"), lit(0.0)))
      .withColumn("idx", ((col("day") - col("mn")) % 7).cast("int"))
    val series = dense.groupBy(col("event_type"))
      .agg(array_sort(collect_list(struct(col("day"), col("v"), col("idx"))))
        .as("dv"))
    series.select(col("event_type"),
        size(col("dv")).as("n_days"),
        expr(
          """CASE WHEN size(dv) = 1
            |  THEN named_struct('s', CAST(dv[0].v AS DOUBLE), 'b', 0D,
            |    'c', array_repeat(0D, 7))
            |  ELSE aggregate(
            |    slice(transform(dv, x ->
            |      named_struct('v', CAST(x.v AS DOUBLE), 'idx', x.idx)),
            |      3, greatest(size(dv) - 2, 0)),
            |    named_struct(
            |      's', CAST(dv[0].v AS DOUBLE),
            |      'b', CAST(dv[1].v AS DOUBLE) - CAST(dv[0].v AS DOUBLE),
            |      'c', array_repeat(0D, 7)),
            |    (acc, x) -> named_struct(
            |      's', (x.v - element_at(acc.c, x.idx + 1) + acc.s + acc.b) / 2D,
            |      'b', (((x.v - element_at(acc.c, x.idx + 1) + acc.s + acc.b) / 2D)
            |        - acc.s + acc.b) / 2D,
            |      'c', transform(acc.c, (cv, j) -> IF(j = x.idx,
            |        (x.v - ((x.v - element_at(acc.c, x.idx + 1) + acc.s + acc.b) / 2D)
            |          + cv) / 2D, cv))))
            |END""".stripMargin).as("st"))
      .select(col("event_type"), col("n_days"),
        round(col("st.s"), 6).as("level"),
        round(col("st.b"), 6).as("trend"),
        (col("n_days") % 7).as("next_idx"),
        round(col("st.s") + col("st.b") +
          element_at(col("st.c"), col("n_days") % 7 + 1), 6)
          .as("hw_forecast"),
        // seasonal strength: the learned weekly swing (max - min of
        // the 7-slot state) -- 0 means the series carries no weekly
        // shape worth a seasonal model (use q241's Holt instead)
        round(array_max(col("st.c")) - array_min(col("st.c")), 6)
          .as("season_amplitude"))
      .orderBy(col("event_type"))
  }

  val holtWintersSql: String =
    s"""WITH $dailyValuesCte, bounds AS (
      |  SELECT event_type, MIN(day) AS mn, MAX(day) AS mx
      |  FROM daily GROUP BY 1
      |), spine AS (
      |  SELECT event_type, mn, unnest(range(mn, mx + 1)) AS day FROM bounds
      |), dense AS (
      |  SELECT s.event_type, s.day, COALESCE(d.v, 0.0) AS v,
      |    CAST((s.day - s.mn) % 7 AS DOUBLE) AS idx
      |  FROM spine s LEFT JOIN daily d
      |    ON d.event_type = s.event_type AND d.day = s.day
      |), series AS (
      |  SELECT event_type,
      |    CAST(list(v ORDER BY day) AS DOUBLE[]) AS vals,
      |    CAST(list(idx ORDER BY day) AS DOUBLE[]) AS idxs
      |  FROM dense GROUP BY 1
      |), folded AS (
      |  SELECT event_type, len(vals) AS n_days,
      |    CASE WHEN len(vals) = 1
      |      THEN [vals[1], 0.0, 0,0,0,0,0,0,0]
      |    ELSE list_reduce(
      |      list_concat(
      |        [list_concat([vals[1], vals[2] - vals[1]], [0.0,0,0,0,0,0,0])],
      |        [[vals[i+1], idxs[i+1]] for i in range(2, len(vals))]
      |      ),
      |      (acc, x) -> list_concat(
      |        [ (x[1] - acc[CAST(x[2] AS INT) + 3] + acc[1] + acc[2]) / 2,
      |          (((x[1] - acc[CAST(x[2] AS INT) + 3] + acc[1] + acc[2]) / 2)
      |            - acc[1] + acc[2]) / 2 ],
      |        list_transform(acc[3:], (c, j) -> CASE
      |          WHEN j - 1 = CAST(x[2] AS INT)
      |          THEN (x[1] - ((x[1] - acc[CAST(x[2] AS INT) + 3]
      |            + acc[1] + acc[2]) / 2) + c) / 2
      |          ELSE c END)
      |      )) END AS st
      |  FROM series
      |)
      |SELECT event_type, CAST(n_days AS INT) AS n_days,
      |  ROUND(st[1], 6) AS level,
      |  ROUND(st[2], 6) AS trend,
      |  CAST(n_days % 7 AS INT) AS next_idx,
      |  ROUND(st[1] + st[2] + st[CAST(n_days % 7 AS INT) + 3], 6)
      |    AS hw_forecast,
      |  ROUND(list_max(st[3:]) - list_min(st[3:]), 6) AS season_amplitude
      |FROM folded ORDER BY event_type""".stripMargin

  /** q242 — Markov conditional entropy (journey predictability): per
    * from-type, the Shannon entropy of the next-event distribution —
    * q92 gives the full transition matrix; this collapses each row to
    * ONE number ("after an error, what happens next is a coin flip:
    * 2.1 bits") plus the row's share of all transitions, so the
    * chain's overall predictability is the share-weighted sum. Low
    * entropy rows are the deterministic corridors funnels (q84)
    * should encode; high entropy rows are where journey prediction
    * models earn nothing.
    *
    * Exactness: the q215 aggregate-stable identity
    * H = log10(n) − Σ c·log10(c)/n with per-term 6dp rounds into a
    * DECIMAL(18,6) accumulator, one division by log10(2); the share
    * is an exact-count quotient. Scale: rides the single user-keyed
    * lead() shuffle q92 established; entropies aggregate over the
    * (types × types)-bounded transition relation.
    */
  def markovEntropy(spark: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(18, 6)
    val ev = Tables.load(spark, dir, "events").withColumn("ts_ms", tsMs("ts"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_ms"), col("event_id"))
    val pairs = ev
      .withColumn("to_type", lead(col("event_type"), 1).over(w))
      .filter(col("to_type").isNotNull)
      .select(col("event_type").as("from_type"), col("to_type"))
    val counts = pairs.groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("c"))
    val rows = counts.groupBy(col("from_type"))
      .agg(sum(col("c")).as("n"), count(lit(1)).as("n_next_types"),
        sum(round(col("c") * log10(col("c")), 6).cast(dec)).as("s"))
    val total = rows.agg(sum(col("n")).as("n_all"))
    rows.crossJoin(broadcast(total))
      .select(col("from_type"), col("n").as("n_transitions"),
        col("n_next_types"),
        round((log10(col("n")) - col("s").cast("double") / col("n"))
          / lit(0.30102999566398120), 6).as("entropy_bits"),
        round(col("n").cast("double") / col("n_all"), 6).as("share"))
      .orderBy(col("from_type"))
  }

  val markovEntropySql: String =
    """WITH pairs AS (
      |  SELECT event_type AS from_type,
      |    lead(event_type) OVER (PARTITION BY user_id
      |      ORDER BY epoch_ms(ts), event_id) AS to_type
      |  FROM events
      |), counts AS (
      |  SELECT from_type, to_type, COUNT(*) AS c
      |  FROM pairs WHERE to_type IS NOT NULL GROUP BY 1, 2
      |), rows_ AS (
      |  SELECT from_type, SUM(c) AS n, COUNT(*) AS n_next_types,
      |    SUM(CAST(ROUND(c * log10(c), 6) AS DECIMAL(18,6))) AS s
      |  FROM counts GROUP BY 1
      |), total AS (SELECT SUM(n) AS n_all FROM rows_)
      |SELECT from_type,
      |  CAST(n AS BIGINT) AS n_transitions,
      |  CAST(n_next_types AS BIGINT) AS n_next_types,
      |  ROUND((log10(n) - CAST(s AS DOUBLE) / n)
      |    / CAST(0.30102999566398120 AS DOUBLE), 6) AS entropy_bits,
      |  ROUND(CAST(n AS DOUBLE) / t.n_all, 6) AS share
      |FROM rows_, total t
      |ORDER BY from_type""".stripMargin

  /** q246 — entry/exit session analytics: per session ENTRY type (the
    * first event after a 30-minute silence), how many sessions start
    * there, how many bounce (single-event sessions), and the most
    * common EXIT type — landing/exit-page analytics, the
    * web-analytics staple q20's sessionizer feeds. High-bounce
    * entries are broken landing surfaces; entry→top-exit pairs are
    * the corridors q242's entropy scores.
    *
    * Determinism: entry and exit come from row_number over the
    * sessionizer's (ts_ms, event_id) total order; the top exit is a
    * counted rank with a (count desc, type asc) tiebreak (the q216
    * mode discipline — never the engines' pick-any mode()).
    *
    * Scale: rides q20's single user_id shuffle (the session window
    * and both row_numbers share one sort order); everything after
    * collapses to (entry, exit) cells bounded by |types|², then
    * |types| rows.
    */
  def entryExit(spark: SparkSession, dir: String,
                gapMinutes: Int = 30): DataFrame = {
    val ev = Tables.load(spark, dir, "events").withColumn("ts_ms", tsMs("ts"))
    val flagged = withSessionIds(ev, gapMinutes)
    val sessions = flagged
      .withColumn("rn_first", row_number().over(
        Window.partitionBy(col("user_id"), col("session_id"))
          .orderBy(col("ts_ms"), col("event_id"))))
      .withColumn("rn_last", row_number().over(
        Window.partitionBy(col("user_id"), col("session_id"))
          .orderBy(col("ts_ms").desc, col("event_id").desc)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(max(when(col("rn_first") === 1, col("event_type"))).as("entry_type"),
        max(when(col("rn_last") === 1, col("event_type"))).as("exit_type"),
        count(lit(1)).as("n_events"))
    val cells = sessions.groupBy(col("entry_type"), col("exit_type"))
      .agg(count(lit(1)).as("c"),
        sum((col("n_events") === 1).cast("long")).as("c_bounce"))
    val wEntry = Window.partitionBy(col("entry_type"))
      .orderBy(col("c").desc, col("exit_type"))
    cells
      .withColumn("rk", row_number().over(wEntry))
      .groupBy(col("entry_type"))
      .agg(sum(col("c")).as("n_sessions"),
        sum(col("c_bounce")).as("n_bounce"),
        max(when(col("rk") === 1, col("exit_type"))).as("top_exit"),
        max(when(col("rk") === 1, col("c"))).as("top_exit_n"))
      .select(col("entry_type"), col("n_sessions"), col("n_bounce"),
        round(col("n_bounce").cast("double") / col("n_sessions"), 6)
          .as("bounce_rate"),
        col("top_exit"),
        round(col("top_exit_n").cast("double") / col("n_sessions"), 6)
          .as("top_exit_share"))
      .orderBy(col("entry_type"))
  }

  /** q257 — repeat-purchase profile: for users with a SECOND
    * purchase, the gap between purchase 1 and 2 banded into
    * operational buckets (same-day / week / month / longer), with the
    * band's user share, the average second-basket value and the
    * average value uplift vs the first basket — the habit-formation
    * readout q144's signup→purchase latency stops short of (q144
    * measures activation; this measures whether the SECOND visit
    * happens and what it's worth).
    *
    * Exactness: gaps are integer ms differences banded by integer
    * thresholds; value means are decimal sums over exact counts, one
    * rounded division each. Scale: one user_id shuffle (the purchase
    * rank window), then a 4-row band aggregate with a 1-row total
    * broadcast back.
    */
  def repeatPurchaseProfile(spark: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(18, 6)
    val day = 86400000L
    val p = Tables.load(spark, dir, "events")
      .filter(col("event_type") === "purchase")
      .withColumn("ts_ms", tsMs("ts"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_ms"), col("event_id"))
    val firstTwo = p.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 2)
      .groupBy(col("user_id"))
      .agg(max(when(col("rn") === 1, col("ts_ms"))).as("t1"),
        max(when(col("rn") === 2, col("ts_ms"))).as("t2"),
        max(when(col("rn") === 1, col("value"))).as("v1"),
        max(when(col("rn") === 2, col("value"))).as("v2"))
      .filter(col("t2").isNotNull)
      .withColumn("gap_ms", col("t2") - col("t1"))
      .withColumn("band",
        when(col("gap_ms") < day, "1_same_day")
          .when(col("gap_ms") < 7 * day, "2_within_week")
          .when(col("gap_ms") < 30 * day, "3_within_month")
          .otherwise("4_longer"))
    val bands = firstTwo.groupBy(col("band"))
      .agg(count(lit(1)).as("n_users"),
        sum(round(col("v2"), 6).cast(dec)).as("sv2"),
        sum(round(col("v2") - col("v1"), 6).cast(dec)).as("suplift"))
    val total = bands.agg(sum(col("n_users")).as("n_repeat"))
    bands.crossJoin(broadcast(total))
      .select(col("band"), col("n_users"),
        round(col("n_users").cast("double") / col("n_repeat"), 6).as("share"),
        round(col("sv2").cast("double") / col("n_users"), 6)
          .as("avg_second_value"),
        round(col("suplift").cast("double") / col("n_users"), 6)
          .as("avg_uplift"))
      .orderBy(col("band"))
  }

  val repeatPurchaseProfileSql: String =
    """WITH p AS (
      |  SELECT user_id, epoch_ms(ts) AS ts_ms, value, event_id
      |  FROM events WHERE event_type = 'purchase'
      |), ranked AS (
      |  SELECT user_id, ts_ms, value,
      |    ROW_NUMBER() OVER (PARTITION BY user_id
      |      ORDER BY ts_ms, event_id) AS rn
      |  FROM p
      |), firsts AS (
      |  SELECT user_id,
      |    MAX(CASE WHEN rn = 1 THEN ts_ms END) AS t1,
      |    MAX(CASE WHEN rn = 2 THEN ts_ms END) AS t2,
      |    MAX(CASE WHEN rn = 1 THEN value END) AS v1,
      |    MAX(CASE WHEN rn = 2 THEN value END) AS v2
      |  FROM ranked WHERE rn <= 2 GROUP BY user_id
      |), gapped AS (
      |  SELECT *, t2 - t1 AS gap_ms,
      |    CASE WHEN t2 - t1 < 86400000 THEN '1_same_day'
      |         WHEN t2 - t1 < 7 * CAST(86400000 AS BIGINT) THEN '2_within_week'
      |         WHEN t2 - t1 < 30 * CAST(86400000 AS BIGINT) THEN '3_within_month'
      |         ELSE '4_longer' END AS band
      |  FROM firsts WHERE t2 IS NOT NULL
      |), bands AS (
      |  SELECT band, COUNT(*) AS n_users,
      |    SUM(CAST(ROUND(v2, 6) AS DECIMAL(18,6))) AS sv2,
      |    SUM(CAST(ROUND(v2 - v1, 6) AS DECIMAL(18,6))) AS suplift
      |  FROM gapped GROUP BY band
      |), total AS (SELECT SUM(n_users) AS n_repeat FROM bands)
      |SELECT band, CAST(n_users AS BIGINT) AS n_users,
      |  ROUND(CAST(n_users AS DOUBLE) / t.n_repeat, 6) AS share,
      |  ROUND(CAST(sv2 AS DOUBLE) / n_users, 6) AS avg_second_value,
      |  ROUND(CAST(suplift AS DOUBLE) / n_users, 6) AS avg_uplift
      |FROM bands, total t
      |ORDER BY band""".stripMargin

  def entryExitSql(gapMinutes: Int = 30): String = {
    s"""WITH ${sessionFlagsCte(gapMinutes)}, sess AS (
      |  SELECT user_id, event_id, event_type, ts_ms,
      |    SUM(new_session) OVER (PARTITION BY user_id
      |      ORDER BY ts_ms, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |  FROM flagged
      |), picked AS (
      |  SELECT user_id, session_id, event_type,
      |    ROW_NUMBER() OVER (PARTITION BY user_id, session_id
      |      ORDER BY ts_ms, event_id) AS rn_first,
      |    ROW_NUMBER() OVER (PARTITION BY user_id, session_id
      |      ORDER BY ts_ms DESC, event_id DESC) AS rn_last
      |  FROM sess
      |), sessions AS (
      |  SELECT user_id, session_id,
      |    MAX(CASE WHEN rn_first = 1 THEN event_type END) AS entry_type,
      |    MAX(CASE WHEN rn_last = 1 THEN event_type END) AS exit_type,
      |    COUNT(*) AS n_events
      |  FROM picked GROUP BY 1, 2
      |), cells AS (
      |  SELECT entry_type, exit_type, COUNT(*) AS c,
      |    SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS c_bounce
      |  FROM sessions GROUP BY 1, 2
      |), ranked AS (
      |  SELECT entry_type, exit_type, c, c_bounce,
      |    ROW_NUMBER() OVER (PARTITION BY entry_type
      |      ORDER BY c DESC, exit_type) AS rk
      |  FROM cells
      |)
      |SELECT entry_type,
      |  CAST(SUM(c) AS BIGINT) AS n_sessions,
      |  CAST(SUM(c_bounce) AS BIGINT) AS n_bounce,
      |  ROUND(CAST(SUM(c_bounce) AS DOUBLE) / SUM(c), 6) AS bounce_rate,
      |  MAX(CASE WHEN rk = 1 THEN exit_type END) AS top_exit,
      |  ROUND(CAST(MAX(CASE WHEN rk = 1 THEN c END) AS DOUBLE) / SUM(c), 6)
      |    AS top_exit_share
      |FROM ranked GROUP BY entry_type
      |ORDER BY entry_type""".stripMargin
  }

  /** q289 — growth accounting of daily active users: every active
    * (user, day) cell classified as NEW (first-ever day), RETAINED
    * (also active yesterday) or RESURRECTED (seen before, not
    * yesterday), with yesterday's non-returners attributed as
    * today's CHURNED — the standard DAU ledger where
    * new + resurrected − churned = ΔDAU by construction. q83's
    * cohort triangle shows decay per cohort; this is the single
    * time-series decomposition a growth dashboard leads with.
    *
    * Exactness: pure integer counts over the distinct (user, day)
    * relation — self-equi-joins on (user, day±1), one min-window for
    * first-days, no doubles anywhere. Scale: one distinct on the
    * activity grain (the big shuffle), then user-keyed equi-joins
    * that reuse its partitioning; output is |days| rows.
    */
  def growthAccounting(spark: SparkSession, dir: String): DataFrame = {
    val uw = graft.Iterate.cut(Tables.load(spark, dir, "events")
      .select(col("user_id"), epochDayExpr.as("day")).distinct())
    val firsts = uw.groupBy(col("user_id")).agg(min(col("day")).as("first_day"))
    val flags = uw
      .join(firsts, "user_id")
      .join(uw.select(col("user_id"), (col("day") + 1).as("day"),
        lit(1L).as("was_prev")), Seq("user_id", "day"), "left")
      .select(col("day"),
        (col("first_day") === col("day")).cast("long").as("is_new"),
        coalesce(col("was_prev"), lit(0L)).as("was_prev"))
    val act = flags.groupBy(col("day"))
      .agg(count(lit(1)).as("n_active"),
        sum(col("is_new")).as("n_new"),
        sum(col("was_prev")).as("n_retained"),
        sum(when(col("is_new") === 0 && col("was_prev") === 0, 1L)
          .otherwise(0L)).as("n_resurrected"))
    val churn = uw.as("c")
      .join(uw.select(col("user_id"), (col("day") - 1).as("day"),
        lit(1).as("nx")), Seq("user_id", "day"), "left_anti")
      .groupBy((col("day") + 1).as("day"))
      .agg(count(lit(1)).as("n_churned"))
    act.join(churn, Seq("day"), "left")
      .select(col("day"), col("n_active"), col("n_new"), col("n_retained"),
        col("n_resurrected"), coalesce(col("n_churned"), lit(0L)).as("n_churned"))
      .orderBy(col("day"))
  }

  val growthAccountingSql: String =
    """WITH uw AS (
      |  SELECT DISTINCT user_id, epoch_ms(ts) // 86400000 AS day FROM events
      |), firsts AS (
      |  SELECT user_id, MIN(day) AS first_day FROM uw GROUP BY user_id
      |), flags AS (
      |  SELECT c.day,
      |    CASE WHEN f.first_day = c.day THEN 1 ELSE 0 END AS is_new,
      |    CASE WHEN p.user_id IS NOT NULL THEN 1 ELSE 0 END AS was_prev
      |  FROM uw c
      |  JOIN firsts f ON f.user_id = c.user_id
      |  LEFT JOIN uw p ON p.user_id = c.user_id AND p.day = c.day - 1
      |), act AS (
      |  SELECT day, COUNT(*) AS n_active, SUM(is_new) AS n_new,
      |    SUM(was_prev) AS n_retained,
      |    SUM(CASE WHEN is_new = 0 AND was_prev = 0 THEN 1 ELSE 0 END)
      |      AS n_resurrected
      |  FROM flags GROUP BY day
      |), churn AS (
      |  SELECT c.day + 1 AS day, COUNT(*) AS n_churned
      |  FROM uw c LEFT JOIN uw nx
      |    ON nx.user_id = c.user_id AND nx.day = c.day + 1
      |  WHERE nx.user_id IS NULL
      |  GROUP BY c.day + 1
      |)
      |SELECT a.day, CAST(a.n_active AS BIGINT) AS n_active,
      |  CAST(a.n_new AS BIGINT) AS n_new,
      |  CAST(a.n_retained AS BIGINT) AS n_retained,
      |  CAST(a.n_resurrected AS BIGINT) AS n_resurrected,
      |  CAST(COALESCE(ch.n_churned, 0) AS BIGINT) AS n_churned
      |FROM act a LEFT JOIN churn ch ON ch.day = a.day
      |ORDER BY a.day""".stripMargin

  /** q285 — Rayleigh test of time-of-day clustering per event type:
    * are events uniformly spread around the 24 h clock, or do they
    * concentrate at a preferred hour? CIRCULAR statistics — a linear
    * mean of "hour" is meaningless across midnight (23:00 and 01:00
    * average to noon); the resultant vector R = |Σe^{iθ}|/n with
    * θ = 2π·(ms-of-day)/86400000 handles the wrap, Rayleigh's
    * z = nR² is the uniformity test, and atan2 recovers the mean
    * direction as an hour. Complements q145's day-of-week profile
    * (discrete buckets) with the continuous within-day shape.
    *
    * Exactness: per-event cos/sin terms are 6dp-rounded into
    * DECIMAL(18,6) accumulators (order-independent — the q151/q270
    * aggregate-stable convention; libm sin/cos agree to ~1 ulp, 10
    * orders below the 6dp grain); the 2π and 24/2π constants are
    * spelled as identical double literals on both engines; the final
    * R/z/hour chains are fixed-order doubles. Scale: one narrow map
    * + one |types|-row aggregate — map-side combinable, nothing else.
    */
  def rayleighTimeOfDay(spark: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(18, 6)
    val twoPi = 6.283185307179586
    val ev = Tables.load(spark, dir, "events")
      .withColumn("ms_day", pmod(tsMs("ts"), lit(86400000L)))
      .withColumn("theta", lit(twoPi) * col("ms_day") / 86400000.0)
    ev.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(round(cos(col("theta")), 6).cast(dec)).cast("double").as("c"),
        sum(round(sin(col("theta")), 6).cast(dec)).cast("double").as("s"))
      .select(col("event_type"), col("n"),
        round(sqrt(col("c") * col("c") + col("s") * col("s")) / col("n"), 6)
          .as("resultant_r"),
        round((col("c") * col("c") + col("s") * col("s")) / col("n"), 6)
          .as("rayleigh_z"),
        round(((atan2(col("s"), col("c")) + twoPi) % twoPi) *
          (24.0 / twoPi), 6).as("mean_hour"))
      .orderBy(col("event_type"))
  }

  val rayleighTimeOfDaySql: String =
    """WITH e AS (
      |  SELECT event_type,
      |    6.283185307179586 * (epoch_ms(ts) % 86400000) / 86400000.0
      |      AS theta
      |  FROM events
      |), agg AS (
      |  SELECT event_type, COUNT(*) AS n,
      |    CAST(SUM(CAST(ROUND(cos(theta), 6) AS DECIMAL(18,6))) AS DOUBLE)
      |      AS c,
      |    CAST(SUM(CAST(ROUND(sin(theta), 6) AS DECIMAL(18,6))) AS DOUBLE)
      |      AS s
      |  FROM e GROUP BY event_type
      |)
      |SELECT event_type, CAST(n AS BIGINT) AS n,
      |  ROUND(sqrt(c * c + s * s) / n, 6) AS resultant_r,
      |  ROUND((c * c + s * s) / n, 6) AS rayleigh_z,
      |  ROUND(((atan2(s, c) + 6.283185307179586) % 6.283185307179586)
      |    * (24.0 / 6.283185307179586), 6) AS mean_hour
      |FROM agg ORDER BY event_type""".stripMargin

  /** q271 — Friedman test of event-type volume consistency across
    * days: blocks = days, treatments = event types; within each day
    * the k types are ranked by volume, and the test asks whether the
    * rank ORDER is stable day over day ("views always outrank
    * purchases") or shuffles freely. The repeated-measures complement
    * of q269's one-way Kruskal–Wallis — the blocked design removes
    * the day-level volume trend the KW pooling would smear in. Also
    * emits Kendall's W = χ²/(n(k−1)), the 0..1 concordance readout.
    *
    * Exactness: FULLY exact, no per-step rounding at all — within-day
    * midranks are kept DOUBLED (2r = 2·rank + ties − 1, the q238
    * convention), and with doubled ranks the tie-corrected statistic
    * collapses to a pure integer ratio:
    * χ² = (k−1)·Σ_j(R′_j − n(k+1))² / (A′ − nk(k+1)²), where R′_j is
    * the doubled rank sum and A′ = ΣΣ(2r)² — both exact BIGINTs. One
    * double division, rounded 6dp. The day×type grid is DENSIFIED
    * (zero-volume cells rank lowest) so every block has all k
    * treatments.
    *
    * Scale: one (type, day) aggregate, a |days|-partitioned rank
    * window over the k·|days| grid, then catalog-sized algebra.
    */
  def friedmanTest(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.load(spark, dir, "events")
      .groupBy(col("event_type"), epochDayExpr.as("day"))
      .agg(count(lit(1)).as("cnt"))
    val types = daily.select(col("event_type")).distinct()
    val days = daily.select(col("day")).distinct()
    val dense = types.crossJoin(days)
      .join(daily, Seq("event_type", "day"), "left")
      .withColumn("cnt", coalesce(col("cnt"), lit(0L)))
    val wRank = Window.partitionBy(col("day")).orderBy(col("cnt"))
    val wTies = Window.partitionBy(col("day"), col("cnt"))
    val ranked = dense.withColumn("dr",
      (lit(2) * rank().over(wRank) + count(lit(1)).over(wTies) - 1)
        .cast("long"))
    val perType = ranked.groupBy(col("event_type"))
      .agg(sum(col("dr")).as("r2"), sum(col("dr") * col("dr")).as("a2"),
        count(lit(1)).as("nd"))
    val globals = perType.agg(count(lit(1)).as("k"), max(col("nd")).as("n"),
      sum(col("a2")).as("a_all"))
    perType.crossJoin(broadcast(globals))
      .agg(max(col("k")).cast("int").as("k"),
        max(col("n")).cast("long").as("n_days"),
        round((max(col("k")) - 1).cast("double") *
          sum((col("r2") - col("n") * (col("k") + 1)) *
            (col("r2") - col("n") * (col("k") + 1))).cast("double") /
          nullif((max(col("a_all")) - max(col("n")) * max(col("k")) *
            (max(col("k")) + 1) * (max(col("k")) + 1)).cast("double"),
            lit(0.0)), 6).as("chi2_f"),
        round(((max(col("k")) - 1).cast("double") *
          sum((col("r2") - col("n") * (col("k") + 1)) *
            (col("r2") - col("n") * (col("k") + 1))).cast("double") /
          nullif((max(col("a_all")) - max(col("n")) * max(col("k")) *
            (max(col("k")) + 1) * (max(col("k")) + 1)).cast("double"),
            lit(0.0))) /
          (max(col("n")) * (max(col("k")) - 1)).cast("double"), 6)
          .as("kendall_w"))
  }

  val friedmanTestSql: String =
    """WITH daily AS (
      |  SELECT event_type, epoch_ms(ts) // 86400000 AS day,
      |    COUNT(*) AS cnt
      |  FROM events GROUP BY 1, 2
      |), dense AS (
      |  SELECT t.event_type, d.day, COALESCE(x.cnt, 0) AS cnt
      |  FROM (SELECT DISTINCT event_type FROM daily) t
      |  CROSS JOIN (SELECT DISTINCT day FROM daily) d
      |  LEFT JOIN daily x ON x.event_type = t.event_type AND x.day = d.day
      |), ranked AS (
      |  SELECT event_type,
      |    2 * RANK() OVER (PARTITION BY day ORDER BY cnt)
      |      + COUNT(*) OVER (PARTITION BY day, cnt) - 1 AS dr
      |  FROM dense
      |), per_type AS (
      |  SELECT event_type, SUM(dr) AS r2, SUM(dr * dr) AS a2,
      |    COUNT(*) AS nd
      |  FROM ranked GROUP BY event_type
      |), globals AS (
      |  SELECT COUNT(*) AS k, MAX(nd) AS n, SUM(a2) AS a_all FROM per_type
      |)
      |SELECT CAST(MAX(g.k) AS INT) AS k,
      |  CAST(MAX(g.n) AS BIGINT) AS n_days,
      |  ROUND(CAST(MAX(g.k) - 1 AS DOUBLE)
      |      * CAST(SUM((r2 - g.n * (g.k + 1)) * (r2 - g.n * (g.k + 1)))
      |        AS DOUBLE)
      |    / NULLIF(CAST(MAX(g.a_all) - MAX(g.n) * MAX(g.k) * (MAX(g.k) + 1)
      |        * (MAX(g.k) + 1) AS DOUBLE), 0.0), 6) AS chi2_f,
      |  ROUND((CAST(MAX(g.k) - 1 AS DOUBLE)
      |      * CAST(SUM((r2 - g.n * (g.k + 1)) * (r2 - g.n * (g.k + 1)))
      |        AS DOUBLE)
      |    / NULLIF(CAST(MAX(g.a_all) - MAX(g.n) * MAX(g.k) * (MAX(g.k) + 1)
      |        * (MAX(g.k) + 1) AS DOUBLE), 0.0))
      |    / CAST(MAX(g.n) * (MAX(g.k) - 1) AS DOUBLE), 6) AS kendall_w
      |FROM per_type, globals g""".stripMargin

  /** q294 — watermark tuning table: for each candidate watermark
    * delay, the events a streaming job with that watermark would drop
    * as TOO LATE — measured on the batch history BEFORE committing a
    * 100 TB streaming pipeline to one delay (the q227
    * threshold-curve idea applied to event-time lateness). The test
    * tables carry no ingest timestamp (event_id order IS event-time
    * order — a perfectly in-order log on which every watermark is
    * free), so arrival is MODELED: each event arrives at its event
    * time plus a deterministic md5-derived transport jitter in
    * [0, jitterMs) — the standard replay harness when the log lacks
    * arrival times; with real arrival timestamps the jitter column
    * swaps out and everything downstream is unchanged. An event's
    * lateness is the high-watermark at its arrival (running max event
    * time over everything that arrived earlier, per event_type
    * stream) minus its own event time; a delay `d` drops the events
    * with lateness > d. Lateness is exact integer milliseconds; the
    * fraction is the only rounded column.
    *
    * Scale: one window pass ordered by arrival within each
    * event_type stream (the same per-source-partition watermark
    * Structured Streaming tracks — parallel across streams), then a
    * literal-grid explode and a grid-sized aggregate. Nothing
    * event²-sized.
    */
  def watermarkTuning(spark: SparkSession, dir: String,
                      delaysMin: Seq[Int] = Seq(0, 1, 5, 15, 60),
                      jitterMs: Long = 600000L): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
      .select(col("event_type"), col("event_id"),
        expr("unix_micros(ts) div 1000").as("ms"))
      .withColumn("arrival_ms", col("ms") +
        pmod(graft.functions.PortableHash.md5Long32(col("event_id")),
          lit(jitterMs)))
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("arrival_ms"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val late = ev
      .withColumn("hwm", max(col("ms")).over(w))
      .withColumn("late_ms",
        greatest(coalesce(col("hwm") - col("ms"), lit(0L)), lit(0L)))
    late
      .select(col("*"),
        explode(lit(delaysMin.toArray)).as("delay_min"))
      .groupBy(col("event_type"), col("delay_min"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("late_ms") > col("delay_min") * 60000L, 1L)
          .otherwise(0L)).as("n_dropped"),
        max(col("late_ms")).as("max_late_ms"))
      .withColumn("frac_dropped",
        round(col("n_dropped").cast("double") / col("n_events"), 6))
      .orderBy(col("event_type"), col("delay_min"))
  }

  def watermarkTuningSql(delaysMin: Seq[Int] = Seq(0, 1, 5, 15, 60),
                         jitterMs: Long = 600000L): String =
    s"""WITH ev AS (
       |  SELECT event_type, event_id, epoch_ms(ts) AS ms,
       |    epoch_ms(ts) + CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)),
       |      1, 8)) AS BIGINT) % $jitterMs AS arrival_ms
       |  FROM events
       |), late AS (
       |  SELECT event_type, event_id, ms,
       |    GREATEST(COALESCE(MAX(ms) OVER (PARTITION BY event_type
       |      ORDER BY arrival_ms, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) - ms,
       |      0), 0) AS late_ms
       |  FROM ev
       |)
       |SELECT event_type, delay_min,
       |  CAST(COUNT(*) AS BIGINT) AS n_events,
       |  CAST(SUM(CASE WHEN late_ms > delay_min * 60000 THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_dropped,
       |  CAST(MAX(late_ms) AS BIGINT) AS max_late_ms,
       |  ROUND(SUM(CASE WHEN late_ms > delay_min * 60000 THEN 1 ELSE 0 END)
       |    / COUNT(*), 6) AS frac_dropped
       |FROM late, (SELECT unnest([${delaysMin.mkString(", ")}])
       |  AS delay_min)
       |GROUP BY 1, 2
       |ORDER BY event_type, delay_min""".stripMargin

  /** q293 — Mann–Kendall trend TEST per event type: the hypothesis
    * test q217's Theil–Sen estimator lacks (a slope without a test
    * invites reading noise as trend). S = Σ_{i<j} sign(v_j − v_i)
    * over the daily value series — an EXACT integer both engines
    * agree on — with the tie-corrected variance
    * Var(S) = [n(n−1)(2n+5) − Σ_g t_g(t_g−1)(2t_g+5)] / 18 carried as
    * its exact integer numerator (`var_num`), and the standard
    * continuity-corrected z = (S∓1)/√(var_num/18). Only z is a
    * rounded double; the verdict column applies the two-sided 5%
    * normal cut (|z| > 1.96).
    *
    * Scale: identical posture to q217 — the pair join is over the
    * DAILY table (calendar-sized, co-partitioned on event_type,
    * n(n−1)/2 sign rows per type), the tie term is one value-keyed
    * aggregate; nothing event-sized is joined.
    */
  def mannKendall(spark: SparkSession, dir: String): DataFrame = {
    val daily = dailyValues(spark, dir)
    val s = daily.as("a").join(daily.as("b"),
        col("a.event_type") === col("b.event_type") &&
          col("a.day") < col("b.day"))
      .groupBy(col("a.event_type").as("event_type"))
      .agg(sum(when(col("b.v") > col("a.v"), 1L)
        .when(col("b.v") < col("a.v"), -1L).otherwise(0L)).as("s_stat"))
    val n = daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"))
    val ties = daily.groupBy(col("event_type"), col("v"))
      .agg(count(lit(1)).as("t"))
      .groupBy(col("event_type"))
      .agg(sum(col("t") * (col("t") - 1) * (lit(2) * col("t") + 5))
        .as("tie_term"))
    s.join(n, "event_type").join(ties, "event_type")
      .withColumn("var_num",
        col("n_days") * (col("n_days") - 1) * (lit(2) * col("n_days") + 5)
          - col("tie_term"))
      .withColumn("z", round(
        when(col("s_stat") > 0,
          (col("s_stat") - 1).cast("double") /
            sqrt(col("var_num").cast("double") / 18.0))
          .when(col("s_stat") < 0,
            (col("s_stat") + 1).cast("double") /
              sqrt(col("var_num").cast("double") / 18.0))
          .otherwise(lit(0.0)), 6))
      .select(col("event_type"), col("n_days"), col("s_stat"),
        col("var_num"), col("z"),
        when(col("z") > 1.96, "increasing")
          .when(col("z") < -1.96, "decreasing")
          .otherwise("no_trend").as("trend"))
      .orderBy(col("event_type"))
  }

  val mannKendallSql: String =
    s"""WITH $dailyValuesCte, s AS (
      |  SELECT a.event_type,
      |    CAST(SUM(CASE WHEN b.v > a.v THEN 1
      |                  WHEN b.v < a.v THEN -1 ELSE 0 END) AS BIGINT)
      |      AS s_stat
      |  FROM daily a JOIN daily b
      |    ON a.event_type = b.event_type AND a.day < b.day
      |  GROUP BY 1
      |), n AS (
      |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days
      |  FROM daily GROUP BY 1
      |), ties AS (
      |  SELECT event_type,
      |    CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term
      |  FROM (SELECT event_type, v, COUNT(*) AS t
      |        FROM daily GROUP BY 1, 2)
      |  GROUP BY 1
      |), m AS (
      |  SELECT s.event_type, n.n_days, s.s_stat,
      |    n.n_days * (n.n_days - 1) * (2 * n.n_days + 5) - ties.tie_term
      |      AS var_num
      |  FROM s JOIN n USING (event_type) JOIN ties USING (event_type)
      |), z AS (
      |  SELECT event_type, n_days, s_stat, CAST(var_num AS BIGINT) AS var_num,
      |    ROUND(CASE
      |      WHEN s_stat > 0 THEN (s_stat - 1) / sqrt(var_num / 18.0)
      |      WHEN s_stat < 0 THEN (s_stat + 1) / sqrt(var_num / 18.0)
      |      ELSE 0.0 END, 6) AS z
      |  FROM m
      |)
      |SELECT event_type, n_days, s_stat, var_num, z,
      |  CASE WHEN z > 1.96 THEN 'increasing'
      |       WHEN z < -1.96 THEN 'decreasing'
      |       ELSE 'no_trend' END AS trend
      |FROM z ORDER BY event_type""".stripMargin

  /** q364 — two-sided tabular CUSUM chart (Page 1954) per event type:
    * the change-DETECTION complement to q173's EWMA (which tracks
    * slow drift) and q161's offline changepoints (which need the
    * whole series) — CUSUM accumulates small persistent shifts that
    * no single-day screen fires on, the standard monitor for "the
    * feed quietly degraded 5% three weeks ago". Per type: daily
    * totals v_t against the series mean μ with allowance k = d/2
    * (d = mean absolute deviation, the robust σ stand-in the q121
    * precedent uses), S⁺_t = max(0, S⁺_{t−1} + v_t − μ − k),
    * S⁻_t = max(0, S⁻_{t−1} + μ − v_t − k), alert when either side
    * crosses h = 5d.
    *
    * Exactness: the whole recurrence runs in the q173 scaled-integer
    * convention — daily totals are exact micro-units
    * (Σvalue·1e6 → BIGINT), μ and d are integer floor-divisions both
    * engines execute identically (all dividends non-negative, so
    * Spark `div` truncation == DuckDB `//` floor), and max(0, ·) on
    * BIGINTs has no rounding anywhere. Spark folds the day-sorted
    * series per type with the `aggregate` HOF; DuckDB runs the same
    * recurrence as a recursive CTE.
    *
    * Scale: one (type, day) aggregate with map-side combine, two
    * calendar-sized stat aggregates, one per-type fold over a
    * days-long array — the same envelope as q173/q258. At 100 TB the
    * raw-event aggregate is the only full-data pass.
    */
  def cusumChart(spark: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(18, 6)
    val daily = Tables.load(spark, dir, "events")
      .groupBy(col("event_type"), epochDayExpr.as("day"))
      .agg((sum(col("value").cast(dec)) * 1000000).cast("long").as("v_e6"))
    val st1 = daily.groupBy(col("event_type"))
      .agg(sum(col("v_e6")).as("sv"), count(lit(1)).as("nd"))
      .withColumn("mu_e6", expr("sv div nd"))
      .select(col("event_type"), col("mu_e6"))
    val st2 = daily.join(broadcast(st1), "event_type")
      .groupBy(col("event_type"))
      .agg(sum(abs(col("v_e6") - col("mu_e6"))).as("sad"),
        count(lit(1)).as("nd"))
      .withColumn("d_e6", expr("sad div nd"))
      .select(col("event_type"), col("d_e6"))
    daily.groupBy(col("event_type"))
      .agg(array_sort(collect_list(struct(col("day"), col("v_e6")))).as("dv"))
      .join(broadcast(st1), "event_type")
      .join(broadcast(st2), "event_type")
      .select(col("event_type"), col("d_e6"), explode(expr(
        """aggregate(
          |  slice(dv, 2, size(dv) - 1),
          |  array(named_struct(
          |    'day', dv[0].day, 'v_e6', dv[0].v_e6,
          |    's_hi', greatest(CAST(0 AS BIGINT),
          |      dv[0].v_e6 - mu_e6 - d_e6 div 2),
          |    's_lo', greatest(CAST(0 AS BIGINT),
          |      mu_e6 - dv[0].v_e6 - d_e6 div 2))),
          |  (acc, x) -> acc || array(named_struct(
          |    'day', x.day, 'v_e6', x.v_e6,
          |    's_hi', greatest(CAST(0 AS BIGINT),
          |      element_at(acc, -1).s_hi + x.v_e6 - mu_e6 - d_e6 div 2),
          |    's_lo', greatest(CAST(0 AS BIGINT),
          |      element_at(acc, -1).s_lo + mu_e6 - x.v_e6 - d_e6 div 2))))"""
          .stripMargin)).as("r"))
      .select(col("event_type"), col("r.day").as("day"),
        round(col("r.v_e6").cast("double") / 1000000, 6).as("v"),
        round(col("r.s_hi").cast("double") / 1000000, 6).as("s_hi"),
        round(col("r.s_lo").cast("double") / 1000000, 6).as("s_lo"),
        (col("r.s_hi") > col("d_e6") * 5 ||
          col("r.s_lo") > col("d_e6") * 5).cast("int").as("is_alert"))
      .orderBy(col("event_type"), col("day"))
  }

  val cusumChartSql: String =
    s"""WITH RECURSIVE $dailyMicrosCte, st1 AS (
      |  SELECT event_type, SUM(v_e6) // COUNT(*) AS mu_e6
      |  FROM daily GROUP BY 1
      |), st2 AS (
      |  SELECT event_type, sad // nd AS d_e6 FROM (
      |    SELECT d.event_type, SUM(ABS(d.v_e6 - s.mu_e6)) AS sad,
      |      COUNT(*) AS nd
      |    FROM daily d JOIN st1 s USING (event_type) GROUP BY 1)
      |), ranked AS (
      |  SELECT d.event_type, d.day, d.v_e6, s1.mu_e6, s2.d_e6,
      |    row_number() OVER (PARTITION BY d.event_type ORDER BY d.day) AS rn
      |  FROM daily d JOIN st1 s1 USING (event_type)
      |    JOIN st2 s2 USING (event_type)
      |), rec AS (
      |  SELECT event_type, day, rn, v_e6, mu_e6, d_e6,
      |    GREATEST(CAST(0 AS BIGINT), v_e6 - mu_e6 - d_e6 // 2) AS s_hi,
      |    GREATEST(CAST(0 AS BIGINT), mu_e6 - v_e6 - d_e6 // 2) AS s_lo
      |  FROM ranked WHERE rn = 1
      |  UNION ALL
      |  SELECT n.event_type, n.day, n.rn, n.v_e6, n.mu_e6, n.d_e6,
      |    GREATEST(CAST(0 AS BIGINT),
      |      p.s_hi + n.v_e6 - n.mu_e6 - n.d_e6 // 2),
      |    GREATEST(CAST(0 AS BIGINT),
      |      p.s_lo + n.mu_e6 - n.v_e6 - n.d_e6 // 2)
      |  FROM ranked n JOIN rec p
      |    ON n.event_type = p.event_type AND n.rn = p.rn + 1
      |)
      |SELECT event_type, day,
      |  ROUND(CAST(v_e6 AS DOUBLE) / 1000000, 6) AS v,
      |  ROUND(CAST(s_hi AS DOUBLE) / 1000000, 6) AS s_hi,
      |  ROUND(CAST(s_lo AS DOUBLE) / 1000000, 6) AS s_lo,
      |  CAST(s_hi > d_e6 * 5 OR s_lo > d_e6 * 5 AS INT) AS is_alert
      |FROM rec
      |ORDER BY event_type, day""".stripMargin

  /** q369 — quantile-forecast backtest under pinball loss: per event
    * type, each day's value is forecast by the trailing-28-day
    * empirical quantile (type-1 / lower order statistic — an integer
    * rank pick, no interpolation) at q ∈ {0.5, 0.9}, scored by the
    * pinball (quantile) loss the forecasting literature grades
    * quantile models with, plus empirical coverage (share of days the
    * forecast was not exceeded — a calibrated q-quantile covers ≈ q).
    * q222 backtests POINT forecasts with MASE; capacity planning and
    * anomaly thresholds consume QUANTILES, and this is their honesty
    * check.
    *
    * Exactness: daily totals are decimal-summed shared doubles on the
    * dense calendar spine (q258's densification — "28 trailing days"
    * must mean calendar days, not observations); the rank pick is an
    * integer element_at off the sorted frame list; each pinball term
    * rounds at 6dp before its DECIMAL(28,6) sum; means/coverages are
    * single rounded divisions.
    *
    * Scale: one (type, day) aggregate, a calendar-bounded spine, one
    * type-partitioned day-ordered window carrying a 28-element frame
    * list, a ×|quantiles| explode of the calendar-sized frame, one
    * aggregate. Nothing after the first shuffle exceeds calendar size.
    */
  def pinballBacktest(spark: SparkSession, dir: String, window: Int = 28,
                      quantiles: Seq[Double] = Seq(0.5, 0.9)): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(28, 6)
    val daily = dailyValues(spark, dir)
    val bounds = daily.groupBy(col("event_type"))
      .agg(min(col("day")).as("mn"), max(col("day")).as("mx"))
    val spine = bounds.select(col("event_type"),
      explode(sequence(col("mn"), col("mx"))).as("day"))
    val dense = spine.join(daily, Seq("event_type", "day"), "left")
      .withColumn("v", coalesce(col("v"), lit(0.0)))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(-window, -1)
    val hist = dense
      .withColumn("hist", collect_list(col("v")).over(w))
      .filter(size(col("hist")) === window)
      .withColumn("sorted", sort_array(col("hist")))
    val qf = quantiles.map { q =>
      val idx = math.ceil(q * window).toInt
      struct(lit(q).as("q"), element_at(col("sorted"), idx).as("f"))
    }
    hist.select(col("event_type"), col("v"),
        explode(array(qf: _*)).as("qf"))
      .select(col("event_type"), col("qf.q").as("quantile"), col("v"),
        col("qf.f").as("f"))
      .groupBy(col("event_type"), col("quantile"))
      .agg(count(lit(1)).as("n_days"),
        sum(round(greatest(col("quantile") * (col("v") - col("f")),
            (col("quantile") - 1) * (col("v") - col("f"))), 6).cast(dec))
          .cast("double").as("sl"),
        sum((col("v") <= col("f")).cast("long")).as("nc"))
      .select(col("event_type"), col("quantile"), col("n_days"),
        round(col("sl") / col("n_days").cast("double"), 6)
          .as("mean_pinball"),
        round(col("nc").cast("double") / col("n_days").cast("double"), 6)
          .as("coverage"))
      .orderBy(col("event_type"), col("quantile"))
  }

  def pinballBacktestSql(window: Int = 28,
                         quantiles: Seq[Double] = Seq(0.5, 0.9)): String = {
    val grid = quantiles.map { q =>
      s"(${q}, ${math.ceil(q * window).toInt})"
    }.mkString(", ")
    s"""WITH $dailyValuesCte, bounds AS (
       |  SELECT event_type, MIN(day) AS mn, MAX(day) AS mx
       |  FROM daily GROUP BY 1
       |), spine AS (
       |  SELECT event_type, unnest(range(mn, mx + 1)) AS day FROM bounds
       |), dense AS (
       |  SELECT s.event_type, s.day, COALESCE(d.v, 0.0) AS v
       |  FROM spine s LEFT JOIN daily d
       |    ON d.event_type = s.event_type AND d.day = s.day
       |), hist AS (
       |  SELECT event_type, day, v,
       |    list(v) OVER (PARTITION BY event_type ORDER BY day
       |      ROWS BETWEEN $window PRECEDING AND 1 PRECEDING) AS h
       |  FROM dense
       |), full_w AS (
       |  SELECT event_type, v, list_sort(h) AS sorted
       |  FROM hist WHERE len(h) = $window
       |), qf AS (
       |  SELECT event_type, v, g.q AS quantile, sorted[g.idx] AS f
       |  FROM full_w CROSS JOIN (VALUES $grid) AS g(q, idx)
       |)
       |SELECT event_type, quantile, CAST(COUNT(*) AS BIGINT) AS n_days,
       |  ROUND(CAST(SUM(CAST(ROUND(GREATEST(quantile * (v - f),
       |      (quantile - 1) * (v - f)), 6) AS DECIMAL(28,6))) AS DOUBLE)
       |    / CAST(COUNT(*) AS DOUBLE), 6) AS mean_pinball,
       |  ROUND(CAST(SUM(CASE WHEN v <= f THEN 1 ELSE 0 END) AS DOUBLE)
       |    / CAST(COUNT(*) AS DOUBLE), 6) AS coverage
       |FROM qf
       |GROUP BY 1, 2
       |ORDER BY event_type, quantile""".stripMargin
  }

  /** q371 — seeded permutation test for the per-user mean-value
    * difference between the two synthetic arms (user parity, the q167
    * SRM convention): the assignment labels are re-drawn nPerms times
    * from seeded hashes, the arm-mean difference is recomputed under
    * each relabeling, and the two-sided p-value is the (add-one
    * smoothed) share of permuted |diffs| at least as extreme as the
    * observed one — the assumption-free alternative to the t-based
    * readouts (q123/q179 lean on normality; a permutation test does
    * not), and the method of choice when per-user metrics are as
    * skewed as revenue always is.
    *
    * Determinism: permuted assignments are md5-parity draws keyed on
    * (perm, user) — the q308 seeded convention, so both engines
    * relabel identically; per-arm sums run over 6dp-rounded user
    * means as DECIMAL(28,6) (order-independent); every diff is the
    * identical double chain, and the extremeness comparison is on
    * identical doubles.
    *
    * Scale: one (type, user) aggregate over the event scan, then a
    * ×nPerms explode of the USER-sized frame (users × perms rows —
    * bounded, never event-sized) into a (type, perm) aggregate. At
    * 100 TB the explode stays proportional to users, not events.
    */
  def permutationTest(spark: SparkSession, dir: String,
                      nPerms: Int = 200): DataFrame = {
    import graft.functions.PortableHash
    val dec = org.apache.spark.sql.types.DecimalType(28, 6)
    val perUser = Tables.load(spark, dir, "events")
      .groupBy(col("event_type"), col("user_id"))
      .agg((graft.operators.Relational.decSum(col("value"))
        / count(col("value"))).as("u_mean"))
      .withColumn("um", round(col("u_mean"), 6))
      .transform(graft.Iterate.cut) // consumers: observed arms + the perm explode
    def armDiff(df: DataFrame, grp: Column,
                keys: Seq[Column]): DataFrame =
      df.groupBy(keys: _*)
        .agg(
          sum(when(grp === 1, col("um")).otherwise(lit(0.0)).cast(dec))
            .cast("double").as("s1"),
          sum(when(grp === 1, 1L).otherwise(0L)).as("n1"),
          sum(when(grp === 0, col("um")).otherwise(lit(0.0)).cast(dec))
            .cast("double").as("s0"),
          sum(when(grp === 0, 1L).otherwise(0L)).as("n0"))
        .withColumn("diff",
          col("s1") / nullif(col("n1").cast("double"), lit(0.0)) -
            col("s0") / nullif(col("n0").cast("double"), lit(0.0)))
    val obs = armDiff(perUser, (col("user_id") % 2 === 0).cast("int"),
        Seq(col("event_type")))
      .select(col("event_type"), (col("n1") + col("n0")).as("n_users"),
        col("diff").as("obs_diff"))
    val perms = perUser.select(col("event_type"), col("user_id"), col("um"),
        explode(sequence(lit(1), lit(nPerms))).as("perm"))
    val permDiffs = armDiff(perms,
      (PortableHash.md5Long60(concat(col("perm").cast("string"), lit("|"),
        col("user_id").cast("string"))) % 2).cast("int"),
      Seq(col("event_type"), col("perm")))
    permDiffs.join(broadcast(obs), "event_type")
      .groupBy(col("event_type"))
      .agg(max(col("n_users")).as("n_users"),
        round(max(col("obs_diff")), 6).as("obs_diff"),
        count(lit(1)).as("n_perms"),
        sum(when(abs(col("diff")) >= abs(col("obs_diff")), 1L)
          .otherwise(0L)).as("n_ge"))
      .select(col("event_type"), col("n_users"), col("obs_diff"),
        col("n_perms"), col("n_ge"),
        round((col("n_ge") + 1).cast("double") /
          (col("n_perms") + 1).cast("double"), 6).as("p_value"))
      .orderBy(col("event_type"))
  }

  def permutationTestSql(nPerms: Int = 200): String =
    s"""WITH per_user AS (
       |  SELECT event_type, user_id,
       |    ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
       |      / COUNT(value), 6) AS um
       |  FROM events GROUP BY 1, 2
       |), obs AS (
       |  SELECT event_type, n1 + n0 AS n_users,
       |    s1 / NULLIF(CAST(n1 AS DOUBLE), 0.0)
       |      - s0 / NULLIF(CAST(n0 AS DOUBLE), 0.0) AS obs_diff
       |  FROM (
       |    SELECT event_type,
       |      CAST(SUM(CAST(CASE WHEN user_id % 2 = 0 THEN um ELSE 0.0 END
       |        AS DECIMAL(28,6))) AS DOUBLE) AS s1,
       |      CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
       |        AS BIGINT) AS n1,
       |      CAST(SUM(CAST(CASE WHEN user_id % 2 <> 0 THEN um ELSE 0.0 END
       |        AS DECIMAL(28,6))) AS DOUBLE) AS s0,
       |      CAST(SUM(CASE WHEN user_id % 2 <> 0 THEN 1 ELSE 0 END)
       |        AS BIGINT) AS n0
       |    FROM per_user GROUP BY 1)
       |), perms AS (
       |  SELECT p.event_type, p.user_id, p.um, g.perm,
       |    CAST(('0x' || substr(md5(CAST(g.perm AS VARCHAR) || '|' ||
       |      CAST(p.user_id AS VARCHAR)), 1, 15)) AS BIGINT) % 2 AS pgrp
       |  FROM per_user p
       |  CROSS JOIN (SELECT unnest(range(1, $nPerms + 1)) AS perm) g
       |), perm_diffs AS (
       |  SELECT event_type, perm,
       |    CAST(SUM(CAST(CASE WHEN pgrp = 1 THEN um ELSE 0.0 END
       |        AS DECIMAL(28,6))) AS DOUBLE)
       |      / NULLIF(CAST(SUM(CASE WHEN pgrp = 1 THEN 1 ELSE 0 END)
       |        AS DOUBLE), 0.0)
       |    - CAST(SUM(CAST(CASE WHEN pgrp = 0 THEN um ELSE 0.0 END
       |        AS DECIMAL(28,6))) AS DOUBLE)
       |      / NULLIF(CAST(SUM(CASE WHEN pgrp = 0 THEN 1 ELSE 0 END)
       |        AS DOUBLE), 0.0) AS diff
       |  FROM perms GROUP BY 1, 2
       |)
       |SELECT d.event_type, MAX(o.n_users) AS n_users,
       |  ROUND(MAX(o.obs_diff), 6) AS obs_diff,
       |  CAST(COUNT(*) AS BIGINT) AS n_perms,
       |  CAST(SUM(CASE WHEN ABS(d.diff) >= ABS(o.obs_diff) THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_ge,
       |  ROUND(CAST(SUM(CASE WHEN ABS(d.diff) >= ABS(o.obs_diff)
       |      THEN 1 ELSE 0 END) + 1 AS DOUBLE)
       |    / CAST(COUNT(*) + 1 AS DOUBLE), 6) AS p_value
       |FROM perm_diffs d JOIN obs o ON d.event_type = o.event_type
       |GROUP BY d.event_type
       |ORDER BY d.event_type""".stripMargin

  /** Per (event_type, user) mean value `u_mean`, ranked within the
    * type: `i` by (u_mean, user_id), `n` users in the type. */
  private[operators] def rankedUserMeans(spark: SparkSession, dir: String): DataFrame = {
    val perUser = Tables.load(spark, dir, "events")
      .groupBy(col("event_type"), col("user_id"))
      .agg((graft.operators.Relational.decSum(col("value"))
        / count(col("value"))).as("u_mean"))
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("u_mean"), col("user_id"))
    perUser
      .withColumn("i", row_number().over(w).cast("long"))
      .withColumn("n",
        count(lit(1)).over(Window.partitionBy(col("event_type"))))
  }

  /** The SQL twin of [[rankedUserMeans]] (`ranked`). */
  private[operators] val rankedUserMeansCtes: String =
    """per_user AS (
      |  SELECT event_type, user_id,
      |    CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(value)
      |      AS u_mean
      |  FROM events GROUP BY 1, 2
      |), ranked AS (
      |  SELECT event_type, u_mean,
      |    CAST(row_number() OVER (PARTITION BY event_type
      |      ORDER BY u_mean, user_id) AS BIGINT) AS i,
      |    COUNT(*) OVER (PARTITION BY event_type) AS n
      |  FROM per_user
      |)""".stripMargin

  /** q372 — distribution-free 95% CI for the per-type median of
    * per-user mean value, via ORDER STATISTICS: the binomial rank
    * bounds lo = max(1, ⌊(n − z√n)/2⌋), hi = min(n, ⌈(n + z√n)/2⌉ + 1)
    * bracket the median with ≈95% coverage under NO distributional
    * assumption — the honest uncertainty statement for a median
    * (q154's bootstrap resamples; this is exact in rank space and
    * needs one pass). The instrument every per-entity median
    * leaderboard should carry before anyone acts on "the median
    * moved".
    *
    * Exactness: ranks are integers off the fully-tiebroken per-type
    * sort; the only doubles are z√n (identical sqrt chain both
    * engines) immediately floored/ceiled to integers; the bracketing
    * values are exact rank picks, medians exact doubled order stats.
    *
    * Scale: one (type, user) aggregate + one per-type rank window
    * (user-cardinality, the q90-family sort; [[Skew.globalRank]]
    * replaces it if one type's users outgrow a partition) + one
    * per-type aggregate.
    */
  def medianCiOrderStat(spark: SparkSession, dir: String,
                        z: Double = 1.959964): DataFrame = {
    val ranked = rankedUserMeans(spark, dir)
      .withColumn("lo", greatest(lit(1L),
        floor((col("n").cast("double") -
          lit(z) * sqrt(col("n").cast("double"))) / 2).cast("long")))
      .withColumn("hi", least(col("n"),
        (ceil((col("n").cast("double") +
          lit(z) * sqrt(col("n").cast("double"))) / 2) + 1).cast("long")))
    ranked.groupBy(col("event_type")).agg(
        max(col("n")).as("n_users"),
        max(col("lo")).as("lo_rank"),
        max(col("hi")).as("hi_rank"),
        round((max(when(col("i") === expr("(n + 1) div 2"), col("u_mean"))) +
          max(when(col("i") === expr("(n + 2) div 2"), col("u_mean")))) / 2, 6)
          .as("median"),
        round(max(when(col("i") === col("lo"), col("u_mean"))), 6)
          .as("ci_lo"),
        round(max(when(col("i") === col("hi"), col("u_mean"))), 6)
          .as("ci_hi"))
      .select(col("event_type"), col("n_users"), col("median"),
        col("lo_rank"), col("hi_rank"), col("ci_lo"), col("ci_hi"))
      .orderBy(col("event_type"))
  }

  def medianCiOrderStatSql(z: Double = 1.959964): String =
    s"""WITH $rankedUserMeansCtes, bounds AS (
       |  SELECT *,
       |    GREATEST(1, CAST(FLOOR((CAST(n AS DOUBLE)
       |      - $z * sqrt(CAST(n AS DOUBLE))) / 2) AS BIGINT)) AS lo,
       |    LEAST(n, CAST(CEIL((CAST(n AS DOUBLE)
       |      + $z * sqrt(CAST(n AS DOUBLE))) / 2) AS BIGINT) + 1) AS hi
       |  FROM ranked
       |)
       |SELECT event_type, CAST(MAX(n) AS BIGINT) AS n_users,
       |  ROUND((MAX(CASE WHEN i = (n + 1) // 2 THEN u_mean END)
       |    + MAX(CASE WHEN i = (n + 2) // 2 THEN u_mean END)) / 2, 6)
       |    AS median,
       |  MAX(lo) AS lo_rank, MAX(hi) AS hi_rank,
       |  ROUND(MAX(CASE WHEN i = lo THEN u_mean END), 6) AS ci_lo,
       |  ROUND(MAX(CASE WHEN i = hi THEN u_mean END), 6) AS ci_hi
       |FROM bounds
       |GROUP BY event_type
       |ORDER BY event_type""".stripMargin

  /** q374 — Kendall's τ-b matrix between the event types' daily value
    * series: rank-based concordance with the proper tie correction —
    * the third correlation lens beside q232's Pearson CCF (linear,
    * lag-aware) and q256's Spearman (rank, but tie-fragile at series
    * grain). τ-b is what you quote when two metrics' DAILY movements
    * must agree in direction and the series carry tied zeros from
    * densification or quiet days.
    *
    * Exactness: concordant / discordant / tied counts are pure
    * integers off the O(days²) ordered pair join (the q293
    * Mann–Kendall cost envelope — calendar-bounded, never
    * event-scaled); τ-b is one double chain off five integers,
    * rounded at 6dp.
    *
    * Scale: one (type, day) aggregate, a day-keyed type-pair join
    * (types² × days rows), one pairs join bounded by types² × days²
    * — all calendar-sized. At 100 TB only the first aggregate sees
    * the data.
    */
  def kendallTauMatrix(spark: SparkSession, dir: String): DataFrame = {
    val daily = dailyValues(spark, dir)
    val joined = graft.Iterate.cut(daily.as("a")
      .join(daily.as("b"),
        col("a.day") === col("b.day") &&
          col("a.event_type") < col("b.event_type"))
      .select(col("a.event_type").as("ta"), col("b.event_type").as("tb"),
        col("a.day").as("day"), col("a.v").as("x"), col("b.v").as("y")))
    val pairs = joined.as("p").join(joined.as("q"),
        col("p.ta") === col("q.ta") && col("p.tb") === col("q.tb") &&
          col("p.day") < col("q.day"))
      .select(col("p.ta").as("ta"), col("p.tb").as("tb"),
        (col("p.x") - col("q.x")).as("dx"),
        (col("p.y") - col("q.y")).as("dy"))
    val counts = pairs.groupBy(col("ta"), col("tb")).agg(
      count(lit(1)).as("n0"),
      sum(when(col("dx") * col("dy") > 0, 1L).otherwise(0L)).as("nc"),
      sum(when(col("dx") * col("dy") < 0, 1L).otherwise(0L)).as("nd"),
      sum(when(col("dx") === 0, 1L).otherwise(0L)).as("n1"),
      sum(when(col("dy") === 0, 1L).otherwise(0L)).as("n2"))
    val nDays = joined.groupBy(col("ta"), col("tb"))
      .agg(count(lit(1)).as("n_days"))
    counts.join(broadcast(nDays), Seq("ta", "tb"))
      .select(col("ta").as("type_a"), col("tb").as("type_b"),
        col("n_days"), col("nc"), col("nd"),
        // nullif guard (the q419 convention): a constant series makes
        // (n0-n1)*(n0-n2) = 0 and 0/0 must surface as NULL on BOTH
        // engines, not a Spark NaN vs DuckDB-setting-dependent value
        round((col("nc") - col("nd")).cast("double") /
          sqrt(nullif(((col("n0") - col("n1")) * (col("n0") - col("n2")))
            .cast("double"), lit(0.0))), 6).as("tau_b"))
      .orderBy(col("type_a"), col("type_b"))
  }

  val kendallTauMatrixSql: String =
    s"""WITH $dailyValuesCte, joined AS (
      |  SELECT a.event_type AS ta, b.event_type AS tb, a.day AS day,
      |    a.v AS x, b.v AS y
      |  FROM daily a JOIN daily b
      |    ON a.day = b.day AND a.event_type < b.event_type
      |), pairs AS (
      |  SELECT p.ta, p.tb, p.x - q.x AS dx, p.y - q.y AS dy
      |  FROM joined p JOIN joined q
      |    ON p.ta = q.ta AND p.tb = q.tb AND p.day < q.day
      |), counts AS (
      |  SELECT ta, tb, CAST(COUNT(*) AS BIGINT) AS n0,
      |    CAST(SUM(CASE WHEN dx * dy > 0 THEN 1 ELSE 0 END) AS BIGINT) AS nc,
      |    CAST(SUM(CASE WHEN dx * dy < 0 THEN 1 ELSE 0 END) AS BIGINT) AS nd,
      |    CAST(SUM(CASE WHEN dx = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      |    CAST(SUM(CASE WHEN dy = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n2
      |  FROM pairs GROUP BY 1, 2
      |), ndays AS (
      |  SELECT ta, tb, CAST(COUNT(*) AS BIGINT) AS n_days
      |  FROM joined GROUP BY 1, 2
      |)
      |SELECT c.ta AS type_a, c.tb AS type_b, d.n_days, c.nc, c.nd,
      |  ROUND(CAST(c.nc - c.nd AS DOUBLE) /
      |    sqrt(NULLIF(CAST((c.n0 - c.n1) * (c.n0 - c.n2) AS DOUBLE), 0.0)),
      |    6) AS tau_b
      |FROM counts c JOIN ndays d ON c.ta = d.ta AND c.tb = d.tb
      |ORDER BY type_a, type_b""".stripMargin

  /** q377 — anomaly-detector consensus over the daily monitors: the
    * q300 discipline (four dedup detectors → one consensus relation)
    * applied to the MONITORING column — q121's MAD screen (spiky
    * one-day outliers), q173's EWMA chart (one-step forecast misses),
    * and q364's CUSUM (small persistent shifts) joined per
    * (type, day) into a single alert ledger with the agreement count.
    * The three detectors fire on DIFFERENT shapes by design; a day
    * all three flag is a page, a day one flags is a ticket — this
    * relation is that routing table, and grading it keeps the three
    * inputs composable (column names, day grain, flag conventions)
    * forever.
    *
    * Exactness: a three-way inner join of three already-graded
    * integer-flag relations on identical (type, day) keys (all three
    * derive days from the same epochDayExpr aggregate) — no new
    * arithmetic beyond flag sums; EWMA's undefined day-1 flag
    * coalesces to 0 on both sides.
    *
    * Scale: three passes over the same (type, day) aggregate (each
    * individually graded and calendar-bounded) + calendar-sized
    * joins. A shared-scan variant would fuse the first aggregate;
    * composition is kept 1:1 with the graded parts instead.
    */
  def anomalyConsensus(spark: SparkSession, dir: String): DataFrame = {
    val mad = dailyAnomalies(spark, dir)
      .select(col("event_type"), col("day"), col("v"),
        col("is_anomaly").as("mad_alert"))
    val ew = ewmaControl(spark, dir)
      .select(col("event_type"), col("day"),
        coalesce(col("is_alert"), lit(0)).as("ewma_alert"))
    val cu = cusumChart(spark, dir)
      .select(col("event_type"), col("day"),
        col("is_alert").as("cusum_alert"))
    mad.join(ew, Seq("event_type", "day"))
      .join(cu, Seq("event_type", "day"))
      .withColumn("n_alerts",
        (col("mad_alert") + col("ewma_alert") + col("cusum_alert"))
          .cast("int"))
      .filter(col("n_alerts") >= 1)
      .select(col("event_type"), col("day"), col("v"),
        col("mad_alert"), col("ewma_alert"), col("cusum_alert"),
        col("n_alerts"),
        (col("n_alerts") >= 2).cast("int").as("consensus"))
      .orderBy(col("event_type"), col("day"))
  }

  val anomalyConsensusSql: String =
    s"""WITH mad_t AS (
       |  $dailyAnomaliesSql
       |), ew_t AS (
       |  $ewmaControlSql
       |), cu_t AS (
       |  $cusumChartSql
       |)
       |SELECT m.event_type, m.day, m.v,
       |  m.is_anomaly AS mad_alert,
       |  COALESCE(e.is_alert, 0) AS ewma_alert,
       |  c.is_alert AS cusum_alert,
       |  CAST(m.is_anomaly + COALESCE(e.is_alert, 0) + c.is_alert AS INT)
       |    AS n_alerts,
       |  CAST(m.is_anomaly + COALESCE(e.is_alert, 0) + c.is_alert >= 2
       |    AS INT) AS consensus
       |FROM mad_t m
       |JOIN ew_t e ON m.event_type = e.event_type AND m.day = e.day
       |JOIN cu_t c ON m.event_type = c.event_type AND m.day = c.day
       |WHERE m.is_anomaly + COALESCE(e.is_alert, 0) + c.is_alert >= 1
       |ORDER BY m.event_type, m.day""".stripMargin

  /** q441 — session-gap sensitivity curve: how many sessions (and how
    * large they are) the corpus yields under each candidate
    * inactivity threshold — the tuning table behind q20's hard-coded
    * 30 minutes. Session counts are THRESHOLD-MONOTONE but not
    * linearly so; picking θ by eyeballing one value ships an
    * arbitrary session definition into every downstream funnel/path/
    * retention metric, and this curve is the one-scan audit that
    * shows where the knee actually is.
    *
    * Exactness: n_sessions(θ) = n_users + |gaps > θ| — pure integer
    * identities off ONE user-ordered window pass (no per-θ rescan,
    * no event-row explode: the grid lives as conditional sums in a
    * single aggregate, unpivoted by stack); means are single rounded
    * divisions.
    *
    * Scale: one window pass over the events (the q20 shuffle), one
    * global aggregate, |grid| output rows.
    */
  def sessionGapCurve(spark: SparkSession, dir: String,
                      gridMinutes: Seq[Int] = Seq(5, 15, 30, 60, 120))
      : DataFrame = {
    val ev = Tables.load(spark, dir, "events")
      .withColumn("ts_ms", graft.operators.Relational.tsMs("ts"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_ms"), col("event_id"))
    val gaps = ev.withColumn("prev_ts", lag(col("ts_ms"), 1).over(w))
    val aggs = Seq(countDistinct(col("user_id")).as("n_users"),
      count(lit(1)).as("n_events")) ++
      gridMinutes.map(m =>
        sum(when(col("prev_ts").isNotNull &&
          col("ts_ms") - col("prev_ts") > m * 60000L, 1L).otherwise(0L))
          .as(s"x$m"))
    val one = gaps.agg(aggs.head, aggs.tail: _*)
    val stackExpr = gridMinutes.map(m => s"$m, x$m").mkString(", ")
    one.select(col("n_users"), col("n_events"),
        expr(s"stack(${gridMinutes.size}, $stackExpr)")
          .as(Seq("threshold_minutes", "n_splits")))
      .select(col("threshold_minutes").cast("int").as("threshold_minutes"),
        (col("n_users") + col("n_splits")).as("n_sessions"),
        round(col("n_events").cast("double") /
          (col("n_users") + col("n_splits")).cast("double"), 6)
          .as("events_per_session"),
        round(col("n_splits").cast("double") /
          nullif((col("n_events") - col("n_users")).cast("double"),
            lit(0.0)), 6).as("split_share"))
      .orderBy(col("threshold_minutes"))
  }

  def sessionGapCurveSql(
      gridMinutes: Seq[Int] = Seq(5, 15, 30, 60, 120)): String = {
    val conds = gridMinutes.map(m =>
      s"""CAST(SUM(CASE WHEN prev_ts IS NOT NULL
         |      AND ts_ms - prev_ts > ${m * 60000L} THEN 1 ELSE 0 END)
         |      AS BIGINT) AS x$m""".stripMargin).mkString(",\n    ")
    val unions = gridMinutes.map(m =>
      s"SELECT n_users, n_events, $m AS threshold_minutes, x$m AS n_splits FROM agg")
      .mkString("\n      |  UNION ALL ")
    s"""WITH gaps AS (
       |  SELECT user_id, epoch_ms(ts) AS ts_ms,
       |    lag(epoch_ms(ts)) OVER (PARTITION BY user_id
       |      ORDER BY epoch_ms(ts), event_id) AS prev_ts
       |  FROM events
       |), agg AS (
       |  SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       |    CAST(COUNT(*) AS BIGINT) AS n_events,
       |    $conds
       |  FROM gaps
       |), grid AS (
       |  $unions
       |)
       |SELECT CAST(threshold_minutes AS INT) AS threshold_minutes,
       |  n_users + n_splits AS n_sessions,
       |  ROUND(CAST(n_events AS DOUBLE)
       |    / CAST(n_users + n_splits AS DOUBLE), 6) AS events_per_session,
       |  ROUND(CAST(n_splits AS DOUBLE)
       |    / NULLIF(CAST(n_events - n_users AS DOUBLE), 0.0), 6)
       |    AS split_share
       |FROM grid
       |ORDER BY threshold_minutes""".stripMargin
  }

  /** q447 — matrix profile (motif + discord) of each type's dense
    * daily series, window m = 7: for every 7-day window, the
    * z-normalized Euclidean distance to its nearest NON-OVERLAPPING
    * neighbor window. The global minimum pair is the series' MOTIF
    * (its most-repeated weekly shape — a recurring release cycle,
    * a weekly batch job); the window whose nearest neighbor is
    * FARTHEST is the DISCORD — the strongest anomaly definition that
    * needs no model, threshold, or training (Keogh's "time series
    * anomaly = the subsequence least like any other"). Complements
    * the point detectors (q121/q173/q364/q432): those flag days,
    * this flags SHAPES.
    *
    * Exactness: window sums are integers (one ordered window list per
    * start day); means and stds are shared double chains off those
    * integers; each pair distance is the index-ordered fold both
    * engines state identically (the cosine discipline), rounded 9dp
    * before any ranking; motif/nn/discord picks are fully tiebroken
    * rank windows. Zero-variance windows cannot be z-normalized —
    * they are EXCLUDED with their count surfaced (`n_degenerate`),
    * never silently divided.
    *
    * Scale: one event aggregate, then everything is calendar-bounded:
    * |days|² window pairs per type with an O(m) fold each — the
    * classic exact-MP cost envelope (STOMP et al. amortize the fold;
    * the RELATION is identical, and days² is metadata-sized even at
    * 100 TB of events).
    */
  def matrixProfile(spark: SparkSession, dir: String,
                    m: Int = 7): DataFrame = {
    val dense = denseDailyCounts(spark, dir)
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(Window.currentRow, m - 1)
    val wins = dense
      .withColumn("wn", count(lit(1)).over(w))
      .withColumn("warr", collect_list(col("v")).over(w))
      .filter(col("wn") === m)
      .withColumn("s", aggregate(col("warr"), lit(0L), (acc, v) => acc + v))
      .withColumn("ss", aggregate(col("warr"), lit(0L),
        (acc, v) => acc + v * v))
      .withColumn("mu", col("s").cast("double") / lit(m.toDouble))
      .withColumn("sig", sqrt((col("ss").cast("double") -
        col("s").cast("double") * col("s").cast("double") /
          lit(m.toDouble)) / lit(m.toDouble)))
      .select(col("event_type"), col("day").as("i"), col("warr"),
        col("mu"), col("sig"))
    val nDegen = wins.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_windows"),
        sum((col("sig") === 0.0).cast("long")).as("n_degenerate"))
    val usable = wins.filter(col("sig") > 0.0).transform(graft.Iterate.cut)
    val d2 = aggregate(
      zip_with(col("a.warr"), col("b.warr"), (x, y) => {
        val za = (x.cast("double") - col("a.mu")) / col("a.sig")
        val zb = (y.cast("double") - col("b.mu")) / col("b.sig")
        (za - zb) * (za - zb)
      }), lit(0.0), (acc, v) => acc + v)
    val pairs = usable.as("a").join(usable.as("b"),
        col("a.event_type") === col("b.event_type") &&
          abs(col("a.i") - col("b.i")) >= m)
      .select(col("a.event_type").as("event_type"), col("a.i").as("i"),
        col("b.i").as("j"), round(d2, 9).as("d2"))
    val wNn = Window.partitionBy(col("event_type"), col("i"))
      .orderBy(col("d2"), col("j"))
    val nn = pairs.withColumn("rn", row_number().over(wNn))
      .filter(col("rn") === 1)
      .select(col("event_type"), col("i"), col("j"), col("d2"))
    val wMotif = Window.partitionBy(col("event_type"))
      .orderBy(col("d2"), col("i"), col("j"))
    val motif = pairs.filter(col("i") < col("j"))
      .withColumn("rn", row_number().over(wMotif))
      .filter(col("rn") === 1)
      .select(col("event_type"), col("i").as("motif_i"),
        col("j").as("motif_j"), col("d2").as("motif_d2"))
    val wDisc = Window.partitionBy(col("event_type"))
      .orderBy(col("d2").desc, col("i"))
    val discord = nn.withColumn("rn", row_number().over(wDisc))
      .filter(col("rn") === 1)
      .select(col("event_type"), col("i").as("discord_i"),
        col("d2").as("discord_d2"))
    nDegen.join(motif, Seq("event_type"), "left")
      .join(discord, Seq("event_type"), "left")
      .select(col("event_type"), col("n_windows"), col("n_degenerate"),
        col("motif_i"), col("motif_j"), col("motif_d2"),
        col("discord_i"), col("discord_d2"))
      .orderBy(col("event_type"))
  }

  def matrixProfileSql(m: Int = 7): String =
    s"""WITH $denseDailyCountsSql, wins0 AS (
      |  SELECT event_type, day AS i,
      |    list(v) OVER (PARTITION BY event_type ORDER BY day
      |      ROWS BETWEEN CURRENT ROW AND ${m - 1} FOLLOWING) AS warr
      |  FROM dense
      |), wins AS (
      |  SELECT event_type, i, warr,
      |    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      warr), (x, y) -> x + y) AS DOUBLE) / $m.0 AS mu,
      |    sqrt((CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
      |        [v * v for v in warr]), (x, y) -> x + y) AS DOUBLE)
      |      - CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
      |          warr), (x, y) -> x + y) AS DOUBLE)
      |        * CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
      |          warr), (x, y) -> x + y) AS DOUBLE) / $m.0) / $m.0)
      |      AS sig
      |  FROM wins0 WHERE len(warr) = $m
      |), degen AS (
      |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_windows,
      |    CAST(SUM(CASE WHEN sig = 0.0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_degenerate
      |  FROM wins GROUP BY 1
      |), usable AS (
      |  SELECT * FROM wins WHERE sig > 0.0
      |), pairs AS (
      |  SELECT a.event_type, a.i, b.i AS j,
      |    ROUND(list_reduce(list_prepend(0.0,
      |      [((CAST(a.warr[k] AS DOUBLE) - a.mu) / a.sig
      |        - (CAST(b.warr[k] AS DOUBLE) - b.mu) / b.sig)
      |       * ((CAST(a.warr[k] AS DOUBLE) - a.mu) / a.sig
      |        - (CAST(b.warr[k] AS DOUBLE) - b.mu) / b.sig)
      |       for k in range(1, $m + 1)]), (x, y) -> x + y), 9) AS d2
      |  FROM usable a JOIN usable b
      |    ON b.event_type = a.event_type AND ABS(a.i - b.i) >= $m
      |), nn AS (
      |  SELECT event_type, i, j, d2 FROM (
      |    SELECT *, row_number() OVER (PARTITION BY event_type, i
      |      ORDER BY d2, j) AS rn
      |    FROM pairs
      |  ) WHERE rn = 1
      |), motif AS (
      |  SELECT event_type, i AS motif_i, j AS motif_j, d2 AS motif_d2
      |  FROM (
      |    SELECT *, row_number() OVER (PARTITION BY event_type
      |      ORDER BY d2, i, j) AS rn
      |    FROM pairs WHERE i < j
      |  ) WHERE rn = 1
      |), discord AS (
      |  SELECT event_type, i AS discord_i, d2 AS discord_d2 FROM (
      |    SELECT *, row_number() OVER (PARTITION BY event_type
      |      ORDER BY d2 DESC, i) AS rn
      |    FROM nn
      |  ) WHERE rn = 1
      |)
      |SELECT g.event_type, g.n_windows, g.n_degenerate,
      |  m.motif_i, m.motif_j, m.motif_d2,
      |  d.discord_i, d.discord_d2
      |FROM degen g
      |LEFT JOIN motif m ON m.event_type = g.event_type
      |LEFT JOIN discord d ON d.event_type = g.event_type
      |ORDER BY g.event_type""".stripMargin

  /** q448 — energy distance between each type's first- and
    * second-half daily distributions: Székely's
    * e = 2·E|X−Y| − E|X−X′| − E|Y−Y′| (V-statistic form), the
    * OMNIBUS two-sample test that reacts to ANY distributional
    * change — q438's Yuen sees location, q213's KS sees the largest
    * CDF gap, energy distance integrates every gap, which is what a
    * "did this series change at all?" gate wants. Reported with the
    * sample-size-scaled statistic n₁n₂/(n₁+n₂)·e (the permutation
    * statistic q371's machinery would resample).
    *
    * Exactness: every |x−y| is an integer; the three pair sums are
    * exact integer aggregates over calendar-bounded pair joins; e is
    * one shared double chain of integer-sum ratios, rounded 6dp.
    * e ≥ 0 by the theory; the spec asserts it.
    *
    * Scale: one event aggregate, then days²-bounded pair joins per
    * type (the q293/q374 cost envelope — calendar-sized, never
    * event-scaled).
    */
  def energyDistance(spark: SparkSession, dir: String): DataFrame = {
    val dense = denseDailyCounts(spark, dir)
    val bounds = dense.groupBy(col("event_type"))
      .agg(min(col("day")).as("mn"), max(col("day")).as("mx"))
      .select(col("event_type"), expr("mn + (mx - mn) div 2").as("mid"))
    val halves = dense.join(broadcast(bounds), "event_type")
      .withColumn("half", when(col("day") <= col("mid"), 1).otherwise(2))
      .select(col("event_type"), col("half"), col("day"), col("v"))
    def pairSum(h1: Int, h2: Int): DataFrame =
      halves.filter(col("half") === h1).as("a")
        .join(halves.filter(col("half") === h2).as("b"),
          col("a.event_type") === col("b.event_type"))
        .groupBy(col("a.event_type").as("event_type"))
        .agg(sum(abs(col("a.v") - col("b.v"))).as(s"s_$h1$h2"),
          count(lit(1)).as(s"n_$h1$h2"))
    val ns = halves.groupBy(col("event_type"))
      .agg(sum((col("half") === 1).cast("long")).as("n1"),
        sum((col("half") === 2).cast("long")).as("n2"))
    ns.join(pairSum(1, 2), "event_type")
      .join(pairSum(1, 1), "event_type")
      .join(pairSum(2, 2), "event_type")
      .withColumn("e",
        lit(2.0) * col("s_12").cast("double") / col("n_12").cast("double")
          - col("s_11").cast("double") / col("n_11").cast("double")
          - col("s_22").cast("double") / col("n_22").cast("double"))
      .select(col("event_type"), col("n1"), col("n2"),
        round(col("e"), 6).as("energy_dist"),
        round(col("n1").cast("double") * col("n2").cast("double") /
          (col("n1") + col("n2")).cast("double") * col("e"), 6)
          .as("scaled_stat"))
      .orderBy(col("event_type"))
  }

  val energyDistanceSql: String =
    s"""WITH $denseDailyCountsSql, bounds AS (
      |  SELECT event_type, MIN(day) + (MAX(day) - MIN(day)) // 2 AS mid
      |  FROM dense GROUP BY 1
      |), halves AS (
      |  SELECT d.event_type,
      |    CASE WHEN d.day <= b.mid THEN 1 ELSE 2 END AS half, d.day, d.v
      |  FROM dense d JOIN bounds b ON b.event_type = d.event_type
      |), s12 AS (
      |  SELECT a.event_type,
      |    CAST(SUM(ABS(a.v - b.v)) AS BIGINT) AS s_12,
      |    CAST(COUNT(*) AS BIGINT) AS n_12
      |  FROM halves a JOIN halves b
      |    ON b.event_type = a.event_type AND a.half = 1 AND b.half = 2
      |  GROUP BY 1
      |), s11 AS (
      |  SELECT a.event_type,
      |    CAST(SUM(ABS(a.v - b.v)) AS BIGINT) AS s_11,
      |    CAST(COUNT(*) AS BIGINT) AS n_11
      |  FROM halves a JOIN halves b
      |    ON b.event_type = a.event_type AND a.half = 1 AND b.half = 1
      |  GROUP BY 1
      |), s22 AS (
      |  SELECT a.event_type,
      |    CAST(SUM(ABS(a.v - b.v)) AS BIGINT) AS s_22,
      |    CAST(COUNT(*) AS BIGINT) AS n_22
      |  FROM halves a JOIN halves b
      |    ON b.event_type = a.event_type AND a.half = 2 AND b.half = 2
      |  GROUP BY 1
      |), ns AS (
      |  SELECT event_type,
      |    CAST(SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      |    CAST(SUM(CASE WHEN half = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2
      |  FROM halves GROUP BY 1
      |), fin AS (
      |  SELECT ns.event_type, ns.n1, ns.n2,
      |    2.0 * CAST(s12.s_12 AS DOUBLE) / CAST(s12.n_12 AS DOUBLE)
      |      - CAST(s11.s_11 AS DOUBLE) / CAST(s11.n_11 AS DOUBLE)
      |      - CAST(s22.s_22 AS DOUBLE) / CAST(s22.n_22 AS DOUBLE) AS e
      |  FROM ns
      |  JOIN s12 ON s12.event_type = ns.event_type
      |  JOIN s11 ON s11.event_type = ns.event_type
      |  JOIN s22 ON s22.event_type = ns.event_type
      |)
      |SELECT event_type, n1, n2, ROUND(e, 6) AS energy_dist,
      |  ROUND(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
      |    / CAST(n1 + n2 AS DOUBLE) * e, 6) AS scaled_stat
      |FROM fin
      |ORDER BY event_type""".stripMargin

  /** q450 — seasonally-adjusted anomaly screen: the q121 MAD
    * discipline applied to q172's STL RESIDUALS instead of raw
    * values — the detector that catches a quiet Sunday that is loud
    * FOR A SUNDAY (masked by seasonality in every raw-value screen)
    * and stops flagging ordinary Mondays a raw screen calls spikes.
    * Flags |resid| > 3·1.4826·MAD(resid) per type; reported as the
    * per-type summary with the worst day surfaced (q377's detectors
    * stay as-is; this is the seasonal-blind-spot closer).
    *
    * Exactness: residuals are q172's 6dp-rounded column; the MAD is
    * an exact lower-median rank pick over |resid| (fully tiebroken);
    * the threshold is one rounded product; flags compare rounded
    * values; the worst-day pick is a rank-1 window.
    *
    * Scale: q172's shapes + one rank window per type — all
    * calendar-sized after the single event aggregate.
    */
  def stlAnomalies(spark: SparkSession, dir: String): DataFrame = {
    val stl = stlDecompose(spark, dir)
      .withColumn("aresid", abs(col("resid")))
    val wMed = Window.partitionBy(col("event_type"))
      .orderBy(col("aresid"), col("day"))
    val mad = stl
      .withColumn("rn", row_number().over(wMed))
      .withColumn("n", count(lit(1)).over(
        Window.partitionBy(col("event_type"))))
      .filter(col("rn") === expr("(n + 1) div 2"))
      .select(col("event_type"), col("aresid").as("mad"))
    val flagged = stl.join(broadcast(mad), "event_type")
      .withColumn("threshold", round(lit(3.0 * 1.4826) * col("mad"), 6))
      .withColumn("is_anomaly",
        (col("aresid") > col("threshold")).cast("long"))
    val wTop = Window.partitionBy(col("event_type"))
      .orderBy(col("aresid").desc, col("day"))
    flagged.withColumn("top_rn", row_number().over(wTop))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
        round(max(col("mad")), 6).as("mad"),
        round(max(col("threshold")), 6).as("threshold"),
        sum(col("is_anomaly")).as("n_anomalies"),
        max(when(col("top_rn") === 1, col("day"))).as("worst_day"),
        round(max(when(col("top_rn") === 1, col("resid"))), 6)
          .as("worst_resid"))
      .orderBy(col("event_type"))
  }

  val stlAnomaliesSql: String =
    s"""WITH stl AS (
      |  $stlDecomposeSql
      |), ar AS (
      |  SELECT event_type, day, resid, ABS(resid) AS aresid FROM stl
      |), med AS (
      |  SELECT event_type, aresid AS mad FROM (
      |    SELECT event_type, aresid,
      |      row_number() OVER (PARTITION BY event_type
      |        ORDER BY aresid, day) AS rn,
      |      COUNT(*) OVER (PARTITION BY event_type) AS n
      |    FROM ar
      |  ) WHERE rn = (n + 1) // 2
      |), flagged AS (
      |  SELECT a.event_type, a.day, a.resid, a.aresid, m.mad,
      |    ROUND(${3.0 * 1.4826} * m.mad, 6) AS threshold,
      |    CASE WHEN a.aresid > ROUND(${3.0 * 1.4826} * m.mad, 6)
      |      THEN 1 ELSE 0 END AS is_anomaly,
      |    row_number() OVER (PARTITION BY a.event_type
      |      ORDER BY a.aresid DESC, a.day) AS top_rn
      |  FROM ar a JOIN med m ON m.event_type = a.event_type
      |)
      |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
      |  ROUND(MAX(mad), 6) AS mad,
      |  ROUND(MAX(threshold), 6) AS threshold,
      |  CAST(SUM(is_anomaly) AS BIGINT) AS n_anomalies,
      |  MAX(CASE WHEN top_rn = 1 THEN day END) AS worst_day,
      |  ROUND(MAX(CASE WHEN top_rn = 1 THEN resid END), 6) AS worst_resid
      |FROM flagged
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** q451 — partial-correlation confounder screen: for every ordered
    * type triple (x, y | z), the first-order partial correlation
    * r_xy·z = (r_xy − r_xz·r_zy) / √((1−r_xz²)(1−r_zy²)) over the
    * daily series, with the EXPLAINED-AWAY verdict (|r_xy| ≥ 0.3 but
    * |r_xy·z| < 0.3): the graphical-model screening step between
    * q143's raw correlations and any causal claim — two metrics that
    * only co-move because a third drives both should never be wired
    * into an alerting dependency or a Granger story (q430's
    * complement: Granger adds direction, this removes confounding).
    *
    * Exactness: pairwise Pearson r's follow the q209 integer-sum
    * discipline on the shared dense grid (identical double chain,
    * NULLIF-guarded); the partial formula is one more shared chain
    * off 6dp-rounded r's; verdicts compare rounded values only.
    *
    * Scale: one event aggregate, a |types|²-row correlation frame
    * (days-bounded pair join), then a |types|³-row triple join — all
    * type-cardinality-sized, never event-scaled.
    */
  def partialCorrScreen(spark: SparkSession, dir: String,
                        thresh: Double = 0.3): DataFrame = {
    val dense = denseDailyCounts(spark, dir)
    val joined = dense.as("a").join(dense.as("b"), Seq("day"))
      .filter(col("a.event_type") =!= col("b.event_type"))
      .select(col("a.event_type").as("ta"), col("b.event_type").as("tb"),
        col("a.v").as("x"), col("b.v").as("y"))
    val corr = joined.groupBy(col("ta"), col("tb"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .select(col("ta"), col("tb"),
        round((col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
          / nullif(
            sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
              * (col("n") * col("syy") - col("sy") * col("sy")).cast("double")),
            lit(0.0)), 6).as("r"))
    val triples = corr.as("xy")
      .join(corr.select(col("ta").as("tx"), col("tb").as("tz"),
        col("r").as("r_xz")).as("xz"),
        col("xy.ta") === col("xz.tx"))
      .join(corr.select(col("ta").as("tz2"), col("tb").as("ty"),
        col("r").as("r_zy")).as("zy"),
        col("xz.tz") === col("tz2") && col("xy.tb") === col("ty"))
      .filter(col("xz.tz") =!= col("xy.ta") && col("xz.tz") =!= col("xy.tb"))
      .select(col("xy.ta").as("x_type"), col("xy.tb").as("y_type"),
        col("xz.tz").as("z_type"), col("xy.r").as("r_xy"),
        col("r_xz"), col("r_zy"))
      .withColumn("r_partial", round(
        (col("r_xy") - col("r_xz") * col("r_zy")) /
          nullif(sqrt((lit(1.0) - col("r_xz") * col("r_xz")) *
            (lit(1.0) - col("r_zy") * col("r_zy"))), lit(0.0)), 6))
    triples.select(col("x_type"), col("y_type"), col("z_type"),
        col("r_xy"), col("r_partial"),
        (abs(col("r_xy")) >= thresh &&
          abs(col("r_partial")) < thresh).as("explained_away"))
      .orderBy(col("x_type"), col("y_type"), col("z_type"))
  }

  def partialCorrScreenSql(thresh: Double = 0.3): String =
    s"""WITH $denseDailyCountsSql, joined AS (
      |  SELECT a.event_type AS ta, b.event_type AS tb, a.v AS x, b.v AS y
      |  FROM dense a JOIN dense b
      |    ON b.day = a.day AND a.event_type <> b.event_type
      |), corr AS (
      |  SELECT ta, tb,
      |    ROUND(CAST(COUNT(*) * SUM(x * y) - SUM(x) * SUM(y) AS DOUBLE)
      |      / NULLIF(sqrt(
      |          CAST(COUNT(*) * SUM(x * x) - SUM(x) * SUM(x) AS DOUBLE)
      |        * CAST(COUNT(*) * SUM(y * y) - SUM(y) * SUM(y) AS DOUBLE)),
      |        0.0), 6) AS r
      |  FROM joined GROUP BY 1, 2
      |), triples AS (
      |  SELECT xy.ta AS x_type, xy.tb AS y_type, xz.tb AS z_type,
      |    xy.r AS r_xy, xz.r AS r_xz, zy.r AS r_zy
      |  FROM corr xy
      |  JOIN corr xz ON xz.ta = xy.ta
      |  JOIN corr zy ON zy.ta = xz.tb AND zy.tb = xy.tb
      |  WHERE xz.tb <> xy.ta AND xz.tb <> xy.tb
      |)
      |SELECT x_type, y_type, z_type, r_xy,
      |  ROUND((r_xy - r_xz * r_zy)
      |    / NULLIF(sqrt((1.0 - r_xz * r_xz) * (1.0 - r_zy * r_zy)), 0.0),
      |    6) AS r_partial,
      |  ABS(r_xy) >= $thresh AND
      |    ABS(ROUND((r_xy - r_xz * r_zy)
      |      / NULLIF(sqrt((1.0 - r_xz * r_xz) * (1.0 - r_zy * r_zy)),
      |        0.0), 6)) < $thresh AS explained_away
      |FROM triples
      |ORDER BY x_type, y_type, z_type""".stripMargin

  /** q463 — Fano-factor ladder per event type: the variance/mean
    * ratio of counts at 1-, 7- and 28-day window grains — the
    * point-process overdispersion diagnostic ACROSS SCALES. A Poisson
    * stream holds F ≈ 1 at every grain; F growing with the window
    * means long-range clustering (bursts of bursts — q219 measures
    * per-user burstiness, this measures the stream's, and the GRAIN
    * where F departs from 1 is the natural batching/alerting window).
    *
    * Exactness: window counts are integer sums over exact integer
    * day-bucket arithmetic (floor division of the day index); each
    * grain's variance comes from integer moment sums in one shared
    * double chain, NULLIF-guarded; the ladder is one frame per grain
    * unioned — no per-grain rescan of events (the dense daily grid is
    * computed once and re-bucketed).
    *
    * Scale: one event aggregate, calendar-sized re-bucketing,
    * |types|·|grains| output rows.
    */
  def fanoLadder(spark: SparkSession, dir: String,
                 grains: Seq[Int] = Seq(1, 7, 28)): DataFrame = {
    val dense = denseDailyCounts(spark, dir).transform(graft.Iterate.cut)
    val perGrain = grains.map { g =>
      dense.withColumn("bucket", expr(s"day div $g"))
        .groupBy(col("event_type"), col("bucket"))
        .agg(sum(col("v")).as("c"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_windows"),
          sum(col("c")).as("s"), sum(col("c") * col("c")).as("ss"))
        .withColumn("grain_days", lit(g))
    }
    val u = perGrain.reduce(_ unionByName _)
    val nD = col("n_windows").cast("double")
    val mean = col("s").cast("double") / nD
    val vr = (col("ss").cast("double") -
      col("s").cast("double") * col("s").cast("double") / nD) / nD
    u.select(col("event_type"), col("grain_days"), col("n_windows"),
        round(mean, 6).as("mean_count"),
        round(vr / nullif(mean, lit(0.0)), 6).as("fano"))
      .orderBy(col("event_type"), col("grain_days"))
  }

  def fanoLadderSql(grains: Seq[Int] = Seq(1, 7, 28)): String = {
    val unions = grains.map(g =>
      s"""SELECT event_type, $g AS grain_days, day // $g AS bucket, v
         |  FROM dense""".stripMargin).mkString("\n      |  UNION ALL ")
    s"""WITH $denseDailyCountsSql, rebucketed AS (
      |  $unions
      |), win AS (
      |  SELECT event_type, grain_days, bucket,
      |    CAST(SUM(v) AS BIGINT) AS c
      |  FROM rebucketed GROUP BY 1, 2, 3
      |), agg AS (
      |  SELECT event_type, grain_days,
      |    CAST(COUNT(*) AS BIGINT) AS n_windows,
      |    CAST(SUM(c) AS BIGINT) AS s, CAST(SUM(c * c) AS BIGINT) AS ss
      |  FROM win GROUP BY 1, 2
      |)
      |SELECT event_type, grain_days, n_windows,
      |  ROUND(CAST(s AS DOUBLE) / CAST(n_windows AS DOUBLE), 6)
      |    AS mean_count,
      |  ROUND(((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
      |      / CAST(n_windows AS DOUBLE)) / CAST(n_windows AS DOUBLE))
      |    / NULLIF(CAST(s AS DOUBLE) / CAST(n_windows AS DOUBLE), 0.0), 6)
      |    AS fano
      |FROM agg
      |ORDER BY event_type, grain_days""".stripMargin
  }

  /** q434 — Fleiss' kappa across the three daily anomaly detectors
    * (q121 MAD, q173 EWMA, q364 CUSUM) per event type: q377 routes on
    * the per-day vote; this grades whether the panel agrees MORE THAN
    * CHANCE at all — a kappa near 0 means the "consensus" column is
    * noise intersecting noise (three detectors that each fire 10% of
    * days agree 1% of the time by luck alone), the standard
    * multi-rater extension of q358's two-rater Cohen form.
    *
    * Exactness: Fleiss reduces entirely to integer counts — per item
    * Σ_j n_ij² over the two categories, the alert total, the item
    * count — combined in one shared double chain (NULLIF-guarded
    * 1−Pe), rounded once.
    *
    * Scale: rides the three detectors' calendar-sized frames; the
    * kappa aggregate is |types| rows.
    */
  def fleissDetectors(spark: SparkSession, dir: String): DataFrame = {
    val mad = dailyAnomalies(spark, dir)
      .select(col("event_type"), col("day"),
        col("is_anomaly").cast("long").as("a1"))
    val ew = ewmaControl(spark, dir)
      .select(col("event_type"), col("day"),
        coalesce(col("is_alert"), lit(0)).cast("long").as("a2"))
    val cu = cusumChart(spark, dir)
      .select(col("event_type"), col("day"),
        col("is_alert").cast("long").as("a3"))
    val items = mad.join(ew, Seq("event_type", "day"))
      .join(cu, Seq("event_type", "day"))
      .withColumn("n1", col("a1") + col("a2") + col("a3"))
      .withColumn("sq", col("n1") * col("n1") +
        (lit(3L) - col("n1")) * (lit(3L) - col("n1")))
    val agg = items.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"), sum(col("n1")).as("total_alerts"),
        sum(col("sq")).as("ssq"))
    val nD = col("n_days").cast("double")
    val pbar = (col("ssq").cast("double") - lit(3.0) * nD) / (lit(6.0) * nD)
    val p1 = col("total_alerts").cast("double") / (lit(3.0) * nD)
    val pe = p1 * p1 + (lit(1.0) - p1) * (lit(1.0) - p1)
    agg.select(col("event_type"), col("n_days"), col("total_alerts"),
        round(pbar, 6).as("p_bar"), round(pe, 6).as("p_e"),
        round((pbar - pe) / nullif(lit(1.0) - pe, lit(0.0)), 6)
          .as("fleiss_kappa"))
      .orderBy(col("event_type"))
  }

  val fleissDetectorsSql: String =
    s"""WITH mad_t AS (
       |  $dailyAnomaliesSql
       |), ew_t AS (
       |  $ewmaControlSql
       |), cu_t AS (
       |  $cusumChartSql
       |), items AS (
       |  SELECT m.event_type,
       |    CAST(m.is_anomaly AS BIGINT) + CAST(COALESCE(e.is_alert, 0)
       |      AS BIGINT) + CAST(c.is_alert AS BIGINT) AS n1
       |  FROM mad_t m
       |  JOIN ew_t e ON m.event_type = e.event_type AND m.day = e.day
       |  JOIN cu_t c ON m.event_type = c.event_type AND m.day = c.day
       |), agg AS (
       |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
       |    CAST(SUM(n1) AS BIGINT) AS total_alerts,
       |    CAST(SUM(n1 * n1 + (3 - n1) * (3 - n1)) AS BIGINT) AS ssq
       |  FROM items GROUP BY 1
       |), k AS (
       |  SELECT event_type, n_days, total_alerts,
       |    (CAST(ssq AS DOUBLE) - 3.0 * CAST(n_days AS DOUBLE))
       |      / (6.0 * CAST(n_days AS DOUBLE)) AS pbar,
       |    CAST(total_alerts AS DOUBLE) / (3.0 * CAST(n_days AS DOUBLE))
       |      AS p1
       |  FROM agg
       |)
       |SELECT event_type, n_days, total_alerts,
       |  ROUND(pbar, 6) AS p_bar,
       |  ROUND(p1 * p1 + (1.0 - p1) * (1.0 - p1), 6) AS p_e,
       |  ROUND((pbar - (p1 * p1 + (1.0 - p1) * (1.0 - p1)))
       |    / NULLIF(1.0 - (p1 * p1 + (1.0 - p1) * (1.0 - p1)), 0.0), 6)
       |    AS fleiss_kappa
       |FROM k
       |ORDER BY event_type""".stripMargin

  /** q437 — trend / seasonal strength (Hyndman's STL feature pair)
    * per event type: F_trend = max(0, 1 − Var(R)/Var(T+R)) and
    * F_seasonal = max(0, 1 − Var(R)/Var(S+R)) over q172's
    * decomposition — the single-number dial that says which types
    * deserve a seasonal model (q258 Holt–Winters) vs a plain one
    * (q241 Holt) vs none, and the feature every forecast router and
    * anomaly-threshold chooser reads first.
    *
    * Exactness: T/S/R are q172's 6dp-rounded columns; variance terms
    * round products at 6dp into DECIMAL(28,6) sums (order-
    * independent); each strength is one shared double chain with
    * NULLIF guards, clamped at 0 by GREATEST, rounded 6dp.
    *
    * Scale: q172's one aggregate + calendar-sized windows, then a
    * |types|-row aggregate.
    */
  def seasonalStrength(spark: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(28, 6)
    val stl = stlDecompose(spark, dir)
      .withColumn("tr", col("trend") + col("resid"))
      .withColumn("sr", col("seasonal") + col("resid"))
    def varCols(x: Column, pre: String): Seq[Column] = Seq(
      sum(x.cast(dec)).cast("double").as(s"${pre}_s"),
      sum(round(x * x, 6).cast(dec)).cast("double").as(s"${pre}_ss"))
    val agg = stl.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        (varCols(col("resid"), "r") ++ varCols(col("tr"), "t") ++
          varCols(col("sr"), "s")): _*)
    val nD = col("n").cast("double")
    def variance(pre: String): Column =
      (col(s"${pre}_ss") - col(s"${pre}_s") * col(s"${pre}_s") / nD) / nD
    agg.select(col("event_type"), col("n").as("n_days"),
        round(variance("r"), 6).as("var_resid"),
        round(greatest(lit(0.0), lit(1.0) -
          variance("r") / nullif(variance("t"), lit(0.0))), 6)
          .as("trend_strength"),
        round(greatest(lit(0.0), lit(1.0) -
          variance("r") / nullif(variance("s"), lit(0.0))), 6)
          .as("seasonal_strength"))
      .orderBy(col("event_type"))
  }

  val seasonalStrengthSql: String =
    s"""WITH stl AS (
       |  $stlDecomposeSql
       |), aug AS (
       |  SELECT event_type, resid, trend + resid AS tr,
       |    seasonal + resid AS sr
       |  FROM stl
       |), agg AS (
       |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(CAST(resid AS DECIMAL(28,6))) AS DOUBLE) AS r_s,
       |    CAST(SUM(CAST(ROUND(resid * resid, 6) AS DECIMAL(28,6)))
       |      AS DOUBLE) AS r_ss,
       |    CAST(SUM(CAST(tr AS DECIMAL(28,6))) AS DOUBLE) AS t_s,
       |    CAST(SUM(CAST(ROUND(tr * tr, 6) AS DECIMAL(28,6)))
       |      AS DOUBLE) AS t_ss,
       |    CAST(SUM(CAST(sr AS DECIMAL(28,6))) AS DOUBLE) AS s_s,
       |    CAST(SUM(CAST(ROUND(sr * sr, 6) AS DECIMAL(28,6)))
       |      AS DOUBLE) AS s_ss
       |  FROM aug GROUP BY 1
       |)
       |SELECT event_type, n AS n_days,
       |  ROUND((r_ss - r_s * r_s / CAST(n AS DOUBLE))
       |    / CAST(n AS DOUBLE), 6) AS var_resid,
       |  ROUND(GREATEST(0.0, 1.0 -
       |    ((r_ss - r_s * r_s / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE))
       |    / NULLIF((t_ss - t_s * t_s / CAST(n AS DOUBLE))
       |      / CAST(n AS DOUBLE), 0.0)), 6) AS trend_strength,
       |  ROUND(GREATEST(0.0, 1.0 -
       |    ((r_ss - r_s * r_s / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE))
       |    / NULLIF((s_ss - s_s * s_s / CAST(n AS DOUBLE))
       |      / CAST(n AS DOUBLE), 0.0)), 6) AS seasonal_strength
       |FROM agg
       |ORDER BY event_type""".stripMargin

  /** q438 — Yuen's trimmed-mean test between each type's FIRST and
    * SECOND half of days (20% symmetric trim): the robust two-sample
    * location test the stats battery lacked — q238 Mann–Whitney asks
    * "did the distribution shift at all", Welch (q287's per-group
    * machinery) is moment-fragile under the heavy tails q414 flags;
    * Yuen compares trimmed means with winsorized variances, the
    * standard compromise (trim the tail days a burst or outage
    * contaminates, keep a mean-difference effect size).
    *
    * Exactness: the split day and per-half trim bounds are integer
    * rank arithmetic (g = floor(0.2·n), fully tiebroken (v, day)
    * order); trimmed sums and winsorized squared sums accumulate
    * integers (counts clamped to integer rank-bound values); the t
    * statistic is one shared double chain, NULLIF-guarded, rounded
    * 6dp before the |t| > 1.96 verdict compare.
    *
    * Scale: one event aggregate, one calendar-sized rank window per
    * half, |types| output rows.
    */
  def yuenTrimmedTest(spark: SparkSession, dir: String,
                      trim: Double = 0.2): DataFrame = {
    val dense = denseDailyCounts(spark, dir)
    val bounds = dense.groupBy(col("event_type"))
      .agg(min(col("day")).as("mn"), max(col("day")).as("mx"))
      .select(col("event_type"),
        expr("mn + (mx - mn) div 2").as("mid"))
    val halves = dense.join(broadcast(bounds), "event_type")
      .withColumn("half", when(col("day") <= col("mid"), 1).otherwise(2))
    val w = Window.partitionBy(col("event_type"), col("half"))
      .orderBy(col("v"), col("day"))
    val ranked = halves
      .withColumn("rk", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(
        Window.partitionBy(col("event_type"), col("half"))))
      .withColumn("g", floor(col("n").cast("double") * trim).cast("long"))
      // winsorized value: clamp ranks outside (g, n-g] to the boundary
      // values — the boundary v's are rank picks, carried by windows
      .withColumn("lo_v", max(when(col("rk") === col("g") + 1, col("v")))
        .over(Window.partitionBy(col("event_type"), col("half"))))
      .withColumn("hi_v", max(when(col("rk") === col("n") - col("g"),
        col("v"))).over(Window.partitionBy(col("event_type"), col("half"))))
      .withColumn("wv", when(col("rk") <= col("g"), col("lo_v"))
        .when(col("rk") > col("n") - col("g"), col("hi_v"))
        .otherwise(col("v")))
      .withColumn("kept", col("rk") > col("g") &&
        col("rk") <= col("n") - col("g"))
    val agg = ranked.groupBy(col("event_type"), col("half"))
      .agg(max(col("n")).as("n"), max(col("g")).as("g"),
        sum(when(col("kept"), col("v"))).as("tsum"),
        sum(col("wv")).as("wsum"),
        sum(col("wv") * col("wv")).as("wss"))
      .withColumn("h", col("n") - lit(2L) * col("g"))
      .withColumn("tmean",
        col("tsum").cast("double") /
          nullif(col("h").cast("double"), lit(0.0)))
      // winsorized sample variance (n-1 denominator)
      .withColumn("wvar",
        (col("wss").cast("double") - col("wsum").cast("double") *
          col("wsum").cast("double") / col("n").cast("double")) /
          nullif(col("n").cast("double") - lit(1.0), lit(0.0)))
      .withColumn("d",
        (col("n").cast("double") - lit(1.0)) * col("wvar") /
          nullif(col("h").cast("double") *
            (col("h").cast("double") - lit(1.0)), lit(0.0)))
    val a = agg.filter(col("half") === 1)
      .select(col("event_type"), col("h").as("h1"),
        col("tmean").as("m1"), col("d").as("d1"))
    val b = agg.filter(col("half") === 2)
      .select(col("event_type"), col("h").as("h2"),
        col("tmean").as("m2"), col("d").as("d2"))
    a.join(b, "event_type")
      .withColumn("t_stat", round((col("m1") - col("m2")) /
        nullif(sqrt(col("d1") + col("d2")), lit(0.0)), 6))
      .select(col("event_type"), col("h1"), col("h2"),
        round(col("m1"), 6).as("trimmed_mean_1"),
        round(col("m2"), 6).as("trimmed_mean_2"),
        col("t_stat"),
        when(col("t_stat").isNull, "degenerate")
          .when(abs(col("t_stat")) > 1.96, "shifted")
          .otherwise("stable").as("verdict"))
      .orderBy(col("event_type"))
  }

  val yuenTrimmedTestSql: String =
    s"""WITH $denseDailyCountsSql, bounds AS (
      |  SELECT event_type, MIN(day) + (MAX(day) - MIN(day)) // 2 AS mid
      |  FROM dense GROUP BY 1
      |), halves AS (
      |  SELECT d.event_type, d.day, d.v,
      |    CASE WHEN d.day <= b.mid THEN 1 ELSE 2 END AS half
      |  FROM dense d JOIN bounds b ON b.event_type = d.event_type
      |), ranked AS (
      |  SELECT *,
      |    CAST(row_number() OVER wo AS BIGINT) AS rk,
      |    CAST(COUNT(*) OVER wp AS BIGINT) AS n,
      |    CAST(FLOOR(CAST(COUNT(*) OVER wp AS DOUBLE) * 0.2) AS BIGINT)
      |      AS g
      |  FROM halves
      |  WINDOW wo AS (PARTITION BY event_type, half ORDER BY v, day),
      |    wp AS (PARTITION BY event_type, half)
      |), winz AS (
      |  SELECT *,
      |    MAX(CASE WHEN rk = g + 1 THEN v END) OVER wp AS lo_v,
      |    MAX(CASE WHEN rk = n - g THEN v END) OVER wp AS hi_v
      |  FROM ranked
      |  WINDOW wp AS (PARTITION BY event_type, half)
      |), wv AS (
      |  SELECT *,
      |    CASE WHEN rk <= g THEN lo_v
      |      WHEN rk > n - g THEN hi_v ELSE v END AS wval,
      |    CASE WHEN rk > g AND rk <= n - g THEN 1 ELSE 0 END AS kept
      |  FROM winz
      |), agg AS (
      |  SELECT event_type, half, MAX(n) AS n, MAX(g) AS g,
      |    CAST(SUM(CASE WHEN kept = 1 THEN v END) AS BIGINT) AS tsum,
      |    CAST(SUM(wval) AS BIGINT) AS wsum,
      |    CAST(SUM(wval * wval) AS BIGINT) AS wss
      |  FROM wv GROUP BY 1, 2
      |), stats AS (
      |  SELECT event_type, half, n - 2 * g AS h,
      |    CAST(tsum AS DOUBLE) / NULLIF(CAST(n - 2 * g AS DOUBLE), 0.0)
      |      AS tmean,
      |    (CAST(n AS DOUBLE) - 1.0)
      |      * ((CAST(wss AS DOUBLE) - CAST(wsum AS DOUBLE)
      |          * CAST(wsum AS DOUBLE) / CAST(n AS DOUBLE))
      |        / NULLIF(CAST(n AS DOUBLE) - 1.0, 0.0))
      |      / NULLIF(CAST(n - 2 * g AS DOUBLE)
      |        * (CAST(n - 2 * g AS DOUBLE) - 1.0), 0.0) AS d
      |  FROM agg
      |), fin AS (
      |  SELECT a.event_type, a.h AS h1, b.h AS h2,
      |    a.tmean AS m1, b.tmean AS m2,
      |    ROUND((a.tmean - b.tmean)
      |      / NULLIF(sqrt(a.d + b.d), 0.0), 6) AS t_stat
      |  FROM stats a JOIN stats b
      |    ON b.event_type = a.event_type AND a.half = 1 AND b.half = 2
      |)
      |SELECT event_type, h1, h2,
      |  ROUND(m1, 6) AS trimmed_mean_1,
      |  ROUND(m2, 6) AS trimmed_mean_2,
      |  t_stat,
      |  CASE WHEN t_stat IS NULL THEN 'degenerate'
      |    WHEN ABS(t_stat) > 1.96 THEN 'shifted'
      |    ELSE 'stable' END AS verdict
      |FROM fin
      |ORDER BY event_type""".stripMargin

  /** q378 — expected shortfall (CVaR) of the daily value series per
    * event type: the α = 5% lower-tail order-statistic VaR plus the
    * MEAN of the tail beyond it — the coherent risk measure (VaR says
    * "the bad day threshold", ES says "how bad the bad days
    * actually are"), and the upper-tail mirror for burst capacity.
    * The readout a revenue-guard or quota-sizing decision consumes
    * from q121/q364's raw series.
    *
    * Exactness: tail sizes are ⌈αn⌉ integers (one ceil of an exact
    * double product); VaRs are exact rank picks off the fully
    * tiebroken per-type sort; tail means are 6dp-rounded
    * DECIMAL(28,6) sums over integer-bounded rank ranges, divided
    * once and rounded.
    *
    * Scale: one (type, day) aggregate + one per-type rank window
    * (calendar-sized) + one per-type aggregate.
    */
  def expectedShortfall(spark: SparkSession, dir: String,
                        alpha: Double = 0.05): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(28, 6)
    val daily = dailyValues(spark, dir)
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("v"), col("day"))
    val ranked = daily
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("n",
        count(lit(1)).over(Window.partitionBy(col("event_type"))))
      .withColumn("k",
        ceil(lit(alpha) * col("n").cast("double")).cast("long"))
    ranked.groupBy(col("event_type")).agg(
        max(col("n")).as("n_days"),
        max(col("k")).as("tail_days"),
        round(max(when(col("rn") === col("k"), col("v"))), 6)
          .as("var_lo"),
        round(sum(when(col("rn") <= col("k"),
            round(col("v"), 6)).otherwise(lit(0.0)).cast(dec))
          .cast("double") / max(col("k")).cast("double"), 6).as("es_lo"),
        round(max(when(col("rn") === col("n") - col("k") + 1, col("v"))), 6)
          .as("var_hi"),
        round(sum(when(col("rn") > col("n") - col("k"),
            round(col("v"), 6)).otherwise(lit(0.0)).cast(dec))
          .cast("double") / max(col("k")).cast("double"), 6).as("es_hi"))
      .orderBy(col("event_type"))
  }

  def expectedShortfallSql(alpha: Double = 0.05): String =
    s"""WITH $dailyValuesCte, ranked AS (
       |  SELECT event_type, v,
       |    CAST(row_number() OVER (PARTITION BY event_type
       |      ORDER BY v, day) AS BIGINT) AS rn,
       |    COUNT(*) OVER (PARTITION BY event_type) AS n
       |  FROM daily
       |), keyed AS (
       |  SELECT *, CAST(CEIL($alpha * CAST(n AS DOUBLE)) AS BIGINT) AS k
       |  FROM ranked
       |)
       |SELECT event_type, CAST(MAX(n) AS BIGINT) AS n_days,
       |  MAX(k) AS tail_days,
       |  ROUND(MAX(CASE WHEN rn = k THEN v END), 6) AS var_lo,
       |  ROUND(CAST(SUM(CAST(CASE WHEN rn <= k THEN ROUND(v, 6)
       |      ELSE 0.0 END AS DECIMAL(28,6))) AS DOUBLE)
       |    / CAST(MAX(k) AS DOUBLE), 6) AS es_lo,
       |  ROUND(MAX(CASE WHEN rn = n - k + 1 THEN v END), 6) AS var_hi,
       |  ROUND(CAST(SUM(CAST(CASE WHEN rn > n - k THEN ROUND(v, 6)
       |      ELSE 0.0 END AS DECIMAL(28,6))) AS DOUBLE)
       |    / CAST(MAX(k) AS DOUBLE), 6) AS es_hi
       |FROM keyed
       |GROUP BY event_type
       |ORDER BY event_type""".stripMargin

  /** q383 — k-fold cross-validated OLS backtest via sufficient-stat
    * ALGEBRA: per event type, the q102 trend model is refit k times
    * with one user-keyed fold held out — but the refits never rescan
    * the data, because train-fold statistics are
    * `global − held-out fold` on the six decimal-exact sums, and the
    * held-out RMSE expands the squared error over the SAME six stats
    * (Σ(y−a−bx)² = syy − 2a·sy − 2b·sxy + 2ab·sx + a²n + b²sxx).
    * This is the 100 TB form of cross-validation for any linear
    * model: one aggregate pass, then pure |types|×k algebra — the
    * naive "refit k times" loop never happens (the q331 leave-one-out
    * discipline, upgraded from group means to a fitted model).
    *
    * Exactness: folds are integer user-id arithmetic (leak-free by
    * user, the q326 folding rule); all sums stay DECIMAL through the
    * global-minus-fold subtraction (exact) and cast to double once;
    * slope/intercept/SSE run in one fixed operand order; intercept
    * rounds at 4dp (the q102 half-boundary caveat).
    *
    * Scale: ONE (type, fold) aggregate over the event scan; the rest
    * is window algebra over |types|×k rows.
    */
  def kfoldOlsBacktest(spark: SparkSession, dir: String,
                       k: Int = 5): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(28, 6)
    val e = Tables.load(spark, dir, "events")
      .withColumn("x", epochDayExpr.cast("double"))
      .withColumn("y", col("value"))
      .withColumn("fold", (col("user_id") % k).cast("int"))
    val per = e.groupBy(col("event_type"), col("fold")).agg(
      count(lit(1)).as("n"),
      sum(col("x").cast(dec)).as("sx"),
      sum(col("y").cast(dec)).as("sy"),
      sum(round(col("x") * col("x"), 6).cast(dec)).as("sxx"),
      sum(round(col("x") * col("y"), 6).cast(dec)).as("sxy"),
      sum(round(col("y") * col("y"), 6).cast(dec)).as("syy"))
    val wT = Window.partitionBy(col("event_type"))
    def tr(c: String): Column =
      (sum(col(c)).over(wT) - col(c)).cast("double")
    val folds = per
      .withColumn("tr_n", (sum(col("n")).over(wT) - col("n")).cast("double"))
      .withColumn("tr_sx", tr("sx")).withColumn("tr_sy", tr("sy"))
      .withColumn("tr_sxx", tr("sxx")).withColumn("tr_sxy", tr("sxy"))
      .withColumn("te_n", col("n").cast("double"))
      .withColumn("te_sx", col("sx").cast("double"))
      .withColumn("te_sy", col("sy").cast("double"))
      .withColumn("te_sxx", col("sxx").cast("double"))
      .withColumn("te_sxy", col("sxy").cast("double"))
      .withColumn("te_syy", col("syy").cast("double"))
      .withColumn("den", nullif(
        col("tr_n") * col("tr_sxx") - col("tr_sx") * col("tr_sx"),
        lit(0.0)))
      .withColumn("b",
        (col("tr_n") * col("tr_sxy") - col("tr_sx") * col("tr_sy")) /
          col("den"))
      .withColumn("a",
        (col("tr_sy") - col("b") * col("tr_sx")) / col("tr_n"))
      .withColumn("sse",
        col("te_syy") - lit(2) * col("a") * col("te_sy") -
          lit(2) * col("b") * col("te_sxy") +
          lit(2) * col("a") * col("b") * col("te_sx") +
          col("a") * col("a") * col("te_n") +
          col("b") * col("b") * col("te_sxx"))
    folds.select(col("event_type"), col("fold"),
        col("tr_n").cast("long").as("n_train"),
        col("n").as("n_test"),
        round(col("b"), 6).as("slope"),
        round(col("a"), 4).as("intercept"),
        round(sqrt(greatest(lit(0.0), col("sse")) / col("te_n")), 6)
          .as("rmse"))
      .orderBy(col("event_type"), col("fold"))
  }

  def kfoldOlsBacktestSql(k: Int = 5): String =
    s"""WITH per AS (
       |  SELECT event_type, CAST(user_id % $k AS INT) AS fold,
       |    CAST(COUNT(*) AS BIGINT) AS n,
       |    SUM(CAST(epoch_ms(ts) // 86400000 AS DECIMAL(28,6))) AS sx,
       |    SUM(CAST(value AS DECIMAL(28,6))) AS sy,
       |    SUM(CAST(ROUND(CAST(epoch_ms(ts) // 86400000 AS DOUBLE)
       |      * CAST(epoch_ms(ts) // 86400000 AS DOUBLE), 6)
       |      AS DECIMAL(28,6))) AS sxx,
       |    SUM(CAST(ROUND(CAST(epoch_ms(ts) // 86400000 AS DOUBLE)
       |      * value, 6) AS DECIMAL(28,6))) AS sxy,
       |    SUM(CAST(ROUND(value * value, 6) AS DECIMAL(28,6))) AS syy
       |  FROM events GROUP BY 1, 2
       |), folds AS (
       |  SELECT event_type, fold, n,
       |    CAST(SUM(n) OVER w - n AS DOUBLE) AS tr_n,
       |    CAST(SUM(sx) OVER w - sx AS DOUBLE) AS tr_sx,
       |    CAST(SUM(sy) OVER w - sy AS DOUBLE) AS tr_sy,
       |    CAST(SUM(sxx) OVER w - sxx AS DOUBLE) AS tr_sxx,
       |    CAST(SUM(sxy) OVER w - sxy AS DOUBLE) AS tr_sxy,
       |    CAST(n AS DOUBLE) AS te_n, CAST(sx AS DOUBLE) AS te_sx,
       |    CAST(sy AS DOUBLE) AS te_sy, CAST(sxx AS DOUBLE) AS te_sxx,
       |    CAST(sxy AS DOUBLE) AS te_sxy, CAST(syy AS DOUBLE) AS te_syy
       |  FROM per
       |  WINDOW w AS (PARTITION BY event_type)
       |), fit AS (
       |  SELECT *,
       |    (tr_n * tr_sxy - tr_sx * tr_sy)
       |      / NULLIF(tr_n * tr_sxx - tr_sx * tr_sx, 0.0) AS b
       |  FROM folds
       |), fit2 AS (
       |  SELECT *, (tr_sy - b * tr_sx) / tr_n AS a FROM fit
       |)
       |SELECT event_type, fold, CAST(tr_n AS BIGINT) AS n_train,
       |  n AS n_test,
       |  ROUND(b, 6) AS slope, ROUND(a, 4) AS intercept,
       |  ROUND(sqrt(GREATEST(0.0,
       |    te_syy - 2 * a * te_sy - 2 * b * te_sxy
       |      + 2 * a * b * te_sx + a * a * te_n + b * b * te_sxx)
       |    / te_n), 6) AS rmse
       |FROM fit2
       |ORDER BY event_type, fold""".stripMargin

  /** q393 — Diebold–Mariano test between the two q222 baseline
    * forecasts (naive lag-1 vs seasonal-naive lag-7) on each type's
    * dense daily series: the loss-differential t-statistic with the
    * Newey–West (Bartlett, h = 7) HAC variance — the econometric
    * answer to "is forecast A actually better, or did it win this
    * sample by luck?". q222 reports each model's error level; a 100 TB
    * forecasting platform promotes a model only on a significant DM,
    * because autocorrelated daily losses make naive t-tests
    * overconfident by design.
    *
    * Exactness: loss differentials d_t = |e₁| − |e₂| round at 6dp;
    * the mean and every lagged autocovariance term round at 6dp
    * before DECIMAL(28,6) sums (one window pass computes all six
    * lags); the HAC variance and the statistic are one fixed double
    * chain, NULL-guarded when non-positive (small-sample HAC can go
    * negative — surfaced, not hidden).
    *
    * Scale: one (type, day) aggregate, a calendar spine, ONE
    * type-partitioned day-ordered window (lags 1 and 7 for the
    * forecasts + 6 differential lags ride the same sort), two
    * calendar-sized aggregates.
    */
  def dieboldMariano(spark: SparkSession, dir: String,
                     h: Int = 7): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(28, 6)
    val daily = dailyValues(spark, dir)
    val bounds = daily.groupBy(col("event_type"))
      .agg(min(col("day")).as("mn"), max(col("day")).as("mx"))
    val spine = bounds.select(col("event_type"),
      explode(sequence(col("mn"), col("mx"))).as("day"))
    val dense = spine.join(daily, Seq("event_type", "day"), "left")
      .withColumn("v", coalesce(col("v"), lit(0.0)))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val withD = dense
      .withColumn("f1", lag(col("v"), 1).over(w))
      .withColumn("f7", lag(col("v"), 7).over(w))
      .filter(col("f7").isNotNull)
      .withColumn("d",
        round(abs(col("v") - col("f1")) - abs(col("v") - col("f7")), 6))
    val mean = withD.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        (sum(col("d").cast(dec)).cast("double") /
          count(lit(1)).cast("double")).as("dbar"))
    val centered = withD.join(broadcast(mean), "event_type")
      .withColumn("c", col("d") - col("dbar"))
    val lagged = (1 until h).foldLeft(
        centered.withColumn("c0", col("c")))( (df, k) =>
      df.withColumn(s"c$k", lag(col("c"), k).over(w)))
    val gAggs = count(lit(1)).as("nn") +:
      (0 until h).map(k =>
        sum(round(col("c0") * col(s"c$k"), 6).cast(dec))
          .cast("double").as(s"g$k"))
    val gammas = lagged.groupBy(col("event_type"))
      .agg(gAggs.head, gAggs.tail: _*)
    val bart = (1 until h).map(k =>
      lit(2.0 * (1.0 - k.toDouble / h)) * col(s"g$k") /
        col("nn").cast("double"))
    mean.join(broadcast(gammas), "event_type")
      .withColumn("hac_var",
        bart.foldLeft(col("g0") / col("nn").cast("double"))(_ + _))
      .withColumn("dm_stat",
        when(col("hac_var") > 0,
          round(col("dbar") /
            sqrt(col("hac_var") / col("n").cast("double")), 6)))
      .select(col("event_type"), col("n"),
        round(col("dbar"), 6).as("mean_loss_diff"),
        round(col("hac_var"), 6).as("hac_var"),
        col("dm_stat"),
        when(col("dm_stat").isNull, "inconclusive")
          .when(col("dm_stat") < -1.959964, "naive_better")
          .when(col("dm_stat") > 1.959964, "seasonal_better")
          .otherwise("no_significant_diff").as("verdict"))
      .orderBy(col("event_type"))
  }

  def dieboldMarianoSql(h: Int = 7): String = {
    val gCols = (0 until h).map(k =>
      s"""CAST(SUM(CAST(ROUND(c0 * c$k, 6) AS DECIMAL(28,6)))
         |      AS DOUBLE) AS g$k""".stripMargin).mkString(",\n    ")
    val lagCols = (1 until h).map(k =>
      s"lag(c, $k) OVER (PARTITION BY event_type ORDER BY day) AS c$k")
      .mkString(",\n    ")
    val bart = (1 until h).map(k =>
      s"2.0 * ${1.0 - k.toDouble / h} * g$k / CAST(nn AS DOUBLE)")
      .mkString(" + ")
    s"""WITH $dailyValuesCte, bounds AS (
       |  SELECT event_type, MIN(day) AS mn, MAX(day) AS mx
       |  FROM daily GROUP BY 1
       |), spine AS (
       |  SELECT event_type, unnest(range(mn, mx + 1)) AS day FROM bounds
       |), dense AS (
       |  SELECT s.event_type, s.day, COALESCE(d.v, 0.0) AS v
       |  FROM spine s LEFT JOIN daily d
       |    ON d.event_type = s.event_type AND d.day = s.day
       |), diffs AS (
       |  SELECT event_type, day,
       |    ROUND(ABS(v - f1) - ABS(v - f7), 6) AS d
       |  FROM (
       |    SELECT event_type, day, v,
       |      lag(v, 1) OVER (PARTITION BY event_type ORDER BY day) AS f1,
       |      lag(v, 7) OVER (PARTITION BY event_type ORDER BY day) AS f7
       |    FROM dense
       |  ) WHERE f7 IS NOT NULL
       |), m AS (
       |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(CAST(d AS DECIMAL(28,6))) AS DOUBLE)
       |      / CAST(COUNT(*) AS DOUBLE) AS dbar
       |  FROM diffs GROUP BY 1
       |), centered AS (
       |  SELECT d.event_type, d.day, d.d - m.dbar AS c
       |  FROM diffs d JOIN m ON d.event_type = m.event_type
       |), lagged AS (
       |  SELECT event_type, c AS c0,
       |    $lagCols
       |  FROM centered
       |), gam AS (
       |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS nn,
       |    $gCols
       |  FROM lagged GROUP BY 1
       |), hac AS (
       |  SELECT m.event_type, m.n, m.dbar,
       |    g.g0 / CAST(g.nn AS DOUBLE) + $bart AS hac_var
       |  FROM m JOIN gam g ON m.event_type = g.event_type
       |)
       |SELECT event_type, n,
       |  ROUND(dbar, 6) AS mean_loss_diff,
       |  ROUND(hac_var, 6) AS hac_var,
       |  CASE WHEN hac_var > 0
       |    THEN ROUND(dbar / sqrt(hac_var / CAST(n AS DOUBLE)), 6)
       |  END AS dm_stat,
       |  CASE
       |    -- NULL hac_var (series shorter than the h-lag window makes
       |    -- a g_k sum over zero rows NULL) must be 'inconclusive' on
       |    -- both engines, matching Spark's dm_stat-IS-NULL branch
       |    WHEN hac_var IS NULL OR hac_var <= 0 THEN 'inconclusive'
       |    WHEN ROUND(dbar / sqrt(hac_var / CAST(n AS DOUBLE)), 6)
       |      < -1.959964 THEN 'naive_better'
       |    WHEN ROUND(dbar / sqrt(hac_var / CAST(n AS DOUBLE)), 6)
       |      > 1.959964 THEN 'seasonal_better'
       |    ELSE 'no_significant_diff' END AS verdict
       |FROM hac
       |ORDER BY event_type""".stripMargin
  }

  /** q394 — behavior-LM holdout cross-entropy: a first-order Markov
    * model over event-type transitions is TRAINED on even-id users
    * and EVALUATED (add-1 smoothed, per-origin-state cross-entropy in
    * nats) on odd-id users — q56's language-model holdout discipline
    * aimed at BEHAVIOR instead of text. The number a session-model or
    * next-event predictor must beat, split leak-free by user (the
    * q326 rule), and the per-origin rows show exactly WHICH states'
    * futures are predictable (a high-CE origin is where a product
    * flow is erratic).
    *
    * Exactness: transition counts are integers off one user-keyed
    * window; smoothed probabilities are integer-count ratios; each
    * −ln p rounds at 6dp and multiplies an INTEGER test count before
    * its DECIMAL(28,6) sum; one rounded division per origin.
    *
    * Scale: one user-partitioned window pass (the q92 shape), two
    * |types|²-bounded count tables, broadcast joins.
    */
  def behaviorLmHoldout(spark: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(28, 6)
    val w = Window.partitionBy(col("user_id"))
      .orderBy(graft.operators.Relational.tsMs("ts"), col("event_id"))
    val tr = Tables.load(spark, dir, "events")
      .withColumn("b", lead(col("event_type"), 1).over(w))
      .filter(col("b").isNotNull)
      .select((col("user_id") % 2 === 0).as("is_train"),
        col("event_type").as("a"), col("b"))
    val kRow = Tables.load(spark, dir, "events")
      .agg(countDistinct(col("event_type")).as("k"))
    val trainAb = tr.filter(col("is_train"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("c_ab"))
    val trainA = trainAb.groupBy(col("a")).agg(sum(col("c_ab")).as("c_a"))
    val testAb = tr.filter(!col("is_train"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("t_ab"))
    testAb
      .join(broadcast(trainAb), Seq("a", "b"), "left")
      .join(broadcast(trainA), Seq("a"), "left")
      .crossJoin(broadcast(kRow))
      .withColumn("c_ab", coalesce(col("c_ab"), lit(0L)))
      .withColumn("c_a", coalesce(col("c_a"), lit(0L)))
      .withColumn("p",
        (col("c_ab") + 1).cast("double") /
          (col("c_a") + col("k")).cast("double"))
      .withColumn("term",
        round(-log(col("p")), 6).cast(dec) * col("t_ab"))
      .groupBy(col("a"))
      .agg(sum(col("t_ab")).as("n_test"),
        round(sum(col("term")).cast("double") /
          sum(col("t_ab")).cast("double"), 6).as("cross_entropy_nats"))
      .select(col("a").as("from_state"), col("n_test"),
        col("cross_entropy_nats"))
      .orderBy(col("from_state"))
  }

  val behaviorLmHoldoutSql: String =
    """WITH tr AS (
      |  SELECT user_id % 2 = 0 AS is_train, event_type AS a, b FROM (
      |    SELECT user_id, event_type,
      |      lead(event_type) OVER (PARTITION BY user_id
      |        ORDER BY epoch_ms(ts), event_id) AS b
      |    FROM events
      |  ) WHERE b IS NOT NULL
      |), kk AS (
      |  SELECT CAST(COUNT(DISTINCT event_type) AS BIGINT) AS k FROM events
      |), train_ab AS (
      |  SELECT a, b, CAST(COUNT(*) AS BIGINT) AS c_ab FROM tr
      |  WHERE is_train GROUP BY 1, 2
      |), train_a AS (
      |  SELECT a, CAST(SUM(c_ab) AS BIGINT) AS c_a FROM train_ab GROUP BY 1
      |), test_ab AS (
      |  SELECT a, b, CAST(COUNT(*) AS BIGINT) AS t_ab FROM tr
      |  WHERE NOT is_train GROUP BY 1, 2
      |), scored AS (
      |  SELECT t.a, t.t_ab,
      |    CAST(ROUND(-ln(
      |      CAST(COALESCE(ta.c_ab, 0) + 1 AS DOUBLE)
      |        / CAST(COALESCE(tb.c_a, 0) + kk.k AS DOUBLE)), 6)
      |      AS DECIMAL(28,6)) * t.t_ab AS term
      |  FROM test_ab t
      |  LEFT JOIN train_ab ta ON ta.a = t.a AND ta.b = t.b
      |  LEFT JOIN train_a tb ON tb.a = t.a
      |  CROSS JOIN kk
      |)
      |SELECT a AS from_state, CAST(SUM(t_ab) AS BIGINT) AS n_test,
      |  ROUND(CAST(SUM(term) AS DOUBLE) / CAST(SUM(t_ab) AS DOUBLE), 6)
      |    AS cross_entropy_nats
      |FROM scored
      |GROUP BY a
      |ORDER BY from_state""".stripMargin

  /** Poisson(1) inverse-CDF thresholds (cumulative e⁻¹/k!), shared
    * 10dp literals — both engines compare the identical doubles. */
  private val poissonCdf: Seq[Double] = Seq(
    0.3678794412, 0.7357588823, 0.9196986029, 0.9810118431,
    0.9963401532, 0.9994058152, 0.9999167589, 0.9999897508,
    0.9999988748)

  /** q396 — Poisson bootstrap of the per-type mean user value: every
    * (user, replicate) pair draws an independent Poisson(1) weight
    * from a seeded uniform, so ALL R resamples ride ONE pass — the
    * 100 TB bootstrap. q154's index-resampling needs the sample
    * materialized per replicate (fine at audit scale, impossible at
    * corpus scale); the Poisson trick is the standard scalable
    * substitute (per-row independence ⇒ no coordination), and the
    * replicate-mean spread + percentile CI it yields are the error
    * bars every mean in this engine should wear at scale.
    *
    * Determinism: uniforms are the q308 md5 convention keyed on
    * (type, replicate, user); the Poisson draw is a CASE over shared
    * 10dp CDF literals — integer weights, identical both engines.
    * Replicate means are decimal-weighted-sum / integer-weight-sum
    * doubles; the across-replicate sd uses the q332 moment
    * discipline; the CI is an exact rank pick over the R means.
    *
    * Scale: one (type, user) aggregate, a ×R explode of the
    * USER-sized frame (the q371 posture — never event-scaled), one
    * (type, replicate) aggregate, one R-sized window per type.
    */
  def poissonBootstrap(spark: SparkSession, dir: String,
                       reps: Int = 50): DataFrame = {
    import graft.functions.PortableHash
    val dec = org.apache.spark.sql.types.DecimalType(28, 6)
    val perUser = Tables.load(spark, dir, "events")
      .groupBy(col("event_type"), col("user_id"))
      .agg(round(graft.operators.Relational.decSum(col("value"))
        / count(col("value")), 6).as("x"))
      .transform(graft.Iterate.cut) // consumers: the point mean + the ×R explode
    val point = perUser.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_users"),
        (sum(col("x").cast(dec)).cast("double") /
          count(lit(1)).cast("double")).as("point_mean"))
    val u = (PortableHash.md5Long60(concat(col("event_type"), lit("|"),
      col("r").cast("string"), lit("|"), col("user_id").cast("string")))
      .cast("double") + 0.5) / lit((1L << 60).toDouble)
    val wDraw = poissonCdf.zipWithIndex.foldRight(
        lit(poissonCdf.length): Column) { case ((t, k), rest) =>
      when(u < t, k).otherwise(rest)
    }
    val repMeans = perUser
      .select(col("event_type"), col("user_id"), col("x"),
        explode(sequence(lit(1), lit(reps))).as("r"))
      .withColumn("w", wDraw.cast("long"))
      .groupBy(col("event_type"), col("r"))
      .agg((sum(col("x").cast(dec) * col("w")).cast("double") /
        nullif(sum(col("w")).cast("double"), lit(0.0))).as("m"))
    val wRank = Window.partitionBy(col("event_type"))
      .orderBy(col("m"), col("r"))
    val loIdx = math.ceil(0.025 * reps).toLong
    val hiIdx = math.ceil(0.975 * reps).toLong
    val stats = repMeans
      .withColumn("rk", row_number().over(wRank).cast("long"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_reps"),
        sum(round(col("m"), 6).cast(dec)).cast("double").as("sm"),
        sum(round(col("m") * col("m"), 6).cast(dec)).cast("double")
          .as("smm"),
        max(when(col("rk") === loIdx, col("m"))).as("ci_lo_raw"),
        max(when(col("rk") === hiIdx, col("m"))).as("ci_hi_raw"))
    point.join(broadcast(stats), "event_type")
      .select(col("event_type"), col("n_users"),
        round(col("point_mean"), 6).as("point_mean"),
        col("n_reps"),
        round(sqrt(greatest(lit(0.0),
          col("smm") / col("n_reps") -
            (col("sm") / col("n_reps")) * (col("sm") / col("n_reps")))),
          6).as("boot_sd"),
        round(col("ci_lo_raw"), 6).as("ci_lo"),
        round(col("ci_hi_raw"), 6).as("ci_hi"))
      .orderBy(col("event_type"))
  }

  def poissonBootstrapSql(reps: Int = 50): String = {
    val draw = poissonCdf.zipWithIndex
      .map { case (t, k) => s"WHEN u < $t THEN $k" }
      .mkString("CASE ", " ", s" ELSE ${poissonCdf.length} END")
    val loIdx = math.ceil(0.025 * reps).toLong
    val hiIdx = math.ceil(0.975 * reps).toLong
    s"""WITH per_user AS (
       |  SELECT event_type, user_id,
       |    ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
       |      / COUNT(value), 6) AS x
       |  FROM events GROUP BY 1, 2
       |), point AS (
       |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_users,
       |    CAST(SUM(CAST(x AS DECIMAL(28,6))) AS DOUBLE)
       |      / CAST(COUNT(*) AS DOUBLE) AS point_mean
       |  FROM per_user GROUP BY 1
       |), drawn AS (
       |  SELECT event_type, r, x, $draw AS w FROM (
       |    SELECT p.event_type, p.user_id, p.x, g.r,
       |      (CAST(CAST(('0x' || substr(md5(p.event_type || '|' ||
       |        CAST(g.r AS VARCHAR) || '|' || CAST(p.user_id AS VARCHAR)),
       |        1, 15)) AS BIGINT) AS DOUBLE) + 0.5) / POWER(2.0, 60) AS u
       |    FROM per_user p
       |    CROSS JOIN (SELECT unnest(range(1, $reps + 1)) AS r) g
       |  )
       |), rep_means AS (
       |  SELECT event_type, r,
       |    CAST(SUM(CAST(x AS DECIMAL(28,6)) * w) AS DOUBLE)
       |      / NULLIF(CAST(SUM(w) AS DOUBLE), 0.0) AS m
       |  FROM drawn GROUP BY 1, 2
       |), ranked AS (
       |  SELECT event_type, m,
       |    CAST(row_number() OVER (PARTITION BY event_type
       |      ORDER BY m, r) AS BIGINT) AS rk
       |  FROM rep_means
       |), stats AS (
       |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_reps,
       |    CAST(SUM(CAST(ROUND(m, 6) AS DECIMAL(28,6))) AS DOUBLE) AS sm,
       |    CAST(SUM(CAST(ROUND(m * m, 6) AS DECIMAL(28,6))) AS DOUBLE)
       |      AS smm,
       |    MAX(CASE WHEN rk = $loIdx THEN m END) AS ci_lo_raw,
       |    MAX(CASE WHEN rk = $hiIdx THEN m END) AS ci_hi_raw
       |  FROM ranked GROUP BY 1
       |)
       |SELECT p.event_type, p.n_users,
       |  ROUND(p.point_mean, 6) AS point_mean,
       |  s.n_reps,
       |  ROUND(sqrt(GREATEST(0.0,
       |    s.smm / s.n_reps - (s.sm / s.n_reps) * (s.sm / s.n_reps))), 6)
       |    AS boot_sd,
       |  ROUND(s.ci_lo_raw, 6) AS ci_lo,
       |  ROUND(s.ci_hi_raw, 6) AS ci_hi
       |FROM point p JOIN stats s ON p.event_type = s.event_type
       |ORDER BY p.event_type""".stripMargin
  }

  /** q397 — variance decomposition of each type's daily series: what
    * share of the day-to-day variance a DAY-OF-WEEK model explains
    * (between-group SS over the 7 weekday cells) vs a LINEAR TREND
    * (regression SS), against the total — the model-selection dial
    * that q145 (DOW means), q102 (trend fit) and q172 (STL) all
    * presuppose an answer to: a series with share_dow 0.6 wants q258's
    * seasonal model, one with share_trend 0.5 wants q241's Holt, one
    * with both near 0 is noise and deserves q121's screen, nothing
    * more. The two shares are MARGINAL (each model alone vs total),
    * not an orthogonal partition — stated, because DOW and trend are
    * correlated on finite windows.
    *
    * Exactness: everything derives from decimal sufficient sums
    * (6dp-rounded products) on the dense calendar — between-group SS
    * via Σ s_d²/n_d − s²/n (6dp-rounded per-cell terms), trend SS via
    * Sxy²/Sxx — and the shares are single rounded divisions,
    * NULL-guarded on constant series.
    *
    * Scale: one (type, day) aggregate + spine, one (type, dow)
    * aggregate, calendar-sized algebra.
    */
  def varianceDecomposition(spark: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(28, 6)
    def dsum(c: Column): Column = sum(c.cast(dec)).cast("double")
    val daily = dailyValues(spark, dir)
    val bounds = daily.groupBy(col("event_type"))
      .agg(min(col("day")).as("mn"), max(col("day")).as("mx"))
    val dense = bounds.select(col("event_type"),
        explode(sequence(col("mn"), col("mx"))).as("day"))
      .join(daily, Seq("event_type", "day"), "left")
      .withColumn("v", coalesce(col("v"), lit(0.0)))
      .withColumn("x", col("day").cast("double"))
      .withColumn("dow", pmod(col("day"), lit(7)))
      .transform(graft.Iterate.cut) // consumers: the global and the DOW aggregate
    val g = dense.groupBy(col("event_type")).agg(
      count(lit(1)).as("n"),
      dsum(col("v")).as("sy"),
      dsum(round(col("v") * col("v"), 6)).as("syy"),
      dsum(col("x")).as("sx"),
      dsum(round(col("x") * col("x"), 6)).as("sxx"),
      dsum(round(col("x") * col("v"), 6)).as("sxy"))
    val d = dense.groupBy(col("event_type"), col("dow"))
      .agg(count(lit(1)).as("n_d"), dsum(col("v")).as("sy_d"))
      .groupBy(col("event_type"))
      .agg(sum(round(col("sy_d") * col("sy_d") /
          col("n_d").cast("double"), 6).cast(dec))
        .cast("double").as("dow_num"))
    g.join(broadcast(d), "event_type")
      .withColumn("nn", col("n").cast("double"))
      .withColumn("ss_tot",
        col("syy") - col("sy") * col("sy") / col("nn"))
      .withColumn("ss_dow",
        col("dow_num") - col("sy") * col("sy") / col("nn"))
      .withColumn("sxx_c",
        nullif(col("sxx") - col("sx") * col("sx") / col("nn"), lit(0.0)))
      .withColumn("sxy_c",
        col("sxy") - col("sx") * col("sy") / col("nn"))
      .withColumn("ss_trend",
        col("sxy_c") * col("sxy_c") / col("sxx_c"))
      .select(col("event_type"), col("n").as("n_days"),
        round(col("ss_tot"), 6).as("ss_tot"),
        round(col("ss_dow") / nullif(col("ss_tot"), lit(0.0)), 6)
          .as("share_dow"),
        round(col("ss_trend") / nullif(col("ss_tot"), lit(0.0)), 6)
          .as("share_trend"))
      .orderBy(col("event_type"))
  }

  val varianceDecompositionSql: String =
    s"""WITH $dailyValuesCte, bounds AS (
      |  SELECT event_type, MIN(day) AS mn, MAX(day) AS mx
      |  FROM daily GROUP BY 1
      |), dense AS (
      |  SELECT s.event_type, s.day, COALESCE(d.v, 0.0) AS v,
      |    CAST(s.day AS DOUBLE) AS x, s.day % 7 AS dow
      |  FROM (SELECT event_type, unnest(range(mn, mx + 1)) AS day
      |        FROM bounds) s
      |  LEFT JOIN daily d ON d.event_type = s.event_type AND d.day = s.day
      |), g AS (
      |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(CAST(v AS DECIMAL(28,6))) AS DOUBLE) AS sy,
      |    CAST(SUM(CAST(ROUND(v * v, 6) AS DECIMAL(28,6))) AS DOUBLE)
      |      AS syy,
      |    CAST(SUM(CAST(x AS DECIMAL(28,6))) AS DOUBLE) AS sx,
      |    CAST(SUM(CAST(ROUND(x * x, 6) AS DECIMAL(28,6))) AS DOUBLE)
      |      AS sxx,
      |    CAST(SUM(CAST(ROUND(x * v, 6) AS DECIMAL(28,6))) AS DOUBLE)
      |      AS sxy
      |  FROM dense GROUP BY 1
      |), dd AS (
      |  SELECT event_type,
      |    CAST(SUM(CAST(ROUND(sy_d * sy_d / CAST(n_d AS DOUBLE), 6)
      |      AS DECIMAL(28,6))) AS DOUBLE) AS dow_num
      |  FROM (
      |    SELECT event_type, dow, CAST(COUNT(*) AS BIGINT) AS n_d,
      |      CAST(SUM(CAST(v AS DECIMAL(28,6))) AS DOUBLE) AS sy_d
      |    FROM dense GROUP BY 1, 2
      |  ) GROUP BY 1
      |), calc AS (
      |  SELECT g.event_type, g.n,
      |    g.syy - g.sy * g.sy / CAST(g.n AS DOUBLE) AS ss_tot,
      |    dd.dow_num - g.sy * g.sy / CAST(g.n AS DOUBLE) AS ss_dow,
      |    (g.sxy - g.sx * g.sy / CAST(g.n AS DOUBLE))
      |      * (g.sxy - g.sx * g.sy / CAST(g.n AS DOUBLE))
      |      / NULLIF(g.sxx - g.sx * g.sx / CAST(g.n AS DOUBLE), 0.0)
      |      AS ss_trend
      |  FROM g JOIN dd ON g.event_type = dd.event_type
      |)
      |SELECT event_type, n AS n_days,
      |  ROUND(ss_tot, 6) AS ss_tot,
      |  ROUND(ss_dow / NULLIF(ss_tot, 0.0), 6) AS share_dow,
      |  ROUND(ss_trend / NULLIF(ss_tot, 0.0), 6) AS share_trend
      |FROM calc
      |ORDER BY event_type""".stripMargin

  /** q412 — Wald–Wolfowitz runs test on each type's daily series: the
    * sign sequence of (value − median) is counted for RUNS (maximal
    * same-sign stretches), and too FEW runs vs the exact null moments
    * E[R] = 2·n₊·n₋/n + 1, Var[R] = (E−1)(E−2)/(n−1) means the
    * residual sequence is positively dependent — the
    * model-free randomness check a forecaster runs on residuals
    * before trusting q393's loss comparisons (which assume the HAC
    * window covered the dependence). Median-days are EXCLUDED, the
    * standard convention, with their count surfaced.
    *
    * Exactness: the median is an exact doubled order statistic; signs
    * and run counts are integers off one lag window (a run starts
    * where the sign differs from the previous kept day); E and Var
    * are fixed double chains off three integers; one rounded z.
    *
    * Scale: one (type, day) aggregate, one rank window for the
    * median, one day-ordered lag window, one per-type aggregate —
    * all calendar-sized.
    */
  def runsTest(spark: SparkSession, dir: String): DataFrame = {
    val daily = dailyValues(spark, dir)
    val wMed = Window.partitionBy(col("event_type"))
      .orderBy(col("v"), col("day"))
    val med = daily
      .withColumn("rn", row_number().over(wMed).cast("long"))
      .withColumn("n", count(lit(1)).over(
        Window.partitionBy(col("event_type"))))
      .groupBy(col("event_type"))
      .agg(((max(when(col("rn") === expr("(n + 1) div 2"), col("v"))) +
        max(when(col("rn") === expr("(n + 2) div 2"), col("v")))) / 2)
        .as("med"))
    val signed = daily.join(broadcast(med), "event_type")
      .filter(col("v") =!= col("med"))
      .withColumn("sgn", (col("v") > col("med")).cast("int"))
    val wDay = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val runs = signed
      .withColumn("new_run",
        (lag(col("sgn"), 1).over(wDay).isNull ||
          lag(col("sgn"), 1).over(wDay) =!= col("sgn")).cast("long"))
    val excluded = daily.join(broadcast(med), "event_type")
      .groupBy(col("event_type"))
      .agg(sum((col("v") === col("med")).cast("long")).as("n_excluded"))
    runs.groupBy(col("event_type")).agg(
        count(lit(1)).as("n_kept"),
        sum(col("sgn").cast("long")).as("n_pos"),
        (count(lit(1)) - sum(col("sgn").cast("long"))).as("n_neg"),
        sum(col("new_run")).as("n_runs"))
      .join(broadcast(excluded), "event_type")
      .withColumn("e_runs",
        lit(2.0) * col("n_pos").cast("double") *
          col("n_neg").cast("double") / col("n_kept").cast("double") +
          lit(1.0))
      .withColumn("var_runs",
        (col("e_runs") - 1) * (col("e_runs") - 2) /
          nullif((col("n_kept") - 1).cast("double"), lit(0.0)))
      .select(col("event_type"), col("n_kept"), col("n_excluded"),
        col("n_pos"), col("n_neg"), col("n_runs"),
        round(col("e_runs"), 6).as("e_runs"),
        round(when(col("var_runs") > 0,
          (col("n_runs").cast("double") - col("e_runs")) /
            sqrt(col("var_runs"))), 6).as("z"))
      .orderBy(col("event_type"))
  }

  val runsTestSql: String =
    s"""WITH $dailyValuesCte, med AS (
      |  SELECT event_type,
      |    (MAX(CASE WHEN rn = (n + 1) // 2 THEN v END)
      |      + MAX(CASE WHEN rn = (n + 2) // 2 THEN v END)) / 2 AS med
      |  FROM (
      |    SELECT event_type, v,
      |      CAST(row_number() OVER (PARTITION BY event_type
      |        ORDER BY v, day) AS BIGINT) AS rn,
      |      COUNT(*) OVER (PARTITION BY event_type) AS n
      |    FROM daily
      |  ) GROUP BY 1
      |), signed AS (
      |  SELECT d.event_type, d.day,
      |    CASE WHEN d.v > m.med THEN 1 ELSE 0 END AS sgn
      |  FROM daily d JOIN med m ON d.event_type = m.event_type
      |  WHERE d.v <> m.med
      |), runs AS (
      |  SELECT event_type, sgn,
      |    CASE WHEN lag(sgn) OVER (PARTITION BY event_type ORDER BY day)
      |      IS NULL OR lag(sgn) OVER (PARTITION BY event_type
      |      ORDER BY day) <> sgn THEN 1 ELSE 0 END AS new_run
      |  FROM signed
      |), excl AS (
      |  SELECT d.event_type,
      |    CAST(SUM(CASE WHEN d.v = m.med THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_excluded
      |  FROM daily d JOIN med m ON d.event_type = m.event_type
      |  GROUP BY 1
      |), agg AS (
      |  SELECT r.event_type, CAST(COUNT(*) AS BIGINT) AS n_kept,
      |    CAST(SUM(sgn) AS BIGINT) AS n_pos,
      |    CAST(COUNT(*) - SUM(sgn) AS BIGINT) AS n_neg,
      |    CAST(SUM(new_run) AS BIGINT) AS n_runs
      |  FROM runs r GROUP BY 1
      |), m2 AS (
      |  SELECT a.*, e.n_excluded,
      |    2.0 * CAST(a.n_pos AS DOUBLE) * CAST(a.n_neg AS DOUBLE)
      |      / CAST(a.n_kept AS DOUBLE) + 1.0 AS e_runs
      |  FROM agg a JOIN excl e ON a.event_type = e.event_type
      |)
      |SELECT event_type, n_kept, n_excluded, n_pos, n_neg, n_runs,
      |  ROUND(e_runs, 6) AS e_runs,
      |  ROUND(CASE WHEN (e_runs - 1) * (e_runs - 2)
      |      / NULLIF(CAST(n_kept - 1 AS DOUBLE), 0.0) > 0
      |    THEN (CAST(n_runs AS DOUBLE) - e_runs)
      |      / sqrt((e_runs - 1) * (e_runs - 2)
      |        / NULLIF(CAST(n_kept - 1 AS DOUBLE), 0.0))
      |  END, 6) AS z
      |FROM m2
      |ORDER BY event_type""".stripMargin

  /** q414 — Hill tail-index estimate of each type's daily-value
    * distribution: over the top k = ⌈10%·n⌉ order statistics,
    * ξ̂ = (1/k)·Σ ln(x₍ᵢ₎/x₍ₙ₋ₖ₎) and α̂ = 1/ξ̂ — the heaviness of the
    * upper tail, which decides whether q378's expected shortfall even
    * converges (α ≤ 2 means infinite variance: means and sds are
    * theater) and how q121/q364's thresholds should scale with
    * horizon. The standard extreme-value first look, on exact order
    * statistics rather than a fitted GPD.
    *
    * Exactness: the tail membership and the threshold x₍ₙ₋ₖ₎ are
    * exact integer rank picks off the fully tiebroken per-type sort;
    * each log-excess term rounds at 6dp into DECIMAL sums; ξ̂ and α̂
    * are single rounded divisions, NULL-guarded for degenerate tails
    * (threshold ≤ 0 or all-equal tails).
    *
    * Scale: one (type, day) aggregate + one per-type rank window +
    * one per-type aggregate — calendar-sized.
    */
  def hillTailIndex(spark: SparkSession, dir: String,
                    tailFrac: Double = 0.1): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(28, 6)
    val daily = dailyValues(spark, dir)
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("v").desc, col("day"))
    val ranked = daily
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(
        Window.partitionBy(col("event_type"))))
      .withColumn("k",
        ceil(lit(tailFrac) * col("n").cast("double")).cast("long"))
    val thr = ranked.groupBy(col("event_type"))
      .agg(max(when(col("rn") === col("k") + 1, col("v"))).as("x_thr"))
    ranked.join(broadcast(thr), "event_type")
      .filter(col("rn") <= col("k"))
      .groupBy(col("event_type"))
      .agg(max(col("n")).as("n_days"), max(col("k")).as("tail_k"),
        round(max(col("x_thr")), 6).as("threshold"),
        sum(when(col("x_thr") > 0,
            round(log(col("v") / col("x_thr")), 6))
          .otherwise(lit(0.0)).cast(dec)).cast("double").as("sum_ln"))
      .select(col("event_type"), col("n_days"), col("tail_k"),
        col("threshold"),
        round(col("sum_ln") /
          nullif(col("tail_k").cast("double"), lit(0.0)), 6).as("xi_hat"),
        round(nullif(col("tail_k").cast("double"), lit(0.0)) /
          nullif(col("sum_ln"), lit(0.0)), 6).as("alpha_hat"))
      .orderBy(col("event_type"))
  }

  def hillTailIndexSql(tailFrac: Double = 0.1): String =
    s"""WITH $dailyValuesCte, ranked AS (
       |  SELECT event_type, v,
       |    CAST(row_number() OVER (PARTITION BY event_type
       |      ORDER BY v DESC, day) AS BIGINT) AS rn,
       |    COUNT(*) OVER (PARTITION BY event_type) AS n,
       |    CAST(CEIL($tailFrac * CAST(COUNT(*) OVER (PARTITION BY
       |      event_type) AS DOUBLE)) AS BIGINT) AS k
       |  FROM daily
       |), thr AS (
       |  SELECT event_type, MAX(CASE WHEN rn = k + 1 THEN v END) AS x_thr
       |  FROM ranked GROUP BY 1
       |), agg AS (
       |  SELECT r.event_type, CAST(MAX(r.n) AS BIGINT) AS n_days,
       |    MAX(r.k) AS tail_k, ROUND(MAX(t.x_thr), 6) AS threshold,
       |    CAST(SUM(CAST(CASE WHEN t.x_thr > 0
       |      THEN ROUND(ln(r.v / t.x_thr), 6) ELSE 0.0 END
       |      AS DECIMAL(28,6))) AS DOUBLE) AS sum_ln
       |  FROM ranked r JOIN thr t ON r.event_type = t.event_type
       |  WHERE r.rn <= r.k
       |  GROUP BY 1
       |)
       |SELECT event_type, n_days, tail_k, threshold,
       |  ROUND(sum_ln / NULLIF(CAST(tail_k AS DOUBLE), 0.0), 6) AS xi_hat,
       |  ROUND(NULLIF(CAST(tail_k AS DOUBLE), 0.0)
       |    / NULLIF(sum_ln, 0.0), 6) AS alpha_hat
       |FROM agg
       |ORDER BY event_type""".stripMargin

  /** q416 — hour-of-day profile drift per event type: the 24-bin
    * hour-of-day distribution of the FIRST half of the time range
    * against the SECOND, scored by JSD, with the single most-shifted
    * hour called out — the traffic-shape monitor (a feed whose events
    * migrate from business hours to 3am changed its upstream, its
    * timezone handling, or its bot mix, none of which a daily TOTAL
    * shows). q124 drifts documents, q385 drifts categories; this
    * drifts the CLOCK.
    *
    * Exactness: hours and the midpoint split are integer epoch-ms
    * arithmetic; bin probabilities are integer-count ratios; JSD
    * terms are the q391 discipline (0·ln 0 guarded, 6dp-rounded,
    * decimal-summed); the top-shift hour is an integer-micro argmax
    * with an hour tiebreak.
    *
    * Scale: one event scan into a (type, half, hour) aggregate;
    * everything after is 24-bin algebra.
    */
  def hourProfileDrift(spark: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(28, 6)
    val tsMsC = graft.operators.Relational.tsMs("ts")
    val e = Tables.load(spark, dir, "events")
      .select(tsMsC.as("ms"),
        expr("pmod(unix_micros(ts) div 3600000000, 24)").as("hour"),
        col("event_type"))
    val bounds = e.agg(min(col("ms")).as("a"), max(col("ms")).as("b"))
      .select(expr("a + (b - a) div 2").as("mid"))
    val cells = e.crossJoin(broadcast(bounds))
      .withColumn("half", when(col("ms") <= col("mid"), 1).otherwise(2))
      .groupBy(col("event_type"), col("hour"), col("half"))
      .agg(count(lit(1)).as("c"))
    val grid = cells.groupBy(col("event_type"), col("hour"))
      .agg(sum(when(col("half") === 1, col("c")).otherwise(0L)).as("c1"),
        sum(when(col("half") === 2, col("c")).otherwise(0L)).as("c2"))
      .withColumn("t1", sum(col("c1")).over(
        Window.partitionBy(col("event_type"))))
      .withColumn("t2", sum(col("c2")).over(
        Window.partitionBy(col("event_type"))))
      // NULLIF/COALESCE guard (ADVICE r11): a type with zero events in
      // one half makes t1 or t2 = 0 → p or q = 0/0 = NaN, whose
      // downstream CAST(ROUND(NaN*1e6) AS BIGINT) diverges between
      // engines; a zero-total half contributes probability 0 instead
      .withColumn("p", coalesce(col("c1").cast("double") /
        nullif(col("t1").cast("double"), lit(0.0)), lit(0.0)))
      .withColumn("q", coalesce(col("c2").cast("double") /
        nullif(col("t2").cast("double"), lit(0.0)), lit(0.0)))
      .withColumn("avg", (col("p") + col("q")) / 2)
      .withColumn("term", round(
        when(col("p") > 0,
          lit(0.5) * col("p") * log(col("p") / col("avg")))
          .otherwise(lit(0.0)) +
        when(col("q") > 0,
          lit(0.5) * col("q") * log(col("q") / col("avg")))
          .otherwise(lit(0.0)), 6).cast(dec))
      .withColumn("shift_micro",
        abs(round(col("p") * 1000000, 0).cast("long") -
          round(col("q") * 1000000, 0).cast("long")))
    val wTop = Window.partitionBy(col("event_type"))
      .orderBy(col("shift_micro").desc, col("hour"))
    grid.withColumn("top_rn", row_number().over(wTop))
      .groupBy(col("event_type"))
      .agg(max(col("t1")).as("n_first"), max(col("t2")).as("n_second"),
        round(sum(col("term")).cast("double"), 6).as("jsd"),
        max(when(col("top_rn") === 1, col("hour"))).as("top_shift_hour"),
        round(max(when(col("top_rn") === 1, col("shift_micro")))
          .cast("double") / 1000000, 6).as("top_shift_abs"))
      .orderBy(col("event_type"))
  }

  val hourProfileDriftSql: String =
    """WITH e AS (
      |  SELECT event_type, epoch_ms(ts) AS ms,
      |    (epoch_ms(ts) // 3600000) % 24 AS hour
      |  FROM events
      |), bounds AS (
      |  SELECT MIN(ms) + (MAX(ms) - MIN(ms)) // 2 AS mid FROM e
      |), cells AS (
      |  SELECT e.event_type, e.hour,
      |    CASE WHEN e.ms <= b.mid THEN 1 ELSE 2 END AS half,
      |    CAST(COUNT(*) AS BIGINT) AS c
      |  FROM e CROSS JOIN bounds b
      |  GROUP BY 1, 2, 3
      |), grid AS (
      |  SELECT event_type, hour,
      |    CAST(SUM(CASE WHEN half = 1 THEN c ELSE 0 END) AS BIGINT) AS c1,
      |    CAST(SUM(CASE WHEN half = 2 THEN c ELSE 0 END) AS BIGINT) AS c2
      |  FROM cells GROUP BY 1, 2
      |), probs AS (
      |  SELECT event_type, hour, c1, c2,
      |    CAST(SUM(c1) OVER (PARTITION BY event_type) AS BIGINT) AS t1,
      |    CAST(SUM(c2) OVER (PARTITION BY event_type) AS BIGINT) AS t2
      |  FROM grid
      |), terms AS (
      |  SELECT event_type, hour, t1, t2,
      |    CAST(ROUND(
      |      CASE WHEN p > 0 THEN 0.5 * p * ln(p / ((p + q) / 2))
      |        ELSE 0.0 END +
      |      CASE WHEN q > 0 THEN 0.5 * q * ln(q / ((p + q) / 2))
      |        ELSE 0.0 END, 6) AS DECIMAL(28,6)) AS term,
      |    ABS(CAST(ROUND(p * 1000000, 0) AS BIGINT)
      |      - CAST(ROUND(q * 1000000, 0) AS BIGINT)) AS shift_micro
      |  FROM (
      |    SELECT *,
      |      COALESCE(CAST(c1 AS DOUBLE) / NULLIF(CAST(t1 AS DOUBLE), 0.0),
      |        0.0) AS p,
      |      COALESCE(CAST(c2 AS DOUBLE) / NULLIF(CAST(t2 AS DOUBLE), 0.0),
      |        0.0) AS q
      |    FROM probs
      |  )
      |), ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY event_type
      |    ORDER BY shift_micro DESC, hour) AS top_rn
      |  FROM terms
      |)
      |SELECT event_type, CAST(MAX(t1) AS BIGINT) AS n_first,
      |  CAST(MAX(t2) AS BIGINT) AS n_second,
      |  ROUND(CAST(SUM(term) AS DOUBLE), 6) AS jsd,
      |  MAX(CASE WHEN top_rn = 1 THEN hour END) AS top_shift_hour,
      |  ROUND(CAST(MAX(CASE WHEN top_rn = 1 THEN shift_micro END)
      |    AS DOUBLE) / 1000000, 6) AS top_shift_abs
      |FROM ranked
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  // ------------------------------------------------------------------
  // Round-12 time-series wave: PACF (the AR-order dial ACF cannot
  // give), lag-1 Granger (directional lead-lag), the MASE/sMAPE
  // forecast scorecard (effect size beside q393's significance), and
  // Page–Hinkley (the sequential drift detector CUSUM's λ-tuning
  // misses on slow means). All ride the shared dense-daily-spine
  // discipline: one event aggregate, calendar-sized frames after.
  // ------------------------------------------------------------------

  /** Shared dense daily count grid: per (type, day in [min, max]) the
    * event count, zero-filled — q209/q393's spine as one helper. */
  private def denseDailyCounts(spark: SparkSession, dir: String): DataFrame = {
    val daily = dailyCounts(spark, dir)
    val spine = daily.groupBy(col("event_type"))
      .agg(min(col("day")).as("mn"), max(col("day")).as("mx"))
      .select(col("event_type"),
        explode(sequence(col("mn"), col("mx"))).as("day"))
    spine.join(daily, Seq("event_type", "day"), "left")
      .select(col("event_type"), col("day"),
        coalesce(col("v"), lit(0L)).as("v"))
  }

  // def, not val: referenced by SQL vals declared EARLIER in this
  // object (q438), which would see a null during val initialization
  private def denseDailyCountsSql: String =
    s"""$dailyCountsCte, spine AS (
      |  SELECT event_type, unnest(range(mn, mx + 1)) AS day
      |  FROM (SELECT event_type, MIN(day) AS mn, MAX(day) AS mx
      |        FROM daily GROUP BY 1)
      |), dense AS (
      |  SELECT s.event_type, s.day, COALESCE(d.v, 0) AS v
      |  FROM spine s LEFT JOIN daily d
      |    ON d.event_type = s.event_type AND d.day = s.day
      |)""".stripMargin

  /** q429 — partial autocorrelation (Durbin–Levinson, lags 1..4) of
    * each type's dense daily series: PACF is the AR-ORDER dial —
    * ACF (q209) says "how long does memory look", PACF says "how many
    * AR terms actually carry it" (an AR(p) process has PACF exactly
    * zero past lag p), which is the number a forecaster (q241 Holt,
    * q135 Markov backtest) needs before choosing its state size.
    *
    * Exactness: autocovariances follow the q393 discipline (centered
    * terms rounded 6dp into DECIMAL(28,6) sums; the mean is one
    * decimal-sum/count division); ρ_k = g_k/g_0 and the unrolled
    * Durbin–Levinson chain are pure IEEE double arithmetic written
    * with IDENTICAL parenthesization on both engines (no intermediate
    * rounding is needed — determinism comes from the shared
    * expression tree), NULLIF-guarded at each recursion denominator;
    * one 6dp round at the readout.
    *
    * Scale: one event aggregate, then a calendar-sized window pass
    * and a per-type scalar row — the recursion runs on |types| rows.
    */
  def pacfDaily(spark: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(28, 6)
    val dense = denseDailyCounts(spark, dir)
    val mean = dense.groupBy(col("event_type"))
      .agg((sum(col("v").cast(dec)).cast("double") /
        count(lit(1)).cast("double")).as("xbar"))
    val centered = dense.join(broadcast(mean), "event_type")
      .withColumn("c", col("v").cast("double") - col("xbar"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val lagged = (1 to 4).foldLeft(centered) { (df, k) =>
      df.withColumn(s"c$k", lead(col("c"), k).over(w))
    }
    val gAggs = (0 to 4).map { k =>
      val prod = if (k == 0) col("c") * col("c") else col("c") * col(s"c$k")
      sum(round(prod, 6).cast(dec)).cast("double").as(s"g$k")
    }
    val g = lagged.groupBy(col("event_type"))
      .agg(gAggs.head, gAggs.tail: _*)
    val rho = g.select(col("event_type") +:
      (1 to 4).map(k => (col(s"g$k") / nullif(col("g0"), lit(0.0)))
        .as(s"r$k")): _*)
    // Durbin–Levinson unrolled: φ_kk per level, previous-level φ's
    // carried forward — identical formula text in pacfDailySql
    val dl = rho
      .withColumn("p11", col("r1"))
      .withColumn("p22", (col("r2") - col("p11") * col("r1")) /
        nullif(lit(1.0) - col("p11") * col("r1"), lit(0.0)))
      .withColumn("p21", col("p11") - col("p22") * col("p11"))
      .withColumn("p33",
        (col("r3") - (col("p21") * col("r2") + col("p22") * col("r1"))) /
          nullif(lit(1.0) -
            (col("p21") * col("r1") + col("p22") * col("r2")), lit(0.0)))
      .withColumn("p31", col("p21") - col("p33") * col("p22"))
      .withColumn("p32", col("p22") - col("p33") * col("p21"))
      .withColumn("p44",
        (col("r4") - (col("p31") * col("r3") + col("p32") * col("r2") +
          col("p33") * col("r1"))) /
          nullif(lit(1.0) - (col("p31") * col("r1") +
            col("p32") * col("r2") + col("p33") * col("r3")), lit(0.0)))
    dl.select(col("event_type"),
        expr("stack(4, 1, r1, p11, 2, r2, p22, 3, r3, p33, 4, r4, p44)")
          .as(Seq("lag", "rho", "pacf")))
      .select(col("event_type"), col("lag").cast("int").as("lag"),
        round(col("rho"), 6).as("rho"), round(col("pacf"), 6).as("pacf"))
      .orderBy(col("event_type"), col("lag"))
  }

  val pacfDailySql: String =
    s"""WITH $denseDailyCountsSql, m AS (
      |  SELECT event_type,
      |    CAST(SUM(CAST(v AS DECIMAL(28,6))) AS DOUBLE)
      |      / CAST(COUNT(*) AS DOUBLE) AS xbar
      |  FROM dense GROUP BY 1
      |), centered AS (
      |  SELECT d.event_type, d.day, CAST(d.v AS DOUBLE) - m.xbar AS c
      |  FROM dense d JOIN m ON m.event_type = d.event_type
      |), lagged AS (
      |  SELECT event_type, c,
      |    lead(c, 1) OVER w AS c1, lead(c, 2) OVER w AS c2,
      |    lead(c, 3) OVER w AS c3, lead(c, 4) OVER w AS c4
      |  FROM centered
      |  WINDOW w AS (PARTITION BY event_type ORDER BY day)
      |), g AS (
      |  SELECT event_type,
      |    CAST(SUM(CAST(ROUND(c * c, 6) AS DECIMAL(28,6))) AS DOUBLE) AS g0,
      |    CAST(SUM(CAST(ROUND(c * c1, 6) AS DECIMAL(28,6))) AS DOUBLE) AS g1,
      |    CAST(SUM(CAST(ROUND(c * c2, 6) AS DECIMAL(28,6))) AS DOUBLE) AS g2,
      |    CAST(SUM(CAST(ROUND(c * c3, 6) AS DECIMAL(28,6))) AS DOUBLE) AS g3,
      |    CAST(SUM(CAST(ROUND(c * c4, 6) AS DECIMAL(28,6))) AS DOUBLE) AS g4
      |  FROM lagged GROUP BY 1
      |), rho AS (
      |  SELECT event_type,
      |    g1 / NULLIF(g0, 0.0) AS r1, g2 / NULLIF(g0, 0.0) AS r2,
      |    g3 / NULLIF(g0, 0.0) AS r3, g4 / NULLIF(g0, 0.0) AS r4
      |  FROM g
      |), l1 AS (
      |  SELECT *, r1 AS p11 FROM rho
      |), l2 AS (
      |  SELECT *, (r2 - p11 * r1) / NULLIF(1.0 - p11 * r1, 0.0) AS p22
      |  FROM l1
      |), l2b AS (
      |  SELECT *, p11 - p22 * p11 AS p21 FROM l2
      |), l3 AS (
      |  SELECT *, (r3 - (p21 * r2 + p22 * r1))
      |    / NULLIF(1.0 - (p21 * r1 + p22 * r2), 0.0) AS p33
      |  FROM l2b
      |), l3b AS (
      |  SELECT *, p21 - p33 * p22 AS p31, p22 - p33 * p21 AS p32 FROM l3
      |), l4 AS (
      |  SELECT *, (r4 - (p31 * r3 + p32 * r2 + p33 * r1))
      |    / NULLIF(1.0 - (p31 * r1 + p32 * r2 + p33 * r3), 0.0) AS p44
      |  FROM l3b
      |)
      |SELECT event_type, CAST(u.lag AS INT) AS lag,
      |  ROUND(u.rho, 6) AS rho, ROUND(u.pacf, 6) AS pacf
      |FROM l4, LATERAL (VALUES (1, r1, p11), (2, r2, p22), (3, r3, p33),
      |  (4, r4, p44)) AS u(lag, rho, pacf)
      |ORDER BY event_type, lag""".stripMargin

  /** q430 — lag-1 Granger causality between every ordered pair of
    * daily type series: does yesterday's X improve today's Y forecast
    * beyond yesterday's Y? The F-test of the cross term in
    * y_t ~ c + a·y_{t−1} + b·x_{t−1} vs the restricted AR(1) — the
    * directional lead-lag q232's symmetric CCF cannot state (CCF says
    * "correlated at lag 1", Granger says WHICH side adds information,
    * the difference between a dashboard and an early-warning wire).
    *
    * Exactness: all raw sums are integers off the shared dense grid;
    * centered moments and the two OLS solutions are one IEEE double
    * chain written identically on both engines (Cramer's rule on the
    * 2×2 normal equations), NULLIF-guarded determinants; F rounds at
    * 6dp BEFORE the 3.92 (α=.05, df1=1) verdict compare, so the
    * verdict can never straddle engines.
    *
    * Scale: one event aggregate; the pair frame is |types|²·days —
    * calendar-sized; aggregates land on |types|² rows.
    */
  def grangerLag1(spark: SparkSession, dir: String): DataFrame = {
    val dense = denseDailyCounts(spark, dir)
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val withLag = dense.withColumn("v1", lag(col("v"), 1).over(w))
      .filter(col("v1").isNotNull)
    val joined = withLag.as("y").join(
        withLag.select(col("event_type").as("x_type"), col("day"),
          col("v1").as("x1")).as("x"), Seq("day"))
      .filter(col("event_type") =!= col("x_type"))
      .select(col("x_type").as("cause"), col("event_type").as("effect"),
        col("v").as("y"), col("v1").as("y1"), col("x1"))
    val s = joined.groupBy(col("cause"), col("effect")).agg(
      count(lit(1)).as("n"),
      sum(col("y")).as("sy"), sum(col("y1")).as("sy1"),
      sum(col("x1")).as("sx1"),
      sum(col("y") * col("y")).as("syy"),
      sum(col("y1") * col("y1")).as("sy1y1"),
      sum(col("x1") * col("x1")).as("sx1x1"),
      sum(col("y") * col("y1")).as("syy1"),
      sum(col("y") * col("x1")).as("syx1"),
      sum(col("y1") * col("x1")).as("sy1x1"))
    val nD = col("n").cast("double")
    def dd(c: Column): Column = c.cast("double")
    val out = s
      .withColumn("s11", dd(col("sy1y1")) - dd(col("sy1")) * dd(col("sy1")) / nD)
      .withColumn("s22", dd(col("sx1x1")) - dd(col("sx1")) * dd(col("sx1")) / nD)
      .withColumn("s12", dd(col("sy1x1")) - dd(col("sy1")) * dd(col("sx1")) / nD)
      .withColumn("s1y", dd(col("syy1")) - dd(col("sy1")) * dd(col("sy")) / nD)
      .withColumn("s2y", dd(col("syx1")) - dd(col("sx1")) * dd(col("sy")) / nD)
      .withColumn("syyc", dd(col("syy")) - dd(col("sy")) * dd(col("sy")) / nD)
      .withColumn("rss_r",
        col("syyc") - (col("s1y") * col("s1y")) / nullif(col("s11"), lit(0.0)))
      .withColumn("det",
        nullif(col("s11") * col("s22") - col("s12") * col("s12"), lit(0.0)))
      .withColumn("b1",
        (col("s1y") * col("s22") - col("s2y") * col("s12")) / col("det"))
      .withColumn("b2",
        (col("s2y") * col("s11") - col("s1y") * col("s12")) / col("det"))
      .withColumn("rss_u",
        col("syyc") - col("b1") * col("s1y") - col("b2") * col("s2y"))
      .withColumn("f_stat", round(
        (col("rss_r") - col("rss_u")) /
          nullif(col("rss_u") / nullif(nD - lit(3.0), lit(0.0)),
            lit(0.0)), 6))
    out.select(col("cause"), col("effect"), col("n").as("n_days"),
        round(col("b2"), 6).as("beta_cross"), col("f_stat"),
        when(col("f_stat").isNull, "inconclusive")
          .when(col("f_stat") > 3.92, "granger_causal")
          .otherwise("not_significant").as("verdict"))
      .orderBy(col("cause"), col("effect"))
  }

  val grangerLag1Sql: String =
    s"""WITH $denseDailyCountsSql, lagged AS (
      |  SELECT event_type, day, v,
      |    lag(v, 1) OVER (PARTITION BY event_type ORDER BY day) AS v1
      |  FROM dense
      |), base AS (
      |  SELECT * FROM lagged WHERE v1 IS NOT NULL
      |), pairs AS (
      |  SELECT x.event_type AS cause, y.event_type AS effect,
      |    y.v AS y, y.v1 AS y1, x.v1 AS x1
      |  FROM base y JOIN base x
      |    ON x.day = y.day AND x.event_type <> y.event_type
      |), s AS (
      |  SELECT cause, effect, CAST(COUNT(*) AS BIGINT) AS n,
      |    SUM(y) AS sy, SUM(y1) AS sy1, SUM(x1) AS sx1,
      |    SUM(y * y) AS syy, SUM(y1 * y1) AS sy1y1,
      |    SUM(x1 * x1) AS sx1x1, SUM(y * y1) AS syy1,
      |    SUM(y * x1) AS syx1, SUM(y1 * x1) AS sy1x1
      |  FROM pairs GROUP BY 1, 2
      |), mo AS (
      |  SELECT cause, effect, n,
      |    CAST(sy1y1 AS DOUBLE) - CAST(sy1 AS DOUBLE) * CAST(sy1 AS DOUBLE)
      |      / CAST(n AS DOUBLE) AS s11,
      |    CAST(sx1x1 AS DOUBLE) - CAST(sx1 AS DOUBLE) * CAST(sx1 AS DOUBLE)
      |      / CAST(n AS DOUBLE) AS s22,
      |    CAST(sy1x1 AS DOUBLE) - CAST(sy1 AS DOUBLE) * CAST(sx1 AS DOUBLE)
      |      / CAST(n AS DOUBLE) AS s12,
      |    CAST(syy1 AS DOUBLE) - CAST(sy1 AS DOUBLE) * CAST(sy AS DOUBLE)
      |      / CAST(n AS DOUBLE) AS s1y,
      |    CAST(syx1 AS DOUBLE) - CAST(sx1 AS DOUBLE) * CAST(sy AS DOUBLE)
      |      / CAST(n AS DOUBLE) AS s2y,
      |    CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)
      |      / CAST(n AS DOUBLE) AS syyc
      |  FROM s
      |), fit AS (
      |  SELECT *,
      |    syyc - (s1y * s1y) / NULLIF(s11, 0.0) AS rss_r,
      |    NULLIF(s11 * s22 - s12 * s12, 0.0) AS det
      |  FROM mo
      |), fit2 AS (
      |  SELECT *,
      |    (s1y * s22 - s2y * s12) / det AS b1,
      |    (s2y * s11 - s1y * s12) / det AS b2
      |  FROM fit
      |), fit3 AS (
      |  SELECT *, syyc - b1 * s1y - b2 * s2y AS rss_u FROM fit2
      |), fin AS (
      |  SELECT cause, effect, n, b2,
      |    ROUND((rss_r - rss_u)
      |      / NULLIF(rss_u / NULLIF(CAST(n AS DOUBLE) - 3.0, 0.0), 0.0),
      |      6) AS f_stat
      |  FROM fit3
      |)
      |SELECT cause, effect, n AS n_days, ROUND(b2, 6) AS beta_cross,
      |  f_stat,
      |  CASE WHEN f_stat IS NULL THEN 'inconclusive'
      |    WHEN f_stat > 3.92 THEN 'granger_causal'
      |    ELSE 'not_significant' END AS verdict
      |FROM fin
      |ORDER BY cause, effect""".stripMargin

  /** q431 — forecast scorecard (MAE / sMAPE / MASE) for the two naive
    * baselines on each type's dense daily series: the EFFECT-SIZE
    * companion to q393's Diebold–Mariano significance test on the
    * same forecasts. MASE (MAE over the seasonal-naive MAE on the
    * same evaluation window) is the scale-free number that compares
    * across types of different volume — "0.8" means beating
    * seasonality by 20% whether the series runs at 10/day or 10k/day.
    *
    * Exactness: both forecasts are lagged INTEGER counts, so every
    * error is an integer; MAEs are single integer-sum divisions;
    * sMAPE terms round at 6dp into DECIMAL sums with the both-zero
    * day contributing 0 by convention (NULLIF-guarded identically on
    * both engines); MASE is one rounded division of two exact MAE
    * doubles.
    *
    * Scale: one event aggregate, one calendar-sized window pass,
    * |types| output rows.
    */
  def forecastScorecard(spark: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(28, 6)
    val dense = denseDailyCounts(spark, dir)
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val f = dense
      .withColumn("f1", lag(col("v"), 1).over(w))
      .withColumn("f7", lag(col("v"), 7).over(w))
      .filter(col("f7").isNotNull)
    def smapeTerm(fc: Column): Column =
      round(when(col("v") + fc === 0, lit(0.0))
        .otherwise(lit(2.0) * abs(col("v") - fc).cast("double") /
          (col("v") + fc).cast("double")), 6).cast(dec)
    f.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
        sum(abs(col("v") - col("f1"))).as("ae1"),
        sum(abs(col("v") - col("f7"))).as("ae7"),
        sum(smapeTerm(col("f1"))).cast("double").as("sm1"),
        sum(smapeTerm(col("f7"))).cast("double").as("sm7"))
      .select(col("event_type"), col("n_days"),
        round(col("ae1").cast("double") / col("n_days").cast("double"), 6)
          .as("mae_naive1"),
        round(col("ae7").cast("double") / col("n_days").cast("double"), 6)
          .as("mae_snaive7"),
        round(col("sm1") / col("n_days").cast("double"), 6)
          .as("smape_naive1"),
        round(col("sm7") / col("n_days").cast("double"), 6)
          .as("smape_snaive7"),
        round(col("ae1").cast("double") /
          nullif(col("ae7").cast("double"), lit(0.0)), 6).as("mase_naive1"))
      .orderBy(col("event_type"))
  }

  val forecastScorecardSql: String =
    s"""WITH $denseDailyCountsSql, f AS (
      |  SELECT event_type, day, v,
      |    lag(v, 1) OVER w AS f1, lag(v, 7) OVER w AS f7
      |  FROM dense
      |  WINDOW w AS (PARTITION BY event_type ORDER BY day)
      |), ev AS (
      |  SELECT * FROM f WHERE f7 IS NOT NULL
      |)
      |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
      |  ROUND(CAST(SUM(ABS(v - f1)) AS DOUBLE)
      |    / CAST(COUNT(*) AS DOUBLE), 6) AS mae_naive1,
      |  ROUND(CAST(SUM(ABS(v - f7)) AS DOUBLE)
      |    / CAST(COUNT(*) AS DOUBLE), 6) AS mae_snaive7,
      |  ROUND(CAST(SUM(CAST(ROUND(CASE WHEN v + f1 = 0 THEN 0.0
      |      ELSE 2.0 * CAST(ABS(v - f1) AS DOUBLE)
      |        / CAST(v + f1 AS DOUBLE) END, 6) AS DECIMAL(28,6)))
      |    AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS smape_naive1,
      |  ROUND(CAST(SUM(CAST(ROUND(CASE WHEN v + f7 = 0 THEN 0.0
      |      ELSE 2.0 * CAST(ABS(v - f7) AS DOUBLE)
      |        / CAST(v + f7 AS DOUBLE) END, 6) AS DECIMAL(28,6)))
      |    AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS smape_snaive7,
      |  ROUND(CAST(SUM(ABS(v - f1)) AS DOUBLE)
      |    / NULLIF(CAST(SUM(ABS(v - f7)) AS DOUBLE), 0.0), 6)
      |    AS mase_naive1
      |FROM ev
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** q432 — Page–Hinkley drift detector on each type's dense daily
    * series: the sequential test that catches SLOW mean drifts the
    * q364 CUSUM (tuned for step shifts) and q121 MAD screen (single
    * days) both miss. PH tracks m_t = Σ_{i≤t}(x_i − x̄_i), the
    * cumulative deviation from the RUNNING mean; an alarm fires the
    * first day m_t − min_{j≤t} m_j exceeds λ = 3σ (σ = the series'
    * own std, so the threshold self-scales across SFs and volumes).
    * Reported per type: λ, the max PH statistic, the alarm day (NULL
    * when none) — the q377 consensus family's fourth detector.
    *
    * Exactness: each deviation term rounds at 6dp (the running mean
    * is one division per row off exact integer prefix sums) and
    * accumulates in a DECIMAL window sum; the running min and the
    * first-alarm pick are deterministic window reads; σ comes from
    * exact integer moment sums in one double chain; λ rounds at 6dp
    * before any compare.
    *
    * Scale: one event aggregate, two calendar-sized window passes
    * (prefix sums, running min), |types| output rows.
    */
  def pageHinkley(spark: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(28, 6)
    val dense = denseDailyCounts(spark, dir)
    val stats = dense.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"),
        sum(col("v") * col("v")).as("svv"))
      .select(col("event_type"),
        round(sqrt((col("svv").cast("double") -
          col("sv").cast("double") * col("sv").cast("double") /
            col("n").cast("double")) / col("n").cast("double")) * 3.0, 6)
          .as("lambda"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val wAll = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val m = dense
      .withColumn("t", row_number().over(w).cast("long"))
      .withColumn("s", sum(col("v")).over(wAll))
      .withColumn("term", round(col("v").cast("double") -
        col("s").cast("double") / col("t").cast("double"), 6).cast(dec))
      .withColumn("m", sum(col("term")).over(wAll).cast("double"))
      .withColumn("runmin", min(col("m")).over(wAll))
      .withColumn("ph", round(col("m") - col("runmin"), 6))
    m.join(broadcast(stats), "event_type")
      .groupBy(col("event_type"), col("lambda"))
      .agg(count(lit(1)).as("n_days"),
        round(max(col("ph")), 6).as("max_ph"),
        min(when(col("ph") > col("lambda"), col("day"))).as("alarm_day"))
      .select(col("event_type"), col("n_days"), col("lambda"),
        col("max_ph"), col("alarm_day"),
        col("alarm_day").isNotNull.as("alarmed"))
      .orderBy(col("event_type"))
  }

  val pageHinkleySql: String =
    s"""WITH $denseDailyCountsSql, stats AS (
      |  SELECT event_type,
      |    ROUND(sqrt((CAST(SUM(v * v) AS DOUBLE)
      |      - CAST(SUM(v) AS DOUBLE) * CAST(SUM(v) AS DOUBLE)
      |        / CAST(COUNT(*) AS DOUBLE)) / CAST(COUNT(*) AS DOUBLE))
      |      * 3.0, 6) AS lambda
      |  FROM dense GROUP BY 1
      |), pre AS (
      |  SELECT event_type, day, v,
      |    CAST(row_number() OVER w AS BIGINT) AS t,
      |    SUM(v) OVER w AS s
      |  FROM dense
      |  WINDOW w AS (PARTITION BY event_type ORDER BY day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |), terms AS (
      |  SELECT event_type, day,
      |    CAST(ROUND(CAST(v AS DOUBLE)
      |      - CAST(s AS DOUBLE) / CAST(t AS DOUBLE), 6)
      |      AS DECIMAL(28,6)) AS term
      |  FROM pre
      |), ms AS (
      |  SELECT event_type, day,
      |    CAST(SUM(term) OVER w AS DOUBLE) AS m
      |  FROM terms
      |  WINDOW w AS (PARTITION BY event_type ORDER BY day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |), ph AS (
      |  SELECT event_type, day,
      |    ROUND(m - MIN(m) OVER w, 6) AS ph
      |  FROM ms
      |  WINDOW w AS (PARTITION BY event_type ORDER BY day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |)
      |SELECT p.event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
      |  MAX(s.lambda) AS lambda,
      |  ROUND(MAX(p.ph), 6) AS max_ph,
      |  MIN(CASE WHEN p.ph > s.lambda THEN p.day END) AS alarm_day,
      |  MIN(CASE WHEN p.ph > s.lambda THEN p.day END) IS NOT NULL
      |    AS alarmed
      |FROM ph p JOIN stats s ON s.event_type = p.event_type
      |GROUP BY p.event_type
      |ORDER BY p.event_type""".stripMargin

  /** The four attribution channels of q466, alphabetical = bit order
    * (click=1, error=2, signup=4, view=8); `purchase` is the
    * conversion outcome, never a channel.
    */
  private[graft] val shapleyChannels = Seq("click", "error", "signup", "view")

  /** q466 — exact Shapley attribution of conversion credit across the
    * four non-purchase channels: users collapse to the exact SET of
    * channels they touched (a 4-bit mask), each coalition's value is
    * its conversion rate (share of its users with ≥1 purchase), and a
    * channel's Shapley value is the |S|!·(3−|S|)!/4!-weighted sum of
    * its marginal contributions v(S∪{i})−v(S) over the 8 coalitions S
    * of the other three — the symmetric/efficient/order-free split of
    * credit that last-touch and first-touch heuristics are biased
    * approximations of. Coalitions with no users value 0 (stated in
    * the oracle via COALESCE).
    *
    * Exactness: coalition values are integer micro-unit rates via
    * half-up integral division ((2·conv·10⁶ + n) div (2n) — the
    * cents-div-qty discipline); marginal terms are weightNum ·
    * Δv_micro with weightNum = |S|!·(3−|S|)! ∈ {6,2,2,6} — exact
    * BIGINTs end to end, so `shap_x24_micro` is hash-exact and the
    * reported `shapley` is ONE IEEE division of that integer by
    * 24·10⁶ (bit-identical across engines). Efficiency (Σφ_i =
    * v(full)−v(∅)) holds exactly in the integer domain (spec-pinned).
    *
    * Scale: one user-grain aggregate is the only event-grain shuffle;
    * the coalition table is ≤16 rows and the Shapley algebra is a
    * 32-row literal grid joined against it — driver-free, broadcast-
    * sized, constant at any corpus size.
    */
  def shapleyFunnel(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.load(spark, dir, "events")
    val flagAggs = shapleyChannels.zipWithIndex.map { case (c, i) =>
      max(when(col("event_type") === c, lit(1L << i)).otherwise(lit(0L)))
        .as(s"b$i")
    } :+ max(when(col("event_type") === "purchase", lit(1L))
      .otherwise(lit(0L))).as("conv")
    val users = ev.groupBy(col("user_id"))
      .agg(flagAggs.head, flagAggs.tail: _*)
      .withColumn("mask",
        shapleyChannels.indices.map(i => col(s"b$i")).reduce(_ + _))
    shapleyFromUsers(spark, users.select(col("mask"), col("conv")))
  }

  /** The coalition + Shapley algebra over a user-grain (mask, conv)
    * frame — shared by [[shapleyFunnel]] and the streaming twin's
    * state snapshot so the two cannot drift.
    */
  private[graft] def shapleyFromUsers(spark: SparkSession,
                                      users: DataFrame): DataFrame = {
    import spark.implicits._
    val coal = users.groupBy(col("mask"))
      .agg(count(lit(1)).as("n_users"), sum(col("conv")).as("n_conv"))
      .select(col("mask"),
        expr("(2 * n_conv * 1000000 + n_users) div (2 * n_users)")
          .as("v_micro"))
    val fact = Array(1, 1, 2, 6)
    val grid = shapleyChannels.indices.flatMap { i =>
      (0 until 16).filter(s => (s & (1 << i)) == 0).map { s =>
        val k = Integer.bitCount(s)
        (shapleyChannels(i), s.toLong, (s | (1 << i)).toLong,
          (fact(k) * fact(3 - k)).toLong)
      }
    }.toDF("channel", "s0", "s1", "w")
    grid
      .join(coal.select(col("mask").as("s0"), col("v_micro").as("v0")),
        Seq("s0"), "left")
      .join(coal.select(col("mask").as("s1"), col("v_micro").as("v1")),
        Seq("s1"), "left")
      .withColumn("term", col("w") *
        (coalesce(col("v1"), lit(0L)) - coalesce(col("v0"), lit(0L))))
      .groupBy(col("channel"))
      .agg(sum(col("term")).as("shap_x24_micro"))
      .select(col("channel"), col("shap_x24_micro"),
        (col("shap_x24_micro").cast("double") / lit(2.4e7)).as("shapley"))
      .orderBy(col("channel"))
  }

  def shapleyFunnelSql: String = {
    val fact = Array(1, 1, 2, 6)
    val bitCases = shapleyChannels.zipWithIndex.map { case (c, i) =>
      s"MAX(CASE WHEN event_type = '$c' THEN ${1L << i} ELSE 0 END) AS b$i"
    }.mkString(",\n      |    ")
    val gridRows = shapleyChannels.indices.flatMap { i =>
      (0 until 16).filter(s => (s & (1 << i)) == 0).map { s =>
        val k = Integer.bitCount(s)
        s"('${shapleyChannels(i)}', $s, ${s | (1 << i)}, ${fact(k) * fact(3 - k)})"
      }
    }.mkString(",\n      |    ")
    s"""WITH users AS (
      |  SELECT user_id,
      |    $bitCases,
      |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
      |  FROM events GROUP BY 1
      |), coal AS (
      |  SELECT b0 + b1 + b2 + b3 AS mask,
      |    CAST(COUNT(*) AS BIGINT) AS n_users,
      |    CAST(SUM(conv) AS BIGINT) AS n_conv
      |  FROM users GROUP BY 1
      |), v AS (
      |  SELECT mask,
      |    (2 * n_conv * 1000000 + n_users) // (2 * n_users) AS v_micro
      |  FROM coal
      |), grid(channel, s0, s1, w) AS (
      |  VALUES
      |    $gridRows
      |), terms AS (
      |  SELECT g.channel,
      |    g.w * (COALESCE(v1.v_micro, 0) - COALESCE(v0.v_micro, 0)) AS term
      |  FROM grid g
      |  LEFT JOIN v v0 ON v0.mask = g.s0
      |  LEFT JOIN v v1 ON v1.mask = g.s1
      |)
      |SELECT channel,
      |  CAST(SUM(term) AS BIGINT) AS shap_x24_micro,
      |  CAST(SUM(term) AS DOUBLE) / 24000000.0 AS shapley
      |FROM terms GROUP BY channel ORDER BY channel""".stripMargin
  }

  /** q469 — periodogram of each type's mean-centered daily series at
    * candidate periods (2..14 days): spectral power P(p) = C_p² + S_p²
    * with C_p = Σ_t x̃_t·cos(2πt/p), S_p the sine twin — the
    * frequency-domain answer to "WHICH cycle dominates" that the
    * time-domain ACF (q209) only hints at (a 7-day rhythm shows at
    * every multiple of 7; the periodogram puts the mass at 7 itself).
    * `is_dominant` marks each type's argmax period — the seasonality
    * the Holt–Winters (q258) and Fano (q463) grains should adopt.
    *
    * Exactness: the day index and counts are exact integers; the mean
    * is one IEEE division of integers; each cos/sin term rounds at
    * 6dp into a DECIMAL(28,6) sum (the q393 centered-term discipline,
    * making the Σ_t order-free); P folds the two exact decimal sums
    * in one rounded IEEE step; the argmax orders by the ROUNDED power
    * then period.
    *
    * Scale: the dense grid computes once; each period contributes two
    * conditional decimal sums in the SAME |types|-keyed aggregate —
    * one pass, no per-period rescan, calendar-sized throughout.
    */
  def periodogram(spark: SparkSession, dir: String,
                  periods: Seq[Int] = Seq(2, 3, 4, 5, 6, 7, 10, 14)): DataFrame = {
    val dense = denseDailyCounts(spark, dir)
    val base = dense
      .withColumn("t", col("day") -
        min(col("day")).over(Window.partitionBy(col("event_type"))))
      .withColumn("xbar", sum(col("v")).over(Window.partitionBy(col("event_type")))
        .cast("double") /
        count(lit(1)).over(Window.partitionBy(col("event_type"))).cast("double"))
      .withColumn("xc", col("v").cast("double") - col("xbar"))
    val sums = periods.flatMap { p =>
      val ang = col("t").cast("double") * lit(2.0 * math.Pi / p)
      Seq(
        sum(round(col("xc") * cos(ang), 6)
          .cast(org.apache.spark.sql.types.DecimalType(28, 6))).as(s"c$p"),
        sum(round(col("xc") * sin(ang), 6)
          .cast(org.apache.spark.sql.types.DecimalType(28, 6))).as(s"s$p"))
    }
    val agg = base.groupBy(col("event_type")).agg(sums.head, sums.tail: _*)
    val stacked = agg.select(col("event_type"),
      expr(s"stack(${periods.size}, " + periods.map(p =>
        s"$p, cast(c$p as double), cast(s$p as double)").mkString(", ") + ")")
        .as(Seq("period_days", "cs", "ss")))
      .withColumn("power", round(col("cs") * col("cs") + col("ss") * col("ss"), 6))
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("power").desc, col("period_days"))
    stacked.withColumn("is_dominant", row_number().over(w) === 1)
      .select(col("event_type"), col("period_days").cast("int").as("period_days"),
        col("power"), col("is_dominant"))
      .orderBy(col("event_type"), col("period_days"))
  }

  def periodogramSql(periods: Seq[Int] = Seq(2, 3, 4, 5, 6, 7, 10, 14)): String = {
    val sums = periods.map { p =>
      s"""SUM(CAST(ROUND(xc * cos(t * ${2.0 * math.Pi / p}), 6)
        |      AS DECIMAL(28,6))) AS c$p,
        |    SUM(CAST(ROUND(xc * sin(t * ${2.0 * math.Pi / p}), 6)
        |      AS DECIMAL(28,6))) AS s$p""".stripMargin
    }.mkString(",\n      |    ")
    val unions = periods.map(p =>
      s"""SELECT event_type, $p AS period_days,
        |    CAST(c$p AS DOUBLE) AS cs, CAST(s$p AS DOUBLE) AS ss FROM agg""".stripMargin)
      .mkString("\n      |  UNION ALL ")
    s"""WITH $denseDailyCountsSql, base AS (
      |  SELECT event_type,
      |    CAST(day - MIN(day) OVER (PARTITION BY event_type) AS DOUBLE) AS t,
      |    CAST(v AS DOUBLE) -
      |      CAST(SUM(v) OVER (PARTITION BY event_type) AS DOUBLE) /
      |      CAST(COUNT(*) OVER (PARTITION BY event_type) AS DOUBLE) AS xc
      |  FROM dense
      |), agg AS (
      |  SELECT event_type,
      |    $sums
      |  FROM base GROUP BY event_type
      |), stacked AS (
      |  $unions
      |), powered AS (
      |  SELECT event_type, period_days,
      |    ROUND(cs * cs + ss * ss, 6) AS power
      |  FROM stacked
      |)
      |SELECT event_type, CAST(period_days AS INT) AS period_days, power,
      |  ROW_NUMBER() OVER (PARTITION BY event_type
      |    ORDER BY power DESC, period_days) = 1 AS is_dominant
      |FROM powered
      |ORDER BY event_type, period_days""".stripMargin
  }

  /** q472 — SAX (symbolic aggregate approximation) motif table: each
    * type's daily series z-normalizes, averages over 2-day PAA
    * frames, discretizes into the 4-symbol Gaussian-equiprobable
    * alphabet (breakpoints ±0.6745, 0), and the sliding 3-symbol
    * words are counted — the top motifs are the series' recurring
    * SHAPES ("ramp-up", "spike-decay") that raw correlation numbers
    * can't name, the standard preprocessing for motif discovery and
    * shape-indexed similarity at scale (symbols compress a 100 TB
    * series into a greppable string per window). Top-3 words per
    * type, fully tiebroken.
    *
    * Exactness: μ and σ come from exact integer moment sums in one
    * IEEE chain; frame means are integer sums divided by the literal
    * frame width; the breakpoint comparisons see bit-identical
    * doubles in both engines so every symbol matches; word counts are
    * integers and the ranking orders by (count desc, word).
    *
    * Scale: calendar-sized throughout — one dense grid, one
    * (type, frame) aggregate, lead() windows keyed per type over
    * frames, a word count aggregate.
    */
  def saxMotifs(spark: SparkSession, dir: String, frameDays: Int = 2,
                topK: Int = 3): DataFrame = {
    val byType = Window.partitionBy(col("event_type"))
    val dense = denseDailyCounts(spark, dir)
      .withColumn("n", count(lit(1)).over(byType))
      .withColumn("s", sum(col("v")).over(byType))
      .withColumn("ss", sum(col("v") * col("v")).over(byType))
      .withColumn("mu", col("s").cast("double") / col("n").cast("double"))
      .withColumn("sigma", sqrt(col("ss").cast("double") / col("n").cast("double")
        - col("mu") * col("mu")))
    val frames = dense.withColumn("frame", expr(s"day div $frameDays"))
      .groupBy(col("event_type"), col("frame"))
      .agg(count(lit(1)).as("fd"), sum(col("v")).as("fs"),
        max(col("mu")).as("mu"), max(col("sigma")).as("sigma"))
      .filter(col("fd") === frameDays)
      .withColumn("z", (col("fs").cast("double") / lit(frameDays.toDouble)
        - col("mu")) / nullif(col("sigma"), lit(0.0)))
      .withColumn("sym",
        when(col("z").isNull, lit("b"))
          .when(col("z") < -0.6745, lit("a"))
          .when(col("z") < 0.0, lit("b"))
          .when(col("z") < 0.6745, lit("c"))
          .otherwise(lit("d")))
    val seq3 = Window.partitionBy(col("event_type")).orderBy(col("frame"))
    val words = frames
      .withColumn("w", concat(col("sym"), lead(col("sym"), 1).over(seq3),
        lead(col("sym"), 2).over(seq3)))
      .filter(col("w").isNotNull)
      .groupBy(col("event_type"), col("w"))
      .agg(count(lit(1)).as("n_occ"))
    val rankW = Window.partitionBy(col("event_type"))
      .orderBy(col("n_occ").desc, col("w"))
    words.withColumn("rank", row_number().over(rankW))
      .filter(col("rank") <= topK)
      .select(col("event_type"), col("rank"), col("w").as("motif"),
        col("n_occ"))
      .orderBy(col("event_type"), col("rank"))
  }

  def saxMotifsSql(frameDays: Int = 2, topK: Int = 3): String =
    s"""WITH $denseDailyCountsSql, stats AS (
      |  SELECT event_type, day, v,
      |    CAST(SUM(v) OVER w AS DOUBLE) / CAST(COUNT(*) OVER w AS DOUBLE)
      |      AS mu,
      |    sqrt(CAST(SUM(v * v) OVER w AS DOUBLE) / CAST(COUNT(*) OVER w AS DOUBLE)
      |      - (CAST(SUM(v) OVER w AS DOUBLE) / CAST(COUNT(*) OVER w AS DOUBLE))
      |      * (CAST(SUM(v) OVER w AS DOUBLE) / CAST(COUNT(*) OVER w AS DOUBLE)))
      |      AS sigma
      |  FROM dense
      |  WINDOW w AS (PARTITION BY event_type)
      |), frames AS (
      |  SELECT event_type, day // $frameDays AS frame,
      |    (CAST(SUM(v) AS DOUBLE) / $frameDays.0 - MAX(mu))
      |      / NULLIF(MAX(sigma), 0.0) AS z
      |  FROM stats GROUP BY 1, 2
      |  HAVING COUNT(*) = $frameDays
      |), syms AS (
      |  SELECT event_type, frame,
      |    CASE WHEN z IS NULL THEN 'b'
      |      WHEN z < -0.6745 THEN 'a'
      |      WHEN z < 0.0 THEN 'b'
      |      WHEN z < 0.6745 THEN 'c'
      |      ELSE 'd' END AS sym
      |  FROM frames
      |), words AS (
      |  SELECT event_type,
      |    sym || LEAD(sym, 1) OVER wo || LEAD(sym, 2) OVER wo AS w
      |  FROM syms
      |  WINDOW wo AS (PARTITION BY event_type ORDER BY frame)
      |), counted AS (
      |  SELECT event_type, w, CAST(COUNT(*) AS BIGINT) AS n_occ
      |  FROM words WHERE w IS NOT NULL GROUP BY 1, 2
      |)
      |SELECT event_type, CAST(rank AS INT) AS rank, w AS motif, n_occ
      |FROM (
      |  SELECT event_type, w, n_occ,
      |    ROW_NUMBER() OVER (PARTITION BY event_type
      |      ORDER BY n_occ DESC, w) AS rank
      |  FROM counted
      |)
      |WHERE rank <= $topK
      |ORDER BY event_type, rank""".stripMargin

  /** q476 — Ljung–Box portmanteau test per type's daily series:
    * Q = n(n+2)·Σ_{k=1..7} ρ_k²/(n−k) against the χ²₀.₉₅,₇ cut — the
    * ONE-number "is there any autocorrelation at all" gate that
    * decides whether the q209 ACF / q429 PACF machinery has anything
    * real to model, and the standard residual-whiteness check after a
    * fit (q241 Holt, q135 Markov).
    *
    * Exactness: the q429 discipline — centered products round 6dp
    * into DECIMAL(28,6) autocovariance sums (the mean is one IEEE
    * division of exact integers), ρ_k = g_k/g_0 and the 7-term Q fold
    * run in one FIXED operand order (conditional-sum pivot, never a
    * float sum over rows), verdict against the literal 14.067140 cut.
    *
    * Scale: calendar-sized — one dense grid, 7 lead columns, one
    * (type, lag) aggregate, a |types|-row pivot.
    */
  def ljungBox(spark: SparkSession, dir: String, maxLag: Int = 7): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(28, 6)
    val byType = Window.partitionBy(col("event_type"))
    val w = byType.orderBy(col("day"))
    val dense = denseDailyCounts(spark, dir)
      .withColumn("n", count(lit(1)).over(byType))
      .withColumn("xbar", sum(col("v")).over(byType).cast("double")
        / count(lit(1)).over(byType).cast("double"))
      .withColumn("xc", col("v").cast("double") - col("xbar"))
    val withLeads = (1 to maxLag).foldLeft(dense) { (df, k) =>
      df.withColumn(s"y_$k", lead(col("xc"), k).over(w))
    }
    val stacked = withLeads.select(col("event_type"), col("n"), col("xc"),
      expr(s"stack($maxLag, " +
        (1 to maxLag).map(k => s"$k, y_$k").mkString(", ") + ")")
        .as(Seq("lag", "y")))
    val gk = stacked.filter(col("y").isNotNull)
      .groupBy(col("event_type"), col("lag"))
      .agg(sum(round(col("xc") * col("y"), 6).cast(dec)).cast("double").as("g"))
    val g0 = dense.groupBy(col("event_type"))
      .agg(max(col("n")).as("n_days"),
        sum(round(col("xc") * col("xc"), 6).cast(dec)).cast("double").as("g0"))
    val pivot = gk.groupBy(col("event_type"))
      .agg((1 to maxLag).map(k =>
        max(when(col("lag") === k, col("g"))).as(s"g$k")).head,
        (2 to maxLag).map(k =>
          max(when(col("lag") === k, col("g"))).as(s"g$k")): _*)
    val joined = pivot.join(g0, "event_type")
    val nD = col("n_days").cast("double")
    val g0nz = nullif(col("g0"), lit(0.0))
    val qSum = (1 to maxLag).map { k =>
      (col(s"g$k") / g0nz) * (col(s"g$k") / g0nz) /
        nullif(nD - lit(k.toDouble), lit(0.0))
    }.reduce(_ + _)
    joined.select(col("event_type"), col("n_days"),
        round(nD * (nD + 2.0) * qSum, 6).as("q_stat"),
        lit(maxLag).cast("int").as("df"))
      .withColumn("verdict",
        when(col("q_stat").isNull, lit("degenerate"))
          .when(col("q_stat") > 14.067140, lit("autocorrelated"))
          .otherwise(lit("white_noise")))
      .orderBy(col("event_type"))
  }

  def ljungBoxSql(maxLag: Int = 7): String = {
    val leadCols = (1 to maxLag).map(k =>
      s"LEAD(xc, $k) OVER wo AS y_$k").mkString(",\n      |    ")
    val unions = (1 to maxLag).map(k =>
      s"SELECT event_type, n, xc, $k AS lag, y_$k AS y FROM leads")
      .mkString("\n      |  UNION ALL ")
    val gCols = (1 to maxLag).map(k =>
      s"MAX(CASE WHEN lag = $k THEN g END) AS g$k").mkString(",\n      |    ")
    val qTerms = (1 to maxLag).map(k =>
      s"(g$k / NULLIF(g0, 0.0)) * (g$k / NULLIF(g0, 0.0)) / NULLIF(CAST(n_days AS DOUBLE) - $k.0, 0.0)")
      .mkString("\n      |    + ")
    s"""WITH $denseDailyCountsSql, centered AS (
      |  SELECT event_type, day, v,
      |    COUNT(*) OVER wt AS n,
      |    CAST(v AS DOUBLE) - CAST(SUM(v) OVER wt AS DOUBLE)
      |      / CAST(COUNT(*) OVER wt AS DOUBLE) AS xc
      |  FROM dense
      |  WINDOW wt AS (PARTITION BY event_type)
      |), leads AS (
      |  SELECT event_type, n, xc,
      |    $leadCols
      |  FROM centered
      |  WINDOW wo AS (PARTITION BY event_type ORDER BY day)
      |), stacked AS (
      |  $unions
      |), gk AS (
      |  SELECT event_type, lag,
      |    CAST(SUM(CAST(ROUND(xc * y, 6) AS DECIMAL(28,6))) AS DOUBLE) AS g
      |  FROM stacked WHERE y IS NOT NULL GROUP BY 1, 2
      |), g0 AS (
      |  SELECT event_type, CAST(MAX(n) AS BIGINT) AS n_days,
      |    CAST(SUM(CAST(ROUND(xc * xc, 6) AS DECIMAL(28,6))) AS DOUBLE) AS g0
      |  FROM centered GROUP BY 1
      |), gmat AS (
      |  SELECT event_type,
      |    $gCols
      |  FROM gk GROUP BY 1
      |), scored AS (
      |  SELECT p.event_type, z.n_days,
      |    ROUND(CAST(z.n_days AS DOUBLE) * (CAST(z.n_days AS DOUBLE) + 2.0)
      |      * ($qTerms), 6) AS q_stat
      |  FROM gmat p JOIN g0 z ON z.event_type = p.event_type
      |)
      |SELECT event_type, n_days, q_stat, CAST($maxLag AS INT) AS df,
      |  CASE WHEN q_stat IS NULL THEN 'degenerate'
      |    WHEN q_stat > 14.067140 THEN 'autocorrelated'
      |    ELSE 'white_noise' END AS verdict
      |FROM scored
      |ORDER BY event_type""".stripMargin
  }

  /** q477 — Dickey–Fuller unit-root test per type's daily series: the
    * regression Δx_t = α + β·x_{t−1} + ε, with the DF statistic
    * t = β̂/SE(β̂) against the −2.86 (constant-included, 5%) cut —
    * "is this series mean-reverting or a random walk", the
    * stationarity gate that decides whether the trend operators
    * (q102 OLS, q217 Theil–Sen) describe structure or drift. β̂ near
    * 0 with small |t| = unit root (differencing needed); strongly
    * negative t = stationary.
    *
    * Exactness: x and Δx are exact integers, so all five sufficient
    * statistics accumulate EXACTLY in DECIMAL(28,6) (no per-term
    * rounding needed); β̂, the residual variance via
    * (Syy_c − β̂·Sxy_c)/(n−2), SE and t run in one fixed IEEE chain,
    * each output rounded once; NULLIF guards the constant series.
    *
    * Scale: calendar-sized — one dense grid, one lag column, one
    * |types|-row sufficient-stat aggregate.
    */
  def dickeyFuller(spark: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(28, 6)
    def dsum(c: Column): Column = sum(c.cast(dec)).cast("double")
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val pairs = denseDailyCounts(spark, dir)
      .withColumn("xlag", lag(col("v"), 1).over(w))
      .filter(col("xlag").isNotNull)
      .withColumn("x", col("xlag"))
      .withColumn("y", col("v") - col("xlag"))
    val stats = pairs.groupBy(col("event_type")).agg(
      count(lit(1)).as("n"),
      dsum(col("x")).as("sx"), dsum(col("y")).as("sy"),
      dsum(col("x") * col("x")).as("sxx"),
      dsum(col("x") * col("y")).as("sxy"),
      dsum(col("y") * col("y")).as("syy"))
    val nD = col("n").cast("double")
    val sxxC = col("sxx") - col("sx") * col("sx") / nD
    val sxyC = col("sxy") - col("sx") * col("sy") / nD
    val syyC = col("syy") - col("sy") * col("sy") / nD
    val beta = sxyC / nullif(sxxC, lit(0.0))
    val s2 = (syyC - beta * sxyC) / nullif(nD - 2.0, lit(0.0))
    val tStat = beta / nullif(sqrt(greatest(s2 / nullif(sxxC, lit(0.0)),
      lit(0.0))), lit(0.0))
    stats.select(col("event_type"), col("n").as("n_pairs"),
        round(beta, 6).as("beta"), round(tStat, 6).as("t_stat"),
        when(round(tStat, 6).isNull, lit("degenerate"))
          .when(round(tStat, 6) < -2.86, lit("stationary"))
          .otherwise(lit("unit_root")).as("verdict"))
      .orderBy(col("event_type"))
  }

  val dickeyFullerSql: String =
    s"""WITH $denseDailyCountsSql, pairs AS (
      |  SELECT event_type,
      |    CAST(xlag AS BIGINT) AS x, CAST(v - xlag AS BIGINT) AS y
      |  FROM (
      |    SELECT event_type, v,
      |      LAG(v, 1) OVER (PARTITION BY event_type ORDER BY day) AS xlag
      |    FROM dense
      |  )
      |  WHERE xlag IS NOT NULL
      |), stats AS (
      |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(CAST(x AS DECIMAL(28,6))) AS DOUBLE) AS sx,
      |    CAST(SUM(CAST(y AS DECIMAL(28,6))) AS DOUBLE) AS sy,
      |    CAST(SUM(CAST(x * x AS DECIMAL(28,6))) AS DOUBLE) AS sxx,
      |    CAST(SUM(CAST(x * y AS DECIMAL(28,6))) AS DOUBLE) AS sxy,
      |    CAST(SUM(CAST(y * y AS DECIMAL(28,6))) AS DOUBLE) AS syy
      |  FROM pairs GROUP BY 1
      |), scored AS (
      |  SELECT event_type, n,
      |    ROUND((sxy - sx * sy / CAST(n AS DOUBLE))
      |      / NULLIF(sxx - sx * sx / CAST(n AS DOUBLE), 0.0), 6) AS beta,
      |    ROUND(((sxy - sx * sy / CAST(n AS DOUBLE))
      |        / NULLIF(sxx - sx * sx / CAST(n AS DOUBLE), 0.0))
      |      / NULLIF(sqrt(GREATEST((((syy - sy * sy / CAST(n AS DOUBLE))
      |          - ((sxy - sx * sy / CAST(n AS DOUBLE))
      |            / NULLIF(sxx - sx * sx / CAST(n AS DOUBLE), 0.0))
      |            * (sxy - sx * sy / CAST(n AS DOUBLE)))
      |          / NULLIF(CAST(n AS DOUBLE) - 2.0, 0.0))
      |        / NULLIF(sxx - sx * sx / CAST(n AS DOUBLE), 0.0), 0.0)), 0.0), 6)
      |      AS t_stat
      |  FROM stats
      |)
      |SELECT event_type, n AS n_pairs, beta, t_stat,
      |  CASE WHEN t_stat IS NULL THEN 'degenerate'
      |    WHEN t_stat < -2.86 THEN 'stationary'
      |    ELSE 'unit_root' END AS verdict
      |FROM scored
      |ORDER BY event_type""".stripMargin

  /** q470 — exponentiality test of inter-event gaps per type: fit
    * λ by MLE (n/Σgap) to the within-day inter-arrival gaps, then the
    * one-sample Kolmogorov–Smirnov distance between the gap ECDF and
    * the fitted 1 − e^(−λx), against the 1.358/√n (5%) cut — the
    * HYPOTHESIS TEST behind the Poisson assumption that q140's
    * spectrum displays and q463's Fano ratio summarizes: a stream can
    * have Fano ≈ 1 yet strongly non-exponential gaps (regular
    * heartbeats), and it is the gap law that queueing/capacity math
    * (q395 Little) actually assumes. Day-boundary gaps drop (stated)
    * so the gap frame stays day-keyed.
    *
    * Exactness: gaps are exact integer MICROSECONDS; the ECDF is
    * value-grain (per distinct gap, the q269 midrank discipline — D
    * checks both step corners cum/n and (cum−m)/n so ties are
    * handled exactly); λ and each F(x) are fixed IEEE chains; D and
    * the critical value round once.
    *
    * Scale: (type, day)-keyed lag windows (fine-grained — never a
    * whole-type sort of event-grain rows), then a value-grain
    * cumulative over distinct gaps and a |types|-row reduce.
    */
  /** Within-day inter-event gaps in exact integer microseconds, the
    * shared input of q470 (KS exponentiality) and q493 (Weibull
    * shape): (type, day)-keyed lag windows — never a whole-type
    * event-grain sort — with day-boundary gaps dropped.
    */
  private def dayGaps(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
      .select(col("event_type"), epochDayExpr.as("day"),
        expr("unix_micros(ts)").as("us"), col("event_id"))
    val w = Window.partitionBy(col("event_type"), col("day"))
      .orderBy(col("us"), col("event_id"))
    ev.withColumn("prev", lag(col("us"), 1).over(w))
      .filter(col("prev").isNotNull)
      .select(col("event_type"), (col("us") - col("prev")).as("g"))
  }

  private val dayGapsSql: String =
    """ev AS (
      |  SELECT event_type, epoch_ms(ts) // 86400000 AS day,
      |    epoch_us(ts) AS us, event_id
      |  FROM events
      |), gaps AS (
      |  SELECT event_type, us - prev AS g
      |  FROM (
      |    SELECT event_type, us,
      |      LAG(us, 1) OVER (PARTITION BY event_type, day
      |        ORDER BY us, event_id) AS prev
      |    FROM ev
      |  )
      |  WHERE prev IS NOT NULL
      |)""".stripMargin

  def gapExponentiality(spark: SparkSession, dir: String): DataFrame = {
    val gaps = dayGaps(spark, dir)
    val byVal = gaps.groupBy(col("event_type"), col("g"))
      .agg(count(lit(1)).as("m"))
      .withColumn("cum", sum(col("m")).over(
        Window.partitionBy(col("event_type")).orderBy(col("g"))))
      .withColumn("n", sum(col("m")).over(Window.partitionBy(col("event_type"))))
      .withColumn("sg", sum(col("g") * col("m")).over(
        Window.partitionBy(col("event_type"))))
    val lam = col("n").cast("double") / nullif(col("sg").cast("double"), lit(0.0))
    val fx = lit(1.0) - exp(-lam * col("g").cast("double"))
    val scored = byVal
      .withColumn("dplus", abs(col("cum").cast("double") / col("n").cast("double") - fx))
      .withColumn("dminus", abs((col("cum") - col("m")).cast("double")
        / col("n").cast("double") - fx))
    scored.groupBy(col("event_type"))
      .agg(max(col("n")).as("n_gaps"),
        round(max(lam) * 1e6, 6).as("lambda_per_sec"),
        round(max(greatest(col("dplus"), col("dminus"))), 6).as("ks_d"))
      .withColumn("critical_5pct",
        round(lit(1.358) / sqrt(col("n_gaps").cast("double")), 6))
      .withColumn("verdict",
        when(col("ks_d").isNull, lit("degenerate"))
          .when(col("ks_d") > col("critical_5pct"), lit("non_exponential"))
          .otherwise(lit("exponential_ok")))
      .orderBy(col("event_type"))
  }

  val gapExponentialitySql: String =
    s"""WITH $dayGapsSql, by_val AS (
      |  SELECT event_type, g, CAST(COUNT(*) AS BIGINT) AS m,
      |    CAST(SUM(COUNT(*)) OVER (PARTITION BY event_type ORDER BY g
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS cum,
      |    CAST(SUM(COUNT(*)) OVER (PARTITION BY event_type) AS BIGINT) AS n,
      |    CAST(SUM(g * COUNT(*)) OVER (PARTITION BY event_type)
      |      AS BIGINT) AS sg
      |  FROM gaps GROUP BY 1, 2
      |), scored AS (
      |  SELECT event_type, n,
      |    CAST(n AS DOUBLE) / NULLIF(CAST(sg AS DOUBLE), 0.0) AS lam,
      |    GREATEST(
      |      ABS(CAST(cum AS DOUBLE) / CAST(n AS DOUBLE)
      |        - (1.0 - exp(-(CAST(n AS DOUBLE) / NULLIF(CAST(sg AS DOUBLE), 0.0))
      |            * CAST(g AS DOUBLE)))),
      |      ABS(CAST(cum - m AS DOUBLE) / CAST(n AS DOUBLE)
      |        - (1.0 - exp(-(CAST(n AS DOUBLE) / NULLIF(CAST(sg AS DOUBLE), 0.0))
      |            * CAST(g AS DOUBLE))))) AS dterm
      |  FROM by_val
      |), agg AS (
      |  SELECT event_type, MAX(n) AS n_gaps,
      |    ROUND(MAX(lam) * 1000000.0, 6) AS lambda_per_sec,
      |    ROUND(MAX(dterm), 6) AS ks_d
      |  FROM scored GROUP BY 1
      |)
      |SELECT event_type, n_gaps, lambda_per_sec, ks_d,
      |  ROUND(1.358 / sqrt(CAST(n_gaps AS DOUBLE)), 6) AS critical_5pct,
      |  CASE WHEN ks_d IS NULL THEN 'degenerate'
      |    WHEN ks_d > ROUND(1.358 / sqrt(CAST(n_gaps AS DOUBLE)), 6)
      |      THEN 'non_exponential'
      |    ELSE 'exponential_ok' END AS verdict
      |FROM agg
      |ORDER BY event_type""".stripMargin

  /** q493 — Weibull shape fit of the within-day inter-event gaps by
    * median-rank regression: ln(−ln(1−F)) against ln(gap) is linear
    * for Weibull data with slope = the SHAPE k — the parameter q470's
    * binary KS verdict doesn't give: k < 1 means bursty/clustered
    * arrivals (hazard falls with waiting — the longer quiet, the
    * quieter), k ≈ 1 Poisson, k > 1 regular/heartbeat (hazard rises).
    * The number that picks retry/timeout policy and capacity
    * headroom. F uses Benard's median-rank (i−0.3)/(n+0.4) at the
    * value-grain upper step, tied gaps weighted by multiplicity
    * (stated); zero gaps (simultaneous events) drop before the log.
    *
    * Exactness: gaps are exact integer micros off the SHARED dayGaps
    * frame; F is one fixed IEEE chain per distinct gap; the weighted
    * OLS terms round 6dp into DECIMAL(28,6) sums; shape/scale are one
    * rounded chain, NULLIF-guarded for the single-value corner.
    *
    * Scale: the q470 posture — (type, day)-keyed lags, value-grain
    * cumulative, |types|-row sufficient-stat reduce.
    */
  def weibullGapFit(spark: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(28, 6)
    def dsum(c: Column): Column = sum(c.cast(dec)).cast("double")
    val byType = Window.partitionBy(col("event_type"))
    val pts = dayGaps(spark, dir)
      .filter(col("g") > 0)
      .groupBy(col("event_type"), col("g"))
      .agg(count(lit(1)).as("m"))
      .withColumn("cum", sum(col("m")).over(byType.orderBy(col("g"))))
      .withColumn("n", sum(col("m")).over(byType))
      .withColumn("x", log(col("g").cast("double") / 1e6))
      .withColumn("f", (col("cum").cast("double") - 0.3)
        / (col("n").cast("double") + 0.4))
      .withColumn("y", log(-log(lit(1.0) - col("f"))))
    val stats = pts.groupBy(col("event_type")).agg(
      max(col("n")).as("n_gaps"),
      sum(col("m")).as("wsum"),
      dsum(round(col("m") * col("x"), 6)).as("sx"),
      dsum(round(col("m") * col("y"), 6)).as("sy"),
      dsum(round(col("m") * col("x") * col("x"), 6)).as("sxx"),
      dsum(round(col("m") * col("x") * col("y"), 6)).as("sxy"))
    val wD = col("wsum").cast("double")
    val den = nullif(wD * col("sxx") - col("sx") * col("sx"), lit(0.0))
    val shape = (wD * col("sxy") - col("sx") * col("sy")) / den
    val intercept = (col("sy") - shape * col("sx")) / wD
    stats.select(col("event_type"), col("n_gaps"),
        round(shape, 6).as("shape_k"),
        round(exp(-intercept / nullif(shape, lit(0.0))), 6).as("scale_sec"))
      .withColumn("verdict",
        when(col("shape_k").isNull, lit("degenerate"))
          .when(col("shape_k") < 0.95, lit("bursty"))
          .when(col("shape_k") > 1.05, lit("regular"))
          .otherwise(lit("poisson_like")))
      .orderBy(col("event_type"))
  }

  val weibullGapFitSql: String =
    s"""WITH $dayGapsSql, pts AS (
      |  SELECT event_type, g, m, cum, n,
      |    ln(CAST(g AS DOUBLE) / 1000000.0) AS x,
      |    ln(-ln(1.0 - (CAST(cum AS DOUBLE) - 0.3)
      |      / (CAST(n AS DOUBLE) + 0.4))) AS y
      |  FROM (
      |    SELECT event_type, g, CAST(COUNT(*) AS BIGINT) AS m,
      |      CAST(SUM(COUNT(*)) OVER (PARTITION BY event_type ORDER BY g
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |        AS cum,
      |      CAST(SUM(COUNT(*)) OVER (PARTITION BY event_type) AS BIGINT) AS n
      |    FROM gaps WHERE g > 0 GROUP BY 1, 2
      |  )
      |), stats AS (
      |  SELECT event_type, CAST(MAX(n) AS BIGINT) AS n_gaps,
      |    CAST(SUM(m) AS DOUBLE) AS w,
      |    CAST(SUM(CAST(ROUND(m * x, 6) AS DECIMAL(28,6))) AS DOUBLE) AS sx,
      |    CAST(SUM(CAST(ROUND(m * y, 6) AS DECIMAL(28,6))) AS DOUBLE) AS sy,
      |    CAST(SUM(CAST(ROUND(m * x * x, 6) AS DECIMAL(28,6))) AS DOUBLE) AS sxx,
      |    CAST(SUM(CAST(ROUND(m * x * y, 6) AS DECIMAL(28,6))) AS DOUBLE) AS sxy
      |  FROM pts GROUP BY 1
      |), scored AS (
      |  SELECT event_type, n_gaps,
      |    ROUND((w * sxy - sx * sy)
      |      / NULLIF(w * sxx - sx * sx, 0.0), 6) AS shape_k,
      |    ROUND(exp(-((sy - ((w * sxy - sx * sy)
      |        / NULLIF(w * sxx - sx * sx, 0.0)) * sx) / w)
      |      / NULLIF((w * sxy - sx * sy)
      |        / NULLIF(w * sxx - sx * sx, 0.0), 0.0)), 6) AS scale_sec
      |  FROM stats
      |)
      |SELECT event_type, n_gaps, shape_k, scale_sec,
      |  CASE WHEN shape_k IS NULL THEN 'degenerate'
      |    WHEN shape_k < 0.95 THEN 'bursty'
      |    WHEN shape_k > 1.05 THEN 'regular'
      |    ELSE 'poisson_like' END AS verdict
      |FROM scored
      |ORDER BY event_type""".stripMargin

  /** q492 — Haar wavelet energy ladder per type's daily series: the
    * unnormalized Haar detail coefficients at levels 1/2/3 (pairwise
    * differences of successive level approximations — 2/4/8-day
    * timescales) and each level's energy share — WHERE the variance
    * lives in time-scale: level-1-heavy = day-to-day churn (smooth
    * before forecasting), level-3-heavy = week-scale swings (the
    * q463 Fano grain made additive: energies decompose exactly,
    * unlike Fano ratios). The decomposition every multirate
    * batching/compression decision reads.
    *
    * Exactness: unnormalized Haar keeps EVERYTHING in integers —
    * approximations are pairwise sums, details pairwise differences,
    * energies Σd² (the 2^level normalization is stated; shares divide
    * by the total at the end, the only doubles). Partial blocks at
    * each level drop (stated: pairs only).
    *
    * Scale: calendar-sized — three rounds of (type, block)-keyed
    * pairwise aggregates off the dense grid, |types|·3 output rows.
    */
  def haarEnergyLadder(spark: SparkSession, dir: String,
                       levels: Int = 3): DataFrame = {
    val dense = denseDailyCounts(spark, dir)
      .select(col("event_type"), col("day").as("idx"), col("v").as("a"))
    var cur = dense
    val detailFrames = (1 to levels).map { lvl =>
      val paired = cur.withColumn("blk", expr("idx div 2"))
        .groupBy(col("event_type"), col("blk"))
        .agg(count(lit(1)).as("np"),
          sum(when(expr("idx % 2 = 0"), col("a"))).as("x0"),
          sum(when(expr("idx % 2 = 1"), col("a"))).as("x1"))
        .filter(col("np") === 2)
        .transform(graft.Iterate.cut)
      cur = paired.select(col("event_type"), col("blk").as("idx"),
        (col("x0") + col("x1")).as("a"))
      paired.select(col("event_type"),
          ((col("x0") - col("x1")) * (col("x0") - col("x1"))).as("e"))
        .groupBy(col("event_type"))
        .agg(sum(col("e")).as("energy"), count(lit(1)).as("n_details"))
        .withColumn("level", lit(lvl))
    }
    val u = detailFrames.reduce(_ unionByName _)
    val tot = u.groupBy(col("event_type"))
      .agg(sum(col("energy")).as("e_tot"))
    u.join(tot, "event_type")
      .select(col("event_type"), col("level").cast("int").as("level"),
        col("n_details"), col("energy"),
        round(col("energy").cast("double")
          / nullif(col("e_tot").cast("double"), lit(0.0)), 6)
          .as("energy_share"))
      .orderBy(col("event_type"), col("level"))
  }

  def haarEnergyLadderSql(levels: Int = 3): String = {
    // level CTEs: aN carries (event_type, idx, a); dN the detail energies
    val lvls = (1 to levels).map { l =>
      val src = if (l == 1) "a0" else s"a${l - 1}"
      s"""p$l AS (
        |  SELECT event_type, idx // 2 AS blk,
        |    SUM(CASE WHEN idx % 2 = 0 THEN a END) AS x0,
        |    SUM(CASE WHEN idx % 2 = 1 THEN a END) AS x1,
        |    COUNT(*) AS np
        |  FROM $src GROUP BY 1, 2
        |), a$l AS (
        |  SELECT event_type, blk AS idx, x0 + x1 AS a
        |  FROM p$l WHERE np = 2
        |), d$l AS (
        |  SELECT event_type, $l AS level,
        |    CAST(COUNT(*) AS BIGINT) AS n_details,
        |    CAST(SUM((x0 - x1) * (x0 - x1)) AS BIGINT) AS energy
        |  FROM p$l WHERE np = 2 GROUP BY 1
        |)""".stripMargin
    }.mkString(", ")
    val unions = (1 to levels).map(l =>
      s"SELECT * FROM d$l").mkString(" UNION ALL ")
    s"""WITH $denseDailyCountsSql, a0 AS (
      |  SELECT event_type, day AS idx, v AS a FROM dense
      |), $lvls, u AS (
      |  $unions
      |), tot AS (
      |  SELECT event_type, CAST(SUM(energy) AS BIGINT) AS e_tot
      |  FROM u GROUP BY 1
      |)
      |SELECT u.event_type, CAST(u.level AS INT) AS level, u.n_details,
      |  u.energy,
      |  ROUND(CAST(u.energy AS DOUBLE)
      |    / NULLIF(CAST(t.e_tot AS DOUBLE), 0.0), 6) AS energy_share
      |FROM u JOIN tot t ON t.event_type = u.event_type
      |ORDER BY u.event_type, u.level""".stripMargin
  }

  /** q486 — Jarque–Bera normality test per type's daily counts:
    * JB = n·(S²/6 + (K−3)²/24) from the exact sample skewness S and
    * kurtosis K, against the χ²₀.₉₅,₂ = 5.991465 cut — the moment
    * battery (q188-family skew/kurt) turned into a DECISION: every
    * Gaussian-assuming downstream (q173 EWMA bands, q179 power, q363
    * shrinkage priors) is built on this hypothesis, and JB is the
    * standard cheap test of it.
    *
    * Exactness: raw power sums Σx, Σx², Σx³, Σx⁴ are EXACT integers
    * (counts are integers — no per-term rounding needed) accumulated
    * in DECIMAL(38,6); central moments, S, K and JB run in one fixed
    * IEEE chain mirrored verbatim, NULLIF-guarded at zero variance,
    * rounded once.
    *
    * Scale: one |types|-row moment aggregate over the dense grid.
    */
  def jarqueBera(spark: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 6)
    def dsum(c: Column): Column = sum(c.cast(dec)).cast("double")
    val stats = denseDailyCounts(spark, dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        dsum(col("v")).as("s1"),
        dsum(col("v") * col("v")).as("s2"),
        dsum(col("v") * col("v") * col("v")).as("s3"),
        dsum(col("v") * col("v") * col("v") * col("v")).as("s4"))
    val nD = col("n").cast("double")
    val mu = col("s1") / nD
    val m2 = greatest(col("s2") / nD - mu * mu, lit(0.0))
    val m3 = col("s3") / nD - lit(3.0) * mu * (col("s2") / nD) +
      lit(2.0) * mu * mu * mu
    val m4 = col("s4") / nD - lit(4.0) * mu * (col("s3") / nD) +
      lit(6.0) * mu * mu * (col("s2") / nD) - lit(3.0) * mu * mu * mu * mu
    val skew = m3 / nullif(sqrt(m2 * m2 * m2), lit(0.0))
    val kurt = m4 / nullif(m2 * m2, lit(0.0))
    val jb = nD * (skew * skew / 6.0 +
      (kurt - 3.0) * (kurt - 3.0) / 24.0)
    stats.select(col("event_type"), col("n").as("n_days"),
        round(skew, 6).as("skewness"), round(kurt, 6).as("kurtosis"),
        round(jb, 6).as("jb_stat"),
        when(round(jb, 6).isNull, lit("degenerate"))
          .when(round(jb, 6) > 5.991465, lit("non_normal"))
          .otherwise(lit("normal_ok")).as("verdict"))
      .orderBy(col("event_type"))
  }

  val jarqueBeraSql: String = {
    val mu = "(s1 / nd)"
    val m2 = s"GREATEST(s2 / nd - $mu * $mu, 0.0)"
    val m3 = s"(s3 / nd - 3.0 * $mu * (s2 / nd) + 2.0 * $mu * $mu * $mu)"
    val m4 = s"(s4 / nd - 4.0 * $mu * (s3 / nd) + 6.0 * $mu * $mu * (s2 / nd) - 3.0 * $mu * $mu * $mu * $mu)"
    val skew = s"($m3 / NULLIF(sqrt($m2 * $m2 * $m2), 0.0))"
    val kurt = s"($m4 / NULLIF($m2 * $m2, 0.0))"
    val jb = s"ROUND(nd * ($skew * $skew / 6.0 + ($kurt - 3.0) * ($kurt - 3.0) / 24.0), 6)"
    s"""WITH $denseDailyCountsSql, stats AS (
      |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(COUNT(*) AS DOUBLE) AS nd,
      |    CAST(SUM(CAST(v AS DECIMAL(38,6))) AS DOUBLE) AS s1,
      |    CAST(SUM(CAST(v * v AS DECIMAL(38,6))) AS DOUBLE) AS s2,
      |    CAST(SUM(CAST(v * v * v AS DECIMAL(38,6))) AS DOUBLE) AS s3,
      |    CAST(SUM(CAST(v * v * v * v AS DECIMAL(38,6))) AS DOUBLE) AS s4
      |  FROM dense GROUP BY 1
      |)
      |SELECT event_type, n AS n_days,
      |  ROUND($skew, 6) AS skewness,
      |  ROUND($kurt, 6) AS kurtosis,
      |  $jb AS jb_stat,
      |  CASE WHEN $jb IS NULL THEN 'degenerate'
      |    WHEN $jb > 5.991465 THEN 'non_normal'
      |    ELSE 'normal_ok' END AS verdict
      |FROM stats
      |ORDER BY event_type""".stripMargin
  }

  /** q487 — permutation entropy (order 3) per type's daily series:
    * each consecutive triple maps to its ordinal pattern (ranks with
    * the earlier-index-wins tie rule), and the normalized Shannon
    * entropy of the 6-pattern distribution scores the series'
    * COMPLEXITY — ≈1 means the ordinal dynamics are indistinguishable
    * from noise, low values mean structured motion (trends, cycles) —
    * robust to any monotone transform of the values, which no
    * moment/ACF statistic is. The dominant pattern is named.
    *
    * Exactness: patterns are pure integer comparisons on exact
    * counts; the ≤6-row distribution turns into entropy via per-
    * pattern 6dp-rounded p·log₂p terms in a DECIMAL sum (order-free),
    * normalized by the literal log₂6; dominance tiebreaks by pattern.
    *
    * Scale: calendar-sized — two lead columns, one (type, pattern)
    * count, a |types|-row reduce.
    */
  def permutationEntropy(spark: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(28, 6)
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val triples = denseDailyCounts(spark, dir)
      .withColumn("b", lead(col("v"), 1).over(w))
      .withColumn("c", lead(col("v"), 2).over(w))
      .filter(col("c").isNotNull)
    // earlier index wins ties: a beats b iff a <= b, etc.
    val ra = (col("v") > col("b")).cast("int") + (col("v") > col("c")).cast("int")
    val rb = (col("b") >= col("v")).cast("int") + (col("b") > col("c")).cast("int")
    val rc = (col("c") >= col("v")).cast("int") + (col("c") >= col("b")).cast("int")
    val counted = triples
      .withColumn("pattern", concat(ra.cast("string"), rb.cast("string"),
        rc.cast("string")))
      .groupBy(col("event_type"), col("pattern"))
      .agg(count(lit(1)).as("m"))
      .withColumn("n", sum(col("m")).over(Window.partitionBy(col("event_type"))))
      .withColumn("p", col("m").cast("double") / col("n").cast("double"))
      .withColumn("term", round(col("p") * log2(col("p")), 6))
    val rk = Window.partitionBy(col("event_type"))
      .orderBy(col("m").desc, col("pattern"))
    counted
      .withColumn("is_top", row_number().over(rk) === 1)
      .groupBy(col("event_type"))
      .agg(max(col("n")).as("n_windows"),
        count(lit(1)).as("n_patterns"),
        round(-sum(col("term").cast(dec)).cast("double")
          / lit(math.log(6.0) / math.log(2.0)), 6).as("h_norm"),
        max(when(col("is_top"), col("pattern"))).as("dominant_pattern"))
      .orderBy(col("event_type"))
  }

  val permutationEntropySql: String =
    s"""WITH $denseDailyCountsSql, triples AS (
      |  SELECT event_type, v AS a,
      |    LEAD(v, 1) OVER wo AS b, LEAD(v, 2) OVER wo AS c
      |  FROM dense
      |  WINDOW wo AS (PARTITION BY event_type ORDER BY day)
      |  QUALIFY c IS NOT NULL
      |), pats AS (
      |  SELECT event_type,
      |    CAST(CAST(a > b AS INT) + CAST(a > c AS INT) AS VARCHAR)
      |      || CAST(CAST(b >= a AS INT) + CAST(b > c AS INT) AS VARCHAR)
      |      || CAST(CAST(c >= a AS INT) + CAST(c >= b AS INT) AS VARCHAR)
      |      AS pattern
      |  FROM triples
      |), counted AS (
      |  SELECT event_type, pattern, CAST(COUNT(*) AS BIGINT) AS m
      |  FROM pats GROUP BY 1, 2
      |), terms AS (
      |  SELECT event_type, pattern, m,
      |    CAST(SUM(m) OVER (PARTITION BY event_type) AS BIGINT) AS n,
      |    ROUND((CAST(m AS DOUBLE)
      |        / CAST(SUM(m) OVER (PARTITION BY event_type) AS DOUBLE))
      |      * log2(CAST(m AS DOUBLE)
      |        / CAST(SUM(m) OVER (PARTITION BY event_type) AS DOUBLE)), 6)
      |      AS term,
      |    ROW_NUMBER() OVER (PARTITION BY event_type
      |      ORDER BY m DESC, pattern) AS rk
      |  FROM counted
      |)
      |SELECT event_type, MAX(n) AS n_windows,
      |  CAST(COUNT(*) AS BIGINT) AS n_patterns,
      |  ROUND(-CAST(SUM(CAST(term AS DECIMAL(28,6))) AS DOUBLE)
      |    / ${math.log(6.0) / math.log(2.0)}, 6) AS h_norm,
      |  MAX(CASE WHEN rk = 1 THEN pattern END) AS dominant_pattern
      |FROM terms
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** q488 — sample entropy (m = 1, r = half the population σ) per
    * type's daily series: A = matching 1-point templates
    * (|x_i − x_j| ≤ r, i < j), B = those whose SUCCESSORS also match;
    * SampEn = −ln(B/A) — the regularity measure (physiology's
    * standard) that q476's Ljung–Box cannot see: a series can be
    * uncorrelated yet highly regular (repeating motifs), and SampEn
    * flags exactly that. Low = predictable template reuse; high =
    * genuine novelty per window.
    *
    * Exactness: the tolerance is in integer HALF-UNITS (2·|Δ| ≤
    * σ_int where σ_int = floor(2r) in count units — the comparison is
    * pure integers, no float boundary), A and B are exact integer
    * pair counts, and SampEn is one guarded ln rounded 6dp.
    *
    * Scale: the q293 posture — a calendar² pair join per type
    * (bounded by the time span, not the corpus), one |types|-row
    * reduce.
    */
  def sampleEntropy(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val dense = denseDailyCounts(spark, dir)
      .withColumn("nxt", lead(col("v"), 1).over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("event_type"))))
      .withColumn("s", sum(col("v")).over(Window.partitionBy(col("event_type"))))
      .withColumn("ss", sum(col("v") * col("v"))
        .over(Window.partitionBy(col("event_type"))))
      // 2r in integer units: floor(σ) where σ² = ss/n − (s/n)²; the
      // match predicate 2|Δ| ≤ floor(2r)=σ_int keeps ALL comparisons
      // integral (r = σ/2)
      .withColumn("sig_int", floor(sqrt(greatest(
        col("ss").cast("double") / col("n").cast("double")
          - (col("s").cast("double") / col("n").cast("double"))
          * (col("s").cast("double") / col("n").cast("double")),
        lit(0.0)))).cast("long"))
      .filter(col("nxt").isNotNull)
      .transform(graft.Iterate.cut)
    val a = dense.select(col("event_type"), col("day").as("di"),
      col("v").as("xi"), col("nxt").as("yi"), col("sig_int"))
    val b = dense.select(col("event_type"), col("day").as("dj"),
      col("v").as("xj"), col("nxt").as("yj"))
    val pairs = a.join(b, Seq("event_type")).filter(col("di") < col("dj"))
      .withColumn("tmatch",
        (abs(col("xi") - col("xj")) * 2 <= col("sig_int")).cast("long"))
      .withColumn("smatch", (col("tmatch") === 1 &&
        abs(col("yi") - col("yj")) * 2 <= col("sig_int")).cast("long"))
    pairs.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("tmatch")).as("a_cnt"), sum(col("smatch")).as("b_cnt"))
      .select(col("event_type"), col("n_pairs"), col("a_cnt"), col("b_cnt"),
        round(-log(nullif(col("b_cnt").cast("double"), lit(0.0))
          / nullif(col("a_cnt").cast("double"), lit(0.0))), 6).as("samp_en"))
      .orderBy(col("event_type"))
  }

  val sampleEntropySql: String =
    s"""WITH $denseDailyCountsSql, prepped AS (
      |  SELECT event_type, day, v,
      |    LEAD(v, 1) OVER wo AS nxt,
      |    CAST(FLOOR(sqrt(GREATEST(
      |      CAST(SUM(v * v) OVER wt AS DOUBLE) / CAST(COUNT(*) OVER wt AS DOUBLE)
      |      - (CAST(SUM(v) OVER wt AS DOUBLE) / CAST(COUNT(*) OVER wt AS DOUBLE))
      |      * (CAST(SUM(v) OVER wt AS DOUBLE) / CAST(COUNT(*) OVER wt AS DOUBLE)),
      |      0.0))) AS BIGINT) AS sig_int
      |  FROM dense
      |  WINDOW wo AS (PARTITION BY event_type ORDER BY day),
      |    wt AS (PARTITION BY event_type)
      |  QUALIFY nxt IS NOT NULL
      |), pairs AS (
      |  SELECT a.event_type,
      |    CASE WHEN ABS(a.v - b.v) * 2 <= a.sig_int THEN 1 ELSE 0 END
      |      AS tmatch,
      |    CASE WHEN ABS(a.v - b.v) * 2 <= a.sig_int
      |      AND ABS(a.nxt - b.nxt) * 2 <= a.sig_int THEN 1 ELSE 0 END
      |      AS smatch
      |  FROM prepped a JOIN prepped b
      |    ON a.event_type = b.event_type AND a.day < b.day
      |)
      |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_pairs,
      |  CAST(SUM(tmatch) AS BIGINT) AS a_cnt,
      |  CAST(SUM(smatch) AS BIGINT) AS b_cnt,
      |  ROUND(-ln(NULLIF(CAST(SUM(smatch) AS DOUBLE), 0.0)
      |    / NULLIF(CAST(SUM(tmatch) AS DOUBLE), 0.0)), 6) AS samp_en
      |FROM pairs
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** q474 — DTW similarity of the event types' 24-hour activity
    * profiles: each type's hour-of-day distribution (24 shares) is a
    * SHAPE, and dynamic time warping scores shape similarity with
    * phase tolerance — two types with the same daily rhythm shifted
    * by two hours score near-identical under DTW while plain L1
    * punishes the shift (both distances reported; `warp gain` =
    * l1 − dtw is the phase-shift evidence). The shape-based
    * clustering primitive for "which streams share a usage rhythm",
    * powered by the codegen'd [[graft.functions.DtwDistance]] kernel
    * (SURVEY §2.11 — the DP is inexpressible in higher-order array
    * functions without falling out of codegen).
    *
    * Exactness: profiles are single IEEE divisions of exact integer
    * conditional sums (no spine join — 24 fixed conditional sums
    * guarantee order and density); the DP accumulates in the FIXED
    * recurrence order so both engines produce bit-identical doubles
    * (the DuckDB twin is the same recurrence unrolled into 24
    * lateral-alias column chains); l1 folds left-to-right with a 0.0
    * seed on both sides. Both distances round once at 6dp.
    *
    * Scale: one narrow event aggregate (24 conditional sums per
    * type), then |types|² broadcast-sized pair rows each paying an
    * O(24²) codegen'd loop — the corpus is touched exactly once.
    */
  def dtwHourProfiles(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(spark, dir, "events")
      .select(col("event_type"),
        expr("pmod(unix_micros(ts) div 3600000000, 24)").as("hour"))
    val aggs = (0 until 24).map(h =>
      sum(when(col("hour") === h, 1L).otherwise(0L)).as(s"h$h")) :+
      count(lit(1)).as("t")
    val prof = e.groupBy(col("event_type")).agg(aggs.head, aggs.tail: _*)
      .select(col("event_type"), array((0 until 24).map(h =>
        col(s"h$h").cast("double") / col("t").cast("double")): _*).as("p"))
    val pa = prof.select(col("event_type").as("type_a"), col("p").as("pa"))
    val pb = prof.select(col("event_type").as("type_b"), col("p").as("pb"))
    val l1 = aggregate(zip_with(col("pa"), col("pb"), (x, y) => abs(x - y)),
      lit(0.0), (acc, v) => acc + v)
    pa.join(pb, col("type_a") < col("type_b"))
      .select(col("type_a"), col("type_b"),
        round(l1, 6).as("l1"),
        round(graft.functions.DtwDistance.dtw(col("pa"), col("pb")), 6)
          .as("dtw"))
      .orderBy(col("type_a"), col("type_b"))
  }

  /** The DP unrolled: CTE r_i carries row i of the 24×24 matrix as 24
    * lateral-alias columns c{i}_{j} — the same `cost + min3` operand
    * order as the codegen'd kernel, so values match bit-for-bit.
    */
  def dtwHourProfilesSql: String = {
    val n = 24
    val hs = (0 until n).map(h =>
      s"SUM(CASE WHEN hour = $h THEN 1 ELSE 0 END) AS h$h").mkString(",\n      |      ")
    val plist = (0 until n).map(h =>
      s"CAST(h$h AS DOUBLE) / CAST(t AS DOUBLE)").mkString(", ")
    val levels = (1 to n).map { i =>
      val cells = (1 to n).map { j =>
        val cost = s"ABS(pa[$i] - pb[$j])"
        val rhs =
          if (i == 1 && j == 1) cost
          else if (i == 1) s"$cost + c${i}_${j - 1}"
          else if (j == 1) s"$cost + c${i - 1}_$j"
          else s"$cost + LEAST(c${i - 1}_$j, c${i - 1}_${j - 1}, c${i}_${j - 1})"
        s"$rhs AS c${i}_$j"
      }.mkString(",\n      |    ")
      val from = if (i == 1) "pairs" else s"r${i - 1}"
      s"""r$i AS (
        |  SELECT type_a, type_b, pa, pb,
        |    $cells
        |  FROM $from
        |)""".stripMargin
    }.mkString(", ")
    s"""WITH prof AS (
      |  SELECT event_type, [$plist] AS p
      |  FROM (
      |    SELECT event_type,
      |      $hs,
      |      CAST(COUNT(*) AS BIGINT) AS t
      |    FROM (
      |      SELECT event_type, (epoch_ms(ts) // 3600000) % 24 AS hour
      |      FROM events
      |    )
      |    GROUP BY 1
      |  )
      |), pairs AS (
      |  SELECT a.event_type AS type_a, b.event_type AS type_b,
      |    a.p AS pa, b.p AS pb
      |  FROM prof a JOIN prof b ON a.event_type < b.event_type
      |), $levels
      |SELECT type_a, type_b,
      |  ROUND(list_reduce(list_prepend(0.0,
      |    [ABS(pa[i] - pb[i]) for i in range(1, ${n + 1})]),
      |    (x, y) -> x + y), 6) AS l1,
      |  ROUND(c${n}_$n, 6) AS dtw
      |FROM r$n
      |ORDER BY type_a, type_b""".stripMargin
  }

  /** q468 — Hurst exponent of each type's daily count series via the
    * rescaled-range (R/S) ladder: for block sizes n ∈ {4,7,14} the
    * dense series splits into full blocks, each block contributes
    * R/S = (max−min of the cumulative mean-deviation) / population σ,
    * and the Hurst exponent is the OLS slope of ln(mean R/S) against
    * ln(n). H ≈ 0.5 = memoryless; H > 0.5 = long-range persistence
    * (bursts of bursts — load clusters beyond what q209's short-lag
    * ACF sees, so capacity planning must provision for correlated
    * peaks); H < 0.5 = mean reversion. Partial head/tail blocks are
    * dropped (stated: COUNT over the block must equal n).
    *
    * Exactness: block sums/squares are exact integers; the per-row
    * cumulative deviation, R, σ and R/S are one shared IEEE chain
    * mirrored verbatim in the oracle, each block's R/S rounded 6dp
    * (the O(1)-magnitude-score convention) then averaged through
    * DECIMAL(18,6) so the block-mean is summation-order-free; the
    * slope folds the three rounded ladder points with literal
    * centered-x/Sxx weights emitted from ONE Scala computation into
    * both engines.
    *
    * Scale: the dense grid is computed once and re-bucketed per n
    * ((type, block)-keyed windows — fine-grained keys, no global
    * sort); everything after the daily aggregate is calendar-sized.
    */
  def hurstLadder(spark: SparkSession, dir: String,
                  blockSizes: Seq[Int] = Seq(4, 7, 14)): DataFrame = {
    val dense = denseDailyCounts(spark, dir).transform(graft.Iterate.cut)
    val perN = blockSizes.map { n =>
      val byBlock = Window.partitionBy(col("event_type"), col("block"))
      val ordered = byBlock.orderBy(col("day"))
      dense.withColumn("block", expr(s"day div $n"))
        .withColumn("nb", count(lit(1)).over(byBlock))
        .filter(col("nb") === n)
        .withColumn("rn", row_number().over(ordered))
        .withColumn("cum", sum(col("v")).over(ordered))
        .withColumn("tot", sum(col("v")).over(byBlock))
        .withColumn("cumdev", col("cum").cast("double") -
          col("rn").cast("double") * col("tot").cast("double") / lit(n.toDouble))
        .groupBy(col("event_type"), col("block"))
        .agg(max(col("cumdev")).as("mxd"), min(col("cumdev")).as("mnd"),
          sum(col("v")).as("s"), sum(col("v") * col("v")).as("ss"))
        .withColumn("sd", sqrt(col("ss").cast("double") / lit(n.toDouble) -
          (col("s").cast("double") / lit(n.toDouble)) *
            (col("s").cast("double") / lit(n.toDouble))))
        .withColumn("rs", round((col("mxd") - col("mnd")) /
          nullif(col("sd"), lit(0.0)), 6))
        .groupBy(col("event_type"))
        .agg((decSum(col("rs")) / sum(when(col("rs").isNotNull, 1L)
          .otherwise(0L)).cast("double")).as(s"rs_$n"))
        .select(col("event_type"), round(col(s"rs_$n"), 6).as(s"rs_$n"))
    }
    val joined = perN.reduce((a, b) => a.join(b, Seq("event_type")))
    val xs = blockSizes.map(n => math.log(n.toDouble))
    val xbar = xs.sum / xs.size
    val sxx = xs.map(x => (x - xbar) * (x - xbar)).sum
    val slope = blockSizes.zip(xs).map { case (n, x) =>
      lit((x - xbar) / sxx) * log(col(s"rs_$n"))
    }.reduce(_ + _)
    joined.select(
      col("event_type") +: blockSizes.map(n => col(s"rs_$n")) :+
        round(slope, 6).as("hurst"): _*)
      .orderBy(col("event_type"))
  }

  def hurstLadderSql(blockSizes: Seq[Int] = Seq(4, 7, 14)): String = {
    val xs = blockSizes.map(n => math.log(n.toDouble))
    val xbar = xs.sum / xs.size
    val sxx = xs.map(x => (x - xbar) * (x - xbar)).sum
    val perN = blockSizes.map { n =>
      s"""r$n AS (
        |  SELECT event_type,
        |    ROUND(CAST(SUM(CAST(rs AS DECIMAL(18,6))) AS DOUBLE)
        |      / CAST(SUM(CASE WHEN rs IS NOT NULL THEN 1 ELSE 0 END)
        |             AS DOUBLE), 6) AS rs_$n
        |  FROM (
        |    SELECT event_type,
        |      ROUND((MAX(cumdev) - MIN(cumdev)) / NULLIF(sqrt(
        |        CAST(SUM(v * v) AS DOUBLE) / $n.0 -
        |        (CAST(SUM(v) AS DOUBLE) / $n.0) *
        |        (CAST(SUM(v) AS DOUBLE) / $n.0)), 0.0), 6) AS rs
        |    FROM (
        |      SELECT event_type, block, v,
        |        CAST(SUM(v) OVER wo AS DOUBLE) -
        |          CAST(ROW_NUMBER() OVER wo AS DOUBLE) *
        |          CAST(SUM(v) OVER wb AS DOUBLE) / $n.0 AS cumdev
        |      FROM (
        |        SELECT event_type, day, v, day // $n AS block
        |        FROM dense
        |      )
        |      WINDOW wo AS (PARTITION BY event_type, block ORDER BY day
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |        wb AS (PARTITION BY event_type, block)
        |      QUALIFY COUNT(*) OVER wb = $n
        |    )
        |    GROUP BY event_type, block
        |  )
        |  GROUP BY event_type
        |)""".stripMargin
    }.mkString(", ")
    val joins = blockSizes.tail.map(n =>
      s"JOIN r$n ON r$n.event_type = r${blockSizes.head}.event_type")
      .mkString("\n      |")
    val slope = blockSizes.zip(xs).map { case (n, x) =>
      s"${(x - xbar) / sxx} * ln(rs_$n)"
    }.mkString(" + ")
    s"""WITH $denseDailyCountsSql, $perN
      |SELECT r${blockSizes.head}.event_type,
      |  ${blockSizes.map(n => s"rs_$n").mkString(", ")},
      |  ROUND($slope, 6) AS hurst
      |FROM r${blockSizes.head}
      |$joins
      |ORDER BY r${blockSizes.head}.event_type""".stripMargin
  }

  /** q497 — Chow structural-break test per event type: split each
    * daily series at its integer midpoint day and F-test whether two
    * separate linear trends fit significantly better than one pooled
    * trend — F = ((SSE_p − SSE₁ − SSE₂)/k) / ((SSE₁ + SSE₂)/(n − 2k)),
    * k = 2 (intercept + slope). The REGRESSION-break companion of the
    * mean-shift detectors (q161 changepoints, q432 Page–Hinkley):
    * those ask "did the level move", this asks "did the TREND LINE
    * change" — the question a capacity forecast actually hinges on.
    * Verdict vs the literal F(2, large) ≈ 3.0 cut, stated here rather
    * than an incomputable p-value.
    *
    * Exactness: all six sufficient sums per segment accumulate as
    * 6dp-rounded-term DECIMAL(28,6) (the q102 convention; pooled sums
    * are the exact decimal additions of the segment sums, computed in
    * the same single aggregate), are cast to double once, and every
    * downstream expression is written in ONE fixed operand order on
    * both engines. Degenerate segments (fewer than 3 days, zero x
    * variance, zero residual variance) surface as NULL F via NULLIF →
    * verdict 'degenerate'. F's rounded display adds +0.0 (a
    * mathematically-zero F can round from a tiny negative).
    *
    * Scale: one (type, day) aggregate with map-side combine, a 1-row
    * per-type midpoint broadcast folded into the same aggregate, and
    * a |types|-row readout — calendar-bounded everywhere.
    */
  def chowBreakTest(spark: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(28, 6)
    def dsum(c: Column): Column = sum(c.cast(dec))
    val daily = dailyValues(spark, dir)
    val mid = daily.groupBy(col("event_type"))
      .agg(expr("(min(day) + max(day)) div 2").as("m"))
    val tagged = daily.join(broadcast(mid), "event_type")
      .withColumn("x", col("day").cast("double"))
      .withColumn("s", (col("day") <= col("m")).cast("int"))
    def seg(pred: Column, name: String): Seq[Column] = Seq(
      sum(when(pred, 1L).otherwise(0L)).as(s"n$name"),
      dsum(when(pred, col("x"))).as(s"sx$name"),
      dsum(when(pred, col("v"))).as(s"sy$name"),
      dsum(when(pred, round(col("x") * col("x"), 6))).as(s"sxx$name"),
      dsum(when(pred, round(col("x") * col("v"), 6))).as(s"sxy$name"),
      dsum(when(pred, round(col("v") * col("v"), 6))).as(s"syy$name"))
    val aggs = Seq(max(col("m")).as("split_day")) ++
      seg(col("s") === 1, "1") ++ seg(col("s") === 0, "2") ++
      seg(lit(true), "p")
    val stats = tagged.groupBy(col("event_type"))
      .agg(aggs.head, aggs.tail: _*)
    def sse(k: String): Column = {
      val n = col(s"n$k").cast("double")
      val sx = col(s"sx$k").cast("double"); val sy = col(s"sy$k").cast("double")
      val sxx = col(s"sxx$k").cast("double"); val sxy = col(s"sxy$k").cast("double")
      val syy = col(s"syy$k").cast("double")
      val cxx = sxx - sx * sx / n
      val cxy = sxy - sx * sy / n
      val cyy = syy - sy * sy / n
      cyy - (cxy * cxy) / nullif(cxx, lit(0.0))
    }
    stats
      .withColumn("sse1", sse("1")).withColumn("sse2", sse("2"))
      .withColumn("ssep", sse("p"))
      .withColumn("f_raw",
        when(col("n1") >= 3 && col("n2") >= 3,
          ((col("ssep") - col("sse1") - col("sse2")) / lit(2.0)) /
            nullif((col("sse1") + col("sse2")) /
              (col("n1") + col("n2") - lit(4)).cast("double"), lit(0.0))))
      .select(col("event_type"), col("n1"), col("n2"), col("split_day"),
        (round(col("ssep"), 6) + lit(0.0)).as("sse_pooled"),
        (round(col("sse1") + col("sse2"), 6) + lit(0.0)).as("sse_split"),
        (round(col("f_raw"), 6) + lit(0.0)).as("f_stat"),
        when(col("f_raw").isNull, lit("degenerate"))
          .when(col("f_raw") > 3.0, lit("break"))
          .otherwise(lit("stable")).as("verdict"))
      .orderBy(col("event_type"))
  }

  val chowBreakTestSql: String =
    s"""WITH $dailyValuesCte, mid AS (
      |  SELECT event_type, (MIN(day) + MAX(day)) // 2 AS m
      |  FROM daily GROUP BY 1
      |), tagged AS (
      |  SELECT d.event_type, CAST(d.day AS DOUBLE) AS x, d.v,
      |    CASE WHEN d.day <= m.m THEN 1 ELSE 0 END AS s, m.m
      |  FROM daily d JOIN mid m ON m.event_type = d.event_type
      |), stats AS (
      |  SELECT event_type, MAX(m) AS split_day,
      |    SUM(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS n1,
      |    SUM(CASE WHEN s = 1 THEN CAST(x AS DECIMAL(28,6)) END) AS sx1,
      |    SUM(CASE WHEN s = 1 THEN CAST(v AS DECIMAL(28,6)) END) AS sy1,
      |    SUM(CASE WHEN s = 1 THEN CAST(ROUND(x * x, 6) AS DECIMAL(28,6)) END) AS sxx1,
      |    SUM(CASE WHEN s = 1 THEN CAST(ROUND(x * v, 6) AS DECIMAL(28,6)) END) AS sxy1,
      |    SUM(CASE WHEN s = 1 THEN CAST(ROUND(v * v, 6) AS DECIMAL(28,6)) END) AS syy1,
      |    SUM(CASE WHEN s = 0 THEN 1 ELSE 0 END) AS n2,
      |    SUM(CASE WHEN s = 0 THEN CAST(x AS DECIMAL(28,6)) END) AS sx2,
      |    SUM(CASE WHEN s = 0 THEN CAST(v AS DECIMAL(28,6)) END) AS sy2,
      |    SUM(CASE WHEN s = 0 THEN CAST(ROUND(x * x, 6) AS DECIMAL(28,6)) END) AS sxx2,
      |    SUM(CASE WHEN s = 0 THEN CAST(ROUND(x * v, 6) AS DECIMAL(28,6)) END) AS sxy2,
      |    SUM(CASE WHEN s = 0 THEN CAST(ROUND(v * v, 6) AS DECIMAL(28,6)) END) AS syy2,
      |    SUM(CAST(x AS DECIMAL(28,6))) AS sxp,
      |    SUM(CAST(v AS DECIMAL(28,6))) AS syp,
      |    SUM(CAST(ROUND(x * x, 6) AS DECIMAL(28,6))) AS sxxp,
      |    SUM(CAST(ROUND(x * v, 6) AS DECIMAL(28,6))) AS sxyp,
      |    SUM(CAST(ROUND(v * v, 6) AS DECIMAL(28,6))) AS syyp
      |  FROM tagged GROUP BY 1
      |), sses AS (
      |  SELECT event_type, split_day, n1, n2,
      |    (CAST(syy1 AS DOUBLE) - CAST(sy1 AS DOUBLE) * CAST(sy1 AS DOUBLE) / CAST(n1 AS DOUBLE))
      |      - ((CAST(sxy1 AS DOUBLE) - CAST(sx1 AS DOUBLE) * CAST(sy1 AS DOUBLE) / CAST(n1 AS DOUBLE))
      |         * (CAST(sxy1 AS DOUBLE) - CAST(sx1 AS DOUBLE) * CAST(sy1 AS DOUBLE) / CAST(n1 AS DOUBLE)))
      |        / NULLIF(CAST(sxx1 AS DOUBLE) - CAST(sx1 AS DOUBLE) * CAST(sx1 AS DOUBLE) / CAST(n1 AS DOUBLE), 0.0)
      |      AS sse1,
      |    (CAST(syy2 AS DOUBLE) - CAST(sy2 AS DOUBLE) * CAST(sy2 AS DOUBLE) / CAST(n2 AS DOUBLE))
      |      - ((CAST(sxy2 AS DOUBLE) - CAST(sx2 AS DOUBLE) * CAST(sy2 AS DOUBLE) / CAST(n2 AS DOUBLE))
      |         * (CAST(sxy2 AS DOUBLE) - CAST(sx2 AS DOUBLE) * CAST(sy2 AS DOUBLE) / CAST(n2 AS DOUBLE)))
      |        / NULLIF(CAST(sxx2 AS DOUBLE) - CAST(sx2 AS DOUBLE) * CAST(sx2 AS DOUBLE) / CAST(n2 AS DOUBLE), 0.0)
      |      AS sse2,
      |    (CAST(syyp AS DOUBLE) - CAST(syp AS DOUBLE) * CAST(syp AS DOUBLE) / CAST(n1 + n2 AS DOUBLE))
      |      - ((CAST(sxyp AS DOUBLE) - CAST(sxp AS DOUBLE) * CAST(syp AS DOUBLE) / CAST(n1 + n2 AS DOUBLE))
      |         * (CAST(sxyp AS DOUBLE) - CAST(sxp AS DOUBLE) * CAST(syp AS DOUBLE) / CAST(n1 + n2 AS DOUBLE)))
      |        / NULLIF(CAST(sxxp AS DOUBLE) - CAST(sxp AS DOUBLE) * CAST(sxp AS DOUBLE) / CAST(n1 + n2 AS DOUBLE), 0.0)
      |      AS ssep
      |  FROM stats
      |), f AS (
      |  SELECT event_type, n1, n2, split_day, sse1, sse2, ssep,
      |    CASE WHEN n1 >= 3 AND n2 >= 3 THEN
      |      ((ssep - sse1 - sse2) / 2.0)
      |        / NULLIF((sse1 + sse2) / CAST(n1 + n2 - 4 AS DOUBLE), 0.0)
      |    END AS f_raw
      |  FROM sses
      |)
      |SELECT event_type, CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
      |  split_day,
      |  ROUND(ssep, 6) + 0.0 AS sse_pooled,
      |  ROUND(sse1 + sse2, 6) + 0.0 AS sse_split,
      |  ROUND(f_raw, 6) + 0.0 AS f_stat,
      |  CASE WHEN f_raw IS NULL THEN 'degenerate'
      |    WHEN f_raw > 3.0 THEN 'break' ELSE 'stable' END AS verdict
      |FROM f ORDER BY event_type""".stripMargin

  /** q501 — Cochran's Q test across the three daily anomaly detectors
    * (q121 MAD, q173 EWMA, q364 CUSUM) per event type: do the
    * detectors flag at SIGNIFICANTLY different rates on the same
    * matched days? q434's Fleiss kappa measures how much they agree;
    * Cochran's Q is the hypothesis TEST for k matched binary raters —
    * the pre-condition check before trusting q377's "2 of 3"
    * consensus rule (if one detector fires systematically more, the
    * vote is weighted before it starts). Q = (k−1)(k·ΣC_j² − T²) /
    * (k·T − ΣR_i²) with k = 3, C_j the per-detector flag totals, R_i
    * the per-day flag counts, T = ΣR_i; under H₀ Q ~ χ²(k−1), cut at
    * the literal 5.991 (χ²₀.₀₅,₂).
    *
    * Exactness: the same three graded integer-flag relations q377
    * joins (NO n_alerts filter here — all-zero and all-three days
    * belong in N even though they cancel from Q's sums); every term
    * of Q is an exact BIGINT, one double division at the end, NULLIF
    * for the all-agree degenerate case.
    *
    * Scale: three calendar-bounded passes (each individually graded)
    * + calendar-sized joins + a |types|-row aggregate.
    */
  def cochranQDetectors(spark: SparkSession, dir: String): DataFrame = {
    val mad = dailyAnomalies(spark, dir)
      .select(col("event_type"), col("day"), col("is_anomaly").as("a"))
    val ew = ewmaControl(spark, dir)
      .select(col("event_type"), col("day"),
        coalesce(col("is_alert"), lit(0)).as("b"))
    val cu = cusumChart(spark, dir)
      .select(col("event_type"), col("day"), col("is_alert").as("c"))
    mad.join(ew, Seq("event_type", "day"))
      .join(cu, Seq("event_type", "day"))
      .withColumn("r", (col("a") + col("b") + col("c")).cast("long"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
        sum(col("a").cast("long")).as("c_mad"),
        sum(col("b").cast("long")).as("c_ewma"),
        sum(col("c").cast("long")).as("c_cusum"),
        sum(col("r")).as("t_sum"),
        sum(col("r") * col("r")).as("sr2"))
      .withColumn("q_raw",
        (lit(2.0) * (lit(3L) * (col("c_mad") * col("c_mad")
          + col("c_ewma") * col("c_ewma")
          + col("c_cusum") * col("c_cusum"))
          - col("t_sum") * col("t_sum")).cast("double")) /
          nullif((lit(3L) * col("t_sum") - col("sr2")).cast("double"),
            lit(0.0)))
      .select(col("event_type"), col("n_days"),
        col("c_mad"), col("c_ewma"), col("c_cusum"),
        round(col("q_raw"), 6).as("q_stat"),
        when(col("q_raw").isNull, lit("degenerate"))
          .when(col("q_raw") > 5.991, lit("detectors_differ"))
          .otherwise(lit("consistent")).as("verdict"))
      .orderBy(col("event_type"))
  }

  val cochranQDetectorsSql: String =
    s"""WITH mad_t AS (
       |  $dailyAnomaliesSql
       |), ew_t AS (
       |  $ewmaControlSql
       |), cu_t AS (
       |  $cusumChartSql
       |), flags AS (
       |  SELECT m.event_type, m.is_anomaly AS a,
       |    COALESCE(e.is_alert, 0) AS b, c.is_alert AS c,
       |    CAST(m.is_anomaly + COALESCE(e.is_alert, 0) + c.is_alert
       |      AS BIGINT) AS r
       |  FROM mad_t m
       |  JOIN ew_t e ON m.event_type = e.event_type AND m.day = e.day
       |  JOIN cu_t c ON m.event_type = c.event_type AND m.day = c.day
       |), agg AS (
       |  SELECT event_type, COUNT(*) AS n_days,
       |    CAST(SUM(a) AS BIGINT) AS c_mad,
       |    CAST(SUM(b) AS BIGINT) AS c_ewma,
       |    CAST(SUM(c) AS BIGINT) AS c_cusum,
       |    CAST(SUM(r) AS BIGINT) AS t_sum,
       |    CAST(SUM(r * r) AS BIGINT) AS sr2
       |  FROM flags GROUP BY 1
       |)
       |SELECT event_type, n_days, c_mad, c_ewma, c_cusum,
       |  ROUND(CAST(2 * (3 * (c_mad * c_mad + c_ewma * c_ewma
       |      + c_cusum * c_cusum) - t_sum * t_sum) AS DOUBLE)
       |    / NULLIF(CAST(3 * t_sum - sr2 AS DOUBLE), 0.0), 6) AS q_stat,
       |  CASE WHEN CAST(3 * t_sum - sr2 AS DOUBLE) = 0.0 THEN 'degenerate'
       |    WHEN CAST(2 * (3 * (c_mad * c_mad + c_ewma * c_ewma
       |        + c_cusum * c_cusum) - t_sum * t_sum) AS DOUBLE)
       |      / CAST(3 * t_sum - sr2 AS DOUBLE) > 5.991
       |      THEN 'detectors_differ'
       |    ELSE 'consistent' END AS verdict
       |FROM agg ORDER BY event_type""".stripMargin

  /** q502 — mean-excess (mean-residual-life) ladder per event type:
    * e(u) = mean(v − u | v > u) at the exact p50/p75/p90 thresholds
    * of each type's daily-value distribution — the standard
    * extreme-value diagnostic read BEFORE fitting any tail model: a
    * mean-excess that RISES with u means a heavy (GPD ξ > 0) tail
    * where q378's expected shortfall keeps growing; flat means
    * exponential; falling means a bounded tail. The threshold-grain
    * companion of q414's single Hill number — q414 estimates the
    * exponent, this shows WHERE tail behavior starts.
    *
    * Exactness: thresholds are rank-SELECTED daily values (the
    * q42/q149 lower-middle convention, (v, day)-tiebroken), so both
    * engines subtract the same exact double; excess terms round to
    * 6dp and sum as DECIMAL. The exceedance comparison (v > u)
    * happens on unrounded values, identical IEEE both sides.
    *
    * Scale: one (type, day) aggregate, one per-type rank window over
    * the calendar-sized daily table, a 3-row-per-type threshold
    * explode, and a conditional re-aggregate — never event-sized.
    */
  def meanExcessLadder(spark: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(28, 6)
    val daily = dailyValues(spark, dir)
    val w = Window.partitionBy(col("event_type")).orderBy(col("v"), col("day"))
    val ranked = daily
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("event_type"))))
    val thr = ranked.groupBy(col("event_type"))
      .agg(max(col("n")).as("n"),
        max(when(col("rn") === expr("(n + 1) div 2"), col("v"))).as("u50"),
        max(when(col("rn") === expr("(n * 3 + 3) div 4"), col("v"))).as("u75"),
        max(when(col("rn") === expr("(n * 9 + 9) div 10"), col("v"))).as("u90"))
      .select(col("event_type"), col("n"),
        expr("stack(3, 50, u50, 75, u75, 90, u90)").as(Seq("pct", "u")))
    daily.join(broadcast(thr), "event_type")
      .groupBy(col("event_type"), col("pct"), col("u"))
      .agg(max(col("n")).as("n_days"),
        sum(when(col("v") > col("u"), 1L).otherwise(0L)).as("n_exceed"),
        sum(when(col("v") > col("u"), round(col("v") - col("u"), 6))
          .cast(dec)).cast("double").as("sum_excess"))
      .select(col("event_type"), col("pct"), round(col("u"), 6).as("u"),
        col("n_days"), col("n_exceed"),
        round(col("sum_excess") /
          nullif(col("n_exceed").cast("double"), lit(0.0)), 6)
          .as("mean_excess"),
        round(col("n_exceed").cast("double") / col("n_days").cast("double"), 6)
          .as("exceed_share"))
      .orderBy(col("event_type"), col("pct"))
  }

  val meanExcessLadderSql: String =
    s"""WITH $dailyValuesCte, ranked AS (
      |  SELECT event_type, day, v,
      |    row_number() OVER (PARTITION BY event_type ORDER BY v, day) AS rn,
      |    COUNT(*) OVER (PARTITION BY event_type) AS n
      |  FROM daily
      |), thr0 AS (
      |  SELECT event_type, MAX(n) AS n,
      |    MAX(CASE WHEN rn = (n + 1) // 2 THEN v END) AS u50,
      |    MAX(CASE WHEN rn = (n * 3 + 3) // 4 THEN v END) AS u75,
      |    MAX(CASE WHEN rn = (n * 9 + 9) // 10 THEN v END) AS u90
      |  FROM ranked GROUP BY 1
      |), thr AS (
      |  SELECT event_type, n, 50 AS pct, u50 AS u FROM thr0
      |  UNION ALL SELECT event_type, n, 75, u75 FROM thr0
      |  UNION ALL SELECT event_type, n, 90, u90 FROM thr0
      |)
      |SELECT d.event_type, t.pct, ROUND(t.u, 6) AS u,
      |  CAST(MAX(t.n) AS BIGINT) AS n_days,
      |  CAST(SUM(CASE WHEN d.v > t.u THEN 1 ELSE 0 END) AS BIGINT) AS n_exceed,
      |  ROUND(CAST(SUM(CASE WHEN d.v > t.u
      |      THEN CAST(ROUND(d.v - t.u, 6) AS DECIMAL(28,6)) END) AS DOUBLE)
      |    / NULLIF(CAST(SUM(CASE WHEN d.v > t.u THEN 1 ELSE 0 END) AS DOUBLE),
      |        0.0), 6) AS mean_excess,
      |  ROUND(CAST(SUM(CASE WHEN d.v > t.u THEN 1 ELSE 0 END) AS DOUBLE)
      |    / CAST(MAX(t.n) AS DOUBLE), 6) AS exceed_share
      |FROM daily d JOIN thr t ON t.event_type = d.event_type
      |GROUP BY d.event_type, t.pct, t.u
      |ORDER BY d.event_type, t.pct""".stripMargin

  /** q505 — spectral entropy per event type off the q469 periodogram:
    * normalize the candidate-period powers to shares and take
    * H/ln(K) — ≈1 means power is spread flat across periods (noise-
    * like, nothing to seasonally model), ≈0 means one cycle owns the
    * series (hand it to Holt–Winters at that grain). The standard
    * tsfeatures forecast-router dial, built ON the graded q469
    * relation so the spectrum and its summary cannot drift apart;
    * `dominant_share` rides along as the plain-language version.
    *
    * Exactness: q469's powers are already 6dp-rounded doubles
    * identical across engines; the share divisions are single IEEE
    * ops, each s·ln(s) term rounds to 6dp and sums as DECIMAL, and
    * zero-power periods contribute exactly 0 (CASE-guarded — the
    * s → 0 limit). An all-zero spectrum (constant series) surfaces as
    * NULL via NULLIF rather than 0/0.
    *
    * Scale: rides q469 (one calendar-bounded pass); this adds a
    * |types|×|periods|-row aggregate.
    */
  def spectralEntropy(spark: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(28, 6)
    val pg = periodogram(spark, dir)
    val tot = pg.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_periods"),
        sum(col("power").cast(dec)).cast("double").as("tot"),
        max(col("power")).as("pmax"))
    pg.join(broadcast(tot), "event_type")
      .withColumn("s", col("power") / nullif(col("tot"), lit(0.0)))
      .groupBy(col("event_type"))
      .agg(max(col("n_periods")).as("n_periods"),
        max(col("tot")).as("tot"), max(col("pmax")).as("pmax"),
        sum(when(col("s") > 0, round(col("s") * log(col("s")), 6))
          .cast(dec)).cast("double").as("slns"))
      .select(col("event_type"), col("n_periods"),
        round(col("tot"), 6).as("total_power"),
        round(col("pmax") / nullif(col("tot"), lit(0.0)), 6)
          .as("dominant_share"),
        (round(-col("slns") /
          log(col("n_periods").cast("double")), 6) + lit(0.0))
          .as("spectral_entropy"))
      .orderBy(col("event_type"))
  }

  def spectralEntropySql(): String =
    s"""WITH pgram AS (
       |  ${periodogramSql()}
       |), tot AS (
       |  SELECT event_type, COUNT(*) AS n_periods,
       |    CAST(SUM(CAST(power AS DECIMAL(28,6))) AS DOUBLE) AS tot,
       |    MAX(power) AS pmax
       |  FROM pgram GROUP BY 1
       |), terms AS (
       |  SELECT p.event_type, t.n_periods, t.tot, t.pmax,
       |    p.power / NULLIF(t.tot, 0.0) AS s
       |  FROM pgram p JOIN tot t ON t.event_type = p.event_type
       |)
       |SELECT event_type, CAST(MAX(n_periods) AS BIGINT) AS n_periods,
       |  ROUND(MAX(tot), 6) AS total_power,
       |  ROUND(MAX(pmax) / NULLIF(MAX(tot), 0.0), 6) AS dominant_share,
       |  ROUND(-CAST(SUM(CASE WHEN s > 0
       |      THEN CAST(ROUND(s * ln(s), 6) AS DECIMAL(28,6)) END) AS DOUBLE)
       |    / ln(CAST(MAX(n_periods) AS DOUBLE)), 6) + 0.0 AS spectral_entropy
       |FROM terms GROUP BY event_type
       |ORDER BY event_type""".stripMargin

  /** q506 — stability & lumpiness per event type (the tsfeatures
    * pair): tile each dense daily series into non-overlapping
    * `tileDays`-day windows, then stability = variance of the tile
    * MEANS (does the level wander between weeks?) and lumpiness =
    * variance of the tile VARIANCES (does the volatility itself come
    * in bursts?). Two different capacity problems — a wandering level
    * needs re-forecasting, bursty variance needs headroom — that one
    * global variance number conflates; these are the standard
    * forecast-feature pair that separates them.
    *
    * Exactness: tile sums are exact integers over the dense grid
    * (complete tiles only — the q468 QUALIFY discipline); per-tile
    * mean/variance are fixed-order IEEE chains on integers; the outer
    * variances run on 6dp-rounded tile statistics summed as DECIMAL,
    * with the +0.0 guard (an exactly-zero variance can round from a
    * tiny negative). Types with fewer than 2 complete tiles surface
    * NULL.
    *
    * Scale: one dense calendar grid, one (type, tile) aggregate, one
    * |types|-row readout — calendar-bounded throughout.
    */
  def stabilityLumpiness(spark: SparkSession, dir: String,
                         tileDays: Int = 7): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(28, 6)
    val dense = denseDailyCounts(spark, dir)
      .withColumn("t", col("day") -
        min(col("day")).over(Window.partitionBy(col("event_type"))))
      .withColumn("tile", expr(s"t div $tileDays"))
    val tiles = dense.groupBy(col("event_type"), col("tile"))
      .agg(count(lit(1)).as("cnt"), sum(col("v")).as("sv"),
        sum(col("v") * col("v")).as("svv"))
      .filter(col("cnt") === tileDays)
      .withColumn("m", col("sv").cast("double") / lit(tileDays.toDouble))
      .withColumn("va",
        (col("svv").cast("double") -
          col("sv").cast("double") * col("sv").cast("double") /
            lit(tileDays.toDouble)) / lit(tileDays.toDouble))
    tiles.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_tiles"),
        sum(round(col("m"), 6).cast(dec)).cast("double").as("sm"),
        sum(round(col("m") * col("m"), 6).cast(dec)).cast("double").as("smm"),
        sum(round(col("va"), 6).cast(dec)).cast("double").as("sva"),
        sum(round(col("va") * col("va"), 6).cast(dec)).cast("double").as("svv2"))
      .select(col("event_type"), col("n_tiles"),
        when(col("n_tiles") >= 2,
          round(col("smm") / col("n_tiles").cast("double") -
            (col("sm") / col("n_tiles").cast("double")) *
              (col("sm") / col("n_tiles").cast("double")), 6) + lit(0.0))
          .as("stability"),
        when(col("n_tiles") >= 2,
          round(col("svv2") / col("n_tiles").cast("double") -
            (col("sva") / col("n_tiles").cast("double")) *
              (col("sva") / col("n_tiles").cast("double")), 6) + lit(0.0))
          .as("lumpiness"))
      .orderBy(col("event_type"))
  }

  def stabilityLumpinessSql(tileDays: Int = 7): String =
    s"""WITH $denseDailyCountsSql, tiled AS (
       |  SELECT event_type,
       |    (day - MIN(day) OVER (PARTITION BY event_type)) // $tileDays AS tile,
       |    v
       |  FROM dense
       |), tiles AS (
       |  SELECT event_type, tile, COUNT(*) AS cnt,
       |    CAST(SUM(v) AS BIGINT) AS sv, CAST(SUM(v * v) AS BIGINT) AS svv
       |  FROM tiled GROUP BY 1, 2
       |  HAVING COUNT(*) = $tileDays
       |), stats AS (
       |  SELECT event_type, tile,
       |    CAST(sv AS DOUBLE) / $tileDays.0 AS m,
       |    (CAST(svv AS DOUBLE) - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE)
       |      / $tileDays.0) / $tileDays.0 AS va
       |  FROM tiles
       |), agg AS (
       |  SELECT event_type, COUNT(*) AS n_tiles,
       |    CAST(SUM(CAST(ROUND(m, 6) AS DECIMAL(28,6))) AS DOUBLE) AS sm,
       |    CAST(SUM(CAST(ROUND(m * m, 6) AS DECIMAL(28,6))) AS DOUBLE) AS smm,
       |    CAST(SUM(CAST(ROUND(va, 6) AS DECIMAL(28,6))) AS DOUBLE) AS sva,
       |    CAST(SUM(CAST(ROUND(va * va, 6) AS DECIMAL(28,6))) AS DOUBLE) AS svv2
       |  FROM stats GROUP BY 1
       |)
       |SELECT event_type, n_tiles,
       |  CASE WHEN n_tiles >= 2 THEN
       |    ROUND(smm / CAST(n_tiles AS DOUBLE)
       |      - (sm / CAST(n_tiles AS DOUBLE)) * (sm / CAST(n_tiles AS DOUBLE)),
       |      6) + 0.0 END AS stability,
       |  CASE WHEN n_tiles >= 2 THEN
       |    ROUND(svv2 / CAST(n_tiles AS DOUBLE)
       |      - (sva / CAST(n_tiles AS DOUBLE)) * (sva / CAST(n_tiles AS DOUBLE)),
       |      6) + 0.0 END AS lumpiness
       |FROM agg ORDER BY event_type""".stripMargin

  /** q508 — Gumbel block-maxima fit per event type (extreme value
    * theory's OTHER track): weekly maxima of the dense daily series,
    * method-of-moments Gumbel parameters β̂ = s·√6/π and
    * μ̂ = m̄ − γ·β̂ (Euler–Mascheroni γ), and the return levels
    * x_T = μ − β·ln(−ln(1 − 1/T)) at T = 4/12/52 blocks — "the daily
    * peak you should provision for per quarter / season / year".
    * q502's mean-excess ladder diagnoses the exceedance tail (POT
    * track); this is the block-maxima track that turns the same
    * series into capacity numbers, the pair EVT practice always
    * reports together.
    *
    * Exactness: block maxima over the dense integer grid are exact
    * BIGINTs (complete 7-day tiles only — the q468/q506 discipline),
    * so the moment sums are exact integers; β̂/μ̂/return levels are
    * ONE fixed-operand-order IEEE chain (√ is correctly rounded —
    * the q123 precedent; √6/π and γ are shared literals; the
    * ln(−ln(1 − 1/T)) plug-ins are computed in-engine from the same
    * literal T so both engines see bit-identical doubles), rounded
    * once at 6dp. Types with fewer than 2 complete blocks surface
    * NULL via the when-guard.
    *
    * Scale: one dense calendar grid, one (type, block) max, a
    * |types|-row readout.
    */
  def gumbelBlockMaxima(spark: SparkSession, dir: String,
                        blockDays: Int = 7): DataFrame = {
    val dense = denseDailyCounts(spark, dir)
      .withColumn("t", col("day") -
        min(col("day")).over(Window.partitionBy(col("event_type"))))
      .withColumn("blk", expr(s"t div $blockDays"))
    val blocks = dense.groupBy(col("event_type"), col("blk"))
      .agg(count(lit(1)).as("cnt"), max(col("v")).as("bm"))
      .filter(col("cnt") === blockDays)
    val stats = blocks.groupBy(col("event_type"))
      .agg(count(lit(1)).as("k"),
        sum(col("bm")).as("sm"), sum(col("bm") * col("bm")).as("smm"))
      .withColumn("mean", col("sm").cast("double") / col("k").cast("double"))
      .withColumn("vars",
        (col("smm").cast("double") -
          col("sm").cast("double") * col("sm").cast("double") /
            col("k").cast("double")) /
          nullif((col("k") - lit(1)).cast("double"), lit(0.0)))
      .withColumn("beta",
        when(col("k") >= 2, sqrt(col("vars")) * lit(0.7796968012336761)))
      .withColumn("mu", col("mean") - lit(0.5772156649015329) * col("beta"))
    def rl(t: Int): Column =
      round(col("mu") - col("beta") *
        log(-log(lit(1.0) - lit(1.0) / lit(t.toDouble))), 6)
    stats.select(col("event_type"), col("k").as("n_blocks"),
        round(col("mu"), 6).as("mu"),
        round(col("beta"), 6).as("beta"),
        rl(4).as("rl_quarter"), rl(12).as("rl_season"), rl(52).as("rl_year"))
      .orderBy(col("event_type"))
  }

  def gumbelBlockMaximaSql(blockDays: Int = 7): String = {
    def rl(t: Int): String =
      s"ROUND(mu - beta * ln(-ln(1.0 - 1.0 / $t.0)), 6)"
    s"""WITH $denseDailyCountsSql, tiled AS (
       |  SELECT event_type,
       |    (day - MIN(day) OVER (PARTITION BY event_type)) // $blockDays AS blk,
       |    v
       |  FROM dense
       |), blocks AS (
       |  SELECT event_type, blk, COUNT(*) AS cnt, MAX(v) AS bm
       |  FROM tiled GROUP BY 1, 2
       |  HAVING COUNT(*) = $blockDays
       |), stats AS (
       |  SELECT event_type, COUNT(*) AS k,
       |    CAST(SUM(bm) AS BIGINT) AS sm,
       |    CAST(SUM(bm * bm) AS BIGINT) AS smm
       |  FROM blocks GROUP BY 1
       |), fitted AS (
       |  SELECT event_type, k,
       |    CAST(sm AS DOUBLE) / CAST(k AS DOUBLE) AS mean,
       |    CASE WHEN k >= 2 THEN
       |      sqrt((CAST(smm AS DOUBLE) - CAST(sm AS DOUBLE) * CAST(sm AS DOUBLE)
       |        / CAST(k AS DOUBLE)) / CAST(k - 1 AS DOUBLE))
       |      * 0.7796968012336761 END AS beta
       |  FROM stats
       |), params AS (
       |  SELECT event_type, k, beta,
       |    mean - 0.5772156649015329 * beta AS mu
       |  FROM fitted
       |)
       |SELECT event_type, CAST(k AS BIGINT) AS n_blocks,
       |  ROUND(mu, 6) AS mu,
       |  ROUND(beta, 6) AS beta,
       |  ${rl(4)} AS rl_quarter,
       |  ${rl(12)} AS rl_season,
       |  ${rl(52)} AS rl_year
       |FROM params ORDER BY event_type""".stripMargin
  }

  /** q511 — Huber M-estimator of location per event type (3 unrolled
    * IRLS steps, c = 1.345, MAD scale, median start): the robust
    * location that — unlike the median (q121) and the 20% trimmed
    * mean (q438) — downweights outliers SMOOTHLY instead of ignoring
    * them, the estimator robust statistics actually recommends for
    * "the typical daily load with the incidents discounted". The
    * shift column (Huber − median) and the final downweighted-day
    * count say how much the outliers were pulling.
    *
    * Exactness: median and MAD are exact rank-selected values (q121's
    * machinery verbatim); each IRLS weight is a fixed-order IEEE
    * chain rounded to 6dp, weighted sums accumulate as DECIMAL, and
    * each iterate is ONE double division — three unrolled rounds,
    * identical CTE algebra on both engines. |v − μ| = 0 takes weight
    * 1 explicitly (no 0/0); MAD = 0 collapses all off-median weights
    * to 0, degenerating honestly to the median.
    *
    * Scale: the q121 daily aggregate + rank windows, then three
    * broadcast-join + |types|-row aggregate rounds — calendar-bounded.
    */
  def huberLocation(spark: SparkSession, dir: String,
                    c: Double = 1.345): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(28, 6)
    val daily = dailyValues(spark, dir)
      .transform(graft.Iterate.cut)
    val wMed = Window.partitionBy(col("event_type")).orderBy(col("v"), col("day"))
    val med = daily
      .withColumn("rn", row_number().over(wMed))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("event_type"))))
      .groupBy(col("event_type"))
      .agg(max(col("n")).as("n_days"),
        max(when(col("rn") === expr("(n + 1) div 2"), col("v"))).as("med"))
    val dev = daily.join(broadcast(med), "event_type")
      .withColumn("adev", abs(col("v") - col("med")))
    val wMad = Window.partitionBy(col("event_type")).orderBy(col("adev"), col("day"))
    val mad = dev
      .withColumn("rn", row_number().over(wMad))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("event_type"))))
      .groupBy(col("event_type"))
      .agg(max(when(col("rn") === expr("(n + 1) div 2"), col("adev"))).as("mad"))
    val base = med.join(mad, "event_type")
    def wgt(mu: Column): Column = {
      val ad = abs(col("v") - mu)
      round(when(ad === 0.0, lit(1.0))
        .otherwise(least(lit(1.0), lit(c) * col("mad") / ad)), 6)
    }
    def step(prev: DataFrame, muCol: String, outCol: String): DataFrame = {
      val joined = daily.join(broadcast(prev), "event_type")
        .withColumn("w", wgt(col(muCol)))
      joined.groupBy(col("event_type"))
        .agg(sum(round(col("w") * col("v"), 6).cast(dec)).cast("double").as("num"),
          sum(col("w").cast(dec)).cast("double").as("den"))
        .withColumn(outCol, col("num") / nullif(col("den"), lit(0.0)))
        .select(col("event_type"), col(outCol))
        .join(prev, "event_type")
    }
    val it1 = step(base.withColumn("mu0", col("med")), "mu0", "mu1")
    val it2 = step(it1, "mu1", "mu2")
    val it3 = step(it2, "mu2", "mu3")
    val fin = daily.join(broadcast(it3), "event_type")
      .withColumn("w", wgt(col("mu3")))
      .groupBy(col("event_type"))
      .agg(max(col("n_days")).as("n_days"), max(col("med")).as("med"),
        max(col("mad")).as("mad"), max(col("mu3")).as("mu3"),
        sum((col("w") < 1.0).cast("long")).as("n_downweighted"))
    fin.select(col("event_type"), col("n_days"),
        round(col("med"), 6).as("median"),
        round(col("mad"), 6).as("mad"),
        round(col("mu3"), 6).as("huber_mu"),
        (round(col("mu3") - col("med"), 6) + lit(0.0)).as("shift"),
        col("n_downweighted"))
      .orderBy(col("event_type"))
  }

  def huberLocationSql(c: Double = 1.345): String = {
    def stepSql(i: Int, muExpr: String, prev: String): String =
      s"""w$i AS (
         |  SELECT d.event_type,
         |    ROUND(CASE WHEN ABS(d.v - $muExpr) = 0 THEN 1.0
         |      ELSE LEAST(1.0, $c * b.mad / ABS(d.v - $muExpr)) END, 6) AS w,
         |    d.v
         |  FROM daily d JOIN $prev b ON b.event_type = d.event_type
         |), it$i AS (
         |  SELECT w$i.event_type,
         |    CAST(SUM(CAST(ROUND(w * v, 6) AS DECIMAL(28,6))) AS DOUBLE)
         |      / NULLIF(CAST(SUM(CAST(w AS DECIMAL(28,6))) AS DOUBLE), 0.0)
         |      AS mu$i
         |  FROM w$i GROUP BY 1
         |)""".stripMargin
    s"""WITH $dailyValuesCte, ranked AS (
       |  SELECT event_type, day, v,
       |    row_number() OVER (PARTITION BY event_type ORDER BY v, day) AS rn,
       |    COUNT(*) OVER (PARTITION BY event_type) AS n
       |  FROM daily
       |), med AS (
       |  SELECT event_type, MAX(n) AS n_days,
       |    MAX(CASE WHEN rn = (n + 1) // 2 THEN v END) AS med
       |  FROM ranked GROUP BY 1
       |), devs AS (
       |  SELECT d.event_type, d.day, ABS(d.v - m.med) AS adev
       |  FROM daily d JOIN med m ON m.event_type = d.event_type
       |), dranked AS (
       |  SELECT event_type, adev,
       |    row_number() OVER (PARTITION BY event_type ORDER BY adev, day) AS rn,
       |    COUNT(*) OVER (PARTITION BY event_type) AS n
       |  FROM devs
       |), madt AS (
       |  SELECT event_type,
       |    MAX(CASE WHEN rn = (n + 1) // 2 THEN adev END) AS mad
       |  FROM dranked GROUP BY 1
       |), base AS (
       |  SELECT m.event_type, m.n_days, m.med, t.mad, m.med AS mu0
       |  FROM med m JOIN madt t ON t.event_type = m.event_type
       |), ${stepSql(1, "b.mu0", "base")},
       |b1 AS (
       |  SELECT b.event_type, b.n_days, b.med, b.mad, i.mu1
       |  FROM base b JOIN it1 i ON i.event_type = b.event_type
       |), ${stepSql(2, "b.mu1", "b1")},
       |b2 AS (
       |  SELECT b.event_type, b.n_days, b.med, b.mad, i.mu2
       |  FROM b1 b JOIN it2 i ON i.event_type = b.event_type
       |), ${stepSql(3, "b.mu2", "b2")},
       |b3 AS (
       |  SELECT b.event_type, b.n_days, b.med, b.mad, i.mu3
       |  FROM b2 b JOIN it3 i ON i.event_type = b.event_type
       |), finw AS (
       |  SELECT d.event_type, b.n_days, b.med, b.mad, b.mu3,
       |    ROUND(CASE WHEN ABS(d.v - b.mu3) = 0 THEN 1.0
       |      ELSE LEAST(1.0, $c * b.mad / ABS(d.v - b.mu3)) END, 6) AS w
       |  FROM daily d JOIN b3 b ON b.event_type = d.event_type
       |)
       |SELECT event_type, CAST(MAX(n_days) AS BIGINT) AS n_days,
       |  ROUND(MAX(med), 6) AS median,
       |  ROUND(MAX(mad), 6) AS mad,
       |  ROUND(MAX(mu3), 6) AS huber_mu,
       |  ROUND(MAX(mu3) - MAX(med), 6) + 0.0 AS shift,
       |  CAST(SUM(CASE WHEN w < 1.0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_downweighted
       |FROM finw GROUP BY event_type
       |ORDER BY event_type""".stripMargin
  }

  /** q515 — Goh–Barabási burstiness–memory phase point per event
    * type, on the SAME within-day inter-event gaps q470 tests and
    * q493 fits: B = (σ − μ)/(σ + μ) of the gap distribution (−1
    * regular … 0 Poisson … → 1 bursty) and M = lag-1 Pearson between
    * CONSECUTIVE gaps (do long gaps follow long gaps?). The (B, M)
    * pair is the classic human-dynamics fingerprint that separates
    * "heavy-tailed gap sizes" from "correlated gap sequences" — two
    * different burst mechanisms q493's single shape parameter k
    * conflates, and the one that decides whether a rate limiter needs
    * token buckets (size) or cooldowns (memory).
    *
    * Exactness: gaps are exact integer micros off the shared dayGaps
    * frame; all moment and lag-1 product sums accumulate as
    * DECIMAL(38,0) Spark-side (g² ≈ 7.4e21 overflows BIGINT) and
    * HUGEINT DuckDB-side — exact integers either way, cast to double
    * once, then fixed-operand-order B/M chains rounded at 6dp with
    * the +0.0 guard; degenerate types (zero variance, < 2 pairs)
    * surface NULL via NULLIF.
    *
    * Scale: one (type, day)-windowed pass for gaps + its lead() for
    * pairs (the q470 shuffle), two |types|-row aggregates.
    */
  def gapBurstMemory(spark: SparkSession, dir: String): DataFrame = {
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val d19 = org.apache.spark.sql.types.DecimalType(19, 0)
    def sq(c: Column): Column = (c.cast(d19) * c.cast(d19)).cast(d38)
    val ev = Tables.load(spark, dir, "events")
      .select(col("event_type"), epochDayExpr.as("day"),
        expr("unix_micros(ts)").as("us"), col("event_id"))
    val w = Window.partitionBy(col("event_type"), col("day"))
      .orderBy(col("us"), col("event_id"))
    val gaps = ev.withColumn("prev", lag(col("us"), 1).over(w))
      .withColumn("g", col("us") - col("prev"))
      .withColumn("g2", lead(col("g"), 1).over(w))
      .filter(col("g").isNotNull)
      .transform(graft.Iterate.cut)
    val mom = gaps.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("g")).as("sg"),
        sum(sq(col("g"))).cast("double").as("sgg"))
    val pairs = gaps.filter(col("g2").isNotNull)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("np"),
        sum(col("g")).as("sa"), sum(col("g2")).as("sb"),
        sum(sq(col("g"))).cast("double").as("saa"),
        sum(sq(col("g2"))).cast("double").as("sbb"),
        sum((col("g").cast(d19) * col("g2").cast(d19)).cast(d38))
          .cast("double").as("sab"))
    mom.join(pairs, Seq("event_type"), "left")
      .withColumn("mu", col("sg").cast("double") / col("n").cast("double"))
      .withColumn("sigma",
        sqrt(col("sgg") / col("n").cast("double") - col("mu") * col("mu")))
      .withColumn("b_raw",
        (col("sigma") - col("mu")) / nullif(col("sigma") + col("mu"), lit(0.0)))
      .withColumn("m_raw",
        (col("np").cast("double") * col("sab") -
          col("sa").cast("double") * col("sb").cast("double")) /
          nullif(sqrt(col("np").cast("double") * col("saa") -
            col("sa").cast("double") * col("sa").cast("double")) *
            sqrt(col("np").cast("double") * col("sbb") -
              col("sb").cast("double") * col("sb").cast("double")), lit(0.0)))
      .select(col("event_type"), col("n").as("n_gaps"),
        coalesce(col("np"), lit(0L)).as("n_pairs"),
        (round(col("b_raw"), 6) + lit(0.0)).as("burstiness"),
        (round(col("m_raw"), 6) + lit(0.0)).as("memory"),
        when(col("b_raw").isNull || col("m_raw").isNull, lit("degenerate"))
          .when(col("b_raw") > 0 && col("m_raw") > 0, lit("bursty_clustered"))
          .when(col("b_raw") > 0, lit("bursty_alternating"))
          .when(col("m_raw") > 0, lit("regular_clustered"))
          .otherwise(lit("regular_alternating")).as("regime"))
      .orderBy(col("event_type"))
  }

  val gapBurstMemorySql: String =
    """WITH ev AS (
      |  SELECT event_type, epoch_ms(ts) // 86400000 AS day,
      |    epoch_us(ts) AS us, event_id
      |  FROM events
      |), gapped AS (
      |  SELECT event_type, g,
      |    lead(g) OVER (PARTITION BY event_type, day
      |      ORDER BY us, event_id) AS g2
      |  FROM (
      |    SELECT event_type, day, us, event_id,
      |      us - LAG(us, 1) OVER (PARTITION BY event_type, day
      |        ORDER BY us, event_id) AS g
      |    FROM ev
      |  )
      |  WHERE g IS NOT NULL
      |), mom AS (
      |  SELECT event_type, COUNT(*) AS n, CAST(SUM(g) AS BIGINT) AS sg,
      |    CAST(SUM(CAST(g AS HUGEINT) * g) AS DOUBLE) AS sgg
      |  FROM gapped GROUP BY 1
      |), prs AS (
      |  SELECT event_type, COUNT(*) AS np,
      |    CAST(SUM(g) AS BIGINT) AS sa, CAST(SUM(g2) AS BIGINT) AS sb,
      |    CAST(SUM(CAST(g AS HUGEINT) * g) AS DOUBLE) AS saa,
      |    CAST(SUM(CAST(g2 AS HUGEINT) * g2) AS DOUBLE) AS sbb,
      |    CAST(SUM(CAST(g AS HUGEINT) * g2) AS DOUBLE) AS sab
      |  FROM gapped WHERE g2 IS NOT NULL GROUP BY 1
      |), derived AS (
      |  SELECT m.event_type, m.n, COALESCE(p.np, 0) AS np,
      |    CAST(m.sg AS DOUBLE) / CAST(m.n AS DOUBLE) AS mu,
      |    sqrt(m.sgg / CAST(m.n AS DOUBLE)
      |      - (CAST(m.sg AS DOUBLE) / CAST(m.n AS DOUBLE))
      |        * (CAST(m.sg AS DOUBLE) / CAST(m.n AS DOUBLE))) AS sigma,
      |    (CAST(p.np AS DOUBLE) * p.sab
      |      - CAST(p.sa AS DOUBLE) * CAST(p.sb AS DOUBLE))
      |      / NULLIF(sqrt(CAST(p.np AS DOUBLE) * p.saa
      |          - CAST(p.sa AS DOUBLE) * CAST(p.sa AS DOUBLE))
      |        * sqrt(CAST(p.np AS DOUBLE) * p.sbb
      |          - CAST(p.sb AS DOUBLE) * CAST(p.sb AS DOUBLE)), 0.0) AS m_raw
      |  FROM mom m LEFT JOIN prs p ON p.event_type = m.event_type
      |), scored AS (
      |  SELECT event_type, n, np,
      |    (sigma - mu) / NULLIF(sigma + mu, 0.0) AS b_raw, m_raw
      |  FROM derived
      |)
      |SELECT event_type, CAST(n AS BIGINT) AS n_gaps,
      |  CAST(np AS BIGINT) AS n_pairs,
      |  ROUND(b_raw, 6) + 0.0 AS burstiness,
      |  ROUND(m_raw, 6) + 0.0 AS memory,
      |  CASE WHEN b_raw IS NULL OR m_raw IS NULL THEN 'degenerate'
      |    WHEN b_raw > 0 AND m_raw > 0 THEN 'bursty_clustered'
      |    WHEN b_raw > 0 THEN 'bursty_alternating'
      |    WHEN m_raw > 0 THEN 'regular_clustered'
      |    ELSE 'regular_alternating' END AS regime
      |FROM scored ORDER BY event_type""".stripMargin

  /** q517 — Bland–Altman agreement between the two q222/q431 forecast
    * baselines (naive-1 = yesterday, seasonal-naive-7 = a week ago)
    * per event type: per-day method DIFFERENCE d_t = v_{t−1} − v_{t−7},
    * bias = mean(d), limits of agreement bias ± 1.96·sd, and the
    * share of days outside the limits. q393's Diebold–Mariano asks
    * "is one method significantly better"; Bland–Altman asks the
    * operations question — "do the two methods AGREE well enough to
    * be interchangeable, and by how much do they drift" — the
    * method-comparison readout before swapping a forecaster in a
    * live dashboard.
    *
    * Exactness: differences are exact integers off the dense daily
    * grid, so bias/sd come from exact BIGINT moment sums (n − 1
    * denominator) in one fixed IEEE chain; the outside-limits
    * comparison uses unrounded doubles identical on both engines;
    * display rounds once with the +0.0 guard. Types with < 2
    * comparable days surface NULL.
    *
    * Scale: one dense grid + two lag windows per type, a |types|-row
    * aggregate, then a second conditional pass — calendar-bounded.
    */
  def blandAltmanBaselines(spark: SparkSession, dir: String): DataFrame = {
    val dense = denseDailyCounts(spark, dir)
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val diffs = dense
      .withColumn("f1", lag(col("v"), 1).over(w))
      .withColumn("f7", lag(col("v"), 7).over(w))
      .filter(col("f1").isNotNull && col("f7").isNotNull)
      .select(col("event_type"), (col("f1") - col("f7")).as("d"))
      .transform(graft.Iterate.cut)
    val stats = diffs.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("d")).as("sd1"),
        sum(col("d") * col("d")).as("sdd"))
      .withColumn("bias", col("sd1").cast("double") / col("n").cast("double"))
      .withColumn("sdev", sqrt(
        (col("sdd").cast("double") -
          col("sd1").cast("double") * col("sd1").cast("double") /
            col("n").cast("double")) /
          nullif((col("n") - lit(1)).cast("double"), lit(0.0))))
      .withColumn("lo", col("bias") - lit(1.96) * col("sdev"))
      .withColumn("hi", col("bias") + lit(1.96) * col("sdev"))
    diffs.join(broadcast(stats), "event_type")
      .groupBy(col("event_type"))
      .agg(max(col("n")).as("n_days"),
        max(col("bias")).as("bias_raw"), max(col("sdev")).as("sdev_raw"),
        max(col("lo")).as("lo_raw"), max(col("hi")).as("hi_raw"),
        // when(): a NULL condition (single-diff type -> sdev/lo/hi
        // NULL) falls to otherwise(0) exactly like the oracle's CASE
        // WHEN ... ELSE 0; a bare boolean cast would propagate NULL
        // into n_outside and diverge cross-engine
        sum(when(col("d").cast("double") < col("lo") ||
          col("d").cast("double") > col("hi"), lit(1L)).otherwise(lit(0L)))
          .as("n_outside"))
      .select(col("event_type"), col("n_days"),
        (round(col("bias_raw"), 6) + lit(0.0)).as("bias"),
        round(col("sdev_raw"), 6).as("sd_diff"),
        (round(col("lo_raw"), 6) + lit(0.0)).as("loa_low"),
        (round(col("hi_raw"), 6) + lit(0.0)).as("loa_high"),
        round(col("n_outside").cast("double") / col("n_days").cast("double"), 6)
          .as("outside_share"))
      .orderBy(col("event_type"))
  }

  val blandAltmanBaselinesSql: String =
    s"""WITH $denseDailyCountsSql, diffs AS (
      |  SELECT event_type, f1 - f7 AS d FROM (
      |    SELECT event_type,
      |      lag(v, 1) OVER (PARTITION BY event_type ORDER BY day) AS f1,
      |      lag(v, 7) OVER (PARTITION BY event_type ORDER BY day) AS f7
      |    FROM dense
      |  ) WHERE f1 IS NOT NULL AND f7 IS NOT NULL
      |), stats AS (
      |  SELECT event_type, COUNT(*) AS n,
      |    CAST(SUM(d) AS BIGINT) AS sd1,
      |    CAST(SUM(d * d) AS BIGINT) AS sdd
      |  FROM diffs GROUP BY 1
      |), derived AS (
      |  SELECT event_type, n,
      |    CAST(sd1 AS DOUBLE) / CAST(n AS DOUBLE) AS bias,
      |    sqrt((CAST(sdd AS DOUBLE)
      |      - CAST(sd1 AS DOUBLE) * CAST(sd1 AS DOUBLE) / CAST(n AS DOUBLE))
      |      / NULLIF(CAST(n - 1 AS DOUBLE), 0.0)) AS sdev
      |  FROM stats
      |), lims AS (
      |  SELECT event_type, n, bias, sdev,
      |    bias - 1.96 * sdev AS lo, bias + 1.96 * sdev AS hi
      |  FROM derived
      |)
      |SELECT d.event_type, CAST(MAX(l.n) AS BIGINT) AS n_days,
      |  ROUND(MAX(l.bias), 6) + 0.0 AS bias,
      |  ROUND(MAX(l.sdev), 6) AS sd_diff,
      |  ROUND(MAX(l.lo), 6) + 0.0 AS loa_low,
      |  ROUND(MAX(l.hi), 6) + 0.0 AS loa_high,
      |  ROUND(CAST(SUM(CASE WHEN CAST(d.d AS DOUBLE) < l.lo
      |      OR CAST(d.d AS DOUBLE) > l.hi THEN 1 ELSE 0 END) AS DOUBLE)
      |    / CAST(MAX(l.n) AS DOUBLE), 6) AS outside_share
      |FROM diffs d JOIN lims l ON l.event_type = d.event_type
      |GROUP BY d.event_type
      |ORDER BY d.event_type""".stripMargin

  /** q518 — Markov stationary pull: 3 scaled-integer power steps of
    * the q92 transition matrix from the uniform distribution, beside
    * each type's EMPIRICAL share — how fast (and toward what) the
    * first-order chain pulls a cold-start user mix, and the L1 gap
    * that says whether the chain's medium-run behavior matches the
    * observed traffic mix at all (a large gap means the first-order
    * model misses longer structure — the q394 holdout's
    * distributional twin).
    *
    * Exactness: the q107 PageRank discipline verbatim — probabilities
    * live as BIGINTs in 1e-12 units, each step's term is
    * (π_i·c_ij) div r_i (integer floor, exact on both engines), and
    * the only doubles are the final 6dp display divisions. Floor
    * loss ≤ 1e-12 per term is deterministic and identical.
    *
    * Scale: the transition matrix is |types|²-row; three unrolled
    * joins over it are metadata-sized — the event-grain work is the
    * one q92 lead() shuffle.
    */
  def markovStationaryPull(spark: SparkSession, dir: String,
                           steps: Int = 3): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
      .withColumn("ts_ms", graft.operators.Relational.tsMs("ts"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_ms"), col("event_id"))
    val pairs = ev
      .withColumn("to_type", lead(col("event_type"), 1).over(w))
      .filter(col("to_type").isNotNull)
      .select(col("event_type").as("from_type"), col("to_type"))
    val counts = pairs.groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("c"))
    val totals = counts.groupBy(col("from_type")).agg(sum(col("c")).as("r"))
    val edges = counts.join(totals, "from_type").transform(graft.Iterate.cut)
    val k = edges.select(col("from_type")).distinct().count()
    var pi = edges.select(col("from_type").as("t")).distinct()
      .withColumn("p", lit(1000000000000L / k))
    (1 to steps).foreach { _ =>
      pi = edges.join(pi, col("from_type") === col("t"))
        .groupBy(col("to_type"))
        .agg(sum(expr("(p * c) div r")).as("p"))
        .select(col("to_type").as("t"), col("p"))
    }
    val emp = Tables.load(spark, dir, "events")
      .groupBy(col("event_type")).agg(count(lit(1)).as("n_events"))
      .withColumn("total", sum(col("n_events")).over(Window.partitionBy()))
    val joined = emp.join(pi, col("event_type") === col("t"), "left")
      .withColumn("emp_share",
        col("n_events").cast("double") / col("total").cast("double"))
      .withColumn("pi_share",
        coalesce(col("p"), lit(0L)).cast("double") / lit(1e12))
    val l1 = joined.agg(sum(round(abs(col("pi_share") - col("emp_share")), 6)
        .cast(org.apache.spark.sql.types.DecimalType(28, 6)))
      .cast("double").as("l1_gap"))
    joined.crossJoin(broadcast(l1))
      .select(col("event_type"), col("n_events"),
        round(col("emp_share"), 6).as("emp_share"),
        round(col("pi_share"), 6).as("pi3_share"),
        (round(col("pi_share") - col("emp_share"), 6) + lit(0.0)).as("pull"),
        round(col("l1_gap"), 6).as("l1_gap"))
      .orderBy(col("event_type"))
  }

  def markovStationaryPullSql(steps: Int = 3): String = {
    val stepCtes = (1 to steps).map { s =>
      val prev = if (s == 1) "pi0" else s"pi${s - 1}"
      s"""pi$s AS (
         |  SELECT e.to_type AS t, CAST(SUM((p.p * e.c) // e.r) AS BIGINT) AS p
         |  FROM edges e JOIN $prev p ON p.t = e.from_type
         |  GROUP BY 1
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH pairs AS (
       |  SELECT event_type AS from_type,
       |    lead(event_type) OVER (PARTITION BY user_id
       |      ORDER BY epoch_ms(ts), event_id) AS to_type
       |  FROM events
       |), counts AS (
       |  SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS c
       |  FROM pairs WHERE to_type IS NOT NULL GROUP BY 1, 2
       |), edges AS (
       |  SELECT c.from_type, c.to_type, c.c, t.r
       |  FROM counts c JOIN (
       |    SELECT from_type, CAST(SUM(c) AS BIGINT) AS r
       |    FROM counts GROUP BY 1
       |  ) t ON t.from_type = c.from_type
       |), kk AS (
       |  SELECT COUNT(DISTINCT from_type) AS k FROM edges
       |), pi0 AS (
       |  SELECT DISTINCT from_type AS t,
       |    1000000000000 // (SELECT k FROM kk) AS p
       |  FROM edges
       |), $stepCtes,
       |emp AS (
       |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
       |    CAST(SUM(COUNT(*)) OVER () AS BIGINT) AS total
       |  FROM events GROUP BY 1
       |), joined AS (
       |  SELECT e.event_type, e.n_events,
       |    CAST(e.n_events AS DOUBLE) / CAST(e.total AS DOUBLE) AS emp_share,
       |    CAST(COALESCE(p.p, 0) AS DOUBLE) / 1e12 AS pi_share
       |  FROM emp e LEFT JOIN pi$steps p ON p.t = e.event_type
       |), l1 AS (
       |  SELECT CAST(SUM(CAST(ROUND(ABS(pi_share - emp_share), 6)
       |    AS DECIMAL(28,6))) AS DOUBLE) AS l1_gap
       |  FROM joined
       |)
       |SELECT j.event_type, j.n_events,
       |  ROUND(j.emp_share, 6) AS emp_share,
       |  ROUND(j.pi_share, 6) AS pi3_share,
       |  ROUND(j.pi_share - j.emp_share, 6) + 0.0 AS pull,
       |  ROUND(l.l1_gap, 6) AS l1_gap
       |FROM joined j CROSS JOIN l1 l
       |ORDER BY j.event_type""".stripMargin
  }

  /** q521 — quantile "treatment-effect" profile between the two
    * deterministic A/A parity arms (user_id % 2): exact per-arm
    * deciles of per-user total value and their differences — the
    * DISTRIBUTIONAL effect readout that mean-based tests (q156 CUPED,
    * q371 permutation) cannot give: a real treatment often moves the
    * tails and not the mean, and this is the standard QTE table that
    * shows WHERE. On an A/A split the profile doubles as the
    * calibration check — every decile difference should hover near
    * zero, so a persistent tail gap flags assignment bias before any
    * real experiment trusts it.
    *
    * Exactness: per-user totals are decimal sums; every decile is an
    * exact rank-selected value ((n·d + d) div 10, (x, user)-
    * tiebroken); differences of exact doubles round once with the
    * +0.0 guard.
    *
    * Scale: one user-keyed aggregate, one per-arm rank window over
    * user-cardinality rows (the q90-family sort), a 9-row readout.
    */
  def qteProfile(spark: SparkSession, dir: String): DataFrame = {
    val users = Tables.load(spark, dir, "events")
      .groupBy(col("user_id"))
      .agg(Relational.decSum(col("value")).as("x"))
      .withColumn("arm", pmod(col("user_id"), lit(2)).cast("int"))
    val wRk = Window.partitionBy(col("arm")).orderBy(col("x"), col("user_id"))
    val ranked = users
      .withColumn("rn", row_number().over(wRk))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("arm"))))
    val deciles = max(col("n")).as("n_users") +: (1 to 9).map(d =>
      max(when(col("rn") === expr(s"(n * $d + $d) div 10"), col("x")))
        .as(s"q$d"))
    val perArm = ranked.groupBy(col("arm"))
      .agg(deciles.head, deciles.tail: _*)
      .select(col("arm"), col("n_users"),
        expr(s"stack(9, ${(1 to 9).map(d => s"$d, q$d").mkString(", ")})")
          .as(Seq("decile", "q")))
    val a0 = perArm.filter(col("arm") === 0)
      .select(col("decile"), col("n_users").as("n0"), col("q").as("q_arm0"))
    val a1 = perArm.filter(col("arm") === 1)
      .select(col("decile"), col("n_users").as("n1"), col("q").as("q_arm1"))
    a0.join(a1, "decile")
      .select(col("decile"), col("n0"), col("n1"),
        round(col("q_arm0"), 6).as("q_arm0"),
        round(col("q_arm1"), 6).as("q_arm1"),
        (round(col("q_arm1") - col("q_arm0"), 6) + lit(0.0)).as("qte"))
      .orderBy(col("decile"))
  }

  val qteProfileSql: String = {
    val decCols = (1 to 9).map(d =>
      s"MAX(CASE WHEN rn = (n * $d + $d) // 10 THEN x END) AS q$d")
      .mkString(",\n      |    ")
    val unions = (1 to 9).map(d =>
      s"SELECT arm, n_users, $d AS decile, q$d AS q FROM per_arm")
      .mkString("\n      |  UNION ALL ")
    s"""WITH users AS (
      |  SELECT user_id,
      |    CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS x,
      |    CAST(user_id % 2 AS INT) AS arm
      |  FROM events GROUP BY user_id
      |), ranked AS (
      |  SELECT arm, x,
      |    row_number() OVER (PARTITION BY arm ORDER BY x, user_id) AS rn,
      |    COUNT(*) OVER (PARTITION BY arm) AS n
      |  FROM users
      |), per_arm AS (
      |  SELECT arm, MAX(n) AS n_users,
      |    $decCols
      |  FROM ranked GROUP BY arm
      |), stacked AS (
      |  $unions
      |)
      |SELECT a0.decile, a0.n_users AS n0, a1.n_users AS n1,
      |  ROUND(a0.q, 6) AS q_arm0,
      |  ROUND(a1.q, 6) AS q_arm1,
      |  ROUND(a1.q - a0.q, 6) + 0.0 AS qte
      |FROM stacked a0 JOIN stacked a1
      |  ON a1.decile = a0.decile AND a0.arm = 0 AND a1.arm = 1
      |ORDER BY a0.decile""".stripMargin
  }

  /** q522 — Sn robust scale (Rousseeuw–Croux) per event type:
    * Sn = c · med_i( med_{j≠i} |v_i − v_j| ) over the daily values,
    * c = 1.1926 — the robust scale estimator that beats MAD on two
    * counts the literature cares about (58% vs 37% Gaussian
    * efficiency, and no symmetry assumption: MAD measures spread
    * around a CENTER, Sn measures typical pairwise distance). Ships
    * beside the MAD so the ratio flags asymmetric spread — a
    * right-skewed load distribution has Sn ≫ MAD and a MAD-based
    * alert band (q121) that is too tight on the high side.
    *
    * Exactness: pairwise |v_i − v_j| are exact IEEE differences of
    * shared doubles; both medians are rank-SELECTED ((m+1) div 2,
    * fully tiebroken — inner by (diff, j-day), outer by (inner-med,
    * i-day)); the only arithmetic is the final c multiply, rounded
    * once.
    *
    * Scale: the pair frame is CALENDAR²-bounded (days², never
    * events²) and stated as such — at a year of days it is ~133k
    * rows per type; the windows are per-(type, i-day). The O(n log n)
    * Croux–Rousseeuw algorithm is the single-node refinement; the
    * relational form keeps both engines exact and identical.
    */
  def snRobustScale(spark: SparkSession, dir: String): DataFrame = {
    val daily = dailyValues(spark, dir)
      .transform(graft.Iterate.cut)
    val pairs = daily.as("a").join(daily.as("b"),
        col("a.event_type") === col("b.event_type") &&
          col("a.day") =!= col("b.day"))
      .select(col("a.event_type").as("event_type"), col("a.day").as("di"),
        col("b.day").as("dj"), abs(col("a.v") - col("b.v")).as("ad"))
    val wInner = Window.partitionBy(col("event_type"), col("di"))
      .orderBy(col("ad"), col("dj"))
    val inner = pairs
      .withColumn("rn", row_number().over(wInner))
      .withColumn("m", count(lit(1)).over(
        Window.partitionBy(col("event_type"), col("di"))))
      .groupBy(col("event_type"), col("di"))
      .agg(max(when(col("rn") === expr("(m + 1) div 2"), col("ad"))).as("imed"))
    val wOuter = Window.partitionBy(col("event_type"))
      .orderBy(col("imed"), col("di"))
    inner
      .withColumn("rn", row_number().over(wOuter))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("event_type"))))
      .groupBy(col("event_type"))
      .agg(max(col("n")).as("n_days"),
        max(when(col("rn") === expr("(n + 1) div 2"), col("imed"))).as("sn_raw"))
      .select(col("event_type"), col("n_days"),
        round(col("sn_raw"), 6).as("sn_raw"),
        round(lit(1.1926) * col("sn_raw"), 6).as("sn_scaled"))
      .orderBy(col("event_type"))
  }

  val snRobustScaleSql: String =
    s"""WITH $dailyValuesCte, pairs AS (
      |  SELECT a.event_type, a.day AS di, b.day AS dj,
      |    ABS(a.v - b.v) AS ad
      |  FROM daily a JOIN daily b
      |    ON b.event_type = a.event_type AND b.day <> a.day
      |), inner_med AS (
      |  SELECT event_type, di,
      |    MAX(CASE WHEN rn = (m + 1) // 2 THEN ad END) AS imed
      |  FROM (
      |    SELECT event_type, di, ad,
      |      row_number() OVER (PARTITION BY event_type, di
      |        ORDER BY ad, dj) AS rn,
      |      COUNT(*) OVER (PARTITION BY event_type, di) AS m
      |    FROM pairs
      |  ) GROUP BY 1, 2
      |), outer_med AS (
      |  SELECT event_type, MAX(n) AS n_days,
      |    MAX(CASE WHEN rn = (n + 1) // 2 THEN imed END) AS sn_raw
      |  FROM (
      |    SELECT event_type, imed,
      |      row_number() OVER (PARTITION BY event_type
      |        ORDER BY imed, di) AS rn,
      |      COUNT(*) OVER (PARTITION BY event_type) AS n
      |    FROM inner_med
      |  ) GROUP BY 1
      |)
      |SELECT event_type, CAST(n_days AS BIGINT) AS n_days,
      |  ROUND(sn_raw, 6) AS sn_raw,
      |  ROUND(1.1926 * sn_raw, 6) AS sn_scaled
      |FROM outer_med ORDER BY event_type""".stripMargin

  /** q527 — seasonal Mann–Kendall trend test (Hirsch–Slack) per event
    * type: q293's S statistic computed WITHIN each weekday strip and
    * summed — S' = Σ_w S_w, Var' = Σ_w Var_w, one continuity-corrected
    * z — so a strong weekly cycle (which pairs Mondays against
    * Sundays and drowns the signal in q293's all-pairs S) cannot mask
    * or fake a monotone trend. The seasonal-data form of the
    * distribution-free trend test; disagreement with q293 on the same
    * series is itself the "your trend test was reading the calendar"
    * verdict, so both ship.
    *
    * Exactness: q293's machinery verbatim per strip — integer
    * sign-pair sums, integer tie terms, one double division and a
    * correctly-rounded sqrt; strips with n < 2 contribute zero to
    * both sums identically.
    *
    * Scale: the pair join is per (type, weekday) — strips are
    * calendar-sized/7, so the pair frame is 7× SMALLER than q293's;
    * everything after is a |types|-row readout.
    */
  def seasonalMannKendall(spark: SparkSession, dir: String): DataFrame = {
    val daily = dailyValues(spark, dir)
      .withColumn("wd", pmod(col("day"), lit(7)))
    val s = daily.as("a").join(daily.as("b"),
        col("a.event_type") === col("b.event_type") &&
          col("a.wd") === col("b.wd") && col("a.day") < col("b.day"))
      .groupBy(col("a.event_type").as("event_type"))
      .agg(sum(when(col("b.v") > col("a.v"), 1L)
        .when(col("b.v") < col("a.v"), -1L).otherwise(0L)).as("s_stat"))
    val strip = daily.groupBy(col("event_type"), col("wd"))
      .agg(count(lit(1)).as("n"))
    val ties = daily.groupBy(col("event_type"), col("wd"), col("v"))
      .agg(count(lit(1)).as("t"))
      .groupBy(col("event_type"), col("wd"))
      .agg(sum(col("t") * (col("t") - 1) * (lit(2) * col("t") + 5))
        .as("tie_term"))
    val vars = strip.join(ties, Seq("event_type", "wd"))
      .groupBy(col("event_type"))
      .agg(sum(col("n")).as("n_days"),
        sum(col("n") * (col("n") - 1) * (lit(2) * col("n") + 5)
          - col("tie_term")).as("var_num"))
    s.join(vars, "event_type")
      .withColumn("z", round(
        when(col("s_stat") > 0,
          (col("s_stat") - 1).cast("double") /
            sqrt(col("var_num").cast("double") / 18.0))
          .when(col("s_stat") < 0,
            (col("s_stat") + 1).cast("double") /
              sqrt(col("var_num").cast("double") / 18.0))
          .otherwise(lit(0.0)), 6) + lit(0.0))
      .select(col("event_type"), col("n_days"), col("s_stat"),
        col("var_num"), col("z"),
        when(col("z") > 1.96, lit("increasing"))
          .when(col("z") < -1.96, lit("decreasing"))
          .otherwise(lit("no_trend")).as("verdict"))
      .orderBy(col("event_type"))
  }

  val seasonalMannKendallSql: String =
    """WITH daily AS (
      |  SELECT event_type, epoch_ms(ts) // 86400000 AS day,
      |    CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS v,
      |    (epoch_ms(ts) // 86400000) % 7 AS wd
      |  FROM events GROUP BY 1, 2, 4
      |), s AS (
      |  SELECT a.event_type,
      |    CAST(SUM(CASE WHEN b.v > a.v THEN 1
      |      WHEN b.v < a.v THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
      |  FROM daily a JOIN daily b
      |    ON b.event_type = a.event_type AND b.wd = a.wd AND a.day < b.day
      |  GROUP BY 1
      |), strip AS (
      |  SELECT event_type, wd, COUNT(*) AS n FROM daily GROUP BY 1, 2
      |), ties AS (
      |  SELECT event_type, wd,
      |    CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term
      |  FROM (
      |    SELECT event_type, wd, v, COUNT(*) AS t
      |    FROM daily GROUP BY 1, 2, 3
      |  ) GROUP BY 1, 2
      |), vars AS (
      |  SELECT st.event_type, CAST(SUM(st.n) AS BIGINT) AS n_days,
      |    CAST(SUM(st.n * (st.n - 1) * (2 * st.n + 5) - ti.tie_term)
      |      AS BIGINT) AS var_num
      |  FROM strip st JOIN ties ti
      |    ON ti.event_type = st.event_type AND ti.wd = st.wd
      |  GROUP BY 1
      |), scored AS (
      |  SELECT s.event_type, v.n_days, s.s_stat, v.var_num,
      |    ROUND(CASE WHEN s.s_stat > 0 THEN
      |        CAST(s.s_stat - 1 AS DOUBLE) / sqrt(CAST(v.var_num AS DOUBLE) / 18.0)
      |      WHEN s.s_stat < 0 THEN
      |        CAST(s.s_stat + 1 AS DOUBLE) / sqrt(CAST(v.var_num AS DOUBLE) / 18.0)
      |      ELSE 0.0 END, 6) + 0.0 AS z
      |  FROM s JOIN vars v ON v.event_type = s.event_type
      |)
      |SELECT event_type, n_days, s_stat, var_num, z,
      |  CASE WHEN z > 1.96 THEN 'increasing'
      |    WHEN z < -1.96 THEN 'decreasing'
      |    ELSE 'no_trend' END AS verdict
      |FROM scored ORDER BY event_type""".stripMargin

  /** q529 — quantile-based shape profile per event type: Bowley
    * skewness (Q3 − 2·median + Q1)/(Q3 − Q1) and Moors kurtosis
    * ((E7 − E5) + (E3 − E1))/(E6 − E2) from exact rank-selected
    * OCTILES — the robust counterparts of the moment skewness/
    * kurtosis inside q486's Jarque–Bera: one fat day drags a third
    * moment arbitrarily, but only shifts one octile. Read together:
    * q486 says "not normal", this says in WHICH direction the shape
    * deviates even when outliers poison the moments.
    *
    * Exactness: all seven octiles are exact rank picks
    * ((n·k + k) div 8, (v, day)-tiebroken), so both engines divide
    * identical doubles; NULLIF guards degenerate (zero-IQR) types;
    * display rounds once with the +0.0 guard.
    *
    * Scale: one (type, day) aggregate + one per-type rank window —
    * the q42 shape, calendar-sized.
    */
  def quantileShapeProfile(spark: SparkSession, dir: String): DataFrame = {
    val daily = dailyValues(spark, dir)
    val w = Window.partitionBy(col("event_type")).orderBy(col("v"), col("day"))
    val ranked = daily
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("event_type"))))
    val octs = max(col("n")).as("n_days") +: (1 to 7).map(k =>
      max(when(col("rn") === expr(s"(n * $k + $k) div 8"), col("v")))
        .as(s"e$k"))
    val aggd = ranked.groupBy(col("event_type"))
      .agg(octs.head, octs.tail: _*)
    aggd.select(col("event_type"), col("n_days"),
        round(col("e2"), 6).as("q1"),
        round(col("e4"), 6).as("median"),
        round(col("e6"), 6).as("q3"),
        (round((col("e6") - lit(2.0) * col("e4") + col("e2")) /
          nullif(col("e6") - col("e2"), lit(0.0)), 6) + lit(0.0))
          .as("bowley_skew"),
        (round(((col("e7") - col("e5")) + (col("e3") - col("e1"))) /
          nullif(col("e6") - col("e2"), lit(0.0)), 6) + lit(0.0))
          .as("moors_kurtosis"))
      .orderBy(col("event_type"))
  }

  val quantileShapeProfileSql: String = {
    val octs = (1 to 7).map(k =>
      s"MAX(CASE WHEN rn = (n * $k + $k) // 8 THEN v END) AS e$k")
      .mkString(",\n      |    ")
    s"""WITH $dailyValuesCte, ranked AS (
      |  SELECT event_type, v,
      |    row_number() OVER (PARTITION BY event_type ORDER BY v, day) AS rn,
      |    COUNT(*) OVER (PARTITION BY event_type) AS n
      |  FROM daily
      |), octiles AS (
      |  SELECT event_type, MAX(n) AS n_days,
      |    $octs
      |  FROM ranked GROUP BY 1
      |)
      |SELECT event_type, CAST(n_days AS BIGINT) AS n_days,
      |  ROUND(e2, 6) AS q1,
      |  ROUND(e4, 6) AS median,
      |  ROUND(e6, 6) AS q3,
      |  ROUND((e6 - 2.0 * e4 + e2) / NULLIF(e6 - e2, 0.0), 6) + 0.0
      |    AS bowley_skew,
      |  ROUND(((e7 - e5) + (e3 - e1)) / NULLIF(e6 - e2, 0.0), 6) + 0.0
      |    AS moors_kurtosis
      |FROM octiles ORDER BY event_type""".stripMargin
  }

  /** q530 — above/below-median spell profile per event type: drop
    * exactly-at-median days, island the remaining day sequence by
    * sign, and report per side the spell count, the longest spell
    * and the mean spell length. q412's runs TEST prices the
    * independence hypothesis with one number; this is the
    * persistence PROFILE capacity planning actually uses — "when
    * load goes above median it STAYS above for ~k days" is a
    * provisioning statement no variance or trend number makes.
    *
    * Exactness: the median is the exact rank-selected value (q121
    * convention); islands come from the calendar-true gaps-and-
    * islands identity day − per-side rank, so a spell breaks at ANY
    * interruption — an opposite-sign day, an exactly-at-median day,
    * or a day with no events at all (stated both sides); all outputs
    * are integers except one rounded mean division.
    *
    * Scale: one (type, day) aggregate, three calendar-sized windows,
    * a ≤|types|×2-row readout.
    */
  def medianSpellProfile(spark: SparkSession, dir: String): DataFrame = {
    val daily = dailyValues(spark, dir)
      .transform(graft.Iterate.cut)
    val wMed = Window.partitionBy(col("event_type")).orderBy(col("v"), col("day"))
    val med = daily
      .withColumn("rn", row_number().over(wMed))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("event_type"))))
      .groupBy(col("event_type"))
      .agg(max(when(col("rn") === expr("(n + 1) div 2"), col("v"))).as("med"))
    val signed = daily.join(broadcast(med), "event_type")
      .filter(col("v") =!= col("med"))
      .withColumn("side", when(col("v") > col("med"), lit("above"))
        .otherwise(lit("below")))
    val wSide = Window.partitionBy(col("event_type"), col("side"))
      .orderBy(col("day"))
    val islands = signed
      .withColumn("grp", col("day") - row_number().over(wSide))
      .groupBy(col("event_type"), col("side"), col("grp"))
      .agg(count(lit(1)).as("len"))
    islands.groupBy(col("event_type"), col("side"))
      .agg(count(lit(1)).as("n_spells"),
        max(col("len")).as("longest_spell"),
        sum(col("len")).as("total_days"))
      .select(col("event_type"), col("side"), col("n_spells"),
        col("longest_spell"),
        round(col("total_days").cast("double") /
          col("n_spells").cast("double"), 6).as("mean_spell_days"))
      .orderBy(col("event_type"), col("side"))
  }

  val medianSpellProfileSql: String =
    s"""WITH $dailyValuesCte, ranked AS (
      |  SELECT event_type, day, v,
      |    row_number() OVER (PARTITION BY event_type ORDER BY v, day) AS rn,
      |    COUNT(*) OVER (PARTITION BY event_type) AS n
      |  FROM daily
      |), med AS (
      |  SELECT event_type,
      |    MAX(CASE WHEN rn = (n + 1) // 2 THEN v END) AS med
      |  FROM ranked GROUP BY 1
      |), signed AS (
      |  SELECT d.event_type, d.day,
      |    CASE WHEN d.v > m.med THEN 'above' ELSE 'below' END AS side
      |  FROM daily d JOIN med m ON m.event_type = d.event_type
      |  WHERE d.v <> m.med
      |), islands AS (
      |  SELECT event_type, side,
      |    day - row_number() OVER (PARTITION BY event_type, side ORDER BY day)
      |      AS grp
      |  FROM signed
      |), spells AS (
      |  SELECT event_type, side, grp, COUNT(*) AS len
      |  FROM islands GROUP BY 1, 2, 3
      |)
      |SELECT event_type, side,
      |  CAST(COUNT(*) AS BIGINT) AS n_spells,
      |  CAST(MAX(len) AS BIGINT) AS longest_spell,
      |  ROUND(CAST(SUM(len) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
      |    AS mean_spell_days
      |FROM spells GROUP BY 1, 2
      |ORDER BY event_type, side""".stripMargin

  /** q531 — regression influence screen (DFBETA by exact
    * leave-one-out) for each type's daily OLS trend: removing day i
    * from the five sufficient sums by exact DECIMAL SUBTRACTION (the
    * q383/q485 relational-LOO trick) refits the slope without the
    * day, and dfbeta_i = slope₋ᵢ − slope says how much that single
    * day OWNS the trend. The regression-diagnostics verb behind every
    * q102-family slope: a "significant" trend whose max |dfbeta| is
    * the size of the slope itself is one incident, not a trend — the
    * readout names the day.
    *
    * Exactness: the global sums are 6dp-rounded-term decimals; each
    * LOO sum is an exact decimal subtraction of that day's own terms;
    * slopes are one fixed-operand-order double chain; per-day |dfbeta|
    * terms round at 6dp into a decimal mean. Degenerate fits (n < 4,
    * zero x-variance after removal) surface NULL via NULLIF and drop
    * from the max/mean.
    *
    * Scale: one (type, day) aggregate + a |types|-row broadcast of
    * the global sums joined back — the LOO refits are O(1) arithmetic
    * per day, never k separate regressions (calendar-sized).
    */
  def olsInfluenceScreen(spark: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(28, 6)
    def dsum(c: Column): Column = sum(c.cast(dec))
    val daily = dailyValues(spark, dir)
      .withColumn("x", col("day").cast("double"))
      .withColumn("tx", col("x").cast(dec))
      .withColumn("ty", col("v").cast(dec))
      .withColumn("txx", round(col("x") * col("x"), 6).cast(dec))
      .withColumn("txy", round(col("x") * col("v"), 6).cast(dec))
    val glob = daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("tx")).as("sx"),
        dsum(col("ty")).as("sy"), dsum(col("txx")).as("sxx"),
        dsum(col("txy")).as("sxy"))
    def slope(n: Column, sx: Column, sy: Column, sxx: Column,
              sxy: Column): Column = {
      val nd = n.cast("double")
      (nd * sxy.cast("double") - sx.cast("double") * sy.cast("double")) /
        nullif(nd * sxx.cast("double") - sx.cast("double") * sx.cast("double"),
          lit(0.0))
    }
    val scored = daily.join(broadcast(glob), "event_type")
      .withColumn("slope_all",
        slope(col("n"), col("sx"), col("sy"), col("sxx"), col("sxy")))
      .withColumn("slope_loo",
        when(col("n") >= 4, slope(col("n") - 1,
          col("sx") - col("tx"), col("sy") - col("ty"),
          col("sxx") - col("txx"), col("sxy") - col("txy"))))
      .withColumn("dfbeta", col("slope_loo") - col("slope_all"))
      .withColumn("adf", abs(col("dfbeta")))
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("adf").desc_nulls_last, col("day"))
    scored.withColumn("rk", row_number().over(w))
      .groupBy(col("event_type"))
      .agg(max(col("n")).as("n_days"),
        max(col("slope_all")).as("slope_raw"),
        max(when(col("rk") === 1, col("day"))).as("top_day"),
        max(when(col("rk") === 1, col("dfbeta"))).as("top_dfbeta_raw"),
        sum(round(col("adf"), 6).cast(dec)).cast("double").as("sadf"),
        count(col("adf")).as("n_fit"))
      .select(col("event_type"), col("n_days"),
        (round(col("slope_raw"), 6) + lit(0.0)).as("slope"),
        col("top_day"),
        (round(col("top_dfbeta_raw"), 6) + lit(0.0)).as("top_dfbeta"),
        round(col("sadf") / nullif(col("n_fit").cast("double"), lit(0.0)), 6)
          .as("mean_abs_dfbeta"))
      .orderBy(col("event_type"))
  }

  val olsInfluenceScreenSql: String =
    s"""WITH $dailyValuesCte, terms AS (
      |  SELECT event_type, day, v, CAST(day AS DOUBLE) AS x,
      |    CAST(CAST(day AS DOUBLE) AS DECIMAL(28,6)) AS tx,
      |    CAST(v AS DECIMAL(28,6)) AS ty,
      |    CAST(ROUND(CAST(day AS DOUBLE) * CAST(day AS DOUBLE), 6)
      |      AS DECIMAL(28,6)) AS txx,
      |    CAST(ROUND(CAST(day AS DOUBLE) * v, 6) AS DECIMAL(28,6)) AS txy
      |  FROM daily
      |), gsums AS (
      |  SELECT event_type, COUNT(*) AS n, SUM(tx) AS sx, SUM(ty) AS sy,
      |    SUM(txx) AS sxx, SUM(txy) AS sxy
      |  FROM terms GROUP BY 1
      |), scored AS (
      |  SELECT t.event_type, t.day, g.n,
      |    (CAST(g.n AS DOUBLE) * CAST(g.sxy AS DOUBLE)
      |      - CAST(g.sx AS DOUBLE) * CAST(g.sy AS DOUBLE))
      |      / NULLIF(CAST(g.n AS DOUBLE) * CAST(g.sxx AS DOUBLE)
      |        - CAST(g.sx AS DOUBLE) * CAST(g.sx AS DOUBLE), 0.0) AS slope_all,
      |    CASE WHEN g.n >= 4 THEN
      |      (CAST(g.n - 1 AS DOUBLE) * CAST(g.sxy - t.txy AS DOUBLE)
      |        - CAST(g.sx - t.tx AS DOUBLE) * CAST(g.sy - t.ty AS DOUBLE))
      |        / NULLIF(CAST(g.n - 1 AS DOUBLE) * CAST(g.sxx - t.txx AS DOUBLE)
      |          - CAST(g.sx - t.tx AS DOUBLE) * CAST(g.sx - t.tx AS DOUBLE),
      |          0.0)
      |    END AS slope_loo
      |  FROM terms t JOIN gsums g ON g.event_type = t.event_type
      |), dfb AS (
      |  SELECT event_type, day, n, slope_all,
      |    slope_loo - slope_all AS dfbeta,
      |    ABS(slope_loo - slope_all) AS adf,
      |    row_number() OVER (PARTITION BY event_type
      |      ORDER BY ABS(slope_loo - slope_all) DESC NULLS LAST, day) AS rk
      |  FROM scored
      |)
      |SELECT event_type, CAST(MAX(n) AS BIGINT) AS n_days,
      |  ROUND(MAX(slope_all), 6) + 0.0 AS slope,
      |  MAX(CASE WHEN rk = 1 THEN day END) AS top_day,
      |  ROUND(MAX(CASE WHEN rk = 1 THEN dfbeta END), 6) + 0.0 AS top_dfbeta,
      |  ROUND(CAST(SUM(CAST(ROUND(adf, 6) AS DECIMAL(28,6))) AS DOUBLE)
      |    / NULLIF(CAST(COUNT(adf) AS DOUBLE), 0.0), 6) AS mean_abs_dfbeta
      |FROM dfb GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** q523 — p-chart (attribute control chart) of the daily return
    * rate: per ship day, the share of lineitems returned, charted
    * against p̄ ± 3·√(p̄(1−p̄)/n_t) — the VARYING-n control limits
    * that distinguish a real p-chart from a fixed band (low-volume
    * days legitimately swing wider; a fixed threshold pages on them
    * for free). Completes the SPC shelf with its PROPORTIONS member:
    * q121 MAD, q173 EWMA, q364 CUSUM and q432 Page–Hinkley all chart
    * a continuous level; return/defect/error rates need this chart.
    *
    * Exactness: daily counts are exact integers; p̄ and each day's
    * limits are one fixed-operand-order IEEE chain (√ correctly
    * rounded); the out-of-limits comparison uses unrounded doubles on
    * both engines and display rounds once.
    *
    * Scale: one (day) aggregate over the fact table with map-side
    * combine + a 1-row p̄ broadcast — calendar-sized output.
    */
  def returnRatePChart(spark: SparkSession, dir: String): DataFrame = {
    import Temporal.dayOf
    val li = Tables.load(spark, dir, "lineitem")
      .select(expr(dayOf("l_shipdate")).as("day"),
        (col("l_returnflag") === "R").cast("long").as("r"))
    val daily = li.groupBy(col("day"))
      .agg(count(lit(1)).as("n"), sum(col("r")).as("nr"))
    val pbar = daily.agg(
      (sum(col("nr")).cast("double") / sum(col("n")).cast("double")).as("p"))
    daily.crossJoin(broadcast(pbar))
      .withColumn("rate", col("nr").cast("double") / col("n").cast("double"))
      .withColumn("halfw",
        lit(3.0) * sqrt(col("p") * (lit(1.0) - col("p")) / col("n").cast("double")))
      .withColumn("lcl", greatest(col("p") - col("halfw"), lit(0.0)))
      .withColumn("ucl", col("p") + col("halfw"))
      .select(col("day"), col("n"), col("nr"),
        round(col("rate"), 6).as("rate"),
        round(col("p"), 6).as("p_bar"),
        round(col("lcl"), 6).as("lcl"),
        round(col("ucl"), 6).as("ucl"),
        (col("rate") < col("lcl") || col("rate") > col("ucl")).cast("int")
          .as("signal"))
      .orderBy(col("day"))
  }

  val returnRatePChartSql: String =
    """WITH daily AS (
      |  SELECT epoch_ms(l_shipdate) // 86400000 AS day,
      |    COUNT(*) AS n,
      |    CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT)
      |      AS nr
      |  FROM lineitem GROUP BY 1
      |), pbar AS (
      |  SELECT CAST(SUM(nr) AS DOUBLE) / CAST(SUM(n) AS DOUBLE) AS p
      |  FROM daily
      |), scored AS (
      |  SELECT d.day, d.n, d.nr, b.p,
      |    CAST(d.nr AS DOUBLE) / CAST(d.n AS DOUBLE) AS rate,
      |    GREATEST(b.p - 3.0 * sqrt(b.p * (1.0 - b.p) / CAST(d.n AS DOUBLE)),
      |      0.0) AS lcl,
      |    b.p + 3.0 * sqrt(b.p * (1.0 - b.p) / CAST(d.n AS DOUBLE)) AS ucl
      |  FROM daily d CROSS JOIN pbar b
      |)
      |SELECT day, CAST(n AS BIGINT) AS n, nr,
      |  ROUND(rate, 6) AS rate,
      |  ROUND(p, 6) AS p_bar,
      |  ROUND(lcl, 6) AS lcl,
      |  ROUND(ucl, 6) AS ucl,
      |  CAST(rate < lcl OR rate > ucl AS INT) AS signal
      |FROM scored ORDER BY day""".stripMargin

  /** q524 — group-sequential A/A monitor with O'Brien–Fleming
    * boundaries: four interim looks at the corpus-time quartiles,
    * each computing the two-arm z-statistic on per-user cumulative
    * value THROUGH that look, compared against the classic OBF
    * 4-look boundaries (4.333, 2.963, 2.359, 2.014 — spend almost
    * nothing early, full α at the end). The peeking-safe monitoring
    * q311's SPRT gives per-type event rates, aimed at the experiment
    * metric itself; on the deterministic A/A parity split, a
    * boundary crossing at ANY look flags assignment bias, making
    * this the continuous calibration monitor for the q156/q371/q521
    * experiment shelf.
    *
    * Exactness: look cuts are integer day quantile picks off exact
    * min/max spans; per-(user, look) sums are decimal; arm moment
    * sums accumulate 6dp-rounded products as DECIMAL(28,6); z is one
    * fixed-operand-order chain (Welch unpooled variance v0/n0 + v1/n1), rounded
    * once with the +0.0 guard; boundaries are shared literals.
    *
    * Scale: the event-grain work is one user-keyed aggregate per
    * look, all four computed in ONE conditional aggregate (no
    * rescans); the readout is 4 rows.
    */
  def obfSequentialLooks(spark: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(28, 6)
    val bounds = Map(1 -> 4.333, 2 -> 2.963, 3 -> 2.359, 4 -> 2.014)
    val ev = Tables.load(spark, dir, "events")
      .select(col("user_id"), epochDayExpr.as("day"), col("value"))
    val span = ev.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val looksArr = (1 to 4).map(l =>
      struct(lit(l).as("look"),
        (col("d0") + expr(s"((d1 - d0) * $l) div 4")).as("cut")))
    val looks = span.select(explode(array(looksArr: _*)).as("lk"))
      .select(col("lk.look").as("look"), col("lk.cut").as("cut"))
    val userLook = ev.crossJoin(broadcast(looks))
      .filter(col("day") <= col("cut"))
      .groupBy(col("user_id"), col("look"))
      .agg(Relational.decSum(col("value")).as("x"))
      .withColumn("arm", pmod(col("user_id"), lit(2)).cast("int"))
    val stats = userLook.groupBy(col("look"))
      .agg(
        sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n0"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("arm") === 0, col("x")).cast(dec)).cast("double").as("s0"),
        sum(when(col("arm") === 1, col("x")).cast(dec)).cast("double").as("s1"),
        sum(when(col("arm") === 0, round(col("x") * col("x"), 6)).cast(dec))
          .cast("double").as("ss0"),
        sum(when(col("arm") === 1, round(col("x") * col("x"), 6)).cast(dec))
          .cast("double").as("ss1"))
      .withColumn("m0", col("s0") / col("n0").cast("double"))
      .withColumn("m1", col("s1") / col("n1").cast("double"))
      .withColumn("v0",
        (col("ss0") - col("s0") * col("s0") / col("n0").cast("double")) /
          nullif((col("n0") - lit(1)).cast("double"), lit(0.0)))
      .withColumn("v1",
        (col("ss1") - col("s1") * col("s1") / col("n1").cast("double")) /
          nullif((col("n1") - lit(1)).cast("double"), lit(0.0)))
      .withColumn("z_raw",
        (col("m1") - col("m0")) /
          nullif(sqrt(col("v0") / col("n0").cast("double") +
            col("v1") / col("n1").cast("double")), lit(0.0)))
    val boundCol = bounds.foldLeft(lit(null).cast("double")) {
      case (acc, (l, b)) => when(col("look") === l, lit(b)).otherwise(acc)
    }
    stats
      .withColumn("boundary", boundCol)
      .select(col("look"), col("n0"), col("n1"),
        (round(col("z_raw"), 6) + lit(0.0)).as("z_stat"),
        col("boundary"),
        when(col("z_raw").isNull, lit("degenerate"))
          .when(abs(col("z_raw")) > col("boundary"), lit("crossed"))
          .otherwise(lit("continue")).as("decision"))
      .orderBy(col("look"))
  }

  val obfSequentialLooksSql: String =
    """WITH ev AS (
      |  SELECT user_id, epoch_ms(ts) // 86400000 AS day, value FROM events
      |), span AS (
      |  SELECT MIN(day) AS d0, MAX(day) AS d1 FROM ev
      |), looks AS (
      |  SELECT l.l AS look, s.d0 + ((s.d1 - s.d0) * l.l) // 4 AS cut
      |  FROM generate_series(1, 4) AS l(l) CROSS JOIN span s
      |), user_look AS (
      |  SELECT e.user_id, k.look,
      |    CAST(SUM(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE) AS x,
      |    CAST(e.user_id % 2 AS INT) AS arm
      |  FROM ev e JOIN looks k ON e.day <= k.cut
      |  GROUP BY 1, 2, 4
      |), stats AS (
      |  SELECT look,
      |    SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS n0,
      |    SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS n1,
      |    CAST(SUM(CASE WHEN arm = 0 THEN CAST(x AS DECIMAL(28,6)) END)
      |      AS DOUBLE) AS s0,
      |    CAST(SUM(CASE WHEN arm = 1 THEN CAST(x AS DECIMAL(28,6)) END)
      |      AS DOUBLE) AS s1,
      |    CAST(SUM(CASE WHEN arm = 0
      |      THEN CAST(ROUND(x * x, 6) AS DECIMAL(28,6)) END) AS DOUBLE) AS ss0,
      |    CAST(SUM(CASE WHEN arm = 1
      |      THEN CAST(ROUND(x * x, 6) AS DECIMAL(28,6)) END) AS DOUBLE) AS ss1
      |  FROM user_look GROUP BY 1
      |), derived AS (
      |  SELECT look, n0, n1,
      |    (s1 / CAST(n1 AS DOUBLE) - s0 / CAST(n0 AS DOUBLE))
      |      / NULLIF(sqrt(
      |          ((ss0 - s0 * s0 / CAST(n0 AS DOUBLE))
      |            / NULLIF(CAST(n0 - 1 AS DOUBLE), 0.0)) / CAST(n0 AS DOUBLE)
      |        + ((ss1 - s1 * s1 / CAST(n1 AS DOUBLE))
      |            / NULLIF(CAST(n1 - 1 AS DOUBLE), 0.0)) / CAST(n1 AS DOUBLE)),
      |        0.0) AS z_raw,
      |    CASE look WHEN 1 THEN 4.333 WHEN 2 THEN 2.963
      |      WHEN 3 THEN 2.359 ELSE 2.014 END AS boundary
      |  FROM stats
      |)
      |SELECT look, CAST(n0 AS BIGINT) AS n0, CAST(n1 AS BIGINT) AS n1,
      |  ROUND(z_raw, 6) + 0.0 AS z_stat,
      |  boundary,
      |  CASE WHEN z_raw IS NULL THEN 'degenerate'
      |    WHEN ABS(z_raw) > boundary THEN 'crossed'
      |    ELSE 'continue' END AS decision
      |FROM derived ORDER BY look""".stripMargin

  /** q519 — SLO burn-rate alerts (the Google SRE multiwindow rule):
    * per type, the exact p95 of event value over the whole series is
    * the latency SLO threshold (so the long-run error budget is 5%
    * BY CONSTRUCTION), and the trailing 7- and 28-day windows report
    * error rate / budget = burn rate, with the standard two-window
    * decision: burn₇ > 2 AND burn₂₈ > 1 pages, burn₇ > 1 tickets.
    * q386's Wilson bounds price a proportion's uncertainty; this is
    * the alerting POLICY a latency SLO actually runs — fast-burn
    * catches cliffs, slow-burn confirms they are not blips.
    *
    * Exactness: the threshold is an exact rank-selected value
    * ((n·19 + 19) div 20, (value, event_id)-tiebroken); window
    * membership is integer day arithmetic off the corpus max day;
    * rates and burns are single divisions on integer counts, rounded
    * once; the alert compares unrounded doubles identically.
    *
    * Scale: one per-type rank window (the q42 event-grain shuffle),
    * a 1-row max-day broadcast, one conditional re-aggregate.
    */
  def sloBurnRate(spark: SparkSession, dir: String,
                  budget: Double = 0.05): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
      .select(col("event_type"), epochDayExpr.as("day"), col("value"),
        col("event_id"))
    val wRk = Window.partitionBy(col("event_type"))
      .orderBy(col("value"), col("event_id"))
    val thr = ev
      .withColumn("rn", row_number().over(wRk))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("event_type"))))
      .groupBy(col("event_type"))
      .agg(max(when(col("rn") === expr("(n * 19 + 19) div 20"), col("value")))
        .as("slo"))
    val maxDay = ev.agg(max(col("day")).as("mx"))
    ev.join(broadcast(thr), "event_type").crossJoin(broadcast(maxDay))
      .groupBy(col("event_type"), col("slo"))
      .agg(
        sum(when(col("day") > col("mx") - 7, 1L).otherwise(0L)).as("n7"),
        sum(when(col("day") > col("mx") - 7 && col("value") > col("slo"), 1L)
          .otherwise(0L)).as("e7"),
        sum(when(col("day") > col("mx") - 28, 1L).otherwise(0L)).as("n28"),
        sum(when(col("day") > col("mx") - 28 && col("value") > col("slo"), 1L)
          .otherwise(0L)).as("e28"))
      .withColumn("r7", col("e7").cast("double") /
        nullif(col("n7").cast("double"), lit(0.0)))
      .withColumn("r28", col("e28").cast("double") /
        nullif(col("n28").cast("double"), lit(0.0)))
      .withColumn("b7", col("r7") / lit(budget))
      .withColumn("b28", col("r28") / lit(budget))
      .select(col("event_type"), round(col("slo"), 6).as("slo_threshold"),
        col("n7"), col("n28"),
        round(col("r7"), 6).as("rate_7d"),
        round(col("r28"), 6).as("rate_28d"),
        round(col("b7"), 6).as("burn_7d"),
        round(col("b28"), 6).as("burn_28d"),
        when(col("b7").isNull || col("b28").isNull, lit("no_data"))
          .when(col("b7") > 2.0 && col("b28") > 1.0, lit("page"))
          .when(col("b7") > 1.0, lit("ticket"))
          .otherwise(lit("ok")).as("alert"))
      .orderBy(col("event_type"))
  }

  def sloBurnRateSql(budget: Double = 0.05): String =
    s"""WITH ev AS (
       |  SELECT event_type, epoch_ms(ts) // 86400000 AS day, value, event_id
       |  FROM events
       |), ranked AS (
       |  SELECT event_type, value,
       |    row_number() OVER (PARTITION BY event_type
       |      ORDER BY value, event_id) AS rn,
       |    COUNT(*) OVER (PARTITION BY event_type) AS n
       |  FROM ev
       |), thr AS (
       |  SELECT event_type,
       |    MAX(CASE WHEN rn = (n * 19 + 19) // 20 THEN value END) AS slo
       |  FROM ranked GROUP BY 1
       |), mx AS (
       |  SELECT MAX(day) AS mx FROM ev
       |), agg AS (
       |  SELECT e.event_type, t.slo,
       |    SUM(CASE WHEN e.day > m.mx - 7 THEN 1 ELSE 0 END) AS n7,
       |    SUM(CASE WHEN e.day > m.mx - 7 AND e.value > t.slo
       |      THEN 1 ELSE 0 END) AS e7,
       |    SUM(CASE WHEN e.day > m.mx - 28 THEN 1 ELSE 0 END) AS n28,
       |    SUM(CASE WHEN e.day > m.mx - 28 AND e.value > t.slo
       |      THEN 1 ELSE 0 END) AS e28
       |  FROM ev e JOIN thr t ON t.event_type = e.event_type
       |  CROSS JOIN mx m
       |  GROUP BY 1, 2
       |), rates AS (
       |  SELECT event_type, slo,
       |    CAST(n7 AS BIGINT) AS n7, CAST(n28 AS BIGINT) AS n28,
       |    CAST(e7 AS DOUBLE) / NULLIF(CAST(n7 AS DOUBLE), 0.0) AS r7,
       |    CAST(e28 AS DOUBLE) / NULLIF(CAST(n28 AS DOUBLE), 0.0) AS r28
       |  FROM agg
       |)
       |SELECT event_type, ROUND(slo, 6) AS slo_threshold, n7, n28,
       |  ROUND(r7, 6) AS rate_7d,
       |  ROUND(r28, 6) AS rate_28d,
       |  ROUND(r7 / $budget, 6) AS burn_7d,
       |  ROUND(r28 / $budget, 6) AS burn_28d,
       |  CASE WHEN r7 IS NULL OR r28 IS NULL THEN 'no_data'
       |    WHEN r7 / $budget > 2.0 AND r28 / $budget > 1.0 THEN 'page'
       |    WHEN r7 / $budget > 1.0 THEN 'ticket'
       |    ELSE 'ok' END AS alert
       |FROM rates ORDER BY event_type""".stripMargin

  /** q535 — Engle–Granger cointegration screen over ordered event-type
    * pairs on the shared global calendar: step 1 regresses series y on
    * series x (OLS hedge ratio β); step 2 runs the q477 Dickey–Fuller
    * regression on the RESIDUAL (Δe_t on e_{t−1}) — a strongly
    * negative DF t says the residual mean-reverts, i.e. the two
    * volume series share a common stochastic trend and their spread
    * is tradeable/monitorable as one stationary health metric. The
    * pair screen a metrics platform runs before alerting on a RATIO
    * of two metrics (a ratio of non-cointegrated series drifts and
    * pages forever).
    *
    * Exactness: daily counts are integers on the shared spine; OLS
    * moments accumulate as DECIMAL(28,6) (q102 convention); residuals
    * are one fixed double chain e = y − a − b·x evaluated identically
    * in both engines; the DF step reuses q477's exact-moment form
    * (decimal sums of 6dp-rounded residual products), one double
    * division chain, 6dp display round. Degenerate x (constant) NULLs
    * out via NULLIF. The −3.34 flag cut is the Engle–Granger 5%
    * no-trend asymptotic critical value (MacKinnon), a stricter bar
    * than the plain DF −2.86 because β was estimated.
    *
    * Scale: two calendar-bounded passes (one |types|²-per-day join
    * for the OLS moments, one windowed lag over the residual) — the
    * event stream is touched once by the daily aggregate; no
    * state grows with corpus size.
    */
  def cointegrationScreen(spark: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(28, 6)
    def dsum(c: Column): Column = sum(c.cast(dec)).cast("double")
    val daily = dailyCounts(spark, dir)
    val spine = daily.agg(min(col("day")).as("mn"), max(col("day")).as("mx"))
      .select(explode(sequence(col("mn"), col("mx"))).as("day"))
    val types = daily.select(col("event_type")).distinct()
    val dense = types.crossJoin(spine)
      .join(daily, Seq("event_type", "day"), "left")
      .select(col("event_type"), col("day"), coalesce(col("v"), lit(0L)).as("v"))
    val xy = dense.as("a").join(dense.as("b"), Seq("day"))
      .where(col("a.event_type") =!= col("b.event_type"))
      .select(col("a.event_type").as("type_x"), col("b.event_type").as("type_y"),
        col("day"), col("a.v").as("x"), col("b.v").as("y"))
      .transform(graft.Iterate.cut)
    val ols = xy.groupBy(col("type_x"), col("type_y"))
      .agg(count(lit(1)).as("n"),
        dsum(col("x")).as("sx"), dsum(col("y")).as("sy"),
        dsum(col("x") * col("x")).as("sxx"), dsum(col("x") * col("y")).as("sxy"))
      .withColumn("nD", col("n").cast("double"))
      .withColumn("beta",
        (col("sxy") - col("sx") * col("sy") / col("nD"))
          / nullif(col("sxx") - col("sx") * col("sx") / col("nD"), lit(0.0)))
      .withColumn("alpha",
        (col("sy") - col("beta") * col("sx")) / col("nD"))
      .select(col("type_x"), col("type_y"), col("n").as("n_days"),
        col("alpha"), col("beta"))
    val resid = xy.join(broadcast(ols), Seq("type_x", "type_y"))
      .select(col("type_x"), col("type_y"), col("day"), col("n_days"),
        col("alpha"), col("beta"),
        round(col("y").cast("double") - col("alpha")
          - col("beta") * col("x").cast("double"), 6).as("e"))
    val w = Window.partitionBy(col("type_x"), col("type_y")).orderBy(col("day"))
    val dfPairs = resid
      .withColumn("elag", lag(col("e"), 1).over(w))
      .filter(col("elag").isNotNull)
      .select(col("type_x"), col("type_y"), col("n_days"),
        col("alpha"), col("beta"),
        col("elag").as("u"), round(col("e") - col("elag"), 6).as("d"))
    val df = dfPairs.groupBy(col("type_x"), col("type_y"))
      .agg(max(col("n_days")).as("n_days"),
        max(col("alpha")).as("alpha"), max(col("beta")).as("beta"),
        count(lit(1)).as("m"),
        dsum(round(col("u"), 6)).as("su"),
        dsum(col("d")).as("sd"),
        dsum(round(col("u") * col("u"), 6)).as("suu"),
        dsum(round(col("u") * col("d"), 6)).as("sud"),
        dsum(round(col("d") * col("d"), 6)).as("sdd"))
      .withColumn("mD", col("m").cast("double"))
    val suuC = col("suu") - col("su") * col("su") / col("mD")
    val sudC = col("sud") - col("su") * col("sd") / col("mD")
    val sddC = col("sdd") - col("sd") * col("sd") / col("mD")
    val gamma = sudC / nullif(suuC, lit(0.0))
    val s2 = (sddC - gamma * sudC) / nullif(col("mD") - 2.0, lit(0.0))
    val tStat = gamma / nullif(sqrt(greatest(s2 / nullif(suuC, lit(0.0)),
      lit(0.0))), lit(0.0))
    df.select(col("type_x"), col("type_y"), col("n_days"),
        round(col("alpha"), 6).as("alpha"),
        round(col("beta"), 6).as("beta"),
        round(gamma, 6).as("gamma"),
        round(tStat, 6).as("df_stat"),
        when(round(tStat, 6).isNull, lit("degenerate"))
          .when(round(tStat, 6) < -3.34, lit("cointegrated"))
          .otherwise(lit("drifting")).as("verdict"))
      .orderBy(col("type_x"), col("type_y"))
  }

  val cointegrationScreenSql: String =
    s"""WITH $dailyCountsCte, spine AS (
      |  SELECT unnest(range(mn, mx + 1)) AS day
      |  FROM (SELECT MIN(day) AS mn, MAX(day) AS mx FROM daily)
      |), types AS (SELECT DISTINCT event_type FROM daily
      |), dense AS (
      |  SELECT t.event_type, s.day, COALESCE(d.v, 0) AS v
      |  FROM types t CROSS JOIN spine s
      |  LEFT JOIN daily d ON d.event_type = t.event_type AND d.day = s.day
      |), xy AS (
      |  SELECT a.event_type AS type_x, b.event_type AS type_y,
      |    a.day AS day, a.v AS x, b.v AS y
      |  FROM dense a JOIN dense b
      |    ON a.day = b.day AND a.event_type <> b.event_type
      |), ols AS (
      |  SELECT type_x, type_y, COUNT(*) AS n_days,
      |    (CAST(SUM(CAST(x * y AS DECIMAL(28,6))) AS DOUBLE)
      |       - CAST(SUM(CAST(x AS DECIMAL(28,6))) AS DOUBLE)
      |         * CAST(SUM(CAST(y AS DECIMAL(28,6))) AS DOUBLE)
      |         / CAST(COUNT(*) AS DOUBLE))
      |    / NULLIF(CAST(SUM(CAST(x * x AS DECIMAL(28,6))) AS DOUBLE)
      |       - CAST(SUM(CAST(x AS DECIMAL(28,6))) AS DOUBLE)
      |         * CAST(SUM(CAST(x AS DECIMAL(28,6))) AS DOUBLE)
      |         / CAST(COUNT(*) AS DOUBLE), 0.0) AS beta,
      |    (CAST(SUM(CAST(y AS DECIMAL(28,6))) AS DOUBLE)
      |      - ((CAST(SUM(CAST(x * y AS DECIMAL(28,6))) AS DOUBLE)
      |       - CAST(SUM(CAST(x AS DECIMAL(28,6))) AS DOUBLE)
      |         * CAST(SUM(CAST(y AS DECIMAL(28,6))) AS DOUBLE)
      |         / CAST(COUNT(*) AS DOUBLE))
      |    / NULLIF(CAST(SUM(CAST(x * x AS DECIMAL(28,6))) AS DOUBLE)
      |       - CAST(SUM(CAST(x AS DECIMAL(28,6))) AS DOUBLE)
      |         * CAST(SUM(CAST(x AS DECIMAL(28,6))) AS DOUBLE)
      |         / CAST(COUNT(*) AS DOUBLE), 0.0))
      |        * CAST(SUM(CAST(x AS DECIMAL(28,6))) AS DOUBLE))
      |      / CAST(COUNT(*) AS DOUBLE) AS alpha
      |  FROM xy GROUP BY 1, 2
      |), resid AS (
      |  SELECT xy.type_x, xy.type_y, xy.day, o.n_days, o.alpha, o.beta,
      |    ROUND(CAST(xy.y AS DOUBLE) - o.alpha
      |      - o.beta * CAST(xy.x AS DOUBLE), 6) AS e
      |  FROM xy JOIN ols o USING (type_x, type_y)
      |), dfp AS (
      |  SELECT type_x, type_y, n_days, alpha, beta,
      |    elag AS u, ROUND(e - elag, 6) AS d
      |  FROM (
      |    SELECT type_x, type_y, n_days, alpha, beta, e,
      |      LAG(e, 1) OVER (PARTITION BY type_x, type_y ORDER BY day) AS elag
      |    FROM resid
      |  ) WHERE elag IS NOT NULL
      |), mom AS (
      |  SELECT type_x, type_y,
      |    MAX(n_days) AS n_days, MAX(alpha) AS alpha, MAX(beta) AS beta,
      |    CAST(COUNT(*) AS DOUBLE) AS m,
      |    CAST(SUM(CAST(ROUND(u, 6) AS DECIMAL(28,6))) AS DOUBLE) AS su,
      |    CAST(SUM(CAST(d AS DECIMAL(28,6))) AS DOUBLE) AS sd,
      |    CAST(SUM(CAST(ROUND(u * u, 6) AS DECIMAL(28,6))) AS DOUBLE) AS suu,
      |    CAST(SUM(CAST(ROUND(u * d, 6) AS DECIMAL(28,6))) AS DOUBLE) AS sud,
      |    CAST(SUM(CAST(ROUND(d * d, 6) AS DECIMAL(28,6))) AS DOUBLE) AS sdd
      |  FROM dfp GROUP BY 1, 2
      |), scored AS (
      |  SELECT type_x, type_y, n_days, alpha, beta,
      |    (sud - su * sd / m) / NULLIF(suu - su * su / m, 0.0) AS gamma,
      |    ((sud - su * sd / m) / NULLIF(suu - su * su / m, 0.0))
      |      / NULLIF(sqrt(GREATEST(
      |          ((sdd - sd * sd / m)
      |            - ((sud - su * sd / m) / NULLIF(suu - su * su / m, 0.0))
      |              * (sud - su * sd / m)) / NULLIF(m - 2.0, 0.0)
      |          / NULLIF(suu - su * su / m, 0.0), 0.0)), 0.0) AS t_raw
      |  FROM mom
      |)
      |SELECT type_x, type_y, CAST(n_days AS BIGINT) AS n_days,
      |  ROUND(alpha, 6) AS alpha, ROUND(beta, 6) AS beta,
      |  ROUND(gamma, 6) AS gamma, ROUND(t_raw, 6) AS df_stat,
      |  CASE WHEN ROUND(t_raw, 6) IS NULL THEN 'degenerate'
      |    WHEN ROUND(t_raw, 6) < -3.34 THEN 'cointegrated'
      |    ELSE 'drifting' END AS verdict
      |FROM scored ORDER BY type_x, type_y""".stripMargin

  /** q546 — Bass diffusion fit of the adoption curve: new adopters
    * per day (first purchase) regressed on cumulative adopters via
    * Bass's DISCRETE OLS form n_t = a + b·C_{t−1} + c·C_{t−1}² —
    * linear in (a,b,c), so the fit is a closed-form 3×3 Cramer solve,
    * no nonlinear optimizer — then the structural parameters: market
    * size m from the root of c·m² + b·m + a = 0, innovation p = a/m,
    * imitation q = −c·m, and the peak-adoption time ln(q/p)/(p+q).
    * The growth-curve companion to q200's cohort LTV: LTV prices the
    * users you have, Bass forecasts how many are still coming.
    *
    * Exactness: every OLS moment (ΣC, ΣC², ΣC³, ΣC⁴, Σn, ΣnC, ΣnC²)
    * is an exact INTEGER accumulated as DECIMAL(38,0) over the dense
    * adoption-span calendar (zero-adoption days are real
    * observations and enter as rows of the span-bounded spine); the
    * Cramer determinants and the p/q/m chain are one fixed-operand-
    * order double sequence on those exact sums, mirrored verbatim,
    * rounded 6dp with NULL guards for every degenerate (det = 0,
    * c ≥ 0, negative discriminant, m ≤ 0, p or q ≤ 0).
    *
    * Scale: one first-purchase aggregate (user-keyed), one
    * span-bounded dense spine + prefix sum, a 1-row readout.
    */
  def bassDiffusion(spark: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    def isum(c: Column): Column = sum(c.cast(dec)).cast("double")
    val first = Tables.load(spark, dir, "events")
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id")).agg(min(epochDayExpr).as("d0"))
    val daily = first.groupBy(col("d0").as("day"))
      .agg(count(lit(1)).as("n"))
    val spine = daily.agg(min(col("day")).as("mn"), max(col("day")).as("mx"))
      .select(explode(sequence(col("mn"), col("mx"))).as("day"))
    val dense = spine.join(daily, Seq("day"), "left")
      .select(col("day"), coalesce(col("n"), lit(0L)).as("n"))
    val wPrev = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val withC = dense
      .withColumn("c", coalesce(sum(col("n")).over(wPrev), lit(0L)))
    val m = withC.agg(
      count(lit(1)).as("t_days"),
      isum(col("n")).as("sy"),
      isum(col("c")).as("s1"),
      isum(col("c").cast(dec) * col("c")).as("s2"),
      isum(col("c").cast(dec) * col("c") * col("c")).as("s3"),
      isum(col("c").cast(dec) * col("c") * col("c") * col("c")).as("s4"),
      isum(col("n").cast(dec) * col("c")).as("sy1"),
      isum(col("n").cast(dec) * col("c") * col("c")).as("sy2"))
      .withColumn("t", col("t_days").cast("double"))
    val det = col("t") * (col("s2") * col("s4") - col("s3") * col("s3")) -
      col("s1") * (col("s1") * col("s4") - col("s3") * col("s2")) +
      col("s2") * (col("s1") * col("s3") - col("s2") * col("s2"))
    val detA = col("sy") * (col("s2") * col("s4") - col("s3") * col("s3")) -
      col("s1") * (col("sy1") * col("s4") - col("s3") * col("sy2")) +
      col("s2") * (col("sy1") * col("s3") - col("s2") * col("sy2"))
    val detB = col("t") * (col("sy1") * col("s4") - col("s3") * col("sy2")) -
      col("sy") * (col("s1") * col("s4") - col("s3") * col("s2")) +
      col("s2") * (col("s1") * col("sy2") - col("sy1") * col("s2"))
    val detC = col("t") * (col("s2") * col("sy2") - col("s3") * col("sy1")) -
      col("s1") * (col("s1") * col("sy2") - col("sy1") * col("s2")) +
      col("sy") * (col("s1") * col("s3") - col("s2") * col("s2"))
    val scored = m
      .withColumn("a", detA / nullif(det, lit(0.0)))
      .withColumn("b", detB / nullif(det, lit(0.0)))
      .withColumn("cc", detC / nullif(det, lit(0.0)))
      .withColumn("disc", col("b") * col("b") - lit(4.0) * col("cc") * col("a"))
      .withColumn("m_raw",
        when(col("cc") < 0 && col("disc") >= 0,
          (-col("b") - sqrt(col("disc"))) / (lit(2.0) * col("cc"))))
      .withColumn("m_hat", when(col("m_raw") > 0, col("m_raw")))
      .withColumn("p_raw", col("a") / nullif(col("m_hat"), lit(0.0)))
      .withColumn("q_raw", -col("cc") * col("m_hat"))
    scored.select(
      col("t_days"), col("sy").cast("long").as("total_adopters"),
      (round(col("a"), 6) + lit(0.0)).as("a"),
      (round(col("b"), 6) + lit(0.0)).as("b"),
      (round(col("cc"), 6) + lit(0.0)).as("c"),
      round(col("m_hat"), 6).as("m_hat"),
      (round(when(col("p_raw") > 0, col("p_raw")), 6) + lit(0.0)).as("p_hat"),
      (round(when(col("q_raw") > 0, col("q_raw")), 6) + lit(0.0)).as("q_hat"),
      round(when(col("p_raw") > 0 && col("q_raw") > 0,
        log(col("q_raw") / col("p_raw")) / (col("p_raw") + col("q_raw"))), 6)
        .as("peak_t"))
  }

  val bassDiffusionSql: String =
    """WITH first_p AS (
      |  SELECT user_id, MIN(epoch_ms(ts) // 86400000) AS d0
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1
      |), daily AS (
      |  SELECT d0 AS day, CAST(COUNT(*) AS BIGINT) AS n
      |  FROM first_p GROUP BY 1
      |), spine AS (
      |  SELECT unnest(range(mn, mx + 1)) AS day
      |  FROM (SELECT MIN(day) AS mn, MAX(day) AS mx FROM daily)
      |), dense AS (
      |  SELECT s.day, COALESCE(d.n, 0) AS n
      |  FROM spine s LEFT JOIN daily d USING (day)
      |), withc AS (
      |  SELECT day, n,
      |    COALESCE(SUM(n) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED
      |      PRECEDING AND 1 PRECEDING), 0) AS c
      |  FROM dense
      |), mom AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS t_days,
      |    CAST(COUNT(*) AS DOUBLE) AS t,
      |    CAST(SUM(CAST(n AS DECIMAL(38,0))) AS DOUBLE) AS sy,
      |    CAST(SUM(CAST(c AS DECIMAL(38,0))) AS DOUBLE) AS s1,
      |    CAST(SUM(CAST(c * c AS DECIMAL(38,0))) AS DOUBLE) AS s2,
      |    CAST(SUM(CAST(c AS DECIMAL(38,0)) * c * c) AS DOUBLE) AS s3,
      |    CAST(SUM(CAST(c AS DECIMAL(38,0)) * c * c * c) AS DOUBLE) AS s4,
      |    CAST(SUM(CAST(n * c AS DECIMAL(38,0))) AS DOUBLE) AS sy1,
      |    CAST(SUM(CAST(n AS DECIMAL(38,0)) * c * c) AS DOUBLE) AS sy2
      |  FROM withc
      |), solved AS (
      |  SELECT t_days, sy,
      |    (sy * (s2 * s4 - s3 * s3) - s1 * (sy1 * s4 - s3 * sy2)
      |      + s2 * (sy1 * s3 - s2 * sy2))
      |      / NULLIF(t * (s2 * s4 - s3 * s3) - s1 * (s1 * s4 - s3 * s2)
      |        + s2 * (s1 * s3 - s2 * s2), 0.0) AS a,
      |    (t * (sy1 * s4 - s3 * sy2) - sy * (s1 * s4 - s3 * s2)
      |      + s2 * (s1 * sy2 - sy1 * s2))
      |      / NULLIF(t * (s2 * s4 - s3 * s3) - s1 * (s1 * s4 - s3 * s2)
      |        + s2 * (s1 * s3 - s2 * s2), 0.0) AS b,
      |    (t * (s2 * sy2 - s3 * sy1) - s1 * (s1 * sy2 - sy1 * s2)
      |      + sy * (s1 * s3 - s2 * s2))
      |      / NULLIF(t * (s2 * s4 - s3 * s3) - s1 * (s1 * s4 - s3 * s2)
      |        + s2 * (s1 * s3 - s2 * s2), 0.0) AS cc
      |  FROM mom
      |), rooted AS (
      |  SELECT t_days, sy, a, b, cc,
      |    CASE WHEN cc < 0 AND b * b - 4.0 * cc * a >= 0 THEN
      |      CASE WHEN (-b - sqrt(b * b - 4.0 * cc * a)) / (2.0 * cc) > 0
      |        THEN (-b - sqrt(b * b - 4.0 * cc * a)) / (2.0 * cc) END
      |    END AS m_hat
      |  FROM solved
      |), params AS (
      |  SELECT t_days, sy, a, b, cc, m_hat,
      |    a / NULLIF(m_hat, 0.0) AS p_raw,
      |    -cc * m_hat AS q_raw
      |  FROM rooted
      |)
      |SELECT t_days, CAST(sy AS BIGINT) AS total_adopters,
      |  ROUND(a, 6) + 0.0 AS a, ROUND(b, 6) + 0.0 AS b,
      |  ROUND(cc, 6) + 0.0 AS c,
      |  ROUND(m_hat, 6) AS m_hat,
      |  ROUND(CASE WHEN p_raw > 0 THEN p_raw END, 6) + 0.0 AS p_hat,
      |  ROUND(CASE WHEN q_raw > 0 THEN q_raw END, 6) + 0.0 AS q_hat,
      |  ROUND(CASE WHEN p_raw > 0 AND q_raw > 0
      |    THEN ln(q_raw / p_raw) / (p_raw + q_raw) END, 6) AS peak_t
      |FROM params""".stripMargin

  /** q548 — Erlang C staffing table: the probability an arriving
    * request waits, P_wait, and the average speed of answer for an
    * agents ladder, from the purchase arrival rate λ (events table,
    * exact count over the exact hour span) and a literal service
    * rate μ = 12/hour — the queueing deliverable behind every
    * support-staffing and capacity-planning sheet, completing the
    * operations shelf (q149 lead time → q520 safety stock → q519 SLO
    * burn → THIS: how many servers the arrival process needs).
    *
    * Exactness: the Erlang sum Σ A^k/k! is NOT computed from
    * pow/factorial (whose magnitudes explode) but by the stable
    * recurrence t_k = t_{k−1}·A/k folded in STRICT k order — Spark
    * `aggregate` over the k sequence, DuckDB `list_reduce` over the
    * same sequence with the same init — so both engines execute the
    * identical IEEE operation sequence; λ and the span are exact
    * integers, and every output is rounded once at 6dp. Unstable
    * rows (n ≤ A) surface NULL (stated in the oracle).
    *
    * Scale: one count aggregate over the fact stream; the ladder is
    * a literal 8-row frame crossed with a 1-row stats frame.
    */
  def erlangStaffing(spark: SparkSession, dir: String,
                     serviceRate: Double = 12.0,
                     maxAgents: Int = 8): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
      .filter(col("event_type") === "purchase")
      .select(epochDayExpr.as("day"))
    val stats = ev.agg(count(lit(1)).as("n_arrivals"),
        ((max(col("day")) - min(col("day")) + 1) * 24).as("span_hours"))
      .withColumn("lam",
        col("n_arrivals").cast("double") / col("span_hours").cast("double"))
      .withColumn("a_load", col("lam") / lit(serviceRate))
    val ladder = spark.range(1, maxAgents + 1L)
      .select(col("id").cast("int").as("n_agents"))
    ladder.crossJoin(broadcast(stats))
      .withColumn("fold", expr(
        """aggregate(
          |  filter(sequence(1, n_agents), k -> k < n_agents),
          |  named_struct('s', 1.0D, 't', 1.0D),
          |  (acc, k) -> named_struct(
          |    's', acc.s + acc.t * a_load / k,
          |    't', acc.t * a_load / k))""".stripMargin))
      .withColumn("tn",
        col("fold.t") * col("a_load") / col("n_agents").cast("double"))
      .withColumn("cterm",
        col("tn") * col("n_agents").cast("double")
          / nullif(col("n_agents").cast("double") - col("a_load"), lit(0.0)))
      .withColumn("p_wait",
        when(col("a_load") < col("n_agents").cast("double") && col("a_load") > 0,
          col("cterm") / (col("fold.s") + col("cterm"))))
      .withColumn("asa_min",
        col("p_wait") / nullif(col("n_agents").cast("double") * lit(serviceRate)
          - col("lam"), lit(0.0)) * lit(60.0))
      .select(col("n_agents"), col("n_arrivals"), col("span_hours"),
        round(col("lam"), 6).as("lambda_per_hour"),
        round(col("a_load"), 6).as("offered_load"),
        round(col("p_wait"), 6).as("p_wait"),
        round(col("asa_min"), 6).as("asa_minutes"))
      .orderBy(col("n_agents"))
  }

  def erlangStaffingSql(serviceRate: Double = 12.0,
                        maxAgents: Int = 8): String =
    s"""WITH arr AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_arrivals,
      |    (MAX(epoch_ms(ts) // 86400000)
      |      - MIN(epoch_ms(ts) // 86400000) + 1) * 24 AS span_hours
      |  FROM events WHERE event_type = 'purchase'
      |), stats AS (
      |  SELECT n_arrivals, span_hours,
      |    CAST(n_arrivals AS DOUBLE) / CAST(span_hours AS DOUBLE) AS lam,
      |    CAST(n_arrivals AS DOUBLE) / CAST(span_hours AS DOUBLE)
      |      / $serviceRate AS a_load
      |  FROM arr
      |), ladder AS (
      |  SELECT CAST(unnest(range(1, ${maxAgents + 1})) AS INT) AS n_agents
      |), folded AS (
      |  SELECT l.n_agents, s.n_arrivals, s.span_hours, s.lam, s.a_load,
      |    list_reduce(
      |      list_prepend([1.0, 1.0],
      |        list_transform(range(1, l.n_agents),
      |          k -> [CAST(k AS DOUBLE), 0.0])),
      |      (acc, x) -> [acc[1] + acc[2] * s.a_load / x[1],
      |                   acc[2] * s.a_load / x[1]]) AS fold
      |  FROM ladder l CROSS JOIN stats s
      |), scored AS (
      |  SELECT n_agents, n_arrivals, span_hours, lam, a_load,
      |    fold[1] AS fs,
      |    fold[2] * a_load / CAST(n_agents AS DOUBLE) AS tn
      |  FROM folded
      |), ec AS (
      |  SELECT n_agents, n_arrivals, span_hours, lam, a_load,
      |    CASE WHEN a_load < CAST(n_agents AS DOUBLE) AND a_load > 0 THEN
      |      (tn * CAST(n_agents AS DOUBLE)
      |        / NULLIF(CAST(n_agents AS DOUBLE) - a_load, 0.0))
      |      / (fs + tn * CAST(n_agents AS DOUBLE)
      |        / NULLIF(CAST(n_agents AS DOUBLE) - a_load, 0.0))
      |    END AS p_wait
      |  FROM scored
      |)
      |SELECT n_agents, n_arrivals, CAST(span_hours AS BIGINT) AS span_hours,
      |  ROUND(lam, 6) AS lambda_per_hour,
      |  ROUND(a_load, 6) AS offered_load,
      |  ROUND(p_wait, 6) AS p_wait,
      |  ROUND(p_wait / NULLIF(CAST(n_agents AS DOUBLE) * $serviceRate - lam,
      |    0.0) * 60.0, 6) AS asa_minutes
      |FROM ec ORDER BY n_agents""".stripMargin

  /** q549 — Engle's ARCH LM test per event type: does today's daily
    * VOLATILITY depend on yesterday's? Demeaned daily counts e_t, then
    * the lag-1 auxiliary regression e²_t = α + φ·e²_{t−1}; LM = m·R²
    * against the χ²(1) 5% cut 3.841. The volatility-clustering lens
    * the autocorrelation battery misses by construction: q476's
    * Ljung–Box reads correlation of LEVELS, this reads correlation of
    * SQUARES — a series can pass one and fail the other, and the
    * verdict decides whether q219-style EWMA control limits can assume
    * constant variance.
    *
    * Exactness: counts are integers on the per-type dense calendar;
    * e is one fixed double chain (v − exact-ratio mean) rounded 6dp;
    * the auxiliary regression accumulates 6dp-rounded e² products as
    * DECIMAL(28,6) (the q535 residual discipline); R², LM and the
    * verdict are one shared chain, NULLIF-guarded for constant series.
    *
    * Scale: one daily aggregate, one per-type lag window over
    * calendar-bounded frames, a |types|-row readout.
    */
  def archLmTest(spark: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(28, 6)
    def dsum(c: Column): Column = sum(c.cast(dec)).cast("double")
    val dense = denseDailyCounts(spark, dir)
    val means = dense.groupBy(col("event_type"))
      .agg(sum(col("v")).as("sv"), count(lit(1)).as("nd"))
      .withColumn("mean_v", col("sv").cast("double") / col("nd").cast("double"))
    val e2 = dense.join(broadcast(means), "event_type")
      .withColumn("e", col("v").cast("double") - col("mean_v"))
      .withColumn("e2", round(col("e") * col("e"), 6))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val pairs = e2
      .withColumn("x", lag(col("e2"), 1).over(w))
      .filter(col("x").isNotNull)
      .select(col("event_type"), col("x"), col("e2").as("y"))
    val mom = pairs.groupBy(col("event_type"))
      .agg(count(lit(1)).as("m"),
        dsum(col("x")).as("sx"), dsum(col("y")).as("sy"),
        dsum(round(col("x") * col("x"), 6)).as("sxx"),
        dsum(round(col("x") * col("y"), 6)).as("sxy"),
        dsum(round(col("y") * col("y"), 6)).as("syy"))
      .withColumn("mD", col("m").cast("double"))
    val sxxC = col("sxx") - col("sx") * col("sx") / col("mD")
    val sxyC = col("sxy") - col("sx") * col("sy") / col("mD")
    val syyC = col("syy") - col("sy") * col("sy") / col("mD")
    val r2 = sxyC * sxyC / nullif(sxxC * syyC, lit(0.0))
    val lm = col("mD") * r2
    mom.select(col("event_type"), col("m").as("n_pairs"),
        round(sxyC / nullif(sxxC, lit(0.0)), 6).as("phi"),
        round(r2, 6).as("r2"),
        round(lm, 6).as("lm_stat"),
        when(round(lm, 6).isNull, lit("degenerate"))
          .when(round(lm, 6) > 3.841, lit("arch_effect"))
          .otherwise(lit("homoskedastic")).as("verdict"))
      .orderBy(col("event_type"))
  }

  def archLmTestSql: String =
    s"""WITH $denseDailyCountsSql, means AS (
      |  SELECT event_type,
      |    CAST(SUM(v) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_v
      |  FROM dense GROUP BY 1
      |), e2t AS (
      |  SELECT d.event_type, d.day,
      |    ROUND((CAST(d.v AS DOUBLE) - m.mean_v)
      |      * (CAST(d.v AS DOUBLE) - m.mean_v), 6) AS e2
      |  FROM dense d JOIN means m USING (event_type)
      |), pairs AS (
      |  SELECT event_type, x, e2 AS y FROM (
      |    SELECT event_type, e2,
      |      LAG(e2, 1) OVER (PARTITION BY event_type ORDER BY day) AS x
      |    FROM e2t
      |  ) WHERE x IS NOT NULL
      |), mom AS (
      |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS m,
      |    CAST(COUNT(*) AS DOUBLE) AS md,
      |    CAST(SUM(CAST(x AS DECIMAL(28,6))) AS DOUBLE) AS sx,
      |    CAST(SUM(CAST(y AS DECIMAL(28,6))) AS DOUBLE) AS sy,
      |    CAST(SUM(CAST(ROUND(x * x, 6) AS DECIMAL(28,6))) AS DOUBLE) AS sxx,
      |    CAST(SUM(CAST(ROUND(x * y, 6) AS DECIMAL(28,6))) AS DOUBLE) AS sxy,
      |    CAST(SUM(CAST(ROUND(y * y, 6) AS DECIMAL(28,6))) AS DOUBLE) AS syy
      |  FROM pairs GROUP BY 1
      |), scored AS (
      |  SELECT event_type, m,
      |    (sxy - sx * sy / md) / NULLIF(sxx - sx * sx / md, 0.0) AS phi,
      |    (sxy - sx * sy / md) * (sxy - sx * sy / md)
      |      / NULLIF((sxx - sx * sx / md) * (syy - sy * sy / md), 0.0) AS r2,
      |    md * ((sxy - sx * sy / md) * (sxy - sx * sy / md)
      |      / NULLIF((sxx - sx * sx / md) * (syy - sy * sy / md), 0.0)) AS lm
      |  FROM mom
      |)
      |SELECT event_type, m AS n_pairs,
      |  ROUND(phi, 6) AS phi, ROUND(r2, 6) AS r2, ROUND(lm, 6) AS lm_stat,
      |  CASE WHEN ROUND(lm, 6) IS NULL THEN 'degenerate'
      |    WHEN ROUND(lm, 6) > 3.841 THEN 'arch_effect'
      |    ELSE 'homoskedastic' END AS verdict
      |FROM scored ORDER BY event_type""".stripMargin

  /** q550 — Hampel identifier over each type's daily series: a
    * centered 7-day window's MEDIAN and MAD replace the rolling
    * mean/σ, flagging days with |v − med| > 3·1.4826·MAD — the
    * robust anomaly screen that a single spike cannot blind (a
    * rolling z-score inflates its own σ and misses the very outlier
    * it sits on; the MAD window does not). Full windows only (the
    * centered-MA convention), per-type counts plus the worst day.
    *
    * Exactness: window medians are exact rank picks from the sorted
    * 7-element window array (odd window ⇒ no interpolation); MAD is
    * the exact median of integer |v − med·2|/2-style halves — all
    * arithmetic stays on exact integer-or-half values until the one
    * 6dp-rounded score; flag counts are integers.
    *
    * Scale: one per-type ordered window (calendar-bounded frames)
    * carrying a 7-element array per row — no self-joins; |types|-row
    * readout.
    */
  def hampelScreen(spark: SparkSession, dir: String,
                   k: Double = 3.0): DataFrame = {
    val dense = denseDailyCounts(spark, dir)
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(-3, 3)
    val windowed = dense
      .withColumn("win", collect_list(col("v")).over(w))
      .filter(size(col("win")) === 7)
      .withColumn("med", expr("CAST(array_sort(win)[3] AS DOUBLE)"))
      .withColumn("madw", expr(
        """CAST(array_sort(transform(win,
          |  x -> abs(x - CAST(array_sort(win)[3] AS DOUBLE))))[3]
          |  AS DOUBLE)""".stripMargin))
      .withColumn("score",
        round(abs(col("v").cast("double") - col("med"))
          / nullif(lit(1.4826) * col("madw"), lit(0.0)), 6))
      .withColumn("flagged",
        when(col("score") > k, 1L).otherwise(0L))
    windowed.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
        sum(col("flagged")).as("n_flagged"),
        max(struct(coalesce(col("score"), lit(0.0)).as("s"),
          col("day").as("d"))).as("worst"))
      .select(col("event_type"), col("n_days"), col("n_flagged"),
        round(col("n_flagged").cast("double")
          / col("n_days").cast("double"), 6).as("flag_rate"),
        col("worst.d").as("worst_day"),
        col("worst.s").as("worst_score"))
      .orderBy(col("event_type"))
  }

  def hampelScreenSql(k: Double = 3.0): String =
    s"""WITH $denseDailyCountsSql, windowed AS (
      |  SELECT event_type, day, v,
      |    list(v) OVER (PARTITION BY event_type ORDER BY day
      |      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS win
      |  FROM dense
      |), full_w AS (
      |  SELECT event_type, day, v,
      |    CAST(list_sort(win)[4] AS DOUBLE) AS med,
      |    CAST(list_sort(list_transform(win,
      |      x -> abs(x - CAST(list_sort(win)[4] AS DOUBLE))))[4]
      |      AS DOUBLE) AS madw
      |  FROM windowed WHERE len(win) = 7
      |), scored AS (
      |  SELECT event_type, day,
      |    ROUND(abs(CAST(v AS DOUBLE) - med)
      |      / NULLIF(1.4826 * madw, 0.0), 6) AS score
      |  FROM full_w
      |)
      |, agg AS (
      |  SELECT event_type,
      |    CAST(COUNT(*) AS BIGINT) AS n_days,
      |    CAST(SUM(CASE WHEN score > $k THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_flagged,
      |    MAX({'s': COALESCE(score, 0.0), 'd': day}) AS worst
      |  FROM scored GROUP BY event_type
      |)
      |SELECT event_type, n_days, n_flagged,
      |  ROUND(CAST(n_flagged AS DOUBLE) / CAST(n_days AS DOUBLE), 6)
      |    AS flag_rate,
      |  worst.d AS worst_day,
      |  worst.s AS worst_score
      |FROM agg
      |ORDER BY event_type""".stripMargin

  /** q553 — Allan variance (two-sample variance) of the daily arrival
    * series per averaging time τ ∈ {1, 2, 4, 8} days: bin the dense
    * day spine into consecutive FULL τ-day windows, AVAR(τ) =
    * Σ (ȳ_{i+1} − ȳ_i)² / (2(M−1)) over the M bin means, ADEV = √.
    * The clock-metrology stability statistic the battery lacks: a
    * classical variance answers "how much does the rate wander",
    * Allan answers "over WHICH horizon does averaging stop helping" —
    * white noise falls as 1/τ, drift RISES with τ, and the τ where the
    * curve turns is the longest useful smoothing window for q372-style
    * rate baselines. Hurst (q468) measures long memory of the same
    * series; Allan is the noise-floor dial instrument engineers read.
    *
    * Exactness: bin means enter as exact integer bin SUMS —
    * (ȳ_{i+1} − ȳ_i)² = (S_{i+1} − S_i)²/τ², so Σ diff² accumulates as
    * exact DECIMAL(38,0) and ONE double division by 2(M−1)τ² ends the
    * chain, mirrored operand-for-operand; zero-arrival days are real
    * 0 rows of the dense spine; full windows only (the trailing
    * partial bin is dropped on both engines by the d = τ count check).
    *
    * Scale: one day-grain pre-aggregate (the only data-sized shuffle),
    * then a calendar-bounded spine (span × 4 τ rows) — bins, lead and
    * the final fold all run on O(span) rows regardless of corpus size.
    */
  def allanVariance(spark: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val daily = Tables.load(spark, dir, "events")
      .groupBy(epochDayExpr.as("day")).agg(count(lit(1)).as("n"))
    val spine = daily.agg(min(col("day")).as("mn"), max(col("day")).as("mx"))
      .select(col("mn"), explode(sequence(col("mn"), col("mx"))).as("day"))
    val dense = spine.join(daily, Seq("day"), "left")
      .select(col("mn"), col("day"), coalesce(col("n"), lit(0L)).as("n"))
    val taus = spark.range(4)
      .select(expr("shiftleft(1L, cast(id as int))").as("tau"))
    val bins = dense.crossJoin(broadcast(taus))
      .withColumn("bin", expr("(day - mn) div tau"))
      .groupBy(col("tau"), col("bin"))
      .agg(sum(col("n")).as("s"), count(lit(1)).as("d"))
      .filter(col("d") === col("tau")) // full windows only
    val wNext = Window.partitionBy(col("tau")).orderBy(col("bin"))
    val diffs = bins
      .withColumn("df", lead(col("s"), 1).over(wNext) - col("s"))
    diffs.groupBy(col("tau"))
      .agg(count(lit(1)).as("m_bins"),
        sum((col("df").cast(dec) * col("df"))).cast("double").as("sumsq"))
      .select(col("tau"), col("m_bins"),
        round(col("sumsq") / nullif(
          lit(2.0) * (col("m_bins") - 1) * col("tau") * col("tau"),
          lit(0.0)), 6).as("avar"),
        round(sqrt(col("sumsq") / nullif(
          lit(2.0) * (col("m_bins") - 1) * col("tau") * col("tau"),
          lit(0.0))), 6).as("adev"))
      .orderBy(col("tau"))
  }

  val allanVarianceSql: String =
    """WITH daily AS (
      |  SELECT epoch_ms(ts) // 86400000 AS day, COUNT(*) AS n
      |  FROM events GROUP BY 1
      |), bounds AS (
      |  SELECT MIN(day) AS mn, MAX(day) AS mx FROM daily
      |), spine AS (
      |  SELECT mn, unnest(generate_series(mn, mx)) AS day FROM bounds
      |), dense AS (
      |  SELECT s.mn, s.day, COALESCE(d.n, 0) AS n
      |  FROM spine s LEFT JOIN daily d USING (day)
      |), taus AS (
      |  SELECT unnest([1, 2, 4, 8]) AS tau
      |), bins AS (
      |  SELECT tau, (day - mn) // tau AS bin, SUM(n) AS s, COUNT(*) AS d
      |  FROM dense CROSS JOIN taus
      |  GROUP BY 1, 2 HAVING COUNT(*) = tau
      |), diffs AS (
      |  SELECT tau, bin,
      |    lead(s) OVER (PARTITION BY tau ORDER BY bin) - s AS df
      |  FROM bins
      |), agg AS (
      |  SELECT tau, COUNT(*) AS m_bins,
      |    CAST(SUM(CAST(df AS DECIMAL(38,0)) * df) AS DOUBLE) AS sumsq
      |  FROM diffs GROUP BY tau
      |)
      |SELECT CAST(tau AS BIGINT) AS tau,
      |  CAST(m_bins AS BIGINT) AS m_bins,
      |  ROUND(sumsq / NULLIF(2.0 * (m_bins - 1) * tau * tau, 0.0), 6)
      |    AS avar,
      |  ROUND(sqrt(sumsq / NULLIF(2.0 * (m_bins - 1) * tau * tau, 0.0)), 6)
      |    AS adev
      |FROM agg ORDER BY tau""".stripMargin
}
