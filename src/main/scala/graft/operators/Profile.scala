package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Table profiling (ANALYZE-style column statistics): one output row
  * per column with row/null/distinct counts and min/max rendered as
  * strings — the inspection pass a curation pipeline runs before and
  * after every transformation batch.
  *
  * Shape: ONE aggregate over ONE scan computes every column's stats
  * (Catalyst plans the multi-count-distinct via a single Expand —
  * the table is read once, expanded x#cols for the distinct counts),
  * then a `stack` unpivots the 1-row aggregate into per-column rows.
  * Exact COUNT(DISTINCT) keeps the result oracle-checkable (the q42
  * precedent); the 100 TB path swaps it for approx_count_distinct's
  * HLL sketch — same single-pass shape without the Expand multiplier
  * — at which point the profile is a pure map-side aggregate.
  *
  * min/max are computed in the column's native type (string casts
  * compare lexicographically — wrong for numbers) and only rendered
  * as varchar afterward. Columns here are BIGINT/VARCHAR; rendering
  * doubles would need an explicit format for cross-engine parity.
  */
object Profile {

  val documentColumns: Seq[String] = Seq("doc_id", "text", "lang", "source", "n_chars")

  /** q70 — column statistics for `documents`, one row per column. */
  def profileDocuments(spark: SparkSession, dir: String): DataFrame =
    profileCore(Tables.load(spark, dir, "documents"), documentColumns)

  /** Frame-parameterized core: stats for the named columns. */
  def profileCore(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = count(lit(1)).as("n_rows") +: cols.flatMap { c =>
      Seq(
        (count(lit(1)) - count(col(c))).as(s"${c}__nulls"),
        countDistinct(col(c)).as(s"${c}__distinct"),
        min(col(c)).cast("string").as(s"${c}__min"),
        max(col(c)).cast("string").as(s"${c}__max"))
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val stackArgs = cols.map { c =>
      s"'$c', n_rows, `${c}__nulls`, `${c}__distinct`, `${c}__min`, `${c}__max`"
    }.mkString(", ")
    one.selectExpr(
      s"stack(${cols.size}, $stackArgs) AS (col_name, n_rows, n_nulls, n_distinct, min_val, max_val)")
      .orderBy(col("col_name"))
  }

  val profileDocumentsSql: String =
    documentColumns.map { c =>
      s"""SELECT '$c' AS col_name, COUNT(*) AS n_rows,
        |  COUNT(*) - COUNT($c) AS n_nulls,
        |  COUNT(DISTINCT $c) AS n_distinct,
        |  CAST(MIN($c) AS VARCHAR) AS min_val,
        |  CAST(MAX($c) AS VARCHAR) AS max_val
        |FROM documents""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY col_name")

  /** q101 — referential-integrity audit over the orders⋈lineitem FK:
    * the post-migration validation pass (the check the reference's
    * per-batch error logging, migrate.ts:66-69, substitutes for).
    * One (check, value) row per invariant: row counts, orphan children
    * (FK without parent), childless parents, duplicate PKs, null FKs,
    * and an order-independent XOR content checksum of the key column
    * on each side — bit_xor never overflows and commutes, so it is
    * partial-aggregation-safe AND identical across engines, where a
    * SUM of hashes would overflow BIGINT at large row counts (and
    * wrap differently per engine).
    *
    * Scale: the orphan/childless checks are anti-joins on the FK
    * (shuffle or broadcast as Catalyst picks); everything else is a
    * map-side-combinable aggregate. Output is O(1) rows.
    */
  def refIntegrity(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.load(spark, dir, "orders")
    val li = Tables.load(spark, dir, "lineitem")
    val orphans = li.join(orders, li("l_orderkey") === orders("o_orderkey"),
      "left_anti")
    val childless = orders.join(li, orders("o_orderkey") === li("l_orderkey"),
      "left_anti")
    def row(name: String, df: DataFrame): DataFrame =
      df.select(lit(name).as("check"), col("value"))
    row("childless_orders", childless.agg(count(lit(1)).as("value")))
      .unionByName(row("dup_orderkeys", orders.agg(
        (count(lit(1)) - countDistinct(col("o_orderkey"))).as("value"))))
      .unionByName(row("lineitem_key_xor",
        li.select(graft.functions.PortableHash.md5Long32(col("l_orderkey")).as("v"))
          .agg(expr("bit_xor(v)").as("value"))))
      .unionByName(row("lineitem_rows", li.agg(count(lit(1)).as("value"))))
      .unionByName(row("null_fk_lineitems", li.agg(
        (count(lit(1)) - count(col("l_orderkey"))).as("value"))))
      .unionByName(row("orders_key_xor",
        orders.select(graft.functions.PortableHash.md5Long32(col("o_orderkey")).as("v"))
          .agg(expr("bit_xor(v)").as("value"))))
      .unionByName(row("orders_rows", orders.agg(count(lit(1)).as("value"))))
      .unionByName(row("orphan_lineitems", orphans.agg(count(lit(1)).as("value"))))
      .orderBy(col("check"))
  }

  val refIntegritySql: String =
    """SELECT check_name AS "check", value FROM (
      |  SELECT 'childless_orders' AS check_name, COUNT(*) AS value
      |  FROM orders o WHERE NOT EXISTS
      |    (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)
      |  UNION ALL
      |  SELECT 'dup_orderkeys', COUNT(*) - COUNT(DISTINCT o_orderkey) FROM orders
      |  UNION ALL
      |  SELECT 'lineitem_key_xor', BIT_XOR(
      |    CAST(('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 8)) AS BIGINT))
      |  FROM lineitem
      |  UNION ALL
      |  SELECT 'lineitem_rows', COUNT(*) FROM lineitem
      |  UNION ALL
      |  SELECT 'null_fk_lineitems', COUNT(*) - COUNT(l_orderkey) FROM lineitem
      |  UNION ALL
      |  SELECT 'orders_key_xor', BIT_XOR(
      |    CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8)) AS BIGINT))
      |  FROM orders
      |  UNION ALL
      |  SELECT 'orders_rows', COUNT(*) FROM orders
      |  UNION ALL
      |  SELECT 'orphan_lineitems', COUNT(*)
      |  FROM lineitem l WHERE NOT EXISTS
      |    (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
      |)
      |ORDER BY check_name""".stripMargin

  /** q127 — Benford first-digit audit of order totals: the observed
    * leading-digit distribution against Benford's log10(1 + 1/d)
    * expectation — the classic fabricated-or-truncated-data screen
    * for financial columns (hand-entered, capped, or synthetic-uniform
    * amounts bend the curve visibly).
    *
    * Digit extraction is floor(x / 10^floor(log10(x))) on positive
    * amounts — log10/power/floor are the graded-portable doubles (F3
    * precedent); shares round at 6dp (denominators here cannot land
    * on a 6dp half — see the spec's boundary note). Scale: one
    * digit-keyed aggregate with map-side combine; nine rows out.
    */
  def benfordAudit(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.load(spark, dir, "orders")
      .filter(col("o_totalprice") > 0)
    val digits = orders.withColumn("digit",
      floor(col("o_totalprice") /
        pow(lit(10.0), floor(log10(col("o_totalprice"))))).cast("int"))
    val counts = digits.groupBy(col("digit")).agg(count(lit(1)).as("n"))
    val total = counts.agg(sum(col("n")).as("total"))
    counts.crossJoin(broadcast(total))
      .select(col("digit"), col("n"),
        round(col("n").cast("double") / col("total"), 6).as("obs_share"),
        round(log10(lit(1.0) + lit(1.0) / col("digit")), 6).as("benford_share"))
      .withColumn("delta", round(col("obs_share") - col("benford_share"), 6))
      .orderBy(col("digit"))
  }

  val benfordAuditSql: String =
    """WITH d AS (
      |  SELECT CAST(FLOOR(o_totalprice / POWER(10, FLOOR(log10(o_totalprice))))
      |    AS INT) AS digit
      |  FROM orders WHERE o_totalprice > 0
      |), counts AS (
      |  SELECT digit, COUNT(*) AS n FROM d GROUP BY digit
      |), t AS (
      |  SELECT CAST(SUM(n) AS BIGINT) AS total FROM counts
      |)
      |SELECT digit, n,
      |  ROUND(CAST(n AS DOUBLE) / total, 6) AS obs_share,
      |  ROUND(log10(CAST(1.0 AS DOUBLE) + CAST(1.0 AS DOUBLE) / digit), 6) AS benford_share,
      |  ROUND(ROUND(CAST(n AS DOUBLE) / total, 6)
      |    - ROUND(log10(CAST(1.0 AS DOUBLE) + CAST(1.0 AS DOUBLE) / digit), 6), 6) AS delta
      |FROM counts CROSS JOIN t
      |ORDER BY digit""".stripMargin

  /** q124 — corpus drift report (PSI): the documents table split into
    * its EARLY and LATE halves by doc_id (the ingestion-order proxy),
    * then for each monitored dimension — lang, source, length bin —
    * the population stability index between the halves:
    * Σ (p_late − p_early) · log10(p_late / p_early) over the
    * dimension's buckets. THE ml-ops drift gauge: a feed whose
    * language or length mix shifted mid-ingestion lights up one
    * dimension; stable feeds sit near 0.
    *
    * Exactness: shares are Laplace-smoothed exact rationals
    * ((c + 1)/(n + k) — also what keeps empty buckets finite), the
    * log10 is the graded-portable one (F3/q03 precedent), and each
    * PSI term is rounded to 6dp before the decimal sum (q103). The
    * bucket universe is the FULL corpus's, so both halves smooth over
    * identical k.
    *
    * Scale: one bounds aggregate broadcast back, one (dimension,
    * bucket, half) count with map-side combine, and per-dimension
    * aggregates over bucket-cardinality rows.
    */
  def driftReport(spark: SparkSession, dir: String,
                  lengthBin: Int = 256): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(18, 6)
    val docs = Tables.load(spark, dir, "documents")
    val bounds = docs.agg(min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx"))
    val tagged = docs.crossJoin(broadcast(bounds))
      .withColumn("late", (col("doc_id") * 2 > col("mn") + col("mx")).cast("int"))
      .select(col("late"),
        explode(array(
          struct(lit("lang").as("dim"), col("lang").as("bucket")),
          struct(lit("source").as("dim"), col("source").as("bucket")),
          struct(lit("length").as("dim"),
            concat(lit("b"), expr(s"n_chars div $lengthBin")).as("bucket")))).as("db"))
      .select(col("late"), col("db.dim").as("dim"), col("db.bucket").as("bucket"))
    val cells = tagged.groupBy(col("dim"), col("bucket"))
      .agg(sum(lit(1) - col("late")).as("c_early"),
        sum(col("late")).as("c_late"))
    val dims = cells.groupBy(col("dim"))
      .agg(count(lit(1)).as("k"),
        sum(col("c_early")).as("n_early"),
        sum(col("c_late")).as("n_late"))
    val pE = (col("c_early") + 1).cast("double") / (col("n_early") + col("k"))
    val pL = (col("c_late") + 1).cast("double") / (col("n_late") + col("k"))
    cells.join(broadcast(dims), "dim")
      .select(col("dim"),
        round((pL - pE) * log10(pL / pE), 6).as("term"))
      .groupBy(col("dim"))
      .agg(count(lit(1)).as("n_buckets"),
        round(sum(col("term").cast(dec)).cast("double"), 6).as("psi"))
      .orderBy(col("dim"))
  }

  def driftReportSql(lengthBin: Int = 256): String =
    s"""WITH bounds AS (
      |  SELECT MIN(doc_id) AS mn, MAX(doc_id) AS mx FROM documents
      |), tagged AS (
      |  SELECT CASE WHEN doc_id * 2 > mn + mx THEN 1 ELSE 0 END AS late,
      |    dim, bucket
      |  FROM documents CROSS JOIN bounds
      |  CROSS JOIN LATERAL (VALUES
      |    ('lang', lang), ('source', source),
      |    ('length', 'b' || CAST(n_chars // $lengthBin AS VARCHAR))) AS t(dim, bucket)
      |), cells AS (
      |  SELECT dim, bucket,
      |    SUM(1 - late) AS c_early, SUM(late) AS c_late
      |  FROM tagged GROUP BY dim, bucket
      |), dims AS (
      |  SELECT dim, COUNT(*) AS k,
      |    SUM(c_early) AS n_early, SUM(c_late) AS n_late
      |  FROM cells GROUP BY dim
      |), terms AS (
      |  SELECT cells.dim,
      |    ROUND((CAST(c_late + 1 AS DOUBLE) / (n_late + k)
      |        - CAST(c_early + 1 AS DOUBLE) / (n_early + k))
      |      * log10((CAST(c_late + 1 AS DOUBLE) / (n_late + k))
      |        / (CAST(c_early + 1 AS DOUBLE) / (n_early + k))), 6) AS term
      |  FROM cells JOIN dims ON cells.dim = dims.dim
      |)
      |SELECT dim, COUNT(*) AS n_buckets,
      |  ROUND(CAST(SUM(CAST(term AS DECIMAL(18,6))) AS DOUBLE), 6) AS psi
      |FROM terms GROUP BY dim ORDER BY dim""".stripMargin

  /** q130 — pairwise Jensen–Shannon divergence between the unigram
    * token distributions of every source pair: the corpus-similarity
    * matrix behind mixture design ("are these two crawls actually the
    * same distribution?") and dedup-scope decisions. q124's PSI
    * compares two fixed ingestion halves; this compares every source
    * against every other on token content.
    *
    * Identity used (base-10 logs): because each source distribution
    * sums to 1, the out-of-intersection mass contributes exactly
    * log10(2)/2 per side, so
    * `JSD(P,Q) = log10(2) + Σ_{common tokens} [ −m·log10(m)
    *   + (p/2)·log10(p/2) + (q/2)·log10(q/2) ]`, m = (p+q)/2.
    * Only the token INTERSECTION is ever joined — no full-outer union
    * per pair, no per-pair vocabulary materialization.
    *
    * Exactness: p and q are correctly-rounded quotients of exact
    * counts, identical in both engines; each summand is rounded to 6dp
    * and summed as DECIMAL(18,6) (order-independent — the q102/q124
    * convention), so the 190-pair matrix is bit-identical.
    *
    * A pair sharing NO tokens never reaches the inner join and is
    * absent from the output — an absent row means maximal divergence
    * (JSD = log10 2), same contract in both engines.
    *
    * Scale: one token-keyed count, a tiny per-source total broadcast,
    * one self-join shuffled by token (each token's row group is
    * |sources touching it|² — bounded by #sources², not corpus size),
    * one (pair)-keyed reduce. At 100 TB with a 10M-token vocabulary
    * this is a vocabulary-sized join, not a corpus-sized one; df-style
    * caps (drop tokens in every source) apply if #sources grows.
    */
  def sourceJsd(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions
    val docs = Tables.load(spark, dir, "documents")
    val counts = docs
      .select(col("source"), explode(TextFunctions.tokens(col("text"))).as("tok"))
      .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("c"))
    val totals = counts.groupBy(col("source")).agg(sum(col("c")).as("t"))
    val dist = counts.join(broadcast(totals), "source")
    val a = dist.select(col("source").as("source_a"), col("tok"),
      col("c").as("ca"), col("t").as("ta"))
    val b = dist.select(col("source").as("source_b"), col("tok"),
      col("c").as("cb"), col("t").as("tb"))
    val p = col("ca").cast("double") / col("ta")
    val q = col("cb").cast("double") / col("tb")
    val m = (p + q) / lit(2)
    val term = round(
      (m * log10(m)) * lit(-1)
        + (p / lit(2)) * log10(p / lit(2))
        + (q / lit(2)) * log10(q / lit(2)), 6)
    a.join(b, "tok").filter(col("source_a") < col("source_b"))
      .select(col("source_a"), col("source_b"), term.as("term"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_common"),
        Relational.decSum(col("term")).as("s"))
      .select(col("source_a"), col("source_b"), col("n_common"),
        round(col("s") + lit(0.30103), 6).as("jsd"))
      .orderBy(col("source_a"), col("source_b"))
  }

  val sourceJsdSql: String =
    """WITH tok AS (
      |  SELECT source, unnest(list_filter(
      |    string_split_regex(lower(text), '\s+'), t -> t <> '')) AS tok
      |  FROM documents
      |), cnt AS (
      |  SELECT source, tok, COUNT(*) AS c FROM tok GROUP BY 1, 2
      |), tot AS (
      |  SELECT source, SUM(c) AS t FROM cnt GROUP BY 1
      |), d AS (
      |  SELECT cnt.source, tok, c, t FROM cnt JOIN tot USING (source)
      |), j AS (
      |  SELECT a.source AS source_a, b.source AS source_b,
      |    CAST(a.c AS DOUBLE) / CAST(a.t AS BIGINT) AS p,
      |    CAST(b.c AS DOUBLE) / CAST(b.t AS BIGINT) AS q
      |  FROM d a JOIN d b ON a.tok = b.tok AND a.source < b.source
      |), terms AS (
      |  SELECT source_a, source_b,
      |    ROUND(-(((p + q) / 2) * log10((p + q) / 2))
      |      + (p / 2) * log10(p / 2) + (q / 2) * log10(q / 2), 6) AS term
      |  FROM j
      |)
      |SELECT source_a, source_b, CAST(COUNT(*) AS BIGINT) AS n_common,
      |  ROUND(CAST(SUM(CAST(term AS DECIMAL(18, 6))) AS DOUBLE) + 0.30103, 6) AS jsd
      |FROM terms GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** q143 — numeric correlation matrix: Pearson r for every pair of
    * lineitem measures, computed from sufficient statistics in ONE
    * scan — the ANALYZE-style companion to q70's per-column profile
    * ("discount tracks quantity" is a join-free fact a curation or
    * pricing pipeline wants before modeling).
    *
    * Exactness AND speed: the measures are exact 2dp decimals, so
    * every value scales to an EXACT integer (`round(100c)` — the
    * q107 scaled-integer discipline), per-row products are exact
    * int64s (≤ ~10¹⁴), and sums accumulate in DECIMAL(38,0) —
    * overflow-safe at any corpus size, long-backed adds ~5× faster
    * than the round-then-DECIMAL(18,6) path (no per-row BigDecimal).
    * Pearson is scale-invariant, so the 100² factors cancel and the
    * closed form is unchanged. One aggregate computes all 4+4+6 sums;
    * the matrix rows are an exploded array of per-pair structs over
    * that single row (a union of per-pair selects would re-plan the
    * scan+aggregate once per pair) — one scan, no shuffle beyond the
    * partial+final aggregate.
    */
  def corrMatrix(spark: SparkSession, dir: String,
                 cols: Seq[String] = Seq("l_quantity", "l_extendedprice",
                   "l_discount", "l_tax")): DataFrame = {
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    def dsum(c: org.apache.spark.sql.Column) = sum(c.cast(dec38)).cast("double")
    val li = Tables.load(spark, dir, "lineitem")
      .select(cols.map(c => round(col(c) * 100).cast("long").as(c)): _*)
    val aggs = Seq(count(lit(1)).cast("double").as("n")) ++
      cols.map(c => dsum(col(c)).as(s"s_$c")) ++
      cols.map(c => dsum(col(c) * col(c)).as(s"ss_$c")) ++
      cols.combinations(2).map { case Seq(a, b) =>
        dsum(col(a) * col(b)).as(s"sp_${a}_$b")
      }.toSeq
    val stats = li.agg(aggs.head, aggs.tail: _*)
    // one struct per pair, exploded over the single stats row: a
    // union of stats.select(...) branches would re-plan the whole
    // scan+aggregate per pair (6 lineitem scans for 4 columns)
    val pairStructs = cols.combinations(2).map { case Seq(a, b) =>
      struct(
        lit(a).as("col_a"), lit(b).as("col_b"),
        round((col("n") * col(s"sp_${a}_$b") - col(s"s_$a") * col(s"s_$b"))
          / nullif(sqrt(col("n") * col(s"ss_$a") - col(s"s_$a") * col(s"s_$a"))
            * sqrt(col("n") * col(s"ss_$b") - col(s"s_$b") * col(s"s_$b")),
            lit(0.0)), 6).as("pearson_r"))
    }.toSeq
    stats.select(explode(array(pairStructs: _*)).as("pair"))
      .select(col("pair.col_a"), col("pair.col_b"), col("pair.pearson_r"))
      .orderBy(col("col_a"), col("col_b"))
  }

  def corrMatrixSql(cols: Seq[String] = Seq("l_quantity", "l_extendedprice",
                      "l_discount", "l_tax")): String = {
    def d(expr: String) =
      s"CAST(SUM(CAST($expr AS DECIMAL(38,0))) AS DOUBLE)"
    val scaled = cols.map(c =>
      s"CAST(ROUND($c * 100) AS BIGINT) AS $c").mkString(", ")
    val sums =
      (cols.map(c => s"${d(c)} AS s_$c") ++
        cols.map(c => s"${d(s"$c * $c")} AS ss_$c") ++
        cols.combinations(2).map { case Seq(a, b) =>
          s"${d(s"$a * $b")} AS sp_${a}_$b"
        }).mkString(",\n      |    ")
    val rows = cols.combinations(2).map { case Seq(a, b) =>
      s"""SELECT '$a' AS col_a, '$b' AS col_b,
         |    ROUND((n * sp_${a}_$b - s_$a * s_$b)
         |      / NULLIF(sqrt(n * ss_$a - s_$a * s_$a)
         |          * sqrt(n * ss_$b - s_$b * s_$b), 0.0), 6) AS pearson_r
         |  FROM stats""".stripMargin
    }.mkString("\n      |  UNION ALL\n      |  ")
    s"""WITH scaled AS (
      |  SELECT $scaled FROM lineitem
      |), stats AS (
      |  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
      |    $sums
      |  FROM scaled
      |)
      |SELECT * FROM (
      |  $rows
      |)
      |ORDER BY col_a, col_b""".stripMargin
  }

  /** q147 — revenue concentration (Pareto/Lorenz table): customers
    * ranked into spend deciles, with each decile's headcount, spend,
    * and CUMULATIVE revenue share — the "do 10% of customers carry
    * 60% of revenue" relation behind account-tiering and the q105
    * fair-share quotas. q133 compresses concentration to one Gini
    * number for tokens; this keeps the whole curve, for money.
    *
    * Exactness: deciles are NTILE over a fully-tiebroken (spend,
    * custkey) ordering; spend sums accumulate in DECIMAL(18,6) and
    * the cumulative share divides two decimal-exact doubles once per
    * decile row. Scale: one customer-keyed aggregate, a 10-row window
    * — the ranking window is customer-sized, the report is 10 rows.
    */
  def revenueConcentration(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spend = Tables.load(spark, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(Relational.decSum(col("o_totalprice")).as("spend"))
    val ranked = spend.withColumn("decile",
      ntile(10).over(Window.orderBy(col("spend"), col("o_custkey"))))
    val cells = ranked.groupBy(col("decile"))
      .agg(count(lit(1)).as("n_customers"),
        round(sum(col("spend").cast(
          org.apache.spark.sql.types.DecimalType(18, 6))).cast("double"), 6)
          .as("decile_spend"))
    val total = cells.agg(sum(col("decile_spend").cast(
      org.apache.spark.sql.types.DecimalType(18, 6))).cast("double").as("total_spend"))
    val wCum = Window.orderBy(col("decile"))
      .rowsBetween(Window.unboundedPreceding, 0)
    cells.crossJoin(broadcast(total))
      .withColumn("cum_spend", round(sum(col("decile_spend").cast(
        org.apache.spark.sql.types.DecimalType(18, 6))).over(wCum)
        .cast("double"), 6))
      .select(col("decile"), col("n_customers"), col("decile_spend"),
        round(col("cum_spend") / col("total_spend"), 6).as("cum_share"))
      .orderBy(col("decile"))
  }

  val revenueConcentrationSql: String =
    """WITH spend AS (
      |  SELECT o_custkey,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS spend
      |  FROM orders GROUP BY o_custkey
      |), ranked AS (
      |  SELECT o_custkey, spend,
      |    NTILE(10) OVER (ORDER BY spend, o_custkey) AS decile
      |  FROM spend
      |), cells AS (
      |  SELECT decile, COUNT(*) AS n_customers,
      |    ROUND(CAST(SUM(CAST(spend AS DECIMAL(18,6))) AS DOUBLE), 6)
      |      AS decile_spend
      |  FROM ranked GROUP BY decile
      |), tot AS (
      |  SELECT CAST(SUM(CAST(decile_spend AS DECIMAL(18,6))) AS DOUBLE)
      |    AS total_spend FROM cells
      |)
      |SELECT decile, n_customers, decile_spend,
      |  ROUND(ROUND(CAST(SUM(CAST(decile_spend AS DECIMAL(18,6))) OVER
      |      (ORDER BY decile ROWS UNBOUNDED PRECEDING) AS DOUBLE), 6)
      |    / total_spend, 6) AS cum_share
      |FROM cells CROSS JOIN tot
      |ORDER BY decile""".stripMargin

  /** q133 — per-source token concentration: Gini coefficient of each
    * source's token-frequency distribution plus the top-10-token mass
    * share. A boilerplate-heavy or template-generated source
    * concentrates its mass in few tokens (Gini → 1); a diverse crawl
    * spreads it (Gini → 0). The scalar twin of q113's Zipf fit — one
    * number per source to threshold on, not a regression to read.
    *
    * Gini over counts c₁ ≤ … ≤ cₙ (ascending, ties broken by token —
    * Σ i·cᵢ is tie-order invariant, the tiebreak is only for engine
    * determinism): `G = 2·Σ i·cᵢ / (n·Σcᵢ) − (n+1)/n`. All sums are
    * exact BIGINTs; the two divisions happen once, on identical
    * doubles, rounded at 6dp.
    *
    * Scale: one token-keyed count, then ONE window pass partitioned by
    * source computing both the ascending rank (for Gini) and the
    * descending rank (for the top-10 share) in the same sort, then a
    * source-keyed reduce. The window is vocabulary-sized per source,
    * not corpus-sized.
    */
  def tokenGini(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.TextFunctions
    val docs = Tables.load(spark, dir, "documents")
    val counts = docs
      .select(col("source"), explode(TextFunctions.tokens(col("text"))).as("tok"))
      .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("c"))
    val wAsc = Window.partitionBy(col("source")).orderBy(col("c"), col("tok"))
    val wDesc = Window.partitionBy(col("source"))
      .orderBy(col("c").desc, col("tok"))
    counts
      .withColumn("i", row_number().over(wAsc))
      .withColumn("r", row_number().over(wDesc))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_vocab"),
        sum(col("c")).as("n_tokens"),
        sum(col("i") * col("c")).as("s_rank"),
        sum(when(col("r") <= 10, col("c")).otherwise(0L)).as("top10"))
      .select(col("source"), col("n_vocab"), col("n_tokens"),
        round((col("s_rank") * 2).cast("double")
            / (col("n_vocab") * col("n_tokens"))
          - (col("n_vocab") + lit(1)).cast("double") / col("n_vocab"), 6)
          .as("gini"),
        round(col("top10").cast("double") / col("n_tokens"), 6)
          .as("top10_share"))
      .orderBy(col("source"))
  }

  val tokenGiniSql: String =
    """WITH cnt AS (
      |  SELECT source, tok, COUNT(*) AS c FROM (
      |    SELECT source, unnest(list_filter(
      |      string_split_regex(lower(text), '\s+'), t -> t <> '')) AS tok
      |    FROM documents
      |  ) GROUP BY 1, 2
      |), ranked AS (
      |  SELECT source, c,
      |    row_number() OVER (PARTITION BY source ORDER BY c, tok) AS i,
      |    row_number() OVER (PARTITION BY source ORDER BY c DESC, tok) AS r
      |  FROM cnt
      |)
      |SELECT source,
      |  CAST(COUNT(*) AS BIGINT) AS n_vocab,
      |  CAST(SUM(c) AS BIGINT) AS n_tokens,
      |  ROUND(CAST(2 * CAST(SUM(i * c) AS BIGINT) AS DOUBLE)
      |      / (COUNT(*) * CAST(SUM(c) AS BIGINT))
      |    - CAST(COUNT(*) + 1 AS DOUBLE) / COUNT(*), 6) AS gini,
      |  ROUND(CAST(SUM(CASE WHEN r <= 10 THEN c ELSE 0 END) AS DOUBLE)
      |    / CAST(SUM(c) AS BIGINT), 6) AS top10_share
      |FROM ranked GROUP BY source ORDER BY source""".stripMargin

  /** Poisson(1) inverse-CDF thresholds: P(X ≤ k) = e⁻¹ Σ_{j≤k} 1/j!.
    * A uniform u maps to the first k with u < threshold(k); weights
    * are capped at 8 (P(X > 8) ≈ 1.1e-6 — the truncation bias is far
    * below the 6dp output rounding). LITERAL doubles so both engines
    * compare against bit-identical constants.
    */
  private val PoissonCdf: Seq[Double] = {
    val inv_e = math.exp(-1.0)
    val fact = Seq(1L, 1L, 2L, 6L, 24L, 120L, 720L, 5040L, 40320L)
    (0 to 8).map(k => inv_e * fact.take(k + 1).map(1.0 / _).sum)
  }

  /** q154 — Poisson-bootstrap confidence intervals for mean document
    * length per source. THE scale-correct bootstrap: classic
    * resampling draws n rows with replacement B times (B full
    * shuffles of a 100 TB corpus); the Poisson approximation gives
    * each row an independent Poisson(1) replicate weight, so all B
    * replicates ride ONE scan as a ×B explode into a (source,
    * replicate) aggregate with map-side combine. The interval is the
    * p10/p90 rank selection over the B replicate means (an 80%
    * percentile-bootstrap CI; rank selection, not interpolation, per
    * the q42 convention).
    *
    * Determinism: the uniform is portable-md5(doc|b) / 2³², exactly
    * representable (32-bit integer over a power of two), compared
    * against literal CDF thresholds; per-replicate sums are integer
    * (weight × n_chars), divided once per (source, replicate).
    */
  def bootstrapCi(spark: SparkSession, dir: String, reps: Int = 32): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("source"), col("n_chars"))
    val u = graft.functions.PortableHash.md5Long32(
      concat(col("doc_id").cast("string"), lit("|"), col("b").cast("string")))
      .cast("double") / lit(4294967296.0)
    val wExpr = PoissonCdf.zipWithIndex.foldRight(lit(8): org.apache.spark.sql.Column) {
      case ((thr, k), rest) => when(col("u") < thr, k).otherwise(rest)
    }
    val repMeans = docs
      .withColumn("b", explode(sequence(lit(0), lit(reps - 1))))
      .withColumn("u", u)
      .withColumn("w", wExpr)
      .groupBy(col("source"), col("b"))
      .agg(sum(col("w") * col("n_chars")).as("ws"), sum(col("w")).as("wn"))
      .withColumn("mean_b",
        round(col("ws").cast("double") / nullif(col("wn"), lit(0L)), 6))
    val wAsc = Window.partitionBy(col("source")).orderBy(col("mean_b"), col("b"))
    val exact = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        round(sum(col("n_chars")).cast("double") / count(lit(1)), 6)
          .as("mean_len"))
    repMeans
      .withColumn("rn", row_number().over(wAsc))
      .groupBy(col("source"))
      .agg(
        max(when(col("rn") === (reps + 9) / 10, col("mean_b"))).as("ci_lo"),
        max(when(col("rn") === (9 * reps + 9) / 10, col("mean_b"))).as("ci_hi"))
      .join(exact, Seq("source"))
      .select(col("source"), col("n_docs"), col("mean_len"),
        col("ci_lo"), col("ci_hi"))
      .orderBy(col("source"))
  }

  def bootstrapCiSql(reps: Int = 32): String = {
    val caseChain = PoissonCdf.zipWithIndex
      .map { case (thr, k) => s"WHEN u < $thr THEN $k" }
      .mkString("CASE ", " ", " ELSE 8 END")
    s"""WITH rep AS (
      |  SELECT d.source, b.b, d.n_chars,
      |    CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || '|'
      |      || CAST(b.b AS VARCHAR)), 1, 8)) AS BIGINT) / 4294967296.0 AS u
      |  FROM documents d
      |  CROSS JOIN (SELECT unnest(range(0, $reps)) AS b) b
      |), means AS (
      |  SELECT source, b,
      |    ROUND(CAST(SUM(w * n_chars) AS DOUBLE)
      |      / NULLIF(CAST(SUM(w) AS BIGINT), 0), 6) AS mean_b
      |  FROM (SELECT source, b, n_chars, $caseChain AS w FROM rep)
      |  GROUP BY source, b
      |), ranked AS (
      |  SELECT source, b, mean_b,
      |    row_number() OVER (PARTITION BY source ORDER BY mean_b, b) AS rn
      |  FROM means
      |), ci AS (
      |  SELECT source,
      |    MAX(CASE WHEN rn = ($reps + 9) // 10 THEN mean_b END) AS ci_lo,
      |    MAX(CASE WHEN rn = (9 * $reps + 9) // 10 THEN mean_b END) AS ci_hi
      |  FROM ranked GROUP BY source
      |), exact AS (
      |  SELECT source, COUNT(*) AS n_docs,
      |    ROUND(CAST(SUM(n_chars) AS DOUBLE) / COUNT(*), 6) AS mean_len
      |  FROM documents GROUP BY source
      |)
      |SELECT ci.source, exact.n_docs, exact.mean_len, ci.ci_lo, ci.ci_hi
      |FROM ci JOIN exact ON ci.source = exact.source
      |ORDER BY ci.source""".stripMargin
  }

  /** q155 — join-key skew profile: for each frequently-joined key
    * column, the top-`topK` hottest values with their absolute count,
    * share of rows, and ratio to the uniform per-key share — the
    * exact report that decides whether a 100 TB join needs salting /
    * AQE skew handling before it runs, turned into a graded relation.
    *
    * Shape: one count aggregate per profiled key (map-side combined),
    * a catalog-sized (N, D) roll-up broadcast back, and a
    * literal-bounded per-key-name top-k window. The branches scan
    * their tables independently — profiling is per-column by nature.
    */
  def keySkewProfile(spark: SparkSession, dir: String, topK: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def branch(table: String, key: String): DataFrame =
      Tables.load(spark, dir, table)
        .groupBy(col(key).as("key_value"))
        .agg(count(lit(1)).as("cnt"))
        .select(lit(s"$table.$key").as("key_name"), col("key_value"), col("cnt"))
    val counts = Seq(
      branch("lineitem", "l_partkey"),
      branch("lineitem", "l_suppkey"),
      branch("events", "user_id")).reduce(_ unionByName _)
    val totals = counts.groupBy(col("key_name"))
      .agg(sum(col("cnt")).as("n_rows"), count(lit(1)).as("n_keys"))
    val w = Window.partitionBy(col("key_name"))
      .orderBy(col("cnt").desc, col("key_value"))
    counts
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .join(broadcast(totals), Seq("key_name"))
      .select(col("key_name"), col("rank"), col("key_value"), col("cnt"),
        round(col("cnt").cast("double") / col("n_rows"), 6).as("share"),
        round(col("cnt").cast("double") * col("n_keys") / col("n_rows"), 6)
          .as("skew_ratio"))
      .orderBy(col("key_name"), col("rank"))
  }

  def keySkewProfileSql(topK: Int = 5): String =
    s"""WITH counts AS (
      |  SELECT 'lineitem.l_partkey' AS key_name, l_partkey AS key_value,
      |    COUNT(*) AS cnt FROM lineitem GROUP BY 2
      |  UNION ALL
      |  SELECT 'lineitem.l_suppkey', l_suppkey, COUNT(*)
      |  FROM lineitem GROUP BY 2
      |  UNION ALL
      |  SELECT 'events.user_id', user_id, COUNT(*) FROM events GROUP BY 2
      |), totals AS (
      |  SELECT key_name, CAST(SUM(cnt) AS BIGINT) AS n_rows,
      |    COUNT(*) AS n_keys
      |  FROM counts GROUP BY key_name
      |), ranked AS (
      |  SELECT key_name, key_value, cnt,
      |    CAST(row_number() OVER (PARTITION BY key_name
      |      ORDER BY cnt DESC, key_value) AS INT) AS rank
      |  FROM counts
      |)
      |SELECT r.key_name, r.rank, r.key_value, r.cnt,
      |  ROUND(CAST(r.cnt AS DOUBLE) / t.n_rows, 6) AS share,
      |  ROUND(CAST(r.cnt AS DOUBLE) * t.n_keys / t.n_rows, 6) AS skew_ratio
      |FROM ranked r JOIN totals t ON r.key_name = t.key_name
      |WHERE r.rank <= $topK
      |ORDER BY r.key_name, r.rank""".stripMargin

  /** q165 — join-cardinality estimation report: for each candidate
    * equi-join, the EXACT output cardinality Σ_k c_left(k)·c_right(k)
    * computed from per-key counts (never by materializing the join),
    * next to a key-synchronized sampled estimate (keep a key iff
    * md5(key) mod `rate` = 0, on BOTH sides, scale the product sum by
    * `rate`) and its relative error. This is the planner's question —
    * "how big is this join going to be?" — answered as a relation: the
    * report a pipeline consults before picking broadcast vs shuffle vs
    * pre-aggregation, and an audit of how well key-sampled estimation
    * tracks truth on real key distributions.
    *
    * Key-synchronized sampling matters: sampling ROWS independently on
    * each side biases E[ĉ] away from the true product sum; sampling
    * KEYS keeps each key's full c_l·c_r product with probability
    * 1/rate, so the scaled sum is unbiased with variance driven by the
    * product-sum's skew (exactly what the report's rel_err column
    * exposes). Correlated (key-synchronized) sampling for join size
    * estimation is the standard planner technique for exactly this
    * reason.
    *
    * Scale: per join = two map-side-combined per-key count aggregates
    * + one count-table join on the key (co-partitioned, key-sized
    * inputs, never row-sized); the sampled estimate rides the SAME
    * joined frame as one conditional sum — zero extra passes. At
    * 100 TB the sketch path pushes the key filter below the count
    * aggregate (hash-filter scan, rate× less aggregate state).
    */
  def joinCardinality(spark: SparkSession, dir: String,
                      rate: Int = 16): DataFrame = {
    def candidate(name: String, lt: String, lk: String,
                  rt: String, rk: String): DataFrame = {
      val lc = Tables.load(spark, dir, lt).groupBy(col(lk).as("k"))
        .agg(count(lit(1)).as("c_l"))
      val rc = Tables.load(spark, dir, rt).groupBy(col(rk).as("k"))
        .agg(count(lit(1)).as("c_r"))
      lc.join(rc, "k")
        .withColumn("prod", col("c_l") * col("c_r"))
        .withColumn("sampled",
          Curation.md5Bucket(col("k")) % rate === 0)
        .agg(
          sum(col("c_l")).as("n_left"),
          sum(col("c_r")).as("n_right"),
          sum(col("prod")).as("exact_rows"),
          (coalesce(sum(when(col("sampled"), col("prod"))), lit(0L)) * rate)
            .as("est_rows"))
        .select(lit(name).as("join_name"), col("n_left"), col("n_right"),
          col("exact_rows"), col("est_rows"),
          round(abs(col("est_rows") - col("exact_rows")).cast("double") /
            col("exact_rows"), 6).as("rel_err"))
    }
    Seq(
      candidate("customer_orders", "customer", "c_custkey",
        "orders", "o_custkey"),
      candidate("orders_lineitem", "orders", "o_orderkey",
        "lineitem", "l_orderkey"),
      candidate("part_lineitem", "part", "p_partkey",
        "lineitem", "l_partkey"))
      .reduce(_ unionByName _)
      .orderBy(col("join_name"))
  }

  def joinCardinalitySql(rate: Int = 16): String = {
    def candidate(name: String, lt: String, lk: String,
                  rt: String, rk: String): String =
      s"""SELECT '$name' AS join_name,
         |  CAST(SUM(c_l) AS BIGINT) AS n_left,
         |  CAST(SUM(c_r) AS BIGINT) AS n_right,
         |  CAST(SUM(c_l * c_r) AS BIGINT) AS exact_rows,
         |  CAST(COALESCE(SUM(CASE WHEN
         |      CAST(('0x' || substr(md5(CAST(k AS VARCHAR)), 1, 8))
         |        AS BIGINT) % $rate = 0
         |      THEN c_l * c_r END), 0) * $rate AS BIGINT) AS est_rows,
         |  ROUND(CAST(ABS(COALESCE(SUM(CASE WHEN
         |      CAST(('0x' || substr(md5(CAST(k AS VARCHAR)), 1, 8))
         |        AS BIGINT) % $rate = 0
         |      THEN c_l * c_r END), 0) * $rate - SUM(c_l * c_r)) AS DOUBLE)
         |    / SUM(c_l * c_r), 6) AS rel_err
         |FROM (
         |  SELECT l.k, l.c_l, r.c_r FROM
         |    (SELECT $lk AS k, COUNT(*) AS c_l FROM $lt GROUP BY 1) l
         |    JOIN
         |    (SELECT $rk AS k, COUNT(*) AS c_r FROM $rt GROUP BY 1) r
         |    ON l.k = r.k
         |)""".stripMargin
    Seq(
      candidate("customer_orders", "customer", "c_custkey",
        "orders", "o_custkey"),
      candidate("orders_lineitem", "orders", "o_orderkey",
        "lineitem", "l_orderkey"),
      candidate("part_lineitem", "part", "p_partkey",
        "lineitem", "l_partkey"))
      .mkString("SELECT * FROM (\n", "\nUNION ALL\n",
        "\n)\nORDER BY join_name")
  }

  /** q167 — sample-ratio-mismatch (SRM) audit: hash-split the users
    * who performed each event type into `k` equal-allocation variants
    * (`md5(user_id) mod k` — the deterministic bucketing an experiment
    * platform actually uses) and test the realized split against the
    * uniform expectation with a chi-square statistic. SRM is the
    * canonical experiment-health check: a significant chi2 means the
    * assignment or logging pipeline is biased and every downstream
    * readout (q156's CUPED included) is suspect.
    *
    * chi2 = Σ_v (obs_v − n/k)² / (n/k) over all k variants —
    * INCLUDING variants that received zero users (an absent variant is
    * the loudest possible mismatch, so the variant domain is generated
    * with `explode(sequence(...))`, never inferred from the data).
    * df = k−1; at k = 4 the 0.05 critical value is 7.814728.
    *
    * Engine parity: each variant's term is rounded to 6dp and summed
    * as DECIMAL(28,6) (the q56/q103 convention) so the k-term sum is
    * order-independent and bit-identical across engines.
    *
    * Scale: one distinct-(event_type, user) aggregate (map-side
    * combinable), one k-row-per-type count, one window over ≤ k rows
    * per type. No data-sized shuffle beyond the distinct; the variant
    * domain join is a generated literal, not a scan.
    */
  def srmAudit(spark: SparkSession, dir: String, k: Int = 4): DataFrame = {
    val crit = 7.814728 // chi2(df=3, 0.05); callers changing k re-derive
    require(k == 4, "critical value is pinned for k = 4")
    val users = Tables.load(spark, dir, "events")
      .select(col("event_type"), col("user_id")).distinct()
      .withColumn("variant",
        pmod(graft.functions.PortableHash.md5Long32(col("user_id")), lit(k)))
    val counts = users.groupBy("event_type", "variant")
      .agg(count(lit(1)).as("obs"))
    val domain = users.select("event_type").distinct()
      .select(col("event_type"),
        explode(sequence(lit(0), lit(k - 1))).as("variant"))
    val full = domain.join(counts, Seq("event_type", "variant"), "left")
      .withColumn("obs", coalesce(col("obs"), lit(0L)))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("event_type")
    full
      .withColumn("n_users", sum(col("obs")).over(w))
      .withColumn("exp", col("n_users").cast("double") / k)
      .withColumn("term",
        round(pow(col("obs") - col("exp"), 2) / col("exp"), 6)
          .cast(org.apache.spark.sql.types.DecimalType(28, 6)))
      .groupBy(col("event_type"))
      .agg(max(col("n_users")).as("n_users"),
        min(col("obs")).as("min_variant"),
        max(col("obs")).as("max_variant"),
        sum(col("term")).cast("double").as("chi2"))
      .withColumn("srm_flag", col("chi2") > crit)
      .orderBy(col("event_type"))
  }

  def srmAuditSql(k: Int = 4): String =
    s"""WITH users AS (
       |  SELECT DISTINCT event_type, user_id,
       |    CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
       |      AS BIGINT) % $k AS variant
       |  FROM events
       |), counts AS (
       |  SELECT event_type, variant, COUNT(*) AS obs
       |  FROM users GROUP BY 1, 2
       |), domain AS (
       |  SELECT DISTINCT event_type FROM events
       |), full_grid AS (
       |  SELECT d.event_type, v.variant, COALESCE(c.obs, 0) AS obs
       |  FROM domain d
       |  CROSS JOIN (SELECT unnest(generate_series(0, ${k - 1})) AS variant) v
       |  LEFT JOIN counts c
       |    ON c.event_type = d.event_type AND c.variant = v.variant
       |), terms AS (
       |  SELECT event_type, obs,
       |    SUM(obs) OVER (PARTITION BY event_type) AS n_users,
       |    CAST(ROUND(
       |      POW(obs - SUM(obs) OVER (PARTITION BY event_type) / $k.0, 2)
       |        / (SUM(obs) OVER (PARTITION BY event_type) / $k.0),
       |      6) AS DECIMAL(28,6)) AS term
       |  FROM full_grid
       |)
       |SELECT event_type,
       |  CAST(MAX(n_users) AS BIGINT) AS n_users,
       |  CAST(MIN(obs) AS BIGINT) AS min_variant,
       |  CAST(MAX(obs) AS BIGINT) AS max_variant,
       |  CAST(SUM(term) AS DOUBLE) AS chi2,
       |  CAST(SUM(term) AS DOUBLE) > 7.814728 AS srm_flag
       |FROM terms
       |GROUP BY event_type
       |ORDER BY event_type""".stripMargin

  /** q311 — Wald SPRT (sequential probability ratio test) readout per
    * event type: users enter in first-seen order as Bernoulli trials
    * (success = the user repeats the event, n ≥ 2), and the
    * log-likelihood ratio for H1: p = p1 vs H0: p = p0 is monitored
    * against the Wald boundaries ±ln((1−β)/α). The relation reports
    * where the experiment WOULD have stopped (first boundary-crossing
    * trial and its decision) versus the fixed-horizon readout — the
    * sequential-testing companion to q179's fixed-n power analysis:
    * a team running always-on metric monitors stops at the crossing,
    * paying a fraction of the fixed-horizon sample.
    *
    * Exactness: the LLR at trial t is computed in CLOSED FORM
    * s_t·ln(p1/p0) + f_t·ln((1−p1)/(1−p0)) from exact cumulative
    * integer counts — a per-row two-multiply expression, not a
    * floating running sum, so it is order-independent and
    * bit-identical across engines; only the reported final LLR is
    * rounded. Scale: one (type, user) aggregate, then one window per
    * event type bounded by the experiment's user count — the
    * monitoring ORDER is inherent to sequential testing, and each
    * experiment's timeline sorts within its own key, never globally.
    */
  def sprtReadout(spark: SparkSession, dir: String,
                  p0: Double = 0.3, p1: Double = 0.4): DataFrame = {
    val incS = log(lit(p1) / lit(p0))
    val incF = log((lit(1.0) - lit(p1)) / (lit(1.0) - lit(p0)))
    val bound = log(lit(19.0)) // (1-β)/α at α = β = 0.05
    val trials = Tables.load(spark, dir, "events")
      .groupBy(col("event_type"), col("user_id"))
      .agg(min(col("ts")).as("first_ts"), count(lit(1)).as("n_ev"))
      .withColumn("success", (col("n_ev") >= 2).cast("long"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type"))
      .orderBy(col("first_ts"), col("user_id"))
    val walked = trials
      .withColumn("t", row_number().over(w).cast("long"))
      .withColumn("s_t", sum(col("success")).over(w))
      .withColumn("llr",
        col("s_t").cast("double") * incS +
          (col("t") - col("s_t")).cast("double") * incF)
      .withColumn("crossed",
        when(col("llr") > bound, lit(1))
          .when(col("llr") < -bound, lit(-1)).otherwise(lit(0)))
    walked.groupBy(col("event_type"))
      .agg(
        max(col("t")).as("n_trials"),
        max(col("s_t")).as("n_success"),
        round(max(struct(col("t"), col("llr"))).getField("llr"), 6)
          .as("llr_final"),
        min(when(col("crossed") =!= 0, col("t"))).as("fc"),
        min(when(col("crossed") =!= 0, struct(col("t"), col("crossed"))))
          .getField("crossed").as("fdir"))
      .select(col("event_type"), col("n_trials"), col("n_success"),
        col("llr_final"),
        coalesce(col("fc"), lit(-1L)).as("first_cross"),
        when(col("fdir").isNull, "continue")
          .when(col("fdir") === 1, "accept_h1")
          .otherwise("accept_h0").as("decision"))
      .orderBy(col("event_type"))
  }

  def sprtReadoutSql(p0: Double = 0.3, p1: Double = 0.4): String =
    s"""WITH trials AS (
       |  SELECT event_type, user_id, MIN(ts) AS first_ts,
       |    CASE WHEN COUNT(*) >= 2 THEN 1 ELSE 0 END AS success
       |  FROM events GROUP BY 1, 2
       |), walked AS (
       |  SELECT event_type,
       |    CAST(row_number() OVER w AS BIGINT) AS t,
       |    CAST(SUM(success) OVER w AS BIGINT) AS s_t
       |  FROM trials
       |  WINDOW w AS (PARTITION BY event_type ORDER BY first_ts, user_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |), llrs AS (
       |  SELECT event_type, t, s_t,
       |    CAST(s_t AS DOUBLE) * ln($p1 / $p0) +
       |      CAST(t - s_t AS DOUBLE) * ln((1.0 - $p1) / (1.0 - $p0)) AS llr
       |  FROM walked
       |), flagged AS (
       |  SELECT event_type, t, s_t, llr,
       |    CASE WHEN llr > ln(19.0) THEN 1
       |         WHEN llr < -ln(19.0) THEN -1 ELSE 0 END AS crossed
       |  FROM llrs
       |)
       |SELECT event_type,
       |  MAX(t) AS n_trials,
       |  MAX(s_t) AS n_success,
       |  ROUND(arg_max(llr, t), 6) AS llr_final,
       |  COALESCE(MIN(t) FILTER (WHERE crossed <> 0), -1) AS first_cross,
       |  CASE
       |    WHEN COUNT(*) FILTER (WHERE crossed <> 0) = 0 THEN 'continue'
       |    WHEN arg_min(crossed, t) FILTER (WHERE crossed <> 0) = 1
       |      THEN 'accept_h1'
       |    ELSE 'accept_h0'
       |  END AS decision
       |FROM flagged
       |GROUP BY event_type
       |ORDER BY event_type""".stripMargin

  /** q336 — standardized-residual heatmap for (order weekday ×
    * priority): the cell-level drill-down behind the chi²/Cramér's V
    * aggregates (q188/q332) — each cell's Pearson residual
    * (obs − exp)/√exp says WHICH weekday-priority combinations drive
    * an association and in which direction (|r| > 2 ≈ cell-level
    * significance), the table an analyst actually reads after the
    * omnibus test fires.
    *
    * Exactness: counts and margins integer; exp and the residual are
    * one shared double chain, rounded 6dp. Scale: one day-grain
    * aggregate, windows over the 7×|priorities| grid.
    */
  def residualHeatmap(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cells = Tables.load(spark, dir, "orders")
      .select(dayofweek(col("o_orderdate")).as("dow"),
        col("o_orderpriority").as("priority"))
      .groupBy(col("dow"), col("priority"))
      .agg(count(lit(1)).as("obs"))
    cells
      .withColumn("rm", sum(col("obs")).over(Window.partitionBy(col("dow"))))
      .withColumn("cm", sum(col("obs")).over(
        Window.partitionBy(col("priority"))))
      .withColumn("n", sum(col("obs")).over(Window.partitionBy(lit(1))))
      .withColumn("exp",
        (col("rm") * col("cm")).cast("double") / col("n").cast("double"))
      .select(col("dow"), col("priority"), col("obs"),
        round(col("exp"), 6).as("expected"),
        round((col("obs") - col("exp")) / sqrt(col("exp")), 6)
          .as("std_residual"),
        (abs((col("obs") - col("exp")) / sqrt(col("exp"))) > 2.0)
          .as("notable"))
      .orderBy(col("dow"), col("priority"))
  }

  val residualHeatmapSql: String =
    """WITH cells AS (
      |  SELECT dayofweek(o_orderdate) + 1 AS dow, o_orderpriority AS priority,
      |    CAST(COUNT(*) AS BIGINT) AS obs
      |  FROM orders GROUP BY 1, 2
      |), m AS (
      |  SELECT dow, priority, obs,
      |    SUM(obs) OVER (PARTITION BY dow) AS rm,
      |    SUM(obs) OVER (PARTITION BY priority) AS cm,
      |    SUM(obs) OVER () AS n
      |  FROM cells
      |)
      |SELECT dow, priority, obs,
      |  ROUND(CAST(rm * cm AS DOUBLE) / CAST(n AS DOUBLE), 6) AS expected,
      |  ROUND((obs - CAST(rm * cm AS DOUBLE) / CAST(n AS DOUBLE))
      |    / sqrt(CAST(rm * cm AS DOUBLE) / CAST(n AS DOUBLE)), 6)
      |    AS std_residual,
      |  ABS((obs - CAST(rm * cm AS DOUBLE) / CAST(n AS DOUBLE))
      |    / sqrt(CAST(rm * cm AS DOUBLE) / CAST(n AS DOUBLE))) > 2.0
      |    AS notable
      |FROM m
      |ORDER BY dow, priority""".stripMargin

  /** Lineitem's flags joined to their order's status and priority,
    * at lineitem grain. */
  private def lineFlags(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_returnflag"), col("l_linestatus"))
      .join(Tables.load(spark, dir, "orders")
          .select(col("o_orderkey").as("l_orderkey"),
            col("o_orderstatus"), col("o_orderpriority")),
        "l_orderkey")

  /** The categorical column pairs the association matrices score. */
  private val flagPairs = Seq(
    ("l_returnflag", "l_linestatus"),
    ("o_orderstatus", "o_orderpriority"),
    ("o_orderpriority", "l_returnflag"))

  /** q332 — Cramér's V association matrix for the categorical
    * columns: the pairs among (l_returnflag, l_linestatus,
    * o_orderstatus, o_orderpriority) — at lineitem grain, so the
    * values compare on one population — tested for independence
    * (chi², q188's machinery)
    * and NORMALIZED to V = √(χ²/(n·(min(r,c)−1))) — the [0,1]
    * effect-size that makes associations comparable across pairs
    * with different cardinalities, the categorical twin of q323's
    * Cohen's d (significance says "not independent"; V says "how
    * far from it"). One relation = the full matrix a feature-
    * selection or leakage screen reads.
    *
    * Exactness: cell/margin counts are integers; each χ² term rounds
    * to 6dp and sums as DECIMAL(28,6) (the q167 convention); V is one
    * more double chain. Scale: per pair, one cell aggregate over the
    * same scan and windows over the ≤ r·c cell grid.
    */
  def cramersMatrix(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dec = org.apache.spark.sql.types.DecimalType(28, 6)
    // all pairs evaluated at LINEITEM grain (order attributes repeat
    // per line) so the three V values are comparable on one population
    val li = lineFlags(spark, dir)
    val per = flagPairs.map { case (a, b) =>
      val cells = li.groupBy(col(a).as("va"), col(b).as("vb"))
        .agg(count(lit(1)).as("c"))
      val wA = Window.partitionBy(col("va"))
      val wB = Window.partitionBy(col("vb"))
      val wAll = Window.partitionBy(lit(1))
      cells
        .withColumn("ra", sum(col("c")).over(wA))
        .withColumn("cb", sum(col("c")).over(wB))
        .withColumn("n", sum(col("c")).over(wAll))
        .withColumn("exp",
          (col("ra") * col("cb")).cast("double") / col("n").cast("double"))
        .withColumn("term",
          round(pow(col("c") - col("exp"), 2) / col("exp"), 6).cast(dec))
        .agg(
          lit(a).as("col_a"), lit(b).as("col_b"),
          max(col("n")).as("n"),
          countDistinct(col("va")).cast("int").as("card_a"),
          countDistinct(col("vb")).cast("int").as("card_b"),
          sum(col("term")).cast("double").as("chi2"))
        .select(col("col_a"), col("col_b"), col("n"), col("card_a"),
          col("card_b"), round(col("chi2"), 6).as("chi2"),
          round(sqrt(col("chi2") /
            (col("n") * (least(col("card_a"), col("card_b")) - 1))
              .cast("double")), 6).as("cramers_v"))
    }
    per.reduce(_ unionByName _).orderBy(col("col_a"), col("col_b"))
  }

  val cramersMatrixSql: String = {
    def one(a: String, b: String): String =
      s"""SELECT '$a' AS col_a, '$b' AS col_b,
         |  CAST(MAX(n) AS BIGINT) AS n,
         |  CAST(COUNT(DISTINCT va) AS INT) AS card_a,
         |  CAST(COUNT(DISTINCT vb) AS INT) AS card_b,
         |  ROUND(CAST(SUM(term) AS DOUBLE), 6) AS chi2,
         |  ROUND(sqrt(CAST(SUM(term) AS DOUBLE) /
         |    CAST(MAX(n) * (LEAST(COUNT(DISTINCT va), COUNT(DISTINCT vb)) - 1)
         |      AS DOUBLE)), 6) AS cramers_v
         |FROM (
         |  SELECT va, vb, n,
         |    CAST(ROUND(POW(c - CAST(ra * cb AS DOUBLE) / n, 2)
         |      / (CAST(ra * cb AS DOUBLE) / n), 6) AS DECIMAL(28,6)) AS term
         |  FROM (
         |    SELECT va, vb, c,
         |      SUM(c) OVER (PARTITION BY va) AS ra,
         |      SUM(c) OVER (PARTITION BY vb) AS cb,
         |      SUM(c) OVER () AS n
         |    FROM (SELECT $a AS va, $b AS vb, COUNT(*) AS c
         |          FROM lineitem l JOIN orders o
         |            ON o.o_orderkey = l.l_orderkey
         |          GROUP BY 1, 2)))""".stripMargin
    s"""${one("l_returnflag", "l_linestatus")}
       |UNION ALL
       |${one("o_orderstatus", "o_orderpriority")}
       |UNION ALL
       |${one("o_orderpriority", "l_returnflag")}
       |ORDER BY col_a, col_b""".stripMargin
  }

  /** q323 — effect-size table for the event-value metric: Cohen's d
    * (pooled-SD standardized mean difference) and the small-sample-
    * corrected Hedges' g for every event-type pair — the magnitude
    * companion the significance battery (q238 Mann–Whitney, q264
    * ANOVA → q284 Tukey) deliberately doesn't report: at corpus n a
    * microscopic shift is "significant", and d is the number that
    * says whether anyone should care. Reported with both group means
    * so the sign is interpretable.
    *
    * Exactness: group sums accumulate value and round(v², 6) as
    * DECIMAL (the q102 power-sum convention); every derived figure is
    * one shared double chain off those exact sums, mirrored
    * operand-for-operand in the oracle, rounded 6dp. Scale: one
    * |types|-row aggregate; the pair grid is |types|²/2 rows of
    * arithmetic.
    */
  def effectSizes(spark: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(28, 6)
    def dsum(c: Column): Column = sum(c.cast(dec)).cast("double")
    val g = Tables.load(spark, dir, "events")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sv"),
        dsum(round(col("value") * col("value"), 6)).as("svv"))
      .withColumn("mean", col("sv") / col("n"))
      .withColumn("var",
        (col("svv") - col("sv") * col("sv") / col("n")) / (col("n") - 1))
    val pairs = g.as("a").crossJoin(broadcast(g.as("b")))
      .filter(col("a.event_type") < col("b.event_type"))
    pairs
      .withColumn("sp", sqrt(
        ((col("a.n") - 1) * col("a.var") + (col("b.n") - 1) * col("b.var")) /
          (col("a.n") + col("b.n") - 2)))
      .withColumn("d", (col("a.mean") - col("b.mean")) / col("sp"))
      .select(col("a.event_type").as("type_a"),
        col("b.event_type").as("type_b"),
        col("a.n").as("n_a"), col("b.n").as("n_b"),
        round(col("a.mean"), 6).as("mean_a"),
        round(col("b.mean"), 6).as("mean_b"),
        round(col("d"), 6).as("cohen_d"),
        round(col("d") * (lit(1.0) - lit(3.0) /
          (lit(4.0) * (col("a.n") + col("b.n")) - 9)), 6).as("hedges_g"))
      .orderBy(col("type_a"), col("type_b"))
  }

  val effectSizesSql: String =
    """WITH g AS (
      |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sv,
      |    CAST(SUM(CAST(ROUND(value * value, 6) AS DECIMAL(28,6)))
      |      AS DOUBLE) AS svv
      |  FROM events GROUP BY 1
      |), m AS (
      |  SELECT event_type, n, sv / n AS mean,
      |    (svv - sv * sv / n) / (n - 1) AS var
      |  FROM g
      |), pairs AS (
      |  SELECT a.event_type AS type_a, b.event_type AS type_b,
      |    a.n AS n_a, b.n AS n_b, a.mean AS mean_a, b.mean AS mean_b,
      |    (a.mean - b.mean) /
      |      sqrt(((a.n - 1) * a.var + (b.n - 1) * b.var)
      |        / (a.n + b.n - 2)) AS d
      |  FROM m a, m b WHERE a.event_type < b.event_type
      |)
      |SELECT type_a, type_b, n_a, n_b,
      |  ROUND(mean_a, 6) AS mean_a, ROUND(mean_b, 6) AS mean_b,
      |  ROUND(d, 6) AS cohen_d,
      |  ROUND(d * (1.0 - 3.0 / (4.0 * (n_a + n_b) - 9)), 6) AS hedges_g
      |FROM pairs
      |ORDER BY type_a, type_b""".stripMargin

  /** q322 — Poisson overdispersion audit of daily event counts: per
    * event type, the index of dispersion D = s²/x̄ over the dense
    * daily-count series (a Poisson arrival process has D = 1; bursty
    * or clumped traffic reads D ≫ 1, which invalidates every
    * Poisson-assuming capacity/anomaly threshold downstream — q121's
    * control limits included). Flagged when D exceeds the two-sigma
    * Poisson envelope 1 + 2·√(2/(n−1)). Days with zero events count
    * as zeros (dense calendar spine between the type's first and last
    * day), since skipping them is itself the classic way this audit
    * lies.
    *
    * Exactness: daily counts are integers; s² and x̄ come from the
    * exact integer power sums (n·Σx² − (Σx)²) — each reported figure
    * is one IEEE division chain, rounded 6dp. Scale: one
    * (type, day) count, a calendar-bounded dense spine per type, one
    * |types|-row aggregate.
    */
  def dispersionAudit(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.load(spark, dir, "events")
      .groupBy(col("event_type"), Events.epochDayExpr.as("day"))
      .agg(count(lit(1)).as("c"))
    val bounds = daily.groupBy(col("event_type"))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val spine = bounds.select(col("event_type"),
      explode(sequence(col("d0"), col("d1"))).as("day"))
    val dense = spine.join(daily, Seq("event_type", "day"), "left")
      .select(col("event_type"), coalesce(col("c"), lit(0L)).as("c"))
    dense.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"), sum(col("c")).as("sx"),
        sum(col("c") * col("c")).as("sxx"))
      .filter(col("n_days") > 1 && col("sx") > 0)
      .withColumn("mean_count",
        round(col("sx").cast("double") / col("n_days").cast("double"), 6))
      .withColumn("var_count", round(
        (col("n_days") * col("sxx") - col("sx") * col("sx")).cast("double") /
          (col("n_days") * (col("n_days") - 1)).cast("double"), 6))
      .withColumn("dispersion", round(
        ((col("n_days") * col("sxx") - col("sx") * col("sx")) * col("n_days"))
          .cast("double") /
          ((col("n_days") * (col("n_days") - 1)).cast("double") *
            col("sx").cast("double")), 6))
      .select(col("event_type"), col("n_days"), col("sx").as("n_events"),
        col("mean_count"), col("var_count"), col("dispersion"),
        (col("dispersion") > lit(1.0) + lit(2.0) *
          sqrt(lit(2.0) / (col("n_days") - 1).cast("double")))
          .as("overdispersed"))
      .orderBy(col("event_type"))
  }

  val dispersionAuditSql: String =
    """WITH daily AS (
      |  SELECT event_type, epoch_ms(ts) // 86400000 AS day, COUNT(*) AS c
      |  FROM events GROUP BY 1, 2
      |), bounds AS (
      |  SELECT event_type, MIN(day) AS d0, MAX(day) AS d1
      |  FROM daily GROUP BY 1
      |), spine AS (
      |  SELECT event_type, unnest(range(d0, d1 + 1)) AS day FROM bounds
      |), dense AS (
      |  SELECT s.event_type, COALESCE(d.c, 0) AS c
      |  FROM spine s LEFT JOIN daily d
      |    ON d.event_type = s.event_type AND d.day = s.day
      |), agg AS (
      |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
      |    CAST(SUM(c) AS BIGINT) AS sx, CAST(SUM(c * c) AS BIGINT) AS sxx
      |  FROM dense GROUP BY 1
      |)
      |SELECT event_type, n_days, sx AS n_events,
      |  ROUND(CAST(sx AS DOUBLE) / CAST(n_days AS DOUBLE), 6) AS mean_count,
      |  ROUND(CAST(n_days * sxx - sx * sx AS DOUBLE)
      |    / CAST(n_days * (n_days - 1) AS DOUBLE), 6) AS var_count,
      |  ROUND(CAST((n_days * sxx - sx * sx) * n_days AS DOUBLE)
      |    / (CAST(n_days * (n_days - 1) AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
      |    AS dispersion,
      |  ROUND(CAST((n_days * sxx - sx * sx) * n_days AS DOUBLE)
      |    / (CAST(n_days * (n_days - 1) AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
      |    > 1.0 + 2.0 * sqrt(2.0 / CAST(n_days - 1 AS DOUBLE))
      |    AS overdispersed
      |FROM agg
      |WHERE n_days > 1 AND sx > 0
      |ORDER BY event_type""".stripMargin

  /** The candidate functional dependencies [[fdAudit]] checks:
    * (table, determinant column, dependent column). Two are key-led
    * controls that must hold exactly (violation share 0 — a nonzero
    * value there means the audit itself is broken); the rest probe
    * whether the catalog's soft hierarchies (brand→type,
    * nation→segment, user→event mix) actually determine anything.
    */
  val fdCandidates: Seq[(String, String, String)] = Seq(
    ("customer", "c_custkey", "c_nationkey"),   // key-led control
    ("customer", "c_nationkey", "c_mktsegment"),
    ("documents", "source", "lang"),
    ("events", "user_id", "event_type"),
    ("lineitem", "l_partkey", "l_suppkey"),
    ("nation", "n_nationkey", "n_regionkey"),   // key-led control
    ("orders", "o_custkey", "o_orderpriority"),
    ("part", "p_brand", "p_type"))

  /** q176 — approximate-functional-dependency audit: for each
    * candidate FD `lhs → rhs`, how many determinant groups exist, how
    * many are VIOLATING (more than one distinct dependent value), what
    * share that is, and the worst group's dependent-value spread — the
    * schema-discovery pass (Huhtala et al.'s TANE problem, audited
    * rather than mined) that tells a pipeline which "obvious"
    * hierarchies it may safely normalize on, denormalize by, or
    * partition under. q101 checks declared foreign keys; this checks
    * UNDECLARED determinism before anyone builds on it.
    *
    * Scale: per candidate one (lhs, rhs) distinct-pair aggregate
    * followed by a per-lhs count — both partial+final, map-side
    * combinable, output is group-count-sized; the audit table itself
    * is |candidates| rows. Exact COUNT(DISTINCT) per group is the
    * oracle-checkable form; the 100 TB swap is approx_count_distinct
    * per group (the q70 convention), which turns each candidate into
    * one pass with bounded state.
    */
  def fdAudit(spark: SparkSession, dir: String,
              candidates: Seq[(String, String, String)] = fdCandidates): DataFrame = {
    val summaries = candidates.map { case (table, lhs, rhs) =>
      Tables.load(spark, dir, table)
        .groupBy(col(lhs))
        .agg(countDistinct(col(rhs)).as("n_rhs"))
        .agg(
          lit(table).as("table_name"),
          lit(lhs).as("lhs"),
          lit(rhs).as("rhs"),
          count(lit(1)).as("n_groups"),
          sum(when(col("n_rhs") > 1, 1L).otherwise(0L)).as("n_violating"),
          round(sum(when(col("n_rhs") > 1, 1L).otherwise(0L)).cast("double") /
            count(lit(1)), 6).as("violation_share"),
          max(col("n_rhs")).as("max_rhs_distinct"))
    }
    summaries.reduce(_ unionByName _)
      .orderBy(col("table_name"), col("lhs"), col("rhs"))
  }

  val fdAuditSql: String = fdCandidates.map { case (table, lhs, rhs) =>
    s"""SELECT '$table' AS table_name, '$lhs' AS lhs, '$rhs' AS rhs,
       |  COUNT(*) AS n_groups,
       |  CAST(SUM(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_violating,
       |  ROUND(CAST(SUM(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) AS DOUBLE)
       |    / COUNT(*), 6) AS violation_share,
       |  CAST(MAX(n_rhs) AS BIGINT) AS max_rhs_distinct
       |FROM (
       |  SELECT $lhs, COUNT(DISTINCT $rhs) AS n_rhs FROM $table GROUP BY 1
       |)""".stripMargin
  }.mkString("", "\nUNION ALL\n", "\nORDER BY table_name, lhs, rhs")

  /** q188 — chi-square independence audit between order quantity and
    * extended price on `lineitem`, both discretized into `bins`
    * equal-width buckets: the contingency-table screen for
    * NONLINEAR/categorical dependence that q143's Pearson matrix
    * (linear only) cannot see. Reports the chi-square statistic,
    * degrees of freedom and Cramér's V (the [0,1] effect size) in one
    * row — the feature-redundancy triage a feature-selection or
    * drift-investigation pass runs before modeling.
    *
    * Exactness: bin edges derive from exact global min/max (one IEEE
    * subtraction/division chain, identical both engines); observed
    * counts are BIGINT; each cell's (o−e)²/e term is one fixed-order
    * float chain rounded to 6dp; the chi-square total sums those 6dp
    * terms in DECIMAL(28,6) — order-independent. Cramér's V is one
    * sqrt over the rounded total.
    *
    * Scale: one narrow map over the scan (two columns pruned), one
    * (qbin, pbin)-keyed aggregate bounded at bins², and marginal/
    * total reductions over that bins²-row table. The min/max scalar
    * pre-pass is a broadcast, not a driver collect.
    */
  def chi2Independence(spark: SparkSession, dir: String, bins: Int = 5): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(28, 6)
    val li = Tables.load(spark, dir, "lineitem")
      .select(col("l_quantity").as("q"), col("l_extendedprice").as("p"))
    val bounds = li.agg(min(col("q")).as("qmn"), max(col("q")).as("qmx"),
      min(col("p")).as("pmn"), max(col("p")).as("pmx"))
    def binOf(x: Column, mn: Column, mx: Column): Column =
      least(floor((x - mn) / ((mx - mn) / bins)), lit(bins - 1)).cast("int")
    val cells = li.crossJoin(broadcast(bounds))
      .select(binOf(col("q"), col("qmn"), col("qmx")).as("qbin"),
        binOf(col("p"), col("pmn"), col("pmx")).as("pbin"))
      .groupBy(col("qbin"), col("pbin")).agg(count(lit(1)).as("o"))
    val rowTot = cells.groupBy(col("qbin")).agg(sum(col("o")).as("rt"))
    val colTot = cells.groupBy(col("pbin")).agg(sum(col("o")).as("ct"))
    val n = cells.agg(sum(col("o")).as("n"),
      countDistinct(col("qbin")).as("r"), countDistinct(col("pbin")).as("c"))
    // full r×c grid: EMPTY cells still contribute (0−e)²/e = e —
    // skipping them understates the statistic
    rowTot.crossJoin(colTot)
      .join(cells, Seq("qbin", "pbin"), "left")
      .withColumn("o", coalesce(col("o"), lit(0L)))
      .crossJoin(broadcast(n))
      .withColumn("e",
        col("rt").cast("double") * col("ct") / col("n"))
      .withColumn("term", round(
        (col("o") - col("e")) * (col("o") - col("e")) / col("e"), 6))
      .groupBy(col("n"), col("r"), col("c"))
      .agg(sum(col("term").cast(dec)).cast("double").as("chi2"))
      .select(col("n").as("n_rows"),
        ((col("r") - 1) * (col("c") - 1)).cast("int").as("dof"),
        round(col("chi2"), 6).as("chi2"),
        round(sqrt(col("chi2") /
          (col("n") * least(col("r") - 1, col("c") - 1))), 6).as("cramers_v"))
  }

  def chi2IndependenceSql(bins: Int = 5): String =
    s"""WITH li AS (
       |  SELECT l_quantity AS q, l_extendedprice AS p FROM lineitem
       |), bounds AS (
       |  SELECT MIN(q) AS qmn, MAX(q) AS qmx, MIN(p) AS pmn, MAX(p) AS pmx
       |  FROM li
       |), cells AS (
       |  SELECT
       |    CAST(LEAST(FLOOR((q - qmn) / ((qmx - qmn) / $bins)), $bins - 1)
       |      AS INT) AS qbin,
       |    CAST(LEAST(FLOOR((p - pmn) / ((pmx - pmn) / $bins)), $bins - 1)
       |      AS INT) AS pbin,
       |    COUNT(*) AS o
       |  FROM li, bounds GROUP BY 1, 2
       |), rt AS (SELECT qbin, CAST(SUM(o) AS BIGINT) AS rt FROM cells GROUP BY 1
       |), ct AS (SELECT pbin, CAST(SUM(o) AS BIGINT) AS ct FROM cells GROUP BY 1
       |), tot AS (
       |  SELECT CAST(SUM(o) AS BIGINT) AS n,
       |    COUNT(DISTINCT qbin) AS r, COUNT(DISTINCT pbin) AS c
       |  FROM cells
       |), grid AS (
       |  SELECT rt.qbin, ct.pbin, rt.rt, ct.ct, COALESCE(cells.o, 0) AS o
       |  FROM rt CROSS JOIN ct
       |  LEFT JOIN cells ON cells.qbin = rt.qbin AND cells.pbin = ct.pbin
       |), terms AS (
       |  SELECT tot.n, tot.r, tot.c,
       |    ROUND((grid.o - CAST(grid.rt AS DOUBLE) * grid.ct / tot.n)
       |      * (grid.o - CAST(grid.rt AS DOUBLE) * grid.ct / tot.n)
       |      / (CAST(grid.rt AS DOUBLE) * grid.ct / tot.n), 6) AS term
       |  FROM grid
       |  CROSS JOIN tot
       |), agg AS (
       |  SELECT n, r, c,
       |    CAST(SUM(CAST(term AS DECIMAL(28,6))) AS DOUBLE) AS chi2
       |  FROM terms GROUP BY 1, 2, 3
       |)
       |SELECT n AS n_rows, CAST((r - 1) * (c - 1) AS INT) AS dof,
       |  ROUND(chi2, 6) AS chi2,
       |  ROUND(sqrt(chi2 / (n * LEAST(r - 1, c - 1))), 6) AS cramers_v
       |FROM agg""".stripMargin

  /** q207 — exact ROC-AUC of the q23 quality score as an exact-dup
    * detector, per language: "do low-quality scores actually flag the
    * documents that exact dedup (q25's fingerprint) would catch?" —
    * the separability audit you run before trusting a heuristic score
    * to gate a 100 TB corpus. AUC is computed exactly via the
    * Mann–Whitney rank-sum identity with midranks for ties:
    *   AUC = (Σ midrank(pos) − nPos(nPos+1)/2) / (nPos·nNeg),
    * midrank = RANK() + (ties − 1)/2 over the per-lang quality order.
    *
    * Determinism: quality is the shared 6dp-rounded score (identical
    * doubles both engines), so rank ties are identical; midranks are
    * integers-plus-halves (exact doubles), rank sums stay exact below
    * 2^52, and the single division is rounded once at 6dp. Languages
    * with no dups (or all dups) yield NULL via the NULLIF guard.
    *
    * Scale: one fingerprint-keyed window (the q25 shuffle) to label,
    * one lang-keyed window pass (rank and tie counts share the sort),
    * one partial+final aggregate — no joins, no per-threshold sweep:
    * the rank-sum identity IS the full ROC integral.
    */
  def qualityDupAuc(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.TextFunctions.{contentFingerprint, qualityScore}
    val docs = Tables.load(spark, dir, "documents")
    val labeled = docs
      .select(col("doc_id"), col("lang"), qualityScore(col("text")).as("quality"),
        contentFingerprint(col("text")).as("fp"))
      .withColumn("is_dup",
        (count(lit(1)).over(Window.partitionBy(col("fp"))) > 1).cast("int"))
    val ranked = labeled.withColumn("midrank",
      rank().over(Window.partitionBy(col("lang")).orderBy(col("quality")))
        + (count(lit(1)).over(Window.partitionBy(col("lang"), col("quality"))) - 1) / 2.0)
    ranked.groupBy(col("lang"))
      .agg(
        sum(col("is_dup")).cast("long").as("n_pos"),
        sum(lit(1) - col("is_dup")).cast("long").as("n_neg"),
        sum(when(col("is_dup") === 1, col("midrank"))).as("rank_sum"))
      .select(col("lang"), col("n_pos"), col("n_neg"),
        round((col("rank_sum") - col("n_pos") * (col("n_pos") + 1) / 2.0)
          / nullif((col("n_pos") * col("n_neg")).cast("double"), lit(0.0)), 6)
          .as("auc"))
      .orderBy(col("lang"))
  }

  val qualityDupAucSql: String =
    s"""WITH labeled AS (
       |  SELECT lang, ${graft.operators.TextAnalysis.qualityExprSql} AS quality,
       |    CASE WHEN COUNT(*) OVER (PARTITION BY
       |      md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'))) > 1
       |      THEN 1 ELSE 0 END AS is_dup
       |  FROM documents
       |), ranked AS (
       |  SELECT lang, is_dup,
       |    RANK() OVER (PARTITION BY lang ORDER BY quality)
       |      + (COUNT(*) OVER (PARTITION BY lang, quality) - 1) / 2.0 AS midrank
       |  FROM labeled
       |), agg AS (
       |  SELECT lang,
       |    CAST(SUM(is_dup) AS BIGINT) AS n_pos,
       |    CAST(SUM(1 - is_dup) AS BIGINT) AS n_neg,
       |    SUM(CASE WHEN is_dup = 1 THEN midrank END) AS rank_sum
       |  FROM ranked GROUP BY lang
       |)
       |SELECT lang, n_pos, n_neg,
       |  ROUND((rank_sum - n_pos * (n_pos + 1) / 2.0)
       |    / NULLIF(CAST(n_pos * n_neg AS DOUBLE), 0.0), 6) AS auc
       |FROM agg ORDER BY lang""".stripMargin

  /** q325 — best decision stump on the quality score: the exact
    * information-gain-maximizing threshold for predicting q25's
    * exact-dup label from q23's quality score — the one-split
    * decision tree that turns q207's "is the score separable at all"
    * AUC into an OPERATIONAL gate ("filter at quality ≤ t") with its
    * achieved purity on both sides. Every distinct score value is a
    * candidate split; the top 3 by gain are reported so the curve's
    * flatness around the best cut is visible.
    *
    * Exactness: candidate evaluation runs at VALUE GRAIN (cumulative
    * integer counts over the distinct-score grid — never a
    * per-document sweep); entropies are the identical double chain in
    * both engines off exact integer counts, gain rounded once at 6dp,
    * argmax tiebroken by threshold. Scale: one fingerprint window to
    * label, one value-grain aggregate + cumulative window, a
    * TakeOrdered(3).
    */
  def bestStump(spark: SparkSession, dir: String, topN: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.TextFunctions.{contentFingerprint, qualityScore}
    val docs = Tables.load(spark, dir, "documents")
    val labeled = docs
      .select(qualityScore(col("text")).as("q"),
        contentFingerprint(col("text")).as("fp"))
      .withColumn("y",
        (count(lit(1)).over(Window.partitionBy(col("fp"))) > 1).cast("long"))
    val cells = labeled.groupBy(col("q"))
      .agg(count(lit(1)).as("n_v"), sum(col("y")).as("p_v"))
    val wCum = Window.orderBy(col("q"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val wAll = Window.partitionBy(lit(1))
    def h(p: Column, n: Column): Column = {
      val r = p.cast("double") / n.cast("double")
      when(p === 0 || p === n, lit(0.0))
        .otherwise(-r * log10(r) - (lit(1.0) - r) * log10(lit(1.0) - r))
    }
    val scored = cells
      .withColumn("nl", sum(col("n_v")).over(wCum))
      .withColumn("pl", sum(col("p_v")).over(wCum))
      .withColumn("n", sum(col("n_v")).over(wAll))
      .withColumn("p", sum(col("p_v")).over(wAll))
      .filter(col("nl") < col("n")) // the right side must be nonempty
      .withColumn("ig", round(
        h(col("p"), col("n")) -
          (col("nl").cast("double") * h(col("pl"), col("nl")) +
            (col("n") - col("nl")).cast("double") *
              h(col("p") - col("pl"), col("n") - col("nl"))) /
            col("n").cast("double"), 6))
    scored
      .orderBy(col("ig").desc, col("q"))
      .limit(topN)
      .select(col("q").as("threshold"), col("ig").as("info_gain"),
        col("nl").as("left_n"), col("pl").as("left_pos"),
        (col("n") - col("nl")).as("right_n"),
        (col("p") - col("pl")).as("right_pos"),
        round(col("pl").cast("double") / col("nl").cast("double"), 6)
          .as("left_dup_rate"),
        round((col("p") - col("pl")).cast("double") /
          (col("n") - col("nl")).cast("double"), 6).as("right_dup_rate"))
      .orderBy(col("info_gain").desc, col("threshold"))
  }

  val bestStumpSql: String =
    s"""WITH labeled AS (
       |  SELECT ${graft.operators.TextAnalysis.qualityExprSql} AS q,
       |    CASE WHEN COUNT(*) OVER (PARTITION BY
       |      md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'))) > 1
       |      THEN 1 ELSE 0 END AS y
       |  FROM documents
       |), cells AS (
       |  SELECT q, CAST(COUNT(*) AS BIGINT) AS n_v,
       |    CAST(SUM(y) AS BIGINT) AS p_v
       |  FROM labeled GROUP BY q
       |), cum AS (
       |  SELECT q,
       |    CAST(SUM(n_v) OVER w AS BIGINT) AS nl,
       |    CAST(SUM(p_v) OVER w AS BIGINT) AS pl,
       |    CAST(SUM(n_v) OVER () AS BIGINT) AS n,
       |    CAST(SUM(p_v) OVER () AS BIGINT) AS p
       |  FROM cells
       |  WINDOW w AS (ORDER BY q
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |), scored AS (
       |  SELECT *, ROUND(
       |    (CASE WHEN p = 0 OR p = n THEN 0.0
       |      ELSE -(CAST(p AS DOUBLE) / CAST(n AS DOUBLE))
       |          * log10(CAST(p AS DOUBLE) / CAST(n AS DOUBLE))
       |        - (1.0 - CAST(p AS DOUBLE) / CAST(n AS DOUBLE))
       |          * log10(1.0 - CAST(p AS DOUBLE) / CAST(n AS DOUBLE)) END)
       |    - (CAST(nl AS DOUBLE) *
       |        (CASE WHEN pl = 0 OR pl = nl THEN 0.0
       |          ELSE -(CAST(pl AS DOUBLE) / CAST(nl AS DOUBLE))
       |              * log10(CAST(pl AS DOUBLE) / CAST(nl AS DOUBLE))
       |            - (1.0 - CAST(pl AS DOUBLE) / CAST(nl AS DOUBLE))
       |              * log10(1.0 - CAST(pl AS DOUBLE) / CAST(nl AS DOUBLE))
       |          END)
       |      + CAST(n - nl AS DOUBLE) *
       |        (CASE WHEN p - pl = 0 OR p - pl = n - nl THEN 0.0
       |          ELSE -(CAST(p - pl AS DOUBLE) / CAST(n - nl AS DOUBLE))
       |              * log10(CAST(p - pl AS DOUBLE) / CAST(n - nl AS DOUBLE))
       |            - (1.0 - CAST(p - pl AS DOUBLE) / CAST(n - nl AS DOUBLE))
       |              * log10(1.0 - CAST(p - pl AS DOUBLE)
       |                / CAST(n - nl AS DOUBLE)) END))
       |      / CAST(n AS DOUBLE), 6) AS ig
       |  FROM cum WHERE nl < n
       |)
       |SELECT q AS threshold, ig AS info_gain,
       |  nl AS left_n, pl AS left_pos,
       |  n - nl AS right_n, p - pl AS right_pos,
       |  ROUND(CAST(pl AS DOUBLE) / CAST(nl AS DOUBLE), 6) AS left_dup_rate,
       |  ROUND(CAST(p - pl AS DOUBLE) / CAST(n - nl AS DOUBLE), 6)
       |    AS right_dup_rate
       |FROM scored
       |ORDER BY info_gain DESC, threshold
       |LIMIT 3""".stripMargin

  /** q213 — two-sample Kolmogorov–Smirnov drift statistic per
    * language: D = max |F_early(x) − F_late(x)| between the early and
    * late ingestion halves' document-length distributions (q124's
    * doc_id-midpoint split). Where q124's PSI needs a bucketing
    * choice, KS is bucket-free — the supremum over the empirical
    * CDFs — so it catches shape drift PSI's bins can straddle.
    *
    * Exactness: the supremum is computed on INTEGER cross-multiplied
    * counts — max |c1·n2 − c2·n1| over distinct values x — and
    * divided by n1·n2 exactly once (double division of exact
    * integers, 6dp round). No floats exist before that division, so
    * both engines agree bit-for-bit; one-sided languages hit the
    * NULLIF guard.
    *
    * Scale: one (lang, value) aggregate collapses the corpus to
    * distinct-length cardinality, one lang-partitioned ordered window
    * accumulates both CDFs in a single pass, one max aggregate ends
    * it — the corpus is scanned once and never self-joined.
    */
  /** q343 — QQ table per source vs the corpus: exact doc-length
    * quantiles at ventile grain (p = 1/20 … 19/20) for every source,
    * side by side with the GLOBAL quantiles and their gap — the
    * diagnostic relation behind the drift scalars (q213's KS statistic
    * says "the distributions differ", this says WHERE along the
    * distribution: a heavy-tailed source shows gaps fanning out with
    * p, a shifted one a constant offset). Quantile = the repo's exact
    * rank-crossing convention (row_number over (value, doc_id), rank
    * (p·(n+1)) div 20); tiny sources whose rank-1 lands at 0 simply
    * omit that percentile row in both engines.
    *
    * Scale: per-source ranks ride a source-partitioned window; the
    * GLOBAL ranks ride [[Skew.globalRank]] (range exchange + offset
    * arithmetic — third graded consumer, no single-partition window);
    * the 19-row percentile spine broadcasts to both.
    */
  def qqTable(spark: SparkSession, dir: String, grain: Int = 20): DataFrame = {
    import spark.implicits._
    val docs = Tables.load(spark, dir, "documents")
      .select(col("source"), col("n_chars"), col("doc_id"))
    val pcts = (1 until grain).map(p => (p, p.toDouble / grain))
      .toDF("pnum", "pct")
    val wS = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("n_chars"), col("doc_id"))
    val srcRanked = docs
      .withColumn("rn", row_number().over(wS))
      .withColumn("n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("source"))))
    val srcQ = srcRanked.join(broadcast(pcts),
        col("rn") === expr(s"(pnum * (n + 1)) div $grain"))
      .select(col("source"), col("pnum"), col("pct"),
        col("n").as("n_docs"), col("n_chars").as("q_source"))
    val g = Skew.globalRank(docs, Seq(col("n_chars"), col("doc_id")))
    val gn = g.agg(count(lit(1)).as("gn"))
    val gQ = g.crossJoin(broadcast(gn))
      .join(broadcast(pcts), col("rank") === expr(s"(pnum * (gn + 1)) div $grain"))
      .select(col("pnum"), col("n_chars").as("q_global"))
    srcQ.join(broadcast(gQ), Seq("pnum"))
      .select(col("source"), col("pct"), col("n_docs"),
        col("q_source"), col("q_global"),
        (col("q_source") - col("q_global")).as("gap"))
      .orderBy(col("source"), col("pct"))
  }

  def qqTableSql(grain: Int = 20): String =
    s"""WITH d AS (
       |  SELECT source, n_chars, doc_id FROM documents
       |), p AS (
       |  SELECT i AS pnum, i / $grain.0 AS pct
       |  FROM generate_series(1, ${grain - 1}) t(i)
       |), s AS (
       |  SELECT source, n_chars,
       |    row_number() OVER (PARTITION BY source
       |      ORDER BY n_chars, doc_id) AS rn,
       |    COUNT(*) OVER (PARTITION BY source) AS n
       |  FROM d
       |), sq AS (
       |  SELECT s.source, p.pnum, p.pct, s.n AS n_docs,
       |    s.n_chars AS q_source
       |  FROM s JOIN p ON s.rn = (p.pnum * (s.n + 1)) // $grain
       |), g AS (
       |  SELECT n_chars,
       |    row_number() OVER (ORDER BY n_chars, doc_id) AS rank,
       |    COUNT(*) OVER () AS gn
       |  FROM d
       |), gq AS (
       |  SELECT p.pnum, g.n_chars AS q_global
       |  FROM g JOIN p ON g.rank = (p.pnum * (g.gn + 1)) // $grain
       |)
       |SELECT sq.source, sq.pct, sq.n_docs, sq.q_source, gq.q_global,
       |  sq.q_source - gq.q_global AS gap
       |FROM sq JOIN gq ON gq.pnum = sq.pnum
       |ORDER BY sq.source, sq.pct""".stripMargin

  def ksDrift(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.load(spark, dir, "documents")
    val bounds = docs.agg(min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx"))
    val tagged = docs.crossJoin(broadcast(bounds))
      .withColumn("late", (col("doc_id") * 2 > col("mn") + col("mx")).cast("int"))
      .select(col("lang"), col("late"), col("n_chars").as("x"))
    val perVal = tagged.groupBy(col("lang"), col("x"))
      .agg(sum(lit(1) - col("late")).as("ce"), sum(col("late")).as("cl"))
    val wCum = Window.partitionBy(col("lang")).orderBy(col("x"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val wAll = Window.partitionBy(col("lang"))
    perVal
      .withColumn("c1", sum(col("ce")).over(wCum))
      .withColumn("c2", sum(col("cl")).over(wCum))
      .withColumn("n1", sum(col("ce")).over(wAll))
      .withColumn("n2", sum(col("cl")).over(wAll))
      .groupBy(col("lang"))
      .agg(max(col("n1")).as("n_early"), max(col("n2")).as("n_late"),
        max(abs(col("c1") * col("n2") - col("c2") * col("n1"))).as("d_num"))
      .select(col("lang"), col("n_early"), col("n_late"),
        round(col("d_num").cast("double")
          / nullif((col("n_early") * col("n_late")).cast("double"), lit(0.0)), 6)
          .as("ks_stat"))
      .orderBy(col("lang"))
  }

  val ksDriftSql: String =
    """WITH bounds AS (SELECT MIN(doc_id) AS mn, MAX(doc_id) AS mx FROM documents),
      |tagged AS (
      |  SELECT lang, CASE WHEN doc_id * 2 > mn + mx THEN 1 ELSE 0 END AS late,
      |    n_chars AS x
      |  FROM documents, bounds
      |), per_val AS (
      |  SELECT lang, x, SUM(1 - late) AS ce, SUM(late) AS cl
      |  FROM tagged GROUP BY 1, 2
      |), cum AS (
      |  SELECT lang,
      |    SUM(ce) OVER (PARTITION BY lang ORDER BY x
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c1,
      |    SUM(cl) OVER (PARTITION BY lang ORDER BY x
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c2,
      |    SUM(ce) OVER (PARTITION BY lang) AS n1,
      |    SUM(cl) OVER (PARTITION BY lang) AS n2
      |  FROM per_val
      |)
      |SELECT lang,
      |  CAST(MAX(n1) AS BIGINT) AS n_early,
      |  CAST(MAX(n2) AS BIGINT) AS n_late,
      |  ROUND(CAST(MAX(ABS(c1 * n2 - c2 * n1)) AS DOUBLE)
      |    / NULLIF(CAST(MAX(n1) * MAX(n2) AS DOUBLE), 0.0), 6) AS ks_stat
      |FROM cum GROUP BY lang ORDER BY lang""".stripMargin

  /** q314 — Benjamini–Hochberg FDR over a drift-test panel: the q213
    * early/late KS machinery runs per (source, lang) CELL — one
    * hypothesis per feed slice, the "which slices actually drifted"
    * fan-out every periodic corpus-health report produces — and the
    * panel of asymptotic p-values (one-term Kolmogorov bound
    * p = min(1, 2·exp(−2·n_eff·D²))) is corrected by the BH step-up
    * at FDR q = 0.10, with BH-adjusted q-values (reverse running min
    * of m·p/rank). Without the correction a 20-cell panel at α = .05
    * false-alarms once per report by construction; BH is the standard
    * fix and is pure relational algebra: a rank window, an integer
    * comparison, a reverse cumulative min.
    *
    * Exactness: D and p round to 6dp off exact integer counts; the
    * REJECTION rule is evaluated in pure integers
    * (p_micro·m·10 ≤ rank·10⁶ at q = 1/10), so no boundary float
    * wobble can flip a verdict; q-values are monotone mins over
    * already-rounded doubles. Scale: the cell grid is
    * |sources|×|langs|; everything after the per-cell windows is
    * panel-sized.
    */
  def bhDriftPanel(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.load(spark, dir, "documents")
    val bounds = docs.agg(min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx"))
    val tagged = docs.crossJoin(broadcast(bounds))
      .withColumn("late", (col("doc_id") * 2 > col("mn") + col("mx")).cast("int"))
      .select(col("source"), col("lang"), col("late"), col("n_chars").as("x"))
    val perVal = tagged.groupBy(col("source"), col("lang"), col("x"))
      .agg(sum(lit(1) - col("late")).as("ce"), sum(col("late")).as("cl"))
    val wCum = Window.partitionBy(col("source"), col("lang")).orderBy(col("x"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val wAll = Window.partitionBy(col("source"), col("lang"))
    val cells = perVal
      .withColumn("c1", sum(col("ce")).over(wCum))
      .withColumn("c2", sum(col("cl")).over(wCum))
      .withColumn("n1", sum(col("ce")).over(wAll))
      .withColumn("n2", sum(col("cl")).over(wAll))
      .groupBy(col("source"), col("lang"))
      .agg(max(col("n1")).as("n_early"), max(col("n2")).as("n_late"),
        max(abs(col("c1") * col("n2") - col("c2") * col("n1"))).as("d_num"))
      .filter(col("n_early") > 0 && col("n_late") > 0)
      .withColumn("ks_d", round(col("d_num").cast("double") /
        (col("n_early") * col("n_late")).cast("double"), 6))
      .withColumn("p_value", round(least(lit(1.0),
        lit(2.0) * exp(lit(-2.0) *
          ((col("n_early") * col("n_late")).cast("double") /
            (col("n_early") + col("n_late")).cast("double")) *
          col("ks_d") * col("ks_d"))), 6))
    val wRank = Window.orderBy(col("p_value"), col("source"), col("lang"))
    val ranked = cells
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .withColumn("m", count(lit(1)).over(Window.partitionBy(lit(1))))
      .withColumn("p_micro", round(col("p_value") * 1e6, 0).cast("long"))
      .withColumn("passes",
        col("p_micro") * col("m") * 10L <= col("rank") * 1000000L)
    val kMax = Window.partitionBy(lit(1))
    val wRev = Window.orderBy(col("rank"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    ranked
      .withColumn("k_max",
        max(when(col("passes"), col("rank")).otherwise(0L)).over(kMax))
      .withColumn("q_value",
        min(round(least(lit(1.0),
          col("m").cast("double") * col("p_value") / col("rank").cast("double")),
          6)).over(wRev))
      .select(col("source"), col("lang"), col("n_early"), col("n_late"),
        col("ks_d"), col("p_value"), col("rank").cast("int").as("rank"),
        (col("rank") <= col("k_max")).as("rejected"), col("q_value"))
      .orderBy(col("rank"), col("source"), col("lang"))
  }

  val bhDriftPanelSql: String =
    """WITH bounds AS (SELECT MIN(doc_id) AS mn, MAX(doc_id) AS mx FROM documents),
      |tagged AS (
      |  SELECT source, lang,
      |    CASE WHEN doc_id * 2 > mn + mx THEN 1 ELSE 0 END AS late,
      |    n_chars AS x
      |  FROM documents, bounds
      |), per_val AS (
      |  SELECT source, lang, x, SUM(1 - late) AS ce, SUM(late) AS cl
      |  FROM tagged GROUP BY 1, 2, 3
      |), cum AS (
      |  SELECT source, lang,
      |    SUM(ce) OVER w AS c1, SUM(cl) OVER w AS c2,
      |    SUM(ce) OVER wa AS n1, SUM(cl) OVER wa AS n2
      |  FROM per_val
      |  WINDOW w AS (PARTITION BY source, lang ORDER BY x
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      |  wa AS (PARTITION BY source, lang)
      |), cells0 AS (
      |  SELECT source, lang,
      |    CAST(MAX(n1) AS BIGINT) AS n_early,
      |    CAST(MAX(n2) AS BIGINT) AS n_late,
      |    MAX(ABS(c1 * n2 - c2 * n1)) AS d_num
      |  FROM cum GROUP BY 1, 2
      |), cells1 AS (
      |  SELECT source, lang, n_early, n_late,
      |    ROUND(CAST(d_num AS DOUBLE)
      |      / CAST(n_early * n_late AS DOUBLE), 6) AS ks_d
      |  FROM cells0 WHERE n_early > 0 AND n_late > 0
      |), cells AS (
      |  SELECT *, ROUND(LEAST(1.0,
      |    2.0 * exp(-2.0 *
      |      (CAST(n_early * n_late AS DOUBLE)
      |        / CAST(n_early + n_late AS DOUBLE)) * ks_d * ks_d)), 6)
      |    AS p_value
      |  FROM cells1
      |), ranked AS (
      |  SELECT *,
      |    CAST(row_number() OVER (ORDER BY p_value, source, lang)
      |      AS BIGINT) AS rank,
      |    CAST(COUNT(*) OVER () AS BIGINT) AS m,
      |    CAST(ROUND(p_value * 1e6, 0) AS BIGINT) AS p_micro
      |  FROM cells
      |), flagged AS (
      |  SELECT *,
      |    p_micro * m * 10 <= rank * 1000000 AS passes
      |  FROM ranked
      |), final AS (
      |  SELECT *,
      |    MAX(CASE WHEN passes THEN rank ELSE 0 END) OVER () AS k_max,
      |    MIN(ROUND(LEAST(1.0,
      |      CAST(m AS DOUBLE) * p_value / CAST(rank AS DOUBLE)), 6))
      |      OVER (ORDER BY rank
      |        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS q_value
      |  FROM flagged
      |)
      |SELECT source, lang, n_early, n_late, ks_d, p_value,
      |  CAST(rank AS INT) AS rank, rank <= k_max AS rejected, q_value
      |FROM final
      |ORDER BY rank, source, lang""".stripMargin

  /** q230 — higher-moments profile: mean, stddev, skewness and excess
    * kurtosis per numeric lineitem column — the distribution-shape
    * row q70's min/max/count profile and q143's correlation matrix
    * both lack (skew says which tail the mass leans into, kurtosis
    * whether q73/q95's outlier screens face heavy tails or near-
    * Gaussian noise). Neither engine's built-in skewness/kurtosis is
    * used: their streaming update orders differ, so the moments are
    * assembled from raw power sums instead.
    *
    * Exactness: all four power sums per column accumulate 6dp-rounded
    * terms in DECIMAL(38,6) (the q102/q143 convention — order-
    * independent, engine-identical; x^4 of a 1e5-scale price needs
    * the 38-digit headroom), every column flows through ONE shared
    * derived-stat code path (identical double chains on both
    * engines), and degenerate columns (zero variance) yield NULL via
    * NULLIF.
    *
    * Scale + cost: the wide-decimal adds are the dominant cost
    * (BigDecimal-backed above 18 digits), so the sums run over a
    * VALUE HISTOGRAM, not raw rows — one scan explodes to
    * (column, value), a long-count aggregate collapses each column to
    * its distinct values (map-side combined; quantity/discount/tax
    * have O(10–50)-value domains, so only the near-unique price
    * column keeps row-order cardinality), and each power sum becomes
    * Σ count·round(v^p, 6) over the histogram. Decimal addition is
    * commutative/associative and c·t is exactly t added c times, so
    * the result is bit-identical to the row-wise form (the oracle
    * still states row-wise sums) at ~4× less decimal work.
    */
  def momentsProfile(spark: SparkSession, dir: String,
                     cols: Seq[String] = Seq("l_quantity", "l_extendedprice",
                       "l_discount", "l_tax")): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 6)
    val pairs = Tables.load(spark, dir, "lineitem")
      .select(explode(array(cols.map(c =>
        struct(lit(c).as("column"), col(c).cast("double").as("v"))): _*))
        .as("p"))
      .select(col("p.*"))
      .filter(col("v").isNotNull)
    val hist = pairs.groupBy(col("column"), col("v"))
      .agg(count(lit(1)).as("c"))
    def psum(p: Int) = {
      val pw = (1 until p).foldLeft(col("v"))((acc, _) => acc * col("v"))
      sum((round(pw, 6).cast(dec) * col("c")).cast(dec))
        .cast("double").as(s"s$p")
    }
    val rows = hist.groupBy(col("column"))
      .agg(sum(col("c")).cast("double").as("n"),
        psum(1), psum(2), psum(3), psum(4))
    val mean = col("s1") / col("n")
    val m2 = col("s2") / col("n") - mean * mean
    val sd = sqrt(m2)
    val m3 = col("s3") / col("n") - lit(3.0) * mean * (col("s2") / col("n")) +
      lit(2.0) * mean * mean * mean
    val m4 = col("s4") / col("n") - lit(4.0) * mean * (col("s3") / col("n")) +
      lit(6.0) * mean * mean * (col("s2") / col("n")) -
      lit(3.0) * mean * mean * mean * mean
    rows.select(col("column"), col("n").cast("long").as("n"),
        round(mean, 6).as("mean"),
        round(sd, 6).as("stddev"),
        round(m3 / nullif(sd * sd * sd, lit(0.0)), 6).as("skewness"),
        round(m4 / nullif(m2 * m2, lit(0.0)) - 3.0, 6).as("kurtosis_excess"))
      .orderBy(col("column"))
  }

  def momentsProfileSql(cols: Seq[String] = Seq("l_quantity", "l_extendedprice",
                          "l_discount", "l_tax")): String = {
    val aggs = cols.map { c =>
      s"""    CAST(COUNT($c) AS DOUBLE) AS ${c}_n,
         |    CAST(SUM(CAST(ROUND($c, 6) AS DECIMAL(38,6))) AS DOUBLE) AS ${c}_s1,
         |    CAST(SUM(CAST(ROUND($c * $c, 6) AS DECIMAL(38,6))) AS DOUBLE) AS ${c}_s2,
         |    CAST(SUM(CAST(ROUND($c * $c * $c, 6) AS DECIMAL(38,6))) AS DOUBLE) AS ${c}_s3,
         |    CAST(SUM(CAST(ROUND($c * $c * $c * $c, 6) AS DECIMAL(38,6))) AS DOUBLE) AS ${c}_s4""".stripMargin
    }.mkString(",\n")
    val rows = cols.map(c =>
      s"""  SELECT '$c' AS "column", ${c}_n AS n, ${c}_s1 AS s1, ${c}_s2 AS s2, ${c}_s3 AS s3, ${c}_s4 AS s4 FROM agg""")
      .mkString("\n  UNION ALL\n")
    s"""WITH agg AS (
       |  SELECT
       |$aggs
       |  FROM lineitem
       |), rows_ AS (
       |$rows
       |)
       |SELECT "column", CAST(n AS BIGINT) AS n,
       |  ROUND(s1 / n, 6) AS mean,
       |  ROUND(sqrt(s2 / n - (s1 / n) * (s1 / n)), 6) AS stddev,
       |  ROUND((s3 / n - 3.0 * (s1 / n) * (s2 / n)
       |      + 2.0 * (s1 / n) * (s1 / n) * (s1 / n))
       |    / NULLIF(sqrt(s2 / n - (s1 / n) * (s1 / n))
       |        * sqrt(s2 / n - (s1 / n) * (s1 / n))
       |        * sqrt(s2 / n - (s1 / n) * (s1 / n)), 0.0), 6) AS skewness,
       |  ROUND((s4 / n - 4.0 * (s1 / n) * (s3 / n)
       |      + 6.0 * (s1 / n) * (s1 / n) * (s2 / n)
       |      - 3.0 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n))
       |    / NULLIF((s2 / n - (s1 / n) * (s1 / n))
       |        * (s2 / n - (s1 / n) * (s1 / n)), 0.0) - 3.0, 6)
       |    AS kurtosis_excess
       |FROM rows_
       |ORDER BY "column"""".stripMargin
  }

  /** q238 — Mann-Whitney U (one-vs-rest per event type): for each
    * event type, the rank-sum test of its `value` distribution
    * against all other types pooled — the nonparametric "is this
    * segment's metric actually different" answer q230's moments and
    * q213's KS statistic both stop short of (KS measures distance, U
    * carries a calibrated z). One-vs-rest means every comparison
    * pools to the FULL corpus, so a single global ranking serves all
    * types at once.
    *
    * Exactness: midranks are kept as INTEGER doubled-ranks
    * (2·midrank = 2·cum_before + cnt + 1 — no halves exist), so every
    * rank sum is an exact integer; U, the tie-corrected variance
    * σ² = (n₁n₂/12)·((N+1) − Σ(t³−t)/(N(N−1))) and
    * z = (U − n₁n₂/2)/σ run the identical double expression chain on
    * both engines (sqrt is IEEE-exact), rounded once at 6dp. The
    * rank-biserial effect size r = 2U/(n₁n₂) − 1 rides the same
    * integers.
    *
    * Scale: NO global row ranking — ranks are reconstructed from a
    * (value)-aggregated cumulative window, so the only ordered pass
    * runs over DISTINCT values (the ksDrift discipline); per-type
    * sums are one map-side-combinable aggregate; the tie term and N
    * broadcast as a 1-row frame.
    */
  def mannWhitney(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.load(spark, dir, "events")
      .select(col("event_type"), col("value"))
    val perTypeVal = ev.groupBy(col("event_type"), col("value"))
      .agg(count(lit(1)).as("c"))
    val perVal = perTypeVal.groupBy(col("value"))
      .agg(sum(col("c")).as("cnt"))
      .withColumn("cum_before", coalesce(sum(col("cnt")).over(
        Window.orderBy(col("value"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    // tie term in DECIMAL(38,0): a fully-degenerate column at ~2e6+
    // rows overflows cnt^3 in int64; decimal keeps the sum exact and
    // only the final /(N(N-1)) division goes through double
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val globals = perVal.agg(sum(col("cnt")).as("n_total"),
      sum(col("cnt").cast(dec38) * col("cnt") * col("cnt") - col("cnt"))
        .as("tie_term"))
    val perType = perTypeVal.join(perVal, "value")
      .groupBy(col("event_type"))
      .agg(sum(col("c")).as("n1"),
        sum(col("c") * (lit(2) * col("cum_before") + col("cnt") + 1))
          .as("r2_sum"))
    perType.crossJoin(broadcast(globals))
      .withColumn("n2", col("n_total") - col("n1"))
      .withColumn("u",
        (col("r2_sum") - col("n1") * (col("n1") + 1)).cast("double") / 2.0)
      .withColumn("sigma2",
        (col("n1") * col("n2")).cast("double") / 12.0 *
          ((col("n_total").cast("double") + 1.0) -
            col("tie_term").cast("double") /
              (col("n_total").cast("double") *
                (col("n_total").cast("double") - 1.0))))
      .select(col("event_type"), col("n1"), col("n2"),
        round(col("u"), 6).as("u"),
        round((col("u") - (col("n1") * col("n2")).cast("double") / 2.0) /
          nullif(sqrt(col("sigma2")), lit(0.0)), 6).as("z"),
        round(lit(2.0) * col("u") /
          nullif((col("n1") * col("n2")).cast("double"), lit(0.0)) - 1.0, 6)
          .as("rank_biserial"))
      .orderBy(col("event_type"))
  }

  val mannWhitneySql: String =
    """WITH per_type_val AS (
      |  SELECT event_type, value, COUNT(*) AS c
      |  FROM events GROUP BY 1, 2
      |), per_val AS (
      |  SELECT value, SUM(c) AS cnt,
      |    COALESCE(SUM(SUM(c)) OVER (ORDER BY value
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
      |  FROM per_type_val GROUP BY value
      |), globals AS (
      |  SELECT SUM(cnt) AS n_total,
      |    SUM(CAST(cnt AS HUGEINT) * cnt * cnt - cnt) AS tie_term
      |  FROM per_val
      |), per_type AS (
      |  SELECT t.event_type, SUM(t.c) AS n1,
      |    SUM(t.c * (2 * v.cum_before + v.cnt + 1)) AS r2_sum
      |  FROM per_type_val t JOIN per_val v ON t.value = v.value
      |  GROUP BY t.event_type
      |)
      |SELECT event_type,
      |  CAST(n1 AS BIGINT) AS n1,
      |  CAST(g.n_total - n1 AS BIGINT) AS n2,
      |  ROUND(CAST(r2_sum - n1 * (n1 + 1) AS DOUBLE) / 2.0, 6) AS u,
      |  ROUND((CAST(r2_sum - n1 * (n1 + 1) AS DOUBLE) / 2.0
      |      - CAST(n1 * (g.n_total - n1) AS DOUBLE) / 2.0)
      |    / NULLIF(sqrt(CAST(n1 * (g.n_total - n1) AS DOUBLE) / 12.0
      |      * ((CAST(g.n_total AS DOUBLE) + 1.0)
      |        - CAST(g.tie_term AS DOUBLE)
      |          / (CAST(g.n_total AS DOUBLE)
      |            * (CAST(g.n_total AS DOUBLE) - 1.0)))), 0.0), 6) AS z,
      |  ROUND(2.0 * (CAST(r2_sum - n1 * (n1 + 1) AS DOUBLE) / 2.0)
      |    / NULLIF(CAST(n1 * (g.n_total - n1) AS DOUBLE), 0.0) - 1.0, 6)
      |    AS rank_biserial
      |FROM per_type, globals g
      |ORDER BY event_type""".stripMargin

  /** Lineitem ⋈ orders ⋈ supplier for ship lags: l_shipdate,
    * o_orderdate and the supplier's s_nationkey per line. */
  private def shippedLines(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
    val orders = Tables.load(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_orderdate"))
    val supp = Tables.load(spark, dir, "supplier")
      .select(col("s_suppkey"), col("s_nationkey"))
    li.join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
  }

  /** q264 — one-way ANOVA of shipping lag across supplier nations:
    * does WHERE a supplier sits explain ship-delay variance? The
    * F statistic with its effect size η² — the continuous-outcome-by-
    * categorical-factor test the suite's chi-square (q188, both
    * categorical) and two-sample tests (q213 KS, q238 U) don't cover.
    * One summary row: k groups, N, between/within sums of squares,
    * F, and η² = SSB/SST.
    *
    * Exactness: lag is an exact integer day difference, so Σx and
    * Σx² are exact BIGINTs; the between-group term Σ_g S_g²/n_g is
    * the precision hazard (a per-group double round diverges between
    * engines at 1e8 magnitudes — observed at sf0.1), so each group's
    * term is the exact scaled-integer floor division
    * (S_g² · 10⁶) div n_g in DECIMAL(38,0)/HUGEINT, summed exactly
    * and divided by 10⁶ once — the q229/q107 scaled-integer
    * discipline. The statistic is defined WITH that 1e-6-per-group
    * floor (deterministic on both engines; bias ≤ k·1e-6); the
    * remaining chain is identical double ops. NULLIF guards
    * degenerate layouts.
    *
    * Scale: one fact scan with the supplier dim broadcast, one
    * |nations|-sized aggregate, algebra on a k-row frame.
    */
  def anovaShipLag(spark: SparkSession, dir: String,
                   lateDaysCap: Int = 3650): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 6)
    val lags = shippedLines(spark, dir)
      .withColumn("lag_days",
        expr("datediff(l_shipdate, o_orderdate)").cast("double"))
      .filter(col("lag_days").between(0, lateDaysCap))
    val byGroup = lags.groupBy(col("s_nationkey"))
      .agg(count(lit(1)).as("n_g"),
        sum(col("lag_days").cast("long")).as("s_g"),
        sum((col("lag_days") * col("lag_days")).cast("long")).as("ss_g"))
    byGroup.agg(
        count(lit(1)).as("k"),
        sum(col("n_g")).as("n"),
        sum(col("s_g")).cast("double").as("sx"),
        sum(col("ss_g")).cast("double").as("sxx"),
        (sum(expr(
          "(CAST(s_g AS DECIMAL(38,0)) * s_g * 1000000) div n_g"))
          .cast("double") / 1e6).as("sb"))
      .select(col("k"), col("n"),
        round(col("sb") - col("sx") * col("sx") / col("n"), 6).as("ss_between"),
        round(col("sxx") - col("sb"), 6).as("ss_within"),
        round(((col("sb") - col("sx") * col("sx") / col("n")) /
          (col("k") - 1).cast("double")) /
          nullif((col("sxx") - col("sb")) /
            (col("n") - col("k")).cast("double"), lit(0.0)), 6).as("f_stat"),
        round((col("sb") - col("sx") * col("sx") / col("n")) /
          nullif(col("sxx") - col("sx") * col("sx") / col("n"), lit(0.0)), 6)
          .as("eta_sq"))
  }

  def anovaShipLagSql(lateDaysCap: Int = 3650): String =
    s"""WITH lags AS (
       |  SELECT s.s_nationkey,
       |    CAST(datediff('day', o.o_orderdate, l.l_shipdate) AS DOUBLE)
       |      AS lag_days
       |  FROM lineitem l
       |  JOIN orders o ON o.o_orderkey = l.l_orderkey
       |  JOIN supplier s ON s.s_suppkey = l.l_suppkey
       |), kept AS (
       |  SELECT * FROM lags WHERE lag_days BETWEEN 0 AND $lateDaysCap
       |), by_group AS (
       |  SELECT s_nationkey, COUNT(*) AS n_g,
       |    CAST(SUM(CAST(lag_days AS BIGINT)) AS BIGINT) AS s_g,
       |    CAST(SUM(CAST(lag_days * lag_days AS BIGINT)) AS BIGINT) AS ss_g
       |  FROM kept GROUP BY 1
       |), agg AS (
       |  SELECT COUNT(*) AS k, SUM(n_g) AS n,
       |    CAST(SUM(s_g) AS DOUBLE) AS sx,
       |    CAST(SUM(ss_g) AS DOUBLE) AS sxx,
       |    CAST(SUM((CAST(s_g AS HUGEINT) * s_g * 1000000) // n_g) AS DOUBLE)
       |      / 1e6 AS sb
       |  FROM by_group
       |)
       |SELECT CAST(k AS BIGINT) AS k, CAST(n AS BIGINT) AS n,
       |  ROUND(sb - sx * sx / n, 6) AS ss_between,
       |  ROUND(sxx - sb, 6) AS ss_within,
       |  ROUND(((sb - sx * sx / n) / CAST(k - 1 AS DOUBLE))
       |    / NULLIF((sxx - sb) / CAST(n - k AS DOUBLE), 0.0), 6) AS f_stat,
       |  ROUND((sb - sx * sx / n)
       |    / NULLIF(sxx - sx * sx / n, 0.0), 6) AS eta_sq
       |FROM agg""".stripMargin

  /** q284 — Tukey-HSD post-hoc pairs for the ship-lag ANOVA: q264
    * says WHETHER supplier nation explains ship-delay variance; this
    * says WHICH nation pairs actually differ — the studentized-range
    * q statistic |mean_i − mean_j| / √(MSW/2·(1/n_i + 1/n_j)) for
    * every nation pair, the standard all-pairs follow-up that
    * controls family-wise error where k·(k−1)/2 naive t-tests don't.
    * (The critical value against which q compares is a table lookup
    * at chosen α — the statistic itself is the data-dependent part.)
    *
    * Exactness: group means are single divisions of exact BIGINT
    * sums; MSW reuses q264's scaled-integer within-group term
    * verbatim (same 1e-6 floor definition), and each pair's q is one
    * fixed-order double chain rounded 6dp. Scale: the q264 aggregate
    * plus a k²-row broadcast self-join — catalog-sized.
    */
  def tukeyPairs(spark: SparkSession, dir: String,
                 lateDaysCap: Int = 3650): DataFrame = {
    val lags = shippedLines(spark, dir)
      .withColumn("lag", expr("datediff(l_shipdate, o_orderdate)"))
      .filter(col("lag").between(0, lateDaysCap))
    val byGroup = graft.Iterate.cut(lags.groupBy(col("s_nationkey"))
      .agg(count(lit(1)).as("n_g"),
        sum(col("lag").cast("long")).as("s_g"),
        sum((col("lag") * col("lag")).cast("long")).as("ss_g")))
    val msw = byGroup.agg(
        count(lit(1)).as("k"), sum(col("n_g")).as("n"),
        sum(col("ss_g")).cast("double").as("sxx"),
        (sum(expr(
          "(CAST(s_g AS DECIMAL(38,0)) * s_g * 1000000) div n_g"))
          .cast("double") / 1e6).as("sb"))
      .select(((col("sxx") - col("sb")) /
        (col("n") - col("k")).cast("double")).as("msw"))
    val a = byGroup.select(col("s_nationkey").as("nation_a"),
      col("n_g").as("n_a"), col("s_g").as("s_a"))
    val b = byGroup.select(col("s_nationkey").as("nation_b"),
      col("n_g").as("n_b"), col("s_g").as("s_b"))
    a.join(b, col("nation_a") < col("nation_b"))
      .crossJoin(broadcast(msw))
      .select(col("nation_a"), col("nation_b"),
        col("n_a"), col("n_b"),
        round(abs(col("s_a").cast("double") / col("n_a") -
          col("s_b").cast("double") / col("n_b")), 6).as("mean_gap"),
        round(abs(col("s_a").cast("double") / col("n_a") -
          col("s_b").cast("double") / col("n_b")) /
          sqrt(col("msw") * 0.5 *
            (lit(1.0) / col("n_a") + lit(1.0) / col("n_b"))), 6)
          .as("q_stat"))
      .orderBy(col("q_stat").desc, col("nation_a"), col("nation_b"))
  }

  def tukeyPairsSql(lateDaysCap: Int = 3650): String =
    s"""WITH lags AS (
       |  SELECT s.s_nationkey,
       |    datediff('day', o.o_orderdate, l.l_shipdate) AS lag
       |  FROM lineitem l
       |  JOIN orders o ON o.o_orderkey = l.l_orderkey
       |  JOIN supplier s ON s.s_suppkey = l.l_suppkey
       |  WHERE datediff('day', o.o_orderdate, l.l_shipdate)
       |    BETWEEN 0 AND $lateDaysCap
       |), by_group AS (
       |  SELECT s_nationkey, COUNT(*) AS n_g,
       |    SUM(CAST(lag AS BIGINT)) AS s_g,
       |    SUM(CAST(lag AS BIGINT) * lag) AS ss_g
       |  FROM lags GROUP BY 1
       |), msw AS (
       |  SELECT (CAST(SUM(ss_g) AS DOUBLE)
       |      - CAST(SUM((CAST(s_g AS HUGEINT) * s_g * 1000000) // n_g)
       |          AS DOUBLE) / 1e6)
       |    / CAST(SUM(n_g) - COUNT(*) AS DOUBLE) AS msw
       |  FROM by_group
       |)
       |SELECT a.s_nationkey AS nation_a, b.s_nationkey AS nation_b,
       |  CAST(a.n_g AS BIGINT) AS n_a, CAST(b.n_g AS BIGINT) AS n_b,
       |  ROUND(abs(CAST(a.s_g AS DOUBLE) / a.n_g
       |    - CAST(b.s_g AS DOUBLE) / b.n_g), 6) AS mean_gap,
       |  ROUND(abs(CAST(a.s_g AS DOUBLE) / a.n_g
       |      - CAST(b.s_g AS DOUBLE) / b.n_g)
       |    / sqrt(m.msw * 0.5 * (1.0 / a.n_g + 1.0 / b.n_g)), 6) AS q_stat
       |FROM by_group a
       |JOIN by_group b ON a.s_nationkey < b.s_nationkey
       |CROSS JOIN msw m
       |ORDER BY q_stat DESC, nation_a, nation_b""".stripMargin

  /** q286 — Brown–Forsythe robust variance-homogeneity test: q264's
    * ANOVA assumes the nations share a variance; this CHECKS it —
    * the Levene family's median variant (deviations from the group
    * MEDIAN, robust to the skew a lag distribution always has):
    * F_BF = one-way ANOVA on |x − med_g|. Large F ⇒ q264's
    * equal-variance premise is the thing that differs, and its F
    * should be read with Welch-style caution. Completes the ANOVA
    * trilogy: omnibus q264 → post-hoc q284 → assumption audit.
    *
    * Exactness: group medians come DOUBLED from per-value cumulative
    * counts (2·med = lower + upper order statistic — exact integers,
    * no interpolation ambiguity), so z = |2x − 2·med| is an exact
    * integer per value and all sufficient sums are BIGINT at the
    * VALUE grain (weights = counts). The between-group term uses the
    * q269 overflow-safe decimal floor-division (1e-6 grain); the
    * doubling cancels in F. Scale: the q264 aggregate plus one
    * per-group median scan over the (group, value) grid — no per-row
    * second pass.
    */
  def brownForsythe(spark: SparkSession, dir: String,
                    lateDaysCap: Int = 3650): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val gv = shippedLines(spark, dir)
      .select(col("s_nationkey").as("grp"),
        expr("datediff(l_shipdate, o_orderdate)").as("v"))
      .filter(col("v").between(0, lateDaysCap))
      .groupBy(col("grp"), col("v")).agg(count(lit(1)).as("c"))
      .transform(graft.Iterate.cut) // median scan + deviation aggregate share it
    val wCum = Window.partitionBy(col("grp")).orderBy(col("v"))
    val wAll = Window.partitionBy(col("grp"))
    val med = gv
      .withColumn("cr", sum(col("c")).over(wCum))
      .withColumn("n_g", sum(col("c")).over(wAll))
      .groupBy(col("grp"))
      .agg((min(when(col("cr") >= expr("(n_g + 1) div 2"), col("v"))) +
        min(when(col("cr") >= expr("(n_g + 2) div 2"), col("v")))).as("m2"))
    val byGroup = gv.join(med, "grp")
      .select(col("grp"), col("c"),
        abs(lit(2) * col("v") - col("m2")).as("z"))
      .groupBy(col("grp"))
      .agg(sum(col("c")).as("n_g"),
        sum(col("c") * col("z")).as("s_g"),
        sum(col("c") * col("z") * col("z")).as("ss_g"))
    byGroup.agg(
        count(lit(1)).as("k"), sum(col("n_g")).as("n"),
        sum(col("s_g")).cast("double").as("sx"),
        sum(col("ss_g")).cast("double").as("sxx"),
        (sum(expr(
          """(CAST(s_g AS DECIMAL(38,0)) * s_g * 1000000
            |  - (CAST(s_g AS DECIMAL(38,0)) * s_g * 1000000) % n_g)
            |  / n_g""".stripMargin))
          .cast("double") / 1e6).as("sb"))
      .select(col("k").cast("int").as("k"), col("n").cast("long").as("n"),
        round(((col("sb") - col("sx") * col("sx") / col("n")) /
          (col("k") - 1).cast("double")) /
          nullif((col("sxx") - col("sb")) /
            (col("n") - col("k")).cast("double"), lit(0.0)), 6).as("f_bf"))
  }

  def brownForsytheSql(lateDaysCap: Int = 3650): String =
    s"""WITH lags AS (
       |  SELECT s.s_nationkey AS grp,
       |    datediff('day', o.o_orderdate, l.l_shipdate) AS v
       |  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
       |  JOIN supplier s ON s.s_suppkey = l.l_suppkey
       |  WHERE datediff('day', o.o_orderdate, l.l_shipdate)
       |    BETWEEN 0 AND $lateDaysCap
       |), gv AS (
       |  SELECT grp, v, COUNT(*) AS c FROM lags GROUP BY 1, 2
       |), cum AS (
       |  SELECT grp, v, c,
       |    SUM(c) OVER (PARTITION BY grp ORDER BY v) AS cr,
       |    SUM(c) OVER (PARTITION BY grp) AS n_g
       |  FROM gv
       |), med AS (
       |  SELECT grp,
       |    MIN(CASE WHEN cr >= (n_g + 1) // 2 THEN v END)
       |      + MIN(CASE WHEN cr >= (n_g + 2) // 2 THEN v END) AS m2
       |  FROM cum GROUP BY grp
       |), z AS (
       |  SELECT g.grp, abs(2 * g.v - m.m2) AS z, g.c
       |  FROM gv g JOIN med m ON m.grp = g.grp
       |), by_group AS (
       |  SELECT grp, SUM(c) AS n_g,
       |    SUM(CAST(c AS BIGINT) * z) AS s_g,
       |    SUM(CAST(c AS BIGINT) * z * z) AS ss_g
       |  FROM z GROUP BY grp
       |), agg AS (
       |  SELECT COUNT(*) AS k, SUM(n_g) AS n,
       |    CAST(SUM(s_g) AS DOUBLE) AS sx,
       |    CAST(SUM(ss_g) AS DOUBLE) AS sxx,
       |    CAST(SUM((CAST(s_g AS HUGEINT) * s_g * 1000000) // n_g) AS DOUBLE)
       |      / 1e6 AS sb
       |  FROM by_group
       |)
       |SELECT CAST(k AS INT) AS k, CAST(n AS BIGINT) AS n,
       |  ROUND(((sb - sx * sx / n) / CAST(k - 1 AS DOUBLE))
       |    / NULLIF((sxx - sb) / CAST(n - k AS DOUBLE), 0.0), 6) AS f_bf
       |FROM agg""".stripMargin

  /** q287 — Welch's ANOVA of ship lag by supplier nation: the
    * unequal-variance alternative q286's Brown–Forsythe tells you to
    * reach for — group means compared under per-group variance
    * weights w_g = n_g/s_g², with Welch's denominator correction and
    * the Welch–Satterthwaite df₂. Completes the one-way family:
    * q264 (pooled F) / q284 (post-hoc) / q286 (assumption) / this
    * (the assumption-free refit).
    *
    * Exactness: w_g and m_g are ratios of EXACT integers (variance
    * numerator n·Σx² − (Σx)² in DECIMAL(38,0)), each 6dp-rounded
    * into DECIMAL weights so the weight total and weighted-mean
    * numerator are exact decimal sums; the two nonlinear term sums
    * (A = Σw(m − m̄)², B = Σ(1 − w/W)²/(n−1)) round each term to 6dp
    * into DECIMAL accumulators — the aggregate-stable convention
    * (order-independent, engine-identical; the statistic is DEFINED
    * at that grain). Scale: the q264 aggregate + k-row algebra.
    */
  def welchAnova(spark: SparkSession, dir: String,
                 lateDaysCap: Int = 3650): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(18, 6)
    val byGroup = shippedLines(spark, dir)
      .select(col("s_nationkey").as("grp"),
        expr("datediff(l_shipdate, o_orderdate)").as("v"))
      .filter(col("v").between(0, lateDaysCap))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n_g"),
        sum(col("v").cast("long")).as("s_g"),
        sum((col("v") * col("v")).cast("long")).as("ss_g"))
      .filter(col("n_g") >= 2)
      .withColumn("m6", round(col("s_g").cast("double") / col("n_g"), 6)
        .cast(dec))
      .withColumn("w6", round(
        col("n_g").cast("double") /
          (expr("CAST(n_g AS DECIMAL(38,0)) * ss_g - " +
            "CAST(s_g AS DECIMAL(38,0)) * s_g").cast("double") /
            (col("n_g").cast("double") * (col("n_g") - 1))), 6).cast(dec))
    val tot = byGroup.agg(
      count(lit(1)).as("k"), sum(col("n_g")).as("n"),
      sum(col("w6")).as("w_tot"),
      sum(col("w6") * col("m6")).as("wm_tot"))
    val withBar = byGroup.crossJoin(broadcast(tot))
      .withColumn("m_bar",
        col("wm_tot").cast("double") / col("w_tot").cast("double"))
    val sums = withBar.agg(
      max(col("k")).as("k"), max(col("n")).as("n"),
      sum(round(col("w6").cast("double") *
        (col("m6").cast("double") - col("m_bar")) *
        (col("m6").cast("double") - col("m_bar")), 6).cast(dec))
        .cast("double").as("a"),
      sum(round(
        (lit(1.0) - col("w6").cast("double") / col("w_tot").cast("double")) *
        (lit(1.0) - col("w6").cast("double") / col("w_tot").cast("double")) /
        (col("n_g") - 1), 6).cast(dec)).cast("double").as("b"))
    sums.select(col("k").cast("int").as("k"), col("n").cast("long").as("n"),
      round((col("a") / (col("k") - 1).cast("double")) /
        (lit(1.0) + lit(2.0) * (col("k") - 2) /
          ((col("k") * col("k") - 1).cast("double")) * col("b")), 6)
        .as("f_welch"),
      round((col("k") * col("k") - 1).cast("double") / (lit(3.0) * col("b")),
        6).as("df2"))
  }

  def welchAnovaSql(lateDaysCap: Int = 3650): String =
    s"""WITH lags AS (
       |  SELECT s.s_nationkey AS grp,
       |    datediff('day', o.o_orderdate, l.l_shipdate) AS v
       |  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
       |  JOIN supplier s ON s.s_suppkey = l.l_suppkey
       |  WHERE datediff('day', o.o_orderdate, l.l_shipdate)
       |    BETWEEN 0 AND $lateDaysCap
       |), by_group AS (
       |  SELECT grp, COUNT(*) AS n_g,
       |    SUM(CAST(v AS BIGINT)) AS s_g,
       |    SUM(CAST(v AS BIGINT) * v) AS ss_g
       |  FROM lags GROUP BY grp HAVING COUNT(*) >= 2
       |), weighted AS (
       |  SELECT grp, n_g,
       |    CAST(ROUND(CAST(s_g AS DOUBLE) / n_g, 6) AS DECIMAL(18,6)) AS m6,
       |    CAST(ROUND(CAST(n_g AS DOUBLE)
       |      / (CAST(CAST(n_g AS HUGEINT) * ss_g
       |          - CAST(s_g AS HUGEINT) * s_g AS DOUBLE)
       |        / (CAST(n_g AS DOUBLE) * (n_g - 1))), 6)
       |      AS DECIMAL(18,6)) AS w6
       |  FROM by_group
       |), tot AS (
       |  SELECT COUNT(*) AS k, SUM(n_g) AS n, SUM(w6) AS w_tot,
       |    SUM(w6 * m6) AS wm_tot
       |  FROM weighted
       |), sums AS (
       |  SELECT MAX(t.k) AS k, MAX(t.n) AS n,
       |    CAST(SUM(CAST(ROUND(CAST(w6 AS DOUBLE)
       |      * (CAST(m6 AS DOUBLE)
       |          - CAST(t.wm_tot AS DOUBLE) / CAST(t.w_tot AS DOUBLE))
       |      * (CAST(m6 AS DOUBLE)
       |          - CAST(t.wm_tot AS DOUBLE) / CAST(t.w_tot AS DOUBLE)), 6)
       |      AS DECIMAL(18,6))) AS DOUBLE) AS a,
       |    CAST(SUM(CAST(ROUND(
       |      (1.0 - CAST(w6 AS DOUBLE) / CAST(t.w_tot AS DOUBLE))
       |      * (1.0 - CAST(w6 AS DOUBLE) / CAST(t.w_tot AS DOUBLE))
       |      / (n_g - 1), 6) AS DECIMAL(18,6))) AS DOUBLE) AS b
       |  FROM weighted, tot t
       |)
       |SELECT CAST(k AS INT) AS k, CAST(n AS BIGINT) AS n,
       |  ROUND((a / CAST(k - 1 AS DOUBLE))
       |    / (1.0 + 2.0 * (k - 2) / CAST(k * k - 1 AS DOUBLE) * b), 6)
       |    AS f_welch,
       |  ROUND(CAST(k * k - 1 AS DOUBLE) / (3.0 * b), 6) AS df2
       |FROM sums""".stripMargin

  /** q256 — Spearman rank correlation per language between document
    * length and the composite quality score: "does the quality score
    * just measure length?" — the monotone-association audit Pearson
    * (q143) can't give (Pearson rewards linearity; Spearman any
    * monotone link), run per language because the score's stopword
    * term is English-anchored.
    *
    * Exactness: midranks are kept as INTEGER doubled-ranks
    * (2·midrank = 2·rank + tie_count − 1, the q238 discipline), so
    * all six sufficient sums (n, Σx, Σy, Σxy, Σx², Σy²) are exact
    * BIGINTs; ρ is one double expression over them, rounded 6dp —
    * identical chains on both engines. Degenerate groups (any
    * zero-variance side) yield NULL via NULLIF.
    *
    * Scale: two lang-partitioned windows (rank + tie count each ride
    * one sort) and one lang aggregate. Long sums bound: Σx² ≤ 4n³ —
    * fine to ~10⁶ rows per group; beyond that, reconstruct ranks from
    * value-aggregated counts (the q238 shape) before summing.
    */
  def spearman(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.TextFunctions.qualityScore
    val docs = Tables.load(spark, dir, "documents")
      .select(col("lang"), col("n_chars").as("xv"),
        qualityScore(col("text")).as("yv"))
    def r2(v: String) = {
      val wRank = Window.partitionBy(col("lang")).orderBy(col(v))
      val wTies = Window.partitionBy(col("lang"), col(v))
      (lit(2) * rank().over(wRank) + count(lit(1)).over(wTies) - 1)
        .cast("long")
    }
    val ranked = docs
      .withColumn("x", r2("xv"))
      .withColumn("y", r2("yv"))
    ranked.groupBy(col("lang"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .select(col("lang"), col("n"),
        round((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
          nullif(sqrt((col("n") * col("sxx") - col("sx") * col("sx"))
              .cast("double") *
            (col("n") * col("syy") - col("sy") * col("sy")).cast("double")),
            lit(0.0)), 6).as("spearman_rho"))
      .orderBy(col("lang"))
  }

  /** q328 — cross-modal consistency audit: per language, Spearman AND
    * Pearson correlation between the TEXT-side quality score (q23)
    * and the EMBEDDING-side vector norm (q150's fold), joined on the
    * 1:1 doc_id = vec_id correspondence. The "do my two modality
    * pipelines agree about which documents are healthy" reading: a
    * strong correlation means the embedding norm can pre-filter
    * before the (costlier) text scoring at ingest; a sign flip in one
    * language localizes an encoder problem the global number hides.
    *
    * Exactness: Spearman rides the q256 doubled-midrank discipline
    * (pure integers); Pearson follows the q102 convention — 6dp
    * inputs, rounded products, DECIMAL sums, one double chain.
    * Scale: one broadcast-sized id join, two per-lang rank windows,
    * one aggregate.
    */
  def crossModalAudit(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.TextFunctions.qualityScore
    val dec = org.apache.spark.sql.types.DecimalType(28, 6)
    def dsum(c: Column): Column = sum(c.cast(dec)).cast("double")
    val norm2 = expr(
      """aggregate(embedding, cast(0.0 as double),
        |  (acc, x) -> acc + cast(x as double) * cast(x as double))""".stripMargin)
    val joined = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), qualityScore(col("text")).as("q"))
      .join(Tables.load(spark, dir, "embeddings")
          .select(col("vec_id").as("doc_id"), round(sqrt(norm2), 6).as("nm")),
        "doc_id")
    def r2(v: String) = {
      val wRank = Window.partitionBy(col("lang")).orderBy(col(v))
      val wTies = Window.partitionBy(col("lang"), col(v))
      (lit(2) * rank().over(wRank) + count(lit(1)).over(wTies) - 1)
        .cast("long")
    }
    val ranked = joined
      .withColumn("x", r2("q")).withColumn("y", r2("nm"))
    ranked.groupBy(col("lang"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("rx"), sum(col("y")).as("ry"),
        sum(col("x") * col("y")).as("rxy"),
        sum(col("x") * col("x")).as("rxx"),
        sum(col("y") * col("y")).as("ryy"),
        dsum(col("q")).as("sq"), dsum(col("nm")).as("sn"),
        dsum(round(col("q") * col("nm"), 6)).as("sqn"),
        dsum(round(col("q") * col("q"), 6)).as("sqq"),
        dsum(round(col("nm") * col("nm"), 6)).as("snn"))
      .select(col("lang"), col("n"),
        round((col("n") * col("rxy") - col("rx") * col("ry")).cast("double") /
          nullif(sqrt((col("n") * col("rxx") - col("rx") * col("rx"))
              .cast("double") *
            (col("n") * col("ryy") - col("ry") * col("ry")).cast("double")),
            lit(0.0)), 6).as("spearman_rho"),
        round((col("n") * col("sqn") - col("sq") * col("sn")) /
          nullif(sqrt((col("n") * col("sqq") - col("sq") * col("sq")) *
            (col("n") * col("snn") - col("sn") * col("sn"))), lit(0.0)), 6)
          .as("pearson_r"))
      .orderBy(col("lang"))
  }

  val crossModalAuditSql: String =
    s"""WITH joined AS (
      |  SELECT d.lang, ${graft.operators.TextAnalysis.qualityExprSql} AS q,
      |    ROUND(sqrt(list_reduce(list_prepend(0.0,
      |      [CAST(x AS DOUBLE) * CAST(x AS DOUBLE) for x in e.embedding]),
      |      (a, b) -> a + b)), 6) AS nm
      |  FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
      |), ranked AS (
      |  SELECT lang, q, nm,
      |    CAST(2 * RANK() OVER (PARTITION BY lang ORDER BY q)
      |      + COUNT(*) OVER (PARTITION BY lang, q) - 1 AS BIGINT) AS x,
      |    CAST(2 * RANK() OVER (PARTITION BY lang ORDER BY nm)
      |      + COUNT(*) OVER (PARTITION BY lang, nm) - 1 AS BIGINT) AS y
      |  FROM joined
      |), agg AS (
      |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(x) AS BIGINT) AS rx, CAST(SUM(y) AS BIGINT) AS ry,
      |    CAST(SUM(x * y) AS BIGINT) AS rxy,
      |    CAST(SUM(x * x) AS BIGINT) AS rxx,
      |    CAST(SUM(y * y) AS BIGINT) AS ryy,
      |    CAST(SUM(CAST(q AS DECIMAL(28,6))) AS DOUBLE) AS sq,
      |    CAST(SUM(CAST(nm AS DECIMAL(28,6))) AS DOUBLE) AS sn,
      |    CAST(SUM(CAST(ROUND(q * nm, 6) AS DECIMAL(28,6))) AS DOUBLE) AS sqn,
      |    CAST(SUM(CAST(ROUND(q * q, 6) AS DECIMAL(28,6))) AS DOUBLE) AS sqq,
      |    CAST(SUM(CAST(ROUND(nm * nm, 6) AS DECIMAL(28,6))) AS DOUBLE) AS snn
      |  FROM ranked GROUP BY lang
      |)
      |SELECT lang, n,
      |  ROUND(CAST(n * rxy - rx * ry AS DOUBLE) /
      |    NULLIF(sqrt(CAST(n * rxx - rx * rx AS DOUBLE)
      |      * CAST(n * ryy - ry * ry AS DOUBLE)), 0.0), 6) AS spearman_rho,
      |  ROUND((n * sqn - sq * sn) /
      |    NULLIF(sqrt((n * sqq - sq * sq) * (n * snn - sn * sn)), 0.0), 6)
      |    AS pearson_r
      |FROM agg ORDER BY lang""".stripMargin

  val spearmanSql: String =
    s"""WITH base AS (
      |  SELECT lang, n_chars AS xv,
      |    ${graft.operators.TextAnalysis.qualityExprSql} AS yv
      |  FROM documents
      |), ranked AS (
      |  SELECT lang,
      |    CAST(2 * RANK() OVER (PARTITION BY lang ORDER BY xv)
      |      + COUNT(*) OVER (PARTITION BY lang, xv) - 1 AS BIGINT) AS x,
      |    CAST(2 * RANK() OVER (PARTITION BY lang ORDER BY yv)
      |      + COUNT(*) OVER (PARTITION BY lang, yv) - 1 AS BIGINT) AS y
      |  FROM base
      |), agg AS (
      |  SELECT lang, COUNT(*) AS n,
      |    SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy,
      |    SUM(x * x) AS sxx, SUM(y * y) AS syy
      |  FROM ranked GROUP BY lang
      |)
      |SELECT lang, CAST(n AS BIGINT) AS n,
      |  ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
      |    / NULLIF(sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
      |        * CAST(n * syy - sy * sy AS DOUBLE)), 0.0), 6) AS spearman_rho
      |FROM agg ORDER BY lang""".stripMargin

  /** q239 — weight-of-evidence / information-value feature screen:
    * per candidate feature (market segment; account-balance band),
    * the per-bucket WOE against the urgent-order label
    * (o_orderpriority = '1-URGENT') and the feature's total IV — the
    * credit-scoring-standard "which attributes carry signal about the
    * outcome" screen, run before any model exists. IV ≈ 0 means the
    * feature is noise for this label; buckets with |WOE| ≫ 0 are the
    * segments worth a dedicated rule.
    *
    * Exactness: WOE's log argument is a ratio of exact integer
    * products, ln((pos·NEG)/(neg·POS)) — products stay well inside
    * double-exact range — rounded at 6dp (the suite's log10/ln
    * convention); buckets where either class count is zero yield NULL
    * WOE (log of 0 or ∞) via NULLIF guards on both engines and
    * contribute nothing to IV (sum skips nulls). The iv_term divides
    * by per-feature totals only under the same NULLIF guards, so a
    * label that is empty at some SF degrades to NULL rows instead of
    * erroring (ANSI division).
    *
    * Scale: one orders→customer key join (customer broadcasts at dim
    * scale); counts collapse to the bucket domain (segments + balance
    * bands — tens of rows) before any window; the IV window runs over
    * that tiny relation.
    */
  def woeIv(spark: SparkSession, dir: String,
            balBand: Double = 2000.0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val oc = Tables.load(spark, dir, "orders")
      .select(col("o_custkey"),
        (col("o_orderpriority") === "1-URGENT").cast("int").as("is_pos"))
      .join(broadcast(Tables.load(spark, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))),
        col("o_custkey") === col("c_custkey"))
    val feats = oc.select(col("is_pos"),
        lit("mktsegment").as("feature"), col("c_mktsegment").as("bucket"))
      .unionByName(oc.select(col("is_pos"),
        lit("bal_band").as("feature"),
        floor(col("c_acctbal") / balBand).cast("long").cast("string")
          .as("bucket")))
    val cells = feats.groupBy(col("feature"), col("bucket"))
      .agg(sum(col("is_pos")).as("n_pos"),
        sum(lit(1) - col("is_pos")).as("n_neg"))
    val wf = Window.partitionBy(col("feature"))
    cells
      .withColumn("tot_pos", sum(col("n_pos")).over(wf))
      .withColumn("tot_neg", sum(col("n_neg")).over(wf))
      .withColumn("woe", round(log(
        nullif((col("n_pos") * col("tot_neg")).cast("double"), lit(0.0)) /
          nullif((col("n_neg") * col("tot_pos")).cast("double"), lit(0.0))), 6))
      .withColumn("iv_term",
        (col("n_pos").cast("double") /
          nullif(col("tot_pos").cast("double"), lit(0.0)) -
          col("n_neg").cast("double") /
            nullif(col("tot_neg").cast("double"), lit(0.0))) * col("woe"))
      .withColumn("iv_total", round(sum(col("iv_term")).over(wf), 6))
      .select(col("feature"), col("bucket"), col("n_pos"), col("n_neg"),
        col("woe"), col("iv_total"))
      .orderBy(col("feature"), col("bucket"))
  }

  def woeIvSql(balBand: Double = 2000.0): String =
    s"""WITH oc AS (
      |  SELECT CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END
      |      AS is_pos,
      |    c.c_mktsegment, c.c_acctbal
      |  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      |), feats AS (
      |  SELECT is_pos, 'mktsegment' AS feature, c_mktsegment AS bucket
      |  FROM oc
      |  UNION ALL
      |  SELECT is_pos, 'bal_band' AS feature,
      |    CAST(CAST(FLOOR(c_acctbal / $balBand) AS BIGINT) AS VARCHAR)
      |      AS bucket
      |  FROM oc
      |), cells AS (
      |  SELECT feature, bucket,
      |    SUM(is_pos) AS n_pos, SUM(1 - is_pos) AS n_neg
      |  FROM feats GROUP BY 1, 2
      |), w AS (
      |  SELECT feature, bucket, n_pos, n_neg,
      |    SUM(n_pos) OVER (PARTITION BY feature) AS tot_pos,
      |    SUM(n_neg) OVER (PARTITION BY feature) AS tot_neg
      |  FROM cells
      |), scored AS (
      |  SELECT feature, bucket, n_pos, n_neg,
      |    ROUND(ln(NULLIF(CAST(n_pos * tot_neg AS DOUBLE), 0.0)
      |      / NULLIF(CAST(n_neg * tot_pos AS DOUBLE), 0.0)), 6) AS woe,
      |    (CAST(n_pos AS DOUBLE) / NULLIF(CAST(tot_pos AS DOUBLE), 0.0)
      |      - CAST(n_neg AS DOUBLE) / NULLIF(CAST(tot_neg AS DOUBLE), 0.0))
      |      * ROUND(ln(NULLIF(CAST(n_pos * tot_neg AS DOUBLE), 0.0)
      |        / NULLIF(CAST(n_neg * tot_pos AS DOUBLE), 0.0)), 6) AS iv_term
      |  FROM w
      |)
      |SELECT feature, bucket,
      |  CAST(n_pos AS BIGINT) AS n_pos, CAST(n_neg AS BIGINT) AS n_neg,
      |  woe,
      |  ROUND(SUM(iv_term) OVER (PARTITION BY feature), 6) AS iv_total
      |FROM scored
      |ORDER BY feature, bucket""".stripMargin

  /** Lineitem ⋈ orders: l_shipdate, o_orderdate and o_orderpriority
    * per line. */
  private def prioritizedLines(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_shipdate"))
    val orders = Tables.load(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
    li.join(orders, col("l_orderkey") === col("o_orderkey"))
  }

  /** q269 — Kruskal–Wallis H across order priorities: does priority
    * class shift the ship-lag DISTRIBUTION? The k-group rank-based
    * completion of the two-sample tests (q238 Mann–Whitney is k=2;
    * q264 ANOVA assumes the mean is the story) — the distribution-free
    * omnibus test a skewed lag metric actually wants. One summary row:
    * k, N, tie-corrected H, and ε² = (H − k + 1)/(N − k) effect size.
    *
    * Exactness: ranks are never materialized per row — midranks are
    * reconstructed from per-value cumulative counts (the q238
    * discipline), so each group's doubled rank-sum 2R_g is an exact
    * BIGINT. The hazard term Σ R_g²/n_g becomes the exact
    * scaled-integer floor division Σ ((2R_g)²·10⁶) div (4n_g) in
    * DECIMAL(38,0)/HUGEINT (the q264 argument: deterministic on both
    * engines, bias ≤ k·1e-6 absorbed into the statistic's
    * definition); the tie term Σ(t³−t) rides the same exact path as
    * q238. The remaining chain is an identical double expression.
    *
    * Scale: two value-grain aggregates (lag has ~thousands of
    * distinct days) and a k-row reduction — no global sort, no
    * per-row rank shuffle; the fact scan is the only big read.
    */
  def kruskalWallis(spark: SparkSession, dir: String,
                    lateDaysCap: Int = 3650): DataFrame = {
    val lags = prioritizedLines(spark, dir)
      .select(col("o_orderpriority").as("grp"),
        expr("datediff(l_shipdate, o_orderdate)").as("lag"))
      .filter(col("lag").between(0, lateDaysCap))
    val perGrpVal = lags.groupBy(col("grp"), col("lag"))
      .agg(count(lit(1)).as("c"))
    val perVal = perGrpVal.groupBy(col("lag"))
      .agg(sum(col("c")).as("cnt"))
      .withColumn("cum_before", coalesce(
        sum(col("cnt")).over(org.apache.spark.sql.expressions.Window
          .orderBy(col("lag")).rowsBetween(Long.MinValue, -1)), lit(0L)))
    val perGrp = perGrpVal.join(perVal, Seq("lag"))
      .groupBy(col("grp"))
      .agg(sum(col("c")).as("n_g"),
        // doubled rank-sum: Sum c * (2*cum_before + cnt + 1), exact
        sum(col("c") * (lit(2) * col("cum_before") + col("cnt") + 1))
          .as("r2_g"))
    val ties = perVal.agg(
      sum(col("cnt")).as("n_total"),
      sum(expr("CAST(cnt AS DECIMAL(38,0)) * cnt * cnt - cnt")).as("tie_term"))
    perGrp.agg(
        count(lit(1)).as("k"),
        // Sum R_g^2/n_g = Sum (2R_g)^2/(4 n_g), floored at 1e-6 grain.
        // NOT `div`: Spark's IntegralDivide always RETURNS LONG, and
        // (2R)^2*1e6/(4n) ~ 1e23 at sf0.1 wraps negative (caught by
        // the sf0.1 sweep). Subtract-remainder-then-divide keeps the
        // exact floor quotient in DECIMAL — an exact integer, so the
        // decimal division introduces no rounding.
        (sum(expr(
          """(CAST(r2_g AS DECIMAL(38,0)) * r2_g * 1000000
            |  - (CAST(r2_g AS DECIMAL(38,0)) * r2_g * 1000000) % (4 * n_g))
            |  / (4 * n_g)""".stripMargin))
          .cast("double") / 1e6).as("sb"))
      .crossJoin(broadcast(ties))
      .select(col("k").cast("int").as("k"),
        col("n_total").cast("long").as("n"),
        round(
          (lit(12.0) * col("sb") /
            (col("n_total").cast("double") * (col("n_total") + 1)) -
            lit(3.0) * (col("n_total") + 1)) /
          nullif(lit(1.0) - col("tie_term").cast("double") /
            (col("n_total").cast("double") * col("n_total") * col("n_total")
              - col("n_total")), lit(0.0)), 6).as("h_stat"),
        round(
          ((lit(12.0) * col("sb") /
            (col("n_total").cast("double") * (col("n_total") + 1)) -
            lit(3.0) * (col("n_total") + 1)) /
          nullif(lit(1.0) - col("tie_term").cast("double") /
            (col("n_total").cast("double") * col("n_total") * col("n_total")
              - col("n_total")), lit(0.0))
            - col("k") + 1) /
          nullif((col("n_total") - col("k")).cast("double"), lit(0.0)), 6)
          .as("epsilon_sq"))
  }

  def kruskalWallisSql(lateDaysCap: Int = 3650): String =
    s"""WITH lags AS (
       |  SELECT o.o_orderpriority AS grp,
       |    datediff('day', o.o_orderdate, l.l_shipdate) AS lag
       |  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
       |  WHERE datediff('day', o.o_orderdate, l.l_shipdate)
       |    BETWEEN 0 AND $lateDaysCap
       |), per_grp_val AS (
       |  SELECT grp, lag, COUNT(*) AS c FROM lags GROUP BY 1, 2
       |), per_val AS (
       |  SELECT lag, SUM(c) AS cnt,
       |    COALESCE(SUM(SUM(c)) OVER (ORDER BY lag
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS cum_before
       |  FROM per_grp_val GROUP BY lag
       |), per_grp AS (
       |  SELECT g.grp, SUM(g.c) AS n_g,
       |    SUM(g.c * (2 * v.cum_before + v.cnt + 1)) AS r2_g
       |  FROM per_grp_val g JOIN per_val v ON g.lag = v.lag
       |  GROUP BY g.grp
       |), ties AS (
       |  SELECT SUM(cnt) AS n_total,
       |    SUM(CAST(cnt AS HUGEINT) * cnt * cnt - cnt) AS tie_term
       |  FROM per_val
       |), agg AS (
       |  SELECT COUNT(*) AS k,
       |    CAST(SUM((CAST(r2_g AS HUGEINT) * r2_g * 1000000) // (4 * n_g))
       |      AS DOUBLE) / 1e6 AS sb
       |  FROM per_grp
       |)
       |SELECT CAST(k AS INT) AS k, CAST(t.n_total AS BIGINT) AS n,
       |  ROUND(
       |    (12.0 * sb / (CAST(t.n_total AS DOUBLE) * (t.n_total + 1))
       |      - 3.0 * (t.n_total + 1))
       |    / NULLIF(1.0 - CAST(t.tie_term AS DOUBLE)
       |      / (CAST(t.n_total AS DOUBLE) * t.n_total * t.n_total
       |        - t.n_total), 0.0), 6) AS h_stat,
       |  ROUND(
       |    ((12.0 * sb / (CAST(t.n_total AS DOUBLE) * (t.n_total + 1))
       |      - 3.0 * (t.n_total + 1))
       |    / NULLIF(1.0 - CAST(t.tie_term AS DOUBLE)
       |      / (CAST(t.n_total AS DOUBLE) * t.n_total * t.n_total
       |        - t.n_total), 0.0) - k + 1)
       |    / NULLIF(CAST(t.n_total - k AS DOUBLE), 0.0), 6) AS epsilon_sq
       |FROM agg, ties t""".stripMargin

  /** q279 — Jonckheere–Terpstra ordered-trend test: does ship lag
    * MONOTONICALLY shift across the priority ladder (1-URGENT → …
    * → 5-LOW)? q269's Kruskal–Wallis asks "are the groups different
    * at all"; JT spends its power on the ordered alternative the
    * priority scale actually encodes — JT = Σ_{i<j} U_ij over every
    * ordered group pair, each U the Mann–Whitney count of
    * cross-pair inversions. Reports JT and the normal z against the
    * no-trend null (classical no-tie variance — the standard
    * approximation, stated as such; ties enter U via the ½ midrank
    * convention).
    *
    * Exactness: DOUBLED U (2U = Σ_v 2·c_j(v)·C_i(<v) + c_i(v)·c_j(v))
    * is an exact integer accumulated in DECIMAL(38,0)/HUGEINT from
    * per-(group, value) counts — no per-row ranks, no double sums;
    * the z chain is one fixed-order double expression over exact
    * totals. The (group × value) grid densifies so cumulative counts
    * align across groups at every observed value.
    *
    * Scale: one fact scan into a (k·V)-sized grid (V = distinct
    * lags), k windows over it, one value-aligned pair join bounded by
    * k²·V — catalog-scale algebra after the scan, like q269.
    */
  def jonckheereTerpstra(spark: SparkSession, dir: String,
                         lateDaysCap: Int = 3650): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val gv = prioritizedLines(spark, dir)
      .select(col("o_orderpriority").as("grp"),
        expr("datediff(l_shipdate, o_orderdate)").as("v"))
      .filter(col("v").between(0, lateDaysCap))
      .groupBy(col("grp"), col("v")).agg(count(lit(1)).as("c"))
      .transform(graft.Iterate.cut) // grid + sizes + groups share one aggregate
    val dense = gv.select(col("grp")).distinct()
      .crossJoin(gv.select(col("v")).distinct())
      .join(gv, Seq("grp", "v"), "left")
      .withColumn("c", coalesce(col("c"), lit(0L)))
    val cum = dense.withColumn("cb", coalesce(
      sum(col("c")).over(Window.partitionBy(col("grp")).orderBy(col("v"))
        .rowsBetween(Long.MinValue, -1)), lit(0L)))
    val u2 = cum.as("i").join(cum.as("j"),
        col("i.v") === col("j.v") && col("i.grp") < col("j.grp"))
      .agg(sum(expr(
        "CAST(2 * j.c * i.cb + i.c * j.c AS DECIMAL(38,0))")).as("u2"))
    val tot = gv.groupBy(col("grp")).agg(sum(col("c")).as("n"))
      .agg(count(lit(1)).as("k"), sum(col("n")).as("n_all"),
        sum(expr("CAST(n AS DECIMAL(38,0)) * n")).as("sn2"),
        sum(expr("CAST(n AS DECIMAL(38,0)) * n * (2 * n + 3)")).as("sn23"))
    u2.crossJoin(broadcast(tot))
      .select(col("k").cast("int").as("k"),
        col("n_all").cast("long").as("n"),
        (col("u2").cast("double") / 2).as("jt"),
        round((col("u2").cast("double") / 2 -
          (col("n_all").cast("double") * col("n_all") -
            col("sn2").cast("double")) / 4.0) /
          sqrt((col("n_all").cast("double") * col("n_all") *
            (lit(2) * col("n_all") + 3) - col("sn23").cast("double")) / 72.0),
          6).as("z"))
  }

  def jonckheereTerpstraSql(lateDaysCap: Int = 3650): String =
    s"""WITH lags AS (
       |  SELECT o.o_orderpriority AS grp,
       |    datediff('day', o.o_orderdate, l.l_shipdate) AS v
       |  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
       |  WHERE datediff('day', o.o_orderdate, l.l_shipdate)
       |    BETWEEN 0 AND $lateDaysCap
       |), gv AS (
       |  SELECT grp, v, COUNT(*) AS c FROM lags GROUP BY 1, 2
       |), dense AS (
       |  SELECT g.grp, va.v, COALESCE(gv.c, 0) AS c
       |  FROM (SELECT DISTINCT grp FROM gv) g
       |  CROSS JOIN (SELECT DISTINCT v FROM gv) va
       |  LEFT JOIN gv ON gv.grp = g.grp AND gv.v = va.v
       |), cum AS (
       |  SELECT grp, v, c,
       |    COALESCE(SUM(c) OVER (PARTITION BY grp ORDER BY v
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
       |  FROM dense
       |), pairu AS (
       |  SELECT SUM(CAST(2 * j.c * i.cb + i.c * j.c AS HUGEINT)) AS u2
       |  FROM cum i JOIN cum j ON i.v = j.v AND i.grp < j.grp
       |), tot AS (
       |  SELECT COUNT(*) AS k, SUM(n) AS n_all,
       |    SUM(CAST(n AS HUGEINT) * n) AS sn2,
       |    SUM(CAST(n AS HUGEINT) * n * (2 * n + 3)) AS sn23
       |  FROM (SELECT grp, SUM(c) AS n FROM gv GROUP BY grp)
       |)
       |SELECT CAST(t.k AS INT) AS k, CAST(t.n_all AS BIGINT) AS n,
       |  CAST(u2 AS DOUBLE) / 2 AS jt,
       |  ROUND((CAST(u2 AS DOUBLE) / 2
       |      - (CAST(t.n_all AS DOUBLE) * t.n_all
       |        - CAST(t.sn2 AS DOUBLE)) / 4.0)
       |    / sqrt((CAST(t.n_all AS DOUBLE) * t.n_all * (2 * t.n_all + 3)
       |      - CAST(t.sn23 AS DOUBLE)) / 72.0), 6) AS z
       |FROM pairu, tot t""".stripMargin

  /** q280 — Wilcoxon signed-rank test of per-customer spend shift:
    * did the SAME customers spend differently in the corpus's second
    * half? The PAIRED complement of the two-sample family (q238 U is
    * unpaired; a paired t assumes normal diffs) — each customer is
    * their own control, so customer-level spend scale cancels and
    * only the within-customer shift ranks. Zero-diff customers drop
    * (the standard convention); W⁺ = rank-sum of positive shifts;
    * z against n(n+1)/4 with the tie-corrected variance
    * n(n+1)(2n+1)/24 − Σ(t³−t)/48.
    *
    * Exactness: spends are exact CENTS; |diff| midranks come DOUBLED
    * from per-value cumulative counts (the q238 discipline — no
    * per-row rank window), so 2W⁺ and the tie term are exact
    * BIGINT/DECIMAL(38,0); the z is one fixed-order double chain.
    * The half-split boundary is integer (day·2 vs mn+mx — q262's
    * convention, no epoch division).
    *
    * Scale: one orders scan, one custkey aggregate, then
    * |distinct-|diff||-grain algebra. Nothing data-sized after the
    * pair aggregate.
    */
  def wilcoxonSignedRank(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dayOf =
      "(unix_micros(cast(o_orderdate as timestamp)) - pmod(unix_micros(cast(o_orderdate as timestamp)), 86400000000)) div 86400000000"
    val o = Tables.load(spark, dir, "orders")
      .select(col("o_custkey"), expr(dayOf).as("day"),
        expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").as("cents"))
    val b = o.agg(min(col("day")).as("mn"), max(col("day")).as("mx"))
    val d = o.crossJoin(broadcast(b))
      .groupBy(col("o_custkey"))
      .agg(sum(when(col("day") * 2 <= col("mn") + col("mx"), col("cents"))
          .otherwise(0L)).as("s1"),
        sum(when(col("day") * 2 > col("mn") + col("mx"), col("cents"))
          .otherwise(0L)).as("s2"))
      .filter(col("s2") =!= col("s1"))
      .select((col("s2") - col("s1")).as("diff"),
        abs(col("s2") - col("s1")).as("ad"))
    val perVal = d.groupBy(col("ad")).agg(count(lit(1)).as("cnt"))
      .withColumn("cb", coalesce(
        sum(col("cnt")).over(Window.orderBy(col("ad"))
          .rowsBetween(Long.MinValue, -1)), lit(0L)))
    val wsum = d.join(perVal, "ad")
      .agg(sum(when(col("diff") > 0, lit(2) * col("cb") + col("cnt") + 1)
          .otherwise(0L)).as("w2"),
        count(lit(1)).as("n"))
    val ties = perVal.agg(
      sum(expr("CAST(cnt AS DECIMAL(38,0)) * cnt * cnt - cnt")).as("tt"))
    wsum.crossJoin(broadcast(ties))
      .select(col("n").cast("long").as("n_pairs"),
        (col("w2").cast("double") / 2).as("w_plus"),
        round((col("w2").cast("double") / 2 -
          col("n").cast("double") * (col("n") + 1) / 4.0) /
          sqrt(col("n").cast("double") * (col("n") + 1) *
            (lit(2) * col("n") + 1) / 24.0 -
            col("tt").cast("double") / 48.0), 6).as("z"))
  }

  val wilcoxonSignedRankSql: String =
    """WITH o AS (
      |  SELECT o_custkey, epoch_ms(o_orderdate) // 86400000 AS day,
      |    CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders
      |), b AS (SELECT MIN(day) AS mn, MAX(day) AS mx FROM o
      |), pairs AS (
      |  SELECT o_custkey,
      |    SUM(CASE WHEN day * 2 <= b.mn + b.mx THEN cents ELSE 0 END) AS s1,
      |    SUM(CASE WHEN day * 2 > b.mn + b.mx THEN cents ELSE 0 END) AS s2
      |  FROM o, b GROUP BY o_custkey, b.mn, b.mx
      |), d AS (
      |  SELECT s2 - s1 AS diff, abs(s2 - s1) AS ad FROM pairs WHERE s2 <> s1
      |), per_val AS (
      |  SELECT ad, COUNT(*) AS cnt,
      |    COALESCE(SUM(COUNT(*)) OVER (ORDER BY ad
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
      |  FROM d GROUP BY ad
      |), wsum AS (
      |  SELECT SUM(CASE WHEN d.diff > 0 THEN 2 * v.cb + v.cnt + 1
      |      ELSE 0 END) AS w2,
      |    COUNT(*) AS n
      |  FROM d JOIN per_val v ON v.ad = d.ad
      |), ties AS (
      |  SELECT SUM(CAST(cnt AS HUGEINT) * cnt * cnt - cnt) AS tt FROM per_val
      |)
      |SELECT CAST(n AS BIGINT) AS n_pairs,
      |  CAST(w2 AS DOUBLE) / 2 AS w_plus,
      |  ROUND((CAST(w2 AS DOUBLE) / 2 - CAST(n AS DOUBLE) * (n + 1) / 4.0)
      |    / sqrt(CAST(n AS DOUBLE) * (n + 1) * (2 * n + 1) / 24.0
      |      - CAST(t.tt AS DOUBLE) / 48.0), 6) AS z
      |FROM wsum, ties t""".stripMargin

  /** q301 — EXACT isotonic calibration (PAV) of the quality score
    * against the near-dup label (membership in q27's MinHash-LSH pair
    * set — the exact-dup relation is empty at the graded SFs, the
    * q275 lesson), computed in closed form: instead of the sequential
    * pool-adjacent-violators sweep, the fit uses the minimax identity
    *   fitted(i) = max_{j ≤ i} min_{k ≥ i} mean(y[j..k])
    * over score-bin prefix sums — every candidate interval mean is a
    * ratio of exact integers, so the whole regression is one triple
    * index join over ≤ nBins rows, no iteration, no convergence
    * question. The output is the monotone step function a production
    * scorer applies to turn raw quality into a calibrated dup
    * probability (q138 audits per-source rank calibration; q207 gives
    * the AUC; this gives the CURVE). Fitted values are emitted as the
    * unrounded IEEE doubles both engines derive from identical
    * integer ratios — exact cross-engine, no rounding machinery.
    *
    * Direction: non-decreasing in the score by construction (the
    * standard PAV orientation); a practitioner calibrating an
    * anti-correlated signal negates the score first.
    *
    * Scale: one corpus-sized label window (the q25 shuffle) + one bin
    * aggregate; everything after runs on ≤ nBins rows.
    */
  def isotonicCalibration(spark: SparkSession, dir: String,
                          nBins: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.TextFunctions.qualityScore
    val docs = Tables.load(spark, dir, "documents")
    val pairs = graft.operators.Dedup.minhashLshPairs(spark, dir)
    val flagged = pairs.select(col("doc_a").as("doc_id"))
      .unionByName(pairs.select(col("doc_b").as("doc_id")))
      .distinct().withColumn("flag", lit(1L))
    val labeled = docs
      .select(col("doc_id"), qualityScore(col("text")).as("quality"))
      .join(flagged, Seq("doc_id"), "left")
      .withColumn("is_dup", coalesce(col("flag"), lit(0L)))
    val bins = labeled
      .withColumn("bin", least(floor(col("quality") * nBins),
        lit(nBins - 1)).cast("int"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("is_dup")).as("pos"))
    val wOrd = Window.orderBy(col("bin"))
    val cum = bins
      .withColumn("r", row_number().over(wOrd))
      .withColumn("cn", sum(col("n")).over(wOrd))
      .withColumn("cp", sum(col("pos")).over(wOrd))
      .transform(graft.Iterate.cut) // tiny; read three times below
    // prefix boundaries j0 = 0..m-1 (r=0 is the empty prefix)
    val pref = cum.select(col("r").as("j0"), col("cn").as("pn"),
        col("cp").as("pp"))
      .unionByName(cum.sparkSession.range(1).toDF("z")
        .select(lit(0).as("j0"), lit(0L).as("pn"), lit(0L).as("pp")))
    val intervals = pref.as("j").join(cum.as("k"),
        col("k.r") > col("j.j0"))
      .select(col("j.j0").as("j0"), col("k.r").as("k"),
        ((col("k.cp") - col("j.pp")).cast("double") /
          (col("k.cn") - col("j.pn"))).as("ratio"))
    val inner = cum.select(col("r").as("i"))
      .join(intervals, col("j0") < col("i") && col("k") >= col("i"))
      .groupBy(col("i"), col("j0"))
      .agg(min(col("ratio")).as("mn"))
    val fitted = inner.groupBy(col("i")).agg(max(col("mn")).as("fitted"))
    cum.join(fitted, col("r") === col("i"))
      .select(col("bin"), col("n"), col("pos").as("n_pos"),
        (col("pos").cast("double") / col("n")).as("raw_rate"),
        col("fitted"))
      .orderBy(col("bin"))
  }

  def isotonicCalibrationSql(nBins: Int = 20): String =
    s"""WITH mh_pairs AS (
       |  ${graft.operators.Dedup.minhashLshPairsSql}
       |), flagged AS (
       |  SELECT DISTINCT doc_id FROM (
       |    SELECT doc_a AS doc_id FROM mh_pairs
       |    UNION ALL SELECT doc_b FROM mh_pairs)
       |), labeled AS (
       |  SELECT ${graft.operators.TextAnalysis.qualityExprSql} AS quality,
       |    CASE WHEN f.doc_id IS NOT NULL THEN 1 ELSE 0 END AS is_dup
       |  FROM documents d LEFT JOIN flagged f ON f.doc_id = d.doc_id
       |), bins AS (
       |  SELECT CAST(LEAST(FLOOR(quality * $nBins), $nBins - 1) AS INT)
       |      AS bin,
       |    CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(is_dup) AS BIGINT) AS pos
       |  FROM labeled GROUP BY 1
       |), cum AS (
       |  SELECT bin, n, pos,
       |    CAST(row_number() OVER (ORDER BY bin) AS INT) AS r,
       |    SUM(n) OVER (ORDER BY bin) AS cn,
       |    SUM(pos) OVER (ORDER BY bin) AS cp
       |  FROM bins
       |), pref AS (
       |  SELECT r AS j0, cn AS pn, cp AS pp FROM cum
       |  UNION ALL SELECT 0, 0, 0
       |), intervals AS (
       |  SELECT j.j0, k.r AS k,
       |    CAST(k.cp - j.pp AS DOUBLE) / (k.cn - j.pn) AS ratio
       |  FROM pref j JOIN cum k ON k.r > j.j0
       |), inner_min AS (
       |  SELECT c.r AS i, iv.j0, MIN(iv.ratio) AS mn
       |  FROM cum c JOIN intervals iv
       |    ON iv.j0 < c.r AND iv.k >= c.r
       |  GROUP BY 1, 2
       |), fit AS (
       |  SELECT i, MAX(mn) AS fitted FROM inner_min GROUP BY i
       |)
       |SELECT c.bin, c.n, c.pos AS n_pos,
       |  CAST(c.pos AS DOUBLE) / c.n AS raw_rate,
       |  f.fitted
       |FROM cum c JOIN fit f ON f.i = c.r
       |ORDER BY c.bin""".stripMargin

  /** q302 — Brier score decomposition of the quality score as a
    * near-dup forecast: the GENERALIZED Murphy partition
    *   BS = REL − RES + UNC + WBV − 2·WBC
    * over the q301 score bins — reliability (how far bin forecasts
    * sit from bin outcomes — what isotonic calibration removes),
    * resolution (how much the bins separate outcomes — what no
    * calibration can add), uncertainty (the outcome base rate's own
    * variance), and the two terms the textbook three-way identity
    * silently assumes away by treating every forecast in a bin as
    * identical: within-bin forecast variance and within-bin
    * forecast–outcome covariance (Stephenson et al.'s correction).
    * q207 ranks (AUC), q301 fits the curve, this SCORES the forecast
    * and says how much of its error is fixable. The spec closes the
    * five-term identity to <1e-4 (per-term 6dp rounding is the only
    * slack).
    *
    * Exactness: per-doc and per-bin terms are rounded to 6dp and
    * summed through DECIMAL(28,6) (order-free); bin forecast means
    * use the integer-micro half-up convention; outcome rates are
    * exact integer ratios. Scale: one corpus pass for labels + one
    * bin aggregate; everything else is ≤ nBins rows.
    */
  def brierDecomposition(spark: SparkSession, dir: String,
                         nBins: Int = 20): DataFrame = {
    import graft.functions.TextFunctions.qualityScore
    val dec = org.apache.spark.sql.types.DecimalType(28, 6)
    val docs = Tables.load(spark, dir, "documents")
    val pairs = graft.operators.Dedup.minhashLshPairs(spark, dir)
    val flagged = pairs.select(col("doc_a").as("doc_id"))
      .unionByName(pairs.select(col("doc_b").as("doc_id")))
      .distinct().withColumn("flag", lit(1L))
    val labeled = docs
      .select(col("doc_id"), qualityScore(col("text")).as("q"))
      .join(flagged, Seq("doc_id"), "left")
      .withColumn("y", coalesce(col("flag"), lit(0L)))
      .withColumn("bin", least(floor(col("q") * nBins), lit(nBins - 1))
        .cast("int"))
    val perBin = labeled.groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("pos"),
        sum(col("q").cast(dec)).as("qs"),
        sum(round(col("q") * col("q"), 6).cast(dec)).as("qss"),
        // Σ q·y: q where y=1 (already 6dp — no extra rounding)
        sum(when(col("y") === 1L, col("q")).otherwise(lit(0.0))
          .cast(dec)).as("qys"),
        sum(round((col("q") - col("y")) * (col("q") - col("y")), 6)
          .cast(dec)).as("se"))
    // bin forecast mean via the integer-micro half-up convention
    val withF = perBin.withColumn("f", expr(
        "CAST((2 * CAST(qs * 1000000 AS BIGINT) + n) div (2 * n) AS DOUBLE)"
          + " / 1000000"))
      .withColumn("o", col("pos").cast("double") / col("n"))
    val totals = withF.agg(
      sum(col("n")).as("nn"), sum(col("pos")).as("np"),
      sum(col("se")).as("se_sum"),
      sum(round(col("n") * (col("f") - col("o")) * (col("f") - col("o")), 6)
        .cast(dec)).as("rel_sum"),
      // resolution needs obar: computed below via a second pass over
      // the tiny bin frame (cross join the 1-row totals back)
      sum(round(col("qss").cast("double")
        - col("n") * col("f") * col("f"), 6).cast(dec)).as("wbv_sum"),
      sum(round(col("qys").cast("double")
        - col("n") * col("f") * col("o"), 6).cast(dec)).as("wbc_sum"))
    val base = totals.select(col("nn"), col("np"), col("se_sum"),
      col("rel_sum"), col("wbv_sum"), col("wbc_sum"),
      (col("np").cast("double") / col("nn")).as("obar"))
    val res = withF.crossJoin(broadcast(base))
      .agg(sum(round(col("n") * (col("o") - col("obar"))
        * (col("o") - col("obar")), 6).cast(dec)).as("res_sum"))
    base.crossJoin(broadcast(res)).select(
      col("nn").as("n_docs"),
      round(col("se_sum").cast("double") / col("nn"), 6).as("brier"),
      round(col("rel_sum").cast("double") / col("nn"), 6).as("reliability"),
      round(col("res_sum").cast("double") / col("nn"), 6).as("resolution"),
      round(col("obar") * (lit(1.0) - col("obar")), 6).as("uncertainty"),
      round(col("wbv_sum").cast("double") / col("nn"), 6).as("within_bin_var"),
      round(col("wbc_sum").cast("double") / col("nn"), 6).as("within_bin_cov"))
  }

  def brierDecompositionSql(nBins: Int = 20): String =
    s"""WITH mh_pairs AS (
       |  ${graft.operators.Dedup.minhashLshPairsSql}
       |), flagged AS (
       |  SELECT DISTINCT doc_id FROM (
       |    SELECT doc_a AS doc_id FROM mh_pairs
       |    UNION ALL SELECT doc_b FROM mh_pairs)
       |), labeled AS (
       |  SELECT ${graft.operators.TextAnalysis.qualityExprSql} AS q,
       |    CASE WHEN f.doc_id IS NOT NULL THEN 1 ELSE 0 END AS y
       |  FROM documents d LEFT JOIN flagged f ON f.doc_id = d.doc_id
       |), binned AS (
       |  SELECT CAST(LEAST(FLOOR(q * $nBins), $nBins - 1) AS INT) AS bin,
       |    q, y FROM labeled
       |), per_bin AS (
       |  SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(y) AS BIGINT) AS pos,
       |    SUM(CAST(q AS DECIMAL(28,6))) AS qs,
       |    SUM(CAST(ROUND(q * q, 6) AS DECIMAL(28,6))) AS qss,
       |    SUM(CAST(CASE WHEN y = 1 THEN q ELSE 0.0 END
       |      AS DECIMAL(28,6))) AS qys,
       |    SUM(CAST(ROUND((q - y) * (q - y), 6) AS DECIMAL(28,6))) AS se
       |  FROM binned GROUP BY 1
       |), with_f AS (
       |  SELECT *,
       |    CAST((2 * CAST(qs * 1000000 AS BIGINT) + n) // (2 * n) AS DOUBLE)
       |      / 1000000 AS f,
       |    CAST(pos AS DOUBLE) / n AS o
       |  FROM per_bin
       |), base AS (
       |  SELECT SUM(n) AS nn, SUM(pos) AS np, SUM(se) AS se_sum,
       |    SUM(CAST(ROUND(n * (f - o) * (f - o), 6) AS DECIMAL(28,6)))
       |      AS rel_sum,
       |    SUM(CAST(ROUND(CAST(qss AS DOUBLE) - n * f * f, 6)
       |      AS DECIMAL(28,6))) AS wbv_sum,
       |    SUM(CAST(ROUND(CAST(qys AS DOUBLE) - n * f * o, 6)
       |      AS DECIMAL(28,6))) AS wbc_sum,
       |    CAST(SUM(pos) AS DOUBLE) / SUM(n) AS obar
       |  FROM with_f
       |), res AS (
       |  SELECT SUM(CAST(ROUND(w.n * (w.o - b.obar) * (w.o - b.obar), 6)
       |    AS DECIMAL(28,6))) AS res_sum
       |  FROM with_f w, base b
       |)
       |SELECT CAST(b.nn AS BIGINT) AS n_docs,
       |  ROUND(CAST(b.se_sum AS DOUBLE) / b.nn, 6) AS brier,
       |  ROUND(CAST(b.rel_sum AS DOUBLE) / b.nn, 6) AS reliability,
       |  ROUND(CAST(r.res_sum AS DOUBLE) / b.nn, 6) AS resolution,
       |  ROUND(b.obar * (1.0 - b.obar), 6) AS uncertainty,
       |  ROUND(CAST(b.wbv_sum AS DOUBLE) / b.nn, 6) AS within_bin_var,
       |  ROUND(CAST(b.wbc_sum AS DOUBLE) / b.nn, 6) AS within_bin_cov
       |FROM base b, res r""".stripMargin

  /** q305 — median-of-means robust mean of document token counts:
    * the sketching-theory estimator (k deterministic hash buckets →
    * bucket means → their median) whose error is bounded by the
    * median's breakdown point rather than the tail — on heavy-tailed
    * or adversarially spiked corpora the plain mean follows the
    * spike, the MoM estimate doesn't (up to k/2 poisoned buckets).
    * Reported side by side with the plain mean and the bucket-mean
    * spread, so the gap IS the tail-contamination reading.
    *
    * Exactness: bucket sums/counts are exact integers; each bucket
    * mean is one IEEE division of those integers (identical both
    * engines); the median is a rank-SELECTED value (lower-middle,
    * q217's convention, tiebroken by bucket id); the plain mean uses
    * the integer-micro half-up convention. Scale: one bucket-keyed
    * partial+final aggregate; everything after is k rows.
    */
  def medianOfMeans(spark: SparkSession, dir: String,
                    k: Int = 16): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.TextFunctions.tokenCount
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), tokenCount(col("text")).cast("long").as("t"))
      .withColumn("b",
        pmod(graft.functions.PortableHash.md5Long32(col("doc_id")),
          lit(k.toLong)))
    val buckets = docs.groupBy(col("b"))
      .agg(count(lit(1)).as("n"), sum(col("t")).as("s"))
      .withColumn("m", col("s").cast("double") / col("n"))
    val wOrd = Window.orderBy(col("m"), col("b"))
    val ranked = buckets
      .withColumn("rn", row_number().over(wOrd))
      .withColumn("nb", count(lit(1)).over(
        Window.partitionBy(lit(1))))
    ranked.agg(
        sum(col("n")).as("n_docs"), sum(col("s")).as("t_sum"),
        max(col("nb")).as("n_buckets"),
        max(when(col("rn") === expr("(nb + 1) div 2"), col("m")))
          .as("mom_mean"),
        (max(col("m")) - min(col("m"))).as("bucket_spread"))
      .select(col("n_docs"), col("n_buckets").cast("int").as("n_buckets"),
        expr("CAST((2 * t_sum * 1000000 + n_docs) div (2 * n_docs) " +
          "AS DOUBLE) / 1000000").as("plain_mean"),
        round(col("mom_mean"), 6).as("mom_mean"),
        round(col("bucket_spread"), 6).as("bucket_spread"))
  }

  def medianOfMeansSql(k: Int = 16): String =
    s"""WITH docs AS (
       |  SELECT doc_id,
       |    ${graft.operators.TextAnalysis.tokenCountExprSql} AS t,
       |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
       |      AS BIGINT) % $k AS b
       |  FROM documents
       |), buckets AS (
       |  SELECT b, CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(t) AS BIGINT) AS s,
       |    CAST(SUM(t) AS DOUBLE) / COUNT(*) AS m
       |  FROM docs GROUP BY 1
       |), ranked AS (
       |  SELECT *, row_number() OVER (ORDER BY m, b) AS rn,
       |    COUNT(*) OVER () AS nb
       |  FROM buckets
       |)
       |SELECT CAST(SUM(n) AS BIGINT) AS n_docs,
       |  CAST(MAX(nb) AS INT) AS n_buckets,
       |  CAST((2 * SUM(s) * 1000000 + SUM(n)) // (2 * SUM(n)) AS DOUBLE)
       |    / 1000000 AS plain_mean,
       |  ROUND(MAX(CASE WHEN rn = (nb + 1) // 2 THEN m END), 6)
       |    AS mom_mean,
       |  ROUND(MAX(m) - MIN(m), 6) AS bucket_spread
       |FROM ranked""".stripMargin

  /** q299 — corpus datasheet: the per-(source, lang) summary card a
    * dataset release ships ("Datasheets for Datasets" shape) —
    * volume (docs/tokens/chars), exact-dup burden (q25's corpus-wide
    * fingerprint groups attributed to each cell), and mean quality
    * under the shared q23 formula. One relation a consumer reads
    * before training on (or buying) a feed; every signal reuses the
    * engine-shared expression its dedicated query grades, so the
    * card can't drift from the detailed audits.
    *
    * Exactness: counts/sums are integers; mean_quality averages
    * 6dp-rounded scores through the q56 integer-micro half-up
    * convention (a plain round(avg, 6) half-ties across engines on
    * scale-6 inputs). Scale: one narrow signal map + corpus-wide
    * fingerprint window (the q25 shuffle) + one (source, lang)
    * aggregate — cells are catalog-sized.
    */
  def corpusDatasheet(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.{contentFingerprint, qualityScore,
      tokenCount}
    val docs = Tables.load(spark, dir, "documents")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("content_fp"))
    val signals = docs.select(col("source"), col("lang"), col("doc_id"),
        tokenCount(col("text")).cast("long").as("n_tok"),
        length(col("text")).cast("long").as("n_ch"),
        qualityScore(col("text")).as("quality"),
        contentFingerprint(col("text")).as("content_fp"))
      .withColumn("is_dup",
        (col("doc_id") =!= min(col("doc_id")).over(w)).cast("long"))
    signals.groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("n_tokens"),
        sum(col("n_ch")).as("n_chars"),
        sum(col("is_dup")).as("n_exact_dups"),
        sum(col("quality")
          .cast(org.apache.spark.sql.types.DecimalType(18, 6))).as("qsum"))
      .withColumn("mean_quality", expr(
        "CAST((2 * CAST(qsum * 1000000 AS BIGINT) + n_docs) div (2 * n_docs)"
          + " AS DOUBLE) / 1000000"))
      .select(col("source"), col("lang"), col("n_docs"), col("n_tokens"),
        col("n_chars"), col("n_exact_dups"), col("mean_quality"))
      .orderBy(col("source"), col("lang"))
  }

  val corpusDatasheetSql: String = {
    val fp = "md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'))"
    s"""WITH sig AS (
       |  SELECT source, lang, doc_id,
       |    ${graft.operators.TextAnalysis.tokenCountExprSql} AS n_tok,
       |    length(text) AS n_ch,
       |    ${graft.operators.TextAnalysis.qualityExprSql} AS quality,
       |    CASE WHEN doc_id <> MIN(doc_id) OVER (PARTITION BY $fp)
       |         THEN 1 ELSE 0 END AS is_dup
       |  FROM documents
       |)
       |SELECT source, lang,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
       |  CAST(SUM(n_ch) AS BIGINT) AS n_chars,
       |  CAST(SUM(is_dup) AS BIGINT) AS n_exact_dups,
       |  CAST((2 * CAST(SUM(CAST(quality AS DECIMAL(18,6))) * 1000000
       |      AS BIGINT) + COUNT(*)) // (2 * COUNT(*)) AS DOUBLE) / 1000000
       |    AS mean_quality
       |FROM sig
       |GROUP BY 1, 2
       |ORDER BY source, lang""".stripMargin
  }

  /** q363 — empirical-Bayes shrinkage of per-supplier return rates
    * (beta-binomial, method-of-moments prior): the small-n fix every
    * per-entity rate leaderboard needs — a supplier with 1 return in
    * 2 lineitems must NOT outrank one with 40 in 100. The prior's
    * mean m and strength s₀ come from the cross-supplier moment match
    * (s₀ = m(1−m)/v − 1), then each supplier's rate shrinks to
    * (r + s₀·m)/(n + s₀) — exactly the James–Stein/beta-binomial
    * recipe a 100 TB curation run uses to rank sources or domains by
    * defect rate without letting tiny cells dominate.
    *
    * Exactness: n/r are integers; p = r/n is one double division both
    * engines execute identically; the cross-supplier moments Σp and
    * Σp² go through the q332 discipline (6dp-rounded terms,
    * DECIMAL(28,6) sums — order-independent) and the prior is a fixed
    * double chain from those two sums. Degenerate priors (zero
    * variance or non-positive strength) surface NULL shrunk rates via
    * the guarded CASE rather than noise.
    *
    * Scale: one lineitem aggregate (map-side combine), a 1-row prior
    * broadcast — the cross join is a scalar broadcast, never a
    * shuffle. At 100 TB the per-supplier agg is the only pass.
    */
  def ebShrinkage(spark: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(28, 6)
    val per = Tables.load(spark, dir, "lineitem")
      .groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("r"))
      .withColumn("p", col("r").cast("double") / col("n").cast("double"))
    val prior = per.agg(
        count(lit(1)).as("k"),
        sum(round(col("p"), 6).cast(dec)).cast("double").as("sp"),
        sum(round(col("p") * col("p"), 6).cast(dec)).cast("double").as("spp"))
      .withColumn("m", col("sp") / col("k"))
      .withColumn("v", col("spp") / col("k") - col("m") * col("m"))
      // the v > 0 guard must wrap the DIVISION itself: under ANSI
      // mode a zero-variance corpus (all rates equal) would otherwise
      // throw DIVIDE_BY_ZERO before the CASE discards it
      // (Round11OpsSpec pins this corner)
      .withColumn("s0raw", when(col("v") > 0,
        col("m") * (lit(1.0) - col("m")) / col("v") - lit(1.0)))
      .withColumn("s0", when(col("s0raw") > 0, col("s0raw")))
      .select(col("m"), col("s0"))
    per.crossJoin(broadcast(prior))
      .withColumn("shrunk",
        (col("r").cast("double") + col("s0") * col("m")) /
          (col("n").cast("double") + col("s0")))
      .select(col("l_suppkey").as("s_suppkey"),
        col("n").as("n_items"), col("r").as("n_returned"),
        round(col("p"), 6).as("raw_rate"),
        round(col("shrunk"), 6).as("shrunk_rate"),
        round(col("shrunk") - col("p"), 6).as("shrink_delta"))
      .orderBy(col("s_suppkey"))
  }

  val ebShrinkageSql: String =
    """WITH per AS (
      |  SELECT l_suppkey, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS r,
      |    CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
      |      AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS p
      |  FROM lineitem GROUP BY 1
      |), moments AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS k,
      |    CAST(SUM(CAST(ROUND(p, 6) AS DECIMAL(28,6))) AS DOUBLE) AS sp,
      |    CAST(SUM(CAST(ROUND(p * p, 6) AS DECIMAL(28,6))) AS DOUBLE) AS spp
      |  FROM per
      |), prior AS (
      |  SELECT m, CASE WHEN v > 0 AND s0raw > 0 THEN s0raw END AS s0
      |  FROM (
      |    SELECT sp / k AS m,
      |      spp / k - (sp / k) * (sp / k) AS v,
      |      (sp / k) * (1 - sp / k)
      |        / (spp / k - (sp / k) * (sp / k)) - 1 AS s0raw
      |    FROM moments)
      |)
      |SELECT per.l_suppkey AS s_suppkey, per.n AS n_items,
      |  per.r AS n_returned,
      |  ROUND(per.p, 6) AS raw_rate,
      |  ROUND((CAST(per.r AS DOUBLE) + pr.s0 * pr.m)
      |    / (CAST(per.n AS DOUBLE) + pr.s0), 6) AS shrunk_rate,
      |  ROUND((CAST(per.r AS DOUBLE) + pr.s0 * pr.m)
      |    / (CAST(per.n AS DOUBLE) + pr.s0) - per.p, 6) AS shrink_delta
      |FROM per CROSS JOIN prior pr
      |ORDER BY s_suppkey""".stripMargin

  /** q365 — Theil's U (uncertainty coefficient) matrix over the q332
    * categorical pairs: the DIRECTED complement to Cramér's V. V says
    * "these two columns associate"; U(a|b) = I(a;b)/H(a) says "how
    * much of a's uncertainty b removes" — asymmetric, so a
    * deterministic mapping b→a scores U(a|b)=1 even when a barely
    * predicts b. The audit a feature-selection or leakage screen runs
    * on categorical columns before training (a near-1 U against the
    * label is leakage; q332's V cannot tell which direction leaks).
    *
    * Exactness: all probabilities derive from BIGINT cell/margin
    * counts; each entropy and MI term is one fixed double chain off
    * integer ratios, rounded to 6dp and summed as DECIMAL(28,6)
    * (order-independent; the 6dp rounding also absorbs any last-ulp
    * ln() divergence between JVM and DuckDB libm — the q103/q242
    * entropy precedent). U ratios are single rounded divisions of the
    * two decimal-exact sums.
    *
    * Scale: per pair, one (va, vb) aggregate over the fact scan
    * (cells are |A|×|B|-bounded), margins and entropies are
    * cell-table aggregates — nothing after the first shuffle exceeds
    * catalog size. The orders join broadcasts at dimension scale and
    * at 100 TB becomes the same key-shuffle every fact-dim join pays.
    */
  def theilsUMatrix(spark: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(28, 6)
    val li = lineFlags(spark, dir)
    def entTerm(cnt: Column, n: Column): Column =
      round(-(cnt.cast("double") / n.cast("double")) *
        log(cnt.cast("double") / n.cast("double")), 6).cast(dec)
    // ONE fact pass for all three pairs' cell tables: the r15 shape
    // re-ran the lineitem⋈orders join and its scan once per pair
    // (3× the corpus work for |A|×|B|-bounded outputs). The columns
    // are all strings, so the three (va, vb) projections ride one
    // explode and one aggregate; everything downstream reads the
    // catalog-sized cut.
    val cellsAll = graft.Iterate.cut(li
      .select(explode(array(flagPairs.zipWithIndex.map { case ((a, b), i) =>
        struct(lit(i).as("pid"), col(a).as("va"), col(b).as("vb"))
      }: _*)).as("t"))
      .groupBy(col("t.pid").as("pid"), col("t.va").as("va"),
        col("t.vb").as("vb"))
      .agg(count(lit(1)).as("c")))
    val per = flagPairs.zipWithIndex.map { case ((a, b), i) =>
      val cells = cellsAll.filter(col("pid") === i)
        .select(col("va"), col("vb"), col("c"))
      val nRow = cells.agg(sum(col("c")).as("n"))
      val margA = cells.groupBy(col("va")).agg(sum(col("c")).as("ra"))
        .crossJoin(broadcast(nRow))
      val margB = cells.groupBy(col("vb")).agg(sum(col("c")).as("cb"))
        .crossJoin(broadcast(nRow))
      val hA = margA.agg(sum(entTerm(col("ra"), col("n")))
        .cast("double").as("h_a"),
        count(lit(1)).cast("int").as("card_a"))
      val hB = margB.agg(sum(entTerm(col("cb"), col("n")))
        .cast("double").as("h_b"),
        count(lit(1)).cast("int").as("card_b"))
      val mi = cells
        .join(broadcast(margA.select(col("va"), col("ra"))), "va")
        .join(broadcast(margB.select(col("vb"), col("cb"))), "vb")
        .crossJoin(broadcast(nRow))
        .agg(sum(round((col("c").cast("double") / col("n").cast("double")) *
            log((col("c") * col("n")).cast("double") /
              (col("ra") * col("cb")).cast("double")), 6).cast(dec))
          .cast("double").as("mi"),
          max(col("n")).as("n"))
      mi.crossJoin(broadcast(hA)).crossJoin(broadcast(hB))
        .select(lit(a).as("col_a"), lit(b).as("col_b"), col("n"),
          col("card_a"), col("card_b"),
          round(col("h_a"), 6).as("h_a"),
          round(col("h_b"), 6).as("h_b"),
          round(col("mi"), 6).as("mutual_info"),
          round(col("mi") / col("h_a"), 6).as("u_a_given_b"),
          round(col("mi") / col("h_b"), 6).as("u_b_given_a"))
    }
    per.reduce(_ unionByName _).orderBy(col("col_a"), col("col_b"))
  }

  val theilsUMatrixSql: String = {
    def one(a: String, b: String): String =
      s"""SELECT '$a' AS col_a, '$b' AS col_b, n, card_a, card_b,
         |  ROUND(h_a, 6) AS h_a, ROUND(h_b, 6) AS h_b,
         |  ROUND(mi, 6) AS mutual_info,
         |  ROUND(mi / h_a, 6) AS u_a_given_b,
         |  ROUND(mi / h_b, 6) AS u_b_given_a
         |FROM (
         |  SELECT
         |    (SELECT CAST(SUM(c) AS BIGINT) FROM cells_${a}_$b) AS n,
         |    (SELECT CAST(COUNT(*) AS INT) FROM marga_${a}_$b) AS card_a,
         |    (SELECT CAST(COUNT(*) AS INT) FROM margb_${a}_$b) AS card_b,
         |    (SELECT CAST(SUM(CAST(ROUND(
         |        -(CAST(ra AS DOUBLE) / CAST(n AS DOUBLE))
         |        * ln(CAST(ra AS DOUBLE) / CAST(n AS DOUBLE)), 6)
         |      AS DECIMAL(28,6))) AS DOUBLE) FROM marga_${a}_$b) AS h_a,
         |    (SELECT CAST(SUM(CAST(ROUND(
         |        -(CAST(cb AS DOUBLE) / CAST(n AS DOUBLE))
         |        * ln(CAST(cb AS DOUBLE) / CAST(n AS DOUBLE)), 6)
         |      AS DECIMAL(28,6))) AS DOUBLE) FROM margb_${a}_$b) AS h_b,
         |    (SELECT CAST(SUM(CAST(ROUND(
         |        (CAST(t.c AS DOUBLE) / CAST(ma.n AS DOUBLE))
         |        * ln(CAST(t.c * ma.n AS DOUBLE)
         |          / CAST(ma.ra * mb.cb AS DOUBLE)), 6)
         |      AS DECIMAL(28,6))) AS DOUBLE)
         |     FROM cells_${a}_$b t
         |     JOIN marga_${a}_$b ma ON t.va = ma.va
         |     JOIN margb_${a}_$b mb ON t.vb = mb.vb) AS mi
         |)""".stripMargin
    def ctes(a: String, b: String): String =
      s"""cells_${a}_$b AS (
         |  SELECT $a AS va, $b AS vb, CAST(COUNT(*) AS BIGINT) AS c
         |  FROM lineitem li JOIN orders o ON li.l_orderkey = o.o_orderkey
         |  GROUP BY 1, 2
         |), marga_${a}_$b AS (
         |  SELECT va, CAST(SUM(c) AS BIGINT) AS ra,
         |    (SELECT CAST(SUM(c) AS BIGINT) FROM cells_${a}_$b) AS n
         |  FROM cells_${a}_$b GROUP BY 1
         |), margb_${a}_$b AS (
         |  SELECT vb, CAST(SUM(c) AS BIGINT) AS cb,
         |    (SELECT CAST(SUM(c) AS BIGINT) FROM cells_${a}_$b) AS n
         |  FROM cells_${a}_$b GROUP BY 1
         |)""".stripMargin
    val ps = Seq(
      ("l_returnflag", "l_linestatus"),
      ("o_orderstatus", "o_orderpriority"),
      ("o_orderpriority", "l_returnflag"))
    s"""WITH ${ps.map { case (a, b) => ctes(a, b) }.mkString(",\n")}
       |SELECT * FROM (
       |${ps.map { case (a, b) => one(a, b) }.mkString("\nUNION ALL\n")}
       |)
       |ORDER BY col_a, col_b""".stripMargin
  }

  /** q380 — order-independent table content fingerprints: per table,
    * the row count plus two modular sums of a portable per-row hash
    * over a STABLE serialization — the change-detection key an
    * incremental scheduler stores per snapshot ("did anything in this
    * feed change since the last run?") without sorting, diffing, or
    * moving the data. Two independent moduli make a silent collision
    * require simultaneous agreement (~1 in 10¹²); the serialization
    * pins integer/string/epoch-ms/cents renderings only — never raw
    * double formatting, which the engines disagree on.
    *
    * Exactness: md5-derived 60-bit row hashes (the q308 portable
    * convention) reduced mod two primes (≤1e6 each, so BIGINT sums
    * over billions of rows cannot overflow), summed — addition
    * commutes, so the fingerprint is partition-order-independent by
    * construction, the property that makes it valid on any cluster
    * layout.
    *
    * Scale: one narrow map + one 1-row aggregate per table — the
    * cheapest full-scan pass that still witnesses every row.
    */
  def tableFingerprints(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.PortableHash
    val p1 = 1000003L; val p2 = 999983L
    def fp(name: String, df: DataFrame, ser: Column): DataFrame = {
      val h = PortableHash.md5Long60(ser)
      df.agg(count(lit(1)).as("n_rows"),
          sum(h % p1).as("fp1"), sum(h % p2).as("fp2"))
        .select(lit(name).as("table_name"), col("n_rows"),
          col("fp1"), col("fp2"))
    }
    val docs = fp("documents", Tables.load(spark, dir, "documents"),
      concat_ws("|", col("doc_id"), col("lang"), col("source"),
        col("n_chars"), md5(col("text"))))
    val orders = fp("orders", Tables.load(spark, dir, "orders"),
      concat_ws("|", col("o_orderkey"), col("o_custkey"),
        col("o_orderstatus"), col("o_orderpriority"),
        expr("unix_micros(cast(o_orderdate as timestamp)) div 1000")))
    val li = fp("lineitem", Tables.load(spark, dir, "lineitem"),
      concat_ws("|", col("l_orderkey"), col("l_linenumber"),
        col("l_partkey"), col("l_suppkey"), col("l_returnflag"),
        col("l_linestatus"),
        round(col("l_quantity") * 100, 0).cast("long"),
        round(col("l_extendedprice") * 100, 0).cast("long")))
    docs.unionByName(orders).unionByName(li)
      .orderBy(col("table_name"))
  }

  val tableFingerprintsSql: String = {
    def h(ser: String): String =
      s"CAST(('0x' || substr(md5($ser), 1, 15)) AS BIGINT)"
    def one(name: String, table: String, ser: String): String =
      s"""SELECT '$name' AS table_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
         |  CAST(SUM(${h(ser)} % 1000003) AS BIGINT) AS fp1,
         |  CAST(SUM(${h(ser)} % 999983) AS BIGINT) AS fp2
         |FROM $table""".stripMargin
    val docsSer = "concat_ws('|', doc_id, lang, source, n_chars, md5(text))"
    val ordSer = "concat_ws('|', o_orderkey, o_custkey, o_orderstatus, " +
      "o_orderpriority, epoch_ms(o_orderdate))"
    val liSer = "concat_ws('|', l_orderkey, l_linenumber, l_partkey, " +
      "l_suppkey, l_returnflag, l_linestatus, " +
      "CAST(ROUND(l_quantity * 100, 0) AS BIGINT), " +
      "CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT))"
    s"""SELECT * FROM (
       |${one("documents", "documents", docsSer)}
       |UNION ALL
       |${one("orders", "orders", ordSer)}
       |UNION ALL
       |${one("lineitem", "lineitem", liSer)}
       |)
       |ORDER BY table_name""".stripMargin
  }

  /** q381 — Wasserstein-1 (earth-mover) distance between each
    * source's document-length distribution and the corpus overall:
    * W₁ = ∫|F_s − F_corpus| dx over the shared support — the
    * MAGNITUDE-AWARE drift metric beside q124's PSI (bin-count
    * ratios, blind to how FAR mass moved) and q213's KS (max gap,
    * blind to how MUCH). A source whose docs grew 10% longer and one
    * that swapped half its mass to 10× lengths can tie on KS; W₁
    * separates them, which is why distribution-shift monitoring at
    * scale quotes it.
    *
    * Exactness: W₁ accumulates as PURE INTEGERS — at every support
    * breakpoint, |cum_s·N − cum_g·n_s| · width (cross-multiplied
    * ECDF gap, common denominator n_s·N deferred), summed as BIGINT,
    * divided ONCE at the end and rounded. No double enters until the
    * final division.
    *
    * Scale: one (source, length) aggregate, a |sources| × |support|
    * grid (value-grain, bounded by distinct lengths), two cumulative
    * windows over that grid. At 100 TB only the first aggregate sees
    * the corpus.
    */
  def wassersteinDrift(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.load(spark, dir, "documents")
      .select(col("source"), col("n_chars").as("x"))
    val bySrc = docs.groupBy(col("source"), col("x"))
      .agg(count(lit(1)).as("c_s"))
    val global = docs.groupBy(col("x")).agg(count(lit(1)).as("c_g"))
    val nSrc = docs.groupBy(col("source")).agg(count(lit(1)).as("n_s"))
    val nAll = docs.agg(count(lit(1)).as("n_all"))
    val grid = nSrc.crossJoin(broadcast(global))
      .join(bySrc, Seq("source", "x"), "left")
      .withColumn("c_s", coalesce(col("c_s"), lit(0L)))
      .crossJoin(broadcast(nAll))
    val wOrd = Window.partitionBy(col("source")).orderBy(col("x"))
    val wCum = wOrd.rowsBetween(Window.unboundedPreceding,
      Window.currentRow)
    grid
      .withColumn("cum_s", sum(col("c_s")).over(wCum))
      .withColumn("cum_g", sum(col("c_g")).over(wCum))
      .withColumn("width",
        coalesce(lead(col("x"), 1).over(wOrd) - col("x"), lit(0L)))
      .withColumn("num",
        abs(col("cum_s") * col("n_all") - col("cum_g") * col("n_s")) *
          col("width"))
      .groupBy(col("source")).agg(
        max(col("n_s")).as("n_docs"),
        count(lit(1)).as("n_support"),
        sum(col("num")).as("num_sum"),
        max(col("n_s") * col("n_all")).as("den"))
      .select(col("source"), col("n_docs"), col("n_support"),
        round(col("num_sum").cast("double") / col("den").cast("double"), 6)
          .as("w1"))
      .orderBy(col("source"))
  }

  val wassersteinDriftSql: String =
    """WITH docs AS (
      |  SELECT source, n_chars AS x FROM documents
      |), by_src AS (
      |  SELECT source, x, CAST(COUNT(*) AS BIGINT) AS c_s
      |  FROM docs GROUP BY 1, 2
      |), global AS (
      |  SELECT x, CAST(COUNT(*) AS BIGINT) AS c_g FROM docs GROUP BY 1
      |), n_src AS (
      |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_s FROM docs GROUP BY 1
      |), n_all AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_all FROM docs
      |), grid AS (
      |  SELECT s.source, g.x, s.n_s, g.c_g, COALESCE(b.c_s, 0) AS c_s,
      |    (SELECT n_all FROM n_all) AS n_all
      |  FROM n_src s CROSS JOIN global g
      |  LEFT JOIN by_src b ON b.source = s.source AND b.x = g.x
      |), cum AS (
      |  SELECT source, x, n_s, n_all,
      |    SUM(c_s) OVER (PARTITION BY source ORDER BY x
      |      ROWS UNBOUNDED PRECEDING) AS cum_s,
      |    SUM(c_g) OVER (PARTITION BY source ORDER BY x
      |      ROWS UNBOUNDED PRECEDING) AS cum_g,
      |    COALESCE(lead(x) OVER (PARTITION BY source ORDER BY x) - x, 0)
      |      AS width
      |  FROM grid
      |)
      |SELECT source, CAST(MAX(n_s) AS BIGINT) AS n_docs,
      |  CAST(COUNT(*) AS BIGINT) AS n_support,
      |  ROUND(CAST(SUM(ABS(cum_s * n_all - cum_g * n_s) * width)
      |      AS DOUBLE)
      |    / CAST(MAX(n_s * n_all) AS DOUBLE), 6) AS w1
      |FROM cum
      |GROUP BY source
      |ORDER BY source""".stripMargin

  /** q390 — source specialization index: per source, the Shannon
    * entropy of its language mix (nats), the normalized evenness
    * H/ln(L) against the source's own language count, and the
    * dominant language with its share — the one-row-per-source answer
    * to "is this feed a single-language specialist or a mixed
    * crawl?", which decides whether it routes through one language
    * pipeline or fans out. q130's JSD compares sources to EACH OTHER;
    * this characterizes each alone, and evenness is comparable across
    * sources with different language counts where raw H is not.
    *
    * Exactness: the q103/q365 entropy discipline — integer
    * (source, lang) counts, 6dp-rounded p·ln p terms summed as
    * DECIMAL(28,6), single rounded divisions; the dominant language
    * is an integer-count argmax with a lexicographic tiebreak.
    *
    * Scale: one (source, lang) aggregate, then catalog-sized algebra.
    */
  def sourceSpecialization(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dec = org.apache.spark.sql.types.DecimalType(28, 6)
    val cells = Tables.load(spark, dir, "documents")
      .groupBy(col("source"), col("lang")).agg(count(lit(1)).as("c"))
    val wS = Window.partitionBy(col("source"))
    val wTop = Window.partitionBy(col("source"))
      .orderBy(col("c").desc, col("lang"))
    cells
      .withColumn("n", sum(col("c")).over(wS))
      .withColumn("l_cnt", count(lit(1)).over(wS))
      .withColumn("term",
        round(-(col("c").cast("double") / col("n").cast("double")) *
          log(col("c").cast("double") / col("n").cast("double")), 6)
          .cast(dec))
      .withColumn("top_rank", row_number().over(wTop))
      .groupBy(col("source"))
      .agg(max(col("n")).as("n_docs"),
        max(col("l_cnt")).cast("int").as("n_langs"),
        sum(col("term")).cast("double").as("h"),
        max(when(col("top_rank") === 1, col("lang"))).as("top_lang"),
        max(when(col("top_rank") === 1, col("c"))).as("top_n"))
      .select(col("source"), col("n_docs"), col("n_langs"),
        round(col("h"), 6).as("lang_entropy"),
        round(when(col("n_langs") > 1,
          col("h") / log(col("n_langs").cast("double")))
          .otherwise(lit(0.0)), 6).as("evenness"),
        col("top_lang"),
        round(col("top_n").cast("double") / col("n_docs").cast("double"),
          6).as("top_share"))
      .orderBy(col("source"))
  }

  val sourceSpecializationSql: String =
    """WITH cells AS (
      |  SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM documents GROUP BY 1, 2
      |), rich AS (
      |  SELECT source, lang, c,
      |    SUM(c) OVER (PARTITION BY source) AS n,
      |    COUNT(*) OVER (PARTITION BY source) AS l_cnt,
      |    CAST(ROUND(-(CAST(c AS DOUBLE) / CAST(SUM(c)
      |        OVER (PARTITION BY source) AS DOUBLE))
      |      * ln(CAST(c AS DOUBLE) / CAST(SUM(c)
      |        OVER (PARTITION BY source) AS DOUBLE)), 6)
      |      AS DECIMAL(28,6)) AS term,
      |    row_number() OVER (PARTITION BY source
      |      ORDER BY c DESC, lang) AS top_rank
      |  FROM cells
      |)
      |SELECT source, CAST(MAX(n) AS BIGINT) AS n_docs,
      |  CAST(MAX(l_cnt) AS INT) AS n_langs,
      |  ROUND(CAST(SUM(term) AS DOUBLE), 6) AS lang_entropy,
      |  ROUND(CASE WHEN MAX(l_cnt) > 1
      |    THEN CAST(SUM(term) AS DOUBLE) / ln(CAST(MAX(l_cnt) AS DOUBLE))
      |    ELSE 0.0 END, 6) AS evenness,
      |  MAX(CASE WHEN top_rank = 1 THEN lang END) AS top_lang,
      |  ROUND(CAST(MAX(CASE WHEN top_rank = 1 THEN c END) AS DOUBLE)
      |    / CAST(MAX(n) AS DOUBLE), 6) AS top_share
      |FROM rich
      |GROUP BY source
      |ORDER BY source""".stripMargin

  /** q400 — source health dashboard: the per-source one-row summary a
    * feed owner reads every morning, composed 1:1 from four graded
    * instruments — exact-dup share (q25's corpus-wide fingerprint
    * attributed per source), W₁ length drift vs the corpus (q381),
    * Kish weighting efficiency (q387), and language-mix
    * entropy/dominance (q390) — joined on the source key. The q377
    * consensus discipline at feed grain: grading the COMPOSITION
    * keeps the four inputs' keys, grains, and column contracts
    * compatible forever, which is what makes a dashboard trustworthy
    * rather than a collection of screenshots.
    *
    * Exactness: a four-way equi-join of already-graded relations on
    * identical source keys plus one integer dup-share division — no
    * new arithmetic. Scale: the inputs are each one-pass and
    * catalog-sized after their first aggregate; the joins touch
    * |sources| rows.
    */
  def sourceHealthDashboard(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.contentFingerprint
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("content_fp"))
    val dups = Tables.load(spark, dir, "documents")
      .select(col("source"), col("doc_id"),
        contentFingerprint(col("text")).as("content_fp"))
      .withColumn("is_dup",
        (col("doc_id") =!= min(col("doc_id")).over(w)).cast("long"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("is_dup")).as("n_dups"))
      .select(col("source"), col("n_docs"),
        round(col("n_dups").cast("double") / col("n_docs").cast("double"),
          6).as("exact_dup_share"))
    val drift = wassersteinDrift(spark, dir)
      .select(col("source"), col("w1").as("w1_drift"))
    val ess = Curation.weightEssAudit(spark, dir)
      .select(col("source"), col("efficiency").as("weight_efficiency"))
    val spec = sourceSpecialization(spark, dir)
      .select(col("source"), col("lang_entropy"), col("top_lang"),
        col("top_share"))
    dups.join(drift, "source").join(ess, "source").join(spec, "source")
      .orderBy(col("source"))
  }

  val sourceHealthDashboardSql: String = {
    val fp = "md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'))"
    s"""WITH dups AS (
       |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    ROUND(CAST(SUM(is_dup) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
       |      AS exact_dup_share
       |  FROM (
       |    SELECT source, doc_id,
       |      CASE WHEN doc_id <> MIN(doc_id) OVER (PARTITION BY $fp)
       |           THEN 1 ELSE 0 END AS is_dup
       |    FROM documents
       |  ) GROUP BY 1
       |), drift AS (
       |  SELECT source, w1 AS w1_drift FROM ($wassersteinDriftSql)
       |), ess AS (
       |  SELECT source, efficiency AS weight_efficiency
       |  FROM (${graft.operators.Curation.weightEssAuditSql})
       |), spec AS (
       |  SELECT source, lang_entropy, top_lang, top_share
       |  FROM ($sourceSpecializationSql)
       |)
       |SELECT d.source, d.n_docs, d.exact_dup_share, dr.w1_drift,
       |  e.weight_efficiency, s.lang_entropy, s.top_lang, s.top_share
       |FROM dups d
       |JOIN drift dr ON dr.source = d.source
       |JOIN ess e ON e.source = d.source
       |JOIN spec s ON s.source = d.source
       |ORDER BY d.source""".stripMargin
  }

  /** q484 — Theil-T inequality decomposition of customer spend by
    * nation: T_total = T_between + Σ s_g·T_g — unlike Gini (q133/q147
    * curve), Theil decomposes EXACTLY into a between-group term
    * ("nations differ in mean spend") and within-group terms ("spend
    * is unequal inside each nation"), so it answers where the
    * inequality actually lives — the same question q397 answers for
    * variance, asked with the log-based index economics uses for
    * concentration. Per-nation rows carry the within index, the
    * spend share, both decomposition terms AND the nation's share of
    * T_total itself, so Σ total_contrib = Σ within_contrib +
    * Σ between_term is the graded identity (spec-pinned).
    *
    * Exactness: spends are decimal-exact; group means and shares are
    * single IEEE divisions; each customer's (x/μ)·ln(x/μ) term rounds
    * 6dp into a DECIMAL(28,6) sum (order-free — the q393 discipline);
    * the group algebra is one fixed chain rounded once. Zero-spend
    * customers never occur (x > 0 by construction of the join).
    *
    * Scale: one customer-keyed spend aggregate, a broadcast
    * |nations|-row stat join back (customers never reshuffle), one
    * nation-keyed term aggregate.
    */
  def theilDecomposition(spark: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(28, 6)
    val spend = Tables.load(spark, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(graft.operators.Relational.decSum(col("o_totalprice")).as("x"))
    val cust = Tables.load(spark, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey"))
    val nation = Tables.load(spark, dir, "nation")
      .select(col("n_nationkey"), col("n_name"))
    val base = spend
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name").as("nation"), col("x"))
    val g = base.groupBy(col("nation"))
      .agg(count(lit(1)).as("n_g"),
        sum(col("x").cast(dec)).cast("double").as("x_g"))
    val tot = g.agg(sum(col("n_g")).as("n"),
      sum(col("x_g").cast(dec)).cast("double").as("x_tot"))
    val withStats = base.join(broadcast(g), "nation")
      .crossJoin(broadcast(tot))
      .withColumn("mu_g", col("x_g") / col("n_g").cast("double"))
      .withColumn("mu", col("x_tot") / col("n").cast("double"))
      .withColumn("t_g_term",
        round((col("x") / col("mu_g")) * log(col("x") / col("mu_g")), 6))
      .withColumn("t_term",
        round((col("x") / col("mu")) * log(col("x") / col("mu")), 6))
    withStats.groupBy(col("nation"))
      .agg(max(col("n_g")).as("n_customers"),
        max(col("x_g")).as("x_g"), max(col("mu_g")).as("mu_g"),
        max(col("mu")).as("mu"), max(col("n")).as("n"),
        sum(col("t_g_term").cast(dec)).cast("double").as("s_tg"),
        sum(col("t_term").cast(dec)).cast("double").as("s_t"))
      .withColumn("share", round(col("x_g") / (col("mu") * col("n").cast("double")), 6))
      .select(col("nation"), col("n_customers"), col("share"),
        round(col("s_tg") / col("n_customers").cast("double"), 6)
          .as("theil_within"),
        round((col("x_g") / (col("mu") * col("n").cast("double")))
          * (col("s_tg") / col("n_customers").cast("double")), 6)
          .as("within_contrib"),
        round((col("x_g") / (col("mu") * col("n").cast("double")))
          * log(col("mu_g") / col("mu")), 6).as("between_term"),
        round(col("s_t") / col("n").cast("double"), 6).as("total_contrib"))
      .orderBy(col("nation"))
  }

  val theilDecompositionSql: String =
    """WITH spend AS (
      |  SELECT o_custkey,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS x
      |  FROM orders GROUP BY 1
      |), base AS (
      |  SELECT nn.n_name AS nation, s.x
      |  FROM spend s
      |  JOIN customer c ON c.c_custkey = s.o_custkey
      |  JOIN nation nn ON nn.n_nationkey = c.c_nationkey
      |), g AS (
      |  SELECT nation, CAST(COUNT(*) AS BIGINT) AS n_g,
      |    CAST(SUM(CAST(x AS DECIMAL(28,6))) AS DOUBLE) AS x_g
      |  FROM base GROUP BY 1
      |), tot AS (
      |  SELECT CAST(SUM(n_g) AS BIGINT) AS n,
      |    CAST(SUM(CAST(x_g AS DECIMAL(28,6))) AS DOUBLE) AS x_tot
      |  FROM g
      |), terms AS (
      |  SELECT b.nation, g.n_g, g.x_g,
      |    g.x_g / CAST(g.n_g AS DOUBLE) AS mu_g,
      |    t.x_tot / CAST(t.n AS DOUBLE) AS mu, t.n,
      |    ROUND((b.x / (g.x_g / CAST(g.n_g AS DOUBLE)))
      |      * ln(b.x / (g.x_g / CAST(g.n_g AS DOUBLE))), 6) AS t_g_term,
      |    ROUND((b.x / (t.x_tot / CAST(t.n AS DOUBLE)))
      |      * ln(b.x / (t.x_tot / CAST(t.n AS DOUBLE))), 6) AS t_term
      |  FROM base b JOIN g ON g.nation = b.nation CROSS JOIN tot t
      |), agg AS (
      |  SELECT nation, MAX(n_g) AS n_customers, MAX(x_g) AS x_g,
      |    MAX(mu_g) AS mu_g, MAX(mu) AS mu, MAX(n) AS n,
      |    CAST(SUM(CAST(t_g_term AS DECIMAL(28,6))) AS DOUBLE) AS s_tg,
      |    CAST(SUM(CAST(t_term AS DECIMAL(28,6))) AS DOUBLE) AS s_t
      |  FROM terms GROUP BY 1
      |)
      |SELECT nation, n_customers,
      |  ROUND(x_g / (mu * CAST(n AS DOUBLE)), 6) AS share,
      |  ROUND(s_tg / CAST(n_customers AS DOUBLE), 6) AS theil_within,
      |  ROUND((x_g / (mu * CAST(n AS DOUBLE)))
      |    * (s_tg / CAST(n_customers AS DOUBLE)), 6) AS within_contrib,
      |  ROUND((x_g / (mu * CAST(n AS DOUBLE))) * ln(mu_g / mu), 6)
      |    AS between_term,
      |  ROUND(s_t / CAST(n AS DOUBLE), 6) AS total_contrib
      |FROM agg
      |ORDER BY nation""".stripMargin

  /** q483 — histogram bin advisor over the four money/quantity
    * metrics: for each, the Freedman–Diaconis width (2·IQR/∛n — the
    * robust default), Scott's width (3.49·σ/∛n — efficient when
    * near-normal) and Sturges' bin count (⌈log₂n⌉+1 — the legacy
    * small-n rule), with the FD bin count the layout the q60
    * histogram-quantile scale path and any dashboard binning should
    * adopt. Binning is the first irreversible choice every profiling
    * pass makes; this makes it a graded, diffable decision instead of
    * a notebook default.
    *
    * Exactness: quartiles are RANK-SELECTED (the q42 rule — no
    * interpolation), ranks ⌈n/4⌉ and ⌈3n/4⌉ in integer arithmetic; σ
    * comes from 6dp-rounded DECIMAL(28,6) moment sums; Sturges is
    * PURE INTEGER via the binary length of n−1 (⌈log₂n⌉ =
    * len(bin(n−1)) for n ≥ 2 — no float log near an integer
    * boundary); widths/counts are one fixed IEEE chain rounded once,
    * ∛n being the only transcendental.
    *
    * Scale: per metric one rank window (the q42 sort-based exact
    * path; the sketch alternative is benched at q60/x01) + one moment
    * aggregate; the report is 4 rows.
    */
  def histogramBinAdvisor(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dec = org.apache.spark.sql.types.DecimalType(28, 6)
    def one(metric: String, df: DataFrame, c: String, key: String): DataFrame = {
      // distributed exact ranks instead of the old single-partition
      // `row_number() OVER (ORDER BY ...)` + `COUNT(*) OVER ()` pair:
      // the global window serialized a full-table sort onto one core
      // per metric (4 metrics = 4 such sorts — lineitem twice).
      // Skew.globalRank is the grade-proven equivalent (range exchange
      // + partition offsets, q324); the moment sums ride one parallel
      // aggregate and the two quartile picks one filter over the
      // rank-materialized frame.
      val ranked = Skew.globalRank(df.select(col(c), col(key)),
        Seq(col(c), col(key)))
      val stats = ranked.agg(
        count(lit(1)).as("n"),
        min(col(c)).as("mn"), max(col(c)).as("mx"),
        sum(col(c).cast(dec)).cast("double").as("s"),
        sum(round(col(c) * col(c), 6).cast(dec)).cast("double").as("ss"))
      val qs = ranked
        .crossJoin(broadcast(stats.select(col("n"))))
        .filter(col("rank") === expr("(n + 3) div 4") ||
          col("rank") === expr("(3 * n + 3) div 4"))
        .agg(
          max(when(col("rank") === expr("(n + 3) div 4"), col(c))).as("q1"),
          max(when(col("rank") === expr("(3 * n + 3) div 4"), col(c))).as("q3"))
      stats.crossJoin(broadcast(qs))
        .select(col("n"), col("mn"), col("mx"), col("q1"), col("q3"),
          col("s"), col("ss"))
        .withColumn("metric", lit(metric))
    }
    val li = Tables.load(spark, dir, "lineitem")
    val parts = Seq(
      one("c_acctbal", Tables.load(spark, dir, "customer"), "c_acctbal", "c_custkey"),
      one("l_extendedprice", li, "l_extendedprice", "l_orderkey"),
      one("l_quantity", li, "l_quantity", "l_orderkey"),
      one("o_totalprice", Tables.load(spark, dir, "orders"), "o_totalprice", "o_orderkey"))
    val u = parts.reduce(_ unionByName _)
    val nD = col("n").cast("double")
    val sigma = sqrt(greatest(col("ss") / nD - (col("s") / nD) * (col("s") / nD),
      lit(0.0)))
    val fdW = round((col("q3") - col("q1")) * 2.0 / cbrt(nD), 6)
    val scottW = round(sigma * 3.49 / cbrt(nD), 6)
    u.select(col("metric"), col("n"),
        round(col("q3") - col("q1"), 6).as("iqr"),
        fdW.as("fd_width"),
        ceil((col("mx") - col("mn")) / nullif(fdW, lit(0.0))).cast("long")
          .as("fd_bins"),
        scottW.as("scott_width"),
        (length(bin(col("n") - 1)) + 1).cast("int").as("sturges_bins"))
      .orderBy(col("metric"))
  }

  val histogramBinAdvisorSql: String = {
    def one(metric: String, table: String, c: String, key: String): String =
      s"""SELECT '$metric' AS metric, n, mn, mx, q1, q3, s, ss FROM (
        |    SELECT MAX(n) AS n, MIN($c) AS mn, MAX($c) AS mx,
        |      MAX(CASE WHEN rn = (n + 3) // 4 THEN $c END) AS q1,
        |      MAX(CASE WHEN rn = (3 * n + 3) // 4 THEN $c END) AS q3,
        |      CAST(SUM(CAST($c AS DECIMAL(28,6))) AS DOUBLE) AS s,
        |      CAST(SUM(CAST(ROUND($c * $c, 6) AS DECIMAL(28,6))) AS DOUBLE) AS ss
        |    FROM (
        |      SELECT $c, ROW_NUMBER() OVER (ORDER BY $c, $key) AS rn,
        |        COUNT(*) OVER () AS n
        |      FROM $table
        |    )
        |  )""".stripMargin
    val unions = Seq(
      one("c_acctbal", "customer", "c_acctbal", "c_custkey"),
      one("l_extendedprice", "lineitem", "l_extendedprice", "l_orderkey"),
      one("l_quantity", "lineitem", "l_quantity", "l_orderkey"),
      one("o_totalprice", "orders", "o_totalprice", "o_orderkey"))
      .mkString("\n      |  UNION ALL ")
    s"""WITH u AS (
      |  $unions
      |)
      |SELECT metric, CAST(n AS BIGINT) AS n,
      |  ROUND(q3 - q1, 6) AS iqr,
      |  ROUND((q3 - q1) * 2.0 / cbrt(CAST(n AS DOUBLE)), 6) AS fd_width,
      |  CAST(CEIL((mx - mn) / NULLIF(
      |    ROUND((q3 - q1) * 2.0 / cbrt(CAST(n AS DOUBLE)), 6), 0.0))
      |    AS BIGINT) AS fd_bins,
      |  ROUND(sqrt(GREATEST(ss / CAST(n AS DOUBLE)
      |      - (s / CAST(n AS DOUBLE)) * (s / CAST(n AS DOUBLE)), 0.0))
      |    * 3.49 / cbrt(CAST(n AS DOUBLE)), 6) AS scott_width,
      |  CAST(length(bin(CAST(n - 1 AS BIGINT))) + 1 AS INT) AS sturges_bins
      |FROM u
      |ORDER BY metric""".stripMargin
  }

  /** q534 — two-sample Anderson–Darling (the tie-aware A²akN of
    * Scholz–Stephens 1987, k = 2) between two customer segments'
    * order-total distributions: the distribution-equality test that
    * weights the TAILS — q213's Kolmogorov–Smirnov sees only the
    * single largest CDF gap and is famously blind to tail
    * differences; AD integrates the squared gap with a 1/(F(1−F))
    * weight, so a segment whose big-ticket tail differs fails here
    * while passing KS. Rank-based, so no normal-CDF machinery is
    * needed (the reason the ONE-sample AD, which needs Φ, is not on
    * this shelf).
    *
    * Exactness: values are floor(o_totalprice/100) integer bins, so
    * every multiplicity, midrank-doubled cumulative (B2 = 2·cum − l,
    * M2 = 2·cumₐ − lₐ) and the factor (N·M2 − n_a·B2) are exact
    * BIGINTs; each bin's contribution c = l·(N·M2 − n_a·B2)² /
    * (B2·(2N − B2) − N·l) — the doubled-midrank identity that clears
    * the l/2 halves and the N·l/4 quarter exactly — is ONE double
    * chain on exact-integer operands, 6dp-rounded and summed as
    * DECIMAL(38,6); the final (N−1)/N²·(Σ_A/n_A + Σ_B/n_B) is one
    * shared chain. NULLIF guards the single-bin degenerate.
    *
    * Scale: binning makes the distinct-value frame PRICE-RANGE-
    * bounded (≤ ~5k bins regardless of corpus size), so the two
    * value-ordered cumsum windows run over a constant-size
    * post-aggregation frame — never a corpus-fraction single
    * partition; the fact scan is one broadcast-dim aggregate.
    */
  def andersonDarling2(spark: SparkSession, dir: String,
                       segA: String = "AUTOMOBILE",
                       segB: String = "BUILDING"): DataFrame = {
    val dec386 = "DECIMAL(38,6)"
    val cust = Tables.load(spark, dir, "customer")
      .filter(col("c_mktsegment").isin(segA, segB))
      .select(col("c_custkey"), col("c_mktsegment"))
    val vals = Tables.load(spark, dir, "orders")
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .select(floor(col("o_totalprice") / lit(100.0)).cast("long").as("z"),
        (col("c_mktsegment") === segA).as("is_a"))
    val bins = vals.groupBy(col("z"))
      .agg(count(lit(1)).as("l"),
        sum(when(col("is_a"), 1L).otherwise(0L)).as("la"))
    val wCum = org.apache.spark.sql.expressions.Window.orderBy(col("z"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val cums = bins
      .withColumn("cum", sum(col("l")).over(wCum))
      .withColumn("cuma", sum(col("la")).over(wCum))
    val totals = bins.agg(sum(col("l")).as("nn"), sum(col("la")).as("na"),
      count(lit(1)).as("n_bins"))
    val scored = cums.crossJoin(broadcast(totals))
      .withColumn("nb", col("nn") - col("na"))
      .withColumn("b2", lit(2) * col("cum") - col("l"))
      .withColumn("m2a", lit(2) * col("cuma") - col("la"))
      .withColumn("m2b",
        lit(2) * (col("cum") - col("cuma")) - (col("l") - col("la")))
      .withColumn("den",
        (col("b2") * (lit(2) * col("nn") - col("b2"))
          - col("nn") * col("l")).cast("double"))
      .withColumn("ca", col("l").cast("double")
        * pow((col("nn") * col("m2a") - col("na") * col("b2")).cast("double"),
          lit(2.0)) / nullif(col("den"), lit(0.0)))
      .withColumn("cb", col("l").cast("double")
        * pow((col("nn") * col("m2b") - col("nb") * col("b2")).cast("double"),
          lit(2.0)) / nullif(col("den"), lit(0.0)))
    scored.groupBy(col("nn"), col("na"), col("nb"), col("n_bins"))
      .agg(sum(round(col("ca"), 6).cast(dec386)).cast("double").as("sa"),
        sum(round(col("cb"), 6).cast(dec386)).cast("double").as("sb"))
      .select(lit(segA).as("seg_a"), lit(segB).as("seg_b"),
        col("na").as("n_a"), col("nb").as("n_b"), col("n_bins"),
        round((col("nn") - lit(1)).cast("double")
          / (col("nn") * col("nn")).cast("double")
          * (col("sa") / col("na").cast("double")
            + col("sb") / col("nb").cast("double")), 6).as("a2_akn"))
  }

  def andersonDarling2Sql(segA: String = "AUTOMOBILE",
                          segB: String = "BUILDING"): String =
    s"""WITH vals AS (
       |  SELECT CAST(FLOOR(o_totalprice / 100.0) AS BIGINT) AS z,
       |    c.c_mktsegment = '$segA' AS is_a
       |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
       |  WHERE c.c_mktsegment IN ('$segA', '$segB')
       |), bins AS (
       |  SELECT CAST(z AS BIGINT) AS z, COUNT(*) AS l,
       |    SUM(CASE WHEN is_a THEN 1 ELSE 0 END) AS la
       |  FROM vals GROUP BY 1
       |), cums AS (
       |  SELECT z, l, la,
       |    SUM(l) OVER (ORDER BY z
       |      ROWS UNBOUNDED PRECEDING) AS cum,
       |    SUM(la) OVER (ORDER BY z
       |      ROWS UNBOUNDED PRECEDING) AS cuma
       |  FROM bins
       |), tot AS (
       |  SELECT SUM(l) AS nn, SUM(la) AS na, COUNT(*) AS n_bins FROM bins
       |), scored AS (
       |  SELECT c.l,
       |    t.nn, t.na, t.nn - t.na AS nb, t.n_bins,
       |    2 * c.cum - c.l AS b2,
       |    2 * c.cuma - c.la AS m2a,
       |    2 * (c.cum - c.cuma) - (c.l - c.la) AS m2b,
       |    CAST((2 * c.cum - c.l) * (2 * t.nn - (2 * c.cum - c.l))
       |      - t.nn * c.l AS DOUBLE) AS den
       |  FROM cums c CROSS JOIN tot t
       |), contrib AS (
       |  SELECT nn, na, nb, n_bins,
       |    CAST(l AS DOUBLE)
       |      * pow(CAST(nn * m2a - na * b2 AS DOUBLE), 2.0)
       |      / NULLIF(den, 0.0) AS ca,
       |    CAST(l AS DOUBLE)
       |      * pow(CAST(nn * m2b - nb * b2 AS DOUBLE), 2.0)
       |      / NULLIF(den, 0.0) AS cb
       |  FROM scored
       |)
       |SELECT '$segA' AS seg_a, '$segB' AS seg_b,
       |  CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
       |  CAST(n_bins AS BIGINT) AS n_bins,
       |  ROUND(CAST(nn - 1 AS DOUBLE) / CAST(nn * nn AS DOUBLE)
       |    * (CAST(SUM(CAST(ROUND(ca, 6) AS DECIMAL(38,6))) AS DOUBLE)
       |         / CAST(na AS DOUBLE)
       |       + CAST(SUM(CAST(ROUND(cb, 6) AS DECIMAL(38,6))) AS DOUBLE)
       |         / CAST(nb AS DOUBLE)), 6) AS a2_akn
       |FROM contrib
       |GROUP BY nn, na, nb, n_bins""".stripMargin

  /** q541 — equi-depth histogram selectivity audit: build the
    * B = 20-bucket equi-depth histogram of l_extendedprice (the
    * statistic a cost-based optimizer keeps per column — Catalyst's
    * `spark.sql.statistics.histogram.enabled` builds exactly this),
    * then score the histogram's uniform-within-bucket estimate of
    * sel(x ≤ c) against the exact count for a fixed cut ladder. The
    * per-cut rel_err is the number behind every "why did the
    * optimizer pick the wrong join side" postmortem: range-predicate
    * selectivity misestimates compound multiplicatively through a
    * plan. q540 audits the JOIN estimator; this audits the FILTER
    * estimator; q483's bin advisor says how wide histogram bins
    * should be.
    *
    * Exactness: boundaries are RANK-SELECTED (b_i = min binned value
    * with cum ≥ (N·i) div B — exact integer rank arithmetic, the
    * q529 convention; no interpolated percentile crosses the engine
    * boundary); actual counts are exact cumulative BIGINTs; the
    * estimate is one shared double chain with the bj = bj+1
    * degenerate pinned to frac = 1 in both engines, 6dp-rounded.
    *
    * Scale: values bin to floor(price/100) first, so every window
    * runs over a PRICE-RANGE-bounded frame (~1k rows regardless of
    * corpus size; the q534 posture); the fact scan is one map-side
    * combined aggregate. Boundaries × cuts is a 21×|cuts| broadcast
    * grid.
    */
  def histogramSelectivityAudit(spark: SparkSession, dir: String,
      buckets: Int = 20,
      cuts: Seq[Int] = Seq(50, 100, 200, 400, 700, 1000)): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val bins = Tables.load(spark, dir, "lineitem")
      .select(floor(col("l_extendedprice") / lit(100.0)).cast("long").as("z"))
      .groupBy(col("z")).agg(count(lit(1)).as("cnt"))
    val cums = bins
      .withColumn("cum", sum(col("cnt")).over(W.orderBy(col("z"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)))
      .transform(graft.Iterate.cut)
    val tot = cums.agg(max(col("cum")).as("n"), min(col("z")).as("zmin"),
      max(col("z")).as("zmax"))
    // rank-selected boundaries: b_i = min z with cum >= (n*i) div B
    val is = spark.range(1, buckets.toLong) // 1..B-1
      .select(col("id").cast("int").as("i"))
    val inner = is.crossJoin(broadcast(tot))
      .withColumn("r", expr(s"(n * i) div $buckets"))
      .join(cums, col("cum") >= col("r"))
      .groupBy(col("i")).agg(min(col("z")).as("b"))
    val bnd = tot.select(lit(0).as("i"), col("zmin").as("b"))
      .unionByName(inner)
      .unionByName(tot.select(lit(buckets).as("i"), col("zmax").as("b")))
    val cutDf = spark.range(1)
      .select(explode(array(cuts.map(lit): _*)).as("cut_z"))
    // j = max bucket index (0..B-1) whose lower boundary <= cut
    val j = cutDf.join(broadcast(bnd.filter(col("i") < buckets)),
        col("b") <= col("cut_z"), "left")
      .groupBy(col("cut_z")).agg(max(col("i")).as("j"))
    val est = j
      .join(broadcast(bnd.select(col("i").as("j"), col("b").as("bj"))),
        Seq("j"), "left")
      .join(broadcast(bnd.select((col("i") - 1).as("j"), col("b").as("bj1"))),
        Seq("j"), "left")
      .crossJoin(broadcast(tot))
      .withColumn("frac",
        when(col("j").isNull, lit(0.0))
          .when(col("cut_z") >= col("zmax"), lit(1.0))
          .when(col("bj1") <= col("bj"), lit(1.0))
          .otherwise(least(lit(1.0),
            (col("cut_z") - col("bj")).cast("double")
              / (col("bj1") - col("bj")).cast("double"))))
      .withColumn("est_rows",
        round(least(col("n").cast("double"),
          col("n").cast("double") / lit(buckets.toDouble)
            * (coalesce(col("j").cast("double"), lit(0.0)) + col("frac"))),
          6))
    val actual = cutDf.join(cums, col("z") <= col("cut_z"), "left")
      .groupBy(col("cut_z")).agg(coalesce(max(col("cum")), lit(0L))
        .as("actual_rows"))
    est.join(actual, "cut_z")
      .select(col("cut_z").cast("long").as("cut_z"),
        col("est_rows"), col("actual_rows"),
        (round((col("est_rows") - col("actual_rows").cast("double"))
          / nullif(col("actual_rows").cast("double"), lit(0.0)), 6) + lit(0.0))
          .as("rel_err"))
      .orderBy(col("cut_z"))
  }

  def histogramSelectivityAuditSql(buckets: Int = 20,
      cuts: Seq[Int] = Seq(50, 100, 200, 400, 700, 1000)): String = {
    val cutList = cuts.mkString("[", ", ", "]")
    s"""WITH bins AS (
       |  SELECT CAST(FLOOR(l_extendedprice / 100.0) AS BIGINT) AS z,
       |    COUNT(*) AS cnt
       |  FROM lineitem GROUP BY 1
       |), cums AS (
       |  SELECT z, cnt,
       |    SUM(cnt) OVER (ORDER BY z ROWS UNBOUNDED PRECEDING) AS cum
       |  FROM bins
       |), tot AS (
       |  SELECT MAX(cum) AS n, MIN(z) AS zmin, MAX(z) AS zmax FROM cums
       |), inner_b AS (
       |  SELECT i.i, MIN(c.z) AS b
       |  FROM (SELECT unnest(range(1, $buckets)) AS i) i
       |  CROSS JOIN tot t
       |  JOIN cums c ON c.cum >= (t.n * i.i) // $buckets
       |  GROUP BY i.i
       |), bnd AS (
       |  SELECT 0 AS i, zmin AS b FROM tot
       |  UNION ALL SELECT i, b FROM inner_b
       |  UNION ALL SELECT $buckets AS i, zmax AS b FROM tot
       |), cut_list AS (
       |  SELECT unnest($cutList) AS cut_z
       |), jpick AS (
       |  SELECT cl.cut_z, MAX(bd.i) AS j
       |  FROM cut_list cl
       |  LEFT JOIN bnd bd ON bd.b <= cl.cut_z AND bd.i < $buckets
       |  GROUP BY cl.cut_z
       |), est AS (
       |  SELECT jp.cut_z, jp.j, t.n, t.zmax,
       |    bj.b AS bj, bj1.b AS bj1,
       |    CASE WHEN jp.j IS NULL THEN 0.0
       |      WHEN jp.cut_z >= t.zmax THEN 1.0
       |      WHEN bj1.b <= bj.b THEN 1.0
       |      ELSE LEAST(1.0, CAST(jp.cut_z - bj.b AS DOUBLE)
       |        / CAST(bj1.b - bj.b AS DOUBLE)) END AS frac
       |  FROM jpick jp
       |  CROSS JOIN tot t
       |  LEFT JOIN bnd bj ON bj.i = jp.j
       |  LEFT JOIN bnd bj1 ON bj1.i = jp.j + 1
       |), scored AS (
       |  SELECT cut_z,
       |    ROUND(LEAST(CAST(n AS DOUBLE),
       |      CAST(n AS DOUBLE) / $buckets.0
       |        * (COALESCE(CAST(j AS DOUBLE), 0.0) + frac)), 6) AS est_rows
       |  FROM est
       |), act AS (
       |  SELECT cl.cut_z, CAST(COALESCE(MAX(c.cum), 0) AS BIGINT)
       |    AS actual_rows
       |  FROM cut_list cl LEFT JOIN cums c ON c.z <= cl.cut_z
       |  GROUP BY cl.cut_z
       |)
       |SELECT CAST(s.cut_z AS BIGINT) AS cut_z, s.est_rows, a.actual_rows,
       |  ROUND((s.est_rows - CAST(a.actual_rows AS DOUBLE))
       |    / NULLIF(CAST(a.actual_rows AS DOUBLE), 0.0), 6) + 0.0 AS rel_err
       |FROM scored s JOIN act a USING (cut_z)
       |ORDER BY cut_z""".stripMargin
  }

  /** q547 — process-capability indices (Cp / Cpk / observed yield) of
    * the ship-lag process per supplier nation against literal spec
    * limits [0, 60] days: the SPC shelf's capability member — q523's
    * p-chart asks "is the process stable today"; Cpk asks the
    * planning question "can this process MEET the spec at all"
    * (Cpk ≥ 1.33 is the classic capable cut), and the gap between Cp
    * and Cpk is pure mis-centering. Per-nation rows name which
    * supplier geographies structurally cannot ship inside spec.
    *
    * Exactness: lags are exact integer days so Σx and Σx² are exact
    * BIGINTs; μ, σ (n−1), the indices and the exact observed
    * in-spec share are one shared double chain off those sums,
    * 6dp-rounded, NULLIF for degenerate (σ = 0 or n < 2) groups.
    *
    * Scale: one fact scan with the supplier dim broadcast, one
    * |nations|-row aggregate.
    */
  def processCapability(spark: SparkSession, dir: String,
                        lsl: Int = 0, usl: Int = 60): DataFrame = {
    val lags = shippedLines(spark, dir)
      .select(col("s_nationkey"),
        expr("datediff(l_shipdate, o_orderdate)").cast("long").as("x"))
    val g = lags.groupBy(col("s_nationkey"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"),
        sum(col("x") * col("x")).as("sxx"),
        sum(when(col("x").between(lsl, usl), 1L).otherwise(0L)).as("n_in"))
      .withColumn("nD", col("n").cast("double"))
      .withColumn("mu", col("sx").cast("double") / col("nD"))
      .withColumn("sd", sqrt(greatest(
        (col("sxx").cast("double")
          - col("sx").cast("double") * col("sx").cast("double") / col("nD"))
          / nullif(col("nD") - 1.0, lit(0.0)), lit(0.0))))
    g.select(col("s_nationkey"), col("n"),
        round(col("mu"), 6).as("mean_lag"),
        round(col("sd"), 6).as("sd_lag"),
        round(lit((usl - lsl).toDouble)
          / nullif(lit(6.0) * col("sd"), lit(0.0)), 6).as("cp"),
        (round(least(lit(usl.toDouble) - col("mu"), col("mu") - lit(lsl.toDouble))
          / nullif(lit(3.0) * col("sd"), lit(0.0)), 6) + lit(0.0)).as("cpk"),
        round(col("n_in").cast("double") / col("nD"), 6).as("in_spec_share"))
      .orderBy(col("s_nationkey"))
  }

  def processCapabilitySql(lsl: Int = 0, usl: Int = 60): String =
    s"""WITH lags AS (
       |  SELECT s.s_nationkey,
       |    CAST(datediff('day', o.o_orderdate, l.l_shipdate) AS BIGINT) AS x
       |  FROM lineitem l
       |  JOIN orders o ON o.o_orderkey = l.l_orderkey
       |  JOIN supplier s ON s.s_suppkey = l.l_suppkey
       |), g AS (
       |  SELECT s_nationkey, COUNT(*) AS n,
       |    CAST(SUM(x) AS BIGINT) AS sx,
       |    CAST(SUM(x * x) AS BIGINT) AS sxx,
       |    CAST(SUM(CASE WHEN x BETWEEN $lsl AND $usl THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_in
       |  FROM lags GROUP BY 1
       |), m AS (
       |  SELECT s_nationkey, n, n_in,
       |    CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
       |    sqrt(GREATEST((CAST(sxx AS DOUBLE)
       |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
       |      / NULLIF(CAST(n AS DOUBLE) - 1.0, 0.0), 0.0)) AS sd
       |  FROM g
       |)
       |SELECT s_nationkey, CAST(n AS BIGINT) AS n,
       |  ROUND(mu, 6) AS mean_lag,
       |  ROUND(sd, 6) AS sd_lag,
       |  ROUND(${(usl - lsl).toDouble} / NULLIF(6.0 * sd, 0.0), 6) AS cp,
       |  ROUND(LEAST($usl.0 - mu, mu - $lsl.0)
       |    / NULLIF(3.0 * sd, 0.0), 6) + 0.0 AS cpk,
       |  ROUND(CAST(n_in AS DOUBLE) / CAST(n AS DOUBLE), 6) AS in_spec_share
       |FROM m ORDER BY s_nationkey""".stripMargin
}
