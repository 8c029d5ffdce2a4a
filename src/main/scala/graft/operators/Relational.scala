package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables

/** Core relational operator suite — the reference's analytics surface
  * (SURVEY §2.2-2.8) re-expressed as declarative DataFrame programs so
  * Catalyst supplies pushdown, pruning, join selection, partial
  * aggregation and whole-stage codegen (the role Postgres's planner
  * played for the reference, `src/utils/lib.ts:302-496`).
  *
  * Oracle-parity conventions (DuckDB, SURVEY §5):
  *  - Sums of wide-magnitude doubles go through DECIMAL(18,6) so the
  *    result is exact and independent of partial-aggregation order
  *    ([[decSum]]).
  *  - O(1)-magnitude composite scores are rounded to 6 decimals.
  *  - Every query ends in a fully-tiebroken ORDER BY.
  *  - Postgres `DESC` = NULLS FIRST (reference `lib.ts:410,491`), so
  *    sorts on nullable scores use `desc_nulls_first` (SURVEY O1).
  */
object Relational {

  /** Order-independent exact sum of a double expression: per-row cast
    * to DECIMAL(18,6) (deterministic — .5-ulp ties are not binary-
    * representable at scale 6), exact decimal addition, final double.
    * At 100 TB this stays a partial+final HashAggregate — no extra
    * shuffle versus sum(double).
    */
  def decSum(c: Column): Column = sum(c.cast(DecimalType(18, 6))).cast("double")

  /** q357 — supplier concentration (Herfindahl–Hirschman index) per
    * part type: each part type's revenue split across suppliers,
    * HHI = Σ (share·100)² in the standard 0–10 000 points (10 000 =
    * monopoly; <1 500 reads unconcentrated by the usual antitrust
    * rule of thumb), with the supplier count and the top supplier's
    * share alongside — the supply-risk screen a sourcing decision
    * reads ("which part types depend on one vendor"). Completes the
    * concentration family: q147/q333 measure concentration across a
    * POPULATION ranking, HHI measures it across a categorical split.
    *
    * Exactness: revenue is integer cents; each share² term is one
    * double chain on exact integers, rounded 6dp and DECIMAL-summed
    * (order-independent); the grid is |types| × |suppliers-per-type|.
    * Scale: one lineitem⋈part aggregate (part broadcasts), then
    * type-keyed algebra.
    */
  def supplierHhi(spark: SparkSession, dir: String): DataFrame = {
    val cells = graft.Tables.load(spark, dir, "lineitem")
      .join(broadcast(graft.Tables.load(spark, dir, "part")
        .select(col("p_partkey"), col("p_type"))),
        col("l_partkey") === col("p_partkey"))
      .select(col("p_type"), col("l_suppkey"),
        round(col("l_extendedprice") * 100, 0).cast("long").as("cents"))
      .groupBy(col("p_type"), col("l_suppkey"))
      .agg(sum(col("cents")).as("c"))
    val tot = cells.groupBy(col("p_type"))
      .agg(sum(col("c")).as("tot"), count(lit(1)).as("n_suppliers"))
    cells.join(tot, "p_type")
      .withColumn("share", col("c").cast("double") / col("tot").cast("double"))
      .groupBy(col("p_type"), col("n_suppliers"), col("tot"))
      .agg(sum(round(col("share") * col("share") * 1e4, 6)
          .cast("decimal(18,6)")).cast("double").as("hhi"),
        round(max(col("share")), 6).as("top_share"))
      .select(col("p_type"), col("n_suppliers"),
        col("tot").as("total_cents"), col("hhi"), col("top_share"))
      .orderBy(col("hhi").desc, col("p_type"))
  }

  val supplierHhiSql: String =
    """WITH cells AS (
      |  SELECT p.p_type, l.l_suppkey,
      |    CAST(SUM(CAST(ROUND(l.l_extendedprice * 100, 0) AS BIGINT))
      |      AS BIGINT) AS c
      |  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      |  GROUP BY 1, 2
      |), tot AS (
      |  SELECT p_type, CAST(SUM(c) AS BIGINT) AS tot,
      |    CAST(COUNT(*) AS BIGINT) AS n_suppliers
      |  FROM cells GROUP BY 1
      |)
      |SELECT c.p_type, t.n_suppliers, t.tot AS total_cents,
      |  CAST(SUM(CAST(ROUND((CAST(c.c AS DOUBLE) / CAST(t.tot AS DOUBLE))
      |    * (CAST(c.c AS DOUBLE) / CAST(t.tot AS DOUBLE)) * 10000, 6)
      |    AS DECIMAL(18,6))) AS DOUBLE) AS hhi,
      |  ROUND(MAX(CAST(c.c AS DOUBLE) / CAST(t.tot AS DOUBLE)), 6)
      |    AS top_share
      |FROM cells c JOIN tot t ON t.p_type = c.p_type
      |GROUP BY c.p_type, t.n_suppliers, t.tot
      |ORDER BY hhi DESC, c.p_type""".stripMargin

  /** Millisecond-epoch view of a timestamp column. The events table is
    * parquet timestamp[ns]; Spark truncates to micros while DuckDB
    * keeps nanos, so all cross-engine outputs and orderings use the
    * common millisecond truncation (integer division — no double
    * rounding).
    */
  def tsMs(colName: String): Column = expr(s"unix_micros($colName) div 1000")

  // ---------------------------------------------------------------------------
  // q01 — grouped multi-aggregate rollup (SURVEY A3/A5/F7; reference
  // lib.ts:355-362, 444-450: COUNT(*)::INT + SUM with casts).
  // TPC-H-Q1-shaped pricing summary over lineitem.
  // ---------------------------------------------------------------------------
  def pricingSummary(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
    li.filter(col("l_shipdate") <= lit("1998-09-02 00:00:00").cast(TimestampType))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        decSum(col("l_quantity")).as("sum_qty"),
        decSum(col("l_extendedprice")).as("sum_base_price"),
        decSum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sum_disc_price"),
        (decSum(col("l_quantity")) / count(col("l_quantity"))).as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  val pricingSummarySql: String =
    """SELECT l_returnflag, l_linestatus,
      | CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_base_price,
      | CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
      | CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
      | COUNT(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // ---------------------------------------------------------------------------
  // q02 — latest row per key (SURVEY W1/O2; reference lib.ts:303-313,
  // 370-375: DISTINCT ON (handle) ... ORDER BY capturedAt DESC).
  // row_number over (key, ts DESC) with a deterministic tiebreak.
  // Scale: one hash-partition shuffle on the key; at 100 TB prefer the
  // same shape (no global sort) — the window sorts within partitions only.
  // ---------------------------------------------------------------------------
  def latestEventPerUser(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
      .withColumn("ts_ms", tsMs("ts"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_ms").desc, col("event_id").desc)
    ev.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(
        col("user_id"),
        col("event_id").as("last_event_id"),
        col("ts_ms").as("last_ts_ms"),
        col("event_type").as("last_event_type"),
        col("value").as("last_value"))
      .orderBy(col("user_id"))
  }

  /** q33 — latest-per-key via max_by aggregation: same semantics as
    * the window form (q02) but as a partial+final HashAggregate —
    * map-side combining shrinks the shuffle to one row per key per
    * partition, where the window form shuffles every row. At 100 TB
    * this is the preferred shape; both are kept because the window
    * form generalizes to top-N. Ordering struct (ts_ms, event_id)
    * reproduces the window's tiebreak.
    */
  def latestEventPerUserAgg(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
      .withColumn("ts_ms", tsMs("ts"))
    ev.groupBy(col("user_id"))
      .agg(
        max_by(col("event_id"), struct(col("ts_ms"), col("event_id"))).as("last_event_id"),
        max(col("ts_ms")).as("last_ts_ms"),
        max_by(col("event_type"), struct(col("ts_ms"), col("event_id"))).as("last_event_type"),
        max_by(col("value"), struct(col("ts_ms"), col("event_id"))).as("last_value"))
      .orderBy(col("user_id"))
  }

  val latestEventPerUserSql: String =
    """SELECT user_id, event_id AS last_event_id, epoch_ms(ts) AS last_ts_ms,
      | event_type AS last_event_type, value AS last_value
      |FROM events
      |QUALIFY row_number() OVER (PARTITION BY user_id
      |  ORDER BY epoch_ms(ts) DESC, event_id DESC) = 1
      |ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------------------
  // q03 — flagship: the reference's getAppsByPopularity dataflow
  // (SURVEY §3.2; reference lib.ts:337-413) mapped onto the testdata
  // star schema. Role mapping: app=supplier, category=part (positions
  // come from lineitem.l_linenumber), recommendations=lineitem rows
  // with l_returnflag='N', snapshots=lineitem keyed by l_shipdate,
  // dimension joins = supplier⋈nation (App⋈Developer).
  //
  // Physical posture (SURVEY §4): one per-supplier hash aggregation
  // over lineitem (after the category-size aggregate it looks up) +
  // broadcast dimension joins. The reference's global MAX(...) OVER ()
  // (lib.ts:380-381) would serialize everything through one partition,
  // so it is computed as a 1-row aggregate broadcast-cross-joined back
  // (W2→A6 rewrite) — the 100 TB-safe form.
  // ---------------------------------------------------------------------------
  def popularity(spark: SparkSession, dir: String): DataFrame =
    popularityCore(
      Tables.load(spark, dir, "lineitem"),
      Tables.load(spark, dir, "supplier"),
      Tables.load(spark, dir, "nation"),
      Tables.load(spark, dir, "part"))

  /** The per-app CTEs q03 and q48 share (the reference re-states them
    * verbatim, lib.ts:341-375 vs lib.ts:430-472) as ONE groupBy over
    * lineitem, so a query reads lineitem for them once:
    *  - category_sizes (COUNT(DISTINCT app) per category) is looked up
    *    per row, and rank_scores is SUM(1/(pos+1) * LOG10(size + 1)); a
    *    row without a category adds NULL, as the reference's inner join
    *    drops it;
    *  - recommendation_metrics is the `l_returnflag = 'N'` rows' COUNT
    *    and SUM(1/(pos+1)); an app without such a row reads COUNT 0 and
    *    SUM NULL, what the reference's left join gives after COALESCE;
    *  - app_categories is ARRAY_AGG(DISTINCT brand) made deterministic
    *    via array_sort (SURVEY A4), flattened to a string for byte-stable
    *    oracle comparison; part is a lookup (p_partkey is its key);
    *  - latest_snapshots is the max of the `snap` struct, whose field
    *    order is the reference's row_number order: DESC NULLS LAST on
    *    every key is the struct max, where a NULL field sorts lowest.
    *    (l_orderkey, l_linenumber) is NOT unique in the synthetic data,
    *    so l_extendedprice joins the tiebreak, and every output of the
    *    pick joins it (`snapTail`) — ties on all keys then agree on
    *    every output column, making the pick value-stable across
    *    engines and reruns.
    */
  private def appStatsOf(li: DataFrame, prt: DataFrame,
                         snapTail: Seq[String]): DataFrame = {
    val catSizes = li.groupBy(col("l_partkey"))
      .agg(countDistinct(col("l_suppkey")).as("total_apps"))
    val pos = lit(1.0) / (col("l_linenumber") + 1)
    val isRec = col("l_returnflag") === "N"
    val snapKeys = Seq("l_shipdate", "l_orderkey", "l_linenumber", "l_extendedprice") ++ snapTail
    // an app is a non-null l_suppkey (a NULL group joins no supplier).
    // The stats are ONE struct-valued aggregate: Spark prunes unread
    // aggregate columns one by one, so the global maxes, which read two
    // of them, would otherwise get their own copy of the aggregate, with
    // its own exchange and lineitem scan, instead of reusing this one's
    li.filter(col("l_suppkey").isNotNull)
      .join(catSizes, Seq("l_partkey"), "left")
      .join(broadcast(prt.select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"), "left")
      .groupBy(col("l_suppkey"))
      .agg(struct(
        count_if(isRec).cast(IntegerType).as("rec_count"),
        sum(when(isRec, pos)).as("rec_score"),
        sum(log10(col("total_apps") + 1) * pos).as("category_rank_score"),
        concat_ws("|", array_sort(collect_set(col("p_brand")))).as("brands"),
        max(struct(snapKeys.map(col): _*)).as("snap")).as("app"))
      .select(col("l_suppkey"), col("app.*"))
  }

  /** The popularity blend (lib.ts:393-394 / 463-465), replicated
    * EXACTLY (SURVEY F2 — don't "fix"): numerators are
    * NULLIF(COALESCE(score, 0), 0) — a zero or absent score nulls its
    * term and hence the whole blend — and denominators are
    * NULLIF(max, 1) (the reference's quirk: a max of exactly 1 yields
    * NULL popularity; with NULLIF(max, 0) results diverge only when
    * max ∈ {0, 1}).
    */
  private def popularityBlend: Column =
    round(lit(0.7) * (nullif(coalesce(col("rec_score"), lit(0.0)), lit(0.0)) /
            nullif(col("max_rec"), lit(1.0))) +
          lit(0.3) * (nullif(coalesce(col("category_rank_score"), lit(0.0)), lit(0.0)) /
            nullif(col("max_cat"), lit(1.0))), 6)

  /** scores (lib.ts:376-385 / 450-466): supplier left-joined with the
    * app stats, plus `popularity`. The global maxes are a broadcast
    * 1-row aggregate of the same stats frame (W2→A6 rewrite of
    * `MAX(COALESCE(x, 0)) OVER ()`): the scores are sums of positive
    * terms, so that equals COALESCE(MAX(x), 0) over the stats, and AQE
    * reuses the stats' exchange for it instead of reading lineitem again.
    */
  private def scoresOf(sup: DataFrame, stats: DataFrame): DataFrame = {
    val maxes = stats.agg(
      coalesce(max(col("rec_score")), lit(0.0)).as("max_rec"),
      coalesce(max(col("category_rank_score")), lit(0.0)).as("max_cat"))
    sup.join(stats, sup("s_suppkey") === stats("l_suppkey"), "left")
      .drop("l_suppkey")
      .crossJoin(broadcast(maxes))
      .withColumn("popularity", popularityBlend)
  }

  /** Core dataflow with injectable inputs (micro-fixture tests feed
    * literal frames exercising the NULL/tie traps, FIXTURES.md §2).
    */
  def popularityCore(li: DataFrame, sup: DataFrame, nat: DataFrame,
                     prt: DataFrame): DataFrame = {
    val scored = scoresOf(sup, appStatsOf(li, prt, Nil))
    scored
      .join(broadcast(nat), scored("s_nationkey") === nat("n_nationkey"), "left")
      .select(
        col("s_suppkey").as("app_key"),
        col("s_name").as("app_name"),
        coalesce(col("n_name"), lit("")).as("developer_name"),
        coalesce(col("rec_count"), lit(0)).as("rec_count"),
        round(coalesce(col("rec_score"), lit(0.0)), 6).as("rec_score"),
        round(coalesce(col("category_rank_score"), lit(0.0)), 6).as("category_rank_score"),
        coalesce(col("brands"), lit("")).as("categories"),
        date_format(col("snap.l_shipdate"), "MM-dd-yyyy").as("last_snapshot_date"),
        col("snap.l_extendedprice").as("last_price"),
        col("popularity"))
      // Postgres ORDER BY ... DESC is NULLS FIRST (SURVEY O1).
      .orderBy(col("popularity").desc_nulls_first, col("app_key"))
  }

  val popularitySql: String =
    """WITH category_sizes AS (
      |  SELECT l_partkey, COUNT(DISTINCT l_suppkey) AS total_apps
      |  FROM lineitem GROUP BY l_partkey
      |), rank_scores AS (
      |  SELECT l.l_suppkey,
      |    SUM((1.0/(l.l_linenumber+1)) * log10(cs.total_apps+1)) AS category_rank_score
      |  FROM lineitem l JOIN category_sizes cs ON l.l_partkey = cs.l_partkey
      |  GROUP BY l.l_suppkey
      |), rec_metrics AS (
      |  SELECT l_suppkey, CAST(COUNT(*) AS INT) AS rec_count,
      |    SUM(1.0/(l_linenumber+1)) AS rec_score
      |  FROM lineitem WHERE l_returnflag = 'N' GROUP BY l_suppkey
      |), app_categories AS (
      |  SELECT l.l_suppkey,
      |    array_to_string(list_sort(list(DISTINCT p.p_brand)), '|') AS brands
      |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      |  GROUP BY l.l_suppkey
      |), latest_snapshots AS (
      |  SELECT l_suppkey, l_shipdate AS last_shipdate, l_extendedprice AS last_price
      |  FROM lineitem
      |  QUALIFY row_number() OVER (PARTITION BY l_suppkey
      |    ORDER BY l_shipdate DESC, l_orderkey DESC, l_linenumber DESC, l_extendedprice DESC) = 1
      |), scores AS (
      |  SELECT s.*, rec.rec_count, rec.rec_score, rk.category_rank_score,
      |    MAX(COALESCE(rec.rec_score, 0)) OVER () AS max_rec,
      |    MAX(COALESCE(rk.category_rank_score, 0)) OVER () AS max_cat
      |  FROM supplier s
      |  LEFT JOIN rec_metrics rec ON s.s_suppkey = rec.l_suppkey
      |  LEFT JOIN rank_scores rk ON s.s_suppkey = rk.l_suppkey
      |)
      |SELECT sc.s_suppkey AS app_key, sc.s_name AS app_name,
      |  COALESCE(n.n_name, '') AS developer_name,
      |  COALESCE(sc.rec_count, 0) AS rec_count,
      |  ROUND(COALESCE(sc.rec_score, 0), 6) AS rec_score,
      |  ROUND(COALESCE(sc.category_rank_score, 0), 6) AS category_rank_score,
      |  COALESCE(ac.brands, '') AS categories,
      |  strftime(ls.last_shipdate, '%m-%d-%Y') AS last_snapshot_date,
      |  ls.last_price AS last_price,
      |  ROUND(0.7 * (NULLIF(COALESCE(sc.rec_score, 0), 0) / NULLIF(sc.max_rec, 1)) +
      |        0.3 * (NULLIF(COALESCE(sc.category_rank_score, 0), 0) / NULLIF(sc.max_cat, 1)), 6) AS popularity
      |FROM scores sc
      |LEFT JOIN nation n ON sc.s_nationkey = n.n_nationkey
      |LEFT JOIN app_categories ac ON sc.s_suppkey = ac.l_suppkey
      |LEFT JOIN latest_snapshots ls ON sc.s_suppkey = ls.l_suppkey
      |ORDER BY popularity DESC NULLS FIRST, app_key""".stripMargin

  // ---------------------------------------------------------------------------
  // q04 — difficulty rollup (SURVEY A5; reference lib.ts:478-491:
  // COUNT DISTINCT + AVG + SUM(COALESCE) + LOG10-composite per category).
  // ---------------------------------------------------------------------------
  def difficulty(spark: SparkSession, dir: String): DataFrame = {
    val li  = Tables.load(spark, dir, "lineitem")
    val prt = Tables.load(spark, dir, "part")
    val sup = Tables.load(spark, dir, "supplier")
    li.join(broadcast(prt), li("l_partkey") === prt("p_partkey"))
      .join(broadcast(sup), li("l_suppkey") === sup("s_suppkey"))
      .groupBy(col("p_brand"))
      .agg(
        countDistinct(col("l_suppkey")).as("total_apps"),
        (decSum(coalesce(col("s_acctbal"), lit(0.0))) / count(lit(1))).as("avg_rating"),
        decSum(coalesce(col("l_quantity"), lit(0.0))).as("total_reviews"))
      .withColumn("difficulty_score",
        round(log10(col("total_apps") + 1) * (col("avg_rating") / 1000.0) *
              log10(col("total_reviews") + 1), 6))
      // one row per brand: sorted in one partition, with no range
      // sampling job or range exchange
      .coalesce(1)
      .sortWithinPartitions(col("difficulty_score").desc_nulls_first, col("p_brand"))
  }

  val difficultySql: String =
    """SELECT p.p_brand,
      |  COUNT(DISTINCT l.l_suppkey) AS total_apps,
      |  CAST(SUM(CAST(COALESCE(s.s_acctbal, 0) AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_rating,
      |  CAST(SUM(CAST(COALESCE(l.l_quantity, 0) AS DECIMAL(18,6))) AS DOUBLE) AS total_reviews,
      |  ROUND(log10(COUNT(DISTINCT l.l_suppkey) + 1) *
      |        (CAST(SUM(CAST(COALESCE(s.s_acctbal, 0) AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) / 1000.0) *
      |        log10(CAST(SUM(CAST(COALESCE(l.l_quantity, 0) AS DECIMAL(18,6))) AS DOUBLE) + 1), 6)
      |    AS difficulty_score
      |FROM lineitem l
      |JOIN part p ON l.l_partkey = p.p_partkey
      |JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |GROUP BY p.p_brand
      |ORDER BY difficulty_score DESC NULLS FIRST, p_brand""".stripMargin

  // ---------------------------------------------------------------------------
  // q48 — the reference's getCategoriesByDifficulty END-TO-END
  // (lib.ts:417-496): the full popularity pipeline chained as a CTE
  // into the per-category rollup. The reference re-states the
  // popularity CTEs inside this query rather than calling the other
  // one (lib.ts:430-466 duplicates lib.ts:341-385) — mirrored here,
  // including the quirks: AVG(popularity) and SUM(reviews) run over
  // the RAW app×category history join (apps with many position rows
  // weigh more), and rec_metrics here has no COUNT (lib.ts:444-449).
  //
  // Physical posture: same as q03 (broadcast scalar maxes, no OVER(),
  // partial+final aggs); the final rollup is one shuffle on p_brand.
  // ---------------------------------------------------------------------------
  def categoryDifficulty(spark: SparkSession, dir: String): DataFrame = {
    val li  = Tables.load(spark, dir, "lineitem")
    val sup = Tables.load(spark, dir, "supplier")
    val prt = Tables.load(spark, dir, "part")

    // popularity_scores and latest_snapshots (lib.ts:431-472): the
    // shared app stats — rec_metrics' COUNT (absent at lib.ts:444-449)
    // goes unread, same NULLIF(COALESCE(x,0),0) / NULLIF(max,1) blend
    // as q03; reviews = the latest snapshot's quantity, so l_quantity
    // ends the snapshot tiebreak
    val popScores = scoresOf(sup, appStatsOf(li, prt, Seq("l_quantity")))
      .select(col("s_suppkey"), col("popularity"),
        col("snap.l_quantity").as("last_reviews"))

    // app_categories (lib.ts:473-477): the RAW history join — one row
    // per lineitem row, NOT distinct (reference semantics)
    val appCats = li.join(broadcast(prt), li("l_partkey") === prt("p_partkey"))
      .select(col("l_suppkey").as("ac_suppkey"), col("p_brand"))

    // final rollup (lib.ts:478-491)
    val agg = popScores
      .join(appCats, popScores("s_suppkey") === col("ac_suppkey"))
      .groupBy(col("p_brand"))
      .agg(
        countDistinct(col("s_suppkey")).as("total_apps"),
        // AVG(popularity): decimal-exact sum (popularity is already
        // round(6)) over non-null rows — NULL when every app's
        // popularity in the category is NULL
        (decSum(col("popularity")) / nullif(count(col("popularity")), lit(0L)))
          .as("avg_raw"),
        decSum(coalesce(col("last_reviews"), lit(0.0))).as("total_reviews"))
    agg.select(
        col("p_brand").as("category_handle"),
        col("total_apps"),
        round(col("avg_raw"), 6).as("average_popularity_score"),
        col("total_reviews"),
        round(log10(col("total_apps") + 1) * col("avg_raw") *
              log10(col("total_reviews") + 1), 6).as("difficulty_score"))
      .orderBy(col("difficulty_score").desc_nulls_first, col("category_handle"))
  }

  val categoryDifficultySql: String =
    """WITH category_sizes AS (
      |  SELECT l_partkey, COUNT(DISTINCT l_suppkey) AS total_apps_c
      |  FROM lineitem GROUP BY l_partkey
      |), rank_scores AS (
      |  SELECT l.l_suppkey,
      |    SUM((1.0/(l.l_linenumber+1)) * log10(cs.total_apps_c+1)) AS category_rank_score
      |  FROM lineitem l JOIN category_sizes cs ON l.l_partkey = cs.l_partkey
      |  GROUP BY l.l_suppkey
      |), rec_metrics AS (
      |  SELECT l_suppkey, SUM(1.0/(l_linenumber+1)) AS rec_score
      |  FROM lineitem WHERE l_returnflag = 'N' GROUP BY l_suppkey
      |), scores AS (
      |  SELECT s.s_suppkey, rec.rec_score, rk.category_rank_score,
      |    MAX(COALESCE(rec.rec_score, 0)) OVER () AS max_rec,
      |    MAX(COALESCE(rk.category_rank_score, 0)) OVER () AS max_cat
      |  FROM supplier s
      |  LEFT JOIN rec_metrics rec ON s.s_suppkey = rec.l_suppkey
      |  LEFT JOIN rank_scores rk ON s.s_suppkey = rk.l_suppkey
      |), popularity_scores AS (
      |  SELECT s_suppkey,
      |    ROUND(0.7 * (NULLIF(COALESCE(rec_score, 0), 0) / NULLIF(max_rec, 1)) +
      |          0.3 * (NULLIF(COALESCE(category_rank_score, 0), 0) / NULLIF(max_cat, 1)), 6)
      |      AS popularity
      |  FROM scores
      |), latest_snapshots AS (
      |  SELECT l_suppkey, l_quantity AS last_reviews
      |  FROM lineitem
      |  QUALIFY row_number() OVER (PARTITION BY l_suppkey
      |    ORDER BY l_shipdate DESC, l_orderkey DESC, l_linenumber DESC,
      |             l_extendedprice DESC, l_quantity DESC) = 1
      |), app_categories AS (
      |  SELECT l.l_suppkey, p.p_brand
      |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      |), agg AS (
      |  SELECT ac.p_brand AS category_handle,
      |    COUNT(DISTINCT ps.s_suppkey) AS total_apps,
      |    CAST(SUM(CAST(ps.popularity AS DECIMAL(18,6))) AS DOUBLE)
      |      / NULLIF(COUNT(ps.popularity), 0) AS avg_raw,
      |    CAST(SUM(CAST(COALESCE(snap.last_reviews, 0) AS DECIMAL(18,6))) AS DOUBLE)
      |      AS total_reviews
      |  FROM popularity_scores ps
      |  JOIN app_categories ac ON ps.s_suppkey = ac.l_suppkey
      |  LEFT JOIN latest_snapshots snap ON ps.s_suppkey = snap.l_suppkey
      |  GROUP BY ac.p_brand
      |)
      |SELECT category_handle, total_apps,
      |  ROUND(avg_raw, 6) AS average_popularity_score,
      |  total_reviews,
      |  ROUND(log10(total_apps + 1) * avg_raw * log10(total_reviews + 1), 6)
      |    AS difficulty_score
      |FROM agg
      |ORDER BY difficulty_score DESC NULLS FIRST, category_handle""".stripMargin

  // ---------------------------------------------------------------------------
  // q49 — the reference's getAppsByCategory END-TO-END (lib.ts:280-318):
  // dynamic category/position predicates (P3/P5) + the two-history
  // IN-subquery (J3) + DISTINCT ON latest snapshot (W1), as ONE query.
  // capp := lineitem as position history (category=l_partkey,
  // position=l_linenumber); ach := lineitem as role history
  // (role=l_returnflag ∈ {N,R} for PRIMARY/SECONDARY).
  // ---------------------------------------------------------------------------
  def appsByCategory(spark: SparkSession, dir: String,
                     categories: Seq[Long] = Seq(1L, 2L, 3L, 4L, 5L),
                     maxPosition: Option[Int] = Some(3)): DataFrame = {
    val li  = Tables.load(spark, dir, "lineitem")
    val sup = Tables.load(spark, dir, "supplier")
    // categoryCondition (lib.ts:286-295): TRUE when no categories given
    val capp0 =
      if (categories.nonEmpty) li.filter(col("l_partkey").isin(categories: _*))
      else li
    // extraCondition (lib.ts:297-300): attached only when defined
    val capp = maxPosition.fold(capp0)(m => capp0.filter(col("l_linenumber") <= m))
    val ach =
      if (categories.nonEmpty)
        li.filter(col("l_partkey").isin(categories: _*) &&
          col("l_returnflag").isin("N", "R"))
      else li.filter(col("l_returnflag").isin("N", "R"))
    // IN (subquery) = semi-joins; App ⋈ capp ⋈ ach (lib.ts:305-312)
    val appKeys = sup
      .join(capp, sup("s_suppkey") === capp("l_suppkey"), "left_semi")
      .join(ach, sup("s_suppkey") === ach("l_suppkey"), "left_semi")
      .select(col("s_suppkey"))
    // DISTINCT ON (handle) snap.* ORDER BY capturedAt DESC — ordered by
    // every output column so tied rows are interchangeable
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("l_shipdate").desc, col("l_orderkey").desc, col("l_linenumber").desc,
        col("l_extendedprice").desc, col("l_quantity").desc, col("l_returnflag").desc)
    li.join(appKeys, li("l_suppkey") === appKeys("s_suppkey"), "left_semi")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("l_suppkey").as("app_key"), col("l_shipdate").as("captured_at"),
        col("l_extendedprice").as("price"), col("l_quantity").as("qty"),
        col("l_returnflag").as("flag"))
      .orderBy(col("app_key"))
  }

  val appsByCategorySql: String =
    """SELECT l_suppkey AS app_key, l_shipdate AS captured_at,
      |  l_extendedprice AS price, l_quantity AS qty, l_returnflag AS flag
      |FROM lineitem
      |WHERE l_suppkey IN (
      |  SELECT s.s_suppkey
      |  FROM supplier s
      |  JOIN lineitem capp ON capp.l_suppkey = s.s_suppkey
      |  JOIN lineitem ach ON ach.l_suppkey = s.s_suppkey
      |  WHERE capp.l_partkey IN (1, 2, 3, 4, 5) AND capp.l_linenumber <= 3
      |    AND ach.l_partkey IN (1, 2, 3, 4, 5) AND ach.l_returnflag IN ('N', 'R'))
      |QUALIFY row_number() OVER (PARTITION BY l_suppkey
      |  ORDER BY l_shipdate DESC, l_orderkey DESC, l_linenumber DESC,
      |           l_extendedprice DESC, l_quantity DESC, l_returnflag DESC) = 1
      |ORDER BY app_key""".stripMargin

  // ---------------------------------------------------------------------------
  // q05 — inner equi-join chain over dims (SURVEY J1; reference
  // lib.ts:308-309, 352, 367). nation/region are broadcast (dimension
  // tables — no shuffle of the fact side at scale).
  // ---------------------------------------------------------------------------
  def joinInner(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.load(spark, dir, "orders")
    val cus = Tables.load(spark, dir, "customer")
    val nat = Tables.load(spark, dir, "nation")
    val reg = Tables.load(spark, dir, "region")
    ord.filter(col("o_totalprice") > 150000.0)
      .join(cus, ord("o_custkey") === cus("c_custkey"))
      .join(broadcast(nat), cus("c_nationkey") === nat("n_nationkey"))
      .join(broadcast(reg), nat("n_regionkey") === reg("r_regionkey"))
      .select(col("o_orderkey"), col("c_custkey"), col("c_name"),
        col("n_name").as("nation_name"), col("r_name").as("region_name"),
        col("o_totalprice"))
      .orderBy(col("o_orderkey"))
  }

  val joinInnerSql: String =
    """SELECT o.o_orderkey, c.c_custkey, c.c_name, n.n_name AS nation_name,
      |  r.r_name AS region_name, o.o_totalprice
      |FROM orders o
      |JOIN customer c ON o.o_custkey = c.c_custkey
      |JOIN nation n ON c.c_nationkey = n.n_nationkey
      |JOIN region r ON n.n_regionkey = r.r_regionkey
      |WHERE o.o_totalprice > 150000.0
      |ORDER BY o.o_orderkey""".stripMargin

  // ---------------------------------------------------------------------------
  // q06 — left outer join + aggregate (SURVEY J2; reference lib.ts:383-384
  // and 8 more LEFT JOINs): customers keep a row even with zero orders.
  // ---------------------------------------------------------------------------
  def joinLeftAgg(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.load(spark, dir, "orders")
    val cus = Tables.load(spark, dir, "customer")
    cus.join(ord, cus("c_custkey") === ord("o_custkey"), "left")
      .groupBy(col("c_custkey"), col("c_name"))
      .agg(
        count(col("o_orderkey")).as("n_orders"),
        decSum(coalesce(col("o_totalprice"), lit(0.0))).as("total_spend"))
      .orderBy(col("c_custkey"))
  }

  val joinLeftAggSql: String =
    """SELECT c.c_custkey, c.c_name, COUNT(o.o_orderkey) AS n_orders,
      |  CAST(SUM(CAST(COALESCE(o.o_totalprice, 0) AS DECIMAL(18,6))) AS DOUBLE) AS total_spend
      |FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
      |GROUP BY c.c_custkey, c.c_name
      |ORDER BY c.c_custkey""".stripMargin

  // ---------------------------------------------------------------------------
  // q07 — semi-join (SURVEY J3; reference lib.ts:305-312: WHERE handle IN
  // (SELECT ...)). left_semi never duplicates or widens the left side.
  // ---------------------------------------------------------------------------
  def semiJoin(spark: SparkSession, dir: String): DataFrame = {
    val cus = Tables.load(spark, dir, "customer").as("c")
    val ord = Tables.load(spark, dir, "orders")
      .filter(col("o_totalprice") > 200000.0)
    // star-projection of one relation (SURVEY P2; reference
    // `SELECT ... snap.*` lib.ts:303) — Catalyst prunes it to the
    // three referenced columns at the scan
    cus.join(ord, cus("c_custkey") === ord("o_custkey"), "left_semi")
      .select(col("c.*"))
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))
  }

  val semiJoinSql: String =
    """SELECT c_custkey, c_name, c_mktsegment FROM customer
      |WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 200000.0)
      |ORDER BY c_custkey""".stripMargin

  // ---------------------------------------------------------------------------
  // q08 — anti-join (SURVEY J4; reference skipDuplicates migrate.ts:64 /
  // ON CONFLICT DO NOTHING lib.ts:91 decompose to left_anti).
  // ---------------------------------------------------------------------------
  def antiJoin(spark: SparkSession, dir: String): DataFrame = {
    val cus = Tables.load(spark, dir, "customer")
    val ord = Tables.load(spark, dir, "orders")
      .filter(col("o_totalprice") > 350000.0)
    cus.join(ord, cus("c_custkey") === ord("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      .orderBy(col("c_custkey"))
  }

  val antiJoinSql: String =
    """SELECT c_custkey, c_name, c_acctbal FROM customer c
      |WHERE NOT EXISTS (SELECT 1 FROM orders o
      |  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 350000.0)
      |ORDER BY c_custkey""".stripMargin

  // ---------------------------------------------------------------------------
  // q09 — group-by COUNT(DISTINCT) (SURVEY A1; reference lib.ts:342-346).
  // ---------------------------------------------------------------------------
  def countDistinctPerGroup(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.load(spark, dir, "orders")
    ord.groupBy(col("o_orderpriority"))
      .agg(
        countDistinct(col("o_custkey")).as("n_customers"),
        count(lit(1)).as("n_orders"))
      .orderBy(col("o_orderpriority"))
  }

  val countDistinctPerGroupSql: String =
    """SELECT o_orderpriority, COUNT(DISTINCT o_custkey) AS n_customers,
      |  COUNT(*) AS n_orders
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // ---------------------------------------------------------------------------
  // q10 — filter battery (SURVEY P3-P7): IN-list, θ-range, NOT NULL,
  // dynamically-attached predicate. All of these reach the parquet scan
  // as PushedFilters.
  // ---------------------------------------------------------------------------
  def filters(spark: SparkSession, dir: String, maxQty: Option[Double] = Some(30.0)): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
    val base = li
      .filter(col("l_returnflag").isin("A", "R"))            // P4 IN-list
      .filter(col("l_shipdate").isNotNull)                   // P7
      .filter(col("l_linestatus").isin(Seq("F"): _*))        // P3 array-membership
    // P5: θ-predicate attached only when defined (reference lib.ts:297-300).
    val filtered = maxQty.fold(base)(m => base.filter(col("l_quantity") <= lit(m)))
    // (l_orderkey, l_linenumber) is not unique in the synthetic data —
    // order by every output column so equal rows are interchangeable.
    filtered
      .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
        col("l_quantity"))
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
        col("l_quantity"))
  }

  val filtersSql: String =
    """SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity
      |FROM lineitem
      |WHERE l_returnflag IN ('A','R') AND l_shipdate IS NOT NULL
      |  AND l_linestatus IN ('F') AND l_quantity <= 30.0
      |ORDER BY l_orderkey, l_linenumber, l_returnflag, l_quantity""".stripMargin

  // ---------------------------------------------------------------------------
  // q11 — scalar-function battery (SURVEY F1-F7: COALESCE, NULLIF with
  // NULL propagation, LOG10, reciprocal rank, casts, TO_CHAR).
  // The NULLIF guard genuinely yields NULL rows (reference lib.ts:393-394
  // behavior is replicated, not "fixed").
  // ---------------------------------------------------------------------------
  def scalarTraps(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.load(spark, dir, "orders")
    ord.select(
        col("o_orderkey"),
        coalesce(col("o_totalprice"), lit(0.0)).as("price_c"),                    // F1
        round(col("o_totalprice") / nullif(col("o_totalprice") % 7, lit(0.0)), 6)
          .as("nullif_div"),                                                      // F2
        round(log10(col("o_totalprice") + 1), 6).as("log10_price"),               // F3
        round(lit(1.0) / (col("o_orderkey") % 10 + 1), 6).as("recip_rank"),       // F4
        date_format(col("o_orderdate"), "MM-dd-yyyy").as("order_date_fmt"),       // F6
        col("o_totalprice").cast(IntegerType).as("price_int"))                    // F7
      .orderBy(col("o_orderkey"))
  }

  val scalarTrapsSql: String =
    """SELECT o_orderkey,
      |  COALESCE(o_totalprice, 0) AS price_c,
      |  ROUND(o_totalprice / NULLIF(fmod(o_totalprice, 7), 0), 6) AS nullif_div,
      |  ROUND(log10(o_totalprice + 1), 6) AS log10_price,
      |  ROUND(1.0 / (o_orderkey % 10 + 1), 6) AS recip_rank,
      |  strftime(o_orderdate, '%m-%d-%Y') AS order_date_fmt,
      |  CAST(TRUNC(o_totalprice) AS INT) AS price_int
      |FROM orders ORDER BY o_orderkey""".stripMargin

  // ---------------------------------------------------------------------------
  // q12 — weighted blend + global-max normalization (SURVEY F5 + A6/W2;
  // reference lib.ts:338-339, 380-381, 393-394). The MAX() OVER () is
  // computed as a broadcast 1-row aggregate — at 100 TB an empty-frame
  // window would funnel every row through a single partition.
  // ---------------------------------------------------------------------------
  def weightedBlend(spark: SparkSession, dir: String): DataFrame = {
    val cus = Tables.load(spark, dir, "customer")
    val maxes = cus.agg(max(coalesce(col("c_acctbal"), lit(0.0))).as("max_bal"))
    cus.crossJoin(broadcast(maxes))
      .select(
        col("c_custkey"),
        round(lit(0.7) * (col("c_acctbal") / nullif(col("max_bal"), lit(0.0))) +
              lit(0.3) * (lit(1.0) / (col("c_custkey") % 100 + 1)), 6).as("blend_score"))
      .orderBy(col("blend_score").desc_nulls_first, col("c_custkey"))
  }

  val weightedBlendSql: String =
    """SELECT c_custkey,
      |  ROUND(0.7 * (c_acctbal / NULLIF(MAX(COALESCE(c_acctbal,0)) OVER (), 0)) +
      |        0.3 * (1.0 / (c_custkey % 100 + 1)), 6) AS blend_score
      |FROM customer
      |ORDER BY blend_score DESC NULLS FIRST, c_custkey""".stripMargin

  // ---------------------------------------------------------------------------
  // q47 — hierarchical rollup (beyond the reference, SURVEY §2.4 notes
  // its absence; included for engine completeness): subtotals per
  // (returnflag, linestatus), per returnflag, and grand total, with
  // grouping_id disambiguating NULL-as-subtotal from NULL data.
  // ---------------------------------------------------------------------------
  def rollupPricing(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
    li.rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(
        count(lit(1)).as("n_items"),
        decSum(col("l_extendedprice")).as("total_price"),
        grouping_id().as("gid"))
      .orderBy(col("gid"), col("l_returnflag"), col("l_linestatus"))
  }

  val rollupPricingSql: String =
    """SELECT l_returnflag, l_linestatus, COUNT(*) AS n_items,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS total_price,
      |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid
      |FROM lineitem
      |GROUP BY ROLLUP (l_returnflag, l_linestatus)
      |ORDER BY gid, l_returnflag, l_linestatus""".stripMargin

  // ---------------------------------------------------------------------------
  // q41 — set operations (SURVEY §2.7: absent from the reference, whose
  // write path decomposes into union+dedup; covered here as first-class
  // INTERSECT/EXCEPT/UNION physical operators over customer cohorts).
  // ---------------------------------------------------------------------------
  def setOps(spark: SparkSession, dir: String): DataFrame = {
    val cus = Tables.load(spark, dir, "customer")
    val ord = Tables.load(spark, dir, "orders")
    val rich = cus.filter(col("c_acctbal") > 5000.0).select(col("c_custkey"))
    val active = ord.filter(col("o_totalprice") > 200000.0)
      .select(col("o_custkey").as("c_custkey")).distinct()
    val both = rich.intersect(active).withColumn("cohort", lit("rich_and_active"))
    val richOnly = rich.except(active).withColumn("cohort", lit("rich_only"))
    val activeOnly = active.except(rich).withColumn("cohort", lit("active_only"))
    both.unionByName(richOnly).unionByName(activeOnly)
      .orderBy(col("c_custkey"), col("cohort"))
  }

  val setOpsSql: String =
    """WITH rich AS (
      |  SELECT c_custkey FROM customer WHERE c_acctbal > 5000.0
      |), active AS (
      |  SELECT DISTINCT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 200000.0
      |)
      |SELECT c_custkey, 'rich_and_active' AS cohort FROM (SELECT * FROM rich INTERSECT SELECT * FROM active)
      |UNION ALL
      |SELECT c_custkey, 'rich_only' AS cohort FROM (SELECT * FROM rich EXCEPT SELECT * FROM active)
      |UNION ALL
      |SELECT c_custkey, 'active_only' AS cohort FROM (SELECT * FROM active EXCEPT SELECT * FROM rich)
      |ORDER BY c_custkey, cohort""".stripMargin

  // ---------------------------------------------------------------------------
  // q51 — parameterized SQL source (SURVEY S4; reference
  // `pool.query(text, params)` lib.ts:16-29, 316, 413, 494): ad-hoc
  // SQL text over registered temp views with named parameters bound at
  // execution — the Spark-native form of the reference's $1-style
  // bind params. Same Catalyst plan as the DataFrame form (pushdown,
  // partial aggs); the SQL text is the API, not a different engine.
  // ---------------------------------------------------------------------------
  val sqlSourceText: String =
    """SELECT o_orderpriority,
      |  COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total_price
      |FROM orders
      |WHERE o_totalprice > :minPrice
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  def sqlSource(spark: SparkSession, dir: String,
                minPrice: Double = 150000.0): DataFrame = {
    Tables.load(spark, dir, "orders").createOrReplaceTempView("orders")
    spark.sql(sqlSourceText, Map("minPrice" -> minPrice))
  }

  val sqlSourceSql: String = sqlSourceText.replace(":minPrice", "150000.0")

  // ---------------------------------------------------------------------------
  // q13 — collect-distinct-array aggregate (SURVEY A4; reference
  // lib.ts:363-369: ARRAY_AGG(DISTINCT ARRAY[name, handle])), made
  // deterministic with array_sort and flattened for the oracle.
  // ---------------------------------------------------------------------------
  def collectPairs(spark: SparkSession, dir: String): DataFrame = {
    val cus = Tables.load(spark, dir, "customer")
    val nat = Tables.load(spark, dir, "nation")
    cus.join(broadcast(nat), cus("c_nationkey") === nat("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(
        concat_ws("|", array_sort(collect_set(col("c_mktsegment")))).as("segments"),
        countDistinct(col("c_mktsegment")).as("n_segments"))
      .orderBy(col("n_name"))
  }

  val collectPairsSql: String =
    """SELECT n.n_name,
      |  array_to_string(list_sort(list(DISTINCT c.c_mktsegment)), '|') AS segments,
      |  COUNT(DISTINCT c.c_mktsegment) AS n_segments
      |FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
      |GROUP BY n.n_name ORDER BY n.n_name""".stripMargin

  // ---------------------------------------------------------------------------
  // q76 — GROUPING SETS aggregate (SURVEY §2.4 widened past q47's
  // ROLLUP: an explicit, non-prefix set list — the general multi-level
  // report shape). Per-grouping flags are emitted (not grouping_id())
  // so the oracle states the identical column per engine.
  //
  // Scale: GROUPING SETS plans as ONE scan + Expand (each row fans to
  // its grouping levels) + a single hash aggregation — no per-level
  // rescan, partial aggregation applies as usual. ORDER BY leads with
  // the grouping flags, so within each stratum the null-placeholder
  // columns are all-null (no mixed null ordering between engines).
  // ---------------------------------------------------------------------------
  def groupingSetsPricing(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
    li.groupingSets(
        Seq(Seq(col("l_returnflag"), col("l_linestatus")),
          Seq(col("l_linestatus")), Seq.empty),
        col("l_returnflag"), col("l_linestatus"))
      .agg(
        count(lit(1)).as("n_items"),
        decSum(col("l_quantity")).as("sum_qty"),
        decSum(col("l_extendedprice")).as("sum_price"),
        grouping(col("l_returnflag")).cast("int").as("g_flag"),
        grouping(col("l_linestatus")).cast("int").as("g_status"))
      .orderBy(col("g_flag"), col("g_status"),
        col("l_returnflag"), col("l_linestatus"))
  }

  val groupingSetsPricingSql: String =
    """SELECT l_returnflag, l_linestatus, COUNT(*) AS n_items,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_price,
      |  CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
      |  CAST(GROUPING(l_linestatus) AS INT) AS g_status
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())
      |ORDER BY g_flag, g_status, l_returnflag, l_linestatus""".stripMargin

  // ---------------------------------------------------------------------------
  // q77 — decorrelated scalar subquery (SURVEY §2.3/§2.4): "parts
  // priced above their brand's average" — the classic correlated
  // `WHERE price > (SELECT AVG(...) WHERE brand = outer.brand)` shape,
  // expressed as the decorrelation Catalyst would produce: one
  // per-brand aggregate broadcast-joined back to the row stream.
  //
  // Oracle parity: the above-average predicate is the integer-safe
  // cross-multiplication `price * n > sum` (no division inside the
  // filter), with the sum in DECIMAL(18,6); only the REPORTED average
  // divides, rounded to 6dp on both sides.
  //
  // Scale: the brand aggregate is dimension-sized (one row per brand)
  // → broadcast; the fact stream is never shuffled.
  // ---------------------------------------------------------------------------
  def aboveBrandAvg(spark: SparkSession, dir: String): DataFrame = {
    val part = Tables.load(spark, dir, "part")
    val byBrand = part.groupBy(col("p_brand").as("b_brand"))
      .agg(
        sum(col("p_retailprice").cast(DecimalType(18, 6))).as("b_sum"),
        count(lit(1)).as("b_n"))
    part.join(broadcast(byBrand), col("p_brand") === col("b_brand"))
      .filter(col("p_retailprice").cast(DecimalType(18, 6)) * col("b_n") > col("b_sum"))
      .select(
        col("p_partkey"), col("p_brand"), col("p_retailprice"),
        round(col("b_sum").cast("double") / col("b_n"), 6).as("brand_avg"),
        col("b_n").as("n_in_brand"))
      .orderBy(col("p_partkey"))
  }

  val aboveBrandAvgSql: String =
    """WITH by_brand AS (
      |  SELECT p_brand AS b_brand,
      |    SUM(CAST(p_retailprice AS DECIMAL(18,6))) AS b_sum,
      |    COUNT(*) AS b_n
      |  FROM part GROUP BY p_brand
      |)
      |SELECT p_partkey, p_brand, p_retailprice,
      |  ROUND(CAST(b_sum AS DOUBLE) / b_n, 6) AS brand_avg,
      |  b_n AS n_in_brand
      |FROM part JOIN by_brand ON p_brand = b_brand
      |WHERE CAST(p_retailprice AS DECIMAL(18,6)) * b_n > b_sum
      |ORDER BY p_partkey""".stripMargin

  /** q99 — full-outer daily reconciliation: order-book revenue vs
    * event-stream purchase value per day, FULL OUTER joined so days
    * present on only one side surface explicitly (the two-system
    * consistency check every ETL pipeline runs after a migration —
    * the one join shape of SURVEY §2.3 the reference never needed).
    *
    * Scale: two partial+final day aggregates (the join inputs are
    * |days| rows, trivially small after aggregation — the full outer
    * join is never the bottleneck; the aggregates ride map-side
    * combine). Totals through DECIMAL(18,6) for order-independent
    * exactness.
    */
  def fullOuterReconcile(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.load(spark, dir, "orders")
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("n_orders"),
        decSum(col("o_totalprice")).as("orders_total"))
    val purchases = Tables.load(spark, dir, "events")
      .filter(col("event_type") === "purchase")
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("n_purchases"),
        decSum(col("value")).as("purchase_total"))
    orders.join(purchases, Seq("day"), "full_outer")
      .select(col("day"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"),
        coalesce(col("orders_total"), lit(0.0)).as("orders_total"),
        coalesce(col("n_purchases"), lit(0L)).as("n_purchases"),
        coalesce(col("purchase_total"), lit(0.0)).as("purchase_total"),
        when(col("n_orders").isNotNull && col("n_purchases").isNotNull, "both")
          .when(col("n_orders").isNotNull, "orders_only")
          .otherwise("events_only").as("presence"))
      .orderBy(col("day"))
  }

  val fullOuterReconcileSql: String =
    """WITH o AS (
      |  SELECT strftime(o_orderdate, '%Y-%m-%d') AS day,
      |    COUNT(*) AS n_orders,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS orders_total
      |  FROM orders GROUP BY 1
      |), e AS (
      |  SELECT strftime(ts, '%Y-%m-%d') AS day,
      |    COUNT(*) AS n_purchases,
      |    CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS purchase_total
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1
      |)
      |SELECT COALESCE(o.day, e.day) AS day,
      |  COALESCE(n_orders, 0) AS n_orders,
      |  COALESCE(orders_total, 0.0) AS orders_total,
      |  COALESCE(n_purchases, 0) AS n_purchases,
      |  COALESCE(purchase_total, 0.0) AS purchase_total,
      |  CASE WHEN o.day IS NOT NULL AND e.day IS NOT NULL THEN 'both'
      |       WHEN o.day IS NOT NULL THEN 'orders_only'
      |       ELSE 'events_only' END AS presence
      |FROM o FULL OUTER JOIN e ON o.day = e.day
      |ORDER BY day""".stripMargin

  /** q100 — unpivot/melt (SURVEY §2.9's missing inverse of R1's
    * pivot): the wide per-returnflag pricing metrics turned into long
    * (metric, value) rows with `stack` — the report-reshaping
    * direction BI exports need. All metrics cast to double so the
    * melted value column has one type.
    *
    * Scale: the stack runs on the already-aggregated |flags|-row
    * frame — reshape after reduce, never before.
    */
  def unpivotPricing(spark: SparkSession, dir: String): DataFrame = {
    val wide = Tables.load(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(decSum(col("l_quantity")).as("sum_qty"),
        decSum(col("l_extendedprice")).as("sum_price"),
        count(lit(1)).cast("double").as("n_items"))
    wide.select(col("l_returnflag"),
        expr("stack(3, 'n_items', n_items, 'sum_price', sum_price, " +
          "'sum_qty', sum_qty) AS (metric, value)"))
      .orderBy(col("l_returnflag"), col("metric"))
  }

  val unpivotPricingSql: String =
    """WITH wide AS (
      |  SELECT l_returnflag,
      |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
      |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_price,
      |    CAST(COUNT(*) AS DOUBLE) AS n_items
      |  FROM lineitem GROUP BY l_returnflag
      |)
      |SELECT l_returnflag, metric, value FROM (
      |  SELECT l_returnflag, 'n_items' AS metric, n_items AS value FROM wide
      |  UNION ALL
      |  SELECT l_returnflag, 'sum_price', sum_price FROM wide
      |  UNION ALL
      |  SELECT l_returnflag, 'sum_qty', sum_qty FROM wide
      |)
      |ORDER BY l_returnflag, metric""".stripMargin

  /** q166 — skyline (Pareto-dominance frontier) over part on
    * (minimize p_retailprice, maximize p_size): the parts for which no
    * other part is at-least-as-good on both axes and strictly better
    * on one. The multi-objective "best offers" operator every
    * curation/report surface eventually wants and SQL engines lack as
    * a primitive.
    *
    * Dominance: q dominates p iff q.price <= p.price AND
    * q.size >= p.size AND (q.price < p.price OR q.size > p.size).
    * Identical (price, size) points do NOT dominate each other — all
    * copies of a frontier point survive.
    *
    * Plan (two-phase, never all-pairs): the naive skyline is a
    * quadratic NOT-EXISTS self-join — the oracle states it that way
    * because DuckDB at sf0.01 can afford it, but a 100 TB scan cannot.
    * Phase 1 hash-buckets rows (uniform synthetic key, one shuffle)
    * and drops, per bucket, every row whose running max(p_size) over
    * the (price ASC, size DESC) prefix strictly exceeds its own size —
    * each such row is dominated by a witness in its own bucket.
    * Dominance is transitive, so pruning against a LOCAL witness never
    * removes a GLOBAL frontier point: survivors ⊇ skyline(full).
    * Phase 2 runs the exact test on the survivor set (≈ buckets ×
    * per-bucket frontier ≈ thousands of rows, not billions): per-price
    * group max + running max over strictly-cheaper price groups — a
    * row is on the frontier iff it tops its own price group AND beats
    * every cheaper group's best size. skyline(survivors) =
    * skyline(full) for the same transitivity reason (a dropped
    * witness's own dominator still dominates whatever it dominated).
    */
  def skylineParts(spark: SparkSession, dir: String,
                   buckets: Int = 32): DataFrame = {
    val part = Tables.load(spark, dir, "part")
      .select(col("p_partkey"), col("p_brand"),
        col("p_retailprice"), col("p_size"))
    // phase 1: per-bucket prune (safe — only drops strictly-dominated rows)
    val wLocal = Window.partitionBy(col("bucket"))
      .orderBy(col("p_retailprice").asc, col("p_size").desc,
        col("p_partkey").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val survivors = part
      .withColumn("bucket", pmod(graft.operators.Curation.md5Bucket(
        col("p_partkey")), lit(buckets)))
      .withColumn("local_max", max(col("p_size")).over(wLocal))
      .filter(col("local_max").isNull || col("local_max") <= col("p_size"))
      .drop("bucket", "local_max")
    // phase 2: exact frontier over the (small) survivor set.
    // Per-price max catches same-price domination; the running max over
    // strictly-cheaper price groups catches the rest. The price-group
    // frame is tiny (distinct survivor prices), so the single-partition
    // window is a driver-scalar-sized step, not a data-sized one.
    val groups = survivors.groupBy(col("p_retailprice").as("g_price"))
      .agg(max(col("p_size")).as("g_max"))
      .withColumn("cheaper_max", max(col("g_max")).over(
        Window.orderBy(col("g_price").asc)
          .rowsBetween(Window.unboundedPreceding, -1)))
    survivors
      .join(groups, col("p_retailprice") === col("g_price"))
      .filter(col("p_size") === col("g_max") &&
        (col("cheaper_max").isNull || col("cheaper_max") < col("p_size")))
      .select("p_partkey", "p_brand", "p_retailprice", "p_size")
      .orderBy(col("p_retailprice"), col("p_partkey"))
  }

  /** Oracle states the frontier as the quadratic NOT EXISTS — exact,
    * affordable at oracle SF, and definitionally transparent.
    */
  val skylinePartsSql: String =
    """SELECT p_partkey, p_brand, p_retailprice, p_size
      |FROM part p
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM part q
      |  WHERE q.p_retailprice <= p.p_retailprice
      |    AND q.p_size >= p.p_size
      |    AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size)
      |)
      |ORDER BY p_retailprice, p_partkey""".stripMargin

  /** q189 — national market share (the TPC-H Q8 shape): for every
    * order year and customer region, the fraction of PROMO-part
    * revenue supplied by suppliers of `shareNation`. The classic
    * 7-relation star join — fact lineitem against orders, customer,
    * supplier, part, and nation twice (customer side and supplier
    * side) plus region — exercising exactly the plan properties a
    * warehouse engine is graded on: every dimension broadcasts, the
    * `p_type` filter prunes the fact join through the part dimension,
    * and the single wide fact scan shuffles ONCE on the final
    * (year, region) aggregate key. At 100 TB the fact table is the
    * only non-broadcast input, so the whole query is one scan + one
    * 2-key aggregate — any plan that shuffles lineitem more than once
    * here is wrong.
    *
    * Exactness: revenue terms round to 6dp before the DECIMAL(28,6)
    * accumulators (order-independent sums, the q01 discipline); the
    * share is one rounded IEEE division of two exact decimals-as-
    * doubles.
    */
  def marketShare(spark: SparkSession, dir: String,
                  shareNation: String = "NATION_0",
                  partType: String = "PROMO"): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(28, 6)
    val li = Tables.load(spark, dir, "lineitem")
    val orders = Tables.load(spark, dir, "orders")
    val cust = Tables.load(spark, dir, "customer")
    val supp = Tables.load(spark, dir, "supplier")
    val part = Tables.load(spark, dir, "part").filter(col("p_type") === partType)
    val nation = Tables.load(spark, dir, "nation")
    val region = Tables.load(spark, dir, "region")
    li
      .join(broadcast(part.select(col("p_partkey"))),
        col("l_partkey") === col("p_partkey"))
      .join(orders.select(col("o_orderkey"), col("o_custkey"),
          year(col("o_orderdate")).as("o_year")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust.select(col("c_custkey"), col("c_nationkey"))),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation.select(col("n_nationkey").as("c_nationkey"),
        col("n_regionkey"))), "c_nationkey")
      .join(broadcast(region.select(col("r_regionkey").as("n_regionkey"),
        col("r_name"))), "n_regionkey")
      .join(broadcast(supp.select(col("s_suppkey"), col("s_nationkey"))),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nation.select(col("n_nationkey").as("s_nationkey"),
        col("n_name").as("supp_nation"))), "s_nationkey")
      .withColumn("rev",
        round(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6))
      .groupBy(col("o_year"), col("r_name").as("cust_region"))
      .agg(
        sum(when(col("supp_nation") === shareNation, col("rev").cast(dec))
          .otherwise(lit(0).cast(dec))).cast("double").as("nation_rev"),
        sum(col("rev").cast(dec)).cast("double").as("total_rev"),
        count(lit(1)).as("n_lines"))
      .select(col("o_year"), col("cust_region"),
        round(col("nation_rev"), 6).as("nation_rev"),
        round(col("total_rev"), 6).as("total_rev"),
        round(col("nation_rev") / col("total_rev"), 6).as("mkt_share"),
        col("n_lines"))
      .orderBy(col("o_year"), col("cust_region"))
  }

  def marketShareSql(shareNation: String = "NATION_0",
                     partType: String = "PROMO"): String =
    s"""SELECT o_year, cust_region,
       |  ROUND(nation_rev, 6) AS nation_rev,
       |  ROUND(total_rev, 6) AS total_rev,
       |  ROUND(nation_rev / total_rev, 6) AS mkt_share,
       |  n_lines
       |FROM (
       |  SELECT CAST(year(o.o_orderdate) AS INT) AS o_year,
       |    r.r_name AS cust_region,
       |    CAST(SUM(CASE WHEN sn.n_name = '$shareNation'
       |      THEN CAST(ROUND(l.l_extendedprice * (1.0 - l.l_discount), 6)
       |        AS DECIMAL(28,6))
       |      ELSE CAST(0 AS DECIMAL(28,6)) END) AS DOUBLE) AS nation_rev,
       |    CAST(SUM(CAST(ROUND(l.l_extendedprice * (1.0 - l.l_discount), 6)
       |      AS DECIMAL(28,6))) AS DOUBLE) AS total_rev,
       |    COUNT(*) AS n_lines
       |  FROM lineitem l
       |  JOIN part p ON p.p_partkey = l.l_partkey AND p.p_type = '$partType'
       |  JOIN orders o ON o.o_orderkey = l.l_orderkey
       |  JOIN customer c ON c.c_custkey = o.o_custkey
       |  JOIN nation cn ON cn.n_nationkey = c.c_nationkey
       |  JOIN region r ON r.r_regionkey = cn.n_regionkey
       |  JOIN supplier s ON s.s_suppkey = l.l_suppkey
       |  JOIN nation sn ON sn.n_nationkey = s.s_nationkey
       |  GROUP BY 1, 2
       |)
       |ORDER BY o_year, cust_region""".stripMargin

  /** q191 — hierarchical revenue shares (percent-of-parent rollup):
    * per nation, its order revenue, its REGION's revenue, the global
    * total, and the nation's share of each — the region→nation drill
    * layer every BI revenue dashboard renders, and the ratio-to-parent
    * window shape (share computed against two ancestor levels in one
    * pass) that q47's rollup totals don't express.
    *
    * Scale: one orders-sized aggregate keyed on the (tiny) customer→
    * nation→region broadcast chain; both ancestor shares are windows
    * over the |nations|-row aggregate — catalog-sized, never
    * fact-sized. Revenue rides DECIMAL(28,6) (order-independent);
    * shares are single rounded IEEE divisions.
    */
  def nationRevenueShares(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dec = org.apache.spark.sql.types.DecimalType(28, 6)
    val orders = Tables.load(spark, dir, "orders")
      .select(col("o_custkey"), col("o_totalprice"))
    val cust = Tables.load(spark, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey"))
    val nation = Tables.load(spark, dir, "nation")
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
    val region = Tables.load(spark, dir, "region")
      .select(col("r_regionkey"), col("r_name"))
    val perNation = orders
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name").as("region"), col("n_name").as("nation"))
      .agg(count(lit(1)).as("n_orders"),
        sum(round(col("o_totalprice"), 6).cast(dec)).as("nation_rev_d"))
    perNation
      .withColumn("region_rev_d",
        sum(col("nation_rev_d")).over(Window.partitionBy(col("region"))))
      .withColumn("global_rev_d",
        sum(col("nation_rev_d")).over(Window.partitionBy()))
      .select(col("region"), col("nation"), col("n_orders"),
        col("nation_rev_d").cast("double").as("nation_rev"),
        col("region_rev_d").cast("double").as("region_rev"),
        col("global_rev_d").cast("double").as("global_rev"),
        round(col("nation_rev_d").cast("double") /
          col("region_rev_d").cast("double"), 6).as("share_of_region"),
        round(col("nation_rev_d").cast("double") /
          col("global_rev_d").cast("double"), 6).as("share_of_global"))
      .orderBy(col("region"), col("nation"))
  }

  val nationRevenueSharesSql: String =
    """WITH per_nation AS (
      |  SELECT r.r_name AS region, n.n_name AS nation,
      |    COUNT(*) AS n_orders,
      |    SUM(CAST(ROUND(o.o_totalprice, 6) AS DECIMAL(28,6))) AS nation_rev_d
      |  FROM orders o
      |  JOIN customer c ON c.c_custkey = o.o_custkey
      |  JOIN nation n ON n.n_nationkey = c.c_nationkey
      |  JOIN region r ON r.r_regionkey = n.n_regionkey
      |  GROUP BY 1, 2
      |), leveled AS (
      |  SELECT *,
      |    SUM(nation_rev_d) OVER (PARTITION BY region) AS region_rev_d,
      |    SUM(nation_rev_d) OVER () AS global_rev_d
      |  FROM per_nation
      |)
      |SELECT region, nation, n_orders,
      |  CAST(nation_rev_d AS DOUBLE) AS nation_rev,
      |  CAST(region_rev_d AS DOUBLE) AS region_rev,
      |  CAST(global_rev_d AS DOUBLE) AS global_rev,
      |  ROUND(CAST(nation_rev_d AS DOUBLE) / CAST(region_rev_d AS DOUBLE), 6)
      |    AS share_of_region,
      |  ROUND(CAST(nation_rev_d AS DOUBLE) / CAST(global_rev_d AS DOUBLE), 6)
      |    AS share_of_global
      |FROM leveled
      |ORDER BY region, nation""".stripMargin

  /** q196 — suppliers who single-handedly held up multi-supplier
    * orders (the TPC-H Q21 "suppliers who kept orders waiting" shape,
    * adapted to this schema's ship-vs-order-date lag): count, per
    * supplier, the orders where (a) the order involves MORE than one
    * supplier, (b) this supplier shipped a line more than `lateDays`
    * after the order date, and (c) NO other supplier on the order was
    * late — the sole-culprit attribution query.
    *
    * The textbook formulation is a semi-join (another supplier
    * exists) plus an anti-join (no other late supplier) — two extra
    * scans of the fact. This implementation collapses both EXISTS
    * into ONE windowed pass over the per-(order, supplier) lateness
    * aggregate: `n_supp > 1 ∧ late ∧ n_late = 1` — the oracle SQL
    * keeps the EXISTS/NOT-EXISTS form, so the correctness gate proves
    * the rewrite equivalent.
    *
    * Scale: one order-keyed shuffle for the aggregate; the window
    * runs over per-order SUPPLIER lists (bounded by suppliers-per-
    * order, single digits), not raw lines; supplier names arrive by
    * broadcast. Three fact scans become one.
    */
  def lateCulprits(spark: SparkSession, dir: String,
                   lateDays: Int = 60): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import Temporal.dayOf
    val li = Tables.load(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"),
        expr(dayOf("l_shipdate")).as("ship_day"))
    val orders = Tables.load(spark, dir, "orders")
      .select(col("o_orderkey"), expr(dayOf("o_orderdate")).as("order_day"))
    val per = li.join(orders, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(max((col("ship_day") - col("order_day")) > lateDays).as("late"))
    val w = Window.partitionBy(col("l_orderkey"))
    val culprits = per
      .withColumn("n_supp", count(lit(1)).over(w))
      .withColumn("n_late", sum(col("late").cast("long")).over(w))
      .filter(col("late") && col("n_supp") > 1 && col("n_late") === 1)
    val supplier = Tables.load(spark, dir, "supplier")
      .select(col("s_suppkey"), col("s_name"))
    culprits.join(broadcast(supplier), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_suppkey"), col("s_name"))
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
  }

  def lateCulpritsSql(lateDays: Int = 60): String =
    s"""WITH per AS (
       |  SELECT l_orderkey, l_suppkey,
       |    BOOL_OR((epoch_ms(l_shipdate) // 86400000)
       |      - (epoch_ms(o_orderdate) // 86400000) > $lateDays) AS late
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |  GROUP BY 1, 2
       |), culprit AS (
       |  SELECT p.l_orderkey, p.l_suppkey FROM per p
       |  WHERE p.late
       |    AND EXISTS (SELECT 1 FROM per p2
       |                WHERE p2.l_orderkey = p.l_orderkey
       |                  AND p2.l_suppkey <> p.l_suppkey)
       |    AND NOT EXISTS (SELECT 1 FROM per p3
       |                    WHERE p3.l_orderkey = p.l_orderkey
       |                      AND p3.l_suppkey <> p.l_suppkey AND p3.late)
       |)
       |SELECT s.s_suppkey, s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
       |FROM culprit c JOIN supplier s ON s.s_suppkey = c.l_suppkey
       |GROUP BY 1, 2
       |ORDER BY numwait DESC, s_name""".stripMargin

  /** q201 — return-rate ranking by Wilson lower bound: per part (with
    * at least `minN` shipped lines), the fraction of lines returned
    * (`l_returnflag = 'R'`) ranked by the 95% Wilson LOWER bound —
    * the "sort by lower confidence bound" pattern that keeps a 1/1 =
    * 100% return rate from outranking a 45/100: small-n cells rank by
    * what the data can actually support. Top `topK` parts reported —
    * the defect-triage list.
    *
    * Exactness: q123's Wilson algebra verbatim (doubles with one
    * fixed operand order, z cast to DOUBLE in the oracle so DuckDB
    * doesn't route through DECIMAL); ordering is on the ROUNDED bound
    * with a part-key tiebreak, so both engines sort identical values.
    * Scale: one hash aggregate on part, arithmetic on the aggregate,
    * and a TakeOrdered top-k — never a global sort.
    */
  def returnRateRanking(spark: SparkSession, dir: String, minN: Long = 10L,
                        topK: Int = 100): DataFrame = {
    val agg = Tables.load(spark, dir, "lineitem")
      .groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("n"),
        sum((col("l_returnflag") === "R").cast("long")).as("k"))
      .filter(col("n") >= minN)
    val z = lit(1.96)
    val p = col("k").cast("double") / col("n")
    val z2n = z * z / col("n")
    val center = (p + z2n / 2) / (lit(1.0) + z2n)
    val half = (z * sqrt((p * (lit(1.0) - p) + z2n / 4) / col("n"))) /
      (lit(1.0) + z2n)
    agg.select(col("l_partkey"), col("n"), col("k"),
        round(p, 6).as("return_rate"),
        round(center - half, 6).as("wilson_lo"))
      .orderBy(col("wilson_lo").desc, col("l_partkey"))
      .limit(topK)
  }

  def returnRateRankingSql(minN: Long = 10L, topK: Int = 100): String =
    s"""WITH agg AS (
       |  SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
       |      AS BIGINT) AS k
       |  FROM lineitem GROUP BY 1
       |  HAVING COUNT(*) >= $minN
       |), calc AS (
       |  SELECT l_partkey, n, k,
       |    CAST(k AS DOUBLE) / n AS p,
       |    CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE) / n AS z2n
       |  FROM agg
       |), calc2 AS (
       |  SELECT l_partkey, n, k, p,
       |    (p + z2n / 2) / (1.0 + z2n) AS center,
       |    (CAST(1.96 AS DOUBLE) * sqrt((p * (1.0 - p) + z2n / 4) / n))
       |      / (1.0 + z2n) AS half
       |  FROM calc
       |)
       |SELECT l_partkey, n, k,
       |  ROUND(p, 6) AS return_rate,
       |  ROUND(center - half, 6) AS wilson_lo
       |FROM calc2
       |ORDER BY wilson_lo DESC, l_partkey
       |LIMIT $topK""".stripMargin

  /** q205 — ABC/XYZ inventory classification: every part placed on
    * the two-axis planning grid — ABC by cumulative revenue share
    * (A ≤ 80%, B ≤ 95%, C tail, in revenue-descending order) and XYZ
    * by demand variability (weekly-quantity coefficient of variation:
    * X ≤ 0.5, Y ≤ 1.0, Z beyond) — the classic stock-policy matrix
    * (AX: automate, CZ: make-to-order).
    *
    * Exactness: both classifications avoid float thresholds entirely.
    * Revenue shares compare in EXACT decimal cross-multiplication
    * (`5·cum ≤ 4·total` for A, `20·cum ≤ 19·total` for B) over the
    * fully-tiebroken (revenue DESC, partkey) cumulative; quantities
    * are integral (1–50 in this corpus), so CV² thresholds reduce to
    * integer comparisons: X ⇔ 4·n·Σq² ≤ 5·(Σq)², Y ⇔ n·Σq² ≤ 2·(Σq)²
    * (population variance over the part's OBSERVED demand weeks).
    *
    * Scale: one part-keyed revenue aggregate + cumulative window (the
    * q195 caveat applies: a monster part domain would bucket the
    * prefix sum), one (part, week) aggregate folded into per-part
    * sufficient stats (both map-side-combinable). The Σ terms ride
    * longs here; a 100 TB run lifts them to DECIMAL(38,0) like q204.
    */
  def abcXyz(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dec = org.apache.spark.sql.types.DecimalType(28, 6)
    val li = Tables.load(spark, dir, "lineitem")
    val rev = li.groupBy(col("l_partkey"))
      .agg(sum(round(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6)
        .cast(dec)).as("rev_d"))
    val wCum = Window.orderBy(col("rev_d").desc, col("l_partkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val abc = rev
      .withColumn("cum_d", sum(col("rev_d")).over(wCum))
      .withColumn("tot_d", sum(col("rev_d")).over(Window.partitionBy()))
      .withColumn("rev_class",
        when(col("cum_d") * 5 <= col("tot_d") * 4, "A")
          .when(col("cum_d") * 20 <= col("tot_d") * 19, "B")
          .otherwise("C"))
    val weekly = li
      .select(col("l_partkey"),
        expr("(unix_micros(cast(l_shipdate as timestamp)) - pmod(unix_micros(cast(l_shipdate as timestamp)), 86400000000)) div 86400000000 div 7").as("week"),
        col("l_quantity").cast("long").as("q"))
      .groupBy(col("l_partkey"), col("week"))
      .agg(sum(col("q")).as("wq"))
    val xyz = weekly.groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("n_weeks"),
        sum(col("wq")).as("sum_q"),
        sum(col("wq") * col("wq")).as("sum_q2"))
      .withColumn("var_class",
        when(lit(4) * col("n_weeks") * col("sum_q2") <=
          lit(5) * col("sum_q") * col("sum_q"), "X")
          .when(col("n_weeks") * col("sum_q2") <=
            lit(2) * col("sum_q") * col("sum_q"), "Y")
          .otherwise("Z"))
    abc.join(xyz, Seq("l_partkey"))
      .select(col("l_partkey"), col("rev_d").cast("double").as("revenue"),
        col("rev_class"), col("n_weeks"), col("sum_q"), col("var_class"))
      .orderBy(col("l_partkey"))
  }

  val abcXyzSql: String =
    """WITH rev AS (
      |  SELECT l_partkey,
      |    SUM(CAST(ROUND(l_extendedprice * (1.0 - l_discount), 6)
      |      AS DECIMAL(28,6))) AS rev_d
      |  FROM lineitem GROUP BY 1
      |), abc AS (
      |  SELECT l_partkey, rev_d,
      |    SUM(rev_d) OVER (ORDER BY rev_d DESC, l_partkey
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_d,
      |    SUM(rev_d) OVER () AS tot_d
      |  FROM rev
      |), weekly AS (
      |  SELECT l_partkey, (epoch_ms(l_shipdate) // 86400000) // 7 AS week,
      |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS wq
      |  FROM lineitem GROUP BY 1, 2
      |), xyz AS (
      |  SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n_weeks,
      |    CAST(SUM(wq) AS BIGINT) AS sum_q,
      |    CAST(SUM(wq * wq) AS BIGINT) AS sum_q2
      |  FROM weekly GROUP BY 1
      |)
      |SELECT a.l_partkey, CAST(a.rev_d AS DOUBLE) AS revenue,
      |  CASE WHEN a.cum_d * 5 <= a.tot_d * 4 THEN 'A'
      |       WHEN a.cum_d * 20 <= a.tot_d * 19 THEN 'B'
      |       ELSE 'C' END AS rev_class,
      |  x.n_weeks, x.sum_q,
      |  CASE WHEN 4 * x.n_weeks * x.sum_q2 <= 5 * x.sum_q * x.sum_q THEN 'X'
      |       WHEN x.n_weeks * x.sum_q2 <= 2 * x.sum_q * x.sum_q THEN 'Y'
      |       ELSE 'Z' END AS var_class
      |FROM abc a JOIN xyz x ON a.l_partkey = x.l_partkey
      |ORDER BY a.l_partkey""".stripMargin

  /** q206 — rank-family percentile scorecard: every customer's
    * account-balance standing WITHIN their nation — `percent_rank`
    * (share of peers strictly below, tie-stable by definition),
    * `cume_dist` (share at-or-below), and the `ntile(4)` quartile —
    * the remaining rank-family window functions the suite had not yet
    * graded (q02/q52 use row_number, q42 manual rank quantiles).
    *
    * Determinism: every window orders by the fully-tiebroken
    * (acctbal, custkey) (ntile splits ties by position), which makes
    * ranks unique — so percent_rank ≡ (rn−1)/(np−1) and
    * cume_dist ≡ rn/np, and BOTH are emitted through exact integer
    * HALF_UP arithmetic ((2a·10⁶ + b) div 2b) instead of
    * round(double, 6): a dyadic quotient like 16651/32005 →
    * 0.5203125 sits ON a 6dp half-boundary where Spark's
    * decimal-string round and DuckDB's binary round disagree — a
    * real divergence caught by the sf0.1 sweep (round 9), impossible
    * once the rounding itself is integer division.
    *
    * Scale: one shuffle on nation for all three windows (same
    * partitioning + ordering → a single Window operator, the q58
    * discipline); output is customer-sized with no joins.
    */
  def percentileScorecard(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("c_nationkey"))
      .orderBy(col("c_acctbal"), col("c_custkey"))
    Tables.load(spark, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"))
      .withColumn("rn", row_number().over(w))
      .withColumn("np", count(lit(1)).over(Window.partitionBy(col("c_nationkey"))))
      .withColumn("pct_rank", when(col("np") === 1, lit(0.0)).otherwise(
        expr("((rn - 1) * 2000000 + (np - 1)) div (2 * (np - 1))")
          .cast("double") / 1e6))
      .withColumn("cume",
        expr("(rn * 2000000 + np) div (2 * np)").cast("double") / 1e6)
      .withColumn("quartile", ntile(4).over(w))
      .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"),
        col("pct_rank"), col("cume"), col("quartile"))
      .orderBy(col("c_nationkey"), col("c_custkey"))
  }

  val percentileScorecardSql: String =
    """WITH ranked AS (
      |  SELECT c_custkey, c_nationkey, c_acctbal,
      |    ROW_NUMBER() OVER w AS rn,
      |    COUNT(*) OVER (PARTITION BY c_nationkey) AS np
      |  FROM customer
      |  WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey)
      |)
      |SELECT c_custkey, c_nationkey, c_acctbal,
      |  CASE WHEN np = 1 THEN 0.0
      |    ELSE CAST(((rn - 1) * 2000000 + (np - 1)) // (2 * (np - 1))
      |      AS DOUBLE) / 1e6 END AS pct_rank,
      |  CAST((rn * 2000000 + np) // (2 * np) AS DOUBLE) / 1e6 AS cume,
      |  CAST(ntile(4) OVER (PARTITION BY c_nationkey
      |    ORDER BY c_acctbal, c_custkey) AS INT) AS quartile
      |FROM ranked
      |ORDER BY c_nationkey, c_custkey""".stripMargin

  /** q211 — small-quantity-order revenue per brand: lineitems whose
    * quantity falls below 20% of their part's average order quantity,
    * rolled up as yearly-ized revenue — the TPC-H Q17 shape, whose
    * defining feature is the CORRELATED SCALAR SUBQUERY (per-part avg
    * referenced from the outer predicate). The oracle keeps the
    * textbook correlated form; the Spark plan is its decorrelation:
    * one per-part aggregate joined back co-partitioned on l_partkey
    * (the agg output and the probe side share the key, so AQE plans a
    * shuffle-local join), then a broadcast part-dim join for the
    * brand label.
    *
    * Exactness: avg qty is decSum/count (order-independent decimal
    * sum, one double division) computed identically on both sides, so
    * the 0.2·avg threshold compare is on bit-identical doubles; the
    * qualifying revenue is a DECIMAL sum divided by 7 and rounded
    * once.
    */
  def smallQtyRevenue(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
      .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
    val part = Tables.load(spark, dir, "part")
      .select(col("p_partkey"), col("p_brand"))
    val perPart = li.groupBy(col("l_partkey"))
      .agg((decSum(col("l_quantity")) / count(lit(1))).as("avg_qty"))
    li.join(perPart, "l_partkey")
      .where(col("l_quantity") < lit(0.2) * col("avg_qty"))
      .join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_small"),
        round(decSum(col("l_extendedprice")) / 7.0, 6).as("avg_yearly"))
      .orderBy(col("p_brand"))
  }

  val smallQtyRevenueSql: String =
    """SELECT p.p_brand,
      |  COUNT(*) AS n_small,
      |  ROUND(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
      |    / 7.0, 6) AS avg_yearly
      |FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      |WHERE l.l_quantity < 0.2 * (
      |  SELECT CAST(SUM(CAST(l2.l_quantity AS DECIMAL(18,6))) AS DOUBLE)
      |    / COUNT(*)
      |  FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** q212 — large-volume orders ("who places the bulk orders"): orders
    * whose total lineitem quantity exceeds `minQty`, joined back to
    * customer and order headers with the quantity total — the TPC-H
    * Q18 shape: IN-subquery with a HAVING aggregate, planned as an
    * aggregate → semi-join. Spark side computes the per-order total
    * ONCE and reuses it as both the filter and the output column
    * (the decorrelated form); the oracle keeps the textbook
    * IN (GROUP BY ... HAVING) + re-aggregate form to prove the
    * rewrite. Both aggregates are co-partitioned on l_orderkey; the
    * order/customer joins are key joins on the already-thin filtered
    * set.
    *
    * Exactness: quantity totals are DECIMAL sums (order-independent);
    * the > minQty compare and the final (total desc, orderkey) sort
    * use those exact doubles.
    */
  def largeVolumeOrders(spark: SparkSession, dir: String,
                        minQty: Double = 250.0): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_quantity"))
    val orders = Tables.load(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("o_orderdate"))
    val cust = Tables.load(spark, dir, "customer")
      .select(col("c_custkey"), col("c_name"))
    val big = li.groupBy(col("l_orderkey"))
      .agg(decSum(col("l_quantity")).as("total_qty"))
      .where(col("total_qty") > minQty)
    big.join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        col("o_totalprice"), col("total_qty"))
      .orderBy(col("total_qty").desc, col("o_orderkey"))
  }

  def largeVolumeOrdersSql(minQty: Double = 250.0): String =
    s"""SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_totalprice,
       |  (SELECT CAST(SUM(CAST(l2.l_quantity AS DECIMAL(18,6))) AS DOUBLE)
       |   FROM lineitem l2 WHERE l2.l_orderkey = o.o_orderkey) AS total_qty
       |FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
       |WHERE o.o_orderkey IN (
       |  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
       |  HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)
       |    > $minQty)
       |ORDER BY total_qty DESC, o.o_orderkey""".stripMargin

  /** q216 — exact per-group mode: the modal order priority per
    * customer nation, with its share of the nation's orders — the
    * categorical summary statistic the suite's aggregates family
    * lacked (Spark's `mode()` and DuckDB's `mode()` are both
    * tie-nondeterministic, so neither is used: the mode is computed
    * as a counted rank with a full (count desc, value asc) tiebreak,
    * making equal-count modes resolve identically on both engines).
    *
    * Scale: one (nation, priority) count aggregate (map-side
    * combined, group count bounded by |nations|·|priorities|), one
    * window over that tiny grouped table, one broadcast-sized total
    * join — the orders scan is touched once; share is an exact-count
    * quotient rounded at 6dp.
    */
  def groupMode(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val oc = Tables.load(spark, dir, "orders")
      .join(Tables.load(spark, dir, "customer"),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_nationkey"), col("o_orderpriority"))
    val counts = oc.groupBy(col("c_nationkey"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_mode"))
    counts
      .withColumn("rk", row_number().over(Window.partitionBy(col("c_nationkey"))
        .orderBy(col("n_mode").desc, col("o_orderpriority"))))
      .withColumn("n_total",
        sum(col("n_mode")).over(Window.partitionBy(col("c_nationkey"))))
      .where(col("rk") === 1)
      .select(col("c_nationkey"), col("o_orderpriority").as("mode_priority"),
        col("n_mode"), col("n_total"),
        round(col("n_mode").cast("double") / col("n_total"), 6).as("mode_share"))
      .orderBy(col("c_nationkey"))
  }

  val groupModeSql: String =
    """WITH counts AS (
      |  SELECT c.c_nationkey, o.o_orderpriority, COUNT(*) AS n_mode
      |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |  GROUP BY 1, 2
      |), ranked AS (
      |  SELECT c_nationkey, o_orderpriority, n_mode,
      |    row_number() OVER (PARTITION BY c_nationkey
      |      ORDER BY n_mode DESC, o_orderpriority) AS rk,
      |    SUM(n_mode) OVER (PARTITION BY c_nationkey) AS n_total
      |  FROM counts
      |)
      |SELECT c_nationkey, o_orderpriority AS mode_priority,
      |  CAST(n_mode AS BIGINT) AS n_mode,
      |  CAST(n_total AS BIGINT) AS n_total,
      |  ROUND(CAST(n_mode AS DOUBLE) / n_total, 6) AS mode_share
      |FROM ranked WHERE rk = 1
      |ORDER BY c_nationkey""".stripMargin

  /** q218 — dominant-share suppliers: suppliers who shipped more than
    * `share` of some part's total quantity, with how many parts they
    * dominate and their nation — the concentration-risk screen
    * ("which vendors is this part market captive to"), and the
    * TPC-H Q20 shape: a two-level nested subquery (suppliers IN
    * (parts WHERE qty > share × (SELECT part total))). The oracle
    * keeps the textbook nested-IN + correlated-scalar form; the Spark
    * plan decorrelates BOTH levels into co-partitioned aggregates on
    * (l_partkey[, l_suppkey]) joined once, then a supplier-keyed
    * count and broadcast nation join.
    *
    * Exactness: both quantity sums are decimal (order-independent);
    * the share compare multiplies the same exact doubles identically
    * on both engines. The default share (0.15) is calibrated to the
    * graded corpus, where parts spread over many suppliers (max
    * observed share ~0.26): a vendor holding >15% of a part's volume
    * is already 2-5x the typical share there.
    */
  def dominantShareSuppliers(spark: SparkSession, dir: String,
                             share: Double = 0.15): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
      .select(col("l_partkey"), col("l_suppkey"), col("l_quantity"))
    val sp = li.groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(decSum(col("l_quantity")).as("sp_qty"))
    val tot = li.groupBy(col("l_partkey"))
      .agg(decSum(col("l_quantity")).as("p_qty"))
    val dominant = sp.join(tot, "l_partkey")
      .where(col("sp_qty") > lit(share) * col("p_qty"))
    val perSupp = dominant.groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("n_dominant_parts"))
    Tables.load(spark, dir, "supplier")
      .join(perSupp, col("s_suppkey") === col("l_suppkey"))
      .join(broadcast(Tables.load(spark, dir, "nation")),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_name"), col("n_name"),
        col("n_dominant_parts"))
      .orderBy(col("s_suppkey"))
  }

  def dominantShareSuppliersSql(share: Double = 0.15): String =
    s"""SELECT s.s_suppkey, s.s_name, n.n_name,
       |  (SELECT COUNT(*)
       |   FROM (SELECT l_partkey, l_suppkey,
       |           CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sp_qty
       |         FROM lineitem GROUP BY 1, 2) d
       |   WHERE d.l_suppkey = s.s_suppkey
       |     AND d.sp_qty > $share * (
       |       SELECT CAST(SUM(CAST(l2.l_quantity AS DECIMAL(18,6))) AS DOUBLE)
       |       FROM lineitem l2 WHERE l2.l_partkey = d.l_partkey)
       |  ) AS n_dominant_parts
       |FROM supplier s JOIN nation n ON n.n_nationkey = s.s_nationkey
       |WHERE s.s_suppkey IN (
       |  SELECT d.l_suppkey
       |  FROM (SELECT l_partkey, l_suppkey,
       |          CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sp_qty
       |        FROM lineitem GROUP BY 1, 2) d
       |  WHERE d.sp_qty > $share * (
       |    SELECT CAST(SUM(CAST(l2.l_quantity AS DECIMAL(18,6))) AS DOUBLE)
       |    FROM lineitem l2 WHERE l2.l_partkey = d.l_partkey))
       |ORDER BY s.s_suppkey""".stripMargin

  /** q221 — dormant high-balance customers per nation: customers whose
    * balance beats the positive-balance average but who placed NO
    * order in the last `recencyDays` of the corpus timeline — the
    * TPC-H Q22 shape (ungrouped scalar subquery + NOT EXISTS
    * anti-join + rollup), recast as the "dormant capital" screen.
    * (Q22's literal "no orders at all" is empty on this corpus —
    * every customer orders — so the anti-join target is the RECENT
    * order set, with the cutoff derived from max(o_orderdate), the
    * q146 rerun-deterministic as-of discipline.) The oracle keeps the
    * textbook correlated NOT EXISTS; the Spark plan decorrelates: two
    * 1-row aggregates broadcast by cross join (average and as-of
    * day — the A6/W2 discipline, never a single-partition window),
    * one left anti join on custkey, a nation-sized rollup.
    *
    * Exactness: the average is decSum/count computed identically both
    * sides, so the threshold compare is on bit-identical doubles;
    * the cutoff is exact integer epoch-day arithmetic; balance
    * totals are decimal sums rounded once.
    */
  def idleRichCustomers(spark: SparkSession, dir: String,
                        recencyDays: Int = 90): DataFrame = {
    import Temporal.dayOf
    val cust = Tables.load(spark, dir, "customer")
    val orders = Tables.load(spark, dir, "orders")
      .select(col("o_custkey"), expr(dayOf("o_orderdate")).as("day"))
    val avgBal = cust.where(col("c_acctbal") > 0)
      .agg((decSum(col("c_acctbal")) / count(lit(1))).as("avg_bal"))
    val asof = orders.agg(max(col("day")).as("asof_day"))
    val recent = orders.crossJoin(broadcast(asof))
      .where(col("day") > col("asof_day") - recencyDays)
      .select(col("o_custkey"))
    cust.crossJoin(broadcast(avgBal))
      .where(col("c_acctbal") > col("avg_bal"))
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_customers"),
        round(decSum(col("c_acctbal")), 6).as("total_balance"))
      .orderBy(col("c_nationkey"))
  }

  def idleRichCustomersSql(recencyDays: Int = 90): String =
    s"""SELECT c_nationkey, COUNT(*) AS n_customers,
       |  ROUND(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE), 6)
       |    AS total_balance
       |FROM customer c
       |WHERE c_acctbal > (
       |    SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE)
       |      / COUNT(*)
       |    FROM customer WHERE c_acctbal > 0)
       |  AND NOT EXISTS (
       |    SELECT 1 FROM orders o
       |    WHERE o.o_custkey = c.c_custkey
       |      AND epoch_ms(o.o_orderdate) // 86400000 > (
       |        SELECT MAX(epoch_ms(o2.o_orderdate) // 86400000)
       |          - $recencyDays
       |        FROM orders o2))
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** q229 — cheapest supplier per part: each part's minimum-unit-cost
    * supplier (unit cost = revenue/quantity over that supplier's
    * lineitems for the part), with supplier and nation names — the
    * TPC-H Q2 shape: a CORRELATED MIN SUBQUERY selecting the row(s)
    * that attain a per-group aggregate minimum. The oracle keeps the
    * textbook `cost = (SELECT MIN ...)` correlation; the Spark plan
    * decorrelates it into a per-part window MIN over the
    * (part, supplier) aggregate — one l_partkey shuffle serves both
    * the aggregate and the min — followed by broadcast dim joins.
    * Q2's tie semantics are preserved: EVERY supplier attaining the
    * minimum returns (an argmin row_number would silently drop ties),
    * with a fully tiebroken presentation sort.
    *
    * Exactness: unit cost lives in INTEGER micro-units —
    * floor(1e6·revenue/quantity) over e6-scaled BIGINT sums — so the
    * per-part MIN, the attaining-equality compare and the output
    * column are all exact integers (a first cut rounded the double
    * quotient and hit a real half-boundary at sf0.1: Spark's
    * shortest-repr HALF_UP vs DuckDB's binary rounding disagreed by
    * 1e-6 on one part). At 100 TB the e6×e6 product needs
    * DECIMAL(38,0); the shape stays.
    */
  def cheapestSupplier(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dec = DecimalType(18, 6)
    val li = Tables.load(spark, dir, "lineitem")
      .select(col("l_partkey"), col("l_suppkey"), col("l_quantity"),
        col("l_extendedprice"))
    val cost = li.groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(
        (sum(col("l_extendedprice").cast(dec)) * 1000000).cast("long").as("rev_e6"),
        (sum(col("l_quantity").cast(dec)) * 1000000).cast("long").as("qty_e6"))
      .select(col("l_partkey"), col("l_suppkey"),
        expr("(rev_e6 * 1000000) div qty_e6").as("unit_cost_e6"))
    val best = cost.withColumn("min_cost",
        min(col("unit_cost_e6")).over(Window.partitionBy(col("l_partkey"))))
      .where(col("unit_cost_e6") === col("min_cost"))
    best
      .join(Tables.load(spark, dir, "supplier"),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.load(spark, dir, "nation")),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("l_partkey").as("p_partkey"), col("s_suppkey"),
        col("s_name"), col("n_name"), col("unit_cost_e6"))
      .orderBy(col("p_partkey"), col("s_suppkey"))
  }

  val cheapestSupplierSql: String =
    """WITH cost AS (
      |  SELECT l_partkey, l_suppkey,
      |    (CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) * 1000000 AS BIGINT)
      |      * 1000000)
      |      // CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) * 1000000 AS BIGINT)
      |      AS unit_cost_e6
      |  FROM lineitem GROUP BY 1, 2
      |)
      |SELECT c.l_partkey AS p_partkey, s.s_suppkey, s.s_name, n.n_name,
      |  CAST(c.unit_cost_e6 AS BIGINT) AS unit_cost_e6
      |FROM cost c
      |JOIN supplier s ON s.s_suppkey = c.l_suppkey
      |JOIN nation n ON n.n_nationkey = s.s_nationkey
      |WHERE c.unit_cost_e6 = (
      |  SELECT MIN(c2.unit_cost_e6) FROM cost c2
      |  WHERE c2.l_partkey = c.l_partkey)
      |ORDER BY p_partkey, s.s_suppkey""".stripMargin

  /** q234 — disjunctive-bracket revenue (the TPC-H Q19 shape): revenue
    * from lineitems matching ANY of three (brand, size-range,
    * quantity-range) brackets — the canonical OR-of-conjuncts
    * predicate. Q19 is a *planner* test as much as a query: the
    * part-side conjuncts (brand, size) and the lineitem-side conjunct
    * (quantity) live on opposite sides of the join inside each OR arm,
    * and a naive plan evaluates the whole disjunction post-join. This
    * plan factors the UNION of the part-side arms into the part filter
    * BEFORE the join (any part matching no arm can satisfy no
    * disjunct), so the broadcast build side carries only bracket
    * parts, and the residual OR runs on the joined rows. Output is
    * per-bracket (the scalar Q19 total is the sum of the rows), with a
    * row per matching arm — brackets are brand-disjoint, so arms
    * never double-count a lineitem.
    *
    * Exactness: revenue terms round to 6dp before the DECIMAL(28,6)
    * accumulator (the q01/q189 discipline); quantity bounds are
    * integer-valued doubles compared directly.
    *
    * Scale: one fact scan, one broadcast join against the
    * pre-filtered part dim, one tiny (3-group) aggregate. The
    * disjunction never forces a second scan or a union of three fact
    * passes — the arm tag is a CASE over already-joined rows.
    */
  def disjunctiveRevenue(spark: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(28, 6)
    val li = Tables.load(spark, dir, "lineitem")
      .select(col("l_partkey"), col("l_quantity"),
        col("l_extendedprice"), col("l_discount"))
    val part = Tables.load(spark, dir, "part")
      .select(col("p_partkey"), col("p_brand"), col("p_size"))
    val arm1 = col("p_brand") === "Brand#12" &&
      col("p_size").between(1, 15) && col("l_quantity").between(1, 11)
    val arm2 = col("p_brand") === "Brand#23" &&
      col("p_size").between(1, 25) && col("l_quantity").between(10, 20)
    val arm3 = col("p_brand") === "Brand#34" &&
      col("p_size").between(1, 35) && col("l_quantity").between(20, 30)
    // part-side factor of the disjunction: pushed below the join so
    // the broadcast side is bracket-only
    val partArm = (col("p_brand") === "Brand#12" && col("p_size").between(1, 15)) ||
      (col("p_brand") === "Brand#23" && col("p_size").between(1, 25)) ||
      (col("p_brand") === "Brand#34" && col("p_size").between(1, 35))
    li.join(broadcast(part.filter(partArm)), col("l_partkey") === col("p_partkey"))
      .filter(arm1 || arm2 || arm3)
      .withColumn("bracket",
        when(arm1, 1).when(arm2, 2).otherwise(3))
      .withColumn("rev",
        round(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6))
      .groupBy(col("bracket"))
      .agg(count(lit(1)).as("n_items"),
        round(sum(col("rev").cast(dec)).cast("double"), 6).as("revenue"))
      .orderBy(col("bracket"))
  }

  val disjunctiveRevenueSql: String =
    """SELECT bracket, COUNT(*) AS n_items,
      |  ROUND(CAST(SUM(CAST(ROUND(l_extendedprice * (1.0 - l_discount), 6)
      |    AS DECIMAL(28,6))) AS DOUBLE), 6) AS revenue
      |FROM (
      |  SELECT l.l_extendedprice, l.l_discount,
      |    CASE
      |      WHEN p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15
      |        AND l.l_quantity BETWEEN 1 AND 11 THEN 1
      |      WHEN p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 25
      |        AND l.l_quantity BETWEEN 10 AND 20 THEN 2
      |      ELSE 3
      |    END AS bracket
      |  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      |  WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15
      |      AND l.l_quantity BETWEEN 1 AND 11)
      |    OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 25
      |      AND l.l_quantity BETWEEN 10 AND 20)
      |    OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 35
      |      AND l.l_quantity BETWEEN 20 AND 30)
      |)
      |GROUP BY bracket ORDER BY bracket""".stripMargin

  /** q235 — order-priority pipeline check (the TPC-H Q4 shape): per
    * order priority, how many orders in a one-year window have at
    * least one lineitem shipped more than `lateDays` after the order
    * date (this schema carries no commit/receipt dates, so ship-lag
    * stands in for Q4's receipt>commit lateness — same EXISTS
    * semantics, different predicate). The defining feature is the
    * correlated EXISTS: the oracle keeps the textbook form; the Spark
    * plan is the decorrelation every warehouse engine applies — a
    * LEFT SEMI join from orders to the qualifying lineitems, then a
    * tiny priority aggregate.
    *
    * Scale: the semi-join shuffles both sides on the order key once
    * (or goes shuffle-free if both tables are bucketed on it — the
    * Layout module's claim); the EXISTS short-circuits per key on the
    * build side, and the aggregate domain is |priorities| = 5.
    * The ship-lag predicate references BOTH sides (l_shipdate vs
    * o_orderdate), so it rides the join condition, not a pushed scan
    * filter — exactly Q4's point.
    */
  def priorityPipeline(spark: SparkSession, dir: String,
                       yearStart: String = "1996-01-01",
                       lateDays: Int = 60): DataFrame = {
    val orders = Tables.load(spark, dir, "orders")
      .filter(col("o_orderdate") >= lit(yearStart).cast("timestamp") &&
        col("o_orderdate") < add_months(lit(yearStart).cast("timestamp"), 12))
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
    val li = Tables.load(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_shipdate"))
    orders.join(li,
        col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr(s"INTERVAL $lateDays DAYS"),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_late_orders"))
      .orderBy(col("o_orderpriority"))
  }

  def priorityPipelineSql(yearStart: String = "1996-01-01",
                          lateDays: Int = 60): String =
    s"""SELECT o_orderpriority, COUNT(*) AS n_late_orders
       |FROM orders o
       |WHERE o.o_orderdate >= TIMESTAMP '$yearStart'
       |  AND o.o_orderdate < TIMESTAMP '$yearStart' + INTERVAL 12 MONTH
       |  AND EXISTS (
       |    SELECT 1 FROM lineitem l
       |    WHERE l.l_orderkey = o.o_orderkey
       |      AND l.l_shipdate > o.o_orderdate + INTERVAL $lateDays DAY)
       |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** q236 — monthly promo revenue share (the TPC-H Q14 shape): per
    * ship month, the percentage of revenue from PROMO-type parts —
    * conditional aggregation over the fact/dim join, the classic
    * campaign-effect readout. Q14 grades one month; this emits the
    * whole monthly series (the scalar is any single row), which turns
    * the shape into a promo-mix trend without changing the per-group
    * semantics.
    *
    * Exactness: the q189 discipline — per-term 6dp round into
    * DECIMAL(28,6) for both the conditional and total sums, one final
    * IEEE division rounded at 6dp. Month keys are integer
    * (year, month) pairs, no date formatting in the compare path.
    *
    * Scale: one fact scan; the part dim broadcasts (only p_partkey +
    * the PROMO flag survive pruning); one (year, month) aggregate
    * with map-side combine. The share arithmetic runs on the
    * months-sized result.
    */
  def promoShare(spark: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(28, 6)
    val li = Tables.load(spark, dir, "lineitem")
      .select(col("l_partkey"), col("l_shipdate"),
        col("l_extendedprice"), col("l_discount"))
    val part = Tables.load(spark, dir, "part")
      .select(col("p_partkey"), (col("p_type") === "PROMO").as("is_promo"))
    li.join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .withColumn("rev",
        round(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6))
      .groupBy(year(col("l_shipdate")).as("ship_year"),
        month(col("l_shipdate")).as("ship_month"))
      .agg(
        sum(when(col("is_promo"), col("rev").cast(dec))
          .otherwise(lit(0).cast(dec))).cast("double").as("promo_rev"),
        sum(col("rev").cast(dec)).cast("double").as("total_rev"))
      .select(col("ship_year"), col("ship_month"),
        round(col("promo_rev"), 6).as("promo_rev"),
        round(col("total_rev"), 6).as("total_rev"),
        round(lit(100.0) * col("promo_rev") / col("total_rev"), 6)
          .as("promo_pct"))
      .orderBy(col("ship_year"), col("ship_month"))
  }

  val promoShareSql: String =
    """SELECT CAST(year(l_shipdate) AS INT) AS ship_year,
      |  CAST(month(l_shipdate) AS INT) AS ship_month,
      |  ROUND(CAST(SUM(CASE WHEN p_type = 'PROMO'
      |    THEN CAST(ROUND(l_extendedprice * (1.0 - l_discount), 6)
      |      AS DECIMAL(28,6))
      |    ELSE CAST(0 AS DECIMAL(28,6)) END) AS DOUBLE), 6) AS promo_rev,
      |  ROUND(CAST(SUM(CAST(ROUND(l_extendedprice * (1.0 - l_discount), 6)
      |    AS DECIMAL(28,6))) AS DOUBLE), 6) AS total_rev,
      |  ROUND(100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
      |    THEN CAST(ROUND(l_extendedprice * (1.0 - l_discount), 6)
      |      AS DECIMAL(28,6))
      |    ELSE CAST(0 AS DECIMAL(28,6)) END) AS DOUBLE)
      |    / CAST(SUM(CAST(ROUND(l_extendedprice * (1.0 - l_discount), 6)
      |      AS DECIMAL(28,6))) AS DOUBLE), 6) AS promo_pct
      |FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** q237 — supplier diversity per part segment (the TPC-H Q16 shape):
    * for every (brand, type, size-band), how many DISTINCT suppliers
    * ship that segment — excluding a supplier blocklist (Q16's
    * "complaints" subquery; this schema has no comment text, so the
    * blocklist is the overdrawn suppliers, s_acctbal < 0). The shape
    * under grading: a NOT IN subquery against a dimension (planned as
    * an anti-join on the thin supplier list), then COUNT(DISTINCT)
    * over a composite group.
    *
    * Scale: the part→lineitem join carries only keys + group columns;
    * the blocklist anti-join broadcasts (suppliers are dim-sized);
    * the distinct-count aggregate is two-phase (partial distinct on
    * (group, suppkey), then final count) — Spark plans exactly that
    * via the standard distinct-agg expansion, so no group ever holds
    * a supplier set in memory.
    */
  def supplierPartCounts(spark: SparkSession, dir: String,
                         sizeBand: Int = 10): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
      .select(col("l_partkey"), col("l_suppkey"))
    val part = Tables.load(spark, dir, "part")
      .select(col("p_partkey"), col("p_brand"), col("p_type"),
        (floor(col("p_size") / sizeBand) * sizeBand).cast("int").as("size_band"))
    val blocked = Tables.load(spark, dir, "supplier")
      .filter(col("s_acctbal") < 0).select(col("s_suppkey"))
    li.join(broadcast(blocked), col("l_suppkey") === col("s_suppkey"), "left_anti")
      .join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_type"), col("size_band"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
        col("size_band"))
  }

  def supplierPartCountsSql(sizeBand: Int = 10): String =
    s"""SELECT p.p_brand, p.p_type,
       |  CAST(FLOOR(p.p_size / $sizeBand) * $sizeBand AS INT) AS size_band,
       |  COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
       |FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
       |WHERE l.l_suppkey NOT IN (
       |  SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
       |GROUP BY 1, 2, 3
       |ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, size_band""".stripMargin

  /** q245 — top revenue supplier(s) (the TPC-H Q15 shape): total
    * revenue per supplier over a quarter, returning every supplier
    * tied at the maximum — the "view + global-max equality" pattern
    * (Q15 defines a revenue view and selects WHERE total = (SELECT
    * MAX FROM view)). Ties must all surface, which is why this is not
    * an ORDER BY/LIMIT 1: the equality-against-max form is
    * deterministic under ties where a row_number pick is not.
    *
    * Exactness: revenue accumulates 6dp-rounded terms in
    * DECIMAL(28,6) and the max-equality compares DECIMALS — never
    * doubles — so tie detection is exact; the double cast happens
    * only in the output projection.
    *
    * Scale: one fact scan + one supplier aggregate; the global max is
    * a 1-row broadcast joined back (the q12 empty-frame-max shape,
    * here as an explicit cross join so the plan is
    * scan → agg → tiny-agg → broadcast-compare, all one pass over
    * the fact).
    */
  def topSupplier(spark: SparkSession, dir: String,
                  quarterStart: String = "1996-01-01"): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(28, 6)
    val li = Tables.load(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit(quarterStart).cast("timestamp") &&
        col("l_shipdate") < add_months(lit(quarterStart).cast("timestamp"), 3))
      .select(col("l_suppkey"),
        round(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6)
          .cast(dec).as("rev"))
    val perSupp = li.groupBy(col("l_suppkey"))
      .agg(sum(col("rev")).as("total_rev_dec"))
    val mx = perSupp.agg(max(col("total_rev_dec")).as("max_rev"))
    perSupp.crossJoin(broadcast(mx))
      .filter(col("total_rev_dec") === col("max_rev"))
      .join(broadcast(Tables.load(spark, dir, "supplier")
        .select(col("s_suppkey"), col("s_name"))),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        round(col("total_rev_dec").cast("double"), 6).as("total_rev"))
      .orderBy(col("s_suppkey"))
  }

  def topSupplierSql(quarterStart: String = "1996-01-01"): String =
    s"""WITH revenue AS (
       |  SELECT l_suppkey,
       |    SUM(CAST(ROUND(l_extendedprice * (1.0 - l_discount), 6)
       |      AS DECIMAL(28,6))) AS total_rev_dec
       |  FROM lineitem
       |  WHERE l_shipdate >= TIMESTAMP '$quarterStart'
       |    AND l_shipdate < TIMESTAMP '$quarterStart' + INTERVAL 3 MONTH
       |  GROUP BY l_suppkey
       |)
       |SELECT s.s_suppkey, s.s_name,
       |  ROUND(CAST(r.total_rev_dec AS DOUBLE), 6) AS total_rev
       |FROM revenue r JOIN supplier s ON s.s_suppkey = r.l_suppkey
       |WHERE r.total_rev_dec = (SELECT MAX(total_rev_dec) FROM revenue)
       |ORDER BY s.s_suppkey""".stripMargin

  /** q248 — shipping-priority top-10 (the TPC-H Q3 shape): the ten
    * highest-revenue orders from one market segment that were PLACED
    * before a cutoff date but still have lineitems SHIPPING after it
    * — the "what's in flight and worth expediting" triage list. The
    * graded plan properties: the customer-segment filter prunes
    * through a broadcast dim join before the fact shuffle, the
    * two-sided date predicate splits across orders (scan-pushed) and
    * lineitem (scan-pushed), and the top-10 is a deterministic
    * LIMIT over a fully-tiebroken (revenue desc, orderkey) sort —
    * planned as TakeOrderedAndProject, never a global sort.
    *
    * Exactness: revenue is the q189 discipline (6dp-rounded terms in
    * DECIMAL(28,6)); the top-10 cut compares DECIMALS with the
    * orderkey tiebreak, so an SF where rank 10 and 11 tie on revenue
    * still cuts identically on both engines.
    */
  def shippingPriority(spark: SparkSession, dir: String,
                       segment: String = "BUILDING",
                       cutoff: String = "1998-06-15"): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(28, 6)
    val cut = lit(cutoff).cast("timestamp")
    val cust = Tables.load(spark, dir, "customer")
      .filter(col("c_mktsegment") === segment).select(col("c_custkey"))
    val orders = Tables.load(spark, dir, "orders")
      .filter(col("o_orderdate") < cut)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
        col("o_orderpriority"))
    val li = Tables.load(spark, dir, "lineitem")
      .filter(col("l_shipdate") > cut)
      .select(col("l_orderkey"),
        round(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6)
          .cast(dec).as("rev"))
    li.join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"), "left_semi")
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(sum(col("rev")).as("revenue_dec"))
      .orderBy(col("revenue_dec").desc, col("l_orderkey"))
      .limit(10)
      .select(col("l_orderkey").as("o_orderkey"),
        round(col("revenue_dec").cast("double"), 6).as("revenue"),
        col("o_orderdate"), col("o_orderpriority"))
  }

  def shippingPrioritySql(segment: String = "BUILDING",
                          cutoff: String = "1998-06-15"): String =
    s"""SELECT l.l_orderkey AS o_orderkey,
       |  ROUND(CAST(SUM(CAST(ROUND(l.l_extendedprice * (1.0 - l.l_discount), 6)
       |    AS DECIMAL(28,6))) AS DOUBLE), 6) AS revenue,
       |  o.o_orderdate, o.o_orderpriority
       |FROM customer c
       |JOIN orders o ON o.o_custkey = c.c_custkey
       |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
       |WHERE c.c_mktsegment = '$segment'
       |  AND o.o_orderdate < TIMESTAMP '$cutoff'
       |  AND l.l_shipdate > TIMESTAMP '$cutoff'
       |GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
       |ORDER BY SUM(CAST(ROUND(l.l_extendedprice * (1.0 - l.l_discount), 6)
       |  AS DECIMAL(28,6))) DESC, l.l_orderkey
       |LIMIT 10""".stripMargin

  /** q249 — returned-item reporting (the TPC-H Q10 shape): revenue
    * lost to RETURNED lineitems per customer over one quarter of
    * orders, with nation context — the "which accounts are returning
    * the most value" account-review list, top 20 by lost revenue.
    * Shape under grading: fact filtered on the RETURN flag, a
    * quarter-bounded order join, two broadcast dims, and the same
    * deterministic TakeOrdered cut as q248.
    *
    * Exactness: q189 revenue discipline; top-20 compares decimals
    * with the custkey tiebreak.
    */
  def returnedItems(spark: SparkSession, dir: String,
                    quarterStart: String = "1996-01-01"): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(28, 6)
    val qs = lit(quarterStart).cast("timestamp")
    val orders = Tables.load(spark, dir, "orders")
      .filter(col("o_orderdate") >= qs &&
        col("o_orderdate") < add_months(qs, 3))
      .select(col("o_orderkey"), col("o_custkey"))
    val li = Tables.load(spark, dir, "lineitem")
      .filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"),
        round(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6)
          .cast(dec).as("rev"))
    val cust = Tables.load(spark, dir, "customer")
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"),
        col("c_nationkey"))
    val nation = Tables.load(spark, dir, "nation")
      .select(col("n_nationkey"), col("n_name"))
    li.join(orders, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey"))
      .agg(sum(col("rev")).as("lost_dec"), count(lit(1)).as("n_returned"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .orderBy(col("lost_dec").desc, col("c_custkey"))
      .limit(20)
      .select(col("c_custkey"), col("c_name"), col("n_name"),
        col("c_acctbal"), col("n_returned"),
        round(col("lost_dec").cast("double"), 6).as("lost_revenue"))
  }

  def returnedItemsSql(quarterStart: String = "1996-01-01"): String =
    s"""SELECT c.c_custkey, c.c_name, n.n_name, c.c_acctbal,
       |  COUNT(*) AS n_returned,
       |  ROUND(CAST(SUM(CAST(ROUND(l.l_extendedprice * (1.0 - l.l_discount), 6)
       |    AS DECIMAL(28,6))) AS DOUBLE), 6) AS lost_revenue
       |FROM customer c
       |JOIN orders o ON o.o_custkey = c.c_custkey
       |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
       |JOIN nation n ON n.n_nationkey = c.c_nationkey
       |WHERE l.l_returnflag = 'R'
       |  AND o.o_orderdate >= TIMESTAMP '$quarterStart'
       |  AND o.o_orderdate < TIMESTAMP '$quarterStart' + INTERVAL 3 MONTH
       |GROUP BY c.c_custkey, c.c_name, n.n_name, c.c_acctbal
       |ORDER BY SUM(CAST(ROUND(l.l_extendedprice * (1.0 - l.l_discount), 6)
       |  AS DECIMAL(28,6))) DESC, c.c_custkey
       |LIMIT 20""".stripMargin

  /** q250 — forecast revenue-change scalar (the TPC-H Q6 shape): the
    * revenue that would have been gained by eliminating mid-band
    * discounts on small-quantity lines in one year —
    * SUM(extendedprice · discount) under three scan-pushable range
    * predicates and NO join or group: the purest pushdown probe in
    * the TPC-H set (the whole query should collapse to one filtered
    * scan + one partial/final agg; `PushedFilters` must carry all
    * three ranges). Emitted with the qualifying line count so the
    * result is a 1-row relation, not a bare scalar.
    *
    * Exactness: the discount bounds are PLAIN double literals — both
    * engines parse '0.05'/'0.07' to the identical IEEE double and
    * compare the identical stored doubles, so the predicate is
    * engine-exact AND stays a pushable column-vs-literal range (a
    * round()-normalized compare would be equally exact but wraps the
    * column and kills the scan pushdown); revenue terms are
    * 6dp-rounded into DECIMAL(28,6).
    */
  def forecastRevenueDelta(spark: SparkSession, dir: String,
                           yearStart: String = "1996-01-01"): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(28, 6)
    val ys = lit(yearStart).cast("timestamp")
    Tables.load(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= ys &&
        col("l_shipdate") < add_months(ys, 12) &&
        col("l_discount").between(0.05, 0.07) &&
        col("l_quantity") < 24)
      .agg(count(lit(1)).as("n_lines"),
        round(sum(round(col("l_extendedprice") * col("l_discount"), 6)
          .cast(dec)).cast("double"), 6).as("revenue_delta"))
  }

  def forecastRevenueDeltaSql(yearStart: String = "1996-01-01"): String =
    s"""SELECT COUNT(*) AS n_lines,
       |  ROUND(CAST(SUM(CAST(ROUND(l_extendedprice * l_discount, 6)
       |    AS DECIMAL(28,6))) AS DOUBLE), 6) AS revenue_delta
       |FROM lineitem
       |WHERE l_shipdate >= TIMESTAMP '$yearStart'
       |  AND l_shipdate < TIMESTAMP '$yearStart' + INTERVAL 12 MONTH
       |  AND l_discount BETWEEN 0.05 AND 0.07
       |  AND l_quantity < 24""".stripMargin

  /** q253 — local-supplier revenue (the TPC-H Q5 shape): revenue per
    * nation from lineitems where the CUSTOMER and the SUPPLIER sit in
    * the same nation of one region — the canonical CYCLIC join graph:
    * lineitem joins orders→customer→nation on one arm and supplier→
    * nation on the other, and the two arms close the cycle on
    * c_nationkey = s_nationkey. A planner that treats the closing
    * predicate as a post-join filter materializes the full
    * cross-nation join first; keeping it in the supplier join
    * condition (as here) prunes at the last broadcast probe.
    *
    * Exactness: q189 revenue discipline (6dp-rounded terms,
    * DECIMAL(28,6), one final cast). Scale: one fact scan; every dim
    * broadcasts; one |nations|-sized aggregate.
    */
  def localSupplierRevenue(spark: SparkSession, dir: String,
                           region: String = "ASIA",
                           yearStart: String = "1996-01-01"): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(28, 6)
    val ys = lit(yearStart).cast("timestamp")
    val nation = Tables.load(spark, dir, "nation")
    val region_ = Tables.load(spark, dir, "region")
      .filter(col("r_name") === region).select(col("r_regionkey"))
    val regionNations = nation
      .join(broadcast(region_), col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"))
    val orders = Tables.load(spark, dir, "orders")
      .filter(col("o_orderdate") >= ys && col("o_orderdate") < add_months(ys, 12))
      .select(col("o_orderkey"), col("o_custkey"))
    val cust = Tables.load(spark, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey"))
    val supp = Tables.load(spark, dir, "supplier")
      .select(col("s_suppkey"), col("s_nationkey"))
    Tables.load(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"),
        round(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6)
          .cast(dec).as("rev"))
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(regionNations), col("c_nationkey") === col("n_nationkey"))
      // the cycle-closing predicate rides the supplier join itself
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey") &&
        col("s_nationkey") === col("c_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_lines"),
        round(sum(col("rev")).cast("double"), 6).as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  def localSupplierRevenueSql(region: String = "ASIA",
                              yearStart: String = "1996-01-01"): String =
    s"""SELECT n.n_name, COUNT(*) AS n_lines,
       |  ROUND(CAST(SUM(CAST(ROUND(l.l_extendedprice * (1.0 - l.l_discount), 6)
       |    AS DECIMAL(28,6))) AS DOUBLE), 6) AS revenue
       |FROM lineitem l
       |JOIN orders o ON o.o_orderkey = l.l_orderkey
       |JOIN customer c ON c.c_custkey = o.o_custkey
       |JOIN supplier s ON s.s_suppkey = l.l_suppkey
       |  AND s.s_nationkey = c.c_nationkey
       |JOIN nation n ON n.n_nationkey = c.c_nationkey
       |JOIN region r ON r.r_regionkey = n.n_regionkey
       |WHERE r.r_name = '$region'
       |  AND o.o_orderdate >= TIMESTAMP '$yearStart'
       |  AND o.o_orderdate < TIMESTAMP '$yearStart' + INTERVAL 12 MONTH
       |GROUP BY n.n_name
       |ORDER BY SUM(CAST(ROUND(l.l_extendedprice * (1.0 - l.l_discount), 6)
       |  AS DECIMAL(28,6))) DESC, n.n_name""".stripMargin

  /** q254 — cross-nation shipping flows (the TPC-H Q7 shape): yearly
    * revenue between an ordered pair of nations — supplier nation
    * ships, customer nation receives, the two DIRECTIONS kept as
    * separate rows (Q7's `(supp = A AND cust = B) OR (supp = B AND
    * cust = A)` disjunction, generalized to the full nation-pair
    * matrix with the self-flows excluded). The q189 star with BOTH
    * nation dims surviving into the group key.
    *
    * Exactness: q189 revenue discipline. Scale: one fact scan, all
    * dims broadcast, one aggregate on (supp_nation, cust_nation,
    * year) — |nations|²·|years| groups, map-side combinable.
    */
  def nationFlows(spark: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(28, 6)
    val nation = Tables.load(spark, dir, "nation")
    val orders = Tables.load(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        year(col("o_orderdate")).as("o_year"))
    val cust = Tables.load(spark, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey"))
    val supp = Tables.load(spark, dir, "supplier")
      .select(col("s_suppkey"), col("s_nationkey"))
    Tables.load(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"),
        round(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6)
          .cast(dec).as("rev"))
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .filter(col("s_nationkey") =!= col("c_nationkey"))
      .join(broadcast(nation.select(col("n_nationkey").as("s_nationkey"),
        col("n_name").as("supp_nation"))), "s_nationkey")
      .join(broadcast(nation.select(col("n_nationkey").as("c_nationkey"),
        col("n_name").as("cust_nation"))), "c_nationkey")
      .groupBy(col("supp_nation"), col("cust_nation"), col("o_year"))
      .agg(count(lit(1)).as("n_lines"),
        round(sum(col("rev")).cast("double"), 6).as("revenue"))
      .orderBy(col("supp_nation"), col("cust_nation"), col("o_year"))
  }

  val nationFlowsSql: String =
    """SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
      |  CAST(year(o.o_orderdate) AS INT) AS o_year,
      |  COUNT(*) AS n_lines,
      |  ROUND(CAST(SUM(CAST(ROUND(l.l_extendedprice * (1.0 - l.l_discount), 6)
      |    AS DECIMAL(28,6))) AS DOUBLE), 6) AS revenue
      |FROM lineitem l
      |JOIN orders o ON o.o_orderkey = l.l_orderkey
      |JOIN customer c ON c.c_custkey = o.o_custkey
      |JOIN supplier s ON s.s_suppkey = l.l_suppkey
      |JOIN nation sn ON sn.n_nationkey = s.s_nationkey
      |JOIN nation cn ON cn.n_nationkey = c.c_nationkey
      |WHERE s.s_nationkey <> c.c_nationkey
      |GROUP BY sn.n_name, cn.n_name, year(o.o_orderdate)
      |ORDER BY supp_nation, cust_nation, o_year""".stripMargin

  /** q260 — basket-size profile: the order-size distribution (how
    * many lineitems per order) with each size's order share, average
    * basket revenue, and average revenue PER LINE — the retail "are
    * big baskets worth more per item" readout, and the basket-shape
    * prior q185/q187's co-purchase models implicitly depend on
    * (pair counts grow as C(size, 2)).
    *
    * Exactness: sizes and counts are integers; revenue rides the q189
    * discipline; the per-line average divides the same decimal sum by
    * size·n_orders in ONE rounded division. Scale: one l_orderkey
    * aggregate (the q212 shuffle), then a basket-size-bounded
    * aggregate with a 1-row total broadcast back.
    */
  def basketProfile(spark: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(28, 6)
    val perOrder = Tables.load(spark, dir, "lineitem")
      .select(col("l_orderkey"),
        round(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6)
          .cast(dec).as("rev"))
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("basket_size"), sum(col("rev")).as("order_rev"))
    val bySize = perOrder.groupBy(col("basket_size"))
      .agg(count(lit(1)).as("n_orders"), sum(col("order_rev")).as("size_rev"))
    val total = bySize.agg(sum(col("n_orders")).as("n_all"))
    bySize.crossJoin(broadcast(total))
      .select(col("basket_size"), col("n_orders"),
        round(col("n_orders").cast("double") / col("n_all"), 6).as("share"),
        round(col("size_rev").cast("double") / col("n_orders"), 6)
          .as("avg_basket_rev"),
        round(col("size_rev").cast("double") /
          (col("basket_size") * col("n_orders")).cast("double"), 6)
          .as("avg_line_rev"))
      .orderBy(col("basket_size"))
  }

  /** q261 — discount elasticity per brand: the OLS slope of line
    * quantity on discount percent — "does discounting actually move
    * volume for this brand, and how much per point" — with intercept
    * (base quantity at zero discount) and r². The q102 groupwise-OLS
    * discipline transplanted to the retail fact table: x = discount
    * in integer PERCENT (the data's discounts are exact hundredths,
    * so 100·d rounds to an exact integer-valued double on both
    * engines — no epsilon anywhere), y = quantity.
    *
    * Exactness: per-term 6dp rounds into DECIMAL(28,6) accumulators
    * for all five sums (q102/q103 convention), one shared double
    * chain for the derived stats, NULLIF guards for degenerate
    * brands. Scale: one fact scan with the part dim broadcast, one
    * |brands|-sized aggregate — partial+final all the way.
    */
  def discountElasticity(spark: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(28, 6)
    def dsum(c: Column): Column = sum(round(c, 6).cast(dec)).cast("double")
    val li = Tables.load(spark, dir, "lineitem")
      .select(col("l_partkey"),
        round(col("l_discount") * 100, 0).as("x"), col("l_quantity").as("y"))
    val part = Tables.load(spark, dir, "part")
      .select(col("p_partkey"), col("p_brand"))
    val stats = li.join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n"),
        dsum(col("x")).as("sx"), dsum(col("y")).as("sy"),
        dsum(col("x") * col("x")).as("sxx"),
        dsum(col("x") * col("y")).as("sxy"),
        dsum(col("y") * col("y")).as("syy"))
    stats
      .withColumn("den", nullif(col("n") * col("sxx") - col("sx") * col("sx"),
        lit(0.0)))
      .withColumn("num", col("n") * col("sxy") - col("sx") * col("sy"))
      .select(col("p_brand"), col("n"),
        round(col("num") / col("den"), 6).as("slope_per_pct"),
        round((col("sy") - (col("num") / col("den")) * col("sx")) / col("n"), 6)
          .as("base_qty"),
        round((col("num") * col("num")) /
          nullif(col("den") * (col("n") * col("syy") - col("sy") * col("sy")),
            lit(0.0)), 6).as("r2"))
      .orderBy(col("p_brand"))
  }

  val discountElasticitySql: String =
    """WITH pts AS (
      |  SELECT p.p_brand, ROUND(l.l_discount * 100, 0) AS x,
      |    l.l_quantity AS y
      |  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      |), agg AS (
      |  SELECT p_brand, COUNT(*) AS n,
      |    CAST(SUM(CAST(ROUND(x, 6) AS DECIMAL(28,6))) AS DOUBLE) AS sx,
      |    CAST(SUM(CAST(ROUND(y, 6) AS DECIMAL(28,6))) AS DOUBLE) AS sy,
      |    CAST(SUM(CAST(ROUND(x * x, 6) AS DECIMAL(28,6))) AS DOUBLE) AS sxx,
      |    CAST(SUM(CAST(ROUND(x * y, 6) AS DECIMAL(28,6))) AS DOUBLE) AS sxy,
      |    CAST(SUM(CAST(ROUND(y * y, 6) AS DECIMAL(28,6))) AS DOUBLE) AS syy
      |  FROM pts GROUP BY 1
      |)
      |SELECT p_brand, CAST(n AS BIGINT) AS n,
      |  ROUND((n * sxy - sx * sy) / NULLIF(n * sxx - sx * sx, 0.0), 6)
      |    AS slope_per_pct,
      |  ROUND((sy - ((n * sxy - sx * sy) / NULLIF(n * sxx - sx * sx, 0.0))
      |      * sx) / n, 6) AS base_qty,
      |  ROUND(((n * sxy - sx * sy) * (n * sxy - sx * sy))
      |    / NULLIF((n * sxx - sx * sx)
      |        * (n * syy - sy * sy), 0.0), 6) AS r2
      |FROM agg ORDER BY p_brand""".stripMargin

  val basketProfileSql: String =
    """WITH per_order AS (
      |  SELECT l_orderkey, COUNT(*) AS basket_size,
      |    SUM(CAST(ROUND(l_extendedprice * (1.0 - l_discount), 6)
      |      AS DECIMAL(28,6))) AS order_rev
      |  FROM lineitem GROUP BY l_orderkey
      |), by_size AS (
      |  SELECT basket_size, COUNT(*) AS n_orders,
      |    SUM(order_rev) AS size_rev
      |  FROM per_order GROUP BY basket_size
      |), total AS (SELECT SUM(n_orders) AS n_all FROM by_size)
      |SELECT CAST(basket_size AS BIGINT) AS basket_size,
      |  CAST(n_orders AS BIGINT) AS n_orders,
      |  ROUND(CAST(n_orders AS DOUBLE) / t.n_all, 6) AS share,
      |  ROUND(CAST(size_rev AS DOUBLE) / n_orders, 6) AS avg_basket_rev,
      |  ROUND(CAST(size_rev AS DOUBLE)
      |    / CAST(basket_size * n_orders AS DOUBLE), 6) AS avg_line_rev
      |FROM by_size, total t
      |ORDER BY basket_size""".stripMargin

  /** q265 — product-line profit by supplier nation and order year (the
    * TPC-H Q9 shape): for every part whose name carries a product
    * token, profit = revenue − cost, attributed to the SUPPLIER's
    * nation and the ORDER's year. The classic five-way snowflake where
    * the part filter must reach the scan (it prunes ~3/4 of the fact
    * after the broadcast probe) and three dims broadcast while the
    * orders arm joins on the fact's own key. This corpus has no
    * partsupp table, so cost is the standing proxy
    * 0.6 · p_retailprice · l_quantity (same shape: a part-side unit
    * cost times the line quantity).
    *
    * Exactness: revenue and cost are each 6dp-rounded per line and
    * cast DECIMAL(28,6); the difference and the group sums are exact
    * decimal arithmetic, one final double cast (q189 discipline —
    * identical left-assoc double chains feed the rounds on both
    * engines). Scale: one fact scan; part/supplier/nation broadcast;
    * the orders join shuffles on l_orderkey only; final aggregate is
    * |nations|·|years| groups, map-side combinable.
    */
  def productProfit(spark: SparkSession, dir: String,
                    nameToken: String = "bolt"): DataFrame = {
    val dec = DecimalType(28, 6)
    val part = Tables.load(spark, dir, "part")
      .filter(col("p_name").contains(nameToken))
      .select(col("p_partkey"), col("p_retailprice"))
    val supp = Tables.load(spark, dir, "supplier")
      .select(col("s_suppkey"), col("s_nationkey"))
    val nation = Tables.load(spark, dir, "nation")
      .select(col("n_nationkey"), col("n_name"))
    val orders = Tables.load(spark, dir, "orders")
      .select(col("o_orderkey"), year(col("o_orderdate")).as("o_year"))
    Tables.load(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        col("l_quantity"), col("l_extendedprice"), col("l_discount"))
      .join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .withColumn("profit",
        round(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6)
          .cast(dec) -
        round(lit(0.6) * col("p_retailprice") * col("l_quantity"), 6)
          .cast(dec))
      .groupBy(col("n_name").as("nation"), col("o_year"))
      .agg(count(lit(1)).as("n_lines"),
        round(sum(col("profit")).cast("double"), 6).as("sum_profit"))
      .orderBy(col("nation"), col("o_year").desc)
  }

  def productProfitSql(nameToken: String = "bolt"): String =
    s"""SELECT n.n_name AS nation,
       |  CAST(year(o.o_orderdate) AS INT) AS o_year,
       |  COUNT(*) AS n_lines,
       |  ROUND(CAST(SUM(
       |    CAST(ROUND(l.l_extendedprice * (1.0 - l.l_discount), 6)
       |      AS DECIMAL(28,6))
       |    - CAST(ROUND(0.6 * p.p_retailprice * l.l_quantity, 6)
       |      AS DECIMAL(28,6))) AS DOUBLE), 6) AS sum_profit
       |FROM lineitem l
       |JOIN part p ON p.p_partkey = l.l_partkey
       |JOIN supplier s ON s.s_suppkey = l.l_suppkey
       |JOIN nation n ON n.n_nationkey = s.s_nationkey
       |JOIN orders o ON o.o_orderkey = l.l_orderkey
       |WHERE p.p_name LIKE '%$nameToken%'
       |GROUP BY n.n_name, year(o.o_orderdate)
       |ORDER BY nation, o_year DESC""".stripMargin

  /** q266 — important supplier-part positions (the TPC-H Q11 shape):
    * per (supplier, part) pair observed in the fact, its total
    * revenue, kept only when the pair's value exceeds a FRACTION of
    * the global total — Q11's correlated HAVING over a global scalar
    * subquery, decorrelated into a 1-row aggregate broadcast against
    * the pair-level aggregate (the q212/q218 discipline: the global
    * threshold rides a cross join of a 1-row frame, never a rescan).
    *
    * Exactness: the threshold test is EXACT RATIONAL — "value above
    * `mult`× the MEAN pair value" is applied as
    * `value · n_pairs > mult · total` in DECIMAL/integer arithmetic,
    * so no double boundary exists at all (a pair sitting exactly on
    * the threshold is excluded identically on both engines). The
    * mean-relative form is SCALE-INVARIANT: an absolute fraction of
    * the total (TPC-H's 0.0001/SF knob) empties or floods as the
    * pair population grows — caught by the sf0.1 sweep. Scale: one
    * fact scan, one (supp, part)-keyed shuffle (the dominant cost,
    * unavoidable — it IS the output grain), a 1-row broadcast; no
    * second scan for the total (rollup of the pair aggregate).
    */
  def importantPositions(spark: SparkSession, dir: String,
                         mult: Long = 3L): DataFrame = {
    val dec = DecimalType(28, 6)
    // materialize the pair aggregate once: the global total is a
    // rollup of it, and without the cut Spark re-reads the whole fact
    // for the 1-row aggregate (PlansSpec pins the single scan)
    val pairs = graft.Iterate.cut(Tables.load(spark, dir, "lineitem")
      .select(col("l_suppkey"), col("l_partkey"),
        round(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6)
          .cast(dec).as("rev"))
      .groupBy(col("l_suppkey"), col("l_partkey"))
      .agg(sum(col("rev")).as("value")))
    val total = pairs.agg(sum(col("value")).as("total"),
      count(lit(1)).as("np"))
    pairs.crossJoin(broadcast(total))
      .filter(col("value") * col("np") > lit(mult) * col("total"))
      .select(col("l_suppkey"), col("l_partkey"),
        round(col("value").cast("double"), 6).as("value"))
      .orderBy(col("value").desc, col("l_suppkey"), col("l_partkey"))
  }

  def importantPositionsSql(mult: Long = 3L): String =
    s"""WITH pairs AS (
       |  SELECT l_suppkey, l_partkey,
       |    SUM(CAST(ROUND(l_extendedprice * (1.0 - l_discount), 6)
       |      AS DECIMAL(28,6))) AS value
       |  FROM lineitem GROUP BY 1, 2
       |), tot AS (SELECT SUM(value) AS total, COUNT(*) AS np FROM pairs)
       |SELECT l_suppkey, l_partkey,
       |  ROUND(CAST(value AS DOUBLE), 6) AS value
       |FROM pairs, tot
       |WHERE value * np > $mult * total
       |ORDER BY value DESC, l_suppkey, l_partkey""".stripMargin

  /** q267 — shipping-speed / order-priority matrix (the TPC-H Q12
    * shape): lines bucketed by ship lag (fast ≤ the cutoff vs slow),
    * with conditional counts of critical-priority (1-URGENT/2-HIGH)
    * versus other orders per bucket — Q12's CASE-inside-SUM
    * conditional aggregation, which the planner should fold into ONE
    * pass over the joined fact (no per-priority re-scan). The join
    * carries only (orderkey → priority), so the orders arm projects
    * two columns.
    *
    * Exactness: all counts are exact integers; the critical share is
    * one 6dp-rounded double quotient. Scale: one fact scan, one
    * orderkey shuffle join, a 2-row aggregate.
    */
  def shipModePriority(spark: SparkSession, dir: String,
                       fastDays: Int = 30): DataFrame = {
    val orders = Tables.load(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
    val critical = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    Tables.load(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_shipdate"))
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .withColumn("speed_bucket",
        when(expr("datediff(l_shipdate, o_orderdate)") <= fastDays,
          lit("FAST")).otherwise(lit("SLOW")))
      .groupBy(col("speed_bucket"))
      .agg(
        sum(when(critical, 1L).otherwise(0L)).as("critical_lines"),
        sum(when(critical, 0L).otherwise(1L)).as("other_lines"))
      .select(col("speed_bucket"), col("critical_lines"), col("other_lines"),
        round(col("critical_lines").cast("double") /
          (col("critical_lines") + col("other_lines")), 6)
          .as("critical_share"))
      .orderBy(col("speed_bucket"))
  }

  def shipModePrioritySql(fastDays: Int = 30): String =
    s"""WITH joined AS (
       |  SELECT CASE WHEN datediff('day', o.o_orderdate, l.l_shipdate)
       |      <= $fastDays THEN 'FAST' ELSE 'SLOW' END AS speed_bucket,
       |    CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
       |      THEN 1 ELSE 0 END AS crit
       |  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
       |)
       |SELECT speed_bucket,
       |  CAST(SUM(crit) AS BIGINT) AS critical_lines,
       |  CAST(SUM(1 - crit) AS BIGINT) AS other_lines,
       |  ROUND(CAST(SUM(crit) AS DOUBLE) / COUNT(*), 6) AS critical_share
       |FROM joined GROUP BY speed_bucket
       |ORDER BY speed_bucket""".stripMargin

  /** q268 — customer order-count distribution (the TPC-H Q13 shape):
    * how many customers placed exactly k qualifying orders, INCLUDING
    * the zero bucket — the left-outer-join-then-double-aggregate
    * pattern whose whole point is that an inner join would silently
    * drop never-ordered customers. The order-side filter (priority
    * not left unspecified — Q13's `comment NOT LIKE '%special%
    * requests%'` analog) lives in the JOIN CONDITION, not a WHERE,
    * because a post-join WHERE on an outer join would turn it inner.
    *
    * Exactness: pure integer counts end-to-end. Scale: the first
    * aggregate shuffles on c_custkey (customer-grain — the big one);
    * the second is |distinct k| groups, map-side combinable. At 100 TB
    * the orders→customer join is a shuffle join on custkey and the
    * left-outer preserves customer partitioning into the first agg.
    */
  def custOrderDistribution(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.load(spark, dir, "customer").select(col("c_custkey"))
    val orders = Tables.load(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderpriority"))
    cust.join(orders,
        col("c_custkey") === col("o_custkey") &&
          col("o_orderpriority") =!= "4-NOT SPECIFIED",
        "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  val custOrderDistributionSql: String =
    """WITH per_cust AS (
      |  SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
      |  FROM customer c
      |  LEFT JOIN orders o ON o.o_custkey = c.c_custkey
      |    AND o.o_orderpriority <> '4-NOT SPECIFIED'
      |  GROUP BY c.c_custkey
      |)
      |SELECT CAST(c_count AS BIGINT) AS c_count,
      |  COUNT(*) AS custdist
      |FROM per_cust GROUP BY c_count
      |ORDER BY custdist DESC, c_count DESC""".stripMargin

  /** q324 — decile boundary rows of the global price ranking, through
    * [[Skew.globalRank]]: every lineitem ranked corpus-wide by
    * (price DESC, full key tiebreak) WITHOUT a single-partition
    * window — range exchange + partition-offset arithmetic — and the
    * relation keeps only rank 1 and the ten decile-boundary ranks.
    * The oracle IS a plain `row_number() OVER (ORDER BY ...)`: any
    * rank the distributed assembly gets wrong shifts a boundary row
    * and fails the hash — the end-to-end proof that the scale path
    * and the single-reducer window are the same function.
    *
    * Scale: the ranking sorts in parallel across range partitions
    * (driver traffic = one (count, min-id) pair per partition); the
    * boundary filter is a broadcast 1-row count. This is the
    * replacement the q42/q79/q90 plan notes promise for their
    * acknowledged global-sort tails.
    */
  def priceRankBoundaries(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
    val ranked = Skew.globalRank(li,
      Seq(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber")))
    val total = li.agg(count(lit(1)).as("n"))
    val boundaries = (1 to 10)
      .map(i => s"($i * n) div 10").mkString(", ")
    ranked.crossJoin(broadcast(total))
      .filter(col("rank") === 1 || expr(s"rank IN ($boundaries)"))
      .select(col("rank"), col("l_orderkey"), col("l_linenumber"),
        col("l_extendedprice"),
        round(col("rank").cast("double") / col("n").cast("double"), 6)
          .as("percentile"))
      .orderBy(col("rank"))
  }

  val priceRankBoundariesSql: String = {
    val boundaries = (1 to 10).map(i => s"($i * n) // 10").mkString(", ")
    s"""WITH ranked AS (
      |  SELECT l_orderkey, l_linenumber, l_extendedprice,
      |    CAST(row_number() OVER (ORDER BY l_extendedprice DESC,
      |      l_orderkey, l_linenumber) AS BIGINT) AS rank
      |  FROM lineitem
      |), total AS (SELECT COUNT(*) AS n FROM lineitem)
      |SELECT rank, l_orderkey, l_linenumber, l_extendedprice,
      |  ROUND(CAST(rank AS DOUBLE) / CAST(n AS DOUBLE), 6) AS percentile
      |FROM ranked, total
      |WHERE rank = 1 OR rank IN ($boundaries)
      |ORDER BY rank""".stripMargin
  }

  /** Per (l_partkey, epoch week of l_shipdate) net revenue `rev` in
    * integer cents. */
  private def weeklyPartRevenue(spark: SparkSession, dir: String): DataFrame = {
    val weekExpr = expr(
      "(unix_micros(cast(l_shipdate as timestamp)) - " +
        "pmod(unix_micros(cast(l_shipdate as timestamp)), 86400000000)) " +
        "div 86400000000 div 7")
    Tables.load(spark, dir, "lineitem")
      .select(col("l_partkey"), weekExpr.as("week"),
        round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100,
          0).cast("long").as("cents"))
      .groupBy(col("l_partkey"), col("week"))
      .agg(sum(col("cents")).as("rev"))
  }

  /** The SQL twin of [[weeklyPartRevenue]]. */
  private val weeklyRevenueCte: String =
    """weekly AS (
      |  SELECT l_partkey, (epoch_ms(l_shipdate) // 86400000) // 7 AS week,
      |    CAST(SUM(CAST(ROUND(l_extendedprice * (1.0 - l_discount) * 100,
      |      0) AS BIGINT)) AS BIGINT) AS rev
      |  FROM lineitem GROUP BY 1, 2
      |)""".stripMargin

  /** The SQL twin of [[weeklyTopParts]] (`top`). */
  private def weeklyTopCtes(topK: Int): String =
    s"""$weeklyRevenueCte, top AS (
      |  SELECT week, l_partkey, rank FROM (
      |    SELECT week, l_partkey,
      |      row_number() OVER (PARTITION BY week
      |        ORDER BY rev DESC, l_partkey) AS rank
      |    FROM weekly
      |  ) WHERE rank <= $topK
      |)""".stripMargin

  /** Each week's `topK` parts by [[weeklyPartRevenue]] with their
    * `rank`, checkpointed. */
  private def weeklyTopParts(spark: SparkSession, dir: String,
                             topK: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("week"))
      .orderBy(col("rev").desc, col("l_partkey"))
    graft.Iterate.cut(
      weeklyPartRevenue(spark, dir).withColumn("rank", row_number().over(w))
        .filter(col("rank") <= topK)
        .select(col("week"), col("l_partkey"), col("rank")))
  }

  /** q373 — weekly trending parts: per ship week, the top-5 parts by
    * week-over-week discounted-revenue GROWTH (consecutive weeks
    * only, joined explicitly on week−1 so a gap week never fakes a
    * spike) — the "what's suddenly moving" leaderboard every demand
    * and curation dashboard carries, and the ranking q205's ABC/XYZ
    * classes deliberately smooth away.
    *
    * Exactness: revenue is integer cents (one rounded double product
    * per line, then BIGINT sums); growth is a single rounded division
    * of two exact cents totals; the top-5 is integer-rank tiebroken
    * by part key.
    *
    * Scale: one (part, week) aggregate (map-side combine), a
    * self-join on the same key shifted one week (co-partitioned — no
    * extra shuffle shape), and a per-week rank ≤ 5 that collapses
    * through a PARTIAL WindowGroupLimit before the week exchange.
    */
  def weeklyTrendingParts(spark: SparkSession, dir: String,
                          topK: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val weekly = weeklyPartRevenue(spark, dir)
    val grown = weekly.as("cur")
      .join(weekly.as("prev"),
        col("cur.l_partkey") === col("prev.l_partkey") &&
          col("cur.week") === col("prev.week") + 1)
      .select(col("cur.week").as("week"), col("cur.l_partkey").as("l_partkey"),
        col("prev.rev").as("rev_prev_cents"), col("cur.rev").as("rev_cents"))
      .withColumn("growth",
        round(col("rev_cents").cast("double") /
          col("rev_prev_cents").cast("double"), 6))
    val w = Window.partitionBy(col("week"))
      .orderBy(col("growth").desc, col("l_partkey"))
    grown.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("week"), col("rank"), col("l_partkey"),
        col("rev_prev_cents"), col("rev_cents"), col("growth"))
      .orderBy(col("week"), col("rank"))
  }

  def weeklyTrendingPartsSql(topK: Int = 5): String =
    s"""WITH $weeklyRevenueCte, grown AS (
       |  SELECT cur.week AS week, cur.l_partkey AS l_partkey,
       |    prev.rev AS rev_prev_cents, cur.rev AS rev_cents,
       |    ROUND(CAST(cur.rev AS DOUBLE) / CAST(prev.rev AS DOUBLE), 6)
       |      AS growth
       |  FROM weekly cur JOIN weekly prev
       |    ON cur.l_partkey = prev.l_partkey AND cur.week = prev.week + 1
       |)
       |SELECT week, rank, l_partkey, rev_prev_cents, rev_cents, growth
       |FROM (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY week
       |    ORDER BY growth DESC, l_partkey) AS INT) AS rank
       |  FROM grown
       |) WHERE rank <= $topK
       |ORDER BY week, rank""".stripMargin

  /** q379 — incremental view maintenance WITH RETRACTIONS for the q01
    * pricing summary: the stored per-group partials (decimal sums +
    * count) absorb a signed CDC delta — inserts (+1) AND deletes (−1)
    * — and the merged state must equal a FULL REBUILD on the post-CDC
    * corpus, hash-graded against that rebuild (q361's merge ≡ rebuild
    * contract, extended from append-only to retractable). This is the
    * maintenance path every materialized aggregate needs at 100 TB:
    * re-aggregating petabytes nightly because 0.1% of rows changed is
    * the failure mode, and AVG survives deletion only because the
    * state is (Σ, n), never the average itself.
    *
    * Deterministic CDC fixture: base = l_orderkey % 10 ≠ 0; inserts =
    * % 10 = 0; deletes = base rows with % 7 = 0. DECIMAL addition is
    * exact and associative, so merged ≡ rebuild bit-for-bit; a group
    * retracted to n = 0 drops out (matching the rebuild, which never
    * had it). Scale: partials are map-side-combinable aggregates;
    * the merge touches only |groups| rows.
    */
  def ivmPricingSummary(spark: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(18, 6)
    val li = Tables.load(spark, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .select(col("l_returnflag"), col("l_linestatus"), col("l_quantity"),
        col("l_extendedprice"), col("l_discount"), col("l_orderkey"))
    def partials(df: DataFrame): DataFrame =
      df.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity").cast(dec) * col("sign")).as("p_qty"),
          sum(col("l_extendedprice").cast(dec) * col("sign")).as("p_base"),
          sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast(dec) * col("sign")).as("p_disc"),
          sum(col("sign").cast("long")).as("p_n"))
    // the stored view: base partials, frozen once (the q361 idiom)
    val base = graft.Iterate.cut(partials(
      li.filter(col("l_orderkey") % 10 =!= 0).withColumn("sign", lit(1))))
    val delta = partials(
      li.filter(col("l_orderkey") % 10 === 0).withColumn("sign", lit(1))
        .unionByName(li.filter(col("l_orderkey") % 10 =!= 0 &&
          col("l_orderkey") % 7 === 0).withColumn("sign", lit(-1))))
    base.unionByName(delta)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("p_qty")).as("m_qty"), sum(col("p_base")).as("m_base"),
        sum(col("p_disc")).as("m_disc"), sum(col("p_n")).as("n"))
      .filter(col("n") > 0) // retracted-to-empty groups drop out
      .select(col("l_returnflag"), col("l_linestatus"),
        col("m_qty").cast("double").as("sum_qty"),
        col("m_base").cast("double").as("sum_base_price"),
        col("m_disc").cast("double").as("sum_disc_price"),
        (col("m_qty").cast("double") / col("n").cast("double"))
          .as("avg_qty"),
        col("n").as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** Rebuild oracle: q01's body on the post-CDC corpus — the merge ≡
    * rebuild contract, graded every round. */
  val ivmPricingSummarySql: String =
    """SELECT l_returnflag, l_linestatus,
      | CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
      | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
      |   AS sum_base_price,
      | CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)))
      |   AS DOUBLE) AS sum_disc_price,
      | CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)
      |   / COUNT(l_quantity) AS avg_qty,
      | COUNT(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      |  AND (l_orderkey % 10 = 0 OR l_orderkey % 7 <> 0)
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** Shared guard for group-quadratic pair joins (round-12 fix for
    * VERDICT r11 "What's wrong" #2 — the [[graft.operators.Graph
    * .basketCappedPairs]] discipline generalized): cap each group to
    * its first `cap` members by a deterministic rank window
    * (memberCol ascending), then self-join a<b within the group. The
    * pair count is bounded by cap²·|groups| at ANY scale — a hot
    * group (10k suppliers on one commodity part, one mega-nation)
    * can no longer go quadratic. Callers state the cap in their
    * oracle SQL with the same rank window, and RobustOpsSpec proves
    * capped == uncapped on TPC-H shapes (where groups sit far below
    * the cap) plus deterministic truncation on a synthetic hot group.
    * Returns the join aliased `a`/`b`; select via col("a.x").
    */
  private[graft] def cappedGroupPairs(df: DataFrame, groupCol: String,
      memberCol: String, cap: Int): DataFrame = {
    val w = Window.partitionBy(col(groupCol)).orderBy(col(memberCol))
    val capped = df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= cap).drop("__rn")
    capped.as("a").join(capped.as("b"),
      col(s"a.$groupCol") === col(s"b.$groupCol") &&
        col(s"a.$memberCol") < col(s"b.$memberCol"))
  }

  /** q384 — Bradley–Terry strength scores from pairwise preferences:
    * suppliers "play" each other on every part both supply (the
    * cheaper mean price wins), and three unrolled
    * minorize–maximize iterations of the BT update
    * s_i ← W_i / Σ_j n_ij/(s_i + s_j) turn the win/loss matrix into a
    * single strength ranking — the preference-aggregation operator
    * behind every pairwise-comparison leaderboard (human preference
    * data, A/B duels, ranker evaluation). A win RATE ranks wrong when
    * schedules differ (beating only weak opponents inflates it); BT
    * corrects for opponent strength, which is the entire point.
    *
    * Exactness: wins/comparisons are integers off the part-keyed
    * supplier pair join; each MM iteration's opponent sum accumulates
    * 9dp-rounded terms in DECIMAL(28,9) (order-independent — the
    * rounding is identical on both engines, so the fixpoint path is
    * too); scores stay unnormalized (BT is scale-invariant; no
    * order-dependent normalizing sum enters). The oracle unrolls the
    * same three iterations as successive CTEs (the q282 discipline).
    *
    * Scale: one (supplier, part) mean aggregate, one part-keyed pair
    * join routed through [[cappedGroupPairs]] (first `memberCap`
    * suppliers per part by suppkey rank — TPC-H has 4/part so the cap
    * never binds there, proven in RobustOpsSpec, but a hot commodity
    * part stays cap²-bounded), then iterations over a
    * |suppliers|²-bounded pair list joined to a |suppliers|-row score
    * frame — the data is touched once.
    */
  def bradleyTerry(spark: SparkSession, dir: String,
                   iters: Int = 3, memberCap: Int = 64): DataFrame = {
    val dec9 = org.apache.spark.sql.types.DecimalType(28, 9)
    val means = Tables.load(spark, dir, "lineitem")
      .groupBy(col("l_suppkey"), col("l_partkey"))
      .agg((decSum(col("l_extendedprice")) / count(lit(1))).as("m"))
    // i < j once, both directions via explode: halves the join output
    // (the relation is symmetric; `pairs` below is identical)
    val duels = cappedGroupPairs(means, "l_partkey", "l_suppkey", memberCap)
      .filter(col("a.m") =!= col("b.m"))
      .select(explode(array(
        struct(col("a.l_suppkey").as("i"), col("b.l_suppkey").as("j"),
          (col("a.m") < col("b.m")).cast("long").as("win")),
        struct(col("b.l_suppkey").as("i"), col("a.l_suppkey").as("j"),
          (col("b.m") < col("a.m")).cast("long").as("win")))).as("d"))
      .select(col("d.i").as("i"), col("d.j").as("j"), col("d.win").as("win"))
    val pairs = graft.Iterate.cut(duels.groupBy(col("i"), col("j"))
      .agg(count(lit(1)).as("n_ij"), sum(col("win")).as("w_ij")))
    val wins = pairs.groupBy(col("i"))
      .agg(sum(col("w_ij")).as("w"), sum(col("n_ij")).as("n_comp"))
    var scores = wins.select(col("i"), lit(1.0).as("s"))
    (1 to iters).foreach { _ =>
      val opp = pairs
        .join(scores.select(col("i"), col("s").as("s_i")), "i")
        .join(scores.select(col("i").as("j"), col("s").as("s_j")), "j")
        .groupBy(col("i"))
        .agg(sum(round(col("n_ij").cast("double") /
            (col("s_i") + col("s_j")), 9).cast(dec9))
          .cast("double").as("den"))
      scores = graft.Iterate.cut(
        wins.join(opp, "i")
          .select(col("i"),
            (col("w").cast("double") / col("den")).as("s")))
    }
    wins.join(scores, "i")
      .select(col("i").as("s_suppkey"), col("n_comp").as("n_comparisons"),
        col("w").as("wins"), round(col("s"), 6).as("bt_score"),
        round(col("w").cast("double") / col("n_comp").cast("double"), 6)
          .as("raw_win_rate"))
      .orderBy(col("s_suppkey"))
  }

  def bradleyTerrySql(iters: Int = 3, memberCap: Int = 64): String = {
    def iter(prev: String, cur: String): String =
      s"""$cur AS (
         |  SELECT w.i, CAST(w.w AS DOUBLE) / CAST(SUM(CAST(ROUND(
         |      CAST(p.n_ij AS DOUBLE) / (si.s + sj.s), 9)
         |    AS DECIMAL(28,9))) AS DOUBLE) AS s
         |  FROM pairs p
         |  JOIN $prev si ON si.i = p.i
         |  JOIN $prev sj ON sj.i = p.j
         |  JOIN wins w ON w.i = p.i
         |  GROUP BY w.i, w.w
         |)""".stripMargin
    val chain = (1 to iters)
      .map(t => iter(s"sc${t - 1}", s"sc$t")).mkString(",\n")
    s"""WITH means AS (
       |  SELECT l_suppkey, l_partkey, m FROM (
       |    SELECT l_suppkey, l_partkey,
       |      CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
       |        / COUNT(*) AS m,
       |      row_number() OVER (PARTITION BY l_partkey
       |        ORDER BY l_suppkey) AS rn
       |    FROM lineitem GROUP BY 1, 2
       |  ) WHERE rn <= $memberCap
       |), duels AS (
       |  SELECT a.l_suppkey AS i, b.l_suppkey AS j,
       |    CASE WHEN a.m < b.m THEN 1 ELSE 0 END AS win
       |  FROM means a JOIN means b
       |    ON a.l_partkey = b.l_partkey AND a.l_suppkey <> b.l_suppkey
       |      AND a.m <> b.m
       |), pairs AS (
       |  SELECT i, j, CAST(COUNT(*) AS BIGINT) AS n_ij,
       |    CAST(SUM(win) AS BIGINT) AS w_ij
       |  FROM duels GROUP BY 1, 2
       |), wins AS (
       |  SELECT i, CAST(SUM(w_ij) AS BIGINT) AS w,
       |    CAST(SUM(n_ij) AS BIGINT) AS n_comp
       |  FROM pairs GROUP BY 1
       |), sc0 AS (
       |  SELECT i, 1.0 AS s FROM wins
       |),
       |$chain
       |SELECT w.i AS s_suppkey, w.n_comp AS n_comparisons, w.w AS wins,
       |  ROUND(sc.s, 6) AS bt_score,
       |  ROUND(CAST(w.w AS DOUBLE) / CAST(w.n_comp AS DOUBLE), 6)
       |    AS raw_win_rate
       |FROM wins w JOIN sc$iters sc ON sc.i = w.i
       |ORDER BY s_suppkey""".stripMargin
  }

  /** q386 — ship-SLA attainment per order priority with WILSON 95%
    * bounds: the share of lineitems shipped within `slaDays` of the
    * order date, interval-scored the way a proportion should be —
    * Wilson's score interval stays inside [0,1], never collapses to
    * ±0 at p̂ ∈ {0,1}, and is honest at small n, all of which the
    * naive ±z√(p̂q̂/n) gets wrong. This is the readout an SLA
    * dashboard quotes per segment, and the uncertainty column is what
    * stops a 12-item priority class from "beating" a 120k-item one on
    * a lucky week.
    *
    * Exactness: hit counts are integer day arithmetic
    * (ship_day − order_day ≤ slaDays, both days floor-division
    * epoch days); the Wilson chain is one fixed double expression off
    * (k, n, z²) with z a 6dp literal — identical IEEE results both
    * engines, rounded at 6dp.
    *
    * Scale: one fact-dim join (orders broadcast at dimension scale;
    * the same key shuffle every fact-dim join pays at 100 TB) + one
    * |priorities|-row aggregate.
    */
  def slaAttainmentWilson(spark: SparkSession, dir: String,
                          slaDays: Int = 30,
                          z: Double = 1.959964): DataFrame = {
    import Temporal.dayOf
    val li = Tables.load(spark, dir, "lineitem")
      .select(col("l_orderkey"), expr(dayOf("l_shipdate")).as("ship_day"))
    val o = Tables.load(spark, dir, "orders")
      .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"),
        expr(dayOf("o_orderdate")).as("order_day"))
    val z2 = z * z
    val agg = li.join(o, "l_orderkey")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        sum((col("ship_day") - col("order_day") <= slaDays).cast("long"))
          .as("k"))
      .withColumn("nn", col("n").cast("double"))
      .withColumn("p", col("k").cast("double") / col("nn"))
      .withColumn("center",
        (col("p") + lit(z2) / (lit(2.0) * col("nn"))) /
          (lit(1.0) + lit(z2) / col("nn")))
      .withColumn("half",
        (lit(z) * sqrt(col("p") * (lit(1.0) - col("p")) / col("nn") +
          lit(z2) / (lit(4.0) * col("nn") * col("nn")))) /
          (lit(1.0) + lit(z2) / col("nn")))
    agg.select(col("o_orderpriority"), col("n"), col("k"),
        round(col("p"), 6).as("attainment"),
        round(col("center") - col("half"), 6).as("wilson_lo"),
        round(col("center") + col("half"), 6).as("wilson_hi"))
      .orderBy(col("o_orderpriority"))
  }

  def slaAttainmentWilsonSql(slaDays: Int = 30,
                             z: Double = 1.959964): String = {
    val z2 = z * z
    s"""WITH agg AS (
       |  SELECT o.o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(CASE WHEN epoch_ms(l.l_shipdate) // 86400000
       |        - epoch_ms(o.o_orderdate) // 86400000 <= $slaDays
       |      THEN 1 ELSE 0 END) AS BIGINT) AS k
       |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
       |  GROUP BY 1
       |), w AS (
       |  SELECT o_orderpriority, n, k, CAST(n AS DOUBLE) AS nn,
       |    CAST(k AS DOUBLE) / CAST(n AS DOUBLE) AS p
       |  FROM agg
       |), c AS (
       |  SELECT *,
       |    (p + $z2 / (2.0 * nn)) / (1.0 + $z2 / nn) AS center,
       |    ($z * sqrt(p * (1.0 - p) / nn + $z2 / (4.0 * nn * nn)))
       |      / (1.0 + $z2 / nn) AS half
       |  FROM w
       |)
       |SELECT o_orderpriority, n, k,
       |  ROUND(p, 6) AS attainment,
       |  ROUND(center - half, 6) AS wilson_lo,
       |  ROUND(center + half, 6) AS wilson_hi
       |FROM c
       |ORDER BY o_orderpriority""".stripMargin
  }

  /** q388 — Laspeyres / Paasche / Fisher price indices per part type
    * and ship month: the canonical "did prices move, holding the
    * basket fixed" readout. Laspeyres weights month-t prices by
    * BASE-month quantities (answering "what would the old basket cost
    * now"), Paasche by CURRENT quantities, Fisher is their geometric
    * mean — the three every price-level dashboard quotes, computed on
    * the matched sample (parts present in both base and current
    * month, the standard matched-model index). q261 estimates price
    * ELASTICITY; this tracks the LEVEL.
    *
    * Exactness: per-(part, month) average prices are decimal-sum /
    * integer-count doubles; every p·q product rounds at 6dp before
    * its DECIMAL(28,6) sum; each index is one rounded division
    * (Fisher one rounded sqrt of the two unrounded ratios).
    *
    * Scale: one (part, month) aggregate over the fact scan, a
    * part-keyed join to the base month (co-partitioned), one
    * (type, month) aggregate — nothing after the first shuffle
    * exceeds catalog × months.
    */
  def priceIndices(spark: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(28, 6)
    val li = Tables.load(spark, dir, "lineitem")
      .withColumn("ym", expr(
        "year(l_shipdate) * 100 + month(l_shipdate)"))
    val pm = li.groupBy(col("l_partkey"), col("ym"))
      .agg((decSum(col("l_extendedprice")) / count(lit(1))).as("p"),
        sum(col("l_quantity").cast(dec)).cast("double").as("q"))
    val baseYm = pm.agg(min(col("ym")).as("base_ym"))
    val base = pm.crossJoin(broadcast(baseYm))
      .filter(col("ym") === col("base_ym"))
      .select(col("l_partkey"), col("p").as("p0"), col("q").as("q0"))
    val types = Tables.load(spark, dir, "part")
      .select(col("p_partkey").as("l_partkey"), col("p_type"))
    val matched = pm.join(base, "l_partkey")
      .join(broadcast(types), "l_partkey")
    matched.groupBy(col("p_type"), col("ym"))
      .agg(count(lit(1)).as("n_parts"),
        sum(round(col("p") * col("q0"), 6).cast(dec)).cast("double")
          .as("pt_q0"),
        sum(round(col("p0") * col("q0"), 6).cast(dec)).cast("double")
          .as("p0_q0"),
        sum(round(col("p") * col("q"), 6).cast(dec)).cast("double")
          .as("pt_qt"),
        sum(round(col("p0") * col("q"), 6).cast(dec)).cast("double")
          .as("p0_qt"))
      .select(col("p_type"), col("ym"), col("n_parts"),
        round(col("pt_q0") / col("p0_q0"), 6).as("laspeyres"),
        round(col("pt_qt") / col("p0_qt"), 6).as("paasche"),
        round(sqrt((col("pt_q0") / col("p0_q0")) *
          (col("pt_qt") / col("p0_qt"))), 6).as("fisher"))
      .orderBy(col("p_type"), col("ym"))
  }

  val priceIndicesSql: String =
    """WITH pm AS (
      |  SELECT l_partkey,
      |    year(l_shipdate) * 100 + month(l_shipdate) AS ym,
      |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
      |      / COUNT(*) AS p,
      |    CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS q
      |  FROM lineitem GROUP BY 1, 2
      |), base AS (
      |  SELECT l_partkey, p AS p0, q AS q0 FROM pm
      |  WHERE ym = (SELECT MIN(ym) FROM pm)
      |), matched AS (
      |  SELECT t.p_type, m.ym, m.p, m.q, b.p0, b.q0
      |  FROM pm m
      |  JOIN base b ON b.l_partkey = m.l_partkey
      |  JOIN part t ON t.p_partkey = m.l_partkey
      |), agg AS (
      |  SELECT p_type, ym, CAST(COUNT(*) AS BIGINT) AS n_parts,
      |    CAST(SUM(CAST(ROUND(p * q0, 6) AS DECIMAL(28,6))) AS DOUBLE)
      |      AS pt_q0,
      |    CAST(SUM(CAST(ROUND(p0 * q0, 6) AS DECIMAL(28,6))) AS DOUBLE)
      |      AS p0_q0,
      |    CAST(SUM(CAST(ROUND(p * q, 6) AS DECIMAL(28,6))) AS DOUBLE)
      |      AS pt_qt,
      |    CAST(SUM(CAST(ROUND(p0 * q, 6) AS DECIMAL(28,6))) AS DOUBLE)
      |      AS p0_qt
      |  FROM matched GROUP BY 1, 2
      |)
      |SELECT p_type, ym, n_parts,
      |  ROUND(pt_q0 / p0_q0, 6) AS laspeyres,
      |  ROUND(pt_qt / p0_qt, 6) AS paasche,
      |  ROUND(sqrt((pt_q0 / p0_q0) * (pt_qt / p0_qt)), 6) AS fisher
      |FROM agg
      |ORDER BY p_type, ym""".stripMargin

  /** q401 — unit-price integrity audit: per part, the robust
    * median/MAD screen on unit prices (extendedprice / quantity),
    * surfacing every line whose deviation exceeds 5 MADs — the
    * fat-finger / bad-feed detector a financial fact table runs on
    * ingest (q95 screens document lengths per language; this screens
    * PRICES per part, where a misplaced decimal costs real money and
    * a mean/σ screen would be wrecked by the very outliers it
    * hunts). Constant-price parts (MAD = 0) flag any nonzero
    * deviation, the standard MAD-screen convention.
    *
    * Exactness: unit prices are exact micro-units
    * (round(price/qty · 1e6) → BIGINT); medians and MADs are DOUBLED
    * integer order statistics (med2 = u₍ₖ₁₎+u₍ₖ₂₎, mad4 likewise on
    * 2×|deviations|), so the flag `2·adev2 > 5·mad4` is pure-integer
    * — no rounding anywhere until display.
    *
    * Scale: two part-partitioned rank windows + two broadcast-size
    * joins back; output is outlier-bounded. At 100 TB the windows
    * are the same per-key sorts every per-entity robust screen pays.
    */
  def unitPriceAudit(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // unit price in micro-units via PURE INTEGER arithmetic: cents are
    // exact (2dp prices ×100 land on integers, never near halves), and
    // (cents·10⁴) div qty floors identically in both engines — a
    // double division rounded to micros lands ON half-boundaries where
    // Spark's BigDecimal HALF_UP and DuckDB's binary round disagree
    // (caught by the oracle on first grading)
    val li = Tables.load(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        round(col("l_extendedprice") * 100, 0).cast("long").as("cents"),
        col("l_quantity").cast("long").as("qty"))
      .withColumn("u_e6", expr("(cents * 10000) div qty"))
      .drop("cents", "qty")
    val wU = Window.partitionBy(col("l_partkey"))
      .orderBy(col("u_e6"), col("l_orderkey"), col("l_linenumber"))
    val wN = Window.partitionBy(col("l_partkey"))
    val med = li
      .withColumn("rn", row_number().over(wU))
      .withColumn("n", count(lit(1)).over(wN))
      .groupBy(col("l_partkey"))
      .agg(max(col("n")).as("n_part"),
        (max(when(col("rn") === expr("(n + 1) div 2"), col("u_e6"))) +
          max(when(col("rn") === expr("(n + 2) div 2"), col("u_e6"))))
          .as("med2"))
    val dev = li.join(med, "l_partkey")
      .withColumn("adev2", abs(lit(2) * col("u_e6") - col("med2")))
    val wA = Window.partitionBy(col("l_partkey"))
      .orderBy(col("adev2"), col("l_orderkey"), col("l_linenumber"))
    val mad = dev
      .withColumn("rn", row_number().over(wA))
      .groupBy(col("l_partkey"))
      .agg((max(when(col("rn") === expr("(n_part + 1) div 2"),
          col("adev2"))) +
        max(when(col("rn") === expr("(n_part + 2) div 2"), col("adev2"))))
        .as("mad4"))
    dev.join(mad, "l_partkey")
      .filter(col("adev2") > 0 &&
        lit(2) * col("adev2") > lit(5) * col("mad4"))
      .select(col("l_partkey"), col("l_orderkey"), col("l_linenumber"),
        col("n_part"),
        // display divisions stay in integers (half-up micro-units):
        // an odd med2/2e6 is an EXACT 6dp half where the engines'
        // double rounding disagrees (oracle catch, twice)
        (col("u_e6").cast("double") / 1000000).as("unit_price"),
        (expr("(med2 + 1) div 2").cast("double") / 1000000)
          .as("part_median"),
        (expr("(mad4 + 2) div 4").cast("double") / 1000000)
          .as("part_mad"))
      .orderBy(col("l_partkey"), col("l_orderkey"), col("l_linenumber"))
  }

  val unitPriceAuditSql: String =
    """WITH li AS (
      |  SELECT l_orderkey, l_linenumber, l_partkey,
      |    (CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) * 10000)
      |      // CAST(l_quantity AS BIGINT) AS u_e6
      |  FROM lineitem
      |), ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY l_partkey
      |      ORDER BY u_e6, l_orderkey, l_linenumber) AS rn,
      |    COUNT(*) OVER (PARTITION BY l_partkey) AS n
      |  FROM li
      |), med AS (
      |  SELECT l_partkey, CAST(MAX(n) AS BIGINT) AS n_part,
      |    MAX(CASE WHEN rn = (n + 1) // 2 THEN u_e6 END)
      |      + MAX(CASE WHEN rn = (n + 2) // 2 THEN u_e6 END) AS med2
      |  FROM ranked GROUP BY 1
      |), dev AS (
      |  SELECT li.*, m.n_part, m.med2,
      |    ABS(2 * li.u_e6 - m.med2) AS adev2
      |  FROM li JOIN med m ON m.l_partkey = li.l_partkey
      |), dranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY l_partkey
      |    ORDER BY adev2, l_orderkey, l_linenumber) AS rn
      |  FROM dev
      |), mad AS (
      |  SELECT l_partkey,
      |    MAX(CASE WHEN rn = (n_part + 1) // 2 THEN adev2 END)
      |      + MAX(CASE WHEN rn = (n_part + 2) // 2 THEN adev2 END) AS mad4
      |  FROM dranked GROUP BY 1
      |)
      |SELECT d.l_partkey, d.l_orderkey, d.l_linenumber, d.n_part,
      |  CAST(d.u_e6 AS DOUBLE) / 1000000 AS unit_price,
      |  CAST((d.med2 + 1) // 2 AS DOUBLE) / 1000000 AS part_median,
      |  CAST((m.mad4 + 2) // 4 AS DOUBLE) / 1000000 AS part_mad
      |FROM dev d JOIN mad m ON m.l_partkey = d.l_partkey
      |WHERE d.adev2 > 0 AND 2 * d.adev2 > 5 * m.mad4
      |ORDER BY d.l_partkey, d.l_orderkey, d.l_linenumber""".stripMargin

  /** q402 — order-total reconciliation audit: per order priority, do
    * the lineitems actually sum to `o_totalprice` under the standard
    * charge formula Σ extendedprice·(1−discount)·(1+tax)? The
    * cross-table invariant every financial mart must state — a feed
    * where headers and lines disagree poisons every revenue number
    * downstream, and the honest report is the exact-match share plus
    * the magnitude of the disagreement (mean/max absolute cents), not
    * a boolean. q101 checks KEYS reconcile; this checks MONEY does.
    *
    * Exactness: per-line charges round to integer cents ONCE, sum as
    * BIGINTs, and diff against the header's integer cents — shares
    * and means are single rounded divisions of integer sums.
    *
    * Scale: one lineitem aggregate (map-side combine), a co-keyed
    * orders join, one |priorities|-row aggregate.
    */
  def orderTotalReconciliation(spark: SparkSession, dir: String)
      : DataFrame = {
    val lines = Tables.load(spark, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(sum(round(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
        * (lit(1.0) + col("l_tax")) * 100, 0).cast("long"))
        .as("line_cents"))
    val o = Tables.load(spark, dir, "orders")
      .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"),
        round(col("o_totalprice") * 100, 0).cast("long").as("hdr_cents"))
    o.join(lines, "l_orderkey")
      .withColumn("adiff", abs(col("line_cents") - col("hdr_cents")))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        sum((col("adiff") === 0).cast("long")).as("n_exact"),
        sum(col("adiff")).as("sum_abs_diff"),
        max(col("adiff")).as("max_abs_diff_cents"))
      .select(col("o_orderpriority"), col("n_orders"), col("n_exact"),
        round(col("n_exact").cast("double") /
          col("n_orders").cast("double"), 6).as("share_exact"),
        round(col("sum_abs_diff").cast("double") /
          col("n_orders").cast("double"), 6).as("mean_abs_diff_cents"),
        col("max_abs_diff_cents"))
      .orderBy(col("o_orderpriority"))
  }

  val orderTotalReconciliationSql: String =
    """WITH lines AS (
      |  SELECT l_orderkey,
      |    CAST(SUM(CAST(ROUND(l_extendedprice * (1.0 - l_discount)
      |      * (1.0 + l_tax) * 100, 0) AS BIGINT)) AS BIGINT) AS line_cents
      |  FROM lineitem GROUP BY 1
      |), j AS (
      |  SELECT o.o_orderpriority,
      |    ABS(l.line_cents
      |      - CAST(ROUND(o.o_totalprice * 100, 0) AS BIGINT)) AS adiff
      |  FROM orders o JOIN lines l ON l.l_orderkey = o.o_orderkey
      |)
      |SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders,
      |  CAST(SUM(CASE WHEN adiff = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_exact,
      |  ROUND(CAST(SUM(CASE WHEN adiff = 0 THEN 1 ELSE 0 END) AS DOUBLE)
      |    / CAST(COUNT(*) AS DOUBLE), 6) AS share_exact,
      |  ROUND(CAST(SUM(adiff) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
      |    AS mean_abs_diff_cents,
      |  CAST(MAX(adiff) AS BIGINT) AS max_abs_diff_cents
      |FROM j
      |GROUP BY 1
      |ORDER BY o_orderpriority""".stripMargin

  /** q405 — regional revenue shares: discounted revenue rolled up the
    * FULL dimension chain (lineitem → orders → customer → nation →
    * region) with percent-of-region, percent-of-total, and
    * rank-in-region — the classic share-of-parent OLAP readout on the
    * deepest star join in the schema. Plan-wise this is the query the
    * broadcast-dimension discipline exists for: four dimension hops,
    * all broadcast, ONE fact scan, one exchange for the final
    * aggregate.
    *
    * Exactness: revenue is integer cents per line summed as BIGINTs;
    * shares are single rounded divisions of integer totals; rank is
    * integer-tiebroken.
    */
  def regionalRevenueShares(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val li = Tables.load(spark, dir, "lineitem")
      .select(col("l_orderkey"),
        round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100,
          0).cast("long").as("cents"))
    val o = Tables.load(spark, dir, "orders")
      .select(col("o_orderkey").as("l_orderkey"), col("o_custkey"))
    val c = Tables.load(spark, dir, "customer")
      .select(col("c_custkey").as("o_custkey"), col("c_nationkey"))
    val n = Tables.load(spark, dir, "nation")
      .select(col("n_nationkey").as("c_nationkey"), col("n_name"),
        col("n_regionkey"))
    val r = Tables.load(spark, dir, "region")
      .select(col("r_regionkey").as("n_regionkey"), col("r_name"))
    val rev = li
      .join(broadcast(o), "l_orderkey")
      .join(broadcast(c), "o_custkey")
      .join(broadcast(n), "c_nationkey")
      .join(broadcast(r), "n_regionkey")
      .groupBy(col("r_name"), col("n_name"))
      .agg(sum(col("cents")).as("rev_cents"))
    val wR = Window.partitionBy(col("r_name"))
    val wAll = Window.partitionBy(lit(1))
    rev
      .withColumn("region_cents", sum(col("rev_cents")).over(wR))
      .withColumn("total_cents", sum(col("rev_cents")).over(wAll))
      .withColumn("rank_in_region", row_number().over(
        Window.partitionBy(col("r_name"))
          .orderBy(col("rev_cents").desc, col("n_name"))))
      .select(col("r_name"), col("n_name"), col("rev_cents"),
        round(col("rev_cents").cast("double") /
          col("region_cents").cast("double"), 6).as("pct_of_region"),
        round(col("rev_cents").cast("double") /
          col("total_cents").cast("double"), 6).as("pct_of_total"),
        col("rank_in_region"))
      .orderBy(col("r_name"), col("rank_in_region"))
  }

  val regionalRevenueSharesSql: String =
    """WITH rev AS (
      |  SELECT r.r_name, n.n_name,
      |    CAST(SUM(CAST(ROUND(l.l_extendedprice * (1.0 - l.l_discount)
      |      * 100, 0) AS BIGINT)) AS BIGINT) AS rev_cents
      |  FROM lineitem l
      |  JOIN orders o ON o.o_orderkey = l.l_orderkey
      |  JOIN customer c ON c.c_custkey = o.o_custkey
      |  JOIN nation n ON n.n_nationkey = c.c_nationkey
      |  JOIN region r ON r.r_regionkey = n.n_regionkey
      |  GROUP BY 1, 2
      |)
      |SELECT r_name, n_name, rev_cents,
      |  ROUND(CAST(rev_cents AS DOUBLE) / CAST(SUM(rev_cents)
      |    OVER (PARTITION BY r_name) AS DOUBLE), 6) AS pct_of_region,
      |  ROUND(CAST(rev_cents AS DOUBLE) / CAST(SUM(rev_cents)
      |    OVER () AS DOUBLE), 6) AS pct_of_total,
      |  CAST(row_number() OVER (PARTITION BY r_name
      |    ORDER BY rev_cents DESC, n_name) AS INT) AS rank_in_region
      |FROM rev
      |ORDER BY r_name, rank_in_region""".stripMargin

  /** q406 — top-decile revenue share per market segment, WITH a
    * Poisson-bootstrap confidence interval: the q147 concentration
    * statistic finally wearing error bars. A rank statistic has no
    * closed-form variance worth trusting; the q396 Poisson trick
    * resamples it exactly — every (customer, replicate) draws an
    * integer weight, the weighted top decile is the customers taken
    * in revenue-desc order until cumulative weight reaches a tenth of
    * the replicate's total, and the share recomputes per replicate —
    * ALL of it in integer cents and integer weights until one final
    * division.
    *
    * Exactness: the decile cut is the integer comparison
    * 10·(cumw − w) < totw (take while the weight BEFORE this customer
    * is under a tenth); weighted revenues are BIGINT w·cents sums;
    * replicate shares divide once; sd/CI follow the q396 moment/rank
    * discipline.
    *
    * Scale: one (segment, customer) aggregate, the point-estimate
    * window, a ×R explode of the CUSTOMER-sized frame with per-
    * (segment, replicate) windows — bounded by customers × R.
    */
  def topDecileShareBootstrap(spark: SparkSession, dir: String,
                              reps: Int = 50): DataFrame = {
    import graft.functions.PortableHash
    import org.apache.spark.sql.expressions.Window
    val dec = org.apache.spark.sql.types.DecimalType(28, 6)
    val perCust = Tables.load(spark, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(sum(round(col("o_totalprice") * 100, 0).cast("long"))
        .as("cents"))
      .join(broadcast(Tables.load(spark, dir, "customer")
        .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))),
        "o_custkey")
      .transform(graft.Iterate.cut) // consumers: point estimate + the ×R explode
    val wDesc = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("cents").desc, col("o_custkey"))
    val wSeg = Window.partitionBy(col("c_mktsegment"))
    val point = perCust
      .withColumn("rn", row_number().over(wDesc).cast("long"))
      .withColumn("n", count(lit(1)).over(wSeg))
      .withColumn("tot", sum(col("cents")).over(wSeg))
      .withColumn("k", expr("CAST(CEIL(0.1 * CAST(n AS DOUBLE)) AS BIGINT)"))
      .groupBy(col("c_mktsegment"))
      .agg(max(col("n")).as("n_custs"),
        (sum(when(col("rn") <= col("k"), col("cents")).otherwise(0L))
          .cast("double") / max(col("tot")).cast("double"))
          .as("point_share"))
    val u = (PortableHash.md5Long60(concat(col("c_mktsegment"), lit("|"),
      col("r").cast("string"), lit("|"), col("o_custkey").cast("string")))
      .cast("double") + 0.5) / lit((1L << 60).toDouble)
    val wDraw = Seq(0.3678794412, 0.7357588823, 0.9196986029,
        0.9810118431, 0.9963401532, 0.9994058152, 0.9999167589,
        0.9999897508, 0.9999988748).zipWithIndex
      .foldRight(lit(9): Column) { case ((t, k), rest) =>
        when(u < t, k).otherwise(rest)
      }
    val wRep = Window.partitionBy(col("c_mktsegment"), col("r"))
      .orderBy(col("cents").desc, col("o_custkey"))
    val wRepAll = Window.partitionBy(col("c_mktsegment"), col("r"))
    val repShares = perCust
      .select(col("c_mktsegment"), col("o_custkey"), col("cents"),
        explode(sequence(lit(1), lit(reps))).as("r"))
      .withColumn("w", wDraw.cast("long"))
      .withColumn("cumw", sum(col("w")).over(
        wRep.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("totw", sum(col("w")).over(wRepAll))
      .withColumn("in_top",
        (lit(10) * (col("cumw") - col("w")) < col("totw")).cast("int"))
      .groupBy(col("c_mktsegment"), col("r"))
      .agg((sum(when(col("in_top") === 1, col("w") * col("cents"))
          .otherwise(0L)).cast("double") /
        nullif(sum(col("w") * col("cents")).cast("double"), lit(0.0)))
        .as("m"))
    val loIdx = math.ceil(0.025 * reps).toLong
    val hiIdx = math.ceil(0.975 * reps).toLong
    val wRank = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("m"), col("r"))
    val stats = repShares
      .withColumn("rk", row_number().over(wRank).cast("long"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_reps"),
        sum(round(col("m"), 6).cast(dec)).cast("double").as("sm"),
        sum(round(col("m") * col("m"), 6).cast(dec)).cast("double")
          .as("smm"),
        max(when(col("rk") === loIdx, col("m"))).as("lo"),
        max(when(col("rk") === hiIdx, col("m"))).as("hi"))
    point.join(broadcast(stats), "c_mktsegment")
      .select(col("c_mktsegment"), col("n_custs"),
        round(col("point_share"), 6).as("top_decile_share"),
        col("n_reps"),
        round(sqrt(greatest(lit(0.0),
          col("smm") / col("n_reps") -
            (col("sm") / col("n_reps")) * (col("sm") / col("n_reps")))),
          6).as("boot_sd"),
        round(col("lo"), 6).as("ci_lo"),
        round(col("hi"), 6).as("ci_hi"))
      .orderBy(col("c_mktsegment"))
  }

  def topDecileShareBootstrapSql(reps: Int = 50): String = {
    val draw = Seq(0.3678794412, 0.7357588823, 0.9196986029,
        0.9810118431, 0.9963401532, 0.9994058152, 0.9999167589,
        0.9999897508, 0.9999988748).zipWithIndex
      .map { case (t, k) => s"WHEN u < $t THEN $k" }
      .mkString("CASE ", " ", " ELSE 9 END")
    val loIdx = math.ceil(0.025 * reps).toLong
    val hiIdx = math.ceil(0.975 * reps).toLong
    s"""WITH per_cust AS (
       |  SELECT o.o_custkey, c.c_mktsegment,
       |    CAST(SUM(CAST(ROUND(o.o_totalprice * 100, 0) AS BIGINT))
       |      AS BIGINT) AS cents
       |  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
       |  GROUP BY 1, 2
       |), point AS (
       |  SELECT c_mktsegment, CAST(MAX(n) AS BIGINT) AS n_custs,
       |    CAST(SUM(CASE WHEN rn <= k THEN cents ELSE 0 END) AS DOUBLE)
       |      / CAST(MAX(tot) AS DOUBLE) AS point_share
       |  FROM (
       |    SELECT c_mktsegment, cents,
       |      CAST(row_number() OVER (PARTITION BY c_mktsegment
       |        ORDER BY cents DESC, o_custkey) AS BIGINT) AS rn,
       |      COUNT(*) OVER (PARTITION BY c_mktsegment) AS n,
       |      SUM(cents) OVER (PARTITION BY c_mktsegment) AS tot,
       |      CAST(CEIL(0.1 * CAST(COUNT(*) OVER (PARTITION BY
       |        c_mktsegment) AS DOUBLE)) AS BIGINT) AS k
       |    FROM per_cust
       |  ) GROUP BY 1
       |), drawn AS (
       |  SELECT c_mktsegment, o_custkey, cents, r, $draw AS w FROM (
       |    SELECT p.c_mktsegment, p.o_custkey, p.cents, g.r,
       |      (CAST(CAST(('0x' || substr(md5(p.c_mktsegment || '|' ||
       |        CAST(g.r AS VARCHAR) || '|' || CAST(p.o_custkey AS VARCHAR)),
       |        1, 15)) AS BIGINT) AS DOUBLE) + 0.5) / POWER(2.0, 60) AS u
       |    FROM per_cust p
       |    CROSS JOIN (SELECT unnest(range(1, $reps + 1)) AS r) g
       |  )
       |), cuts AS (
       |  SELECT c_mktsegment, r, cents, w,
       |    CAST(SUM(w) OVER (PARTITION BY c_mktsegment, r
       |      ORDER BY cents DESC, o_custkey ROWS UNBOUNDED PRECEDING)
       |      AS BIGINT) AS cumw,
       |    CAST(SUM(w) OVER (PARTITION BY c_mktsegment, r) AS BIGINT)
       |      AS totw
       |  FROM drawn
       |), rep_shares AS (
       |  SELECT c_mktsegment, r,
       |    CAST(SUM(CASE WHEN 10 * (cumw - w) < totw
       |      THEN w * cents ELSE 0 END) AS DOUBLE)
       |      / NULLIF(CAST(SUM(w * cents) AS DOUBLE), 0.0) AS m
       |  FROM cuts GROUP BY 1, 2
       |), ranked AS (
       |  SELECT c_mktsegment, m,
       |    CAST(row_number() OVER (PARTITION BY c_mktsegment
       |      ORDER BY m, r) AS BIGINT) AS rk
       |  FROM rep_shares
       |), stats AS (
       |  SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_reps,
       |    CAST(SUM(CAST(ROUND(m, 6) AS DECIMAL(28,6))) AS DOUBLE) AS sm,
       |    CAST(SUM(CAST(ROUND(m * m, 6) AS DECIMAL(28,6))) AS DOUBLE)
       |      AS smm,
       |    MAX(CASE WHEN rk = $loIdx THEN m END) AS lo,
       |    MAX(CASE WHEN rk = $hiIdx THEN m END) AS hi
       |  FROM ranked GROUP BY 1
       |)
       |SELECT p.c_mktsegment, p.n_custs,
       |  ROUND(p.point_share, 6) AS top_decile_share,
       |  s.n_reps,
       |  ROUND(sqrt(GREATEST(0.0,
       |    s.smm / s.n_reps - (s.sm / s.n_reps) * (s.sm / s.n_reps))), 6)
       |    AS boot_sd,
       |  ROUND(s.lo, 6) AS ci_lo,
       |  ROUND(s.hi, 6) AS ci_hi
       |FROM point p JOIN stats s ON p.c_mktsegment = s.c_mktsegment
       |ORDER BY p.c_mktsegment""".stripMargin
  }

  /** q411 — regression discontinuity (sharp, local-linear) at the
    * deep-discount threshold: per part type, quantity is fit linearly
    * in discount on EACH side of c = 0.05 (the q102 sufficient-stat
    * machinery, centered at the cutoff so each intercept IS the value
    * at c), and the jump a_right − a_left estimates the causal effect
    * of crossing into deep-discount territory under the RD
    * assumption (units just below and just above the cutoff are
    * comparable). Completes the causal shelf: DiD (q183), synthetic
    * control (q355), matching (q313), IPS (q177), and now the
    * threshold design — the one that needs NO control group, only a
    * rule.
    *
    * Exactness: the q102 discipline verbatim — 6dp-rounded product
    * terms, DECIMAL(28,6) sums, one fixed double chain per side,
    * NULL-guarded degenerate sides.
    *
    * Scale: ONE fact scan into a (type, side) sufficient-stat
    * aggregate (the part dim broadcast); everything after is
    * |types|-row algebra.
    */
  def regressionDiscontinuity(spark: SparkSession, dir: String,
                              cutoff: Double = 0.05): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(28, 6)
    def dsum(c: Column): Column = sum(c.cast(dec)).cast("double")
    val types = Tables.load(spark, dir, "part")
      .select(col("p_partkey").as("l_partkey"), col("p_type"))
    val li = Tables.load(spark, dir, "lineitem")
      .select(col("l_partkey"), col("l_discount"), col("l_quantity"))
      .join(broadcast(types), "l_partkey")
      .withColumn("x", col("l_discount") - lit(cutoff))
      .withColumn("side",
        when(col("l_discount") >= cutoff, "right").otherwise("left"))
      .withColumn("y", col("l_quantity"))
    val stats = li.groupBy(col("p_type"), col("side")).agg(
      count(lit(1)).as("n"),
      dsum(col("x")).as("sx"), dsum(col("y")).as("sy"),
      dsum(round(col("x") * col("x"), 6)).as("sxx"),
      dsum(round(col("x") * col("y"), 6)).as("sxy"))
    val fit = stats
      .withColumn("den",
        nullif(col("n") * col("sxx") - col("sx") * col("sx"), lit(0.0)))
      .withColumn("b",
        (col("n") * col("sxy") - col("sx") * col("sy")) / col("den"))
      .withColumn("a",
        (col("sy") - col("b") * col("sx")) / col("n"))
    fit.groupBy(col("p_type")).agg(
        sum(col("n")).as("n_rows"),
        max(when(col("side") === "left", col("a"))).as("a_l"),
        max(when(col("side") === "left", col("b"))).as("b_l"),
        max(when(col("side") === "right", col("a"))).as("a_r"),
        max(when(col("side") === "right", col("b"))).as("b_r"))
      .select(col("p_type"), col("n_rows"),
        round(col("a_l"), 6).as("left_at_cutoff"),
        round(col("a_r"), 6).as("right_at_cutoff"),
        round(col("b_l"), 6).as("slope_left"),
        round(col("b_r"), 6).as("slope_right"),
        round(col("a_r") - col("a_l"), 6).as("rd_jump"))
      .orderBy(col("p_type"))
  }

  def regressionDiscontinuitySql(cutoff: Double = 0.05): String =
    s"""WITH li AS (
       |  SELECT t.p_type, l.l_discount - $cutoff AS x,
       |    CASE WHEN l.l_discount >= $cutoff THEN 'right' ELSE 'left' END
       |      AS side,
       |    l.l_quantity AS y
       |  FROM lineitem l JOIN part t ON t.p_partkey = l.l_partkey
       |), stats AS (
       |  SELECT p_type, side, CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(CAST(x AS DECIMAL(28,6))) AS DOUBLE) AS sx,
       |    CAST(SUM(CAST(y AS DECIMAL(28,6))) AS DOUBLE) AS sy,
       |    CAST(SUM(CAST(ROUND(x * x, 6) AS DECIMAL(28,6))) AS DOUBLE)
       |      AS sxx,
       |    CAST(SUM(CAST(ROUND(x * y, 6) AS DECIMAL(28,6))) AS DOUBLE)
       |      AS sxy
       |  FROM li GROUP BY 1, 2
       |), fit AS (
       |  SELECT p_type, side, n,
       |    (sy - ((n * sxy - sx * sy)
       |      / NULLIF(n * sxx - sx * sx, 0.0)) * sx) / n AS a,
       |    (n * sxy - sx * sy) / NULLIF(n * sxx - sx * sx, 0.0) AS b
       |  FROM stats
       |)
       |SELECT p_type, CAST(SUM(n) AS BIGINT) AS n_rows,
       |  ROUND(MAX(CASE WHEN side = 'left' THEN a END), 6)
       |    AS left_at_cutoff,
       |  ROUND(MAX(CASE WHEN side = 'right' THEN a END), 6)
       |    AS right_at_cutoff,
       |  ROUND(MAX(CASE WHEN side = 'left' THEN b END), 6) AS slope_left,
       |  ROUND(MAX(CASE WHEN side = 'right' THEN b END), 6)
       |    AS slope_right,
       |  ROUND(MAX(CASE WHEN side = 'right' THEN a END)
       |    - MAX(CASE WHEN side = 'left' THEN a END), 6) AS rd_jump
       |FROM fit
       |GROUP BY p_type
       |ORDER BY p_type""".stripMargin

  /** q419 — supplier attribute concordance: Kendall's τ-b between
    * each supplier's ACCOUNT BALANCE and its REALIZED REVENUE, per
    * nation — does the static dimension attribute predict actual
    * activity? A strong τ means acctbal is a usable prior for new
    * suppliers (cold-start pricing, credit limits); τ ≈ 0 means the
    * attribute is stale and every model consuming it inherits noise
    * — the dimension-quality audit nobody runs until a model
    * mysteriously underperforms. The q374 integer-concordance
    * machinery at entity (not time) grain.
    *
    * Exactness: balances and revenues are integer cents; concordant/
    * discordant/tied counts are integers off the per-nation supplier
    * pair join (suppliers-per-nation bounded); τ-b is one rounded
    * double chain.
    *
    * Scale: one lineitem aggregate, a supplier-dim broadcast join,
    * then per-nation pairs through [[cappedGroupPairs]] (first
    * `memberCap` suppliers per nation by suppkey rank — ~100/nation
    * on TPC-H so the cap never binds at graded SFs, proven in
    * RobustOpsSpec, but a mega-nation stays cap²-bounded instead of
    * going quadratic).
    */
  def supplierConcordance(spark: SparkSession, dir: String,
                          memberCap: Int = 256): DataFrame = {
    val rev = Tables.load(spark, dir, "lineitem")
      .groupBy(col("l_suppkey"))
      .agg(sum(round(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
        * 100, 0).cast("long")).as("rev_cents"))
    val sup = Tables.load(spark, dir, "supplier")
      .select(col("s_suppkey").as("l_suppkey"), col("s_nationkey"),
        round(col("s_acctbal") * 100, 0).cast("long").as("bal_cents"))
    val base = rev.join(broadcast(sup), "l_suppkey")
      .select(col("s_nationkey"), col("l_suppkey"), col("bal_cents"),
        col("rev_cents"))
    val pairs = cappedGroupPairs(base, "s_nationkey", "l_suppkey",
        memberCap)
      .select(col("a.s_nationkey").as("nation"),
        (col("a.bal_cents") - col("b.bal_cents")).as("dx"),
        (col("a.rev_cents") - col("b.rev_cents")).as("dy"))
    pairs.groupBy(col("nation")).agg(
        count(lit(1)).as("n0"),
        sum(when(col("dx") * col("dy") > 0, 1L).otherwise(0L)).as("nc"),
        sum(when(col("dx") * col("dy") < 0, 1L).otherwise(0L)).as("nd"),
        sum(when(col("dx") === 0, 1L).otherwise(0L)).as("n1"),
        sum(when(col("dy") === 0, 1L).otherwise(0L)).as("n2"))
      .select(col("nation"), col("n0").as("n_pairs"), col("nc"),
        col("nd"),
        round((col("nc") - col("nd")).cast("double") /
          sqrt(nullif(((col("n0") - col("n1")) * (col("n0") - col("n2")))
            .cast("double"), lit(0.0))), 6).as("tau_b"))
      .orderBy(col("nation"))
  }

  def supplierConcordanceSql(memberCap: Int = 256): String =
    s"""WITH rev AS (
      |  SELECT l_suppkey,
      |    CAST(SUM(CAST(ROUND(l_extendedprice * (1.0 - l_discount) * 100,
      |      0) AS BIGINT)) AS BIGINT) AS rev_cents
      |  FROM lineitem GROUP BY 1
      |), base AS (
      |  SELECT s_nationkey, s_suppkey, bal_cents, rev_cents FROM (
      |    SELECT s.s_nationkey, s.s_suppkey,
      |      CAST(ROUND(s.s_acctbal * 100, 0) AS BIGINT) AS bal_cents,
      |      r.rev_cents,
      |      row_number() OVER (PARTITION BY s.s_nationkey
      |        ORDER BY s.s_suppkey) AS rn
      |    FROM rev r JOIN supplier s ON s.s_suppkey = r.l_suppkey
      |  ) WHERE rn <= $memberCap
      |), pairs AS (
      |  SELECT a.s_nationkey AS nation,
      |    a.bal_cents - b.bal_cents AS dx,
      |    a.rev_cents - b.rev_cents AS dy
      |  FROM base a JOIN base b
      |    ON a.s_nationkey = b.s_nationkey AND a.s_suppkey < b.s_suppkey
      |)
      |SELECT nation, CAST(COUNT(*) AS BIGINT) AS n_pairs,
      |  CAST(SUM(CASE WHEN dx * dy > 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS nc,
      |  CAST(SUM(CASE WHEN dx * dy < 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS nd,
      |  ROUND(CAST(SUM(CASE WHEN dx * dy > 0 THEN 1 ELSE 0 END)
      |      - SUM(CASE WHEN dx * dy < 0 THEN 1 ELSE 0 END) AS DOUBLE)
      |    / sqrt(NULLIF(CAST((COUNT(*)
      |        - SUM(CASE WHEN dx = 0 THEN 1 ELSE 0 END))
      |      * (COUNT(*) - SUM(CASE WHEN dy = 0 THEN 1 ELSE 0 END))
      |      AS DOUBLE), 0.0)), 6) AS tau_b
      |FROM pairs
      |GROUP BY nation
      |ORDER BY nation""".stripMargin

  /** q422 — leaderboard churn: per ship week, how much of the
    * revenue TOP-5 parts list turned over vs the previous week
    * (1 − overlap/5) — the stability gauge for any ranked surface
    * (merch pages, alerting top-Ns, recommended lists). A leaderboard
    * that churns 80% weekly is noise being shipped as signal; q373
    * ranks the movers, this says whether ranking weekly even means
    * anything.
    *
    * Exactness: weekly revenues are integer cents; top-5 membership
    * is integer-rank tiebroken; overlap is an integer self-join count
    * on (part, week−1); churn is one rounded division.
    *
    * Scale: one (part, week) aggregate, a rank ≤ 5 window (literal
    * bound — partial WindowGroupLimit), then joins on a
    * 5-rows-per-week frame.
    */
  def leaderboardChurn(spark: SparkSession, dir: String,
                       topK: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val weekly = weeklyPartRevenue(spark, dir)
    val w = Window.partitionBy(col("week"))
      .orderBy(col("rev").desc, col("l_partkey"))
    val top = graft.Iterate.cut(
      weekly.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= topK)
        .select(col("week"), col("l_partkey")))
    val sizes = top.groupBy(col("week")).agg(count(lit(1)).as("n_top"))
    val overlap = top.as("cur").join(top.as("prev"),
        col("cur.l_partkey") === col("prev.l_partkey") &&
          col("cur.week") === col("prev.week") + 1)
      .groupBy(col("cur.week").as("week"))
      .agg(count(lit(1)).as("overlap_prev"))
    sizes.as("s")
      .join(sizes.select((col("week") + 1).as("week"),
        col("n_top").as("n_prev")), Seq("week"))
      .join(overlap, Seq("week"), "left")
      .withColumn("overlap_prev", coalesce(col("overlap_prev"), lit(0L)))
      .select(col("week"), col("n_top"), col("n_prev"),
        col("overlap_prev"),
        round(lit(1.0) - col("overlap_prev").cast("double") /
          least(col("n_top"), col("n_prev")).cast("double"), 6)
          .as("churn"))
      .orderBy(col("week"))
  }

  def leaderboardChurnSql(topK: Int = 5): String =
    s"""WITH $weeklyRevenueCte, top AS (
       |  SELECT week, l_partkey FROM (
       |    SELECT week, l_partkey,
       |      row_number() OVER (PARTITION BY week
       |        ORDER BY rev DESC, l_partkey) AS rank
       |    FROM weekly
       |  ) WHERE rank <= $topK
       |), sizes AS (
       |  SELECT week, CAST(COUNT(*) AS BIGINT) AS n_top FROM top
       |  GROUP BY 1
       |), overlap AS (
       |  SELECT cur.week, CAST(COUNT(*) AS BIGINT) AS overlap_prev
       |  FROM top cur JOIN top prev
       |    ON prev.l_partkey = cur.l_partkey AND cur.week = prev.week + 1
       |  GROUP BY 1
       |)
       |SELECT s.week, s.n_top, p.n_top AS n_prev,
       |  COALESCE(o.overlap_prev, 0) AS overlap_prev,
       |  ROUND(1.0 - CAST(COALESCE(o.overlap_prev, 0) AS DOUBLE)
       |    / CAST(LEAST(s.n_top, p.n_top) AS DOUBLE), 6) AS churn
       |FROM sizes s
       |JOIN sizes p ON s.week = p.week + 1
       |LEFT JOIN overlap o ON o.week = s.week
       |ORDER BY s.week""".stripMargin

  /** q435 — leaderboard rank distance: Spearman footrule and Kendall
    * distance between consecutive weekly revenue top-`topK` lists on
    * their COMMON items — q422's churn counts who left the list; this
    * measures how much the survivors SHUFFLED. A list with zero churn
    * but high footrule is re-ranking noise (bad for any position-
    * weighted consumer: merch slots, alert ordering, eval top-k); the
    * pair tells rank-stability apart from membership-stability.
    *
    * Exactness: ranks are integer row_numbers off the integer-cents
    * weekly revenue (fully tiebroken); footrule is an integer sum of
    * |Δrank|; Kendall distance is an integer discordant-pair count
    * over the common-item pairs; the two normalized readouts are
    * single NULLIF-guarded rounded divisions.
    *
    * Scale: one (part, week) aggregate, a rank ≤ topK partial
    * WindowGroupLimit, then joins on topK-rows-per-week frames — the
    * pair join is topK²-bounded per week by construction (a literal
    * bound, not a data-dependent one).
    */
  def leaderboardRankDistance(spark: SparkSession, dir: String,
                              topK: Int = 20): DataFrame = {
    val top = weeklyTopParts(spark, dir, topK)
    val common = top.as("cur").join(top.as("prev"),
        col("cur.l_partkey") === col("prev.l_partkey") &&
          col("cur.week") === col("prev.week") + 1)
      .select(col("cur.week").as("week"), col("cur.l_partkey").as("pk"),
        col("cur.rank").as("r_cur"), col("prev.rank").as("r_prev"))
    val foot = common.groupBy(col("week"))
      .agg(count(lit(1)).as("n_common"),
        sum(abs(col("r_cur") - col("r_prev"))).as("footrule"))
    val disc = common.as("a").join(common.as("b"),
        col("a.week") === col("b.week") && col("a.pk") < col("b.pk"))
      .groupBy(col("a.week").as("week"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when((col("a.r_cur") - col("b.r_cur")) *
          (col("a.r_prev") - col("b.r_prev")) < 0, 1L).otherwise(0L))
          .as("n_discordant"))
    foot.join(disc, Seq("week"), "left")
      .select(col("week"), col("n_common"), col("footrule"),
        round(col("footrule").cast("double") /
          nullif((col("n_common") * col("n_common")).cast("double"),
            lit(0.0)), 6).as("footrule_norm"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_discordant"), lit(0L)).as("n_discordant"),
        round(coalesce(col("n_discordant"), lit(0L)).cast("double") /
          nullif(coalesce(col("n_pairs"), lit(0L)).cast("double"),
            lit(0.0)), 6).as("kendall_dist"))
      .orderBy(col("week"))
  }

  def leaderboardRankDistanceSql(topK: Int = 20): String =
    s"""WITH ${weeklyTopCtes(topK)}, common AS (
       |  SELECT cur.week, cur.l_partkey AS pk,
       |    cur.rank AS r_cur, prev.rank AS r_prev
       |  FROM top cur JOIN top prev
       |    ON prev.l_partkey = cur.l_partkey AND cur.week = prev.week + 1
       |), foot AS (
       |  SELECT week, CAST(COUNT(*) AS BIGINT) AS n_common,
       |    CAST(SUM(ABS(r_cur - r_prev)) AS BIGINT) AS footrule
       |  FROM common GROUP BY 1
       |), disc AS (
       |  SELECT a.week, CAST(COUNT(*) AS BIGINT) AS n_pairs,
       |    CAST(SUM(CASE WHEN (a.r_cur - b.r_cur) * (a.r_prev - b.r_prev)
       |      < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_discordant
       |  FROM common a JOIN common b
       |    ON b.week = a.week AND a.pk < b.pk
       |  GROUP BY 1
       |)
       |SELECT f.week, f.n_common, f.footrule,
       |  ROUND(CAST(f.footrule AS DOUBLE)
       |    / NULLIF(CAST(f.n_common * f.n_common AS DOUBLE), 0.0), 6)
       |    AS footrule_norm,
       |  COALESCE(d.n_pairs, 0) AS n_pairs,
       |  COALESCE(d.n_discordant, 0) AS n_discordant,
       |  ROUND(CAST(COALESCE(d.n_discordant, 0) AS DOUBLE)
       |    / NULLIF(CAST(COALESCE(d.n_pairs, 0) AS DOUBLE), 0.0), 6)
       |    AS kendall_dist
       |FROM foot f LEFT JOIN disc d ON d.week = f.week
       |ORDER BY f.week""".stripMargin

  /** q436 — rank-biased overlap (RBO, truncated at the list depth)
    * between consecutive weekly top-`topK` revenue lists: the
    * TOP-WEIGHTED stability companion to q435 (footrule/Kendall treat
    * rank 1 and rank 19 swaps alike; RBO's geometric weights p^{d−1}
    * make the head dominate, which is how users actually consume a
    * ranked surface). RBO_k = (1−p)·Σ_{d=1..k} p^{d−1}·X_d/d with
    * X_d = |top_d(cur) ∩ top_d(prev)| — X_d counts common items whose
    * max(rank_cur, rank_prev) ≤ d, so the whole curve falls out of
    * one join and a literal depth explode.
    *
    * Exactness: ranks and X_d are integers; the geometric weights are
    * LITERAL constants embedded identically in both engines (no libm
    * pow at query time); each depth term rounds at 9dp into a
    * DECIMAL(28,9) sum; one final 6dp round.
    *
    * Scale: the q435 frames (partial WindowGroupLimit, topK-bounded
    * joins); the depth explode is topK·|common| rows — literal-
    * bounded per week.
    */
  def leaderboardRbo(spark: SparkSession, dir: String, topK: Int = 20,
                     p: Double = 0.9): DataFrame = {
    val dec9 = org.apache.spark.sql.types.DecimalType(28, 9)
    val top = weeklyTopParts(spark, dir, topK)
    val common = top.as("cur").join(top.as("prev"),
        col("cur.l_partkey") === col("prev.l_partkey") &&
          col("cur.week") === col("prev.week") + 1)
      .select(col("cur.week").as("week"),
        greatest(col("cur.rank"), col("prev.rank")).as("maxr"))
    // X_d per depth: common items with maxr <= d; weights are literals
    val weights = (1 to topK).map(d => d -> math.pow(p, d - 1))
    val depths = common
      .select(col("week"), explode(array(weights.map { case (d, _) =>
        struct(lit(d).as("d"), (col("maxr") <= d).cast("long").as("in_d"))
      }: _*)).as("dd"))
      .select(col("week"), col("dd.d").as("d"), col("dd.in_d").as("in_d"))
      .groupBy(col("week"), col("d")).agg(sum(col("in_d")).as("x_d"))
    val wexpr = weights.map { case (d, c) =>
      when(col("d") === d, lit(c)).asInstanceOf[Column]
    }.reduce((a, b) => coalesce(a, b))
    val weeks = top.select(col("week")).distinct().as("a")
      .join(top.select((col("week") + 1).as("week")).distinct().as("b"),
        "week")
    weeks.join(depths, Seq("week"), "left")
      .withColumn("term",
        round(lit(1.0 - p) * col("x_d").cast("double") * wexpr /
          col("d").cast("double"), 9).cast(dec9))
      .groupBy(col("week"))
      .agg(sum(when(col("d") === topK, col("x_d"))).as("n_common_at_k"),
        round(coalesce(sum(col("term")).cast("double"), lit(0.0)), 6)
          .as("rbo"))
      .withColumn("n_common_at_k",
        coalesce(col("n_common_at_k"), lit(0L)))
      .orderBy(col("week"))
  }

  def leaderboardRboSql(topK: Int = 20, p: Double = 0.9): String = {
    val weights = (1 to topK)
      .map(d => s"($d, ${math.pow(p, d - 1)})").mkString(", ")
    s"""WITH ${weeklyTopCtes(topK)}, common AS (
       |  SELECT cur.week,
       |    GREATEST(cur.rank, prev.rank) AS maxr
       |  FROM top cur JOIN top prev
       |    ON prev.l_partkey = cur.l_partkey AND cur.week = prev.week + 1
       |), wt AS (
       |  SELECT * FROM (VALUES $weights) AS t(d, c)
       |), depths AS (
       |  SELECT c.week, w.d,
       |    CAST(SUM(CASE WHEN c.maxr <= w.d THEN 1 ELSE 0 END) AS BIGINT)
       |      AS x_d,
       |    MAX(w.c) AS c
       |  FROM common c, wt w
       |  GROUP BY 1, 2
       |), weeks AS (
       |  SELECT a.week FROM (SELECT DISTINCT week FROM top) a
       |  JOIN (SELECT DISTINCT week + 1 AS week FROM top) b
       |    ON b.week = a.week
       |)
       |SELECT wk.week,
       |  CAST(COALESCE(MAX(CASE WHEN d.d = $topK THEN d.x_d END), 0)
       |    AS BIGINT) AS n_common_at_k,
       |  ROUND(COALESCE(CAST(SUM(CAST(ROUND(${1.0 - p} *
       |    CAST(d.x_d AS DOUBLE) * d.c / CAST(d.d AS DOUBLE), 9)
       |    AS DECIMAL(28,9))) AS DOUBLE), 0.0), 6) AS rbo
       |FROM weeks wk LEFT JOIN depths d ON d.week = wk.week
       |GROUP BY wk.week
       |ORDER BY wk.week""".stripMargin
  }

  /** q459 — price/volume/mix revenue decomposition per part type
    * between the FIRST and LAST ship-year: the FP&A waterfall
    * ΔRev = (p₁−p₀)·q₀  +  p₀·(q₁−q₀)  +  (p₁−p₀)·(q₁−q₀)
    * with p := realized unit price (rev/qty). "Revenue fell 8%" is
    * not actionable; "price held, volume fell, the cross term is
    * noise" is — and because p is DEFINED as rev/qty the three
    * effects sum to ΔRev EXACTLY (an algebraic identity, surfaced as
    * the `resid` column that must print 0.0).
    *
    * Exactness: revenues are integer cents and quantities integer
    * units (decSum); the effects are one shared double chain off
    * those integers, rounded 6dp at display; the identity residual is
    * computed BEFORE rounding and rounds to exactly 0 (spec-pinned).
    * Types absent from a year surface with zeroed sides via the full
    * outer join, never dropped.
    *
    * Scale: two filtered aggregates over one scan (year predicates
    * pushed down), a |types|-row join — the data is touched once.
    */
  def priceVolumeMix(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
      .join(Tables.load(spark, dir, "part")
        .select(col("p_partkey"), col("p_type")),
        col("l_partkey") === col("p_partkey"))
      .withColumn("yr", year(col("l_shipdate")))
      .withColumn("cents",
        round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100,
          0).cast("long"))
      .withColumn("qty", round(col("l_quantity"), 0).cast("long"))
    val yrs = li.agg(min(col("yr")).as("y0"), max(col("yr")).as("y1"))
    val both = li.crossJoin(broadcast(yrs))
      .filter(col("yr") === col("y0") || col("yr") === col("y1"))
      .withColumn("period", when(col("yr") === col("y0"), 0).otherwise(1))
      .groupBy(col("p_type"), col("period"))
      .agg(sum(col("cents")).as("rev"), sum(col("qty")).as("qty"))
    val p0 = both.filter(col("period") === 0)
      .select(col("p_type"), col("rev").as("rev0"), col("qty").as("qty0"))
    val p1 = both.filter(col("period") === 1)
      .select(col("p_type"), col("rev").as("rev1"), col("qty").as("qty1"))
    val j = p0.join(p1, Seq("p_type"), "full_outer")
      .na.fill(0L, Seq("rev0", "qty0", "rev1", "qty1"))
    def price(rev: Column, qty: Column): Column =
      rev.cast("double") / nullif(qty.cast("double"), lit(0.0))
    val jj = j
      .withColumn("pr0", coalesce(price(col("rev0"), col("qty0")), lit(0.0)))
      .withColumn("pr1", coalesce(price(col("rev1"), col("qty1")), lit(0.0)))
      .withColumn("d_rev",
        (col("rev1") - col("rev0")).cast("double") / lit(100.0))
      .withColumn("pe", (col("pr1") - col("pr0")) *
        col("qty0").cast("double") / lit(100.0))
      .withColumn("ve", col("pr0") *
        (col("qty1") - col("qty0")).cast("double") / lit(100.0))
      .withColumn("ce", (col("pr1") - col("pr0")) *
        (col("qty1") - col("qty0")).cast("double") / lit(100.0))
    // + 0.0 normalizes IEEE −0.0 (a tiny negative rounding to zero
    // renders '-0.0' in one engine and '0.0' in the other)
    jj.select(col("p_type"), col("qty0"), col("qty1"),
        (round(col("d_rev"), 6) + lit(0.0)).as("delta_rev"),
        (round(col("pe"), 6) + lit(0.0)).as("price_effect"),
        (round(col("ve"), 6) + lit(0.0)).as("volume_effect"),
        (round(col("ce"), 6) + lit(0.0)).as("cross_effect"),
        (round(col("d_rev") - (col("pe") + col("ve") + col("ce")), 6) +
          lit(0.0)).as("resid"))
      .orderBy(col("p_type"))
  }

  val priceVolumeMixSql: String =
    """WITH li AS (
      |  SELECT p.p_type, year(l.l_shipdate) AS yr,
      |    CAST(ROUND(l.l_extendedprice * (1.0 - l.l_discount) * 100, 0)
      |      AS BIGINT) AS cents,
      |    CAST(ROUND(l.l_quantity, 0) AS BIGINT) AS qty
      |  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      |), yrs AS (
      |  SELECT MIN(yr) AS y0, MAX(yr) AS y1 FROM li
      |), agg AS (
      |  SELECT li.p_type,
      |    CASE WHEN li.yr = y.y0 THEN 0 ELSE 1 END AS period,
      |    CAST(SUM(li.cents) AS BIGINT) AS rev,
      |    CAST(SUM(li.qty) AS BIGINT) AS qty
      |  FROM li CROSS JOIN yrs y
      |  WHERE li.yr = y.y0 OR li.yr = y.y1
      |  GROUP BY 1, 2
      |), j AS (
      |  SELECT COALESCE(a.p_type, b.p_type) AS p_type,
      |    COALESCE(a.rev, 0) AS rev0, COALESCE(a.qty, 0) AS qty0,
      |    COALESCE(b.rev, 0) AS rev1, COALESCE(b.qty, 0) AS qty1
      |  FROM (SELECT * FROM agg WHERE period = 0) a
      |  FULL OUTER JOIN (SELECT * FROM agg WHERE period = 1) b
      |    ON b.p_type = a.p_type
      |), eff AS (
      |  SELECT p_type, qty0, qty1,
      |    CAST(rev1 - rev0 AS DOUBLE) / 100.0 AS d_rev,
      |    (COALESCE(CAST(rev1 AS DOUBLE)
      |        / NULLIF(CAST(qty1 AS DOUBLE), 0.0), 0.0)
      |      - COALESCE(CAST(rev0 AS DOUBLE)
      |        / NULLIF(CAST(qty0 AS DOUBLE), 0.0), 0.0))
      |      * CAST(qty0 AS DOUBLE) / 100.0 AS pe,
      |    COALESCE(CAST(rev0 AS DOUBLE)
      |        / NULLIF(CAST(qty0 AS DOUBLE), 0.0), 0.0)
      |      * CAST(qty1 - qty0 AS DOUBLE) / 100.0 AS ve,
      |    (COALESCE(CAST(rev1 AS DOUBLE)
      |        / NULLIF(CAST(qty1 AS DOUBLE), 0.0), 0.0)
      |      - COALESCE(CAST(rev0 AS DOUBLE)
      |        / NULLIF(CAST(qty0 AS DOUBLE), 0.0), 0.0))
      |      * CAST(qty1 - qty0 AS DOUBLE) / 100.0 AS ce
      |  FROM j
      |)
      |SELECT p_type, qty0, qty1,
      |  ROUND(d_rev, 6) + 0.0 AS delta_rev,
      |  ROUND(pe, 6) + 0.0 AS price_effect,
      |  ROUND(ve, 6) + 0.0 AS volume_effect,
      |  ROUND(ce, 6) + 0.0 AS cross_effect,
      |  ROUND(d_rev - (pe + ve + ce), 6) + 0.0 AS resid
      |FROM eff
      |ORDER BY p_type""".stripMargin

  /** q462 — TOPSIS multi-criteria supplier ranking: three cost
    * criteria per supplier (mean order→ship lag, mean realized unit
    * price, return rate), min–max normalized, scored by closeness to
    * the ideal point C = d⁻/(d⁺ + d⁻) — the standard MCDM answer to
    * "which supplier is best OVERALL" that a single-criterion sort
    * cannot give (q229 picks cheapest; q149 ranks lead time; a
    * procurement decision needs them RECONCILED, and TOPSIS is the
    * textbook reconciliation).
    *
    * Exactness: all three criteria are ratios of integer/decimal
    * sums; min–max bounds are exact aggregates; the distance and
    * closeness chain is written identically on both engines
    * (NULLIF-guarded degenerate ranges contribute 0 — a criterion
    * with no spread cannot discriminate), rounded 6dp BEFORE the
    * final fully-tiebroken rank.
    *
    * Scale: one lineitem+orders aggregate keyed by supplier, a 1-row
    * bounds broadcast, a |suppliers|-row score frame.
    */
  def topsisSuppliers(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val li = Tables.load(spark, dir, "lineitem")
      .join(Tables.load(spark, dir, "orders")
        .select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .withColumn("lag_days",
        datediff(col("l_shipdate"), col("o_orderdate")).cast("long"))
      .withColumn("cents",
        round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100,
          0).cast("long"))
      .withColumn("qty", round(col("l_quantity"), 0).cast("long"))
      .withColumn("ret", (col("l_returnflag") === "R").cast("long"))
    val crit = li.groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("n"),
        (sum(col("lag_days")).cast("double") /
          count(lit(1)).cast("double")).as("c_lag"),
        (sum(col("cents")).cast("double") /
          nullif(sum(col("qty")).cast("double"), lit(0.0))).as("c_price"),
        (sum(col("ret")).cast("double") /
          count(lit(1)).cast("double")).as("c_ret"))
    val bounds = crit.agg(
      min(col("c_lag")).as("lo1"), max(col("c_lag")).as("hi1"),
      min(col("c_price")).as("lo2"), max(col("c_price")).as("hi2"),
      min(col("c_ret")).as("lo3"), max(col("c_ret")).as("hi3"))
    def norm(c: Column, lo: Column, hi: Column): Column =
      coalesce((c - lo) / nullif(hi - lo, lit(0.0)), lit(0.0))
    val scored = crit.crossJoin(broadcast(bounds))
      .withColumn("n1", norm(col("c_lag"), col("lo1"), col("hi1")))
      .withColumn("n2", norm(col("c_price"), col("lo2"), col("hi2")))
      .withColumn("n3", norm(col("c_ret"), col("lo3"), col("hi3")))
      // all three are COST criteria: ideal = 0, anti-ideal = 1
      .withColumn("d_pos", sqrt(col("n1") * col("n1") +
        col("n2") * col("n2") + col("n3") * col("n3")))
      .withColumn("d_neg", sqrt(
        (lit(1.0) - col("n1")) * (lit(1.0) - col("n1")) +
        (lit(1.0) - col("n2")) * (lit(1.0) - col("n2")) +
        (lit(1.0) - col("n3")) * (lit(1.0) - col("n3"))))
      .withColumn("closeness", round(col("d_neg") /
        nullif(col("d_pos") + col("d_neg"), lit(0.0)), 6))
    scored.withColumn("rank", row_number().over(Window
        .orderBy(col("closeness").desc_nulls_last, col("l_suppkey"))))
      .select(col("l_suppkey").as("s_suppkey"), col("n").as("n_lineitems"),
        round(col("c_lag"), 6).as("mean_lag_days"),
        round(col("c_price"), 6).as("mean_unit_cents"),
        round(col("c_ret"), 6).as("return_rate"),
        col("closeness"), col("rank").cast("int").as("rank"))
      .orderBy(col("rank"))
  }

  val topsisSuppliersSql: String =
    """WITH li AS (
      |  SELECT l.l_suppkey,
      |    date_diff('day', o.o_orderdate, l.l_shipdate) AS lag_days,
      |    CAST(ROUND(l.l_extendedprice * (1.0 - l.l_discount) * 100, 0)
      |      AS BIGINT) AS cents,
      |    CAST(ROUND(l.l_quantity, 0) AS BIGINT) AS qty,
      |    CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END AS ret
      |  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      |), crit AS (
      |  SELECT l_suppkey, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(lag_days) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
      |      AS c_lag,
      |    CAST(SUM(cents) AS DOUBLE)
      |      / NULLIF(CAST(SUM(qty) AS DOUBLE), 0.0) AS c_price,
      |    CAST(SUM(ret) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS c_ret
      |  FROM li GROUP BY 1
      |), bounds AS (
      |  SELECT MIN(c_lag) AS lo1, MAX(c_lag) AS hi1,
      |    MIN(c_price) AS lo2, MAX(c_price) AS hi2,
      |    MIN(c_ret) AS lo3, MAX(c_ret) AS hi3
      |  FROM crit
      |), scored AS (
      |  SELECT c.*,
      |    COALESCE((c.c_lag - b.lo1) / NULLIF(b.hi1 - b.lo1, 0.0), 0.0)
      |      AS n1,
      |    COALESCE((c.c_price - b.lo2) / NULLIF(b.hi2 - b.lo2, 0.0), 0.0)
      |      AS n2,
      |    COALESCE((c.c_ret - b.lo3) / NULLIF(b.hi3 - b.lo3, 0.0), 0.0)
      |      AS n3
      |  FROM crit c CROSS JOIN bounds b
      |), dist AS (
      |  SELECT *,
      |    ROUND(sqrt((1.0 - n1) * (1.0 - n1) + (1.0 - n2) * (1.0 - n2)
      |        + (1.0 - n3) * (1.0 - n3))
      |      / NULLIF(sqrt(n1 * n1 + n2 * n2 + n3 * n3)
      |        + sqrt((1.0 - n1) * (1.0 - n1) + (1.0 - n2) * (1.0 - n2)
      |          + (1.0 - n3) * (1.0 - n3)), 0.0), 6) AS closeness
      |  FROM scored
      |)
      |SELECT l_suppkey AS s_suppkey, n AS n_lineitems,
      |  ROUND(c_lag, 6) AS mean_lag_days,
      |  ROUND(c_price, 6) AS mean_unit_cents,
      |  ROUND(c_ret, 6) AS return_rate,
      |  closeness,
      |  CAST(row_number() OVER (ORDER BY closeness DESC NULLS LAST,
      |    l_suppkey) AS INT) AS rank
      |FROM dist
      |ORDER BY rank""".stripMargin

  /** q423 — robust price-dispersion ranking: the coefficient of
    * quartile deviation (Q₃−Q₁)/(Q₃+Q₁) of unit prices per part type
    * — the scale-free dispersion a skewed price distribution needs
    * (q401's MAD flags single bad rows; CQD ranks which CATEGORIES
    * have structurally noisy pricing, which is a procurement signal,
    * not a data bug). Pure order statistics: no moment is trusted on
    * a heavy tail q414 may have just flagged.
    *
    * Exactness: unit prices are q401's integer micro-units; Q₁/Q₃ are
    * exact type-1 rank picks; CQD is one rounded division of integer
    * sums.
    */
  def priceDispersionCqd(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val types = Tables.load(spark, dir, "part")
      .select(col("p_partkey").as("l_partkey"), col("p_type"))
    val li = Tables.load(spark, dir, "lineitem")
      .select(col("l_partkey"), col("l_orderkey"), col("l_linenumber"),
        round(col("l_extendedprice") * 100, 0).cast("long").as("cents"),
        col("l_quantity").cast("long").as("qty"))
      .withColumn("u_e6", expr("(cents * 10000) div qty"))
      .join(broadcast(types), "l_partkey")
    val w = Window.partitionBy(col("p_type"))
      .orderBy(col("u_e6"), col("l_orderkey"), col("l_linenumber"))
    li.withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(
        Window.partitionBy(col("p_type"))))
      .groupBy(col("p_type"))
      .agg(max(col("n")).as("n_rows"),
        max(when(col("rn") ===
          expr("CAST(CEIL(0.25 * CAST(n AS DOUBLE)) AS BIGINT)"),
          col("u_e6"))).as("q1_e6"),
        max(when(col("rn") ===
          expr("CAST(CEIL(0.75 * CAST(n AS DOUBLE)) AS BIGINT)"),
          col("u_e6"))).as("q3_e6"))
      .select(col("p_type"), col("n_rows"),
        (col("q1_e6").cast("double") / 1000000).as("q1"),
        (col("q3_e6").cast("double") / 1000000).as("q3"),
        round((col("q3_e6") - col("q1_e6")).cast("double") /
          (col("q3_e6") + col("q1_e6")).cast("double"), 6).as("cqd"))
      .orderBy(col("p_type"))
  }

  val priceDispersionCqdSql: String =
    """WITH li AS (
      |  SELECT t.p_type, l.l_orderkey, l.l_linenumber,
      |    (CAST(ROUND(l.l_extendedprice * 100, 0) AS BIGINT) * 10000)
      |      // CAST(l.l_quantity AS BIGINT) AS u_e6
      |  FROM lineitem l JOIN part t ON t.p_partkey = l.l_partkey
      |), ranked AS (
      |  SELECT *,
      |    CAST(row_number() OVER (PARTITION BY p_type
      |      ORDER BY u_e6, l_orderkey, l_linenumber) AS BIGINT) AS rn,
      |    COUNT(*) OVER (PARTITION BY p_type) AS n
      |  FROM li
      |)
      |SELECT p_type, CAST(MAX(n) AS BIGINT) AS n_rows,
      |  CAST(MAX(CASE WHEN rn = CAST(CEIL(0.25 * CAST(n AS DOUBLE))
      |    AS BIGINT) THEN u_e6 END) AS DOUBLE) / 1000000 AS q1,
      |  CAST(MAX(CASE WHEN rn = CAST(CEIL(0.75 * CAST(n AS DOUBLE))
      |    AS BIGINT) THEN u_e6 END) AS DOUBLE) / 1000000 AS q3,
      |  ROUND(CAST(MAX(CASE WHEN rn = CAST(CEIL(0.75 * CAST(n AS DOUBLE))
      |      AS BIGINT) THEN u_e6 END)
      |    - MAX(CASE WHEN rn = CAST(CEIL(0.25 * CAST(n AS DOUBLE))
      |      AS BIGINT) THEN u_e6 END) AS DOUBLE)
      |    / CAST(MAX(CASE WHEN rn = CAST(CEIL(0.75 * CAST(n AS DOUBLE))
      |      AS BIGINT) THEN u_e6 END)
      |    + MAX(CASE WHEN rn = CAST(CEIL(0.25 * CAST(n AS DOUBLE))
      |      AS BIGINT) THEN u_e6 END) AS DOUBLE), 6) AS cqd
      |FROM ranked
      |GROUP BY p_type
      |ORDER BY p_type""".stripMargin

  /** q473 — Simpson's-paradox screen on the discount→quantity
    * association: the OLS slope of quantity on discount computed
    * GLOBALLY and within every part-type stratum, each stratum
    * flagged when its sign contradicts the global — the aggregation
    * trap detector (a pooled "discounts don't move volume" can be
    * pure composition effect when every stratum individually says
    * they do). The screen every pooled-metric dashboard needs before
    * anyone acts on a pooled slope.
    *
    * Exactness: the q102 discipline verbatim — per-term 6dp rounds
    * into DECIMAL(28,6) sufficient-statistic sums (one aggregate
    * computes every stratum; the global row is the SAME sums re-added
    * over strata, so pooled == Σ stratum sums exactly), slope in one
    * fixed IEEE operand order, NULLIF degeneracy.
    *
    * Scale: one fact-scan aggregate keyed by p_type after the
    * part-dim join; the global re-aggregate runs over |types| rows;
    * flags are a broadcast 1-row join.
    */
  def simpsonScreen(spark: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(28, 6)
    def dsumDec(c: Column): Column = sum(c.cast(dec))
    val li = Tables.load(spark, dir, "lineitem")
    val part = Tables.load(spark, dir, "part")
      .select(col("p_partkey"), col("p_type"))
    val base = li.join(part, col("l_partkey") === col("p_partkey"))
      .select(col("p_type"), col("l_discount").as("x"), col("l_quantity").as("y"))
    val strata = base.groupBy(col("p_type")).agg(
      count(lit(1)).as("n"),
      dsumDec(col("x")).as("sx"),
      dsumDec(col("y")).as("sy"),
      dsumDec(round(col("x") * col("x"), 6)).as("sxx"),
      dsumDec(round(col("x") * col("y"), 6)).as("sxy"))
      .transform(graft.Iterate.cut)
    def slopeOf(df: DataFrame): DataFrame = df
      .withColumn("den", nullif(
        col("n").cast("double") * col("sxx").cast("double")
          - col("sx").cast("double") * col("sx").cast("double"), lit(0.0)))
      .withColumn("slope", round(
        (col("n").cast("double") * col("sxy").cast("double")
          - col("sx").cast("double") * col("sy").cast("double")) / col("den"), 6))
    val g = slopeOf(strata.agg(
      sum(col("n")).as("n"), sum(col("sx")).as("sx"), sum(col("sy")).as("sy"),
      sum(col("sxx")).as("sxx"), sum(col("sxy")).as("sxy")))
      .select(col("slope").as("global_slope"))
    slopeOf(strata).crossJoin(broadcast(g))
      .select(col("p_type"), col("n"), col("slope"), col("global_slope"),
        (col("slope") * col("global_slope") < 0).as("flips_global"))
      .orderBy(col("p_type"))
  }

  /** q494 — Hill-number diversity ladder of supplier revenue per
    * nation: the three classic orders on one row — ⁰D = richness
    * (supplier count), ¹D = exp(Shannon) (the "effective number of
    * suppliers" weighting by share), ²D = 1/Σp² (inverse Simpson,
    * dominance-weighted) — plus evenness ¹D/⁰D. Ecology's unified
    * diversity scale applied to supply-base risk: q357's HHI is
    * 10⁴/²D in these units; the LADDER says whether concentration
    * comes from few suppliers (⁰D low) or from skew among many
    * (⁰D high, ²D low) — different procurement fixes.
    *
    * Exactness: revenues are decimal-exact; each share is one IEEE
    * division; the p·ln p and p² terms round 6dp into DECIMAL(28,6)
    * sums (order-free); the three D values are single guarded chains
    * rounded once.
    *
    * Scale: one supplier-keyed fact aggregate, a broadcast
    * |nations|-row total join back, one nation-keyed term aggregate.
    */
  def hillDiversity(spark: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(28, 6)
    val li = Tables.load(spark, dir, "lineitem")
    val sup = Tables.load(spark, dir, "supplier")
      .select(col("s_suppkey"), col("s_nationkey"))
    val nation = Tables.load(spark, dir, "nation")
      .select(col("n_nationkey"), col("n_name"))
    val rev = li.groupBy(col("l_suppkey"))
      .agg(decSum(round(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6))
        .as("r"))
      .join(sup, col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .select(col("n_name").as("nation"), col("r"))
      .filter(col("r") > 0)
    val tot = rev.groupBy(col("nation"))
      .agg(sum(col("r").cast(dec)).cast("double").as("r_tot"))
    rev.join(broadcast(tot), "nation")
      .withColumn("p", col("r") / col("r_tot"))
      .withColumn("plnp", round(col("p") * log(col("p")), 6))
      .withColumn("p2", round(col("p") * col("p"), 6))
      .groupBy(col("nation"))
      .agg(count(lit(1)).as("hill0"),
        sum(col("plnp").cast(dec)).cast("double").as("s_plnp"),
        sum(col("p2").cast(dec)).cast("double").as("s_p2"))
      .select(col("nation"), col("hill0"),
        round(exp(-col("s_plnp")), 6).as("hill1"),
        round(lit(1.0) / nullif(col("s_p2"), lit(0.0)), 6).as("hill2"),
        round(exp(-col("s_plnp")) / col("hill0").cast("double"), 6)
          .as("evenness"))
      .orderBy(col("nation"))
  }

  val hillDiversitySql: String =
    """WITH rev AS (
      |  SELECT s.s_nationkey,
      |    CAST(SUM(CAST(ROUND(l.l_extendedprice * (1.0 - l.l_discount), 6)
      |      AS DECIMAL(18,6))) AS DOUBLE) AS r
      |  FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
      |  GROUP BY l.l_suppkey, s.s_nationkey
      |  HAVING SUM(CAST(ROUND(l.l_extendedprice * (1.0 - l.l_discount), 6)
      |    AS DECIMAL(18,6))) > 0
      |), named AS (
      |  SELECT nn.n_name AS nation, r.r
      |  FROM rev r JOIN nation nn ON nn.n_nationkey = r.s_nationkey
      |), tot AS (
      |  SELECT nation, CAST(SUM(CAST(r AS DECIMAL(28,6))) AS DOUBLE) AS r_tot
      |  FROM named GROUP BY 1
      |), terms AS (
      |  SELECT n.nation, n.r / t.r_tot AS p,
      |    ROUND((n.r / t.r_tot) * ln(n.r / t.r_tot), 6) AS plnp,
      |    ROUND((n.r / t.r_tot) * (n.r / t.r_tot), 6) AS p2
      |  FROM named n JOIN tot t ON t.nation = n.nation
      |), agg AS (
      |  SELECT nation, CAST(COUNT(*) AS BIGINT) AS hill0,
      |    CAST(SUM(CAST(plnp AS DECIMAL(28,6))) AS DOUBLE) AS s_plnp,
      |    CAST(SUM(CAST(p2 AS DECIMAL(28,6))) AS DOUBLE) AS s_p2
      |  FROM terms GROUP BY 1
      |)
      |SELECT nation, hill0,
      |  ROUND(exp(-s_plnp), 6) AS hill1,
      |  ROUND(1.0 / NULLIF(s_p2, 0.0), 6) AS hill2,
      |  ROUND(exp(-s_plnp) / CAST(hill0 AS DOUBLE), 6) AS evenness
      |FROM agg
      |ORDER BY nation""".stripMargin

  /** q482 — Borda-count consensus supplier ranking: each supplier is
    * ranked separately by mean ship lag (asc), total discounted
    * revenue (desc) and return rate (asc) — the SAME three criteria
    * q462's TOPSIS trades off — and the Borda score is the plain SUM
    * of the three ranks. Where TOPSIS needs normalization choices and
    * an ideal point, Borda is the assumption-free consensus (social
    * choice's answer to q462's MCDM answer); rank disagreements
    * between the two graded tables are themselves a sensitivity
    * readout. Top-20 by consensus.
    *
    * Exactness: criteria reduce to integer sums / decimal-exact
    * revenue; every rank is a fully-tiebroken row_number, so Borda
    * scores are EXACT integers; ties in the consensus order break by
    * suppkey.
    *
    * Scale: one fact aggregate keyed by supplier, then three
    * supplier-cardinality rank windows (the acknowledged q90-family
    * dimension-sized sort) and a top-20.
    */
  def bordaSuppliers(spark: SparkSession, dir: String, topK: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val li = Tables.load(spark, dir, "lineitem")
    val ord = Tables.load(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_orderdate"))
    import Temporal.dayOf
    val base = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .withColumn("lag_days",
        expr(dayOf("l_shipdate")) - expr(dayOf("o_orderdate")))
    val m = base.groupBy(col("l_suppkey").as("suppkey"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("lag_days")).as("lag_sum"),
        decSum(round(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6))
          .as("revenue"),
        sum((col("l_returnflag") === "R").cast("long")).as("n_ret"))
      .withColumn("mean_lag", col("lag_sum").cast("double") / col("n_items").cast("double"))
      .withColumn("ret_rate", col("n_ret").cast("double") / col("n_items").cast("double"))
    val r1 = Window.orderBy(col("mean_lag").asc, col("suppkey"))
    val r2 = Window.orderBy(col("revenue").desc, col("suppkey"))
    val r3 = Window.orderBy(col("ret_rate").asc, col("suppkey"))
    m.withColumn("rank_lag", row_number().over(r1))
      .withColumn("rank_rev", row_number().over(r2))
      .withColumn("rank_ret", row_number().over(r3))
      .withColumn("borda", (col("rank_lag") + col("rank_rev") + col("rank_ret")).cast("long"))
      .orderBy(col("borda").asc, col("suppkey"))
      .limit(topK)
      .withColumn("consensus_rank",
        row_number().over(Window.orderBy(col("borda").asc, col("suppkey"))))
      .select(col("consensus_rank"), col("suppkey"), col("borda"),
        col("rank_lag"), col("rank_rev"), col("rank_ret"))
      .orderBy(col("consensus_rank"))
  }

  def bordaSuppliersSql(topK: Int = 20): String =
    s"""WITH base AS (
      |  SELECT l.l_suppkey AS suppkey,
      |    epoch_ms(l.l_shipdate) // 86400000
      |      - epoch_ms(o.o_orderdate) // 86400000 AS lag_days,
      |    l.l_extendedprice, l.l_discount, l.l_returnflag
      |  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      |), m AS (
      |  SELECT suppkey, CAST(COUNT(*) AS BIGINT) AS n_items,
      |    CAST(SUM(lag_days) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_lag,
      |    CAST(SUM(CAST(ROUND(l_extendedprice * (1.0 - l_discount), 6)
      |      AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
      |    CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS DOUBLE)
      |      / CAST(COUNT(*) AS DOUBLE) AS ret_rate
      |  FROM base GROUP BY 1
      |), ranked AS (
      |  SELECT suppkey,
      |    ROW_NUMBER() OVER (ORDER BY mean_lag ASC, suppkey) AS rank_lag,
      |    ROW_NUMBER() OVER (ORDER BY revenue DESC, suppkey) AS rank_rev,
      |    ROW_NUMBER() OVER (ORDER BY ret_rate ASC, suppkey) AS rank_ret
      |  FROM m
      |), borda AS (
      |  SELECT suppkey, rank_lag, rank_rev, rank_ret,
      |    CAST(rank_lag + rank_rev + rank_ret AS BIGINT) AS borda
      |  FROM ranked
      |  ORDER BY borda ASC, suppkey LIMIT $topK
      |)
      |SELECT CAST(ROW_NUMBER() OVER (ORDER BY borda ASC, suppkey) AS INT)
      |    AS consensus_rank,
      |  suppkey, borda,
      |  CAST(rank_lag AS INT) AS rank_lag,
      |  CAST(rank_rev AS INT) AS rank_rev,
      |  CAST(rank_ret AS INT) AS rank_ret
      |FROM borda
      |ORDER BY consensus_rank""".stripMargin

  /** q475 — Cochran–Mantel–Haenszel pooled association: the 2×2 table
    * (deep discount ≥ 5% × returned) per part-type stratum, combined
    * into the MH common odds ratio Σ(a·d/n)/Σ(b·c/n) and the CMH χ²
    * with continuity correction — the CATEGORICAL companion of q473's
    * Simpson slope screen: "does discounting associate with returns
    * once part type is controlled for", the stratified test a pooled
    * 2×2 gets wrong whenever type mixes shift.
    *
    * Exactness: all four cells are integer counts off ONE fact
    * aggregate; per-stratum terms (a·d/n, b·c/n, E, V) round 6dp into
    * DECIMAL(18,6) sums (order-free across strata); the OR, χ² and
    * verdict are one fixed IEEE chain against the literal 3.841459
    * (χ²₀.₉₅,₁) cut.
    *
    * Scale: one part-dim join + one |types|-row aggregate; everything
    * after is strata-sized.
    */
  def cmhPooled(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
    val part = Tables.load(spark, dir, "part")
      .select(col("p_partkey"), col("p_type"))
    val cells = li.join(part, col("l_partkey") === col("p_partkey"))
      .withColumn("exp", (col("l_discount") >= 0.05).cast("long"))
      .withColumn("ret", (col("l_returnflag") === "R").cast("long"))
      .groupBy(col("p_type"))
      .agg(sum(col("exp") * col("ret")).as("a"),
        sum((lit(1L) - col("exp")) * col("ret")).as("b"),
        sum(col("exp") * (lit(1L) - col("ret"))).as("c"),
        sum((lit(1L) - col("exp")) * (lit(1L) - col("ret"))).as("d"))
      .withColumn("n", col("a") + col("b") + col("c") + col("d"))
    val nD = col("n").cast("double")
    val agg = cells.agg(
      count(lit(1)).as("n_strata"),
      sum(col("a")).as("sa"),
      decSum(round(col("a").cast("double") * col("d").cast("double") / nD, 6))
        .as("s_ad"),
      decSum(round(col("b").cast("double") * col("c").cast("double") / nD, 6))
        .as("s_bc"),
      decSum(round((col("a") + col("b")).cast("double")
        * (col("a") + col("c")).cast("double") / nD, 6)).as("s_e"),
      decSum(round((col("a") + col("b")).cast("double")
        * (col("c") + col("d")).cast("double")
        * (col("a") + col("c")).cast("double")
        * (col("b") + col("d")).cast("double")
        / nullif(nD * nD * (nD - 1.0), lit(0.0)), 6)).as("s_v"))
    agg.select(col("n_strata"),
        round(col("s_ad") / nullif(col("s_bc"), lit(0.0)), 6).as("or_cmh"),
        round((abs(col("sa").cast("double") - col("s_e")) - 0.5)
          * (abs(col("sa").cast("double") - col("s_e")) - 0.5)
          / nullif(col("s_v"), lit(0.0)), 6).as("chi2"))
      .withColumn("verdict",
        when(col("chi2").isNull, lit("degenerate"))
          .when(col("chi2") > 3.841459, lit("associated"))
          .otherwise(lit("no_association")))
  }

  val cmhPooledSql: String =
    """WITH cells AS (
      |  SELECT p.p_type,
      |    CAST(SUM(CASE WHEN l_discount >= 0.05 AND l_returnflag = 'R'
      |      THEN 1 ELSE 0 END) AS BIGINT) AS a,
      |    CAST(SUM(CASE WHEN l_discount < 0.05 AND l_returnflag = 'R'
      |      THEN 1 ELSE 0 END) AS BIGINT) AS b,
      |    CAST(SUM(CASE WHEN l_discount >= 0.05 AND l_returnflag <> 'R'
      |      THEN 1 ELSE 0 END) AS BIGINT) AS c,
      |    CAST(SUM(CASE WHEN l_discount < 0.05 AND l_returnflag <> 'R'
      |      THEN 1 ELSE 0 END) AS BIGINT) AS d
      |  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      |  GROUP BY 1
      |), terms AS (
      |  SELECT a, b, c, d, a + b + c + d AS n,
      |    CAST(a + b + c + d AS DOUBLE) AS nd
      |  FROM cells
      |), agg AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_strata,
      |    CAST(SUM(a) AS BIGINT) AS sa,
      |    CAST(SUM(CAST(ROUND(CAST(a AS DOUBLE) * CAST(d AS DOUBLE) / nd, 6)
      |      AS DECIMAL(18,6))) AS DOUBLE) AS s_ad,
      |    CAST(SUM(CAST(ROUND(CAST(b AS DOUBLE) * CAST(c AS DOUBLE) / nd, 6)
      |      AS DECIMAL(18,6))) AS DOUBLE) AS s_bc,
      |    CAST(SUM(CAST(ROUND(CAST(a + b AS DOUBLE) * CAST(a + c AS DOUBLE)
      |      / nd, 6) AS DECIMAL(18,6))) AS DOUBLE) AS s_e,
      |    CAST(SUM(CAST(ROUND(CAST(a + b AS DOUBLE) * CAST(c + d AS DOUBLE)
      |      * CAST(a + c AS DOUBLE) * CAST(b + d AS DOUBLE)
      |      / NULLIF(nd * nd * (nd - 1.0), 0.0), 6) AS DECIMAL(18,6))) AS DOUBLE) AS s_v
      |  FROM terms
      |), scored AS (
      |  SELECT n_strata,
      |    ROUND(s_ad / NULLIF(s_bc, 0.0), 6) AS or_cmh,
      |    ROUND((ABS(CAST(sa AS DOUBLE) - s_e) - 0.5)
      |      * (ABS(CAST(sa AS DOUBLE) - s_e) - 0.5)
      |      / NULLIF(s_v, 0.0), 6) AS chi2
      |  FROM agg
      |)
      |SELECT n_strata, or_cmh, chi2,
      |  CASE WHEN chi2 IS NULL THEN 'degenerate'
      |    WHEN chi2 > 3.841459 THEN 'associated'
      |    ELSE 'no_association' END AS verdict
      |FROM scored""".stripMargin

  val simpsonScreenSql: String =
    """WITH base AS (
      |  SELECT p.p_type, l.l_discount AS x, l.l_quantity AS y
      |  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      |), strata AS (
      |  SELECT p_type, CAST(COUNT(*) AS BIGINT) AS n,
      |    SUM(CAST(x AS DECIMAL(28,6))) AS sx,
      |    SUM(CAST(y AS DECIMAL(28,6))) AS sy,
      |    SUM(CAST(ROUND(x * x, 6) AS DECIMAL(28,6))) AS sxx,
      |    SUM(CAST(ROUND(x * y, 6) AS DECIMAL(28,6))) AS sxy
      |  FROM base GROUP BY 1
      |), s AS (
      |  SELECT p_type, n,
      |    ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
      |        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |      / NULLIF(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0.0), 6) AS slope
      |  FROM strata
      |), g AS (
      |  SELECT ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
      |        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |      / NULLIF(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0.0), 6) AS global_slope
      |  FROM (
      |    SELECT CAST(SUM(n) AS BIGINT) AS n, SUM(sx) AS sx, SUM(sy) AS sy,
      |      SUM(sxx) AS sxx, SUM(sxy) AS sxy
      |    FROM strata
      |  )
      |)
      |SELECT s.p_type, s.n, s.slope, g.global_slope,
      |  s.slope * g.global_slope < 0 AS flips_global
      |FROM s CROSS JOIN g
      |ORDER BY s.p_type""".stripMargin

  /** q503 — Atkinson inequality index (ε = 1) of customer spend per
    * nation: A = 1 − EDE/mean, where EDE = exp(mean(ln x)) is the
    * "equally-distributed equivalent" spend — the welfare-weighted
    * inequality number that, unlike Gini (q333) and Theil (q484),
    * carries an explicit aversion parameter and answers "what equal
    * spend would make society indifferent to this distribution". At
    * ε = 1 the index is 1 − geometric/arithmetic mean — exactly the
    * AM–GM gap. Completes the inequality shelf: Gini (rank-based),
    * Theil (log-index decomposition), Atkinson (welfare).
    *
    * Exactness: per-customer spend totals are decimal sums; ln terms
    * round to 6dp and sum as DECIMAL (the q56/q103 log convention);
    * EDE and the final ratio are fixed-operand-order double math
    * rounded once. Spend > 0 always (o_totalprice positive), so ln
    * never sees zero; single-customer nations yield A = 0 honestly.
    *
    * Scale: one customer-keyed aggregate, one broadcast dim join, a
    * |nations|-row readout — the q484 shape.
    */
  def atkinsonIndex(spark: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(28, 6)
    val spend = Tables.load(spark, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(decSum(col("o_totalprice")).as("x"))
    val cust = Tables.load(spark, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey"))
    val nation = Tables.load(spark, dir, "nation")
      .select(col("n_nationkey"), col("n_name"))
    spend.join(cust, col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"))
      .agg(count(lit(1)).as("n_customers"),
        sum(col("x").cast(dec)).cast("double").as("sx"),
        sum(round(log(col("x")), 6).cast(dec)).cast("double").as("slnx"))
      .select(col("nation"), col("n_customers"),
        round(col("sx") / col("n_customers").cast("double"), 6)
          .as("mean_spend"),
        round(exp(col("slnx") / col("n_customers").cast("double")), 6)
          .as("ede_spend"),
        (round(lit(1.0) -
          exp(col("slnx") / col("n_customers").cast("double")) /
            (col("sx") / col("n_customers").cast("double")), 6) + lit(0.0))
          .as("atkinson"))
      .orderBy(col("nation"))
  }

  val atkinsonIndexSql: String =
    """WITH spend AS (
      |  SELECT o_custkey,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS x
      |  FROM orders GROUP BY 1
      |), agg AS (
      |  SELECT n.n_name AS nation, COUNT(*) AS n_customers,
      |    CAST(SUM(CAST(s.x AS DECIMAL(28,6))) AS DOUBLE) AS sx,
      |    CAST(SUM(CAST(ROUND(ln(s.x), 6) AS DECIMAL(28,6))) AS DOUBLE) AS slnx
      |  FROM spend s
      |  JOIN customer c ON c.c_custkey = s.o_custkey
      |  JOIN nation n ON n.n_nationkey = c.c_nationkey
      |  GROUP BY 1
      |)
      |SELECT nation, CAST(n_customers AS BIGINT) AS n_customers,
      |  ROUND(sx / CAST(n_customers AS DOUBLE), 6) AS mean_spend,
      |  ROUND(exp(slnx / CAST(n_customers AS DOUBLE)), 6) AS ede_spend,
      |  ROUND(1.0 - exp(slnx / CAST(n_customers AS DOUBLE))
      |    / (sx / CAST(n_customers AS DOUBLE)), 6) + 0.0 AS atkinson
      |FROM agg ORDER BY nation""".stripMargin

  /** q526 — shift-share decomposition of (region × part-type) revenue
    * growth between the first and last ship years: ΔRev splits into
    * the NATIONAL effect (base × overall growth — the tide), the
    * INDUSTRY-MIX effect (base × (type growth − overall) — picked
    * growing or shrinking product lines), and the COMPETITIVE effect
    * (the remainder — out/under-performed the line itself). The
    * regional-economics standard that answers "did this region grow
    * because of WHERE it sells or WHAT it sells", q459's
    * price/volume/mix discipline aimed at the region axis.
    *
    * Exactness: revenues are 6dp-rounded-term decimal sums; the
    * national and mix effects round once at 6dp and the competitive
    * effect is DEFINED as Δ − national − mix on those rounded values,
    * so the three effects sum to the exact decimal Δ BY CONSTRUCTION
    * (the q459 identity discipline, stated rather than hoped); cells
    * with zero base revenue surface NULL growth via NULLIF and fold
    * their whole Δ into the competitive column (a new product line is
    * pure competitive effect).
    *
    * Scale: one fact scan with the two dims broadcast, a
    * (region × type × 2-year) aggregate, then |regions|·|types|-row
    * arithmetic with two 1-row/|types|-row broadcast growth rates.
    */
  def shiftShareDecomposition(spark: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(28, 6)
    val li = Tables.load(spark, dir, "lineitem")
      .withColumn("rev", round(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6))
      .withColumn("yr", year(col("l_shipdate")))
    val span = li.agg(min(col("yr")).as("y0"), max(col("yr")).as("y1"))
    val part = broadcast(Tables.load(spark, dir, "part")
      .select(col("p_partkey"), col("p_type")))
    val cust = Tables.load(spark, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey"))
    val nation = broadcast(Tables.load(spark, dir, "nation")
      .select(col("n_nationkey"), col("n_regionkey")))
    val region = broadcast(Tables.load(spark, dir, "region")
      .select(col("r_regionkey"), col("r_name")))
    val orders = Tables.load(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
    val cells = li.crossJoin(broadcast(span))
      .filter(col("yr") === col("y0") || col("yr") === col("y1"))
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(nation, col("c_nationkey") === col("n_nationkey"))
      .join(region, col("n_regionkey") === col("r_regionkey"))
      .join(part, col("l_partkey") === col("p_partkey"))
      .groupBy(col("r_name").as("region"), col("p_type").as("p_type"))
      .agg(
        sum(when(col("yr") === col("y0"), col("rev")).cast(dec))
          .cast("double").as("base"),
        sum(when(col("yr") === col("y1"), col("rev")).cast(dec))
          .cast("double").as("fin"))
      .withColumn("base", coalesce(col("base"), lit(0.0)))
      .withColumn("fin", coalesce(col("fin"), lit(0.0)))
      .transform(graft.Iterate.cut)
    val typeG = cells.groupBy(col("p_type"))
      .agg(sum(col("base").cast(dec)).cast("double").as("tb"),
        sum(col("fin").cast(dec)).cast("double").as("tf"))
      .withColumn("g_type",
        (col("tf") - col("tb")) / nullif(col("tb"), lit(0.0)))
      .select(col("p_type"), col("g_type"))
    val natG = cells.agg(
        sum(col("base").cast(dec)).cast("double").as("nb"),
        sum(col("fin").cast(dec)).cast("double").as("nf"))
      .withColumn("g_nat",
        (col("nf") - col("nb")) / nullif(col("nb"), lit(0.0)))
      .select(col("g_nat"))
    cells.join(broadcast(typeG), "p_type").crossJoin(broadcast(natG))
      .withColumn("delta", round(col("fin") - col("base"), 6))
      .withColumn("nat_eff", round(col("base") * col("g_nat"), 6))
      .withColumn("mix_eff",
        round(col("base") * (coalesce(col("g_type"), lit(0.0)) - col("g_nat")), 6))
      .withColumn("comp_eff",
        round(col("delta") - col("nat_eff") - col("mix_eff"), 6))
      .select(col("region"), col("p_type"),
        round(col("base"), 6).as("base_rev"),
        round(col("fin"), 6).as("final_rev"),
        (col("delta") + lit(0.0)).as("delta_rev"),
        (col("nat_eff") + lit(0.0)).as("national_effect"),
        (col("mix_eff") + lit(0.0)).as("mix_effect"),
        (col("comp_eff") + lit(0.0)).as("competitive_effect"))
      .orderBy(col("region"), col("p_type"))
  }

  val shiftShareDecompositionSql: String =
    """WITH li AS (
      |  SELECT l_orderkey, l_partkey,
      |    ROUND(l_extendedprice * (1.0 - l_discount), 6) AS rev,
      |    year(l_shipdate) AS yr
      |  FROM lineitem
      |), span AS (
      |  SELECT MIN(yr) AS y0, MAX(yr) AS y1 FROM li
      |), cells AS (
      |  SELECT r.r_name AS region, p.p_type,
      |    COALESCE(CAST(SUM(CASE WHEN li.yr = s.y0
      |      THEN CAST(li.rev AS DECIMAL(28,6)) END) AS DOUBLE), 0.0) AS base,
      |    COALESCE(CAST(SUM(CASE WHEN li.yr = s.y1
      |      THEN CAST(li.rev AS DECIMAL(28,6)) END) AS DOUBLE), 0.0) AS fin
      |  FROM li CROSS JOIN span s
      |  JOIN orders o ON o.o_orderkey = li.l_orderkey
      |  JOIN customer c ON c.c_custkey = o.o_custkey
      |  JOIN nation n ON n.n_nationkey = c.c_nationkey
      |  JOIN region r ON r.r_regionkey = n.n_regionkey
      |  JOIN part p ON p.p_partkey = li.l_partkey
      |  WHERE li.yr = s.y0 OR li.yr = s.y1
      |  GROUP BY 1, 2
      |), type_g AS (
      |  SELECT p_type,
      |    (CAST(SUM(CAST(fin AS DECIMAL(28,6))) AS DOUBLE)
      |      - CAST(SUM(CAST(base AS DECIMAL(28,6))) AS DOUBLE))
      |      / NULLIF(CAST(SUM(CAST(base AS DECIMAL(28,6))) AS DOUBLE), 0.0)
      |      AS g_type
      |  FROM cells GROUP BY 1
      |), nat_g AS (
      |  SELECT
      |    (CAST(SUM(CAST(fin AS DECIMAL(28,6))) AS DOUBLE)
      |      - CAST(SUM(CAST(base AS DECIMAL(28,6))) AS DOUBLE))
      |      / NULLIF(CAST(SUM(CAST(base AS DECIMAL(28,6))) AS DOUBLE), 0.0)
      |      AS g_nat
      |  FROM cells
      |), effects AS (
      |  SELECT c.region, c.p_type, c.base, c.fin,
      |    ROUND(c.fin - c.base, 6) AS delta,
      |    ROUND(c.base * g.g_nat, 6) AS nat_eff,
      |    ROUND(c.base * (COALESCE(t.g_type, 0.0) - g.g_nat), 6) AS mix_eff
      |  FROM cells c
      |  JOIN type_g t ON t.p_type = c.p_type
      |  CROSS JOIN nat_g g
      |)
      |SELECT region, p_type,
      |  ROUND(base, 6) AS base_rev,
      |  ROUND(fin, 6) AS final_rev,
      |  delta + 0.0 AS delta_rev,
      |  nat_eff + 0.0 AS national_effect,
      |  mix_eff + 0.0 AS mix_effect,
      |  ROUND(delta - nat_eff - mix_eff, 6) + 0.0 AS competitive_effect
      |FROM effects
      |ORDER BY region, p_type""".stripMargin

  /** q540 — join-cardinality estimator audit over the schema's three
    * big equi-joins: the System-R independence/containment estimate
    * |L|·|R| / max(d_L, d_R) — what every cost-based optimizer
    * (Catalyst's stats-based join reorder included) computes from
    * per-column NDVs — against the EXACT join size Σ_k cnt_L(k)·
    * cnt_R(k). The err_ratio column is the number that explains a
    * misplanned join at 100 TB: on a key with skewed fan-out the
    * independence estimate is off by exactly this factor, and the
    * remedy ladder (broadcast threshold, AQE skew split, q350
    * saltedJoin) keys off it.
    *
    * Exactness: all counts and the Σ cnt·cnt join size are exact
    * BIGINTs (the join size is computed on PRE-AGGREGATED per-key
    * counts — the fact tables are never pair-joined); the estimate
    * and ratio are one rounded double division each.
    *
    * Scale: per join, two map-side-combined key aggregates and one
    * key-keyed join of the two count frames (key-cardinality rows,
    * not fact-cardinality) — strictly cheaper than the join being
    * audited; 3 output rows.
    */
  def joinSizeAudit(spark: SparkSession, dir: String): DataFrame = {
    def audit(label: String, l: DataFrame, lk: String,
              r: DataFrame, rk: String): DataFrame = {
      val lc = l.groupBy(col(lk).as("k")).agg(count(lit(1)).as("cl"))
      val rc = r.groupBy(col(rk).as("k")).agg(count(lit(1)).as("cr"))
      val actual = lc.join(rc, "k")
        .agg(sum(col("cl") * col("cr")).as("actual_rows"))
      val stats = lc.agg(sum(col("cl")).as("n_left"),
          count(lit(1)).as("d_left"))
        .crossJoin(rc.agg(sum(col("cr")).as("n_right"),
          count(lit(1)).as("d_right")))
      stats.crossJoin(actual)
        .select(lit(label).as("join_key"),
          col("n_left"), col("n_right"), col("d_left"), col("d_right"),
          round(col("n_left").cast("double") * col("n_right").cast("double")
            / greatest(col("d_left"), col("d_right")).cast("double"), 6)
            .as("est_rows"),
          coalesce(col("actual_rows"), lit(0L)).as("actual_rows"))
    }
    val li = Tables.load(spark, dir, "lineitem")
    val audits = Seq(
      audit("l_orderkey", li, "l_orderkey",
        Tables.load(spark, dir, "orders"), "o_orderkey"),
      audit("l_partkey", li, "l_partkey",
        Tables.load(spark, dir, "part"), "p_partkey"),
      audit("l_suppkey", li, "l_suppkey",
        Tables.load(spark, dir, "supplier"), "s_suppkey"))
    audits.reduce(_ unionByName _)
      .withColumn("err_ratio",
        round(col("actual_rows").cast("double")
          / nullif(col("n_left").cast("double") * col("n_right").cast("double")
            / greatest(col("d_left"), col("d_right")).cast("double"),
            lit(0.0)), 6))
      .orderBy(col("join_key"))
  }

  val joinSizeAuditSql: String = {
    def one(label: String, lt: String, lk: String, rt: String, rk: String) =
      s"""  SELECT '$label' AS join_key,
         |    CAST((SELECT COUNT(*) FROM $lt) AS BIGINT) AS n_left,
         |    CAST((SELECT COUNT(*) FROM $rt) AS BIGINT) AS n_right,
         |    CAST((SELECT COUNT(DISTINCT $lk) FROM $lt) AS BIGINT) AS d_left,
         |    CAST((SELECT COUNT(DISTINCT $rk) FROM $rt) AS BIGINT) AS d_right,
         |    CAST((SELECT COALESCE(SUM(cl * cr), 0) FROM
         |      (SELECT $lk AS k, COUNT(*) AS cl FROM $lt GROUP BY 1) a
         |      JOIN (SELECT $rk AS k, COUNT(*) AS cr FROM $rt GROUP BY 1) b
         |      USING (k)) AS BIGINT) AS actual_rows""".stripMargin
    s"""WITH raw AS (
       |${one("l_orderkey", "lineitem", "l_orderkey", "orders", "o_orderkey")}
       |  UNION ALL
       |${one("l_partkey", "lineitem", "l_partkey", "part", "p_partkey")}
       |  UNION ALL
       |${one("l_suppkey", "lineitem", "l_suppkey", "supplier", "s_suppkey")}
       |)
       |SELECT join_key, n_left, n_right, d_left, d_right,
       |  ROUND(CAST(n_left AS DOUBLE) * CAST(n_right AS DOUBLE)
       |    / CAST(GREATEST(d_left, d_right) AS DOUBLE), 6) AS est_rows,
       |  actual_rows,
       |  ROUND(CAST(actual_rows AS DOUBLE)
       |    / NULLIF(CAST(n_left AS DOUBLE) * CAST(n_right AS DOUBLE)
       |      / CAST(GREATEST(d_left, d_right) AS DOUBLE), 0.0), 6)
       |    AS err_ratio
       |FROM raw
       |ORDER BY join_key""".stripMargin
  }
}
