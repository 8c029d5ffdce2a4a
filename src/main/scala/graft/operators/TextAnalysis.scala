package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFunctions._

/** Text-analysis queries over `documents` (north-star extension:
  * language ID, quality scoring, token counting, fingerprinting).
  * All single-pass narrow transforms + one final sort — at 100 TB
  * these are embarrassingly parallel map stages over the scan.
  */
object TextAnalysis {

  /** q21 — token statistics: whitespace tokens, BPE-ish tokens,
    * punctuation, character count.
    */
  def tokenStats(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    docs.select(
        col("doc_id"),
        tokenCount(col("text")).as("n_tokens"),
        bpeTokenCount(col("text")).as("n_bpe_tokens"),
        punctCount(col("text")).as("n_punct"),
        length(col("text")).as("n_chars_computed"),
        col("n_chars"))
      .orderBy(col("doc_id"))
  }

  val tokenStatsSql: String =
    s"""SELECT doc_id,
       |  len(list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '')) AS n_tokens,
       |  len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')) AS n_bpe_tokens,
       |  len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]')) AS n_punct,
       |  length(text) AS n_chars_computed, n_chars
       |FROM documents ORDER BY doc_id""".stripMargin

  /** q22 — heuristic language ID (stopword-hit argmax) compared with
    * the labeled lang.
    *
    * Shape: SHUFFLE-FREE narrow map — per-language stopword hits are
    * counted within each row's own token array by the codegen'd
    * [[graft.functions.ArrayCountIn]] (one hash-set probe per token),
    * then the argmax CASE. Round 3's explode + conditional-sum
    * aggregation shuffled the exploded corpus by doc_id and joined it
    * back, just to count per row; the column-level `filter` HOF
    * alternative is CodegenFallback. The oracle SQL was already the
    * per-row form — the engines now share the shape, not just values.
    */
  def langIdQuery(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val base = docs.select(col("doc_id"), col("lang"), tokens(col("text")).as("toks"))
    val withScores = langStopwords.foldLeft(base) { case (df, (lang, words)) =>
      df.withColumn(s"s_$lang",
        graft.functions.ArrayCountIn.countIn(col("toks"), words))
    }
    val s = langStopwords.map { case (lang, _) => lang -> col(s"s_$lang") }.toMap
    val pred = when(s.values.reduce(_ + _) > 0,
      when(s("de") > s("en") && s("de") > s("es") && s("de") > s("fr"), "de")
        .when(s("fr") > s("en") && s("fr") > s("es"), "fr")
        .when(s("es") > s("en"), "es")
        .otherwise("en"))
      .otherwise(lit("und"))
    withScores
      .select(col("doc_id"), col("lang"), pred.as("lang_pred"))
      .withColumn("agrees", (col("lang") === col("lang_pred")).cast("int"))
      .orderBy(col("doc_id"))
  }

  private def hitsSql(words: Seq[String]): String =
    s"len(list_filter(string_split_regex(lower(text), '\\s+'), t -> t IN (${words.map(w => s"'$w'").mkString(",")})))"

  val langIdSql: String = {
    val en = hitsSql(langStopwords(0)._2)
    val es = hitsSql(langStopwords(1)._2)
    val fr = hitsSql(langStopwords(2)._2)
    val de = hitsSql(langStopwords(3)._2)
    s"""WITH scored AS (
       |  SELECT doc_id, lang, $en AS s_en, $es AS s_es, $fr AS s_fr, $de AS s_de
       |  FROM documents
       |)
       |SELECT doc_id, lang,
       |  CASE WHEN s_en + s_es + s_fr + s_de > 0 THEN
       |    CASE WHEN s_de > s_en AND s_de > s_es AND s_de > s_fr THEN 'de'
       |         WHEN s_fr > s_en AND s_fr > s_es THEN 'fr'
       |         WHEN s_es > s_en THEN 'es'
       |         ELSE 'en' END
       |  ELSE 'und' END AS lang_pred,
       |  CASE WHEN lang = (CASE WHEN s_en + s_es + s_fr + s_de > 0 THEN
       |    CASE WHEN s_de > s_en AND s_de > s_es AND s_de > s_fr THEN 'de'
       |         WHEN s_fr > s_en AND s_fr > s_es THEN 'fr'
       |         WHEN s_es > s_en THEN 'es'
       |         ELSE 'en' END
       |  ELSE 'und' END) THEN 1 ELSE 0 END AS agrees
       |FROM scored ORDER BY doc_id""".stripMargin
  }

  /** q139 — language-ID confusion matrix: the q22 per-doc agreement
    * rolled into the (labeled, predicted) contingency table with
    * per-label recall shares — the model-quality summary you read
    * before trusting the heuristic to route a 100 TB corpus through
    * per-language pipelines. One narrow map (the same codegen'd
    * argmax as q22) + one ≤(L+1)²-group aggregate; `share_of_lang` is
    * an exact-count quotient on identical doubles.
    */
  def langConfusion(spark: SparkSession, dir: String): DataFrame = {
    val perDoc = langIdQuery(spark, dir)
    val totals = perDoc.groupBy(col("lang")).agg(count(lit(1)).as("n_lang"))
    perDoc.groupBy(col("lang"), col("lang_pred")).agg(count(lit(1)).as("n"))
      .join(broadcast(totals), "lang")
      .select(col("lang"), col("lang_pred"), col("n"), col("n_lang"),
        round(col("n").cast("double") / col("n_lang"), 6).as("share_of_lang"))
      .orderBy(col("lang"), col("lang_pred"))
  }

  val langConfusionSql: String =
    s"""WITH per_doc AS (
       |  $langIdSql
       |), totals AS (
       |  SELECT lang, COUNT(*) AS n_lang FROM per_doc GROUP BY lang
       |), cells AS (
       |  SELECT lang, lang_pred, COUNT(*) AS n FROM per_doc GROUP BY 1, 2
       |)
       |SELECT c.lang, c.lang_pred, c.n, t.n_lang,
       |  ROUND(CAST(c.n AS DOUBLE) / t.n_lang, 6) AS share_of_lang
       |FROM cells c JOIN totals t ON c.lang = t.lang
       |ORDER BY c.lang, c.lang_pred""".stripMargin

  /** q23 — composite quality score + decile bucketing. */
  def quality(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    docs.select(col("doc_id"), qualityScore(col("text")).as("quality"))
      .withColumn("quality_bucket", floor(col("quality") * 10).cast("int"))
      .orderBy(col("doc_id"))
  }

  /** Whitespace token count as a DuckDB expression — the oracle twin
    * of TextFunctions.tokenCount, shared by the quality and
    * sequence-packing oracles so the tokenizer can only change in one
    * place per engine.
    */
  private[operators] val tokenCountExprSql: String =
    "len(list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> ''))"

  /** The quality formula as one DuckDB scalar expression — shared by
    * the q23 oracle and Curation's q52 top-k-per-source oracle.
    */
  private[operators] val qualityExprSql: String = {
    val n = tokenCountExprSql
    val p = "len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]'))"
    val s = hitsSql(langStopwords.head._2)
    s"""ROUND(0.4 * least(1.0, $n / 50.0) +
       |        0.3 * (1.0 - least(1.0, $p / greatest($n, 1.0))) +
       |        0.3 * least(1.0, 5.0 * $s / greatest($n, 1.0)), 6)""".stripMargin
  }

  val qualitySql: String =
    s"""SELECT doc_id,
       |  $qualityExprSql AS quality,
       |  CAST(FLOOR(($qualityExprSql) * 10) AS INT) AS quality_bucket
       |FROM documents ORDER BY doc_id""".stripMargin

  /** q36 — corpus vocabulary: term frequency + document frequency per
    * token (the vocab-building pass of a training-data pipeline).
    * One explode + one aggregation; at 100 TB the (token) shuffle key
    * is Zipf-skewed, which is exactly what Skew.twoLevelAgg handles —
    * here plain partial+final aggregation suffices since count/df are
    * algebraic.
    */
  def vocabulary(spark: SparkSession, dir: String,
                 mode: graft.ScaleMode = graft.ScaleMode.Exact): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    // the mode swaps ONLY the df aggregate: tf is algebraic either way,
    // and countDistinct's per-group Expand is the part whose state is
    // unbounded at 100 TB — the HLL sketch (rsd 5%) is mergeable
    // map-side state of fixed size per (token) group
    val df = mode match {
      case graft.ScaleMode.Exact => countDistinct(col("doc_id"))
      case graft.ScaleMode.Sketch => approx_count_distinct(col("doc_id"), 0.05)
    }
    docs.select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .groupBy(col("token"))
      .agg(
        count(lit(1)).as("tf"),
        df.as("df"))
      .orderBy(col("token"))
  }

  /** q351 — q36's vocabulary through [[graft.operators.Skew.twoLevelAgg]],
    * graded against q36's own oracle (the q104/q29 shared-oracle
    * pattern): term frequency partial-aggregates on (token, salt) —
    * the salt derived deterministically from doc_id, never rand() —
    * then finalizes on token, so a Zipf-hot token ("the" at 100 TB)
    * spreads its reduce work over `saltFactor` tasks instead of one.
    * df stays exact by re-aggregating distinct doc sets per salt:
    * count_distinct(doc_id) per (token, salt) does NOT compose
    * (a doc's tokens land in ONE salt per (token, doc) by keying the
    * salt on doc_id, so per-salt distinct counts are disjoint and
    * their SUM is the true df — the identity that makes the
    * two-level split lossless for this pair).
    */
  def vocabularyTwoLevel(spark: SparkSession, dir: String,
                         saltFactor: Int = 8): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val toks = docs.select(col("doc_id"), explode(tokens(col("text"))).as("token"))
    Skew.twoLevelAgg(toks, "token", col("doc_id"), saltFactor,
        partialAgg = Seq(count(lit(1)).as("tf_p"),
          countDistinct(col("doc_id")).as("df_p")),
        finalAgg = Seq(sum(col("tf_p")).as("tf"), sum(col("df_p")).as("df")))
      .orderBy(col("token"))
  }

  /** Bench/deploy alias for the sketch mode (x05). */
  def vocabularyApprox(spark: SparkSession, dir: String): DataFrame =
    vocabulary(spark, dir, graft.ScaleMode.Sketch)

  val vocabularySql: String =
    """SELECT token, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS df
      |FROM (
      |  SELECT doc_id, unnest(list_filter(
      |    string_split_regex(lower(text), '\s+'), t -> t <> '')) AS token
      |  FROM documents
      |)
      |GROUP BY token ORDER BY token""".stripMargin

  /** q341 — Yule's K lexical-richness characteristic per source:
    * K = 10⁴·(Σ_m m²·V(m) − N)/N² over the per-source token frequency
    * spectrum (V(m) = types occurring m times, N = tokens). K is
    * length-invariant where type/token ratio is not, which makes it
    * THE comparable repetitiveness dial across sources of very
    * different sizes — template/boilerplate feeds score high K, rich
    * prose low — complementing q103's entropy (distribution shape)
    * and q55's explicit repetition counters (local structure) with
    * the classic vocabulary-concentration statistic. Hapax share
    * (V(1)/V) rides along: high K + low hapax = a feed stamping the
    * same tokens; high hapax = open vocabulary still growing (q310's
    * missing-mass reading).
    *
    * Exactness: the spectrum sums are pure integers; K and the hapax
    * share are single rounded double chains. Scale: one (source,
    * token) partial+final count (q36's shuffle shape) then a
    * per-source aggregate — nothing wider than the vocabulary.
    */
  def yuleK(spark: SparkSession, dir: String): DataFrame = {
    val tf = Tables.load(spark, dir, "documents")
      .select(col("source"), explode(tokens(col("text"))).as("token"))
      .groupBy(col("source"), col("token"))
      .agg(count(lit(1)).as("m"))
    tf.groupBy(col("source"))
      .agg(sum(col("m")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("m") === 1, 1L).otherwise(0L)).as("n_hapax"),
        sum(col("m") * col("m")).as("sum_m2"))
      .select(col("source"), col("n_tokens"), col("n_types"), col("n_hapax"),
        round(lit(10000.0) * (col("sum_m2") - col("n_tokens")).cast("double")
          / (col("n_tokens") * col("n_tokens")).cast("double"), 6)
          .as("yule_k"),
        round(col("n_hapax").cast("double") / col("n_types").cast("double"), 6)
          .as("hapax_share"))
      .orderBy(col("source"))
  }

  val yuleKSql: String =
    """WITH tf AS (
      |  SELECT source, token, CAST(COUNT(*) AS BIGINT) AS m
      |  FROM (
      |    SELECT source, unnest(list_filter(
      |      string_split_regex(lower(text), '\s+'), t -> t <> '')) AS token
      |    FROM documents
      |  )
      |  GROUP BY 1, 2
      |)
      |SELECT source,
      |  CAST(SUM(m) AS BIGINT) AS n_tokens,
      |  CAST(COUNT(*) AS BIGINT) AS n_types,
      |  CAST(SUM(CASE WHEN m = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
      |  ROUND(10000.0 * CAST(SUM(m * m) - SUM(m) AS DOUBLE)
      |    / CAST(SUM(m) * SUM(m) AS DOUBLE), 6) AS yule_k,
      |  ROUND(CAST(SUM(CASE WHEN m = 1 THEN 1 ELSE 0 END) AS DOUBLE)
      |    / CAST(COUNT(*) AS DOUBLE), 6) AS hapax_share
      |FROM tf GROUP BY source ORDER BY source""".stripMargin

  // Oracle CTEs of the naive-Bayes language model: the Spark side of
  // every NB query is [[nbScores]], the SQL side interpolates these.
  private val nbToksCte: String =
    """toks AS (
      |  SELECT doc_id, lang, token, CAST(COUNT(*) AS BIGINT) AS mult
      |  FROM (
      |    SELECT doc_id, lang, unnest(list_filter(
      |      string_split_regex(lower(text), '\s+'), t -> t <> '')) AS token
      |    FROM documents
      |  )
      |  GROUP BY 1, 2, 3
      |)""".stripMargin

  private def nbModelCte(train: String, withCnt: Boolean): String =
    s"""model AS (
      |  SELECT lang AS c, token,${if (withCnt) " SUM(mult) AS cnt," else ""}
      |    ROUND(log10(SUM(mult) + 1), 6) AS l_num
      |  FROM $train GROUP BY 1, 2
      |)""".stripMargin

  private def nbClassesCtes(train: String): String =
    s"""vocab AS (
      |  SELECT COUNT(DISTINCT token) AS v FROM model
      |), classes AS (
      |  SELECT lang AS c,
      |    ROUND(log10(COUNT(DISTINCT doc_id)), 6) AS l_prior,
      |    ROUND(log10(SUM(mult) + (SELECT v FROM vocab)), 6) AS l_den
      |  FROM $train GROUP BY 1
      |)""".stripMargin

  /** toks, the 4/5 train and 1/5 test split, the train model and
    * classes, and the test tokens the model knows (`in_vocab`). */
  private def nbHoldoutModelCtes(withCnt: Boolean = false): String =
    s"""$nbToksCte, train AS (
      |  SELECT * FROM toks WHERE doc_id % 5 <> 0
      |), test AS (
      |  SELECT * FROM toks WHERE doc_id % 5 = 0
      |), ${nbModelCte("train", withCnt)}, ${nbClassesCtes("train")}, in_vocab AS (
      |  SELECT t.* FROM test t
      |  JOIN (SELECT DISTINCT token FROM model) m ON m.token = t.token
      |)""".stripMargin

  private val nbSeenCte: String =
    """seen AS (
      |  SELECT iv.doc_id, m.c,
      |    SUM(iv.mult * CAST(m.l_num AS DECIMAL(18,6))) AS sum_num
      |  FROM in_vocab iv JOIN model m ON m.token = iv.token
      |  GROUP BY 1, 2
      |)""".stripMargin

  private val nbScoreSql: String =
    """CAST(cl.l_prior AS DECIMAL(28,6))
      |  + COALESCE(s.sum_num, CAST(0 AS DECIMAL(18,6)))
      |  - md.m_d * CAST(cl.l_den AS DECIMAL(18,6))""".stripMargin

  private val nbScoreFromSql: String =
    """FROM md CROSS JOIN classes cl
      |LEFT JOIN seen s ON s.doc_id = md.doc_id AND s.c = cl.c""".stripMargin

  /** Per (test doc, class) decimal scores over the holdout model. */
  private val nbTestScoresCtes: String =
    s"""md AS (
      |  SELECT doc_id, lang AS true_lang, SUM(mult) AS m_d
      |  FROM in_vocab GROUP BY 1, 2
      |), $nbSeenCte, scores AS (
      |  SELECT md.doc_id, md.true_lang, cl.c,
      |    $nbScoreSql AS score
      |  $nbScoreFromSql
      |)""".stripMargin

  /** The q22 stopword heuristic's prediction on the holdout fifth, as
    * the `heur` CTE (doc_id, heur_pred) that q358 and q433 join. */
  private val heurHoldoutCte: String = {
    val heurPred =
      """CASE WHEN s_en + s_es + s_fr + s_de > 0 THEN
        |    CASE WHEN s_de > s_en AND s_de > s_es AND s_de > s_fr THEN 'de'
        |         WHEN s_fr > s_en AND s_fr > s_es THEN 'fr'
        |         WHEN s_es > s_en THEN 'es'
        |         ELSE 'en' END
        |  ELSE 'und' END""".stripMargin
    val en = hitsSql(langStopwords(0)._2)
    val es = hitsSql(langStopwords(1)._2)
    val fr = hitsSql(langStopwords(2)._2)
    val de = hitsSql(langStopwords(3)._2)
    s"""heur AS (
       |  SELECT doc_id, $heurPred AS heur_pred FROM (
       |    SELECT doc_id,
       |      $en AS s_en, $es AS s_es, $fr AS s_fr, $de AS s_de
       |    FROM documents WHERE doc_id % 5 = 0
       |  )
       |)""".stripMargin
  }

  /** q349 — multinomial naive Bayes language classifier, trained AND
    * evaluated as relational algebra: docs split deterministically
    * (doc_id % 5 == 0 is the held-out fifth), per-(lang, token)
    * counts + Laplace smoothing train the model IN ONE AGGREGATE —
    * the reason NB is the classifier a 100 TB pipeline can actually
    * fit in a single pass — and the holdout scores
    * argmax_c [ log P(c) + Σ_t mult·log P(t|c) ]. The output is the
    * confusion matrix (true × predicted, with per-cell share of the
    * true class), the artifact a label-quality audit reads; the
    * diagonal is the lang-id agreement check against the q22
    * heuristic's training labels.
    *
    * Determinism/exactness: every log10 term rounds to 6dp and sums
    * as DECIMAL (the q103/q158 convention — integer multiplicities ×
    * 6dp decimals are exact); the smoothed-likelihood algebra uses
    * the identity log((c+1)/(T_c+V)) = log(c+1) − log(T_c+V), so
    * vocabulary tokens UNSEEN for a class contribute log(1) = 0 and
    * the (token × class) zero-cells are never materialized — the
    * model relation is exactly the seen (lang, token) pairs. Holdout
    * tokens outside the train vocabulary drop (standard NB practice,
    * identical on both sides). Argmax tie-breaks by lang asc.
    *
    * Scale: train = one (lang, token) count (the q36 shuffle) + a
    * |langs|-row class table; scoring joins holdout tokens to the
    * model ON TOKEN (vocabulary-keyed shuffle) and reduces per
    * (doc, lang); the cross of test docs × |langs| class rows is
    * broadcast-sized arithmetic.
    */
  /** Shared NB machinery ([[nbLangConfusion]] trains on the 4/5
    * split; [[labelNoiseScreen]] self-trains on everything): returns
    * one row per (scored doc, class) with the Laplace-smoothed
    * decimal score — see [[nbLangConfusion]] for the zero-cell
    * identity and exactness argument.
    */
  private def nbScores(spark: SparkSession, dir: String,
                       trainPred: Column, scorePred: Column): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("text"))
    val toks = docs.select(col("doc_id"), col("lang"),
        explode(tokens(col("text"))).as("token"))
      .groupBy(col("doc_id"), col("lang"), col("token"))
      .agg(count(lit(1)).as("mult"))
    val train = toks.filter(trainPred)
    val test = toks.filter(scorePred)
    // model: per-(lang, token) log10(count + 1), 6dp
    val model = train.groupBy(col("lang").as("c"), col("token"))
      .agg(sum(col("mult")).as("cnt"))
      .withColumn("l_num", round(log10(col("cnt") + 1), 6))
    val vocab = model.agg(countDistinct(col("token")).as("v"))
    // class table: doc prior + the per-token denominator log10(T_c+V)
    val classes = train.groupBy(col("lang").as("c"))
      .agg(countDistinct(col("doc_id")).as("d_c"), sum(col("mult")).as("t_c"))
      .crossJoin(broadcast(vocab))
      .select(col("c"), round(log10(col("d_c")), 6).as("l_prior"),
        round(log10(col("t_c") + col("v")), 6).as("l_den"))
    // holdout tokens restricted to the train vocabulary; M_d = their
    // total multiplicity (class-independent by construction)
    val inVocab = test.join(
      model.select(col("token")).distinct(), "token")
    val md = inVocab.groupBy(col("doc_id"), col("lang").as("true_lang"))
      .agg(sum(col("mult")).as("m_d"))
    // Σ mult·log10(cnt+1) for SEEN (token, class) pairs only — the
    // zero-cells contribute log10(1) = 0 and never materialize
    val seen = inVocab.join(model, "token")
      .groupBy(col("doc_id"), col("c"))
      .agg(sum(col("mult") * col("l_num").cast("decimal(18,6)")).as("sum_num"))
    md.crossJoin(broadcast(classes))
      .join(seen, Seq("doc_id", "c"), "left")
      .withColumn("score",
        col("l_prior").cast("decimal(28,6)")
          + coalesce(col("sum_num"), lit(0).cast("decimal(18,6)"))
          - col("m_d") * col("l_den").cast("decimal(18,6)"))
      .select(col("doc_id"), col("true_lang"), col("c"), col("score"))
  }

  def nbLangConfusion(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scores = nbScores(spark, dir,
      col("doc_id") % 5 =!= 0, col("doc_id") % 5 === 0)
    val pred = scores
      .withColumn("rk", row_number().over(Window.partitionBy(col("doc_id"))
        .orderBy(col("score").desc, col("c"))))
      .filter(col("rk") === 1)
      .select(col("doc_id"), col("true_lang"), col("c").as("pred_lang"))
    val cells = pred.groupBy(col("true_lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n"))
    val rowTot = cells.groupBy(col("true_lang"))
      .agg(sum(col("n")).as("n_true"))
    cells.join(rowTot, "true_lang")
      .select(col("true_lang"), col("pred_lang"), col("n"),
        round(col("n").cast("double") / col("n_true").cast("double"), 6)
          .as("share_of_true"))
      .orderBy(col("true_lang"), col("pred_lang"))
  }

  val nbLangConfusionSql: String =
    s"""WITH ${nbHoldoutModelCtes(withCnt = true)}, $nbTestScoresCtes, pred AS (
      |  SELECT doc_id, true_lang, c AS pred_lang FROM (
      |    SELECT doc_id, true_lang, c,
      |      row_number() OVER (PARTITION BY doc_id
      |        ORDER BY score DESC, c) AS rk
      |    FROM scores
      |  ) WHERE rk = 1
      |), cells AS (
      |  SELECT true_lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n
      |  FROM pred GROUP BY 1, 2
      |)
      |SELECT c.true_lang, c.pred_lang, c.n,
      |  ROUND(CAST(c.n AS DOUBLE) / CAST(rt.n_true AS DOUBLE), 6)
      |    AS share_of_true
      |FROM cells c
      |JOIN (SELECT true_lang, SUM(n) AS n_true FROM cells GROUP BY 1) rt
      |  ON rt.true_lang = c.true_lang
      |ORDER BY c.true_lang, c.pred_lang""".stripMargin

  /** q358 — classifier agreement: Cohen's kappa between the q22
    * stopword heuristic and the q349 naive Bayes model on the holdout
    * fifth — the "do two independent lang-id mechanisms tell one
    * story" triangulation (q139 compares the heuristic to the LABELS;
    * this compares detector to detector, chance-corrected, the q272
    * discipline applied to classifiers). Low kappa with high labeled
    * accuracy on both sides means the two disagree on DIFFERENT
    * slices — the routing decision needs a referee, not a vote.
    *
    * Exactness: po and pe are ratios of exact integer counts (pe via
    * Σ marginal-product longs over n²); kappa is one shared double
    * chain, all rounded 6dp. Scale: the NB scorer's vocabulary-keyed
    * join + the q22 narrow map; the contingency is ≤ (L+1)² cells.
    */
  def classifierKappa(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nb = nbScores(spark, dir,
        col("doc_id") % 5 =!= 0, col("doc_id") % 5 === 0)
      .withColumn("rk", row_number().over(Window.partitionBy(col("doc_id"))
        .orderBy(col("score").desc, col("c"))))
      .filter(col("rk") === 1)
      .select(col("doc_id"), col("c").as("nb_pred"))
    val heur = langIdQuery(spark, dir)
      .filter(col("doc_id") % 5 === 0)
      .select(col("doc_id"), col("lang_pred").as("heur_pred"))
    val joined = nb.join(heur, "doc_id").transform(graft.Iterate.cut)
    val totals = joined.agg(count(lit(1)).as("n"),
      sum(when(col("nb_pred") === col("heur_pred"), 1L).otherwise(0L))
        .as("n_agree"))
    val margNb = joined.groupBy(col("nb_pred").as("cls"))
      .agg(count(lit(1)).as("a"))
    val margHeur = joined.groupBy(col("heur_pred").as("cls"))
      .agg(count(lit(1)).as("b"))
    val peNum = margNb.join(margHeur, "cls")
      .agg(coalesce(sum(col("a") * col("b")), lit(0L)).as("pe_num"))
    totals.crossJoin(broadcast(peNum))
      .select(col("n").as("n_docs"), col("n_agree"),
        round(col("n_agree").cast("double") / col("n").cast("double"), 6)
          .as("po"),
        round(col("pe_num").cast("double")
          / (col("n") * col("n")).cast("double"), 6).as("pe"),
        round((col("n_agree").cast("double") / col("n").cast("double")
            - col("pe_num").cast("double") / (col("n") * col("n")).cast("double"))
          / (lit(1.0) - col("pe_num").cast("double")
            / (col("n") * col("n")).cast("double")), 6).as("kappa"))
  }

  val classifierKappaSql: String =
    s"""WITH ${nbHoldoutModelCtes()}, md AS (
       |  SELECT doc_id, SUM(mult) AS m_d FROM in_vocab GROUP BY 1
       |), $nbSeenCte, nb AS (
       |  SELECT doc_id, c AS nb_pred FROM (
       |    SELECT md.doc_id, cl.c,
       |      row_number() OVER (PARTITION BY md.doc_id ORDER BY
       |        $nbScoreSql DESC,
       |        cl.c) AS rk
       |    $nbScoreFromSql
       |  ) WHERE rk = 1
       |), $heurHoldoutCte, joined AS (
       |  SELECT nb.nb_pred, h.heur_pred
       |  FROM nb JOIN heur h ON h.doc_id = nb.doc_id
       |), tot AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(CASE WHEN nb_pred = heur_pred THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_agree
       |  FROM joined
       |), pe AS (
       |  SELECT CAST(COALESCE(SUM(a * b), 0) AS BIGINT) AS pe_num FROM (
       |    SELECT cls, a, b FROM
       |      (SELECT nb_pred AS cls, COUNT(*) AS a FROM joined GROUP BY 1) x
       |    JOIN
       |      (SELECT heur_pred AS cls, COUNT(*) AS b FROM joined GROUP BY 1) y
       |    USING (cls)
       |  )
       |)
       |SELECT t.n AS n_docs, t.n_agree,
       |  ROUND(CAST(t.n_agree AS DOUBLE) / CAST(t.n AS DOUBLE), 6) AS po,
       |  ROUND(CAST(p.pe_num AS DOUBLE) / CAST(t.n * t.n AS DOUBLE), 6)
       |    AS pe,
       |  ROUND((CAST(t.n_agree AS DOUBLE) / CAST(t.n AS DOUBLE)
       |      - CAST(p.pe_num AS DOUBLE) / CAST(t.n * t.n AS DOUBLE))
       |    / (1.0 - CAST(p.pe_num AS DOUBLE) / CAST(t.n * t.n AS DOUBLE)),
       |    6) AS kappa
       |FROM tot t CROSS JOIN pe p""".stripMargin

  /** q352 — label-noise screen (confident-learning-lite): the NB
    * model SELF-TRAINED on the whole labeled corpus re-scores every
    * document; rows where the model's argmax disagrees with the
    * stored `lang` label come back with their score margin
    * (argmax − true-label score, in decimal log10 space) — the ranked
    * worklist a label-audit actually reviews, largest margin = most
    * confidently mislabeled. Self-training makes this a CONSISTENCY
    * screen, not an accuracy claim: a clean corpus that is merely
    * hard stays near margin 0; a doc whose text mass belongs to
    * another class pulls a large margin no matter how it was labeled.
    * Complements q139 (heuristic-vs-label confusion) with a
    * corpus-statistics judge instead of a rule-based one.
    *
    * Exactness/scale: [[nbScores]] — one (lang, token) training
    * aggregate, vocabulary-keyed scoring join, decimal 6dp score
    * algebra; the screen is one argmax window + one key join on the
    * (doc × class) score frame.
    */
  def labelNoiseScreen(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scores = nbScores(spark, dir, lit(true), lit(true))
    val pred = scores
      .withColumn("rk", row_number().over(Window.partitionBy(col("doc_id"))
        .orderBy(col("score").desc, col("c"))))
      .filter(col("rk") === 1)
      .select(col("doc_id"), col("true_lang"),
        col("c").as("pred_lang"), col("score").as("s_pred"))
    val own = scores.filter(col("c") === col("true_lang"))
      .select(col("doc_id"), col("score").as("s_true"))
    pred.join(own, "doc_id")
      .filter(col("pred_lang") =!= col("true_lang"))
      .select(col("doc_id"), col("true_lang"), col("pred_lang"),
        round((col("s_pred") - col("s_true")).cast("double"), 6)
          .as("margin"))
      .orderBy(col("margin").desc, col("doc_id"))
  }

  val labelNoiseScreenSql: String =
    s"""WITH $nbToksCte, ${nbModelCte("toks", withCnt = true)},
      |  ${nbClassesCtes("toks")}, md AS (
      |  SELECT doc_id, lang AS true_lang, SUM(mult) AS m_d
      |  FROM toks GROUP BY 1, 2
      |), seen AS (
      |  SELECT t.doc_id, m.c,
      |    SUM(t.mult * CAST(m.l_num AS DECIMAL(18,6))) AS sum_num
      |  FROM toks t JOIN model m ON m.token = t.token
      |  GROUP BY 1, 2
      |), scores AS (
      |  SELECT md.doc_id, md.true_lang, cl.c,
      |    $nbScoreSql AS score
      |  $nbScoreFromSql
      |), pred AS (
      |  SELECT doc_id, true_lang, c AS pred_lang, score AS s_pred FROM (
      |    SELECT doc_id, true_lang, c, score,
      |      row_number() OVER (PARTITION BY doc_id
      |        ORDER BY score DESC, c) AS rk
      |    FROM scores
      |  ) WHERE rk = 1
      |), own AS (
      |  SELECT doc_id, score AS s_true FROM scores WHERE c = true_lang
      |)
      |SELECT p.doc_id, p.true_lang, p.pred_lang,
      |  ROUND(CAST(p.s_pred - o.s_true AS DOUBLE), 6) AS margin
      |FROM pred p JOIN own o ON o.doc_id = p.doc_id
      |WHERE p.pred_lang <> p.true_lang
      |ORDER BY margin DESC, p.doc_id""".stripMargin

  /** q347 — tokenizer vocabulary-budget coverage curve: for vocab
    * sizes k = 1, 2, 4, … (powers of two up to the full vocabulary),
    * what fraction of all corpus tokens the top-k most frequent types
    * cover — THE curve a tokenizer-budget decision reads ("32k buys
    * 98.1%, 64k buys 99.2%; the extra 32k rows buy 1.1 points").
    * Frequency ranks tie-break by token text, so the curve is
    * deterministic on both engines; the final row (k = full vocab)
    * always reads coverage 1.
    *
    * Scale: the vocabulary ranks ride [[graft.operators.Skew]]'s
    * globalRank (range exchange, no single-partition window — fourth
    * graded consumer); each type then tags its power-of-two bucket
    * (ceil) and the cumulative curve is a running sum over the ≤
    * log₂|V| bucket rows, never over the vocabulary.
    */
  def coverageCurve(spark: SparkSession, dir: String): DataFrame = {
    val tf = Tables.load(spark, dir, "documents")
      .select(explode(tokens(col("text"))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("tf"))
    val ranked = Skew.globalRank(tf, Seq(col("tf").desc, col("token")))
    val totals = ranked.agg(sum(col("tf")).as("total_tokens"),
      count(lit(1)).as("vocab"))
    // bucket = the smallest power of two >= rank, by EXACT integer
    // logic (p >= rank AND p < 2·rank picks exactly one power) — a
    // float ceil(log2(rank)) can land on either side of an exact
    // power depending on the engine's libm, so no logs here
    import spark.implicits._
    val powers = (0 to 40).map(i => 1L << i).toDF("k")
    val bucketed = ranked.join(broadcast(powers),
        col("k") >= col("rank") && col("k") < col("rank") * 2)
      .groupBy(col("k")).agg(sum(col("tf")).as("bucket_tf"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("k"))
      .rowsBetween(Window.unboundedPreceding, 0)
    bucketed.crossJoin(broadcast(totals))
      .withColumn("cum_tf", sum(col("bucket_tf")).over(w))
      .select(
        least(col("k"), col("vocab")).as("k"),
        col("vocab"), col("total_tokens"), col("cum_tf"),
        round(col("cum_tf").cast("double")
          / col("total_tokens").cast("double"), 6).as("coverage"),
        round(lit(1.0) - col("cum_tf").cast("double")
          / col("total_tokens").cast("double"), 6).as("oov_rate"))
      .orderBy(col("k"))
  }

  val coverageCurveSql: String =
    """WITH tf AS (
      |  SELECT token, CAST(COUNT(*) AS BIGINT) AS tf
      |  FROM (
      |    SELECT unnest(list_filter(
      |      string_split_regex(lower(text), '\s+'), t -> t <> '')) AS token
      |    FROM documents
      |  )
      |  GROUP BY 1
      |), ranked AS (
      |  SELECT tf, row_number() OVER (ORDER BY tf DESC, token) AS rank
      |  FROM tf
      |), tot AS (
      |  SELECT CAST(SUM(tf) AS BIGINT) AS total_tokens,
      |    CAST(COUNT(*) AS BIGINT) AS vocab
      |  FROM ranked
      |), powers AS (
      |  SELECT CAST(1 AS BIGINT) << i AS k
      |  FROM (SELECT unnest(generate_series(0, 40)) AS i)
      |), bucketed AS (
      |  SELECT p.k, CAST(SUM(r.tf) AS BIGINT) AS bucket_tf
      |  FROM ranked r JOIN powers p
      |    ON p.k >= r.rank AND p.k < r.rank * 2
      |  GROUP BY 1
      |)
      |SELECT LEAST(b.k, t.vocab) AS k, t.vocab, t.total_tokens,
      |  CAST(SUM(b.bucket_tf) OVER (ORDER BY b.k
      |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tf,
      |  ROUND(CAST(SUM(b.bucket_tf) OVER (ORDER BY b.k
      |      ROWS UNBOUNDED PRECEDING) AS DOUBLE)
      |    / CAST(t.total_tokens AS DOUBLE), 6) AS coverage,
      |  ROUND(1.0 - CAST(SUM(b.bucket_tf) OVER (ORDER BY b.k
      |      ROWS UNBOUNDED PRECEDING) AS DOUBLE)
      |    / CAST(t.total_tokens AS DOUBLE), 6) AS oov_rate
      |FROM bucketed b CROSS JOIN tot t
      |ORDER BY k""".stripMargin

  /** q310 — Good–Turing missing mass and Chao1 richness per language:
    * from the (lang, token) frequency table, the count of singleton
    * (N1) and doubleton (N2) types gives (a) the Good–Turing estimate
    * N1/N of the probability that the NEXT token drawn is an unseen
    * type — the "how much vocabulary is this corpus still missing"
    * number a tokenizer-training or corpus-acquisition decision reads
    * — and (b) the bias-corrected Chao1 lower bound
    * V + N1(N1−1)/(2(N2+1)) on the true vocabulary size. Languages
    * whose p_unseen stays high after ingesting the feed need more
    * data, not more epochs.
    *
    * Scale: one (lang, token) partial+final count (q36's shuffle),
    * then a |vocab|-row aggregate down to |langs| rows — the
    * frequency-of-frequencies collapse is map-side combinable.
    * Exactness: all inputs integers; p_unseen and chao1 are one IEEE
    * division each (identical operand order both engines), rounded
    * 6dp.
    */
  def goodTuringVocab(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val tf = docs
      .select(col("lang"), explode(tokens(col("text"))).as("token"))
      .groupBy(col("lang"), col("token"))
      .agg(count(lit(1)).as("tf"))
    tf.groupBy(col("lang"))
      .agg(
        sum(col("tf")).as("n_tokens"),
        count(lit(1)).as("vocab"),
        sum(when(col("tf") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("tf") === 2, 1L).otherwise(0L)).as("n2"))
      .select(col("lang"), col("n_tokens"), col("vocab"), col("n1"),
        col("n2"),
        round(col("n1").cast("double") / col("n_tokens").cast("double"), 6)
          .as("p_unseen"),
        round(col("vocab").cast("double") +
          (col("n1") * (col("n1") - 1)).cast("double") /
            (lit(2.0) * (col("n2") + 1).cast("double")), 6).as("chao1"))
      .orderBy(col("lang"))
  }

  val goodTuringVocabSql: String =
    """WITH tf AS (
      |  SELECT lang, token, COUNT(*) AS tf
      |  FROM (
      |    SELECT lang, unnest(list_filter(
      |      string_split_regex(lower(text), '\s+'), t -> t <> '')) AS token
      |    FROM documents
      |  ) GROUP BY lang, token
      |), agg AS (
      |  SELECT lang, CAST(SUM(tf) AS BIGINT) AS n_tokens,
      |    CAST(COUNT(*) AS BIGINT) AS vocab,
      |    CAST(SUM(CASE WHEN tf = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      |    CAST(SUM(CASE WHEN tf = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2
      |  FROM tf GROUP BY lang
      |)
      |SELECT lang, n_tokens, vocab, n1, n2,
      |  ROUND(CAST(n1 AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) AS p_unseen,
      |  ROUND(CAST(vocab AS DOUBLE) +
      |    CAST(n1 * (n1 - 1) AS DOUBLE) / (2.0 * CAST(n2 + 1 AS DOUBLE)), 6)
      |    AS chao1
      |FROM agg ORDER BY lang""".stripMargin

  /** q39 — TF-IDF top terms per document: token tf joined with the
    * corpus df (q36), weight = tf * log10(N / df), top-3 terms per doc
    * by weight. The scoring pass of a relevance/quality pipeline; two
    * aggregations + one broadcast-ish join on token + per-doc top-k.
    */
  def tfidfTopTerms(spark: SparkSession, dir: String, topK: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.load(spark, dir, "documents")
    val n = docs.count() // tiny catalog-level scalar (corpus size)
    val tokenized = docs.select(col("doc_id"), explode(tokens(col("text"))).as("token"))
    val tf = tokenized.groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
    val df = tokenized.groupBy(col("token"))
      .agg(countDistinct(col("doc_id")).as("df"))
    val weighted = tf.join(df, "token")
      .withColumn("tfidf", round(col("tf") * log10(lit(n.toDouble) / col("df")), 6))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("token"))
    weighted.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("doc_id"), col("rank"), col("token"), col("tf"), col("df"), col("tfidf"))
      .orderBy(col("doc_id"), col("rank"))
  }

  val tfidfTopTermsSql: String =
    """WITH tok AS (
      |  SELECT doc_id, unnest(list_filter(
      |    string_split_regex(lower(text), '\s+'), t -> t <> '')) AS token
      |  FROM documents
      |), tf AS (
      |  SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2
      |), df AS (
      |  SELECT token, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY 1
      |), weighted AS (
      |  SELECT tf.doc_id, tf.token, tf.tf, df.df,
      |    ROUND(tf.tf * log10((SELECT COUNT(*) FROM documents) * 1.0 / df.df), 6) AS tfidf
      |  FROM tf JOIN df ON tf.token = df.token
      |)
      |SELECT doc_id,
      |  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, token) AS INT) AS rank,
      |  token, tf, df, tfidf
      |FROM weighted
      |QUALIFY rank <= 3
      |ORDER BY doc_id, rank""".stripMargin

  /** q55 — repetition signals (the Gopher/C4-style repetition
    * filters): per-document duplicate-token fraction, top-bigram
    * fraction and duplicate-bigram fraction. High values flag
    * boilerplate/spam for corpus curation. The testdata has no line
    * structure, so the line-level variants collapse onto the n-gram
    * forms.
    *
    * Shape: one tokenize + one bigram explode + a two-level aggregate
    * — (doc_id, bigram) then (doc_id) — all keys carry doc_id, so the
    * shuffle is skew-free and map-side combined; at 100 TB this is an
    * embarrassingly parallel per-document map + local agg. Documents
    * with < 2 tokens have no bigrams: their fractions are NULL
    * (faithful NULL propagation, house style).
    */
  def repetitionSignals(spark: SparkSession, dir: String): DataFrame =
    repetitionSignalsCore(Tables.load(spark, dir, "documents"))
      .orderBy(col("doc_id"))

  /** Frame-parameterized core (shared with CurationPipeline's
    * boilerplate gate): per-doc repetition fractions, unordered.
    *
    * SHUFFLE-FREE: every statistic is a function of one row's own
    * token array — total bigrams = n-1, distinct via `array_distinct`,
    * the top-bigram count via the fused [[graft.functions.ArrayMaxFreq]]
    * hash count — so the whole operator is a narrow map (round 3's
    * explode + two doc_id-keyed aggregations shuffled the exploded
    * corpus just to count within each row). Docs with <2 tokens have
    * an EMPTY bigram array: ArrayMaxFreq yields NULL there and the
    * bigram fractions NULL-propagate, exactly the left-join-miss
    * semantics of the aggregated form (equivalence pinned in
    * TextOpsSpec and by the unchanged DuckDB oracle).
    */
  def repetitionSignalsCore(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    docs.select(col("doc_id"), tokens(col("text")).as("toks"))
      .withColumn("n_tokens", size(col("toks")))
      .withColumn("n_distinct", size(array_distinct(col("toks"))))
      .withColumn("bg", graft.functions.WordNGrams.ngrams(col("toks"), 2))
      .withColumn("top_cnt", graft.functions.ArrayMaxFreq.maxFreq(col("bg")))
      .withColumn("total_bi", when(col("n_tokens") >= 2, col("n_tokens") - 1))
      .withColumn("distinct_bi", when(col("n_tokens") >= 2,
        size(array_distinct(col("bg")))))
      .select(
        col("doc_id"), col("n_tokens"),
        round(lit(1.0) - col("n_distinct").cast("double") /
          nullif(col("n_tokens"), lit(0)), 6).as("dup_token_frac"),
        round(col("top_cnt").cast("double") / col("total_bi"), 6).as("top_bigram_frac"),
        round(lit(1.0) - col("distinct_bi").cast("double") / col("total_bi"), 6)
          .as("dup_bigram_frac"))
  }

  val repetitionSignalsSql: String =
    """WITH base AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS toks
      |  FROM documents
      |), stats AS (
      |  SELECT doc_id, len(toks) AS n_tokens, len(list_distinct(toks)) AS n_distinct
      |  FROM base
      |), bi AS (
      |  SELECT doc_id,
      |    unnest([toks[i] || ' ' || toks[i+1] for i in range(1, len(toks))]) AS bigram
      |  FROM base WHERE len(toks) >= 2
      |), cnts AS (
      |  SELECT doc_id, bigram, COUNT(*) AS cnt FROM bi GROUP BY 1, 2
      |), bistats AS (
      |  SELECT doc_id, MAX(cnt) AS top_cnt, SUM(cnt) AS total_bi,
      |    COUNT(*) AS distinct_bi
      |  FROM cnts GROUP BY doc_id
      |)
      |SELECT s.doc_id, s.n_tokens,
      |  ROUND(1.0 - CAST(s.n_distinct AS DOUBLE) / NULLIF(s.n_tokens, 0), 6) AS dup_token_frac,
      |  ROUND(CAST(b.top_cnt AS DOUBLE) / b.total_bi, 6) AS top_bigram_frac,
      |  ROUND(1.0 - CAST(b.distinct_bi AS DOUBLE) / b.total_bi, 6) AS dup_bigram_frac
      |FROM stats s LEFT JOIN bistats b ON s.doc_id = b.doc_id
      |ORDER BY s.doc_id""".stripMargin

  /** q56 — corpus-trained bigram language-model scoring: train
    * add-one-smoothed bigram probabilities P(w2|w1) = (c(w1 w2) + 1) /
    * (c(w1 ·) + |V|) over the whole corpus, then score every document
    * by its per-bigram cross-entropy (average -log10 P). The standard
    * cheap "perplexity filter" of LLM data pipelines (statistical
    * outliers = gibberish or boilerplate).
    *
    * Shape: one bigram explode (checkpointed — the train aggregations
    * and the scoring join all read it), two partial+final aggregates
    * for the counts, one broadcast 1-row vocab scalar, then a scoring
    * join keyed on (w1, w2). At 100 TB the count tables are Zipf-
    * skewed but small relative to the corpus (vocab², capped by
    * observed pairs) — the scoring join is the only big shuffle, and
    * AQE's skew splitting covers the hot function words.
    *
    * Oracle parity: each per-bigram log10 term is rounded to 6 before
    * the DECIMAL(18,6) sum, so the per-document mean is
    * order-independent and engine-exact.
    */
  def bigramLm(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val base = docs.select(col("doc_id"), tokens(col("text")).as("toks"))
      .withColumn("n", size(col("toks")))
    // fused n-gram expression, split back into (w1, w2) join keys —
    // lossless because tokens() cannot contain whitespace
    val bg = base.filter(col("n") >= 2)
      .select(col("doc_id"), explode(
        graft.functions.WordNGrams.ngrams(col("toks"), 2)).as("bigram"))
      .select(col("doc_id"),
        substring_index(col("bigram"), " ", 1).as("w1"),
        substring_index(col("bigram"), " ", -1).as("w2"))
      .transform(graft.Iterate.cut)
    // The count tables are materialized (Iterate.cut), not left as
    // lazy aggregates, for two reasons: (a) c1 derives from c2, so an
    // unmaterialized c2 would be computed twice; (b) a lazy aggregate
    // keeps its agg partitioning, so the scoring SMJ's build child is
    // a HashAggregate rather than a shuffle read — a shape AQE's
    // OptimizeSkewedJoin cannot split (it splits at shuffle-block
    // granularity on BOTH sides). Materialized tables re-shuffle for
    // the join, and the Zipf-hot w1 partition splits at runtime —
    // asserted in TextOpsSpec.
    val c2 = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
      .transform(graft.Iterate.cut)
    val c1 = c2.groupBy(col("w1")).agg(sum(col("c2")).as("c1"))
      .transform(graft.Iterate.cut)
    val vocab = base.select(explode(col("toks")).as("t"))
      .agg(countDistinct(col("t")).as("v"))
    val scored = bg
      .join(c2, Seq("w1", "w2"))
      .join(c1, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .select(col("doc_id"),
        round(log10((col("c2") + 1).cast("double") / (col("c1") + col("v"))), 6).as("lp"))
    // cross-entropy = mean of the (scale-6-exact) -log10 terms. The
    // mean of scale-6 decimals hits EXACT half-way ties at the 6th
    // decimal (sum*10/count ending in 5), where Spark's BigDecimal
    // HALF_UP and DuckDB's double-multiply round diverge by 1 ulp —
    // so do the rounding in integer micro-units, half-up, identically
    // on both sides: micro = (2a + b) div (2b) with a = -sum * 1e6.
    val agg = scored.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        (-sum(col("lp").cast(org.apache.spark.sql.types.DecimalType(18, 6))))
          .as("negsum"))
      .withColumn("micro", expr(
        "(2 * CAST(negsum * 1000000 AS BIGINT) + n_bigrams) div (2 * n_bigrams)"))
      .select(col("doc_id"), col("n_bigrams"),
        (col("micro").cast("double") / 1000000).as("cross_entropy"))
    docs.select(col("doc_id")).join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        col("cross_entropy"))
      .orderBy(col("doc_id"))
  }

  val bigramLmSql: String =
    """WITH base AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS toks
      |  FROM documents
      |), bg AS (
      |  SELECT doc_id, split_part(bigram, ' ', 1) AS w1, split_part(bigram, ' ', 2) AS w2
      |  FROM (
      |    SELECT doc_id,
      |      unnest([toks[i] || ' ' || toks[i+1] for i in range(1, len(toks))]) AS bigram
      |    FROM base WHERE len(toks) >= 2
      |  )
      |), c2 AS (
      |  SELECT w1, w2, COUNT(*) AS c2 FROM bg GROUP BY 1, 2
      |), c1 AS (
      |  SELECT w1, SUM(c2) AS c1 FROM c2 GROUP BY 1
      |), vocab AS (
      |  SELECT COUNT(DISTINCT t) AS v
      |  FROM (SELECT unnest(toks) AS t FROM base)
      |), scored AS (
      |  SELECT bg.doc_id,
      |    ROUND(log10(CAST(c2.c2 + 1 AS DOUBLE) / (c1.c1 + vocab.v)), 6) AS lp
      |  FROM bg
      |  JOIN c2 USING (w1, w2)
      |  JOIN c1 USING (w1)
      |  CROSS JOIN vocab
      |), agg AS (
      |  SELECT doc_id, COUNT(*) AS n_bigrams,
      |    CAST(-SUM(CAST(lp AS DECIMAL(18,6))) * 1000000 AS BIGINT) AS a
      |  FROM scored GROUP BY doc_id
      |)
      |SELECT d.doc_id, COALESCE(a.n_bigrams, 0) AS n_bigrams,
      |  CAST((2 * a.a + a.n_bigrams) // (2 * a.n_bigrams) AS DOUBLE) / 1000000
      |    AS cross_entropy
      |FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
      |ORDER BY d.doc_id""".stripMargin

  /** q316 — CCNet-style perplexity buckets: every document's q56
    * bigram-LM cross-entropy, split into per-language HEAD / MIDDLE /
    * TAIL tertiles (ntile over the language's own distribution — the
    * CCNet recipe: absolute ppl thresholds don't transfer across
    * languages, per-lang quantiles do), with per-bucket volume and
    * cross-entropy envelope. The head/tail split is the classic
    * LM-based quality gate (keep head, drop or down-weight tail) of
    * the CommonCrawl curation line (Wenzek et al. 2020).
    *
    * Reuses the graded q56 scorer verbatim, so the buckets cannot
    * drift from the per-doc relation. Exactness: cross_entropy is
    * already exactly 6dp; the bucket mean runs in integer micro-units
    * with the shared half-up convention. Scale: the scorer's cost
    * dominates; the tertile is one per-lang window over docs, and the
    * report is 3·|langs| rows.
    */
  def pplBuckets(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ce = bigramLm(spark, dir).filter(col("n_bigrams") > 0)
    val langs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("lang"))
    val bucketed = ce.join(langs, "doc_id")
      .withColumn("b", ntile(3).over(Window.partitionBy(col("lang"))
        .orderBy(col("cross_entropy"), col("doc_id"))))
      .withColumn("micro",
        round(col("cross_entropy") * 1e6, 0).cast("long"))
    bucketed.groupBy(col("lang"), col("b"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("cross_entropy")).as("min_ce"),
        max(col("cross_entropy")).as("max_ce"),
        sum(col("micro")).as("s"))
      .select(col("lang"),
        when(col("b") === 1, "head").when(col("b") === 2, "middle")
          .otherwise("tail").as("bucket"),
        col("n_docs"), col("min_ce"), col("max_ce"),
        (expr("CAST((2 * s + n_docs) div (2 * n_docs) AS DOUBLE)") / 1e6)
          .as("mean_ce"))
      .orderBy(col("lang"), col("bucket"))
  }

  def pplBucketsSql(): String =
    s"""WITH ce0 AS (
       |  $bigramLmSql
       |), bucketed AS (
       |  SELECT d.lang, c.doc_id, c.cross_entropy,
       |    ntile(3) OVER (PARTITION BY d.lang
       |      ORDER BY c.cross_entropy, c.doc_id) AS b,
       |    CAST(ROUND(c.cross_entropy * 1e6, 0) AS BIGINT) AS micro
       |  FROM ce0 c JOIN documents d ON d.doc_id = c.doc_id
       |  WHERE c.n_bigrams > 0
       |)
       |SELECT lang,
       |  CASE WHEN b = 1 THEN 'head' WHEN b = 2 THEN 'middle'
       |       ELSE 'tail' END AS bucket,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  MIN(cross_entropy) AS min_ce,
       |  MAX(cross_entropy) AS max_ce,
       |  CAST((2 * SUM(micro) + COUNT(*)) // (2 * COUNT(*)) AS DOUBLE)
       |    / 1e6 AS mean_ce
       |FROM bucketed
       |GROUP BY lang, b
       |ORDER BY lang, bucket""".stripMargin

  /** q24 — document fingerprints: byte-level (whitespace-normalized)
    * and order-insensitive bag-of-words md5.
    */
  def fingerprints(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    docs.select(
        col("doc_id"),
        contentFingerprint(col("text")).as("content_fp"),
        bagFingerprint(col("text")).as("bag_fp"),
        rollingFingerprint(col("text")).as("rolling_fp"))
      .orderBy(col("doc_id"))
  }

  val fingerprintsSql: String =
    """SELECT doc_id,
      |  md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS content_fp,
      |  md5(array_to_string(list_sort(list_distinct(
      |    list_filter(string_split_regex(lower(text), '\s+'), t -> t <> ''))), ' ')) AS bag_fp,
      |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
      |    list_transform(list_filter(string_split_regex(lower(text), '\s+'), t -> t <> ''),
      |      t -> CAST(length(t) * 31 + COALESCE(ascii(substr(t, 1, 1)), 0) AS BIGINT))),
      |    (h, c) -> (h * 131 + c) % 1000000007) AS BIGINT) AS rolling_fp
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Default BM25 query terms: present in the synthetic vocabulary
    * with differing document frequencies, so idf actually
    * discriminates.
    */
  val bm25Terms: Seq[String] = Seq("table", "query", "stream")

  /** q74 — BM25 retrieval scoring of the corpus against a keyword
    * query (k1=1.2, b=0.75): the lexical ranking half of a RAG stack —
    * q68 chunks the corpus, this scores it (swap `documents` for the
    * chunk table and dl for chunk_len to rank chunks). idf uses
    * log10 (a positive constant factor vs ln — identical ranking),
    * because base-10 log is this repo's proven bit-parity libm call
    * (q11 F3, q39); every other term is rational arithmetic.
    *
    * Shape: per-term tf is a narrow per-row map (no explode, no
    * shuffle); the corpus stats (N, Σdl, per-term df) are ONE 1-row
    * aggregate broadcast back; scoring is again scan-speed; the final
    * top-`limit` is a global orderBy+limit — planned as
    * TakeOrderedAndProject (per-partition top-k, driver merge of
    * `limit` rows), NOT a single-partition sort.
    */
  def bm25(spark: SparkSession, dir: String, terms: Seq[String] = bm25Terms,
           limit: Int = 100): DataFrame =
    bm25Core(Tables.load(spark, dir, "documents"), terms, limit)

  /** Frame-parameterized core: rows need (doc_id, text). */
  def bm25Core(corpus: DataFrame, terms: Seq[String], limit: Int): DataFrame = {
    val docs = corpus
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .withColumn("dl", size(col("toks")))
    // per-term tf via the codegen'd ArrayCountIn (a single-element
    // word set counts exactly that term's occurrences) — the HOF
    // filter+size form is CodegenFallback in every scored row
    val withTf = terms.zipWithIndex.foldLeft(docs) { case (d, (t, i)) =>
      d.withColumn(s"tf$i",
        graft.functions.ArrayCountIn.countIn(col("toks"), Seq(t)))
    }.transform(graft.Iterate.cut) // two consumers: the stats aggregate + scoring
    val statAggs = Seq(
      count(lit(1)).as("n_docs"),
      sum(col("dl")).cast("double").as("sum_dl")) ++
      terms.indices.map(i =>
        sum(when(col(s"tf$i") > 0, 1).otherwise(0)).as(s"df$i"))
    val stats = withTf.agg(statAggs.head, statAggs.tail: _*)
    // mirror the SQL twin's expression shape EXACTLY (literal-for-
    // literal) so double evaluation order matches
    def term(i: Int): Column =
      log10((col("n_docs") - col(s"df$i") + lit(0.5)) / (col(s"df$i") + lit(0.5)) + lit(1.0)) *
        ((col(s"tf$i") * (lit(1.2) + lit(1))) /
          (col(s"tf$i") + lit(1.2) * (lit(1) - lit(0.75) + lit(0.75) * col("dl") / (col("sum_dl") / col("n_docs")))))
    withTf.crossJoin(broadcast(stats))
      .withColumn("score", round(terms.indices.map(term).reduce(_ + _), 6))
      .filter(col("score") > 0)
      .select(col("doc_id"), col("dl"), col("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(limit)
  }

  /** The t/d/s CTE prefix and the per-doc score SELECT body of the
    * BM25 twin, as separately reusable pieces (hybridRrfSql composes
    * them with a doc predicate instead of editing generated text).
    * Every fractional literal is CAST(... AS DOUBLE) before use —
    * DuckDB parses bare 1.2/0.5/0.75 as DECIMAL, and decimal
    * arithmetic (exact 2.2, decimal division) diverges by ulps from
    * the double arithmetic Spark runs, which is a latent flake at the
    * 6-decimal rounding boundary even when every current row passes.
    */
  private[operators] def bm25Ctes(terms: Seq[String],
                                  docPredicate: String): (String, String) = {
    val tfCols = terms.zipWithIndex.map { case (t, i) =>
      s"len(list_filter(toks, x -> x = '$t')) AS tf$i" }.mkString(",\n      |    ")
    val dfCols = terms.indices.map(i =>
      s"SUM(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS df$i").mkString(",\n      |    ")
    val scoreExpr = terms.indices.map(i =>
      s"""log10((n_docs - df$i + CAST(0.5 AS DOUBLE)) / (df$i + CAST(0.5 AS DOUBLE)) + CAST(1.0 AS DOUBLE)) *
         |      ((tf$i * (CAST(1.2 AS DOUBLE) + 1)) /
         |        (tf$i + CAST(1.2 AS DOUBLE) * (1 - CAST(0.75 AS DOUBLE) + CAST(0.75 AS DOUBLE) * dl / (sum_dl / n_docs))))""".stripMargin)
      .mkString("\n      |    + ")
    val prefix = s"""WITH t AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS toks
      |  FROM documents$docPredicate
      |), d AS (
      |  SELECT doc_id, len(toks) AS dl,
      |    $tfCols
      |  FROM t
      |), s AS (
      |  SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS DOUBLE) AS sum_dl,
      |    $dfCols
      |  FROM d
      |)""".stripMargin
    val scoreBody = s"""SELECT doc_id, dl, ROUND(
      |    $scoreExpr, 6) AS score
      |  FROM d, s""".stripMargin
    (prefix, scoreBody)
  }

  def bm25Sql(terms: Seq[String] = bm25Terms, limit: Int = 100): String = {
    val (prefix, scoreBody) = bm25Ctes(terms, docPredicate = "")
    s"""$prefix
      |SELECT doc_id, dl, score FROM (
      |  $scoreBody
      |) WHERE score > 0
      |ORDER BY score DESC, doc_id LIMIT $limit""".stripMargin
  }

  /** q81 — corpus n-gram diversity per source: total trigram
    * instances, distinct trigrams, type-token ratio, and the hapax
    * fraction (trigrams seen exactly once within the source). Low
    * diversity / low hapax = templated or machine-generated text —
    * the corpus-level sibling of q55's within-document repetition.
    *
    * Scale: two-level aggregation — partial counts on (source,
    * trigram) combine map-side (the Zipf head collapses before the
    * shuffle), then one source-level rollup of the per-trigram counts.
    * DISTINCT falls out of the first level's key — no Expand, no
    * count-distinct shuffle of raw trigram instances.
    */
  def ngramDiversity(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val tri = docs
      .select(col("source"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("source"), explode(
        graft.functions.WordNGrams.ngrams(col("toks"), 3)).as("tg"))
    tri.groupBy(col("source"), col("tg"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("source"))
      .agg(
        sum(col("c")).as("n_total"),
        count(lit(1)).as("n_distinct"),
        count(when(col("c") === 1, lit(1))).as("n_hapax"))
      .withColumn("ttr",
        round(col("n_distinct").cast("double") / col("n_total"), 6))
      .withColumn("hapax_ratio",
        round(col("n_hapax").cast("double") / col("n_distinct"), 6))
      .orderBy(col("source"))
  }

  val ngramDiversitySql: String =
    """WITH base AS (
      |  SELECT source,
      |    list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS toks
      |  FROM documents
      |), tri AS (
      |  SELECT source,
      |    unnest([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
      |            for i in range(1, len(toks) - 1)]) AS tg
      |  FROM base WHERE len(toks) >= 3
      |), pertg AS (
      |  SELECT source, tg, COUNT(*) AS c FROM tri GROUP BY 1, 2
      |)
      |SELECT source, CAST(SUM(c) AS BIGINT) AS n_total, COUNT(*) AS n_distinct,
      |  COUNT(*) FILTER (c = 1) AS n_hapax,
      |  ROUND(CAST(COUNT(*) AS DOUBLE) / CAST(SUM(c) AS BIGINT), 6) AS ttr,
      |  ROUND(CAST(COUNT(*) FILTER (c = 1) AS DOUBLE) / COUNT(*), 6) AS hapax_ratio
      |FROM pertg GROUP BY source ORDER BY source""".stripMargin

  /** q88 — boilerplate mask, CCNet-style: a trigram shingle that
    * recurs across >= minDf DIFFERENT documents of the same source is
    * boilerplate (nav chrome, footers, license headers — the text the
    * crawler saw on every page of a site); each document then gets its
    * boilerplate fraction, the signal a cleaning pass thresholds on.
    * CCNet drops paragraphs seen more than once per shard — an
    * absolute repetition count, not a fraction, which is why minDf is
    * absolute here too.
    *
    * Scale: the (source, shingle) df is a map-side-combinable
    * aggregate on the same exploded shingle table the join-back reads
    * (checkpointed once, two consumers); the mask join is an equi-join
    * on (source, shingle) — co-partitioned with the df shuffle. At
    * 100 TB the per-source mask is exactly the CCNet shard pass: no
    * all-pairs anything, every shape keyed and combinable.
    */
  def boilerplateMask(spark: SparkSession, dir: String,
                      minDf: Int = 3): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val sh = docs
      .select(col("doc_id"), col("source"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), col("source"), explode(array_distinct(
        graft.functions.WordNGrams.ngrams(col("toks"), 3))).as("shingle"))
      .transform(graft.Iterate.cut)
    val bp = sh.groupBy(col("source"), col("shingle"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
      .select(col("source"), col("shingle"))
    val perDoc = sh.groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("n_sh"))
    val bpPerDoc = sh.join(bp, Seq("source", "shingle"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_bp"))
    perDoc.join(bpPerDoc, Seq("doc_id"), "left")
      .withColumn("n_bp", coalesce(col("n_bp"), lit(0L)))
      .withColumn("bp_frac", round(col("n_bp").cast("double") / col("n_sh"), 6))
      .select(col("doc_id"), col("source"), col("n_sh"), col("n_bp"), col("bp_frac"))
      .orderBy(col("doc_id"))
  }

  def boilerplateMaskSql(minDf: Int = 3): String =
    s"""WITH sh AS (
      |  SELECT doc_id, source,
      |    unnest(list_distinct([array_to_string(toks[i:i+2], ' ')
      |      for i in range(1, len(toks) - 1)])) AS shingle
      |  FROM (SELECT doc_id, source,
      |          list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '') AS toks
      |        FROM documents)
      |  WHERE len(toks) >= 3
      |), bp AS (
      |  SELECT source, shingle FROM sh
      |  GROUP BY source, shingle HAVING COUNT(*) >= $minDf
      |), per_doc AS (
      |  SELECT doc_id, source, COUNT(*) AS n_sh FROM sh GROUP BY 1, 2
      |), bp_per_doc AS (
      |  SELECT sh.doc_id, COUNT(*) AS n_bp
      |  FROM sh JOIN bp ON sh.source = bp.source AND sh.shingle = bp.shingle
      |  GROUP BY sh.doc_id
      |)
      |SELECT p.doc_id, p.source, p.n_sh,
      |  COALESCE(b.n_bp, 0) AS n_bp,
      |  ROUND(CAST(COALESCE(b.n_bp, 0) AS DOUBLE) / p.n_sh, 6) AS bp_frac
      |FROM per_doc p LEFT JOIN bp_per_doc b ON p.doc_id = b.doc_id
      |ORDER BY p.doc_id""".stripMargin

  /** q96 — readability scoring: the Flesch–Kincaid grade-level
    * heuristic (syllables ≈ vowel-group runs, sentences ≈ terminal
    * punctuation runs) — a classic cheap quality signal for filtering
    * crawl text by audience level. grade = 0.39·(words/sentences) +
    * 11.8·(syllables/words) − 15.59; NULL for empty docs.
    *
    * Oracle parity: both counters are single regexes with identical
    * Java/RE2 semantics (character classes only); the grade is one
    * fixed-order double expression rounded to 6dp.
    *
    * Scale: pure narrow map over the scan (regexp counters are
    * codegen'd), one final sort — the q21/q23 shape.
    */
  def readability(spark: SparkSession, dir: String): DataFrame =
    readabilitySignals(Tables.load(spark, dir, "documents"))
      .select(col("doc_id"), col("n_sentences"), col("n_words"),
        col("n_syllables"), col("fk_grade"), col("band"))
      .orderBy(col("doc_id"))

  /** Frame-parameterized core (pure map — streaming-safe): appends
    * n_sentences/n_words/n_syllables/fk_grade/band to any frame with
    * a `text` column. The streaming quality gate reuses it per
    * micro-batch.
    */
  def readabilitySignals(docs: DataFrame): DataFrame =
    docs
      .withColumn("n_sentences",
        greatest(lit(1), regexp_count(col("text"), lit("[.!?]+"))))
      .withColumn("n_words", tokenCount(col("text")))
      .withColumn("n_syllables",
        regexp_count(lower(col("text")), lit("[aeiouy]+")))
      .withColumn("fk_grade", round(
        lit(0.39) * (col("n_words").cast("double") / col("n_sentences"))
          + lit(11.8) * (col("n_syllables").cast("double") /
            nullif(col("n_words"), lit(0)))
          - lit(15.59), 6))
      .withColumn("band",
        when(col("fk_grade").isNull, "empty")
          .when(col("fk_grade") < 6.0, "easy")
          .when(col("fk_grade") < 10.0, "medium")
          .otherwise("hard"))

  val readabilitySql: String =
    s"""WITH counted AS (
      |  SELECT doc_id,
      |    GREATEST(1, len(regexp_extract_all(text, '[.!?]+'))) AS n_sentences,
      |    $tokenCountExprSql AS n_words,
      |    len(regexp_extract_all(lower(text), '[aeiouy]+')) AS n_syllables
      |  FROM documents
      |), graded AS (
      |  SELECT doc_id, n_sentences, n_words, n_syllables,
      |    ROUND(0.39 * (CAST(n_words AS DOUBLE) / n_sentences)
      |      + 11.8 * (CAST(n_syllables AS DOUBLE) / NULLIF(n_words, 0))
      |      - 15.59, 6) AS fk_grade
      |  FROM counted
      |)
      |SELECT doc_id, n_sentences, n_words, n_syllables, fk_grade,
      |  CASE WHEN fk_grade IS NULL THEN 'empty'
      |       WHEN fk_grade < 6.0 THEN 'easy'
      |       WHEN fk_grade < 10.0 THEN 'medium'
      |       ELSE 'hard' END AS band
      |FROM graded ORDER BY doc_id""".stripMargin

  /** q98 — script/charset profile: per-document fractions of
    * characters in the major Unicode script ranges, plus a
    * mojibake/corruption signal (C0 control chars + U+FFFD
    * replacement chars) and a dominant-script call — the
    * multilingual-corpus triage pass that runs BEFORE language ID
    * (lang-ID models assume the script; mojibake poisons both).
    *
    * Oracle parity: every counter is a character-class regex using
    * \\x{NNNN} escapes — the one class syntax Java regex and RE2
    * share; fractions are single divisions rounded to 6dp; the
    * dominant-script CASE breaks ties in a fixed order.
    *
    * Scale: narrow codegen map over the scan, like q96.
    */
  def scriptProfile(spark: SparkSession, dir: String): DataFrame =
    scriptSignals(Tables.load(spark, dir, "documents"))
      .select(col("doc_id"), col("n_chars_m"), col("latin_frac"),
        col("cyrillic_frac"), col("cjk_frac"), col("digit_frac"),
        col("bad_frac"), col("script"))
      .orderBy(col("doc_id"))

  /** Frame-parameterized core (pure map — streaming-safe): appends
    * the script-range counters, fractions, and the dominant-script
    * call to any frame with a `text` column.
    */
  def scriptSignals(docs: DataFrame): DataFrame = {
    def cnt(pat: String) = regexp_count(col("text"), lit(pat))
    def frac(c: Column) =
      round(c.cast("double") / nullif(col("n_chars_m"), lit(0)), 6)
    docs
      .withColumn("n_chars_m", length(col("text")))
      .withColumn("n_latin", cnt("[A-Za-z]"))
      .withColumn("n_cyrillic", cnt("[\\x{0400}-\\x{04FF}]"))
      .withColumn("n_cjk", cnt("[\\x{4E00}-\\x{9FFF}]"))
      .withColumn("n_arabic", cnt("[\\x{0600}-\\x{06FF}]"))
      .withColumn("n_digit", cnt("[0-9]"))
      .withColumn("n_bad",
        cnt("[\\x{0000}-\\x{0008}\\x{000B}\\x{000C}\\x{000E}-\\x{001F}\\x{FFFD}]"))
      .withColumn("latin_frac", frac(col("n_latin")))
      .withColumn("cyrillic_frac", frac(col("n_cyrillic")))
      .withColumn("cjk_frac", frac(col("n_cjk")))
      .withColumn("digit_frac", frac(col("n_digit")))
      .withColumn("bad_frac", frac(col("n_bad")))
      .withColumn("script",
        when(col("n_latin") + col("n_cyrillic") + col("n_cjk")
          + col("n_arabic") === 0, "none")
          .when(col("n_latin") >= col("n_cyrillic") &&
            col("n_latin") >= col("n_cjk") &&
            col("n_latin") >= col("n_arabic"), "latin")
          .when(col("n_cyrillic") >= col("n_cjk") &&
            col("n_cyrillic") >= col("n_arabic"), "cyrillic")
          .when(col("n_cjk") >= col("n_arabic"), "cjk")
          .otherwise("arabic"))
  }

  val scriptProfileSql: String =
    """WITH counted AS (
      |  SELECT doc_id, length(text) AS n_chars_m,
      |    len(regexp_extract_all(text, '[A-Za-z]')) AS n_latin,
      |    len(regexp_extract_all(text, '[\x{0400}-\x{04FF}]')) AS n_cyrillic,
      |    len(regexp_extract_all(text, '[\x{4E00}-\x{9FFF}]')) AS n_cjk,
      |    len(regexp_extract_all(text, '[\x{0600}-\x{06FF}]')) AS n_arabic,
      |    len(regexp_extract_all(text, '[0-9]')) AS n_digit,
      |    len(regexp_extract_all(text,
      |      '[\x{0000}-\x{0008}\x{000B}\x{000C}\x{000E}-\x{001F}\x{FFFD}]')) AS n_bad
      |  FROM documents
      |)
      |SELECT doc_id, n_chars_m,
      |  ROUND(CAST(n_latin AS DOUBLE) / NULLIF(n_chars_m, 0), 6) AS latin_frac,
      |  ROUND(CAST(n_cyrillic AS DOUBLE) / NULLIF(n_chars_m, 0), 6) AS cyrillic_frac,
      |  ROUND(CAST(n_cjk AS DOUBLE) / NULLIF(n_chars_m, 0), 6) AS cjk_frac,
      |  ROUND(CAST(n_digit AS DOUBLE) / NULLIF(n_chars_m, 0), 6) AS digit_frac,
      |  ROUND(CAST(n_bad AS DOUBLE) / NULLIF(n_chars_m, 0), 6) AS bad_frac,
      |  CASE WHEN n_latin + n_cyrillic + n_cjk + n_arabic = 0 THEN 'none'
      |       WHEN n_latin >= n_cyrillic AND n_latin >= n_cjk
      |            AND n_latin >= n_arabic THEN 'latin'
      |       WHEN n_cyrillic >= n_cjk AND n_cyrillic >= n_arabic THEN 'cyrillic'
      |       WHEN n_cjk >= n_arabic THEN 'cjk'
      |       ELSE 'arabic' END AS script
      |FROM counted ORDER BY doc_id""".stripMargin

  /** q103 — unigram token entropy per document, in bits: the
    * information-diversity quality signal (near-zero entropy = token
    * spam/repetition even when q55's exact-dup fractions miss it;
    * uniform text maxes at log2(n_unique)). Computed in the
    * aggregate-stable form H = log10(n) − (Σ c·log10(c))/n, converted
    * to bits by one constant division — only counts are aggregated,
    * never per-row probabilities.
    *
    * Oracle parity: each c·log10(c) term is rounded to 6dp and summed
    * in DECIMAL(18,6) (q56's convention — the per-term round makes
    * the sum independent of partial-aggregation order AND of libm's
    * last ulp); the remaining float ops run in one fixed order.
    *
    * Scale: explode → (doc_id, token) partial+final count →
    * (doc_id) agg; both aggregates map-side combine. Empty docs
    * surface with NULL entropy via the left join back to `documents`.
    */
  def tokenEntropy(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val dec = org.apache.spark.sql.types.DecimalType(18, 6)
    val per = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_unique"),
        sum(round(col("c") * log10(col("c")), 6).cast(dec)).as("s"))
    docs.select(col("doc_id"))
      .join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_unique"), lit(0L)).as("n_unique"),
        round((log10(col("n_tokens")) - col("s").cast("double") / col("n_tokens"))
          / lit(0.30102999566398120), 6).as("entropy_bits"))
      .orderBy(col("doc_id"))
  }

  val tokenEntropySql: String =
    """WITH counts AS (
      |  SELECT doc_id, token, COUNT(*) AS c FROM (
      |    SELECT doc_id, unnest(list_filter(
      |      string_split_regex(lower(text), '\s+'), t -> t <> '')) AS token
      |    FROM documents
      |  ) GROUP BY doc_id, token
      |), per AS (
      |  SELECT doc_id, SUM(c) AS n_tokens, COUNT(*) AS n_unique,
      |    SUM(CAST(ROUND(c * log10(c), 6) AS DECIMAL(18,6))) AS s
      |  FROM counts GROUP BY doc_id
      |)
      |SELECT d.doc_id,
      |  CAST(COALESCE(p.n_tokens, 0) AS BIGINT) AS n_tokens,
      |  COALESCE(p.n_unique, 0) AS n_unique,
      |  ROUND((log10(p.n_tokens) - CAST(p.s AS DOUBLE) / p.n_tokens)
      |    / CAST(0.30102999566398120 AS DOUBLE), 6) AS entropy_bits
      |FROM documents d LEFT JOIN per p ON d.doc_id = p.doc_id
      |ORDER BY d.doc_id""".stripMargin

  /** q109 — vocabulary growth curve (the Heaps'-law audit every
    * corpus-scaling decision reads): over `bucket`-doc prefixes of the
    * corpus in doc_id order, the running token count and running
    * distinct-type count — does vocabulary still grow at the corpus
    * tail, or has the feed gone repetitive? Computed without any
    * running-distinct state: a type's contribution point is its FIRST
    * document (min doc_id per token — one shuffle with map-side
    * combine), so per-bucket new-type counts plus a cumulative sum
    * over the tiny bucket table give the exact curve. The cumulative
    * window orders ~corpus/bucket rows — catalog-sized, not
    * corpus-sized, at any SF.
    */
  def vocabularyGrowth(spark: SparkSession, dir: String,
                       bucket: Int = 100): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.load(spark, dir, "documents")
    val tok = docs.select(col("doc_id"), explode(tokens(col("text"))).as("token"))
    val firstDoc = tok.groupBy(col("token"))
      .agg(min(col("doc_id")).as("first_doc"))
    val newTypes = firstDoc
      .groupBy(expr(s"first_doc div $bucket").as("bucket"))
      .agg(count(lit(1)).as("n_new_types"))
    val tokCounts = tok
      .groupBy(expr(s"doc_id div $bucket").as("bucket"))
      .agg(count(lit(1)).as("n_tokens"))
    val w = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, 0)
    tokCounts.join(newTypes, Seq("bucket"), "left")
      .select(col("bucket"), col("n_tokens"),
        coalesce(col("n_new_types"), lit(0L)).as("n_new_types"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .withColumn("cum_types", sum(col("n_new_types")).over(w))
      .orderBy(col("bucket"))
  }

  /** q321 — Heaps' law fit over the q109 growth curve: OLS of
    * log10(cum_types) on log10(cum_tokens) gives the Heaps exponent β
    * (V ≈ K·Nᵝ) and its r² — the two-number summary of "how fast does
    * this corpus's vocabulary saturate", the forward extrapolation
    * q310's Good–Turing mass reads instantaneously. β near 1 means
    * the feed keeps minting types (OCR noise, IDs, markup); text
    * corpora typically sit in 0.4–0.6 — the comparison is the QC
    * reading.
    *
    * Exactness: the q102 OLS discipline verbatim — log10 terms and
    * their products rounded to 6dp and decimal-summed, slope/
    * intercept/r² each one double chain off those exact sums.
    * Scale: rides the q109 aggregates; the regression runs over the
    * |buckets|-row curve.
    */
  def heapsFit(spark: SparkSession, dir: String,
               bucket: Int = 100): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(28, 6)
    def dsum(c: Column): Column = sum(c.cast(dec)).cast("double")
    val curve = vocabularyGrowth(spark, dir, bucket)
      .filter(col("cum_tokens") > 0 && col("cum_types") > 0)
      .select(round(log10(col("cum_tokens").cast("double")), 6).as("x"),
        round(log10(col("cum_types").cast("double")), 6).as("y"))
    curve.agg(
        count(lit(1)).as("n_points"),
        dsum(col("x")).as("sx"), dsum(col("y")).as("sy"),
        dsum(round(col("x") * col("x"), 6)).as("sxx"),
        dsum(round(col("x") * col("y"), 6)).as("sxy"),
        dsum(round(col("y") * col("y"), 6)).as("syy"))
      .withColumn("den",
        nullif(col("n_points") * col("sxx") - col("sx") * col("sx"), lit(0.0)))
      .withColumn("num", col("n_points") * col("sxy") - col("sx") * col("sy"))
      .select(col("n_points"),
        // + 0.0 normalizes IEEE negative zero (a saturated-vocabulary
        // corpus fits beta = exactly 0, where the engines' rounding
        // signs differ)
        (round(col("num") / col("den"), 6) + lit(0.0)).as("beta"),
        (round((col("sy") - (col("num") / col("den")) * col("sx"))
          / col("n_points"), 4) + lit(0.0)).as("log10_k"),
        (round((col("num") * col("num")) /
          nullif(col("den") * (col("n_points") * col("syy") -
            col("sy") * col("sy")), lit(0.0)), 6) + lit(0.0)).as("r2"))
  }

  def heapsFitSql(bucket: Int = 100): String =
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(list_filter(
       |    string_split_regex(lower(text), '\\s+'), t -> t <> '')) AS token
       |  FROM documents
       |), first_doc AS (
       |  SELECT token, MIN(doc_id) AS first_doc FROM tok GROUP BY token
       |), new_types AS (
       |  SELECT first_doc // $bucket AS bucket, COUNT(*) AS n_new_types
       |  FROM first_doc GROUP BY 1
       |), tok_counts AS (
       |  SELECT doc_id // $bucket AS bucket, COUNT(*) AS n_tokens
       |  FROM tok GROUP BY 1
       |), curve AS (
       |  SELECT
       |    SUM(t.n_tokens) OVER (ORDER BY t.bucket
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens,
       |    SUM(COALESCE(n.n_new_types, 0)) OVER (ORDER BY t.bucket
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_types
       |  FROM tok_counts t LEFT JOIN new_types n ON n.bucket = t.bucket
       |), pts AS (
       |  SELECT ROUND(LOG10(CAST(cum_tokens AS DOUBLE)), 6) AS x,
       |    ROUND(LOG10(CAST(cum_types AS DOUBLE)), 6) AS y
       |  FROM curve WHERE cum_tokens > 0 AND cum_types > 0
       |), s AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_points,
       |    CAST(SUM(CAST(x AS DECIMAL(28,6))) AS DOUBLE) AS sx,
       |    CAST(SUM(CAST(y AS DECIMAL(28,6))) AS DOUBLE) AS sy,
       |    CAST(SUM(CAST(ROUND(x * x, 6) AS DECIMAL(28,6))) AS DOUBLE) AS sxx,
       |    CAST(SUM(CAST(ROUND(x * y, 6) AS DECIMAL(28,6))) AS DOUBLE) AS sxy,
       |    CAST(SUM(CAST(ROUND(y * y, 6) AS DECIMAL(28,6))) AS DOUBLE) AS syy
       |  FROM pts
       |)
       |SELECT n_points,
       |  ROUND((n_points * sxy - sx * sy)
       |    / NULLIF(n_points * sxx - sx * sx, 0.0), 6) + 0.0 AS beta,
       |  ROUND((sy - ((n_points * sxy - sx * sy)
       |      / NULLIF(n_points * sxx - sx * sx, 0.0)) * sx)
       |    / n_points, 4) + 0.0 AS log10_k,
       |  ROUND((n_points * sxy - sx * sy) * (n_points * sxy - sx * sy)
       |    / NULLIF((n_points * sxx - sx * sx) *
       |      (n_points * syy - sy * sy), 0.0), 6) + 0.0 AS r2
       |FROM s""".stripMargin

  /** 100 TB scale path of q36's vocabulary (benched as x04, not
    * oracle-graded): Misra–Gries heavy hitters over the token stream —
    * ≤ k counters per aggregation buffer instead of the full
    * vocabulary shuffle. Sketch contents are arrival-order-dependent;
    * the MG presence/undercount bounds against the exact counts are
    * what TextOpsSpec asserts (the HLL/quantile-twin split).
    */
  def vocabularyHeavyHitters(spark: SparkSession, dir: String,
                             k: Int = 50): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    docs.select(explode(tokens(col("text"))).as("token"))
      .agg(graft.functions.HeavyHitters.heavyHitters(col("token"), k).as("hh"))
      .select(explode(col("hh")).as(Seq("token", "est_count")))
      .orderBy(col("est_count").desc, col("token"))
  }

  /** q126 — out-of-vocabulary rate across ingestion halves: token
    * coverage of the LATE half under the EARLY half's vocabulary, per
    * language — the tokenizer-coverage proxy (a vocab/tokenizer frozen
    * on yesterday's corpus: how much of today's stream falls outside
    * it?). Complements q124's distribution drift (PSI can be flat
    * while a long tail of novel tokens grows) and q109's corpus-level
    * growth curve with a per-language coverage number.
    *
    * Scale: one early-vocab distinct + one (lang, token)-keyed
    * left-anti membership join with map-side combinable counts — no
    * driver-side vocab, no broadcast of the vocabulary.
    */
  def oovRate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val bounds = docs.agg(min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx"))
    val tok = docs.crossJoin(broadcast(bounds))
      .withColumn("late", (col("doc_id") * 2 > col("mn") + col("mx")).cast("int"))
      .select(col("late"), col("lang"), explode(tokens(col("text"))).as("token"))
    val earlyVocab = tok.filter(col("late") === 0)
      .select(col("lang"), col("token")).distinct()
    val late = tok.filter(col("late") === 1)
    val counts = late.groupBy(col("lang")).agg(count(lit(1)).as("n_late_tokens"))
    val oov = late.join(earlyVocab, Seq("lang", "token"), "left_anti")
      .groupBy(col("lang")).agg(count(lit(1)).as("n_oov"))
    counts.join(oov, Seq("lang"), "left")
      .select(col("lang"), col("n_late_tokens"),
        coalesce(col("n_oov"), lit(0L)).as("n_oov"),
        round(coalesce(col("n_oov"), lit(0L)).cast("double")
          / col("n_late_tokens"), 6).as("oov_rate"))
      .orderBy(col("lang"))
  }

  val oovRateSql: String =
    """WITH bounds AS (
      |  SELECT MIN(doc_id) AS mn, MAX(doc_id) AS mx FROM documents
      |), tok AS (
      |  SELECT CASE WHEN doc_id * 2 > mn + mx THEN 1 ELSE 0 END AS late,
      |    lang, unnest(list_filter(
      |      string_split_regex(lower(text), '\s+'), t -> t <> '')) AS token
      |  FROM documents CROSS JOIN bounds
      |), early_vocab AS (
      |  SELECT DISTINCT lang, token FROM tok WHERE late = 0
      |), late_tok AS (
      |  SELECT lang, token FROM tok WHERE late = 1
      |), counts AS (
      |  SELECT lang, COUNT(*) AS n_late_tokens FROM late_tok GROUP BY lang
      |), oov AS (
      |  SELECT l.lang, COUNT(*) AS n_oov
      |  FROM late_tok l
      |  WHERE NOT EXISTS (SELECT 1 FROM early_vocab e
      |                    WHERE e.lang = l.lang AND e.token = l.token)
      |  GROUP BY l.lang
      |)
      |SELECT c.lang, c.n_late_tokens,
      |  CAST(COALESCE(o.n_oov, 0) AS BIGINT) AS n_oov,
      |  ROUND(CAST(COALESCE(o.n_oov, 0) AS DOUBLE) / c.n_late_tokens, 6) AS oov_rate
      |FROM counts c LEFT JOIN oov o ON c.lang = o.lang
      |ORDER BY c.lang""".stripMargin

  /** q128 — collocation extraction: the corpus's top adjacent token
    * pairs by pointwise mutual information, with a minimum pair count
    * — the multi-word-expression miner ("new york"-style units) that
    * feeds tokenizer merges and phrase-aware dedup. PMI compares the
    * pair's probability against independence of its parts:
    * log10((c2/Nb) / ((ca/Nt)·(cb/Nt))).
    *
    * Exactness: all inputs are exact integer counts, so the PMI
    * argument is a small rational — log10 of a non-power-of-ten
    * rational cannot land on a 6dp half, and both engines share the
    * correctly-rounded log10 (F3). Ordering happens on the IDENTICAL
    * doubles, tie-broken by the pair text. Scale: two token-keyed
    * aggregates with map-side combine, two 1-row totals broadcast,
    * and the top-k is a distributed TakeOrdered over the
    * min-count-filtered candidates — never a global sort of the full
    * bigram table.
    */
  def collocations(spark: SparkSession, dir: String, minCount: Int = 5,
                   topK: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.load(spark, dir, "documents")
    val base = docs.select(col("doc_id"), tokens(col("text")).as("toks"))
    val bg = base.filter(size(col("toks")) >= 2)
      .select(explode(
        graft.functions.WordNGrams.ngrams(col("toks"), 2)).as("bigram"))
      .select(substring_index(col("bigram"), " ", 1).as("w1"),
        substring_index(col("bigram"), " ", -1).as("w2"))
    val c2 = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
      .filter(col("c2") >= minCount)
    val nb = bg.agg(count(lit(1)).as("nb"))
    val ct = base.select(explode(col("toks")).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("ct"))
    val nt = base.select(explode(col("toks")).as("t")).agg(count(lit(1)).as("nt"))
    val pmi = round(log10(
      (col("c2").cast("double") / col("nb")) /
        ((col("ca").cast("double") / col("nt")) *
          (col("cb").cast("double") / col("nt")))), 6)
    val top = c2
      .join(ct.select(col("t").as("w1"), col("ct").as("ca")), "w1")
      .join(ct.select(col("t").as("w2"), col("ct").as("cb")), "w2")
      .crossJoin(broadcast(nb)).crossJoin(broadcast(nt))
      .withColumn("pmi", pmi)
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(topK)
    top.withColumn("rank", row_number().over(
        Window.orderBy(col("pmi").desc, col("w1"), col("w2"))))
      .select(col("rank"), col("w1"), col("w2"), col("c2"), col("pmi"))
      .orderBy(col("rank"))
  }

  def collocationsSql(minCount: Int = 5, topK: Int = 20): String =
    s"""WITH base AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '') AS toks
      |  FROM documents
      |), bg AS (
      |  SELECT split_part(bigram, ' ', 1) AS w1, split_part(bigram, ' ', 2) AS w2
      |  FROM (
      |    SELECT unnest([toks[i] || ' ' || toks[i+1]
      |      for i in range(1, len(toks))]) AS bigram
      |    FROM base WHERE len(toks) >= 2
      |  )
      |), c2 AS (
      |  SELECT w1, w2, COUNT(*) AS c2 FROM bg GROUP BY 1, 2
      |  HAVING COUNT(*) >= $minCount
      |), nb AS (
      |  SELECT COUNT(*) AS nb FROM bg
      |), ct AS (
      |  SELECT t, COUNT(*) AS ct
      |  FROM (SELECT unnest(toks) AS t FROM base) GROUP BY t
      |), nt AS (
      |  SELECT COUNT(*) AS nt FROM (SELECT unnest(toks) AS t FROM base)
      |), scored AS (
      |  SELECT c2.w1, c2.w2, c2.c2,
      |    ROUND(log10((CAST(c2.c2 AS DOUBLE) / nb.nb)
      |      / ((CAST(ca.ct AS DOUBLE) / nt.nt)
      |        * (CAST(cb.ct AS DOUBLE) / nt.nt))), 6) AS pmi
      |  FROM c2
      |  JOIN ct ca ON c2.w1 = ca.t
      |  JOIN ct cb ON c2.w2 = cb.t
      |  CROSS JOIN nb CROSS JOIN nt
      |)
      |SELECT CAST(row_number() OVER (ORDER BY pmi DESC, w1, w2) AS INT) AS rank,
      |  w1, w2, c2, pmi
      |FROM scored
      |QUALIFY rank <= $topK
      |ORDER BY rank""".stripMargin

  /** q113 — per-language Zipf rank-frequency fit: OLS of log10(tf) on
    * log10(rank) over each language's top-`topN` tokens — slope ≈ −1
    * is healthy natural text; a flattened or cliffed curve flags
    * templated/boilerplate feeds before any dedup runs. The top-N cut
    * keeps the per-group sort a partial top-k (rank ≤ literal →
    * WindowGroupLimit), and the regression is q102's
    * sufficient-statistics discipline: per-term round(·, 6) before the
    * DECIMAL(28,6) sum, one fixed operand order, NULLIF degeneracy.
    *
    * Scale: one (lang, token) aggregate with map-side combine, a
    * per-lang top-k window (map-side limited), then a lang-keyed
    * 5-sum aggregate. log10 is graded-portable here (q03/q11
    * precedent: both engines agree on these magnitudes).
    */
  def zipfFit(spark: SparkSession, dir: String, topN: Int = 500): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dec = org.apache.spark.sql.types.DecimalType(28, 6)
    def dsum(c: Column): Column = sum(round(c, 6).cast(dec)).cast("double")
    val docs = Tables.load(spark, dir, "documents")
    val tf = docs.select(col("lang"), explode(tokens(col("text"))).as("token"))
      .groupBy(col("lang"), col("token")).agg(count(lit(1)).as("tf"))
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("tf").desc, col("token"))
    val ranked = tf.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topN)
      .withColumn("x", log10(col("rank")))
      .withColumn("y", log10(col("tf")))
    val stats = ranked.groupBy(col("lang")).agg(
      count(lit(1)).as("n_terms"),
      dsum(col("x")).as("sx"),
      dsum(col("y")).as("sy"),
      dsum(col("x") * col("x")).as("sxx"),
      dsum(col("x") * col("y")).as("sxy"),
      dsum(col("y") * col("y")).as("syy"))
    stats
      .withColumn("den", nullif(col("n_terms") * col("sxx") - col("sx") * col("sx"), lit(0.0)))
      .withColumn("num", col("n_terms") * col("sxy") - col("sx") * col("sy"))
      .withColumn("zipf_slope", round(col("num") / col("den"), 6))
      .withColumn("intercept", round(
        (col("sy") - (col("num") / col("den")) * col("sx")) / col("n_terms"), 6))
      .withColumn("r2", round(
        (col("num") * col("num")) /
          nullif(col("den") * (col("n_terms") * col("syy") - col("sy") * col("sy")),
            lit(0.0)), 6))
      .select(col("lang"), col("n_terms"), col("zipf_slope"),
        col("intercept"), col("r2"))
      .orderBy(col("lang"))
  }

  def zipfFitSql(topN: Int = 500): String =
    s"""WITH tf AS (
      |  SELECT lang, token, COUNT(*) AS tf FROM (
      |    SELECT lang, unnest(list_filter(
      |      string_split_regex(lower(text), '\\s+'), t -> t <> '')) AS token
      |    FROM documents
      |  ) GROUP BY lang, token
      |), ranked AS (
      |  SELECT lang, tf,
      |    row_number() OVER (PARTITION BY lang ORDER BY tf DESC, token) AS rank
      |  FROM tf QUALIFY rank <= $topN
      |), pts AS (
      |  SELECT lang, log10(CAST(rank AS DOUBLE)) AS x,
      |    log10(CAST(tf AS DOUBLE)) AS y
      |  FROM ranked
      |), stats AS (
      |  SELECT lang, COUNT(*) AS n_terms,
      |    CAST(SUM(CAST(ROUND(x, 6) AS DECIMAL(28,6))) AS DOUBLE) AS sx,
      |    CAST(SUM(CAST(ROUND(y, 6) AS DECIMAL(28,6))) AS DOUBLE) AS sy,
      |    CAST(SUM(CAST(ROUND(x * x, 6) AS DECIMAL(28,6))) AS DOUBLE) AS sxx,
      |    CAST(SUM(CAST(ROUND(x * y, 6) AS DECIMAL(28,6))) AS DOUBLE) AS sxy,
      |    CAST(SUM(CAST(ROUND(y * y, 6) AS DECIMAL(28,6))) AS DOUBLE) AS syy
      |  FROM pts GROUP BY lang
      |), derived AS (
      |  SELECT lang, n_terms,
      |    NULLIF(n_terms * sxx - sx * sx, 0.0) AS den,
      |    n_terms * sxy - sx * sy AS num, sx, sy, syy
      |  FROM stats
      |)
      |SELECT lang, n_terms,
      |  ROUND(num / den, 6) AS zipf_slope,
      |  ROUND((sy - (num / den) * sx) / n_terms, 6) AS intercept,
      |  ROUND((num * num) / NULLIF(den * (n_terms * syy - sy * sy), 0.0), 6) AS r2
      |FROM derived ORDER BY lang""".stripMargin

  def vocabularyGrowthSql(bucket: Int = 100): String =
    s"""WITH tok AS (
      |  SELECT doc_id, unnest(list_filter(
      |    string_split_regex(lower(text), '\\s+'), t -> t <> '')) AS token
      |  FROM documents
      |), fd AS (
      |  SELECT token, MIN(doc_id) AS first_doc FROM tok GROUP BY token
      |), nt AS (
      |  SELECT first_doc // $bucket AS bucket, COUNT(*) AS n_new_types
      |  FROM fd GROUP BY 1
      |), tc AS (
      |  SELECT doc_id // $bucket AS bucket, COUNT(*) AS n_tokens
      |  FROM tok GROUP BY 1
      |)
      |SELECT tc.bucket, tc.n_tokens,
      |  CAST(COALESCE(nt.n_new_types, 0) AS BIGINT) AS n_new_types,
      |  CAST(SUM(tc.n_tokens) OVER (ORDER BY tc.bucket) AS BIGINT) AS cum_tokens,
      |  CAST(SUM(COALESCE(nt.n_new_types, 0)) OVER (ORDER BY tc.bucket) AS BIGINT) AS cum_types
      |FROM tc LEFT JOIN nt ON tc.bucket = nt.bucket
      |ORDER BY tc.bucket""".stripMargin

  /** The `topTokens` tokens by document frequency from (token, doc_id,
    * tf) rows, each with its tf total and its first `postingsCap`
    * doc ids. */
  private def topPostings(perDoc: DataFrame, topTokens: Int,
                          postingsCap: Int): DataFrame = {
    val stats = perDoc.groupBy(col("token"))
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("tf_total"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("token")).orderBy(col("doc_id"))
    val postings = perDoc
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= postingsCap)
      .groupBy(col("token"))
      .agg(array_join(sort_array(collect_list(col("doc_id")))
        .cast("array<string>"), ",").as("postings"))
    stats.join(postings, "token")
      .select(col("token"), col("df"), col("tf_total"), col("postings"))
      .orderBy(col("df").desc, col("token"))
      .limit(topTokens)
  }

  /** q164 — inverted-index posting lists: the IR-engine artifact
    * itself, materialized as a relation. For the `topTokens` highest-df
    * tokens: document frequency, total term frequency, and the first
    * `postingsCap` doc ids of the (doc_id-ascending) posting list,
    * emitted as a comma-joined string so any downstream harness can
    * sort/hash the frame without array-cell support —
    * the physical structure behind q26's candidate generation and any
    * BM25/boolean retrieval serving tier, exposed so a pipeline can
    * persist and ship it. q36 reports the vocabulary's statistics;
    * this materializes the index entries.
    *
    * Scale: the (token, doc) term-frequency aggregate is the one
    * corpus-sized shuffle, and the posting arrays are BOUNDED before
    * any collect — a row_number window with a literal cap filter
    * (WindowGroupLimit prunes map-side) feeds the collect_list, so no
    * task ever holds an unbounded hot-token posting list; the full
    * list lives as rows, the preview as a bounded string. Stats and postings
    * aggregate on the same token key — one partitioning, reused. The
    * final top-k is a literal-bounded TakeOrderedAndProject.
    */
  def invertedIndex(spark: SparkSession, dir: String,
                    topTokens: Int = 100, postingsCap: Int = 10): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val perDoc = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .groupBy(col("token"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))
    topPostings(perDoc, topTokens, postingsCap)
  }

  /** q361 — INCREMENTAL index maintenance, graded against the full
    * rebuild: the corpus splits into a BASE (doc_id % 10 ≠ 0, the
    * already-indexed 90%) and a DELTA (the new 10%); the base's
    * (token, doc, tf) posting rows are materialized ONCE
    * (Iterate.cut — at 100 TB this is the stored index, and the
    * whole point: the delta path tokenizes ONLY the new documents),
    * the delta's rows union in, and stats/postings re-aggregate on
    * the merged rows. The oracle is q164's full-rebuild SQL — the
    * graded match IS the index-maintenance contract: merge(base,
    * delta) ≡ rebuild(all), the property every delta-indexing
    * pipeline must hold and almost none continuously verify.
    *
    * Scale: re-aggregation touches only tokens present in EITHER
    * side's rows at the (token) key — map-side combined; the
    * postings cap keeps hot tokens bounded exactly as q164 does.
    */
  def invertedIndexIncremental(spark: SparkSession, dir: String,
      topTokens: Int = 100, postingsCap: Int = 10): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    def perDocOf(df: DataFrame): DataFrame = df
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .groupBy(col("token"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))
    // the stored index: built from the base corpus and FROZEN (the
    // delta path never re-reads base text)
    val base = perDocOf(docs.filter(col("doc_id") % 10 =!= 0))
      .transform(graft.Iterate.cut)
    val delta = perDocOf(docs.filter(col("doc_id") % 10 === 0))
    val merged = base.unionByName(delta)
    topPostings(merged, topTokens, postingsCap)
  }

  def invertedIndexSql(topTokens: Int = 100, postingsCap: Int = 10): String =
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(list_filter(
       |    string_split_regex(lower(text), '\\s+'), t -> t <> '')) AS token
       |  FROM documents
       |), per_doc AS (
       |  SELECT token, doc_id, COUNT(*) AS tf FROM tok GROUP BY 1, 2
       |), stats AS (
       |  SELECT token, CAST(COUNT(*) AS BIGINT) AS df,
       |    CAST(SUM(tf) AS BIGINT) AS tf_total
       |  FROM per_doc GROUP BY token
       |), ranked AS (
       |  SELECT token, doc_id,
       |    row_number() OVER (PARTITION BY token ORDER BY doc_id) AS rn
       |  FROM per_doc
       |), post AS (
       |  SELECT token,
       |    string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings
       |  FROM ranked WHERE rn <= $postingsCap GROUP BY token
       |)
       |SELECT s.token, s.df, s.tf_total, p.postings
       |FROM stats s JOIN post p USING (token)
       |ORDER BY s.df DESC, s.token
       |LIMIT $topTokens""".stripMargin

  /** The fixed keyword-query workload for [[retrievalTopK]] — five
    * multi-term queries over the corpus vocabulary, the batch a
    * serving tier replays nightly to refresh cached result pages.
    */
  val retrievalQueries: Seq[(String, Seq[String])] = Seq(
    "perf" -> Seq("slow", "fast", "query"),
    "scanfilter" -> Seq("table", "scan", "filter"),
    "sortmerge" -> Seq("sort", "merge", "join"),
    "streaming" -> Seq("stream", "window", "batch"),
    "vectorhash" -> Seq("vector", "hash", "group"))

  /** q174 — batch multi-query BM25 retrieval THROUGH the inverted
    * index: the serving-side complement of q74 (which scores ONE
    * query by scanning every document) and q164 (which materializes
    * the index). Query terms join the (token, doc_id, tf) posting
    * relation, so only documents containing at least one query term
    * are ever touched — retrieval cost is Σ df(query terms), not
    * corpus size, which is the entire point of an inverted index at
    * 100 TB. Scores use the same k1=1.2/b=0.75/log10-idf formulation
    * as q74 (absent terms contribute 0, which the postings join
    * expresses structurally), and each query returns its exact top-k
    * page.
    *
    * Exactness: each term contribution is rounded to 6dp and summed
    * in DECIMAL(18,6) per (query, doc) — term-arrival order inside
    * the aggregate cannot perturb the score (q74 sums its three fixed
    * terms in one expression; here matched-term COUNT varies per doc,
    * so order independence must come from the decimal sum). The
    * contribution expression mirrors the SQL twin literal-for-literal.
    *
    * Scale: one corpus-sized (token, doc) aggregate (shared shape
    * with q164 — in a deployed pipeline this IS the persisted index,
    * built once); everything after is postings-of-query-terms sized.
    * df/query/corpus-stats frames are broadcast; the per-query top-k
    * is a literal-bounded row_number → WindowGroupLimit prunes
    * map-side before the qid shuffle. MaxScore/WAND-style upper-bound
    * skipping (per-term max contribution as a prune threshold) is the
    * documented next tier when query batches reach web scale.
    */
  def retrievalTopK(spark: SparkSession, dir: String,
                    queries: Seq[(String, Seq[String])] = retrievalQueries,
                    k: Int = 10): DataFrame = {
    import spark.implicits._
    val dec = org.apache.spark.sql.types.DecimalType(18, 6)
    val perDoc = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .groupBy(col("token"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))
      .transform(graft.Iterate.cut) // three consumers: dl, df, postings join
    val dl = perDoc.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val corpus = dl.agg(count(lit(1)).as("n_docs"),
      sum(col("dl")).cast("double").as("sum_dl"))
    val qterms = queries.flatMap { case (q, ts) => ts.map(t => (q, t)) }
      .toDF("qid", "term")
    val terms = qterms.select(col("term")).distinct()
    val qpost = perDoc.join(broadcast(terms), col("token") === col("term"))
      .drop("term")
    val dfT = qpost.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val contrib = qpost
      .join(broadcast(dfT), "token")
      .join(dl, "doc_id")
      .crossJoin(broadcast(corpus))
      .join(broadcast(qterms), col("token") === col("term"))
      .withColumn("c", round(
        log10((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0)) *
          ((col("tf") * (lit(1.2) + lit(1))) /
            (col("tf") + lit(1.2) * (lit(1) - lit(0.75) + lit(0.75) * col("dl") / (col("sum_dl") / col("n_docs"))))),
        6).cast(dec))
    val scores = contrib.groupBy(col("qid"), col("doc_id"))
      .agg(sum(col("c")).cast("double").as("score"),
        count(lit(1)).as("n_terms"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("score").desc, col("doc_id"))
    scores.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("rnk"), col("doc_id"), col("score"), col("n_terms"))
      .orderBy(col("qid"), col("rnk"))
  }

  def retrievalTopKSql(queries: Seq[(String, Seq[String])] = retrievalQueries,
                       k: Int = 10): String = {
    val vals = queries.flatMap { case (q, ts) =>
      ts.map(t => s"('$q', '$t')") }.mkString(", ")
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(list_filter(
       |    string_split_regex(lower(text), '\\s+'), t -> t <> '')) AS token
       |  FROM documents
       |), per_doc AS (
       |  SELECT token, doc_id, COUNT(*) AS tf FROM tok GROUP BY 1, 2
       |), dl AS (
       |  SELECT doc_id, SUM(tf) AS dl FROM per_doc GROUP BY 1
       |), corpus AS (
       |  SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS DOUBLE) AS sum_dl FROM dl
       |), q(qid, term) AS (
       |  SELECT * FROM (VALUES $vals)
       |), dfq AS (
       |  SELECT token, COUNT(*) AS df FROM per_doc
       |  WHERE token IN (SELECT DISTINCT term FROM q) GROUP BY 1
       |), contrib AS (
       |  SELECT q.qid, p.doc_id, ROUND(
       |    log10((c.n_docs - f.df + CAST(0.5 AS DOUBLE)) / (f.df + CAST(0.5 AS DOUBLE)) + CAST(1.0 AS DOUBLE)) *
       |      ((p.tf * (CAST(1.2 AS DOUBLE) + 1)) /
       |        (p.tf + CAST(1.2 AS DOUBLE) * (1 - CAST(0.75 AS DOUBLE) + CAST(0.75 AS DOUBLE) * d.dl / (c.sum_dl / c.n_docs)))),
       |    6) AS c
       |  FROM per_doc p
       |  JOIN q ON p.token = q.term
       |  JOIN dfq f ON f.token = p.token
       |  JOIN dl d ON d.doc_id = p.doc_id, corpus c
       |), scores AS (
       |  SELECT qid, doc_id,
       |    CAST(SUM(CAST(c AS DECIMAL(18,6))) AS DOUBLE) AS score,
       |    COUNT(*) AS n_terms
       |  FROM contrib GROUP BY 1, 2
       |), ranked AS (
       |  SELECT qid, doc_id, score, n_terms,
       |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id)
       |      AS rnk
       |  FROM scores
       |)
       |SELECT qid, rnk, doc_id, score, n_terms
       |FROM ranked WHERE rnk <= $k
       |ORDER BY qid, rnk""".stripMargin
  }

  /** q170 — BPE merge-pair statistics: the first iteration of
    * byte-pair-encoding tokenizer training (Sennrich et al. 2016,
    * arXiv:1508.07909) as a relation. Words ([a-z]+ runs of the
    * lowercased corpus) are aggregated into a frequency vocabulary
    * first — the classic BPE formulation trains on the word-freq dict
    * because distinct words ≪ token occurrences — then every adjacent
    * character pair inside each distinct word is counted weighted by
    * the word's corpus frequency. The top pair is exactly the first
    * merge a BPE trainer would perform; the top-k table is the merge
    * queue every tokenizer-training pipeline materializes.
    *
    * Scale: the vocab aggregate is map-side combinable over the
    * tokenizer explode; the pair explode runs over DISTINCT words
    * (bounded by vocabulary, not corpus size — the whole point of the
    * vocab-first formulation); the final top-k is a count aggregate
    * over ≤ 26² + ε keys. No data-sized shuffle after the vocab.
    */
  def bpeMergePairs(spark: SparkSession, dir: String,
                    topK: Int = 30): DataFrame = {
    val vocab = Tables.load(spark, dir, "documents")
      .select(explode(expr(
        "filter(split(regexp_replace(lower(text), '[^a-z]+', ' '), ' '), " +
          "w -> w <> '')")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
    vocab
      .filter(length(col("word")) >= 2)
      .select(col("freq"), explode(expr(
        "transform(sequence(1, length(word) - 1), " +
          "i -> substring(word, i, 2))")).as("pair"))
      .groupBy(col("pair"))
      .agg(sum(col("freq")).as("n_merges"))
      .orderBy(col("n_merges").desc, col("pair").asc)
      .limit(topK)
  }

  def bpeMergePairsSql(topK: Int = 30): String =
    s"""WITH vocab AS (
       |  SELECT word, COUNT(*) AS freq FROM (
       |    SELECT unnest(list_filter(
       |      string_split_regex(regexp_replace(lower(text), '[^a-z]+', ' ', 'g'), ' '),
       |      w -> w <> '')) AS word
       |    FROM documents
       |  ) GROUP BY word
       |), pairs AS (
       |  SELECT substr(v.word, CAST(i AS INT), 2) AS pair, v.freq
       |  FROM vocab v
       |  CROSS JOIN unnest(generate_series(1, len(v.word) - 1)) AS t(i)
       |  WHERE len(v.word) >= 2
       |)
       |SELECT pair, CAST(SUM(freq) AS BIGINT) AS n_merges
       |FROM pairs GROUP BY pair
       |ORDER BY n_merges DESC, pair
       |LIMIT $topK""".stripMargin

  /** q184 — RAKE-style keyphrase extraction (Rose et al. 2010):
    * candidate phrases are MAXIMAL runs of consecutive non-stopword
    * tokens (stopwords act as phrase delimiters); each word scores
    * degree/frequency where freq counts its non-stop occurrences and
    * degree sums the lengths of every phrase it appears in (its
    * co-occurrence degree, self included); a phrase scores the sum of
    * its member words' ratios (with multiplicity). Reports the corpus
    * top-`topK` distinct phrases — the unsupervised keyword surface a
    * corpus-exploration UI or topic labeller wants, and a different
    * extraction PRINCIPLE from q39's TF-IDF (document-discriminative
    * single terms) or q128's PMI collocations (associated pairs):
    * RAKE rewards multi-word spans that hang together as units.
    *
    * Shapes: the run segmentation is gaps-and-islands — position
    * minus per-doc non-stop rank — entirely inside doc-partitioned
    * windows (parallel; no global sort); word stats are one
    * token-keyed shuffle; the final top-K is a literal-bounded global
    * TakeOrdered. At 100 TB: two explodes of the token stream, three
    * key-shuffles (doc-run, token, phrase), no all-pairs anything.
    *
    * Exactness: freq/degree are BIGINT counts; ratio is ONE double
    * division rounded to 6dp; phrase scores sum those 6dp ratios in
    * DECIMAL(28,6) (order-independent) — identical in DuckDB.
    */
  def rakeKeyphrases(spark: SparkSession, dir: String, topK: Int = 100): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val stop = langStopwords.find(_._1 == "en").get._2
    val docs = Tables.load(spark, dir, "documents")
    val toks = docs
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "tok")))
      .filter(!col("tok").isin(stop: _*))
    val runs = toks.withColumn("run",
      col("pos") - row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("pos"))))
    val phrases = runs.groupBy(col("doc_id"), col("run"))
      .agg(concat_ws(" ", transform(array_sort(collect_list(
          struct(col("pos"), col("tok")))), x => x.getField("tok"))).as("phrase"),
        count(lit(1)).as("phrase_len"))
    val stats = runs
      .join(phrases.select(col("doc_id"), col("run"), col("phrase_len")),
        Seq("doc_id", "run"))
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("freq"), sum(col("phrase_len")).as("degree"))
      .withColumn("ratio",
        round(col("degree").cast("double") / col("freq"), 6))
    val dec = org.apache.spark.sql.types.DecimalType(28, 6)
    val scored = runs
      .join(stats.select(col("tok"), col("ratio")), "tok")
      .groupBy(col("doc_id"), col("run"))
      .agg(sum(col("ratio").cast(dec)).cast("double").as("score"))
      .join(phrases, Seq("doc_id", "run"))
      .groupBy(col("phrase"))
      .agg(max(col("phrase_len")).as("phrase_len"),
        count(lit(1)).as("n_occ"), max(round(col("score"), 6)).as("score"))
    scored.orderBy(col("score").desc, col("phrase")).limit(topK)
      .select(col("phrase"), col("phrase_len"), col("n_occ"), col("score"))
  }

  def rakeKeyphrasesSql(topK: Int = 100): String = {
    val stop = graft.functions.TextFunctions.langStopwords
      .find(_._1 == "en").get._2.map(s => s"'$s'").mkString(", ")
    s"""WITH toks AS (
       |  SELECT doc_id, pos, tok FROM (
       |    SELECT doc_id,
       |      generate_subscripts(l, 1) AS pos, unnest(l) AS tok
       |    FROM (SELECT doc_id,
       |            list_filter(string_split_regex(lower(text), '\\s+'),
       |              t -> t <> '') AS l
       |          FROM documents)
       |  ) WHERE tok NOT IN ($stop)
       |), runs AS (
       |  SELECT doc_id, pos, tok,
       |    pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS run
       |  FROM toks
       |), phrases AS (
       |  SELECT doc_id, run, string_agg(tok, ' ' ORDER BY pos) AS phrase,
       |    COUNT(*) AS phrase_len
       |  FROM runs GROUP BY 1, 2
       |), stats AS (
       |  SELECT r.tok, COUNT(*) AS freq,
       |    CAST(SUM(p.phrase_len) AS BIGINT) AS degree,
       |    ROUND(CAST(SUM(p.phrase_len) AS DOUBLE) / COUNT(*), 6) AS ratio
       |  FROM runs r JOIN phrases p ON p.doc_id = r.doc_id AND p.run = r.run
       |  GROUP BY 1
       |), inst AS (
       |  SELECT r.doc_id, r.run,
       |    CAST(SUM(CAST(s.ratio AS DECIMAL(28,6))) AS DOUBLE) AS score
       |  FROM runs r JOIN stats s ON s.tok = r.tok
       |  GROUP BY 1, 2
       |), dedup AS (
       |  SELECT p.phrase, MAX(p.phrase_len) AS phrase_len,
       |    COUNT(*) AS n_occ, MAX(ROUND(i.score, 6)) AS score
       |  FROM inst i JOIN phrases p ON p.doc_id = i.doc_id AND p.run = i.run
       |  GROUP BY 1
       |)
       |SELECT phrase, phrase_len, n_occ, score FROM dedup
       |ORDER BY score DESC, phrase
       |LIMIT $topK""".stripMargin
  }

  /** q186 — tokenizer fertility per (lang, source): how many
    * characters, UTF-8 bytes and whitespace words each BPE-ish token
    * "absorbs" in every corpus slice. Fertility (bytes per token) is
    * THE cost model of LLM data work — token budgets, context-window
    * packing (q53/q119), and per-source pricing all convert through
    * it, and it varies enough across languages/sources that a single
    * global constant misallocates budgets. Byte and char densities
    * are reported separately: their ratio exposes multi-byte-script
    * slices where char-based accounting undercounts.
    *
    * Exactness: all sums are exact BIGINTs over codegen'd counts
    * (`regexp_count`, `length`, `octet_length`); each density is one
    * rounded IEEE division of two integer totals.
    *
    * Scale: one narrow map over the scan + one tiny (lang, source)
    * aggregate — fully map-side-combinable, pruned to three columns.
    */
  def tokenizerFertility(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    docs.select(col("lang"), col("source"),
        tokenCount(col("text")).cast("long").as("ws"),
        bpeTokenCount(col("text")).cast("long").as("bpe"),
        length(col("text")).cast("long").as("chars"),
        octet_length(col("text")).cast("long").as("bytes"))
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("ws")).as("sum_ws_tokens"),
        sum(col("bpe")).as("sum_bpe_tokens"),
        sum(col("chars")).as("sum_chars"),
        sum(col("bytes")).as("sum_bytes"))
      .select(col("lang"), col("source"), col("n_docs"),
        col("sum_ws_tokens"), col("sum_bpe_tokens"), col("sum_chars"),
        col("sum_bytes"),
        round(col("sum_chars").cast("double") / col("sum_bpe_tokens"), 6)
          .as("chars_per_bpe"),
        round(col("sum_bytes").cast("double") / col("sum_bpe_tokens"), 6)
          .as("bytes_per_bpe"),
        round(col("sum_bpe_tokens").cast("double") / col("sum_ws_tokens"), 6)
          .as("bpe_per_word"))
      .orderBy(col("lang"), col("source"))
  }

  val tokenizerFertilitySql: String =
    s"""WITH per_doc AS (
       |  SELECT lang, source,
       |    CAST(len(list_filter(string_split_regex(lower(text), '\\s+'),
       |      t -> t <> '')) AS BIGINT) AS ws,
       |    CAST(len(regexp_extract_all(text,
       |      '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')) AS BIGINT) AS bpe,
       |    CAST(length(text) AS BIGINT) AS chars,
       |    CAST(octet_length(encode(text)) AS BIGINT) AS bytes
       |  FROM documents
       |)
       |SELECT lang, source, COUNT(*) AS n_docs,
       |  CAST(SUM(ws) AS BIGINT) AS sum_ws_tokens,
       |  CAST(SUM(bpe) AS BIGINT) AS sum_bpe_tokens,
       |  CAST(SUM(chars) AS BIGINT) AS sum_chars,
       |  CAST(SUM(bytes) AS BIGINT) AS sum_bytes,
       |  ROUND(CAST(SUM(chars) AS DOUBLE) / SUM(bpe), 6) AS chars_per_bpe,
       |  ROUND(CAST(SUM(bytes) AS DOUBLE) / SUM(bpe), 6) AS bytes_per_bpe,
       |  ROUND(CAST(SUM(bpe) AS DOUBLE) / SUM(ws), 6) AS bpe_per_word
       |FROM per_doc
       |GROUP BY 1, 2
       |ORDER BY lang, source""".stripMargin

  /** Full iterative BPE training (Sennrich et al. 2016): q170 shows
    * the FIRST merge; this runs the whole greedy loop — count
    * adjacent symbol pairs over the word-frequency vocabulary, merge
    * the most frequent pair (ties broken lexicographically — the
    * determinism every reproducible tokenizer build needs), rewrite
    * the vocabulary, repeat `nMerges` times. Returns the learned
    * merge table (rank, left, right, weight) — the artifact a
    * tokenizer ships. NOT oracle-graded: the loop is data-dependent
    * sequential (each round's relation depends on the previous
    * round's winner), which has no bounded SQL unroll; the spec
    * hand-verifies the classic merge sequence.
    *
    * Distribution posture: training runs on the DISTINCT-WORD
    * vocabulary (the classic formulation — vocab ≪ corpus, one
    * corpus-sized aggregate up front, never again); each round is one
    * vocabulary-sized pair aggregate (map-side combinable) plus a
    * broadcast single-rule rewrite, lineage-cut per round
    * ([[graft.Iterate.cut]] — localCheckpoint default, reliable
    * switch). The per-round rewrite is a left-to-right non-overlapping
    * fold over each word's symbol array ("aaa" + rule (a,a) → [aa, a],
    * the reference BPE behavior).
    */
  def trainBpe(spark: SparkSession, dir: String,
               nMerges: Int = 20): DataFrame =
    trainBpeCore(spark, Tables.load(spark, dir, "documents"), nMerges)

  case class CompressionRow(doc_id: Long, n_bytes: Long, n_deflated: Long)

  /** q281 — compression-ratio quality signal: deflate each document
    * (zlib level 6, one reused Deflater per partition) and report
    * compressed/raw — the classic cheap repetition-and-entropy proxy
    * real curation stacks filter on (boilerplate and generator spam
    * compress far below natural prose; random noise doesn't compress
    * at all). Complements q55's explicit repetition counters and
    * q103's unigram entropy with the signal that catches BOTH at
    * once, including long-range duplication n-gram windows miss.
    *
    * Oracle-graded via a golden fixture: DuckDB has no deflate, so
    * [[compressionRatioSql]] joins the corpus to a build-time parquet
    * of (doc_id, md5(text), n_deflated) computed by CPython's zlib —
    * an independent implementation whose level-6 stream is
    * byte-identical to Java's Deflater (both wrap madler zlib;
    * regenerate with scripts/gen_q281_fixture.py). The md5 join key
    * makes one fixture serve every SF whose documents it covers.
    * Scale: embarrassingly parallel narrow map,
    * one small output row per doc; the Deflater is reused across a
    * partition (allocation-free steady state).
    */
  def compressionRatio(spark: SparkSession, dir: String,
                       flagBelow: Double = 0.4): DataFrame = {
    import spark.implicits._
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text")).as[(Long, String)]
    docs.mapPartitions { rows =>
      val deflater = new java.util.zip.Deflater(6)
      val buf = new Array[Byte](1 << 16)
      rows.map { case (id, text) =>
        val in = text.getBytes("UTF-8")
        deflater.reset()
        deflater.setInput(in)
        deflater.finish()
        var out = 0L
        while (!deflater.finished()) out += deflater.deflate(buf)
        CompressionRow(id, in.length.toLong, out)
      }
    }.toDF()
      .withColumn("ratio", round(col("n_deflated").cast("double") /
        greatest(col("n_bytes"), lit(1L)), 6))
      .withColumn("flag_repetitive", (col("ratio") < flagBelow).cast("int"))
      .orderBy(col("doc_id"))
  }

  /** q281 oracle: the golden-fixture join (see [[compressionRatio]]).
    * n_bytes/ratio/flag recompute in SQL; n_deflated comes from the
    * independently-generated fixture, matched on (doc_id, md5). The
    * default fixture path resolves against the JVM's working
    * directory (the repo root under sbt/Verify) so any checkout
    * location works — round-10 advice flagged the hardcoded
    * /root/repo form. */
  def compressionRatioSql(flagBelow: Double = 0.4,
      fixture: String = new java.io.File(
        "fixtures/q281_deflate_golden.parquet").getAbsolutePath)
      : String =
    s"""SELECT d.doc_id,
       |  CAST(octet_length(encode(d.text)) AS BIGINT) AS n_bytes,
       |  g.n_deflated,
       |  round(g.n_deflated /
       |    greatest(CAST(octet_length(encode(d.text)) AS BIGINT), 1), 6) AS ratio,
       |  CAST(round(g.n_deflated /
       |    greatest(CAST(octet_length(encode(d.text)) AS BIGINT), 1), 6)
       |    < $flagBelow AS INT) AS flag_repetitive
       |FROM documents d
       |JOIN read_parquet('$fixture') g
       |  ON g.doc_id = d.doc_id AND g.md5_text = md5(d.text)
       |ORDER BY d.doc_id""".stripMargin

  /** The left-to-right non-overlapping single-rule rewrite of a
    * symbol array as a SQL fold: pend holds the last unflushed
    * symbol; matching (a, b) flushes the merged token and clears it.
    * Shared by [[trainBpeCore]] (one rule per round) and [[applyBpe]]
    * (the learned rule list in order). Symbols are [a-z]+ only.
    */
  private def bpeRewriteExpr(colName: String, a: String, b: String): String = {
    require((a + b).forall(c => c >= 'a' && c <= 'z'),
      s"unexpected symbol alphabet: '$a'+'$b'")
    s"""aggregate($colName,
       |  named_struct('acc', CAST(array() AS ARRAY<STRING>),
       |               'pend', CAST(NULL AS STRING)),
       |  (st, s) -> IF(st.pend = '$a' AND s = '$b',
       |    named_struct('acc', concat(st.acc, array('${a + b}')),
       |                 'pend', CAST(NULL AS STRING)),
       |    named_struct('acc',
       |      IF(st.pend IS NULL, st.acc, concat(st.acc, array(st.pend))),
       |      'pend', CAST(s AS STRING))),
       |  st -> IF(st.pend IS NULL, st.acc, concat(st.acc, array(st.pend)))
       |)""".stripMargin
  }

  /** Tokenize the corpus with a LEARNED merge list ([[trainBpe]]'s
    * output order): per doc, word count, BPE token count, and
    * fertility (tokens/word) under the trained tokenizer — q186
    * measures a fixed reference tokenizer; this measures YOURS, the
    * number a tokenizer-budget decision actually needs. Each rule is
    * one narrow fold map over the symbol arrays (rule-count plan
    * depth — fine for spec-scale lists; a production 32k-merge
    * vocabulary would compile the rules into one codegen'd longest-
    * match pass instead, same output by BPE's determinism).
    */
  def applyBpe(spark: SparkSession, docs: DataFrame,
               merges: Seq[(String, String)]): DataFrame = {
    val words = docs
      .select(col("doc_id"), explode(expr(
        "filter(split(regexp_replace(lower(text), '[^a-z]+', ' '), ' '), " +
          "w -> w <> '')")).as("word"))
      .withColumn("syms", expr(
        "transform(sequence(1, length(word)), i -> substring(word, i, 1))"))
    val encoded = merges.foldLeft(words) { case (df, (a, b)) =>
      df.withColumn("syms", expr(bpeRewriteExpr("syms", a, b)))
    }
    encoded.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(size(col("syms"))).cast("long").as("n_tokens"))
      .withColumn("fertility",
        round(col("n_tokens").cast("double") / col("n_words"), 6))
      .orderBy(col("doc_id"))
  }

  def trainBpeCore(spark: SparkSession, docs: DataFrame,
                   nMerges: Int): DataFrame = {
    import spark.implicits._
    var vocab = graft.Iterate.cut(docs
      .select(explode(expr(
        "filter(split(regexp_replace(lower(text), '[^a-z]+', ' '), ' '), " +
          "w -> w <> '')")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .select(expr(
        "transform(sequence(1, length(word)), i -> substring(word, i, 1))")
        .as("syms"), col("freq")))
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var round = 1
    var exhausted = false
    while (round <= nMerges && !exhausted) {
      val top = vocab.filter(size(col("syms")) >= 2)
        .select(col("freq"), explode(expr(
          "transform(sequence(1, size(syms) - 1), " +
            "i -> struct(syms[i - 1] AS a, syms[i] AS b))")).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("freq")).as("n"))
        .orderBy(col("n").desc, col("a"), col("b"))
        .limit(1)
        .as[(String, String, Long)].collect()
      if (top.isEmpty) exhausted = true
      else {
        val (a, b, n) = top.head
        merges += ((round, a, b, n))
        vocab = graft.Iterate.cut(vocab.withColumn("syms",
          expr(bpeRewriteExpr("syms", a, b))))
        round += 1
      }
    }
    merges.toSeq.toDF("rank", "left", "right", "weight")
  }

  /** q367 — split-half stability audit of the q22 language detector:
    * each document's token sequence is cut in half, the detector runs
    * on the full sequence and on each half independently, and the row
    * reports whether all three verdicts agree — split-half
    * reliability, the classic cheap instrument for "how much of this
    * detector's output is signal vs length-dependent noise". A
    * detector that flips on half-length inputs cannot be trusted to
    * route the SHORT tail of a 100 TB corpus (exactly the regime
    * where routing errors concentrate), and this measures that
    * directly without labels.
    *
    * Exactness: token arrays are the shared q21 tokenizer (Spark's
    * trim-then-split equals DuckDB's split-then-drop-empties —
    * boundary empties are the only divergence and both forms remove
    * them); halves are integer-length slices; stopword hits are
    * integer counts through the same codegen'd [[ArrayCountIn]] /
    * list_filter pair q22 grades; the argmax CASE is shared verbatim.
    *
    * Scale: shuffle-free narrow map over the corpus (three
    * ArrayCountIn probes per language over row-local arrays), exactly
    * the q22 envelope — no extra pass for the halves.
    */
  def splitHalfLangStability(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val base = docs
      .select(col("doc_id"), col("lang"), tokens(col("text")).as("toks"))
      .withColumn("nt", size(col("toks")))
      .withColumn("t1", expr("slice(toks, 1, nt div 2)"))
      .withColumn("t2", expr("slice(toks, nt div 2 + 1, nt - nt div 2)"))
    val arrs = Seq("f" -> col("toks"), "h1" -> col("t1"), "h2" -> col("t2"))
    val withScores = arrs.foldLeft(base) { case (df0, (p, arr)) =>
      langStopwords.foldLeft(df0) { case (df, (lang, words)) =>
        df.withColumn(s"${p}_$lang",
          graft.functions.ArrayCountIn.countIn(arr, words))
      }
    }
    def predOf(p: String): Column = {
      val s = langStopwords.map { case (l, _) => l -> col(s"${p}_$l") }.toMap
      when(s.values.reduce(_ + _) > 0,
        when(s("de") > s("en") && s("de") > s("es") && s("de") > s("fr"), "de")
          .when(s("fr") > s("en") && s("fr") > s("es"), "fr")
          .when(s("es") > s("en"), "es")
          .otherwise("en"))
        .otherwise(lit("und"))
    }
    withScores
      .select(col("doc_id"), col("lang"), col("nt").as("n_tokens"),
        predOf("f").as("pred_full"),
        predOf("h1").as("pred_h1"), predOf("h2").as("pred_h2"))
      .withColumn("is_stable",
        (col("pred_h1") === col("pred_h2") &&
          col("pred_h1") === col("pred_full")).cast("int"))
      .orderBy(col("doc_id"))
  }

  val splitHalfLangStabilitySql: String = {
    def hits(arr: String, words: Seq[String]): String =
      s"len(list_filter($arr, t -> t IN (${words.map(w => s"'$w'").mkString(",")})))"
    def scoreCols(p: String, arr: String): String =
      langStopwords.map { case (lang, words) =>
        s"${hits(arr, words)} AS ${p}_$lang"
      }.mkString(",\n    ")
    def caseOf(p: String): String =
      s"""CASE WHEN ${p}_en + ${p}_es + ${p}_fr + ${p}_de > 0 THEN
         |    CASE WHEN ${p}_de > ${p}_en AND ${p}_de > ${p}_es
         |           AND ${p}_de > ${p}_fr THEN 'de'
         |         WHEN ${p}_fr > ${p}_en AND ${p}_fr > ${p}_es THEN 'fr'
         |         WHEN ${p}_es > ${p}_en THEN 'es'
         |         ELSE 'en' END
         |  ELSE 'und' END""".stripMargin
    s"""WITH base AS (
       |  SELECT doc_id, lang,
       |    list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '')
       |      AS toks
       |  FROM documents
       |), halves AS (
       |  SELECT doc_id, lang, toks, len(toks) AS nt,
       |    toks[1 : len(toks) // 2] AS t1,
       |    toks[len(toks) // 2 + 1 : len(toks)] AS t2
       |  FROM base
       |), scored AS (
       |  SELECT doc_id, lang, nt,
       |    ${scoreCols("f", "toks")},
       |    ${scoreCols("h1", "t1")},
       |    ${scoreCols("h2", "t2")}
       |  FROM halves
       |), preds AS (
       |  SELECT doc_id, lang, CAST(nt AS INT) AS n_tokens,
       |    ${caseOf("f")} AS pred_full,
       |    ${caseOf("h1")} AS pred_h1,
       |    ${caseOf("h2")} AS pred_h2
       |  FROM scored
       |)
       |SELECT doc_id, lang, n_tokens, pred_full, pred_h1, pred_h2,
       |  CAST(pred_h1 = pred_h2 AND pred_h1 = pred_full AS INT) AS is_stable
       |FROM preds ORDER BY doc_id""".stripMargin
  }

  /** q418 — language-ID confidence margins: per label, the
    * distribution of the detector's DECISION MARGIN (top stopword-hit
    * count minus runner-up) — zero-margin docs are coin flips the
    * argmax hides, and their share is the fraction of the corpus that
    * should route to a heavier detector instead (the
    * cascade-escalation dial; q129's cascade needs exactly this
    * number to size its second stage). Margins are per LABELED
    * language so the answer is actionable per feed.
    *
    * Exactness: hits and margins are integers from the shared q22
    * ArrayCountIn probes; the margin median is an exact doubled order
    * statistic; shares are integer divisions.
    *
    * Scale: the q22 shuffle-free narrow map + one per-lang rank
    * window + one aggregate.
    */
  def langIdMargins(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.load(spark, dir, "documents")
    val base = docs.select(col("doc_id"), col("lang"),
      tokens(col("text")).as("toks"))
    val withScores = langStopwords.foldLeft(base) {
      case (df, (lang, words)) =>
        df.withColumn(s"s_$lang",
          graft.functions.ArrayCountIn.countIn(col("toks"), words))
    }
    val scores = langStopwords.map { case (l, _) => col(s"s_$l") }
    val best = greatest(scores: _*)
    // runner-up = max of the scores strictly below best, accounting
    // for ties: if two languages tie at the top the margin is 0
    val sumTop = scores.map(s => when(s === best, 1).otherwise(0))
      .reduce(_ + _)
    val second = when(sumTop >= 2, best)
      .otherwise(greatest(scores.map(s =>
        when(s === best, lit(-1)).otherwise(s)): _*))
    val withMargin = withScores
      .withColumn("margin",
        when(best > 0, (best - second).cast("long")).otherwise(0L))
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("margin"), col("doc_id"))
    withMargin
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(
        Window.partitionBy(col("lang"))))
      .groupBy(col("lang"))
      .agg(max(col("n")).as("n_docs"),
        sum((col("margin") === 0).cast("long")).as("n_zero_margin"),
        round(sum((col("margin") === 0).cast("long")).cast("double") /
          max(col("n")).cast("double"), 6).as("zero_margin_share"),
        ((max(when(col("rn") === expr("(n + 1) div 2"), col("margin"))) +
          max(when(col("rn") === expr("(n + 2) div 2"), col("margin"))))
          .cast("double") / 2).as("median_margin"),
        max(col("margin")).as("max_margin"))
      .orderBy(col("lang"))
  }

  val langIdMarginsSql: String = {
    def hits(words: Seq[String]): String =
      s"len(list_filter(toks, t -> t IN (${words.map(w => s"'$w'").mkString(",")})))"
    val cols = langStopwords.map { case (lang, words) =>
      s"${hits(words)} AS s_$lang"
    }.mkString(",\n    ")
    val names = langStopwords.map { case (l, _) => s"s_$l" }
    val best = s"GREATEST(${names.mkString(", ")})"
    val ties = names.map(n => s"CASE WHEN $n = best THEN 1 ELSE 0 END")
      .mkString(" + ")
    val secondNoTie = s"GREATEST(${names.map(n =>
      s"CASE WHEN $n = best THEN -1 ELSE $n END").mkString(", ")})"
    s"""WITH base AS (
       |  SELECT doc_id, lang,
       |    list_filter(string_split_regex(lower(text), '\\s+'),
       |      t -> t <> '') AS toks
       |  FROM documents
       |), scored AS (
       |  SELECT doc_id, lang,
       |    $cols
       |  FROM base
       |), withbest AS (
       |  SELECT doc_id, lang, $best AS best,
       |    ${names.mkString(", ")}
       |  FROM scored
       |), margins AS (
       |  SELECT doc_id, lang,
       |    CAST(CASE WHEN best > 0 THEN
       |      CASE WHEN $ties >= 2 THEN 0
       |           ELSE best - $secondNoTie END
       |    ELSE 0 END AS BIGINT) AS margin
       |  FROM withbest
       |), ranked AS (
       |  SELECT *,
       |    CAST(row_number() OVER (PARTITION BY lang
       |      ORDER BY margin, doc_id) AS BIGINT) AS rn,
       |    COUNT(*) OVER (PARTITION BY lang) AS n
       |  FROM margins
       |)
       |SELECT lang, CAST(MAX(n) AS BIGINT) AS n_docs,
       |  CAST(SUM(CASE WHEN margin = 0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_zero_margin,
       |  ROUND(CAST(SUM(CASE WHEN margin = 0 THEN 1 ELSE 0 END) AS DOUBLE)
       |    / CAST(MAX(n) AS DOUBLE), 6) AS zero_margin_share,
       |  CAST(MAX(CASE WHEN rn = (n + 1) // 2 THEN margin END)
       |    + MAX(CASE WHEN rn = (n + 2) // 2 THEN margin END) AS DOUBLE)
       |    / 2 AS median_margin,
       |  MAX(margin) AS max_margin
       |FROM ranked
       |GROUP BY lang
       |ORDER BY lang""".stripMargin
  }

  /** q444 — Chao1 vocabulary-richness estimate per source: the
    * nonparametric "how many types exist that we have NOT seen"
    * lower bound, V̂ = V + f₁(f₁−1)/(2(f₂+1)) off the singleton/
    * doubleton counts (bias-corrected form, defined even at f₂ = 0).
    * q310's Good–Turing prices the unseen PROBABILITY mass; Chao1
    * counts the unseen TYPES — the pair a tokenizer-budget or
    * vocab-coverage decision (q347's curve) wants read together: a
    * source whose Chao1 far exceeds its observed vocabulary is
    * under-crawled, not small.
    *
    * Exactness: V, f₁, f₂ are integer counts off the (source, token)
    * frequency spectrum; Chao1 is one double division of integer
    * products (denominator ≥ 2), rounded 6dp; the unseen share is
    * one more guarded rounded division.
    *
    * Scale: the q36 token-keyed aggregate, then a |vocab|-sized
    * spectrum aggregate per source — map-side combined both stages.
    */
  def chao1Vocabulary(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.load(spark, dir, "documents")
      .select(col("source"), explode(tokens(col("text"))).as("token"))
      .groupBy(col("source"), col("token")).agg(count(lit(1)).as("n"))
    counts.groupBy(col("source"))
      .agg(sum(col("n")).as("n_tokens"),
        count(lit(1)).as("vocab"),
        sum((col("n") === 1).cast("long")).as("f1"),
        sum((col("n") === 2).cast("long")).as("f2"))
      .withColumn("chao1", round(col("vocab").cast("double") +
        (col("f1") * (col("f1") - 1)).cast("double") /
          (lit(2.0) * (col("f2") + 1).cast("double")), 6))
      .select(col("source"), col("n_tokens"), col("vocab"), col("f1"),
        col("f2"), col("chao1"),
        round((col("chao1") - col("vocab").cast("double")) /
          nullif(col("chao1"), lit(0.0)), 6).as("unseen_share"))
      .orderBy(col("source"))
  }

  val chao1VocabularySql: String =
    """WITH counts AS (
      |  SELECT source, token, CAST(COUNT(*) AS BIGINT) AS n FROM (
      |    SELECT source, unnest(list_filter(
      |      string_split_regex(lower(text), '\s+'), t -> t <> '')) AS token
      |    FROM documents
      |  ) GROUP BY 1, 2
      |), spectrum AS (
      |  SELECT source, CAST(SUM(n) AS BIGINT) AS n_tokens,
      |    CAST(COUNT(*) AS BIGINT) AS vocab,
      |    CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
      |    CAST(SUM(CASE WHEN n = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
      |  FROM counts GROUP BY 1
      |), est AS (
      |  SELECT *, ROUND(CAST(vocab AS DOUBLE)
      |    + CAST(f1 * (f1 - 1) AS DOUBLE)
      |      / (2.0 * CAST(f2 + 1 AS DOUBLE)), 6) AS chao1
      |  FROM spectrum
      |)
      |SELECT source, n_tokens, vocab, f1, f2, chao1,
      |  ROUND((chao1 - CAST(vocab AS DOUBLE)) / NULLIF(chao1, 0.0), 6)
      |    AS unseen_share
      |FROM est
      |ORDER BY source""".stripMargin

  /** q446 — duplicate-skew KL: how far exact duplicates (q25 groups)
    * bend the corpus's unigram distribution, per source —
    * KL(dedup ∥ raw) over the token frequencies of min-doc_id KEEPERS
    * vs ALL documents, with the single most-skewed token surfaced.
    * The number answers the question every "should we dedup before
    * counting?" argument hides: a corpus whose duplicated documents
    * are linguistically typical has KL ≈ 0 and dedup only changes
    * scale; a KL spike means the duplicates are a DIFFERENT
    * distribution (boilerplate, spam) silently re-weighting every
    * frequency-derived artifact (BM25 idf, vocab cuts, lang priors).
    *
    * Exactness: both distributions are exact integer count ratios
    * over each source's totals; each KL term p·ln(p/q) rounds at 9dp
    * into a DECIMAL(28,9) sum (q is never zero: keepers' tokens are a
    * subset of raw tokens, and p > 0 filters the support); the top
    * token is a deterministic rank pick on (|term| desc, token).
    *
    * Scale: one fingerprint window (the q25 shuffle), two
    * (source, token) aggregates, a vocab-sized join — no pair joins.
    */
  def dupSkewKl(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dec9 = org.apache.spark.sql.types.DecimalType(28, 9)
    val docs = Tables.load(spark, dir, "documents")
    val wFp = Window.partitionBy(col("content_fp"))
    val flagged = docs.select(col("doc_id"), col("source"), col("text"),
        graft.functions.TextFunctions.contentFingerprint(col("text"))
          .as("content_fp"))
      .withColumn("rep_id", min(col("doc_id")).over(wFp))
    val toks = flagged.select(col("source"),
        (col("doc_id") === col("rep_id")).as("kept"),
        explode(tokens(col("text"))).as("token"))
    val raw = toks.groupBy(col("source"), col("token"))
      .agg(count(lit(1)).as("n_raw"))
    val kept = toks.filter(col("kept"))
      .groupBy(col("source"), col("token")).agg(count(lit(1)).as("n_kept"))
    val joined = raw.join(kept, Seq("source", "token"), "left")
      .withColumn("n_kept", coalesce(col("n_kept"), lit(0L)))
      .withColumn("t_raw", sum(col("n_raw")).over(
        Window.partitionBy(col("source"))))
      .withColumn("t_kept", sum(col("n_kept")).over(
        Window.partitionBy(col("source"))))
      .withColumn("p", col("n_kept").cast("double") /
        nullif(col("t_kept").cast("double"), lit(0.0)))
      .withColumn("q", col("n_raw").cast("double") /
        col("t_raw").cast("double"))
      .withColumn("term", when(col("p") > 0,
        round(col("p") * log(col("p") / col("q")), 9)).otherwise(lit(0.0)))
    val wTop = Window.partitionBy(col("source"))
      .orderBy(abs(col("term")).desc, col("token"))
    joined.withColumn("rn", row_number().over(wTop))
      .groupBy(col("source"))
      .agg(max(col("t_raw")).as("n_tokens_raw"),
        max(col("t_kept")).as("n_tokens_kept"),
        round(sum(col("term").cast(dec9)).cast("double"), 6)
          .as("kl_dedup_vs_raw"),
        max(when(col("rn") === 1, col("token"))).as("top_skew_token"),
        round(max(when(col("rn") === 1, col("term"))), 6)
          .as("top_skew_term"))
      .orderBy(col("source"))
  }

  val dupSkewKlSql: String =
    """WITH flagged AS (
      |  SELECT doc_id, source, text,
      |    MIN(doc_id) OVER (PARTITION BY
      |      md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')))
      |      AS rep_id
      |  FROM documents
      |), toks AS (
      |  SELECT source, doc_id = rep_id AS kept, unnest(list_filter(
      |    string_split_regex(lower(text), '\s+'), t -> t <> '')) AS token
      |  FROM flagged
      |), raw AS (
      |  SELECT source, token, CAST(COUNT(*) AS BIGINT) AS n_raw
      |  FROM toks GROUP BY 1, 2
      |), kept AS (
      |  SELECT source, token, CAST(COUNT(*) AS BIGINT) AS n_kept
      |  FROM toks WHERE kept GROUP BY 1, 2
      |), joined AS (
      |  SELECT r.source, r.token, r.n_raw, COALESCE(k.n_kept, 0) AS n_kept,
      |    CAST(SUM(r.n_raw) OVER (PARTITION BY r.source) AS BIGINT)
      |      AS t_raw,
      |    CAST(SUM(COALESCE(k.n_kept, 0)) OVER (PARTITION BY r.source)
      |      AS BIGINT) AS t_kept
      |  FROM raw r LEFT JOIN kept k
      |    ON k.source = r.source AND k.token = r.token
      |), terms AS (
      |  SELECT source, token, t_raw, t_kept,
      |    CASE WHEN n_kept > 0 THEN
      |      ROUND((CAST(n_kept AS DOUBLE)
      |          / NULLIF(CAST(t_kept AS DOUBLE), 0.0))
      |        * ln((CAST(n_kept AS DOUBLE)
      |            / NULLIF(CAST(t_kept AS DOUBLE), 0.0))
      |          / (CAST(n_raw AS DOUBLE) / CAST(t_raw AS DOUBLE))), 9)
      |    ELSE 0.0 END AS term
      |  FROM joined
      |), ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY source
      |    ORDER BY ABS(term) DESC, token) AS rn
      |  FROM terms
      |)
      |SELECT source, CAST(MAX(t_raw) AS BIGINT) AS n_tokens_raw,
      |  CAST(MAX(t_kept) AS BIGINT) AS n_tokens_kept,
      |  ROUND(CAST(SUM(CAST(term AS DECIMAL(28,9))) AS DOUBLE), 6)
      |    AS kl_dedup_vs_raw,
      |  MAX(CASE WHEN rn = 1 THEN token END) AS top_skew_token,
      |  ROUND(MAX(CASE WHEN rn = 1 THEN term END), 6) AS top_skew_term
      |FROM ranked
      |GROUP BY source
      |ORDER BY source""".stripMargin

  /** q464 — truncation-cap curve: for each candidate max-token cap,
    * the share of documents truncated and the share of TOKEN MASS
    * lost — the table behind every max_seq_len decision. q414's Hill
    * index says the length tail is heavy; this prices each cap in the
    * two currencies that matter (how many docs get cut at all vs how
    * much text disappears), per cap, in one pass — no per-cap rescan
    * (the whole grid is conditional sums over one token-count scan).
    *
    * Exactness: token counts are the shared q21 integer; per-cap
    * truncated-doc counts and lost-token sums are conditional integer
    * sums; shares are single rounded divisions.
    *
    * Scale: one narrow map over the scan + one aggregate carrying
    * |grid| conditional sums, unpivoted by stack — the corpus is
    * touched once for the whole curve.
    */
  def truncationCurve(spark: SparkSession, dir: String,
                      caps: Seq[Int] = Seq(64, 128, 256, 512)): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
      .select(tokenCount(col("text")).cast("long").as("n_tok"))
    val aggs = Seq(count(lit(1)).as("n_docs"),
      sum(col("n_tok")).as("total_tokens")) ++
      caps.flatMap(c => Seq(
        sum((col("n_tok") > c).cast("long")).as(s"d$c"),
        sum(when(col("n_tok") > c, col("n_tok") - c).otherwise(0L))
          .as(s"l$c")))
    val one = docs.agg(aggs.head, aggs.tail: _*)
    val stackExpr = caps.map(c => s"$c, d$c, l$c").mkString(", ")
    one.select(col("n_docs"), col("total_tokens"),
        expr(s"stack(${caps.size}, $stackExpr)")
          .as(Seq("cap_tokens", "n_truncated", "tokens_lost")))
      .select(col("cap_tokens").cast("int").as("cap_tokens"),
        col("n_truncated"),
        round(col("n_truncated").cast("double") /
          col("n_docs").cast("double"), 6).as("doc_share_truncated"),
        col("tokens_lost"),
        round(col("tokens_lost").cast("double") /
          nullif(col("total_tokens").cast("double"), lit(0.0)), 6)
          .as("token_share_lost"))
      .orderBy(col("cap_tokens"))
  }

  def truncationCurveSql(caps: Seq[Int] = Seq(64, 128, 256, 512)): String = {
    val conds = caps.map(c =>
      s"""CAST(SUM(CASE WHEN n_tok > $c THEN 1 ELSE 0 END) AS BIGINT)
         |      AS d$c,
         |    CAST(SUM(CASE WHEN n_tok > $c THEN n_tok - $c ELSE 0 END)
         |      AS BIGINT) AS l$c""".stripMargin).mkString(",\n    ")
    val unions = caps.map(c =>
      s"SELECT n_docs, total_tokens, $c AS cap_tokens, d$c AS n_truncated, l$c AS tokens_lost FROM agg")
      .mkString("\n      |  UNION ALL ")
    s"""WITH toks AS (
      |  SELECT CAST($tokenCountExprSql AS BIGINT) AS n_tok FROM documents
      |), agg AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
      |    CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
      |    $conds
      |  FROM toks
      |), grid AS (
      |  $unions
      |)
      |SELECT CAST(cap_tokens AS INT) AS cap_tokens, n_truncated,
      |  ROUND(CAST(n_truncated AS DOUBLE) / CAST(n_docs AS DOUBLE), 6)
      |    AS doc_share_truncated,
      |  tokens_lost,
      |  ROUND(CAST(tokens_lost AS DOUBLE)
      |    / NULLIF(CAST(total_tokens AS DOUBLE), 0.0), 6)
      |    AS token_share_lost
      |FROM grid
      |ORDER BY cap_tokens""".stripMargin
  }

  /** q465 — uncertainty sampling (active-learning pick list): the
    * `budget` holdout documents whose q349 naive-Bayes decision
    * margin (top score − runner-up, the q418 convention at MODEL
    * grain) is SMALLEST — the batch a labeling queue should buy
    * first, because labels there move the boundary and labels on
    * confident docs are wasted money. Deterministic: margins are the
    * shared decimal score differences, the pick is a fully-tiebroken
    * bottom-`budget` (margin, doc_id) selection, so two engines (and
    * two runs) buy the same batch.
    *
    * Exactness: scores and margins are the q349 DECIMAL chains;
    * ranks are integers; the margin is displayed as its exact decimal
    * cast to double.
    *
    * Scale: rides q349's bounded shapes; the pick is a
    * TakeOrderedAndProject-style bottom-budget (per-partition
    * partial), budget-sized output.
    */
  def uncertaintySample(spark: SparkSession, dir: String,
                        budget: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scores = nbScores(spark, dir,
      col("doc_id") % 5 =!= 0, col("doc_id") % 5 === 0)
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("c"))
    val ranked = scores.withColumn("rk", row_number().over(w))
    val top = ranked.filter(col("rk") === 1)
      .select(col("doc_id"), col("true_lang"), col("c").as("pred_lang"),
        col("score").as("s1"))
    val runner = ranked.filter(col("rk") === 2)
      .select(col("doc_id"), col("score").as("s2"))
    top.join(runner, "doc_id")
      .withColumn("margin", (col("s1") - col("s2")).cast("double"))
      .orderBy(col("margin"), col("doc_id"))
      .limit(budget)
      .select(col("doc_id"), col("true_lang"), col("pred_lang"),
        round(col("margin"), 6).as("margin"),
        (col("pred_lang") === col("true_lang")).as("currently_right"))
  }

  def uncertaintySampleSql(budget: Int = 20): String =
    s"""WITH ${nbHoldoutModelCtes()}, md AS (
       |  SELECT doc_id, lang AS true_lang, SUM(mult) AS m_d
       |  FROM in_vocab GROUP BY 1, 2
       |), $nbSeenCte, scored AS (
       |  SELECT md.doc_id, md.true_lang, cl.c,
       |    $nbScoreSql AS score,
       |    row_number() OVER (PARTITION BY md.doc_id ORDER BY
       |      $nbScoreSql DESC,
       |      cl.c) AS rk
       |  $nbScoreFromSql
       |), top AS (
       |  SELECT doc_id, true_lang, c AS pred_lang, score AS s1
       |  FROM scored WHERE rk = 1
       |), runner AS (
       |  SELECT doc_id, score AS s2 FROM scored WHERE rk = 2
       |)
       |SELECT t.doc_id, t.true_lang, t.pred_lang,
       |  ROUND(CAST(t.s1 - r.s2 AS DOUBLE), 6) AS margin,
       |  t.pred_lang = t.true_lang AS currently_right
       |FROM top t JOIN runner r ON r.doc_id = t.doc_id
       |ORDER BY CAST(t.s1 - r.s2 AS DOUBLE), t.doc_id
       |LIMIT $budget""".stripMargin

  /** q433 — McNemar's paired test between the q22 stopword heuristic
    * and the q349 naive Bayes on the SAME holdout fifth, against the
    * labels: q358's kappa says whether the two classifiers agree;
    * this says which one is more ACCURATE, using only the discordant
    * pairs (the statistically correct way to compare two models
    * evaluated on identical items — two independent accuracy CIs
    * double-count the shared variance). χ² = (b−c)²/(b+c) on the
    * heur-only-right / nb-only-right counts, 3.841 = α .05, df 1.
    *
    * Exactness: the 2×2 discordance table is pure integer counts off
    * the same deterministic predictions q349/q358 grade; χ² is one
    * rounded division, NULLIF-guarded for the zero-discordance
    * corner, and the verdict compares the ROUNDED value so engines
    * cannot straddle the threshold.
    *
    * Scale: rides q349's bounded shapes (vocab-keyed model join,
    * |classes|-per-doc scores) plus one narrow heuristic map; the
    * readout is a single row.
    */
  def mcnemarLangId(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nb = nbScores(spark, dir,
        col("doc_id") % 5 =!= 0, col("doc_id") % 5 === 0)
      .withColumn("rk", row_number().over(Window.partitionBy(col("doc_id"))
        .orderBy(col("score").desc, col("c"))))
      .filter(col("rk") === 1)
      .select(col("doc_id"), col("true_lang"), col("c").as("nb_pred"))
    val heur = langIdQuery(spark, dir)
      .filter(col("doc_id") % 5 === 0)
      .select(col("doc_id"), col("lang_pred").as("heur_pred"))
    val j = nb.join(heur, "doc_id")
      .withColumn("h_ok",
        (col("heur_pred") === col("true_lang")).cast("long"))
      .withColumn("b_ok",
        (col("nb_pred") === col("true_lang")).cast("long"))
    j.agg(count(lit(1)).as("n_docs"),
        sum(col("h_ok") * col("b_ok")).as("both_correct"),
        sum(col("h_ok") * (lit(1L) - col("b_ok"))).as("heur_only"),
        sum((lit(1L) - col("h_ok")) * col("b_ok")).as("nb_only"),
        sum((lit(1L) - col("h_ok")) * (lit(1L) - col("b_ok")))
          .as("both_wrong"))
      .withColumn("chi2", round(
        ((col("heur_only") - col("nb_only")) *
          (col("heur_only") - col("nb_only"))).cast("double") /
          nullif((col("heur_only") + col("nb_only")).cast("double"),
            lit(0.0)), 6))
      .select(col("n_docs"), col("both_correct"), col("heur_only"),
        col("nb_only"), col("both_wrong"),
        round((col("both_correct") + col("heur_only")).cast("double") /
          col("n_docs").cast("double"), 6).as("heur_acc"),
        round((col("both_correct") + col("nb_only")).cast("double") /
          col("n_docs").cast("double"), 6).as("nb_acc"),
        col("chi2"),
        when(col("chi2").isNull, "no_discordant_pairs")
          .when(col("chi2") > 3.841 && col("nb_only") > col("heur_only"),
            "nb_better")
          .when(col("chi2") > 3.841, "heur_better")
          .otherwise("no_significant_diff").as("verdict"))
  }

  val mcnemarLangIdSql: String =
    s"""WITH ${nbHoldoutModelCtes()}, md AS (
       |  SELECT doc_id, lang AS true_lang, SUM(mult) AS m_d
       |  FROM in_vocab GROUP BY 1, 2
       |), $nbSeenCte, nb AS (
       |  SELECT doc_id, true_lang, c AS nb_pred FROM (
       |    SELECT md.doc_id, md.true_lang, cl.c,
       |      row_number() OVER (PARTITION BY md.doc_id ORDER BY
       |        $nbScoreSql DESC,
       |        cl.c) AS rk
       |    $nbScoreFromSql
       |  ) WHERE rk = 1
       |), $heurHoldoutCte, j AS (
       |  SELECT
       |    CASE WHEN h.heur_pred = nb.true_lang THEN 1 ELSE 0 END AS h_ok,
       |    CASE WHEN nb.nb_pred = nb.true_lang THEN 1 ELSE 0 END AS b_ok
       |  FROM nb JOIN heur h ON h.doc_id = nb.doc_id
       |), t AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(h_ok * b_ok) AS BIGINT) AS both_correct,
       |    CAST(SUM(h_ok * (1 - b_ok)) AS BIGINT) AS heur_only,
       |    CAST(SUM((1 - h_ok) * b_ok) AS BIGINT) AS nb_only,
       |    CAST(SUM((1 - h_ok) * (1 - b_ok)) AS BIGINT) AS both_wrong
       |  FROM j
       |), c AS (
       |  SELECT *, ROUND(CAST((heur_only - nb_only) * (heur_only - nb_only)
       |      AS DOUBLE)
       |    / NULLIF(CAST(heur_only + nb_only AS DOUBLE), 0.0), 6) AS chi2
       |  FROM t
       |)
       |SELECT n_docs, both_correct, heur_only, nb_only, both_wrong,
       |  ROUND(CAST(both_correct + heur_only AS DOUBLE)
       |    / CAST(n_docs AS DOUBLE), 6) AS heur_acc,
       |  ROUND(CAST(both_correct + nb_only AS DOUBLE)
       |    / CAST(n_docs AS DOUBLE), 6) AS nb_acc,
       |  chi2,
       |  CASE WHEN chi2 IS NULL THEN 'no_discordant_pairs'
       |    WHEN chi2 > 3.841 AND nb_only > heur_only THEN 'nb_better'
       |    WHEN chi2 > 3.841 THEN 'heur_better'
       |    ELSE 'no_significant_diff' END AS verdict
       |FROM c""".stripMargin

  // ------------------------------------------------------------------
  // Round-12 portable-sketch battery: the q306 KMV precedent (md5-
  // derived sketches grade HASH-EXACT cross-engine, not "within rsd")
  // extended to the two other workhorse stream summaries — count-min
  // and the AMS F2 sign sketch — plus a Bloom-filter FPR audit. These
  // give the 100 TB pipeline GRADED versions of the structures the
  // engine-internal extras (x03–x06) can only spec-bound.
  // ------------------------------------------------------------------

  private val P31 = graft.functions.PortableHash.P31

  /** q426 — count-min sketch audit over the token stream: a d×w
    * count-min built with the portable universal family (md5-derived
    * (A_i, B_i) slot constants, the q27 MinHash convention), read back
    * at the exact top-`topN` tokens. Reports per token the exact
    * count, the CM estimate (min over d rows), the overcount (≥ 0 by
    * construction — CM never underestimates) and the relative error —
    * the calibration table that tells a pipeline whether a d×w budget
    * is usable for ITS skew before replacing the exact vocabulary
    * shuffle with the sketch (x04's Misra–Gries twin is
    * arrival-order-dependent and ungradeable; this one is
    * deterministic, so it grades).
    *
    * Exactness: bucket indexes and cell counts are pure integer
    * arithmetic inside signed-64 (x < 2³¹−1, A,B < 2³¹−1 ⇒
    * A·x+B < 2⁶²); the estimate is an integer MIN; one rounded
    * division per row.
    *
    * Scale: the sketch build is one narrow map + a d·w-cell aggregate
    * (map-side combined — each task's state is ≤ d·w counters
    * regardless of corpus size); the exact side is the same
    * vocabulary aggregate q36 already pays (it is the audit's ground
    * truth, not the deploy path); the readout joins topN·d rows
    * against d·w cells — metadata-sized.
    */
  def countMinAudit(spark: SparkSession, dir: String, d: Int = 4,
                    w: Int = 512, topN: Int = 20): DataFrame = {
    val slots = graft.functions.PortableHash.slotConstants(d)
    val docs = Tables.load(spark, dir, "documents")
    val toks = docs.select(explode(tokens(col("text"))).as("token"))
    val withX = toks.withColumn("x",
      graft.functions.PortableHash.md5Long32(col("token")) % P31)
    def bucket(i: Int, x: Column): Column =
      ((lit(slots(i)._1) * x + lit(slots(i)._2)) % P31) % w
    val cells = withX
      .select(explode(array((0 until d).map(i =>
        struct(lit(i).as("r"), bucket(i, col("x")).as("bkt"))): _*))
        .as("rb"))
      .groupBy(col("rb.r").as("r"), col("rb.bkt").as("bkt"))
      .agg(count(lit(1)).as("c"))
    val top = toks.groupBy(col("token")).agg(count(lit(1)).as("exact_n"))
      .orderBy(col("exact_n").desc, col("token")).limit(topN)
      .withColumn("x",
        graft.functions.PortableHash.md5Long32(col("token")) % P31)
    top.select(col("token"), col("exact_n"),
        explode(array((0 until d).map(i =>
          struct(lit(i).as("r"), bucket(i, col("x")).as("bkt"))): _*))
          .as("rb"))
      .select(col("token"), col("exact_n"), col("rb.r").as("r"),
        col("rb.bkt").as("bkt"))
      .join(broadcast(cells), Seq("r", "bkt"))
      .groupBy(col("token"), col("exact_n"))
      .agg(min(col("c")).as("est_n"))
      .select(col("token"), col("exact_n"), col("est_n"),
        (col("est_n") - col("exact_n")).as("overcount"),
        round((col("est_n") - col("exact_n")).cast("double") /
          col("exact_n").cast("double"), 6).as("rel_error"))
      .orderBy(col("exact_n").desc, col("token"))
  }

  def countMinAuditSql(d: Int = 4, w: Int = 512, topN: Int = 20): String = {
    val slots = graft.functions.PortableHash.slotConstantsSql(d)
    s"""WITH tok AS (
       |  SELECT unnest(list_filter(
       |    string_split_regex(lower(text), '\\s+'), t -> t <> '')) AS token
       |  FROM documents
       |), hx AS (
       |  SELECT token,
       |    CAST(('0x' || substr(md5(token), 1, 8)) AS BIGINT)
       |      % 2147483647 AS x
       |  FROM tok
       |), cells AS (
       |  SELECT slots.i AS r, ((slots.a * h.x + slots.b) % 2147483647) % $w AS bkt,
       |    CAST(COUNT(*) AS BIGINT) AS c
       |  FROM hx h, $slots
       |  GROUP BY 1, 2
       |), top AS (
       |  SELECT token, CAST(COUNT(*) AS BIGINT) AS exact_n,
       |    CAST(('0x' || substr(md5(token), 1, 8)) AS BIGINT)
       |      % 2147483647 AS x
       |  FROM tok GROUP BY token
       |  ORDER BY exact_n DESC, token LIMIT $topN
       |), est AS (
       |  SELECT tb.token, tb.exact_n, MIN(c.c) AS est_n
       |  FROM (
       |    SELECT t.token, t.exact_n, slots.i AS r,
       |      ((slots.a * t.x + slots.b) % 2147483647) % $w AS bkt
       |    FROM top t, $slots
       |  ) tb JOIN cells c ON c.r = tb.r AND c.bkt = tb.bkt
       |  GROUP BY tb.token, tb.exact_n
       |)
       |SELECT token, exact_n, est_n, est_n - exact_n AS overcount,
       |  ROUND(CAST(est_n - exact_n AS DOUBLE)
       |    / CAST(exact_n AS DOUBLE), 6) AS rel_error
       |FROM est
       |ORDER BY exact_n DESC, token""".stripMargin
  }

  /** q427 — AMS F2 (second frequency moment) sign-sketch audit: eight
    * independent ±1 estimators Z_j = Σ_t n_t·s_j(t) with
    * s_j(t) = ±1 from md5("j:token"), each estimating
    * F2 = Σ_t n_t² as Z_j² — the self-join-size / skew statistic
    * every shuffle planner wants BEFORE paying the shuffle (F2/n² is
    * the collision probability a hash-join or LSH banding actually
    * experiences). Reported per estimator beside the exact F2 so the
    * sketch's variance is visible, not asserted.
    *
    * Exactness: signs, counts, Z_j and Z_j² are integers (|Z| ≤
    * total tokens, so Z² fits signed-64 at any graded SF; the exact
    * F2 accumulates n_t² in DECIMAL(38,0) for the 100 TB posture);
    * one rounded division per row.
    *
    * Scale: rides the same vocabulary aggregate as q36 (one
    * token-keyed shuffle), then 8 full aggregates over the vocab
    * frame — each a map-side-combined scalar. The sketch's deploy
    * form (streaming Z_j without the vocab aggregate) is the same
    * column expression over raw tokens.
    */
  def amsF2Audit(spark: SparkSession, dir: String,
                 nSketch: Int = 8): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val counts = Tables.load(spark, dir, "documents")
      .select(explode(tokens(col("text"))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("n"))
    val exact = counts.agg(
      sum((col("n") * col("n")).cast(dec)).cast("long").as("f2"))
    def sign(j: Int): Column =
      when(graft.functions.PortableHash.md5Long32(
        concat(lit(s"$j:"), col("token"))) % 2 === 0, 1L).otherwise(-1L)
    val zAggs = (0 until nSketch).map(j =>
      sum(col("n") * sign(j)).as(s"z$j"))
    val zs = counts.agg(zAggs.head, zAggs.tail: _*)
    val rows = zs.crossJoin(exact)
      .select(explode(array((0 until nSketch).map(j =>
        struct(lit(j).as("sketch"), col(s"z$j").as("z"),
          (col(s"z$j") * col(s"z$j")).as("est_f2"),
          col("f2").as("exact_f2"))): _*)).as("s"))
    rows.select(col("s.sketch").as("sketch"), col("s.z").as("z"),
        col("s.est_f2").as("est_f2"), col("s.exact_f2").as("exact_f2"),
        round((col("s.est_f2") - col("s.exact_f2")).cast("double") /
          col("s.exact_f2").cast("double"), 6).as("rel_error"))
      .orderBy(col("sketch"))
  }

  def amsF2AuditSql(nSketch: Int = 8): String =
    s"""WITH counts AS (
       |  SELECT token, CAST(COUNT(*) AS BIGINT) AS n FROM (
       |    SELECT unnest(list_filter(
       |      string_split_regex(lower(text), '\\s+'), t -> t <> ''))
       |      AS token
       |    FROM documents
       |  ) GROUP BY token
       |), exact AS (
       |  SELECT CAST(SUM(CAST(n * n AS DECIMAL(38,0))) AS BIGINT) AS f2
       |  FROM counts
       |), z AS (
       |  SELECT j.j AS sketch,
       |    CAST(SUM(n * (CASE WHEN
       |      CAST(('0x' || substr(md5(CAST(j.j AS VARCHAR) || ':' || token),
       |        1, 8)) AS BIGINT) % 2 = 0 THEN 1 ELSE -1 END)) AS BIGINT)
       |      AS z
       |  FROM counts, range(0, $nSketch) AS j(j)
       |  GROUP BY 1
       |)
       |SELECT z.sketch, z.z, z.z * z.z AS est_f2, e.f2 AS exact_f2,
       |  ROUND(CAST(z.z * z.z - e.f2 AS DOUBLE) / CAST(e.f2 AS DOUBLE), 6)
       |    AS rel_error
       |FROM z, exact e
       |ORDER BY z.sketch""".stripMargin

  /** q428 — Bloom-filter false-positive audit at the q69
    * decontamination grain (3-token shingles; the single-token
    * universe of the synthetic corpus is too small to leave a probe
    * set): an m-bit / k-hash Bloom filter is built over the DISTINCT
    * shingles of even-doc_id documents (the portable universal family
    * again) and probed with the shingles that appear ONLY in
    * odd-doc_id documents — every "member" answer on that probe set
    * is by construction a false positive, so the measured FP rate is
    * exact, and it sits beside the fill-ratio prediction fill^k the
    * sizing formula promises. Whether m,k are right for THIS corpus
    * becomes a graded relation, not a PLANS.md claim.
    *
    * Exactness: bit indexes, the set-bit census and hit counts are
    * integers; fill and FP rates are single rounded divisions;
    * fill^k expands to repeated multiplication (no libm pow).
    *
    * Scale: two distinct-shingle aggregates (the q26 shuffle), a
    * k·|train|-row explode collapsing to ≤ m distinct bits (map-side
    * combined, m is a constant), and a probe join against the ≤ m-row
    * bit set — broadcast-sized by construction at any corpus scale.
    */
  def bloomFprAudit(spark: SparkSession, dir: String, mBits: Int = 65536,
                    kHash: Int = 4, shingleK: Int = 3): DataFrame = {
    val slots = graft.functions.PortableHash.slotConstants(kHash)
    val docs = Tables.load(spark, dir, "documents")
    val sh = docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= shingleK)
      .select(col("doc_id"), explode(array_distinct(
        graft.functions.WordNGrams.ngrams(col("toks"), shingleK)))
        .as("token"))
    val train = sh.filter(col("doc_id") % 2 === 0)
      .select(col("token")).distinct()
    val probe = sh.filter(col("doc_id") % 2 === 1)
      .select(col("token")).distinct()
      .join(train, Seq("token"), "left_anti")
    def idx(i: Int, x: Column): Column =
      ((lit(slots(i)._1) * x + lit(slots(i)._2)) % P31) % mBits
    def indexes(df: DataFrame): DataFrame = df
      .withColumn("x",
        graft.functions.PortableHash.md5Long32(col("token")) % P31)
      .select(col("token"), explode(array((0 until kHash).map(i =>
        idx(i, col("x"))): _*)).as("bit"))
    val bits = indexes(train).select(col("bit")).distinct()
    val claimed = indexes(probe)
      .join(bits, Seq("bit"), "left_semi")
      .groupBy(col("token")).agg(count(lit(1)).as("hits"))
      .filter(col("hits") === kHash)
    val nTrain = train.agg(count(lit(1)).as("n_train"))
    val nBits = bits.agg(count(lit(1)).as("n_bits_set"))
    val nProbe = probe.agg(count(lit(1)).as("n_probe"))
    val nFp = claimed.agg(count(lit(1)).as("n_fp"))
    nTrain.crossJoin(nBits).crossJoin(nProbe).crossJoin(nFp)
      .withColumn("fill",
        col("n_bits_set").cast("double") / lit(mBits.toDouble))
      .select(col("n_train"), col("n_bits_set"),
        round(col("fill"), 6).as("fill_ratio"), col("n_probe"),
        col("n_fp"),
        round(col("n_fp").cast("double") / col("n_probe").cast("double"),
          6).as("fp_rate"),
        round((0 until kHash).map(_ => col("fill"))
          .reduce(_ * _), 6).as("predicted_fp"))
  }

  def bloomFprAuditSql(mBits: Int = 65536, kHash: Int = 4,
                       shingleK: Int = 3): String = {
    val slots = graft.functions.PortableHash.slotConstantsSql(kHash)
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(list_distinct(
       |    [array_to_string(toks[i:i+${shingleK - 1}], ' ')
       |     for i in range(1, len(toks) - ${shingleK - 2})])) AS token
       |  FROM (SELECT doc_id, list_filter(
       |          string_split_regex(lower(text), '\\s+'), t -> t <> '')
       |          AS toks
       |        FROM documents)
       |  WHERE len(toks) >= $shingleK
       |), train AS (
       |  SELECT DISTINCT token FROM tok WHERE doc_id % 2 = 0
       |), probe AS (
       |  SELECT DISTINCT token FROM tok WHERE doc_id % 2 = 1
       |  EXCEPT SELECT token FROM train
       |), hx_train AS (
       |  SELECT token,
       |    CAST(('0x' || substr(md5(token), 1, 8)) AS BIGINT)
       |      % 2147483647 AS x
       |  FROM train
       |), hx_probe AS (
       |  SELECT token,
       |    CAST(('0x' || substr(md5(token), 1, 8)) AS BIGINT)
       |      % 2147483647 AS x
       |  FROM probe
       |), bits AS (
       |  SELECT DISTINCT ((slots.a * t.x + slots.b) % 2147483647) % $mBits AS bit
       |  FROM hx_train t, $slots
       |), claimed AS (
       |  SELECT pb.token FROM (
       |    SELECT p.token, ((slots.a * p.x + slots.b) % 2147483647) % $mBits AS bit
       |    FROM hx_probe p, $slots
       |  ) pb JOIN bits b ON b.bit = pb.bit
       |  GROUP BY pb.token
       |  HAVING COUNT(*) = $kHash
       |)
       |SELECT
       |  (SELECT CAST(COUNT(*) AS BIGINT) FROM train) AS n_train,
       |  (SELECT CAST(COUNT(*) AS BIGINT) FROM bits) AS n_bits_set,
       |  ROUND((SELECT COUNT(*) FROM bits) / $mBits.0, 6) AS fill_ratio,
       |  (SELECT CAST(COUNT(*) AS BIGINT) FROM probe) AS n_probe,
       |  (SELECT CAST(COUNT(*) AS BIGINT) FROM claimed) AS n_fp,
       |  ROUND((SELECT COUNT(*) FROM claimed)
       |    / CAST((SELECT COUNT(*) FROM probe) AS DOUBLE), 6) AS fp_rate,
       |  ROUND(${(1 to kHash).map(_ =>
            s"((SELECT COUNT(*) FROM bits) / $mBits.0)").mkString(" * ")},
       |    6) AS predicted_fp""".stripMargin
  }

  /** q495 — cost-sensitive decision-threshold sweep for the q349
    * classifier, one-vs-rest on 'en': per holdout doc the NB margin
    * (score_en − best other score), candidate thresholds = the
    * margin's own rank-selected deciles, and per threshold the FP/FN
    * counts, the asymmetric cost FP + 5·FN (a miss costs 5× a false
    * alarm — the curation default where dropping good data is cheap
    * and keeping wrong-language data poisons training), and Youden's
    * J — with the cost-argmin flagged. The step q452's calibration
    * audit stops short of: turning scores into a DECISION under
    * stated costs instead of defaulting to argmax.
    *
    * Exactness: margins are DECIMAL score differences rounded 6dp;
    * thresholds are rank-selected (the q42 rule); FP/FN/cost are
    * exact integers; J is one rounded chain; the argmin tiebreaks by
    * threshold decile.
    *
    * Scale: rides q349's scoring plan; the sweep is a 10-row
    * broadcast grid × holdout-doc margins with conditional-sum
    * aggregation — never a per-threshold rescan.
    */
  def costThresholdSweep(spark: SparkSession, dir: String,
                         fnCost: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scores = nbScores(spark, dir,
      col("doc_id") % 5 =!= 0, col("doc_id") % 5 === 0)
    val margins = scores.groupBy(col("doc_id"), col("true_lang"))
      .agg(max(when(col("c") === "en", col("score"))).as("s_en"),
        max(when(col("c") =!= "en", col("score"))).as("s_other"))
      .filter(col("s_en").isNotNull && col("s_other").isNotNull)
      .withColumn("margin", round((col("s_en") - col("s_other"))
        .cast("double"), 6))
      .withColumn("is_pos", (col("true_lang") === "en").cast("long"))
      .transform(graft.Iterate.cut)
    val ranked = margins
      .withColumn("rn", row_number().over(Window.partitionBy(lit(1))
        .orderBy(col("margin"), col("doc_id"))))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(lit(1))))
    val grid = broadcast(spark.range(1, 11).toDF("decile"))
    val thresholds = grid.join(ranked,
        col("rn") === expr("(n * decile + 9) div 10"))
      .select(col("decile").cast("int").as("decile"),
        col("margin").as("threshold"))
    val swept = margins.crossJoin(broadcast(thresholds))
      .groupBy(col("decile"), col("threshold"))
      .agg(
        sum(((col("margin") >= col("threshold")) &&
          col("is_pos") === 0).cast("long")).as("n_fp"),
        sum(((col("margin") < col("threshold")) &&
          col("is_pos") === 1).cast("long")).as("n_fn"),
        sum(col("is_pos")).as("n_pos"),
        sum(lit(1L) - col("is_pos")).as("n_neg"))
      .withColumn("cost", col("n_fp") + lit(fnCost.toLong) * col("n_fn"))
      .withColumn("youden_j", round(
        (col("n_pos") - col("n_fn")).cast("double")
          / nullif(col("n_pos").cast("double"), lit(0.0))
          - col("n_fp").cast("double")
          / nullif(col("n_neg").cast("double"), lit(0.0)), 6))
    swept
      .withColumn("is_optimal", row_number().over(Window.partitionBy(lit(1))
        .orderBy(col("cost").asc, col("decile"))) === 1)
      .select(col("decile"), col("threshold"), col("n_fp"), col("n_fn"),
        col("cost"), col("youden_j"), col("is_optimal"))
      .orderBy(col("decile"))
  }

  def costThresholdSweepSql(fnCost: Int = 5): String =
    s"""WITH ${nbHoldoutModelCtes(withCnt = true)}, $nbTestScoresCtes, margins AS (
      |  SELECT doc_id, true_lang,
      |    ROUND(CAST(MAX(CASE WHEN c = 'en' THEN score END)
      |      - MAX(CASE WHEN c <> 'en' THEN score END) AS DOUBLE), 6)
      |      AS margin,
      |    CASE WHEN true_lang = 'en' THEN 1 ELSE 0 END AS is_pos
      |  FROM scores GROUP BY 1, 2
      |  HAVING MAX(CASE WHEN c = 'en' THEN score END) IS NOT NULL
      |    AND MAX(CASE WHEN c <> 'en' THEN score END) IS NOT NULL
      |), ranked AS (
      |  SELECT margin,
      |    ROW_NUMBER() OVER (ORDER BY margin, doc_id) AS rn,
      |    COUNT(*) OVER () AS n
      |  FROM margins
      |), thresholds AS (
      |  SELECT CAST(t.i AS INT) AS decile, r.margin AS threshold
      |  FROM range(1, 11) t(i)
      |  JOIN ranked r ON r.rn = (r.n * t.i + 9) // 10
      |), swept AS (
      |  SELECT th.decile, th.threshold,
      |    CAST(SUM(CASE WHEN m.margin >= th.threshold AND m.is_pos = 0
      |      THEN 1 ELSE 0 END) AS BIGINT) AS n_fp,
      |    CAST(SUM(CASE WHEN m.margin < th.threshold AND m.is_pos = 1
      |      THEN 1 ELSE 0 END) AS BIGINT) AS n_fn,
      |    CAST(SUM(m.is_pos) AS BIGINT) AS n_pos,
      |    CAST(SUM(1 - m.is_pos) AS BIGINT) AS n_neg
      |  FROM margins m CROSS JOIN thresholds th
      |  GROUP BY 1, 2
      |), scored AS (
      |  SELECT decile, threshold, n_fp, n_fn,
      |    n_fp + $fnCost * n_fn AS cost,
      |    ROUND(CAST(n_pos - n_fn AS DOUBLE)
      |        / NULLIF(CAST(n_pos AS DOUBLE), 0.0)
      |      - CAST(n_fp AS DOUBLE) / NULLIF(CAST(n_neg AS DOUBLE), 0.0), 6)
      |      AS youden_j
      |  FROM swept
      |)
      |SELECT decile, threshold, n_fp, n_fn, cost, youden_j,
      |  ROW_NUMBER() OVER (ORDER BY cost ASC, decile) = 1 AS is_optimal
      |FROM scored
      |ORDER BY decile""".stripMargin

  /** q485 — leave-one-source-out data valuation: retrain the q349
    * naive-Bayes lang-id WITHOUT each source and score the SAME
    * holdout fifth — Δaccuracy per source is the source's marginal
    * value to the model (negative Δ on removal = the source carries
    * signal; positive = it is actively poisoning training — mislabeled
    * or TEMPLATE text). The Shapley-lite data-valuation audit every
    * "should we keep buying this feed" decision wants, computed
    * WITHOUT 20 retraining passes: counts are ADDITIVE by source
    * (each doc has one source), so every ablated model is
    * full-counts − source-counts in one relational subtraction, and
    * all 21 models (20 ablations + the full baseline) train and score
    * in ONE plan.
    *
    * Exactness: the q349 discipline end to end — zero-cells never
    * materialize (cnt_loo > 0 filter keeps the log(1)=0 identity),
    * per-ablation vocabularies and class totals rebuilt by integer
    * subtraction, 6dp decimal score algebra, argmax tiebroken by
    * class; accuracies are exact integer ratios rounded once; the
    * per-ablation eval set is the holdout docs with ≥1 in-vocab
    * token (stated — a doc can drop only if its entire vocabulary
    * came from the ablated source).
    *
    * Scale: the exclusion grid is |sources|+1 broadcast rows; the
    * model/holdout blow-up is linear in that catalog-bounded count —
    * one (lang, token) shuffle and one vocabulary-keyed scoring join
    * per plan, never per ablation.
    */
  def sourceAblationValue(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val toksAll = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("source"),
        explode(tokens(col("text"))).as("token"))
      .groupBy(col("doc_id"), col("lang"), col("source"), col("token"))
      .agg(count(lit(1)).as("mult"))
    val train = toksAll.filter(col("doc_id") % 5 =!= 0).transform(graft.Iterate.cut)
    val test = toksAll.filter(col("doc_id") % 5 === 0)
      .select(col("doc_id"), col("lang"), col("token"), col("mult"))
      .transform(graft.Iterate.cut)
    val excl = train.select(col("source").as("excl")).distinct()
      .unionByName(Seq("__none__").toDF("excl")).transform(graft.Iterate.cut)
    val cntFull = train.groupBy(col("lang").as("c"), col("token"))
      .agg(sum(col("mult")).as("cnt"))
    val cntSrc = train.groupBy(col("source").as("excl"),
        col("lang").as("c"), col("token"))
      .agg(sum(col("mult")).as("cnt_s"))
    val modelLoo = cntFull.crossJoin(broadcast(excl))
      .join(cntSrc, Seq("excl", "c", "token"), "left")
      .withColumn("cnt_loo", col("cnt") - coalesce(col("cnt_s"), lit(0L)))
      .filter(col("cnt_loo") > 0)
      .withColumn("l_num", round(log10(col("cnt_loo") + 1), 6))
      .select(col("excl"), col("c"), col("token"), col("l_num"))
      .transform(graft.Iterate.cut)
    val vocabLoo = modelLoo.groupBy(col("excl"))
      .agg(countDistinct(col("token")).as("v"))
    val clsFull = train.groupBy(col("lang").as("c"))
      .agg(countDistinct(col("doc_id")).as("d_c"), sum(col("mult")).as("t_c"))
    val clsSrc = train.groupBy(col("source").as("excl"), col("lang").as("c"))
      .agg(countDistinct(col("doc_id")).as("d_s"), sum(col("mult")).as("t_s"))
    val classesLoo = clsFull.crossJoin(broadcast(excl))
      .join(clsSrc, Seq("excl", "c"), "left")
      .withColumn("d_loo", col("d_c") - coalesce(col("d_s"), lit(0L)))
      .withColumn("t_loo", col("t_c") - coalesce(col("t_s"), lit(0L)))
      .filter(col("d_loo") > 0)
      .join(vocabLoo, "excl")
      .select(col("excl"), col("c"),
        round(log10(col("d_loo")), 6).as("l_prior"),
        round(log10(col("t_loo") + col("v")), 6).as("l_den"))
    val vocabTok = modelLoo.select(col("excl"), col("token")).distinct()
    val inVocab = test.join(vocabTok, Seq("token"))
    val md = inVocab.groupBy(col("excl"), col("doc_id"),
        col("lang").as("true_lang"))
      .agg(sum(col("mult")).as("m_d"))
    val seen = inVocab.join(modelLoo, Seq("excl", "token"))
      .groupBy(col("excl"), col("doc_id"), col("c"))
      .agg(sum(col("mult") * col("l_num").cast("decimal(18,6)")).as("sum_num"))
    val scores = md.join(classesLoo, Seq("excl"))
      .join(seen, Seq("excl", "doc_id", "c"), "left")
      .withColumn("score",
        col("l_prior").cast("decimal(28,6)")
          + coalesce(col("sum_num"), lit(0).cast("decimal(18,6)"))
          - col("m_d") * col("l_den").cast("decimal(18,6)"))
    val pred = scores
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("excl"), col("doc_id"))
          .orderBy(col("score").desc, col("c"))))
      .filter(col("rk") === 1)
    val acc = pred.groupBy(col("excl"))
      .agg(count(lit(1)).as("n_eval"),
        sum((col("c") === col("true_lang")).cast("long")).as("n_correct"))
      .transform(graft.Iterate.cut)
    val full = acc.filter(col("excl") === "__none__")
      .select((col("n_correct").cast("double") / col("n_eval").cast("double"))
        .as("acc_full_raw"))
    acc.filter(col("excl") =!= "__none__")
      .crossJoin(broadcast(full))
      .withColumn("acc_loo_raw",
        col("n_correct").cast("double") / col("n_eval").cast("double"))
      .select(col("excl").as("source"), col("n_eval"), col("n_correct"),
        round(col("acc_loo_raw"), 6).as("acc_without"),
        round(col("acc_full_raw"), 6).as("acc_full"),
        round(col("acc_loo_raw") - col("acc_full_raw"), 6).as("delta_on_removal"))
      .orderBy(col("source"))
  }

  val sourceAblationValueSql: String =
    s"""WITH toks AS (
      |  SELECT doc_id, lang, source, token, CAST(COUNT(*) AS BIGINT) AS mult
      |  FROM (
      |    SELECT doc_id, lang, source, unnest(list_filter(
      |      string_split_regex(lower(text), '\\s+'), t -> t <> '')) AS token
      |    FROM documents
      |  )
      |  GROUP BY 1, 2, 3, 4
      |), train AS (
      |  SELECT * FROM toks WHERE doc_id % 5 <> 0
      |), test AS (
      |  SELECT doc_id, lang, token, mult FROM toks WHERE doc_id % 5 = 0
      |), excl AS (
      |  SELECT DISTINCT source AS excl FROM train
      |  UNION ALL SELECT '__none__'
      |), cnt_full AS (
      |  SELECT lang AS c, token, CAST(SUM(mult) AS BIGINT) AS cnt
      |  FROM train GROUP BY 1, 2
      |), cnt_src AS (
      |  SELECT source AS excl, lang AS c, token,
      |    CAST(SUM(mult) AS BIGINT) AS cnt_s
      |  FROM train GROUP BY 1, 2, 3
      |), model_loo AS (
      |  SELECT e.excl, f.c, f.token,
      |    ROUND(log10(f.cnt - COALESCE(s.cnt_s, 0) + 1), 6) AS l_num
      |  FROM cnt_full f CROSS JOIN excl e
      |  LEFT JOIN cnt_src s
      |    ON s.excl = e.excl AND s.c = f.c AND s.token = f.token
      |  WHERE f.cnt - COALESCE(s.cnt_s, 0) > 0
      |), vocab_loo AS (
      |  SELECT excl, CAST(COUNT(DISTINCT token) AS BIGINT) AS v
      |  FROM model_loo GROUP BY 1
      |), cls_full AS (
      |  SELECT lang AS c, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS d_c,
      |    CAST(SUM(mult) AS BIGINT) AS t_c
      |  FROM train GROUP BY 1
      |), cls_src AS (
      |  SELECT source AS excl, lang AS c,
      |    CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS d_s,
      |    CAST(SUM(mult) AS BIGINT) AS t_s
      |  FROM train GROUP BY 1, 2
      |), classes_loo AS (
      |  SELECT e.excl, f.c,
      |    ROUND(log10(f.d_c - COALESCE(s.d_s, 0)), 6) AS l_prior,
      |    ROUND(log10(f.t_c - COALESCE(s.t_s, 0) + v.v), 6) AS l_den
      |  FROM cls_full f CROSS JOIN excl e
      |  LEFT JOIN cls_src s ON s.excl = e.excl AND s.c = f.c
      |  JOIN vocab_loo v ON v.excl = e.excl
      |  WHERE f.d_c - COALESCE(s.d_s, 0) > 0
      |), vocab_tok AS (
      |  SELECT DISTINCT excl, token FROM model_loo
      |), in_vocab AS (
      |  SELECT vt.excl, t.doc_id, t.lang, t.token, t.mult
      |  FROM test t JOIN vocab_tok vt ON vt.token = t.token
      |), md AS (
      |  SELECT excl, doc_id, lang AS true_lang, CAST(SUM(mult) AS BIGINT) AS m_d
      |  FROM in_vocab GROUP BY 1, 2, 3
      |), seen AS (
      |  SELECT iv.excl, iv.doc_id, m.c,
      |    SUM(iv.mult * CAST(m.l_num AS DECIMAL(18,6))) AS sum_num
      |  FROM in_vocab iv
      |  JOIN model_loo m ON m.excl = iv.excl AND m.token = iv.token
      |  GROUP BY 1, 2, 3
      |), scores AS (
      |  SELECT md.excl, md.doc_id, md.true_lang, cl.c,
      |    $nbScoreSql AS score
      |  FROM md
      |  JOIN classes_loo cl ON cl.excl = md.excl
      |  LEFT JOIN seen s
      |    ON s.excl = md.excl AND s.doc_id = md.doc_id AND s.c = cl.c
      |), pred AS (
      |  SELECT excl, doc_id, true_lang, c FROM (
      |    SELECT excl, doc_id, true_lang, c,
      |      ROW_NUMBER() OVER (PARTITION BY excl, doc_id
      |        ORDER BY score DESC, c) AS rk
      |    FROM scores
      |  ) WHERE rk = 1
      |), acc AS (
      |  SELECT excl, CAST(COUNT(*) AS BIGINT) AS n_eval,
      |    CAST(SUM(CASE WHEN c = true_lang THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_correct
      |  FROM pred GROUP BY 1
      |), full_acc AS (
      |  SELECT CAST(n_correct AS DOUBLE) / CAST(n_eval AS DOUBLE)
      |    AS acc_full_raw
      |  FROM acc WHERE excl = '__none__'
      |)
      |SELECT a.excl AS source, a.n_eval, a.n_correct,
      |  ROUND(CAST(a.n_correct AS DOUBLE) / CAST(a.n_eval AS DOUBLE), 6)
      |    AS acc_without,
      |  ROUND(f.acc_full_raw, 6) AS acc_full,
      |  ROUND(CAST(a.n_correct AS DOUBLE) / CAST(a.n_eval AS DOUBLE)
      |    - f.acc_full_raw, 6) AS delta_on_removal
      |FROM acc a CROSS JOIN full_acc f
      |WHERE a.excl <> '__none__'
      |ORDER BY source""".stripMargin

  /** q481 — Burrows' Delta stylometry between sources: over the 50
    * globally most frequent tokens (the FUNCTION-word band — style
    * lives in "the/of/and" rates, not topic words), each source's
    * relative frequencies z-score per token across the 20 sources and
    * Delta(a,b) = mean |z_a − z_b| — the standard authorship-
    * attribution distance, here answering "which sources share a
    * template/generator" (two crawls of the same CMS, a model's
    * synthetic text under two names) BEFORE any content comparison.
    * Top-10 most similar pairs.
    *
    * Exactness: counts and totals are integers; per-token moments
    * fold over the SORTED r-array (order-free); z rounds 6dp; each
    * pair's 50 |Δz| terms go to half-up integer micro-units and sum
    * EXACTLY, so the ranking key is a BIGINT and delta is one IEEE
    * division.
    *
    * Scale: one (source, token) count, a 50-row broadcast vocabulary,
    * a |sources|×50 dense grid — everything after the corpus scan is
    * catalog-sized.
    */
  def burrowsDelta(spark: SparkSession, dir: String, topTerms: Int = 50,
                   topK: Int = 10): DataFrame = {
    val tf = Tables.load(spark, dir, "documents")
      .select(col("source"), explode(tokens(col("text"))).as("token"))
      .groupBy(col("source"), col("token"))
      .agg(count(lit(1)).as("m"))
      .transform(graft.Iterate.cut)
    val srcTot = tf.groupBy(col("source")).agg(sum(col("m")).as("st"))
    val k = srcTot.count().toInt // |sources| — catalog-sized scalar
    val top = tf.groupBy(col("token")).agg(sum(col("m")).as("cf"))
      .orderBy(col("cf").desc, col("token")).limit(topTerms)
      .select(col("token"))
    val grid = srcTot.crossJoin(broadcast(top))
      .join(tf, Seq("source", "token"), "left")
      .withColumn("r", coalesce(col("m"), lit(0L)).cast("double")
        / col("st").cast("double"))
    val tokStats = grid.groupBy(col("token"))
      .agg(sort_array(collect_list(col("r"))).as("rs"))
      .withColumn("sr", aggregate(col("rs"), lit(0.0), (acc, v) => acc + v))
      .withColumn("srr", aggregate(col("rs"), lit(0.0), (acc, v) => acc + v * v))
      .withColumn("mu", col("sr") / lit(k.toDouble))
      .withColumn("sd", sqrt(greatest(col("srr") / lit(k.toDouble)
        - col("mu") * col("mu"), lit(0.0))))
      .select(col("token"), col("mu"), col("sd"))
    val z = grid.join(broadcast(tokStats), "token")
      .withColumn("z", round((col("r") - col("mu"))
        / nullif(col("sd"), lit(0.0)), 6))
      .select(col("source"), col("token"), coalesce(col("z"), lit(0.0)).as("z"))
    val za = z.select(col("source").as("source_a"), col("token"), col("z").as("za"))
    val zb = z.select(col("source").as("source_b"), col("token"), col("z").as("zb"))
    za.join(zb, Seq("token")).filter(col("source_a") < col("source_b"))
      .withColumn("dz_micro",
        round(abs(col("za") - col("zb")) * 1e6, 0).cast("long"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(sum(col("dz_micro")).as("s"))
      .orderBy(col("s").asc, col("source_a"), col("source_b"))
      .limit(topK)
      .select(col("source_a"), col("source_b"),
        (col("s").cast("double") / lit(topTerms * 1e6)).as("delta"))
  }

  /** Per-(source, token) counts and per-source token totals. */
  private val sourceTfCtes: String =
    """tf AS (
      |  SELECT source, token, CAST(COUNT(*) AS BIGINT) AS m
      |  FROM (
      |    SELECT source, unnest(list_filter(
      |      string_split_regex(lower(text), '\s+'), t -> t <> '')) AS token
      |    FROM documents
      |  )
      |  GROUP BY 1, 2
      |), src_tot AS (
      |  SELECT source, CAST(SUM(m) AS BIGINT) AS st FROM tf GROUP BY 1
      |)""".stripMargin

  def burrowsDeltaSql(topTerms: Int = 50, topK: Int = 10): String =
    s"""WITH $sourceTfCtes, kk AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS k FROM src_tot
      |), top AS (
      |  SELECT token FROM (
      |    SELECT token, CAST(SUM(m) AS BIGINT) AS cf FROM tf GROUP BY 1
      |  ) ORDER BY cf DESC, token LIMIT $topTerms
      |), grid AS (
      |  SELECT s.source, t.token,
      |    CAST(COALESCE(f.m, 0) AS DOUBLE) / CAST(s.st AS DOUBLE) AS r
      |  FROM src_tot s CROSS JOIN top t
      |  LEFT JOIN tf f ON f.source = s.source AND f.token = t.token
      |), tok_stats AS (
      |  SELECT token,
      |    list_reduce(list_prepend(0.0, rs), (x, y) -> x + y) AS sr,
      |    list_reduce(list_prepend(0.0, [v * v for v in rs]),
      |      (x, y) -> x + y) AS srr
      |  FROM (SELECT token, list_sort(list(r)) AS rs FROM grid GROUP BY 1)
      |), zed AS (
      |  SELECT g.source, g.token,
      |    COALESCE(ROUND((g.r - ts.sr / CAST(kk.k AS DOUBLE))
      |      / NULLIF(sqrt(GREATEST(ts.srr / CAST(kk.k AS DOUBLE)
      |        - (ts.sr / CAST(kk.k AS DOUBLE)) * (ts.sr / CAST(kk.k AS DOUBLE)),
      |        0.0)), 0.0), 6), 0.0) AS z
      |  FROM grid g
      |  JOIN tok_stats ts ON ts.token = g.token
      |  CROSS JOIN kk
      |)
      |SELECT a.source AS source_a, b.source AS source_b,
      |  CAST(SUM(CAST(ROUND(ABS(a.z - b.z) * 1000000.0, 0) AS BIGINT))
      |    AS DOUBLE) / ${topTerms}000000.0 AS delta
      |FROM zed a JOIN zed b
      |  ON a.token = b.token AND a.source < b.source
      |GROUP BY 1, 2
      |ORDER BY SUM(CAST(ROUND(ABS(a.z - b.z) * 1000000.0, 0) AS BIGINT)) ASC,
      |  source_a, source_b
      |LIMIT $topK""".stripMargin

  /** q478 — term burstiness (Church–Gale adaptation): per term with
    * df ≥ 5, the within-document mean tf (cf/df) and the adaptation
    * probability P(tf ≥ 2 | tf ≥ 1) = df₂/df — content words BURST
    * (one mention begets another: high adaptation) while function
    * words scatter Poisson-like, so adaptation separates topical
    * vocabulary from glue without any stopword list. The top-20
    * burstiest terms, the q36/q341 frequency battery's within-doc
    * dimension.
    *
    * Exactness: cf, df, df₂ are exact integers off one (doc, token)
    * aggregate; mean tf and adaptation are single rounded divisions;
    * ranking orders by (rounded adaptation desc, cf desc, token).
    *
    * Scale: the q36 shuffle (doc-token counts with map-side combine)
    * then a vocabulary-sized aggregate; top-20 via
    * TakeOrderedAndProject.
    */
  def termBurstiness(spark: SparkSession, dir: String, minDf: Int = 5,
                     topK: Int = 20): DataFrame = {
    val tf = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
    tf.groupBy(col("token"))
      .agg(sum(col("tf")).as("cf"), count(lit(1)).as("df"),
        sum(when(col("tf") >= 2, 1L).otherwise(0L)).as("df2"))
      .filter(col("df") >= minDf)
      .select(col("token"), col("cf"), col("df"),
        round(col("cf").cast("double") / col("df").cast("double"), 6)
          .as("mean_tf"),
        round(col("df2").cast("double") / col("df").cast("double"), 6)
          .as("adaptation"))
      .orderBy(col("adaptation").desc, col("cf").desc, col("token"))
      .limit(topK)
  }

  def termBurstinessSql(minDf: Int = 5, topK: Int = 20): String =
    s"""WITH tf AS (
      |  SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
      |  FROM (
      |    SELECT doc_id, unnest(list_filter(
      |      string_split_regex(lower(text), '\\s+'), t -> t <> '')) AS token
      |    FROM documents
      |  )
      |  GROUP BY 1, 2
      |), terms AS (
      |  SELECT token, CAST(SUM(tf) AS BIGINT) AS cf,
      |    CAST(COUNT(*) AS BIGINT) AS df,
      |    CAST(SUM(CASE WHEN tf >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS df2
      |  FROM tf GROUP BY 1
      |)
      |SELECT token, cf, df,
      |  ROUND(CAST(cf AS DOUBLE) / CAST(df AS DOUBLE), 6) AS mean_tf,
      |  ROUND(CAST(df2 AS DOUBLE) / CAST(df AS DOUBLE), 6) AS adaptation
      |FROM terms WHERE df >= $minDf
      |ORDER BY adaptation DESC, cf DESC, token
      |LIMIT $topK""".stripMargin

  /** q479 — Kneser–Ney continuation statistics: per word, the
    * continuation count N₁₊(•w) = number of DISTINCT left neighbors,
    * and the KN continuation probability p_cont(w) = N₁₊(•w) / |bigram
    * types| — the "Francisco problem" diagnostic (a word can be
    * FREQUENT yet appear after only one context; raw unigram
    * probability overstates it as a back-off target, continuation
    * probability doesn't). Reported beside the raw unigram share with
    * the rank gap, top-20 by continuation probability — the statistic
    * every modern smoothed LM and every back-off tokenizer heuristic
    * is built on.
    *
    * Exactness: continuation counts, bigram-type totals and unigram
    * counts are all exact integers off one bigram-type aggregate; the
    * two probabilities are single rounded divisions; ordering is
    * fully tiebroken.
    *
    * Scale: one bigram explode (the q-gram shuffle) → distinct pair
    * types → a vocabulary-sized aggregate + 1-row broadcast totals.
    */
  def knContinuation(spark: SparkSession, dir: String, topK: Int = 20): DataFrame = {
    val toks = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), tokens(col("text")).as("ts"))
      .select(col("doc_id"), posexplode(col("ts")).as(Seq("pos", "w")))
    val wnd = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    val bigramTypes = toks
      .withColumn("prev", lag(col("w"), 1).over(wnd))
      .filter(col("prev").isNotNull)
      .select(col("prev"), col("w")).distinct()
      .transform(graft.Iterate.cut)
    val cont = bigramTypes.groupBy(col("w"))
      .agg(count(lit(1)).as("n_contexts"))
    val totBig = bigramTypes.agg(count(lit(1)).as("n_bigram_types"))
    val uni = toks.groupBy(col("w")).agg(count(lit(1)).as("cf"))
    val totUni = uni.agg(sum(col("cf")).as("n_tokens"))
    cont.join(uni, "w")
      .crossJoin(broadcast(totBig)).crossJoin(broadcast(totUni))
      .select(col("w").as("token"), col("cf"), col("n_contexts"),
        round(col("cf").cast("double") / col("n_tokens").cast("double"), 6)
          .as("p_unigram"),
        round(col("n_contexts").cast("double")
          / col("n_bigram_types").cast("double"), 6).as("p_continuation"))
      .orderBy(col("p_continuation").desc, col("cf").desc, col("token"))
      .limit(topK)
  }

  def knContinuationSql(topK: Int = 20): String =
    s"""WITH toks AS (
      |  SELECT doc_id, generate_subscripts(l, 1) AS pos, unnest(l) AS w
      |  FROM (SELECT doc_id,
      |          list_filter(string_split_regex(lower(text), '\\s+'),
      |            t -> t <> '') AS l
      |        FROM documents)
      |), bigram_types AS (
      |  SELECT DISTINCT prev, w
      |  FROM (
      |    SELECT w, LAG(w, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
      |    FROM toks
      |  )
      |  WHERE prev IS NOT NULL
      |), cont AS (
      |  SELECT w, CAST(COUNT(*) AS BIGINT) AS n_contexts
      |  FROM bigram_types GROUP BY 1
      |), tot_big AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_bigram_types FROM bigram_types
      |), uni AS (
      |  SELECT w, CAST(COUNT(*) AS BIGINT) AS cf FROM toks GROUP BY 1
      |), tot_uni AS (
      |  SELECT CAST(SUM(cf) AS BIGINT) AS n_tokens FROM uni
      |)
      |SELECT c.w AS token, u.cf, c.n_contexts,
      |  ROUND(CAST(u.cf AS DOUBLE) / CAST(t.n_tokens AS DOUBLE), 6)
      |    AS p_unigram,
      |  ROUND(CAST(c.n_contexts AS DOUBLE) / CAST(b.n_bigram_types AS DOUBLE), 6)
      |    AS p_continuation
      |FROM cont c
      |JOIN uni u ON u.w = c.w
      |CROSS JOIN tot_big b CROSS JOIN tot_uni t
      |ORDER BY p_continuation DESC, u.cf DESC, token
      |LIMIT $topK""".stripMargin

  /** q480 — Juilland's dispersion D per term across the 20 sources:
    * D = 1 − CV/√(k−1) over the term's RELATIVE frequencies per
    * source — a term can be frequent yet live in one source (D → 0:
    * jargon, boilerplate, a single hot document set) or spread evenly
    * (D → 1: general vocabulary). The corpus-linguistics complement
    * of q467's keyness: keyness names what a source overuses,
    * dispersion names which terms are CORPUS-GENERAL — the vocabulary
    * a tokenizer should never split. Top/bottom-10 by D among df ≥ 10
    * terms.
    *
    * Exactness: per-(source, token) counts and per-source totals are
    * exact integers; each relative frequency is one IEEE division;
    * the k-point moment sums fold over the SORTED r-array (left to
    * right with a 0.0 seed on both engines — groupBy float sums would
    * be partition-order-dependent), the mean/CV/D chain runs in fixed
    * order against the driver-scalar k, rounded once; ties broken by
    * token.
    *
    * Scale: the q36 (source, token) shuffle, then a vocabulary-sized
    * aggregate holding ≤|sources| doubles per term; two
    * TakeOrderedAndProject top-10s unioned.
    */
  def juillandDispersion(spark: SparkSession, dir: String, minCf: Int = 10,
                         topK: Int = 10): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val tf = docs
      .select(col("source"), explode(tokens(col("text"))).as("token"))
      .groupBy(col("source"), col("token"))
      .agg(count(lit(1)).as("m"))
    val srcTot = tf.groupBy(col("source")).agg(sum(col("m")).as("st"))
    val rel = tf.join(broadcast(srcTot), "source")
      .withColumn("r", col("m").cast("double") / col("st").cast("double"))
    val k = srcTot.count().toInt // |sources| — catalog-sized scalar
    val stats = rel.groupBy(col("token"))
      .agg(sum(col("m")).as("cf"),
        sort_array(collect_list(col("r"))).as("rs"))
      .filter(col("cf") >= minCf)
      .withColumn("sr", aggregate(col("rs"), lit(0.0), (acc, v) => acc + v))
      .withColumn("srr", aggregate(col("rs"), lit(0.0), (acc, v) => acc + v * v))
      .withColumn("mean_r", col("sr") / lit(k.toDouble))
      .withColumn("var_r", col("srr") / lit(k.toDouble)
        - col("mean_r") * col("mean_r"))
      .withColumn("d", round(lit(1.0) -
        (sqrt(greatest(col("var_r"), lit(0.0))) / nullif(col("mean_r"), lit(0.0)))
          / math.sqrt(k - 1.0), 6))
      .transform(graft.Iterate.cut)
    val topD = stats.orderBy(col("d").desc, col("token")).limit(topK)
      .withColumn("bucket", lit("most_dispersed"))
    val botD = stats.orderBy(col("d").asc, col("token")).limit(topK)
      .withColumn("bucket", lit("most_clumped"))
    topD.unionByName(botD)
      .select(col("bucket"), col("token"), col("cf"), col("d"))
      .orderBy(col("bucket"), col("d").desc, col("token"))
  }

  def juillandDispersionSql(minCf: Int = 10, topK: Int = 10): String =
    s"""WITH $sourceTfCtes, k AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS k FROM src_tot
      |), rel AS (
      |  SELECT t.token, t.m,
      |    CAST(t.m AS DOUBLE) / CAST(s.st AS DOUBLE) AS r
      |  FROM tf t JOIN src_tot s ON s.source = t.source
      |), stats AS (
      |  SELECT token, CAST(SUM(m) AS BIGINT) AS cf,
      |    list_sort(list(r)) AS rs
      |  FROM rel GROUP BY 1
      |  HAVING SUM(m) >= $minCf
      |), folded AS (
      |  SELECT token, cf,
      |    list_reduce(list_prepend(0.0, rs), (x, y) -> x + y) AS sr,
      |    list_reduce(list_prepend(0.0, [v * v for v in rs]),
      |      (x, y) -> x + y) AS srr
      |  FROM stats
      |), scored AS (
      |  SELECT token, cf,
      |    ROUND(1.0 - (sqrt(GREATEST(srr / CAST(k.k AS DOUBLE)
      |        - (sr / CAST(k.k AS DOUBLE)) * (sr / CAST(k.k AS DOUBLE)), 0.0))
      |      / NULLIF(sr / CAST(k.k AS DOUBLE), 0.0))
      |      / sqrt(CAST(k.k AS DOUBLE) - 1.0), 6) AS d
      |  FROM folded CROSS JOIN k
      |), topd AS (
      |  SELECT 'most_dispersed' AS bucket, token, cf, d
      |  FROM scored ORDER BY d DESC, token LIMIT $topK
      |), botd AS (
      |  SELECT 'most_clumped' AS bucket, token, cf, d
      |  FROM scored ORDER BY d ASC, token LIMIT $topK
      |)
      |SELECT bucket, token, cf, d FROM topd
      |UNION ALL
      |SELECT bucket, token, cf, d FROM botd
      |ORDER BY bucket, d DESC, token""".stripMargin

  /** q467 — keyness (Dunning log-likelihood G²) top terms per source:
    * for each (source, token), a = in-source count, b = rest-of-corpus
    * count, and G² = 2·[a·ln(a/E_a) + b·ln(b/E_b)] with expectations
    * E proportional to the marginals — the corpus-linguistics
    * "keyword" statistic that names WHAT a source is about relative
    * to everything else (PMI's q-gram cousin ranks collocations
    * WITHIN a corpus; keyness contrasts corpora). Only OVERUSED terms
    * qualify (a·N > A·t, an integer-exact comparison — underused
    * terms are the other source's keywords), top-5 per source.
    *
    * Exactness: all four cell counts are exact integers off one
    * (source, token) aggregate; G² is one shared IEEE chain rounded
    * 6dp (b = 0 contributes exactly 0 via the x·ln x → 0 limit,
    * guarded identically on both sides); ranking orders by the
    * ROUNDED statistic then token, so both engines buy the same
    * top-5.
    *
    * Scale: one (source, token) count (the q36 shuffle), one
    * token-keyed marginal join, a |sources|-row broadcast marginal,
    * and a per-source row_number ≤ 5 window that Spark executes as
    * WindowGroupLimit — partial top-k before any exchange. Nothing
    * wider than the vocabulary ever materializes.
    */
  def keynessTerms(spark: SparkSession, dir: String, topK: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = Tables.load(spark, dir, "documents")
      .select(col("source"), explode(tokens(col("text"))).as("token"))
      .groupBy(col("source"), col("token"))
      .agg(count(lit(1)).as("a"))
    val tok = tf.groupBy(col("token")).agg(sum(col("a")).as("t"))
    val src = tf.groupBy(col("source")).agg(sum(col("a")).as("atot"))
    val grand = src.agg(sum(col("atot")).as("ntot"))
    val scored = tf.join(tok, "token")
      .join(broadcast(src), "source")
      .crossJoin(broadcast(grand))
      .filter(col("a") * col("ntot") > col("atot") * col("t"))
      .withColumn("b", col("t") - col("a"))
      .withColumn("ea", col("atot").cast("double") * col("t").cast("double")
        / col("ntot").cast("double"))
      .withColumn("eb", (col("ntot") - col("atot")).cast("double")
        * col("t").cast("double") / col("ntot").cast("double"))
      .withColumn("g2", round(lit(2.0) * (
        col("a").cast("double") * log(col("a").cast("double") / col("ea")) +
          when(col("b") === 0, lit(0.0))
            .otherwise(col("b").cast("double") *
              log(col("b").cast("double") / col("eb")))), 6))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("g2").desc, col("token"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("source"), col("rank"), col("token"),
        col("a").as("n_in"), col("b").as("n_rest"), col("g2"))
      .orderBy(col("source"), col("rank"))
  }

  def keynessTermsSql(topK: Int = 5): String =
    s"""WITH tf AS (
      |  SELECT source, token, CAST(COUNT(*) AS BIGINT) AS a
      |  FROM (
      |    SELECT source, unnest(list_filter(
      |      string_split_regex(lower(text), '\\s+'), t -> t <> '')) AS token
      |    FROM documents
      |  )
      |  GROUP BY 1, 2
      |), tok AS (
      |  SELECT token, CAST(SUM(a) AS BIGINT) AS t FROM tf GROUP BY 1
      |), src AS (
      |  SELECT source, CAST(SUM(a) AS BIGINT) AS atot FROM tf GROUP BY 1
      |), grand AS (
      |  SELECT CAST(SUM(atot) AS BIGINT) AS ntot FROM src
      |), scored AS (
      |  SELECT f.source, f.token, f.a, k.t - f.a AS b,
      |    ROUND(2.0 * (
      |      CAST(f.a AS DOUBLE) * ln(CAST(f.a AS DOUBLE) /
      |        (CAST(s.atot AS DOUBLE) * CAST(k.t AS DOUBLE)
      |          / CAST(g.ntot AS DOUBLE))) +
      |      CASE WHEN k.t - f.a = 0 THEN 0.0
      |        ELSE CAST(k.t - f.a AS DOUBLE) * ln(CAST(k.t - f.a AS DOUBLE) /
      |          (CAST(g.ntot - s.atot AS DOUBLE) * CAST(k.t AS DOUBLE)
      |            / CAST(g.ntot AS DOUBLE)))
      |      END), 6) AS g2
      |  FROM tf f
      |  JOIN tok k ON k.token = f.token
      |  JOIN src s ON s.source = f.source
      |  CROSS JOIN grand g
      |  WHERE f.a * g.ntot > s.atot * k.t
      |), ranked AS (
      |  SELECT source, token, a, b, g2,
      |    ROW_NUMBER() OVER (PARTITION BY source
      |      ORDER BY g2 DESC, token) AS rank
      |  FROM scored
      |)
      |SELECT source, CAST(rank AS INT) AS rank, token,
      |  a AS n_in, b AS n_rest, g2
      |FROM ranked WHERE rank <= $topK
      |ORDER BY source, rank""".stripMargin

  /** q500 — reliability diagram + expected calibration error (ECE)
    * of the q349 naive-Bayes classifier on the holdout fifth: softmax
    * the per-class log-scores into a top-class confidence, bin by
    * confidence decile, and compare each bin's MEAN CONFIDENCE to its
    * OBSERVED ACCURACY — ECE = Σ_b (n_b/N)·|acc_b − conf_b|. q302's
    * Brier score prices calibration and refinement together; this is
    * the diagram that says WHERE the model is over/under-confident —
    * the number that decides whether q495's cost thresholds and
    * q465's uncertainty-sampling margins can be read as probabilities
    * at all.
    *
    * Exactness: confidence = 1/Σ_c 10^(s_c − s_max) — the score
    * differences are exact DECIMAL subtractions shared with q349, the
    * 10^d terms round to 6dp and sum as DECIMAL (d = 0 contributes
    * exactly 1, hugely-negative d underflows to exactly 0 on both
    * engines), and the single division is IEEE-identical. Bin =
    * min(⌊conf·10⌋, 9). Per-bin means are rounded-term decimal sums;
    * ECE weights each bin's raw gap by n_b as a 6dp decimal term, so
    * the ≤10-term sum is order-independent. ECE repeats per row (the
    * relation is the diagram; the scalar rides along).
    *
    * Scale: rides q349's bounded shapes (vocab-keyed model join); the
    * calibration pass is two windows over |holdout|×|langs| rows and
    * a ≤10-group aggregate.
    */
  def nbCalibrationEce(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dec = org.apache.spark.sql.types.DecimalType(28, 6)
    val scores = nbScores(spark, dir,
      col("doc_id") % 5 =!= 0, col("doc_id") % 5 === 0)
    val wDoc = Window.partitionBy(col("doc_id"))
    val sc = scores
      .withColumn("smax", max(col("score")).over(wDoc))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("c"))))
      .withColumn("term",
        round(pow(lit(10.0), (col("score") - col("smax")).cast("double")), 6)
          .cast("decimal(18,6)"))
    val docs = sc.groupBy(col("doc_id"))
      .agg(max(when(col("rk") === 1, col("c"))).as("pred"),
        max(col("true_lang")).as("true_lang"),
        sum(col("term")).cast("double").as("z"))
      .withColumn("conf", lit(1.0) / col("z"))
      .withColumn("bin", least(floor(col("conf") * 10), lit(9.0)).cast("int"))
      .withColumn("ok", (col("pred") === col("true_lang")).cast("long"))
    val bins = docs.groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("ok")).as("n_ok"),
        sum(round(col("conf"), 6).cast(dec)).cast("double").as("sconf"))
      .withColumn("acc_raw",
        col("n_ok").cast("double") / col("n_docs").cast("double"))
      .withColumn("conf_raw", col("sconf") / col("n_docs").cast("double"))
      .withColumn("gap_raw", abs(col("acc_raw") - col("conf_raw")))
    val tot = bins.agg(sum(col("n_docs")).as("n_tot"),
      sum(round(col("gap_raw") * col("n_docs").cast("double"), 6).cast(dec))
        .cast("double").as("wgap"))
    bins.crossJoin(broadcast(tot))
      .select(col("bin"), col("n_docs"),
        round(col("acc_raw"), 6).as("accuracy"),
        round(col("conf_raw"), 6).as("avg_conf"),
        round(col("gap_raw"), 6).as("gap"),
        round(col("wgap") / col("n_tot").cast("double"), 6).as("ece"))
      .orderBy(col("bin"))
  }

  val nbCalibrationEceSql: String =
    s"""WITH ${nbHoldoutModelCtes(withCnt = true)}, $nbTestScoresCtes, sc AS (
      |  SELECT doc_id, true_lang, c, score,
      |    MAX(score) OVER (PARTITION BY doc_id) AS smax,
      |    row_number() OVER (PARTITION BY doc_id
      |      ORDER BY score DESC, c) AS rk
      |  FROM scores
      |), docs AS (
      |  SELECT doc_id,
      |    MAX(CASE WHEN rk = 1 THEN c END) AS pred,
      |    MAX(true_lang) AS true_lang,
      |    CAST(SUM(CAST(ROUND(POWER(10, CAST(score - smax AS DOUBLE)), 6)
      |      AS DECIMAL(18,6))) AS DOUBLE) AS z
      |  FROM sc GROUP BY 1
      |), conf AS (
      |  SELECT doc_id, pred, true_lang, 1.0 / z AS conf,
      |    CAST(LEAST(FLOOR((1.0 / z) * 10), 9.0) AS INT) AS bin,
      |    CASE WHEN pred = true_lang THEN 1 ELSE 0 END AS ok
      |  FROM docs
      |), bins AS (
      |  SELECT bin, COUNT(*) AS n_docs, CAST(SUM(ok) AS BIGINT) AS n_ok,
      |    CAST(SUM(CAST(ROUND(conf, 6) AS DECIMAL(28,6))) AS DOUBLE) AS sconf
      |  FROM conf GROUP BY 1
      |), raw AS (
      |  SELECT bin, n_docs,
      |    CAST(n_ok AS DOUBLE) / CAST(n_docs AS DOUBLE) AS acc_raw,
      |    sconf / CAST(n_docs AS DOUBLE) AS conf_raw,
      |    ABS(CAST(n_ok AS DOUBLE) / CAST(n_docs AS DOUBLE)
      |      - sconf / CAST(n_docs AS DOUBLE)) AS gap_raw
      |  FROM bins
      |), tot AS (
      |  SELECT CAST(SUM(n_docs) AS BIGINT) AS n_tot,
      |    CAST(SUM(CAST(ROUND(gap_raw * CAST(n_docs AS DOUBLE), 6)
      |      AS DECIMAL(28,6))) AS DOUBLE) AS wgap
      |  FROM raw
      |)
      |SELECT r.bin, r.n_docs,
      |  ROUND(r.acc_raw, 6) AS accuracy,
      |  ROUND(r.conf_raw, 6) AS avg_conf,
      |  ROUND(r.gap_raw, 6) AS gap,
      |  ROUND(t.wgap / CAST(t.n_tot AS DOUBLE), 6) AS ece
      |FROM raw r CROSS JOIN tot t
      |ORDER BY r.bin""".stripMargin

  /** q542 — MATTR (moving-average type-token ratio, window 50) on a
    * constant-budget document sample: the length-INVARIANT lexical-
    * diversity readout. Plain TTR (reported alongside) falls with
    * document length by construction — Heaps' law, q321 — so ranking
    * mixed-length corpora by TTR ranks them by length; MATTR slides a
    * fixed 50-token window and averages per-window TTR, so a 100-token
    * note and a 10k-token article are scored on the same footing. The
    * diversity dial quality-filter recipes threshold on.
    *
    * Exactness: per-window distinct counts are exact integers; their
    * sum is exact; MATTR does ONE double division (sum / (50·wins)),
    * 6dp-rounded; both engines slide the identical tokenizer's array.
    * Docs under 50 tokens surface NULL (stated in the oracle).
    *
    * Scale: the O(n_tokens·50) window work runs INSIDE one projected
    * row per doc (transform over the token array — no explode, no
    * shuffle); the 128-doc portable-md5 sample is the q366-family
    * constant-budget pick, stated verbatim in the oracle. The full-
    * corpus variant is the same projection without the sample join —
    * embarrassingly parallel.
    */
  def mattrProfile(spark: SparkSession, dir: String,
                   sampleN: Int = 128, win: Int = 50): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val sample = docs.select(col("doc_id"))
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      .limit(sampleN)
    docs.join(broadcast(sample), "doc_id")
      .withColumn("toks", tokens(col("text")))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .withColumn("n_types",
        size(array_distinct(col("toks"))).cast("long"))
      .withColumn("win_sum", when(col("n_tokens") >= win, expr(
        s"""aggregate(
           |  transform(sequence(1, int(n_tokens) - ${win - 1}),
           |    i -> size(array_distinct(slice(toks, i, $win)))),
           |  0L, (s, x) -> s + x)""".stripMargin)))
      .select(col("doc_id"), col("n_tokens"),
        round(col("n_types").cast("double")
          / nullif(col("n_tokens").cast("double"), lit(0.0)), 6).as("ttr"),
        round(col("win_sum").cast("double")
          / (lit(win.toDouble) *
            (col("n_tokens") - lit(win - 1)).cast("double")), 6)
          .as(s"mattr_$win"))
      .orderBy(col("doc_id"))
  }

  def mattrProfileSql(sampleN: Int = 128, win: Int = 50): String =
    s"""WITH sample AS (
       |  SELECT doc_id FROM documents
       |  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id LIMIT $sampleN
       |), base AS (
       |  SELECT d.doc_id,
       |    list_filter(string_split_regex(lower(trim(d.text)), '\\s+'),
       |      t -> t <> '') AS toks
       |  FROM documents d JOIN sample USING (doc_id)
       |), sized AS (
       |  SELECT doc_id, toks,
       |    CAST(len(toks) AS BIGINT) AS n_tokens,
       |    CAST(len(list_distinct(toks)) AS BIGINT) AS n_types
       |  FROM base
       |), winsum AS (
       |  SELECT doc_id, n_tokens, n_types,
       |    CASE WHEN n_tokens >= $win THEN
       |      list_sum(list_transform(range(1, CAST(n_tokens AS INT) - ${win - 2}),
       |        i -> len(list_distinct(toks[i:i + ${win - 1}]))))
       |    END AS win_sum
       |  FROM sized
       |)
       |SELECT doc_id, n_tokens,
       |  ROUND(CAST(n_types AS DOUBLE)
       |    / NULLIF(CAST(n_tokens AS DOUBLE), 0.0), 6) AS ttr,
       |  ROUND(CAST(win_sum AS DOUBLE)
       |    / ($win.0 * CAST(n_tokens - ${win - 1} AS DOUBLE)), 6)
       |    AS mattr_$win
       |FROM winsum
       |ORDER BY doc_id""".stripMargin
}
