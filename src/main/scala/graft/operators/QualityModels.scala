package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}
import graft.Tables._

/** Learned data-selection models — the two published recipes a pre-training
  * pipeline runs between heuristic cleaning and mixture sampling:
  *
  *  - q108: a CCNet/fastText-style Naive-Bayes quality classifier. Train
  *    token log-likelihood ratios between a reference ("high quality")
  *    corpus slice and the rest, score every document by its
  *    length-normalized log-odds, keep score > 0. (CCNet trains a fastText
  *    classifier on Wikipedia-vs-crawl; the linear NB form is its
  *    closed-form, engine-portable equivalent — same features, same
  *    decision rule, no SGD state.)
  *  - q109: DSIR importance resampling (Xie et al., "Data Selection for
  *    Language Models via Importance Resampling", NeurIPS 2023): hashed
  *    bigram features, importance log-weight log p_target(x) − log p_raw(x)
  *    under bag-of-buckets unigram models, Gumbel-top-k selection without
  *    replacement. The feature space is a FIXED 4096-bucket hash table, so
  *    the learned model is O(buckets) regardless of corpus vocabulary.
  *
  * Scale shapes (the reason these two earn separate operators):
  *  - q108's model is vocabulary-sized; training collapses map-side to one
  *    row per (token, class-counts) and scoring joins per-doc token counts
  *    against the model on the high-cardinality token key (AQE-skew-safe,
  *    the q62/q63 shape). Nothing downstream of the first partial
  *    aggregation is corpus-sized.
  *  - q109's model is 4096 rows — it BROADCASTS. Scoring is a broadcast
  *    hash join on the scan side plus ONE doc-keyed shuffle with map-side
  *    combine; selection is a distributed top-k (TakeOrderedAndProject —
  *    no global sort shuffle). At 100 TB this is the cheapest learned
  *    filter the engine has: scan + broadcast probe + one agg.
  *
  * Determinism: the shared q62/q63/q101 policy — per-term doubles rounded
  * to 6dp, order-free exact DECIMAL summation, content-addressed md5
  * uniforms (q40/q106 policy) instead of RNG state, ties broken on ids.
  * Both queries are replayed hash-exact by the DuckDB oracles.
  */
object QualityModels {

  type Q = (SparkSession, String) => DataFrame

  /** The reference-corpus slice the classifier treats as "high quality".
    * Source-keyed (CCNet's Wikipedia-vs-crawl split keyed by provenance);
    * any deterministic predicate over the scan works.
    */
  val ReferenceSources: Seq[String] = Seq("src0", "src1")

  /** q108: Naive-Bayes quality classifier, trained and applied in one plan.
    *
    * Model: per-token add-one-smoothed log-likelihood ratio
    *   llr(w) = ln((c_t(w)+1)/(N_t+V)) − ln((c_r(w)+1)/(N_r+V))
    * with V = corpus vocabulary size (shared smoothing denominator, finite
    * for every token either class has seen). Document score = per-token
    * llr weighted by in-doc counts, normalized by document length; keep
    * decision = score > 0 (the doc looks more like the reference corpus
    * than the rest). Output: per-source document counts, keep counts, and
    * mean score — the per-source keep-rate audit a mixture builder consumes.
    *
    * Whitespace-only documents do NOT drop out: split(trim(''), '\s+')
    * yields a single empty-string token in both Spark and DuckDB, so such
    * docs are scored (identically on both engines — no oracle hazard) and
    * the empty token participates in the shared vocabulary. Kept as-is
    * deliberately: both engines agree, and a guard would have to be
    * mirrored in every consuming oracle for zero semantic gain.
    */
  /** Per-document NB scores: (doc_id, source, score) — q108's classifier
    * factored out so composed pipelines (q118) can gate on the score. The
    * model is trained on whatever pool `docs` is — composition order
    * changes the model, deliberately. */
  def nbDocScores(docs: DataFrame): DataFrame = {
    val isT = col("source").isin(ReferenceSources: _*)
    val tok = docs
      .select(col("doc_id"), col("source"),
        explode(TextOps.tokens(col("text"))).as("token"))
    // cdw feeds the vocabulary aggregate AND the scoring join; cw feeds
    // the totals row AND the llr projection — materialize each once so
    // the tokenize/explode/count subtree runs a single pass (the
    // q118/q151 stage-sharing rule; Spark shares no subtrees).
    // Scale-gated: the barriers measured slower than the extra passes at
    // sf0.1 (round-16 driver: q108 0.86) — lazy below the gate,
    // checkpointed at corpus scale where the tokenize pass dominates
    val cdw = StageMaterialize.whenLarge(tok.groupBy("doc_id", "source", "token")
      .agg(count(lit(1)).as("c_dw")), "nb_cdw")
    val cw = StageMaterialize.whenLarge(cdw.groupBy("token").agg(
      sum(when(isT, col("c_dw")).otherwise(lit(0L))).as("c_t"),
      sum(when(isT, lit(0L)).otherwise(col("c_dw"))).as("c_r")), "nb_cw")
    val tot = cw.agg(
      sum(col("c_t")).as("n_t"), sum(col("c_r")).as("n_r"),
      count(lit(1)).as("v"))
    val llr = cw.crossJoin(broadcast(tot)).select(col("token"),
      round(
        log((col("c_t") + 1) / (col("n_t") + col("v")).cast(DoubleType)) -
          log((col("c_r") + 1) / (col("n_r") + col("v")).cast(DoubleType)),
        6).as("llr"))
    cdw.join(llr, Seq("token"))
      .groupBy("doc_id", "source")
      .agg(sum(col("c_dw")).as("n_d"),
        sum(col("llr").cast(DecimalType(18, 6)) *
          col("c_dw").cast(DecimalType(18, 0))).as("raw"))
      .select(col("doc_id"), col("source"),
        round(col("raw").cast(DoubleType) / col("n_d"), 6).as("score"))
  }

  /** The trained NB model ALONE: (token, llr) — [[nbDocScores]]'s llr
    * chain factored out so the model can be persisted at rest
    * ([[ModelStore]]) and scored against later corpora / streams without
    * retraining. Values are identical to the inline chain (same
    * aggregations, same 6dp rounding). */
  def nbModel(docs: DataFrame): DataFrame =
    nbModelFromCounts(nbTokenCounts(docs))

  /** (doc_id, source, token, c_dw) per-document token counts — the
    * tokenize/explode/count subtree both NB training and at-rest scoring
    * consume, factored so multi-model audits (q151 trains and scores TWO
    * models) compute it ONCE (materialize with [[StageMaterialize]]). */
  def nbTokenCounts(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("source"),
        explode(TextOps.tokens(col("text"))).as("token"))
      .groupBy("doc_id", "source", "token")
      .agg(count(lit(1)).as("c_dw"))

  /** [[nbModel]] from a precomputed [[nbTokenCounts]] table — identical
    * values, the counts just arrive pre-grouped. */
  def nbModelFromCounts(cdw: DataFrame): DataFrame = {
    val isT = col("source").isin(ReferenceSources: _*)
    // consumed twice below (totals row + llr projection) — materialize so
    // the vocabulary aggregation over the counts runs once (scale-gated:
    // vocab-sized at sf0.1, where the barrier loses — round-16 driver
    // q151 0.86)
    val cw = StageMaterialize.whenLarge(cdw.groupBy("token").agg(
      sum(when(isT, col("c_dw")).otherwise(lit(0L))).as("c_t"),
      sum(when(isT, lit(0L)).otherwise(col("c_dw"))).as("c_r")), "nb_model_cw")
    val tot = cw.agg(
      sum(col("c_t")).as("n_t"), sum(col("c_r")).as("n_r"),
      count(lit(1)).as("v"))
    cw.crossJoin(broadcast(tot)).select(col("token"),
      round(
        log((col("c_t") + 1) / (col("n_t") + col("v")).cast(DoubleType)) -
          log((col("c_r") + 1) / (col("n_r") + col("v")).cast(DoubleType)),
        6).as("llr"))
  }

  /** Per-document NB scores under an EXTERNALLY trained model — the
    * at-rest scoring path. Tokens the model never saw contribute ZERO
    * (left join + coalesce — the [[dsirLogWeights]] rule: a document
    * scored under an older model must still be a candidate); on the
    * model's own training corpus every token hits, so the scores are
    * bit-identical to [[nbDocScores]] (ModelStoreSpec pins it). */
  def nbScoresWithModel(docs: DataFrame, model: DataFrame): DataFrame =
    nbScoresFromCounts(nbTokenCounts(docs), model)

  /** [[nbScoresWithModel]] from a precomputed [[nbTokenCounts]] table —
    * identical values. */
  def nbScoresFromCounts(cdw: DataFrame, model: DataFrame): DataFrame =
    cdw
      .join(model, Seq("token"), "left")
      .groupBy("doc_id", "source")
      .agg(sum(col("c_dw")).as("n_d"),
        sum(coalesce(col("llr"), lit(0.0)).cast(DecimalType(18, 6)) *
          col("c_dw").cast(DecimalType(18, 0))).as("raw"))
      .select(col("doc_id"), col("source"),
        round(col("raw").cast(DoubleType) / col("n_d"), 6).as("score"))

  /** q151: model score-drift audit — the SCORE-level refresh diagnostic
    * for the at-rest curation models ([[ModelStore]]'s refreshReasons
    * triggers on corpus COUNTS; this measures what a retrain would
    * actually do to the decisions). A content-addressed half of the
    * corpus (md5₃₂("m:"+doc_id) % 2 — the q40 split idiom) plays the
    * frozen v1 training set; v2 is the full-corpus retrain; every
    * document is scored under BOTH models via the at-rest scoring rule
    * (left join, unseen tokens contribute zero) and the audit reports
    * per source the mean score under each, the mean absolute shift, and
    * — the number a deployment actually gates on — how many keep
    * decisions (score > 0) FLIP. Mean shifts near zero with zero flips
    * say the frozen model is still serving the corpus; a source with
    * concentrated flips says its text moved under the model.
    *
    * Shape: two vocab-sized model aggregations over the same token
    * counts (computed once), one scoring join per model, a |sources|-row
    * aggregate. Numerics: scores are the 6dp at-rest rule on both
    * engines; shifts are differences of identical doubles re-rounded at
    * 6dp; means via DECIMAL(38,6) sums — hash-exact. Soaked 100k→400k
    * docs at 1.89×/1.61× per doubling (SOAK.md round 15) — sub-linear
    * past the point the corpus vocabulary saturates the model table. */
  val q151ModelDrift: Q = (s, d) => {
    val docs = documents(s, d)
    val isTrain = conv(substring(
      md5(concat(lit("m:"), col("doc_id").cast("string"))), 1, 8), 16, 10)
      .cast("long") % 2 === 0
    // one tokenize/count pass feeds both trainings and both scorings
    // (the q118/q152/q153 stage-sharing rule). Scale-gated: at sf0.1 the
    // barrier chain measured slower than re-tokenizing (round-16 driver:
    // q151 0.86) — lazy below the gate, checkpointed at corpus scale
    val cdw = StageMaterialize.whenLarge(nbTokenCounts(docs), "q151_cdw")
    val v1 = nbModelFromCounts(cdw.filter(isTrain))
    val v2 = nbModelFromCounts(cdw)
    val s1 = nbScoresFromCounts(cdw, v1)
      .select(col("doc_id"), col("source"), col("score").as("s1"))
    val s2 = nbScoresFromCounts(cdw, v2)
      .select(col("doc_id"), col("score").as("s2"))
    s1.join(s2, Seq("doc_id"))
      .groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        round(sum(col("s1").cast(DecimalType(38, 6))).cast(DoubleType) /
          count(lit(1)), 6).as("mean_v1"),
        round(sum(col("s2").cast(DecimalType(38, 6))).cast(DoubleType) /
          count(lit(1)), 6).as("mean_v2"),
        round(sum(round(abs(col("s1") - col("s2")), 6)
          .cast(DecimalType(38, 6))).cast(DoubleType) / count(lit(1)), 6)
          .as("mean_abs_shift"),
        sum(when((col("s1") > 0) =!= (col("s2") > 0), 1L).otherwise(0L))
          .as("n_keep_flips"))
      .orderBy("source")
  }

  /** q152: DSIR score-drift audit — q151's shape applied to the second
    * stored model ([[ModelStore]] "dsir"). The same content-addressed
    * half (md5₃₂("m:"+doc_id) % 2, so the frozen halves ALIGN across the
    * model family's audits) plays the frozen v1 training set; v2 is the
    * full-corpus retrain; every document is scored under both via the
    * at-rest rule ([[dsirLogWeights]]: unseen buckets contribute zero)
    * and the audit reports per source the mean log-weight under each,
    * the mean absolute shift, and the decision a deployment gates on —
    * how many ADMISSION verdicts flip. The admission rule is DSIR
    * importance admission at logZ = 0: admit iff u < min(1, exp(lw))
    * with the content-addressed uniform
    * u = dsirUniform(doc_id) — u is IDENTICAL under both models, so a
    * flip happens precisely when the retrain moves lw across the
    * document's own admission threshold.
    *
    * Shape: the hashed-bigram feature table is computed ONCE
    * ([[dsirFeatureCounts]]); each model is a ≤4096-row aggregate over it
    * (v1 over the frozen half's rows); scoring is two broadcast joins;
    * the audit is a |sources|-row aggregate. Documents without bigram
    * features drop out of both engines identically (the q109 rule).
    * Numerics: 6dp llrs, DECIMAL sums, exp at 6dp — hash-exact. Soaked
    * 100k→400k docs at 2.02×/1.36× per doubling (SOAK.md round 15). */
  val q152DsirDrift: Q = (s, d) => {
    val docs = documents(s, d)
    val isTrain = conv(substring(
      md5(concat(lit("m:"), col("doc_id").cast("string"))), 1, 8), 16, 10)
      .cast("long") % 2 === 0
    // deliberately NOT scale-gated (measured r17: alternated same-window
    // arms put lazy at 3.38/3.59 s vs materialized 2.66/3.03 s at sf0.1 —
    // the hashed-bigram feature pass is CPU-bound and consumed 4×, so the
    // recompute dwarfs the barrier even at small inputs)
    val fc = StageMaterialize(dsirFeatureCounts(docs), "q152_fc")
    val v1 = dsirModelFromCounts(fc.filter(isTrain))
    val v2 = dsirModelFromCounts(fc)
    def admit(lw: org.apache.spark.sql.Column) =
      dsirUniform(col("doc_id")) < round(least(lit(1.0), exp(lw)), 6)
    val s1 = dsirLogWeightsFromCounts(fc, v1)
      .select(col("doc_id"), col("source"), col("log_weight").as("lw1"))
    val s2 = dsirLogWeightsFromCounts(fc, v2)
      .select(col("doc_id"), col("log_weight").as("lw2"))
    s1.join(s2, Seq("doc_id"))
      .groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        round(sum(col("lw1").cast(DecimalType(38, 6))).cast(DoubleType) /
          count(lit(1)), 6).as("mean_lw_v1"),
        round(sum(col("lw2").cast(DecimalType(38, 6))).cast(DoubleType) /
          count(lit(1)), 6).as("mean_lw_v2"),
        round(sum(round(abs(col("lw1") - col("lw2")), 6)
          .cast(DecimalType(38, 6))).cast(DoubleType) / count(lit(1)), 6)
          .as("mean_abs_shift"),
        sum(when(admit(col("lw1")) =!= admit(col("lw2")), 1L).otherwise(0L))
          .as("n_admit_flips"))
      .orderBy("source")
  }

  /** Prefixed (b → llr) DSIR model CTE over a feature-count CTE
    * `fcCte(doc_id, source, b, c)` — the q152 oracle needs two. */
  private def dsirLlrCte(fcCte: String, pfx: String): String =
    s"""${pfx}cb AS (SELECT b,
       |         CAST(SUM(CASE WHEN source IN (${refsSqlList}) THEN c
       |                       ELSE 0 END) AS BIGINT) AS c_t,
       |         CAST(SUM(c) AS BIGINT) AS c_all
       |       FROM $fcCte GROUP BY b),
       |${pfx}tot AS (SELECT CAST(SUM(c_t) AS BIGINT) AS n_t,
       |               CAST(SUM(c_all) AS BIGINT) AS n_all FROM ${pfx}cb),
       |${pfx}llr AS (SELECT b,
       |          ROUND(LN((c_t + 1) / CAST(n_t + ${DsirBuckets} AS DOUBLE))
       |              - LN((c_all + 1) / CAST(n_all + ${DsirBuckets} AS DOUBLE)),
       |                6) AS llr
       |        FROM ${pfx}cb CROSS JOIN ${pfx}tot)"""

  // lazy: this interpolates DsirBuckets, declared LATER in the object —
  // an eager val here would capture its pre-init default (0) and emit
  // `% 0` (NULL buckets) into the oracle
  lazy val q152Sql: String =
    s"""WITH ds_l AS (SELECT doc_id, source,
       |           string_split_regex(TRIM(text), '\\s+') AS l
       |         FROM documents),
       |ds_bg AS (SELECT doc_id, source,
       |            unnest(list_transform(range(1, len(l)),
       |                                  i -> l[i] || ' ' || l[i + 1])) AS gram
       |          FROM ds_l WHERE len(l) >= 2),
       |fc AS (SELECT doc_id, source,
       |         CAST(concat('0x', substr(md5(gram), 1, 8)) AS BIGINT)
       |           % ${DsirBuckets} AS b,
       |         COUNT(*) AS c
       |       FROM ds_bg GROUP BY 1, 2, 3),
       |fc1 AS (SELECT * FROM fc
       |  WHERE CAST(concat('0x', substr(md5('m:' || CAST(doc_id AS VARCHAR)), 1, 8))
       |        AS BIGINT) % 2 = 0),
       |${dsirLlrCte("fc1", "v1_")},
       |${dsirLlrCte("fc", "v2_")},
       |s1 AS (SELECT doc_id, source,
       |    ROUND(CAST(SUM(CAST(COALESCE(l.llr, 0.0) AS DECIMAL(18,6))
       |                   * CAST(c AS DECIMAL(18,0))) AS DOUBLE), 6) AS lw1
       |  FROM fc LEFT JOIN v1_llr l USING (b) GROUP BY 1, 2),
       |s2 AS (SELECT doc_id,
       |    ROUND(CAST(SUM(CAST(COALESCE(l.llr, 0.0) AS DECIMAL(18,6))
       |                   * CAST(c AS DECIMAL(18,0))) AS DOUBLE), 6) AS lw2
       |  FROM fc LEFT JOIN v2_llr l USING (b) GROUP BY 1),
       |keyed AS (SELECT s1.doc_id, source, lw1, lw2,
       |    (CAST(CAST(concat('0x',
       |        substr(md5('dsir:' || CAST(s1.doc_id AS VARCHAR)), 1, 8))
       |        AS BIGINT) AS DOUBLE) + 0.5) / 4294967296.0 AS u
       |  FROM s1 JOIN s2 USING (doc_id))
       |SELECT source, COUNT(*) AS n_docs,
       |  ROUND(CAST(SUM(CAST(lw1 AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*), 6)
       |    AS mean_lw_v1,
       |  ROUND(CAST(SUM(CAST(lw2 AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*), 6)
       |    AS mean_lw_v2,
       |  ROUND(CAST(SUM(CAST(ROUND(ABS(lw1 - lw2), 6) AS DECIMAL(38,6))) AS DOUBLE)
       |        / COUNT(*), 6) AS mean_abs_shift,
       |  CAST(SUM(CASE WHEN (u < ROUND(LEAST(1.0, EXP(lw1)), 6))
       |                  <> (u < ROUND(LEAST(1.0, EXP(lw2)), 6))
       |                THEN 1 ELSE 0 END) AS BIGINT) AS n_admit_flips
       |FROM keyed GROUP BY source ORDER BY source""".stripMargin

  /** Prefixed (token → llr) model CTE over an arbitrary training CTE —
    * the q151 oracle needs TWO models in one query. */
  private def nbLlrCte(trainCte: String, pfx: String): String =
    s"""${pfx}cdw AS (
       |  SELECT doc_id, source, token, COUNT(*) AS c_dw FROM (
       |    SELECT doc_id, source,
       |           unnest(string_split_regex(TRIM(text), '\\s+')) AS token
       |    FROM $trainCte) t GROUP BY 1, 2, 3),
       |${pfx}cw AS (SELECT token,
       |         CAST(SUM(CASE WHEN source IN (${refsSqlList}) THEN c_dw
       |                       ELSE 0 END) AS BIGINT) AS c_t,
       |         CAST(SUM(CASE WHEN source IN (${refsSqlList}) THEN 0
       |                       ELSE c_dw END) AS BIGINT) AS c_r
       |       FROM ${pfx}cdw GROUP BY token),
       |${pfx}tot AS (SELECT CAST(SUM(c_t) AS BIGINT) AS n_t,
       |               CAST(SUM(c_r) AS BIGINT) AS n_r,
       |               COUNT(*) AS v FROM ${pfx}cw),
       |${pfx}llr AS (SELECT token,
       |          ROUND(LN((c_t + 1) / CAST(n_t + v AS DOUBLE))
       |              - LN((c_r + 1) / CAST(n_r + v AS DOUBLE)), 6) AS llr
       |        FROM ${pfx}cw CROSS JOIN ${pfx}tot)"""

  val q151Sql: String =
    s"""WITH train AS (
       |  SELECT doc_id, source, text FROM documents
       |  WHERE CAST(concat('0x', substr(md5('m:' || CAST(doc_id AS VARCHAR)), 1, 8))
       |        AS BIGINT) % 2 = 0),
       |${nbLlrCte("train", "v1_")},
       |${nbLlrCte("documents", "v2_")},
       |sc_cdw AS (
       |  SELECT doc_id, source, token, COUNT(*) AS c_dw FROM (
       |    SELECT doc_id, source,
       |           unnest(string_split_regex(TRIM(text), '\\s+')) AS token
       |    FROM documents) t GROUP BY 1, 2, 3),
       |s1 AS (
       |  SELECT doc_id, source,
       |    ROUND(CAST(SUM(CAST(COALESCE(l.llr, 0.0) AS DECIMAL(18,6))
       |                   * CAST(c_dw AS DECIMAL(18,0))) AS DOUBLE)
       |          / CAST(SUM(c_dw) AS BIGINT), 6) AS s1
       |  FROM sc_cdw LEFT JOIN v1_llr l USING (token) GROUP BY 1, 2),
       |s2 AS (
       |  SELECT doc_id,
       |    ROUND(CAST(SUM(CAST(COALESCE(l.llr, 0.0) AS DECIMAL(18,6))
       |                   * CAST(c_dw AS DECIMAL(18,0))) AS DOUBLE)
       |          / CAST(SUM(c_dw) AS BIGINT), 6) AS s2
       |  FROM sc_cdw LEFT JOIN v2_llr l USING (token) GROUP BY 1)
       |SELECT s1.source, COUNT(*) AS n_docs,
       |  ROUND(CAST(SUM(CAST(s1 AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*), 6)
       |    AS mean_v1,
       |  ROUND(CAST(SUM(CAST(s2 AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*), 6)
       |    AS mean_v2,
       |  ROUND(CAST(SUM(CAST(ROUND(ABS(s1 - s2), 6) AS DECIMAL(38,6))) AS DOUBLE)
       |        / COUNT(*), 6) AS mean_abs_shift,
       |  CAST(SUM(CASE WHEN (s1 > 0) <> (s2 > 0) THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_keep_flips
       |FROM s1 JOIN s2 USING (doc_id)
       |GROUP BY s1.source ORDER BY source""".stripMargin

  val q108NbQuality: Q = (s, d) => {
    nbDocScores(documents(s, d)).groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      sum(when(col("score") > 0, lit(1L)).otherwise(lit(0L))).as("n_keep"),
      round(sum(col("score").cast(DecimalType(38, 6))).cast(DoubleType) /
        count(lit(1)), 6).as("mean_score"))
      .orderBy("source")
  }

  /** DuckDB CTE chain ending in `scored(doc_id, source, score)` — the
    * oracle twin of [[nbDocScores]] trained on `docsCte(doc_id, source,
    * text)`. Shared by q108's oracle and the composed q118 oracle. */
  def nbScoredCte(docsCte: String): String =
    s"""nb_tok AS (
       |  SELECT doc_id, source,
       |         unnest(string_split_regex(TRIM(text), '\\s+')) AS token
       |  FROM $docsCte),
       |cdw AS (SELECT doc_id, source, token, COUNT(*) AS c_dw
       |        FROM nb_tok GROUP BY 1, 2, 3),
       |cw AS (SELECT token,
       |         CAST(SUM(CASE WHEN source IN (${refsSqlList}) THEN c_dw
       |                       ELSE 0 END) AS BIGINT) AS c_t,
       |         CAST(SUM(CASE WHEN source IN (${refsSqlList}) THEN 0
       |                       ELSE c_dw END) AS BIGINT) AS c_r
       |       FROM cdw GROUP BY token),
       |tot AS (SELECT CAST(SUM(c_t) AS BIGINT) AS n_t,
       |               CAST(SUM(c_r) AS BIGINT) AS n_r,
       |               COUNT(*) AS v FROM cw),
       |llr AS (SELECT token,
       |          ROUND(LN((c_t + 1) / CAST(n_t + v AS DOUBLE))
       |              - LN((c_r + 1) / CAST(n_r + v AS DOUBLE)), 6) AS llr
       |        FROM cw CROSS JOIN tot),
       |scored AS (
       |  SELECT doc_id, source,
       |    ROUND(CAST(SUM(CAST(llr AS DECIMAL(18,6))
       |                   * CAST(c_dw AS DECIMAL(18,0))) AS DOUBLE)
       |          / CAST(SUM(c_dw) AS BIGINT), 6) AS score
       |  FROM cdw JOIN llr USING (token) GROUP BY 1, 2)""".stripMargin

  /** DuckDB CTE chain ending in `lw(doc_id, source, log_weight)` — the
    * oracle twin of [[dsirModel]]+[[dsirLogWeights]] trained and applied
    * on `docsCte(doc_id, source, text)`. Shared by q109 and q118. */
  def dsirLwCte(docsCte: String): String =
    s"""ds_l AS (SELECT doc_id, source,
       |           string_split_regex(TRIM(text), '\\s+') AS l
       |         FROM $docsCte),
       |ds_bg AS (SELECT doc_id, source,
       |            unnest(list_transform(range(1, len(l)),
       |                                  i -> l[i] || ' ' || l[i + 1])) AS gram
       |          FROM ds_l WHERE len(l) >= 2),
       |ds_db AS (SELECT doc_id, source,
       |            CAST(concat('0x', substr(md5(gram), 1, 8)) AS BIGINT)
       |              % ${DsirBuckets} AS b
       |          FROM ds_bg),
       |ds_cb AS (SELECT b,
       |            CAST(SUM(CASE WHEN source IN (${refsSqlList}) THEN 1
       |                          ELSE 0 END) AS BIGINT) AS c_t,
       |            COUNT(*) AS c_all
       |          FROM ds_db GROUP BY b),
       |ds_tot AS (SELECT CAST(SUM(c_t) AS BIGINT) AS n_t,
       |                  CAST(SUM(c_all) AS BIGINT) AS n_all FROM ds_cb),
       |ds_llr AS (SELECT b,
       |             ROUND(LN((c_t + 1) / CAST(n_t + ${DsirBuckets} AS DOUBLE))
       |                 - LN((c_all + 1) / CAST(n_all + ${DsirBuckets} AS DOUBLE)),
       |                   6) AS llr
       |           FROM ds_cb CROSS JOIN ds_tot),
       |lw AS (SELECT doc_id, source,
       |         ROUND(CAST(SUM(CAST(COALESCE(ds_llr.llr, 0.0) AS DECIMAL(38,6)))
       |                    AS DOUBLE), 6) AS log_weight
       |       FROM ds_db LEFT JOIN ds_llr USING (b) GROUP BY 1, 2)""".stripMargin

  val q108Sql: String =
    s"""WITH docs_all AS (SELECT doc_id, source, text FROM documents),
       |${nbScoredCte("docs_all")}
       |SELECT source, COUNT(*) AS n_docs,
       |  CAST(SUM(CASE WHEN score > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
       |  ROUND(CAST(SUM(CAST(score AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*), 6)
       |    AS mean_score
       |FROM scored GROUP BY source ORDER BY source""".stripMargin

  private def refsSqlList: String =
    ReferenceSources.map(TextOps.sqlLit).mkString(", ")

  /** Fixed DSIR feature-space size. 4096 buckets keeps the model
    * broadcast-trivial (one int + two counts per bucket) while the hashed
    * bigram features still separate sources; production DSIR uses 10⁴–10⁵
    * buckets — the plan shape is identical at any fixed B.
    */
  val DsirBuckets: Int = 4096

  /** q109: DSIR importance resampling. Features are bigrams hashed into
    * [[DsirBuckets]] buckets via the content-addressed md5 scheme (q40/q106
    * policy — reproducible on any engine, stable under corpus growth).
    * Importance log-weight of a document is
    *   Σ_b c_db · [ln p_target(b) − ln p_raw(b)]
    * under add-one-smoothed bag-of-buckets models (target = the
    * [[ReferenceSources]] slice, raw = the whole pool). Selection is
    * Gumbel-top-k: key = log-weight + Gumbel(0,1) noise with the uniform
    * content-addressed from md5("dsir:" ++ doc_id) — a without-replacement
    * sample of size k whose inclusion probabilities track the softmax of
    * the importance weights, with zero RNG state.
    *
    * Documents with fewer than two tokens have no bigram features and are
    * not resampling candidates (both engines drop them identically).
    */
  /** (doc_id, source, b): one row per bigram occurrence, b = its hashed
    * feature bucket under the content-addressed md5 scheme. */
  def dsirFeatures(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("source"), TextOps.tokens(col("text")).as("l"))
      .filter(size(col("l")) >= 2)
      .select(col("doc_id"), col("source"), explode(expr(
        "transform(sequence(0, size(l) - 2), i -> concat(l[i], ' ', l[i + 1]))"))
        .as("gram"))
      .select(col("doc_id"), col("source"),
        (conv(substring(md5(col("gram")), 1, 8), 16, 10).cast("long") %
          DsirBuckets).as("b"))

  /** Per-document bucket-count table: (doc_id, source, b, c) — the
    * sufficient statistic BOTH model training and scoring consume. A
    * composed pipeline (q118) computes this once and materializes it,
    * instead of re-running the tokenize/bigram/md5 subtree per consumer;
    * it is also far narrower than the text pool (≤ min(doc grams,
    * [[DsirBuckets]]) rows per doc, three ints + a string). */
  def dsirFeatureCounts(docs: DataFrame): DataFrame =
    dsirFeatures(docs).groupBy("doc_id", "source", "b")
      .agg(count(lit(1)).as("c"))

  /** The trained DSIR model: (b, llr) over the occupied buckets —
    * ≤ [[DsirBuckets]] rows, broadcastable/collectable by construction. */
  def dsirModel(docs: DataFrame): DataFrame =
    dsirModelFromCounts(dsirFeatureCounts(docs))

  /** [[dsirModel]] from a precomputed [[dsirFeatureCounts]] table.
    * Identical values: the per-bucket sums just arrive pre-grouped. */
  def dsirModelFromCounts(fc: DataFrame): DataFrame = {
    val isT = col("source").isin(ReferenceSources: _*)
    // consumed twice below (the totals row and the llr projection) —
    // materialize so the bucket aggregation over fc runs once
    val cb = StageMaterialize(fc.groupBy("b").agg(
      sum(when(isT, col("c")).otherwise(lit(0L))).as("c_t"),
      sum(col("c")).as("c_all")), "dsir_cb")
    val tot = cb.agg(sum(col("c_t")).as("n_t"), sum(col("c_all")).as("n_all"))
    cb.crossJoin(broadcast(tot)).select(col("b"),
      round(
        log((col("c_t") + 1) / (col("n_t") + DsirBuckets).cast(DoubleType)) -
          log((col("c_all") + 1) /
            (col("n_all") + DsirBuckets).cast(DoubleType)),
        6).as("llr"))
  }

  /** Per-document importance log-weights under a trained model:
    * (doc_id, source, log_weight). Exact-DECIMAL accumulation of the
    * 6dp-rounded per-occurrence llr terms, so the value is independent of
    * aggregation order. Features in buckets the model never saw
    * contribute ZERO (left join + coalesce, not an inner join): a
    * document scored under an OLDER model than its own corpus — the
    * ingest/backfill case — must still be a candidate. */
  def dsirLogWeights(docs: DataFrame, model: DataFrame): DataFrame =
    dsirLogWeightsFromCounts(dsirFeatureCounts(docs), model)

  /** [[dsirLogWeights]] from a precomputed [[dsirFeatureCounts]] table.
    * c · llr in DECIMAL(38,6) is exact (llr is already 6dp-rounded), so
    * the sum is bit-identical to adding the per-occurrence term c times. */
  def dsirLogWeightsFromCounts(fc: DataFrame, model: DataFrame): DataFrame =
    fc.join(broadcast(model), Seq("b"), "left")
      .groupBy("doc_id", "source")
      .agg(round(sum(coalesce(col("llr"), lit(0.0)).cast(DecimalType(38, 6))
          * col("c"))
        .cast(DoubleType), 6).as("log_weight"))

  /** Content-addressed uniform in (0,1) for the selection noise:
    * u = (md5-32-bit("dsir:" ++ doc_id) + 0.5) / 2³². */
  def dsirUniform(docId: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (conv(substring(
      md5(concat(lit("dsir:"), docId.cast("string"))), 1, 8), 16, 10)
      .cast("long").cast(DoubleType) + 0.5) / 4294967296.0

  val q109DsirResample: Q = (s, d) => {
    val k = 50
    val docs = documents(s, d)
    // model training and scoring both consume the feature-count table —
    // materialize it once (the q118 discipline) instead of re-running the
    // tokenize/bigram/md5 subtree per consumer
    val fc = StageMaterialize(dsirFeatureCounts(docs), "q109_fc")
    val lw = dsirLogWeightsFromCounts(fc, dsirModelFromCounts(fc))
    lw.withColumn("gumbel", round(-log(-log(dsirUniform(col("doc_id")))), 6))
      .withColumn("sel_key", round(col("log_weight") + col("gumbel"), 6))
      .orderBy(desc("sel_key"), col("doc_id"))
      .limit(k)
  }

  val q109Sql: String =
    s"""WITH docs_all AS (SELECT doc_id, source, text FROM documents),
       |${dsirLwCte("docs_all")},
       |keyed AS (SELECT doc_id, source, log_weight,
       |    ROUND(-LN(-LN((CAST(CAST(concat('0x',
       |        substr(md5('dsir:' || CAST(doc_id AS VARCHAR)), 1, 8))
       |        AS BIGINT) AS DOUBLE) + 0.5) / 4294967296.0)), 6) AS gumbel
       |  FROM lw)
       |SELECT doc_id, source, log_weight, gumbel,
       |  ROUND(log_weight + gumbel, 6) AS sel_key
       |FROM keyed ORDER BY sel_key DESC, doc_id LIMIT 50""".stripMargin

  /** q110: CCNet head/middle/tail perplexity buckets — score every
    * document with the corpus-trained bigram LM (q63's construction,
    * source carried through), then split each SOURCE into head (best
    * third by avg log-probability), middle, and tail. CCNet's shard
    * bucketing (Wenzek et al. 2020): downstream mixtures train on head,
    * sample middle, drop tail.
    *
    * The tercile split is threshold-based, not rank-based: per-source
    * exact percentile cuts (the q90 `percentile`/`quantile_cont` pairing)
    * are |sources| rows broadcast back onto the per-doc scores. A
    * rank-based NTILE formulation would sort each source's documents in
    * one window partition — the hot-source single task the two-level
    * event family exists to avoid; thresholds keep the corpus-sized side
    * shuffle-free past the LM scoring itself. Documents with fewer than
    * two tokens have no bigrams and drop out of both engines identically.
    *
    * `exactCuts = false` swaps the per-source cuts onto the mergeable
    * `percentile_approx` sketch — the production form at 100× (exact
    * percentile sort-buffers each source; drift bound: ApproxCutsSpec).
    */
  def q110CcnetBucketsCuts(exactCuts: Boolean): Q = (s, d) => {
    // the tokenized corpus feeds the bigram explode AND the vocabulary
    // count; the exploded bigrams feed the type table, the context totals
    // AND the scoring join; the per-doc scores feed the cuts AND the
    // bucket join — materialize each once (the q118/q147 discipline;
    // Spark shares no subtrees)
    val l = StageMaterialize(documents(s, d)
      .select(col("doc_id"), col("source"), TextOps.tokens(col("text")).as("l")),
      "q110_tokens")
    val bg = StageMaterialize(l.filter(size(col("l")) >= 2)
      .select(col("doc_id"), col("source"), explode(expr(
        "transform(sequence(0, size(l) - 2), i -> struct(l[i] AS w1, l[i + 1] AS w2))"))
        .as("b"))
      .select(col("doc_id"), col("source"),
        col("b.w1").as("w1"), col("b.w2").as("w2")), "q110_bg")
    val cbg = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c_bg"))
    val cw = bg.groupBy("w1").agg(count(lit(1)).as("c_w1"))
    val v = l.select(explode(col("l")).as("token"))
      .agg(countDistinct(col("token")).as("v"))
    val lp = StageMaterialize(bg.join(cbg, Seq("w1", "w2")).join(cw, Seq("w1"))
      .crossJoin(broadcast(v))
      .select(col("doc_id"), col("source"),
        round(log((col("c_bg") + 1) / (col("c_w1") + col("v")).cast(DoubleType)), 6)
          .as("logp"))
      .groupBy("doc_id", "source")
      .agg(round(sum(col("logp").cast(DecimalType(38, 6))).cast(DoubleType) /
        count(lit(1)), 6).as("lp")), "q110_lp")
    val cuts = lp.groupBy("source").agg(
      MixtureOps.pcut(exactCuts)(col("lp"), 1.0 / 3).as("lo_cut"),
      MixtureOps.pcut(exactCuts)(col("lp"), 2.0 / 3).as("hi_cut"))
    lp.join(broadcast(cuts), Seq("source"))
      .withColumn("bucket",
        when(col("lp") >= col("hi_cut"), lit("head"))
          .when(col("lp") < col("lo_cut"), lit("tail"))
          .otherwise(lit("middle")))
      .groupBy("source", "bucket")
      .agg(count(lit(1)).as("n_docs"),
        round(sum(col("lp").cast(DecimalType(38, 6))).cast(DoubleType) /
          count(lit(1)), 6).as("mean_logprob"))
      .orderBy("source", "bucket")
  }
  val q110CcnetBuckets: Q = q110CcnetBucketsCuts(exactCuts = true)

  val q110Sql: String =
    """WITH l AS (SELECT doc_id, source,
      |             string_split_regex(TRIM(text), '\s+') AS l FROM documents),
      |bgs AS (SELECT doc_id, source,
      |          unnest(list_transform(range(1, len(l)),
      |            i -> struct_pack(w1 := l[i], w2 := l[i + 1]))) AS b
      |        FROM l WHERE len(l) >= 2),
      |bg AS (SELECT doc_id, source, b.w1 AS w1, b.w2 AS w2 FROM bgs),
      |cbg AS (SELECT w1, w2, COUNT(*) AS c_bg FROM bg GROUP BY 1, 2),
      |cw AS (SELECT w1, COUNT(*) AS c_w1 FROM bg GROUP BY 1),
      |v AS (SELECT COUNT(DISTINCT token) AS v
      |      FROM (SELECT unnest(l) AS token FROM l)),
      |terms AS (
      |  SELECT bg.doc_id, bg.source,
      |    ROUND(ln((c_bg + 1) / CAST(c_w1 + v.v AS DOUBLE)), 6) AS logp
      |  FROM bg JOIN cbg USING (w1, w2) JOIN cw USING (w1) CROSS JOIN v),
      |lp AS (SELECT doc_id, source,
      |         ROUND(CAST(SUM(CAST(logp AS DECIMAL(38,6))) AS DOUBLE)
      |               / COUNT(*), 6) AS lp
      |       FROM terms GROUP BY 1, 2),
      |cuts AS (SELECT source, quantile_cont(lp, 1.0/3) AS lo_cut,
      |                quantile_cont(lp, 2.0/3) AS hi_cut
      |         FROM lp GROUP BY source)
      |SELECT lp.source,
      |  CASE WHEN lp >= hi_cut THEN 'head'
      |       WHEN lp < lo_cut THEN 'tail'
      |       ELSE 'middle' END AS bucket,
      |  COUNT(*) AS n_docs,
      |  ROUND(CAST(SUM(CAST(lp AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*), 6)
      |    AS mean_logprob
      |FROM lp JOIN cuts USING (source)
      |GROUP BY 1, 2 ORDER BY source, bucket""".stripMargin

  /** q118: the LEARNED curation pipeline composed end-to-end in ONE plan —
    * the q82 composition argument applied to the model-based stages:
    *
    *   heuristic funnel (q112 rules, kept only)
    *     → NB quality classifier trained ON THE FUNNEL SURVIVORS (q108),
    *       keep score > 0
    *     → DSIR importance admission trained ON THE NB SURVIVORS (q109's
    *       model), Bernoulli admission u < min(1, exp(lw − median lw))
    *       with the content-addressed uniform
    *
    * Output: the per-source curation WATERFALL (raw → funnel-kept →
    * quality-kept → admitted, plus admitted token mass) — the table a
    * data team reads to see where each source's mass went. Stage order is
    * semantic: both models train on their stage's input pool, so a
    * hash-exact cross-engine match proves the models retrain correctly
    * under composition, not just in isolation. Scale: every stage is a
    * gate-proven shape; the only additions are |sources|-row/1-row
    * broadcasts (median, waterfall flags).
    *
    * Stage materialization: every NARROW multi-consumer table (`ruled`
    * verdicts, `nb` scores, DSIR per-doc bucket counts `fc`) is eagerly
    * materialized before fan-out; `lw` weights are NOT — both consumers
    * recompute them from the materialized `fc` (see the inline comment). Without it
    * the single composed plan re-executes the funnel + tokenization
    * subtree once PER consumer (`ruled` feeds both the survivor join and
    * the final waterfall, `nb` feeds the gate and the audit column, and
    * DSIR model training + scoring each re-hash the bigrams) — measured
    * at ~5.5 s for q118 at sf0.1 vs ~2.5 s materialized. The TEXT pools
    * (`kept`, `nbKept`) are deliberately NOT checkpointed: their
    * recompute is a parquet re-scan plus a broadcast join against
    * already-materialized id sets, cheaper at every scale than
    * serializing the corpus text twice. This is the
    * write-the-intermediate-pool pattern a 100 TB curation run uses
    * anyway; localCheckpoint is its single-action twin and — unlike
    * persist(), which the CacheManager dedups by plan across invocations
    * — cannot leak a warm cache into a later bench pass. Values are
    * unchanged (the gate hash stays exact); PlanShapeSpec pins that the
    * final plan reads materialized stage scans, not the tokenization
    * tree.
    *
    * Fault tolerance: materialization goes through [[StageMaterialize]] —
    * by default `localCheckpoint` (fast; blocks die with their executor,
    * fine on local[32]), or, with `spark.graft.stage.dir` set, a
    * parquet write-and-reread of each stage (the cluster-safe 100 TB
    * form: a lost executor re-reads from storage instead of failing the
    * job). StageMaterializeSpec pins the two modes value-identical.
    */
  val q118CurationPipeline: Q = (s, d) => {
    val docs = documents(s, d)
    val ruled = StageMaterialize(TextOps.funnelRuled(docs), "q118_ruled")
    val kept = docs.join(
      ruled.filter(col("rule") === "kept").select("doc_id"), "doc_id")
    val nb = StageMaterialize(nbDocScores(kept), "q118_nb")
    val nbKept = kept.join(nb.filter(col("score") > 0).select("doc_id"), "doc_id")
    val fc = StageMaterialize(dsirFeatureCounts(nbKept), "q118_fc")
    // lw is NOT checkpointed: both its consumers (median probe, admission
    // filter) recompute it from the materialized fc in the same job — a
    // broadcast join plus a narrow agg, cheaper than another serialized
    // checkpoint write at every scale.
    val lw = dsirLogWeightsFromCounts(fc, dsirModelFromCounts(fc))
    val med = lw.agg(percentile(col("log_weight"), lit(0.5)).as("med"))
    val admitted = lw.crossJoin(broadcast(med))
      .withColumn("p",
        round(least(lit(1.0), exp(col("log_weight") - col("med"))), 6))
      .filter(dsirUniform(col("doc_id")) < col("p"))
      .select(col("doc_id"), lit(true).as("a"))
    ruled
      .join(nb.select(col("doc_id"), (col("score") > 0).as("q")), Seq("doc_id"), "left")
      .join(admitted, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_raw"),
        sum(when(col("rule") === "kept", lit(1L)).otherwise(lit(0L)))
          .as("n_funnel_kept"),
        sum(when(coalesce(col("q"), lit(false)), lit(1L)).otherwise(lit(0L)))
          .as("n_quality_kept"),
        sum(when(coalesce(col("a"), lit(false)), lit(1L)).otherwise(lit(0L)))
          .as("n_admitted"),
        sum(when(coalesce(col("a"), lit(false)), col("n")).otherwise(lit(0L)))
          .as("tokens_admitted"))
      .orderBy("source")
  }

  val q118Sql: String =
    s"""WITH ${TextOps.funnelRuledCte()},
       |kept AS (
       |  SELECT d.doc_id, d.source, d.text FROM documents d
       |  JOIN ruled USING (doc_id) WHERE ruled.rule = 'kept'),
       |${nbScoredCte("kept")},
       |nbkept AS (
       |  SELECT k.doc_id, k.source, k.text FROM kept k
       |  JOIN scored USING (doc_id) WHERE scored.score > 0),
       |${dsirLwCte("nbkept")},
       |med AS (SELECT quantile_cont(log_weight, 0.5) AS med FROM lw),
       |admitted AS (
       |  SELECT doc_id, TRUE AS a FROM lw CROSS JOIN med
       |  WHERE (CAST(CAST(concat('0x',
       |           substr(md5('dsir:' || CAST(doc_id AS VARCHAR)), 1, 8))
       |           AS BIGINT) AS DOUBLE) + 0.5) / 4294967296.0
       |        < ROUND(LEAST(1.0, EXP(log_weight - med)), 6))
       |SELECT r.source,
       |  COUNT(*) AS n_raw,
       |  CAST(SUM(CASE WHEN r.rule = 'kept' THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_funnel_kept,
       |  CAST(SUM(CASE WHEN COALESCE(s.score > 0, FALSE) THEN 1 ELSE 0 END)
       |       AS BIGINT) AS n_quality_kept,
       |  CAST(SUM(CASE WHEN COALESCE(a.a, FALSE) THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_admitted,
       |  CAST(SUM(CASE WHEN COALESCE(a.a, FALSE) THEN r.n ELSE 0 END) AS BIGINT)
       |    AS tokens_admitted
       |FROM ruled r
       |LEFT JOIN scored s USING (doc_id)
       |LEFT JOIN admitted a USING (doc_id)
       |GROUP BY r.source ORDER BY r.source""".stripMargin

  val queries: Map[String, Q] = Map(
    "q108_nb_quality" -> q108NbQuality,
    "q109_dsir_resample" -> q109DsirResample,
    "q110_ccnet_buckets" -> q110CcnetBuckets,
    "q118_curation_pipeline" -> q118CurationPipeline,
    "q151_model_drift" -> q151ModelDrift,
    "q152_dsir_drift" -> q152DsirDrift,
  )
  val oracle: Map[String, String] = Map(
    "q108_nb_quality" -> q108Sql,
    "q109_dsir_resample" -> q109Sql,
    "q110_ccnet_buckets" -> q110Sql,
    "q118_curation_pipeline" -> q118Sql,
    "q151_model_drift" -> q151Sql,
    "q152_dsir_drift" -> q152Sql,
  )
}
