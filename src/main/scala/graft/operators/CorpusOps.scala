package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}
import graft.Tables._

/** Corpus-statistics operators: TF-IDF term weighting and n-gram
  * language-model scoring — the two classic "statistics over the whole
  * corpus, applied back to each document" shapes of a training-data
  * pipeline (salient-term extraction, CCNet-style LM quality filtering).
  *
  * Both share one scale pattern: the corpus-wide statistic tables (document
  * frequency, bigram counts) are VOCABULARY-sized, not corpus-sized —
  * partial aggregation collapses them map-side, so the expensive join back
  * to per-document rows shuffles on a high-cardinality near-uniform token
  * key. Zipf-head skew (the "the the" bigram) is bounded by AQE skew-join
  * splitting; the statistic tables themselves could be broadcast when a
  * pruned vocabulary (top-K) is acceptable.
  *
  * Determinism policy is the shared one: per-term doubles rounded to 6dp,
  * then order-free exact DECIMAL(38,6) summation, ranks tie-broken on the
  * token text.
  */
object CorpusOps {

  type Q = (SparkSession, String) => DataFrame

  /** q62: TF-IDF top terms — the top-3 most salient terms per document by
    * tf·ln(N/df). Three aggregations (term frequency per (doc, token),
    * document frequency per token, corpus size) feed one join + window:
    *  - tf and df are separate partial-agg-friendly aggregations from the
    *    tokenize pipeline, joined back on token. The plan DOES tokenize
    *    the corpus twice (Catalyst prunes the two consumers' columns
    *    differently, so their subtrees are not structurally equal and
    *    ReusedExchange cannot deduplicate them) — that is the RIGHT trade
    *    at 100 TB: the duplicate work is narrow, embarrassingly-parallel
    *    map work, while the tempting alternative (df as a count OVER the
    *    token partition) funnels every occurrence-row of a hot token
    *    ("the" ≈ every doc) through ONE WindowExec task with no partial
    *    aggregation — a straggler/spill hazard. With groupBy+join the hot
    *    key collapses map-side and AQE skew-splits the probe. (An
    *    operational pipeline would `persist` tf to also skip the rescan.)
    *  - N is a 1-row broadcast;
    *  - ranking windows on doc_id — high-cardinality, parallel, no global
    *    sort but the output ORDER BY.
    * Ranking compares the 6dp-ROUNDED score (both engines rank identical
    * values), tie-broken by token text for a total order. */
  val q62TfidfTopTerms: Q = (s, d) => {
    val docs = documents(s, d)
    val tf = docs
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy("doc_id").orderBy(desc("tfidf"), col("token"))
    tf.join(dfreq, Seq("token"))
      .crossJoin(broadcast(nDocs))
      .select(col("doc_id"), col("token"), col("tf"), col("df"),
        round(col("tf") * log(col("n_docs").cast(DoubleType) / col("df")), 6)
          .as("tfidf"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select("doc_id", "rnk", "token", "tf", "df", "tfidf")
      .orderBy("doc_id", "rnk")
  }
  val q62Sql: String =
    """WITH l AS (SELECT doc_id, string_split_regex(TRIM(text), '\s+') AS l FROM documents),
      |tok AS (SELECT doc_id, unnest(l) AS token FROM l),
      |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
      |df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
      |n AS (SELECT COUNT(*) AS n_docs FROM documents),
      |scored AS (
      |  SELECT tf.doc_id, tf.token, tf.tf, df.df,
      |    ROUND(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS tfidf
      |  FROM tf JOIN df USING (token) CROSS JOIN n),
      |rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
      |                 ORDER BY tfidf DESC, token) AS rnk FROM scored)
      |SELECT doc_id, rnk, token, tf, df, tfidf FROM rk
      |WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin

  /** q63: bigram language-model scoring — train add-one-smoothed bigram
    * conditionals on the corpus itself, score each document by its average
    * log-probability: avg over bigrams of ln((C(w1,w2)+1)/(C(w1·)+V)).
    * This is the LM-perplexity quality signal (low avg logprob = unusual
    * token transitions = likely boilerplate/garbage).
    *
    * The bigram extraction is array-native (transform over the token
    * array, one explode per consumer — no self-join on position). The plan
    * derives that narrow pipeline once per count table (occurrences, cbg,
    * cw — Catalyst has no cross-consumer materialization), which is the
    * deliberate q62 trade-off: duplicate map work over window-count
    * formulations that would buffer a hot w1 partition ("the …") in one
    * task. Both count aggs collapse map-side; the scoring join runs
    * bigram-occurrences ⋈ bigram-counts on (w1,w2) — high-cardinality,
    * AQE-skew-safe — then collapses back to one row per document. */
  val q63BigramLm: Q = (s, d) => {
    // the tokenized corpus feeds the bigram explode AND the vocabulary
    // count; the exploded bigrams feed the type table, the context totals
    // AND the scoring join — materialize each once (the q147/q110
    // discipline; Spark shares no subtrees)
    val l = StageMaterialize(documents(s, d)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("l")))
    val bg = StageMaterialize(l.filter(size(col("l")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(l) - 2), i -> struct(l[i] AS w1, l[i + 1] AS w2))"))
        .as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2")))
    val cbg = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c_bg"))
    val cw = bg.groupBy("w1").agg(count(lit(1)).as("c_w1"))
    val v = l.select(explode(col("l")).as("token"))
      .agg(countDistinct(col("token")).as("v"))
    bg.join(cbg, Seq("w1", "w2")).join(cw, Seq("w1"))
      .crossJoin(broadcast(v))
      .select(col("doc_id"),
        round(log((col("c_bg") + 1) / (col("c_w1") + col("v")).cast(DoubleType)), 6)
          .as("logp"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        round(sum(col("logp").cast(DecimalType(38, 6))).cast(DoubleType)
          / count(lit(1)), 6).as("avg_logprob"))
      .orderBy("doc_id")
  }
  val q63Sql: String =
    """WITH l AS (SELECT doc_id, string_split_regex(TRIM(text), '\s+') AS l FROM documents),
      |bgs AS (SELECT doc_id, unnest(list_transform(range(1, len(l)),
      |          i -> struct_pack(w1 := l[i], w2 := l[i + 1]))) AS b
      |        FROM l WHERE len(l) >= 2),
      |bg AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM bgs),
      |cbg AS (SELECT w1, w2, COUNT(*) AS c_bg FROM bg GROUP BY 1, 2),
      |cw AS (SELECT w1, COUNT(*) AS c_w1 FROM bg GROUP BY 1),
      |v AS (SELECT COUNT(DISTINCT token) AS v
      |      FROM (SELECT unnest(l) AS token FROM l)),
      |terms AS (
      |  SELECT bg.doc_id,
      |    ROUND(ln((c_bg + 1) / CAST(c_w1 + v.v AS DOUBLE)), 6) AS logp
      |  FROM bg JOIN cbg USING (w1, w2) JOIN cw USING (w1) CROSS JOIN v)
      |SELECT doc_id, COUNT(*) AS n_bigrams,
      |  ROUND(CAST(SUM(CAST(logp AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*), 6)
      |    AS avg_logprob
      |FROM terms GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** q101: per-source distribution divergence — KL(source ‖ corpus) over
    * unigram distributions, plus token/vocab totals. The mixture-curation
    * diagnostic (CCNet's per-shard LM deltas, DoReMi's domain reweighting):
    * a source whose unigram distribution sits far from the corpus is
    * template spam, mis-tagged language, or genuinely novel domain — all
    * of which change its sampling weight.
    *
    * KL(p_s ‖ q) = Σ_w p_s(w)·ln(p_s(w)/q(w)) is finite by construction:
    * every source's vocabulary is a subset of the corpus vocabulary, so
    * q(w) > 0 wherever p_s(w) > 0.
    *
    * Scale shape: the (source, token) count table collapses map-side to
    * source-count × vocab rows; per-source totals are |sources| rows
    * (broadcast back), the global token-count table is vocab-sized (its
    * join keys on the high-cardinality near-uniform token — AQE-skew-safe),
    * and the grand total is one broadcast row. Nothing downstream of the
    * first partial aggregation is corpus-sized. Determinism: per-term
    * doubles rounded to 6dp, order-free DECIMAL(38,6) summation — the
    * q62/q63 policy. */
  val q101SourceDivergence: Q = (s, d) => {
    val tok = documents(s, d)
      .select(col("source"), explode(TextOps.tokens(col("text"))).as("token"))
    val csw = tok.groupBy("source", "token").agg(count(lit(1)).as("c_sw"))
    val ns = csw.groupBy("source")
      .agg(sum(col("c_sw")).as("n_s"), count(lit(1)).as("vocab_s"))
    val cw = csw.groupBy("token").agg(sum(col("c_sw")).as("c_w"))
    val nTot = cw.agg(sum(col("c_w")).as("n_tot"))
    val p = col("c_sw").cast(DoubleType) / col("n_s")
    val q = col("c_w").cast(DoubleType) / col("n_tot")
    csw.join(broadcast(ns), Seq("source"))
      .join(cw, Seq("token"))
      .crossJoin(broadcast(nTot))
      .select(col("source"), col("n_s"), col("vocab_s"),
        round(p * log(p / q), 6).as("term"))
      .groupBy("source")
      .agg(first(col("n_s")).as("n_tokens"),
        first(col("vocab_s")).as("vocab_size"),
        round(sum(col("term").cast(DecimalType(38, 6))).cast(DoubleType), 6)
          .as("kl_divergence"))
      .orderBy("source")
  }
  val q101Sql: String =
    """WITH tok AS (
      |  SELECT source, unnest(string_split_regex(TRIM(text), '\s+')) AS token
      |  FROM documents),
      |csw AS (SELECT source, token, COUNT(*) AS c_sw FROM tok GROUP BY 1, 2),
      |ns AS (SELECT source, CAST(SUM(c_sw) AS BIGINT) AS n_s,
      |              COUNT(*) AS vocab_s
      |       FROM csw GROUP BY source),
      |cw AS (SELECT token, CAST(SUM(c_sw) AS BIGINT) AS c_w
      |       FROM csw GROUP BY token),
      |nt AS (SELECT CAST(SUM(c_w) AS BIGINT) AS n_tot FROM cw),
      |terms AS (
      |  SELECT csw.source, ns.n_s, ns.vocab_s,
      |    ROUND((CAST(c_sw AS DOUBLE) / n_s)
      |          * LN((CAST(c_sw AS DOUBLE) / n_s)
      |               / (CAST(c_w AS DOUBLE) / n_tot)), 6) AS term
      |  FROM csw JOIN ns USING (source) JOIN cw USING (token) CROSS JOIN nt)
      |SELECT source,
      |  FIRST(n_s) AS n_tokens,
      |  FIRST(vocab_s) AS vocab_size,
      |  ROUND(CAST(SUM(CAST(term AS DECIMAL(38,6))) AS DOUBLE), 6)
      |    AS kl_divergence
      |FROM terms GROUP BY source ORDER BY source""".stripMargin

  /** q104: per-source Zipf slope — least-squares fit of ln(freq) against
    * ln(rank) over each source's top-40 tokens. Natural text sits near
    * slope −1; template spam and machine-generated fill flatten or
    * steepen the curve, so the slope is a one-number distribution-shape
    * audit that complements q101's divergence (which needs a reference
    * corpus; the Zipf fit is intrinsic).
    *
    * Scale shape: identical to q101 up to the per-source top-40 window —
    * the (source, token) counts collapse map-side to source×vocab rows,
    * the rank window runs on that aggregate (per-source partitions are
    * vocab-sized, and WindowGroupLimit prunes to 40 before the full
    * sort materializes), and the regression is a 4-sum fold per source.
    * Determinism: ln terms and products rounded to 6dp, DECIMAL(38,6)
    * order-free sums, and the closed-form slope/intercept computed from
    * those exact decimal sums — bit-identical across engines. */
  val q104ZipfSlope: Q = (s, d) => {
    val tok = documents(s, d)
      .select(col("source"), explode(TextOps.tokens(col("text"))).as("token"))
    val csw = tok.groupBy("source", "token").agg(count(lit(1)).as("c"))
    val w = Window.partitionBy("source").orderBy(desc("c"), col("token"))
    val top = csw.withColumn("rk", row_number().over(w)).filter(col("rk") <= 40)
    val x = round(log(col("rk").cast(DoubleType)), 6)
    val y = round(log(col("c").cast(DoubleType)), 6)
    val dec = (e: org.apache.spark.sql.Column) => e.cast(DecimalType(38, 6))
    val sums = top
      .select(col("source"), x.as("x"), y.as("y"),
        round(x * y, 6).as("xy"), round(x * x, 6).as("xx"))
      .groupBy("source")
      .agg(count(lit(1)).as("n"),
        sum(dec(col("x"))).cast(DoubleType).as("sx"),
        sum(dec(col("y"))).cast(DoubleType).as("sy"),
        sum(dec(col("xy"))).cast(DoubleType).as("sxy"),
        sum(dec(col("xx"))).cast(DoubleType).as("sxx"))
    val nD = col("n").cast(DoubleType)
    val slope = (nD * col("sxy") - col("sx") * col("sy")) /
      (nD * col("sxx") - col("sx") * col("sx"))
    sums.select(col("source"), col("n").as("n_top"),
        round(slope, 6).as("zipf_slope"),
        round((col("sy") - round(slope, 6) * col("sx")) / nD, 6).as("intercept"))
      .orderBy("source")
  }
  val q104Sql: String =
    """WITH tok AS (
      |  SELECT source, unnest(string_split_regex(TRIM(text), '\s+')) AS token
      |  FROM documents),
      |csw AS (SELECT source, token, COUNT(*) AS c FROM tok GROUP BY 1, 2),
      |top AS (
      |  SELECT source, c,
      |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY c DESC, token) AS rk
      |  FROM csw QUALIFY rk <= 40),
      |terms AS (
      |  SELECT source,
      |    ROUND(LN(CAST(rk AS DOUBLE)), 6) AS x,
      |    ROUND(LN(CAST(c AS DOUBLE)), 6) AS y,
      |    ROUND(ROUND(LN(CAST(rk AS DOUBLE)), 6)
      |          * ROUND(LN(CAST(c AS DOUBLE)), 6), 6) AS xy,
      |    ROUND(ROUND(LN(CAST(rk AS DOUBLE)), 6)
      |          * ROUND(LN(CAST(rk AS DOUBLE)), 6), 6) AS xx
      |  FROM top),
      |sums AS (
      |  SELECT source, COUNT(*) AS n,
      |    CAST(SUM(CAST(x AS DECIMAL(38,6))) AS DOUBLE) AS sx,
      |    CAST(SUM(CAST(y AS DECIMAL(38,6))) AS DOUBLE) AS sy,
      |    CAST(SUM(CAST(xy AS DECIMAL(38,6))) AS DOUBLE) AS sxy,
      |    CAST(SUM(CAST(xx AS DECIMAL(38,6))) AS DOUBLE) AS sxx
      |  FROM terms GROUP BY source)
      |SELECT source, n AS n_top,
      |  ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS zipf_slope,
      |  ROUND((sy - ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) * sx)
      |        / n, 6) AS intercept
      |FROM sums ORDER BY source""".stripMargin

  /** q142: interpolated Kneser-Ney bigram LM scoring — the smoothing the
    * production perplexity filters actually use (KenLM's modified KN;
    * Wenzek et al. 2020 score CommonCrawl shards with it), upgraded from
    * q63/q110's add-one baseline. Add-one over-penalizes rare-but-real
    * continuations in proportion to vocabulary size; KN discounts every
    * observed bigram by a fixed D and backs off to the CONTINUATION
    * distribution (how many distinct contexts a word follows), which is
    * what separates "Francisco" (frequent, but only after "San") from
    * genuinely productive words:
    *
    *   P_KN(w2|w1) = (c(w1,w2) − D)/c(w1)
    *               + D·N1+(w1,·)/c(w1) · N1+(·,w2)/|bigram types|
    *
    * with D = 0.75. Scoring the training corpus itself, every scored
    * bigram has c ≥ 1, so the max(·,0) clamp never binds and the model
    * assigns every occurrence a finite log-probability.
    *
    * Scale shape: all four statistic tables derive from the TYPE table
    * c(w1,w2) (vocabulary²-bounded, collapsed map-side) — the
    * context totals c(w1) and fan-outs N1+(w1,·) are ONE further
    * aggregation over types (not a second pass over occurrences), the
    * continuation counts N1+(·,w2) likewise, and the type-count
    * denominator is a single broadcast row. The join back to occurrence
    * rows shuffles on the high-cardinality token keys (AQE-skew-safe),
    * exactly q63's plan. Determinism: per-term logs rounded to 6dp,
    * order-free DECIMAL(38,6) summation; the perplexity exp runs on the
    * already-rounded per-doc mean. */
  def knBigramScores(docs: DataFrame): DataFrame = {
    val l = docs.select(col("doc_id"), TextOps.tokens(col("text")).as("l"))
    // the exploded bigrams feed the type table AND the scoring join, and
    // the type table feeds all four statistic tables — materialize both
    // once (the q147/q153 discipline; Spark shares no subtrees, so each
    // reference otherwise re-tokenizes the corpus)
    val bg = StageMaterialize(l.filter(size(col("l")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(l) - 2), i -> struct(l[i] AS w1, l[i + 1] AS w2))"))
        .as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2")))
    val cbg = StageMaterialize(
      bg.groupBy("w1", "w2").agg(count(lit(1)).as("c_bg")))
    val cw = cbg.groupBy("w1").agg(sum(col("c_bg")).as("c_w1"),
      count(lit(1)).as("n1p_fw"))
    val bw = cbg.groupBy("w2").agg(count(lit(1)).as("n1p_bw"))
    val t = cbg.agg(count(lit(1)).as("t_types"))
    val pKn = (col("c_bg").cast(DoubleType) - lit(0.75d)) /
        col("c_w1").cast(DoubleType) +
      lit(0.75d) * col("n1p_fw").cast(DoubleType) / col("c_w1").cast(DoubleType) *
        (col("n1p_bw").cast(DoubleType) / col("t_types").cast(DoubleType))
    val mean = round(sum(col("logp").cast(DecimalType(38, 6))).cast(DoubleType) /
      count(lit(1)), 6)
    bg.join(cbg, Seq("w1", "w2")).join(cw, Seq("w1")).join(bw, Seq("w2"))
      .crossJoin(broadcast(t))
      .select(col("doc_id"), round(log(pKn), 6).as("logp"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), mean.as("kn_logprob"),
        round(exp(-mean), 6).as("ppl"))
      .orderBy("doc_id")
  }
  val q142KnPerplexity: Q = (s, d) => knBigramScores(documents(s, d))

  /** (doc_id, w1, w2) bigram-occurrence rows — the tokenize/explode
    * subtree every KN table derives from, factored out so multi-model
    * consumers (q153 trains and scores TWO models) explode the corpus
    * ONCE (materialize it with [[StageMaterialize]]) instead of once per
    * training/scoring leg. */
  def knBigrams(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), TextOps.tokens(col("text")).as("l"))
      .filter(size(col("l")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(l) - 2), i -> struct(l[i] AS w1, l[i + 1] AS w2))"))
        .as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))

  /** The KN model ALONE, from a precomputed [[knBigrams]] table: the
    * bigram TYPE table (w1, w2, c_bg) — the one statistic every other
    * q142 table derives from (context totals and fan-outs are one
    * aggregation over types, continuation counts another, the type count
    * a broadcast row), so it is the whole model, vocabulary²-bounded. */
  def knModelFromBigrams(bg: DataFrame): DataFrame =
    bg.groupBy("w1", "w2").agg(count(lit(1)).as("c_bg"))

  /** [[knBigramScores]] under a SEPARATELY trained type table, from a
    * precomputed [[knBigrams]] table (unordered — per-doc rows only).
    * Scoring a corpus under a frozen model, three regimes fall out of KN
    * naturally: a seen bigram scores as in training; an unseen bigram
    * over seen words takes the pure backoff mass (the max(c−D, 0) clamp
    * binds — exactly KN's unseen-pair probability); a bigram whose
    * context or continuation the model never saw has no distribution to
    * score under and is EXCLUDED, with the per-doc count reported so the
    * consumer sees its OOV exposure. On the model's own training corpus
    * every join hits and the clamp never binds — bit-identical to
    * [[knBigramScores]] (CorpusOpsSpec). */
  def knScoresFromBigrams(bg0: DataFrame, model: DataFrame): DataFrame = {
    val cbg = model.select(col("w1"), col("w2"), col("c_bg"))
    val cw = cbg.groupBy("w1").agg(sum(col("c_bg")).as("c_w1"),
      count(lit(1)).as("n1p_fw"))
    val bw = cbg.groupBy("w2").agg(count(lit(1)).as("n1p_bw"))
    val t = cbg.agg(count(lit(1)).as("t_types"))
    val bg = bg0.select(col("doc_id"), col("w1"), col("w2"))
    val mean = round(sum(col("logp").cast(DecimalType(38, 6))).cast(DoubleType) /
      sum(when(col("logp").isNotNull, 1L).otherwise(0L)), 6)
    bg.join(cbg, Seq("w1", "w2"), "left")
      .join(cw, Seq("w1"), "left").join(bw, Seq("w2"), "left")
      .crossJoin(broadcast(t))
      .select(col("doc_id"),
        when(col("c_w1").isNotNull && col("n1p_bw").isNotNull,
          round(log(
            greatest(coalesce(col("c_bg"), lit(0L)).cast(DoubleType) - lit(0.75d), lit(0.0d)) /
              col("c_w1").cast(DoubleType) +
            lit(0.75d) * col("n1p_fw").cast(DoubleType) / col("c_w1").cast(DoubleType) *
              (col("n1p_bw").cast(DoubleType) / col("t_types").cast(DoubleType))), 6))
          .as("logp"))
      .groupBy("doc_id")
      .agg(sum(when(col("logp").isNotNull, 1L).otherwise(0L)).as("n_bigrams"),
        sum(when(col("logp").isNull, 1L).otherwise(0L)).as("n_oov"),
        mean.as("kn_logprob"),
        round(exp(-mean), 6).as("ppl"))
  }

  /** q147: DoReMi-style domain reweighting — per-source EXCESS
    * log-probability under the corpus-trained KN bigram LM (q142's
    * model), exponentiated and normalized into a sampling-weight table.
    * The DoReMi/Pile mixing recipe in its counts-only form: a domain
    * whose documents score systematically below the corpus mean carries
    * information the current mixture under-represents (or noise — the
    * q101/q104 audits disambiguate), so its weight rises
    * ∝ exp(τ·excess); a domain of template text the LM finds easy is
    * down-weighted. Complements q85 (size-temperature weighting: counts
    * only, no quality signal) and q109 (DSIR: per-DOCUMENT importance
    * against a target corpus — q147 needs no target, the corpus is its
    * own reference).
    *
    * Scale shape: q142's plan with `source` carried through the
    * occurrence join, collapsing to |sources| rows at the first
    * aggregate; the corpus mean derives EXACTLY from the per-source
    * DECIMAL sums (one broadcast 1-row total), and the softmax
    * normalizes over the |sources|-row table. Determinism: 6dp terms,
    * DECIMAL sums, exp at 6dp, weight = rounded ratio of decimal-summed
    * rounded terms — replays bit-for-bit. */
  val q147DomainReweight: Q = (s, d) => domainReweight(documents(s, d))

  def domainReweight(docs: DataFrame): DataFrame = {
    val l = docs
      .select(col("doc_id"), col("source"), TextOps.tokens(col("text")).as("l"))
    // multi-consumer stages materialize once (the q118/q153 discipline —
    // Spark shares no subtrees, so each reference re-runs its whole
    // tree): the exploded bigrams feed both the type table and the
    // scoring join; the type table feeds cw/bw/t AND the scoring join;
    // per-source sums feed the corpus total and the excess projection.
    val bg = StageMaterialize(l.filter(size(col("l")) >= 2)
      .select(col("doc_id"), col("source"), explode(expr(
        "transform(sequence(0, size(l) - 2), i -> struct(l[i] AS w1, l[i + 1] AS w2))"))
        .as("b"))
      .select(col("doc_id"), col("source"),
        col("b.w1").as("w1"), col("b.w2").as("w2")))
    val cbg = StageMaterialize(
      bg.groupBy("w1", "w2").agg(count(lit(1)).as("c_bg")))
    val cw = cbg.groupBy("w1").agg(sum(col("c_bg")).as("c_w1"),
      count(lit(1)).as("n1p_fw"))
    val bw = cbg.groupBy("w2").agg(count(lit(1)).as("n1p_bw"))
    val t = cbg.agg(count(lit(1)).as("t_types"))
    val pKn = (col("c_bg").cast(DoubleType) - lit(0.75d)) /
        col("c_w1").cast(DoubleType) +
      lit(0.75d) * col("n1p_fw").cast(DoubleType) / col("c_w1").cast(DoubleType) *
        (col("n1p_bw").cast(DoubleType) / col("t_types").cast(DoubleType))
    val perSource = StageMaterialize(
      bg.join(cbg, Seq("w1", "w2")).join(cw, Seq("w1"))
        .join(bw, Seq("w2")).crossJoin(broadcast(t))
        .select(col("source"), col("doc_id"), round(log(pKn), 6).as("logp"))
        .groupBy("source")
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_bigrams"),
          sum(col("logp").cast(DecimalType(38, 6))).as("sum_lp")))
    val tot = perSource.agg(
      sum(col("sum_lp")).as("tot_lp"), sum(col("n_bigrams")).as("tot_n"))
    val meanS = round(col("sum_lp").cast(DoubleType) / col("n_bigrams"), 6)
    val meanC = round(col("tot_lp").cast(DoubleType) / col("tot_n"), 6)
    val scored = perSource.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("n_bigrams"),
        meanS.as("mean_logprob"),
        round(meanC - meanS, 6).as("excess"))
      .withColumn("e", round(exp(col("excess")), 6))
    val z = scored.agg(sum(col("e").cast(DecimalType(38, 6))).as("z"))
    scored.crossJoin(broadcast(z))
      .select(col("source"), col("n_docs"), col("n_bigrams"),
        col("mean_logprob"), col("excess"),
        round(col("e") / col("z").cast(DoubleType), 6).as("weight"))
      .orderBy("source")
  }
  val q147Sql: String =
    """WITH l AS (SELECT doc_id, source,
      |             string_split_regex(TRIM(text), '\s+') AS l FROM documents),
      |bgs AS (SELECT doc_id, source, unnest(list_transform(range(1, len(l)),
      |          i -> struct_pack(w1 := l[i], w2 := l[i + 1]))) AS b
      |        FROM l WHERE len(l) >= 2),
      |bg AS (SELECT doc_id, source, b.w1 AS w1, b.w2 AS w2 FROM bgs),
      |cbg AS (SELECT w1, w2, COUNT(*) AS c_bg FROM bg GROUP BY 1, 2),
      |cw AS (SELECT w1, SUM(c_bg) AS c_w1, COUNT(*) AS n1p_fw FROM cbg GROUP BY 1),
      |bw AS (SELECT w2, COUNT(*) AS n1p_bw FROM cbg GROUP BY 1),
      |t AS (SELECT COUNT(*) AS t_types FROM cbg),
      |terms AS (
      |  SELECT bg.source, bg.doc_id,
      |    ROUND(LN((CAST(c_bg AS DOUBLE) - 0.75) / CAST(c_w1 AS DOUBLE)
      |      + 0.75 * CAST(n1p_fw AS DOUBLE) / CAST(c_w1 AS DOUBLE)
      |        * (CAST(n1p_bw AS DOUBLE) / CAST(t_types AS DOUBLE))), 6) AS logp
      |  FROM bg JOIN cbg USING (w1, w2) JOIN cw USING (w1) JOIN bw USING (w2)
      |  CROSS JOIN t),
      |per_source AS (
      |  SELECT source, COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_bigrams,
      |    SUM(CAST(logp AS DECIMAL(38,6))) AS sum_lp
      |  FROM terms GROUP BY source),
      |tot AS (SELECT SUM(sum_lp) AS tot_lp, SUM(n_bigrams) AS tot_n
      |        FROM per_source),
      |scored AS (
      |  SELECT source, n_docs, n_bigrams,
      |    ROUND(CAST(sum_lp AS DOUBLE) / n_bigrams, 6) AS mean_logprob,
      |    ROUND(ROUND(CAST(tot_lp AS DOUBLE) / tot_n, 6)
      |        - ROUND(CAST(sum_lp AS DOUBLE) / n_bigrams, 6), 6) AS excess,
      |    ROUND(EXP(ROUND(ROUND(CAST(tot_lp AS DOUBLE) / tot_n, 6)
      |        - ROUND(CAST(sum_lp AS DOUBLE) / n_bigrams, 6), 6)), 6) AS e
      |  FROM per_source CROSS JOIN tot),
      |z AS (SELECT SUM(CAST(e AS DECIMAL(38,6))) AS z FROM scored)
      |SELECT source, n_docs, n_bigrams, mean_logprob, excess,
      |  ROUND(e / CAST(z.z AS DOUBLE), 6) AS weight
      |FROM scored CROSS JOIN z ORDER BY source""".stripMargin

  val q142Sql: String =
    """WITH l AS (SELECT doc_id, string_split_regex(TRIM(text), '\s+') AS l FROM documents),
      |bgs AS (SELECT doc_id, unnest(list_transform(range(1, len(l)),
      |          i -> struct_pack(w1 := l[i], w2 := l[i + 1]))) AS b
      |        FROM l WHERE len(l) >= 2),
      |bg AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM bgs),
      |cbg AS (SELECT w1, w2, COUNT(*) AS c_bg FROM bg GROUP BY 1, 2),
      |cw AS (SELECT w1, SUM(c_bg) AS c_w1, COUNT(*) AS n1p_fw FROM cbg GROUP BY 1),
      |bw AS (SELECT w2, COUNT(*) AS n1p_bw FROM cbg GROUP BY 1),
      |t AS (SELECT COUNT(*) AS t_types FROM cbg),
      |terms AS (
      |  SELECT bg.doc_id,
      |    ROUND(LN((CAST(c_bg AS DOUBLE) - 0.75) / CAST(c_w1 AS DOUBLE)
      |      + 0.75 * CAST(n1p_fw AS DOUBLE) / CAST(c_w1 AS DOUBLE)
      |        * (CAST(n1p_bw AS DOUBLE) / CAST(t_types AS DOUBLE))), 6) AS logp
      |  FROM bg JOIN cbg USING (w1, w2) JOIN cw USING (w1) JOIN bw USING (w2)
      |  CROSS JOIN t)
      |SELECT doc_id, COUNT(*) AS n_bigrams,
      |  ROUND(CAST(SUM(CAST(logp AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*), 6)
      |    AS kn_logprob,
      |  ROUND(EXP(-ROUND(CAST(SUM(CAST(logp AS DECIMAL(38,6))) AS DOUBLE)
      |    / COUNT(*), 6)), 6) AS ppl
      |FROM terms GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** q153: Kneser-Ney score-drift audit — the q151/q152 shape applied to
    * the third curation model. The same content-
    * addressed half (md5₃₂("m:"+doc_id) % 2 — the family's shared frozen
    * split) trains the v1 bigram type table; v2 is the full retrain;
    * every document scores under both via [[knScoresFromBigrams]]
    * (unseen pairs take the backoff mass, bigrams
    * whose context or continuation v1 never saw are EXCLUDED — a doc with
    * nothing scorable reports a NULL mean and is counted as unscored).
    * The decision diagnostic is the q110 one: per-source TERCILE MOVES —
    * how many documents change head/middle/tail bucket between the
    * frozen and retrained perplexity orderings (CCNet trains on head,
    * samples middle, drops tail — a tercile move IS a curation flip).
    *
    * Shape: two vocabulary²-bounded type tables over the same bigram
    * pool, the four KN statistic tables derived per model by one further
    * aggregation each, a token-keyed scoring join per model (AQE-skew-
    * safe, q63's plan), |sources|-row exact-percentile cuts broadcast
    * back (threshold-based, never an NTILE sort — the q110 argument).
    * Numerics: 6dp terms, DECIMAL(38,6) sums, cuts via the
    * percentile/quantile_cont pairing — hash-exact. Soaked 100k→400k
    * docs at 1.89×/1.71× per doubling (SOAK.md round 15).
    * `exactCuts = false` swaps all four tercile cuts onto the mergeable
    * `percentile_approx` sketch (the 100× form; ApproxCutsSpec bounds
    * the tercile-move drift). */
  def q153KnDriftCuts(exactCuts: Boolean): Q = (s, d) => {
    val docs = documents(s, d)
    val isTrain = conv(substring(
      md5(concat(lit("m:"), col("doc_id").cast("string"))), 1, 8), 16, 10)
      .cast("long") % 2 === 0
    // ONE exploded bigram table feeds both trainings and both scoring
    // legs (the q118/q152 stage-sharing rule): without it the
    // tokenize/explode subtree runs four times — sharing it measured
    // 13.4 → 11.4 s at 100k docs (the subtree is corpus-proportional,
    // so the saving grows with the corpus; at sf0.1 it's noise)
    val bg = StageMaterialize(knBigrams(docs))
    // each model TABLE is consumed four times inside knScoresFromBigrams
    // (the type lookup plus the cw/bw/t statistic tables all derive from
    // it) — materialize both so each vocabulary²-bounded aggregation over
    // the bigram pool runs once per model, not four times; `joined` feeds
    // both the drift leg and the unscored-count leg, so it materializes
    // too (the scoring joins are the query's dominant shuffles)
    val v1 = StageMaterialize(knModelFromBigrams(bg.filter(isTrain)))
    val v2 = StageMaterialize(knModelFromBigrams(bg))
    val s1 = knScoresFromBigrams(bg, v1)
      .select(col("doc_id"), col("kn_logprob").as("lp1"))
    val s2 = knScoresFromBigrams(bg, v2)
      .select(col("doc_id"), col("kn_logprob").as("lp2"))
    val joined = StageMaterialize(docs.select("doc_id", "source")
      .join(s1, Seq("doc_id")).join(s2, Seq("doc_id")))
    val scored = joined.filter(col("lp1").isNotNull)
    val cuts = scored.groupBy("source").agg(
      MixtureOps.pcut(exactCuts)(col("lp1"), 1.0 / 3).as("lo1"),
      MixtureOps.pcut(exactCuts)(col("lp1"), 2.0 / 3).as("hi1"),
      MixtureOps.pcut(exactCuts)(col("lp2"), 1.0 / 3).as("lo2"),
      MixtureOps.pcut(exactCuts)(col("lp2"), 2.0 / 3).as("hi2"))
    def bucket(lp: org.apache.spark.sql.Column, lo: org.apache.spark.sql.Column,
               hi: org.apache.spark.sql.Column) =
      when(lp >= hi, lit(2)).when(lp < lo, lit(0)).otherwise(lit(1))
    val drift = scored.join(broadcast(cuts), Seq("source"))
      .withColumn("mv",
        bucket(col("lp1"), col("lo1"), col("hi1")) =!=
          bucket(col("lp2"), col("lo2"), col("hi2")))
      .groupBy("source").agg(
        count(lit(1)).as("n_scored"),
        round(sum(col("lp1").cast(DecimalType(38, 6))).cast(DoubleType) /
          count(lit(1)), 6).as("mean_lp_v1"),
        round(sum(col("lp2").cast(DecimalType(38, 6))).cast(DoubleType) /
          count(lit(1)), 6).as("mean_lp_v2"),
        round(sum(round(abs(col("lp1") - col("lp2")), 6)
          .cast(DecimalType(38, 6))).cast(DoubleType) / count(lit(1)), 6)
          .as("mean_abs_shift"),
        sum(when(col("mv"), 1L).otherwise(0L)).as("n_tercile_moves"))
    joined.groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("lp1").isNull, 1L).otherwise(0L)).as("n_unscored_v1"))
      .join(drift, Seq("source"), "left")
      .orderBy("source")
  }
  val q153KnDrift: Q = q153KnDriftCuts(exactCuts = true)

  val q153Sql: String =
    """WITH l AS (SELECT doc_id, source,
      |            string_split_regex(TRIM(text), '\s+') AS l FROM documents),
      |bgs AS (SELECT doc_id, source, unnest(list_transform(range(1, len(l)),
      |          i -> struct_pack(w1 := l[i], w2 := l[i + 1]))) AS b
      |        FROM l WHERE len(l) >= 2),
      |bg AS (SELECT doc_id, source, b.w1 AS w1, b.w2 AS w2 FROM bgs),
      |trn AS (SELECT w1, w2 FROM bg
      |  WHERE CAST(concat('0x', substr(md5('m:' || CAST(doc_id AS VARCHAR)), 1, 8))
      |        AS BIGINT) % 2 = 0),
      |cbg1 AS (SELECT w1, w2, COUNT(*) AS c_bg FROM trn GROUP BY 1, 2),
      |cw1 AS (SELECT w1, SUM(c_bg) AS c_w1, COUNT(*) AS n1p_fw FROM cbg1 GROUP BY 1),
      |bw1 AS (SELECT w2, COUNT(*) AS n1p_bw FROM cbg1 GROUP BY 1),
      |t1 AS (SELECT COUNT(*) AS t_types FROM cbg1),
      |cbg2 AS (SELECT w1, w2, COUNT(*) AS c_bg FROM bg GROUP BY 1, 2),
      |cw2 AS (SELECT w1, SUM(c_bg) AS c_w1, COUNT(*) AS n1p_fw FROM cbg2 GROUP BY 1),
      |bw2 AS (SELECT w2, COUNT(*) AS n1p_bw FROM cbg2 GROUP BY 1),
      |t2 AS (SELECT COUNT(*) AS t_types FROM cbg2),
      |terms1 AS (
      |  SELECT bg.doc_id, bg.source,
      |    CASE WHEN cw1.c_w1 IS NOT NULL AND bw1.n1p_bw IS NOT NULL THEN
      |      ROUND(LN(GREATEST(CAST(COALESCE(cbg1.c_bg, 0) AS DOUBLE) - 0.75, 0.0)
      |          / CAST(cw1.c_w1 AS DOUBLE)
      |        + 0.75 * CAST(cw1.n1p_fw AS DOUBLE) / CAST(cw1.c_w1 AS DOUBLE)
      |          * (CAST(bw1.n1p_bw AS DOUBLE) / CAST(t1.t_types AS DOUBLE))), 6)
      |    END AS logp
      |  FROM bg LEFT JOIN cbg1 USING (w1, w2) LEFT JOIN cw1 USING (w1)
      |  LEFT JOIN bw1 USING (w2) CROSS JOIN t1),
      |s1 AS (
      |  SELECT doc_id, source,
      |    CASE WHEN SUM(CASE WHEN logp IS NOT NULL THEN 1 ELSE 0 END) > 0
      |      THEN ROUND(CAST(SUM(CAST(logp AS DECIMAL(38,6))) AS DOUBLE)
      |           / SUM(CASE WHEN logp IS NOT NULL THEN 1 ELSE 0 END), 6)
      |    END AS lp1
      |  FROM terms1 GROUP BY 1, 2),
      |terms2 AS (
      |  SELECT bg.doc_id,
      |    ROUND(LN((CAST(c_bg AS DOUBLE) - 0.75) / CAST(c_w1 AS DOUBLE)
      |      + 0.75 * CAST(n1p_fw AS DOUBLE) / CAST(c_w1 AS DOUBLE)
      |        * (CAST(n1p_bw AS DOUBLE) / CAST(t2.t_types AS DOUBLE))), 6) AS logp
      |  FROM bg JOIN cbg2 USING (w1, w2) JOIN cw2 USING (w1)
      |  JOIN bw2 USING (w2) CROSS JOIN t2),
      |s2 AS (
      |  SELECT doc_id,
      |    ROUND(CAST(SUM(CAST(logp AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*), 6)
      |      AS lp2
      |  FROM terms2 GROUP BY 1),
      |joined AS (SELECT s1.doc_id, s1.source, lp1, lp2
      |           FROM s1 JOIN s2 USING (doc_id)),
      |scored AS (SELECT * FROM joined WHERE lp1 IS NOT NULL),
      |cuts AS (SELECT source,
      |           quantile_cont(lp1, 1.0/3) AS lo1, quantile_cont(lp1, 2.0/3) AS hi1,
      |           quantile_cont(lp2, 1.0/3) AS lo2, quantile_cont(lp2, 2.0/3) AS hi2
      |         FROM scored GROUP BY source),
      |drift AS (
      |  SELECT scored.source,
      |    COUNT(*) AS n_scored,
      |    ROUND(CAST(SUM(CAST(lp1 AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*), 6)
      |      AS mean_lp_v1,
      |    ROUND(CAST(SUM(CAST(lp2 AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*), 6)
      |      AS mean_lp_v2,
      |    ROUND(CAST(SUM(CAST(ROUND(ABS(lp1 - lp2), 6) AS DECIMAL(38,6)))
      |          AS DOUBLE) / COUNT(*), 6) AS mean_abs_shift,
      |    CAST(SUM(CASE WHEN
      |        (CASE WHEN lp1 >= hi1 THEN 2 WHEN lp1 < lo1 THEN 0 ELSE 1 END)
      |        <> (CASE WHEN lp2 >= hi2 THEN 2 WHEN lp2 < lo2 THEN 0 ELSE 1 END)
      |      THEN 1 ELSE 0 END) AS BIGINT) AS n_tercile_moves
      |  FROM scored JOIN cuts USING (source) GROUP BY scored.source),
      |allsrc AS (
      |  SELECT source, COUNT(*) AS n_docs,
      |    CAST(SUM(CASE WHEN lp1 IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_unscored_v1
      |  FROM joined GROUP BY source)
      |SELECT allsrc.source, n_docs, n_unscored_v1, n_scored,
      |  mean_lp_v1, mean_lp_v2, mean_abs_shift, n_tercile_moves
      |FROM allsrc LEFT JOIN drift ON allsrc.source = drift.source
      |ORDER BY allsrc.source""".stripMargin

  val queries: Map[String, Q] = Map(
    "q62_tfidf_topterms" -> q62TfidfTopTerms,
    "q63_bigram_lm" -> q63BigramLm,
    "q101_source_divergence" -> q101SourceDivergence,
    "q104_zipf_slope" -> q104ZipfSlope,
    "q142_kn_perplexity" -> q142KnPerplexity,
    "q147_domain_reweight" -> q147DomainReweight,
    "q153_kn_drift" -> q153KnDrift,
  )
  val oracle: Map[String, String] = Map(
    "q62_tfidf_topterms" -> q62Sql,
    "q63_bigram_lm" -> q63Sql,
    "q101_source_divergence" -> q101Sql,
    "q104_zipf_slope" -> q104Sql,
    "q142_kn_perplexity" -> q142Sql,
    "q147_domain_reweight" -> q147Sql,
    "q153_kn_drift" -> q153Sql,
  )
}
