package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Round-8 mixture / scheduling operators — the corpus-level decisions a
  * training-data pipeline makes AFTER per-document cleaning and dedup:
  * how much of each source to keep (temperature re-weighting), which
  * output shard each surviving document lands in (deterministic shard
  * assignment), and how much of each document is new text vs text already
  * seen earlier in the corpus (n-gram novelty attribution).
  *
  * These complement the existing sampling family — q50 (fixed per-language
  * rates), q58 (per-source document quota), q69 (per-source token budget)
  * — by deriving the keep decision FROM the data (q85), and by covering the
  * write side (q86) and the cross-document-redundancy audit (q87) that the
  * per-document ops can't express.
  *
  * All keep/route decisions are content-addressed through md5 like the
  * rest of the sampling family: stateless, engine-portable (the DuckDB
  * oracles replay them exactly), and stable under corpus growth.
  */
object MixtureOps {

  type Q = (SparkSession, String) => DataFrame

  private def nTokens = size(split(trim(col("text")), "\\s+")).cast("long")

  /** Per-source cut: exact `percentile` for the oracle gates (the
    * quantile_cont pairing), or the MERGEABLE `percentile_approx` sketch
    * at its production-default accuracy for the 100× path — an exact
    * percentile is the one sort-buffered, non-mergeable aggregate in the
    * per-source-cut family (round-15 verdict task 6); the sketch turns
    * it into a map-side-combinable agg whose state is O(accuracy), not
    * O(group). Drift bound spec: ApproxCutsSpec. */
  private[operators] def pcut(exact: Boolean)(
      c: org.apache.spark.sql.Column, p: Double): org.apache.spark.sql.Column =
    // the sketch returns a held value of the INPUT type (bigint cuts for
    // bigint columns) where exact percentile interpolates in double —
    // cast so both forms share one schema downstream
    if (exact) percentile(c, lit(p))
    else percentile_approx(c, lit(p), lit(10000)).cast("double")

  /** q85: temperature-weighted source mixture (the GPT-3/PaLM data-recipe
    * shape): a source with n docs is kept at rate (n_min/n)^(1-α) with
    * α = 0.5, so effective counts go as n^α — big sources are downsampled
    * toward the small ones instead of drowning them. The smallest source
    * anchors at keep-rate 1, which avoids any cross-source float SUM whose
    * accumulation order could differ between engines: every input to the
    * rate is an exact integer, and /, sqrt, *, floor are IEEE-deterministic,
    * so Spark and DuckDB compute bit-identical thresholds.
    *
    * The per-doc keep decision compares the first 6 hex chars of
    * md5(doc_id) — a uniform in [0, 16^6) — against the rate scaled to the
    * same grid. Plan shape at 100 TB: the per-source count is a partial
    * agg collapsing to |sources| rows; the rate table broadcasts back onto
    * the corpus scan (no shuffle of the big side); the keep filter runs at
    * scan speed; the final per-source agg is again |sources| rows.
    */
  val q85TemperatureMix: Q = (s, d) => {
    val docs = documents(s, d)
    val counts = docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
    val nMin = counts.agg(min(col("n_docs")).as("n_min"))
    val rates = counts.crossJoin(broadcast(nMin))
      .select(col("source"), col("n_docs"),
        least(sqrt(col("n_min").cast("double") / col("n_docs").cast("double")),
          lit(1.0)).as("keep_rate"))
    val thr = format_string("%06x",
      least(floor(col("keep_rate") * lit(16777216.0)), lit(16777215L)))
    docs.join(broadcast(rates.withColumn("thr", thr)), Seq("source"))
      .filter(substring(md5(col("doc_id").cast("string")), 1, 6) <= col("thr"))
      .groupBy(col("source"), col("n_docs"), col("keep_rate"))
      .agg(count(lit(1)).as("n_kept"), sum(nTokens).as("tokens_kept"))
      .select(col("source"), col("n_docs"), col("n_kept"), col("tokens_kept"),
        round(col("keep_rate"), 6).as("keep_rate"))
      .orderBy("source")
  }
  val q85Sql: String =
    """WITH c AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source),
      |m AS (SELECT MIN(n_docs) AS n_min FROM c),
      |r AS (SELECT source, n_docs,
      |        LEAST(SQRT(CAST(n_min AS DOUBLE) / CAST(n_docs AS DOUBLE)), 1.0) AS keep_rate
      |      FROM c, m),
      |t AS (SELECT source, n_docs, keep_rate,
      |        printf('%06x', LEAST(CAST(FLOOR(keep_rate * 16777216.0) AS BIGINT),
      |                             16777215)) AS thr
      |      FROM r)
      |SELECT d.source, t.n_docs,
      |  COUNT(*) AS n_kept,
      |  CAST(SUM(LEN(string_split_regex(TRIM(d.text), '\s+'))) AS BIGINT) AS tokens_kept,
      |  ROUND(t.keep_rate, 6) AS keep_rate
      |FROM documents d JOIN t ON d.source = t.source
      |WHERE SUBSTR(md5(CAST(d.doc_id AS VARCHAR)), 1, 6) <= t.thr
      |GROUP BY d.source, t.n_docs, t.keep_rate
      |ORDER BY d.source""".stripMargin

  /** q86: deterministic shard assignment + balance audit — the write side
    * of a training-data pipeline. Each doc routes to shard
    * instr('0123456789abcdef', md5(doc_id)[0]) - 1 (16 shards here), so
    * shard membership is a pure function of the doc id: any engine, any
    * rerun, any corpus growth produces the same routing, which is what
    * makes incremental shard rebuilds and cross-run reproducibility work.
    * The gate query audits the balance (doc counts, token sums, source
    * spread per shard); the production sink is the same expression feeding
    * `.repartition(col("shard")).write.partitionBy("shard")` — one shuffle
    * whose keys are uniform by construction (md5), so no shard skew at any
    * scale. The audit agg itself is 16 rows out of a map-side partial agg.
    */
  /** Deterministic shard id of a doc_id — a pure function of the key, so
    * ingest-time routing and batch rebuilds always agree. */
  val shardCol: org.apache.spark.sql.Column = expr(
    "instr('0123456789abcdef', substring(md5(cast(doc_id as string)), 1, 1)) - 1")
    .cast("int")

  val q86ShardAssign: Q = (s, d) => {
    documents(s, d)
      .select(shardCol.as("shard"), col("doc_id"), col("source"), nTokens.as("n_tok"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("n_tokens"),
        countDistinct(col("source")).as("n_sources"),
        min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"))
      .orderBy("shard")
  }
  val q86Sql: String =
    """SELECT CAST(INSTR('0123456789abcdef',
      |         SUBSTR(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1 AS INTEGER) AS shard,
      |  COUNT(*) AS n_docs,
      |  CAST(SUM(LEN(string_split_regex(TRIM(text), '\s+'))) AS BIGINT) AS n_tokens,
      |  COUNT(DISTINCT source) AS n_sources,
      |  MIN(doc_id) AS min_doc,
      |  MAX(doc_id) AS max_doc
      |FROM documents
      |GROUP BY 1 ORDER BY shard""".stripMargin

  /** q148: resharding-cost audit — when the shard fleet grows 16 → 20,
    * what fraction of the corpus MOVES under modulo assignment versus
    * rendezvous (highest-random-weight) hashing? The number that prices
    * a fleet resize at 100 TB: mod-N reassigns almost everything
    * (doc moves unless md5₃₂ ≡ same value mod 16 and mod 20 — ~95 % move),
    * while rendezvous moves exactly the docs whose per-(doc, shard) hash
    * crowns one of the four NEW shards — expected 4/20 = 20 %, the
    * theoretical minimum for a balanced resize. This is why the at-rest
    * layouts here key buckets by STABLE content hashes and treat shard
    * count as a rendezvous choice, not a modulus.
    *
    * Shape: one narrow map per doc for the mod pair; the rendezvous
    * argmax explodes doc × (16 + 20) hash rows into a per-doc
    * row_number window (doc_id partitions — high-cardinality, parallel,
    * no global sort; ties broken (h, s) for a total order both engines
    * share). Output 2 BIGINT rows + a rounded fraction — hash-exact. */
  /** Rendezvous (highest-random-weight) shard of each doc_id over
    * `nShards` shards — the stable-under-resize assignment [[q148ReshardAudit]]
    * prices against mod-N. Per-doc argmax of md5(doc#shard), tie-broken
    * (h, s) for a total order both engines share. */
  def rendezvousShard(docs: DataFrame, nShards: Int, out: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(desc("h"), desc("s"))
    docs.select(col("doc_id"),
        explode(expr(s"sequence(0, ${nShards - 1})")).as("s"))
      .select(col("doc_id"), col("s"),
        md5(concat(col("doc_id").cast("string"), lit("#"),
          col("s").cast("string"))).as("h"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("doc_id"), col("s").as(out))
  }

  /** Per-row rendezvous shard as a pure Column expression — the
    * streaming-safe form of [[rendezvousShard]] (no window, so it runs
    * on an unbounded stream and in any narrow projection): argmax over
    * shards of the per-(id, shard) hash via an array-native struct max,
    * whose field-order comparison (h first, then s) reproduces the
    * window form's (h DESC, s DESC) pick exactly. Takes the id as a
    * Column (like [[rendezvousShard]]'s `out` parameterization) instead
    * of binding a hard-coded name from whatever frame it lands on —
    * applied after a join, a captured `doc_id` string could silently
    * resolve against the wrong side (round-13 ADVICE). */
  def rendezvousCol(id: org.apache.spark.sql.Column,
                    nShards: Int): org.apache.spark.sql.Column =
    array_max(transform(sequence(lit(0), lit(nShards - 1)),
      s => struct(md5(concat(id.cast("string"), lit("#"),
        s.cast("string"))).as("h"), s.as("s")))).getField("s")

  val q148ReshardAudit: Q = (s, d) => {
    val docs = documents(s, d).select(col("doc_id"))
    val h32 = conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
      .cast("long")
    val modMoved = docs.select(
        (h32 % 16 =!= h32 % 20).cast("long").as("moved"))
      .agg(count(lit(1)).as("n_docs"), sum(col("moved")).as("n_moved"))
      .select(lit("mod_n").as("strategy"), col("n_docs"), col("n_moved"),
        round(col("n_moved").cast("double") / col("n_docs"), 6).as("moved_frac"))
    val rdv = rendezvousShard(docs, 16, "s16")
      .join(rendezvousShard(docs, 20, "s20"), Seq("doc_id"))
      .select((col("s16") =!= col("s20")).cast("long").as("moved"))
      .agg(count(lit(1)).as("n_docs"), sum(col("moved")).as("n_moved"))
      .select(lit("rendezvous").as("strategy"), col("n_docs"), col("n_moved"),
        round(col("n_moved").cast("double") / col("n_docs"), 6).as("moved_frac"))
    modMoved.unionAll(rdv).orderBy("strategy")
  }
  val q148Sql: String =
    """WITH h AS (
      |  SELECT doc_id,
      |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS h32
      |  FROM documents),
      |modrow AS (
      |  SELECT 'mod_n' AS strategy, COUNT(*) AS n_docs,
      |    CAST(SUM(CASE WHEN h32 % 16 <> h32 % 20 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_moved,
      |    ROUND(CAST(SUM(CASE WHEN h32 % 16 <> h32 % 20 THEN 1 ELSE 0 END)
      |      AS DOUBLE) / COUNT(*), 6) AS moved_frac
      |  FROM h),
      |r16 AS (
      |  SELECT doc_id, s FROM (
      |    SELECT doc_id, s.range AS s,
      |      ROW_NUMBER() OVER (PARTITION BY doc_id
      |        ORDER BY md5(CAST(doc_id AS VARCHAR) || '#' || CAST(s.range AS VARCHAR)) DESC,
      |                 s.range DESC) AS rn
      |    FROM documents CROSS JOIN range(0, 16) s) x WHERE rn = 1),
      |r20 AS (
      |  SELECT doc_id, s FROM (
      |    SELECT doc_id, s.range AS s,
      |      ROW_NUMBER() OVER (PARTITION BY doc_id
      |        ORDER BY md5(CAST(doc_id AS VARCHAR) || '#' || CAST(s.range AS VARCHAR)) DESC,
      |                 s.range DESC) AS rn
      |    FROM documents CROSS JOIN range(0, 20) s) x WHERE rn = 1),
      |rdvrow AS (
      |  SELECT 'rendezvous' AS strategy, COUNT(*) AS n_docs,
      |    CAST(SUM(CASE WHEN r16.s <> r20.s THEN 1 ELSE 0 END) AS BIGINT) AS n_moved,
      |    ROUND(CAST(SUM(CASE WHEN r16.s <> r20.s THEN 1 ELSE 0 END) AS DOUBLE)
      |      / COUNT(*), 6) AS moved_frac
      |  FROM r16 JOIN r20 USING (doc_id))
      |SELECT * FROM modrow UNION ALL SELECT * FROM rdvrow ORDER BY strategy""".stripMargin

  /** q87: n-gram novelty attribution — per document, the fraction of its
    * distinct word-3-grams whose FIRST corpus occurrence (min doc_id) is
    * this document. This is the cross-document complement of q51's
    * within-document repetition score: a doc full of 3-grams already seen
    * earlier in the corpus contributes little new text even if it is not a
    * near-dup of any single document, and novelty-weighted token counts
    * are how pipeline audits measure effective (non-redundant) corpus
    * size.
    *
    * Shape: explode distinct shingles, groupBy shingle for the first-owner
    * table (map-side partial agg), shuffle-join it back on the shingle
    * key, then a per-doc agg. The first-owner side has exactly one row per
    * shingle, so join output = exploded input (no blow-up on repeated
    * shingles). The join is deliberate — a window min over the shingle
    * partition computes the same thing in one shuffle, but a hot shingle
    * (a boilerplate phrase in millions of docs) then pins one task with no
    * recourse, while AQE's skew-join splitter can split the probe side of
    * this join. Both agg shuffles hash on the same key, so Catalyst reuses
    * the exchange for the build side.
    */
  val q87NgramNovelty: Q = (s, d) => {
    val toks = split(trim(col("text")), "\\s+")
    val ex = documents(s, d)
      .select(col("doc_id"),
        explode(graft.functions.HashKernels.shingles3(toks)).as("sh"))
    val firsts = ex.groupBy("sh").agg(min("doc_id").as("first_doc"))
    ex.join(firsts, Seq("sh"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("doc_id") === col("first_doc"), 1L).otherwise(0L)).as("n_novel"))
      .select(col("doc_id"), col("n_shingles"), col("n_novel"),
        round(col("n_novel").cast("double") / col("n_shingles"), 6).as("novelty"))
      .orderBy("doc_id")
  }
  val q87Sql: String =
    """WITH ex AS (
      |  SELECT doc_id, UNNEST(list_distinct(list_transform(range(1, len(l) - 1),
      |      i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2]))) AS sh
      |  FROM (SELECT doc_id, string_split_regex(TRIM(text), '\s+') AS l FROM documents)
      |  WHERE LEN(l) >= 3),
      |f AS (SELECT sh, MIN(doc_id) AS first_doc FROM ex GROUP BY sh),
      |j AS (SELECT ex.doc_id,
      |        CASE WHEN ex.doc_id = f.first_doc THEN 1 ELSE 0 END AS nov
      |      FROM ex JOIN f USING (sh))
      |SELECT doc_id, COUNT(*) AS n_shingles,
      |  CAST(SUM(nov) AS BIGINT) AS n_novel,
      |  ROUND(CAST(SUM(nov) AS DOUBLE) / COUNT(*), 6) AS novelty
      |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** q90: per-source winsorization audit — clamp every document's token
    * count into its source's [p05, p95] band (the outlier-trimming /
    * length-clipping pass a corpus runs before per-source statistics or
    * curriculum decisions are trusted). Exact `percentile` matches
    * DuckDB's `quantile_cont` (the q09 pairing); the clamped-token sum
    * goes through DECIMAL(38,6) on both engines so accumulation order
    * can't break the typed hash. Plan shape at 100 TB: the cut table is
    * |sources| rows from one partial agg, broadcast back onto the scan
    * (no shuffle of the corpus); exact per-source percentiles buffer the
    * group — the huge-group path swaps in `approx_percentile` (mergeable
    * sketch) via `exactCuts = false`, not used in the gate because the
    * oracle is exact. */
  def q90WinsorizeCuts(exactCuts: Boolean): Q = (s, d) => {
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    val docs = documents(s, d).select(col("source"), nTokens.as("n_tok"))
    val cuts = docs.groupBy("source").agg(
      pcut(exactCuts)(col("n_tok"), 0.05).as("lo"),
      pcut(exactCuts)(col("n_tok"), 0.95).as("hi"))
    val w = greatest(least(col("n_tok").cast("double"), col("hi")), col("lo"))
    docs.join(broadcast(cuts), Seq("source"))
      .groupBy(col("source"), col("lo"), col("hi"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n_tok") < col("lo"), 1L).otherwise(0L)).as("n_clamped_low"),
        sum(when(col("n_tok") > col("hi"), 1L).otherwise(0L)).as("n_clamped_high"),
        sum(w.cast(DecimalType(38, 6))).cast(DoubleType).as("winsorized_tokens"))
      .select(col("source"), round(col("lo"), 6).as("lo"), round(col("hi"), 6).as("hi"),
        col("n_docs"), col("n_clamped_low"), col("n_clamped_high"),
        col("winsorized_tokens"))
      .orderBy("source")
  }
  val q90Winsorize: Q = q90WinsorizeCuts(exactCuts = true)
  val q90Sql: String =
    """WITH d AS (SELECT source, LEN(string_split_regex(TRIM(text), '\s+')) AS n_tok
      |           FROM documents),
      |c AS (SELECT source, quantile_cont(n_tok, 0.05) AS lo,
      |             quantile_cont(n_tok, 0.95) AS hi
      |      FROM d GROUP BY source)
      |SELECT d.source, ROUND(c.lo, 6) AS lo, ROUND(c.hi, 6) AS hi,
      |  COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN d.n_tok < c.lo THEN 1 ELSE 0 END) AS BIGINT) AS n_clamped_low,
      |  CAST(SUM(CASE WHEN d.n_tok > c.hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clamped_high,
      |  CAST(SUM(CAST(GREATEST(LEAST(CAST(d.n_tok AS DOUBLE), c.hi), c.lo)
      |       AS DECIMAL(38,6))) AS DOUBLE) AS winsorized_tokens
      |FROM d JOIN c USING (source)
      |GROUP BY d.source, c.lo, c.hi
      |ORDER BY d.source""".stripMargin

  /** q154: UniMax token-budget allocation (Chung et al., ICLR 2023 —
    * "UniMax: Fairer and More Effective Language Sampling for Large-Scale
    * Multilingual Pretraining"): given a total training budget of
    * `budgetMult` × the corpus's token mass and an epoch cap of
    * `epochCap` repeats per source, allocate the budget UNIFORMLY across
    * sources subject to each source's capacity cap = epochCap × its own
    * tokens, redistributing what the capped sources can't absorb — the
    * water-filling closed form. Complements q85 (temperature: smooth
    * power-law reweighting, no hard repeat bound) and q147 (DoReMi:
    * quality-signal reweighting): UniMax is the recipe when the binding
    * constraint is REPEAT DAMAGE on small sources, the documented regime
    * for multilingual mixes.
    *
    * Closed form, no iteration: sort sources by capacity ascending; a
    * source at rank j saturates iff its capacity times the sources
    * remaining from j is ≤ the budget left after the smaller capacities
    * (monotone, so the saturated set is a prefix); everyone else splits
    * the remainder evenly. One |sources|-row window (driver-scale — the
    * corpus-sized work is only the per-source token count, collapsing
    * map-side), two broadcast one-row aggregates.
    *
    * Numerics: capacities are n_tokens × 1.5 — exact halves in binary
    * doubles, so the prefix sums and the saturation comparisons are
    * EXACT on both engines regardless of accumulation order; only the
    * final share division and the epochs ratio are inexact, and both are
    * single IEEE ops rounded at 6dp — hash-exact. All-saturated corpora
    * never evaluate the share branch (CASE short-circuits per row on
    * both engines), so that 0/0 guard is structural; the EPOCHS ratio's
    * n_tokens = 0 edge (an all-empty source) is guarded explicitly on
    * both engines. */
  /** The UniMax water-filling allocation frame shared by q154 and q156:
    * per source (source, n_docs, n_tokens, cap, sat, alloc_raw) under
    * the epochCap=1.5 / budget=2× configuration. |sources|-row window,
    * two broadcast one-row aggregates — driver-scale past the token
    * count. */
  private def unimaxAllocFrame(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val epochCap = 1.5
    val budgetMult = 2.0
    val tok = documents(s, d)
      .select(col("source"), nTokens.as("nt"))
      .groupBy("source").agg(count(lit(1)).as("n_docs"), sum("nt").as("n_tokens"))
    val tot = tok.agg(sum("n_tokens").as("t_all"), count(lit(1)).as("n_src"))
    val capped = tok.crossJoin(broadcast(tot))
      .withColumn("cap", col("n_tokens").cast("double") * epochCap)
      .withColumn("budget", col("t_all").cast("double") * budgetMult)
    val w = Window.orderBy(col("cap"), col("source"))
    val flagged = capped
      .withColumn("rn", row_number().over(w))
      .withColumn("pfx", coalesce(
        sum("cap").over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0.0)))
      .withColumn("sat",
        col("cap") * (col("n_src") - col("rn") + 1) <= col("budget") - col("pfx"))
    val aggd = flagged.agg(
      sum(when(col("sat"), col("cap")).otherwise(lit(0.0))).as("sat_sum"),
      sum(when(col("sat"), 1L).otherwise(0L)).as("k"))
    flagged.crossJoin(broadcast(aggd))
      .withColumn("alloc_raw", when(col("sat"), col("cap"))
        .otherwise((col("budget") - col("sat_sum")) / (col("n_src") - col("k"))))
  }

  val q154UnimaxBudget: Q = (s, d) =>
    unimaxAllocFrame(s, d)
      .select(col("source"), col("n_docs"), col("n_tokens"),
        round(col("cap"), 6).as("capacity"),
        when(col("sat"), 1L).otherwise(0L).as("saturated"),
        round(col("alloc_raw"), 6).as("allocated"),
        // a source whose texts are all empty has n_tokens = 0, cap = 0,
        // is classified saturated (0 ≤ remaining budget) and allocated 0
        // — but 0.0/0 is NaN on Spark while DuckDB's division handling
        // differs (round-15 ADVICE): pin epochs to 0.0 explicitly, CASE
        // mirrored in q154Sql
        when(col("n_tokens") > 0, round(col("alloc_raw") / col("n_tokens"), 6))
          .otherwise(lit(0.0)).as("epochs"))
      .orderBy("source")

  /** q156: data-constrained EFFECTIVE-token audit — what the q154 UniMax
    * allocation is actually WORTH in unique-token units, under the
    * repeat-decay value model of Muennighoff et al., NeurIPS 2023
    * ("Scaling Data-Constrained Language Models"): tokens seen beyond
    * the first epoch decay in value with the fitted constant
    * R* ≈ 15.4 — effective(U, e) = U·(1 + R*·(1 − exp(−(e−1)/R*))) for
    * e > 1, and exactly the tokens seen when e ≤ 1 (nothing repeats).
    * Per source: epochs and tokens seen from the shared water-filling
    * frame, effective tokens, and the value ratio effective/seen — the
    * number a mixture designer reads to see where the budget is burning
    * on low-value repeats (value_ratio → 1 means fresh data; it falls
    * toward R-star over epochs as the source is strip-mined).
    *
    * Numerics: epochs is 6dp-rounded BEFORE the exp on both engines (the
    * q142 EXP discipline), the decay constants are CAST(… AS DOUBLE) in
    * the oracle (the q130 DECIMAL-literal lesson), outputs 6dp. */
  val q156EffectiveTokens: Q = (s, d) => {
    val rStar = 15.4
    val epochsR = when(col("n_tokens") > 0,
      round(col("alloc_raw") / col("n_tokens"), 6)).otherwise(lit(0.0))
    unimaxAllocFrame(s, d)
      .withColumn("epochs", epochsR)
      .withColumn("tokens_seen", round(col("alloc_raw"), 6))
      .withColumn("effective_tokens",
        when(col("epochs") <= 1.0, col("tokens_seen"))
          .otherwise(round(col("n_tokens") * (lit(1.0) + lit(rStar) *
            (lit(1.0) - exp((lit(1.0) - col("epochs")) / lit(rStar)))), 6)))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("epochs"), col("tokens_seen"), col("effective_tokens"),
        when(col("tokens_seen") > 0,
          round(col("effective_tokens") / col("tokens_seen"), 6))
          .otherwise(lit(0.0)).as("value_ratio"))
      .orderBy("source")
  }

  /** The q154 water-filling CTE chain (tok → … → aggd), shared with the
    * q156 oracle so both replay the identical allocation. */
  private val unimaxCtes: String =
    """tok AS (
      |  SELECT source, COUNT(*) AS n_docs,
      |    CAST(SUM(len(string_split_regex(TRIM(text), '\s+'))) AS BIGINT)
      |      AS n_tokens
      |  FROM documents GROUP BY source),
      |tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS t_all,
      |               COUNT(*) AS n_src FROM tok),
      |capped AS (SELECT source, n_docs, n_tokens,
      |    CAST(n_tokens AS DOUBLE) * 1.5 AS cap,
      |    CAST(t_all AS DOUBLE) * 2.0 AS budget, n_src
      |  FROM tok CROSS JOIN tot),
      |flagged AS (SELECT *,
      |    ROW_NUMBER() OVER (ORDER BY cap, source) AS rn,
      |    COALESCE(SUM(cap) OVER (ORDER BY cap, source
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0) AS pfx
      |  FROM capped),
      |satd AS (SELECT *,
      |    cap * (n_src - rn + 1) <= budget - pfx AS sat FROM flagged),
      |aggd AS (SELECT SUM(CASE WHEN sat THEN cap ELSE 0.0 END) AS sat_sum,
      |    CAST(SUM(CASE WHEN sat THEN 1 ELSE 0 END) AS BIGINT) AS k
      |  FROM satd)""".stripMargin

  val q154Sql: String =
    s"""WITH $unimaxCtes
      |SELECT source, n_docs, n_tokens,
      |  ROUND(cap, 6) AS capacity,
      |  CAST(CASE WHEN sat THEN 1 ELSE 0 END AS BIGINT) AS saturated,
      |  ROUND(CASE WHEN sat THEN cap
      |        ELSE (budget - sat_sum) / (n_src - k) END, 6) AS allocated,
      |  CASE WHEN n_tokens > 0 THEN ROUND(CASE WHEN sat THEN cap
      |        ELSE (budget - sat_sum) / (n_src - k) END / n_tokens, 6)
      |       ELSE 0.0 END AS epochs
      |FROM satd CROSS JOIN aggd ORDER BY source""".stripMargin

  val q156Sql: String =
    s"""WITH $unimaxCtes,
      |alloc AS (SELECT source, n_docs, n_tokens,
      |    CASE WHEN sat THEN cap
      |         ELSE (budget - sat_sum) / (n_src - k) END AS alloc_raw
      |  FROM satd CROSS JOIN aggd),
      |e AS (SELECT source, n_docs, n_tokens,
      |    CASE WHEN n_tokens > 0 THEN ROUND(alloc_raw / n_tokens, 6)
      |         ELSE 0.0 END AS epochs,
      |    ROUND(alloc_raw, 6) AS tokens_seen
      |  FROM alloc),
      |f AS (SELECT *,
      |    CASE WHEN epochs <= CAST(1.0 AS DOUBLE) THEN tokens_seen
      |         ELSE ROUND(n_tokens * (CAST(1.0 AS DOUBLE)
      |           + CAST(15.4 AS DOUBLE) * (CAST(1.0 AS DOUBLE)
      |             - EXP((CAST(1.0 AS DOUBLE) - epochs) / CAST(15.4 AS DOUBLE)))), 6)
      |    END AS effective_tokens
      |  FROM e)
      |SELECT source, n_docs, n_tokens, epochs, tokens_seen, effective_tokens,
      |  CASE WHEN tokens_seen > 0
      |       THEN ROUND(effective_tokens / tokens_seen, 6) ELSE 0.0 END
      |    AS value_ratio
      |FROM f ORDER BY source""".stripMargin

  val queries: Map[String, Q] = Map(
    "q85_temperature_mix" -> q85TemperatureMix,
    "q86_shard_assign" -> q86ShardAssign,
    "q87_ngram_novelty" -> q87NgramNovelty,
    "q148_reshard_audit" -> q148ReshardAudit,
    "q90_winsorize" -> q90Winsorize,
    "q154_unimax_budget" -> q154UnimaxBudget,
    "q156_effective_tokens" -> q156EffectiveTokens)

  val oracle: Map[String, String] = Map(
    "q85_temperature_mix" -> q85Sql,
    "q86_shard_assign" -> q86Sql,
    "q87_ngram_novelty" -> q87Sql,
    "q148_reshard_audit" -> q148Sql,
    "q90_winsorize" -> q90Sql,
    "q154_unimax_budget" -> q154Sql,
    "q156_effective_tokens" -> q156Sql)
}
