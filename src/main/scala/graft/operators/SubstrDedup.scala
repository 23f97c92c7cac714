package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Exact substring-span deduplication: the sliding-window twin of the
  * shingle/MinHash family. A doc's K-token gram at position i duplicates
  * another doc iff the SAME K tokens appear contiguously in BOTH — the
  * "exact substring" dedup modality (Lee et al. 2022, "Deduplicating
  * Training Data Makes Language Models Better"), which catches verbatim
  * boilerplate/quotation overlap that whole-doc hashing (q24) misses and
  * near-dup sketches (q26–q28) only approximate. Instead of a suffix
  * array (inherently sequential), the distributed shape is positional
  * gram counting:
  *
  *   1. explode each doc into its size−K+1 sliding K-grams — rows ∝
  *      total token count, the same budget as the shingle family;
  *   2. collapse to one row per (gram, doc) carrying the within-doc
  *      position count — the FIRST shuffle keys on (gram, doc_id), so a
  *      boilerplate gram shared by a million docs still spreads over the
  *      cluster instead of hot-keying one reducer;
  *   3. per-gram distinct-doc count via a second, map-side-collapsing
  *      aggregate (reducers see per-mapper partials, not raw rows);
  *   4. join the (small — only cross-doc-duplicated grams survive the
  *      nd>1 filter) dup set back onto the collapsed rows. AQE can
  *      broadcast it at runtime; a skewed probe side splits cleanly
  *      because the build side has exactly one row per gram;
  *   5. re-aggregate per doc, then per source: span coverage as pure
  *      longs (position counts), hash-exact across engines.
  *
  * No pair set is ever materialized — coverage is a per-position
  * property, so an N-doc template cluster costs O(N·positions), never
  * O(N²).
  *
  * Steps 2–4 key on the gram STRING, which DuckDB replays exactly.
  */
object SubstrDedup {

  type Q = (SparkSession, String) => DataFrame

  /** Span width in tokens. 12 is small enough that the sf0.01 synthetic
    * corpus has real cross-doc spans to find, large enough that chance
    * 12-gram collisions in natural text are negligible (Lee et al. use
    * 50 BPE tokens ≈ this order of magnitude in words). */
  val DefaultSpanTokens = 12

  /** Tokenized view shared by the audit and the removal transform:
    * (doc_id, source, l = token array). Same repartition contract as
    * [[DedupOps]]' shingle views: a small corpus arrives as one parquet
    * split, and without the explicit count AQE would coalesce the whole
    * gram pipeline onto one core. */
  private def tokenized(docs: DataFrame): DataFrame = {
    val nPar = docs.sparkSession.sparkContext.defaultParallelism
    docs
      .repartition(nPar, col("doc_id"))
      .select(col("doc_id"), col("source"), split(trim(col("text")), "\\s+").as("l"))
  }

  /** One row per sliding K-gram position: (doc_id, source, gram). */
  private def gramPositions(docs: DataFrame, k: Int): DataFrame = {
    require(k >= 2, s"span width $k too small: a 1-token 'span' is just q52's token histogram")
    val toks = tokenized(docs).filter(size(col("l")) >= k)
    // The token array is a materialized column (not inlined in the lambda)
    // for the same CSE reason as DedupOps.docShinglesOf.
    val gramsCol = expr(
      s"transform(sequence(1, size(l) - ${k - 1}), i -> concat_ws(' ', slice(l, i, $k)))")
    toks.select(col("doc_id"), col("source"), explode(gramsCol).as("gram"))
  }

  /** Per-source span-coverage audit over any (doc_id, source, text) frame:
    * (source, n_docs, docs_with_dup_span, sum_dup_pos, sum_total_pos).
    * `n_docs` counts docs with ≥k tokens (shorter docs have no spans);
    * `dup_pos` counts gram positions whose gram appears in ≥2 distinct
    * docs. All-long output → hash-exact across engines. */
  def substrSpanCoverage(docs: DataFrame, k: Int = DefaultSpanTokens): DataFrame = {
    val g = gramPositions(docs, k)
    // One row per (gram, doc): shuffle keys include doc_id, so hot grams
    // distribute; n_pos preserves within-doc repetition for the coverage sum.
    // It feeds both the cross-doc duplicate aggregate and the coverage
    // join and stays lazy, so the gram explode + aggregate runs twice
    // (Spark shares no subtrees): a barrier measured slower than the
    // double pass at sf0.1 (round-16 driver: q98 0.79)
    val perGramDoc = g.groupBy("gram", "doc_id", "source")
      .agg(count(lit(1)).as("n_pos"))
    // Cross-doc duplicated grams only: input already collapsed to one row
    // per (gram, doc), so count(*) IS the distinct-doc count and the
    // partial aggregate bounds any reducer at ≤ #mappers rows per gram.
    val dupGrams = perGramDoc.groupBy("gram")
      .agg(count(lit(1)).as("nd"))
      .where(col("nd") > 1)
      .select(col("gram"), lit(1).as("isdup"))
    perGramDoc.join(dupGrams, Seq("gram"), "left")
      .groupBy("doc_id", "source")
      .agg(sum("n_pos").as("total_pos"),
           sum(when(col("isdup").isNotNull, col("n_pos")).otherwise(lit(0L))).as("dup_pos"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
           count(when(col("dup_pos") > 0, lit(1))).as("docs_with_dup_span"),
           sum("dup_pos").as("sum_dup_pos"),
           sum("total_pos").as("sum_total_pos"))
      .orderBy("source")
  }

  /** q98: exact substring-span dedup audit on the documents table. */
  val q98SubstrSpans: Q = (s, d) => substrSpanCoverage(documents(s, d))

  private val q98Sql: String = {
    val k = DefaultSpanTokens
    s"""WITH t AS (SELECT doc_id, source, string_split_regex(TRIM(text), '\\s+') AS toks
       |           FROM documents),
       |p AS (SELECT doc_id, source, unnest(range(1, len(toks) - ${k - 2})) AS i, toks
       |      FROM t WHERE len(toks) >= $k),
       |g AS (SELECT doc_id, source, array_to_string(toks[i:i+${k - 1}], ' ') AS gram FROM p),
       |d AS (SELECT gram FROM g GROUP BY gram HAVING COUNT(DISTINCT doc_id) > 1),
       |c AS (SELECT g.doc_id, g.source, COUNT(*) AS total_pos, COUNT(d.gram) AS dup_pos
       |      FROM g LEFT JOIN d USING (gram) GROUP BY g.doc_id, g.source)
       |SELECT source, COUNT(*) AS n_docs,
       |  COUNT(*) FILTER (dup_pos > 0) AS docs_with_dup_span,
       |  CAST(SUM(dup_pos) AS BIGINT) AS sum_dup_pos,
       |  CAST(SUM(total_pos) AS BIGINT) AS sum_total_pos
       |FROM c GROUP BY source ORDER BY source""".stripMargin
  }

  /** Exact-substring-span REMOVAL — the transform the audit above only
    * measures, and the operation Lee et al. 2022 actually run over their
    * training corpora: every K-token span that occurs more than once in
    * the corpus (across docs OR repeated within one doc) is dropped from
    * every occurrence EXCEPT one canonical keeper, and the surviving
    * tokens are re-joined into the cleaned document.
    *
    * Semantics (deterministic, engine-independent):
    *  - a K-gram occurrence is (doc_id, pos), pos 1-based over the
    *    whitespace token array;
    *  - a gram is duplicated iff its total occurrence count > 1;
    *  - the canonical keeper of a duplicated gram is its minimum
    *    (doc_id, pos) occurrence — lexicographic, so consecutive grams of
    *    one long duplicated span keep the SAME earliest document and the
    *    whole span survives there contiguously;
    *  - a token index is removed iff some NON-canonical duplicated-gram
    *    occurrence [pos, pos+K−1] covers it; the kept tokens are the
    *    complement, in original order.
    *
    * Distributed shape — q98's shuffles, no pair set, no per-token rows:
    *  1. gram explode (rows ∝ token mass, as the audit);
    *  2. per-gram aggregate carrying count + min(struct(doc_id, pos)) —
    *     both map-side combinable partials, so a million-occurrence
    *     boilerplate gram arrives at its reducer as per-mapper partials;
    *  3. join the (duplicated-only, one row per gram) canon table back —
    *     AQE broadcasts it when small, and a skewed probe side splits
    *     cleanly against the single-row build side;
    *  4. per-doc collect of removable start positions (bounded by the
    *     doc's own length — never corpus-sized);
    *  5. the rewrite itself is a pure ARRAY computation per doc: because
    *     every removable interval has the same width K, sorted starts a,b
    *     leave a gap iff b > a+K, so the kept tokens are the flattened
    *     gap slices — one zip_with over the starts, O(tokens + starts),
    *     no explode, no scan-order dependence.
    *
    * Returns (doc_id, source, text_clean, n_tokens, n_kept). Conservation
    * (n_kept + removed = n_tokens) and idempotence on a non-pathological
    * corpus are spec-pinned (SubstrRemovalSpec). Shuffles 2–3 key on the
    * gram string, as the audit's do. */
  def removeDuplicateSpans(docs: DataFrame, k: Int = DefaultSpanTokens): DataFrame = {
    require(k >= 2, s"span width $k too small")
    val toks = tokenized(docs)
    val gramsCol = expr(
      s"transform(sequence(1, size(l) - ${k - 1}), i -> concat_ws(' ', slice(l, i, $k)))")
    val g0 = toks.filter(size(col("l")) >= k)
      .select(col("doc_id"), posexplode(gramsCol).as(Seq("p0", "gram")))
      .select(col("doc_id"), (col("p0") + 1).as("pos"), col("gram"))
    val canon = g0.groupBy("gram")
      .agg(count(lit(1)).as("cnt"),
           min(struct(col("doc_id"), col("pos"))).as("canon"))
      .where(col("cnt") > 1)
      .select("gram", "canon")
    val removableStarts = g0.join(canon, Seq("gram"))
      .filter(!(col("doc_id") === col("canon.doc_id") && col("pos") === col("canon.pos")))
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("pos"))).as("starts"))
    val keptCol = keptTokensExpr(k)
    toks.join(removableStarts, Seq("doc_id"), "left")
      .withColumn("kept", when(col("starts").isNull, col("l")).otherwise(keptCol))
      .select(col("doc_id"), col("source"),
        concat_ws(" ", col("kept")).as("text_clean"),
        size(col("l")).cast("long").as("n_tokens"),
        size(col("kept")).cast("long").as("n_kept"))
  }

  /** The gap-slice rewrite over columns `l` (token array) and `starts`
    * (sorted 1-based removable start positions): kept tokens = the
    * complement of the union of the width-`k` intervals. Equal-width
    * intervals mean consecutive sorted starts a < b overlap-or-touch iff
    * b ≤ a+k, so the kept tokens are exactly the head gap, the
    * between-gaps, and the tail gap — each a slice of the original token
    * array; O(tokens + starts), no explode, no scan-order dependence.
    * slice(_, _, 0) is the empty array, so zero-width head gaps need no
    * guard; the tail/between widths are IF-guarded because a negative
    * slice length is an error. */
  private[graft] def keptTokensExpr(k: Int): org.apache.spark.sql.Column = expr(
    s"""flatten(concat(
       |  array(slice(l, 1, element_at(starts, 1) - 1)),
       |  zip_with(slice(starts, 1, size(starts) - 1), slice(starts, 2, size(starts) - 1),
       |    (a, b) -> IF(b > a + $k, slice(l, a + $k, b - a - $k), array())),
       |  array(IF(size(l) - element_at(starts, -1) - ${k - 1} > 0,
       |           slice(l, element_at(starts, -1) + $k,
       |                 size(l) - element_at(starts, -1) - ${k - 1}),
       |           array()))))""".stripMargin)

  /** q122: the removal transform as a gate query — per-source token-mass
    * waterfall of the cleaned corpus (all longs → hash-exact): how many
    * docs were rewritten, and where the removed mass went. */
  val q122SubstrRemoval: Q = (s, d) => {
    removeDuplicateSpans(documents(s, d))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        count(when(col("n_kept") < col("n_tokens"), lit(1))).as("docs_rewritten"),
        sum("n_tokens").as("sum_orig_tokens"),
        sum("n_kept").as("sum_kept_tokens"),
        sum(col("n_tokens") - col("n_kept")).as("sum_removed_tokens"))
      .orderBy("source")
  }

  /** Oracle twin: same duplicated-gram + canonical-min semantics; the
    * removed-token count is computed the transparent way (explode each
    * removable interval into its K indices, COUNT(DISTINCT) per doc) —
    * different algorithm, identical integers, which is exactly what makes
    * the cross-engine hash a real check of the gap-slice rewrite. */
  private val q122Sql: String = {
    val k = DefaultSpanTokens
    s"""WITH t AS (SELECT doc_id, source, string_split_regex(TRIM(text), '\\s+') AS toks
       |           FROM documents),
       |p AS (SELECT doc_id, unnest(range(1, len(toks) - ${k - 2})) AS i, toks
       |      FROM t WHERE len(toks) >= $k),
       |g AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
       |             array_to_string(toks[i:i+${k - 1}], ' ') AS gram FROM p),
       |m AS (SELECT doc_id, pos, COUNT(*) OVER (PARTITION BY gram) AS c,
       |        ROW_NUMBER() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rn FROM g),
       |r AS (SELECT doc_id, pos FROM m WHERE c > 1 AND rn > 1),
       |cov AS (SELECT DISTINCT doc_id, pos + u.u AS idx
       |        FROM r CROSS JOIN (SELECT unnest(range(0, $k)) AS u) u),
       |pc AS (SELECT doc_id, COUNT(*) AS removed FROM cov GROUP BY doc_id),
       |d AS (SELECT t.doc_id, t.source, len(t.toks) AS n_tokens,
       |             COALESCE(pc.removed, 0) AS removed
       |      FROM t LEFT JOIN pc USING (doc_id))
       |SELECT source, COUNT(*) AS n_docs,
       |  CAST(COUNT(*) FILTER (removed > 0) AS BIGINT) AS docs_rewritten,
       |  CAST(SUM(n_tokens) AS BIGINT) AS sum_orig_tokens,
       |  CAST(SUM(n_tokens - removed) AS BIGINT) AS sum_kept_tokens,
       |  CAST(SUM(removed) AS BIGINT) AS sum_removed_tokens
       |FROM d GROUP BY source ORDER BY source""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "q98_substr_spans" -> q98SubstrSpans,
    "q122_substr_removal" -> q122SubstrRemoval)
  val oracle: Map[String, String] = Map(
    "q98_substr_spans" -> q98Sql,
    "q122_substr_removal" -> q122Sql)
}
