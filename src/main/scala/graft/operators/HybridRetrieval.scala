package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._

/** q117: hybrid lexical + vector retrieval with reciprocal-rank fusion —
  * the standard two-tower RAG serving shape: a lexical ranker (token-set
  * Jaccard against the query document) and a semantic ranker (cosine over
  * the id-aligned embedding) each produce a top-N list, and the final
  * order is RRF: score(d) = Σ_rankers 1/(60 + rank_r(d)) (Cormack et al.
  * 2009's k = 60), which needs no score calibration between rankers.
  *
  * Scale shape: BOTH rankers are broadcast-panel passes (|queries| tiny):
  * the lexical side distinct-tokenizes the corpus once and scores
  * |queries|×|docs| set overlaps in one codegen'd pass; the semantic side
  * is q33's broadcast cosine. Each ranker top-N's via a per-query rank
  * window (WindowGroupLimit-pruned), the two lists full-outer join on
  * (query, candidate) — ≤ 2N rows per query — and fusion arithmetic is
  * exact: ranks are integers, 1/(60+rk) is rounded to 6dp before the
  * (at-most-two-term) sum, so cross-engine order is bit-stable.
  *
  * The fused list is deliberately computed from ranks, not raw scores —
  * the property RRF exists for: a ranker whose score scale drifts (new
  * embedding model, different lexical weighting) cannot dominate fusion.
  */
object HybridRetrieval {

  type Q = (SparkSession, String) => DataFrame

  val q117HybridRrf: Q = (s, d) => {
    val topN = 20
    val docs = documents(s, d)
    val emb = embeddings(s, d)
    val qIds = Seq(0L, 1L, 2L)

    // --- lexical ranker: distinct-token Jaccard vs the query document
    val toks = docs.select(col("doc_id"),
      array_distinct(TextOps.tokens(col("text"))).as("ts"))
    val qTok = broadcast(toks.filter(col("doc_id").isInCollection(qIds))
      .select(col("doc_id").as("query_id"), col("ts").as("qts")))
    val lexScored = qTok.join(toks, col("query_id") =!= col("doc_id"))
      .select(col("query_id"), col("doc_id").as("cand"),
        round(size(array_intersect(col("qts"), col("ts"))).cast("double") /
          size(array_union(col("qts"), col("ts"))), 6).as("lex_sim"))
    val wl = Window.partitionBy("query_id").orderBy(desc("lex_sim"), col("cand"))
    val lex = lexScored.withColumn("rk_lex", row_number().over(wl))
      .filter(col("rk_lex") <= topN).select("query_id", "cand", "rk_lex")

    // --- semantic ranker: cosine over the id-aligned embeddings
    val qv = broadcast(emb.filter(col("vec_id").isInCollection(qIds))
      .select(col("vec_id").as("query_id"), col("embedding").as("qv")))
    val vecScored = qv.join(
      emb.select(col("vec_id").as("cand"), col("embedding").as("tv")),
      col("query_id") =!= col("cand"))
      .select(col("query_id"), col("cand"),
        round(graft.functions.CosineSimilarity(col("qv"), col("tv")), 6)
          .as("vec_sim"))
    val wv = Window.partitionBy("query_id").orderBy(desc("vec_sim"), col("cand"))
    val vec = vecScored.withColumn("rk_vec", row_number().over(wv))
      .filter(col("rk_vec") <= topN).select("query_id", "cand", "rk_vec")

    // --- reciprocal-rank fusion over the union of the two lists
    val fusedScore =
      round(coalesce(round(lit(1.0) / (lit(60) + col("rk_lex")), 6), lit(0.0)) +
        coalesce(round(lit(1.0) / (lit(60) + col("rk_vec")), 6), lit(0.0)), 6)
    val wf = Window.partitionBy("query_id").orderBy(desc("rrf"), col("cand"))
    lex.join(vec, Seq("query_id", "cand"), "full_outer")
      .withColumn("rrf", fusedScore)
      .withColumn("rk", row_number().over(wf))
      .filter(col("rk") <= 5)
      .select(col("query_id"), col("cand"), col("rk_lex"), col("rk_vec"),
        col("rrf"), col("rk"))
      .orderBy("query_id", "rk")
  }

  val q117Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, list_distinct(string_split_regex(TRIM(text), '\s+')) AS ts
      |  FROM documents),
      |qtok AS (SELECT doc_id AS query_id, ts AS qts FROM toks WHERE doc_id < 3),
      |lexs AS (
      |  SELECT query_id, t.doc_id AS cand,
      |    ROUND(len(list_intersect(qts, ts))
      |          / CAST(len(list_distinct(list_concat(qts, ts))) AS DOUBLE), 6)
      |      AS lex_sim
      |  FROM qtok JOIN toks t ON query_id <> t.doc_id),
      |lex AS (SELECT query_id, cand, rk_lex FROM (
      |  SELECT query_id, cand,
      |    ROW_NUMBER() OVER (PARTITION BY query_id
      |                       ORDER BY lex_sim DESC, cand) AS rk_lex
      |  FROM lexs) WHERE rk_lex <= 20),
      |qv AS (SELECT vec_id AS query_id, embedding AS qv
      |       FROM embeddings WHERE vec_id < 3),
      |vecs AS (
      |  SELECT query_id, t.vec_id AS cand,
      |    ROUND(
      |      list_sum(list_transform(range(1, len(qv) + 1),
      |               i -> CAST(qv[i] AS DOUBLE) * CAST(t.embedding[i] AS DOUBLE)))
      |      / (SQRT(list_sum(list_transform(qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
      |         * SQRT(list_sum(list_transform(t.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6)
      |      AS vec_sim
      |  FROM qv JOIN embeddings t ON query_id <> t.vec_id),
      |vec AS (SELECT query_id, cand, rk_vec FROM (
      |  SELECT query_id, cand,
      |    ROW_NUMBER() OVER (PARTITION BY query_id
      |                       ORDER BY vec_sim DESC, cand) AS rk_vec
      |  FROM vecs) WHERE rk_vec <= 20),
      |fused AS (
      |  SELECT COALESCE(lex.query_id, vec.query_id) AS query_id,
      |    COALESCE(lex.cand, vec.cand) AS cand, rk_lex, rk_vec,
      |    ROUND(COALESCE(ROUND(1.0 / (60 + rk_lex), 6), 0.0)
      |        + COALESCE(ROUND(1.0 / (60 + rk_vec), 6), 0.0), 6) AS rrf
      |  FROM lex FULL OUTER JOIN vec USING (query_id, cand))
      |SELECT query_id, cand, rk_lex, rk_vec, rrf, rk FROM (
      |  SELECT query_id, cand, rk_lex, rk_vec, rrf,
      |    ROW_NUMBER() OVER (PARTITION BY query_id
      |                       ORDER BY rrf DESC, cand) AS rk
      |  FROM fused) WHERE rk <= 5
      |ORDER BY query_id, rk""".stripMargin

  /** q136: BM25 ranking (Robertson–Spärck Jones, the Okapi weighting every
    * lexical retrieval stack ships) against a corpus-derived term panel —
    * the top-8 document-frequency tokens (a worst-case panel by design:
    * the hottest posting lists). score(d) = Σ_t idf(t) · tf·(k1+1) /
    * (tf + k1·(1 − b + b·dl/avgdl)) with the standard k1 = 1.2, b = 0.75
    * and the Lucene-style non-negative idf ln(1 + (N − df + ½)/(df + ½)).
    *
    * Scale shape: tf/df/dl are the q62 partial-agg tables (map-side
    * collapse before any shuffle); the term PANEL (8 rows), N, and avgdl
    * are broadcast, so scoring is one broadcast-hash-join pass over the
    * tf table — no shuffle keyed on the hot tokens themselves; the only
    * corpus-sized shuffle is the per-doc score sum on high-cardinality
    * doc_id. Determinism is the q62/q63 policy: per-term contribution
    * rounded to 6dp, order-free DECIMAL(38,6) summation, final ranking on
    * the rounded score tie-broken by doc_id. avgdl is exact-by-integer
    * arithmetic (Σdl and N are exact longs) so the double division is
    * bit-stable across engines. */
  def bm25(docs: DataFrame, panelSize: Int = 8, topK: Int = 20): DataFrame = {
    val (k1, b) = (1.2, 0.75)
    // ONE tokenize pass: tf fed the df aggregate and the scoring join,
    // and dl re-tokenized the corpus twice more (size(tokens) for the
    // stats and the scoring join) — four regex passes over the text in
    // the plan, one after. dl is derived from tf exactly: Σ_t tf(d,t) is
    // the doc's token count by construction, with zero-token docs (which
    // have no tf rows) restored by a text-free doc_id join — so n_docs
    // and avgdl are bit-identical to the size(tokens) form.
    val tf = StageMaterialize(docs
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf")))
    val dl = docs.select(col("doc_id"))
      .join(tf.groupBy("doc_id").agg(sum(col("tf")).as("tdl")), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("tdl"), lit(0L)).as("dl"))
    val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val panel = broadcast(
      dfreq.orderBy(desc("df"), col("token")).limit(panelSize))
    val stats = broadcast(dl.agg(count(lit(1)).as("n_docs"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl")))
    // float-parity care: every constant is a LITERAL both engines parse
    // identically (k1 + 1 computed in Scala could round differently from
    // a parsed "2.2"), and the multiplication tree is parenthesized the
    // same way in the oracle SQL — double mult is not associative
    val idf = log(lit(1.0) +
      (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val wTf = col("tf") * lit(2.2) /
      (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl")))
    val contrib = tf.join(panel, Seq("token"))
      .join(dl, Seq("doc_id"))
      .crossJoin(stats)
      .select(col("doc_id"), round(idf * wTf, 6).as("c"))
    // top-k via orderBy+limit (TakeOrderedAndProject: per-partition heaps,
    // no global sort); the rank window then runs over 20 rows, not the
    // corpus — a global row_number BEFORE the cut would funnel every
    // scored doc through one WindowExec task
    val w = Window.orderBy(desc("bm25"), col("doc_id"))
    contrib.groupBy("doc_id")
      .agg(count(lit(1)).as("n_terms_hit"),
        round(sum(col("c").cast(org.apache.spark.sql.types.DecimalType(38, 6)))
          .cast("double"), 6).as("bm25"))
      .orderBy(desc("bm25"), col("doc_id")).limit(topK)
      .withColumn("rank", row_number().over(w))
      .select(col("rank"), col("doc_id"), col("n_terms_hit"), col("bm25"))
      .orderBy("rank")
  }

  val q136Bm25: Q = (s, d) => bm25(documents(s, d))

  val q136Sql: String =
    """WITH l AS (SELECT doc_id, string_split_regex(TRIM(text), '\s+') AS l FROM documents),
      |tok AS (SELECT doc_id, unnest(l) AS token FROM l),
      |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
      |dl AS (SELECT doc_id, len(l) AS dl FROM l),
      |df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
      |panel AS (SELECT token, df FROM df ORDER BY df DESC, token LIMIT 8),
      |stats AS (SELECT COUNT(*) AS n_docs,
      |                 CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl),
      |contrib AS (
      |  SELECT tf.doc_id,
      |    ROUND(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
      |      * (tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))), 6) AS c
      |  FROM tf JOIN panel USING (token) JOIN dl USING (doc_id) CROSS JOIN stats),
      |scored AS (
      |  SELECT doc_id, COUNT(*) AS n_terms_hit,
      |    ROUND(CAST(SUM(CAST(c AS DECIMAL(38,6))) AS DOUBLE), 6) AS bm25
      |  FROM contrib GROUP BY doc_id)
      |SELECT rank, doc_id, n_terms_hit, bm25 FROM (
      |  SELECT *, ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS rank
      |  FROM scored) WHERE rank <= 20 ORDER BY rank""".stripMargin

  val queries: Map[String, Q] = Map(
    "q117_hybrid_rrf" -> q117HybridRrf,
    "q136_bm25" -> q136Bm25)
  val oracle: Map[String, String] = Map(
    "q117_hybrid_rrf" -> q117Sql,
    "q136_bm25" -> q136Sql)
}
