package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}
import graft.Tables._

/** Approximate-nearest-neighbor operators over the `embeddings` table
  * (`embedding: array<float>`, 64-dim).
  *
  * Three implementations of cosine top-k:
  *  - [[q33AnnNative]]: the production path — queries broadcast, one
  *    narrow pass of the native codegen'd cosine over targets, top-k via
  *    window.
  *  - [[q29BruteForceTopK]]: the oracle-checkable variant — element rows +
  *    exact DECIMAL dot products so Spark and DuckDB sum identically.
  *  - [[q30IvfTopK]]: the scale path — coarse quantization by sign-bit LSH
  *    (random-hyperplane via md5 parity) restricts candidates to matching
  *    buckets before exact scoring; probes the query's bucket only.
  *    At 100 TB the bucket id becomes the partition/bucketing key so a
  *    probe touches one partition instead of the full corpus.
  */
object SimilarityOps {

  type Q = (SparkSession, String) => DataFrame

  /** q33: the production ANN path as a checked query — native codegen'd
    * cosine (no decimal detour: the fused loop is strictly sequential, so
    * doubles are bitwise deterministic and DuckDB's in-order list fold
    * reproduces them), broadcast queries, one narrow scoring pass, window
    * top-5. Same answer shape as q29 at a fraction of the plan.
    */
  val q33AnnNative: Q = (s, d) => {
    val emb = embeddings(s, d)
    val q = broadcast(emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv")))
    val t = emb.select(col("vec_id").as("target_id"), col("embedding").as("tv"))
    // rank on the ROUNDED sim (mirrored in the oracle) so sub-1e-6 score
    // gaps can't produce engine-dependent orderings
    val scored = q.join(t, col("query_id") =!= col("target_id"))
      .withColumn("sim", round(graft.functions.CosineSimilarity(col("qv"), col("tv")), 6))
    val w = Window.partitionBy("query_id").orderBy(desc("sim"), col("target_id"))
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= 5)
      .select("query_id", "target_id", "sim", "rk")
      .orderBy("query_id", "rk")
  }
  val q33Sql: String =
    """WITH scored AS (
      |  SELECT q.vec_id AS query_id, t.vec_id AS target_id,
      |    ROUND(
      |      list_sum(list_transform(range(1, len(q.embedding) + 1),
      |               i -> CAST(q.embedding[i] AS DOUBLE) * CAST(t.embedding[i] AS DOUBLE)))
      |      / (SQRT(list_sum(list_transform(q.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
      |         * SQRT(list_sum(list_transform(t.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) AS sim
      |  FROM embeddings q JOIN embeddings t ON q.vec_id <> t.vec_id
      |  WHERE q.vec_id < 5)
      |SELECT query_id, target_id, sim, rk FROM (
      |  SELECT query_id, target_id, sim,
      |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, target_id) AS rk
      |  FROM scored) WHERE rk <= 5
      |ORDER BY query_id, rk""".stripMargin

  /** q29: oracle-checkable brute-force cosine top-5 for query vectors
    * vec_id < 5. Dot/norm sums go through DECIMAL(38,12) so accumulation
    * order can't move bits; the final similarity is rounded to 6dp.
    *
    * Norms are factored OUT of the pair aggregation: per-vector ‖v‖² is one
    * narrow per-vector pass (O(n·d)), the pair agg sums only dot products
    * (O(pairs·d) → 1 decimal sum instead of 3), and the tiny norm tables
    * join back broadcast. At 100 TB recomputing norms per candidate pair is
    * the classic accidental-quadratic-work bug; this is the shape that
    * avoids it (and measured ~3.1 s → ~2 s at sf0.1). */
  val q29BruteForceTopK: Q = (s, d) => {
    val emb = embeddings(s, d)
    // elems feeds the norms aggregate, the query slice AND the dot join;
    // norms feeds both sides of the rescore. Both stay lazy, so the
    // posexplode (N·dim rows) runs once per consumer: barriers on the two
    // measured slower than that recompute at sf0.1 (round-16 driver: q29
    // 0.90)
    val elems = emb.select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .withColumn("x", col("x").cast(DoubleType))
    val norms = elems.groupBy("vec_id")
      .agg(sum((col("x") * col("x")).cast(DecimalType(38, 12))).cast(DoubleType).as("nrm"))
    val qe = elems.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("pos"), col("x").as("qx"))
    val dots = qe.join(elems.select(col("vec_id").as("target_id"), col("pos"), col("x").as("tx")), Seq("pos"))
      .filter(col("query_id") =!= col("target_id"))
      .groupBy("query_id", "target_id")
      .agg(sum((col("qx") * col("tx")).cast(DecimalType(38, 12))).cast(DoubleType).as("dot"))
    val scored = dots
      .join(broadcast(norms.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("nrm").as("qq"))), Seq("query_id"))
      .join(norms.select(col("vec_id").as("target_id"), col("nrm").as("tt")), Seq("target_id"))
      .withColumn("sim", round(col("dot") / (sqrt(col("qq")) * sqrt(col("tt"))), 6))
    val w = Window.partitionBy("query_id").orderBy(desc("sim"), col("target_id"))
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= 5)
      .select("query_id", "target_id", "sim", "rk")
      .orderBy("query_id", "rk")
  }
  val q29Sql: String =
    """WITH elems AS (
      |  SELECT vec_id, CAST(unnest(range(len(embedding))) AS INT) AS pos,
      |         CAST(unnest(embedding) AS DOUBLE) AS x
      |  FROM embeddings),
      |norms AS (
      |  SELECT vec_id, CAST(SUM(CAST(x * x AS DECIMAL(38,12))) AS DOUBLE) AS nrm
      |  FROM elems GROUP BY vec_id),
      |dots AS (
      |  SELECT q.vec_id AS query_id, t.vec_id AS target_id,
      |    CAST(SUM(CAST(q.x * t.x AS DECIMAL(38,12))) AS DOUBLE) AS dot
      |  FROM elems q JOIN elems t ON q.pos = t.pos AND q.vec_id <> t.vec_id
      |  WHERE q.vec_id < 5
      |  GROUP BY 1, 2),
      |scored AS (
      |  SELECT d.query_id, d.target_id,
      |    ROUND(d.dot / (SQRT(nq.nrm) * SQRT(nt.nrm)), 6) AS sim
      |  FROM dots d
      |  JOIN norms nq ON nq.vec_id = d.query_id
      |  JOIN norms nt ON nt.vec_id = d.target_id)
      |SELECT query_id, target_id, sim, rk FROM (
      |  SELECT query_id, target_id, sim,
      |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, target_id) AS rk
      |  FROM scored) WHERE rk <= 5
      |ORDER BY query_id, rk""".stripMargin

  /** Sign-bit LSH bucket id from nPlanes pseudo-random hyperplanes: plane
    * p's weight for dimension i is ±1 by the parity of hex digit (i mod 32)
    * of md5("p:<p>:<i>") — deterministic, library-free, reproducible in SQL.
    * Compiled kernel ([[graft.functions.HashKernels.signBuckets]]): exact
    * decimal accumulation per plane keeps near-zero projection signs
    * order-independent and identical to the oracle's decimal SUM, while the
    * whole bucket is one narrow pass instead of nPlanes interpreted HOF
    * aggregates (the round-1 shape — 2-3 s/query at sf0.1).
    */
  private def bucketExpr(nPlanes: Int): Column =
    graft.functions.HashKernels.signBuckets(nPlanes, dims = 64)(col("embedding"))

  /** q30: IVF/LSH-bucketed ANN: assign every vector to a sign-bit bucket,
    * then score query vectors (vec_id < 5) only against same-bucket
    * targets. Output: per query, its bucket, candidate count, and top-3
    * candidates by exact (decimal) cosine within the bucket.
    */
  val q30IvfTopK: Q = (s, d) => {
    val emb = embeddings(s, d).withColumn("bucket", bucketExpr(8))
    val buckets = emb.select("vec_id", "bucket")
    // exact per-pair cosine restricted to same-bucket pairs, via the same
    // decimal element path as q29 for determinism
    val elems = emb.select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .withColumn("x", col("x").cast(DoubleType))
    val qb = buckets.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("bucket"))
    val cand = qb.join(buckets.select(col("vec_id").as("target_id"), col("bucket")), Seq("bucket"))
      .filter(col("query_id") =!= col("target_id"))
    val qe = elems.select(col("vec_id").as("query_id"), col("pos"), col("x").as("qx"))
    val te = elems.select(col("vec_id").as("target_id"), col("pos"), col("x").as("tx"))
    // norms factored out of the pair agg (see q29): one per-vector pass,
    // pair agg carries a single decimal sum
    val norms = elems.groupBy("vec_id")
      .agg(sum((col("x") * col("x")).cast(DecimalType(38, 12))).cast(DoubleType).as("nrm"))
    val scored = cand.join(qe, Seq("query_id")).join(te, Seq("target_id", "pos"))
      .groupBy("query_id", "bucket", "target_id")
      .agg(sum((col("qx") * col("tx")).cast(DecimalType(38, 12))).cast(DoubleType).as("dot"))
      .join(broadcast(norms.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("nrm").as("qq"))), Seq("query_id"))
      .join(norms.select(col("vec_id").as("target_id"), col("nrm").as("tt")), Seq("target_id"))
      .withColumn("sim", round(col("dot") / (sqrt(col("qq")) * sqrt(col("tt"))), 6))
    val w = Window.partitionBy("query_id").orderBy(desc("sim"), col("target_id"))
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= 3)
      .select("query_id", "bucket", "target_id", "sim", "rk")
      .orderBy("query_id", "rk")
  }
  val q30Sql: String =
    """WITH planes AS (
      |  SELECT p, i,
      |    CAST((ascii(SUBSTR(md5('p:' || CAST(p AS VARCHAR) || ':' || CAST(i AS VARCHAR)),
      |                       (i % 32) + 1, 1)) % 2) * 2 - 1 AS DOUBLE) AS w
      |  FROM range(0, 8) r(p), range(0, 64) d(i)),
      |elems AS (
      |  SELECT vec_id, CAST(unnest(range(len(embedding))) AS INT) AS pos,
      |         CAST(unnest(embedding) AS DOUBLE) AS x
      |  FROM embeddings),
      |proj AS (
      |  SELECT e.vec_id, pl.p, SUM(CAST(e.x * pl.w AS DECIMAL(38,12))) AS s
      |  FROM elems e JOIN planes pl ON pl.i = e.pos
      |  GROUP BY 1, 2),
      |buckets AS (
      |  SELECT vec_id,
      |    CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << CAST(p AS INT)) ELSE 0 END) AS BIGINT) AS bucket
      |  FROM proj GROUP BY vec_id),
      |cand AS (
      |  SELECT q.vec_id AS query_id, q.bucket, t.vec_id AS target_id
      |  FROM buckets q JOIN buckets t ON q.bucket = t.bucket AND q.vec_id <> t.vec_id
      |  WHERE q.vec_id < 5),
      |norms AS (
      |  SELECT vec_id, CAST(SUM(CAST(x * x AS DECIMAL(38,12))) AS DOUBLE) AS nrm
      |  FROM elems GROUP BY vec_id),
      |dots AS (
      |  SELECT c.query_id, c.bucket, c.target_id,
      |    CAST(SUM(CAST(qe.x * te.x AS DECIMAL(38,12))) AS DOUBLE) AS dot
      |  FROM cand c
      |  JOIN elems qe ON qe.vec_id = c.query_id
      |  JOIN elems te ON te.vec_id = c.target_id AND te.pos = qe.pos
      |  GROUP BY 1, 2, 3),
      |scored AS (
      |  SELECT d.query_id, d.bucket, d.target_id,
      |    ROUND(d.dot / (SQRT(nq.nrm) * SQRT(nt.nrm)), 6) AS sim
      |  FROM dots d
      |  JOIN norms nq ON nq.vec_id = d.query_id
      |  JOIN norms nt ON nt.vec_id = d.target_id)
      |SELECT query_id, bucket, target_id, sim, rk FROM (
      |  SELECT query_id, bucket, target_id, sim,
      |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, target_id) AS rk
      |  FROM scored) WHERE rk <= 3
      |ORDER BY query_id, rk""".stripMargin

  /** q32: embedding-cosine near-duplicate pairs — the dedup-flavored LSH
    * path: 12 sign-bit planes split into 2 bands of 6; candidate pairs
    * agree on ≥1 band key (union across bands = standard banded-LSH
    * recall boost); candidates re-scored with the exact decimal cosine and
    * kept at sim ≥ 0.45.
    *
    * Scale contract: shuffle volume ∝ vectors × bands (each vector emits 2
    * (band, key) rows), never ∝ pairs; only bucket-colliding pairs reach
    * the rescoring join. A 6-bit band has only 64 keys, so bucket size
    * grows LINEARLY with the corpus and an uncapped in-bucket self-join
    * re-quadratizes (measured: 75 s → 249 s for a 2× corpus in the soak).
    * The per-(band, key) candidate window below
    * ([[DedupOps.windowCandidates]], cap [[DedupOps.DefaultCandidateCap]]
    * in vec_id order) bounds candidates at O(N·bands·cap) while keeping
    * buckets at or under the cap exact.
    * Recall is the banded-LSH tradeoff — for true near-dups (sim ≥ 0.95)
    * two 6-bit bands catch ~78 %; more bands raise recall linearly in
    * cost. The exact threshold is oracle-mirrored.
    */
  /** Reusable near-dup kernel over any (vec_id, embedding) frame — the
    * banded sign-LSH candidate pass plus exact rescoring described on
    * [[q32EmbeddingNearDup]]. `bucketCap`: per-(band, key) candidate
    * window ([[DedupOps.windowCandidates]]); the sign-LSH signature
    * pipeline below it runs once. */
  def embeddingNearDupPairs(emb: DataFrame, minSim: Double,
                            bucketCap: Int = DedupOps.DefaultCandidateCap): DataFrame = {
    val bands = emb.withColumn("bucket", bucketExpr(12))
      .select(col("vec_id"),
        posexplode(array((0 until 2).map(b =>
          shiftright(col("bucket"), b * 6).bitwiseAND(lit(63L))): _*)).as(Seq("band", "key")))
    val cand = DedupOps.windowCandidates(bands, Seq("band", "key"), "vec_id", bucketCap, "vec_a", "vec_b")
      .distinct()
    // rescore with the native fused cosine (deterministic sequential
    // accumulation — see q33) instead of a per-element decimal join: the
    // candidate set × 64 dims would otherwise dominate the query
    // (measured 29 s → ~3 s at sf0.1)
    cand
      .join(emb.select(col("vec_id").as("vec_a"), col("embedding").as("ea")), Seq("vec_a"))
      .join(emb.select(col("vec_id").as("vec_b"), col("embedding").as("eb")), Seq("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        round(graft.functions.CosineSimilarity(col("ea"), col("eb")), 6).as("sim"))
      .filter(col("sim") >= minSim)
  }

  val q32EmbeddingNearDup: Q = (s, d) =>
    embeddingNearDupPairs(embeddings(s, d), minSim = 0.45).orderBy("vec_a", "vec_b")
  val q32Sql: String =
    s"""WITH planes AS (
      |  SELECT p, i,
      |    CAST((ascii(SUBSTR(md5('p:' || CAST(p AS VARCHAR) || ':' || CAST(i AS VARCHAR)),
      |                       (i % 32) + 1, 1)) % 2) * 2 - 1 AS DOUBLE) AS w
      |  FROM range(0, 12) r(p), range(0, 64) d(i)),
      |elems AS (
      |  SELECT vec_id, CAST(unnest(range(len(embedding))) AS INT) AS pos,
      |         CAST(unnest(embedding) AS DOUBLE) AS x
      |  FROM embeddings),
      |proj AS (
      |  SELECT e.vec_id, pl.p, SUM(CAST(e.x * pl.w AS DECIMAL(38,12))) AS s
      |  FROM elems e JOIN planes pl ON pl.i = e.pos
      |  GROUP BY 1, 2),
      |buckets AS (
      |  SELECT vec_id,
      |    CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << CAST(p AS INT)) ELSE 0 END) AS BIGINT) AS bucket
      |  FROM proj GROUP BY vec_id),
      |bands AS (
      |  SELECT vec_id, b.band, (bucket >> (b.band * 6)) & 63 AS key
      |  FROM buckets, (SELECT CAST(unnest(range(0, 2)) AS INT) AS band) b),
      |rbands AS (
      |  SELECT vec_id, band, key,
      |    ROW_NUMBER() OVER (PARTITION BY band, key ORDER BY vec_id) AS rn
      |  FROM bands),
      |cand AS (
      |  SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
      |  FROM rbands x JOIN rbands y
      |    ON x.band = y.band AND x.key = y.key AND x.vec_id < y.vec_id
      |       AND y.rn <= x.rn + ${DedupOps.DefaultCandidateCap}),
      |scored AS (
      |  SELECT c.vec_a, c.vec_b,
      |    ROUND(
      |      list_sum(list_transform(range(1, len(a.embedding) + 1),
      |               i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
      |      / (SQRT(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
      |         * SQRT(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) AS sim
      |  FROM cand c
      |  JOIN embeddings a ON a.vec_id = c.vec_a
      |  JOIN embeddings b ON b.vec_id = c.vec_b)
      |SELECT vec_a, vec_b, sim FROM scored
      |WHERE sim >= 0.45
      |ORDER BY vec_a, vec_b""".stripMargin

  /** q61: embedding outlier score — L2 distance from each vector to its
    * label's centroid (the quality-filtering signal: far-from-centroid
    * vectors are mislabeled or junk).
    *
    * Shape: centroids are a (labels × dim)-row aggregate — partial
    * aggregation collapses each map task before the exchange, and the tiny
    * centroid table broadcasts back, so the distance pass is scan-speed
    * with zero extra shuffle of the big side. Determinism: centroid =
    * decimal Σx / n (double division is IEEE-identical both engines),
    * squared deviations re-summed through DECIMAL(38,12), 6dp round. */
  val q61EmbeddingOutliers: Q = (s, d) => {
    val elems = embeddings(s, d)
      .select(col("vec_id"), col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .withColumn("x", col("x").cast(DoubleType))
    val cents = elems.groupBy("label", "pos")
      .agg((sum(col("x").cast(DecimalType(38, 12))).cast(DoubleType) / count(lit(1))).as("c"))
    elems.join(broadcast(cents), Seq("label", "pos"))
      .groupBy("vec_id", "label")
      .agg(sum(((col("x") - col("c")) * (col("x") - col("c")))
        .cast(DecimalType(38, 12))).cast(DoubleType).as("d2"))
      .select(col("vec_id"), col("label"), round(sqrt(col("d2")), 6).as("dist"))
      .orderBy("vec_id")
  }
  val q61Sql: String =
    """WITH elems AS (
      |  SELECT vec_id, label, CAST(unnest(range(len(embedding))) AS INT) AS pos,
      |         CAST(unnest(embedding) AS DOUBLE) AS x
      |  FROM embeddings),
      |cents AS (
      |  SELECT label, pos,
      |    CAST(SUM(CAST(x AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*) AS c
      |  FROM elems GROUP BY 1, 2)
      |SELECT e.vec_id, e.label,
      |  ROUND(SQRT(CAST(SUM(CAST((e.x - c.c) * (e.x - c.c) AS DECIMAL(38,12))) AS DOUBLE)), 6) AS dist
      |FROM elems e JOIN cents c ON e.label = c.label AND e.pos = c.pos
      |GROUP BY 1, 2 ORDER BY e.vec_id""".stripMargin

  /** q70: per-dimension embedding health stats — mean and variance of each
    * of the 64 dimensions over the whole corpus. The embedding-quality
    * audit every vector pipeline runs (a collapsed/dead dimension shows as
    * near-zero variance; a mis-scaled one as an outlier mean). One
    * posexplode to (dim, value) then a 64-key aggregation: partial aggs
    * collapse map-side to ≤64 rows per task, so the exchange is constant-
    * size at any corpus scale. Moments come from exact DECIMAL(38,6) sums
    * of v and v² (order-independent), variance derived in IEEE doubles. */
  val q70DimStats: Q = (s, d) => {
    val v = col("v").cast(DoubleType)
    embeddings(s, d)
      .select(posexplode(col("embedding")).as(Seq("dim", "v")))
      .select(col("dim"),
        v.cast(DecimalType(38, 6)).as("dv"),
        (v * v).cast(DecimalType(38, 6)).as("dv2"))
      .groupBy("dim")
      .agg(count(lit(1)).as("n"),
        sum("dv").cast(DoubleType).as("sv"),
        sum("dv2").cast(DoubleType).as("sv2"))
      .select(col("dim"), col("n"),
        round(col("sv") / col("n"), 6).as("mean_val"),
        round(col("sv2") / col("n") - pow(col("sv") / col("n"), 2), 6).as("var_val"))
      .orderBy("dim")
  }
  val q70Sql: String =
    """WITH d AS (
      |  SELECT unnest(list_transform(range(1, len(embedding) + 1),
      |           i -> struct_pack(dim := i - 1, v := CAST(embedding[i] AS DOUBLE)))) AS e
      |  FROM embeddings),
      |f AS (SELECT e.dim AS dim, e.v AS v FROM d)
      |SELECT dim, COUNT(*) AS n,
      |  ROUND(CAST(SUM(CAST(v AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*), 6) AS mean_val,
      |  ROUND(CAST(SUM(CAST(v * v AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*)
      |        - POWER(CAST(SUM(CAST(v AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*), 2), 6)
      |    AS var_val
      |FROM f GROUP BY dim ORDER BY dim""".stripMargin

  /** q97: cross-modal consistency audit — the first documents⋈embeddings
    * operator: per embedding-cluster label, the language mix of its
    * documents and the majority-language purity. A low-purity label marks
    * a cluster whose embeddings disagree with the text metadata (bad
    * embeddings, mislabeled docs, or a genuinely mixed topic) — the audit
    * every multimodal corpus runs before trusting cluster-level curation.
    *
    * Scale shape: the join is id⋈id between two corpus-sized tables —
    * shuffle on the shared key (at rest both sides bucket by id, making
    * it exchange-free); the aggregation collapses map-side to
    * |labels|×|langs| rows, so the windowed purity pass runs on a tiny
    * frame. Purity = n_majority/n_total in IEEE double (long inputs —
    * division identical in both engines), 6dp round. */
  val q97CrossModalPurity: Q = (s, d) => {
    val docs = documents(s, d).select(col("doc_id"), col("lang"))
    val emb = embeddings(s, d).select(col("vec_id").as("doc_id"), col("label"))
    val counts = docs.join(emb, "doc_id")
      .groupBy("label", "lang").agg(count(lit(1)).as("n"))
    val wTotal = Window.partitionBy("label")
    val wRank = Window.partitionBy("label").orderBy(desc("n"), col("lang"))
    counts
      .withColumn("total", sum("n").over(wTotal))
      .withColumn("rk", row_number().over(wRank))
      .filter(col("rk") === 1)
      .select(col("label"), col("total").as("n_docs"),
        col("lang").as("top_lang"),
        round(col("n").cast(DoubleType) / col("total"), 6).as("purity"))
      .orderBy("label")
  }
  val q97Sql: String =
    """WITH c AS (
      |  SELECT e.label, d.lang, COUNT(*) AS n
      |  FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
      |  GROUP BY 1, 2),
      |r AS (
      |  SELECT label, lang, n,
      |    SUM(n) OVER (PARTITION BY label) AS total,
      |    ROW_NUMBER() OVER (PARTITION BY label ORDER BY n DESC, lang) AS rk
      |  FROM c)
      |SELECT label, CAST(total AS BIGINT) AS n_docs, lang AS top_lang,
      |  ROUND(CAST(n AS DOUBLE) / total, 6) AS purity
      |FROM r WHERE rk = 1 ORDER BY label""".stripMargin

  /** q114: FILTERED vector search — top-k under a metadata predicate
    * (here co-label retrieval: each query sees only targets sharing its
    * label). The capability every production vector store pairs with ANN:
    * RAG retrieval scoped to a tenant/language/split. The exact form is
    * q33's native-cosine pass with the predicate folded into the join
    * condition, so Catalyst applies it BEFORE scoring (a candidate that
    * fails the filter costs a comparison, never a cosine). */
  val q114FilteredAnn: Q = (s, d) => {
    val emb = embeddings(s, d)
    val q = broadcast(emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("label").as("qlabel"),
        col("embedding").as("qv")))
    val t = emb.select(col("vec_id").as("target_id"),
      col("label").as("tlabel"), col("embedding").as("tv"))
    val scored = q.join(t,
      col("query_id") =!= col("target_id") && col("qlabel") === col("tlabel"))
      .withColumn("sim",
        round(graft.functions.CosineSimilarity(col("qv"), col("tv")), 6))
    val w = Window.partitionBy("query_id").orderBy(desc("sim"), col("target_id"))
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= 5)
      .select(col("query_id"), col("qlabel").as("label"), col("target_id"),
        col("sim"), col("rk"))
      .orderBy("query_id", "rk")
  }
  val q114Sql: String =
    """WITH scored AS (
      |  SELECT q.vec_id AS query_id, q.label AS label, t.vec_id AS target_id,
      |    ROUND(
      |      list_sum(list_transform(range(1, len(q.embedding) + 1),
      |               i -> CAST(q.embedding[i] AS DOUBLE) * CAST(t.embedding[i] AS DOUBLE)))
      |      / (SQRT(list_sum(list_transform(q.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
      |         * SQRT(list_sum(list_transform(t.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) AS sim
      |  FROM embeddings q JOIN embeddings t
      |    ON q.vec_id <> t.vec_id AND q.label = t.label
      |  WHERE q.vec_id < 5)
      |SELECT query_id, label, target_id, sim, rk FROM (
      |  SELECT query_id, label, target_id, sim,
      |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, target_id) AS rk
      |  FROM scored) WHERE rk <= 5
      |ORDER BY query_id, rk""".stripMargin

  /** q115: late-interaction (ColBERT-style MaxSim) retrieval — documents
    * are MULTI-vector (here: consecutive vec_ids grouped 8 per document),
    * and a document's score against the query is Σ over query vectors of
    * the MAX cosine across the document's vectors. The retrieval shape
    * behind ColBERT/PLAID: token-level matching without a pairwise doc
    * score matrix.
    *
    * Scale shape: the query's 8 vectors broadcast; the corpus pays ONE
    * narrow scoring pass (|corpus vectors| × 8 codegen'd cosines — linear,
    * never |docs|²), then two map-side-collapsing aggregations: per
    * (target_doc, query_vec) max, per target_doc decimal sum. Top-k is
    * TakeOrderedAndProject. Determinism: per-pair cosine rounded 6dp, max
    * over rounded values is exact, decimal sum order-free. */
  val q115MaxSim: Q = (s, d) => {
    val emb = embeddings(s, d)
      .withColumn("doc", expr("vec_id div 8"))
    val q = broadcast(emb.filter(col("doc") === 0)
      .select(col("vec_id").as("q_vec"), col("embedding").as("qv")))
    val t = emb.filter(col("doc") > 0)
      .select(col("doc").as("target_doc"), col("embedding").as("tv"))
    val pair = t.crossJoin(q)
      .withColumn("sim",
        round(graft.functions.CosineSimilarity(col("qv"), col("tv")), 6))
    pair.groupBy("target_doc", "q_vec").agg(max(col("sim")).as("maxsim"))
      .groupBy("target_doc")
      .agg(round(sum(col("maxsim").cast(DecimalType(38, 6))).cast(DoubleType), 6)
        .as("score"))
      .orderBy(desc("score"), col("target_doc"))
      .limit(10)
  }
  val q115Sql: String =
    """WITH e AS (SELECT vec_id, vec_id // 8 AS doc, embedding FROM embeddings),
      |q AS (SELECT vec_id AS q_vec, embedding AS qv FROM e WHERE doc = 0),
      |t AS (SELECT doc AS target_doc, embedding AS tv FROM e WHERE doc > 0),
      |pair AS (
      |  SELECT target_doc, q_vec,
      |    ROUND(
      |      list_sum(list_transform(range(1, len(qv) + 1),
      |               i -> CAST(qv[i] AS DOUBLE) * CAST(tv[i] AS DOUBLE)))
      |      / (SQRT(list_sum(list_transform(qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
      |         * SQRT(list_sum(list_transform(tv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) AS sim
      |  FROM t CROSS JOIN q),
      |ms AS (SELECT target_doc, q_vec, MAX(sim) AS maxsim
      |       FROM pair GROUP BY 1, 2)
      |SELECT target_doc,
      |  ROUND(CAST(SUM(CAST(maxsim AS DECIMAL(38,6))) AS DOUBLE), 6) AS score
      |FROM ms GROUP BY target_doc
      |ORDER BY score DESC, target_doc LIMIT 10""".stripMargin

  /** q116: matryoshka truncation audit — how much ANN quality survives
    * truncating embeddings to their first 16 of 64 dimensions (the
    * MRL-era memory/recall trade every embedding deployment now sizes).
    * Per query: the overlap between the full-dimension top-5 and the
    * truncated top-5, and whether the top-1 survives. At 100 TB this is
    * the audit run BEFORE re-indexing the corpus at a smaller dimension —
    * one extra codegen'd cosine on the same scoring pass, two rank
    * windows over the per-query candidate slice, nothing new shuffled. */
  val q116TruncationAudit: Q = (s, d) => {
    val emb = embeddings(s, d)
    val q = broadcast(emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv")))
    val t = emb.select(col("vec_id").as("target_id"), col("embedding").as("tv"))
    val scored = q.join(t, col("query_id") =!= col("target_id"))
      .withColumn("sim_full",
        round(graft.functions.CosineSimilarity(col("qv"), col("tv")), 6))
      .withColumn("sim_trunc",
        round(graft.functions.CosineSimilarity(
          slice(col("qv"), 1, 16), slice(col("tv"), 1, 16)), 6))
    val wf = Window.partitionBy("query_id").orderBy(desc("sim_full"), col("target_id"))
    val wt = Window.partitionBy("query_id").orderBy(desc("sim_trunc"), col("target_id"))
    scored
      .withColumn("rk_full", row_number().over(wf))
      .withColumn("rk_trunc", row_number().over(wt))
      .groupBy("query_id")
      .agg(
        sum(when(col("rk_full") <= 5 && col("rk_trunc") <= 5, lit(1L))
          .otherwise(lit(0L))).as("n_overlap"),
        max(when(col("rk_full") === 1 && col("rk_trunc") === 1, lit(1L))
          .otherwise(lit(0L))).as("top1_kept"))
      .orderBy("query_id")
  }
  val q116Sql: String =
    """WITH scored AS (
      |  SELECT q.vec_id AS query_id, t.vec_id AS target_id,
      |    ROUND(
      |      list_sum(list_transform(range(1, len(q.embedding) + 1),
      |               i -> CAST(q.embedding[i] AS DOUBLE) * CAST(t.embedding[i] AS DOUBLE)))
      |      / (SQRT(list_sum(list_transform(q.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
      |         * SQRT(list_sum(list_transform(t.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) AS sim_full,
      |    ROUND(
      |      list_sum(list_transform(range(1, 17),
      |               i -> CAST(q.embedding[i] AS DOUBLE) * CAST(t.embedding[i] AS DOUBLE)))
      |      / (SQRT(list_sum(list_transform(q.embedding[1:16], x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
      |         * SQRT(list_sum(list_transform(t.embedding[1:16], x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) AS sim_trunc
      |  FROM embeddings q JOIN embeddings t ON q.vec_id <> t.vec_id
      |  WHERE q.vec_id < 5),
      |ranked AS (
      |  SELECT query_id,
      |    ROW_NUMBER() OVER (PARTITION BY query_id
      |                       ORDER BY sim_full DESC, target_id) AS rk_full,
      |    ROW_NUMBER() OVER (PARTITION BY query_id
      |                       ORDER BY sim_trunc DESC, target_id) AS rk_trunc
      |  FROM scored)
      |SELECT query_id,
      |  CAST(SUM(CASE WHEN rk_full <= 5 AND rk_trunc <= 5 THEN 1 ELSE 0 END)
      |       AS BIGINT) AS n_overlap,
      |  CAST(MAX(CASE WHEN rk_full = 1 AND rk_trunc = 1 THEN 1 ELSE 0 END)
      |       AS BIGINT) AS top1_kept
      |FROM ranked GROUP BY query_id ORDER BY query_id""".stripMargin

  /** q119: SEMANTIC decontamination — the embedding-level twin of q49's
    * n-gram benchmark decontamination (the gap n-gram matching provably
    * misses: paraphrased benchmark items land nowhere near the verbatim
    * shingles but sit at high cosine). Benchmark panel = vec_id < 100
    * (the held-out slice a deployment loads from the eval suite),
    * broadcast; every corpus vector's MAX cosine against the panel
    * decides the flag (τ = 0.8). Output: per-label flagged/total counts —
    * the "which domains leak into evals" table.
    *
    * Scale shape: the panel broadcasts (eval suites are thousands of
    * items, not millions), the corpus pays ONE linear codegen'd pass of
    * |corpus|×|panel| cosines with a map-side max — the same serving
    * bound as q115. When the panel outgrows broadcast, the IVF form is a
    * probe of the panel's cell index with corpus and panel swapped —
    * cell-bounded. */
  val q119SemanticDecontam: Q = (s, d) => {
    val tau = 0.8
    val emb = embeddings(s, d)
    val bench = broadcast(emb.filter(col("vec_id") < 100)
      .select(col("vec_id").as("b_id"), col("embedding").as("bv")))
    val corpus = emb.filter(col("vec_id") >= 100)
      .select(col("vec_id"), col("label"), col("embedding"))
    corpus.crossJoin(bench)
      .select(col("vec_id"), col("label"),
        round(graft.functions.CosineSimilarity(col("embedding"), col("bv")), 6)
          .as("sim"))
      .groupBy("vec_id", "label")
      .agg(max(col("sim")).as("max_sim"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("max_sim") >= tau, lit(1L)).otherwise(lit(0L)))
          .as("n_flagged"),
        round(max(col("max_sim")), 6).as("worst_sim"))
      .orderBy("label")
  }
  val q119Sql: String =
    """WITH bench AS (SELECT vec_id AS b_id, embedding AS bv
      |               FROM embeddings WHERE vec_id < 100),
      |corpus AS (SELECT vec_id, label, embedding
      |           FROM embeddings WHERE vec_id >= 100),
      |sims AS (
      |  SELECT c.vec_id, c.label,
      |    ROUND(
      |      list_sum(list_transform(range(1, len(c.embedding) + 1),
      |               i -> CAST(c.embedding[i] AS DOUBLE) * CAST(b.bv[i] AS DOUBLE)))
      |      / (SQRT(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
      |         * SQRT(list_sum(list_transform(b.bv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) AS sim
      |  FROM corpus c CROSS JOIN bench b),
      |mx AS (SELECT vec_id, label, MAX(sim) AS max_sim
      |       FROM sims GROUP BY 1, 2)
      |SELECT label, COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN max_sim >= 0.8 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_flagged,
      |  ROUND(MAX(max_sim), 6) AS worst_sim
      |FROM mx GROUP BY label ORDER BY label""".stripMargin

  // --- q81/q83 oracles (r11): the gates run under the SQL-expressible
  // grid codebook + grid coarse quantizer (see ProductQuantization
  // .gridCodebook), so PQ encoding, the ADC scan, the refine window and
  // the exact rescore all replay in SQL. Accumulation orders mirror the
  // Scala kernels: inner subspace sums and the outer over-s sum are
  // left-to-right list folds, never unordered SQL SUMs, so approximate
  // distances are bit-identical and the refine cutoff can't drift.
  // `sd` (subspace width = dim/m = 4 at the sf0.01 gate) is inlined as a
  // literal: DuckDB forbids subqueries inside lambda bodies, and a dim
  // change in the testdata would fail the hash loudly, not silently
  private def pqCtes(m: Int, k: Int, sd: Int) =
    s"""books AS (
       |  SELECT ss.s AS s, cc.c AS c,
       |    list_transform(range(0, $sd),
       |      i -> CAST(((ss.s * 53 + cc.c * 37 + i * 11) % 17 - 8) / 4.0 AS FLOAT)) AS cent
       |  FROM (SELECT unnest(range(0, $m)) AS s) ss
       |  CROSS JOIN (SELECT unnest(range(0, $k)) AS c) cc),
       |bk AS (SELECT list(cl ORDER BY s) AS bb FROM (
       |    SELECT s, list(cent ORDER BY c) AS cl FROM books GROUP BY s) g),
       |qids AS (SELECT vec_id FROM embeddings
       |         ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT 8),
       |subdist AS (
       |  SELECT e.vec_id, b.s, b.c,
       |    list_sum(list_transform(range(1, $sd + 1),
       |      i -> (CAST(e.embedding[b.s * $sd + i] AS DOUBLE)
       |              - CAST(b.cent[i] AS DOUBLE))
       |         * (CAST(e.embedding[b.s * $sd + i] AS DOUBLE)
       |              - CAST(b.cent[i] AS DOUBLE)))) AS d
       |  FROM embeddings e CROSS JOIN books b),
       |codes AS (
       |  SELECT vec_id, list(c ORDER BY s) AS cs FROM (
       |    SELECT vec_id, s, c, ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY d, c) AS rn
       |    FROM subdist) x WHERE rn = 1 GROUP BY vec_id)"""

  /** ADC + refine + exact rescore over a candidate set named `candpairs`
    * (columns query_id, vec_id). */
  private def adcTail(m: Int, k: Int, refine: Int, sd: Int) =
    s"""adc AS (
       |  SELECT cp.query_id, cp.vec_id,
       |    list_sum(list_transform(range(0, $m), s ->
       |      list_sum(list_transform(range(1, $sd + 1),
       |        i -> (CAST(qe.embedding[s * $sd + i] AS DOUBLE)
       |                - CAST(bb[s + 1][cd.cs[s + 1] + 1][i] AS DOUBLE))
       |           * (CAST(qe.embedding[s * $sd + i] AS DOUBLE)
       |                - CAST(bb[s + 1][cd.cs[s + 1] + 1][i] AS DOUBLE)))))) AS approx_d
       |  FROM candpairs cp
       |  JOIN embeddings qe ON qe.vec_id = cp.query_id
       |  JOIN codes cd ON cd.vec_id = cp.vec_id
       |  CROSS JOIN bk),
       |surv AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id,
       |      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY approx_d, vec_id) AS ark
       |    FROM adc) x WHERE ark <= ${k * refine}),
       |rescored AS (
       |  SELECT sv.query_id, sv.vec_id AS target_id,
       |    list_sum(list_transform(range(1, len(te.embedding) + 1),
       |      i -> (CAST(qe.embedding[i] AS DOUBLE) - CAST(te.embedding[i] AS DOUBLE))
       |         * (CAST(qe.embedding[i] AS DOUBLE) - CAST(te.embedding[i] AS DOUBLE)))) AS d2
       |  FROM surv sv
       |  JOIN embeddings qe ON qe.vec_id = sv.query_id
       |  JOIN embeddings te ON te.vec_id = sv.vec_id)
       |SELECT query_id, target_id, ROUND(d2, 6) AS d2, rk FROM (
       |  SELECT query_id, target_id, d2,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY d2, target_id) AS rk
       |  FROM rescored) x WHERE rk <= $k
       |ORDER BY query_id, rk"""

  private val q81Sql: String =
    s"""WITH ${pqCtes(m = 16, k = 16, sd = 4)},
       |candpairs AS (
       |  SELECT q.vec_id AS query_id, c.vec_id
       |  FROM qids q CROSS JOIN codes c WHERE c.vec_id <> q.vec_id),
       |${adcTail(m = 16, k = 5, refine = 4, sd = 4)}""".stripMargin

  private val q83Sql: String =
    s"""WITH ${pqCtes(m = 16, k = 16, sd = 4)},
       |${SemanticDedup.refinedCentsSql(-1)},
       |cdist AS (
       |  SELECT e.vec_id, c.c,
       |    list_sum(list_transform(range(1, len(e.embedding) + 1),
       |      i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(c.cent[i] AS DOUBLE))
       |         * (CAST(e.embedding[i] AS DOUBLE) - CAST(c.cent[i] AS DOUBLE)))) AS d
       |  FROM embeddings e CROSS JOIN cents c),
       |crank AS (
       |  SELECT vec_id, c, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, c) AS rn
       |  FROM cdist),
       |assigned AS (SELECT vec_id, c AS cell FROM crank WHERE rn = 1),
       |probes AS (
       |  SELECT q.vec_id AS query_id, r.c AS cell
       |  FROM qids q JOIN crank r ON r.vec_id = q.vec_id AND r.rn <= 4),
       |candpairs AS (
       |  SELECT p.query_id, a.vec_id
       |  FROM probes p JOIN assigned a ON a.cell = p.cell AND a.vec_id <> p.query_id),
       |${adcTail(m = 16, k = 5, refine = 4, sd = 4)}""".stripMargin

  /** q126: IVF recall audit — the index-health metric a production
    * deployment schedules alongside [[graft.operators.EmbeddingMaintenance]]'s
    * drift audit: for a content-addressed query panel, compare the IVF
    * multi-probe top-k against the exact top-k and report per-query
    * hits/recall@k. Drift audit asks "does the quantizer still fit the
    * data?"; this asks the question users feel — "does the index still
    * RETURN the right neighbors?".
    *
    * Scale shape: the exact leg is ONE linear codegen'd cosine pass
    * (panel broadcasts — the q119/q33 shape, never a pair explosion);
    * the IVF leg probes nProbe cells per panel query (the q103 join
    * shape with a driver-side panel); the audit joins two ≤8k-row
    * top-k lists. Sampling the panel content-addressed keeps the audit
    * O(corpus) regardless of how often it runs. Gate runs under the
    * SQL-expressible [[SemanticDedup.refinedCentroids]] quantizer
    * (hash-exact); production audits pass trained centroids through the
    * same body. */
  def q126IvfRecallAudit(k: Int = 5, nList: Int = -1, nProbe: Int = 4): Q = (s, d) => {
    val emb = embeddings(s, d).select(col("vec_id"), col("embedding"))
    val nl = if (nList > 0) nList else ProductQuantization.adaptiveNList(emb)
    val cents = SemanticDedup.refinedCentroids(emb, nl)
    val qids = ProductQuantization.gatePanel(emb)
    val panel = broadcast(emb.filter(col("vec_id").isInCollection(qids))
      .select(col("vec_id").as("query_id"), col("embedding").as("qv")))
    def topK(cand: DataFrame): DataFrame = {
      val w = Window.partitionBy("query_id").orderBy(desc("sim"), col("vec_id"))
      cand.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
        .select(col("query_id"), col("vec_id").as("target_id"))
    }
    val exact = topK(emb.join(panel, col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(graft.functions.CosineSimilarity(col("qv"), col("embedding")), 6).as("sim")))
    val probes = broadcast(panel.select(col("query_id"), col("qv"),
      explode(ProductQuantization.probeExpr(s, cents, nProbe)(col("qv"))).as("cell")))
    val ivf = topK(emb
      .withColumn("cell", ProductQuantization.cellExpr(s, cents)(col("embedding")))
      .join(probes, Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(graft.functions.CosineSimilarity(col("qv"), col("embedding")), 6).as("sim")))
    val hits = exact.join(ivf, Seq("query_id", "target_id"))
      .groupBy("query_id").agg(count(lit(1)).as("hits"))
    panel.select("query_id").join(hits, Seq("query_id"), "left")
      .na.fill(0L, Seq("hits"))
      .withColumn("recall", round(col("hits") / lit(k.toDouble), 6))
      .select("query_id", "hits", "recall")
      .orderBy("query_id")
  }

  /** q132: IVF ranking-quality audit — nDCG@k of the multi-probe list
    * against the exact top-k, per panel query. q126's recall@k counts
    * set overlap; nDCG weights it by POSITION (a neighbor surfaced at
    * rank 1 vs rank 5 is a different user experience), which is the
    * metric retrieval deployments actually report. Binary relevance
    * (membership in the exact top-k), the standard log2 discount:
    * DCG = Σ over IVF hits of 1/log2(rank+1), IDCG = the same sum over
    * the exact list itself, nDCG = DCG/IDCG.
    *
    * Scale shape: identical to q126 (one linear exact pass + nProbe cell
    * probes per panel query); the nDCG arithmetic joins two ≤ panel·k
    * row lists. Numerics: discounts rounded 6dp (the transcendental
    * contract — both engines compute 1/log2 in double), DECIMAL-exact
    * sums, one double division, 6dp out. */
  def q132NdcgAudit(k: Int = 5, nList: Int = -1, nProbe: Int = 4): Q = (s, d) => {
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    val emb = embeddings(s, d).select(col("vec_id"), col("embedding"))
    val nl = if (nList > 0) nList else ProductQuantization.adaptiveNList(emb)
    val cents = SemanticDedup.refinedCentroids(emb, nl)
    val qids = ProductQuantization.gatePanel(emb)
    val panel = broadcast(emb.filter(col("vec_id").isInCollection(qids))
      .select(col("vec_id").as("query_id"), col("embedding").as("qv")))
    def topK(cand: DataFrame): DataFrame = {
      val w = Window.partitionBy("query_id").orderBy(desc("sim"), col("vec_id"))
      cand.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
        .select(col("query_id"), col("vec_id").as("target_id"), col("rk"))
    }
    val exact = topK(emb.join(panel, col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(graft.functions.CosineSimilarity(col("qv"), col("embedding")), 6).as("sim")))
    val probes = broadcast(panel.select(col("query_id"), col("qv"),
      explode(ProductQuantization.probeExpr(s, cents, nProbe)(col("qv"))).as("cell")))
    val ivf = topK(emb
      .withColumn("cell", ProductQuantization.cellExpr(s, cents)(col("embedding")))
      .join(probes, Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(graft.functions.CosineSimilarity(col("qv"), col("embedding")), 6).as("sim")))
    def disc(rk: Column) = round(lit(1.0) / log2(rk + 1), 6).cast(DecimalType(18, 6))
    // ONE pass computes both sums: exact (left) outer-joined to the IVF
    // list's ranks gives each exact row its IDCG term (its own rank) and
    // its DCG term (the IVF rank, when the IVF list surfaced it) — the
    // previous two-aggregate form consumed `exact` twice, and each
    // reference re-ran the full linear cosine pass over the corpus (the
    // plan's most expensive subtree, duplicated). Identical values: the
    // same DECIMAL terms land in the same per-query sums (a membership
    // pair appears exactly once in both lists), and a hit-less query's
    // all-null DCG sum lands as the same 0.0 the old left-join fill gave.
    val both = exact
      .join(ivf.select(col("query_id"), col("target_id"), col("rk").as("ivf_rk")),
        Seq("query_id", "target_id"), "left")
      .groupBy("query_id")
      .agg(sum(disc(col("rk"))).cast(DoubleType).as("idcg"),
        sum(when(col("ivf_rk").isNotNull, disc(col("ivf_rk")))).cast(DoubleType).as("dcg"))
    panel.select("query_id").join(both, Seq("query_id"))
      .na.fill(0.0, Seq("dcg"))
      .select(col("query_id"), col("dcg"), col("idcg"),
        round(col("dcg") / col("idcg"), 6).as("ndcg"))
      .orderBy("query_id")
  }

  private val q132Sql: String = {
    val cosQe = q126CosSql("qe.embedding", "e.embedding")
    s"""WITH ${SemanticDedup.refinedCentsSql(-1)},
       |qids AS (SELECT vec_id FROM embeddings
       |         ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT 8),
       |cdist AS (
       |  SELECT e.vec_id, c.c,
       |    list_sum(list_transform(range(1, len(e.embedding) + 1),
       |      i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(c.cent[i] AS DOUBLE))
       |         * (CAST(e.embedding[i] AS DOUBLE) - CAST(c.cent[i] AS DOUBLE)))) AS d
       |  FROM embeddings e CROSS JOIN cents c),
       |crank AS (
       |  SELECT vec_id, c, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, c) AS rn
       |  FROM cdist),
       |assigned AS (SELECT vec_id, c AS cell FROM crank WHERE rn = 1),
       |probes AS (
       |  SELECT q.vec_id AS query_id, r.c AS cell
       |  FROM qids q JOIN crank r ON r.vec_id = q.vec_id AND r.rn <= 4),
       |exact AS (
       |  SELECT query_id, target_id, rk FROM (
       |    SELECT q.vec_id AS query_id, e.vec_id AS target_id,
       |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |        ORDER BY ROUND($cosQe, 6) DESC, e.vec_id) AS rk
       |    FROM qids q JOIN embeddings qe ON qe.vec_id = q.vec_id
       |    CROSS JOIN embeddings e
       |    WHERE e.vec_id <> q.vec_id) x WHERE rk <= 5),
       |ivf AS (
       |  SELECT query_id, target_id, rk FROM (
       |    SELECT p.query_id, a.vec_id AS target_id,
       |      ROW_NUMBER() OVER (PARTITION BY p.query_id
       |        ORDER BY ROUND($cosQe, 6) DESC, a.vec_id) AS rk
       |    FROM probes p
       |    JOIN assigned a ON a.cell = p.cell AND a.vec_id <> p.query_id
       |    JOIN embeddings qe ON qe.vec_id = p.query_id
       |    JOIN embeddings e ON e.vec_id = a.vec_id) x WHERE rk <= 5),
       |idcg AS (
       |  SELECT query_id, CAST(SUM(CAST(
       |      ROUND(CAST(1.0 AS DOUBLE) / LOG2(rk + 1), 6) AS DECIMAL(18,6)))
       |    AS DOUBLE) AS idcg
       |  FROM exact GROUP BY query_id),
       |dcg AS (
       |  SELECT i.query_id, CAST(SUM(CAST(
       |      ROUND(CAST(1.0 AS DOUBLE) / LOG2(i.rk + 1), 6) AS DECIMAL(18,6)))
       |    AS DOUBLE) AS dcg
       |  FROM ivf i JOIN exact x
       |    ON x.query_id = i.query_id AND x.target_id = i.target_id
       |  GROUP BY i.query_id)
       |SELECT q.vec_id AS query_id, COALESCE(d.dcg, 0.0) AS dcg, c.idcg,
       |  ROUND(COALESCE(d.dcg, 0.0) / c.idcg, 6) AS ndcg
       |FROM qids q
       |JOIN idcg c ON c.query_id = q.vec_id
       |LEFT JOIN dcg d ON d.query_id = q.vec_id
       |ORDER BY query_id""".stripMargin
  }

  private def q126CosSql(a: String, b: String) =
    s"""(list_sum(list_transform(range(1, len($a) + 1),
       |    i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))
       |  / (SQRT(list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
       |     * SQRT(list_sum(list_transform($b, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))))"""

  private val q126Sql: String = {
    val cosQe = q126CosSql("qe.embedding", "e.embedding")
    s"""WITH ${SemanticDedup.refinedCentsSql(-1)},
       |qids AS (SELECT vec_id FROM embeddings
       |         ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT 8),
       |cdist AS (
       |  SELECT e.vec_id, c.c,
       |    list_sum(list_transform(range(1, len(e.embedding) + 1),
       |      i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(c.cent[i] AS DOUBLE))
       |         * (CAST(e.embedding[i] AS DOUBLE) - CAST(c.cent[i] AS DOUBLE)))) AS d
       |  FROM embeddings e CROSS JOIN cents c),
       |crank AS (
       |  SELECT vec_id, c, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, c) AS rn
       |  FROM cdist),
       |assigned AS (SELECT vec_id, c AS cell FROM crank WHERE rn = 1),
       |probes AS (
       |  SELECT q.vec_id AS query_id, r.c AS cell
       |  FROM qids q JOIN crank r ON r.vec_id = q.vec_id AND r.rn <= 4),
       |exact AS (
       |  SELECT query_id, target_id FROM (
       |    SELECT q.vec_id AS query_id, e.vec_id AS target_id,
       |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |        ORDER BY ROUND($cosQe, 6) DESC, e.vec_id) AS rk
       |    FROM qids q JOIN embeddings qe ON qe.vec_id = q.vec_id
       |    CROSS JOIN embeddings e
       |    WHERE e.vec_id <> q.vec_id) x WHERE rk <= 5),
       |ivf AS (
       |  SELECT query_id, target_id FROM (
       |    SELECT p.query_id, a.vec_id AS target_id,
       |      ROW_NUMBER() OVER (PARTITION BY p.query_id
       |        ORDER BY ROUND($cosQe, 6) DESC, a.vec_id) AS rk
       |    FROM probes p
       |    JOIN assigned a ON a.cell = p.cell AND a.vec_id <> p.query_id
       |    JOIN embeddings qe ON qe.vec_id = p.query_id
       |    JOIN embeddings e ON e.vec_id = a.vec_id) x WHERE rk <= 5),
       |hits AS (
       |  SELECT e.query_id, COUNT(*) AS hits
       |  FROM exact e JOIN ivf i
       |    ON i.query_id = e.query_id AND i.target_id = e.target_id
       |  GROUP BY 1)
       |SELECT q.vec_id AS query_id, COALESCE(h.hits, 0) AS hits,
       |  ROUND(COALESCE(h.hits, 0) / 5.0, 6) AS recall
       |FROM qids q LEFT JOIN hits h ON h.query_id = q.vec_id
       |ORDER BY query_id""".stripMargin
  }

  /** q139: Johnson–Lindenstrauss projection distortion audit — project
    * every embedding to m = 8 dimensions with an Achlioptas ±1 sign matrix
    * and measure, on a deterministic vector sample's pairs, the ratio of
    * projected to original squared distance ((Σ_j (ya_j−yb_j)²)/m ÷
    * ‖a−b‖²). This is the go/no-go audit run before swapping a pipeline's
    * distance kernel to a sketched one (dedup thresholds, ANN recall, and
    * cluster geometry all survive exactly to the extent this ratio
    * concentrates around 1).
    *
    * The sign matrix s(j,i) = ±1 by md5₃₂("j:i") parity is data-independent
    * and engine-replayable: Spark embeds it as a LITERAL computed once
    * driver-side (8×64 md5s, zero per-row hashing), DuckDB re-derives it
    * from the same md5 rule — same bits either way. Projection is one
    * array-local pass (zip_with/aggregate folds, sequential like every
    * other float kernel here); pair distortion runs over a FIXED-SIZE
    * content-addressed panel (md5-ordered top-40, the refinedCentroids
    * seed construction) — 780 pairs at ANY corpus size. A %-of-corpus
    * sample would be a fixed FRACTION, whose all-pairs mass grows
    * quadratically with the corpus; a fixed panel is the audit's scale
    * contract, and the panel selection itself is a distributed top-k. */
  val q139JlAudit: Q = (s, d) => {
    val m = 8; val dims = 64
    val signs: Seq[Seq[Double]] = (0 until m).map { j =>
      (1 to dims).map { i =>
        val md = java.security.MessageDigest.getInstance("MD5")
        val h = md.digest(s"$j:$i".getBytes("UTF-8"))
        // md5_32 parity = low bit of the 4th digest byte
        if ((h(3) & 1) == 0) 1.0 else -1.0
      }
    }
    val yCol = transform(typedLit(signs), sr =>
      aggregate(zip_with(col("embedding"), sr,
        (x, sg) => x.cast("double") * sg), lit(0.0d), (acc, v) => acc + v))
    val p = embeddings(s, d)
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id")).limit(40)
      .select(col("vec_id"), col("embedding"), yCol.as("y"))
    val a = p.select(col("vec_id").as("vec_a"), col("embedding").as("ea"),
      col("y").as("ya"))
    val b = p.select(col("vec_id").as("vec_b"), col("embedding").as("eb"),
      col("y").as("yb"))
    val d2o = aggregate(zip_with(col("ea"), col("eb"),
      (x, yv) => (x.cast("double") - yv.cast("double"))
        * (x.cast("double") - yv.cast("double"))),
      lit(0.0d), (acc, v) => acc + v)
    val d2p = aggregate(zip_with(col("ya"), col("yb"),
      (x, yv) => (x - yv) * (x - yv)), lit(0.0d), (acc, v) => acc + v)
    a.join(b, col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        round(d2o, 6).as("d2_orig"),
        round(d2p, 6).as("d2_proj"),
        when(d2o === 0.0, lit(1.0))
          .otherwise(round(d2p / lit(8.0) / d2o, 6)).as("ratio"))
      .orderBy("vec_a", "vec_b")
  }
  val q139Sql: String =
    """WITH p AS (
      |  SELECT vec_id, embedding,
      |    list_transform(range(0, 8), j ->
      |      list_sum(list_transform(range(1, 65), i ->
      |        CAST(embedding[i] AS DOUBLE) *
      |        (CASE WHEN CAST(concat('0x', substr(md5(concat(j, ':', i)), 1, 8))
      |                    AS BIGINT) % 2 = 0
      |              THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END)))) AS y
      |  FROM (SELECT vec_id, embedding FROM embeddings
      |        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 40) sd),
      |pairs AS (
      |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
      |    list_sum(list_transform(range(1, 65), i ->
      |      (CAST(a.embedding[i] AS DOUBLE) - CAST(b.embedding[i] AS DOUBLE))
      |      * (CAST(a.embedding[i] AS DOUBLE) - CAST(b.embedding[i] AS DOUBLE))))
      |      AS d2o,
      |    list_sum(list_transform(range(1, 9), j ->
      |      (a.y[j] - b.y[j]) * (a.y[j] - b.y[j]))) AS d2p
      |  FROM p a JOIN p b ON a.vec_id < b.vec_id)
      |SELECT vec_a, vec_b, ROUND(d2o, 6) AS d2_orig, ROUND(d2p, 6) AS d2_proj,
      |  CASE WHEN d2o = 0 THEN 1.0 ELSE ROUND(d2p / 8.0 / d2o, 6) END AS ratio
      |FROM pairs ORDER BY vec_a, vec_b""".stripMargin

  val queries: Map[String, Q] = Map(
    "q139_jl_audit" -> q139JlAudit,
    "q29_ann_bruteforce" -> q29BruteForceTopK,
    "q30_ann_lsh_bucketed" -> q30IvfTopK,
    "q32_embedding_neardup" -> q32EmbeddingNearDup,
    "q33_ann_native" -> q33AnnNative,
    "q61_embedding_outliers" -> q61EmbeddingOutliers,
    "q70_dim_stats" -> q70DimStats,
    "q97_crossmodal_purity" -> q97CrossModalPurity,
    "q81_pq_ann" -> ProductQuantization.q81PqAnn,
    "q83_ivfpq_ann" -> ProductQuantization.q83IvfPqAnn,
    "q114_filtered_ann" -> q114FilteredAnn,
    "q115_maxsim" -> q115MaxSim,
    "q116_truncation_audit" -> q116TruncationAudit,
    "q119_semantic_decontam" -> q119SemanticDecontam,
    "q126_ivf_recall_audit" -> q126IvfRecallAudit(),
    "q132_ndcg_audit" -> q132NdcgAudit(),
  )
  val oracle: Map[String, String] = Map(
    "q139_jl_audit" -> q139Sql,
    "q126_ivf_recall_audit" -> q126Sql,
    "q132_ndcg_audit" -> q132Sql,
    "q81_pq_ann" -> q81Sql,
    "q83_ivfpq_ann" -> q83Sql,
    "q29_ann_bruteforce" -> q29Sql,
    "q30_ann_lsh_bucketed" -> q30Sql,
    "q32_embedding_neardup" -> q32Sql,
    "q33_ann_native" -> q33Sql,
    "q61_embedding_outliers" -> q61Sql,
    "q70_dim_stats" -> q70Sql,
    "q97_crossmodal_purity" -> q97Sql,
    "q114_filtered_ann" -> q114Sql,
    "q115_maxsim" -> q115Sql,
    "q116_truncation_audit" -> q116Sql,
    "q119_semantic_decontam" -> q119Sql,
  )
}
