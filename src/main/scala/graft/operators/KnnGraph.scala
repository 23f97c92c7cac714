package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._

/** Full-corpus kNN graph: every vector's top-k nearest neighbors by
  * cosine — the workhorse behind kNN-graph clustering, graph label
  * propagation, SemDeDup-style curation, and NN-descent seeding. The
  * existing ANN surface (q29/q30/q33, q81/q83) answers a
  * bounded QUERY PANEL (collected to the driver); here the query set IS
  * the corpus, so nothing may collect and the probe lists must be
  * computed row-wise.
  *
  * Shape (IVF multi-probe self-join):
  *  1. coarse centroids from the engine's own deterministic sampled-
  *     Lloyd's trainer, broadcast (nList × dim — tiny at any scale);
  *  2. index side: every vector assigned to its ONE nearest cell
  *     ([[ProductQuantization.cellExpr]], narrow);
  *  3. probe side: every vector exploded to its nProbe nearest cells
  *     ([[ProductQuantization.probeExpr]] — the per-row twin of the
  *     driver-side probe list, same tie-break);
  *  4. equi-join ON CELL (each target lives in exactly one cell, so no
  *     candidate dedup is needed), native codegen'd cosine rescoring,
  *     per-source top-k via a rank window that Spark 4 pushes down to a
  *     map-side WindowGroupLimit before the src_id exchange.
  *
  * Cost: Σ_probes |cell| ≈ N · nProbe · |cell| — linear in N when nList
  * grows with the corpus (the IVF contract everywhere in this engine);
  * never an N² pair set. Recall is the standard IVF trade: misses only
  * neighbors whose cell the source didn't probe (KnnGraphSpec measures
  * it against the exact graph and pins a floor; raising nProbe buys
  * recall linearly in cost).
  *
  * Correctness evidence is two-layered (as [[SemanticDedup]]): the gates
  * (q103/q105/q107) run the operators under the SQL-expressible
  * [[SemanticDedup.refinedCentroids]] and are hash-exact vs DuckDB oracles
  * that replay every stage term for term; the TRAINED-quantizer path
  * keeps KnnGraphSpec's exact-recall, determinism, degree and
  * self-exclusion evidence.
  */
object KnnGraph {

  type Q = (SparkSession, String) => DataFrame

  /** Top-k cosine neighbor edges (src_id, nbr_id, sim, rk) for every
    * vector in `emb`. */
  def knnEdges(emb: DataFrame, k: Int, nList: Int, nProbe: Int): DataFrame =
    knnEdgesWithCents(emb, ProductQuantization.trainCoarse(emb, nList), k, nProbe)

  /** [[knnEdges]] under externally supplied centroids — the operator body
    * is quantizer-agnostic (same reason as
    * [[SemanticDedup.verdictsWithCents]]), which lets the gate queries run
    * on SQL-expressible grid centroids and be hash-exact while the
    * trained path keeps KnnGraphSpec's recall/determinism evidence. */
  def knnEdgesWithCents(emb: DataFrame, cents: Array[Array[Float]],
                        k: Int, nProbe: Int): DataFrame = {
    val spark = emb.sparkSession
    val index = emb.select(col("vec_id"), col("embedding"),
      ProductQuantization.cellExpr(spark, cents)(col("embedding")).as("cell"))
    val probes = emb.select(col("vec_id").as("src_id"),
      col("embedding").as("src_emb"),
      explode(ProductQuantization.probeExpr(spark, cents, nProbe)(col("embedding")))
        .as("cell"))
    // project the embeddings AWAY before the rank window: the candidate
    // set is the big intermediate (N·nProbe·|cell| rows), and dragging
    // two dim-sized float arrays per row through the window exchange
    // multiplies the shuffle by ~30× (soaked: 100k vecs, 200M candidates
    // — the 3-column form shuffles ~5 GB, the with-vectors form ~150 GB)
    val cand = probes.join(index, Seq("cell"))
      .filter(col("src_id") =!= col("vec_id"))
      .select(col("src_id"), col("vec_id"),
        round(graft.functions.CosineSimilarity(col("src_emb"), col("embedding")), 6)
          .as("sim"))
    val w = Window.partitionBy("src_id").orderBy(desc("sim"), col("vec_id"))
    cand.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select(col("src_id"), col("vec_id").as("nbr_id"), col("sim"), col("rk"))
  }

  /** q103: the kNN-graph edge list over the embeddings table, ordered for
    * the gate — run under the SQL-expressible
    * [[SemanticDedup.refinedCentroids]] so the gate is hash-exact (r10
    * verdict stretch): the oracle replays cell argmin, per-row nProbe
    * probe lists, the cell equi-join, cosine rescoring, and the top-k
    * window term for term. The TRAINED-quantizer form ([[knnEdges]]) is
    * the production path, spec-gated by KnnGraphSpec and sized by
    * [[ProductQuantization.adaptiveNList]]. */
  def q103KnnGraph(k: Int = 5, nList: Int = -1, nProbe: Int = 4): Q = (s, d) => {
    val emb = embeddings(s, d)
    // nList ≤ 0 → adaptiveNList (fixed cell size as the corpus grows —
    // the wrapper must keep the scale contract when soaked); the oracle
    // SQL re-derives nList from COUNT(embeddings) with the same formula
    val nl = if (nList > 0) nList else ProductQuantization.adaptiveNList(emb)
    knnEdgesWithCents(emb, SemanticDedup.refinedCentroids(emb, nl), k, nProbe)
      .orderBy("src_id", "rk")
  }

  /** NN-descent refinement over an existing kNN edge list (round-11
    * verdict stretch task) — the standard cheap recall multiplier for
    * graph-based curation (Dong et al. 2011, "Efficient k-nearest
    * neighbor graph construction for generic similarity measures"): my
    * neighbor's neighbors are likely my neighbors, so each round expands
    * every vertex's candidate set with its 2-hop neighborhood over the
    * UNDIRECTED graph (out- and in-edges — the reverse direction is what
    * lets evidence flow "backwards" along the manifold), rescores, and
    * keeps the top k. No index, no new probes: one self-join on the edge
    * list per round.
    *
    * THE INIT MATTERS (KnnGraphSpec pins this as a fixed-point property):
    * a pure single-probe IVF graph is CLOSED under 2-hop expansion — all
    * of a vertex's neighbors share its cell, so their neighbors do too,
    * and descent returns the input graph bit-for-bit. Dong et al. start
    * from a RANDOM graph for exactly this reason: the random edges are
    * what let descent traverse the manifold across cell boundaries.
    * `randomBuckets > 0` supplies that seed deterministically and
    * index-free: each vector lands in `randomBuckets` content-addressed
    * buckets (xxhash64(vec_id, j) mod N/4 — expected bucket size 4,
    * edges O(N·randomBuckets), no global window, no driver state), and
    * all intra-bucket pairs join the initial candidate set. Against the
    * alternative recall lever (raising nProbe, which re-probes the INDEX
    * at O(N·nProbe·|cell|) with |cell| ≈ 500 by contract), a descent
    * round costs ≤ (2k')²·N candidates (k' = k + the seed degree) —
    * independent of |cell|, and cheaper whenever (2k')² < nProbe·|cell|.
    *
    * Deterministic: buckets are content-addressed, candidates dedup
    * through max(sim) (equal for equal pairs — cosine is symmetric), and
    * top-k ties break on nbr_id exactly like [[knnEdgesWithCents]].
    *
    * `seedKey(vec_id, j)` is the bucket hash — xxhash64 by default (the
    * production kernel); the q125 gate passes [[mdSeedKey]] so the DuckDB
    * oracle can replay the bucket assignment (same reason q102–q107 take
    * their quantizer as an input: one operator body, two key sources).
    */
  def nnDescent(emb: DataFrame, edges: DataFrame, k: Int,
                rounds: Int = 1, randomBuckets: Int = 0,
                seedKey: (Column, Column) => Column =
                  (v, j) => xxhash64(v, j)): DataFrame = {
    def score(cand: DataFrame): DataFrame = cand
      .join(emb.select(col("vec_id").as("src_id"), col("embedding").as("src_emb")),
        Seq("src_id"))
      .join(emb.select(col("vec_id").as("cand_id"), col("embedding").as("cand_emb")),
        Seq("cand_id"))
      .select(col("src_id"), col("cand_id").as("nbr_id"),
        round(graft.functions.CosineSimilarity(col("src_emb"), col("cand_emb")), 6)
          .as("sim"))
    var cur = edges.select(col("src_id"), col("nbr_id"), col("sim"))
    if (randomBuckets > 0) {
      val nBuckets = math.max(1L, emb.count() / 4L)
      // the bucket membership is self-joined below (two references);
      // materialize so the seed-key hash pass runs once
      val member = StageMaterialize(emb.select(col("vec_id"),
          explode(sequence(lit(0), lit(randomBuckets - 1))).as("j"))
        .select(col("vec_id"), col("j"),
          pmod(seedKey(col("vec_id"), col("j")), lit(nBuckets)).as("bkt")))
      val seed = member.as("a")
        .join(member.as("b"), col("a.j") === col("b.j") &&
          col("a.bkt") === col("b.bkt") && col("a.vec_id") =!= col("b.vec_id"))
        .select(col("a.vec_id").as("src_id"), col("b.vec_id").as("cand_id"))
        .distinct()
      cur = cur.unionByName(score(seed))
    }
    for (_ <- 1 to rounds) {
      // one descent round references `cur` five times (both directions of
      // the undirected list, their 2-hop self-join, and the max-merge).
      // Spark shares none of those subtrees, so an unmaterialized round
      // re-runs the ENTIRE upstream graph build per reference (measured
      // at sf0.1: the q125 plan held 64 parquet scans of the same table).
      // Materialize the ≤kN-row edge state once per round — the
      // pageRankConverged loop discipline applied here; values unchanged.
      val curM = StageMaterialize(cur)
      val und = curM.select(col("src_id"), col("nbr_id"))
        .union(curM.select(col("nbr_id").as("src_id"), col("src_id").as("nbr_id")))
      val cand = und.as("a")
        .join(und.as("b"), col("a.nbr_id") === col("b.src_id"))
        .select(col("a.src_id").as("src_id"), col("b.nbr_id").as("cand_id"))
        .filter(col("src_id") =!= col("cand_id"))
        .distinct()
      val all = curM.unionByName(score(cand))
        .groupBy("src_id", "nbr_id").agg(max("sim").as("sim"))
      val w = Window.partitionBy("src_id").orderBy(desc("sim"), col("nbr_id"))
      cur = all.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
        .select(col("src_id"), col("nbr_id"), col("sim"))
    }
    val w = Window.partitionBy("src_id").orderBy(desc("sim"), col("nbr_id"))
    cur.withColumn("rk", row_number().over(w))
      .select(col("src_id"), col("nbr_id"), col("sim"), col("rk"))
  }

  /** Content-addressed seed-bucket key in the engine's established
    * md5₃₂ uniform construction (q106/q107/q50): the first 8 hex chars
    * of md5("vec_id:j") as a non-negative long. Engine-portable — DuckDB
    * replays it exactly — at the price of a string render per (vec, j);
    * the xxhash64 default is the production kernel (same class split as
    * q84/q92 vs their md5 gate twins). */
  def mdSeedKey(v: Column, j: Column): Column =
    conv(substring(md5(concat(v.cast("string"), lit(":"), j.cast("string"))), 1, 8),
      16, 10).cast("long")

  /** q125: one NN-descent round over the q103 base graph, as a gate —
    * deliberately starved base (nProbe=1, whose 2-hop closure is a fixed
    * point) + the md5-seeded random buckets, so the DuckDB oracle replays
    * the ENTIRE refinement: seed membership, intra-bucket pairs, 2-hop
    * candidate expansion over the undirected edge list, cosine rescoring,
    * max-merge, and the top-k window. Refinement dominance (the refined
    * k-th sim ≥ the base k-th sim per source) is spec-pinned; the
    * xxhash64-seeded production form keeps KnnGraphSpec's recall uplift
    * and candidate-bound evidence. */
  def q125NnDescent(k: Int = 5, nList: Int = -1,
                    randomBuckets: Int = 2): Q = (s, d) => {
    val emb = embeddings(s, d)
    val nl = if (nList > 0) nList else ProductQuantization.adaptiveNList(emb)
    val base = knnEdgesWithCents(emb, SemanticDedup.refinedCentroids(emb, nl),
      k, nProbe = 1)
    nnDescent(emb, base, k, rounds = 1, randomBuckets = randomBuckets,
      seedKey = mdSeedKey).orderBy("src_id", "rk")
  }

  /** Semantic clusters: connected components over the kNN graph's
    * τ-thresholded edges — the grouping form of the graph (SemDeDup's
    * "semantic cluster" unit, and the embedding twin of q42's lexical
    * dedup clusters). Reuses the dedup engine's component machinery
    * ([[DedupOps.connectedComponents]]: bounded driver union-find under
    * the edge cap, pointer-jumped label propagation above it), so the
    * scale story is already soak-proven; the edge set is the kNN graph's
    * (≤ k·N rows) filtered by similarity — never a pair enumeration.
    * Labels are the component's minimum vec_id (deterministic). */
  def semanticClusters(emb: DataFrame, k: Int, nList: Int, nProbe: Int,
                       tau: Double): DataFrame =
    semanticClustersWithCents(emb,
      ProductQuantization.trainCoarse(emb, nList), k, nProbe, tau)

  /** [[semanticClusters]] under externally supplied centroids (see
    * [[knnEdgesWithCents]]). */
  def semanticClustersWithCents(emb: DataFrame, cents: Array[Array[Float]],
                                k: Int, nProbe: Int, tau: Double): DataFrame =
    GraphMaintenance.clustersFromEdges(emb.select(col("vec_id")),
      knnEdgesWithCents(emb, cents, k, nProbe), tau)

  /** q105: per-vector semantic-cluster assignment over the embeddings
    * table, ordered for the gate. nProbe defaults lower than q103's:
    * cluster edges only need the τ-thresholded HIGH-similarity
    * neighbors, which are overwhelmingly same-cell (SemDeDup itself
    * probes one cell) — extra probes buy tail recall the τ filter
    * discards anyway. */
  def q105SemanticClusters(k: Int = 5, nList: Int = -1, nProbe: Int = 2,
                           tau: Double = 0.40): Q = (s, d) => {
    val emb = embeddings(s, d)
    val nl = if (nList > 0) nList else ProductQuantization.adaptiveNList(emb)
    semanticClustersWithCents(emb, SemanticDedup.refinedCentroids(emb, nl),
      k, nProbe, tau).orderBy("vec_id")
  }

  /** q107: diversity-preserving subset — at most `m` vectors per
    * semantic cluster, selected by the content-addressed uniform key
    * (q106's construction with unit weight: rank by md5₃₂(vec_id), so
    * the within-cluster choice is deterministic, engine-portable, and
    * stable under corpus growth). This is the cluster-balanced pruning
    * step of the SemDeDup/DataComp line: dropping whole near-duplicate
    * neighborhoods down to m representatives bounds how much any one
    * semantic template can dominate the training mix — the
    * embedding-space complement of q85's source-level temperature
    * reweighting. One rank window over q105's assignment; the cluster
    * key is component-min vec_id, high-cardinality, so the window
    * parallelizes and WindowGroupLimit prunes map-side. */
  def q107DiversitySample(m: Int = 3, k: Int = 5, nList: Int = -1,
                          nProbe: Int = 2, tau: Double = 0.40): Q = (s, d) => {
    val emb = embeddings(s, d)
    val nl = if (nList > 0) nList else ProductQuantization.adaptiveNList(emb)
    val u = conv(substring(md5(col("vec_id").cast("string")), 1, 8), 16, 10)
      .cast("long")
    val w = Window.partitionBy("component").orderBy(col("key"), col("vec_id"))
    semanticClustersWithCents(emb, SemanticDedup.refinedCentroids(emb, nl),
      k, nProbe, tau)
      .select(col("vec_id"), col("component"), u.as("key"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= m)
      .select(col("vec_id"), col("component"), col("rk"))
      .orderBy("component", "rk")
  }

  // --- DuckDB oracles (r10 verdict stretch): the gates run under the
  // SQL-expressible grid quantizer, so every stage — cell argmin, probe
  // lists, the cell equi-join, cosine rescoring, top-k, the component
  // closure — replays in SQL term for term. The cosine/distance
  // accumulation pattern is q114's established bit-parity form.

  private def cosSql(a: String, b: String) =
    s"""(list_sum(list_transform(range(1, len($a) + 1),
       |    i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))
       |  / (SQRT(list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
       |     * SQRT(list_sum(list_transform($b, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))))"""

  /** Shared CTE chain: grid centroids → per-(vec, cell) distances →
    * one-cell index assignment → nProbe probe lists → rescored top-k
    * candidate edges (src_id, nbr_id, sim, rk ≤ k). */
  private def knnCtes(nList: Int, nProbe: Int, k: Int) =
    s"""${SemanticDedup.refinedCentsSql(nList)},
       |dist AS (
       |  SELECT e.vec_id, c.c,
       |    list_sum(list_transform(range(1, len(e.embedding) + 1),
       |      i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(c.cent[i] AS DOUBLE))
       |         * (CAST(e.embedding[i] AS DOUBLE) - CAST(c.cent[i] AS DOUBLE)))) AS d
       |  FROM embeddings e CROSS JOIN cents c),
       |drank AS (
       |  SELECT vec_id, c, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, c) AS rn
       |  FROM dist),
       |assigned AS (SELECT vec_id, c AS cell FROM drank WHERE rn = 1),
       |probes AS (SELECT vec_id AS src_id, c AS cell FROM drank WHERE rn <= $nProbe),
       |cand AS (
       |  SELECT p.src_id, a.vec_id AS nbr_id,
       |    ROUND(${cosSql("se.embedding", "ne.embedding")}, 6) AS sim
       |  FROM probes p
       |  JOIN assigned a ON a.cell = p.cell AND a.vec_id <> p.src_id
       |  JOIN embeddings se ON se.vec_id = p.src_id
       |  JOIN embeddings ne ON ne.vec_id = a.vec_id),
       |edges_k AS (
       |  SELECT src_id, nbr_id, sim, rk FROM (
       |    SELECT src_id, nbr_id, sim,
       |      ROW_NUMBER() OVER (PARTITION BY src_id ORDER BY sim DESC, nbr_id) AS rk
       |    FROM cand) x WHERE rk <= $k)"""

  private val q103Sql: String =
    s"""WITH ${knnCtes(nList = -1, nProbe = 4, k = 5)}
       |SELECT src_id, nbr_id, sim, rk FROM edges_k ORDER BY src_id, rk""".stripMargin

  /** τ-thresholded kNN edges → undirected closure → min-id component per
    * vector (the q42 recursive-CTE component pattern over embeddings). */
  private def clusterCtes(tau: Double) =
    s"""tedges AS (SELECT src_id AS a, nbr_id AS b FROM edges_k WHERE sim >= $tau),
       |uedges AS (SELECT a, b FROM tedges UNION SELECT b, a FROM tedges),
       |reach(n, m) AS (
       |  SELECT vec_id, vec_id FROM embeddings
       |  UNION
       |  SELECT r.n, e.b FROM reach r JOIN uedges e ON r.m = e.a),
       |comp AS (SELECT n AS vec_id, MIN(m) AS component FROM reach GROUP BY n)"""

  private val q105Sql: String =
    s"""WITH RECURSIVE ${knnCtes(nList = -1, nProbe = 2, k = 5)},
       |${clusterCtes(tau = 0.40)}
       |SELECT vec_id, component FROM comp ORDER BY vec_id""".stripMargin

  private val q107Sql: String =
    s"""WITH RECURSIVE ${knnCtes(nList = -1, nProbe = 2, k = 5)},
       |${clusterCtes(tau = 0.40)}
       |SELECT vec_id, component, rk FROM (
       |  SELECT vec_id, component,
       |    ROW_NUMBER() OVER (PARTITION BY component
       |      ORDER BY CAST(concat('0x', substr(md5(CAST(vec_id AS VARCHAR)), 1, 8)) AS BIGINT),
       |               vec_id) AS rk
       |  FROM comp) x WHERE rk <= 3
       |ORDER BY component, rk""".stripMargin

  /** q125 oracle: the full descent round in SQL — md5 seed buckets,
    * intra-bucket pairs, the 2-hop expansion over the undirected edge
    * list, rescoring, max-merge with the base, and the top-k window
    * (twice: the round's own cut, then the output ranking — mirroring
    * the operator exactly). */
  private val q125Sql: String = {
    val cosSe = cosSql("se.embedding", "ne.embedding")
    s"""WITH ${knnCtes(nList = -1, nProbe = 1, k = 5)},
       |member AS (
       |  SELECT e.vec_id, j.j,
       |    CAST(concat('0x', substr(md5(concat(CAST(e.vec_id AS VARCHAR), ':',
       |        CAST(j.j AS VARCHAR))), 1, 8)) AS BIGINT)
       |      % (SELECT GREATEST(1, COUNT(*) // 4) FROM embeddings) AS bkt
       |  FROM embeddings e CROSS JOIN (SELECT UNNEST(range(0, 2)) AS j) j),
       |seed AS (
       |  SELECT DISTINCT a.vec_id AS src_id, b.vec_id AS nbr_id
       |  FROM member a JOIN member b
       |    ON a.j = b.j AND a.bkt = b.bkt AND a.vec_id <> b.vec_id),
       |seedsim AS (
       |  SELECT s.src_id, s.nbr_id, ROUND($cosSe, 6) AS sim
       |  FROM seed s JOIN embeddings se ON se.vec_id = s.src_id
       |              JOIN embeddings ne ON ne.vec_id = s.nbr_id),
       |cur0 AS (SELECT src_id, nbr_id, sim FROM edges_k
       |         UNION ALL SELECT src_id, nbr_id, sim FROM seedsim),
       |und AS (SELECT src_id, nbr_id FROM cur0
       |        UNION ALL SELECT nbr_id AS src_id, src_id AS nbr_id FROM cur0),
       |cand2 AS (
       |  SELECT DISTINCT a.src_id, b.nbr_id
       |  FROM und a JOIN und b ON a.nbr_id = b.src_id
       |  WHERE a.src_id <> b.nbr_id),
       |cand2s AS (
       |  SELECT c.src_id, c.nbr_id, ROUND($cosSe, 6) AS sim
       |  FROM cand2 c JOIN embeddings se ON se.vec_id = c.src_id
       |               JOIN embeddings ne ON ne.vec_id = c.nbr_id),
       |merged AS (
       |  SELECT src_id, nbr_id, MAX(sim) AS sim FROM (
       |    SELECT src_id, nbr_id, sim FROM cur0
       |    UNION ALL SELECT src_id, nbr_id, sim FROM cand2s) u
       |  GROUP BY src_id, nbr_id),
       |r1 AS (
       |  SELECT src_id, nbr_id, sim FROM (
       |    SELECT src_id, nbr_id, sim,
       |      ROW_NUMBER() OVER (PARTITION BY src_id ORDER BY sim DESC, nbr_id) AS rk
       |    FROM merged) x WHERE rk <= 5)
       |SELECT src_id, nbr_id, sim, rk FROM (
       |  SELECT src_id, nbr_id, sim,
       |    ROW_NUMBER() OVER (PARTITION BY src_id ORDER BY sim DESC, nbr_id) AS rk
       |  FROM r1) y
       |ORDER BY src_id, rk""".stripMargin
  }

  /** Semi-supervised label propagation over the kNN graph (Zhu &
    * Ghahramani 2002, the standard way to stretch a small labeled set
    * over a big corpus — e.g. a few thousand human toxicity/quality
    * labels scored across billions of documents via embedding
    * similarity). One-vs-rest scalar form: seeds carry 1.0 (positive
    * class) or 0.0, everyone else starts at 0.0; each round an unlabeled
    * vertex takes the similarity-weighted mean of its UNDIRECTED
    * neighbors' scores while seeds stay CLAMPED (the Zhu–Ghahramani
    * clamp is what makes the fixed point the harmonic solution rather
    * than uniform mush). Multi-class runs this once per class.
    *
    * Scale shape: each round is one join of the edge list (≤ 2kN rows
    * after the undirected max-merge) against the score frame on nbr_id +
    * one groupBy on src_id — both shuffles keyed on vec_id, so a
    * pre-partitioned graph reuses its partitioning across rounds; no
    * driver state, no N² anything. Numerics follow the engine's
    * cross-engine contract: 6dp inputs, exact DECIMAL sums, one double
    * division, 6dp output — so DuckDB replays every round bit-for-bit.
    */
  def labelPropagate(emb: DataFrame, edges: DataFrame,
                     isSeed: Column => Column, isPos: Column => Column,
                     iters: Int = 2): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    // the edge list (usually a full kNN build) is referenced once per
    // direction of the undirected list, and the undirected list once per
    // propagation round — materialize both so the graph build runs ONCE
    // instead of 2·iters times (Spark shares no subtrees)
    val fwd = StageMaterialize(
      edges.select(col("src_id"), col("nbr_id"), col("sim")))
    val und = StageMaterialize(fwd
      .union(fwd.select(col("nbr_id").as("src_id"),
        col("src_id").as("nbr_id"), col("sim")))
      .groupBy("src_id", "nbr_id").agg(max("sim").as("w")))
    val base = StageMaterialize(
      emb.select(col("vec_id"), isSeed(col("vec_id")).as("labeled"),
        when(isSeed(col("vec_id")) && isPos(col("label")), 1.0)
          .otherwise(0.0).as("seed")))
    var scores = base.withColumn("score", col("seed"))
    for (_ <- 1 to iters) {
      val contrib = und
        .join(scores.select(col("vec_id").as("nbr_id"), col("score")), Seq("nbr_id"))
        .groupBy("src_id")
        .agg(
          sum(col("w").cast(DecimalType(18, 6)) * col("score").cast(DecimalType(18, 6)))
            .cast(DoubleType).as("num"),
          sum(col("w").cast(DecimalType(18, 6))).cast(DoubleType).as("den"))
      scores = base
        .join(contrib.withColumnRenamed("src_id", "vec_id"), Seq("vec_id"), "left_outer")
        .select(col("vec_id"), col("labeled"), col("seed"),
          when(col("labeled"), col("seed"))
            .otherwise(coalesce(round(col("num") / col("den"), 6), lit(0.0)))
            .as("score"))
    }
    scores.select(col("vec_id"), col("labeled"), col("score"),
      (col("score") >= 0.5).as("predicted_pos"))
  }

  /** q129: label propagation gate — seeds are `vec_id % 5 == 0` (a 20 %
    * labeled stand-in), positive class `label == 0`, two clamped rounds
    * over the q105-config kNN graph (SQL-expressible grid centroids,
    * nProbe=2, k=5) so the oracle replays the graph AND both rounds. */
  def q129LabelProp(k: Int = 5, nList: Int = -1, nProbe: Int = 2): Q = (s, d) => {
    val emb = embeddings(s, d)
    val nl = if (nList > 0) nList else ProductQuantization.adaptiveNList(emb)
    val edges = knnEdgesWithCents(emb, SemanticDedup.refinedCentroids(emb, nl), k, nProbe)
    labelPropagate(emb, edges, _ % 5 === 0, _ === 0).orderBy("vec_id")
  }

  /** q129 oracle: one propagation round as a CTE template — LEFT JOIN the
    * undirected edges, DECIMAL(18,6) products summed exactly, one double
    * division, 6dp round, seeds clamped — applied twice. */
  private val q129Sql: String = {
    def roundCte(prev: String, out: String) =
      s"""$out AS (
         |  SELECT v.vec_id, v.labeled, v.seed,
         |    CASE WHEN v.labeled THEN v.seed
         |         ELSE COALESCE(ROUND(
         |           CAST(SUM(CAST(u.w AS DECIMAL(18,6)) * CAST(n.score AS DECIMAL(18,6))) AS DOUBLE)
         |           / CAST(SUM(CAST(u.w AS DECIMAL(18,6))) AS DOUBLE), 6), 0.0) END AS score
         |  FROM s0 v
         |  LEFT JOIN und u ON u.src_id = v.vec_id
         |  LEFT JOIN $prev n ON n.vec_id = u.nbr_id
         |  GROUP BY v.vec_id, v.labeled, v.seed)"""
    s"""WITH ${knnCtes(nList = -1, nProbe = 2, k = 5)},
       |und AS (
       |  SELECT src_id, nbr_id, MAX(sim) AS w FROM (
       |    SELECT src_id, nbr_id, sim FROM edges_k
       |    UNION ALL SELECT nbr_id AS src_id, src_id AS nbr_id, sim FROM edges_k) u
       |  GROUP BY src_id, nbr_id),
       |s0 AS (
       |  SELECT vec_id, (vec_id % 5 = 0) AS labeled,
       |    CAST(CASE WHEN vec_id % 5 = 0 AND label = 0 THEN 1.0 ELSE 0.0 END AS DOUBLE) AS seed,
       |    CAST(CASE WHEN vec_id % 5 = 0 AND label = 0 THEN 1.0 ELSE 0.0 END AS DOUBLE) AS score
       |  FROM embeddings),
       |${roundCte("s0", "s1")},
       |${roundCte("s1", "s2")}
       |SELECT vec_id, labeled, score, score >= 0.5 AS predicted_pos
       |FROM s2 ORDER BY vec_id""".stripMargin
  }

  /** Centrality over the kNN graph: PageRank with the damping walk run on
    * the similarity-weighted UNDIRECTED edge list — the standard
    * representativeness signal for graph-based data curation (a
    * high-PageRank document sits in a dense well-connected semantic
    * neighborhood; a low one is peripheral/outlier mass — the
    * graph-global complement of q61's local outlier score).
    *
    * Scale shape: identical to [[labelPropagate]] — per iteration ONE
    * join of the ≤2kN undirected edge list against the score frame plus
    * one groupBy, both keyed on vec_id (a pre-partitioned graph reuses
    * its partitioning across rounds); out-strength is computed once. No
    * driver state, nothing N².
    *
    * Numerics (the engine's cross-engine contract): the transition
    * SHARES w(u,v)/Σ_v w(u,v) are computed ONCE and rounded 6dp; each
    * iteration sums share×score in DECIMAL(18,6), applies the damping
    * blend in double, rounds 6dp — so DuckDB replays every iteration
    * bit-for-bit. No dangling mass: every vertex of a kNN graph has ≥ k
    * undirected out-edges by construction. */
  def pageRank(emb: DataFrame, edges: DataFrame, iters: Int = 2,
               damping: Double = 0.85): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    // same materialization discipline as [[pageRankConverged]]: the edge
    // list (a full kNN build at the gates) is referenced by both
    // directions of the undirected list, the undirected list by both the
    // strength aggregate and the share join, and the share table by every
    // iteration — unmaterialized, each reference re-runs the whole build
    // (Spark shares no subtrees). Values unchanged.
    val fwd = StageMaterialize(
      edges.select(col("src_id"), col("nbr_id"), col("sim")))
    val und = StageMaterialize(fwd
      .union(fwd.select(col("nbr_id").as("src_id"),
        col("src_id").as("nbr_id"), col("sim")))
      .groupBy("src_id", "nbr_id").agg(max("sim").as("w")))
    val strength = und.groupBy("src_id")
      .agg(sum(col("w").cast(DecimalType(18, 6))).cast(DoubleType).as("s"))
    val share = StageMaterialize(und.join(strength, Seq("src_id"))
      .select(col("src_id"), col("nbr_id"),
        round(col("w") / col("s"), 6).as("share")))
    val n = emb.count()
    val teleport = (1.0 - damping) / n
    var scores = emb.select(col("vec_id"),
      round(lit(1.0) / n, 6).as("score"))
    for (_ <- 1 to iters) {
      val contrib = share
        .join(scores.select(col("vec_id").as("src_id"), col("score")), Seq("src_id"))
        .groupBy(col("nbr_id").as("vec_id"))
        .agg(sum(col("share").cast(DecimalType(18, 6)) * col("score").cast(DecimalType(18, 6)))
          .cast(DoubleType).as("inflow"))
      scores = emb.select(col("vec_id"))
        .join(contrib, Seq("vec_id"), "left_outer")
        .select(col("vec_id"),
          round(lit(teleport) + lit(damping) * coalesce(col("inflow"), lit(0.0)), 6)
            .as("score"))
    }
    scores
  }

  /** [[pageRank]] run TO A TOLERANCE — the production form (round-13
    * verdict task 5): the fixed-round gate shape exists so DuckDB can
    * replay a static plan; a deployment iterates until max |Δscore| ≤
    * `tol` and fails LOUDLY if the walk hasn't settled by `maxIters`
    * (silent non-convergence would ship half-mixed centrality scores —
    * the [[DedupOps.connectedComponents]] rule). Per-iteration shape is
    * identical (one join + one groupBy on vec_id over the share table);
    * every round goes through [[StageMaterialize]] so the loop's plan
    * lineage stays constant instead of doubling per iteration (the q42
    * discipline). Numerics stay plain doubles inside the loop — per-round
    * 6dp rounding would floor the residual at the rounding step and lie
    * about convergence; this variant is spec-verified against an
    * independently computed driver-side fixpoint, not a DuckDB replay. */
  def pageRankConverged(ids: DataFrame, edges: DataFrame,
                        tol: Double = 1e-8, maxIters: Int = 50,
                        damping: Double = 0.85): DataFrame = {
    val fwd = edges.select(col("src_id"), col("nbr_id"), col("sim"))
    val und = fwd
      .union(fwd.select(col("nbr_id").as("src_id"),
        col("src_id").as("nbr_id"), col("sim")))
      .groupBy("src_id", "nbr_id").agg(max("sim").as("w"))
    val strength = und.groupBy("src_id").agg(sum(col("w")).as("s"))
    val share = StageMaterialize(und.join(strength, Seq("src_id"))
      .select(col("src_id"), col("nbr_id"), (col("w") / col("s")).as("share")))
    val n = ids.count()
    val teleport = (1.0 - damping) / n
    var scores = StageMaterialize(ids.select(col("vec_id"), (lit(1.0) / n).as("score")))
    var iter = 0
    var converged = false
    while (!converged && iter < maxIters) {
      val contrib = share
        .join(scores.select(col("vec_id").as("src_id"), col("score")), Seq("src_id"))
        .groupBy(col("nbr_id").as("vec_id"))
        .agg(sum(col("share") * col("score")).as("inflow"))
      val next = StageMaterialize(ids.select(col("vec_id"))
        .join(contrib, Seq("vec_id"), "left_outer")
        .select(col("vec_id"),
          (lit(teleport) + lit(damping) * coalesce(col("inflow"), lit(0.0)))
            .as("score")))
      val delta = next.join(scores.withColumnRenamed("score", "old"), Seq("vec_id"))
        .agg(max(abs(col("score") - col("old")))).head().getDouble(0)
      scores = next
      converged = delta <= tol
      iter += 1
    }
    require(converged,
      s"pageRankConverged: residual still above $tol after $maxIters " +
        "iterations — raise maxIters or loosen tol")
    scores
  }

  /** q130: PageRank gate — two damped iterations over the q105-config
    * kNN graph (SQL-expressible grid centroids, nProbe=2, k=5), so the
    * DuckDB oracle replays the graph, the share table, and both
    * iterations term for term. */
  def q130PageRank(k: Int = 5, nList: Int = -1, nProbe: Int = 2): Q = (s, d) => {
    val emb = embeddings(s, d)
    val nl = if (nList > 0) nList else ProductQuantization.adaptiveNList(emb)
    val edges = knnEdgesWithCents(emb, SemanticDedup.refinedCentroids(emb, nl), k, nProbe)
    pageRank(emb, edges).orderBy("vec_id")
  }

  /** q130 oracle: share table once, one CTE per iteration — the q129
    * replay pattern with the damping blend in double. */
  private val q130Sql: String = {
    // CASTs matter (the q128 lesson): bare 0.15/0.85/1.0 parse as DECIMAL
    // in DuckDB and divide/multiply exactly, while Spark runs IEEE double.
    // The teleport numerator is (1.0 - 0.85) IN DOUBLE on both sides —
    // the JVM's 1.0-0.85 is 0.15000000000000002, one ulp off the 0.15
    // literal, enough to flip a 6dp round at a boundary.
    def iterCte(prev: String, out: String) =
      s"""$out AS (
         |  SELECT v.vec_id,
         |    ROUND((CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE))
         |        / (SELECT COUNT(*) FROM embeddings)
         |      + CAST(0.85 AS DOUBLE) * CAST(COALESCE(SUM(
         |          CAST(sh.share AS DECIMAL(18,6)) * CAST(p.score AS DECIMAL(18,6))), 0)
         |        AS DOUBLE), 6) AS score
         |  FROM embeddings v
         |  LEFT JOIN share sh ON sh.nbr_id = v.vec_id
         |  LEFT JOIN $prev p ON p.vec_id = sh.src_id
         |  GROUP BY v.vec_id)"""
    s"""WITH ${knnCtes(nList = -1, nProbe = 2, k = 5)},
       |und AS (
       |  SELECT src_id, nbr_id, MAX(sim) AS w FROM (
       |    SELECT src_id, nbr_id, sim FROM edges_k
       |    UNION ALL SELECT nbr_id AS src_id, src_id AS nbr_id, sim FROM edges_k) u
       |  GROUP BY src_id, nbr_id),
       |strength AS (
       |  SELECT src_id, CAST(SUM(CAST(w AS DECIMAL(18,6))) AS DOUBLE) AS s
       |  FROM und GROUP BY src_id),
       |share AS (
       |  SELECT u.src_id, u.nbr_id, ROUND(u.w / st.s, 6) AS share
       |  FROM und u JOIN strength st ON st.src_id = u.src_id),
       |p0 AS (
       |  SELECT vec_id,
       |    ROUND(CAST(1.0 AS DOUBLE) / (SELECT COUNT(*) FROM embeddings), 6) AS score
       |  FROM embeddings),
       |${iterCte("p0", "p1")},
       |${iterCte("p1", "p2")}
       |SELECT vec_id, score FROM p2 ORDER BY vec_id""".stripMargin
  }

  /** q149: graph arrival-impact audit — what one ingest batch DOES to the
    * kNN graph, as a queryable number rather than a maintenance
    * side-effect. A content-addressed ~10 % of the corpus plays the
    * arrival batch (md5₃₂(vec_id) % 10 = 0 — the q40/q106 split idiom);
    * the audit builds the graph WITHOUT them and WITH them under the
    * same frozen quantizer and classifies every edge:
    *
    *  - `arrival_src` — a new vector's own list (the insert path's work);
    *  - `kept`        — a base source's edge both graphs agree on;
    *  - `displaced`   — a base edge the arrivals pushed out of top-k
    *    (exactly the rows [[GraphMaintenance.upsertGraph]]'s merge
    *    rewrites — the reverse-probe partitions bound WHERE these occur);
    *  - `gained`      — a base source's replacement edge (symmetric to
    *    displaced; overwhelmingly arrival neighbors).
    *
    * The displaced/kept ratio is the number a deployment watches to size
    * its incremental-maintenance batches: it is the fraction of the
    * at-rest graph one batch invalidates. Cost: two probe-join graph
    * builds + one edge-keyed full-outer join (edge-mass-bounded, never
    * pair-mass). Output: |classes| rows of BIGINT counts — hash-exact;
    * the oracle replays BOTH graph chains over the same grid quantizer
    * and the same split predicate. Soaked 12.5k→50k vectors at
    * 1.16×/2.01× per doubling (SOAK.md round 15) — build-dominated, so
    * the slope tracks the graph build's own ≤2×. */
  def q149GraphArrivalDiff(k: Int = 5, nList: Int = -1, nProbe: Int = 2): Q = (s, d) => {
    val emb = embeddings(s, d)
    val nl = if (nList > 0) nList else ProductQuantization.adaptiveNList(emb)
    val cents = SemanticDedup.refinedCentroids(emb, nl)
    def isArrival(c: Column): Column =
      conv(substring(md5(c.cast("string")), 1, 8), 16, 10).cast("long") % 10 === 0
    val base = emb.filter(!isArrival(col("vec_id")))
    val before = knnEdgesWithCents(base, cents, k, nProbe)
      .select(col("src_id"), col("nbr_id")).withColumn("in_before", lit(1L))
    val after = knnEdgesWithCents(emb, cents, k, nProbe)
      .select(col("src_id"), col("nbr_id")).withColumn("in_after", lit(1L))
    after.join(before, Seq("src_id", "nbr_id"), "full_outer")
      .na.fill(0L, Seq("in_before", "in_after"))
      .select(col("src_id"), col("nbr_id"),
        when(isArrival(col("src_id")), "arrival_src")
          .when(col("in_before") === 1 && col("in_after") === 1, "kept")
          .when(col("in_after") === 1, "gained")
          .otherwise("displaced").as("class"))
      .groupBy("class")
      .agg(count(lit(1)).as("n_edges"),
        countDistinct(col("src_id")).as("n_srcs"))
      .orderBy("class")
  }

  /** Per-table knn CTE chain for oracles that need TWO graphs in one
    * query (q149): same shape as [[knnCtes]], CTE names prefixed, the
    * shared `cents` CTE emitted once by the caller. */
  private def knnCtesOver(tbl: String, pfx: String, nProbe: Int, k: Int) =
    s"""${pfx}dist AS (
       |  SELECT e.vec_id, c.c,
       |    list_sum(list_transform(range(1, len(e.embedding) + 1),
       |      i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(c.cent[i] AS DOUBLE))
       |         * (CAST(e.embedding[i] AS DOUBLE) - CAST(c.cent[i] AS DOUBLE)))) AS d
       |  FROM $tbl e CROSS JOIN cents c),
       |${pfx}drank AS (
       |  SELECT vec_id, c, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, c) AS rn
       |  FROM ${pfx}dist),
       |${pfx}assigned AS (SELECT vec_id, c AS cell FROM ${pfx}drank WHERE rn = 1),
       |${pfx}probes AS (SELECT vec_id AS src_id, c AS cell FROM ${pfx}drank WHERE rn <= $nProbe),
       |${pfx}cand AS (
       |  SELECT p.src_id, a.vec_id AS nbr_id,
       |    ROUND(${cosSql("se.embedding", "ne.embedding")}, 6) AS sim
       |  FROM ${pfx}probes p
       |  JOIN ${pfx}assigned a ON a.cell = p.cell AND a.vec_id <> p.src_id
       |  JOIN $tbl se ON se.vec_id = p.src_id
       |  JOIN $tbl ne ON ne.vec_id = a.vec_id),
       |${pfx}edges AS (
       |  SELECT src_id, nbr_id, sim, rk FROM (
       |    SELECT src_id, nbr_id, sim,
       |      ROW_NUMBER() OVER (PARTITION BY src_id ORDER BY sim DESC, nbr_id) AS rk
       |    FROM ${pfx}cand) x WHERE rk <= $k)"""

  private val q149Sql: String =
    s"""WITH ${SemanticDedup.refinedCentsSql(-1)},
       |base AS (
       |  SELECT * FROM embeddings
       |  WHERE CAST(concat('0x', substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))
       |        AS BIGINT) % 10 <> 0),
       |${knnCtesOver("embeddings", "f_", nProbe = 2, k = 5)},
       |${knnCtesOver("base", "b_", nProbe = 2, k = 5)},
       |j AS (
       |  SELECT COALESCE(f.src_id, b.src_id) AS src_id,
       |    CASE WHEN f.src_id IS NOT NULL THEN 1 ELSE 0 END AS in_after,
       |    CASE WHEN b.src_id IS NOT NULL THEN 1 ELSE 0 END AS in_before
       |  FROM f_edges f FULL OUTER JOIN b_edges b
       |    ON f.src_id = b.src_id AND f.nbr_id = b.nbr_id)
       |SELECT
       |  CASE WHEN CAST(concat('0x', substr(md5(CAST(src_id AS VARCHAR)), 1, 8))
       |            AS BIGINT) % 10 = 0 THEN 'arrival_src'
       |       WHEN in_before = 1 AND in_after = 1 THEN 'kept'
       |       WHEN in_after = 1 THEN 'gained'
       |       ELSE 'displaced' END AS class,
       |  COUNT(*) AS n_edges,
       |  COUNT(DISTINCT src_id) AS n_srcs
       |FROM j GROUP BY 1 ORDER BY class""".stripMargin

  /** q155: the at-rest graph's MERGE-ON-READ RESOLVE under the oracle
    * (round-15 verdict task 2) — the reader path
    * ([[GraphMaintenance.edgesAtRest]]: tombstone supersession, rk=0
    * revival, latest-full-generation-wins, duplicate collapse, re-rank)
    * was spec-verified only; this gate runs the REAL persisted artifact
    * through its full life cycle and hash-compares the resolved edge
    * list against DuckDB.
    *
    * Chain (all content-addressed by md5₃₂(vec_id) % 10 — the q149
    * split idiom, so both engines agree on the batches):
    *  1. build the index + graph layouts WITHOUT the h=0 ids (the
    *     arrivals) under the full corpus's frozen grid quantizer;
    *  2. fold batch 1: the arrivals (challenger + reverse-probe path);
    *  3. fold batch 2: the h=1 ids RE-EMBEDDED with their negated
    *     vectors (tombstone + fresh-list + redges/ repair path; negation
    *     is exact in IEEE float, so both engines see bit-identical new
    *     embeddings);
    *  4. fold batch 3: DELETE the h=2 ids (tombstone + survivor-repair
    *     path; the id list rides the driver — bounded by the batch, the
    *     [[GraphMaintenance.deleteFromGraph]] contract);
    *  5. return [[GraphMaintenance.edgesAtRest]] — one merge-on-read
    *     window pass over the 4-generation log.
    *
    * The oracle replays the log resolution through the merge identity
    * the reader is BUILT on (top-k(A ∪ B) = top-k(top-k(A) ∪ B), proved
    * bit-exact per step by GraphMaintenanceSpec): the fully resolved log
    * IS the rebuild over the final corpus — survivors only, re-embeds
    * negated — under the same frozen centroids. Any reader defect
    * (a tombstone killing its own generation, a challenger outliving a
    * newer full list, a duplicate double-ranking) breaks the identity
    * and the hash. */
  def q155AtRestResolve(k: Int = 5, nList: Int = -1, nProbe: Int = 2): Q = (s, d) => {
    // the lifecycle below scans the corpus many times (adaptive nList,
    // centroid seeding + refinement, the h-split filters for the build and
    // all three folds, the delete-id collect) — materialize once so every
    // pass reads the checkpointed frame instead of re-reading parquet
    val emb = StageMaterialize(
      embeddings(s, d).select("vec_id", "embedding", "label"))
    val nl = if (nList > 0) nList else ProductQuantization.adaptiveNList(emb)
    val cents = SemanticDedup.refinedCentroids(emb, nl)
    def h(c: Column): Column =
      conv(substring(md5(c.cast("string")), 1, 8), 16, 10).cast("long") % 10
    val root = java.nio.file.Files.createTempDirectory("graft-q155").toString
    val embPath = root + "/index"
    val graphPath = root + "/graph"
    EmbeddingMaintenance.writeCellLayoutPersistent(
      emb.filter(h(col("vec_id")) =!= 0), cents, embPath)
    GraphMaintenance.writeKnnGraph(s, embPath, graphPath, k, nProbe)
    GraphMaintenance.upsertGraph(s, embPath, graphPath,
      emb.filter(h(col("vec_id")) === 0))
    GraphMaintenance.upsertGraph(s, embPath, graphPath,
      emb.filter(h(col("vec_id")) === 1)
        .select(col("vec_id"),
          transform(col("embedding"), x => -x).as("embedding"), col("label")))
    val delIds = emb.filter(h(col("vec_id")) === 2)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    GraphMaintenance.deleteFromGraph(s, embPath, graphPath, delIds)
    GraphMaintenance.edgesAtRest(s, graphPath).orderBy("src_id", "rk")
  }

  private val q155Sql: String =
    s"""WITH ${SemanticDedup.refinedCentsSql(-1)},
       |final AS (
       |  SELECT vec_id,
       |    CASE WHEN h = 1 THEN list_transform(embedding, x -> -x)
       |         ELSE embedding END AS embedding
       |  FROM (SELECT vec_id, embedding,
       |          CAST(concat('0x', substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))
       |            AS BIGINT) % 10 AS h
       |        FROM embeddings) t
       |  WHERE h <> 2),
       |${knnCtesOver("final", "r_", nProbe = 2, k = 5)}
       |SELECT src_id, nbr_id, sim, rk FROM r_edges ORDER BY src_id, rk""".stripMargin

  /** q150: PageRank convergence-residual audit — the observable the
    * tolerance-driven production form ([[pageRankConverged]]) stops on,
    * gated as a fixed-plan query: three damped iterations over the
    * q130-config graph, reporting per iteration the max |Δscore|, the
    * count of vertices that moved at 6dp, and the total residual mass.
    * A deployment reads this table to pick its tolerance/iteration
    * budget (the residual should shrink geometrically ≈ the damping
    * factor; a flat residual means the walk is oscillating on structure,
    * not converging). Same numerics as q130 (6dp scores per iteration,
    * DECIMAL sums), so the deltas are exact multiples of 1e-6 and the
    * oracle replays all three iterations and the three delta rows.
    * Soaked 12.5k→50k vectors at 1.45×/1.58× per doubling (SOAK.md
    * round 15) — one build plus edge-mass-linear iteration legs. */
  def q150PagerankResidual(k: Int = 5, nList: Int = -1, nProbe: Int = 2,
                           iters: Int = 3, damping: Double = 0.85): Q = (s, d) => {
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    val emb = embeddings(s, d)
    val nl = if (nList > 0) nList else ProductQuantization.adaptiveNList(emb)
    val edges = knnEdgesWithCents(emb, SemanticDedup.refinedCentroids(emb, nl), k, nProbe)
    // materialization discipline (see [[pageRank]]): additionally, each
    // residual row reads BOTH this round's scores and last round's — two
    // references per iteration, so an unmaterialized loop grows the plan
    // exponentially in `iters` (measured at sf0.1: a 5300-line plan with
    // 93 exchanges and 174 scans of the same parquet). Per-round
    // checkpointed scores keep it flat; values unchanged (every term is
    // 6dp-rounded DECIMAL arithmetic).
    val fwd = StageMaterialize(
      edges.select(col("src_id"), col("nbr_id"), col("sim")))
    val und = StageMaterialize(fwd
      .union(fwd.select(col("nbr_id").as("src_id"),
        col("src_id").as("nbr_id"), col("sim")))
      .groupBy("src_id", "nbr_id").agg(max("sim").as("w")))
    val strength = und.groupBy("src_id")
      .agg(sum(col("w").cast(DecimalType(18, 6))).cast(DoubleType).as("s"))
    val share = StageMaterialize(und.join(strength, Seq("src_id"))
      .select(col("src_id"), col("nbr_id"),
        round(col("w") / col("s"), 6).as("share")))
    val n = emb.count()
    val teleport = (1.0 - damping) / n
    var scores = emb.select(col("vec_id"), round(lit(1.0) / n, 6).as("score"))
    var out: DataFrame = null
    for (i <- 1 to iters) {
      val contrib = share
        .join(scores.select(col("vec_id").as("src_id"), col("score")), Seq("src_id"))
        .groupBy(col("nbr_id").as("vec_id"))
        .agg(sum(col("share").cast(DecimalType(18, 6)) * col("score").cast(DecimalType(18, 6)))
          .cast(DoubleType).as("inflow"))
      val next = StageMaterialize(emb.select(col("vec_id"))
        .join(contrib, Seq("vec_id"), "left_outer")
        .select(col("vec_id"),
          round(lit(teleport) + lit(damping) * coalesce(col("inflow"), lit(0.0)), 6)
            .as("score")))
      val row = next.withColumnRenamed("score", "new")
        .join(scores.withColumnRenamed("score", "old"), Seq("vec_id"))
        .select(round(abs(col("new") - col("old")), 6).as("delta"))
        .agg(max(col("delta")).as("max_abs_delta"),
          sum(when(col("delta") > 0, 1L).otherwise(0L)).as("n_changed"),
          round(sum(col("delta").cast(DecimalType(38, 6))).cast(DoubleType), 6)
            .as("residual_mass"))
        .select(lit(i).as("iter"), col("max_abs_delta"), col("n_changed"),
          col("residual_mass"))
      out = if (out == null) row else out.unionAll(row)
      scores = next
    }
    out.orderBy("iter")
  }

  private val q150Sql: String = {
    def iterCte(prev: String, out: String) =
      s"""$out AS (
         |  SELECT v.vec_id,
         |    ROUND((CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE))
         |        / (SELECT COUNT(*) FROM embeddings)
         |      + CAST(0.85 AS DOUBLE) * CAST(COALESCE(SUM(
         |          CAST(sh.share AS DECIMAL(18,6)) * CAST(p.score AS DECIMAL(18,6))), 0)
         |        AS DOUBLE), 6) AS score
         |  FROM embeddings v
         |  LEFT JOIN share sh ON sh.nbr_id = v.vec_id
         |  LEFT JOIN $prev p ON p.vec_id = sh.src_id
         |  GROUP BY v.vec_id)"""
    def deltaRow(i: Int, prev: String, cur: String) =
      s"""SELECT $i AS iter, MAX(d) AS max_abs_delta,
         |  CAST(SUM(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
         |  ROUND(CAST(SUM(CAST(d AS DECIMAL(38,6))) AS DOUBLE), 6) AS residual_mass
         |FROM (SELECT ROUND(ABS(b.score - a.score), 6) AS d
         |      FROM $prev a JOIN $cur b USING (vec_id))""".stripMargin
    s"""WITH ${knnCtes(nList = -1, nProbe = 2, k = 5)},
       |und AS (
       |  SELECT src_id, nbr_id, MAX(sim) AS w FROM (
       |    SELECT src_id, nbr_id, sim FROM edges_k
       |    UNION ALL SELECT nbr_id AS src_id, src_id AS nbr_id, sim FROM edges_k) u
       |  GROUP BY src_id, nbr_id),
       |strength AS (
       |  SELECT src_id, CAST(SUM(CAST(w AS DECIMAL(18,6))) AS DOUBLE) AS s
       |  FROM und GROUP BY src_id),
       |share AS (
       |  SELECT u.src_id, u.nbr_id, ROUND(u.w / st.s, 6) AS share
       |  FROM und u JOIN strength st ON st.src_id = u.src_id),
       |p0 AS (
       |  SELECT vec_id,
       |    ROUND(CAST(1.0 AS DOUBLE) / (SELECT COUNT(*) FROM embeddings), 6) AS score
       |  FROM embeddings),
       |${iterCte("p0", "p1")},
       |${iterCte("p1", "p2")},
       |${iterCte("p2", "p3")}
       |${deltaRow(1, "p0", "p1")}
       |UNION ALL ${deltaRow(2, "p1", "p2")}
       |UNION ALL ${deltaRow(3, "p2", "p3")}
       |ORDER BY iter""".stripMargin
  }

  /** q140: centroid-silhouette audit of the coarse clustering every ANN /
    * semantic-dedup operator here stands on (q30/q102/q103/q105/q114…):
    * per vector, a = distance to its own (nearest) refined centroid and
    * b = distance to the runner-up; sil = (b − a)/b ∈ [0, 1] (the
    * simplified/centroid silhouette — max(a,b) = b by construction since
    * a is the minimum). Per-cell mean/min silhouette is the metric that
    * tells a deployment WHICH cells have collapsed (mean_sil → 0: the
    * cell boundary cuts a natural cluster, so same-cluster neighbors
    * leak into the runner-up cell and single-probe recall dies there) —
    * the diagnostic behind q126's recall audit.
    *
    * Shape: one broadcast-centroid UDF pass (struct of nearest-2 in a
    * single scan, [[ProductQuantization.nearest2Expr]]) + a cell-keyed
    * aggregate — no joins, no pair mass. Determinism: the q62/q63
    * policy (6dp per-vector sil, order-free DECIMAL mean; distance
    * arithmetic is the q102/q105 oracle chain's, tie-broken to the
    * lower cell id). */
  def silhouetteWithCents(emb: DataFrame,
                          cents: Array[Array[Float]]): DataFrame = {
    val nn2 = ProductQuantization.nearest2Expr(emb.sparkSession, cents)
    val sil = when(col("b") === 0.0, lit(0.0))
      .otherwise(round((col("b") - col("a")) / col("b"), 6))
    emb.select(col("vec_id"), nn2(col("embedding")).as("nn"))
      .select(col("nn._1").as("cell"),
        sqrt(col("nn._2")).as("a"), sqrt(col("nn._3")).as("b"))
      .select(col("cell"), sil.as("sil"))
      .groupBy("cell")
      .agg(count(lit(1)).as("n_vecs"),
        round(sum(col("sil").cast(org.apache.spark.sql.types.DecimalType(38, 6)))
          .cast("double") / count(lit(1)), 6).as("mean_sil"),
        min(col("sil")).as("min_sil"))
      .orderBy("cell")
  }

  def q140Silhouette(nList: Int = -1): Q = (s, d) => {
    val emb = embeddings(s, d)
    val nl = if (nList > 0) nList else ProductQuantization.adaptiveNList(emb)
    silhouetteWithCents(emb, SemanticDedup.refinedCentroids(emb, nl))
  }
  val q140Sql: String =
    s"""WITH ${SemanticDedup.refinedCentsSql(-1)},
       |dd AS (
       |  SELECT e.vec_id, c.c,
       |    list_sum(list_transform(range(1, len(e.embedding) + 1),
       |      i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(c.cent[i] AS DOUBLE))
       |         * (CAST(e.embedding[i] AS DOUBLE) - CAST(c.cent[i] AS DOUBLE)))) AS d2
       |  FROM embeddings e CROSS JOIN cents c),
       |rk AS (
       |  SELECT vec_id, c, d2,
       |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, c) AS rn
       |  FROM dd),
       |ab AS (
       |  SELECT x.vec_id, CAST(x.c AS INT) AS cell,
       |         SQRT(x.d2) AS a, SQRT(y.d2) AS b
       |  FROM rk x JOIN rk y ON x.vec_id = y.vec_id AND x.rn = 1 AND y.rn = 2),
       |sil AS (
       |  SELECT cell,
       |    CASE WHEN b = 0 THEN CAST(0 AS DOUBLE)
       |         ELSE ROUND((b - a) / b, 6) END AS sil
       |  FROM ab)
       |SELECT cell, COUNT(*) AS n_vecs,
       |  ROUND(CAST(SUM(CAST(sil AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*), 6)
       |    AS mean_sil,
       |  MIN(sil) AS min_sil
       |FROM sil GROUP BY cell ORDER BY cell""".stripMargin

  /** Mutual-kNN (reciprocal-neighbor) filter: keep a directed edge only
    * when its reverse edge is also in the graph. The standard kNN-graph
    * denoiser (the `mutual_nn` step in dedup/cluster pipelines, the MNN
    * rule in batch-effect correction): hub vectors attract many one-way
    * edges from unrelated neighborhoods, and requiring reciprocity drops
    * exactly those — raising same-label purity at the cost of degree.
    * One self-join of the edge list on the swapped key pair; edge set is
    * ≤ k·N rows, so the join is edge-mass-bounded, never pair-mass. */
  def mutualEdges(edges: DataFrame): DataFrame = {
    val rev = edges.select(col("nbr_id").as("src_id"), col("src_id").as("nbr_id"))
    edges.join(rev, Seq("src_id", "nbr_id"), "left_semi")
  }

  /** q144: mutual-kNN purity audit — per source label, the directed kNN
    * edge count, same-label edge count, and purity, against the same
    * three numbers after the reciprocity filter. The audit a curation
    * deployment runs to decide whether its cluster/label-propagation
    * graph (q105/q129) should pay the mutual filter's recall cost: if
    * purity_mutual ≈ purity_knn the hubs are benign; a large gap means
    * one-way hub edges are polluting downstream components. Label joins
    * shuffle on vec_id (edge-mass-bounded); the final aggregate is
    * |labels|×2 rows. Hash-exact: counts are BIGINT, purity is one
    * rounded division. */
  def q144MutualKnn(k: Int = 5, nList: Int = -1, nProbe: Int = 4): Q = (s, d) => {
    val emb = embeddings(s, d)
    val nl = if (nList > 0) nList else ProductQuantization.adaptiveNList(emb)
    mutualPurityAudit(emb,
      knnEdgesWithCents(emb, SemanticDedup.refinedCentroids(emb, nl), k, nProbe))
  }

  /** The raw-vs-reciprocal per-label purity summary over any edge list —
    * split out of [[q144MutualKnn]] so the soak's trained/hierarchical
    * twins run the identical audit over their own graphs. */
  def mutualPurityAudit(emb: DataFrame, edgesIn: DataFrame): DataFrame = {
    // three references below (the knn arm of the union, and both sides of
    // the mutual self-join) — materialize so a full kNN build passed in
    // by the gate runs once, not three times (Spark shares no subtrees)
    val edges = StageMaterialize(edgesIn.select("src_id", "nbr_id"))
    val tagged = edges.withColumn("edge_set", lit("knn"))
      .unionAll(mutualEdges(edges).withColumn("edge_set", lit("mutual")))
    val lab = emb.select(col("vec_id"), col("label"))
    tagged
      .join(lab.select(col("vec_id").as("src_id"), col("label").as("src_label")),
        Seq("src_id"))
      .join(lab.select(col("vec_id").as("nbr_id"), col("label").as("nbr_label")),
        Seq("nbr_id"))
      .groupBy("edge_set", "src_label")
      .agg(count(lit(1)).as("n_edges"),
        sum(when(col("src_label") === col("nbr_label"), 1L).otherwise(0L))
          .as("n_same"))
      .select(col("edge_set"), col("src_label").as("label"), col("n_edges"),
        col("n_same"),
        round(col("n_same").cast("double") / col("n_edges"), 6).as("purity"))
      .orderBy("edge_set", "label")
  }
  private val q144Sql: String =
    s"""WITH ${knnCtes(nList = -1, nProbe = 4, k = 5)},
       |e AS (SELECT src_id, nbr_id FROM edges_k),
       |m AS (SELECT e.src_id, e.nbr_id FROM e
       |      JOIN e r ON r.src_id = e.nbr_id AND r.nbr_id = e.src_id),
       |tagged AS (
       |  SELECT 'knn' AS edge_set, src_id, nbr_id FROM e
       |  UNION ALL SELECT 'mutual', src_id, nbr_id FROM m),
       |lab AS (SELECT vec_id, label FROM embeddings)
       |SELECT t.edge_set, sl.label AS label, COUNT(*) AS n_edges,
       |  CAST(SUM(CASE WHEN sl.label = nl.label THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_same,
       |  ROUND(CAST(SUM(CASE WHEN sl.label = nl.label THEN 1 ELSE 0 END)
       |      AS DOUBLE) / COUNT(*), 6) AS purity
       |FROM tagged t
       |JOIN lab sl ON sl.vec_id = t.src_id
       |JOIN lab nl ON nl.vec_id = t.nbr_id
       |GROUP BY t.edge_set, sl.label
       |ORDER BY edge_set, label""".stripMargin

  val queries: Map[String, Q] = Map(
    "q140_silhouette" -> q140Silhouette(),
    "q103_knn_graph" -> q103KnnGraph(),
    "q105_semantic_clusters" -> q105SemanticClusters(),
    "q107_diversity_sample" -> q107DiversitySample(),
    "q125_nn_descent" -> q125NnDescent(),
    "q129_label_prop" -> q129LabelProp(),
    "q130_pagerank" -> q130PageRank(),
    "q144_mutual_knn" -> q144MutualKnn(),
    "q149_graph_arrival_diff" -> q149GraphArrivalDiff(),
    "q150_pagerank_residual" -> q150PagerankResidual(),
    "q155_atrest_resolve" -> q155AtRestResolve(),
  )
  val oracle: Map[String, String] = Map(
    "q140_silhouette" -> q140Sql,
    "q149_graph_arrival_diff" -> q149Sql,
    "q150_pagerank_residual" -> q150Sql,
    "q103_knn_graph" -> q103Sql,
    "q105_semantic_clusters" -> q105Sql,
    "q107_diversity_sample" -> q107Sql,
    "q125_nn_descent" -> q125Sql,
    "q129_label_prop" -> q129Sql,
    "q130_pagerank" -> q130Sql,
    "q144_mutual_knn" -> q144Sql,
    "q155_atrest_resolve" -> q155Sql,
  )
}
