package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.functions.HashKernels

/** Deduplication operators for training-data pipelines: exact, word-shingle
  * Jaccard, MinHash signatures + LSH banding, and SimHash.
  *
  * Scale design (the point of each op):
  *  - exact dedup: one shuffle on the 128-bit content hash; at 100 TB the
  *    hash (not the text) is the shuffle key, so shuffle volume ∝ doc count.
  *  - MinHash/LSH: candidate generation never compares all pairs — docs
  *    shuffle once per band on the band-signature key, and only
  *    bucket-colliding pairs are emitted. Band-bucket skew (huge clusters of
  *    near-identical docs) is bounded by the per-bucket candidate window
  *    ([[DedupOps.DefaultCandidateCap]]): O(N·cap) candidates, component
  *    connectivity preserved via the in-bucket chain.
  *  - SimHash: per-doc 32-bit signature, one narrow pass; near-dup = small
  *    Hamming distance, joinable on rotated prefixes at scale.
  *
  * All hash primitives are md5 (identical hex output in Spark and DuckDB),
  * so every query here is oracle-checkable cross-engine.
  */
object DedupOps {

  type Q = (SparkSession, String) => DataFrame

  /** Per-document distinct word-3-gram shingle ARRAY: (doc_id[, source],
    * shs). Array-valued (no explode): MinHash/SimHash/LSH signatures are
    * per-document functions of this array, so they stay narrow — one
    * codegen'd pass over the scan, zero shuffle — instead of exploding to
    * |shingles|×|seeds| rows and shuffling them back together (the round-1
    * shape; rewriting it this way took the LSH query from 616 s to seconds
    * at sf0.1). The token array is materialized as a column BEFORE the
    * shingle transform: inlining `split(trim(text))` into the lambda
    * defeats common-subexpression elimination (measured 164 s → 4.6 s).
    */
  private def docShinglesOf(docs: DataFrame, withSource: Boolean): DataFrame = {
    val keep = if (withSource) Seq(col("doc_id"), col("source")) else Seq(col("doc_id"))
    val nPar = docs.sparkSession.sparkContext.defaultParallelism
    docs
      // a small corpus arrives as ONE parquet split; without this the whole
      // hashing pipeline runs on a single core. At 100 TB the scan has
      // thousands of splits and this is a cheap doc_id-hash shuffle of
      // (id, text) pairs. The EXPLICIT partition count matters twice over:
      // AQE coalesces a bare repartition(col) of a few-MB corpus back to one
      // partition (measured: the entire signature pipeline on 1 core), but
      // preserves a user-specified count.
      .repartition(nPar, col("doc_id"))
      .select(keep :+ split(trim(col("text")), "\\s+").as("l"): _*)
      .filter(size(col("l")) >= 3)
      .select(keep :+ HashKernels.shingles3(col("l")).as("shs"): _*)
  }

  /** Token-array view (doc_id, l) with the same repartition + ≥3-token
    * contract as [[docShinglesOf]] — the input of the FUSED production
    * MinHash ([[graft.functions.MinHashTokensExpr]]), which hashes the
    * 3-grams straight off the token array: the shingle strings and their
    * per-doc dedup set exist only on the oracle (md5) path. */
  private def docTokensOf(docs: DataFrame): DataFrame = {
    val nPar = docs.sparkSession.sparkContext.defaultParallelism
    docs
      .repartition(nPar, col("doc_id"))
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("l"))
      .filter(size(col("l")) >= 3)
  }

  private def docShingles(s: SparkSession, d: String, withSource: Boolean): DataFrame =
    docShinglesOf(documents(s, d), withSource)

  /** Exploded view (doc_id[, source], sh) for the shingle self-join (q25). */
  private def shinglesOf(docs: DataFrame, withSource: Boolean): DataFrame = {
    val keep = if (withSource) Seq(col("doc_id"), col("source")) else Seq(col("doc_id"))
    docShinglesOf(docs, withSource).select(keep :+ explode(col("shs")).as("sh"): _*)
  }

  /** Per-block / per-bucket candidate cap (q25/q27/q32): within a block,
    * each doc pairs only with the next `DefaultCandidateCap` docs in doc_id
    * order ([[windowCandidates]]). Far above the largest block the gate
    * corpora produce (max 6 at sf0.1, measured) so capped output equals
    * uncapped there, and the DuckDB oracles express the SAME ROW_NUMBER
    * window — parity holds at any scale, including corpora with over-full
    * blocks. */
  val DefaultCandidateCap = 32

  /** Upper bound on any candidate cap. The cap bounds the candidates per
    * row and the window frame every row buffers, so it stays a small
    * blocking constant, not a data-sized tunable. 1024 is far above any
    * real blocking config (and above every block the gate corpora
    * produce, so specs can use it as the "effectively uncapped"
    * comparator). */
  val MaxCandidateCap = 1024

  private[operators] def requireCap(cap: Int): Unit =
    require(cap >= 1 && cap <= MaxCandidateCap,
      s"candidate cap $cap out of range [1, $MaxCandidateCap]: the cap bounds " +
        "each row's candidate frame and must stay a small blocking constant")

  /** The capped candidate window, the one pair generator of the blocked
    * dedup kernels ([[windowPairCounts]]: q25, q133, q134, q135;
    * [[bandedPairs]]: q27, q84, q42, q92, q138; and
    * [[SimilarityOps.embeddingNearDupPairs]]: q32). Within each `keys`
    * block, ordered by `id`, each row yields (`a`, `b`) = (its id, id of
    * one of the next ≤ `cap` rows).
    *
    * Blocks at or under the cap are EXACT: every in-block pair appears
    * once. An over-full block of N rows (stopword-like shingles, N
    * near-identical docs) degrades to a bounded chain of O(N·cap) pairs
    * instead of O(N²). The chain keeps the block one connected component
    * for clustering (q42), but its DIAMETER grows to ~N/cap, so size
    * [[connectedComponents]]'s maxIter accordingly (DedupCapSpec). The
    * DuckDB oracles express the same window as a ROW_NUMBER rank join,
    * so parity is scale-independent.
    *
    * Candidates come FROM THE WINDOW ITSELF, not from a capped self-join.
    * The r7 soak showed why: a rank-filtered self-join still materializes
    * every same-key row pair before the rank predicate prunes it, and that
    * join output dominated the query (29 s → 84 s for 100k → 200k docs on
    * the spam shard, against 10 s → 7 s for this shape; identical output,
    * measured row for row). Here it is one exchange + sort on `keys` and a
    * `rowsBetween(1, cap)` `collect_list`: O(rows·cap) work and output. */
  private[operators] def windowCandidates(rows: DataFrame, keys: Seq[String], id: String,
                                          cap: Int, a: String, b: String): DataFrame = {
    requireCap(cap)
    val w = Window.partitionBy(keys.map(col): _*).orderBy(id).rowsBetween(1, cap)
    rows.select(col(id).as(a), collect_list(col(id)).over(w).as(b))
      .withColumn(b, explode(col(b)))
  }

  /** DuckDB equivalent of shingleExpr as a CTE over `documents`:
    * (doc_id, sh) — one row per shingle. DuckDB lists are 1-based. */
  private val duckShingles: String =
    """shing AS (
      |  SELECT doc_id, unnest(list_transform(range(1, len(l) - 1),
      |         i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2])) AS sh
      |  FROM (SELECT doc_id, string_split_regex(TRIM(text), '\s+') AS l FROM documents)
      |  WHERE len(l) >= 3)""".stripMargin

  private val duckShinglesWithSource: String =
    """shing AS (
      |  SELECT doc_id, source, unnest(list_transform(range(1, len(l) - 1),
      |         i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2])) AS sh
      |  FROM (SELECT doc_id, source, string_split_regex(TRIM(text), '\s+') AS l FROM documents)
      |  WHERE len(l) >= 3)""".stripMargin

  /** q24: exact dedup by normalized-content hash: representative (min
    * doc_id) + duplicate count per distinct content. */
  val q24DedupExact: Q = (s, d) => {
    val norm = concat_ws(" ", split(trim(col("text")), "\\s+"))
    documents(s, d)
      .select(col("doc_id"), md5(norm).as("content_hash"))
      .groupBy("content_hash")
      .agg(min("doc_id").as("rep_doc_id"), count(lit(1)).as("n_copies"))
      .orderBy("content_hash")
  }
  val q24Sql: String =
    """SELECT md5(array_to_string(string_split_regex(TRIM(text), '\s+'), ' ')) AS content_hash,
      |  MIN(doc_id) AS rep_doc_id, COUNT(*) AS n_copies
      |FROM documents
      |GROUP BY 1 ORDER BY content_hash""".stripMargin

  /** q25: n-gram Jaccard near-dup pairs: distinct-shingle self-join →
    * |A∩B|, then J = |A∩B| / (|A|+|B|−|A∩B|); pairs with J ≥ 0.2.
    * Candidates are blocked on (source, shingle) — the standard dedup
    * blocking move: only same-source docs sharing ≥1 shingle are paired,
    * which bounds the quadratic blow-up on low-entropy corpora (measured
    * 20× candidate reduction here; at 100 TB the block key becomes the
    * shuffle partition key, and blocks are independently parallel).
    */
  /** The shared window-pair kernel over ANY (doc_id, source, sh) key
    * frame: per-(source, sh) candidate window ([[windowCandidates]], with
    * `blockCap` as its cap) → (doc_a, doc_b, n_common) intersection
    * counts, plus the per-doc key-set sizes — the inputs every
    * set-overlap measure (Jaccard, containment, winnowed match)
    * normalizes from. */
  private def windowPairCounts(sh: DataFrame,
                               blockCap: Int): (DataFrame, DataFrame) = {
    // the key frame feeds both the size aggregate and the pair window and
    // stays lazy, so the shingle/tokenize explode upstream runs twice
    // (Spark shares no subtrees): at sf0.1 a barrier measured slower than
    // the second pass (round-16 driver: q133 0.87, q25/q135
    // flat-negative)
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val pairs = windowCandidates(sh, Seq("source", "sh"), "doc_id", blockCap, "doc_a", "doc_b")
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_common"))
    (pairs, sizes)
  }

  private def blockedPairCounts(docs: DataFrame,
                                blockCap: Int): (DataFrame, DataFrame) =
    windowPairCounts(shinglesOf(docs, withSource = true), blockCap)

  private def withSizes(pairs: DataFrame, sizes: DataFrame): DataFrame =
    pairs
      .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_sh", "n_a"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_sh", "n_b"), "doc_b")

  /** Reusable Jaccard-pair kernel over any (doc_id, source, text) frame;
    * `blockCap` is the per-(source, shingle) [[windowCandidates]] cap. */
  def jaccardPairs(docs: DataFrame, minJaccard: Double,
                   blockCap: Int = DefaultCandidateCap): DataFrame = {
    val (pairs, sizes) = blockedPairCounts(docs, blockCap)
    withSizes(pairs, sizes)
      .select(col("doc_a"), col("doc_b"), col("n_common"),
        round(col("n_common").cast("double")
          / (col("n_a") + col("n_b") - col("n_common")), 6).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  val q25NgramJaccard: Q = (s, d) =>
    jaccardPairs(documents(s, d), minJaccard = 0.2).orderBy("doc_a", "doc_b")
  val q25Sql: String =
    s"""WITH $duckShinglesWithSource,
       |dsh AS (SELECT DISTINCT doc_id, source, sh FROM shing),
       |rsh AS (SELECT doc_id, source, sh,
       |        ROW_NUMBER() OVER (PARTITION BY source, sh ORDER BY doc_id) AS rn FROM dsh),
       |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM dsh GROUP BY doc_id),
       |pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
       |  FROM rsh a JOIN rsh b
       |    ON a.source = b.source AND a.sh = b.sh AND a.doc_id < b.doc_id
       |       AND b.rn <= a.rn + $DefaultCandidateCap
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b, n_common,
       |  ROUND(CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common), 6) AS jaccard
       |FROM pairs
       |JOIN sizes sa ON sa.doc_id = doc_a
       |JOIN sizes sb ON sb.doc_id = doc_b
       |WHERE ROUND(CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common), 6) >= 0.2
       |ORDER BY doc_a, doc_b""".stripMargin

  /** ASYMMETRIC set overlap: containment |A∩B|/|A| per direction — the
    * quote/subset detector symmetric Jaccard is structurally blind to.
    * A 50-shingle quote inside a 5000-shingle page has J ≈ 0.01 (q25
    * never fires) but containment(quote→page) = 1.0; deduplication
    * literature treats the two as separate signals for exactly this
    * reason (Broder's resemblance vs containment), and a curation
    * pipeline uses the DIRECTION: drop or down-weight the contained
    * side, keep the container. Same blocked window kernel as q25
    * (O(blocks·cap) candidates, never a quadratic self-join); a pair
    * survives when EITHER direction clears `minContainment`. */
  def containmentPairs(docs: DataFrame, minContainment: Double,
                       blockCap: Int = DefaultCandidateCap): DataFrame = {
    val (pairs, sizes) = blockedPairCounts(docs, blockCap)
    withSizes(pairs, sizes)
      .select(col("doc_a"), col("doc_b"), col("n_common"),
        round(col("n_common").cast("double") / col("n_a"), 6).as("cont_a"),
        round(col("n_common").cast("double") / col("n_b"), 6).as("cont_b"))
      .filter(greatest(col("cont_a"), col("cont_b")) >= minContainment)
  }

  val q133Containment: Q = (s, d) =>
    containmentPairs(documents(s, d), minContainment = 0.8)
      .orderBy("doc_a", "doc_b")
  val q133Sql: String =
    s"""WITH $duckShinglesWithSource,
       |dsh AS (SELECT DISTINCT doc_id, source, sh FROM shing),
       |rsh AS (SELECT doc_id, source, sh,
       |        ROW_NUMBER() OVER (PARTITION BY source, sh ORDER BY doc_id) AS rn FROM dsh),
       |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM dsh GROUP BY doc_id),
       |pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
       |  FROM rsh a JOIN rsh b
       |    ON a.source = b.source AND a.sh = b.sh AND a.doc_id < b.doc_id
       |       AND b.rn <= a.rn + $DefaultCandidateCap
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b, n_common,
       |  ROUND(CAST(n_common AS DOUBLE) / sa.n_sh, 6) AS cont_a,
       |  ROUND(CAST(n_common AS DOUBLE) / sb.n_sh, 6) AS cont_b
       |FROM pairs
       |JOIN sizes sa ON sa.doc_id = doc_a
       |JOIN sizes sb ON sb.doc_id = doc_b
       |WHERE GREATEST(ROUND(CAST(n_common AS DOUBLE) / sa.n_sh, 6),
       |               ROUND(CAST(n_common AS DOUBLE) / sb.n_sh, 6)) >= 0.8
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Winnowing fingerprints (Schleimer–Wilkerson–Aiken 2003, the MOSS
    * kernel): hash every k-token gram, slide a w-window over the gram
    * hashes, keep each window's MINIMUM — the canonical sparse
    * fingerprint set with the guarantee the full gram set pays 1/density
    * more to get: any shared token run of length ≥ w + k − 1 produces at
    * least one shared fingerprint, at an expected 2/(w+1) of the gram
    * mass. This is the third point on the dedup sparsity spectrum the
    * engine now covers — all grams (q25/q98, exhaustive), winnowed
    * (guaranteed-recall sparse), MinHash (statistical sparse, q26/q27).
    *
    * Shape: ENTIRELY array-local per document (two nested transform()s
    * over the token array — no explode, no shuffle; the q100 fold
    * lesson), so fingerprinting 100 TB is one narrow codegen'd pass.
    * md5₃₂ gram hashes keep it engine-portable (DuckDB replays both
    * transforms); a production variant would swap xxhash64 exactly like
    * q84/q92. Docs shorter than w + k − 1 tokens have no window and drop.
    *
    * This HOF form is kept as the PARITY REFERENCE for the fused native
    * kernel ([[winnowFingerprints]] / [[graft.functions.WinnowMd5Expr]]),
    * which WinnowExprSpec pins array-for-array against it; the gate path
    * runs the fused form (the HOF lambdas evaluate interpreted and build
    * a shingle string + 32-char hex string per gram — 7.6 s of the sf0.1
    * gate before the fusion). */
  def winnowFingerprintsHof(docs: DataFrame, k: Int = 3, w: Int = 4): DataFrame = {
    val l = split(trim(col("text")), "\\s+")
    val grams = transform(sequence(lit(1), size(l) - (k - 1)),
      i => conv(substring(md5(concat_ws(" ", slice(l, i, lit(k)))), 1, 8), 16, 10)
        .cast("long"))
    // LET-BIND the gram array as a lambda variable (transform over a
    // 1-element array) instead of referencing a projected column: a
    // column reference inside the window lambda gets INLINED by
    // CollapseProject, and a lambda body is re-evaluated per element —
    // so every window would recompute the whole md5 gram array,
    // O(n_windows · n_grams) hashes per document instead of O(n_grams).
    // Measured: the inlined form ran >400 s on the 100k soak corpus;
    // this form ~1 s of hash work. The lambda variable is evaluated once
    // per row, and inner references are per-element variable lookups.
    val fps = array_distinct(flatten(transform(array(grams), gv =>
      transform(sequence(lit(1), size(gv) - (w - 1)),
        j => array_min(slice(gv, j, lit(w)))))))
    docs.filter(size(l) >= k + w - 1)
      .select(col("doc_id"), col("source"), fps.as("fps"))
  }

  /** Winnowing fingerprints, fused-kernel form: one native codegen'd
    * expression ([[graft.functions.WinnowMd5Expr]]) computes the whole
    * gram-md5 → window-min → distinct chain from the token array —
    * bit-identical to [[winnowFingerprintsHof]] (same md5₃₂ gram hashes,
    * same first-occurrence distinct order), so q134's DuckDB oracle is
    * unchanged and still replays it exactly. */
  def winnowFingerprints(docs: DataFrame, k: Int = 3, w: Int = 4): DataFrame = {
    val l = split(trim(col("text")), "\\s+")
    docs.filter(size(l) >= k + w - 1)
      .select(col("doc_id"), col("source"),
        graft.functions.WinnowMd5Expr(l, k, w).as("fps"))
  }

  /** q134: winnowed fingerprint match pairs — near-dup candidates from
    * the SPARSE fingerprint sets ([[winnowFingerprints]]), scored by the
    * winnowed-set Jaccard. Same blocked window kernel as q25/q133 but
    * over ~2/(w+1) of the key mass, which is the operational point of
    * winnowing: the pair stage's shuffle and block sizes shrink ~2.5×
    * while the ≥(w+k−1)-token-overlap guarantee keeps recall exact for
    * long shared runs. `minCommon = 2` suppresses single-collision
    * noise pairs (an integer cut — no float threshold in the filter). */
  def winnowPairs(docs: DataFrame, minCommon: Int = 2,
                  blockCap: Int = DefaultCandidateCap): DataFrame = {
    val sh = winnowFingerprints(docs)
      .select(col("doc_id"), col("source"), explode(col("fps")).as("sh"))
    val (pairs, sizes) = windowPairCounts(sh, blockCap)
    withSizes(pairs, sizes)
      .filter(col("n_common") >= minCommon)
      .select(col("doc_a"), col("doc_b"), col("n_common"),
        round(col("n_common").cast("double")
          / (col("n_a") + col("n_b") - col("n_common")), 6).as("wjaccard"))
  }

  val q134Winnowing: Q = (s, d) =>
    winnowPairs(documents(s, d)).orderBy("doc_a", "doc_b")
  val q134Sql: String =
    s"""WITH t AS (
       |  SELECT doc_id, source, string_split_regex(TRIM(text), '\\s+') AS l
       |  FROM documents),
       |gr AS (
       |  SELECT doc_id, source,
       |    list_transform(range(1, len(l) - 1),
       |      i -> CAST(concat('0x', substr(md5(array_to_string(l[i:i+2], ' ')), 1, 8)) AS BIGINT)) AS g
       |  FROM t WHERE len(l) >= 6),
       |f AS (
       |  SELECT doc_id, source,
       |    list_distinct(list_transform(range(1, len(g) - 2),
       |      j -> list_min(g[j:j+3]))) AS fps
       |  FROM gr),
       |sh AS (SELECT doc_id, source, unnest(fps) AS sh FROM f),
       |rsh AS (SELECT doc_id, source, sh,
       |        ROW_NUMBER() OVER (PARTITION BY source, sh ORDER BY doc_id) AS rn FROM sh),
       |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
       |pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
       |  FROM rsh a JOIN rsh b
       |    ON a.source = b.source AND a.sh = b.sh AND a.doc_id < b.doc_id
       |       AND b.rn <= a.rn + $DefaultCandidateCap
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b, n_common,
       |  ROUND(CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common), 6) AS wjaccard
       |FROM pairs
       |JOIN sizes sa ON sa.doc_id = doc_a
       |JOIN sizes sb ON sb.doc_id = doc_b
       |WHERE n_common >= 2
       |ORDER BY doc_a, doc_b""".stripMargin

  /** MinHash signatures over any (doc_id, text) frame, long format
    * (doc_id, seed, minhash): `nSeeds` hash functions
    * h_s(x) = md5(s || ':' || x), the family the DuckDB oracle replays,
    * and signature = min over the doc's distinct shingles. One narrow
    * plan: the signature is an array function of the per-doc shingle
    * array — no seed crossJoin, no shuffle. */
  def minhashSignatures(docs: DataFrame, nSeeds: Int = 16): DataFrame =
    docShinglesOf(docs, withSource = false)
      .select(col("doc_id"),
        posexplode(HashKernels.minhash(nSeeds)(col("shs"))).as(Seq("seed", "minhash")))

  /** q26: 16-seed signatures of the documents table; the output sort is
    * the only exchange. */
  val q26MinhashSignatures: Q = (s, d) =>
    minhashSignatures(documents(s, d))
      .orderBy("doc_id", "seed")
  val q26Sql: String =
    s"""WITH $duckShingles,
       |dsh AS (SELECT DISTINCT doc_id, sh FROM shing)
       |SELECT doc_id, CAST(seed AS INT) AS seed,
       |  MIN(md5(CAST(seed AS VARCHAR) || ':' || sh)) AS minhash
       |FROM dsh, range(0, 16) r(seed)
       |GROUP BY doc_id, seed
       |ORDER BY doc_id, seed""".stripMargin

  /** q27: LSH banding over the MinHash signatures: 4 bands × 4 rows; band
    * key = md5 of the band's concatenated minhashes; candidate pairs =
    * docs sharing ≥1 band bucket, with the shared-band count.
    *
    * The band keys are computed per document from the signature array (one
    * narrow pass, 4 rows out per doc) — the ONLY shuffle is the equi-join
    * on (band, band_key), which is exactly the LSH contract: shuffle volume
    * ∝ docs×bands, never ∝ pairs. Band-bucket skew (a huge cluster of
    * near-identical docs) is the thing to watch at 100 TB — AQE skew-join
    * handles moderate cases; degenerate ones get a bucket-size cap upstream.
    */
  /** The capped band-bucket candidate pass shared by the md5 (oracle) and
    * fast (production) LSH variants: input is (doc_id, band, band_key)
    * rows, and `bucketCap` is the per-(band, band_key)
    * [[windowCandidates]] cap. The signature pipeline below the window
    * runs exactly once per band row. */
  private def bandedPairs(bands0: DataFrame, bucketCap: Int): DataFrame =
    windowCandidates(bands0, Seq("band", "band_key"), "doc_id", bucketCap, "doc_a", "doc_b")
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_shared_bands"))

  /** Reusable LSH candidate kernel over any (doc_id, text) frame;
    * `bucketCap` is the per-(band, band_key) [[windowCandidates]] cap. */
  def lshCandidatePairs(docs: DataFrame,
                        bucketCap: Int = DefaultCandidateCap): DataFrame =
    bandedPairs(
      docShinglesOf(docs, withSource = false)
        .select(col("doc_id"),
          posexplode(HashKernels.bandKeys(nBands = 4, rowsPerBand = 4)(
            HashKernels.minhash(16)(col("shs")))).as(Seq("band", "band_key"))),
      bucketCap)

  /** Production LSH candidates — [[HashKernels.minhashFast]] signatures
    * (one base hash per shingle + splitmix-derived seeds) through the same
    * banding, caps, and join shape as the oracle-gated [[lshCandidatePairs]].
    * ~10× less signature work; same collision statistics but a different
    * hash family, so candidates are equivalent-in-distribution rather than
    * bit-identical — which is why this variant is spec-gated
    * (FastMinHashSpec: exact-dup collisions are deterministic, near-dup
    * LSH recall matches the md5 family on the adversarial corpus) instead
    * of oracle-gated. This is the kernel the 100 TB corpus runs. */
  def lshCandidatePairsFast(docs: DataFrame,
                            bucketCap: Int = DefaultCandidateCap): DataFrame =
    bandedPairs(
      docTokensOf(docs)
        .select(col("doc_id"),
          posexplode(HashKernels.bandKeysFast(nBands = 4, rowsPerBand = 4)(
            graft.functions.MinHashTokensExpr(col("l"), 16))).as(Seq("band", "band_key"))),
      bucketCap)

  val q27LshPairs: Q = (s, d) =>
    lshCandidatePairs(documents(s, d)).orderBy("doc_a", "doc_b")

  /** q84: the production-kernel LSH candidate pass ([[lshCandidatePairsFast]])
    * as a gate query — rows-only by design: the fast hash family is
    * intentionally not replayable in SQL (that non-portability is what
    * buys the ~10× kernel), so the oracle-style contract lives in
    * FastMinHashSpec and the gate pins rows + schema + determinism while
    * the bench row makes the md5-vs-fast gap measurable next to q27. */
  val q84LshPairsFast: Q = (s, d) =>
    lshCandidatePairsFast(documents(s, d)).orderBy("doc_a", "doc_b")
  val q27Sql: String =
    s"""WITH $duckShingles,
       |dsh AS (SELECT DISTINCT doc_id, sh FROM shing),
       |sig AS (
       |  SELECT doc_id, CAST(seed AS INT) AS seed,
       |    MIN(md5(CAST(seed AS VARCHAR) || ':' || sh)) AS minhash
       |  FROM dsh, range(0, 16) r(seed) GROUP BY doc_id, seed),
       |bands AS (
       |  SELECT doc_id, CAST(seed // 4 AS INT) AS band,
       |    md5(string_agg(lpad(CAST(seed AS VARCHAR), 2, '0') || '=' || minhash, '|'
       |        ORDER BY lpad(CAST(seed AS VARCHAR), 2, '0') || '=' || minhash)) AS band_key
       |  FROM sig GROUP BY doc_id, CAST(seed // 4 AS INT)),
       |rbands AS (
       |  SELECT doc_id, band, band_key,
       |    ROW_NUMBER() OVER (PARTITION BY band, band_key ORDER BY doc_id) AS rn
       |  FROM bands)
       |SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, COUNT(*) AS n_shared_bands
       |FROM rbands x JOIN rbands y
       |  ON x.band = y.band AND x.band_key = y.band_key AND x.doc_id < y.doc_id
       |     AND y.rn <= x.rn + $DefaultCandidateCap
       |GROUP BY 1, 2 ORDER BY doc_a, doc_b""".stripMargin

  /** q135: MinHash calibration audit — per candidate pair, the
    * signature-ESTIMATED Jaccard (matching seeds / 16) against the EXACT
    * distinct-shingle Jaccard, with the absolute error. The sketch-side
    * member of the engine's audit family (q126 audits IVF recall, q132
    * its ranking, this audits the dedup sketch): MinHash's collision
    * probability equals J only in expectation, and a deployment sizing
    * nSeeds (or debugging a threshold) wants the realized error ON ITS
    * OWN CORPUS, not the textbook variance. Scale shape: the exact side
    * is the capped q25 kernel (never a pair explosion); the estimate
    * joins each capped pair against two 16-row signature slices keyed on
    * doc id — shuffle ∝ 16·pairs. */
  def sketchCalibration(docs: DataFrame, minJaccard: Double = 0.1,
                        nSeeds: Int = 16,
                        blockCap: Int = DefaultCandidateCap): DataFrame = {
    val exactPairs = jaccardPairs(docs, minJaccard, blockCap)
      .select(col("doc_a"), col("doc_b"), col("jaccard").as("exact_j"))
    // both sides of the pair join read the signature table — materialize
    // so the 16-seed MinHash pass over the shingles runs once, not twice
    val sig = StageMaterialize(minhashSignatures(docs, nSeeds))
    val a = sig.select(col("doc_id").as("doc_a"), col("seed"),
      col("minhash").as("mh_a"))
    val b = sig.select(col("doc_id").as("doc_b"), col("seed"),
      col("minhash").as("mh_b"))
    exactPairs.join(a, Seq("doc_a")).join(b, Seq("doc_b", "seed"))
      .groupBy("doc_a", "doc_b", "exact_j")
      .agg(sum(when(col("mh_a") === col("mh_b"), 1L).otherwise(0L)).as("n_match"))
      .select(col("doc_a"), col("doc_b"), col("exact_j"), col("n_match"),
        round(col("n_match") / lit(nSeeds.toDouble), 6).as("est_j"),
        round(abs(col("n_match") / lit(nSeeds.toDouble) - col("exact_j")), 6)
          .as("abs_err"))
  }

  val q135SketchCalibration: Q = (s, d) =>
    sketchCalibration(documents(s, d)).orderBy("doc_a", "doc_b")
  val q135Sql: String =
    s"""WITH $duckShinglesWithSource,
       |dsh AS (SELECT DISTINCT doc_id, source, sh FROM shing),
       |rsh AS (SELECT doc_id, source, sh,
       |        ROW_NUMBER() OVER (PARTITION BY source, sh ORDER BY doc_id) AS rn FROM dsh),
       |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM dsh GROUP BY doc_id),
       |pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
       |  FROM rsh a JOIN rsh b
       |    ON a.source = b.source AND a.sh = b.sh AND a.doc_id < b.doc_id
       |       AND b.rn <= a.rn + $DefaultCandidateCap
       |  GROUP BY 1, 2),
       |ep AS (
       |  SELECT doc_a, doc_b,
       |    ROUND(CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common), 6) AS exact_j
       |  FROM pairs
       |  JOIN sizes sa ON sa.doc_id = doc_a
       |  JOIN sizes sb ON sb.doc_id = doc_b
       |  WHERE ROUND(CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common), 6) >= 0.1),
       |sig AS (
       |  SELECT doc_id, CAST(seed AS INT) AS seed,
       |    MIN(md5(CAST(seed AS VARCHAR) || ':' || sh)) AS minhash
       |  FROM (SELECT DISTINCT doc_id, sh FROM shing) d2, range(0, 16) r(seed)
       |  GROUP BY doc_id, seed),
       |m AS (
       |  SELECT e.doc_a, e.doc_b, e.exact_j,
       |    CAST(SUM(CASE WHEN a.minhash = b.minhash THEN 1 ELSE 0 END) AS BIGINT) AS n_match
       |  FROM ep e
       |  JOIN sig a ON a.doc_id = e.doc_a
       |  JOIN sig b ON b.doc_id = e.doc_b AND b.seed = a.seed
       |  GROUP BY 1, 2, 3)
       |SELECT doc_a, doc_b, exact_j, n_match,
       |  ROUND(n_match / CAST(16.0 AS DOUBLE), 6) AS est_j,
       |  ROUND(ABS(n_match / CAST(16.0 AS DOUBLE) - exact_j), 6) AS abs_err
       |FROM m ORDER BY doc_a, doc_b""".stripMargin

  /** q28: SimHash — full 64-bit signature from the doc's distinct tokens:
    * bit b (0..63) reads hex digit (b mod 32) of md5(token) and votes
    * +1/−1 by bit (b div 32) of that digit's VALUE; bit set iff the vote
    * sum is positive (see [[HashKernels.simhash64]] for why 64 bits is the
    * 100 TB-regime width). Emitted as the signature value plus population
    * count (for Hamming-distance pruning downstream). */
  val q28Simhash: Q = (s, d) => {
    // One narrow pass: md5 once per distinct token, 64 vote counters, all
    // in the compiled kernel. Zero shuffle (vs round-1's 32-way row
    // explosion + two groupBy shuffles) — signatures are pure map work.
    val nPar = s.sparkContext.defaultParallelism
    documents(s, d)
      .repartition(nPar, col("doc_id")) // single-split input → parallelize (see docShingles)
      .select(col("doc_id"),
        HashKernels.simhash64(TextOps.tokens(col("text"))).as("sh"))
      .select(col("doc_id"), col("sh._1").as("simhash"), col("sh._2").as("popcount"))
      .orderBy("doc_id")
  }
  val q28Sql: String =
    """WITH toks AS (
      |  SELECT DISTINCT doc_id, tok
      |  FROM (SELECT doc_id, unnest(string_split_regex(TRIM(text), '\s+')) AS tok FROM documents)),
      |hx AS (
      |  SELECT doc_id, b, ascii(SUBSTR(md5(tok), CAST(b % 32 AS INT) + 1, 1)) AS a
      |  FROM toks, range(0, 64) r(b)),
      |votes AS (
      |  SELECT doc_id, b,
      |    SUM((((CASE WHEN a < 58 THEN a - 48 ELSE a - 87 END) >> CAST(b // 32 AS INT)) & 1) * 2 - 1) AS v
      |  FROM hx GROUP BY doc_id, b),
      |bits AS (SELECT doc_id, b, CASE WHEN v > 0 THEN 1 ELSE 0 END AS bit FROM votes)
      |SELECT doc_id,
      |  CAST(SUM(bit * (CASE WHEN b = 63 THEN -9223372036854775808
      |                       ELSE (CAST(1 AS BIGINT) << CAST(b AS INT)) END)) AS BIGINT) AS simhash,
      |  CAST(SUM(bit) AS BIGINT) AS popcount
      |FROM bits GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** q64: SimHash near-dup profile — pair counts per Hamming distance ≤ 3
    * over the q28 signatures. The scalable shape has two tricks:
    *
    *  1. **Collapse to distinct signatures first.** Docs sharing a
    *     signature are distance-0 pairs counted arithmetically
    *     (n·(n−1)/2); the quadratic stage then runs over DISTINCT
    *     signatures with multiplicities (measured at sf0.1: 8000 docs →
    *     2279 signatures, a 16× candidate reduction — dedup-before-join).
    *  2. **Pigeonhole banding for exact recall.** Two 64-bit signatures at
    *     Hamming distance ≤ 3 agree on at least one of their 4 16-bit
    *     chunks (4 bands > 3 differing bits), so the chunk-equality
    *     self-join finds every qualifying pair; the bit_count(xor) rescore
    *     is exact. Both self-join sides share one exchange (ReusedExchange
    *     via the explicit repartition), and the shuffle is ∝ signatures×4,
    *     never ∝ pairs.
    *
    * Output is the 4-row profile (the corpus near-dup audit number), not
    * the pair list — at this signature width a clustered corpus has
    * quadratically many near-pairs and materializing them is the mistake.
    */
  val q64HammingProfile: Q = (s, d) => {
    val nPar = s.sparkContext.defaultParallelism
    val sigs = documents(s, d)
      .repartition(nPar, col("doc_id")) // single-split input → parallelize
      .select(HashKernels.simhash64(TextOps.tokens(col("text"))).as("sh"))
      .select(col("sh._1").as("simhash"))
      .groupBy("simhash").agg(count(lit(1)).as("n"))
    hammingProfile(sigs, nPar)
  }

  /** The banded Hamming-profile stage of [[q64HammingProfile]], factored
    * out so the recall contract is testable on synthetic signature sets
    * (adversarial high-bit cases that a real corpus may never hit).
    * `sigs` must be (simhash: LONG, n: LONG) with distinct simhash values.
    *
    * Generalized pigeonhole: `nBands` equal chunks of a 64-bit signature
    * guarantee that any pair within Hamming distance `maxDist < nBands`
    * agrees on at least one chunk, so the chunk-equality self-join has
    * EXACT recall at the threshold. q64 uses the classic 4×16 ≤3; the
    * perceptual family (q123) uses 8×8 ≤7 — more bands cost shuffle
    * volume ∝ signatures×nBands and smaller (more collision-prone) chunks,
    * the standard recall/cost dial. */
  def hammingProfile(sigs: DataFrame, nPar: Int,
                     nBands: Int = 4, maxDist: Int = 3): DataFrame = {
    require(64 % nBands == 0, s"nBands $nBands must divide 64")
    require(maxDist < nBands,
      s"pigeonhole recall needs maxDist ($maxDist) < nBands ($nBands)")
    val width = 64 / nBands
    val chunkMask = if (width == 64) -1L else (1L << width) - 1
    val same = sigs.filter(col("n") > 1)
      .agg(coalesce(sum(expr("(n * (n - 1)) div 2")), lit(0L)).as("n_pairs"))
      .select(lit(0).as("hamming"), col("n_pairs"))
    val bands = sigs
      .select(col("simhash"), col("n"),
        posexplode(expr(
          s"transform(sequence(0, ${nBands - 1}), b -> shiftright(simhash, $width * b) & $chunkMask)"))
          .as(Seq("band", "chunk")))
      .repartition(nPar, col("band"), col("chunk"))
    val crossPairs = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.chunk") === col("y.chunk")
          && col("x.simhash") < col("y.simhash"))
      .select(col("x.simhash").as("sa"), col("y.simhash").as("sb"),
        col("x.n").as("na"), col("y.n").as("nb"))
      .distinct() // a pair agreeing on k chunks matches k bands — count once
      .select(bit_count(col("sa").bitwiseXOR(col("sb"))).as("hamming"),
        (col("na") * col("nb")).as("p"))
      .filter(col("hamming") <= maxDist)
      .groupBy("hamming").agg(sum("p").as("n_pairs"))
    same.unionByName(crossPairs).orderBy("hamming")
  }
  val q64Sql: String =
    """WITH toks AS (
      |  SELECT DISTINCT doc_id, tok
      |  FROM (SELECT doc_id, unnest(string_split_regex(TRIM(text), '\s+')) AS tok FROM documents)),
      |hx AS (
      |  SELECT doc_id, b, ascii(SUBSTR(md5(tok), CAST(b % 32 AS INT) + 1, 1)) AS a
      |  FROM toks, range(0, 64) r(b)),
      |votes AS (
      |  SELECT doc_id, b,
      |    SUM((((CASE WHEN a < 58 THEN a - 48 ELSE a - 87 END) >> CAST(b // 32 AS INT)) & 1) * 2 - 1) AS v
      |  FROM hx GROUP BY doc_id, b),
      |bits AS (SELECT doc_id, b, CASE WHEN v > 0 THEN 1 ELSE 0 END AS bit FROM votes),
      |sig AS (
      |  SELECT doc_id,
      |    CAST(SUM(bit * (CASE WHEN b = 63 THEN -9223372036854775808
      |                         ELSE (CAST(1 AS BIGINT) << CAST(b AS INT)) END)) AS BIGINT) AS simhash
      |  FROM bits GROUP BY doc_id),
      |sc AS (SELECT simhash, COUNT(*) AS n FROM sig GROUP BY 1),
      |crossp AS (
      |  SELECT bit_count(xor(a.simhash, b.simhash)) AS hamming, SUM(a.n * b.n) AS n_pairs
      |  FROM sc a JOIN sc b ON a.simhash < b.simhash
      |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
      |  GROUP BY 1)
      |SELECT 0 AS hamming, CAST(COALESCE(SUM(n * (n - 1) // 2), 0) AS BIGINT) AS n_pairs
      |FROM sc WHERE n > 1
      |UNION ALL
      |SELECT hamming, CAST(n_pairs AS BIGINT) FROM crossp
      |ORDER BY hamming""".stripMargin

  /** Edge-count cap under which component labeling runs driver-local:
    * 5M edges × 16 bytes is ~80 MB of driver longs. In a dedup graph the
    * edge table is candidate pairs — already banded/capped by
    * construction — so real corpora sit far under this; the distributed
    * loop remains for the pathological overflow. */
  val DefaultLocalEdgeCap: Long = 5000000L

  /** Connected components over the candidate-pair graph; every paired node
    * gets the min doc_id of its cluster, singletons label themselves.
    *
    * Venue is picked by edge count, like [[BpeVocab.train]]'s merge loop:
    * under `localEdgeCap` the (banded, capped — so bounded by
    * construction) pair list is collected once and union-find with
    * path compression labels it driver-side in O(E α(E)) — each
    * *distributed* round below costs two shuffles of scheduler latency,
    * which dwarfs the actual work at candidate-pair scale. Above the cap,
    * min-label propagation WITH pointer jumping: each round a node's
    * label becomes the min of itself and its neighbors' labels, then
    * labels are path-compressed (label := label's label). The compression
    * halves label-chain depth per round, so convergence is
    * O(log diameter) rounds instead of O(diameter) — which matters
    * precisely for the capped candidate chains ([[jaccardPairs]] /
    * [[lshCandidatePairs]]): a degenerate N-doc bucket emits a cap-width
    * chain of diameter ~N/cap, and plain propagation would need that many
    * shuffles (DedupCapSpec: a 200-node chain converges in ≤12 rounds;
    * a parity spec pins local == distributed).
    *
    * Scale notes (distributed path): each round is two shuffles (edge
    * join + min agg, then the compression self-join). Every round goes
    * through [[StageMaterialize]] to truncate the growing plan lineage (the
    * classic iterative-algorithm pattern, same as GraphX's strategy).
    */
  def connectedComponents(nodes: DataFrame, pairs: DataFrame, maxIter: Int = 20,
                          localEdgeCap: Long = DefaultLocalEdgeCap): DataFrame = {
    val spark = nodes.sparkSession
    import spark.implicits._
    val rawEdges = pairs.select(col("doc_a").cast("long").as("a"),
      col("doc_b").cast("long").as("b")).cache()
    val nEdges = rawEdges.count()
    if (nEdges <= localEdgeCap) {
      val collected = rawEdges.collect().map(r => (r.getLong(0), r.getLong(1)))
      rawEdges.unpersist()
      val labels = localComponents(collected).toSeq
      return nodes.join(broadcast(labels.toDF("doc_id", "component")),
          Seq("doc_id"), "left_outer")
        .select(col("doc_id"), coalesce(col("component"), col("doc_id")).as("component"))
    }
    // propagate only over the nodes that appear in a pair — in a dedup
    // graph the overwhelming majority of documents are singletons, and
    // carrying them through every iteration's shuffle multiplies the cost
    // by |corpus| / |paired nodes| (500k vs a few hundred at sf0.1); they
    // rejoin as their own component at the end
    val edges = rawEdges
      .union(rawEdges.select(col("b").as("a"), col("a").as("b")))
      .cache()
    // a barrier, not cache: each round's plan builds on the previous
    // round's, so without lineage TRUNCATION the logical plan doubles every
    // iteration — a 30-iteration run OOMs the driver just stringifying it
    // (old round RDDs are released by the ContextCleaner)
    var labels = StageMaterialize(edges.select(col("a").as("doc_id")).distinct()
      .select(col("doc_id"), col("doc_id").as("component")))
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val viaNeighbors = edges
        .join(labels, edges("b") === labels("doc_id"))
        .select(col("a").as("doc_id"), col("component"))
      val propagated = labels.select("doc_id", "component").union(viaNeighbors)
        .groupBy("doc_id").agg(min("component").as("component"))
      // pointer jump (path compression): component := component's own
      // label. Every label value IS a paired node's doc_id, so the lookup
      // is total — the left join + coalesce only guards the invariant.
      // Deferred to round 3: typical LSH clusters are dense and converge
      // in ≤2 propagation rounds, so they never pay the extra self-join;
      // long chains (capped degenerate buckets) still get the O(log)
      // compression from round 3 on. The propagation result is
      // materialized BEFORE the self-join — joining the raw lineage
      // against itself would re-execute the union+min aggregate once per
      // side (ReuseExchange dedups the shuffle, not the agg above it).
      val next = StageMaterialize(if (iter < 2) propagated
        else {
          val p = StageMaterialize(propagated)
          p.join(p.select(col("doc_id").as("component"), col("component").as("_root")),
              Seq("component"), "left_outer")
            .select(col("doc_id"), coalesce(col("_root"), col("component")).as("component"))
        })
      // converged ⇔ no label decreased this round
      val changed = next.join(labels.withColumnRenamed("component", "old"), "doc_id")
        .filter(col("component") < col("old")).limit(1).count()
      labels = next
      converged = changed == 0
      iter += 1
    }
    edges.unpersist()
    rawEdges.unpersist()
    // silent non-convergence would return labels that split true clusters
    // (and diverge from the transitive-closure oracle) — fail loudly
    require(converged,
      s"connectedComponents did not converge in $maxIter iterations; " +
        "a component has diameter > maxIter — raise maxIter")
    // paired-node labels are small by construction (only docs in ≥1 pair);
    // collect and broadcast them back over the corpus so the loop's cache
    // can be released HERE instead of leaking for the session lifetime
    // (the lazily-returned DataFrame would otherwise keep depending on the
    // cached iterative lineage). For a pathological pair graph too big to
    // collect, fall back to a plain join and accept the retained cache.
    val singletonJoin = (lbl: DataFrame) =>
      nodes.join(lbl, Seq("doc_id"), "left_outer")
        .select(col("doc_id"), coalesce(col("component"), col("doc_id")).as("component"))
    if (labels.count() <= 5000000) {
      val pinned = labels.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      singletonJoin(broadcast(pinned.toDF("doc_id", "component")))
    } else {
      singletonJoin(labels)
    }
  }

  /** Driver-local union-find with path compression over a collected edge
    * list. Roots stay the minimum doc_id of their cluster by construction
    * (unions always attach the larger root under the smaller), so the
    * returned (doc_id → component) map matches the distributed loop's
    * min-label fixpoint exactly. */
  private[operators] def localComponents(edges: Array[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val nxt = parent(c); parent(c) = r; c = nxt }
      r
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keysIterator.map(k => k -> find(k)).toMap
  }

  /** q42: near-dup cluster assignment — connected components over the q27
    * LSH candidate pairs; every document gets the min doc_id of its
    * cluster (singletons = self). The oracle is a recursive-CTE transitive
    * closure — fine at oracle scale (closure is Σ cluster-size², and LSH
    * clusters are small), while the Spark side is the O(diameter)
    * label-propagation loop that scales. */
  val q42DedupClusters: Q = (s, d) => {
    val pairs = q27LshPairs(s, d).select("doc_a", "doc_b")
    connectedComponents(documents(s, d).select("doc_id"), pairs)
      .orderBy("doc_id")
  }

  /** Production dedup clustering: the full FAST-kernel chain —
    * [[lshCandidatePairsFast]] candidates (fused token-array MinHash +
    * splitmix band keys, zero String allocation) into the same
    * [[connectedComponents]] loop as q42. This is what the 100 TB corpus
    * actually runs end-to-end; the md5 chain (q27→q42) exists to stay
    * DuckDB-replayable. Candidates differ in-distribution only (different
    * hash family), so clusters are spec-gated: FastMinHashSpec pins that
    * exact-dup groups land in one component on both chains. */
  def dedupClustersFast(docs: DataFrame,
                        bucketCap: Int = DefaultCandidateCap): DataFrame =
    connectedComponents(docs.select("doc_id"),
      lshCandidatePairsFast(docs, bucketCap).select("doc_a", "doc_b"))

  /** q92: the production fast-kernel dedup chain as a gate query —
    * rows-only by design (the fast hash family is intentionally not
    * SQL-replayable; see q84). Rows = |corpus| and determinism are gated;
    * cluster-equivalence with the md5 chain on exact dups lives in
    * FastMinHashSpec. */
  val q92DedupClustersFast: Q = (s, d) =>
    dedupClustersFast(documents(s, d)).orderBy("doc_id")
  val q42Sql: String =
    s"""WITH RECURSIVE $duckShingles,
       |dsh AS (SELECT DISTINCT doc_id, sh FROM shing),
       |sig AS (
       |  SELECT doc_id, CAST(seed AS INT) AS seed,
       |    MIN(md5(CAST(seed AS VARCHAR) || ':' || sh)) AS minhash
       |  FROM dsh, range(0, 16) r(seed) GROUP BY doc_id, seed),
       |bands AS (
       |  SELECT doc_id, CAST(seed // 4 AS INT) AS band,
       |    md5(string_agg(lpad(CAST(seed AS VARCHAR), 2, '0') || '=' || minhash, '|'
       |        ORDER BY lpad(CAST(seed AS VARCHAR), 2, '0') || '=' || minhash)) AS band_key
       |  FROM sig GROUP BY doc_id, CAST(seed // 4 AS INT)),
       |rbands AS (
       |  SELECT doc_id, band, band_key,
       |    ROW_NUMBER() OVER (PARTITION BY band, band_key ORDER BY doc_id) AS rn
       |  FROM bands),
       |pairs AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM rbands x JOIN rbands y
       |    ON x.band = y.band AND x.band_key = y.band_key AND x.doc_id < y.doc_id
       |       AND y.rn <= x.rn + $DefaultCandidateCap),
       |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
       |          UNION ALL SELECT doc_b, doc_a FROM pairs),
       |reach(n, m) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT r.n, e.b FROM reach r JOIN edges e ON r.m = e.a)
       |SELECT n AS doc_id, MIN(m) AS component
       |FROM reach GROUP BY n ORDER BY doc_id""".stripMargin

  /** q146: leakage-free cluster-granular split assignment — the REPAIR
    * for what q121 measures. A doc-keyed hash split puts near-duplicate
    * documents on both sides of the train/eval boundary (the classic
    * contamination channel: the eval answer was memorized from its
    * training-set twin); splitting at the NEAR-DUP-CLUSTER granularity —
    * every document inherits its q42 component's split, keyed by the
    * component id's hash — makes cross-split leakage structurally zero
    * while keeping the assignment stateless and reproducible (no RNG, no
    * split table: re-running on the grown corpus re-derives it).
    *
    * Output: one row per rule (`by_doc` = q121's doc-keyed rule,
    * `by_cluster` = the repair), with the leaky-cluster count, the
    * documents involved, and the resulting split sizes — the by_doc row
    * quantifies the contamination being bought back, the by_cluster row
    * pins zero by construction AND shows the split-balance cost (whole
    * clusters move together, so sizes drift from the hash split's
    * 12/2/2 sixteenths in proportion to cluster mass).
    *
    * Scale shape: clusters come from the q42 chain (capped LSH pairs →
    * O(log-diameter) label propagation); the tagging is one narrow
    * projection (both split columns are hash expressions); the summary
    * is a (rule, component)-keyed aggregate — ≤2·|components| rows into
    * the final |rules|-row fold. All counts BIGINT — hash-exact. */
  val q146ClusterSplit: Q = (s, d) =>
    clusterSplitSummary(connectedComponents(documents(s, d).select("doc_id"),
      q27LshPairs(s, d).select("doc_a", "doc_b")))

  /** The rule/leakage summary over a (doc_id, component) frame — split
    * out of [[q146ClusterSplit]] so the spec can pin it on a hand-built
    * component table. */
  def clusterSplitSummary(comp: DataFrame): DataFrame = {
    def splitOf(c: Column) = {
      val h1 = substring(md5(c.cast("string")), 1, 1)
      when(h1 < "c", "train").when(h1 < "e", "val").otherwise("test")
    }
    val long = comp
      .select(col("component"), lit("by_doc").as("rule"),
        splitOf(col("doc_id")).as("split"))
      .unionAll(comp.select(col("component"), lit("by_cluster").as("rule"),
        splitOf(col("component")).as("split")))
    long.groupBy("rule", "component")
      .agg(countDistinct(col("split")).as("k"), count(lit(1)).as("n"),
        sum(when(col("split") === "train", 1L).otherwise(0L)).as("tr"),
        sum(when(col("split") === "val", 1L).otherwise(0L)).as("va"),
        sum(when(col("split") === "test", 1L).otherwise(0L)).as("te"))
      .groupBy("rule")
      .agg(sum(when(col("k") >= 2, 1L).otherwise(0L)).as("n_leaky_clusters"),
        sum(when(col("k") >= 2, col("n")).otherwise(0L)).as("n_docs_involved"),
        sum(col("tr")).as("n_train"), sum(col("va")).as("n_val"),
        sum(col("te")).as("n_test"))
      .orderBy("rule")
  }
  val q146Sql: String =
    s"""WITH RECURSIVE $duckShingles,
       |dsh AS (SELECT DISTINCT doc_id, sh FROM shing),
       |sig AS (
       |  SELECT doc_id, CAST(seed AS INT) AS seed,
       |    MIN(md5(CAST(seed AS VARCHAR) || ':' || sh)) AS minhash
       |  FROM dsh, range(0, 16) r(seed) GROUP BY doc_id, seed),
       |bands AS (
       |  SELECT doc_id, CAST(seed // 4 AS INT) AS band,
       |    md5(string_agg(lpad(CAST(seed AS VARCHAR), 2, '0') || '=' || minhash, '|'
       |        ORDER BY lpad(CAST(seed AS VARCHAR), 2, '0') || '=' || minhash)) AS band_key
       |  FROM sig GROUP BY doc_id, CAST(seed // 4 AS INT)),
       |rbands AS (
       |  SELECT doc_id, band, band_key,
       |    ROW_NUMBER() OVER (PARTITION BY band, band_key ORDER BY doc_id) AS rn
       |  FROM bands),
       |pairs AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM rbands x JOIN rbands y
       |    ON x.band = y.band AND x.band_key = y.band_key AND x.doc_id < y.doc_id
       |       AND y.rn <= x.rn + $DefaultCandidateCap),
       |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
       |          UNION ALL SELECT doc_b, doc_a FROM pairs),
       |reach(n, m) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT r.n, e.b FROM reach r JOIN edges e ON r.m = e.a),
       |comp AS (SELECT n AS doc_id, MIN(m) AS component FROM reach GROUP BY n),
       |lng AS (
       |  SELECT component, 'by_doc' AS rule,
       |    CASE WHEN SUBSTR(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'c' THEN 'train'
       |         WHEN SUBSTR(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'e' THEN 'val'
       |         ELSE 'test' END AS split
       |  FROM comp
       |  UNION ALL
       |  SELECT component, 'by_cluster',
       |    CASE WHEN SUBSTR(md5(CAST(component AS VARCHAR)), 1, 1) < 'c' THEN 'train'
       |         WHEN SUBSTR(md5(CAST(component AS VARCHAR)), 1, 1) < 'e' THEN 'val'
       |         ELSE 'test' END
       |  FROM comp),
       |grp AS (
       |  SELECT rule, component, COUNT(DISTINCT split) AS k, COUNT(*) AS n,
       |    SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS tr,
       |    SUM(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS va,
       |    SUM(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS te
       |  FROM lng GROUP BY rule, component)
       |SELECT rule,
       |  CAST(SUM(CASE WHEN k >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_leaky_clusters,
       |  CAST(SUM(CASE WHEN k >= 2 THEN n ELSE 0 END) AS BIGINT) AS n_docs_involved,
       |  CAST(SUM(tr) AS BIGINT) AS n_train,
       |  CAST(SUM(va) AS BIGINT) AS n_val,
       |  CAST(SUM(te) AS BIGINT) AS n_test
       |FROM grp GROUP BY rule ORDER BY rule""".stripMargin

  /** Incremental dedup against an EXISTING corpus index — the ingest-time
    * production shape: a new batch of documents probes the accumulated
    * corpus's LSH signature index instead of self-deduping the union
    * (re-running q27 over corpus+batch would re-hash the whole corpus per
    * batch — quadratic in total ingest). Emits, per (new doc, index doc)
    * band collision, the shared-band count — the candidate set an exact
    * rescoring/reject stage consumes.
    *
    * Shape: band keys for BOTH sides are one narrow pass each; the probe
    * is an equi-join on (band, band_key) — shuffle ∝ rows × bands, never
    * pairs — with the index side capped per bucket (row_number ≤ cap in
    * doc_id order, the family's standard bounded-degenerate-bucket
    * contract; mirrored in the oracle so parity is scale-independent).
    * At 100 TB the index lives bucketed BY band_key on disk
    * ([[Bucketing]]), so a batch probe reads only colliding buckets and
    * the join needs no index-side shuffle at all; `useFastKernel = true`
    * is the production hash family (spec-gated like q84/q92), `false`
    * the DuckDB-replayable oracle family (q95). */
  def dedupAgainstIndex(docs: DataFrame, isBatch: Column => Column,
                        bucketCap: Int = DefaultCandidateCap,
                        useFastKernel: Boolean = true): DataFrame = {
    requireCap(bucketCap)
    val bands =
      if (useFastKernel)
        docTokensOf(docs).select(col("doc_id"),
          posexplode(HashKernels.bandKeysFast(nBands = 4, rowsPerBand = 4)(
            graft.functions.MinHashTokensExpr(col("l"), 16))).as(Seq("band", "band_key")))
      else
        docShinglesOf(docs, withSource = false).select(col("doc_id"),
          posexplode(HashKernels.bandKeys(nBands = 4, rowsPerBand = 4)(
            HashKernels.minhash(16)(col("shs")))).as(Seq("band", "band_key")))
    val w = Window.partitionBy("band", "band_key").orderBy("doc_id")
    val idx = bands.filter(!isBatch(col("doc_id")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= bucketCap)
      .select(col("doc_id").as("idx_doc"), col("band"), col("band_key"))
    val batch = bands.filter(isBatch(col("doc_id")))
      .select(col("doc_id").as("new_doc"), col("band"), col("band_key"))
    batch.join(idx, Seq("band", "band_key"))
      .groupBy("new_doc", "idx_doc")
      .agg(count(lit(1)).as("n_shared_bands"))
  }

  /** q95: the incremental-ingest dedup probe as a gate query (md5 family —
    * DuckDB-replayable; every 4th document plays the "new batch", the rest
    * the accumulated index). The fast-kernel production twin runs through
    * the same helper with `useFastKernel = true` and is covered by
    * FastMinHashSpec's family-equivalence contract. */
  val q95DedupAgainstIndex: Q = (s, d) =>
    dedupAgainstIndex(documents(s, d), id => pmod(id, lit(4)) === 0,
      useFastKernel = false)
      .orderBy("new_doc", "idx_doc")
  val q95Sql: String =
    s"""WITH $duckShingles,
       |dsh AS (SELECT DISTINCT doc_id, sh FROM shing),
       |sig AS (
       |  SELECT doc_id, CAST(seed AS INT) AS seed,
       |    MIN(md5(CAST(seed AS VARCHAR) || ':' || sh)) AS minhash
       |  FROM dsh, range(0, 16) r(seed) GROUP BY doc_id, seed),
       |bands AS (
       |  SELECT doc_id, CAST(seed // 4 AS INT) AS band,
       |    md5(string_agg(lpad(CAST(seed AS VARCHAR), 2, '0') || '=' || minhash, '|'
       |        ORDER BY lpad(CAST(seed AS VARCHAR), 2, '0') || '=' || minhash)) AS band_key
       |  FROM sig GROUP BY doc_id, CAST(seed // 4 AS INT)),
       |idx AS (
       |  SELECT doc_id AS idx_doc, band, band_key,
       |    ROW_NUMBER() OVER (PARTITION BY band, band_key ORDER BY doc_id) AS rn
       |  FROM bands WHERE doc_id % 4 <> 0),
       |batch AS (
       |  SELECT doc_id AS new_doc, band, band_key FROM bands WHERE doc_id % 4 = 0)
       |SELECT b.new_doc, i.idx_doc, COUNT(*) AS n_shared_bands
       |FROM batch b JOIN idx i
       |  ON i.band = b.band AND i.band_key = b.band_key AND i.rn <= $DefaultCandidateCap
       |GROUP BY 1, 2
       |ORDER BY new_doc, idx_doc""".stripMargin

  /** q49: benchmark decontamination — the training-pipeline op that removes
    * eval-set leakage: flag every training document sharing ≥1 word-3-gram
    * shingle with the benchmark set (here: `doc_id % 97 == 0`, a
    * deterministic stand-in for a held-out eval corpus).
    *
    * Shape: the benchmark's distinct shingles are a FEW rows vs the corpus —
    * broadcast them, so contamination detection is a broadcast semi-join-
    * with-count over the exploded train shingles: zero shuffle for the
    * probe itself (the only exchanges are the per-doc count agg and the
    * output sort). At 100 TB the eval set stays ~MB-scale, so the broadcast
    * holds, and the probe runs at scan speed — this is exactly how
    * production decontamination passes are built. */
  /** Reusable decontamination kernel: flag every non-bench document sharing
    * ≥1 shingle with the bench partition (`isBench` over doc_id).
    *
    * Two plans, picked by measuring the eval set, SAME output either way
    * (DedupCapSpec drives both paths to identical rows):
    *  - set-probe (the common case): the eval set stays MB-scale at any
    *    corpus size, so its distinct shingles COLLECT to the driver and
    *    ship as a broadcast Set — the probe is ONE narrow pass over the
    *    train shingle arrays (no explode, no join, no shuffle but the
    *    output sort). This replaced an explode + broadcast-join + re-join
    *    shape that evaluated the shingle pipeline three times (measured
    *    1.29 s → 0.4 s at sf0.1).
    *  - join fallback: when the collected eval shingles would exceed
    *    `maxBroadcastShingles`, fall back to exploding the train shingles
    *    and joining them against the (still broadcast-hinted — Spark
    *    demotes to shuffle when it truly can't fit) bench-shingle frame,
    *    counting hits per doc. Driver memory stays bounded by the limit
    *    probe: `limit(max+1).collect()` never pins more than max+1 rows.
    */
  def decontaminate(docs: DataFrame, isBench: Column => Column,
                    maxBroadcastShingles: Int = 5000000): DataFrame = {
    val s = docs.sparkSession
    val withShs = docShinglesOf(docs, withSource = false)
    val benchSh = withShs.filter(isBench(col("doc_id")))
      .select(explode(col("shs")).as("sh")).distinct()
    val train = withShs.filter(!isBench(col("doc_id")))

    val probe = benchSh.limit(maxBroadcastShingles + 1).collect()
    val flagged =
      if (probe.length <= maxBroadcastShingles) {
        val bc = s.sparkContext.broadcast(probe.map(_.getString(0)).toSet)
        val nHits = udf { shs: Seq[String] => shs.count(bc.value.contains).toLong }
        train.select(col("doc_id"), size(col("shs")).cast("long").as("n_sh"),
          nHits(col("shs")).as("n_hits"))
      } else {
        val hits = train.select(col("doc_id"), explode(col("shs")).as("sh"))
          .join(broadcast(benchSh), Seq("sh"))
          .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
        train.select(col("doc_id"), size(col("shs")).cast("long").as("n_sh"))
          .join(hits, Seq("doc_id"), "left_outer")
          .select(col("doc_id"), col("n_sh"),
            coalesce(col("n_hits"), lit(0L)).as("n_hits"))
      }
    flagged.select(col("doc_id"), col("n_sh"), col("n_hits"),
      (col("n_hits") > 0).as("contaminated"))
  }

  val q49Decontaminate: Q = (s, d) =>
    decontaminate(documents(s, d), _ % 97 === 0).orderBy("doc_id")
  val q49Sql: String =
    s"""WITH $duckShingles,
       |dsh AS (SELECT DISTINCT doc_id, sh FROM shing),
       |bench AS (SELECT DISTINCT sh FROM dsh WHERE doc_id % 97 = 0),
       |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM dsh
       |          WHERE doc_id % 97 <> 0 GROUP BY doc_id),
       |hits AS (
       |  SELECT d.doc_id, COUNT(*) AS n_hits
       |  FROM dsh d JOIN bench b ON d.sh = b.sh
       |  WHERE d.doc_id % 97 <> 0 GROUP BY d.doc_id)
       |SELECT s.doc_id, s.n_sh,
       |  COALESCE(h.n_hits, 0) AS n_hits,
       |  COALESCE(h.n_hits, 0) > 0 AS contaminated
       |FROM sizes s LEFT JOIN hits h ON s.doc_id = h.doc_id
       |ORDER BY s.doc_id""".stripMargin

  /** q127: Bloom-prefiltered benchmark decontamination — the shape
    * [[decontaminate]]'s set-probe grows into when the eval suite's
    * distinct shingles no longer fit a driver-side exact Set but are
    * still tiny next to the corpus. A Bloom filter at fixed fpp is
    * ~10 bits/element vs ~50+ bytes for an exact String set entry —
    * 40×+ smaller, so a bench set whose exact-set broadcast would blow
    * the driver ships as a few-hundred-MB bitmap at billions of
    * shingles (GPT-3-style 13-gram decontamination runs exactly this
    * way).
    *
    * Three stages, the FINAL OUTPUT EXACT regardless of fpp:
    *  1. build: one pass over the bench partition's distinct shingles
    *     into a broadcast [[org.apache.spark.util.sketch.BloomFilter]]
    *     (bit-OR merge is order- and partitioning-independent, so the
    *     filter is deterministic);
    *  2. prefilter: one NARROW pass over the train docs' shingle arrays
    *     — a doc survives iff some shingle might be in the filter. No
    *     false negatives ⇒ every truly contaminated doc survives; the
    *     fpp only admits extra candidates;
    *  3. exact verify: ONLY the candidates (a vanishing corpus fraction
    *     at production contamination rates) explode and broadcast-join
    *     the real bench shingles; false positives count 0 hits and the
    *     inner join drops them.
    * So at 100 TB the full-corpus cost is stage 2's scan; shuffle is
    * proportional to the CONTAMINATED mass, not the corpus. The oracle
    * replays the exact semantics (flagged docs + exact hit counts) with
    * no Bloom at all — which is the point: the sketch is invisible in
    * the output.
    *
    * Bench stand-in: `doc_id % 89 == 0` (distinct from q49's % 97 so the
    * two gates don't collapse to the same answer). */
  def bloomDecontaminate(docs: DataFrame, isBench: Column => Column,
                         fpp: Double = 0.03): DataFrame = {
    val s = docs.sparkSession
    // the doc-shingle table feeds the bench slice AND the train scan; the
    // bench shingles feed the count, the Bloom build AND the exact-verify
    // broadcast; the candidates feed the hit count AND the size column —
    // materialize each once (Spark shares no subtrees, so every reference
    // re-ran the shingle pass)
    val withShs = StageMaterialize(docShinglesOf(docs, withSource = false))
    val benchSh = StageMaterialize(withShs.filter(isBench(col("doc_id")))
      .select(explode(col("shs")).as("sh")).distinct())
    val train = withShs.filter(!isBench(col("doc_id")))

    val bloom = benchSh.stat.bloomFilter("sh",
      math.max(benchSh.count(), 1L), fpp)
    val bc = s.sparkContext.broadcast(bloom)
    val mightHit = udf { shs: Seq[String] =>
      shs.exists(sh => bc.value.mightContainString(sh)) }
    val cands = StageMaterialize(train.filter(mightHit(col("shs"))))

    val hits = cands.select(col("doc_id"), explode(col("shs")).as("sh"))
      .join(broadcast(benchSh), Seq("sh"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
    cands.select(col("doc_id"), size(col("shs")).cast("long").as("n_sh"))
      .join(hits, Seq("doc_id"))
      .select(col("doc_id"), col("n_sh"), col("n_hits"))
  }

  val q127BloomDecontam: Q = (s, d) =>
    bloomDecontaminate(documents(s, d), _ % 89 === 0).orderBy("doc_id")
  val q127Sql: String =
    s"""WITH $duckShingles,
       |dsh AS (SELECT DISTINCT doc_id, sh FROM shing),
       |bench AS (SELECT DISTINCT sh FROM dsh WHERE doc_id % 89 = 0),
       |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM dsh
       |          WHERE doc_id % 89 <> 0 GROUP BY doc_id),
       |hits AS (
       |  SELECT d.doc_id, COUNT(*) AS n_hits
       |  FROM dsh d JOIN bench b ON d.sh = b.sh
       |  WHERE d.doc_id % 89 <> 0 GROUP BY d.doc_id)
       |SELECT s.doc_id, s.n_sh, h.n_hits
       |FROM sizes s JOIN hits h ON s.doc_id = h.doc_id
       |ORDER BY s.doc_id""".stripMargin

  /** q59: cross-source contamination matrix — for every source pair, the
    * number of distinct shingles they share. The planning signal behind
    * "which corpora overlap enough to need joint dedup".
    *
    * Shape: distinct (source, sh) first — so each shingle block is ≤
    * |sources| rows REGARDLESS of how many documents contain it (the
    * per-source distinct is what bounds the join: a stopword shingle in
    * every doc still contributes at most sources² pairs) — then a self-join
    * on sh and one k²-cell aggregate. Two shuffles total at any scale. */
  val q59SourceOverlap: Q = (s, d) => {
    // self-joined below — materialize so the shingle explode + distinct
    // runs one pass, not two
    val srcSh = StageMaterialize(shinglesOf(documents(s, d), withSource = true)
      .select("source", "sh").distinct())
    srcSh.as("a").join(srcSh.as("b"),
        col("a.sh") === col("b.sh") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("n_shared"))
      .orderBy("source_a", "source_b")
  }
  val q59Sql: String =
    s"""WITH $duckShinglesWithSource,
       |ssh AS (SELECT DISTINCT source, sh FROM shing)
       |SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS n_shared
       |FROM ssh a JOIN ssh b ON a.sh = b.sh AND a.source < b.source
       |GROUP BY 1, 2 ORDER BY source_a, source_b""".stripMargin

  /** q60: chunk-level duplication — split each document into consecutive
    * 8-token chunks, hash them, and score each document by the fraction of
    * its chunks appearing ≥2 times corpus-wide (the CCNet/paragraph-hash
    * dedup signal at sub-document granularity; docs under 8 tokens have no
    * chunks and drop out).
    *
    * Shape: chunk hashes are one narrow codegen'd pass (transform over the
    * token array, no pair joins anywhere); the only shuffles are the
    * hash-frequency aggregate and the hash→doc re-join — both keyed on the
    * 128-bit hash, so shuffle volume ∝ chunk count, never text bytes. */
  val q60ChunkDedup: Q = (s, d) => {
    val nPar = s.sparkContext.defaultParallelism
    val chunks = documents(s, d)
      .repartition(nPar, col("doc_id"))
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("l"))
      .filter(size(col("l")) >= 8)
      .select(col("doc_id"), explode(transform(
        sequence(lit(0), (size(col("l")) / lit(8)).cast("int") - 1),
        i => md5(concat_ws(" ", slice(col("l"), i * lit(8) + 1, lit(8)))))).as("h"))
    val freq = chunks.groupBy("h").agg(count(lit(1)).as("cnt"))
    chunks.join(freq, Seq("h"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        count(when(col("cnt") >= 2, lit(1))).as("n_dup"))
      .select(col("doc_id"), col("n_chunks"), col("n_dup"),
        round(col("n_dup").cast("double") / col("n_chunks"), 6).as("dup_ratio"))
      .orderBy("doc_id")
  }
  val q60Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split_regex(TRIM(text), '\s+') AS l FROM documents),
      |idx AS (
      |  SELECT doc_id, l, unnest(range(len(l) // 8)) AS i
      |  FROM toks WHERE len(l) >= 8),
      |chunks AS (
      |  SELECT doc_id, md5(array_to_string(l[i*8+1 : i*8+8], ' ')) AS h FROM idx),
      |freq AS (SELECT h, COUNT(*) AS cnt FROM chunks GROUP BY h)
      |SELECT c.doc_id, COUNT(*) AS n_chunks,
      |  COUNT(*) FILTER (WHERE f.cnt >= 2) AS n_dup,
      |  ROUND(CAST(COUNT(*) FILTER (WHERE f.cnt >= 2) AS DOUBLE) / COUNT(*), 6) AS dup_ratio
      |FROM chunks c JOIN freq f ON c.h = f.h
      |GROUP BY c.doc_id ORDER BY c.doc_id""".stripMargin

  /** q137: content-defined chunking dedup (the Rabin/FastCDC family that
    * storage dedup and long-document near-dup pipelines use): a chunk
    * boundary falls AFTER token i whenever md5₃₂(token_i) % 16 == 0
    * (expected chunk ≈ 16 tokens), so chunk boundaries are a function of
    * CONTENT, not position — an insertion near a document's head shifts
    * every q60 fixed-stride chunk but re-synchronizes CDC chunks at the
    * next boundary token, which is the property that finds shared spans
    * between shifted copies. Chunks repeating corpus-wide (n_occ ≥ 2) are
    * reported with their document reach. (Production notes: the gate form
    * has no min/max chunk clamp — FastCDC's normalization — and would
    * swap the md5 boundary/key hashes for xxhash64 exactly like q84/q92.)
    *
    * Shape: chunking is ENTIRELY array-local (nested let-bound lambdas —
    * the q134 CollapseProject lesson: `array(x)`-wrapping binds each
    * intermediate once per doc instead of re-evaluating it per element);
    * the only shuffle is the chunk-key aggregate, keyed on a 64-bit-hex
    * key ∝ chunk count. The report is a distributed top-k
    * (TakeOrderedAndProject), never a global sort. */
  def cdcChunks(docs: DataFrame, modulus: Int = 16): DataFrame = {
    val l = split(trim(col("text")), "\\s+")
    val chunks = flatten(transform(array(l), lv => {
      val bidx = filter(sequence(lit(1), size(lv)), i =>
        conv(substring(md5(element_at(lv, i)), 1, 8), 16, 10).cast("long")
          % modulus === 0)
      flatten(transform(array(bidx), bv => {
        val sts = concat(array(lit(1)), transform(bv, x => x + 1))
        val ens = concat(bv, array(size(lv)))
        // the trailing chunk is empty iff the last token is a boundary
        // (st = n+1 > en = n): drop it, both engines identically
        filter(zip_with(sts, ens, (st, en) =>
          when(st <= en, struct(
            substring(md5(concat_ws(" ", slice(lv, st, en - st + 1))), 1, 16)
              .as("h"),
            (en - st + 1).as("clen")))),
          c => c.isNotNull)
      }))
    }))
    docs.select(col("doc_id"), explode(chunks).as("c"))
      .select(col("doc_id"), col("c.h").as("chunk_hash"),
        col("c.clen").as("chunk_len"))
  }

  val q137CdcChunks: Q = (s, d) =>
    cdcChunks(documents(s, d))
      .groupBy("chunk_hash", "chunk_len")
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occ"))
      .filter(col("n_occ") >= 2)
      .orderBy(desc("n_docs"), desc("n_occ"), col("chunk_hash"))
      .limit(200)
  val q137Sql: String =
    """WITH t AS (
      |  SELECT doc_id, string_split_regex(TRIM(text), '\s+') AS l FROM documents),
      |b AS (
      |  SELECT doc_id, l,
      |    list_filter(range(1, len(l) + 1),
      |      i -> CAST(concat('0x', substr(md5(l[i]), 1, 8)) AS BIGINT) % 16 = 0)
      |      AS bidx
      |  FROM t),
      |se AS (
      |  SELECT doc_id, l,
      |    list_concat([CAST(1 AS BIGINT)], list_transform(bidx, x -> x + 1)) AS sts,
      |    list_concat(bidx, [CAST(len(l) AS BIGINT)]) AS ens
      |  FROM b),
      |sp AS (
      |  SELECT doc_id, l,
      |    unnest(list_filter(list_transform(range(1, len(sts) + 1),
      |      j -> struct_pack(st := sts[j], en := ens[j])), c -> c.st <= c.en)) AS c
      |  FROM se),
      |ch AS (
      |  SELECT doc_id,
      |    substr(md5(array_to_string(l[c.st : c.en], ' ')), 1, 16) AS chunk_hash,
      |    c.en - c.st + 1 AS chunk_len
      |  FROM sp)
      |SELECT chunk_hash, chunk_len, n_docs, n_occ FROM (
      |  SELECT chunk_hash, chunk_len,
      |    COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_occ
      |  FROM ch GROUP BY 1, 2)
      |WHERE n_occ >= 2
      |ORDER BY n_docs DESC, n_occ DESC, chunk_hash LIMIT 200""".stripMargin

  /** q138: edit-distance verification of the LSH candidate pairs — the
    * expensive-verify half of the candidate-gen → verify pipeline every
    * fuzzy-dedup deployment runs (MinHash proposes, Levenshtein decides).
    * Each q27 candidate pair is scored with character-level edit distance
    * over the 64-char document prefix and the normalized similarity
    * 1 − dist/max(|a|,|b|). Token-set measures (Jaccard, containment)
    * are blind to sub-token edits (typos, OCR noise, byte corruption);
    * this is the character-level point on that spectrum.
    *
    * Shape: the O(len²) dynamic program runs ONLY on LSH-proposed pairs —
    * cost ∝ candidates × 64², never corpus². The two prefix joins key on
    * high-cardinality doc ids (AQE-skew-safe); nothing here is pair-mass
    * beyond what q27 already bounded via bucket caps. Determinism: edit
    * distance is an integer; the one division rounds to 6dp. */
  def editVerify(docs: DataFrame): DataFrame = {
    val pref = docs.select(col("doc_id"), substring(col("text"), 1, 64).as("p"))
    val cands = lshCandidatePairs(docs)
    val dist = levenshtein(col("pa"), col("pb"))
    val mx = greatest(length(col("pa")), length(col("pb")))
    cands
      .join(pref.select(col("doc_id").as("doc_a"), col("p").as("pa")), Seq("doc_a"))
      .join(pref.select(col("doc_id").as("doc_b"), col("p").as("pb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("n_shared_bands"),
        dist.as("edit_dist"),
        when(mx === 0, lit(1.0))
          .otherwise(round(lit(1.0) - dist.cast("double") / mx, 6))
          .as("edit_sim"))
      .orderBy("doc_a", "doc_b")
  }

  val q138EditVerify: Q = (s, d) => editVerify(documents(s, d))
  val q138Sql: String =
    s"""WITH $duckShingles,
       |dsh AS (SELECT DISTINCT doc_id, sh FROM shing),
       |sig AS (
       |  SELECT doc_id, CAST(seed AS INT) AS seed,
       |    MIN(md5(CAST(seed AS VARCHAR) || ':' || sh)) AS minhash
       |  FROM dsh, range(0, 16) r(seed) GROUP BY doc_id, seed),
       |bands AS (
       |  SELECT doc_id, CAST(seed // 4 AS INT) AS band,
       |    md5(string_agg(lpad(CAST(seed AS VARCHAR), 2, '0') || '=' || minhash, '|'
       |        ORDER BY lpad(CAST(seed AS VARCHAR), 2, '0') || '=' || minhash)) AS band_key
       |  FROM sig GROUP BY doc_id, CAST(seed // 4 AS INT)),
       |rbands AS (
       |  SELECT doc_id, band, band_key,
       |    ROW_NUMBER() OVER (PARTITION BY band, band_key ORDER BY doc_id) AS rn
       |  FROM bands),
       |cand AS (
       |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, COUNT(*) AS n_shared_bands
       |  FROM rbands x JOIN rbands y
       |    ON x.band = y.band AND x.band_key = y.band_key AND x.doc_id < y.doc_id
       |       AND y.rn <= x.rn + $DefaultCandidateCap
       |  GROUP BY 1, 2),
       |pref AS (SELECT doc_id, substr(text, 1, 64) AS p FROM documents)
       |SELECT doc_a, doc_b, n_shared_bands,
       |  levenshtein(pa.p, pb.p) AS edit_dist,
       |  CASE WHEN GREATEST(length(pa.p), length(pb.p)) = 0 THEN 1.0
       |       ELSE ROUND(1.0 - CAST(levenshtein(pa.p, pb.p) AS DOUBLE)
       |                  / GREATEST(length(pa.p), length(pb.p)), 6)
       |  END AS edit_sim
       |FROM cand
       |JOIN pref pa ON pa.doc_id = doc_a
       |JOIN pref pb ON pb.doc_id = doc_b
       |ORDER BY doc_a, doc_b""".stripMargin

  val queries: Map[String, Q] = Map(
    "q24_dedup_exact" -> q24DedupExact,
    "q25_ngram_jaccard" -> q25NgramJaccard,
    "q133_containment" -> q133Containment,
    "q134_winnowing" -> q134Winnowing,
    "q135_sketch_calibration" -> q135SketchCalibration,
    "q26_minhash_signatures" -> q26MinhashSignatures,
    "q27_lsh_pairs" -> q27LshPairs,
    "q28_simhash" -> q28Simhash,
    "q64_hamming_profile" -> q64HammingProfile,
    "q42_dedup_clusters" -> q42DedupClusters,
    "q49_decontaminate" -> q49Decontaminate,
    "q127_bloom_decontam" -> q127BloomDecontam,
    "q59_source_overlap" -> q59SourceOverlap,
    "q60_chunk_dedup" -> q60ChunkDedup,
    "q137_cdc_chunks" -> q137CdcChunks,
    "q138_edit_verify" -> q138EditVerify,
    "q84_lsh_fast" -> q84LshPairsFast,
    "q92_dedup_clusters_fast" -> q92DedupClustersFast,
    "q95_dedup_against_index" -> q95DedupAgainstIndex,
    "q146_cluster_split" -> q146ClusterSplit,
  )
  val oracle: Map[String, String] = Map(
    "q24_dedup_exact" -> q24Sql,
    "q25_ngram_jaccard" -> q25Sql,
    "q133_containment" -> q133Sql,
    "q134_winnowing" -> q134Sql,
    "q135_sketch_calibration" -> q135Sql,
    "q26_minhash_signatures" -> q26Sql,
    "q27_lsh_pairs" -> q27Sql,
    "q28_simhash" -> q28Sql,
    "q64_hamming_profile" -> q64Sql,
    "q42_dedup_clusters" -> q42Sql,
    "q49_decontaminate" -> q49Sql,
    "q127_bloom_decontam" -> q127Sql,
    "q59_source_overlap" -> q59Sql,
    "q60_chunk_dedup" -> q60Sql,
    "q137_cdc_chunks" -> q137Sql,
    "q138_edit_verify" -> q138Sql,
    "q95_dedup_against_index" -> q95Sql,
    "q146_cluster_split" -> q146Sql,
  )
}
