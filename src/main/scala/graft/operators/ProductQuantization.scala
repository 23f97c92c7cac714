package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization for embedding columns — the memory-scale path for
  * similarity search at 100 TB. A 64-dim float vector is 256 bytes; its PQ
  * code is `m` bytes (one centroid id per subspace), a 16× cut at m=16,
  * which is what lets a 10¹⁰-vector corpus's search structure fit a
  * cluster's RAM. Search is asymmetric-distance (ADC): per query, one tiny
  * m×k lookup table of subspace distances, then each candidate's distance
  * is m table lookups — no float multiply per dimension.
  *
  * Pipeline shape (all Spark-side work is narrow or bounded):
  *  - [[train]]: codebooks fit on a content-addressed bounded SAMPLE
  *    (standard practice: quantizer training needs ~10⁵ vectors no matter
  *    the corpus size, so the driver-local Lloyd's iterations are O(sample),
  *    never O(corpus)).
  *  - [[encode]]: one compiled kernel pass over the corpus with the
  *    broadcast codebook — scan-speed, embarrassingly parallel, emits the
  *    m-byte codes that a real deployment would persist next to the ids.
  *  - [[searchTopK]]: exhaustive ADC over the codes (the FAISS IndexPQ
  *    shape) + exact float rescore of the top `refine`×k survivors from
  *    the original vectors. [[ivfPqTopK]] composes it with the coarse
  *    cell assignment to prune the scan (IVF-PQ) when even the code scan
  *    is too much.
  *
  * Everything is seed-deterministic (content-addressed sampling, farthest-
  * point init, fixed iteration count) so results are reproducible across
  * runs and cluster layouts — same policy as the rest of the engine. Not
  * SQL-expressible (k-means), so the driver gate records q81 rows-only;
  * ProductQuantizationSpec pins compression, determinism, self-recall, and
  * recall@k against the brute-force oracle.
  */
object ProductQuantization {

  /** Codebook: `centroids(s)(c)` is centroid `c` of subspace `s`, a
    * `subDim`-length float slice. k ≤ 256 so a code fits one byte. */
  final case class PQCodebook(m: Int, k: Int, subDim: Int,
                              centroids: Array[Array[Array[Float]]]) {
    require(k <= 256, "one-byte codes: k must be <= 256")
    def codeBytes: Int = m
    def vectorBytes: Int = m * subDim * 4
  }

  private def sqdist(a: Array[Float], off: Int, c: Array[Float]): Double = {
    var d = 0.0
    var i = 0
    while (i < c.length) {
      val diff = a(off + i).toDouble - c(i).toDouble
      d += diff * diff
      i += 1
    }
    d
  }

  /** Train `m` codebooks of `k` centroids each on a bounded sample.
    *
    * Sampling is content-addressed (order by md5(vec_id), take sampleN):
    * deterministic, unbiased for hash-distributed ids, and stable as the
    * corpus grows — the same property the engine's split/sample queries
    * rely on. Init is farthest-point (maximin) from the seed row —
    * deterministic, no RNG stream to keep portable. A fixed 10 Lloyd's
    * iterations is plenty for quantizer quality (FAISS uses 25 on 10⁵+
    * samples); a cell emptied during an update re-seeds from the sample
    * point farthest from its assigned centroid, so no codeword goes dead. */
  def train(emb: DataFrame, m: Int = 16, k: Int = 16,
            sampleN: Int = 2048): PQCodebook = {
    val sample = trainingSample(emb, sampleN)
    val dim = sample(0).length
    require(dim % m == 0, s"dim $dim must divide into m=$m subspaces")
    val subDim = dim / m
    val kEff = math.min(k, sample.length)
    PQCodebook(m, kEff, subDim, lloydBooks(sample, m, kEff, subDim))
  }

  /** Content-addressed bounded training sample (order by md5(vec_id),
    * take sampleN): deterministic, unbiased for hash-distributed ids,
    * stable as the corpus grows. */
  private def trainingSample(emb: DataFrame, sampleN: Int): Array[Array[Float]] = {
    val sample: Array[Array[Float]] = emb
      .select(col("vec_id"), col("embedding"))
      .withColumn("h", md5(col("vec_id").cast("string")))
      .orderBy("h").limit(sampleN)
      .select("embedding").collect()
      .map(_.getSeq[Float](0).toArray)
    require(sample.nonEmpty, "PQ training needs a non-empty corpus")
    sample
  }

  /** The farthest-point-init + Lloyd's core, per subspace, with no code-
    * width restriction — [[train]] wraps it into a byte-coded
    * [[PQCodebook]] (k ≤ 256); [[trainCoarse]] calls it directly because
    * coarse cell ids are ints, not byte codes, and the adaptiveNList
    * contract regularly needs more than 256 cells. */
  private def lloydBooks(sample: Array[Array[Float]], m: Int, kEff: Int,
                         subDim: Int): Array[Array[Array[Float]]] = {
    val books = Array.tabulate(m) { s =>
      val off = s * subDim
      // farthest-point init: centroid 0 = sample 0; each next centroid is
      // the sample point maximizing distance to its nearest chosen centroid
      val cents = new Array[Array[Float]](kEff)
      cents(0) = java.util.Arrays.copyOfRange(sample(0), off, off + subDim)
      val minD = Array.fill(sample.length)(Double.MaxValue)
      var c = 1
      while (c < kEff) {
        var far = -1
        var farD = -1.0
        var i = 0
        while (i < sample.length) {
          val d = math.min(minD(i), sqdist(sample(i), off, cents(c - 1)))
          minD(i) = d
          if (d > farD) { farD = d; far = i }
          i += 1
        }
        cents(c) = java.util.Arrays.copyOfRange(sample(far), off, off + subDim)
        c += 1
      }
      // Lloyd's iterations
      var iter = 0
      while (iter < 10) {
        val sums = Array.fill(kEff, subDim)(0.0)
        val counts = new Array[Int](kEff)
        val assignD = new Array[Double](sample.length)
        var i = 0
        while (i < sample.length) {
          var best = 0
          var bestD = Double.MaxValue
          var cc = 0
          while (cc < kEff) {
            val d = sqdist(sample(i), off, cents(cc))
            if (d < bestD) { bestD = d; best = cc }
            cc += 1
          }
          counts(best) += 1
          assignD(i) = bestD
          var j = 0
          while (j < subDim) { sums(best)(j) += sample(i)(off + j); j += 1 }
          i += 1
        }
        var cc = 0
        while (cc < kEff) {
          if (counts(cc) > 0) {
            var j = 0
            while (j < subDim) {
              cents(cc)(j) = (sums(cc)(j) / counts(cc)).toFloat
              j += 1
            }
          } else {
            // dead codeword: re-seed from the sample point farthest from
            // its assigned centroid (deterministic — farthest first, ties
            // to the lowest index; each point consumed once per pass)
            var far = -1
            var farD = -1.0
            var ii = 0
            while (ii < sample.length) {
              if (assignD(ii) > farD) { farD = assignD(ii); far = ii }
              ii += 1
            }
            cents(cc) = java.util.Arrays.copyOfRange(sample(far), off, off + subDim)
            assignD(far) = -1.0
          }
          cc += 1
        }
        iter += 1
      }
      cents
    }
    books
  }

  /** Coarse quantizer for IVF cell assignment: `nList` full-vector
    * centroids from the SAME deterministic sampled-Lloyd's trainer as the
    * PQ codebooks — [[lloydBooks]] with m=1 is exactly a full-vector
    * k-means (one "subspace" spanning all dims), called directly rather
    * than through [[train]] because coarse cell ids are ints, not one-byte
    * PQ codes: the adaptiveNList contract regularly wants nList > 256
    * (1M vectors at targetCell=500 is 2000 cells), and the byte-width
    * `require` in PQCodebook must not cap it (the round-11 churn soak hit
    * exactly that at 150k vectors). Replaces the former Spark-ML
    * KMeans fit: content-addressed sampling, farthest-point init, fixed
    * iterations — a pure function of the corpus, no RNG stream, and no
    * Kryo/JDK-module surface (the engine's last `--add-opens`-sensitive
    * path, SOAK.md round-8 finding 3). The sample is widened to 4×nList
    * when the default 2048 would under-determine the centroids (FAISS's
    * train-on-a-sample policy; driver cost O(sample·nList·dim·iters),
    * bounded by the 4096 nList clamp). */
  def trainCoarse(emb: DataFrame, nList: Int, sampleN: Int = 2048): Array[Array[Float]] = {
    val sample = trainingSample(emb, math.max(sampleN, 4 * nList))
    val dim = sample(0).length
    lloydBooks(sample, m = 1, kEff = math.min(nList, sample.length), subDim = dim)(0)
  }

  /** The IVF sizing contract, made executable: nList grows with the
    * corpus so |cell| ≈ targetCell stays FIXED as data scales — the
    * property every O(N·|cell|) claim in the cell-bounded family
    * (q102/q103/q105, q126) rests on. A fixed nList at 100× the data
    * makes those self-joins quadratic again (the round-9 soak measured
    * exactly that before this existed: 100k vectors at nList=16 is
    * 6 250-vector cells). Deterministic: a pure function of the corpus
    * count, clamped to [minList, 4096]. */
  def adaptiveNList(emb: DataFrame, targetCell: Int = 500,
                    minList: Int = 16): Int =
    math.min(4096,
      math.max(minList, math.ceil(emb.count().toDouble / targetCell).toInt))

  /** Assign every vector to its nearest coarse centroid — one narrow
    * compiled pass with the broadcast centroid table (nList × dim floats,
    * tiny at any corpus scale). Output: (vec_id, cell). At rest a real
    * deployment partitions/buckets the corpus BY this cell id so a probe
    * touches nProbe/nList of the data. */
  def assignCells(emb: DataFrame, cents: Array[Array[Float]]): DataFrame =
    emb.select(col("vec_id"),
      cellExpr(emb.sparkSession, cents)(col("embedding")).as("cell"))

  /** Nearest-coarse-centroid id as a reusable function over an embedding
    * column — lets callers compute the cell inline on a frame they are
    * already scanning instead of joining [[assignCells]]' output back. */
  def cellExpr(spark: org.apache.spark.sql.SparkSession,
               cents: Array[Array[Float]]): org.apache.spark.sql.expressions.UserDefinedFunction = {
    val bc = spark.sparkContext.broadcast(cents)
    udf { (v: Seq[Float]) =>
      val cs = bc.value
      val arr = v.toArray
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < cs.length) {
        val d = sqdist(arr, 0, cs(c))
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      best
    }
  }

  /** Nearest and second-nearest coarse cell with their squared distances,
    * in one pass — the kernel the q140 silhouette audit needs (a = own-
    * centroid distance, b = runner-up). Tie rule matches [[cellExpr]] and
    * the oracle's `ORDER BY d, c`: equal distances break to the lower
    * cell id. Same accumulation arithmetic as [[sqdist]], so it is
    * bit-compatible with the q102/q105 oracle distance chain. */
  def nearest2Expr(spark: org.apache.spark.sql.SparkSession,
                   cents: Array[Array[Float]]): org.apache.spark.sql.expressions.UserDefinedFunction = {
    require(cents.length >= 2, s"nearest2 needs >= 2 centroids, got ${cents.length}")
    val bc = spark.sparkContext.broadcast(cents)
    udf { (v: Seq[Float]) =>
      val cs = bc.value
      val arr = v.toArray
      var best = 0; var bestD = Double.MaxValue
      var secD = Double.MaxValue
      var c = 0
      while (c < cs.length) {
        val d = sqdist(arr, 0, cs(c))
        if (d < bestD) { secD = bestD; bestD = d; best = c }
        else if (d < secD) secD = d
        c += 1
      }
      (best, bestD, secD)
    }
  }

  /** The `nProbe` nearest coarse cells as a reusable function over an
    * embedding column — the PER-ROW form of [[probeCells]], for callers
    * whose "query set" is the whole corpus (e.g. the q103 kNN graph)
    * where a driver-side probe table is impossible. Distance ties broken
    * by cell id, same as the driver-side form. */
  def probeExpr(spark: org.apache.spark.sql.SparkSession,
                cents: Array[Array[Float]], nProbe: Int): org.apache.spark.sql.expressions.UserDefinedFunction = {
    val bc = spark.sparkContext.broadcast(cents)
    udf { (v: Seq[Float]) =>
      val cs = bc.value
      val arr = v.toArray
      cs.indices.map(i => (i, sqdist(arr, 0, cs(i))))
        .sortBy { case (i, d) => (d, i) }.take(nProbe).map(_._1).toArray
    }
  }

  /** Per-query probe list: the `nProbe` nearest coarse cells, computed
    * driver-side (centroid table is tiny), distance ties broken by cell
    * id for determinism. */
  private[graft] def probeCells(queryVecs: Seq[(Long, Array[Float])],
                                cents: Array[Array[Float]],
                                nProbe: Int): Seq[(Long, Int)] =
    queryVecs.flatMap { case (qid, qv) =>
      cents.zipWithIndex
        .map { case (c, i) => (i, sqdist(qv, 0, c)) }
        .sortBy { case (i, d) => (d, i) }.take(nProbe)
        .map { case (cell, _) => (qid, cell) }
    }

  /** Encode every vector to its m-byte PQ code: per subspace, the id of
    * the nearest centroid. One narrow compiled pass with the broadcast
    * codebook — no shuffle, O(m·k·subDim) per row. Output:
    * (vec_id, code: Array[Byte]). */
  def encode(emb: DataFrame, book: PQCodebook): DataFrame = {
    val bc = emb.sparkSession.sparkContext.broadcast(book)
    val enc = udf { (v: Seq[Float]) =>
      val b = bc.value
      val arr = v.toArray
      val code = new Array[Byte](b.m)
      var s = 0
      while (s < b.m) {
        val off = s * b.subDim
        var best = 0
        var bestD = Double.MaxValue
        var c = 0
        while (c < b.k) {
          val d = sqdist(arr, off, b.centroids(s)(c))
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        code(s) = best.toByte
        s += 1
      }
      code
    }
    emb.select(col("vec_id"), enc(col("embedding")).as("code"))
  }

  /** ADC top-k: for each query id, scan the codes with the query's m×k
    * distance table (broadcast; |queries|·m·k floats), keep the
    * `refine`×k best by approximate distance, exact-rescore those from
    * the original embeddings, return the true-distance top-k.
    *
    * Scale shape: the code scan is the whole corpus — that's IndexPQ by
    * construction (compose with IVF cells to prune); per-query state is
    * ONE broadcast table, the rank windows operate on refine×k rows per
    * query, and the rescore join touches only candidates. */
  def searchTopK(emb: DataFrame, codes: DataFrame, book: PQCodebook,
                 queryIds: Seq[Long], k: Int, refine: Int = 4): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val qdf = broadcast(queryIds.toDF("query_id"))
    searchOverCandidates(emb, codes.crossJoin(qdf), book, queryIds, k, refine)
  }

  /** IVF-PQ: the two scale levers together — IVF cells prune the scan
    * (only `nProbe` of `nList` cells are read per query), PQ codes shrink
    * what's scanned 16×. This is the configuration a 10¹⁰-vector corpus
    * actually runs; `searchTopK` alone is the exhaustive fallback.
    *
    * Codes are trained on RAW vectors (FAISS IndexIVFPQ with
    * by_residual=false): one codebook serves every cell, so cell count and
    * codebook train independently — at the cost of some per-cell
    * resolution. Cell assignment comes from the engine's OWN deterministic
    * coarse quantizer ([[trainCoarse]] + [[assignCells]]); the candidate
    * scan is cell-partition-pruned by the broadcast (query, cell) probe
    * list, then ADC + exact
    * rescore as in [[searchTopK]].
    *
    * A query may return FEWER than k rows when its nProbe probed cells
    * hold fewer than k non-query vectors (tiny corpora, skewed k-means
    * cells) — inherent to IVF pruning, same as FAISS: unprobed cells are
    * invisible by design. Raise nProbe (or fall back to [[searchTopK]])
    * when exact k matters more than the pruning. */
  def ivfPqTopK(emb: DataFrame, book: PQCodebook, queryIds: Seq[Long],
                k: Int, nList: Int = -1, nProbe: Int = 4,
                refine: Int = 4,
                // externally supplied coarse centroids (the WithCents form
                // of the rest of the IVF family — lets the q83 gate run on
                // the SQL-expressible grid quantizer); None → trainCoarse
                coarse: Option[Array[Array[Float]]] = None): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    // nList ≤ 0 → the adaptive sizing contract: per-query probe cost is
    // nProbe·|cell|, so a FIXED nList makes every probe linear in the
    // corpus — same defect class as the q103 soak finding
    val nl = if (nList > 0) nList else adaptiveNList(emb)
    val cents = coarse.getOrElse(trainCoarse(emb, nl))
    val assigned = assignCells(emb, cents)
    val queryVecs = emb.filter(col("vec_id").isInCollection(queryIds))
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
    val probeDF = broadcast(
      probeCells(queryVecs, cents, nProbe).toDF("query_id", "cell"))
    val cellCodes = encode(emb, book).join(assigned, "vec_id")
    searchOverCandidates(emb,
      cellCodes.join(probeDF, "cell").select("query_id", "vec_id", "code"),
      book, queryIds, k, refine)
  }

  /** ADC + exact rescore over a prepared (query_id, vec_id, code)
    * candidate set — shared tail of [[searchTopK]] (candidates = whole
    * corpus × queries) and [[ivfPqTopK]] (candidates = probed cells). */
  private def searchOverCandidates(emb: DataFrame, cand0: DataFrame,
                                   book: PQCodebook, queryIds: Seq[Long],
                                   k: Int, refine: Int): DataFrame = {
    val spark = emb.sparkSession
    val queryVecs: Map[Long, Array[Float]] = emb
      .filter(col("vec_id").isInCollection(queryIds))
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    // fail fast on the driver: an id missing from emb would otherwise
    // surface as an opaque NoSuchElementException inside an executor task
    require(queryIds.forall(queryVecs.contains),
      s"query ids absent from the embedding table: " +
        queryIds.filterNot(queryVecs.contains).mkString(", "))
    val tables: Map[Long, Array[Array[Double]]] = queryVecs.map {
      case (qid, qv) =>
        qid -> Array.tabulate(book.m, book.k)((s, c) =>
          sqdist(qv, s * book.subDim, book.centroids(s)(c)))
    }
    val bc = spark.sparkContext.broadcast(tables)
    val adc = udf { (qid: Long, code: Array[Byte]) =>
      val t = bc.value(qid)
      var d = 0.0
      var s = 0
      while (s < t.length) { d += t(s)(code(s) & 0xff); s += 1 }
      d
    }
    val cand = cand0
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("approx_d", adc(col("query_id"), col("code")))
    val wApprox = Window.partitionBy("query_id").orderBy(col("approx_d"), col("vec_id"))
    val survivors = cand
      .withColumn("ark", row_number().over(wApprox))
      .filter(col("ark") <= k * refine)
      .select(col("query_id"), col("vec_id"))
    val exact = udf { (qid: Long, v: Seq[Float]) =>
      val q = queryVecs(qid)
      var d = 0.0
      var i = 0
      while (i < q.length) {
        val diff = q(i).toDouble - v(i).toDouble
        d += diff * diff
        i += 1
      }
      d
    }
    val wExact = Window.partitionBy("query_id").orderBy(col("d2"), col("vec_id"))
    survivors.join(emb.select(col("vec_id"), col("embedding")), "vec_id")
      .withColumn("d2", exact(col("query_id"), col("embedding")))
      .withColumn("rk", row_number().over(wExact))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("vec_id").as("target_id"),
        round(col("d2"), 6).as("d2"), col("rk"))
      .orderBy("query_id", "rk")
  }

  /** Deterministic GRID codebook — the PQ twin of
    * the sampled coarse quantizer ([[SemanticDedup.sampledCentroids]]; different construction so codebook and
    * coarse quantizer never coincide): centroid (s, c), dim i =
    * ((s·53 + c·37 + i·11) mod 17 − 8) / 4, exact in FLOAT and pure SQL
    * arithmetic. What the grid-codebook gates then prove hash-exactly is
    * the PQ MACHINERY — per-subspace argmin encoding, the ADC
    * distance-table scan, refine-window survivor selection, exact
    * rescoring — while codebook TRAINING keeps its own spec evidence
    * (ProductQuantizationSpec: recall vs brute force, determinism,
    * compression). */
  def gridCodebook(m: Int, k: Int, subDim: Int): PQCodebook =
    PQCodebook(m, k, subDim, Array.tabulate(m, k, subDim)(
      (s, c, i) => ((s * 53 + c * 37 + i * 11) % 17 - 8) / 4.0f))

  private[graft] def gatePanel(emb: DataFrame): Seq[Long] =
    emb.select(col("vec_id"))
      .withColumn("h", md5(col("vec_id").cast("string")))
      .orderBy("h").limit(8).collect().map(_.getLong(0)).toSeq

  /** q81: the driver-gate entry — encode everything under the
    * SQL-expressible [[gridCodebook]], ADC top-5 for a fixed
    * content-addressed query panel; hash-exact vs a DuckDB oracle that
    * replays encode/ADC/refine/rescore term for term (r11 — previously
    * rows-only; trained codebooks stay spec-gated). */
  val q81PqAnn: (org.apache.spark.sql.SparkSession, String) => DataFrame =
    (s, d) => {
      val emb = graft.Tables.embeddings(s, d).cache()
      val qids = gatePanel(emb)
      val dim = emb.select(size(col("embedding"))).head().getInt(0)
      val book = gridCodebook(m = 16, k = 16, subDim = dim / 16)
      val out = searchTopK(emb, encode(emb, book), book, qids, k = 5)
      // materialize before releasing the parent cache (a barrier, not a
      // cache(): see StageMaterialize on plan-keyed caches and the bench)
      val pinned = StageMaterialize(out)
      emb.unpersist()
      pinned
    }

  /** q83: the IVF-PQ gate entry: same content-addressed query panel as
    * q81, but served by [[ivfPqTopK]] — cell-pruned ADC instead of the
    * exhaustive code scan, under the grid codebook AND the grid coarse
    * quantizer, so the whole two-level structure is oracle-replayable
    * (hash-exact since r11). This is the configuration a 10¹⁰-vector
    * deployment actually runs; gating it keeps the scale path, not just
    * the oracle fallback, under the driver's per-round check. */
  val q83IvfPqAnn: (org.apache.spark.sql.SparkSession, String) => DataFrame =
    (s, d) => {
      val emb = graft.Tables.embeddings(s, d).cache()
      val qids = gatePanel(emb)
      val dim = emb.select(size(col("embedding"))).head().getInt(0)
      val book = gridCodebook(m = 16, k = 16, subDim = dim / 16)
      val nl = adaptiveNList(emb)
      val out = ivfPqTopK(emb, book, qids, k = 5,
        coarse = Some(SemanticDedup.refinedCentroids(emb, nl)))
      // same discipline as q81
      val pinned = StageMaterialize(out)
      emb.unpersist()
      pinned
    }
}
