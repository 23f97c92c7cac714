package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SharedSpark

/** Correctness evidence for the q103 kNN graph (rows-only in the driver
  * gate): recall against the exact brute-force graph on real sf0.001
  * embeddings, exhaustive-probe exactness, determinism, and shape
  * invariants (no self-edges, contiguous ranks, bounded degree).
  */
class KnnGraphSpec extends AnyFunSuite with SharedSpark {

  private val dir = "/root/testdata/sf0.001"
  private val k = 5

  private def cos(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  private lazy val vecs: Map[Long, Array[Float]] =
    graft.Tables.embeddings(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap

  /** exact top-k neighbor ids per vector, ties broken (sim desc, id asc)
    * to 6dp — the operator's own tie policy */
  private lazy val exact: Map[Long, Seq[Long]] = vecs.map { case (id, v) =>
    id -> vecs.view.filterKeys(_ != id).toSeq
      .map { case (oid, ov) =>
        (oid, BigDecimal(cos(v, ov)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
      .sortBy { case (oid, s) => (-s, oid) }.take(k).map(_._1)
  }

  test("exhaustive probing (nProbe = nList) reproduces the exact graph") {
    val out = KnnGraph.knnEdges(graft.Tables.embeddings(spark, dir),
        k, nList = 8, nProbe = 8).collect()
      .map(r => (r.getLong(0), r.getInt(3), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    assert(out.keySet == vecs.keySet)
    vecs.keys.foreach { id =>
      assert(out(id) == exact(id), s"vec $id: ${out(id)} != ${exact(id)}")
    }
  }

  test("multi-probe recall@5 clears the floor and edges are well-formed") {
    val edges = KnnGraph.knnEdges(graft.Tables.embeddings(spark, dir),
        k, nList = 8, nProbe = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    // shape: no self-edges, ranks contiguous from 1, degree <= k, sims sorted
    edges.foreach { case (s, n, _, _) => assert(s != n) }
    edges.groupBy(_._1).foreach { case (src, es) =>
      val sorted = es.sortBy(_._4)
      assert(sorted.map(_._4).toList == (1 to es.length).toList)
      assert(es.length <= k)
      assert(sorted.map(_._3).zip(sorted.map(_._3).drop(1)).forall { case (a, b) => a >= b })
    }
    // recall vs exact graph: IVF multi-probe misses only unprobed cells
    val got = edges.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val hits = vecs.keys.toSeq.map { id =>
      exact(id).count(got.getOrElse(id, Set.empty).contains).toDouble / k
    }
    val recall = hits.sum / hits.size
    info(f"recall@5 nList=8 nProbe=3: $recall%.3f")
    assert(recall >= 0.55, f"recall $recall%.3f below floor")
  }

  test("nn-descent: recall uplift over the base graph at bounded candidate cost, deterministic") {
    val emb = graft.Tables.embeddings(spark, dir)
    val n = vecs.size
    def recallOf(edges: Map[Long, Set[Long]]): Double =
      vecs.keys.toSeq.map { id =>
        exact(id).count(edges.getOrElse(id, Set.empty).contains).toDouble / k
      }.sum / n
    def toSetMap(rows: Array[org.apache.spark.sql.Row]): Map[Long, Set[Long]] =
      rows.map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
        .view.mapValues(_.map(_._2).toSet).toMap

    // deliberately starved base graph: one probe only. A pure
    // single-probe graph is CLOSED under 2-hop expansion (every neighbor
    // shares the source's cell, so neighbors-of-neighbors do too) —
    // descent WITHOUT a random seed must return it bit-for-bit. This is
    // the Dong et al. rationale for random initialization, pinned.
    val base1 = KnnGraph.knnEdges(emb, k, nList = 8, nProbe = 1)
    val base1Set = toSetMap(base1.collect())
    val rBase1 = recallOf(base1Set)
    val unseeded = toSetMap(KnnGraph.nnDescent(emb, base1, k, rounds = 2).collect())
    assert(unseeded == base1Set,
      "descent over an intra-cell-only graph must be a fixed point")

    // with the content-addressed random seed, descent escapes the cells
    val refined = KnnGraph.nnDescent(emb, base1, k, rounds = 2, randomBuckets = 2)
    val rRefined = recallOf(toSetMap(refined.collect()))
    // the standard recall lever for comparison: double the probes instead
    val rBase2 = recallOf(toSetMap(KnnGraph.knnEdges(emb, k, nList = 8, nProbe = 2).collect()))
    info(f"recall@5: nProbe=1 $rBase1%.3f -> seeded 2-round descent $rRefined%.3f (nProbe=2: $rBase2%.3f)")
    assert(rRefined > rBase1, f"descent must lift recall: $rBase1%.3f -> $rRefined%.3f")
    assert(rRefined >= rBase2 - 1e-9,
      f"seeded descent from nProbe=1 must reach at least the nProbe=2 recall ($rRefined%.3f vs $rBase2%.3f)")

    // cost contract: the per-round candidate set is bounded by (2k)^2 * N
    // (neighbors-of-neighbors over the undirected degree-<=2k graph) —
    // independent of nList/|cell|, which is why a round beats doubling
    // nProbe at the production targetCell=500 ((2k)^2=100 < nProbe*500)
    val und = base1.select(col("src_id"), col("nbr_id"))
      .union(base1.select(col("nbr_id").as("src_id"), col("src_id").as("nbr_id")))
    val candCount = und.as("a").join(und.as("b"), col("a.nbr_id") === col("b.src_id"))
      .filter(col("a.src_id") =!= col("b.nbr_id"))
      .select(col("a.src_id"), col("b.nbr_id")).distinct().count()
    assert(candCount <= 4L * k * k * n,
      s"candidate set $candCount exceeded the (2k)^2*N = ${4L * k * k * n} bound")

    // determinism and shape (seed buckets are content-addressed)
    val again = KnnGraph.nnDescent(emb, base1, k, rounds = 2, randomBuckets = 2)
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    assert(refined.collect().map(_.toSeq).sortBy(_.toString).toSeq == again)
    again.map(r => (r(0).asInstanceOf[Long], r(3).asInstanceOf[Int]))
      .groupBy(_._1).values.foreach { rks =>
        assert(rks.map(_._2).sorted.toList == (1 to rks.length).toList)
        assert(rks.length <= k)
      }
  }

  test("q125 gate form: refinement dominance over its base graph, well-formed, deterministic") {
    // the md5-seeded gate form (the DuckDB oracle's twin). Dominance:
    // descent's candidate set is a superset of the base edges, so for
    // every source the refined i-th sim must be >= the base i-th sim.
    val q125 = KnnGraph.q125NnDescent()(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    val emb = graft.Tables.embeddings(spark, dir)
    val nl = ProductQuantization.adaptiveNList(emb)
    val base = KnnGraph.knnEdgesWithCents(emb,
        SemanticDedup.refinedCentroids(emb, nl), k, nProbe = 1).collect()
      .map(r => (r.getLong(0), r.getDouble(2), r.getInt(3)))
    val baseSims = base.groupBy(_._1).view
      .mapValues(_.sortBy(_._3).map(_._2).toSeq).toMap
    val refSims = q125.groupBy(_._1).view
      .mapValues(_.sortBy(_._4).map(_._3).toSeq).toMap
    assert(refSims.keySet == vecs.keySet)
    refSims.foreach { case (src, sims) =>
      val bs = baseSims.getOrElse(src, Seq.empty)
      bs.zip(sims).foreach { case (b, r) =>
        assert(r >= b - 1e-9, s"vec $src: refined sim $r < base $b")
      }
      assert(sims.length >= bs.length)
    }
    // shape + determinism
    q125.foreach { case (s, n, _, _) => assert(s != n) }
    q125.groupBy(_._1).values.foreach { es =>
      assert(es.map(_._4).sorted.toList == (1 to es.length).toList)
      assert(es.length <= k)
    }
    val again = KnnGraph.q125NnDescent()(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
    assert(q125.toSeq == again)
  }

  test("semantic clusters: two constructed blobs resolve to exactly two multi-vector components") {
    import spark.implicits._
    // two tight blobs (mutually cosine ~1 inside, ~0 across) + one isolate
    def j(base: Array[Float], d: Float, id: Long) =
      (id, base.zipWithIndex.map { case (v, i) => v + (if (i == 1) d else 0f) }, 0)
    val b1 = Array(10f, 0f, 0f, 0f); val b2 = Array(0f, 0f, 10f, 0f)
    val emb = Seq(
      j(b1, 0f, 1L), j(b1, 0.1f, 2L), j(b1, 0.2f, 3L),
      j(b2, 0f, 11L), j(b2, 0.1f, 12L),
      (21L, Array(0f, 0f, 0f, 7f), 0)).toDF("vec_id", "embedding", "label")
    val out = KnnGraph.semanticClusters(emb, k = 3, nList = 2, nProbe = 2, tau = 0.9)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.keySet == Set(1L, 2L, 3L, 11L, 12L, 21L))
    assert(Set(out(1L), out(2L), out(3L)).size == 1, "blob 1 is one component")
    assert(Set(out(11L), out(12L)).size == 1, "blob 2 is one component")
    assert(out(1L) == 1L && out(11L) == 11L, "labels are component-min vec_ids")
    assert(out(21L) == 21L, "the isolate is its own singleton")
    assert(out(1L) != out(11L))
  }

  test("diversity sample: quota per cluster, singleton survival, total coverage") {
    val out = KnnGraph.queries("q107_diversity_sample")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val clusters = KnnGraph.queries("q105_semantic_clusters")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val sizes = clusters.groupBy(_._2).view.mapValues(_.length).toMap
    // every cluster contributes min(size, 3) members with contiguous ranks
    val byComp = out.groupBy(_._2)
    assert(byComp.keySet == sizes.keySet, "a cluster vanished from the sample")
    byComp.foreach { case (comp, members) =>
      assert(members.length == math.min(sizes(comp), 3), s"cluster $comp quota")
      assert(members.map(_._3).sorted.toList == (1 to members.length).toList)
    }
    // selection is the content-addressed key: re-running is identical
    val again = KnnGraph.queries("q107_diversity_sample")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(out.sortBy(_._1).toSeq == again.sortBy(_._1).toSeq)
  }

  test("deterministic across runs") {
    val run = () => KnnGraph.knnEdges(graft.Tables.embeddings(spark, dir),
        k, nList = 8, nProbe = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .sortBy(t => (t._1, t._4))
    assert(run().toSeq == run().toSeq)
  }
}
