package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SharedSpark

/** Adversarial-scale properties of the dedup kernels (VERDICT r3 asks #5
  * and #6): candidate caps bound the quadratic blow-up on degenerate
  * corpora without changing gate-scale output, and decontamination's two
  * plans agree.
  */
class DedupCapSpec extends AnyFunSuite with SharedSpark {
  private val sf = "/root/testdata/sf0.001"

  override def afterAll(): Unit = {
    spark.catalog.clearCache()
    super.afterAll()
  }

  /** N byte-identical documents — every (source, shingle) block and every
    * LSH band bucket degenerates to the full corpus. */
  private def identicalDocs(n: Int): DataFrame = {
    val sp = spark
    import sp.implicits._
    val text = "the quick brown fox jumps over the lazy dog again and again"
    (1L to n.toLong).map(i => (i, "web", text)).toDF("doc_id", "source", "text")
  }

  private def chainPairCount(n: Int, cap: Int): Long =
    (1 to cap).map(d => math.max(0, n - d).toLong).sum

  test("LSH bucket cap: N identical docs yield O(N·cap) candidates, not O(N²)") {
    val n = 40
    val cap = 4
    val capped = DedupOps.lshCandidatePairs(identicalDocs(n), bucketCap = cap).collect()
    assert(capped.length == chainPairCount(n, cap),
      s"expected ${chainPairCount(n, cap)} chained candidates, got ${capped.length}")
    assert(capped.length < n.toLong * (n - 1) / 4, "cap did not bound the pair blow-up")
    // surviving pairs still collide on all 4 bands
    assert(capped.forall(_.getLong(2) == 4))
  }

  test("capped candidate chain keeps the degenerate bucket one component in O(log) rounds") {
    // cap 1 on 200 identical docs → a pure chain of diameter 199; pointer
    // jumping must converge in ~log2(199)+C rounds, far under maxIter 12
    // (plain propagation would need ~199)
    val n = 200
    val sp = spark
    import sp.implicits._
    val pairs = (1L until n.toLong).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val docs = identicalDocs(n)
    // localEdgeCap = 0 forces the distributed pointer-jumping loop — the
    // scale path this test exists to pin (the default cap would route a
    // 199-edge chain through driver-local union-find)
    val comps = DedupOps.connectedComponents(docs.select("doc_id"), pairs,
        maxIter = 12, localEdgeCap = 0L)
      .select("component").distinct().collect()
    assert(comps.length == 1 && comps.head.getLong(0) == 1L,
      s"chain broke the cluster: ${comps.mkString(", ")}")
    // and the real capped LSH pair generator feeds it the same way
    val lshPairs = DedupOps.lshCandidatePairs(identicalDocs(40), bucketCap = 2)
      .select(col("doc_a"), col("doc_b"))
    val lshComps = DedupOps.connectedComponents(identicalDocs(40).select("doc_id"), lshPairs,
        maxIter = 12, localEdgeCap = 0L)
      .select("component").distinct().collect()
    assert(lshComps.length == 1 && lshComps.head.getLong(0) == 1L)
  }

  test("local union-find and distributed propagation agree on an adversarial graph") {
    val sp = spark
    import sp.implicits._
    // chain ∪ star ∪ triangle ∪ isolated pair, plus out-of-order edges so
    // union order exercises root minimality
    val edges = ((1L to 50L).sliding(2).map(s => (s(1), s(0))) ++ // reversed chain
      Seq((80L, 60L), (60L, 70L), (60L, 90L),                     // star rooted at 60
        (101L, 102L), (102L, 103L), (103L, 101L),                 // triangle
        (200L, 201L))).toSeq
    val pairs = edges.toDF("doc_a", "doc_b")
    val nodes = (1L to 210L).toDF("doc_id")
    val viaLocal = DedupOps.connectedComponents(nodes, pairs, maxIter = 20)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    val viaDistributed = DedupOps.connectedComponents(nodes, pairs, maxIter = 20,
        localEdgeCap = 0L)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(viaLocal.sameElements(viaDistributed))
    // spot: star members all label 60, chain all 1, triangle all 101
    val m = viaLocal.toMap
    assert(Seq(60L, 70L, 80L, 90L).forall(m(_) == 60L))
    assert((1L to 50L).forall(m(_) == 1L))
    assert(Seq(101L, 102L, 103L).forall(m(_) == 101L))
    assert(m(200L) == 200L && m(201L) == 200L && m(150L) == 150L)
  }

  test("Jaccard block cap: N identical docs yield the chained pair set at J=1") {
    val n = 30
    val cap = 3
    val out = DedupOps.jaccardPairs(identicalDocs(n), minJaccard = 0.2, blockCap = cap).collect()
    assert(out.length == chainPairCount(n, cap))
    assert(out.forall(_.getDouble(3) == 1.0), "identical docs must score J=1 exactly")
  }

  test("default caps leave the gate corpus bit-identical to uncapped") {
    // MaxCandidateCap is the "effectively uncapped" comparator: the one
    // candidate window collects up to cap following ids per row
    // (collect_list over a rowsBetween(1, cap) frame), so the cap is a
    // bounded blocking constant (requireCap) — and 1024 is far above
    // every block the gate corpora produce (max 6 at sf0.1, measured)
    val free = DedupOps.MaxCandidateCap
    val docs = graft.Tables.documents(spark, sf)
    val cappedJ = DedupOps.jaccardPairs(docs, 0.2)
    val freeJ = DedupOps.jaccardPairs(docs, 0.2, blockCap = free)
    assert(cappedJ.exceptAll(freeJ).isEmpty && freeJ.exceptAll(cappedJ).isEmpty)
    val cappedL = DedupOps.lshCandidatePairs(docs)
    val freeL = DedupOps.lshCandidatePairs(docs, bucketCap = free)
    assert(cappedL.exceptAll(freeL).isEmpty && freeL.exceptAll(cappedL).isEmpty)
    val emb = graft.Tables.embeddings(spark, sf)
    val cappedE = SimilarityOps.embeddingNearDupPairs(emb, 0.45)
    val freeE = SimilarityOps.embeddingNearDupPairs(emb, 0.45, bucketCap = free)
    assert(cappedE.exceptAll(freeE).isEmpty && freeE.exceptAll(cappedE).isEmpty)
    intercept[IllegalArgumentException] {
      DedupOps.jaccardPairs(docs, 0.2, blockCap = DedupOps.MaxCandidateCap + 1)
    }
  }

  /** N byte-identical 64-dim vectors — every sign-LSH band bucket
    * degenerates to the full set (q32's adversarial shape: a 6-bit band
    * has 64 keys, so real bucket sizes grow linearly with the corpus). */
  private def identicalVectors(n: Int): DataFrame = {
    val sp = spark
    import sp.implicits._
    val v = Array.tabulate(64)(i => math.sin(i + 1.0).toFloat)
    (1L to n.toLong).map(i => (i, v)).toDF("vec_id", "embedding")
  }

  test("embedding near-dup cap: N identical vectors yield O(N·cap) candidates, not O(N²)") {
    val n = 40
    val cap = 4
    val out = SimilarityOps.embeddingNearDupPairs(identicalVectors(n),
      minSim = 0.45, bucketCap = cap).collect()
    // both bands produce the same vec_id-ordered chain; distinct collapses
    // them, so the surviving pair set is exactly the cap-width chain
    assert(out.length == chainPairCount(n, cap),
      s"expected ${chainPairCount(n, cap)} chained candidates, got ${out.length}")
    assert(out.length < n.toLong * (n - 1) / 4, "cap did not bound the pair blow-up")
    assert(out.forall(_.getDouble(2) == 1.0), "identical vectors must score sim=1 exactly")
    // the chain keeps the degenerate bucket one connected component
    val sp = spark
    import sp.implicits._
    val pairs = out.map(r => (r.getLong(0), r.getLong(1))).toSeq.toDF("doc_a", "doc_b")
    val comps = DedupOps.connectedComponents((1L to n.toLong).toDF("doc_id"), pairs,
        maxIter = 12)
      .select("component").distinct().collect()
    assert(comps.length == 1 && comps.head.getLong(0) == 1L)
  }

  test("decontaminate: set-probe and join fallback produce identical rows") {
    val docs = graft.Tables.documents(spark, sf)
    val isBench = (id: org.apache.spark.sql.Column) => id % 97 === 0
    val probe = DedupOps.decontaminate(docs, isBench) // default: set-probe
    val fallback = DedupOps.decontaminate(docs, isBench, maxBroadcastShingles = 1)
    assert(probe.exceptAll(fallback).isEmpty && fallback.exceptAll(probe).isEmpty)
    // and the fallback still flags something real on this corpus
    assert(fallback.filter(col("contaminated")).count() > 0)
  }

  test("incremental index probe: dup batch docs hit their index twins, cap bounds degenerate buckets") {
    val sp = spark
    import sp.implicits._
    // index docs 1..3 distinct; batch doc 100 duplicates index doc 1,
    // batch doc 104 is novel — both hash families must report 100→1 on
    // all 4 bands and nothing for 104
    val mk = (g: Int) => (0 until 30).map(i => s"g${g}w$i").mkString(" ")
    val docs = Seq(
      (1L, mk(1)), (2L, mk(2)), (3L, mk(3)),
      (100L, mk(1)), (104L, mk(99))).toDF("doc_id", "text")
    val isBatch = (id: org.apache.spark.sql.Column) => id >= 100
    for (fast <- Seq(true, false)) {
      val got = DedupOps.dedupAgainstIndex(docs, isBatch, useFastKernel = fast)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(got.toSeq == Seq((100L, 1L, 4L)),
        s"fast=$fast: expected exactly the (100,1,all-4-bands) hit, got ${got.mkString(",")}")
    }

    // degenerate bucket: 50 identical index docs + 1 identical batch doc —
    // the cap bounds candidates to `cap` index partners, not all 50
    val cap = 4
    val degen = ((1L to 50L).map(i => (i, mk(7))) :+ (999L, mk(7)))
      .toDF("doc_id", "text")
    val probed = DedupOps.dedupAgainstIndex(degen, id => id === 999L,
      bucketCap = cap, useFastKernel = true).collect()
    assert(probed.length == cap, s"cap=$cap but ${probed.length} candidates")
    // capped survivors are the FIRST cap index docs in doc_id order —
    // deterministic, mirrored by the oracle's ROW_NUMBER
    assert(probed.map(_.getLong(1)).sorted.toSeq == (1L to cap.toLong))
  }
}
