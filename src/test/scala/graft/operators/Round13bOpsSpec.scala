package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SharedSpark

/** Round-13 second-wave operators: BM25 ranking (q136), content-defined
  * chunking dedup (q137), edit-distance candidate verification (q138),
  * and the JL-projection distortion audit (q139). Each test pins the
  * property the operator EXISTS for — BM25's saturation/normalization
  * semantics against an independent reference computation, CDC's
  * boundary re-synchronization under insertion (the property fixed-stride
  * chunking lacks), the verify stage's character-level discrimination on
  * LSH-proposed pairs, and JL's distance-preservation contract.
  */
class Round13bOpsSpec extends AnyFunSuite with SharedSpark {

  // ---------------------------------------------------------------- q136

  test("q136: BM25 matches an independent reference computation exactly") {
    val sp = spark
    import sp.implicits._
    val docs = Seq(
      (1L, "web", "apple apple apple banana"),
      (2L, "web", "apple banana cherry date elderberry fig"),
      (3L, "web", "banana cherry"),
      (4L, "web", "grape grape grape grape grape grape grape grape")
    ).toDF("doc_id", "source", "text")
    val out = HybridRetrieval.bm25(docs, panelSize = 3, topK = 10).collect()
      .map(r => r.getLong(1) -> (r.getInt(0), r.getLong(2), r.getDouble(3))).toMap

    // independent reference: same formula, straight Scala doubles
    val texts = Map(1L -> "apple apple apple banana",
      2L -> "apple banana cherry date elderberry fig",
      3L -> "banana cherry", 4L -> "grape grape grape grape grape grape grape grape")
    val toks = texts.view.mapValues(_.split("\\s+").toSeq).toMap
    val dfm = toks.values.flatMap(_.distinct).groupBy(identity).view.mapValues(_.size).toMap
    // top-3 df, tie token asc: apple(2) banana(3) cherry(2) date(1)... =>
    // banana df3, then apple/cherry df2 -> apple, cherry
    val panel = dfm.toSeq.sortBy { case (t, df) => (-df, t) }.take(3)
    val n = texts.size.toDouble
    val avgdl = toks.values.map(_.size).sum.toDouble / n
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val ref = texts.keys.flatMap { id =>
      val dl = toks(id).size.toDouble
      val cs = panel.flatMap { case (t, df) =>
        val tf = toks(id).count(_ == t).toDouble
        if (tf == 0) None
        else Some(r6(math.log(1.0 + (n - df + 0.5) / (df + 0.5)) *
          (tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)))))
      }
      if (cs.isEmpty) None else Some(id -> (cs.size.toLong, r6(cs.sum)))
    }.toMap

    assert(out.keySet == ref.keySet)
    ref.foreach { case (id, (nHit, score)) =>
      assert(out(id)._2 == nHit, s"doc $id n_terms_hit")
      assert(math.abs(out(id)._3 - score) < 1e-9,
        s"doc $id: engine ${out(id)._3} vs reference $score")
    }
    // ranks are the score-desc order, doc_id tie-broken, contiguous from 1
    val byRank = out.toSeq.sortBy(_._2._1)
    assert(byRank.map(_._2._1) == (1 to out.size))
    assert(byRank.map(_._2._3).sliding(2).forall(w => w.size < 2 || w(0) >= w(1)))
  }

  test("q136: length normalization — same tf, longer doc scores lower") {
    val sp = spark
    import sp.implicits._
    val pad = (1 to 40).map(i => s"pad$i").mkString(" ")
    val docs = Seq(
      (1L, "web", "hot hot hot"),
      (2L, "web", s"hot hot hot $pad"),
      (3L, "web", "hot other"), (4L, "web", "hot more"), (5L, "web", "hot x")
    ).toDF("doc_id", "source", "text")
    val out = HybridRetrieval.bm25(docs, panelSize = 1, topK = 10).collect()
      .map(r => r.getLong(1) -> r.getDouble(3)).toMap
    assert(out(1L) > out(2L),
      s"same tf=3 but 43-token doc must score below 3-token doc: $out")
  }

  // ---------------------------------------------------------------- q137

  test("q137: CDC chunks re-synchronize after a head insertion; fixed-stride chunks don't") {
    val sp = spark
    import sp.implicits._
    val body = (1 to 120).map(i => s"w${i * 31 % 97}x$i").mkString(" ")
    val docs = Seq(
      (1L, "web", body),
      (2L, "web", s"INSERTED $body"), // one-token head insertion
      (3L, "web", (1 to 120).map(i => s"zz$i").mkString(" "))
    ).toDF("doc_id", "source", "text")
    val ch = DedupOps.cdcChunks(docs).collect()
      .map(r => (r.getLong(0), r.getString(1))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val shared = ch(1L) & ch(2L)
    assert(shared.nonEmpty,
      "CDC boundaries are content-defined: the shifted copy must re-sync " +
        s"and share chunks (doc1 ${ch(1L).size} chunks, doc2 ${ch(2L).size})")
    // all chunks after the first boundary are shared — recall is near-total
    assert(shared.size >= ch(1L).size - 1,
      s"only the head chunk may differ: shared ${shared.size} of ${ch(1L).size}")
    assert((ch(1L) & ch(3L)).isEmpty, "disjoint content shares nothing")

    // contrast: q60's fixed 8-token stride shares NO chunk after the shift
    // (120 tokens of period-97 content, all strides shifted by one)
    def fixed(text: String): Set[String] =
      text.split("\\s+").grouped(8).filter(_.size == 8).map(_.mkString(" ")).toSet
    assert((fixed(body) & fixed(s"INSERTED $body")).isEmpty,
      "fixed-stride chunking must lose alignment under the same insertion")
  }

  test("q137: chunk partition is lossless — chunks concatenate back to the document") {
    val sp = spark
    import sp.implicits._
    val body = (1 to 100).map(i => s"t${i * 7 % 53}n$i").mkString(" ")
    val docs = Seq((1L, "web", body)).toDF("doc_id", "source", "text")
    val lens = DedupOps.cdcChunks(docs).agg(sum("chunk_len")).collect()(0).getLong(0)
    assert(lens == 100L, s"chunk lengths must sum to the token count, got $lens")
  }

  test("CDC production kernel: lossless partition, re-sync, determinism") {
    val sp = spark
    import sp.implicits._
    val body = (1 to 120).map(i => s"p${i * 29 % 89}q$i").mkString(" ")
    val docs = Seq((1L, "web", body), (2L, "web", s"HEAD $body"))
      .toDF("doc_id", "source", "text")
    val ch = DedupOps.cdcChunksFast(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    // lossless: chunk lengths sum to the token count per doc
    val sums = ch.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    assert(sums == Map(1L -> 120, 2L -> 121), sums.toString)
    // re-sync: the shifted copy shares all but its head chunk
    val h1 = ch.filter(_._1 == 1L).map(_._2).toSet
    val h2 = ch.filter(_._1 == 2L).map(_._2).toSet
    assert((h1 & h2).size >= h1.size - 1, s"${(h1 & h2).size} of ${h1.size}")
    // deterministic
    val again = DedupOps.cdcChunksFast(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(ch.sortBy(x => (x._1, x._2)).toSeq == again.sortBy(x => (x._1, x._2)).toSeq)
  }

  // ---------------------------------------------------------------- q138

  test("q138: a planted typo pair is LSH-proposed and edit-scored correctly") {
    val sp = spark
    import sp.implicits._
    val base = (1 to 30).map(i => s"tok$i").mkString(" ")   // 30 shared tokens
    val typo = base.replace("tok4", "tok#")                 // 1-char substitution
    val docs = Seq(
      (1L, "web", base), (2L, "web", typo),
      (3L, "web", (1 to 30).map(i => s"u$i").mkString(" "))
    ).toDF("doc_id", "source", "text")
    val pair = DedupOps.editVerify(docs).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getInt(3), r.getDouble(4)))).toMap
    assert(pair.contains((1L, 2L)),
      s"near-identical docs must survive LSH candidate gen: ${pair.keys}")
    val (dist, sim) = pair((1L, 2L))
    assert(dist == 1, s"one substituted char inside the 64-char prefix: $dist")
    assert(sim > 0.98, s"normalized similarity: $sim")
    assert(!pair.keys.exists { case (a, b) => a == 3L || b == 3L },
      "disjoint doc must not be proposed")
  }

  // ---------------------------------------------------------------- q139

  test("q139: JL ratios concentrate around 1 on the real corpus; zero-distance guard holds") {
    val rows = SimilarityOps.q139JlAudit(spark, "/root/testdata/sf0.01").collect()
    assert(rows.length > 100, s"sample pairs: ${rows.length}")
    val ratios = rows.map(_.getDouble(4))
    assert(ratios.forall(r => !r.isNaN && !r.isInfinite && r >= 0))
    val mean = ratios.sum / ratios.length
    // E[ratio] = 1 exactly; per-pair sd = sqrt(2/m) ~ 0.5, and the mean
    // over 700+ pairs of a FIXED deterministic sign matrix is stable
    assert(mean > 0.8 && mean < 1.25, s"mean distortion ratio $mean")
    // individual pairs stay within loose JL bounds for m=8
    assert(ratios.count(r => r > 0.05 && r < 4.0) >= (ratios.length * 0.95).toInt,
      "at least 95% of pairs within the loose m=8 envelope")
  }

  // ---------------------------------------------------------------- q140

  test("q140: silhouette flags a split cluster; well-separated cells score near 1") {
    val sp = spark
    import sp.implicits._
    def pt(base: Float): Seq[Float] = Seq.fill(64)(base)
    // one natural blob (points alternating at 0 and 0.01) that TWO nearby
    // centroids cut in half — every point lands almost equidistant to
    // both, the collapse signature — plus one isolated blob near 100
    val vecs = (0 until 20).map(i =>
      (i.toLong, pt(if (i % 2 == 0) 0f else 0.01f), 0)) ++
      (20 until 30).map(i => (i.toLong, pt(100f), 1))
    val emb = vecs.toDF("vec_id", "embedding", "label")
    val cents = Array(
      Array.fill(64)(0.004f), Array.fill(64)(0.006f), // both inside blob A
      Array.fill(64)(100.005f))                       // owns blob B
    val out = KnnGraph.silhouetteWithCents(emb, cents).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out.values.map(_._1).sum == 30L, s"every vector audited: $out")
    assert(out(2)._2 > 0.99,
      s"isolated cell must silhouette near 1: ${out(2)}")
    // a=0.004·8, b=0.006·8 per point -> sil = 1 - 4/6 = 0.333…
    assert(out(0)._2 < 0.5 && out(1)._2 < 0.5,
      s"cells splitting one blob must silhouette low: $out")
  }

  test("q140: gate form is well-bounded on the real corpus") {
    val rows = KnnGraph.q140Silhouette()(spark, "/root/testdata/sf0.001").collect()
    assert(rows.map(_.getLong(1)).sum == 500L, "n_vecs sums to the corpus")
    rows.foreach { r =>
      val (m, mn) = (r.getDouble(2), r.getDouble(3))
      assert(m >= 0.0 && m <= 1.0 && mn >= 0.0 && mn <= m + 1e-9, r.toString)
    }
  }

  // ---------------------------------------------------------------- q141

  test("q141: packing audit matches hand-computed sequence counts; packing never loses") {
    val sp = spark
    import sp.implicits._
    def toks(n: Int) = (1 to n).map(i => s"t$i").mkString(" ")
    // 5 + 128 + 200 tokens: at L=128 padding needs 1+1+2 = 4 sequences,
    // packing needs ceil(333/128) = 3
    val docs = Seq((1L, "web", toks(5)), (2L, "web", toks(128)),
      (3L, "web", toks(200))).toDF("doc_id", "source", "text")
    val dir = java.nio.file.Files.createTempDirectory("q141spec").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = PackingOps.q141PackingEfficiency(spark, dir).collect()
      .map(r => r.getInt(0) -> (r.getLong(3), r.getLong(4),
        r.getDouble(5), r.getDouble(6))).toMap
    assert(out(128) == ((4L, 3L,
      BigDecimal(1.0 - 333.0 / (4 * 128)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
      BigDecimal(1.0 - 333.0 / (3 * 128)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)),
      out(128).toString)
    // invariants at every L, here and on the real corpus: packing never
    // needs more sequences, and its waste stays under one sequence's worth
    val real = PackingOps.q141PackingEfficiency(spark, "/root/testdata/sf0.001").collect()
    (real.toSeq ++ PackingOps.q141PackingEfficiency(spark, dir).collect()).foreach { r =>
      val (l, total, pad, packed) = (r.getInt(0), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(packed <= pad, r.toString)
      assert(r.getDouble(6) <= r.getDouble(5) + 1e-9, r.toString)
      assert(packed * l - total < l, s"packed waste must be under one sequence: $r")
    }
  }

  test("q139: identical vectors project identically (ratio guard -> 1.0)") {
    val sp = spark
    import sp.implicits._
    val v = (1 to 64).map(i => (i % 7).toFloat - 3f)
    val emb = Seq((0L, v, 0), (13L, v, 0), (26L, (1 to 64).map(_.toFloat), 1))
      .toDF("vec_id", "embedding", "label")
    // route through a temp dir so the Q signature applies
    val dir = java.nio.file.Files.createTempDirectory("q139spec").toString
    emb.write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = SimilarityOps.q139JlAudit(spark, dir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(4))).toMap
    assert(out((0L, 13L)) == 1.0, s"identical vectors: ${out((0L, 13L))}")
  }
}
