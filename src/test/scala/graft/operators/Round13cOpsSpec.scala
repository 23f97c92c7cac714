package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SharedSpark

/** Round-13 third-wave operators: interpolated Kneser-Ney LM scoring
  * (q142), the Count-Min sketch frequency audit (q143), mutual-kNN graph
  * denoising (q144), and the Z-order data-skipping audit (q145). Each
  * test pins the property the operator exists for: KN's continuation-
  * count smoothing against an independent from-first-principles
  * reference, CMS's one-sided error + cell-wise mergeability (the
  * distributed contract), reciprocity's removal of one-way hub edges,
  * and the Z-layout's two-dimensional file pruning against single-column
  * sort.
  */
class Round13cOpsSpec extends AnyFunSuite with SharedSpark {

  private def r6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  // ---------------------------------------------------------------- q142

  test("q142: Kneser-Ney scores match a from-first-principles reference") {
    val sp = spark
    import sp.implicits._
    val texts = Map(
      1L -> "san francisco san francisco",
      2L -> "red apple green apple",
      3L -> "san jose",
      4L -> "apple") // single token: no bigram, must drop out
    val docs = texts.toSeq.map { case (id, t) => (id, t) }.toDF("doc_id", "text")

    // reference: counts from scratch, formula in plain doubles, the
    // engine's rounding pipeline (6dp per term, exact-decimal mean)
    val bgs = texts.toSeq.flatMap { case (id, t) =>
      val l = t.split("\\s+").toSeq
      if (l.size < 2) Nil else l.zip(l.tail).map(p => (id, p))
    }
    val cbg = bgs.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val cw = cbg.groupBy(_._1._1).map { case (w1, m) =>
      w1 -> (m.values.sum, m.size.toLong)
    } // (c_w1, n1p_fw)
    val bw = cbg.keys.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val tTypes = cbg.size.toDouble
    val ref = bgs.groupBy(_._1).map { case (id, bs) =>
      val terms = bs.map { case (_, (w1, w2)) =>
        val (cW1, fw) = cw(w1)
        val p = (cbg((w1, w2)).toDouble - 0.75) / cW1.toDouble +
          0.75 * fw.toDouble / cW1.toDouble * (bw(w2).toDouble / tTypes)
        BigDecimal(r6(math.log(p)))
      }
      val mean = r6(terms.sum.toDouble / terms.size)
      id -> (bs.size.toLong, mean, r6(math.exp(-mean)))
    }

    val out = CorpusOps.knBigramScores(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .toMap
    assert(out.keySet == Set(1L, 2L, 3L), "doc 4 (no bigrams) must drop out")
    ref.foreach { case (id, (n, mean, ppl)) =>
      assert(out(id)._1 == n, s"doc $id n_bigrams")
      assert(out(id)._2 == mean, s"doc $id kn_logprob: ${out(id)._2} vs $mean")
      assert(out(id)._3 == ppl, s"doc $id ppl")
    }
  }

  test("q142: continuation counts beat add-one on a Francisco-style token") {
    val sp = spark
    import sp.implicits._
    // "francisco" and "apple" occur equally often as continuations, but
    // apple follows THREE distinct contexts and francisco only one. The
    // probe docs score the same context-count shape (c_bg=1, c_w1=1,
    // n1p_fw=1), so only the continuation factor differs — KN must score
    // the productive word strictly higher; a count-only add-one LM
    // cannot tell them apart.
    val docs = Seq(
      (1L, "san francisco san francisco san francisco"),
      (2L, "red apple green apple blue apple"),
      (3L, "probe1 francisco"),
      (4L, "probe2 apple")
    ).toDF("doc_id", "text")
    val out = CorpusOps.knBigramScores(docs).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(out(4L) > out(3L),
      s"productive continuation must outscore one-context token: ${out(4L)} vs ${out(3L)}")
  }

  // ---------------------------------------------------------------- q143

  private def md5Bucket(row: Int, token: String, width: Int): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$row#$token".getBytes("UTF-8"))
    val hex = d.map("%02x".format(_)).mkString.take(8)
    java.lang.Long.parseLong(hex, 16) % width
  }

  test("q143: CMS estimates are one-sided and match a reference sketch") {
    val sp = spark
    import sp.implicits._
    val docs = Seq(
      (1L, "aa aa aa bb cc dd ee ff gg hh"),
      (2L, "aa bb bb cc ii jj kk ll mm nn"),
      (3L, "oo pp qq rr ss tt uu vv ww aa")
    ).toDF("doc_id", "text")
    val (depth, width) = (4, 4) // tiny width: collisions guaranteed
    val toks = docs.flatMap(r => r.getString(1).split("\\s+")).toDF("token")

    val trueCounts = toks.groupBy("token").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // reference sketch + estimates in plain Scala
    val cells = scala.collection.mutable.HashMap.empty[(Int, Long), Long]
    trueCounts.foreach { case (t, c) =>
      (0 until depth).foreach { j =>
        val k = (j, md5Bucket(j, t, width)); cells(k) = cells.getOrElse(k, 0L) + c
      }
    }
    def est(t: String): Long =
      (0 until depth).map(j => cells((j, md5Bucket(j, t, width)))).min

    val out = TextOps.countMinAudit(docs, depth, width, topK = 1000).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.length == trueCounts.size, "topK=1000 must cover the vocabulary")
    out.foreach { case (t, cTrue, cEst, over) =>
      assert(cTrue == trueCounts(t))
      assert(cEst == est(t), s"token $t: engine $cEst vs reference ${est(t)}")
      assert(over == cEst - cTrue && over >= 0, s"token $t: CMS error must be one-sided")
    }
    assert(out.exists(_._4 > 0), "width 4 over 23+ types must show collision error")
  }

  test("q143: shard sketches merge cell-wise into the corpus sketch") {
    val sp = spark
    import sp.implicits._
    val a = Seq("aa aa bb cc", "dd ee ff aa").toDF("text")
    val b = Seq("bb bb gg hh", "ii jj aa kk").toDF("text")
    def sk(df: org.apache.spark.sql.DataFrame) =
      TextOps.countMinSketch(
        df.select(explode(split(trim(col("text")), "\\s+")).as("token")), 4, 8)
    val merged = sk(a).unionAll(sk(b))
      .groupBy("rw", "bucket").agg(sum("cell_sum").as("cell_sum"))
    val whole = sk(a.unionAll(b))
    assert(merged.join(whole, Seq("rw", "bucket"), "full_outer")
      .filter(not(merged("cell_sum") <=> whole("cell_sum"))).isEmpty,
      "sketch of the union must equal the cell-wise sum of shard sketches")
  }

  // ---------------------------------------------------------------- q144

  test("q144: reciprocity keeps exactly the two-way edges") {
    val sp = spark
    import sp.implicits._
    // 4 is a hub: it receives one-way edges from 1, 2, 3 but only
    // returns one to 1. Mutual must keep 1<->4 and 1<->2, drop the rest.
    val edges = Seq(
      (1L, 2L), (2L, 1L), (1L, 4L), (4L, 1L), (2L, 4L), (3L, 4L))
      .toDF("src_id", "nbr_id")
    val got = KnnGraph.mutualEdges(edges).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 2L), (2L, 1L), (1L, 4L), (4L, 1L)))
  }

  test("q144: the audit drops one-way hub edges and lifts purity on real data") {
    val out = KnnGraph.queries("q144_mutual_knn")(spark, "/root/testdata/sf0.001")
      .collect()
      .map(r => (r.getString(0), r.getInt(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    val labels = out.keys.map(_._2).toSet
    assert(labels.nonEmpty)
    labels.foreach { l =>
      val (nK, sameK, _) = out(("knn", l))
      val (nM, sameM, _) = out.getOrElse(("mutual", l), (0L, 0L, 0.0))
      assert(nM <= nK, s"label $l: mutual is a subset of knn")
      assert(sameM <= sameK)
      assert(sameK <= nK && sameM <= nM)
    }
    // corpus-level: reciprocity must not LOWER overall purity (hub edges
    // it removes are majority cross-label by construction of the test
    // embedding clusters)
    val (nK, sK) = labels.foldLeft((0L, 0L)) { case ((n, s), l) =>
      val (a, b, _) = out(("knn", l)); (n + a, s + b)
    }
    val (nM, sM) = labels.foldLeft((0L, 0L)) { case ((n, s), l) =>
      val (a, b, _) = out.getOrElse(("mutual", l), (0L, 0L, 0.0)); (n + a, s + b)
    }
    assert(nM > 0, "some edges must be reciprocal")
    assert(sM.toDouble / nM >= sK.toDouble / nK,
      f"overall purity: mutual ${sM.toDouble / nM}%.4f vs knn ${sK.toDouble / nK}%.4f")
  }

  // ---------------------------------------------------------------- q147

  test("q147: template domains down-weight, diverse domains up-weight; weights sum to 1") {
    val sp = spark
    import sp.implicits._
    // "tpl" repeats ONE bigram — the corpus LM finds it easy (high mean
    // logprob, negative excess); "div" has unique transitions the LM
    // scores poorly. DoReMi's direction: weight(div) > weight(tpl).
    val docs = Seq(
      (1L, "tpl", "a b a b a b a b a b"),
      (2L, "tpl", "a b a b a b a b"),
      (3L, "div", "c d e f g h i j"),
      (4L, "div", "k l m n o p q r")
    ).toDF("doc_id", "source", "text")
    val out = CorpusOps.domainReweight(docs).collect()
      .map(r => r.getString(0) -> (r.getDouble(4), r.getDouble(5))).toMap
    assert(out.keySet == Set("tpl", "div"))
    assert(out("tpl")._1 < 0 && out("div")._1 > 0,
      s"excess direction: tpl ${out("tpl")._1}, div ${out("div")._1}")
    assert(out("div")._2 > out("tpl")._2, "diverse domain must up-weight")
    val wSum = out.values.map(_._2).sum
    assert(math.abs(wSum - 1.0) < 2e-5, s"weights must normalize: $wSum")
  }

  // ---------------------------------------------------------------- q148

  test("q148: rendezvous resize moves docs ONLY to new shards; mod-N scatters") {
    val sp = spark
    import sp.implicits._
    val docs = (1L to 400L).toDF("doc_id")
    val joined = MixtureOps.rendezvousShard(docs, 16, "s16")
      .join(MixtureOps.rendezvousShard(docs, 20, "s20"), Seq("doc_id"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    // HRW monotonicity: growing the fleet can only crown a NEW shard —
    // every existing shard's hash is unchanged, so a doc that moves must
    // land on s >= 16. Mod-N has no such property.
    val moved = joined.filter { case (_, a, b) => a != b }
    assert(moved.nonEmpty && moved.forall(_._3 >= 16),
      s"moved docs must land on new shards: ${moved.filter(_._3 < 16).take(3).toSeq}")
    // the moved fraction concentrates near the 4/20 = 20 % minimum
    val frac = moved.length.toDouble / joined.length
    assert(frac > 0.10 && frac < 0.35, s"rendezvous moved frac $frac")
    // docs that do NOT move keep their exact shard (stability)
    assert(joined.filter { case (_, a, b) => a == b }.forall(_._2 < 16))
  }

  // ---------------------------------------------------------------- q146

  test("q146: cluster-granular split is leakage-free; doc-keyed split leaks") {
    val sp = spark
    import sp.implicits._
    // md5("4") starts 'a' (train), md5("3") starts 'e' (test): a cluster
    // {3,4} is split across train/test under the doc-keyed rule. 6 and 9
    // are train singletons, 10 a val singleton.
    val comp = Seq(
      (3L, 3L), (4L, 3L), (6L, 6L), (9L, 9L), (10L, 10L))
      .toDF("doc_id", "component")
    val out = DedupOps.clusterSplitSummary(comp).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap
    val (lkD, nD, trD, vaD, teD) = out("by_doc")
    assert(lkD == 1L && nD == 2L, s"doc-keyed rule leaks cluster {3,4}: $lkD/$nD")
    assert((trD, vaD, teD) == (3L, 1L, 1L))
    val (lkC, nC, trC, vaC, teC) = out("by_cluster")
    assert(lkC == 0L && nC == 0L, "cluster-keyed split cannot leak")
    // docs conserved under both rules; cluster {3,4} moved WHOLE to test
    // (md5("3") -> 'e'): balance shifts by cluster mass, never splits one
    assert(trC + vaC + teC == 5L && trD + vaD + teD == 5L)
    assert((trC, vaC, teC) == (2L, 1L, 2L))
  }

  test("q146: gate output on real data — repair zeroes leakage, conserves docs") {
    val out = DedupOps.queries("q146_cluster_split")(spark, "/root/testdata/sf0.001")
      .collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap
    assert(out("by_cluster")._1 == 0L)
    val tot = Seq("by_doc", "by_cluster")
      .map(k => out(k)._3 + out(k)._4 + out(k)._5)
    assert(tot.distinct.size == 1, s"both rules assign every doc exactly once: $tot")
  }

  // ---------------------------------------------------------------- q145

  test("q145: z-order prunes files on both dimensions; sorts only on one") {
    val out = DataLayout.queries("q145_zorder_layout")(spark, "/root/testdata/sf0.001")
      .collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))
      .toMap
    assert(out.keySet == Set("natural", "partkey_sort", "zorder"))
    // the box answer is layout-invariant
    assert(out.values.map(_._4).toSet.size == 1, "rows_matched must not depend on layout")
    assert(out("natural")._5 == 1.0, "natural order cannot prune this box")
    val (zHit, pHit) = (out("zorder")._2, out("partkey_sort")._2)
    assert(zHit < pHit, s"z-order must open fewer files: $zHit vs $pHit")
    assert(out("zorder")._3 < out("partkey_sort")._3, "and scan fewer rows")
    // every layout still finds all matches inside its scanned files;
    // equal-width ranges leave at most the z-key's sparse stretches empty
    out.foreach { case (l, (total, hit, scanned, matched, _)) =>
      assert(total <= 64L && total > 0L, s"$l: files_total $total")
      assert(hit <= total)
      assert(matched <= scanned || hit == 0L,
        s"$l: matches must lie inside scanned files")
    }
    assert(out("natural")._1 == 64L, "dense orderkey fills every range")
  }
}
