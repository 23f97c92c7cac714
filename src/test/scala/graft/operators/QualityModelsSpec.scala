package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SharedSpark

/** Structural invariants for the learned-selection family (q108 NB quality
  * classifier, q109 DSIR importance resampling, q151 model drift) on
  * sf0.001; value-level parity is the driver's DuckDB gate.
  */
class QualityModelsSpec extends AnyFunSuite with SharedSpark {
  private val sf = "/root/testdata/sf0.001"

  override def afterAll(): Unit = {
    spark.catalog.clearCache()
    super.afterAll()
  }

  test("q108 NB classifier: covers every source, keep counts bounded, deterministic") {
    val df = QualityModels.q108NbQuality(spark, sf).cache()
    val rows = df.collect()
    val sources = graft.Tables.documents(spark, sf)
      .select("source").distinct().count()
    assert(rows.length == sources, "one audit row per source")
    rows.foreach { r =>
      val (n, keep) = (r.getAs[Long]("n_docs"), r.getAs[Long]("n_keep"))
      assert(keep >= 0 && keep <= n)
      assert(!r.getAs[Double]("mean_score").isNaN)
    }
    val again = QualityModels.q108NbQuality(spark, sf)
    assert(df.exceptAll(again).count() == 0 && again.exceptAll(df).count() == 0)
  }

  test("q108 NB classifier: the reference slice scores above the rest") {
    // The classifier is trained to separate ReferenceSources from the rest;
    // on its own training corpus the reference slice's mean score must
    // exceed the non-reference mean (NB fits its training data — if this
    // fails the llr signs are flipped or the classes are swapped).
    val rows = QualityModels.q108NbQuality(spark, sf).collect()
    val (ref, rest) = rows.partition(r =>
      QualityModels.ReferenceSources.contains(r.getAs[String]("source")))
    assert(ref.nonEmpty && rest.nonEmpty)
    def wMean(rs: Array[org.apache.spark.sql.Row]): Double = {
      val n = rs.map(_.getAs[Long]("n_docs")).sum.toDouble
      rs.map(r => r.getAs[Double]("mean_score") * r.getAs[Long]("n_docs")).sum / n
    }
    assert(wMean(ref) > wMean(rest),
      s"reference mean ${wMean(ref)} must exceed rest mean ${wMean(rest)}")
  }

  test("q109 DSIR: k rows, keys sorted, key arithmetic consistent") {
    val df = QualityModels.q109DsirResample(spark, sf).cache()
    val rows = df.collect()
    assert(rows.nonEmpty && rows.length <= 50)
    // selection key is exactly round(log_weight + gumbel, 6)
    rows.foreach { r =>
      val expect = BigDecimal(
        r.getAs[Double]("log_weight") + r.getAs[Double]("gumbel"))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(r.getAs[Double]("sel_key") - expect) < 1e-9)
    }
    val keys = rows.map(_.getAs[Double]("sel_key"))
    assert(keys.zip(keys.tail).forall { case (a, b) => a >= b },
      "rows ordered by selection key descending")
    val again = QualityModels.q109DsirResample(spark, sf)
    assert(df.exceptAll(again).count() == 0 && again.exceptAll(df).count() == 0)
  }

  test("q109 DSIR: selection tracks importance — reference-like docs over-represented") {
    // Selected set's reference-source share must exceed the corpus share:
    // importance weights are trained to up-weight the reference
    // distribution, and Gumbel-top-k realizes that preference.
    val docs = graft.Tables.documents(spark, sf)
      .filter(size(split(trim(col("text")), "\\s+")) >= 2)
    val corpusShare = docs.filter(
      col("source").isin(QualityModels.ReferenceSources: _*)).count().toDouble /
      docs.count()
    val sel = QualityModels.q109DsirResample(spark, sf).collect()
    val selShare = sel.count(r =>
      QualityModels.ReferenceSources.contains(r.getAs[String]("source")))
      .toDouble / sel.length
    assert(selShare > corpusShare,
      s"selected share $selShare must exceed corpus share $corpusShare")
  }

  test("q110 CCNet buckets: per-source partition of scored docs, head ≥ middle ≥ tail") {
    val df = QualityModels.q110CcnetBuckets(spark, sf).cache()
    val rows = df.collect()
    assert(rows.nonEmpty)
    // buckets partition exactly the docs that have at least one bigram
    val scoredDocs = graft.Tables.documents(spark, sf)
      .filter(size(split(trim(col("text")), "\\s+")) >= 2).count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == scoredDocs,
      "every scored document lands in exactly one bucket")
    // within each source: mean(head) >= mean(middle) >= mean(tail)
    rows.groupBy(_.getAs[String]("source")).foreach { case (src, rs) =>
      val m = rs.map(r => r.getAs[String]("bucket") -> r.getAs[Double]("mean_logprob")).toMap
      for (h <- m.get("head"); mid <- m.get("middle"))
        assert(h >= mid, s"$src: head $h < middle $mid")
      for (mid <- m.get("middle"); t <- m.get("tail"))
        assert(mid >= t, s"$src: middle $mid < tail $t")
    }
    val again = QualityModels.q110CcnetBuckets(spark, sf)
    assert(df.exceptAll(again).count() == 0 && again.exceptAll(df).count() == 0)
  }

  test("q110 CCNet buckets: tercile cuts broadcast back — no rank window in the plan") {
    val plan = QualityModels.q110CcnetBuckets(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      "bucketing must be threshold-based (broadcast cuts), not a per-source NTILE sort")
    assert(plan.contains("BroadcastHashJoin"),
      "the |sources|-row cut table must broadcast onto the per-doc scores")
  }

  test("q118 curation pipeline: waterfall is monotone per source and genuinely filters") {
    val df = QualityModels.q118CurationPipeline(spark, sf).cache()
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (raw, fk, qk, ad) = (r.getAs[Long]("n_raw"), r.getAs[Long]("n_funnel_kept"),
        r.getAs[Long]("n_quality_kept"), r.getAs[Long]("n_admitted"))
      assert(raw >= fk && fk >= qk && qk >= ad && ad >= 0,
        s"waterfall must be monotone: $r")
      if (ad == 0) assert(r.getAs[Long]("tokens_admitted") == 0L)
    }
    // the learned stages actually cut mass somewhere (a pipeline that
    // admits everything is a disconnected filter)
    val totRaw = rows.map(_.getAs[Long]("n_raw")).sum
    val totAd = rows.map(_.getAs[Long]("n_admitted")).sum
    assert(totAd < totRaw && totAd > 0, s"admitted $totAd of $totRaw")
    val again = QualityModels.q118CurationPipeline(spark, sf)
    assert(df.exceptAll(again).count() == 0 && again.exceptAll(df).count() == 0)
  }

  test("q109 DSIR: scoring plan broadcasts the 4096-bucket model and top-k avoids a global sort") {
    val df = QualityModels.q109DsirResample(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      "bucket-model join must broadcast (model is O(buckets), not O(vocab))")
    assert(plan.contains("TakeOrderedAndProject"),
      "top-k selection must be TakeOrderedAndProject, not Sort+Limit")
  }

  test("NB: nbScoresFromCounts under the corpus's own model == nbDocScores, bit-for-bit") {
    // q151's scoring rule (a separately trained model, unseen tokens
    // contribute zero) must reduce to the inline q108 chain on the
    // model's own training corpus, where every token hits
    val docs = graft.Tables.documents(spark, sf)
    val cdw = QualityModels.nbTokenCounts(docs)
    val viaModel = QualityModels.nbScoresFromCounts(cdw, QualityModels.nbModelFromCounts(cdw))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    val inline = QualityModels.nbDocScores(docs).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(viaModel == inline)
    assert(viaModel.nonEmpty)
  }

  test("q151 model-drift audit: doc accounting, triangle bound, determinism") {
    val docs = graft.Tables.documents(spark, sf)
    val out = QualityModels.queries("q151_model_drift")(spark, sf).collect()
    assert(out.map(_.getLong(1)).sum == docs.count(),
      "every document must be scored under both models exactly once")
    out.foreach { r =>
      val (v1, v2, shift) = (r.getDouble(2), r.getDouble(3), r.getDouble(4))
      assert(shift + 1e-9 >= math.abs(v1 - v2),
        s"mean |shift| must dominate |mean shift| (${r.getString(0)})")
      assert(r.getLong(5) >= 0 && r.getLong(5) <= r.getLong(1))
    }
    val again = QualityModels.queries("q151_model_drift")(spark, sf).collect()
    assert(out.map(_.toString).sorted.sameElements(again.map(_.toString).sorted))
  }
}
