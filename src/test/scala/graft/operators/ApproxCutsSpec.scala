package graft.operators

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.SharedSpark

/** The approx-percentile production twins of the per-source-cut family
  * (round-15 verdict task 6): the gates keep exact `percentile` for the
  * DuckDB `quantile_cont` pairing; production swaps in the mergeable
  * `percentile_approx` sketch at its default accuracy. This spec bounds
  * the CUT DRIFT between the two forms on a generated soak corpus — the
  * number a deployment needs before trusting the sketch: how far can a
  * head/middle/tail boundary or a winsorize band move, and how many
  * documents flip bucket.
  *
  * Bounds are deliberately loose relative to observed drift (the soak
  * corpus is deterministic, so the observed drift is reproducible): the
  * exact form interpolates between order statistics while the sketch
  * returns a held data value, so a small systematic offset exists even
  * when the sketch is error-free at this group size. A bound violation
  * means the sketch accuracy or the cut formulation regressed.
  */
class ApproxCutsSpec extends AnyFunSuite with SharedSpark {

  private lazy val dir: String = {
    val d = Files.createTempDirectory("graft-approx-cuts").toString
    graft.SkewedData.genDocuments(spark, 8000)
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    d
  }

  test("q90 winsorize: approx band within the exact band's neighborhood, mass within 2%") {
    val ex = MixtureOps.q90WinsorizeCuts(exactCuts = true)(spark, dir)
      .collect().map(r => r.getAs[String]("source") -> r).toMap
    val ap = MixtureOps.q90WinsorizeCuts(exactCuts = false)(spark, dir)
      .collect().map(r => r.getAs[String]("source") -> r).toMap
    assert(ex.keySet == ap.keySet && ex.nonEmpty)
    ex.foreach { case (src, r) =>
      val a = ap(src)
      val width = math.max(1.0, r.getAs[Double]("hi") - r.getAs[Double]("lo"))
      assert(math.abs(a.getAs[Double]("lo") - r.getAs[Double]("lo")) <= 0.1 * width + 1.0,
        s"$src lo drift")
      assert(math.abs(a.getAs[Double]("hi") - r.getAs[Double]("hi")) <= 0.1 * width + 1.0,
        s"$src hi drift")
      assert(a.getAs[Long]("n_docs") == r.getAs[Long]("n_docs"))
      val wEx = r.getAs[Double]("winsorized_tokens")
      assert(math.abs(a.getAs[Double]("winsorized_tokens") - wEx) <= 0.02 * wEx,
        s"$src winsorized mass drift")
    }
  }

  test("q110 CCNet buckets: per-(source,bucket) population drift ≤ 3% of the source") {
    def counts(exact: Boolean): Map[(String, String), Long] =
      QualityModels.q110CcnetBucketsCuts(exact)(spark, dir).collect()
        .map(r => (r.getAs[String]("source"), r.getAs[String]("bucket")) ->
          r.getAs[Long]("n_docs")).toMap
    val ex = counts(true)
    val ap = counts(false)
    val srcTotal = ex.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    assert(ex.keySet.map(_._1) == ap.keySet.map(_._1))
    (ex.keySet ++ ap.keySet).foreach { k =>
      val (e, a) = (ex.getOrElse(k, 0L), ap.getOrElse(k, 0L))
      val tol = math.max(2L, (0.03 * srcTotal(k._1)).toLong)
      assert(math.abs(e - a) <= tol, s"$k: exact $e vs approx $a (tol $tol)")
    }
    // total population is cut-independent
    assert(ex.values.sum == ap.values.sum)
  }

  test("q153 KN drift: scored counts identical, tercile-move drift ≤ 5% of scored docs") {
    def rows(exact: Boolean): Map[String, org.apache.spark.sql.Row] =
      CorpusOps.q153KnDriftCuts(exact)(spark, dir).collect()
        .map(r => r.getAs[String]("source") -> r).toMap
    val ex = rows(true)
    val ap = rows(false)
    assert(ex.keySet == ap.keySet && ex.nonEmpty)
    ex.foreach { case (src, r) =>
      val a = ap(src)
      // cut-independent columns are bit-identical
      assert(a.getAs[Long]("n_docs") == r.getAs[Long]("n_docs"))
      assert(a.getAs[Long]("n_scored") == r.getAs[Long]("n_scored"))
      assert(a.getAs[Double]("mean_abs_shift") == r.getAs[Double]("mean_abs_shift"))
      // the cut-sensitive diagnostic moves by at most the boundary mass
      val tol = math.max(2L, (0.05 * r.getAs[Long]("n_scored")).toLong)
      assert(math.abs(a.getAs[Long]("n_tercile_moves") -
        r.getAs[Long]("n_tercile_moves")) <= tol,
        s"$src tercile-move drift beyond $tol")
    }
  }
}
