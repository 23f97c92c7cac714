package graft.plans

import org.apache.spark.sql.SparkSession

/** The reference's feature/label transforms for plan trees
  * (`dataset.py:90-139`): log1p → min-max scaling, fit over all node
  * feature vectors (plus the dummy vector) and over the median-runtime
  * labels; both invertible (MinMaxScaler alone lacks an inverse in
  * spark.ml, SURVEY F2 — so the (lo, hi) params are first-class here).
  */
final case class MinMax(lo: Array[Double], hi: Array[Double]) {
  def transform(v: Array[Double]): Array[Double] =
    Array.tabulate(v.length) { i =>
      val range = hi(i) - lo(i)
      if (range == 0.0) 0.0 else (v(i) - lo(i)) / range
    }
  def inverse(v: Array[Double]): Array[Double] =
    Array.tabulate(v.length)(i => v(i) * (hi(i) - lo(i)) + lo(i))
}

/** Fitted featurization state: operator vocabulary + feature/label scalers.
  * `fit` is a driver pass over vocab + bounds; `transform*` are pure. */
final case class PlanFeaturizer(
    vocab: Map[String, Int],
    featScaler: MinMax,
    yLo: Double, yHi: Double) {

  def numFeatures: Int = vocab.size + 3

  /** log1p then min-max, element-wise (`dataset.py:102,135-139`). */
  def transformFeatures(tree: PlanNode): Array[Array[Double]] =
    PlanTrees.planFeatures(tree, vocab).map(row => featScaler.transform(row.map(math.log1p)))

  def indexes(tree: PlanNode): Array[Int] = PlanTrees.tcnnIndexes(tree)

  /** Label: log1p + min-max of median(runtime_list) (`dataset.py:91-99`). */
  def transformLabel(runtimes: Seq[Double]): Double = {
    val y = math.log1p(median(runtimes))
    if (yHi == yLo) 0.0 else (y - yLo) / (yHi - yLo)
  }
  def inverseLabel(y: Double): Double = math.expm1(y * (yHi - yLo) + yLo)

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }
}

object PlanFeaturizer {

  /** Fit over a plan corpus: vocabulary, per-dimension log1p min/max over
    * every node's raw features plus the dummy vector, and label bounds. */
  def fit(plans: Seq[PlanRecord]): PlanFeaturizer = {
    val vocab = PlanTrees.vocabulary(plans)
    val nf = vocab.size + 3
    val lo = Array.fill(nf)(Double.PositiveInfinity)
    val hi = Array.fill(nf)(Double.NegativeInfinity)
    def see(raw: Array[Double]): Unit = {
      var i = 0
      while (i < nf) {
        val v = math.log1p(raw(i))
        if (v < lo(i)) lo(i) = v
        if (v > hi(i)) hi(i) = v
        i += 1
      }
    }
    def walk(n: PlanNode): Unit = {
      see(PlanTrees.nodeFeatures(n, vocab))
      n.children.foreach(walk)
    }
    plans.foreach(p => walk(p.tree))
    val dummyVec = new Array[Double](nf); dummyVec(vocab(PlanTrees.Dummy)) = 1.0
    see(dummyVec)

    val ys = plans.map { p =>
      val s = p.runtimeList.sorted
      val n = s.length
      math.log1p(if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0)
    }
    PlanFeaturizer(vocab, MinMax(lo, hi), ys.min, ys.max)
  }

  /** Load a directory of plan-file JSONs into records via Spark
    * (wholetext — each file is one JSON object; the reference unzips
    * `dataset/<ds>.zip` to exactly this layout, S3). */
  def loadPlans(spark: SparkSession, pathGlob: String): Seq[PlanRecord] = {
    import spark.implicits._
    spark.read.option("wholetext", "true").text(pathGlob)
      .as[String].collect().toSeq.map(PlanTrees.parseRecord)
  }
}
