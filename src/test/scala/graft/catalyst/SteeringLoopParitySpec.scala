package graft.catalyst

import breeze.linalg.DenseMatrix
import org.scalatest.funsuite.AnyFunSuite
import graft.catalyst.SteeringLoop.{AlsCompletion, Recommendation}
import graft.linalg.{CensoredALS, MatrixCompletion}

/** [[SteeringLoop.select]], [[SteeringLoop.recommend]] and
  * [[SteeringLoop.AlsCompletion.complete]] against the boxed forms they
  * replaced, kept below verbatim as the reference: a for-comprehension of
  * candidate tuples sorted by (-imp, r, c), `minOption`/`minByOption`
  * over the observed columns, and three `DenseMatrix.tabulate` inputs.
  * Every pick, tolerance, recommendation and completed cell must agree to
  * the bit, on CEB-shape inputs (3133 × 49).
  */
class SteeringLoopParitySpec extends AnyFunSuite {

  // ---- the reference forms ----

  private def refSelect(values: Array[Array[Double]], mask: Array[Array[Boolean]],
                        cutoffs: Array[Array[Double]], predicted: Array[Array[Double]],
                        alpha: Double, beta: Double, batch: Int): Seq[(Int, Int, Double, Double)] = {
    val nQ = values.length
    val nC = values(0).length
    def explored(r: Int, c: Int): Boolean = mask(r)(c) || cutoffs(r)(c) > 0.0
    val minObs = Array.tabulate(nQ)(r =>
      (0 until nC).filter(mask(r)).map(values(r)).minOption.getOrElse(Double.PositiveInfinity))
    val candidates = for {
      r <- 0 until nQ
      c <- 0 until nC if !explored(r, c)
      pred0 = predicted(r)(c)
      pred = (if (pred0 > 0.0) pred0 else 0.99 * minObs(r))
      if pred > 0.0 && !pred.isInfinity
      alphaTerm = if (alpha.isPosInfinity) Double.PositiveInfinity else alpha * minObs(r)
      tol = math.min(alphaTerm, beta * pred) if pred < tol
    } yield (r, c, (minObs(r) - pred) / pred, tol)
    candidates.sortBy { case (r, c, imp, _) => (-imp, r, c) }.take(batch)
  }

  private def refRecommend(queryNames: Seq[String], configNames: Seq[String],
                           values: Array[Array[Double]],
                           mask: Array[Array[Boolean]]): Vector[Recommendation] = {
    val nC = configNames.length
    queryNames.indices.flatMap { r =>
      val observedCols = (0 until nC).filter(mask(r))
      if (!mask(r)(0)) None
      else observedCols.minByOption(c => (values(r)(c), c)).map { best =>
        Recommendation(queryNames(r), configNames(best), values(r)(best), values(r)(0))
      }
    }.toVector
  }

  private def refComplete(als: MatrixCompletion, values: Array[Array[Double]],
                          mask: Array[Array[Boolean]],
                          cutoffs: Array[Array[Double]]): Array[Array[Double]] = {
    val nQ = values.length
    val nC = if (nQ == 0) 0 else values(0).length
    val logM = DenseMatrix.tabulate(nQ, nC)((r, c) =>
      if (mask(r)(c)) math.log1p(values(r)(c)) else 0.0)
    val maskM = DenseMatrix.tabulate(nQ, nC)((r, c) => if (mask(r)(c)) 1.0 else 0.0)
    val cutM = DenseMatrix.tabulate(nQ, nC)((r, c) =>
      if (cutoffs(r)(c) > 0.0) math.log1p(cutoffs(r)(c)) else 0.0)
    val completed = als.complete(logM, maskM, cutM)
    val out = Array.ofDim[Double](nQ, nC)
    for (r <- 0 until nQ; c <- 0 until nC) out(r)(c) = math.expm1(completed(r, c))
    out
  }

  // ---- inputs ----

  private val nQ = 3133
  private val nC = 49

  /** One round's state. `coarse` draws every value and prediction from a
    * few powers of two, so many candidates tie exactly on the improvement
    * ratio and many rows tie on their best observed value. Column 0 is
    * observed except in a few rows that observe nothing; some observed
    * cells are 0 s, some unexplored cells are censored, and some
    * predictions are ≤ 0, NaN or ∞. */
  private final class State(val values: Array[Array[Double]], val mask: Array[Array[Boolean]],
                            val cutoffs: Array[Array[Double]], val predicted: Array[Array[Double]])

  private def state(seed: Long, coarse: Boolean): State = {
    val rng = new scala.util.Random(seed)
    def seconds(): Double =
      if (coarse) math.pow(2.0, rng.nextInt(5) - 2) else math.exp(rng.nextGaussian())
    val empty = Set.fill(40)(rng.nextInt(nQ))
    val mask = Array.tabulate(nQ, nC)((r, c) =>
      !empty(r) && (c == 0 || rng.nextDouble() < 0.15))
    val values = Array.tabulate(nQ, nC)((r, c) =>
      if (!mask(r)(c)) 0.0 else if (rng.nextDouble() < 0.02) 0.0 else seconds())
    val cutoffs = Array.tabulate(nQ, nC)((r, c) =>
      if (!mask(r)(c) && rng.nextDouble() < 0.05) seconds() else 0.0)
    val predicted = Array.tabulate(nQ, nC) { (_, _) =>
      val u = rng.nextDouble()
      if (u < 0.03) 0.0
      else if (u < 0.06) -seconds()
      else if (u < 0.08) Double.NaN
      else if (u < 0.09) Double.PositiveInfinity
      else seconds()
    }
    new State(values, mask, cutoffs, predicted)
  }

  private val states = Seq(state(1, coarse = false), state(2, coarse = true))

  private def bits(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)

  // ---- the cases ----

  test("the primitive selection picks what the tuple sort picks, in its order, to the bit") {
    val all = nQ * nC
    for {
      s <- states
      (alpha, beta) <- Seq((1.0, 15.0), (Double.PositiveInfinity, 15.0),
        (Double.PositiveInfinity, Double.PositiveInfinity), (0.5, 2.0))
      batch <- Seq(0, 1, 8, 300, all + 5)
    } {
      val ref = refSelect(s.values, s.mask, s.cutoffs, s.predicted, alpha, beta, batch)
      val got = SteeringLoop.select(s.values, s.mask, s.cutoffs, s.predicted, alpha, beta, batch)
      val what = s"alpha $alpha, beta $beta, batch $batch"
      assert(got.size == ref.size, what)
      ref.zipWithIndex.foreach { case ((r, c, imp, tol), i) =>
        assert(got.row(i) == r && got.col(i) == c, s"$what: pick $i")
        assert(bits(got.imp(i)) == bits(imp) && bits(got.tol(i)) == bits(tol), s"$what: pick $i")
      }
    }
  }

  test("the inputs exercise ties, degenerate predictions and empty rows") {
    val s = states(1)
    val ref = refSelect(s.values, s.mask, s.cutoffs, s.predicted, 1.0, 15.0, nQ * nC)
    assert(ref.size > 1000)
    // the coarse state ties on the improvement ratio across rows
    assert(ref.map(_._3).distinct.size < ref.size / 10)
    assert(s.mask.exists(row => !row.exists(identity)))
    assert(s.predicted.exists(_.exists(_.isNaN)))
  }

  test("recommendations match minByOption((value, column)) to the bit") {
    val names = Seq.tabulate(nQ)(r => s"q$r")
    val configs = Seq.tabulate(nC)(c => s"c$c")
    states.foreach { s =>
      val ref = refRecommend(names, configs, s.values, s.mask)
      val got = SteeringLoop.recommend(names, configs, s.values, s.mask)
      assert(got.size == ref.size)
      got.zip(ref).foreach { case (g, e) =>
        assert(g.queryName == e.queryName && g.configName == e.configName)
        assert(bits(g.observedSeconds) == bits(e.observedSeconds))
        assert(bits(g.defaultSeconds) == bits(e.defaultSeconds))
      }
    }
  }

  test("the ALS hand-off completes every cell to the bit of the three-tabulate form") {
    states.foreach { s =>
      def als = new CensoredALS(5, 10, 0.2, 11)
      val ref = refComplete(als, s.values, s.mask, s.cutoffs)
      val got = AlsCompletion.complete(als, s.values, s.mask, s.cutoffs)
      assert(got.length == nQ)
      (0 until nQ).foreach(r => assert(java.util.Arrays.equals(got(r), ref(r)), s"row $r"))
    }
  }

  test("a completion that returns a transposed view is read in its logical order") {
    val s = states(0)
    // the same CensoredALS result, handed back as a transposed view
    val transposed = new MatrixCompletion {
      def complete(x: DenseMatrix[Double], mask: DenseMatrix[Double],
                   cutoffs: DenseMatrix[Double]): DenseMatrix[Double] =
        new CensoredALS(5, 10, 0.2, 11).complete(x, mask, cutoffs).t.copy.t
    }
    val ref = refComplete(new CensoredALS(5, 10, 0.2, 11), s.values, s.mask, s.cutoffs)
    val got = AlsCompletion.complete(transposed, s.values, s.mask, s.cutoffs)
    (0 until nQ).foreach(r => assert(java.util.Arrays.equals(got(r), ref(r)), s"row $r"))
  }
}
