package graft.linalg

import breeze.linalg.DenseMatrix
import org.scalatest.funsuite.AnyFunSuite

/** The fused row-blocked [[CensoredALS]] against the whole-matrix Breeze
  * oracle ([[BreezeCensoredALS]]) from identical A₀/B₀. Both solve the same
  * ridge normal equations; they differ only in how the right-hand sides are
  * summed (free cells folded in through the Gram matrices) and in LU versus
  * Cholesky solves, so every completed cell must agree to 1e-9 relative.
  */
class CensoredALSParitySpec extends AnyFunSuite {

  /** A seeded log-space problem: low-rank truth, `density` of the cells
    * observed (column 0 always, when there are others), and a cutoff on
    * `censored` of the unobserved cells, set above the truth so the clamp
    * binds. */
  private def problem(n: Int, m: Int, rank: Int, density: Double, censored: Double,
                      seed: Long) = {
    val rng = new scala.util.Random(seed)
    val truth = DenseMatrix.fill(n, rank)(rng.nextDouble()) *
      DenseMatrix.fill(m, rank)(rng.nextDouble()).t
    val mask = DenseMatrix.tabulate(n, m)((_, j) =>
      if ((j == 0 && m > 1) || rng.nextDouble() < density) 1.0 else 0.0)
    val x = truth *:* mask
    val cut = DenseMatrix.tabulate(n, m)((i, j) =>
      if (mask(i, j) == 0.0 && rng.nextDouble() < censored) truth(i, j) * 1.5 + 0.1 else 0.0)
    val a0 = DenseMatrix.fill(n, rank)(rng.nextDouble())
    val b0 = DenseMatrix.fill(m, rank)(rng.nextDouble())
    (x, mask, cut, a0, b0)
  }

  private def assertParity(n: Int, m: Int, rank: Int, density: Double, censored: Double,
                           seed: Long, iters: Int = 50, lambda: Double = 0.2): Unit = {
    val (x, mask, cut, a0, b0) = problem(n, m, rank, density, censored, seed)
    val want = new BreezeCensoredALS(rank, iters, lambda, 0).completeFrom(x, mask, cut, a0, b0)
    val got = new CensoredALS(rank, iters, lambda, 0).completeFrom(x, mask, cut, a0, b0)
    assert(got.rows == n && got.cols == m)
    var worst = 0.0
    for (i <- 0 until n; j <- 0 until m) {
      val d = math.abs(got(i, j) - want(i, j)) / math.max(math.abs(want(i, j)), 1e-12)
      if (d > worst) worst = d
      if (mask(i, j) == 1.0) assert(got(i, j) == x(i, j), s"observed cell ($i,$j) modified")
    }
    info(s"${n}x$m rank $rank: worst relative difference $worst")
    assert(worst < 1e-9, s"${n}x$m rank $rank: worst relative diff $worst")
  }

  test("fewer rows than one block") {
    assertParity(60, 12, 3, 0.5, 0.1, 1)
  }

  test("CEB shape: 3133 rows, not a multiple of the block") {
    assert(3133 % CensoredALS.Block != 0)
    assertParity(3133, 49, 5, 0.06, 0.02, 2)
  }

  test("a single column") {
    assertParity(300, 1, 2, 0.5, 0.0, 3)
  }

  test("ranks 1 to 5") {
    (1 to 5).foreach(r => assertParity(257, 20, r, 0.3, 0.05, 10L + r))
  }

  test("every cell observed") {
    assertParity(200, 15, 4, 1.0, 0.0, 4)
  }

  test("every unobserved cell censored: no cell's target is the bare product") {
    assertParity(200, 15, 4, 0.3, 1.0, 6)
  }

  test("a matrix with no rows completes to an empty matrix") {
    val empty = DenseMatrix.zeros[Double](0, 7)
    val done = new CensoredALS(3, 5, 0.2, 1).complete(empty, empty, empty)
    assert(done.rows == 0 && done.cols == 7)
  }

  test("a censored-cell mix: a third of the unobserved cells clamp") {
    assertParity(500, 30, 5, 0.2, 0.33, 5)
  }
}
