package graft.linalg

import breeze.linalg.DenseMatrix

/** Test-only reference oracle: the whole-matrix Breeze formulation of
  * censored ALS that [[CensoredALS]] replaced, kept verbatim (each
  * iteration materialises ABᵀ and the n×m target, and solves both
  * half-steps with Breeze's dense `\`). The parity specs compare the fused
  * row-blocked kernel against it from shared initial factors. Same
  * constructor and seeding as [[CensoredALS]], so it also plugs into
  * `LimeQOStrategy.alsFactory`.
  */
final class BreezeCensoredALS(rank: Int, iters: Int, lambda: Double, seed: Long)
    extends MatrixCompletion {

  override def complete(x: DenseMatrix[Double], mask: DenseMatrix[Double],
                        cutoffs: DenseMatrix[Double]): DenseMatrix[Double] = {
    val rng = new scala.util.Random(seed)
    val a0 = DenseMatrix.fill(x.rows, rank)(rng.nextDouble())
    val b0 = DenseMatrix.fill(x.cols, rank)(rng.nextDouble())
    completeFrom(x, mask, cutoffs, a0, b0)
  }

  def completeFrom(x: DenseMatrix[Double], mask: DenseMatrix[Double],
                   cutoffs: DenseMatrix[Double],
                   a0: DenseMatrix[Double], b0: DenseMatrix[Double]): DenseMatrix[Double] = {
    val n = x.rows; val m = x.cols
    var a = a0.copy
    var b = b0.copy
    val eye = DenseMatrix.eye[Double](rank) * lambda

    // one reused buffer for the imputed+clamped target — the elementwise
    // Breeze formulation (x + (1−mask)∘ABᵀ then clamp) allocated ~6 full
    // matrices per iteration; the fused loop is bit-identical arithmetic
    // (same per-element expression, GEMM unchanged) at ~half the runtime
    val target = DenseMatrix.zeros[Double](n, m)
    def fillTarget(): Unit = {
      val ab = a * b.t
      var j = 0
      while (j < m) {
        var i = 0
        while (i < n) {
          var v = x(i, j) + (1.0 - mask(i, j)) * ab(i, j)
          val c = cutoffs(i, j)
          if (c > 0 && v < c) v = c
          target(i, j) = v
          i += 1
        }
        j += 1
      }
    }

    def clampNonNegInPlace(mtx: DenseMatrix[Double]): DenseMatrix[Double] = {
      val d = mtx.data
      var i = 0
      while (i < d.length) { if (d(i) < 0.0) d(i) = 0.0; i += 1 }
      mtx
    }

    var it = 0
    while (it < iters) {
      // update A: solve (BᵀB + λI) Aᵀ = (target·B)ᵀ  ⇒  A
      fillTarget()
      a = clampNonNegInPlace(((b.t * b + eye) \ (target * b).t).t)
      // update B symmetrically (target re-imputed with the fresh A)
      fillTarget()
      b = clampNonNegInPlace(((a.t * a + eye) \ (target.t * a).t).t)
      it += 1
    }
    // final return: X + (1−mask)∘ABᵀ, NO censor clamp (`matrix_factorization.py:72`)
    val ab = a * b.t
    val out = DenseMatrix.zeros[Double](n, m)
    var j = 0
    while (j < m) {
      var i = 0
      while (i < n) {
        out(i, j) = x(i, j) + (1.0 - mask(i, j)) * ab(i, j)
        i += 1
      }
      j += 1
    }
    out
  }
}
