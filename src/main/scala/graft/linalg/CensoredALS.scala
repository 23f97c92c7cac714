package graft.linalg

import java.util.stream.IntStream
import breeze.linalg.{DenseMatrix, MatrixSingularException}

/** Non-negative censored ALS matrix completion — the reference's one custom
  * numeric kernel (`/root/reference/src/models/matrix_factorization.py:3-72`,
  * SURVEY §4.3). Exact semantics preserved:
  *
  *  - impute-full-target formulation: target = X + (1−mask)∘(ABᵀ)
  *  - censor clamp BEFORE each solve: target[t<cutoff ∧ cutoff>0] = cutoff
  *  - ridge normal equations (BᵀB + λI) \ (target·B)ᵀ, then
  *  - non-negativity clamp AFTER each solve (A[A<0]=0)
  *  - returns X + (1−mask)∘(ABᵀ) (observed cells pass through exactly)
  *
  * Cannot reuse spark.ml ALS: it regresses observed entries only, has no
  * censoring, and setNonnegative solves NNLS instead of clamp-after-solve.
  */
trait MatrixCompletion {
  /** Complete X given observation mask (1=observed) and per-cell censoring
    * cutoffs (0 = uncensored). */
  def complete(x: DenseMatrix[Double], mask: DenseMatrix[Double],
               cutoffs: DenseMatrix[Double]): DenseMatrix[Double]
}

object MatrixCompletion {
  /** A matrix's entries in column-major order: its own `data` when it is
    * stored plainly column-major (no offset, no gap between columns, not
    * transposed), a copy otherwise. The caller must not write the array. */
  private[graft] def columnMajor(m: DenseMatrix[Double]): Array[Double] =
    if (m.offset == 0 && m.majorStride == m.rows && !m.isTranspose) m.data else m.toArray
}

/** The driver-local censored-ALS kernel: fused, row-blocked, on all cores.
  *
  * Layout: A (n×r) and B (m×r) are flat row-major arrays, so every
  * aᵢ·bⱼ is a contiguous length-r dot product. X, 1−mask and the cutoffs
  * are kept only at the cells whose target is not the bare product aᵢ·bⱼ
  * — observed, valued or censored — in a row-wise [[FixedCells]] built
  * once per call. No n×m target or ABᵀ is materialised between the first
  * and the last step.
  *
  *  - A half-step: BᵀB is formed and BᵀB+λI Cholesky-factored once; per
  *    row, the right-hand side Σⱼ tᵢⱼ·bⱼ is BᵀB·aᵢ plus, over the row's
  *    fixed cells, (tᵢⱼ − aᵢ·bⱼ)·bⱼ, with tᵢⱼ censor-clamped; the solve is
  *    back-substituted and clamped non-negative
  *    ([[CensoredALS.solveRow]]). Free cells contribute exactly
  *    (aᵢ·bⱼ)·bⱼ, which the BᵀB·aᵢ term already holds.
  *  - B half-step: each block accumulates Σᵢ aᵢᵀaᵢ and the fixed-cell
  *    residuals (tᵢⱼ − aᵢ·bⱼ)·aᵢ into its own partial
  *    ([[CensoredALS.accumulateRow]]); the partials are summed in block
  *    order and each column solves (AᵀA+λI)·bⱼ = AᵀA·bⱼ + residualⱼ
  *    ([[CensoredALS.solveColumns]]).
  *
  * Rows go in fixed blocks of [[CensoredALS.Block]] (128) rows, run on the
  * JDK common ForkJoin pool (or on the pool the caller runs in).
  * Determinism contract: the blocks and the reduction order do not depend
  * on the thread count, so the output is bit-identical across calls and
  * across pool sizes. Against the whole-matrix Breeze formulation it
  * replaced, only summation order and the factorization differ (≤ 1e-9
  * relative, CensoredALSParitySpec).
  *
  * Cost on a 4-core host (JDK 17, the generated 3133×49 CEB-shape matrix,
  * rank 5, 50 iterations): 40–50 ms per call as the median of
  * `graft.tools.AlsBench`, and 29 ms as `linalg.als.ms.p50` on the
  * benchmark's `limeqo-ceb`, where the single-threaded Breeze formulation
  * it replaced took 208 ms.
  */
final class CensoredALS(rank: Int, iters: Int, lambda: Double, seed: Long)
    extends MatrixCompletion {

  import CensoredALS._

  override def complete(x: DenseMatrix[Double], mask: DenseMatrix[Double],
                        cutoffs: DenseMatrix[Double]): DenseMatrix[Double] = {
    val rng = new scala.util.Random(seed)
    // uniform [0,1) init, matching np.random.rand's distribution (bit-level
    // RNG parity with NumPy MT19937 is an explicit non-goal, SURVEY §5.4)
    val a0 = DenseMatrix.fill(x.rows, rank)(rng.nextDouble())
    val b0 = DenseMatrix.fill(x.cols, rank)(rng.nextDouble())
    completeFrom(x, mask, cutoffs, a0, b0)
  }

  /** Completion from explicit initial factors (for equivalence testing
    * against the reference kernel). */
  def completeFrom(x: DenseMatrix[Double], mask: DenseMatrix[Double],
                   cutoffs: DenseMatrix[Double],
                   a0: DenseMatrix[Double], b0: DenseMatrix[Double]): DenseMatrix[Double] = {
    val n = x.rows; val m = x.cols; val r = rank
    // column-major, read in place (nothing here writes them)
    val xc = MatrixCompletion.columnMajor(x); val mc = MatrixCompletion.columnMajor(mask)
    val cells = FixedCells(xc, mc, MatrixCompletion.columnMajor(cutoffs), n, m)
    val a = rowMajor(a0)
    val b = rowMajor(b0)

    val nBlocks = (n + Block - 1) / Block
    val partials = Array.ofDim[Double](nBlocks, partialSize(m, r))
    val acc = new Array[Double](partialSize(m, r))
    val g = new Array[Double](r * r)
    val chol = new Array[Double](r * r)
    var it = 0
    while (it < iters) {
      gramCholesky(b, m, r, lambda, g, chol)
      forBlocks(n, nBlocks) { (lo, hi) =>
        val y = new Array[Double](r)
        var i = lo
        while (i < hi) { solveRow(cells, i, b, g, chol, r, a, i * r, y); i += 1 }
      }
      forBlocks(n, nBlocks) { (lo, hi) =>
        val p = partials(lo / Block)
        java.util.Arrays.fill(p, 0.0)
        var i = lo
        while (i < hi) { accumulateRow(cells, i, a, i * r, b, r, p); i += 1 }
      }
      java.util.Arrays.fill(acc, 0.0)
      partials.foreach(addInto(acc, _))
      solveColumns(acc, m, r, lambda, b)
      it += 1
    }

    // final return: X + (1−mask)∘ABᵀ, NO censor clamp (`matrix_factorization.py:72`)
    val out = new Array[Double](n * m)
    forBlocks(n, nBlocks) { (lo, hi) =>
      var j = 0
      while (j < m) {
        var i = lo
        while (i < hi) {
          val q = j * n + i
          out(q) = xc(q) + (1.0 - mc(q)) * dot(a, i * r, b, j * r, r)
          i += 1
        }
        j += 1
      }
    }
    new DenseMatrix(n, m, out)
  }
}

object CensoredALS {
  /** Rows per block: the unit of parallel work and of the B-step reduction.
    * Fixed, so results never depend on the thread count. */
  final val Block = 128

  /** Runs `body(lo, hi)` for every block [lo, hi) of the n rows, in parallel. */
  private def forBlocks(n: Int, nBlocks: Int)(body: (Int, Int) => Unit): Unit =
    IntStream.range(0, nBlocks).parallel().forEach { b =>
      body(b * Block, math.min(n, (b + 1) * Block))
    }

  private def addInto(acc: Array[Double], p: Array[Double]): Unit = {
    var q = 0
    while (q < acc.length) { acc(q) += p(q); q += 1 }
  }

  /** A factor matrix as a flat row-major array. */
  private def rowMajor(f: DenseMatrix[Double]): Array[Double] =
    Array.tabulate(f.rows * f.cols)(q => f(q / f.cols, q % f.cols))

  /** Σₖ u(uOff+k)·v(vOff+k), summed over k in order. */
  private def dot(u: Array[Double], uOff: Int, v: Array[Double], vOff: Int, r: Int): Double = {
    var s = 0.0; var k = 0
    while (k < r) { s += u(uOff + k) * v(vOff + k); k += 1 }
    s
  }

  /** tᵢⱼ − aᵢ·bⱼ for fixed cell q = (i, j), where the target
    * tᵢⱼ = xᵢⱼ + wᵢⱼ·(aᵢ·bⱼ), raised to cᵢⱼ when cᵢⱼ > 0 and tᵢⱼ < cᵢⱼ. */
  private def residual(f: FixedCells, q: Int, a: Array[Double], aOff: Int,
                       b: Array[Double], r: Int): Double = {
    val ab = dot(a, aOff, b, f.col(q) * r, r)
    var v = f.x(q) + f.w(q) * ab
    val cq = f.c(q)
    if (cq > 0 && v < cq) v = cq
    v - ab
  }

  /** A half-step for one row: solves (BᵀB+λI)·aᵢ = Σⱼ tᵢⱼ·bⱼ, written as
    * BᵀB·aᵢ + Σ over the row's fixed columns of (tᵢⱼ − aᵢ·bⱼ)·bⱼ, with
    * `g` = BᵀB and `chol` its factor from [[gramCholesky]], and writes
    * max(0, ·) of the solution back over aᵢ. `y` (length r) is scratch. */
  private def solveRow(f: FixedCells, i: Int, b: Array[Double], g: Array[Double],
                       chol: Array[Double], r: Int, a: Array[Double], aOff: Int,
                       y: Array[Double]): Unit = {
    var k = 0
    while (k < r) { y(k) = dot(g, k * r, a, aOff, r); k += 1 }
    var q = f.start(i)
    while (q < f.start(i + 1)) {
      val d = residual(f, q, a, aOff, b, r)
      val bo = f.col(q) * r
      k = 0
      while (k < r) { y(k) += d * b(bo + k); k += 1 }
      q += 1
    }
    cholSolve(chol, r, y)
    k = 0
    while (k < r) { val v = y(k); a(aOff + k) = if (v < 0.0) 0.0 else v; k += 1 }
  }

  /** B-step partial layout: Σᵢ aᵢᵀaᵢ as r×r row-major, then
    * Σᵢ (tᵢⱼ − aᵢ·bⱼ)·aᵢ over fixed cells as m×r row-major. */
  private def partialSize(m: Int, r: Int): Int = r * r + m * r

  /** B half-step for one row: adds aᵢᵀaᵢ and, for each fixed column j,
    * (tᵢⱼ − aᵢ·bⱼ)·aᵢ into the partial `p` ([[partialSize]] layout). */
  private def accumulateRow(f: FixedCells, i: Int, a: Array[Double], aOff: Int,
                            b: Array[Double], r: Int, p: Array[Double]): Unit = {
    var q = f.start(i)
    while (q < f.start(i + 1)) {
      val d = residual(f, q, a, aOff, b, r)
      val po = r * r + f.col(q) * r
      var k = 0
      while (k < r) { p(po + k) += d * a(aOff + k); k += 1 }
      q += 1
    }
    var k = 0
    while (k < r) {
      val ak = a(aOff + k)
      var l = 0
      while (l < r) { p(k * r + l) += ak * a(aOff + l); l += 1 }
      k += 1
    }
  }

  /** BᵀB into `g` (r×r, full) and the Cholesky factor of BᵀB+λI into `chol`. */
  private def gramCholesky(b: Array[Double], m: Int, r: Int, lambda: Double,
                           g: Array[Double], chol: Array[Double]): Unit = {
    var k = 0
    while (k < r) {
      var l = 0
      while (l <= k) {
        var s = 0.0; var j = 0
        while (j < m) { s += b(j * r + k) * b(j * r + l); j += 1 }
        g(k * r + l) = s; g(l * r + k) = s
        l += 1
      }
      k += 1
    }
    cholesky(g, r, lambda, chol)
  }

  /** Solves every column of B from a reduced partial: (AᵀA+λI)·bⱼ =
    * Σᵢ tᵢⱼ·aᵢ = AᵀA·bⱼ + (fixed-cell residual sum)ⱼ, clamped to max(0, ·),
    * written over `b` (m×r row-major). */
  private def solveColumns(p: Array[Double], m: Int, r: Int, lambda: Double,
                           b: Array[Double]): Unit = {
    val chol = new Array[Double](r * r)
    cholesky(p, r, lambda, chol) // AᵀA leads the partial
    val y = new Array[Double](r)
    var j = 0
    while (j < m) {
      var k = 0
      while (k < r) { y(k) = dot(p, k * r, b, j * r, r) + p(r * r + j * r + k); k += 1 }
      cholSolve(chol, r, y)
      k = 0
      while (k < r) { val v = y(k); b(j * r + k) = if (v < 0.0) 0.0 else v; k += 1 }
      j += 1
    }
  }

  /** Lower Cholesky factor of G+λI, G r×r row-major at the head of `g`
    * (only its lower triangle is read). */
  private def cholesky(g: Array[Double], r: Int, lambda: Double, chol: Array[Double]): Unit = {
    var i = 0
    while (i < r) {
      var j = 0
      while (j <= i) {
        var s = g(i * r + j)
        if (i == j) s += lambda
        var k = 0
        while (k < j) { s -= chol(i * r + k) * chol(j * r + k); k += 1 }
        if (i == j) {
          if (s <= 0.0) throw new MatrixSingularException(
            s"normal equations are not positive definite (pivot $i = $s, lambda = $lambda)")
          chol(i * r + i) = math.sqrt(s)
        } else chol(i * r + j) = s / chol(j * r + j)
        j += 1
      }
      i += 1
    }
  }

  /** Solves L·Lᵀ·y' = y in place. */
  private def cholSolve(chol: Array[Double], r: Int, y: Array[Double]): Unit = {
    var i = 0
    while (i < r) {
      var s = y(i); var k = 0
      while (k < i) { s -= chol(i * r + k) * y(k); k += 1 }
      y(i) = s / chol(i * r + i)
      i += 1
    }
    i = r - 1
    while (i >= 0) {
      var s = y(i); var k = i + 1
      while (k < r) { s -= chol(k * r + i) * y(k); k += 1 }
      y(i) = s / chol(i * r + i)
      i -= 1
    }
  }
}

/** The cells of an n×m problem whose ALS target is not simply aᵢ·bⱼ:
  * observed (w = 1−mask ≠ 1), holding a value (x ≠ 0) or censored
  * (c > 0). Every other cell's target is exactly 0 + 1·(aᵢ·bⱼ), which the
  * row solves fold in through the Gram matrices instead of visiting the
  * cell. Stored row by row (CSR): row i's cells are q ∈ [start(i),
  * start(i+1)), at column col(q) with values x(q), w(q), c(q), in column
  * order. */
private[linalg] final class FixedCells(val start: Array[Int], val col: Array[Int],
                                       val x: Array[Double], val w: Array[Double],
                                       val c: Array[Double])

private[linalg] object FixedCells {
  /** From column-major n×m values, mask and cutoffs: one pass counts each
    * row's cells, a second fills arrays of the exact size. */
  def apply(x: Array[Double], mask: Array[Double], cut: Array[Double],
            n: Int, m: Int): FixedCells = {
    def fixed(q: Int): Boolean = mask(q) != 0.0 || x(q) != 0.0 || cut(q) > 0.0
    val start = new Array[Int](n + 1)
    var i = 0
    while (i < n) {
      var nnz = start(i)
      var j = 0
      while (j < m) { if (fixed(j * n + i)) nnz += 1; j += 1 }
      start(i + 1) = nnz
      i += 1
    }
    val size = start(n)
    val col = new Array[Int](size)
    val xv, wv, cv = new Array[Double](size)
    i = 0
    while (i < n) {
      var p = start(i)
      var j = 0
      while (j < m) {
        val q = j * n + i
        if (fixed(q)) {
          col(p) = j; xv(p) = x(q); wv(p) = 1.0 - mask(q); cv(p) = cut(q)
          p += 1
        }
        j += 1
      }
      i += 1
    }
    new FixedCells(start, col, xv, wv, cv)
  }
}
