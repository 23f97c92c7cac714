package graft.linalg

import java.util.concurrent.{Callable, ForkJoinPool}
import breeze.linalg.DenseMatrix
import org.scalatest.funsuite.AnyFunSuite

/** Pins [[CensoredALS]]'s determinism contract: rows go in fixed blocks and
  * the B-step partials are reduced in block order, so the completion is
  * bit-identical across calls and across the number of threads running
  * the blocks (a parallel stream runs in the pool its caller is in).
  */
class CensoredALSDeterminismSpec extends AnyFunSuite {

  private val n = 1000; private val m = 49; private val rank = 5
  private val (x, mask, cut) = {
    val rng = new scala.util.Random(23)
    val truth = DenseMatrix.fill(n, rank)(rng.nextDouble()) *
      DenseMatrix.fill(m, rank)(rng.nextDouble()).t
    val mask = DenseMatrix.tabulate(n, m)((_, j) =>
      if (j == 0 || rng.nextDouble() < 0.1) 1.0 else 0.0)
    val cut = DenseMatrix.tabulate(n, m)((i, j) =>
      if (mask(i, j) == 0.0 && rng.nextDouble() < 0.05) truth(i, j) + 0.5 else 0.0)
    (truth *:* mask, mask, cut)
  }

  private def run(): Array[Double] = new CensoredALS(rank, 50, 0.2, 7).complete(x, mask, cut).data

  private def inPool(threads: Int): Array[Double] = {
    val pool = new ForkJoinPool(threads)
    try pool.submit(new Callable[Array[Double]] { def call(): Array[Double] = run() }).get()
    finally pool.shutdown()
  }

  test("repeated calls are bit-identical") {
    val first = run()
    (1 to 3).foreach(_ => assert(java.util.Arrays.equals(run(), first)))
  }

  test("one thread and four threads give bit-identical completions") {
    assert(n / CensoredALS.Block >= 4, "enough blocks to spread over four threads")
    val one = inPool(1)
    val four = inPool(4)
    assert(java.util.Arrays.equals(one, four))
    assert(java.util.Arrays.equals(one, run()))
  }

  test("inputs stored as views complete bit-identically to plain column-major ones") {
    // a transposed view, and a block of a larger matrix (offset and column
    // gap), are copied out; plain inputs are read in place
    def transposed(a: DenseMatrix[Double]) = a.t.copy.t
    def block(a: DenseMatrix[Double]) = {
      val big = DenseMatrix.zeros[Double](n + 3, m + 1)
      big(1 to n, 1 to m) := a
      big(1 to n, 1 to m)
    }
    val plain = run()
    Seq(transposed _, block _).foreach { view =>
      val (vx, vm, vc) = (view(x), view(mask), view(cut))
      assert(vx.isTranspose || vx.offset != 0)
      assert(java.util.Arrays.equals(
        new CensoredALS(rank, 50, 0.2, 7).complete(vx, vm, vc).data, plain))
    }
  }
}

