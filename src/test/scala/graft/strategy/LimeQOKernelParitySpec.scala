package graft.strategy

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{RoundMetrics, WorkloadMatrix}
import graft.linalg.BreezeCensoredALS

/** The fused ALS kernel must not change what LimeQO explores: three rounds
  * on a seeded 600×49 matrix with the default kernel and with the
  * whole-matrix Breeze oracle give identical round metrics (wall-clock
  * training and inference times aside) and identical final masks.
  */
class LimeQOKernelParitySpec extends AnyFunSuite {

  private val n = 600; private val m = 49
  private val (w, init) = {
    val rng = new scala.util.Random(601)
    val a = Array.fill(n, 5)(rng.nextDouble())
    val b = Array.fill(m, 5)(rng.nextDouble())
    val values = Array.tabulate(n, m) { (i, j) =>
      var dot = 0.0
      (0 until 5).foreach(k => dot += a(i)(k) * b(j)(k))
      math.expm1(1.5 * dot) + 0.01 * rng.nextDouble()
    }
    val init = Array.tabulate(n, m)((_, j) => j == 0 || rng.nextDouble() < 0.06)
    (new WorkloadMatrix(Array.tabulate(n)(i => s"q$i"), values), init)
  }

  private def run(oracle: Boolean): (Vector[RoundMetrics], Array[Array[Boolean]]) = {
    val snap = Files.createTempDirectory("limeqo_kernel_parity").resolve("state.json")
    val s =
      if (oracle) new LimeQOStrategy(seed = 5, maxRounds = 3,
        alsFactory = new BreezeCensoredALS(_, _, _, _))
      else new LimeQOStrategy(seed = 5, maxRounds = 3)
    val metrics = s.run(w, Some(init), None, Some(snap))
    (metrics.map(_.copy(trainingTime = 0.0, inferenceTime = 0.0)),
      RunSnapshot.load(snap).getOrElse(fail("no snapshot written")).mask)
  }

  test("three LimeQO rounds select identically with the fused kernel and the oracle") {
    val (want, wantMask) = run(oracle = true)
    val (got, gotMask) = run(oracle = false)
    assert(want.length == 3)
    assert(got == want)
    assert(gotMask.map(_.toSeq).toSeq == wantMask.map(_.toSeq).toSeq)
    assert(gotMask.map(_.count(identity)).sum > init.map(_.count(identity)).sum,
      "the rounds observed new cells")
  }
}
