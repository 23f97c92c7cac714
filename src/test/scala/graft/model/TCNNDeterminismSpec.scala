package graft.model

import java.util.concurrent.{Callable, ForkJoinPool}
import org.scalatest.funsuite.AnyFunSuite
import graft.strategy.RunSnapshot

/** Pins [[TCNN]]'s determinism contract: dropout masks are drawn before the
  * parallel work and gradient terms are added in (sample, node, op) order,
  * so training and scoring are bit-identical across calls and across the
  * number of threads running them (a parallel stream runs in the pool its
  * caller is in).
  */
class TCNNDeterminismSpec extends AnyFunSuite {
  import TCNNParity.{censors, fz, nSamples, samples}

  /** Two epochs of minibatches of 8 (a short final batch of 5), then the
    * serialized model and the corpus's predictions. */
  private def run(): (String, Array[Double]) = {
    val net = new TCNN(fz.numFeatures, rank = 3, nRows = nSamples, nCols = 7, seed = 21)
    net.train(samples, censors, batchSize = 8, maxEpochs = 2, shuffleSeed = 9)
    (RunSnapshot.blob(net), net.predictAll(samples))
  }

  private def inPool(threads: Int): (String, Array[Double]) = {
    val pool = new ForkJoinPool(threads)
    try pool.submit(new Callable[(String, Array[Double])] { def call() = run() }).get()
    finally pool.shutdown()
  }

  private def assertSame(a: (String, Array[Double]), b: (String, Array[Double])): Unit = {
    assert(a._1 == b._1, "serialized model")
    assert(java.util.Arrays.equals(a._2, b._2), "predictions")
  }

  test("repeated calls are bit-identical") {
    val first = run()
    (1 to 2).foreach(_ => assertSame(run(), first))
  }

  test("one thread and four threads give bit-identical models and predictions") {
    val one = inPool(1)
    val four = inPool(4)
    assertSame(one, four)
    assertSame(inPool(1), one)
    assertSame(inPool(4), four)
  }
}
