package graft.tools

import java.util.concurrent.ForkJoinPool
import breeze.linalg.DenseMatrix
import graft.linalg.CensoredALS
import graft.sources.Workloads

/** Kernel micro-bench: censored-ALS call time (rank 5, 50 iterations, the
  * reference defaults) on a workload matrix and its init mask, against the
  * reference's recorded ~0.134 s/round on CEB
  * (`experiment/ceb/limeqo/1.json` records 2-3, BASELINE.md).
  *
  * {{{
  * graft.tools.AlsBench <matrix.csv> <init_mask.npy>
  * }}}
  */
object AlsBench {
  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: AlsBench <matrix.csv> <init_mask.npy>")
    val w = Workloads.matrixFromCsv(args(0))
    val mask = Workloads.initMask(args(1), w)
    val logM = DenseMatrix.tabulate(w.nRows, w.nCols)((r, c) =>
      if (mask(r)(c)) math.log1p(w.values(r)(c)) else 0.0)
    val maskM = DenseMatrix.tabulate(w.nRows, w.nCols)((r, c) => if (mask(r)(c)) 1.0 else 0.0)
    val zeros = DenseMatrix.zeros[Double](w.nRows, w.nCols)
    (1 to 3).foreach(_ => new CensoredALS(5, 50, 0.2, 42).complete(logM, maskM, zeros))
    val times = (1 to 10).map { i =>
      val t0 = System.nanoTime()
      new CensoredALS(5, 50, 0.2, i).complete(logM, maskM, zeros)
      (System.nanoTime() - t0) / 1e9
    }.sorted
    val median = (times(4) + times(5)) / 2
    println(f"${w.nRows}x${w.nCols} rank5 50iter censored ALS over 10 calls: " +
      f"median=$median%.4f s  max=${times.last}%.4f s  " +
      s"parallelism=${ForkJoinPool.commonPool().getParallelism}  (reference ~0.134 s/round on CEB)")
  }
}
