package graft.tools

import breeze.linalg.DenseMatrix
import graft.linalg.{CensoredALS, DistributedCensoredALS}

/** Scale soak for [[graft.linalg.DistributedCensoredALS]] — the 100 TB
  * ambition's core kernel rehearsed BEYOND driver scale (the agreement spec
  * runs reference shapes; this runs the regime the distributed path exists
  * for: a 1M×49 rank-5 matrix whose driver DenseMatrix form would be
  * ~1.2 GB across x/mask/cutoffs).
  *
  *   graft.tools.AlsScaleSoak [sizes]     # default 250000,500000,1000000
  *
  * Ground truth is a seeded rank-5 product (U·Vᵀ from splitmix hashes —
  * pure functions of the indices, generated ON EXECUTORS via
  * `factorsFromRowGen`, nothing driver-side), with 30 % of cells observed
  * and 5 % of the unobserved carrying right-censoring cutoffs at 80 % of
  * truth, mirroring the LimeQO timeout ledger. Reports, per size:
  * generation-excluded fit seconds, s/round, and RMSE vs ground truth on a
  * held-out unobserved sample — plus a parity block: the same generator's
  * first 3133 rows (the CEB workload shape) run through BOTH kernels from
  * shared inits, max |Δ| printed (reference semantics anchor:
  * matrix_factorization.py:21-34 must hold at every scale).
  */
object AlsScaleSoak {

  private val M = 49
  private val Rank = 5
  private val Iters = 5
  private val Lambda = 0.2

  /** splitmix64-derived double in [0,1) — pure in (tag, i, j). */
  private def hd(tag: Long, i: Long, j: Long): Double = {
    var z = tag * 0x9e3779b97f4a7c15L + (i + 1) * 0xbf58476d1ce4e5b9L +
      (j + 1) * 0x94d049bb133111ebL
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^= z >>> 31
    (z >>> 11).toDouble / (1L << 53).toDouble
  }

  private def u(i: Long, k: Int): Double = hd(2, i, k)
  private def v(j: Int, k: Int): Double = hd(1, j, k)
  private def xTrue(i: Long, j: Int): Double = {
    var s = 0.0; var k = 0
    while (k < Rank) { s += u(i, k) * v(j, k); k += 1 }
    s
  }
  private def observed(i: Long, j: Int): Boolean = hd(3, i, j) < 0.3
  private def censoredCut(i: Long, j: Int): Double =
    if (!observed(i, j) && hd(6, i, j) < 0.05) 0.8 * xTrue(i, j) else 0.0

  private def rowGen(i: Int): (Array[Double], Array[Double], Array[Double]) = {
    val xr = new Array[Double](M); val mr = new Array[Double](M)
    val cr = new Array[Double](M)
    var j = 0
    while (j < M) {
      if (observed(i, j)) { xr(j) = xTrue(i, j); mr(j) = 1.0 }
      else cr(j) = censoredCut(i, j)
      j += 1
    }
    (xr, mr, cr)
  }
  private def a0Gen(i: Int): Array[Double] = Array.tabulate(Rank)(k => hd(4, i, k))
  private def b0: DenseMatrix[Double] =
    DenseMatrix.tabulate(M, Rank)((j, k) => hd(5, j, k))

  def main(args: Array[String]): Unit = {
    val sizes = args.headOption.getOrElse("250000,500000,1000000")
      .split(",").map(_.trim.toInt).toSeq
    val spark = graft.Cli.session()
    val sc = spark.sparkContext

    // ---- parity: same generator, first 3133 rows (CEB shape), both kernels
    {
      val n = 3133
      val x = DenseMatrix.tabulate(n, M)((i, j) => if (observed(i, j)) xTrue(i, j) else 0.0)
      val mask = DenseMatrix.tabulate(n, M)((i, j) => if (observed(i, j)) 1.0 else 0.0)
      val cut = DenseMatrix.tabulate(n, M)((i, j) => censoredCut(i, j))
      val a0 = DenseMatrix.tabulate(n, Rank)((i, k) => hd(4, i, k))
      val driver = new CensoredALS(Rank, Iters, Lambda, 0)
        .completeFrom(x, mask, cut, a0, b0)
      val dist = new DistributedCensoredALS(spark, Rank, Iters, Lambda, 0)
        .completeFrom(x, mask, cut, a0, b0)
      var maxDiff = 0.0
      for (i <- 0 until n; j <- 0 until M)
        maxDiff = math.max(maxDiff, math.abs(driver(i, j) - dist(i, j)))
      println(f"parity n=$n m=$M iters=$Iters: max|driver-dist| = $maxDiff%.3e")
    }

    // ---- scale runs: two passes per size, the WARM second pass is the
    // reported number — a cold JVM's C2 tiering alone moved the 1M fit
    // 66 s → 29 s, which would otherwise bury the scaling signal the soak
    // exists to measure
    sizes.foreach { n =>
      val als = new DistributedCensoredALS(spark, Rank, Iters, Lambda, 0)
      def fitOnce(): (org.apache.spark.rdd.RDD[(Int, Array[Double])],
                      DenseMatrix[Double], Double) = {
        val t0 = System.nanoTime()
        val (r, bOut) = als.factorsFromRowGen(n, M, rowGen, a0Gen, b0)
        (r, bOut, (System.nanoTime() - t0) / 1e9)
      }
      val (rows0, _, coldSecs) = fitOnce()
      rows0.unpersist(false)
      val (rows, b, fitSecs) = fitOnce()
      // RMSE on a ~2% held-out sample of unobserved, uncensored cells —
      // truth and masks recomputed from the hash generator on executors
      // (pure functions of the indices), B broadcast
      val bBc = sc.broadcast(b)
      val (sse, cnt) = rows.map { case (i, ar) =>
        val bL = bBc.value
        var s = 0.0; var c = 0L
        var j = 0
        while (j < M) {
          if (!observed(i, j) && censoredCut(i, j) == 0.0 && hd(7, i, j) < 0.02) {
            var p = 0.0; var k = 0
            while (k < Rank) { p += ar(k) * bL(j, k); k += 1 }
            val e = p - xTrue(i, j)
            s += e * e; c += 1L
          }
          j += 1
        }
        (s, c)
      }.reduce { case ((s1, c1), (s2, c2)) => (s1 + s2, c1 + c2) }
      rows.unpersist(false)
      val rmse = math.sqrt(sse / math.max(1L, cnt))
      println(f"n=$n%8d m=$M fit=${fitSecs}%7.2f s (cold $coldSecs%6.2f)  " +
        f"s/round=${fitSecs / Iters}%6.2f  rmse(heldout,$cnt%d cells)=$rmse%.4f")
    }
    spark.stop()
  }
}
