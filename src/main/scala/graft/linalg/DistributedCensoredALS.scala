package graft.linalg

import breeze.linalg.DenseMatrix
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession

/** Distributed censored ALS for workload matrices that outgrow the driver
  * (SURVEY §4.3's scale path; the reference's own matrices never need it).
  *
  * Design — the spark.ml ALS shape specialized to this kernel's semantics:
  * the column-factor matrix B is m×rank (49×5 for the reference hint space:
  * tiny, and still tiny for any plausible hint space), so B is BROADCAST
  * and only the row side distributes:
  *
  *  - the STATIC row data (each row's [[FixedCells]]: the observed,
  *    valued or censored cells only) is cached ONCE and never re-cached; only the row FACTORS (rank doubles
  *    per row) churn between iterations, co-partitioned with the statics
  *    via `zipPartitions`. Re-caching the statics every iteration was the
  *    1M-row soak's dominant cost (GB-scale cache churn per round for a
  *    40 B/row state change);
  *  - each partition solves its rows' ridge systems locally against the
  *    broadcast B, with BᵀB+λI factored once per partition —
  *    embarrassingly parallel, no shuffle;
  *  - the B update needs Σ_i targetᵢᵀ·Aᵢ (m×r) and AᵀA (r×r): ONE partial
  *    per partition (m·r + r² doubles — KBs), reduced on the driver, so
  *    per-iteration network cost is independent of row count;
  *  - the per-row work (impute, censor clamp, solve, nonneg clamp, and the
  *    B-step accumulation) is [[CensoredALS]]'s own row routines, run
  *    sequentially inside each partition: one implementation, two
  *    schedulers.
  *
  * Semantics match [[CensoredALS]] given the same initial factors (only
  * the B-step summation order differs): verified in DistributedALSSpec by
  * seeding both with identical A₀/B₀.
  */
final class DistributedCensoredALS(
    spark: SparkSession, rank: Int, iters: Int, lambda: Double, seed: Long,
    numPartitions: Int = 0) extends MatrixCompletion {

  import DistributedCensoredALS.StaticRow

  override def complete(x: DenseMatrix[Double], mask: DenseMatrix[Double],
                        cutoffs: DenseMatrix[Double]): DenseMatrix[Double] = {
    val rng = new scala.util.Random(seed)
    val a0 = DenseMatrix.fill(x.rows, rank)(rng.nextDouble())
    val b0 = DenseMatrix.fill(x.cols, rank)(rng.nextDouble())
    completeFrom(x, mask, cutoffs, a0, b0)
  }

  /** Completion from explicit initial factors (enables equivalence tests
    * against the driver kernel). */
  def completeFrom(x: DenseMatrix[Double], mask: DenseMatrix[Double],
                   cutoffs: DenseMatrix[Double],
                   a0: DenseMatrix[Double], b0: DenseMatrix[Double]): DenseMatrix[Double] = {
    val n = x.rows; val m = x.cols
    val rk = rank
    val sc = spark.sparkContext
    val parts = if (numPartitions > 0) numPartitions else sc.defaultParallelism

    val static = sc.parallelize(
      (0 until n).map(i => StaticRow(i,
        Array.tabulate(m)(j => x(i, j)),
        Array.tabulate(m)(j => mask(i, j)),
        Array.tabulate(m)(j => cutoffs(i, j)))),
      parts).cache()
    static.count()
    val factors0 = static.map(st => Array.tabulate(rk)(k => a0(st.i, k))).cache()
    val (factors, b) = runIters(static, factors0, m, b0)

    // assemble completion X + (1−mask)∘ABᵀ
    val aFinal = DenseMatrix.zeros[Double](n, rk)
    static.zipPartitions(factors, preservesPartitioning = true) { (sit, fit) =>
      sit.zip(fit).map { case (st, ar) => (st.i, ar) }
    }.collect().foreach { case (i, ar) =>
      (0 until rk).foreach(k => aFinal(i, k) = ar(k))
    }
    factors.unpersist(false)
    static.unpersist(false)
    val out = x.copy
    var i = 0
    while (i < n) {
      var j = 0
      while (j < m) {
        if (mask(i, j) == 0.0) {
          var dot = 0.0; var k = 0
          while (k < rk) { dot += aFinal(i, k) * b(j * rk + k); k += 1 }
          out(i, j) = x(i, j) + dot
        }
        j += 1
      }
      i += 1
    }
    out
  }

  /** Scale entry point: rows are GENERATED ON EXECUTORS from the row index
    * — at 1M×49 the matrix-in API above would build ~1.2 GB of driver
    * DenseMatrix and serialize all of it through `parallelize`, which is
    * exactly the regime this class exists to escape. `rowGen(i)` returns
    * (xRow, maskRow, cutoffRow); `a0Gen(i)` the row's initial factors;
    * both must be pure (deterministic from i — the same contract as the
    * engine's seeded generators). Returns the row factors as (i, aᵢ)
    * pairs (still cached — caller unpersists) plus B; callers predict
    * cells on demand via aᵢ·bⱼ, because at this scale a completed n×m
    * matrix wouldn't fit a driver. */
  private[graft] def factorsFromRowGen(nRows: Int, m: Int,
      rowGen: Int => (Array[Double], Array[Double], Array[Double]),
      a0Gen: Int => Array[Double],
      b0: DenseMatrix[Double]): (RDD[(Int, Array[Double])], DenseMatrix[Double]) = {
    val rk = rank
    val sc = spark.sparkContext
    val parts = if (numPartitions > 0) numPartitions else sc.defaultParallelism
    val static = sc.range(0, nRows.toLong, 1, parts).map { iL =>
      val i = iL.toInt
      val (xr, mr, cr) = rowGen(i)
      StaticRow(i, xr, mr, cr)
    }.cache()
    static.count() // materialize generation apart from the first iteration
    val factors0 = static.map(st => a0Gen(st.i)).cache()
    val (factors, b) = runIters(static, factors0, m, b0)
    val out = static.zipPartitions(factors, preservesPartitioning = true) { (sit, fit) =>
      sit.zip(fit).map { case (st, ar) => (st.i, ar) }
    }.cache()
    out.count()
    factors.unpersist(false)
    static.unpersist(false)
    (out, DenseMatrix.tabulate(m, rk)((j, k) => b(j * rk + k)))
  }

  /** The shared ALS loop: statics cached once, factors re-derived (and
    * re-cached — rank doubles per row, not the row data) each iteration.
    * Each partition runs [[CensoredALS]]'s row routines sequentially.
    * Returns the final cached factors RDD (caller unpersists) and B as a
    * flat m×r row-major array. */
  private def runIters(static: RDD[StaticRow], factors0: RDD[Array[Double]],
                       m: Int, b0: DenseMatrix[Double]): (RDD[Array[Double]], Array[Double]) = {
    // local copies so Spark closures don't capture `this` (which holds the
    // non-serializable SparkSession)
    val rk = rank; val lam = lambda
    val sc = spark.sparkContext
    var factors = factors0
    var b = CensoredALS.rowMajor(b0)

    var it = 0
    while (it < iters) {
      val bBc = sc.broadcast(b)

      // --- A update: per-row ridge solve against broadcast B, with BᵀB
      // and its factor hoisted out of the row loop
      val newFactors = static.zipPartitions(factors, preservesPartitioning = true) {
        (sit, fit) =>
          val bL = bBc.value
          val g = new Array[Double](rk * rk); val chol = new Array[Double](rk * rk)
          CensoredALS.gramCholesky(bL, m, rk, lam, g, chol)
          val y = new Array[Double](rk)
          sit.zip(fit).map { case (st, ar) =>
            val next = ar.clone() // the cached parent's rows stay untouched
            CensoredALS.solveRow(st.cells, 0, bL, g, chol, rk, next, 0, y)
            next
          }
      }.cache()
      newFactors.count() // materialize before unpersisting parent
      factors.unpersist(false)
      factors = newFactors

      // --- B update: one partial per partition, reduced ---
      val acc = static.zipPartitions(factors, preservesPartitioning = true) {
        (sit, fit) =>
          val bL = bBc.value
          val p = new Array[Double](CensoredALS.partialSize(m, rk))
          sit.zip(fit).foreach { case (st, ar) =>
            CensoredALS.accumulateRow(st.cells, 0, ar, 0, bL, rk, p)
          }
          Iterator(p)
      }.reduce((p1, p2) => Array.tabulate(p1.length)(q => p1(q) + p2(q)))
      b = b.clone() // bBc may share the old array; recomputed lineage must still see it
      CensoredALS.solveColumns(acc, m, rk, lam, b)
      it += 1
    }
    (factors, b)
  }
}

object DistributedCensoredALS {
  /** Row-partitioned immutable static data: the row index and the row's
    * [[FixedCells]] (the only cells the row solves visit).
    * Top-level so Spark closures don't drag an `$outer` reference along. */
  private[linalg] final case class StaticRow(i: Int, cells: FixedCells)

  private[linalg] object StaticRow {
    def apply(i: Int, xRow: Array[Double], maskRow: Array[Double],
              cutRow: Array[Double]): StaticRow =
      StaticRow(i, FixedCells(xRow, maskRow, cutRow, 1, xRow.length))
  }
}
