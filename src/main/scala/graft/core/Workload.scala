package graft.core

import scala.collection.mutable

/** Driver-resident workload matrix: rows = queries, cols = hint sets,
  * cell = runtime seconds (SURVEY §1.1). The largest reference instance is
  * 6191×49 ≈ 2.4 MB, so the strategy loops run on the driver between Spark
  * jobs (SURVEY §1.3); the long-format DataFrame in [[graft.sources.Workloads]]
  * is the relational source of truth for anything that needs to scale.
  *
  * Hint groups use value-equality within a row (equal runtime ⇒ same physical
  * plan), validated bit-exact against the reference's union-find construction
  * on the Oracle/JOB trace (SURVEY §5.3; `limeqo.ipynb · cell 4`).
  */
final class WorkloadMatrix(
    val queryIds: Array[String],
    val values: Array[Array[Double]]) {

  val nRows: Int = values.length
  val nCols: Int = if (nRows == 0) 0 else values(0).length

  /** groupMembers(i)(j) = all columns of row i whose runtime equals
    * values(i)(j) — the reference's `get_same_hints(i, j)`
    * (`src/data/dataset.py:201-203`). */
  val groupMembers: Array[Array[Array[Int]]] = {
    Array.tabulate(nRows) { i =>
      val byValue = mutable.LinkedHashMap.empty[Double, mutable.ArrayBuffer[Int]]
      var j = 0
      while (j < nCols) {
        byValue.getOrElseUpdate(values(i)(j), mutable.ArrayBuffer.empty) += j
        j += 1
      }
      val memberOf = new Array[Array[Int]](nCols)
      byValue.values.foreach { cols =>
        val arr = cols.toArray
        cols.foreach(c => memberOf(c) = arr)
      }
      memberOf
    }
  }

  def sameHints(row: Int, col: Int): Array[Int] = groupMembers(row)(col)

  /** Σ M[:,0] — total latency of the default plans (`dataset.py:34`). */
  lazy val defaultTime: Double = { var s = 0.0; var i = 0; while (i < nRows) { s += values(i)(0); i += 1 }; s }

  /** Σ min(M, axis=1) — the all-knowing optimum (`dataset.py:35`). */
  lazy val optTime: Double = {
    var s = 0.0; var i = 0
    while (i < nRows) { var m = Double.PositiveInfinity; var j = 0
      while (j < nCols) { if (values(i)(j) < m) m = values(i)(j); j += 1 }; s += m; i += 1 }
    s
  }

  /** argmin per row, lowest column index on ties (np.argmin). */
  def rowArgMin: Array[Int] = Array.tabulate(nRows) { i =>
    var best = 0; var j = 1
    while (j < nCols) { if (values(i)(j) < values(i)(best)) best = j; j += 1 }
    best
  }

  def rowMin: Array[Double] = Array.tabulate(nRows) { i => values(i)(rowArgMinRow(i)) }
  private def rowArgMinRow(i: Int): Int = {
    var best = 0; var j = 1
    while (j < nCols) { if (values(i)(j) < values(i)(best)) best = j; j += 1 }
    best
  }
}

/** Mutable per-run exploration state shared by all strategies
  * (mask / explored / timeout matrices, SURVEY §1.1).
  */
final class RoundState(val w: WorkloadMatrix) {
  val mask: Array[Array[Boolean]] = Array.ofDim[Boolean](w.nRows, w.nCols)
  val explored: Array[Array[Boolean]] = Array.ofDim[Boolean](w.nRows, w.nCols)
  val timeoutM: Array[Array[Double]] = Array.ofDim[Double](w.nRows, w.nCols)
  var timeout: Double = 0.0
  val exploreQueries: mutable.Set[Int] = mutable.Set.empty

  def observe(row: Int, col: Int): Unit = {
    val g = w.sameHints(row, col); var k = 0
    while (k < g.length) { mask(row)(g(k)) = true; k += 1 }
  }
  def markExplored(row: Int, col: Int): Unit = {
    val g = w.sameHints(row, col); var k = 0
    while (k < g.length) { explored(row)(g(k)) = true; k += 1 }
  }
  def markTimeout(row: Int, col: Int, cutoff: Double): Unit = {
    val g = w.sameHints(row, col); var k = 0
    while (k < g.length) { timeoutM(row)(g(k)) = cutoff; k += 1 }
  }

  /** `get_min_observed` (`dataset.py:221-225`): per-row min over observed
    * cells; 0-valued cells count as unobserved (the reference's 0→∞
    * sentinel); +∞ when nothing observed. */
  def minObserved: Array[Double] = Array.tabulate(w.nRows) { i =>
    var m = Double.PositiveInfinity; var j = 0
    while (j < w.nCols) {
      val v = w.values(i)(j)
      if (mask(i)(j) && v != 0.0 && v < m) m = v
      j += 1
    }
    m
  }

  /** `get_exec_time` (`dataset.py:205-219`): Σ of one runtime per observed
    * hint-group per row (equivalent plans counted once). With value-equality
    * groups this is the sum of distinct observed values per row, added in
    * column order; "distinct" is `Double.equals` (equal bit patterns), and
    * each row is checked cell by cell, since an init mask can observe part
    * of a group. */
  def execTime: Double = {
    val seen = new Array[Long](w.nCols)
    var s = 0.0; var i = 0
    while (i < w.nRows) {
      var nSeen = 0; var j = 0
      while (j < w.nCols) {
        if (mask(i)(j)) {
          val v = w.values(i)(j)
          val bits = java.lang.Double.doubleToLongBits(v)
          var k = 0
          while (k < nSeen && seen(k) != bits) k += 1
          if (k == nSeen) { seen(nSeen) = bits; nSeen += 1; s += v }
        }
        j += 1
      }
      i += 1
    }
    s
  }

  def metrics(trainingTime: Double = 0.0, inferenceTime: Double = 0.0): RoundMetrics = {
    val mo = minObserved
    var total = 0.0; var i = 0
    while (i < mo.length) { total += mo(i); i += 1 }
    java.util.Arrays.sort(mo) // after the sum: it adds in row order
    RoundMetrics(
      trainingTime, inferenceTime,
      execTime + timeout, total,
      Percentile.ofSorted(mo, 50), Percentile.ofSorted(mo, 90),
      Percentile.ofSorted(mo, 95), Percentile.ofSorted(mo, 99),
      exploreQueries.size)
  }
}
