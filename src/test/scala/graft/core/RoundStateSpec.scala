package graft.core

import scala.util.Random
import org.scalatest.funsuite.AnyFunSuite

/** `RoundState.execTime` checks distinct values with a primitive scan and
  * `RoundState.metrics` sorts min-observed once for its four quantiles.
  * Both must give the bits of the boxed, sort-per-quantile versions they
  * replaced, which the references below keep verbatim.
  */
class RoundStateSpec extends AnyFunSuite {

  /** The `HashSet[java.lang.Double]` distinct check, row by row. */
  private def referenceExecTime(st: RoundState): Double = {
    val w = st.w
    var s = 0.0; var i = 0
    while (i < w.nRows) {
      val seen = new java.util.HashSet[java.lang.Double]()
      var j = 0
      while (j < w.nCols) {
        if (st.mask(i)(j)) {
          val v = w.values(i)(j)
          if (seen.add(v)) s += v
        }
        j += 1
      }
      i += 1
    }
    s
  }

  /** One clone and sort per quantile. */
  private def referencePercentile(values: Array[Double], q: Double): Double = {
    require(values.nonEmpty, "percentile of empty array")
    val a = values.clone()
    java.util.Arrays.sort(a)
    val pos = q / 100.0 * (a.length - 1)
    val lo = pos.toInt
    if (lo >= a.length - 1) a(a.length - 1)
    else a(lo) + (a(lo + 1) - a(lo)) * (pos - lo)
  }

  private def referenceMetrics(st: RoundState, trainingTime: Double,
                               inferenceTime: Double): RoundMetrics = {
    val mo = st.minObserved
    var total = 0.0; var i = 0
    while (i < mo.length) { total += mo(i); i += 1 }
    RoundMetrics(
      trainingTime, inferenceTime,
      referenceExecTime(st) + st.timeout, total,
      referencePercentile(mo, 50), referencePercentile(mo, 90),
      referencePercentile(mo, 95), referencePercentile(mo, 99),
      st.exploreQueries.size)
  }

  private def bits(m: RoundMetrics): Seq[Long] =
    Seq(m.trainingTime, m.inferenceTime, m.execTime, m.totalLatency, m.p50, m.p90, m.p95, m.p99)
      .map(java.lang.Double.doubleToRawLongBits) :+ m.exploreQueriesCnt.toLong

  /** A seeded n×m matrix drawn from a few values — long runs of ties in a
    * row, 0-valued and negative-zero cells among them — with a cell-wise
    * random mask (so groups are observed in part, as an init mask can),
    * `unobserved` of the rows with nothing observed (+∞ min-observed),
    * whole groups observed on top, and some timeouts. */
  private def state(seed: Int, n: Int, m: Int, unobserved: Double): RoundState = {
    val r = new Random(seed)
    val pool = Array(0.0, -0.0, 1.5, 2.25, 7.0, 0.1 + 0.2, 0.3, 1e-300, 123.456) ++
      Array.fill(8)(r.nextDouble() * 100)
    val w = new WorkloadMatrix(Array.tabulate(n)(i => s"q$i"),
      Array.fill(n, m)(pool(r.nextInt(pool.length))))
    val st = new RoundState(w)
    for (i <- 0 until n if r.nextDouble() >= unobserved) {
      for (j <- 0 until m if r.nextDouble() < 0.4) st.mask(i)(j) = true
      if (r.nextDouble() < 0.3) st.observe(i, r.nextInt(m))
      if (r.nextDouble() < 0.2) {
        val j = r.nextInt(m)
        st.markTimeout(i, j, w.values(i)(j))
        st.timeout += w.values(i)(j)
      }
      if (r.nextBoolean()) st.exploreQueries += i
    }
    st
  }

  Seq((1, 40, 7, 0.2), (2, 300, 49, 0.2), (3, 1, 5, 0.0), (4, 17, 1, 0.2), (5, 64, 3, 0.2),
      (6, 500, 49, 0.0), (7, 3133, 49, 0.0)).foreach { case (seed, n, m, unobserved) =>
    test(s"seed $seed, $n x $m, $unobserved unobserved: execTime and metrics keep the reference's bits") {
      val st = state(seed, n, m, unobserved)
      assert(java.lang.Double.doubleToRawLongBits(st.execTime) ==
        java.lang.Double.doubleToRawLongBits(referenceExecTime(st)))
      assert(bits(st.metrics(0.25, 0.5)) == bits(referenceMetrics(st, 0.25, 0.5)))
    }
  }

  test("execTime adds each distinct value of a row once, in column order") {
    val w = new WorkloadMatrix(Array("a", "b"), Array(
      Array(0.1, 0.2, 0.1, 0.0, -0.0, 0.2),
      Array(3.0, 3.0, 3.0, 3.0, 3.0, 3.0)))
    val st = new RoundState(w)
    st.mask(0).indices.foreach(j => st.mask(0)(j) = true)
    st.mask(1)(2) = true; st.mask(1)(4) = true // part of one group
    assert(st.execTime == ((0.1 + 0.2) + 0.0 + -0.0) + 3.0)
    assert(st.execTime == referenceExecTime(st))
  }

  test("a state with nothing observed keeps the reference's bits") {
    // +inf everywhere: the interpolation's inf - inf reads NaN in both
    Seq(1, 3, 8).foreach { n =>
      val w = new WorkloadMatrix(Array.tabulate(n)(i => s"q$i"), Array.fill(n, 4)(2.0))
      val m = new RoundState(w).metrics()
      assert(m.totalLatency == Double.PositiveInfinity && m.execTime == 0.0)
      assert(bits(m) == bits(referenceMetrics(new RoundState(w), 0.0, 0.0)), s"n = $n")
    }
  }
}
