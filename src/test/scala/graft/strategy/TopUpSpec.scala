package graft.strategy

import scala.util.Random
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{RoundState, WorkloadMatrix}

/** LimeQO's random top-up refreshes its stop test (min-observed and "any
  * cell left") only after a draw that observed or censored a cell. It must
  * leave exactly the state that refreshing before every draw leaves: the
  * reference below is that per-draw loop.
  */
class TopUpSpec extends AnyFunSuite {

  /** The top-up with the stop test recomputed before every draw. */
  private def reference(st: RoundState, batch: Int, rng: Random): Option[Array[Double]] = {
    val w = st.w
    var cnt = 0
    var refreshed: Option[Array[Double]] = None
    var done = false
    while (cnt < batch && !done) {
      val mo = st.minObserved
      refreshed = Some(mo)
      if (mo.sum <= w.optTime + 50 || !Exploration.anyUnexplored(st)) done = true
      else {
        val row = rng.nextInt(w.nRows)
        val col = rng.nextInt(w.nCols)
        if (!st.mask(row)(col) && !st.explored(row)(col)) {
          if (w.values(row)(col) >= mo(row)) {
            st.timeout += mo(row)
            st.markExplored(row, col)
            st.markTimeout(row, col, mo(row))
          } else {
            st.markExplored(row, col)
            st.observe(row, col)
            cnt += 1
            st.exploreQueries += row
          }
        }
      }
    }
    refreshed
  }

  Seq((1, 12, 6, 30), (2, 30, 5, 200), (3, 8, 4, 1000)).foreach { case (seed, n, m, batch) =>
    test(s"seed $seed, $n x $m, batch $batch: the cached stop test leaves the per-draw state") {
      val r = new Random(seed)
      val w = new WorkloadMatrix(Array.tabulate(n)(i => s"q$i"),
        Array.fill(n, m)(math.rint(r.nextDouble() * 40) * 2.5 + 5))
      def fresh(): RoundState = { val st = new RoundState(w); Exploration.observeDefaults(st); st }
      val (got, want) = (fresh(), fresh())
      // every prediction 0 reads as +inf: the model picks nothing and the
      // whole batch goes to the top-up
      val ranked = LimeQORound.rank(got, Array.ofDim[Double](n, m))
      val (gotRng, wantRng) = (new Random(seed * 31), new Random(seed * 31))
      val gotMo = LimeQORound.explore(got, ranked, got.minObserved, 1.0, 15.0, batch, gotRng)
      val wantMo = reference(want, batch, wantRng)
      assert(gotMo.map(_.toSeq) == wantMo.map(_.toSeq))
      assert(got.mask.map(_.toSeq).toSeq == want.mask.map(_.toSeq).toSeq)
      assert(got.explored.map(_.toSeq).toSeq == want.explored.map(_.toSeq).toSeq)
      assert(got.timeoutM.map(_.toSeq).toSeq == want.timeoutM.map(_.toSeq).toSeq)
      assert(got.timeout == want.timeout && got.exploreQueries == want.exploreQueries)
      assert(gotRng.nextLong() == wantRng.nextLong(), "the draws consumed the same stream")
      assert(got.timeout > 0 && got.exploreQueries.nonEmpty, "the top-up censored and observed")
    }
  }
}
