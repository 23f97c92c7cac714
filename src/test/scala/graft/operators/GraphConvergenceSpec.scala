package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SharedSpark

/** Convergence-driven PageRank (round-13 verdict task 5): the
  * tolerance-driven loop must converge on a constructed graph and match
  * a reference fixpoint computed INDEPENDENTLY on the driver (same update
  * rule, plain Scala, iterated far past the engine's tolerance), and
  * non-convergence must fail loudly instead of returning half-mixed
  * scores. The fixed-round gate forms (q129/q130) are untouched — they
  * exist for DuckDB replayability. */
class GraphConvergenceSpec extends AnyFunSuite with SharedSpark {
  import spark.implicits._

  // a bridge graph: triangle {1,2,3} — weak bridge — triangle {4,5,6}
  private val edgeList = Seq(
    (1L, 2L, 0.9), (2L, 3L, 0.8), (1L, 3L, 0.7),
    (3L, 4L, 0.2), // the bridge
    (4L, 5L, 0.9), (5L, 6L, 0.8), (4L, 6L, 0.7))
  private def edgesDF = edgeList.toDF("src_id", "nbr_id", "sim")
  private def idsDF = (1L to 6L).map(i => (i, if (i <= 3) 0 else 1))
    .toDF("vec_id", "label")

  /** The undirected max-weight adjacency the engine loop builds. */
  private val und: Map[Long, Seq[(Long, Double)]] = {
    val sym = edgeList.flatMap { case (a, b, w) => Seq((a, b, w), (b, a, w)) }
    sym.groupBy(e => (e._1, e._2)).map { case ((a, b), es) => (a, b, es.map(_._3).max) }
      .toSeq.groupBy(_._1).map { case (a, es) => a -> es.map(e => (e._2, e._3)) }
  }

  test("pageRankConverged matches the driver-side fixpoint and beats the fixed-round residual") {
    val damping = 0.85
    val n = 6
    val teleport = (1.0 - damping) / n
    val strength = und.map { case (a, es) => a -> es.map(_._2).sum }
    var ref = (1L to 6L).map(i => i -> 1.0 / n).toMap
    for (_ <- 1 to 500) {
      val inflow = (1L to 6L).map { v =>
        v -> und.toSeq.flatMap { case (u, es) =>
          es.filter(_._1 == v).map { case (_, w) => (w / strength(u)) * ref(u) }
        }.sum
      }.toMap
      ref = (1L to 6L).map(v => v -> (teleport + damping * inflow(v))).toMap
    }
    val got = KnnGraph.pageRankConverged(idsDF, edgesDF, tol = 1e-10, maxIters = 200)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    (1L to 6L).foreach { v =>
      assert(math.abs(got(v) - ref(v)) < 1e-8, s"vec $v: ${got(v)} vs ${ref(v)}")
    }
    // mass conservation at the fixpoint
    assert(math.abs(got.values.sum - 1.0) < 1e-6)
    // determinism
    val again = KnnGraph.pageRankConverged(idsDF, edgesDF, tol = 1e-10, maxIters = 200)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == again)
  }

  test("non-convergence fails loudly instead of returning half-mixed scores") {
    val e = intercept[IllegalArgumentException] {
      KnnGraph.pageRankConverged(idsDF, edgesDF, tol = 1e-15, maxIters = 2)
    }
    assert(e.getMessage.contains("residual"))
  }
}
