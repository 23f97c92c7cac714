package graft.strategy

import java.nio.file.Files
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{RoundMetrics, WorkloadMatrix}
import graft.plans.{PlanFeaturizer, PlanNode, PlanRecord}

/** A workload with a 0-valued cell. Min-observed reads 0 as unobserved
  * (the reference's 0 → ∞ sentinel), so Σ min-observed can never reach the
  * optimum: here it stays at 90 + 60 = 150 against opt = 0 + 60. The loops
  * must still end, with a done snapshot, once no cell is both unobserved
  * and unexplored — instead of spinning in the random top-up (LimeQO,
  * LimeQO+) or running every capped round (QO-Advisor).
  */
class ZeroCellSpec extends AnyFunSuite {

  private val w = new WorkloadMatrix(Array("q0", "q1"),
    Array(Array(100.0, 0.0, 90.0), Array(80.0, 70.0, 60.0)))

  /** One plan per cell, its costs tracking the runtime. */
  private val plans = for {
    r <- 0 until w.nRows; c <- 0 until w.nCols
  } yield {
    val rt = w.values(r)(c)
    PlanRecord(w.queryIds(r), List(c), List(rt, rt, rt),
      PlanNode("Hash Join", rt * 100.0 + 1.0, rt * 10.0 + 1.0, 8.0,
        List(PlanNode("Seq Scan", rt * 40.0 + 1.0, 5.0, 4.0, Nil))))
  }

  private implicit val ec: ExecutionContext = ExecutionContext.global

  /** Run under a time limit, with trace and snapshot; the run must end by
    * itself before `cap` rounds with a done snapshot and nothing left to
    * explore. */
  private def ends(s: Strategy, cap: Int): Unit = {
    val dir = Files.createTempDirectory(s"zero_${s.name}")
    val trace = dir.resolve("trace.json")
    val run = Future(s.run(w, None, Some(trace), Some(RunSnapshot.pathFor(trace))))
    val res: Vector[RoundMetrics] = Await.result(run, 60.seconds)
    assert(res.nonEmpty && res.length < cap, s"${res.length} rounds against a cap of $cap")
    val snap = RunSnapshot.load(RunSnapshot.pathFor(trace)).get
    assert(snap.done, "the run must end with a done snapshot")
    for (r <- 0 until w.nRows; c <- 0 until w.nCols)
      assert(snap.mask(r)(c) || snap.explored(r)(c), s"cell ($r, $c) left unexplored")
    assert(res.last.totalLatency == 150.0)
  }

  test("LimeQO ends on a matrix with a 0-valued cell") {
    ends(new LimeQOStrategy(rank = 1, seed = 1, maxRounds = 3), cap = 3)
  }

  test("LimeQO+ ends on a matrix with a 0-valued cell") {
    ends(new LimeQOPlusStrategy(plans, PlanFeaturizer.fit(plans), w.queryIds.zipWithIndex.toMap,
      rank = 1, newObserveSize = 8, maxEpochs = 2, seed = 1, maxRounds = 1000), cap = 1000)
  }

  test("QO-Advisor ends on a matrix with a 0-valued cell") {
    ends(new QOAdvisorStrategy(maxRounds = 20000), cap = 20000)
  }
}
