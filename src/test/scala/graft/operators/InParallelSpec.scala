package graft.operators

import java.util.concurrent.atomic.AtomicBoolean
import org.scalatest.funsuite.AnyFunSuite
import graft.SharedSpark

/** [[MaintenanceIO.inParallel]] must not return while a sibling write is
  * still running: when one task throws, the failure surfaces only after
  * every other task has finished, so a caller that catches it and retries
  * cannot race a write of the failed fold. */
class InParallelSpec extends AnyFunSuite with SharedSpark {

  test("inParallel rethrows a task's failure only after its sibling's Spark job has finished") {
    val st = spark.sparkContext.statusTracker
    val siblingDone = new AtomicBoolean(false)
    val t0 = System.nanoTime()
    val ex = intercept[IllegalStateException] {
      MaintenanceIO.inParallel(Seq(
        () => {
          // a real job whose four tasks take about 2 s each
          spark.sparkContext.parallelize(1 to 4, 4).foreach(_ => Thread.sleep(2000))
          siblingDone.set(true)
        },
        () => { Thread.sleep(200); throw new IllegalStateException("task failure") }))
    }
    val seconds = (System.nanoTime() - t0) / 1e9
    assert(ex.getMessage == "task failure")
    assert(siblingDone.get,
      f"inParallel threw after $seconds%.2f s while the sibling's job still ran")
    assert(st.getActiveJobIds.isEmpty,
      s"jobs still active: ${st.getActiveJobIds.mkString(", ")}")
  }
}
