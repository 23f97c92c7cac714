package graft.operators

import java.util.concurrent.{CountDownLatch, TimeUnit}
import org.scalatest.funsuite.AnyFunSuite
import graft.SharedSpark
import graft.catalyst.SteeringLoop

/** Tasks of the blocked jobs below wait on these latches; each case opens
  * its own when it ends, so no task can outlive the spec in the shared
  * session. */
object OverlapJobCancelSpec {
  val release = new CountDownLatch(1)
  val probeRelease = new CountDownLatch(1)
}

/** A maintenance fold that aborts while a fork's Spark job is running must
  * not leave that job running after [[MaintenanceIO.Overlap]] closes:
  * interrupting the fork's thread alone leaves a launched job committing
  * files (the ADVICE defect this spec pins). */
class OverlapJobCancelSpec extends AnyFunSuite with SharedSpark {

  test("Overlap.close cancels a forked Spark job whose tasks block when the serial chain aborts") {
    val st = spark.sparkContext.statusTracker
    val ov = new MaintenanceIO.Overlap(1)
    def tagActive: Set[Int] =
      st.getActiveJobIds.toSet.intersect(st.getJobIdsForTag(ov.jobTag).toSet)
    var sawActive = false
    try {
      val ex = intercept[RuntimeException] {
        try {
          ov.fork {
            spark.sparkContext.parallelize(1 to 4, 4).foreach { _ =>
              OverlapJobCancelSpec.release.await(5, TimeUnit.MINUTES)
              ()
            }
          }
          val deadline = System.nanoTime() + TimeUnit.MINUTES.toNanos(2)
          while (tagActive.isEmpty && System.nanoTime() < deadline) Thread.sleep(20)
          sawActive = tagActive.nonEmpty
          throw new RuntimeException("serial chain failure")
        } finally ov.close()
      }
      assert(ex.getMessage == "serial chain failure")
      assert(sawActive, "the forked job never showed as active")
      assert(tagActive.isEmpty,
        s"jobs tagged ${ov.jobTag} still active after close(): $tagActive")
    } finally OverlapJobCancelSpec.release.countDown()
  }

  test("a steering probe's watchdog cancels a fork's blocked job at the tolerance") {
    // the serial chain waits in join() with no job of its own, so only the
    // probe's job group, inherited by the fork, can bound the probe
    val t0 = System.nanoTime()
    try {
      val out = SteeringLoop.measureBounded(spark, s => {
        val ov = new MaintenanceIO.Overlap(1)
        try ov.fork {
          s.sparkContext.parallelize(1 to 4, 4).foreach { _ =>
            OverlapJobCancelSpec.probeRelease.await(2, TimeUnit.MINUTES)
            ()
          }
        }.join() finally ov.close()
        s.range(1).toDF()
      }, SteeringLoop.SteeringConfig("default", ""), timeoutSeconds = 1.0)
      val seconds = (System.nanoTime() - t0) / 1e9
      assert(out == SteeringLoop.Censored(1.0), out.toString)
      assert(seconds < 10.0, s"probe ran $seconds s against a 1 s tolerance")
    } finally OverlapJobCancelSpec.probeRelease.countDown()
  }
}
