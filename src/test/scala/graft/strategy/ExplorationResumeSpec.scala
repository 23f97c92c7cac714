package graft.strategy

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

/** Kill and resume on the committed fixture ([[ExplorationFixture]]), so
  * resumability is checked without the reference dataset. Each run is
  * killed at round k by a `maxRounds` cap (the snapshot a capped run
  * leaves is what a killed process leaves: every round's snapshot is
  * written atomically before the next round starts), resumed with the
  * full cap, and its trace file must equal the uninterrupted run's. LimeQO
  * compares with the two wall-clock timing fields zeroed. LimeQO+ resume
  * is covered by LimeQOPlusSpec.
  */
class ExplorationResumeSpec extends AnyFunSuite {
  import ExplorationFixture._

  private val kills = Map("oracle" -> 20, "qo_advisor" -> 7, "random" -> 5, "greedy" -> 3,
    "limeqo" -> 3)

  runs.filter(r => kills.contains(r.stem)).foreach { r =>
    val k = kills(r.stem)
    test(s"${r.stem}: kill after $k rounds, resume, trace matches the uninterrupted run") {
      val fullDir = Files.createTempDirectory(s"resume_${r.stem}_full")
      val full = Files.readString(runTo(r, fullDir, r.rounds))
      assert(full.linesIterator.count(_.contains("\"total_latency\"")) > k,
        "need rounds beyond the kill point")

      val dir = Files.createTempDirectory(s"resume_${r.stem}_kill")
      val killedTrace = runTo(r, dir, k)
      val killed = RunSnapshot.load(RunSnapshot.pathFor(killedTrace)).get
      assert(!killed.done && killed.round == k, "a capped run leaves a resumable snapshot")

      val resumed = Files.readString(runTo(r, dir, r.rounds))
      if (r.timed) assert(zeroTimes(resumed) == zeroTimes(full))
      else assert(resumed == full)
    }
  }
}
