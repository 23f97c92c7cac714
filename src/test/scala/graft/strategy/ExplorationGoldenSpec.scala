package graft.strategy

import java.nio.file.{Files, Path}
import org.scalatest.funsuite.AnyFunSuite

/** Regression pin of every exploration loop on the committed JOB-shape
  * fixture ([[ExplorationFixture]]). The goldens under
  * `src/test/resources/exploration/golden/` were written by the code
  * before the strategies shared one exploration core, and every output
  * must still match them byte for byte:
  *  - the trace files of Oracle, QO-Advisor, Random and Greedy;
  *  - the traces of LimeQO (censored and uncensored) and LimeQO+, with
  *    `training_time` and `inference_time` zeroed;
  *  - the final snapshot of every run (timings zeroed likewise);
  *  - the observation ledgers of the online steering loop and its
  *    learned form under a synthetic executor.
  *
  * This is a regression pin, not reference parity: the goldens are this
  * code's own earlier output, so they catch a change in behaviour, not a
  * misreading of the reference that both versions share.
  */
class ExplorationGoldenSpec extends AnyFunSuite {

  private lazy val out: Path = {
    val d = Files.createTempDirectory("exploration_now")
    ExplorationFixture.write(d)
    d
  }

  private val files = Seq("oracle", "qo_advisor", "random", "greedy", "limeqo",
    "limeqo_uncensored", "limeqo_plus").flatMap(s => Seq(s"$s.trace.json", s"$s.state.json")) ++
    Seq("steering.ledger.csv", "learned.ledger.csv")

  test("the golden directory holds exactly the pinned files") {
    val listed = Files.list(ExplorationFixture.goldenDir)
    try assert(listed.map(_.getFileName.toString).toArray.toSet == files.toSet)
    finally listed.close()
  }

  files.foreach { f =>
    test(s"$f matches its golden") {
      val want = Files.readString(ExplorationFixture.goldenDir.resolve(f))
      val got = Files.readString(out.resolve(f))
      assert(got == want, s"$f differs from its golden")
    }
  }
}
