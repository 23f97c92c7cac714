package graft.strategy

import java.nio.file.{Files, Path}
import org.scalatest.funsuite.AnyFunSuite
import graft.core.RoundMetrics
import graft.sources.Workloads

/** Resumability (SURVEY §3.1 / round-10 verdict task 2): kill a strategy
  * run mid-loop (simulated by a maxRounds cap — the snapshot a capped run
  * leaves behind is exactly what a killed process leaves, because every
  * round's snapshot is written atomically before the next begins), then
  * resume from the persisted RoundState and require the completed trace
  * BIT-IDENTICAL to an uninterrupted run.
  *
  * Oracle-on-JOB is the free oracle: fully deterministic including the
  * metric doubles, so the comparison is file-byte equality against both
  * the uninterrupted run and (transitively, via OracleGoldenSpec) the
  * stored reference trace. LimeQO adds the censored-ALS RNG stream across
  * the kill point — compared field-by-field except the two wall-clock
  * timing fields, which are measured, not derived.
  */
class ResumeSpec extends AnyFunSuite with graft.SharedSpark {

  private val w = Workloads.matrixFromCsv("/root/reference/dataset/job-matrix.csv")
  private val mask = Workloads.initMask("/root/reference/dataset/init_job_mask.npy", w)

  private def tmp(prefix: String): (Path, Path) = {
    val d = Files.createTempDirectory(prefix)
    (d.resolve("trace.json"), d.resolve("trace.json.state.json"))
  }

  private def noTimes(m: RoundMetrics): RoundMetrics =
    m.copy(trainingTime = 0.0, inferenceTime = 0.0)

  test("oracle: kill after 20 rounds, resume, trace file is byte-identical") {
    val (fullTrace, fullSnap) = tmp("resume_oracle_full")
    val full = new OracleStrategy().run(w, None, Some(fullTrace), Some(fullSnap))
    assert(full.nonEmpty)
    assert(RunSnapshot.load(fullSnap).exists(_.done), "uninterrupted run marks done")

    val (trace, snap) = tmp("resume_oracle_kill")
    val partial = new OracleStrategy(maxRounds = 20).run(w, None, Some(trace), Some(snap))
    assert(partial.length == 20)
    val s = RunSnapshot.load(snap).get
    assert(!s.done && s.round == 20, "capped run leaves a resumable snapshot")

    val resumed = new OracleStrategy().run(w, None, Some(trace), Some(snap))
    assert(resumed == full, "resumed metrics differ from uninterrupted")
    assert(Files.readString(trace) == Files.readString(fullTrace),
      "resumed trace file not byte-identical")
    assert(RunSnapshot.load(snap).exists(_.done))
  }

  test("limeqo: kill after 6 rounds, resume; RNG stream continues mid-sequence") {
    def strat() = new LimeQOStrategy(seed = 3, maxRounds = 40, budgetSeconds = Some(1000))
    val (fullTrace, fullSnap) = tmp("resume_limeqo_full")
    val full = strat().run(w, Some(mask), Some(fullTrace), Some(fullSnap))
    assert(full.length > 6, "need rounds beyond the kill point")

    val (trace, snap) = tmp("resume_limeqo_kill")
    val killed = new LimeQOStrategy(seed = 3, maxRounds = 6, budgetSeconds = Some(1000))
      .run(w, Some(mask), Some(trace), Some(snap))
    assert(killed.length == 6 && RunSnapshot.load(snap).exists(!_.done))

    val resumed = strat().run(w, Some(mask), Some(trace), Some(snap))
    assert(resumed.map(noTimes) == full.map(noTimes),
      "resumed limeqo trace diverged — RNG or state not restored exactly")
  }

  test("random + greedy: kill/resume bit-identical (fully deterministic metrics)") {
    for ((mk, kill) <- Seq(
        ((mr: Int) => new RandomStrategy(seed = 7, maxRounds = mr, budgetSeconds = Some(720)), 5),
        ((mr: Int) => new GreedyStrategy(seed = 7, maxRounds = mr, budgetSeconds = Some(720)), 5))) {
      val (fullTrace, fullSnap) = tmp("resume_full")
      val full = mk(60).run(w, None, Some(fullTrace), Some(fullSnap))
      assert(full.length > kill)
      val (trace, snap) = tmp("resume_kill")
      mk(kill).run(w, None, Some(trace), Some(snap))
      val resumed = mk(60).run(w, None, Some(trace), Some(snap))
      assert(resumed == full)
      assert(Files.readString(trace) == Files.readString(fullTrace))
    }
  }

  test("qo_advisor: kill after 1 round, resume, trace byte-identical") {
    val (fullTrace, fullSnap) = tmp("resume_qo_full")
    val full = new QOAdvisorStrategy(8).run(w, None, Some(fullTrace), Some(fullSnap))
    assert(full.length > 1)
    val (trace, snap) = tmp("resume_qo_kill")
    new QOAdvisorStrategy(8, maxRounds = 1).run(w, None, Some(trace), Some(snap))
    assert(RunSnapshot.load(snap).exists(!_.done))
    val resumed = new QOAdvisorStrategy(8).run(w, None, Some(trace), Some(snap))
    assert(resumed == full)
    assert(Files.readString(trace) == Files.readString(fullTrace))
  }

  test("a done snapshot does not resume: run() restarts fresh and overwrites") {
    val (trace, snap) = tmp("resume_done")
    val first = new OracleStrategy().run(w, None, Some(trace), Some(snap))
    assert(RunSnapshot.load(snap).exists(_.done))
    val second = new OracleStrategy().run(w, None, Some(trace), Some(snap))
    assert(second == first, "rerun over a done snapshot must reproduce the run")
  }

  test("snapshot restore round-trips the RNG stream exactly") {
    val r = new scala.util.Random(42)
    (1 to 100).foreach(_ => r.nextLong())
    val restored = RunSnapshot.rngFrom(RunSnapshot.rngState(r))
    val expect = (1 to 50).map(_ => r.nextLong())
    val got = (1 to 50).map(_ => restored.nextLong())
    assert(got == expect)
  }
}
