package graft.strategy

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import graft.catalyst.{LearnedSteering, SteeringLoop}
import graft.core.{RoundMetrics, WorkloadMatrix}
import graft.plans.{PlanFeaturizer, PlanNode, PlanRecord, PlanTrees}
import graft.sources.Workloads

/** A JOB-shape (113×49) workload committed under `src/test/resources/
  * exploration/`: `matrix.csv` and `init_mask.npy` come from
  * `perfbench/gen.py`'s `write_matrix(out, "job", 0)`, and `plans.jsonl`
  * holds the `write_plans` records of the first 40 queries.
  *
  * [[ExplorationFixture.write]] runs every exploration loop on it and
  * writes what each one leaves behind into a directory:
  *  - `<run>.trace.json` and `<run>.state.json` for the six offline
  *    strategies (LimeQO twice: censored and uncensored);
  *  - `<run>.ledger.csv` for the online steering loop
  *    ([[SteeringLoop.runCensored]]) and its learned form
  *    ([[LearnedSteering.runLearned]]) under a synthetic executor that
  *    reads the matrix and censors at the tolerance.
  *
  * The wall-clock `training_time` and `inference_time` of LimeQO and
  * LimeQO+ are measured, not derived, so those two runs are written with
  * both fields zeroed, in the trace and in the snapshot's results, and
  * LimeQO+'s serialized model is pinned by its SHA-256.
  *
  * Regenerate the committed goldens with
  * `sbt "Test/runMain graft.strategy.ExplorationFixture src/test/resources/exploration/golden"`.
  */
object ExplorationFixture {

  /** The fixture directory, relative to the project root (the working
    * directory of sbt's forked test JVM). */
  val dir: Path = Paths.get("src", "test", "resources", "exploration")

  private def resource(name: String): Path = dir.resolve(name)

  lazy val w: WorkloadMatrix = Workloads.matrixFromCsv(resource("matrix.csv").toString)
  lazy val mask: Array[Array[Boolean]] = Workloads.initMask(resource("init_mask.npy").toString, w)
  lazy val plans: Seq[PlanRecord] =
    Files.readAllLines(resource("plans.jsonl")).asScala.map(PlanTrees.parseRecord).toSeq
  lazy val featurizer: PlanFeaturizer = PlanFeaturizer.fit(plans)
  lazy val rows: Map[String, Int] = w.queryIds.zipWithIndex.toMap

  /** Golden directory committed next to the fixture. */
  def goldenDir: Path = dir.resolve("golden")

  /** One offline run: its file stem, a strategy factory taking the round
    * cap, the cap of the full run, the init mask, and whether its timing
    * fields are zeroed. */
  final case class Run(stem: String, make: Int => Strategy, rounds: Int,
                       init: Option[Array[Array[Boolean]]], timed: Boolean)

  def runs: Seq[Run] = Seq(
    Run("oracle", new OracleStrategy(_), Int.MaxValue, None, timed = false),
    Run("qo_advisor", r => new QOAdvisorStrategy(8, maxRounds = r), 40, None, timed = false),
    Run("random", r => new RandomStrategy(8, seed = 7, maxRounds = r,
      budgetSeconds = Some(300)), 200, None, timed = false),
    Run("greedy", r => new GreedyStrategy(8, seed = 7, maxRounds = r,
      budgetSeconds = Some(600)), 200, None, timed = false),
    Run("limeqo", r => new LimeQOStrategy(seed = 3, maxRounds = r), 25, Some(mask), timed = true),
    Run("limeqo_uncensored", r => new LimeQOStrategy(seed = 3, maxRounds = r, censored = false),
      25, Some(mask), timed = true),
    Run("limeqo_plus", r => new LimeQOPlusStrategy(plans, featurizer, rows, rank = 5,
      newObserveSize = 16, maxEpochs = 3, seed = 5, maxRounds = r), 4, Some(mask), timed = true))

  def noTimes(m: RoundMetrics): RoundMetrics = m.copy(trainingTime = 0.0, inferenceTime = 0.0)

  private val timing = "\"(training_time|inference_time)\": [^,\\n]+".r

  /** A trace file's text with both timing fields zeroed. */
  def zeroTimes(trace: String): String = timing.replaceAllIn(trace, m => s""""${m.group(1)}": 0""")

  /** Run `r` to its cap with trace and snapshot in `dir`; returns the trace
    * path. An unfinished snapshot already in `dir` is resumed. */
  def runTo(r: Run, dir: Path, rounds: Int): Path = {
    val trace = dir.resolve(s"${r.stem}.trace.json")
    r.make(rounds).run(w, r.init, Some(trace), Some(RunSnapshot.pathFor(trace)))
    trace
  }

  private def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8)).map("%02x".format(_)).mkString

  /** Copy a run's trace and final snapshot into `out`. A timed run gets its
    * timing fields zeroed, and LimeQO+'s serialized model (megabytes of
    * base64) is replaced by its SHA-256. */
  def record(r: Run, trace: Path, out: Path): Unit = {
    val snap = RunSnapshot.pathFor(trace)
    val traceOut = out.resolve(s"${r.stem}.trace.json")
    val snapOut = out.resolve(s"${r.stem}.state.json")
    if (r.timed) {
      Files.writeString(traceOut, zeroTimes(Files.readString(trace)))
      val s = RunSnapshot.load(snap).get
      s.copy(results = s.results.map(noTimes), extra = s.extra.map {
        case ("tcnn", blob) => "tcnn" -> sha256(blob)
        case kv => kv
      }).save(snapOut)
    } else {
      Files.copy(trace, traceOut, StandardCopyOption.REPLACE_EXISTING)
      Files.copy(snap, snapOut, StandardCopyOption.REPLACE_EXISTING)
    }
  }

  /** Synthetic executor: a cell costs its matrix value and is censored at
    * the tolerance when it would run that long. */
  def exec(q: Int, c: Int, tol: Double): SteeringLoop.Outcome = {
    val v = w.values(q)(c)
    if (v >= tol) SteeringLoop.Censored(tol) else SteeringLoop.Completed(v)
  }

  /** The online loop over the whole matrix, warm-started from the init mask. */
  def steering(): SteeringLoop.SteeringResult = {
    val warm = for {
      q <- 0 until w.nRows; c <- 0 until w.nCols if mask(q)(c)
    } yield SteeringLoop.Observation(q, c, w.values(q)(c), 0)
    SteeringLoop.runCensored(w.queryIds.toSeq, (0 until w.nCols).map(_.toString), exec,
      batch = 8, rounds = 4, rank = 5, seed = 11, warmStart = warm.toVector)
  }

  /** The learned loop over the first 12 queries × 8 configs: a cell's plan
    * is the recorded plan of its hint group, or the query's default plan. */
  def learned(): SteeringLoop.SteeringResult = {
    val (nQ, nC) = (12, 8)
    val byRow = plans.groupBy(p => rows(p.filename))
    val planOf: IndexedSeq[IndexedSeq[PlanNode]] = (0 until nQ).map { q =>
      val recs = byRow(q)
      val default = recs.find(_.hintList.contains(0)).get.tree
      (0 until nC).map(c => recs.find(_.hintList.contains(c)).map(_.tree).getOrElse(default))
    }
    LearnedSteering.runLearned(w.queryIds.take(nQ).toSeq, (0 until nC).map(_.toString), planOf,
      exec, batch = 3, rounds = 3, seed = 13)
  }

  /** One observation per line, then one recommendation per line. */
  def ledger(res: SteeringLoop.SteeringResult): String =
    (res.observations.map(o => s"obs,${o.query},${o.config},${o.seconds},${o.round},${o.censored}") ++
      res.recommendations.map(r =>
        s"rec,${r.queryName},${r.configName},${r.observedSeconds},${r.defaultSeconds}"))
      .mkString("", "\n", "\n")

  /** Every golden output of the fixture, written into `out`. */
  def write(out: Path): Unit = {
    Files.createDirectories(out)
    val work = Files.createTempDirectory("exploration_golden")
    runs.foreach(r => record(r, runTo(r, work, r.rounds), out))
    Files.writeString(out.resolve("steering.ledger.csv"), ledger(steering()))
    Files.writeString(out.resolve("learned.ledger.csv"), ledger(learned()))
  }

  def main(args: Array[String]): Unit = write(Paths.get(args(0)))
}
