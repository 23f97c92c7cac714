package graft.report

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import graft.strategy.{ExplorationFixture, GreedyStrategy, OracleStrategy, QOAdvisorStrategy,
  RandomStrategy, Strategy}

/** Checkpoint tables on the committed JOB-shape fixture
  * ([[ExplorationFixture]]), for [[ReportParitySpec]]. Oracle and
  * QO-Advisor run once each, Random and Greedy with three seeds each; the
  * traces go to `<dir>/<strategy>/<seed>.json`, and two
  * [[Report.checkpointCsv]] calls read them back:
  *  - `seconds.csv`: seconds, the (0.6, 1.4) band of the JOB notebook;
  *  - `hours.csv`: `hours = true` and the (0.99, 1.01) band of the
  *    ceb/dsb/stack notebooks.
  *
  * The checkpoints are fixed fractions of the shortest run's exploration
  * range, so every band holds grid points.
  *
  * Rewrite the pins only for an intended change of the report's output:
  * `sbt "Test/runMain graft.report.ReportParity src/test/resources/report"`.
  */
object ReportParity {

  val pinDir: Path = Paths.get("src", "test", "resources", "report")

  /** Column label → (strategy factory, seeds). One seed makes a
    * single-run series. */
  val series: Seq[(String, Long => Strategy, Seq[Long])] = Seq(
    ("Oracle", _ => new OracleStrategy(), Seq(0L)),
    ("QO-Advisor", _ => new QOAdvisorStrategy(8, maxRounds = 40), Seq(0L)),
    ("Random", s => new RandomStrategy(8, seed = s, maxRounds = 200, budgetSeconds = Some(300)),
      Seq(1L, 2L, 3L)),
    ("Greedy", s => new GreedyStrategy(8, seed = s, maxRounds = 200, budgetSeconds = Some(600)),
      Seq(1L, 2L, 3L)))

  /** Labels of the series with one run: their cells must match bit for bit. */
  def singleRun: Set[String] = series.filter(_._3.size == 1).map(_._1).toSet

  /** Write every trace under `dir`; returns label → trace glob, and the
    * shortest exploration range of any run. */
  def traces(dir: Path): (Seq[(String, String)], Double) = {
    val w = ExplorationFixture.w
    val runs = series.map { case (label, make, seeds) =>
      val sub = dir.resolve(label)
      val ranges = seeds.map { s =>
        make(s).run(w, None, Some(sub.resolve(s"$s.json"))).last.execTime - w.defaultTime
      }
      (label -> s"$sub/*.json", ranges.min)
    }
    (runs.map(_._1), runs.map(_._2).min)
  }

  /** File name → checkpoint CSV, from the traces under a fresh directory. */
  def tables(spark: SparkSession): Seq[(String, String)] = {
    val w = ExplorationFixture.w
    val (globs, range) = traces(Files.createTempDirectory("report_parity"))
    def at(fractions: Double*) = fractions.map(f => math.rint(f * range))
    val secs = at(0.1, 0.25, 0.5, 0.75, 0.9)
    // the (0.99, 1.01) band is 2 % of t wide: below half the range it
    // falls between the grid points of the longest series
    val hours = at(0.5, 0.75, 0.9).map(_ / 3600)
    Seq(
      "seconds.csv" -> Report.checkpointCsv(spark, globs, w.defaultTime, secs,
        secs.map(c => s"${c}s")),
      "hours.csv" -> Report.checkpointCsv(spark, globs, w.defaultTime, hours,
        hours.map(c => s"${c}h"), bandLo = 0.99, bandHi = 1.01, hours = true))
  }

  def main(args: Array[String]): Unit = {
    val out = Paths.get(args(0))
    Files.createDirectories(out)
    tables(graft.SharedSpark.session).foreach { case (f, csv) =>
      Files.writeString(out.resolve(f), csv)
    }
  }
}
