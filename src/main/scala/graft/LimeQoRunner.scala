package graft

import java.nio.file.Paths
import graft.core.WorkloadMatrix
import graft.sources.Workloads
import graft.strategy._

/** CLI entry for the strategy programs — the Spark-native equivalent of the
  * reference's `src/run_experiment.py` (SURVEY §3.1).
  *
  * Usage:
  *   graft.LimeQoRunner <strategy> <matrix.csv> <out.json> [--mask m.npy]
  *                      [--batch 8] [--seed 42] [--rank 5] [--alpha 1]
  *                      [--beta 15] [--lambda 0.2] [--max-rounds N]
  *                      [--plans "glob"]
  *
  * strategies: oracle | qo_advisor | random | greedy | limeqo | limeqo_plus
  * (limeqo_plus needs --plans, a glob of plan-file JSONs — the unzipped
  * `dataset/<ds>.zip` layout; batch defaults to 32 there,
  * `run_experiment.py:61-63`.) `--max-rounds` caps every strategy.
  * Writes the per-round JSON trace (reference artifact format, S4) to
  * <out.json> after every round.
  */
object LimeQoRunner {
  private val Usage =
    "LimeQoRunner <oracle|qo_advisor|random|greedy|limeqo|limeqo_plus> <matrix.csv> <out.json> " +
    "[--mask m.npy] [--batch 8] [--seed 42] [--rank 5] [--alpha 1.0] [--beta 15.0] " +
    "[--lambda 0.2] [--max-rounds N] [--plans glob]"
  private[graft] val Flags =
    Set("mask", "batch", "seed", "rank", "alpha", "beta", "lambda", "max-rounds", "plans")

  /** The strategy `name` configured from `opts`; throws
    * [[IllegalArgumentException]] on an unknown name, a bad number or a
    * limeqo_plus run without `--plans`. */
  def strategy(name: String, opts: Map[String, String], w: WorkloadMatrix): Strategy = {
    val batch = opts.getOrElse("batch", "8").toInt
    val seed = opts.getOrElse("seed", "42").toLong
    val rank = opts.getOrElse("rank", "5").toInt
    val alpha = opts.getOrElse("alpha", "1.0").toDouble
    val beta = opts.getOrElse("beta", "15.0").toDouble
    val lambda = opts.getOrElse("lambda", "0.2").toDouble
    val maxRounds = opts.get("max-rounds").map(_.toInt).getOrElse(Int.MaxValue)
    name match {
      case "oracle" => new OracleStrategy(maxRounds)
      case "qo_advisor" => new QOAdvisorStrategy(batch, maxRounds)
      case "random" => new RandomStrategy(batch, seed, maxRounds)
      case "greedy" => new GreedyStrategy(batch, seed, maxRounds)
      case "limeqo" => new LimeQOStrategy(rank, lambda, alpha, beta, batch,
        seed = seed, maxRounds = maxRounds)
      case "limeqo_plus" =>
        val glob = opts.getOrElse("plans",
          throw new IllegalArgumentException("limeqo_plus requires --plans <glob>"))
        val plans = graft.plans.PlanFeaturizer.loadPlans(Cli.session(), glob)
        val fz = graft.plans.PlanFeaturizer.fit(plans)
        val rowOf = w.queryIds.zipWithIndex.toMap
        new LimeQOPlusStrategy(plans, fz, rowOf, rank, alpha, beta,
          newObserveSize = opts.getOrElse("batch", "32").toInt,
          seed = seed, maxRounds = maxRounds)
      case other => throw new IllegalArgumentException(s"unknown strategy: $other")
    }
  }

  def main(args: Array[String]): Unit = {
    val opts = Cli.orUsage(Usage) {
      require(args.length >= 3, "missing <strategy> <matrix.csv> <out.json>")
      Cli.flags(args.toSeq.drop(3), Flags)
    }
    val Array(stratName, matrixPath, outPath) = args.take(3)
    val w = Workloads.matrixFromCsv(matrixPath)
    val mask = opts.get("mask").map(Workloads.initMask(_, w))
    val s = Cli.orUsage(Usage)(strategy(stratName, opts, w))

    val t0 = System.nanoTime()
    val results = s.run(w, mask, Some(Paths.get(outPath)))
    val secs = (System.nanoTime() - t0) / 1e9
    val last = results.lastOption
    println(f"${s.name}: ${results.length} rounds in $secs%.2f s; " +
      f"final total_latency ${last.map(_.totalLatency).getOrElse(Double.NaN)}%.3f " +
      f"(default ${w.defaultTime}%.3f, optimal ${w.optTime}%.3f)")
  }
}
