package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import graft.report.Report
import graft.sources.Workloads
import graft.strategy._

/** Full experiment-grid driver — the one-command counterpart of the
  * reference's `src/run_experiment.py:27-63`: Oracle ×1, QO-Advisor ×1,
  * Random ×N, Greedy ×N, LimeQO ×N, LimeQO+ ×M, writing each per-round
  * JSON trace in the reference artifact layout
  * (`experiment/<ds>/<strategy>/<i>.json`), then regenerating the
  * `result/<ds>.csv` checkpoint table from the FRESH traces through
  * [[graft.report.Report]] — the full paper loop end-to-end.
  *
  * Faithful-to-artifact details:
  *  - Random / Greedy / QO-Advisor start from the first-hint-only mask
  *    (the stored JOB traces' round-0 exec_time equals the workload
  *    default — no init mask).
  *  - Random / Greedy / LimeQO stop on an exploration-time budget
  *    (`limeqo.ipynb · cell 7` shape): the stored traces keep exploring
  *    BELOW the current code's `opt + 20` rule (JOB random runs end at
  *    total 70.0 with opt+20 = 88.1) and their exploration extents cluster
  *    at the budget (~720–800 s random/greedy, >1100 s limeqo) — the
  *    stored artifacts predate `run_experiment.py`'s +20 stop. `--budget 0`
  *    selects the +20 rule instead (the current reference-code default).
  *  - LimeQO additionally starts from `--mask` (the stored runs used
  *    `init_<ds>_mask.npy`: their round-0 exec_time is above default).
  *  - LimeQO+ needs `--plans` (plan-tree JSONs). The reference repo ships
  *    without its dataset zips (`dataset/.MISSING_LARGE_BLOBS`), so on a
  *    pristine checkout this stage is skipped with a notice — same as the
  *    reference itself, which cannot run it either.
  *  - The grid is embarrassingly parallel across (strategy, seed); it runs
  *    sequentially here to keep trace RNG streams independent of scheduling,
  *    matching the reference's sequential loop.
  *
  * Usage:
  *   graft.ExperimentRunner <matrix.csv> <outDir>
  *     [--mask m.npy] [--seeds 20] [--plus-seeds 5] [--plans "glob"]
  *     [--batch 8] [--plus-batch 32] [--rank 5] [--alpha 1.0] [--beta 15.0]
  *     [--budget 720] [--limeqo-budget 1200] [--limeqo-max-rounds 200]
  *     [--resume true]
  *     [--checkpoints 45,90,180,360,720] [--hours true]
  *     [--checkpoint-band 0.6,1.4] [--skip random,greedy,...]
  *
  * Resumability (SURVEY §3.1): every run persists a [[graft.strategy.RunSnapshot]]
  * per round next to its trace (`<trace>.state.json`); `--resume true` skips
  * runs whose snapshot is complete and continues interrupted ones from their
  * last persisted RoundState, bit-identically (ResumeSpec). LimeQO+ includes
  * its TCNN in the snapshot (serialized weights + optimizer state), so the
  * learned strategy resumes mid-training-stream too.
  */
object ExperimentRunner {

  private val Usage =
    "ExperimentRunner <matrix.csv> <outDir> [--mask m.npy] [--seeds 20] " +
    "[--plus-seeds 5] [--plans glob] [--batch 8] [--plus-batch 32] [--rank 5] " +
    "[--alpha 1.0] [--beta 15.0] [--budget 720] [--limeqo-budget 1200] [--limeqo-max-rounds 200] " +
    "[--resume true] [--checkpoints 45,90,180,360,720] " +
    "[--hours true] [--checkpoint-band 0.6,1.4] [--skip s1,s2]"

  private[graft] val Flags = Set("mask", "seeds", "plus-seeds", "plans", "batch", "plus-batch",
    "rank", "alpha", "beta", "budget", "limeqo-budget", "limeqo-max-rounds", "resume",
    "checkpoints", "hours", "checkpoint-band", "skip")

  /** The grid's stages in run order: the names `--skip` accepts. */
  private[graft] val Stages =
    Seq("oracle", "qo_advisor", "random", "greedy", "limeqo", "limeqo_plus", "report")

  /** The flags of one grid, parsed eagerly: a bad number throws here, inside
    * [[Cli.orUsage]], and prints the usage instead of a stack trace. */
  private[graft] final class Options(val opts: Map[String, String]) {
    // true or false in any case; anything else is a usage error, since a
    // misread --resume deletes the grid's snapshots
    private def bool(key: String) = opts.get(key).exists(v => v.toBooleanOption.getOrElse(
      throw new IllegalArgumentException(s"--$key takes true or false, not $v")))
    val seeds = opts.getOrElse("seeds", "20").toInt
    val plusSeeds = opts.getOrElse("plus-seeds", "5").toInt
    val batch = opts.getOrElse("batch", "8").toInt
    val plusBatch = opts.getOrElse("plus-batch", "32").toInt
    val rank = opts.getOrElse("rank", "5").toInt
    val alpha = opts.getOrElse("alpha", "1.0").toDouble
    val beta = opts.getOrElse("beta", "15.0").toDouble
    // 0 = use the +20 stop rule instead of a budget
    val budget = Some(opts.getOrElse("budget", "720").toDouble).filter(_ > 0)
    val limeqoBudget = Some(opts.getOrElse("limeqo-budget", "1200").toDouble).filter(_ > 0)
    val maxRounds = opts.getOrElse("limeqo-max-rounds", "200").toInt
    val checkpoints = opts.getOrElse("checkpoints", "45,90,180,360,720")
      .split(",").toSeq.map(_.trim.toDouble)
    // JOB notebook defaults; the ceb/dsb/stack notebooks use
    // --hours true --checkpoint-band 0.99,1.01 with hour checkpoints
    val hours = bool("hours")
    private val band = opts.getOrElse("checkpoint-band", "0.6,1.4").split(",").map(_.trim.toDouble)
    require(band.length == 2, s"--checkpoint-band takes lo,hi, not ${band.mkString(",")}")
    val bandLo = band(0)
    val bandHi = band(1)
    val skip = opts.get("skip").map(_.split(",").map(_.trim).toSet).getOrElse(Set.empty[String])
    private val unknownStages = skip.filterNot(Stages.contains)
    require(unknownStages.isEmpty, s"--skip: unknown stage ${unknownStages.mkString(",")} " +
      s"(stages: ${Stages.mkString(",")})")
    // --resume true: every strategy run persists a RunSnapshot per round
    // next to its trace; a rerun skips runs whose snapshot is marked done
    // and continues unfinished ones from their last persisted RoundState
    // (bit-identical to an uninterrupted run — ResumeSpec). Without the
    // flag, stale snapshots are deleted so a rerun starts fresh.
    val resume = bool("resume")
  }

  def main(args: Array[String]): Unit = {
    val options = Cli.orUsage(Usage) {
      require(args.length >= 2, "missing <matrix.csv> <outDir>")
      new Options(Cli.flags(args.toSeq.drop(2), Flags))
    }
    import options._
    val Array(matrixPath, outDir) = args.take(2)

    val w = Workloads.matrixFromCsv(matrixPath)
    val mask = opts.get("mask").map(Workloads.initMask(_, w))
    Files.createDirectories(Paths.get(outDir))

    // Config fingerprint for --resume: matching a snapshot on (strategy,
    // seed) alone lets a rerun with a changed matrix/mask/budget/rank
    // silently skip "done" runs from the old config or continue
    // mid-run under the new one, producing traces that are neither
    // config's. Hash everything that shapes a run — the matrix FILE
    // BYTES (not its path), the mask option, and every strategy
    // parameter — and refuse to skip/resume when it differs (the stale
    // snapshot is replaced by a fresh run). Stored as a sibling .cfg
    // file so the RunSnapshot wire format is untouched.
    val configHash: String = {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      md.update(Files.readAllBytes(Paths.get(matrixPath)))
      // maxRounds is deliberately NOT hashed: it is a stop CAP, not a
      // behavior parameter — a cap-stopped run is never marked done, and
      // resuming it under a larger cap is bit-identical to an
      // uninterrupted large-cap run (the grid --resume spec exercises
      // exactly that extension). The budgets ARE hashed: a budget-stopped
      // run is marked done, so a rerun with a larger budget must rerun,
      // not skip.
      val params = Seq(batch, plusBatch, rank, alpha, beta, budget,
        limeqoBudget).mkString("|")
      md.update(params.getBytes("UTF-8"))
      // The mask must be fingerprinted by FILE BYTES like the matrix: an
      // in-place edit of the mask file leaves its path unchanged, and a
      // path-only hash would still skip a stale "done" snapshot — the
      // exact failure this guard exists to prevent. No-mask runs hash a
      // distinct marker so they never collide with an empty mask file.
      md.update(opts.get("mask")
        .map(p => Files.readAllBytes(Paths.get(p)))
        .getOrElse("<no-mask>".getBytes("UTF-8")))
      md.digest().map("%02x".format(_)).mkString
    }

    def runResumable(s: Strategy, seed: Long,
                     init: Option[Array[Array[Boolean]]], trace: java.nio.file.Path): Unit = {
      val snap = RunSnapshot.pathFor(trace)
      val cfgPath = snap.resolveSibling(snap.getFileName.toString + ".cfg")
      val cfgMatches = Files.isRegularFile(cfgPath) &&
        Files.readString(cfgPath).trim == configHash
      val prior = RunSnapshot.load(snap).filter { x =>
        val ours = x.strategy == s.name && x.seed == seed
        if (resume && ours && !cfgMatches)
          println(s"   ${trace.getFileName}: snapshot is from a different " +
            "config (matrix/mask/params changed) — restarting fresh")
        ours && cfgMatches
      }
      if (resume && prior.exists(_.done))
        println(s"   ${trace.getFileName}: complete snapshot found, skipped")
      else {
        if (!resume) Files.deleteIfExists(snap)
        if (resume && prior.exists(x => !x.done))
          println(s"   ${trace.getFileName}: resuming from round ${prior.get.round}")
        if (resume && prior.isEmpty) Files.deleteIfExists(snap)
        Option(cfgPath.getParent).foreach(Files.createDirectories(_))
        Files.writeString(cfgPath, configHash)
        s.run(w, init, Some(trace), Some(snap))
      }
    }

    def stage(name: String)(body: => Unit): Unit =
      if (skip(name)) println(s"-- $name: skipped")
      else {
        val t0 = System.nanoTime()
        body
        println(f"-- $name: done in ${(System.nanoTime() - t0) / 1e9}%.1f s")
      }

    // Spark is only needed for plan loading and the report regeneration;
    // the strategy loops are deliberately driver-local (SURVEY §1.3: the
    // dense workload matrix is ≤2.4 MB, under the collect boundary). When
    // an embedding caller (a spec) already owns a session, Cli.session
    // returns it untouched and we must NOT stop it on their behalf.
    val embedded = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession).isDefined
    var sparkStarted = false
    lazy val spark = { sparkStarted = !embedded; Cli.session() }

    stage("oracle") {
      runResumable(new OracleStrategy(), 0L, None, Paths.get(s"$outDir/oracle.json"))
    }
    stage("qo_advisor") {
      runResumable(new QOAdvisorStrategy(batch), 0L, None,
        Paths.get(s"$outDir/qo_advisor/1.json"))
    }
    stage("random") {
      for (i <- 1 to seeds)
        runResumable(
          new RandomStrategy(batch, seed = i, maxRounds = maxRounds, budgetSeconds = budget),
          i, None, Paths.get(s"$outDir/random/$i.json"))
    }
    stage("greedy") {
      for (i <- 1 to seeds)
        runResumable(
          new GreedyStrategy(batch, seed = i, maxRounds = maxRounds, budgetSeconds = budget),
          i, None, Paths.get(s"$outDir/greedy/$i.json"))
    }
    stage("limeqo") {
      for (i <- 1 to seeds)
        runResumable(
          new LimeQOStrategy(rank = rank, alpha = alpha, beta = beta,
            newObserveSize = batch, seed = i, maxRounds = maxRounds,
            budgetSeconds = limeqoBudget),
          i, mask, Paths.get(s"$outDir/limeqo/$i.json"))
    }

    stage("limeqo_plus") {
      opts.get("plans") match {
        case None =>
          println("   no --plans glob: the reference distribution is missing its " +
            "plan-tree blobs (dataset/.MISSING_LARGE_BLOBS); skipping LimeQO+ " +
            "like a pristine reference checkout must")
        case Some(glob) =>
          val plans = graft.plans.PlanFeaturizer.loadPlans(spark, glob)
          val fz = graft.plans.PlanFeaturizer.fit(plans)
          val rowOf = w.queryIds.zipWithIndex.toMap
          for (i <- 1 to plusSeeds)
            runResumable(
              new LimeQOPlusStrategy(plans, fz, rowOf, rank, alpha, beta,
                newObserveSize = plusBatch, seed = i, maxRounds = maxRounds),
              i, mask, Paths.get(s"$outDir/limeqo+/$i.json"))
      }
    }

    stage("report") {
      // include every strategy whose traces exist on disk — a stage skipped
      // THIS invocation may have produced its artifacts in a previous one
      // (the skip flags mean "don't re-run", not "exclude from the table")
      val strategies = Seq(
        "Random" -> "random", "Greedy" -> "greedy", "LimeQO" -> "limeqo",
        "LimeQO+" -> "limeqo+")
      val present = strategies
        .filter { case (_, dir) =>
          val p = Paths.get(outDir, dir)
          Files.isDirectory(p) && {
            val st = Files.list(p)
            try st.anyMatch(_.toString.endsWith(".json")) finally st.close()
          }
        }
        .map { case (n, dir) => n -> s"$outDir/$dir/*.json" }
      val unit = if (hours) "h" else "s"
      val labels = checkpoints.map(c =>
        if (c == c.floor) s"${c.toLong}$unit" else s"$c$unit")
      val csv = Report.checkpointCsv(spark, present, w.defaultTime, checkpoints, labels,
        bandLo, bandHi, hours)
      Files.writeString(Paths.get(s"$outDir/result.csv"), csv)
      println(s"   wrote $outDir/result.csv:")
      print(csv)
    }

    if (sparkStarted) spark.stop()
  }
}
