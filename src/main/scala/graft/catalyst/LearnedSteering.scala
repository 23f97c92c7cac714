package graft.catalyst

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.model.{PlanSample, TCNN}
import graft.plans.{MinMax, PlanFeaturizer, PlanNode, PlanTrees, SparkPlanTrees}
import SteeringLoop._

/** LimeQO+ closed over the engine itself — the north star: the reference's
  * whole thesis is offline steering with a plan-tree model
  * (`/root/reference/README.md:94-95`); here the Tree-CNN consumes THIS
  * engine's live Catalyst plans ([[graft.plans.SparkPlanTrees]]) and
  * drives the SAME selection loop the matrix-only LimeQO uses
  * ([[SteeringLoop.runWith]] — identical tolerances, censoring ledger,
  * and recommendations; only the completion model differs).
  *
  * Why the learned model can beat the matrix at equal budget: ALS sees a
  * cell only as a (row, column) position, so an unexplored cell is
  * predicted purely from rank-k factor geometry — cold cells are guesses.
  * The TCNN sees every cell's PLAN TREE, which Catalyst produces for free
  * without executing anything ([[planSpace]] plans the whole query ×
  * config space up front, zero jobs launched). A steering config whose
  * plan collapses to the same tree as an observed one predicts like the
  * observed one; a config that introduces the shuffle shape that was slow
  * for ANOTHER query inherits that evidence through the shared operator
  * vocabulary. SteeringSpec pins the consequence: at equal exploration
  * budget on the live config space, TCNN-steered selection reaches a
  * strictly lower total-latency frontier than matrix-only steering.
  */
object LearnedSteering {

  /** Plan (never run) one query under one steering config: set the
    * config's confs, extract the physical plan tree, restore. The
    * planning pass launches no Spark job. Requires [[GraftExtensions]]. */
  def planFor(spark: SparkSession, fn: SparkSession => DataFrame,
              config: SteeringConfig): PlanNode =
    HintSteeringRule.withSteering(spark, config.strategy, config.confs)(
      SparkPlanTrees.ofQuery(fn(spark)))

  /** The whole (query × config) plan space, planned without executing —
    * the model's feature source. */
  def planSpace(spark: SparkSession,
                queries: Seq[(String, SparkSession => DataFrame)],
                configs: Seq[SteeringConfig]): IndexedSeq[IndexedSeq[PlanNode]] =
    queries.toIndexedSeq.map { case (_, fn) =>
      configs.toIndexedSeq.map(c => planFor(spark, fn, c))
    }

  /** The TCNN as a [[SteeringLoop.CompletionModel]]: per round, (re)train
    * on every observed cell (label = its measured seconds) and every
    * censored cell (label = censor = its cutoff, so the censored-MSE
    * stops pushing once the model predicts at-least-cutoff — the same
    * right-censoring semantics as the ALS's clamp), then predict every
    * cell from its plan tree. The model is stateful: weights persist
    * across rounds and keep training as observations accumulate, exactly
    * like [[graft.strategy.LimeQOPlusStrategy]]'s per-round train calls.
    *
    * Labels live in the reference's log1p + min-max space; the bounds are
    * FIXED on the first round (lo = 0, hi = log1p(4 × max observed)) so
    * the label scale never shifts under the continuing optimizer.
    */
  final class TcnnCompletion(plans: IndexedSeq[IndexedSeq[PlanNode]],
                             rank: Int = 5, maxEpochs: Int = 120,
                             batchSize: Int = 8, seed: Long = 42)
      extends CompletionModel {
    private val nQ = plans.length
    private val nC = if (nQ == 0) 0 else plans(0).length
    private val rng = new scala.util.Random(seed)

    // vocabulary + feature scaler over the whole plan space (features are
    // plan-derived, known before anything runs); label bounds start
    // neutral and are pinned on the first predict call
    private val fzBase: PlanFeaturizer = {
      val records = for {
        q <- plans.indices; c <- plans(q).indices
      } yield graft.plans.PlanRecord(s"q$q|c$c", List(c), List(1.0), plans(q)(c))
      PlanFeaturizer.fit(records)
    }
    private var fz: PlanFeaturizer = fzBase
    private var labelsPinned = false
    private var samples: Array[Array[PlanSample]] = _

    val tcnn = new TCNN(fzBase.numFeatures, rank, nQ, nC, rng.nextLong())

    // one training/inference timing pair per round, for the trace
    val roundTimes = scala.collection.mutable.ArrayBuffer.empty[(Double, Double)]

    def predictedSeconds(values: Array[Array[Double]], mask: Array[Array[Boolean]],
                         cutoffs: Array[Array[Double]]): Array[Array[Double]] = {
      if (!labelsPinned) {
        val observedMax = (for {
          q <- 0 until nQ; c <- 0 until nC
          v = if (mask(q)(c)) values(q)(c) else cutoffs(q)(c) if v > 0.0
        } yield v).maxOption.getOrElse(1.0)
        fz = fzBase.copy(yLo = 0.0, yHi = math.max(1e-9, math.log1p(4.0 * observedMax)))
        samples = Array.tabulate(nQ, nC)((q, c) => PlanSample(
          feats = fz.transformFeatures(plans(q)(c)),
          idxes = fz.indexes(plans(q)(c)),
          row = q, cols = Array(c), label = 0.0))
        labelsPinned = true
      }
      val train = Vector.newBuilder[(PlanSample, Double)]
      for (q <- 0 until nQ; c <- 0 until nC) {
        if (mask(q)(c))
          train += ((samples(q)(c).copy(label = fz.transformLabel(Seq(values(q)(c)))), 0.0))
        else if (cutoffs(q)(c) > 0.0) {
          val cut = fz.transformLabel(Seq(cutoffs(q)(c)))
          train += ((samples(q)(c).copy(label = cut), cut))
        }
      }
      val ts = train.result()
      val t0 = System.nanoTime()
      tcnn.train(ts.map(_._1), ts.map(_._2), batchSize = batchSize,
        maxEpochs = maxEpochs, shuffleSeed = rng.nextLong())
      val t1 = System.nanoTime()
      val preds = tcnn.predictAll(samples.flatten.toIndexedSeq)
      val out = Array.tabulate(nQ, nC)((q, c) => fz.inverseLabel(preds(q * nC + c)))
      roundTimes += (((t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9))
      out
    }
  }

  /** [[SteeringLoop.runCensored]] with the TCNN in the ALS's seat: same
    * loop, same tolerances, same ledger — the model is the only moving
    * part. `planOf(q)(c)` must be the cell's plan tree ([[planSpace]]). */
  def runLearned(queryNames: Seq[String], configNames: Seq[String],
                 plans: IndexedSeq[IndexedSeq[PlanNode]],
                 exec: (Int, Int, Double) => Outcome,
                 batch: Int = 2, rounds: Int = 3, rank: Int = 5,
                 maxEpochs: Int = 120, seed: Long = 42,
                 alpha: Double = 1.0, beta: Double = 15.0,
                 warmStart: Vector[Observation] = Vector.empty): SteeringResult =
    runTcnn(queryNames, configNames, plans, exec, batch, rounds, rank, maxEpochs, seed,
      alpha, beta, warmStart)._1

  /** [[runLearned]], also returning the model (its per-round timings feed
    * the reference-layout trace). */
  private def runTcnn(queryNames: Seq[String], configNames: Seq[String],
                      plans: IndexedSeq[IndexedSeq[PlanNode]],
                      exec: (Int, Int, Double) => Outcome,
                      batch: Int, rounds: Int, rank: Int, maxEpochs: Int, seed: Long,
                      alpha: Double, beta: Double,
                      warmStart: Vector[Observation]): (SteeringResult, TcnnCompletion) = {
    val model = new TcnnCompletion(plans, rank = rank, maxEpochs = maxEpochs, seed = seed)
    val res = runWith(queryNames, configNames, exec, model,
      batch = batch, rounds = rounds, alpha = alpha, beta = beta,
      warmStart = warmStart,
      // the reference LimeQO+'s random top-up (limeqo_plus.py:127-148):
      // a fresh model predicting ≈ the observed mean everywhere would
      // otherwise never probe anything under a finite α
      topUpSeed = Some(seed ^ 0x5eed))
    (res, model)
  }

  /** End-to-end live form: plan the whole space (no execution), steer with
    * tolerance-bounded real measurement, optionally record the learned
    * recommendation per template in the [[Steered]] registry, and emit
    * the run as BOTH trace artifacts: the steering-trace JSON
    * ([[SteeringLoop.saveTrace]] — resumable via `warmStart`) and a
    * reference-layout per-round trace (the `experiment/<ds>/<strategy>`
    * row shape, readable by [[graft.report.Report.loadTraces]]). */
  def steerLearned(spark: SparkSession,
                   queries: Seq[(String, SparkSession => DataFrame)],
                   configs: Seq[SteeringConfig] = defaultConfigs,
                   batch: Int = 2, rounds: Int = 3, learn: Boolean = false,
                   alpha: Double = 1.0, beta: Double = 15.0,
                   tracePath: Option[java.nio.file.Path] = None,
                   referenceTracePath: Option[java.nio.file.Path] = None): SteeringResult = {
    val (res, model) = runTcnn(queries.map(_._1), configs.map(_.name),
      planSpace(spark, queries, configs),
      (q, c, tol) => measureBounded(spark, queries(q)._2, configs(c), tol),
      batch, rounds, rank = 5, maxEpochs = 120, seed = 42, alpha, beta, Vector.empty)
    if (learn) learnRecommendations(spark, queries, configs, res)
    tracePath.foreach(p => saveTrace(res, queries.map(_._1), configs.map(_.name), p))
    referenceTracePath.foreach(p => saveReferenceTrace(res, queries.length, p,
      model.roundTimes.toSeq))
    res
  }

  /** Render a steering run in the reference's per-round trace layout
    * (`experiment/job/limeqo/1.json` row shape — training/inference/exec
    * times, total latency, min-observed percentiles, explored-query
    * count), so the engine's own steering runs live in the same artifact
    * tree as the offline strategies and feed the same report pipeline. */
  def saveReferenceTrace(res: SteeringResult, nQueries: Int,
                         path: java.nio.file.Path,
                         roundTimes: Seq[(Double, Double)] = Seq.empty): Unit = {
    val byRound = res.observations.groupBy(_.round)
    val maxRound = if (res.observations.isEmpty) 0 else res.observations.map(_.round).max
    val best = Array.fill(nQueries)(Double.PositiveInfinity)
    var execCum = 0.0
    val exploredQ = scala.collection.mutable.Set.empty[Int]
    val rows = (0 to maxRound).map { r =>
      byRound.getOrElse(r, Vector.empty).foreach { o =>
        execCum += o.seconds
        if (!o.censored) {
          best(o.query) = math.min(best(o.query), o.seconds)
          if (o.config != 0) exploredQ += o.query
        }
      }
      val mo = best.clone().map(v => if (v.isInfinity) 0.0 else v)
      val (tt, it) = if (r >= 1 && r - 1 < roundTimes.length) roundTimes(r - 1) else (0.0, 0.0)
      graft.core.RoundMetrics(tt, it, execCum, mo.sum,
        graft.core.Percentile(mo, 50), graft.core.Percentile(mo, 90),
        graft.core.Percentile(mo, 95), graft.core.Percentile(mo, 99),
        exploredQ.size)
    }
    graft.strategy.Trace.write(path, rows)
  }
}
