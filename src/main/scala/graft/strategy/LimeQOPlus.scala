package graft.strategy

import java.nio.file.Path
import graft.core.{RoundMetrics, WorkloadMatrix}
import graft.model.{PlanSample, TCNN}
import graft.plans.{PlanFeaturizer, PlanRecord}

/** LimeQO+ (`src/strategies/limeqo_plus.py:10-148`): the learned variant —
  * a Tree-CNN over PostgreSQL EXPLAIN plans plus row/column embeddings
  * replaces the ALS completion; selection/timeout bookkeeping matches
  * LimeQO; stop condition is 95 % of the perfect improvement
  * (`limeqo_plus.py:41-44`); budget default 32 (`run_experiment.py:61-63`).
  *
  * Parity is statistical by nature (torch RNG streams are not
  * reproducible here — SURVEY §5.4). Two deliberate semantic deviations
  * from the reference code, both documented:
  *  - the censoring threshold fed to the loss is transformed into label
  *    space (log1p + min-max) so the `pred >= censor` comparison is
  *    scale-consistent; the reference compares a scaled prediction against
  *    raw seconds (`limeqo_plus.py:212-216`), which effectively disables
  *    censoring for sub-second cells.
  *  - the MSE is per-element; the reference inherits torch's (B,1)-vs-(B)
  *    broadcast, which averages over B² pairs.
  */
final class LimeQOPlusStrategy(
    plans: Seq[PlanRecord],
    featurizer: PlanFeaturizer,
    filenameToRow: Map[String, Int],
    rank: Int = 5, alpha: Double = 1.0, beta: Double = 15.0,
    newObserveSize: Int = 32, maxEpochs: Int = 200, seed: Long = 42,
    maxRounds: Int = Int.MaxValue) extends Strategy {

  val name = "limeqo_plus"

  /** Resumable like the core strategies, with one addition: the TCNN is
    * cross-round state (weights, Adam moments, dropout RNG), so the
    * per-round [[RunSnapshot]] carries the whole Java-serialized model in
    * its `extra` map alongside the exploration matrices and the strategy
    * RNG — a resumed run continues training the SAME model mid-stream,
    * bit-identically (LimeQOPlusSpec kill/resume test). */
  def run(w: WorkloadMatrix, init: Option[Array[Array[Boolean]]],
          tracePath: Option[Path], snapshotPath: Option[Path]): Vector[RoundMetrics] = {
    // the init mask marks cells observed but not explored (`limeqo_plus.py`)
    val ex = new Exploration(name, Some(seed), w, tracePath, snapshotPath)(
      Exploration.applyMask(init, explore = false))
    val st = ex.st

    // featurize the corpus once; training and scoring stay on the driver
    // and use all its cores (TCNN.trainEpoch, TCNN.predictAll)
    val corpus: IndexedSeq[PlanSample] = plans.flatMap { p =>
      filenameToRow.get(p.filename).map { row =>
        PlanSample(
          feats = featurizer.transformFeatures(p.tree),
          idxes = featurizer.indexes(p.tree),
          row = row,
          cols = p.hintList.toArray,
          label = featurizer.transformLabel(p.runtimeList))
      }
    }.toIndexedSeq

    // fresh run: the model seed is the strategy RNG's next draw (so the
    // stream stays aligned across resume); resumed run: deserialize the
    // persisted model instead of drawing — the restored RNG is already
    // past that draw
    // tolerant read: a snapshot missing the model blob (older format)
    // falls back to a fresh model rather than crashing the resume
    val tcnn = ex.restored("tcnn").map(RunSnapshot.unblob[TCNN])
      .getOrElse(new TCNN(featurizer.numFeatures, rank, w.nRows, w.nCols, ex.rng.nextLong()))
    val perfect = ex.restored("perfect").map(_.toDouble).getOrElse(ex.minObs.sum - w.optTime)

    ex.loop(maxRounds, ex.minObs.sum - w.optTime > perfect * 0.05,
      Map("tcnn" -> RunSnapshot.blob(tcnn), "perfect" -> perfect.toString)) {
      ex.minObs = st.minObserved
      ex.endIfExhausted()

      val (trainS, testS) = corpus.partition(s => st.mask(s.row)(s.cols(0)))
      // censoring threshold in label space (see class doc)
      val censors = trainS.map { s =>
        val c = st.timeoutM(s.row)(s.cols(0))
        if (c == 0.0) 0.0 else featurizer.transformLabel(Seq(c))
      }

      val t0 = System.nanoTime()
      tcnn.train(trainS, censors, batchSize = 32, maxEpochs = maxEpochs,
        shuffleSeed = ex.rng.nextLong())
      val trainingTime = (System.nanoTime() - t0) / 1e9

      val t1 = System.nanoTime()
      // predict test cells, inverse latency transform, scatter over the
      // plan's whole hint group (`limeqo_plus.py:236-261`); unpredicted
      // cells stay 0, which the round reads as +∞
      val predM = Array.ofDim[Double](w.nRows, w.nCols)
      testS.zip(tcnn.predictAll(testS)).foreach { case (s, y) =>
        val p = featurizer.inverseLabel(y)
        s.cols.foreach(c => predM(s.row)(c) = p)
      }
      val inferenceTime = (System.nanoTime() - t1) / 1e9

      ex.emit(st.metrics(trainingTime, inferenceTime))
      LimeQORound.explore(st, LimeQORound.rank(st, predM), ex.minObs, alpha, beta,
        newObserveSize, ex.rng)
      // unlike LimeQO, the stop rule tests the state after the round
      ex.minObs = st.minObserved
    }
  }
}
