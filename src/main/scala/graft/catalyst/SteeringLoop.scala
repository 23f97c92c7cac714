package graft.catalyst

import breeze.linalg.DenseMatrix
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.linalg.{CensoredALS, MatrixCompletion}

/** The online LimeQO loop over Spark itself: queries × join-strategy hints
  * form the workload matrix, Catalyst (steered by [[HintSteeringRule]]) is
  * the optimizer being explored, and censored ALS completes the matrix to
  * decide which (query, hint) cell to actually execute next.
  *
  * This is the reference's architecture with the offline trace swapped for
  * live execution: the reference selects cells from a pre-measured matrix
  * (`src/strategies/limeqo.py:18-123`); here selecting a cell RUNS the
  * query under that hint and the measured wall time becomes the
  * observation. Column 0 is the unsteered default plan, observed for every
  * query up front — the same "default plan always observed" invariant as
  * the reference's init mask (`src/data/dataset.py:31`).
  *
  * Censoring (reference `src/strategies/limeqo.py:79-95`): each explored
  * cell runs under a timeout tolerance min(α·minObserved, β·predicted);
  * a run that hits it is cancelled (`cancelJobGroup` from a watchdog
  * timer), recorded in the ALS cutoff matrix AT the tolerance — pushing
  * the model's prediction for that cell to at-least-cutoff instead of
  * biasing it low — and never retried. Candidates whose predicted time
  * already exceeds their tolerance are skipped before running, exactly
  * like the reference's `pred >= timeout_tolerance: continue`.
  */
object SteeringLoop {

  /** One hint-set column: a join-strategy value for
    * [[HintSteeringRule.ConfKey]] plus any extra session confs to pin
    * while the cell executes (the second steering dimension — AQE on/off,
    * shuffle-partition tier, ...). */
  final case class SteeringConfig(name: String, strategy: String,
                                  confs: Map[String, String] = Map.empty)

  /** Default hint space — the Spark analogue of the reference's 49
    * PostgreSQL hint sets, at the granularity Catalyst exposes. */
  val defaultConfigs: Seq[SteeringConfig] = Seq(
    SteeringConfig("default", ""),
    SteeringConfig("broadcast", "broadcast"),
    SteeringConfig("merge", "merge"),
    SteeringConfig("shuffle_hash", "shuffle_hash"),
    SteeringConfig("no_broadcast", "no_broadcast"))

  /** Cross the join-strategy axis with a second conf axis, enlarging the
    * workload matrix's column space exactly like the reference enlarges
    * its hint sets (49 = the cross product of PostgreSQL enable_* flags,
    * `/root/reference/README.md:10-12`). The first axis entry should be
    * the empty tier so column 0 stays the unsteered default plan (the
    * always-observed LimeQO init column). */
  def crossed(base: Seq[SteeringConfig],
              axis: Seq[(String, Map[String, String])]): Seq[SteeringConfig] =
    for {
      b <- base
      (aName, confs) <- axis
    } yield SteeringConfig(
      if (aName.isEmpty) b.name else s"${b.name}+$aName",
      b.strategy, b.confs ++ confs)

  /** AQE axis: runtime re-planning on (session default) vs off. */
  val aqeAxis: Seq[(String, Map[String, String])] = Seq(
    ("", Map.empty),
    ("noaqe", Map("spark.sql.adaptive.enabled" -> "false")))

  /** Join-order axis ([[JoinOrderSteeringRule]]): each entry pins one
    * permutation of the canonically-sorted leaves of the query's
    * inner-join chain; "" keeps Catalyst's own order (so column 0 of a
    * crossed space stays the unsteered default). Non-viable permutations
    * (wrong arity for a query, cartesian-forcing orders) degenerate to
    * the default plan by construction, so one axis can safely serve a
    * heterogeneous workload — the loop just observes ~default time for
    * those cells. */
  def joinOrderAxis(perms: Seq[Seq[Int]]): Seq[(String, Map[String, String])] =
    ("", Map.empty[String, String]) +: perms.map(p =>
      (s"jo_${p.mkString("")}", Map(JoinOrderSteeringRule.ConfKey -> p.mkString(","))))

  /** Shuffle-partition tiers: the knob whose best value is query-shaped
    * (small dims want few partitions, big facts want many). */
  def partitionTiers(ns: Int*): Seq[(String, Map[String, String])] =
    ("", Map.empty[String, String]) +:
      ns.toSeq.map(n => (s"p$n", Map("spark.sql.shuffle.partitions" -> n.toString)))

  /** Scale-plumbing axis — the third steering dimension, covering the
    * exact knobs a 100 TB deployment tunes per query:
    *
    *  - `bloom`: runtime bloom-filter join pruning, with Spark's
    *    cluster-sized thresholds lowered so a local session triggers it
    *    (RuntimeFiltersSpec pins the rewrite and its result equality)
    *    — pays a build-side filter aggregation to prune the probe side's
    *    shuffle BEFORE it happens. Wins exactly when the build side is
    *    selectively filtered and the probe side large; loses the build
    *    cost when it isn't — which is why it's a steered dimension, not a
    *    default.
    *  - `nobucket`: disables reading on-disk bucketing
    *    ([[graft.operators.Bucketing]]), forcing a co-located join's
    *    shuffle back in. The loop should never END on it for a bucketed
    *    join — it exists as the contrast cell that lets the model PRICE
    *    the bucketing win (and catches layouts whose stale bucketing
    *    costs more than it saves).
    *
    * "" keeps the session defaults, so column 0 of a crossed space stays
    * the unsteered plan (the LimeQO always-observed init column). */
  val scalePlumbingAxis: Seq[(String, Map[String, String])] = Seq(
    ("", Map.empty),
    ("bloom", Map(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB")),
    ("nobucket", Map("spark.sql.sources.bucketing.enabled" -> "false")))

  /** Outcome of executing one (query, config) cell under a tolerance. */
  sealed trait Outcome
  /** Ran to completion in `seconds`. */
  final case class Completed(seconds: Double) extends Outcome
  /** Cancelled at the tolerance: the true time is only known to be
    * ≥ `cutoffSeconds` — a right-censored observation. */
  final case class Censored(cutoffSeconds: Double) extends Outcome

  /** For censored observations `seconds` is the cutoff actually spent
    * waiting before the cancel (the reference adds the tolerance to its
    * timeout ledger the same way, `limeqo.py:94`). */
  final case class Observation(query: Int, config: Int, seconds: Double, round: Int,
                               censored: Boolean = false)
  final case class Recommendation(queryName: String, configName: String,
                                  observedSeconds: Double, defaultSeconds: Double)
  final case class SteeringResult(observations: Vector[Observation],
                                  recommendations: Vector[Recommendation]) {
    def totalExplorationSeconds: Double = observations.map(_.seconds).sum
  }

  /** Measure one query under one steering config: set the session's
    * steering strategy plus the config's extra confs, force a full
    * materialization (noop sink), restore every touched conf.
    * Requires the session to carry [[GraftExtensions]]. */
  def measure(spark: SparkSession, fn: SparkSession => DataFrame,
              config: SteeringConfig): Double =
    HintSteeringRule.withSteering(spark, config.strategy, config.confs) {
      val t0 = System.nanoTime()
      fn(spark).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }

  /** Uncensored loop (tests' synthetic cost functions; no tolerance, every
    * execution completes): [[runCensored]] with infinite α/β. */
  def run(queryNames: Seq[String], configNames: Seq[String],
          exec: (Int, Int) => Double,
          batch: Int = 2, rounds: Int = 3, rank: Int = 2,
          lambda: Double = 0.2, alsIters: Int = 50, seed: Long = 42): SteeringResult =
    runCensored(queryNames, configNames, (q, c, _) => Completed(exec(q, c)),
      batch = batch, rounds = rounds, rank = rank, lambda = lambda,
      alsIters = alsIters, seed = seed,
      alpha = Double.PositiveInfinity, beta = Double.PositiveInfinity)

  /** Per-round completion model — the pluggable heart of the loop. Given
    * the observation state, return predicted SECONDS for every cell (the
    * loop consults only unexplored entries). Two implementations: the
    * matrix-only [[AlsCompletion]] (the reference's LimeQO) and
    * [[graft.catalyst.LearnedSteering.TcnnCompletion]] (LimeQO+ over this
    * engine's own live plan trees). A model may be stateful across rounds
    * (the TCNN keeps training the same weights). */
  trait CompletionModel {
    def predictedSeconds(values: Array[Array[Double]], mask: Array[Array[Boolean]],
                         cutoffs: Array[Array[Double]]): Array[Array[Double]]
  }

  /** The reference's censored-ALS completion in log1p space: observed
    * cells at log1p(seconds), censored cells clamped at their log1p
    * cutoffs, rank/λ per the reference defaults (`limeqo.py:18-123`). */
  final class AlsCompletion(rank: Int, lambda: Double, alsIters: Int,
                            rng: scala.util.Random) extends CompletionModel {
    def predictedSeconds(values: Array[Array[Double]], mask: Array[Array[Boolean]],
                         cutoffs: Array[Array[Double]]): Array[Array[Double]] =
      AlsCompletion.complete(new CensoredALS(rank, alsIters, lambda, rng.nextLong()),
        values, mask, cutoffs)
  }

  object AlsCompletion {
    /** The one log1p → censored ALS → expm1 step, shared by the online loop
      * and [[graft.strategy.LimeQOStrategy]]: `als` completes the log1p of
      * the observed `values` (unobserved entries are ignored) with each
      * positive cutoff clamped in the same log1p space (0 = uncensored),
      * and every cell comes back as predicted seconds. The three inputs are
      * filled column-major in one pass and handed over as they are, and the
      * result rows are written straight from the completion's data. */
    def complete(als: MatrixCompletion, values: Array[Array[Double]],
                 mask: Array[Array[Boolean]], cutoffs: Array[Array[Double]]): Array[Array[Double]] = {
      val nQ = values.length
      val nC = if (nQ == 0) 0 else values(0).length
      val logX, maskX, cutX = new Array[Double](nQ * nC)
      var r = 0
      while (r < nQ) {
        var c = 0
        while (c < nC) {
          val q = c * nQ + r
          if (mask(r)(c)) { logX(q) = math.log1p(values(r)(c)); maskX(q) = 1.0 }
          val cut = cutoffs(r)(c)
          if (cut > 0.0) cutX(q) = math.log1p(cut)
          c += 1
        }
        r += 1
      }
      val completed = MatrixCompletion.columnMajor(als.complete(new DenseMatrix(nQ, nC, logX),
        new DenseMatrix(nQ, nC, maskX), new DenseMatrix(nQ, nC, cutX)))
      Array.tabulate(nQ) { r =>
        val row = new Array[Double](nC)
        var c = 0
        while (c < nC) { row(c) = math.expm1(completed(c * nQ + r)); c += 1 }
        row
      }
    }
  }

  /** Run the online loop with a pluggable tolerance-aware executor (tests
    * inject a synthetic cost function; production passes [[measureBounded]]
    * partially applied).
    *
    * Each round: censored-ALS-complete the observed matrix in log1p space
    * (rank/λ per the reference defaults) with censored cells clamped at
    * their log1p cutoffs, rank unexplored cells by the predicted
    * improvement ratio over the query's current best (`limeqo.py:71`),
    * skip cells predicted slower than their tolerance
    * min(α·minObserved, β·predicted) (`limeqo.py:79-85`), execute the top
    * `batch` survivors under that tolerance, observe — censored outcomes
    * land in the cutoff matrix, not the mask, and are never retried
    * (`limeqo.py:92-95`). α=1, β=15 are the reference defaults
    * (`limeqo.py:11`).
    */
  def runCensored(queryNames: Seq[String], configNames: Seq[String],
                  exec: (Int, Int, Double) => Outcome,
                  batch: Int = 2, rounds: Int = 3, rank: Int = 2,
                  lambda: Double = 0.2, alsIters: Int = 50, seed: Long = 42,
                  alpha: Double = 1.0, beta: Double = 15.0,
                  warmStart: Vector[Observation] = Vector.empty): SteeringResult =
    runWith(queryNames, configNames, exec,
      new AlsCompletion(rank, lambda, alsIters, new scala.util.Random(seed)),
      batch = batch, rounds = rounds, alpha = alpha, beta = beta,
      warmStart = warmStart)

  /** The loop body shared by every completion model ([[runCensored]]'s
    * contract with the ALS factored out): selection ([[select]]),
    * tolerances, the censoring ledger and the recommendations are the same
    * whatever predicts the unexplored cells.
    *
    * `topUpSeed`: when set, rounds whose model-driven picks leave batch
    * slots empty fill them with RANDOM unexplored cells (tolerance
    * α·minObserved) — the reference LimeQO+'s random top-up
    * (`limeqo_plus.py:127-148`), which keeps a fresh learned model from
    * stalling when its early predictions cluster at the observed mean
    * (no cell predicts an improvement, so nothing would ever be probed
    * and nothing would ever be learned). The matrix loop keeps the
    * reference LimeQO semantics: no top-up. */
  def runWith(queryNames: Seq[String], configNames: Seq[String],
              exec: (Int, Int, Double) => Outcome,
              model: CompletionModel,
              batch: Int = 2, rounds: Int = 3,
              alpha: Double = 1.0, beta: Double = 15.0,
              warmStart: Vector[Observation] = Vector.empty,
              topUpSeed: Option[Long] = None): SteeringResult = {
    val nQ = queryNames.length
    val nC = configNames.length
    val values = Array.ofDim[Double](nQ, nC)
    val mask = Array.ofDim[Boolean](nQ, nC)
    val cutoffs = Array.ofDim[Double](nQ, nC) // >0 = censored at that many seconds
    // explored = observed OR censored: a censored cell must never be
    // re-picked (its cutoff already informs the model)
    def explored(r: Int, c: Int): Boolean = mask(r)(c) || cutoffs(r)(c) > 0.0
    val obs = Vector.newBuilder[Observation]

    // warm start (cold-session resume): seed the matrix with a previous
    // run's observations — the reference's offline→online handoff, where
    // a fresh session continues from the persisted trace instead of
    // re-measuring. Warm cells are explored-but-not-re-run; they do not
    // re-enter this run's observation ledger (totalExplorationSeconds is
    // time spent HERE).
    // A censoring cutoff must be FINITE and positive: "at least ∞" carries
    // no information, and an infinite cutoff poisons the log-space ALS
    // (log1p(∞) NaN-cascades through the solve, emptying every round's
    // candidate set). Non-finite censored entries are ignored — the cell
    // stays unexplored and gets a finite-tolerance re-probe later.
    def recordCutoff(r: Int, c: Int, cut: Double): Boolean =
      java.lang.Double.isFinite(cut) && cut > 0.0 && { cutoffs(r)(c) = cut; true }

    warmStart.foreach { o =>
      if (o.query < nQ && o.config < nC) {
        if (o.censored) recordCutoff(o.query, o.config, o.seconds)
        else { values(o.query)(o.config) = o.seconds; mask(o.query)(o.config) = true }
      }
    }

    // execute one cell under a tolerance and record the outcome: completed
    // cells enter the matrix, censored ones the cutoff ledger (only a
    // finite cutoff is recordable — see recordCutoff)
    def probe(r: Int, c: Int, tol: Double, round: Int): Unit = exec(r, c, tol) match {
      case Completed(s) =>
        values(r)(c) = s; mask(r)(c) = true
        obs += Observation(r, c, s, round)
      case Censored(cut) =>
        if (recordCutoff(r, c, cut)) obs += Observation(r, c, cut, round, censored = true)
    }

    // round 0: default plan for every query, unbounded (column 0 always
    // observed — the reference's init-mask invariant); warm-started
    // default cells are already covered. An executor that censors anyway
    // is still ledgered honestly.
    (0 until nQ).foreach(q => if (!explored(q, 0)) probe(q, 0, Double.PositiveInfinity, 0))

    val topUpRng = topUpSeed.map(new scala.util.Random(_))
    var round = 1
    while (round <= rounds &&
      (0 until nQ).exists(r => (0 until nC).exists(c => !explored(r, c)))) {
      val predicted = model.predictedSeconds(values, mask, cutoffs)

      val picks = select(values, mask, cutoffs, predicted, alpha, beta, batch)
      var i = 0
      while (i < picks.size) { probe(picks.row(i), picks.col(i), picks.tol(i), round); i += 1 }

      // LimeQO+ random top-up: fill the round's remaining batch slots with
      // random unexplored cells under the α·minObserved tolerance
      var topped = 0
      topUpRng.foreach { rng =>
        var filled = picks.size
        var attempts = 0
        while (filled < batch && attempts < 4 * nQ * nC) {
          val r = rng.nextInt(nQ)
          val c = rng.nextInt(nC)
          if (!explored(r, c)) {
            val mo = minObserved(values(r), mask(r))
            val tol = if (alpha.isPosInfinity) Double.PositiveInfinity else alpha * mo
            probe(r, c, tol, round)
            filled += 1
            topped += 1
          }
          attempts += 1
        }
      }

      // no eligible cell anywhere (every unexplored prediction collapsed
      // to ≤0 or past tolerance, and no top-up landed): further rounds
      // would refit the model without ever observing — stop
      if (picks.size == 0 && topped == 0) round = rounds
      round += 1
    }

    SteeringResult(obs.result(), recommend(queryNames, configNames, values, mask))
  }

  /** One round's picks, best first: `size` cells at (`row`, `col`), with
    * their predicted improvement ratio `imp` and probe tolerance `tol`. */
  private[catalyst] final class Picks(val size: Int, val row: Array[Int], val col: Array[Int],
                                      val imp: Array[Double], val tol: Array[Double])

  /** The round's selection. Every unexplored cell (neither observed nor
    * censored) is a candidate at its predicted improvement ratio over the
    * query's best observation (`limeqo.py:71`), unless its prediction is
    * at or past its tolerance min(α·minObserved, β·predicted)
    * (`limeqo.py:79-85`): such a probe is not worth running. The `batch`
    * candidates with the largest ratio are picked, in one scan in (row,
    * column) order that keeps them in primitive arrays: a later candidate
    * displaces a kept one only on a strictly smaller
    * `java.lang.Double.compare(-imp, ·)`, so ties stay in (row, column)
    * order, as a stable sort on (-imp, row, column) would leave them. */
  private[catalyst] def select(values: Array[Array[Double]], mask: Array[Array[Boolean]],
                               cutoffs: Array[Array[Double]], predicted: Array[Array[Double]],
                               alpha: Double, beta: Double, batch: Int): Picks = {
    val nQ = values.length
    val nC = if (nQ == 0) 0 else values(0).length
    val cap = math.max(0, math.min(batch, nQ * nC))
    val row, col = new Array[Int](cap)
    val imp, tol = new Array[Double](cap)
    var size = 0
    var r = 0
    while (cap > 0 && r < nQ) {
      val minObs = minObserved(values(r), mask(r))
      // α=∞ means "never censor on the best-observed bound" — keep that
      // term ∞ explicitly: α·minObs would be NaN when a 0-cost cell
      // makes minObs 0 (0·∞), silently dropping the query's candidates
      val alphaTerm = if (alpha.isPosInfinity) Double.PositiveInfinity else alpha * minObs
      var c = 0
      while (c < nC) {
        if (!mask(r)(c) && !(cutoffs(r)(c) > 0.0)) {
          // A degenerate completion (≤0 "seconds", possible while a row has
          // a single observed cell and the rank-k factors haven't localized;
          // NaN under a poisoned warm start) must not exclude the cell from
          // exploration FOREVER — fall back to a neutral just-under-best
          // prior: the cell ranks last (improvement ≈ 1%) but stays
          // probeable, and its probe is still tolerance-bounded by α·minObs.
          val pred0 = predicted(r)(c)
          val pred = if (pred0 > 0.0) pred0 else 0.99 * minObs
          if (pred > 0.0 && !pred.isInfinity) {
            val t = math.min(alphaTerm, beta * pred)
            if (pred < t) {
              val ratio = (minObs - pred) / pred
              if (size < cap || java.lang.Double.compare(-ratio, -imp(size - 1)) < 0) {
                if (size < cap) size += 1
                var p = size - 1
                while (p > 0 && java.lang.Double.compare(-ratio, -imp(p - 1)) < 0) {
                  row(p) = row(p - 1); col(p) = col(p - 1)
                  imp(p) = imp(p - 1); tol(p) = tol(p - 1)
                  p -= 1
                }
                row(p) = r; col(p) = c; imp(p) = ratio; tol(p) = t
              }
            }
          }
        }
        c += 1
      }
      r += 1
    }
    new Picks(size, row, col, imp, tol)
  }

  /** The observed column of a row with the smallest value under
    * `java.lang.Double.compare`, the first such column on a tie; -1 when
    * nothing in the row is observed. */
  private def argMinObserved(values: Array[Double], mask: Array[Boolean]): Int = {
    var best = -1
    var c = 0
    while (c < values.length) {
      if (mask(c) && (best < 0 || java.lang.Double.compare(values(c), values(best)) < 0)) best = c
      c += 1
    }
    best
  }

  /** A row's best observed value, ∞ when nothing in it is observed. */
  private def minObserved(values: Array[Double], mask: Array[Boolean]): Double = {
    val c = argMinObserved(values, mask)
    if (c < 0) Double.PositiveInfinity else values(c)
  }

  /** Each query's best completed config (the first on a tie). A query is
    * recommended only when BOTH its default (column 0) and at least one
    * config completed: without a completed default the improvement ratio
    * is undefined (values(r)(0) would read as 0.0 — possible under a
    * degenerate warm start whose column-0 entry is censored). */
  private[catalyst] def recommend(queryNames: Seq[String], configNames: Seq[String],
                                  values: Array[Array[Double]],
                                  mask: Array[Array[Boolean]]): Vector[Recommendation] =
    queryNames.indices.collect { case r if mask(r)(0) =>
      val best = argMinObserved(values(r), mask(r))
      Recommendation(queryNames(r), configNames(best), values(r)(best), values(r)(0))
    }.toVector

  /** Persist a steering run — the completed workload matrix (every
    * observation, censored or not) plus the recommendations — as one JSON
    * document. This is the engine's analogue of the reference's per-round
    * experiment trace (`experiment/ceb/limeqo/1.json`): the artifact a
    * fresh session resumes from ([[runCensored]]'s `warmStart`) after the
    * [[Steered]] registry replays the decisions. */
  def saveTrace(res: SteeringResult, queryNames: Seq[String], configNames: Seq[String],
                path: java.nio.file.Path): Unit = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.createObjectNode()
    val qs = root.putArray("queries"); queryNames.foreach(qs.add)
    val cs = root.putArray("configs"); configNames.foreach(cs.add)
    val os = root.putArray("observations")
    res.observations.foreach { o =>
      val e = os.addObject()
      e.put("query", o.query); e.put("config", o.config)
      e.put("seconds", o.seconds); e.put("round", o.round)
      e.put("censored", o.censored)
    }
    val rs = root.putArray("recommendations")
    res.recommendations.foreach { r =>
      val e = rs.addObject()
      e.put("query", r.queryName); e.put("config", r.configName)
      e.put("observedSeconds", r.observedSeconds)
      e.put("defaultSeconds", r.defaultSeconds)
    }
    Option(path.getParent).foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.writeString(path,
      mapper.writerWithDefaultPrettyPrinter().writeValueAsString(root))
  }

  /** Load a trace saved by [[saveTrace]]: (queryNames, configNames, run). */
  def loadTrace(path: java.nio.file.Path): (Seq[String], Seq[String], SteeringResult) = {
    import scala.jdk.CollectionConverters._
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.readTree(java.nio.file.Files.readString(path))
    val qs = root.path("queries").elements().asScala.map(_.asText()).toSeq
    val cs = root.path("configs").elements().asScala.map(_.asText()).toSeq
    val obs = root.path("observations").elements().asScala.map(o =>
      Observation(o.path("query").asInt(), o.path("config").asInt(),
        o.path("seconds").asDouble(), o.path("round").asInt(),
        o.path("censored").asBoolean(false))).toVector
    val recs = root.path("recommendations").elements().asScala.map(r =>
      Recommendation(r.path("query").asText(), r.path("config").asText(),
        r.path("observedSeconds").asDouble(), r.path("defaultSeconds").asDouble())).toVector
    (qs, cs, SteeringResult(obs, recs))
  }

  /** [[measure]] bounded by a timeout: a daemon watchdog cancels the
    * probe's job group at the tolerance (tasks are interrupted —
    * `interruptOnCancel`), and the cell comes back [[Censored]] at exactly
    * the tolerance. This is the online analogue of the reference's offline
    * timeout bookkeeping (`limeqo.py:92-95`): the loop learns "at least
    * this slow" instead of either blocking on a pathological plan or
    * recording nothing. */
  def measureBounded(spark: SparkSession, fn: SparkSession => DataFrame,
                     config: SteeringConfig, timeoutSeconds: Double): Outcome = {
    if (timeoutSeconds.isInfinite) return Completed(measure(spark, fn, config))
    HintSteeringRule.withSteering(spark, config.strategy, config.confs) {
      val sc = spark.sparkContext
      val group = s"graft-steer-${java.util.UUID.randomUUID()}"
      sc.setJobGroup(group, s"steering probe ${config.name}", interruptOnCancel = true)
      val timer = new java.util.Timer("graft-steer-watchdog", true)
      @volatile var fired = false
      // cancel REPEATEDLY once the tolerance passes (100 ms period, stopped
      // by timer.cancel() in finally): a single cancelJobGroup only reaches
      // jobs active at that instant, so a timeout landing between jobs (or
      // during planning / an AQE stage boundary) would otherwise be lost and
      // the probe would run unbounded — the exact hang censoring exists to
      // prevent
      timer.scheduleAtFixedRate(new java.util.TimerTask {
        override def run(): Unit = { fired = true; sc.cancelJobGroup(group) }
      }, math.max(1L, (timeoutSeconds * 1000).toLong), 100L)
      try {
        val t0 = System.nanoTime()
        fn(spark).write.format("noop").mode("overwrite").save()
        Completed((System.nanoTime() - t0) / 1e9)
      } catch {
        // NonFatal: OutOfMemoryError and friends must propagate, not be
        // ledgered as a clean censoring. A genuine (non-cancellation) query
        // error arriving after the watchdog fired is still recorded as
        // censored-at-tolerance — indistinguishable here, and bounded.
        case scala.util.control.NonFatal(_) if fired => Censored(timeoutSeconds)
      } finally {
        timer.cancel()
        sc.clearJobGroup()
      }
    }
  }

  /** End-to-end convenience: steer a set of DataFrame-producing queries on
    * a live (extension-carrying) session, with reference-default censoring
    * (α=1, β=15 — a probe is cancelled once it runs past the query's
    * current best, so one pathological hint can at most double a query's
    * exploration spend). With `learn = true` each query's recommendation
    * is recorded in the [[Steered]] registry under the query's template
    * fingerprint, so future executions of the same template via
    * [[Steered.run]] automatically use the learned hint. */
  def steer(spark: SparkSession, queries: Seq[(String, SparkSession => DataFrame)],
            configs: Seq[SteeringConfig] = defaultConfigs,
            batch: Int = 2, rounds: Int = 3, learn: Boolean = false,
            alpha: Double = 1.0, beta: Double = 15.0): SteeringResult = {
    val res = runCensored(queries.map(_._1), configs.map(_.name),
      (q, c, tol) => measureBounded(spark, queries(q)._2, configs(c), tol),
      batch = batch, rounds = rounds, alpha = alpha, beta = beta)
    if (learn) learnRecommendations(spark, queries, configs, res)
    res
  }

  /** Record each recommendation in the [[Steered]] registry under its
    * query's template fingerprint. The FULL config is learned — its
    * second-dimension confs included. */
  private[catalyst] def learnRecommendations(spark: SparkSession,
      queries: Seq[(String, SparkSession => DataFrame)], configs: Seq[SteeringConfig],
      res: SteeringResult): Unit = {
    val byName = queries.toMap
    res.recommendations.foreach { r =>
      val cfg = configs.find(_.name == r.configName).getOrElse(SteeringConfig(r.configName, ""))
      Steered.learn(byName(r.queryName)(spark), cfg.strategy, cfg.confs)
    }
  }
}
