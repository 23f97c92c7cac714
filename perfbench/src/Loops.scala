package perfbench

import java.nio.file.{Files, Path}
import scala.util.Random
import breeze.linalg.DenseMatrix
import graft.catalyst.SteeringLoop
import graft.catalyst.SteeringLoop.{AlsCompletion, Censored, Completed, CompletionModel}
import graft.core.{RoundMetrics, WorkloadMatrix}
import graft.linalg.{CensoredALS, MatrixCompletion}
import graft.plans.{PlanFeaturizer, PlanRecord, PlanTrees}
import graft.report.Report
import graft.sources.Workloads
import graft.strategy._

/** The three workloads that drive the paper's exploration loop through its
  * public entry points, on generated workload matrices. */
object Loops {
  // Reference LimeQO settings (limeqo.py:11, run_experiment.py:61-63).
  val Rank = 5
  val Lambda = 0.2
  val AlsIters = 50
  val Batch = 8
  val PlusBatch = 32

  // Sizes, chosen so that one unit takes a few seconds on 4 cores and the
  // exploration budget is reached inside the round cap (see README.md).
  /** Strategy seeds of a run: every loop workload runs its seeded
    * strategies from the run's --seed. */
  def seeds(run: Run, k: Int): Seq[Long] = (0 until k).map(i => run.seed * 100 + i)
  val LimeqoSeeds = 2
  val LimeqoRounds = 2
  val SteerRounds = 2
  val CebBudget = 1200.0
  val BaselineRounds = 12
  val PlusRounds = 2
  val PlusEpochs = 1
  val JobBudget = 300.0

  final case class Inputs(w: WorkloadMatrix, mask: Array[Array[Boolean]])

  /** sources layer: parse the matrix CSV and the init mask. */
  def ingest(run: Run): Inputs = {
    val t = run.tracer
    val w = t.span("sources.matrix_parse")(
      Workloads.matrixFromCsv(run.inputs.resolve("matrix.csv").toString))
    val mask = t.span("sources.mask_read")(
      Workloads.initMask(run.inputs.resolve("init_mask.npy").toString, w))
    Inputs(w, mask)
  }

  /** Ingest three times and report the medians; the last ingest is kept. */
  def setUp(run: Run): Inputs = {
    val reps = (0 until 3).map { _ =>
      val t0 = System.nanoTime()
      (ingest(run), (System.nanoTime() - t0) / 1e9)
    }
    run.setup("ingest_s") = Stats.median(reps.map(_._2))
    run.perLayer("sources.matrix_parse_s") =
      (Stats.median(run.tracer.named("sources.matrix_parse").map(_.dur)), "s")
    run.perLayer("sources.mask_read_s") =
      (Stats.median(run.tracer.named("sources.mask_read").map(_.dur)), "s")
    reps.last._1
  }

  /** Warm-up: untimed work, so the JIT has compiled the loop before any unit
    * is measured. */
  def warmUp(run: Run)(unit: => Unit): Unit = {
    val on = run.tracer.on
    run.tracer.on = false
    run.setup("warmup_s") = run.timed(unit)
    run.tracer.on = on
  }

  // --- output checks --------------------------------------------------------

  /** Trace invariants: total latency never rises and never falls below the
    * optimum; exec_time never falls below the default total. */
  def checkTrace(run: Run, op: String, res: Seq[RoundMetrics], w: WorkloadMatrix): Unit = {
    val eps = 1e-9 * w.defaultTime
    run.check(s"$op nonempty", res.nonEmpty, "empty trace")
    run.check(s"$op latency never rises",
      res.sliding(2).forall(p => p.length < 2 || p(1).totalLatency <= p(0).totalLatency + eps),
      res.map(_.totalLatency).mkString(","))
    run.check(s"$op latency >= optimum", res.forall(_.totalLatency >= w.optTime - eps),
      s"min ${res.map(_.totalLatency).min} < opt ${w.optTime}")
    run.check(s"$op exec_time >= default", res.forall(_.execTime >= w.defaultTime - eps),
      s"min ${res.map(_.execTime).min} < default ${w.defaultTime}")
  }

  /** Column 0 observed for every query in the final persisted state. */
  def checkSnapshot(run: Run, op: String, snap: Path): Option[RunSnapshot] = {
    val s = RunSnapshot.load(snap)
    run.check(s"$op snapshot", s.isDefined, s"no snapshot at $snap")
    s.foreach(x => run.check(s"$op column 0 observed", x.mask.forall(_(0)), "a default cell is unobserved"))
    s
  }

  /** Σ min-observed at the last round whose exploration cost since round 0
    * stays within `budget` seconds. */
  def latencyAtBudget(res: Seq[RoundMetrics], budget: Double): Double = {
    val x0 = res.head.execTime
    res.filter(_.execTime - x0 <= budget).last.totalLatency
  }

  /** Share of exploration attempts that hit their timeout in a final snapshot. */
  def timeouts(s: RunSnapshot, initialObserved: Int): (Int, Int) = {
    val gained = s.mask.map(_.count(identity)).sum - initialObserved
    (s.timeoutCells.size, s.timeoutCells.size + gained)
  }

  /** A strategy run with the per-round trace and snapshot persistence that
    * ExperimentRunner uses, in a fresh directory. */
  def persisted(run: Run, dir: Path, s: Strategy, seed: Long, w: WorkloadMatrix,
                init: Option[Array[Array[Boolean]]]): Option[(Vector[RoundMetrics], Path, Long)] = {
    val trace = dir.resolve(s"${s.name}-$seed.json")
    val wchar0 = Proc.wchar
    run.attempt(s"${s.name} seed $seed") {
      val res = run.tracer.span("strategy.run", Map("strategy" -> s.name, "seed" -> seed.toString))(
        s.run(w, init, Some(trace), Some(RunSnapshot.pathFor(trace))))
      (res, trace, Proc.wchar - wchar0)
    }
  }

  /** persist_s: the same strategy runs again with no trace or snapshot path;
    * the difference to the persisted traced runs is the persistence cost. */
  def reportPersistence(run: Run, traced: Int, strategies: Seq[(Strategy, Long, Option[Array[Array[Boolean]]])],
                        w: WorkloadMatrix, persistBytes: Long): Unit = {
    val without = strategies.map { case (s, seed, init) =>
      run.timed(run.attempt(s"${s.name} seed $seed unpersisted")(s.run(w, init, None, None)))
    }.sum
    val withPaths = run.tracer.named("strategy.run").map(_.dur).sum / traced
    run.perLayer("strategy.persist_s") = (withPaths - without, "s")
    run.perLayer("strategy.persist_bytes") = (persistBytes.toDouble / traced, "bytes")
  }

  // --- limeqo-ceb -------------------------------------------------------------

  /** ALS flop and byte model for one CensoredALS.complete on n x m at rank r:
    * per iteration two A.B^T products, two target products (2nmr each) and
    * small r x r solves; about 14 full n x m double passes per iteration. */
  def alsFlop(n: Int, m: Int, r: Int, iters: Int): Double =
    iters * (8.0 * n * m * r + 6.0 * (n + m) * r * r) + 2.0 * n * m * r
  def alsBytes(n: Int, m: Int, iters: Int): Double = iters * 112.0 * n * m + 40.0 * n * m

  def limeqoCeb(run: Run): Unit = {
    val t = run.tracer
    val in = setUp(run)
    val w = in.w
    val timedAls: (Int, Int, Double, Long) => MatrixCompletion = (r, i, l, s) => {
      val inner = new CensoredALS(r, i, l, s)
      (x: DenseMatrix[Double], m: DenseMatrix[Double], c: DenseMatrix[Double]) =>
        t.span("linalg.als")(inner.complete(x, m, c))
    }
    val names = w.queryIds.toSeq
    val configs = (0 until w.nCols).map(_.toString)
    var probes = 0L
    var censored = 0L
    val exec = (q: Int, c: Int, tol: Double) => {
      val v = w.values(q)(c)
      if (t.on) probes += 1
      if (v >= tol) { if (t.on) censored += 1; Censored(tol) } else Completed(v)
    }
    // the online loop starts from the same observed cells as the offline
    // one (its warm start), so both explore from equal knowledge
    val warm = for {
      q <- 0 until w.nRows; c <- 0 until w.nCols if in.mask(q)(c)
    } yield SteeringLoop.Observation(q, c, w.values(q)(c), 0)
    val dir = run.work.resolve("unit")
    var latency: Option[Seq[Double]] = None
    var steerRef: Option[Vector[SteeringLoop.Observation]] = None
    var rounds = 0
    var persistBytes = 0L
    var tout = (0, 0)
    def unit(): Unit = {
      run.clean(dir)
      val lat = Seq.newBuilder[Double]
      val traj = Seq.newBuilder[(String, Vector[RoundMetrics])]
      rounds = 0
      seeds(run, LimeqoSeeds).foreach { seed =>
        val s = new LimeQOStrategy(Rank, Lambda, newObserveSize = Batch, alsIters = AlsIters,
          seed = seed, maxRounds = LimeqoRounds, alsFactory = timedAls)
        persisted(run, dir, s, seed, w, Some(in.mask)).foreach { case (res, trace, bytes) =>
          if (t.on) persistBytes += bytes
          checkTrace(run, s"limeqo seed $seed", res, w)
          checkSnapshot(run, s"limeqo seed $seed", RunSnapshot.pathFor(trace)).foreach { snap =>
            if (t.on) tout = tout match {
              case (a, b) => val (x, y) = timeouts(snap, in.mask.map(_.count(identity)).sum); (a + x, b + y)
            }
          }
          lat += latencyAtBudget(res, CebBudget)
          traj += s"limeqo-$seed" -> res
          rounds += res.length
        }
      }
      val steer = run.attempt("steering loop") {
        t.span("catalyst.steer.run") {
          if (t.on) {
            val als = new AlsCompletion(Rank, Lambda, AlsIters, new Random(run.seed))
            val model = new CompletionModel {
              def predictedSeconds(v: Array[Array[Double]], m: Array[Array[Boolean]],
                                   c: Array[Array[Double]]): Array[Array[Double]] =
                t.span("catalyst.steer.model")(als.predictedSeconds(v, m, c))
            }
            SteeringLoop.runWith(names, configs, exec, model, batch = Batch, rounds = SteerRounds,
              warmStart = warm.toVector)
          } else SteeringLoop.runCensored(names, configs, exec, batch = Batch, rounds = SteerRounds,
            rank = Rank, lambda = Lambda, alsIters = AlsIters, seed = run.seed, warmStart = warm.toVector)
        }
      }
      steer.foreach { res =>
        val obs = res.observations
        steerRef match {
          case None => steerRef = Some(obs)
          case Some(ref) => run.check("steering runWith == runCensored", ref == obs,
            "the wrapped-model loop explored differently from runCensored")
        }
        val st = steeringTrajectory(warm ++ obs)
        checkTrace(run, "steering", st, w)
        run.check("steering column 0 observed", res.recommendations.size == w.nRows,
          "a query has no completed default observation")
        lat += latencyAtBudget(st, CebBudget)
        traj += "steering" -> st
        rounds += st.length - 1
      }
      latency = repeats(run, latency, lat.result(), traj.result())
    }
    warmUp(run) { unit(); unit() }
    val (plain, withTrace) = run.units(4)(_ => unit())
    run.reportUnits(plain, withTrace, rounds)
    run.endToEnd("latency_at_budget_s") = (latency.map(l => l.sum / l.size).getOrElse(0.0), "s")
    run.facts ++= Seq("rounds_per_unit" -> rounds.toString, "budget_s" -> Json.num(CebBudget),
      "limeqo_seeds" -> LimeqoSeeds.toString, "limeqo_rounds" -> LimeqoRounds.toString,
      "steer_rounds" -> SteerRounds.toString)
    if (run.traced) {
      val n = withTrace.size
      val als = t.named("linalg.als").map(_.dur)
      val calls = als.size.toDouble / n
      run.perLayer("linalg.als.calls") = (calls, "count")
      run.perLayer("linalg.als.busy_s") = (als.sum / n, "s")
      run.perLayer("linalg.als.ms.p50") = (1e3 * Stats.median(als), "ms")
      run.perLayer("linalg.als.ms.tail") = (1e3 * tail(als), "ms")
      run.perLayer("linalg.als.flop") = (calls * alsFlop(w.nRows, w.nCols, Rank, AlsIters), "flop")
      run.perLayer("linalg.als.bytes") = (calls * alsBytes(w.nRows, w.nCols, AlsIters), "bytes")
      run.perLayer("catalyst.steer.model_busy_s") = (t.total("catalyst.steer.model") / n, "s")
      run.perLayer("catalyst.steer.loop_self_s") = (t.selfTime("catalyst.steer.run") / n, "s")
      run.perLayer("catalyst.steer.probes") = (probes.toDouble / n, "count")
      run.perLayer("catalyst.steer.censored_ratio") = (censored.toDouble / probes, "ratio")
      run.perLayer("strategy.rounds") = (rounds.toDouble, "count")
      run.perLayer("strategy.loop_self_s") = (t.selfTime("strategy.run") / n, "s")
      run.perLayer("strategy.timeout_ratio") = (tout._1.toDouble / math.max(tout._2, 1), "ratio")
      t.on = false
      reportPersistence(run, n, seeds(run, LimeqoSeeds).map(seed => (new LimeQOStrategy(Rank, Lambda,
        newObserveSize = Batch, alsIters = AlsIters, seed = seed, maxRounds = LimeqoRounds), seed,
        Some(in.mask))), w, persistBytes)
    }
  }

  /** latency_at_budget must repeat exactly on every unit of a run; the
    * first unit's trajectories (exploration cost, total latency per round)
    * go to the record. */
  def repeats(run: Run, ref: Option[Seq[Double]], now: Seq[Double],
              traj: Seq[(String, Vector[RoundMetrics])]): Option[Seq[Double]] = ref match {
    case None =>
      run.facts("trajectories") = Json.obj(traj.map { case (k, res) =>
        k -> Json.arr(res.map(r => Json.arr(Seq(Json.num(r.execTime - res.head.execTime),
          Json.num(r.totalLatency))))) })
      Some(now)
    case Some(r) =>
      run.check("latency_at_budget repeats", r == now, s"$r != $now"); ref
  }

  /** Highest quantile with at least ten samples beyond it (the maximum when
    * there are fewer than twenty samples). */
  def tail(xs: Seq[Double]): Double =
    if (xs.size < 20) xs.max else Stats.quantile(xs, 1.0 - 10.0 / xs.size)

  /** Per-round totals of an online steering run in trace form: exec_time is
    * every second spent on observations so far (warm start included),
    * total_latency is Σ over queries of the best completed observation. */
  def steeringTrajectory(obs: Seq[SteeringLoop.Observation]): Vector[RoundMetrics] = {
    val best = scala.collection.mutable.HashMap.empty[Int, Double]
    (0 to obs.map(_.round).max).toVector.map { r =>
      obs.filter(o => o.round == r && !o.censored)
        .foreach(o => best(o.query) = math.min(best.getOrElse(o.query, Double.PositiveInfinity), o.seconds))
      RoundMetrics(0, 0, obs.filter(_.round <= r).map(_.seconds).sum, best.values.sum, 0, 0, 0, 0, 0)
    }
  }

  // --- baselines-ceb ---------------------------------------------------------

  def baselinesCeb(run: Run): Unit = {
    val t = run.tracer
    var spark: org.apache.spark.sql.SparkSession = null
    run.setup("session_s") = run.timed { spark = Sessions.local(run.cpus) }
    val probe = new SparkProbe
    def strategies = Seq[(Strategy, Long)](
      (new OracleStrategy(maxRounds = BaselineRounds), 0L),
      (new QOAdvisorStrategy(Batch, maxRounds = BaselineRounds), 0L),
      (new RandomStrategy(Batch, seed = run.seed, maxRounds = BaselineRounds), run.seed),
      (new GreedyStrategy(Batch, seed = run.seed, maxRounds = BaselineRounds), run.seed))
    def unitOnce(dir: Path, w: WorkloadMatrix): Option[Seq[(Strategy, Vector[RoundMetrics], Path)]] = {
      run.clean(dir)
      val done = strategies.flatMap { case (s, seed) =>
        persisted(run, dir, s, seed, w, None).map { case (res, trace, _) => (s, res, trace) }
      }
      if (done.size < strategies.size) return None
      // checkpoints inside every trajectory's exploration range
      val cps = Seq(0.25, 0.5, 0.75).map(_ * done.map(_._2.last.execTime - w.defaultTime).min)
      run.attempt("report checkpoint csv") {
        val csv = t.span("report.checkpoint_csv")(Report.checkpointCsv(spark,
          done.map { case (s, _, trace) => s.name -> trace.toString }, w.defaultTime, cps,
          cps.map(c => f"$c%.1fs")))
        val vals = csv.trim.split("\n").drop(1).flatMap(_.split(",").drop(1)).map(_.toDouble)
        run.check("report values within [opt, default]",
          vals.length == cps.size * done.size &&
            vals.forall(v => v >= w.optTime * (1 - 1e-9) && v <= w.defaultTime * (1 + 1e-9)), csv)
        done
      }
    }
    val w = setUp(run).w
    val dir = run.work.resolve("unit")
    var latency: Option[Seq[Double]] = None
    var rounds = 0
    var persistBytes = 0L
    var tout = (0, 0)
    def unit(): Unit = {
      if (t.on) { probe.label = "report"; probe.register(spark) }
      val w0 = Proc.wchar
      val out = unitOnce(dir, w)
      if (t.on) { persistBytes += Proc.wchar - w0; probe.unregister(spark) }
      out.foreach { done =>
        done.foreach { case (s, res, trace) =>
          checkTrace(run, s.name, res, w)
          checkSnapshot(run, s.name, RunSnapshot.pathFor(trace)).foreach { snap =>
            if (t.on) tout = tout match { case (a, b) => val (x, y) = timeouts(snap, w.nRows); (a + x, b + y) }
          }
        }
        rounds = done.map(_._2.length).sum
        latency = repeats(run, latency, done.map(d => latencyAtBudget(d._2, CebBudget)),
          done.map(d => d._1.name -> d._2))
      }
    }
    warmUp(run)(unit())
    val (plain, withTrace) = run.units(3)(_ => unit())
    run.reportUnits(plain, withTrace, rounds)
    run.endToEnd("latency_at_budget_s") = (latency.map(l => l.sum / l.size).getOrElse(0.0), "s")
    run.facts ++= Seq("rounds_per_unit" -> rounds.toString, "budget_s" -> Json.num(CebBudget),
      "round_cap" -> BaselineRounds.toString)
    if (run.traced) {
      val n = withTrace.size
      run.perLayer("strategy.rounds") = (rounds.toDouble, "count")
      run.perLayer("strategy.loop_self_s") = (t.selfTime("strategy.run") / n, "s")
      run.perLayer("strategy.timeout_ratio") = (tout._1.toDouble / math.max(tout._2, 1), "ratio")
      run.perLayer("report.checkpoint_csv_s") = (t.total("report.checkpoint_csv") / n, "s")
      val spans = t.named("report.checkpoint_csv")
      // jobs by each report span's time window; query executions by label
      val u = spans.map(s => probe.usage(t.wallT0 + (s.start * 1e3).toLong,
        t.wallT0 + (s.end * 1e3).toLong + 1, "")).foldLeft(Usage.zero)(_ + _) +
        probe.usage(0L, -1L, "report")
      Pipeline.reportSpark(run, u, spans.map(_.dur).sum, n)
      t.on = false
      reportPersistence(run, n, strategies.map { case (s, seed) => (s, seed, None) }, w, persistBytes)
    }
    spark.stop()
  }

  // --- learned-job -------------------------------------------------------------

  def learnedJob(run: Run): Unit = {
    val t = run.tracer
    val lines = Files.readAllLines(run.inputs.resolve("plans.jsonl"))
    var plans: Seq[PlanRecord] = Nil
    var fz: PlanFeaturizer = null
    val in = setUp(run)
    val reps = (0 until 3).map { _ =>
      val t0 = System.nanoTime()
      plans = t.span("plans.load")((0 until lines.size).map(i => PlanTrees.parseRecord(lines.get(i))))
      fz = t.span("plans.fit")(PlanFeaturizer.fit(plans))
      (System.nanoTime() - t0) / 1e9
    }
    run.setup("plans_s") = Stats.median(reps)
    run.perLayer("plans.load_s") = (Stats.median(t.named("plans.load").map(_.dur)), "s")
    run.perLayer("plans.fit_s") = (Stats.median(t.named("plans.fit").map(_.dur)), "s")
    val w = in.w
    val rows = w.queryIds.zipWithIndex.toMap
    def strategy(seed: Long) = new LimeQOPlusStrategy(plans, fz, rows, Rank, newObserveSize = PlusBatch,
      maxEpochs = PlusEpochs, seed = seed, maxRounds = PlusRounds)
    val dir = run.work.resolve("unit")
    var latency: Option[Seq[Double]] = None
    var rounds = 0
    var persistBytes = 0L
    var (trainS, inferS, samples) = (0.0, 0.0, 0.0)
    var tout = (0, 0)
    def unit(): Unit = {
      run.clean(dir)
      val done = seeds(run, 1).flatMap { seed =>
        persisted(run, dir, strategy(seed), seed, w, Some(in.mask)).map { case (res, trace, bytes) =>
          checkTrace(run, s"limeqo+ seed $seed", res, w)
          val snap = checkSnapshot(run, s"limeqo+ seed $seed", RunSnapshot.pathFor(trace))
          if (t.on) {
            persistBytes += bytes
            trainS += res.map(_.trainingTime).sum
            inferS += res.map(_.inferenceTime).sum
            snap.foreach { s =>
              samples += plans.count(p => rows.get(p.filename).exists(r => s.mask(r)(p.hintList.head)))
              tout = tout match {
                case (a, b) => val (x, y) = timeouts(s, in.mask.map(_.count(identity)).sum); (a + x, b + y)
              }
            }
          }
          s"limeqo+-$seed" -> res
        }
      }
      rounds = done.map(_._2.length).sum
      latency = repeats(run, latency, done.map(d => latencyAtBudget(d._2, JobBudget)), done)
    }
    // one round with one epoch compiles every path of the loop
    warmUp(run)(new LimeQOPlusStrategy(plans, fz, rows, Rank, newObserveSize = PlusBatch,
      maxEpochs = 1, seed = 0, maxRounds = 1).run(w, Some(in.mask), None, None))
    val (plain, withTrace) = run.units(3)(_ => unit())
    run.reportUnits(plain, withTrace, rounds)
    run.endToEnd("latency_at_budget_s") = (latency.map(l => l.sum / l.size).getOrElse(0.0), "s")
    run.facts ++= Seq("rounds_per_unit" -> rounds.toString, "budget_s" -> Json.num(JobBudget),
      "max_epochs" -> PlusEpochs.toString, "round_cap" -> PlusRounds.toString,
      "corpus_plans" -> plans.size.toString, "seeds" -> "1")
    if (run.traced) {
      val n = withTrace.size
      run.perLayer("model.tcnn.train_s") = (trainS / n, "s")
      run.perLayer("model.tcnn.infer_s") = (inferS / n, "s")
      run.perLayer("model.tcnn.train_samples") = (samples / n, "count")
      run.perLayer("strategy.rounds") = (rounds.toDouble, "count")
      run.perLayer("strategy.loop_self_s") = (t.selfTime("strategy.run") / n - trainS / n - inferS / n, "s")
      run.perLayer("strategy.timeout_ratio") = (tout._1.toDouble / math.max(tout._2, 1), "ratio")
      t.on = false
      reportPersistence(run, n, seeds(run, 1).map(seed => (strategy(seed), seed, Some(in.mask))), w, persistBytes)
    }
  }
}
