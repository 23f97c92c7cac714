package graft

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.catalyst.{Steered, SteeringLoop}

/** Benchmark main (driver contract): runs every SparkEntry query on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line
  * {"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}.
  *
  * Measurement notes:
  *  - results go to the `noop` sink, not `count()`: count() lets Spark
  *    collapse the plan to a row count (parquet count pushdown) and skip
  *    the projections entirely — noop forces every column to materialize.
  *  - one warmup pass first (JVM/codegen/broadcast warm), then the
  *    measured passes ([[passes]]); reported numbers are steady-state.
  */
object Bench {
  /** Measured passes: 5 in the default mode (the stall-wave note in [[main]]), 3 in the others. */
  private val DefaultReps = 5
  private val Reps = 3
  /** [[guard]]'s margins: a proposal is adopted below 0.85 × default, a
    * stored hint kept below 0.95 × default (a hysteresis band, not churn). */
  private[graft] val AdoptMargin = 0.85
  private[graft] val KeepMargin = 0.95

  /** JSON-bound number formatting MUST be locale-independent: `f"$v%.2f"`
    * uses the default locale, and a comma-decimal locale would emit
    * `1,42` and corrupt the machine-parsed line. */
  private def fmt(v: Double, dp: Int): String =
    String.format(java.util.Locale.ROOT, "%." + dp + "f", Double.box(v))

  /** Run `df` into the `noop` sink (see the measurement notes above). */
  private[graft] def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def outDir(env: String, default: String): Path = Paths.get(sys.env.getOrElse(env, default))

  /** The arm that runs a query under the session default. */
  private def plain(spark: SparkSession): (String, (SparkSession => DataFrame) => Unit) =
    "default" -> (fn => noop(fn(spark)))

  /** The queries the steered modes explore by default: all of SparkEntry
    * but q155_atrest_resolve. It builds its graph artifact in a fresh temp
    * dir per invocation, so its plan fingerprint is unstable by
    * construction (the relation PATH changes, which literal-nulling cannot
    * unify) and a learned hint could never match a later execution.
    * [[Cli.queries]] overrides. */
  private def steeredDefault: Seq[String] =
    SparkEntry.queries.keys.toSeq.sorted.filterNot(_ == "q155_atrest_resolve")

  /** A mode's queries ([[Cli.queries]] over `default`) as session
    * functions, each run once into the noop sink so the JVM and codegen
    * are warm before anything is measured, and the run's `failed` map. */
  private[graft] def warmQueries(spark: SparkSession, sfDir: String, default: Seq[String])
      : (Seq[(String, SparkSession => DataFrame)], mutable.Map[String, String]) = {
    val failed = mutable.LinkedHashMap.empty[String, String]
    val qs = Cli.queries(default).map(n =>
      n -> ((sp: SparkSession) => SparkEntry.queries(n)(sp, sfDir)))
    passes(qs, Seq(plain(spark)), 1, failed)
    (qs, failed)
  }

  /** `graft.Bench --steered` (round-13 verdict task 4): realize the
    * learned-steering win on the engine's own bench instead of only as a
    * trace. Phase 1 explores the (query × config) space with the online
    * censored-ALS loop (the LimeQO machinery over live Spark configs)
    * and learns one config per query into the [[graft.catalyst.Steered]]
    * registry; phase 2 BANKS the wall-clock by measuring every query
    * min-of-N under the session default and under its learned config,
    * alternating whole passes like the main bench. Artifacts (trace,
    * learned hints, steered-vs-default totals) land in
    * `experiment/steering/`. */
  private def steeredMain(spark: SparkSession, sfDir: String): Unit = {
    val (qs, failed) = warmQueries(spark, sfDir, steeredDefault)
    val names = qs.map(_._1)
    require(names.size >= 32, s"steered bench wants ≥32 queries, got ${names.size}")
    val configs = SteeringLoop.crossed(SteeringLoop.defaultConfigs,
      SteeringLoop.partitionTiers(8))
    val res = SteeringLoop.steer(spark, qs, configs, batch = 32, rounds = 10, learn = false)
    // TWO-STAGE ADOPTION. Stage 1 (propose): the loop's best completed
    // config per query (its recommendation) with a ≥10 % margin over the
    // observed default.
    // Selection on noisy minima is BIASED — the min over several sampled
    // cells beats the query's single default observation almost surely
    // (measured: without the second stage, all 45 queries "cleared" the
    // margin and the banked steered arm came out SLOWER) — so stage 2
    // (validate) re-measures each proposed pair on FRESH data,
    // independent of the sample that selected it, and only survivors are
    // learned. Real wins (the 20-50 % p8/shuffle_hash margins
    // tools/ConfigProbe measures on the shuffle-heavy queries) pass both
    // stages; noise picks fail the independent re-measure.
    // Validation is [[guard]] at a WIDER 15 % margin: this host's
    // sub-second queries carry ±10 % stall noise, and a single-sample
    // 10 % bar still let ~noise-level proposals through (banked: half
    // regressed). Only margins that survive two independent alternations
    // at 15 % are worth pinning to a plan — which is also the honest
    // deployment rule: a learned hint must beat the default by more than
    // the environment's own variance to be worth shipping.
    val validated = res.recommendations.filter(r => r.configName != configs.head.name &&
      r.observedSeconds < 0.9 * r.defaultSeconds).flatMap { r =>
      val cfg = configs.find(_.name == r.configName).get
      guard(r.queryName, AdoptMargin, failed, propose = Steered.learn(_, cfg.strategy, cfg.confs))(
        () => SparkEntry.queries(r.queryName)(spark, sfDir)).map(v => r.queryName -> (cfg.name, v))
    }.toMap
    val adopted = validated.collect { case (n, (c, (_, _, true))) => n -> c }
    val out = outDir("SPARK_GRAFT_STEER_OUT", "experiment/steering")
    Files.createDirectories(out)
    SteeringLoop.saveTrace(res, names, configs.map(_.name),
      out.resolve("bench_steer_trace.json"))
    Steered.save(out.resolve("bench_learned_hints.json"))
    // versioned decision table (round-14 verdict task 7): a deployment
    // pins `hints/v=N.json` while the next steering run publishes v=N+1
    val hintsVersion = Steered.saveVersioned(out.resolve("hints"))
    val (dTotal, sTotal, nExcluded) = bankHints(spark, qs, adopted.contains, failed,
      out.resolve("steered_bench.json"), "sf" -> sfDir, "configs" -> configs.size,
      "hints_version" -> hintsVersion, "exploration_seconds" -> res.totalExplorationSeconds) { n =>
      // a proposed query also records its validation arms and verdict
      ("config" -> adopted.getOrElse(n, "default")) +: validated.get(n).toSeq.map { case (c, (d, t, k)) =>
        "proposal" -> Obj("config" -> c, "default" -> d, "hinted" -> t, "kept" -> k) }
    }
    spark.stop()
    println(s"""{"metric":"steered_total","value":${fmt(sTotal, 2)},""" +
      s""""default_total":${fmt(dTotal, 2)},"unit":"sec","n":${names.size},""" +
      s""""excluded":$nExcluded,"sf":"$sfDir"}""")
  }

  /** Bank a hint set: alternate whole default/steered [[passes]] and take
    * per-query minima. Queries in `hinted` run genuinely different plans
    * per arm and keep separate minima; for every OTHER query both arms
    * execute the IDENTICAL plan, so the samples are POOLED into one min
    * used on both sides — more samples of the same plan under the bench's
    * min-of-k estimator, never a cross-plan comparison. Without pooling,
    * per-arm minima of identical plans differed by up to ±0.8 s of pure
    * window noise at sf0.1 and SUMMED into a phantom steering regression
    * larger than the real adopted deltas (round-16 measurement).
    * Writes `path`: `head`, the reps and the [[comparableTotals]], then
    * per query both arms plus `extra(query)`. Returns those totals. */
  private def bankHints(spark: SparkSession, qs: Seq[(String, SparkSession => DataFrame)],
                        hinted: String => Boolean, failed: mutable.Map[String, String],
                        path: Path, head: (String, Any)*)
                       (extra: String => Seq[(String, Any)]): (Double, Double, Int) = {
    val Seq(d, s) = passes(qs, Seq(plain(spark),
      "steered" -> ((fn: SparkSession => DataFrame) => Steered.run(fn(spark))(noop))),
      Reps, failed, pooled = n => !hinted(n))
    val totals @ (dTotal, sTotal, nExcluded) = comparableTotals(d, s)
    writeArtifact(path, head ++ Seq("reps" -> Reps, "excluded" -> nExcluded,
      "default_total" -> dTotal, "steered_total" -> sTotal), "queries", qs.indices.map(i =>
      qs(i)._1 -> Obj(Seq("default" -> d(i), "steered" -> s(i)) ++ extra(qs(i)._1): _*)), failed)
    totals
  }

  /** Load the latest hints version under `out/hints`; returns its size
    * and its number. */
  private def loadLatestHints(out: Path): (Int, Long) = {
    val loaded = Steered.loadLatestVersion(out.resolve("hints"))
    require(loaded > 0, s"no stored hints under ${out.resolve("hints")} — run --steered first")
    (loaded, Steered.latestVersion(out.resolve("hints")).getOrElse(0L))
  }

  /** `graft.Bench --steered --bank` : re-bank the LATEST stored hints
    * version without re-exploring — the deployment shape (a pinned
    * decision table measured against today's window) and the cheap way
    * to refresh the banked artifact after a hints change. Writes
    * experiment/steering/banked_bench.json. */
  private def bankMain(spark: SparkSession, sfDir: String): Unit = {
    val out = outDir("SPARK_GRAFT_STEER_OUT", "experiment/steering")
    val (_, version) = loadLatestHints(out)
    val (qs, failed) = warmQueries(spark, sfDir, steeredDefault)
    val hintedSet = qs.flatMap { case (n, fn) =>
      try if (Steered.hintFor(fn(spark)).isDefined) Some(n) else None
      catch { case e: Throwable => recordFailure(n, e, failed); None }
    }.toSet
    val (dTotal, sTotal, _) = bankHints(spark, qs, hintedSet, failed,
      out.resolve("banked_bench.json"), "sf" -> sfDir, "hints_version" -> version,
      "hinted" -> hintedSet.size)(n => Seq("hinted" -> hintedSet.contains(n)))
    spark.stop()
    println(s"""{"metric":"banked_steered_total","value":${fmt(sTotal, 2)},""" +
      s""""default_total":${fmt(dTotal, 2)},"unit":"sec","n":${qs.size},""" +
      s""""hinted":${hintedSet.size},"hints_version":$version,"sf":"$sfDir"}""")
  }

  /** `graft.Bench --steered --revalidate` (round-15 verdict task 5):
    * hint-STALENESS revalidation. Adopted hints are validated once, at
    * adoption; as data and code move they can silently regress — exactly
    * the failure mode the reference's offline loop exists to manage.
    * This arm loads the LATEST stored hints version, re-measures every
    * hinted query through [[guard]] at the 5 % keep margin (adoption
    * demanded 15 %, so the keep-bar gives hysteresis instead of churn),
    * DEMOTES hints that no longer clear it, and publishes the surviving
    * registry as the next hints version. Artifact:
    * experiment/steering/revalidate.json (kept/demoted counts + the
    * per-query numbers). */
  private def revalidateMain(spark: SparkSession, sfDir: String): Unit = {
    val out = outDir("SPARK_GRAFT_STEER_OUT", "experiment/steering")
    val (loaded, _) = loadLatestHints(out)
    val (qs, failed) = warmQueries(spark, sfDir, steeredDefault)
    val results = qs.flatMap { case (name, fn) =>
      guard(name, KeepMargin, failed)(() => fn(spark)).map(name -> _)
    }
    val kept = results.count(_._2._3)
    val demoted = results.size - kept
    val version = Steered.saveVersioned(out.resolve("hints"))
    writeArtifact(out.resolve("revalidate.json"), Seq(
      "sf" -> sfDir, "hints_loaded" -> loaded, "kept" -> kept,
      "demoted" -> demoted, "hints_version" -> version),
      "queries", results.map { case (name, (d, t, k)) =>
        name -> Obj("default" -> d, "hinted" -> t, "kept" -> k) },
      failed)
    spark.stop()
    println(s"""{"metric":"revalidate_kept","value":$kept,"demoted":$demoted,""" +
      s""""hints_version":$version,"unit":"count","sf":"$sfDir"}""")
  }

  /** The adoption guard: the native plan stays unless the hinted plan
    * measurably wins. One untimed build serves both `propose`, which
    * learns a proposal from it, and the hint lookup. Then
    * [[Steered.revalidateOne]] times build + run per arm, as [[bankHints]]
    * does (`noop(build())` against `Steered.run(build())(noop)`), min-of-2
    * per arm with the arms alternated, and keeps the query's hint only
    * below `margin` × default ([[AdoptMargin]] for a proposal,
    * [[KeepMargin]] for a stored hint). Returns (default, hinted, kept),
    * None for a query with no hint. A query that throws is logged and
    * kept in `failed` like [[timeQuery]]'s, and loses its hint: it has not
    * shown a win. */
  private[graft] def guard(name: String, margin: Double, failed: mutable.Map[String, String],
                           timer: (() => Unit) => Double = Steered.wallClockTimer,
                           propose: DataFrame => Unit = _ => ())
                          (build: () => DataFrame): Option[(Double, Double, Boolean)] =
    try {
      val df = build()
      propose(df)
      Steered.revalidateOne(df, build, reps = 2, margin = margin, timer = timer)(noop)
    } catch { case e: Throwable =>
      recordFailure(name, e, failed)
      None
    }

  /** `graft.Bench --graph` (round-14 verdict task 3): MEASURE the at-rest
    * graph's amortized win instead of only arguing it. The graph-family
    * gate queries (q103/q105/q129/q130/q144/q150-shaped consumers)
    * deliberately rebuild the edge list inline so DuckDB can replay them;
    * a deployment builds the graph ONCE ([[graft.operators
    * .GraphMaintenance.writeKnnGraph]]) and every consumer reads
    * `edgesAtRest`. This arm times both forms over the same embeddings,
    * alternating whole passes min-of-N like the main bench, and reports
    * rebuild-total vs build-once + read-total — the amortization curve's
    * two endpoints (the one-time build amortizes across every future
    * consumer run, so the steady-state comparison is read-total alone).
    * Artifact: experiment/graph/graph_bench.json. */
  private def graphMain(spark: SparkSession, sfDir: String): Unit = {
    import graft.operators._
    import org.apache.spark.sql.functions.col
    val emb = StageMaterialize(graft.Tables.embeddings(spark, sfDir)
      .select("vec_id", "embedding", "label"))
    val k = 5
    val nProbe = 2
    val nl = ProductQuantization.adaptiveNList(emb)
    val cents = SemanticDedup.refinedCentroids(emb, nl)
    val root = Files.createTempDirectory("graft-graph-bench")
    val embPath = s"$root/index"
    val graphPath = s"$root/graph"
    val failed = mutable.LinkedHashMap.empty[String, String]
    // the one-time cost a deployment pays ONCE per graph lifetime
    val buildSec = timeQuery("build", failed) {
      EmbeddingMaintenance.writeCellLayoutPersistent(emb, cents, embPath)
      GraphMaintenance.writeKnnGraph(spark, embPath, graphPath, k, nProbe)
    }
    // the six graph consumers, each a gate-query shape parameterized by
    // WHERE its edges come from
    val consumers: Seq[(String, DataFrame => DataFrame)] = Seq(
      "q103_edges" -> (e => e),
      "q105_clusters" -> (e =>
        GraphMaintenance.clustersFromEdges(emb.select("vec_id"), e, 0.40)),
      "q129_label_prop" -> (e =>
        KnnGraph.labelPropagate(emb, e, _ % 5 === 0, _ === 0)),
      "q130_pagerank" -> (e => KnnGraph.pageRank(emb, e)),
      "q144_mutual" -> (e => KnnGraph.mutualPurityAudit(emb, e)),
      "q150_pr_converged" -> (e =>
        KnnGraph.pageRankConverged(emb.select("vec_id"), e,
          tol = 1e-6, maxIters = 20)))
    val forms: Seq[(String, (DataFrame => DataFrame) => Unit)] = Seq(
      "rebuild" -> (fn => noop(fn(KnnGraph.knnEdgesWithCents(emb, cents, k, nProbe)))),
      "atrest" -> (fn => noop(fn(GraphMaintenance.edgesAtRest(spark, graphPath)))))
    // warm both forms once, then alternate whole passes, min per query
    passes(consumers, forms, 1, failed)
    val Seq(rebuildT, atRestT) = passes(consumers, forms, Reps, failed)
    val (rTotal, aTotal, nExcluded) = comparableTotals(rebuildT, atRestT)
    val sfName = Paths.get(sfDir).getFileName.toString
    writeArtifact(outDir("SPARK_GRAFT_GRAPH_OUT", "experiment/graph")
      .resolve(s"graph_bench_$sfName.json"), Seq(
      "sf" -> sfDir, "reps" -> Reps, "k" -> k, "nProbe" -> nProbe, "nList" -> nl,
      "excluded" -> nExcluded, "n_vectors" -> emb.count(),
      "build_once_seconds" -> buildSec, "rebuild_total" -> rTotal, "atrest_total" -> aTotal),
      "consumers", consumers.indices.map(i =>
        consumers(i)._1 -> Obj("rebuild" -> rebuildT(i), "atrest" -> atRestT(i))),
      failed)
    spark.stop()
    println(s"""{"metric":"graph_atrest_total","value":${fmt(aTotal, 2)},""" +
      s""""rebuild_total":${fmt(rTotal, 2)},""" +
      s""""build_once":${fmt(buildSec, 2)},"unit":"sec","n":${consumers.size},""" +
      s""""excluded":$nExcluded,"sf":"$sfDir"}""")
  }

  /** Wall seconds of one run of `body` (item `name`), or -1.0 when it
    * throws; the failure is logged to stderr and kept in `failed` (name →
    * last message) for the durable artifact. */
  private[graft] def timeQuery(name: String, failed: mutable.Map[String, String])
                              (body: => Unit): Double = {
    val t0 = System.nanoTime()
    try body catch { case e: Throwable => recordFailure(name, e, failed); return -1.0 }
    (System.nanoTime() - t0) / 1e9
  }

  private def recordFailure(name: String, e: Throwable, failed: mutable.Map[String, String]): Unit = {
    val msg = s"${e.getClass.getName}: ${e.getMessage}"
    System.err.println(s"[bench] $name failed: $msg")
    failed(name) = msg
  }

  /** Whole measured passes over `arms` × `items`, ordered (rep, arm,
    * item), so an item's runs are separated by a full pass of everything
    * else (see the stall-wave note in [[main]]). Each run goes through
    * [[timeQuery]]. Returns, per arm, each item's minimum over its
    * successful runs, or -1.0 when none succeeded. An item that `pooled`
    * accepts runs the identical plan on every arm (see [[bankHints]]): its
    * minimum is taken over all arms' runs and reported on each. */
  private[graft] def passes[A](items: Seq[(String, A)], arms: Seq[(String, A => Unit)], reps: Int,
                              failed: mutable.Map[String, String],
                              pooled: String => Boolean = _ => false): Seq[IndexedSeq[Double]] = {
    val runs = for (_ <- 1 to reps; (_, arm) <- arms)
      yield items.map { case (n, a) => timeQuery(n, failed)(arm(a)) }
    arms.indices.map { ai =>
      items.indices.map { i =>
        val own = runs.indices.filter(_ % arms.size == ai).map(runs(_)(i))
        val t = (if (pooled(items(i)._1)) runs.map(_(i)) else own)
          .filter(_ >= 0).minOption.getOrElse(-1.0)
        System.err.println(f"[bench] ${items(i)._1} ${arms(ai)._1}: $t%.2f s " +
          s"(${own.map(x => f"$x%.2f").mkString("/")})")
        t
      }
    }
  }

  /** Totals that compare apples-to-apples: an item that failed every run
    * of EITHER arm is excluded from BOTH totals (round-15 ADVICE: per-arm
    * drops let a steered-only failure silently flatter the steered
    * total); its -1 still lands in the per-item artifact. Returns (a's
    * total, b's total, the excluded count). */
  private[graft] def comparableTotals(a: Seq[Double], b: Seq[Double]): (Double, Double, Int) = {
    val ok = a.indices.filter(i => a(i) >= 0 && b(i) >= 0)
    (ok.map(a).sum, ok.map(b).sum, a.size - ok.size)
  }

  /** One JSON object of an artifact: Doubles print with 3 decimals, Strings
    * quoted, anything else (numbers, booleans, nested [[Obj]]s) as itself. */
  private final case class Obj(fields: (String, Any)*) {
    override def toString: String = fields.map { case (k, v) =>
      s"${Verify.quote(k)}: ${json(v)}" }.mkString("{", ", ", "}")
  }

  private def json(v: Any): String = v match {
    case d: Double => fmt(d, 3)
    case s: String => Verify.quote(s)
    case x => x.toString
  }

  /** Write a mode's artifact: the `head` keys, then `items` under
    * `itemsKey`, then `failed` (every item that threw on some run, with
    * its last message). One line per item keeps diffs reviewable. */
  private def writeArtifact(path: Path, head: Seq[(String, Any)], itemsKey: String,
                            items: Seq[(String, Any)],
                            failed: collection.Map[String, String]): Unit = {
    def lines(kv: Seq[(String, Any)], indent: String): Seq[String] =
      kv.map { case (k, v) => s"$indent${Verify.quote(k)}: ${json(v)}" }
    def block(key: String, kv: Seq[(String, Any)]): String =
      if (kv.isEmpty) s"""  "$key": {}"""
      else lines(kv, "    ").mkString(s"""  "$key": {\n""", ",\n", "\n  }")
    Files.createDirectories(path.getParent)
    Files.writeString(path, (lines(head, "  ") :+ block(itemsKey, items) :+
      block("failed", failed.toSeq.map { case (k, m) => k -> m.take(500) }))
      .mkString("{\n", ",\n", "\n}\n"))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Cli.cpus
    val spark = Cli.session()

    if (args.contains("--steered") && args.contains("--revalidate")) {
      revalidateMain(spark, sfDir); return
    }
    if (args.contains("--steered") && args.contains("--bank")) {
      bankMain(spark, sfDir); return
    }
    if (args.contains("--steered")) { steeredMain(spark, sfDir); return }
    if (args.contains("--graph")) { graphMain(spark, sfDir); return }

    // Cli.queries restricts the set (debug aid)
    val (qs, failed) = warmQueries(spark, sfDir, SparkEntry.queries.keys.toSeq.sorted)
    val names = qs.map(_._1)
    // best of 5 measured passes: this host shows sporadic multi-second
    // whole-JVM stalls (futex storms, system-time waves) unrelated to the
    // query; min-of-k reports steady-state per standard bench practice.
    // Reps are taken as whole-suite PASSES (every query once, then every
    // query again), not back-to-back: a stall wave lasting minutes
    // blankets consecutive runs, so adjacent reps would both land inside
    // it — separating a query's reps by a full pass lets the min escape
    // any wave shorter than the suite (observed: the same suite run twice
    // put 12-22 s on q73-q75 once and on q12-q22/q37 the other time).
    // Default raised 2 → 5 (round-13 verdict task 3): the per-round
    // driver run uses these defaults while the committed close-gate
    // artifact was min-of-6, and the two disagreed by ~13 % every round
    // purely from stall-wave exposure — at 5 separated passes the driver
    // number lands within the committed artifact's noise floor, so both
    // methodologies report the same engine.
    val results = names.zip(passes(qs, Seq(plain(spark)), DefaultReps, failed).head)

    val total = results.map(_._2).filter(_ >= 0).sum
    // The driver keeps only the LAST 2000 chars of stdout; the full-name
    // 123-query map is ~5 KB, so a full-name final line gets its head cut
    // off mid-JSON and the round artifact records "parsed": null (the
    // round-11 failure mode). The final stdout line therefore uses SHORT
    // keys (the qNN prefix, the contract's own example form) and
    // 2-decimal values — ~1.7 KB at 123 queries, inside the window. Full
    // names + 3-decimal values live in the committed bench/ file below
    // and on stderr.
    // Short keys must stay unique: two SparkEntry names sharing a qNN
    // prefix would silently collapse to one JSON key (last wins). Fail
    // loudly instead — the fix is renaming the offending query.
    val shortKeys = results.map(_._1.takeWhile(_ != '_'))
    require(shortKeys.distinct.size == results.size,
      "duplicate qNN prefixes in SparkEntry.queries: " +
        shortKeys.diff(shortKeys.distinct).distinct.mkString(","))
    def shortLine(dp: Int): String = {
      val qs = results.map { case (k, v) =>
        "\"" + k.takeWhile(_ != '_') + "\":" + fmt(v, dp) }
        .mkString("{", ",", "}")
      // "cpus" makes the effective parallelism self-evident (round-16
      // verdict task 2a: the scaling harness honors Cli.cpus, but
      // a heuristic reading only this line had to guess)
      s"""{"metric":"total","value":${fmt(total, 2)},"unit":"sec","cpus":$cpus,"queries":$qs,"sf":"$sfDir"}"""
    }
    // stay inside the driver's 2000-char stdout tail with margin: at 156
    // queries the 2-decimal line is ~1.86 KB, so the next few additions
    // would silently truncate the head of the JSON (the round-11 failure
    // mode). Degrade per-query precision before that happens — the
    // committed bench/ file keeps 3 decimals regardless.
    val line = Seq(2, 1).map(shortLine).find(_.length <= 1900)
      .getOrElse(shortLine(0))
    // Durable copy of the FULL per-query map: the driver's BENCH_r*.json
    // keeps only the tail of stdout, which truncated q01–q29 out of the
    // round-8 artifact and cost round 7 a noise-vs-regression fight. The
    // committed file (overwritten per run, one pretty line per query for
    // reviewable diffs) makes every timing recoverable from the repo.
    // A filtered debug run must not clobber the committed full-suite
    // artifact with a 2-query map.
    val suffix = if (names.size < SparkEntry.queries.size) "_partial" else ""
    val sfName = Paths.get(sfDir).getFileName.toString + suffix
    try writeArtifact(outDir("SPARK_GRAFT_BENCH_OUT", "bench").resolve(s"bench_$sfName.json"),
      Seq("metric" -> "total", "value" -> total, "unit" -> "sec", "sf" -> sfDir, "cpus" -> cpus),
      "queries", results, failed)
    catch {
      case e: Throwable =>
        System.err.println(s"[bench] durable artifact write failed: $e")
    }
    // the driver contract: the compact JSON line is the LAST stdout line —
    // stop Spark FIRST so no shutdown chatter can land after it
    spark.stop()
    println(line)
  }
}
