package graft

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main (driver contract): runs every SparkEntry query on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line
  * {"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}.
  *
  * Measurement notes:
  *  - results go to the `noop` sink, not `count()`: count() lets Spark
  *    collapse the plan to a row count (parquet count pushdown) and skip
  *    the projections entirely — noop forces every column to materialize.
  *  - one warmup pass first (JVM/codegen/broadcast warm), then the
  *    measured pass; reported numbers are steady-state.
  */
object Bench {
  /** JSON-bound number formatting MUST be locale-independent: `f"$v%.2f"`
    * uses the default locale, and a comma-decimal locale would emit
    * `1,42` and corrupt the machine-parsed line. */
  private def fmt(v: Double, dp: Int): String =
    String.format(java.util.Locale.ROOT, "%." + dp + "f", Double.box(v))

  /** Run `df` into the `noop` sink (see the measurement notes above). */
  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** The queries the steered bench explores by default. Round 13 started
    * with 45 relational/events/text queries; round 15 extends coverage to
    * the graph/dedup/similarity/learned families — the shuffle-heavy
    * shapes where tools/ConfigProbe measured 20–50 % wins for the
    * shuffle_hash/partition-tier dimensions — per the round-14 verdict
    * (≥80 done-bar). [[Cli.queries]] overrides. */
  private val steeredDefault: Seq[String] = Seq(
    // relational / events / text scoring (the round-13 set)
    "q01_pricing_summary", "q02_top_revenue", "q03_broadcast_join",
    "q04_semi_join", "q05_anti_join", "q06_row_min_sum", "q07_min_observed",
    "q08_distinct_sum", "q09_percentiles", "q10_count_distinct",
    "q11_argmin", "q12_cumsum", "q13_group_stats", "q14_group_median",
    "q15_window_rank", "q16_scalar_funcs", "q17_set_ops", "q18_interpolate",
    "q25_ngram_jaccard", "q29_ann_bruteforce", "q34_sessionize",
    "q35_asof_join", "q36_json_props", "q37_range_join", "q38_salted_agg",
    "q44_rollup", "q45_pivot", "q46_cube", "q47_clean_corpus",
    "q48_window_suite", "q53_full_outer", "q54_exists_subquery",
    "q55_array_funcs", "q56_funnel", "q59_source_overlap",
    "q62_tfidf_topterms", "q63_bigram_lm", "q65_lateral_topk",
    "q66_decay_engagement", "q68_regional_revenue", "q71_sliding_windows",
    "q72_ordered_set_aggs", "q73_event_paths", "q74_cohort_retention",
    "q75_promo_revenue",
    // dedup family (gram-keyed self-joins, shuffle-dominated)
    "q24_dedup_exact", "q26_minhash_signatures", "q27_lsh_pairs",
    "q28_simhash", "q42_dedup_clusters", "q49_decontaminate",
    "q60_chunk_dedup", "q64_hamming_profile", "q95_dedup_against_index",
    "q98_substr_spans", "q122_substr_removal", "q127_bloom_decontam",
    "q133_containment", "q134_winnowing", "q137_cdc_chunks",
    // similarity / graph family (cell joins, top-k windows, components)
    "q30_ann_lsh_bucketed", "q32_embedding_neardup", "q33_ann_native",
    "q61_embedding_outliers", "q70_dim_stats", "q81_pq_ann",
    "q83_ivfpq_ann", "q102_semantic_dedup", "q103_knn_graph",
    "q105_semantic_clusters", "q107_diversity_sample", "q114_filtered_ann",
    "q115_maxsim", "q117_hybrid_rrf", "q119_semantic_decontam",
    "q126_ivf_recall_audit", "q129_label_prop", "q130_pagerank",
    "q132_ndcg_audit", "q136_bm25", "q139_jl_audit", "q140_silhouette",
    "q144_mutual_knn",
    // text / learned-selection / mixture (vocab-keyed aggs + scoring joins)
    "q20_token_stats", "q21_quality_score", "q22_lang_id",
    "q23_fingerprint", "q39_vocab_topk", "q51_repetition",
    "q52_token_histogram", "q80_char_diversity", "q100_repetition",
    "q101_source_divergence", "q104_zipf_slope", "q108_nb_quality",
    "q109_dsir_resample", "q110_ccnet_buckets", "q128_heavy_hitters",
    "q131_unigram_logprob", "q142_kn_perplexity", "q143_countmin_audit",
    "q147_domain_reweight", "q151_model_drift", "q152_dsir_drift",
    "q153_kn_drift", "q156_effective_tokens",
    // packing / layout / events-at-scale
    "q76_seq_packing", "q77_chunk_windows", "q85_temperature_mix",
    "q86_shard_assign", "q90_winsorize", "q106_priority_sample",
    "q141_packing_efficiency", "q145_zorder_layout", "q148_reshard_audit",
    "q154_unimax_budget",
    "q19_event_windows", "q88_sessionize_scaled", "q89_event_paths_scaled",
    "q91_asof_scaled",
    // round-16 (verdict task 4): the remaining families — multimodal
    // headers, samplers, composed pipelines, calibration audits — so the
    // steered artifact covers the whole SparkEntry surface. The one
    // deliberate exclusion is q155_atrest_resolve: it builds its graph
    // artifact in a fresh temp dir per invocation, so its plan
    // fingerprint is unstable by construction (the relation PATH changes,
    // which literal-nulling cannot unify) and a learned hint could never
    // match a later execution.
    "q31_multimodal_decode", "q40_hash_split", "q41_approx_stats",
    "q43_frame_sample", "q50_stratified_sample", "q57_redact",
    "q58_source_quota", "q67_bpe_merges", "q69_token_budget",
    "q78_embed_quantize", "q79_lang_drift", "q82_e2e_pipeline",
    "q84_lsh_fast", "q87_ngram_novelty", "q92_dedup_clusters_fast",
    "q93_image_meta", "q94_audio_meta", "q96_video_meta",
    "q97_crossmodal_purity", "q99_bpe_encode", "q111_fertility",
    "q112_filter_funnel", "q113_snapshot_diff", "q116_truncation_audit",
    "q118_curation_pipeline", "q120_export_order", "q121_split_leakage",
    "q123_perceptual_neardup", "q124_semdedup_xcell", "q125_nn_descent",
    "q135_sketch_calibration", "q138_edit_verify", "q146_cluster_split",
    "q149_graph_arrival_diff", "q150_pagerank_residual")

  /** The steered modes' queries ([[Cli.queries]] over [[steeredDefault]])
    * as session functions, each run once into the noop sink so the JVM and
    * codegen are warm before anything is measured. */
  private def steeredQueries(spark: SparkSession,
                             sfDir: String): Seq[(String, SparkSession => DataFrame)] = {
    val qs = Cli.queries(steeredDefault).map(n =>
      n -> ((sp: SparkSession) => SparkEntry.queries(n)(sp, sfDir)))
    qs.foreach { case (_, fn) => try noop(fn(spark)) catch { case _: Throwable => () } }
    qs
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
    import graft.catalyst.{Steered, SteeringLoop}
    val qs = steeredQueries(spark, sfDir)
    val names = qs.map(_._1)
    require(names.size >= 32, s"steered bench wants ≥32 queries, got ${names.size}")
    val configs = SteeringLoop.crossed(SteeringLoop.defaultConfigs,
      SteeringLoop.partitionTiers(8))
    val batch = sys.env.getOrElse("SPARK_GRAFT_STEER_BATCH", "32").toInt
    val rounds = sys.env.getOrElse("SPARK_GRAFT_STEER_ROUNDS", "10").toInt
    val res = SteeringLoop.steer(spark, qs, configs,
      batch = batch, rounds = rounds, learn = false)
    // TWO-STAGE ADOPTION. Stage 1 (propose): the loop's best observed
    // config per query with a ≥10 % margin over the observed default.
    // Selection on noisy minima is BIASED — the min over several sampled
    // cells beats the query's single default observation almost surely
    // (measured: without the second stage, all 45 queries "cleared" the
    // margin and the banked steered arm came out SLOWER) — so stage 2
    // (validate) re-measures each proposed pair back-to-back on FRESH
    // data, independent of the sample that selected it, and only
    // survivors are learned. Real wins (the 20-50 % p8/shuffle_hash
    // margins tools/ConfigProbe measures on the shuffle-heavy queries)
    // pass both stages; noise picks fail the independent re-measure.
    val obsMin = res.observations.groupBy(o => (o.query, o.config))
      .view.mapValues(_.map(_.seconds).min).toMap
    val proposals = names.indices.flatMap { qi =>
      obsMin.get((qi, 0)).flatMap { d =>
        val cands = configs.indices.drop(1)
          .flatMap(ci => obsMin.get((qi, ci)).map(ci -> _))
        cands.sortBy(_._2).headOption.collect {
          case (bc, bt) if bt < 0.9 * d => (qi, bc)
        }
      }
    }
    // validation is min-of-2 per arm, alternated, at a WIDER 15 % margin:
    // this host's sub-second queries carry ±10 % stall noise, and a
    // single-sample 10 % bar still let ~noise-level proposals through
    // (banked: half regressed). Only margins that survive two independent
    // alternations at 15 % are worth pinning to a plan — which is also
    // the honest deployment rule: a learned hint must beat the default by
    // more than the environment's own variance to be worth shipping.
    val adopted = scala.collection.mutable.Map.empty[String, String]
    proposals.foreach { case (qi, ci) =>
      val d = Seq(SteeringLoop.measure(spark, qs(qi)._2, configs.head),
        SteeringLoop.measure(spark, qs(qi)._2, configs.head)).min
      val t = Seq(SteeringLoop.measure(spark, qs(qi)._2, configs(ci)),
        SteeringLoop.measure(spark, qs(qi)._2, configs(ci))).min
      if (t < 0.85 * d) {
        Steered.learn(qs(qi)._2(spark), configs(ci).strategy, configs(ci).confs)
        adopted(names(qi)) = configs(ci).name
      }
    }
    val outDir = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_STEER_OUT", "experiment/steering"))
    java.nio.file.Files.createDirectories(outDir)
    SteeringLoop.saveTrace(res, names, configs.map(_.name),
      outDir.resolve("bench_steer_trace.json"))
    Steered.save(outDir.resolve("bench_learned_hints.json"))
    // versioned decision table (round-14 verdict task 7): a deployment
    // pins `hints/v=N.json` while the next steering run publishes v=N+1
    val hintsVersion = Steered.saveVersioned(outDir.resolve("hints"))
    // bank it: alternate whole default/steered passes, min per query
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    val (defaultT, steeredT) = bankArms(spark, qs, adopted.contains, reps)
    // totals compare apples-to-apples: a query that failed every pass of
    // EITHER arm is excluded from BOTH totals (round-15 ADVICE: per-arm
    // drops let a steered-only failure silently flatter the steered
    // total); its -1 still lands in the per-query artifact, and the
    // excluded count is reported alongside the totals
    val comparable = names.indices.filter(i => defaultT(i) >= 0 && steeredT(i) >= 0)
    val nExcluded = names.size - comparable.size
    val dTotal = comparable.map(defaultT).sum
    val sTotal = comparable.map(steeredT).sum
    val recs = adopted.toMap
    val sb = new StringBuilder
    sb.append("{\n  \"sf\": \"").append(sfDir).append("\",\n")
    sb.append(s"""  "reps": $reps, "configs": ${configs.size}, "hints_version": $hintsVersion, "excluded": $nExcluded,\n""")
    sb.append(s"""  "default_total": ${fmt(dTotal, 3)},\n""")
    sb.append(s"""  "steered_total": ${fmt(sTotal, 3)},\n""")
    sb.append(s"""  "exploration_seconds": ${fmt(res.totalExplorationSeconds, 3)},\n""")
    sb.append("  \"queries\": {\n")
    sb.append(names.indices.map { i =>
      s"""    "${names(i)}": {"default": ${fmt(defaultT(i), 3)}, """ +
        s""""steered": ${fmt(steeredT(i), 3)}, "config": "${recs.getOrElse(names(i), "default")}"}"""
    }.mkString(",\n"))
    sb.append("\n  }\n}\n")
    java.nio.file.Files.writeString(outDir.resolve("steered_bench.json"), sb.toString)
    spark.stop()
    println(s"""{"metric":"steered_total","value":${fmt(sTotal, 2)},""" +
      s""""default_total":${fmt(dTotal, 2)},"unit":"sec","n":${names.size},""" +
      s""""excluded":$nExcluded,"sf":"$sfDir"}""")
  }

  /** Alternate whole default/steered passes and take per-query minima.
    * Queries in `hinted` run genuinely different plans per arm and keep
    * separate minima; for every OTHER query both arms execute the
    * IDENTICAL plan, so the samples are POOLED into one min used on both
    * sides — more samples of the same plan under the bench's min-of-k
    * estimator, never a cross-plan comparison. Without pooling, per-arm
    * minima of identical plans differed by up to ±0.8 s of pure window
    * noise at sf0.1 and SUMMED into a phantom steering regression larger
    * than the real adopted deltas (round-16 measurement). A query that
    * fails every pass of an arm records −1.0 (totals handle exclusion). */
  private def bankArms(spark: SparkSession,
                       qs: Seq[(String, SparkSession => DataFrame)],
                       hinted: String => Boolean,
                       reps: Int): (IndexedSeq[Double], IndexedSeq[Double]) = {
    import graft.catalyst.Steered
    def once(fn: SparkSession => DataFrame, steered: Boolean): Double = {
      val t0 = System.nanoTime()
      try {
        val df = fn(spark)
        if (steered) Steered.run(df)(noop) else noop(df)
      } catch { case _: Throwable => return -1.0 }
      (System.nanoTime() - t0) / 1e9
    }
    val passes = (1 to reps).flatMap(_ => Seq(
      qs.map { case (_, fn) => once(fn, steered = false) },
      qs.map { case (_, fn) => once(fn, steered = true) }))
    def armMin(i: Int, offset: Int): Double =
      passes.zipWithIndex.collect { case (p, pi) if pi % 2 == offset => p(i) }
        .filter(_ >= 0).minOption.getOrElse(-1.0)
    val pairs = qs.indices.map { i =>
      if (hinted(qs(i)._1)) (armMin(i, 0), armMin(i, 1))
      else {
        val pooled = passes.map(_(i)).filter(_ >= 0).minOption.getOrElse(-1.0)
        (pooled, pooled)
      }
    }
    (pairs.map(_._1), pairs.map(_._2))
  }

  /** `graft.Bench --steered --bank` : re-bank the LATEST stored hints
    * version without re-exploring — the deployment shape (a pinned
    * decision table measured against today's window) and the cheap way
    * to refresh the banked artifact after a hints change. Writes
    * experiment/steering/banked_bench.json. */
  private def bankMain(spark: SparkSession, sfDir: String): Unit = {
    import graft.catalyst.Steered
    val outDir = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_STEER_OUT", "experiment/steering"))
    val loaded = Steered.loadLatestVersion(outDir.resolve("hints"))
    require(loaded > 0, s"no stored hints under ${outDir.resolve("hints")} — " +
      "run --steered first")
    val version = Steered.latestVersion(outDir.resolve("hints")).getOrElse(0L)
    val qs = steeredQueries(spark, sfDir)
    val names = qs.map(_._1)
    val hintedSet = qs.flatMap { case (n, fn) =>
      try if (Steered.hintFor(fn(spark)).isDefined) Some(n) else None
      catch { case _: Throwable => None }
    }.toSet
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    val (defaultT, steeredT) = bankArms(spark, qs, hintedSet, reps)
    val comparable = names.indices.filter(i => defaultT(i) >= 0 && steeredT(i) >= 0)
    val nExcluded = names.size - comparable.size
    val dTotal = comparable.map(defaultT).sum
    val sTotal = comparable.map(steeredT).sum
    val sb = new StringBuilder
    sb.append("{\n  \"sf\": \"").append(sfDir).append("\",\n")
    sb.append(s"""  "reps": $reps, "hints_version": $version, "hinted": ${hintedSet.size}, "excluded": $nExcluded,\n""")
    sb.append(s"""  "default_total": ${fmt(dTotal, 3)},\n""")
    sb.append(s"""  "steered_total": ${fmt(sTotal, 3)},\n""")
    sb.append("  \"queries\": {\n")
    sb.append(names.indices.map { i =>
      s"""    "${names(i)}": {"default": ${fmt(defaultT(i), 3)}, """ +
        s""""steered": ${fmt(steeredT(i), 3)}, "hinted": ${hintedSet.contains(names(i))}}"""
    }.mkString(",\n"))
    sb.append("\n  }\n}\n")
    java.nio.file.Files.writeString(outDir.resolve("banked_bench.json"), sb.toString)
    spark.stop()
    println(s"""{"metric":"banked_steered_total","value":${fmt(sTotal, 2)},""" +
      s""""default_total":${fmt(dTotal, 2)},"unit":"sec","n":${names.size},""" +
      s""""hinted":${hintedSet.size},"hints_version":$version,"sf":"$sfDir"}""")
  }

  /** `graft.Bench --steered --revalidate` (round-15 verdict task 5):
    * hint-STALENESS revalidation. Adopted hints are validated once, at
    * adoption; as data and code move they can silently regress — exactly
    * the failure mode the reference's offline loop exists to manage.
    * This arm loads the LATEST stored hints version, re-measures every
    * hinted query default-vs-hinted min-of-2 alternated on the current
    * window, DEMOTES hints that no longer beat the default by ≥5 %
    * ([[graft.catalyst.Steered.revalidateOne]] — adoption demanded 15 %,
    * so a 5 % keep-bar gives hysteresis instead of churn), and publishes
    * the surviving registry as the next hints version. Artifact:
    * experiment/steering/revalidate.json (kept/demoted counts + the
    * per-query numbers). */
  private def revalidateMain(spark: SparkSession, sfDir: String): Unit = {
    import graft.catalyst.Steered
    val outDir = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_STEER_OUT", "experiment/steering"))
    val loaded = Steered.loadLatestVersion(outDir.resolve("hints"))
    require(loaded > 0, s"no stored hints under ${outDir.resolve("hints")} — " +
      "run --steered first")
    val qs = steeredQueries(spark, sfDir)
    val results = qs.flatMap { case (name, fn) =>
      try Steered.revalidateOne(fn(spark))(noop).map {
        case (d, t, kept) => (name, d, t, kept)
      } catch { case _: Throwable => None }
    }
    val kept = results.count(_._4)
    val demoted = results.size - kept
    val version = Steered.saveVersioned(outDir.resolve("hints"))
    val sb = new StringBuilder
    sb.append("{\n  \"sf\": \"").append(sfDir).append("\",\n")
    sb.append(s"""  "hints_loaded": $loaded, "kept": $kept, "demoted": $demoted, "hints_version": $version,\n""")
    sb.append("  \"queries\": {\n")
    sb.append(results.map { case (name, d, t, k) =>
      s"""    "$name": {"default": ${fmt(d, 3)}, "hinted": ${fmt(t, 3)}, "kept": $k}"""
    }.mkString(",\n"))
    sb.append("\n  }\n}\n")
    java.nio.file.Files.writeString(outDir.resolve("revalidate.json"), sb.toString)
    spark.stop()
    println(s"""{"metric":"revalidate_kept","value":$kept,"demoted":$demoted,""" +
      s""""hints_version":$version,"unit":"count","sf":"$sfDir"}""")
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
    val emb = graft.Tables.embeddings(spark, sfDir)
      .select("vec_id", "embedding", "label").localCheckpoint(true)
    val k = 5
    val nProbe = 2
    val nl = ProductQuantization.adaptiveNList(emb)
    val cents = SemanticDedup.refinedCentroids(emb, nl)
    val root = java.nio.file.Files.createTempDirectory("graft-graph-bench")
    val embPath = s"$root/index"
    val graphPath = s"$root/graph"
    def timed(body: => Unit): Double = {
      val t0 = System.nanoTime()
      try body catch { case _: Throwable => return -1.0 }
      (System.nanoTime() - t0) / 1e9
    }
    // the one-time cost a deployment pays ONCE per graph lifetime
    val buildSec = timed {
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
    def runPass(edges: () => DataFrame): Seq[Double] =
      consumers.map { case (_, fn) =>
        timed(noop(fn(edges())))
      }
    // warm both forms once, then alternate whole passes, min per query
    runPass(() => KnnGraph.knnEdgesWithCents(emb, cents, k, nProbe))
    runPass(() => GraphMaintenance.edgesAtRest(spark, graphPath))
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    val passes = (1 to reps).flatMap(_ => Seq(
      runPass(() => KnnGraph.knnEdgesWithCents(emb, cents, k, nProbe)),
      runPass(() => GraphMaintenance.edgesAtRest(spark, graphPath))))
    def minArm(offset: Int): Seq[Double] = consumers.indices.map(i =>
      passes.zipWithIndex.collect { case (p, pi) if pi % 2 == offset => p(i) }
        .filter(_ >= 0).minOption.getOrElse(-1.0))
    val rebuildT = minArm(0)
    val atRestT = minArm(1)
    // same apples-to-apples rule as the steered arm: a consumer that
    // failed every pass of either form drops from BOTH totals
    val comparable = consumers.indices.filter(i => rebuildT(i) >= 0 && atRestT(i) >= 0)
    val nExcluded = consumers.size - comparable.size
    val rTotal = comparable.map(rebuildT).sum
    val aTotal = comparable.map(atRestT).sum
    val outDir = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_GRAPH_OUT", "experiment/graph"))
    java.nio.file.Files.createDirectories(outDir)
    val sb = new StringBuilder
    sb.append("{\n")
    sb.append(s"""  "sf": "$sfDir", "reps": $reps, "k": $k, "nProbe": $nProbe, "nList": $nl, "excluded": $nExcluded,\n""")
    sb.append(s"""  "n_vectors": ${emb.count()},\n""")
    sb.append(s"""  "build_once_seconds": ${fmt(buildSec, 3)},\n""")
    sb.append(s"""  "rebuild_total": ${fmt(rTotal, 3)},\n""")
    sb.append(s"""  "atrest_total": ${fmt(aTotal, 3)},\n""")
    sb.append("  \"consumers\": {\n")
    sb.append(consumers.indices.map { i =>
      s"""    "${consumers(i)._1}": {"rebuild": ${fmt(rebuildT(i), 3)}, "atrest": ${fmt(atRestT(i), 3)}}"""
    }.mkString(",\n"))
    sb.append("\n  }\n}\n")
    val sfName = java.nio.file.Paths.get(sfDir).getFileName.toString
    java.nio.file.Files.writeString(
      outDir.resolve(s"graph_bench_$sfName.json"), sb.toString)
    spark.stop()
    println(s"""{"metric":"graph_atrest_total","value":${fmt(aTotal, 2)},""" +
      s""""rebuild_total":${fmt(rTotal, 2)},""" +
      s""""build_once":${fmt(buildSec, 2)},"unit":"sec","n":${consumers.size},""" +
      s""""excluded":$nExcluded,"sf":"$sfDir"}""")
  }

  /** Wall seconds of one run of query `name` into the noop sink, or -1.0
    * when it throws; the failure is logged to stderr and kept in `failed`
    * (name → last message) for the durable artifact. */
  private[graft] def timeQuery(spark: SparkSession, name: String, fn: SparkSession => DataFrame,
                               failed: mutable.Map[String, String]): Double = {
    val t0 = System.nanoTime()
    try noop(fn(spark))
    catch { case e: Throwable =>
      val msg = s"${e.getClass.getName}: ${e.getMessage}"
      System.err.println(s"[bench] $name failed: $msg")
      failed(name) = msg
      return -1.0
    }
    (System.nanoTime() - t0) / 1e9
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

    val failed = mutable.LinkedHashMap.empty[String, String]
    def runOnce(name: String): Double =
      timeQuery(spark, name, SparkEntry.queries(name)(_, sfDir), failed)

    // Cli.queries restricts the set (debug aid); SPARK_GRAFT_WARMUP=0
    // skips the warmup pass
    val names = Cli.queries(SparkEntry.queries.keys.toSeq.sorted)
    if (sys.env.getOrElse("SPARK_GRAFT_WARMUP", "1") != "0") names.foreach(runOnce)
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
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "5").toInt
    val passes = (1 to reps).map(_ => names.map(runOnce))
    val results = names.zipWithIndex.map { case (n, i) =>
      val ts = passes.map(_(i))
      val ok = ts.filter(_ >= 0)
      val t = if (ok.nonEmpty) ok.min else -1.0
      System.err.println(f"[bench] $n: $t%.2f s (${ts.map(x => f"$x%.2f").mkString("/")})")
      n -> t
    }

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
    System.err.println("[bench] full-name map: " + results.map {
      case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}"))
    // Durable copy of the FULL per-query map: the driver's BENCH_r*.json
    // keeps only the tail of stdout, which truncated q01–q29 out of the
    // round-8 artifact and cost round 7 a noise-vs-regression fight. The
    // committed file (overwritten per run, one pretty line per query for
    // reviewable diffs) makes every timing recoverable from the repo.
    val benchDir = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench"))
    try {
      java.nio.file.Files.createDirectories(benchDir)
      // A filtered debug run must not clobber the committed full-suite
      // artifact with a 2-query map.
      val suffix = if (names.size < SparkEntry.queries.size) "_partial" else ""
      val sfName = java.nio.file.Paths.get(sfDir).getFileName.toString + suffix
      val pretty = new StringBuilder()
      pretty.append("{\n  \"metric\": \"total\",\n")
      pretty.append(s"""  "value": ${fmt(total, 3)},""" + "\n")
      pretty.append("  \"unit\": \"sec\",\n")
      pretty.append(s"""  "sf": "$sfDir",\n""")
      pretty.append(s"""  "cpus": $cpus,\n""")
      pretty.append("  \"queries\": {\n")
      pretty.append(results.map { case (k, v) =>
        s"""    "$k": ${fmt(v, 3)}"""
      }.mkString(",\n"))
      // every query that threw on some run, with its last message
      pretty.append("\n  },\n  \"failed\": {")
      pretty.append(failed.map { case (k, v) =>
        s"""\n    ${Verify.quote(k)}: ${Verify.quote(v.take(500))}"""
      }.mkString(","))
      pretty.append(if (failed.isEmpty) "}\n}\n" else "\n  }\n}\n")
      java.nio.file.Files.writeString(
        benchDir.resolve(s"bench_$sfName.json"), pretty.toString)
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] durable artifact write failed: $e")
    }
    // the driver contract: the compact JSON line is the LAST stdout line —
    // stop Spark FIRST so no shutdown chatter can land after it
    spark.stop()
    println(line)
  }
}
