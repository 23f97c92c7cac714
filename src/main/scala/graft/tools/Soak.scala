package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Skew/scale soak harness (beyond the sf0.1 bench): generates a
  * synthetic corpus with the adversarial shapes a crawl corpus has at
  * 100 TB — then runs the dedup/text/ANN/packing query families against
  * it and prints per-query wall times (the SOAK.md table).
  *
  *   graft.tools.Soak gen <dir> [nDocs] [nVecs]   # write documents/embeddings.parquet
  *   graft.tools.Soak run <dir>                   # time the families, print a table
  *   graft.tools.Soak graphinc|graphre|graphauto|graphstream|graphlog <dir> [...]
  *                                                # at-rest graph lifecycle chains
  *
  * Generator shapes (all chosen to stress a specific scale mechanism):
  *  - ONE DOMINANT SOURCE: "web" holds ~88% of all documents — the shape
  *    that made the pre-r7 per-source packing window a single task
  *    (VERDICT r6 "What's wrong #1"); the two-level prefix sum must
  *    spread it across partitions.
  *  - STOPWORD-HEAVY SHARD: "spam" (~2%) draws from a 10-word
  *    vocabulary, so every shingle block in the n-gram/MinHash/overlap
  *    family collapses onto a handful of keys — the per-block caps and
  *    per-source distincts are what keep those self-joins bounded.
  *  - DUP CLUSTERS: ~10% of documents copy a template (exact dups in
  *    clusters of ~5); another ~10% copy a template with one word
  *    perturbed (near-dups) — dedup output sizes stay meaningful.
  *  - CLUSTERED EMBEDDINGS: 64-dim vectors around 50 centers with small
  *    noise — IVF/PQ cell pruning sees realistic cluster structure.
  *
  * Everything is generated DISTRIBUTED and deterministically (seeded
  * hash expressions, no driver loops, no RNG state), so the soak scales
  * with nDocs and reproduces bit-identically.
  */
object Soak {

  /** Content vocabulary (deterministic): 200 "content" words plus the
    * 10-word stopword core the spam shard is restricted to. */
  private val stopwords = Seq("the", "of", "and", "a", "to", "in", "is", "it", "on", "for")
  private val content = (0 until 200).map(i => s"w${i}x")

  def genDocuments(spark: SparkSession, nDocs: Long): DataFrame = {
    val nPar = spark.sparkContext.defaultParallelism * 4
    val vocabAll = (stopwords ++ content).map(w => s"'$w'").mkString(", ")
    val vocabSpam = stopwords.map(w => s"'$w'").mkString(", ")
    spark.range(0, nDocs, 1, nPar)
      .withColumn("r", pmod(hash(col("id"), lit(1)), lit(1000)))
      // 88% web / 2% spam / 10% across ten minor sources
      .withColumn("source",
        when(col("r") < 880, lit("web"))
          .when(col("r") < 900, lit("spam"))
          .otherwise(concat(lit("src"), pmod(col("r"), lit(10)))))
      // dup structure: 10% exact-dup clusters (~5 docs/template), 10%
      // near-dups (template + 1 perturbed word), 80% unique text seeded
      // by the doc id itself
      .withColumn("d", pmod(hash(col("id"), lit(2)), lit(10)))
      .withColumn("tpl",
        when(col("d") === 0, pmod(hash(col("id"), lit(3)), lit(nDocs / 50)))
          .when(col("d") === 1, pmod(hash(col("id"), lit(4)), lit(nDocs / 50)))
          .otherwise(col("id")))
      .withColumn("n_words",
        (lit(30) + pmod(hash(col("tpl"), lit(5)), lit(90))).cast("int"))
      .withColumn("words", expr(
        s"""transform(sequence(1, n_words), i ->
           |  CASE WHEN source = 'spam'
           |    THEN elt(1 + pmod(hash(tpl, i, 7), ${stopwords.length}), $vocabSpam)
           |    ELSE elt(1 + pmod(hash(tpl, i, 8), ${stopwords.length + content.length}), $vocabAll)
           |  END)""".stripMargin))
      // near-dups perturb exactly one position of the template's text
      .withColumn("text",
        when(col("d") === 1,
          concat_ws(" ", expr(
            s"transform(words, (w, i) -> IF(i = pmod(hash(id, 9), n_words), 'uniq' || id, w))")))
          .otherwise(concat_ws(" ", col("words"))))
      .withColumn("lang", elt(lit(1) + pmod(hash(col("tpl"), lit(10)), lit(5)),
        lit("en"), lit("de"), lit("fr"), lit("es"), lit("zh")))
      .select(
        col("id").as("doc_id"),
        col("text"),
        col("lang"),
        col("source"),
        length(col("text")).cast("long").as("n_chars"))
  }

  def genEmbeddings(spark: SparkSession, nVecs: Long, dim: Int = 64,
                    nCenters: Int = 50): DataFrame = {
    val nPar = spark.sparkContext.defaultParallelism * 4
    spark.range(0, nVecs, 1, nPar)
      .withColumn("c", pmod(hash(col("id"), lit(11)), lit(nCenters)))
      .withColumn("embedding", expr(
        s"""transform(sequence(0, ${dim - 1}), i -> CAST(
           |  sin(c * 31 + i) * 2.0 +
           |  (pmod(hash(id, i, 12), 1000) / 1000.0 - 0.5) * 0.3 AS FLOAT))""".stripMargin))
      .select(col("id").as("vec_id"), col("embedding"), col("c").cast("int").as("label"))
  }

  /** Skewed event stream: ONE user holds ~50 % of all events — the shape
    * that turns every per-user window (sessionize, as-of, paths, sliding
    * aggregates) into a single-task straggler if the operator depends on
    * user-level parallelism alone. Timestamps are hash-uniform over a span
    * proportional to nEvents, so the hot user's inter-event gaps stay
    * small (few sessions, long sorted runs) while minor users straddle
    * the 30-minute session boundary — both window regimes exercised.
    * Schema matches the driver testdata exactly (incl. `props` = {"k":N}). */
  def genEvents(spark: SparkSession, nEvents: Long): DataFrame = {
    val nPar = spark.sparkContext.defaultParallelism * 4
    val nUsers = math.max(100L, nEvents / 1000L)
    val spanMs = nEvents * 4000L
    spark.range(0, nEvents, 1, nPar)
      .withColumn("user_id",
        when(pmod(hash(col("id"), lit(21)), lit(2)) === 0, lit(0L))
          .otherwise(lit(1L) + pmod(hash(col("id"), lit(22)), lit(nUsers - 1))))
      .withColumn("event_type", elt(
        ((lit(1) + pmod(hash(col("id"), lit(24)), lit(20)))
          +: (Seq.fill(11)("view") ++ Seq.fill(5)("click") ++ Seq.fill(2)("purchase")
              ++ Seq("signup", "error")).map(lit)): _*))
      .select(
        col("id").as("event_id"),
        timestamp_millis(lit(1700000000000L)
          + pmod(hash(col("id"), lit(23)).cast("long") * 524287L, lit(spanMs))).as("ts"),
        col("user_id"),
        col("event_type"),
        (pmod(hash(col("id"), lit(25)), lit(10000)) / 100.0).as("value"),
        concat(lit("{\"k\": "), pmod(hash(col("id"), lit(26)), lit(100)), lit("}"))
          .as("props"))
  }

  /** The soak families: every gate query that reads ONLY documents /
    * embeddings — dedup, text analysis, similarity/ANN, packing, and the
    * composed pipeline. (TPC-H-backed queries soak via the driver bench.) */
  val families: Seq[String] = Seq(
    // dedup
    "q24_dedup_exact", "q25_ngram_jaccard", "q26_minhash_signatures",
    "q26_minhash_fast", "q27_lsh_pairs", "q84_lsh_fast", "q28_simhash",
    "q64_hamming_profile", "q42_dedup_clusters", "q92_dedup_clusters_fast",
    "q49_decontaminate", "q59_source_overlap", "q60_chunk_dedup",
    "q95_dedup_against_index", "q98_substr_spans", "q98_substr_hashed",
    "q122_substr_removal", "q102_semantic_dedup", "q102_semantic_trained",
    "q124_semdedup_xcell", "q127_bloom_decontam", "q133_containment",
    "q25_capsat", "q133_capsat",
    "q134_winnowing", "q135_sketch_calibration",
    "q137_cdc_chunks", "q138_edit_verify", "q146_cluster_split",
    // text analysis
    // mixture / scheduling (round 8)
    "q85_temperature_mix", "q86_shard_assign", "q87_ngram_novelty", "q148_reshard_audit",
    "q154_unimax_budget", "q156_effective_tokens",
    "q90_winsorize", "q90_winsorize_approx",
    "q20_token_stats", "q21_quality_score", "q22_lang_id", "q23_fingerprint",
    "q39_vocab_topk", "q47_clean_corpus", "q51_repetition", "q52_token_histogram",
    "q57_redact", "q62_tfidf_topterms", "q63_bigram_lm", "q80_char_diversity",
    "q106_priority_sample",
    "q99_bpe_encode", "q100_repetition", "q101_source_divergence",
    "q104_zipf_slope", "q128_heavy_hitters", "q131_unigram_logprob",
    "q142_kn_perplexity", "q143_countmin_audit", "q147_domain_reweight",
    // learned selection (round 9)
    "q108_nb_quality", "q109_dsir_resample", "q110_ccnet_buckets", "q110_ccnet_approx",
    "q118_curation_pipeline", "q151_model_drift", "q152_dsir_drift",
    "q153_kn_drift", "q153_kn_drift_approx",
    "q111_fertility", "q112_filter_funnel", "q113_snapshot_diff",
    "q121_split_leakage",
    // multimodal plumbing
    "q31_multimodal_decode", "q43_frame_sample", "q93_image_meta",
    "q94_audio_meta", "q96_video_meta", "q123_perceptual_neardup",
    // similarity / ANN
    "q29_ann_bruteforce", "q30_ann_lsh_bucketed", "q32_embedding_neardup",
    "q33_ann_native", "q61_embedding_outliers", "q70_dim_stats",
    "q81_pq_ann", "q83_ivfpq_ann", "q97_crossmodal_purity", "q103_knn_graph",
    "q103_knn_trained", "q105_semantic_clusters", "q105_clusters_trained",
    "q107_diversity_sample", "q114_filtered_ann",
    "q125_nn_descent", "q125_descent_trained",
    "q115_maxsim", "q116_truncation_audit", "q117_hybrid_rrf",
    "q136_bm25", "q139_jl_audit", "q140_silhouette",
    "q119_semantic_decontam", "q126_ivf_recall_audit", "q132_ndcg_audit",
    "q129_label_prop", "q130_pagerank", "q130_pagerank_trained",
    "q144_mutual_knn", "q144_mutual_hier", "q103_knn_hier",
    "q149_graph_arrival_diff", "q150_pagerank_residual",
    // sequence assembly + pipeline
    "q76_seq_packing", "q77_chunk_windows", "q78_embed_quantize",
    "q141_packing_efficiency",
    "q79_lang_drift", "q82_e2e_pipeline", "q120_export_order",
    // events (skewed-user stream; every query here reads ONLY events)
    "q19_event_windows", "q34_sessionize", "q88_sessionize_scaled",
    "q35_asof_join", "q91_asof_scaled", "q36_json_props",
    "q38_salted_agg", "q45_pivot", "q56_funnel", "q66_decay_engagement",
    "q71_sliding_windows", "q73_event_paths", "q89_event_paths_scaled",
    "q74_cohort_retention")

  /** Super-cell fan-out for the hier soak twins. nSuperProbe = max(4,
    * nSuper/5) saturates at small nList: whenever nSuperProbe >= nSuper
    * the two-level probe visits every super-cell, so the "hier" twin
    * degenerates to flat-plus-overhead — identical candidate sets,
    * measuring nothing about the hierarchy. Mark that loudly in the
    * soak output instead of letting the flat-vs-hier comparison pass
    * silently (round-13 ADVICE). */
  private def hierFanout(nList: Int, name: String): (Int, Int) = {
    val nSuper = math.max(1, math.ceil(math.sqrt(nList.toDouble)).toInt)
    val nSuperProbe = math.max(4, nSuper / 5)
    if (nSuperProbe >= nSuper)
      System.err.println(s"[soak] $name: nSuperProbe=$nSuperProbe >= " +
        s"nSuper=$nSuper at nList=$nList — the hier probe visits ALL " +
        "super-cells; this twin measures flat-plus-overhead, not the hierarchy")
    (nSuper, nSuperProbe)
  }

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("run")
    val dir = args.lift(1).getOrElse("target/soak")
    val spark = graft.Cli.session()
    // shuffle partitions default to the core count but are
    // independently overridable: the 8× chain showed the gram-keyed
    // families going superlinear at 800k docs under 32 fixed
    // partitions (per-partition hash state outgrows memory and
    // spills) — the cluster answer is partitions ∝ data, which
    // SPARK_GRAFT_SHUFFLE simulates
    sys.env.get("SPARK_GRAFT_SHUFFLE").foreach(spark.conf.set("spark.sql.shuffle.partitions", _))
    // input-split sizing: a soak corpus is SMALL ON DISK but explodes
    // 60-80× in the gram stage — at the default 128 MB split the 800k
    // corpus (~320 MB) becomes 3 map tasks each sorting ~17M exploded
    // shuffle rows (spill → superlinear). A real cluster sizes splits
    // for the post-explode width; SPARK_GRAFT_MAXPART simulates it
    sys.env.get("SPARK_GRAFT_MAXPART").foreach(spark.conf.set("spark.sql.files.maxPartitionBytes", _))

    mode match {
      case "gen" =>
        val nDocs = args.lift(2).map(_.toLong).getOrElse(2000000L)
        val nVecs = args.lift(3).map(_.toLong).getOrElse(200000L)
        val nEvents = args.lift(4).map(_.toLong).getOrElse(1000000L)
        val t0 = System.nanoTime()
        genDocuments(spark, nDocs).write.mode("overwrite")
          .parquet(s"$dir/documents.parquet")
        genEmbeddings(spark, nVecs).write.mode("overwrite")
          .parquet(s"$dir/embeddings.parquet")
        genEvents(spark, nEvents).write.mode("overwrite")
          .parquet(s"$dir/events.parquet")
        println(f"generated $nDocs docs + $nVecs vecs + $nEvents events in ${(System.nanoTime() - t0) / 1e9}%.1f s -> $dir")
      case "run" =>
        // Soak-only probes: production-kernel variants of oracle-gated
        // queries (not SparkEntry gate entries — their contract lives in
        // specs), timed here so the md5-vs-fast gap stays measurable.
        val soakOnly: Map[String, (SparkSession, String) => DataFrame] = Map(
          // approx-percentile production twins of the per-source-cut
          // family (round-15 verdict task 6): the gates keep exact
          // percentile for the DuckDB pairing; production swaps the
          // mergeable sketch in — the soak times BOTH so the exact
          // aggregate's sort-buffer cost is visible at scale
          "q90_winsorize_approx" ->
            graft.operators.MixtureOps.q90WinsorizeCuts(exactCuts = false),
          "q110_ccnet_approx" ->
            graft.operators.QualityModels.q110CcnetBucketsCuts(exactCuts = false),
          "q153_kn_drift_approx" ->
            graft.operators.CorpusOps.q153KnDriftCuts(exactCuts = false),
          // TRAINED-quantizer twins of the semantic gates: since r11 the
          // gate wrappers run the oracle-replayable sampled+refined
          // quantizer (hash-exact, ~2× slower at soak scale because the
          // one-step refinement converges to ~1.5× the balanced candidate
          // volume); production deployments run the trained path, so the
          // soak times BOTH
          "q102_semantic_trained" -> ((s, d) => {
            val emb = graft.Tables.embeddings(s, d)
            graft.operators.SemanticDedup.verdicts(emb,
              graft.operators.ProductQuantization.adaptiveNList(emb), 0.45)
          }),
          "q103_knn_trained" -> ((s, d) => {
            val emb = graft.Tables.embeddings(s, d)
            graft.operators.KnnGraph.knnEdges(emb, 5,
              graft.operators.ProductQuantization.adaptiveNList(emb), 4)
          }),
          "q105_clusters_trained" -> ((s, d) => {
            val emb = graft.Tables.embeddings(s, d)
            graft.operators.KnnGraph.semanticClusters(emb, 5,
              graft.operators.ProductQuantization.adaptiveNList(emb), 2, 0.40)
          }),
          // production NN-descent: xxhash64 seed buckets over the trained
          // nProbe=4 base (the q125 gate runs md5 seeds over a starved
          // nProbe=1 base so DuckDB can replay it — time both)
          "q125_descent_trained" -> ((s, d) => {
            val emb = graft.Tables.embeddings(s, d)
            graft.operators.KnnGraph.nnDescent(emb,
              graft.operators.KnnGraph.knnEdges(emb, 5,
                graft.operators.ProductQuantization.adaptiveNList(emb), 4),
              5, rounds = 1, randomBuckets = 2)
          }),
          // trained-quantizer PageRank: the production centrality path
          // (graph under trainCoarse centroids instead of the gate's
          // SQL-expressible grid)
          "q130_pagerank_trained" -> ((s, d) => {
            val emb = graft.Tables.embeddings(s, d)
            graft.operators.KnnGraph.pageRank(emb,
              graft.operators.KnnGraph.knnEdges(emb, 5,
                graft.operators.ProductQuantization.adaptiveNList(emb), 2))
          }),
          // HIERARCHICAL-quantizer twins (round 13c): the production
          // graph path once adaptive nList passes ~10^3 cells — the flat
          // per-vector centroid scan is O(N^2/targetCell) under the
          // adaptive contract (the q144 gate chain measured 3.5x/doubling
          // from exactly this term), while the two-level probe prices the
          // quantizer at O(N*(nSuper + nList*nSuperProbe/nSuper))
          // the hier twins run the SAME refined centroids as the q103/q144
          // gates so flat-vs-hier isolates the quantizer pricing (a
          // trainCoarse variant was rejected by this soak: its <=2048-row
          // sample degenerates at nList=400 — 5 points/cluster — and the
          // imbalanced cells blow the candidate join past the flat form)
          "q103_knn_hier" -> ((s, d) => {
            val emb = graft.Tables.embeddings(s, d)
            val nl = graft.operators.ProductQuantization.adaptiveNList(emb)
            val cents = graft.operators.SemanticDedup.refinedCentroids(emb, nl)
            val (nSuper, nSuperProbe) = hierFanout(nl, "q103_knn_hier")
            graft.operators.KnnGraph.knnEdgesHier(emb, cents, 5, 4,
              nSuper, nSuperProbe)
          }),
          "q144_mutual_hier" -> ((s, d) => {
            val emb = graft.Tables.embeddings(s, d)
            val nl = graft.operators.ProductQuantization.adaptiveNList(emb)
            val cents = graft.operators.SemanticDedup.refinedCentroids(emb, nl)
            val (nSuper, nSuperProbe) = hierFanout(nl, "q144_mutual_hier")
            graft.operators.KnnGraph.mutualPurityAudit(emb,
              graft.operators.KnnGraph.knnEdgesHier(emb, cents, 5, 4,
                nSuper, nSuperProbe))
          }),
          // CAP-SATURATION twins (round-13 verdict task 2): q25/q133 with
          // the block cap lowered 4x (32 -> 8), so the generator's dup
          // blocks exceed the cap at EVERY corpus size and the O(N*cap)
          // regime is measured directly instead of argued — below
          // saturation the soak steps ride the generator's pair-mass
          // ramp; above it, wall growth must flatten to <=2x/doubling
          "q25_capsat" -> ((s, d) => graft.operators.DedupOps
            .jaccardPairs(graft.Tables.documents(s, d), minJaccard = 0.2,
              blockCap = 8)),
          "q133_capsat" -> ((s, d) => graft.operators.DedupOps
            .containmentPairs(graft.Tables.documents(s, d),
              minContainment = 0.8, blockCap = 8)),
          "q26_minhash_fast" -> ((s, d) => graft.operators.DedupOps
            .minhashSignatures(graft.Tables.documents(s, d), useFastKernel = true)),
          "q98_substr_hashed" -> ((s, d) => graft.operators.SubstrDedup
            .substrSpanCoverage(graft.Tables.documents(s, d), hashedKeys = true)))
        val rows = graft.Cli.queries(families,
            graft.SparkEntry.queries.keySet ++ soakOnly.keySet).map { name =>
          // resolve via Option: an entry missing from BOTH maps (renamed
          // query, stale families list) records as that one query's
          // failure instead of aborting the whole soak mid-run
          val fn = graft.SparkEntry.queries.get(name).orElse(soakOnly.get(name))
          // SPARK_GRAFT_REPEAT=N runs each query N times in the same JVM
          // and reports the MINIMUM: this VM's host occasionally steals
          // CPU in multi-minute waves (round-12 windows saw the same
          // query swing 10× between runs with an idle guest), and a
          // min-of-N warm measurement is robust to additive noise where
          // a single cold run is not. Cold-start cost is a separate,
          // per-JVM number — quote it from REPEAT=1 windows only.
          val repeat = sys.env.get("SPARK_GRAFT_REPEAT").map(_.toInt).getOrElse(1)
          val trials = (1 to repeat).map { _ =>
            val t0 = System.nanoTime()
            val outcome = fn match {
              case None => "FAIL unresolved: not in SparkEntry.queries or soakOnly"
              case Some(f) =>
                try { f(spark, dir).write.format("noop").mode("overwrite").save(); "ok" }
                catch { case e: Throwable => s"FAIL ${e.getClass.getSimpleName}: ${e.getMessage.take(80)}" }
            }
            ((System.nanoTime() - t0) / 1e9, outcome)
          }
          // min over SUCCESSFUL trials only: a fast-failing trial (e.g.
          // immediate exception) would otherwise record a misleadingly
          // small wall time next to a FAIL outcome, and the chain
          // analysis downstream consumes these numbers as real work.
          val secs = trials.filter(_._2 == "ok").map(_._1)
            .minOption.getOrElse(trials.map(_._1).min)
          val outcome = trials.map(_._2).find(_ != "ok").getOrElse("ok")
          val all = if (repeat > 1)
            trials.map(t => f"${t._1}%.2f").mkString(" (", "/", ")") else ""
          println(f"$name%-28s $secs%8.2f s  $outcome$all")
          (name, secs, outcome)
        }
        val total = rows.map(_._2).sum
        // the md5 signature family exists only to stay DuckDB-replayable;
        // production runs the fast kernel, so report both totals
        val oracleOnly = Set("q26_minhash_signatures", "q98_substr_spans")
        val prod = rows.filterNot(r => oracleOnly(r._1)).map(_._2).sum
        println(f"TOTAL ${rows.length} queries ${total}%.1f s (production-kernel total ${prod}%.1f s); failures: ${rows.count(_._3 != "ok")}")
      case "graphinc" =>
        // The at-rest kNN-graph lifecycle (round-13 verdict task 1's
        // done-bar): against <dir>/embeddings.parquet, time (a) the full
        // build — index layout + edge layout — and (b) the incremental
        // upsertGraph of a FIXED-size arrival batch. Across a doubling
        // chain (a) grows with the corpus while (b) must track the
        // BATCH: the reverse-probe partitions bound the displaced-source
        // work, so incremental cost is ∝ batch, not corpus.
        val batchN = args.lift(2).map(_.toLong).getOrElse(1000L)
        val emb = spark.read.parquet(s"$dir/embeddings.parquet")
          .select("vec_id", "embedding", "label")
        val n = emb.count()
        val base = emb.filter(col("vec_id") < n - batchN)
        val arrivals = emb.filter(col("vec_id") >= n - batchN)
          .localCheckpoint(true)
        val nl = graft.operators.ProductQuantization.adaptiveNList(base)
        val cents = graft.operators.ProductQuantization.trainCoarse(base, nl)
        val root = s"$dir/graphinc"
        val embPath = s"$root/index"
        val graphPath = s"$root/graph"
        def timed[A](what: String)(body: => A): A = {
          val t0 = System.nanoTime()
          val r = body
          println(f"$what%-22s ${(System.nanoTime() - t0) / 1e9}%8.2f s" +
            f"  (corpus ${n - batchN}, batch $batchN, nList $nl)")
          r
        }
        timed("index_layout") {
          graft.operators.EmbeddingMaintenance.writeCellLayout(base, cents, embPath)
          graft.operators.EmbeddingMaintenance.saveQuantizer(spark, embPath, cents,
            graft.operators.EmbeddingMaintenance.layoutStats(spark, embPath, cents))
        }
        timed("graph_full_build") {
          graft.operators.GraphMaintenance.writeKnnGraph(
            spark, embPath, graphPath, k = 5, nProbe = 2)
        }
        timed("graph_incremental") {
          graft.operators.GraphMaintenance.upsertGraph(
            spark, embPath, graphPath, arrivals)
        }
        val edges = graft.operators.GraphMaintenance.edgesAtRest(spark, graphPath)
        println(s"edges at rest: ${edges.count()} rows over $n vectors")
      case "graphre" =>
        // RE-EMBED batch profile (round 15): the graphinc chain is
        // insert-only, so its repair-discovery line exercises the empty
        // fast path. This mode re-embeds a fixed-size batch of EXISTING
        // vectors (deterministic perturbation, cells may move) against a
        // full layout+graph and profiles the repair path proper: the
        // dir/ present-lookup finds every batch id, the redges/ read
        // pruned to their old cells discovers the stale-edge holders,
        // and rebuildSources re-probes them. Run across the doubling
        // corpora with SPARK_GRAFT_PROFILE=1: present-lookup and
        // repair-discovery must stay flat while the repair cosine work
        // tracks the affected-source count, not the corpus.
        val batchN = args.lift(2).map(_.toLong).getOrElse(1000L)
        val emb = spark.read.parquet(s"$dir/embeddings.parquet")
          .select("vec_id", "embedding", "label")
        val n = emb.count()
        val nl = graft.operators.ProductQuantization.adaptiveNList(emb)
        val cents = graft.operators.ProductQuantization.trainCoarse(emb, nl)
        val root = s"$dir/graphre"
        val embPath = s"$root/index"
        val graphPath = s"$root/graph"
        def timed[A](what: String)(body: => A): A = {
          val t0 = System.nanoTime()
          val r = body
          println(f"$what%-22s ${(System.nanoTime() - t0) / 1e9}%8.2f s" +
            f"  (corpus $n, re-embed batch $batchN, nList $nl)")
          r
        }
        timed("index_layout") {
          graft.operators.EmbeddingMaintenance.writeCellLayout(emb, cents, embPath)
          graft.operators.EmbeddingMaintenance.saveQuantizer(spark, embPath, cents,
            graft.operators.EmbeddingMaintenance.layoutStats(spark, embPath, cents))
        }
        timed("graph_full_build") {
          graft.operators.GraphMaintenance.writeKnnGraph(
            spark, embPath, graphPath, k = 5, nProbe = 2)
        }
        // deterministic re-embeds: the batchN lowest ids, first dimension
        // perturbed 30 % — enough to move some vectors across cells
        val changed = emb.filter(col("vec_id") < batchN)
          .withColumn("embedding", expr(
            "transform(embedding, (v, i) -> CAST(IF(i = 0, v * 1.3, v) AS FLOAT))"))
          .localCheckpoint(true)
        timed("graph_reembed_batch") {
          graft.operators.GraphMaintenance.upsertGraph(
            spark, embPath, graphPath, changed)
        }
        println(s"edges at rest: ${graft.operators.GraphMaintenance
          .edgesAtRest(spark, graphPath).count()} rows over $n vectors")
      case "graphauto" =>
        // Regime-chooser soak (round-15 verdict task 1's done-bar): a
        // SPREAD re-embed batch (the graphre shape — low ids live in
        // every cluster, so their old cells cover nList) must route to
        // the rebuild regime, and a LOCALIZED batch (one cell's
        // residents) must stay incremental. Prints the chosen regime
        // and wall time for each, against a fresh layout+graph per arm.
        val batchN = args.lift(2).map(_.toLong).getOrElse(1000L)
        val emb = spark.read.parquet(s"$dir/embeddings.parquet")
          .select("vec_id", "embedding", "label")
        val n = emb.count()
        val nl = graft.operators.ProductQuantization.adaptiveNList(emb)
        val cents = graft.operators.ProductQuantization.trainCoarse(emb, nl)
        def buildArm(root: String): (String, String) = {
          val embPath = s"$root/index"
          val graphPath = s"$root/graph"
          graft.operators.EmbeddingMaintenance.writeCellLayout(emb, cents, embPath)
          graft.operators.EmbeddingMaintenance.saveQuantizer(spark, embPath, cents,
            graft.operators.EmbeddingMaintenance.layoutStats(spark, embPath, cents))
          graft.operators.GraphMaintenance.writeKnnGraph(
            spark, embPath, graphPath, k = 5, nProbe = 2)
          (embPath, graphPath)
        }
        def arm(name: String, root: String, batch: DataFrame,
                forceIncremental: Boolean = false): Unit = {
          val (embPath, graphPath) = buildArm(root)
          val t0 = System.nanoTime()
          val (folded, regime) =
            if (forceIncremental) {
              (graft.operators.GraphMaintenance
                .upsertGraph(spark, embPath, graphPath, batch), "incremental (forced)")
            } else graft.operators.GraphMaintenance
              .upsertGraphAuto(spark, embPath, graphPath, batch)
          println(f"$name%-22s ${(System.nanoTime() - t0) / 1e9}%8.2f s" +
            f"  folded=$folded regime=$regime (corpus $n, batch ${batch.count()}, nList $nl)")
        }
        val spread = emb.filter(col("vec_id") < batchN)
          .withColumn("embedding", expr(
            "transform(embedding, (v, i) -> CAST(IF(i = 0, v * 1.3, v) AS FLOAT))"))
          .localCheckpoint(true)
        arm("spread_reembed", s"$dir/graphauto_spread", spread)
        // the route the chooser rejected, same batch, fresh build — the
        // honest comparison the threshold stands on
        arm("spread_forced_inc", s"$dir/graphauto_forced", spread,
          forceIncremental = true)
        // localized: residents of the fullest cell, bounded by batchN
        val cellOf = graft.operators.ProductQuantization.cellExpr(spark, cents)
        val withCell = emb.withColumn("cell", cellOf(col("embedding")))
        val c0 = withCell.groupBy("cell").count()
          .orderBy(desc("count"), col("cell")).head().getInt(0)
        val localized = withCell.filter(col("cell") === c0)
          .orderBy("vec_id").limit(batchN.toInt)
          .select(col("vec_id"), expr(
            "transform(embedding, v -> CAST(v * 1.01 AS FLOAT))").as("embedding"),
            col("label"))
          .localCheckpoint(true)
        arm("localized_reembed", s"$dir/graphauto_local", localized)
      case "graphstream" =>
        // The graphlog protocol THROUGH THE STREAMING API (round-15
        // verdict task 3): drive nBatches of held-out arrivals through
        // CorpusStreams.selfHealingGraphSink over a MemoryStream with a
        // real checkpoint, per-batch fold latency printed against the
        // edge-log depth. auditEvery=4 with compactMaxGens=8 makes the
        // depth trigger fire mid-stream (gen hits 8 at the batch-7
        // audit); the chain stops and checkpoint-restarts the query
        // halfway to exercise the sidecar-cursor resume under load.
        val nBatches = args.lift(2).map(_.toInt).getOrElse(12)
        val batchN = args.lift(3).map(_.toLong).getOrElse(1000L)
        import spark.implicits._
        implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
        val emb = spark.read.parquet(s"$dir/embeddings.parquet")
          .select("vec_id", "embedding", "label")
        val n = emb.count()
        val held = nBatches * batchN
        val base = emb.filter(col("vec_id") < n - held)
        val nl = graft.operators.ProductQuantization.adaptiveNList(base)
        val cents = graft.operators.ProductQuantization.trainCoarse(base, nl)
        val root = s"$dir/graphstream"
        val embPath = s"$root/index"
        val graphPath = s"$root/graph"
        graft.operators.EmbeddingMaintenance.writeCellLayout(base, cents, embPath)
        graft.operators.EmbeddingMaintenance.saveQuantizer(spark, embPath, cents,
          graft.operators.EmbeddingMaintenance.layoutStats(spark, embPath, cents))
        graft.operators.GraphMaintenance.writeKnnGraph(
          spark, embPath, graphPath, k = 5, nProbe = 2)
        println(f"built: corpus ${n - held}, $nBatches batches x $batchN, nList $nl")
        // the sink itself, wrapped only to time each fold and report the
        // log depth it left behind
        val sink = graft.streaming.CorpusStreams.selfHealingGraphSink(
          embPath, graphPath, auditEvery = 4)
        val timedSink: (org.apache.spark.sql.DataFrame, Long) => Unit =
          (batch, batchId) => {
            val t0 = System.nanoTime()
            sink(batch, batchId)
            val meta = graft.operators.GraphMaintenance.loadGraphMeta(spark, graphPath)
            println(f"batch $batchId%2d: fold ${(System.nanoTime() - t0) / 1e9}%6.2f s" +
              f"  gen=${meta.gen}%2d lastBatch=${meta.lastBatch}%2d" +
              (if (meta.gen == 0 && batchId > 0) "  <- compacted/rebuilt" else ""))
          }
        val stream = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[(Long, Array[Float])]
        def startQ() = stream.toDF().toDF("vec_id", "embedding").writeStream
          .foreachBatch(timedSink)
          .option("checkpointLocation", s"$root/ckpt")
          .start()
        var q = startQ()
        (0 until nBatches).foreach { b =>
          val lo = n - held + b * batchN
          val rows = emb.filter(col("vec_id") >= lo && col("vec_id") < lo + batchN)
            .select("vec_id", "embedding").collect()
            .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
          stream.addData(rows.toIndexedSeq: _*)
          q.processAllAvailable()
          if (b == nBatches / 2 - 1) {
            q.stop()
            println(s"-- checkpoint restart after batch $b --")
            q = startQ()
          }
        }
        q.stop()
        val meta = graft.operators.GraphMaintenance.loadGraphMeta(spark, graphPath)
        val edges = graft.operators.GraphMaintenance.edgesAtRest(spark, graphPath)
        println(f"final: gen=${meta.gen} lastBatch=${meta.lastBatch} " +
          f"edges=${edges.count()} over $n vectors")
      case "graphlog" =>
        // Edge-LOG depth vs read cost (round-14 verdict task 4's soak
        // row): fold `nBatches` fixed-size arrival batches append-only,
        // timing the `edgesAtRest` merge-on-read resolve after each —
        // the cost a consumer pays as the delta log deepens — then
        // compact and time the read again (the trigger's payoff). Run
        // with compactReasons printed so the auto-trigger's firing
        // point is visible against the measured read-cost curve.
        val nBatches = args.lift(2).map(_.toInt).getOrElse(6)
        val batchN = args.lift(3).map(_.toLong).getOrElse(1000L)
        val emb = spark.read.parquet(s"$dir/embeddings.parquet")
          .select("vec_id", "embedding", "label")
        val n = emb.count()
        val held = nBatches * batchN
        val base = emb.filter(col("vec_id") < n - held)
        val nl = graft.operators.ProductQuantization.adaptiveNList(base)
        val cents = graft.operators.ProductQuantization.trainCoarse(base, nl)
        val root = s"$dir/graphlog"
        val embPath = s"$root/index"
        val graphPath = s"$root/graph"
        graft.operators.EmbeddingMaintenance.writeCellLayout(base, cents, embPath)
        graft.operators.EmbeddingMaintenance.saveQuantizer(spark, embPath, cents,
          graft.operators.EmbeddingMaintenance.layoutStats(spark, embPath, cents))
        graft.operators.GraphMaintenance.writeKnnGraph(
          spark, embPath, graphPath, k = 5, nProbe = 2)
        def readCost(): (Double, Long) = {
          val t0 = System.nanoTime()
          val rows = graft.operators.GraphMaintenance
            .edgesAtRest(spark, graphPath).count()
          ((System.nanoTime() - t0) / 1e9, rows)
        }
        val (t0r, rows0) = readCost()
        println(f"gen  0: edgesAtRest $t0r%6.2f s ($rows0 rows; fresh build)")
        (0 until nBatches).foreach { b =>
          val lo = n - held + b * batchN
          val batch = emb.filter(col("vec_id") >= lo && col("vec_id") < lo + batchN)
            .localCheckpoint(true)
          graft.operators.GraphMaintenance.upsertGraph(spark, embPath, graphPath, batch)
          val (t, rows) = readCost()
          val reasons = graft.operators.GraphMaintenance.compactReasons(
            spark, graphPath)
          val log = spark.read.parquet(s"$graphPath/edges")
          val deltaRows = log.filter(col("gen") > 0).count()
          println(f"gen ${b + 1}%2d: edgesAtRest $t%6.2f s ($rows rows; " +
            f"delta $deltaRows rows; trigger: ${if (reasons.isEmpty) "quiet" else reasons.mkString("; ")})")
        }
        val tC0 = System.nanoTime()
        graft.operators.GraphMaintenance.compactGraph(spark, embPath, graphPath)
        println(f"compactGraph ${(System.nanoTime() - tC0) / 1e9}%6.2f s")
        val (tc, rowsc) = readCost()
        println(f"post-compact: edgesAtRest $tc%6.2f s ($rowsc rows; log reset to gen 0)")
      case other => sys.error(s"unknown mode $other (gen|run|graphinc|graphre|graphauto|graphstream|graphlog)")
    }
    spark.stop()
  }
}
