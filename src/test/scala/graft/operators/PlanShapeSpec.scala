package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.ExistenceJoin
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{GenerateExec, SparkPlan, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.exchange.{Exchange, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec, BroadcastNestedLoopJoinExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.scalatest.funsuite.AnyFunSuite
import graft.SharedSpark

/** Physical-plan shape assertions — the "would this survive a 100× scale-
  * up" checks (builder prompt): filters and projections must reach the
  * parquet scan, small dims must broadcast, and count() must not be the
  * only thing keeping a plan cheap.
  *
  * Assertions collect typed operator nodes from the final plan rather than
  * regex-counting the plan STRING: a cached AQE plan prints initial+final
  * trees, so string counts double when another suite has cached the same
  * query (the round-3 order-dependent failure). The cache is also cleared
  * up front so CacheManager can't substitute InMemoryRelation into the
  * plans under test.
  */
class PlanShapeSpec extends AnyFunSuite with SharedSpark {
  private val sf = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.catalog.clearCache()
  }

  private def physicalPlan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** The plan AQE would start from (no query has run, so the adaptive
    * wrapper still holds its initial — already optimizer-final — plan). */
  private def finalPlan(df: DataFrame): SparkPlan =
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }

  private def nodes[T](df: DataFrame)(pf: PartialFunction[SparkPlan, T]): Seq[T] =
    finalPlan(df).collect(pf)

  test("q01: shipdate filter is pushed to the parquet scan") {
    val plan = physicalPlan(Relational.q01PricingSummary(spark, sf))
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"no pushed filter in:\n$plan")
  }

  test("q01: scan reads only the referenced columns") {
    val plan = physicalPlan(Relational.q01PricingSummary(spark, sf))
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_orderkey") && !readSchema.contains("l_tax"),
      s"column pruning failed: $readSchema")
    assert(readSchema.contains("l_quantity") && readSchema.contains("l_returnflag"))
  }

  test("q03: nation and region joins are broadcast, never shuffled") {
    val df = Relational.q03BroadcastJoin(spark, sf)
    assert(nodes(df) { case j: BroadcastHashJoinExec => j }.nonEmpty,
      s"no broadcast join in:\n${physicalPlan(df)}")
  }

  test("q02: top-k compiles to TakeOrderedAndProject, not a global sort") {
    val df = Relational.q02TopRevenue(spark, sf)
    assert(nodes(df) { case t: TakeOrderedAndProjectExec => t }.nonEmpty,
      s"global sort for top-10:\n${physicalPlan(df)}")
  }

  test("q04: semi join stays a semi join (no row explosion)") {
    val df = Relational.q04SemiJoin(spark, sf)
    assert(nodes(df) { case j: BaseJoinExec if j.joinType.sql == "LEFT SEMI" => j }.nonEmpty,
      s"semi join lost:\n${physicalPlan(df)}")
  }

  test("aggregations use partial (map-side) aggregation") {
    val df = Relational.q06RowMinSum(spark, sf)
    // HashAggregate appears twice per level: partial + final
    assert(nodes(df) { case a: HashAggregateExec => a }.size >= 2,
      s"no partial agg:\n${physicalPlan(df)}")
  }

  test("q48: all four window functions evaluate in one Window operator") {
    val df = PipelineOps.q48WindowSuite(spark, sf)
    // lag/lead/ntile/percent_rank share a window spec → ONE WindowExec
    // (a second would mean a second sort or shuffle of the fact table)
    assert(nodes(df) { case w: WindowExec => w }.size == 1,
      s"window functions split across operators:\n${physicalPlan(df)}")
  }

  test("q49: decontamination probe has no join and no agg exchange") {
    val df = DedupOps.q49Decontaminate(spark, sf)
    assert(nodes(df) { case j: BaseJoinExec => j }.isEmpty,
      s"probe joins instead of broadcast set:\n${physicalPlan(df)}")
    // only exchanges: the parallelize repartition + the output sort
    val exchanges = nodes(df) { case e: Exchange => e }.size
    assert(exchanges <= 2, s"unexpected shuffles ($exchanges):\n${physicalPlan(df)}")
  }

  test("q54: EXISTS/NOT EXISTS decorrelate to existence hash joins") {
    val df = PipelineOps.q54ExistsSubquery(spark, sf)
    // EXISTS under a projection decorrelates to ExistenceJoin (a hash join
    // emitting an exists flag) — the point is that NO per-row subquery
    // survives; both subqueries become joins
    val existence = nodes(df) {
      case j: BaseJoinExec if j.joinType.isInstanceOf[ExistenceJoin] => j
    }
    assert(existence.size == 2,
      s"correlated subqueries not decorrelated to joins:\n${physicalPlan(df)}")
    assert(!physicalPlan(df).toLowerCase.contains("subqueryexec"),
      s"per-row subquery survived:\n${physicalPlan(df)}")
  }

  test("q55: array lambdas run on the unexploded array (no Generate)") {
    val df = PipelineOps.q55ArrayFuncs(spark, sf)
    assert(nodes(df) { case g: GenerateExec => g }.isEmpty,
      s"array ops exploded:\n${physicalPlan(df)}")
    // one narrow pass: no exchange before the output sort
    val hashShuffles = nodes(df) {
      case s: ShuffleExchangeExec if s.outputPartitioning.isInstanceOf[HashPartitioning] => s
    }
    assert(hashShuffles.isEmpty, s"unexpected aggregation shuffle:\n${physicalPlan(df)}")
  }

  test("q52: histogram aggregates map-side before the 10-key exchange") {
    val df = PipelineOps.q52TokenHistogram(spark, sf)
    assert(nodes(df) { case a: HashAggregateExec => a }.size >= 2,
      s"no partial agg:\n${physicalPlan(df)}")
  }

  test("q61: centroid table joins back broadcast (big side never reshuffles)") {
    val df = SimilarityOps.q61EmbeddingOutliers(spark, sf)
    assert(nodes(df) { case j: BroadcastHashJoinExec => j }.nonEmpty,
      s"centroid join not broadcast:\n${physicalPlan(df)}")
  }

  test("q59/q60: no nested-loop or cartesian joins in the dedup matrices") {
    for (df <- Seq(DedupOps.q59SourceOverlap(spark, sf), DedupOps.q60ChunkDedup(spark, sf))) {
      val bad = nodes(df) {
        case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
        case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
      }
      assert(bad.isEmpty, s"non-equi join shape:\n${physicalPlan(df)}")
    }
  }

  test("q65: LATERAL decorrelates to a rank pushdown + equi-join (no per-row subquery)") {
    val df = PipelineOps.q65LateralTopK(spark, sf)
    // the ORDER BY ... LIMIT 2 subquery must become a WindowGroupLimit
    // (rank-based top-k pushdown) over ONE equi-join — not |customers|
    // subquery probes and not a cartesian
    assert(physicalPlan(df).contains("WindowGroupLimit"),
      s"no rank pushdown:\n${physicalPlan(df)}")
    val bad = nodes(df) {
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
    }
    assert(bad.isEmpty, s"lateral became cartesian:\n${physicalPlan(df)}")
    assert(!physicalPlan(df).toLowerCase.contains("subqueryexec"),
      s"per-row subquery survived:\n${physicalPlan(df)}")
  }

  test("q62: partial aggs everywhere, ranking windows once, no window on the token key") {
    val df = CorpusOps.q62TfidfTopTerms(spark, sf)
    // exactly ONE window pass — the doc_id ranking. A window keyed on
    // token would funnel hot-token occurrence rows through one task with
    // no partial aggregation (the straggler this query's shape avoids);
    // df must come from a partial-agg-friendly groupBy + join instead
    val windows = nodes(df) { case w: WindowExec => w }
    assert(windows.size == 1, s"unexpected window passes:\n${physicalPlan(df)}")
    assert(nodes(df) { case a: HashAggregateExec => a }.size >= 4,
      s"aggregations lost map-side partials:\n${physicalPlan(df)}")
    val cartesian = nodes(df) {
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
    }
    assert(cartesian.isEmpty, s"N-docs join not broadcast:\n${physicalPlan(df)}")
  }

  test("q64: quadratic stage runs on distinct signatures, never on documents") {
    val df = DedupOps.q64HammingProfile(spark, sf)
    // every equi-join input must be signature-sized: joins appear only
    // AFTER the groupBy(simhash) collapse, so no join key is doc_id
    val joinKeys = nodes(df) { case j: BaseJoinExec => j }
      .flatMap(j => j.output.map(_.name))
    assert(!joinKeys.contains("doc_id"),
      s"band join runs on documents, not distinct signatures:\n${physicalPlan(df)}")
    val cartesian = nodes(df) {
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
    }
    assert(cartesian.isEmpty, s"cartesian in the band join:\n${physicalPlan(df)}")
  }

  test("q68: dims broadcast, date range pushed to the orders scan, no cartesian") {
    val df = Relational.q68RegionalRevenue(spark, sf)
    val plan = physicalPlan(df)
    assert(nodes(df) { case j: BroadcastHashJoinExec => j }.size >= 2,
      s"nation/region not broadcast:\n$plan")
    assert(plan.contains("PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual(o_orderdate")
      || plan.contains("GreaterThanOrEqual(o_orderdate"),
      s"date range not pushed to the orders scan:\n$plan")
    val cartesian = nodes(df) {
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
    }
    assert(cartesian.isEmpty, s"cyclic join edge became a cross product:\n$plan")
  }

  test("q75: part broadcast, shipdate range pushed to the fact scan, one agg pass") {
    val df = Relational.q75PromoRevenue(spark, sf)
    val plan = physicalPlan(df)
    assert(nodes(df) { case j: BroadcastHashJoinExec => j }.size == 1,
      s"part dim not broadcast:\n$plan")
    assert(plan.contains("GreaterThanOrEqual(l_shipdate"),
      s"shipdate range not pushed to the lineitem scan:\n$plan")
    // conditional + total revenue come from ONE aggregation (partial+final),
    // not a self-join or union of two scans
    assert(nodes(df) { case s: org.apache.spark.sql.execution.FileSourceScanExec => s }.size == 2,
      s"extra scan — conditional agg split into two passes:\n$plan")
  }

  test("q76: two-level packing — data window keyed (source,grp), offsets broadcast back") {
    val df = PackingOps.q76SeqPacking(spark, sf)
    val plan = physicalPlan(df)
    // every FULL-data window must partition on (source, grp) — a window
    // partitioned by source alone is the single-task-per-source scan the
    // two-level prefix sum exists to avoid. (The local-prefix window
    // appears twice pre-reuse: the offsets branch consumes it too.)
    val windows = nodes(df) { case w: WindowExec => w }
    assert(windows.size == 3, s"2× local-prefix + offsets windows expected:\n$plan")
    val dataWindows = windows.filter(_.partitionSpec.size == 2)
    assert(dataWindows.size == 2 &&
      dataWindows.forall(_.partitionSpec.flatMap(_.references.map(_.name))
        .contains("grp")),
      s"local prefix window not keyed by (source, grp):\n$plan")
    // tiny offsets table joins back broadcast — the big side never moves
    assert(nodes(df) { case j: BroadcastHashJoinExec => j }.size == 1,
      s"offsets join not broadcast:\n$plan")
    // hash exchanges pre-reuse: the (source,grp) exchange on each consumer
    // branch (identical subtrees — materialized ONCE at runtime, asserted
    // below), the constant-size (source) exchange under the offsets
    // window, and the post-partial-agg (source,bin) exchange
    val hashEx = nodes(df) { case e: ShuffleExchangeExec => e }
      .filter(_.outputPartitioning.isInstanceOf[HashPartitioning])
    assert(hashEx.size == 4, s"expected 4 hash exchanges pre-reuse:\n$plan")
    assert(nodes(df) { case a: HashAggregateExec => a }.size >= 2,
      s"partial+final agg expected:\n$plan")
    // runtime: the corpus is scanned, tokenized, and shuffled exactly once
    df.collect()
    val executed = df.queryExecution.executedPlan.toString
    assert(executed.contains("ReusedExchange"),
      s"packing exchange computed per consumer:\n$executed")
  }

  test("q78: range table broadcasts back; error agg exchanges stay 64-key") {
    val df = PackingOps.q78EmbedQuantize(spark, sf)
    val plan = physicalPlan(df)
    assert(nodes(df) { case j: BroadcastHashJoinExec => j }.size == 1,
      s"per-dim min/max must broadcast, never shuffle the exploded side:\n$plan")
    // every hash exchange in this plan carries dim-keyed aggregates (≤64
    // rows per partial), never raw exploded elements
    assert(nodes(df) { case e: ShuffleExchangeExec => e }
      .filter(_.outputPartitioning.isInstanceOf[HashPartitioning])
      .forall(_.outputPartitioning.asInstanceOf[HashPartitioning]
        .expressions.exists(_.references.exists(_.name == "dim"))),
      s"non-dim-keyed exchange found:\n$plan")
  }

  test("q80: char histogram collapses map-side before either exchange") {
    val df = PackingOps.q80CharDiversity(spark, sf)
    val plan = physicalPlan(df)
    // explode → partial agg on (doc_id,ch) BEFORE the shuffle: the
    // exchange moves histogram rows, not one row per character
    val aggs = nodes(df) { case a: HashAggregateExec => a }
    assert(aggs.size == 4, s"two partial+final agg pairs expected:\n$plan")
    assert(nodes(df) { case g: GenerateExec => g }.size == 1,
      s"exactly one explode expected:\n$plan")
  }

  test("q82: five pipeline stages compose into two full-data shuffles") {
    val df = CorpusPipeline.q82E2ePipeline(spark, sf)
    val plan = physicalPlan(df)
    // dedup window (content hash) + the packing stage's (source,grp)
    // window are the only FULL-data hash exchanges; the packing offsets
    // add one constant-size (source) exchange and the final agg one
    // post-partial (source,bin) exchange. Pre-reuse the shared packing
    // branch (chash + (source,grp) exchanges) prints on both consumers:
    // 2×2 + 1 + 1 = 6; runtime materializes the duplicates once
    val shuffles = nodes(df) { case e: ShuffleExchangeExec => e }
    assert(shuffles.count(_.outputPartitioning.isInstanceOf[HashPartitioning]) == 6,
      s"expected 6 hash exchanges pre-reuse:\n$plan")
    assert(nodes(df) { case w: WindowExec => w }.size == 5,
      s"expected 2× dedup + 2× local-prefix + offsets windows:\n$plan")
    // at runtime the packing stage's two consumers (local prefix + the
    // subtotal aggregation) share ONE materialized exchange: the corpus is
    // scanned and shuffled once, not once per consumer
    df.collect()
    val executed = df.queryExecution.executedPlan.toString
    assert(executed.contains("ReusedExchange"),
      s"packing exchange computed per consumer:\n$executed")
  }

  test("q64: at no-broadcast scale the band self-join reuses one exchange") {
    // unlike q62's tf/df consumers, the self-join's two sides are
    // structurally identical (same columns survive pruning), so the
    // explicit repartition on (band, byte) is shared via ReusedExchange —
    // the signature pipeline runs once, not twice — whenever AQE doesn't
    // broadcast a side (the 100 TB regime)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val df = DedupOps.q64HammingProfile(spark, sf)
      df.collect() // AQE materializes exchange reuse at runtime, not in the initial plan
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("ReusedExchange"),
        s"signature subtree computed per join side:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q25/q27/q32: capped candidate generation is join-free") {
    // the r7 soak found the rank-capped SELF-JOIN shape superlinear in
    // practice: the join materializes every same-key row pair before the
    // rank predicate prunes it, and that output feeding the pair
    // aggregation dominated the family (q25: 29 s -> 84 s per 2x corpus,
    // vs 10 s -> 7 s for the window shape). Candidates must come from
    // the block window itself (one collect_list over a bounded frame,
    // then explode) — the ONLY joins allowed in the pair queries are the
    // post-candidate lookups (q25's two size joins, q32's two rescore
    // joins; q27 has none at all).
    // count on the optimizer-final INITIAL plan: after execution AQE
    // wraps materialized stages as leaves, hiding their operators from
    // collect — and join EXISTENCE (unlike strategy) is settled before
    // runtime anyway
    def joins(df: DataFrame): Int =
      nodes(df) { case j: BaseJoinExec => j }.size
    assert(joins(DedupOps.q27LshPairs(spark, sf)) == 0,
      "q27 candidate generation regressed to a self-join")
    assert(joins(DedupOps.lshCandidatePairsFast(
      graft.Tables.documents(spark, sf))) == 0,
      "fast-LSH candidate generation regressed to a self-join")
    assert(joins(DedupOps.q25NgramJaccard(spark, sf)) == 2,
      "q25 must join only the two per-doc size lookups")
    assert(joins(SimilarityOps.q32EmbeddingNearDup(spark, sf)) == 2,
      "q32 must join only the two rescore embedding lookups")
  }

  test("q81 ADC: both rank filters push into WindowGroupLimit partial top-k") {
    // searchOverCandidates ranks |candidates| rows per query; only the
    // rank-filter pushdown (ark <= k*refine, rk <= k) keeps that a partial
    // top-k instead of a full per-query sort — q65 pins the optimization
    // for SQL, this pins it for the ADC path where a silent regression
    // would turn the 100 TB code scan into a global sort per query
    val emb = graft.Tables.embeddings(spark, sf)
    val qids = emb.select(org.apache.spark.sql.functions.col("vec_id"))
      .orderBy("vec_id").limit(3).collect().map(_.getLong(0)).toSeq
    val book = ProductQuantization.train(emb)
    val df = ProductQuantization.searchTopK(
      emb, ProductQuantization.encode(emb, book), book, qids, k = 5)
    val limits = nodes(df) {
      case w: org.apache.spark.sql.execution.window.WindowGroupLimitExec => w
    }
    val orderedCols = limits.map(_.orderSpec.flatMap(_.references.map(_.name)).toSet)
    assert(orderedCols.exists(_.contains("approx_d")),
      s"ADC rank window lost its WindowGroupLimit pushdown:\n${physicalPlan(df)}")
    assert(orderedCols.exists(_.contains("d2")),
      s"exact-rescore rank window lost its WindowGroupLimit pushdown:\n${physicalPlan(df)}")
  }

  test("q83 IVF-PQ: probe pruning broadcasts and ADC keeps its rank pushdown") {
    // same guarantee as the q81 pin, but through the IVF path: the cell
    // probe list must join BROADCAST (the pruning that makes a 10^10-vector
    // corpus scannable) and both ADC rank filters must still reach
    // WindowGroupLimit. ivfPqTopK caches + materializes its result, so the
    // physical operators live in the cached subtree — assert on the full
    // executed tree string (InMemoryRelation prints its cached plan as an
    // inner child), not on collect(), which stops at the InMemoryTableScan.
    val emb = graft.Tables.embeddings(spark, sf)
    val qids = emb.select(org.apache.spark.sql.functions.col("vec_id"))
      .orderBy("vec_id").limit(3).collect().map(_.getLong(0)).toSeq
    val book = ProductQuantization.train(emb)
    val df = ProductQuantization.ivfPqTopK(emb, book, qids, k = 5)
    val plan = df.queryExecution.executedPlan.toString
    val wgl = plan.linesIterator.filter(_.contains("WindowGroupLimit")).toSeq
    assert(wgl.exists(_.contains("approx_d")),
      s"IVF ADC rank window lost its WindowGroupLimit pushdown:\n$plan")
    assert(wgl.exists(_.contains("d2")),
      s"IVF exact-rescore rank window lost its WindowGroupLimit pushdown:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"cell probe list not broadcast — IVF pruning would shuffle the codes:\n$plan")
  }

  test("q93/q94/q96 media metadata: one pruned scan, partial aggs, no text read") {
    // the header builders derive everything from (doc_id, source, n_chars);
    // a regression that references `text` would silently 50× the scanned
    // bytes — pin the pruned ReadSchema, the single scan, and the
    // two-exchange agg shape (partial → final → output sort)
    for (q <- Seq(MultimodalOps.q93ImageMeta, MultimodalOps.q94AudioMeta,
        MultimodalOps.q96VideoMeta)) {
      val df = q(spark, sf)
      val plan = physicalPlan(df)
      val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
      assert(!readSchema.contains("text"), s"media query reads text:\n$readSchema")
      assert(readSchema.contains("doc_id") && readSchema.contains("n_chars"))
      val scans = plan.linesIterator.count(_.contains("Scan parquet"))
      assert(scans == 1, s"expected one scan, got $scans:\n$plan")
      val exchanges = nodes(df) { case e: ShuffleExchangeExec => e }
      assert(exchanges.length == 2,
        s"expected partial-agg + sort exchanges, got ${exchanges.length}:\n$plan")
      // q93/q94 hash-aggregate; q96's min(string) buffer legally plans as
      // SortAggregate — require the partial+final pair either way
      val aggs = nodes(df) {
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
      }
      assert(aggs.length == 2, s"partial aggregation missing:\n$plan")
    }
  }

  test("whole-stage codegen covers the scan→filter→project pipeline") {
    // AQE's executedPlan string hides codegen until execution — inspect the
    // codegen explain mode instead
    val df = Relational.q16ScalarFuncs(spark, sf)
    val codegen = df.queryExecution
      .explainString(org.apache.spark.sql.execution.CodegenMode)
    assert(codegen.contains("WholeStageCodegen subtree"), s"no codegen span:\n${codegen.take(2000)}")
  }

  test("q100: first gram shuffle keys on (doc_id, bg); scan skips unreferenced columns") {
    val df = TextOps.q100Repetition(spark, sf)
    // the anti-hot-key discipline: a boilerplate bigram must not funnel
    // one reducer, so the first aggregation's exchange carries doc_id
    val gramKeyed = nodes(df) { case e: ShuffleExchangeExec => e }.exists {
      _.outputPartitioning match {
        case h: HashPartitioning =>
          val names = h.expressions.flatMap(_.references.map(_.name))
          names.contains("doc_id") && names.contains("bg")
        case _ => false
      }
    }
    assert(gramKeyed, s"gram agg not keyed (doc_id, bg):\n${physicalPlan(df)}")
    assert(nodes(df) { case a: HashAggregateExec => a }.size >= 4,
      "partial aggregation missing")
    val readSchema = physicalPlan(df).linesIterator
      .find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("lang") && !readSchema.contains("n_chars"),
      s"column pruning failed: $readSchema")
  }

  test("q101/q104: source totals broadcast back; rank window prunes via WindowGroupLimit") {
    val kl = CorpusOps.q101SourceDivergence(spark, sf)
    assert(nodes(kl) { case j: BroadcastHashJoinExec => j }.nonEmpty,
      s"per-source totals not broadcast:\n${physicalPlan(kl)}")
    assert(nodes(kl) { case a: HashAggregateExec => a }.size >= 4,
      "partial aggregation missing in q101")
    val zipf = CorpusOps.q104ZipfSlope(spark, sf)
    assert(nodes(zipf) {
      case w: org.apache.spark.sql.execution.window.WindowGroupLimitExec => w
    }.nonEmpty, s"top-40 rank window lost its pushdown:\n${physicalPlan(zipf)}")
  }

  test("q106: no text bytes read; rank window prunes map-side") {
    val df = PipelineOps.q106PrioritySample(spark, sf)
    val readSchema = physicalPlan(df).linesIterator
      .find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("text"),
      s"priority sample must not read document text: $readSchema")
    assert(nodes(df) {
      case w: org.apache.spark.sql.execution.window.WindowGroupLimitExec => w
    }.nonEmpty, s"per-source rank window lost its pushdown:\n${physicalPlan(df)}")
  }

  test("q108: the vocab model join never broadcasts the corpus side and has no window") {
    val df = QualityModels.q108NbQuality(spark, sf)
    // the token-keyed scoring join is corpus×vocab — a shuffle join by
    // design (AQE may pick broadcast at sf0.001; what must NOT appear is
    // any Window/global sort in a pure aggregate pipeline)
    assert(nodes(df) { case w: WindowExec => w }.isEmpty,
      s"NB scoring is aggregation-only:\n${physicalPlan(df)}")
    assert(nodes(df) { case a: HashAggregateExec => a }.nonEmpty)
  }

  test("q115/q119: panel passes broadcast the small side; no corpus pair shuffle") {
    for (df <- Seq(SimilarityOps.q115MaxSim(spark, sf),
      SimilarityOps.q119SemanticDecontam(spark, sf))) {
      val plan = physicalPlan(df)
      assert(plan.contains("Broadcast"),
        s"query/benchmark panel must broadcast:\n$plan")
      // the corpus-sized side must never shuffle BEFORE aggregation
      // collapses it: every shuffle key set includes the group-by keys,
      // none is a raw pair exchange on vec ids of both sides
      assert(nodes(df) { case w: WindowExec => w }.isEmpty,
        s"panel scoring is aggregation-only:\n$plan")
    }
  }

  test("q115: top-k is TakeOrderedAndProject, not a global sort") {
    val df = SimilarityOps.q115MaxSim(spark, sf)
    assert(nodes(df) { case t: TakeOrderedAndProjectExec => t }.nonEmpty,
      s"MaxSim top-k lost its TakeOrdered shape:\n${physicalPlan(df)}")
  }

  test("q112: funnel stats fold map-side — no explode, no corpus shuffle") {
    val df = TextOps.q112FilterFunnel(spark, sf)
    assert(nodes(df) { case g: GenerateExec => g }.isEmpty,
      s"funnel stats must fold inside the token array, not explode:\n${physicalPlan(df)}")
    val ex = nodes(df) { case e: ShuffleExchangeExec => e }
    assert(ex.size <= 2, // |sources|×6 agg + the final orderBy, nothing corpus-sized
      s"funnel grew a corpus-sized shuffle:\n${physicalPlan(df)}")
  }

  test("q118: final waterfall reads materialized stage RDDs, not the tokenization tree") {
    // Building the query runs the stage checkpoints eagerly (sf0.001, tiny).
    val df = QualityModels.q118CurationPipeline(spark, sf)
    val rddScans = nodes(df) { case r: org.apache.spark.sql.execution.RDDScanExec => r }
    assert(rddScans.size >= 2,
      s"expected localCheckpoint RDD scans (ruled, nb, fc) in the final plan:\n${physicalPlan(df)}")
    assert(nodes(df) { case g: GenerateExec => g }.isEmpty,
      s"final plan must not re-run a tokenization explode:\n${physicalPlan(df)}")
  }

  test("q117: both ranker top-20 windows prune via WindowGroupLimit") {
    val df = HybridRetrieval.q117HybridRrf(spark, sf)
    val wgl = nodes(df) {
      case w: org.apache.spark.sql.execution.window.WindowGroupLimitExec => w
    }
    assert(wgl.size >= 2,
      s"both ranker windows must push their rank<=20 limit map-side:\n${physicalPlan(df)}")
  }

  test("q122: no pair joins, no window — one gram explode, canon joined back by key") {
    val df = SubstrDedup.q122SubstrRemoval(spark, sf)
    // exactly two generators: the gram stream feeds BOTH the canon
    // aggregate and the removable-starts probe, and each consumer
    // re-explodes from the (compressed, column-pruned) scan rather than
    // shuffling the expanded gram stream — the canon/dup table comes back
    // via a key join (AQE-broadcastable), so grams never cross an
    // exchange. A third generator would mean the covered-index set got
    // exploded per removable position instead of the gap-slice rewrite.
    val gens = nodes(df) { case g: GenerateExec => g }
    assert(gens.size == 2,
      s"exactly two gram explodes expected, got ${gens.size}:\n${physicalPlan(df)}")
    // no rank window and no nested-loop/cartesian pair shape anywhere
    assert(nodes(df) { case w: WindowExec => w }.isEmpty,
      s"q122 must not sort-rank anything:\n${physicalPlan(df)}")
    val badJoins = nodes(df) {
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
    }
    assert(badJoins.isEmpty, s"pair-shaped join in q122:\n${physicalPlan(df)}")
  }

  test("q123: one materialized hash pass; no text/payload bytes cross a shuffle") {
    val df = MultimodalOps.q123PerceptualNearDup(spark, sf)
    // the signature stage materializes once — the final plan reads it as
    // an RDD scan (the q118 pattern), so no consumer re-renders bitmaps
    val rddScans = nodes(df) {
      case r: org.apache.spark.sql.execution.RDDScanExec => r
    }
    assert(rddScans.nonEmpty,
      s"expected the materialized signature stage in the final plan:\n${physicalPlan(df)}")
    // every shuffle carries (simhash, n) / band chunks — never text bytes
    val shuffles = nodes(df) { case e: ShuffleExchangeExec => e }
    assert(shuffles.nonEmpty)
    val leaky = shuffles.filter(_.child.output.exists(a =>
      a.name == "payload" || a.name == "text"))
    assert(leaky.isEmpty,
      s"payload/text bytes crossing a shuffle:\n${physicalPlan(df)}")
  }

  test("q145: the layout audit plan has NO window and no single-partition exchange") {
    // the sort-free property is the operator's whole scale claim: file
    // assignment must be a narrow map + 64-group aggregate, never an
    // NTILE global sort (one-partition WindowExec)
    val df = DataLayout.queries("q145_zorder_layout")(spark, sf)
    assert(nodes(df) { case w: WindowExec => w }.isEmpty,
      s"window crept back into q145:\n${physicalPlan(df)}")
    val singleton = nodes(df) {
      case e: ShuffleExchangeExec
        if e.outputPartitioning.numPartitions == 1 &&
          e.child.output.exists(_.name == "f") => e
    }
    assert(singleton.isEmpty,
      s"single-partition exchange on the file-stats path:\n${physicalPlan(df)}")
  }

  test("q143: the sketch aggregates partially before its shuffles") {
    // both the type-count and cell-sum aggregations must collapse
    // map-side: every shuffle input on the sketch path is a partial
    // HashAggregate, so hot tokens cost |tasks| rows, not occurrences
    val df = TextOps.queries("q143_countmin_audit")(spark, sf)
    val aggs = nodes(df) { case a: HashAggregateExec => a }
    assert(aggs.size >= 4, s"expected partial+final agg pairs:\n${physicalPlan(df)}")
    val partialAggs = aggs.filter(_.aggregateExpressions.exists(
      _.mode == org.apache.spark.sql.catalyst.expressions.aggregate.Partial))
    assert(partialAggs.nonEmpty, s"no partial aggregation:\n${physicalPlan(df)}")
    // the top-K rank window must run over a LIMITED input (the
    // TakeOrderedAndProject cut), never the vocabulary-sized type
    // table — a global row_number over the full vocab funnels every
    // type through one WindowExec task at corpus scale
    val windows = nodes(df) { case w: WindowExec => w }
    windows.foreach { w =>
      val bounded = w.child.collectFirst {
        case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => t
        case l: org.apache.spark.sql.execution.GlobalLimitExec => l
        case l: org.apache.spark.sql.execution.CollectLimitExec => l
      }.isDefined
      assert(bounded,
        s"q143 rank window reads an unbounded input:\n${physicalPlan(df)}")
    }
  }

  test("q154/q156: corpus collapses map-side before its only exchange; one-row totals broadcast back") {
    // the UniMax family's scale contract: the DOCUMENTS side pays exactly
    // one shuffle — the per-source aggregate, combined map-side — and the
    // one-row totals (t_all/n_src, sat_sum/k) rejoin as broadcast cross
    // joins, so nothing corpus-sized ever reshuffles for them
    Seq(MixtureOps.q154UnimaxBudget(spark, sf),
        MixtureOps.q156EffectiveTokens(spark, sf)).foreach { df =>
      val sourceAggExchanges = nodes(df) {
        case e: ShuffleExchangeExec
          if e.child.collectFirst { case a: HashAggregateExec => a }.isDefined &&
             e.child.collectFirst { case e2: ShuffleExchangeExec => e2 }.isEmpty => e
      }
      assert(sourceAggExchanges.nonEmpty,
        s"no map-side-combined source exchange above the scan:\n${physicalPlan(df)}")
      assert(nodes(df) { case j: BroadcastNestedLoopJoinExec => j }.nonEmpty,
        s"one-row totals not broadcast back:\n${physicalPlan(df)}")
    }
  }
}
