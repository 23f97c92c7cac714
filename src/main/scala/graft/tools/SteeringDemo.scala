package graft.tools

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.Cli
import graft.catalyst.{LearnedSteering, SteeringLoop, Steered}

/** Runnable demo of the learned-optimizer loop: steer join queries over
  * the testdata through Catalyst's join-strategy hint space and print the
  * learned per-query recommendations.
  *
  * Usage: graft.tools.SteeringDemo [sfDir] [rounds] [matrix|tcnn|wide] [outDir]
  *
  *  - `matrix` (default): the censored-ALS loop over the 4-join slice;
  *    prints the explored workload matrix, warm-starts from and saves the
  *    [[Steered]] registry (`GRAFT_STEERING_REGISTRY`).
  *  - `tcnn`: the north-star loop — LimeQO+ (TCNN over this engine's own
  *    live Catalyst plan trees) on the same slice with tolerance-bounded
  *    measurement, recorded as BOTH artifacts under `outDir` (default
  *    `experiment/steering`): the resumable steering trace `learned.json`
  *    and the reference-layout per-round trace `learned_trace.json`.
  *  - `wide`: the TCNN loop over a 16-query slice of the bench suite —
  *    joins, aggregations, windows, text, dedup, ANN — through the
  *    join-strategy × AQE space (the strategy axis IS the
  *    broadcast-threshold dimension: `broadcast` forces what a raised
  *    threshold would, `no_broadcast` what -1 would), written as
  *    `learned16*.json`, with the learned frontier against the
  *    default-config total.
  */
object SteeringDemo {
  private val Usage = "SteeringDemo [sfDir] [rounds] [matrix|tcnn|wide] [outDir]"

  /** The wide slice: every family whose plans the hint space can move —
    * join-shaped queries first (steering's home turf), plus agg/window/
    * text/dedup/ANN templates so the TCNN sees the full operator
    * vocabulary. All cheap at sf0.001 (sub-second), so a full exploration
    * fits a demo run. */
  val wideQueryNames: Seq[String] = Seq(
    "q02_top_revenue", "q03_broadcast_join", "q04_semi_join", "q05_anti_join",
    "q37_range_join", "q53_full_outer", "q75_promo_revenue", "q113_snapshot_diff",
    "q10_count_distinct", "q13_group_stats", "q38_salted_agg", "q19_event_windows",
    "q20_token_stats", "q24_dedup_exact", "q28_simhash", "q33_ann_native")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val (rounds, mode) = Cli.orUsage(Usage) {
      val mode = args.lift(2).getOrElse("matrix")
      require(Set("matrix", "tcnn", "wide")(mode), s"unknown mode: $mode")
      (args.lift(1).map(_.toInt).getOrElse(4), mode)
    }
    val outDir = Paths.get(args.lift(3).getOrElse("experiment/steering"))
    val wide = mode == "wide"
    val spark = Cli.session()

    import graft.operators.Relational
    val queries: Seq[(String, SparkSession => DataFrame)] =
      if (wide) wideQueryNames.map(n =>
        n -> ((s: SparkSession) => graft.SparkEntry.queries(n)(s, sfDir)))
      else Seq(
        "q02_top_revenue" -> ((s: SparkSession) => Relational.q02TopRevenue(s, sfDir)),
        "q03_broadcast_join" -> ((s: SparkSession) => Relational.q03BroadcastJoin(s, sfDir)),
        "q04_semi_join" -> ((s: SparkSession) => Relational.q04SemiJoin(s, sfDir)),
        "q05_anti_join" -> ((s: SparkSession) => Relational.q05AntiJoin(s, sfDir)))
    val configs =
      if (wide) SteeringLoop.crossed(SteeringLoop.defaultConfigs, SteeringLoop.aqeAxis)
      else SteeringLoop.defaultConfigs
    val registryPath = Paths.get(
      sys.env.getOrElse("GRAFT_STEERING_REGISTRY", "/tmp/graft_steering.json"))

    val res = if (mode == "matrix") {
      // warm-start from a previous demo run's registry, if present
      if (Files.exists(registryPath))
        println(s"loaded ${Steered.load(registryPath)} learned hints from $registryPath")
      SteeringLoop.steer(spark, queries, configs, batch = 3, rounds = rounds, learn = true)
    } else {
      // one unsteered warmup pass (JVM/codegen/broadcast warm) so the
      // round-0 default observations measure the query, not the cold JVM
      queries.foreach { case (_, fn) =>
        fn(spark).write.format("noop").mode("overwrite").save()
      }
      val prefix = if (wide) "learned16" else "learned"
      LearnedSteering.steerLearned(spark, queries, configs = configs,
        batch = if (wide) 8 else 3, rounds = rounds,
        tracePath = Some(outDir.resolve(s"$prefix.json")),
        referenceTracePath = Some(outDir.resolve(s"${prefix}_trace.json")))
    }

    println(f"\nexplored ${res.observations.length} cells, " +
      f"${res.totalExplorationSeconds}%.2f s total exploration")
    if (mode == "matrix") {
      println("round  query               config        seconds")
      res.observations.foreach { o =>
        println(f"${o.round}%5d  ${queries(o.query)._1}%-18s ${configs(o.config).name}%-12s  ${o.seconds}%.3f")
      }
    }
    println("\nlearned recommendations" +
      (if (mode == "matrix") " (auto-applied via Steered.run):" else ":"))
    res.recommendations.foreach { r =>
      println(f"  ${r.queryName}%-18s -> ${r.configName}%-16s " +
        f"(${r.observedSeconds}%.3f s vs default ${r.defaultSeconds}%.3f s)")
    }
    if (mode == "matrix") {
      Steered.save(registryPath)
      println(s"registry saved to $registryPath")
    } else {
      val defTotal = res.recommendations.map(_.defaultSeconds).sum
      val frontier = res.recommendations.map(r => math.min(r.observedSeconds, r.defaultSeconds)).sum
      println(f"frontier total ${frontier}%.3f s vs default-config total ${defTotal}%.3f s " +
        f"(${(defTotal - frontier) / defTotal * 100}%.1f%% saved)")
      println(s"traces written under $outDir")
    }
    spark.stop()
  }
}
