package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.Bench
import graft.catalyst.SteeringLoop
import graft.catalyst.SteeringLoop.SteeringConfig

/** Exhaustive (query × config) measurement — the diagnostic BEHIND the
  * steered bench: where the online loop samples, this measures every
  * cell min-of-N with whole-pass interleaving, so "which configs ever
  * beat default, by how much, on which queries" is answered from data
  * instead of from the loop's exploration path. Used to calibrate the
  * steered bench's adoption threshold (a learned config is only worth
  * shipping when its margin clears the host's noise floor).
  *
  *   graft.tools.ConfigProbe [reps]
  *
  * The queries are required, named through [[graft.Cli.queries]]. A
  * query that fails under every config prints its last failure.
  */
object ConfigProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = args.headOption.map(_.toInt).getOrElse(3)
    val spark = graft.Cli.session()
    // warm under the session default; failures land in `failed`
    val (qs, failed) = Bench.warmQueries(spark, sfDir, Nil)
    require(qs.nonEmpty, "ConfigProbe needs the queries to probe (see graft.Cli.queries)")
    // the steered bench's space plus the AQE-off and bloom-filter cells
    val axes = (SteeringLoop.aqeAxis ++ SteeringLoop.scalePlumbingAxis).toMap
    val configs: Seq[SteeringConfig] =
      SteeringLoop.crossed(SteeringLoop.defaultConfigs, SteeringLoop.partitionTiers(8)) ++
        Seq("noaqe", "bloom").map(n => SteeringConfig(n, "", axes(n)))
    // whole passes: (rep, config, query) so a stall wave can't blanket one cell
    val best = Bench.passes(qs, configs.map(c => c.name ->
      ((fn: SparkSession => DataFrame) => { SteeringLoop.measure(spark, fn, c); () })), reps, failed)
    println(f"${"query"}%-24s ${"best_cfg"}%-16s ${"best"}%8s ${"default"}%8s  win%%")
    qs.map(_._1).zipWithIndex.foreach { case (n, i) =>
      val d = best.head(i)
      configs.indices.filter(best(_)(i) >= 0).minByOption(best(_)(i)).fold(
        println(f"$n%-24s failed: ${failed.getOrElse(n, "")}")) { c =>
        val win = if (d > 0) 100 * (d - best(c)(i)) / d else Double.NaN // NaN: default failed
        println(f"$n%-24s ${configs(c).name}%-16s ${best(c)(i)}%8.3f $d%8.3f  $win%5.1f")
      }
    }
    spark.stop()
  }
}
