package graft.tools

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
  * The queries are required, named through [[graft.Cli.queries]].
  */
object ConfigProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = args.headOption.map(_.toInt).getOrElse(3)
    val names = graft.Cli.queries(Nil)
    require(names.nonEmpty, "ConfigProbe needs the queries to probe (see graft.Cli.queries)")
    val spark = graft.Cli.session()
    // the steered bench's space plus the AQE-off and bloom-filter cells
    val axes = (SteeringLoop.aqeAxis ++ SteeringLoop.scalePlumbingAxis).toMap
    val configs: Seq[SteeringConfig] =
      SteeringLoop.crossed(SteeringLoop.defaultConfigs, SteeringLoop.partitionTiers(8)) ++
        Seq("noaqe", "bloom").map(n => SteeringConfig(n, "", axes(n)))
    // warm
    names.foreach(n => try graft.SparkEntry.queries(n)(spark, sfDir)
      .write.format("noop").mode("overwrite").save() catch { case _: Throwable => () })
    // whole passes: (rep, config, query) so a stall wave can't blanket one cell
    val acc = scala.collection.mutable.Map.empty[(String, String), Double]
      .withDefaultValue(Double.MaxValue)
    for (_ <- 1 to reps; cfg <- configs) {
      names.foreach { n =>
        val t = try SteeringLoop.measure(spark,
          sp => graft.SparkEntry.queries(n)(sp, sfDir), cfg)
        catch { case _: Throwable => Double.NaN }
        if (!t.isNaN) acc((n, cfg.name)) = math.min(acc((n, cfg.name)), t)
      }
    }
    println(f"${"query"}%-24s ${"best_cfg"}%-16s ${"best"}%8s ${"default"}%8s  win%%")
    names.foreach { n =>
      val d = acc((n, "default"))
      val (bc, bt) = configs.map(c => c.name -> acc((n, c.name))).minBy(_._2)
      println(f"$n%-24s $bc%-16s $bt%8.3f $d%8.3f  ${100 * (d - bt) / d}%5.1f")
    }
    spark.stop()
  }
}
