package graft.report

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.RoundMetrics

/** Trajectory reporting — the Spark equivalent of the reference's
  * `draw/draw_<ds>_fig1.ipynb` pipeline (SURVEY §3.3): per-run exploration
  * trajectories → common-grid linear interpolation (F8) → cross-run
  * mean/std (A9) → checkpoint table (S5).
  *
  * Reproduces `result/job.csv` from the stored reference traces to ~1e-6
  * (ReportSpec golden). Fully relational: every strategy's trajectories
  * go through one plan, shuffled once by series; each trajectory segment
  * expands into the grid points it brackets, and cross-run stats are one
  * groupBy over grid points. No driver loops until the final ≤5000-row
  * per-series checkpoint sampling.
  */
object Report {

  /** Load per-round trace JSONs (reference artifact format, one JSON array
    * per run) into (run, round, exec_time, total_latency, ...), typed by
    * [[RoundMetrics.schema]]. */
  def loadTraces(spark: SparkSession, pathGlob: String): DataFrame = {
    val w = Window.partitionBy("run").orderBy("rid")
    scanTraces(spark, pathGlob).withColumnRenamed("round", "rid")
      .withColumn("round", row_number().over(w) - 1)
      .drop("rid")
  }

  /** [[loadTraces]] without the numbering: `round` is the row's scan
    * position, which orders a run's rounds but does not count them from 0.
    * It needs no shuffle of its own, and it is all [[trajectories]] and
    * [[interpolatedSeries]] read of `round`. */
  private[report] def scanTraces(spark: SparkSession, pathGlob: String): DataFrame =
    spark.read.schema(RoundMetrics.schema).option("multiLine", "true").json(pathGlob)
      .withColumn("run", input_file_name())
      .withColumn("round", monotonically_increasing_id())

  /** Per-run trajectory: x = exploration cost (exec_time − pgTotal),
    * y = total workload latency; plus the cumulative overhead CDF (A8). */
  def trajectories(traces: DataFrame, pgTotal: Double): DataFrame = {
    val w = Window.partitionBy("run").orderBy("round")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    traces.select(
      col("run"), col("round"),
      (col("exec_time") - lit(pgTotal)).as("x"),
      col("total_latency").as("y"),
      sum(col("training_time") + col("inference_time")).over(w).as("overhead_cdf"))
  }

  /** New-query-arrival variant (`draw/draw_newquery.ipynb · cell 2`,
    * `new=True`): exploration cost re-bases at the first round where
    * total_latency INCREASES over the previous round — the moment the new
    * queries joined the workload. Rounds before the jump subtract the old
    * workload's default total, rounds from the jump on subtract the full
    * one. Window `lag` finds the jump; a running max flags everything
    * after it. */
  def trajectoriesWithNewQueries(traces: DataFrame, pgTotalBefore: Double,
                                 pgTotalAfter: Double): DataFrame = {
    val w = Window.partitionBy("run").orderBy("round")
    val wCum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    traces
      .withColumn("jump",
        when(col("round") > 0 &&
          col("total_latency") > lag("total_latency", 1).over(w), 1).otherwise(0))
      .withColumn("met_new", max("jump").over(wCum))
      .select(
        col("run"), col("round"),
        (col("exec_time") -
          when(col("met_new") === 1, lit(pgTotalAfter)).otherwise(lit(pgTotalBefore))).as("x"),
        col("total_latency").as("y"),
        sum(col("training_time") + col("inference_time")).over(wCum).as("overhead_cdf"))
  }

  /** Interpolate every run's (x, y) trajectory onto a shared nGrid-point
    * uniform grid spanning [max of per-run min x, min of per-run max x]
    * (the reference's `combine_plot`), then aggregate across runs: mean
    * and population std per grid point. The single-series case of
    * [[interpolatedSeries]]. */
  def interpolated(traj: DataFrame, nGrid: Int = 5000): DataFrame =
    interpolatedSeries(Seq("" -> traj), nGrid).drop("series").orderBy("gi")

  /** [[interpolated]] for several labelled trajectory frames in one plan:
    * the frames are unioned under a `series` key and shuffled once by it,
    * and every grid, window and aggregate is per series. Rows are
    * (series, gi, g, y_mean, y_std), in no particular order.
    *
    * Each segment [x0, x1] (inclusive on both ends) emits the grid indices
    * it may bracket, `explode(sequence(lo, hi))`, and the exact
    * `g >= x0 && g <= x1` test then keeps the ones it does; lo and hi
    * carry a slack for the rounding of g, so the test, not the index
    * estimate, decides. Interior grid points exactly on a knot match two
    * segments with the same interpolated value, deduped by avg below. */
  def interpolatedSeries(series: Seq[(String, DataFrame)], nGrid: Int = 5000): DataFrame = {
    require(series.nonEmpty, "no series to interpolate")
    require(series.map(_._1).distinct.size == series.size,
      s"series labels must be distinct: ${series.map(_._1).mkString(", ")}")
    require(nGrid >= 2, s"a grid needs two points, got $nGrid")
    val all = series
      .map { case (label, t) => t.select(lit(label).as("series"), col("run"), col("round"), col("x"), col("y")) }
      .reduce(_ union _)
      .repartition(col("series"))
    val bySeries = Window.partitionBy("series")
    val byRun = Window.partitionBy("series", "run")
    val seg = all
      .withColumn("lo", min("x").over(byRun)).withColumn("hi", max("x").over(byRun))
      .withColumn("start", max("lo").over(bySeries)).withColumn("end", min("hi").over(bySeries))
      .select(col("series"), col("run"), col("start"),
        ((col("end") - col("start")) / lit(nGrid - 1)).as("step"),
        col("x").as("x0"), col("y").as("y0"),
        lead("x", 1).over(byRun.orderBy("round")).as("x1"),
        lead("y", 1).over(byRun.orderBy("round")).as("y1"))
      .filter(col("x1").isNotNull && col("x1") > col("x0"))

    // grid position of x, widened by a slack far above the rounding of
    // g = start + gi·step and clipped to the grid, so lo <= hi; step = 0
    // puts every grid point on `start`
    val last = (nGrid - 1).toDouble
    def clip(v: Column): Column = greatest(lit(0.0), least(lit(last), v))
    def pos(x: Column): Column = (x - col("start")) / col("step")
    val slack = lit(1.0) + (abs(col("start")) + abs(col("x0")) + abs(col("x1"))) * 1e-12 / abs(col("step"))
    val flat = col("step") === 0.0
    val lo = when(flat, lit(0)).otherwise(ceil(clip(least(pos(col("x0")), pos(col("x1"))) - slack)).cast("int"))
    val hi = when(flat, lit(nGrid - 1)).otherwise(floor(clip(greatest(pos(col("x0")), pos(col("x1"))) + slack)).cast("int"))

    val perRun = seg
      .withColumn("gi", explode(sequence(lo, hi)))
      .withColumn("g", col("start") + col("gi").cast("double") * col("step"))
      .filter(col("g") >= col("x0") && col("g") <= col("x1"))
      .select(col("series"), col("gi"), col("g"), col("run"),
        (col("y0") + (col("y1") - col("y0")) * (col("g") - col("x0")) / (col("x1") - col("x0"))).as("yi"))
      .groupBy("series", "gi", "g", "run").agg(avg("yi").as("yi"))

    perRun.groupBy("series", "gi", "g")
      .agg(avg("yi").as("y_mean"), stddev_pop("yi").as("y_std"))
  }

  /** The reference's `get_y` checkpoint sampler: within the band
    * (bandLo·t, bandHi·t) of grid points, take the middle one. The JOB
    * notebook uses (0.6, 1.4) — the default here; the ceb/dsb/stack
    * notebooks tightened it to (0.99, 1.01) (`draw_<ds>_fig1.ipynb ·
    * get_y`). */
  def sampleCheckpoints(gridStats: DataFrame, checkpoints: Seq[Double],
                        bandLo: Double = 0.6, bandHi: Double = 1.4): Seq[(Double, Double, Double)] = {
    val pts = gridStats.select("g", "y_mean", "y_std").orderBy("gi").collect()
      .map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2)))
    sample(pts, checkpoints, bandLo, bandHi)
  }

  /** [[sampleCheckpoints]] over one series' (g, y_mean, y_std) points in
    * grid order. */
  private def sample(pts: Array[(Double, Double, Double)], checkpoints: Seq[Double],
                     bandLo: Double, bandHi: Double): Seq[(Double, Double, Double)] =
    checkpoints.map { t =>
      val band = pts.filter { case (g, _, _) => g > t * bandLo && g < t * bandHi }
      require(band.nonEmpty, s"no grid points near checkpoint $t")
      band(band.length / 2)
    }

  /** Every series' grid statistics from one [[interpolatedSeries]] pass,
    * collected per series in grid order as (g, y_mean, y_std) points. */
  private[report] def gridPoints(series: Seq[(String, DataFrame)],
                                 nGrid: Int = 5000): Map[String, Array[(Double, Double, Double)]] =
    if (series.isEmpty) Map.empty
    else interpolatedSeries(series, nGrid).select("series", "gi", "g", "y_mean", "y_std").collect()
      .groupBy(_.getString(0))
      .map { case (k, rows) =>
        k -> rows.sortBy(_.getInt(1)).map(r => (r.getDouble(2), r.getDouble(3), r.getDouble(4)))
      }

  /** Hour-scaled view of a trajectory frame (x and y seconds → hours) —
    * the unit the ceb/dsb/stack notebooks interpolate in. Linear
    * interpolation commutes with the scaling, so sampling in hours matches
    * the notebooks bit-for-bit up to float rounding. */
  def inHours(traj: DataFrame): DataFrame =
    traj.withColumn("x", col("x") / 3600).withColumn("y", col("y") / 3600)

  /** End-to-end: traces glob per strategy → checkpoint CSV in the
    * reference's `result/<ds>.csv` layout. Defaults reproduce the JOB
    * notebook (seconds, (0.6, 1.4) band); pass `hours = true` and
    * `(0.99, 1.01)` for the ceb/dsb/stack notebooks (checkpoints then in
    * hours — see ReportSpec's cross-dataset golden). */
  def checkpointCsv(spark: SparkSession, strategies: Seq[(String, String)],
                    pgTotal: Double, checkpoints: Seq[Double],
                    labels: Seq[String],
                    bandLo: Double = 0.6, bandHi: Double = 1.4,
                    hours: Boolean = false): String = {
    val grids = gridPoints(strategies.map { case (label, glob) =>
      val traj = trajectories(scanTraces(spark, glob), pgTotal)
      label -> (if (hours) inHours(traj) else traj)
    })
    val cols = strategies.map { case (label, _) =>
      sample(grids.getOrElse(label, Array.empty), checkpoints, bandLo, bandHi).map(_._2)
    }
    val header = strategies.map(_._1).mkString(",")
    val rows = checkpoints.indices.map { i =>
      labels(i) + "," + cols.map(c => c(i).toString).mkString(",")
    }
    (header +: rows).mkString("\n") + "\n"
  }
}
