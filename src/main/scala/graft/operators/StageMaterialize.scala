package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode}

/** Materialization point for narrow multi-consumer pipeline stages (the
  * q118 pattern: a cheap-to-store verdict/score table feeding several
  * downstream consumers that would otherwise each re-execute the stage's
  * whole subtree).
  *
  * Two modes, selected by the `spark.graft.stage.dir` runtime conf:
  *
  *  - **unset (default, single-node/bench)**: `localCheckpoint()` — one
  *    action, stores the stage's partitions on the executors. Fast, but
  *    the blocks die with their executor, so a lost node fails the job
  *    mid-pipeline; acceptable on local[32] and for short-lived runs.
  *    Unlike `persist()` (which the CacheManager dedups by plan across
  *    invocations) it cannot leak a warm cache into a later bench pass.
  *  - **set (cluster / 100 TB form)**: write the stage to
  *    `<dir>/<name>` as parquet and re-read it — the intermediate-pool
  *    pattern a production curation run uses anyway. Survives executor
  *    loss (any task can re-read from storage), makes the stage
  *    inspectable/resumable, and costs one extra storage round-trip the
  *    verdict-sized tables absorb easily.
  *
  * Values are identical in both modes (StageMaterializeSpec pins q118's
  * output equal under each); only the fault-tolerance/cost trade moves.
  */
object StageMaterialize {
  // dirs a shutdown hook has already been registered for (one per run dir)
  private val hooked = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  def apply(df: DataFrame, name: String): DataFrame = {
    val spark = df.sparkSession
    spark.conf.getOption("spark.graft.stage.dir") match {
      case Some(dir) if dir.nonEmpty =>
        // namespace per run: two jobs sharing one stage dir (the
        // advertised cluster scenario) must not clobber each other's
        // <name> stage mid-read — applicationId is unique per SparkContext
        val runDir = s"$dir/${spark.sparkContext.applicationId}"
        val path = s"$runDir/$name"
        df.write.mode(SaveMode.Overwrite).parquet(path)
        val out = spark.read.parquet(path)
        // best-effort cleanup of this run's namespace at JVM exit; a
        // killed run leaves its appId dir behind for an external TTL
        // sweep, never a shared path another run could be reading
        if (hooked.add(runDir)) {
          val conf = spark.sparkContext.hadoopConfiguration
          Runtime.getRuntime.addShutdownHook(new Thread(() =>
            try {
              val p = new org.apache.hadoop.fs.Path(runDir)
              p.getFileSystem(conf).delete(p, true)
            } catch { case _: Throwable => () }))
        }
        out
      case _ => df.localCheckpoint()
    }
  }

  /** [[apply]] behind a SCALE GATE — for call sites whose materialization
    * is a recompute-vs-barrier trade that flips with data size (round-16
    * verdict task 4: eight sf0.1 query paths regressed 10–21 % because a
    * localCheckpoint is a hard job barrier + executor-memory write, and
    * below a certain stage size the recompute it saves is cheaper).
    *
    * The proxy for recompute cost is the total size of the subtree's LEAF
    * relations (file-backed sizes, not derived estimates): below
    * `spark.graft.stage.gateBytes` (default 256 MB) the frame is returned
    * LAZY — re-running a narrow stage 2–3× over tens of MB costs less
    * than the barrier — and at or above it the stage materializes exactly
    * as [[apply]] does, keeping the recompute kill at production scale.
    * The threshold is a DATA-scale knob, not a core-count one: the same
    * default serves local[8]/local[32]/cluster, and a deployment can
    * lower it if its stages are CPU-bound at small inputs.
    *
    * Sites with MULTIPLICATIVE recompute (per-iteration graph state,
    * plan-growth kills like q150, tokenize passes measured as wins at
    * sf0.1) keep unconditional [[apply]] — the gate is only for the
    * measured barrier-bound sites. Values are identical either way
    * (lazy/materialized equality is the StageMaterializeSpec contract). */
  def whenLarge(df: DataFrame, name: String): DataFrame = {
    val key = "spark.graft.stage.gateBytes"
    val gate = BigInt(df.sparkSession.conf.getOption(key).map(v => v.toLongOption.getOrElse(
        throw new IllegalArgumentException(s"$key must be a whole number of bytes, not '$v'")))
      .getOrElse(256L * 1024 * 1024))
    val leafBytes = df.queryExecution.optimizedPlan.collectLeaves()
      .map(_.stats.sizeInBytes).sum
    if (leafBytes < gate) df else apply(df, name)
  }
}
