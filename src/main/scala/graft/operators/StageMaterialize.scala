package graft.operators

import org.apache.spark.sql.DataFrame

/** The one lineage barrier: every stage the program materializes goes
  * through here, and every barrier is the same Spark call, an eager
  * `localCheckpoint()`. It runs the stage once, stores its partitions on
  * the executors and returns a frame whose plan is a `LogicalRDD` over
  * those blocks. The blocks die with their executor, so a lost executor
  * fails the query; on a single-node session that is acceptable.
  *
  * The sites use it for three reasons:
  *  - **a multi-consumer stage** (q118's verdict tables, the kNN graph
  *    builders' edge frames) would otherwise re-run its whole subtree
  *    once per consumer;
  *  - **a rewrite of its own input**: Spark refuses to overwrite a path
  *    its input plan still reads, so the maintenance folds
  *    ([[EmbeddingMaintenance]], [[GraphMaintenance]]) materialize the
  *    rewrite set first and the write then reads stored blocks only;
  *  - **iterative lineage** (connected components, BPE merges, label
  *    propagation, PageRank): each round's plan builds on the last, so
  *    without a barrier the plan and its analysis double every round.
  *
  * Not `cache()`: the CacheManager keys a cached frame by its plan, so a
  * cached result returned to the bench would re-serve one pass's rows to
  * every later measured pass. A checkpoint belongs to its Dataset and
  * dies with it, so each pass recomputes.
  *
  * `cache()` + `unpersist()` stays for scoped reuse inside one query,
  * where the cache is released before the query returns: q81/q83's
  * embedding frame ([[ProductQuantization]]) and the two edge frames of
  * `DedupOps.connectedComponents`. Those are not barriers: the plan keeps
  * its lineage, and nothing cached outlives the call. */
object StageMaterialize {

  /** Leaf bytes at or above which [[whenLarge]] places its barrier. */
  val GateBytes: Long = 256L * 1024 * 1024

  /** Materialize `df` now and truncate its lineage. */
  def apply(df: DataFrame): DataFrame = df.localCheckpoint()

  /** [[apply]] behind a scale gate, for sites whose barrier is a
    * recompute-vs-barrier trade that flips with data size: a checkpoint is
    * a hard job barrier plus an executor-memory write, and below some
    * stage size re-running a narrow stage 2–3× costs less (eight sf0.1
    * query paths regressed 10–21 % when these sites were unconditional).
    *
    * The proxy for recompute cost is the summed `sizeInBytes` of the
    * stage's optimized-plan leaves. Below [[GateBytes]] the frame comes
    * back lazy, unchanged; at or above it the stage materializes exactly
    * as [[apply]] does. A file-backed leaf reports its file size. A leaf
    * that is a prior barrier's output (a `LogicalRDD`) reports the size
    * estimate its origin plan had when it was checkpointed, not the bytes
    * it stored: a gated stage downstream of another barrier is judged by
    * that carried estimate. An RDD-backed leaf with no carried estimate
    * reports `spark.sql.defaultSizeInBytes` (Long.MaxValue unless set), so
    * it always materializes. StageMaterializeSpec pins both rules.
    *
    * Sites with multiplicative recompute (per-iteration graph state, plan
    * growth like q150, tokenize passes measured as wins at sf0.1) call
    * [[apply]] unconditionally. Values are identical either way. */
  def whenLarge(df: DataFrame): DataFrame = whenLarge(df, GateBytes)

  /** [[whenLarge]] under an explicit gate, so a spec can force either side. */
  private[graft] def whenLarge(df: DataFrame, gateBytes: Long): DataFrame = {
    val leafBytes = df.queryExecution.optimizedPlan.collectLeaves()
      .map(_.stats.sizeInBytes).sum
    if (leafBytes < gateBytes) df else apply(df)
  }
}
