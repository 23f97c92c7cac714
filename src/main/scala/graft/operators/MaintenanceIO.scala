package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Shared plumbing for the partition-surgical maintenance operators
  * ([[CorpusMaintenance]] over the doc shards, [[EmbeddingMaintenance]]
  * over the IVF cells). */
private[graft] object MaintenanceIO {

  /** Spark refuses to overwrite a path its own input plan still reads
    * (rightly — a mid-write failure would destroy the input). The rewrite
    * set is the affected partitions only, so materializing it first
    * (eager localCheckpoint: lineage truncated to stored blocks) both
    * satisfies the check and bounds the exposure window to a pure write. */
  def materialized(df: DataFrame): DataFrame = df.localCheckpoint(true)

  /** Run independent write jobs CONCURRENTLY (the guide-§2.6 overlap:
    * Spark's scheduler happily runs several jobs at once inside one
    * application; sequential actions leave the cluster idle in each
    * job's commit/tail phase). Callers must pass tasks whose inputs are
    * already materialized (checkpointed) and whose outputs are disjoint
    * paths — every use here writes the edge/redge/probe/dir layouts of
    * one fold, which satisfy both. Failures propagate (the first thrown
    * exception aborts the fold exactly as the sequential form did). */
  def inParallel(tasks: Seq[() => Unit]): Unit =
    if (tasks.size <= 1) tasks.foreach(_())
    else {
      import scala.concurrent.{Await, Future, ExecutionContext}
      import scala.concurrent.duration.Duration
      val pool = java.util.concurrent.Executors.newFixedThreadPool(tasks.size)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      try Await.result(
        Future.sequence(tasks.map(t => Future(t()))), Duration.Inf)
      finally pool.shutdown()
    }

  /** A fork/join scope for overlapping INDEPENDENT Spark actions inside
    * one maintenance fold (the same guide-§2.6 overlap as [[inParallel]],
    * but with handles so the caller can pipeline: fork a step the moment
    * its inputs are materialized, keep driving the serial chain, join
    * where the result is first consumed). The contract matches
    * [[inParallel]]: forked bodies must read only checkpointed frames or
    * paths no concurrent step writes. `join()` rethrows the body's own
    * exception. Close the scope in a finally.
    *
    * `close()` CANCELS and AWAITS any fork still in flight (round-16
    * ADVICE: the old shutdown() returned immediately, so an exception in
    * the serial chain propagated while a forked directory overwrite kept
    * writing — a caller catching and retrying would then race the
    * orphaned writer against its own writes to the same paths). On the
    * normal path every fork has been joined before close() and this is a
    * no-op; on the abort path in-flight bodies are interrupted and the
    * scope blocks until they exit, swallowing their secondary failures
    * (the serial chain's own exception is the one that propagates). */
  final class Overlap(threads: Int) extends AutoCloseable {
    private val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    final class Forked[A](f: java.util.concurrent.Future[A]) {
      def join(): A = try f.get() catch {
        case e: java.util.concurrent.ExecutionException => throw e.getCause
      }
    }
    def fork[A](body: => A): Forked[A] =
      new Forked(pool.submit(() => body))
    def close(): Unit = {
      pool.shutdownNow()
      try {
        // generous bound: an interrupted Spark action unwinds in well
        // under this; a hard-stuck body is surfaced rather than hidden
        if (!pool.awaitTermination(10, java.util.concurrent.TimeUnit.MINUTES))
          System.err.println("[maintenance] Overlap.close: forked task did not " +
            "terminate within 10 minutes after cancellation")
      } catch {
        case _: InterruptedException => Thread.currentThread().interrupt()
      }
    }
  }

  /** Run `body` with dynamic partition-overwrite mode, restoring the
    * previous setting afterwards. */
  def withDynamicOverwrite[A](spark: SparkSession)(body: => A): A =
    graft.Cli.withConfs(spark, Seq("spark.sql.sources.partitionOverwriteMode" -> "dynamic"))(body)
}
