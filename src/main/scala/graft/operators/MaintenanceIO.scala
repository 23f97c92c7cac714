package graft.operators

import org.apache.spark.sql.SparkSession

/** Shared plumbing for the partition-surgical maintenance operators
  * ([[EmbeddingMaintenance]] over the IVF cells, [[GraphMaintenance]] over
  * the at-rest kNN graph). */
private[graft] object MaintenanceIO {

  /** Run independent write jobs CONCURRENTLY (the guide-§2.6 overlap:
    * Spark's scheduler happily runs several jobs at once inside one
    * application; sequential actions leave the cluster idle in each
    * job's commit/tail phase). Callers must pass tasks whose inputs are
    * already materialized (checkpointed) and whose outputs are disjoint
    * paths — every use here writes the layouts of one build or fold,
    * which satisfy both.
    *
    * Every task is forked on one [[Overlap]] and every fork is joined
    * before the scope closes, so a failure is rethrown only once its
    * siblings have finished: a caller that catches it and retries never
    * races a write that is still running. The first failure in task
    * order propagates; a sibling's later failure is dropped with it. */
  def inParallel(tasks: Seq[() => Unit]): Unit = {
    val ov = new Overlap(tasks.size)
    val failures = try {
      val forks = tasks.map(t => ov.fork(t()))
      forks.flatMap(f => try { f.join(); None } catch { case e: Throwable => Some(e) })
    } finally ov.close()
    failures.headOption.foreach(e => throw e)
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
    * (the serial chain's own exception is the one that propagates).
    *
    * A Spark job outlives its fork's interrupt, so forks tag their jobs
    * ([[jobTag]], `interruptOnCancel`) and keep the job group they inherit,
    * which an outer `cancelJobGroup` (the steering watchdog's) still
    * reaches; `close()` cancels the tag and waits until the status tracker
    * shows none of its jobs running. */
  final class Overlap(threads: Int) extends AutoCloseable {
    private val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    private val forks = scala.collection.mutable.ArrayBuffer.empty[java.util.concurrent.Future[_]]
    val jobTag = s"graft-overlap-${java.util.UUID.randomUUID()}"
    private def activeContext =
      SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession).map(_.sparkContext)
    final class Forked[A](f: java.util.concurrent.Future[A]) {
      def join(): A = try f.get() catch {
        case e: java.util.concurrent.ExecutionException => throw e.getCause
      }
    }
    def fork[A](body: => A): Forked[A] = {
      val f = pool.submit(() => {
        val sc = activeContext
        sc.foreach { c => c.addJobTag(jobTag); c.setInterruptOnCancel(true) }
        try body finally sc.foreach(_.removeJobTag(jobTag))
      })
      forks += f
      new Forked(f)
    }
    def close(): Unit = {
      val inFlight = activeContext.filter(_ => forks.exists(!_.isDone))
      inFlight.foreach(_.cancelJobsWithTag(jobTag))
      pool.shutdownNow()
      try {
        // generous bound: an interrupted Spark action unwinds in well
        // under this; a hard-stuck body is surfaced rather than hidden
        if (!pool.awaitTermination(10, java.util.concurrent.TimeUnit.MINUTES))
          System.err.println("[maintenance] Overlap.close: forked task did not " +
            "terminate within 10 minutes after cancellation")
        // a fork may have launched a job after the first cancel; none runs
        // now, so cancel again and wait (bounded) until the tag is idle
        inFlight.foreach { c =>
          c.cancelJobsWithTag(jobTag)
          val st = c.statusTracker
          def active = st.getJobIdsForTag(jobTag).filter(st.getActiveJobIds.contains)
          val deadline = System.nanoTime() + 60000000000L
          while (active.nonEmpty && System.nanoTime() < deadline) Thread.sleep(10)
          if (active.nonEmpty) System.err.println("[maintenance] Overlap.close: " +
            s"jobs ${active.mkString(", ")} still active 60 s after cancellation")
        }
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
