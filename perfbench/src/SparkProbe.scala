package perfbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** What Spark did inside one window of the run (one query, one report call). */
final case class Usage(
    jobs: Int, stages: Int, tasks: Int,
    taskRunS: Double, taskCpuS: Double, taskGcS: Double,
    shuffleReadBytes: Long, shuffleWriteBytes: Long, spillBytes: Long,
    busyS: Double, taskSpanS: Double, planS: Double, ops: Map[String, Double]) {
  def +(o: Usage): Usage = Usage(jobs + o.jobs, stages + o.stages, tasks + o.tasks,
    taskRunS + o.taskRunS, taskCpuS + o.taskCpuS, taskGcS + o.taskGcS,
    shuffleReadBytes + o.shuffleReadBytes, shuffleWriteBytes + o.shuffleWriteBytes,
    spillBytes + o.spillBytes, busyS + o.busyS, taskSpanS + o.taskSpanS, planS + o.planS,
    (ops.keySet ++ o.ops.keySet).map(k => k -> (ops.getOrElse(k, 0.0) + o.ops.getOrElse(k, 0.0))).toMap)
}
object Usage {
  val zero: Usage = Usage(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, Map.empty)
}

/** SparkListener + QueryExecutionListener registered from the benchmark.
  * Events arrive on Spark's listener threads; the benchmark runs one query
  * at a time, so every job and task is charged to the window (by wall-clock
  * time) in which its job was submitted. */
final class SparkProbe extends SparkListener with QueryExecutionListener
    with AdaptiveSparkPlanHelper {
  private final case class Job(id: Int, submitMs: Long, var endMs: Long)
  private final case class Task(job: Int, stage: Int, launchMs: Long, finishMs: Long,
      runMs: Long, cpuNs: Long, gcMs: Long, shR: Long, shW: Long, spill: Long)
  private final case class Qe(label: String, planS: Double, ops: Map[String, Double])

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val tasks = mutable.ArrayBuffer.empty[Task]
  private val qes = mutable.ArrayBuffer.empty[Qe]
  private val events = new AtomicLong()
  /** Query executions are charged to the label current when Spark delivers
    * them: the benchmark registers the probe around one window at a time and
    * drains it before moving on. (QueryExecution.id is not the SQL execution
    * id, so time windows cannot place them.) */
  @volatile var label = ""

  def register(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this); spark.listenerManager.register(this)
  }
  def unregister(spark: SparkSession): Unit = {
    drain(); spark.sparkContext.removeSparkListener(this); spark.listenerManager.unregister(this)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    events.incrementAndGet()
    jobs(e.jobId) = Job(e.jobId, e.time, -1L)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    events.incrementAndGet()
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    events.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) tasks += Task(stageJob.getOrElse(e.stageId, -1), e.stageId,
      e.taskInfo.launchTime, e.taskInfo.finishTime, m.executorRunTime, m.executorCpuTime,
      m.jvmGCTime, m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val planS = Seq("analysis", "optimization", "planning")
      .flatMap(qe.tracker.phases.get).map(_.durationMs).sum / 1e3
    val ops = mutable.HashMap.empty[String, Double]
    collectWithSubqueries(qe.executedPlan) { case p => p }.foreach { p =>
      val secs = p.metrics.values.collect {
        case m if m.metricType == "timing" => math.max(m.value, 0L) / 1e3
        case m if m.metricType == "nsTiming" => math.max(m.value, 0L) / 1e9
      }.sum
      if (secs > 0) {
        // "WholeStageCodegen (3)" -> "WholeStageCodegen": one name per operator
        val k = p.nodeName.replaceAll("\\s*\\(\\d+\\)$", "").replaceAll("[^A-Za-z0-9]", "")
        ops(k) = ops.getOrElse(k, 0.0) + secs
      }
    }
    synchronized { events.incrementAndGet(); qes += Qe(label, planS, ops.toMap) }
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    events.incrementAndGet()

  /** Wait until Spark has delivered every pending event to this probe:
    * no open job and no new event for 300 ms (at most 20 s). */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 20e9.toLong
    var last = -1L
    while (System.nanoTime() < deadline &&
      (events.get != last || synchronized(jobs.values.exists(_.endMs < 0)))) {
      last = events.get
      Thread.sleep(300)
    }
  }

  /** Usage charged to the window [fromMs, toMs] of wall-clock time, with the
    * query executions delivered under `label`. */
  def usage(fromMs: Long, toMs: Long, label: String): Usage = synchronized {
    def in(t: Long) = t >= fromMs && t <= toMs
    val js = jobs.values.filter(j => in(j.submitMs)).map(_.id).toSet
    val ts = tasks.filter(t => js.contains(t.job))
    // union of task intervals = time at least one task of the window ran
    var busy = 0L; var edge = Long.MinValue
    ts.map(t => (t.launchMs, t.finishMs)).sortBy(_._1).foreach { case (a, b) =>
      val s = math.max(a, edge)
      if (b > s) { busy += b - s; edge = b }
    }
    val qs = qes.filter(_.label == label)
    Usage(js.size, ts.map(_.stage).distinct.size, ts.size,
      ts.map(_.runMs).sum / 1e3, ts.map(_.cpuNs).sum / 1e9, ts.map(_.gcMs).sum / 1e3,
      ts.map(_.shR).sum, ts.map(_.shW).sum, ts.map(_.spill).sum,
      busy / 1e3, ts.map(t => t.finishMs - t.launchMs).sum / 1e3, qs.map(_.planS).sum,
      qs.flatMap(_.ops).groupMapReduce(_._1)(_._2)(_ + _))
  }

  /** (job id, submit ms, end ms, stages, tasks) for jobs submitted in the window. */
  def jobsIn(fromMs: Long, toMs: Long): Seq[(Int, Long, Long, Int, Int)] = synchronized {
    jobs.values.filter(j => j.submitMs >= fromMs && j.submitMs <= toMs).toSeq.map { j =>
      val ts = tasks.filter(_.job == j.id)
      (j.id, j.submitMs, j.endMs, ts.map(_.stage).distinct.size, ts.size)
    }
  }
}
