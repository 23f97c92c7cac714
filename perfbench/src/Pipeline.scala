package perfbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import graft.{SparkEntry, Verify}

object Sessions {
  /** The session configuration of graft.Bench and graft.Verify. */
  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.catalyst.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}

/** pipeline-sf0.1: SparkEntry queries (run.py names them, by family) over
  * generated sf0.1 tables. */
object Pipeline {
  /** spark.* per-layer metrics from the usage of `n` traced units. */
  def reportSpark(run: Run, u: Usage, wallS: Double, n: Int): Unit = {
    def put(k: String, v: Double, unit: String) = run.perLayer(k) = (v / n, unit)
    put("catalyst.plan_s", u.planS, "s")
    put("spark.jobs", u.jobs, "count")
    put("spark.stages", u.stages, "count")
    put("spark.tasks", u.tasks, "count")
    put("spark.task_run_s", u.taskRunS, "s")
    put("spark.task_cpu_s", u.taskCpuS, "s")
    put("spark.task_gc_s", u.taskGcS, "s")
    put("spark.shuffle_read_bytes", u.shuffleReadBytes.toDouble, "bytes")
    put("spark.shuffle_write_bytes", u.shuffleWriteBytes.toDouble, "bytes")
    put("spark.spill_bytes", u.spillBytes.toDouble, "bytes")
    put("spark.driver_gap_s", wallS - u.busyS, "s")
    run.perLayer("spark.slot_util") = (u.taskSpanS / math.max(wallS * run.cpus, 1e-9), "ratio")
    u.ops.foreach { case (op, s) => put(s"op.$op.time_s", s, "s") }
  }

  def pipeline(run: Run): Unit = {
    val t = run.tracer
    val data = run.inputs.resolve("sf0.1").toString
    val queries = run.queries.map(q => (q.takeWhile(_ != '/'), q.dropWhile(_ != '/').drop(1)))
    val missing = queries.map(_._2).filterNot(SparkEntry.queries.contains)
    run.check("queries exist", missing.isEmpty, s"not in SparkEntry.queries: ${missing.mkString(",")}")
    // Warm-up and output check in one: graft.Verify writes each query's
    // result over the small check-scale tables; tools/check_correctness.py
    // then compares them hash-exact with DuckDB (run.py, after this JVM).
    run.setup("warmup_s") = run.timed(run.attempt("verify")(
      Verify.main(Array(run.inputs.resolve("sf0.01").toString, run.work.resolve("verify").toString))))
    var spark: SparkSession = null
    run.setup("session_s") = run.timed { spark = Sessions.local(run.cpus) }
    val probe = new SparkProbe

    var before = HostSpeed.sample()
    /** One execution of a query: build the DataFrame, run it into the noop
      * sink (graft.Bench's timing). Returns the wall seconds and the
      * host-speed factor around them. */
    def execute(fam: String, q: String): (Double, Double) = {
      val fn = SparkEntry.queries(q)
      val s = run.timed(t.span("query", Map("query" -> q, "family" -> fam)) {
        run.attempt(q) {
          val df = t.span("sparkentry.build")(fn(spark, data))
          t.span("spark.exec")(df.write.format("noop").mode("overwrite").save())
        }
      })
      val after = HostSpeed.sample()
      val f = HostSpeed.factor(before, after)
      before = after
      (s, f)
    }

    val present = queries.filter(q => SparkEntry.queries.contains(q._2))
    // one pass: per query (raw s, factor); with tracing each query runs twice
    // in a row, the traced execution first on every other query, so JIT and
    // cache effects fall on both arms
    val plain = mutable.ArrayBuffer.empty[(Double, Double)]
    val traced = mutable.ArrayBuffer.empty[(Double, Double)]
    val cpu0 = Proc.cpuSeconds
    val wall = run.timed {
      present.zipWithIndex.foreach { case ((f, q), i) =>
        val arms = if (run.traced) Seq(i % 2 == 1, i % 2 == 0) else Seq(false)
        arms.foreach { on =>
          t.on = on
          if (on) { probe.label = q; probe.register(spark) }
          val r = execute(f, q)
          if (on) { probe.unregister(spark); traced += r } else plain += r
        }
      }
    }
    t.on = run.traced
    // the pass at nominal speed is the sum of the normalized query times
    val rawSum = plain.map(_._1).sum
    val norm = plain.map { case (s, f) => s * f }.sum
    run.reportTimes(Seq(Timing(rawSum, (Proc.cpuSeconds - cpu0) * rawSum / wall, norm / rawSum)),
      present.size, Some(norm))
    if (run.traced)
      run.perLayer("trace.overhead_ratio") =
        (traced.map { case (s, f) => s * f }.sum / norm - 1.0, "ratio")
    run.facts("query_s") = Json.obj(present.map(_._2).zip(plain).map { case (q, (s, f)) =>
      q -> Json.arr(Seq(Json.num(s), Json.num(f))) })

    if (run.traced) {
      val perQuery = t.named("query").map { s =>
        val from = t.wallT0 + (s.start * 1e3).toLong
        val to = t.wallT0 + (s.end * 1e3).toLong + 1
        probe.jobsIn(from, to).foreach { case (id, a, b, stages, tasks) =>
          t.add("spark.job", s.id, t.fromWall(a), t.fromWall(b),
            Map("job" -> id.toString, "stages" -> stages.toString, "tasks" -> tasks.toString))
        }
        val kids = t.all.filter(_.parent == s.id)
        def child(name: String) = kids.filter(_.name == name).map(_.dur).sum
        (s.attrs("query"), s.attrs("family"), s.dur, child("sparkentry.build"), child("spark.exec"),
          probe.usage(from, to, s.attrs("query")))
      }
      val total = perQuery.map(_._6).foldLeft(Usage.zero)(_ + _)
      run.perLayer("sparkentry.build_s") = (perQuery.map(_._4).sum, "s")
      run.perLayer("spark.exec_s") = (perQuery.map(_._5).sum, "s")
      reportSpark(run, total, perQuery.map(_._3).sum, 1)
      perQuery.groupBy(_._2).foreach { case (fam, qs) =>
        val u = qs.map(_._6).foldLeft(Usage.zero)(_ + _)
        def put(k: String, v: Double, unit: String) = run.perLayer(s"family.$fam.$k") = (v, unit)
        put("build_s", qs.map(_._4).sum, "s")
        put("plan_s", u.planS, "s")
        put("jobs", u.jobs, "count")
        put("tasks", u.tasks, "count")
        put("task_run_s", u.taskRunS, "s")
        put("shuffle_write_bytes", u.shuffleWriteBytes.toDouble, "bytes")
        put("spill_bytes", u.spillBytes.toDouble, "bytes")
        put("driver_gap_s", qs.map(_._3).sum - u.busyS, "s")
      }
      run.facts("queries") = Json.arr(perQuery.map { case (q, f, wall, build, exec, u) =>
        Json.obj(Seq("query" -> Json.str(q), "family" -> Json.str(f), "wall_s" -> Json.num(wall),
          "build_s" -> Json.num(build), "exec_s" -> Json.num(exec), "plan_s" -> Json.num(u.planS),
          "jobs" -> u.jobs.toString, "stages" -> u.stages.toString, "tasks" -> u.tasks.toString,
          "task_run_s" -> Json.num(u.taskRunS), "busy_s" -> Json.num(u.busyS),
          "driver_gap_s" -> Json.num(wall - u.busyS),
          "slot_util" -> Json.num(u.taskSpanS / (wall * run.cpus)),
          "shuffle_write_bytes" -> u.shuffleWriteBytes.toString,
          "spill_bytes" -> u.spillBytes.toString,
          "top_ops_s" -> Json.obj(u.ops.toSeq.sortBy(-_._2).take(5).map { case (k, v) => k -> Json.num(v) })))
      })
    }
    spark.stop()
  }
}
