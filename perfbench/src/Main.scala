package perfbench

import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal

/** JVM side of one benchmark run (run.py starts it):
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *     --inputs DIR --work DIR --record FILE --cpus C --launched-ms T
  *     [--queries family/query,...]
  *
  * Prints one line `PERFBENCH_RESULT {...}` with the counts and every
  * metric it measured, and writes the full run record (metrics, facts,
  * failures, spans) to FILE. */
object Main {
  def main(args: Array[String]): Unit = {
    val enteredMs = System.currentTimeMillis()
    val o = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val run = new Run(o("workload"), o("seed").toLong, o("seconds").toDouble, o("trace") == "1",
      Paths.get(o("inputs")), Paths.get(o("work")), o("cpus").toInt,
      o.get("queries").toSeq.flatMap(_.split(",")))
    run.setup("jvm_boot_s") = (enteredMs - o("launched-ms").toLong) / 1e3
    run.tracer.on = run.traced
    run.attempt(run.workload) {
      run.workload match {
        case "limeqo-ceb" => Loops.limeqoCeb(run)
        case "baselines-ceb" => Loops.baselinesCeb(run)
        case "learned-job" => Loops.learnedJob(run)
        case "pipeline-sf0.1" => Pipeline.pipeline(run)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
    }
    // per layer: it varied by a third between runs of the same workload
    run.perLayer("jvm.peak_rss_mb") = (Proc.peakRssMb, "MB")
    def metrics(m: Iterable[(String, (Double, String))]) = Json.obj(m.map { case (k, (v, u)) =>
      k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) })
    val result = Json.obj(Seq(
      "attempted" -> run.attempted.toString,
      "failed" -> run.failures.size.toString,
      "end_to_end" -> metrics(run.endToEnd),
      "per_layer" -> metrics(run.perLayer)))
    val rt = Runtime.getRuntime
    val record = Json.obj(Seq(
      "run" -> Json.str(run.tracer.runId),
      "jvm" -> Json.str(s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}"),
      "heap_max_mb" -> Json.num(rt.maxMemory / 1048576.0),
      "setup" -> Json.obj(run.setup.map { case (k, v) => k -> Json.num(v) }),
      "facts" -> Json.obj(run.facts),
      "failures" -> Json.arr(run.failures.map(Json.str)),
      "result" -> result,
      "spans" -> Json.arr(run.tracer.all.map(_.json(run.tracer.runId)))))
    try Files.writeString(Paths.get(o("record")), record)
    catch { case NonFatal(e) => System.err.println(s"[perfbench] record not written: $e") }
    println("PERFBENCH_RESULT " + result)
  }
}
