package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.util.control.NonFatal

/** One timed unit: wall and process CPU seconds as measured, and the
  * host-speed factor around it. */
final case class Timing(wall: Double, cpu: Double, factor: Double)

/** State of one benchmark run: options, the tracer, the failure ledger and
  * the metrics reported at the end. */
final class Run(val workload: String, val seed: Long, val seconds: Double,
                val traced: Boolean, val inputs: Path, val work: Path, val cpus: Int,
                val queries: Seq[String]) {
  val tracer = new Tracer(s"$workload-$seed-${System.currentTimeMillis()}")
  var attempted = 0
  val failures = mutable.ArrayBuffer.empty[String]
  val endToEnd = mutable.LinkedHashMap.empty[String, (Double, String)]
  val perLayer = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Set-up parts in seconds; run.py adds input generation and reports
    * their sum as `setup_s`. */
  val setup = mutable.LinkedHashMap.empty[String, Double]
  /** Workload-specific facts for the record (sizes, budgets, tables). */
  val facts = mutable.LinkedHashMap.empty[String, String]

  def fail(op: String, msg: String): Unit = {
    System.err.println(s"[perfbench] FAIL $op: $msg")
    failures += s"$op: $msg"
  }

  /** Run one operation; an exception is a failure logged with its class and
    * message, and the operation yields None. */
  def attempt[T](op: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch { case NonFatal(e) => fail(op, s"${e.getClass.getName}: ${e.getMessage}"); None }
  }

  /** A checked property of an output: counts as an attempted operation. */
  def check(op: String, ok: Boolean, msg: => String): Unit = {
    attempted += 1
    if (!ok) fail(op, msg)
  }

  def timed(body: => Unit): Double = { val t = System.nanoTime(); body; (System.nanoTime() - t) / 1e9 }

  /** Timed units: repeat `unit` until `seconds` have passed (at least
    * `minUnits`). With tracing, units alternate untraced/traced so the
    * tracing overhead is measured on the same work; the per-layer numbers
    * come from the traced units only. Returns (untraced, traced) lists of
    * (wall s, cpu s, host-speed factor). */
  def units(minUnits: Int)(unit: Int => Unit): (Seq[Timing], Seq[Timing]) = {
    val plain = mutable.ArrayBuffer.empty[Timing]
    val withTrace = mutable.ArrayBuffer.empty[Timing]
    val start = System.nanoTime()
    var k = 0
    var before = HostSpeed.sample()
    def elapsed = (System.nanoTime() - start) / 1e9
    while (k < minUnits || elapsed < seconds || (traced && k % 2 == 1)) {
      tracer.on = traced && k % 2 == 1
      val cpu0 = Proc.cpuSeconds
      val wall = tracer.span("unit", Map("k" -> k.toString))(timed(unit(k)))
      val cpu = Proc.cpuSeconds - cpu0
      val after = HostSpeed.sample()
      (if (tracer.on) withTrace else plain) += Timing(wall, cpu, HostSpeed.factor(before, after))
      before = after
      k += 1
    }
    tracer.on = traced
    (plain.toSeq, withTrace.toSeq)
  }

  /** End-to-end timings at nominal host speed (see HostSpeed): medians of
    * the per-unit normalized times. The raw wall and the speed factor go to
    * the per-layer metrics. */
  def reportTimes(ts: Seq[Timing], ops: Double, latencyS: Option[Double]): Unit = {
    val wall = Stats.median(ts.map(t => t.wall * t.factor))
    endToEnd("wall_s") = (wall, "s")
    endToEnd("cpu_s") = (Stats.median(ts.map(t => t.cpu * t.factor)), "s")
    endToEnd("ops_per_s") = (ops / wall, "1/s")
    latencyS.foreach(l => endToEnd("latency_at_budget_s") = (l, "s"))
    perLayer("host.speed_factor") = (Stats.median(ts.map(_.factor)), "ratio")
    perLayer("host.wall_raw_s") = (Stats.median(ts.map(_.wall)), "s")
  }

  /** Report the end-to-end metrics every workload shares. */
  def reportUnits(plain: Seq[Timing], withTrace: Seq[Timing], opsPerUnit: Double): Unit = {
    reportTimes(plain, opsPerUnit, None)
    facts("units_untraced") = plain.size.toString
    facts("unit_walls_s") = Json.arr(plain.map(p => Json.num(p.wall)))
    facts("unit_speed_factors") = Json.arr(plain.map(p => Json.num(p.factor)))
    if (withTrace.nonEmpty) {
      perLayer("trace.overhead_ratio") =
        (Stats.median(withTrace.map(t => t.wall * t.factor)) /
          Stats.median(plain.map(t => t.wall * t.factor)) - 1.0, "ratio")
      facts("units_traced") = withTrace.size.toString
    }
  }

  def clean(dir: Path): Path = {
    if (Files.exists(dir))
      Files.walk(dir).sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
    Files.createDirectories(dir)
  }
}
