package perfbench

import scala.collection.mutable.ArrayBuffer

/** Minimal JSON rendering for the run record. Numbers keep every digit. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d.isWhole && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def arr(vs: Iterable[String]): String = vs.mkString("[", ",", "]")
}

/** One recorded interval. Times are seconds since the run started; `parent`
  * is the id of the enclosing span (-1 at the top). */
final case class Span(id: Int, name: String, parent: Int, start: Double, end: Double,
                      attrs: Map[String, String]) {
  def dur: Double = end - start
  def json(runId: String): String = Json.obj(Seq(
    "run" -> Json.str(runId), "id" -> id.toString, "name" -> Json.str(name),
    "parent" -> parent.toString, "start" -> Json.num(start), "end" -> Json.num(end)) ++
    attrs.map { case (k, v) => k -> Json.str(v) })
}

/** In-memory span recorder. Spans are opened around the benchmark's own
  * calls into each layer; nothing inside the program is instrumented. While
  * `on` is false `span` only runs its body, so an untraced unit does the same
  * work as a traced one minus the bookkeeping. Spans are written out once,
  * when the run ends. */
final class Tracer(val runId: String) {
  val t0: Long = System.nanoTime()
  val wallT0: Long = System.currentTimeMillis()
  var on = false
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil

  def now: Double = (System.nanoTime() - t0) / 1e9
  /** Convert a wall-clock epoch millisecond (Spark listener events) to run time. */
  def fromWall(ms: Long): Double = (ms - wallT0) / 1e3
  def current: Int = stack.headOption.getOrElse(-1)

  def span[T](name: String, attrs: Map[String, String] = Map.empty)(body: => T): T =
    if (!on) body
    else {
      val id = synchronized { spans += null; spans.length - 1 }
      val parent = current
      stack = id :: stack
      val start = now
      try body
      finally {
        stack = stack.tail
        synchronized { spans(id) = Span(id, name, parent, start, now, attrs) }
      }
    }

  def add(name: String, parent: Int, start: Double, end: Double,
          attrs: Map[String, String] = Map.empty): Int = synchronized {
    spans += Span(spans.length, name, parent, start, end, attrs); spans.length - 1
  }

  def all: Seq[Span] = synchronized(spans.filter(_ != null).toSeq)
  def named(name: String): Seq[Span] = all.filter(_.name == name)
  def total(name: String): Double = named(name).map(_.dur).sum
  /** Duration of each `name` span minus the time its child spans cover. */
  def selfTime(name: String): Double = {
    val all = this.all
    val kids = all.groupBy(_.parent)
    all.filter(_.name == name).map { s =>
      s.dur - kids.getOrElse(s.id, Nil).map(_.dur).sum
    }.sum
  }
}

/** Process-level counters read around a timed unit. */
object Proc {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuSeconds: Double = os.getProcessCpuTime / 1e9
  private def procField(file: String, key: String): Option[Long] = try {
    val src = scala.io.Source.fromFile(file)
    try src.getLines().find(_.startsWith(key)).map(_.split("\\s+")(1).toLong)
    finally src.close()
  } catch { case _: java.io.IOException => None }
  /** Peak resident set of this JVM in MB (VmHWM). */
  def peakRssMb: Double = procField("/proc/self/status", "VmHWM:").map(_ / 1024.0).getOrElse(0.0)
  /** Bytes this process has passed to write(2) so far (wchar). */
  def wchar: Long = procField("/proc/self/io", "wchar:").getOrElse(0L)
}

/** Host-speed reference. The speed of this kind of shared host drifts by up
  * to a third within minutes (CPU time per unit of work moves with it, and
  * /proc/stat shows steal time), more than the bounds a benchmark can hold.
  * Around every timed unit (every query on the pipeline) the run times a
  * fixed single-thread kernel, a dependent floating-point chain streaming
  * through 16 MB, and reports the unit at the kernel's nominal speed:
  * measured × NominalS / (mean of the kernel times before and after). */
object HostSpeed {
  val NominalS = 0.05
  private val a = Array.tabulate(1 << 21)(_ * 1e-7)

  private def once(): Double = {
    val t0 = System.nanoTime()
    var s = 0.0; var r = 0
    while (r < 6) {
      var i = 0
      while (i < a.length) { s = s * 0.999999 + a(i); a(i) = s * 1e-9 + r; i += 1 }
      r += 1
    }
    (System.nanoTime() - t0) / 1e9
  }
  /** Median of three kernel timings, in seconds. */
  def sample(): Double = Stats.median((0 until 3).map(_ => once()))
  /** Factor that expresses a time measured between two samples at nominal speed. */
  def factor(before: Double, after: Double): Double = NominalS / ((before + after) / 2)
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear-interpolated quantile. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val lo = pos.floor.toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}
