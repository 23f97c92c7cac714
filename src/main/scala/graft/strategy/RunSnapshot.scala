package graft.strategy

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.Base64
import scala.util.Random
import graft.core.{RoundMetrics, RoundState, WorkloadMatrix}

/** Per-round persisted strategy state — the resumability contract SURVEY
  * §3.1 promises: every strategy writes one snapshot file per round
  * (atomic replace), and a later invocation can restore it and continue
  * BIT-IDENTICALLY to an uninterrupted run (ResumeSpec kills runs
  * mid-loop and compares traces).
  *
  * What has to be captured for bit-identity, per the loop anatomy in
  * [[Strategies]]:
  *  - the full [[RoundState]] (mask / explored / timeout matrices,
  *    timeout accumulator, explore set) — the matrices are the expensive
  *    part a real cluster run cannot afford to lose: each observed cell
  *    is a query execution;
  *  - the BODY-TOP `minObs` vector: the reference loops deliberately test
  *    the stop condition against the previous round's pre-pick value, so
  *    recomputing it from the restored state would change stop behavior;
  *  - the RNG state (Java-serialized `java.util.Random`, base64) — the
  *    stream must continue mid-sequence, not restart from the seed;
  *  - the emitted [[RoundMetrics]] so the rewritten trace file carries
  *    the full history (doubles round-trip exactly through toString);
  *  - a small per-strategy `extra` map for loop-local flags (Random's
  *    `exhausted`, Greedy's `progressed`, Oracle's iterator position).
  *
  * Encoding notes: mask/explored pack each row as a 0/1 string; the
  * timeout matrix is sparse (triples), as most cells are never timed out;
  * +∞ (a min-observed row with nothing observed) is encoded as the JSON
  * string "inf".
  */
final case class RunSnapshot(
    strategy: String, seed: Long, round: Int, done: Boolean,
    timeout: Double,
    mask: Array[Array[Boolean]], explored: Array[Array[Boolean]],
    timeoutCells: Seq[(Int, Int, Double)],
    exploreQueries: Seq[Int], minObs: Array[Double],
    extra: Map[String, String], rng: Option[String],
    results: Vector[RoundMetrics]) {

  /** Apply the persisted exploration state onto a fresh RoundState. */
  def restore(st: RoundState): Unit = {
    require(st.w.nRows == mask.length && (mask.isEmpty || st.w.nCols == mask(0).length),
      s"snapshot shape ${mask.length}x${if (mask.isEmpty) 0 else mask(0).length} " +
        s"!= workload ${st.w.nRows}x${st.w.nCols}")
    var i = 0
    while (i < mask.length) {
      var j = 0
      while (j < mask(i).length) {
        st.mask(i)(j) = mask(i)(j)
        st.explored(i)(j) = explored(i)(j)
        j += 1
      }
      i += 1
    }
    timeoutCells.foreach { case (r, c, v) => st.timeoutM(r)(c) = v }
    st.timeout = timeout
    st.exploreQueries ++= exploreQueries
  }

  def save(path: Path): Unit = {
    val sb = new java.lang.StringBuilder
    def d(v: Double): Unit =
      if (v.isPosInfinity) sb.append("\"inf\"") else sb.append(graft.core.Num.js(v))
    def q(s: String): Unit = RunSnapshot.quote(sb, s)
    def list[T](name: String, xs: Iterable[T])(item: T => Unit): Unit = {
      sb.append('"').append(name).append("\":[")
      var first = true
      xs.foreach { x => if (!first) sb.append(','); first = false; item(x) }
      sb.append("],")
    }
    // a 0/1 row is its bits between two quotes, nothing to escape: filled
    // into one reused buffer and appended at once
    var buf = new Array[Char](0)
    def bits(row: Array[Boolean]): Unit = {
      if (buf.length < row.length + 2) buf = new Array[Char](row.length + 2)
      buf(0) = '"'
      var j = 0
      while (j < row.length) { buf(j + 1) = if (row(j)) '1' else '0'; j += 1 }
      buf(row.length + 1) = '"'
      sb.append(buf, 0, row.length + 2)
    }
    sb.append("{\"strategy\":"); q(strategy)
    sb.append(",\"seed\":").append(seed).append(",\"round\":").append(round)
    sb.append(",\"done\":").append(done).append(",\"timeout\":"); d(timeout); sb.append(',')
    list("mask", mask)(bits)
    list("explored", explored)(bits)
    list("timeoutCells", timeoutCells) { case (r, c, v) =>
      sb.append('[').append(r).append(',').append(c).append(','); d(v); sb.append(']')
    }
    list("exploreQueries", exploreQueries.sorted)(i => sb.append(i))
    list("minObs", minObs)(d)
    sb.append("\"extra\":{")
    var first = true
    extra.toSeq.sortBy(_._1).foreach { case (k, v) =>
      if (!first) sb.append(','); first = false
      q(k); sb.append(':'); q(v)
    }
    sb.append("},")
    rng.foreach { s => sb.append("\"rng\":"); q(s); sb.append(',') }
    list("results", results) { m =>
      sb.append('[')
      Seq(m.trainingTime, m.inferenceTime, m.execTime, m.totalLatency, m.p50, m.p90, m.p95, m.p99)
        .foreach { v => d(v); sb.append(',') }
      sb.append(m.exploreQueriesCnt).append(']')
    }
    sb.setLength(sb.length - 1) // the last list's comma closes the object
    sb.append('}')
    val tmp = path.resolveSibling(path.getFileName.toString + ".tmp")
    Option(path.getParent).foreach(Files.createDirectories(_))
    Files.write(tmp, sb.toString.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, path, StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)
  }
}

object RunSnapshot {
  /** Append `s` as a JSON string: `"` and `\` backslash-escaped, control
    * characters as `\u00xx`. A string with nothing to escape (a base64
    * blob, most names) is appended as it is. */
  private def quote(sb: java.lang.StringBuilder, s: String): Unit = {
    var i = 0
    while (i < s.length && { val c = s.charAt(i); c >= ' ' && c != '"' && c != '\\' }) i += 1
    sb.append('"')
    if (i == s.length) sb.append(s)
    else {
      sb.append(s, 0, i)
      while (i < s.length) {
        s.charAt(i) match {
          case '"' => sb.append("\\\"")
          case '\\' => sb.append("\\\\")
          case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
          case c => sb.append(c)
        }
        i += 1
      }
    }
    sb.append('"')
  }

  /** Serialize the current RNG stream position (java.util.Random is
    * Serializable; its whole state is the 48-bit seed word). */
  def rngState(r: Random): String =
    Base64.getEncoder.encodeToString {
      val bos = new java.io.ByteArrayOutputStream()
      val oos = new java.io.ObjectOutputStream(bos)
      oos.writeObject(r.self); oos.close()
      bos.toByteArray
    }

  def rngFrom(s: String): Random = {
    val ois = new java.io.ObjectInputStream(
      new java.io.ByteArrayInputStream(Base64.getDecoder.decode(s)))
    try new Random(ois.readObject().asInstanceOf[java.util.Random])
    finally ois.close()
  }

  /** Java-serialize an arbitrary cross-round model object (LimeQO+'s
    * TCNN: weights + Adam moments + dropout RNG) into a base64 blob for
    * the snapshot's `extra` map, and back. */
  def blob(o: java.io.Serializable): String =
    Base64.getEncoder.encodeToString {
      val bos = new java.io.ByteArrayOutputStream()
      val oos = new java.io.ObjectOutputStream(bos)
      oos.writeObject(o); oos.close()
      bos.toByteArray
    }

  def unblob[T](s: String): T = {
    val ois = new java.io.ObjectInputStream(
      new java.io.ByteArrayInputStream(Base64.getDecoder.decode(s)))
    try ois.readObject().asInstanceOf[T]
    finally ois.close()
  }

  def capture(strategy: String, seed: Long, st: RoundState, round: Int,
              minObs: Array[Double], results: Seq[RoundMetrics],
              rng: Option[Random] = None,
              extra: Map[String, String] = Map.empty,
              done: Boolean = false): RunSnapshot = {
    val cells = Vector.newBuilder[(Int, Int, Double)]
    var r = 0
    while (r < st.w.nRows) {
      val row = st.timeoutM(r)
      var c = 0
      while (c < row.length) { if (row(c) != 0.0) cells += ((r, c, row(c))); c += 1 }
      r += 1
    }
    RunSnapshot(strategy, seed, round, done, st.timeout,
      st.mask.map(_.clone()), st.explored.map(_.clone()), cells.result(),
      st.exploreQueries.toSeq.sorted, minObs.clone(),
      extra, rng.map(rngState), results.toVector)
  }

  /** Load a snapshot; None when absent or unreadable (a torn write can
    * only be the .tmp file — `save` is atomic-replace, so the main file
    * is always a complete previous state). */
  def load(path: Path): Option[RunSnapshot] = {
    if (!Files.isRegularFile(path)) return None
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val j = JsonMethods.parse(Files.readString(path))
    def dbl(v: JValue): Double = v match {
      case JString("inf") => Double.PositiveInfinity
      case JInt(i) => i.toDouble
      case JLong(l) => l.toDouble
      case JDouble(x) => x
      case JDecimal(x) => x.toDouble
      case other => sys.error(s"bad number in snapshot: $other")
    }
    def str(v: JValue): String = v match {
      case JString(s) => s
      case other => sys.error(s"bad string in snapshot: $other")
    }
    def arr(v: JValue): List[JValue] = v match {
      case JArray(xs) => xs
      case other => sys.error(s"bad array in snapshot: $other")
    }
    val m = j.asInstanceOf[JObject].obj.toMap
    def bits(v: JValue): Array[Array[Boolean]] = arr(v).map { x =>
      val s = str(x)
      val row = new Array[Boolean](s.length)
      var j = 0
      while (j < row.length) { row(j) = s.charAt(j) == '1'; j += 1 }
      row
    }.toArray
    Some(RunSnapshot(
      strategy = str(m("strategy")),
      seed = dbl(m("seed")).toLong,
      round = dbl(m("round")).toInt,
      done = m("done") match { case JBool(b) => b; case o => sys.error(s"bad done: $o") },
      timeout = dbl(m("timeout")),
      mask = bits(m("mask")),
      explored = bits(m("explored")),
      timeoutCells = arr(m("timeoutCells")).map { t =>
        val Seq(r, c, v) = arr(t).map(dbl)
        (r.toInt, c.toInt, v)
      },
      exploreQueries = arr(m("exploreQueries")).map(x => dbl(x).toInt),
      minObs = arr(m("minObs")).map(dbl).toArray,
      extra = m.get("extra").map(e =>
        e.asInstanceOf[JObject].obj.map { case (k, v) => k -> str(v) }.toMap)
        .getOrElse(Map.empty),
      rng = m.get("rng").map(str),
      results = arr(m("results")).map { r =>
        val Seq(t, i, e, tl, p50, p90, p95, p99, cnt) = arr(r).map(dbl)
        RoundMetrics(t, i, e, tl, p50, p90, p95, p99, cnt.toInt)
      }.toVector))
  }

  /** The snapshot path convention for a trace file: `<trace>.state.json`
    * next to the trace itself. */
  def pathFor(trace: Path): Path =
    trace.resolveSibling(trace.getFileName.toString + ".state.json")
}
