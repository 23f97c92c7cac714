package graft.strategy

import java.nio.file.{Files, Path, Paths}
import scala.util.Random
import graft.core.RoundMetrics

/** Three [[RunSnapshot]]s that reach every branch of the writer, for
  * [[SnapshotBytesSpec]]:
  *  - `escapes`: a strategy name, an `extra` key and an `extra` value with
  *    a quote, a backslash, control characters and a non-ASCII letter; a
  *    3×5 matrix; timeout cells, +∞ and integral doubles, an RNG position
  *    and two result rows;
  *  - `empty`: a 0×0 matrix and nothing else;
  *  - `blob`: a base64 blob in `extra`, as LimeQO+ stores its model.
  *
  * Rewrite the pins only for an intended change of the snapshot format:
  * `sbt "Test/runMain graft.strategy.SnapshotBytes src/test/resources/snapshot"`.
  */
object SnapshotBytes {

  val pinDir: Path = Paths.get("src", "test", "resources", "snapshot")

  private def bits(rows: String*): Array[Array[Boolean]] = rows.map(_.map(_ == '1').toArray).toArray

  def snapshots: Seq[(String, RunSnapshot)] = Seq(
    "escapes" -> RunSnapshot("odd \"name\" \\ with\u0001\ttabs é", 17L, 3, done = false,
      timeout = 12.5,
      mask = bits("10010", "01100", "00001"), explored = bits("10110", "01100", "10001"),
      timeoutCells = Seq((0, 2, 7.25), (2, 0, 3.0)),
      exploreQueries = Seq(0, 2), minObs = Array(1.5, Double.PositiveInfinity, 4.0),
      extra = Map("k\"ey\\\u0002" -> "v\"al\\ue\u001f\n", "flag" -> "true"),
      rng = Some(RunSnapshot.rngState(new Random(9))),
      results = Vector(
        RoundMetrics(0, 0.125, 300, 250.5, 1, 2.5, 3, 4.75, 0),
        RoundMetrics(1.0E-7, 2, 310.25, 240, 1, 2, 3, 4, 2))),
    "empty" -> RunSnapshot("", 0L, 0, done = true, timeout = 0.0,
      mask = Array.empty, explored = Array.empty, timeoutCells = Nil,
      exploreQueries = Nil, minObs = Array.empty, extra = Map.empty, rng = None,
      results = Vector.empty),
    "blob" -> RunSnapshot("limeqo_plus", 5L, 1, done = false, timeout = 0.0,
      mask = bits("11", "01"), explored = bits("11", "01"), timeoutCells = Nil,
      exploreQueries = Seq(1), minObs = Array(2.0, 3.0),
      extra = Map("tcnn" -> RunSnapshot.blob(Array.tabulate(4000)(i => math.sin(i)))),
      rng = None, results = Vector.empty))

  def main(args: Array[String]): Unit = {
    val out = Paths.get(args(0))
    Files.createDirectories(out)
    snapshots.foreach { case (name, s) => s.save(out.resolve(s"$name.state.json")) }
  }
}
