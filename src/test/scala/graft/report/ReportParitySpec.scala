package graft.report

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

/** Pins the checkpoint tables of [[Report.checkpointCsv]] on the committed
  * exploration fixture ([[ReportParity]]) against what an earlier build of
  * the report wrote (`src/test/resources/report/`), in seconds with the
  * (0.6, 1.4) band and in hours with the (0.99, 1.01) band.
  *
  * A single-run series must match byte for byte: its grid statistics are an
  * average over one run. A multi-run series averages over runs, and a
  * different summation order moves the last bits, so its cells must match
  * within 1e-12 relative.
  */
class ReportParitySpec extends AnyFunSuite with graft.SharedSpark {

  private lazy val now: Map[String, String] = ReportParity.tables(spark).toMap

  Seq("seconds.csv", "hours.csv").foreach { f =>
    test(s"$f matches its pin") {
      val want = Files.readString(ReportParity.pinDir.resolve(f)).split("\n").map(_.split(","))
      val got = now(f).split("\n").map(_.split(","))
      assert(got.head.toSeq == want.head.toSeq, s"$f header")
      assert(got.length == want.length, s"$f row count")
      val header = want.head
      got.tail.zip(want.tail).foreach { case (g, x) =>
        assert(g.length == x.length && g.head == x.head, s"$f row ${x.head}")
        header.indices.foreach { ci =>
          val (a, b) = (g(ci + 1), x(ci + 1))
          if (ReportParity.singleRun(header(ci)))
            assert(a == b, s"$f ${header(ci)} @ ${x.head}: $a != $b")
          else
            assert(math.abs(a.toDouble - b.toDouble) <= 1e-12 * math.abs(b.toDouble),
              s"$f ${header(ci)} @ ${x.head}: $a vs $b")
        }
      }
    }
  }

  test("every grid point of every series matches a direct walk over its segments") {
    val (globs, _) = ReportParity.traces(Files.createTempDirectory("report_grid"))
    val trajs = globs.map { case (label, glob) =>
      label -> Report.trajectories(Report.loadTraces(spark, glob), graft.strategy.ExplorationFixture.w.defaultTime)
    }
    val nGrid = 5000
    val got = Report.gridPoints(trajs, nGrid)
    trajs.foreach { case (label, t) =>
      val runs = t.select("run", "round", "x", "y").collect().groupBy(_.getString(0)).values
        .map(_.sortBy(_.getInt(1)).map(r => (r.getDouble(2), r.getDouble(3)))).toSeq
      val start = runs.map(_.map(_._1).min).max
      val step = (runs.map(_.map(_._1).max).min - start) / (nGrid - 1)
      // per grid point: each run's mean over the segments [x0, x1] holding g
      val want = (0 until nGrid).flatMap { gi =>
        val g = start + gi.toDouble * step
        val perRun = runs.flatMap { pts =>
          val ys = pts.zip(pts.tail).collect { case ((x0, y0), (x1, y1)) if x1 > x0 && g >= x0 && g <= x1 =>
            y0 + (y1 - y0) * (g - x0) / (x1 - x0)
          }
          if (ys.isEmpty) None else Some(ys.sum / ys.size)
        }
        if (perRun.isEmpty) None else Some((g, perRun.sum / perRun.size))
      }
      val pts = got(label)
      assert(pts.length == want.length, s"$label: grid points")
      pts.zip(want).foreach { case ((g, y, _), (wg, wy)) =>
        assert(g == wg && math.abs(y - wy) <= 1e-12 * math.abs(wy), s"$label @ $g: $y vs $wy")
      }
    }
  }

  test("a zero-width grid (step = 0) puts every grid index on its one point") {
    val sp = spark
    import sp.implicits._
    // run a spans [0, 5] and run b [5, 10]: the common range is x = 5 alone
    val traj = Seq(("a", 0, 0.0, 10.0), ("a", 1, 5.0, 6.0),
                   ("b", 0, 5.0, 8.0), ("b", 1, 10.0, 2.0)).toDF("run", "round", "x", "y")
    val grid = Report.interpolated(traj, nGrid = 7).select("gi", "g", "y_mean").collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2)))
    assert(grid.toSeq == (0 until 7).map(gi => (gi, 5.0, 7.0)))
  }
}
