package graft

import java.nio.file.{Files, Paths}
import graft.report.Report
import graft.sources.Workloads

/** CLI for the trajectory report pipeline — the Spark equivalent of the
  * reference's `draw/draw_<ds>_fig1.ipynb` checkpoint-CSV step (SURVEY §3.3).
  *
  * Usage:
  *   graft.ReportRunner <matrix.csv> <out.csv> <checkpoints> <label:glob>...
  * e.g.
  *   graft.ReportRunner dataset/job-matrix.csv result.csv 45,90,180,360,720
  *     "Random:experiment/job/random/STAR.json" (STAR = glob asterisk;
  *     spelled out here because Scala block comments nest)
  */
object ReportRunner {
  def main(args: Array[String]): Unit = {
    if (args.length < 4) {
      System.err.println(
        "usage: ReportRunner <matrix.csv> <out.csv> <cp1,cp2,...> <label:traceGlob>...")
      sys.exit(2)
    }
    val Array(matrixPath, outPath, cpStr) = args.take(3)
    val strategies = args.drop(3).toSeq.map { s =>
      val Array(label, glob) = s.split(":", 2)
      (label, glob)
    }
    val checkpoints = cpStr.split(",").toSeq.map(_.toDouble)
    val labels = checkpoints.map(c =>
      if (c == c.floor) s"${c.toLong}s" else s"${c}s")

    val spark = Cli.session()

    val w = Workloads.matrixFromCsv(matrixPath)
    val csv = Report.checkpointCsv(spark, strategies, w.defaultTime, checkpoints, labels)
    Files.writeString(Paths.get(outPath), csv)
    println(csv)
    spark.stop()
  }
}
