package graft.tools

import graft.{Cli, SparkEntry}

/** Plan-audit main: prints `explain("formatted")` for the named queries
  * (or all) — the "is this the plan you'd want at 100 TB" review loop.
  *
  * Usage: graft.tools.Explain [sfDir] [q01_...,q02_...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    // the list argument, else Cli.queries' own selection, else all
    val names = Cli.orUsage("Explain [sfDir] [q01_...,q02_...]")(Cli.queries(
      Cli.queries(SparkEntry.queries.keys.toSeq.sorted), list = args.lift(1)))
    val spark = Cli.session()
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
