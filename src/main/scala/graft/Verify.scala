package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. [[Cli.queries]]
  * restricts the set (debug aid). */
object Verify {
  /** `s` as a JSON string literal. Escapes backslash, quote and ALL
    * control chars (<0x20) — a tab or CR in builder-authored SQL would
    * otherwise make the driver's json.load fail and silently zero the
    * round's correctness. */
  def quote(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // in SparkEntry's order, whatever the order of a restricting list
    val all = SparkEntry.queries.keys.toSeq
    val selected = all.filter(Cli.queries(all).toSet)
    val spark = Cli.session()
    new java.io.File(outDir).mkdirs()
    val failures = scala.collection.mutable.LinkedHashMap[String, String]()
    selected.foreach { name =>
      try SparkEntry.queries(name)(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        System.err.println(s"[verify] $name failed: $msg")
        failures(name) = msg
        // A failed query must leave an explicit red entry downstream, not a
        // silent gap: round 7 shipped with 11 analysis-broken queries that
        // were simply ABSENT from the correctness artifact because no output
        // dir existed. Write a one-row error frame so any compare that
        // iterates over output dirs records a mismatch instead of nothing.
        try {
          import spark.implicits._
          Seq(msg.take(500)).toDF("query_error")
            .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        } catch { case _: Throwable => () }
      }
    }
    // Manifest of the queries THIS run executed: the compare's rows-only
    // fallback iterates it instead of os.listdir, so stale output dirs
    // from earlier runs (or since-removed queries) can't inflate the pass
    // total.
    Files.writeString(Paths.get(s"$outDir/manifest.json"),
      selected.sorted.map(quote).mkString("[", ",", "]"))
    // Machine-readable failure manifest for the local gate
    // (tools/check_correctness.py reports these with the real message).
    val errJson = failures
      .map { case (k, v) => s"${quote(k)}: ${quote(v.take(500))}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    val json = SparkEntry.oracleSql.filter(kv => selected.contains(kv._1))
      .map { case (k, v) => s"${quote(k)}: ${quote(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
