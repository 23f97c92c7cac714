package graft.report

import java.nio.file.Files
import org.apache.spark.sql.types.{DoubleType, LongType}
import org.scalatest.funsuite.AnyFunSuite
import graft.core.RoundMetrics
import graft.strategy.Trace

/** [[Report.loadTraces]] types a trace by [[RoundMetrics.schema]], not by
  * its values: a trace whose every number is integral still reads its
  * timings as doubles and its query count as a long. */
class TraceSchemaSpec extends AnyFunSuite with graft.SharedSpark {

  test("a trace with only integral values loads as double, its count as long") {
    val path = Files.createTempDirectory("trace_schema").resolve("0.json")
    Trace.write(path, Seq(
      RoundMetrics(0, 0, 100, 90, 1, 2, 3, 4, 0),
      RoundMetrics(0, 0, 120, 80, 1, 2, 3, 4, 7)))
    val df = Report.loadTraces(spark, path.toString)
    val types = df.schema.fields.map(f => f.name -> f.dataType).toMap
    Seq("training_time", "inference_time", "exec_time", "total_latency",
      "p50", "p90", "p95", "p99").foreach(c => assert(types(c) == DoubleType, c))
    assert(types("explore_queries_cnt") == LongType)
    val rows = df.select("round", "exec_time", "explore_queries_cnt").collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getLong(2))).sortBy(_._1)
    assert(rows.toSeq == Seq((0, 100.0, 0L), (1, 120.0, 7L)))
  }
}
