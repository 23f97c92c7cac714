package graft

import java.io.{ByteArrayOutputStream, PrintStream}
import scala.collection.mutable
import org.scalatest.funsuite.AnyFunSuite

/** [[Bench.timeQuery]]: a failing query is timed as -1.0, and the failure
  * is logged and kept for the durable artifact, not dropped. */
class BenchSpec extends AnyFunSuite with SharedSpark {

  test("a throwing query yields -1.0 and a log line naming it") {
    val failed = mutable.LinkedHashMap.empty[String, String]
    val err = new ByteArrayOutputStream()
    val old = System.err
    System.setErr(new PrintStream(err, true))
    val t = try Bench.timeQuery(spark, "q00_broken",
      _ => throw new IllegalStateException("injected"), failed)
    finally System.setErr(old)
    assert(t == -1.0)
    assert(err.toString.contains(
      "[bench] q00_broken failed: java.lang.IllegalStateException: injected"), err.toString)
    assert(failed == Map("q00_broken" -> "java.lang.IllegalStateException: injected"))
  }

  test("a query that runs is timed and not recorded as failed") {
    val failed = mutable.LinkedHashMap.empty[String, String]
    assert(Bench.timeQuery(spark, "q00_ok", _.range(10).toDF("id"), failed) >= 0.0)
    assert(failed.isEmpty)
  }
}
