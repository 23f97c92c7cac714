package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SharedSpark

/** Semantics of the exact substring-span dedup (q98): hand-computed
  * coverage on a constructed corpus and the short-doc/within-doc
  * exclusion rules. Value-level parity at sf0.01 is the driver's DuckDB
  * gate.
  */
class SubstrDedupSpec extends AnyFunSuite with SharedSpark {
  import spark.implicits._

  private def docs(rows: (Long, String, String)*) =
    rows.toDF("doc_id", "source", "text").select(
      col("doc_id"), col("text"), lit("en").as("lang"), col("source"),
      length(col("text")).as("n_chars"))

  // 14 tokens: positions 1..3 for k=12
  private val span = (1 to 12).map(i => s"w$i").mkString(" ")

  test("a shared 12-token span is counted at every position it covers, in both docs") {
    val d = docs(
      (1L, "a", s"alpha $span beta"),     // 14 toks, grams at 1..3, gram@2 == span
      (2L, "a", s"$span gamma delta"),    // 14 toks, gram@1 == span
      (3L, "b", "totally unrelated words that do not reach twelve tokens"))
    val out = SubstrDedup.substrSpanCoverage(d, k = 12).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    // doc 3 has 10 tokens < 12 -> no span positions, source b absent
    assert(!out.contains("b"))
    // docs 1 and 2 share exactly the gram "w1..w12"; each has 3 positions
    // total; exactly one position per doc is the shared gram
    assert(out("a") == ((2L, 2L, 2L, 6L)))
  }

  test("within-doc repetition alone is not a dup span; cross-doc copies count all positions") {
    val rep = ((1 to 12) ++ (1 to 12)).map(i => s"t$i").mkString(" ") // 24 toks, gram@1 == gram@13
    val d1 = docs((1L, "a", rep))
    val out1 = SubstrDedup.substrSpanCoverage(d1, k = 12).collect()
    assert(out1.length == 1 && out1.head.getLong(2) == 0L,
      "a doc repeating its own span has no cross-doc dup")
    // add a second doc carrying the same span: BOTH within-doc positions flip
    val d2 = docs((1L, "a", rep), (2L, "b", (1 to 12).map(i => s"t$i").mkString(" ")))
    val bySrc = SubstrDedup.substrSpanCoverage(d2, k = 12).collect()
      .map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(bySrc("a") == 2L, "both positions of the twice-repeated span are dup positions")
    assert(bySrc("b") == 1L)
  }

  test("gate query produces per-source longs on sf0.001") {
    val out = SubstrDedup.q98SubstrSpans(spark, "/root/testdata/sf0.001")
    val rows = out.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(3) <= r.getLong(4), "dup positions bounded by total positions")
      assert(r.getLong(2) <= r.getLong(1), "docs with dup span bounded by doc count")
    }
  }
}
