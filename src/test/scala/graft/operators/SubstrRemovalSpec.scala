package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SharedSpark

/** Semantics of the exact-substring-span REMOVAL transform (q122):
  * canonical-keeper selection on a constructed corpus, conservation
  * (kept + removed = original, and the re-joined text really has n_kept
  * tokens) and idempotence (re-running the transform removes nothing).
  * Value-level parity at sf0.01 is the driver's DuckDB gate.
  *
  * Note the deliberate semantic difference from the q98 AUDIT: the audit
  * counts cross-doc duplication only (distinct-doc > 1); the removal
  * follows Lee et al. 2022 and drops ANY span occurring more than once —
  * including a doc repeating its own boilerplate — keeping the earliest
  * (doc_id, pos) occurrence.
  */
class SubstrRemovalSpec extends AnyFunSuite with SharedSpark {
  import spark.implicits._

  private def docs(rows: (Long, String, String)*) =
    rows.toDF("doc_id", "source", "text").select(
      col("doc_id"), col("text"), lit("en").as("lang"), col("source"),
      length(col("text")).as("n_chars"))

  private val span = (1 to 12).map(i => s"w$i").mkString(" ")

  private def cleanedMap(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => r.getLong(0) ->
      ((r.getString(2), r.getLong(3), r.getLong(4)))).toMap

  test("cross-doc span: earliest (doc_id, pos) occurrence survives, the copy is cut") {
    val d = docs(
      (1L, "a", s"alpha $span beta"),  // span at pos 2 — canonical (1,2)
      (2L, "a", s"$span gamma delta"), // span at pos 1 — removed
      (3L, "b", "short filler"))
    val out = cleanedMap(SubstrDedup.removeDuplicateSpans(d))
    assert(out(1L) == ((s"alpha $span beta", 14L, 14L)), "canonical doc untouched")
    assert(out(2L) == (("gamma delta", 14L, 2L)), "copy loses exactly the 12-token span")
    assert(out(3L) == (("short filler", 2L, 2L)), "sub-K docs pass through")
  }

  test("within-doc repetition: the second occurrence is removed, the first kept") {
    val rep = ((1 to 12) ++ (1 to 12)).map(i => s"t$i").mkString(" ")
    val out = cleanedMap(SubstrDedup.removeDuplicateSpans(docs((1L, "a", rep))))
    val (text, n, kept) = out(1L)
    assert(n == 24L && kept == 12L)
    assert(text == (1 to 12).map(i => s"t$i").mkString(" "))
  }

  test("overlapping removable spans merge into one cut (no double-removal)") {
    // doc 2 carries a 14-token copy of doc 1's span: three overlapping
    // removable 12-grams whose union is exactly the 14 tokens
    val long = (1 to 14).map(i => s"u$i").mkString(" ")
    val d = docs((1L, "a", s"head $long tail"), (2L, "b", s"$long x y"))
    val out = cleanedMap(SubstrDedup.removeDuplicateSpans(d))
    assert(out(1L)._3 == 16L, "canonical doc keeps all 16 tokens")
    assert(out(2L) == (("x y", 16L, 2L)), "union of overlapping grams removed once")
  }

  test("conservation + text/count agreement + idempotence on sf0.001") {
    val d = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val cleaned = SubstrDedup.removeDuplicateSpans(d)
    // conservation: kept never exceeds original, and the cleaned TEXT's
    // own whitespace token count equals the reported n_kept
    val bad = cleaned.filter(col("n_kept") > col("n_tokens") ||
      (col("n_kept") > 0 &&
        size(split(trim(col("text_clean")), "\\s+")) =!= col("n_kept"))).count()
    assert(bad == 0L)
    val removed = cleaned.agg(sum(col("n_tokens") - col("n_kept"))).head.getLong(0)
    assert(removed > 0L, "sf0.001 must contain real duplicated spans for this spec to bite")
    // idempotence: a second pass over the cleaned corpus removes nothing
    val again = SubstrDedup.removeDuplicateSpans(
      cleaned.select(col("doc_id"), col("source"), col("text_clean").as("text")))
    val removed2 = again.agg(sum(col("n_tokens") - col("n_kept"))).head.getLong(0)
    assert(removed2 == 0L, s"second pass removed $removed2 tokens")
  }
}
