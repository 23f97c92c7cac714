package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SharedSpark

/** Pins the IVF coarse quantizer, the engine's own deterministic
  * sampled-Lloyd's ([[ProductQuantization.trainCoarse]]): determinism and
  * a spread of valid cells; and the q126 recall audit built on it. */
class IvfRecallSpec extends AnyFunSuite with SharedSpark {
  private val sf = "/root/testdata/sf0.001"

  private lazy val emb = graft.Tables.embeddings(spark, sf).cache()

  override def afterAll(): Unit = {
    spark.catalog.clearCache()
    super.afterAll()
  }

  test("coarse quantizer: deterministic, every vector assigned a valid cell") {
    val c1 = ProductQuantization.trainCoarse(emb, nList = 8)
    val c2 = ProductQuantization.trainCoarse(emb, nList = 8)
    assert(c1.length == 8)
    for (i <- c1.indices) assert(c1(i).sameElements(c2(i)))
    val cells = ProductQuantization.assignCells(emb, c1)
    assert(cells.count() == emb.count())
    val range = cells.agg(min("cell"), max("cell")).head
    assert(range.getInt(0) >= 0 && range.getInt(1) < 8)
    // the trainer must actually spread the corpus (a collapsed quantizer
    // would put everything in one cell and pruning would be a no-op)
    assert(cells.select("cell").distinct().count() >= 4)
  }

  test("q126 recall audit: exhaustive probing reports recall exactly 1.0; partial probing stays in [0,1]") {
    // nProbe = nList ⇒ the IVF candidate set is the whole corpus ⇒ the
    // probed top-k IS the exact top-k ⇒ every panel query must audit at
    // hits = k. This pins the audit's own correctness (an audit that
    // can't reach 1.0 under exhaustive probing is measuring itself, not
    // the index).
    val full = SimilarityOps.q126IvfRecallAudit(k = 5, nList = 8, nProbe = 8)(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(full.nonEmpty)
    assert(full.forall { case (_, h, rec) => h == 5L && rec == 1.0 },
      full.mkString(", "))
    // starved probing: well-formed, bounded, deterministic
    def starved = SimilarityOps.q126IvfRecallAudit(k = 5, nList = 8, nProbe = 1)(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val s1 = starved
    assert(s1.forall { case (_, h, rec) => h >= 0L && h <= 5L && rec >= 0.0 && rec <= 1.0 })
    assert(s1.map(_._1) == full.map(_._1).toSeq.sorted)
    assert(s1 == starved)
    // starved recall cannot exceed exhaustive recall per query
    val fullBy = full.map(t => t._1 -> t._2).toMap
    assert(s1.forall { case (q, h, _) => h <= fullBy(q) })
  }
}
