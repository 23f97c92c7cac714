package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SharedSpark

/** Filtered vector search (q114): predicate semantics, bounded k and
  * determinism.
  */
class FilteredAnnSpec extends AnyFunSuite with SharedSpark {
  private val sf = "/root/testdata/sf0.001"

  override def afterAll(): Unit = {
    spark.catalog.clearCache()
    super.afterAll()
  }

  test("q114: every hit shares its query's label; k bounded; deterministic") {
    val df = SimilarityOps.q114FilteredAnn(spark, sf).cache()
    val rows = df.collect()
    assert(rows.nonEmpty)
    val labels = graft.Tables.embeddings(spark, sf)
      .select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    rows.foreach { r =>
      assert(r.getAs[Int]("label") == labels(r.getAs[Long]("query_id")))
      assert(labels(r.getAs[Long]("target_id")) == r.getAs[Int]("label"),
        "a hit outside the predicate scope escaped the filter")
      assert(r.getAs[Int]("rk") <= 5)
    }
    val again = SimilarityOps.q114FilteredAnn(spark, sf)
    assert(df.exceptAll(again).count() == 0 && again.exceptAll(df).count() == 0)
  }
}
