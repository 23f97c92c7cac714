package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the content of the scale specs' generated inputs: row count plus
  * an order-free sum of `xxhash64` over every column of each row. The
  * expected values were computed from the generators before they moved
  * into [[SkewedData]], so a changed expression, hash seed or vocabulary
  * shows here instead of silently reshaping ApproxCutsSpec's and
  * SessionizeScaleSpec's inputs.
  */
class SkewedDataSpec extends AnyFunSuite with SharedSpark {

  private def fingerprint(df: DataFrame): (Long, BigDecimal) = {
    val r = df.agg(count(lit(1)),
        sum(xxhash64(df.columns.map(col).toIndexedSeq: _*).cast("decimal(38,0)")))
      .head()
    (r.getLong(0), BigDecimal(r.getDecimal(1)))
  }

  test("genDocuments(8000) reproduces its content fingerprint") {
    assert(fingerprint(SkewedData.genDocuments(spark, 8000)) ==
      ((8000L, BigDecimal("-515302237831104532402"))))
  }

  test("genEvents(20000) reproduces its content fingerprint") {
    assert(fingerprint(SkewedData.genEvents(spark, 20000L)) ==
      ((20000L, BigDecimal("786853775352430435429"))))
  }
}
