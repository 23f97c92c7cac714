package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SharedSpark

/** Proves the co-located join contract: identically bucketed tables join
  * with zero Exchange (the scan provides the required distribution), and
  * results match the plain shuffled join exactly.
  */
class BucketingSpec extends AnyFunSuite with SharedSpark {
  private val sf = "/root/testdata/sf0.001"

  test("bucketed fact-fact join plans without any Exchange") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      Bucketing.writeBucketed(graft.Tables.lineitem(spark, sf), "li_b", "l_orderkey", 4)
      Bucketing.writeBucketed(
        graft.Tables.orders(spark, sf), "ord_b", "o_orderkey", 4)

      val joined = Bucketing.cooperativeJoin(spark, "li_b", "ord_b", "l_orderkey", "o_orderkey")
        .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
      val plan = joined.queryExecution.executedPlan.toString

      assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
      // the join itself must not shuffle; the only exchange allowed is the
      // one introduced by the final groupBy on a non-bucket key
      val joinPart = plan.substring(plan.indexOf("SortMergeJoin"))
      assert(!joinPart.contains("Exchange"), s"bucketed join still shuffles:\n$plan")

      // and values equal the plain join
      val plain = {
        val l = graft.Tables.lineitem(spark, sf); val o = graft.Tables.orders(spark, sf)
        l.join(o, l("l_orderkey") === o("o_orderkey"))
          .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
      }
      assert(joined.exceptAll(plain).count() == 0 && plain.exceptAll(joined).count() == 0)
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS li_b")
      spark.sql("DROP TABLE IF EXISTS ord_b")
    }
  }

  test("partitioned sink enables partition pruning on read") {
    val path = "/tmp/graft_part_events"
    Bucketing.writePartitioned(graft.Tables.events(spark, sf), path, "event_type")
    val pruned = spark.read.parquet(path).filter(col("event_type") === "click")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("event_type"),
      s"no partition pruning:\n$plan")
    val expected = graft.Tables.events(spark, sf)
      .filter(col("event_type") === "click").count()
    assert(pruned.count() == expected)
  }

}
