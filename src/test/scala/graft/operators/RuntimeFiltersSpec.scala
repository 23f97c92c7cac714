package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.{Cli, SharedSpark}
import graft.catalyst.SteeringLoop

/** Runtime bloom-filter injection under the steering axis's `bloom` cell
  * ([[SteeringLoop.scalePlumbingAxis]]): the optimized plan must carry a
  * `might_contain(bloom_filter_agg(...))` pre-filter on the probe side,
  * and results must be identical with the rewrite on and off. Each arm
  * sets its confs inside [[Cli.withConfs]], so the shared session leaves
  * the spec as it came in.
  */
class RuntimeFiltersSpec extends AnyFunSuite with SharedSpark {
  private val sf = "/root/testdata/sf0.001"
  private val bloomEnabled = "spark.sql.optimizer.runtime.bloomFilter.enabled"

  private def join() = {
    val l = graft.Tables.lineitem(spark, sf)
    val o = graft.Tables.orders(spark, sf).filter(col("o_totalprice") > 400000)
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
      .orderBy("o_orderpriority")
  }

  test("selective big-join side injects a bloom pre-filter on the probe side") {
    val bloom = SteeringLoop.scalePlumbingAxis.collectFirst { case ("bloom", c) => c }
      .getOrElse(fail("the scale-plumbing axis has no bloom cell")).toSeq
    assert(bloom.contains(bloomEnabled -> "true"))
    // force a shuffle join (broadcast joins don't need runtime filters)
    val shuffleJoin = "spark.sql.autoBroadcastJoinThreshold" -> "-1"
    val before = spark.conf.getAll
    val on = Cli.withConfs(spark, shuffleJoin +: bloom) {
      val withFilter = join()
      val plan = withFilter.queryExecution.optimizedPlan.toString
      assert(plan.contains("might_contain") && plan.contains("bloom_filter_agg"),
        s"no bloom runtime filter injected:\n$plan")
      withFilter.collect()
    }
    val off = Cli.withConfs(spark, Seq(shuffleJoin, bloomEnabled -> "false")) {
      val noFilter = join()
      assert(!noFilter.queryExecution.optimizedPlan.toString.contains("might_contain"))
      noFilter.collect()
    }
    assert(on.toSeq == off.toSeq, "bloom filter changed results")
    assert(spark.conf.getAll == before, "the spec must leave the session's confs as it found them")
  }
}
