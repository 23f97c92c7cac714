package graft.catalyst

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import graft.SharedSpark

/** Failure injection for the steering-conf scope
  * ([[HintSteeringRule.withSteering]]) and the four call sites that run
  * under it: a query that throws inside the scope must leave the session
  * conf as it found it — a key that was set keeps its value, a key that
  * was absent is unset again.
  */
class SteeringScopeSpec extends AnyFunSuite with SharedSpark {

  private val Present = "spark.graft.test.present"
  private val Absent = "spark.graft.test.absent"
  private val config = SteeringLoop.SteeringConfig("merge+test", "merge",
    Map(Present -> "during", Absent -> "during"))

  private def boom(s: SparkSession): DataFrame = {
    // the scope is in effect when the query runs
    assert(s.conf.get(HintSteeringRule.ConfKey) == "merge")
    assert(s.conf.get(Present) == "during" && s.conf.get(Absent) == "during")
    throw new IllegalStateException("injected query failure")
  }

  /** Run `f` (which must throw) from a known conf, then check the conf. */
  private def restores(f: => Any): Unit = {
    spark.conf.set(Present, "before")
    spark.conf.unset(Absent)
    spark.conf.unset(HintSteeringRule.ConfKey)
    try {
      val e = intercept[Exception](f)
      assert(e.getMessage.contains("injected"), e.toString)
      assert(spark.conf.get(Present) == "before", "a set key must get its value back")
      assert(spark.conf.getOption(Absent).isEmpty, "an absent key must be unset")
      assert(spark.conf.getOption(HintSteeringRule.ConfKey).isEmpty)
    } finally spark.conf.unset(Present)
  }

  test("withSteering restores the conf when its body throws") {
    restores(HintSteeringRule.withSteering(spark, config.strategy, config.confs)(boom(spark)))
  }

  test("withSteering restores the keys it set when a later set fails") {
    spark.conf.unset(HintSteeringRule.ConfKey)
    val partitions = spark.conf.get("spark.sql.shuffle.partitions")
    // a malformed value for a typed conf is rejected by the set itself
    intercept[IllegalArgumentException] {
      HintSteeringRule.withSteering(spark, "merge",
        Map("spark.sql.shuffle.partitions" -> "not-a-number"))(())
    }
    assert(spark.conf.getOption(HintSteeringRule.ConfKey).isEmpty)
    assert(spark.conf.get("spark.sql.shuffle.partitions") == partitions)
  }

  test("measure restores the conf when the query throws") {
    restores(SteeringLoop.measure(spark, boom, config))
  }

  test("measureBounded restores the conf when the query throws") {
    restores(SteeringLoop.measureBounded(spark, boom, config, timeoutSeconds = 30.0))
  }

  test("planFor restores the conf when planning throws") {
    restores(LearnedSteering.planFor(spark, boom, config))
  }

  test("Steered.run restores the conf when the action throws") {
    Steered.clear()
    try {
      val df = spark.range(3).toDF("id")
      Steered.learn(df, config.strategy, config.confs)
      restores(Steered.run(df)(d => boom(d.sparkSession)))
    } finally Steered.clear()
  }
}
