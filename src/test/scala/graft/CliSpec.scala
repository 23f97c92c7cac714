package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.catalyst.HintSteeringRule

/** The shared start-up path of the mains ([[Cli]]): the strict flag
  * parser, the query selection and the session factory. */
class CliSpec extends AnyFunSuite with SharedSpark {

  test("flags parses --key value pairs") {
    assert(Cli.flags(Seq("--mask", "m.npy", "--seed", "7", "--alpha", "-1")) ==
      Map("mask" -> "m.npy", "seed" -> "7", "alpha" -> "-1"))
    assert(Cli.flags(Nil).isEmpty)
  }

  test("flags rejects a flag with no value") {
    // a lenient pairwise parse read this as mask = "--seed" and dropped the 7
    val e = intercept[IllegalArgumentException](Cli.flags(Seq("--mask", "--seed", "7")))
    assert(e.getMessage.contains("--mask --seed"), e.getMessage)
    intercept[IllegalArgumentException](Cli.flags(Seq("--seed", "7", "--rank")))
    intercept[IllegalArgumentException](Cli.flags(Seq("seed", "7")))
  }

  private val known = Set("q01_a", "q02_b", "q03_c")

  test("queries falls back to the default without a list") {
    assert(Cli.queries(Seq("q02_b"), known, None) == Seq("q02_b"))
  }

  test("queries returns a known list in its order, trimmed and deduplicated") {
    assert(Cli.queries(Nil, known, Some("q03_c,q01_a")) == Seq("q03_c", "q01_a"))
    assert(Cli.queries(Nil, known, Some(" q01_a , q02_b,\tq01_a ,")) == Seq("q01_a", "q02_b"))
  }

  test("queries rejects a list with an unknown name and names it") {
    val e = intercept[IllegalArgumentException](
      Cli.queries(Seq("q01_a"), known, Some("q01_a,q02_typo")))
    assert(e.getMessage.contains("q02_typo"), e.getMessage)
    assert(!e.getMessage.contains("q01_a"), e.getMessage)
  }

  test("queries checks against SparkEntry by default") {
    val e = intercept[IllegalArgumentException](Cli.queries(Nil, list = Some("q01_pricing_sumary")))
    assert(e.getMessage.contains("q01_pricing_sumary"))
    assert(Cli.queries(Nil, list = Some("q01_pricing_summary")) == Seq("q01_pricing_summary"))
  }

  test("session returns an active session untouched") {
    val partitions = spark.conf.get("spark.sql.shuffle.partitions")
    SparkSession.setActiveSession(spark)
    assert(Cli.session() eq spark)
    assert(spark.conf.get("spark.sql.shuffle.partitions") == partitions)
  }

  test("session without an active session builds the local one") {
    // The suite's JVM already runs a SparkContext, which the builder
    // reuses (so the master is the suite's), but the new session carries
    // the session confs and the extensions of the factory.
    val shared = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s = Cli.session()
      assert(!(s eq shared))
      assert(s.conf.get("spark.sql.shuffle.partitions") == Cli.cpus.toString)
      assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
      assert(s.sparkContext.getConf.get("spark.ui.enabled") == "false")
      assert(s.sparkContext.master.startsWith("local["))
      assert(s.sessionState.optimizer.extendedOperatorOptimizationRules.contains(HintSteeringRule))
    } finally {
      SparkSession.setDefaultSession(shared)
      SparkSession.setActiveSession(shared)
      shared.sparkContext.setLogLevel("ERROR")
    }
  }
}
