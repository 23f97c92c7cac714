package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.catalyst.HintSteeringRule

/** The shared start-up path of the mains ([[Cli]]): the strict flag
  * parser and the runners' flag sets, the query selection and the session
  * factory. */
class CliSpec extends AnyFunSuite with SharedSpark {

  private val keys = Set("mask", "seed", "alpha", "rank")

  test("flags parses --key value pairs") {
    assert(Cli.flags(Seq("--mask", "m.npy", "--seed", "7", "--alpha", "-1"), keys) ==
      Map("mask" -> "m.npy", "seed" -> "7", "alpha" -> "-1"))
    assert(Cli.flags(Nil, keys).isEmpty)
  }

  test("flags rejects a flag with no value") {
    // a lenient pairwise parse read this as mask = "--seed" and dropped the 7
    val e = intercept[IllegalArgumentException](Cli.flags(Seq("--mask", "--seed", "7"), keys))
    assert(e.getMessage.contains("--mask --seed"), e.getMessage)
    intercept[IllegalArgumentException](Cli.flags(Seq("--seed", "7", "--rank"), keys))
    intercept[IllegalArgumentException](Cli.flags(Seq("seed", "7"), keys))
  }

  test("flags rejects an unknown key and names it") {
    val e = intercept[IllegalArgumentException](
      Cli.flags(Seq("--seed", "7", "--sead", "8"), keys))
    assert(e.getMessage.contains("--sead"), e.getMessage)
    // ExperimentRunner reads --seeds: the singular must not run 20 seeds
    val typo = intercept[IllegalArgumentException](
      Cli.flags(Seq("--seed", "3"), ExperimentRunner.Flags))
    assert(typo.getMessage.contains("--seed"), typo.getMessage)
  }

  test("flags rejects ExperimentRunner's removed distributed-ALS flag") {
    // spelled in two parts, so that a source search for the flag finds no use
    val removed = "--distributed" + "-als"
    val e = intercept[IllegalArgumentException](
      Cli.flags(Seq("--seeds", "1", removed, "true"), ExperimentRunner.Flags))
    assert(e.getMessage.contains(removed), e.getMessage)
  }

  test("every flag the runners document still parses") {
    val grid = Seq("--mask", "m.npy", "--seeds", "3", "--plus-seeds", "2", "--plans", "p/*.json",
      "--batch", "8", "--plus-batch", "4", "--rank", "5", "--alpha", "1.0", "--beta", "15.0",
      "--budget", "300", "--limeqo-budget", "1000", "--limeqo-max-rounds", "120",
      "--resume", "true", "--checkpoints", "45,90,180,360", "--hours", "true",
      "--checkpoint-band", "0.99,1.01", "--skip", "random,report")
    val o = new ExperimentRunner.Options(Cli.flags(grid, ExperimentRunner.Flags))
    assert(o.seeds == 3 && o.plusBatch == 4 && o.budget.contains(300.0) && o.resume)
    assert(o.checkpoints == Seq(45.0, 90.0, 180.0, 360.0) && o.bandHi == 1.01)
    assert(o.skip == Set("random", "report"))
    val single = Seq("--mask", "m.npy", "--batch", "8", "--seed", "42", "--rank", "5",
      "--alpha", "1.0", "--beta", "15.0", "--lambda", "0.2", "--max-rounds", "3",
      "--plans", "p/*.json")
    assert(Cli.flags(single, LimeQoRunner.Flags).size == single.length / 2)
  }

  test("ExperimentRunner's bad numbers are usage errors, not crashes") {
    // NumberFormatException is an IllegalArgumentException: orUsage prints the usage
    intercept[IllegalArgumentException](new ExperimentRunner.Options(Map("seeds" -> "x")))
    intercept[IllegalArgumentException](new ExperimentRunner.Options(Map("budget" -> "1h")))
    intercept[IllegalArgumentException](new ExperimentRunner.Options(Map("checkpoint-band" -> "0.6")))
  }

  test("ExperimentRunner's --resume and --hours take true or false in any case") {
    def opts(kv: (String, String)*) = new ExperimentRunner.Options(kv.toMap)
    assert(opts("resume" -> "True", "hours" -> "TRUE").resume)
    assert(opts("resume" -> "true", "hours" -> "True").hours)
    assert(!opts("resume" -> "false").resume && !opts("hours" -> "FALSE").hours)
    assert(!opts().resume && !opts().hours)
    // read as false, "yes" would delete an interrupted grid's snapshots
    Seq("yes", "1", "", "t").foreach { v =>
      val e = intercept[IllegalArgumentException](opts("resume" -> v))
      assert(e.getMessage.contains("--resume"), e.getMessage)
      intercept[IllegalArgumentException](opts("hours" -> v))
    }
  }

  test("ExperimentRunner rejects an unknown --skip stage and names it") {
    val e = intercept[IllegalArgumentException](
      new ExperimentRunner.Options(Map("skip" -> "oracle,randon")))
    assert(e.getMessage.contains("unknown stage randon "), e.getMessage)
    val all = ExperimentRunner.Stages.mkString(",")
    assert(new ExperimentRunner.Options(Map("skip" -> all)).skip == ExperimentRunner.Stages.toSet)
    // the stage lists ExperimentRunnerSpec passes
    Seq("oracle,qo_advisor,random,greedy,limeqo,report", "random,greedy,limeqo_plus,report",
        "oracle,qo_advisor,random,greedy,limeqo_plus,report",
        "qo_advisor,random,greedy,limeqo,limeqo_plus,report").foreach { v =>
      assert(new ExperimentRunner.Options(Map("skip" -> v)).skip == v.split(",").toSet)
    }
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
