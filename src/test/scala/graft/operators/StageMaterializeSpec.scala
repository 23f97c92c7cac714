package graft.operators

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.SharedSpark

/** The cluster-safe stage-materialization toggle (round-10 verdict task 7):
  * with `spark.graft.stage.dir` set, q118's narrow stages are written to
  * storage and re-read (fault-tolerant form) instead of localCheckpoint'ed;
  * the composed pipeline's values must be identical in both modes, and the
  * stage tables must actually land under the directory.
  */
class StageMaterializeSpec extends AnyFunSuite with SharedSpark {

  test("q118 values are identical under localCheckpoint and storage materialization") {
    val sf = "/root/testdata/sf0.001"
    assert(spark.conf.getOption("spark.graft.stage.dir").isEmpty)
    val local = QualityModels.q118CurationPipeline(spark, sf).collect().toSeq

    val dir = Files.createTempDirectory("graft_stage").toString
    spark.conf.set("spark.graft.stage.dir", dir)
    try {
      val stored = QualityModels.q118CurationPipeline(spark, sf).collect().toSeq
      assert(stored == local, "storage-materialized pipeline diverged from localCheckpoint mode")
      // stages are namespaced per run (appId subdir) so two jobs sharing
      // one stage dir never clobber each other's q118_* tables mid-read
      val appId = spark.sparkContext.applicationId
      for (stage <- Seq("q118_ruled", "q118_nb", "q118_fc"))
        assert(Files.isDirectory(java.nio.file.Paths.get(dir, appId, stage)),
          s"stage $stage not written under the run's namespace $dir/$appId")
    } finally spark.conf.unset("spark.graft.stage.dir")
  }

  test("whenLarge stays lazy below the gate and materializes at or above it") {
    import org.apache.spark.sql.functions._
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val stage = docs.groupBy("source").agg(count(lit(1)).as("n"))
    // sf0.001 leaves are a few KB — far under the 256 MB default gate:
    // the SAME logical plan comes back (no checkpoint barrier)
    val lazyOut = StageMaterialize.whenLarge(stage, "gate_test")
    assert(lazyOut.queryExecution.logical eq stage.queryExecution.logical,
      "below the gate the frame must be returned lazy")
    // with the gate forced to 0 the site materializes exactly like apply():
    // lineage is truncated (leaf is no longer the parquet relation) and
    // values are unchanged
    spark.conf.set("spark.graft.stage.gateBytes", "0")
    try {
      val mat = StageMaterialize.whenLarge(stage, "gate_test")
      assert(!(mat.queryExecution.logical eq stage.queryExecution.logical))
      assert(mat.queryExecution.optimizedPlan.collectLeaves()
        .forall(l => !l.toString.contains("parquet")),
        "above the gate the stage must be checkpointed (lineage truncated)")
      assert(mat.collect().toSet == stage.collect().toSet)
    } finally spark.conf.unset("spark.graft.stage.gateBytes")
  }

  test("whenLarge rejects a malformed gate with the key and the value") {
    val stage = graft.Tables.documents(spark, "/root/testdata/sf0.001").select("doc_id")
    spark.conf.set("spark.graft.stage.gateBytes", "256MB")
    try {
      val e = intercept[IllegalArgumentException](StageMaterialize.whenLarge(stage, "gate_test"))
      assert(!e.isInstanceOf[NumberFormatException], e)
      assert(e.getMessage.contains("spark.graft.stage.gateBytes") && e.getMessage.contains("256MB"),
        e.getMessage)
    } finally spark.conf.unset("spark.graft.stage.gateBytes")
  }
}
