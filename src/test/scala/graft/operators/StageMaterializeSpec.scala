package graft.operators

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SharedSpark
import scala.jdk.CollectionConverters._

/** [[StageMaterialize]] is the program's one lineage barrier: `apply`
  * always checkpoints, `whenLarge` checkpoints only at or above its leaf
  * bytes gate, and no other source file truncates lineage.
  */
class StageMaterializeSpec extends AnyFunSuite with SharedSpark {

  private def docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")

  test("whenLarge stays lazy below the gate and materializes at or above it") {
    val stage = docs.groupBy("source").agg(count(lit(1)).as("n"))
    // sf0.001 leaves are a few KB — far under the 256 MB gate: the SAME
    // logical plan comes back (no checkpoint barrier)
    val lazyOut = StageMaterialize.whenLarge(stage)
    assert(lazyOut.queryExecution.logical eq stage.queryExecution.logical,
      "below the gate the frame must be returned lazy")
    // with the gate forced to 0 the site materializes exactly like apply():
    // lineage is truncated (leaf is no longer the parquet relation) and
    // values are unchanged
    val mat = StageMaterialize.whenLarge(stage, gateBytes = 0L)
    assert(!(mat.queryExecution.logical eq stage.queryExecution.logical))
    assert(mat.queryExecution.optimizedPlan.collectLeaves()
      .forall(l => !l.toString.contains("parquet")),
      "above the gate the stage must be checkpointed (lineage truncated)")
    assert(mat.collect().toSet == stage.collect().toSet)
  }

  test("whenLarge judges a stage over a prior barrier's output by the size estimate it carries") {
    val pre = docs.select("doc_id", "source")
    val stage = StageMaterialize(pre).groupBy("source").agg(count(lit(1)).as("n"))
    val leaves = stage.queryExecution.optimizedPlan.collectLeaves()
    assert(leaves.nonEmpty && leaves.forall(_.isInstanceOf[LogicalRDD]), leaves)
    // the checkpoint's LogicalRDD reports the estimate its origin plan had
    // when it was checkpointed, not the bytes it stored and not a default
    val carried = pre.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(leaves.map(_.stats.sizeInBytes).sum == carried)
    assert(carried < StageMaterialize.GateBytes)
    assert(StageMaterialize.whenLarge(stage).queryExecution.logical eq stage.queryExecution.logical,
      "a stage over a small barrier output must stay lazy")
    val mat = StageMaterialize.whenLarge(stage, gateBytes = carried.toLong)
    assert(!(mat.queryExecution.logical eq stage.queryExecution.logical),
      "at its carried estimate the stage must be checkpointed")
    assert(mat.collect().toSet == stage.collect().toSet)
    // an RDD-backed frame with no carried estimate reports
    // spark.sql.defaultSizeInBytes, so it always reads as over the gate
    val bare = spark.createDataFrame(pre.rdd, pre.schema).groupBy("source").count()
    assert(bare.queryExecution.optimizedPlan.collectLeaves().map(_.stats.sizeInBytes).sum ==
      spark.sessionState.conf.defaultSizeInBytes)
    assert(!(StageMaterialize.whenLarge(bare).queryExecution.logical eq
      bare.queryExecution.logical))
  }

  test("no source file but StageMaterialize.scala checkpoints") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: no $root")
    val files = Files.walk(root)
    val offending = try files.iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        p.getFileName.toString != "StageMaterialize.scala")
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if line.contains(".localCheckpoint(") || line.contains(".checkpoint(") =>
            s"$p:${i + 1}: ${line.trim}"
        }
      }.toList
    finally files.close()
    assert(offending.isEmpty,
      "lineage barriers go through StageMaterialize:\n" + offending.mkString("\n"))
  }
}
