package graft.operators

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SharedSpark
import scala.jdk.CollectionConverters._

/** [[StageMaterialize]] is the program's one lineage barrier: it
  * truncates a stage's lineage and keeps its values, and no other source
  * file truncates lineage.
  */
class StageMaterializeSpec extends AnyFunSuite with SharedSpark {

  private def docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")

  test("apply truncates the stage's lineage and keeps its values") {
    val stage = docs.groupBy("source").agg(count(lit(1)).as("n"))
    val mat = StageMaterialize(stage)
    val leaves = mat.queryExecution.optimizedPlan.collectLeaves()
    assert(leaves.nonEmpty && leaves.forall(_.isInstanceOf[LogicalRDD]),
      s"the stage must be read from its stored blocks, not its parquet leaves: $leaves")
    assert(mat.collect().toSet == stage.collect().toSet)
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
