package graft.operators

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SharedSpark
import scala.jdk.CollectionConverters._

/** The embedding-index maintenance contract at the FILE level: deletes
  * and upserts rewrite only the cells the vectors live in (or move to) —
  * untouched cell directories keep byte-identical listings — and the
  * cell-moving upsert (the structural difference from the doc shards:
  * cells are functions of the VECTOR, not the id) erases the victim
  * from its old directory while writing its replacement to the new one.
  */
class EmbeddingMaintenanceSpec extends AnyFunSuite with SharedSpark {
  import spark.implicits._

  // two well-separated blobs -> two stable cells under nList=2 training
  private def blobVec(base: Array[Float], jitter: Float): Array[Float] =
    base.zipWithIndex.map { case (v, i) => v + (if (i == 1) jitter else 0f) }
  private val b1 = Array(10f, 0f, 0f, 0f)
  private val b2 = Array(0f, 0f, 10f, 0f)
  private def corpusDF = ((1L to 6L).map(i => (i, blobVec(b1, 0.01f * i), 0)) ++
    (11L to 16L).map(i => (i, blobVec(b2, 0.01f * i), 1)))
    .toDF("vec_id", "embedding", "label")

  private def listing(path: String): Map[String, Set[(String, Long, Long)]] =
    Files.list(Paths.get(path)).iterator().asScala
      .filter(p => p.getFileName.toString.startsWith("cell="))
      .map { dir =>
        dir.getFileName.toString -> Files.list(dir).iterator().asScala
          .filter(_.getFileName.toString.endsWith(".parquet"))
          .map(f => (f.getFileName.toString, Files.size(f),
            Files.getLastModifiedTime(f).toMillis)).toSet
      }.toMap

  private def fresh(tag: String): (String, Array[Array[Float]]) = {
    val path = Files.createTempDirectory(s"graft-emaint-$tag").toString + "/index"
    val cents = ProductQuantization.trainCoarse(corpusDF, nList = 2)
    EmbeddingMaintenance.writeCellLayout(corpusDF, cents, path)
    (path, cents)
  }

  private def ids(path: String): Set[Long] =
    spark.read.parquet(path).select("vec_id").collect().map(_.getLong(0)).toSet

  test("deleteVecs rewrites only the victims' cell; the other cell stays bit-identical") {
    val (path, _) = fresh("del")
    val before = listing(path)
    assert(before.size == 2, before.keySet.toString)
    val blob1Cell = spark.read.parquet(path).filter(col("vec_id") === 1L)
      .select("cell").head().getInt(0)
    EmbeddingMaintenance.deleteVecs(spark, path, Seq(1L, 2L))
    val after = listing(path)
    assert(ids(path) == (Set(3L, 4L, 5L, 6L) ++ (11L to 16L)))
    assert(after(s"cell=${1 - blob1Cell}") == before(s"cell=${1 - blob1Cell}"),
      "untouched cell was rewritten")
    assert(after(s"cell=$blob1Cell") != before(s"cell=$blob1Cell"))
  }

  test("deleting a cell's every vector removes its directory (no resurrection)") {
    val (path, _) = fresh("empty")
    val blob2Cell = spark.read.parquet(path).filter(col("vec_id") === 11L)
      .select("cell").head().getInt(0)
    EmbeddingMaintenance.deleteVecs(spark, path, (11L to 16L).toSeq)
    assert(ids(path) == (1L to 6L).toSet)
    assert(!Files.exists(Paths.get(path, s"cell=$blob2Cell")),
      "emptied cell directory must be reclaimed")
  }

  test("a re-embedding upsert MOVES a vector between cells; both directories rewritten, content exact") {
    val (path, cents) = fresh("move")
    val before = spark.read.parquet(path).select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    // vec 3 re-embeds from blob1 to blob2's neighborhood
    val moved = Seq((3L, blobVec(b2, 0.5f), 0)).toDF("vec_id", "embedding", "label")
    EmbeddingMaintenance.upsertVecs(spark, path, cents, moved)
    val after = spark.read.parquet(path).select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(after.keySet == before.keySet, "upsert must not change membership")
    assert(after(3L) == before(11L), "vec 3 must now live in blob2's cell")
    assert(after(3L) != before(3L), "vec 3 must have left its old cell")
    assert((after - 3L) == (before - 3L), "no other vector moved")
    // the stored embedding really is the new one
    val stored = spark.read.parquet(path).filter(col("vec_id") === 3L)
      .select("embedding").head().getSeq[Float](0).toArray
    assert(stored.sameElements(blobVec(b2, 0.5f)))
  }

  test("upsert of a brand-new id inserts it") {
    val (path, cents) = fresh("ins")
    val novel = Seq((99L, blobVec(b1, 0.33f), 0)).toDF("vec_id", "embedding", "label")
    EmbeddingMaintenance.upsertVecs(spark, path, cents, novel)
    assert(ids(path).contains(99L))
  }

  test("the quantizer sidecar round-trips the centroids; an older sidecar's baseline is ignored") {
    val path = Files.createTempDirectory("graft-emaint-sidecar").toString + "/index"
    val cents = ProductQuantization.trainCoarse(corpusDF, nList = 2)
    EmbeddingMaintenance.writeCellLayoutPersistent(corpusDF, cents, path)
    val sidecar = Paths.get(path + ".quantizer.json")
    assert(!new String(Files.readAllBytes(sidecar), "UTF-8").contains("baseline"))
    val loaded = EmbeddingMaintenance.loadQuantizer(spark, path).get
    assert(loaded.map(_.toSeq).toSeq == cents.map(_.toSeq).toSeq)
    // the bytes an older writer left: the same centroids plus its stats
    // (the local filesystem would reject the rewrite against its old .crc)
    Files.delete(sidecar.resolveSibling(s".${sidecar.getFileName}.crc"))
    Files.write(sidecar, (cents.map(_.mkString("[", ",", "]")).mkString("{\"cents\":[", ",", "]") +
      ""","baseline":{"n":12,"nonEmptyCells":2,"meanCell":6.0,"maxCell":6,"meanSqErr":0.5}}""")
      .getBytes("UTF-8"))
    assert(EmbeddingMaintenance.loadQuantizer(spark, path).get.map(_.toSeq).toSeq ==
      cents.map(_.toSeq).toSeq)
  }
}
