package graft.operators

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SharedSpark
import scala.jdk.CollectionConverters._

/** The at-rest kNN graph contract (round-13 verdict task 1):
  *  - the persisted graph is BIT-IDENTICAL to the inline
  *    [[KnnGraph.knnEdgesWithCents]] build under the same frozen
  *    centroids (parity);
  *  - incremental maintenance — inserts through the reverse-probe index,
  *    re-embeds and deletes through the source-repair path — reproduces
  *    a FULL REBUILD bit-for-bit (the top-k merge identity);
  *  - the graph family (PageRank, clusters) consumes the stored edges
  *    unchanged;
  *  - maintenance rewrites only affected partitions (file-listing
  *    identity on untouched cells).
  */
class GraphMaintenanceSpec extends AnyFunSuite with SharedSpark {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private val K = 5
  private val NPROBE = 2

  private def emb: DataFrame =
    graft.Tables.embeddings(spark, sf).select("vec_id", "embedding", "label")

  private def edgeSet(df: DataFrame): Set[(Long, Long, Double, Int)] =
    df.select("src_id", "nbr_id", "sim", "rk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet

  private def tmp(tag: String): String =
    Files.createTempDirectory(s"graft-gmaint-$tag").toString

  /** Build index + graph layouts for `corpus` under `cents`. */
  private def buildAll(corpus: DataFrame, cents: Array[Array[Float]],
                       root: String): (String, String) = {
    val embPath = root + "/index"
    val graphPath = root + "/graph"
    EmbeddingMaintenance.writeCellLayout(corpus, cents, embPath)
    EmbeddingMaintenance.saveQuantizer(spark, embPath, cents)
    GraphMaintenance.writeKnnGraph(spark, embPath, graphPath, K, NPROBE)
    (embPath, graphPath)
  }

  test("at-rest graph == inline knnEdgesWithCents, bit-for-bit") {
    val cents = SemanticDedup.refinedCentroids(emb, 16)
    val (_, graphPath) = buildAll(emb, cents, tmp("parity"))
    val atRest = edgeSet(GraphMaintenance.edgesAtRest(spark, graphPath))
    val inline = edgeSet(KnnGraph.knnEdgesWithCents(emb, cents, K, NPROBE))
    assert(atRest == inline)
    assert(atRest.nonEmpty)
  }

  test("graph family consumes the stored edges: PageRank and clusters match the inline build") {
    val cents = SemanticDedup.refinedCentroids(emb, 16)
    val (_, graphPath) = buildAll(emb, cents, tmp("consume"))
    val stored = GraphMaintenance.edgesAtRest(spark, graphPath)
    val inline = KnnGraph.knnEdgesWithCents(emb, cents, K, NPROBE)
    def prSet(e: DataFrame) = KnnGraph.pageRank(emb, e).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(prSet(stored) == prSet(inline))
    def clSet(e: DataFrame) = GraphMaintenance
      .clustersFromEdges(emb.select("vec_id"), e, 0.40).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(clSet(stored) ==
      KnnGraph.semanticClustersWithCents(emb, cents, K, NPROBE, 0.40).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet)
  }

  test("incremental INSERT == full rebuild (frozen centroids), bit-for-bit") {
    // content-addressed split: ~10 % arrivals, the ingest shape
    val isArrival = conv(substring(md5(col("vec_id").cast("string")), 1, 4), 16, 10)
      .cast("long") % 10 === 0
    val base = emb.filter(!isArrival)
    val arrivals = emb.filter(isArrival)
    assert(arrivals.count() > 10)
    val cents = SemanticDedup.refinedCentroids(base, 16)
    val (embPath, graphPath) = buildAll(base, cents, tmp("insert"))
    GraphMaintenance.upsertGraph(spark, embPath, graphPath, arrivals)
    // reference: full rebuild of the grown corpus under the SAME centroids
    val (_, refGraph) = buildAll(emb, cents, tmp("insert-ref"))
    assert(edgeSet(GraphMaintenance.edgesAtRest(spark, graphPath)) ==
      edgeSet(GraphMaintenance.edgesAtRest(spark, refGraph)))
    // and the incremental graph equals the inline build on the grown corpus
    assert(edgeSet(GraphMaintenance.edgesAtRest(spark, graphPath)) ==
      edgeSet(KnnGraph.knnEdgesWithCents(emb, cents, K, NPROBE)))
  }

  test("incremental RE-EMBED == full rebuild (repair path), bit-for-bit") {
    val cents = SemanticDedup.refinedCentroids(emb, 16)
    val (embPath, graphPath) = buildAll(emb, cents, tmp("reembed"))
    // re-embed 8 vectors: swap each one's embedding with another vector's
    // (stays on-manifold, changes cells and sims)
    val donors = emb.orderBy(desc("vec_id")).limit(8)
      .select(col("embedding")).collect().map(_.getSeq[Float](0).toArray)
    val victims = emb.orderBy("vec_id").limit(8)
      .select("vec_id", "label").collect()
    val changed = victims.zip(donors).map { case (r, e) =>
      (r.getLong(0), e, r.getInt(1))
    }.toSeq.toDF("vec_id", "embedding", "label")
    GraphMaintenance.upsertGraph(spark, embPath, graphPath, changed)
    val after = spark.read.parquet(embPath)
      .select("vec_id", "embedding", "label")
    val (_, refGraph) = buildAll(after, cents, tmp("reembed-ref"))
    assert(edgeSet(GraphMaintenance.edgesAtRest(spark, graphPath)) ==
      edgeSet(GraphMaintenance.edgesAtRest(spark, refGraph)))
  }

  test("DELETE == full rebuild on the survivors (repair path), bit-for-bit") {
    val cents = SemanticDedup.refinedCentroids(emb, 16)
    val (embPath, graphPath) = buildAll(emb, cents, tmp("delete"))
    val victims = emb.orderBy("vec_id").limit(10)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    GraphMaintenance.deleteFromGraph(spark, embPath, graphPath, victims)
    val survivors = emb.filter(!col("vec_id").isInCollection(victims))
    val (_, refGraph) = buildAll(survivors, cents, tmp("delete-ref"))
    assert(edgeSet(GraphMaintenance.edgesAtRest(spark, graphPath)) ==
      edgeSet(GraphMaintenance.edgesAtRest(spark, refGraph)))
    // no stored edge may point at a deleted vector
    assert(GraphMaintenance.edgesAtRest(spark, graphPath)
      .filter(col("nbr_id").isInCollection(victims)).count() == 0)
  }

  test("insert far from a blob leaves that blob's edge partitions bit-identical (nProbe=1)") {
    // two well-separated blobs, nProbe=1: an arrival near blob2 can only
    // affect cell2's sources — blob1's edge directory must not be touched
    def vec(base: Array[Float], j: Float) =
      base.zipWithIndex.map { case (v, i) => v + (if (i == 1) j else 0f) }
    val b1 = Array(10f, 0f, 0f, 0f)
    val b2 = Array(0f, 0f, 10f, 0f)
    val corpus = ((1L to 6L).map(i => (i, vec(b1, 0.01f * i), 0)) ++
      (11L to 16L).map(i => (i, vec(b2, 0.01f * i), 1)))
      .toDF("vec_id", "embedding", "label")
    val cents = ProductQuantization.trainCoarse(corpus, nList = 2)
    val root = tmp("untouched")
    val embPath = root + "/index"
    val graphPath = root + "/graph"
    EmbeddingMaintenance.writeCellLayout(corpus, cents, embPath)
    EmbeddingMaintenance.saveQuantizer(spark, embPath, cents)
    GraphMaintenance.writeKnnGraph(spark, embPath, graphPath, k = 3, nProbe = 1)
    val blob1Cell = spark.read.parquet(embPath)
      .filter(col("vec_id") === 1L).select("cell").head().getInt(0)
    def listing(dir: String): Set[(String, Long)] =
      Files.list(Paths.get(dir)).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .map(f => (f.getFileName.toString, Files.size(f))).toSet
    val before = listing(s"${graphPath}/edges/src_cell=$blob1Cell")
    val arrival = Seq((21L, vec(b2, 0.33f), 1)).toDF("vec_id", "embedding", "label")
    GraphMaintenance.upsertGraph(spark, embPath, graphPath, arrival)
    assert(listing(s"${graphPath}/edges/src_cell=$blob1Cell") == before,
      "blob1's edge partition was rewritten by a blob2 arrival")
    // and the maintained graph still equals the rebuild
    val after = spark.read.parquet(embPath).select("vec_id", "embedding", "label")
    val cents2 = cents // frozen
    val refRoot = tmp("untouched-ref")
    EmbeddingMaintenance.writeCellLayout(after, cents2, refRoot + "/index")
    EmbeddingMaintenance.saveQuantizer(spark, refRoot + "/index", cents2)
    GraphMaintenance.writeKnnGraph(spark, refRoot + "/index",
      refRoot + "/graph", k = 3, nProbe = 1)
    assert(edgeSet(GraphMaintenance.edgesAtRest(spark, graphPath)) ==
      edgeSet(GraphMaintenance.edgesAtRest(spark, refRoot + "/graph")))
  }

  test("pre-directory sidecar: load defaults, writeKnnGraph migrates in place, incremental demands rebuild") {
    // round-15 ADVICE: a sidecar written before the dir/ layout existed
    // has no dirBuckets key; loading it must not throw a bare
    // NoSuchElementException, and the rebuild IS the migration path
    val cents = SemanticDedup.refinedCentroids(emb, 16)
    val (embPath, graphPath) = buildAll(emb, cents, tmp("oldmeta"))
    Files.writeString(Paths.get(graphPath + ".graph.json"),
      s"""{"k":$K,"nProbe":$NPROBE,"gen":0}""")
    // the raw overwrite bypassed Hadoop's LocalFileSystem, whose stale
    // checksum sidecar would otherwise fail the next read
    val p = Paths.get(graphPath + ".graph.json")
    Files.deleteIfExists(p.getParent.resolve("." + p.getFileName + ".crc"))
    val meta = GraphMaintenance.loadGraphMeta(spark, graphPath)
    assert(meta.k == K && meta.dirBuckets == -1)
    // incremental maintenance needs dir/: explicit message, not a crash
    val arrivals = emb.select((col("vec_id") + 1000000L).as("vec_id"),
      col("embedding"), col("label")).limit(3)
    val ex = intercept[IllegalArgumentException] {
      GraphMaintenance.upsertGraph(spark, embPath, graphPath, arrivals)
    }
    assert(ex.getMessage.contains("rebuild required"))
    // the migration: a rebuild over the old sidecar writes the new format
    GraphMaintenance.writeKnnGraph(spark, embPath, graphPath, K, NPROBE)
    val m2 = GraphMaintenance.loadGraphMeta(spark, graphPath)
    assert(m2.dirBuckets > 0)
    assert(GraphMaintenance.upsertGraph(spark, embPath, graphPath, arrivals))
  }

  test("a sidecar that still carries lastBatch loads, and a fold over it equals the rebuild") {
    // sidecars written while the graph kept a streaming replay cursor
    // hold a "lastBatch" key (this is that writer's exact byte layout);
    // the field is gone, so such a graph must load as any other and keep
    // folding, and the fold must still equal the full rebuild
    val isArrival = conv(substring(md5(col("vec_id").cast("string")), 1, 4), 16, 10)
      .cast("long") % 10 === 0
    val base = emb.filter(!isArrival)
    val arrivals = emb.filter(isArrival)
    val cents = SemanticDedup.refinedCentroids(base, 16)
    val (embPath, graphPath) = buildAll(base, cents, tmp("cursor"))
    val built = GraphMaintenance.loadGraphMeta(spark, graphPath)
    val p = Paths.get(graphPath + ".graph.json")
    Files.writeString(p,
      s"""{"k":${built.k},"nProbe":${built.nProbe},"gen":${built.gen},""" +
        s""""dirBuckets":${built.dirBuckets},"lastBatch":7}""")
    Files.deleteIfExists(p.getParent.resolve("." + p.getFileName + ".crc"))
    assert(GraphMaintenance.loadGraphMeta(spark, graphPath) == built)
    assert(GraphMaintenance.upsertGraph(spark, embPath, graphPath, arrivals))
    assert(GraphMaintenance.loadGraphMeta(spark, graphPath) == built.copy(gen = built.gen + 1))
    assert(!Files.readString(p).contains("lastBatch"))
    val (_, refGraph) = buildAll(emb, cents, tmp("cursor-ref"))
    assert(edgeSet(GraphMaintenance.edgesAtRest(spark, graphPath)) ==
      edgeSet(GraphMaintenance.edgesAtRest(spark, refGraph)))
  }

  test("compaction folds the log without changing the resolved graph") {
    val isArrival = conv(substring(md5(col("vec_id").cast("string")), 1, 4), 16, 10)
      .cast("long") % 10 === 0
    val base = emb.filter(!isArrival)
    val arrivals = emb.filter(isArrival)
    val cents = SemanticDedup.refinedCentroids(base, 16)
    val (embPath, graphPath) = buildAll(base, cents, tmp("compact"))
    GraphMaintenance.upsertGraph(spark, embPath, graphPath, arrivals)
    val before = edgeSet(GraphMaintenance.edgesAtRest(spark, graphPath))
    // the log holds gen-0 + gen-1 rows pre-compaction
    assert(spark.read.parquet(s"$graphPath/edges")
      .select("gen").distinct().count() == 2)
    GraphMaintenance.compactGraph(spark, embPath, graphPath)
    assert(edgeSet(GraphMaintenance.edgesAtRest(spark, graphPath)) == before,
      "compaction must not change the resolved graph")
    // one generation, no challengers/tombstones left
    val raw = spark.read.parquet(s"$graphPath/edges")
    assert(raw.select("gen").distinct().collect().map(_.getLong(0)).toSeq == Seq(0L))
    assert(raw.filter(col("rk") <= 0).count() == 0)
  }

  test("tombstone revival: a re-embed with an EMPTY fresh list still accrues later challengers") {
    // the round-14 ADVICE case: v re-embeds into a cell where it is alone
    // (fresh re-probe yields zero edges — tombstone written, no rk>=1
    // rows), then arrivals land near it; under the old rule (tombstone
    // kills unless tomb_gen <= full_gen) v vanished from the graph
    // forever even though its probe rows were alive
    def vec(base: Array[Float], j: Float) =
      base.zipWithIndex.map { case (v, i) => v + (if (i == 1) j else 0f) }
    val b1 = Array(10f, 0f, 0f, 0f)
    val b2 = Array(0f, 0f, 10f, 0f)
    val cents = Array(b1, b2)
    val corpus = (1L to 5L).map(i => (i, vec(b1, 0.01f * i), 0))
      .toDF("vec_id", "embedding", "label")
    val root = tmp("revive")
    val embPath = root + "/index"
    val graphPath = root + "/graph"
    EmbeddingMaintenance.writeCellLayout(corpus, cents, embPath)
    EmbeddingMaintenance.saveQuantizer(spark, embPath, cents)
    GraphMaintenance.writeKnnGraph(spark, embPath, graphPath, k = 3, nProbe = 1)
    // re-embed id 1 into blob2's (empty) cell: fresh list has ZERO rows
    val re = Seq((1L, vec(b2, 0.02f), 0)).toDF("vec_id", "embedding", "label")
    GraphMaintenance.upsertGraph(spark, embPath, graphPath, re)
    assert(GraphMaintenance.edgesAtRest(spark, graphPath)
      .filter(col("src_id") === 1L).count() == 0,
      "freshly isolated re-embed must resolve to zero edges")
    // arrivals land next to it: challengers must revive id 1's list
    val arrivals = Seq((21L, vec(b2, 0.05f), 1), (22L, vec(b2, 0.08f), 1))
      .toDF("vec_id", "embedding", "label")
    GraphMaintenance.upsertGraph(spark, embPath, graphPath, arrivals)
    val after = spark.read.parquet(embPath).select("vec_id", "embedding", "label")
    val refRoot = tmp("revive-ref")
    EmbeddingMaintenance.writeCellLayout(after, cents, refRoot + "/index")
    EmbeddingMaintenance.saveQuantizer(spark, refRoot + "/index", cents)
    GraphMaintenance.writeKnnGraph(spark, refRoot + "/index",
      refRoot + "/graph", k = 3, nProbe = 1)
    assert(edgeSet(GraphMaintenance.edgesAtRest(spark, graphPath)) ==
      edgeSet(GraphMaintenance.edgesAtRest(spark, refRoot + "/graph")))
    assert(GraphMaintenance.edgesAtRest(spark, graphPath)
      .filter(col("src_id") === 1L).count() == 2,
      "the tombstoned-then-neighbored source must hold its new edges")
  }

  test("replay tolerance: a torn append retried at the same generation cannot double-rank") {
    val isArrival = conv(substring(md5(col("vec_id").cast("string")), 1, 4), 16, 10)
      .cast("long") % 10 === 0
    val base = emb.filter(!isArrival)
    val arrivals = emb.filter(isArrival)
    val cents = SemanticDedup.refinedCentroids(base, 16)
    val (embPath, graphPath) = buildAll(base, cents, tmp("replay"))
    GraphMaintenance.upsertGraph(spark, embPath, graphPath, arrivals)
    val before = edgeSet(GraphMaintenance.edgesAtRest(spark, graphPath))
    // simulate the torn-write retry: the gen-1 delta rows re-appended
    // verbatim (same generation, same content)
    val delta = spark.read.parquet(s"$graphPath/edges")
      .filter(col("gen") === 1L).localCheckpoint(true)
    delta.write.mode(org.apache.spark.sql.SaveMode.Append)
      .partitionBy("src_cell").parquet(s"$graphPath/edges")
    assert(edgeSet(GraphMaintenance.edgesAtRest(spark, graphPath)) == before,
      "duplicated delta rows must collapse in resolution, not occupy two ranks")
    // and compaction folds the duplicates away without changing the view
    GraphMaintenance.compactGraph(spark, embPath, graphPath)
    assert(edgeSet(GraphMaintenance.edgesAtRest(spark, graphPath)) == before)
  }

  test("dirBucketLocal matches the Column-expression dirBucket for every id") {
    // the driver-side bucket computation must agree with the xxhash64/pmod
    // expression the dir/ layout was WRITTEN under — a mismatch would make
    // the pruned membership read silently miss its bucket (rows would look
    // absent and a re-embed would double-insert)
    import org.apache.spark.sql.functions._
    val ids = (Seq(0L, 1L, -1L, Long.MaxValue, Long.MinValue, 42L) ++
      (1 to 200).map(i => i * 7919L - 1000L)).distinct
    for (buckets <- Seq(8, 64, 4096)) {
      import spark.implicits._
      val viaExpr = ids.toDF("vec_id")
        .select(col("vec_id"),
          pmod(xxhash64(col("vec_id")), lit(buckets.toLong)).cast("int").as("b"))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      ids.foreach { id =>
        assert(GraphMaintenance.dirBucketLocal(id, buckets) == viaExpr(id),
          s"bucket mismatch for id=$id buckets=$buckets")
      }
    }
  }
}
