package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{EmbeddingMaintenance, ProductQuantization, SimilarityOps}

/** IVF-index churn soak (round-10 verdict task 3's scale evidence): build
  * a cell layout at soak scale, batter it with sustained OFF-MANIFOLD
  * upserts under the frozen quantizer, and show
  *  1. probe cost degrading (the upserts pile into the few cells whose
  *     frozen centroids happen to be nearest — probed-candidate counts
  *     and cell skew climb while the corpus grows only modestly),
  *  2. [[EmbeddingMaintenance.driftReasons]] firing on exactly that, and
  *  3. [[EmbeddingMaintenance.recluster]] restoring |cell| ≈ target and
  *     the quantizer fit.
  *
  *   graft.tools.IvfChurnSoak [nVecs] [churnBatches] [batchSize]
  *
  * Probe cost is reported as the CANDIDATE COUNT a fixed 64-query panel
  * at nProbe=8 scans (Σ probed-cell sizes — the deterministic quantity
  * the wall time is proportional to on any cluster), plus the measured
  * local wall time for the same probes.
  */
object IvfChurnSoak {

  /** Churn vectors from centers the original quantizer never saw —
    * same generator shape as [[Soak.genEmbeddings]] but a disjoint,
    * phase-shifted center formula (cos vs sin, center ids ≥ 1000). */
  def genChurn(spark: SparkSession, from: Long, n: Long,
               dim: Int = 64, nCenters: Int = 20): DataFrame = {
    val nPar = spark.sparkContext.defaultParallelism * 4
    spark.range(from, from + n, 1, nPar)
      .withColumn("c", lit(1000) + pmod(hash(col("id"), lit(41)), lit(nCenters)))
      .withColumn("embedding", expr(
        s"""transform(sequence(0, ${dim - 1}), i -> CAST(
           |  cos(c * 17 + i * 3) * 2.5 +
           |  (pmod(hash(id, i, 42), 1000) / 1000.0 - 0.5) * 0.3 AS FLOAT))""".stripMargin))
      .select(col("id").as("vec_id"), col("embedding"), col("c").cast("int").as("label"))
  }

  def main(args: Array[String]): Unit = {
    val streamMode = args.headOption.contains("stream")
    // batch-mode args (ignored under stream mode, which shifts by one)
    val nVecs = if (streamMode) 100000L else args.lift(0).map(_.toLong).getOrElse(100000L)
    val batches = if (streamMode) 5 else args.lift(1).map(_.toInt).getOrElse(5)
    val batchSize = if (streamMode) 10000L else args.lift(2).map(_.toLong).getOrElse(10000L)
    val spark = graft.Cli.session()
    import spark.implicits._

    val path = java.nio.file.Files.createTempDirectory("ivf_churn").toString + "/index"
    // batch mode builds its layout here; stream mode builds its own
    // sidecar-carrying layout inside the branch below
    var cents: Array[Array[Float]] = null
    if (!streamMode) {
      val base = Soak.genEmbeddings(spark, nVecs)
      val nList = ProductQuantization.adaptiveNList(base, targetCell = 500)
      cents = ProductQuantization.trainCoarse(base, nList)
      EmbeddingMaintenance.writeCellLayout(base, cents, path)
    }

    // fixed probe panel: 48 on-manifold + 16 churn-region queries
    val panel: Seq[(Long, Array[Float])] =
      Soak.genEmbeddings(spark, 48).collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toSeq ++
      genChurn(spark, 1000000L, 16).collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toSeq

    // per-query probe cost: mean over the panel of Σ |probed cell| — the
    // deterministic quantity a probe's latency is proportional to on any
    // cluster (each query reads its own nProbe cells)
    def probeCost(cs: Array[Array[Float]]): (Double, Double) = {
      val sizes = spark.read.parquet(path).groupBy("cell").count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      val perQuery = panel.map { case (_, v) =>
        ProductQuantization.probeCells(Seq(0L -> v), cs, nProbe = 8)
          .map { case (_, c) => sizes.getOrElse(c, 0L) }.sum
      }
      val t0 = System.nanoTime()
      SimilarityOps.ivfTopKAtRest(spark, path, cs, panel, k = 10, nProbe = 8)
        .count()
      (perQuery.sum.toDouble / perQuery.length, (System.nanoTime() - t0) / 1e9)
    }

    def report(tag: String, cs: Array[Array[Float]],
               baseline: Option[EmbeddingMaintenance.IvfStats]): EmbeddingMaintenance.IvfStats = {
      val s = EmbeddingMaintenance.layoutStats(spark, path, cs)
      val (cand, wall) = probeCost(cs)
      val reasons = baseline.map(b => EmbeddingMaintenance.driftReasons(b, s))
        .getOrElse(Seq.empty)
      println(f"$tag%-28s n=${s.n}%8d cells=${s.nonEmptyCells}%5d " +
        f"mean=${s.meanCell}%8.1f max=${s.maxCell}%7d qerr=${s.meanSqErr}%8.4f " +
        f"meanProbe=$cand%10.0f probeWall=$wall%6.2f s " +
        (if (baseline.isEmpty) "" else s"drift=[${reasons.mkString("; ")}]"))
      s
    }

    if (args.headOption.contains("stream")) {
      // STREAMING self-healing mode (round-11 verdict task 3's scale
      // evidence): the same off-manifold battering delivered as a
      // MemoryStream through CorpusStreams.selfHealingVectorSink — no
      // manual recluster call anywhere; the mid-stream audit must fire
      // and bound the probe cost on its own. Args shift by one:
      //   graft.tools.IvfChurnSoak stream [nVecs] [batches] [batchSize] [auditEvery]
      val sNVecs = args.lift(1).map(_.toLong).getOrElse(100000L)
      val sBatches = args.lift(2).map(_.toInt).getOrElse(6)
      val sBatchSize = args.lift(3).map(_.toLong).getOrElse(10000L)
      val auditEvery = args.lift(4).map(_.toInt).getOrElse(2)
      val sBase = Soak.genEmbeddings(spark, sNVecs).select("vec_id", "embedding")
      val c0 = ProductQuantization.trainCoarse(sBase,
        ProductQuantization.adaptiveNList(sBase, targetCell = 500))
      EmbeddingMaintenance.writeCellLayoutPersistent(sBase, c0, path)

      val stream = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[
        (Long, Array[Float])](spark)
      val ckpt = java.nio.file.Files.createTempDirectory("ivf_stream_ckpt").toString
      val q = stream.toDF().toDF("vec_id", "embedding").writeStream
        .foreachBatch(graft.streaming.CorpusStreams
          .selfHealingVectorSink(path, auditEvery = auditEvery, targetCell = 500))
        .option("checkpointLocation", ckpt).start()

      val baseline = report("baseline", c0, None)
      var prev = c0
      for (b <- 1 to sBatches) {
        val churn = genChurn(spark, sNVecs + (b - 1) * sBatchSize, sBatchSize)
          .select("vec_id", "embedding").collect()
          .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
        val t0 = System.nanoTime()
        stream.addData(churn: _*)
        q.processAllAvailable()
        val ingestS = (System.nanoTime() - t0) / 1e9
        val (cs, _) = EmbeddingMaintenance.loadQuantizer(spark, path).get
        val healed = cs.length != prev.length || cs.flatten.toSeq != prev.flatten.toSeq
        prev = cs
        println(f"  batch $b ingest ${ingestS}%.1f s, nList=${cs.length}" +
          (if (healed) " [self-healed this batch]" else ""))
        report(f"after stream batch $b", cs, Some(baseline))
      }
      q.stop()
    } else {
      val baseline = report("baseline", cents, None)
      for (b <- 1 to batches) {
        val churn = genChurn(spark, nVecs + (b - 1) * batchSize, batchSize)
        EmbeddingMaintenance.upsertVecs(spark, path, cents, churn)
        report(f"after churn batch $b", cents, Some(baseline))
      }
      val t0 = System.nanoTime()
      cents = EmbeddingMaintenance.recluster(spark, path, targetCell = 500)
      println(f"recluster: ${(System.nanoTime() - t0) / 1e9}%.1f s, nList=${cents.length}")
      report("after recluster", cents, Some(baseline))
    }
    spark.stop()
  }
}
