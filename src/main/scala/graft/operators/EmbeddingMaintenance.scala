package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Embedding-index lifecycle maintenance over the IVF cell-partitioned
  * at-rest layout (one directory per coarse cell, [[writeCellLayout]]),
  * keeping a deployed ANN index correct between pipeline runs: vector
  * erasure (takedowns propagate to derived indexes, not just the corpus)
  * and re-embedding upserts (a model refresh or doc edit changes the
  * vector). [[GraphMaintenance]]'s folds drive both.
  *
  * Unlike a hash-routed shard, a CELL IS NOT A PURE FUNCTION OF THE ID — it depends on the embedding and the frozen
  * centroid table. Two consequences, both handled here:
  *  - deletes must LOOK UP the victims' cells in the stored layout (a
  *    column-pruned scan of vec_id + the cell partition column — no
  *    embedding bytes are read);
  *  - an upserted vector may MOVE between cells (its new embedding
  *    quantizes elsewhere), so the affected set is the union of the old
  *    cells (looked up) and the new cells (computed from the incoming
  *    vectors via [[ProductQuantization.cellExpr]] under the SAME frozen
  *    centroids — centroids are never retrained here, exactly as a
  *    serving index holds its quantizer fixed between rebuilds).
  *
  * Dynamic partition overwrite rewrites ONLY affected cell directories,
  * emptied directories are reclaimed at the filesystem level (dynamic overwrite
  * cannot express an empty partition — stale files would resurrect
  * deleted vectors), and untouched cells stay bit-identical at the
  * file-listing level (spec-pinned).
  */
object EmbeddingMaintenance {

  import MaintenanceIO.withDynamicOverwrite

  /** Write (or fully rebuild) the index layout: one directory per coarse
    * cell under the given frozen centroids. */
  def writeCellLayout(emb: DataFrame, cents: Array[Array[Float]],
                      path: String): Unit =
    emb.withColumn("cell",
        ProductQuantization.cellExpr(emb.sparkSession, cents)(col("embedding")))
      .write.mode(SaveMode.Overwrite).partitionBy("cell").parquet(path)

  /** The cells a set of vec ids lives in — looked up from the stored
    * layout with a column-pruned scan (vec_id + the cell partition
    * column; embeddings are never read). */
  def cellsOf(spark: SparkSession, path: String, ids: Seq[Long]): Seq[Int] =
    spark.read.parquet(path)
      .filter(col("vec_id").isInCollection(ids))
      .select("cell").distinct().collect().map(_.getInt(0)).toSeq.sorted

  /** Surgical delete: remove `ids` by rewriting only the cells they live
    * in; cells left empty are reclaimed at the directory level.
    * `knownCells` skips the victim-cell lookup when the caller already
    * holds it (the graph path's id-keyed directory answers it with a
    * bucket-pruned read; recomputing it here would re-scan the
    * cell-partitioned layout, which cannot prune on ids). */
  def deleteVecs(spark: SparkSession, path: String, ids: Seq[Long],
                 knownCells: Option[Seq[Int]] = None): Unit = {
    if (ids.isEmpty) return
    val affected = knownCells.getOrElse(cellsOf(spark, path, ids))
    if (affected.isEmpty) return
    val remaining = StageMaterialize(spark.read.parquet(path)
      .filter(col("cell").isInCollection(affected))
      .filter(!col("vec_id").isInCollection(ids)))
    // the kept-cell collect and the rewrite both read the checkpointed
    // survivors — overlap them (guide §2.6); the emptied-directory sweep
    // below needs both done
    val ov = new MaintenanceIO.Overlap(1)
    val keptCells = try {
      val fKept = ov.fork(remaining.select("cell").distinct()
        .collect().map(_.getInt(0)).toSet)
      withDynamicOverwrite(spark) {
        remaining.write.mode(SaveMode.Overwrite).partitionBy("cell").parquet(path)
      }
      fKept.join()
    } finally ov.close()
    val emptied = affected.filterNot(keptCells)
    if (emptied.nonEmpty) {
      val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
      emptied.foreach(c => fs.delete(new Path(path, s"cell=$c"), true))
    }
  }

  /** Re-embedding upsert: replace the stored vectors for `changed`'s ids
    * (and insert new ids). Affected cells = the victims' OLD cells
    * (looked up) ∪ the incoming vectors' NEW cells (quantized under the
    * frozen `cents`), so a vector that moves cells is erased from its
    * old directory and written to its new one in the same dynamic
    * overwrite. `changed` must carry (vec_id, embedding, …) — the corpus
    * schema minus the cell column. A `cell` column, when present, is
    * TRUSTED as the assignment under these same frozen `cents` and the
    * O(nList·dim) argmin per row is skipped; only a caller that computed
    * it under `cents` may pass one. The one such caller is the graph
    * fold ([[GraphMaintenance.upsertGraph]]), whose checkpointed arrival
    * frame carries the cell from `cellExpr` under the sidecar's
    * centroids — hence package-private. */
  private[operators] def upsertVecs(spark: SparkSession, path: String,
                 cents: Array[Array[Float]], changed: DataFrame,
                 knownOldCells: Option[Seq[Int]] = None,
                 knownIdCells: Option[Seq[(Long, Int)]] = None): Unit = {
    val incoming =
      if (changed.columns.contains("cell")) changed
      else changed.withColumn("cell",
        ProductQuantization.cellExpr(spark, cents)(col("embedding")))
    // ONE collect for both the id list and the new-cell list (they were
    // two jobs, each re-running the upstream batch plan) — skipped
    // entirely when the caller already holds the batch's (id, cell)
    // pairs (the graph fold's checkpointed arrival frame carries them)
    val (changedIds, newCells) = knownIdCells match {
      case Some(pairs) => (pairs.map(_._1), pairs.map(_._2).distinct)
      case None =>
        val rows = incoming.select("vec_id", "cell").collect()
        (rows.map(_.getLong(0)).toSeq, rows.map(_.getInt(1)).distinct.toSeq)
    }
    if (changedIds.isEmpty) return
    val oldCells = knownOldCells.getOrElse(cellsOf(spark, path, changedIds))
    val affected = (oldCells ++ newCells).distinct.sorted
    val corpus = spark.read.parquet(path)
    val kept = corpus
      .filter(col("cell").isInCollection(affected))
      .filter(!col("vec_id").isInCollection(changedIds))
    val next = StageMaterialize(
      kept.unionByName(incoming.select(kept.columns.map(col): _*)))
    // kept-cell collect ∥ rewrite — both read the checkpointed frame
    val ov = new MaintenanceIO.Overlap(1)
    val keptCells = try {
      val fKept = ov.fork(next.select("cell").distinct()
        .collect().map(_.getInt(0)).toSet)
      withDynamicOverwrite(spark) {
        next.write.mode(SaveMode.Overwrite).partitionBy("cell").parquet(path)
      }
      fKept.join()
    } finally ov.close()
    // an old cell fully vacated by moves (and not re-filled) is reclaimed
    val emptied = affected.filterNot(keptCells)
    if (emptied.nonEmpty) {
      val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
      emptied.foreach(c => fs.delete(new Path(path, s"cell=$c"), true))
    }
  }

  /** Quantizer sidecar: the frozen centroids, persisted NEXT TO the
    * layout (`<path>.quantizer.json`, atomic write-then-rename through the
    * layout's own filesystem). This makes the quantizer part of the
    * index's durable state instead of driver memory — any later
    * maintainer (the graph folds of [[GraphMaintenance]]) recovers the
    * exact centroids the at-rest cells were assigned under. Floats
    * round-trip exactly through toString/toFloat. */
  private def sidecar(path: String) = new Path(path + ".quantizer.json")

  def saveQuantizer(spark: SparkSession, path: String,
                    cents: Array[Array[Float]]): Unit = {
    val json = cents.map(_.mkString("[", ",", "]")).mkString("{\"cents\":[", ",", "]}")
    val fs = sidecar(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(path + ".quantizer.json.tmp")
    val out = fs.create(tmp, true)
    try out.write(json.getBytes("UTF-8")) finally out.close()
    fs.delete(sidecar(path), false)
    require(fs.rename(tmp, sidecar(path)), s"could not promote quantizer sidecar for $path")
  }

  /** The centroids [[saveQuantizer]] stored; an older sidecar's
    * `baseline` key is ignored. */
  def loadQuantizer(spark: SparkSession, path: String): Option[Array[Array[Float]]] = {
    val fs = sidecar(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(sidecar(path))) return None
    val in = fs.open(sidecar(path))
    val raw = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val m = JsonMethods.parse(raw).asInstanceOf[JObject].obj.toMap
    def num(v: JValue): Double = v match {
      case JInt(i) => i.toDouble
      case JLong(l) => l.toDouble
      case JDouble(x) => x
      case JDecimal(x) => x.toDouble
      case other => sys.error(s"bad number in quantizer sidecar: $other")
    }
    Some(m("cents").asInstanceOf[JArray].arr.map(row =>
      row.asInstanceOf[JArray].arr.map(x => num(x).toFloat).toArray).toArray)
  }

  /** [[writeCellLayout]] plus the quantizer sidecar — the entry point for
    * a layout that [[GraphMaintenance]] maintains without driver-held
    * state. */
  def writeCellLayoutPersistent(emb: DataFrame, cents: Array[Array[Float]],
                                path: String): Unit = {
    writeCellLayout(emb, cents, path)
    // the sidecar lands only after the layout write completes
    saveQuantizer(emb.sparkSession, path, cents)
  }
}
