package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Versioned AT-REST storage for the learned curation models (round-13
  * verdict task 6). The NB quality classifier (q108), the DSIR importance
  * model (q109) and the Kneser-Ney bigram LM (q142/q147) were each
  * retrained inside every query that used them — this store gives batch
  * scoring and repeated audits ONE trained artifact to share, with an
  * explicit refresh trigger instead of silent retrains.
  *
  * Layout (the frozen-quantizer pattern from [[EmbeddingMaintenance]]):
  *  - `<root>/v=<N>/` — the model table itself as parquet (NB: (token,
  *    llr); DSIR: (b, llr); KN: the bigram type table (w1, w2, c_bg));
  *    versions are append-only, so a consumer pinned to v=N is
  *    unaffected by a retrain and an audit can diff two versions;
  *  - `<root>.model.json` — atomic write-then-rename sidecar naming the
  *    LATEST version plus the training-corpus summary the refresh
  *    trigger compares against (doc count + per-source doc counts).
  *
  * Refresh trigger ([[refreshReasons]]): retrain when the corpus the
  * model is asked to score has (a) outgrown the training corpus past
  * `growthFactor`, or (b) shifted its source mix past `mixTvd` total
  * variation — the q79 drift metric applied to provenance, which is the
  * axis both NB and DSIR are trained along ([[QualityModels
  * .ReferenceSources]] is a source predicate) and the axis q147
  * reweights. Pure arithmetic on two count summaries; run it at audit
  * cadence, not per batch.
  */
object ModelStore {

  final case class CorpusStats(nDocs: Long, sourceCounts: Map[String, Long])

  final case class ModelMeta(kind: String, version: Long, stats: CorpusStats)

  /** One narrow aggregate over the scan — the summary the sidecar
    * persists and the refresh trigger consumes. */
  def corpusStats(docs: DataFrame): CorpusStats = {
    val rows = docs.groupBy("source").agg(count(lit(1)).as("n")).collect()
    CorpusStats(rows.map(_.getLong(1)).sum,
      rows.map(r => r.getString(0) -> r.getLong(1)).toMap)
  }

  private def sidecar(root: String) = new Path(root + ".model.json")

  private def writeSidecar(spark: SparkSession, root: String,
                           meta: ModelMeta): Unit = {
    val srcJson = meta.stats.sourceCounts.toSeq.sortBy(_._1)
      .map { case (s, n) => s""""$s":$n""" }.mkString("{", ",", "}")
    val json = s"""{"kind":"${meta.kind}","version":${meta.version},""" +
      s""""nDocs":${meta.stats.nDocs},"sourceCounts":$srcJson}"""
    val fs = sidecar(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(root + ".model.json.tmp")
    val out = fs.create(tmp, true)
    try out.write(json.getBytes("UTF-8")) finally out.close()
    fs.delete(sidecar(root), false)
    require(fs.rename(tmp, sidecar(root)),
      s"could not promote model sidecar for $root")
  }

  def loadMeta(spark: SparkSession, root: String): Option[ModelMeta] = {
    val fs = sidecar(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(sidecar(root))) return None
    val in = fs.open(sidecar(root))
    val raw = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val m = JsonMethods.parse(raw).asInstanceOf[JObject].obj.toMap
    def long(v: JValue): Long = v match {
      case JInt(i) => i.toLong
      case JLong(l) => l
      case other => sys.error(s"bad number in model sidecar: $other")
    }
    val srcs = m("sourceCounts").asInstanceOf[JObject].obj
      .map { case (k, v) => k -> long(v) }.toMap
    Some(ModelMeta(m("kind").asInstanceOf[JString].s, long(m("version")),
      CorpusStats(long(m("nDocs")), srcs)))
  }

  /** Persist a freshly trained model table as the next version and
    * promote the sidecar. Returns the new version number. */
  def save(model: DataFrame, root: String, kind: String,
           stats: CorpusStats): Long = {
    val spark = model.sparkSession
    val prev = loadMeta(spark, root)
    prev.foreach(p => require(p.kind == kind,
      s"model store at $root holds kind '${p.kind}', refusing to save '$kind'"))
    val next = prev.map(_.version + 1).getOrElse(1L)
    model.write.mode(SaveMode.Overwrite).parquet(s"$root/v=$next")
    writeSidecar(spark, root, ModelMeta(kind, next, stats))
    next
  }

  /** The latest model table + its metadata. Consumers that must survive
    * a concurrent retrain pin [[loadVersion]] instead. */
  def load(spark: SparkSession, root: String): (DataFrame, ModelMeta) = {
    val meta = loadMeta(spark, root).getOrElse(sys.error(
      s"no model sidecar at $root — train one with trainPersistent first"))
    (loadVersion(spark, root, meta.version), meta)
  }

  def loadVersion(spark: SparkSession, root: String, version: Long): DataFrame =
    spark.read.parquet(s"$root/v=$version")

  /** The explicit refresh trigger: empty = the frozen model still
    * describes this corpus; non-empty = retrain and [[save]]. */
  def refreshReasons(meta: ModelMeta, current: CorpusStats,
                     growthFactor: Double = 2.0,
                     mixTvd: Double = 0.2): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    if (meta.stats.nDocs > 0 &&
        current.nDocs > growthFactor * meta.stats.nDocs)
      out += s"corpus grew ${current.nDocs} vs trained ${meta.stats.nDocs}"
    val keys = meta.stats.sourceCounts.keySet ++ current.sourceCounts.keySet
    def frac(m: CorpusStats, k: String) =
      if (m.nDocs == 0) 0.0 else m.sourceCounts.getOrElse(k, 0L).toDouble / m.nDocs
    val tvd = keys.toSeq.map(k =>
      math.abs(frac(current, k) - frac(meta.stats, k))).sum / 2.0
    if (tvd > mixTvd)
      out += f"source mix moved TVD $tvd%.4f past $mixTvd%.2f"
    out.toSeq
  }

  // --- kind-specific train/score conveniences (each model's table shape
  // and scoring rule live with its operator; the store only versions) ---

  def trainNbPersistent(docs: DataFrame, root: String): Long =
    save(QualityModels.nbModel(docs), root, "nb", corpusStats(docs))

  /** No broadcast hint here, deliberately: the NB model is (token, llr) —
    * VOCABULARY-sized, unbounded at corpus scale (the type-table caveat
    * the q62/q63 family documents). The inline [[QualityModels
    * .nbDocScores]] path uses a plain join for the same reason; forcing a
    * broadcast would OOM on a production vocabulary instead of degrading
    * to a shuffle join. AQE picks broadcast on its own when the stored
    * table is actually small. */
  def nbScoresAtRest(docs: DataFrame, root: String): DataFrame =
    QualityModels.nbScoresWithModel(docs, load(docs.sparkSession, root)._1)

  def trainDsirPersistent(docs: DataFrame, root: String): Long =
    save(QualityModels.dsirModel(docs), root, "dsir", corpusStats(docs))

  def dsirLogWeightsAtRest(docs: DataFrame, root: String): DataFrame =
    QualityModels.dsirLogWeights(docs, load(docs.sparkSession, root)._1)

  def trainKnPersistent(docs: DataFrame, root: String): Long =
    save(CorpusOps.knModel(docs), root, "kn", corpusStats(docs))

  def knScoresAtRest(docs: DataFrame, root: String): DataFrame =
    CorpusOps.knScoresWithModel(docs, load(docs.sparkSession, root)._1)

  /** One audit-and-maybe-retrain cycle — the refresh loop a deployment
    * schedules: compare the stored training summary against the current
    * corpus, retrain THIS kind when a trigger fires, and report the
    * reasons (empty = model kept). */
  def maintainModel(docs: DataFrame, root: String,
                    growthFactor: Double = 2.0,
                    mixTvd: Double = 0.2): Seq[String] = {
    val spark = docs.sparkSession
    val meta = loadMeta(spark, root).getOrElse(sys.error(
      s"no model sidecar at $root — train one with trainPersistent first"))
    val reasons = refreshReasons(meta, corpusStats(docs), growthFactor, mixTvd)
    if (reasons.nonEmpty) meta.kind match {
      case "nb" => trainNbPersistent(docs, root)
      case "dsir" => trainDsirPersistent(docs, root)
      case "kn" => trainKnPersistent(docs, root)
      case other => sys.error(s"unknown model kind '$other' at $root")
    }
    reasons
  }
}
