package graft.operators

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SharedSpark

/** The at-rest curation-model contract (round-13 verdict task 6):
  * models trained once and persisted (versioned parquet + sidecar) must
  * score EXACTLY like the inline-trained chains on their own training
  * corpus; retrains append versions without disturbing pinned consumers;
  * the refresh trigger fires on corpus growth / source-mix drift and
  * stays quiet on a steady corpus; and the streaming admission consumer
  * recovers the exact model from the store across a checkpointed
  * restart. */
class ModelStoreSpec extends AnyFunSuite with SharedSpark {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private def docs: DataFrame = graft.Tables.documents(spark, sf)
  private def tmp(tag: String): String =
    Files.createTempDirectory(s"graft-mstore-$tag").toString + "/model"

  test("NB: at-rest model scores == inline nbDocScores, bit-for-bit") {
    val root = tmp("nb")
    assert(ModelStore.trainNbPersistent(docs, root) == 1L)
    val atRest = ModelStore.nbScoresAtRest(docs, root).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    val inline = QualityModels.nbDocScores(docs).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(atRest == inline)
    assert(atRest.nonEmpty)
  }

  test("DSIR: at-rest log-weights == inline, bit-for-bit") {
    val root = tmp("dsir")
    ModelStore.trainDsirPersistent(docs, root)
    val atRest = ModelStore.dsirLogWeightsAtRest(docs, root).collect()
      .map(r => (r.getLong(0), r.getDouble(2))).toSet
    val inline = QualityModels.dsirLogWeights(docs, QualityModels.dsirModel(docs))
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSet
    assert(atRest == inline)
  }

  test("KN: at-rest scores == inline knBigramScores on the training corpus; zero OOV") {
    val root = tmp("kn")
    ModelStore.trainKnPersistent(docs, root)
    val atRest = ModelStore.knScoresAtRest(docs, root)
    assert(atRest.filter(col("n_oov") > 0).count() == 0,
      "training corpus scored under its own model must have no OOV bigrams")
    val a = atRest.select("doc_id", "n_bigrams", "kn_logprob", "ppl").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSet
    val i = CorpusOps.knBigramScores(docs)
      .select("doc_id", "n_bigrams", "kn_logprob", "ppl").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSet
    assert(a == i)
  }

  test("KN under an OLDER model: unseen pairs take the backoff mass, unseen words count as OOV") {
    val trainDocs = Seq((1L, "the cat sat on the mat"), (2L, "the dog sat"))
      .toDF("doc_id", "text").withColumn("source", lit("src0"))
    val root = tmp("kn-old")
    ModelStore.trainKnPersistent(trainDocs, root)
    // "dog mat": both words known, pair unseen -> pure backoff, finite logp;
    // "zebra" never seen -> its bigrams are OOV-excluded but REPORTED
    val later = Seq((10L, "the dog mat"), (11L, "zebra zebra zebra"))
      .toDF("doc_id", "text").withColumn("source", lit("srcX"))
    val scored = ModelStore.knScoresAtRest(later, root).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(scored(10L).getLong(1) == 2 && scored(10L).getLong(2) == 0)
    assert(!scored(10L).isNullAt(3), "backoff-scored doc must have a finite logprob")
    assert(scored(11L).getLong(1) == 0 && scored(11L).getLong(2) == 2,
      "fully-unseen doc must report its bigrams as OOV")
  }

  test("versioning: a retrain appends v2; a consumer pinned to v1 is untouched") {
    val root = tmp("ver")
    val half = docs.filter(col("doc_id") % 2 === 0)
    ModelStore.trainNbPersistent(half, root)
    val v1 = ModelStore.loadVersion(spark, root, 1L).collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSet
    assert(ModelStore.trainNbPersistent(docs, root) == 2L)
    assert(ModelStore.loadMeta(spark, root).get.version == 2L)
    // v1 is byte-stable under the retrain
    assert(ModelStore.loadVersion(spark, root, 1L).collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSet == v1)
    // and latest is the full-corpus model
    val latest = ModelStore.load(spark, root)._1.collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSet
    assert(latest == QualityModels.nbModel(docs).collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSet)
    // kind mismatch refuses loudly
    val e = intercept[IllegalArgumentException] {
      ModelStore.save(QualityModels.dsirModel(docs), root, "dsir",
        ModelStore.corpusStats(docs))
    }
    assert(e.getMessage.contains("kind"))
  }

  test("refresh trigger: steady corpus keeps the model; growth/mix drift retrains") {
    val root = tmp("refresh")
    ModelStore.trainDsirPersistent(docs, root)
    assert(ModelStore.maintainModel(docs, root).isEmpty,
      "the training corpus itself must not trigger a refresh")
    assert(ModelStore.loadMeta(spark, root).get.version == 1L)
    // the corpus triples via one exploding source: growth AND mix both move
    val surge = docs.unionByName(
      docs.withColumn("doc_id", col("doc_id") + 1000000L)
        .withColumn("source", lit("srcNew")))
      .unionByName(docs.withColumn("doc_id", col("doc_id") + 2000000L)
        .withColumn("source", lit("srcNew")))
    val reasons = ModelStore.maintainModel(surge, root)
    assert(reasons.nonEmpty, "3x growth with a new dominant source must fire")
    assert(ModelStore.loadMeta(spark, root).get.version == 2L,
      "a fired trigger must retrain and bump the version")
    assert(ModelStore.loadMeta(spark, root).get.stats.nDocs == 1500L)
  }

  test("q151 model-drift audit: doc accounting, triangle bound, determinism") {
    val docs = graft.Tables.documents(spark, sf)
    val out = QualityModels.queries("q151_model_drift")(spark, sf).collect()
    assert(out.map(_.getLong(1)).sum == docs.count(),
      "every document must be scored under both models exactly once")
    out.foreach { r =>
      val (v1, v2, shift) = (r.getDouble(2), r.getDouble(3), r.getDouble(4))
      assert(shift + 1e-9 >= math.abs(v1 - v2),
        s"mean |shift| must dominate |mean shift| (${r.getString(0)})")
      assert(r.getLong(5) >= 0 && r.getLong(5) <= r.getLong(1))
    }
    val again = QualityModels.queries("q151_model_drift")(spark, sf).collect()
    assert(out.map(_.toString).sorted.sameElements(again.map(_.toString).sorted))
  }

}
