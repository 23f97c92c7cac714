package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SharedSpark

/** Specs for the round-4 corpus-statistics surface (q62–q66), plus the
  * Kneser-Ney scoring rule q153 runs under a separately trained model.
  * Value-level parity is the driver's DuckDB gate; these verify the
  * semantics against independent formulations (brute-force pair scan for
  * the banded q64, window top-k for the LATERAL q65, the inline q142
  * scorer for the KN rule) plus the structural invariants.
  */
class CorpusOpsSpec extends AnyFunSuite with SharedSpark {
  private val sf = "/root/testdata/sf0.001"

  override def afterAll(): Unit = {
    spark.catalog.clearCache()
    super.afterAll()
  }

  test("q62 tfidf: ranks contiguous from 1, scores non-increasing, df bounded") {
    val df = CorpusOps.q62TfidfTopTerms(spark, sf).cache()
    val nDocs = graft.Tables.documents(spark, sf).count()
    assert(df.filter(col("rnk") < 1 || col("rnk") > 3).count() == 0)
    assert(df.filter(col("df") < 1 || col("df") > nDocs).count() == 0)
    assert(df.filter(col("tf") < 1).count() == 0)
    // per doc: ranks are 1..k with no gaps and tfidf is non-increasing in rank
    val w = Window.partitionBy("doc_id").orderBy("rnk")
    val bad = df.select(col("doc_id"), col("rnk"), col("tfidf"),
        lag("rnk", 1).over(w).as("prev_rnk"),
        lag("tfidf", 1).over(w).as("prev_score"))
      .filter(
        (col("prev_rnk").isNull && col("rnk") =!= 1) ||
          (col("prev_rnk").isNotNull && col("rnk") =!= col("prev_rnk") + 1) ||
          (col("prev_score").isNotNull && col("tfidf") > col("prev_score")))
    assert(bad.count() == 0)
  }

  test("q62 tfidf: rank-1 score is the max over the doc's full scored set") {
    val docs = graft.Tables.documents(spark, sf)
    val nDocs = docs.count()
    val tf = docs.select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val full = tf.join(dfreq, Seq("token"))
      .select(col("doc_id"),
        round(col("tf") * log(lit(nDocs.toDouble) / col("df")), 6).as("tfidf"))
      .groupBy("doc_id").agg(max("tfidf").as("best"))
    val top1 = CorpusOps.q62TfidfTopTerms(spark, sf).filter(col("rnk") === 1)
    val joined = top1.join(full, "doc_id")
    assert(joined.count() == nDocs)
    assert(joined.filter(col("tfidf") =!= col("best")).count() == 0)
  }

  test("q63 bigram LM: one row per multi-token doc, n_bigrams = tokens - 1, logprob < 0") {
    val df = CorpusOps.q63BigramLm(spark, sf).cache()
    val expected = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), size(TextOps.tokens(col("text"))).as("n"))
      .filter(col("n") >= 2)
    assert(df.count() == expected.count())
    val j = df.join(expected, "doc_id")
    assert(j.filter(col("n_bigrams") =!= col("n") - 1).count() == 0)
    // add-one smoothing keeps every conditional probability strictly < 1
    assert(df.filter(col("avg_logprob") >= 0).count() == 0)
  }

  test("q64 banded profile equals the brute-force all-pairs scan") {
    val sigs = DedupOps.q28Simhash(spark, sf)
      .select(col("doc_id"), col("simhash"))
    val brute = sigs.as("a").join(sigs.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .filter(col("hamming") <= 3)
      .groupBy("hamming").agg(count(lit(1)).as("n_pairs"))
    val banded = DedupOps.q64HammingProfile(spark, sf)
      .filter(col("n_pairs") > 0) // brute has no explicit zero row
      .select(col("hamming").cast("int").as("hamming"), col("n_pairs"))
    assert(banded.exceptAll(brute).count() == 0 && brute.exceptAll(banded).count() == 0,
      "banded pigeonhole count diverges from brute force")
  }

  test("q64 banding: exact ≤3-bit recall on adversarial high-bit signatures") {
    // r5's simhash32→64 widening silently voided the recall proof: 8-bit
    // bands over a 64-bit signature inspect only bits 0–31, missing pairs
    // that differ solely in bits ≥32. This pins the repaired 4×16-bit
    // pigeonhole: every pair below differs ONLY in bits ≥32 (plus one
    // crossing the 32-bit boundary), at Hamming distances 1..4 — so the
    // old banding would have found none of them, and distance 4 must be
    // correctly excluded rather than lost by accident.
    import spark.implicits._
    val base = 0x5a5a5a5a5a5a5a5aL
    val sigs = Seq(
      base,                                    // anchor
      base ^ (1L << 63),                       // d=1, highest bit only
      base ^ (1L << 62) ^ (1L << 40),          // d=2, bits ≥32 only
      base ^ (1L << 61) ^ (1L << 47) ^ (1L << 33), // d=3, bits ≥32 only
      base ^ (1L << 35) ^ (1L << 31),          // d=2, straddles the boundary
      base ^ (1L << 60) ^ (1L << 50) ^ (1L << 44) ^ (1L << 36) // d=4: excluded
    ).toDF("simhash").withColumn("n", lit(1L))
    val banded = DedupOps.hammingProfile(sigs, spark.sparkContext.defaultParallelism)
      .filter(col("n_pairs") > 0)
      .select(col("hamming").cast("int").as("hamming"), col("n_pairs"))
    val brute = sigs.as("a").join(sigs.as("b"), col("a.simhash") < col("b.simhash"))
      .select(bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .filter(col("hamming") <= 3)
      .groupBy("hamming").agg(count(lit(1)).as("n_pairs"))
    assert(banded.exceptAll(brute).count() == 0 && brute.exceptAll(banded).count() == 0,
      "banded profile missed high-bit pairs the 4×16-bit pigeonhole must find")
    // and the adversarial set is not vacuous: distances 1,2,3 all present
    assert(banded.count() >= 3)
  }

  test("q65 LATERAL equals the explicit window top-k formulation") {
    val w = Window.partitionBy("o_custkey")
      .orderBy(desc("o_totalprice"), col("o_orderkey"))
    val viaWindow = graft.Tables.orders(spark, sf)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        row_number().over(w).as("rn"))
      .filter(col("rn") <= 2)
      .join(graft.Tables.customer(spark, sf),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_mktsegment"), col("o_orderkey"), col("o_totalprice"))
    val lateral = PipelineOps.q65LateralTopK(spark, sf)
    assert(lateral.exceptAll(viaWindow).count() == 0
      && viaWindow.exceptAll(lateral).count() == 0)
  }

  test("q69 token budget: running sums consistent, budget never exceeded") {
    val df = PipelineOps.q69TokenBudget(spark, sf).cache()
    assert(df.filter(col("cum_tokens") > 500).count() == 0)
    // cum_tokens is the running sum in md5 order: cum - n_tokens must be
    // the previous row's cum (or 0 for the first kept doc of a source)
    val w = Window.partitionBy("source")
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    val bad = df.select(col("source"), col("n_tokens"), col("cum_tokens"),
        lag("cum_tokens", 1, 0).over(w).as("prev"))
      .filter(col("cum_tokens") - col("n_tokens") =!= col("prev"))
    assert(bad.count() == 0)
    // maximal: for every source, the FIRST dropped doc would have exceeded
    // the budget (kept-set is a prefix, not an arbitrary subset)
    val all = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), col("source"),
        size(split(trim(col("text")), "\\s+")).as("n_tokens"))
      .withColumn("cum", sum("n_tokens").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val firstDropped = all.filter(col("cum") > 500)
      .groupBy("source").agg(min("cum").as("first_over"))
    assert(firstDropped.filter(col("first_over") <= 500).count() == 0)
  }

  test("q70 dim stats: one row per dimension, counts full, variance non-negative") {
    val df = SimilarityOps.q70DimStats(spark, sf).cache()
    val nVecs = graft.Tables.embeddings(spark, sf).count()
    assert(df.count() == 64)
    assert(df.filter(col("n") =!= nVecs).count() == 0)
    assert(df.filter(col("var_val") < 0).count() == 0)
  }

  test("q66 decay: weights in (0,1], decayed magnitude bounded by raw sum") {
    val df = EventOps.q66DecayEngagement(spark, sf).cache()
    val raw = graft.Tables.events(spark, sf)
      .filter(col("event_type").isin("purchase", "click"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_raw"), sum(abs(col("value"))).as("abs_sum"))
    val j = df.join(raw, "user_id")
    assert(j.count() == df.count())
    assert(j.filter(col("n_events") =!= col("n_raw")).count() == 0)
    assert(j.filter(abs(col("decayed_value")) > col("abs_sum") + 1e-4).count() == 0)
    // deterministic re-run
    val again = EventOps.q66DecayEngagement(spark, sf)
    assert(df.exceptAll(again).count() == 0)
  }

  test("KN: knScoresFromBigrams under the corpus's own model == knBigramScores; zero OOV") {
    // q153's scoring rule on the model's own training corpus: every join
    // hits and the backoff clamp never binds, so it is the inline q142
    val docs = graft.Tables.documents(spark, sf)
    val bg = CorpusOps.knBigrams(docs)
    val viaModel = CorpusOps.knScoresFromBigrams(bg, CorpusOps.knModelFromBigrams(bg))
    assert(viaModel.filter(col("n_oov") > 0).count() == 0,
      "training corpus scored under its own model must have no OOV bigrams")
    val a = viaModel.select("doc_id", "n_bigrams", "kn_logprob", "ppl").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSet
    val i = CorpusOps.knBigramScores(docs)
      .select("doc_id", "n_bigrams", "kn_logprob", "ppl").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSet
    assert(a == i)
  }

  test("KN under an OLDER model: unseen pairs take the backoff mass, unseen words count as OOV") {
    val sp = spark
    import sp.implicits._
    val trainDocs = Seq((1L, "the cat sat on the mat"), (2L, "the dog sat"))
      .toDF("doc_id", "text")
    val model = CorpusOps.knModelFromBigrams(CorpusOps.knBigrams(trainDocs))
    // "dog mat": both words known, pair unseen -> pure backoff, finite logp;
    // "zebra" never seen -> its bigrams are OOV-excluded but REPORTED
    val later = Seq((10L, "the dog mat"), (11L, "zebra zebra zebra"))
      .toDF("doc_id", "text")
    val scored = CorpusOps.knScoresFromBigrams(CorpusOps.knBigrams(later), model)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(scored(10L).getLong(1) == 2 && scored(10L).getLong(2) == 0)
    assert(!scored(10L).isNullAt(3), "backoff-scored doc must have a finite logprob")
    assert(scored(11L).getLong(1) == 0 && scored(11L).getLong(2) == 2,
      "fully-unseen doc must report its bigrams as OOV")
  }
}
