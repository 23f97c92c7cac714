package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded generators of the adversarial corpus shapes that the scale
  * specs run on (ApproxCutsSpec, SessionizeScaleSpec):
  *  - documents: one dominant source ("web", ~88 %), a stopword-only
  *    "spam" shard (~2 %), ~10 % exact-dup clusters and ~10 % near-dups;
  *  - events: one user holding ~50 % of all events.
  * Every column is a seeded hash expression of the row id (no driver
  * loops, no RNG state), so the output is bit-identical at any
  * parallelism. SkewedDataSpec pins both generators' content.
  */
object SkewedData {

  /** Content vocabulary (deterministic): 200 "content" words plus the
    * 10-word stopword core the spam shard is restricted to. */
  private val stopwords = Seq("the", "of", "and", "a", "to", "in", "is", "it", "on", "for")
  private val content = (0 until 200).map(i => s"w${i}x")

  def genDocuments(spark: SparkSession, nDocs: Long): DataFrame = {
    val nPar = spark.sparkContext.defaultParallelism * 4
    val vocabAll = (stopwords ++ content).map(w => s"'$w'").mkString(", ")
    val vocabSpam = stopwords.map(w => s"'$w'").mkString(", ")
    spark.range(0, nDocs, 1, nPar)
      .withColumn("r", pmod(hash(col("id"), lit(1)), lit(1000)))
      // 88% web / 2% spam / 10% across ten minor sources
      .withColumn("source",
        when(col("r") < 880, lit("web"))
          .when(col("r") < 900, lit("spam"))
          .otherwise(concat(lit("src"), pmod(col("r"), lit(10)))))
      // dup structure: 10% exact-dup clusters (~5 docs/template), 10%
      // near-dups (template + 1 perturbed word), 80% unique text seeded
      // by the doc id itself
      .withColumn("d", pmod(hash(col("id"), lit(2)), lit(10)))
      .withColumn("tpl",
        when(col("d") === 0, pmod(hash(col("id"), lit(3)), lit(nDocs / 50)))
          .when(col("d") === 1, pmod(hash(col("id"), lit(4)), lit(nDocs / 50)))
          .otherwise(col("id")))
      .withColumn("n_words",
        (lit(30) + pmod(hash(col("tpl"), lit(5)), lit(90))).cast("int"))
      .withColumn("words", expr(
        s"""transform(sequence(1, n_words), i ->
           |  CASE WHEN source = 'spam'
           |    THEN elt(1 + pmod(hash(tpl, i, 7), ${stopwords.length}), $vocabSpam)
           |    ELSE elt(1 + pmod(hash(tpl, i, 8), ${stopwords.length + content.length}), $vocabAll)
           |  END)""".stripMargin))
      // near-dups perturb exactly one position of the template's text
      .withColumn("text",
        when(col("d") === 1,
          concat_ws(" ", expr(
            s"transform(words, (w, i) -> IF(i = pmod(hash(id, 9), n_words), 'uniq' || id, w))")))
          .otherwise(concat_ws(" ", col("words"))))
      .withColumn("lang", elt(lit(1) + pmod(hash(col("tpl"), lit(10)), lit(5)),
        lit("en"), lit("de"), lit("fr"), lit("es"), lit("zh")))
      .select(
        col("id").as("doc_id"),
        col("text"),
        col("lang"),
        col("source"),
        length(col("text")).cast("long").as("n_chars"))
  }

  /** Skewed event stream: ONE user holds ~50 % of all events — the shape
    * that turns every per-user window (sessionize, as-of, paths, sliding
    * aggregates) into a single-task straggler if the operator depends on
    * user-level parallelism alone. Timestamps are hash-uniform over a span
    * proportional to nEvents, so the hot user's inter-event gaps stay
    * small (few sessions, long sorted runs) while minor users straddle
    * the 30-minute session boundary — both window regimes exercised.
    * Schema matches the driver testdata exactly (incl. `props` = {"k":N}). */
  def genEvents(spark: SparkSession, nEvents: Long): DataFrame = {
    val nPar = spark.sparkContext.defaultParallelism * 4
    val nUsers = math.max(100L, nEvents / 1000L)
    val spanMs = nEvents * 4000L
    spark.range(0, nEvents, 1, nPar)
      .withColumn("user_id",
        when(pmod(hash(col("id"), lit(21)), lit(2)) === 0, lit(0L))
          .otherwise(lit(1L) + pmod(hash(col("id"), lit(22)), lit(nUsers - 1))))
      .withColumn("event_type", elt(
        ((lit(1) + pmod(hash(col("id"), lit(24)), lit(20)))
          +: (Seq.fill(11)("view") ++ Seq.fill(5)("click") ++ Seq.fill(2)("purchase")
              ++ Seq("signup", "error")).map(lit)): _*))
      .select(
        col("id").as("event_id"),
        timestamp_millis(lit(1700000000000L)
          + pmod(hash(col("id"), lit(23)).cast("long") * 524287L, lit(spanMs))).as("ts"),
        col("user_id"),
        col("event_type"),
        (pmod(hash(col("id"), lit(25)), lit(10000)) / 100.0).as("value"),
        concat(lit("{\"k\": "), pmod(hash(col("id"), lit(26)), lit(100)), lit("}"))
          .as("props"))
  }
}
