package graft.operators

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Distributed byte-pair-encoding (BPE) vocabulary induction — the
  * tokenizer-training step of an LLM data pipeline, structured the way it
  * scales:
  *
  *  1. The 100 TB corpus is touched ONCE: collapse to a (word, freq) table
  *     (one shuffle). Everything after runs on that vocabulary-sized table
  *     (~10M rows at web scale — thousands here), which is the classic BPE
  *     optimization: pair statistics are identical whether computed over
  *     occurrences or over word types weighted by frequency.
  *  2. Each merge round is one distributed pair-count aggregation (explode
  *     adjacent symbol pairs, groupBy, weighted sum — partial aggs collapse
  *     map-side) plus a driver argmax of the TOP ROW only (orderBy.limit(1)
  *     = TakeOrderedAndProject, no global sort, O(1) driver state).
  *  3. The winning merge is applied distributed (one narrow map over the
  *     word table). Rounds go through [[StageMaterialize]] to truncate the
  *     growing iterative lineage — same discipline as connected components.
  *
  * Determinism: argmax tie-break is (count desc, left asc, right asc);
  * greedy left-to-right application within a word (overlapping runs like
  * "aaa" merge the leftmost pair first) — both fixed, so a seed-free
  * re-run reproduces the merge table bit-for-bit.
  */
object BpeVocab {

  type Q = (SparkSession, String) => DataFrame

  /** One learned merge: at `rank`, symbols (`left`, `right`) fused, having
    * appeared `pairCount` (frequency-weighted) times. */
  final case class Merge(rank: Int, left: String, right: String, pairCount: Long)

  /** Greedy left-to-right application of one merge to a symbol sequence. */
  private[operators] def applyMerge(l: String, r: String, syms: Seq[String]): Seq[String] = {
    val out = new ArrayBuffer[String](syms.length)
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
        out += (l + r); i += 2
      } else {
        out += syms(i); i += 1
      }
    }
    out.toSeq
  }

  /** Segment one word with a learned merge table (applied in rank order) —
    * the inference half of the tokenizer; driver-side here, broadcast into
    * a UDF for corpus-scale encoding. */
  def segment(word: String, merges: Seq[Merge]): Seq[String] =
    merges.sortBy(_.rank).foldLeft(word.split("").toSeq) { (syms, m) =>
      applyMerge(m.left, m.right, syms)
    }

  /** Word-type cap under which the merge loop runs driver-local: 2M types
    * × ~50 bytes is ~100 MB of driver strings — comfortably under any
    * real driver heap, and web-scale vocabularies (~10M types) still take
    * the distributed path. */
  val DefaultLocalTypeCap: Long = 2000000L

  /** Train `nMerges` BPE merges over the corpus behind `docs(textCol)`.
    * Merges with pair frequency < `minCount` stop training early.
    *
    * The corpus-scale stage (corpus → word-frequency table) is always
    * distributed and runs ONCE. The merge loop then picks its venue by the
    * word-TYPE count: under `localTypeCap` the table is collected once and
    * the rounds run driver-local (each distributed round is a full Spark
    * job over a tiny table — at a real 64k-merge vocabulary that is hours
    * of pure scheduler overhead); above the cap the loop stays distributed
    * (one pair-count aggregation + one-row argmax per round). Both paths
    * share the same argmax tie-break and greedy application, so they
    * produce bit-identical merge tables (BpeVocabSpec pins the parity). */
  def train(docs: DataFrame, textCol: String, nMerges: Int,
            minCount: Long = 2L,
            localTypeCap: Long = DefaultLocalTypeCap): Seq[Merge] = {
    val spark = docs.sparkSession
    val nPar = spark.sparkContext.defaultParallelism
    // corpus → word-frequency table: the ONLY corpus-scale stage.
    // materialized so the type-count probe and the merge loop don't
    // re-run the corpus scan.
    val wordFreq = StageMaterialize(docs
      .select(explode(TextOps.tokens(col(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .repartition(nPar))
    if (wordFreq.count() <= localTypeCap) {
      val collected = wordFreq.collect()
        .map(r => (r.getString(0).split(""), r.getLong(1)))
      trainLocal(collected, nMerges, minCount)
    } else trainDistributed(wordFreq, nMerges, minCount)
  }

  /** Distributed merge loop: each round one pair-count aggregation
    * (partial aggs collapse map-side) plus a one-row driver argmax
    * (TakeOrderedAndProject — no global sort, O(1) driver state). */
  private def trainDistributed(wordFreq: DataFrame, nMerges: Int,
                               minCount: Long): Seq[Merge] = {
    var words = wordFreq.select(split(col("word"), "").as("syms"), col("freq"))
    val merges = ArrayBuffer.empty[Merge]
    var rank = 1
    var done = false
    while (rank <= nMerges && !done) {
      val top = words
        .filter(size(col("syms")) >= 2)
        .select(col("freq"), explode(expr(
          "transform(sequence(0, size(syms) - 2), i -> struct(syms[i] AS l, syms[i + 1] AS r))"))
          .as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum("freq").as("cnt"))
        .orderBy(desc("cnt"), col("l"), col("r"))
        .limit(1).collect()
      top.headOption match {
        case Some(row) if row.getLong(2) >= minCount =>
          val (l, r, cnt) = (row.getString(0), row.getString(1), row.getLong(2))
          merges += Merge(rank, l, r, cnt)
          val mergeUdf = udf((syms: Seq[String]) => applyMerge(l, r, syms))
          words = words.select(mergeUdf(col("syms")).as("syms"), col("freq"))
          // truncate the iterative lineage every few rounds (every round
          // would double the job count; a 4-deep UDF chain is cheap)
          if (rank % 4 == 0) words = StageMaterialize(words)
          rank += 1
        case _ => done = true
      }
    }
    merges.toSeq
  }

  /** `<` in UTF-8 byte order — what Spark's UTF8String comparison (and so
    * the distributed path's `orderBy(col("l"), col("r"))` tie-break) uses.
    * Differs from Java's UTF-16 `compareTo` for supplementary-plane text,
    * so the local path must NOT use plain String ordering. */
  private def utf8Lt(a: String, b: String): Boolean = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    x.length < y.length
  }

  /** Driver-local merge loop over the collected word-type table —
    * semantically identical to [[trainDistributed]] (same weighted pair
    * counts, same (cnt desc, l, r) tie-break in UTF-8 byte order, same
    * greedy left-to-right application), minus the per-round job overhead. */
  private[operators] def trainLocal(words0: Array[(Array[String], Long)],
                                    nMerges: Int, minCount: Long): Seq[Merge] = {
    var words = words0
    val merges = ArrayBuffer.empty[Merge]
    var rank = 1
    var done = false
    while (rank <= nMerges && !done) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      words.foreach { case (syms, f) =>
        var i = 0
        while (i + 1 < syms.length) {
          val k = (syms(i), syms(i + 1))
          counts.update(k, counts.getOrElse(k, 0L) + f)
          i += 1
        }
      }
      var best: ((String, String), Long) = null
      counts.foreach { e =>
        if (best == null || e._2 > best._2 ||
          (e._2 == best._2 && (utf8Lt(e._1._1, best._1._1) ||
            (e._1._1 == best._1._1 && utf8Lt(e._1._2, best._1._2))))) best = e
      }
      if (best == null || best._2 < minCount) done = true
      else {
        val ((l, r), cnt) = best
        merges += Merge(rank, l, r, cnt)
        words = words.map { case (syms, f) =>
          (applyMerge(l, r, syms.toSeq).toArray, f)
        }
        rank += 1
      }
    }
    merges.toSeq
  }

  /** q67: the BPE merge table learned from the documents corpus (20
    * merges). Hash-exact at the driver gate: [[q67Sql]] replays the greedy
    * loop in DuckDB as a generated chain of per-round CTEs;
    * BpeVocabSpec additionally pins the exact merge sequence on a
    * hand-computed corpus. */
  val q67BpeMerges: Q = (s, d) => {
    val merges = train(documents(s, d), "text", nMerges = 20)
    s.createDataFrame(merges.map(m => Row(m.rank, m.left, m.right, m.pairCount)).asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("rank", org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("left", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("right", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("pair_count", org.apache.spark.sql.types.LongType))))
      .orderBy("rank")
  }

  private implicit class SeqAsJava[T](s: Seq[T]) {
    def asJava: java.util.List[T] = {
      val l = new java.util.ArrayList[T](s.length)
      s.foreach(l.add)
      l
    }
  }

  /** DuckDB replay of the greedy merge loop, generated as one SQL
    * statement: a recursive CTE can't aggregate over its own working
    * table, but the round count is a fixed training parameter, so the
    * loop unrolls into 20 chained (pair-count → argmax → apply) CTE
    * rounds — the oracle is the loop, not an approximation of it. Every
    * CTE is MATERIALIZED: round i references round i-1 twice (the word
    * table and the argmax), so inlined CTEs would expand the plan 2^20×.
    *
    * Greedy left-to-right application (overlaps consume: "aaa" + (a,a) →
    * [aa, a]) is exactly non-overlapping string `replace` IF each symbol
    * is wrapped in distinct start/end sentinels (chr(31)/chr(30), absent
    * from the corpus): the pattern "␟a␞␟b␞" never shares a character with
    * the next occurrence, unlike a single-separator encoding where the
    * shared boundary breaks back-to-back merges ([a,a,a,a] must give
    * [aa, aa]). Character splitting uses string_split(word, '') — the
    * same engine pair q80 proves hash-exact against Spark's split("").
    * Tie-break ORDER BY (cnt DESC, l, r) is DuckDB's binary UTF-8
    * collation, matching the engine's UTF8String order. A round whose
    * best pair falls under minCount yields an empty b_i, every later
    * round inherits the unchanged table (and stays empty), and the final
    * UNION simply has no rows at those ranks — the loop's early stop. */
  private def q67CteChain(nMerges: Int, minCount: Long): String = {
    val rounds = (1 to nMerges).map { i =>
      val prev = s"m${i - 1}"
      s"""p$i AS MATERIALIZED (
         |  SELECT l, r, CAST(SUM(freq) AS BIGINT) AS cnt FROM (
         |    SELECT substr(sy[j], 2) AS l, substr(sy[j + 1], 2) AS r, freq FROM (
         |      SELECT sy, freq, unnest(range(1, len(sy))) AS j
         |      FROM (SELECT list_filter(string_split(s, chr(30)), x -> x <> '') AS sy,
         |                   freq FROM $prev)))
         |  GROUP BY l, r),
         |b$i AS MATERIALIZED (
         |  SELECT * FROM (SELECT l, r, cnt FROM p$i ORDER BY cnt DESC, l, r LIMIT 1)
         |  WHERE cnt >= $minCount),
         |m$i AS MATERIALIZED (
         |  SELECT CASE WHEN b.l IS NULL THEN w.s
         |    ELSE replace(w.s, chr(31) || b.l || chr(30) || chr(31) || b.r || chr(30),
         |                 chr(31) || b.l || b.r || chr(30)) END AS s, w.freq
         |  FROM $prev w LEFT JOIN b$i b ON TRUE)""".stripMargin
    }.mkString(",\n")
    s"""m0 AS MATERIALIZED (
       |  SELECT array_to_string(list_transform(string_split(word, ''),
       |           x -> chr(31) || x || chr(30)), '') AS s, freq
       |  FROM (
       |    SELECT word, COUNT(*) AS freq
       |    FROM (SELECT unnest(string_split_regex(TRIM(text), '\\s+')) AS word
       |          FROM documents)
       |    GROUP BY word)),
       |$rounds""".stripMargin
  }

  private def q67SqlGen(nMerges: Int, minCount: Long): String = {
    val finalSel = (1 to nMerges).map(i =>
      s"""SELECT $i AS "rank", l AS "left", r AS "right", cnt AS pair_count FROM b$i""")
      .mkString("\n  UNION ALL ")
    s"""WITH ${q67CteChain(nMerges, minCount)}
       |SELECT * FROM (
       |  $finalSel
       |) ORDER BY "rank"""".stripMargin
  }

  val q67Sql: String = q67SqlGen(nMerges = 20, minCount = 2L)

  /** DuckDB replay of corpus ENCODING with the learned table: the final
    * round's word table m$n IS the segmentation (the training CTE chain is
    * shared verbatim with [[q67Sql]]); stripping the sentinels recovers the
    * word type, counting chr(30)-terminated symbols gives its BPE length,
    * and a join back onto the exploded corpus prices every occurrence. */
  private def q99SqlGen(nMerges: Int, minCount: Long): String =
    s"""WITH ${q67CteChain(nMerges, minCount)},
       |tok AS (SELECT replace(replace(s, chr(31), ''), chr(30), '') AS word,
       |               len(list_filter(string_split(s, chr(30)), x -> x <> '')) AS n_bpe
       |        FROM m$nMerges),
       |docw AS (SELECT source, unnest(string_split_regex(TRIM(text), '\\s+')) AS word
       |         FROM documents)
       |SELECT source,
       |  COUNT(*) AS n_word_occurrences,
       |  COUNT(DISTINCT docw.word) AS n_types,
       |  CAST(SUM(n_bpe) AS BIGINT) AS bpe_tokens
       |FROM docw JOIN tok USING (word)
       |GROUP BY source ORDER BY source""".stripMargin

  val q99Sql: String = q99SqlGen(nMerges = 20, minCount = 2L)

  /** Corpus BPE encoding stats with a freshly-trained `nMerges` table —
    * the INFERENCE half of the tokenizer (q67 is training). The scale
    * shape is the point: [[segment]] runs once per WORD TYPE (vocab-sized
    * — thousands here, ~10M at web scale), never per occurrence, and the
    * corpus pays one explode plus one broadcast join of the (word, n_bpe)
    * map — at 100 TB the per-occurrence cost is a hash probe, not a
    * 20-round merge loop. Per-source output is all-long → hash-exact. */
  def encodeStats(docs: DataFrame, textCol: String, nMerges: Int,
                  minCount: Long = 2L): DataFrame = {
    val spark = docs.sparkSession
    val ordered = train(docs, textCol, nMerges, minCount)
      .sortBy(_.rank).map(m => (m.left, m.right))
    val bc = spark.sparkContext.broadcast(ordered)
    val nBpe = udf((w: String) => {
      var syms: Seq[String] = w.split("").toSeq
      bc.value.foreach { case (l, r) => syms = applyMerge(l, r, syms) }
      syms.length
    })
    val words = docs.select(col("source"), explode(TextOps.tokens(col(textCol))).as("word"))
    val types = words.select("word").distinct().withColumn("n_bpe", nBpe(col("word")))
    words.join(broadcast(types), Seq("word"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_word_occurrences"),
           count_distinct(col("word")).as("n_types"),
           sum("n_bpe").as("bpe_tokens"))
      .orderBy("source")
  }

  /** q99: per-source BPE token accounting under the 20-merge table. */
  val q99BpeEncode: Q = (s, d) => encodeStats(documents(s, d), "text", nMerges = 20)

  /** Tokenizer fertility audit — BPE tokens per word and characters per
    * BPE token, by (source, lang). THE tokenizer-fairness table: a
    * language whose fertility is 2× the corpus mean pays 2× the sequence
    * length (and 2× the training cost) for the same content, which skews
    * every token-budgeted mixture decision downstream. Same scale shape
    * as [[encodeStats]]: segment once per word TYPE, one explode + one
    * broadcast probe per occurrence, |sources|×|langs| output rows.
    * Ratios are exact-integer-over-exact-integer IEEE divisions rounded
    * to 6dp — both engines compute them from identical BIGINTs. */
  def fertilityAudit(docs: DataFrame, textCol: String, nMerges: Int,
                     minCount: Long = 2L): DataFrame = {
    val spark = docs.sparkSession
    val ordered = train(docs, textCol, nMerges, minCount)
      .sortBy(_.rank).map(m => (m.left, m.right))
    val bc = spark.sparkContext.broadcast(ordered)
    val nBpe = udf((w: String) => {
      var syms: Seq[String] = w.split("").toSeq
      bc.value.foreach { case (l, r) => syms = applyMerge(l, r, syms) }
      syms.length
    })
    val words = docs.select(col("source"), col("lang"),
      explode(TextOps.tokens(col(textCol))).as("word"))
    val types = words.select("word").distinct().withColumn("n_bpe", nBpe(col("word")))
    words.join(broadcast(types), Seq("word"))
      .groupBy("source", "lang")
      .agg(count(lit(1)).as("n_word_occurrences"),
        sum(length(col("word"))).as("n_chars"),
        sum("n_bpe").as("bpe_tokens"))
      .withColumn("fertility",
        round(col("bpe_tokens") / col("n_word_occurrences"), 6))
      .withColumn("chars_per_bpe", round(col("n_chars") / col("bpe_tokens"), 6))
      .orderBy("source", "lang")
  }

  /** q111: tokenizer fertility by (source, lang) under the 20-merge table. */
  val q111Fertility: Q = (s, d) => fertilityAudit(documents(s, d), "text", nMerges = 20)

  private def q111SqlGen(nMerges: Int, minCount: Long): String =
    s"""WITH ${q67CteChain(nMerges, minCount)},
       |tok AS (SELECT replace(replace(s, chr(31), ''), chr(30), '') AS word,
       |               len(list_filter(string_split(s, chr(30)), x -> x <> '')) AS n_bpe
       |        FROM m$nMerges),
       |docw AS (SELECT source, lang,
       |                unnest(string_split_regex(TRIM(text), '\\s+')) AS word
       |         FROM documents),
       |agg AS (SELECT source, lang,
       |          COUNT(*) AS n_word_occurrences,
       |          CAST(SUM(len(docw.word)) AS BIGINT) AS n_chars,
       |          CAST(SUM(n_bpe) AS BIGINT) AS bpe_tokens
       |        FROM docw JOIN tok USING (word)
       |        GROUP BY source, lang)
       |SELECT source, lang, n_word_occurrences, n_chars, bpe_tokens,
       |  ROUND(bpe_tokens / CAST(n_word_occurrences AS DOUBLE), 6) AS fertility,
       |  ROUND(n_chars / CAST(bpe_tokens AS DOUBLE), 6) AS chars_per_bpe
       |FROM agg ORDER BY source, lang""".stripMargin

  val q111Sql: String = q111SqlGen(nMerges = 20, minCount = 2L)

  val queries: Map[String, Q] = Map(
    "q67_bpe_merges" -> q67BpeMerges,
    "q99_bpe_encode" -> q99BpeEncode,
    "q111_fertility" -> q111Fertility)

  val oracle: Map[String, String] = Map(
    "q67_bpe_merges" -> q67Sql,
    "q99_bpe_encode" -> q99Sql,
    "q111_fertility" -> q111Sql)
}
