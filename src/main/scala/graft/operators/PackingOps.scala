package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}
import graft.Tables._

/** Round-6 surface widening (q76–q80): the sequence-assembly half of a
  * training-data pipeline — the steps that run AFTER filtering/dedup and
  * turn a cleaned corpus into model-ready sequences — plus two corpus-audit
  * queries (embedding quantization health, per-source language drift).
  *
  * Nothing here is in the reference (its data model is workload matrices,
  * `/root/reference/src/data/dataset.py`); these are the pipeline-brief
  * extensions, so the DuckDB oracle is the contract.
  *
  * Determinism policy is the shared one (EventOps/PipelineOps): exact
  * integer arithmetic wherever possible (q76 bins, q80's sum of squared
  * counts), DECIMAL(38,x) for float sums, 6dp rounding for derived ratios,
  * total ORDER BY with a unique trailing key.
  */
object PackingOps {

  type Q = (SparkSession, String) => DataFrame

  /** Tokens per packed sequence — shared by q76 and the composed pipeline
    * (q82), so they can't silently drift apart. */
  private[graft] val SeqBudget = 256
  private def budget = SeqBudget
  private val chunkW = 64  // sliding-window chunk size (q77)
  private val chunkS = 48  // sliding-window stride (q77)

  private def nTokens(c: Column): Column = size(TextOps.tokens(c))

  /** q76: sequence packing — the concatenate-then-chunk assembly every LLM
    * training run does: per source, documents are laid end-to-end in a
    * deterministic order (doc_id) and cut into fixed 256-token sequences;
    * a doc's bin is where its first token lands.
    */
  /** The packing stage proper, shared by q76 and q82: input must carry
    * (doc_id, source, tok) with non-negative doc_id; output is the
    * per-(source, bin) summary.
    *
    * Scale shape — a TWO-LEVEL prefix sum, so no source ever funnels
    * through one task (a naive `PARTITION BY source` running sum is a
    * single-task scan of whatever the dominant crawl source holds):
    *
    *   1. `grp = doc_id div groupWidth` — monotone in doc_id, so groups
    *      are contiguous runs of the per-source order, and (doc_id being
    *      unique) every group holds AT MOST groupWidth rows: a hard
    *      per-task bound independent of source skew.
    *   2. local prefix `lprev` via a window on (source, grp) — the ONE
    *      full-data hash exchange in the stage, keyed high-cardinality.
    *   3. per-(source, grp) subtotals aggregate on the SAME partitioning
    *      (no second data shuffle; the shared exchange is reused at
    *      runtime), then a per-source cumulative window over that tiny
    *      table (≤ ceil(maxDocId/groupWidth) rows per source) yields each
    *      group's starting offset `off`.
    *   4. offsets broadcast back; `prev = off + lprev` is the exact global
    *      running sum — identical to the single-window oracle SQL.
    *
    * `bin = prev div binBudget` is true integer floor division (both
    * operands long) — exact at any magnitude, matching DuckDB's `//`; the
    * per-(source,bin) aggregation is map-side combinable. All arithmetic
    * is integer end-to-end. For id spaces much sparser than a row
    * sequence, raise groupWidth so the subtotal table stays
    * broadcast-sized (rows ≤ ceil(idRange/groupWidth)). */
  private[graft] def packSummary(docs: DataFrame,
                                 binBudget: Int = SeqBudget,
                                 groupWidth: Long = 1L << 20): DataFrame = {
    val wLocal = Window.partitionBy("source", "grp").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wOff = Window.partitionBy("source").orderBy("grp")
      .rowsBetween(Window.unboundedPreceding, -1)
    // (source, doc_id) are required non-null keys of the corpus model; the
    // explicit filter also makes the shared subtree below the exchange
    // identical on both consumer branches (the inner join would otherwise
    // infer an isnotnull(grp) on one side only, splitting the exchange
    // into two unshareable copies)
    val local = docs
      .withColumn("grp", expr(s"doc_id div $groupWidth"))
      .where(col("source").isNotNull && col("doc_id").isNotNull &&
        col("grp").isNotNull)
      .withColumn("lprev", coalesce(sum("tok").over(wLocal), lit(0L)))
    // group total as max(lprev + tok) — equal to sum(tok) since the
    // running prefix is nondecreasing (tok ≥ 0), but DEPENDING on the
    // window output on purpose: written as sum(tok), column pruning would
    // rewrite this branch into a second scan+tokenize of the corpus;
    // written this way both consumers share the one (source, grp)
    // exchange (reused at runtime), so the corpus is read and shuffled
    // exactly once
    val offsets = local.groupBy("source", "grp")
      .agg(max(col("lprev") + col("tok")).as("ptot"))
      .withColumn("off", coalesce(sum("ptot").over(wOff), lit(0L)))
      .select(col("source"), col("grp"), col("off"))
    local.join(broadcast(offsets), Seq("source", "grp"))
      .withColumn("prev", col("off") + col("lprev"))
      .withColumn("bin", expr(s"prev div $binBudget"))
      .groupBy("source", "bin")
      .agg(count(lit(1)).as("n_docs"), sum("tok").as("tok_sum"))
      .orderBy("source", "bin")
  }

  val q76SeqPacking: Q = (s, d) =>
    packSummary(documents(s, d)
      .select(col("doc_id"), col("source"), nTokens(col("text")).as("tok")))
  val q76Sql: String =
    s"""WITH t AS (
       |  SELECT doc_id, source,
       |    LEN(string_split_regex(TRIM(text), '\\s+')) AS tok
       |  FROM documents),
       |b AS (
       |  SELECT source, tok,
       |    COALESCE(SUM(tok) OVER (PARTITION BY source ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev
       |  FROM t)
       |SELECT source, CAST(prev // $budget AS BIGINT) AS bin,
       |  COUNT(*) AS n_docs, CAST(SUM(tok) AS BIGINT) AS tok_sum
       |FROM b GROUP BY source, bin ORDER BY source, bin""".stripMargin

  /** q77: sliding-window chunking (context-window preparation): each doc's
    * token stream is cut into windows of 64 tokens at stride 48 (16-token
    * overlap), the standard long-document treatment for embedding models.
    * Shape: per-row chunk count is computed arithmetically, then ONE
    * posexplode over sequence(0, nChunks-1) — expansion is ∝ output rows,
    * never materializing per-token rows; slice() keeps the chunk a narrow
    * codegen'd projection. No shuffle but the output sort. */
  val q77ChunkWindows: Q = (s, d) => {
    val toks = TextOps.tokens(col("text"))
    val n = col("n_tok")
    val nChunks = when(n <= chunkW, lit(1L))
      .otherwise(ceil((n - chunkW).cast(DoubleType) / chunkS).cast("long") + 1L)
    val chunk = slice(col("toks"), col("ci").cast("int") * chunkS + 1, lit(chunkW))
    documents(s, d)
      .select(col("doc_id"), toks.as("toks"))
      .withColumn("n_tok", size(col("toks")).cast("long"))
      .select(col("doc_id"), col("toks"),
        posexplode(sequence(lit(0L), nChunks - 1L)).as(Seq("ci", "dummy")))
      .select(col("doc_id"), col("ci"),
        size(chunk).as("chunk_tok"),
        element_at(chunk, 1).as("first_tok"),
        element_at(chunk, -1).as("last_tok"))
      .orderBy("doc_id", "ci")
  }
  val q77Sql: String =
    s"""WITH t AS (
       |  SELECT doc_id, string_split_regex(TRIM(text), '\\s+') AS toks,
       |    LEN(string_split_regex(TRIM(text), '\\s+')) AS n_tok
       |  FROM documents),
       |e AS (
       |  SELECT doc_id, toks,
       |    unnest(range(0, CASE WHEN n_tok <= $chunkW THEN 1
       |      ELSE CAST(CEIL(CAST(n_tok - $chunkW AS DOUBLE) / $chunkS) AS BIGINT) + 1
       |      END)) AS ci
       |  FROM t),
       |c AS (
       |  SELECT doc_id, ci,
       |    list_slice(toks, CAST(ci AS INT) * $chunkS + 1,
       |               CAST(ci AS INT) * $chunkS + $chunkW) AS chunk
       |  FROM e)
       |SELECT doc_id, ci, LEN(chunk) AS chunk_tok,
       |  chunk[1] AS first_tok, chunk[LEN(chunk)] AS last_tok
       |FROM c ORDER BY doc_id, ci""".stripMargin

  /** q78: int8 scalar-quantization audit — the "can we ship these vectors
    * at 1/4 the bytes" check: per-dimension min/max over the corpus fixes
    * the affine scale, each value quantizes to 0..255 via floor(x+0.5)
    * (floor, not round: identical IEEE behavior in both engines), and the
    * query reports the per-dimension mean absolute reconstruction error.
    * Shape: posexplode to (dim, v), ONE 64-key aggregation computing
    * min/max AND the error moments in the same pass via a window-free
    * two-phase groupBy: first min/max (64 rows, broadcast back), then the
    * error aggregation — both exchanges are constant-size (≤64 rows /
    * ≤64 keys) at any corpus scale. Error sums in DECIMAL(38,9): order-
    * independent. */
  val q78EmbedQuantize: Q = (s, d) => {
    val exploded = embeddings(s, d)
      .select(posexplode(col("embedding")).as(Seq("dim", "v")))
      .select(col("dim"), col("v").cast(DoubleType).as("v"))
    val ranges = exploded.groupBy("dim")
      .agg(min("v").as("dmin"), max("v").as("dmax"))
    val scaled = exploded.join(broadcast(ranges), "dim")
      .withColumn("q",
        when(col("dmax") === col("dmin"), lit(0.0))
          .otherwise(floor((col("v") - col("dmin")) * 255.0
            / (col("dmax") - col("dmin")) + 0.5)))
      .withColumn("deq",
        col("q") * (col("dmax") - col("dmin")) / 255.0 + col("dmin"))
    scaled.groupBy("dim")
      .agg(count(lit(1)).as("n"),
        round(first("dmin"), 6).as("dmin6"),
        round(first("dmax"), 6).as("dmax6"),
        sum(abs(col("v") - col("deq")).cast(DecimalType(38, 9))).as("errsum"))
      .select(col("dim"), col("n"), col("dmin6"), col("dmax6"),
        round(col("errsum").cast(DoubleType) / col("n"), 9).as("mean_abs_err"))
      .orderBy("dim")
  }
  val q78Sql: String =
    """WITH d AS (
      |  SELECT unnest(list_transform(range(1, len(embedding) + 1),
      |           i -> struct_pack(dim := i - 1, v := CAST(embedding[i] AS DOUBLE)))) AS e
      |  FROM embeddings),
      |f AS (SELECT e.dim AS dim, e.v AS v FROM d),
      |r AS (SELECT dim, MIN(v) AS dmin, MAX(v) AS dmax FROM f GROUP BY dim),
      |s AS (
      |  SELECT f.dim, f.v, r.dmin, r.dmax,
      |    CASE WHEN r.dmax = r.dmin THEN 0.0
      |         ELSE FLOOR((f.v - r.dmin) * 255.0 / (r.dmax - r.dmin) + 0.5)
      |    END AS q
      |  FROM f JOIN r ON f.dim = r.dim),
      |e AS (
      |  SELECT dim, v, dmin, dmax,
      |    q * (dmax - dmin) / 255.0 + dmin AS deq
      |  FROM s)
      |SELECT dim, COUNT(*) AS n,
      |  ROUND(MIN(dmin), 6) AS dmin6, ROUND(MAX(dmax), 6) AS dmax6,
      |  ROUND(CAST(SUM(CAST(ABS(v - deq) AS DECIMAL(38,9))) AS DOUBLE) / COUNT(*), 9)
      |    AS mean_abs_err
      |FROM e GROUP BY dim ORDER BY dim""".stripMargin

  /** q79: per-source language drift — total-variation distance between each
    * source's language distribution and the corpus-global one; the mixture
    * monitor that catches "this crawl slice is suddenly 90% one language".
    * Shape: ONE corpus scan (two pruned string columns) into a map-side-
    * combinable (source,lang) count; everything after — per-source totals,
    * per-lang totals, the global total — is window sums over that tiny
    * aggregate (|sources|×|langs| rows), so no re-scan, no join, and every
    * post-scan exchange is constant-size at any corpus scale. The
    * per-(source,lang) |p_src − p_glob| is rounded to 9dp then summed as
    * DECIMAL (order-independent); languages ABSENT from a source
    * contribute |0 − p_glob| = p_glob each, folded in closed form as
    * (T − Σ_present lt)/T — exact integer arithmetic, no grid join — so
    * the distance is the true TVD, not the present-language subset (a
    * source that is 100 % one language against a 60/40 global mix scores
    * 0.4, not 0.2). TVD = half the total, rounded 6dp. */
  val q79LangDrift: Q = (s, d) => {
    val bySrc = Window.partitionBy("source")
    val byLang = Window.partitionBy("lang")
    val all = Window.partitionBy()
    documents(s, d)
      .groupBy("source", "lang").agg(count(lit(1)).as("c"))
      .select(col("source"), col("c"),
        sum("c").over(bySrc).as("st"),
        sum("c").over(byLang).as("lt"),
        sum("c").over(all).as("t"))
      .withColumn("adiff",
        round(abs(col("c").cast(DoubleType) / col("st")
          - col("lt").cast(DoubleType) / col("t")), 9)
          .cast(DecimalType(38, 9)))
      .groupBy("source")
      .agg(first("st").as("n_docs"),
        sum("adiff").as("present"),
        sum("lt").as("lt_present"), // each lang once per source row: exact
        first("t").as("t"))
      .select(col("source"), col("n_docs"),
        round((col("present")
          + round((col("t") - col("lt_present")).cast(DoubleType) / col("t"), 9)
            .cast(DecimalType(38, 9))).cast(DoubleType) / 2.0, 6).as("tv_dist"))
      .orderBy("source")
  }
  val q79Sql: String =
    """WITH sl AS (
      |  SELECT source, lang, COUNT(*) AS c FROM documents GROUP BY source, lang),
      |w AS (
      |  SELECT source, c,
      |    SUM(c) OVER (PARTITION BY source) AS st,
      |    SUM(c) OVER (PARTITION BY lang) AS lt,
      |    SUM(c) OVER () AS t
      |  FROM sl),
      |j AS (
      |  SELECT source, st, lt, t,
      |    CAST(ROUND(ABS(CAST(c AS DOUBLE) / st
      |      - CAST(lt AS DOUBLE) / CAST(t AS DOUBLE)), 9) AS DECIMAL(38,9)) AS adiff
      |  FROM w)
      |SELECT source, CAST(MIN(st) AS BIGINT) AS n_docs,
      |  ROUND(CAST(SUM(adiff)
      |    + CAST(ROUND(CAST(MIN(t) - SUM(lt) AS DOUBLE) / CAST(MIN(t) AS DOUBLE), 9)
      |           AS DECIMAL(38,9)) AS DOUBLE) / 2.0, 6) AS tv_dist
      |FROM j GROUP BY source ORDER BY source""".stripMargin

  /** q80: character-diversity quality score — Gini impurity of each doc's
    * non-whitespace character histogram, the cheap "is this keyboard mash /
    * one repeated char" filter. gini = 1 − Σc²/T² where c are per-char
    * counts and T their total: both sums are INTEGER — bit-exact in any
    * engine, no float-order hazard — with one final double division
    * rounded 6dp. Shape: explode to (doc, char) then two map-side-
    * combinable aggregations keyed by doc_id (high-cardinality → scales
    * out); the char histogram never materializes wider than the
    * aggregation hash map. A doc with no non-whitespace characters
    * degenerates to the single-empty-field split in BOTH engines (one ''
    * "char", gini 0) — pinned by PackingOpsSpec's degenerate-doc case. */
  val q80CharDiversity: Q = (s, d) => {
    documents(s, d)
      .select(col("doc_id"),
        explode(split(regexp_replace(col("text"), "\\s+", ""), "")).as("ch"))
      .groupBy("doc_id", "ch").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum("c").as("t"),
        count(lit(1)).as("n_distinct_chars"),
        sum(col("c") * col("c")).as("sumsq"))
      .select(col("doc_id"), col("t").as("n_chars_nonws"), col("n_distinct_chars"),
        round(lit(1.0) - col("sumsq").cast(DoubleType)
          / (col("t") * col("t")).cast(DoubleType), 6).as("gini"))
      .orderBy("doc_id")
  }
  val q80Sql: String =
    """WITH ch AS (
      |  SELECT doc_id,
      |    unnest(string_split(regexp_replace(text, '\s+', '', 'g'), '')) AS ch
      |  FROM documents),
      |h AS (SELECT doc_id, ch, COUNT(*) AS c FROM ch GROUP BY doc_id, ch)
      |SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_chars_nonws,
      |  COUNT(*) AS n_distinct_chars,
      |  ROUND(1.0 - CAST(SUM(c * c) AS DOUBLE)
      |        / CAST(SUM(c) * SUM(c) AS DOUBLE), 6) AS gini
      |FROM h GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** q120: deterministic training-order export manifest — every document
    * gets (shard, position): shard from q86's content-addressed router,
    * position = the document's rank within its shard under a
    * content-addressed shuffle key md5("order:" ++ doc_id). The export
    * step of a corpus build: training order is reproducible on any
    * engine, stable per document (growth preserves the RELATIVE order of
    * existing documents — a new doc with a smaller order key shifts later
    * docs' absolute positions, which is the invariant ExportOrderSpec
    * actually pins), and free of RNG state.
    *
    * Scale shape — the packSummary (q76) two-level rank, because a
    * per-shard ROW_NUMBER window would sort corpus/16 rows in ONE task:
    * rank locally within (shard, grp) where grp = the order key's first
    * byte (256 groups/shard, so tasks are corpus/4096), then add
    * per-(shard, grp) count offsets (≤4096 rows, broadcast back). The
    * group totals are derived from max(local rank) ON the window output —
    * the q76 exchange-reuse trick: both consumers share one (shard, grp)
    * exchange instead of re-scanning the corpus. */
  val q120ExportOrder: Q = (s, d) => {
    val base = documents(s, d).select(col("doc_id"))
      .withColumn("shard", MixtureOps.shardCol)
      .withColumn("okey",
        md5(concat(lit("order:"), col("doc_id").cast("string"))))
      .withColumn("grp", conv(substring(col("okey"), 1, 2), 16, 10).cast("int"))
      .where(col("doc_id").isNotNull)
    val wLocal = Window.partitionBy("shard", "grp").orderBy("okey", "doc_id")
    val local = base.withColumn("rk_local", row_number().over(wLocal))
    val wOff = Window.partitionBy("shard").orderBy("grp")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = local.groupBy("shard", "grp")
      .agg(max(col("rk_local")).cast("long").as("cnt"))
      .withColumn("off", coalesce(sum("cnt").over(wOff), lit(0L)))
      .select(col("shard"), col("grp"), col("off"))
    local.join(broadcast(offsets), Seq("shard", "grp"))
      .select(col("doc_id"), col("shard"),
        (col("off") + col("rk_local") - 1).cast("long").as("position"))
      .orderBy("shard", "position")
  }
  val q120Sql: String =
    """WITH k AS (
      |  SELECT doc_id,
      |    CAST(INSTR('0123456789abcdef',
      |         SUBSTR(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1 AS INTEGER)
      |      AS shard,
      |    md5('order:' || CAST(doc_id AS VARCHAR)) AS okey
      |  FROM documents)
      |SELECT doc_id, shard,
      |  CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY okey, doc_id) - 1
      |       AS BIGINT) AS position
      |FROM k ORDER BY shard, position""".stripMargin

  /** q141: packing-efficiency audit — for each candidate context length
    * L, the number the training-compute plan actually needs: how many
    * L-token sequences the corpus fills under (a) per-document padding
    * (each doc chunked to ⌈dl/L⌉ sequences, the last one padded — the
    * naive loader) vs (b) concatenate-then-chunk packing (q76's
    * strategy: ⌈Σdl/L⌉ sequences, waste only in the final sequence), and
    * the padding-waste fraction each burns. The (a)−(b) gap IS the GPU
    * time packing buys; it shrinks as L approaches the mean doc length
    * from below and explodes past it — which is why this audit runs per
    * candidate L before anyone fixes the context length.
    *
    * Shape: ONE aggregate over the token counts (Σdl exact, Σ⌈dl/L⌉ per
    * L via integer arithmetic in the same pass — the per-L "explode" is
    * over a 3-element literal, not the corpus), so the whole audit is a
    * map-side-collapsing scan. All outputs are exact-integer or one
    * 6dp-rounded division. */
  val q141PackingEfficiency: Q = (s, d) => {
    val lens = Seq(128, 256, 512)
    val dl = documents(s, d)
      .select(size(split(trim(col("text")), "\\s+")).cast("long").as("dl"))
    val aggCols = Seq(
      count(lit(1)).as("n_docs"), sum(col("dl")).as("total_tokens")) ++
      lens.map(L => sum(ceil(col("dl").cast("double") / L).cast("long"))
        .as(s"pad_$L"))
    val aggs = dl.agg(aggCols.head, aggCols.tail: _*)
    val perL = lens.map { L =>
      aggs.select(lit(L).as("seq_len"), col("n_docs"), col("total_tokens"),
        col(s"pad_$L").as("n_seq_padded"),
        ceil(col("total_tokens").cast("double") / L).cast("long")
          .as("n_seq_packed"))
    }.reduce(_.unionByName(_))
    perL.select(col("seq_len"), col("n_docs"), col("total_tokens"),
        col("n_seq_padded"), col("n_seq_packed"),
        round(lit(1.0) - col("total_tokens").cast("double")
          / (col("n_seq_padded") * col("seq_len")), 6).as("waste_padded"),
        round(lit(1.0) - col("total_tokens").cast("double")
          / (col("n_seq_packed") * col("seq_len")), 6).as("waste_packed"))
      .orderBy("seq_len")
  }
  val q141Sql: String =
    """WITH dl AS (
      |  SELECT CAST(len(string_split_regex(TRIM(text), '\s+')) AS BIGINT) AS dl
      |  FROM documents),
      |a AS (
      |  SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS total_tokens,
      |    CAST(SUM(CAST(CEIL(CAST(dl AS DOUBLE) / 128) AS BIGINT)) AS BIGINT) AS pad_128,
      |    CAST(SUM(CAST(CEIL(CAST(dl AS DOUBLE) / 256) AS BIGINT)) AS BIGINT) AS pad_256,
      |    CAST(SUM(CAST(CEIL(CAST(dl AS DOUBLE) / 512) AS BIGINT)) AS BIGINT) AS pad_512
      |  FROM dl),
      |perl AS (
      |  SELECT 128 AS seq_len, n_docs, total_tokens, pad_128 AS n_seq_padded,
      |    CAST(CEIL(CAST(total_tokens AS DOUBLE) / 128) AS BIGINT) AS n_seq_packed FROM a
      |  UNION ALL
      |  SELECT 256, n_docs, total_tokens, pad_256,
      |    CAST(CEIL(CAST(total_tokens AS DOUBLE) / 256) AS BIGINT) FROM a
      |  UNION ALL
      |  SELECT 512, n_docs, total_tokens, pad_512,
      |    CAST(CEIL(CAST(total_tokens AS DOUBLE) / 512) AS BIGINT) FROM a)
      |SELECT seq_len, n_docs, total_tokens, n_seq_padded, n_seq_packed,
      |  ROUND(1.0 - CAST(total_tokens AS DOUBLE) / (n_seq_padded * seq_len), 6)
      |    AS waste_padded,
      |  ROUND(1.0 - CAST(total_tokens AS DOUBLE) / (n_seq_packed * seq_len), 6)
      |    AS waste_packed
      |FROM perl ORDER BY seq_len""".stripMargin

  val queries: Map[String, Q] = Map(
    "q141_packing_efficiency" -> q141PackingEfficiency,
    "q76_seq_packing" -> q76SeqPacking,
    "q77_chunk_windows" -> q77ChunkWindows,
    "q78_embed_quantize" -> q78EmbedQuantize,
    "q79_lang_drift" -> q79LangDrift,
    "q80_char_diversity" -> q80CharDiversity,
    "q120_export_order" -> q120ExportOrder,
  )
  val oracle: Map[String, String] = Map(
    "q141_packing_efficiency" -> q141Sql,
    "q76_seq_packing" -> q76Sql,
    "q77_chunk_windows" -> q77Sql,
    "q78_embed_quantize" -> q78Sql,
    "q79_lang_drift" -> q79Sql,
    "q80_char_diversity" -> q80Sql,
    "q120_export_order" -> q120Sql,
  )
}
