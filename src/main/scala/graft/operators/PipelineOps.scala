package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}
import graft.Tables._

/** Round-3+ surface widening (q48–q58, q65): the window-function family
  * beyond rank (lead/lag/ntile/percent_rank), full-outer joins, correlated
  * subqueries and LATERAL top-k through the SQL front-end, higher-order
  * array functions, and the remaining training-pipeline staples
  * (stratified sampling, repetition scoring, histogramming, funnel
  * analysis, PII redaction, per-source quota sampling).
  *
  * Determinism policy is the shared one (EventOps): integer microseconds
  * for time arithmetic, DECIMAL(38,6) for float sums, 6dp rounding for
  * small-magnitude ratios, total ORDER BY with a unique trailing key.
  */
object PipelineOps {

  type Q = (SparkSession, String) => DataFrame

  /** q48: the navigation/distribution window family over per-customer order
    * history: lag/lead prices, ntile quartile, percent_rank. One window
    * spec → ONE shuffle on o_custkey; all four functions evaluate in a
    * single WindowExec pass. o_custkey is high-cardinality at scale so the
    * window parallelizes; no global sort besides the output ORDER BY. */
  val q48WindowSuite: Q = (s, d) => {
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    orders(s, d).select(
      col("o_custkey"), col("o_orderkey"),
      lag("o_totalprice", 1).over(w).as("prev_price"),
      lead("o_totalprice", 1).over(w).as("next_price"),
      ntile(4).over(w).as("quartile"),
      round(percent_rank().over(w), 6).as("pr"))
      .orderBy("o_custkey", "o_orderkey")
  }
  val q48Sql: String =
    """SELECT o_custkey, o_orderkey,
      |  LAG(o_totalprice) OVER w AS prev_price,
      |  LEAD(o_totalprice) OVER w AS next_price,
      |  NTILE(4) OVER w AS quartile,
      |  ROUND(PERCENT_RANK() OVER w, 6) AS pr
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  /** q50: stratified content-addressed sampling — per-language keep rates
    * (en 50%, zh/es 25%, de/fr 12.5%) decided by the first hex digit of
    * md5(doc_id). Like q40's split this is the production sampling shape:
    * stateless, engine-portable, and stable under corpus growth (a doc's
    * fate never depends on what else is in the corpus). Pure filter —
    * runs at scan speed, no shuffle but the output sort. */
  val q50StratifiedSample: Q = (s, d) => {
    val h1 = substring(md5(col("doc_id").cast("string")), 1, 1)
    val thr = when(col("lang") === "en", "8")
      .when(col("lang").isin("zh", "es"), "4").otherwise("2")
    documents(s, d)
      .filter(h1 < thr)
      .select(col("doc_id"), col("lang"), col("source"))
      .orderBy("doc_id")
  }
  val q50Sql: String =
    """SELECT doc_id, lang, source FROM documents
      |WHERE SUBSTR(md5(CAST(doc_id AS VARCHAR)), 1, 1) <
      |  CASE WHEN lang = 'en' THEN '8'
      |       WHEN lang IN ('zh', 'es') THEN '4' ELSE '2' END
      |ORDER BY doc_id""".stripMargin

  /** q51: repetition scoring (the Gopher-style quality signal): fraction of
    * word-3-grams that are repeats of an earlier 3-gram in the same doc.
    * Per-row array arithmetic — total 3-grams is size-2, distinct comes
    * from the shared shingle kernel — so the op is a narrow codegen'd
    * projection; no shuffle at any scale. */
  val q51Repetition: Q = (s, d) => {
    val l = split(trim(col("text")), "\\s+")
    documents(s, d)
      .select(col("doc_id"), l.as("l"))
      .filter(size(col("l")) >= 3)
      .select(col("doc_id"),
        (size(col("l")) - 2).as("n_ngrams"),
        size(graft.functions.HashKernels.shingles3(col("l"))).as("n_distinct"))
      .select(col("doc_id"), col("n_ngrams"), col("n_distinct"),
        (col("n_ngrams") - col("n_distinct")).as("n_repeated"),
        round((col("n_ngrams") - col("n_distinct")).cast("double") / col("n_ngrams"), 6)
          .as("rep_ratio"))
      .orderBy("doc_id")
  }
  val q51Sql: String =
    """WITH g AS (
      |  SELECT doc_id, LEN(l) - 2 AS n_ngrams,
      |    LEN(list_distinct(list_transform(range(1, len(l) - 1),
      |        i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2]))) AS n_distinct
      |  FROM (SELECT doc_id, string_split_regex(TRIM(text), '\s+') AS l FROM documents)
      |  WHERE LEN(l) >= 3)
      |SELECT doc_id, n_ngrams, n_distinct,
      |  n_ngrams - n_distinct AS n_repeated,
      |  ROUND(CAST(n_ngrams - n_distinct AS DOUBLE) / n_ngrams, 6) AS rep_ratio
      |FROM g ORDER BY doc_id""".stripMargin

  /** q52: token-count histogram — fixed-width buckets of 50 tokens capped
    * at bucket 9. The length-distribution profile every corpus audit runs:
    * one narrow projection + a 10-key partial agg (each map task emits ≤10
    * rows before the exchange, so the shuffle is negligible at any scale). */
  val q52TokenHistogram: Q = (s, d) => {
    val n = size(split(trim(col("text")), "\\s+"))
    documents(s, d)
      .select(least(floor(n / 50).cast("long"), lit(9L)).as("bucket"),
        n.as("n_tokens"), col("n_chars"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"),
        min("n_tokens").as("min_tokens"), max("n_tokens").as("max_tokens"),
        sum("n_chars").as("sum_chars"))
      .orderBy("bucket")
  }
  val q52Sql: String =
    """WITH t AS (
      |  SELECT LEN(string_split_regex(TRIM(text), '\s+')) AS n_tokens, n_chars
      |  FROM documents)
      |SELECT LEAST(CAST(FLOOR(n_tokens / 50) AS BIGINT), 9) AS bucket,
      |  COUNT(*) AS n_docs,
      |  MIN(n_tokens) AS min_tokens, MAX(n_tokens) AS max_tokens,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      |FROM t GROUP BY 1 ORDER BY bucket""".stripMargin

  /** q53: full-outer join — per-nation supplier vs customer presence with
    * coalesced counts and exact decimal balance sums. The two per-nation
    * aggregates are tiny (≤|nations| rows) so the outer join broadcasts;
    * at scale both inputs arrive pre-aggregated (partial aggs collapse the
    * fact tables map-side) and the join stays dimension-sized. */
  val q53FullOuter: Q = (s, d) => {
    val sup = supplier(s, d).groupBy(col("s_nationkey").as("nationkey"))
      .agg(count(lit(1)).as("n_suppliers"),
        sum(col("s_acctbal").cast(DecimalType(38, 6))).cast(DoubleType).as("sup_bal"))
    val cust = customer(s, d).groupBy(col("c_nationkey").as("nationkey"))
      .agg(count(lit(1)).as("n_customers"),
        sum(col("c_acctbal").cast(DecimalType(38, 6))).cast(DoubleType).as("cust_bal"))
    sup.join(cust, Seq("nationkey"), "full_outer")
      .select(col("nationkey"),
        coalesce(col("n_suppliers"), lit(0L)).as("n_suppliers"),
        coalesce(col("n_customers"), lit(0L)).as("n_customers"),
        coalesce(col("sup_bal"), lit(0.0)).as("sup_bal"),
        coalesce(col("cust_bal"), lit(0.0)).as("cust_bal"))
      .orderBy("nationkey")
  }
  val q53Sql: String =
    """WITH sup AS (
      |  SELECT s_nationkey AS nationkey, COUNT(*) AS n_suppliers,
      |    CAST(SUM(CAST(s_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS sup_bal
      |  FROM supplier GROUP BY 1),
      |cust AS (
      |  SELECT c_nationkey AS nationkey, COUNT(*) AS n_customers,
      |    CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS cust_bal
      |  FROM customer GROUP BY 1)
      |SELECT COALESCE(sup.nationkey, cust.nationkey) AS nationkey,
      |  COALESCE(n_suppliers, 0) AS n_suppliers,
      |  COALESCE(n_customers, 0) AS n_customers,
      |  COALESCE(sup_bal, 0.0) AS sup_bal,
      |  COALESCE(cust_bal, 0.0) AS cust_bal
      |FROM sup FULL OUTER JOIN cust ON sup.nationkey = cust.nationkey
      |ORDER BY nationkey""".stripMargin

  /** q54: correlated subqueries through the SQL front-end — EXISTS and
    * NOT EXISTS per customer, aggregated by market segment. Catalyst
    * decorrelates both into left-semi / left-anti hash joins (verify with
    * explain: no per-row subquery execution survives), which is the whole
    * point of declaring them declaratively: at scale they run as two
    * shuffled-hash/broadcast joins, not |customers| probes. */
  val q54ExistsSubquery: Q = (s, d) => {
    customer(s, d).createOrReplaceTempView("graft_customer")
    orders(s, d).createOrReplaceTempView("graft_orders")
    s.sql(
      """SELECT c_mktsegment,
        |  COUNT(*) AS n_customers,
        |  COUNT(CASE WHEN EXISTS (
        |    SELECT 1 FROM graft_orders o
        |    WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
        |    THEN 1 END) AS n_with_big_order,
        |  COUNT(CASE WHEN NOT EXISTS (
        |    SELECT 1 FROM graft_orders o WHERE o.o_custkey = c.c_custkey)
        |    THEN 1 END) AS n_inactive
        |FROM graft_customer c
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin)
  }
  val q54Sql: String =
    """SELECT c_mktsegment,
      |  COUNT(*) AS n_customers,
      |  COUNT(CASE WHEN EXISTS (
      |    SELECT 1 FROM orders o
      |    WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
      |    THEN 1 END) AS n_with_big_order,
      |  COUNT(CASE WHEN NOT EXISTS (
      |    SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
      |    THEN 1 END) AS n_inactive
      |FROM customer c
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin

  /** q55: higher-order array functions over the embedding column —
    * filter (positive-component count), array_max, and an order-free exact
    * sum via a DECIMAL(38,6) fold. All lambda evaluation happens inside
    * codegen on the unexploded array: per-row work, zero shuffle, and no
    * 64×-row blow-up (the q29 explode detour exists only where the oracle
    * needs element rows). */
  val q55ArrayFuncs: Q = (s, d) => {
    val dec = (c: org.apache.spark.sql.Column) =>
      c.cast(DoubleType).cast(DecimalType(38, 6))
    embeddings(s, d).select(
      col("vec_id"),
      size(col("embedding")).as("dim"),
      size(filter(col("embedding"), x => x > 0)).as("n_pos"),
      array_max(col("embedding")).cast(DoubleType).as("max_val"),
      aggregate(col("embedding"), lit(BigDecimal(0)).cast(DecimalType(38, 6)),
        (acc, v) => acc + dec(v)).cast(DoubleType).as("sum_val"))
      .orderBy("vec_id")
  }
  val q55Sql: String =
    """SELECT vec_id,
      |  LEN(embedding) AS dim,
      |  LEN(list_filter(embedding, x -> x > 0)) AS n_pos,
      |  CAST(list_max(embedding) AS DOUBLE) AS max_val,
      |  CAST(list_sum(list_transform(embedding,
      |       x -> CAST(CAST(x AS DOUBLE) AS DECIMAL(38,6)))) AS DOUBLE) AS sum_val
      |FROM embeddings ORDER BY vec_id""".stripMargin

  /** q56: funnel analysis — per user: first view, first click at-or-after
    * that view, first purchase at-or-after that click, and the funnel stage
    * reached. Three conditional-min aggregations chained on user_id; all
    * three shuffles land on the SAME key so Catalyst reuses one exchange
    * partitioning (and at scale a bucketed-by-user events table makes them
    * all zero-exchange). Time arithmetic in exact integer microseconds. */
  val q56Funnel: Q = (s, d) => funnelStages(events(s, d))

  /** The q56 funnel over ANY events frame (user_id, event_type, ts) — split
    * out so specs can certify the same code path on synthetic frames,
    * independent of the driver testdata's encoding. */
  def funnelStages(ev: DataFrame): DataFrame = {
    val e = ev.select(col("user_id"), col("event_type"),
      unix_micros(col("ts")).as("us"))
    val v = e.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("us").as("v_us"))
    val c = e.join(v, "user_id")
      .filter(col("event_type") === "click" && col("us") >= col("v_us"))
      .groupBy("user_id").agg(min("us").as("c_us"))
    val p = e.join(c, "user_id")
      .filter(col("event_type") === "purchase" && col("us") >= col("c_us"))
      .groupBy("user_id").agg(min("us").as("p_us"))
    v.join(c, Seq("user_id"), "left_outer")
      .join(p, Seq("user_id"), "left_outer")
      .select(col("user_id"), col("v_us"), col("c_us"), col("p_us"),
        (lit(1)
          + when(col("c_us").isNotNull, 1).otherwise(0)
          + when(col("p_us").isNotNull, 1).otherwise(0)).as("stage"))
      .orderBy("user_id")
  }
  val q56Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS us
      |  FROM events),
      |v AS (SELECT user_id, MIN(us) AS v_us FROM e
      |      WHERE event_type = 'view' GROUP BY user_id),
      |c AS (SELECT e.user_id, MIN(us) AS c_us
      |      FROM e JOIN v ON e.user_id = v.user_id
      |      WHERE event_type = 'click' AND us >= v_us GROUP BY e.user_id),
      |p AS (SELECT e.user_id, MIN(us) AS p_us
      |      FROM e JOIN c ON e.user_id = c.user_id
      |      WHERE event_type = 'purchase' AND us >= c_us GROUP BY e.user_id)
      |SELECT v.user_id, v_us, c_us, p_us,
      |  1 + CASE WHEN c_us IS NOT NULL THEN 1 ELSE 0 END
      |    + CASE WHEN p_us IS NOT NULL THEN 1 ELSE 0 END AS stage
      |FROM v LEFT JOIN c ON v.user_id = c.user_id
      |       LEFT JOIN p ON v.user_id = p.user_id
      |ORDER BY v.user_id""".stripMargin

  /** q57: entity redaction — the PII-masking pass of a corpus pipeline:
    * count then globally replace a sensitive-term pattern, and re-fingerprint
    * the masked text (downstream dedup keys must be computed AFTER masking
    * or near-dups diverge on the masked spans). The pattern here is a
    * stand-in marker set; production swaps in email/phone/ID regexes —
    * the plan shape (one codegen'd projection, no shuffle) is identical. */
  val q57Redact: Q = (s, d) => {
    val pat = "\\b(customer|value)\\b"
    val masked = regexp_replace(col("text"), pat, "<ENT>")
    documents(s, d).select(
      col("doc_id"),
      regexp_count(col("text"), lit(pat)).as("n_masked"),
      length(masked).as("masked_len"),
      md5(masked).as("masked_hash"))
      .orderBy("doc_id")
  }
  val q57Sql: String =
    """SELECT doc_id,
      |  LEN(regexp_extract_all(text, '\b(customer|value)\b')) AS n_masked,
      |  LENGTH(regexp_replace(text, '\b(customer|value)\b', '<ENT>', 'g')) AS masked_len,
      |  md5(regexp_replace(text, '\b(customer|value)\b', '<ENT>', 'g')) AS masked_hash
      |FROM documents ORDER BY doc_id""".stripMargin

  /** q58: per-source quota sampling (data mixing): keep at most 10 docs per
    * source, prioritized content-addressed (md5 of doc_id) so the selection
    * is stable under corpus growth — the shape behind "cap source X at N
    * documents" mixture rules. One shuffle on source for the window; at
    * scale source cardinality is high and the per-group sort is bounded by
    * the quota's TakeOrdered behavior. */
  val q58SourceQuota: Q = (s, d) => {
    val w = Window.partitionBy("source")
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    documents(s, d)
      .select(col("doc_id"), col("source"),
        row_number().over(w).as("rn"))
      .filter(col("rn") <= 10)
      .orderBy("source", "rn")
  }
  val q58Sql: String =
    """SELECT doc_id, source, rn FROM (
      |  SELECT doc_id, source,
      |    ROW_NUMBER() OVER (PARTITION BY source
      |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      |  FROM documents)
      |WHERE rn <= 10 ORDER BY source, rn""".stripMargin

  /** q65: LATERAL correlated subquery — top-2 orders per customer through
    * the SQL front-end's lateral join. Declaring "for each customer, its 2
    * most expensive orders" as LATERAL (ORDER BY ... LIMIT 2) hands
    * Catalyst the decorrelation: the per-customer probe rewrites to a
    * window/rank over a single equi-join on o_custkey — two shuffles on
    * high-cardinality keys, NOT |customers| subquery executions and no
    * cartesian (PlanShapeSpec asserts). Same top-k-per-key shape as q58's
    * explicit window; this entry exercises the declarative route a SQL
    * user would write. */
  val q65LateralTopK: Q = (s, d) => {
    customer(s, d).createOrReplaceTempView("graft_customer")
    orders(s, d).createOrReplaceTempView("graft_orders")
    s.sql(
      """SELECT c.c_custkey, c.c_mktsegment, o.o_orderkey, o.o_totalprice
        |FROM graft_customer c, LATERAL (
        |  SELECT o_orderkey, o_totalprice FROM graft_orders o
        |  WHERE o.o_custkey = c.c_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o
        |ORDER BY c.c_custkey, o.o_totalprice DESC, o.o_orderkey""".stripMargin)
  }
  val q65Sql: String =
    """SELECT c.c_custkey, c.c_mktsegment, o.o_orderkey, o.o_totalprice
      |FROM customer c, LATERAL (
      |  SELECT o_orderkey, o_totalprice FROM orders o
      |  WHERE o.o_custkey = c.c_custkey
      |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o
      |ORDER BY c.c_custkey, o.o_totalprice DESC, o.o_orderkey""".stripMargin

  /** q69: token-budget mixture sampling — per source, keep documents in
    * content-addressed (md5) order until the cumulative TOKEN count hits
    * the budget (500 here). This is q58's quota rule upgraded to what
    * mixture recipes actually specify ("at most N tokens from source X",
    * not N documents). Stable under corpus growth like all the
    * content-addressed ops: a doc's keep/drop flips only if new docs hash
    * ahead of it within its own source. One window shuffle on the source
    * key; the running sum is a narrow frame over the per-source sort.
    * Scale note: with few huge sources the per-source window is a single
    * task; the scalable refinement is two-level — bucket each source by an
    * md5 prefix, sum buckets, prefix-sum the (tiny) bucket totals, then
    * run local running sums — same output, O(rows/bucket) per task. */
  val q69TokenBudget: Q = (s, d) => {
    val w = Window.partitionBy("source")
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    documents(s, d)
      .select(col("doc_id"), col("source"),
        size(split(trim(col("text")), "\\s+")).as("n_tokens"))
      .withColumn("cum_tokens", sum("n_tokens").over(w).cast("long"))
      .filter(col("cum_tokens") <= 500)
      .orderBy("source", "cum_tokens", "doc_id")
  }
  val q69Sql: String =
    """WITH t AS (
      |  SELECT doc_id, source,
      |    LEN(string_split_regex(TRIM(text), '\s+')) AS n_tokens,
      |    md5(CAST(doc_id AS VARCHAR)) AS h
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, source, n_tokens,
      |    SUM(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
      |  FROM t)
      |SELECT doc_id, source, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens
      |FROM c WHERE cum_tokens <= 500
      |ORDER BY source, cum_tokens, doc_id""".stripMargin

  /** q106: weighted priority sampling (Duffield–Lund–Thorup) — a
    * per-source top-n sample where inclusion probability tracks document
    * weight (n_chars here), computed WITHOUT any RNG state: the uniform
    * is content-addressed (first 8 md5 hex digits of doc_id → v ∈
    * [0, 2³²)), and the priority w·2³²/(v+1) is a ratio of exact
    * integers, so the IEEE division is bit-identical across engines —
    * no transcendental in the ranking key (the classic A-Res key
    * u^(1/w) would put ln/pow in the sort order). Content addressing
    * gives the property quota/stratified sampling (q50/q58) already
    * rely on: adding new documents never changes an existing document's
    * priority, so incremental corpus builds keep their samples stable.
    * One narrow projection + the per-source rank window
    * (WindowGroupLimit-pruned); scales like q58. */
  val q106PrioritySample: Q = (s, d) => {
    val v = conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
      .cast("long")
    val pri = round(
      (col("n_chars").cast(DoubleType) * 4294967296.0) /
        (v + 1).cast(DoubleType), 6)
    val w = Window.partitionBy("source").orderBy(desc("priority"), col("doc_id"))
    documents(s, d)
      .select(col("doc_id"), col("source"), col("n_chars"), pri.as("priority"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .orderBy("source", "rk")
  }
  val q106Sql: String =
    """WITH p AS (
      |  SELECT doc_id, source, n_chars,
      |    ROUND((CAST(n_chars AS DOUBLE) * 4294967296.0)
      |          / CAST(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
      |                      AS BIGINT) + 1 AS DOUBLE), 6) AS priority
      |  FROM documents)
      |SELECT doc_id, source, n_chars, priority,
      |  ROW_NUMBER() OVER (PARTITION BY source
      |                     ORDER BY priority DESC, doc_id) AS rk
      |FROM p QUALIFY rk <= 5 ORDER BY source, rk""".stripMargin

  /** Snapshot diff between two corpus versions: per-source counts of
    * added / removed / changed / unchanged documents, change detected by
    * content hash (not text compare — the diff shuffles 32-byte hashes,
    * never document bodies). The corpus-versioning audit every managed
    * dataset publishes between releases; at rest both sides are sharded
    * by the same content-addressed key (q86 router), so the doc_id join
    * co-locates and the full-outer join runs bucket-local. */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame): DataFrame = {
    val o = oldDf.select(col("doc_id"), col("source").as("o_source"),
      md5(col("text")).as("o_h"))
    val n = newDf.select(col("doc_id"), col("source").as("n_source"),
      md5(col("text")).as("n_h"))
    o.join(n, Seq("doc_id"), "full_outer")
      .select(coalesce(col("n_source"), col("o_source")).as("source"),
        when(col("o_h").isNull, lit("added"))
          .when(col("n_h").isNull, lit("removed"))
          .when(col("o_h") =!= col("n_h"), lit("changed"))
          .otherwise(lit("unchanged")).as("change"))
      .groupBy("source", "change")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("source", "change")
  }

  /** q113: [[snapshotDiff]] over two deterministic content-addressed
    * slices of the documents table — the first md5 hex digit of
    * "snap:"++doc_id simulates a release delta: digit 0 = document added
    * since the old snapshot, digit 1 = removed in the new one, digit f =
    * edited (old body carried a suffix). Pure projections feed the
    * generic operator, so the gate exercises the real full-outer
    * hash-compare plan. */
  val q113SnapshotDiff: Q = (s, d) => {
    val docs = documents(s, d)
    val h1 = substring(md5(concat(lit("snap:"), col("doc_id").cast("string"))), 1, 1)
    val old = docs.filter(h1 =!= "0")
      .withColumn("text",
        when(h1 === "f", concat(col("text"), lit(" legacy")))
          .otherwise(col("text")))
    val nw = docs.filter(h1 =!= "1")
    snapshotDiff(old, nw)
  }
  val q113Sql: String =
    """WITH tagged AS (
      |  SELECT doc_id, source, text,
      |    SUBSTR(md5('snap:' || CAST(doc_id AS VARCHAR)), 1, 1) AS h1
      |  FROM documents),
      |old AS (SELECT doc_id, source,
      |          md5(CASE WHEN h1 = 'f' THEN text || ' legacy' ELSE text END)
      |            AS o_h
      |        FROM tagged WHERE h1 <> '0'),
      |nw AS (SELECT doc_id, source, md5(text) AS n_h
      |       FROM tagged WHERE h1 <> '1'),
      |j AS (
      |  SELECT COALESCE(nw.source, old.source) AS source,
      |    CASE WHEN old.o_h IS NULL THEN 'added'
      |         WHEN nw.n_h IS NULL THEN 'removed'
      |         WHEN old.o_h <> nw.n_h THEN 'changed'
      |         ELSE 'unchanged' END AS change
      |  FROM old FULL OUTER JOIN nw USING (doc_id))
      |SELECT source, change, COUNT(*) AS n_docs
      |FROM j GROUP BY 1, 2 ORDER BY source, change""".stripMargin

  val queries: Map[String, Q] = Map(
    "q48_window_suite" -> q48WindowSuite,
    "q50_stratified_sample" -> q50StratifiedSample,
    "q51_repetition" -> q51Repetition,
    "q52_token_histogram" -> q52TokenHistogram,
    "q53_full_outer" -> q53FullOuter,
    "q54_exists_subquery" -> q54ExistsSubquery,
    "q55_array_funcs" -> q55ArrayFuncs,
    "q56_funnel" -> q56Funnel,
    "q57_redact" -> q57Redact,
    "q58_source_quota" -> q58SourceQuota,
    "q65_lateral_topk" -> q65LateralTopK,
    "q69_token_budget" -> q69TokenBudget,
    "q106_priority_sample" -> q106PrioritySample,
    "q113_snapshot_diff" -> q113SnapshotDiff,
  )
  val oracle: Map[String, String] = Map(
    "q48_window_suite" -> q48Sql,
    "q50_stratified_sample" -> q50Sql,
    "q51_repetition" -> q51Sql,
    "q52_token_histogram" -> q52Sql,
    "q53_full_outer" -> q53Sql,
    "q54_exists_subquery" -> q54Sql,
    "q55_array_funcs" -> q55Sql,
    "q56_funnel" -> q56Sql,
    "q57_redact" -> q57Sql,
    "q58_source_quota" -> q58Sql,
    "q65_lateral_topk" -> q65Sql,
    "q69_token_budget" -> q69Sql,
    "q106_priority_sample" -> q106Sql,
    "q113_snapshot_diff" -> q113Sql,
  )
}
