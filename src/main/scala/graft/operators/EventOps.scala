package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}
import graft.Tables._

/** Event-stream operators over the `events` table: sessionization, as-of
  * join, JSON property extraction, range join, and skew-salted aggregation.
  *
  * These are the batch shapes of the operators a clickstream/training-data
  * pipeline runs continuously.
  *
  * Scale notes per operator in the Scaladoc. Shared determinism policy:
  * timestamps compared at microsecond precision (both engines truncate the
  * parquet NANOS the same way), double sums via exact DECIMAL(38,6).
  */
object EventOps {

  type Q = (SparkSession, String) => DataFrame

  private def dsum(c: Column): Column = sum(c.cast(DecimalType(38, 6))).cast(DoubleType)
  private val D = "CAST(SUM(CAST(%s AS DECIMAL(38,6))) AS DOUBLE)"
  private def dsql(expr: String): String = D.format(expr)

  /** Reusable sessionizer: assigns a per-user session index using the
    * classic gap rule — a new session starts when the time since the
    * previous event exceeds `gapSeconds`.
    *
    * Shape: one window over (user, ts) — a single shuffle on the user key,
    * then narrow. At 100 TB user_id is high-cardinality so the window
    * parallelizes; there is no global sort. The streaming equivalent is
    * `session_window(ts, gap)` / `flatMapGroupsWithState`.
    */
  def sessionize(events: DataFrame, gapSeconds: Long): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val gapUs = gapSeconds * 1000000L
    events
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
      .withColumn("is_new",
        when(col("prev_us").isNull ||
          unix_micros(col("ts")) - col("prev_us") > gapUs, 1L).otherwise(0L))
      .withColumn("session_idx", sum(col("is_new")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("prev_us", "is_new")
  }

  /** Skew-safe two-level sessionizer — identical output to [[sessionize]],
    * but no task ever holds more than one (user, `bucketSeconds`) slice of
    * the timeline.
    *
    * Why: the classic one-window formulation serializes each user's entire
    * history into a single task. The events soak (SOAK.md) measured q34 at
    * exactly 2.0× per 2× data on a corpus where one user holds 50 % of all
    * events — the hot user's window IS the wall-clock, and at 100 TB that
    * one task pins one executor (and its memory) no matter how many
    * executors exist. Gap-rule sessionization looks inherently sequential,
    * but only the BOUNDARIES need sequencing:
    *
    *  1. bucket each event by `floor(us / bucket)` and sessionize within
    *     (user, bucket) — bounded tasks, full parallelism over the hot
    *     user's timeline;
    *  2. on the per-(user, bucket) summary table (~bucket-count rows per
    *     user, thousands of times smaller than the events), decide per
    *     boundary whether the first local session of bucket b continues
    *     the last session of bucket b-1 (gap between the adjacent events
    *     across the boundary ≤ gap — valid because time-bucketing makes
    *     every event of b-1 precede every event of b), and prefix-sum the
    *     merge-corrected session counts into per-bucket offsets;
    *  3. join the tiny offset table back on (user, bucket) — the big side
    *     is already hash-partitioned on exactly that key from step 1's
    *     window, so the join adds no new shuffle of the events.
    *
    * A session spanning many buckets chains through step 2: a bucket whose
    * single local session merges backward contributes n−m = 0 new sessions,
    * so the offset carries the previous global index forward. Same
    * two-level shape as q76's packing prefix sum (PackingOps.scala) — the
    * r6/r7 playbook for de-stragglering per-key sequential semantics.
    */
  def sessionizeScalable(events: DataFrame, gapSeconds: Long,
      bucketSeconds: Long = 86400L): DataFrame = {
    val gapUs = gapSeconds * 1000000L
    val bucketUs = bucketSeconds * 1000000L
    val ev = events
      .withColumn("us", unix_micros(col("ts")))
      // integer division: `/` on longs is double division, whose rounding
      // could in principle misplace an edge-aligned event past 2^53 µs;
      // `div` is exact for every long, and any monotone bucketing is valid
      .withColumn("bucket", expr(s"us div ${bucketUs}L"))
    val wb = Window.partitionBy("user_id", "bucket").orderBy("us", "event_id")
    // deliberately NOT materialized, although both the offsets aggregate
    // and the final join consume it: every downstream stage keys on the
    // window's own (user_id, bucket) partitioning, so the lazy form's
    // re-run shares the exchange layout for free, while a checkpoint
    // erases the known partitioning and forces the join to re-shuffle
    // BOTH sides (measured at sf0.1: 1.66 s lazy vs 1.86 s checkpointed)
    val local = ev
      .withColumn("prev_us", lag(col("us"), 1).over(wb))
      .withColumn("is_new",
        when(col("prev_us").isNull || col("us") - col("prev_us") > gapUs, 1L)
          .otherwise(0L))
      .withColumn("local_idx", sum(col("is_new")).over(
        wb.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val wu = Window.partitionBy("user_id").orderBy("bucket")
    val offsets = local.groupBy("user_id", "bucket")
      .agg(min(col("us")).as("first_us"), max(col("us")).as("last_us"),
        max(col("local_idx")).as("n_sessions"))
      .withColumn("prev_last", lag(col("last_us"), 1).over(wu))
      .withColumn("m",
        when(col("prev_last").isNotNull &&
          col("first_us") - col("prev_last") <= gapUs, 1L).otherwise(0L))
      .withColumn("offset", coalesce(sum(col("n_sessions") - col("m")).over(
        wu.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("user_id"), col("bucket"), col("m"), col("offset"))
    local.join(offsets, Seq("user_id", "bucket"))
      // a merged-back bucket contributes n−m new sessions, so every local
      // index shifts down by m: j=1 lands ON the previous bucket's last
      // global index (the continued session), j≥2 continue from there
      .withColumn("session_idx", col("offset") + col("local_idx") - col("m"))
      .drop("us", "bucket", "prev_us", "is_new", "local_idx", "m", "offset")
  }

  /** q34: sessionization — 30-minute-gap sessions per user with per-session
    * event count, span, and value sum. */
  private def sessionSummary(sessions: DataFrame): DataFrame =
    sessions
      .groupBy("user_id", "session_idx")
      .agg(
        count(lit(1)).as("n_events"),
        min(unix_micros(col("ts"))).as("start_us"),
        max(unix_micros(col("ts"))).as("end_us"),
        dsum(col("value")).as("sum_value"))
      .select(col("user_id"), col("session_idx"), col("n_events"),
        // exact integer microseconds: ROUND(double) has cross-engine
        // last-ulp latitude (scaled-multiply vs BigDecimal), BIGINT does not
        (col("end_us") - col("start_us")).as("duration_us"),
        col("sum_value"))
      .orderBy("user_id", "session_idx")

  val q34Sessionize: Q = (s, d) =>
    sessionSummary(sessionize(events(s, d), gapSeconds = 1800))

  /** q88: q34's sessionization through the two-level skew-safe
    * [[sessionizeScalable]] — same DuckDB oracle (the outputs are
    * identical by construction; SessionizeScaleSpec asserts row-level
    * parity on adversarial shapes, the gate asserts it against DuckDB).
    * 6-hour buckets so the sf0.01 gate data actually crosses boundaries.
    */
  val q88SessionizeScaled: Q = (s, d) =>
    sessionSummary(sessionizeScalable(events(s, d), gapSeconds = 1800,
      bucketSeconds = 21600L))
  val q34Sql: String =
    s"""WITH e AS (
       |  SELECT user_id, event_id, value,
       |    epoch_us(CAST(ts AS TIMESTAMP)) AS us
       |  FROM events),
       |flags AS (
       |  SELECT user_id, event_id, value, us,
       |    CASE WHEN LAG(us) OVER w IS NULL
       |              OR us - LAG(us) OVER w > 1800000000 THEN 1 ELSE 0 END AS is_new
       |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
       |sess AS (
       |  SELECT user_id, event_id, value, us,
       |    -- DuckDB windowed SUM(BIGINT) widens to HUGEINT (arrow decimal128);
       |    -- Spark's stays BIGINT — cast so the typed driver hash agrees
       |    CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id
       |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
       |  FROM flags)
       |SELECT user_id, session_idx, COUNT(*) AS n_events,
       |  MAX(us) - MIN(us) AS duration_us,
       |  ${dsql("value")} AS sum_value
       |FROM sess GROUP BY user_id, session_idx
       |ORDER BY user_id, session_idx""".stripMargin

  /** Reusable as-of join, the union-and-window formulation: for each left
    * row, the latest right row with the same key and `rightTs <= leftTs`.
    *
    * Why not a join: an equi-join on key plus a ts inequality explodes to
    * |left_per_key| × |right_per_key| intermediate pairs before the "latest"
    * filter. The union trick interleaves both sides into ONE window sorted
    * by (key, ts) and carries the last-seen right row forward — cost is a
    * single shuffle of |left|+|right| rows on the key, no pair blow-up.
    * This is the standard scalable as-of (backward-looking) join shape.
    */
  def asofJoin(left: DataFrame, right: DataFrame, key: String, ts: String,
               carried: Seq[String]): DataFrame = {
    // ALL left columns ride through the union (right rows carry nulls for
    // them) so no re-join is needed afterwards — an earlier draft joined
    // back on monotonically_increasing_id(), which is NOT stable across
    // two evaluations of the same plan and can mispair rows.
    // The carried columns travel as ONE struct, not per-column fills: with
    // per-column last(ignoreNulls) a null field in the latest right row
    // would backfill from an OLDER right row, pairing field values that
    // exist in no single right row.
    val leftCols = left.columns.filterNot(c => c == key || c == ts)
    val rStructType = org.apache.spark.sql.types.StructType(
      carried.map(c => right.schema(right.schema.fieldIndex(c))))
    // tag 0 = right (sorts first at equal ts ⇒ inclusive <= semantics)
    val r = right.select(
      (col(key) +: col(ts).as(ts) +: lit(0).as("_tag") +:
        struct(carried.map(col): _*).as("_r") +:
        leftCols.map(c => lit(null).cast(left.schema(c).dataType).as(c))): _*)
    val l = left.select(
      (col(key) +: col(ts).as(ts) +: lit(1).as("_tag") +:
        lit(null).cast(rStructType).as("_r") +:
        leftCols.map(col)): _*)
    // tie-break among right rows at equal (key, ts): the struct itself —
    // arbitrary but DETERMINISTIC (left rows always sort after via _tag,
    // so the extra key only orders right rows among themselves)
    val w = Window.partitionBy(key).orderBy(col(ts), col("_tag"), col("_r"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    r.union(l)
      .withColumn("_r", last(col("_r"), ignoreNulls = true).over(w))
      .filter(col("_tag") === 1)
      .select((col(key) +: col(ts) +: leftCols.map(col)) ++
        carried.map(c => col(s"_r.$c").as(s"_r_$c")): _*)
  }

  /** q35: as-of join — each click event matched to the same user's most
    * recent purchase at-or-before it. Same union-and-window shape as the
    * generic [[asofJoin]]; kept inline because the oracle needs the exact
    * output columns (lag in seconds, specific aliases) and pre-dedupes
    * purchases per (user, ts) for a unique ASOF pick.
    */
  val q35AsofJoin: Q = (s, d) => {
    val e = events(s, d).select(col("event_id"), col("user_id"), col("event_type"),
      unix_micros(col("ts")).as("us"), col("value"))
    // dedupe purchases to one row per (user, ts): keep the max event_id
    // (struct-max ⇒ single agg, deterministic) so the as-of pick is unique
    val purchases = e.filter(col("event_type") === "purchase")
      .groupBy("user_id", "us")
      .agg(max(struct(col("event_id"), col("value"))).as("m"))
      .select(col("user_id"), col("us"), lit(0).as("tag"),
        lit(null).cast("long").as("click_id"),
        col("m.event_id").as("purchase_id"), col("m.value").as("purchase_value"))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("us"), lit(1).as("tag"),
        col("event_id").as("click_id"),
        lit(null).cast("long").as("purchase_id"), lit(null).cast("double").as("purchase_value"))
    val w = Window.partitionBy("user_id").orderBy(col("us"), col("tag"), col("click_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    purchases.union(clicks)
      .withColumn("last_purchase_id", last(col("purchase_id"), ignoreNulls = true).over(w))
      .withColumn("last_purchase_us",
        last(when(col("tag") === 0, col("us")), ignoreNulls = true).over(w))
      .withColumn("last_purchase_value", last(col("purchase_value"), ignoreNulls = true).over(w))
      .filter(col("tag") === 1)
      .select(col("click_id").as("event_id"), col("user_id"),
        col("last_purchase_id").as("purchase_id"),
        (col("us") - col("last_purchase_us")).as("lag_us"),
        col("last_purchase_value").as("purchase_value"))
      .orderBy("event_id")
  }
  /** q91: q35's as-of join through the two-level bound — the third member
    * of the segmented family (q88 = running segmentation, q89 = top-k,
    * q91 = last-value carry). The union-and-window as-of is the right
    * SHAPE (no pair blow-up) but its per-user window is the same hot-user
    * single task as q34/q73. Segmenting: the last purchase at-or-before a
    * click is either in the click's own (user, bucket) window — the local
    * carry — or it is the FINAL purchase of some earlier bucket, and
    * bucket ranges are disjoint in time, so a per-(user, bucket) summary
    * (one max-struct row per bucket) prefix-scanned per user gives the
    * carry-in. The carried fields travel as ONE struct so a click never
    * pairs fields from two different purchases. Same DuckDB oracle as
    * q35; parity spec in SessionizeScaleSpec.
    */
  val q91AsofScaled: Q = (s, d) => {
    val bucketUs = 21600L * 1000000L
    val e = events(s, d).select(col("event_id"), col("user_id"), col("event_type"),
      unix_micros(col("ts")).as("us"), col("value"))
    val purchases = e.filter(col("event_type") === "purchase")
      .groupBy("user_id", "us")
      .agg(max(struct(col("event_id"), col("value"))).as("m"))
      .select(col("user_id"), col("us"), lit(0).as("tag"),
        lit(null).cast("long").as("click_id"),
        col("m.event_id").as("purchase_id"), col("m.value").as("purchase_value"))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("us"), lit(1).as("tag"),
        col("event_id").as("click_id"),
        lit(null).cast("long").as("purchase_id"), lit(null).cast("double").as("purchase_value"))
    // materialized once: `u` feeds the local carry window, the per-bucket
    // purchase summary AND the (user, bucket) universe — three references
    // that each re-ran the events scan + purchase aggregation + union
    // (plan-verified: 10 parquet scans before, 2 after). Scale-gated:
    // the barrier measured slower than the triple scan at sf0.1
    // (round-16 driver: q91 0.80) — lazy below the gate, checkpointed at
    // event-log scale where three scans of the log dominate
    val u = StageMaterialize.whenLarge(
      purchases.union(clicks).withColumn("b", expr(s"us div ${bucketUs}L")),
      "q91_union")
    val wb = Window.partitionBy("user_id", "b")
      .orderBy(col("us"), col("tag"), col("click_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val rstruct = when(col("tag") === 0,
      struct(col("purchase_id"), col("us").as("pus"), col("purchase_value")))
    val local = u.withColumn("lc", last(rstruct, ignoreNulls = true).over(wb))
    val bl = u.filter(col("tag") === 0)
      .groupBy("user_id", "b")
      .agg(max(struct(col("us").as("pus"), col("purchase_id"), col("purchase_value"))).as("m"))
      .select(col("user_id"), col("b"),
        struct(col("m.purchase_id").as("purchase_id"), col("m.pus").as("pus"),
          col("m.purchase_value").as("purchase_value")).as("bl"))
    val wu = Window.partitionBy("user_id").orderBy("b")
    val carry = u.select("user_id", "b").distinct()
      .join(bl, Seq("user_id", "b"), "left")
      .withColumn("ci", last(col("bl"), ignoreNulls = true).over(
        wu.rowsBetween(Window.unboundedPreceding, -1)))
      .select(col("user_id"), col("b"), col("ci"))
    local.join(carry, Seq("user_id", "b"))
      .withColumn("eff", coalesce(col("lc"), col("ci")))
      .filter(col("tag") === 1)
      .select(col("click_id").as("event_id"), col("user_id"),
        col("eff.purchase_id").as("purchase_id"),
        (col("us") - col("eff.pus")).as("lag_us"),
        col("eff.purchase_value").as("purchase_value"))
      .orderBy("event_id")
  }

  val q35Sql: String =
    """WITH e AS (
      |  SELECT event_id, user_id, event_type, value,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS us
      |  FROM events),
      |purchases AS (
      |  SELECT user_id, us,
      |    MAX(struct_pack(event_id := event_id, value := value)) AS m
      |  FROM e WHERE event_type = 'purchase' GROUP BY user_id, us),
      |p AS (SELECT user_id, us, m.event_id AS purchase_id, m.value AS purchase_value
      |      FROM purchases),
      |clicks AS (SELECT event_id, user_id, us FROM e WHERE event_type = 'click')
      |SELECT c.event_id, c.user_id, p.purchase_id,
      |  c.us - p.us AS lag_us,
      |  p.purchase_value
      |FROM clicks c ASOF LEFT JOIN p
      |  ON c.user_id = p.user_id AND c.us >= p.us
      |ORDER BY c.event_id""".stripMargin

  /** q36: JSON property extraction — parse the `props` JSON column
    * (`get_json_object`, codegen'd JSON path eval; no UDF) and aggregate
    * the extracted metric per event_type. Narrow extract + one partial-agg
    * shuffle on a 5-value key (fine: partial aggregation collapses each
    * map task to ≤5 rows before the exchange). */
  val q36JsonProps: Q = (s, d) => {
    events(s, d)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"), max(col("k")).as("max_k"))
      .orderBy("event_type")
  }
  val q36Sql: String =
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
      |  MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
      |  MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** q37: range join — orders binned into price bands by a non-equi join
    * against a tiny broadcast band table. The band side is always small ⇒
    * BroadcastNestedLoopJoin with the range predicate evaluated codegen'd;
    * at 100 TB the fact side streams through map-side with zero shuffle.
    * (The equi-join rewrite `floor(price/width)` is q12-style; this query
    * keeps a genuine range predicate to exercise the non-equi path with
    * irregular band edges.)
    */
  val q37RangeJoin: Q = (s, d) => {
    // irregular, hand-picked band edges — not expressible as floor(x/w)
    import s.implicits._
    val edges = Seq(0.0, 1000.0, 5000.0, 20000.0, 50000.0, 100000.0, 1e9)
    val bands = broadcast(
      edges.init.zip(edges.tail).zipWithIndex
        .map { case ((lo, hi), i) => (i, lo, hi) }
        .toDF("band", "lo", "hi"))
    orders(s, d).join(bands,
        col("o_totalprice") >= col("lo") && col("o_totalprice") < col("hi"))
      .groupBy("band", "lo")
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("sum_price"))
      .select(col("band"), col("n_orders"), col("sum_price"))
      .orderBy("band")
  }
  val q37Sql: String =
    s"""WITH bands(band, lo, hi) AS (VALUES
       |  (0, 0.0, 1000.0), (1, 1000.0, 5000.0), (2, 5000.0, 20000.0),
       |  (3, 20000.0, 50000.0), (4, 50000.0, 100000.0), (5, 100000.0, 1e9))
       |SELECT band, COUNT(*) AS n_orders, ${dsql("o_totalprice")} AS sum_price
       |FROM orders JOIN bands ON o_totalprice >= lo AND o_totalprice < hi
       |GROUP BY band, lo ORDER BY band""".stripMargin

  /** q38: skew-salted aggregation — event_type has only 5 distinct values,
    * the canonical skewed shuffle key. Stage 1 aggregates on
    * (event_type, salt16) spreading each hot key over 16 reducers; stage 2
    * merges the 5×16 partials. Exact decimal partials ⇒ bit-identical to
    * the unsalted plain GROUP BY the oracle runs. At local scale partial
    * aggregation already absorbs the skew; at 1000 executors the salt is
    * what keeps one reducer from owning a whole hot key. */
  val q38SaltedAgg: Q = (s, d) => {
    val salted = events(s, d)
      .withColumn("salt", pmod(col("event_id"), lit(16)))
      .groupBy("event_type", "salt")
      .agg(count(lit(1)).as("pn"),
        sum(col("value").cast(DecimalType(38, 6))).as("psum"),
        min("value").as("pmin"), max("value").as("pmax"))
    salted.groupBy("event_type")
      .agg(sum(col("pn")).as("n"),
        sum(col("psum")).cast(DoubleType).as("sum_value"),
        min("pmin").as("min_value"), max("pmax").as("max_value"))
      .orderBy("event_type")
  }
  val q38Sql: String =
    s"""SELECT event_type, COUNT(*) AS n, ${dsql("value")} AS sum_value,
       |  MIN(value) AS min_value, MAX(value) AS max_value
       |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** q66: time-decayed engagement — per-user sum of event values weighted
    * by exponential recency decay (7-day time constant) relative to the
    * corpus max timestamp. The recency-weighted score every ranking /
    * sampling pipeline keeps: one broadcast of the 1-row max, then a
    * single narrow pass + one shuffle on the high-cardinality user key.
    * Per-event decayed terms are rounded to 6dp then summed as exact
    * DECIMAL(38,6), so the result is independent of summation order (and
    * of engine libm, up to the rounding boundary). */
  val q66DecayEngagement: Q = (s, d) => {
    val e = events(s, d)
      .filter(col("event_type").isin("purchase", "click"))
      .select(col("user_id"), col("value"), unix_micros(col("ts")).as("us"))
    val m = e.agg(max("us").as("max_us"))
    e.crossJoin(broadcast(m))
      .select(col("user_id"),
        round(col("value")
          * exp(-(col("max_us") - col("us")).cast(DoubleType) / 604800000000.0), 6)
          .as("term"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"), dsum(col("term")).as("decayed_value"))
      .orderBy("user_id")
  }
  val q66Sql: String =
    s"""WITH e AS (
       |  SELECT user_id, value, epoch_us(CAST(ts AS TIMESTAMP)) AS us
       |  FROM events WHERE event_type IN ('purchase', 'click')),
       |m AS (SELECT MAX(us) AS max_us FROM e)
       |SELECT user_id, COUNT(*) AS n_events,
       |  ${dsql("ROUND(value * exp(-CAST(max_us - us AS DOUBLE) / 604800000000.0), 6)")}
       |    AS decayed_value
       |FROM e CROSS JOIN m GROUP BY user_id ORDER BY user_id""".stripMargin

  /** q71: sliding event-time windows — 1-hour windows every 30 minutes via
    * Spark's `window()` generator (each event lands in exactly 2
    * overlapping windows). This is THE streaming-native primitive: the
    * identical expression runs under Structured Streaming with a
    * watermark. Plan:
    * one Generate (2 rows/event) then a partial-agg-friendly groupBy on
    * (window, type) — the exchange carries ≤ |windows|×|types| rows per
    * task, constant in corpus size. */
  val q71SlidingWindows: Q = (s, d) => {
    events(s, d)
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .select(col("w.start").cast("string").as("win_start"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy("win_start", "event_type")
  }
  val q71Sql: String =
    s"""WITH e AS (
       |  SELECT event_type, value, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
       |w AS (
       |  SELECT event_type, value,
       |    make_timestamp((us // 1800000000 - k) * 1800000000) AS win_start
       |  FROM e, range(0, 2) r(k))
       |SELECT CAST(win_start AS VARCHAR) AS win_start, event_type,
       |  COUNT(*) AS n, ${dsql("value")} AS sum_value
       |FROM w GROUP BY 1, 2 ORDER BY win_start, event_type""".stripMargin

  /** q73: per-user event paths — the first 10 event types in time order,
    * joined into a path string (the sequence-mining / funnel-discovery
    * input shape). The path prefix is bounded BEFORE collection: a
    * row_number window keeps ≤10 events per user, so the collect_list
    * arrays are capped regardless of how active a user is — the unbounded
    * per-group collect is the classic OOM at 100 TB, and the window +
    * groupBy land on the same user key so the second stage reuses the
    * first's partitioning. Total event count comes from the same window
    * pass (count over the user partition), not a second aggregation. */
  val q73EventPaths: Q = (s, d) => {
    val wRank = Window.partitionBy("user_id").orderBy("us", "event_id")
    val wAll = Window.partitionBy("user_id")
    events(s, d)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("rn", row_number().over(wRank))
      .withColumn("n_events", count(lit(1)).over(wAll))
      .filter(col("rn") <= 10)
      .groupBy("user_id")
      .agg(
        array_join(transform(array_sort(collect_list(struct(col("rn"), col("event_type")))),
          x => x.getField("event_type")), ">").as("path"),
        first("n_events").as("n_events"))
      .orderBy("user_id")
  }
  val q73Sql: String =
    """SELECT user_id,
      |  array_to_string(list(event_type
      |    ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id)[1:10], '>') AS path,
      |  COUNT(*) AS n_events
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  /** q89: q73's event paths through the two-level bound — the soak
    * measured q73 at 2.2× per 2× data on the hot-user corpus for the same
    * reason as q34 (SOAK.md finding 5): the per-user rank window sorts the
    * 50 %-user's whole timeline in one task, and the count-over-partition
    * column blocks Spark's WindowGroupLimit pushdown that would otherwise
    * pre-filter map-side. Two-level form:
    *
    *  1. rank within (user, time-bucket) and keep ≤10 per bucket — valid
    *    because the global k earliest events each have within-bucket rank
    *    ≤ k (earlier buckets hold strictly earlier events);
    *  2. rank the ≤10·buckets surviving candidates per user (trivial);
    *  3. total event counts from a plain groupBy count — partial agg
    *    collapses map-side, no sort, instead of q73's count window that
    *    rode the (now gone) full per-user sort.
    *
    * Same DuckDB oracle as q73; parity spec in SessionizeScaleSpec.
    */
  val q89EventPathsScaled: Q = (s, d) => {
    val bucketUs = 21600L * 1000000L
    val ev = events(s, d)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .withColumn("bucket", expr(s"us div ${bucketUs}L"))
    val wb = Window.partitionBy("user_id", "bucket").orderBy("us", "event_id")
    val wu = Window.partitionBy("user_id").orderBy("us", "event_id")
    val top = ev
      .withColumn("rn_local", row_number().over(wb))
      .filter(col("rn_local") <= 10)
      .withColumn("rn", row_number().over(wu))
      .filter(col("rn") <= 10)
    val counts = ev.groupBy("user_id").agg(count(lit(1)).as("n_events"))
    top.groupBy("user_id")
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("rn"), col("event_type")))),
          x => x.getField("event_type")), ">").as("path"))
      .join(counts, Seq("user_id"))
      .select(col("user_id"), col("path"), col("n_events"))
      .orderBy("user_id")
  }

  /** q74: cohort retention — users cohorted by first-signup day, activity
    * counted per (cohort, weeks-since) cell as distinct active users: the
    * standard retention matrix. Day/week arithmetic in integer epoch-day
    * units (no timezone or calendar dependence — identical on both
    * engines). The cohort table and the activity stream both key on
    * user_id, so the cohort agg and the join share one exchange; the final
    * (cohort_day, weeks_since) agg is low-cardinality with the distinct
    * expansion's partial agg collapsing map-side. */
  val q74CohortRetention: Q = (s, d) => {
    val e = events(s, d)
      .select(col("user_id"), col("event_type"),
        // `div`: integer division — `/` is double division in Spark and
        // loses exactness above 2^53 (same hazard as Tables.events)
        expr("unix_micros(ts) div 86400000000").as("day"))
    val cohort = e.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min("day").as("cohort_day"))
    e.join(cohort, "user_id")
      .filter(col("day") >= col("cohort_day"))
      .groupBy(col("cohort_day"),
        expr("(day - cohort_day) div 7").as("weeks_since"))
      .agg(countDistinct("user_id").as("active_users"))
      .orderBy("cohort_day", "weeks_since")
  }
  val q74Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_type,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day
      |  FROM events),
      |cohort AS (SELECT user_id, MIN(day) AS cohort_day FROM e
      |           WHERE event_type = 'signup' GROUP BY 1)
      |SELECT cohort_day, (day - cohort_day) // 7 AS weeks_since,
      |  COUNT(DISTINCT e.user_id) AS active_users
      |FROM e JOIN cohort ON e.user_id = cohort.user_id
      |WHERE day >= cohort_day
      |GROUP BY 1, 2 ORDER BY cohort_day, weeks_since""".stripMargin

  val queries: Map[String, Q] = Map(
    "q34_sessionize" -> q34Sessionize,
    "q88_sessionize_scaled" -> q88SessionizeScaled,
    "q35_asof_join" -> q35AsofJoin,
    "q91_asof_scaled" -> q91AsofScaled,
    "q36_json_props" -> q36JsonProps,
    "q37_range_join" -> q37RangeJoin,
    "q38_salted_agg" -> q38SaltedAgg,
    "q66_decay_engagement" -> q66DecayEngagement,
    "q71_sliding_windows" -> q71SlidingWindows,
    "q73_event_paths" -> q73EventPaths,
    "q89_event_paths_scaled" -> q89EventPathsScaled,
    "q74_cohort_retention" -> q74CohortRetention,
  )
  val oracle: Map[String, String] = Map(
    "q34_sessionize" -> q34Sql,
    "q88_sessionize_scaled" -> q34Sql,
    "q35_asof_join" -> q35Sql,
    "q91_asof_scaled" -> q35Sql,
    "q36_json_props" -> q36Sql,
    "q37_range_join" -> q37Sql,
    "q38_salted_agg" -> q38Sql,
    "q66_decay_engagement" -> q66Sql,
    "q71_sliding_windows" -> q71Sql,
    "q73_event_paths" -> q73Sql,
    "q89_event_paths_scaled" -> q73Sql,
    "q74_cohort_retention" -> q74Sql,
  )
}
