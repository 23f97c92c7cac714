package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SharedSpark

/** Row-level parity between the classic one-window sessionizer and the
  * two-level skew-safe one, on the shapes that stress the boundary-merge
  * logic: sessions spanning many buckets, events exactly on bucket edges,
  * gaps exactly at the threshold, and the soak's hot-user skew.
  */
class SessionizeScaleSpec extends AnyFunSuite with SharedSpark {

  override def afterAll(): Unit = {
    spark.catalog.clearCache()
    super.afterAll()
  }

  private def assertParity(events: DataFrame, gap: Long, bucket: Long): Unit = {
    val a = EventOps.sessionize(events, gap)
      .select("event_id", "user_id", "session_idx")
    val b = EventOps.sessionizeScalable(events, gap, bucket)
      .select("event_id", "user_id", "session_idx")
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0,
      s"parity broke at gap=$gap bucket=$bucket")
  }

  private def mkEvents(rows: Seq[(Long, Long, Long)]): DataFrame = {
    import spark.implicits._
    rows.toDF("event_id", "user_id", "s")
      .select(col("event_id"), col("user_id"),
        timestamp_seconds(col("s")).as("ts"), lit(1.0).as("value"))
  }

  test("one session spanning every bucket chains through the merge") {
    // events every 60s for 10h; gap 30min, bucket 1h -> 10 buckets, 1 session
    val ev = mkEvents((0L until 600L).map(i => (i, 7L, i * 60L)))
    val out = EventOps.sessionizeScalable(ev, 1800L, 3600L)
    assert(out.select(max(col("session_idx"))).head().getLong(0) == 1L)
    assertParity(ev, 1800L, 3600L)
  }

  test("boundary cases: edge-aligned events and exact-threshold gaps") {
    val rows = Seq(
      // user 1: events at exact bucket edges (t = k*3600), 30min apart inside
      (0L, 1L, 0L), (1L, 1L, 1800L), (2L, 1L, 3600L), (3L, 1L, 5400L),
      // user 2: gap EXACTLY 1800s across a bucket edge (<= keeps the session)
      (4L, 2L, 3500L), (5L, 2L, 5300L),
      // user 3: gap 1801s across a bucket edge (new session)
      (6L, 3L, 3500L), (7L, 3L, 5301L),
      // user 4: single event alone in a late bucket
      (8L, 4L, 360000L),
      // user 5: three sessions inside ONE bucket, then a merge into the next
      (9L, 5L, 0L), (10L, 5L, 2000L), (11L, 5L, 3599L), (12L, 5L, 3601L))
    val ev = mkEvents(rows)
    assertParity(ev, 1800L, 3600L)
    // user 2 merged across the edge, user 3 split
    val b = EventOps.sessionizeScalable(ev, 1800L, 3600L)
    assert(b.filter(col("user_id") === 2).select(countDistinct("session_idx"))
      .head().getLong(0) == 1L)
    assert(b.filter(col("user_id") === 3).select(countDistinct("session_idx"))
      .head().getLong(0) == 2L)
  }

  test("hot-user skew corpus: parity at several bucket widths") {
    // the soak shape in miniature: user 0 holds ~half of 20k events
    val ev = graft.SkewedData.genEvents(spark, 20000L)
    assertParity(ev, 1800L, 3600L)
    assertParity(ev, 1800L, 86400L)
    // degenerate bucket = 1s (every event its own bucket) still agrees
    val tiny = mkEvents((0L until 50L).map(i => (i, 1L, i * 1000L)))
    assertParity(tiny, 1800L, 1L)
  }

  test("q89 bounded event paths equals q73 (same two-level bound, top-k form)") {
    val sf = "/root/testdata/sf0.001"
    val a = EventOps.q73EventPaths(spark, sf)
    val b = EventOps.q89EventPathsScaled(spark, sf)
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
    // and on the hot-user skew shape, where bucket boundaries cut paths
    val dir = java.nio.file.Files.createTempDirectory("graft-paths").toString
    graft.SkewedData.genEvents(spark, 20000L)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val c = EventOps.q73EventPaths(spark, dir)
    val e = EventOps.q89EventPathsScaled(spark, dir)
    assert(c.exceptAll(e).count() == 0 && e.exceptAll(c).count() == 0)
  }

  test("plan pins: q88 windows carry the bucket key, q89 gets WindowGroupLimit") {
    val sf = "/root/testdata/sf0.001"
    // q88: the event-sized windows must partition on (user_id, bucket) —
    // a refactor that drops the bucket key silently reintroduces the
    // hot-user single-task straggler this operator exists to kill
    val p88 = EventOps.q88SessionizeScaled(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p88.contains("bucket"), "q88 lost its bucket partitioning")
    // q89: BOTH rank filters must push into WindowGroupLimit with a
    // Partial (map-side, pre-shuffle) stage — this is what q73's
    // count-over-partition blocks, and the reason q89 exists
    val p89 = EventOps.q89EventPathsScaled(spark, sf)
      .queryExecution.executedPlan.toString
    val partials = p89.split("\n").count(l =>
      l.contains("WindowGroupLimit") && l.contains("Partial"))
    assert(partials >= 2,
      s"expected map-side WindowGroupLimit on both q89 ranks, found $partials")
  }

  test("q91 segmented as-of equals q35 (two-level last-value carry)") {
    val sf = "/root/testdata/sf0.001"
    val a = EventOps.q35AsofJoin(spark, sf)
    val b = EventOps.q91AsofScaled(spark, sf)
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
    // hot-user skew shape: purchases sparse, carries cross many buckets
    val dir = java.nio.file.Files.createTempDirectory("graft-asof").toString
    graft.SkewedData.genEvents(spark, 20000L)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val c = EventOps.q35AsofJoin(spark, dir)
    val e = EventOps.q91AsofScaled(spark, dir)
    assert(c.exceptAll(e).count() == 0 && e.exceptAll(c).count() == 0)
  }

  test("q88 gate entry equals q34 on real testdata") {
    val sf = "/root/testdata/sf0.001"
    val a = EventOps.q34Sessionize(spark, sf)
    val b = EventOps.q88SessionizeScaled(spark, sf)
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
  }
}
