package graft

import java.io.{ByteArrayOutputStream, PrintStream}
import scala.collection.mutable
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import graft.catalyst.Steered

/** [[Bench.timeQuery]]: a failing query is timed as -1.0, and the failure
  * is logged and kept for the durable artifact, not dropped.
  * [[Bench.passes]], [[Bench.comparableTotals]] and [[Bench.guard]]: the one
  * measured-pass path and adoption guard of every Bench mode. The pass
  * bodies record their calls; no case asserts a wall-clock time. */
class BenchSpec extends AnyFunSuite with SharedSpark {

  /** Run `body` with stderr captured; returns its result and the text. */
  private def capturingErr[A](body: => A): (A, String) = {
    val err = new ByteArrayOutputStream()
    val old = System.err
    System.setErr(new PrintStream(err, true))
    try (body, err.toString) finally System.setErr(old)
  }

  test("a throwing query yields -1.0 and a log line naming it") {
    val failed = mutable.LinkedHashMap.empty[String, String]
    val (t, err) = capturingErr(Bench.timeQuery("q00_broken", failed)(
      throw new IllegalStateException("injected")))
    assert(t == -1.0)
    assert(err.contains(
      "[bench] q00_broken failed: java.lang.IllegalStateException: injected"), err)
    assert(failed == Map("q00_broken" -> "java.lang.IllegalStateException: injected"))
  }

  test("a query that runs is timed and not recorded as failed") {
    val failed = mutable.LinkedHashMap.empty[String, String]
    assert(Bench.timeQuery("q00_ok", failed)(Bench.noop(spark.range(10).toDF("id"))) >= 0.0)
    assert(failed.isEmpty)
  }

  test("passes run in (rep, arm, item) order, one timed run per call") {
    val calls = mutable.ArrayBuffer.empty[String]
    val arms = Seq("a", "b").map(arm => arm -> ((item: String) => { calls += s"$arm:$item"; () }))
    val failed = mutable.LinkedHashMap.empty[String, String]
    val mins = Bench.passes(Seq("x" -> "x", "y" -> "y"), arms, 2, failed)
    assert(calls == Seq("a:x", "a:y", "b:x", "b:y", "a:x", "a:y", "b:x", "b:y"))
    assert(mins.size == 2 && mins.forall(m => m.size == 2 && m.forall(_ >= 0)))
    assert(failed.isEmpty)
  }

  test("the minimum counts only successful runs; an item that always fails reads -1.0") {
    var runs = 0
    val flaky = () => { runs += 1; if (runs < 3) throw new RuntimeException(s"flake $runs") }
    val broken = () => throw new IllegalStateException("always")
    val failed = mutable.LinkedHashMap.empty[String, String]
    val (mins, err) = capturingErr(Bench.passes(
      Seq("q00_flaky" -> flaky, "q00_broken" -> broken),
      Seq("default" -> ((f: () => Unit) => f())), 3, failed))
    // two failed runs of q00_flaky (-1.0 each) must not become its minimum
    assert(mins.head(0) >= 0.0)
    assert(mins.head(1) == -1.0)
    assert(err.contains("[bench] q00_broken failed: java.lang.IllegalStateException: always"), err)
    assert(failed.get("q00_broken").contains("java.lang.IllegalStateException: always"))
    // the flaky item's failures stay on record with the last message
    assert(failed.get("q00_flaky").contains("java.lang.RuntimeException: flake 2"))
  }

  test("a pooled item reports one minimum over both arms; an unpooled one keeps each arm's") {
    // arm "b" always throws, so a value on "b" can only come from pooling
    val arms = Seq("a" -> ((_: Unit) => ()), "b" -> ((_: Unit) => throw new RuntimeException("b")))
    val failed = mutable.LinkedHashMap.empty[String, String]
    val Seq(a, b) = capturingErr(Bench.passes(Seq("pooled" -> (()), "own" -> (())), arms, 2,
      failed, pooled = _ == "pooled"))._1
    assert(a(0) >= 0.0 && b(0) == a(0))
    assert(a(1) >= 0.0 && b(1) == -1.0)
  }

  test("comparable totals drop an item that failed on either arm from both, and count it") {
    val (da, db, excluded) = Bench.comparableTotals(
      Seq(1.0, -1.0, 2.0, 4.0), Seq(0.5, 3.0, -1.0, 1.5))
    assert(da == 5.0 && db == 2.0 && excluded == 2)
    assert(Bench.comparableTotals(Seq(1.0), Seq(2.0)) == ((1.0, 2.0, 0)))
  }

  test("adoption guard: a proposal that clears 15 % stays learned, one that does not is unlearned") {
    // revalidateOne's timer seam: calls alternate default, hinted, ...,
    // and each call is charged its arm's injected cost instead of wall time
    def costs(default: Double, hinted: Double): (() => Unit) => Double = {
      var n = 0
      f => { f(); n += 1; if (n % 2 == 1) default else hinted }
    }
    val propose = (df: DataFrame) => Steered.learn(df, "default")
    val failed = mutable.LinkedHashMap.empty[String, String]
    Steered.clear()
    try {
      val win = spark.range(10).toDF("win")
      val noise = spark.range(10).toDF("noise")
      val clears = Bench.guard("q00_win", Bench.AdoptMargin, failed, costs(1.0, 0.80), propose)(() => win)
      assert(clears.contains((1.0, 0.80, true)))
      assert(Steered.hintFor(win).isDefined)
      // 10 % would pass the keep margin, but not adoption's 15 %
      val short = Bench.guard("q00_noise", Bench.AdoptMargin, failed, costs(1.0, 0.90), propose)(() => noise)
      assert(short.contains((1.0, 0.90, false)))
      assert(Steered.hintFor(noise).isEmpty)
      // a proposal whose run throws is unlearned and its failure recorded
      val throws = spark.range(10).toDF("throws")
      val (broken, _) = capturingErr(Bench.guard("q00_throws", Bench.AdoptMargin, failed,
        f => throw new IllegalStateException("arm"), propose)(() => throws))
      assert(broken.isEmpty && Steered.hintFor(throws).isEmpty)
      assert(failed.keySet == Set("q00_throws"))
    } finally Steered.clear()
  }
  test("adoption guard: a build's cost is charged to both arms, as the bank charges it") {
    // a virtual clock: each build advances it by 0.5, and the timer charges
    // an arm the clock's advance plus its run cost (default 1.0, hinted
    // 0.8), so a 20 % run-time win is diluted to 1.3 / 1.5 by the build
    var clock = 0.0
    var builds = 0
    var calls = 0
    val timer: (() => Unit) => Double = f => {
      val t0 = clock
      f()
      calls += 1
      clock - t0 + (if (calls % 2 == 1) 1.0 else 0.8)
    }
    val eager = spark.range(10).toDF("eager")
    val build = () => { clock += 0.5; builds += 1; eager }
    val failed = mutable.LinkedHashMap.empty[String, String]
    Steered.clear()
    try {
      val v = Bench.guard("q00_eager", Bench.AdoptMargin, failed, timer,
        Steered.learn(_, "default"))(build)
      assert(v.contains((1.5, 0.5 + 0.8, false)))
      assert(Steered.hintFor(eager).isEmpty)
      // the proposal and the hint lookup share one build; every timed run builds its own
      assert(builds == 1 + 2 * 2)
      assert(failed.isEmpty)
    } finally Steered.clear()
  }
}
