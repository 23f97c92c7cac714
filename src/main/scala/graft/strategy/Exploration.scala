package graft.strategy

import java.nio.file.Path
import scala.collection.mutable.ArrayBuffer
import scala.util.Random
import graft.core.{RoundMetrics, RoundState, WorkloadMatrix}

/** The run scaffold every offline strategy shares — the reference's one
  * driver loop (rank or complete, select under a timeout, record the
  * round). It owns:
  *  - resume-or-init: an unfinished [[RunSnapshot]] of the same strategy
  *    and seed is restored, otherwise `init` sets up a fresh
  *    [[RoundState]];
  *  - the RNG stream, which continues mid-sequence on resume and is
  *    persisted only for a seeded strategy (`seed` set);
  *  - the results buffer, with the trace rewritten on every emit;
  *  - `minObs` and `round` as of the top of the body: the reference loops
  *    test their stop rule against the body-top min-observed, so a resumed
  *    run restores that vector instead of recomputing it;
  *  - the per-round and final snapshots, and the shared stop rule
  *    ([[underBudget]]).
  */
private[strategy] final class Exploration(name: String, seed: Option[Long], w: WorkloadMatrix,
    tracePath: Option[Path], snapshotPath: Option[Path])(init: RoundState => Unit) {

  // a done snapshot means the trace is complete: run() restarts fresh
  // and overwrites it
  private val resumed = snapshotPath.flatMap(RunSnapshot.load)
    .filter(s => s.strategy == name && s.seed == seed.getOrElse(0L) && !s.done)

  val st = new RoundState(w)
  resumed match {
    case Some(s) => s.restore(st)
    case None => init(st)
  }
  val rng: Random = resumed.flatMap(_.rng).map(RunSnapshot.rngFrom)
    .getOrElse(new Random(seed.getOrElse(0L)))
  private val results = ArrayBuffer.from(resumed.fold(Vector.empty[RoundMetrics])(_.results))
  var minObs: Array[Double] = resumed.fold(st.minObserved)(_.minObs)
  var round: Int = resumed.fold(0)(_.round)
  /** Set by a body to end the run after its round, with a done snapshot. */
  var ended = false

  /** A loop-local flag from the resumed snapshot's `extra` map. Tolerant:
    * a missing key (older format) is a fresh default, not a crash. */
  def restored(key: String): Option[String] = resumed.flatMap(_.extra.get(key))

  def emit(m: RoundMetrics): Unit = {
    results += m
    tracePath.foreach(Trace.write(_, results.toSeq))
  }

  /** The shared stop rule: by default the code's Σ min-observed ≤ opt + 20
    * ends the run; with `budgetSeconds`, the exploration-time budget the
    * stored experiment traces were generated with. */
  def underBudget(budgetSeconds: Option[Double]): Boolean = budgetSeconds match {
    case Some(b) => st.execTime + st.timeout - w.defaultTime < b
    case None => minObs.sum > w.optTime + 20
  }

  /** End the run after this round once no cell is both unobserved and
    * unexplored: nothing is left to pick. Without it a loop never stops on
    * a matrix with a 0-valued cell, because min-observed reads 0 as
    * unobserved (the reference's 0 → ∞ sentinel) and Σ min-observed never
    * reaches the optimum. */
  def endIfExhausted(): Unit = if (!Exploration.anyUnexplored(st)) ended = true

  /** Run `body` once per round while `keepGoing` holds, the round cap is
    * not reached and no body has [[ended]] the run; snapshot after every
    * round (with `extra` as the loop-local flags), and mark the last
    * snapshot done when the run stopped by itself. */
  def loop(maxRounds: Int, keepGoing: => Boolean, extra: => Map[String, String] = Map.empty)
          (body: => Unit): Vector[RoundMetrics] = {
    def snap(done: Boolean): Unit = snapshotPath.foreach(RunSnapshot.capture(
      name, seed.getOrElse(0L), st, round, minObs, results.toSeq,
      rng = seed.map(_ => rng), extra = extra, done = done).save(_))
    while (keepGoing && round < maxRounds && !ended) {
      body
      round += 1
      snap(done = false)
    }
    if (!keepGoing || ended) snap(done = true)
    results.toVector
  }
}

private[strategy] object Exploration {
  /** Fresh state of the baselines: column 0 observed, hint groups included. */
  def observeDefaults(st: RoundState): Unit = (0 until st.w.nRows).foreach(st.observe(_, 0))

  /** Fresh state from an init mask (default: column 0 only), set cell by
    * cell; `explore` also marks the cells explored. */
  def applyMask(init: Option[Array[Array[Boolean]]], explore: Boolean)(st: RoundState): Unit = {
    val w = st.w
    val m = init.getOrElse(Array.tabulate(w.nRows, w.nCols)((_, j) => j == 0))
    for (i <- 0 until w.nRows; j <- 0 until w.nCols if m(i)(j)) {
      st.mask(i)(j) = true
      if (explore) st.explored(i)(j) = true
    }
  }

  def anyUnexplored(st: RoundState): Boolean = {
    var r = 0
    while (r < st.mask.length) {
      val (m, e) = (st.mask(r), st.explored(r))
      var c = 0
      while (c < m.length) { if (!m(c) && !e(c)) return true; c += 1 }
      r += 1
    }
    false
  }
}

/** The per-row-best round that LimeQO and LimeQO+ share
  * (`limeqo.py:71-123`, `limeqo_plus.py:92-148`): the two differ only in
  * what predicts the unobserved cells. */
private[strategy] object LimeQORound {

  /** Each row's best predicted hint. Observed cells and 0-valued
    * predictions read as +∞ (the reference's 0 → ∞ sentinel); the argmin
    * takes the lowest column on ties. */
  final class Ranked(val pred: Array[Array[Double]], val best: Array[Int])

  /** Rank the round's `predicted` seconds, writing the sentinel into the
    * caller's array in place. */
  def rank(st: RoundState, predicted: Array[Array[Double]]): Ranked = {
    for (r <- predicted.indices; c <- predicted(r).indices)
      if (st.mask(r)(c) || predicted(r)(c) == 0.0) predicted(r)(c) = Double.PositiveInfinity
    val best = predicted.map { row =>
      var b = 0; var c = 1
      while (c < row.length) { if (row(c) < row(b)) b = c; c += 1 }
      b
    }
    new Ranked(predicted, best)
  }

  /** Explore up to `newObserveSize` cells: rows in descending
    * improvement-ratio order (`(minObs − pred) / pred`), each row's best
    * hint run under the tolerance min(α·minObs, β·pred) — skipped when
    * predicted at or past it, censored into the timeout ledger when its
    * true time reaches it — then a random top-up of unexplored cells
    * under their current min-observed, until the batch is full, Σ
    * min-observed ≤ opt + 50, or nothing is left to explore.
    *
    * Returns the min-observed of the top-up's last refresh, if the top-up
    * ran: LimeQO rebinds its stop-rule vector to it (`limeqo.py:104`). */
  def explore(st: RoundState, ranked: Ranked, minObs: Array[Double], alpha: Double,
              beta: Double, newObserveSize: Int, rng: Random): Option[Array[Double]] = {
    val w = st.w
    val improve = Array.tabulate(w.nRows) { r =>
      val m = ranked.pred(r)(ranked.best(r))
      (minObs(r) - m) / m
    }
    val order = (0 until w.nRows).sortBy(r => (-improve(r), r))

    var cnt = 0
    val it = order.iterator
    while (it.hasNext && cnt < newObserveSize) {
      val row = it.next()
      val hint = ranked.best(row)
      val p = ranked.pred(row)(hint)
      val tolerance = math.min(alpha * minObs(row), beta * p)
      val skip = p.isInfinite || st.explored(row)(hint) || p >= tolerance
      if (!skip) {
        if (w.values(row)(hint) >= minObs(row)) st.markExplored(row, hint)
        if (w.values(row)(hint) >= tolerance) {
          st.markTimeout(row, hint, tolerance)
          st.timeout += tolerance
        } else {
          st.observe(row, hint)
          st.markExplored(row, hint)
          cnt += 1
          st.exploreQueries += row
        }
      }
    }

    // the stop test's inputs change only when a draw observes or censors
    // a cell; a rejected draw reuses them
    var refreshed: Option[Array[Double]] = None
    var mo: Array[Double] = null
    var stale = true
    var done = false
    while (cnt < newObserveSize && !done) {
      if (stale) {
        mo = st.minObserved
        refreshed = Some(mo)
        done = mo.sum <= w.optTime + 50 || !Exploration.anyUnexplored(st)
        stale = false
      }
      if (!done) {
        val row = rng.nextInt(w.nRows)
        val col = rng.nextInt(w.nCols)
        if (!st.mask(row)(col) && !st.explored(row)(col)) {
          stale = true
          if (w.values(row)(col) >= mo(row)) {
            st.timeout += mo(row)
            st.markExplored(row, col)
            st.markTimeout(row, col, mo(row))
          } else {
            st.markExplored(row, col)
            st.observe(row, col)
            cnt += 1
            st.exploreQueries += row
          }
        }
      }
    }
    refreshed
  }
}
