package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.WindowExpression
import org.scalatest.funsuite.AnyFunSuite
import graft.SharedSpark

/** [[DedupOps.windowCandidates]] against a driver-side reference, on
  * blocks of distinct (not identical) ids, including blocks larger than
  * the cap; and the plan size of a capped kernel against its cap. */
class CandidateWindowSpec extends AnyFunSuite with SharedSpark {

  private val caps = Seq(1, 2, 3, 7, 32, DedupOps.MaxCandidateCap)

  /** Blocks keyed by (k1, k2) with sizes drawn from 1..40 (plus one block
    * of each extreme), filled with distinct shuffled Long ids. */
  private def randomBlocks(seed: Long): Seq[(Int, String, Long)] = {
    val rnd = new scala.util.Random(seed)
    val sizes = Seq(1, 40) ++ Seq.fill(18)(1 + rnd.nextInt(40))
    val ids = rnd.shuffle((1L to sizes.sum.toLong).map(_ * 7919L - 500000L))
    val keys = sizes.indices.map(b => (b % 3, s"k${b / 3}"))
    val owners = keys.zip(sizes).flatMap { case (k, n) => Seq.fill(n)(k) }
    owners.zip(ids).map { case ((k1, k2), id) => (k1, k2, id) }
  }

  /** Sort each block by id and pair each id with its next ≤ cap ids. */
  private def reference(rows: Seq[(Int, String, Long)], cap: Int): Seq[(Long, Long)] =
    rows.groupBy(r => (r._1, r._2)).values.toSeq.flatMap { block =>
      val ids = block.map(_._3).sorted
      ids.indices.flatMap(i => ids.slice(i + 1, i + 1 + cap).map(ids(i) -> _))
    }.sorted

  test("window candidates equal the sorted-block reference for every cap") {
    val sp = spark
    import sp.implicits._
    for (seed <- Seq(3L, 17L, 101L)) {
      val rows = randomBlocks(seed)
      val df = rows.toDF("k1", "k2", "id").repartition(4)
      for (cap <- caps) {
        val got = DedupOps.windowCandidates(df, Seq("k1", "k2"), "id", cap, "a", "b")
          .as[(Long, Long)].collect().toSeq.sorted
        assert(got == reference(rows, cap), s"seed $seed, cap $cap")
      }
    }
  }

  test("the capped Jaccard plan has as many window expressions at cap 1 as at the max cap") {
    val sp = spark
    import sp.implicits._
    val docs = (1L to 12L).map(i => (i, "web", s"the quick brown fox ${i % 3} jumps over"))
      .toDF("doc_id", "source", "text")
    def windowExprs(df: DataFrame): Int =
      df.queryExecution.optimizedPlan.collect { case p =>
        p.expressions.map(_.collect { case w: WindowExpression => w }.size).sum
      }.sum
    val atOne = windowExprs(DedupOps.jaccardPairs(docs, 0.2, 1))
    val atMax = windowExprs(DedupOps.jaccardPairs(docs, 0.2, DedupOps.MaxCandidateCap))
    assert(atOne > 0, "no window expression found in the plan")
    assert(atOne == atMax, s"window expressions: $atOne at cap 1, $atMax at the max cap")
  }
}
