package graft.operators

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import graft.SharedSpark

/** Property-based packing checks: the q76 conservation laws must hold for
  * ANY corpus shape — random doc counts, token counts (including 0-token
  * degenerates), source skew — not just the driver fixtures. (Raw
  * scalacheck Gen sampling, same pattern as CensoredALSPropSpec: the
  * scalatestplus bridge isn't in the offline dependency cache.)
  */
class PackingPropSpec extends AnyFunSuite with SharedSpark {

  private val corpora: Gen[Seq[(Long, String, Int)]] = for {
    n <- Gen.choose(1, 60)
    rows <- Gen.listOfN(n, for {
      src <- Gen.oneOf("A", "B", "C")
      tok <- Gen.frequency(8 -> Gen.choose(1, 40), 1 -> Gen.const(0),
        1 -> Gen.choose(200, 600)) // skew: oversized docs straddle bins
    } yield (src, tok))
  } yield rows.zipWithIndex.map { case ((s, t), i) => (i.toLong, s, t) }

  private def draw[A](g: Gen[A], k: Int): A =
    g.apply(Gen.Parameters.default, Seed(k.toLong))
      .getOrElse(fail(s"generator produced no value for seed $k"))

  test("packSummary: conservation + dense bins + capacity for random corpora") {
    val sp = spark
    import sp.implicits._
    (1 to 12).foreach { k =>
      val corpus = draw(corpora, k)
      val df = corpus.toDF("doc_id", "source", "tok")
      val packed = PackingOps.packSummary(df).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))

      val bySrc = corpus.groupBy(_._2)
      // conservation: every doc and token lands in exactly one bin
      bySrc.foreach { case (src, docs) =>
        val mine = packed.filter(_._1 == src)
        assert(mine.map(_._3).sum == docs.size, s"seed $k src $src doc count")
        assert(mine.map(_._4).sum == docs.map(_._3.toLong).sum, s"seed $k src $src tokens")
        // the summary must equal an exact driver-side replay of the
        // prefix-sum rule (bins are NOT always dense: an oversized doc
        // spans several bins and the next doc legally skips ahead)
        val replay = docs.sortBy(_._1).foldLeft((0L, Map.empty[Long, (Long, Long)])) {
          case ((prev, acc), (_, _, tok)) =>
            val b = prev / PackingOps.SeqBudget
            val (n0, t0) = acc.getOrElse(b, (0L, 0L))
            (prev + tok, acc + (b -> (n0 + 1, t0 + tok)))
        }._2
        assert(mine.map(m => m._2 -> ((m._3, m._4))).toMap == replay,
          s"seed $k src $src summary ${mine.mkString(",")} vs replay $replay")
      }
    }
  }

  test("packSummary groupWidth invariance: any width yields the same bins") {
    val sp = spark
    import sp.implicits._
    (1 to 6).foreach { k =>
      val corpus = draw(corpora, 100 + k)
      val df = corpus.toDF("doc_id", "source", "tok")
      val canon = PackingOps.packSummary(df).collect().map(_.toSeq).toSeq
      Seq(1L, 7L, 64L).foreach { w =>
        val got = PackingOps.packSummary(df, groupWidth = w)
          .collect().map(_.toSeq).toSeq
        assert(got == canon, s"seed $k width $w")
      }
    }
  }

  test("skew: one dominant source packs across many tasks, bit-identically") {
    // The adversarial crawl shape the single-window design dies on: ONE
    // source holding the whole corpus. The two-level prefix sum must (a)
    // produce exactly the sequential replay and (b) actually split the
    // running-sum work across tasks — asserted from task metrics, not the
    // plan string (hash-by-source also schedules 32 tasks; 31 read 0 rows).
    val sp = spark
    val n = 120000L
    val docs = sp.range(n).selectExpr("id AS doc_id", "'crawl' AS source",
      "CAST(pmod(id * 2654435761, 37) + 1 AS INT) AS tok")
    val stageRecords =
      new scala.collection.concurrent.TrieMap[Int, Vector[Long]]()
    val listener = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val read = Option(t.taskMetrics)
          .map(_.shuffleReadMetrics.recordsRead).getOrElse(0L)
        stageRecords.updateWith(t.stageId)(v =>
          Some(v.getOrElse(Vector.empty) :+ read))
      }
    }
    sp.sparkContext.addSparkListener(listener)
    // AQE coalescing legitimately merges these tiny test partitions into
    // one; disable it so task counts reflect the 100 TB shape, where
    // partitions are at the advisory size and never coalesce to one
    val prevCoalesce = sp.conf.get("spark.sql.adaptive.coalescePartitions.enabled")
    sp.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try {
      val got = PackingOps.packSummary(docs, groupWidth = 1024L).collect()
        .map(r => r.getLong(1) -> ((r.getLong(2), r.getLong(3)))).toMap
      val replay = (0L until n).foldLeft(
        (0L, Map.empty[Long, (Long, Long)])) { case ((prev, acc), id) =>
        val tok = (id * 2654435761L) % 37 + 1
        val b = prev / PackingOps.SeqBudget
        val (n0, t0) = acc.getOrElse(b, (0L, 0L))
        (prev + tok, acc + (b -> (n0 + 1, t0 + tok)))
      }._2
      assert(got == replay, "skewed corpus summary diverges from replay")
      // the stage reading the full-data (source,grp) shuffle must spread
      // the corpus across tasks — no single task scans the source
      val deadline = System.currentTimeMillis + 30000
      def bigStages = stageRecords.values.filter(_.sum >= n).toSeq
      while (bigStages.isEmpty && System.currentTimeMillis < deadline)
        Thread.sleep(100)
      assert(bigStages.nonEmpty, s"no stage read the shuffled corpus: " +
        stageRecords.map { case (s, v) => s -> v.sum }.toMap)
      bigStages.foreach { tasks =>
        assert(tasks.max <= tasks.sum / 4,
          s"one task read ${tasks.max} of ${tasks.sum} shuffled rows — " +
            "packing collapsed back to a per-source scan")
      }
    } finally {
      sp.conf.set("spark.sql.adaptive.coalescePartitions.enabled", prevCoalesce)
      sp.sparkContext.removeSparkListener(listener)
    }
  }
}
