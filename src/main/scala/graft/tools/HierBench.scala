package graft.tools

import org.apache.spark.sql.functions._
import graft.operators.ProductQuantization

/** Micro-bench for the two-level coarse quantizer: flat O(nList) cell
  * assignment vs hierarchical O(nSuper + members) on a soak corpus.
  *
  *   graft.tools.HierBench <embDir> [nList] [nSuper] [nSuperProbe] [reps]
  *
  * Prints min-of-reps wall for both paths plus the agreement rate — the
  * number that justifies (or kills) deploying the hierarchy at a given
  * (nList, nSuper, nSuperProbe) point. The flat path is [[ProductQuantization.cellExpr]]
  * exactly as q102/q103/q105 run it; the hier path is
  * [[ProductQuantization.probeExprHier]] at nProbe = 1.
  */
object HierBench {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/soak_400000")
    val nList = args.lift(1).map(_.toInt).getOrElse(400)
    val nSuper = args.lift(2).map(_.toInt).getOrElse(20)
    val nSuperProbe = args.lift(3).map(_.toInt).getOrElse(4)
    val reps = args.lift(4).map(_.toInt).getOrElse(3)
    val spark = graft.Cli.session()

    val emb = spark.read.parquet(s"$dir/embeddings.parquet").cache()
    val n = emb.count()
    val cents = ProductQuantization.trainCoarse(emb, nList)
    val (sup, c2s) = ProductQuantization.trainSuper(cents, nSuper)

    def time(f: => Long): (Double, Long) = {
      var best = Double.MaxValue; var out = 0L
      (1 to reps).foreach { _ =>
        val t0 = System.nanoTime()
        out = f
        best = math.min(best, (System.nanoTime() - t0) / 1e9)
      }
      (best, out)
    }

    val flatE = ProductQuantization.cellExpr(spark, cents)
    val hierE = ProductQuantization.probeExprHier(spark, cents, sup, c2s, 1, nSuperProbe)
    val (tFlat, _) = time(emb.select(flatE(col("embedding")).as("c"))
      .agg(sum(col("c"))).head().getLong(0))
    val (tHier, _) = time(emb.select(hierE(col("embedding")).as("c"))
      .agg(sum(element_at(col("c"), 1))).head().getLong(0))
    val agree = emb.select(flatE(col("embedding")).as("f"),
        hierE(col("embedding")).as("h"))
      .filter(col("f") === element_at(col("h"), 1)).count()

    println(f"n=$n nList=$nList nSuper=$nSuper nSuperProbe=$nSuperProbe " +
      f"flat=$tFlat%.2f s hier=$tHier%.2f s speedup=${tFlat / tHier}%.2fx " +
      f"agreement=${agree.toDouble / n}%.4f")
    spark.stop()
  }
}
