package graft.core

/** Per-round metric record emitted by every strategy.
  * Field names mirror the reference trace JSON
  * (`/root/reference/src/strategies/limeqo.py:54-68`).
  */
final case class RoundMetrics(
    trainingTime: Double,
    inferenceTime: Double,
    execTime: Double,
    totalLatency: Double,
    p50: Double,
    p90: Double,
    p95: Double,
    p99: Double,
    exploreQueriesCnt: Int) {

  def toJson: String =
    s"""{
       |    "training_time": ${Num.js(trainingTime)},
       |    "inference_time": ${Num.js(inferenceTime)},
       |    "exec_time": ${Num.js(execTime)},
       |    "total_latency": ${Num.js(totalLatency)},
       |    "p50": ${Num.js(p50)},
       |    "p90": ${Num.js(p90)},
       |    "p95": ${Num.js(p95)},
       |    "p99": ${Num.js(p99)},
       |    "explore_queries_cnt": $exploreQueriesCnt
       |}""".stripMargin
}

object RoundMetrics {
  import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

  /** The Spark schema of one [[toJson]] record. Declared rather than
    * inferred: inference costs a job per read, and it types a field by its
    * values (a baseline's `training_time` of `0`, or a trace whose
    * `exec_time`s are all integral, would read as bigint). */
  val schema: StructType = StructType(
    Seq("training_time", "inference_time", "exec_time", "total_latency",
      "p50", "p90", "p95", "p99").map(StructField(_, DoubleType)) :+
      StructField("explore_queries_cnt", LongType))
}

object Num {
  /** JSON number rendering: integers without trailing .0 where the value is
    * integral (matches Python json.dump of ints like training_time=0). */
  def js(d: Double): String =
    if (d == d.floor && !d.isInfinite && math.abs(d) < 1e15 && d == d.toLong.toDouble) d.toLong.toString
    else d.toString
}

/** Exact percentiles with NumPy's default linear interpolation
  * (`np.percentile(x, q)`): pos = q/100·(n−1), linear between the two
  * bracketing order statistics. Matches Spark SQL `percentile` and DuckDB
  * `quantile_cont`.
  */
object Percentile {
  def apply(values: Array[Double], q: Double): Double = {
    require(values.nonEmpty, "percentile of empty array")
    val a = values.clone()
    java.util.Arrays.sort(a)
    val pos = q / 100.0 * (a.length - 1)
    val lo = pos.toInt
    if (lo >= a.length - 1) a(a.length - 1)
    else a(lo) + (a(lo + 1) - a(lo)) * (pos - lo)
  }
  def median(values: Array[Double]): Double = apply(values, 50.0)
}
