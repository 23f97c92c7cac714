package graft.catalyst

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import graft.functions.CosineSimilarity

/** Catalyst extension entry point (the BASELINE.json north star: "Catalyst
  * optimizer extension with learned cost models").
  *
  * Two injections:
  *  1. [[HintSteeringRule]] — an optimizer rule that applies a join-strategy
  *     hint chosen by the learned steering loop ([[SteeringLoop]]) to every
  *     un-hinted join in the plan. This is the LimeQO architecture mapped
  *     onto Spark itself: the reference steers PostgreSQL through 49
  *     pre-enumerated hint sets per query (`/root/reference/README.md:10-12`);
  *     here the "hint set" is a Spark join-strategy choice and the steered
  *     optimizer is Catalyst. The rule is declarative and per-session:
  *     which hint to apply comes from `spark.graft.steering.strategy`,
  *     which the steering loop sets per (query, round) as it explores the
  *     workload matrix.
  *  2. `cosine_similarity` as a SQL function — the native codegen'd
  *     expression ([[graft.functions.CosineSimilarity]]) becomes callable
  *     from `spark.sql(...)`, not just the Column API.
  *
  * Activate with `.withExtensions(new GraftExtensions)` at session build, or
  * `spark.sql.extensions=graft.catalyst.GraftExtensions` on spark-submit.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => HintSteeringRule)
    // join-ORDER dimension: a Once batch after the operator fixpoint (and
    // after HintSteeringRule has stamped strategy hints) — see
    // JoinOrderSteeringRule for why it must not live in the fixpoint batch
    ext.injectPreCBORule(_ => JoinOrderSteeringRule)
    ext.injectFunction(GraftExtensions.cosineSimilarityDescriptor)
    GraftExtensions.hashKernelDescriptors.foreach(ext.injectFunction)
  }
}

object GraftExtensions {
  val cosineSimilarityDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("cosine_similarity"),
    new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_similarity"),
    (children: Seq[Expression]) => {
      require(children.length == 2, "cosine_similarity(a, b) takes exactly 2 arguments")
      CosineSimilarity(children.head, children(1))
    })

  /** The shape/seed parameters of the hash kernels are COMPILE-TIME ints
    * on the expression (they size generated arrays), so the SQL surface
    * requires them as integer literals. */
  private def intLit(e: Expression, fn: String, arg: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$fn: $arg must be an integer literal, got ${other.sql}")
  }

  /** The native hash-kernel family as SQL functions — every codegen'd
    * expression the Column API exposes is also callable from
    * `spark.sql(...)`: minhash_fast(shingles, nSeeds),
    * minhash_tokens(tokens, nSeeds), band_keys_fast(sig, nBands,
    * rowsPerBand), winnow_md5(tokens, k, w). */
  val hashKernelDescriptors: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("minhash_fast"),
      new ExpressionInfo(classOf[graft.functions.MinHashFastExpr].getName, "minhash_fast"),
      (c: Seq[Expression]) => {
        require(c.length == 2, "minhash_fast(shingles, nSeeds) takes exactly 2 arguments")
        graft.functions.MinHashFastExpr(c.head, intLit(c(1), "minhash_fast", "nSeeds"))
      }),
    (FunctionIdentifier("minhash_tokens"),
      new ExpressionInfo(classOf[graft.functions.MinHashTokensExpr].getName, "minhash_tokens"),
      (c: Seq[Expression]) => {
        require(c.length == 2, "minhash_tokens(tokens, nSeeds) takes exactly 2 arguments")
        graft.functions.MinHashTokensExpr(c.head, intLit(c(1), "minhash_tokens", "nSeeds"))
      }),
    (FunctionIdentifier("band_keys_fast"),
      new ExpressionInfo(classOf[graft.functions.BandKeysFastExpr].getName, "band_keys_fast"),
      (c: Seq[Expression]) => {
        require(c.length == 3, "band_keys_fast(sig, nBands, rowsPerBand) takes exactly 3 arguments")
        graft.functions.BandKeysFastExpr(c.head,
          intLit(c(1), "band_keys_fast", "nBands"),
          intLit(c(2), "band_keys_fast", "rowsPerBand"))
      }),
    (FunctionIdentifier("winnow_md5"),
      new ExpressionInfo(classOf[graft.functions.WinnowMd5Expr].getName, "winnow_md5"),
      (c: Seq[Expression]) => {
        require(c.length == 3, "winnow_md5(tokens, k, w) takes exactly 3 arguments")
        graft.functions.WinnowMd5Expr(c.head,
          intLit(c(1), "winnow_md5", "k"),
          intLit(c(2), "winnow_md5", "w"))
      }))
}

/** Applies the session's steering choice (`spark.graft.steering.strategy`)
  * as a [[JoinHint]] on every join that the user has not hinted manually.
  *
  * Strategies (the "hint set" columns of the steering workload matrix):
  *  - `""` (unset)   — rule is a no-op; Catalyst plans as usual (column 0,
  *    the always-observed default plan in LimeQO terms)
  *  - `broadcast`    — hint both sides BROADCAST; the planner broadcasts
  *    whichever side it costs cheaper
  *  - `merge`        — force sort-merge join
  *  - `shuffle_hash` — force shuffle hash join
  *  - `no_broadcast` — forbid broadcast-hash (at scale: protects against
  *    a mis-estimated "small" side OOMing 1000 executors)
  *
  * The rule runs in the extended-operator-optimization batch, i.e. after
  * analysis (manual SQL hint comments and `broadcast(df)` calls have
  * already been folded into `Join.hint` — those are respected and left
  * alone) and before join strategy selection, which reads `Join.hint`.
  */
object HintSteeringRule extends Rule[LogicalPlan] {
  val ConfKey = "spark.graft.steering.strategy"

  /** Run `body` under one steering config: the session's steering
    * `strategy` plus the config's extra session `confs`. Every touched key
    * is restored afterwards, also when a set or `body` throws: a key that
    * was set gets its old value back, a key that was absent is unset. */
  def withSteering[T](spark: SparkSession, strategy: String, confs: Map[String, String])
                     (body: => T): T = {
    val prev = (ConfKey +: confs.keys.toSeq).map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set(ConfKey, strategy)
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      body
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private[catalyst] def hintFor(strategy: String): Option[JoinHint] = {
    def both(h: JoinStrategyHint) =
      Some(JoinHint(Some(HintInfo(Some(h))), Some(HintInfo(Some(h)))))
    strategy match {
      case "broadcast"    => both(BROADCAST)
      case "merge"        => both(SHUFFLE_MERGE)
      case "shuffle_hash" => both(SHUFFLE_HASH)
      case "no_broadcast" => both(NO_BROADCAST_HASH)
      case _ => None
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val strategy = conf.getConfString(ConfKey, "")
    hintFor(strategy) match {
      case None => plan
      case Some(h) =>
        plan.transformUp {
          case j: Join if j.hint == JoinHint.NONE => j.copy(hint = h)
        }
    }
  }
}
