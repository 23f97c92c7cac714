package graft.model

import java.util.stream.IntStream
import breeze.linalg.{DenseMatrix, DenseVector}
import scala.collection.mutable.ArrayBuffer
import scala.util.Random

/** One training/inference sample: a featurized plan tree plus its matrix
  * position (SURVEY §2.12; reference `src/models/tcnn.py`,
  * `src/strategies/limeqo_plus.py:49-61`).
  *
  * `feats` row i = scaled feature vector of the node with tcnn index i
  * (row 0 = the Dummy vector); `idxes` = flattened (self, left, right)
  * gather triples, triple 0 = (0,0,0); `cols` = the hint-equivalence group
  * that shares this plan; `label` = scaled log-median runtime.
  */
final case class PlanSample(
    feats: Array[Array[Double]],
    idxes: Array[Int],
    row: Int,
    cols: Array[Int],
    label: Double)

/** Tree-CNN regressor (reference N1–N6, `src/models/tcnn.py:6-94`) as a
  * from-scratch Breeze implementation: two tree-conv blocks
  * (gather-triples → dense GEMM, kernel 3 stride 3 ≡ one GEMM per node),
  * LayerNorm + ReLU + Dropout(0.3), global max-pool over nodes, row/col
  * embeddings (rank 5), and a 3-layer MLP head — trained with Adam (torch
  * defaults: lr 1e-3, β=(0.9,0.999), ε=1e-8) under the censored MSE loss
  * (`limeqo_plus.py:263-267`).
  *
  * Design: no framework autodiff exists on this classpath, so layers carry
  * manual backward passes; parameters live in a small registry so Adam is
  * one loop. Per-sample forward/backward with gradient accumulation is
  * mathematically identical to the reference's padded batches (batch-mean
  * loss) minus torch's (B,1)-vs-(B) broadcasting quirk, which we do NOT
  * replicate (documented deviation; LimeQO+ parity is statistical —
  * SURVEY §5.4).
  *
  * Parallelism: training state is ~(256·3F + 128·768 + embeddings) ≈ a few
  * hundred KB and stays on the driver. A minibatch's samples run their
  * forward and backward passes in parallel, and [[predictAll]] scores its
  * samples in parallel, on the caller's ForkJoin pool (the common pool
  * outside one). The result is bit-identical for any pool size:
  *  - a sample's dropout masks are drawn from `rng` before the parallel
  *    work, in the order a sequential pass draws them;
  *  - a backward pass writes no gradient; it returns its gradient terms,
  *    and [[accumulate]] adds them over disjoint column bands of each
  *    `Param.g` so that every element takes its adds in (sample, node, op)
  *    order;
  *  - a rank-1 term `g(i, j) += a(i) * b(j)` is a plain loop, which rounds
  *    exactly like building the outer product and adding it.
  *
  * The serialized form (fields and serialVersionUID) is pinned: LimeQO+
  * snapshots carry the model, so per-call scratch state never becomes a
  * field.
  */
@SerialVersionUID(3533514260118072882L)
final class TCNN(val numFeatures: Int, val rank: Int, val nRows: Int, val nCols: Int,
                 seed: Long, dropP: Double = 0.3) extends Serializable {
  import TCNN._
  // Serializable: the model IS cross-round state (weights + Adam moments +
  // the dropout RNG mid-stream), and LimeQO+'s per-round RunSnapshot
  // persists the whole instance so an interrupted run resumes
  // bit-identically (ResumeSpec/LimeQOPlusSpec).

  private val rng = new Random(seed)

  /** A parameter tensor with its gradient and Adam state. */
  @SerialVersionUID(-7522081537482646179L)
  final class Param(val w: DenseMatrix[Double]) extends Serializable {
    val g: DenseMatrix[Double] = DenseMatrix.zeros[Double](w.rows, w.cols)
    val m: DenseMatrix[Double] = DenseMatrix.zeros[Double](w.rows, w.cols)
    val v: DenseMatrix[Double] = DenseMatrix.zeros[Double](w.rows, w.cols)
  }

  private def uniform(rows: Int, cols: Int, bound: Double): DenseMatrix[Double] =
    DenseMatrix.tabulate(rows, cols)((_, _) => (rng.nextDouble() * 2 - 1) * bound)
  private def gaussian(rows: Int, cols: Int): DenseMatrix[Double] =
    DenseMatrix.tabulate(rows, cols)((_, _) => rng.nextGaussian())

  private val params = scala.collection.mutable.ArrayBuffer.empty[Param]
  private def reg(w: DenseMatrix[Double]): Param = { val p = new Param(w); params += p; p }

  // tree-conv blocks: W is (out × 3·in) — conv1d(kernel 3, stride 3) over
  // the gathered (self,left,right) triples is exactly one GEMM per node
  private val c1w = reg(uniform(256, 3 * numFeatures, 1.0 / math.sqrt(3.0 * numFeatures)))
  private val c1b = reg(uniform(256, 1, 1.0 / math.sqrt(3.0 * numFeatures)))
  private val ln1g = reg(DenseMatrix.ones[Double](256, 1))
  private val ln1b = reg(DenseMatrix.zeros[Double](256, 1))
  private val c2w = reg(uniform(128, 3 * 256, 1.0 / math.sqrt(3.0 * 256)))
  private val c2b = reg(uniform(128, 1, 1.0 / math.sqrt(3.0 * 256)))
  private val ln2g = reg(DenseMatrix.ones[Double](128, 1))
  private val ln2b = reg(DenseMatrix.zeros[Double](128, 1))
  // embeddings (torch nn.Embedding init: N(0,1))
  private val userEmb = reg(gaussian(nRows, rank))
  private val itemEmb = reg(gaussian(nCols, rank))
  // MLP head
  private val inHead = 128 + 2 * rank
  private val f1w = reg(uniform(32, inHead, 1.0 / math.sqrt(inHead.toDouble)))
  private val f1b = reg(uniform(32, 1, 1.0 / math.sqrt(inHead.toDouble)))
  private val lf1g = reg(DenseMatrix.ones[Double](32, 1))
  private val lf1b = reg(DenseMatrix.zeros[Double](32, 1))
  private val f2w = reg(uniform(16, 32, 1.0 / math.sqrt(32.0)))
  private val f2b = reg(uniform(16, 1, 1.0 / math.sqrt(32.0)))
  private val lf2g = reg(DenseMatrix.ones[Double](16, 1))
  private val lf2b = reg(DenseMatrix.zeros[Double](16, 1))
  private val ow = reg(uniform(1, 16, 1.0 / math.sqrt(16.0)))
  private val ob = reg(uniform(1, 1, 1.0 / math.sqrt(16.0)))

  private val lnEps = 1e-5 // torch LayerNorm default

  // ---- layer helpers (vector in, vector out, with saved state) ----

  private final case class LnState(xhat: DenseVector[Double], invStd: Double)

  private def layerNormF(x: DenseVector[Double], g: Param, b: Param): (DenseVector[Double], LnState) = {
    val n = x.length
    val mean = breeze.linalg.sum(x) / n
    val cent = x - mean
    val variance = breeze.linalg.sum(cent *:* cent) / n
    val invStd = 1.0 / math.sqrt(variance + lnEps)
    val xhat = cent * invStd
    ((xhat *:* g.w(::, 0)) + b.w(::, 0), LnState(xhat, invStd))
  }

  /** LayerNorm backward: standard closed form. Records dγ/dβ in `grads`. */
  private def layerNormB(dy: DenseVector[Double], st: LnState, g: Param, b: Param,
                         grads: ArrayBuffer[Grad]): DenseVector[Double] = {
    val n = st.xhat.length.toDouble
    grads += new Outer(g, dy *:* st.xhat, One)
    grads += new Outer(b, dy, One)
    val dxhat = dy *:* g.w(::, 0)
    val s1 = breeze.linalg.sum(dxhat)
    val s2 = breeze.linalg.sum(dxhat *:* st.xhat)
    ((dxhat * n) - s1 - (st.xhat * s2)) * (st.invStd / n)
  }

  private def dropoutMask(n: Int): DenseVector[Double] =
    DenseVector.tabulate(n)(_ => if (rng.nextDouble() < dropP) 0.0 else 1.0 / (1.0 - dropP))

  /** A training sample's dropout masks, drawn in the order a sequential
    * pass draws them: d1 for each triple, then d2 for each triple, then dA
    * and dB. */
  private def drawDropout(s: PlanSample): Dropout = {
    val nTriples = s.idxes.length / 3
    val d1 = Array.fill(nTriples)(dropoutMask(256))
    val d2 = Array.fill(nTriples)(dropoutMask(128))
    val dA = dropoutMask(32)
    val dB = dropoutMask(16)
    new Dropout(d1, d2, dA, dB)
  }

  // ---- forward/backward over one sample ----

  /** One sample's forward pass, keeping what its backward pass reads.
    * `drop` is null at inference, where dropout is the identity (a mask of
    * ones would change no bit). Reads the weights only, so samples run in
    * parallel. */
  private final class Trace(val s: PlanSample, drop: Dropout) {
    val nTriples: Int = s.idxes.length / 3
    // gather input triples from node features
    private def gather(rows: Int => DenseVector[Double], dim: Int, t: Int): DenseVector[Double] = {
      val out = DenseVector.zeros[Double](3 * dim)
      var k = 0
      while (k < 3) {
        out(k * dim until (k + 1) * dim) := rows(s.idxes(t * 3 + k))
        k += 1
      }
      out
    }
    private val featRow: Int => DenseVector[Double] = i => DenseVector(s.feats(i))
    private def dropout(x: DenseVector[Double], mask: Dropout => DenseVector[Double]): DenseVector[Double] =
      if (drop == null) x else x *:* mask(drop)

    // block 1
    val x1 = Array.tabulate(nTriples)(t => gather(featRow, numFeatures, t))
    val h1 = x1.map(x => (c1w.w * x) + c1b.w(::, 0))
    val ln1 = h1.map(h => layerNormF(h, ln1g, ln1b))
    val r1mask = ln1.map(_._1.map(v => if (v > 0) 1.0 else 0.0))
    val o1 = Array.tabulate(nTriples)(t => dropout(ln1(t)._1 *:* r1mask(t), _.d1(t)))

    // block 2 (gather over block-1 node outputs; same index triples)
    val o1Row: Int => DenseVector[Double] = i => o1(i)
    val x2 = Array.tabulate(nTriples)(t => gather(o1Row, 256, t))
    val h2 = x2.map(x => (c2w.w * x) + c2b.w(::, 0))
    val ln2 = h2.map(h => layerNormF(h, ln2g, ln2b))
    val r2mask = ln2.map(_._1.map(v => if (v > 0) 1.0 else 0.0))
    val o2 = Array.tabulate(nTriples)(t => dropout(ln2(t)._1 *:* r2mask(t), _.d2(t)))

    // dynamic max-pool over nodes; remember argmax for backward
    val poolIdx = new Array[Int](128)
    val pooled = DenseVector.tabulate(128) { d =>
      var best = o2(0)(d); var bi = 0; var t = 1
      while (t < nTriples) { if (o2(t)(d) > best) { best = o2(t)(d); bi = t }; t += 1 }
      poolIdx(d) = bi; best
    }

    // embeddings + head
    val ue = userEmb.w(s.row, ::).t
    val ie = itemEmb.w(s.cols(0), ::).t
    val z = DenseVector.vertcat(pooled, ue, ie)
    val a1 = (f1w.w * z) + f1b.w(::, 0)
    val lnA = layerNormF(a1, lf1g, lf1b)
    val rA = lnA._1.map(v => if (v > 0) 1.0 else 0.0)
    val oA = dropout(lnA._1 *:* rA, _.dA)
    val a2 = (f2w.w * oA) + f2b.w(::, 0)
    val lnB = layerNormF(a2, lf2g, lf2b)
    val rB = lnB._1.map(v => if (v > 0) 1.0 else 0.0)
    val oB = dropout(lnB._1 *:* rB, _.dB)
    val pred: Double = (ow.w(0, ::).t dot oB) + ob.w(0, 0)

    /** dLoss/dPred → every parameter's gradient terms, in op order. Writes
      * no gradient, so samples run in parallel. */
    def backward(dPred: Double): ArrayBuffer[Grad] = {
      val grads = ArrayBuffer.empty[Grad]
      val dOut = DenseVector(dPred)
      grads += new Outer(ow, dOut, oB)
      grads += new Outer(ob, dOut, One)
      var d: DenseVector[Double] = ow.w(0, ::).t * dPred
      d = layerNormB(d *:* drop.dB *:* rB, lnB._2, lf2g, lf2b, grads)
      grads += new Outer(f2w, d, oA)
      grads += new Outer(f2b, d, One)
      d = f2w.w.t * d
      d = layerNormB(d *:* drop.dA *:* rA, lnA._2, lf1g, lf1b, grads)
      grads += new Outer(f1w, d, z)
      grads += new Outer(f1b, d, One)
      d = f1w.w.t * d
      grads += new Row(userEmb, s.row, d(128 until 128 + rank))
      grads += new Row(itemEmb, s.cols(0), d(128 + rank until 128 + 2 * rank))

      // un-pool: route each dim's grad to its argmax node
      val dO2 = new Array[Double](nTriples * 128)
      var dim = 0
      while (dim < 128) { dO2(poolIdx(dim) * 128 + dim) += d(dim); dim += 1 }

      // block-2 backward → grads w.r.t. block-1 outputs (scatter-add)
      val dO1 = new Array[Double](nTriples * 256)
      var t = 0
      while (t < nTriples) {
        val dh = layerNormB(masked(dO2, t, drop.d2(t), r2mask(t)), ln2(t)._2, ln2g, ln2b, grads)
        grads += new Outer(c2w, dh, x2(t))
        grads += new Outer(c2b, dh, One)
        val dx = c2w.w.t * dh
        var k = 0
        while (k < 3) {
          val to = s.idxes(t * 3 + k) * 256
          var i = 0
          while (i < 256) { dO1(to + i) += dx(k * 256 + i); i += 1 }
          k += 1
        }
        t += 1
      }

      // block-1 backward (input features are data — no further grads)
      t = 0
      while (t < nTriples) {
        val dh = layerNormB(masked(dO1, t, drop.d1(t), r1mask(t)), ln1(t)._2, ln1g, ln1b, grads)
        grads += new Outer(c1w, dh, x1(t))
        grads += new Outer(c1b, dh, One)
        t += 1
      }
      grads
    }
  }

  def predict(s: PlanSample): Double = new Trace(s, null).pred

  /** Scores every sample, in parallel on the caller's ForkJoin pool (the
    * common pool outside one); slot i holds sample i's prediction. */
  def predictAll(samples: IndexedSeq[PlanSample]): Array[Double] = {
    val out = new Array[Double](samples.length)
    IntStream.range(0, samples.length).parallel().forEach(i => out(i) = predict(samples(i)))
    out
  }

  /** Test hook: zero grads, forward+backward one sample under plain MSE,
    * return the loss. With dropP = 0 this is deterministic, enabling
    * numerical gradient checks. */
  private[graft] def forwardBackwardMse(s: PlanSample): Double = {
    val tr = new Trace(s, drawDropout(s))
    val e = tr.pred - s.label
    zeroGrad()
    accumulate(Seq(tr.backward(2.0 * e)))
    e * e
  }
  private[graft] def parameterTensors: Seq[Param] = params.toSeq

  /** Adds the samples' gradient terms into each tensor's `g`, in parallel
    * over disjoint bands of [[Band]] columns; every element takes its adds
    * in (sample, node, op) order, as a sequential pass would. */
  private def accumulate(grads: Seq[ArrayBuffer[Grad]]): Unit = {
    val bands = for (p <- params; c0 <- 0 until p.g.cols by Band) yield (p, c0)
    IntStream.range(0, bands.length).parallel().forEach { k =>
      val (p, c0) = bands(k)
      val c1 = math.min(c0 + Band, p.g.cols)
      grads.foreach(_.foreach(t => if (t.p eq p) t.addTo(p.g, c0, c1)))
    }
  }

  // ---- Adam ----
  private var adamT = 0
  private val lr = 1e-3; private val b1 = 0.9; private val b2 = 0.999; private val adamEps = 1e-8

  private def zeroGrad(): Unit = params.foreach(p => p.g := 0.0)

  private def resetOptimizer(): Unit = {
    adamT = 0
    params.foreach { p => p.m := 0.0; p.v := 0.0 }
  }

  /** One Adam update, in place, element by element. */
  private def adamStep(): Unit = {
    adamT += 1
    val bc1 = 1.0 - math.pow(b1, adamT)
    val bc2 = 1.0 - math.pow(b2, adamT)
    params.foreach { p =>
      val (w, g, m, v) = (p.w.data, p.g.data, p.m.data, p.v.data)
      var i = 0
      while (i < w.length) {
        m(i) = m(i) * b1 + g(i) * (1.0 - b1)
        v(i) = v(i) * b2 + g(i) * g(i) * (1.0 - b2)
        w(i) -= m(i) / bc1 / (math.sqrt(v(i) / bc2) + adamEps) * lr
        i += 1
      }
    }
  }

  /** Censored MSE (`limeqo_plus.py:263-267`): zero loss where the sample is
    * censored and the prediction already exceeds the censoring threshold.
    * Returns (loss, dLoss/dPred) for one sample (batch mean applied by
    * caller). */
  private def censoredMse(pred: Double, label: Double, censor: Double): (Double, Double) =
    if (censor != 0.0 && pred >= censor) (0.0, 0.0)
    else { val e = pred - label; (e * e, 2.0 * e) }

  /** One epoch over shuffled minibatches; returns mean batch loss
    * (`limeqo_plus.py:193-234` shape). `censors` aligns with `samples`.
    * A minibatch's samples run in parallel; the loss sum, the skip of a
    * zero-gradient sample and the gradient order stay those of a
    * sequential pass. */
  def trainEpoch(samples: IndexedSeq[PlanSample], censors: IndexedSeq[Double],
                 batchSize: Int, shuffleRng: Random): Double = {
    val order = shuffleRng.shuffle(samples.indices.toVector)
    var totalLoss = 0.0
    var nBatches = 0
    order.grouped(batchSize).foreach { batch =>
      val drops = batch.map(i => drawDropout(samples(i)))
      val losses = new Array[Double](batch.size)
      val grads = new Array[ArrayBuffer[Grad]](batch.size)
      IntStream.range(0, batch.size).parallel().forEach { k =>
        val i = batch(k)
        val tr = new Trace(samples(i), drops(k))
        val (l, dl) = censoredMse(tr.pred, samples(i).label, censors(i))
        losses(k) = l
        grads(k) = if (dl != 0.0) tr.backward(dl / batch.size) else ArrayBuffer.empty
      }
      var bLoss = 0.0
      losses.foreach(bLoss += _)
      zeroGrad()
      accumulate(grads.toSeq)
      adamStep()
      totalLoss += bLoss / batch.size
      nBatches += 1
    }
    if (nBatches == 0) 0.0 else totalLoss / nBatches
  }

  /** Full training run with the reference's convergence stop
    * (`limeqo_plus.py:224-229`): after >10 epochs with loss < 0.1, stop
    * when the best of the last two epochs no longer improves on the loss
    * 10 epochs ago (or improves by < 1e-4). Returns epochs run. */
  def train(samples: IndexedSeq[PlanSample], censors: IndexedSeq[Double],
            batchSize: Int = 32, maxEpochs: Int = 200, shuffleSeed: Long = 7): Int = {
    // fresh optimizer per training run: the reference constructs a new
    // torch.optim.Adam for every per-round train call, so stale moments /
    // bias-correction step from a previous round must not carry over
    resetOptimizer()
    val srng = new Random(shuffleSeed)
    val losses = scala.collection.mutable.ArrayBuffer.empty[Double]
    var epoch = 0
    var stop = false
    while (epoch < maxEpochs && !stop) {
      losses += trainEpoch(samples, censors, batchSize, srng)
      if (losses.length > 10 && losses.last < 0.1) {
        val lastTwo = math.min(losses(losses.length - 1), losses(losses.length - 2))
        val tenAgo = losses(losses.length - 10)
        if (lastTwo > tenAgo || tenAgo - lastTwo < 1e-4) stop = true
      }
      epoch += 1
    }
    epoch
  }
}

private object TCNN {

  /** Gradient columns per reduction task. */
  val Band = 16

  /** The constant input a bias multiplies. */
  val One: DenseVector[Double] = DenseVector(1.0)

  /** A training sample's dropout masks (see `TCNN.drawDropout`). */
  final class Dropout(val d1: Array[DenseVector[Double]], val d2: Array[DenseVector[Double]],
                      val dA: DenseVector[Double], val dB: DenseVector[Double])

  /** `(dO(t) *:* dropout) *:* relu` for node t's slice of a flat per-node
    * gradient, rounded as the vector expression would be. */
  def masked(dO: Array[Double], t: Int, drop: DenseVector[Double], relu: DenseVector[Double]): DenseVector[Double] = {
    val n = drop.length
    val out = new Array[Double](n)
    var i = 0
    while (i < n) { out(i) = dO(t * n + i) * drop(i) * relu(i); i += 1 }
    DenseVector(out)
  }

  /** One term of a sample's gradient for tensor `p`, added into the columns
    * [c0, c1) of its gradient. */
  sealed abstract class Grad(val p: TCNN#Param) {
    def addTo(g: DenseMatrix[Double], c0: Int, c1: Int): Unit
  }

  /** `g(i, j) += a(i) * b(j)`: a rank-1 update as a plain loop, which
    * rounds like adding the built outer product. A bias or LayerNorm
    * gradient is one against [[One]], since `x * 1.0 == x`. */
  final class Outer(p: TCNN#Param, a: DenseVector[Double], b: DenseVector[Double]) extends Grad(p) {
    def addTo(g: DenseMatrix[Double], c0: Int, c1: Int): Unit = {
      val (gd, rows, ad, ao, as) = (g.data, g.rows, a.data, a.offset, a.stride)
      var j = c0
      while (j < c1) {
        val bj = b(j)
        var i = 0
        while (i < rows) { gd(j * rows + i) += ad(ao + i * as) * bj; i += 1 }
        j += 1
      }
    }
  }

  /** `g(row, j) += a(j)`: an embedding-row gradient. */
  final class Row(p: TCNN#Param, row: Int, a: DenseVector[Double]) extends Grad(p) {
    def addTo(g: DenseMatrix[Double], c0: Int, c1: Int): Unit = {
      var j = c0
      while (j < c1) { g(row, j) += a(j); j += 1 }
    }
  }
}
