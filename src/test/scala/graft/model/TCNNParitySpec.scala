package graft.model

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.Random
import org.scalatest.funsuite.AnyFunSuite
import graft.plans.{PlanFeaturizer, PlanNode, PlanRecord}
import graft.strategy.RunSnapshot

/** Pins the TCNN's arithmetic: three runs on a synthetic corpus with
  * dropout on, each compared against pins an earlier build of the kernel
  * wrote (`src/test/resources/tcnn/parity.txt`). A run's pin is the
  * SHA-256 of its serialized model (weights, gradients, Adam moments and
  * the dropout RNG's position) and the exact bits of its losses and
  * predictions ([[TCNN.predictAll]]; the pins hold `predict`'s values).
  *
  * Together the runs cover a censored sample whose loss and gradient are
  * zero (sample 0's censor lies below any prediction), a censor that is
  * never reached (sample 1), minibatches of 8 over 21 samples (a short
  * final batch of 5), minibatches of 1, `train`'s optimizer reset, and
  * `forwardBackwardMse`.
  *
  * A regression pin, not a reference: it proves a kernel change keeps
  * every bit, not that the bits are right (`TCNNSpec` checks the
  * gradients numerically).
  *
  * Rewrite the pins only for an intended change of the arithmetic:
  * `sbt "Test/runMain graft.model.TCNNParity src/test/resources/tcnn"`.
  */
class TCNNParitySpec extends AnyFunSuite {
  import TCNNParity._

  private val pins: Map[String, (String, Seq[String])] =
    Files.readAllLines(pinFile).asScala.filter(_.nonEmpty).map { line =>
      val f = line.split(' ')
      f(0) -> (f(1), f.toSeq.drop(2))
    }.toMap

  test("the pin file holds exactly the pinned runs") {
    assert(pins.keySet == runs.map(_._1).toSet)
  }

  for ((name, run) <- runs) test(s"$name matches its pin bit for bit") {
    val (net, values) = run()
    val (sha, bits) = pins(name)
    assert(sha256(RunSnapshot.blob(net)) == sha, "serialized model")
    assert(values.map(hex).toSeq == bits)
  }
}

object TCNNParity {

  /** `TCNNSpec`'s synthetic plan: a Hash Join over two Seq Scans whose
    * costs encode the runtime. */
  private def mkTree(runtime: Double): PlanNode =
    PlanNode("Hash Join", totalCost = runtime * 100.0, planRows = runtime * 10.0, planWidth = 8.0,
      List(
        PlanNode("Seq Scan", runtime * 40.0, runtime * 5.0, 4.0, Nil),
        PlanNode("Seq Scan", runtime * 60.0, runtime * 5.0, 4.0, Nil)))

  val nSamples = 21

  /** The corpus: sample i sits in row i, hint group i mod 7. */
  lazy val (fz: PlanFeaturizer, samples: IndexedSeq[PlanSample]) = {
    val rng = new Random(2)
    val recs = (0 until nSamples).map { i =>
      val rt = 0.5 + rng.nextDouble() * 9.5
      PlanRecord(f"q$i%03d", List(i % 7), List(rt, rt * 1.05, rt * 0.95), mkTree(rt))
    }
    val fz = PlanFeaturizer.fit(recs)
    (fz, recs.zipWithIndex.map { case (p, i) =>
      PlanSample(fz.transformFeatures(p.tree), fz.indexes(p.tree), i,
        p.hintList.toArray, fz.transformLabel(p.runtimeList))
    })
  }

  /** Sample 0 is censored below any prediction, so its loss and gradient
    * are zero; sample 1's censor is never reached. */
  lazy val censors: IndexedSeq[Double] = samples.indices.map {
    case 0 => -1e9
    case 1 => 1e9
    case _ => 0.0
  }

  private def net(seed: Long) = new TCNN(fz.numFeatures, rank = 3, nRows = nSamples, nCols = 7, seed)

  private def predictions(net: TCNN): Array[Double] = net.predictAll(samples)

  /** Each run returns its model and the values it pins. */
  val runs: Seq[(String, () => (TCNN, Array[Double]))] = Seq(
    "batches_of_8" -> { () =>
      val n = net(11)
      val srng = new Random(5)
      val losses = Array.fill(2)(n.trainEpoch(samples, censors, 8, srng))
      val epochs = n.train(samples, censors, batchSize = 8, maxEpochs = 2, shuffleSeed = 6)
      (n, losses ++ Array(epochs.toDouble) ++ predictions(n))
    },
    "batches_of_1" -> { () =>
      val n = net(12)
      val srng = new Random(7)
      val losses = Array.fill(2)(n.trainEpoch(samples, censors, 1, srng))
      (n, losses ++ predictions(n))
    },
    "forward_backward_mse" -> { () =>
      val n = net(13)
      val loss = n.forwardBackwardMse(samples(2))
      (n, loss +: predictions(n))
    })

  def hex(d: Double): String = java.lang.Long.toHexString(java.lang.Double.doubleToRawLongBits(d))

  def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(StandardCharsets.UTF_8)).map("%02x".format(_)).mkString

  /** The committed pins, relative to the project root (the working
    * directory of sbt's forked test JVM). */
  val pinFile: Path = Paths.get("src", "test", "resources", "tcnn", "parity.txt")

  /** Writes `parity.txt` into the directory given as the only argument. */
  def main(args: Array[String]): Unit = {
    val dir = Paths.get(args(0))
    Files.createDirectories(dir)
    val lines = runs.map { case (name, run) =>
      val (n, values) = run()
      (Seq(name, sha256(RunSnapshot.blob(n))) ++ values.map(hex)).mkString(" ")
    }
    Files.write(dir.resolve("parity.txt"), lines.asJava)
  }
}
