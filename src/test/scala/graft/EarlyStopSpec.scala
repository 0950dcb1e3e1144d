package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ml.{Mlp3Trainer, TrainerCommon}
import graft.ml.Mlp3Trainer.W

/** EarlyStopping semantics (Keras: monitor=val_loss, min_delta=0,
  * patience, restore_best_weights=True — `models/mlp_model.py:67-71`):
  * the generic loop is pinned against scripted loss trajectories, and
  * the Spark wiring (the one-hidden-layer Mlp3Trainer.fitEsOpt under
  * plain SGD) against a fixture engineered so the validation slice's
  * labels CONTRADICT the training slice — train loss descends while val
  * loss rises, so the stop must fire at the patience bound and the
  * restored weights must be the best (earliest) epoch's, not the
  * last's.
  */
class EarlyStopSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // ---- generic loop: scripted trajectories (weights = epoch number) --

  /** epochPass whose val-loss sequence is scripted: pass e returns the
    * val loss AT START of pass e = end of epoch e-1 (vals(e-2)). */
  private def scripted(vals: Seq[Double]): (Int, Int) => (Int, Double, Double) =
    (w, e) => (w + 1, 100.0 - e, if (e >= 2) vals(e - 2) else Double.NaN)

  test("earlyStop halts at the patience bound and restores best weights") {
    // val: improves at epochs 1,2 then worsens — with patience 3 the
    // stop fires after epochs 3,4,5 fail to beat epoch 2's 5.0
    val vals = Seq(6.0, 5.0, 7.0, 7.5, 8.0, 4.0, 3.0, 2.0)
    val r = TrainerCommon.earlyStop(0, maxEpochs = 8, patience = 3)(
      scripted(vals))
    assert(r.stoppedEpoch == 5, s"stopped=${r.stoppedEpoch}")
    assert(r.bestEpoch == 2)
    // weights after 2 epochs of (+1 per epoch) from 0
    assert(r.weights == 2)
    assert(r.trainLosses == Seq(99.0, 98.0, 97.0, 96.0, 95.0))
    assert(r.valLosses == Seq(6.0, 5.0, 7.0, 7.5, 8.0))
  }

  test("earlyStop runs to maxEpochs when val keeps improving") {
    val vals = (1 to 8).map(e => 10.0 - e)
    val r = TrainerCommon.earlyStop(0, maxEpochs = 8, patience = 3)(
      scripted(vals))
    assert(r.stoppedEpoch == 8 && r.bestEpoch == 8 && r.weights == 8)
    assert(r.valLosses.length == 8 && r.trainLosses.length == 8)
  }

  test("earlyStop: equality is NOT improvement (min_delta=0 Keras)") {
    // epoch 1 sets best=5.0; flat 5.0 after -> patience 2 stops at 3
    val vals = Seq(5.0, 5.0, 5.0, 5.0, 5.0)
    val r = TrainerCommon.earlyStop(0, maxEpochs = 5, patience = 2)(
      scripted(vals))
    assert(r.stoppedEpoch == 3 && r.bestEpoch == 1 && r.weights == 1)
  }

  test("earlyStop patience=0 stops at the first non-improving epoch") {
    // Keras EarlyStopping(patience=0): epoch 4 fails to beat epoch 3's
    // 7.0 and training stops right there
    val vals = Seq(9.0, 8.0, 7.0, 9.9, 9.9)
    val r = TrainerCommon.earlyStop(0, maxEpochs = 5, patience = 0)(
      scripted(vals))
    assert(r.stoppedEpoch == 4, s"stopped=${r.stoppedEpoch}")
    assert(r.bestEpoch == 3 && r.weights == 3)
  }

  test("earlyStop with negative patience disables stopping") {
    val vals = Seq(9.0, 8.0, 7.0, 9.9, 9.9)
    val r = TrainerCommon.earlyStop(0, maxEpochs = 5, patience = -1)(
      scripted(vals))
    assert(r.stoppedEpoch == 5)
    assert(r.bestEpoch == 3 && r.weights == 3) // restore-best still on
  }

  // ---- Spark wiring: fitEs over an adversarial val slice ------------

  // 40 rows; rk < 8 is the val slice (isVal passed explicitly below).
  // Train rows: y = 1[x0 > 0]; val rows: the OPPOSITE labels. As GD
  // fits the train rule the val loss must rise monotonically after the
  // first epochs.
  private lazy val adversarial = {
    val rows = (0 until 40).map { i =>
      val x = if (i % 2 == 0) 1.0 else -1.0
      val trainY = if (x > 0) 1 else 0
      val y = if (i < 8) 1 - trainY else trainY
      (i.toLong, x, y)
    }
    rows.toDF("rk", "x0", "y")
  }

  /** Early-stopped SGD over the whole frame, val slice rk < 8. */
  private def fitEs(w0: W, maxEpochs: Int, lr: Double, dropout: Double,
      patience: Int): TrainerCommon.EsResult[W] =
    Mlp3Trainer.fitEsOpt(adversarial, Seq(col("x0")), col("y"),
      col("rk"), w0, maxEpochs, TrainerCommon.Optimizer.sgd(lr),
      Seq(dropout), isVal = col("rk") < 8, patience = patience)

  /** Plain fixed-epoch SGD over the train slice alone. */
  private def fitTrain(w0: W, epochs: Int, lr: Double,
      dropout: Double = 0.0): (W, Seq[Double]) =
    Mlp3Trainer.fit(adversarial.filter(col("rk") >= 8), Seq(col("x0")),
      col("y"), col("rk"), w0, epochs, lr, Seq(dropout))

  test("fitEs: val slice is excluded from training and stops the run") {
    val w0 = Mlp3Trainer.initOneHidden(1, 3, 2, seed = 3L)
    val es = fitEs(w0, maxEpochs = 12, lr = 1.0, dropout = 0.0,
      patience = 3)
    // training must have learned the TRAIN labels (val excluded): the
    // train loss descends
    assert(es.trainLosses.last < es.trainLosses.head)
    // the adversarial val slice worsens -> stop before maxEpochs
    assert(es.stoppedEpoch < 12,
      s"expected early stop, got ${es.stoppedEpoch} vals=${es.valLosses}")
    assert(es.stoppedEpoch == es.bestEpoch + 3,
      s"stop must fire exactly patience epochs after best " +
        s"(best=${es.bestEpoch}, stopped=${es.stoppedEpoch})")
    // restored weights reproduce the BEST epoch's val loss, not the
    // final epoch's: re-run bestEpoch epochs of plain fit and compare
    val (wBest, _) = fitTrain(w0, es.bestEpoch, lr = 1.0)
    es.weights.ws(0).flatten.zip(wBest.ws(0).flatten).foreach { case (a, b) =>
      assert(math.abs(a - b) < 1e-12,
        "restored weights != weights after bestEpoch plain epochs") }
  }

  test("fitEs: gradients equal plain fit on the train slice only") {
    // fitEs(full frame, isVal=rk<8) must walk the same weight path as
    // fit(train-only frame): val rows contribute NOTHING to gradients
    val w0 = Mlp3Trainer.initOneHidden(1, 3, 2, seed = 9L)
    val es = fitEs(w0, maxEpochs = 3, lr = 0.5, dropout = 0.0,
      patience = -1)
    val (_, plainLosses) = fitTrain(w0, epochs = 3, lr = 0.5)
    // identical per-epoch train losses == identical gradient path (each
    // epoch's loss is computed at the weights the previous gradients
    // produced). Tolerance, not equality: nulling val rows out of an
    // avg vs filtering them away changes partial-sum ORDER, which is
    // float-associativity noise (ulp-level), not a semantic difference.
    assert(es.trainLosses.length == plainLosses.length)
    es.trainLosses.zip(plainLosses).foreach { case (a, b) =>
      assert(math.abs(a - b) < 1e-12, s"$a vs $b") }
    // weights themselves are restore-BEST -> compare a bestEpoch run
    val (wBest, _) = fitTrain(w0, epochs = es.bestEpoch, lr = 0.5)
    es.weights.ws(0).flatten.zip(wBest.ws(0).flatten).foreach {
      case (a, b) => assert(math.abs(a - b) < 1e-12) }
    es.weights.ws(1).flatten.zip(wBest.ws(1).flatten).foreach {
      case (a, b) => assert(math.abs(a - b) < 1e-12) }
  }

  test("fitEs: val loss is computed at inference semantics (no dropout)") {
    // With dropout on, an epoch's val loss must equal the UNDROPPED
    // forward loss at that epoch's weights: replay epoch 1 by hand.
    val w0 = Mlp3Trainer.initOneHidden(1, 3, 2, seed = 5L)
    val es = fitEs(w0, maxEpochs = 2, lr = 0.5, dropout = 0.5,
      patience = -1)
    // weights after epoch 1 = one dropped step on the train slice
    val (w1, _) = fitTrain(w0, epochs = 1, lr = 0.5, dropout = 0.5)
    // undropped loss of w1 on the val slice via gradients(dropout=0)
    val valOnly = adversarial.filter(col("rk") < 8)
    val expected = Mlp3Trainer.gradientsVal(valOnly, Seq(col("x0")),
      col("y"), col("rk"), w1, epoch = 99, Seq(0.0), lit(false))._1.loss
    assert(math.abs(es.valLosses.head - expected) < 1e-12,
      s"val loss ${es.valLosses.head} != inference loss $expected")
  }

  test("valSplit is deterministic and ~the requested fraction") {
    val df = (0 until 2000).map(_.toLong).toDF("rk")
    val n1 = df.filter(TrainerCommon.valSplit(col("rk"), 0.2)).count()
    val n2 = df.filter(TrainerCommon.valSplit(col("rk"), 0.2)).count()
    assert(n1 == n2)
    assert(n1 > 300 && n1 < 500, s"20% of 2000 expected, got $n1")
  }
}
