package graft.ml

import org.scalatest.funsuite.AnyFunSuite

import graft.ml.TrainerCommon.{Optimizer, Tensors}

/** The generic tensor walker ([[TrainerCommon.Tensors]]) against every
  * trainer family's historical fixed-lr step: `applyOpt(w, gr,
  * Optimizer.sgd(lr))` must equal `applyStep(w, gr, lr)` BIT-FOR-BIT
  * (both are pure driver arithmetic — `x - lr*gx` with multiplication
  * commutative in IEEE — so exact equality is the right assertion,
  * unlike the cluster-aggregated trajectories). Plus Adam determinism
  * and the walker's structural error modes. Lives in package graft.ml
  * to reach the private[ml] applyStep/applyOpt pairs. No SparkSession:
  * everything here is O(params) driver code.
  */
class OptimizerStepSpec extends AnyFunSuite {

  private val lr = 0.37

  // fabricate gradients with a DIFFERENT seed so no coordinate is zero
  // or equal to its weight; loss fields are arbitrary

  test("MLP: sgd applyOpt == applyStep; Adam deterministic") {
    val w = GdTrainer.init(3, 4, 2, seed = 7L)
    val g0 = GdTrainer.init(3, 4, 2, seed = 8L)
    val gr = GdTrainer.MlpGrads(g0.w1, g0.b1, g0.w2, g0.b2, 1.23)
    assert(GdTrainer.applyOpt(w, gr, Optimizer.sgd(lr)) ==
      GdTrainer.applyStep(w, gr, lr))
    val a1 = GdTrainer.applyOpt(w, gr, Optimizer.adam(0.01))
    val a2 = GdTrainer.applyOpt(w, gr, Optimizer.adam(0.01))
    assert(a1 == a2 && a1 != w)
  }

  test("RNN: sgd applyOpt == applyStep") {
    val w = RnnTrainer.init(units = 3, classes = 2, seed = 7L)
    val g0 = RnnTrainer.init(units = 3, classes = 2, seed = 8L)
    val gr = RnnTrainer.RnnGrads(g0.wx, g0.wh, g0.b, g0.w2, g0.b2, 0.5)
    assert(RnnTrainer.applyOpt(w, gr, Optimizer.sgd(lr)) ==
      RnnTrainer.applyStep(w, gr, lr))
  }

  test("stacked RNN: sgd applyOpt == step") {
    val w = Rnn2Trainer.init(u1 = 2, u2 = 3, classes = 2, seed = 7L)
    val g0 = Rnn2Trainer.init(u1 = 2, u2 = 3, classes = 2, seed = 8L)
    val gr = Rnn2Trainer.G(g0.wx1, g0.wh1, g0.b1, g0.wx2, g0.wh2,
      g0.b2, g0.w3, g0.b3, 0.5)
    assert(Rnn2Trainer.applyOpt(w, gr, Optimizer.sgd(lr)) ==
      Rnn2Trainer.applyStep(w, gr, lr))
  }

  test("LSTM: sgd applyOpt == applyStep through the 14-tensor gate tree") {
    val w = LstmTrainer.init(units = 3, classes = 2, seed = 7L)
    val g0 = LstmTrainer.init(units = 3, classes = 2, seed = 8L)
    val gr = LstmTrainer.LstmGrads(g0.i, g0.f, g0.g, g0.o, g0.w2,
      g0.b2, 0.5)
    assert(LstmTrainer.applyOpt(w, gr, Optimizer.sgd(lr)) ==
      LstmTrainer.applyStep(w, gr, lr))
  }

  test("stacked LSTM: sgd applyOpt == step through the gate MAPS " +
      "(sorted-key walk on both sides)") {
    val w = Lstm2Trainer.init(u1 = 2, u2 = 2, d = 3, classes = 2,
      seed = 7L)
    val g0 = Lstm2Trainer.init(u1 = 2, u2 = 2, d = 3, classes = 2,
      seed = 8L)
    val gr = Lstm2Trainer.G(g0.l1, g0.l2, g0.wd, g0.bd, g0.w3, g0.b3,
      0.5)
    assert(Lstm2Trainer.applyOpt(w, gr, Optimizer.sgd(lr)) ==
      Lstm2Trainer.applyStep(w, gr, lr))
    // walker really visits the gates: Adam must move every gate tensor
    val a = Lstm2Trainer.applyOpt(w, gr, Optimizer.adam(0.01))
    Seq("i", "f", "g", "o").foreach { x =>
      assert(a.l1(x) != w.l1(x) && a.l2(x) != w.l2(x), s"gate $x unmoved")
    }
  }

  test("Conv: sgd applyOpt == applyStep") {
    val w = ConvTrainer.init(filters = 3, kernel = 3, classes = 2,
      seed = 7L)
    val g0 = ConvTrainer.init(filters = 3, kernel = 3, classes = 2,
      seed = 8L)
    val gr = ConvTrainer.ConvGrads(g0.w, g0.b, g0.w2, g0.b2, 0.5)
    assert(ConvTrainer.applyOpt(w, gr, Optimizer.sgd(lr)) ==
      ConvTrainer.applyStep(w, gr, lr))
  }

  test("stacked Conv: sgd applyOpt == applyStep (3-deep tensor)") {
    val w = Conv2Trainer.init(f1 = 2, f2 = 3, kernel = 3, classes = 2,
      seed = 7L)
    val g0 = Conv2Trainer.init(f1 = 2, f2 = 3, kernel = 3, classes = 2,
      seed = 8L)
    val gr = Conv2Trainer.Conv2Grads(g0.w1, g0.b1, g0.w2, g0.b2,
      g0.wh, g0.bh, 0.5)
    assert(Conv2Trainer.applyOpt(w, gr, Optimizer.sgd(lr)) ==
      Conv2Trainer.applyStep(w, gr, lr))
  }

  test("ConvNet: sgd applyOpt == step (4-deep conv tensor + heads)") {
    val w = ConvNetTrainer.init(T = 10, filters = Seq(2, 2), kernel = 3,
      dense = 3, classes = 2, seed = 7L)
    val g0 = ConvNetTrainer.init(T = 10, filters = Seq(2, 2), kernel = 3,
      dense = 3, classes = 2, seed = 8L)
    val gr = ConvNetTrainer.NetGrads(g0.convW, g0.convB, g0.denseW,
      g0.denseB, g0.headW, g0.headB, 0.5)
    assert(ConvNetTrainer.applyOpt(w, gr, Optimizer.sgd(lr)) ==
      ConvNetTrainer.applyStep(w, gr, lr))
  }

  test("walker error modes: shape mismatch and wrong delta count fail " +
      "loudly") {
    val w = GdTrainer.init(3, 4, 2, seed = 7L)
    val narrower = GdTrainer.init(2, 4, 2, seed = 8L)
    val badGr = GdTrainer.MlpGrads(narrower.w1, narrower.b1,
      narrower.w2, narrower.b2, 0.5)
    intercept[IllegalArgumentException] {
      Tensors.flatLike(w, badGr)
    }
    intercept[IllegalArgumentException] {
      Tensors.subDeltas(w, new Array[Double](3))
    }
  }

  test("wrong delta count names both counts, too short or too long") {
    val w = GdTrainer.init(3, 4, 2, seed = 7L)
    val n = Tensors.flatLike(w, w).length
    for (m <- Seq(0, n - 1, n + 1)) {
      val e = intercept[IllegalArgumentException] {
        Tensors.subDeltas(w, new Array[Double](m))
      }
      assert(e.getMessage == "requirement failed: optimizer produced " +
        s"$m deltas for a $n-coordinate weights tree")
    }
    assert(Tensors.subDeltas(w, new Array[Double](n)) == w)
  }
}
