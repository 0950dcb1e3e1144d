package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.ml.{ConvNetTrainer, Mlp3Trainer, TrainerCommon, WideMlp3,
  WideNet}
import graft.ml.TrainerCommon.Optimizer

/** The round-13 optimizer semantics (reference parity:
  * `Adam(learning_rate=0.001)` + `fit(batch_size=64)` on every Keras
  * model): Adam's bias-corrected moments against the paper recurrences,
  * the sgd path reproducing the historical fixed-lr step bit-for-bit,
  * deterministic hash mini-batch membership (disjoint, covering,
  * epoch-re-drawn, partitioning-invariant), learning end-to-end, and
  * staged-vs-treeAggregate twin agreement under Adam + batches.
  */
class AdamSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // separable 2-class fixture (GdTrainerSpec's, widened to 48 rows so
  // 3-batch splits stay non-empty with a val slice held out)
  private lazy val df = {
    val rows = (0 until 48).map { i =>
      val cls = i % 2
      val a = 0.3 + 0.1 * (i % 5)
      if (cls == 0) (i.toLong, a, a + 0.2, 0.1, 0)
      else (i.toLong, 0.1, 0.2, a + 0.5, 1)
    }
    rows.toDF("rk", "x0", "x1", "x2", "y")
  }
  private val feats = Seq(col("x0"), col("x1"), col("x2"))
  private val isVal = col("rk") % 5 === 0
  private def w0 = Mlp3Trainer.initOneHidden(3, 4, 2, seed = 7L)

  // Trajectory comparisons are tolerance-based, NOT bit-equal: the
  // staged path's aggregation merges partial results in the order they
  // arrive, so float gradient sums can differ in the last ulp between
  // runs of the IDENTICAL plan, and the staged and wide paths add in
  // different orders. What IS
  // bit-exact is everything per-row: dropout masks, batch membership,
  // the val split. 1e-9 absolute on O(1) magnitudes = reorder noise
  // only; a semantic bug (wrong delta order, stale moments) shows up
  // orders of magnitude above it.
  private val Tol = 1e-9
  private def close(x: Double, y: Double, what: String): Unit =
    assert(math.abs(x - y) < Tol, s"$what: $x vs $y")
  private def closeSeq(a: Seq[Double], b: Seq[Double], what: String): Unit = {
    assert(a.length == b.length, s"$what: length ${a.length} vs ${b.length}")
    a.zip(b).foreach { case (x, y) => close(x, y, what) }
  }
  private def flatMlp(w: Mlp3Trainer.W): Seq[Double] =
    w.ws.flatMap(_.flatten) ++ w.bs.flatten
  private def flatNet(w: ConvNetTrainer.NetWeights): Seq[Double] =
    w.convW.flatMap(_.flatMap(_.flatten)) ++ w.convB.flatten ++
      w.denseW.flatten ++ w.denseB ++ w.headW.flatten ++ w.headB

  test("Adam deltas: step 1 closed form and step 2 paper recurrences, " +
      "bias correction included") {
    val lr = 0.001; val b1 = 0.9; val b2 = 0.999; val eps = 1e-7
    val opt = Optimizer.adam(lr)
    val g1 = Array(0.5, -0.2, 3.0e-9)
    val d1 = opt.deltas(g1)
    // step 1 simplifies algebraically: m-hat = g, v-hat = g^2, so
    // delta = lr * g / (|g| + eps) — a sign-of-g step of ~lr, which is
    // the property that makes Adam's early descent lr-sized regardless
    // of gradient scale (and eps-damped for near-zero coordinates)
    g1.indices.foreach { i =>
      val expect = lr * g1(i) / (math.abs(g1(i)) + eps)
      assert(math.abs(d1(i) - expect) < 1e-15,
        s"step-1 delta($i): got ${d1(i)}, want $expect")
    }
    // step 2 with a DIFFERENT gradient exercises the moment state and
    // the t-dependent bias corrections
    val g2 = Array(0.0, 0.1, -3.0e-9)
    val d2 = opt.deltas(g2)
    g2.indices.foreach { i =>
      val m2 = b1 * ((1 - b1) * g1(i)) + (1 - b1) * g2(i)
      val v2 = b2 * ((1 - b2) * g1(i) * g1(i)) + (1 - b2) * g2(i) * g2(i)
      val expect = lr * (m2 / (1 - b1 * b1)) /
        (math.sqrt(v2 / (1 - b2 * b2)) + eps)
      assert(math.abs(d2(i) - expect) < 1e-15,
        s"step-2 delta($i): got ${d2(i)}, want $expect")
    }
  }

  test("sgd optimizer + nBatches=1 reproduces the historical fitEs " +
      "(staged and treeAggregate paths)") {
    // the staged full-batch sgd fit (the historical lr step: sgd
    // applyOpt == applyStep, OptimizerStepSpec) is the reference
    val es = Mlp3Trainer.fitEsOpt(df, feats, col("y"), col("rk"), w0,
      maxEpochs = 3, opt = Optimizer.sgd(0.5), drops = Seq(0.3),
      isVal = isVal, patience = 5)
    // the driver's sgd fit on the narrow MLP (WideMlp3's kernel at one
    // hidden layer) against it
    val weo = TrainerCommon.fitEs(WideMlp3.Kernel(Seq(0.3)), df, feats,
      col("y"), col("rk"), w0, maxEpochs = 3,
      opt = Optimizer.sgd(0.5), isVal = isVal, patience = 5)
    closeSeq(flatMlp(weo.weights), flatMlp(es.weights), "wide weights")
    closeSeq(weo.trainLosses, es.trainLosses, "wide train losses")
    closeSeq(weo.valLosses, es.valLosses, "wide val losses")
  }

  test("hash mini-batches: disjoint, covering, re-drawn per epoch, " +
      "partitioning-invariant") {
    val n = 4
    def batches(epoch: Int, frame: org.apache.spark.sql.DataFrame) =
      frame.select(col("rk"),
          TrainerCommon.batchOf(Seq(col("rk")), epoch, n).as("b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val e1 = batches(1, df)
    val e2 = batches(2, df)
    assert(e1.size == 48 && e1.values.forall(b => b >= 0 && b < n),
      "every row lands in exactly one batch in [0, n)")
    assert(e1.values.toSet.size > 1, "48 rows should spread over batches")
    assert(e1 != e2, "membership must re-draw across epochs (shuffle=True)")
    // membership is a pure row hash: any partitioning sees the same map
    assert(batches(1, df.repartition(7)) == e1)
  }

  test("Adam + mini-batching learns the separable fixture; trajectory " +
      "reproducible across reruns") {
    def run() = Mlp3Trainer.fitEsOpt(df, feats, col("y"), col("rk"), w0,
      maxEpochs = 12, opt = Optimizer.adam(0.05), drops = Seq(0.0),
      isVal = isVal, patience = -1, batchKeys = Seq(col("rk")),
      nBatches = 3)
    val a = run()
    assert(a.trainLosses.last < a.trainLosses.head,
      s"loss must descend: ${a.trainLosses.head} -> ${a.trainLosses.last}")
    val acc = df.filter(!isVal)
      .select((Mlp3Trainer.predict(feats, a.weights) === col("y"))
        .cast("double").as("ok")).agg(avg("ok")).head().getDouble(0)
    assert(acc > 0.9, s"train accuracy $acc on the separable fixture")
    val b = run() // fresh optimizer instance: moments must not leak
    closeSeq(flatMlp(b.weights), flatMlp(a.weights), "rerun weights")
    closeSeq(b.trainLosses, a.trainLosses, "rerun train losses")
  }

  test("staged and treeAggregate MLP twins agree under Adam + batches") {
    val staged = Mlp3Trainer.fitEsOpt(df, feats, col("y"), col("rk"), w0,
      maxEpochs = 6, opt = Optimizer.adam(0.05), drops = Seq(0.3),
      isVal = isVal, patience = -1, batchKeys = Seq(col("rk")),
      nBatches = 2)
    val wide = TrainerCommon.fitEs(WideMlp3.Kernel(Seq(0.3)), df, feats,
      col("y"), col("rk"), w0, maxEpochs = 6, opt = Optimizer.adam(0.05),
      isVal = isVal, patience = -1, batchKeys = Seq(col("rk")),
      nBatches = 2)
    // float sums arrive in different orders on the two paths; Adam's
    // sqrt/divide amplifies nothing at these magnitudes
    closeSeq(flatMlp(staged.weights), flatMlp(wide.weights),
      "staged-vs-wide weights")
    closeSeq(staged.trainLosses, wide.trainLosses,
      "staged-vs-wide train losses")
  }

  test("recurrent twin (WideRnn): sgd path reproduces fitEs; Adam " +
      "descends deterministically") {
    import graft.ml.{RnnTrainer, WideRnn}
    // order-sensitive 6-step task: ramp up vs ramp down
    val seqDf = (0 until 48).map { i =>
      val up = i % 2 == 0
      val xs = (0 until 6).map(t =>
        if (up) 0.15 * t else 0.75 - 0.15 * t)
      (i.toLong, xs, if (up) 0 else 1)
    }.toDF("rk", "xs", "y")
      .select(Seq(col("rk"), col("y")) ++
        (0 until 6).map(t => element_at(col("xs"), t + 1).as(s"x$t")): _*)
    val xs = (0 until 6).map(t => col(s"x$t"))
    val sIsVal = col("rk") % 5 === 0
    val rw0i = RnnTrainer.init(units = 3, classes = 2, seed = 19L)
    val rw0 = rw0i.copy(b = rw0i.b.map(_.abs + 0.1))
    // the driver's sgd fit against the staged lr fit, the reference
    val es = RnnTrainer.fitEs(seqDf, xs, col("y"), rw0, maxEpochs = 2,
      lr = 0.4, rowKey = col("rk"), dropout = 0.3, isVal = sIsVal,
      patience = 5)
    val eo = TrainerCommon.fitEs(WideRnn.Kernel(0.3), seqDf, xs, col("y"),
      col("rk"), rw0, maxEpochs = 2, opt = Optimizer.sgd(0.4),
      isVal = sIsVal, patience = 5)
    closeSeq(eo.trainLosses, es.trainLosses, "rnn twin train losses")
    closeSeq(eo.valLosses, es.valLosses, "rnn twin val losses")
    def adamRun() = TrainerCommon.fitEs(WideRnn.Kernel(), seqDf, xs,
      col("y"), col("rk"), rw0, maxEpochs = 8, opt = Optimizer.adam(0.05),
      isVal = sIsVal, patience = -1, batchKeys = Seq(col("rk")),
      nBatches = 2)
    val a = adamRun()
    assert(a.trainLosses.last < a.trainLosses.head,
      s"rnn loss must descend: ${a.trainLosses.head} -> " +
        s"${a.trainLosses.last}")
    val b = adamRun()
    closeSeq(b.trainLosses, a.trainLosses, "rnn adam rerun")
  }

  test("stacked WideNet: sgd path reproduces fitEs; Adam + batches " +
      "descends deterministically") {
    // ramp-direction task over a 10-step sequence (2 conv blocks)
    val seqDf = (0 until 48).map { i =>
      val up = i % 2 == 0
      val xs = (0 until 10).map(t =>
        if (up) 0.1 * t + 0.01 * (i % 3) else 1.0 - 0.1 * t)
      (i.toLong, xs, if (up) 0 else 1)
    }.toDF("rk", "xs", "y")
      .select(Seq(col("rk"), col("y")) ++
        (0 until 10).map(t => element_at(col("xs"), t + 1).as(s"x$t")): _*)
    val xs = (0 until 10).map(t => col(s"x$t"))
    val sIsVal = col("rk") % 5 === 0
    val nw0 = ConvNetTrainer.init(T = 10, filters = Seq(2, 2), kernel = 3,
      dense = 3, classes = 2, seed = 13L)
    // the driver's sgd fit against the staged lr fit, the reference
    val es = ConvNetTrainer.fitEs(seqDf, xs, col("y"), nw0, maxEpochs = 2,
      lr = 0.5, rowKey = col("rk"), dropout = 0.5, isVal = sIsVal,
      patience = 5)
    val eo = TrainerCommon.fitEs(WideNet.Kernel(0.5), seqDf, xs, col("y"),
      col("rk"), nw0, maxEpochs = 2, opt = Optimizer.sgd(0.5),
      isVal = sIsVal, patience = 5)
    closeSeq(flatNet(eo.weights), flatNet(es.weights), "stacked weights")
    closeSeq(eo.trainLosses, es.trainLosses, "stacked train losses")
    def adamRun() = TrainerCommon.fitEs(WideNet.Kernel(), seqDf, xs,
      col("y"), col("rk"), nw0, maxEpochs = 8, opt = Optimizer.adam(0.05),
      isVal = sIsVal, patience = -1, batchKeys = Seq(col("rk")),
      nBatches = 2)
    val a = adamRun()
    assert(a.trainLosses.last < a.trainLosses.head,
      s"stacked loss must descend: ${a.trainLosses.head} -> " +
        s"${a.trainLosses.last}")
    val b = adamRun()
    closeSeq(flatNet(b.weights), flatNet(a.weights), "stacked rerun")
  }
}
