package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ml.Mlp3Trainer
import graft.ml.Mlp3Trainer.{G, W}

/** Gradient-descent training of the narrow one-hidden-layer MLP
  * (Mlp3Trainer at one hidden layer, the q40/q40b shape). The case
  * rests on three legs: the analytic gradient matches finite
  * differences of its own loss (backprop is right), dropout masks are
  * bit-deterministic across reruns (the distributed-retry contract),
  * and GD actually learns a separable fixture (end-to-end sanity).
  */
class GdTrainerSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // 2-class fixture, separable by x0 + x1 vs x2: 24 rows
  private lazy val df = {
    val rows = (0 until 24).map { i =>
      val cls = i % 2
      val a = 0.3 + 0.1 * (i % 5)
      if (cls == 0) (i.toLong, a, a + 0.2, 0.1, 0)
      else (i.toLong, 0.1, 0.2, a + 0.5, 1)
    }
    rows.toDF("rk", "x0", "x1", "x2", "y")
  }
  private val feats = Seq(col("x0"), col("x1"), col("x2"))

  private def w0 = Mlp3Trainer.initOneHidden(3, 4, 2, seed = 7L)

  private def gradients(d: org.apache.spark.sql.DataFrame, w: W,
      epoch: Int, dropout: Double): G =
    Mlp3Trainer.gradientsVal(d, feats, col("y"), col("rk"), w, epoch,
      Seq(dropout), lit(false))._1

  private def bumpW(w: W, l: Int, u: Int, i: Int, d: Double): W =
    w.copy(ws = w.ws.updated(l, w.ws(l).updated(u,
      w.ws(l)(u).updated(i, w.ws(l)(u)(i) + d))))
  private def bumpB(w: W, l: Int, u: Int, d: Double): W =
    w.copy(bs = w.bs.updated(l, w.bs(l).updated(u, w.bs(l)(u) + d)))

  test("analytic gradient matches finite differences (no dropout)") {
    val eps = 1e-5
    val g = gradients(df, w0, epoch = 1, dropout = 0.0)
    // probe a few representative coordinates across all four tensors
    def lossAt(w: W): Double = gradients(df, w, 1, 0.0).loss
    val fdW1 = (lossAt(bumpW(w0, 0, 2, 1, eps)) -
      lossAt(bumpW(w0, 0, 2, 1, -eps))) / (2 * eps)
    assert(math.abs(fdW1 - g.ws(0)(2)(1)) < 1e-6,
      s"dW1(2)(1): fd=$fdW1 analytic=${g.ws(0)(2)(1)}")
    val fdW2 = (lossAt(bumpW(w0, 1, 1, 3, eps)) -
      lossAt(bumpW(w0, 1, 1, 3, -eps))) / (2 * eps)
    assert(math.abs(fdW2 - g.ws(1)(1)(3)) < 1e-6,
      s"dW2(1)(3): fd=$fdW2 analytic=${g.ws(1)(1)(3)}")
    val fdB1 = (lossAt(bumpB(w0, 0, 0, eps)) -
      lossAt(bumpB(w0, 0, 0, -eps))) / (2 * eps)
    assert(math.abs(fdB1 - g.bs(0)(0)) < 1e-6)
    val fdB2 = (lossAt(bumpB(w0, 1, 1, eps)) -
      lossAt(bumpB(w0, 1, 1, -eps))) / (2 * eps)
    assert(math.abs(fdB2 - g.bs(1)(1)) < 1e-6)
  }

  test("gradient matches finite differences WITH dropout active") {
    // same-epoch masks are deterministic, so FD through gradientsVal
    // with a fixed epoch differentiates the same masked loss
    val eps = 1e-5
    val g = gradients(df, w0, 3, 0.5)
    def lossAt(w: W): Double = gradients(df, w, 3, 0.5).loss
    val fd = (lossAt(bumpW(w0, 0, 1, 0, eps)) -
      lossAt(bumpW(w0, 0, 1, 0, -eps))) / (2 * eps)
    assert(math.abs(fd - g.ws(0)(1)(0)) < 1e-6,
      s"fd=$fd analytic=${g.ws(0)(1)(0)}")
  }

  test("dropout masks: deterministic per (epoch, unit), varying across epochs") {
    val g1 = gradients(df, w0, 1, 0.5)
    val g1Again = gradients(df, w0, 1, 0.5)
    assert(g1 == g1Again, "same epoch must be bit-reproducible")
    val g2 = gradients(df, w0, 2, 0.5)
    assert(g1 != g2, "different epoch should resample masks")
    val gNoDrop = gradients(df, w0, 1, 0.0)
    assert(g1 != gNoDrop, "p=0.5 must actually drop units")
  }

  test("dropout gradients are partition-layout invariant") {
    val g1 = gradients(df.repartition(7), w0, 1, 0.5)
    val g2 = gradients(df.coalesce(1), w0, 1, 0.5)
    // avg() sums doubles in partition order; compare with tolerance
    def flat(g: G) = g.ws.flatMap(_.flatten) ++ g.bs.flatten :+ g.loss
    flat(g1).zip(flat(g2)).foreach { case (a, b) =>
      assert(math.abs(a - b) < 1e-12)
    }
  }

  test("GD learns the separable fixture; dropout run still beats chance") {
    val (w, losses) = Mlp3Trainer.fit(df, feats, col("y"), col("rk"), w0,
      epochs = 60, lr = 1.0, drops = Seq(0.0))
    assert(losses.last < losses.head * 0.5,
      s"loss ${losses.head} -> ${losses.last}")
    val acc = df.select((Mlp3Trainer.predict(feats, w) === col("y"))
      .cast("double").as("ok")).agg(avg("ok")).head().getDouble(0)
    assert(acc >= 0.9, s"accuracy $acc")
    val (wd, _) = Mlp3Trainer.fit(df, feats, col("y"), col("rk"), w0,
      epochs = 60, lr = 1.0, drops = Seq(0.3))
    val accD = df.select((Mlp3Trainer.predict(feats, wd) === col("y"))
      .cast("double").as("ok")).agg(avg("ok")).head().getDouble(0)
    assert(accD >= 0.75, s"dropout accuracy $accD")
  }
}
