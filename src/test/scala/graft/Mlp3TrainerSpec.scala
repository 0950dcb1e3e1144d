package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Column
import graft.ml.{Mlp3Trainer, TrainerCommon, WideMlp3}
import graft.ml.Mlp3Trainer.W

/** The stacked-MLP trainer's correctness case at depth 3
  * (GdTrainerSpec covers its one-hidden-layer case): (1) analytic
  * gradients match finite differences of the trainer's own loss — every
  * tensor family, with and without dropout — masks are deterministic
  * per epoch, and GD learns a separable fixture; (2) the WideMlp3
  * treeAggregate twin reproduces the staged gradients number
  * for number (what entitles q74 to fit on the twin); (3) the
  * REFERENCE widths (mlp_model.py:19-26, Dense 256/128/64) train
  * end-to-end with descending loss — the WideNetSpec obligation. */
class Mlp3TrainerSpec extends AnyFunSuite {
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

  // 3 hidden layers (4/3/3) + 2 classes — narrow but genuinely stacked
  private def w0 = Mlp3Trainer.init(3, Seq(4, 3, 3), 2, seed = 7L)
  private val refDrops = Seq(0.3, 0.3, 0.0)

  private def bumpW(w: W, l: Int, u: Int, i: Int, d: Double): W =
    w.copy(ws = w.ws.updated(l, w.ws(l).updated(u,
      w.ws(l)(u).updated(i, w.ws(l)(u)(i) + d))))
  private def bumpB(w: W, l: Int, u: Int, d: Double): W =
    w.copy(bs = w.bs.updated(l, w.bs(l).updated(u, w.bs(l)(u) + d)))

  private def fdCheck(epoch: Int, drops: Seq[Double]): Unit = {
    val eps = 1e-5
    def lossAt(w: W): Double =
      Mlp3Trainer.gradientsVal(df, feats, col("y"), col("rk"), w, epoch,
        drops, lit(false))._1.loss
    val (g, _) = Mlp3Trainer.gradientsVal(df, feats, col("y"),
      col("rk"), w0, epoch, drops, lit(false))
    // one representative weight coordinate per LAYER (all four), plus
    // a bias per layer — the full tensor-family sweep
    val wProbes = Seq((0, 2, 1), (1, 1, 2), (2, 2, 0), (3, 1, 1))
    for ((l, u, i) <- wProbes) {
      val fd = (lossAt(bumpW(w0, l, u, i, eps)) -
        lossAt(bumpW(w0, l, u, i, -eps))) / (2 * eps)
      assert(math.abs(fd - g.ws(l)(u)(i)) < 1e-6,
        s"dW($l)($u)($i): fd=$fd analytic=${g.ws(l)(u)(i)}")
    }
    for (l <- 0 to 3) {
      val fd = (lossAt(bumpB(w0, l, 0, eps)) -
        lossAt(bumpB(w0, l, 0, -eps))) / (2 * eps)
      assert(math.abs(fd - g.bs(l)(0)) < 1e-6,
        s"dB($l)(0): fd=$fd analytic=${g.bs(l)(0)}")
    }
  }

  test("analytic gradients match finite differences (no dropout), every layer") {
    fdCheck(epoch = 1, drops = Seq(0.0, 0.0, 0.0))
  }

  test("analytic gradients match finite differences WITH reference dropout") {
    // same-epoch masks are deterministic, so FD through gradientsVal
    // with a fixed epoch differentiates the same masked loss
    fdCheck(epoch = 3, drops = refDrops)
  }

  test("dropout masks: deterministic per epoch, resampled across epochs") {
    def g(e: Int, drops: Seq[Double]) = Mlp3Trainer.gradientsVal(
      df, feats, col("y"), col("rk"), w0, e, drops, lit(false))._1
    assert(g(1, refDrops) == g(1, refDrops),
      "same epoch must be bit-reproducible")
    assert(g(1, refDrops) != g(2, refDrops),
      "different epoch should resample masks")
    assert(g(1, refDrops) != g(1, Seq(0.0, 0.0, 0.0)),
      "dropout must actually drop units")
  }

  test("WideMlp3 twin matches staged gradients exactly (dropout + val slice)") {
    val iv = TrainerCommon.valSplit(col("rk"), 0.25)
    for (drops <- Seq(Seq(0.0, 0.0, 0.0), refDrops)) {
      val (gs, vs) = Mlp3Trainer.gradientsVal(df, feats, col("y"),
        col("rk"), w0, epoch = 2, drops, iv)
      val (gw, vw) = TrainerCommon.gradientsVal(WideMlp3.Kernel(drops), df,
        feats, col("y"), col("rk"), w0, epoch = 2, iv)
      def flat(g: Mlp3Trainer.G) =
        g.ws.flatMap(_.flatten) ++ g.bs.flatten :+ g.loss
      flat(gs).zip(flat(gw)).zipWithIndex.foreach { case ((a, b), i) =>
        assert(math.abs(a - b) < 1e-12, s"coord $i: staged=$a wide=$b")
      }
      (vs, vw) match {
        case (Some(a), Some(b)) => assert(math.abs(a - b) < 1e-12)
        case (None, None)       => ()
        case other              => fail(s"val slice mismatch: $other")
      }
    }
  }

  test("gradients are partition-layout invariant") {
    val g1 = Mlp3Trainer.gradientsVal(df.repartition(7), feats,
      col("y"), col("rk"), w0, 1, refDrops, lit(false))._1
    val g2 = Mlp3Trainer.gradientsVal(df.coalesce(1), feats, col("y"),
      col("rk"), w0, 1, refDrops, lit(false))._1
    def flat(g: Mlp3Trainer.G) =
      g.ws.flatMap(_.flatten) ++ g.bs.flatten :+ g.loss
    flat(g1).zip(flat(g2)).foreach { case (a, b) =>
      assert(math.abs(a - b) < 1e-12)
    }
  }

  test("stacked GD learns the separable fixture; dropout run beats chance") {
    val (w, losses) = Mlp3Trainer.fit(df, feats, col("y"), col("rk"),
      w0, epochs = 80, lr = 1.0, drops = Seq(0.0, 0.0, 0.0))
    assert(losses.last < losses.head * 0.5,
      s"loss ${losses.head} -> ${losses.last}")
    val acc = df.select((Mlp3Trainer.predict(feats, w) === col("y"))
      .cast("double").as("ok")).agg(avg("ok")).head().getDouble(0)
    assert(acc >= 0.9, s"accuracy $acc")
    val (wd, _) = Mlp3Trainer.fit(df, feats, col("y"), col("rk"), w0,
      epochs = 80, lr = 1.0, drops = refDrops)
    val accD = df.select((Mlp3Trainer.predict(feats, wd) === col("y"))
      .cast("double").as("ok")).agg(avg("ok")).head().getDouble(0)
    assert(accD >= 0.75, s"dropout accuracy $accD")
  }

  test("REFERENCE WIDTHS train: Dense(256) -> Dense(128) -> Dense(64) -> softmax") {
    // mlp_model.py:19-26 at its real widths over a 6-feature sf0.001
    // embeddings slice, dropout 0.3 at both reference positions,
    // Adam(0.001) + the ES harness — the q74 registry configuration.
    // The equivalence test above entitles the twin to stand in for the
    // staged path at widths its plan cannot reach.
    val dir = TestSpark.sf0001
    val d = 6
    val emb = graft.sources.Tables.load(spark, dir, "embeddings").select(
      (0 until d).map(i =>
        element_at(col("embedding"), i + 1).cast("double").as(s"f$i")) ++
        Seq((col("label") % 2).cast("int").as("y"),
          col("vec_id").as("rk")): _*)
    val fs: Seq[Column] = (0 until d).map(i => col(s"f$i"))
    val wide0 = Mlp3Trainer.init(d, Seq(256, 128, 64), 2, seed = 53L)
    val es = TrainerCommon.fitEs(WideMlp3.Kernel(refDrops), emb, fs,
      col("y"), col("rk"), wide0,
      maxEpochs = 3, opt = TrainerCommon.Optimizer.adam(0.001),
      isVal = TrainerCommon.valSplitPortable(Seq(col("rk"))),
      patience = 5)
    assert(es.trainLosses.nonEmpty)
    // fresh dropout mask per epoch makes the loss mask-noisy; require
    // improvement over the start, not monotonicity
    assert(es.trainLosses.tail.min < es.trainLosses.head,
      s"reference-width loss did not descend: ${es.trainLosses}")
  }
}
