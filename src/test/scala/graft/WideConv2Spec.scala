package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ml._

/** Equivalence gate for the stacked two-block conv twin: WideConv2
  * must reproduce [[Conv2Trainer]]'s mean gradients, losses, and the
  * full fit trajectory number for number at widths where the staged
  * plan is tractable — the same obligation WideSinglesSpec pins for
  * the single-layer family and WideNetSpec for the 3-block net. This
  * is what entitles q57_conv2_train to fit on the treeAggregate path
  * while the FD-gated staged trainer stays the semantic source of
  * truth (and keeps serving predictStaged).
  */
class WideConv2Spec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // T=10 with k=3: P1=8 conv1 positions, J=4 pooled, P2=2 conv2
  // positions — both argmax routings (local window + global) exercise
  // real choice, and the odd conv1 tail position (pos 8? none: P1=8 is
  // even) is covered by the T=11 variant below.
  private val T = 10
  private lazy val df = {
    val rows = (0 until 24).map { i =>
      val xs = (0 until T).map(t =>
        0.3 * (((i * 7 + t * 5 + 3) % 11) - 5) / 5.0)
      (xs, i % 2, i.toLong)
    }
    val seqDf = rows.toDF("xs", "y", "rk")
    seqDf.select((0 until T).map(t =>
      element_at(col("xs"), t + 1).as(s"x${t + 1}")) ++
      Seq(col("y"), col("rk")): _*)
  }
  private val xs = (1 to T).map(t => col(s"x$t"))

  private def assertClose(a: Double, b: Double, what: String): Unit =
    assert(math.abs(a - b) < 1e-9, s"$what: staged=$a wide=$b")

  private def wide(d: org.apache.spark.sql.DataFrame,
      cols: Seq[org.apache.spark.sql.Column],
      w: Conv2Trainer.Conv2Weights): Conv2Trainer.Conv2Grads =
    TrainerCommon.gradientsVal(WideConv2.Kernel, d, cols, col("y"),
      lit(0L), w, epoch = 1, isVal = lit(false))._1

  private def cmpGrads(gs: Conv2Trainer.Conv2Grads,
      gw: Conv2Trainer.Conv2Grads): Unit = {
    assertClose(gs.loss, gw.loss, "loss")
    for (f <- gs.w1.indices; j <- gs.w1(f).indices)
      assertClose(gs.w1(f)(j), gw.w1(f)(j), s"w1 $f/$j")
    for (f <- gs.b1.indices) assertClose(gs.b1(f), gw.b1(f), s"b1 $f")
    for (g <- gs.w2.indices; j <- gs.w2(g).indices;
         f <- gs.w2(g)(j).indices)
      assertClose(gs.w2(g)(j)(f), gw.w2(g)(j)(f), s"w2 $g/$j/$f")
    for (g <- gs.b2.indices) assertClose(gs.b2(g), gw.b2(g), s"b2 $g")
    for (o <- gs.wh.indices; g <- gs.wh(o).indices)
      assertClose(gs.wh(o)(g), gw.wh(o)(g), s"wh $o/$g")
    for (o <- gs.bh.indices) assertClose(gs.bh(o), gw.bh(o), s"bh $o")
  }

  test("WideConv2 matches Conv2Trainer gradients at init") {
    val w0 = Conv2Trainer.init(f1 = 2, f2 = 2, kernel = 3, classes = 2,
      seed = 37L)
    cmpGrads(Conv2Trainer.gradients(df, xs, col("y"), w0),
      wide(df, xs, w0))
  }

  test("WideConv2 matches after a step (routing re-decided)") {
    val w0 = Conv2Trainer.init(f1 = 2, f2 = 2, kernel = 3, classes = 2,
      seed = 37L)
    val (w1s, _) = Conv2Trainer.fit(df, xs, col("y"), w0,
      epochs = 1, lr = 0.5)
    cmpGrads(Conv2Trainer.gradients(df, xs, col("y"), w1s),
      wide(df, xs, w1s))
  }

  test("WideConv2 fit walks the same loss trajectory") {
    val w0 = Conv2Trainer.init(f1 = 2, f2 = 2, kernel = 3, classes = 2,
      seed = 41L)
    val (ws, ls) = Conv2Trainer.fit(df, xs, col("y"), w0,
      epochs = 3, lr = 0.5)
    val (ww, lw) = TrainerCommon.fit(WideConv2.Kernel, df, xs, col("y"),
      lit(0L), w0, epochs = 3, opt = TrainerCommon.Optimizer.sgd(0.5))
    assert(ls.length == lw.length)
    ls.zip(lw).zipWithIndex.foreach { case ((a, b), e) =>
      assertClose(a, b, s"epoch-${e + 1} loss") }
    ws.wh.flatten.zip(ww.wh.flatten).foreach { case (a, b) =>
      assertClose(a, b, "final head weight") }
  }

  test("WideConv2 handles the odd conv1 pooling tail (T=11)") {
    // P1 = 9 is odd: conv1 position 8 falls outside every pool window
    // and must contribute nothing — parity catches a tail-routing bug
    val T2 = 11
    val rows = (0 until 16).map { i =>
      val vs = (0 until T2).map(t =>
        0.4 * (((i * 5 + t * 3 + 1) % 13) - 6) / 6.0)
      (vs, (i / 3) % 2)
    }
    val d2 = rows.toDF("xs", "y")
      .select((0 until T2).map(t =>
        element_at(col("xs"), t + 1).as(s"x${t + 1}")) :+ col("y"): _*)
    val xs2 = (1 to T2).map(t => col(s"x$t"))
    val w0 = Conv2Trainer.init(f1 = 2, f2 = 3, kernel = 3, classes = 2,
      seed = 53L)
    cmpGrads(Conv2Trainer.gradients(d2, xs2, col("y"), w0),
      wide(d2, xs2, w0))
  }
}
