package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ml._

/** The r16 trailing-pass optimization's contract: the driver's
  * [[graft.ml.TrainerCommon.valLoss]] over each family's kernel
  * (forward-only, val-rows-only — what
  * [[graft.ml.TrainerCommon.earlyStop]]'s evalPass now runs instead of
  * a full discarded gradient pass) returns the SAME number
  * `gradientsVal` reports for the validation slice. Identity is by
  * construction (same rows, same forward arithmetic, keep-all masks,
  * same combine order), so the tolerance here is the specs' standard
  * 1e-9, and the ES trajectory assertions in the Wide*Specs keep
  * pinning that the trailing-pass swap left every published loss
  * unchanged.
  */
class ValLossSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val df = {
    val rows = (0 until 32).map { i =>
      val a = 0.15 + 0.04 * (i % 8)
      val b = 0.85 - 0.06 * (i % 5)
      (a, b, 0.5, a * b, a - b, (i % 2), i.toLong)
    }
    rows.toDF("x1", "x2", "x3", "x4", "x5", "y", "rk")
  }
  private val xs = (1 to 5).map(t => col(s"x$t"))
  private val isVal = TrainerCommon.valSplit(col("rk"), 0.25)

  private def assertClose(a: Double, b: Double, what: String): Unit =
    assert(math.abs(a - b) < 1e-9, s"$what: gradientsVal=$a valLoss=$b")

  // The val-only pass runs a zero-dropout kernel against the fit
  // kernel's val output: val rows keep every unit whatever the rate.
  private def check[W, G](fitK: TrainerCommon.Kernel[W, G],
      valK: TrainerCommon.Kernel[W, G], w0: W, epoch: Int,
      what: String): Unit = {
    val (_, vl) = TrainerCommon.gradientsVal(fitK, df, xs, col("y"),
      col("rk"), w0, epoch, isVal)
    assertClose(vl.get, TrainerCommon.valLoss(valK, df, xs, col("y"),
      col("rk"), w0, isVal), what)
  }

  // the narrow MLP: WideMlp3's kernel at one hidden layer
  test("WideMlp.valLoss == gradientsVal's val output") {
    val w0 = GdTrainer.init(d = 5, hidden = 3, classes = 2, seed = 7L)
    check(WideMlp3.Kernel(Seq(0.4)), WideMlp3.Kernel(Seq(0.0)),
      Mlp3Trainer.fromMlp(w0), epoch = 3, "mlp")
  }

  test("WideMlp3.valLoss == gradientsVal's val output") {
    val w0 = Mlp3Trainer.init(5, Seq(4, 3, 3), 2, seed = 11L)
    check(WideMlp3.Kernel(Seq(0.3, 0.3, 0.0)),
      WideMlp3.Kernel(Seq(0.0, 0.0, 0.0)), w0, epoch = 2, "mlp3")
  }

  test("WideNet.valLoss == gradientsVal's val output") {
    val w0 = ConvNetTrainer.init(T = 5, filters = Seq(2), kernel = 2,
      dense = 3, classes = 2, seed = 13L)
    check(WideNet.Kernel(0.5), WideNet.Kernel(), w0, epoch = 2, "net")
  }

  test("WideRnn.valLoss == gradientsVal's val output") {
    val w0 = RnnTrainer.init(units = 3, classes = 2, seed = 17L)
    check(WideRnn.Kernel(0.3), WideRnn.Kernel(), w0, epoch = 2, "rnn")
  }

  test("WideRnn2.valLoss == gradientsVal's val output") {
    val w0 = Rnn2Trainer.init(u1 = 2, u2 = 3, classes = 2, seed = 19L)
    check(WideRnn2.Kernel(0.3), WideRnn2.Kernel(), w0, epoch = 2, "rnn2")
  }

  test("WideConv.valLoss == gradientsVal's val output (max pool)") {
    val w0 = ConvTrainer.init(filters = 2, kernel = 2, classes = 2,
      seed = 23L)
    check(WideConv.Kernel(0.3, ConvTrainer.MaxPool),
      WideConv.Kernel(0.0, ConvTrainer.MaxPool), w0, epoch = 2, "conv")
  }

  test("WideLstm2.valLoss == gradientsVal's val output") {
    val w0 = Lstm2Trainer.init(u1 = 2, u2 = 2, d = 3, classes = 2,
      seed = 31L)
    check(WideLstm2.Kernel(0.3), WideLstm2.Kernel(), w0, epoch = 2,
      "lstm2")
  }

  test("valLoss fails loudly on an empty validation slice") {
    val w0 = GdTrainer.init(d = 5, hidden = 3, classes = 2, seed = 7L)
    val e = intercept[Exception] {
      TrainerCommon.valLoss(WideMlp3.Kernel(Seq(0.0)), df, xs, col("y"),
        col("rk"), Mlp3Trainer.fromMlp(w0), lit(false))
    }
    assert(e.getMessage.contains("empty validation slice"))
  }

  test("earlyStop runs evalPass only for the trailing pass") {
    // 2 training epochs consume epochPass; the e = 3 trailing call must
    // hit evalPass and its number must land as the final val loss.
    var passes = 0
    var evals = 0
    val es = TrainerCommon.earlyStop[Double](1.0, maxEpochs = 2,
      patience = 5, evalPass = Some { w => evals += 1; 0.111 }) {
      (w, e) => passes += 1; (w + 1.0, 10.0 - e, 5.0 - e)
    }
    assert(passes == 2 && evals == 1)
    assert(es.valLosses == Seq(3.0, 0.111))
    assert(es.stoppedEpoch == 2)
  }
}
