package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Column
import graft.ml._

/** Equivalence gates for the SINGLE-LAYER wide kernels (WideMlp3 at
  * one hidden layer / WideRnn / WideConv / WideLstm) run through the
  * [[graft.ml.TrainerCommon]] driver: at widths where the staged plan
  * is tractable, each kernel must reproduce its staged trainer's gradients,
  * losses, dropout masks, and val-slice semantics number for number —
  * the same obligation WideNetSpec/WideRnn2Spec/WideLstm2Spec pin for
  * the stacked family. These specs are what entitle the q40/q42/q43/
  * q56 registry entries to run their fit on the treeAggregate path
  * while the FD-verified staged trainers remain the semantic source of
  * truth (and keep serving predictStaged).
  */
class WideSinglesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val T = 6
  // 24 rows, deterministic mixed-sign sequence features
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
  private val isVal = TrainerCommon.valSplit(col("rk"), 0.25)

  private def assertClose(a: Double, b: Double, what: String): Unit =
    assert(math.abs(a - b) < 1e-9, s"$what: staged=$a wide=$b")

  private def assertVal(a: Option[Double], b: Option[Double]): Unit =
    (a, b) match {
      case (Some(x), Some(y)) => assertClose(x, y, "val loss")
      case (None, None)       => ()
      case other              => fail(s"val slice mismatch: $other")
    }

  private def cmpM(a: Seq[Seq[Double]], b: Seq[Seq[Double]],
      what: String): Unit =
    for (i <- a.indices; j <- a(i).indices)
      assertClose(a(i)(j), b(i)(j), s"$what $i/$j")
  private def cmpV(a: Seq[Double], b: Seq[Double], what: String): Unit =
    for (i <- a.indices) assertClose(a(i), b(i), s"$what $i")

  // ---- MLP (GdTrainer <-> WideMlp3's kernel at one hidden layer, the
  // narrow MLP q40/q40b run; the test names keep its "WideMlp" label) ----

  private def cmpMlp(dropout: Double, iv: Column): Unit = {
    val w0 = GdTrainer.init(T, hidden = 4, classes = 2, seed = 11L)
    val (gs, vs) = GdTrainer.gradientsVal(df, xs, col("y"), col("rk"),
      w0, epoch = 2, dropout, iv)
    val (gw, vw) = TrainerCommon.gradientsVal(WideMlp3.Kernel(Seq(dropout)),
      df, xs, col("y"), col("rk"), Mlp3Trainer.fromMlp(w0), epoch = 2, iv)
    assertClose(gs.loss, gw.loss, s"mlp loss drop=$dropout")
    assertVal(vs, vw)
    cmpM(gs.w1, gw.ws(0), "w1"); cmpV(gs.b1, gw.bs(0), "b1")
    cmpM(gs.w2, gw.ws(1), "w2"); cmpV(gs.b2, gw.bs(1), "b2")
  }

  test("WideMlp matches GdTrainer gradients (no dropout)") {
    cmpMlp(0.0, lit(false))
  }
  test("WideMlp matches GdTrainer with dropout + val slice") {
    cmpMlp(0.3, isVal)
  }
  test("WideMlp early stopping walks the same trajectory") {
    val w0 = GdTrainer.init(T, hidden = 4, classes = 2, seed = 11L)
    val es = GdTrainer.fitEs(df, xs, col("y"), col("rk"), w0,
      maxEpochs = 3, lr = 0.5, dropout = 0.3, isVal, patience = 1)
    val ew = TrainerCommon.fitEs(WideMlp3.Kernel(Seq(0.3)), df, xs,
      col("y"), col("rk"), Mlp3Trainer.fromMlp(w0), maxEpochs = 3,
      TrainerCommon.Optimizer.sgd(0.5), isVal, patience = 1)
    assert(es.stoppedEpoch == ew.stoppedEpoch &&
      es.bestEpoch == ew.bestEpoch)
    es.trainLosses.zip(ew.trainLosses).foreach { case (a, b) =>
      assertClose(a, b, "train loss") }
    es.valLosses.zip(ew.valLosses).foreach { case (a, b) =>
      assertClose(a, b, "val loss") }
  }

  // ---- SimpleRNN (RnnTrainer <-> WideRnn) ----

  private def cmpRnn(dropout: Double, iv: Column): Unit = {
    val w0 = RnnTrainer.init(units = 3, classes = 2, seed = 17L)
    val (gs, vs) = RnnTrainer.gradientsVal(df, xs, col("y"), col("rk"),
      w0, epoch = 2, dropout, iv)
    val (gw, vw) = TrainerCommon.gradientsVal(WideRnn.Kernel(dropout), df,
      xs, col("y"), col("rk"), w0, epoch = 2, iv)
    assertClose(gs.loss, gw.loss, s"rnn loss drop=$dropout")
    assertVal(vs, vw)
    cmpV(gs.wx, gw.wx, "wx"); cmpM(gs.wh, gw.wh, "wh")
    cmpV(gs.b, gw.b, "b")
    cmpM(gs.w2, gw.w2, "w2"); cmpV(gs.b2, gw.b2, "b2")
  }

  test("WideRnn matches RnnTrainer gradients (no dropout)") {
    cmpRnn(0.0, lit(false))
  }
  test("WideRnn matches RnnTrainer with dropout + val slice") {
    cmpRnn(0.3, isVal)
  }

  // ---- Conv1D (ConvTrainer <-> WideConv), both pool modes ----

  private def cmpConv(dropout: Double, iv: Column,
      pool: ConvTrainer.Pooling): Unit = {
    val w0i = ConvTrainer.init(filters = 3, kernel = 3, classes = 2,
      seed = 23L)
    val w0 = w0i.copy(b = w0i.b.map(_.abs + 0.1))
    val (gs, vs) = ConvTrainer.gradientsVal(df, xs, col("y"), col("rk"),
      w0, epoch = 2, dropout, iv, pool)
    val (gw, vw) = TrainerCommon.gradientsVal(WideConv.Kernel(dropout, pool),
      df, xs, col("y"), col("rk"), w0, epoch = 2, iv)
    assertClose(gs.loss, gw.loss, s"conv loss drop=$dropout pool=$pool")
    assertVal(vs, vw)
    cmpM(gs.w, gw.w, s"w $pool"); cmpV(gs.b, gw.b, s"b $pool")
    cmpM(gs.w2, gw.w2, s"w2 $pool"); cmpV(gs.b2, gw.b2, s"b2 $pool")
  }

  test("WideConv matches ConvTrainer gradients (max pool, dropout + val)") {
    cmpConv(0.5, isVal, ConvTrainer.MaxPool)
  }
  test("WideConv matches ConvTrainer gradients (avg pool, no dropout)") {
    cmpConv(0.0, lit(false), ConvTrainer.AvgPool)
  }

  // ---- LSTM (LstmTrainer <-> WideLstm) ----

  test("WideLstm matches LstmTrainer gradients (all 14 tensors)") {
    val w0 = LstmTrainer.init(units = 2, classes = 2, seed = 29L)
    val gs = LstmTrainer.gradients(df, xs, col("y"), w0)
    val (gw, _) = TrainerCommon.gradientsVal(WideLstm.Kernel, df, xs,
      col("y"), lit(0L), w0, epoch = 1, lit(false))
    assertClose(gs.loss, gw.loss, "lstm loss")
    def cmpGate(a: LstmTrainer.GateW, b: LstmTrainer.GateW,
        x: String): Unit = {
      cmpV(a.wx, b.wx, s"$x.wx"); cmpM(a.u, b.u, s"$x.u")
      cmpV(a.b, b.b, s"$x.b")
    }
    cmpGate(gs.i, gw.i, "i"); cmpGate(gs.f, gw.f, "f")
    cmpGate(gs.g, gw.g, "g"); cmpGate(gs.o, gw.o, "o")
    cmpM(gs.w2, gw.w2, "w2"); cmpV(gs.b2, gw.b2, "b2")
  }

  test("WideLstm fit walks the same loss trajectory") {
    val w0 = LstmTrainer.init(units = 2, classes = 2, seed = 29L)
    val (_, ls) = LstmTrainer.fit(df, xs, col("y"), w0, epochs = 2,
      lr = 0.5)
    val (_, lw) = TrainerCommon.fit(WideLstm.Kernel, df, xs, col("y"),
      lit(0L), w0, epochs = 2, opt = TrainerCommon.Optimizer.sgd(0.5))
    ls.zip(lw).foreach { case (a, b) => assertClose(a, b, "loss") }
  }
}
