package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ml.{Rnn2Trainer, TrainerCommon, WideRnn2}

/** Wide-path stacked-RNN obligations (the WideNetSpec pattern):
  * equivalence against the staged Rnn2Trainer, then the reference
  * architecture (`models/rnn_model.py:19-26`: SimpleRNN(64) → Dropout →
  * SimpleRNN(128) → Dropout) trained at its REAL widths with
  * descending loss.
  */
class WideRnn2Spec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val df = {
    val rows = (0 until 24).map { i =>
      val a = 0.2 + 0.05 * (i % 7)
      val b = 0.9 - 0.05 * (i % 5)
      if (i % 2 == 0) (a, a, 0.5, b, b, if (2 * b > 2 * a) 1 else 0, i.toLong)
      else (b, b, 0.5, a, a, if (2 * a > 2 * b) 1 else 0, i.toLong)
    }
    rows.toDF("x1", "x2", "x3", "x4", "x5", "y", "rk")
  }
  private val xs = (1 to 5).map(t => col(s"x$t"))

  private def w0 = Rnn2Trainer.init(u1 = 2, u2 = 3, classes = 2,
    seed = 37L)

  private def assertClose(a: Double, b: Double, what: String): Unit =
    assert(math.abs(a - b) < 1e-9, s"$what: staged=$a wide=$b")

  private def compareGrads(dropout: Double,
      isVal: org.apache.spark.sql.Column): Unit = {
    val (gs, vs) = Rnn2Trainer.gradientsVal(df, xs, col("y"),
      col("rk"), w0, epoch = 2, dropout, isVal)
    val (gw, vw) = TrainerCommon.gradientsVal(WideRnn2.Kernel(dropout), df,
      xs, col("y"), col("rk"), w0, epoch = 2, isVal)
    assertClose(gs.loss, gw.loss, s"loss drop=$dropout")
    (vs, vw) match {
      case (Some(a), Some(b)) => assertClose(a, b, "val loss")
      case (None, None)       => ()
      case other              => fail(s"val slice mismatch: $other")
    }
    gs.wx1.indices.foreach(u =>
      assertClose(gs.wx1(u), gw.wx1(u), s"wx1 $u drop=$dropout"))
    for (u <- gs.wh1.indices; v <- gs.wh1(u).indices)
      assertClose(gs.wh1(u)(v), gw.wh1(u)(v), s"wh1 $u/$v")
    gs.b1.indices.foreach(u => assertClose(gs.b1(u), gw.b1(u), s"b1 $u"))
    for (u <- gs.wx2.indices; v <- gs.wx2(u).indices)
      assertClose(gs.wx2(u)(v), gw.wx2(u)(v), s"wx2 $u/$v")
    for (u <- gs.wh2.indices; v <- gs.wh2(u).indices)
      assertClose(gs.wh2(u)(v), gw.wh2(u)(v), s"wh2 $u/$v")
    gs.b2.indices.foreach(u => assertClose(gs.b2(u), gw.b2(u), s"b2 $u"))
    for (o <- gs.w3.indices; u <- gs.w3(o).indices)
      assertClose(gs.w3(o)(u), gw.w3(o)(u), s"w3 $o/$u")
    gs.b3.indices.foreach(o => assertClose(gs.b3(o), gw.b3(o), s"b3 $o"))
  }

  test("wide path matches staged gradients exactly (no dropout)") {
    compareGrads(0.0, lit(false))
  }

  test("wide path matches staged gradients with dropout + val slice") {
    compareGrads(0.3, TrainerCommon.valSplit(col("rk"), 0.25))
  }

  test("REFERENCE WIDTHS train: SimpleRNN(64) -> SimpleRNN(128)") {
    val dir = TestSpark.sf0001
    val scan = graft.sources.Tables.load(spark, dir, "lineitem")
      .filter(col("l_orderkey") % 4 === 0)
    val facts = scan.repartition(
      spark.sparkContext.defaultParallelism).persist()
    try {
      val fxs: Seq[org.apache.spark.sql.Column] = Seq(
        col("l_quantity") / lit(32.0),
        col("l_linenumber").cast("double") / lit(4.0),
        dayofmonth(col("l_shipdate")).cast("double") / lit(16.0),
        month(col("l_shipdate")).cast("double") / lit(8.0),
        (col("l_orderkey") % 97).cast("double") / lit(32.0),
        (col("l_partkey") % 89).cast("double") / lit(32.0),
        (col("l_suppkey") % 83).cast("double") / lit(32.0),
        (col("l_extendedprice") % 79).cast("double") / lit(32.0))
      val y = ((col("l_orderkey") + col("l_suppkey")) % 2).cast("int")
      val rk = xxhash64(col("l_orderkey"), col("l_linenumber"))
      // init scaled 1/sqrt(fan-in) (Glorot-style): the toy-width
      // uniform(-0.5,0.5) init explodes an unbounded relu recurrence at
      // 64/128 fan-in (hidden norms grow multiplicatively per step,
      // unlike the LSTM's squashed gates) — at these widths a scaled
      // init is what any real framework's default would produce
      val raw = Rnn2Trainer.init(u1 = 64, u2 = 128, classes = 2,
        seed = 43L)
      def sc(m: Seq[Seq[Double]], f: Double) = m.map(_.map(_ * f))
      val wide0 = raw.copy(
        wh1 = sc(raw.wh1, 1.0 / math.sqrt(64)),
        wx2 = sc(raw.wx2, 1.0 / math.sqrt(64)),
        wh2 = sc(raw.wh2, 1.0 / math.sqrt(128)),
        w3 = sc(raw.w3, 1.0 / math.sqrt(128)))
      // fan-in-scaled lr (the WideLstm2Spec note); fresh dropout mask
      // per epoch makes the loss mask-noisy, so require improvement
      // over the start, not monotonicity
      val (_, losses) = TrainerCommon.fit(WideRnn2.Kernel(dropout = 0.3),
        facts, fxs, y, rk, wide0, epochs = 6,
        opt = TrainerCommon.Optimizer.sgd(0.1))
      assert(losses.length == 6)
      assert(losses.tail.min < losses.head,
        s"reference-width loss did not descend: $losses")
    } finally { facts.unpersist(); () }
  }
}
