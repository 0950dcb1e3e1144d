package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ml.{Lstm2Trainer, TrainerCommon, WideLstm2}

/** Wide-path stacked-LSTM obligations (the WideNetSpec pattern):
  * equivalence against the staged Lstm2Trainer at spec widths, then the
  * reference architecture (`models/lstm_model.py:19-26`: LSTM(64) →
  * Dropout → LSTM(128) → Dropout → Dense(64)) trained end-to-end at its
  * REAL widths with descending loss.
  */
class WideLstm2Spec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // the Lstm2TrainerSpec order-sensitive fixture, plus a row key for
  // the dropout-mask replay
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

  private def w0 = Lstm2Trainer.init(u1 = 2, u2 = 2, d = 3, classes = 2,
    seed = 31L)

  private def assertClose(a: Double, b: Double, what: String): Unit =
    assert(math.abs(a - b) < 1e-9, s"$what: staged=$a wide=$b")

  private def compareGrads(dropout: Double,
      isVal: org.apache.spark.sql.Column): Unit = {
    val (gs, vs) = Lstm2Trainer.gradientsVal(df, xs, col("y"),
      col("rk"), w0, epoch = 2, dropout, isVal)
    val (gw, vw) = TrainerCommon.gradientsVal(WideLstm2.Kernel(dropout),
      df, xs, col("y"), col("rk"), w0, epoch = 2, isVal)
    assertClose(gs.loss, gw.loss, s"loss drop=$dropout")
    (vs, vw) match {
      case (Some(a), Some(b)) => assertClose(a, b, "val loss")
      case (None, None)       => ()
      case other              => fail(s"val slice mismatch: $other")
    }
    for (x <- Seq("i", "f", "g", "o")) {
      val (s1, w1) = (gs.l1(x), gw.l1(x))
      s1.wx.indices.foreach(u =>
        assertClose(s1.wx(u), w1.wx(u), s"l1.$x.wx $u drop=$dropout"))
      for (u <- s1.u.indices; v <- s1.u(u).indices)
        assertClose(s1.u(u)(v), w1.u(u)(v), s"l1.$x.u $u/$v")
      s1.b.indices.foreach(u =>
        assertClose(s1.b(u), w1.b(u), s"l1.$x.b $u"))
      val (s2, w2) = (gs.l2(x), gw.l2(x))
      for (u <- s2.wx.indices; v <- s2.wx(u).indices)
        assertClose(s2.wx(u)(v), w2.wx(u)(v), s"l2.$x.wx $u/$v")
      for (u <- s2.u.indices; v <- s2.u(u).indices)
        assertClose(s2.u(u)(v), w2.u(u)(v), s"l2.$x.u $u/$v")
      s2.b.indices.foreach(u =>
        assertClose(s2.b(u), w2.b(u), s"l2.$x.b $u"))
    }
    for (j <- gs.wd.indices; u <- gs.wd(j).indices)
      assertClose(gs.wd(j)(u), gw.wd(j)(u), s"wd $j/$u")
    gs.bd.indices.foreach(j => assertClose(gs.bd(j), gw.bd(j), s"bd $j"))
    for (o <- gs.w3.indices; j <- gs.w3(o).indices)
      assertClose(gs.w3(o)(j), gw.w3(o)(j), s"w3 $o/$j")
    gs.b3.indices.foreach(o => assertClose(gs.b3(o), gw.b3(o), s"b3 $o"))
  }

  test("wide path matches staged gradients exactly (no dropout)") {
    compareGrads(0.0, lit(false))
  }

  test("wide path matches staged gradients with dropout + val slice") {
    compareGrads(0.3, TrainerCommon.valSplit(col("rk"), 0.25))
  }

  test("wide-path early stopping walks the same trajectory") {
    val isVal = TrainerCommon.valSplit(col("rk"), 0.25)
    val es = Lstm2Trainer.fitEs(df, xs, col("y"), w0, maxEpochs = 3,
      lr = 0.5, col("rk"), dropout = 0.3, isVal, patience = 1)
    val ew = TrainerCommon.fitEs(WideLstm2.Kernel(dropout = 0.3), df, xs,
      col("y"), col("rk"), w0, maxEpochs = 3,
      TrainerCommon.Optimizer.sgd(0.5), isVal, patience = 1)
    assert(es.stoppedEpoch == ew.stoppedEpoch &&
      es.bestEpoch == ew.bestEpoch)
    es.trainLosses.zip(ew.trainLosses).foreach { case (a, b) =>
      assertClose(a, b, "train loss") }
    es.valLosses.zip(ew.valLosses).foreach { case (a, b) =>
      assertClose(a, b, "val loss") }
  }

  test("REFERENCE WIDTHS train: LSTM(64) -> LSTM(128) -> Dense(64)") {
    // lstm_model.py:19-26 at its real widths, T=8 steps of lineitem
    // features (sf0.001 slice), dropout 0.3 at both reference
    // positions, 3 full-batch epochs, loss must descend. The
    // equivalence tests above entitle this run to stand in for the
    // staged path at widths its plan cannot reach.
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
      val wide0 = Lstm2Trainer.init(u1 = 64, u2 = 128, d = 64,
        classes = 2, seed = 47L)
      // lr scaled down for the wide stack: a 128-unit layer's summed
      // fan-in makes 0.5 (the toy-width spec rate) overshoot
      val (_, losses) = TrainerCommon.fit(WideLstm2.Kernel(dropout = 0.3),
        facts, fxs, y, rk, wide0, epochs = 4,
        opt = TrainerCommon.Optimizer.sgd(0.02))
      assert(losses.length == 4)
      // each epoch draws a fresh dropout mask, so the full-batch loss
      // is mask-noisy epoch to epoch — require improvement over the
      // start, not monotonicity
      assert(losses.tail.min < losses.head,
        s"reference-width loss did not descend: $losses")
    } finally { facts.unpersist(); () }
  }
}
