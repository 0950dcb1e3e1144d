package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ml.{ConvNetTrainer, TrainerCommon, WideNet}

/** The wide-path trainer's two obligations:
  *
  *  1. EQUIVALENCE — at widths where the staged-expression plan is
  *     tractable, WideNet must reproduce ConvNetTrainer's gradients,
  *     losses, dropout masks, and early-stop trajectory number for
  *     number (the treeAggregate path is a re-representation, not a
  *     reimplementation of the semantics).
  *  2. REFERENCE WIDTH — the reference CNN's real architecture
  *     (`models/cnn_model.py:21-32`: Conv 32/64/128, kernel 3, pool 2,
  *     Dense(128), Dropout(0.5)) trains end-to-end with descending
  *     loss, demonstrating that width is genuinely a constructor
  *     argument of this engine and not an untested claim.
  */
class WideNetSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val T = 22
  // the ConvNetTrainerSpec bump fixture: class 1 has a [low, HIGH, low]
  // bump at a varying position, class 0 is flat
  private lazy val df = {
    val rows = (0 until 24).map { i =>
      val pos = 1 + (i / 2) % 16
      val base = 0.1 + 0.02 * (i % 3)
      val xs =
        if (i % 2 == 1) Seq.fill(T)(base).updated(pos, 1.0)
        else Seq.fill(T)(base + 0.15)
      (xs, i % 2, i.toLong)
    }
    val seqDf = rows.toDF("xs", "y", "rk")
    seqDf.select((0 until T).map(t =>
      element_at(col("xs"), t + 1).as(s"x${t + 1}")) ++
      Seq(col("y"), col("rk")): _*)
  }
  private val xs = (1 to T).map(t => col(s"x$t"))

  private def w0 = ConvNetTrainer.init(T, filters = Seq(2, 2, 2),
    kernel = 3, dense = 3, classes = 2, seed = 23L)

  private def assertClose(a: Double, b: Double, what: String): Unit =
    assert(math.abs(a - b) < 1e-9, s"$what: staged=$a wide=$b")

  private def compareGrads(dropout: Double, isVal: org.apache.spark.sql.Column): Unit = {
    val (gs, vs) = ConvNetTrainer.gradientsVal(df, xs, col("y"),
      col("rk"), w0, epoch = 2, dropout, isVal)
    val (gw, vw) = TrainerCommon.gradientsVal(WideNet.Kernel(dropout), df,
      xs, col("y"), col("rk"), w0, epoch = 2, isVal)
    assertClose(gs.loss, gw.loss, s"loss drop=$dropout")
    (vs, vw) match {
      case (Some(a), Some(b)) => assertClose(a, b, "val loss")
      case (None, None)       => ()
      case other              => fail(s"val slice mismatch: $other")
    }
    for (b <- gs.convW.indices; f <- gs.convW(b).indices;
         j <- gs.convW(b)(f).indices; c <- gs.convW(b)(f)(j).indices)
      assertClose(gs.convW(b)(f)(j)(c), gw.convW(b)(f)(j)(c),
        s"convW $b/$f/$j/$c drop=$dropout")
    for (b <- gs.convB.indices; f <- gs.convB(b).indices)
      assertClose(gs.convB(b)(f), gw.convB(b)(f), s"convB $b/$f")
    for (u <- gs.denseW.indices; i <- gs.denseW(u).indices)
      assertClose(gs.denseW(u)(i), gw.denseW(u)(i), s"denseW $u/$i")
    for (u <- gs.denseB.indices)
      assertClose(gs.denseB(u), gw.denseB(u), s"denseB $u")
    for (o <- gs.headW.indices; u <- gs.headW(o).indices)
      assertClose(gs.headW(o)(u), gw.headW(o)(u), s"headW $o/$u")
    for (o <- gs.headB.indices)
      assertClose(gs.headB(o), gw.headB(o), s"headB $o")
  }

  test("wide path matches staged gradients exactly (no dropout)") {
    compareGrads(0.0, lit(false))
  }

  test("wide path matches staged gradients with dropout + val slice") {
    // dropout exercises the XXH64 mask replay; the val slice exercises
    // the train-only averaging and inference-semantics val loss
    compareGrads(0.5, TrainerCommon.valSplit(col("rk"), 0.25))
  }

  test("wide-path early stopping walks the same trajectory") {
    val isVal = TrainerCommon.valSplit(col("rk"), 0.25)
    val es = ConvNetTrainer.fitEs(df, xs, col("y"), w0, maxEpochs = 3,
      lr = 0.5, col("rk"), dropout = 0.3, isVal, patience = 1)
    val ew = TrainerCommon.fitEs(WideNet.Kernel(dropout = 0.3), df, xs,
      col("y"), col("rk"), w0, maxEpochs = 3,
      TrainerCommon.Optimizer.sgd(0.5), isVal, patience = 1)
    assert(es.stoppedEpoch == ew.stoppedEpoch &&
      es.bestEpoch == ew.bestEpoch)
    es.trainLosses.zip(ew.trainLosses).foreach { case (a, b) =>
      assertClose(a, b, "train loss") }
    es.valLosses.zip(ew.valLosses).foreach { case (a, b) =>
      assertClose(a, b, "val loss") }
  }

  test("REFERENCE WIDTHS train: Conv 32/64/128 + Dense(128), Dropout(0.5)") {
    // the exact cnn_model.py:21-32 widths on the sf0.001 lineitem slice
    // (the q58 feature grid), 3 full-batch epochs, loss must descend.
    // This runs the SAME math the staged path is FD-verified on — the
    // equivalence tests above are what entitle this run to stand in
    // for it at widths the staged plan cannot reach.
    val dir = TestSpark.sf0001
    val scan = graft.sources.Tables.load(spark, dir, "lineitem")
      .filter(col("l_orderkey") % 4 === 0)
    val facts = scan.repartition(
      spark.sparkContext.defaultParallelism).persist()
    try {
      val primes = Seq(97, 89, 83, 79, 73, 71, 67, 61, 59, 53, 47, 43,
        41, 37, 31, 29, 23, 19)
      val fxs: Seq[org.apache.spark.sql.Column] =
        Seq(col("l_quantity") / lit(32.0),
          col("l_linenumber").cast("double") / lit(4.0),
          dayofmonth(col("l_shipdate")).cast("double") / lit(16.0),
          month(col("l_shipdate")).cast("double") / lit(8.0)) ++
        primes.zipWithIndex.map { case (p, i) =>
          val src = (i % 3: @unchecked) match {
            case 0 => col("l_orderkey")
            case 1 => col("l_partkey")
            case 2 => col("l_suppkey")
          }
          ((src + lit(i)) % p).cast("double") / lit(32.0)
        }
      val y = ((col("l_orderkey") + col("l_suppkey")) % 2).cast("int")
      val rk = xxhash64(col("l_orderkey"), col("l_linenumber"))
      val wide0 = ConvNetTrainer.init(T = 22, filters = Seq(32, 64, 128),
        kernel = 3, dense = 128, classes = 2, seed = 41L)
      val (_, losses) = TrainerCommon.fit(WideNet.Kernel(dropout = 0.5),
        facts, fxs, y, rk, wide0, epochs = 3,
        opt = TrainerCommon.Optimizer.sgd(0.05))
      assert(losses.length == 3)
      assert(losses.last < losses.head,
        s"reference-width loss did not descend: $losses")
    } finally { facts.unpersist(); () }
  }
}
