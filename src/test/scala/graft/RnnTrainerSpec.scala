package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ml.RnnTrainer
import graft.ml.RnnTrainer.RnnWeights

/** BPTT correctness: the analytic gradient of every weight tensor must
  * match finite differences of the trainer's own loss (the backward
  * pass through the recurrence is the part worth distrusting), and GD
  * must learn an order-sensitive sequence task a bag-of-inputs model
  * can't represent.
  */
class RnnTrainerSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // T=5 sequences; label = does the tail (t4+t5) outweigh the head
  // (t1+t2)? — an ORDER-dependent rule
  private lazy val df = {
    val rows = (0 until 24).map { i =>
      val a = 0.2 + 0.05 * (i % 7)
      val b = 0.9 - 0.05 * (i % 5)
      if (i % 2 == 0) (a, a, 0.5, b, b, if (2 * b > 2 * a) 1 else 0)
      else (b, b, 0.5, a, a, if (2 * a > 2 * b) 1 else 0)
    }
    rows.toDF("x1", "x2", "x3", "x4", "x5", "y")
  }
  private val xs = (1 to 5).map(t => col(s"x$t"))

  private def w0 = RnnTrainer.init(units = 3, classes = 2, seed = 13L)

  test("BPTT gradients match finite differences for all tensors") {
    val eps = 1e-5
    val g = RnnTrainer.gradients(df, xs, col("y"), w0)
    def lossAt(w: RnnWeights): Double =
      RnnTrainer.gradients(df, xs, col("y"), w).loss
    def fd(up: RnnWeights, dn: RnnWeights): Double =
      (lossAt(up) - lossAt(dn)) / (2 * eps)

    val fwx = fd(w0.copy(wx = w0.wx.updated(1, w0.wx(1) + eps)),
      w0.copy(wx = w0.wx.updated(1, w0.wx(1) - eps)))
    assert(math.abs(fwx - g.wx(1)) < 1e-6, s"wx: $fwx vs ${g.wx(1)}")

    def bumpWh(d: Double) = w0.copy(wh =
      w0.wh.updated(2, w0.wh(2).updated(1, w0.wh(2)(1) + d)))
    val fwh = fd(bumpWh(eps), bumpWh(-eps))
    assert(math.abs(fwh - g.wh(2)(1)) < 1e-6, s"wh: $fwh vs ${g.wh(2)(1)}")

    val fb = fd(w0.copy(b = w0.b.updated(0, w0.b(0) + eps)),
      w0.copy(b = w0.b.updated(0, w0.b(0) - eps)))
    assert(math.abs(fb - g.b(0)) < 1e-6, s"b: $fb vs ${g.b(0)}")

    def bumpW2(d: Double) = w0.copy(w2 =
      w0.w2.updated(1, w0.w2(1).updated(2, w0.w2(1)(2) + d)))
    val fw2 = fd(bumpW2(eps), bumpW2(-eps))
    assert(math.abs(fw2 - g.w2(1)(2)) < 1e-6, s"w2: $fw2 vs ${g.w2(1)(2)}")

    val fb2 = fd(w0.copy(b2 = w0.b2.updated(1, w0.b2(1) + eps)),
      w0.copy(b2 = w0.b2.updated(1, w0.b2(1) - eps)))
    assert(math.abs(fb2 - g.b2(1)) < 1e-6, s"b2: $fb2 vs ${g.b2(1)}")
  }

  test("gradients are partition-layout invariant") {
    val g1 = RnnTrainer.gradients(df.repartition(7), xs, col("y"), w0)
    val g2 = RnnTrainer.gradients(df.coalesce(1), xs, col("y"), w0)
    def flat(g: RnnTrainer.RnnGrads) =
      g.wx ++ g.wh.flatten ++ g.b ++ g.w2.flatten ++ g.b2 :+ g.loss
    flat(g1).zip(flat(g2)).foreach { case (a, b) =>
      assert(math.abs(a - b) < 1e-12)
    }
  }

  test("BPTT learns the order-sensitive task") {
    val (w, losses) = RnnTrainer.fit(df, xs, col("y"), w0,
      epochs = 150, lr = 1.0)
    assert(losses.last < losses.head * 0.5,
      s"loss ${losses.head} -> ${losses.last}")
    val scored = RnnTrainer.predictStaged(df, Seq(col("y")), xs, w, "pred")
    val acc = scored.select((col("pred") === col("y")).cast("double")
      .as("ok")).agg(avg("ok")).head().getDouble(0)
    assert(acc >= 0.9, s"accuracy $acc")
  }

  // rk column for the dropout mask seed
  private lazy val dfRk = df.withColumn("rk",
    xxhash64(col("x1"), col("x2"), col("x3"), col("x4"), col("x5"),
      col("y")))

  test("BPTT gradients match finite differences WITH dropout active") {
    // fixed (epoch, rowKey) -> deterministic masks, so FD through
    // gradientsVal differentiates the same masked loss (the GdTrainerSpec
    // dropout-FD argument, now through the recurrence + dropped head)
    val eps = 1e-5
    def gAt(w: RnnWeights) = RnnTrainer.gradientsVal(dfRk, xs, col("y"),
      col("rk"), w, epoch = 2, dropout = 0.3, lit(false))._1
    val g = gAt(w0)
    def lossAt(w: RnnWeights): Double = gAt(w).loss
    def fd(up: RnnWeights, dn: RnnWeights): Double =
      (lossAt(up) - lossAt(dn)) / (2 * eps)
    val fwx = fd(w0.copy(wx = w0.wx.updated(1, w0.wx(1) + eps)),
      w0.copy(wx = w0.wx.updated(1, w0.wx(1) - eps)))
    assert(math.abs(fwx - g.wx(1)) < 1e-6, s"wx: $fwx vs ${g.wx(1)}")
    def bumpWh(d: Double) = w0.copy(wh =
      w0.wh.updated(2, w0.wh(2).updated(1, w0.wh(2)(1) + d)))
    val fwh = fd(bumpWh(eps), bumpWh(-eps))
    assert(math.abs(fwh - g.wh(2)(1)) < 1e-6, s"wh: $fwh vs ${g.wh(2)(1)}")
    def bumpW2(d: Double) = w0.copy(w2 =
      w0.w2.updated(1, w0.w2(1).updated(2, w0.w2(1)(2) + d)))
    val fw2 = fd(bumpW2(eps), bumpW2(-eps))
    assert(math.abs(fw2 - g.w2(1)(2)) < 1e-6, s"w2: $fw2 vs ${g.w2(1)(2)}")
  }

  test("dropout masks are partitioning-invariant and vary by epoch") {
    def gAt(part: org.apache.spark.sql.DataFrame, e: Int) =
      RnnTrainer.gradientsVal(part, xs, col("y"), col("rk"), w0,
        epoch = e, dropout = 0.3, lit(false))._1
    def flat(g: RnnTrainer.RnnGrads) =
      g.wx ++ g.wh.flatten ++ g.b ++ g.w2.flatten ++ g.b2 :+ g.loss
    // same epoch, different layout -> bit-stable within float tolerance
    flat(gAt(dfRk.repartition(7), 1)).zip(flat(gAt(dfRk.coalesce(1), 1)))
      .foreach { case (a, b) => assert(math.abs(a - b) < 1e-12) }
    // different epoch -> different masks -> different gradients
    assert(flat(gAt(dfRk, 1)) != flat(gAt(dfRk, 2)))
  }
}
