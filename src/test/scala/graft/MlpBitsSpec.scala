package graft

import java.nio.ByteBuffer
import java.security.MessageDigest

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.ml.{Mlp3Trainer, TrainerCommon}

/** Golden bits of the staged MLP at one hidden layer (the q40 shape): the
  * raw IEEE bits of one `gradientsVal` pass, without and with dropout,
  * a val slice held out, and the class column `predict` scores in row
  * order. The fixture is one partition, so every `avg` sums its rows in
  * one fixed order and the bits are a property of the expression tree
  * alone. The digests were recorded from the dedicated single-hidden
  * trainer that [[graft.ml.Mlp3Trainer]]'s one-hidden-layer case
  * replaced, and must never be re-recorded to make a change pass.
  */
class MlpBitsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // GdTrainerSpec's separable 2-class fixture, on ONE partition
  private lazy val df = (0 until 24).map { i =>
    val a = 0.3 + 0.1 * (i % 5)
    if (i % 2 == 0) (i.toLong, a, a + 0.2, 0.1, 0)
    else (i.toLong, 0.1, 0.2, a + 0.5, 1)
  }.toDF("rk", "x0", "x1", "x2", "y").coalesce(1)
  private val feats = Seq(col("x0"), col("x1"), col("x2"))
  private def w0 = Mlp3Trainer.initOneHidden(3, 4, 2, seed = 31L)

  private def sha256(bytes: Array[Byte]): String =
    MessageDigest.getInstance("SHA-256").digest(bytes)
      .map(b => f"$b%02x").mkString

  private def bitsDigest(xs: Seq[Double]): String = {
    val bb = ByteBuffer.allocate(8 * xs.length)
    xs.foreach(d => bb.putLong(java.lang.Double.doubleToRawLongBits(d)))
    sha256(bb.array)
  }

  test("one-hidden staged gradients: golden bits at p = 0 and 0.4 " +
      "with a val slice") {
    val iv = TrainerCommon.valSplit(col("rk"), 0.25)
    val got = Seq(0.0, 0.4).map { p =>
      val (g, vl) = Mlp3Trainer.gradientsVal(df, feats, col("y"),
        col("rk"), w0, epoch = 2, Seq(p), iv)
      bitsDigest(g.ws(0).flatten ++ g.bs(0) ++ g.ws(1).flatten ++
        g.bs(1) ++ Seq(g.loss, vl.get))
    }
    assert(got == Seq(
      "50a4d7c198c63d912086438e14730942301efaf029d3f15d759ee791490cdf90",
      "6b73806e2687d81d8c73ab5ae331d4be2d1ca78142eb6e0eb5d2582ea6a7e2f6"))
  }

  test("one-hidden predict: golden class column in row order") {
    val cls = df.orderBy("rk").select(Mlp3Trainer.predict(feats, w0))
      .collect().map(_.getLong(0))
    assert(cls.distinct.length == 2, "both classes must be predicted")
    val bb = ByteBuffer.allocate(8 * cls.length)
    cls.foreach(bb.putLong)
    assert(sha256(bb.array) ==
      "acbb3b43159e686b259037a98131abffee7ec8769111445505bfc84cf6b92783")
  }
}
