package graft.ml

import java.nio.ByteBuffer
import java.security.MessageDigest

import org.scalatest.funsuite.AnyFunSuite

import graft.ml.TrainerCommon.{Kernel, Sample}

/** Golden bits for the four reference-width kernels: `pack` plus
  * `accumulate` over a fixed mix of train and val rows, two epochs,
  * dropout > 0, summed on the driver (no Spark job), and the sha256 of
  * the buffer's raw IEEE bits pinned. The twin specs compare against the
  * staged trainers at 1e-9; this pins EXACT bit identity, so a kernel
  * restructure that moves a single add (or a depth-generic kernel that
  * replaces one of these) cannot pass by rounding luck. The digests
  * were recorded from the kernels before they were split into
  * per-timestep/per-layer helpers and must never be re-recorded to make
  * a change pass.
  */
class WideKernelBitsSpec extends AnyFunSuite {

  /** `n` rows of `T` features in [0, 1); every fourth row is a val row. */
  private def rows(n: Int, T: Int, classes: Int): Seq[Sample] = {
    val rng = new scala.util.Random(11L)
    (0 until n).map(i => Sample(Array.fill(T)(rng.nextDouble()),
      rng.nextInt(classes), 7919L * i, i % 4 == 3))
  }

  private def digest[W, G](k: Kernel[W, G], w: W, T: Int,
      rs: Seq[Sample]): String = {
    val p = k.pack(w, T)
    val g = new Array[Double](p.statsOff + 4)
    for (epoch <- 1 to 2; s <- rs) k.accumulate(s, p, epoch, g)
    assert(g(p.statsOff + 1) > 0 && g(p.statsOff + 3) > 0,
      "both slices must be exercised")
    val bb = ByteBuffer.allocate(8 * g.length)
    g.foreach(d => bb.putLong(java.lang.Double.doubleToRawLongBits(d)))
    MessageDigest.getInstance("SHA-256").digest(bb.array)
      .map(b => f"$b%02x").mkString
  }

  test("WideNet kernel: three conv blocks, odd pooled length") {
    val T = 24
    val w = ConvNetTrainer.init(T, filters = Seq(3, 4, 5), kernel = 3,
      dense = 6, classes = 3, seed = 5L)
    assert(digest(WideNet.Kernel(0.3), w, T, rows(16, T, 3)) ==
      "d9b8c31c001c4bfcb44f9bb1772acee1869894809b5ea48d7afa929b47f775e1")
  }

  test("WideRnn2 kernel") {
    val T = 7
    val w = Rnn2Trainer.init(u1 = 5, u2 = 6, classes = 3, seed = 5L)
    assert(digest(WideRnn2.Kernel(0.3), w, T, rows(16, T, 3)) ==
      "5961ca9f3005eb359f68c87bdc736b57b5d01adc15df877badd8b8e00de5064b")
  }

  test("WideLstm2 kernel") {
    val T = 6
    val w = Lstm2Trainer.init(u1 = 5, u2 = 6, d = 4, classes = 3,
      seed = 5L)
    assert(digest(WideLstm2.Kernel(0.3), w, T, rows(16, T, 3)) ==
      "539e9dd5929e4e3818070220345dbc868ab3171c2e6a13bd3469f35cdcd323d8")
  }

  test("WideMlp3 kernel: unrolled and remainder units, a zero-rate layer") {
    val T = 9
    val w = Mlp3Trainer.init(d = T, hidden = Seq(7, 6, 5), classes = 3,
      seed = 5L)
    assert(digest(WideMlp3.Kernel(Seq(0.3, 0.2, 0.0)), w, T,
      rows(16, T, 3)) ==
      "24c959792c51b28ba6688caac60041d8d1948ef4728bf0351e2de2bc50b5213f")
  }
}
