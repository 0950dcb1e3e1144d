package graft.ml

import java.nio.ByteBuffer
import java.security.MessageDigest

import org.scalatest.funsuite.AnyFunSuite

import graft.ml.TrainerCommon.{Kernel, Sample}

/** Golden bits for the wide kernels: `pack` plus
  * `accumulate` over a fixed mix of train and val rows, two epochs,
  * dropout > 0, summed on the driver (no Spark job), and the sha256 of
  * the buffer's raw IEEE bits pinned. The twin specs compare against the
  * staged trainers at 1e-9; this pins EXACT bit identity, so a kernel
  * restructure that moves a single add (or a depth-generic kernel that
  * replaces one of these) cannot pass by rounding luck. The digests
  * were recorded from each kernel's own monolithic form — the four
  * reference-width kernels before they were split into
  * per-timestep/per-layer helpers, the single-layer recurrent and the
  * conv kernels before depth-generic kernels replace them — and must
  * never be re-recorded to make a change pass.
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
    val sc = k.scratch(p)
    val g = new Array[Double](p.statsOff + 4)
    for (epoch <- 1 to 2; s <- rs) k.accumulate(s, p, sc, epoch, g)
    assert(g(p.statsOff + 1) > 0 && g(p.statsOff + 3) > 0,
      "both slices must be exercised")
    val bb = ByteBuffer.allocate(8 * g.length)
    g.foreach(d => bb.putLong(java.lang.Double.doubleToRawLongBits(d)))
    MessageDigest.getInstance("SHA-256").digest(bb.array)
      .map(b => f"$b%02x").mkString
  }

  /** Each row length's buffer (raw bits) after two epochs over `order`:
    * with `shared`, every row runs on ONE scratch made for the longest
    * length; otherwise each row gets a fresh scratch. */
  private def buffersByLength[W, G](k: Kernel[W, G], w: W,
      order: Seq[Sample], shared: Boolean): Map[Int, Seq[Long]] = {
    val ps = order.map(_.x.length).distinct.map(n => n -> k.pack(w, n))
      .toMap
    val one = k.scratch(ps(ps.keys.max))
    val gs = ps.map { case (n, p) => n -> new Array[Double](p.statsOff + 4) }
    for (epoch <- 1 to 2; s <- order) {
      val p = ps(s.x.length)
      k.accumulate(s, p, if (shared) one else k.scratch(p), epoch,
        gs(s.x.length))
    }
    gs.map { case (n, g) =>
      n -> g.toSeq.map(java.lang.Double.doubleToRawLongBits) }
  }

  /** Rows of T = 3 and T = 7 interleaved on one scratch made for T = 7
    * give the same bits as a fresh scratch per row. */
  private def interleavedLengths[W, G](k: Kernel[W, G], w: W): Unit = {
    val short = rows(8, 3, 3); val long = rows(8, 7, 3)
    val mixed = short.zip(long).flatMap { case (a, b) => Seq(a, b) }
    val fresh = buffersByLength(k, w, mixed, shared = false)
    assert(fresh.keySet == Set(3, 7))
    assert(buffersByLength(k, w, mixed, shared = true) == fresh)
  }

  test("recurrent kernels: T = 3 and T = 7 rows interleaved on one " +
    "thread match separate runs") {
    interleavedLengths(WideRnn2.Kernel(0.3),
      Rnn2Trainer.init(u1 = 5, u2 = 6, classes = 3, seed = 5L))
    interleavedLengths(WideLstm2.Kernel(0.3),
      Lstm2Trainer.init(u1 = 5, u2 = 6, d = 4, classes = 3, seed = 5L))
    interleavedLengths(WideRnn.Kernel(0.3),
      RnnTrainer.init(units = 5, classes = 3, seed = 5L))
    interleavedLengths(WideLstm.Kernel,
      LstmTrainer.init(units = 5, classes = 3, seed = 5L))
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

  test("WideRnn kernel: unrolled and remainder units") {
    val T = 7
    val w = RnnTrainer.init(units = 5, classes = 3, seed = 5L)
    assert(digest(WideRnn.Kernel(0.3), w, T, rows(16, T, 3)) ==
      "82904a00d66065f75890b9820e04c50844de0edb7277099fe731897982c1982b")
  }

  test("WideLstm kernel") {
    val T = 6
    val w = LstmTrainer.init(units = 5, classes = 3, seed = 5L)
    assert(digest(WideLstm.Kernel, w, T, rows(16, T, 3)) ==
      "379d4fafbccfe0653489e0f80418585f3a9f12b720f1ef17082a0a1b4c13f18e")
  }

  test("WideConv kernel: max pool with dropout") {
    val T = 11
    val w = ConvTrainer.init(filters = 4, kernel = 3, classes = 3,
      seed = 5L)
    assert(digest(WideConv.Kernel(0.3, ConvTrainer.MaxPool), w, T,
      rows(16, T, 3)) ==
      "37b199aac533bddebb62763d59b16f3f0a9c29cd4548385893238e1309d029dd")
  }

  test("WideConv kernel: average pool") {
    val T = 11
    val w = ConvTrainer.init(filters = 4, kernel = 3, classes = 3,
      seed = 5L)
    assert(digest(WideConv.Kernel(0.2, ConvTrainer.AvgPool), w, T,
      rows(16, T, 3)) ==
      "0cac7da4e10a4ee50179af5bd37aedd22391567bf72629007f2b5ab4f86f6fb1")
  }

  test("WideConv2 kernel: odd first-block length") {
    val T = 13
    val w = Conv2Trainer.init(f1 = 3, f2 = 4, kernel = 3, classes = 3,
      seed = 5L)
    assert(digest(WideConv2.Kernel, w, T, rows(16, T, 3)) ==
      "9e89a593ff6052731b42248962b7e565706d9218c2debd74fca3d35188a948df")
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
