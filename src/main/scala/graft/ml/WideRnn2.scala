package graft.ml

/** Reference-WIDTH execution path for [[Rnn2Trainer]] — the stacked
  * SimpleRNN member of the [[WideNet]]/[[WideLstm2]] family (see
  * WideNet for the representation rationale): identical stacked-BPTT
  * math as per-partition imperative accumulation + one O(params)
  * treeAggregate per epoch, for the reference's real widths
  * (`models/rnn_model.py:19-26`: SimpleRNN(64) → SimpleRNN(128)).
  * WideRnn2Spec pins gradient-for-gradient equivalence against the
  * staged trainer, dropout masks included.
  */
object WideRnn2 {
  import Rnn2Trainer.{W, G}
  import TrainerCommon.Sample
  import WideNet.{axpy, backDot, denseDot, denseGrad, dropMaskLocal,
    flushRows, gadd, matvecRows, rank1Rows, softmaxCE, vadd, zeroRows}

  /** FLAT packed weights + transposed copies for the backward pass's
    * column access (the WideLstm2 layout rationale): same doubles, same
    * arithmetic, no nested-array pointer chasing. */
  private[ml] final class Packed(w: W, T: Int)
      extends TrainerCommon.Packed {
    val u1: Int = w.u1
    val u2: Int = w.u2
    val kc: Int = w.classes
    val wx1: Array[Double] = w.wx1.toArray
    val wh1: Array[Double] = w.wh1.flatten.toArray     // (u)*u1+v
    val b1: Array[Double] = w.b1.toArray
    val wx2: Array[Double] = w.wx2.flatten.toArray     // (u)*u1+v
    val wh2: Array[Double] = w.wh2.flatten.toArray     // (u)*u2+v
    val b2: Array[Double] = w.b2.toArray
    val w3: Array[Double] = w.w3.flatten.toArray       // (o)*u2+v
    val b3: Array[Double] = w.b3.toArray
    val wh1T: Array[Double] = {                         // (c)*u1+r = wh1(r)(c)
      val a = new Array[Double](u1 * u1)
      var r = 0
      while (r < u1) {
        var c = 0
        while (c < u1) { a(c * u1 + r) = wh1(r * u1 + c); c += 1 }
        r += 1
      }
      a
    }
    val wx2T: Array[Double] = {                         // (c)*u2+r = wx2(r)(c)
      val a = new Array[Double](u2 * u1)
      var r = 0
      while (r < u2) {
        var c = 0
        while (c < u1) { a(c * u2 + r) = wx2(r * u1 + c); c += 1 }
        r += 1
      }
      a
    }
    val wh2T: Array[Double] = {                         // (c)*u2+r = wh2(r)(c)
      val a = new Array[Double](u2 * u2)
      var r = 0
      while (r < u2) {
        var c = 0
        while (c < u2) { a(c * u2 + r) = wh2(r * u2 + c); c += 1 }
        r += 1
      }
      a
    }
    val w3T: Array[Double] = {                          // (v)*kc+o = w3(o)(v)
      val a = new Array[Double](kc * u2)
      var o = 0
      while (o < kc) {
        var v = 0
        while (v < u2) { a(v * kc + o) = w3(o * u2 + v); v += 1 }
        o += 1
      }
      a
    }
    // ARRAYS-OF-ROWS views of the same weights (see WideNet.Packed):
    // every hot loop in accumulate is a daxpy over 0-BASED rows — the
    // only loop shape JDK 17's SuperWord auto-vectorizes. Rows are
    // contiguous slices; values and add orders are unchanged.
    private def rows(a: Array[Double], n: Int, len: Int) =
      Array.tabulate(n)(r =>
        java.util.Arrays.copyOfRange(a, r * len, (r + 1) * len))
    val wh1Rows: Array[Array[Double]] = rows(wh1, u1, u1)    // (u)(v)
    val wh1TRows: Array[Array[Double]] = rows(wh1T, u1, u1)  // (v)(u)
    val wx2Rows: Array[Array[Double]] = rows(wx2, u2, u1)    // (u)(v)
    val wx2TRows: Array[Array[Double]] = rows(wx2T, u1, u2)  // (v)(u)
    val wh2Rows: Array[Array[Double]] = rows(wh2, u2, u2)    // (u)(v)
    val wh2TRows: Array[Array[Double]] = rows(wh2T, u2, u2)  // (v)(u)
    // gradient buffer layout, then the driver's stats tail
    val wx1Off: Int = 0
    val wh1Off: Int = wx1Off + u1
    val b1Off: Int = wh1Off + u1 * u1
    val wx2Off: Int = b1Off + u1
    val wh2Off: Int = wx2Off + u2 * u1
    val b2Off: Int = wh2Off + u2 * u2
    val w3Off: Int = b2Off + u2
    val b3Off: Int = w3Off + kc * u2
    val statsOff: Int = b3Off + kc
  }

  /** Per-thread reusable scratch (the WideLstm2 pattern): every array
    * is fully written before read except the t = 0 state rows, which no
    * code path writes — they stay zero from allocation. */
  private final class Scratch(val T: Int, val u1: Int, val u2: Int,
      val kc: Int) {
    private def mk(n: Int) = new Array[Double]((T + 1) * n)
    val h1 = mk(u1); val a1 = mk(u1); val m1v = mk(u1); val h2 = mk(u2)
    val m2v = new Array[Double](u2); val a2 = new Array[Double](u2)
    val z3 = new Array[Double](kc); val dzo = new Array[Double](kc)
    val dz1 = new Array[Double]((T + 2) * u1)
    val dz2 = new Array[Double]((T + 2) * u2)
    // 0-based daxpy operands (see Packed's rows note)
    private val um = math.max(u1, u2)
    val acc = new Array[Double](um)
    val bacc = new Array[Double](um)
    val h1p = new Array[Double](u1); val a1c = new Array[Double](u1)
    val h2p = new Array[Double](u2)
    val dzr1 = new Array[Double](u1); val dzr2 = new Array[Double](u2)
    // per-row gradient sums, added into `g` ONCE when finished (the
    // dot form adds each element's complete over-t sum once)
    val gwx1 = new Array[Double](u1); val gb1 = new Array[Double](u1)
    val gb2 = new Array[Double](u2)
    val gwh1: Array[Array[Double]] = Array.fill(u1)(new Array[Double](u1))
    val gwx2: Array[Array[Double]] = Array.fill(u2)(new Array[Double](u1))
    val gwh2: Array[Array[Double]] = Array.fill(u2)(new Array[Double](u2))
  }
  private val scratchTL = new ThreadLocal[Scratch]
  private def scratchFor(T: Int, p: Packed): Scratch = {
    val c = scratchTL.get()
    if (c != null && c.T == T && c.u1 == p.u1 && c.u2 == p.u2 &&
      c.kc == p.kc) c
    else {
      val n = new Scratch(T, p.u1, p.u2, p.kc)
      scratchTL.set(n); n
    }
  }

  /** One row's stacked-BPTT contribution — line for line the staged
    * columns of [[Rnn2Trainer.gradientsVal]]. Flat layouts, transposed
    * reads and 0-based daxpy rows; every accumulator's add order is the
    * historical one, so the output is bit-identical (the WideLstm2
    * rationale). A short driver over per-timestep forward, backward
    * and gradient steps, each compiled within the first rows of a cold
    * fit (the WideNet.accumulate note; WideKernelShapeSpec). */
  private def accumulate(s: Sample, p: Packed, epoch: Int,
      dropout: Double, g: Array[Double]): Unit = {
    val T = s.x.length
    val sc = scratchFor(T, p)
    var t = 1
    while (t <= T) { forward(s, p, sc, t, epoch, dropout); t += 1 }
    val loss = head(s, p, sc, T, epoch, dropout)
    if (s.iv) {
      g(p.statsOff + 2) += loss; g(p.statsOff + 3) += 1.0
      return
    }
    g(p.statsOff) += loss; g(p.statsOff + 1) += 1.0
    t = T
    while (t >= 1) { backward(p, sc, t, T); t -= 1 }
    clearSums(p, sc)
    t = 1
    while (t <= T) { gradStep(s, p, sc, t); t += 1 }
    flush(p, sc, g)
  }

  /** Both layers at timestep `t`. Pre-activations accumulate v-major as
    * daxpy over 0-based rows: per unit the adds land v-ascending from
    * the init — the dot form's exact order — with the INDEPENDENT unit
    * index as the vector dimension, the one shape SuperWord vectorizes
    * (Packed's note). */
  private def forward(s: Sample, p: Packed, sc: Scratch, t: Int,
      epoch: Int, dropout: Double): Unit = {
    val u1 = p.u1; val u2 = p.u2
    val h1 = sc.h1; val a1 = sc.a1; val m1v = sc.m1v; val h2 = sc.h2
    val acc = sc.acc
    val xt = s.x(t - 1)
    val rp = t * u1
    var u = 0
    while (u < u1) { acc(u) = xt * p.wx1(u) + p.b1(u); u += 1 }
    matvecRows(acc, h1, (t - 1) * u1, p.wh1TRows, 0, u1, u1)
    u = 0
    while (u < u1) {
      val av = acc(u)
      h1(rp + u) = if (av > 0) av else 0.0
      m1v(rp + u) = dropMaskLocal(s.iv, s.rk, epoch, (t - 1) * u1 + u,
        dropout)
      a1(rp + u) = h1(rp + u) * m1v(rp + u)
      u += 1
    }
    System.arraycopy(p.b2, 0, acc, 0, u2)
    matvecRows(acc, a1, rp, p.wx2TRows, 0, u1, u2)
    matvecRows(acc, h2, (t - 1) * u2, p.wh2TRows, 0, u2, u2)
    val qp = t * u2
    u = 0
    while (u < u2) {
      val av = acc(u)
      h2(qp + u) = if (av > 0) av else 0.0
      u += 1
    }
  }

  /** Dropped h2_T -> softmax head; returns the row's loss and leaves
    * the logit gradient in `dzo`. */
  private def head(s: Sample, p: Packed, sc: Scratch, T: Int,
      epoch: Int, dropout: Double): Double = {
    val u2 = p.u2
    val m2v = sc.m2v; val a2 = sc.a2
    var u = 0
    while (u < u2) {
      m2v(u) = dropMaskLocal(s.iv, s.rk, epoch, T * p.u1 + u, dropout)
      a2(u) = sc.h2(T * u2 + u) * m2v(u); u += 1
    }
    denseDot(sc.z3, p.b3, p.w3, a2, u2, p.kc)
    softmaxCE(sc.z3, p.kc, s.y, sc.dzo)
  }

  /** dz2 and dz1 at timestep `t`, reading the t+1 rows. dh2 (and the
    * wx2 then wh1 parts of dh1) run as v-major daxpy over natural rows;
    * per unit the adds land v-ascending from 0.0 — the dot form's
    * order. */
  private def backward(p: Packed, sc: Scratch, t: Int, T: Int): Unit = {
    val u1 = p.u1; val u2 = p.u2
    val h1 = sc.h1; val h2 = sc.h2; val dz1 = sc.dz1; val dz2 = sc.dz2
    val bacc = sc.bacc
    val qp = t * u2
    if (t == T) {
      backDot(bacc, sc.dzo, p.w3T, p.kc, u2)
      var u = 0
      while (u < u2) { bacc(u) = bacc(u) * sc.m2v(u); u += 1 }
    } else {
      java.util.Arrays.fill(bacc, 0, u2, 0.0)
      matvecRows(bacc, dz2, (t + 1) * u2, p.wh2Rows, 0, u2, u2)
    }
    var u = 0
    while (u < u2) {
      dz2(qp + u) = bacc(u) * (if (h2(qp + u) > 0) 1.0 else 0.0)
      u += 1
    }
    val rp = t * u1
    val dacc = sc.acc
    java.util.Arrays.fill(dacc, 0, u1, 0.0)
    matvecRows(dacc, dz2, qp, p.wx2Rows, 0, u2, u1)
    u = 0
    while (u < u1) { dacc(u) *= sc.m1v(rp + u); u += 1 }
    if (t < T) matvecRows(dacc, dz1, (t + 1) * u1, p.wh1Rows, 0, u1, u1)
    u = 0
    while (u < u1) {
      dz1(rp + u) = dacc(u) * (if (h1(rp + u) > 0) 1.0 else 0.0)
      u += 1
    }
  }

  /** Zero the per-row gradient sums. */
  private def clearSums(p: Packed, sc: Scratch): Unit = {
    java.util.Arrays.fill(sc.gwx1, 0, p.u1, 0.0)
    java.util.Arrays.fill(sc.gb1, 0, p.u1, 0.0)
    java.util.Arrays.fill(sc.gb2, 0, p.u2, 0.0)
    zeroRows(sc.gwh1, 0, p.u1, p.u1)
    zeroRows(sc.gwx2, 0, p.u2, p.u1)
    zeroRows(sc.gwh2, 0, p.u2, p.u2)
  }

  /** Timestep `t`'s share of the gradient sums (sum over t): the dz row
    * and the state rows it multiplies are contiguous 0-based slices, so
    * every weight-gradient loop is a daxpy over the per-row sums; per
    * element the adds land t-ascending. */
  private def gradStep(s: Sample, p: Packed, sc: Scratch, t: Int): Unit = {
    val u1 = p.u1; val u2 = p.u2
    val h1p = sc.h1p; val a1c = sc.a1c; val h2p = sc.h2p
    val dzr1 = sc.dzr1; val dzr2 = sc.dzr2
    System.arraycopy(sc.h1, (t - 1) * u1, h1p, 0, u1)
    System.arraycopy(sc.a1, t * u1, a1c, 0, u1)
    System.arraycopy(sc.h2, (t - 1) * u2, h2p, 0, u2)
    System.arraycopy(sc.dz1, t * u1, dzr1, 0, u1)
    System.arraycopy(sc.dz2, t * u2, dzr2, 0, u2)
    axpy(sc.gwx1, s.x(t - 1), dzr1, u1)
    vadd(sc.gb1, dzr1, u1)
    rank1Rows(sc.gwh1, 0, dzr1, u1, h1p, u1)
    vadd(sc.gb2, dzr2, u2)
    rank1Rows(sc.gwx2, 0, dzr2, u2, a1c, u1)
    rank1Rows(sc.gwh2, 0, dzr2, u2, h2p, u2)
  }

  /** Each finished per-row sum lands in `g` as ONE add (the dot form's
    * behavior), then the head's gradients. */
  private def flush(p: Packed, sc: Scratch, g: Array[Double]): Unit = {
    val u1 = p.u1; val u2 = p.u2
    gadd(g, p.wx1Off, sc.gwx1, u1)
    gadd(g, p.b1Off, sc.gb1, u1)
    flushRows(g, p.wh1Off, sc.gwh1, 0, u1, u1)
    gadd(g, p.b2Off, sc.gb2, u2)
    flushRows(g, p.wx2Off, sc.gwx2, 0, u2, u1)
    flushRows(g, p.wh2Off, sc.gwh2, 0, u2, u2)
    denseGrad(g, p.w3Off, p.b3Off, sc.dzo, p.kc, sc.a2, u2)
  }

  /** The stacked SimpleRNN kernel; `dropout` is the rate after each
    * recurrent layer. */
  final case class Kernel(dropout: Double = 0.0)
      extends TrainerCommon.Kernel[W, G] {
    type P = Packed
    def drops: Seq[Double] = Seq(dropout)
    def pack(w: W, T: Int): Packed = new Packed(w, T)
    def accumulate(s: Sample, p: Packed, epoch: Int,
        g: Array[Double]): Unit =
      WideRnn2.accumulate(s, p, epoch, dropout, g)
    def grads(p: Packed, g: Array[Double], n: Double): G = {
      val u1 = p.u1; val u2 = p.u2
      G(
        Seq.tabulate(u1)(u => g(p.wx1Off + u) / n),
        Seq.tabulate(u1, u1)((u, v) => g(p.wh1Off + u * u1 + v) / n),
        Seq.tabulate(u1)(u => g(p.b1Off + u) / n),
        Seq.tabulate(u2, u1)((u, v) => g(p.wx2Off + u * u1 + v) / n),
        Seq.tabulate(u2, u2)((u, v) => g(p.wh2Off + u * u2 + v) / n),
        Seq.tabulate(u2)(u => g(p.b2Off + u) / n),
        Seq.tabulate(p.kc, u2)((o, u) => g(p.w3Off + o * u2 + u) / n),
        Seq.tabulate(p.kc)(o => g(p.b3Off + o) / n),
        g(p.statsOff) / n)
    }
  }
}
