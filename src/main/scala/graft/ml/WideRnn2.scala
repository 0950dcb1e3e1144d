package graft.ml

/** Reference-WIDTH execution path for the SimpleRNN trainers at any
  * depth: a stack of relu SimpleRNN layers, each but the last returning
  * its full sequence through Dropout, then Dropout on the last layer's
  * h_T and a softmax head. [[Rnn2Trainer]] is the two-layer form
  * (`models/rnn_model.py:19-26`: SimpleRNN(64) → SimpleRNN(128)),
  * [[RnnTrainer]] the one-layer form through the [[WideRnn]] bridge.
  * The same stacked-BPTT math as per-partition imperative accumulation
  * + one O(params) treeAggregate per epoch (see WideNet for the
  * representation rationale).
  *
  * DEPTH-GENERIC CONTRACT: the layer list is read from the packed
  * weights, and every depth keeps the staged trainers' numbers. Layer 1
  * reads its scalar input as a width-1 vector (`acc = b; acc += x * w`
  * is the double `x * w + b`). Dropout masks are seeded by a running
  * unit offset: a non-final layer l at step t uses
  * `Σ_{j<l} T·u_j + (t-1)·u_l + u`, the head `Σ_{non-final} T·u_j + u`
  * — (t-1)*u1+u and T*u1+u at depth 2, u at depth 1. WideRnn2Spec and
  * WideSinglesSpec pin gradient-for-gradient equivalence against the
  * staged trainers, dropout masks and the val slice included;
  * WideKernelBitsSpec pins both depths' buffers bit for bit.
  */
object WideRnn2 {
  import Rnn2Trainer.{W, G}
  import TrainerCommon.Sample
  import WideNet.{axpy, denseDot, denseGrad, dropMaskLocal, flushRows,
    gadd, layerRows, matvecRows, meanMat, meanVec, rank1Rows, rowsOf,
    softmaxCE, vadd, zeroRows}

  /** Packed weights of `b.length` layers — `wx(l)` (u)*in+v with in = 1
    * for layer 1, `wh(l)` (u)*u+v, `b(l)` — and the head `w3` (o)*uL+v,
    * `b3`, as 0-based rows (see WideNet.Packed): transposed for the
    * forward daxpy, natural for the backward one. Same doubles, same
    * arithmetic. */
  private[ml] final class Packed(wx: Array[Array[Double]],
      wh: Array[Array[Double]], val b: Array[Array[Double]],
      val w3: Array[Double], val b3: Array[Double], val T: Int)
      extends TrainerCommon.Packed {
    val L: Int = b.length
    val us: Array[Int] = b.map(_.length)
    val ins: Array[Int] = 1 +: us.init
    val kc: Int = b3.length
    val uL: Int = us(L - 1)
    /** Σ_{j<l} u_j: layer l's mask-unit offset is T times this. */
    val cum: Array[Int] = us.scanLeft(0)(_ + _)
    val wxTRows: Array[Array[Array[Double]]] =     // (l)(v)(u)
      layerRows(wx, 1, us, ins, transposed = true)
    val wxRows: Array[Array[Array[Double]]] =      // (l)(u)(v)
      layerRows(wx, 1, us, ins, transposed = false)
    val whTRows: Array[Array[Array[Double]]] =
      layerRows(wh, 1, us, us, transposed = true)
    val whRows: Array[Array[Array[Double]]] =
      layerRows(wh, 1, us, us, transposed = false)
    val w3Rows: Array[Array[Double]] = rowsOf(w3, kc, uL)
    // gradient buffer: per layer wx, wh, b; then w3, b3 and the
    // driver's stats tail
    val wxOff: Array[Int] = new Array[Int](L)
    val whOff: Array[Int] = new Array[Int](L)
    val bOff: Array[Int] = new Array[Int](L)
    val w3Off: Int = {
      var acc = 0; var l = 0
      while (l < L) {
        wxOff(l) = acc; acc += us(l) * ins(l)
        whOff(l) = acc; acc += us(l) * us(l)
        bOff(l) = acc; acc += us(l)
        l += 1
      }
      acc
    }
    val b3Off: Int = w3Off + kc * uL
    val statsOff: Int = b3Off + kc
  }

  /** The work arrays of [[accumulate]] for rows of up to `p.T` steps,
    * made once per task: loops run to the row's own T, and every cell
    * they read is written earlier in the same row except the t = 0
    * state rows, which no code path writes — they stay zero from
    * allocation. */
  private[ml] final class Scratch(p: Packed) {
    private val us = p.us
    private def perLayer(n: Int) = us.map(u => new Array[Double](n * u))
    // h, and the non-final layers' masks and masked outputs (the next
    // layer's input): (l)(t*u+i)
    val h, m, a: Array[Array[Double]] = perLayer(p.T + 1)
    val dz: Array[Array[Double]] = perLayer(p.T + 2)
    val mH, aH = new Array[Double](p.uL)
    val z3, dzo = new Array[Double](p.kc)
    // 0-based daxpy operands (see Packed)
    private val um = us.max
    val acc, hp, ain, dzr = new Array[Double](um)
    // per-row gradient sums, added into `g` ONCE when finished (the dot
    // form adds each element's complete over-t sum once); layer 1's
    // wx sum is one row of u1
    val gwx: Array[Array[Array[Double]]] = Array.tabulate(us.length)(l =>
      if (l == 0) Array(new Array[Double](us(0)))
      else Array.fill(us(l))(new Array[Double](us(l - 1))))
    val gwh: Array[Array[Array[Double]]] =
      us.map(u => Array.fill(u)(new Array[Double](u)))
    val gb: Array[Array[Double]] = perLayer(1)
  }

  /** One row's stacked-BPTT contribution — line for line the staged
    * columns of [[Rnn2Trainer.gradientsVal]] (and at depth 1 of
    * [[RnnTrainer.gradientsVal]]). Flat layouts, transposed reads and
    * 0-based daxpy rows; every accumulator's add order is the
    * historical one, so the output is bit-identical (the WideLstm2
    * rationale). A short driver over per-timestep, per-layer forward,
    * backward and gradient steps, each compiled within the first rows
    * of a cold fit (the WideNet.accumulate note; WideKernelShapeSpec). */
  private[ml] def accumulate(s: Sample, p: Packed, sc: Scratch,
      epoch: Int, dropout: Double, g: Array[Double]): Unit = {
    val T = s.x.length
    var t = 1
    while (t <= T) {
      var l = 0
      while (l < p.L) { forward(s, p, sc, l, t, T, epoch, dropout); l += 1 }
      t += 1
    }
    val loss = head(s, p, sc, T, epoch, dropout)
    if (s.iv) {
      g(p.statsOff + 2) += loss; g(p.statsOff + 3) += 1.0
      return
    }
    g(p.statsOff) += loss; g(p.statsOff + 1) += 1.0
    t = T
    while (t >= 1) {
      var l = p.L - 1
      while (l >= 0) { backward(p, sc, l, t, T); l -= 1 }
      t -= 1
    }
    clearSums(p, sc)
    t = 1
    while (t <= T) {
      var l = 0
      while (l < p.L) { gradStep(s, p, sc, l, t); l += 1 }
      t += 1
    }
    flush(p, sc, g)
  }

  /** Layer `l` at timestep `t`, then (non-final layers) its dropout.
    * Pre-activations accumulate v-major as daxpy over 0-based rows: per
    * unit the adds land from the bias — the input part, then the
    * recurrent part, v ascending — the dot form's exact order, with the
    * INDEPENDENT unit index as the vector dimension, the one shape
    * SuperWord vectorizes (WideNet.Packed's note). */
  private def forward(s: Sample, p: Packed, sc: Scratch, l: Int, t: Int,
      T: Int, epoch: Int, dropout: Double): Unit = {
    val u = p.us(l); val n = p.ins(l); val acc = sc.acc; val h = sc.h(l)
    System.arraycopy(p.b(l), 0, acc, 0, u)
    matvecRows(acc, if (l == 0) s.x else sc.a(l - 1),
      if (l == 0) t - 1 else t * n, p.wxTRows(l), 0, n, u)
    matvecRows(acc, h, (t - 1) * u, p.whTRows(l), 0, u, u)
    val rp = t * u
    val masked = l < p.L - 1
    val mo = T * p.cum(l) + (t - 1) * u
    val m = sc.m(l); val a = sc.a(l)
    var i = 0
    while (i < u) {
      val av = acc(i)
      h(rp + i) = if (av > 0) av else 0.0
      if (masked) {
        m(rp + i) = dropMaskLocal(s.iv, s.rk, epoch, mo + i, dropout)
        a(rp + i) = h(rp + i) * m(rp + i)
      }
      i += 1
    }
  }

  /** Dropped h_T of the last layer -> softmax head; returns the row's
    * loss and leaves the logit gradient in `dzo`. */
  private def head(s: Sample, p: Packed, sc: Scratch, T: Int,
      epoch: Int, dropout: Double): Double = {
    val uL = p.uL; val hL = sc.h(p.L - 1)
    val mo = T * p.cum(p.L - 1)
    var u = 0
    while (u < uL) {
      sc.mH(u) = dropMaskLocal(s.iv, s.rk, epoch, mo + u, dropout)
      sc.aH(u) = hL(T * uL + u) * sc.mH(u); u += 1
    }
    denseDot(sc.z3, p.b3, p.w3, sc.aH, uL, p.kc)
    softmaxCE(sc.z3, p.kc, s.y, sc.dzo)
  }

  /** dz of layer `l` at timestep `t`, reading layer l+1's dz at t (or
    * the head at T) and this layer's at t+1. dh runs as v-major daxpy
    * over natural rows: per unit the adds land from 0.0 — the upper
    * part, then its dropout mask, then the recurrent part, v ascending —
    * the dot form's order. */
  private def backward(p: Packed, sc: Scratch, l: Int, t: Int,
      T: Int): Unit = {
    val u = p.us(l); val acc = sc.acc
    val rp = t * u
    java.util.Arrays.fill(acc, 0, u, 0.0)
    if (l < p.L - 1) {
      val n = p.us(l + 1)
      matvecRows(acc, sc.dz(l + 1), t * n, p.wxRows(l + 1), 0, n, u)
      val m = sc.m(l)
      var i = 0
      while (i < u) { acc(i) *= m(rp + i); i += 1 }
    } else if (t == T) {
      matvecRows(acc, sc.dzo, 0, p.w3Rows, 0, p.kc, u)
      var i = 0
      while (i < u) { acc(i) *= sc.mH(i); i += 1 }
    }
    if (t < T) matvecRows(acc, sc.dz(l), (t + 1) * u, p.whRows(l), 0, u, u)
    val h = sc.h(l); val dz = sc.dz(l)
    var i = 0
    while (i < u) {
      dz(rp + i) = acc(i) * (if (h(rp + i) > 0) 1.0 else 0.0); i += 1
    }
  }

  /** Zero the per-row gradient sums. */
  private def clearSums(p: Packed, sc: Scratch): Unit = {
    var l = 0
    while (l < p.L) {
      val u = p.us(l); val gwx = sc.gwx(l)
      zeroRows(gwx, 0, gwx.length, gwx(0).length)
      zeroRows(sc.gwh(l), 0, u, u)
      java.util.Arrays.fill(sc.gb(l), 0.0)
      l += 1
    }
  }

  /** Layer `l`'s timestep-`t` share of the gradient sums: the dz row and
    * the rows it multiplies are contiguous 0-based slices, so every
    * weight-gradient loop is a daxpy over the per-row sums; per element
    * the adds land t-ascending. */
  private def gradStep(s: Sample, p: Packed, sc: Scratch, l: Int,
      t: Int): Unit = {
    val u = p.us(l); val dzr = sc.dzr; val hp = sc.hp
    System.arraycopy(sc.dz(l), t * u, dzr, 0, u)
    System.arraycopy(sc.h(l), (t - 1) * u, hp, 0, u)
    if (l == 0) axpy(sc.gwx(0)(0), s.x(t - 1), dzr, u)
    else {
      val n = p.ins(l)
      System.arraycopy(sc.a(l - 1), t * n, sc.ain, 0, n)
      rank1Rows(sc.gwx(l), 0, dzr, u, sc.ain, n)
    }
    vadd(sc.gb(l), dzr, u)
    rank1Rows(sc.gwh(l), 0, dzr, u, hp, u)
  }

  /** Each finished per-row sum lands in `g` as ONE add (the dot form's
    * behavior), then the head's gradients. */
  private def flush(p: Packed, sc: Scratch, g: Array[Double]): Unit = {
    var l = 0
    while (l < p.L) {
      val u = p.us(l); val gwx = sc.gwx(l)
      flushRows(g, p.wxOff(l), gwx, 0, gwx.length, gwx(0).length)
      flushRows(g, p.whOff(l), sc.gwh(l), 0, u, u)
      gadd(g, p.bOff(l), sc.gb(l), u)
      l += 1
    }
    denseGrad(g, p.w3Off, p.b3Off, sc.dzo, p.kc, sc.aH, p.uL)
  }

  /** The stacked SimpleRNN kernel; `dropout` is the rate after each
    * recurrent layer. */
  final case class Kernel(dropout: Double = 0.0)
      extends TrainerCommon.Kernel[W, G] {
    type P = Packed
    type S = Scratch
    def drops: Seq[Double] = Seq(dropout)
    def pack(w: W, T: Int): Packed = new Packed(
      Array(w.wx1.toArray, w.wx2.flatten.toArray),
      Array(w.wh1.flatten.toArray, w.wh2.flatten.toArray),
      Array(w.b1.toArray, w.b2.toArray), w.w3.flatten.toArray, w.b3.toArray,
      T)
    def scratch(p: Packed): Scratch = new Scratch(p)
    def accumulate(s: Sample, p: Packed, sc: Scratch, epoch: Int,
        g: Array[Double]): Unit =
      WideRnn2.accumulate(s, p, sc, epoch, dropout, g)
    def grads(p: Packed, g: Array[Double], n: Double): G = {
      val u1 = p.us(0); val u2 = p.us(1)
      G(meanVec(g, p.wxOff(0), u1, n), meanMat(g, p.whOff(0), u1, u1, n),
        meanVec(g, p.bOff(0), u1, n), meanMat(g, p.wxOff(1), u2, u1, n),
        meanMat(g, p.whOff(1), u2, u2, n), meanVec(g, p.bOff(1), u2, n),
        meanMat(g, p.w3Off, p.kc, u2, n), meanVec(g, p.b3Off, p.kc, n),
        g(p.statsOff) / n)
    }
  }
}
