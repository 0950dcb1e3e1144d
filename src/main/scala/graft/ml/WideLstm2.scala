package graft.ml

/** Reference-WIDTH execution path for the LSTM trainers at any depth —
  * the gated twin of [[WideRnn2]] (see [[WideNet]] for the full
  * rationale): a stack of LSTM layers, each but the last returning its
  * full sequence through Dropout, then Dropout on the last layer's h_T,
  * zero or one relu Dense layer and a softmax head. [[Lstm2Trainer]] is
  * the two-layer form with its Dense (`models/lstm_model.py:19-26`:
  * LSTM(64) → LSTM(128) → Dense(64)), [[LstmTrainer]] the one-layer
  * form with none through the [[WideLstm]] bridge. The staged-expression
  * stack is the oracle-checkable representation at fixture widths, but
  * its plan grows as O((u1 + u2)^2) expression nodes; the reference's
  * real widths need the treeAggregate shape — per-partition imperative
  * gated BPTT over typed rows, weights broadcast, one O(params)
  * reduction per epoch.
  *
  * DEPTH-GENERIC CONTRACT: the layer list (LSTM widths, Dense width or
  * none) is read from the packed weights, and every depth keeps the
  * staged trainers' numbers — gradients, losses, early-stop
  * trajectories. Layer 1 reads its scalar input as a width-1 vector
  * (`acc = b; acc += x * w` is the double `x * w + b`). Dropout masks
  * ([[TrainerCommon.dropMask]] replayed via [[WideNet]]'s XXH64 twin)
  * are seeded by a running unit offset: a non-final layer l at step t
  * uses `Σ_{j<l} T·u_j + (t-1)·u_l + u`, the head
  * `Σ_{non-final} T·u_j + u` — (t-1)*u1+u and T*u1+u at depth 2, u at
  * depth 1. WideLstm2Spec and WideSinglesSpec pin the equivalence
  * tensor for tensor; WideKernelBitsSpec pins both depths' buffers bit
  * for bit.
  */
object WideLstm2 {
  import Lstm2Trainer.{W, G, Gate1, Gate2}
  import TrainerCommon.Sample
  import WideNet.{axpy, denseDot, denseGrad, dropMaskLocal, flushRows,
    gadd, layerRows, matvecRows, meanMat, meanVec, rank1Rows, rowsOf,
    rowsT, softmaxCE, vadd, zeroRows}

  private val Gates = Array("i", "f", "g", "o")

  /** One gate field of every gate, concatenated in i/f/g/o order. A
    * method rather than a lambda over the weight tree: a closure over
    * the tree inside [[Packed]] would make scalac keep it as a field,
    * and every broadcast would ship it. */
  private def gateMajor[G](gates: Map[String, G])(
      f: G => Seq[Double]): Array[Double] =
    Gates.flatMap(x => f(gates(x)))

  /** Packed weights of `b.length` LSTM layers, gate-major in i/f/g/o
    * order — `wx(l)` ((x)*u+u')*in+v with in = 1 for layer 1, `uu(l)`
    * ((x)*u+u')*u+v, `b(l)` (x)*u+u' — then the Dense `wd` (j)*uL+v,
    * `bd` (empty: no Dense layer) and the head `w3` (o)*hin+j, `b3`, as
    * 0-based rows (see WideNet.Packed): transposed for the forward
    * daxpy, natural for the backward one. Same doubles, same arithmetic
    * — layout only. The gradient buffer mirrors the weights: per layer
    * the four gates' wx, then uu, then b; with `gateBlocks` one
    * [wx, uu, b] block per gate instead (the single-layer
    * [[LstmTrainer]] order). */
  private[ml] final class Packed(wx: Array[Array[Double]],
      uu: Array[Array[Double]], b: Array[Array[Double]], wd: Array[Double],
      val bd: Array[Double], val w3: Array[Double], val b3: Array[Double],
      gateBlocks: Boolean, val T: Int)
      extends TrainerCommon.Packed {
    val L: Int = b.length
    val us: Array[Int] = b.map(_.length / 4)
    val ins: Array[Int] = 1 +: us.init
    val d: Int = bd.length
    val kc: Int = b3.length
    val uL: Int = us(L - 1)
    val hin: Int = if (d > 0) d else uL              // the head's input
    /** Σ_{j<l} u_j: layer l's mask-unit offset is T times this. */
    val cum: Array[Int] = us.scanLeft(0)(_ + _)
    val bR: Array[Array[Array[Double]]] =            // (l)(x)(u)
      layerRows(b, 4, Array.fill(L)(1), us, transposed = false)
    val wxTRows: Array[Array[Array[Double]]] =       // (l)(x*in+v)(u)
      layerRows(wx, 4, us, ins, transposed = true)
    val wxRows: Array[Array[Array[Double]]] =        // (l)(x*u+u')(v)
      layerRows(wx, 4, us, ins, transposed = false)
    val uuTRows: Array[Array[Array[Double]]] =
      layerRows(uu, 4, us, us, transposed = true)
    val uuRows: Array[Array[Array[Double]]] =
      layerRows(uu, 4, us, us, transposed = false)
    val wdTRows: Array[Array[Double]] = rowsT(wd, 1, d, uL)  // (v)(j)
    val wdRows: Array[Array[Double]] = rowsOf(wd, d, uL)     // (j)(v)
    val w3Rows: Array[Array[Double]] = rowsOf(w3, kc, hin)   // (o)(j)
    val wxOff: Array[Array[Int]] = Array.ofDim[Int](L, 4)
    val uuOff: Array[Array[Int]] = Array.ofDim[Int](L, 4)
    val bOff: Array[Array[Int]] = Array.ofDim[Int](L, 4)
    val wdOff: Int = {
      var acc = 0; var l = 0
      while (l < L) {
        val nx = us(l) * ins(l); val nu = us(l) * us(l); val nb = us(l)
        var x = 0
        while (x < 4) {
          if (gateBlocks) {
            wxOff(l)(x) = acc + x * (nx + nu + nb)
            uuOff(l)(x) = wxOff(l)(x) + nx; bOff(l)(x) = uuOff(l)(x) + nu
          } else {
            wxOff(l)(x) = acc + x * nx; uuOff(l)(x) = acc + 4 * nx + x * nu
            bOff(l)(x) = acc + 4 * (nx + nu) + x * nb
          }
          x += 1
        }
        acc += 4 * (nx + nu + nb); l += 1
      }
      acc
    }
    val bdOff: Int = wdOff + d * uL
    val w3Off: Int = bdOff + d
    val b3Off: Int = w3Off + kc * hin
    val statsOff: Int = b3Off + kc
  }

  private def sigm(z: Double): Double = 1.0 / (1.0 + math.exp(-z))

  /** The work arrays of [[accumulate]] for rows of up to `p.T` steps —
    * about 1.1 MB of state/gradient arrays at q76's widths, made once
    * per task instead of allocated and zeroed per row. Loops run to the
    * row's own T, and every cell they read is written earlier in the
    * same row EXCEPT the t = 0 state rows (zero init = zero h/c state),
    * which no code path ever writes — so they stay zero from the
    * initial allocation. */
  private[ml] final class Scratch(p: Packed) {
    private val us = p.us
    private def perLayer(n: Int) = us.map(u => new Array[Double](n * u))
    // gates, cell, tanh(cell), h, and the non-final layers' masks and
    // masked outputs: (l)(t*u+i)
    val i, f, gg, o, c, tc, h, m, a: Array[Array[Double]] = perLayer(p.T + 1)
    val dz: Array[Array[Double]] = perLayer(4 * (p.T + 1)) // ((x)*(T+1)+t)*u+i
    val dc: Array[Array[Double]] = perLayer(p.T + 2)
    val mH, aH = new Array[Double](p.uL)
    val zd, ad, dzd = new Array[Double](p.d)
    val z3, dzo = new Array[Double](p.kc)
    // 0-based daxpy operands (see Packed)
    private val um = us.max
    val accs: Array[Array[Double]] =       // gate accumulators, i/f/g/o
      Array.fill(4)(new Array[Double](um))
    val bacc, hp, ain, dzr = new Array[Double](um)
    // per-row gradient sums, added into `g` ONCE when finished (the dot
    // form adds each element's complete over-t sum once); layer 1's wx
    // sums are one row of u1 per gate
    val gwx: Array[Array[Array[Double]]] = Array.tabulate(us.length)(l =>
      if (l == 0) Array.fill(4)(new Array[Double](us(0)))
      else Array.fill(4 * us(l))(new Array[Double](us(l - 1))))
    val guu: Array[Array[Array[Double]]] =
      us.map(u => Array.fill(4 * u)(new Array[Double](u)))
    val gb: Array[Array[Array[Double]]] =
      us.map(u => Array.fill(4)(new Array[Double](u)))
  }

  /** One row's contribution — line for line the staged columns of
    * [[Lstm2Trainer.gradientsVal]] (and at depth 1 of
    * [[LstmTrainer.gradients]]). Every accumulator's ADD ORDER is the
    * historical one (flat/transposed layouts change where a double
    * lives, never the sequence of additions into any sum), so gradients
    * and losses are bit-identical to the nested-array form. A short
    * driver over per-timestep, per-layer forward and backward steps and
    * a per-timestep gradient step, each compiled within the first rows
    * of a cold fit (the WideNet.accumulate note; WideKernelShapeSpec).
    * Forward state is flat (t)*u+i with t in 1..T; the t = 0 rows are
    * the zero init (see Scratch's reuse contract). */
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
    if (p.d > 0) denseBack(p, sc)
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
      while (l < p.L) { gradStep(s, p, sc, l, t, T); l += 1 }
      t += 1
    }
    flush(p, sc, g)
  }

  /** The gate cell of layer `l` (width `n`) at timestep `t` from the four
    * gate pre-activations in `sc.accs`: writes i/f/g/o, c, tanh(c) and
    * h at row `t`. */
  private def cell(sc: Scratch, l: Int, n: Int, t: Int): Unit = {
    val ai = sc.accs(0); val af = sc.accs(1)
    val ag = sc.accs(2); val ao = sc.accs(3)
    val i = sc.i(l); val f = sc.f(l); val gg = sc.gg(l); val o = sc.o(l)
    val c = sc.c(l); val tc = sc.tc(l); val h = sc.h(l)
    val rp = t * n; val rm = (t - 1) * n
    var u = 0
    while (u < n) {
      i(rp + u) = sigm(ai(u)); f(rp + u) = sigm(af(u))
      gg(rp + u) = math.tanh(ag(u)); o(rp + u) = sigm(ao(u))
      c(rp + u) = f(rp + u) * c(rm + u) + i(rp + u) * gg(rp + u)
      tc(rp + u) = math.tanh(c(rp + u))
      h(rp + u) = o(rp + u) * tc(rp + u)
      u += 1
    }
  }

  /** Layer `l` at timestep `t`, then (non-final layers) its dropout. Per
    * gate the pre-activations accumulate v-major as daxpy over 0-based
    * rows: per accumulator (gate, u) the adds land from the bias — the
    * input part, then the recurrent part, v ascending — the dot form's
    * exact order, with the INDEPENDENT unit index u as the vector
    * dimension, the one shape SuperWord vectorizes (see Packed). */
  private def forward(s: Sample, p: Packed, sc: Scratch, l: Int, t: Int,
      T: Int, epoch: Int, dropout: Double): Unit = {
    val u = p.us(l); val n = p.ins(l)
    val in = if (l == 0) s.x else sc.a(l - 1)
    val inOff = if (l == 0) t - 1 else t * n
    var x = 0
    while (x < 4) {
      val acc = sc.accs(x)
      System.arraycopy(p.bR(l)(x), 0, acc, 0, u)
      matvecRows(acc, in, inOff, p.wxTRows(l), x * n, n, u)
      matvecRows(acc, sc.h(l), (t - 1) * u, p.uuTRows(l), x * u, u, u)
      x += 1
    }
    cell(sc, l, u, t)
    if (l < p.L - 1) {
      val rp = t * u; val mo = T * p.cum(l) + (t - 1) * u
      val h = sc.h(l); val m = sc.m(l); val a = sc.a(l)
      var i = 0
      while (i < u) {
        m(rp + i) = dropMaskLocal(s.iv, s.rk, epoch, mo + i, dropout)
        a(rp + i) = h(rp + i) * m(rp + i)
        i += 1
      }
    }
  }

  /** Dropped h_T of the last layer -> relu Dense (if any) -> softmax;
    * returns the row's loss and leaves the logit gradient in `dzo`. */
  private def head(s: Sample, p: Packed, sc: Scratch, T: Int,
      epoch: Int, dropout: Double): Double = {
    val uL = p.uL; val hL = sc.h(p.L - 1)
    val mo = T * p.cum(p.L - 1)
    var u = 0
    while (u < uL) {
      sc.mH(u) = dropMaskLocal(s.iv, s.rk, epoch, mo + u, dropout)
      sc.aH(u) = hL(T * uL + u) * sc.mH(u); u += 1
    }
    if (p.d > 0) {
      System.arraycopy(p.bd, 0, sc.zd, 0, p.d)
      matvecRows(sc.zd, sc.aH, 0, p.wdTRows, 0, uL, p.d)
      var j = 0
      while (j < p.d) { sc.ad(j) = if (sc.zd(j) > 0) sc.zd(j) else 0.0; j += 1 }
      denseDot(sc.z3, p.b3, p.w3, sc.ad, p.d, p.kc)
    } else denseDot(sc.z3, p.b3, p.w3, sc.aH, uL, p.kc)
    softmaxCE(sc.z3, p.kc, s.y, sc.dzo)
  }

  /** The Dense layer's delta: the head rows o ascending from 0.0 (the
    * dot form's order), through the relu. */
  private def denseBack(p: Packed, sc: Scratch): Unit = {
    java.util.Arrays.fill(sc.dzd, 0.0)
    matvecRows(sc.dzd, sc.dzo, 0, p.w3Rows, 0, p.kc, p.d)
    var j = 0
    while (j < p.d) {
      sc.dzd(j) = sc.dzd(j) * (if (sc.zd(j) > 0) 1.0 else 0.0); j += 1
    }
  }

  /** Back through layer `l`'s gate cell at timestep `t` given the
    * upstream dh in `dh(0 until n)`: writes dc at row t and the four
    * gate gradients into `dz` (flat ((x)*(T+1)+t)*n+u). Reads only this
    * t's state and the t+1 dc/f rows. */
  private def cellBack(dh: Array[Double], sc: Scratch, l: Int, n: Int,
      t: Int, T: Int): Unit = {
    val i = sc.i(l); val f = sc.f(l); val gg = sc.gg(l); val o = sc.o(l)
    val c = sc.c(l); val tc = sc.tc(l); val dc = sc.dc(l); val dz = sc.dz(l)
    val rp = t * n; val rm = (t - 1) * n; val rn = (t + 1) * n
    var u = 0
    while (u < n) {
      val dhu = dh(u)
      val local = dhu * o(rp + u) * (1.0 - tc(rp + u) * tc(rp + u))
      val dcu = if (t == T) local else local + dc(rn + u) * f(rn + u)
      dc(rp + u) = dcu
      dz((0 * (T + 1) + t) * n + u) =
        dcu * gg(rp + u) * i(rp + u) * (1.0 - i(rp + u))
      dz((1 * (T + 1) + t) * n + u) =
        dcu * c(rm + u) * f(rp + u) * (1.0 - f(rp + u))
      dz((2 * (T + 1) + t) * n + u) =
        dcu * i(rp + u) * (1.0 - gg(rp + u) * gg(rp + u))
      dz((3 * (T + 1) + t) * n + u) =
        dhu * tc(rp + u) * o(rp + u) * (1.0 - o(rp + u))
      u += 1
    }
  }

  /** Layer `l` at timestep `t`: dh as daxpy over 0-based natural rows;
    * per unit the adds land from 0.0 in the dot form's order — the
    * upper part (layer l+1's gate gradients at t, gate x then v
    * ascending, then this layer's mask; or at T the Dense rows j
    * ascending, or without a Dense the head rows, then the head mask),
    * then the recurrent part (gate x then v ascending over the t+1
    * gate gradients). */
  private def backward(p: Packed, sc: Scratch, l: Int, t: Int,
      T: Int): Unit = {
    val u = p.us(l); val acc = sc.bacc
    val rp = t * u
    java.util.Arrays.fill(acc, 0, u, 0.0)
    if (l < p.L - 1) {
      val n = p.us(l + 1)
      var x = 0
      while (x < 4) {
        matvecRows(acc, sc.dz(l + 1), (x * (T + 1) + t) * n, p.wxRows(l + 1),
          x * n, n, u)
        x += 1
      }
      val m = sc.m(l)
      var i = 0
      while (i < u) { acc(i) *= m(rp + i); i += 1 }
    } else if (t == T) {
      if (p.d > 0) matvecRows(acc, sc.dzd, 0, p.wdRows, 0, p.d, u)
      else matvecRows(acc, sc.dzo, 0, p.w3Rows, 0, p.kc, u)
      var i = 0
      while (i < u) { acc(i) *= sc.mH(i); i += 1 }
    }
    if (t < T) {
      var x = 0
      while (x < 4) {
        matvecRows(acc, sc.dz(l), (x * (T + 1) + t + 1) * u, p.uuRows(l),
          x * u, u, u)
        x += 1
      }
    }
    cellBack(acc, sc, l, u, t, T)
  }

  /** Zero the per-row gradient sums. */
  private def clearSums(p: Packed, sc: Scratch): Unit = {
    var l = 0
    while (l < p.L) {
      val u = p.us(l); val gwx = sc.gwx(l)
      zeroRows(gwx, 0, gwx.length, gwx(0).length)
      zeroRows(sc.gb(l), 0, 4, u)
      zeroRows(sc.guu(l), 0, 4 * u, u)
      l += 1
    }
  }

  /** Layer `l`'s timestep-`t` share of the gradient sums (sum over t;
    * the mean over rows happens at the end): per t the dz row and the
    * rows it multiplies are contiguous 0-based slices, so every
    * weight-gradient loop is a daxpy over the per-row sums; per element
    * the adds land t-ascending. */
  private def gradStep(s: Sample, p: Packed, sc: Scratch, l: Int, t: Int,
      T: Int): Unit = {
    val u = p.us(l); val n = p.ins(l); val dzr = sc.dzr
    System.arraycopy(sc.h(l), (t - 1) * u, sc.hp, 0, u)
    if (l > 0) System.arraycopy(sc.a(l - 1), t * n, sc.ain, 0, n)
    var x = 0
    while (x < 4) {
      System.arraycopy(sc.dz(l), (x * (T + 1) + t) * u, dzr, 0, u)
      if (l == 0) axpy(sc.gwx(0)(x), s.x(t - 1), dzr, u)
      else rank1Rows(sc.gwx(l), x * u, dzr, u, sc.ain, n)
      vadd(sc.gb(l)(x), dzr, u)
      rank1Rows(sc.guu(l), x * u, dzr, u, sc.hp, u)
      x += 1
    }
  }

  /** Each finished per-row sum lands in `g` as ONE add (the dot form's
    * behavior), gate by gate, then the Dense and head gradients. */
  private def flush(p: Packed, sc: Scratch, g: Array[Double]): Unit = {
    var l = 0
    while (l < p.L) {
      val u = p.us(l); val gwx = sc.gwx(l)
      val wr = gwx.length / 4                // wx sum rows per gate
      var x = 0
      while (x < 4) {
        flushRows(g, p.wxOff(l)(x), gwx, x * wr, wr, gwx(0).length)
        flushRows(g, p.uuOff(l)(x), sc.guu(l), x * u, u, u)
        gadd(g, p.bOff(l)(x), sc.gb(l)(x), u)
        x += 1
      }
      l += 1
    }
    if (p.d > 0) denseGrad(g, p.wdOff, p.bdOff, sc.dzd, p.d, sc.aH, p.uL)
    denseGrad(g, p.w3Off, p.b3Off, sc.dzo, p.kc,
      if (p.d > 0) sc.ad else sc.aH, p.hin)
  }

  /** The stacked LSTM kernel; `dropout` is the rate after each LSTM
    * layer. */
  final case class Kernel(dropout: Double = 0.0)
      extends TrainerCommon.Kernel[W, G] {
    type P = Packed
    type S = Scratch
    def drops: Seq[Double] = Seq(dropout)
    def pack(w: W, T: Int): Packed = new Packed(
      Array(gateMajor(w.l1)(_.wx), gateMajor(w.l2)(_.wx.flatten)),
      Array(gateMajor(w.l1)(_.u.flatten), gateMajor(w.l2)(_.u.flatten)),
      Array(gateMajor(w.l1)(_.b), gateMajor(w.l2)(_.b)),
      w.wd.flatten.toArray, w.bd.toArray, w.w3.flatten.toArray,
      w.b3.toArray, gateBlocks = false, T)
    def scratch(p: Packed): Scratch = new Scratch(p)
    def accumulate(s: Sample, p: Packed, sc: Scratch, epoch: Int,
        g: Array[Double]): Unit =
      WideLstm2.accumulate(s, p, sc, epoch, dropout, g)
    def grads(p: Packed, g: Array[Double], n: Double): G = {
      val u1 = p.us(0); val u2 = p.us(1)
      G(
        Gates.zipWithIndex.map { case (name, x) => name -> Gate1(
          meanVec(g, p.wxOff(0)(x), u1, n),
          meanMat(g, p.uuOff(0)(x), u1, u1, n),
          meanVec(g, p.bOff(0)(x), u1, n)) }.toMap,
        Gates.zipWithIndex.map { case (name, x) => name -> Gate2(
          meanMat(g, p.wxOff(1)(x), u2, u1, n),
          meanMat(g, p.uuOff(1)(x), u2, u2, n),
          meanVec(g, p.bOff(1)(x), u2, n)) }.toMap,
        meanMat(g, p.wdOff, p.d, u2, n), meanVec(g, p.bdOff, p.d, n),
        meanMat(g, p.w3Off, p.kc, p.d, n), meanVec(g, p.b3Off, p.kc, n),
        g(p.statsOff) / n)
    }
  }
}
