package graft.ml

/** Reference-WIDTH execution path for [[Lstm2Trainer]] — the stacked
  * LSTM twin of [[WideNet]] (see that file for the full rationale): the
  * staged-expression stack is the oracle-checkable representation at
  * fixture widths, but its plan grows as O((u1 + u2)^2) expression nodes
  * and the reference's real widths (`models/lstm_model.py:19-26`:
  * LSTM(64) → LSTM(128) → Dense(64)) need the treeAggregate shape —
  * per-partition imperative gated BPTT over typed rows, weights
  * broadcast, one O(params) reduction per epoch.
  *
  * EQUIVALENCE CONTRACT: gradients, losses, inter-layer and head dropout
  * masks ([[TrainerCommon.dropMask]] replayed via [[WideNet]]'s XXH64
  * twin with the same unit-index seeding: (t-1)*u1+u for the sequence
  * mask, T*u1+u for the head mask), and early-stop trajectories match
  * [[Lstm2Trainer.gradientsVal]] number for number at any tractable
  * width — WideLstm2Spec pins it tensor for tensor.
  */
object WideLstm2 {
  import Lstm2Trainer.{W, G, Gate1, Gate2}
  import TrainerCommon.Sample
  import WideNet.{axpy, backDot, denseDot, denseGrad, dropMaskLocal,
    flushRows, matvecRows, rank1Rows, softmaxCE, vadd, zeroRows}

  private val Gates = Array("i", "f", "g", "o")

  /** One gate field of every gate, concatenated in i/f/g/o order. A
    * method rather than a lambda over the constructor's weight tree: a
    * closure over `w` inside [[Packed]] would make scalac keep the boxed
    * tree as a field, and every broadcast would ship it. */
  private def gateMajor[G](gates: Map[String, G])(
      f: G => Seq[Double]): Array[Double] =
    Gates.flatMap(x => f(gates(x)))

  /** Packed weights: FLAT gate-major arrays (plus transposed copies for
    * the backward pass's column access), O(1) hot-loop access with no
    * nested-array pointer chasing — the 2-level `Array[Array[Double]]`
    * form cost the hot loop one dependent load + bounds check per
    * element and defeated cache-line streaming on the transposed reads
    * (measured ~2.5x on q76's 64/128 widths). Gate order i/f/g/o
    * throughout; same doubles, same arithmetic — layout only. */
  private[ml] final class Packed(w: W, T: Int)
      extends TrainerCommon.Packed {
    val u1: Int = w.u1
    val u2: Int = w.u2
    val d: Int = w.d
    val kc: Int = w.classes
    // layer 1: wx1((x)*u1+u), uu1(((x*u1)+u)*u1+v), b1((x)*u1+u)
    val wx1: Array[Double] = gateMajor(w.l1)(_.wx)
    val uu1: Array[Double] = gateMajor(w.l1)(_.u.flatten)
    val b1: Array[Double] = gateMajor(w.l1)(_.b)
    // layer 2: wx2(((x*u2)+u)*u1+v over u1), uu2(((x*u2)+u)*u2+v), b2
    val wx2: Array[Double] = gateMajor(w.l2)(_.wx.flatten)
    val uu2: Array[Double] = gateMajor(w.l2)(_.u.flatten)
    val b2: Array[Double] = gateMajor(w.l2)(_.b)
    val wd: Array[Double] = w.wd.flatten.toArray            // (j)*u2+v
    val bd: Array[Double] = w.bd.toArray
    val w3: Array[Double] = w.w3.flatten.toArray            // (o)*d+j
    val b3: Array[Double] = w.b3.toArray
    // transposed copies (same values): backward reads weights by their
    // INPUT index — contiguous here where the originals are strided
    val uu1T: Array[Double] = {                 // ((x*u1)+v)*u1+u = uu1(x)(u)(v)
      val a = new Array[Double](4 * u1 * u1)
      var x = 0
      while (x < 4) {
        var u = 0
        while (u < u1) {
          var v = 0
          while (v < u1) {
            a((x * u1 + v) * u1 + u) = uu1((x * u1 + u) * u1 + v); v += 1
          }
          u += 1
        }
        x += 1
      }
      a
    }
    val uu2T: Array[Double] = {                 // ((x*u2)+v)*u2+u = uu2(x)(u)(v)
      val a = new Array[Double](4 * u2 * u2)
      var x = 0
      while (x < 4) {
        var u = 0
        while (u < u2) {
          var v = 0
          while (v < u2) {
            a((x * u2 + v) * u2 + u) = uu2((x * u2 + u) * u2 + v); v += 1
          }
          u += 1
        }
        x += 1
      }
      a
    }
    val wx2T: Array[Double] = {                 // ((x*u1)+v)*u2+u = wx2(x)(u)(v)
      val a = new Array[Double](4 * u1 * u2)
      var x = 0
      while (x < 4) {
        var u = 0
        while (u < u2) {
          var v = 0
          while (v < u1) {
            a((x * u1 + v) * u2 + u) = wx2((x * u2 + u) * u1 + v); v += 1
          }
          u += 1
        }
        x += 1
      }
      a
    }
    val wdT: Array[Double] = {                  // (v)*d+j = wd(j)(v)
      val a = new Array[Double](u2 * d)
      var j = 0
      while (j < d) {
        var v = 0
        while (v < u2) { a(v * d + j) = wd(j * u2 + v); v += 1 }
        j += 1
      }
      a
    }
    // ARRAYS-OF-ROWS views of the same weights (see WideNet.Packed):
    // every hot loop in accumulate is a daxpy over 0-BASED rows — the
    // only loop shape JDK 17's SuperWord auto-vectorizes (any
    // loop-invariant index base defeats it and the loop stays scalar).
    // Rows are contiguous slices; values and add orders are unchanged.
    private def rows(a: Array[Double], n: Int, len: Int) =
      Array.tabulate(n)(r =>
        java.util.Arrays.copyOfRange(a, r * len, (r + 1) * len))
    val wx1R: Array[Array[Double]] = rows(wx1, 4, u1)        // (x)(u)
    val b1R: Array[Array[Double]] = rows(b1, 4, u1)          // (x)(u)
    val b2R: Array[Array[Double]] = rows(b2, 4, u2)          // (x)(u)
    val uu1Rows: Array[Array[Double]] = rows(uu1, 4 * u1, u1)   // (x*u1+u)(v)
    val uu1TRows: Array[Array[Double]] = rows(uu1T, 4 * u1, u1) // (x*u1+v)(u)
    val uu2Rows: Array[Array[Double]] = rows(uu2, 4 * u2, u2)   // (x*u2+u)(v)
    val uu2TRows: Array[Array[Double]] = rows(uu2T, 4 * u2, u2) // (x*u2+v)(u)
    val wx2Rows: Array[Array[Double]] = rows(wx2, 4 * u2, u1)   // (x*u2+u)(v)
    val wx2TRows: Array[Array[Double]] = rows(wx2T, 4 * u1, u2) // (x*u1+v)(u)
    val wdRows: Array[Array[Double]] = rows(wd, d, u2)          // (j)(v)
    val wdTRows: Array[Array[Double]] = rows(wdT, u2, d)        // (v)(j)
    val w3T: Array[Double] = {                  // (j)*kc+o = w3(o)(j)
      val a = new Array[Double](kc * d)
      var o = 0
      while (o < kc) {
        var j = 0
        while (j < d) { a(j * kc + o) = w3(o * d + j); j += 1 }
        o += 1
      }
      a
    }
    // gradient buffer (gate-major, mirroring the weights above), then
    // the driver's stats tail
    val wx1Off: Int = 0                           // 4 * u1
    val uu1Off: Int = wx1Off + 4 * u1             // 4 * u1 * u1
    val b1Off: Int = uu1Off + 4 * u1 * u1         // 4 * u1
    val wx2Off: Int = b1Off + 4 * u1              // 4 * u2 * u1
    val uu2Off: Int = wx2Off + 4 * u2 * u1        // 4 * u2 * u2
    val b2Off: Int = uu2Off + 4 * u2 * u2         // 4 * u2
    val wdOff: Int = b2Off + 4 * u2               // d * u2
    val bdOff: Int = wdOff + d * u2               // d
    val w3Off: Int = bdOff + d                    // kc * d
    val b3Off: Int = w3Off + kc * d               // kc
    val statsOff: Int = b3Off + kc
  }

  private def sigm(z: Double): Double = 1.0 / (1.0 + math.exp(-z))

  /** Per-thread reusable scratch for [[accumulate]] — ~190 KB of state/
    * gradient work arrays per row otherwise allocated and zeroed 18k+
    * times per epoch. Safe to reuse across rows because every cell is
    * written before it is read on the paths that read it, EXCEPT the
    * t = 0 state rows (zero init = zero h/c state), which no code path
    * ever writes — so they stay zero from the initial allocation.
    * Executor task threads are pooled and long-lived; one scratch per
    * (thread, dims) amortizes to nothing. */
  private final class Scratch(val T: Int, val u1: Int, val u2: Int,
      val d: Int, val kc: Int) {
    private def mk(n: Int) = new Array[Double]((T + 1) * n)
    val i1 = mk(u1); val f1 = mk(u1); val g1 = mk(u1); val o1 = mk(u1)
    val c1 = mk(u1); val tc1 = mk(u1); val h1 = mk(u1); val a1 = mk(u1)
    val i2 = mk(u2); val f2 = mk(u2); val g2 = mk(u2); val o2 = mk(u2)
    val c2 = mk(u2); val tc2 = mk(u2); val h2 = mk(u2)
    val m1v = mk(u1)
    val m2v = new Array[Double](u2); val a2 = new Array[Double](u2)
    val zd = new Array[Double](d); val ad = new Array[Double](d)
    val z3 = new Array[Double](kc); val dzo = new Array[Double](kc)
    val dzd = new Array[Double](d)
    val dz1 = new Array[Double](4 * (T + 1) * u1)
    val dz2 = new Array[Double](4 * (T + 1) * u2)
    val dc1 = new Array[Double]((T + 2) * u1)
    val dc2 = new Array[Double]((T + 2) * u2)
    // 0-based daxpy operands (see Packed's rows note)
    private val um = math.max(u1, u2)
    val accs: Array[Array[Double]] =       // gate accumulators, i/f/g/o
      Array.fill(4)(new Array[Double](um))
    val bacc = new Array[Double](um)       // backward dh accumulator
    val h1p = new Array[Double](u1); val a1c = new Array[Double](u1)
    val h2p = new Array[Double](u2)
    val dzr1 = new Array[Double](u1); val dzr2 = new Array[Double](u2)
    // per-row gradient sums, added into `g` ONCE when finished (the
    // dot form adds each element's complete over-t sum once)
    val gwx1: Array[Array[Double]] = Array.fill(4)(new Array[Double](u1))
    val gb1: Array[Array[Double]] = Array.fill(4)(new Array[Double](u1))
    val gb2: Array[Array[Double]] = Array.fill(4)(new Array[Double](u2))
    val guu1: Array[Array[Double]] = Array.fill(4 * u1)(new Array[Double](u1))
    val gwx2: Array[Array[Double]] = Array.fill(4 * u2)(new Array[Double](u1))
    val guu2: Array[Array[Double]] = Array.fill(4 * u2)(new Array[Double](u2))
  }
  private val scratchTL = new ThreadLocal[Scratch]
  private def scratchFor(T: Int, p: Packed): Scratch = {
    val c = scratchTL.get()
    if (c != null && c.T == T && c.u1 == p.u1 && c.u2 == p.u2 &&
      c.d == p.d && c.kc == p.kc) c
    else {
      val n = new Scratch(T, p.u1, p.u2, p.d, p.kc)
      scratchTL.set(n); n
    }
  }

  /** One row's contribution — line for line the staged columns of
    * [[Lstm2Trainer.gradientsVal]]. Every accumulator's ADD ORDER is
    * the historical one (flat/transposed layouts change where a double
    * lives, never the sequence of additions into any sum), so gradients
    * and losses are bit-identical to the nested-array form. A short
    * driver over per-timestep, per-layer forward and backward steps and
    * a per-timestep gradient step, each compiled within the first rows
    * of a cold fit (the WideNet.accumulate note; WideKernelShapeSpec).
    * Forward state is flat (t)*u+i with t in 1..T; the t = 0 rows are
    * the zero init (see Scratch's reuse contract). */
  private def accumulate(s: Sample, p: Packed, epoch: Int,
      dropout: Double, g: Array[Double]): Unit = {
    val T = s.x.length
    val sc = scratchFor(T, p)
    var t = 1
    while (t <= T) {
      forward1(s, p, sc, t, epoch, dropout)
      forward2(p, sc, t)
      t += 1
    }
    val loss = head(s, p, sc, T, epoch, dropout)
    if (s.iv) {
      g(p.statsOff + 2) += loss; g(p.statsOff + 3) += 1.0
      return
    }
    g(p.statsOff) += loss; g(p.statsOff + 1) += 1.0
    backDot(sc.dzd, sc.dzo, p.w3T, p.kc, p.d)
    var j = 0
    while (j < p.d) {
      sc.dzd(j) = sc.dzd(j) * (if (sc.zd(j) > 0) 1.0 else 0.0); j += 1
    }
    t = T
    while (t >= 1) {
      backward2(p, sc, t, T)
      backward1(p, sc, t, T)
      t -= 1
    }
    clearSums(p, sc)
    t = 1
    while (t <= T) { gradStep(s, p, sc, t, T); t += 1 }
    flush(p, sc, g)
  }

  /** The gate cell at timestep `t` from the four gate pre-activations in
    * `sc.accs`: writes i/f/g/o, c, tanh(c) and h at row `t` of the
    * given layer's state (width `n`). */
  private def cell(sc: Scratch, n: Int, t: Int, i: Array[Double],
      f: Array[Double], gg: Array[Double], o: Array[Double],
      c: Array[Double], tc: Array[Double], h: Array[Double]): Unit = {
    val ai = sc.accs(0); val af = sc.accs(1)
    val ag = sc.accs(2); val ao = sc.accs(3)
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

  /** Layer 1 at timestep `t`, then its dropout. The gates'
    * pre-activations accumulate v-major as daxpy over 0-based rows: per
    * accumulator (gate, u) the adds land v-ascending from the bias init
    * — the dot form's exact order — with the INDEPENDENT unit index u as
    * the vector dimension, the one shape SuperWord vectorizes (see
    * Packed's rows note). */
  private def forward1(s: Sample, p: Packed, sc: Scratch, t: Int,
      epoch: Int, dropout: Double): Unit = {
    val u1 = p.u1
    val xt = s.x(t - 1)
    var x = 0
    while (x < 4) {
      val acc = sc.accs(x); val wr = p.wx1R(x); val br = p.b1R(x)
      var u = 0
      while (u < u1) { acc(u) = xt * wr(u) + br(u); u += 1 }
      matvecRows(acc, sc.h1, (t - 1) * u1, p.uu1TRows, x * u1, u1, u1)
      x += 1
    }
    cell(sc, u1, t, sc.i1, sc.f1, sc.g1, sc.o1, sc.c1, sc.tc1, sc.h1)
    val rp = t * u1
    val h1 = sc.h1; val m1v = sc.m1v; val a1 = sc.a1
    var u = 0
    while (u < u1) {
      m1v(rp + u) = dropMaskLocal(s.iv, s.rk, epoch, (t - 1) * u1 + u,
        dropout)
      a1(rp + u) = h1(rp + u) * m1v(rp + u)
      u += 1
    }
  }

  /** Layer 2 at timestep `t`: per gate the bias, then the wx2 part (v
    * ascending over a1), then the uu2 recurrent part (v ascending). */
  private def forward2(p: Packed, sc: Scratch, t: Int): Unit = {
    val u1 = p.u1; val u2 = p.u2
    var x = 0
    while (x < 4) {
      val acc = sc.accs(x)
      System.arraycopy(p.b2R(x), 0, acc, 0, u2)
      matvecRows(acc, sc.a1, t * u1, p.wx2TRows, x * u1, u1, u2)
      matvecRows(acc, sc.h2, (t - 1) * u2, p.uu2TRows, x * u2, u2, u2)
      x += 1
    }
    cell(sc, u2, t, sc.i2, sc.f2, sc.g2, sc.o2, sc.c2, sc.tc2, sc.h2)
  }

  /** Dropped h2_T -> relu Dense(d) -> softmax; returns the row's loss
    * and leaves the logit gradient in `dzo`. */
  private def head(s: Sample, p: Packed, sc: Scratch, T: Int,
      epoch: Int, dropout: Double): Double = {
    val u2 = p.u2
    val m2v = sc.m2v; val a2 = sc.a2; val zd = sc.zd; val ad = sc.ad
    var u = 0
    while (u < u2) {
      m2v(u) = dropMaskLocal(s.iv, s.rk, epoch, T * p.u1 + u, dropout)
      a2(u) = sc.h2(T * u2 + u) * m2v(u); u += 1
    }
    System.arraycopy(p.bd, 0, zd, 0, p.d)
    matvecRows(zd, a2, 0, p.wdTRows, 0, u2, p.d)
    var j = 0
    while (j < p.d) { ad(j) = if (zd(j) > 0) zd(j) else 0.0; j += 1 }
    denseDot(sc.z3, p.b3, p.w3, ad, p.d, p.kc)
    softmaxCE(sc.z3, p.kc, s.y, sc.dzo)
  }

  /** Back through one layer's gate cell at timestep `t` given the
    * upstream dh in `dh(0 until n)`: writes dc at row t and the four
    * gate gradients into `dz` (flat ((x)*(T+1)+t)*n+u). Reads only this
    * t's state and the t+1 dc/f rows. */
  private def cellBack(dh: Array[Double], n: Int, t: Int, T: Int,
      i: Array[Double], f: Array[Double], gg: Array[Double],
      o: Array[Double], c: Array[Double], tc: Array[Double],
      dc: Array[Double], dz: Array[Double]): Unit = {
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

  /** Layer 2 at timestep `t`: dh2 as a daxpy over 0-based natural rows;
    * per unit the adds land in the dot form's order (t == T: the dense
    * rows j ascending, then the head mask; else gate x then v
    * ascending over the t+1 gate gradients). */
  private def backward2(p: Packed, sc: Scratch, t: Int, T: Int): Unit = {
    val u2 = p.u2
    val bacc = sc.bacc
    java.util.Arrays.fill(bacc, 0, u2, 0.0)
    if (t == T) {
      matvecRows(bacc, sc.dzd, 0, p.wdRows, 0, p.d, u2)
      var u = 0
      while (u < u2) { bacc(u) = bacc(u) * sc.m2v(u); u += 1 }
    } else {
      var x = 0
      while (x < 4) {
        matvecRows(bacc, sc.dz2, (x * (T + 1) + (t + 1)) * u2, p.uu2Rows,
          x * u2, u2, u2)
        x += 1
      }
    }
    cellBack(bacc, u2, t, T, sc.i2, sc.f2, sc.g2, sc.o2, sc.c2, sc.tc2,
      sc.dc2, sc.dz2)
  }

  /** Layer 1 at timestep `t`: dh1 is the wx2 part (x, v ascending over
    * this t's layer-2 gate gradients), then the mask, then the uu1
    * recurrent part (x, v ascending over the t+1 rows) — the dot form's
    * exact per-unit order. */
  private def backward1(p: Packed, sc: Scratch, t: Int, T: Int): Unit = {
    val u1 = p.u1; val u2 = p.u2
    val dacc = sc.accs(0)
    java.util.Arrays.fill(dacc, 0, u1, 0.0)
    var x = 0
    while (x < 4) {
      matvecRows(dacc, sc.dz2, (x * (T + 1) + t) * u2, p.wx2Rows, x * u2,
        u2, u1)
      x += 1
    }
    val rp = t * u1
    var u = 0
    while (u < u1) { dacc(u) *= sc.m1v(rp + u); u += 1 }
    if (t < T) {
      x = 0
      while (x < 4) {
        matvecRows(dacc, sc.dz1, (x * (T + 1) + (t + 1)) * u1, p.uu1Rows,
          x * u1, u1, u1)
        x += 1
      }
    }
    cellBack(dacc, u1, t, T, sc.i1, sc.f1, sc.g1, sc.o1, sc.c1, sc.tc1,
      sc.dc1, sc.dz1)
  }

  /** Zero the per-row gradient sums. */
  private def clearSums(p: Packed, sc: Scratch): Unit = {
    val u1 = p.u1; val u2 = p.u2
    zeroRows(sc.gwx1, 0, 4, u1)
    zeroRows(sc.gb1, 0, 4, u1)
    zeroRows(sc.gb2, 0, 4, u2)
    zeroRows(sc.guu1, 0, 4 * u1, u1)
    zeroRows(sc.gwx2, 0, 4 * u2, u1)
    zeroRows(sc.guu2, 0, 4 * u2, u2)
  }

  /** Timestep `t`'s share of the gradient sums (sum over t; the mean
    * over rows happens at the end): per t the dz row and the state rows
    * it multiplies are contiguous 0-based slices, so every
    * weight-gradient loop is a daxpy over the per-row sums; per element
    * the adds land t-ascending. */
  private def gradStep(s: Sample, p: Packed, sc: Scratch, t: Int,
      T: Int): Unit = {
    val u1 = p.u1; val u2 = p.u2
    val h1p = sc.h1p; val a1c = sc.a1c; val h2p = sc.h2p
    val dzr1 = sc.dzr1; val dzr2 = sc.dzr2
    val xt = s.x(t - 1)
    System.arraycopy(sc.h1, (t - 1) * u1, h1p, 0, u1)
    System.arraycopy(sc.a1, t * u1, a1c, 0, u1)
    System.arraycopy(sc.h2, (t - 1) * u2, h2p, 0, u2)
    var x = 0
    while (x < 4) {
      System.arraycopy(sc.dz1, (x * (T + 1) + t) * u1, dzr1, 0, u1)
      axpy(sc.gwx1(x), xt, dzr1, u1)
      vadd(sc.gb1(x), dzr1, u1)
      rank1Rows(sc.guu1, x * u1, dzr1, u1, h1p, u1)
      System.arraycopy(sc.dz2, (x * (T + 1) + t) * u2, dzr2, 0, u2)
      vadd(sc.gb2(x), dzr2, u2)
      rank1Rows(sc.gwx2, x * u2, dzr2, u2, a1c, u1)
      rank1Rows(sc.guu2, x * u2, dzr2, u2, h2p, u2)
      x += 1
    }
  }

  /** Each finished per-row sum lands in `g` as ONE add (the dot form's
    * behavior; the gate blocks are contiguous, gate-major), then the
    * dense and head gradients. */
  private def flush(p: Packed, sc: Scratch, g: Array[Double]): Unit = {
    val u1 = p.u1; val u2 = p.u2
    flushRows(g, p.wx1Off, sc.gwx1, 0, 4, u1)
    flushRows(g, p.b1Off, sc.gb1, 0, 4, u1)
    flushRows(g, p.uu1Off, sc.guu1, 0, 4 * u1, u1)
    flushRows(g, p.b2Off, sc.gb2, 0, 4, u2)
    flushRows(g, p.wx2Off, sc.gwx2, 0, 4 * u2, u1)
    flushRows(g, p.uu2Off, sc.guu2, 0, 4 * u2, u2)
    denseGrad(g, p.wdOff, p.bdOff, sc.dzd, p.d, sc.a2, u2)
    denseGrad(g, p.w3Off, p.b3Off, sc.dzo, p.kc, sc.ad, p.d)
  }

  /** The stacked LSTM kernel; `dropout` is the rate after each LSTM
    * layer. */
  final case class Kernel(dropout: Double = 0.0)
      extends TrainerCommon.Kernel[W, G] {
    type P = Packed
    def drops: Seq[Double] = Seq(dropout)
    def pack(w: W, T: Int): Packed = new Packed(w, T)
    def accumulate(s: Sample, p: Packed, epoch: Int,
        g: Array[Double]): Unit =
      WideLstm2.accumulate(s, p, epoch, dropout, g)
    def grads(p: Packed, g: Array[Double], n: Double): G = {
      val u1 = p.u1; val u2 = p.u2
      G(
        Gates.zipWithIndex.map { case (name, x) => name -> Gate1(
          Seq.tabulate(u1)(u => g(p.wx1Off + x * u1 + u) / n),
          Seq.tabulate(u1, u1)((u, v) =>
            g(p.uu1Off + (x * u1 + u) * u1 + v) / n),
          Seq.tabulate(u1)(u => g(p.b1Off + x * u1 + u) / n)) }.toMap,
        Gates.zipWithIndex.map { case (name, x) => name -> Gate2(
          Seq.tabulate(u2, u1)((u, v) =>
            g(p.wx2Off + (x * u2 + u) * u1 + v) / n),
          Seq.tabulate(u2, u2)((u, v) =>
            g(p.uu2Off + (x * u2 + u) * u2 + v) / n),
          Seq.tabulate(u2)(u => g(p.b2Off + x * u2 + u) / n)) }.toMap,
        Seq.tabulate(p.d, u2)((j, u) => g(p.wdOff + j * u2 + u) / n),
        Seq.tabulate(p.d)(j => g(p.bdOff + j) / n),
        Seq.tabulate(p.kc, p.d)((o, j) => g(p.w3Off + o * p.d + j) / n),
        Seq.tabulate(p.kc)(o => g(p.b3Off + o) / n),
        g(p.statsOff) / n)
    }
  }
}
