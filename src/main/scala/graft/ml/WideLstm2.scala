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
  import WideNet.{dropMaskLocal, axpy, vadd}

  private val Gates = Array("i", "f", "g", "o")

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
    val wx1: Array[Double] = Gates.flatMap(x => w.l1(x).wx)
    val uu1: Array[Double] = Gates.flatMap(x => w.l1(x).u.flatten)
    val b1: Array[Double] = Gates.flatMap(x => w.l1(x).b)
    // layer 2: wx2(((x*u2)+u)*u1+v over u1), uu2(((x*u2)+u)*u2+v), b2
    val wx2: Array[Double] = Gates.flatMap(x => w.l2(x).wx.flatten)
    val uu2: Array[Double] = Gates.flatMap(x => w.l2(x).u.flatten)
    val b2: Array[Double] = Gates.flatMap(x => w.l2(x).b)
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
    val acc0 = new Array[Double](um); val acc1 = new Array[Double](um)
    val acc2 = new Array[Double](um); val acc3 = new Array[Double](um)
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
    * and losses are bit-identical to the nested-array form. */
  private def accumulate(s: Sample, p: Packed, epoch: Int,
      dropout: Double, g: Array[Double]): Unit = {
    val T = s.x.length
    val u1 = p.u1; val u2 = p.u2
    // forward state, flat (t)*u+i; t index 1..T, 0 = zero init (the
    // t = 0 rows are zero in a fresh Scratch and never written — see
    // Scratch's reuse contract)
    val sc = scratchFor(T, p)
    val i1 = sc.i1; val f1 = sc.f1; val g1 = sc.g1; val o1 = sc.o1
    val c1 = sc.c1; val tc1 = sc.tc1; val h1 = sc.h1; val a1 = sc.a1
    val i2 = sc.i2; val f2 = sc.f2; val g2 = sc.g2; val o2 = sc.o2
    val c2 = sc.c2; val tc2 = sc.tc2; val h2 = sc.h2
    val m1v = sc.m1v
    // The four gates' pre-activations accumulate v-major as daxpy over
    // 0-based rows: per accumulator (gate, u) the adds land v-ascending
    // from the bias init — the dot form's exact order — but the vector
    // dimension is now the INDEPENDENT unit index u, the one shape
    // SuperWord vectorizes (see Packed's rows note).
    val ai = sc.acc0; val af = sc.acc1; val ag = sc.acc2; val ao = sc.acc3
    val wx1R0 = p.wx1R(0); val wx1R1 = p.wx1R(1)
    val wx1R2 = p.wx1R(2); val wx1R3 = p.wx1R(3)
    val b1R0 = p.b1R(0); val b1R1 = p.b1R(1)
    val b1R2 = p.b1R(2); val b1R3 = p.b1R(3)
    var t = 1
    while (t <= T) {
      val xt = s.x(t - 1)
      val rp = t * u1; val rm = (t - 1) * u1
      var u = 0
      while (u < u1) { ai(u) = xt * wx1R0(u) + b1R0(u); u += 1 }
      u = 0
      while (u < u1) { af(u) = xt * wx1R1(u) + b1R1(u); u += 1 }
      u = 0
      while (u < u1) { ag(u) = xt * wx1R2(u) + b1R2(u); u += 1 }
      u = 0
      while (u < u1) { ao(u) = xt * wx1R3(u) + b1R3(u); u += 1 }
      var v = 0
      while (v < u1) {
        val hv = h1(rm + v)
        axpy(ai, hv, p.uu1TRows(v), u1)
        axpy(af, hv, p.uu1TRows(u1 + v), u1)
        axpy(ag, hv, p.uu1TRows(2 * u1 + v), u1)
        axpy(ao, hv, p.uu1TRows(3 * u1 + v), u1)
        v += 1
      }
      u = 0
      while (u < u1) {
        i1(rp + u) = sigm(ai(u)); f1(rp + u) = sigm(af(u))
        g1(rp + u) = math.tanh(ag(u)); o1(rp + u) = sigm(ao(u))
        c1(rp + u) = f1(rp + u) * c1(rm + u) + i1(rp + u) * g1(rp + u)
        tc1(rp + u) = math.tanh(c1(rp + u))
        h1(rp + u) = o1(rp + u) * tc1(rp + u)
        m1v(rp + u) = dropMaskLocal(s.iv, s.rk, epoch, (t - 1) * u1 + u,
          dropout)
        a1(rp + u) = h1(rp + u) * m1v(rp + u)
        u += 1
      }
      val qp = t * u2; val qm = (t - 1) * u2
      System.arraycopy(p.b2R(0), 0, ai, 0, u2)
      System.arraycopy(p.b2R(1), 0, af, 0, u2)
      System.arraycopy(p.b2R(2), 0, ag, 0, u2)
      System.arraycopy(p.b2R(3), 0, ao, 0, u2)
      v = 0
      while (v < u1) {
        val av = a1(rp + v)
        axpy(ai, av, p.wx2TRows(v), u2)
        axpy(af, av, p.wx2TRows(u1 + v), u2)
        axpy(ag, av, p.wx2TRows(2 * u1 + v), u2)
        axpy(ao, av, p.wx2TRows(3 * u1 + v), u2)
        v += 1
      }
      v = 0
      while (v < u2) {
        val hv = h2(qm + v)
        axpy(ai, hv, p.uu2TRows(v), u2)
        axpy(af, hv, p.uu2TRows(u2 + v), u2)
        axpy(ag, hv, p.uu2TRows(2 * u2 + v), u2)
        axpy(ao, hv, p.uu2TRows(3 * u2 + v), u2)
        v += 1
      }
      u = 0
      while (u < u2) {
        i2(qp + u) = sigm(ai(u)); f2(qp + u) = sigm(af(u))
        g2(qp + u) = math.tanh(ag(u)); o2(qp + u) = sigm(ao(u))
        c2(qp + u) = f2(qp + u) * c2(qm + u) + i2(qp + u) * g2(qp + u)
        tc2(qp + u) = math.tanh(c2(qp + u))
        h2(qp + u) = o2(qp + u) * tc2(qp + u)
        u += 1
      }
      t += 1
    }
    // head: dropped h2_T -> relu Dense(d) -> softmax
    val m2v = sc.m2v
    val a2 = sc.a2
    var u = 0
    while (u < u2) {
      m2v(u) = dropMaskLocal(s.iv, s.rk, epoch, T * u1 + u, dropout)
      a2(u) = h2(T * u2 + u) * m2v(u); u += 1
    }
    val zd = sc.zd
    val ad = sc.ad
    System.arraycopy(p.bd, 0, zd, 0, p.d)
    var v1 = 0
    while (v1 < u2) {
      axpy(zd, a2(v1), p.wdTRows(v1), p.d)
      v1 += 1
    }
    var j = 0
    while (j < p.d) { ad(j) = if (zd(j) > 0) zd(j) else 0.0; j += 1 }
    val z3 = sc.z3
    var o = 0
    while (o < p.kc) {
      var acc = p.b3(o)
      val wb = o * p.d
      var j2 = 0
      while (j2 < p.d) { acc += ad(j2) * p.w3(wb + j2); j2 += 1 }
      z3(o) = acc; o += 1
    }
    var mx = z3(0); o = 1
    while (o < p.kc) { if (z3(o) > mx) mx = z3(o); o += 1 }
    var denom = 0.0; o = 0
    while (o < p.kc) { denom += math.exp(z3(o) - mx); o += 1 }
    val loss = math.log(denom) + mx - z3(s.y)
    if (s.iv) {
      g(p.statsOff + 2) += loss; g(p.statsOff + 3) += 1.0
      return
    }
    g(p.statsOff) += loss; g(p.statsOff + 1) += 1.0
    val dzo = sc.dzo
    o = 0
    while (o < p.kc) {
      dzo(o) = math.exp(z3(o) - mx) / denom - (if (s.y == o) 1.0 else 0.0)
      o += 1
    }
    val dzd = sc.dzd
    j = 0
    while (j < p.d) {
      var acc = 0.0
      val wb = j * p.kc
      o = 0
      while (o < p.kc) { acc += dzo(o) * p.w3T(wb + o); o += 1 }
      dzd(j) = acc * (if (zd(j) > 0) 1.0 else 0.0); j += 1
    }
    // backward through time; dz flat ((x)*(T+1)+t)*u+i
    val dz1 = sc.dz1
    val dz2 = sc.dz2
    val dc1 = sc.dc1
    val dc2 = sc.dc2
    // Backward: the per-unit upstream sums (dh2, da1/dh1) run 4 units
    // per pass — four independent accumulator chains sharing one read
    // of the dz stream; each unit's adds keep their historical order.
    t = T
    while (t >= 1) {
      // snapshot the loop var: the nested tail defs must capture a val,
      // not the mutable `t` (a captured var boxes to IntRef and every
      // access in the method pays a heap deref)
      val ti = t
      val qp = ti * u2; val qm = (ti - 1) * u2
      def dz2Tail(u3: Int, dh2: Double): Unit = {
        val local = dh2 * o2(qp + u3) * (1.0 - tc2(qp + u3) * tc2(qp + u3))
        val dc = if (ti == T) local
          else local + dc2((ti + 1) * u2 + u3) * f2((ti + 1) * u2 + u3)
        dc2(ti * u2 + u3) = dc
        dz2((0 * (T + 1) + ti) * u2 + u3) =
          dc * g2(qp + u3) * i2(qp + u3) * (1.0 - i2(qp + u3))
        dz2((1 * (T + 1) + ti) * u2 + u3) =
          dc * c2(qm + u3) * f2(qp + u3) * (1.0 - f2(qp + u3))
        dz2((2 * (T + 1) + ti) * u2 + u3) =
          dc * i2(qp + u3) * (1.0 - g2(qp + u3) * g2(qp + u3))
        dz2((3 * (T + 1) + ti) * u2 + u3) =
          dh2 * tc2(qp + u3) * o2(qp + u3) * (1.0 - o2(qp + u3))
      }
      // dh2 as a daxpy over 0-based natural rows; per unit u3 the adds
      // land in the dot form's order (ti == T: j2-ascending; else x
      // then v ascending); the elementwise tails run after, u3-ascending
      // as before (tails only read t+1 state, never this t's).
      val bacc = sc.bacc
      java.util.Arrays.fill(bacc, 0, u2, 0.0)
      if (ti == T) {
        var j2 = 0
        while (j2 < p.d) {
          axpy(bacc, dzd(j2), p.wdRows(j2), u2)
          j2 += 1
        }
        var u3 = 0
        while (u3 < u2) { dz2Tail(u3, bacc(u3) * m2v(u3)); u3 += 1 }
      } else {
        var x = 0
        while (x < 4) {
          val db = (x * (T + 1) + (ti + 1)) * u2
          val xb = x * u2
          var v = 0
          while (v < u2) {
            axpy(bacc, dz2(db + v), p.uu2Rows(xb + v), u2)
            v += 1
          }
          x += 1
        }
        var u3 = 0
        while (u3 < u2) { dz2Tail(u3, bacc(u3)); u3 += 1 }
      }
      val rp = ti * u1; val rm = (ti - 1) * u1
      def dz1Tail(u4: Int, dh1: Double): Unit = {
        val local = dh1 * o1(rp + u4) * (1.0 - tc1(rp + u4) * tc1(rp + u4))
        val dc = if (ti == T) local
          else local + dc1((ti + 1) * u1 + u4) * f1((ti + 1) * u1 + u4)
        dc1(ti * u1 + u4) = dc
        dz1((0 * (T + 1) + ti) * u1 + u4) =
          dc * g1(rp + u4) * i1(rp + u4) * (1.0 - i1(rp + u4))
        dz1((1 * (T + 1) + ti) * u1 + u4) =
          dc * c1(rm + u4) * f1(rp + u4) * (1.0 - f1(rp + u4))
        dz1((2 * (T + 1) + ti) * u1 + u4) =
          dc * i1(rp + u4) * (1.0 - g1(rp + u4) * g1(rp + u4))
        dz1((3 * (T + 1) + ti) * u1 + u4) =
          dh1 * tc1(rp + u4) * o1(rp + u4) * (1.0 - o1(rp + u4))
      }
      // dh1 likewise: wx2 part (x, v ascending), then the mask, then
      // the uu1 recurrent part (x, v ascending) — the dot form's exact
      // per-unit order, daxpy'd over natural rows.
      val dacc = sc.acc0
      java.util.Arrays.fill(dacc, 0, u1, 0.0)
      var x3 = 0
      while (x3 < 4) {
        val db = (x3 * (T + 1) + ti) * u2
        val xb = x3 * u2
        var v = 0
        while (v < u2) {
          axpy(dacc, dz2(db + v), p.wx2Rows(xb + v), u1)
          v += 1
        }
        x3 += 1
      }
      var u4 = 0
      while (u4 < u1) { dacc(u4) *= m1v(rp + u4); u4 += 1 }
      if (ti < T) {
        var x2 = 0
        while (x2 < 4) {
          val db = (x2 * (T + 1) + (ti + 1)) * u1
          val xb = x2 * u1
          var v = 0
          while (v < u1) {
            axpy(dacc, dz1(db + v), p.uu1Rows(xb + v), u1)
            v += 1
          }
          x2 += 1
        }
      }
      u4 = 0
      while (u4 < u1) { dz1Tail(u4, dacc(u4)); u4 += 1 }
      t -= 1
    }
    // gradient accumulation (sum over t; mean over rows happens at the
    // end), t-major: per t the dz row and the state rows it multiplies
    // are contiguous 0-based slices, so every weight-gradient loop is a
    // daxpy over the per-row scratch sums. Per element the adds land
    // t-ascending and the finished sum lands in `g` as ONE add — both
    // exactly the dot form's behavior.
    val gwx1 = sc.gwx1; val gb1 = sc.gb1; val gb2 = sc.gb2
    val guu1 = sc.guu1; val gwx2 = sc.gwx2; val guu2 = sc.guu2
    var x = 0
    while (x < 4) {
      java.util.Arrays.fill(gwx1(x), 0, u1, 0.0)
      java.util.Arrays.fill(gb1(x), 0, u1, 0.0)
      java.util.Arrays.fill(gb2(x), 0, u2, 0.0)
      var r = 0
      while (r < u1) { java.util.Arrays.fill(guu1(x * u1 + r), 0, u1, 0.0); r += 1 }
      r = 0
      while (r < u2) {
        java.util.Arrays.fill(gwx2(x * u2 + r), 0, u1, 0.0)
        java.util.Arrays.fill(guu2(x * u2 + r), 0, u2, 0.0)
        r += 1
      }
      x += 1
    }
    val h1p = sc.h1p; val a1c = sc.a1c; val h2p = sc.h2p
    val dzr1 = sc.dzr1; val dzr2 = sc.dzr2
    var t2 = 1
    while (t2 <= T) {
      val xt = s.x(t2 - 1)
      System.arraycopy(h1, (t2 - 1) * u1, h1p, 0, u1)
      System.arraycopy(a1, t2 * u1, a1c, 0, u1)
      System.arraycopy(h2, (t2 - 1) * u2, h2p, 0, u2)
      x = 0
      while (x < 4) {
        System.arraycopy(dz1, (x * (T + 1) + t2) * u1, dzr1, 0, u1)
        axpy(gwx1(x), xt, dzr1, u1)
        vadd(gb1(x), dzr1, u1)
        var u5 = 0
        while (u5 < u1) {
          axpy(guu1(x * u1 + u5), dzr1(u5), h1p, u1)
          u5 += 1
        }
        System.arraycopy(dz2, (x * (T + 1) + t2) * u2, dzr2, 0, u2)
        vadd(gb2(x), dzr2, u2)
        var u6 = 0
        while (u6 < u2) {
          val dv = dzr2(u6)
          axpy(gwx2(x * u2 + u6), dv, a1c, u1)
          axpy(guu2(x * u2 + u6), dv, h2p, u2)
          u6 += 1
        }
        x += 1
      }
      t2 += 1
    }
    x = 0
    while (x < 4) {
      var u5 = 0
      while (u5 < u1) {
        g(p.wx1Off + x * u1 + u5) += gwx1(x)(u5)
        g(p.b1Off + x * u1 + u5) += gb1(x)(u5)
        val grow = guu1(x * u1 + u5)
        val gb = p.uu1Off + (x * u1 + u5) * u1
        var v = 0
        while (v < u1) { g(gb + v) += grow(v); v += 1 }
        u5 += 1
      }
      var u6 = 0
      while (u6 < u2) {
        g(p.b2Off + x * u2 + u6) += gb2(x)(u6)
        val groww = gwx2(x * u2 + u6)
        val gwb = p.wx2Off + (x * u2 + u6) * u1
        var v = 0
        while (v < u1) { g(gwb + v) += groww(v); v += 1 }
        val growu = guu2(x * u2 + u6)
        val gub = p.uu2Off + (x * u2 + u6) * u2
        v = 0
        while (v < u2) { g(gub + v) += growu(v); v += 1 }
        u6 += 1
      }
      x += 1
    }
    j = 0
    while (j < p.d) {
      g(p.bdOff + j) += dzd(j)
      var v = 0
      while (v < u2) { g(p.wdOff + j * u2 + v) += dzd(j) * a2(v); v += 1 }
      j += 1
    }
    o = 0
    while (o < p.kc) {
      g(p.b3Off + o) += dzo(o)
      var j2 = 0
      while (j2 < p.d) { g(p.w3Off + o * p.d + j2) += dzo(o) * ad(j2); j2 += 1 }
      o += 1
    }
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
