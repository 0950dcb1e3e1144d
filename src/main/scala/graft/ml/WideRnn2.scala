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
  import WideNet.{dropMaskLocal, axpy, vadd}

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
    * reads, and 4-lane unit unrolls (independent accumulator chains);
    * every accumulator's add order is the historical one, so the
    * output is bit-identical (the WideLstm2 rationale). */
  private def accumulate(s: Sample, p: Packed, epoch: Int,
      dropout: Double, g: Array[Double]): Unit = {
    val T = s.x.length
    val u1 = p.u1; val u2 = p.u2
    val sc = scratchFor(T, p)
    val h1 = sc.h1; val a1 = sc.a1; val m1v = sc.m1v; val h2 = sc.h2
    // Pre-activations accumulate v-major as daxpy over 0-based rows:
    // per unit the adds land v-ascending from the init — the dot form's
    // exact order — with the INDEPENDENT unit index as the vector
    // dimension, the one shape SuperWord vectorizes (Packed's note).
    val acc = sc.acc
    var t = 1
    while (t <= T) {
      val xt = s.x(t - 1)
      val rp = t * u1; val rm = (t - 1) * u1
      var u = 0
      while (u < u1) { acc(u) = xt * p.wx1(u) + p.b1(u); u += 1 }
      var v = 0
      while (v < u1) {
        axpy(acc, h1(rm + v), p.wh1TRows(v), u1)
        v += 1
      }
      u = 0
      while (u < u1) {
        val av = acc(u)
        h1(rp + u) = if (av > 0) av else 0.0
        m1v(rp + u) = dropMaskLocal(s.iv, s.rk, epoch, (t - 1) * u1 + u,
          dropout)
        a1(rp + u) = h1(rp + u) * m1v(rp + u)
        u += 1
      }
      val qp = t * u2; val qm = (t - 1) * u2
      System.arraycopy(p.b2, 0, acc, 0, u2)
      v = 0
      while (v < u1) {
        axpy(acc, a1(rp + v), p.wx2TRows(v), u2)
        v += 1
      }
      v = 0
      while (v < u2) {
        axpy(acc, h2(qm + v), p.wh2TRows(v), u2)
        v += 1
      }
      u = 0
      while (u < u2) {
        val av = acc(u)
        h2(qp + u) = if (av > 0) av else 0.0
        u += 1
      }
      t += 1
    }
    val m2v = sc.m2v
    val a2 = sc.a2
    var u = 0
    while (u < u2) {
      m2v(u) = dropMaskLocal(s.iv, s.rk, epoch, T * u1 + u, dropout)
      a2(u) = h2(T * u2 + u) * m2v(u); u += 1
    }
    val z3 = sc.z3
    var o = 0
    while (o < p.kc) {
      var acc = p.b3(o)
      val wb = o * u2
      var v = 0
      while (v < u2) { acc += a2(v) * p.w3(wb + v); v += 1 }
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
    val dz1 = sc.dz1
    val dz2 = sc.dz2
    t = T
    while (t >= 1) {
      val ti = t
      val qp = ti * u2
      var u3 = 0
      if (ti == T) {
        while (u3 < u2) {
          var acc = 0.0
          val wb = u3 * p.kc
          o = 0
          while (o < p.kc) { acc += dzo(o) * p.w3T(wb + o); o += 1 }
          val dh2 = acc * m2v(u3)
          dz2(ti * u2 + u3) = dh2 * (if (h2(qp + u3) > 0) 1.0 else 0.0)
          u3 += 1
        }
      } else {
        // dh2 as v-major daxpy over natural wh2 rows; per unit the adds
        // land v-ascending from 0.0 — the dot form's order
        val db = (ti + 1) * u2
        val bacc = sc.bacc
        java.util.Arrays.fill(bacc, 0, u2, 0.0)
        var v = 0
        while (v < u2) {
          axpy(bacc, dz2(db + v), p.wh2Rows(v), u2)
          v += 1
        }
        while (u3 < u2) {
          dz2(ti * u2 + u3) = bacc(u3) * (if (h2(qp + u3) > 0) 1.0 else 0.0)
          u3 += 1
        }
      }
      val rp = ti * u1
      val db2 = ti * u2
      // dh1: wx2 part (v ascending), mask, then the wh1 recurrent part
      // (v ascending) — the dot form's per-unit order, daxpy'd over
      // natural rows
      val dacc = sc.acc
      java.util.Arrays.fill(dacc, 0, u1, 0.0)
      var v3 = 0
      while (v3 < u2) {
        axpy(dacc, dz2(db2 + v3), p.wx2Rows(v3), u1)
        v3 += 1
      }
      var u4 = 0
      while (u4 < u1) { dacc(u4) *= m1v(rp + u4); u4 += 1 }
      if (ti < T) {
        val db1 = (ti + 1) * u1
        var v2 = 0
        while (v2 < u1) {
          axpy(dacc, dz1(db1 + v2), p.wh1Rows(v2), u1)
          v2 += 1
        }
      }
      u4 = 0
      while (u4 < u1) {
        dz1(ti * u1 + u4) = dacc(u4) * (if (h1(rp + u4) > 0) 1.0 else 0.0)
        u4 += 1
      }
      t -= 1
    }
    // gradient accumulation (sum over t), t-major: per t the dz row and
    // the state rows it multiplies are contiguous 0-based slices, so
    // every weight-gradient loop is a daxpy over the per-row scratch
    // sums. Per element the adds land t-ascending and the finished sum
    // lands in `g` as ONE add — both exactly the dot form's behavior.
    val gwx1 = sc.gwx1; val gb1 = sc.gb1; val gb2 = sc.gb2
    val gwh1 = sc.gwh1; val gwx2 = sc.gwx2; val gwh2 = sc.gwh2
    java.util.Arrays.fill(gwx1, 0, u1, 0.0)
    java.util.Arrays.fill(gb1, 0, u1, 0.0)
    java.util.Arrays.fill(gb2, 0, u2, 0.0)
    var r = 0
    while (r < u1) { java.util.Arrays.fill(gwh1(r), 0, u1, 0.0); r += 1 }
    r = 0
    while (r < u2) {
      java.util.Arrays.fill(gwx2(r), 0, u1, 0.0)
      java.util.Arrays.fill(gwh2(r), 0, u2, 0.0)
      r += 1
    }
    val h1p = sc.h1p; val a1c = sc.a1c; val h2p = sc.h2p
    val dzr1 = sc.dzr1; val dzr2 = sc.dzr2
    var t2 = 1
    while (t2 <= T) {
      val xt = s.x(t2 - 1)
      System.arraycopy(h1, (t2 - 1) * u1, h1p, 0, u1)
      System.arraycopy(a1, t2 * u1, a1c, 0, u1)
      System.arraycopy(h2, (t2 - 1) * u2, h2p, 0, u2)
      System.arraycopy(dz1, t2 * u1, dzr1, 0, u1)
      System.arraycopy(dz2, t2 * u2, dzr2, 0, u2)
      axpy(gwx1, xt, dzr1, u1)
      vadd(gb1, dzr1, u1)
      var u5 = 0
      while (u5 < u1) {
        axpy(gwh1(u5), dzr1(u5), h1p, u1)
        u5 += 1
      }
      vadd(gb2, dzr2, u2)
      var u6 = 0
      while (u6 < u2) {
        val dv = dzr2(u6)
        axpy(gwx2(u6), dv, a1c, u1)
        axpy(gwh2(u6), dv, h2p, u2)
        u6 += 1
      }
      t2 += 1
    }
    var u5 = 0
    while (u5 < u1) {
      g(p.wx1Off + u5) += gwx1(u5)
      g(p.b1Off + u5) += gb1(u5)
      val grow = gwh1(u5)
      val gb = p.wh1Off + u5 * u1
      var v = 0
      while (v < u1) { g(gb + v) += grow(v); v += 1 }
      u5 += 1
    }
    var u6 = 0
    while (u6 < u2) {
      g(p.b2Off + u6) += gb2(u6)
      val groww = gwx2(u6)
      val gxb = p.wx2Off + u6 * u1
      var v = 0
      while (v < u1) { g(gxb + v) += groww(v); v += 1 }
      val growh = gwh2(u6)
      val ghb = p.wh2Off + u6 * u2
      v = 0
      while (v < u2) { g(ghb + v) += growh(v); v += 1 }
      u6 += 1
    }
    o = 0
    while (o < p.kc) {
      g(p.b3Off + o) += dzo(o)
      var v = 0
      while (v < u2) { g(p.w3Off + o * u2 + v) += dzo(o) * a2(v); v += 1 }
      o += 1
    }
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
