package graft.ml

/** Reference-WIDTH execution path for [[LstmTrainer]] — the
  * single-layer gated member of the wide-twin family (see [[WideNet]]
  * for the representation rationale): the same gated-BPTT math as
  * per-partition imperative accumulation + one O(params) treeAggregate
  * per epoch, the honest execution form at the reference's real widths
  * (`models/lstm_model.py:19-26`: LSTM(64)). [[LstmTrainer]] exposes no
  * dropout/val surface (the stacked [[Lstm2Trainer]]/[[WideLstm2]] pair
  * carries those), so the twin mirrors its plain `gradients`/`fit`
  * contract. WideSinglesSpec pins gradient-for-gradient equivalence
  * for all 14 tensors.
  */
object WideLstm {
  import LstmTrainer.{LstmWeights, LstmGrads, GateW}
  import TrainerCommon.Sample

  /** Packed weights: FLAT per-gate arrays plus TRANSPOSED copies for
    * the backward pass's column reads (the WideNet layout — r17,
    * verdict task #1; same doubles, same arithmetic). Gate order
    * i, f, g, o — indexed 0..3 throughout. */
  private[ml] final class Packed(w: LstmWeights, T: Int)
      extends TrainerCommon.Packed {
    val wx: Array[Array[Double]] =
      Array(w.i, w.f, w.g, w.o).map(_.wx.toArray)
    val uu: Array[Array[Double]] =                       // (x)(u*un+v)
      Array(w.i, w.f, w.g, w.o).map(_.u.flatten.toArray)
    val b: Array[Array[Double]] =
      Array(w.i, w.f, w.g, w.o).map(_.b.toArray)
    val w2: Array[Double] = w.w2.flatten.toArray         // (o*un+u)
    val b2: Array[Double] = w.b2.toArray
    val units: Int = w.units
    val kc: Int = w.classes
    val uuT: Array[Array[Double]] = uu.map { m =>         // (x)(u*un+v) = uu(x)(v)(u)
      val t = new Array[Double](units * units)
      var u = 0
      while (u < units) {
        var v = 0
        while (v < units) { t(u * units + v) = m(v * units + u); v += 1 }
        u += 1
      }
      t
    }
    val w2T: Array[Double] = {                            // (u*kc+o)
      val t = new Array[Double](units * kc)
      var o = 0
      while (o < kc) {
        var u = 0
        while (u < units) { t(u * kc + o) = w2(o * units + u); u += 1 }
        o += 1
      }
      t
    }
    // Buffer layout per gate X in i,f,g,o: wx (u), u (u,u), b (u); then
    // w2 (kc,u), b2 (kc), then the driver's stats tail
    val gateSize: Int = units + units * units + units
    def wxOff(x: Int): Int = x * gateSize
    def uOff(x: Int): Int = x * gateSize + units
    def bOff(x: Int): Int = x * gateSize + units + units * units
    val w2Off: Int = 4 * gateSize
    val b2Off: Int = w2Off + kc * units
    val statsOff: Int = b2Off + kc
  }

  /** Per-thread reusable scratch (the WideNet pattern). The t = 0 rows
    * of `c` and `h` are never written and must stay zero — zeroed at
    * construction, never assigned after; every other cell is fully
    * written before any read within a row. */
  private final class Scratch(val T: Int, p: Packed) {
    val unK: Int = p.units; val kcK: Int = p.kc
    val gate = new Array[Double]((T + 1) * 4 * p.units) // ((t*4+x)*un+u)
    val c = new Array[Double]((T + 1) * p.units)
    val tc = new Array[Double]((T + 1) * p.units)
    val h = new Array[Double]((T + 1) * p.units)
    val dz = new Array[Double]((T + 2) * 4 * p.units)
    val dc = new Array[Double]((T + 2) * p.units)
    val z2 = new Array[Double](p.kc)
    val dzo = new Array[Double](p.kc)
  }
  private val scratchTL = new ThreadLocal[Scratch]
  private def scratchFor(T: Int, p: Packed): Scratch = {
    val c0 = scratchTL.get()
    if (c0 != null && c0.T == T && c0.unK == p.units && c0.kcK == p.kc) c0
    else {
      val n = new Scratch(T, p)
      scratchTL.set(n); n
    }
  }

  private def sig(z: Double): Double = 1.0 / (1.0 + math.exp(-z))

  /** One row's contribution — line-for-line the staged
    * [[LstmTrainer.gradients]] columns (Keras gate order, dc chained
    * through f_{t+1}, dh_{t<T} summed over all four gates' recurrent
    * matrices). */
  private def accumulate(s: Sample, p: Packed, g: Array[Double]): Unit = {
    val T = s.x.length
    val un = p.units
    val sc = scratchFor(T, p)
    // gates ((t*4+x)*un+u), cell c, tanh(c), hidden h — flat scratch
    // rows (t = 0 rows stay zero across reuse); add orders per
    // accumulator are the historical ones, so sums are bit-identical
    val gate = sc.gate; val c = sc.c; val tc = sc.tc; val h = sc.h
    var t = 1
    while (t <= T) {
      val xt = s.x(t - 1)
      val rp = t * un; val rm = (t - 1) * un
      var x = 0
      while (x < 4) {
        val gb = (t * 4 + x) * un
        val wxx = p.wx(x); val uux = p.uu(x); val bx = p.b(x)
        var u = 0
        while (u < un) {
          var acc = xt * wxx(u) + bx(u)
          val ub = u * un
          var v = 0
          while (v < un) { acc += h(rm + v) * uux(ub + v); v += 1 }
          gate(gb + u) = if (x == 2) math.tanh(acc) else sig(acc)
          u += 1
        }
        x += 1
      }
      val gi = (t * 4 + 0) * un; val gf = (t * 4 + 1) * un
      val gg = (t * 4 + 2) * un; val go = (t * 4 + 3) * un
      var u = 0
      while (u < un) {
        c(rp + u) = gate(gf + u) * c(rm + u) + gate(gi + u) * gate(gg + u)
        tc(rp + u) = math.tanh(c(rp + u))
        h(rp + u) = gate(go + u) * tc(rp + u)
        u += 1
      }
      t += 1
    }
    val z2 = sc.z2
    var o = 0
    while (o < p.kc) {
      var acc = p.b2(o)
      val wb = o * un
      var v = 0
      while (v < un) { acc += h(T * un + v) * p.w2(wb + v); v += 1 }
      z2(o) = acc; o += 1
    }
    var mx = z2(0); o = 1
    while (o < p.kc) { if (z2(o) > mx) mx = z2(o); o += 1 }
    var denom = 0.0; o = 0
    while (o < p.kc) { denom += math.exp(z2(o) - mx); o += 1 }
    val loss = math.log(denom) + mx - z2(s.y)
    if (s.iv) {
      g(p.statsOff + 2) += loss; g(p.statsOff + 3) += 1.0
      return // val rows contribute loss only, never gradients
    }
    g(p.statsOff) += loss; g(p.statsOff + 1) += 1.0
    val dzo = sc.dzo
    o = 0
    while (o < p.kc) {
      dzo(o) = math.exp(z2(o) - mx) / denom - (if (s.y == o) 1.0 else 0.0)
      g(p.b2Off + o) += dzo(o)
      val gwb = p.w2Off + o * un
      val dv = dzo(o)
      var v = 0
      while (v < un) { g(gwb + v) += dv * h(T * un + v); v += 1 }
      o += 1
    }
    // backward: dz ((t*4+x)*un+u) for the four gate pre-activation
    // deltas; column reads go through the TRANSPOSED copies
    val dz = sc.dz; val dc = sc.dc
    t = T
    while (t >= 1) {
      val rp = t * un; val rm = (t - 1) * un
      val gi = (t * 4 + 0) * un; val gf = (t * 4 + 1) * un
      val gg = (t * 4 + 2) * un; val go = (t * 4 + 3) * un
      var u = 0
      while (u < un) {
        var dh = 0.0
        if (t == T) {
          val tb = u * p.kc
          o = 0
          while (o < p.kc) { dh += dzo(o) * p.w2T(tb + o); o += 1 }
        } else {
          val ub = u * un
          var x = 0
          while (x < 4) {
            val db = ((t + 1) * 4 + x) * un
            val uT = p.uuT(x)
            var v = 0
            while (v < un) { dh += dz(db + v) * uT(ub + v); v += 1 }
            x += 1
          }
        }
        var dcu = dh * gate(go + u) * (1.0 - tc(rp + u) * tc(rp + u))
        if (t < T) dcu += dc((t + 1) * un + u) * gate(((t + 1) * 4 + 1) * un + u)
        dc(rp + u) = dcu
        val iu = gate(gi + u); val fu = gate(gf + u)
        val gu = gate(gg + u); val ou = gate(go + u)
        dz(gi + u) = dcu * gu * iu * (1.0 - iu)
        dz(gf + u) = dcu * c(rm + u) * fu * (1.0 - fu)
        dz(gg + u) = dcu * iu * (1.0 - gu * gu)
        dz(go + u) = dh * tc(rp + u) * ou * (1.0 - ou)
        u += 1
      }
      t -= 1
    }
    var x = 0
    while (x < 4) {
      var u = 0
      while (u < un) {
        var swx = 0.0; var sb = 0.0
        var t2 = 1
        while (t2 <= T) {
          val dzu = dz((t2 * 4 + x) * un + u)
          swx += dzu * s.x(t2 - 1); sb += dzu; t2 += 1
        }
        g(p.wxOff(x) + u) += swx
        g(p.bOff(x) + u) += sb
        var v = 0
        while (v < un) {
          var sw = 0.0
          t2 = 1
          while (t2 <= T) {
            sw += dz((t2 * 4 + x) * un + u) * h((t2 - 1) * un + v); t2 += 1
          }
          g(p.uOff(x) + u * un + v) += sw
          v += 1
        }
        u += 1
      }
      x += 1
    }
  }

  /** The single-layer LSTM kernel (no dropout). */
  case object Kernel extends TrainerCommon.Kernel[LstmWeights, LstmGrads] {
    type P = Packed
    def drops: Seq[Double] = Nil
    def pack(w: LstmWeights, T: Int): Packed = new Packed(w, T)
    def accumulate(s: Sample, p: Packed, epoch: Int,
        g: Array[Double]): Unit = WideLstm.accumulate(s, p, g)
    def grads(p: Packed, g: Array[Double], n: Double): LstmGrads = {
      val un = p.units; val kc = p.kc
      def gate(x: Int) = GateW(
        Seq.tabulate(un)(u => g(p.wxOff(x) + u) / n),
        Seq.tabulate(un, un)((u, v) => g(p.uOff(x) + u * un + v) / n),
        Seq.tabulate(un)(u => g(p.bOff(x) + u) / n))
      LstmGrads(gate(0), gate(1), gate(2), gate(3),
        Seq.tabulate(kc, un)((o, u) => g(p.w2Off + o * un + u) / n),
        Seq.tabulate(kc)(o => g(p.b2Off + o) / n),
        g(p.statsOff) / n)
    }
  }
}
