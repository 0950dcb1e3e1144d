package graft.ml

/** Reference-WIDTH execution path for [[RnnTrainer]] — the single-layer
  * SimpleRNN member of the wide-twin family (see [[WideNet]] for the
  * representation rationale): the same BPTT math as per-partition
  * imperative accumulation + one O(params) treeAggregate per epoch, the
  * honest execution form at the reference's real widths
  * (`models/rnn_model.py:19-26`: SimpleRNN(64)). WideSinglesSpec pins
  * gradient-for-gradient equivalence against
  * [[RnnTrainer.gradientsVal]], the post-recurrence dropout mask and
  * the val slice included.
  */
object WideRnn {
  import RnnTrainer.{RnnWeights, RnnGrads}
  import TrainerCommon.Sample
  import WideNet.dropMaskLocal

  /** Packed weights: FLAT arrays plus TRANSPOSED copies for the
    * backward pass's column reads (the WideNet layout — r17, verdict
    * task #1; same doubles, same arithmetic). */
  private[ml] final class Packed(w: RnnWeights, T: Int)
      extends TrainerCommon.Packed {
    val wx: Array[Double] = w.wx.toArray
    val wh: Array[Double] = w.wh.flatten.toArray         // (u*un+v)
    val b: Array[Double] = w.b.toArray
    val w2: Array[Double] = w.w2.flatten.toArray         // (o*un+u)
    val b2: Array[Double] = w.b2.toArray
    val units: Int = w.units
    val kc: Int = w.classes
    val whT: Array[Double] = {                            // (u*un+v) = wh(v)(u)
      val t = new Array[Double](units * units)
      var u = 0
      while (u < units) {
        var v = 0
        while (v < units) { t(u * units + v) = wh(v * units + u); v += 1 }
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
    // gradient buffer: wx (u), wh (u,u), b (u), w2 (kc,u), b2 (kc), then
    // the driver's stats tail
    val wxOff: Int = 0
    val whOff: Int = wxOff + units
    val bOff: Int = whOff + units * units
    val w2Off: Int = bOff + units
    val b2Off: Int = w2Off + kc * units
    val statsOff: Int = b2Off + kc
  }

  /** Per-thread reusable scratch (the WideNet pattern). `h` rows for
    * t = 0 are never written and must stay zero: they are zeroed once
    * at construction and never assigned after, so reuse is safe; all
    * other cells are fully written before any read. */
  private final class Scratch(val T: Int, p: Packed) {
    val unK: Int = p.units; val kcK: Int = p.kc
    val h = new Array[Double]((T + 1) * p.units)    // h(t*un+u), t0 = 0
    val dz = new Array[Double]((T + 2) * p.units)
    val mask = new Array[Double](p.units)
    val aT = new Array[Double](p.units)
    val z2 = new Array[Double](p.kc)
    val dzo = new Array[Double](p.kc)
  }
  private val scratchTL = new ThreadLocal[Scratch]
  private def scratchFor(T: Int, p: Packed): Scratch = {
    val c = scratchTL.get()
    if (c != null && c.T == T && c.unK == p.units && c.kcK == p.kc) c
    else {
      val n = new Scratch(T, p)
      scratchTL.set(n); n
    }
  }

  /** One row's contribution — line-for-line the staged
    * [[RnnTrainer.gradientsVal]] columns: relu recurrence, dropout on
    * h_T only (the post-recurrence Keras position), softmax head, and
    * the dh_{t-1} = whT dz_t backward chain. */
  private def accumulate(s: Sample, p: Packed, epoch: Int,
      dropout: Double, g: Array[Double]): Unit = {
    val T = s.x.length
    val un = p.units
    val sc = scratchFor(T, p)
    // forward — flat h rows; 4 units per pass share one read of the
    // previous state row (independent accumulator chains, each keeping
    // the historical xt*wx + b then v-ascending add order)
    val h = sc.h
    var t = 1
    while (t <= T) {
      val xt = s.x(t - 1)
      val rp = t * un; val rm = (t - 1) * un
      var u = 0
      while (u + 3 < un) {
        var a0 = xt * p.wx(u) + p.b(u)
        var a1 = xt * p.wx(u + 1) + p.b(u + 1)
        var a2 = xt * p.wx(u + 2) + p.b(u + 2)
        var a3 = xt * p.wx(u + 3) + p.b(u + 3)
        val w0 = u * un; val w1 = (u + 1) * un
        val w2 = (u + 2) * un; val w3 = (u + 3) * un
        var v = 0
        while (v < un) {
          val hv = h(rm + v)
          a0 += hv * p.wh(w0 + v); a1 += hv * p.wh(w1 + v)
          a2 += hv * p.wh(w2 + v); a3 += hv * p.wh(w3 + v)
          v += 1
        }
        h(rp + u) = if (a0 > 0) a0 else 0.0
        h(rp + u + 1) = if (a1 > 0) a1 else 0.0
        h(rp + u + 2) = if (a2 > 0) a2 else 0.0
        h(rp + u + 3) = if (a3 > 0) a3 else 0.0
        u += 4
      }
      while (u < un) {
        var acc = xt * p.wx(u) + p.b(u)
        val wb = u * un
        var v = 0
        while (v < un) { acc += h(rm + v) * p.wh(wb + v); v += 1 }
        h(rp + u) = if (acc > 0) acc else 0.0
        u += 1
      }
      t += 1
    }
    val mask = sc.mask
    val aT = sc.aT
    var u = 0
    while (u < un) {
      mask(u) = dropMaskLocal(s.iv, s.rk, epoch, u, dropout)
      aT(u) = h(T * un + u) * mask(u); u += 1
    }
    val z2 = sc.z2
    var o = 0
    while (o < p.kc) {
      var acc = p.b2(o)
      val wb = o * un
      var v = 0
      while (v < un) { acc += aT(v) * p.w2(wb + v); v += 1 }
      z2(o) = acc; o += 1
    }
    var mx = z2(0); o = 1
    while (o < p.kc) { if (z2(o) > mx) mx = z2(o); o += 1 }
    var denom = 0.0; o = 0
    while (o < p.kc) { denom += math.exp(z2(o) - mx); o += 1 }
    val loss = math.log(denom) + mx - z2(s.y)
    if (s.iv) {
      g(p.statsOff + 2) += loss; g(p.statsOff + 3) += 1.0
      return
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
      while (v < un) { g(gwb + v) += dv * aT(v); v += 1 }
      o += 1
    }
    // backward: dz_t = dh_t * relu'(h_t); dh_T crosses the dropout
    // mask. Column reads go through the TRANSPOSED copies (whT / w2T)
    // so the inner loops stream contiguously; add orders unchanged.
    val dz = sc.dz
    t = T
    while (t >= 1) {
      val rp = t * un
      var u2 = 0
      while (u2 < un) {
        var dh = 0.0
        if (t == T) {
          val tb = u2 * p.kc
          o = 0
          while (o < p.kc) { dh += dzo(o) * p.w2T(tb + o); o += 1 }
          dh *= mask(u2)
        } else {
          val tb = u2 * un
          val db = (t + 1) * un
          var v = 0
          while (v < un) { dh += dz(db + v) * p.whT(tb + v); v += 1 }
        }
        dz(rp + u2) = dh * (if (h(rp + u2) > 0) 1.0 else 0.0)
        u2 += 1
      }
      t -= 1
    }
    u = 0
    while (u < un) {
      var swx = 0.0; var sb = 0.0
      var t2 = 1
      while (t2 <= T) {
        val dzu = dz(t2 * un + u)
        swx += dzu * s.x(t2 - 1); sb += dzu; t2 += 1
      }
      g(p.wxOff + u) += swx
      g(p.bOff + u) += sb
      var v = 0
      while (v < un) {
        var sw = 0.0
        t2 = 1
        while (t2 <= T) {
          sw += dz(t2 * un + u) * h((t2 - 1) * un + v); t2 += 1
        }
        g(p.whOff + u * un + v) += sw
        v += 1
      }
      u += 1
    }
  }

  /** The SimpleRNN kernel; `dropout` is the post-recurrence rate on h_T. */
  final case class Kernel(dropout: Double = 0.0)
      extends TrainerCommon.Kernel[RnnWeights, RnnGrads] {
    type P = Packed
    def drops: Seq[Double] = Seq(dropout)
    def pack(w: RnnWeights, T: Int): Packed = new Packed(w, T)
    def accumulate(s: Sample, p: Packed, epoch: Int,
        g: Array[Double]): Unit =
      WideRnn.accumulate(s, p, epoch, dropout, g)
    def grads(p: Packed, g: Array[Double], n: Double): RnnGrads = {
      val un = p.units; val kc = p.kc
      RnnGrads(
        Seq.tabulate(un)(u => g(p.wxOff + u) / n),
        Seq.tabulate(un, un)((u, v) => g(p.whOff + u * un + v) / n),
        Seq.tabulate(un)(u => g(p.bOff + u) / n),
        Seq.tabulate(kc, un)((o, u) => g(p.w2Off + o * un + u) / n),
        Seq.tabulate(kc)(o => g(p.b2Off + o) / n),
        g(p.statsOff) / n)
    }
  }
}
