package graft.ml

/** Reference-WIDTH execution path for [[ConvTrainer]] — the flat
  * Conv1D member of the wide-twin family (see [[WideNet]] for the
  * representation rationale): identical math as per-partition
  * imperative accumulation + one O(params) treeAggregate per epoch.
  * Both pooling modes are supported; MaxPool replays the staged
  * first-argmax gradient routing exactly (position p routes iff
  * a[p] == pool and every earlier a[q] < pool). WideSinglesSpec pins
  * gradient-for-gradient equivalence against
  * [[ConvTrainer.gradientsVal]] for both pool modes, dropout and the
  * val slice included.
  */
object WideConv {
  import ConvTrainer.{ConvWeights, ConvGrads, Pooling, AvgPool, MaxPool}
  import TrainerCommon.Sample
  import WideNet.dropMaskLocal

  /** Packed weights: FLAT arrays plus a transposed head copy for the
    * backward pass's per-filter column reads (the WideNet layout —
    * r17, verdict task #1; same doubles, same arithmetic). */
  private[ml] final class Packed(w: ConvWeights, T: Int)
      extends TrainerCommon.Packed {
    val cw: Array[Double] = w.w.flatten.toArray          // (f*k+j)
    val cb: Array[Double] = w.b.toArray
    val w2: Array[Double] = w.w2.flatten.toArray         // (o*nf+v)
    val w2T: Array[Double] = {                            // (f*kc+o)
      val nf = w.filters; val kc = w.classes
      val t = new Array[Double](nf * kc)
      var o = 0
      while (o < kc) {
        var f = 0
        while (f < nf) { t(f * kc + o) = w2(o * nf + f); f += 1 }
        o += 1
      }
      t
    }
    val b2: Array[Double] = w.b2.toArray
    val nf: Int = w.filters
    val k: Int = w.kernel
    val kc: Int = w.classes
    require(T - k + 1 >= 1, s"input length $T < kernel $k")
    // gradient buffer: w (nf,k), b (nf), w2 (kc,nf), b2 (kc), then the
    // driver's stats tail
    val wOff: Int = 0
    val bOff: Int = wOff + nf * k
    val w2Off: Int = bOff + nf
    val b2Off: Int = w2Off + kc * nf
    val statsOff: Int = b2Off + kc
  }

  /** Per-thread reusable scratch (the WideNet pattern); `a` is laid
    * out (filter, position) so the pool scan and the backward's
    * per-filter position walk stream contiguously. Every array is
    * fully written before any read, so reuse across rows is safe. */
  private final class Scratch(val P: Int, p: Packed) {
    val nfK: Int = p.nf; val kK: Int = p.k; val kcK: Int = p.kc
    val a = new Array[Double](p.nf * P)
    val poolV = new Array[Double](p.nf)
    val mask = new Array[Double](p.nf)
    val dp = new Array[Double](p.nf)
    val z2 = new Array[Double](p.kc)
    val dzo = new Array[Double](p.kc)
  }
  private val scratchTL = new ThreadLocal[Scratch]
  private def scratchFor(P: Int, p: Packed): Scratch = {
    val c = scratchTL.get()
    if (c != null && c.P == P && c.nfK == p.nf && c.kK == p.k &&
      c.kcK == p.kc) c
    else {
      val n = new Scratch(P, p)
      scratchTL.set(n); n
    }
  }

  /** One row's contribution — line-for-line the staged
    * [[ConvTrainer.gradientsVal]] columns. */
  private def accumulate(s: Sample, p: Packed, epoch: Int,
      dropout: Double, maxPool: Boolean, g: Array[Double]): Unit = {
    val T = s.x.length
    val P = T - p.k + 1
    val nf = p.nf
    val sc = scratchFor(P, p)
    // conv + relu, (f, pos): filter-major so the pool scan and the
    // backward's position walk stream contiguously; 4 positions per
    // pass share one read of the kernel row. Cell values are written
    // once each and every dot keeps its j-ascending add order, so the
    // numbers are bit-identical to the (pos, f) form.
    val a = sc.a
    val x = s.x
    var f = 0
    while (f < nf) {
      val wb = f * p.k
      val ab = f * P
      val bf = p.cb(f)
      var pos = 0
      while (pos + 3 < P) {
        var a0 = bf; var a1 = bf; var a2 = bf; var a3 = bf
        var j = 0
        while (j < p.k) {
          val wj = p.cw(wb + j)
          a0 += x(pos + j) * wj; a1 += x(pos + 1 + j) * wj
          a2 += x(pos + 2 + j) * wj; a3 += x(pos + 3 + j) * wj
          j += 1
        }
        a(ab + pos) = if (a0 > 0) a0 else 0.0
        a(ab + pos + 1) = if (a1 > 0) a1 else 0.0
        a(ab + pos + 2) = if (a2 > 0) a2 else 0.0
        a(ab + pos + 3) = if (a3 > 0) a3 else 0.0
        pos += 4
      }
      while (pos < P) {
        var acc = bf
        var j = 0
        while (j < p.k) { acc += x(pos + j) * p.cw(wb + j); j += 1 }
        a(ab + pos) = if (acc > 0) acc else 0.0
        pos += 1
      }
      f += 1
    }
    // global pool + dropout on the pooled features
    val poolV = sc.poolV
    val mask = sc.mask
    val dp = sc.dp
    f = 0
    while (f < nf) {
      val ab = f * P
      if (maxPool) {
        var m = a(ab)
        var q = 1
        while (q < P) { if (a(ab + q) > m) m = a(ab + q); q += 1 }
        poolV(f) = m
      } else {
        var sum = 0.0
        var q = 0
        while (q < P) { sum += a(ab + q); q += 1 }
        poolV(f) = sum / P
      }
      mask(f) = dropMaskLocal(s.iv, s.rk, epoch, f, dropout)
      dp(f) = poolV(f) * mask(f)
      f += 1
    }
    val z2 = sc.z2
    var o = 0
    while (o < p.kc) {
      var acc = p.b2(o)
      val wb = o * nf
      var v = 0
      while (v < nf) { acc += dp(v) * p.w2(wb + v); v += 1 }
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
      val gwb = p.w2Off + o * nf
      val dv = dzo(o)
      var v = 0
      while (v < nf) { g(gwb + v) += dv * dp(v); v += 1 }
      o += 1
    }
    // backward to the conv layer: da routed per pooling mode, the head
    // gradient crossing the dropout mask (d dp/d pool = mask); dpool
    // reads the TRANSPOSED head row contiguousp. The g adds keep the
    // historical per-(f, pos2)-ascending direct-accumulation order.
    f = 0
    while (f < nf) {
      var dpool = 0.0
      val tb = f * p.kc
      o = 0
      while (o < p.kc) { dpool += dzo(o) * p.w2T(tb + o); o += 1 }
      dpool *= mask(f)
      val ab = f * P
      // first-argmax position for max routing (a[p] == pool; every
      // earlier a[q] < pool means the FIRST index attaining the max)
      var firstMax = -1
      if (maxPool) {
        var q = 0
        while (q < P && firstMax < 0) {
          if (a(ab + q) == poolV(f)) firstMax = q
          q += 1
        }
      }
      val gw = p.wOff + f * p.k
      var pos2 = 0
      while (pos2 < P) {
        val da =
          if (maxPool) { if (pos2 == firstMax) dpool else 0.0 }
          else dpool / P
        val dz = da * (if (a(ab + pos2) > 0) 1.0 else 0.0)
        if (dz != 0.0) {
          g(p.bOff + f) += dz
          var j = 0
          while (j < p.k) {
            g(gw + j) += dz * x(pos2 + j)
            j += 1
          }
        }
        pos2 += 1
      }
      f += 1
    }
  }

  /** The Conv1D kernel: `dropout` on the pooled features, `pool`
    * global average or first-argmax max pooling. */
  final case class Kernel(dropout: Double = 0.0,
      pool: Pooling = AvgPool)
      extends TrainerCommon.Kernel[ConvWeights, ConvGrads] {
    type P = Packed
    private val maxPool = pool == MaxPool
    def drops: Seq[Double] = Seq(dropout)
    def pack(w: ConvWeights, T: Int): Packed = new Packed(w, T)
    def accumulate(s: Sample, p: Packed, epoch: Int,
        g: Array[Double]): Unit =
      WideConv.accumulate(s, p, epoch, dropout, maxPool, g)
    def grads(p: Packed, g: Array[Double], n: Double): ConvGrads = {
      val nf = p.nf; val k = p.k; val kc = p.kc
      ConvGrads(
        Seq.tabulate(nf, k)((f, j) => g(p.wOff + f * k + j) / n),
        Seq.tabulate(nf)(f => g(p.bOff + f) / n),
        Seq.tabulate(kc, nf)((o, f) => g(p.w2Off + o * nf + f) / n),
        Seq.tabulate(kc)(o => g(p.b2Off + o) / n),
        g(p.statsOff) / n)
    }
  }
}
