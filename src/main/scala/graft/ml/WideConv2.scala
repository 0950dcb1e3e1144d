package graft.ml

/** Reference-WIDTH execution path for [[Conv2Trainer]] — the stacked
  * two-block Conv1D member of the wide-twin family (see [[WideNet]]
  * for the representation rationale): identical math as per-partition
  * imperative accumulation + one O(params) treeAggregate per epoch.
  * Both argmax routings replay the staged first-argmax semantics
  * exactly — the local 2-window pool routes position p iff its
  * activation equals the window max and the earlier window position is
  * strictly below it, and the global pool routes the FIRST conv2
  * position attaining the per-filter max. WideConv2Spec pins
  * gradient-for-gradient equivalence against
  * [[Conv2Trainer.gradients]] and fit-trajectory equality; the staged
  * trainer remains the semantic source of truth (FD-gated in
  * Conv2TrainerSpec) and keeps serving `predictStaged`.
  */
object WideConv2 {
  import Conv2Trainer.{Conv2Weights, Conv2Grads}
  import TrainerCommon.Sample

  /** Packed weights: FLAT arrays plus TRANSPOSED copies for the
    * backward pass's column reads (the WideNet layout — r17, verdict
    * task #1; same doubles, same arithmetic). */
  private[ml] final class Packed(w: Conv2Weights, T: Int)
      extends TrainerCommon.Packed {
    val w1: Array[Double] = w.w1.flatten.toArray         // (f*k+j)
    val b1: Array[Double] = w.b1.toArray
    // flat (g*k+j)*f1+f — position-major kernel over f1 input channels
    val w2: Array[Double] = w.w2.flatten.flatten.toArray
    val b2: Array[Double] = w.b2.toArray
    val wh: Array[Double] = w.wh.flatten.toArray         // (o*f2+g)
    val bh: Array[Double] = w.bh.toArray
    val f1: Int = w.f1
    val f2: Int = w.f2
    val k: Int = w.k
    val kc: Int = w.classes
    val w2T: Array[Double] = {                            // ((j*f1+f)*f2+g)
      val t = new Array[Double](f2 * k * f1)
      var gg = 0
      while (gg < f2) {
        var j = 0
        while (j < k) {
          var f = 0
          while (f < f1) {
            t((j * f1 + f) * f2 + gg) = w2((gg * k + j) * f1 + f)
            f += 1
          }
          j += 1
        }
        gg += 1
      }
      t
    }
    val whT: Array[Double] = {                            // (g*kc+o)
      val t = new Array[Double](f2 * kc)
      var o = 0
      while (o < kc) {
        var gg = 0
        while (gg < f2) { t(gg * kc + o) = wh(o * f2 + gg); gg += 1 }
        o += 1
      }
      t
    }
    // gradient buffer: w1 (f,i), b1 (f), w2 (g,j,f), b2 (g), wh (o,g),
    // bh (o), then the driver's stats tail
    val P1: Int = T - k + 1
    val J: Int = P1 / 2
    val P2: Int = J - k + 1
    require(P1 >= 1 && P2 >= 1,
      s"input length $T too short for stacked kernels $k")
    val w1Off: Int = 0
    val b1Off: Int = w1Off + f1 * k
    val w2Off: Int = b1Off + f1
    val b2Off: Int = w2Off + f2 * k * f1
    val whOff: Int = b2Off + f2
    val bhOff: Int = whOff + kc * f2
    val statsOff: Int = bhOff + kc
  }

  /** Per-thread reusable scratch (the WideNet pattern). `dz2` is the
    * one sparsely-written buffer (argmax routing) and is explicitly
    * re-zeroed per use; everything else is fully written before read. */
  private final class Scratch(val T: Int, p: Packed) {
    val f1K: Int = p.f1; val f2K: Int = p.f2
    val kK: Int = p.k; val kcK: Int = p.kc
    val a1 = new Array[Double](p.P1 * p.f1)
    val m1 = new Array[Double](p.J * p.f1)
    val a2 = new Array[Double](p.P2 * p.f2)
    val gp = new Array[Double](p.f2)
    val z = new Array[Double](p.kc)
    val dzo = new Array[Double](p.kc)
    val dz2 = new Array[Double](p.P2 * p.f2)
    val dm1 = new Array[Double](p.J * p.f1)
  }
  private val scratchTL = new ThreadLocal[Scratch]
  private def scratchFor(T: Int, p: Packed): Scratch = {
    val c = scratchTL.get()
    if (c != null && c.T == T && c.f1K == p.f1 && c.f2K == p.f2 &&
      c.kK == p.k && c.kcK == p.kc) c
    else {
      val n = new Scratch(T, p)
      scratchTL.set(n); n
    }
  }

  /** One row's contribution — line-for-line the staged
    * [[Conv2Trainer.gradients]] columns. */
  private def accumulate(s: Sample, p: Packed, g: Array[Double]): Unit = {
    val k = p.k; val f1 = p.f1; val f2 = p.f2; val kc = p.kc
    val P1 = p.P1; val J = p.J; val P2 = p.P2
    val sc = scratchFor(s.x.length, p)
    // conv1 + relu, (pos, f) row-major
    val a1 = sc.a1
    var pos = 0
    while (pos < P1) {
      var f = 0
      while (f < f1) {
        var acc = p.b1(f)
        val wb = f * k
        var j = 0
        while (j < k) { acc += s.x(pos + j) * p.w1(wb + j); j += 1 }
        a1(pos * f1 + f) = if (acc > 0) acc else 0.0
        f += 1
      }
      pos += 1
    }
    // local 2-window max pool, (j, f)
    val m1 = sc.m1
    var jw = 0
    while (jw < J) {
      var f = 0
      while (f < f1) {
        val x0 = a1(2 * jw * f1 + f); val x1 = a1((2 * jw + 1) * f1 + f)
        m1(jw * f1 + f) = if (x0 >= x1) x0 else x1
        f += 1
      }
      jw += 1
    }
    // conv2 + relu over f1 channels, (pos, g): the flat (g*k+j)*f1+f
    // kernel row is CONTIGUOUS over (j, f) — exactly the order the
    // window reads m1 — so the conv is one straight dot product
    val a2 = sc.a2
    pos = 0
    while (pos < P2) {
      val base = pos * f1
      val klen = k * f1
      var gg = 0
      while (gg < f2) {
        var acc = p.b2(gg)
        val wb = gg * klen
        var idx = 0
        while (idx < klen) { acc += m1(base + idx) * p.w2(wb + idx); idx += 1 }
        a2(pos * f2 + gg) = if (acc > 0) acc else 0.0
        gg += 1
      }
      pos += 1
    }
    // global max pool over P2, per filter
    val gp = sc.gp
    var gg = 0
    while (gg < f2) {
      var m = a2(gg)
      var q = 1
      while (q < P2) {
        val v = a2(q * f2 + gg)
        if (v > m) m = v
        q += 1
      }
      gp(gg) = m
      gg += 1
    }
    // head + max-shifted softmax CE (TrainerCommon.softmaxHead algebra)
    val z = sc.z
    var o = 0
    while (o < kc) {
      var acc = p.bh(o)
      val wb = o * f2
      var v = 0
      while (v < f2) { acc += gp(v) * p.wh(wb + v); v += 1 }
      z(o) = acc; o += 1
    }
    var mx = z(0); o = 1
    while (o < kc) { if (z(o) > mx) mx = z(o); o += 1 }
    var denom = 0.0; o = 0
    while (o < kc) { denom += math.exp(z(o) - mx); o += 1 }
    val loss = math.log(denom) + mx - z(s.y)
    if (s.iv) {
      g(p.statsOff + 2) += loss; g(p.statsOff + 3) += 1.0
      return // val rows contribute loss only, never gradients
    }
    g(p.statsOff) += loss; g(p.statsOff + 1) += 1.0
    val dzo = sc.dzo
    o = 0
    while (o < kc) {
      dzo(o) = math.exp(z(o) - mx) / denom - (if (s.y == o) 1.0 else 0.0)
      g(p.bhOff + o) += dzo(o)
      val gwb = p.whOff + o * f2
      val dv = dzo(o)
      var v = 0
      while (v < f2) { g(gwb + v) += dv * gp(v); v += 1 }
      o += 1
    }
    // dz2: global-max first-argmax routing + relu mask (sparse writes
    // — explicitly re-zeroed per use)
    val dz2 = sc.dz2
    java.util.Arrays.fill(dz2, 0, P2 * f2, 0.0)
    gg = 0
    while (gg < f2) {
      var dgp = 0.0
      val tb = gg * kc
      o = 0
      while (o < kc) { dgp += dzo(o) * p.whT(tb + o); o += 1 }
      var firstMax = -1
      var q = 0
      while (q < P2 && firstMax < 0) {
        if (a2(q * f2 + gg) == gp(gg)) firstMax = q
        q += 1
      }
      if (firstMax >= 0 && a2(firstMax * f2 + gg) > 0)
        dz2(firstMax * f2 + gg) = dgp
      gg += 1
    }
    // conv2 kernel/bias grads
    gg = 0
    while (gg < f2) {
      var gb = 0.0
      var q = 0
      while (q < P2) { gb += dz2(q * f2 + gg); q += 1 }
      g(p.b2Off + gg) += gb
      var j = 0
      while (j < k) {
        var f = 0
        while (f < f1) {
          var gw = 0.0
          q = 0
          while (q < P2) {
            gw += dz2(q * f2 + gg) * m1((q + j) * f1 + f)
            q += 1
          }
          g(p.w2Off + (gg * k + j) * f1 + f) += gw
          f += 1
        }
        j += 1
      }
      gg += 1
    }
    // dm1 via the TRANSPOSED W2 (contiguous over g2), then conv1
    // pre-activation grads (local-max + relu); add order unchanged
    val dm1 = sc.dm1
    jw = 0
    while (jw < J) {
      var f = 0
      while (f < f1) {
        var acc = 0.0
        var q = math.max(0, jw - k + 1)
        val qMax = math.min(P2 - 1, jw)
        while (q <= qMax) {
          val tb = ((jw - q) * f1 + f) * f2
          val db = q * f2
          var g2 = 0
          while (g2 < f2) {
            acc += dz2(db + g2) * p.w2T(tb + g2)
            g2 += 1
          }
          q += 1
        }
        dm1(jw * f1 + f) = acc
        f += 1
      }
      jw += 1
    }
    pos = 0
    while (pos < P1) {
      val j = pos / 2
      if (j < J) {
        var f = 0
        while (f < f1) {
          val target = m1(j * f1 + f)
          val av = a1(pos * f1 + f)
          val route =
            if (pos == 2 * j) av == target
            else a1(2 * j * f1 + f) < target && av == target
          if (route && av > 0) {
            val dz = dm1(j * f1 + f)
            if (dz != 0.0) {
              g(p.b1Off + f) += dz
              val gwb = p.w1Off + f * k
              var i = 0
              while (i < k) {
                g(gwb + i) += dz * s.x(pos + i)
                i += 1
              }
            }
          }
          f += 1
        }
      }
      pos += 1
    }
  }

  /** The stacked two-block Conv1D kernel (no dropout). */
  case object Kernel extends TrainerCommon.Kernel[Conv2Weights, Conv2Grads] {
    type P = Packed
    def drops: Seq[Double] = Nil
    def pack(w: Conv2Weights, T: Int): Packed = new Packed(w, T)
    def accumulate(s: Sample, p: Packed, epoch: Int,
        g: Array[Double]): Unit = WideConv2.accumulate(s, p, g)
    def grads(p: Packed, g: Array[Double], n: Double): Conv2Grads = {
      val f1 = p.f1; val f2 = p.f2; val k = p.k; val kc = p.kc
      Conv2Grads(
        Seq.tabulate(f1, k)((f, i) => g(p.w1Off + f * k + i) / n),
        Seq.tabulate(f1)(f => g(p.b1Off + f) / n),
        Seq.tabulate(f2, k, f1)((gg, j, f) =>
          g(p.w2Off + (gg * k + j) * f1 + f) / n),
        Seq.tabulate(f2)(gg => g(p.b2Off + gg) / n),
        Seq.tabulate(kc, f2)((o, gg) => g(p.whOff + o * f2 + gg) / n),
        Seq.tabulate(kc)(o => g(p.bhOff + o) / n),
        g(p.statsOff) / n)
    }
  }
}
