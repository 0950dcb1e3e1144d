package graft.ml

/** Reference-WIDTH execution path for [[Mlp3Trainer]] — the stacked-MLP
  * member of the [[WideNet]]/[[WideRnn2]]/[[WideLstm2]] twin family
  * (see WideNet for the representation rationale): identical math as
  * per-partition imperative gradient accumulation + one O(params)
  * treeAggregate per pass. The staged-expression form is the
  * FD-checkable source of truth but cannot express 256/128-wide layers
  * without quadratic plan blowup; this is the execution form that
  * REACHES the reference's `models/mlp_model.py:19-26` widths
  * (Dense 256 → Dropout .3 → Dense 128 → Dropout .3 → Dense 64 →
  * softmax). Mlp3TrainerSpec pins gradient-for-gradient equivalence
  * against [[Mlp3Trainer.gradientsVal]] at narrow widths, dropout
  * masks and the val slice included, and trains the reference widths
  * end-to-end.
  */
object WideMlp3 {
  import Mlp3Trainer.{W, G}
  import TrainerCommon.Sample
  import WideNet.{denseDot, denseGrad, dropMaskLocal, softmaxCE}

  /** Packed weights: FLAT per-layer arrays plus TRANSPOSED copies for
    * the backward pass's column reads (the WideNet/WideLstm2 layout —
    * r17, verdict task #1; same doubles, same arithmetic, layout
    * only). `wsF(l)(u*in+i)` is row-major; `wsT(l)(i*out+u)` serves
    * `dz(u) = Σ_v dzUpper(v)·W_{l+1}(v)(u)` as a contiguous stream. */
  private[ml] final class Packed(w: W, T: Int)
      extends TrainerCommon.Packed {
    val outW: Array[Int] = w.ws.map(_.length).toArray
    val inW: Array[Int] = w.ws.map(_.head.length).toArray
    val wsF: Array[Array[Double]] =
      w.ws.map(_.flatten.toArray).toArray
    val wsT: Array[Array[Double]] = Array.tabulate(w.ws.length) { l =>
      val out = outW(l); val in = inW(l)
      val t = new Array[Double](out * in)
      var u = 0
      while (u < out) {
        var i = 0
        while (i < in) { t(i * out + u) = wsF(l)(u * in + i); i += 1 }
        u += 1
      }
      t
    }
    val bs: Array[Array[Double]] = w.bs.map(_.toArray).toArray
    val L: Int = wsF.length - 1 // hidden layer count
    val kc: Int = outW(L)
    val d: Int = inW(0)
    require(d == T, "feature count != weight width")
    /** Per-hidden-layer mask-unit offsets (cumulative hidden widths —
      * the [[Mlp3Trainer]] scheme, so the two paths draw IDENTICAL
      * masks). */
    val offs: Array[Int] = {
      val o = new Array[Int](L)
      var acc = 0; var l = 0
      while (l < L) { o(l) = acc; acc += outW(l); l += 1 }
      o
    }
    // gradient buffer: per layer l (0..L) w (out×in) then b (out),
    // then the driver's stats tail
    val wOff: Array[Int] = new Array[Int](L + 1)
    val bOff: Array[Int] = new Array[Int](L + 1)
    val statsOff: Int = {
      var acc = 0; var l = 0
      while (l <= L) {
        wOff(l) = acc; acc += outW(l) * inW(l)
        bOff(l) = acc; acc += outW(l)
        l += 1
      }
      acc
    }
  }

  /** Per-thread reusable scratch (the WideNet pattern): every array is
    * fully written before any read, so reuse across rows is safe. */
  private final class Scratch(p: Packed) {
    val key: Array[Int] = p.outW.clone()
    val z: Array[Array[Double]] =
      Array.tabulate(p.L)(l => new Array[Double](p.outW(l)))
    val a: Array[Array[Double]] =
      Array.tabulate(p.L)(l => new Array[Double](p.outW(l)))
    val mask: Array[Array[Double]] =
      Array.tabulate(p.L)(l => new Array[Double](p.outW(l)))
    val zo = new Array[Double](p.kc)
    val dzo = new Array[Double](p.kc)
    val dz: Array[Array[Double]] =
      Array.tabulate(p.L)(l => new Array[Double](p.outW(l)))
  }
  private val scratchTL = new ThreadLocal[Scratch]
  private def scratchFor(p: Packed): Scratch = {
    val c = scratchTL.get()
    if (c != null && java.util.Arrays.equals(c.key, p.outW)) c
    else {
      val n = new Scratch(p)
      scratchTL.set(n); n
    }
  }

  /** One row's contribution — line-for-line
    * [[Mlp3Trainer.gradientsVal]]'s staged columns: z_l = W_l a_{l-1} +
    * b_l, a_l = relu(z_l) * mask_l, max-shifted softmax CE,
    * dz_l = (W_{l+1}ᵀ dz_{l+1}) * mask_l * relu'(z_l). A short driver
    * over per-layer forward and backward steps (the WideNet.accumulate
    * note; WideKernelShapeSpec). */
  private def accumulate(s: Sample, p: Packed, epoch: Int,
      drops: Array[Double], g: Array[Double]): Unit = {
    val L = p.L
    val sc = scratchFor(p)
    var prev: Array[Double] = s.x
    var l = 0
    while (l < L) {
      forward(s, p, sc, l, prev, epoch, drops(l))
      prev = sc.a(l)
      l += 1
    }
    denseDot(sc.zo, p.bs(L), p.wsF(L), prev, prev.length, p.kc)
    val loss = softmaxCE(sc.zo, p.kc, s.y, sc.dzo)
    if (s.iv) {
      g(p.statsOff + 2) += loss; g(p.statsOff + 3) += 1.0
      return // val rows contribute loss only, never gradients
    }
    g(p.statsOff) += loss; g(p.statsOff + 1) += 1.0
    denseGrad(g, p.wOff(L), p.bOff(L), sc.dzo, p.kc, prev, prev.length)
    var dzUpper: Array[Double] = sc.dzo
    l = L - 1
    while (l >= 0) {
      backward(p, sc, l, dzUpper)
      val ins = if (l == 0) s.x else sc.a(l - 1)
      denseGrad(g, p.wOff(l), p.bOff(l), sc.dz(l), p.outW(l), ins,
        ins.length)
      dzUpper = sc.dz(l)
      l -= 1
    }
  }

  /** Hidden layer `l` over its input `prev`: 4 units per pass share one
    * read of the input stream (independent accumulator chains; each
    * keeps the historical b-then-ascending-i add order, so sums are
    * bit-identical). */
  private def forward(s: Sample, p: Packed, sc: Scratch, l: Int,
      prev: Array[Double], epoch: Int, dl: Double): Unit = {
    val width = p.outW(l); val in = prev.length
    val zl = sc.z(l); val al = sc.a(l); val ml = sc.mask(l)
    val wf = p.wsF(l); val bl = p.bs(l)
    val off = p.offs(l)
    var u = 0
    while (u + 3 < width) {
      var a0 = bl(u); var a1 = bl(u + 1)
      var a2 = bl(u + 2); var a3 = bl(u + 3)
      val w0 = u * in; val w1 = (u + 1) * in
      val w2 = (u + 2) * in; val w3 = (u + 3) * in
      var i = 0
      while (i < in) {
        val pv = prev(i)
        a0 += pv * wf(w0 + i); a1 += pv * wf(w1 + i)
        a2 += pv * wf(w2 + i); a3 += pv * wf(w3 + i)
        i += 1
      }
      zl(u) = a0; zl(u + 1) = a1; zl(u + 2) = a2; zl(u + 3) = a3
      u += 4
    }
    while (u < width) {
      var acc = bl(u)
      val wb = u * in
      var i = 0
      while (i < in) { acc += prev(i) * wf(wb + i); i += 1 }
      zl(u) = acc
      u += 1
    }
    u = 0
    while (u < width) {
      ml(u) = dropMaskLocal(s.iv, s.rk, epoch, off + u, dl)
      al(u) = (if (zl(u) > 0) zl(u) else 0.0) * ml(u)
      u += 1
    }
  }

  /** dz of hidden layer `l` via the TRANSPOSED upper weights
    * (contiguous over v), 4 units per pass sharing one read of the
    * `dzUpper` stream; per-unit add order unchanged. */
  private def backward(p: Packed, sc: Scratch, l: Int,
      dzUpper: Array[Double]): Unit = {
    val width = p.outW(l)
    val upT = p.wsT(l + 1) // (width × upperWidth), row u contiguous
    val uw = dzUpper.length
    val dz = sc.dz(l)
    var u = 0
    while (u + 3 < width) {
      var s0 = 0.0; var s1 = 0.0; var s2 = 0.0; var s3 = 0.0
      val t0 = u * uw; val t1 = (u + 1) * uw
      val t2 = (u + 2) * uw; val t3 = (u + 3) * uw
      var v = 0
      while (v < uw) {
        val dv = dzUpper(v)
        s0 += dv * upT(t0 + v); s1 += dv * upT(t1 + v)
        s2 += dv * upT(t2 + v); s3 += dv * upT(t3 + v)
        v += 1
      }
      dz(u) = s0; dz(u + 1) = s1; dz(u + 2) = s2; dz(u + 3) = s3
      u += 4
    }
    while (u < width) {
      var acc = 0.0
      val tb = u * uw
      var v = 0
      while (v < uw) { acc += dzUpper(v) * upT(tb + v); v += 1 }
      dz(u) = acc
      u += 1
    }
    val zl = sc.z(l); val ml = sc.mask(l)
    u = 0
    while (u < width) {
      dz(u) = dz(u) * ml(u) * (if (zl(u) > 0) 1.0 else 0.0)
      u += 1
    }
  }

  /** The depth-k dense kernel: `drops` gives one inverted-dropout rate
    * per hidden layer (the reference's `Seq(0.3, 0.3, 0.0)`). At one
    * hidden layer it is [[GdTrainer]]'s single-hidden MLP — the same
    * mask units, add orders and buffer layout (Mlp3TrainerSpec,
    * WideSinglesSpec). */
  final case class Kernel(drops: Seq[Double])
      extends TrainerCommon.Kernel[W, G] {
    type P = Packed
    private val dropsArr = drops.toArray
    def pack(w: W, T: Int): Packed = {
      require(drops.length == w.nLayers - 1, "drops must give one rate " +
        s"per hidden layer (${w.nLayers - 1}), got ${drops.length}")
      new Packed(w, T)
    }
    def accumulate(s: Sample, p: Packed, epoch: Int,
        g: Array[Double]): Unit =
      WideMlp3.accumulate(s, p, epoch, dropsArr, g)
    def grads(p: Packed, g: Array[Double], n: Double): G = G(
      (0 to p.L).map(l => Seq.tabulate(p.outW(l), p.inW(l))((u, i) =>
        g(p.wOff(l) + u * p.inW(l) + i) / n)),
      (0 to p.L).map(l => Seq.tabulate(p.outW(l))(u =>
        g(p.bOff(l) + u) / n)),
      g(p.statsOff) / n)
  }
}
