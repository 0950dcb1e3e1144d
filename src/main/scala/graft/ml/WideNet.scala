package graft.ml

import org.apache.spark.sql.catalyst.expressions.XXH64

/** Reference-WIDTH execution path for [[ConvNetTrainer]]: identical
  * math, different physical representation.
  *
  * The staged-expression trainers unroll every (position, filter) cell
  * into its own Catalyst column — ideal at fixture widths (whole-stage
  * codegen, zero serialization, the oracle can watch every tensor), but
  * plan size grows as O(width^2) expression nodes, and at the
  * reference's real widths (`models/cnn_model.py:21-32`: 32/64/128
  * filters + Dense(128)) a single epoch's plan has tens of millions of
  * nodes — the wrong tool. At those widths the industry Spark shape is
  * the one MLlib's own GD/L-BFGS uses: per-partition IMPERATIVE gradient
  * accumulation over typed rows, merged with `treeAggregate`, weights
  * broadcast once per epoch. Work per row is the same flops the staged
  * plan would do; the cluster contract is the same (one O(params)
  * reduction per epoch, full-batch semantics); only the per-row
  * evaluator changes from generated code over columns to a hand-written
  * loop over arrays.
  *
  * EQUIVALENCE CONTRACT: every number this object produces — per-tensor
  * mean gradients, train loss, validation loss, the deterministic
  * dropout mask, the early-stop trajectory — matches
  * [[ConvNetTrainer.gradientsVal]] at any width where the staged plan is
  * tractable. WideNetSpec pins gradient-for-gradient agreement (with and
  * without dropout, with a validation slice) at the spec widths; the
  * reference-width run then exercises THIS path, so "width is only a
  * constructor argument" is demonstrated, not asserted.
  *
  * The dropout mask replays [[TrainerCommon.dropMask]] bit-for-bit:
  * Spark's `xxhash64(rk, epoch, u)` is XXH64 seeded 42 folded over the
  * children (longs and ints hash via hashLong/hashInt), and the keep
  * threshold uses the same rounded `1000 p` cutoff — so a row keeps the
  * same units under either execution path.
  */
object WideNet {
  import ConvNetTrainer.{NetWeights, NetGrads}
  import TrainerCommon.Sample

  /** Packed weights as ARRAYS-OF-ROWS: every hot loop in [[accumulate]]
    * is a daxpy (`acc(f) += s * w(f)`) whose operands are 0-BASED rows.
    * JDK 17's SuperWord auto-vectorizer only vectorizes that exact
    * shape — any loop-invariant index base (`acc(ob+f) += s * w(wb+f)`)
    * defeats its alias analysis and the loop stays scalar (measured in
    * isolation on this box: 13-15 gflop/s vectorized vs 3-5 scalar; the
    * kernel-shape probe read 1.4-2.4x per loop family). The row split
    * changes where doubles live, never their values; each row is a
    * contiguous slice of the r16 flat layouts. */
  private[ml] final class Packed(w: NetWeights, val T: Int)
      extends TrainerCommon.Packed {
    val blocks: Int = w.convW.length
    val k: Int = w.convW(0)(0).length
    val fs: Array[Int] = w.convW.map(_.length).toArray
    val fin: Array[Int] = w.convW.map(_(0)(0).length).toArray
    // cw(b)((f*k+j)*fin+c) — the flat kernel row for filter f
    val cw: Array[Array[Double]] =
      w.convW.map(_.flatten.flatten.toArray).toArray
    // cwTR(b)(j*fin+c)(f): transposed rows — the forward daxpy's vector
    // dimension is the filter index f
    val cwTR: Array[Array[Array[Double]]] = Array.tabulate(blocks) { b =>
      Array.tabulate(k * fin(b)) { idx =>
        Array.tabulate(fs(b))(f => cw(b)(f * k * fin(b) + idx))
      }
    }
    // cwR(b)(f*k+j)(c): natural kernel rows — the input-gradient
    // daxpy's vector dimension is the input channel c
    val cwR: Array[Array[Array[Double]]] = Array.tabulate(blocks) { b =>
      Array.tabulate(fs(b) * k) { fk =>
        java.util.Arrays.copyOfRange(cw(b), fk * fin(b), (fk + 1) * fin(b))
      }
    }
    val cb: Array[Array[Double]] = w.convB.map(_.toArray).toArray
    val dh: Int = w.denseW.length
    val flat: Int = w.denseW(0).length
    val dw: Array[Double] = w.denseW.flatten.toArray   // (u)*flat+i
    // dwR(u)(i): natural dense rows (backward dm daxpy over i);
    // dwTR(i)(u): transposed rows (forward hpre daxpy over u)
    val dwR: Array[Array[Double]] = Array.tabulate(dh)(u =>
      java.util.Arrays.copyOfRange(dw, u * flat, (u + 1) * flat))
    val dwTR: Array[Array[Double]] = Array.tabulate(flat)(i =>
      Array.tabulate(dh)(u => dw(u * flat + i)))
    val db: Array[Double] = w.denseB.toArray
    val kc: Int = w.headW.length
    val hw: Array[Double] = w.headW.flatten.toArray    // (o)*dh+u
    val hwT: Array[Double] = {                          // (u)*kc+o
      val a = new Array[Double](kc * dh)
      var o = 0
      while (o < kc) {
        var u = 0
        while (u < dh) { a(u * kc + o) = hw(o * dh + u); u += 1 }
        o += 1
      }
      a
    }
    val hb: Array[Double] = w.headB.toArray
    // gradient buffer: conv weights (b,f,j,c), conv biases (b,f), dense
    // (u,i), dense bias (u), head (o,u), head bias (o), then the
    // driver's stats tail
    val ps: Array[Int] = convLengths(T, k, blocks)
    val ls: Array[Int] = ps.map(_ / 2)
    require(ls(blocks - 1) * fs(blocks - 1) == flat,
      s"input length $T does not match the dense layer's width $flat")
    val cwOff: Array[Int] = {
      val o = new Array[Int](blocks)
      var acc = 0
      for (b <- 0 until blocks) { o(b) = acc; acc += fs(b) * k * fin(b) }
      o
    }
    val cwSize: Int = cwOff(blocks - 1) +
      fs(blocks - 1) * k * fin(blocks - 1)
    val cbOff: Array[Int] = {
      val o = new Array[Int](blocks)
      var acc = cwSize
      for (b <- 0 until blocks) { o(b) = acc; acc += fs(b) }
      o
    }
    val dwOff: Int = cbOff(blocks - 1) + fs(blocks - 1)
    val dbOff: Int = dwOff + dh * flat
    val hwOff: Int = dbOff + dh
    val hbOff: Int = hwOff + kc * dh
    val statsOff: Int = hbOff + kc
  }

  /** The one hot-loop shape of every Wide* kernel: `a(i) += s * w(i)`
    * over 0-based arrays — SuperWord-vectorizable (see Packed), and a
    * METHOD on purpose: it runs hundreds of times per row, so its own
    * counters reach C2 (vectorized) within the first rows of a cold
    * fit. The body is 4x hand-unrolled NOT for C2's sake (SuperWord
    * revectorizes either form) but to keep the bytecode above C1's
    * 35-byte MaxInlineSize: a tiny body gets inlined by C1 into the
    * still-unoptimized kernel caller and crawls until the caller
    * itself reaches C2 (measured: first epoch 2x the dot form's task
    * CPU), while this form stays a CALL from C1 code into the
    * already-C2-compiled helper — and still inlines into the C2 caller
    * (FreqInlineSize 325). Each element is read-modified-written
    * exactly once per call, so per-element results are independent of
    * statement order: bit-identical.
    *
    * Zero skips: [[matvecRows]], [[rank1Rows]], [[denseGrad]] and the
    * per-filter/per-unit gradient steps skip a term whose scalar is
    * exactly 0.0 (max-pool routing, relu and dropout zero half or more
    * of the conv and dense deltas). For finite operands the term is
    * ±0.0, which leaves a nonzero sum unchanged; a zero sum could only
    * change sign, and no gradient sum does: each starts at +0.0 and,
    * under round-to-nearest, never becomes -0.0. A zero forward or delta
    * value's sign reaches no result (relu and routing compare it with
    * 0, products with it are zero terms), so the skips are bit-identical
    * (WideKernelBitsSpec). */
  private[ml] def axpy(a: Array[Double], s: Double,
      w: Array[Double], n: Int): Unit = {
    // Explicit range guard (never fires: callers pass n <= both
    // lengths). It exists to (a) pad the method past C1's 35-byte
    // inline limit while keeping the loop in SuperWord's canonical
    // form — a hand-unrolled body measured 1.5-1.9x SLOWER warm —
    // and (b) let C2 hoist the per-element bounds checks.
    if (n < 0 || n > a.length || n > w.length)
      throw new ArrayIndexOutOfBoundsException(n)
    var i = 0
    while (i < n) { a(i) += s * w(i); i += 1 }
  }

  /** Elementwise vector add `a(i) += b(i)` (same rationale). */
  private[ml] def vadd(a: Array[Double], b: Array[Double],
      n: Int): Unit = {
    if (n < 0 || n > a.length || n > b.length)
      throw new ArrayIndexOutOfBoundsException(n)
    var i = 0
    while (i < n) { a(i) += b(i); i += 1 }
  }

  // ---- loops shared by the per-row kernels ----
  // Each is the one loop two or more families ran inline; as a shared
  // method it is compiled by whichever fit warms it first and stays
  // compiled for the rest of the pass. Every element keeps its add
  // order: only method boundaries moved.

  /** The `n` rows of length `len` of the row-major `a`, each a copy:
    * the 0-based daxpy operand form of a weight matrix (see Packed). */
  private[ml] def rowsOf(a: Array[Double], n: Int,
      len: Int): Array[Array[Double]] =
    Array.tabulate(n)(r =>
      java.util.Arrays.copyOfRange(a, r * len, (r + 1) * len))

  /** [[rowsOf]] of `a` read as `blocks` consecutive row-major `r` x `c`
    * blocks, each transposed: row `k * c + j` holds column `j` of block
    * `k`. The forward daxpy form of gate-major weights. */
  private[ml] def rowsT(a: Array[Double], blocks: Int, r: Int,
      c: Int): Array[Array[Double]] =
    Array.tabulate(blocks * c) { kj =>
      val base = kj / c * r * c + kj % c
      Array.tabulate(r)(i => a(base + i * c))
    }

  /** Per layer `l`, the rows of the `gates` stacked `out(l)` x `in(l)`
    * blocks of `ws(l)`: transposed ([[rowsT]], the forward daxpy form)
    * or natural ([[rowsOf]], the backward one). A method and not a
    * lambda inside a Packed constructor, so no Packed keeps `ws` as a
    * field. */
  private[ml] def layerRows(ws: Array[Array[Double]], gates: Int,
      out: Array[Int], in: Array[Int],
      transposed: Boolean): Array[Array[Array[Double]]] =
    Array.tabulate(ws.length)(l =>
      if (transposed) rowsT(ws(l), gates, out(l), in(l))
      else rowsOf(ws(l), gates * out(l), in(l)))

  /** `n` buffer cells from `off`, divided by `div`: one bias or input
    * vector of a typed mean gradient. */
  private[ml] def meanVec(g: Array[Double], off: Int, n: Int,
      div: Double): Seq[Double] =
    Seq.tabulate(n)(i => g(off + i) / div)

  /** The row-major `r` x `c` block at `off`, divided by `div`. */
  private[ml] def meanMat(g: Array[Double], off: Int, r: Int, c: Int,
      div: Double): Seq[Seq[Double]] =
    Seq.tabulate(r, c)((i, j) => g(off + i * c + j) / div)

  /** `acc(i) += x(xOff + v) * rows(rowOff + v)(i)` for v = 0 until n
    * (ascending) — a matrix-vector product as daxpy over 0-based rows. */
  private[ml] def matvecRows(acc: Array[Double], x: Array[Double],
      xOff: Int, rows: Array[Array[Double]], rowOff: Int, n: Int,
      len: Int): Unit = {
    var v = 0
    while (v < n) {
      val s = x(xOff + v)
      if (s != 0.0) axpy(acc, s, rows(rowOff + v), len)
      v += 1
    }
  }

  /** `rows(rowOff + u)(i) += d(u) * x(i)` for u = 0 until n — a rank-1
    * update of per-row gradient sums. */
  private[ml] def rank1Rows(rows: Array[Array[Double]], rowOff: Int,
      d: Array[Double], n: Int, x: Array[Double], len: Int): Unit = {
    var u = 0
    while (u < n) {
      val s = d(u)
      if (s != 0.0) axpy(rows(rowOff + u), s, x, len)
      u += 1
    }
  }

  /** `rows(rowOff + u)(0 until len) = 0.0` for u = 0 until n. */
  private[ml] def zeroRows(rows: Array[Array[Double]], rowOff: Int,
      n: Int, len: Int): Unit = {
    var u = 0
    while (u < n) {
      java.util.Arrays.fill(rows(rowOff + u), 0, len, 0.0); u += 1
    }
  }

  /** `g(gOff + i) += a(i)` for i = 0 until n: one finished per-row sum
    * lands in the gradient buffer as ONE add per element. */
  private[ml] def gadd(g: Array[Double], gOff: Int, a: Array[Double],
      n: Int): Unit = {
    var i = 0
    while (i < n) { g(gOff + i) += a(i); i += 1 }
  }

  /** [[gadd]] of `n` rows of `len` into the row-major block at `gOff`. */
  private[ml] def flushRows(g: Array[Double], gOff: Int,
      rows: Array[Array[Double]], rowOff: Int, n: Int, len: Int): Unit = {
    var u = 0
    while (u < n) { gadd(g, gOff + u * len, rows(rowOff + u), len); u += 1 }
  }

  /** Dense layer in dot form: `z(o) = b(o) + Σ_v x(v) * w(o * n + v)`,
    * v ascending, for o = 0 until kc. */
  private[ml] def denseDot(z: Array[Double], b: Array[Double],
      w: Array[Double], x: Array[Double], n: Int, kc: Int): Unit = {
    var o = 0
    while (o < kc) {
      var acc = b(o)
      val wb = o * n
      var v = 0
      while (v < n) { acc += x(v) * w(wb + v); v += 1 }
      z(o) = acc; o += 1
    }
  }

  /** Max-shifted softmax cross-entropy over `z(0 until kc)` against
    * label `y` ([[TrainerCommon.softmaxHead]] algebra): returns the
    * loss and writes its logit gradient into `dz`. */
  private[ml] def softmaxCE(z: Array[Double], kc: Int, y: Int,
      dz: Array[Double]): Double = {
    var mx = z(0); var o = 1
    while (o < kc) { if (z(o) > mx) mx = z(o); o += 1 }
    var denom = 0.0; o = 0
    while (o < kc) { denom += math.exp(z(o) - mx); o += 1 }
    o = 0
    while (o < kc) {
      dz(o) = math.exp(z(o) - mx) / denom - (if (y == o) 1.0 else 0.0)
      o += 1
    }
    math.log(denom) + mx - z(y)
  }

  /** Back through a dense layer in dot form: `out(j) = Σ_o d(o) *
    * wT(j * kc + o)`, o ascending from 0.0, for j = 0 until n. */
  private[ml] def backDot(out: Array[Double], d: Array[Double],
      wT: Array[Double], kc: Int, n: Int): Unit = {
    var j = 0
    while (j < n) {
      var acc = 0.0
      val wb = j * kc
      var o = 0
      while (o < kc) { acc += d(o) * wT(wb + o); o += 1 }
      out(j) = acc; j += 1
    }
  }

  /** A dense layer's gradients: `g(bOff + o) += d(o)` and
    * `g(wOff + o * len + v) += d(o) * x(v)` for o = 0 until n. */
  private[ml] def denseGrad(g: Array[Double], wOff: Int, bOff: Int,
      d: Array[Double], n: Int, x: Array[Double], len: Int): Unit = {
    var o = 0
    while (o < n) {
      val dv = d(o)
      if (dv != 0.0) {
        g(bOff + o) += dv
        val wb = wOff + o * len
        var v = 0
        while (v < len) { g(wb + v) += dv * x(v); v += 1 }
      }
      o += 1
    }
  }

  /** [[TrainerCommon.dropMask]] replayed on the driver/executor side:
    * same XXH64 fold (seed 42, rk as long, epoch and u as ints), same
    * pmod-1000 keep test, same 1/(1-p) inverted scaling, same
    * validation-rows-keep-all inference semantics. */
  private[ml] def dropMaskLocal(iv: Boolean, rk: Long, epoch: Int,
      u: Int, p: Double): Double =
    // `iv` tested FIRST (r17): a val-only pass may run a kernel with
    // p = 0.0, and a leading `p <= 0.0` test is a branch the fit
    // epochs (p > 0) never took — HotSpot compiles it as an uncommon
    // trap, and the first val-pass row deoptimizes the whole inlined
    // kernel (measured: first valLoss 2.9 s vs 0.4 s steady on the q73
    // shape). Val rows take the `iv` arm during every epoch, so the
    // profile stays hot; both conditions return the same 1.0, so the
    // function is unchanged pointwise.
    if (iv || p <= 0.0) 1.0
    else {
      val h = XXH64.hashInt(u, XXH64.hashInt(epoch, XXH64.hashLong(rk, 42L)))
      val m = ((h % 1000L) + 1000L) % 1000L
      if (m >= math.round(1000 * p)) 1.0 / (1.0 - p) else 0.0
    }

  /** Each block's conv output length; its pooled length is half of it
    * (returned alone so [[Packed]] keeps no tuple field). */
  private def convLengths(T: Int, k: Int, blocks: Int): Array[Int] = {
    var len = T
    val ps = new Array[Int](blocks)
    var b = 0
    while (b < blocks) {
      val p = len - k + 1
      require(p >= 1, s"sequence too short for $blocks blocks of kernel $k")
      val l = p / 2
      require(l >= 1, s"pooling empties the sequence ($blocks blocks, k=$k)")
      ps(b) = p; len = l; b += 1
    }
    ps
  }

  /** The work arrays of [[accumulate]], made once per task: activation
    * and gradient arrays otherwise allocated and zeroed per row.
    * Reuse-safe: every array is either fully written before any read
    * (aR/mR/dm/dmp and the dense/head vectors) or explicitly re-zeroed
    * per use (`da` — the argmax routing writes sparsely). */
  private[ml] final class Scratch(p: Packed) {
    // activations/pooled as ROWS per position: 0-based daxpy operands
    val aR: Array[Array[Array[Double]]] = Array.tabulate(p.blocks)(b =>
      Array.fill(p.ps(b))(new Array[Double](p.fs(b))))
    val mR: Array[Array[Array[Double]]] = Array.tabulate(p.blocks)(b =>
      Array.fill(p.ls(b))(new Array[Double](p.fs(b))))
    val da: Array[Array[Double]] =
      Array.tabulate(p.blocks)(b => new Array[Double](p.ps(b) * p.fs(b)))
    // dmp(b): upstream gradient for block b's input (b >= 1)
    val dmp: Array[Array[Double]] = Array.tabulate(p.blocks)(b =>
      if (b == 0) null
      else new Array[Double](p.ls(b - 1) * p.fs(b - 1)))
    private val maxF = p.fs.max
    val accRow = new Array[Double](maxF)   // conv forward accumulators
    val dmRow = new Array[Double](maxF)    // one jp row of dmPrev
    val kgRows: Array[Array[Double]] =     // kernel-gradient rows per j
      Array.fill(p.k)(new Array[Double](maxF))
    val kg0 = new Array[Double](p.k)       // block-0 (fin=1) kernel grads
    val hpre = new Array[Double](p.dh); val hd = new Array[Double](p.dh)
    val mask = new Array[Double](p.dh); val dpre = new Array[Double](p.dh)
    val z = new Array[Double](p.kc); val dzo = new Array[Double](p.kc)
    val dm = new Array[Double](p.flat)
  }

  /** Accumulate one row's contribution into `g` (gradients for train
    * rows; loss tallies for both slices). The math is line-for-line
    * [[ConvNetTrainer.gradientsVal]]'s staged columns; every
    * accumulator's add order is the historical one (flat/transposed
    * layouts and lane unrolls change where doubles live and how many
    * independent chains run, never the sequence of additions into any
    * single sum), so the output is bit-identical.
    *
    * A short driver over per-position, per-block, per-filter and
    * per-unit steps: each step runs many times per row, so HotSpot
    * compiles it within the first rows of a cold fit, where one
    * monolithic body (once per row) ran interpreted and OSR-compiled
    * for most of it (WideKernelShapeSpec keeps every method small). */
  private def accumulate(s: Sample, p: Packed, sc: Scratch, epoch: Int,
      dropout: Double, g: Array[Double]): Unit = {
    val B = p.blocks
    var b = 0
    while (b < B) {
      var pos = 0
      while (pos < p.ps(b)) { convPos(s.x, p, sc, b, pos); pos += 1 }
      pool(p, sc, b)
      b += 1
    }
    hidden(s, p, sc, epoch, dropout)
    denseDot(sc.z, p.hb, p.hw, sc.hd, p.dh, p.kc)
    val loss = softmaxCE(sc.z, p.kc, s.y, sc.dzo)
    if (s.iv) {
      g(p.statsOff + 2) += loss; g(p.statsOff + 3) += 1.0
      return // val rows contribute loss only, never gradients
    }
    g(p.statsOff) += loss; g(p.statsOff + 1) += 1.0
    hiddenBack(p, sc)
    var u = 0
    while (u < p.dh) { denseGradRow(p, sc, u, g); u += 1 }
    denseGrad(g, p.hwOff, p.hbOff, sc.dzo, p.kc, sc.hd, p.dh)
    var dmCur = sc.dm
    b = B - 1
    while (b >= 0) {
      unpool(p, sc, b, dmCur)
      var f = 0
      while (f < p.fs(b)) {
        if (b == 0) filterGrad0(s.x, p, sc, f, g)
        else filterGrad(p, sc, b, f, g)
        f += 1
      }
      if (b > 0) {
        var jp = 0
        while (jp < p.ls(b - 1)) { inputGradRow(p, sc, b, jp); jp += 1 }
        dmCur = sc.dmp(b)
      }
      b -= 1
    }
  }

  /** Conv + relu at one output position of block `b`, as idx-major
    * daxpy: acc(f) += window(idx) * cwTR(idx)(f). Per accumulator
    * (pos, f) the adds land idx-ascending from the bias — the exact
    * order of the r16 dot-product form — but the vector dimension is the
    * INDEPENDENT filter index over 0-based rows, the one shape SuperWord
    * vectorizes. */
  private def convPos(x: Array[Double], p: Packed, sc: Scratch, b: Int,
      pos: Int): Unit = {
    val fb = p.fs(b); val cwTRb = p.cwTR(b)
    val acc = sc.accRow
    System.arraycopy(p.cb(b), 0, acc, 0, fb)
    if (b == 0) {
      // fin == 1: the window is k scalars of x
      matvecRows(acc, x, pos, cwTRb, 0, p.k, fb)
    } else {
      val fin = p.fin(b); val inRows = sc.mR(b - 1)
      var j = 0
      while (j < p.k) {
        matvecRows(acc, inRows(pos + j), 0, cwTRb, j * fin, fin, fb)
        j += 1
      }
    }
    val orow = sc.aR(b)(pos)
    var f = 0
    while (f < fb) { val v = acc(f); orow(f) = if (v > 0) v else 0.0; f += 1 }
  }

  /** Max-pool (size 2, stride 2) of block `b`'s position rows. */
  private def pool(p: Packed, sc: Scratch, b: Int): Unit = {
    val fb = p.fs(b); val aRb = sc.aR(b); val mRb = sc.mR(b)
    var j2 = 0
    while (j2 < p.ls(b)) {
      val r0 = aRb(2 * j2); val r1 = aRb(2 * j2 + 1)
      val mrow = mRb(j2)
      var f = 0
      while (f < fb) {
        val x0 = r0(f); val x1 = r1(f)
        mrow(f) = if (x0 >= x1) x0 else x1
        f += 1
      }
      j2 += 1
    }
  }

  /** Dense -> relu -> dropout over the last block's pooled rows (flatten
    * index i = j * fB + f): hpre as i-major daxpy over transposed dense
    * rows; per unit u the adds land i-ascending from the bias. */
  private def hidden(s: Sample, p: Packed, sc: Scratch, epoch: Int,
      dropout: Double): Unit = {
    val B = p.blocks
    val mLast = sc.mR(B - 1); val fB = p.fs(B - 1)
    val hpre = sc.hpre; val hd = sc.hd; val mask = sc.mask
    System.arraycopy(p.db, 0, hpre, 0, p.dh)
    var jj = 0
    while (jj < p.ls(B - 1)) {
      matvecRows(hpre, mLast(jj), 0, p.dwTR, jj * fB, fB, p.dh)
      jj += 1
    }
    var u = 0
    while (u < p.dh) {
      mask(u) = dropMaskLocal(s.iv, s.rk, epoch, u, dropout)
      hd(u) = (if (hpre(u) > 0) hpre(u) else 0.0) * mask(u)
      u += 1
    }
  }

  /** Back through the head and the dense layer: dpre, then dm at level
    * B-1 as u-major daxpy over natural dense rows (per element i the
    * adds land u-ascending from 0.0). */
  private def hiddenBack(p: Packed, sc: Scratch): Unit = {
    val dpre = sc.dpre; val mask = sc.mask; val hpre = sc.hpre
    backDot(dpre, sc.dzo, p.hwT, p.kc, p.dh)
    var u = 0
    while (u < p.dh) {
      dpre(u) = dpre(u) * mask(u) * (if (hpre(u) > 0) 1.0 else 0.0)
      u += 1
    }
    java.util.Arrays.fill(sc.dm, 0, p.flat, 0.0)
    matvecRows(sc.dm, dpre, 0, p.dwR, 0, p.dh, p.flat)
  }

  /** Dense-layer gradients of unit `u` (they consume mLast + dpre). */
  private def denseGradRow(p: Packed, sc: Scratch, u: Int,
      g: Array[Double]): Unit = {
    val B = p.blocks
    val mLast = sc.mR(B - 1); val fB = p.fs(B - 1)
    val dv = sc.dpre(u)
    if (dv == 0.0) return
    g(p.dbOff + u) += dv
    val gwb = p.dwOff + u * p.flat
    var j3 = 0
    while (j3 < p.ls(B - 1)) {
      val mrow = mLast(j3)
      val base = gwb + j3 * fB
      var f = 0
      while (f < fB) { g(base + f) += dv * mrow(f); f += 1 }
      j3 += 1
    }
  }

  /** Route block `b`'s pooled gradient `dmCur` back through the max-pool
    * into `da(b)`: position pos routes iff it equals the max and every
    * earlier window position is strictly less (first argmax). */
  private def unpool(p: Packed, sc: Scratch, b: Int,
      dmCur: Array[Double]): Unit = {
    val pb = p.ps(b); val lb = p.ls(b); val fb = p.fs(b)
    val aRb = sc.aR(b); val mRb = sc.mR(b)
    val da = sc.da(b)
    java.util.Arrays.fill(da, 0, pb * fb, 0.0)
    var pos = 0
    while (pos < pb) {
      val j = pos / 2
      if (j < lb) {
        val mrow = mRb(j); val arow = aRb(pos); val arow0 = aRb(2 * j)
        var f = 0
        while (f < fb) {
          val target = mrow(f)
          val av = arow(f)
          val route =
            if (pos == 2 * j) av == target
            else arow0(f) < target && av == target
          if (route && av > 0)
            da(pos * fb + f) = dmCur(j * fb + f)
          f += 1
        }
      }
      pos += 1
    }
  }

  /** Kernel + bias gradients of filter `f` in block 0 (fin == 1, a
    * scalar window over x): the per-j window sums accumulate pp-major
    * and land in `g` as ONE add of the finished sum, exactly like the
    * dot form's `g += s0`. */
  private def filterGrad0(x: Array[Double], p: Packed, sc: Scratch,
      f: Int, g: Array[Double]): Unit = {
    val k = p.k; val fb = p.fs(0); val da = sc.da(0)
    val kg = sc.kg0
    java.util.Arrays.fill(kg, 0, k, 0.0)
    var gb = 0.0
    var pp = 0
    while (pp < p.ps(0)) {
      val dv = da(pp * fb + f)
      if (dv != 0.0) {
        gb += dv
        var j = 0
        while (j < k) { kg(j) += dv * x(pp + j); j += 1 }
      }
      pp += 1
    }
    g(p.cbOff(0) + f) += gb
    gadd(g, p.cwOff(0) + f * k, kg, k)
  }

  /** Kernel + bias gradients of filter `f` in block `b` >= 1: the
    * per-(j, c) window sums accumulate in 0-based rows (daxpy over c
    * against the block input's natural position rows) and land in `g`
    * as ONE add of each finished sum. */
  private def filterGrad(p: Packed, sc: Scratch, b: Int, f: Int,
      g: Array[Double]): Unit = {
    val k = p.k; val fin = p.fin(b); val fb = p.fs(b)
    val da = sc.da(b); val inRowsB = sc.mR(b - 1)
    val kgRows = sc.kgRows
    zeroRows(kgRows, 0, k, fin)
    var gb = 0.0
    var pp = 0
    while (pp < p.ps(b)) {
      val dv = da(pp * fb + f)
      if (dv != 0.0) {
        gb += dv
        var j = 0
        while (j < k) { axpy(kgRows(j), dv, inRowsB(pp + j), fin); j += 1 }
      }
      pp += 1
    }
    g(p.cbOff(b) + f) += gb
    flushRows(g, p.cwOff(b) + f * k * fin, kgRows, 0, k, fin)
  }

  /** Input gradient of block `b` >= 1 at previous-level position `jp`,
    * (pp, f2)-major daxpy over the natural kernel rows (vector
    * dimension: input channel c); per element (jp, c) the adds land
    * (pp asc, f2 asc) from 0.0 — the dot form's order. */
  private def inputGradRow(p: Packed, sc: Scratch, b: Int,
      jp: Int): Unit = {
    val k = p.k; val fb = p.fs(b); val fprev = p.fs(b - 1)
    val da = sc.da(b); val cwRb = p.cwR(b)
    val row = sc.dmRow
    java.util.Arrays.fill(row, 0, fprev, 0.0)
    val pMax = math.min(p.ps(b) - 1, jp)
    var pp = math.max(0, jp - k + 1)
    while (pp <= pMax) {
      val dab = pp * fb
      val jr = jp - pp
      var f2 = 0
      while (f2 < fb) {
        val dv = da(dab + f2)
        if (dv != 0.0) axpy(row, dv, cwRb(f2 * k + jr), fprev)
        f2 += 1
      }
      pp += 1
    }
    System.arraycopy(row, 0, sc.dmp(b), jp * fprev, fprev)
  }

  /** The stacked-CNN kernel; `dropout` is the rate after the dense
    * layer (`cnn_model.py:29`). */
  final case class Kernel(dropout: Double = 0.0)
      extends TrainerCommon.Kernel[NetWeights, NetGrads] {
    type P = Packed
    type S = Scratch
    def drops: Seq[Double] = Seq(dropout)
    def pack(w: NetWeights, T: Int): Packed = new Packed(w, T)
    def scratch(p: Packed): Scratch = new Scratch(p)
    def accumulate(s: Sample, p: Packed, sc: Scratch, epoch: Int,
        g: Array[Double]): Unit =
      WideNet.accumulate(s, p, sc, epoch, dropout, g)
    def grads(p: Packed, g: Array[Double], n: Double): NetGrads = {
      val fs = p.fs; val k = p.k
      NetGrads(
        (0 until p.blocks).map(b => Seq.tabulate(fs(b), k, p.fin(b))(
          (f, j, c) => g(p.cwOff(b) + ((f * k) + j) * p.fin(b) + c) / n)),
        (0 until p.blocks).map(b =>
          Seq.tabulate(fs(b))(f => g(p.cbOff(b) + f) / n)),
        Seq.tabulate(p.dh, p.flat)((u, i) => g(p.dwOff + u * p.flat + i) / n),
        Seq.tabulate(p.dh)(u => g(p.dbOff + u) / n),
        Seq.tabulate(p.kc, p.dh)((o, u) => g(p.hwOff + o * p.dh + u) / n),
        Seq.tabulate(p.kc)(o => g(p.hbOff + o) / n),
        g(p.statsOff) / n)
    }
  }
}
