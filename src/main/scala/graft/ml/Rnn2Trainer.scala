package graft.ml

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** STACKED two-layer BPTT trainer — the reference's actual recurrent
  * architecture (`models/rnn_model.py:19-26`): SimpleRNN(u1, relu,
  * return_sequences=True) → Dropout → SimpleRNN(u2, relu) → Dropout →
  * dense softmax head. [[RnnTrainer]] is the single-layer building
  * block; this closes the M3 stacking delta (width stays a constructor
  * argument — the reference's 64/128 units are plan-depth-prohibitive
  * at fixture scale and numerically identical in kind).
  *
  * The new math vs single-layer BPTT is the CROSS-LAYER gradient: the
  * layer-1 hidden state at step t feeds BOTH layer 2 at step t (through
  * the inter-layer dropout mask) and layer 1 at t+1, so
  *   dh1_t = (wx2ᵀ·dz2_t) ⊙ m1_t + wh1ᵀ·dz1_{t+1}
  * — two staged selects per reverse step (dz2_t first, then dz1_t which
  * reads it). Keras parity notes: the inter-layer Dropout acts on the
  * FULL returned sequence, so its keep-mask varies per (row, epoch,
  * timestep, unit) — seeded here as unit index t*u1+u of the
  * [[TrainerCommon.dropMask]] family; the post-layer-2 Dropout masks
  * only h2_T (unit index offset past the layer-1 space).
  *
  * Same execution contract as every trainer in `ml/`: weights ride the
  * plan as literals, forward and backward are staged expression columns
  * (one select per dependency frontier), one epoch = ONE aggregation of
  * O(params) mean gradient products, deterministic on any partitioning.
  */
object Rnn2Trainer {

  /** Layer 1: wx1 u1 (1 input channel), wh1 u1 x u1, b1 u1.
    * Layer 2: wx2 u2 x u1, wh2 u2 x u2, b2 u2.
    * Head: w3 classes x u2, b3 classes. */
  final case class W(
      wx1: Seq[Double], wh1: Seq[Seq[Double]], b1: Seq[Double],
      wx2: Seq[Seq[Double]], wh2: Seq[Seq[Double]], b2: Seq[Double],
      w3: Seq[Seq[Double]], b3: Seq[Double]) {
    def u1: Int = wx1.length
    def u2: Int = b2.length
    def classes: Int = b3.length
    require(wh1.length == u1 && wh1.forall(_.length == u1) &&
      b1.length == u1 && wx2.length == u2 &&
      wx2.forall(_.length == u1) && wh2.length == u2 &&
      wh2.forall(_.length == u2) && w3.length == classes &&
      w3.forall(_.length == u2), "inconsistent shapes")
  }

  def init(u1: Int, u2: Int, classes: Int, seed: Long): W = {
    val rng = new scala.util.Random(seed)
    def v(n: Int) = Seq.fill(n)(rng.nextDouble() - 0.5)
    W(v(u1), Seq.fill(u1)(v(u1)), v(u1),
      Seq.fill(u2)(v(u1)), Seq.fill(u2)(v(u2)), v(u2),
      Seq.fill(classes)(v(u2)), v(classes))
  }

  final case class G(
      wx1: Seq[Double], wh1: Seq[Seq[Double]], b1: Seq[Double],
      wx2: Seq[Seq[Double]], wh2: Seq[Seq[Double]], b2: Seq[Double],
      w3: Seq[Seq[Double]], b3: Seq[Double], loss: Double)

  /** One full-batch pass at `w`: mean loss + mean gradients over train
    * rows, mean loss over `isVal` rows (inference semantics — no
    * dropout). One Spark job. */
  def gradientsVal(df: DataFrame, xs: Seq[Column], label: Column,
      rowKey: Column, w: W, epoch: Int, dropout: Double,
      isVal: Column): (G, Option[Double]) = {
    val T = xs.length
    val u1 = w.u1
    val u2 = w.u2
    val k = w.classes
    require(dropout >= 0.0 && dropout < 1.0, "dropout in [0, 1)")

    val base = df.select(xs.zipWithIndex.map { case (x, t) =>
      x.as(s"x${t + 1}") } ++ Seq(label.cast("int").as("y"),
      rowKey.as("rk"), isVal.as("iv")): _*)
    val xRef = (1 to T).map(t => col(s"x$t"))

    // inter-layer mask: per (timestep, unit); post-layer-2 mask: offset
    // past the T*u1 layer-1 mask space so the families never collide
    def m1(t: Int, u: Int): Column =
      TrainerCommon.dropMask(col("iv"), col("rk"), epoch,
        (t - 1) * u1 + u, dropout)
    def m2(u: Int): Column =
      TrainerCommon.dropMask(col("iv"), col("rk"), epoch,
        T * u1 + u, dropout)

    var cur = base
    var carry: Seq[Column] = xRef ++ Seq(col("y"), col("rk"), col("iv"))
    // stage one dependency frontier: aliased expressions in, attribute
    // references carried forward (names passed explicitly — the q38
    // staging discipline)
    def stage(named: Seq[(Column, String)]): Unit = {
      cur = cur.select(carry ++ named.map { case (c, n) => c.as(n) }: _*)
      carry = carry ++ named.map { case (_, n) => col(n) }
    }

    // ---- forward ----
    for (t <- 1 to T) {
      stage((0 until u1).map { u =>
        val hp: Int => Column =
          if (t == 1) _ => lit(0.0) else v => col(s"h1_${t - 1}_$v")
        (greatest((Seq(xRef(t - 1) * lit(w.wx1(u))) ++
          (0 until u1).map(v => hp(v) * lit(w.wh1(u)(v)))).reduce(_ + _) +
          lit(w.b1(u)), lit(0.0)), s"h1_${t}_$u")
      })
      stage((0 until u1).map(u =>
        (col(s"h1_${t}_$u") * m1(t, u), s"a1_${t}_$u")))
      stage((0 until u2).map { u =>
        val hp: Int => Column =
          if (t == 1) _ => lit(0.0) else v => col(s"h2_${t - 1}_$v")
        (greatest((0 until u1).map(v =>
          col(s"a1_${t}_$v") * lit(w.wx2(u)(v))).reduce(_ + _) +
          (0 until u2).map(v => hp(v) * lit(w.wh2(u)(v))).reduce(_ + _) +
          lit(w.b2(u)), lit(0.0)), s"h2_${t}_$u")
      })
    }

    // ---- head over dropped h2_T ----
    stage((0 until u2).map(u =>
      (col(s"h2_${T}_$u") * m2(u), s"a2_$u")))
    stage((0 until k).map { o =>
      ((0 until u2).map(u => col(s"a2_$u") * lit(w.w3(o)(u)))
        .reduce(_ + _) + lit(w.b3(o)), s"z3_$o")
    })
    val (dz3, lossCol) = TrainerCommon.softmaxHead(
      (0 until k).map(o => col(s"z3_$o")), col("y"))
    stage(dz3.zipWithIndex.map { case (c, o) => (c, s"dzo_$o") } :+
      ((lossCol: Column, "loss")))

    // ---- backward, t = T..1: dz2_t, then dz1_t (reads dz2_t) ----
    for (t <- T to 1 by -1) {
      val dh2: Int => Column =
        if (t == T) u => (0 until k).map(o =>
          col(s"dzo_$o") * lit(w.w3(o)(u))).reduce(_ + _) * m2(u)
        else u => (0 until u2).map(v =>
          col(s"dz2_${t + 1}_$v") * lit(w.wh2(v)(u))).reduce(_ + _)
      stage((0 until u2).map { u =>
        (dh2(u) * when(col(s"h2_${t}_$u") > 0, 1.0).otherwise(0.0),
          s"dz2_${t}_$u")
      })
      // cross-layer: layer 1's state feeds layer 2 at t (through m1)
      // and layer 1 at t+1
      val dh1: Int => Column = { u =>
        val fromL2 = (0 until u2).map(v =>
          col(s"dz2_${t}_$v") * lit(w.wx2(v)(u))).reduce(_ + _) * m1(t, u)
        val fromRec: Column =
          if (t == T) lit(0.0)
          else (0 until u1).map(v =>
            col(s"dz1_${t + 1}_$v") * lit(w.wh1(v)(u))).reduce(_ + _)
        fromL2 + fromRec
      }
      stage((0 until u1).map { u =>
        (dh1(u) * when(col(s"h1_${t}_$u") > 0, 1.0).otherwise(0.0),
          s"dz1_${t}_$u")
      })
    }

    // ---- one aggregation ----
    def h1At(t: Int, v: Int): Column =
      if (t == 0) lit(0.0) else col(s"h1_${t}_$v")
    def h2At(t: Int, v: Int): Column =
      if (t == 0) lit(0.0) else col(s"h2_${t}_$v")
    def tavg(c: Column) = avg(when(!col("iv"), c))
    val aggs: Seq[Column] =
      (0 until u1).map(u => tavg((1 to T).map(t =>
        col(s"dz1_${t}_$u") * col(s"x$t")).reduce(_ + _)).as(s"gwx1_$u")) ++
      (for (u <- 0 until u1; v <- 0 until u1)
        yield tavg((1 to T).map(t =>
          col(s"dz1_${t}_$u") * h1At(t - 1, v)).reduce(_ + _))
          .as(s"gwh1_${u}_$v")) ++
      (0 until u1).map(u => tavg((1 to T).map(t =>
        col(s"dz1_${t}_$u")).reduce(_ + _)).as(s"gb1_$u")) ++
      (for (u <- 0 until u2; v <- 0 until u1)
        yield tavg((1 to T).map(t =>
          col(s"dz2_${t}_$u") * col(s"a1_${t}_$v")).reduce(_ + _))
          .as(s"gwx2_${u}_$v")) ++
      (for (u <- 0 until u2; v <- 0 until u2)
        yield tavg((1 to T).map(t =>
          col(s"dz2_${t}_$u") * h2At(t - 1, v)).reduce(_ + _))
          .as(s"gwh2_${u}_$v")) ++
      (0 until u2).map(u => tavg((1 to T).map(t =>
        col(s"dz2_${t}_$u")).reduce(_ + _)).as(s"gb2_$u")) ++
      (for (o <- 0 until k; u <- 0 until u2)
        yield tavg(col(s"dzo_$o") * col(s"a2_$u")).as(s"gw3_${o}_$u")) ++
      (0 until k).map(o => tavg(col(s"dzo_$o")).as(s"gb3_$o")) ++
      Seq(tavg(col("loss")).as("mloss"),
        avg(when(col("iv"), col("loss"))).as("vloss"))
    val row = cur.agg(aggs.head, aggs.tail: _*).head()
    require(row.getAs[Any]("mloss") != null,
      "Rnn2Trainer.gradients: empty training input")
    def g(n: String) = row.getAs[Double](n)
    (G(
      Seq.tabulate(u1)(u => g(s"gwx1_$u")),
      Seq.tabulate(u1, u1)((u, v) => g(s"gwh1_${u}_$v")),
      Seq.tabulate(u1)(u => g(s"gb1_$u")),
      Seq.tabulate(u2, u1)((u, v) => g(s"gwx2_${u}_$v")),
      Seq.tabulate(u2, u2)((u, v) => g(s"gwh2_${u}_$v")),
      Seq.tabulate(u2)(u => g(s"gb2_$u")),
      Seq.tabulate(k, u2)((o, u) => g(s"gw3_${o}_$u")),
      Seq.tabulate(k)(o => g(s"gb3_$o")),
      g("mloss")),
      Option(row.getAs[Any]("vloss")).map(_.asInstanceOf[Double]))
  }

  def gradients(df: DataFrame, xs: Seq[Column], label: Column, w: W): G =
    gradientsVal(df, xs, label, lit(0L), w, 1, 0.0, lit(false))._1

  private[ml] def applyStep(w: W, gr: G, lr: Double): W = {
    def s1(a: Seq[Double], g: Seq[Double]) =
      a.zip(g).map { case (x, gx) => x - lr * gx }
    def s2(a: Seq[Seq[Double]], g: Seq[Seq[Double]]) =
      a.zip(g).map { case (r, gr) => s1(r, gr) }
    W(s1(w.wx1, gr.wx1), s2(w.wh1, gr.wh1), s1(w.b1, gr.b1),
      s2(w.wx2, gr.wx2), s2(w.wh2, gr.wh2), s1(w.b2, gr.b2),
      s2(w.w3, gr.w3), s1(w.b3, gr.b3))
  }

  /** One optimizer step (Adam / sgd) —
    * [[TrainerCommon.Tensors.applyOpt]]; OptimizerStepSpec pins
    * sgd(lr) == [[applyStep]] bit-for-bit. */
  private[ml] def applyOpt(w: W, gr: G,
      opt: TrainerCommon.Optimizer): W =
    TrainerCommon.Tensors.applyOpt(w, gr, opt)

  /** Full-batch GD: one job per epoch, per-epoch pre-update loss. */
  def fit(df: DataFrame, xs: Seq[Column], label: Column, w0: W,
      epochs: Int, lr: Double, rowKey: Column = lit(0L),
      dropout: Double = 0.0): (W, Seq[Double]) = {
    var w = w0
    val losses = (1 to epochs).map { e =>
      val (gr, _) = gradientsVal(df, xs, label, rowKey, w, e, dropout,
        lit(false))
      w = applyStep(w, gr, lr)
      gr.loss
    }
    (w, losses)
  }

  /** [[fit]] under Keras EarlyStopping(patience, restore-best). */
  def fitEs(df: DataFrame, xs: Seq[Column], label: Column, w0: W,
      maxEpochs: Int, lr: Double, rowKey: Column, dropout: Double,
      isVal: Column, patience: Int = 5): TrainerCommon.EsResult[W] =
    TrainerCommon.earlyStop(w0, maxEpochs, patience) { (w, e) =>
      val (gr, vl) = gradientsVal(df, xs, label, rowKey, w, e, dropout,
        isVal)
      (applyStep(w, gr, lr), gr.loss,
        vl.getOrElse(sys.error("fitEs: empty validation slice")))
    }

  /** Staged inference through both layers (no dropout — Keras
    * inference semantics): argmax class appended as `outCol`. */
  def predictStaged(df: DataFrame, carry: Seq[Column], xs: Seq[Column],
      w: W, outCol: String): DataFrame = {
    val T = xs.length
    var cur = df.select(carry ++ xs.zipWithIndex.map { case (x, t) =>
      x.as(s"px${t + 1}") }: _*)
    var h1: Seq[Column] = Seq.fill(w.u1)(lit(0.0))
    var h2: Seq[Column] = Seq.fill(w.u2)(lit(0.0))
    for (t <- 1 to T) {
      val h1New = (0 until w.u1).map { u =>
        greatest((Seq(col(s"px$t") * lit(w.wx1(u))) ++
          (0 until w.u1).map(v => h1(v) * lit(w.wh1(u)(v))))
          .reduce(_ + _) + lit(w.b1(u)), lit(0.0)).as(s"ph1_${t}_$u")
      }
      val futureX = (t + 1 to T).map(s => col(s"px$s"))
      val keepH2 = h2.zipWithIndex.map { case (c, u) => c.as(s"kh2_$u") }
      cur = cur.select(carry ++ futureX ++ h1New ++ keepH2: _*)
      h1 = (0 until w.u1).map(u => col(s"ph1_${t}_$u"))
      val h2New = (0 until w.u2).map { u =>
        greatest((0 until w.u1).map(v =>
          h1(v) * lit(w.wx2(u)(v))).reduce(_ + _) +
          (0 until w.u2).map(v =>
            col(s"kh2_$v") * lit(w.wh2(u)(v))).reduce(_ + _) +
          lit(w.b2(u)), lit(0.0)).as(s"ph2_${t}_$u")
      }
      val futureX2 = (t + 1 to T).map(s => col(s"px$s"))
      cur = cur.select(carry ++ futureX2 ++ h1.map(c => c) ++ h2New: _*)
      h2 = (0 until w.u2).map(u => col(s"ph2_${t}_$u"))
    }
    val z3 = (0 until w.classes).map { o =>
      (0 until w.u2).map(u => h2(u) * lit(w.w3(o)(u))).reduce(_ + _) +
        lit(w.b3(o))
    }
    cur.select(carry :+ TrainerCommon.argmax(z3).as(outCol): _*)
  }
}
