package graft.ml

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Engine-native full-batch BPTT (backpropagation through time) trainer
  * for the reference's recurrent architecture shape: SimpleRNN(units,
  * relu) over a T-step / 1-channel sequence, dense softmax head,
  * cross-entropy loss (`models/rnn_model.py:19-26` — the TRAINING half
  * of the M3 gap, whose scoring half q38 already covers; MLlib has no
  * recurrent trainer, SURVEY §2.6).
  *
  * Everything is Catalyst expression columns: the forward recurrence is
  * staged one select per timestep (h_t as named columns — the q38
  * discipline, an inlined recurrence is units^T), and the BACKWARD pass
  * is staged the same way in reverse (dh_t columns per step), so the
  * whole per-row gradient is plain codegen'd arithmetic. One epoch =
  * ONE aggregation (mean of every gradient product; partial sums
  * map-side, an O(params) row to the driver, O(params) update there).
  * Same 100 TB story as Mlp3Trainer: weights ride in the plan as
  * literals, the shuffle carries parameter-sized partial sums, never
  * rows, and nothing is nondeterministic — re-running an epoch
  * reproduces its gradient bit-for-bit on any partitioning
  * (order-independence of the mean is within float tolerance).
  *
  * BPTT equations (relu RNN, h_0 = 0):
  *   z_t = wx·x_t + wh·h_{t-1} + b ;  h_t = relu(z_t)
  *   logits = w2·h_T + b2 ; p = softmax ; L = -ln p_y
  *   dz2 = p - onehot(y)
  *   dh_T = w2ᵀ·dz2 ;  dz_t = dh_t ⊙ 1[h_t > 0]
  *   dh_{t-1} = whᵀ·dz_t
  *   dwx[u]  = Σ_t dz_t[u]·x_t ;  dwh[u][v] = Σ_t dz_t[u]·h_{t-1}[v]
  *   db[u]   = Σ_t dz_t[u]    ;  dw2[o][u] = dz2[o]·h_T[u] ; db2 = dz2
  */
object RnnTrainer {

  /** wx: units (1 input channel), wh: units x units, b: units,
    * w2: classes x units, b2: classes. */
  final case class RnnWeights(wx: Seq[Double], wh: Seq[Seq[Double]],
      b: Seq[Double], w2: Seq[Seq[Double]], b2: Seq[Double]) {
    def units: Int = wx.length
    def classes: Int = w2.length
    require(wh.length == units && wh.forall(_.length == units) &&
      b.length == units && w2.forall(_.length == units) &&
      b2.length == classes, "inconsistent shapes")
  }

  /** Deterministic small init in [-0.5, 0.5) from `seed`. */
  def init(units: Int, classes: Int, seed: Long): RnnWeights = {
    val rng = new scala.util.Random(seed)
    def v(n: Int) = Seq.fill(n)(rng.nextDouble() - 0.5)
    RnnWeights(v(units), Seq.fill(units)(v(units)), v(units),
      Seq.fill(classes)(v(units)), v(classes))
  }

  final case class RnnGrads(wx: Seq[Double], wh: Seq[Seq[Double]],
      b: Seq[Double], w2: Seq[Seq[Double]], b2: Seq[Double], loss: Double)

  /** One full-batch BPTT pass at `w`: mean loss + mean gradients.
    * `xs(t)` is the scalar input at timestep t; `label` in 0..k-1.
    * One Spark job. */
  def gradients(df: DataFrame, xs: Seq[Column], label: Column,
      w: RnnWeights): RnnGrads =
    gradientsVal(df, xs, label, lit(0L), w, 1, 0.0, lit(false))._1

  /** [[gradients]] with the reference's post-recurrence DROPOUT
    * (`rnn_model.py:19-24`: Dropout after the recurrent output, before
    * the dense head — here applied to h_T with the MLP's
    * hash-mask: deterministic in (rowKey, epoch, unit), inverted
    * scaling 1/(1-p)) and an in-pass VALIDATION slice (`isVal` rows:
    * excluded from every gradient average, inference semantics — no
    * mask — and their mean loss returned separately; the
    * TrainerCommon.earlyStop contract). One Spark job. */
  def gradientsVal(df: DataFrame, xs: Seq[Column], label: Column,
      rowKey: Column, w: RnnWeights, epoch: Int, dropout: Double,
      isVal: Column): (RnnGrads, Option[Double]) = {
    val T = xs.length
    val units = w.units
    val k = w.classes
    require(dropout >= 0.0 && dropout < 1.0, "dropout in [0, 1)")

    // stage 0: inputs + label + row key + val flag as attributes
    val base = df.select(xs.zipWithIndex.map { case (x, t) =>
      x.as(s"x${t + 1}") } ++ Seq(label.cast("int").as("y"),
      rowKey.as("rk"), isVal.as("iv")): _*)
    val xRef = (1 to T).map(t => col(s"x$t"))

    // train-time keep-mask on the recurrent OUTPUT unit u (val rows run
    // at inference semantics — keep-all, unscaled)
    def maskOf(u: Int): Column =
      TrainerCommon.dropMask(col("iv"), col("rk"), epoch, u, dropout)

    // ---- forward: one select per timestep, h_t staged ----
    var cur = base
    var carry: Seq[Column] = xRef ++ Seq(col("y"), col("rk"), col("iv"))
    for (t <- 1 to T) {
      val hPrev: Int => Column =
        if (t == 1) _ => lit(0.0) else u => col(s"h${t - 1}_$u")
      val hNew = (0 until units).map { u =>
        val rec = (0 until units).map(v => hPrev(v) * lit(w.wh(u)(v)))
        greatest(
          (Seq(xRef(t - 1) * lit(w.wx(u))) ++ rec).reduce(_ + _) + lit(w.b(u)),
          lit(0.0)).as(s"h${t}_$u")
      }
      cur = cur.select(carry ++ hNew: _*)
      carry = carry ++ (0 until units).map(u => col(s"h${t}_$u"))
    }

    // ---- head over the DROPPED recurrent output: a_u = h_T_u * mask;
    // dz2_o = p_o - 1[y=o], loss staged once ----
    val aT = (0 until units).map(u =>
      (col(s"h${T}_$u") * maskOf(u)).as(s"aT_$u"))
    cur = cur.select(carry ++ aT: _*)
    carry = carry ++ (0 until units).map(u => col(s"aT_$u"))
    val z2 = (0 until k).map { o =>
      ((0 until units).map(u => col(s"aT_$u") * lit(w.w2(o)(u)))
        .reduce(_ + _) + lit(w.b2(o))).as(s"z2_$o")
    }
    cur = cur.select(carry ++ z2: _*)
    val zc = (0 until k).map(o => col(s"z2_$o"))
    val (dz2, lossCol) = TrainerCommon.softmaxHead(zc, col("y"))
    cur = cur.select(carry ++ dz2 :+ lossCol: _*)
    carry = carry ++ (0 until k).map(o => col(s"dzo_$o")) :+ col("loss")

    // ---- backward: dz_t staged per step, T..1; dz_t = dh_t ⊙ relu' ----
    // dh_T from the head THROUGH the dropout mask (d aT/d h_T = mask),
    // dh_{t-1} = whᵀ·dz_t
    for (t <- T to 1 by -1) {
      val dh: Int => Column =
        if (t == T) u => (0 until k).map(o =>
          col(s"dzo_$o") * lit(w.w2(o)(u))).reduce(_ + _) * maskOf(u)
        else u => (0 until units).map(v =>
          col(s"dz${t + 1}_$v") * lit(w.wh(v)(u))).reduce(_ + _)
      val dzNew = (0 until units).map { u =>
        (dh(u) * when(col(s"h${t}_$u") > 0, 1.0).otherwise(0.0))
          .as(s"dz${t}_$u")
      }
      cur = cur.select(carry ++ dzNew: _*)
      carry = carry ++ (0 until units).map(u => col(s"dz${t}_$u"))
    }

    // ---- one aggregation: mean of every gradient product over TRAIN
    // rows (val rows nulled out of every avg) + the val mean loss ----
    def hAt(t: Int, v: Int): Column =
      if (t == 0) lit(0.0) else col(s"h${t}_$v")
    def tavg(c: Column) = avg(when(!col("iv"), c))
    val aggs: Seq[Column] =
      (0 until units).map(u => tavg((1 to T).map(t =>
        col(s"dz${t}_$u") * col(s"x$t")).reduce(_ + _)).as(s"gwx_$u")) ++
      (for (u <- 0 until units; v <- 0 until units)
        yield tavg((1 to T).map(t =>
          col(s"dz${t}_$u") * hAt(t - 1, v)).reduce(_ + _))
          .as(s"gwh_${u}_$v")) ++
      (0 until units).map(u => tavg((1 to T).map(t =>
        col(s"dz${t}_$u")).reduce(_ + _)).as(s"gb_$u")) ++
      (for (o <- 0 until k; u <- 0 until units)
        yield tavg(col(s"dzo_$o") * col(s"aT_$u")).as(s"gw2_${o}_$u")) ++
      (0 until k).map(o => tavg(col(s"dzo_$o")).as(s"gb2_$o")) ++
      Seq(tavg(col("loss")).as("mloss"),
        avg(when(col("iv"), col("loss"))).as("vloss"))
    val row = cur.agg(aggs.head, aggs.tail: _*).head()
    require(row.getAs[Any]("mloss") != null,
      "RnnTrainer.gradients: empty training input")
    def g(n: String) = row.getAs[Double](n)
    (RnnGrads(
      Seq.tabulate(units)(u => g(s"gwx_$u")),
      Seq.tabulate(units, units)((u, v) => g(s"gwh_${u}_$v")),
      Seq.tabulate(units)(u => g(s"gb_$u")),
      Seq.tabulate(k, units)((o, u) => g(s"gw2_${o}_$u")),
      Seq.tabulate(k)(o => g(s"gb2_$o")),
      g("mloss")),
      Option(row.getAs[Any]("vloss")).map(_.asInstanceOf[Double]))
  }

  /** Full-batch BPTT GD: `epochs` steps from `w0`; returns final weights
    * + per-epoch pre-update mean loss. One Spark job per epoch.
    * `dropout` > 0 requires a unique-per-row `rowKey` (mask seed). */
  def fit(df: DataFrame, xs: Seq[Column], label: Column, w0: RnnWeights,
      epochs: Int, lr: Double, rowKey: Column = lit(0L),
      dropout: Double = 0.0): (RnnWeights, Seq[Double]) = {
    var w = w0
    val losses = (1 to epochs).map { e =>
      val (gr, _) = gradientsVal(df, xs, label, rowKey, w, e, dropout,
        lit(false))
      w = applyStep(w, gr, lr)
      gr.loss
    }
    (w, losses)
  }

  private[ml] def applyStep(w: RnnWeights, gr: RnnGrads,
      lr: Double): RnnWeights =
    RnnWeights(
      w.wx.zip(gr.wx).map { case (a, ga) => a - lr * ga },
      w.wh.zip(gr.wh).map { case (r, gRow) =>
        r.zip(gRow).map { case (a, ga) => a - lr * ga } },
      w.b.zip(gr.b).map { case (a, ga) => a - lr * ga },
      w.w2.zip(gr.w2).map { case (r, gRow) =>
        r.zip(gRow).map { case (a, ga) => a - lr * ga } },
      w.b2.zip(gr.b2).map { case (a, ga) => a - lr * ga })

  /** One optimizer step (the reference's Adam, or sgd for the
    * historical fixed-lr step) — [[TrainerCommon.Tensors.applyOpt]];
    * OptimizerStepSpec pins sgd(lr) == [[applyStep]] bit-for-bit. */
  private[ml] def applyOpt(w: RnnWeights, gr: RnnGrads,
      opt: TrainerCommon.Optimizer): RnnWeights =
    TrainerCommon.Tensors.applyOpt(w, gr, opt)

  /** [[fit]] under Keras EarlyStopping (patience on the `isVal` slice's
    * loss, restore-best) — see [[TrainerCommon.earlyStop]]. */
  def fitEs(df: DataFrame, xs: Seq[Column], label: Column,
      w0: RnnWeights, maxEpochs: Int, lr: Double, rowKey: Column,
      dropout: Double, isVal: Column,
      patience: Int = 5): TrainerCommon.EsResult[RnnWeights] =
    TrainerCommon.earlyStop(w0, maxEpochs, patience) { (w, e) =>
      val (gr, vl) = gradientsVal(df, xs, label, rowKey, w, e, dropout,
        isVal)
      (applyStep(w, gr, lr), gr.loss,
        vl.getOrElse(sys.error("fitEs: empty validation slice")))
    }

  /** Staged inference: argmax class under `w` appended as `outCol`
    * (first index on ties). Staged one select per timestep like the
    * forward pass — an inlined recurrence duplicates units^T subtrees
    * (expression trees share nothing), which is exactly the blowup the
    * staging discipline exists to avoid. `carry` columns survive into
    * the returned frame. */
  def predictStaged(df: DataFrame, carry: Seq[Column], xs: Seq[Column],
      w: RnnWeights, outCol: String): DataFrame = {
    val T = xs.length
    val units = w.units
    val staged0 = df.select(carry ++ xs.zipWithIndex.map { case (x, t) =>
      x.as(s"px${t + 1}") }: _*)
    var cur = staged0
    var h: Seq[Column] = Seq.fill(units)(lit(0.0))
    for (t <- 1 to T) {
      val hNew = (0 until units).map { u =>
        greatest((Seq(col(s"px$t") * lit(w.wx(u))) ++
          (0 until units).map(v => h(v) * lit(w.wh(u)(v)))).reduce(_ + _) +
          lit(w.b(u)), lit(0.0)).as(s"ph${t}_$u")
      }
      val futureX = (t + 1 to T).map(s => col(s"px$s"))
      cur = cur.select(carry ++ futureX ++ hNew: _*)
      h = (0 until units).map(u => col(s"ph${t}_$u"))
    }
    val z2 = (0 until w.classes).map { o =>
      (0 until units).map(u => h(u) * lit(w.w2(o)(u))).reduce(_ + _) +
        lit(w.b2(o))
    }
    cur.select(carry :+ TrainerCommon.argmax(z2).as(outCol): _*)
  }
}
