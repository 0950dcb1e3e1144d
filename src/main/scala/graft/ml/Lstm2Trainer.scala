package graft.ml

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** STACKED two-layer gated-BPTT trainer — the reference's complete LSTM
  * architecture (`models/lstm_model.py:19-26`): LSTM(u1,
  * return_sequences=True) → Dropout → LSTM(u2) → Dropout → Dense(d,
  * relu) → dense softmax head. [[LstmTrainer]] is the single-layer
  * building block; this closes the M4 stacking delta (width stays a
  * constructor argument — 64/128/Dense(64) in the reference, held small
  * here because plan/codegen depth, not data, dominates staged-
  * expression cost at fixture scale).
  *
  * New math vs the single-layer trainer:
  *  - layer 2's input is a VECTOR sequence (u1 channels), so its gate
  *    input weights are matrices `wx2_X: u2 x u1` and the backward pass
  *    emits `da1_t = Σ_X wx2_Xᵀ · dz2_{X,t}`;
  *  - the cross-layer gradient — layer-1 state feeds layer 2 at t
  *    (through the inter-layer dropout mask) and layer 1 at t+1:
  *      dh1_t = da1_t ⊙ m1_t + Σ_X u1_Xᵀ · dz1_{X,t+1}
  *  - a relu Dense(d) between the dropped h2_T and the softmax head,
  *    with its own weight/bias gradients.
  *
  * Keras parity: the inter-layer Dropout masks the full returned
  * sequence — keep-mask per (row, epoch, timestep, unit), seeded as
  * unit index (t-1)*u1+u of [[TrainerCommon.dropMask]]; the post-
  * layer-2 Dropout masks h2_T only (offset past the layer-1 space).
  * Dropout is identity on `isVal` rows (inference semantics).
  *
  * Execution contract as everywhere in `ml/`: weights are plan
  * literals, forward+backward are staged expression columns, one epoch
  * = ONE aggregation of O(params) mean gradient products, gradients
  * partitioning-invariant within float tolerance.
  */
object Lstm2Trainer {

  /** Layer-1 gate: scalar-input weight (1 channel), recurrent u1 x u1,
    * bias u1. */
  final case class Gate1(wx: Seq[Double], u: Seq[Seq[Double]],
      b: Seq[Double])

  /** Layer-2 gate: input weight u2 x u1 (vector input), recurrent
    * u2 x u2, bias u2. */
  final case class Gate2(wx: Seq[Seq[Double]], u: Seq[Seq[Double]],
      b: Seq[Double])

  final case class W(
      l1: Map[String, Gate1], l2: Map[String, Gate2],
      wd: Seq[Seq[Double]], bd: Seq[Double],
      w3: Seq[Seq[Double]], b3: Seq[Double]) {
    def u1: Int = l1("i").b.length
    def u2: Int = l2("i").b.length
    def d: Int = bd.length
    def classes: Int = b3.length
  }

  private val Gates = Seq("i", "f", "g", "o")

  /** Deterministic small init in [-0.5, 0.5) from `seed`, with the
    * forget-gate biases pinned to 1 (Keras `unit_forget_bias=True`, its
    * default and therefore the reference's — an open forget gate at
    * init is what lets gradients reach early timesteps through a
    * 2-layer stack) and the dense bias kept positive (alive relu — the
    * ConvTrainerSpec dead-filter note). */
  def init(u1: Int, u2: Int, d: Int, classes: Int, seed: Long): W = {
    val rng = new scala.util.Random(seed)
    def v(n: Int) = Seq.fill(n)(rng.nextDouble() - 0.5)
    def gateB(x: String, n: Int) =
      if (x == "f") { v(n); Seq.fill(n)(1.0) } else v(n)
    W(
      Gates.map(x =>
        x -> Gate1(v(u1), Seq.fill(u1)(v(u1)), gateB(x, u1))).toMap,
      Gates.map(x => x ->
        Gate2(Seq.fill(u2)(v(u1)), Seq.fill(u2)(v(u2)),
          gateB(x, u2))).toMap,
      Seq.fill(d)(v(u2)), v(d).map(_.abs + 0.1),
      Seq.fill(classes)(v(d)), v(classes))
  }

  final case class G(
      l1: Map[String, Gate1], l2: Map[String, Gate2],
      wd: Seq[Seq[Double]], bd: Seq[Double],
      w3: Seq[Seq[Double]], b3: Seq[Double], loss: Double)

  private def sig(z: Column): Column = lit(1.0) / (lit(1.0) + exp(-z))

  /** One full-batch pass at `w`: mean loss + mean gradients over train
    * rows, mean loss over `isVal` rows. One Spark job. */
  def gradientsVal(df: DataFrame, xs: Seq[Column], label: Column,
      rowKey: Column, w: W, epoch: Int, dropout: Double,
      isVal: Column): (G, Option[Double]) = {
    val T = xs.length
    val u1 = w.u1
    val u2 = w.u2
    val d = w.d
    val k = w.classes
    require(dropout >= 0.0 && dropout < 1.0, "dropout in [0, 1)")

    val base = df.select(xs.zipWithIndex.map { case (x, t) =>
      x.as(s"x${t + 1}") } ++ Seq(label.cast("int").as("y"),
      rowKey.as("rk"), isVal.as("iv")): _*)
    val xRef = (1 to T).map(t => col(s"x$t"))

    def m1(t: Int, u: Int): Column =
      TrainerCommon.dropMask(col("iv"), col("rk"), epoch,
        (t - 1) * u1 + u, dropout)
    def m2(u: Int): Column =
      TrainerCommon.dropMask(col("iv"), col("rk"), epoch,
        T * u1 + u, dropout)

    var cur = base
    var carry: Seq[Column] = xRef ++ Seq(col("y"), col("rk"), col("iv"))
    def stage(cols: Seq[(String, Column)]): Unit = {
      cur = cur.select(carry ++ cols.map { case (n, c) => c.as(n) }: _*)
      carry = carry ++ cols.map { case (n, _) => col(n) }
    }

    // ---- forward ----
    for (t <- 1 to T) {
      // layer 1 (scalar input)
      val h1p: Int => Column =
        if (t == 1) _ => lit(0.0) else u => col(s"h1_${t - 1}_$u")
      def pre1(x: String, u: Int): Column = {
        val g = w.l1(x)
        (Seq(xRef(t - 1) * lit(g.wx(u))) ++
          (0 until u1).map(v => h1p(v) * lit(g.u(u)(v))))
          .reduce(_ + _) + lit(g.b(u))
      }
      stage((0 until u1).flatMap(u => Seq(
        (s"i1_${t}_$u", sig(pre1("i", u))),
        (s"f1_${t}_$u", sig(pre1("f", u))),
        (s"g1_${t}_$u", tanh(pre1("g", u))),
        (s"o1_${t}_$u", sig(pre1("o", u))))))
      val c1p: Int => Column =
        if (t == 1) _ => lit(0.0) else u => col(s"c1_${t - 1}_$u")
      stage((0 until u1).map(u => (s"c1_${t}_$u",
        col(s"f1_${t}_$u") * c1p(u) +
          col(s"i1_${t}_$u") * col(s"g1_${t}_$u"))))
      stage((0 until u1).map(u =>
        (s"tc1_${t}_$u", tanh(col(s"c1_${t}_$u")))))
      stage((0 until u1).map(u =>
        (s"h1_${t}_$u", col(s"o1_${t}_$u") * col(s"tc1_${t}_$u"))))
      // inter-layer dropout on the returned sequence
      stage((0 until u1).map(u =>
        (s"a1_${t}_$u", col(s"h1_${t}_$u") * m1(t, u))))
      // layer 2 (vector input a1_t)
      val h2p: Int => Column =
        if (t == 1) _ => lit(0.0) else u => col(s"h2_${t - 1}_$u")
      def pre2(x: String, u: Int): Column = {
        val g = w.l2(x)
        ((0 until u1).map(v => col(s"a1_${t}_$v") * lit(g.wx(u)(v))) ++
          (0 until u2).map(v => h2p(v) * lit(g.u(u)(v))))
          .reduce(_ + _) + lit(g.b(u))
      }
      stage((0 until u2).flatMap(u => Seq(
        (s"i2_${t}_$u", sig(pre2("i", u))),
        (s"f2_${t}_$u", sig(pre2("f", u))),
        (s"g2_${t}_$u", tanh(pre2("g", u))),
        (s"o2_${t}_$u", sig(pre2("o", u))))))
      val c2p: Int => Column =
        if (t == 1) _ => lit(0.0) else u => col(s"c2_${t - 1}_$u")
      stage((0 until u2).map(u => (s"c2_${t}_$u",
        col(s"f2_${t}_$u") * c2p(u) +
          col(s"i2_${t}_$u") * col(s"g2_${t}_$u"))))
      stage((0 until u2).map(u =>
        (s"tc2_${t}_$u", tanh(col(s"c2_${t}_$u")))))
      stage((0 until u2).map(u =>
        (s"h2_${t}_$u", col(s"o2_${t}_$u") * col(s"tc2_${t}_$u"))))
    }

    // ---- head: dropped h2_T → relu Dense(d) → softmax ----
    stage((0 until u2).map(u =>
      (s"a2_$u", col(s"h2_${T}_$u") * m2(u))))
    stage((0 until d).map { j =>
      (s"zd_$j", (0 until u2).map(u =>
        col(s"a2_$u") * lit(w.wd(j)(u))).reduce(_ + _) + lit(w.bd(j)))
    })
    stage((0 until d).map(j =>
      (s"ad_$j", greatest(col(s"zd_$j"), lit(0.0)))))
    stage((0 until k).map { o =>
      (s"z3_$o", (0 until d).map(j =>
        col(s"ad_$j") * lit(w.w3(o)(j))).reduce(_ + _) + lit(w.b3(o)))
    })
    val (dz3, lossCol) = TrainerCommon.softmaxHead(
      (0 until k).map(o => col(s"z3_$o")), col("y"))
    stage(dz3.zipWithIndex.map { case (c, o) => (s"dzo_$o", c) } :+
      (("loss", lossCol)))

    // ---- backward through the head ----
    stage((0 until d).map { j =>
      (s"dzd_$j", (0 until k).map(o =>
        col(s"dzo_$o") * lit(w.w3(o)(j))).reduce(_ + _) *
        when(col(s"zd_$j") > 0, 1.0).otherwise(0.0))
    })

    // ---- backward through time, t = T..1 ----
    for (t <- T to 1 by -1) {
      // layer 2 first
      val dh2 = (0 until u2).map { u =>
        (s"dh2_${t}_$u",
          if (t == T)
            (0 until d).map(j => col(s"dzd_$j") * lit(w.wd(j)(u)))
              .reduce(_ + _) * m2(u)
          else
            (for (x <- Gates; v <- 0 until u2)
              yield col(s"dz2$x${t + 1}_$v") * lit(w.l2(x).u(v)(u)))
              .reduce(_ + _))
      }
      stage(dh2)
      stage((0 until u2).map { u =>
        val local = col(s"dh2_${t}_$u") * col(s"o2_${t}_$u") *
          (lit(1.0) - col(s"tc2_${t}_$u") * col(s"tc2_${t}_$u"))
        (s"dc2_${t}_$u",
          if (t == T) local
          else local + col(s"dc2_${t + 1}_$u") * col(s"f2_${t + 1}_$u"))
      })
      val c2p: Int => Column =
        if (t == 1) _ => lit(0.0) else u => col(s"c2_${t - 1}_$u")
      stage((0 until u2).flatMap { u =>
        val dc = col(s"dc2_${t}_$u")
        Seq(
          (s"dz2i${t}_$u", dc * col(s"g2_${t}_$u") * col(s"i2_${t}_$u") *
            (lit(1.0) - col(s"i2_${t}_$u"))),
          (s"dz2f${t}_$u", dc * c2p(u) * col(s"f2_${t}_$u") *
            (lit(1.0) - col(s"f2_${t}_$u"))),
          (s"dz2g${t}_$u", dc * col(s"i2_${t}_$u") *
            (lit(1.0) - col(s"g2_${t}_$u") * col(s"g2_${t}_$u"))),
          (s"dz2o${t}_$u", col(s"dh2_${t}_$u") * col(s"tc2_${t}_$u") *
            col(s"o2_${t}_$u") * (lit(1.0) - col(s"o2_${t}_$u"))))
      })
      // cross-layer + layer-1 recurrence
      val dh1 = (0 until u1).map { u =>
        val da1 = (for (x <- Gates; v <- 0 until u2)
          yield col(s"dz2$x${t}_$v") * lit(w.l2(x).wx(v)(u)))
          .reduce(_ + _) * m1(t, u)
        (s"dh1_${t}_$u",
          if (t == T) da1
          else da1 + (for (x <- Gates; v <- 0 until u1)
            yield col(s"dz1$x${t + 1}_$v") * lit(w.l1(x).u(v)(u)))
            .reduce(_ + _))
      }
      stage(dh1)
      stage((0 until u1).map { u =>
        val local = col(s"dh1_${t}_$u") * col(s"o1_${t}_$u") *
          (lit(1.0) - col(s"tc1_${t}_$u") * col(s"tc1_${t}_$u"))
        (s"dc1_${t}_$u",
          if (t == T) local
          else local + col(s"dc1_${t + 1}_$u") * col(s"f1_${t + 1}_$u"))
      })
      val c1p: Int => Column =
        if (t == 1) _ => lit(0.0) else u => col(s"c1_${t - 1}_$u")
      stage((0 until u1).flatMap { u =>
        val dc = col(s"dc1_${t}_$u")
        Seq(
          (s"dz1i${t}_$u", dc * col(s"g1_${t}_$u") * col(s"i1_${t}_$u") *
            (lit(1.0) - col(s"i1_${t}_$u"))),
          (s"dz1f${t}_$u", dc * c1p(u) * col(s"f1_${t}_$u") *
            (lit(1.0) - col(s"f1_${t}_$u"))),
          (s"dz1g${t}_$u", dc * col(s"i1_${t}_$u") *
            (lit(1.0) - col(s"g1_${t}_$u") * col(s"g1_${t}_$u"))),
          (s"dz1o${t}_$u", col(s"dh1_${t}_$u") * col(s"tc1_${t}_$u") *
            col(s"o1_${t}_$u") * (lit(1.0) - col(s"o1_${t}_$u"))))
      })
    }

    // ---- one aggregation ----
    def h1At(t: Int, v: Int): Column =
      if (t == 0) lit(0.0) else col(s"h1_${t}_$v")
    def h2At(t: Int, v: Int): Column =
      if (t == 0) lit(0.0) else col(s"h2_${t}_$v")
    def tavg(c: Column) = avg(when(!col("iv"), c))
    val l1Aggs = Gates.flatMap { x =>
      (0 until u1).map(u => tavg((1 to T).map(t =>
        col(s"dz1$x${t}_$u") * col(s"x$t")).reduce(_ + _))
        .as(s"gwx1${x}_$u")) ++
      (for (u <- 0 until u1; v <- 0 until u1)
        yield tavg((1 to T).map(t =>
          col(s"dz1$x${t}_$u") * h1At(t - 1, v)).reduce(_ + _))
          .as(s"gu1${x}_${u}_$v")) ++
      (0 until u1).map(u => tavg((1 to T).map(t =>
        col(s"dz1$x${t}_$u")).reduce(_ + _)).as(s"gb1${x}_$u"))
    }
    val l2Aggs = Gates.flatMap { x =>
      (for (u <- 0 until u2; v <- 0 until u1)
        yield tavg((1 to T).map(t =>
          col(s"dz2$x${t}_$u") * col(s"a1_${t}_$v")).reduce(_ + _))
          .as(s"gwx2${x}_${u}_$v")) ++
      (for (u <- 0 until u2; v <- 0 until u2)
        yield tavg((1 to T).map(t =>
          col(s"dz2$x${t}_$u") * h2At(t - 1, v)).reduce(_ + _))
          .as(s"gu2${x}_${u}_$v")) ++
      (0 until u2).map(u => tavg((1 to T).map(t =>
        col(s"dz2$x${t}_$u")).reduce(_ + _)).as(s"gb2${x}_$u"))
    }
    val aggs: Seq[Column] = l1Aggs ++ l2Aggs ++
      (for (j <- 0 until d; u <- 0 until u2)
        yield tavg(col(s"dzd_$j") * col(s"a2_$u")).as(s"gwd_${j}_$u")) ++
      (0 until d).map(j => tavg(col(s"dzd_$j")).as(s"gbd_$j")) ++
      (for (o <- 0 until k; j <- 0 until d)
        yield tavg(col(s"dzo_$o") * col(s"ad_$j")).as(s"gw3_${o}_$j")) ++
      (0 until k).map(o => tavg(col(s"dzo_$o")).as(s"gb3_$o")) ++
      Seq(tavg(col("loss")).as("mloss"),
        avg(when(col("iv"), col("loss"))).as("vloss"))
    val row = cur.agg(aggs.head, aggs.tail: _*).head()
    require(row.getAs[Any]("mloss") != null,
      "Lstm2Trainer.gradients: empty training input")
    def g(n: String) = row.getAs[Double](n)
    (G(
      Gates.map(x => x -> Gate1(
        Seq.tabulate(u1)(u => g(s"gwx1${x}_$u")),
        Seq.tabulate(u1, u1)((u, v) => g(s"gu1${x}_${u}_$v")),
        Seq.tabulate(u1)(u => g(s"gb1${x}_$u")))).toMap,
      Gates.map(x => x -> Gate2(
        Seq.tabulate(u2, u1)((u, v) => g(s"gwx2${x}_${u}_$v")),
        Seq.tabulate(u2, u2)((u, v) => g(s"gu2${x}_${u}_$v")),
        Seq.tabulate(u2)(u => g(s"gb2${x}_$u")))).toMap,
      Seq.tabulate(d, u2)((j, u) => g(s"gwd_${j}_$u")),
      Seq.tabulate(d)(j => g(s"gbd_$j")),
      Seq.tabulate(k, d)((o, j) => g(s"gw3_${o}_$j")),
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
    W(
      Gates.map(x => x -> Gate1(s1(w.l1(x).wx, gr.l1(x).wx),
        s2(w.l1(x).u, gr.l1(x).u), s1(w.l1(x).b, gr.l1(x).b))).toMap,
      Gates.map(x => x -> Gate2(s2(w.l2(x).wx, gr.l2(x).wx),
        s2(w.l2(x).u, gr.l2(x).u), s1(w.l2(x).b, gr.l2(x).b))).toMap,
      s2(w.wd, gr.wd), s1(w.bd, gr.bd),
      s2(w.w3, gr.w3), s1(w.b3, gr.b3))
  }

  /** One optimizer step (Adam / sgd) —
    * [[TrainerCommon.Tensors.applyOpt]]; OptimizerStepSpec pins
    * sgd(lr) == [[applyStep]] bit-for-bit, the gate MAPS (l1/l2) walked in
    * sorted-key order on both the flatten and rebuild sides. */
  private[ml] def applyOpt(w: W, gr: G,
      opt: TrainerCommon.Optimizer): W =
    TrainerCommon.Tensors.applyOpt(w, gr, opt)

  /** Full-batch gated-BPTT GD: one job per epoch. */
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

  /** Staged inference through the full stack (no dropout): argmax class
    * appended as `outCol`. Carries every staged column forward — the
    * widest frame is ~O(T*(u1+u2)) columns, cheap next to per-step
    * keep-list bookkeeping (and the forward pass in [[gradientsVal]]
    * does the same). */
  def predictStaged(df: DataFrame, carry: Seq[Column], xs: Seq[Column],
      w: W, outCol: String): DataFrame = {
    val T = xs.length
    val u1 = w.u1
    val u2 = w.u2
    var cur = df.select(carry ++ xs.zipWithIndex.map { case (x, t) =>
      x.as(s"qx${t + 1}") }: _*)
    var keep: Seq[Column] = carry ++ (1 to T).map(t => col(s"qx$t"))
    def stage(cols: Seq[(String, Column)]): Unit = {
      cur = cur.select(keep ++ cols.map { case (n, c) => c.as(n) }: _*)
      keep = keep ++ cols.map { case (n, _) => col(n) }
    }
    for (t <- 1 to T) {
      val h1p: Int => Column =
        if (t == 1) _ => lit(0.0) else u => col(s"qh1_${t - 1}_$u")
      def pre1(x: String, u: Int): Column = {
        val g = w.l1(x)
        (Seq(col(s"qx$t") * lit(g.wx(u))) ++
          (0 until u1).map(v => h1p(v) * lit(g.u(u)(v))))
          .reduce(_ + _) + lit(g.b(u))
      }
      stage((0 until u1).flatMap(u => Seq(
        (s"qi1_${t}_$u", sig(pre1("i", u))),
        (s"qf1_${t}_$u", sig(pre1("f", u))),
        (s"qg1_${t}_$u", tanh(pre1("g", u))),
        (s"qo1_${t}_$u", sig(pre1("o", u))))))
      val c1p: Int => Column =
        if (t == 1) _ => lit(0.0) else u => col(s"qc1_${t - 1}_$u")
      stage((0 until u1).map(u => (s"qc1_${t}_$u",
        col(s"qf1_${t}_$u") * c1p(u) +
          col(s"qi1_${t}_$u") * col(s"qg1_${t}_$u"))))
      stage((0 until u1).map(u => (s"qh1_${t}_$u",
        col(s"qo1_${t}_$u") * tanh(col(s"qc1_${t}_$u")))))
      val h2p: Int => Column =
        if (t == 1) _ => lit(0.0) else u => col(s"qh2_${t - 1}_$u")
      def pre2(x: String, u: Int): Column = {
        val g = w.l2(x)
        ((0 until u1).map(v => col(s"qh1_${t}_$v") * lit(g.wx(u)(v))) ++
          (0 until u2).map(v => h2p(v) * lit(g.u(u)(v))))
          .reduce(_ + _) + lit(g.b(u))
      }
      stage((0 until u2).flatMap(u => Seq(
        (s"qi2_${t}_$u", sig(pre2("i", u))),
        (s"qf2_${t}_$u", sig(pre2("f", u))),
        (s"qg2_${t}_$u", tanh(pre2("g", u))),
        (s"qo2_${t}_$u", sig(pre2("o", u))))))
      val c2p: Int => Column =
        if (t == 1) _ => lit(0.0) else u => col(s"qc2_${t - 1}_$u")
      stage((0 until u2).map(u => (s"qc2_${t}_$u",
        col(s"qf2_${t}_$u") * c2p(u) +
          col(s"qi2_${t}_$u") * col(s"qg2_${t}_$u"))))
      stage((0 until u2).map(u => (s"qh2_${t}_$u",
        col(s"qo2_${t}_$u") * tanh(col(s"qc2_${t}_$u")))))
    }
    stage((0 until w.d).map { j =>
      (s"qad_$j", greatest((0 until u2).map(u =>
        col(s"qh2_${T}_$u") * lit(w.wd(j)(u))).reduce(_ + _) +
        lit(w.bd(j)), lit(0.0)))
    })
    val z3 = (0 until w.classes).map { o =>
      (0 until w.d).map(j => col(s"qad_$j") * lit(w.w3(o)(j)))
        .reduce(_ + _) + lit(w.b3(o))
    }
    cur.select(carry :+ TrainerCommon.argmax(z3).as(outCol): _*)
  }
}
