package graft.ml

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Engine-native full-batch BPTT trainer for the reference's LSTM
  * architecture shape: LSTM(units) over a T-step / 1-channel sequence,
  * dense softmax head, cross-entropy loss (`models/lstm_model.py:19-26`
  * — the TRAINING half of the M4 gap, whose scoring half q41 already
  * covers; MLlib has no recurrent trainer, SURVEY §2.6). Adds the gated
  * recurrence beside sign-SGD (q39), MLP+dropout (q40), SimpleRNN BPTT
  * (q42) and Conv1D GD (q43). Remaining M4 architecture delta: the
  * reference stacks LSTM(64, return_sequences) -> LSTM(128) with
  * inter-layer dropout and a Dense(64) before the head
  * (`lstm_model.py:19-26`); the stacked form is [[Lstm2Trainer]]
  * (q60) — this class is the single-layer building block.
  *
  * Same discipline as [[RnnTrainer]]: forward AND backward passes are
  * staged expression columns (one select per dependency frontier —
  * inlining the recurrence duplicates units^T subtrees), one
  * aggregation per epoch carrying O(params) partial sums, weights ride
  * the plan as literals, gradients are partitioning-invariant within
  * float tolerance.
  *
  * Forward (Keras gate order i, f, g(=c~), o; h_0 = c_0 = 0):
  *   i_t = σ(Wi x_t + Ui h_{t-1} + bi)    f_t = σ(Wf x_t + Uf h_{t-1} + bf)
  *   g_t = tanh(Wg x_t + Ug h_{t-1} + bg) o_t = σ(Wo x_t + Uo h_{t-1} + bo)
  *   c_t = f_t ⊙ c_{t-1} + i_t ⊙ g_t      h_t = o_t ⊙ tanh(c_t)
  *   logits = W2 h_T + b2 ; L = CE(softmax(logits), y)
  *
  * Backward (per step t = T..1; dh_T = W2ᵀ dz2, dc_{T+1} = 0):
  *   dh_t    = W2ᵀ dz2                        (t = T)
  *           = Σ_X U_Xᵀ dz_{X,t+1}            (t < T, X ∈ {i,f,g,o})
  *   dc_t    = dh_t ⊙ o_t ⊙ (1 − tanh²(c_t)) + dc_{t+1} ⊙ f_{t+1}
  *   dz_i,t  = dc_t ⊙ g_t ⊙ i_t(1−i_t)
  *   dz_f,t  = dc_t ⊙ c_{t-1} ⊙ f_t(1−f_t)
  *   dz_g,t  = dc_t ⊙ i_t ⊙ (1−g_t²)
  *   dz_o,t  = dh_t ⊙ tanh(c_t) ⊙ o_t(1−o_t)
  *   dW_X[u] = Σ_t dz_{X,t}[u]·x_t ; dU_X[u][v] = Σ_t dz_{X,t}[u]·h_{t-1}[v]
  *   db_X[u] = Σ_t dz_{X,t}[u] ; dW2[o][u] = dz2[o]·h_T[u] ; db2 = dz2
  */
object LstmTrainer {

  /** One gate's parameters: input weight (1 channel), recurrent matrix
    * units x units, bias. */
  final case class GateW(wx: Seq[Double], u: Seq[Seq[Double]],
      b: Seq[Double]) {
    require(u.length == wx.length && u.forall(_.length == wx.length) &&
      b.length == wx.length, "inconsistent gate shapes")
  }

  final case class LstmWeights(i: GateW, f: GateW, g: GateW, o: GateW,
      w2: Seq[Seq[Double]], b2: Seq[Double]) {
    def units: Int = i.wx.length
    def classes: Int = w2.length
    require(Seq(f, g, o).forall(_.wx.length == units) &&
      w2.forall(_.length == units) && b2.length == classes,
      "inconsistent shapes")
  }

  /** Deterministic small init in [-0.5, 0.5) from `seed`. */
  def init(units: Int, classes: Int, seed: Long): LstmWeights = {
    val rng = new scala.util.Random(seed)
    def v(n: Int) = Seq.fill(n)(rng.nextDouble() - 0.5)
    def gate() = GateW(v(units), Seq.fill(units)(v(units)), v(units))
    LstmWeights(gate(), gate(), gate(), gate(),
      Seq.fill(classes)(v(units)), v(classes))
  }

  final case class LstmGrads(i: GateW, f: GateW, g: GateW, o: GateW,
      w2: Seq[Seq[Double]], b2: Seq[Double], loss: Double)

  private def sig(z: Column): Column = lit(1.0) / (lit(1.0) + exp(-z))

  private val GateNames = Seq("i", "f", "g", "o")
  private def gw(w: LstmWeights, x: String): GateW = x match {
    case "i" => w.i; case "f" => w.f; case "g" => w.g; case "o" => w.o
  }

  /** One full-batch BPTT pass at `w`: mean loss + mean gradients.
    * `xs(t)` is the scalar input at timestep t; `label` in 0..k-1.
    * One Spark job. */
  def gradients(df: DataFrame, xs: Seq[Column], label: Column,
      w: LstmWeights): LstmGrads = {
    val T = xs.length
    val units = w.units
    val k = w.classes

    val base = df.select(xs.zipWithIndex.map { case (x, t) =>
      x.as(s"x${t + 1}") } :+ label.cast("int").as("y"): _*)
    val xRef = (1 to T).map(t => col(s"x$t"))

    var cur = base
    var carry: Seq[Column] = xRef :+ col("y")
    // stage a dependency frontier: aliased columns in, attribute refs
    // appended to the running carry (names passed explicitly — Column
    // no longer exposes its expression in the Spark 4 API)
    def stage(cols: Seq[(String, Column)]): Unit = {
      cur = cur.select(carry ++ cols.map { case (n, c) => c.as(n) }: _*)
      carry = carry ++ cols.map { case (n, _) => col(n) }
    }

    // ---- forward: 3 dependency frontiers per timestep ----
    for (t <- 1 to T) {
      val hPrev: Int => Column =
        if (t == 1) _ => lit(0.0) else u => col(s"h${t - 1}_$u")
      def pre(x: String, u: Int): Column = {
        val g = gw(w, x)
        (Seq(xRef(t - 1) * lit(g.wx(u))) ++
          (0 until units).map(v => hPrev(v) * lit(g.u(u)(v))))
          .reduce(_ + _) + lit(g.b(u))
      }
      stage((0 until units).flatMap(u => Seq(
        (s"i${t}_$u", sig(pre("i", u))),
        (s"f${t}_$u", sig(pre("f", u))),
        (s"g${t}_$u", tanh(pre("g", u))),
        (s"o${t}_$u", sig(pre("o", u))))))
      val cPrev: Int => Column =
        if (t == 1) _ => lit(0.0) else u => col(s"c${t - 1}_$u")
      stage((0 until units).map(u =>
        (s"c${t}_$u",
          col(s"f${t}_$u") * cPrev(u) + col(s"i${t}_$u") * col(s"g${t}_$u"))))
      stage((0 until units).map(u =>
        (s"tc${t}_$u", tanh(col(s"c${t}_$u")))))
      stage((0 until units).map(u =>
        (s"h${t}_$u", col(s"o${t}_$u") * col(s"tc${t}_$u"))))
    }

    // ---- head ----
    val hT = (0 until units).map(u => col(s"h${T}_$u"))
    stage((0 until k).map { o =>
      (s"z2_$o",
        (0 until units).map(u => hT(u) * lit(w.w2(o)(u))).reduce(_ + _) +
          lit(w.b2(o)))
    })
    val (dz2, lossCol) = TrainerCommon.softmaxHead(
      (0 until k).map(o => col(s"z2_$o")), col("y"))
    stage(dz2.zipWithIndex.map { case (c, o) => (s"dzo_$o", c) } :+
      (("loss", lossCol)))

    // ---- backward: dh, dc, then the four gate dz per step, T..1 ----
    for (t <- T to 1 by -1) {
      val dh = (0 until units).map { u =>
        (s"dh${t}_$u",
          if (t == T)
            (0 until k).map(o => col(s"dzo_$o") * lit(w.w2(o)(u)))
              .reduce(_ + _)
          else
            (for (x <- GateNames; v <- 0 until units)
              yield col(s"dz$x${t + 1}_$v") * lit(gw(w, x).u(v)(u)))
              .reduce(_ + _))
      }
      stage(dh)
      stage((0 until units).map { u =>
        val local = col(s"dh${t}_$u") * col(s"o${t}_$u") *
          (lit(1.0) - col(s"tc${t}_$u") * col(s"tc${t}_$u"))
        (s"dc${t}_$u",
          if (t == T) local
          else local + col(s"dc${t + 1}_$u") * col(s"f${t + 1}_$u"))
      })
      val cPrev: Int => Column =
        if (t == 1) _ => lit(0.0) else u => col(s"c${t - 1}_$u")
      stage((0 until units).flatMap { u =>
        val dc = col(s"dc${t}_$u")
        Seq(
          (s"dzi${t}_$u", dc * col(s"g${t}_$u") * col(s"i${t}_$u") *
            (lit(1.0) - col(s"i${t}_$u"))),
          (s"dzf${t}_$u", dc * cPrev(u) * col(s"f${t}_$u") *
            (lit(1.0) - col(s"f${t}_$u"))),
          (s"dzg${t}_$u", dc * col(s"i${t}_$u") *
            (lit(1.0) - col(s"g${t}_$u") * col(s"g${t}_$u"))),
          (s"dzo${t}_$u", col(s"dh${t}_$u") * col(s"tc${t}_$u") *
            col(s"o${t}_$u") * (lit(1.0) - col(s"o${t}_$u"))))
      })
    }

    // ---- one aggregation: mean of every gradient product ----
    def hAt(t: Int, v: Int): Column =
      if (t == 0) lit(0.0) else col(s"h${t}_$v")
    val gateAggs = GateNames.flatMap { x =>
      (0 until units).map(u => avg((1 to T).map(t =>
        col(s"dz$x${t}_$u") * col(s"x$t")).reduce(_ + _))
        .as(s"gwx${x}_$u")) ++
      (for (u <- 0 until units; v <- 0 until units)
        yield avg((1 to T).map(t =>
          col(s"dz$x${t}_$u") * hAt(t - 1, v)).reduce(_ + _))
          .as(s"gu${x}_${u}_$v")) ++
      (0 until units).map(u => avg((1 to T).map(t =>
        col(s"dz$x${t}_$u")).reduce(_ + _)).as(s"gb${x}_$u"))
    }
    val aggs: Seq[Column] = gateAggs ++
      (for (o <- 0 until k; u <- 0 until units)
        yield avg(col(s"dzo_$o") * col(s"h${T}_$u")).as(s"gw2_${o}_$u")) ++
      (0 until k).map(o => avg(col(s"dzo_$o")).as(s"gb2_$o")) :+
      avg(col("loss")).as("mloss")
    val row = cur.agg(aggs.head, aggs.tail: _*).head()
    require(row.getAs[Any]("mloss") != null,
      "LstmTrainer.gradients: empty training input")
    def g(n: String) = row.getAs[Double](n)
    def gateGrad(x: String) = GateW(
      Seq.tabulate(units)(u => g(s"gwx${x}_$u")),
      Seq.tabulate(units, units)((u, v) => g(s"gu${x}_${u}_$v")),
      Seq.tabulate(units)(u => g(s"gb${x}_$u")))
    LstmGrads(gateGrad("i"), gateGrad("f"), gateGrad("g"), gateGrad("o"),
      Seq.tabulate(k, units)((o, u) => g(s"gw2_${o}_$u")),
      Seq.tabulate(k)(o => g(s"gb2_$o")),
      g("mloss"))
  }

  /** Full-batch BPTT GD: `epochs` steps from `w0`; returns final weights
    * + per-epoch pre-update mean loss. One Spark job per epoch. */
  def fit(df: DataFrame, xs: Seq[Column], label: Column, w0: LstmWeights,
      epochs: Int, lr: Double): (LstmWeights, Seq[Double]) = {
    var w = w0
    val losses = (1 to epochs).map { _ =>
      val gr = gradients(df, xs, label, w)
      w = applyStep(w, gr, lr)
      gr.loss
    }
    (w, losses)
  }

  /** One GD step. */
  private[ml] def applyStep(w: LstmWeights, gr: LstmGrads,
      lr: Double): LstmWeights = {
    def step(a: Seq[Double], ga: Seq[Double]) =
      a.zip(ga).map { case (x, gx) => x - lr * gx }
    def stepM(a: Seq[Seq[Double]], ga: Seq[Seq[Double]]) =
      a.zip(ga).map { case (r, gr2) => step(r, gr2) }
    def stepG(a: GateW, ga: GateW) =
      GateW(step(a.wx, ga.wx), stepM(a.u, ga.u), step(a.b, ga.b))
    LstmWeights(stepG(w.i, gr.i), stepG(w.f, gr.f),
      stepG(w.g, gr.g), stepG(w.o, gr.o),
      stepM(w.w2, gr.w2), step(w.b2, gr.b2))
  }

  /** One optimizer step (Adam / sgd) —
    * [[TrainerCommon.Tensors.applyOpt]]; OptimizerStepSpec pins
    * sgd(lr) == [[applyStep]] bit-for-bit, the 14-tensor gate tree
    * included. */
  private[ml] def applyOpt(w: LstmWeights, gr: LstmGrads,
      opt: TrainerCommon.Optimizer): LstmWeights =
    TrainerCommon.Tensors.applyOpt(w, gr, opt)

  /** Staged inference: argmax class under `w` appended as `outCol`
    * (first index on ties); `carry` columns survive into the returned
    * frame. Same per-frontier staging as the forward pass. */
  def predictStaged(df: DataFrame, carry: Seq[Column], xs: Seq[Column],
      w: LstmWeights, outCol: String): DataFrame = {
    val T = xs.length
    val units = w.units
    var cur = df.select(carry ++ xs.zipWithIndex.map { case (x, t) =>
      x.as(s"px${t + 1}") }: _*)
    for (t <- 1 to T) {
      val future = (t + 1 to T).map(s => col(s"px$s"))
      val hPrev: Int => Column =
        if (t == 1) _ => lit(0.0) else u => col(s"ph${t - 1}_$u")
      val cPrevCols: Seq[Column] =
        if (t == 1) Seq.empty
        else (0 until units).map(u => col(s"pc${t - 1}_$u"))
      val cPrev: Int => Column =
        if (t == 1) _ => lit(0.0) else u => col(s"pc${t - 1}_$u")
      def pre(x: String, u: Int): Column = {
        val g = gw(w, x)
        (Seq(col(s"px$t") * lit(g.wx(u))) ++
          (0 until units).map(v => hPrev(v) * lit(g.u(u)(v))))
          .reduce(_ + _) + lit(g.b(u))
      }
      // frontier 1: gates (px_t consumed here; pc_{t-1} rides along for
      // the cell update below — dropping it was the carry bug this
      // explicit keep-list exists to prevent)
      cur = cur.select(carry ++ future ++ cPrevCols ++
        (0 until units).flatMap(u => Seq(
          sig(pre("i", u)).as(s"pi${t}_$u"),
          sig(pre("f", u)).as(s"pf${t}_$u"),
          tanh(pre("g", u)).as(s"pg${t}_$u"),
          sig(pre("o", u)).as(s"po${t}_$u"))): _*)
      // frontier 2: cell state
      cur = cur.select(carry ++ future ++
        (0 until units).map(u => col(s"po${t}_$u")) ++
        (0 until units).map(u =>
          (col(s"pf${t}_$u") * cPrev(u) +
            col(s"pi${t}_$u") * col(s"pg${t}_$u")).as(s"pc${t}_$u")): _*)
      // frontier 3: hidden state (pc_t kept for step t+1's cell update)
      cur = cur.select(carry ++ future ++
        (0 until units).map(u => col(s"pc${t}_$u")) ++
        (0 until units).map(u =>
          (col(s"po${t}_$u") * tanh(col(s"pc${t}_$u"))).as(s"ph${t}_$u")): _*)
    }
    val h = (0 until units).map(u => col(s"ph${T}_$u"))
    val z2 = (0 until w.classes).map { o =>
      (0 until units).map(u => h(u) * lit(w.w2(o)(u))).reduce(_ + _) +
        lit(w.b2(o))
    }
    cur.select(carry :+ TrainerCommon.argmax(z2).as(outCol): _*)
  }
}
