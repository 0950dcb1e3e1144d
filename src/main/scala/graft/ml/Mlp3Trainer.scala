package graft.ml

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** STACKED deep-MLP trainer — the reference's actual feed-forward
  * architecture (`models/mlp_model.py:19-26`): Dense(256, relu) →
  * Dropout(0.3) → Dense(128, relu) → Dropout(0.3) → Dense(64, relu) →
  * Dense(num_classes, softmax) — and, at ONE hidden layer, the narrow
  * dropout MLP that q40/q40b train (x → dense(h, relu) → dropout(p) →
  * dense(k) → softmax), the regularizer MLlib's
  * `MultilayerPerceptronClassifier` cannot express (SURVEY §2.6 M1).
  *
  * Generic over depth: `W.ws`/`W.bs` hold one (out × in) matrix + bias
  * per layer — hidden relu layers first, the softmax output layer last —
  * and `drops` gives one inverted-dropout rate per HIDDEN layer (the
  * reference drops after layers 1 and 2 only: `Seq(0.3, 0.3, 0.0)`).
  * Per-layer mask units are offset by the cumulative hidden width so the
  * (row, epoch, unit) hash families never collide across layers — the
  * same discipline as [[Rnn2Trainer]]'s two mask spaces. Masks are
  * [[TrainerCommon.dropMask]]'s hash of (row key, epoch, unit), so a
  * retried or re-partitioned pass draws the same masks.
  *
  * Execution contract shared by every trainer in `ml/`: weights ride
  * the plan as literals (broadcast-small-model), forward and backward
  * are staged expression columns (one select per dependency frontier),
  * one epoch = ONE aggregation of O(params) mean gradient products. The
  * staged form is the FD-checkable semantic source of truth at narrow
  * widths; the fits run on the [[WideMlp3]] treeAggregate twin
  * (Mlp3TrainerSpec and WideSinglesSpec pin the two gradient-for-
  * gradient), because 128-wide layers as expression columns are a
  * quadratic plan blowup — the exact q58/q73 split.
  */
object Mlp3Trainer {

  /** ws(l): (out × in) matrix of layer l; bs(l): its bias. Layers
    * 0..L-2 are hidden (relu), layer L-1 is the softmax output. */
  final case class W(ws: Seq[Seq[Seq[Double]]], bs: Seq[Seq[Double]]) {
    def nLayers: Int = ws.length
    def classes: Int = ws.last.length
    /** Hidden layer widths (everything but the output layer). */
    def hidden: Seq[Int] = ws.init.map(_.length)
    require(ws.length == bs.length && ws.length >= 2 &&
      ws.indices.forall(l => ws(l).length == bs(l).length &&
        ws(l).nonEmpty &&
        (l == 0 || ws(l).forall(_.length == ws(l - 1).length))),
      "inconsistent shapes")
  }

  /** The one-hidden-layer init of the narrow MLP (q40/q40b): one
    * `Random(seed)` draws w1's rows, b1, w2's rows, then b2, each
    * uniform in [-0.5, 0.5) and unscaled. The draw order is part of the
    * contract: the q40 rows and MlpBitsSpec's digests depend on it. */
  def initOneHidden(d: Int, hidden: Int, classes: Int, seed: Long): W = {
    val rng = new scala.util.Random(seed)
    def m(r: Int, c: Int) = Seq.fill(r, c)(rng.nextDouble() - 0.5)
    def v(n: Int) = Seq.fill(n)(rng.nextDouble() - 0.5)
    val w1 = m(hidden, d); val b1 = v(hidden)
    val w2 = m(classes, hidden); val b2 = v(classes)
    W(Seq(w1, w2), Seq(b1, b2))
  }

  /** Deterministic init scaled 1/√fanIn per layer (the WideRnn2Spec
    * lesson: an unscaled uniform(-0.5, 0.5) init explodes at 128/256
    * fan-in — a fan-in-scaled init is what any real framework's default
    * produces, and it keeps the same init usable from toy to reference
    * widths). */
  def init(d: Int, hidden: Seq[Int], classes: Int, seed: Long): W = {
    val rng = new scala.util.Random(seed)
    val sizes = d +: hidden :+ classes
    val ws = (1 until sizes.length).map { l =>
      val fanIn = sizes(l - 1)
      Seq.fill(sizes(l), fanIn)((rng.nextDouble() - 0.5) /
        math.sqrt(fanIn.toDouble))
    }
    val bs = (1 until sizes.length).map(l =>
      Seq.fill(sizes(l))(rng.nextDouble() - 0.5))
    W(ws, bs)
  }

  /** Mean gradients in `W`'s shape plus the trailing loss — the
    * [[TrainerCommon.Tensors]] walker convention. */
  final case class G(ws: Seq[Seq[Seq[Double]]], bs: Seq[Seq[Double]],
      loss: Double)

  /** Per-layer mask-unit offset: layer l's unit u hashes as
    * offset(l) + u, disjoint across layers. */
  private def maskOffsets(w: W): Seq[Int] =
    w.hidden.scanLeft(0)(_ + _)

  /** One full-batch pass at `w`: mean cross-entropy loss and mean
    * gradients over train rows (epoch-`epoch` dropout masks applied
    * per `drops`), mean loss over `isVal` rows at inference semantics
    * (no mask, no rescale). One Spark job. */
  def gradientsVal(df: DataFrame, features: Seq[Column], label: Column,
      rowKey: Column, w: W, epoch: Int, drops: Seq[Double],
      isVal: Column): (G, Option[Double]) = {
    val d = features.length
    val L = w.nLayers - 1 // hidden layer count
    val k = w.classes
    require(drops.length == L, s"drops must give one rate per hidden " +
      s"layer ($L), got ${drops.length}")
    require(drops.forall(p => p >= 0.0 && p < 1.0), "dropout in [0, 1)")
    require(w.ws.head.head.length == d, "feature count != layer-0 width")
    val offs = maskOffsets(w)

    val base = df.select(
      (features.zipWithIndex.map { case (f, i) => f.as(s"x$i") } :+
        label.cast("int").as("y")) ++
        Seq(rowKey.as("rk"), isVal.as("iv")): _*)
    val xs = (0 until d).map(i => col(s"x$i"))

    var cur = base
    var carry: Seq[Column] = xs ++ Seq(col("y"), col("rk"), col("iv"))
    def stage(named: Seq[(Column, String)]): Unit = {
      cur = cur.select(carry ++ named.map { case (c, n) => c.as(n) }: _*)
      carry = carry ++ named.map { case (_, n) => col(n) }
    }
    def mask(l: Int, u: Int): Column =
      TrainerCommon.dropMask(col("iv"), col("rk"), epoch, offs(l) + u,
        drops(l))

    // ---- forward: per hidden layer, pre-activations then dropped
    // relu activations (mask folded into a; relu' recomputed from z's
    // sign in backprop) ----
    def inCols(l: Int): Seq[Column] =
      if (l == 0) xs else (0 until w.hidden(l - 1)).map(u => col(s"a${l - 1}_$u"))
    for (l <- 0 until L) {
      val ins = inCols(l)
      stage((0 until w.hidden(l)).map { u =>
        (ins.indices.map(i => ins(i) * lit(w.ws(l)(u)(i))).reduce(_ + _) +
          lit(w.bs(l)(u)), s"z${l}_$u")
      })
      stage((0 until w.hidden(l)).map { u =>
        (greatest(col(s"z${l}_$u"), lit(0.0)) * mask(l, u), s"a${l}_$u")
      })
    }

    // ---- output logits + stable softmax head ----
    val lastA = inCols(L)
    stage((0 until k).map { o =>
      (lastA.indices.map(u => lastA(u) * lit(w.ws(L)(o)(u)))
        .reduce(_ + _) + lit(w.bs(L)(o)), s"zo_$o")
    })
    val (dzo, lossCol) = TrainerCommon.softmaxHead(
      (0 until k).map(o => col(s"zo_$o")), col("y"))
    stage(dzo.zipWithIndex.map { case (c, o) => (c, s"dzo_$o") } :+
      ((lossCol: Column, "loss")))

    // ---- backward, hidden layers top-down: dz{l}_u =
    // (upperᵀ · dz_upper)_u * mask_l(u) * relu'(z{l}_u) ----
    for (l <- (L - 1) to 0 by -1) {
      val fromUpper: Int => Column =
        if (l == L - 1) u => (0 until k).map(o =>
          col(s"dzo_$o") * lit(w.ws(L)(o)(u))).reduce(_ + _)
        else u => (0 until w.hidden(l + 1)).map(v =>
          col(s"dz${l + 1}_$v") * lit(w.ws(l + 1)(v)(u))).reduce(_ + _)
      stage((0 until w.hidden(l)).map { u =>
        (fromUpper(u) * mask(l, u) *
          when(col(s"z${l}_$u") > 0, 1.0).otherwise(0.0), s"dz${l}_$u")
      })
    }

    // ---- one aggregation: mean gradient products over train rows ----
    def dzCol(l: Int): Int => Column =
      if (l == L) o => col(s"dzo_$o") else u => col(s"dz${l}_$u")
    def outWidth(l: Int): Int = if (l == L) k else w.hidden(l)
    def tavg(c: Column) = avg(when(!col("iv"), c))
    val aggs: Seq[Column] =
      (for (l <- 0 to L; u <- 0 until outWidth(l);
            (in, i) <- inCols(l).zipWithIndex)
        yield tavg(dzCol(l)(u) * in).as(s"gw${l}_${u}_$i")) ++
      (for (l <- 0 to L; u <- 0 until outWidth(l))
        yield tavg(dzCol(l)(u)).as(s"gb${l}_$u")) ++
      Seq(tavg(col("loss")).as("mloss"),
        avg(when(col("iv"), col("loss"))).as("vloss"))
    val row = cur.agg(aggs.head, aggs.tail: _*).head()
    require(row.getAs[Any]("mloss") != null,
      "Mlp3Trainer.gradients: empty training input")
    def g(n: String) = row.getAs[Double](n)
    (G(
      (0 to L).map(l => Seq.tabulate(outWidth(l), inCols(l).length)(
        (u, i) => g(s"gw${l}_${u}_$i"))),
      (0 to L).map(l => Seq.tabulate(outWidth(l))(u => g(s"gb${l}_$u"))),
      g("mloss")),
      Option(row.getAs[Any]("vloss")).map(_.asInstanceOf[Double]))
  }

  /** One optimizer step via the shared structural walker
    * ([[TrainerCommon.Tensors.applyOpt]]). */
  private[ml] def applyOpt(w: W, gr: G,
      opt: TrainerCommon.Optimizer): W =
    TrainerCommon.Tensors.applyOpt(w, gr, opt)

  /** Fixed-epoch full-batch GD (SGD step) — the narrow-spec harness. */
  def fit(df: DataFrame, features: Seq[Column], label: Column,
      rowKey: Column, w0: W, epochs: Int, lr: Double,
      drops: Seq[Double]): (W, Seq[Double]) = {
    var w = w0
    val opt = TrainerCommon.Optimizer.sgd(lr)
    val losses = (1 to epochs).map { e =>
      val (gr, _) = gradientsVal(df, features, label, rowKey, w, e,
        drops, lit(false))
      w = applyOpt(w, gr, opt)
      gr.loss
    }
    (w, losses)
  }

  /** Keras-parity fit: EarlyStopping(val_loss, patience,
    * restore_best_weights) + pluggable optimizer (Adam(0.001) for the
    * reference) + deterministic hash mini-batching — the same
    * [[TrainerCommon]] walkers as every other family. */
  def fitEsOpt(df: DataFrame, features: Seq[Column], label: Column,
      rowKey: Column, w0: W, maxEpochs: Int,
      opt: TrainerCommon.Optimizer, drops: Seq[Double], isVal: Column,
      patience: Int = 5, batchKeys: Seq[Column] = Nil,
      nBatches: Int = 1): TrainerCommon.EsResult[W] =
    TrainerCommon.earlyStop(w0, maxEpochs, patience) { (w, e) =>
      TrainerCommon.batchedEpoch(df, isVal, batchKeys, nBatches, e, w,
          evalOnly = e > maxEpochs) {
        (dfb, ivb, wc) =>
          val (gr, vl) = gradientsVal(dfb, features, label, rowKey, wc,
            e, drops, ivb)
          (applyOpt(wc, gr, opt), gr.loss, vl)
      }
    }

  /** Inference column: argmax class under `w`, no dropout (inverted
    * dropout trains scaled so inference is the plain stacked forward
    * pass). Narrow widths only — at reference widths the expression
    * tree is the quadratic blowup the [[WideMlp3]] twin exists to
    * avoid. */
  def predict(features: Seq[Column], w: W): Column = {
    val L = w.nLayers - 1
    var a: Seq[Column] = features
    for (l <- 0 until L) {
      a = (0 until w.hidden(l)).map { u =>
        greatest(a.indices.map(i => a(i) * lit(w.ws(l)(u)(i)))
          .reduce(_ + _) + lit(w.bs(l)(u)), lit(0.0))
      }
    }
    val logits = (0 until w.classes).map { o =>
      a.indices.map(u => a(u) * lit(w.ws(L)(o)(u))).reduce(_ + _) +
        lit(w.bs(L)(o))
    }
    TrainerCommon.argmax(logits)
  }
}
