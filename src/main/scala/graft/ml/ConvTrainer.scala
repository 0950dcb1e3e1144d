package graft.ml

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Engine-native full-batch trainer for a 1-D CONVOLUTIONAL classifier:
  * Conv1D(filters, kernel k, relu, valid padding) -> global average
  * pooling -> dense softmax, cross-entropy loss — the training half of
  * the M2 gap (`models/cnn_model.py:21-32`; q37 covers scoring). MLlib
  * has no conv trainer (SURVEY §2.6). Architecture delta, documented:
  * ONE conv layer instead of the reference's stacked conv blocks.
  * Pooling is selectable: [[MaxPool]] (the reference's choice — the
  * backward pass routes the gradient to the FIRST argmax position via
  * staged comparison indicators) or [[AvgPool]] (uniform 1/P routing).
  *
  * Same execution contract as Mlp3Trainer/RnnTrainer: per-row forward +
  * backward passes are staged expression columns (weights are plan
  * literals), one epoch = ONE aggregation of mean gradients, O(params)
  * to the driver and O(params) updated there.
  *
  * Equations (P = positions = T-k+1, single input channel):
  *   z[p][f] = b[f] + Σ_j w[f][j]·x[p+j] ;  a = relu(z)
  *   pool[f] = (1/P) Σ_p a[p][f]        (avg)   |  max_p a[p][f] (max)
  *   logits = w2·pool + b2 ; softmax CE
  *   dz2 = p - onehot(y) ;  dpool[f] = Σ_o dz2[o]·w2[o][f]
  *   da[p][f] = dpool[f]/P (avg)  |  dpool[f]·1[p = first argmax] (max)
  *   dz[p][f] = da[p][f]·1[z[p][f] > 0]
  *   dw[f][j] = Σ_p dz[p][f]·x[p+j] ;  db[f] = Σ_p dz[p][f]
  *   dw2[o][f] = dz2[o]·pool[f]     ;  db2 = dz2
  */
object ConvTrainer {

  sealed trait Pooling
  /** Uniform 1/P gradient routing. */
  case object AvgPool extends Pooling
  /** Reference parity (`cnn_model.py` MaxPooling1D): gradient routed to
    * the first argmax position (Keras/np tie convention). */
  case object MaxPool extends Pooling

  /** w: filters x kernel (1 input channel), b: filters,
    * w2: classes x filters, b2: classes. */
  final case class ConvWeights(w: Seq[Seq[Double]], b: Seq[Double],
      w2: Seq[Seq[Double]], b2: Seq[Double]) {
    def filters: Int = w.length
    def kernel: Int = w.head.length
    def classes: Int = w2.length
    require(b.length == filters && w2.forall(_.length == filters) &&
      b2.length == classes, "inconsistent shapes")
  }

  /** Deterministic small init in [-0.5, 0.5) from `seed`. */
  def init(filters: Int, kernel: Int, classes: Int,
      seed: Long): ConvWeights = {
    val rng = new scala.util.Random(seed)
    def v(n: Int) = Seq.fill(n)(rng.nextDouble() - 0.5)
    ConvWeights(Seq.fill(filters)(v(kernel)), v(filters),
      Seq.fill(classes)(v(filters)), v(classes))
  }

  final case class ConvGrads(w: Seq[Seq[Double]], b: Seq[Double],
      w2: Seq[Seq[Double]], b2: Seq[Double], loss: Double)

  /** One full-batch pass at `w`: mean loss + mean gradients. `xs` is
    * the T-long input sequence (T >= kernel). One Spark job. */
  def gradients(df: DataFrame, xs: Seq[Column], label: Column,
      w: ConvWeights, pool: Pooling = AvgPool): ConvGrads =
    gradientsVal(df, xs, label, lit(0L), w, 1, 0.0, lit(false), pool)._1

  /** [[gradients]] with DROPOUT on the pooled feature vector (the
    * post-pool, pre-head position — the reference's Dropout sits after
    * its dense head layer, `cnn_model.py:29`; in this flat stack the
    * pooled features ARE the head input) and an in-pass VALIDATION
    * slice (`isVal` rows: excluded from every gradient average,
    * inference semantics, mean loss returned separately — the
    * TrainerCommon.earlyStop contract). One Spark job. */
  def gradientsVal(df: DataFrame, xs: Seq[Column], label: Column,
      rowKey: Column, w: ConvWeights, epoch: Int, dropout: Double,
      isVal: Column, pool: Pooling = AvgPool): (ConvGrads, Option[Double]) = {
    val T = xs.length
    val k = w.kernel
    val nf = w.filters
    val kc = w.classes
    val P = T - k + 1
    require(P >= 1, s"input length $T < kernel $k")
    require(dropout >= 0.0 && dropout < 1.0, "dropout in [0, 1)")

    val base = df.select(xs.zipWithIndex.map { case (x, t) =>
      x.as(s"x${t + 1}") } ++ Seq(label.cast("int").as("y"),
      rowKey.as("rk"), isVal.as("iv")): _*)
    val xRef = (1 to T).map(t => col(s"x$t"))
    var carry: Seq[Column] = xRef ++ Seq(col("y"), col("rk"), col("iv"))

    def maskOf(f: Int): Column =
      TrainerCommon.dropMask(col("iv"), col("rk"), epoch, f, dropout)

    // conv + relu, one staged select (each a[p][f] is a small k-term
    // expression over attributes — no recurrence, so one stage suffices)
    val aCols = for (p <- 0 until P; f <- 0 until nf) yield
      greatest((0 until k).map(j => xRef(p + j) * lit(w.w(f)(j)))
        .reduce(_ + _) + lit(w.b(f)), lit(0.0)).as(s"a${p}_$f")
    var cur = base.select(carry ++ aCols: _*)
    carry = carry ++ (for (p <- 0 until P; f <- 0 until nf)
      yield col(s"a${p}_$f"))

    // global pool (avg or max), staged
    val poolCols = (0 until nf).map { f =>
      val as = (0 until P).map(p => col(s"a${p}_$f"))
      (pool match {
        case AvgPool => as.reduce(_ + _) / lit(P.toDouble)
        case MaxPool => as.reduce(greatest(_, _))
      }).as(s"pool_$f")
    }
    cur = cur.select(carry ++ poolCols: _*)
    carry = carry ++ (0 until nf).map(f => col(s"pool_$f"))

    // dropped pooled features feed the head (val rows: keep-all)
    val dpCols = (0 until nf).map(f =>
      (col(s"pool_$f") * maskOf(f)).as(s"dp_$f"))
    cur = cur.select(carry ++ dpCols: _*)
    carry = carry ++ (0 until nf).map(f => col(s"dp_$f"))

    // head: stable log-softmax + dz2, staged
    val z2 = (0 until kc).map { o =>
      ((0 until nf).map(f => col(s"dp_$f") * lit(w.w2(o)(f)))
        .reduce(_ + _) + lit(w.b2(o))).as(s"z2_$o")
    }
    cur = cur.select(carry ++ z2: _*)
    val zc = (0 until kc).map(o => col(s"z2_$o"))
    val (dz2, lossCol) = TrainerCommon.softmaxHead(zc, col("y"))
    cur = cur.select(carry ++ dz2 :+ lossCol: _*)
    carry = carry ++ (0 until kc).map(o => col(s"dzo_$o")) :+ col("loss")

    // backward to the conv layer: dz[p][f] staged. For max pooling the
    // gradient routes only to the FIRST position attaining the max
    // (a_p == pool AND every earlier a_q < pool) — the argmax
    // bookkeeping as pure comparison indicators, no extra shuffle.
    val dzCols = for (p <- 0 until P; f <- 0 until nf) yield {
      // d dp/d pool = mask, so the head gradient crosses the dropout
      val dpool = (0 until kc).map(o =>
        col(s"dzo_$o") * lit(w.w2(o)(f))).reduce(_ + _) * maskOf(f)
      val da = pool match {
        case AvgPool => dpool / lit(P.toDouble)
        case MaxPool =>
          val isFirstMax = (0 until p)
            .map(q => col(s"a${q}_$f") < col(s"pool_$f"))
            .foldLeft(col(s"a${p}_$f") === col(s"pool_$f"))(_ && _)
          dpool * when(isFirstMax, 1.0).otherwise(0.0)
      }
      (da * when(col(s"a${p}_$f") > 0, 1.0).otherwise(0.0))
        .as(s"dz${p}_$f")
    }
    cur = cur.select(carry ++ dzCols: _*)

    // one aggregation: mean gradients over TRAIN rows + val mean loss
    def tavg(c: Column) = avg(when(!col("iv"), c))
    val aggs: Seq[Column] =
      (for (f <- 0 until nf; j <- 0 until k)
        yield tavg((0 until P).map(p =>
          col(s"dz${p}_$f") * col(s"x${p + j + 1}")).reduce(_ + _))
          .as(s"gw_${f}_$j")) ++
      (0 until nf).map(f => tavg((0 until P).map(p =>
        col(s"dz${p}_$f")).reduce(_ + _)).as(s"gb_$f")) ++
      (for (o <- 0 until kc; f <- 0 until nf)
        yield tavg(col(s"dzo_$o") * col(s"dp_$f")).as(s"gw2_${o}_$f")) ++
      (0 until kc).map(o => tavg(col(s"dzo_$o")).as(s"gb2_$o")) ++
      Seq(tavg(col("loss")).as("mloss"),
        avg(when(col("iv"), col("loss"))).as("vloss"))
    val row = cur.agg(aggs.head, aggs.tail: _*).head()
    require(row.getAs[Any]("mloss") != null,
      "ConvTrainer.gradients: empty training input")
    def g(n: String) = row.getAs[Double](n)
    (ConvGrads(
      Seq.tabulate(nf, k)((f, j) => g(s"gw_${f}_$j")),
      Seq.tabulate(nf)(f => g(s"gb_$f")),
      Seq.tabulate(kc, nf)((o, f) => g(s"gw2_${o}_$f")),
      Seq.tabulate(kc)(o => g(s"gb2_$o")),
      g("mloss")),
      Option(row.getAs[Any]("vloss")).map(_.asInstanceOf[Double]))
  }

  /** Full-batch GD: `epochs` steps from `w0`; returns final weights +
    * per-epoch pre-update mean loss. One Spark job per epoch. */
  def fit(df: DataFrame, xs: Seq[Column], label: Column, w0: ConvWeights,
      epochs: Int, lr: Double, pool: Pooling = AvgPool,
      rowKey: Column = lit(0L),
      dropout: Double = 0.0): (ConvWeights, Seq[Double]) = {
    var w = w0
    val losses = (1 to epochs).map { e =>
      val (gr, _) = gradientsVal(df, xs, label, rowKey, w, e, dropout,
        lit(false), pool)
      w = applyStep(w, gr, lr)
      gr.loss
    }
    (w, losses)
  }

  private[ml] def applyStep(w: ConvWeights, gr: ConvGrads,
      lr: Double): ConvWeights =
    ConvWeights(
      w.w.zip(gr.w).map { case (r, gr2) =>
        r.zip(gr2).map { case (a, ga) => a - lr * ga } },
      w.b.zip(gr.b).map { case (a, ga) => a - lr * ga },
      w.w2.zip(gr.w2).map { case (r, gr2) =>
        r.zip(gr2).map { case (a, ga) => a - lr * ga } },
      w.b2.zip(gr.b2).map { case (a, ga) => a - lr * ga })

  /** One optimizer step (Adam / sgd) —
    * [[TrainerCommon.Tensors.applyOpt]]; OptimizerStepSpec pins
    * sgd(lr) == [[applyStep]] bit-for-bit. */
  private[ml] def applyOpt(w: ConvWeights, gr: ConvGrads,
      opt: TrainerCommon.Optimizer): ConvWeights =
    TrainerCommon.Tensors.applyOpt(w, gr, opt)

  /** [[fit]] under Keras EarlyStopping (patience on the `isVal` slice's
    * loss, restore-best) — see [[TrainerCommon.earlyStop]]. */
  def fitEs(df: DataFrame, xs: Seq[Column], label: Column,
      w0: ConvWeights, maxEpochs: Int, lr: Double, rowKey: Column,
      dropout: Double, isVal: Column, pool: Pooling = AvgPool,
      patience: Int = 5): TrainerCommon.EsResult[ConvWeights] =
    TrainerCommon.earlyStop(w0, maxEpochs, patience) { (w, e) =>
      val (gr, vl) = gradientsVal(df, xs, label, rowKey, w, e, dropout,
        isVal, pool)
      (applyStep(w, gr, lr), gr.loss,
        vl.getOrElse(sys.error("fitEs: empty validation slice")))
    }

  /** Staged inference: argmax class appended as `outCol` (first index
    * on ties); conv cells staged once like the forward pass. */
  def predictStaged(df: DataFrame, carry: Seq[Column], xs: Seq[Column],
      w: ConvWeights, outCol: String,
      pool: Pooling = AvgPool): DataFrame = {
    val T = xs.length
    val P = T - w.kernel + 1
    require(P >= 1, s"input length $T < kernel ${w.kernel}")
    val staged0 = df.select(carry ++ xs.zipWithIndex.map { case (x, t) =>
      x.as(s"cx${t + 1}") }: _*)
    val xr = (1 to T).map(t => col(s"cx$t"))
    val aCols = for (p <- 0 until P; f <- 0 until w.filters) yield
      greatest((0 until w.kernel).map(j => xr(p + j) * lit(w.w(f)(j)))
        .reduce(_ + _) + lit(w.b(f)), lit(0.0)).as(s"ca${p}_$f")
    val staged = staged0.select(carry ++ aCols: _*)
    val pooled = (0 until w.filters).map { f =>
      val as = (0 until P).map(p => col(s"ca${p}_$f"))
      pool match {
        case AvgPool => as.reduce(_ + _) / lit(P.toDouble)
        case MaxPool => as.reduce(greatest(_, _))
      }
    }
    val z2 = (0 until w.classes).map { o =>
      (0 until w.filters).map(f => pooled(f) * lit(w.w2(o)(f)))
        .reduce(_ + _) + lit(w.b2(o))
    }
    staged.select(carry :+ TrainerCommon.argmax(z2).as(outCol): _*)
  }
}
