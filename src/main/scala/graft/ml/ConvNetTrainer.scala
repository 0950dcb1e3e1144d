package graft.ml

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Engine-native full-batch trainer for the reference CNN's COMPLETE
  * block structure (`models/cnn_model.py:21-32`):
  *
  *   [ Conv1D(f_b, k, relu) -> MaxPool1D(2, stride 2, drop odd tail) ]
  *     for each block b, then
  *   Flatten -> Dense(dh, relu) -> Dropout(p) -> dense softmax, CE.
  *
  * This generalizes [[Conv2Trainer]] (2 conv layers, global pool, no
  * dense head) to an arbitrary block list plus the reference's exact
  * classifier head — with 3 blocks this is architecture-ISOMORPHIC to
  * cnn_model.py; the remaining delta is WIDTH only (32/64/128 filters
  * and Dense(128) there vs the small counts the staged-expression plan
  * depth affords at fixture scale — every loop below is parameterized,
  * so width is a constructor argument, not a structural gap).
  *
  * Execution contract (identical to every trainer in this package):
  * forward and backward passes are staged Catalyst expression columns,
  * weights ride the plan as literals, one epoch is ONE aggregation of
  * O(params) mean gradients; dropout is the deterministic
  * (rowKey, epoch, unit) hash mask ([[TrainerCommon.dropMask]]) at the
  * reference's position (after the dense hidden layer); `isVal` rows
  * are excluded from every gradient average and contribute a separate
  * inference-semantics mean loss (the [[TrainerCommon.earlyStop]]
  * contract).
  *
  * Shapes: L_0 = T (1 input channel); per block b:
  *   P_b = L_{b-1} - k + 1 conv positions, L_b = floor(P_b / 2) pooled.
  * Flatten size = L_B * f_B; requires L_B >= 1.
  *
  * Backward: head dz -> dropout mask -> dense relu' -> flatten ->
  * per-block (local-max first-argmax routing -> relu' -> kernel
  * correlation) down to the input — the Conv2Trainer recipe applied
  * per level.
  */
object ConvNetTrainer {

  /** convW(b): f_b x k x f_{b-1} (f_0 = 1 input channel); convB(b): f_b;
    * denseW: dh x flat; headW: classes x dh. */
  final case class NetWeights(convW: Seq[Seq[Seq[Seq[Double]]]],
      convB: Seq[Seq[Double]], denseW: Seq[Seq[Double]],
      denseB: Seq[Double], headW: Seq[Seq[Double]],
      headB: Seq[Double]) {
    def blocks: Int = convW.length
    def kernel: Int = convW.head.head.length
    def filters: Seq[Int] = convW.map(_.length)
    def dense: Int = denseW.length
    def classes: Int = headW.length
    require(convB.length == blocks &&
      convW.zip(convB).forall { case (w, b) => w.length == b.length } &&
      headW.forall(_.length == dense) && denseB.length == dense,
      "inconsistent shapes")
  }

  final case class NetGrads(convW: Seq[Seq[Seq[Seq[Double]]]],
      convB: Seq[Seq[Double]], denseW: Seq[Seq[Double]],
      denseB: Seq[Double], headW: Seq[Seq[Double]],
      headB: Seq[Double], loss: Double)

  /** Per-level sequence lengths: (P_b conv positions, L_b pooled), plus
    * the input length at each block. */
  private def levelSizes(T: Int, k: Int,
      blocks: Int): (Seq[Int], Seq[Int]) = {
    var len = T
    val ps = Seq.newBuilder[Int]
    val ls = Seq.newBuilder[Int]
    for (_ <- 0 until blocks) {
      val p = len - k + 1
      require(p >= 1, s"sequence too short for $blocks blocks of kernel $k")
      val l = p / 2
      require(l >= 1, s"pooling empties the sequence ($blocks blocks, k=$k)")
      ps += p; ls += l; len = l
    }
    (ps.result(), ls.result())
  }

  /** Deterministic small init from `seed`; conv AND dense biases +0.1 —
    * a relu unit whose random pre-activation is negative for every row
    * is born dead (zero gradient forever), and with the small widths
    * this trainer runs at, a dead dense layer flatlines the whole net
    * at the base-rate loss (observed: the ramp fixture plateaued at
    * ln 2 until the dense bias floor was added — same ConvTrainerSpec
    * dead-filter note, one level up). */
  def init(T: Int, filters: Seq[Int], kernel: Int, dense: Int,
      classes: Int, seed: Long): NetWeights = {
    val (_, ls) = levelSizes(T, kernel, filters.length)
    val flat = ls.last * filters.last
    val rng = new scala.util.Random(seed)
    def v(n: Int) = Seq.fill(n)(rng.nextDouble() - 0.5)
    NetWeights(
      filters.indices.map { b =>
        val fin = if (b == 0) 1 else filters(b - 1)
        Seq.fill(filters(b))(Seq.fill(kernel)(v(fin)))
      },
      filters.map(f => Seq.fill(f)(0.1)),
      Seq.fill(dense)(v(flat)), Seq.fill(dense)(0.1),
      Seq.fill(classes)(v(dense)), v(classes))
  }

  private def isFirstMax(cands: Seq[Column], p: Int, target: Column) =
    (0 until p).map(q => cands(q) < target)
      .foldLeft(cands(p) === target)(_ && _)

  /** One full-batch pass at `w`: mean loss + mean TRAIN gradients +
    * mean val loss (None if the `isVal` slice is empty). One Spark
    * job. */
  def gradientsVal(df: DataFrame, xs: Seq[Column], label: Column,
      rowKey: Column, w: NetWeights, epoch: Int, dropout: Double,
      isVal: Column): (NetGrads, Option[Double]) = {
    val T = xs.length
    val k = w.kernel
    val B = w.blocks
    val fs = w.filters
    val (ps, ls) = levelSizes(T, k, B)
    val (dh, kc) = (w.dense, w.classes)
    require(dropout >= 0.0 && dropout < 1.0, "dropout in [0, 1)")

    val base = df.select(xs.zipWithIndex.map { case (x, t) =>
      x.as(s"x${t + 1}") } ++ Seq(label.cast("int").as("y"),
      rowKey.as("rk"), isVal.as("iv")): _*)
    var cur = base
    var carry: Seq[Column] = (1 to T).map(t => col(s"x$t")) ++
      Seq(col("y"), col("rk"), col("iv"))
    def stage(cols: Seq[(String, Column)]): Unit = {
      cur = cur.select(carry ++ cols.map { case (n, c) => c.as(n) }: _*)
      carry = carry ++ cols.map { case (n, _) => col(n) }
    }
    def maskOf(u: Int): Column =
      TrainerCommon.dropMask(col("iv"), col("rk"), epoch, u, dropout)

    // input accessor at level b (channel-aware; level 0 = raw x, 1 ch)
    def in(b: Int)(pos: Int, ch: Int): Column =
      if (b == 0) col(s"x${pos + 1}") else col(s"m${b - 1}_${pos}_$ch")

    // ---- forward: conv+relu then local max pool per block ----
    for (b <- 0 until B) {
      val fin = if (b == 0) 1 else fs(b - 1)
      stage(for (p <- 0 until ps(b); f <- 0 until fs(b)) yield
        (s"a${b}_${p}_$f",
          greatest((for (j <- 0 until k; c <- 0 until fin)
            yield in(b)(p + j, c) * lit(w.convW(b)(f)(j)(c)))
            .reduce(_ + _) + lit(w.convB(b)(f)), lit(0.0))))
      stage(for (j <- 0 until ls(b); f <- 0 until fs(b)) yield
        (s"m${b}_${j}_$f",
          greatest(col(s"a${b}_${2 * j}_$f"), col(s"a${b}_${2 * j + 1}_$f"))))
    }
    // flatten index: (position j, channel f) -> j * f_B + f
    val flatCols: Seq[Column] = for (j <- 0 until ls(B - 1);
      f <- 0 until fs(B - 1)) yield col(s"m${B - 1}_${j}_$f")

    // ---- dense(relu) -> dropout -> head ----
    stage((0 until dh).map(u => (s"hpre_$u",
      flatCols.zipWithIndex.map { case (c, i) =>
        c * lit(w.denseW(u)(i)) }.reduce(_ + _) + lit(w.denseB(u)))))
    stage((0 until dh).map(u => (s"hd_$u",
      greatest(col(s"hpre_$u"), lit(0.0)) * maskOf(u))))
    stage((0 until kc).map(o => (s"z2_$o",
      (0 until dh).map(u => col(s"hd_$u") * lit(w.headW(o)(u)))
        .reduce(_ + _) + lit(w.headB(o)))))
    val (dzh, lossCol) = TrainerCommon.softmaxHead(
      (0 until kc).map(o => col(s"z2_$o")), col("y"))
    stage(dzh.zipWithIndex.map { case (c, o) => (s"dzo_$o", c) } :+
      (("loss", lossCol)))

    // ---- backward: head -> dense (through mask + relu') ----
    stage((0 until dh).map { u =>
      (s"dpre_$u",
        (0 until kc).map(o => col(s"dzo_$o") * lit(w.headW(o)(u)))
          .reduce(_ + _) * maskOf(u) *
          when(col(s"hpre_$u") > 0, 1.0).otherwise(0.0))
    })
    // dflat_i = Σ_u dpre_u * denseW[u][i], staged per flatten slot
    stage((0 until ls(B - 1) * fs(B - 1)).map { i =>
      (s"dm${B - 1}_${i / fs(B - 1)}_${i % fs(B - 1)}",
        (0 until dh).map(u => col(s"dpre_$u") * lit(w.denseW(u)(i)))
          .reduce(_ + _))
    })
    // ---- per block, last to first: pool routing -> relu' -> dm of
    // the level below ----
    for (b <- B - 1 to 0 by -1) {
      // da (pre-activation grads) at conv positions of block b
      stage(for (p <- 0 until ps(b); f <- 0 until fs(b)) yield {
        val j = p / 2
        val c =
          if (j >= ls(b)) lit(0.0) // odd tail: never pooled
          else {
            val route = isFirstMax(
              Seq(col(s"a${b}_${2 * j}_$f"), col(s"a${b}_${2 * j + 1}_$f")),
              p - 2 * j, col(s"m${b}_${j}_$f"))
            col(s"dm${b}_${j}_$f") * when(route, 1.0).otherwise(0.0) *
              when(col(s"a${b}_${p}_$f") > 0, 1.0).otherwise(0.0)
          }
        (s"da${b}_${p}_$f", c)
      })
      if (b > 0) {
        // dm_{b-1}[j'][c] = Σ_{p, f: 0 <= j'-p < k} da_b[p][f]·w_b[f][j'-p][c]
        stage(for (jp <- 0 until ls(b - 1); c <- 0 until fs(b - 1)) yield
          (s"dm${b - 1}_${jp}_$c",
            (for (p <- 0 until ps(b); f <- 0 until fs(b);
                  if jp - p >= 0 && jp - p < k)
              yield col(s"da${b}_${p}_$f") * lit(w.convW(b)(f)(jp - p)(c)))
              .foldLeft(lit(0.0))(_ + _)))
      }
    }

    // ---- one aggregation over TRAIN rows + val mean loss ----
    def tavg(c: Column) = avg(when(!col("iv"), c))
    val aggs: Seq[Column] =
      (for (b <- 0 until B; f <- 0 until fs(b); j <- 0 until k;
            c <- 0 until (if (b == 0) 1 else fs(b - 1)))
        yield tavg((0 until ps(b)).map(p =>
          col(s"da${b}_${p}_$f") * in(b)(p + j, c)).reduce(_ + _))
          .as(s"gw_${b}_${f}_${j}_$c")) ++
      (for (b <- 0 until B; f <- 0 until fs(b))
        yield tavg((0 until ps(b)).map(p =>
          col(s"da${b}_${p}_$f")).reduce(_ + _)).as(s"gb_${b}_$f")) ++
      (for (u <- 0 until dh; i <- 0 until flatCols.length)
        yield tavg(col(s"dpre_$u") * flatCols(i)).as(s"gdw_${u}_$i")) ++
      (0 until dh).map(u => tavg(col(s"dpre_$u")).as(s"gdb_$u")) ++
      (for (o <- 0 until kc; u <- 0 until dh)
        yield tavg(col(s"dzo_$o") * col(s"hd_$u")).as(s"ghw_${o}_$u")) ++
      (0 until kc).map(o => tavg(col(s"dzo_$o")).as(s"ghb_$o")) ++
      Seq(tavg(col("loss")).as("mloss"),
        avg(when(col("iv"), col("loss"))).as("vloss"))
    val row = cur.agg(aggs.head, aggs.tail: _*).head()
    require(row.getAs[Any]("mloss") != null,
      "ConvNetTrainer.gradients: empty training input")
    def g(n: String) = row.getAs[Double](n)
    (NetGrads(
      (0 until B).map(b => Seq.tabulate(fs(b), k,
        if (b == 0) 1 else fs(b - 1))((f, j, c) => g(s"gw_${b}_${f}_${j}_$c"))),
      (0 until B).map(b => Seq.tabulate(fs(b))(f => g(s"gb_${b}_$f"))),
      Seq.tabulate(dh, flatCols.length)((u, i) => g(s"gdw_${u}_$i")),
      Seq.tabulate(dh)(u => g(s"gdb_$u")),
      Seq.tabulate(kc, dh)((o, u) => g(s"ghw_${o}_$u")),
      Seq.tabulate(kc)(o => g(s"ghb_$o")),
      g("mloss")),
      Option(row.getAs[Any]("vloss")).map(_.asInstanceOf[Double]))
  }

  private[ml] def applyStep(w: NetWeights, gr: NetGrads,
      lr: Double): NetWeights = {
    def s1(a: Seq[Double], ga: Seq[Double]) =
      a.zip(ga).map { case (x, gx) => x - lr * gx }
    def s2(a: Seq[Seq[Double]], ga: Seq[Seq[Double]]) =
      a.zip(ga).map { case (r, gr2) => s1(r, gr2) }
    NetWeights(
      w.convW.zip(gr.convW).map { case (m, gm) =>
        m.zip(gm).map { case (r, gr2) => s2(r, gr2) } },
      w.convB.zip(gr.convB).map { case (r, gr2) => s1(r, gr2) },
      s2(w.denseW, gr.denseW), s1(w.denseB, gr.denseB),
      s2(w.headW, gr.headW), s1(w.headB, gr.headB))
  }

  /** One optimizer step via the structural walker
    * [[TrainerCommon.Tensors.applyOpt]].
    * applyOpt(w, gr, Optimizer.sgd(lr)) == [[applyStep]](w, gr, lr) exactly
    * (AdamSpec + OptimizerStepSpec pin it on the stacked shape too). */
  private[ml] def applyOpt(w: NetWeights, gr: NetGrads,
      opt: TrainerCommon.Optimizer): NetWeights =
    TrainerCommon.Tensors.applyOpt(w, gr, opt)

  /** Full-batch GD: plain loop (mask epoch-varied when dropout > 0). */
  def fit(df: DataFrame, xs: Seq[Column], label: Column, w0: NetWeights,
      epochs: Int, lr: Double, rowKey: Column = lit(0L),
      dropout: Double = 0.0): (NetWeights, Seq[Double]) = {
    var w = w0
    val losses = (1 to epochs).map { e =>
      val (gr, _) = gradientsVal(df, xs, label, rowKey, w, e, dropout,
        lit(false))
      w = applyStep(w, gr, lr)
      gr.loss
    }
    (w, losses)
  }

  /** [[fit]] under Keras EarlyStopping (patience on the `isVal` slice's
    * loss, restore-best) — see [[TrainerCommon.earlyStop]]. */
  def fitEs(df: DataFrame, xs: Seq[Column], label: Column,
      w0: NetWeights, maxEpochs: Int, lr: Double, rowKey: Column,
      dropout: Double, isVal: Column,
      patience: Int = 5): TrainerCommon.EsResult[NetWeights] =
    TrainerCommon.earlyStop(w0, maxEpochs, patience) { (w, e) =>
      val (gr, vl) = gradientsVal(df, xs, label, rowKey, w, e, dropout,
        isVal)
      (applyStep(w, gr, lr), gr.loss,
        vl.getOrElse(sys.error("fitEs: empty validation slice")))
    }

  /** Staged inference (no dropout — Keras eval semantics): argmax class
    * appended as `outCol`. */
  def predictStaged(df: DataFrame, carryIn: Seq[Column], xs: Seq[Column],
      w: NetWeights, outCol: String): DataFrame = {
    val T = xs.length
    val k = w.kernel
    val B = w.blocks
    val fs = w.filters
    val (ps, ls) = levelSizes(T, k, B)
    var cur = df.select(carryIn ++ xs.zipWithIndex.map { case (x, t) =>
      x.as(s"nx${t + 1}") }: _*)
    var carry: Seq[Column] = carryIn ++ (1 to T).map(t => col(s"nx$t"))
    def stage(cols: Seq[(String, Column)]): Unit = {
      cur = cur.select(carry ++ cols.map { case (n, c) => c.as(n) }: _*)
      carry = carry ++ cols.map { case (n, _) => col(n) }
    }
    def in(b: Int)(pos: Int, ch: Int): Column =
      if (b == 0) col(s"nx${pos + 1}") else col(s"nm${b - 1}_${pos}_$ch")
    for (b <- 0 until B) {
      val fin = if (b == 0) 1 else fs(b - 1)
      stage(for (p <- 0 until ps(b); f <- 0 until fs(b)) yield
        (s"na${b}_${p}_$f",
          greatest((for (j <- 0 until k; c <- 0 until fin)
            yield in(b)(p + j, c) * lit(w.convW(b)(f)(j)(c)))
            .reduce(_ + _) + lit(w.convB(b)(f)), lit(0.0))))
      stage(for (j <- 0 until ls(b); f <- 0 until fs(b)) yield
        (s"nm${b}_${j}_$f",
          greatest(col(s"na${b}_${2 * j}_$f"),
            col(s"na${b}_${2 * j + 1}_$f"))))
    }
    val flat: Seq[Column] = for (j <- 0 until ls(B - 1);
      f <- 0 until fs(B - 1)) yield col(s"nm${B - 1}_${j}_$f")
    val hidden = (0 until w.dense).map(u =>
      greatest(flat.zipWithIndex.map { case (c, i) =>
        c * lit(w.denseW(u)(i)) }.reduce(_ + _) + lit(w.denseB(u)),
        lit(0.0)))
    val z2 = (0 until w.classes).map { o =>
      (0 until w.dense).map(u => hidden(u) * lit(w.headW(o)(u)))
        .reduce(_ + _) + lit(w.headB(o))
    }
    cur.select(carryIn :+ TrainerCommon.argmax(z2).as(outCol): _*)
  }
}
