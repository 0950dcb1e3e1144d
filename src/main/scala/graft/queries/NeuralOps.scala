package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import graft.sources.Tables
import graft.ml.{Conv2Trainer, ConvNetTrainer, ConvTrainer, GdTrainer, Lstm2Trainer, LstmTrainer, Mlp3Trainer, NeuralForward, Rnn2Trainer, RnnTrainer, SignGd, TrainerCommon, WideConv, WideConv2, WideLstm, WideLstm2, WideMlp3, WideNet, WideRnn, WideRnn2}

/** Oracle-gated fixed-weight neural forward passes (M2/M3 scoring
  * semantics; reference `models/cnn_model.py:21-32` stack shape and
  * `models/rnn_model.py:19-26`).
  *
  * The trick that makes a NEURAL op hash-checkable against DuckDB: use
  * INTEGER weights over integer-valued inputs. relu (= greatest(0, x)),
  * max-pooling and dense layers all preserve exact integers in doubles
  * (magnitudes here stay < 2^30 ≪ 2^53), so both engines compute
  * bit-identical logits — no rounding tolerance, a strict hash oracle
  * for convolution/recurrence semantics. The DuckDB side is GENERATED
  * from the same weight arrays as the Spark plan (one CTE per layer,
  * loops unrolled), so the two sides cannot drift.
  *
  * Scale shape: both queries are a single narrow projection per row —
  * weights are plan literals (the broadcast-small-model scoring pattern),
  * zero shuffles, zero state. At 100 TB this is a pure map over the
  * fact table, bounded by scan bandwidth.
  */
object NeuralOps {

  private def t(s: SparkSession, dir: String, n: String) = Tables.load(s, dir, n)

  // ---- 8 integer-valued features derived from lineitem, expressed
  // identically in both engines ----
  private def featCols: Seq[Column] = Seq(
    col("l_quantity"),
    col("l_linenumber").cast("double"),
    dayofmonth(col("l_shipdate")).cast("double"),
    month(col("l_shipdate")).cast("double"),
    (col("l_orderkey") % 97).cast("double"),
    (col("l_partkey") % 89).cast("double"),
    (col("l_suppkey") % 83).cast("double"),
    ((col("l_orderkey") + col("l_linenumber")) % 7).cast("double"))

  private val featsSql = Seq(
    "CAST(l_quantity AS DOUBLE)",
    "CAST(l_linenumber AS DOUBLE)",
    "CAST(day(l_shipdate) AS DOUBLE)",
    "CAST(month(l_shipdate) AS DOUBLE)",
    "CAST(l_orderkey % 97 AS DOUBLE)",
    "CAST(l_partkey % 89 AS DOUBLE)",
    "CAST(l_suppkey % 83 AS DOUBLE)",
    "CAST((l_orderkey + l_linenumber) % 7 AS DOUBLE)")

  // ---- CNN weights: conv(k3, f4) -> pool2 -> conv(k2, f3) -> pool2 ->
  // flatten -> dense(2). Same tabulation as NeuralForwardSpec's stack
  // test; entries in [-2, 2], deterministic. ----
  private val w1 = Seq.tabulate(4, 3, 1)((f, j, _) => ((f * 5 + j * 3 + 1) % 5) - 2)
  private val b1 = Seq.tabulate(4)(f => (f % 3) - 1)
  private val w2 = Seq.tabulate(3, 2, 4)((f, j, c) => ((f * 7 + j * 5 + c * 3 + 2) % 5) - 2)
  private val b2 = Seq.tabulate(3)(f => f % 2)
  private val wd = Seq.tabulate(2, 3)((o, i) => ((o * 3 + i * 2 + 1) % 5) - 2)
  private val bd = Seq(0, 1)

  // ---- RNN weights: SimpleRNN(3 units, relu) -> dense(2). ----
  private val rwx = Seq(Seq(1), Seq(-1), Seq(2))
  private val rwh = Seq(Seq(1, 0, -1), Seq(0, 1, 1), Seq(-1, 1, 0))
  private val rb = Seq(0, 1, -1)
  private val rwd = Seq(Seq(1, -1, 2), Seq(2, 1, -1))
  private val rbd = Seq(0, 1)

  private def d1(v: Seq[Int]) = v.map(_.toDouble)
  private def d2(v: Seq[Seq[Int]]) = v.map(d1)
  private def d3(v: Seq[Seq[Seq[Int]]]) = v.map(d2)

  // ---- SQL generation: weighted sum / relu text from the SAME arrays ----
  private def lin(b: Int, terms: Seq[(Int, String)]): String = {
    val ts = terms.collect { case (w, x) if w != 0 => s"($w)*$x" }
    val all = (if (b != 0) Seq(b.toString) else Nil) ++ ts
    if (all.isEmpty) "0" else all.mkString(" + ")
  }
  private def relu(e: String) = s"greatest(0, $e)"

  private def cnnOracle: String = {
    val fx = featsSql.zipWithIndex.map { case (e, i) => s"$e AS x${i + 1}" }
    val c1 = for (p <- 0 until 6; f <- 0 until 4) yield
      s"${relu(lin(b1(f), (0 until 3).map(j => (w1(f)(j)(0), s"x${p + j + 1}"))))} AS c1_${p}_$f"
    val p1 = for (q <- 0 until 3; f <- 0 until 4) yield
      s"greatest(c1_${2 * q}_$f, c1_${2 * q + 1}_$f) AS p1_${q}_$f"
    val c2 = for (p <- 0 until 2; f <- 0 until 3) yield
      s"${relu(lin(b2(f), for (j <- 0 until 2; c <- 0 until 4) yield (w2(f)(j)(c), s"p1_${p + j}_$c")))} AS c2_${p}_$f"
    val p2 = for (f <- 0 until 3) yield s"greatest(c2_0_$f, c2_1_$f) AS p2_$f"
    val lg = for (o <- 0 until 2) yield
      s"CAST(${lin(bd(o), (0 until 3).map(i => (wd(o)(i), s"p2_$i")))} AS BIGINT) AS logit$o"
    s"""WITH f AS (SELECT l_orderkey, l_linenumber, ${fx.mkString(", ")} FROM lineitem),
        c1 AS (SELECT *, ${c1.mkString(", ")} FROM f),
        p1 AS (SELECT *, ${p1.mkString(", ")} FROM c1),
        c2 AS (SELECT *, ${c2.mkString(", ")} FROM p1),
        p2 AS (SELECT *, ${p2.mkString(", ")} FROM c2),
        o AS (SELECT l_orderkey, l_linenumber, ${lg.mkString(", ")} FROM p2)
        SELECT *, CASE WHEN logit0 >= logit1 THEN 0 ELSE 1 END AS pred
        FROM o"""
  }

  private def rnnOracle: String = {
    val fx = featsSql.zipWithIndex.map { case (e, i) => s"$e AS x${i + 1}" }
    val steps = (1 to 8).map { tt =>
      val cols = (0 until 3).map { u =>
        val rec = if (tt == 1) Nil
        else (0 until 3).map(v => (rwh(u)(v), s"h${tt - 1}_$v"))
        s"${relu(lin(rb(u), Seq((rwx(u).head, s"x$tt")) ++ rec))} AS h${tt}_$u"
      }
      val src = if (tt == 1) "f" else s"h${tt - 1}"
      s"h$tt AS (SELECT *, ${cols.mkString(", ")} FROM $src)"
    }
    val lg = for (o <- 0 until 2) yield
      s"CAST(${lin(rbd(o), (0 until 3).map(u => (rwd(o)(u), s"h8_$u")))} AS BIGINT) AS logit$o"
    s"""WITH f AS (SELECT l_orderkey, l_linenumber, ${fx.mkString(", ")} FROM lineitem),
        ${steps.mkString(",\n        ")},
        o AS (SELECT l_orderkey, l_linenumber, ${lg.mkString(", ")} FROM h8)
        SELECT *, CASE WHEN logit0 >= logit1 THEN 0 ELSE 1 END AS pred
        FROM o"""
  }

  private val keyCols = Seq(col("l_orderkey"), col("l_linenumber"))

  /** Shared harness for the q42/q43 training entries: deterministic 25%
    * lineitem slice, conditional repartition (BPTT/conv backprop is
    * ~10x a forward pass per row and a single fixture split would
    * serialize it), the slice PERSISTED for the epochs+accuracy jobs
    * (released after the final action), scaled features, parity label.
    * `train` returns (per-epoch losses, final-weights accuracy fn input
    * -> acc); output schema (epoch, loss, final_acc).
    */
  private def trainEntry(s: SparkSession, dir: String)(
      run: (org.apache.spark.sql.DataFrame, Seq[Column], Column) =>
        (Seq[Double], Double)): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val scan = t(s, dir, "lineitem").filter(col("l_orderkey") % 4 === 0)
    val para = s.sparkContext.defaultParallelism
    val facts =
      (if (scan.rdd.getNumPartitions < para) scan.repartition(para)
       else scan).persist()
    val xs = featCols.map(_ / lit(32.0))
    val y = ((col("l_orderkey") + col("l_suppkey")) % 2).cast("int")
    try {
      val (losses, acc) = run(facts, xs, y)
      // Self-gate (the x2c recall-gate pattern): these entries are
      // rows-only, so the ONLY driver-visible failure mode is an empty
      // output — emit zero rows if training ever diverges (final loss
      // ABOVE the first epoch's; equality passes, so an already-converged
      // flat trajectory is not a false positive), turning a silently-
      // broken trainer into a loud rows-check failure.
      val rows =
        if (losses.isEmpty || losses.last <= losses.head)
          losses.zipWithIndex.map { case (l, e) =>
            ((e + 1).toLong, math.rint(l * 1e6) / 1e6,
              math.rint(acc * 1e4) / 1e4)
          }
        else Seq.empty[(Long, Double, Double)]
      rows.toDF("epoch", "loss", "final_acc").orderBy("epoch")
    } finally facts.unpersist()
  }

  /** Shared q58/q73 harness — the reference CNN's complete 3-block
    * architecture (3 x [Conv1D(k3, relu) -> MaxPool1D(2)] -> Flatten ->
    * Dense(relu) -> Dropout(0.5) -> softmax, `cnn_model.py:21-32`) over
    * a 22-step integer-derived lineitem feature grid, fit for 2 epochs
    * (the ES harness + loss-descent gate need two points) on the
    * treeAggregate twin (WideNet): WideNetSpec pins it gradient-for-
    * gradient to ConvNetTrainer's staged plan, so the trajectory is
    * unchanged while the 3-block staged DAG's per-epoch plan/codegen
    * cost (the old bench-dominating term — epoch 3 alone added ~2.3 s
    * of wall) disappears. Adam(0.001) — the reference's optimizer.
    * `filters`/`dense` size the net: q58 runs narrow twins AND the
    * staged predictStaged accuracy tail (`withPredict`, keeping the
    * staged forward DAG exercised); q73 runs the reference's actual
    * 32/64/128 + Dense(128) widths, fit-only — the staged plan cannot
    * express 128-wide layers without quadratic expression blowup,
    * which is exactly why the twin path exists. */
  private def conv3Train(s: SparkSession, dir: String, filters: Seq[Int],
      dense: Int, withPredict: Boolean): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val scan = t(s, dir, "lineitem").filter(col("l_orderkey") % 4 === 0)
    val para = s.sparkContext.defaultParallelism
    val facts =
      (if (scan.rdd.getNumPartitions < para) scan.repartition(para)
       else scan).persist()
    // 22 deterministic integer-derived features, scaled to ~[0, 3]
    val primes = Seq(97, 89, 83, 79, 73, 71, 67, 61, 59, 53, 47, 43,
      41, 37, 31, 29, 23, 19)
    val xs: Seq[Column] =
      Seq(col("l_quantity") / lit(32.0),
        col("l_linenumber").cast("double") / lit(4.0),
        dayofmonth(col("l_shipdate")).cast("double") / lit(16.0),
        month(col("l_shipdate")).cast("double") / lit(8.0)) ++
      primes.zipWithIndex.map { case (p, i) =>
        val src = (i % 3: @unchecked) match {
          case 0 => col("l_orderkey")
          case 1 => col("l_partkey")
          case 2 => col("l_suppkey")
        }
        ((src + lit(i)) % p).cast("double") / lit(32.0)
      }
    val y = ((col("l_orderkey") + col("l_suppkey")) % 2).cast("int")
    val rk = xxhash64(col("l_orderkey"), col("l_linenumber"))
    try {
      val w0 = ConvNetTrainer.init(T = 22, filters = filters,
        kernel = 3, dense = dense, classes = 2, seed = 41L)
      val es = TrainerCommon.fitEs(WideNet.Kernel(dropout = 0.5), facts,
        xs, y, rk, w0, maxEpochs = 2,
        opt = TrainerCommon.Optimizer.adam(0.001),
        isVal = TrainerCommon.valSplitPortable(
        Seq(col("l_orderkey"), col("l_linenumber"))), patience = 5)
      val ls = es.trainLosses
      val descended = ls.nonEmpty && ls.last <= ls.head
      if (withPredict) {
        val scored = ConvNetTrainer.predictStaged(
          facts.withColumn("y", y), Seq(col("y")), xs, es.weights,
          "pred")
        val acc = scored.select((col("pred") === col("y"))
          .cast("double").as("ok")).agg(avg("ok")).head().getDouble(0)
        val rows =
          if (descended)
            ls.zip(es.valLosses).zipWithIndex.map { case ((l, vl), e) =>
              ((e + 1).toLong, math.rint(l * 1e6) / 1e6,
                math.rint(vl * 1e6) / 1e6, es.bestEpoch.toLong,
                es.stoppedEpoch.toLong, math.rint(acc * 1e4) / 1e4)
            }
          else Seq.empty[(Long, Double, Double, Long, Long, Double)]
        rows.toDF("epoch", "loss", "val_loss", "best_epoch",
          "stopped_epoch", "final_acc").orderBy("epoch")
      } else {
        val rows =
          if (descended)
            ls.zip(es.valLosses).zipWithIndex.map { case ((l, vl), e) =>
              ((e + 1).toLong, math.rint(l * 1e6) / 1e6,
                math.rint(vl * 1e6) / 1e6, es.bestEpoch.toLong,
                es.stoppedEpoch.toLong)
            }
          else Seq.empty[(Long, Double, Double, Long, Long)]
        rows.toDF("epoch", "loss", "val_loss", "best_epoch",
          "stopped_epoch").orderBy("epoch")
      }
    } finally facts.unpersist()
  }

  /** Shared q75/q76 harness — prices the recurrent twins' REFERENCE
    * widths in the bench artifact the way q73 prices the CNN's
    * (round-15 verdict task #2): the q42/q56 lineitem slice as a
    * T = 8 sequence of normalized features (the WideRnn2Spec/
    * WideLstm2Spec fixtures), fit for `maxEpochs` full-batch epochs
    * under Adam(0.001) + the ES harness, fit-only (no predictStaged
    * tail: the staged plan cannot express 64/128-wide recurrent layers
    * — the exact reason the treeAggregate twins exist). Rows-only
    * (float losses) with an either-trajectory divergence self-gate
    * (see the body note) and trainer_class-tagged by construction (no
    * oracle) — absent from every matched ratio; the row's job is to
    * price the architecture. */
  private def refSeqTrain(s: SparkSession, dir: String, mod: Int)(
      fit: (org.apache.spark.sql.DataFrame, Seq[Column], Column, Column)
        => TrainerCommon.EsResult[_]): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val scan = t(s, dir, "lineitem").filter(col("l_orderkey") % mod === 0)
    val para = s.sparkContext.defaultParallelism
    val facts =
      (if (scan.rdd.getNumPartitions < para) scan.repartition(para)
       else scan).persist()
    val xs: Seq[Column] = Seq(
      col("l_quantity") / lit(32.0),
      col("l_linenumber").cast("double") / lit(4.0),
      dayofmonth(col("l_shipdate")).cast("double") / lit(16.0),
      month(col("l_shipdate")).cast("double") / lit(8.0),
      (col("l_orderkey") % 97).cast("double") / lit(32.0),
      (col("l_partkey") % 89).cast("double") / lit(32.0),
      (col("l_suppkey") % 83).cast("double") / lit(32.0),
      (col("l_extendedprice") % 79).cast("double") / lit(32.0))
    val y = ((col("l_orderkey") + col("l_suppkey")) % 2).cast("int")
    val rk = xxhash64(col("l_orderkey"), col("l_linenumber"))
    try gatedEsRows(s, fit(facts, xs, y, rk))
    finally facts.unpersist()
  }

  /** The priced-fit entries' shared divergence self-gate + epoch-row
    * emitter (q74/q75/q76 — ONE implementation so a gate change can
    * never drift per family, the TrainerCommon discipline). Emit zero
    * rows only when NEITHER the train loss (mask-noisy — dropout masks
    * resample every epoch, so a 2-point read bounces at Adam(0.001)
    * step sizes; the q43 sf0.001 caveat) NOR the val loss (inference
    * semantics, mask-free, but chance-level on these label fixtures,
    * so ±noise around ln 2) improved. On a healthy fit at these step
    * sizes at least one of the two descends at every SF measured (each
    * alone is a near-coin-flip at 2 epochs); a genuinely diverging fit
    * moves BOTH up and still fails the rows check loudly. Semantics
    * are owned by the FD specs + twin-equivalence pins; these rows
    * price the architecture. */
  private def gatedEsRows(s: SparkSession,
      es: TrainerCommon.EsResult[_]): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val ls = es.trainLosses
    val vls = es.valLosses
    val rows =
      if (ls.nonEmpty && vls.nonEmpty &&
        (ls.last <= ls.head || vls.last <= vls.head))
        ls.zip(vls).zipWithIndex.map { case ((l, vl), e) =>
          ((e + 1).toLong, math.rint(l * 1e6) / 1e6,
            math.rint(vl * 1e6) / 1e6, es.bestEpoch.toLong,
            es.stoppedEpoch.toLong)
        }
      else Seq.empty[(Long, Double, Double, Long, Long)]
    rows.toDF("epoch", "loss", "val_loss", "best_epoch",
      "stopped_epoch").orderBy("epoch")
  }

  /** Label the slice with aliased feature columns for predictStaged. */
  private def labeled(facts: org.apache.spark.sql.DataFrame,
      xs: Seq[Column], y: Column): (org.apache.spark.sql.DataFrame, Seq[Column]) =
    (facts.select(xs.zipWithIndex.map { case (x, i) =>
      x.as(s"f${i + 1}") } :+ y.as("y"): _*),
      xs.indices.map(i => col(s"f${i + 1}")))

  /** Final-weights train accuracy over a predictStaged frame. The whole
    * staged chain fuses into the partial agg's doAggregateWithoutKey
    * (q42: 12,076 bytecodes, over the 8 KB JIT ceiling), so that stage
    * runs on the hugeMethodLimit fallback — per-operator codegen, small
    * JIT-able methods. Round-15 probe of the r14 verdict's split idea
    * (exchange between the projection chain and the agg via
    * `.repartition(col("ok"))`, so the agg stage's method JITs):
    * MEASURED NON-WIN — q42 across three fresh quiet sessions read
    * 1.59/2.38/1.46 s split vs 1.99/1.48/1.61 s fused (means 1.81 vs
    * 1.69, 7 jobs both ways); the extra exchange stage costs more than
    * WSCG-vs-fallback saves on a 15k-row agg, because the heavy per-row
    * work (the staged predict chain) runs per-operator-codegen in BOTH
    * shapes — only the trivial avg moved. The fused form stands. */
  private def accOf(scored: org.apache.spark.sql.DataFrame): Double =
    scored.select((col("pred") === col("y")).cast("double").as("ok"))
      .agg(avg("ok")).head().getDouble(0)

  // ---- q41 LSTM weights: 2 units, 1 channel, entries in [-0.3, 0.3];
  // inputs are scaled by 1/32 so gate pre-activations stay in sigmoid's
  // responsive range ----
  private[queries] def lstmW: NeuralForward.LstmWeights = {
    def gate(k: Int) = NeuralForward.Gate(
      Seq.tabulate(2, 1)((u, _) => 0.1 * (((k * 3 + u * 5 + 1) % 7) - 3)),
      Seq.tabulate(2, 2)((u, v) => 0.05 * (((k * 5 + u * 2 + v * 3 + 2) % 7) - 3)),
      Seq.tabulate(2)(u => 0.1 * ((k + u) % 3 - 1)))
    NeuralForward.LstmWeights(gate(0), gate(1), gate(2), gate(3))
  }

  // ---- q39 sign-SGD: integer features/target over lineitem; the SQL
  // strings and the Column expressions are kept side by side so the
  // oracle replays exactly what the engine trains on ----
  private val gdX: Seq[(Column, String)] = Seq(
    col("l_quantity").cast("long") -> "CAST(l_quantity AS BIGINT)",
    col("l_linenumber").cast("long") -> "CAST(l_linenumber AS BIGINT)",
    (col("l_partkey") % 89).cast("long") -> "CAST(l_partkey % 89 AS BIGINT)")
  private val gdY: (Column, String) =
    ((col("l_orderkey") + col("l_suppkey")) % 40).cast("long") ->
      "CAST((l_orderkey + l_suppkey) % 40 AS BIGINT)"
  private val gdSteps = 3

  /** DuckDB replay of [[SignGd.fit]]: step i's gradient/loss CTE
    * aggregates over the facts joined to step i-1's one-row weight CTE,
    * and the weight CTE applies the sign update — the same unrolled
    * chained-CTE scheme as the q37/q38 oracles. */
  private def signGdOracle: String = {
    val nw = gdX.length + 1 // bias + features
    val xNames = (1 to gdX.length).map(i => s"x$i")
    def pred(tbl: String) =
      (Seq(s"$tbl.w0") ++ xNames.zipWithIndex.map { case (x, i) =>
        s"$tbl.w${i + 1} * f.$x"
      }).mkString(" + ")
    val f = s"""f AS (SELECT ${gdX.map(_._2).zip(xNames)
      .map { case (sqlE, n) => s"$sqlE AS $n" }
      .mkString(", ")}, ${gdY._2} AS y FROM lineitem)"""
    val ctes = (1 to gdSteps).flatMap { i =>
      val (resid, from, carry) =
        if (i == 1) ("(0 - f.y)", "FROM f", "")
        else (s"(${pred("w")} - f.y)", s"FROM f, w${i - 1} w",
          s"GROUP BY ${(0 until nw).map(j => s"w.w$j").mkString(", ")}")
      val gradSel = (Seq(s"CAST(sum($resid) AS BIGINT) AS g0") ++
        xNames.zipWithIndex.map { case (x, j) =>
          s"CAST(sum($resid * f.$x) AS BIGINT) AS g${j + 1}"
        }) :+ s"CAST(sum($resid * $resid) AS BIGINT) AS sse"
      val wPrev = (0 until nw).map(j => if (i == 1) "0" else s"w$j")
      val wSel = wPrev.zipWithIndex.map { case (p, j) =>
        s"CAST($p - sign(g$j) AS BIGINT) AS w$j"
      }
      Seq(
        s"g$i AS (SELECT ${(if (i == 1) Nil
          else (0 until nw).map(j => s"w.w$j AS w$j")) ++ gradSel mkString ", "} $from $carry)",
        s"w$i AS (SELECT ${wSel.mkString(", ")}, sse FROM g$i)")
    }
    val unions = (1 to gdSteps).map(i =>
      s"SELECT CAST($i AS BIGINT) AS step, sse, ${(0 until nw)
        .map(j => s"w$j").mkString(", ")} FROM w$i").mkString("\n UNION ALL ")
    s"WITH $f,\n ${ctes.mkString(",\n ")}\n $unions ORDER BY step"
  }

  /** Stage a positions x channels grid of scalar expressions as named
    * columns `{prefix}_{p}_{c}` (one select = one layer, mirroring the
    * oracle's one-CTE-per-layer shape) and return attribute references
    * to the staged cells. Staging per layer keeps each expression
    * resolving against cheap attributes — inlining a layer into its
    * consumer duplicates cells k*channels times per level (the analyzer
    * blowup documented in NeuralForward's static-variant note).
    */
  private def stageGrid(df: DataFrame, carry: Seq[Column], prefix: String,
      cells: Seq[Seq[Column]]): (DataFrame, Seq[Seq[Column]]) = {
    val named = for ((row, p) <- cells.zipWithIndex; (e, c) <- row.zipWithIndex)
      yield e.as(s"${prefix}_${p}_$c")
    val out = df.select(carry ++ named: _*)
    val refs = cells.indices.map(p =>
      cells(p).indices.map(c => col(s"${prefix}_${p}_$c")))
    (out, refs)
  }

  val entries: Seq[Entry] = Seq(

    // Q37 — CNN forward scoring (M2): the reference's Conv1D->pool->
    // Conv1D->pool->flatten->dense stack shape at fixed weights, scored
    // distributed over every lineitem row. Exact-integer arithmetic ->
    // strict hash oracle (see object doc). Static-unrolled layers
    // (plain codegen'd arithmetic, no HOF lambdas), one staged select
    // per layer.
    Entry("q37_cnn_forward",
      (s, dir) => {
        val (d0, x) = stageGrid(t(s, dir, "lineitem"), keyCols, "x",
          featCols.map(Seq(_)))
        val (dc1, c1) = stageGrid(d0, keyCols, "c1",
          NeuralForward.conv1dStatic(x, d3(w1), d1(b1)))
        val (dp1, p1) = stageGrid(dc1, keyCols, "p1",
          NeuralForward.maxPool1dStatic(c1, 2))
        val (dc2, c2) = stageGrid(dp1, keyCols, "c2",
          NeuralForward.conv1dStatic(p1, d3(w2), d1(b2)))
        val (dp2, p2) = stageGrid(dc2, keyCols, "p2",
          NeuralForward.maxPool1dStatic(c2, 2))
        val lg = NeuralForward.denseStatic(
          NeuralForward.flattenStatic(p2), d2(wd), d1(bd), "linear")
        dp2.select(keyCols ++ Seq(
          lg(0).cast("long").as("logit0"),
          lg(1).cast("long").as("logit1"),
          // 2-class argmax, first index wins ties (np.argmax parity)
          when(lg(0) >= lg(1), 0L).otherwise(1L).as("pred")): _*)
      },
      Some(cnnOracle)),

    // Q38 — SimpleRNN forward scoring (M3): 8-timestep relu recurrence
    // (the exact-integer stand-in for Keras's default tanh — same
    // recurrence structure, hash-checkable) + dense head. Each timestep
    // is one staged select (an inlined recurrence grows units^T); the
    // DuckDB side unrolls the same 8 steps as chained CTEs.
    Entry("q38_rnn_forward",
      (s, dir) => {
        val (d0, x) = stageGrid(t(s, dir, "lineitem"), keyCols, "x",
          featCols.map(Seq(_)))
        val xRefs = (0 until 8).map(p => col(s"x_${p}_0"))
        val (dT, h) = (1 to 8).foldLeft(
          (d0, Seq.fill(3)(lit(0.0): Column))) { case ((df, hPrev), tt) =>
          val step = NeuralForward.rnnCell(Seq(xRefs(tt - 1)), hPrev,
            d2(rwx), d2(rwh), d1(rb), "relu")
          val named = step.zipWithIndex.map { case (e, u) => e.as(s"h${tt}_$u") }
          (df.select(keyCols ++ xRefs ++ named: _*),
            (0 until 3).map(u => col(s"h${tt}_$u")))
        }
        val lg = NeuralForward.denseStatic(h, d2(rwd), d1(rbd), "linear")
        dT.select(keyCols ++ Seq(
          lg(0).cast("long").as("logit0"),
          lg(1).cast("long").as("logit1"),
          when(lg(0) >= lg(1), 0L).otherwise(1L).as("pred")): _*)
      },
      Some(rnnOracle)),

    // Q39 — distributed sign-SGD training loop (SignGd): 3 full-batch
    // steps of y ~ w . x over lineitem. Each step is ONE map-side-
    // combined aggregation (the data-parallel training shape); integer
    // features + sign updates keep every weight and loss an exact
    // integer, so the ITERATIVE trainer itself is hash-oracle-gated —
    // DuckDB replays the identical steps as chained CTEs and must land
    // on the same weights. Output: per step, the pre-update loss and
    // post-update weights (O(steps) rows of fit state).
    Entry("q39_sign_gd",
      (s, dir) => {
        import s.implicits._
        val steps = SignGd.fit(t(s, dir, "lineitem"),
          gdX.map(_._1), gdY._1, gdSteps)
        steps.map(st => (st.step, st.sse,
            st.w(0), st.w(1), st.w(2), st.w(3)))
          .toDF("step", "sse", "w0", "w1", "w2", "w3")
          .orderBy("step")
      },
      Some(signGdOracle)),

    // Q41 — LSTM forward scoring (M4): the reference's
    // `models/lstm_model.py:19-26` recurrence at fixed weights over the
    // 8-timestep lineitem feature sequence. Static-unrolled via
    // NeuralForward.lstmStaged (two staged selects per timestep, plain
    // codegen'd arithmetic) — the HOF `lstm` fold is the right tool for
    // variable-length sequences but benched ~45x slower here (70s vs
    // 1.5s at sf0.1, interpreted lambdas). Gates are sigmoid/tanh —
    // transcendental, so no exact-integer hash oracle exists (sub-ulp
    // libm differences); rows-only, with NeuralForwardSpec asserting the
    // staged form ≡ the HOF form ≡ a plain-Scala reference LSTM.
    // Round-13 perf note: this entry's session-to-session wall
    // bimodality (2.2 s vs 5.3 s at ~36 s "fixed" task CPU) was NOT
    // arithmetic — the 16 staged projections fused into one
    // 22254-bytecode whole-stage method, past HotSpot's 8000-byte
    // compile ceiling, so the whole pass ran in the bytecode
    // interpreter and its throughput tracked JIT profile state. Fixed
    // globally (GraftSession hugeMethodLimit note): 37.2 s -> 14.2 s
    // task CPU, wall 1.2-1.6 s stable across quiet sessions. The
    // tanh(x) = 2*sigmoid(2x)-1 gate-sharing idea is moot at this
    // width: the ~48M transcendentals cost ~2 s of the CPU; the rest
    // was interpreter overhead, now per-operator codegen.
    Entry("q41_lstm_forward",
      (s, dir) => {
        import s.implicits._
        val w = lstmW
        // ~80 exp/tanh per row makes this COMPUTE-bound, unlike the
        // integer q37/q38 maps: an 11 MB fixture parquet is a single
        // split, which would serialize 48M transcendentals onto one
        // core (measured 31s -> ~2s at sf0.1). Repartition ONLY when
        // the scan has fewer splits than cores — at 100 TB the scan
        // has thousands of splits and an unconditional round-robin
        // repartition would shuffle the whole corpus for nothing.
        val scan = t(s, dir, "lineitem")
        val para = s.sparkContext.defaultParallelism
        val facts =
          if (scan.rdd.getNumPartitions < para) scan.repartition(para)
          else scan
        // r17 (verdict task #5): the 16 staged two-select projections
        // are replaced by NeuralForward.LstmKernel — one typed map,
        // bit-identical scores (NeuralForwardSpec pins kernel ==
        // staged == plain-Scala reference; round(·,4) replayed via
        // roundHalfUp). The staged form's wall was per-operator-codegen
        // row plumbing (~12 s of its ~14 s task CPU at sf0.1), not the
        // transcendentals — the kernel keeps only the arithmetic.
        // lstmStaged itself stays exercised by NeuralForwardSpec.
        val k = new NeuralForward.LstmKernel(w)
        // no ORDER BY: rows-only entries need no total order (the
        // x4_simhash precedent)
        facts.select(col("l_orderkey").cast("long").as("_1"),
            col("l_linenumber").cast("int").as("_2"),
            array(featCols.map(f => (f / lit(32.0)).cast("double")): _*)
              .as("_3"))
          .as[(Long, Int, Array[Double])]
          .map { case (ok, ln, x) =>
            val h = k.forward(x)
            (ok, ln, NeuralForward.roundHalfUp(h(0), 4),
              NeuralForward.roundHalfUp(h(1), 4))
          }
          .toDF("l_orderkey", "l_linenumber", "h0", "h1")
      },
      None),

    // Q42 — RECURRENT training via BPTT (RnnTrainer): up to 4
    // full-batch epochs of SimpleRNN(4, relu) + post-recurrence
    // Dropout(0.3) (`rnn_model.py:21` — hash-mask, RnnTrainerSpec FD-
    // gated) + softmax head over the 8-step lineitem feature sequence,
    // under Keras EarlyStopping (patience 5, restore-best, val loss on
    // a 20% hash hold-out riding the SAME per-epoch aggregation — the
    // q40 wiring). The TRAINING half of the M3 gap (q38 covers scoring;
    // MLlib has no recurrent trainer); remaining M3 delta vs
    // rnn_model.py:19-26 is the 2-layer 64/128 stack + Dense(64) (see
    // q59_rnn2_train). Rows-only (float losses); RnnTrainerSpec holds
    // finite-difference gradient checks for all five weight tensors
    // (with and without dropout), layout invariance, and learning on
    // an order-sensitive task. Labels here are synthetic parity — the
    // observable signal is the loss descending toward base-rate
    // entropy, as with q40. Harness shared with q43 (trainEntry).
    Entry("q42_rnn_train",
      (s, dir) => trainEntry(s, dir) { (facts, xs, y) =>
        val w0 = RnnTrainer.init(units = 4, classes = 2, seed = 17L)
        val rk = xxhash64(col("l_orderkey"), col("l_linenumber"))
        // 3 epochs: per-epoch cost is staged-DAG plan/codegen depth,
        // not data (the q56/q58 rationale); descent + the ES harness
        // are fully exercised at this count. Fit runs on the
        // treeAggregate twin (WideRnn — the q58/q59 pattern):
        // WideSinglesSpec pins it gradient-for-gradient to
        // RnnTrainer's staged plan, so the trajectory is unchanged
        // while the per-epoch staged plan/codegen cost disappears;
        // predictStaged below keeps the staged DAG exercised.
        // round 13: the reference's actual optimizer — Adam(0.001),
        // `rnn_model.py:28-34` (probed at both gate SFs: descent
        // margin ~2.4e-3/epoch, three orders above float-reorder
        // noise, so the rows-only self-gate stays safe)
        // round-14 session-spread diagnostic (r13 verdict #4, the q41
        // playbook): the accuracy agg below fuses the whole staged
        // predictStaged chain into hashAgg_doAggregateWithoutKey_0 —
        // 12076 bytecodes, over the 8000 JIT ceiling — so the
        // hugeMethodLimit fallback runs that stage per-operator-codegen
        // (small JIT-able methods), the same mechanism that fixed q41.
        // Three fresh bench sessions under the data-sized regime read
        // 2.12/1.70/1.71 s (±13% of mean) — the old 1.5-2.7 s swing is
        // gone; the residual wall is 3 epochs x staged plan/codegen
        // depth, the documented trainer floor. Round 15: the verdict's
        // staged-split idea (exchange before the agg so its method
        // JITs) was probed and measured a NON-WIN — see accOf's
        // scaladoc for the numbers; the fused form stands.
        val es = TrainerCommon.fitEs(WideRnn.Kernel(dropout = 0.3), facts,
          xs, y, rk, w0, maxEpochs = 3,
          opt = TrainerCommon.Optimizer.adam(0.001),
          isVal = TrainerCommon.valSplitPortable(
            Seq(col("l_orderkey"), col("l_linenumber"))), patience = 5)
        val (lab, fs) = labeled(facts, xs, y)
        (es.trainLosses, accOf(RnnTrainer.predictStaged(
          lab, Seq(col("y")), fs, es.weights, "pred")))
      },
      None),

    // Q59 — STACKED 2-layer RNN training (Rnn2Trainer): the reference's
    // complete recurrent architecture `rnn_model.py:19-26` —
    // SimpleRNN(u1, relu, return_sequences) -> Dropout(.3) ->
    // SimpleRNN(u2, relu) -> Dropout(.3) -> softmax head — trained by
    // stacked BPTT under the EarlyStopping harness. This closes the M3
    // STACKING delta; the remaining difference is WIDTH only (2/3 units
    // vs the reference's 64/128 — a constructor argument, held small
    // because plan/codegen depth, not data, dominates staged-expression
    // cost at fixture scale: the q56 rationale). The cross-layer BPTT
    // term (layer-1 state feeding both layer 2 at t and layer 1 at t+1)
    // is FD-gated in Rnn2TrainerSpec for all 8 tensors, with and
    // without dropout. Rows-only (float losses), loss-descent
    // self-gated like every trainer entry.
    Entry("q59_rnn2_train",
      (s, dir) => trainEntry(s, dir) { (facts, xs, y) =>
        val w0i = Rnn2Trainer.init(u1 = 2, u2 = 3, classes = 2,
          seed = 43L)
        // positive initial biases keep both stacked relu layers alive
        // (Rnn2TrainerSpec dead-layer note)
        val w0 = w0i.copy(b1 = w0i.b1.map(_.abs + 0.1),
          b2 = w0i.b2.map(_.abs + 0.1))
        val rk = xxhash64(col("l_orderkey"), col("l_linenumber"))
        // T=6 of the 8 features, 2 ES epochs. Fit runs on the
        // treeAggregate twin (WideRnn2 — the reference-width execution
        // path): WideRnn2Spec pins it gradient-for-gradient to
        // Rnn2Trainer's staged plan, so the trajectory is unchanged
        // while the per-epoch staged plan/codegen cost (the old
        // bench-dominating term) disappears. predictStaged below stays
        // on the staged plan — one scoring pass, and it keeps the
        // staged forward DAG exercised end-to-end in this entry.
        // Adam(0.001) — the reference's optimizer (round 13, the q42
        // note)
        val es = TrainerCommon.fitEs(WideRnn2.Kernel(dropout = 0.3), facts,
          xs.take(6), y, rk, w0,
          maxEpochs = 2, opt = TrainerCommon.Optimizer.adam(0.001),
          isVal = TrainerCommon.valSplitPortable(
            Seq(col("l_orderkey"), col("l_linenumber"))), patience = 5)
        val (lab, fs) = labeled(facts, xs, y)
        (es.trainLosses, accOf(Rnn2Trainer.predictStaged(
          lab, Seq(col("y")), fs.take(6), es.weights, "pred")))
      },
      None),

    // Q56 — LSTM training (LstmTrainer): 2 full-batch Adam BPTT epochs of
    // LSTM(3) + softmax head over the 8-step lineitem sequence — the
    // TRAINING half of the M4 gap (q41 covers LSTM scoring; q42's BPTT
    // covers only the simple recurrence). Remaining M4 deltas vs
    // lstm_model.py:19-26: the reference STACKS two recurrent layers —
    // LSTM(64, return_sequences) -> Dropout(.3) -> LSTM(128) ->
    // Dropout(.3) -> Dense(64) — where this is a single LSTM layer
    // into the softmax head (see q60_lstm2_train for the stacked form). Gated backward pass — dc chained through f_{t+1},
    // four coupled dz tensors per step — staged as expression columns,
    // one O(params) aggregation per epoch. Rows-only (float losses);
    // LstmTrainerSpec holds finite-difference checks for all 14 weight
    // tensors, layout invariance, and learning on an order-sensitive
    // task. Harness shared with q42/q43 (trainEntry).
    // Architecture kept small (units=2, T=5 of the 8 features): the
    // staged LSTM DAG is ~6 frontiers/step forward + 3 backward, and
    // per-epoch cost at fixture scale is dominated by plan/codegen
    // depth, not data (units=3/T=8 measured 14s vs 5s for this size at
    // sf0.1 — same semantics, LstmTrainerSpec pins them exactly).
    Entry("q56_lstm_train",
      (s, dir) => trainEntry(s, dir) { (facts, xs, y) =>
        val w0 = LstmTrainer.init(units = 2, classes = 2, seed = 29L)
        // fit on the treeAggregate twin (WideLstm, the q59/q60
        // rationale — WideSinglesSpec pins all 14 gradient tensors to
        // the staged plan); predictStaged keeps the staged gated
        // forward DAG exercised below
        // Adam(0.001) — the reference's optimizer (round 13, the q42
        // note)
        val (w, losses) = TrainerCommon.fit(WideLstm.Kernel, facts,
          xs.take(5), y, lit(0L), w0,
          epochs = 2, opt = TrainerCommon.Optimizer.adam(0.001))
        val (lab, fs) = labeled(facts, xs, y)
        (losses, accOf(LstmTrainer.predictStaged(
          lab, Seq(col("y")), fs.take(5), w, "pred")))
      },
      None),

    // Q60 — STACKED 2-layer LSTM training (Lstm2Trainer): the
    // reference's COMPLETE recurrent stack `lstm_model.py:19-26` —
    // LSTM(u1, return_sequences) -> Dropout(.3) -> LSTM(u2) ->
    // Dropout(.3) -> Dense(d, relu) -> softmax — trained by stacked
    // gated BPTT (full dropout; the EarlyStopping harness composes
    // via Lstm2Trainer.fitEs and is exercised on the cheaper stacked
    // entry q59 — see the in-body cost note). Closes the M4
    // STACKING delta (q56 is the single-layer block); the remaining
    // difference is WIDTH only (2/2 units + Dense(3) vs 64/128 +
    // Dense(64) — constructor arguments, held small per the q56
    // plan-depth rationale; T=4 of the 8 features for the same reason).
    // The new math — layer-2's vector-input gate matrices, the
    // cross-layer dh1 (da1 through the inter-layer mask + own
    // recurrence), and the relu dense head — is FD-gated in
    // Lstm2TrainerSpec for all 28 tensors, with and without dropout.
    // Rows-only (float losses), loss-descent self-gated.
    Entry("q60_lstm2_train",
      (s, dir) => trainEntry(s, dir) { (facts, xs, y) =>
        val w0 = Lstm2Trainer.init(u1 = 2, u2 = 2, d = 3, classes = 2,
          seed = 47L)
        val rk = xxhash64(col("l_orderkey"), col("l_linenumber"))
        // T=3, 2 plain-fit epochs (the ES harness — which costs a
        // trailing validation pass — is demonstrated on
        // q40/q42/q58/q59; this entry's job is the stacked gated
        // BPTT). Fit runs on the treeAggregate twin (WideLstm2, the
        // q59 rationale): WideLstm2Spec pins it gradient-for-gradient
        // to Lstm2Trainer's staged plan (~15 staged frontiers per step
        // whose plan/codegen depth dominated bench wall — measured 29s
        // at T=4/3 ES epochs vs ~8s at T=3 for the staged form at
        // sf0.1), so the trajectory is unchanged at a fraction of the
        // cost; predictStaged keeps the staged forward DAG exercised.
        // Adam(0.001) — the reference's optimizer (round 13, the q42
        // note)
        val (w, losses) = TrainerCommon.fit(WideLstm2.Kernel(dropout = 0.3),
          facts, xs.take(3), y, rk, w0,
          epochs = 2, opt = TrainerCommon.Optimizer.adam(0.001))
        val (lab, fs) = labeled(facts, xs, y)
        (losses, accOf(Lstm2Trainer.predictStaged(
          lab, Seq(col("y")), fs.take(3), w, "pred")))
      },
      None),

    // Q43 — CONVOLUTIONAL training (ConvTrainer): full-batch epochs
    // of Conv1D(3 filters, k=3, relu) -> global MAX pool (the
    // reference's pooling; gradient routed to the first argmax
    // position) -> post-pool Dropout(.5) (`cnn_model.py:29`) ->
    // softmax over the 8-step lineitem sequence, under the
    // EarlyStopping harness — the TRAINING half of the M2 gap (q37
    // covers scoring; the reference's full stacked block structure is
    // q57/q58). Same shape as q42: staged forward+backward
    // expressions, one aggregation per epoch, deterministic 25% slice,
    // rows-only; ConvTrainerSpec holds finite-difference checks for
    // both pooling modes (with and without dropout) and learns a
    // position-invariant task.
    Entry("q43_conv_train",
      (s, dir) => trainEntry(s, dir) { (facts, xs, y) =>
        val w0i = ConvTrainer.init(filters = 3, kernel = 3, classes = 2,
          seed = 23L)
        // positive initial biases keep filters alive under max-pool's
        // sparse argmax routing (the ConvTrainerSpec dead-filter note)
        val w0 = w0i.copy(b = w0i.b.map(_.abs + 0.1))
        val rk = xxhash64(col("l_orderkey"), col("l_linenumber"))
        // the reference's Dropout(.5) after the conv block
        // (cnn_model.py:29) + EarlyStopping, both riding the same
        // per-epoch aggregation (5 epochs + the trailing val pass).
        // Fit on the treeAggregate twin (WideConv — WideSinglesSpec
        // pins both pool modes' gradient routing, first-argmax
        // included, to the staged plan); predictStaged keeps the
        // staged conv DAG exercised below.
        // Adam(0.001) — the reference's optimizer (round 13, the q42
        // note). 5 epochs, not 3: max-pool's argmax routing under
        // Dropout(.5) makes single 0.001-steps non-monotone (probed:
        // epoch-3 mask redraw rose ~1.4e-3 at sf0.1 where the 3-epoch
        // gate tripped), and five updates give the cumulative descent
        // a ~3e-3 margin over the mask noise at both gate SFs
        // (0.01/0.1). KNOWN at sf0.001 (round 14, deterministic): the
        // ~150-row slice's mask noise exceeds that margin, the loss
        // ends above epoch 1, and the descent self-gate below
        // deliberately emits 0 rows — an honest "did not descend at
        // this scale", matching what 5 Keras epochs on 150 rows under
        // Dropout(.5) can do, not a plan bug. sf0.001 is a smoke
        // scale; the correctness gate runs at sf0.01.
        val es = TrainerCommon.fitEs(
          WideConv.Kernel(dropout = 0.5, pool = ConvTrainer.MaxPool),
          facts, xs, y, rk, w0, maxEpochs = 5,
          opt = TrainerCommon.Optimizer.adam(0.001),
          isVal = TrainerCommon.valSplitPortable(
            Seq(col("l_orderkey"), col("l_linenumber"))), patience = 5)
        val (lab, fs) = labeled(facts, xs, y)
        (es.trainLosses, accOf(ConvTrainer.predictStaged(
          lab, Seq(col("y")), fs, es.weights, "pred",
          ConvTrainer.MaxPool)))
      },
      None),

    // Q57 — STACKED conv training (Conv2Trainer): 3 full-batch epochs
    // of Conv1D(2,k3,relu) -> MaxPool1D(2) -> Conv1D(2,k3,relu) ->
    // global max pool -> softmax over the 8-step lineitem sequence —
    // the reference's BLOCK STRUCTURE (conv/local-pool stacking,
    // multi-channel second conv, two levels of argmax gradient
    // routing). Remaining M2 deltas vs cnn_model.py:21-32: depth/width
    // (3 blocks of 32/64/128 filters there) AND the classifier head —
    // the reference is Flatten -> Dense(128, relu) -> Dropout(.5) ->
    // softmax, while this stack global-max-pools straight into softmax
    // (see q58_conv3_train for the head-exact form). Rows-only;
    // Conv2TrainerSpec holds finite-difference checks for all six
    // tensors and learns the bump task through the stack.
    Entry("q57_conv2_train",
      (s, dir) => trainEntry(s, dir) { (facts, xs, y) =>
        val w0 = Conv2Trainer.init(f1 = 2, f2 = 2, kernel = 3,
          classes = 2, seed = 37L)
        // fit on the treeAggregate twin (WideConv2 — WideConv2Spec
        // pins gradients and the fit trajectory to the staged plan);
        // predictStaged below keeps the staged forward exercised
        // Adam(0.001) — the reference's optimizer (round 13, the q42
        // note)
        val (w, losses) = TrainerCommon.fit(WideConv2.Kernel, facts, xs, y,
          lit(0L), w0, epochs = 3,
          opt = TrainerCommon.Optimizer.adam(0.001))
        val (lab, fs) = labeled(facts, xs, y)
        (losses, accOf(
          Conv2Trainer.predictStaged(lab, Seq(col("y")), fs, w, "pred")))
      },
      None),

    // Q58 — the reference CNN's COMPLETE architecture (ConvNetTrainer):
    // 3 x [Conv1D(k3, relu) -> MaxPool1D(2)] -> Flatten -> Dense(relu)
    // -> Dropout(0.5) -> softmax, trained full-batch with the val-loss
    // early-stop harness — block-for-block `cnn_model.py:21-32`
    // (3 conv/pool blocks, the flatten+dense+dropout head, the
    // EarlyStopping stop rule). Runs over a 22-step sequence of
    // integer-derived lineitem features (the 8-step trainEntry grid is
    // too short for three k=3 pool levels). Remaining M2 delta is
    // WIDTH only: 2/2/2 filters + Dense(4) here vs 32/64/128 +
    // Dense(128) — a constructor argument (ConvNetTrainer is
    // parameterized), held small because plan/codegen depth, not data,
    // dominates staged-expression cost at fixture scale (the q56
    // rationale). Rows-only; ConvNetTrainerSpec holds finite-diff
    // checks for every tensor family with and without dropout.
    Entry("q58_conv3_train",
      (s, dir) => conv3Train(s, dir, filters = Seq(2, 2, 2), dense = 4,
        withPredict = true),
      None),

    // Q73 — the reference CNN at its ACTUAL WIDTHS, priced in the bench
    // artifact (round-14 verdict task #7): Conv 32/64/128 + Dense(128)
    // + Dropout(0.5) + Adam(0.001) — `cnn_model.py:21-32` width-for-
    // width — fit for 2 epochs on the q58 slice via the treeAggregate
    // twin (WideNet), the execution path that REACHES these widths
    // (WideNetSpec pins it gradient-for-gradient to the staged plan at
    // narrow widths; the staged plan itself cannot express 128-wide
    // layers without quadratic expression blowup). No predictStaged
    // tail here for the same reason — the priced row is the FIT.
    // Rows-only (float losses) and trainer_class-tagged in the bench
    // artifact by construction (no oracle), so it is absent from every
    // matched ratio; its job is to price the real architecture, not
    // only the narrow registry twins.
    Entry("q73_widenet_ref_train",
      (s, dir) => conv3Train(s, dir, filters = Seq(32, 64, 128),
        dense = 128, withPredict = false),
      None),

    // Q40 — MLP training WITH DROPOUT and EARLY STOPPING (GdTrainer):
    // up to 8 full-batch epochs of a 6->6->2 softmax MLP over the
    // embeddings table, deterministic hash-based dropout 0.3, under the
    // reference's actual stop condition — Keras
    // EarlyStopping(monitor=val_loss, patience=5, restore_best_weights)
    // (`models/mlp_model.py:67-71`) — monitored on a deterministic 20%
    // hash hold-out of the rows, with the val loss riding the SAME
    // per-epoch aggregation as the gradients (zero extra jobs; see
    // TrainerCommon.earlyStop). MLlib can express neither the Dropout
    // nor this stop semantics. Float softmax losses are not
    // ANSI-replayable -> rows-only here; semantics gated by
    // GdTrainerSpec + EarlyStopSpec (finite-difference gradients, mask
    // determinism, patience/restore-best behavior). Output: per-epoch
    // train/val mean loss + best/stopped epoch + final train accuracy.
    // NOTE the fixture's labels are independent of its embeddings by
    // construction, so accuracy sits at chance; the observable training
    // signal here is the loss descending toward the base-rate entropy
    // (~ln 2). GdTrainerSpec is where actual learning is asserted.
    Entry("q40_mlp_train",
      (s, dir) => {
        import s.implicits._
        val d = 6
        val emb = t(s, dir, "embeddings").select(
          (0 until d).map(i =>
            element_at(col("embedding"), i + 1).cast("double").as(s"f$i")) ++
            Seq((col("label") % 2).cast("int").as("y"),
              col("vec_id").as("rk")): _*)
        val feats = (0 until d).map(i => col(s"f$i"))
        val w0 = GdTrainer.init(d, 6, 2, seed = 11L)
        // fit on the depth-1 dense kernel (WideMlp3 at one hidden
        // layer — WideSinglesSpec pins gradients, dropout masks, and
        // the ES trajectory to GdTrainer's staged plan, Mlp3Trainer
        // bridges the weights); GdTrainer.predict below keeps the staged
        // forward expression exercised. Round 13: the reference's
        // ACTUAL optimizer — Adam(learning_rate=0.001), bias-corrected
        // moments as O(params) driver state (`models/mlp_model.py:
        // 28-34`; AdamSpec pins the math to the paper recurrences) —
        // at the same one-aggregation-per-epoch job count as the old
        // sgd step. The batch_size=64 fit semantic runs in
        // q40b_mlp_minibatch (membership itself is oracle-gated by
        // q61b on this exact population).
        val es = TrainerCommon.fitEs(WideMlp3.Kernel(Seq(0.3)), emb, feats,
          col("y"), col("rk"), Mlp3Trainer.fromMlp(w0), maxEpochs = 8,
          opt = TrainerCommon.Optimizer.adam(0.001),
          isVal = TrainerCommon.valSplitPortable(Seq(col("rk"))),
          patience = 5)
        val (w, losses) = (Mlp3Trainer.toMlp(es.weights), es.trainLosses)
        val acc = emb.select((GdTrainer.predict(feats, w) === col("y"))
          .cast("double").as("ok")).agg(avg("ok")).head().getDouble(0)
        // divergence self-gate: empty output on non-descending loss
        // (the trainEntry note above)
        val rows =
          if (losses.isEmpty || losses.last <= losses.head)
            losses.zip(es.valLosses).zipWithIndex.map { case ((l, vl), e) =>
              ((e + 1).toLong, math.rint(l * 1e6) / 1e6,
                math.rint(vl * 1e6) / 1e6, es.bestEpoch.toLong,
                es.stoppedEpoch.toLong, math.rint(acc * 1e4) / 1e4)
            }
          else Seq.empty[(Long, Double, Double, Long, Long, Double)]
        rows.toDF("epoch", "loss", "val_loss", "best_epoch",
          "stopped_epoch", "final_acc").orderBy("epoch")
      },
      None),

    // Q40B — the Keras fit(batch_size=..., shuffle=True) semantic run
    // END-TO-END (q40 closes the optimizer; this closes the batching):
    // Adam updates after EACH deterministic hash mini-batch, membership
    // re-drawn per epoch (TrainerCommon.batchOf — the exact population
    // q61b hash-gates), val loss riding the first batch pass of each
    // epoch (TrainerCommon.batchedEpoch: nBatches jobs/epoch, no extra
    // val pass). Kept to 3 epochs x 4 batches: each batch pass is a
    // full-source scan by design (membership is a row-local hash
    // predicate — batches are views, never materialized copies), so
    // jobs/epoch = nBatches; at 100 TB you persist the O(features)
    // projected frame once and keep nBatches small — batch_size=64 is
    // a single-node Keras constant, not a distributed contract.
    // Rows-only like every float trajectory; AdamSpec owns batch
    // semantics (disjoint/covering/epoch-redrawn/partitioning-
    // invariant) and the twin parity under Adam + batches.
    Entry("q40b_mlp_minibatch",
      (s, dir) => {
        import s.implicits._
        val d = 6
        val emb = t(s, dir, "embeddings").select(
          (0 until d).map(i =>
            element_at(col("embedding"), i + 1).cast("double").as(s"f$i")) ++
            Seq((col("label") % 2).cast("int").as("y"),
              col("vec_id").as("rk")): _*)
        val feats = (0 until d).map(i => col(s"f$i"))
        val w0 = GdTrainer.init(d, 6, 2, seed = 11L)
        val es = TrainerCommon.fitEs(WideMlp3.Kernel(Seq(0.3)), emb, feats,
          col("y"), col("rk"), Mlp3Trainer.fromMlp(w0), maxEpochs = 3,
          opt = TrainerCommon.Optimizer.adam(0.001),
          isVal = TrainerCommon.valSplitPortable(Seq(col("rk"))),
          patience = 5, batchKeys = Seq(col("rk")), nBatches = 4)
        val losses = es.trainLosses
        val rows =
          if (losses.isEmpty || losses.last <= losses.head)
            losses.zip(es.valLosses).zipWithIndex.map { case ((l, vl), e) =>
              ((e + 1).toLong, math.rint(l * 1e6) / 1e6,
                math.rint(vl * 1e6) / 1e6, es.bestEpoch.toLong,
                es.stoppedEpoch.toLong)
            }
          else Seq.empty[(Long, Double, Double, Long, Long)]
        rows.toDF("epoch", "loss", "val_loss", "best_epoch",
          "stopped_epoch").orderBy("epoch")
      },
      None),

    // Q74 — the reference MLP at its ACTUAL DEPTH AND WIDTHS (round-15
    // verdict task #1, the last architecture asymmetry): Dense(256,
    // relu) -> Dropout(.3) -> Dense(128, relu) -> Dropout(.3) ->
    // Dense(64, relu) -> softmax + Adam(0.001) + the ES harness —
    // `models/mlp_model.py:19-34` block-for-block — fit 2 epochs over
    // the q40 embeddings slice on the treeAggregate twin (WideMlp3).
    // Mlp3TrainerSpec pins the twin gradient-for-gradient to the
    // FD-checked staged trainer (Mlp3Trainer) at narrow widths, pins
    // the staged trainer to GdTrainer at depth 1, and trains these
    // exact widths in-spec; the staged plan cannot express 256-wide
    // layers without quadratic expression blowup — the q58/q73 split.
    // Fit-only, rows-only (float losses), divergence-self-gated on
    // both trajectories (the refSeqTrain gate note),
    // trainer_class-tagged by construction: this row PRICES the real
    // MLP architecture in the bench artifact alongside q73's CNN and
    // q75/q76's recurrent stacks.
    Entry("q74_mlp3_train",
      (s, dir) => {
        import s.implicits._
        val d = 6
        val emb = t(s, dir, "embeddings").select(
          (0 until d).map(i =>
            element_at(col("embedding"), i + 1).cast("double").as(s"f$i")) ++
            Seq((col("label") % 2).cast("int").as("y"),
              col("vec_id").as("rk")): _*)
        val feats = (0 until d).map(i => col(s"f$i"))
        val w0 = Mlp3Trainer.init(d, Seq(256, 128, 64), 2, seed = 53L)
        gatedEsRows(s, TrainerCommon.fitEs(
          WideMlp3.Kernel(Seq(0.3, 0.3, 0.0)), emb, feats, col("y"),
          col("rk"), w0, maxEpochs = 2,
          opt = TrainerCommon.Optimizer.adam(0.001),
          isVal = TrainerCommon.valSplitPortable(Seq(col("rk"))),
          patience = 5))
      },
      None),

    // Q75 — the reference RNN at its ACTUAL WIDTHS, priced in the
    // bench artifact (round-15 verdict task #2; q73 is the template):
    // SimpleRNN(64, return_sequences) -> Dropout(.3) -> SimpleRNN(128)
    // -> Dropout(.3) -> softmax head, Adam(0.001), 2 epochs on the
    // WideRnn2 twin over a lineitem slice as a T = 8 sequence. Init
    // scaled 1/sqrt(fan-in) (the WideRnn2Spec note: an unbounded relu
    // recurrence explodes at 64/128 fan-in under uniform(-0.5, 0.5)).
    // The narrow q59 twin carries the semantics; this row carries the
    // PRICE of the real widths. Slice is l_orderkey % 16 (vs the
    // narrow twins' % 4): the priced quantity is per-row throughput
    // of the real architecture, and the verdict's 45 s trainer-class
    // budget bounds rows x epochs — the budget note, not a semantic.
    Entry("q75_widernn2_ref_train",
      (s, dir) => refSeqTrain(s, dir, mod = 16) { (facts, xs, y, rk) =>
        val raw = Rnn2Trainer.init(u1 = 64, u2 = 128, classes = 2,
          seed = 43L)
        def sc(m: Seq[Seq[Double]], f: Double) = m.map(_.map(_ * f))
        val wide0 = raw.copy(
          wh1 = sc(raw.wh1, 1.0 / math.sqrt(64)),
          wx2 = sc(raw.wx2, 1.0 / math.sqrt(64)),
          wh2 = sc(raw.wh2, 1.0 / math.sqrt(128)),
          w3 = sc(raw.w3, 1.0 / math.sqrt(128)))
        TrainerCommon.fitEs(WideRnn2.Kernel(dropout = 0.3), facts, xs, y,
          rk, wide0, maxEpochs = 2,
          opt = TrainerCommon.Optimizer.adam(0.001), isVal = TrainerCommon.valSplitPortable(
            Seq(col("l_orderkey"), col("l_linenumber"))), patience = 5)
      },
      None),

    // Q76 — the reference LSTM at its ACTUAL WIDTHS, priced in the
    // bench artifact (same contract as q73/q74/q75): LSTM(64,
    // return_sequences) -> Dropout(.3) -> LSTM(128) -> Dropout(.3) ->
    // Dense(64, relu) -> softmax, Adam(0.001), 2 epochs on the
    // WideLstm2 twin over a lineitem slice as a T = 8 sequence. The
    // squashed gates keep the default init stable at these widths
    // (the WideLstm2Spec reference-width run uses it unscaled).
    // Slice is l_orderkey % 32 — the 28-tensor gated BPTT is ~4x the
    // RNN's per-row flops, so the budget slice halves again (the q75
    // note; measured ~40 s for 4 passes over the % 4 slice at sf0.01
    // on 8 cores — the % 4 slice at sf0.1 would alone blow the
    // trainer-class budget).
    Entry("q76_widelstm2_ref_train",
      (s, dir) => refSeqTrain(s, dir, mod = 32) { (facts, xs, y, rk) =>
        val wide0 = Lstm2Trainer.init(u1 = 64, u2 = 128, d = 64,
          classes = 2, seed = 47L)
        TrainerCommon.fitEs(WideLstm2.Kernel(dropout = 0.3), facts, xs, y,
          rk, wide0, maxEpochs = 2,
          opt = TrainerCommon.Optimizer.adam(0.001), isVal = TrainerCommon.valSplitPortable(
            Seq(col("l_orderkey"), col("l_linenumber"))), patience = 5)
      },
      None),

    // Q61 — the trainer harness's deterministic SCAFFOLDING, oracle-
    // gated: the q42/q43/q56-q60 lineitem slice (l_orderkey % 4 = 0)
    // and the md5-affine 20% validation split every EarlyStopping
    // trainer consumes (TrainerCommon.valSplitPortable — q40 keys on
    // vec_id, the lineitem trainers on (l_orderkey, l_linenumber)),
    // counted per family and hash-compared against DuckDB replaying
    // the same hash. The float training trajectories themselves are
    // rows-only BY DESIGN (gradient sums over arbitrary partition
    // orders are not cross-engine reproducible; finite-difference
    // specs own that correctness) — this entry makes everything
    // AROUND them externally checkable: slice definition, split
    // fraction, split membership.
    Entry("q61_trainer_contract",
      (s, dir) => {
        val ivL = TrainerCommon.valSplitPortable(
          Seq(col("l_orderkey"), col("l_linenumber")))
        val li = t(s, dir, "lineitem")
          .filter(col("l_orderkey") % 4 === 0)
          .agg(count(lit(1)).as("n_rows"),
            sum(when(ivL, 1L).otherwise(0L)).as("n_val"))
          .select(lit("lineitem_q4").as("family"), col("n_rows"),
            (col("n_rows") - col("n_val")).as("n_train"), col("n_val"))
        val ivE = TrainerCommon.valSplitPortable(Seq(col("vec_id")))
        val emb = t(s, dir, "embeddings")
          .agg(count(lit(1)).as("n_rows"),
            sum(when(ivE, 1L).otherwise(0L)).as("n_val"))
          .select(lit("embeddings").as("family"), col("n_rows"),
            (col("n_rows") - col("n_val")).as("n_train"), col("n_val"))
        li.unionAll(emb).orderBy("family")
      },
      Some {
        val ivE = TrainerCommon.valSplitPortableSql(Seq("vec_id"))
        val ivL = TrainerCommon.valSplitPortableSql(
          Seq("l_orderkey", "l_linenumber"))
        s"""SELECT 'embeddings' AS family, count(*) AS n_rows,
               CAST(sum(CASE WHEN $ivE THEN 0 ELSE 1 END) AS BIGINT)
                 AS n_train,
               CAST(sum(CASE WHEN $ivE THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_val
            FROM embeddings
            UNION ALL
            SELECT 'lineitem_q4', count(*),
               CAST(sum(CASE WHEN $ivL THEN 0 ELSE 1 END) AS BIGINT),
               CAST(sum(CASE WHEN $ivL THEN 1 ELSE 0 END) AS BIGINT)
            FROM lineitem WHERE l_orderkey % 4 = 0
            ORDER BY family"""
      }),

    // Q61B — the MINI-BATCH membership contract (round-13 verdict #1's
    // oracle leg): the deterministic hash batches the Adam trainers
    // draw (TrainerCommon.batchOf — md5-affine portable family, seed
    // index 18, epoch folded into the key so membership re-draws every
    // epoch like Keras fit(shuffle=True)), counted per (epoch, batch)
    // over q40's actual training population (embeddings minus the q61
    // val slice) and hash-compared against DuckDB replaying the same
    // hash. Together with q61 this makes the whole data side of the
    // Keras compile/fit semantics externally checkable: slice, split,
    // AND batch membership; the float trajectories stay rows-only by
    // design (AdamSpec owns the optimizer math — bias-corrected
    // moments pinned to the paper recurrences).
    Entry("q61b_batch_contract",
      (s, dir) => {
        val iv = TrainerCommon.valSplitPortable(Seq(col("vec_id")))
        val nB = 4
        val perEpoch = Seq(1, 2).map { e =>
          t(s, dir, "embeddings").filter(!iv)
            .groupBy(TrainerCommon.batchOf(Seq(col("vec_id")), e, nB)
              .as("batch"))
            .agg(count(lit(1)).as("n_rows"))
            .select(lit(e.toLong).as("epoch"), col("batch"), col("n_rows"))
        }
        perEpoch.reduce(_ unionAll _).orderBy("epoch", "batch")
      },
      Some {
        val iv = TrainerCommon.valSplitPortableSql(Seq("vec_id"))
        val b = TrainerCommon.batchOfSql(Seq("vec_id"), "epoch", 4)
        s"""SELECT CAST(epoch AS BIGINT) AS epoch, $b AS batch,
                   count(*) AS n_rows
            FROM (SELECT vec_id FROM embeddings WHERE NOT ($iv))
            CROSS JOIN (SELECT unnest([1, 2]) AS epoch)
            GROUP BY 1, 2 ORDER BY 1, 2"""
      })
  )
}
