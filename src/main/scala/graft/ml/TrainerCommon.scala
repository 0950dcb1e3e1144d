package graft.ml

import scala.reflect.ClassTag

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The numerically subtle pieces every expression-column trainer shares
  * (GdTrainer / RnnTrainer / ConvTrainer) — kept in ONE place so a fix
  * to the max-shifted softmax or the loss algebra cannot silently miss
  * a copy (the dropout-threshold rounding fix in this repo's history is
  * the cautionary tale). Public: the query registry consumes
  * [[earlyStop]]'s result type and [[valSplit]] directly. Also the one
  * fit driver of the treeAggregate (`Wide*`) path: each family supplies
  * only a per-row [[Kernel]]; [[fit]]/[[fitEs]] own the passes, the
  * optimizer step, batching, early stopping and the input checks.
  */
object TrainerCommon {

  /** Stable log-softmax cross-entropy head over staged logit columns
    * `zc` with int label column `y`: returns (dzo_o columns aliased
    * `dzo_$o`, loss column aliased `loss`) where dzo_o = p_o - 1[y=o]
    * and loss = logsumexp(z) - z_y (max-shifted). A null or
    * out-of-range label FAILS the job (Keras parity: it raises on
    * out-of-range sparse labels): the when(y === o) sum is never true
    * for such a label, so without the guard the z_y term silently
    * dropped to 0 and every class was pushed down — corrupted
    * training with no error. stringIndexerTransform emits null for
    * unseen labels, so the case is reachable from public plumbing.
    * The guard is folded into EVERY output column — loss AND each
    * dzo_o (round-14 review find): a caller that aggregates only the
    * gradient columns without ever evaluating `loss` must still fail
    * on a bad label, not train silently on corrupted gradients. */
  def softmaxHead(zc: Seq[Column], y: Column): (Seq[Column], Column) = {
    val m = zc.reduce(greatest(_, _))
    val denom = zc.map(z => exp(z - m)).reduce(_ + _)
    val guard = assert_true(y.isNotNull && y >= 0 && y < zc.length,
      concat(lit(s"softmaxHead: label outside 0..${zc.length - 1}: "),
        coalesce(y.cast("string"), lit("null"))))
    val loss = (when(guard.isNull,
      log(denom) + m - zc.zipWithIndex.map { case (z, o) =>
        when(y === o, z).otherwise(lit(0.0)) }.reduce(_ + _)))
      .as("loss")
    val dzo = zc.zipWithIndex.map { case (z, o) =>
      when(guard.isNull,
        exp(z - m) / denom - when(y === o, 1.0).otherwise(0.0))
        .as(s"dzo_$o")
    }
    (dzo, loss)
  }

  /** 0-based argmax over logit expressions, first index on ties
    * (np.argmax parity), as a long column. */
  def argmax(z2: Seq[Column]): Column = {
    val arr = array(z2: _*)
    (array_position(arr, array_max(arr)) - 1).cast("long")
  }

  /** Deterministic inverted-dropout factor for (row, epoch, unit):
    * keep-mask `xxhash64(rk, epoch, u) % 1000 >= round(1000p)` scaled
    * by 1/(1-p) on train rows; validation rows (`iv`) run at inference
    * semantics — keep-all, unscaled (Keras: dropout disabled in
    * evaluation). p = 0 short-circuits to keep-all with no hash in the
    * plan. Rounded threshold, not truncated: 1000 * 0.3 is 299.999...
    * in binary floating point, and truncation would drop at 299/1000
    * while rescaling by exactly 1/(1-0.3) — a systematic bias. Same
    * row + epoch + unit -> same mask on any executor, any retry, any
    * partitioning (the distributed-retry contract nondeterministic
    * rand() masks break). */
  def dropMask(iv: Column, rk: Column, epoch: Int, u: Int,
      p: Double): Column =
    if (p <= 0.0) lit(1.0)
    else when(iv, lit(1.0)).otherwise(
      when(pmod(xxhash64(rk, lit(epoch), lit(u)), lit(1000L)) >=
        lit(math.round(1000 * p).toInt), lit(1.0)).otherwise(lit(0.0)) *
        lit(1.0 / (1.0 - p)))

  /** Deterministic hold-out flag for early stopping: row lands in the
    * validation slice iff xxhash64(rowKey, salt) falls in the first
    * `valFrac` of the hash space. Content/key-hashed like every other
    * split in this engine (x6/x8): engine-portable, rerun-stable,
    * partitioning-invariant — a retried task sees the same split. */
  def valSplit(rowKey: Column, valFrac: Double = 0.2,
      salt: Long = 0x5eedL): Column =
    pmod(xxhash64(rowKey, lit(salt)), lit(1000L)) <
      lit(math.round(1000 * valFrac))

  /** [[valSplit]] on the engine-portable md5-affine family
    * ([[graft.functions.PortableHash]], seed index 17): row lands in
    * the validation slice iff `h(concat(keys, '#')) % 1000 <
    * round(1000*valFrac)`. Same contract (deterministic, rerun-stable,
    * partitioning-invariant), but ALSO replayable by an external
    * oracle — which is what lets q61_trainer_contract hash-check the
    * exact train/val row sets the ES trainers consume. Keys are cast
    * to string and '#'-joined, matching [[valSplitPortableSql]]. */
  def valSplitPortable(keys: Seq[Column], valFrac: Double = 0.2): Column =
    graft.functions.PortableHash.h(
      concat_ws("#", keys.map(_.cast("string")): _*), 17) %
      lit(1000L) < lit(math.round(1000 * valFrac))

  /** DuckDB replay of [[valSplitPortable]] over SQL expression texts. */
  def valSplitPortableSql(keys: Seq[String],
      valFrac: Double = 0.2): String = {
    val joined = keys.map(k => s"CAST($k AS VARCHAR)")
      .mkString("concat(", ", '#', ", ")")
    s"${graft.functions.PortableHash.hSql(joined, 17)} % 1000 < " +
      s"${math.round(1000 * valFrac)}"
  }

  /** First-order optimizer as O(params) DRIVER state — the missing
    * Keras `compile(optimizer=...)` semantic (round-13 verdict #1).
    * Gradients arrive as one flat array per step (the trainers'
    * per-epoch/per-batch aggregation already reduces to exactly that
    * row); the optimizer folds them into its moments and returns the
    * deltas to SUBTRACT from the flattened weights. Stateful: construct
    * ONE instance per fit. Nothing here touches the cluster — the
    * distribution story (one O(params) aggregation per step, weights as
    * broadcast/plan literals) is unchanged, which is why this closes
    * the last reference training semantic at zero plan cost. */
  trait Optimizer {
    def deltas(g: Array[Double]): Array[Double]
  }

  object Optimizer {
    /** Plain SGD: delta = lr * g — the trainers' historical step
      * ([[graft.ml.GdTrainer.applyStep]] parity, spec-pinned). */
    def sgd(lr: Double): Optimizer = new Optimizer {
      def deltas(g: Array[Double]): Array[Double] = g.map(_ * lr)
    }

    /** Adam (Kingma & Ba 2015, Algorithm 1) with bias correction — the
      * reference's actual optimizer on every model:
      * `Adam(learning_rate=0.001)` (`models/mlp_model.py:28-34`, same
      * in cnn/rnn/lstm; Keras defaults beta1=0.9, beta2=0.999,
      * eps=1e-7).
      *
      *   m_t = b1 m + (1-b1) g;  v_t = b2 v + (1-b2) g^2
      *   delta = lr * (m_t / (1-b1^t)) / (sqrt(v_t / (1-b2^t)) + eps)
      *
      * This is the paper form Keras documents (epsilon OUTSIDE the
      * bias-corrected sqrt); Keras's fused `alpha_t` variant differs
      * only in epsilon's scaling by sqrt(1-b2^t) — immaterial at 1e-7
      * and irrelevant to the rows-only float trajectories. AdamSpec
      * pins the first steps against hand-computed values, bias
      * correction included. Moments are two O(params) driver arrays. */
    def adam(lr: Double = 0.001, beta1: Double = 0.9,
        beta2: Double = 0.999, eps: Double = 1e-7): Optimizer =
      new Optimizer {
        private var t = 0
        private var m: Array[Double] = _
        private var v: Array[Double] = _
        def deltas(g: Array[Double]): Array[Double] = {
          if (m == null) {
            m = new Array[Double](g.length); v = new Array[Double](g.length)
          }
          require(m.length == g.length,
            "Adam: gradient size changed mid-fit")
          t += 1
          val bc1 = 1.0 - math.pow(beta1, t)
          val bc2 = 1.0 - math.pow(beta2, t)
          val out = new Array[Double](g.length)
          var i = 0
          while (i < g.length) {
            m(i) = beta1 * m(i) + (1.0 - beta1) * g(i)
            v(i) = beta2 * v(i) + (1.0 - beta2) * g(i) * g(i)
            out(i) = lr * (m(i) / bc1) / (math.sqrt(v(i) / bc2) + eps)
            i += 1
          }
          out
        }
      }
  }

  /** Generic structural algebra over the trainers' weight/gradient
    * case classes — every family's parameters are a tree of
    * `Seq[Double]` tensors and nested case classes (GateW etc.), and
    * every grads class is its weights class plus a trailing `loss`
    * field. One depth-first walker defines BOTH the flatten order and
    * the rebuild order, so the per-family hand-written
    * flatten/unflatten pairs (and their silent field-order bugs) are
    * impossible by construction; OptimizerStepSpec still pins
    * applyOpt(sgd(lr)) == the historical applyStep bit-for-bit on
    * every family. Driver-side only, O(params). */
  object Tensors {
    /** Flatten `grads` following `shape`'s structure (the weights
      * template drives the walk, so grads' trailing loss field is
      * never touched). */
    def flatLike(shape: Any, grads: Any): Array[Double] = {
      val buf = Array.newBuilder[Double]
      def walk(s: Any, g: Any): Unit = (s, g) match {
        case (_: Double, gd: Double) => buf += gd
        case (ss: Seq[_], gs: Seq[_]) =>
          require(ss.length == gs.length, "tensor shape mismatch")
          ss.lazyZip(gs).foreach(walk)
        case (sm: Map[_, _], gm: Map[_, _]) =>
          // gate maps (Lstm2's l1/l2): key-matched, walked in SORTED
          // key order so flatten and rebuild agree regardless of map
          // insertion order
          val smA = sm.asInstanceOf[Map[Any, Any]]
          val gmA = gm.asInstanceOf[Map[Any, Any]]
          require(smA.keySet == gmA.keySet, "gate-map key mismatch")
          smA.keys.toSeq.sortBy(_.toString)
            .foreach(k => walk(smA(k), gmA(k)))
        case (sp: Product, gp: Product) =>
          require(gp.productArity >= sp.productArity,
            s"gradient product ${gp.getClass.getSimpleName} narrower " +
              s"than weights ${sp.getClass.getSimpleName}")
          var i = 0
          while (i < sp.productArity) {
            walk(sp.productElement(i), gp.productElement(i)); i += 1
          }
        case other => throw new IllegalArgumentException(
          s"unsupported tensor node: $other")
      }
      walk(shape, grads)
      buf.result()
    }

    /** Rebuild `w` with every Double coordinate replaced by
      * `value - dd(k)`, deltas consumed in [[flatLike]]'s depth-first
      * order. Case classes are reconstructed through their primary
      * constructor (arity-matched), so shape `require`s re-validate. */
    def subDeltas[W0](w: W0, dd: Array[Double]): W0 = {
      // the delta count is checked DURING the rebuild (too short: at the
      // first missing delta; too long: after the walk), so a wrong-size
      // array fails with a clear message, not an index error, without a
      // second walk of the tree on every step; only the failure message
      // walks `w` to count its coordinates
      def countMsg = s"optimizer produced ${dd.length} deltas for a " +
        s"${flatLike(w, w).length}-coordinate weights tree"
      var i = -1
      def rec(a: Any): Any = a match {
        case d: Double =>
          i += 1
          require(i < dd.length, countMsg)
          d - dd(i)
        case s: Seq[_] => s.map(rec)
        case m: Map[_, _] =>
          // same SORTED key order as flatLike's walk
          val mA = m.asInstanceOf[Map[Any, Any]]
          mA.keys.toSeq.sortBy(_.toString).map(k => k -> rec(mA(k))).toMap
        case p: Product =>
          val args = p.productIterator.map(rec)
            .map(_.asInstanceOf[AnyRef]).toArray
          val ctor = p.getClass.getConstructors
            .find(_.getParameterCount == p.productArity)
            .getOrElse(throw new IllegalStateException(
              s"no arity-${p.productArity} constructor on " +
                p.getClass.getName))
          ctor.newInstance(args: _*)
        case other => throw new IllegalArgumentException(
          s"unsupported tensor node: $other")
      }
      val out = rec(w).asInstanceOf[W0]
      require(i + 1 == dd.length, countMsg)
      out
    }

    /** One optimizer step for ANY trainer family: flatten the mean
      * gradients along the weights' structure, feed them through `opt`
      * (which holds moment state), subtract the deltas in place. */
    def applyOpt[W0](w: W0, grads: Any, opt: Optimizer): W0 =
      subDeltas(w, opt.deltas(flatLike(w, grads)))
  }

  /** Deterministic mini-batch index in [0, nBatches) for (row, epoch) —
    * the Keras `fit(batch_size=...)` membership semantic
    * (`models/mlp_model.py:10`: batch_size=64, shuffle=True re-draws
    * batches every epoch) as the dropout-mask move: a HASH of (row
    * keys, epoch), so membership is bit-reproducible under retries,
    * speculative tasks, and any partitioning, and re-shuffles every
    * epoch like Keras. On the md5-affine portable family (seed index
    * 18; the val split holds 17) rather than xxhash64 so DuckDB can
    * replay membership counts — q61b_batch_contract hash-gates exactly
    * that. Production swap at scale: xxhash64(keys..., epoch) %
    * nBatches is ~2.5x cheaper per row (the p6 md5-portability-tax
    * note) with identical semantics, minus the external oracle. */
  def batchOf(keys: Seq[Column], epoch: Int, nBatches: Int): Column =
    graft.functions.PortableHash.h(
      concat_ws("#",
        keys.map(_.cast("string")) :+ lit(epoch).cast("string"): _*), 18) %
      lit(nBatches.toLong)

  /** DuckDB replay of [[batchOf]]; `epoch` is any SQL expression text
    * (a literal or a column from an epoch axis). */
  def batchOfSql(keys: Seq[String], epoch: String, nBatches: Int): String = {
    val joined = (keys.map(k => s"CAST($k AS VARCHAR)") :+
      s"CAST($epoch AS VARCHAR)").mkString("concat(", ", '#', ", ")")
    s"(${graft.functions.PortableHash.hSql(joined, 18)} % $nBatches)"
  }

  /** One epoch of deterministic mini-batch passes for the ES loop: runs
    * `pass` once per batch over the batch's train rows, threading the
    * weights sequentially (the Keras per-batch update), and returns
    * (end-of-epoch weights, mean batch loss, epoch-start val loss).
    *
    * The validation slice rides ONLY the first batch pass — its weights
    * are the previous epoch's end, which is exactly the number
    * [[earlyStop]] attributes — so an epoch costs nBatches jobs total,
    * not nBatches + a val pass. Later batch passes see `!isVal &&
    * batch = b` (val rows filtered OUT, not flagged: a flagged-but-
    * present row would be averaged as train by a pass told isVal =
    * false). nBatches = 1 short-circuits to the historical full-batch
    * single pass with no filter in the plan.
    *
    * Scale note: each batch pass scans the source once, so an epoch
    * reads the input nBatches times — at 100 TB you cache the (already
    * projected, O(features)-wide) training frame once and keep nBatches
    * small; the reference's batch_size=64 is a single-node Keras
    * constant, not a distributed contract. Batch sizes here are
    * hash-uniform (~n/nBatches ±√n), not exact — same as every split
    * in this engine. Corollary: a batch CAN draw empty when nBatches
    * is comparable to the row count (P ≈ (1−1/nB)^n per batch-epoch;
    * astronomically small in any real regime — e.g. ~e⁻⁶⁴ at the
    * reference's mean batch size — but ~0.2% per draw at nB=10 over
    * 60 rows), and an empty draw fails fast in the trainer's
    * empty-input require rather than silently skipping an update —
    * keep nBatches ≪ n, unlike Keras partitioning which cannot draw
    * empty. */
  def batchedEpoch[W](df: DataFrame, isVal: Column,
      batchKeys: Seq[Column], nBatches: Int, epoch: Int, w0: W,
      evalOnly: Boolean = false)(
      pass: (DataFrame, Column, W) =>
        (W, Double, Option[Double])): (W, Double, Double) = {
    require(nBatches >= 1, "nBatches >= 1")
    require(nBatches == 1 || batchKeys.nonEmpty,
      "mini-batching needs batchKeys (the rows' identity columns)")
    // evalOnly (the earlyStop trailing pass, e = maxEpochs + 1): only
    // the FIRST batch pass is consumed — its val number — so batches
    // 1..n-1 would be nBatches-1 discarded full scans + optimizer
    // mutations on state that is about to be dropped. Run batch 0 only.
    val nRun = if (evalOnly) 1 else nBatches
    var w = w0
    var lossSum = 0.0
    var vl: Option[Double] = None
    var b = 0
    while (b < nRun) {
      val (dfb, ivb) =
        if (nBatches == 1) (df, isVal)
        else {
          val bp = batchOf(batchKeys, epoch, nBatches) === b
          if (b == 0) (df.filter(isVal || bp), isVal)
          else (df.filter(!isVal && bp), lit(false))
        }
      val (w2, loss, v) = pass(dfb, ivb, w)
      if (b == 0) vl = v
      w = w2
      lossSum += loss
      b += 1
    }
    (w, lossSum / nRun,
      vl.getOrElse(sys.error("batchedEpoch: empty validation slice")))
  }

  /** Fixed-epoch batched fit loop (the wide driver's [[fit]]): epochs ×
    * nBatches optimizer steps over row-local hash-batch predicate views
    * ([[batchOf]]), `step` called with (batch frame, weights, 1-based
    * epoch); nBatches = 1 short-circuits to the full-batch pass with no
    * filter in the plan. Returns per-epoch mean batch loss. Kept here
    * so batch semantics live in ONE place beside [[batchedEpoch]]. */
  def fitLoop[W](df: DataFrame, epochs: Int,
      batchKeys: Seq[Column], nBatches: Int, w0: W)(
      step: (DataFrame, W, Int) => (W, Double))
      : (W, Seq[Double]) = {
    require(nBatches == 1 || batchKeys.nonEmpty, "mini-batching needs keys")
    var w = w0
    val losses = (1 to epochs).map { e =>
      var lossSum = 0.0
      var b = 0
      while (b < nBatches) {
        val dfb = if (nBatches == 1) df else df.filter(
          batchOf(batchKeys, e, nBatches) === b)
        val (w2, loss) = step(dfb, w, e)
        w = w2
        lossSum += loss
        b += 1
      }
      lossSum / nBatches
    }
    (w, losses)
  }

  /** Outcome of [[earlyStop]]: weights restored to the best-val epoch,
    * per-epoch train losses (loss at start of epoch, the trainers'
    * existing convention), per-epoch END-of-epoch validation losses,
    * and the 1-based best/stopped epoch numbers. */
  final case class EsResult[W](weights: W, trainLosses: Seq[Double],
      valLosses: Seq[Double], bestEpoch: Int, stoppedEpoch: Int)

  /** Keras-parity EarlyStopping(monitor=val_loss, patience, min_delta=0,
    * restore_best_weights=True) as a generic driver loop — the
    * reference's actual stop condition on every model
    * (`models/mlp_model.py:67-71`).
    *
    * ZERO extra Spark jobs: `epochPass(w, e)` is the trainer's ONE
    * per-epoch aggregation, returning (grads-applied next weights,
    * train loss at w, VALIDATION loss at w). Keras monitors val loss at
    * the END of an epoch (post-update) — which equals the val loss the
    * NEXT epoch's pass computes at its start — so the loop simply
    * attributes pass e+1's val number to epoch e. One trailing pass
    * evaluates the final epoch; total passes = stoppedEpoch + 1, vs
    * stoppedEpoch train jobs + stoppedEpoch separate val jobs for the
    * naive wiring.
    *
    * Semantics (Keras loop, min mode, min_delta = 0): an epoch improves
    * iff its val loss is STRICTLY below the best so far; `wait` resets
    * on improvement, else increments; training stops when wait reaches
    * `patience` — so patience = 0 stops at the FIRST non-improving
    * epoch, exactly as Keras `EarlyStopping(patience=0)` does. Pass
    * `patience < 0` to disable the stop entirely (train all maxEpochs;
    * restore-best still applies). The returned weights are the END of
    * the best epoch's snapshot. Weight snapshots are O(params) driver
    * memory, only the best is retained.
    *
    * `evalPass` (optional): the TRAILING pass — the e = maxEpochs + 1
    * call whose ONLY consumed number is the final epoch's validation
    * loss (the returned next-weights and train loss are discarded by
    * the loop, see the consumption guards below) — may be served by a
    * val-only evaluator instead of a full gradient pass. A full
    * trailing pass computes forward + backward + gradient accumulation
    * over every TRAIN row and then throws all of it away; the val loss
    * it returns depends only on the val rows' forward arithmetic
    * (inference-semantics masks, keep-all), so a forward-only pass over
    * the val slice returns the bit-identical number at a small fraction
    * of the flops (measured on the priced reference-width fits: the
    * trailing pass was ~1/3 of each 2-epoch entry's wall). Training
    * epochs (e <= maxEpochs) always run `epochPass` — their val number
    * rides the NEXT epoch's pass exactly as before. */
  def earlyStop[W](w0: W, maxEpochs: Int, patience: Int,
      evalPass: Option[W => Double] = None)(
      epochPass: (W, Int) => (W, Double, Double)): EsResult[W] = {
    require(maxEpochs >= 1, "bad earlyStop params")
    var w = w0
    var bestW = w0
    var bestVal = Double.PositiveInfinity
    var bestEpoch = 0
    var wait = 0
    val trainLosses = Vector.newBuilder[Double]
    val valLosses = Vector.newBuilder[Double]
    var e = 1
    var stopped = 0
    while (stopped == 0 && e <= maxEpochs + 1) {
      val (next, trainLoss, valAtStart) =
        if (e > maxEpochs && evalPass.isDefined) (w, Double.NaN, evalPass.get(w))
        else epochPass(w, e)
      if (e >= 2) {
        // valAtStart is epoch e-1's end-of-epoch validation loss
        valLosses += valAtStart
        if (valAtStart < bestVal) {
          bestVal = valAtStart; bestW = w; bestEpoch = e - 1; wait = 0
        } else {
          wait += 1
          // Keras parity including patience=0: the first non-improving
          // epoch trips wait(1) >= patience(0) and training stops there.
          // Negative patience = stopping disabled (fixed-epoch training).
          if (patience >= 0 && wait >= patience) stopped = e - 1
        }
      }
      if (stopped == 0 && e <= maxEpochs) {
        trainLosses += trainLoss
        w = next
      }
      e += 1
    }
    if (stopped == 0) stopped = maxEpochs
    val vls = valLosses.result()
    EsResult(if (bestEpoch > 0) bestW else w,
      trainLosses.result().take(stopped), vls.take(stopped),
      if (bestEpoch > 0) bestEpoch else stopped, stopped)
  }

  // ---- the wide-path fit driver ----

  /** Typed row of the wide path: feature vector, int label, dropout row
    * key, val flag. */
  final case class Sample(x: Array[Double], y: Int, rk: Long, iv: Boolean)

  /** The typed-row projection every [[Kernel]] consumes, as an RDD — one
    * place so the (x, y, rk, iv) column contract cannot drift. */
  private def sampleRdd(df: DataFrame, xs: Seq[Column], label: Column,
      rowKey: Column, isVal: Column): RDD[Sample] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(
      array(xs.map(_.cast("double")): _*).as("x"),
      label.cast("int").as("y"), rowKey.cast("long").as("rk"),
      isVal.cast("boolean").as("iv")).as[Sample].rdd
  }

  /** Decode the typed rows ONCE and cache them for a fit's epoch loop,
    * instead of re-planning, re-codegen-ing and re-decoding the same
    * rows through a fresh DataFrame every pass (measured ~0.35-0.5
    * s/pass at sf0.1 vs ~0.1 s for a treeAggregate over the cached RDD).
    * Caching the INPUT of a single fit is the same contract as the
    * entries' `facts.persist()` — released before the fit returns. The
    * RDD inherits the projection's partitioning and per-partition row
    * order, so per-partition gradient sums are bit-identical to the
    * per-pass-DataFrame path. */
  private def withSamples[R](df: DataFrame, xs: Seq[Column],
      label: Column, rowKey: Column, isVal: Column)(
      body: RDD[Sample] => R): R = {
    val rdd = sampleRdd(df, xs, label, rowKey, isVal)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try body(rdd) finally { rdd.unpersist(blocking = false); () }
  }

  /** A [[Kernel]]'s weights packed for one pass at one sequence length:
    * flat/transposed arrays plus the gradient buffer layout. The buffer
    * holds `statsOff` gradient coordinates followed by the fixed stats
    * tail [train loss sum, train count, val loss sum, val count]. */
  trait Packed extends Serializable { def statsOff: Int }

  /** The per-row contract of one wide-path family (the reference-width
    * twin of a staged trainer; [[WideNet]] gives the representation
    * rationale). The kernel value carries the family's hyperparameters
    * (dropout rates, pooling), so every pass of one fit — the val-only
    * pass included — runs the same kernel. */
  trait Kernel[W, G] extends Serializable {
    type P <: Packed
    /** Dropout rates the kernel applies; the driver rejects any outside
      * [0, 1). */
    def drops: Seq[Double]
    /** Pack `w` for inputs of length `T`; fails when `T` does not fit
      * the architecture. */
    def pack(w: W, T: Int): P
    /** Add one row to `g`: a train row adds its gradients and stats
      * slots 0-1, a val row (inference semantics, keep-all masks) adds
      * only its loss to slots 2-3. */
    def accumulate(s: Sample, p: P, epoch: Int, g: Array[Double]): Unit
    /** The summed buffer as typed mean gradients over `n` train rows,
      * mean train loss in the trailing `loss` field. */
    def grads(p: P, g: Array[Double], n: Double): G
  }

  /** One pass of `k` over `rows`: weights broadcast once, one O(params)
    * treeAggregate, broadcast released. Returns the summed buffer. */
  private def sumPass[W, G](k: Kernel[W, G])(p: k.P, rows: RDD[Sample],
      epoch: Int): Array[Double] = {
    require(k.drops.forall(d => d >= 0.0 && d < 1.0), "dropout in [0, 1)")
    val bc = rows.sparkContext.broadcast(p)(ClassTag(p.getClass))
    try rows.treeAggregate(new Array[Double](p.statsOff + 4))(
      seqOp = (buf, s) => { k.accumulate(s, bc.value, epoch, buf); buf },
      combOp = (a, b) => {
        var i = 0
        while (i < a.length) { a(i) += b(i); i += 1 }
        a
      })
    finally bc.destroy()
  }

  /** Full pass: (mean train gradients, mean train loss, mean val loss or
    * None when the val slice is empty). */
  private def gradPass[W, G](k: Kernel[W, G], rows: RDD[Sample], T: Int,
      w: W, epoch: Int): (G, Double, Option[Double]) = {
    val p = k.pack(w, T)
    val g = sumPass(k)(p, rows, epoch)
    val so = p.statsOff
    val n = g(so + 1)
    require(n > 0, "empty training input")
    val nVal = g(so + 3)
    (k.grads(p, g, n), g(so) / n,
      if (nVal > 0) Some(g(so + 2) / nVal) else None)
  }

  /** Mean val loss over VAL rows only (see [[valLoss]]). */
  private def valPass[W, G](k: Kernel[W, G], rows: RDD[Sample], T: Int,
      w: W): Double = {
    val p = k.pack(w, T)
    val g = sumPass(k)(p, rows, epoch = 0)
    val nVal = g(p.statsOff + 3)
    require(nVal > 0, "empty validation slice")
    g(p.statsOff + 2) / nVal
  }

  /** One full-batch pass of `k` at `w` — the staged trainers'
    * `gradientsVal` contract on the treeAggregate path: mean TRAIN
    * gradients (loss included) + mean val loss (None when the `isVal`
    * slice is empty). One Spark job. */
  def gradientsVal[W, G](k: Kernel[W, G], df: DataFrame, xs: Seq[Column],
      label: Column, rowKey: Column, w: W, epoch: Int,
      isVal: Column): (G, Option[Double]) = {
    val (gr, _, vl) = gradPass(k, sampleRdd(df, xs, label, rowKey, isVal),
      xs.length, w, epoch)
    (gr, vl)
  }

  /** Mean validation loss at `w` over the val rows ALONE — the trailing
    * early-stop pass's only consumed number ([[earlyStop]]'s evalPass).
    * Forward-only: every kernel returns right after a val row's loss
    * tally, so the train rows' backward work is skipped. Bit-identical
    * to [[gradientsVal]]'s val output: the filter is narrow (same
    * partitions, same in-partition row order), val rows run inference
    * semantics (keep-all masks whatever the dropout), and the partial
    * sums combine in the same treeAggregate order.
    *
    * [[fitEs]] runs this with the FIT's own kernel, so the kernel keeps
    * the argument profile the epochs compiled hot: a val-only pass with
    * a never-seen dropout constant springs HotSpot's value/branch
    * speculation in the inlined kernel and deoptimizes it for the whole
    * pass (measured on the q75 shape: first val pass 1.9-4.0 s vs 0.3 s
    * steady; with the fit's dropout, 0.47 s). */
  def valLoss[W, G](k: Kernel[W, G], df: DataFrame, xs: Seq[Column],
      label: Column, rowKey: Column, w: W, isVal: Column): Double =
    valPass(k, sampleRdd(df.filter(isVal), xs, label, rowKey, lit(true)),
      xs.length, w)

  /** Fixed-epoch fit of `k` with optimizer `opt` (Adam for reference
    * parity, `Optimizer.sgd(lr)` for plain GD); per-epoch mean train
    * loss at the epoch's start weights. Full-batch runs every epoch
    * against ONE cached decode ([[withSamples]]); nBatches > 1 runs
    * [[fitLoop]]'s hash mini-batch views, which change every epoch and
    * so are decoded per batch. */
  def fit[W, G](k: Kernel[W, G], df: DataFrame, xs: Seq[Column],
      label: Column, rowKey: Column, w0: W, epochs: Int, opt: Optimizer,
      batchKeys: Seq[Column] = Nil,
      nBatches: Int = 1): (W, Seq[Double]) = {
    def step(rows: RDD[Sample], w: W, e: Int): (W, Double) = {
      val (gr, loss, _) = gradPass(k, rows, xs.length, w, e)
      (Tensors.applyOpt(w, gr, opt), loss)
    }
    if (nBatches == 1)
      withSamples(df, xs, label, rowKey, lit(false)) { rows =>
        fitLoop(df, epochs, Nil, 1, w0)((_, w, e) => step(rows, w, e))
      }
    else
      fitLoop(df, epochs, batchKeys, nBatches, w0) { (dfb, w, e) =>
        step(sampleRdd(dfb, xs, label, rowKey, lit(false)), w, e)
      }
  }

  /** [[fit]] under Keras EarlyStopping ([[earlyStop]]) monitored on the
    * `isVal` slice: every epoch is ONE gradient pass whose val number
    * rides along, and the trailing evaluation is a [[valLoss]] pass with
    * the fit's kernel. nBatches > 1 runs [[batchedEpoch]]'s hash
    * mini-batches (the val slice rides the first batch pass). */
  def fitEs[W, G](k: Kernel[W, G], df: DataFrame, xs: Seq[Column],
      label: Column, rowKey: Column, w0: W, maxEpochs: Int,
      opt: Optimizer, isVal: Column, patience: Int = 5,
      batchKeys: Seq[Column] = Nil, nBatches: Int = 1): EsResult[W] = {
    val T = xs.length
    if (nBatches == 1)
      withSamples(df, xs, label, rowKey, isVal) { rows =>
        val valRows = rows.filter(_.iv)
        earlyStop(w0, maxEpochs, patience,
            evalPass = Some((w: W) => valPass(k, valRows, T, w))) { (w, e) =>
          val (gr, loss, vl) = gradPass(k, rows, T, w, e)
          (Tensors.applyOpt(w, gr, opt), loss,
            vl.getOrElse(sys.error("fitEs: empty validation slice")))
        }
      }
    else
      earlyStop(w0, maxEpochs, patience, evalPass =
          Some((w: W) => valLoss(k, df, xs, label, rowKey, w, isVal))) {
        (w, e) =>
        batchedEpoch(df, isVal, batchKeys, nBatches, e, w,
            evalOnly = e > maxEpochs) { (dfb, ivb, wc) =>
          val (gr, loss, vl) = gradPass(k,
            sampleRdd(dfb, xs, label, rowKey, ivb), T, wc, e)
          (Tensors.applyOpt(wc, gr, opt), loss, vl)
        }
      }
  }
}
