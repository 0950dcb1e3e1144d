package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ml.{Mlp3Trainer, RnnTrainer, TrainerCommon, WideMlp3,
  WideRnn}
import graft.ml.TrainerCommon.Optimizer

/** Degenerate inputs, failure paths and the resource contract of the
  * wide-path fit driver ([[graft.ml.TrainerCommon.fit]] /
  * [[graft.ml.TrainerCommon.fitEs]]). Every case runs through one dense
  * kernel (WideMlp3 at one hidden layer) and one recurrent kernel
  * (WideRnn): the checks live in the driver, once, not per family.
  */
class WideFitSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val T = 4
  private lazy val df = (0 until 24).map { i =>
    (i.toLong, 0.1 * (i % 5), 0.2 - 0.05 * (i % 3), 0.3 * (i % 2),
      0.02 * i, i % 2)
  }.toDF("rk", "x0", "x1", "x2", "x3", "y")
  private val xs = (0 until T).map(t => col(s"x$t"))
  private val isVal = col("rk") % 4 === 0

  /** One kernel family with its start weights, behind a W-free face. */
  private abstract class Family(val name: String) {
    def fit(d: DataFrame, p: Double): Unit
    def fitEs(d: DataFrame, iv: Column, p: Double,
        nBatches: Int = 1): TrainerCommon.EsResult[_]
  }
  private def family[W, G](name: String,
      k: Double => TrainerCommon.Kernel[W, G], w0: W): Family =
    new Family(name) {
      def fit(d: DataFrame, p: Double): Unit = {
        TrainerCommon.fit(k(p), d, xs, col("y"), col("rk"), w0,
          epochs = 2, opt = Optimizer.sgd(0.1))
        ()
      }
      def fitEs(d: DataFrame, iv: Column, p: Double,
          nBatches: Int): TrainerCommon.EsResult[_] =
        TrainerCommon.fitEs(k(p), d, xs, col("y"), col("rk"), w0,
          maxEpochs = 3, opt = Optimizer.sgd(0.1), isVal = iv,
          patience = 5, batchKeys = Seq(col("rk")), nBatches = nBatches)
    }
  private lazy val families = Seq(
    family("dense", p => WideMlp3.Kernel(Seq(p)),
      Mlp3Trainer.initOneHidden(T, 3, 2, seed = 5L)),
    family("recurrent", p => WideRnn.Kernel(p),
      RnnTrainer.init(units = 3, classes = 2, seed = 7L)))

  private def failsWith(what: String, msg: String)(body: => Any): Unit = {
    val e = intercept[RuntimeException](body)
    assert(e.getMessage.contains(msg), s"$what: ${e.getMessage}")
  }

  test("an all-validation frame and a zero-row frame fail with " +
      "'empty training input'") {
    val empty = df.filter(lit(false))
    for (f <- families) {
      failsWith(s"${f.name} fit, zero rows", "empty training input")(
        f.fit(empty, 0.0))
      failsWith(s"${f.name} fitEs, zero rows", "empty training input")(
        f.fitEs(empty, isVal, 0.0))
      failsWith(s"${f.name} fitEs, all val", "empty training input")(
        f.fitEs(df, lit(true), 0.0))
      failsWith(s"${f.name} batched fitEs, all val",
        "empty training input")(f.fitEs(df, lit(true), 0.0, nBatches = 2))
    }
  }

  test("fitEs over a frame with no validation rows fails with " +
      "'empty validation slice'") {
    for (f <- families) {
      failsWith(s"${f.name} fitEs", "empty validation slice")(
        f.fitEs(df, lit(false), 0.0))
      failsWith(s"${f.name} batched fitEs", "empty validation slice")(
        f.fitEs(df, lit(false), 0.0, nBatches = 2))
    }
  }

  /** Distinct raw-bit buffers over 30 gradientsVal passes of one
    * WideMlp3 kernel over a cached `parts`-partition frame. */
  private def distinctBuffers(parts: Int): Int = {
    val frame = (0 until 400).map { i =>
      (i.toLong, 0.01 * (i % 97), 0.5 - 0.003 * (i % 61),
        0.02 * (i % 13), 0.1 * math.sin(i), (i / 3) % 2)
    }.toDF("rk", "x0", "x1", "x2", "x3", "y").repartition(parts).cache()
    val w = Mlp3Trainer.init(T, Seq(32, 32), 2, seed = 3L)
    val k = WideMlp3.Kernel(Seq(0.3, 0.0))
    def bits(): Seq[Long] = {
      val (g, vl) = TrainerCommon.gradientsVal(k, frame, xs, col("y"),
        col("rk"), w, epoch = 1, isVal)
      (g.ws.flatMap(_.flatten) ++ g.bs.flatten ++ Seq(g.loss, vl.get))
        .map(java.lang.Double.doubleToRawLongBits)
    }
    try {
      assert(frame.rdd.getNumPartitions == parts && frame.count() == 400)
      Seq.fill(30)(bits()).distinct.length
    } finally frame.unpersist()
  }

  test("30 passes over a cached 4-partition frame give one buffer") {
    // 4 partials reach the merge: summed in the order the tasks finish,
    // the low bits of a coordinate vary from pass to pass
    val n = distinctBuffers(4)
    assert(n == 1, s"$n distinct buffers over 30 passes")
  }

  test("30 passes over a cached 9-partition frame give one buffer " +
      "(one merge level on the executors)") {
    val n = distinctBuffers(9)
    assert(n == 1, s"$n distinct buffers over 30 passes")
  }

  test("dropout 1.0 is rejected") {
    for (f <- families) {
      failsWith(s"${f.name} fit", "dropout in [0, 1)")(f.fit(df, 1.0))
      failsWith(s"${f.name} fitEs", "dropout in [0, 1)")(
        f.fitEs(df, isVal, 1.0))
    }
  }

  test("a full-batch fitEs that stops at epoch E runs E + 1 jobs and " +
      "releases its cached sample RDD") {
    val sc = spark.sparkContext
    for (f <- families) {
      val group = s"wide-fit-spec-${f.name}"
      val marker = s"$group-marker"
      val jobs = new AtomicInteger
      val readsCache = new AtomicBoolean
      val flushed = new CountDownLatch(1)
      def groupOf(p: java.util.Properties) =
        Option(p).map(_.getProperty("spark.jobGroup.id")).orNull
      val jobGroups = new java.util.concurrent.ConcurrentHashMap[Int, String]
      val listener = new SparkListener {
        override def onJobStart(js: SparkListenerJobStart): Unit = {
          val g = groupOf(js.properties)
          if (g != null) jobGroups.put(js.jobId, g)
          if (g == group) jobs.incrementAndGet()
        }
        override def onStageSubmitted(
            ss: SparkListenerStageSubmitted): Unit =
          if (groupOf(ss.properties) == group &&
            ss.stageInfo.rddInfos.exists(_.storageLevel.isValid))
            readsCache.set(true)
        override def onJobEnd(je: SparkListenerJobEnd): Unit =
          if (jobGroups.get(je.jobId) == marker) flushed.countDown()
      }
      val before = sc.getPersistentRDDs.keySet
      sc.addSparkListener(listener)
      val es =
        try {
          sc.setJobGroup(group, "WideFitSpec job count")
          val r = try f.fitEs(df, isVal, 0.2) finally sc.clearJobGroup()
          // events reach a listener in order: once the marker job's end
          // arrives, every job start of the fit has been counted
          sc.setJobGroup(marker, "WideFitSpec listener flush")
          try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
          assert(flushed.await(60, TimeUnit.SECONDS), "listener flush")
          r
        } finally sc.removeSparkListener(listener)
      assert(es.stoppedEpoch == 3, s"${f.name}: patience 5 runs all epochs")
      assert(jobs.get == es.stoppedEpoch + 1,
        s"${f.name}: ${jobs.get} jobs for ${es.stoppedEpoch} epochs")
      assert(readsCache.get, s"${f.name}: passes should read the cache")
      assert((sc.getPersistentRDDs.keySet -- before).isEmpty,
        s"${f.name}: cached sample RDD not released")
    }
  }
}
