package graft.ml

import java.lang.ref.WeakReference
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.ml.TrainerCommon.{Kernel, Optimizer, Sample}

/** Lifetime of the wide kernels' scratch: a gradient pass makes one
  * scratch per task, inside the task, and retains none, so a finished
  * fit leaves no kernel work arrays on the heap. An executor-thread
  * `ThreadLocal` would keep one scratch per thread and kernel family for
  * the life of the executor: 8,176 `double[]` (6.82 MB) of the live
  * heap after the `train` benchmark pass when the kernels kept them so.
  */
class WideScratchSpec extends AnyFunSuite {
  import WideScratchSpec._

  test("no graft.ml.Wide* class declares a ThreadLocal field") {
    val dir = new java.io.File(classOf[TrainerCommon.Packed]
      .getProtectionDomain.getCodeSource.getLocation.toURI)
    val classes = Option(new java.io.File(dir, "graft/ml").list()).toSeq
      .flatten.filter(n => n.startsWith("Wide") && n.endsWith(".class"))
      .map(n => "graft.ml." + n.stripSuffix(".class"))
    assert(classes.contains("graft.ml.WideLstm2$"), classes)
    val bad = for {
      c <- classes
      f <- Class.forName(c, false, getClass.getClassLoader).getDeclaredFields
      if classOf[ThreadLocal[_]].isAssignableFrom(f.getType)
    } yield s"$c.${f.getName}"
    assert(bad.isEmpty, s"ThreadLocal fields: ${bad.mkString(", ")}")
  }

  test("a fit makes one scratch per partition per pass and retains none") {
    val spark = graft.TestSpark.spark
    import spark.implicits._
    val parts = 3; val epochs = 2; val T = 4
    val df = spark.sparkContext.parallelize(0 until 24, parts).map { i =>
      (i.toLong, 0.1 * (i % 5), 0.2 - 0.05 * (i % 3), 0.3 * (i % 2),
        0.02 * i, i % 2)
    }.toDF("rk", "x0", "x1", "x2", "x3", "y")
    handed.clear()
    TrainerCommon.fit(Recording(WideRnn.Kernel(0.2)), df,
      (0 until T).map(t => col(s"x$t")), col("y"), col("rk"),
      RnnTrainer.init(units = 3, classes = 2, seed = 7L), epochs = epochs,
      opt = Optimizer.sgd(0.1))
    val refs = handed.asScala.toSeq
    assert(refs.size == parts * epochs,
      s"${refs.size} scratches for $parts partitions x $epochs passes")
    var live = refs.count(_.get != null)
    var tries = 0
    while (live > 0 && tries < 50) {
      System.gc(); Thread.sleep(100)
      live = refs.count(_.get != null); tries += 1
    }
    assert(live == 0, s"$live of ${refs.size} scratches still reachable")
  }
}

object WideScratchSpec {
  /** Every scratch [[Recording]] handed out, weakly held. Executor tasks
    * of the local test session run in this JVM, so they add here. */
  val handed = new ConcurrentLinkedQueue[WeakReference[AnyRef]]

  /** `inner`, recording a weak reference to each scratch it makes. */
  final case class Recording[W, G](inner: Kernel[W, G])
      extends Kernel[W, G] {
    type P = inner.P
    type S = inner.S
    def drops: Seq[Double] = inner.drops
    def pack(w: W, T: Int): P = inner.pack(w, T)
    def scratch(p: P): S = {
      val sc = inner.scratch(p)
      handed.add(new WeakReference[AnyRef](sc))
      sc
    }
    def accumulate(s: Sample, p: P, sc: S, epoch: Int,
        g: Array[Double]): Unit = inner.accumulate(s, p, sc, epoch, g)
    def grads(p: P, g: Array[Double], n: Double): G = inner.grads(p, g, n)
  }
}
