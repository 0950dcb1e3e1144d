package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.{GraftSession, SparkEntry}
import graft.queries.Registry

/** One benchmark run in a fresh JVM: set up the session several times,
  * execute one cold pass over the workload, check the outputs outside the
  * timer and write a result file. `perfbench/run.py` builds, launches and
  * judges this; see README.md for the metrics.
  *
  * Usage: `perfbench.Main --workload <w> --seed <n> --trace <0|1>
  *   --data <dir> --work <dir> --out <file> [--spans <file>] [--full]
  *   [--ops a,b,...]`
  * or `perfbench.Main --dump-oracle <file>`.
  */
object Main {
  val Cpus = 4
  val Setups = 3

  final case class Args(workload: String, seed: Long, trace: Boolean,
      data: String, work: String, out: String, spans: String, full: Boolean,
      ops: Option[Seq[String]])

  /** One operation of the pass: a registry entry or a streaming query. */
  final case class Op(name: String, group: String, startMs: Long,
      buildS: Double, execS: Double, rows: Long, error: Option[String]) {
    def wallS: Double = buildS + execS
  }

  /** An output the run leaves for run.py to check against the DuckDB
    * digests: `dir` holds the collected rows of `name` as parquet. */
  final case class Dump(name: String, dir: String, oracleSha: String)

  /** A finished pass: its operations, the latencies its percentiles are
    * taken over, and the output check that runs outside the timer. */
  trait Pass {
    def ops: Seq[Op]
    def latenciesS: Seq[Double]
    /** (operation -> why it failed, outputs left for run.py) */
    def check(spark: SparkSession, dir: String): (Seq[(String, String)], Seq[Dump])
    /** Per-layer metrics the pass measures itself (traced runs only). */
    def layers(passS: Double): Map[String, Double] = Map.empty
    /** Drop what the pass leaves loaded but no user keeps alive, before
      * the live heap is read. */
    def release(): Unit = ()
  }

  def main(argv: Array[String]): Unit = {
    val kv = argv.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    if (kv.contains("dump-oracle")) {
      Results.write(kv("dump-oracle"), SparkEntry.oracleSql)
      return
    }
    val a = Args(kv("workload"), kv("seed").toLong, kv("trace") == "1",
      kv("data"), kv("work"), kv("out"), kv.getOrElse("spans", ""),
      argv.contains("--full"),
      kv.get("ops").map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq))
    require(Workloads.all.contains(a.workload),
      s"unknown workload ${a.workload}")
    run(a)
  }

  private def newSession(a: Args): SparkSession = {
    val s = GraftSession.dataSizedLocalConf(
      GraftSession.configure(SparkSession.builder()
        .master(s"local[$Cpus]").appName("perfbench")
        .config("spark.local.dir", s"${a.work}/spark-local")
        .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")),
      a.data, Cpus).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Session creation, the workload's input tables and one trivial job. */
  private def setUp(a: Args): SparkSession = {
    val s = newSession(a)
    Inputs.tablesOf(a.workload).foreach(graft.sources.Tables.load(s, a.data, _))
    s.range(1).collect()
    s
  }

  def run(a: Args): Unit = {
    val envStart = Env.snapshot()
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    var spark = setUp(a)
    val setupS = scala.collection.mutable.ArrayBuffer(
      (System.currentTimeMillis() - jvmStart) / 1e3)
    // the stream's landing files are inputs made from the seed, written
    // once and outside the set-up timer
    val landing =
      if (a.workload == Workloads.Stream)
        Some(Inputs.writeLanding(spark, a.data, s"${a.work}/landing", a.seed))
      else None
    for (_ <- 2 to Setups) {
      val t0 = System.nanoTime()
      spark.stop()
      spark = setUp(a)
      setupS += (System.nanoTime() - t0) / 1e9
    }

    // The JVM-wide first-use costs of Spark's scan, join, aggregate,
    // window and codegen paths are paid once here, outside the pass,
    // instead of by whichever operation the seed puts first.
    val warmUpS = {
      val t0 = System.nanoTime()
      Inputs.warmUp(Inputs.tablesOf(a.workload)
        .map(t => t -> graft.sources.Tables.load(spark, a.data, t)).toMap)
      (System.nanoTime() - t0) / 1e9
    }

    val trace = if (a.trace) Some(new Trace(spark, Cpus)) else None
    trace.foreach(_.start())
    val passStart = System.nanoTime()
    val pass: Pass = a.workload match {
      case Workloads.Stream =>
        StreamPass.run(spark, a.data, landing.get, a.work, trace)
      // an explicit list runs as given; a workload runs in seeded order
      case w => RegistryPass.run(spark, a.data, a.ops.getOrElse(
        Workloads.order(Workloads.members(w, a.full), Workloads.groupOf,
          a.seed)), trace)
    }
    val passS = (System.nanoTime() - passStart) / 1e9
    val ops = pass.ops
    val layers = trace.map(_.finish(ops, passS) ++ pass.layers(passS) +
      ("setup.first_s" -> setupS.head) + ("setup.warm_up_s" -> warmUpS))
      .getOrElse(Map.empty)

    // live heap after a full GC, outside the pass timer; queued listener
    // events and the context cleaner's pending removals hold references
    // for a while after the pass, so both settle first
    pass.release()
    org.apache.spark.sql.graft.SessionInterop.drainListeners(spark, 30000L)
    System.gc()
    Thread.sleep(300)
    System.gc()
    val liveHeapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
      .getUsed / 1048576.0

    val (failures, dumps) = pass.check(spark, s"${a.work}/outputs")
    trace.foreach(_.writeSpans(a.spans))

    val stamp = Map(
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
      "full" -> a.full, "cpus" -> Cpus,
      "host_cpus" -> Runtime.getRuntime.availableProcessors,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "aqe" -> spark.conf.get("spark.sql.adaptive.enabled"),
      "jdk" -> System.getProperty("java.version"),
      "spark" -> spark.version,
      "data" -> Paths.get(a.data).getFileName.toString,
      "env_start" -> envStart, "env_end" -> Env.snapshot())
    val endToEnd = Map(
      "setup_s" -> Stats.median(setupS.toSeq),
      "pass_s" -> passS,
      "op_geomean_s" -> Stats.geomean(pass.latenciesS),
      "op_p50_s" -> Stats.quantile(pass.latenciesS, 0.5),
      "op_p80_s" -> Stats.quantile(pass.latenciesS, 0.8),
      "live_heap_mb" -> liveHeapMb)
    Results.write(a.out, Map(
      "stamp" -> stamp,
      "end_to_end" -> endToEnd,
      "per_layer" -> layers,
      "setup_runs_s" -> setupS.toSeq,
      "warm_up_s" -> warmUpS,
      "attempted" -> ops.size,
      "failures" -> failures.toMap,
      "dumps" -> dumps.map(d => Map("name" -> d.name, "dir" -> d.dir,
        "oracle_sha" -> d.oracleSha)),
      "ops" -> ops.map(o => Map("name" -> o.name, "start_ms" -> o.startMs,
        "build_s" -> o.buildS, "exec_s" -> o.execS, "rows" -> o.rows,
        "error" -> o.error.orNull))))
    spark.stop()
  }
}

/** The registry workloads' pass: entries one at a time in the given
  * order, each built and collected under its own job group. */
object RegistryPass {
  final case class Result(ops: Seq[Main.Op],
      outputs: Map[String, (StructType, Array[Row])]) extends Main.Pass {
    def latenciesS: Seq[Double] = ops.map(_.wallS)
    def check(spark: SparkSession, dir: String) =
      checkAndDump(spark, ops, outputs, dir)
  }

  def run(spark: SparkSession, data: String, ordered: Seq[String],
      trace: Option[Trace]): Result = {
    val byName = Registry.all.map(e => e.name -> e).toMap
    val groupOf = Workloads.groupOf
    val keep = Workloads.keepCacheAfter(ordered, groupOf)
    val outputs = Map.newBuilder[String, (StructType, Array[Row])]
    val ops = ordered.zip(keep).zipWithIndex.map { case ((name, keepCache), i) =>
      val group = s"op$i:$name"
      trace.foreach(_.opStarting(group, groupOf.get(name)))
      spark.sparkContext.setJobGroup(group, name)
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      var t1 = t0
      var rows = -1L
      val error = try {
        val entry = byName.getOrElse(name,
          throw new NoSuchElementException(s"$name is not in the registry"))
        val df = entry.run(spark, data)
        t1 = System.nanoTime()
        val got = df.collect()
        rows = got.length
        outputs += name -> (df.schema, got)
        None
      } catch {
        case e: Throwable =>
          Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
      } finally {
        spark.sparkContext.clearJobGroup()
        if (!keepCache) spark.catalog.clearCache()
      }
      val t2 = System.nanoTime()
      if (t1 == t0) t1 = t2
      Main.Op(name, group, startMs, (t1 - t0) / 1e9, (t2 - t1) / 1e9, rows,
        error)
    }
    Result(ops, outputs.result())
  }

  /** Rows-only entries must be non-empty (their divergence self-gate
    * passed); oracle-backed entries are dumped as parquet for run.py to
    * digest against the DuckDB expectations. */
  def checkAndDump(spark: SparkSession, ops: Seq[Main.Op],
      outputs: Map[String, (StructType, Array[Row])], dir: String)
      : (Seq[(String, String)], Seq[Main.Dump]) = {
    val oracle = SparkEntry.oracleSql
    val failures = Seq.newBuilder[(String, String)]
    val toDump = Seq.newBuilder[(String, StructType, Array[Row], String)]
    ops.foreach { op =>
      (op.error, outputs.get(op.name), oracle.get(op.name)) match {
        case (Some(e), _, _) => failures += op.name -> e
        case (None, Some((_, rows)), None) =>
          if (rows.isEmpty) failures += op.name -> "rows-only entry returned 0 rows"
        case (None, Some((schema, rows)), Some(sql)) =>
          toDump += ((op.name, schema, rows, sql))
        case (None, None, _) => failures += op.name -> "no output collected"
      }
    }
    // small single-task writes, four at a time
    val pool = java.util.concurrent.Executors.newFixedThreadPool(Main.Cpus)
    val dumps = try toDump.result().map { case (name, schema, rows, sql) =>
      pool.submit(() => {
        val out = s"$dir/$name"
        spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
          .write.mode("overwrite").parquet(out)
        Main.Dump(name, out, Results.sha256(sql))
      })
    }.map(_.get()) finally pool.shutdown()
    (failures.result(), dumps)
  }
}

/** Inputs a run reads besides the fixture tables. */
object Inputs {
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.expressions.Window
  import org.apache.spark.sql.functions._

  /** Over the fact tables a scan, a shuffle join, a broadcast join, a
    * hash aggregate, a window and a sort. */
  def warmUp(tables: Map[String, DataFrame]): Unit =
    (tables.get("lineitem"), tables.get("orders")) match {
      case (Some(li), Some(o)) =>
        li.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(tables("nation")), col("o_custkey") % 25 === col("n_nationkey"))
          .groupBy("o_orderpriority", "n_regionkey")
          .agg(sum("l_extendedprice").as("rev"), count(lit(1)).as("n"))
          .withColumn("r", rank().over(Window.partitionBy("n_regionkey")
            .orderBy(col("rev").desc)))
          .orderBy("n_regionkey", "r").collect()
      case _ =>
        val ev = tables("events")
        ev.groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(sum("value")).orderBy("window").collect()
    }

  def tablesOf(workload: String): Seq[String] = workload match {
    case Workloads.Stream => Seq("events")
    case _ => Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
  }

  val LandingFiles = 4

  /** Split `events`, in `ts` order, into [[LandingFiles]] parquet files at
    * seeded boundaries, with increasing modification times so the file
    * source reads them in event-time order and no row arrives late. */
  def writeLanding(spark: SparkSession, data: String, dir: String,
      seed: Long): String = {
    val ev = graft.sources.Tables.load(spark, data, "events")
    val rows = ev.orderBy("ts", "event_id").collect()
    val rnd = new scala.util.Random(seed)
    val cuts = (rnd.shuffle((1 until rows.length).toVector)
      .take(LandingFiles - 1).sorted :+ rows.length).toArray
    val chunkOf = new Array[Int](rows.length)
    var c = 0
    rows.indices.foreach { i => while (i >= cuts(c)) c += 1; chunkOf(i) = c }
    val keyed = spark.sparkContext.parallelize(
      rows.indices.map(i => (chunkOf(i), rows(i))), 1)
      .partitionBy(new org.apache.spark.HashPartitioner(LandingFiles))
      .values
    spark.createDataFrame(keyed, ev.schema).sortWithinPartitions("ts")
      .write.mode("overwrite").parquet(dir)
    val files = Files.list(Paths.get(dir)).iterator().asScala
      .filter(p => p.getFileName.toString.startsWith("part-"))
      .toSeq.sortBy(_.getFileName.toString)
    require(files.size == LandingFiles,
      s"expected $LandingFiles landing files, found ${files.size}")
    val base = System.currentTimeMillis() - 3600000L
    files.zipWithIndex.foreach { case (p, i) =>
      Files.setLastModifiedTime(p,
        java.nio.file.attribute.FileTime.fromMillis(base + i * 1000L))
    }
    dir
  }
}

/** Host facts at the start and the end of a run. */
object Env {
  def snapshot(): Map[String, Any] = {
    val load = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
    val availMb = try {
      Files.readAllLines(Paths.get("/proc/meminfo")).asScala
        .find(_.startsWith("MemAvailable"))
        .map(_.replaceAll("[^0-9]", "").toLong / 1024).getOrElse(-1L)
    } catch { case _: Throwable => -1L }
    Map("load1" -> load, "mem_avail_mb" -> availMb,
      "time_ms" -> System.currentTimeMillis())
  }
}

object Stats {
  /** Linear-interpolated quantile (numpy's default); 0 for no values. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Geometric mean of positive values; 0 for no values. */
  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(math.log).sum / xs.size)
}

/** JSON result files, written with Spark's bundled Jackson. */
object Results {
  private val mapper = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    m.registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    m
  }

  def write(path: String, value: Any): Unit = {
    Files.createDirectories(Paths.get(path).toAbsolutePath.getParent)
    Files.writeString(Paths.get(path),
      mapper.writerWithDefaultPrettyPrinter().writeValueAsString(value))
  }

  def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
}
