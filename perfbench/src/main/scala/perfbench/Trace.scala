package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's instruments, attached only with `--trace 1`: a Spark
  * listener (jobs, stages, tasks, cached blocks), a query-execution
  * listener (Catalyst phase times), Spark's codegen counters and the JVM's
  * MXBeans. Each operation runs under its own job group (a streaming query
  * under its run id), which keys its jobs, stages and tasks. */
final class Trace(spark: SparkSession, cpus: Int) {
  import Trace.Job
  private final class Stage(val id: Int, val attempt: Int) {
    var job = -1
    var submit = 0L
    var done = 0L
    var tasks, retried = 0L
    var waitMs, cpuNs, runMs, gcMs, resultBytes = 0L
    var shuffleWrite, shuffleRead, fetchWaitMs, spill = 0L
    var inBytes, inRows, outBytes = 0L
  }

  private val lock = new Object
  /** operation job group -> its sharedInput group */
  private val ops = mutable.LinkedHashMap.empty[String, Option[String]]
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stages = mutable.LinkedHashMap.empty[(Int, Int), Stage]
  private val blockMem = mutable.HashMap.empty[String, Long]
  private var cacheBytes, cachePeak = 0L
  private var phases = Vector.empty[(Long, Map[String, Long])]
  private var windowStartMs = 0L

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val g = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      jobs(e.jobId) = Job(e.jobId, g, e.time, e.time)
      e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      lock.synchronized {
        val s = stage(e.stageInfo.stageId, e.stageInfo.attemptNumber())
        s.submit = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      lock.synchronized {
        val s = stage(e.stageInfo.stageId, e.stageInfo.attemptNumber())
        s.done = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val s = stage(e.stageId, e.stageAttemptId)
      s.tasks += 1
      if (e.taskInfo.attemptNumber > 0) s.retried += 1
      if (s.submit > 0) s.waitMs += math.max(0L, e.taskInfo.launchTime - s.submit)
      val m = e.taskMetrics
      if (m != null) {
        s.cpuNs += m.executorCpuTime
        s.runMs += m.executorRunTime
        s.gcMs += m.jvmGCTime
        s.resultBytes += m.resultSize
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        s.inBytes += m.inputMetrics.bytesRead
        s.inRows += m.inputMetrics.recordsRead
        s.outBytes += m.outputMetrics.bytesWritten
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
      lock.synchronized {
        val b = e.blockUpdatedInfo
        if (b.blockId.isRDD) {
          val id = s"${b.blockManagerId.executorId}/${b.blockId.name}"
          val now = if (b.storageLevel.isValid) b.memSize else 0L
          cacheBytes += now - blockMem.getOrElse(id, 0L)
          blockMem(id) = now
          cachePeak = math.max(cachePeak, cacheBytes)
        }
      }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = lock.synchronized {
      val p = qe.tracker.phases
      val start = p.values.map(_.startTimeMs).minOption.getOrElse(0L)
      phases :+= start -> p.map { case (k, v) => k -> v.durationMs }
    }
  }

  private val jit = ManagementFactory.getCompilationMXBean
  private def gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
  private var base = Map.empty[String, Double]

  private def counters(): Map[String, Double] = Map(
    "jit_ms" -> jit.getTotalCompilationTime.toDouble,
    "gc_ms" -> gcBeans.map(_.getCollectionTime).sum.toDouble,
    "gc_count" -> gcBeans.map(_.getCollectionCount).sum.toDouble,
    "compile_ns" -> CodeGenerator.compileTime.toDouble,
    "compiles" -> CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble)

  private def stage(id: Int, attempt: Int): Stage =
    stages.getOrElseUpdate((id, attempt), new Stage(id, attempt))

  def start(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(planListener)
    heapPools.foreach(_.resetPeakUsage())
    base = counters()
    windowStartMs = System.currentTimeMillis()
  }

  def opStarting(group: String, shared: Option[String]): Unit =
    lock.synchronized { ops(group) = shared }

  private var ended = Seq.empty[Main.Op]

  /** Length of the union of [a, b) intervals, clipped to [lo, hi). */
  private def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total, reach = 0L
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        val from = math.max(a, reach)
        if (b > from) total += b - from
        reach = math.max(reach, b)
      }
    total
  }

  /** Every per-layer metric over the pass that just ended. */
  def finish(passOps: Seq[Main.Op], passS: Double): Map[String, Double] = {
    org.apache.spark.sql.graft.SessionInterop.drainListeners(spark, 30000L)
    val now = counters()
    def delta(k: String) = now(k) - base(k)
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(planListener)
    lock.synchronized {
      ended = passOps
      val ourJobs = jobs.values.filter(j => ops.contains(j.group)).toSeq
      val ourJobIds = ourJobs.map(_.id).toSet
      val ourStages = stages.values.filter(s =>
        stageJob.get(s.id).exists(ourJobIds)).toSeq
      ourStages.foreach(s => s.job = stageJob(s.id))
      def sumS(f: Stage => Long) = ourStages.map(f).sum.toDouble
      val jobsOf = ourJobs.groupBy(_.group)
      val classOf = Workloads.classOf
      val byName = passOps.map(o => o.name -> o).toMap
      def jobTimeMs(op: Main.Op, fromS: Double, toS: Double): Long =
        covered(jobsOf.getOrElse(op.group, Nil).map(j => (j.start, j.end)),
          op.startMs + (fromS * 1000).toLong, op.startMs + (toS * 1000).toLong)
      val trainers = passOps.filter(o => classOf.get(o.name).contains(Workloads.Train))
      val trainerGroups = trainers.map(_.group).toSet
      val tasks = sumS(_.tasks)
      val pass = phases.filter(_._1 >= windowStartMs).map(_._2)
      def phaseS(k: String) = pass.map(_.getOrElse(k, 0L)).sum / 1e3
      val fillPayers = passOps.filter(o => ops.get(o.group).exists(_.isDefined))
        .groupBy(o => ops(o.group).get).values.map(_.minBy(_.startMs))
      val generic = Map(
        "queries.build_s" -> passOps.map(_.buildS).sum,
        "queries.exec_s" -> passOps.map(_.execS).sum,
        "plan.analysis_s" -> phaseS("analysis"),
        "plan.optimizer_s" -> phaseS("optimization"),
        "plan.physical_s" -> phaseS("planning"),
        "codegen.compiles" -> delta("compiles"),
        "codegen.compile_s" -> delta("compile_ns") / 1e9,
        "codegen.method_bytes_max" ->
          CodegenMetrics.METRIC_GENERATED_METHOD_BYTECODE_SIZE.getSnapshot
            .getMax.toDouble,
        "jvm.jit_compile_s" -> delta("jit_ms") / 1e3,
        "jvm.gc_s" -> delta("gc_ms") / 1e3,
        "jvm.gc_count" -> delta("gc_count"),
        "jvm.heap_peak_mb" -> heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0,
        "sched.jobs" -> ourJobs.size.toDouble,
        "sched.stages" -> ourStages.size.toDouble,
        "sched.tasks" -> tasks,
        "sched.task_wait_s" -> sumS(_.waitMs) / 1e3,
        "sched.driver_gap_s" -> passOps.map(o =>
          o.wallS - jobTimeMs(o, 0, o.wallS) / 1e3).sum,
        "sched.task_retry_share" -> (if (tasks > 0) sumS(_.retried) / tasks else 0.0),
        "exec.task_cpu_s" -> sumS(_.cpuNs) / 1e9,
        "exec.task_run_s" -> sumS(_.runMs) / 1e3,
        "exec.task_gc_s" -> sumS(_.gcMs) / 1e3,
        "exec.cpu_util" -> sumS(_.cpuNs) / 1e9 / (passS * cpus),
        "shuffle.write_bytes" -> sumS(_.shuffleWrite),
        "shuffle.read_bytes" -> sumS(_.shuffleRead),
        "shuffle.fetch_wait_s" -> sumS(_.fetchWaitMs) / 1e3,
        "spill.bytes" -> sumS(_.spill),
        "cache.fill_s" -> fillPayers.map(_.wallS).sum,
        "cache.peak_mb" -> cachePeak / 1048576.0,
        "ml.result_bytes" -> ourStages.filter(s =>
          jobs.get(s.job).exists(j => trainerGroups(j.group)))
          .map(_.resultBytes).sum.toDouble,
        "ml.driver_s" -> trainers.map(o =>
          o.buildS - jobTimeMs(o, 0, o.buildS) / 1e3).sum,
        "ml.ref_fit_s" -> Trace.RefFits.flatMap(byName.get).map(_.wallS).sum,
        "sources.scan_bytes" -> sumS(_.inBytes),
        "sources.scan_rows" -> sumS(_.inRows),
        "sources.write_bytes" -> sumS(_.outBytes))
      val fits = Workloads.slices(Workloads.Train).map(n =>
        s"ml.fit_s.$n" -> byName.get(n).map(_.buildS).getOrElse(0.0)).toMap
      val streaming = Trace.StreamingKeys.map(_ -> 0.0).toMap
      streaming ++ generic ++ fits
    }
  }

  /** Spans (operation -> job -> stage), one JSON list. */
  def writeSpans(path: String): Unit = lock.synchronized {
    val opSpans = ended.map(o => Map("id" -> o.group, "name" -> o.name,
      "level" -> "operation", "parent" -> null, "op" -> o.group,
      "start_ms" -> o.startMs,
      "end_ms" -> (o.startMs + (o.wallS * 1000).toLong)))
    val jobSpans = jobs.values.filter(j => ops.contains(j.group)).map(j =>
      Map("id" -> s"job-${j.id}", "name" -> s"job ${j.id}", "level" -> "job",
        "parent" -> j.group, "op" -> j.group, "start_ms" -> j.start,
        "end_ms" -> j.end))
    val stageSpans = stages.values.filter(s => stageJob.get(s.id)
        .flatMap(jobs.get).exists(j => ops.contains(j.group))).map { s =>
      val j = jobs(stageJob(s.id))
      Map("id" -> s"stage-${s.id}.${s.attempt}", "name" -> s"stage ${s.id}",
        "level" -> "stage", "parent" -> s"job-${j.id}", "op" -> j.group,
        "start_ms" -> s.submit, "end_ms" -> s.done, "tasks" -> s.tasks)
    }
    Results.write(path, opSpans ++ jobSpans ++ stageSpans)
  }
}

object Trace {
  private final case class Job(id: Int, group: String, start: Long,
      var end: Long)
  val RefFits = Seq("q73_widenet_ref_train", "q74_mlp3_train",
    "q75_widernn2_ref_train", "q76_widelstm2_ref_train")
  val StreamingKeys = Seq("streaming.batches", "streaming.plan_ms",
    "streaming.add_batch_ms", "streaming.wal_commit_ms",
    "streaming.state_rows", "streaming.state_mem_bytes",
    "streaming.batch_p50_s", "streaming.batch_p90_s", "streaming.rows_per_s")
}
