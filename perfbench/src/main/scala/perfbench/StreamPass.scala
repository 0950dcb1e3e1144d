package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, StreamingQueryProgress, Trigger}

import graft.ml.RelationalML
import graft.sources.Tables
import graft.streaming.EventStreams

/** The stream workload's pass: three queries over the landing files, one
  * at a time, one file per micro-batch — the windowed aggregation (state
  * store), the watermark-bounded dedup (state store with eviction) and
  * the foreachBatch scoring sink (parquet writes). The percentiles are
  * taken over the micro-batches' `triggerExecution` times. */
object StreamPass {
  final case class Query(op: Main.Op, progress: Seq[StreamingQueryProgress],
      check: () => Option[String])

  final case class Result(queries: Seq[Query]) extends Main.Pass {
    def ops: Seq[Main.Op] = queries.map(_.op)
    def progress: Seq[StreamingQueryProgress] = queries.flatMap(_.progress)
    def latenciesS: Seq[Double] =
      progress.map(_.durationMs.get("triggerExecution").toDouble / 1e3)
    /** Stream output must equal the same transform over the batch frame. */
    def check(spark: SparkSession, dir: String) =
      (queries.flatMap(q => q.op.error.orElse(
        try q.check() catch { case e: Throwable => Some(s"check failed: $e") })
        .map(q.op.name -> _)),
        Seq.empty[Main.Dump])
    override def layers(passS: Double) = StreamPass.layers(this, passS)
    /** The stopped queries' state stores stay loaded until a maintenance
      * tick unloads them, so the heap would read whatever the tick's
      * timing left; unload them all. */
    override def release(): Unit =
      org.apache.spark.sql.execution.streaming.state.StateStore.stop()
  }

  def run(spark: SparkSession, data: String, landing: String, work: String,
      trace: Option[Trace]): Result = {
    val events = Tables.load(spark, data, "events")
    def query(name: String)(start: DataFrame => StreamingQuery)(
        check: => Option[String]): Query = {
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      var t1 = t0
      var q: StreamingQuery = null
      val error = try {
        q = start(EventStreams.fromParquetDir(spark, landing))
        trace.foreach(_.opStarting(q.runId.toString, None))
        t1 = System.nanoTime()
        q.processAllAvailable()
        q.exception.map(_.getMessage)
      } catch {
        case e: Throwable =>
          Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
      } finally if (q != null) q.stop()
      val t2 = System.nanoTime()
      if (t1 == t0) t1 = t2
      val progress = if (q == null) Seq.empty else q.recentProgress.toSeq
      val op = Main.Op(name, if (q == null) s"stream:$name" else q.runId.toString,
        startMs, (t1 - t0) / 1e9, (t2 - t1) / 1e9,
        progress.map(_.numInputRows).sum, error)
      Query(op, progress, () => check)
    }
    def memorySink(name: String, mode: OutputMode)(df: DataFrame) =
      df.writeStream.format("memory").queryName(name).outputMode(mode)
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", s"$work/checkpoints/$name")
        .start()
    def sameRows(got: DataFrame, want: DataFrame): Option[String] = {
      val g = got.collect().toSeq.groupBy(identity).view.mapValues(_.size).toMap
      val w = want.collect().toSeq.groupBy(identity).view.mapValues(_.size).toMap
      if (w.isEmpty) Some("batch twin is empty")
      else if (g != w) Some(s"stream output (${g.values.sum} rows) differs " +
        s"from the batch transform (${w.values.sum} rows)")
      else None
    }

    val tumbling = query("tumbling")(s =>
      memorySink("perfbench_tumbling", OutputMode.Complete())(
        EventStreams.tumbling(s))) {
      sameRows(spark.table("perfbench_tumbling"), EventStreams.tumbling(events))
    }
    val dedup = query("dedup_within_watermark")(s =>
      memorySink("perfbench_dedup", OutputMode.Append())(
        EventStreams.dedupWithinWatermark(s))) {
      // batch frames reject dropDuplicatesWithinWatermark; its batch
      // meaning is a plain dedup on the key
      sameRows(spark.table("perfbench_dedup"), events.dropDuplicates("event_id"))
    }
    val model = RelationalML.stringIndexerFit(events, "event_type")
    val scoredDir = s"$work/scored/data"
    val metricsDir = s"$work/scored/metrics"
    val score = query("score_to_parquet")(s =>
      EventStreams.scoreToParquet(s, model, scoredDir, metricsDir)) {
      val keyCols = Seq("event_id", "event_type", "event_type_idx").map(col)
      val batchTwin = EventStreams.scoreEvents(events, model).select(keyCols: _*)
      val n = spark.read.parquet(metricsDir)
        .agg(org.apache.spark.sql.functions.sum("n_scored")).head()
      sameRows(spark.read.parquet(scoredDir).select(keyCols: _*), batchTwin)
        .orElse(if (n.isNullAt(0) || n.getLong(0) != events.count())
          Some(s"metrics sink counted ${n.get(0)} rows, events has " +
            s"${events.count()}") else None)
    }
    Result(Seq(tumbling, dedup, score))
  }

  /** The `streaming` layer, from the queries' own progress reports. */
  def layers(r: Result, passS: Double): Map[String, Double] = {
    val p = r.progress
    def sumMs(k: String) = p.map(x => Option(x.durationMs.get(k))
      .map(_.toDouble).getOrElse(0.0)).sum
    val lat = r.latenciesS
    Map(
      "streaming.batches" -> p.size.toDouble,
      "streaming.plan_ms" -> sumMs("queryPlanning"),
      "streaming.add_batch_ms" -> sumMs("addBatch"),
      "streaming.wal_commit_ms" -> sumMs("walCommit"),
      "streaming.state_rows" -> r.queries.map(_.progress.lastOption
        .map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(0L))
        .sum.toDouble,
      "streaming.state_mem_bytes" -> r.queries.map(_.progress.lastOption
        .map(_.stateOperators.map(_.memoryUsedBytes).sum).getOrElse(0L))
        .sum.toDouble,
      "streaming.batch_p50_s" -> Stats.quantile(lat, 0.5),
      "streaming.batch_p90_s" -> Stats.quantile(lat, 0.9),
      "streaming.rows_per_s" ->
        (if (passS > 0) p.map(_.numInputRows).sum / passS else 0.0))
  }
}
