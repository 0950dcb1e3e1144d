package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Structured Streaming surface (SURVEY.md §2.8).
  *
  * The reference pins the Kafka connector on its classpath but never
  * calls `readStream` (reference `main.py:22`) — the latent intent is
  * scoring flow records as they arrive. Here every windowed transform is
  * a plain `DataFrame => DataFrame`, applied identically to a batch
  * frame (where `withWatermark` is a no-op and the DuckDB oracle can
  * check it — queries Q21–Q23) or to a streaming frame from
  * `readStream` (file source, rate source, or Kafka when a broker
  * exists). Batch/stream parity is asserted in StreamingSpec.
  *
  * Scale notes: watermarks bound state (late rows beyond the watermark
  * are dropped, so the state store holds only open windows);
  * `dropDuplicatesWithinWatermark` keeps the dedup state window-bounded
  * instead of unbounded-forever; per-event scoring is a stateless map
  * and needs no state store at all.
  */
object EventStreams {

  /** Tumbling 5-minute count/sum per event_type (streaming Q21). */
  def tumbling(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sum_value"))
      .select(col("window.start").as("w_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Sliding 10-minute window, 2-minute slide (streaming Q22). */
  def sliding(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "10 minutes", "2 minutes"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sum_value"))
      .select(col("window.start").as("w_start"), col("n"), col("sum_value"))

  /** 30-minute-gap session windows per user (streaming Q23). */
  def sessions(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sum_value"))
      .select(col("user_id"), col("session_window.start").as("s_start"),
        col("session_window.end").as("s_end"), col("n"), col("sum_value"))

  /** Stateful exact dedup on event_id with watermark-bounded state:
    * duplicates arriving within the watermark horizon are dropped, state
    * older than the watermark is evicted (vs dropDuplicates, whose state
    * grows forever — unusable at 100 TB/day). */
  def dedupWithinWatermark(events: DataFrame,
      watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-stream interval join: each click joined to the same user's
    * purchases landing within [click_ts, click_ts + horizon]. Both sides
    * carry watermarks and the join condition bounds event time in BOTH
    * directions, so the state store can evict rows once the watermark
    * passes the interval — without the time bound, stream-stream join
    * state grows forever. Works identically on batch frames (watermark
    * is a no-op there), which is how StreamingSpec asserts parity. */
  def clickPurchaseJoin(clicks: DataFrame, purchases: DataFrame,
      horizon: String = "10 minutes",
      watermark: String = "10 minutes"): DataFrame = {
    val c = clicks.withWatermark("ts", watermark)
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
    val p = purchases.withWatermark("ts", watermark)
      .select(col("event_id").as("buy_id"), col("user_id").as("buy_user"),
        col("ts").as("buy_ts"), col("value").as("buy_value"))
    c.join(p, col("user_id") === col("buy_user") &&
      col("buy_ts") >= col("click_ts") &&
      col("buy_ts") <= col("click_ts") + expr(s"interval $horizon"))
      .select(col("click_id"), col("user_id"), col("click_ts"),
        col("buy_id"), col("buy_ts"), col("buy_value"))
  }

  /** A closed user session emitted by [[cappedSessions]]. */
  final case class SessionOut(user_id: Long, start: java.sql.Timestamp,
      end: java.sql.Timestamp, n_events: Long, total_value: Double,
      closed_by: String)

  /** Open-session state for [[cappedSessions]] — O(1) per user. */
  final case class SessionState(start: Long, last: Long, n: Long,
      sum: Double)

  /** Custom-state sessionization via `flatMapGroupsWithState` — the
    * semantics `session_window` CANNOT express: a session also closes
    * when it reaches `maxEvents` (runaway-session cap), and each closed
    * session reports WHY it closed ("gap" | "cap" | "timeout"). State
    * per user is O(1) (start, last-ts, count, sum); an event-time
    * timeout tied to the watermark evicts idle users, so state never
    * grows unboundedly. Works on a stream (Update mode) and, via the
    * same code path, on a batch Dataset (where every group is final).
    */
  def cappedSessions(events: org.apache.spark.sql.Dataset[
        graft.sources.Typed.Event],
      gapMinutes: Long = 30, maxEvents: Long = 5,
      watermark: String = "10 minutes"): org.apache.spark.sql.Dataset[SessionOut] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode => OM}
    val spark = events.sparkSession
    import spark.implicits._

    val gapMs = gapMinutes * 60000L
    // captured as a Boolean: the closure must not reference the Dataset
    val streaming = events.isStreaming

    def close(uid: Long, s: SessionState, why: String): SessionOut =
      SessionOut(uid, new java.sql.Timestamp(s.start),
        new java.sql.Timestamp(s.last), s.n, s.sum, why)

    def update(uid: Long, evs: Iterator[graft.sources.Typed.Event],
        state: GroupState[SessionState]): Iterator[SessionOut] = {
      if (state.hasTimedOut) {
        val out = state.getOption.map(close(uid, _, "timeout")).toList
        state.remove()
        return out.iterator
      }
      val sorted = evs.toSeq.sortBy(_.ts.getTime)
      val closedOut = scala.collection.mutable.ListBuffer[SessionOut]()
      var cur = state.getOption

      // a state reaching maxEvents closes immediately — including the
      // session-OPENING paths, or maxEvents=1 sessions would only close
      // on their second event
      def admit(s: SessionState): Option[SessionState] =
        if (s.n >= maxEvents) {
          closedOut += close(uid, s, "cap")
          None
        } else Some(s)

      sorted.foreach { e =>
        val t = e.ts.getTime
        cur match {
          case Some(s) if t - s.last > gapMs =>
            closedOut += close(uid, s, "gap")
            cur = admit(SessionState(t, t, 1L, e.value))
          case Some(s) =>
            // min on start: a late-but-above-watermark event arriving in
            // a LATER micro-batch can precede the open session's start;
            // without the min the emitted start would reflect arrival
            // order, not event time. Gap SPLITS against already-arrived
            // events remain arrival-order-sensitive across batches (an
            // exact fix would buffer events until the watermark passes);
            // documented contract: starts/ends/sums are event-time
            // correct, cross-batch out-of-order gap splits are best-effort.
            cur = admit(SessionState(math.min(s.start, t), math.max(s.last, t),
              s.n + 1, s.sum + e.value))
          case None => cur = admit(SessionState(t, t, 1L, e.value))
        }
      }
      cur match {
        case Some(s) =>
          state.update(s)
          // evict this user once the watermark passes last-ts + gap —
          // clamped above the current watermark in streaming runs: an
          // allowed-lateness straggler can put last + gap at-or-below
          // it, and Spark rejects such timeouts with a query-fatal
          // exception (the NearDupGate clamp, same failure class).
          // Batch runs have no watermark (getCurrentWatermarkMs throws)
          // and their timeouts never fire — no clamp needed.
          state.setTimeoutTimestamp(
            if (streaming) math.max(s.last + gapMs,
              state.getCurrentWatermarkMs() + 1L)
            else s.last + gapMs)
        case None => state.remove()
      }
      closedOut.iterator
    }

    val wm =
      if (events.isStreaming) events.withWatermark("ts", watermark)
      else events
    wm.groupByKey(_.user_id)
      .flatMapGroupsWithState(OM.Update(),
        GroupStateTimeout.EventTimeTimeout())(update)
  }

  /** Per-event output of [[runningTotals]]. */
  final case class RunningOut(user_id: Long, ts: java.sql.Timestamp,
      running_n: Long, running_sum: Double)

  /** O(1)-per-user accumulator state for [[runningTotals]]. */
  final case class RunningAcc(n: Long, sum: Double)

  /** Per-user running event count + value total on the Spark 4
    * `transformWithState` arbitrary-state API (the successor to
    * `flatMapGroupsWithState`): typed `ValueState` per key, optional
    * processing-time TTL so an abandoned user's accumulator ages out of
    * the store without a timer per key (state TTL requires the
    * processing-time mode, so the query runs in
    * `TimeMode.ProcessingTime()` exactly when a TTL is set — Spark
    * rejects a TTL under `TimeMode.None`). Emits one row per input event
    * carrying the post-event totals (Update mode). Within a micro-batch
    * events are folded in event-time order; cross-batch order is arrival
    * order (same contract as [[cappedSessions]]).
    *
    * Scale shape: state is O(distinct users) x O(1) each, keyed shuffle
    * only on user_id, and the streaming runtime requires the RocksDB
    * state store provider — which is what a 100 TB keyspace wants anyway
    * (state spills to disk instead of executor heap).
    *
    * Memory bound: the in-batch event-time ordering contract requires
    * materializing and sorting ONE key's events from ONE micro-batch in
    * executor memory (`rows.toSeq.sortBy`). That is O(hottest key per
    * trigger), not O(stream): bound it operationally by capping trigger
    * size (`maxFilesPerTrigger` / `maxOffsetsPerTrigger`). Keys hot enough
    * to blow a bounded trigger need the order contract relaxed to arrival
    * order, which folds the iterator with O(1) memory.
    */
  def runningTotals(events: org.apache.spark.sql.Dataset[
        graft.sources.Typed.Event],
      ttl: Option[java.time.Duration] = None,
      watermark: String = "10 minutes"): org.apache.spark.sql.Dataset[RunningOut] = {
    import org.apache.spark.sql.streaming.{OutputMode => OM, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}
    import org.apache.spark.sql.{Encoder, Encoders}
    val spark = events.sparkSession
    import spark.implicits._

    val ttlConf = ttl.map(TTLConfig.apply).getOrElse(TTLConfig.NONE)

    class Proc extends StatefulProcessor[Long,
        graft.sources.Typed.Event, RunningOut] {
      @transient private var acc: ValueState[RunningAcc] = _
      override def init(outputMode: OM, timeMode: TimeMode): Unit =
        acc = getHandle.getValueState[RunningAcc]("acc",
          implicitly[Encoder[RunningAcc]], ttlConf)
      override def handleInputRows(user: Long,
          rows: Iterator[graft.sources.Typed.Event],
          timers: TimerValues): Iterator[RunningOut] = {
        var a = if (acc.exists()) acc.get() else RunningAcc(0L, 0.0)
        val out = rows.toSeq.sortBy(_.ts.getTime).map { e =>
          a = RunningAcc(a.n + 1, a.sum + e.value)
          RunningOut(user, e.ts, a.n, a.sum)
        }
        acc.update(a)
        out.iterator
      }
    }

    val wm =
      if (events.isStreaming) events.withWatermark("ts", watermark)
      else events
    val timeMode =
      if (ttl.isDefined) TimeMode.ProcessingTime() else TimeMode.None()
    wm.groupByKey(_.user_id)
      .transformWithState(new Proc, timeMode, OM.Update())
  }

  /** Stateless per-event scoring: broadcast-join a fitted index map
    * (the StringIndexer-transform shape, E2) onto the stream — the
    * streaming-safe form of `pipelineModel.transform(streamDf)`. */
  def scoreEvents(events: DataFrame, indexerModel: DataFrame): DataFrame =
    graft.ml.RelationalML.stringIndexerTransform(
      events, "event_type", indexerModel, "event_type_idx")

  /** File-source stream over an events-shaped parquet directory — the
    * test/dev stand-in for the Kafka source below. maxFilesPerTrigger
    * bounds micro-batch size. */
  def fromParquetDir(spark: SparkSession, path: String,
      maxFilesPerTrigger: Int = 1): DataFrame = {
    // the file source only accepts directories; a single-file fixture is
    // streamed from its parent dir with a glob pinned to the file
    val p = java.nio.file.Paths.get(path)
    val (dir, glob) =
      if (java.nio.file.Files.isRegularFile(p))
        (p.getParent.toString, p.getFileName.toString)
      else (path, "*")
    // sniff the ts encoding from a batch footer read (same two fixture
    // generations Tables.loadEvents handles: raw int64 nanos vs logical
    // TIMESTAMP_MICROS) — a streaming source can't inspect footers
    // itself, so the read schema must be decided up front
    val rawNanos = Tables.eventsTsIsRawNanos(spark, path)
    val raw = spark.readStream
      .schema(if (rawNanos) Tables.eventsRawNanos else Tables.events)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .option("pathGlobFilter", glob)
      .parquet(dir)
    if (rawNanos)
      raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else raw
  }

  /** foreachBatch scoring sink (SURVEY §2.8): score each micro-batch
    * with the fitted indexer map and append it as parquet, plus a tiny
    * per-batch metrics row — the pattern for coordinating two sinks
    * from one micro-batch.
    *
    * The map is collected ONCE, when the query starts: it has one row per
    * category, and a lazy `indexerModel` (e.g. `stringIndexerFit` over a
    * table) would otherwise re-run its fit inside every micro-batch and
    * could re-number categories mid-stream. Categories unseen at start
    * score as null, as in [[scoreEvents]]. The batch's row count is
    * observed inside the parquet write (`Dataset.observe`), so a
    * micro-batch runs two jobs — the write and the metrics row — and
    * scores its rows once.
    *
    * The `batch_id` column in BOTH outputs is the replay key: plain
    * append-mode parquet is NOT transactional across the two writes,
    * so a failure between them followed by a foreachBatch retry can
    * re-append the same batch — downstream readers deduplicate on
    * batch_id (checkpointed batch ids are stable across retries).
    * Returns the started query (caller stops it). */
  def scoreToParquet(events: DataFrame, indexerModel: DataFrame,
      outDir: String, metricsDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val spark = events.sparkSession
    import spark.implicits._
    // a null category never matches the join in scoreEvents either
    val index = typedLit(indexerModel.select("event_type", "idx").collect()
      .collect { case Row(v: String, i: Long) => v -> i }.toMap)
    events.writeStream
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        val scored = Observation()
        batch.withColumn("event_type_idx", element_at(index, col("event_type")))
          .withColumn("batch_id", lit(batchId))
          .observe(scored, count(lit(1)).as("n"))
          .write.mode("append").parquet(outDir)
        Seq((batchId, scored.get("n").asInstanceOf[Long]))
          .toDF("batch_id", "n_scored")
          .write.mode("append").parquet(metricsDir)
        ()
      }
      .start()
  }

  /** Kafka source plan (reference main.py:22 declares exactly this
    * connector). Builder only — no broker exists in the test env; the
    * value payload is JSON with the events schema. */
  def fromKafka(spark: SparkSession, bootstrap: String,
      topic: String): DataFrame = {
    val raw = spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("subscribe", topic)
      .load()
    // payload contract: ts arrives as int64 epoch-nanos in the JSON
    // (producers emit raw clock reads; the int64 `div` keeps precision)
    raw.select(from_json(col("value").cast("string"),
        Tables.eventsRawNanos).as("e"))
      .select(col("e.*"))
      .withColumn("ts", timestamp_micros(expr("ts div 1000")))
  }
}
