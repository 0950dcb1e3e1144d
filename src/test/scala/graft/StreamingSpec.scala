package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.EventStreams

case class Ev(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
    event_type: String, value: Double)

/** Streaming behavior: batch/stream parity for the windowed transforms,
  * watermark late-drop, and watermark-bounded dedup. */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def ts(min: Int) =
    java.sql.Timestamp.valueOf(s"2024-01-01 00:00:00").toInstant
      .plusSeconds(min * 60L) match {
      case i => java.sql.Timestamp.from(i)
    }

  private def runStream(stream: MemoryStream[Ev],
      plan: org.apache.spark.sql.DataFrame,
      mode: OutputMode,
      batches: Seq[Seq[Ev]]): Seq[org.apache.spark.sql.Row] = {
    val name = s"sink_${System.nanoTime()}"
    val q = plan.writeStream.format("memory").queryName(name)
      .outputMode(mode).start()
    try {
      batches.foreach { b =>
        stream.addData(b)
        q.processAllAvailable()
      }
    } finally q.stop()
    spark.table(name).collect().toSeq
  }

  test("tumbling stream equals the batch plan on the same data") {
    import spark.implicits._
    val events = (0 until 30).map(i =>
      Ev(i.toLong, ts(i), i % 3L, if (i % 2 == 0) "click" else "view", i * 1.0))
    val stream = MemoryStream[Ev](spark)
    val got = runStream(stream, EventStreams.tumbling(stream.toDF()),
      OutputMode.Complete(), Seq(events.take(15), events.drop(15)))
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    val want = EventStreams.tumbling(events.toDF())
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("append mode + watermark drops late rows and finalizes windows") {
    import spark.implicits._
    val stream = MemoryStream[Ev](spark)
    val plan = EventStreams.tumbling(stream.toDF(), watermark = "0 seconds")
    val rows = runStream(stream, plan, OutputMode.Append(), Seq(
      Seq(Ev(1, ts(1), 1, "click", 1.0), Ev(2, ts(2), 1, "click", 1.0)),
      // advances watermark far past the first window => it finalizes
      Seq(Ev(3, ts(60), 1, "click", 1.0)),
      // late arrival inside the long-closed first window => dropped
      Seq(Ev(4, ts(3), 1, "click", 99.0))))
    val firstWindow = rows.filter(_.getTimestamp(0).equals(ts(0)))
    assert(firstWindow.map(_.getLong(2)).sum == 2, s"late row not dropped: $rows")
  }

  test("dropDuplicatesWithinWatermark dedups within the horizon") {
    import spark.implicits._
    val stream = MemoryStream[Ev](spark)
    val plan = EventStreams.dedupWithinWatermark(stream.toDF(), "1 hour")
    val rows = runStream(stream, plan, OutputMode.Append(), Seq(
      Seq(Ev(1, ts(1), 1, "click", 1.0)),
      Seq(Ev(1, ts(2), 1, "click", 1.0),   // same id, within watermark
        Ev(2, ts(3), 1, "view", 2.0))))
    assert(rows.map(_.getAs[Long]("event_id")).sorted == Seq(1L, 2L))
  }

  test("stream-stream interval join matches the batch join") {
    import spark.implicits._
    val clickEvs = Seq(Ev(1, ts(0), 1, "click", 0.0),
      Ev(2, ts(5), 2, "click", 0.0))
    val buyEvs = Seq(Ev(10, ts(4), 1, "purchase", 9.5),
      Ev(11, ts(30), 1, "purchase", 3.0), // outside the 10-min horizon
      Ev(12, ts(6), 2, "purchase", 1.0))
    val clicks = MemoryStream[Ev](spark)
    val buys = MemoryStream[Ev](spark)
    val plan = EventStreams.clickPurchaseJoin(clicks.toDF(), buys.toDF())
    val name = s"sink_${System.nanoTime()}"
    val q = plan.writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append()).start()
    try {
      clicks.addData(clickEvs)
      buys.addData(buyEvs)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table(name).collect()
      .map(r => (r.getAs[Long]("click_id"), r.getAs[Long]("buy_id"))).toSet
    val batch = EventStreams.clickPurchaseJoin(
      clickEvs.toDF(), buyEvs.toDF()).collect()
      .map(r => (r.getAs[Long]("click_id"), r.getAs[Long]("buy_id"))).toSet
    assert(streamed == Set((1L, 10L), (2L, 12L)))
    assert(batch == streamed)
  }

  test("cappedSessions closes on gap, cap, and watermark timeout") {
    import spark.implicits._
    import graft.sources.Typed.Event
    def ev(id: Long, min: Int, uid: Long, v: Double) =
      Event(id, ts(min), uid, "click", v, "{}")

    val stream = MemoryStream[Event](spark)
    val plan = EventStreams.cappedSessions(stream.toDS(),
      gapMinutes = 30, maxEvents = 3, watermark = "1 minute")
    val name = s"sink_${System.nanoTime()}"
    val q = plan.writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Update()).start()
    try {
      // user 1: three quick events => closed by cap in-batch
      stream.addData(Seq(ev(1, 0, 1, 1.0), ev(2, 1, 1, 2.0),
        ev(3, 2, 1, 3.0)))
      q.processAllAvailable()
      // user 2: two events, then a 40-min gap => "gap" close on arrival
      stream.addData(Seq(ev(4, 5, 2, 1.0), ev(5, 6, 2, 1.0)))
      q.processAllAvailable()
      stream.addData(Seq(ev(6, 46, 2, 9.0)))
      q.processAllAvailable()
      // advance the watermark far past user 2's open session
      stream.addData(Seq(ev(7, 200, 3, 1.0)))
      q.processAllAvailable()
      stream.addData(Seq(ev(8, 201, 3, 1.0)))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table(name).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("n_events"),
        r.getAs[String]("closed_by"))).toSet
    assert(rows.contains((1L, 3L, "cap")), rows)
    assert(rows.contains((2L, 2L, "gap")), rows)
    // user 2's post-gap single-event session evicted by the watermark
    assert(rows.contains((2L, 1L, "timeout")), rows)
  }

  test("cappedSessions batch run closes the same in-data sessions") {
    import spark.implicits._
    import graft.sources.Typed.Event
    val evs = Seq(
      Event(1, ts(0), 1, "click", 1.0, "{}"),
      Event(2, ts(1), 1, "click", 2.0, "{}"),
      Event(3, ts(2), 1, "click", 3.0, "{}"),
      Event(4, ts(5), 2, "click", 1.0, "{}"),
      Event(5, ts(50), 2, "click", 1.0, "{}")) // 45-min gap
    val out = EventStreams.cappedSessions(evs.toDS(),
      gapMinutes = 30, maxEvents = 3).collect()
      .map(r => (r.user_id, r.n_events, r.closed_by)).toSet
    // cap-closed and gap-closed sessions emit in batch too; open tails
    // (user 2's second session) need a timeout, which batch never fires
    assert(out == Set((1L, 3L, "cap"), (2L, 1L, "gap")))
  }

  test("stateful plans run unchanged under the RocksDB state store") {
    import spark.implicits._
    val prev = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // windowed aggregation state
      val stream = MemoryStream[Ev](spark)
      val plan = EventStreams.tumbling(stream.toDF(), "1 hour")
      val rows = runStream(stream, plan, OutputMode.Update(), Seq(
        Seq(Ev(1, ts(0), 1, "click", 1.0), Ev(2, ts(1), 1, "click", 2.0)),
        Seq(Ev(3, ts(2), 1, "click", 4.0))))
      // same window agg semantics, different state backend
      assert(rows.map(_.getAs[Long]("n")).max == 3)

      // watermark-bounded dedup state
      val dstream = MemoryStream[Ev](spark)
      val drows = runStream(dstream,
        EventStreams.dedupWithinWatermark(dstream.toDF(), "1 hour"),
        OutputMode.Append(), Seq(
          Seq(Ev(1, ts(1), 1, "click", 1.0)),
          Seq(Ev(1, ts(2), 1, "click", 1.0), Ev(2, ts(3), 1, "view", 2.0))))
      assert(drows.map(_.getAs[Long]("event_id")).sorted == Seq(1L, 2L))

      // custom flatMapGroupsWithState state (tuple/case-class encoder)
      import graft.sources.Typed.Event
      val sstream = MemoryStream[Event](spark)
      val splan = EventStreams.cappedSessions(sstream.toDS(),
        gapMinutes = 30, maxEvents = 2, watermark = "1 minute")
      val name = s"sink_${System.nanoTime()}"
      val q = splan.writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Update()).start()
      try {
        sstream.addData(Seq(Event(1, ts(0), 1, "click", 1.0, "{}"),
          Event(2, ts(1), 1, "click", 2.0, "{}")))
        q.processAllAvailable()
      } finally q.stop()
      val sessions = spark.table(name).collect()
      assert(sessions.exists(r => r.getAs[Long]("n_events") == 2 &&
        r.getAs[String]("closed_by") == "cap"))
    } finally prev match {
      case Some(p) => spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass", p)
      case None => spark.conf.unset(
        "spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("cappedSessions maxEvents=1 closes every event as its own session") {
    import spark.implicits._
    import graft.sources.Typed.Event
    val evs = Seq(
      Event(1, ts(0), 1, "click", 1.0, "{}"),
      Event(2, ts(1), 1, "click", 2.0, "{}"))
    val out = EventStreams.cappedSessions(evs.toDS(),
      gapMinutes = 30, maxEvents = 1).collect()
      .map(r => (r.n_events, r.total_value, r.closed_by))
    assert(out.toSet == Set((1L, 1.0, "cap"), (1L, 2.0, "cap")))
  }

  test("session stream merges across micro-batches like the batch plan") {
    import spark.implicits._
    val events = Seq(
      Ev(1, ts(0), 1, "click", 1.0), Ev(2, ts(10), 1, "click", 1.0),
      Ev(3, ts(70), 1, "click", 1.0), // > 30min gap => second session
      Ev(4, ts(5), 2, "view", 1.0))
    val stream = MemoryStream[Ev](spark)
    val got = runStream(stream, EventStreams.sessions(stream.toDF()),
      OutputMode.Complete(), Seq(events.take(2), events.drop(2)))
      .map(r => (r.getLong(0), r.getLong(3))).sorted
    val want = EventStreams.sessions(events.toDF())
      .collect().map(r => (r.getLong(0), r.getLong(3))).sorted
    assert(got.sameElements(want))
    assert(got.count(_._1 == 1L) == 2)
  }

  test("session append mode finalizes closed sessions and drops late rows") {
    import spark.implicits._
    val stream = MemoryStream[Ev](spark)
    val plan = EventStreams.sessions(stream.toDF(), watermark = "0 seconds")
    val rows = runStream(stream, plan, OutputMode.Append(), Seq(
      Seq(Ev(1, ts(0), 1, "click", 1.0), Ev(2, ts(5), 1, "click", 1.0)),
      // watermark jumps far past the session's end (ts(5)+30min) => closed
      Seq(Ev(3, ts(120), 1, "click", 1.0)),
      // late event inside the closed session window => dropped
      Seq(Ev(4, ts(6), 1, "click", 99.0))))
    val first = rows.filter(_.getTimestamp(1).equals(ts(0)))
    assert(first.length == 1, s"expected one finalized session: $rows")
    assert(first.head.getLong(3) == 2, s"late row merged into closed session")
  }

  test("foreachBatch sink scores micro-batches to parquet with metrics") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("scored")
    val (out, metrics) = (s"$root/data", s"$root/metrics")
    val table = s"score_fit_${System.nanoTime()}"
    spark.sql(s"CREATE TABLE $table (event_type STRING) USING parquet " +
      s"LOCATION '${root.resolve("fit").toUri}'")
    try {
      Seq("click", "click", "view").toDF("event_type").write.insertInto(table)
      val model = graft.ml.RelationalML.stringIndexerFit(
        spark.table(table), "event_type")
      def viewIdx = model.filter(col("event_type") === "view").head()
        .getAs[Long]("idx")
      val stream = MemoryStream[Ev](spark)
      val q = EventStreams.scoreToParquet(stream.toDF(), model, out, metrics)
      try {
        stream.addData(Seq(Ev(1, ts(0), 1, "click", 1.0),
          Ev(2, ts(1), 1, "view", 2.0)))
        q.processAllAvailable()
        // the fit source changes under the running query: a re-fit now
        // ranks view first and indexes buy
        assert(viewIdx == 1L)
        (Seq.fill(5)("view") ++ Seq.fill(3)("buy")).toDF("event_type")
          .write.insertInto(table)
        assert(viewIdx == 0L)
        stream.addData(Seq(Ev(3, ts(2), 2, "view", 2.0),
          Ev(4, ts(3), 1, "buy", 3.0), Ev(5, ts(4), 1, "click", 1.0)))
        q.processAllAvailable()
      } finally q.stop()
      val scored = spark.read.parquet(out)
      val written = scored.groupBy("batch_id").count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val m = spark.read.parquet(metrics).collect()
      assert(m.length == 2) // one metrics row per micro-batch
      val counted = m.map(r =>
        r.getAs[Long]("batch_id") -> r.getAs[Long]("n_scored")).toMap
      assert(counted == written)
      assert(written.values.toSeq.sorted == Seq(2L, 3L))
      val idx = scored.collect().map(r => r.getAs[Long]("event_id") ->
        Option(r.getAs[java.lang.Long]("event_type_idx")).map(_.longValue)).toMap
      // start-time indices throughout; buy was unseen at start
      assert(idx == Map(1L -> Some(0L), 2L -> Some(1L), 3L -> Some(1L),
        4L -> None, 5L -> Some(0L)))
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("runningTotals (transformWithState) accumulates across micro-batches") {
    import spark.implicits._
    import graft.sources.Typed.Event
    def ev(id: Long, min: Int, uid: Long, v: Double) =
      Event(id, ts(min), uid, "click", v, "{}")
    // the transformWithState operator requires the RocksDB state store
    val prev = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val stream = MemoryStream[Event](spark)
      val plan = EventStreams.runningTotals(stream.toDS())
      val name = s"sink_${System.nanoTime()}"
      val q = plan.writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Update()).start()
      try {
        // batch 1: user 1 twice (out of order in the batch), user 2 once
        stream.addData(Seq(ev(2, 5, 1, 2.0), ev(1, 0, 1, 1.0),
          ev(3, 1, 2, 5.0)))
        q.processAllAvailable()
        // batch 2: state must carry — user 1's third event continues at n=3
        stream.addData(Seq(ev(4, 9, 1, 4.0)))
        q.processAllAvailable()
      } finally q.stop()
      val got = spark.table(name).collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("running_n"),
          r.getAs[Double]("running_sum"))).toSet
      // in-batch fold is event-time ordered: (1.0 then +2.0), cross-batch +4.0
      assert(got == Set((1L, 1L, 1.0), (1L, 2L, 3.0), (2L, 1L, 5.0),
        (1L, 3L, 7.0)))

      // TTL path: a ttl switches the query to processing-time mode
      // (Spark rejects TTL under TimeMode.None). Timer batches keep a
      // processing-time-mode query perpetually "busy", so neither
      // processAllAvailable nor Trigger.AvailableNow ever settles —
      // poll the sink with a deadline instead; the properties under
      // test are "starts without the TTL/time-mode rejection" and
      // "folds state correctly".
      val tstream = MemoryStream[Event](spark)
      tstream.addData(Seq(ev(5, 0, 9, 2.5), ev(6, 1, 9, 2.5)))
      val tplan = EventStreams.runningTotals(tstream.toDS(),
        ttl = Some(java.time.Duration.ofHours(1)))
      val tname = s"sink_${System.nanoTime()}"
      val tq = tplan.writeStream.format("memory").queryName(tname)
        .outputMode(OutputMode.Update()).start()
      try {
        val deadline = System.nanoTime() + 120e9.toLong
        while (spark.table(tname).count() < 2 &&
            System.nanoTime() < deadline) {
          tq.exception.foreach(throw _) // surface a failed start loudly
          Thread.sleep(200L)
        }
      } finally tq.stop()
      val tGot = spark.table(tname).collect()
        .map(r => (r.getAs[Long]("running_n"), r.getAs[Double]("running_sum")))
        .toSet
      // TTL an hour out: both events fold into live state
      assert(tGot == Set((1L, 2.5), (2L, 5.0)))
    } finally prev match {
      case Some(p) => spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass", p)
      case None => spark.conf.unset(
        "spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("per-event scoring applies a fitted indexer map to the stream") {
    import spark.implicits._
    val fitDf = Seq("click", "click", "view").toDF("event_type")
    val model = graft.ml.RelationalML.stringIndexerFit(fitDf, "event_type")
    val stream = MemoryStream[Ev](spark)
    val rows = runStream(stream,
      EventStreams.scoreEvents(stream.toDF(), model),
      OutputMode.Append(),
      Seq(Seq(Ev(1, ts(0), 1, "click", 1.0), Ev(2, ts(1), 1, "view", 2.0))))
    val byType = rows.map(r =>
      (r.getAs[String]("event_type"), r.getAs[Long]("event_type_idx"))).toMap
    assert(byType == Map("click" -> 0L, "view" -> 1L))
  }
}
