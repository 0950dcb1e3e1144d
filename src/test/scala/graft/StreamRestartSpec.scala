package graft

import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.FileTime

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Typed.Event
import graft.streaming.EventStreams

/** Recovery from a checkpoint: a query stopped after micro-batch 1 of 3
  * and restarted on the same checkpoint emits what an uninterrupted run
  * emits, under both state store providers. The sink keeps each
  * micro-batch's rows by batch id, so a replayed batch replaces itself,
  * as an idempotent sink would. */
class StreamRestartSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val providers = Seq(
    "HDFS-backed" -> "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider",
    "RocksDB" -> "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

  /** Three landing files of ten minutes each; files 2 and 3 repeat ids
    * of the file before them within the dedup horizon. */
  private val files: Seq[Seq[Event]] = {
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    def ev(id: Int, min: Int) = Event(id.toLong, new java.sql.Timestamp(
      t0 + min * 60000L), id % 4L, Seq("click", "view", "buy")(id % 3),
      id * 0.5, "{}")
    Seq((0 until 10).map(i => ev(i, i)),
      (10 until 20).map(i => ev(i, i)) ++ (7 until 10).map(i => ev(i, i + 3)),
      (20 until 30).map(i => ev(i, i)) ++ (17 until 20).map(i => ev(i, i + 3)))
  }

  /** Writes landing file `i` as one parquet file, modification times in
    * file order (the file source's order). */
  private def land(dir: JPath, i: Int): Unit = {
    val s = spark
    import s.implicits._
    val tmp = Files.createTempDirectory("restart-file")
    spark.createDataset(files(i)).coalesce(1).write.mode("overwrite")
      .parquet(tmp.toString)
    val part = Files.list(tmp).iterator.asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    val dst = Files.move(part, dir.resolve(s"batch-$i.parquet"))
    Files.setLastModifiedTime(dst,
      FileTime.fromMillis(System.currentTimeMillis() - 60000L + i * 1000L))
  }

  /** Runs `plan` over the landing files; when `restart`, the query stops
    * after the first file's micro-batch and a new one resumes from the
    * checkpoint. Returns the sink's rows per batch id. */
  private def run(plan: DataFrame => DataFrame, mode: OutputMode,
      restart: Boolean): Map[Long, Seq[Row]] = {
    val landing = Files.createTempDirectory("restart-landing")
    val ckpt = Files.createTempDirectory("restart-ckpt").toString
    val sink = TrieMap.empty[Long, Seq[Row]]
    def start() = plan(EventStreams.fromParquetDir(spark, landing.toString))
      .writeStream.outputMode(mode)
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: Dataset[Row], id: Long) =>
        sink.put(id, b.collect().toSeq); ()
      }
      .start()
    def drain(): Unit = {
      val q = start()
      try q.processAllAvailable() finally q.stop()
      q.exception.foreach(throw _)
    }
    land(landing, 0)
    if (restart) drain()
    land(landing, 1)
    land(landing, 2)
    drain()
    sink.toMap
  }

  private def sorted(rows: Seq[Row]) = rows.map(_.toString).sorted

  for ((name, provider) <- providers) {
    def withProvider[A](f: => A): A = {
      val key = "spark.sql.streaming.stateStore.providerClass"
      val prev = spark.conf.getOption(key)
      spark.conf.set(key, provider)
      try f finally prev match {
        case Some(p) => spark.conf.set(key, p)
        case None => spark.conf.unset(key)
      }
    }

    test(s"tumbling restarts from its checkpoint ($name state store)") {
      withProvider {
        val whole = run(EventStreams.tumbling(_), OutputMode.Complete(), false)
        val resumed = run(EventStreams.tumbling(_), OutputMode.Complete(), true)
        // complete mode: the last batch is the whole result, state
        // included (a watermark-only batch may shift the batch ids)
        def last(out: Map[Long, Seq[Row]]) = out(out.keys.max)
        assert(sorted(last(resumed)) == sorted(last(whole)))
        assert(last(whole).map(_.getAs[Long]("n")).sum == files.map(_.size).sum)
      }
    }

    test(s"dedupWithinWatermark restarts from its checkpoint ($name state store)") {
      withProvider {
        val plan = (s: DataFrame) => EventStreams.dedupWithinWatermark(s)
        val whole = run(plan, OutputMode.Append(), false)
        val resumed = run(plan, OutputMode.Append(), true)
        assert(sorted(resumed.values.flatten.toSeq) ==
          sorted(whole.values.flatten.toSeq))
        // the repeated ids are dropped across the restart, too
        assert(resumed.values.flatten.map(_.getAs[Long]("event_id"))
          .toSeq.sorted == (0L until 30L))
      }
    }
  }
}
