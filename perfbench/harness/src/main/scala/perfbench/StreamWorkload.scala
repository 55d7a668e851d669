package perfbench

import java.io.{BufferedWriter, FileWriter}
import java.sql.Timestamp

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

import graft.engine.SparkEnv
import graft.streaming.Streams

final case class Event(event_id: Long, ts: Timestamp, user_id: Long,
    event_type: String, value: Double)

/** Seeded events in event-time order. About one event in twenty is a resend
  * of one of the last 200 events (same key, same row), so every duplicate
  * lands minutes of event time after its original: well inside the
  * two-hour watermark, never late.
  */
final class EventGen(seed: Long) {
  private val rnd = new java.util.SplittableRandom(seed)
  private val types = Array("click", "view", "purchase", "signup", "error")
  private val recent = new Array[Event](200)
  private var nextId = 0L
  private var tsMicros = 1704067200000000L // 2024-01-01T00:00:00Z
  val all: ArrayBuffer[Event] = ArrayBuffer.empty
  var duplicates = 0L

  private def fresh(): Event = {
    tsMicros += 1 + rnd.nextLong(2000000L)
    val ts = new Timestamp(tsMicros / 1000)
    ts.setNanos((tsMicros % 1000000).toInt * 1000)
    val e = Event(nextId, ts, rnd.nextLong(1500), types(rnd.nextInt(5)),
      rnd.nextInt(50000) / 100.0)
    recent((nextId % recent.length).toInt) = e
    nextId += 1
    e
  }

  def batch(n: Int): Seq[Event] = {
    val out = (0 until n).map { _ =>
      if (nextId > 0 && rnd.nextInt(20) == 0) {
        duplicates += 1
        recent(rnd.nextInt(math.min(nextId, recent.length.toLong).toInt))
      } else fresh()
    }
    all ++= out
    out
  }
}

/** Closed-loop micro-batches, one in flight: each operation adds one batch
  * to a MemoryStream and waits until both `Streams.windowedCounts` (update
  * mode) and `Streams.dedupWithinWatermark` (append mode) have processed
  * it. A pass is a round of `StreamWorkload.batchesPerPass` batches.
  */
final class StreamWorkload(work: String, seed: Long) extends Workload {
  import StreamWorkload._

  val minPasses = 2
  val batchOp = "batch"
  private val gen = new EventGen(seed)
  private val counts = mutable.HashMap.empty[(Long, String), (Long, Double)]
  private val emitted = mutable.HashMap.empty[Long, Int]
  private var source: MemoryStream[Event] = _
  private var queries: Seq[StreamingQuery] = Nil
  private val lastBatch = mutable.HashMap.empty[String, Long]
  /** Per-batch progress sums over both queries, with the pass number. */
  val progress: ArrayBuffer[Map[String, Double]] = ArrayBuffer.empty

  def session(slots: Int): SparkSession =
    SparkEnv.session(appName = "perfbench-stream", master = s"local[$slots]",
      shufflePartitions = slots)

  private def start(spark: SparkSession): Unit = {
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    source = MemoryStream[Event]
    val events = source.toDF()
    val onCounts: (DataFrame, Long) => Unit = (df, _) =>
      df.collect().foreach { r =>
        counts((r.getTimestamp(0).getTime, r.getString(2))) =
          (r.getLong(3), r.getDouble(4))
      }
    val onDedup: (DataFrame, Long) => Unit = (df, _) =>
      df.select("event_id").collect().foreach { r =>
        emitted(r.getLong(0)) = emitted.getOrElse(r.getLong(0), 0) + 1
      }
    queries = Seq(
      Streams.windowedCounts(events).writeStream.queryName("counts")
        .outputMode("update")
        .option("checkpointLocation", s"$work/ckpt-counts")
        .foreachBatch(onCounts).start(),
      Streams.dedupWithinWatermark(events, Seq("event_id")).writeStream
        .queryName("dedup").outputMode("append")
        .option("checkpointLocation", s"$work/ckpt-dedup")
        .foreachBatch(onDedup).start())
  }

  private def record(pass: Int): Unit = {
    val sums = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
    sums("pass") = pass
    for (q <- queries) {
      val seen = lastBatch.getOrElse(q.name, -1L)
      val fresh = q.recentProgress.filter(_.batchId > seen)
      for (p <- fresh) {
        p.durationMs.asScala.foreach { case (k, v) => sums(k) += v.toDouble }
        p.stateOperators.foreach(s => sums("state_commit_ms") += s.commitTimeMs)
      }
      fresh.lastOption.foreach { p =>
        lastBatch(q.name) = p.batchId
        p.stateOperators.foreach { s =>
          sums("state_rows") += s.numRowsTotal
          sums("state_bytes") += s.memoryUsedBytes
        }
      }
    }
    progress += sums.toMap
  }

  def pass(spark: SparkSession, rec: Recorder): Unit = {
    if (queries.isEmpty) start(spark)
    for (_ <- 0 until batchesPerPass) {
      val events = gen.batch(eventsPerBatch)
      rec.attempt("batch") {
        rec.span("batch", "build")(source.addData(events))
        rec.span("batch", "action")(queries.foreach(_.processAllAvailable()))
        record(rec.pass)
      }
    }
  }

  def check(spark: SparkSession, dir: String)
      : Seq[(String, Option[String])] = Seq(
    Workload.attemptCheck("stream_outputs") {
      new java.io.File(dir).mkdirs()
      writeCsv(s"$dir/events.csv", "event_id,ts_us,event_type,value",
        gen.all.iterator.map { e =>
          val us = e.ts.getTime / 1000 * 1000000 + e.ts.getNanos / 1000
          s"${e.event_id},$us,${e.event_type},${e.value}"
        })
      writeCsv(s"$dir/counts.csv", "window_start_ms,event_type,n,total_value",
        counts.iterator.map { case ((w, t), (n, v)) => s"$w,$t,$n,$v" })
      writeCsv(s"$dir/dedup.csv", "event_id,times",
        emitted.iterator.map { case (id, k) => s"$id,$k" })
    })

  override def cleanup(spark: SparkSession): Unit = {
    queries.foreach(_.stop())
    queries = Nil
  }

  override def extra: Map[String, Any] = Map(
    "events" -> gen.all.size, "duplicates" -> gen.duplicates,
    "events_per_batch" -> eventsPerBatch, "batches_per_pass" -> batchesPerPass,
    "progress" -> progress.toSeq)

  private def writeCsv(path: String, header: String,
      rows: Iterator[String]): Unit = {
    val w = new BufferedWriter(new FileWriter(path))
    try {
      w.write(header); w.newLine()
      rows.foreach { r => w.write(r); w.newLine() }
    } finally w.close()
  }
}

object StreamWorkload {
  val eventsPerBatch = 2000
  val batchesPerPass = 4
}
