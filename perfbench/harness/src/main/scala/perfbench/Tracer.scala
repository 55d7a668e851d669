package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Records one traced pass from Spark's public listeners: every job (start,
  * end and the first frames of its call site), every completed stage (its
  * interval and task metrics), summed task time, and Catalyst's tracked
  * phase times. The records are raw; perfbench/trace.py derives the layers.
  */
final class Tracer(spark: SparkSession) {
  private val jobs = ArrayBuffer.empty[Map[String, Any]]
  private val executionSites = mutable.HashMap.empty[Long, Seq[String]]
  private val jobEnds = mutable.HashMap.empty[Int, Long]
  private val stages = ArrayBuffer.empty[Map[String, Any]]
  private var taskMs = 0L
  private var tasks = 0L
  private val phases = mutable.HashMap.empty[String, Long].withDefaultValue(0L)

  private val listener = new SparkListener {
    // a query's jobs run on Spark's own threads (AQE stages, broadcasts):
    // the call site of the SQL execution they belong to is the caller's
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => synchronized {
        executionSites(s.executionId) = frames(s.details)
      }
      case _ =>
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val execution = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => executionSites.get(id.toLong))
      val site = execution.getOrElse(e.stageInfos.sortBy(-_.stageId)
        .headOption.map(s => frames(s.details)).getOrElse(Nil))
      jobs += Map("id" -> e.jobId, "start_ms" -> e.time, "site" -> site)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobEnds(e.jobId) = e.time
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      taskMs += e.taskInfo.duration
      tasks += 1
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        val s = e.stageInfo
        val m = s.taskMetrics
        stages += Map(
          "start_ms" -> s.submissionTime.getOrElse(0L),
          "end_ms" -> s.completionTime.getOrElse(0L),
          "tasks" -> s.numTasks,
          "cpu_ns" -> (if (m == null) 0L else m.executorCpuTime),
          "shuffle_write_bytes" ->
            (if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten),
          "spill_bytes" -> (if (m == null) 0L
            else m.memoryBytesSpilled + m.diskBytesSpilled),
          "read_bytes" -> (if (m == null) 0L else m.inputMetrics.bytesRead),
          "read_rows" -> (if (m == null) 0L else m.inputMetrics.recordsRead),
          "write_bytes" ->
            (if (m == null) 0L else m.outputMetrics.bytesWritten),
          "write_rows" ->
            (if (m == null) 0L else m.outputMetrics.recordsWritten))
      }
  }

  private def frames(details: String): Seq[String] =
    Option(details).map(_.linesIterator.take(12).toSeq).getOrElse(Nil)

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = Tracer.this.synchronized {
      qe.tracker.phases.foreach { case (k, v) => phases(k) += v.durationMs }
    }
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(queryListener)
  }

  /** Waits for queued listener events, detaches, and returns the record. */
  def stop(): Map[String, Any] = {
    PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(queryListener)
    synchronized {
      Map(
        "jobs" -> jobs.map(j =>
          j + ("end_ms" -> jobEnds.getOrElse(j("id").asInstanceOf[Int], 0L)))
          .toSeq,
        "stages" -> stages.toSeq,
        "task_ms" -> taskMs,
        "tasks" -> tasks,
        "phases_ms" -> phases.toMap)
    }
  }
}
