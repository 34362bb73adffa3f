package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Named running totals; a pass reads them before and after and keeps the
  * difference. */
final class Counters {
  private val m = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  def add(key: String, v: Double): Unit = synchronized { m(key) += v }
  def snapshot(): Map[String, Double] = synchronized { m.toMap }
}

object Counters {
  def delta(after: Map[String, Double], before: Map[String, Double]): Map[String, Double] =
    after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) }
}

/** Task output bytes, and bytes and records per `query|step`. On in every
  * run after set-up: the write checks need them, and one task-end callback
  * costs nothing measurable. */
final class WriteCounter(val counters: Counters) extends SparkListener {
  private val stageQuery = new java.util.concurrent.ConcurrentHashMap[Int, String]()

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(Harness.PhaseKey)))
      .foreach(tag => stageQuery.put(e.stageInfo.stageId, tag))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (e.taskMetrics != null) {
    val out = e.taskMetrics.outputMetrics
    counters.add("commit.bytes_written", out.bytesWritten.toDouble)
    Option(stageQuery.get(e.stageId)).foreach { tag =>
      counters.add(s"written_bytes.$tag", out.bytesWritten.toDouble)
      counters.add(s"records_written.$tag", out.recordsWritten.toDouble)
    }
  }
}

/** Attributes Spark's work to the program's layers through Spark's own
  * listener interfaces.
  *
  * A job's layer is the first `graft.*` frame of the call site that started
  * its SQL execution (`spark.sql.execution.id` → the execution-start
  * event's `details`). The job's own call site is not used: adaptive
  * execution submits most stage jobs from pool threads that carry no
  * program frame. Jobs outside any SQL execution fall back to their first
  * stage's call site.
  */
final class Tracer(counters: Counters) extends SparkListener {
  private val execLayer = new java.util.concurrent.ConcurrentHashMap[Long, String]()
  private val jobInfo = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long)]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => execLayer.put(s.executionId, Tracer.layerOf(s.details))
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val viaExecution = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => Option(execLayer.get(id.toLong)))
    val layer = viaExecution.getOrElse(
      Tracer.layerOf(e.stageInfos.headOption.map(_.details).getOrElse("")))
    jobInfo.put(e.jobId, (layer, e.time))
    counters.add("exec.jobs", 1)
    counters.add(s"layer.$layer.jobs", 1)
    if (props.flatMap(p => Option(p.getProperty(Harness.PhaseKey))).exists(_.endsWith("|build")))
      counters.add("queries.build_jobs", 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobInfo.remove(e.jobId)).foreach { case (layer, start) =>
      counters.add(s"layer.$layer.job_s", (e.time - start) / 1e3)
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    counters.add("exec.stages", 1)
    counters.add("exec.tasks", s.numTasks)
    if (s.numTasks == 1) for (a <- s.submissionTime; b <- s.completionTime)
      counters.add("exec.single_task_stage_s", (b - a) / 1e3)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (e.taskMetrics != null) {
    val m = e.taskMetrics
    counters.add("exec.task_cpu_s", m.executorCpuTime / 1e9)
    counters.add("exec.task_run_s", m.executorRunTime / 1e3)
    counters.add("exec.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1e6)
    counters.add("exec.shuffle_read_mb",
      (m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead) / 1e6)
    counters.add("exec.spill_mb", m.diskBytesSpilled / 1e6)
  }
}

object Tracer {
  /** The layer of the first program frame in a call-site stack: its
    * `graft.<module>`, except that schema reads of the source registry
    * (`graft.sources.Tables`) count apart from the rest of `sources`. */
  def layerOf(stack: String): String = {
    val lines = stack.linesIterator.map(_.trim).toSeq
    lines.find(_.startsWith("graft.")) match {
      case Some(frame) if frame.startsWith("graft.sources.Tables") => "schema"
      case Some(frame) =>
        frame.split('.')(1) match {
          case m @ ("sources" | "plans" | "operators" | "streaming" | "functions") => m
          case _ => "queries"
        }
      case None if lines.exists(_.startsWith("perfbench.")) => "harness"
      case None => "engine"
    }
  }
}

/** Catalyst phase times of every executed plan. */
final class PhaseListener(counters: Counters) extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    for ((phase, summary) <- qe.tracker.phases)
      counters.add(s"catalyst.${phase}_s", summary.durationMs / 1e3)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

/** Streaming progress: starts, micro-batches, batch and commit time, and
  * the state rows each query holds when its last batch ends. */
final class StreamListener(counters: Counters) extends StreamingQueryListener {
  import StreamingQueryListener._
  private val lastStateRows = new java.util.concurrent.ConcurrentHashMap[java.util.UUID, java.lang.Long]()

  override def onQueryStarted(e: QueryStartedEvent): Unit = counters.add("streaming.query_starts", 1)

  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    counters.add("streaming.batches", 1)
    counters.add("streaming.batch_s", p.batchDuration / 1e3)
    val d = p.durationMs
    Seq("walCommit", "commitOffsets").foreach { k =>
      if (d.containsKey(k)) counters.add("streaming.commit_s", d.get(k) / 1e3)
    }
    lastStateRows.put(p.runId, p.stateOperators.map(_.numRowsTotal).sum)
  }

  override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
    Option(lastStateRows.remove(e.runId)).foreach(n => counters.add("streaming.state_rows", n.toDouble))

  override def onQueryIdle(e: QueryIdleEvent): Unit = ()
}
