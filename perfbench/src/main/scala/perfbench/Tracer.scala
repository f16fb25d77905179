package perfbench

import java.time.Instant

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryProgressEvent, QueryStartedEvent}

/** Spark job, task and streaming-progress recorder for traced passes.
  *
  * Jobs carry the operation and phase the harness set as local
  * properties before each call (`perfbench.op`, `perfbench.phase`);
  * micro-batch jobs inherit them through the stream thread. A job's
  * layer comes from its call site (or that of the SQL execution that
  * launched it): the innermost engine frame in
  * `Tables.scala` makes it a `tables` job, in `Bucketing.scala` an
  * `index` job. Streaming progress arrives on the same bus as
  * `onOtherEvent`, so twins run on cloned sessions are seen too.
  */
final class Tracer extends SparkListener {
  import Tracer._

  private val jobs = mutable.Map.empty[Int, JobRec]
  private val started = mutable.Map.empty[String, Long]
  private val sqlLayer = mutable.Map.empty[Long, String]
  val batches: mutable.ArrayBuffer[BatchRec] = mutable.ArrayBuffer.empty
  val totals: mutable.Map[String, Double] = mutable.Map.empty.withDefaultValue(0.0)

  def reset(): Unit = synchronized {
    jobs.clear(); started.clear(); sqlLayer.clear()
    batches.clear(); totals.clear()
  }

  def jobRecords: Seq[JobRec] = synchronized(jobs.values.toSeq.sortBy(_.id))

  private def add(k: String, v: Double): Unit = totals(k) = totals(k) + v

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
    val details = e.stageInfos.sortBy(-_.stageId).headOption.map(_.details).getOrElse("")
    // AQE submits query stages from a pool thread, so the job's own call
    // site is Spark's; the SQL execution's call site names the caller
    val layer = scala.util.Try(prop("spark.sql.execution.id").toLong).toOption
      .flatMap(sqlLayer.get).filter(_ != "exec").getOrElse(layerOf(details))
    jobs(e.jobId) = JobRec(e.jobId, prop("perfbench.op"), prop("perfbench.phase"),
      layer, e.time, e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(endMs = e.time))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    add("stages", 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    add("tasks", 1)
    if (e.reason != Success) add("failed_tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("task_run_ms", m.executorRunTime.toDouble)
      add("task_cpu_ns", m.executorCpuTime.toDouble)
      add("gc_ms", m.jvmGCTime.toDouble)
      add("shuffle_read_b", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add("shuffle_write_b", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add("spill_b", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      add("input_b", m.inputMetrics.bytesRead.toDouble)
      add("output_b", m.outputMetrics.bytesWritten.toDouble)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionStart => synchronized {
      sqlLayer(x.executionId) = layerOf(x.details)
    }
    case s: QueryStartedEvent => synchronized {
      started(s.runId.toString) = Instant.parse(s.timestamp).toEpochMilli
    }
    case p: QueryProgressEvent => synchronized {
      val pr = p.progress
      val startMs = Instant.parse(pr.timestamp).toEpochMilli
      val durMs = Option(pr.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
      val ops = pr.stateOperators.toSeq
      batches += BatchRec(pr.runId.toString, pr.batchId, startMs, durMs, pr.numInputRows,
        ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum,
        ops.map(_.numRowsDroppedByWatermark).sum,
        started.getOrElse(pr.runId.toString, startMs))
    }
    case _ => ()
  }
}

object Tracer {
  final case class JobRec(id: Int, op: String, phase: String, layer: String,
                          startMs: Long, endMs: Long) {
    def seconds: Double = (endMs - startMs) / 1e3
  }

  final case class BatchRec(runId: String, batchId: Long, startMs: Long, durMs: Long,
                            inputRows: Long, stateRows: Long, stateBytes: Long,
                            dropped: Long, queryStartMs: Long)

  /** `tables` or `index` when the innermost engine frame of the job's
    * call site is schema inference/layout repair or an index build.
    */
  def layerOf(callSite: String): String =
    callSite.split('\n').iterator.map { l =>
      if (l.contains("(Tables.scala:")) "tables"
      else if (l.contains("(Bucketing.scala:")) "index"
      else ""
    }.find(_.nonEmpty).getOrElse("exec")
}
