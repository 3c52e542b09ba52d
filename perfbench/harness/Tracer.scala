package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Records job, stage, Catalyst-phase and block events for a traced run.
  *
  * Only public listener interfaces are used: a `SparkListener` for jobs,
  * stages, task metrics and block updates, and a `QueryExecutionListener`
  * for the planning phases of every action. Events arrive on Spark's
  * asynchronous listener bus, so each carries its own timestamps and is
  * attributed to a query afterwards by time window; `drain()` waits for
  * the bus before the records are read or the listeners removed.
  *
  * Task metrics are summed per stage rather than kept per task, which
  * keeps the record at a few thousand entries per pass.
  */
final class Tracer(spark: SparkSession) {

  final class Stage(val id: Int, val attempt: Int, val jobId: Int) {
    var submitMs, endMs = 0L
    var tasks, durMs, cpuNs, gcMs = 0L
    var shuffleWrite, shuffleRead, spillDisk = 0L
    var inBytes, inRows, outBytes, outRows = 0L
  }
  final case class Job(id: Int, startMs: Long, stageIds: Seq[Int]) {
    var endMs = 0L
    var ok = false
  }
  final case class Action(func: String, ok: Boolean, phases: Seq[(String, Long, Long)])

  private val jobs = mutable.ArrayBuffer.empty[Job]
  private val jobById = mutable.HashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stages = mutable.LinkedHashMap.empty[(Int, Int), Stage]
  private val actions = mutable.ArrayBuffer.empty[Action]
  private var blockPuts = 0L

  private def stage(id: Int, attempt: Int): Stage =
    stages.getOrElseUpdate((id, attempt), new Stage(id, attempt, stageJob.getOrElse(id, -1)))

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val j = Job(e.jobId, e.time, e.stageIds)
      jobs += j
      jobById(e.jobId) = j
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobById.get(e.jobId).foreach { j =>
        j.endMs = e.time
        j.ok = e.jobResult == JobSucceeded
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = Tracer.this.synchronized {
      val i = e.stageInfo
      stage(i.stageId, i.attemptNumber()).submitMs = i.submissionTime.getOrElse(System.currentTimeMillis())
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val i = e.stageInfo
      val s = stage(i.stageId, i.attemptNumber())
      i.submissionTime.foreach(s.submitMs = _)
      s.endMs = i.completionTime.getOrElse(System.currentTimeMillis())
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val s = stage(e.stageId, e.stageAttemptId)
      s.tasks += 1
      s.durMs += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.spillDisk += m.diskBytesSpilled
        s.inBytes += m.inputMetrics.bytesRead
        s.inRows += m.inputMetrics.recordsRead
        s.outBytes += m.outputMetrics.bytesWritten
        s.outRows += m.outputMetrics.recordsWritten
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = Tracer.this.synchronized {
      val i = e.blockUpdatedInfo
      if (i.storageLevel.isValid && i.memSize + i.diskSize > 0) blockPuts += 1
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(func: String, qe: QueryExecution, ok: Boolean): Unit = {
      val ph = qe.tracker.phases.toSeq.map { case (n, p) => (n, p.startTimeMs, p.endTimeMs) }
      Tracer.this.synchronized { actions += Action(func, ok, ph) }
    }
    override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit =
      record(func, qe, ok = true)
    override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit =
      record(func, qe, ok = false)
  }

  private var installed = false

  def install(): Unit = if (!installed) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    installed = true
  }

  /** Waits for queued events, then detaches both listeners. */
  def remove(): Unit = if (installed) {
    drain()
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    installed = false
  }

  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  /** Cached or checkpointed blocks stored while the listener was installed. */
  def blocksPut: Long = synchronized { blockPuts }

  /** Bytes of cached and checkpointed RDD blocks held right now. */
  def blockBytesHeld: Long =
    spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum

  /** Job, stage and action records as JSON lines (no parents yet: the
    * launcher links them to queries by time window). */
  def eventLines(): Seq[String] = synchronized {
    val js = jobs.map { j =>
      s"""{"kind":"job","job":${j.id},"start_ms":${j.startMs},"end_ms":${j.endMs},"ok":${j.ok},"stages":${j.stageIds.mkString("[", ",", "]")}}"""
    }
    val ss = stages.values.map { s =>
      s"""{"kind":"stage","stage":${s.id},"attempt":${s.attempt},"job":${s.jobId},"start_ms":${s.submitMs},"end_ms":${s.endMs},""" +
        s""""tasks":${s.tasks},"task_ms":${s.durMs},"cpu_ns":${s.cpuNs},"gc_ms":${s.gcMs},""" +
        s""""shuffle_write":${s.shuffleWrite},"shuffle_read":${s.shuffleRead},"spill_disk":${s.spillDisk},""" +
        s""""in_bytes":${s.inBytes},"in_rows":${s.inRows},"out_bytes":${s.outBytes},"out_rows":${s.outRows}}"""
    }
    val as = actions.map { a =>
      val ph = a.phases.map { case (n, s, e) => s"""{"phase":${Json.str(n)},"start_ms":$s,"end_ms":$e}""" }
      s"""{"kind":"action","func":${Json.str(a.func)},"ok":${a.ok},"phases":${ph.mkString("[", ",", "]")}}"""
    }
    (js ++ ss ++ as).toSeq
  }
}
