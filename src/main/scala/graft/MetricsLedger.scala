package graft

import scala.collection.mutable

import com.fasterxml.jackson.databind.node.{JsonNodeFactory, ObjectNode}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.graftbridge.PlanBridge

/** The engine's one metrics listener: counts Spark jobs, the wall time
  * covered by at least one running job, summed task run time, shuffle
  * write bytes and spill bytes. Listener events arrive on an async
  * bus, so [[measure]] drains the bus before and after its body; the
  * counts it returns hold every event the body's actions posted.
  * `wall − job_wall_s` is the driver time with no job running
  * (planning, the driver side of collects, checkpoint bookkeeping).
  */
private[graft] final class MetricsLedger(sc: SparkContext)
    extends SparkListener with AutoCloseable {
  private var jobs = 0
  private var jobWallMs, taskMs, shuffleWrite, memSpill, diskSpill = 0L
  private var busySince = 0L // start of the current run of overlapping jobs
  private val running = mutable.Set.empty[Int]

  sc.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (running.isEmpty) busySince = e.time
    running += e.jobId
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    if (running.remove(e.jobId)) {
      jobs += 1
      if (running.isEmpty) jobWallMs += e.time - busySince
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      taskMs += m.executorRunTime
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      memSpill += m.memoryBytesSpilled
      diskSpill += m.diskBytesSpilled
    }
  }

  private def drained(): MetricsLedger.Counts = {
    PlanBridge.drainListenerBus(sc)
    synchronized(MetricsLedger.Counts(
      jobs, jobWallMs, taskMs, shuffleWrite, memSpill, diskSpill))
  }

  /** Runs `body` and returns its result with the counts it caused.
    * The drains sit outside `body`, so a wall time taken inside it
    * does not include them.
    */
  def measure[T](body: => T): (T, MetricsLedger.Counts) = {
    val before = drained()
    val r = body
    (r, drained() - before)
  }

  def close(): Unit = sc.removeSparkListener(this)
}

private[graft] object MetricsLedger {
  final case class Counts(jobs: Int, jobWallMs: Long, taskMs: Long,
      shuffleWrite: Long, memSpill: Long, diskSpill: Long) {
    def jobWallS: Double = jobWallMs / 1e3

    def -(o: Counts): Counts = Counts(jobs - o.jobs,
      jobWallMs - o.jobWallMs, taskMs - o.taskMs,
      shuffleWrite - o.shuffleWrite, memSpill - o.memSpill,
      diskSpill - o.diskSpill)

    def json: ObjectNode = JsonNodeFactory.instance.objectNode()
      .put("jobs", jobs).put("job_wall_s", jobWallS).put("task_s", taskMs / 1e3)
      .put("shuffle_write", shuffleWrite).put("mem_spill", memSpill)
      .put("disk_spill", diskSpill)
  }
}
