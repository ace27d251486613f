package graft.util

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** The engine's one `SparkListener`: job spans, per-stage records and
  * cumulative task totals. Delivery is asynchronous, so drain the bus
  * (`org.apache.spark.graft.ListenerBus.drain`) before reading; `clear()`
  * drops the spans and stage records between queries, the totals stay
  * cumulative and are compared as snapshots.
  */
final class QueryProfile extends SparkListener {
  import QueryProfile._

  private val openJobs = new ConcurrentHashMap[Int, (Long, String)]()
  private val doneJobs = new ConcurrentLinkedQueue[JobSpan]()
  private val doneStages = new ConcurrentLinkedQueue[StageRec]()
  // per-stage max single-task run time — the skew signal aggregate stage
  // metrics hide (wall ≈ maxTask on an otherwise idle box)
  private val maxTask = new ConcurrentHashMap[Int, Long]()
  private val shuffleRead, shuffleWrite, memSpill, diskSpill, recordsRead = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val desc = props.flatMap(p => Option(p.getProperty("spark.job.description")))
      .orElse(props.flatMap(p => Option(p.getProperty("callSite.short"))))
      .getOrElse("?")
    openJobs.put(e.jobId, (e.time, desc))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(openJobs.remove(e.jobId)).foreach { case (start, desc) =>
      doneJobs.add(JobSpan(e.jobId, start, e.time, desc))
    }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
    val m = te.taskMetrics
    if (m != null) {
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      memSpill.addAndGet(m.memoryBytesSpilled)
      diskSpill.addAndGet(m.diskBytesSpilled)
      recordsRead.addAndGet(m.inputMetrics.recordsRead)
      maxTask.merge(te.stageId, m.executorRunTime, (a, b) => math.max(a, b))
    }
  }

  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
    val i = sc.stageInfo
    val m = i.taskMetrics
    doneStages.add(StageRec(
      runMs = m.executorRunTime, cpuMs = m.executorCpuTime / 1000000,
      maxTaskMs = Option(maxTask.remove(i.stageId)).getOrElse(-1L), gcMs = m.jvmGCTime,
      tasks = i.numTasks, recordsIn = m.inputMetrics.recordsRead,
      shuffleReadBytes = m.shuffleReadMetrics.totalBytesRead,
      shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten,
      diskSpillBytes = m.diskBytesSpilled, name = i.name))
  }

  def totals: Totals =
    Totals(shuffleRead.get, shuffleWrite.get, memSpill.get, diskSpill.get, recordsRead.get)

  /** Completed jobs since the last `clear()`, by start time. */
  def jobs: Seq[JobSpan] = doneJobs.asScala.toSeq.sortBy(_.start)

  /** Completed stages since the last `clear()`, in completion order. */
  def stages: Seq[StageRec] = doneStages.asScala.toSeq

  def clear(): Unit = { openJobs.clear(); doneJobs.clear(); doneStages.clear() }
}

object QueryProfile {
  final case class JobSpan(id: Int, start: Long, end: Long, desc: String)

  final case class StageRec(
      runMs: Long, cpuMs: Long, maxTaskMs: Long, gcMs: Long, tasks: Int,
      recordsIn: Long, shuffleReadBytes: Long, shuffleWriteBytes: Long,
      diskSpillBytes: Long, name: String)

  /** Cumulative task totals (bytes; records for `recordsRead`). */
  final case class Totals(
      shuffleRead: Long, shuffleWrite: Long, memSpill: Long, diskSpill: Long,
      recordsRead: Long) {
    def -(o: Totals): Totals = Totals(
      shuffleRead - o.shuffleRead, shuffleWrite - o.shuffleWrite,
      memSpill - o.memSpill, diskSpill - o.diskSpill, recordsRead - o.recordsRead)
  }

  def attach(spark: SparkSession): QueryProfile = {
    val p = new QueryProfile
    spark.sparkContext.addSparkListener(p)
    p
  }
}
