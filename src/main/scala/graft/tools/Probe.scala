package graft.tools

import graft.util.{GraftSession, QueryProfile}
import org.apache.spark.graft.ListenerBus
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.streaming.StreamingQueryListener

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.jdk.CollectionConverters._

/** Attribution for registered queries, on the session `graft.Bench` times:
  *
  * {{{
  * SPARK_GRAFT_CPUS=8 sbt "runMain graft.tools.Probe <plan|scans|jobs|stages|stream> <sfDir> [query ...]"
  * }}}
  *
  * Every mode runs each named query (all registered queries when none is
  * named) [[Repeat]] times through one loop: reset caches, build the frame,
  * force every row (`queryExecution.toRdd.foreach` — a `count()` would let
  * Catalyst prune computed columns that cannot change the row count), and
  * drain the listener bus so the records are complete. Each run prints its
  * wall, its Spark jobs, the job-covered time and the driver-only gap
  * between jobs (planning, collects, commit protocol, artifact reads),
  * stages and input records. After the final run the mode prints:
  *  - `plan`: the formatted executed plan — look for PushedFilters on
  *    scans, pruned ReadSchema, BroadcastHashJoin for dimension joins,
  *    partial_ aggregates, WholeStageCodegen over the hot path;
  *  - `scans`: how often each parquet location appears as a scan node,
  *    FLAG past two. Eager gates execute inside the query fn and return a
  *    checkpointed frame whose plan is a bare RDD scan; for those the
  *    run line's records read ÷ fixture rows is the executed multiplicity;
  *  - `jobs`: every job's span and description;
  *  - `stages`: the 15 heaviest stages — run, cpu, max task (the skew
  *    signal), gc, tasks, records in, shuffle bytes, spill; per-stage run
  *    time does not lie when `explain` shows codegen stars on a stage that
  *    runs interpreted;
  *  - `stream`: one line per micro-batch with the `StreamingQueryProgress`
  *    duration breakdown and per-state-operator commit times, plus the
  *    stream-start overhead before each query's first progress event.
  */
object Probe {
  private val Repeat = 3

  private val Modes = Set("plan", "scans", "jobs", "stages", "stream")
  private val scanRe = "Location: [A-Za-z]*FileIndex(?:\\([0-9]+ paths\\))? *\\[([^,\\]]+)".r

  def main(args: Array[String]): Unit = {
    require(args.length >= 2 && Modes(args(0)),
      "usage: Probe <plan|scans|jobs|stages|stream> <sfDir> [query ...]")
    val (mode, dir) = (args(0), args(1))
    val names =
      if (args.length > 2) args.drop(2).toSeq
      else graft.SparkEntry.queries.keys.toSeq.sorted
    // registered through the conf key, which every newSession() re-reads,
    // so the drains' state-scoped sessions report too
    val spark = GraftSession.builder(GraftSession.cpus)
      .config("spark.sql.streaming.streamingQueryListeners", classOf[StreamRecorder].getName)
      .getOrCreate()
    val profile = QueryProfile.attach(spark)
    try names.foreach { name =>
      val fn = graft.SparkEntry.queries.getOrElse(name, sys.error(s"unknown query: $name"))
      try {
        var df: org.apache.spark.sql.DataFrame = null
        for (i <- 1 to Repeat) {
          GraftSession.resetCaches(spark)
          ListenerBus.drain(spark.sparkContext)
          profile.clear()
          StreamRecorder.clear()
          val before = profile.totals
          val t0 = System.currentTimeMillis()
          df = fn(spark, dir)
          df.queryExecution.toRdd.foreach(_ => ())
          val wall = System.currentTimeMillis() - t0
          ListenerBus.drain(spark.sparkContext)
          val jobMs = coveredMs(profile.jobs, t0)
          println(f"[probe] $name run=$i wall=${wall / 1000.0}%.2fs jobs=${profile.jobs.size} " +
            f"jobTime=${jobMs / 1000.0}%.2fs driverGap=${(wall - jobMs) / 1000.0}%.2fs " +
            f"stages=${profile.stages.size} recordsRead=${(profile.totals - before).recordsRead}")
        }
        mode match {
          case "plan" =>
            println(df.queryExecution.explainString(FormattedMode))
          case "scans" =>
            val counts = scanRe.findAllMatchIn(df.queryExecution.explainString(FormattedMode))
              .map(_.group(1).split('/').last).toSeq
              .groupBy(identity).view.mapValues(_.size).toSeq.sortBy(-_._2)
            val flag = if (counts.exists(_._2 > 2)) " FLAG" else ""
            println(s"[probe] $name scans=${counts.map(_._2).sum}$flag " +
              counts.map { case (p, c) => s"$c x $p" }.mkString("; "))
          case "jobs" =>
            profile.jobs.foreach { j =>
              println(f"[probe]   job=${j.id}%3d ${(j.end - j.start) / 1000.0}%6.2fs  ${j.desc.take(110)}")
            }
          case "stages" =>
            profile.stages.sortBy(-_.runMs).take(15).foreach { r =>
              println(f"[probe]   run=${r.runMs}%8d ms cpu=${r.cpuMs}%8d " +
                f"maxTask=${r.maxTaskMs}%8d gc=${r.gcMs}%6d tasks=${r.tasks}%4d " +
                f"recIn=${r.recordsIn}%10d shufR=${r.shuffleReadBytes / 1024}%9d KB " +
                f"shufW=${r.shuffleWriteBytes / 1024}%9d KB " +
                f"spill=${r.diskSpillBytes / 1024 / 1024}%5d MB  ${r.name.take(60)}")
            }
          case "stream" =>
            StreamRecorder.batches.asScala.foreach(b => println(s"[probe]   $b"))
            println(s"[probe] $name batches=${StreamRecorder.batches.size} " +
              s"queryStarts=${StreamRecorder.starts.get} " +
              s"startToFirstProgressMs=${StreamRecorder.startGapMs.get}")
        }
      } catch {
        case e: Exception =>
          println(s"[probe] $name ERROR ${e.getClass.getSimpleName}: " +
            String.valueOf(e.getMessage).take(120))
      }
    } finally GraftSession.stop(spark)
  }

  /** Wall ms from `t0` during which some job was running: the merged
    * union of the job spans; the rest of the wall is driver-only gap.
    */
  private def coveredMs(jobs: Seq[QueryProfile.JobSpan], t0: Long): Long = {
    var covered = 0L
    var cursor = t0
    jobs.foreach { j =>
      val s = math.max(j.start, cursor)
      if (j.end > s) { covered += j.end - s; cursor = j.end }
    }
    covered
  }
}

/** Streaming progress recorder for `Probe stream`: a public zero-arg class,
  * as the conf registration requires; every session's instance records
  * into the companion.
  */
class StreamRecorder extends StreamingQueryListener {
  import StreamRecorder._

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = {
    starts.incrementAndGet()
    startedAt.put(e.id, System.currentTimeMillis())
  }

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    Option(startedAt.remove(p.id)).foreach(t0 => startGapMs.addAndGet(System.currentTimeMillis() - t0))
    def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue()).getOrElse(-1L)
    val ops = p.stateOperators.zipWithIndex.map { case (so, i) =>
      s"""{"op":$i,"name":"${so.operatorName}","stores":${so.numShufflePartitions},""" +
        s""""rowsTotal":${so.numRowsTotal},"commitMs":${so.commitTimeMs},""" +
        s""""updatedMs":${so.allUpdatesTimeMs},"removedMs":${so.allRemovalsTimeMs}}"""
    }.mkString("[", ",", "]")
    batches.add(
      s"""{"batch":${p.batchId},"name":"${Option(p.name).getOrElse("?")}",""" +
        s""""triggerMs":${d("triggerExecution")},"planMs":${d("queryPlanning")},""" +
        s""""getBatchMs":${d("getBatch")},"latestOffsetMs":${d("latestOffset")},""" +
        s""""walCommitMs":${d("walCommit")},"commitOffsetsMs":${d("commitOffsets")},""" +
        s""""addBatchMs":${d("addBatch")},"stateOps":$ops}""")
  }

  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}

object StreamRecorder {
  val batches = new ConcurrentLinkedQueue[String]()
  val starts = new AtomicInteger
  /** Sum over queries of (first progress event − query start): the
    * stream-start overhead (source resolution, checkpoint dir setup,
    * offset log init) that precedes the first trigger.
    */
  val startGapMs = new AtomicLong
  private val startedAt = new ConcurrentHashMap[java.util.UUID, Long]()

  def clear(): Unit = { batches.clear(); starts.set(0); startGapMs.set(0); startedAt.clear() }
}
