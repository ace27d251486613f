package perfbench

import org.apache.spark.metrics.source.{CodegenMetrics, HiveCatalogMetrics}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate
import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.{ArrayList => JList, LinkedHashMap => JMap}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** In-memory tracing for the traced run: spans recorded around each call
  * into a layer, plus Spark-level counters from a listener this benchmark
  * attaches itself. Everything is written out once, by [[report]].
  *
  * Attribution: an op's window opens after a listener-bus drain and closes
  * after another, and ops run one at a time, so every event the bus
  * delivers inside the window belongs to that op.
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val spans = new JList[AnyRef]
  private var nextSpan = 0
  private val opCounters = new JList[AnyRef]
  private val totals = mutable.LinkedHashMap.empty[String, Double]
  @volatile private var currentOp = -1
  @volatile private var cur: Counters = new Counters

  /** Counters of one op. The listener-bus thread writes them, and the
    * harness thread adds the final frame's planning phases.
    */
  final class Counters {
    val c = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
    val jobs = mutable.ArrayBuffer.empty[(Int, Double, Double)]
    val jobStart = mutable.HashMap.empty[Int, Double]
    val stages = mutable.ArrayBuffer.empty[(Int, Double, Double, Int)]
    val stageJob = mutable.HashMap.empty[Int, Int]
    def add(k: String, v: Double): Unit = synchronized { c(k) += v }
    def max(k: String, v: Double): Unit = synchronized { c(k) = math.max(c(k), v) }
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      cur.jobStart(e.jobId) = e.time.toDouble
      e.stageIds.foreach(s => cur.stageJob(s) = e.jobId)
      cur.add("sched.jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      cur.jobStart.get(e.jobId).foreach(s => cur.jobs += ((e.jobId, s, e.time.toDouble)))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      cur.add("sched.stages", 1)
      for (s <- i.submissionTime; f <- i.completionTime)
        cur.stages += ((i.stageId, s.toDouble, f.toDouble, cur.stageJob.getOrElse(i.stageId, -1)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      cur.add("sched.tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        val records = m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead
        if (records > 0) cur.add("sched.useful_tasks", 1)
        cur.add("exec.task_run_ms", m.executorRunTime.toDouble)
        cur.add("exec.task_cpu_ms", m.executorCpuTime / 1e6)
        cur.add("exec.gc_ms", m.jvmGCTime.toDouble)
        cur.add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        cur.add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        cur.add("spill.mem_bytes", m.memoryBytesSpilled.toDouble)
        cur.add("spill.disk_bytes", m.diskBytesSpilled.toDouble)
        cur.add("io.input_bytes", m.inputMetrics.bytesRead.toDouble)
        cur.add("io.input_records", m.inputMetrics.recordsRead.toDouble)
        cur.add("io.output_bytes", m.outputMetrics.bytesWritten.toDouble)
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD && b.storageLevel.isValid) {
        cur.add("ops.cache_blocks", 1)
        cur.add("ops.cache_bytes", (b.memSize + b.diskSize).toDouble)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case _: SparkListenerSQLAdaptiveExecutionUpdate => cur.add("plan.aqe_updates", 1)
      case p: QueryProgressEvent =>
        // drains run in spark.newSession() children; their progress still
        // reaches the shared context's bus as an "other" event
        val pr = p.progress
        def d(k: String): Double = Option(pr.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
        cur.add("stream.batches", 1)
        cur.add("stream.batch_ms", d("triggerExecution"))
        cur.add("stream.add_batch_ms", d("addBatch"))
        cur.add("stream.wal_commit_ms", d("walCommit"))
        pr.stateOperators.foreach { so =>
          cur.add("stream.state_commit_ms", so.commitTimeMs.toDouble)
          cur.add("stream.state_rows_updated", so.numRowsUpdated.toDouble)
          cur.max("stream.state_mem_bytes", so.memoryUsedBytes.toDouble)
        }
      case _ =>
    }
  }
  sc.addSparkListener(listener)

  private val planPhases = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = recordPhases(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = recordPhases(qe)
  }
  spark.listenerManager.register(planPhases)

  private var snap: Map[String, Double] = Map.empty
  private def globals(): Map[String, Double] = Map(
    "codegen.compiles" -> CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble,
    "codegen.compile_ms" -> CodeGenerator.compileTime / 1e6,
    "io.files_discovered" -> HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount.toDouble,
    "io.file_cache_hits" -> HiveCatalogMetrics.METRIC_FILE_CACHE_HITS.getCount.toDouble)

  private val phaseSeen = java.util.Collections.newSetFromMap(
    new java.util.IdentityHashMap[QueryExecution, java.lang.Boolean])

  /** Planning-phase times of a QueryExecution, counted once each. */
  def recordPhases(qe: QueryExecution): Unit = phaseSeen.synchronized {
    if (currentOp >= 0 && phaseSeen.add(qe)) {
      qe.tracker.phases.foreach { case (phase, ps) =>
        val key = s"plan.${phase}_ms"
        cur.add(key, (ps.endTimeMs - ps.startTimeMs).toDouble)
      }
    }
  }

  /** Open op `id`: drain the bus so earlier events stay out of its window. */
  def begin(id: Int): Unit = {
    org.apache.spark.graft.ListenerBus.drain(sc)
    cur = new Counters
    phaseSeen.synchronized(phaseSeen.clear())
    snap = globals()
    currentOp = id
  }

  /** Close the op: drain, fold global counter deltas in, and turn the
    * op's jobs and stages into spans under the layer span that was open
    * when each started. Returns the op's counters.
    */
  def end(id: Int, opSpan: Int): Map[String, Double] = {
    org.apache.spark.graft.ListenerBus.drain(sc)
    currentOp = -1
    val g = globals()
    g.foreach { case (k, v) => cur.add(k, v - snap.getOrElse(k, 0.0)) }
    val jobSpan = mutable.HashMap.empty[Int, Int]
    cur.jobs.sortBy(_._2).foreach { case (jid, s, e) =>
      jobSpan(jid) = span(id, enclosing(id, opSpan, s), "job", s, e)
    }
    cur.stages.sortBy(_._2).foreach { case (_, s, e, jid) =>
      span(id, jobSpan.getOrElse(jid, enclosing(id, opSpan, s)), "stage", s, e)
    }
    val snapshot = cur.c.toMap
    snapshot.foreach { case (k, v) => totals(k) = totals.getOrElse(k, 0.0) + v }
    val rec = new JMap[String, AnyRef]
    rec.put("op", Int.box(id))
    rec.put("counters", toJava(snapshot))
    rec.put("jobs", new JList[AnyRef](cur.jobs.map(j => toJava(Map("start" -> j._2, "end" -> j._3))).asJava))
    opCounters.add(rec)
    snapshot
  }

  /** Record a span; returns its id. `parent` -1 marks an op root. */
  def span(op: Int, parent: Int, name: String, start: Double, end: Double): Int = synchronized {
    val id = nextSpan
    nextSpan += 1
    spans.add(toJava(Map("id" -> id, "op" -> op, "parent" -> parent, "name" -> name,
      "start" -> start, "end" -> end)))
    id
  }

  /** Innermost already-recorded layer span of op `op` that covers time
    * `t` (stub-side `sources.*` request spans are leaves, not layers).
    */
  private def enclosing(op: Int, root: Int, t: Double): Int = synchronized {
    var best = root
    var bestLen = Double.MaxValue
    spans.asScala.foreach { case m: JMap[_, _] =>
      val o = m.get("op").asInstanceOf[Int]
      val name = m.get("name").asInstanceOf[String]
      if (o == op && name != "job" && name != "stage" && !name.startsWith("sources.")) {
        val s = m.get("start").asInstanceOf[Double]
        val e = m.get("end").asInstanceOf[Double]
        if (s <= t && t <= e && e - s < bestLen) {
          best = m.get("id").asInstanceOf[Int]
          bestLen = e - s
        }
      }
    }
    best
  }

  def report(): JMap[String, AnyRef] = {
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(planPhases)
    val m = new JMap[String, AnyRef]
    m.put("spans", spans)
    m.put("ops", opCounters)
    m.put("totals", toJava(totals.toMap))
    m
  }

  private def toJava(m: Map[String, Any]): JMap[String, AnyRef] = {
    val j = new JMap[String, AnyRef]
    m.toSeq.sortBy(_._1).foreach { case (k, v) => j.put(k, v.asInstanceOf[AnyRef]) }
    j
  }
}
