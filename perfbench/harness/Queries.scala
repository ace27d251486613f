package perfbench

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.util.{ArrayList => JList, LinkedHashMap => JMap}

/** The registry workload: each planned query runs once, in the
  * planned order, timed from the registry call to the end of a forced
  * `queryExecution.toRdd.foreach` (as `graft.Bench` times it). Its result
  * is then written out, untimed, for the oracle check in `run.py`.
  */
object Queries {

  def run(
      spark: SparkSession,
      fixture: String,
      plan: JsonNode,
      tracer: Option[Tracer],
      result: JMap[String, AnyRef],
      work: String
  ): Unit = {
    val registry = graft.SparkEntry.queries
    val ops = new JList[AnyRef]
    Harness.strings(plan.get("queries")).zipWithIndex.foreach { case (name, i) =>
      // start from a clean block manager, as graft.Bench does
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      tracer.foreach(_.begin(i))
      val t0 = Harness.nowMs()
      var tBuilt = t0
      var df: DataFrame = null
      var error = ""
      val status =
        try {
          df = registry(name)(spark, fixture)
          tBuilt = Harness.nowMs()
          df.queryExecution.toRdd.foreach(_ => ())
          "ok"
        } catch {
          case e: Throwable if isScaleGuard(e) => "guard_skipped"
          case e: Throwable                    => error = String.valueOf(e.getMessage).take(300); "failed"
        }
      val t1 = Harness.nowMs()
      val rec = new JMap[String, AnyRef]
      rec.put("name", name)
      rec.put("wall_s", Double.box((t1 - t0) / 1000.0))
      rec.put("build_s", Double.box((tBuilt - t0) / 1000.0))
      tracer.foreach { t =>
        val root = t.span(i, -1, "op", t0, t1)
        val build = t.span(i, root, "queries.build", t0, tBuilt)
        val exec = t.span(i, root, "execute", tBuilt, t1)
        if (df != null) df.queryExecution.tracker.phases.foreach { case (phase, ps) =>
          val parent = if (ps.startTimeMs < tBuilt) build else exec
          t.span(i, parent, s"plan.$phase", ps.startTimeMs.toDouble, ps.endTimeMs.toDouble)
        }
        if (df != null) t.recordPhases(df.queryExecution)
        t.end(i, root)
      }
      if (status == "ok") {
        val out = s"$work/results/$i"
        val c0 = System.nanoTime()
        try df.write.mode("overwrite").parquet(out)
        catch { case e: Throwable => rec.put("check_error", String.valueOf(e.getMessage).take(300)) }
        rec.put("result", out)
        rec.put("write_s", Double.box((System.nanoTime() - c0) / 1e9))
      }
      rec.put("status", status)
      if (error.nonEmpty) rec.put("error", error)
      ops.add(rec)
    }
    result.put("ops", ops)
    tracer.foreach(_ => if (plan.path("functions").asBoolean(false)) result.put("functions", Functions.run(spark, fixture)))
  }

  /** True iff the failure chain carries the nearDupPairs validation-bound
    * guard marker: a designed refusal, counted apart from failures.
    */
  def isScaleGuard(e: Throwable): Boolean = {
    var c: Throwable = e
    var depth = 0
    while (c != null && depth < 20) {
      val m = c.getMessage
      if (m != null && m.contains(graft.ops.Similarity.ScaleGuardMarker)) return true
      c = if (c.getCause eq c) null else c.getCause
      depth += 1
    }
    false
  }
}
