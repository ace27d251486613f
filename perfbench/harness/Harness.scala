package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.{ArrayList => JList, LinkedHashMap => JMap}
import scala.jdk.CollectionConverters._

/** Benchmark-side JVM entry point. It reaches the engine only through its
  * public surface (`SparkEntry`, the pipeline/spec/extract/transform/load
  * objects) and writes one JSON result file that `run.py` turns into
  * metrics.
  *
  * {{{
  * Harness --mode list  --out reg.json
  * Harness --mode run   --out r.json --fixture DIR --cpus N --work DIR
  *         --workload registry|etl --plan plan.json --trace 0|1
  * }}}
  */
object Harness {
  val mapper = new ObjectMapper

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val out = opts("out")
    if (opts("mode") == "list") {
      write(out, registryListing())
      return
    }
    val work = opts("work")
    val spark = buildSession(opts("cpus").toInt, work)
    warmUp(spark, opts("fixture"))
    val readyMs = System.currentTimeMillis()
    val result = new JMap[String, AnyRef]
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    result.put("setup_s", Double.box((readyMs - jvmStart) / 1000.0))
    try {
      val plan = mapper.readTree(Files.readString(Paths.get(opts("plan"))))
      val tracer = if (opts.get("trace").contains("1")) Some(new Tracer(spark)) else None
      opts("workload") match {
        case "registry" => Queries.run(spark, opts("fixture"), plan, tracer, result, work)
        case "etl"      => Etl.run(spark, plan, tracer, result, work)
        case w          => throw new IllegalArgumentException(s"unknown workload $w")
      }
      tracer.foreach(t => result.put("trace", t.report()))
      result.put("peak_rss_mb", Double.box(peakRssMb()))
    } finally stop(spark)
    write(out, result)
  }

  def stop(spark: SparkSession): Unit = {
    try org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    catch { case _: Throwable => }
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** The session every workload runs in: one JVM, `local[cpus]`, shuffle
    * partitions = cpus, the RocksDB state store the streaming drains
    * expect, and every temporary directory inside `work`.
    */
  def buildSession(cpus: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Generic plans only (never a workload query): a scan + hash
    * aggregate, a broadcast join and a window, as `graft.Bench` warms up.
    */
  def warmUp(spark: SparkSession, fixture: String): Unit = {
    import org.apache.spark.sql.functions._
    spark.read.parquet(s"$fixture/lineitem.parquet").groupBy("l_returnflag").count().collect()
    val ev = graft.queries.Tables.t(spark, fixture, "events")
    val dim = ev.groupBy("event_type").count()
    val w = org.apache.spark.sql.expressions.Window.partitionBy("event_type").orderBy("event_id")
    ev.join(broadcast(dim), "event_type")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 1).count()
  }

  def registryListing(): JMap[String, AnyRef] = {
    val m = new JMap[String, AnyRef]
    val oracles = graft.SparkEntry.oracleSql
    val names = graft.SparkEntry.queries.keys.toSeq.sorted
    m.put("queries", new JList[String](names.asJava))
    val o = new JMap[String, String]
    names.filter(oracles.contains).foreach(n => o.put(n, oracles(n)))
    m.put("oracles", o)
    m
  }

  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(0.0)

  def write(path: String, value: AnyRef): Unit =
    mapper.writerWithDefaultPrettyPrinter().writeValue(new java.io.File(path), value)

  def strings(n: JsonNode): Seq[String] = n.elements().asScala.map(_.asText).toSeq

  def nowMs(): Double = Clock.ms()

  /** Wall clock with sub-millisecond resolution on the epoch-ms scale the
    * Spark listener events use, so harness spans and listener spans share
    * one time axis.
    */
  object Clock {
    private val baseMs = System.currentTimeMillis().toDouble
    private val baseNs = System.nanoTime()
    def ms(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6
  }
}
