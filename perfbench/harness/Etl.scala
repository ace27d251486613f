package perfbench

import com.fasterxml.jackson.databind.JsonNode
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.extract.QueryExec
import graft.load.{ParquetTableSink, Sink}
import graft.pipeline.HttpEntry
import graft.sources.{HttpPageClient, PagedSource}
import graft.spec.{DateMacro, ExportConfig}
import graft.transform.{TagPivot, Transforms}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.SparkSession

import java.net.{HttpURLConnection, InetSocketAddress, URI}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.{ArrayList => JList, LinkedHashMap => JMap}
import scala.jdk.CollectionConverters._

/** The reference job end to end: triggers are POSTed one at a time to an
  * [[HttpEntry]]; each runs [[graft.pipeline.Pipeline.run]] over the
  * trigger's export-config document, and every config goes
  * PagedSource (HTTP, against [[Stub]]) → QueryExec → Transforms/TagPivot
  * → ParquetTableSink.
  */
object Etl {
  val TagsCol = "lfm.content.tags"

  def run(
      spark: SparkSession,
      plan: JsonNode,
      tracer: Option[Tracer],
      result: JMap[String, AnyRef],
      work: String
  ): Unit = {
    val stub = new Stub(
      Files.readAllLines(Paths.get(plan.get("corpus").asText)).asScala.toArray.map { l =>
        val p = l.split(",")
        (p(0).toLong, p(1), p(2).toDouble)
      },
      plan.get("seed").asLong, plan.get("fail_pct").asInt)
    val endpoint = stub.start()
    val today = java.time.LocalDate.parse(plan.get("today").asText)
    val pageSize = plan.get("page_size").asText
    val dim = spark.read.parquet(plan.get("dim").asText)
    val sink = new ParquetTableSink(spark, s"$work/tables")
    val configs = new JList[AnyRef]
    val triggers = new JList[AnyRef]
    var doc = ""
    var disposition: Sink.WriteDisposition = Sink.WriteAppend
    var trigger = 0
    var parseMs = 0.0

    def process(cfg: ExportConfig, start: Option[String], end: Option[String]): Long = {
      val id = configs.size
      tracer.foreach(_.begin(id))
      val rec = new JMap[String, AnyRef]
      rec.put("trigger", Int.box(trigger))
      rec.put("config", cfg.configId)
      val t0 = Harness.nowMs()
      val facts = spark.read.format("graft.sources.PagedSource")
        .option("endpoint", endpoint).option("pageSize", pageSize).load()
        .select(col("brand_id").as("lfm.brand_view.id"), col("date_str").as("lfm.fact.date_str"),
          col("metric").as("lfm.metric"))
      val t1 = Harness.nowMs()
      val dims =
        if (cfg.metaDimensions.isEmpty) Nil
        else Seq(QueryExec.DimJoin(dim, "lfm.brand_view.id", "brand_key", cfg.metaDimensions.keys.toSeq))
      val extracted =
        if (cfg.isContentDataset)
          QueryExec.runContent(facts, cfg, "lfm.brand_view.id", "lfm.fact.date_str",
            start.get, end.get, today, dims)
        else
          QueryExec.run(facts, cfg, "lfm.brand_view.id", "lfm.fact.date_str",
            start.flatMap(DateMacro.resolve(_, today)), end.flatMap(DateMacro.resolve(_, today)), dims)
      val t2 = Harness.nowMs()
      var df = Transforms.projectColumns(Transforms.dropRowsContaining(extracted), cfg.orderedColumns)
      df = Transforms.castColumns(df, cfg.dtypes - TagsCol)
      val tagged = df.columns.contains(TagsCol)
      if (tagged) df = TagPivot.pivotTags(df, TagsCol)
      val dated = cfg.dtypes.filter(_._2 == "datetime64[ns]").keySet
      df = Transforms.formatDates(df,
        cfg.groupBy.keys.filter(dated).toSeq, cfg.metaDimensions.keys.filter(dated).toSeq)
      df = Transforms.sanitizeColumnNames(df)
      val t3 = Harness.nowMs()
      val table = Paths.get(sink.path(cfg.configId))
      val before = parquetFiles(table)
      val rows = sink.load(df, cfg.configId, disposition)
      val t4 = Harness.nowMs()
      rec.put("wall_s", Double.box((t4 - t0) / 1000.0))
      rec.put("rows", Long.box(rows))
      rec.put("pivot_columns", Int.box(if (tagged) df.columns.count(_.startsWith("lfm&content&tags&")) else 0))
      rec.put("files_written", Int.box((parquetFiles(table) -- before).size))
      rec.put("table", table.toString)
      rec.put("start", Double.box(t0))
      rec.put("end", Double.box(t4))
      tracer.foreach { t =>
        val root = t.span(id, -1, "config", t0, t4)
        t.span(id, root, "sources", t0, t1)
        t.span(id, root, "extract", t1, t2)
        t.span(id, root, "transform", t2, t3)
        t.span(id, root, "load", t3, t4)
        stub.requestsBetween(t0, t4).foreach { r =>
          t.span(id, root, if (r.page) "sources.page" else "sources.meta", r.start, r.end)
        }
        t.end(id, root)
      }
      configs.add(rec)
      rows
    }

    val entry = new HttpEntry(
      () => {
        val p0 = Harness.nowMs()
        val parsed = ExportConfig.parseAll(doc)
        parseMs += Harness.nowMs() - p0
        parsed
      },
      process)
    val addr = entry.start(0)
    try {
      // closed loop, one trigger at a time; after each, untimed, a copy of
      // every table as it stands, for the output check
      plan.get("triggers").elements().asScala.zipWithIndex.foreach { case (tr, i) =>
        trigger = i
        doc = tr.get("configs").asText
        disposition = Sink.WriteDisposition.fromString(tr.get("disposition").asText)
        parseMs = 0.0
        val t0 = Harness.nowMs()
        val (code, body) = post(s"http://127.0.0.1:${addr.getPort}/", tr.get("body").asText)
        val t1 = Harness.nowMs()
        val snapshot = Paths.get(s"$work/snapshots/$i")
        copyTree(Paths.get(s"$work/tables"), snapshot)
        val rec = new JMap[String, AnyRef]
        rec.put("wall_s", Double.box((t1 - t0) / 1000.0))
        rec.put("start", Double.box(t0))
        rec.put("end", Double.box(t1))
        rec.put("code", Int.box(code))
        rec.put("body", body)
        rec.put("parse_ms", Double.box(parseMs))
        rec.put("snapshot", snapshot.toString)
        triggers.add(rec)
      }
    } finally {
      entry.stop()
      stub.stop()
    }
    result.put("configs", configs)
    result.put("triggers", triggers)
    result.put("stub", stub.report())
  }

  private def parquetFiles(dir: java.nio.file.Path): Set[String] =
    if (!Files.isDirectory(dir)) Set.empty
    else {
      val s = Files.list(dir)
      try s.iterator().asScala.map(_.getFileName.toString).filter(_.endsWith(".parquet")).toSet
      finally s.close()
    }

  private def copyTree(from: java.nio.file.Path, to: java.nio.file.Path): Unit =
    if (Files.isDirectory(from)) {
      val s = Files.walk(from)
      try s.iterator().asScala.foreach { p =>
        val dest = to.resolve(from.relativize(p).toString)
        if (Files.isDirectory(p)) Files.createDirectories(dest) else Files.copy(p, dest)
      } finally s.close()
    }

  private def post(url: String, body: String): (Int, String) = {
    val conn = URI.create(url).toURL.openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod("POST")
    conn.setDoOutput(true)
    conn.setReadTimeout(170000)
    conn.getOutputStream.write(body.getBytes(UTF_8))
    conn.getOutputStream.close()
    val code = conn.getResponseCode
    val in = if (code < 400) conn.getInputStream else conn.getErrorStream
    try (code, new String(in.readAllBytes(), UTF_8))
    finally { in.close(); conn.disconnect() }
  }
}

/** Loopback stand-in for the paged analytics API, speaking the wire
  * format [[HttpPageClient]] sends: a meta request for the row count and
  * one GET per page with the pushed filters, columns, limit and partial
  * group-by. A seeded share of distinct requests is answered once with a
  * 503 so the pager's retry path runs.
  */
final class Stub(rows: Array[(Long, String, Double)], seed: Long, failPct: Int) {
  import Stub.Req
  private val log = new ConcurrentLinkedQueue[Req]()
  private val failed = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)

  def start(): String = {
    server.createContext("/lfm", (ex: HttpExchange) => handle(ex))
    server.setExecutor(pool)
    server.start()
    s"http://127.0.0.1:${server.getAddress.getPort}/lfm"
  }

  def stop(): Unit = {
    server.stop(0)
    pool.shutdownNow()
    pool.awaitTermination(10, java.util.concurrent.TimeUnit.SECONDS)
  }

  def requestsBetween(from: Double, to: Double): Seq[Req] =
    log.asScala.filter(r => r.start >= from && r.end <= to).toSeq

  def report(): JMap[String, AnyRef] = {
    val l = new JList[AnyRef]
    log.asScala.foreach { r =>
      val m = new JMap[String, AnyRef]
      m.put("start", Double.box(r.start)); m.put("end", Double.box(r.end))
      m.put("page", Boolean.box(r.page)); m.put("status", Int.box(r.status))
      m.put("bytes", Long.box(r.bytes)); m.put("rows", Long.box(r.rows))
      l.add(m)
    }
    val m = new JMap[String, AnyRef]
    m.put("requests", l)
    m
  }

  private def handle(ex: HttpExchange): Unit = {
    val t0 = Harness.nowMs()
    val raw = Option(ex.getRequestURI.getRawQuery).getOrElse("")
    val params = HttpPageClient.parseQuery(raw)
    val isPage = params.exists(_._1 == "page")
    val h = scala.util.hashing.MurmurHash3.stringHash(raw, seed.toInt)
    val (status, body) =
      if (Math.floorMod(h, 100) < failPct && failed.add(raw)) (503, "")
      else (200, respond(params))
    val bytes = body.getBytes(UTF_8)
    ex.sendResponseHeaders(status, if (bytes.isEmpty) -1 else bytes.length)
    if (bytes.nonEmpty) { val os = ex.getResponseBody; os.write(bytes); os.close() }
    ex.close()
    val served = if (!isPage || body.isEmpty) 0L else body.count(_ == '\n') + 1L
    log.add(Req(t0, Harness.nowMs(), isPage, status, bytes.length.toLong, served))
  }

  private def respond(params: Seq[(String, String)]): String = {
    def one(k: String): Option[String] = params.collectFirst { case (`k`, v) => v }
    if (one("meta").contains("1")) return rows.length.toString
    val page = one("page").get.toInt
    val pageSize = one("pageSize").get.toInt
    val filters = HttpPageClient.decodeFilters(params.collect { case ("filter", v) => v })
    val from = page * pageSize
    val slice = rows.slice(from, math.min(from + pageSize, rows.length)).iterator
      .filter(PagedSource.accept(filters, _))
    one("aggs") match {
      case Some(specs) =>
        val groupCols = one("groupBy").map(_.split(',').toSeq.filter(_.nonEmpty)).getOrElse(Nil)
        val acc = scala.collection.mutable.LinkedHashMap.empty[Seq[String], (Long, Double, Double, Double)]
        slice.foreach { r =>
          val key = groupCols.map { case "brand_id" => r._1.toString; case _ => r._2 }
          val (c, s, mn, mx) = acc.getOrElse(key, (0L, 0.0, Double.PositiveInfinity, Double.NegativeInfinity))
          acc(key) = (c + 1, s + r._3, math.min(mn, r._3), math.max(mx, r._3))
        }
        acc.iterator.map { case (key, (c, s, mn, mx)) =>
          (key ++ specs.split(',').toSeq.map {
            case "count:*" | "count:metric" => c.toString
            case "sum:metric"               => s.toString
            case "min:metric"               => mn.toString
            case "max:metric"               => mx.toString
            case other                      => throw new IllegalArgumentException(other)
          }).mkString(",")
        }.mkString("\n")
      case None =>
        val cols = one("cols").map(_.split(',').toSeq.filter(_.nonEmpty)).getOrElse(Nil)
        val capped = one("limit").map(_.toInt).fold(slice)(slice.take)
        capped.map { r =>
          cols.map {
            case "brand_id" => r._1.toString
            case "date_str" => r._2
            case _          => r._3.toString
          }.mkString(",")
        }.mkString("\n")
    }
  }
}

object Stub {
  final case class Req(start: Double, end: Double, page: Boolean, status: Int, bytes: Long, rows: Long)
}
