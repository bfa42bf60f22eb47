package graft.api

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.storage.{ScanProbe, SeriesStore}
import graft.sydraql.{CompileOptions, Engine, QueryError, QueryProfile}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.Executors
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** The reference's HTTP surface rebuilt on the JDK server (zero extra
  * deps): ingest, range query, tag find, sydraQL, SQL-compat, metrics,
  * status (`/root/reference/src/sydra/http.zig`; §2.3/§2.14/§2.15 of
  * SURVEY.md). Bearer auth guards the api paths when a token is configured
  * (`http.zig:74-85`).
  *
  * This is the control plane: responses are capped (`maxRows`) — bulk
  * extraction belongs to the DataFrame/parquet surface, not JSON-over-HTTP.
  */
final class HttpApi(store: SeriesStore, token: Option[String] = None, maxRows: Int = 10000) {

  private val mapper = new ObjectMapper()
  private val ingestTotal = new AtomicLong
  private val queryTotal = new AtomicLong
  private val errorTotal = new AtomicLong
  private def translations = TranslationLog.translations
  private def fallbacks = TranslationLog.fallbacks
  private var server: HttpServer = _
  // request handlers; non-daemon threads, so stop() must shut it down or
  // a JVM whose main returns never exits
  private val pool = Executors.newFixedThreadPool(4)

  def start(port: Int = 0): Int = {
    // respond() writes the headers, then the body: with Nagle on, the body
    // waits for the client's delayed ACK of the headers (~40 ms per reply).
    // The JDK server sets TCP_NODELAY on accepted sockets only under this
    // property, which it reads once, when its config class loads on the
    // first HttpServer.create in the JVM — so it is set before that.
    System.setProperty("sun.net.httpserver.nodelay", "true")
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
    server.setExecutor(pool)
    server.createContext("/status", (ex: HttpExchange) => respond(ex, 200, """{"status":"ok"}"""))
    server.createContext("/metrics", (ex: HttpExchange) => handleSafely(ex)(handleMetrics))
    // debug endpoints (http.zig:87-119): compat stats + pg catalog dump
    server.createContext("/debug/compat/stats", (ex: HttpExchange) =>
      respond(ex, 200, s"""{"translations":${translations.get},"fallbacks":${fallbacks.get},"cache_hits":${TranslationLog.cacheHits.get}}"""))
    server.createContext("/debug/compat/catalog", (ex: HttpExchange) =>
      handleSafely(ex)(e => respond(e, 200, mapper.writeValueAsString(PgCatalog.toJsonNode(mapper)))))
    // allocator-shard stats have no JVM analog (http.zig:96-98); report
    // heap occupancy in the same slot
    server.createContext("/debug/alloc/stats", (ex: HttpExchange) => {
      val rt = Runtime.getRuntime
      respond(ex, 200,
        s"""{"mode":"jvm","heap_used":${rt.totalMemory - rt.freeMemory},"heap_max":${rt.maxMemory}}""")
    })
    server.createContext("/api/v1/ingest", (ex: HttpExchange) => handleSafely(ex)(handleIngest))
    server.createContext("/api/v1/query/range", (ex: HttpExchange) => handleSafely(ex)(handleRange))
    server.createContext("/api/v1/query/find", (ex: HttpExchange) => handleSafely(ex)(handleFind))
    server.createContext("/api/v1/sydraql", (ex: HttpExchange) => handleSafely(ex)(handleSydraql))
    server.createContext("/api/v1/sql", (ex: HttpExchange) => handleSafely(ex)(handleSql))
    server.start()
    server.getAddress.getPort
  }

  def stop(): Unit = {
    if (server != null) server.stop(0)
    pool.shutdownNow()
  }

  // ------------------------------------------------------------- handlers

  private def handleIngest(ex: HttpExchange): Unit = {
    val lines = body(ex).split('\n').map(_.trim).filter(_.nonEmpty)
    val rows = lines.toSeq.map { line =>
      val n = mapper.readTree(line)
      val series = Option(n.get("series")).map(_.asText())
        .getOrElse(throw QueryError(QueryError.InvalidSyntax, "series required"))
      val ts = Option(n.get("ts")).map(_.asLong())
        .getOrElse(throw QueryError(QueryError.InvalidSyntax, "ts required"))
      val value: java.lang.Double = Option(n.get("value")).map(v => Double.box(v.asDouble()))
        .orElse(firstNumericField(n.get("fields")))
        .getOrElse(Double.box(0.0))
      // ListMap preserves JSON document key order: the reference hashes the
      // tags JSON in document order (http.zig extractTagsJson), so a plain
      // HashMap (>4 entries) would derive a different series_id
      val tags: Map[String, String] = Option(n.get("tags")).map(t =>
        scala.collection.immutable.ListMap(
          t.fields().asScala.map(e => e.getKey -> e.getValue.asText()).toSeq: _*)).getOrElse(Map.empty)
      Row(series, tags, ts, value: java.lang.Double)
    }
    val schema = StructType(Seq(
      StructField("series", StringType), StructField("tags", MapType(StringType, StringType)),
      StructField("time", LongType), StructField("value", DoubleType)))
    store.append(store.spark.createDataFrame(rows.asJava, schema))
    ingestTotal.addAndGet(lines.length.toLong)
    respond(ex, 200, s"""{"ingested":${lines.length}}""")
  }

  private def firstNumericField(fields: JsonNode): Option[java.lang.Double] =
    Option(fields).flatMap(f =>
      f.fields().asScala.find(_.getValue.isNumber).map(e => Double.box(e.getValue.asDouble())))

  private def handleRange(ex: HttpExchange): Unit = {
    val p: Map[String, String] =
      if (ex.getRequestMethod == "GET") queryParams(ex)
      else {
        val n = mapper.readTree(body(ex))
        n.properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
      }
    def long(k: String): Option[Long] = p.get(k).map(v => v.toLongOption.getOrElse(
      throw QueryError(QueryError.InvalidSyntax, s"$k must be an integer, got '$v'")))
    val selector = long("series_id") match {
      case Some(id) => ScanProbe(seriesId = Some(id))
      case None => p.get("series") match {
        case Some(s) => ScanProbe(series = Some(s))
        case None => throw QueryError(QueryError.InvalidSyntax, "series or series_id required")
      }
    }
    val df = store.scanPruned(selector.copy(
      lo = Some(long("start").getOrElse(0L)), hi = Some(long("end").getOrElse(Long.MaxValue)))).df
    queryTotal.incrementAndGet()
    val pts = df.orderBy("time").limit(maxRows).select("time", "value").collect()
    val arr = mapper.createArrayNode()
    pts.foreach { r =>
      val o = arr.addObject()
      o.put("ts", r.getLong(0))
      if (r.isNullAt(1)) o.putNull("value") else o.put("value", r.getDouble(1))
    }
    respond(ex, 200, mapper.writeValueAsString(arr))
  }

  private def handleFind(ex: HttpExchange): Unit = {
    val n = mapper.readTree(body(ex))
    val tags = Option(n.get("tags")).map(t =>
      t.properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap).getOrElse(Map.empty)
    val op = Option(n.get("op")).map(_.asText()).getOrElse("and")
    val ids = store.findSeries(tags, op).collect().map(_.getLong(0))
    queryTotal.incrementAndGet()
    respond(ex, 200, mapper.writeValueAsString(ids))
  }

  private def handleSydraql(ex: HttpExchange): Unit = {
    val q = Option(mapper.readTree(body(ex)).get("query")).map(_.asText())
      .getOrElse(throw QueryError(QueryError.InvalidSyntax, "query required"))
    respondQuery(ex, q)
  }

  /** pg-compat analog over HTTP: SQL → sydraQL → engine. */
  private def handleSql(ex: HttpExchange): Unit = {
    val q = Option(mapper.readTree(body(ex)).get("query")).map(_.asText())
      .getOrElse(throw QueryError(QueryError.InvalidSyntax, "query required"))
    TranslationLog.translate(q) match {
      case Translator.Success(sydraql) => respondQuery(ex, sydraql)
      case Translator.Failure(state, msg) =>
        respond(ex, 400, s"""{"sqlstate":"$state","error":"$msg"}""")
    }
  }

  private def respondQuery(ex: HttpExchange, sydraql: String): Unit = {
    val t0 = System.nanoTime()
    val res = Engine.executeOnStore(store, sydraql, CompileOptions())
    val limited = res.df.limit(maxRows)
    val rows = limited.collect()
    val p = QueryProfile.of(res, limited, rows.length, (System.nanoTime() - t0) / 1000)
    queryTotal.incrementAndGet()
    val out: ObjectNode = mapper.createObjectNode()
    val colsNode = out.putArray("columns")
    res.df.columns.foreach(colsNode.add)
    val data: ArrayNode = out.putArray("rows")
    rows.foreach { r => data.add(rowToJson(r)) }
    // the profile under the reference's stats keys (http.zig:335-395);
    // `pipeline_us` is the profile's wall time, which stops at the last
    // row, so sydrabench's api.self_ms (reply time − pipeline_us) keeps
    // the JSON build and the write
    val stats = out.putObject("stats")
    stats.put("parse_us", p.stats.parseUs)
    stats.put("validate_us", p.stats.validateUs)
    stats.put("compile_us", p.stats.compileUs)
    stats.put("optimize_us", p.optimizeUs)
    stats.put("physical_us", p.physicalUs)
    stats.put("pipeline_us", p.wallUs)
    stats.put("rows_emitted", p.rows)
    stats.put("trace_id", p.stats.traceId)
    stats.put("route", p.stats.route)
    stats.put("merge_site", p.mergeSite)
    stats.put("cell_files", p.cellFiles)
    stats.put("cell_bytes", p.cellBytes)
    val ops = stats.putArray("operators")
    p.operators.foreach { o =>
      val n = ops.addObject()
      n.put("name", o.name)
      n.put("rows_out", o.rowsOut)
    }
    respond(ex, 200, mapper.writeValueAsString(out))
  }

  private def rowToJson(r: Row): ArrayNode = {
    val arr = mapper.createArrayNode()
    (0 until r.length).foreach { i =>
      if (r.isNullAt(i)) arr.addNull()
      else r.get(i) match {
        case l: Long => arr.add(l)
        case n: Int => arr.add(n)
        case d: Double => arr.add(d)
        case b: Boolean => arr.add(b)
        case other => arr.add(other.toString)
      }
    }
    arr
  }

  private def handleMetrics(ex: HttpExchange): Unit = {
    // the series gauge from the td cells when the store has them (a read
    // of KB cells, on the driver when they fit one split), else a scan
    val nSeries = if (store.isEmpty) 0L else graft.storage.MetaCache.scoped {
      val cells = graft.storage.SketchCells.dirFor(store)
      if (graft.storage.SketchCells.exists(store.spark, cells))
        graft.storage.SketchCells.seriesCount(store.spark, cells)
      else store.catalog().count()
    }
    val text =
      s"""# TYPE sydra_ingest_total counter
         |sydra_ingest_total ${ingestTotal.get}
         |# TYPE sydra_query_total counter
         |sydra_query_total ${queryTotal.get}
         |# TYPE sydra_error_total counter
         |sydra_error_total ${errorTotal.get}
         |# TYPE sydra_compat_translations_total counter
         |sydra_compat_translations_total ${translations.get}
         |# TYPE sydra_compat_fallbacks_total counter
         |sydra_compat_fallbacks_total ${fallbacks.get}
         |# TYPE sydra_series gauge
         |sydra_series $nSeries
         |""".stripMargin
    respond(ex, 200, text, "text/plain; version=0.0.4")
  }

  // -------------------------------------------------------------- helpers

  private def handleSafely(ex: HttpExchange)(f: HttpExchange => Unit): Unit =
    try {
      if (ex.getRequestURI.getPath.startsWith("/api/") && !authorized(ex))
        respond(ex, 401, """{"error":"unauthorized"}""")
      else f(ex)
    } catch {
      case e: Throwable =>
        errorTotal.incrementAndGet()
        // an engine QueryError is the request's fault (400, with its
        // engine code); anything else is the server's (500)
        val (status, code) = e match {
          case qe: QueryError => (400, s""""code":"${qe.code}",""")
          case _ => (500, "")
        }
        respond(ex, status, s"""{"sqlstate":"${SqlState.of(e)}",$code"error":${mapper.writeValueAsString(SqlState.message(e))}}""")
    }

  private def authorized(ex: HttpExchange): Boolean = token.forall { t =>
    Option(ex.getRequestHeaders.getFirst("Authorization")).contains(s"Bearer $t")
  }

  private def body(ex: HttpExchange): String =
    new String(ex.getRequestBody.readAllBytes(), UTF_8)

  private def queryParams(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getQuery).map(_.split('&').flatMap { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => Some(k -> java.net.URLDecoder.decode(v, UTF_8))
        case _ => None
      }
    }.toMap).getOrElse(Map.empty)

  private def respond(ex: HttpExchange, status: Int, bodyStr: String,
      contentType: String = "application/json"): Unit = {
    val bytes = bodyStr.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", contentType)
    ex.sendResponseHeaders(status, bytes.length.toLong)
    val os = ex.getResponseBody
    os.write(bytes)
    os.close()
  }
}
