package graft.perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration

/** One reply as the client saw it. */
final case class Reply(status: Int, body: String, ms: Double) {
  def ok: Boolean = status >= 200 && status < 300
  lazy val json: JsonNode = Client.mapper.readTree(body)
  /** `stats.<key>` of a sydraQL reply, or 0 when absent. */
  def stat(key: String): Long =
    Option(json.get("stats")).flatMap(s => Option(s.get(key))).map(_.asLong()).getOrElse(0L)
  def route: String =
    Option(json.get("stats")).flatMap(s => Option(s.get("route"))).map(_.asText()).getOrElse("")
}

/** The single closed-loop client: one HTTP/1.1 connection to the loopback
  * server, and the next request leaves only after the previous reply, so
  * whatever the engine did between two replies belongs to one request.
  */
final class Client(port: Int) {
  private val http = HttpClient.newBuilder()
    .version(HttpClient.Version.HTTP_1_1)
    .connectTimeout(Duration.ofSeconds(10))
    .build()
  private val base = s"http://127.0.0.1:$port"

  def post(path: String, body: String): Reply = {
    val req = HttpRequest.newBuilder(URI.create(base + path))
      .timeout(Duration.ofSeconds(120))
      .POST(HttpRequest.BodyPublishers.ofString(body))
      .build()
    val t0 = System.nanoTime()
    val res = http.send(req, HttpResponse.BodyHandlers.ofString())
    Reply(res.statusCode(), res.body(), (System.nanoTime() - t0) / 1e6)
  }

  def sydraql(q: String): Reply =
    post("/api/v1/sydraql", Client.mapper.createObjectNode().put("query", q).toString)

  def range(seriesId: Long, start: Long, end: Long): Reply =
    post("/api/v1/query/range", Client.mapper.createObjectNode()
      .put("series_id", seriesId.toString).put("start", start.toString)
      .put("end", end.toString).toString)

  def ingest(ndjson: String): Reply = post("/api/v1/ingest", ndjson)
}

object Client {
  val mapper = new ObjectMapper()
}
