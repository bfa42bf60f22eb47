package graft

import java.io.{DataInputStream, DataOutputStream}
import java.net.Socket
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import graft.api.PgWireServer
import graft.storage.{Ingest, SeriesStore}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Socket-level pgwire protocol tests, porting the reference's handshake
  * expectations (`wire/protocol.zig:253-323`, `session.zig:173-210`) and
  * driving the simple-query path end-to-end against a real store.
  */
class PgWireSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark = TestSpark.spark

  private var server: PgWireServer = _
  private var port: Int = 0

  override def beforeAll(): Unit = {
    val dir = Files.createTempDirectory("graft-pgwire").toString
    val store = new SeriesStore(spark, dir)
    val ndjson = Files.createTempDirectory("graft-pgwire-in")
    Files.write(ndjson.resolve("in.ndjson"), (Seq(
      """{"series":"m","ts":10,"value":1.5,"tags":{"host":"a"}}""",
      """{"series":"m","ts":20,"value":2.0,"tags":{"host":"a"}}""",
      """{"series":"m","ts":30,"value":2.5,"tags":{"host":"b"}}""") ++
      // a non-trivial series (50k points, single hour bucket → one scan
      // task with real milliseconds of decode+aggregate work) so timing
      // assertions aren't at the mercy of per-split ms-truncated metrics
      (0 until 50000).map(i => s"""{"series":"big","ts":${i % 3600},"value":$i.5}""")
    ).mkString("\n").getBytes)
    Ingest.batch(store, ndjson.toString)
    server = new PgWireServer(store)
    port = server.start()
  }

  override def afterAll(): Unit = if (server != null) server.stop()

  // --------------------------------------------------------- client helpers

  private final class Client(serverPort: Int = port) {
    val sock = new Socket("127.0.0.1", serverPort)
    sock.setSoTimeout(60000)
    // as drivers do (libpq, pgjdbc): NODELAY, and each message leaves in
    // one write at its flush
    sock.setTcpNoDelay(true)
    val in = new DataInputStream(sock.getInputStream)
    val out = new DataOutputStream(new java.io.BufferedOutputStream(sock.getOutputStream))

    def sendSslRequest(): Unit = { out.writeInt(8); out.writeInt(80877103); out.flush() }

    def sendStartup(params: (String, String)*): Unit = {
      val body = params.flatMap { case (k, v) =>
        k.getBytes(UTF_8) ++ Array(0.toByte) ++ v.getBytes(UTF_8) ++ Array(0.toByte)
      }.toArray :+ 0.toByte
      out.writeInt(4 + 4 + body.length); out.writeInt(3 << 16); out.write(body); out.flush()
    }

    def sendQuery(sql: String): Unit = {
      val b = sql.getBytes(UTF_8)
      out.write('Q'); out.writeInt(4 + b.length + 1); out.write(b); out.write(0); out.flush()
    }

    def sendTerminate(): Unit = { out.write('X'); out.writeInt(4); out.flush() }

    // ---- extended protocol ----

    def sendParse(stmt: String, sql: String): Unit = {
      val s = stmt.getBytes(UTF_8); val q = sql.getBytes(UTF_8)
      out.write('P'); out.writeInt(4 + s.length + 1 + q.length + 1 + 2)
      out.write(s); out.write(0); out.write(q); out.write(0); out.writeShort(0)
      out.flush()
    }

    def sendBind(portal: String, stmt: String, params: Seq[String]): Unit = {
      val p = portal.getBytes(UTF_8); val s = stmt.getBytes(UTF_8)
      val encoded = params.map(_.getBytes(UTF_8))
      out.write('B')
      out.writeInt(4 + p.length + 1 + s.length + 1 + 2 + 2 + encoded.map(_.length + 4).sum + 2)
      out.write(p); out.write(0); out.write(s); out.write(0)
      out.writeShort(0) // all-text format
      out.writeShort(params.length)
      encoded.foreach { b => out.writeInt(b.length); out.write(b) }
      out.writeShort(0) // result formats
      out.flush()
    }

    def sendDescribe(kind: Char, name: String): Unit = {
      val n = name.getBytes(UTF_8)
      out.write('D'); out.writeInt(4 + 1 + n.length + 1)
      out.write(kind); out.write(n); out.write(0); out.flush()
    }

    def sendExecute(portal: String, limit: Int = 0): Unit = {
      val p = portal.getBytes(UTF_8)
      out.write('E'); out.writeInt(4 + p.length + 1 + 4)
      out.write(p); out.write(0); out.writeInt(limit); out.flush()
    }

    def sendSync(): Unit = { out.write('S'); out.writeInt(4); out.flush() }

    def readMessage(): (Char, Array[Byte]) = {
      val t = in.readByte().toChar
      val len = in.readInt()
      val payload = new Array[Byte](len - 4)
      in.readFully(payload)
      (t, payload)
    }

    /** Collect messages until ReadyForQuery ('Z'), inclusive. */
    def readUntilReady(): Vector[(Char, Array[Byte])] = {
      val buf = Vector.newBuilder[(Char, Array[Byte])]
      var done = false
      while (!done) {
        val m = readMessage()
        buf += m
        if (m._1 == 'Z') done = true
      }
      buf.result()
    }

    def handshake(params: (String, String)*): Vector[(Char, Array[Byte])] = {
      sendStartup(params: _*)
      readUntilReady()
    }

    def close(): Unit = sock.close()
  }

  private def cStr(b: Array[Byte], from: Int = 0): String = {
    val end = b.indexOf(0.toByte, from)
    new String(b, from, (if (end < 0) b.length else end) - from, UTF_8)
  }

  /** Parse a DataRow payload into column text values (None = NULL). */
  private def parseDataRow(payload: Array[Byte]): Seq[Option[String]] = {
    val in = new DataInputStream(new java.io.ByteArrayInputStream(payload))
    val n = in.readShort()
    (0 until n).map { _ =>
      val len = in.readInt()
      if (len < 0) None
      else {
        val b = new Array[Byte](len); in.readFully(b); Some(new String(b, UTF_8))
      }
    }
  }

  /** Parse error fields 'S'/'C'/'M' from an ErrorResponse payload. */
  private def parseError(payload: Array[Byte]): Map[Char, String] = {
    var idx = 0
    val fields = Map.newBuilder[Char, String]
    while (idx < payload.length && payload(idx) != 0) {
      val tag = payload(idx).toChar
      val s = cStr(payload, idx + 1)
      fields += tag -> s
      idx += 1 + s.getBytes(UTF_8).length + 1
    }
    fields.result()
  }

  // ------------------------------------------------------------- handshake

  test("SSL request is declined with a single 'N' (protocol.zig:253-299)") {
    val c = new Client
    c.sendSslRequest()
    assert(c.in.readByte().toChar === 'N')
    // startup still proceeds on the same connection
    val msgs = c.handshake("user" -> "sydra", "database" -> "sydradb", "application_name" -> "psql")
    // R(auth=0) first, then ParameterStatus block, then Z('I') last
    assert(msgs.head._1 === 'R')
    assert(java.nio.ByteBuffer.wrap(msgs.head._2).getInt === 0)
    val params = msgs.filter(_._1 == 'S').map(m => cStr(m._2) -> cStr(m._2, cStr(m._2).getBytes(UTF_8).length + 1)).toMap
    assert(params("server_version") === "15.2")
    assert(params("server_encoding") === "UTF8")
    assert(params("application_name") === "psql")
    assert(params("standard_conforming_strings") === "on")
    assert(msgs.last._1 === 'Z')
    assert(msgs.last._2(0).toChar === 'I')
    c.close()
  }

  test("startup without user → FATAL 28000 (session.zig:88-91)") {
    val c = new Client
    c.sendStartup("database" -> "sydradb")
    val (t, payload) = c.readMessage()
    assert(t === 'E')
    val fields = parseError(payload)
    assert(fields('S') === "FATAL")
    assert(fields('C') === "28000")
    assert(fields('M') === "user parameter required")
    c.close()
  }

  // ---------------------------------------------------------- simple query

  test("SELECT 1 end-to-end: RowDescription, DataRow, CommandComplete") {
    val c = new Client
    c.handshake("user" -> "sydra")
    c.sendQuery("SELECT 1")
    val msgs = c.readUntilReady()
    val types = msgs.map(_._1)
    assert(types.contains('T'))
    val rows = msgs.filter(_._1 == 'D').map(m => parseDataRow(m._2))
    assert(rows === Vector(Seq(Some("1"))))
    val complete = msgs.find(_._1 == 'C').get
    assert(cStr(complete._2) === "SELECT 1")
    assert(msgs.last._1 === 'Z')
    c.close()
  }

  test("series query end-to-end matches engine output") {
    val c = new Client
    c.handshake("user" -> "sydra")
    c.sendQuery("SELECT time, value FROM m WHERE time >= 0 and time < 100 order by time")
    val msgs = c.readUntilReady()
    // RowDescription: 2 columns, first named "time" with int8 oid
    val desc = msgs.find(_._1 == 'T').get._2
    val bb = java.nio.ByteBuffer.wrap(desc)
    assert(bb.getShort === 2)
    assert(cStr(desc, 2) === "time")
    val afterName = 2 + "time".length + 1
    assert(bb.getInt(afterName) === 0) // table oid
    assert(bb.getInt(afterName + 6) === 20) // int8
    val rows = msgs.filter(_._1 == 'D').map(m => parseDataRow(m._2))
    assert(rows === Vector(
      Seq(Some("10"), Some("1.5")),
      Seq(Some("20"), Some("2")),
      Seq(Some("30"), Some("2.5"))))
    assert(cStr(msgs.find(_._1 == 'C').get._2) === "SELECT 3")
    // observability NOTICEs: schema + trace_id + metrics (server.zig:294-312)
    val notices = msgs.filter(_._1 == 'N').map(m => parseError(m._2)('M'))
    assert(notices.exists(_.startsWith("schema=[")))
    assert(notices.exists(_.startsWith("trace_id=")))
    assert(notices.exists(_.startsWith("metrics rows=3 ")))
    // per-operator diagnostics carry elapsed_us (operator.zig:30-48); a
    // 3-row scan can legitimately round to 0 under Spark's ms-granularity
    // timing metrics, so the nonzero assertion lives in the big-scan test
    val opNotices = notices.filter(_.startsWith("operator="))
    assert(opNotices.nonEmpty, "expected per-operator NOTICEs")
    assert(opNotices.forall(_.matches(".*elapsed_us=\\d+.*")), s"malformed: $opNotices")
    c.close()
  }

  test("operator NOTICEs report nonzero elapsed_us on a non-trivial query") {
    // Spark truncates per-split timing metrics to whole milliseconds, so
    // a warm single-file scan alone can round to 0 no matter its size —
    // the robust invariant is that SOME executed operator (scan or the
    // codegen pipeline doing the aggregation) reports real elapsed time
    val c = new Client
    c.handshake("user" -> "sydra")
    c.sendQuery("SELECT time_bucket(60, time) as b, avg(value) as a FROM big " +
      "WHERE time >= 0 and time < 100000000 GROUP BY time_bucket(60, time) ORDER BY b")
    val msgs = c.readUntilReady()
    val notices = msgs.filter(_._1 == 'N').map(m => parseError(m._2)('M'))
    val opNotices = notices.filter(_.startsWith("operator="))
    assert(opNotices.exists(_.toLowerCase.contains("scan")), s"expected a scan NOTICE: $opNotices")
    val elapsed = opNotices
      .flatMap("elapsed_us=(\\d+)".r.findFirstMatchIn(_)).map(_.group(1).toLong)
    assert(elapsed.exists(_ > 0), s"expected nonzero operator elapsed: $opNotices")
    c.close()
  }

  test("INSERT through the wire persists and tags INSERT 0 n") {
    val c = new Client
    c.handshake("user" -> "sydra")
    c.sendQuery("INSERT INTO wired(time, value) VALUES (42, 9.5)")
    val msgs = c.readUntilReady()
    assert(cStr(msgs.find(_._1 == 'C').get._2) === "INSERT 0 1")
    c.sendQuery("SELECT time, value FROM wired WHERE time >= 0 and time < 100")
    val rows = c.readUntilReady().filter(_._1 == 'D').map(m => parseDataRow(m._2))
    assert(rows === Vector(Seq(Some("42"), Some("9.5"))))
    c.close()
  }

  test("empty query → EmptyQueryResponse; unsupported SQL → 0A000; engine errors carry SQLSTATE") {
    val c = new Client
    c.handshake("user" -> "sydra")
    c.sendQuery("   ")
    val empty = c.readUntilReady()
    assert(empty.map(_._1) === Vector('I', 'Z'))

    c.sendQuery("UPDATE users SET name = 'rex'")
    val upd = c.readUntilReady()
    assert(parseError(upd.find(_._1 == 'E').get._2)('C') === "0A000")

    // validation error surfaces its mapped SQLSTATE (22000 TimeRangeRequired)
    c.sendQuery("SELECT value FROM m")
    val noRange = c.readUntilReady()
    assert(parseError(noRange.find(_._1 == 'E').get._2)('C') === "22000")

    // connection stays usable after errors
    c.sendQuery("SELECT 1")
    assert(c.readUntilReady().count(_._1 == 'D') === 1)
    c.close()
  }

  test("pg catalog shim answers connect-time probes (catalog.zig:60-112)") {
    val c = new Client
    c.handshake("user" -> "sydra")

    c.sendQuery("SELECT version()")
    val ver = c.readUntilReady().filter(_._1 == 'D').map(m => parseDataRow(m._2))
    assert(ver.head.head.get.startsWith("PostgreSQL 15.2"))

    c.sendQuery("SELECT typname, typlen FROM pg_type WHERE oid = 20")
    val int8 = c.readUntilReady().filter(_._1 == 'D').map(m => parseDataRow(m._2))
    assert(int8 === Vector(Seq(Some("int8"), Some("8"))))

    // qualified names + a catalog join, the shape psql \d issues
    c.sendQuery("SELECT c.relname, n.nspname FROM pg_catalog.pg_class c " +
      "JOIN pg_catalog.pg_namespace n ON n.oid = c.relnamespace")
    val rel = c.readUntilReady().filter(_._1 == 'D').map(m => parseDataRow(m._2))
    assert(rel === Vector(Seq(Some("pg_type"), Some("pg_catalog"))))

    c.sendQuery("SELECT attname FROM pg_attribute WHERE attrelid = 22000 AND attnum <= 2 ORDER BY attnum")
    val attrs = c.readUntilReady().filter(_._1 == 'D').map(m => parseDataRow(m._2))
    assert(attrs === Vector(Seq(Some("oid")), Seq(Some("typname"))))
    c.close()
  }

  test("extended protocol: Parse/Bind/Describe/Execute/Sync with $n text parameters") {
    val c = new Client
    c.handshake("user" -> "sydra")
    c.sendParse("s1", "SELECT time, value FROM m WHERE time >= $1 and time < $2 order by time")
    c.sendBind("", "s1", Seq("15", "100"))
    c.sendDescribe('P', "")
    c.sendExecute("")
    c.sendSync()
    val msgs = c.readUntilReady()
    val types = msgs.map(_._1)
    assert(types.startsWith(Vector('1', '2', 'T'))) // ParseComplete, BindComplete, RowDescription
    val rows = msgs.filter(_._1 == 'D').map(m => parseDataRow(m._2))
    assert(rows === Vector(Seq(Some("20"), Some("2")), Seq(Some("30"), Some("2.5"))))
    assert(cStr(msgs.find(_._1 == 'C').get._2) === "SELECT 2")
    assert(msgs.last._1 === 'Z')

    // string parameter round-trips with quoting (INSERT via extended path)
    c.sendParse("ins", "INSERT INTO extm(time, value) VALUES ($1, $2)")
    c.sendBind("", "ins", Seq("77", "3.25"))
    c.sendExecute("")
    c.sendSync()
    val ins = c.readUntilReady()
    assert(cStr(ins.find(_._1 == 'C').get._2) === "INSERT 0 1")
    c.sendQuery("SELECT time, value FROM extm WHERE time >= 0 and time < 100")
    val back = c.readUntilReady().filter(_._1 == 'D').map(m => parseDataRow(m._2))
    assert(back === Vector(Seq(Some("77"), Some("3.25"))))
    c.close()
  }

  test("extended protocol: $n inside a string literal is data, not a placeholder") {
    val c = new Client
    c.handshake("user" -> "sydra")
    // the '$1' inside the literal must NOT be substituted; the real $1 must.
    // quote-blind substitution would turn the literal into 'a25b', making
    // the NOT clause false and returning zero rows
    c.sendParse("q", "SELECT time, value FROM m WHERE time >= $1 and time < 100 " +
      "and not ('a$1b' = 'a25b') order by time")
    c.sendBind("", "q", Seq("25"))
    c.sendDescribe('P', "")
    c.sendExecute("")
    c.sendSync()
    val rows = c.readUntilReady().filter(_._1 == 'D').map(m => parseDataRow(m._2))
    assert(rows === Vector(Seq(Some("30"), Some("2.5"))))
    c.close()
  }

  test("extended protocol: Describe('S') on a parameterized SELECT returns RowDescription") {
    val c = new Client
    c.handshake("user" -> "sydra")
    c.sendParse("ds", "SELECT time, value FROM m WHERE time >= $1 and time < $2")
    c.sendDescribe('S', "ds")
    c.sendSync()
    val msgs = c.readUntilReady()
    assert(msgs.exists(_._1 == 't'), "expected ParameterDescription")
    // NoData here followed by DataRows at Execute would desync real drivers
    assert(msgs.exists(_._1 == 'T'), s"expected RowDescription, got ${msgs.map(_._1)}")
    assert(!msgs.exists(_._1 == 'n'))
    c.close()
  }

  test("Describe compiles on the route Execute runs: no job for a windowed SELECT, the served schema, no INSERT") {
    import graft.storage.SketchCells
    import graft.sydraql.{CompileOptions, Engine}
    import org.apache.spark.sql.functions.map
    val session = spark
    import session.implicits._
    val store = new SeriesStore(spark, Files.createTempDirectory("graft-pgwire-describe").toString)
    val d = 86400L
    // one point at noon on each of 40 days: 40 hour directories, above
    // Spark's 32-path parallel-listing threshold, and no skip manifest
    store.append((0 until 40).map(i => ("m", i * d + d / 2, i.toDouble))
      .toDF("series", "time", "value")
      .withColumn("tags", map().cast("map<string,string>"))
      .select("series", "tags", "time", "value"))
    SketchCells.build(store, SketchCells.dirFor(store))
    val srv = new PgWireServer(store)
    val c = new Client(srv.start())
    def describe(name: String, sql: String) = {
      c.sendParse(name, sql); c.sendDescribe('S', name); c.sendSync()
      c.readUntilReady()
    }
    try {
      c.handshake("user" -> "sydra")
      val (w, jobs) = TestSpark.jobsDuring(
        describe("w", s"SELECT time, value FROM m WHERE time >= ${3 * d} and time < ${4 * d}"))
      assert(w.exists(_._1 == 'T'), w.map(_._1).toString)
      assert(jobs.isEmpty, s"Describe ran ${jobs.size} jobs: ${jobs.mkString(" | ")}")
      // a served cells shape: Describe's RowDescription is the one the
      // simple protocol sends for the same statement
      val served = s"SELECT avg(value) as a, count() as n FROM m WHERE time >= 0 and time < ${10 * d}"
      val res = Engine.executeOnStore(store,
        s"select avg(value) as a,count() as n from m where time >= 0 and time < ${10 * d}",
        CompileOptions())
      assert(res.stats.route === "served:cells:td")
      assert(res.stats.served.map(_.site) === Some("driver"))
      // Describe of a driver-merged shape reads no cell file; Execute does
      val opened = SketchCells.localFilesRead.get()
      val described = describe("s", served).find(_._1 == 'T').map(_._2.toSeq)
      assert(SketchCells.localFilesRead.get() === opened)
      c.sendQuery(served)
      val simple = c.readUntilReady()
      assert(SketchCells.localFilesRead.get() === opened + 10)
      assert(simple.count(_._1 == 'D') === 1)
      assert(described.isDefined && described === simple.find(_._1 == 'T').map(_._2.toSeq))
      // INSERT: NoData, and nothing is written
      val ins = describe("i", "INSERT INTO described(time, value) VALUES (42, 9.5)")
      assert(ins.exists(_._1 == 'n') && !ins.exists(_._1 == 'T'), ins.map(_._1).toString)
      c.sendQuery("SELECT time, value FROM described WHERE time >= 0 and time < 100")
      assert(c.readUntilReady().count(_._1 == 'D') === 0)
    } finally { c.close(); srv.stop() }
  }

  test("extended protocol: Execute on a completed portal does not re-run the statement") {
    val c = new Client
    c.handshake("user" -> "sydra")
    c.sendParse("once", "INSERT INTO reexec(time, value) VALUES (5, 1.5)")
    c.sendBind("p", "once", Seq.empty)
    c.sendExecute("p")
    c.sendExecute("p") // completed portal: must NOT insert a second row
    c.sendSync()
    val msgs = c.readUntilReady()
    val tags = msgs.filter(_._1 == 'C').map(m => cStr(m._2))
    assert(tags === Vector("INSERT 0 1", "INSERT 0 0"), tags.toString)
    c.sendQuery("SELECT time, value FROM reexec WHERE time >= 0 and time < 100")
    val rows = c.readUntilReady().filter(_._1 == 'D')
    assert(rows.length === 1, "re-Execute must not double-apply the INSERT")
    c.close()
  }

  test("unknown message types enter the error state until Sync (one ReadyForQuery)") {
    val c = new Client
    c.handshake("user" -> "sydra")
    c.out.write('F'); c.out.writeInt(4) // unimplemented FunctionCall
    c.sendParse("x", "SELECT 1") // must be skipped (error state)
    c.sendSync()
    val msgs = c.readUntilReady()
    assert(msgs.count(_._1 == 'E') === 1)
    assert(!msgs.exists(_._1 == '1'), "Parse after the error must be skipped until Sync")
    assert(msgs.count(_._1 == 'Z') === 1, "exactly one ReadyForQuery, at Sync")
    c.close()
  }

  test("extended protocol: cursor-mode fetch suspends and resumes the portal") {
    val c = new Client
    c.handshake("user" -> "sydra")
    c.sendParse("cur", "SELECT time, value FROM m WHERE time >= 0 and time < 100 order by time")
    c.sendBind("p1", "cur", Seq.empty)
    c.sendExecute("p1", limit = 2)
    c.sendSync()
    val first = c.readUntilReady()
    assert(first.count(_._1 == 'D') === 2)
    assert(first.exists(_._1 == 's'), "expected PortalSuspended after hitting the row limit")
    assert(!first.exists(_._1 == 'C'))
    // next Execute resumes the same cursor (pgjdbc fetch-size pattern)
    c.sendExecute("p1", limit = 2)
    c.sendSync()
    val second = c.readUntilReady()
    val rows = second.filter(_._1 == 'D').map(m => parseDataRow(m._2))
    assert(rows === Vector(Seq(Some("30"), Some("2.5")))) // the remaining third row
    assert(cStr(second.find(_._1 == 'C').get._2) === "SELECT 1")
    c.close()
  }

  test("runtime errors mid-query produce ErrorResponse + ReadyForQuery, not a dropped connection") {
    val c = new Client
    c.handshake("user" -> "sydra")
    // ANSI division by zero throws at row execution, after the lazy compile
    c.sendQuery("SELECT value / 0 FROM m WHERE time >= 0 and time < 100")
    val msgs = c.readUntilReady()
    val err = msgs.find(_._1 == 'E')
    assert(err.isDefined, s"expected ErrorResponse, got ${msgs.map(_._1)}")
    assert(parseError(err.get._2)('C') === "22012") // DivisionByZero
    assert(msgs.last._1 === 'Z')
    // connection survives
    c.sendQuery("SELECT 1")
    assert(c.readUntilReady().count(_._1 == 'D') === 1)
    c.close()
  }

  test("extended protocol: driver shims and error-until-Sync recovery") {
    val c = new Client
    c.handshake("user" -> "sydra")
    // connect-time shims drivers issue
    c.sendQuery("SET extra_float_digits = 3")
    assert(cStr(c.readUntilReady().find(_._1 == 'C').get._2) === "SET")
    c.sendQuery("BEGIN")
    assert(cStr(c.readUntilReady().find(_._1 == 'C').get._2) === "BEGIN")
    c.sendQuery("COMMIT")
    assert(cStr(c.readUntilReady().find(_._1 == 'C').get._2) === "COMMIT")

    // Bind to an unknown statement errors; Execute is skipped until Sync
    c.sendBind("", "nope", Seq.empty)
    c.sendExecute("")
    c.sendSync()
    val msgs = c.readUntilReady()
    assert(msgs.count(_._1 == 'E') === 1) // one error, no second for the skipped Execute
    assert(parseError(msgs.find(_._1 == 'E').get._2)('C') === "XX000")
    assert(msgs.last._1 === 'Z')

    // connection still usable afterwards
    c.sendQuery("SELECT 1")
    assert(c.readUntilReady().count(_._1 == 'D') === 1)
    c.close()
  }

  test("concurrent connections are isolated (thread per connection, server.zig:31-41)") {
    import java.util.concurrent.Executors
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val ec = ExecutionContext.fromExecutorService(Executors.newFixedThreadPool(4))
    try {
      val futures = (0 until 4).map { i =>
        Future {
          val c = new Client
          c.handshake("user" -> s"u$i")
          val rows = (0 until 3).map { _ =>
            c.sendQuery("SELECT time, value FROM m WHERE time >= 0 and time < 100 order by time")
            c.readUntilReady().count(_._1 == 'D')
          }
          c.close()
          rows
        }(ec)
      }
      implicit val iec: ExecutionContext = ec
      val results = Await.result(Future.sequence(futures), 120.seconds)
      assert(results.flatten.forall(_ === 3), s"every query on every connection sees 3 rows: $results")
    } finally ec.shutdown()
  }

  test("COPY FROM STDIN round-trip: text, CSV+HEADER, CopyFail, malformed row") {
    val c = new Client
    c.handshake("user" -> "sydra")
    def sendCopyData(s: String): Unit = {
      val b = s.getBytes(UTF_8)
      c.out.write('d'); c.out.writeInt(4 + b.length); c.out.write(b); c.out.flush()
    }
    def sendCopyDone(): Unit = { c.out.write('c'); c.out.writeInt(4); c.out.flush() }
    def sendCopyFail(msg: String): Unit = {
      val b = msg.getBytes(UTF_8)
      c.out.write('f'); c.out.writeInt(4 + b.length + 1); c.out.write(b); c.out.write(0)
      c.out.flush()
    }

    // text format, default (time, value) order, \N value → ingest default
    // 0.0, data split across two CopyData frames mid-row
    c.sendQuery("COPY copied FROM STDIN")
    val (g, gp) = c.readMessage()
    assert(g === 'G')
    assert(gp(0) === 0 && ((gp(1) & 0xff) << 8 | (gp(2) & 0xff)) === 2, "text overall, 2 cols")
    sendCopyData("100\t1.5\n20")
    sendCopyData("0\t\\N\n300\t2.5\n\\.\n")
    sendCopyDone()
    val done = c.readUntilReady()
    assert(cStr(done.find(_._1 == 'C').get._2) === "COPY 3")
    c.sendQuery("SELECT time, value FROM copied WHERE time >= 0 AND time < 1000")
    val rows = c.readUntilReady().filter(_._1 == 'D').map(m => parseDataRow(m._2))
    assert(rows === Vector(
      Seq(Some("100"), Some("1.5")), Seq(Some("200"), Some("0")),
      Seq(Some("300"), Some("2.5"))))

    // CSV with header and reversed column order
    c.sendQuery("COPY copied2 (value, time) FROM STDIN CSV HEADER")
    assert(c.readMessage()._1 === 'G')
    sendCopyData("value,time\n9.25,400\n,500\n")
    sendCopyDone()
    assert(cStr(c.readUntilReady().find(_._1 == 'C').get._2) === "COPY 2")
    c.sendQuery("SELECT time, value FROM copied2 WHERE time >= 0 AND time < 1000")
    val rows2 = c.readUntilReady().filter(_._1 == 'D').map(m => parseDataRow(m._2))
    assert(rows2 === Vector(Seq(Some("400"), Some("9.25")), Seq(Some("500"), Some("0"))))

    // CopyFail: nothing ingested, error carries 57014, connection usable
    c.sendQuery("COPY copied3 FROM STDIN")
    assert(c.readMessage()._1 === 'G')
    sendCopyData("700\t1.0\n")
    sendCopyFail("client aborted")
    val failed = c.readUntilReady()
    assert(parseError(failed.find(_._1 == 'E').get._2)('C') === "57014")
    c.sendQuery("SELECT count(value) FROM copied3 WHERE time >= 0 AND time < 1000")
    val cnt = c.readUntilReady().filter(_._1 == 'D').map(m => parseDataRow(m._2))
    assert(cnt === Vector(Seq(Some("0"))))

    // malformed row: whole COPY rejected (22P02), nothing ingested
    c.sendQuery("COPY copied4 FROM STDIN")
    assert(c.readMessage()._1 === 'G')
    sendCopyData("800\tnot-a-number\n")
    sendCopyDone()
    val bad = c.readUntilReady()
    assert(parseError(bad.find(_._1 == 'E').get._2)('C') === "22P02")
    c.sendQuery("SELECT count(value) FROM copied4 WHERE time >= 0 AND time < 1000")
    val cnt4 = c.readUntilReady().filter(_._1 == 'D').map(m => parseDataRow(m._2))
    assert(cnt4 === Vector(Seq(Some("0"))))

    // unsupported forms answer with errors, not hangs
    c.sendQuery("COPY copied (series, value) FROM STDIN")
    assert(parseError(c.readUntilReady().find(_._1 == 'E').get._2)('C') === "42601")
    c.close()
  }

  test("replies are not held back for the client's delayed ACK") {
    val c = new Client
    c.handshake("user" -> "sydra")
    // one connection, 20 round trips of each protocol: a reply must not
    // wait for the client's delayed ACK (~40 ms) before it leaves. The
    // extended cycle is four server flushes (ParseComplete, BindComplete,
    // CommandComplete, ReadyForQuery), the write-write-read pattern Nagle
    // holds back
    val set = "SET application_name = 'x'"
    def simple(): Vector[(Char, Array[Byte])] = { c.sendQuery(set); c.readUntilReady() }
    def extended(): Vector[(Char, Array[Byte])] = {
      c.sendParse("", set); c.sendBind("", "", Nil); c.sendExecute(""); c.sendSync()
      c.readUntilReady()
    }
    try Seq("simple" -> (() => simple()), "extended" -> (() => extended())).foreach {
      case (name, roundTrip) =>
        roundTrip()
        val ms = (0 until 20).map { _ =>
          val t0 = System.nanoTime()
          val reply = roundTrip()
          assert(reply.exists(_._1 == 'C') && !reply.exists(_._1 == 'E'), name)
          (System.nanoTime() - t0) / 1e6
        }.sorted
        assert(ms(ms.size / 2) < 20.0,
          s"median $name SET round trip took ${ms(ms.size / 2)} ms: ${ms.mkString(", ")}")
    } finally c.close()
  }

  test("terminate ('X') closes the connection") {
    val c = new Client
    c.handshake("user" -> "sydra")
    c.sendTerminate()
    assert(c.in.read() === -1) // server closed its end
    c.close()
  }
}
