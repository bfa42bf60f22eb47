package graft.api

import java.io.{BufferedOutputStream, DataInputStream, DataOutputStream, EOFException}
import java.net.{InetSocketAddress, ServerSocket, Socket, SocketException}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.Executors

import graft.storage.{Ingest, SeriesStore}
import graft.sydraql.{CompileOptions, Engine, QueryProfile, QueryResult}
import org.apache.spark.sql.DataFrame
import scala.util.control.NonFatal

import PgProtocol._

/** `psql`- and driver-compatible wire server.
  *
  * Simple query ('Q') mirrors the reference
  * (`/root/reference/src/sydra/compat/wire/server.zig:24-318`,
  * `session.zig:75-140`): SQL → sydraQL translator → engine →
  * RowDescription/DataRow/CommandComplete with the reference's
  * observability NOTICEs (schema, trace id, per-operator stats, metrics).
  *
  * Beyond the reference (which declines it, server.zig:184-247), the
  * extended query protocol is implemented for real drivers (JDBC/psycopg
  * default to it): Parse/Bind/Describe/Execute/Close/Flush/Sync with
  * text-format `$n` parameters, plus the SET/BEGIN/COMMIT/ROLLBACK
  * no-op shims drivers issue at connect. Per the protocol, an error in an
  * extended-protocol message skips everything until Sync.
  *
  * One thread per connection; the Spark session is thread-safe for
  * concurrent query execution. Rows stream via `toLocalIterator` (one
  * partition resident on the driver at a time).
  */
final class PgWireServer(store: SeriesStore, maxRows: Int = Int.MaxValue) {

  // session.zig:4-14 SessionConfig defaults
  private val serverVersion = "15.2"

  @volatile private var server: ServerSocket = _
  private val pool = Executors.newCachedThreadPool()
  // open connection sockets: blocking reads don't respond to interrupt, so
  // stop() must close them or handler threads outlive shutdownNow forever
  private val connections = java.util.concurrent.ConcurrentHashMap.newKeySet[Socket]()

  def start(port: Int = 0): Int = {
    server = new ServerSocket()
    server.bind(new InetSocketAddress("127.0.0.1", port))
    pool.submit(new Runnable {
      def run(): Unit = acceptLoop()
    })
    server.getLocalPort
  }

  def stop(): Unit = {
    if (server != null) server.close()
    connections.forEach(s => try s.close() catch { case NonFatal(_) => () })
    pool.shutdownNow()
  }

  private def acceptLoop(): Unit =
    try {
      while (!server.isClosed) {
        val sock = server.accept()
        connections.add(sock)
        // close the race with stop(): if it swept `connections` between
        // accept() and add(), this socket would otherwise leak its thread
        if (server.isClosed) { try sock.close() catch { case NonFatal(_) => () }; return }
        pool.submit(new Runnable {
          def run(): Unit =
            try {
              // messageLoop flushes after every extended-protocol message,
              // so without NODELAY a small flush can wait on a delayed ACK
              sock.setTcpNoDelay(true)
              handleConnection(sock)
            } catch { case NonFatal(_) => () } // connection-scoped; never kill the acceptor
            finally { connections.remove(sock); sock.close() }
        })
      }
    } catch { case _: SocketException => () } // closed during stop()

  // ------------------------------------------------------------- connection

  /** Per-connection extended-protocol state. Cursors survive Sync so a
    * driver in cursor-mode fetch (repeated Execute on one portal) resumes
    * where it left off; they drop on Close or portal rebind.
    */
  private final class WireState {
    val statements = scala.collection.mutable.Map[String, (String, Seq[Int])]() // name -> (sql, param oids)
    val portals = scala.collection.mutable.Map[String, String]() // name -> bound sql
    val cursors = scala.collection.mutable.Map[String, java.util.Iterator[org.apache.spark.sql.Row]]()
    // portal -> zero-row completion tag: re-Execute of a finished portal
    // must return an empty completed result, not re-run the statement
    // (which would double-apply INSERTs)
    val completedTag = scala.collection.mutable.Map[String, String]()
    // per-connection Describe schema cache: pgjdbc's default flow is
    // Describe+Execute per statement — without this every round compiles
    // the query twice
    val schemaCache = scala.collection.mutable.Map[String, Option[org.apache.spark.sql.types.StructType]]()
    var errorUntilSync = false
  }

  private def handleConnection(sock: Socket): Unit = {
    val in = new DataInputStream(sock.getInputStream)
    val out = new DataOutputStream(new BufferedOutputStream(sock.getOutputStream))

    val startup =
      try readStartup(in, out)
      catch { case _: WireError | _: EOFException => return } // handshake terminated early

    val user = startup.find("user").getOrElse {
      // session.zig:88-91
      writeErrorResponse(out, "FATAL", SqlState.InvalidAuthorization, "user parameter required")
      out.flush()
      return
    }
    val app = startup.find("application_name").getOrElse("sydradb")

    writeAuthenticationOk(out)
    // session.zig:114-127 status pairs
    Seq(
      "server_version" -> serverVersion,
      "server_encoding" -> "UTF8",
      "client_encoding" -> "UTF8",
      "application_name" -> app,
      "DateStyle" -> "ISO, MDY",
      "TimeZone" -> "UTC",
      "integer_datetimes" -> "on",
      "standard_conforming_strings" -> "on"
    ).foreach { case (k, v) => writeParameterStatus(out, k, v) }
    writeReadyForQuery(out)
    out.flush()

    messageLoop(in, out, new WireState)
  }

  /** server.zig:82-123 plus the extended-protocol messages. */
  private def messageLoop(in: DataInputStream, out: DataOutputStream, st: WireState): Unit = {
    while (true) {
      val typeByte =
        try in.readByte()
        catch { case _: EOFException => return }
      val messageLength = in.readInt()
      if (messageLength < 4) return // InvalidMessageLength
      val payloadLen = messageLength - 4
      if (payloadLen > MaxMessageSize) return // MessageTooLarge
      val payload = new Array[Byte](payloadLen)
      in.readFully(payload)

      typeByte.toChar match {
        case 'X' => return
        case 'S' => // Sync ends any error-skip state
          st.errorUntilSync = false
          writeReadyForQuery(out)
        // protocol: after an extended-protocol error, EVERY message up to
        // Sync is discarded — including simple Query and unknown types
        case _ if st.errorUntilSync => ()
        case 'Q' =>
          handleSimpleQuery(in, out, payload)
        case 'H' => () // Flush — output flushes after every message below
        case 'P' => handleParse(out, payload, st)
        case 'B' => handleBind(out, payload, st)
        case 'D' => handleDescribe(out, payload, st)
        case 'E' => handleExecute(out, payload, st)
        case 'C' => handleClose(out, payload, st)
        case _ =>
          // unknown type: enter the error state and hold ReadyForQuery
          // until Sync — an immediate RFQ here would desync drivers that
          // count RFQs to delimit request cycles
          extError(out, st, SqlState.FeatureNotSupported, "message type not implemented")
      }
      out.flush()
    }
  }

  // ------------------------------------------------------------ sql routing

  /** Transaction/SET no-op shims: drivers issue these at connect; a
    * time-series store has no transactions to open, so acknowledge and
    * move on (the command tag is what the driver checks).
    */
  private def shimTag(sql: String): Option[String] = {
    val first = sql.trim.split("[\\s;]+", 2).headOption.getOrElse("").toUpperCase
    first match {
      case "SET" => Some("SET")
      case "BEGIN" | "START" => Some("BEGIN")
      case "COMMIT" | "END" => Some("COMMIT")
      case "ROLLBACK" | "ABORT" => Some("ROLLBACK")
      case "RESET" => Some("RESET")
      case _ => None
    }
  }

  /** server.zig:139-182. */
  private def handleSimpleQuery(in: DataInputStream, out: DataOutputStream, payload: Array[Byte]): Unit = {
    val sql = cString(payload).trim
    if (sql.isEmpty) {
      writeEmptyQueryResponse(out)
      writeReadyForQuery(out)
      return
    }
    CopyCommand.parse(sql) match {
      case Some(Right(cmd)) => handleCopyIn(in, out, cmd); return
      case Some(Left(msg)) =>
        writeErrorResponse(out, "ERROR", SqlState.SyntaxError, msg)
        writeReadyForQuery(out)
        return
      case None => ()
    }
    shimTag(sql) match {
      case Some(tag) =>
        writeCommandComplete(out, tag)
        writeReadyForQuery(out)
        return
      case None => ()
    }
    if (PgCatalog.isCatalogQuery(sql)) {
      // connect-time catalog probes (psql/JDBC) route to Spark SQL over the
      // static catalog views — beyond the reference, whose wire server
      // cannot answer catalog SQL (catalog.zig is /debug-only there)
      try {
        val df = PgCatalog.execute(store.spark, sql, serverVersion)
        streamRows(out, df, withRowDesc = true)
      } catch {
        case e: Throwable =>
          writeErrorResponse(out, "ERROR", SqlState.SyntaxError, String.valueOf(e.getMessage))
      }
      writeReadyForQuery(out)
      return
    }
    TranslationLog.translate(sql) match {
      case Translator.Success(sydraql) => executeSydraql(out, sydraql)
      case Translator.Failure(state, msg) =>
        writeErrorResponse(out, "ERROR", state, if (msg.isEmpty) "translation failed" else msg)
        writeReadyForQuery(out)
    }
  }

  // ------------------------------------------------------------ COPY ingest

  /** `COPY <series> [(time, value)] FROM STDIN [CSV [HEADER] | WITH
    * (FORMAT csv|text [, HEADER])]` — the bulk-ingest surface a real
    * psql/JDBC ETL job reaches for (`\copy`, CopyManager). The reference
    * declines the extended protocol entirely and has no COPY; here it
    * maps onto the canonical NDJSON ingest path: rows parse to
    * `{series, ts, value}` lines and run through [[Ingest.batch]] —
    * same normalization, same store append, same hour-partitioned
    * segment write as every other ingest route.
    *
    * Wire shape per the protocol: CopyInResponse, then `CopyData`
    * messages accumulate until `CopyDone` (ingest + `COPY n`) or
    * `CopyFail` (error 57014, nothing ingested). A malformed row fails
    * the whole COPY (22P02) — PostgreSQL semantics, no partial batch.
    * The table name is the SERIES (exactly as wire INSERT), so text rows
    * are `time<TAB>value` (`\N` null) and CSV rows `time,value`; a
    * trailing `\.` terminator line is tolerated. Null/absent value
    * defaults like every ingest route (0.0); null time drops the row in
    * normalize, and `COPY n` reports rows INGESTED, not rows sent.
    *
    * Driver-memory note: the batch accumulates on the connection thread
    * (bounded by MaxMessageSize per CopyData frame, 16 MiB, but not in
    * total) before one Ingest.batch call — the wire is a single socket,
    * so a 100 TB-scale backfill belongs on the distributed NDJSON/CSV
    * directory routes; COPY is the driver-friendly operational surface.
    */
  private def handleCopyIn(in: DataInputStream, out: DataOutputStream,
      cmd: CopyCommand): Unit = {
    writeCopyInResponse(out, cmd.cols.length)
    out.flush()
    val buf = new java.io.ByteArrayOutputStream()
    var failed: Option[(String, String)] = None // (sqlstate, message)
    var done = false
    while (!done) {
      val typeByte =
        try in.readByte()
        catch { case _: EOFException => return }
      val messageLength = in.readInt()
      if (messageLength < 4) return
      val payloadLen = messageLength - 4
      if (payloadLen > MaxMessageSize) return
      val payload = new Array[Byte](payloadLen)
      in.readFully(payload)
      typeByte.toChar match {
        case 'd' => if (failed.isEmpty) buf.write(payload)
        case 'c' => done = true
        case 'f' =>
          failed = Some((SqlState.QueryCanceled,
            s"COPY from stdin failed: ${cString(payload)}"))
          done = true
        case 'X' => return
        case 'H' | 'S' => () // Flush/Sync mid-copy: no-ops per protocol
        case other =>
          // keep draining so the stream stays framed; fail at the end
          if (failed.isEmpty)
            failed = Some((SqlState.ProtocolViolation,
              s"unexpected message '$other' during COPY"))
      }
    }
    val result = failed.toLeft(()).flatMap { _ =>
      try Right(copyIngest(cmd, buf.toByteArray))
      catch {
        case e: CopyRowError => Left((SqlState.InvalidTextRepresentation, e.getMessage))
        case e: Throwable => Left((SqlState.of(e), SqlState.message(e)))
      }
    }
    result match {
      case Right(n) => writeCommandComplete(out, s"COPY $n")
      case Left((state, msg)) => writeErrorResponse(out, "ERROR", state, msg)
    }
    writeReadyForQuery(out)
  }

  private final class CopyRowError(msg: String) extends RuntimeException(msg)

  /** Parse accumulated COPY rows and run them through the NDJSON ingest
    * path. Returns rows ingested.
    */
  private def copyIngest(cmd: CopyCommand, data: Array[Byte]): Long = {
    val text = new String(data, UTF_8)
    val raw = text.split("\n", -1).iterator.map(_.stripSuffix("\r"))
      .filter(_.nonEmpty).filterNot(_ == "\\.").toSeq
    val lines = if (cmd.header) raw.drop(1) else raw
    val sep = if (cmd.csv) ',' else '\t'
    val ti = cmd.cols.indexOf("time")
    val vi = cmd.cols.indexOf("value")
    def unquote(f: String): String = {
      val t = f.trim
      if (cmd.csv && t.length >= 2 && t.startsWith("\"") && t.endsWith("\""))
        t.substring(1, t.length - 1).replace("\"\"", "\"")
      else t
    }
    def isNull(f: String): Boolean =
      if (cmd.csv) f.isEmpty else f == "\\N"
    val jsonSeries = cmd.series.replace("\\", "\\\\").replace("\"", "\\\"")
    val ndjson = lines.map { line =>
      val fields = line.split(sep.toString, -1).map(unquote)
      if (fields.length != cmd.cols.length)
        throw new CopyRowError(
          s"row has ${fields.length} columns, expected ${cmd.cols.length}: $line")
      def num(i: Int, what: String): Option[String] = {
        val f = fields(i)
        if (isNull(f)) None
        else if (f.matches("-?\\d+(\\.\\d+)?([eE][+-]?\\d+)?")) Some(f)
        else throw new CopyRowError(s"invalid $what: '$f'")
      }
      val ts = num(ti, "time").map(t => s""""ts":${t.takeWhile(_ != '.')}""")
      val v = num(vi, "value").map(v => s""""value":$v""")
      (Seq(s""""series":"$jsonSeries"""") ++ ts ++ v).mkString("{", ",", "}")
    }
    val tmp = java.nio.file.Files.createTempFile("graft-copy", ".ndjson")
    try {
      java.nio.file.Files.write(tmp, ndjson.mkString("\n").getBytes(UTF_8))
      Ingest.batch(store, tmp.toString)
    } finally { java.nio.file.Files.delete(tmp); () }
  }

  // ------------------------------------------------------ extended protocol

  private def extError(out: DataOutputStream, st: WireState, state: String, msg: String): Unit = {
    writeErrorResponse(out, "ERROR", state, msg)
    st.errorUntilSync = true // protocol: discard until Sync
  }

  /** Parse: [stmt name][query][u16 n][u32 param oid ...] → ParseComplete. */
  private def handleParse(out: DataOutputStream, payload: Array[Byte], st: WireState): Unit = {
    var cursor = 0
    def cstr(): Option[String] = {
      val end = payload.indexOf(0.toByte, cursor)
      if (end < 0) None
      else { val s = new String(payload, cursor, end - cursor, UTF_8); cursor = end + 1; Some(s) }
    }
    (cstr(), cstr()) match {
      case (Some(name), Some(sql)) if payload.length >= cursor + 2 =>
        val nParams = ((payload(cursor) & 0xff) << 8) | (payload(cursor + 1) & 0xff)
        cursor += 2
        if (payload.length < cursor + nParams * 4) {
          extError(out, st, SqlState.ProtocolViolation, "parse message truncated"); return
        }
        val oids = (0 until nParams).map { i =>
          val o = cursor + i * 4
          ((payload(o) & 0xff) << 24) | ((payload(o + 1) & 0xff) << 16) |
            ((payload(o + 2) & 0xff) << 8) | (payload(o + 3) & 0xff)
        }
        st.statements(name) = (sql.trim, oids)
        out.write('1'); out.writeInt(4) // ParseComplete
      case _ => extError(out, st, SqlState.ProtocolViolation, "malformed parse message")
    }
  }

  /** Bind: substitute text-format `$n` parameters into the statement's SQL
    * and store the portal → BindComplete.
    */
  private def handleBind(out: DataOutputStream, payload: Array[Byte], st: WireState): Unit = {
    val buf = java.nio.ByteBuffer.wrap(payload)
    // decode names as UTF-8 (matching handleParse) — byte-by-byte toChar
    // would read multi-byte names as Latin-1 and never match Parse's store
    def cstr(): String = {
      val bytes = new java.io.ByteArrayOutputStream
      var b = buf.get()
      while (b != 0) { bytes.write(b); b = buf.get() }
      new String(bytes.toByteArray, UTF_8)
    }
    try {
      val portal = cstr()
      val stmtName = cstr()
      val (sql, _) = st.statements.getOrElse(stmtName, {
        extError(out, st, SqlState.InternalError, s"unknown prepared statement '$stmtName'"); return
      })
      val nFmt = buf.getShort.toInt
      val fmts = (0 until nFmt).map(_ => buf.getShort.toInt)
      val nParams = buf.getShort.toInt
      // protocol: format-code count must be 0 (all text), 1 (applies to
      // all), or exactly one per parameter
      if (nFmt > 1 && nFmt != nParams) {
        extError(out, st, SqlState.ProtocolViolation, "format code count must be 0, 1, or parameter count")
        return
      }
      val params = (0 until nParams).map { i =>
        val len = buf.getInt
        if (len < 0) null
        else {
          val b = new Array[Byte](len); buf.get(b)
          val fmt = if (fmts.isEmpty) 0 else if (fmts.length == 1) fmts.head else fmts(i)
          if (fmt == 1) { extError(out, st, SqlState.FeatureNotSupported, "binary parameters not supported"); return }
          new String(b, UTF_8)
        }
      }
      st.portals(portal) = substituteParams(sql, params)
      st.cursors.remove(portal) // rebinding a portal restarts its result
      st.completedTag.remove(portal)
      out.write('2'); out.writeInt(4) // BindComplete
    } catch {
      case _: java.nio.BufferUnderflowException =>
        extError(out, st, SqlState.ProtocolViolation, "malformed bind message")
    }
  }

  /** `$n` placeholder spans outside quoted regions (single-quoted string
    * literals with `''` escapes AND double-quoted identifiers): one shared
    * scanner so substitution and parameter counting can't diverge.
    * Returns (start, endExclusive, paramIndex0Based).
    */
  private def placeholderSpans(sql: String): Seq[(Int, Int, Int)] = {
    val spans = Seq.newBuilder[(Int, Int, Int)]
    var i = 0
    var quote: Char = 0 // 0 = outside; '\'' or '"' = inside that quote kind
    while (i < sql.length) {
      val c = sql.charAt(i)
      if (quote != 0) {
        if (c == quote) {
          if (quote == '\'' && i + 1 < sql.length && sql.charAt(i + 1) == '\'') i += 1
          else quote = 0
        }
        i += 1
      } else if (c == '\'' || c == '"') { quote = c; i += 1 }
      else if (c == '$' && i + 1 < sql.length && sql.charAt(i + 1).isDigit) {
        var j = i + 1
        while (j < sql.length && sql.charAt(j).isDigit) j += 1
        spans += ((i, j, sql.substring(i + 1, j).toInt - 1))
        i = j
      } else i += 1
    }
    spans.result()
  }

  /** `$n` → SQL literal: NULL, bare numerics, or quoted-and-escaped text.
    * A `$1` inside a string literal or quoted identifier is data, not a
    * placeholder.
    */
  private def substituteParams(sql: String, params: Seq[String]): String = {
    val sb = new StringBuilder
    var last = 0
    placeholderSpans(sql).foreach { case (start, end, idx) =>
      sb.append(sql.substring(last, start))
      sb.append(
        if (idx < 0 || idx >= params.length) sql.substring(start, end) // out-of-range: leave as-is
        else params(idx) match {
          case null => "NULL"
          case v if v.matches("-?\\d+(\\.\\d+)?") => v
          case v => "'" + v.replace("'", "''") + "'"
        })
      last = end
    }
    sb.append(sql.substring(last))
    sb.toString
  }

  /** Highest `$n` placeholder index outside quoted regions (0 if none). */
  private def maxParamIndex(sql: String): Int =
    placeholderSpans(sql).foldLeft(0) { case (mx, (_, _, idx)) => math.max(mx, idx + 1) }

  /** Describe ('S' statement / 'P' portal): ParameterDescription (stmt
    * only) then RowDescription or NoData. The schema comes from the lazy
    * compile — no job runs.
    */
  private def handleDescribe(out: DataOutputStream, payload: Array[Byte], st: WireState): Unit = {
    if (payload.isEmpty) { extError(out, st, SqlState.ProtocolViolation, "malformed describe"); return }
    val kind = payload(0).toChar
    val name = cString(payload.drop(1))
    val sqlOpt = kind match {
      case 'S' => st.statements.get(name).map(_._1)
      case 'P' => st.portals.get(name)
      case _ => None
    }
    val sql = sqlOpt.getOrElse {
      extError(out, st, SqlState.InternalError, s"unknown ${if (kind == 'S') "statement" else "portal"} '$name'")
      return
    }
    if (kind == 'S') {
      val oids = st.statements(name)._2
      out.write('t'); out.writeInt(4 + 2 + oids.length * 4) // ParameterDescription
      out.writeShort(oids.length)
      oids.foreach(out.writeInt)
    }
    describeSchema(sql, st) match {
      case Some(schema) => writeRowDescription(out, schema)
      case None => out.write('n'); out.writeInt(4) // NoData
    }
  }

  /** Row schema of a statement without executing it: shims and writes have
    * no rows; catalog statements compile lazily, and sydraQL statements
    * compile on the route Execute runs them on ([[Engine.describeOnStore]]:
    * the same served or pruned raw route, no job, INSERT/DELETE not run).
    * Unbound `$n` placeholders (Describe on a statement before Bind) get
    * dummy values — the schema doesn't depend on parameter values, and
    * answering NoData for a statement that later streams DataRows would
    * desync the driver.
    * Cached per connection: the pgjdbc Describe+Execute flow would
    * otherwise compile every statement twice.
    */
  private def describeSchema(sql: String, st: WireState): Option[org.apache.spark.sql.types.StructType] = {
    // cap: portal describes key on BOUND sql (unique per parameter set on
    // the pgjdbc flow) — unbounded growth on a long-lived connection
    if (st.schemaCache.size >= 256) st.schemaCache.clear()
    st.schemaCache.getOrElseUpdate(sql, {
      val bound = maxParamIndex(sql) match {
        case 0 => sql
        case n => substituteParams(sql, Seq.fill(n)("0"))
      }
      if (shimTag(bound).isDefined) None
      else if (PgCatalog.isCatalogQuery(bound))
        scala.util.Try(PgCatalog.execute(store.spark, bound, serverVersion).schema).toOption
      else Translator.translate(bound) match {
        case Translator.Success(sydraql) =>
          scala.util.Try(Engine.describeOnStore(store, sydraql, CompileOptions())).toOption.flatten
        case _: Translator.Failure => None
      }
    })
  }

  /** Execute: run the portal, stream up to the message's max-row count
    * (0 = all), PortalSuspended ('s') when rows remain, else
    * CommandComplete. RowDescription was sent by Describe; ReadyForQuery
    * comes at Sync. Repeated Execute on the same portal resumes its
    * cursor — pgjdbc's fetch-size mode.
    */
  private def handleExecute(out: DataOutputStream, payload: Array[Byte], st: WireState): Unit = {
    val nameEnd = payload.indexOf(0.toByte)
    val portal = if (nameEnd <= 0) "" else new String(payload, 0, nameEnd, UTF_8)
    val limit =
      if (nameEnd >= 0 && payload.length >= nameEnd + 5)
        java.nio.ByteBuffer.wrap(payload, nameEnd + 1, 4).getInt
      else 0
    val sql = st.portals.getOrElse(portal, {
      extError(out, st, SqlState.InternalError, s"unknown portal '$portal'"); return
    })
    st.completedTag.get(portal) match {
      // a finished portal answers an empty completed result — re-running
      // the statement would double-apply INSERTs and replay SELECTs
      case Some(tag) if !st.cursors.contains(portal) =>
        writeCommandComplete(out, tag); return
      case _ => ()
    }
    st.cursors.get(portal) match {
      case Some(it) => streamCursor(out, st, portal, it, limit)
      case None =>
        shimTag(sql) match {
          case Some(tag) => writeCommandComplete(out, tag); return
          case None => ()
        }
        if (PgCatalog.isCatalogQuery(sql)) {
          try {
            val it = PgCatalog.execute(store.spark, sql, serverVersion).toLocalIterator()
            st.cursors(portal) = it
            streamCursor(out, st, portal, it, limit)
          } catch {
            case e: Throwable => extError(out, st, SqlState.SyntaxError, String.valueOf(e.getMessage))
          }
          return
        }
        TranslationLog.translate(sql) match {
          case Translator.Success(sydraql) =>
            try {
              val res = Engine.executeOnStore(store, sydraql, CompileOptions())
              commandTag(res) match {
                case Some(tag) =>
                  writeCommandComplete(out, tag(res.df.head().getLong(0)))
                  st.completedTag(portal) = tag(0)
                case None =>
                  val it = res.df.toLocalIterator()
                  st.cursors(portal) = it
                  streamCursor(out, st, portal, it, limit)
              }
            } catch {
              case e: Throwable => extError(out, st, SqlState.of(e), SqlState.message(e))
            }
          case Translator.Failure(state, msg) =>
            extError(out, st, state, if (msg.isEmpty) "translation failed" else msg)
        }
    }
  }

  /** Drain a portal cursor up to `limit` rows (0 = unbounded). */
  private def streamCursor(out: DataOutputStream, st: WireState, portal: String,
      it: java.util.Iterator[org.apache.spark.sql.Row], limit: Int): Unit = {
    var n = 0L
    try {
      while (it.hasNext && (limit <= 0 || n < limit) && n < maxRows) {
        val r = it.next()
        writeDataRow(out, (0 until r.length).map(i => formatValue(r.get(i))))
        n += 1
      }
      if (it.hasNext && limit > 0 && n >= limit) {
        out.write('s'); out.writeInt(4) // PortalSuspended
      } else {
        st.cursors.remove(portal)
        st.completedTag(portal) = "SELECT 0"
        writeCommandComplete(out, s"SELECT $n")
      }
    } catch {
      case e: Throwable => // runtime error mid-stream (e.g. ANSI division)
        st.cursors.remove(portal)
        extError(out, st, SqlState.of(e), SqlState.message(e))
    }
  }

  private def handleClose(out: DataOutputStream, payload: Array[Byte], st: WireState): Unit = {
    if (payload.nonEmpty) {
      val name = cString(payload.drop(1))
      payload(0).toChar match {
        case 'S' => st.statements.remove(name)
        case 'P' => st.portals.remove(name); st.cursors.remove(name); st.completedTag.remove(name)
        case _ => ()
      }
    }
    out.write('3'); out.writeInt(4) // CloseComplete
  }

  // --------------------------------------------------------- row streaming

  /** Stream a DataFrame: optional RowDescription (simple protocol yes,
    * Execute no — Describe already sent it), DataRows, `beforeComplete`
    * (the NOTICE block slot), CommandComplete.
    */
  private def streamRows(out: DataOutputStream, df: DataFrame, withRowDesc: Boolean,
      beforeComplete: Long => Unit = _ => ()): Long = {
    if (withRowDesc) writeRowDescription(out, df.schema)
    var rowCount = 0L
    val it = df.toLocalIterator()
    while (it.hasNext && rowCount < maxRows) {
      val r = it.next()
      writeDataRow(out, (0 until r.length).map(i => formatValue(r.get(i))))
      rowCount += 1
    }
    beforeComplete(rowCount)
    writeCommandComplete(out, s"SELECT $rowCount")
    rowCount
  }

  /** INSERT and DELETE answer a postgres command tag for their row count
    * instead of rows (psql prints `INSERT 0 n` / `DELETE n`); the route
    * the engine took says which.
    */
  private def commandTag(res: QueryResult): Option[Long => String] = res.stats.route match {
    case "insert" => Some(n => s"INSERT 0 $n")
    case "delete" => Some(n => s"DELETE $n")
    case _ => None
  }

  /** server.zig:249-318: execute, stream rows, then the NOTICE block
    * (schema, trace_id, per-operator rows_out, metrics) and
    * CommandComplete. The compile is lazy, so the Spark job runs inside
    * the same try: a runtime error (e.g. ANSI division) produces an
    * ErrorResponse + ReadyForQuery, not a dropped connection.
    */
  private def executeSydraql(out: DataOutputStream, sydraql: String): Unit = {
    val startNs = System.nanoTime()
    try {
      val res = Engine.executeOnStore(store, sydraql, CompileOptions())
      commandTag(res) match {
        case Some(tag) => writeCommandComplete(out, tag(res.df.head().getLong(0)))
        case None =>
          streamRows(out, res.df, withRowDesc = true, beforeComplete = rowCount =>
            writeNotices(out, res.df.schema,
              QueryProfile.of(res, res.df, rowCount, (System.nanoTime() - startNs) / 1000)))
      }
    } catch {
      case e: Throwable => writeErrorResponse(out, "ERROR", SqlState.of(e), SqlState.message(e))
    }
    writeReadyForQuery(out)
  }

  /** The reference's post-query NOTICE block (server.zig:294-312),
    * rendered from the statement's profile.
    */
  private def writeNotices(out: DataOutputStream,
      schema: org.apache.spark.sql.types.StructType, p: QueryProfile): Unit = {
    if (schema.fields.nonEmpty) {
      val cols = schema.fields.map(f =>
        s"""{name:"${f.name}",type:"${displayName(f.dataType)}",nullable:${f.nullable}}""")
      writeNoticeResponse(out, cols.mkString("schema=[", ", ", "]"))
    }
    if (p.stats.traceId.nonEmpty) writeNoticeResponse(out, s"trace_id=${p.stats.traceId}")
    p.operators.foreach(o =>
      writeNoticeResponse(out, s"operator=${o.name} rows_out=${o.rowsOut} elapsed_us=${o.elapsedUs}"))
    if (p.stats.served.isDefined)
      writeNoticeResponse(out,
        s"merge_site=${p.mergeSite} cell_files=${p.cellFiles} cell_bytes=${p.cellBytes}")
    val scanned = p.operators.filter(_.name.toLowerCase.contains("scan")).map(o => math.max(o.rowsOut, 0L)).sum
    val planUs = p.stats.parseUs + p.stats.validateUs + p.stats.compileUs
    writeNoticeResponse(out,
      s"metrics rows=${p.rows} scanned=$scanned stream_ms=${p.wallUs / 1000} plan_ms=${planUs / 1000}")
  }

  private def cString(payload: Array[Byte]): String = {
    val end = payload.indexOf(0.toByte)
    new String(payload, 0, if (end < 0) payload.length else end, UTF_8)
  }
}

/** Parsed `COPY ... FROM STDIN` form: target series, column order, and
  * the two options this surface speaks (CSV vs text rows, HEADER skip).
  */
private[api] final case class CopyCommand(
    series: String, cols: Seq[String], csv: Boolean, header: Boolean)

private[api] object CopyCommand {
  private val Pattern =
    ("(?is)^COPY\\s+(\"[^\"]+\"|[A-Za-z_][\\w.]*)\\s*" +
      "(?:\\(([^)]*)\\))?\\s*FROM\\s+STDIN\\s*(.*)$").r

  /** None: not a COPY statement. Some(Left): a COPY this surface cannot
    * run (COPY TO, unknown columns). Some(Right): runnable command.
    */
  def parse(sql: String): Option[Either[String, CopyCommand]] = {
    val s = sql.trim.stripSuffix(";").trim
    if (!s.toUpperCase.startsWith("COPY")) return None
    s match {
      case Pattern(name, colsRaw, rest) =>
        val series =
          if (name.startsWith("\"")) name.substring(1, name.length - 1) else name
        val cols = Option(colsRaw)
          .map(_.split(',').map(_.trim.toLowerCase).filter(_.nonEmpty).toSeq)
          .getOrElse(Seq("time", "value"))
        if (cols.sorted != Seq("time", "value"))
          Some(Left(s"COPY supports columns (time, value); got (${cols.mkString(", ")})"))
        else {
          val o = rest.trim.toUpperCase
          Some(Right(CopyCommand(series, cols,
            csv = o.contains("CSV"), header = o.contains("HEADER"))))
        }
      case _ =>
        Some(Left("unsupported COPY form; expected " +
          "COPY <series> [(time, value)] FROM STDIN [CSV [HEADER]]"))
    }
  }
}
