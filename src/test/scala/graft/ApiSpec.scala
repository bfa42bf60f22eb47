package graft

import graft.api.{HttpApi, Translator}
import graft.storage.SeriesStore
import org.scalatest.funsuite.AnyFunSuite
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files

/** Translator corpus (behavior-matched to the reference fixture
  * tests/translator/cases.jsonl) + HTTP surface round-trip.
  */
class ApiSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  // ---- translator corpus -------------------------------------------------

  private def ok(sql: String, expected: String): Unit =
    Translator.translate(sql) match {
      case Translator.Success(s) => assert(s === expected, sql)
      case f => fail(s"$sql → $f, expected success")
    }
  private def err(sql: String): Unit =
    Translator.translate(sql) match {
      case Translator.Failure(state, msg) =>
        assert(state === "0A000"); assert(msg === "feature not supported")
      case s => fail(s"$sql → $s, expected 0A000")
    }

  test("translator success corpus") {
    ok("SELECT 1", "select 1")
    ok("SELECT 1;", "select 1")
    ok("INSERT INTO users(id) VALUES (1)", "insert into users (id) values (1)")
    ok("SELECT id, name FROM users", "select id,name from users")
    ok("SELECT name FROM users WHERE id = 42", "select name from users where id = 42")
    ok("select * from accounts", "select * from accounts")
    ok("DELETE FROM users WHERE id = 42", "delete from users where id = 42")
    ok("DELETE FROM sessions", "delete from sessions")
  }

  test("translator failure corpus (UPDATE / RETURNING / malformed)") {
    err("UPDATE users SET name = 'rex' WHERE id = 1")
    err("UPDATE accounts SET balance = balance + 1")
    err("UPDATE users SET")
    err("INSERT INTO users (id) VALUES (2) RETURNING id")
    err("INSERT INTO users (id) VALUES (3) RETURNING")
    err("UPDATE users SET name = 'rex' WHERE id = 1 RETURNING id")
    err("UPDATE users SET name = 'rex' RETURNING")
    err("DELETE FROM users WHERE")
    err("DELETE FROM users WHERE id = 5 RETURNING id")
    err("DELETE FROM users RETURNING")
  }

  // ---- HTTP surface ------------------------------------------------------

  private val client = HttpClient.newHttpClient()
  private def post(port: Int, path: String, bodyStr: String, tok: Option[String] = Some("t0")): HttpResponse[String] = {
    val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .POST(HttpRequest.BodyPublishers.ofString(bodyStr))
    tok.foreach(t => b.header("Authorization", s"Bearer $t"))
    client.send(b.build(), HttpResponse.BodyHandlers.ofString())
  }
  private def get(port: Int, path: String, tok: Option[String] = Some("t0")): HttpResponse[String] = {
    val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path")).GET()
    tok.foreach(t => b.header("Authorization", s"Bearer $t"))
    client.send(b.build(), HttpResponse.BodyHandlers.ofString())
  }

  test("translation log: counters + sampled JSONL emission (compat/log.zig:4-53)") {
    import graft.api.TranslationLog
    val t0 = TranslationLog.translations.get
    val f0 = TranslationLog.fallbacks.get
    val err = new java.io.ByteArrayOutputStream()
    Console.withErr(new java.io.PrintStream(err)) {
      assert(TranslationLog.translate("SELECT 1").isInstanceOf[Translator.Success])
      assert(TranslationLog.translate("UPDATE x SET y = 1").isInstanceOf[Translator.Failure])
    }
    assert(TranslationLog.translations.get === t0 + 1)
    assert(TranslationLog.fallbacks.get === f0 + 1)
    val lines = err.toString.trim.linesIterator.toSeq
    assert(lines.length === 2)
    val n = new com.fasterxml.jackson.databind.ObjectMapper().readTree(lines.head)
    assert(n.get("event").asText() === "compat.translate")
    assert(n.get("sydraql").asText() === "select 1")
    assert(n.get("fallback").asBoolean() === false)
    assert(n.get("duration_ns").asLong() >= 0)
  }

  test("translation cache: a repeated statement counts a cache hit (compat/stats.zig:22-33)") {
    import graft.api.TranslationLog
    val sql = s"SELECT value FROM cachehit_${System.nanoTime()} WHERE time > 0"
    val h0 = TranslationLog.cacheHits.get
    TranslationLog.enabled = false
    try {
      val first = TranslationLog.translate(sql)
      assert(TranslationLog.cacheHits.get === h0, "first sight is a miss")
      val second = TranslationLog.translate(sql)
      assert(second === first, "cached result must be identical")
      assert(TranslationLog.cacheHits.get === h0 + 1, "second identical statement hits the cache")
    } finally TranslationLog.enabled = true
  }

  test("stop() ends the API's request threads, so a JVM whose main returns can exit") {
    def liveUserThreads(): Set[Thread] = {
      import scala.jdk.CollectionConverters._
      Thread.getAllStackTraces.keySet.asScala.filter(t => t.isAlive && !t.isDaemon).toSet
    }
    val before = liveUserThreads()
    val api = new HttpApi(new SeriesStore(spark, Files.createTempDirectory("graft-api").toString))
    val port = api.start()
    (1 to 8).foreach(_ => assert(get(port, "/status", tok = None).statusCode() === 200))
    assert((liveUserThreads() -- before).nonEmpty, "serving runs on non-daemon threads")
    api.stop()
    val deadline = System.nanoTime() + 10000000000L
    while ((liveUserThreads() -- before).nonEmpty && System.nanoTime() < deadline)
      Thread.sleep(50)
    val left = liveUserThreads() -- before
    assert(left.isEmpty, s"threads still alive after stop(): ${left.map(_.getName).mkString(", ")}")
  }

  test("HTTP API: ingest -> range -> find -> sydraql -> sql -> metrics") {
    val store = new SeriesStore(spark, Files.createTempDirectory("graft-api").toString)
    val api = new HttpApi(store, token = Some("t0"))
    val port = api.start()
    try {
      // auth enforced on /api/*
      assert(post(port, "/api/v1/sydraql", """{"query":"select 1"}""", tok = None).statusCode() === 401)
      assert(get(port, "/status", tok = None).statusCode() === 200)

      val ing = post(port, "/api/v1/ingest",
        """{"series":"weather.room1","ts":1694300000,"value":24.2}
          |{"series":"weather.room1","ts":1694300010,"value":24.5,"tags":{"host":"a","city":"ams"}}
          |{"series":"cpu.total","ts":1694300000,"fields":{"usage":0.93}}""".stripMargin)
      assert(ing.statusCode() === 200 && ing.body().contains("\"ingested\":3"))

      val rng = get(port, s"/api/v1/query/range?series=weather.room1&start=0&end=2694300000")
      assert(rng.statusCode() === 200)
      assert(rng.body().contains("24.2") && rng.body().contains("24.5"))

      val find = post(port, "/api/v1/query/find", """{"tags":{"host":"a"},"op":"and"}""")
      assert(find.statusCode() === 200 && find.body().startsWith("["))

      val q = post(port, "/api/v1/sydraql",
        """{"query":"select time, value from weather.room1 where time >= 0 order by time"}""")
      assert(q.statusCode() === 200)
      assert(q.body().contains("\"columns\":[\"time\",\"value\"]"))
      assert(q.body().contains("trace_id"))
      // per-operator instrumentation present with live metrics
      // (operator.zig:30-48 analog)
      assert(q.body().contains("\"operators\":["), q.body().take(400))
      val rowsOut = """"rows_out":(\d+)""".r.findAllMatchIn(q.body()).map(_.group(1).toLong).toSeq
      assert(rowsOut.exists(_ > 0), s"expected live operator metrics: $rowsOut")

      val sql = post(port, "/api/v1/sql",
        """{"query":"SELECT value FROM cpu.total WHERE time >= 0"}""")
      assert(sql.statusCode() === 200 && sql.body().contains("0.93"))

      val bad = post(port, "/api/v1/sql", """{"query":"UPDATE x SET y = 1"}""")
      assert(bad.statusCode() === 400 && bad.body().contains("0A000"))

      val invalid = post(port, "/api/v1/sydraql", """{"query":"select value from m"}""")
      assert(invalid.statusCode() === 400 && invalid.body().contains("time_range_required"))

      val m = get(port, "/metrics")
      assert(m.statusCode() === 200)
      assert(m.body().contains("sydra_ingest_total 3"))
      assert(m.body().contains("sydra_query_total"))
    } finally api.stop()
  }

  test("served-route stats: real stage timings + route attribution (r15)") {
    import graft.storage.{SeriesStore, SketchCells}
    import org.apache.spark.sql.functions.{col, lit, map}
    import spark.implicits._
    val store = new SeriesStore(spark, Files.createTempDirectory("graft-api-served").toString)
    val pts = (0 until 8).map(i => ("cpu", i.toLong * 21600L, i.toDouble))
      .toDF("series", "time", "value")
      .withColumn("tags", map().cast("map<string,string>"))
      .select("series", "tags", "time", "value")
    store.append(pts)
    SketchCells.build(store, SketchCells.dirFor(store))
    val api = new HttpApi(store, token = Some("t0"))
    val port = api.start()
    try {
      // day-aligned window over the cell tier: the engine serves from
      // cells, and the stats object says so — with REAL stage timings
      // (both were zeroed on served routes before r15)
      val q = post(port, "/api/v1/sydraql",
        """{"query":"select avg(value) as a from cpu where time >= 0 and time < 172800"}""")
      assert(q.statusCode() === 200, q.body().take(300))
      assert(q.body().contains("\"route\":\"served:cells:td\""), q.body().take(600))
      def statOf(name: String, body: String): Long =
        ("\"" + name + "\":(\\d+)").r.findFirstMatchIn(body).map(_.group(1).toLong).getOrElse(-1L)
      assert(statOf("parse_us", q.body()) > 0,
        s"served route must report non-zero parse_us: ${q.body().take(400)}")
      assert(statOf("compile_us", q.body()) > 0,
        "compile_us must cover serving-route resolution")
      // the raw route attributes itself too
      val raw = post(port, "/api/v1/sydraql",
        """{"query":"select time, value from cpu where time >= 0 and time < 100 order by time"}""")
      assert(raw.statusCode() === 200)
      assert(raw.body().contains("\"route\":\"raw\""), raw.body().take(600))
    } finally api.stop()
  }
  test("stats carries every key the benchmark reads, on the served, raw, insert and delete routes") {
    import graft.storage.SketchCells
    import org.apache.spark.sql.functions.map
    import spark.implicits._
    val store = new SeriesStore(spark, Files.createTempDirectory("graft-api-contract").toString)
    store.append((0 until 8).map(i => ("cpu", i.toLong * 21600L, i.toDouble))
      .toDF("series", "time", "value")
      .withColumn("tags", map().cast("map<string,string>"))
      .select("series", "tags", "time", "value"))
    SketchCells.build(store, SketchCells.dirFor(store))
    val api = new HttpApi(store, token = Some("t0"))
    val port = api.start()
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    // sydrabench reads a missing numeric key as 0, so a dropped key would
    // silently zero a per-layer metric
    val keys = Seq("parse_us", "validate_us", "compile_us", "optimize_us", "physical_us",
      "pipeline_us", "rows_emitted", "trace_id", "route", "operators",
      "merge_site", "cell_files", "cell_bytes")
    val servedQl = "select avg(value) as a from cpu where time >= 0 and time < 172800"
    def statsOf(route: String, ql: String) = {
      val r = post(port, "/api/v1/sydraql", mapper.writeValueAsString(java.util.Map.of("query", ql)))
      assert(r.statusCode() === 200, s"$route: ${r.body().take(300)}")
      val stats = mapper.readTree(r.body()).get("stats")
      keys.foreach(k => assert(stats.has(k), s"$route reply lacks stats.$k: $stats"))
      assert(stats.get("route").asText === route, stats.toString)
      val ops = stats.get("operators")
      assert(ops.isArray && ops.size > 0, s"$route: $stats")
      ops.forEach(o => assert(o.has("name") && o.has("rows_out"), s"$route operator $o"))
      stats
    }
    // the two days' cell files, each day one file
    def cellRead(stats: com.fasterxml.jackson.databind.JsonNode) =
      (stats.get("merge_site").asText, stats.get("cell_files").asInt, stats.get("cell_bytes").asLong)
    try {
      val driver = cellRead(statsOf("served:cells:td", servedQl))
      assert(driver._1 === "driver" && driver._2 === 2 && driver._3 > 0, driver)
      // a split size below the cells' bytes merges the same files in Spark
      val key = "spark.sql.files.maxPartitionBytes"
      val prev = spark.conf.getOption(key)
      spark.conf.set(key, "512")
      try assert(cellRead(statsOf("served:cells:td", servedQl)) === driver.copy(_1 = "spark"))
      finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
      Seq("raw" -> "select time, value from cpu where time >= 0 and time < 100000 order by time",
        "insert" -> "insert into cpu (time, value) values (100, 1.5)",
        "delete" -> "delete from cpu where time >= 100 and time < 101").foreach { case (route, ql) =>
        assert(cellRead(statsOf(route, ql)) === (("none", 0, 0L)), route)
      }
    } finally api.stop()
  }

  test("a division by zero at row execution answers sqlstate 22012 over HTTP, as over pgwire") {
    import spark.implicits._
    val store = new SeriesStore(spark, Files.createTempDirectory("graft-api-div0").toString)
    store.append(Seq(("m", 10L, 1.5), ("m", 20L, 2.0)).toDF("series", "time", "value")
      .withColumn("tags", org.apache.spark.sql.functions.map().cast("map<string,string>"))
      .select("series", "tags", "time", "value"))
    val api = new HttpApi(store, token = Some("t0"))
    val port = api.start()
    try {
      val r = post(port, "/api/v1/sydraql",
        """{"query":"select value / 0 from m where time >= 0 and time < 100"}""")
      // not a query error: the statement compiles and fails at execution
      assert(r.statusCode() === 500, r.body())
      assert(r.body().contains("\"sqlstate\":\"22012\""), r.body())
    } finally api.stop()
  }

  test("range reads: pruned through the skip manifest, equal to the raw source filter; non-numeric bounds are a 400") {
    import graft.storage.{ScanProbe, SkipIndex}
    import org.apache.spark.sql.functions.{col, map, lit}
    import spark.implicits._
    val store = new SeriesStore(spark, Files.createTempDirectory("graft-api-range").toString)
    // two series, one of them under two tag sets (two series_ids), one
    // point every 20 min over 6 hours, one null value
    val pts = (0 until 18).flatMap { i =>
      val t = 1700000000L + i * 1200L
      Seq(("cpu", "a", t, Option(i.toDouble)), ("cpu", "b", t + 1, Option(-i.toDouble)),
        ("mem", "a", t + 2, if (i == 5) None else Option(i * 10.0)))
    }.toDF("series", "host", "time", "value")
      .select(col("series"), map(lit("host"), col("host")).as("tags"), col("time"), col("value"))
    store.append(pts)
    SkipIndex.build(store, SkipIndex.dirFor(store))
    // appended after the manifest was built, in an hour it did not index
    store.append(Seq(("cpu", "a", 1700000000L + 8 * 3600L, Option(99.5))).toDF("series", "host", "time", "value")
      .select(col("series"), map(lit("host"), col("host")).as("tags"), col("time"), col("value")))
    val ids = store.source().filter(col("series") === "cpu").select("series_id").distinct()
      .as[Long].collect().sorted.toSeq
    assert(ids.size === 2)
    val (lo, hi) = (1700000000L + 3600L, 1700000000L + 9 * 3600L)
    // the manifest path is the one taken, and it prunes
    val pruned = store.scanPruned(ScanProbe(Some(lo), Some(hi), seriesId = Some(ids.head)))
    assert(pruned.filesRead >= 0 && pruned.filesRead < pruned.filesTotal, pruned)
    val api = new HttpApi(store, token = Some("t0"))
    val port = api.start()
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def points(body: String): Seq[(Long, Option[Double])] = {
      import scala.jdk.CollectionConverters._
      mapper.readTree(body).elements().asScala.map { n =>
        n.get("ts").asLong -> Option(n.get("value")).filterNot(_.isNull).map(_.asDouble)
      }.toSeq
    }
    def expected(sel: org.apache.spark.sql.Column, from: Long, to: Long): Seq[(Long, Option[Double])] =
      store.source().filter(sel && col("time") >= from && col("time") <= to).orderBy("time")
        .select("time", "value").collect().toSeq
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1))))
    try {
      for ((from, to) <- Seq((lo, hi), (0L, Long.MaxValue), (lo, lo), (lo + 1, lo + 2), (hi + 1, hi + 7200))) {
        ids.foreach { id =>
          val r = get(port, s"/api/v1/query/range?series_id=$id&start=$from&end=$to")
          assert(r.statusCode() === 200, r.body())
          assert(points(r.body()) === expected(col("series_id") === id, from, to), s"series_id=$id [$from, $to]")
        }
        Seq("cpu", "mem").foreach { s =>
          val r = post(port, "/api/v1/query/range", s"""{"series":"$s","start":$from,"end":$to}""")
          assert(r.statusCode() === 200, r.body())
          assert(points(r.body()) === expected(col("series") === s, from, to), s"series=$s [$from, $to]")
        }
      }
      // the late point is answered, and the null value stays null
      assert(points(get(port, s"/api/v1/query/range?series=cpu&start=$hi&end=$hi").body()) === Nil)
      assert(points(get(port, "/api/v1/query/range?series=cpu").body()).map(_._2).contains(Some(99.5)))
      assert(points(get(port, "/api/v1/query/range?series=mem").body()).contains(1700000000L + 5 * 1200L + 2 -> None))
      // edge input fails loudly: a 400 query error, not a 500
      for (qs <- Seq("series=cpu&start=abc", "series=cpu&end=1.5", "series_id=x1&start=0", "series=cpu&end=")) {
        val r = get(port, s"/api/v1/query/range?$qs")
        assert(r.statusCode() === 400, s"$qs -> ${r.statusCode()} ${r.body()}")
        assert(r.body().contains("\"code\":\"invalid_syntax\""), r.body())
      }
      val badPost = post(port, "/api/v1/query/range", """{"series_id":"12x"}""")
      assert(badPost.statusCode() === 400 && badPost.body().contains("series_id must be an integer"), badPost.body())
      assert(get(port, "/api/v1/query/range?start=0").statusCode() === 400)
    } finally api.stop()
  }

  test("served answers and manifest-pruned range reads run no schema-inference job") {
    import graft.storage.{SkipIndex, SketchCells}
    import graft.sydraql.{CompileOptions, Engine}
    import org.apache.spark.sql.functions.{col, lit, map}
    import spark.implicits._
    val store = new SeriesStore(spark, Files.createTempDirectory("graft-api-jobs").toString)
    // three days, one point every 30 min, integer values (exact sums)
    store.append((0 until 144).map(i => ("cpu", i * 1800L, (i % 17).toDouble))
      .toDF("series", "time", "value")
      .withColumn("tags", map(lit("host"), lit("a")))
      .select("series", "tags", "time", "value"))
    SkipIndex.build(store, SkipIndex.dirFor(store))
    SketchCells.build(store, SketchCells.dirFor(store), groupTags = Seq("host"))
    val api = new HttpApi(store, token = Some("t0"))
    val port = api.start()
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    try {
      Seq("served:cells:td" ->
          "select avg(value) as a, count() as n from cpu where time >= 0 and time < 172800",
        "served:cells:tdtag" ->
          ("select tag.host as h, avg(value) as a, count() as n from cpu " +
            "where time >= 0 and time < 172800 group by tag.host")).foreach { case (route, ql) =>
        def served() = post(port, "/api/v1/sydraql", s"""{"query":"$ql"}""")
        served() // warm-up: the memoized serving metadata loads once
        val (q, qJobs) = TestSpark.jobsDuring(served())
        assert(q.statusCode() === 200, q.body().take(300))
        assert(q.body().contains(s"\"route\":\"$route\""), q.body().take(600))
        val row = mapper.readTree(q.body()).get("rows").get(0)
        val raw = Engine.sql(spark, store.source(), ql, CompileOptions()).head()
        val n = raw.length
        assert((row.get(n - 2).asDouble, row.get(n - 1).asLong) ===
          ((raw.getDouble(n - 2), raw.getLong(n - 1))), route)
        // the day cells fit one split, so the driver reads and merges
        // them in-process: no Spark job
        assert(qJobs.isEmpty, s"$route answer ran ${qJobs.size} jobs: ${qJobs.mkString(" | ")}")
        assert(q.body().contains("\"merge_site\":\"driver\""), q.body().take(600))
      }
      val (lo, hi) = (90000L, 100000L)
      def range() = get(port, s"/api/v1/query/range?series=cpu&start=$lo&end=$hi")
      range()
      val (r, rJobs) = TestSpark.jobsDuring(range())
      assert(r.statusCode() === 200, r.body())
      import scala.jdk.CollectionConverters._
      val pts = mapper.readTree(r.body()).elements().asScala
        .map(n => n.get("ts").asLong -> n.get("value").asDouble).toSeq
      assert(pts === store.source().filter(col("time") >= lo && col("time") <= hi)
        .orderBy("time").select("time", "value").as[(Long, Double)].collect().toSeq)
      assert(rJobs.size === 1, s"a pruned range read ran ${rJobs.size} jobs: ${rJobs.mkString(" | ")}")
    } finally api.stop()
  }

  test("the /metrics series gauge of a tiered store reads cells, not segment records") {
    import graft.storage.SketchCells
    import org.apache.spark.sql.functions.{lit, map}
    import spark.implicits._
    val store = new SeriesStore(spark, Files.createTempDirectory("graft-api-gauge").toString)
    // five series (two names, three hosts) over three days
    store.append((0 until 90).map(i => (s"m${i % 2}", s"h${i % 3}", i * 2880L, i.toDouble))
      .toDF("series", "host", "time", "value")
      .withColumn("tags", map(lit("host"), $"host"))
      .select("series", "tags", "time", "value"))
    val api = new HttpApi(store)
    val port = api.start()
    def gauge(): Long = get(port, "/metrics").body().linesIterator
      .collectFirst { case l if l.startsWith("sydra_series ") => l.stripPrefix("sydra_series ").toLong }
      .get
    try {
      val want = store.catalog().count()
      assert(want === 6L)
      // without tiers the gauge scans the store
      assert(gauge() === want)
      SketchCells.build(store, SketchCells.dirFor(store))
      // the first scrape also loads the cell table's metadata (footers)
      (0 until 2).foreach { i =>
        val (n, records) = TestSpark.recordsReadDuring(gauge())
        assert(n === want, s"scrape $i")
        assert(records === 0L, s"scrape $i read $records records")
      }
    } finally api.stop()
  }

  test("HTTP replies are not held back for the client's delayed ACK") {
    val api = new HttpApi(new SeriesStore(spark, Files.createTempDirectory("graft-api-nodelay").toString))
    val port = api.start()
    // one keep-alive HTTP/1.1 connection: the server writes a reply's
    // headers, then its body, and with Nagle on the body waits for the
    // ACK of the headers, which the client delays (~40 ms)
    val c = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
    val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/status")).GET().build()
    try {
      assert(c.send(req, HttpResponse.BodyHandlers.ofString()).statusCode() === 200)
      val ms = (0 until 20).map { _ =>
        val t0 = System.nanoTime()
        val r = c.send(req, HttpResponse.BodyHandlers.ofString())
        assert(r.statusCode() === 200)
        (System.nanoTime() - t0) / 1e6
      }.sorted
      assert(ms(ms.size / 2) < 20.0, s"median /status reply took ${ms(ms.size / 2)} ms: ${ms.mkString(", ")}")
    } finally api.stop()
  }
}
