package graft

import graft.storage.{Config, Ingest, SeriesStore}
import graft.tools.ScaleBench
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Config parser corpus (config.zig:35-105) + CLI command smoke tests. */
class ConfigSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("toml subset: all reference keys, quoting, comments, ns overrides") {
    val cfg = Config.parse(
      """# sydradb.toml
        |data_dir = "/var/lib/sydra"
        |http_port = 9090
        |flush_interval_ms = 500
        |memtable_max_bytes = 1048576
        |retention_days = 30
        |fsync = "always"
        |mem_limit_bytes = 67108864
        |auth_token = "sekrit"
        |enable_influx = true
        |enable_prom = false
        |retention.cpu = 7
        |retention.tmp = 1
        |unknown_key = whatever
        |""".stripMargin)
    assert(cfg.dataDir === "/var/lib/sydra")
    assert(cfg.httpPort === 9090)
    assert(cfg.flushIntervalMs === 500)
    assert(cfg.memtableMaxBytes === 1048576L)
    assert(cfg.retentionDays === 30L)
    assert(cfg.fsync === "always")
    assert(cfg.memLimitBytes === 67108864L)
    assert(cfg.authToken === "sekrit")
    assert(cfg.enableInflux === true)
    assert(cfg.enableProm === false)
    assert(cfg.retentionNs === Map("cpu" -> 7L, "tmp" -> 1L))
  }

  test("ttlForSeries: namespace override else global (config.zig:96-105)") {
    val cfg = Config(retentionDays = 30, retentionNs = Map("cpu" -> 7L))
    assert(cfg.ttlForSeries("cpu.total") === 7L)
    assert(cfg.ttlForSeries("cpu") === 7L) // no dot → whole name is the ns
    assert(cfg.ttlForSeries("mem.used") === 30L)
    assert(Config.namespaceOf("a.b.c") === "a")
  }

  test("defaults match the reference when sydradb.toml is absent (server.zig:34-48)") {
    val cfg = Config.loadOrDefault("/nonexistent/sydradb.toml")
    assert(cfg === Config())
    assert(cfg.dataDir === "./data")
    assert(cfg.httpPort === 8080)
    assert(cfg.retentionDays === 0L)
  }

  test("cli: query prints id-scoped range; stats counts segments; snapshot/restore round-trip") {
    val root = Files.createTempDirectory("graft-cli").toString
    val store = new SeriesStore(spark, s"$root/data")
    val nd = Files.createTempDirectory("graft-cli-nd")
    Files.write(nd.resolve("in.ndjson"), Seq(
      """{"series":"m","ts":10,"value":1.5}""",
      """{"series":"m","ts":20,"value":2.5}""",
      """{"series":"other","ts":15,"value":9.0}""").mkString("\n").getBytes)
    Ingest.batch(store, nd.toString)
    val sid = store.scan().filter(org.apache.spark.sql.functions.col("series") === "m")
      .select("series_id").head().getLong(0)
    val cfg = Config(dataDir = s"$root/data")

    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out)) {
      graft.tools.Cli.run("query", Array(java.lang.Long.toUnsignedString(sid), "0", "100"), cfg, store)
    }
    assert(out.toString.trim.linesIterator.toSeq === Seq("10,1.5", "20,2.5"))

    val statsOut = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(statsOut)) {
      graft.tools.Cli.run("stats", Array.empty, cfg, store)
    }
    assert(statsOut.toString.linesIterator.next().matches("segments_total \\d+"))

    graft.tools.Cli.run("snapshot", Array(s"$root/snap"), cfg, store)
    val cfg2 = Config(dataDir = s"$root/data2")
    val store2 = new SeriesStore(spark, s"$root/data2")
    graft.tools.Cli.run("restore", Array(s"$root/snap"), cfg2, store2)
    assert(store2.scan().count() === 3)
  }

  test("bench families frozen: every extra has a pinned slot, insertions cannot shift existing pairs") {
    val extras = SparkEntry.benchExtraQueries
    // every flagged extra has a frozen (family, slot) — groups() would
    // throw otherwise, and a new benchExtra without a table row must fail
    // the suite here rather than at bench time
    extras.foreach(q => assert(BenchFamilies.slotOf.contains(q), s"$q missing from BenchFamilies.frozen"))
    intercept[IllegalArgumentException](BenchFamilies.groups(extras :+ "q_definitely_not_frozen"))
    // no family exceeds the child-JVM pressure cap
    BenchFamilies.frozen.foreach { case (fam, qs) =>
      assert(qs.size <= BenchFamilies.maxFamilySize, s"$fam oversize")
    }
    // slot assignment is a STATIC table: a query's (family, slot) is the
    // same no matter which other extras are flagged — i.e. inserting or
    // removing a gate can never shift an existing pair (the r11 failure
    // mode: registry-order slicing re-derived positions every run)
    val full = BenchFamilies.groups(extras)
    val without = BenchFamilies.groups(extras.filterNot(_ == "q_pl_modularity"))
    def pairs(gs: Seq[(String, Seq[String])]): Map[String, (String, Int)] =
      gs.flatMap { case (f, qs) => qs.map(q => q -> (f, BenchFamilies.slotOf(q)._2)) }.toMap
    val (pf, pw) = (pairs(full), pairs(without))
    pw.foreach { case (q, fs) => assert(pf(q) === fs, s"$q shifted when a gate was removed") }
    // within-family order follows frozen slots
    full.foreach { case (fam, qs) =>
      val slots = qs.map(BenchFamilies.slotOf(_)._2)
      assert(slots === slots.sorted, s"$fam members out of slot order")
      assert(qs.forall(BenchFamilies.slotOf(_)._1 == fam))
    }
    // the r12 freeze reproduces the exact r11 recorded composition — pin
    // a few families verbatim so an accidental table edit, which would
    // shift recorded readings, is loud
    val byFam = full.toMap
    assert(byFam("pl3") === Seq("q_pl_sessions", "q_pl_hard_negatives",
      "q_pl_semdedup", "q_pl_lm_bigram", "q_pl_rrf", "q_pl_pmi",
      "q_pl_triangles", "q_pl_modularity", "q_pl_ppr", "q_pl_centrality",
      "q_pl_centrality_banded", "q_pl_centrality_knn"))
    assert(byFam("dq").take(7) === Seq("q_dq_benford", "q_dq_suite",
      "q_dq_skew", "q_dq_join_estimate", "q_dq_histogram",
      "q_dq_wasserstein", "q_dq_jsd"))
    assert(byFam("tpch0").take(2) === Seq("q_tpch_q3", "q_tpch_q5"))
    // r15: the cell-serving/value-skip watch — pinned verbatim like pl3,
    // so a membership edit (which would shift the cells readings) is loud
    assert(byFam("cells0") === Seq("q_sql_sketch_cells_tag",
      "q_sql_sketch_cells_tag_bucket", "q_sql_sketch_cells_ndv_bucket",
      "q_sql_sketch_cells_ndv_tag", "q_sql_value_skip",
      "q_sql_rollup_cells_basic", "q_sql_rollup_cells_bucket",
      "q_sql_rollup_cells_tag", "q_sql_rollup_cells_fl",
      "q_sql_rollup_cells_rate", "q_sql_sketch_cells_desc",
      "q_sql_rollup_cells_ragged"))
    assert(byFam("cells1") === Seq("q_sql_sketch_cells_ragged",
      "q_sql_rollup_cells_limit", "q_sql_rollup_cells_origin",
      "q_sql_rollup_cells_fill", "q_sql_rollup_cells_all",
      "q_sql_tag_skip", "q_sql_rollup_cells_tagfilter",
      "q_sql_tag_skip_or", "q_sql_rollup_edge_window"))
  }

  test("bench child-family file: encode/decode round-trips readings and failed names") {
    val r = Bench.Reading("q_pl_cap", 1.25, 3.5, 0.125, 812L)
    val zero = Bench.Reading("q_ts_sla", 0.004, 0.0, 0.0, 0L)
    val neg = Bench.Reading("q_dq_mad", 2.0, -1.0, 0.0, 64L) // cpu bean missing
    def roundTrip(rs: Seq[Bench.Reading], failed: Seq[String]) =
      Bench.decodeFamily(Bench.encodeFamily(rs, failed))
    // a family of one
    assert(roundTrip(Seq(r), Nil) === (Seq(r), Nil))
    // cpu = 0 and h = 0 survive, beside a failed name and a warm-up failure
    assert(roundTrip(Seq(zero, r, neg), Seq("warmup:q_pricing_summary", "q_pl_pack")) ===
      (Seq(zero, r, neg), Seq("warmup:q_pricing_summary", "q_pl_pack")))
    // every query failed: no readings, every name listed
    assert(roundTrip(Nil, Seq("q_pl_cap")) === (Nil, Seq("q_pl_cap")))
    // seconds are written with three decimals
    assert(Bench.decodeFamily(Bench.encodeFamily(
      Seq(Bench.Reading("q", 1.23456, 0.0, 0.0, 1L)), Nil))._1.head.wall === 1.235)
  }

  test("a throwing bench query is listed as failed and gets no reading") {
    val (readings, failed) = Bench.time(spark, Seq("ok", "boom", "ok2")) {
      case "boom" => throw new IllegalStateException("query blew up")
      case _ => spark.range(10).toDF()
    }
    assert(readings.map(_.name) === Seq("ok", "ok2"))
    assert(failed === Seq("boom"))
    // a failure inside the query's lazy plan (at the noop write) counts too
    val (none, lateFailed) = Bench.time(spark, Seq("late")) { _ =>
      spark.range(3).selectExpr("assert_true(id < 0) as x")
    }
    assert(none.isEmpty && lateFailed === Seq("late"))
  }

  test("ScaleBench rejects mult outside 1..26 and unknown names before any work") {
    val ok = Seq("q_pricing_summary", "pagerank")
    ScaleBench.check(1, ok)
    ScaleBench.check(26, ok)
    val over = intercept[IllegalArgumentException](ScaleBench.check(27, ok))
    assert(over.getMessage.contains("1..26"))
    intercept[IllegalArgumentException](ScaleBench.check(0, ok))
    val unknown = intercept[IllegalArgumentException](
      ScaleBench.check(2, Seq("q_pricing_summary", "no_such_op", "q_nope")))
    assert(unknown.getMessage.contains("no_such_op, q_nope"))
  }

  test("registry lookups need no OPQ rotation file unless q_ann_opq's oracle is read") {
    // a child JVM on this classpath, started where OPQ_ROTATION.txt is absent
    val dir = Files.createTempDirectory("graft-no-opq").toFile
    val java = s"${System.getProperty("java.home")}/bin/java"
    val pb = new ProcessBuilder(java, "-Xmx256m", "-cp",
      System.getProperty("java.class.path"), RegistryLookups.getClass.getName.stripSuffix("$"))
      .directory(dir).redirectErrorStream(true)
    val proc = pb.start()
    val out = new String(proc.getInputStream.readAllBytes(), "UTF-8")
    assert(proc.waitFor() === 0, out)
    assert(out.linesIterator.exists(l =>
      l.startsWith("bench ") && l.split("[ ,]").contains("q_pricing_summary")), out)
    assert(out.contains("oracle q_pricing_summary true"), out)
    assert(out.contains("opq oracle needs the file"), out)
  }

  test("SPARK_GRAFT_CONF parse: applied pairs and dropped malformed segments") {
    val (applied, dropped) = SparkEntry.confOverlay(
      " spark.a = 1 ;novalue; =orphan;spark.b=x=y;;spark.c= ;")
    assert(applied === Seq("spark.a" -> "1", "spark.b" -> "x=y", "spark.c" -> ""))
    assert(dropped === Seq("novalue", "=orphan"))
    assert(SparkEntry.confOverlay("") === ((Nil, Nil)))
  }
}

/** Child-JVM main for the OPQ laziness test: lists the headline queries
  * and reads two oracles without OPQ_ROTATION.txt in the working dir.
  */
object RegistryLookups {
  def main(args: Array[String]): Unit = {
    println("bench " + SparkEntry.benchQueries.mkString(","))
    assert(SparkEntry.queries.contains("q_ann_opq"))
    println("oracle q_pricing_summary " + SparkEntry.oracleSql.contains("q_pricing_summary"))
    try { SparkEntry.oracleSql.get("q_ann_opq"); println("opq oracle read without the file") }
    catch { case e: Exception => println(s"opq oracle needs the file: ${e.getMessage}") }
  }
}
