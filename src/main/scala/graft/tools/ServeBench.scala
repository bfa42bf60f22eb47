package graft.tools

import graft.storage.{SeriesStore, SketchCells, SkipIndex}
import graft.sydraql.{CompileOptions, Engine}
import org.apache.spark.sql.functions.{col, lit, map}

/** Dashboard-QPS serving benchmark — the latency number the cell tier
  * exists FOR. [[AnnBench]]'s twin for the sydraQL serving surface:
  * build the events store + cell/skip tiers once, then measure
  * steady-state per-query latency (p50/p95 over repeated single
  * queries, collect() included — the dashboard request shape) for each
  * SERVED query shape, against two raw arms:
  *
  *  - `raw` (r16, the honest arm): [[Engine.executeOnStore]] running
  *    the SAME sydraQL against a cells-less CLONE of the store (same
  *    data, skip manifest present, no cell tier) — the engine's actual
  *    raw route a query takes when the tier is absent, skip pruning
  *    included. This is the ratio's denominator: cells vs what the
  *    engine would otherwise do.
  *  - `unrouted` (the r15 arm, kept for cross-round continuity): the
  *    sydraQL compiled directly against the store's source view — no
  *    engine routing, no manifest pruning.
  *
  * Shapes (the [[graft.sydraql.Engine.sketchServed]] routing matrix):
  *  - aligned:  day-aligned week window, avg/count/p50 → cells:td
  *  - ragged:   same window shifted 1 h in / 2 h out → hybrid:td
  *  - tag:      p95/avg per tag.user over the aligned window → cells:tdtag
  *  - fleet:    selector-less avg/count over the window → cells:td
  *  - origin:   2-day buckets with a day-aligned origin → cells:td
  *  - tagfilter: p95/avg/count for ONE tag value (r16) → cells:tdtag
  *
  * Latencies include Spark's local job-scheduling floor (~tens of ms);
  * on a cluster the same plans serve from executors and the cells/raw
  * RATIO is the durable number — cells read O(days) KB rows, raw reads
  * every point in the window, so the ratio widens with store size.
  *
  * Per-round artifact (r16): [[graft.Bench]] runs this main in a child
  * JVM as the `serve` stage, brackets each shape's served p50 against
  * BRACKETS.json's `__serve_<shape>` rows, and lands the line in
  * BENCH_FULL.json under `serve_qps` — the serving fast path regresses
  * in-artifact, not invisibly. ConfigSpec pins [[shapeNames]].
  *
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default
  * 32), SPARK_GRAFT_SERVE_REPS (default 20), SPARK_GRAFT_SERVE_OUT
  * (optional file for the JSON line — the Bench child protocol). One
  * JSON line on stdout either way.
  */
object ServeBench {

  /** Pinned shape names in run order (ConfigSpec; bracket row ids).
    * DERIVED from [[shapes]] so the `__serve_<name>` bracket rows can
    * never desynchronize from the shapes that actually run (r17,
    * ADVICE — the two lists were previously hand-maintained twins).
    */
  val shapeNames: Seq[String] = shapes(0L, 0L).map(_._1)

  /** (name, sydraQL, expected served route) per shape over [lo, hi). */
  private def shapes(lo: Long, hi: Long): Seq[(String, String, String)] = Seq(
    ("aligned", s"select avg(value) as av, count() as n, " +
      s"percentile_approx(value, 0.5) as p50 from click " +
      s"where time >= $lo and time < $hi", "served:cells:td"),
    ("ragged", s"select avg(value) as av, count() as n, " +
      s"percentile_approx(value, 0.5) as p50 from click " +
      s"where time >= ${lo + 3600} and time < ${hi - 7200}", "served:hybrid:td"),
    ("tag", s"select tag.user as usr, percentile_approx(value, 0.95) as p95, " +
      s"avg(value) as av from click where time >= $lo and time < $hi " +
      s"group by tag.user order by usr", "served:cells:tdtag"),
    ("fleet", s"select avg(value) as av, count() as n " +
      s"where time >= $lo and time < $hi", "served:cells:td"),
    ("origin", s"select time_bucket(172800, time, ${lo + 86400}) as b, " +
      s"avg(value) as av from click where time >= $lo and time < $hi " +
      s"group by time_bucket(172800, time, ${lo + 86400}) order by b",
      "served:cells:td"),
    // r16: the tag-filter drill-down ("p95 for user 3 last week") —
    // served by filtering the tag tier's cells to one tagval
    ("tagfilter", s"select percentile_approx(value, 0.95) as p95, " +
      s"avg(value) as av, count() as n from click " +
      s"where time >= $lo and time < $hi and tag.user = '3'",
      "served:cells:tdtag"))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_SERVE_REPS", "20").toInt
    val spark = graft.SparkEntry.localSession(32)

    // the gate fixture store: events → (series=event_type, tag user=%8)
    val tb = System.nanoTime()
    val store = {
      val root = java.nio.file.Files.createTempDirectory("graft-servebench").toString
      val s = new SeriesStore(spark, root)
      s.append(graft.core.Tables.events(spark, sfDir).select(
        col("event_type").as("series"),
        map(lit("user"), (col("user_id") % 8).cast("string")).as("tags"),
        (col("ts") / lit(1000000000L)).cast("long").as("time"),
        col("value")))
      SketchCells.build(s, SketchCells.dirFor(s),
        groupTags = Seq("user"), ndvTags = Seq("user"))
      SkipIndex.build(s, SkipIndex.dirFor(s))
      s
    }
    // the honest raw arm's store: a bit-identical cells-less CLONE —
    // filesystem copy of the built store's SEGMENTS (instead of a second
    // full ingest pass) plus its own manifest build (the manifest's
    // `file` column holds absolute paths, so it cannot be copied); still
    // far cheaper than re-running the read-transform-append pipeline
    val rawStore = {
      val rawRoot = java.nio.file.Files.createTempDirectory("graft-servebench-raw")
      val src = java.nio.file.Paths.get(store.root, "segments")
      val walk = java.nio.file.Files.walk(src)
      try walk.forEach { p =>
        val t = rawRoot.resolve("segments")
          .resolve(src.relativize(p).toString)
        if (java.nio.file.Files.isDirectory(p))
          java.nio.file.Files.createDirectories(t)
        else java.nio.file.Files.copy(p, t,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      } finally walk.close()
      val s = new SeriesStore(spark, rawRoot.toString)
      SkipIndex.build(s, SkipIndex.dirFor(s))
      s
    }
    val buildS = (System.nanoTime() - tb) / 1e9

    val lo = 1704067200L // 2024-01-01, day-aligned; events span Jan 1-30
    val hi = lo + 7 * 86400

    def pct(sorted: Seq[Double], p: Double): Double =
      sorted((p * (sorted.length - 1)).round.toInt)

    val results = shapes(lo, hi).map { case (name, ql, expectRoute) =>
      // served: through the store (engine routes to cells); assert the
      // route so a silent fallthrough can't publish a raw number as a
      // cells number — and symmetrically, the raw arm must really be raw
      val res = Engine.executeOnStore(store, ql, CompileOptions(now = 0L))
      require(res.stats.route == expectRoute,
        s"$name must serve via $expectRoute, engine chose ${res.stats.route}")
      val rawRes = Engine.executeOnStore(rawStore, ql, CompileOptions(now = 0L))
      require(rawRes.stats.route == "raw",
        s"$name raw arm must run the raw route, engine chose ${rawRes.stats.route}")
      def once(f: () => Unit): Seq[Double] = {
        (0 until 3).foreach(_ => f()) // warmup: JIT + footer cache
        (0 until reps).map { _ =>
          val t0 = System.nanoTime(); f(); (System.nanoTime() - t0) / 1e6
        }.sorted
      }
      val served = once(() =>
        Engine.executeOnStore(store, ql, CompileOptions(now = 0L)).df.collect())
      val raw = once(() =>
        Engine.executeOnStore(rawStore, ql, CompileOptions(now = 0L)).df.collect())
      // unrouted: the SAME sydraQL compiled against the source view
      // directly (the r15 arm — full parse+compile per rep, no routing)
      val unrouted = once(() =>
        Engine.sql(spark, store.source(), ql, CompileOptions(now = 0L)).collect())
      (name, served, raw, unrouted)
    }

    val sj = results.map { case (n, s, r, u) =>
      f""""$n":{"cells_p50_ms":${pct(s, 0.5)}%.1f,"cells_p95_ms":${pct(s, 0.95)}%.1f,""" +
        f""""raw_p50_ms":${pct(r, 0.5)}%.1f,"raw_p95_ms":${pct(r, 0.95)}%.1f,""" +
        f""""unrouted_p50_ms":${pct(u, 0.5)}%.1f,"unrouted_p95_ms":${pct(u, 0.95)}%.1f,""" +
        f""""speedup_p50":${pct(r, 0.5) / pct(s, 0.5)}%.2f,""" +
        f""""speedup_unrouted_p50":${pct(u, 0.5) / pct(s, 0.5)}%.2f}"""
    }.mkString("{", ",", "}")
    val line =
      f"""{"metric":"serve_qps","build_s":$buildS%.1f,"reps":$reps,"shapes":$sj,"sf":"$sfDir"}"""
    sys.env.get("SPARK_GRAFT_SERVE_OUT").foreach { out =>
      java.nio.file.Files.write(java.nio.file.Paths.get(out), line.getBytes("UTF-8"))
    }
    println(line)
    spark.stop()
  }
}
