package graft.queries

import graft.core.Tables
import graft.sydraql.{CompileOptions, Engine}
import org.apache.spark.sql.functions._

/** Queries routed end-to-end through the sydraQL front-end
  * (lexer→parser→validator→DataFrame compiler) against the events series
  * view, each hash-checked against a DuckDB oracle — so the whole language
  * pipeline sits inside the correctness gate.
  *
  * `roundCols` post-rounds float aggregates on the Spark side (the oracle
  * SQL rounds identically): sydraQL's `round()` is 0-decimal, and raw
  * engine-vs-engine double aggregation differs in the last ulp.
  */
object SydraQlQueries {

  import TimeSeries.{T0, T1}

  // Pinned now() for determinism (2024-01-10 00:00:00 UTC).
  private val NOW = 1704844800L

  private def sq(name: String, sydraql: String, oracle: String, roundCols: Seq[String] = Nil, bench: Boolean = false): Q =
    Q(name,
      (s, dir) => {
        val df = Engine.sql(s, Tables.seriesView(s, dir), sydraql, CompileOptions(now = NOW))
        roundCols.foldLeft(df)((d, c) => d.withColumn(c, floor((col(c)) * 1e4 + 0.5) / 1e4))
      },
      Some(oracle),
      bench = bench)

  private val svSql =
    """WITH sv AS (
      |  SELECT event_type AS series,
      |         CAST(user_id % 8 AS VARCHAR) AS tag_user,
      |         epoch_ns(ts) // 1000000000 AS time,
      |         value
      |  FROM events
      |)""".stripMargin

  /** Events → a temp hour-partitioned store (the q_store_roundtrip build,
    * shared by every storage-lifecycle gate query below).
    */
  private def eventsStore(s: org.apache.spark.sql.SparkSession, dir: String,
      t0: Long, t1: Long, dedup: Boolean = false,
      buckets: Int = 0, devTag: Boolean = false): graft.storage.SeriesStore = {
    import org.apache.spark.sql.functions.{col, lit, map, max => fmax}
    val tmp = java.nio.file.Files.createTempDirectory("graft-gate-store").toString
    val store = new graft.storage.SeriesStore(s, tmp, seriesBuckets = buckets)
    // devTag adds a second, coarser key (dev = user_id % 2) for the
    // gates that exercise composite tag shapes ("ndv(user) per dev")
    val tagCol =
      if (devTag) map(lit("user"), (col("user_id") % 8).cast("string"),
        lit("dev"), (col("user_id") % 2).cast("string"))
      else map(lit("user"), (col("user_id") % 8).cast("string"))
    var pts = Tables.events(s, dir).select(
      col("event_type").as("series"),
      tagCol.as("tags"),
      (col("ts") / lit(1000000000L)).cast("long").as("time"),
      col("value"))
      .filter(col("time") >= t0 && col("time") < t1)
    // deterministic pre-dedup for paths that run last-wins compaction:
    // rows in one batch share a seq, so duplicate (series,time) seconds
    // would pick an arbitrary winner — keep max(value) instead
    if (dedup)
      pts = pts.groupBy("series", "tags", "time").agg(fmax("value").as("value"))
    store.append(pts)
    store
  }

  /** r18 (§1.2/§2.4): within-run sharing of READ-ONLY gate fixtures.
    *
    * ~24 storage gates each built a private temp store (one events scan +
    * hour-partitioned write) plus a derived tier (cells/skip build) over
    * the SAME deterministic input — at sf0.1 the family's cost is almost
    * entirely this fixed per-gate job overhead, not the queries. Gates
    * that only READ their fixture now share one store per distinct
    * (data dir, window, flags, tier spec) within the process.
    *
    * Scope rules, so this can never change results or leak across runs:
    *  - the memo is PROCESS-LIFETIME ONLY (per SparkSession, weak-keyed):
    *    every bench/verify invocation starts a fresh JVM and rebuilds all
    *    fixtures from the parquet inputs — nothing is persisted across
    *    runs or keyed on the test data on disk;
    *  - the tier spec is part of the key, so two gates share a root ONLY
    *    when their derived tiers are byte-identical in shape — a store
    *    never grows a second tier that could change another gate's
    *    routing;
    *  - gates that MUTATE their store (DELETE, retention, insert) keep
    *    building private fixtures via [[eventsStore]].
    */
  private final case class FixtureKey(dir: String, t0: Long, t1: Long,
      dedup: Boolean, buckets: Int, devTag: Boolean, tier: String)

  private val fixtureCaches = new java.util.WeakHashMap[
    org.apache.spark.sql.SparkSession,
    java.util.concurrent.ConcurrentHashMap[FixtureKey, graft.storage.SeriesStore]]()

  private def sharedStore(s: org.apache.spark.sql.SparkSession, dir: String,
      t0: Long, t1: Long, dedup: Boolean = false, buckets: Int = 0,
      devTag: Boolean = false, tier: String)
      (buildTier: graft.storage.SeriesStore => Unit): graft.storage.SeriesStore = {
    val cache = fixtureCaches.synchronized {
      fixtureCaches.computeIfAbsent(s,
        _ => new java.util.concurrent.ConcurrentHashMap[FixtureKey, graft.storage.SeriesStore]())
    }
    // NOT computeIfAbsent: a tier fixture's builder re-enters this map for
    // its raw base (copiedStore), and CHM throws "Recursive update" when
    // the two keys share a bin. Gates run sequentially; a theoretical race
    // just builds twice and keeps the first.
    val key = FixtureKey(dir, t0, t1, dedup, buckets, devTag, tier)
    val existing = cache.get(key)
    if (existing != null) existing
    else {
      val st =
        if (tier == "raw") eventsStore(s, dir, t0, t1, dedup, buckets, devTag)
        else copiedStore(s, dir, t0, t1, dedup, buckets, devTag)
      buildTier(st)
      val prev = cache.putIfAbsent(key, st)
      if (prev != null) prev else st
    }
  }

  /** A PRIVATE store whose segments are file-copied from the shared raw
    * fixture of the same shape — tier variants (and mutators, via
    * [[privateStore]]) pay a ~100-file local copy instead of re-running
    * the events scan + hour-partitioned write per variant. The copy is a
    * plain parquet dir with no root-path dependence (series_id/seq are
    * content-derived); bucketed layouts re-register their catalog entry
    * lazily on first scan of the new root.
    */
  private def copiedStore(s: org.apache.spark.sql.SparkSession, dir: String,
      t0: Long, t1: Long, dedup: Boolean = false, buckets: Int = 0,
      devTag: Boolean = false): graft.storage.SeriesStore = {
    val base = sharedStore(s, dir, t0, t1, dedup, buckets, devTag, tier = "raw")(_ => ())
    val tmp = java.nio.file.Files.createTempDirectory("graft-gate-store").toString
    val src = java.nio.file.Paths.get(base.root, "segments")
    val dst = java.nio.file.Paths.get(tmp, "segments")
    val it = java.nio.file.Files.walk(src)
    try it.forEach { p =>
      val t = dst.resolve(src.relativize(p))
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(t)
      else java.nio.file.Files.copy(p, t,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } finally it.close()
    new graft.storage.SeriesStore(s, tmp, seriesBuckets = buckets)
  }

  /** Private (mutable) store seeded by segment copy from the shared raw
    * fixture — for gates that DELETE/retain/insert.
    */
  private def privateStore(s: org.apache.spark.sql.SparkSession, dir: String,
      t0: Long, t1: Long, dedup: Boolean = false): graft.storage.SeriesStore =
    copiedStore(s, dir, t0, t1, dedup)

  /** Shared store + [[graft.storage.SketchCells]] tier (read-only gates). */
  private def cellsFixture(s: org.apache.spark.sql.SparkSession, dir: String,
      t0: Long, t1: Long, ndvTags: Seq[String] = Seq.empty,
      groupTags: Seq[String] = Seq.empty,
      devTag: Boolean = false): graft.storage.SeriesStore =
    sharedStore(s, dir, t0, t1, devTag = devTag,
      tier = s"cells:ndv=${ndvTags.mkString("+")}:group=${groupTags.mkString("+")}") { st =>
      graft.storage.SketchCells.build(st, graft.storage.SketchCells.dirFor(st),
        ndvTags = ndvTags, groupTags = groupTags)
    }

  /** Shared store + store-convention [[graft.storage.SkipIndex]] manifest. */
  private def skipFixture(s: org.apache.spark.sql.SparkSession, dir: String,
      t0: Long, t1: Long): graft.storage.SeriesStore =
    sharedStore(s, dir, t0, t1, tier = "skip") { st =>
      graft.storage.SkipIndex.build(st, graft.storage.SkipIndex.dirFor(st))
    }

  /** Shared tier-less store (read-only gates; external manifests OK). */
  private def rawFixture(s: org.apache.spark.sql.SparkSession, dir: String,
      t0: Long, t1: Long, dedup: Boolean = false,
      buckets: Int = 0): graft.storage.SeriesStore =
    sharedStore(s, dir, t0, t1, dedup = dedup, buckets = buckets, tier = "raw")(_ => ())

  /** first/last/irate need a total per-bucket order; both sides sort by
    * (time, value) — ties at second granularity exist in the data.
    */
  private def ptsSql(step: Long, series: String, t0: Long = T0, t1: Long = T1): String =
    s"""$svSql, pts AS (
       |  SELECT CAST(floor(time / $step.0) AS BIGINT) * $step AS bucket, time, value,
       |         row_number() OVER (PARTITION BY CAST(floor(time / $step.0) AS BIGINT) ORDER BY time, value) AS rn_a,
       |         row_number() OVER (PARTITION BY CAST(floor(time / $step.0) AS BIGINT) ORDER BY time DESC, value DESC) AS rn_d,
       |         count(*) OVER (PARTITION BY CAST(floor(time / $step.0) AS BIGINT)) AS cnt
       |  FROM sv WHERE series = '$series' AND time >= $t0 AND time < $t1
       |)""".stripMargin

  def qs: Seq[Q] = Seq(

    sq("q_sql_onerow",
      "select 1 as one, 2 * 3 as six, 'ok' as tag",
      "SELECT CAST(1 AS BIGINT) AS one, CAST(6.0 AS DOUBLE) AS six, 'ok' AS tag"),

    sq("q_sql_scan",
      s"select time, value from click where time >= $T0 and time < $T1 order by time, value",
      s"""$svSql
         |SELECT time, value FROM sv
         |WHERE series = 'click' AND time >= $T0 AND time < $T1
         |ORDER BY time, value""".stripMargin),

    sq("q_sql_filter_arith",
      s"select time, value * 2 + 1 as v2 from view where time >= $T0 and time < $T1 and value > 5 order by time, v2",
      s"""$svSql
         |SELECT time, value * 2 + 1 AS v2 FROM sv
         |WHERE series = 'view' AND time >= $T0 AND time < $T1 AND value > 5
         |ORDER BY time, v2""".stripMargin),

    sq("q_sql_bucket_avg",
      s"select time_bucket(3600, time) as bucket, avg(value) as avg_value, count(value) as n " +
        s"from click where time >= $T0 and time < $T1 group by time_bucket(3600, time) order by bucket",
      s"""$svSql
         |SELECT CAST(floor(time / 3600.0) AS BIGINT) * 3600 AS bucket,
         |       floor((avg(value)) * 1e4 + 0.5) / 1e4 AS avg_value, count(value) AS n
         |FROM sv WHERE series = 'click' AND time >= $T0 AND time < $T1
         |GROUP BY bucket ORDER BY bucket""".stripMargin,
      roundCols = Seq("avg_value"), bench = true),

    sq("q_sql_tag_group",
      s"select tag.user as usr, avg(value) as avg_value, sum(value) as sum_value, count() as n " +
        s"from click where time >= $T0 and time < $T1 group by tag.user order by usr",
      s"""$svSql
         |SELECT tag_user AS usr, floor((avg(value)) * 1e4 + 0.5) / 1e4 AS avg_value,
         |       floor((sum(value)) * 1e4 + 0.5) / 1e4 AS sum_value, count(*) AS n
         |FROM sv WHERE series = 'click' AND time >= $T0 AND time < $T1
         |GROUP BY tag_user ORDER BY usr""".stripMargin,
      roundCols = Seq("avg_value", "sum_value")),

    // Superset sketch aggregates IN the sydraQL language (FunctionRegistry
    // r11): percentile_approx = t-digest, ndv = theta estimate — the
    // engine's own query surface serves sketch answers with bounded
    // mergeable state. Error-bound contract like every sketch gate: exact
    // p50 and exact tag NDV ride the hash, flags assert the bounds
    // (tag_user has 8 distinct values — theta is EXACT there).
    Q("q_sql_sketch_agg",
      (s, dir) => {
        val sv = Tables.seriesView(s, dir)
        val df = Engine.sql(s, sv,
          s"select percentile_approx(value, 0.5) as p50a, ndv(tag.user) as ndva " +
            s"from error where time >= $T0 and time < $T1",
          CompileOptions(now = NOW))
        val bounds = sv.filter(col("series") === "error" &&
            col("time") >= T0 && col("time") < T1)
          .agg(percentile(col("value"), lit(0.45)).as("lo"),
            percentile(col("value"), lit(0.55)).as("hi"),
            (floor((percentile(col("value"), lit(0.5))) * 1e4 + 0.5) / 1e4).as("p50_exact"),
            countDistinct(col("tags")("user")).as("ndv_exact"))
        df.crossJoin(broadcast(bounds))
          .select(col("p50_exact"), col("ndv_exact"),
            (col("p50a") >= col("lo") && col("p50a") <= col("hi")).as("p50_ok"),
            (col("ndva") === col("ndv_exact").cast("double")).as("ndv_ok"))
      },
      Some(s"""$svSql
              |SELECT floor((quantile_cont(value, 0.5)) * 1e4 + 0.5) / 1e4 AS p50_exact,
              |       count(DISTINCT tag_user) AS ndv_exact,
              |       true AS p50_ok, true AS ndv_ok
              |FROM sv WHERE series = 'error' AND time >= $T0 AND time < $T1""".stripMargin)),

    // Sketch aggregates served FROM THE CELL STORE through the language
    // (r12): the same percentile_approx surface as q_sql_sketch_agg, but
    // the store carries an at-rest t-digest cell tier (SketchCells) and
    // the engine's rollup-routing rule recognizes that the query's keys —
    // one row over a day-aligned window of one series — coarsen the
    // (series, day) cell keys, so the plan reads ONLY the probed day
    // partitions of KB blobs and never the raw points (PlanSpec pins the
    // PartitionFilters and that the raw segment path is absent). Same
    // error-bound contract as every sketch gate; the oracle computes the
    // exact values from the raw events — the raw-scan route this serving
    // path must agree with.
    Q("q_sql_sketch_cells",
      (s, dir) => {
        import org.apache.spark.sql.functions.{col, lit}
        val hi = T0 + 2 * 86400
        val store = cellsFixture(s, dir, T0, hi)
        val df = Engine.executeOnStore(store,
          s"select percentile_approx(value, 0.5) as p50a, " +
            s"percentile_approx(value, 0.95) as p95a " +
            s"from error where time >= $T0 and time < $hi",
          CompileOptions(now = NOW)).df
        val bounds = store.source()
          .filter(col("series") === "error" && col("time") >= T0 && col("time") < hi)
          .agg(percentile(col("value"), array(lit(0.45), lit(0.55), lit(0.90),
              lit(1.0), lit(0.5))).as("__q"),
            count(lit(1)).as("n"))
          .select(element_at(col("__q"), 1).as("lo50"), element_at(col("__q"), 2).as("hi50"),
            element_at(col("__q"), 3).as("lo95"), element_at(col("__q"), 4).as("hi95"),
            (floor(element_at(col("__q"), 5) * 1e4 + 0.5) / 1e4).as("p50_exact"),
            col("n"))
        df.crossJoin(broadcast(bounds))
          .select(col("p50_exact"), col("n"),
            (col("p50a") >= col("lo50") && col("p50a") <= col("hi50")).as("p50_ok"),
            (col("p95a") >= col("lo95") && col("p95a") <= col("hi95")).as("p95_ok"))
      },
      Some(s"""$svSql
              |SELECT floor((quantile_cont(value, 0.5)) * 1e4 + 0.5) / 1e4 AS p50_exact,
              |       count(*) AS n, true AS p50_ok, true AS p95_ok
              |FROM sv WHERE series = 'error' AND time >= $T0 AND time < ${T0 + 2 * 86400}""".stripMargin)),

    // NDV served from the cell store's theta half (r12; theta since r13
    // so the cell route uses the SAME estimator family + lgK as the raw
    // ndv() route — tier presence can never change an estimate by
    // switching estimators): one theta blob per (series, day, tag key),
    // routed through the same day-pruned blob-merge as
    // percentile_approx — mixed projections share ONE merge aggregate.
    // tag_user has 8 distinct values, so theta is EXACT and the gate
    // pins equality (the q_sql_sketch_agg stance); the t-digest keeps
    // its bounds contract.
    Q("q_sql_sketch_cells_ndv",
      (s, dir) => {
        import org.apache.spark.sql.functions.{col, lit}
        val hi = T0 + 2 * 86400
        val store = cellsFixture(s, dir, T0, hi, ndvTags = Seq("user"))
        val df = Engine.executeOnStore(store,
          s"select percentile_approx(value, 0.5) as p50a, ndv(tag.user) as ndva " +
            s"from error where time >= $T0 and time < $hi",
          CompileOptions(now = NOW)).df
        val bounds = store.source()
          .filter(col("series") === "error" && col("time") >= T0 && col("time") < hi)
          .agg(percentile(col("value"), array(lit(0.45), lit(0.55), lit(0.5))).as("__q"),
            countDistinct(col("tags")("user")).as("ndv_exact"),
            count(lit(1)).as("n"))
          .select(element_at(col("__q"), 1).as("lo50"), element_at(col("__q"), 2).as("hi50"),
            (floor(element_at(col("__q"), 3) * 1e4 + 0.5) / 1e4).as("p50_exact"),
            col("ndv_exact"), col("n"))
        df.crossJoin(broadcast(bounds))
          .select(col("p50_exact"), col("ndv_exact"), col("n"),
            (col("p50a") >= col("lo50") && col("p50a") <= col("hi50")).as("p50_ok"),
            (col("ndva") === col("ndv_exact").cast("double")).as("ndv_ok"))
      },
      Some(s"""$svSql
              |SELECT floor((quantile_cont(value, 0.5)) * 1e4 + 0.5) / 1e4 AS p50_exact,
              |       count(DISTINCT tag_user) AS ndv_exact, count(*) AS n,
              |       true AS p50_ok, true AS ndv_ok
              |FROM sv WHERE series = 'error' AND time >= $T0 AND time < ${T0 + 2 * 86400}""".stripMargin)),

    // Bucketed variant of the cell-store routing (r12): GROUP BY
    // time_bucket with a DAY-MULTIPLE step is still a coarsening of the
    // (series, day) cell keys — every day cell maps wholly into one
    // 2-day bucket — so the engine serves each bucket by merging its
    // days' blobs (the rollup-hierarchy read, like q_store_rollup_day,
    // but through the LANGUAGE). Same error-bound contract per bucket.
    Q("q_sql_sketch_cells_bucket",
      (s, dir) => {
        import org.apache.spark.sql.functions.{col, lit}
        val hi = T0 + 4 * 86400
        val store = cellsFixture(s, dir, T0, hi)
        val df = Engine.executeOnStore(store,
          s"select time_bucket(172800, time) as b, " +
            s"percentile_approx(value, 0.5) as p50a " +
            s"from error where time >= $T0 and time < $hi " +
            s"group by time_bucket(172800, time) order by b",
          CompileOptions(now = NOW)).df
        val bounds = store.source()
          .filter(col("series") === "error" && col("time") >= T0 && col("time") < hi)
          .groupBy(graft.core.Functions.timeBucket(lit(172800L), col("time")).as("b"))
          .agg(percentile(col("value"), array(lit(0.45), lit(0.55), lit(0.5))).as("__q"),
            count(lit(1)).as("n"))
          .select(col("b"), element_at(col("__q"), 1).as("lo50"),
            element_at(col("__q"), 2).as("hi50"),
            (floor(element_at(col("__q"), 3) * 1e4 + 0.5) / 1e4).as("p50_exact"),
            col("n"))
        df.join(bounds, "b")
          .select(col("b"), col("p50_exact"), col("n"),
            (col("p50a") >= col("lo50") && col("p50a") <= col("hi50")).as("p50_ok"))
          .orderBy("b")
      },
      Some(s"""$svSql
              |SELECT CAST(time // 172800 * 172800 AS BIGINT) AS b,
              |       floor((quantile_cont(value, 0.5)) * 1e4 + 0.5) / 1e4 AS p50_exact,
              |       count(*) AS n, true AS p50_ok
              |FROM sv WHERE series = 'error' AND time >= $T0 AND time < ${T0 + 4 * 86400}
              |GROUP BY 1 ORDER BY b""".stripMargin)),

    // Tag-GROUPED quantiles served from the tag-keyed cell tier (r13):
    // a store built with groupTags carries one t-digest per (series,
    // day, tag user=v), so `… GROUP BY tag.user` is a day-pruned
    // per-value blob merge — the dashboard group-by that previously
    // rescanned raw points (PlanSpec pins tdtag + no segments). Same
    // per-group error-bound contract as the bucketed gate.
    Q("q_sql_sketch_cells_tag",
      (s, dir) => {
        import org.apache.spark.sql.functions.{col, lit}
        val hi = T0 + 2 * 86400
        val store = cellsFixture(s, dir, T0, hi, groupTags = Seq("user"))
        val df = Engine.executeOnStore(store,
          s"select tag.user as usr, percentile_approx(value, 0.5) as p50a " +
            s"from error where time >= $T0 and time < $hi " +
            s"group by tag.user order by usr",
          CompileOptions(now = NOW)).df
        val bounds = store.source()
          .filter(col("series") === "error" && col("time") >= T0 && col("time") < hi)
          .groupBy(col("tags")("user").as("usr"))
          .agg(percentile(col("value"), array(lit(0.45), lit(0.55), lit(0.5))).as("__q"),
            count(lit(1)).as("n"))
          .select(col("usr"), element_at(col("__q"), 1).as("lo50"),
            element_at(col("__q"), 2).as("hi50"),
            (floor(element_at(col("__q"), 3) * 1e4 + 0.5) / 1e4).as("p50_exact"),
            col("n"))
        df.join(bounds, "usr")
          .select(col("usr"), col("p50_exact"), col("n"),
            (col("p50a") >= col("lo50") && col("p50a") <= col("hi50")).as("p50_ok"))
          .orderBy("usr")
      },
      Some(s"""$svSql
              |SELECT tag_user AS usr,
              |       floor((quantile_cont(value, 0.5)) * 1e4 + 0.5) / 1e4 AS p50_exact,
              |       count(*) AS n, true AS p50_ok
              |FROM sv WHERE series = 'error' AND time >= $T0 AND time < ${T0 + 2 * 86400}
              |GROUP BY tag_user ORDER BY usr""".stripMargin),
      benchExtra = true),

    // COMPOSITE grouping served from the tag tier (r13): one
    // day-multiple bucket × one tag key — "p50 per user per 2 days" —
    // coarsens the (series, day, tag-value) cells on both axes at once,
    // so the engine merges each (bucket, value) group's day blobs and
    // never rescans raw points. Same per-group error-bound contract.
    Q("q_sql_sketch_cells_tag_bucket",
      (s, dir) => {
        import org.apache.spark.sql.functions.{col, lit}
        val hi = T0 + 4 * 86400
        val store = cellsFixture(s, dir, T0, hi, groupTags = Seq("user"))
        val df = Engine.executeOnStore(store,
          s"select time_bucket(172800, time) as b, tag.user as usr, " +
            s"percentile_approx(value, 0.5) as p50a " +
            s"from error where time >= $T0 and time < $hi " +
            s"group by time_bucket(172800, time), tag.user order by b, usr",
          CompileOptions(now = NOW)).df
        val bounds = store.source()
          .filter(col("series") === "error" && col("time") >= T0 && col("time") < hi)
          .groupBy(graft.core.Functions.timeBucket(lit(172800L), col("time")).as("b"),
            col("tags")("user").as("usr"))
          .agg(percentile(col("value"), array(lit(0.45), lit(0.55), lit(0.5))).as("__q"),
            count(lit(1)).as("n"))
          .select(col("b"), col("usr"), element_at(col("__q"), 1).as("lo50"),
            element_at(col("__q"), 2).as("hi50"),
            (floor(element_at(col("__q"), 3) * 1e4 + 0.5) / 1e4).as("p50_exact"),
            col("n"))
        df.join(bounds, Seq("b", "usr"))
          .select(col("b"), col("usr"), col("p50_exact"), col("n"),
            (col("p50a") >= col("lo50") && col("p50a") <= col("hi50")).as("p50_ok"))
          .orderBy("b", "usr")
      },
      Some(s"""$svSql
              |SELECT CAST(time // 172800 * 172800 AS BIGINT) AS b, tag_user AS usr,
              |       floor((quantile_cont(value, 0.5)) * 1e4 + 0.5) / 1e4 AS p50_exact,
              |       count(*) AS n, true AS p50_ok
              |FROM sv WHERE series = 'error' AND time >= $T0 AND time < ${T0 + 4 * 86400}
              |GROUP BY 1, 2 ORDER BY b, usr""".stripMargin),
      benchExtra = true),

    // NDV per time_bucket served from theta cells (r13): the day cells'
    // theta blobs coarsen into day-multiple buckets exactly like the
    // t-digests — cardinality dashboards ("distinct users per 2 days")
    // merge KB blobs instead of rescanning raw points. tag_user ≤ 8
    // distinct per bucket → theta exact → per-bucket equality pinned.
    Q("q_sql_sketch_cells_ndv_bucket",
      (s, dir) => {
        import org.apache.spark.sql.functions.{col, lit}
        val hi = T0 + 4 * 86400
        val store = cellsFixture(s, dir, T0, hi, ndvTags = Seq("user"))
        val df = Engine.executeOnStore(store,
          s"select time_bucket(172800, time) as b, ndv(tag.user) as ndva " +
            s"from error where time >= $T0 and time < $hi " +
            s"group by time_bucket(172800, time) order by b",
          CompileOptions(now = NOW)).df
        val exact = store.source()
          .filter(col("series") === "error" && col("time") >= T0 && col("time") < hi)
          .groupBy(graft.core.Functions.timeBucket(lit(172800L), col("time")).as("b"))
          .agg(countDistinct(col("tags")("user")).as("ndv_exact"))
        df.join(exact, "b")
          .select(col("b"), col("ndv_exact"),
            (col("ndva") === col("ndv_exact").cast("double")).as("ndv_ok"))
          .orderBy("b")
      },
      Some(s"""$svSql
              |SELECT CAST(time // 172800 * 172800 AS BIGINT) AS b,
              |       count(DISTINCT tag_user) AS ndv_exact, true AS ndv_ok
              |FROM sv WHERE series = 'error' AND time >= $T0 AND time < ${T0 + 4 * 86400}
              |GROUP BY 1 ORDER BY b""".stripMargin),
      benchExtra = true),

    // NDV under a TAG grouping, composed with a bucket (r14): the tag
    // tier carries the store's theta NDV cells, so "distinct users per
    // dev per 2 days" merges per-(series, day, dev) theta blobs — the
    // grouping shape that previously fell through to a raw rescan. The
    // store gets a second tag key (dev = user_id % 2); user has 8
    // distinct values per group at most → theta exact → equality pinned;
    // the t-digest keeps its bounds contract.
    Q("q_sql_sketch_cells_ndv_tag",
      (s, dir) => {
        import org.apache.spark.sql.functions.{col, lit}
        val hi = T0 + 4 * 86400
        val store = cellsFixture(s, dir, T0, hi, ndvTags = Seq("user"),
          groupTags = Seq("dev"), devTag = true)
        val df = Engine.executeOnStore(store,
          s"select time_bucket(172800, time) as b, tag.dev as dev, " +
            s"ndv(tag.user) as ndva, percentile_approx(value, 0.5) as p50a " +
            s"from error where time >= $T0 and time < $hi " +
            s"group by time_bucket(172800, time), tag.dev order by b, dev",
          CompileOptions(now = NOW)).df
        val exact = store.source()
          .filter(col("series") === "error" && col("time") >= T0 && col("time") < hi)
          .groupBy(graft.core.Functions.timeBucket(lit(172800L), col("time")).as("b"),
            col("tags")("dev").as("dev"))
          .agg(countDistinct(col("tags")("user")).as("ndv_exact"),
            percentile(col("value"), array(lit(0.45), lit(0.55))).as("__q"),
            count(lit(1)).as("n"))
          .select(col("b"), col("dev"), col("ndv_exact"), col("n"),
            element_at(col("__q"), 1).as("lo50"), element_at(col("__q"), 2).as("hi50"))
        df.join(exact, Seq("b", "dev"))
          .select(col("b"), col("dev"), col("ndv_exact"), col("n"),
            (col("ndva") === col("ndv_exact").cast("double")).as("ndv_ok"),
            (col("p50a") >= col("lo50") && col("p50a") <= col("hi50")).as("p50_ok"))
          .orderBy("b", "dev")
      },
      Some(s"""WITH sv AS (
              |  SELECT event_type AS series,
              |         CAST(user_id % 8 AS VARCHAR) AS tag_user,
              |         CAST(user_id % 2 AS VARCHAR) AS tag_dev,
              |         epoch_ns(ts) // 1000000000 AS time,
              |         value
              |  FROM events
              |)
              |SELECT CAST(time // 172800 * 172800 AS BIGINT) AS b, tag_dev AS dev,
              |       count(DISTINCT tag_user) AS ndv_exact, count(*) AS n,
              |       true AS ndv_ok, true AS p50_ok
              |FROM sv WHERE series = 'error' AND time >= $T0 AND time < ${T0 + 4 * 86400}
              |GROUP BY 1, 2 ORDER BY b, dev""".stripMargin),
      benchExtra = true),

    // Value-stat skip routing through the LANGUAGE (r13): on a store
    // with a skip manifest, a top-level `value >= X` conjunct routes the
    // scan's probe through SkipIndex.scan — files whose max_value stat
    // cannot match are never opened (the anomaly sweep; StorageSpec pins
    // the file counts, this gate pins that routing never changes rows).
    Q("q_sql_value_skip",
      (s, dir) => {
        import org.apache.spark.sql.functions.col
        val hi = T0 + 2 * 86400
        val store = skipFixture(s, dir, T0, hi)
        Engine.executeOnStore(store,
          s"select time, value from error where time >= $T0 and time < $hi " +
            s"and value >= 30 order by time, value",
          CompileOptions(now = NOW)).df
      },
      Some(s"""$svSql
              |SELECT time, value FROM sv
              |WHERE series = 'error' AND time >= $T0 AND time < ${T0 + 2 * 86400}
              |  AND value >= 30
              |ORDER BY time, value""".stripMargin),
      benchExtra = true),

    // Tag-equality skip routing through the LANGUAGE (r16): `tag.user =
    // '3'` conjuncts probe the manifest's k=v tag bloom, so the most
    // common dashboard selector after name + time (reference tag-index
    // semantics, storage/tags.zig:4-76) prunes files inside the name's
    // own — StorageSpec pins the file counts, this gate pins that the
    // routing never changes rows at 3 SFs against the DuckDB oracle.
    Q("q_sql_tag_skip",
      (s, dir) => {
        val hi = T0 + 2 * 86400
        val store = skipFixture(s, dir, T0, hi)
        Engine.executeOnStore(store,
          s"select time, value from error where time >= $T0 and time < $hi " +
            s"and tag.user = '3' order by time, value",
          CompileOptions(now = NOW)).df
      },
      Some(s"""$svSql
              |SELECT time, value FROM sv
              |WHERE series = 'error' AND time >= $T0 AND time < ${T0 + 2 * 86400}
              |  AND tag_user = '3'
              |ORDER BY time, value""".stripMargin),
      benchExtra = true),

    // OR'd tag-equality skip routing (r17): a top-level disjunct that is
    // PURELY tag equalities — `tag.user = '3' or tag.user = '5'`, the
    // dashboard multi-select — prunes files with the UNION of the pair
    // probes (superset-safe: the WHERE implies the disjunction). r16
    // extraction was top-level-AND only, so the most common shape after
    // single equality read every name-overlapping file. StorageSpec pins
    // the file counts (union, ghost-value, mixed-disjunct declines);
    // this gate pins that the routing never changes rows at 3 SFs.
    Q("q_sql_tag_skip_or",
      (s, dir) => {
        val hi = T0 + 2 * 86400
        val store = skipFixture(s, dir, T0, hi)
        Engine.executeOnStore(store,
          s"select time, value from error where time >= $T0 and time < $hi " +
            s"and (tag.user = '3' or tag.user = '5') order by time, value",
          CompileOptions(now = NOW)).df
      },
      Some(s"""$svSql
              |SELECT time, value FROM sv
              |WHERE series = 'error' AND time >= $T0 AND time < ${T0 + 2 * 86400}
              |  AND tag_user IN ('3', '5')
              |ORDER BY time, value""".stripMargin),
      benchExtra = true),

    // Ragged-hybrid crossover (r17): a mostly-edge window (45 edge hours
    // around one 24 h interior day here) cannot beat the raw route it
    // wraps — SCALE.md's honest serve table measured the hybrid at
    // 1.02–1.2× raw for edge-heavy sf0.1 windows, so the tier now
    // DECLINES when the edges are at least as wide as the interior and
    // the raw route answers. This gate runs exactly that window with the
    // cell tier BUILT (the decline path, not tier absence) and pins the
    // values against the oracle; StorageSpec pins the route reads "raw".
    Q("q_sql_rollup_edge_window",
      (s, dir) => {
        import org.apache.spark.sql.functions.{col, floor}
        val lo = T0 + 3600
        val hi = T0 + 3 * 86400 - 7200
        val store = cellsFixture(s, dir, T0, T0 + 3 * 86400)
        Engine.executeOnStore(store,
          s"select avg(value) as avg_v, sum(value) as sum_val, " +
            s"count() as n, min(value) as min_val, max(value) as max_val " +
            s"from error where time >= $lo and time < $hi",
          CompileOptions(now = NOW)).df
          .select((floor(col("avg_v") * 1e4 + 0.5) / 1e4).as("avg_v"),
            (floor(col("sum_val") * 1e4 + 0.5) / 1e4).as("sum_val"),
            col("n"), col("min_val"), col("max_val"))
      },
      Some(s"""$svSql
              |SELECT floor((avg(value)) * 1e4 + 0.5) / 1e4 AS avg_v,
              |       floor((sum(value)) * 1e4 + 0.5) / 1e4 AS sum_val,
              |       count(*) AS n, min(value) AS min_val, max(value) AS max_val
              |FROM sv WHERE series = 'error' AND time >= ${T0 + 3600}
              |  AND time < ${T0 + 3 * 86400 - 7200}""".stripMargin),
      benchExtra = true),

    // Tag-filtered CELL serving (r16): `where tag.user = '3'` used to
    // force any rollup to the raw route even though the tag tier's
    // cells are keyed (series, day, tag value) — now the equality
    // filters that tier's cells and the merge reads day-pruned KB blobs
    // of ONE tag value ("avg for host X per 2 days", the dashboard
    // drill-down shape). Exact basic aggregates, so the hash pins the
    // values; StorageSpec pins the served:cells:tdtag route and
    // served == raw equality.
    Q("q_sql_rollup_cells_tagfilter",
      (s, dir) => {
        import org.apache.spark.sql.functions.{col, floor}
        val hi = T0 + 4 * 86400
        val store = cellsFixture(s, dir, T0, hi, groupTags = Seq("user"))
        Engine.executeOnStore(store,
          s"select time_bucket(172800, time) as b, avg(value) as avg_v, " +
            s"count() as n, min(value) as min_val, max(value) as max_val " +
            s"from error where time >= $T0 and time < $hi and tag.user = '3' " +
            s"group by time_bucket(172800, time) order by b",
          CompileOptions(now = NOW)).df
          .select(col("b"), (floor(col("avg_v") * 1e4 + 0.5) / 1e4).as("avg_v"),
            col("n"), col("min_val"), col("max_val"))
      },
      Some(s"""$svSql
              |SELECT CAST(time // 172800 * 172800 AS BIGINT) AS b,
              |       floor((avg(value)) * 1e4 + 0.5) / 1e4 AS avg_v,
              |       count(*) AS n, min(value) AS min_val, max(value) AS max_val
              |FROM sv WHERE series = 'error' AND time >= $T0 AND time < ${T0 + 4 * 86400}
              |  AND tag_user = '3'
              |GROUP BY 1 ORDER BY b""".stripMargin),
      benchExtra = true),

    // Basic aggregates served from the cell tier (r14 — the reference's
    // own RollupHint breadcrumb, plan.zig:19-21/physical.zig:47-54,
    // finally serving avg/sum/count/min/max): the cells carry mergeable
    // partials (sum_v/min_v/max_v/n_vals beside n_rows), so the served
    // answer is EXACT — min of day-mins IS the window min, counts add,
    // avg = merged sum / merged count. Unlike the quantile gates this
    // needs no bounds contract: the hash pins the values themselves
    // (sum/avg under the universal 1e-4 rounding discipline — double
    // fold order differs across engines; min/max/count raw). PlanSpec
    // pins the cells-only plan (no raw segments path).
    Q("q_sql_rollup_cells_basic",
      (s, dir) => {
        import org.apache.spark.sql.functions.{col, floor}
        val hi = T0 + 2 * 86400
        val store = cellsFixture(s, dir, T0, hi)
        Engine.executeOnStore(store,
          s"select avg(value) as avg_v, sum(value) as sum_val, " +
            s"count() as n, count(value) as nv, " +
            s"min(value) as min_val, max(value) as max_val " +
            s"from error where time >= $T0 and time < $hi",
          CompileOptions(now = NOW)).df
          .select((floor(col("avg_v") * 1e4 + 0.5) / 1e4).as("avg_v"),
            (floor(col("sum_val") * 1e4 + 0.5) / 1e4).as("sum_val"),
            col("n"), col("nv"), col("min_val"), col("max_val"))
      },
      Some(s"""$svSql
              |SELECT floor((avg(value)) * 1e4 + 0.5) / 1e4 AS avg_v,
              |       floor((sum(value)) * 1e4 + 0.5) / 1e4 AS sum_val,
              |       count(*) AS n, count(value) AS nv,
              |       min(value) AS min_val, max(value) AS max_val
              |FROM sv WHERE series = 'error' AND time >= $T0 AND time < ${T0 + 2 * 86400}""".stripMargin),
      benchExtra = true),

    // Bucketed variant: day cells coarsen into day-multiple buckets for
    // the basic partials exactly like the digests — "avg per 2 days" is
    // a day-pruned partial merge, never a raw rescan.
    Q("q_sql_rollup_cells_bucket",
      (s, dir) => {
        import org.apache.spark.sql.functions.{col, floor}
        val hi = T0 + 4 * 86400
        val store = cellsFixture(s, dir, T0, hi)
        Engine.executeOnStore(store,
          s"select time_bucket(172800, time) as b, avg(value) as avg_v, " +
            s"count() as n, min(value) as min_val, max(value) as max_val " +
            s"from error where time >= $T0 and time < $hi " +
            s"group by time_bucket(172800, time) order by b",
          CompileOptions(now = NOW)).df
          .select(col("b"), (floor(col("avg_v") * 1e4 + 0.5) / 1e4).as("avg_v"),
            col("n"), col("min_val"), col("max_val"))
      },
      Some(s"""$svSql
              |SELECT CAST(time // 172800 * 172800 AS BIGINT) AS b,
              |       floor((avg(value)) * 1e4 + 0.5) / 1e4 AS avg_v,
              |       count(*) AS n, min(value) AS min_val, max(value) AS max_val
              |FROM sv WHERE series = 'error' AND time >= $T0 AND time < ${T0 + 4 * 86400}
              |GROUP BY 1 ORDER BY b""".stripMargin),
      benchExtra = true),

    // Composite bucket × tag variant: the tag tier's (series, day, value)
    // cells carry the same basic partials, so "avg per user per 2 days"
    // serves exactly from day-pruned KB rows of the tdtag table.
    Q("q_sql_rollup_cells_tag",
      (s, dir) => {
        import org.apache.spark.sql.functions.{col, floor}
        val hi = T0 + 4 * 86400
        val store = cellsFixture(s, dir, T0, hi, groupTags = Seq("user"))
        Engine.executeOnStore(store,
          s"select time_bucket(172800, time) as b, tag.user as usr, " +
            s"avg(value) as avg_v, count() as n, max(value) as max_val " +
            s"from error where time >= $T0 and time < $hi " +
            s"group by time_bucket(172800, time), tag.user order by b, usr",
          CompileOptions(now = NOW)).df
          .select(col("b"), col("usr"),
            (floor(col("avg_v") * 1e4 + 0.5) / 1e4).as("avg_v"),
            col("n"), col("max_val"))
      },
      Some(s"""$svSql
              |SELECT CAST(time // 172800 * 172800 AS BIGINT) AS b, tag_user AS usr,
              |       floor((avg(value)) * 1e4 + 0.5) / 1e4 AS avg_v,
              |       count(*) AS n, max(value) AS max_val
              |FROM sv WHERE series = 'error' AND time >= $T0 AND time < ${T0 + 4 * 86400}
              |GROUP BY 1, 2 ORDER BY b, usr""".stripMargin),
      benchExtra = true),

    // first/last served from the cell tier (r14): min/max over
    // struct(time, value) partials — the earliest day's earliest pair IS
    // the window's, so the TSDB staple "latest value per bucket" reads
    // KB cells. Exact (the raw route's (time, value) ordering, value
    // tiebreak included), so the hash pins the values themselves.
    Q("q_sql_rollup_cells_fl",
      (s, dir) => {
        val hi = T0 + 4 * 86400
        val store = cellsFixture(s, dir, T0, hi)
        Engine.executeOnStore(store,
          s"select time_bucket(172800, time) as b, first(value) as fv, " +
            s"last(value) as lv, count() as n " +
            s"from error where time >= $T0 and time < $hi " +
            s"group by time_bucket(172800, time) order by b",
          CompileOptions(now = NOW)).df
      },
      Some(s"""${ptsSql(172800L, "error", T0, T0 + 4 * 86400)}
              |SELECT bucket AS b,
              |       min(CASE WHEN rn_a = 1 THEN value END) AS fv,
              |       min(CASE WHEN rn_d = 1 THEN value END) AS lv,
              |       count(*) AS n
              |FROM pts GROUP BY bucket ORDER BY b""".stripMargin),
      benchExtra = true),

    // delta/rate served from the cell tier (r14): the null-skipping
    // (time, value) extreme partials reconstruct orderedExtremes exactly
    // — (last-first) and its time-span division per bucket from KB
    // cells. Division rounds at 1e-4 on both sides (house discipline).
    Q("q_sql_rollup_cells_rate",
      (s, dir) => {
        import org.apache.spark.sql.functions.{col, floor}
        val hi = T0 + 4 * 86400
        val store = cellsFixture(s, dir, T0, hi)
        Engine.executeOnStore(store,
          s"select time_bucket(172800, time) as b, rate(value) as rate_v, " +
            s"delta(value) as delta_v " +
            s"from error where time >= $T0 and time < $hi " +
            s"group by time_bucket(172800, time) order by b",
          CompileOptions(now = NOW)).df
          .select(col("b"),
            (floor(col("rate_v") * 1e4 + 0.5) / 1e4).as("rate_v"),
            (floor(col("delta_v") * 1e4 + 0.5) / 1e4).as("delta_v"))
      },
      Some(s"""${ptsSql(172800L, "error", T0, T0 + 4 * 86400)}
              |SELECT bucket AS b,
              |       floor((CASE WHEN cnt >= 2 AND max(time) - min(time) > 0
              |             THEN (min(CASE WHEN rn_d = 1 THEN value END) - min(CASE WHEN rn_a = 1 THEN value END))
              |                  / (max(time) - min(time)) END) * 1e4 + 0.5) / 1e4 AS rate_v,
              |       floor((min(CASE WHEN rn_d = 1 THEN value END) - min(CASE WHEN rn_a = 1 THEN value END)) * 1e4 + 0.5) / 1e4 AS delta_v
              |FROM pts GROUP BY bucket, cnt ORDER BY b""".stripMargin),
      benchExtra = true),

    // Descending ORDER BY on a served shape (r14): `order by usr desc`
    // previously fell through to a raw rescan; descending sort of the
    // SERVED frame is trivially equivalent, so the tag tier serves it
    // (PlanSpec pins tdtag + no segments on this exact shape). Quantile
    // bounds contract as the ascending tag gate.
    Q("q_sql_sketch_cells_desc",
      (s, dir) => {
        import org.apache.spark.sql.functions.{col, lit}
        val hi = T0 + 2 * 86400
        val store = cellsFixture(s, dir, T0, hi, groupTags = Seq("user"))
        val df = Engine.executeOnStore(store,
          s"select tag.user as usr, percentile_approx(value, 0.5) as p50a " +
            s"from error where time >= $T0 and time < $hi " +
            s"group by tag.user order by usr desc",
          CompileOptions(now = NOW)).df
        val bounds = store.source()
          .filter(col("series") === "error" && col("time") >= T0 && col("time") < hi)
          .groupBy(col("tags")("user").as("usr"))
          .agg(percentile(col("value"), array(lit(0.45), lit(0.55), lit(0.5))).as("__q"),
            count(lit(1)).as("n"))
          .select(col("usr"), element_at(col("__q"), 1).as("lo50"),
            element_at(col("__q"), 2).as("hi50"),
            (floor(element_at(col("__q"), 3) * 1e4 + 0.5) / 1e4).as("p50_exact"),
            col("n"))
        df.join(bounds, "usr")
          .select(col("usr"), col("p50_exact"), col("n"),
            (col("p50a") >= col("lo50") && col("p50a") <= col("hi50")).as("p50_ok"))
          .orderBy(col("usr").desc)
      },
      Some(s"""$svSql
              |SELECT tag_user AS usr,
              |       floor((quantile_cont(value, 0.5)) * 1e4 + 0.5) / 1e4 AS p50_exact,
              |       count(*) AS n, true AS p50_ok
              |FROM sv WHERE series = 'error' AND time >= $T0 AND time < ${T0 + 2 * 86400}
              |GROUP BY tag_user ORDER BY usr DESC""".stripMargin),
      benchExtra = true),

    // RAGGED-window hybrid serving (r14): bounds that don't align to day
    // boundaries previously fell through to a raw rescan of the WHOLE
    // window. Now the interior whole days come from cells and only the
    // sub-day edges are aggregated from the hour-pruned raw scan into the
    // same mergeable partials (Engine.sketchServed's edgePartials), so a
    // 90-day dashboard window starting mid-afternoon reads ~89 KB cells +
    // ≤48 raw hours. Exact aggregates stay EXACT through the hybrid —
    // this gate hash-pins them against the raw-route oracle on a window
    // with a 1 h leading and 2 h trailing edge (PlanSpec pins both the
    // cell path AND the edge-houred segments scan).
    Q("q_sql_rollup_cells_ragged",
      (s, dir) => {
        import org.apache.spark.sql.functions.{col, floor}
        val lo = T0 + 3600
        val hi = T0 + 4 * 86400 - 7200
        val store = cellsFixture(s, dir, T0, T0 + 4 * 86400)
        Engine.executeOnStore(store,
          s"select avg(value) as avg_v, sum(value) as sum_val, " +
            s"count() as n, count(value) as nv, " +
            s"min(value) as min_val, max(value) as max_val, last(value) as lv " +
            s"from error where time >= $lo and time < $hi",
          CompileOptions(now = NOW)).df
          .select((floor(col("avg_v") * 1e4 + 0.5) / 1e4).as("avg_v"),
            (floor(col("sum_val") * 1e4 + 0.5) / 1e4).as("sum_val"),
            col("n"), col("nv"), col("min_val"), col("max_val"), col("lv"))
      },
      Some(s"""${ptsSql(1000000000L, "error", T0 + 3600, T0 + 4 * 86400 - 7200)}
              |SELECT floor((avg(value)) * 1e4 + 0.5) / 1e4 AS avg_v,
              |       floor((sum(value)) * 1e4 + 0.5) / 1e4 AS sum_val,
              |       count(*) AS n, count(value) AS nv,
              |       min(value) AS min_val, max(value) AS max_val,
              |       min(CASE WHEN rn_d = 1 THEN value END) AS lv
              |FROM pts""".stripMargin),
      benchExtra = true),

    // Ragged hybrid × bucket grouping: the edge partials carry their
    // day, and a day-multiple bucket of a day is the bucket of every
    // row in it, so edge rows land in exactly the raw route's boundary
    // buckets. Per-bucket counts pin the hybrid's row accounting
    // exactly; per-bucket p50 keeps the bounds contract.
    Q("q_sql_sketch_cells_ragged",
      (s, dir) => {
        import org.apache.spark.sql.functions.{col, lit}
        val lo = T0 + 3600
        val hi = T0 + 4 * 86400 - 3600
        val store = cellsFixture(s, dir, T0, T0 + 4 * 86400)
        val df = Engine.executeOnStore(store,
          s"select time_bucket(86400, time) as b, " +
            s"percentile_approx(value, 0.5) as p50a, count() as n " +
            s"from error where time >= $lo and time < $hi " +
            s"group by time_bucket(86400, time) order by b",
          CompileOptions(now = NOW)).df
        val bounds = store.source()
          .filter(col("series") === "error" && col("time") >= lo && col("time") < hi)
          .groupBy(graft.core.Functions.timeBucket(lit(86400L), col("time")).as("b"))
          .agg(percentile(col("value"), array(lit(0.45), lit(0.55), lit(0.5))).as("__q"))
          .select(col("b"), element_at(col("__q"), 1).as("lo50"),
            element_at(col("__q"), 2).as("hi50"),
            (floor(element_at(col("__q"), 3) * 1e4 + 0.5) / 1e4).as("p50_exact"))
        df.join(bounds, "b")
          .select(col("b"), col("p50_exact"), col("n"),
            (col("p50a") >= col("lo50") && col("p50a") <= col("hi50")).as("p50_ok"))
          .orderBy("b")
      },
      Some(s"""$svSql
              |SELECT CAST(time // 86400 * 86400 AS BIGINT) AS b,
              |       floor((quantile_cont(value, 0.5)) * 1e4 + 0.5) / 1e4 AS p50_exact,
              |       count(*) AS n, true AS p50_ok
              |FROM sv WHERE series = 'error' AND time >= ${T0 + 3600} AND time < ${T0 + 4 * 86400 - 3600}
              |GROUP BY 1 ORDER BY b""".stripMargin),
      benchExtra = true),

    // LIMIT/OFFSET on a served shape (r14 FIX): the serving path
    // previously dropped them — `… order by b limit 2` returned every
    // bucket. Now they apply to the served frame when the ORDER BY is a
    // total order over the group keys (unique rows per key → the raw
    // route's exact rows), compiler application order (offset, then
    // limit); a partial order falls through to raw. "Latest 2 days'
    // averages" is the dashboard top-N staple.
    Q("q_sql_rollup_cells_limit",
      (s, dir) => {
        import org.apache.spark.sql.functions.{col, floor}
        // 8 days → FOUR 2-day buckets, so `limit 2 offset 1` actually
        // truncates (r15, ADVICE: the old 4-day store left one row after
        // the offset, making the limit vacuous against the oracle)
        val hi = T0 + 8 * 86400
        val store = cellsFixture(s, dir, T0, hi)
        Engine.executeOnStore(store,
          s"select time_bucket(172800, time) as b, avg(value) as avg_v " +
            s"from error where time >= $T0 and time < $hi " +
            s"group by time_bucket(172800, time) order by b desc limit 2 offset 1",
          CompileOptions(now = NOW)).df
          .select(col("b"), (floor(col("avg_v") * 1e4 + 0.5) / 1e4).as("avg_v"))
      },
      Some(s"""$svSql
              |SELECT CAST(time // 172800 * 172800 AS BIGINT) AS b,
              |       floor((avg(value)) * 1e4 + 0.5) / 1e4 AS avg_v
              |FROM sv WHERE series = 'error' AND time >= $T0 AND time < ${T0 + 8 * 86400}
              |GROUP BY 1 ORDER BY b DESC LIMIT 2 OFFSET 1""".stripMargin),
      benchExtra = true),

    // Origin-shifted buckets served from cells (r14): the 3-arg
    // time_bucket with a DAY-ALIGNED origin ("weeks starting Monday")
    // keeps bucket boundaries on day boundaries, so day cells still
    // coarsen exactly; a sub-day origin falls through (PlanSpec pins
    // both). Exact aggregates hash-pinned per shifted bucket.
    Q("q_sql_rollup_cells_origin",
      (s, dir) => {
        import org.apache.spark.sql.functions.{col, floor}
        val hi = T0 + 4 * 86400
        val og = T0 + 86400 // day-aligned, mid-window: buckets straddle it
        val store = cellsFixture(s, dir, T0, hi)
        Engine.executeOnStore(store,
          s"select time_bucket(172800, time, $og) as b, avg(value) as avg_v, " +
            s"count() as n from error where time >= $T0 and time < $hi " +
            s"group by time_bucket(172800, time, $og) order by b",
          CompileOptions(now = NOW)).df
          .select(col("b"), (floor(col("avg_v") * 1e4 + 0.5) / 1e4).as("avg_v"),
            col("n"))
      },
      Some(s"""$svSql
              |SELECT CAST(floor((time - ${T0 + 86400}) / 172800.0) AS BIGINT) * 172800
              |         + ${T0 + 86400} AS b,
              |       floor((avg(value)) * 1e4 + 0.5) / 1e4 AS avg_v,
              |       count(*) AS n
              |FROM sv WHERE series = 'error' AND time >= $T0 AND time < ${T0 + 4 * 86400}
              |GROUP BY 1 ORDER BY b""".stripMargin),
      benchExtra = true),

    // FILL on a served shape (r14): fill applies POST-aggregation to the
    // bucketed frame, and the served frame has exactly the raw route's
    // buckets, so the same Fill operator on the served output is the
    // same result — dashboards' gap-filled panels read KB cells. The
    // gate punches a real day-wide hole with an engine DELETE (which
    // also exercises the mutator→tier path), then fill(previous) closes
    // it; both avg and count carry forward, per Fill's all-value-columns
    // contract.
    Q("q_sql_rollup_cells_fill",
      (s, dir) => {
        import org.apache.spark.sql.functions.{col, floor}
        val hi = T0 + 4 * 86400
        val store = privateStore(s, dir, T0, hi)
        Engine.executeOnStore(store,
          s"delete from error where time >= ${T0 + 2 * 86400} and time < ${T0 + 3 * 86400}",
          CompileOptions(now = NOW))
        graft.storage.SketchCells.build(store, graft.storage.SketchCells.dirFor(store))
        Engine.executeOnStore(store,
          s"select time_bucket(86400, time) as bucket, avg(value) as avg_v, " +
            s"count() as n from error where time >= $T0 and time < $hi " +
            s"group by time_bucket(86400, time) fill(previous) order by bucket",
          CompileOptions(now = NOW)).df
          .select(col("bucket"),
            (floor(col("avg_v") * 1e4 + 0.5) / 1e4).as("avg_v"), col("n"))
      },
      Some(s"""$svSql, agg AS (
              |  SELECT CAST(time // 86400 * 86400 AS BIGINT) AS bucket,
              |         avg(value) AS avg_v, count(*) AS n
              |  FROM sv WHERE series = 'error' AND time >= $T0 AND time < ${T0 + 4 * 86400}
              |    AND NOT (time >= ${T0 + 2 * 86400} AND time < ${T0 + 3 * 86400})
              |  GROUP BY 1
              |), spine AS (
              |  SELECT unnest(generate_series(min(bucket), max(bucket), 86400)) AS bucket FROM agg
              |)
              |SELECT s.bucket,
              |       floor((last_value(a.avg_v IGNORE NULLS)
              |             OVER (ORDER BY s.bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) * 1e4 + 0.5) / 1e4 AS avg_v,
              |       last_value(a.n IGNORE NULLS)
              |             OVER (ORDER BY s.bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n
              |FROM spine s LEFT JOIN agg a ON s.bucket = a.bucket
              |ORDER BY s.bucket""".stripMargin),
      benchExtra = true),

    // All-series (FROM-less) serving (r14): the fleet-wide dashboard
    // shape — no selector — merges cells ACROSS series, so "avg over
    // everything this week" reads day-pruned KB cells instead of every
    // series' raw points. Exact aggregates hash-pinned against the
    // unfiltered raw oracle.
    Q("q_sql_rollup_cells_all",
      (s, dir) => {
        import org.apache.spark.sql.functions.{col, floor}
        val hi = T0 + 2 * 86400
        val store = cellsFixture(s, dir, T0, hi)
        Engine.executeOnStore(store,
          s"select avg(value) as avg_v, count() as n, " +
            s"min(value) as min_val, max(value) as max_val " +
            s"where time >= $T0 and time < $hi",
          CompileOptions(now = NOW)).df
          .select((floor(col("avg_v") * 1e4 + 0.5) / 1e4).as("avg_v"),
            col("n"), col("min_val"), col("max_val"))
      },
      Some(s"""$svSql
              |SELECT floor((avg(value)) * 1e4 + 0.5) / 1e4 AS avg_v,
              |       count(*) AS n, min(value) AS min_val, max(value) AS max_val
              |FROM sv WHERE time >= $T0 AND time < ${T0 + 2 * 86400}""".stripMargin),
      benchExtra = true),

    // Fleet-wide aggregate on the RAW route (r15): selector-less
    // `avg/count/max where time …` now reads the whole source when no
    // cell tier exists — pre-r15 the compiler sent every FROM-less
    // select to OneRow, so the r14 fleet-wide dashboard shape THREW
    // (unresolved `time`) unless cells happened to be built. This gate
    // pins the raw half of that contract; q_sql_rollup_cells_all pins
    // the served half.
    sq("q_sql_fleet_raw",
      s"select avg(value) as avg_v, count() as n, max(value) as mx " +
        s"where time >= $T0 and time < $T1",
      s"""$svSql
         |SELECT floor((avg(value)) * 1e4 + 0.5) / 1e4 AS avg_v,
         |       count(*) AS n, max(value) AS mx
         |FROM sv WHERE time >= $T0 AND time < $T1""".stripMargin,
      roundCols = Seq("avg_v")),

    sq("q_sql_minmax_fl",
      s"select min(value) as mn, max(value) as mx, first(value) as fv, last(value) as lv " +
        s"from error where time >= $T0 and time < $T1",
      s"""${ptsSql(1000000000L, "error")}
         |SELECT min(value) AS mn, max(value) AS mx,
         |       min(CASE WHEN rn_a = 1 THEN value END) AS fv,
         |       min(CASE WHEN rn_d = 1 THEN value END) AS lv
         |FROM pts""".stripMargin),

    sq("q_sql_topk",
      s"select time, value from error where time >= $T0 and time < $T1 order by value desc, time asc limit 20",
      s"""$svSql
         |SELECT time, value FROM sv
         |WHERE series = 'error' AND time >= $T0 AND time < $T1
         |ORDER BY value DESC, time ASC LIMIT 20""".stripMargin),

    sq("q_sql_limit_offset",
      s"select time, value from view where time >= $T0 and time < $T1 order by time asc, value asc limit 100 offset 50",
      s"""$svSql
         |SELECT time, value FROM sv
         |WHERE series = 'view' AND time >= $T0 AND time < $T1
         |ORDER BY time ASC, value ASC LIMIT 100 OFFSET 50""".stripMargin),

    // boolean ops: not, !~, integer-only %, != (expression.zig:95-133)
    sq("q_sql_bool_ops",
      s"select time, value from click where time >= $T0 and time < ${T0 + 86400} " +
        s"and not (tag.user =~ '^[0-4]$$') and time % 2 = 0 and value != 0 order by time, value",
      s"""$svSql
         |SELECT time, value FROM sv
         |WHERE series = 'click' AND time >= $T0 AND time < ${T0 + 86400}
         |  AND NOT regexp_matches(tag_user, '^[0-4]$$') AND time % 2 = 0 AND value != 0
         |ORDER BY time, value""".stripMargin),

    sq("q_sql_regex",
      s"select time, value from click where time >= $T0 and time < ${T0 + 86400} and tag.user =~ '^[0-3]$$' order by time, value",
      s"""$svSql
         |SELECT time, value FROM sv
         |WHERE series = 'click' AND time >= $T0 AND time < ${T0 + 86400}
         |  AND regexp_matches(tag_user, '^[0-3]$$')
         |ORDER BY time, value""".stripMargin),

    sq("q_sql_scalar_fns",
      s"select time, abs(value - 10) as a, round(sqrt(abs(value))) as r, pow(value, 2) as p2, " +
        s"floor(value / 10) as f, ceil(value / 10) as c " +
        s"from view where time >= $T0 and time < ${T0 + 86400} order by time, a",
      s"""$svSql
         |SELECT time, abs(value - 10) AS a, round(sqrt(abs(value)), 0) AS r,
         |       pow(value, 2) AS p2,
         |       floor(value / 10) AS f, ceil(value / 10) AS c
         |FROM sv WHERE series = 'view' AND time >= $T0 AND time < ${T0 + 86400}
         |ORDER BY time, a""".stripMargin,
      roundCols = Seq("p2")),

    // Declared scalars without a prior gate row: ln, 3-arg time_bucket
    // origin (functions.zig:314-324), coalesce, fill_forward (identity on
    // the non-null series — exercises the window path end-to-end; null
    // carry-forward is covered by SydraqlSpec fixtures and q_sql_fill_prev).
    sq("q_sql_scalar_fns2",
      s"select time, ln(abs(value) + 1) as lnv, time_bucket(3600, time, 900) as tb_o, " +
        s"coalesce(value, 0 - 1) as cv, fill_forward(value) as ff " +
        s"from view where time >= $T0 and time < ${T0 + 86400} order by time, lnv",
      s"""$svSql
         |SELECT time, floor((ln(abs(value) + 1)) * 1e4 + 0.5) / 1e4 AS lnv,
         |       CAST(floor((time - 900) / 3600.0) AS BIGINT) * 3600 + 900 AS tb_o,
         |       coalesce(value, CAST(-1 AS DOUBLE)) AS cv, value AS ff
         |FROM sv WHERE series = 'view' AND time >= $T0 AND time < ${T0 + 86400}
         |ORDER BY time, lnv""".stripMargin,
      roundCols = Seq("lnv")),

    // fill(null): spine densification with empty buckets left NULL
    // (fill.zig nil policy; Fill.scala:57) — NULL rows cross the hash gate.
    sq("q_sql_fill_null",
      s"select time_bucket(1800, time) as bucket, avg(value) as avg_value " +
        s"from error where time >= $T0 and time < ${T0 + 2 * 86400} " +
        s"group by time_bucket(1800, time) fill(null) order by bucket",
      s"""$svSql, agg AS (
         |  SELECT CAST(floor(time / 1800.0) AS BIGINT) * 1800 AS bucket, avg(value) AS avg_value
         |  FROM sv WHERE series = 'error' AND time >= $T0 AND time < ${T0 + 2 * 86400}
         |  GROUP BY bucket
         |), spine AS (
         |  SELECT unnest(generate_series(min(bucket), max(bucket), 1800)) AS bucket FROM agg
         |)
         |SELECT s.bucket, floor((a.avg_value) * 1e4 + 0.5) / 1e4 AS avg_value
         |FROM spine s LEFT JOIN agg a ON s.bucket = a.bucket
         |ORDER BY s.bucket""".stripMargin,
      roundCols = Seq("avg_value")),

    sq("q_sql_now_bucket",
      "select time_bucket(60, now()) as b, now() as t",
      s"SELECT CAST($NOW - $NOW % 60 AS BIGINT) AS b, CAST($NOW AS BIGINT) AS t"),

    sq("q_sql_fill_prev",
      s"select time_bucket(1800, time) as bucket, avg(value) as avg_value " +
        s"from error where time >= $T0 and time < ${T0 + 2 * 86400} " +
        s"group by time_bucket(1800, time) fill(previous) order by bucket",
      s"""$svSql, agg AS (
         |  SELECT CAST(floor(time / 1800.0) AS BIGINT) * 1800 AS bucket, avg(value) AS avg_value
         |  FROM sv WHERE series = 'error' AND time >= $T0 AND time < ${T0 + 2 * 86400}
         |  GROUP BY bucket
         |), spine AS (
         |  SELECT unnest(generate_series(min(bucket), max(bucket), 1800)) AS bucket FROM agg
         |)
         |SELECT s.bucket,
         |       floor((last_value(a.avg_value IGNORE NULLS)
         |             OVER (ORDER BY s.bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) * 1e4 + 0.5) / 1e4 AS avg_value
         |FROM spine s LEFT JOIN agg a ON s.bucket = a.bucket
         |ORDER BY s.bucket""".stripMargin,
      roundCols = Seq("avg_value")),

    sq("q_sql_fill_const",
      s"select time_bucket(1800, time) as bucket, avg(value) as avg_value " +
        s"from error where time >= $T0 and time < ${T0 + 2 * 86400} " +
        s"group by time_bucket(1800, time) fill(0) order by bucket",
      s"""$svSql, agg AS (
         |  SELECT CAST(floor(time / 1800.0) AS BIGINT) * 1800 AS bucket, avg(value) AS avg_value
         |  FROM sv WHERE series = 'error' AND time >= $T0 AND time < ${T0 + 2 * 86400}
         |  GROUP BY bucket
         |), spine AS (
         |  SELECT unnest(generate_series(min(bucket), max(bucket), 1800)) AS bucket FROM agg
         |)
         |SELECT s.bucket, floor((coalesce(a.avg_value, 0)) * 1e4 + 0.5) / 1e4 AS avg_value
         |FROM spine s LEFT JOIN agg a ON s.bucket = a.bucket
         |ORDER BY s.bucket""".stripMargin,
      roundCols = Seq("avg_value")),

    sq("q_sql_fill_linear",
      s"select time_bucket(1800, time) as bucket, avg(value) as avg_value " +
        s"from error where time >= $T0 and time < ${T0 + 2 * 86400} " +
        s"group by time_bucket(1800, time) fill(linear) order by bucket",
      s"""$svSql, agg AS (
         |  SELECT CAST(floor(time / 1800.0) AS BIGINT) * 1800 AS bucket, avg(value) AS avg_value
         |  FROM sv WHERE series = 'error' AND time >= $T0 AND time < ${T0 + 2 * 86400}
         |  GROUP BY bucket
         |), spine AS (
         |  SELECT unnest(generate_series(min(bucket), max(bucket), 1800)) AS bucket FROM agg
         |), j AS (
         |  SELECT s.bucket, a.avg_value,
         |         last_value(a.avg_value IGNORE NULLS) OVER (ORDER BY s.bucket ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pv,
         |         last_value(CASE WHEN a.avg_value IS NOT NULL THEN s.bucket END IGNORE NULLS)
         |           OVER (ORDER BY s.bucket ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pb,
         |         first_value(a.avg_value IGNORE NULLS) OVER (ORDER BY s.bucket ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nv,
         |         first_value(CASE WHEN a.avg_value IS NOT NULL THEN s.bucket END IGNORE NULLS)
         |           OVER (ORDER BY s.bucket ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nb
         |  FROM spine s LEFT JOIN agg a ON s.bucket = a.bucket
         |)
         |SELECT bucket,
         |       floor((CASE WHEN avg_value IS NOT NULL THEN avg_value
         |                  WHEN pv IS NOT NULL AND nv IS NOT NULL
         |                       THEN pv + (nv - pv) * (bucket - pb) / (nb - pb)
         |             END) * 1e4 + 0.5) / 1e4 AS avg_value
         |FROM j ORDER BY bucket""".stripMargin,
      roundCols = Seq("avg_value")),

    sq("q_sql_rate_delta",
      s"select time_bucket(3600, time) as bucket, rate(value) as rate_v, delta(value) as delta_v, " +
        s"irate(value) as irate_v from click where time >= $T0 and time < $T1 " +
        s"group by time_bucket(3600, time) order by bucket",
      s"""${ptsSql(3600L, "click")}
         |SELECT bucket,
         |       floor((CASE WHEN cnt >= 2 AND max(time) - min(time) > 0
         |             THEN (min(CASE WHEN rn_d = 1 THEN value END) - min(CASE WHEN rn_a = 1 THEN value END))
         |                  / (max(time) - min(time)) END) * 1e4 + 0.5) / 1e4 AS rate_v,
         |       floor((min(CASE WHEN rn_d = 1 THEN value END) - min(CASE WHEN rn_a = 1 THEN value END)) * 1e4 + 0.5) / 1e4 AS delta_v,
         |       floor((CASE WHEN cnt >= 2 AND min(CASE WHEN rn_d = 1 THEN time END) - min(CASE WHEN rn_d = 2 THEN time END) > 0
         |             THEN (min(CASE WHEN rn_d = 1 THEN value END) - min(CASE WHEN rn_d = 2 THEN value END))
         |                  / (min(CASE WHEN rn_d = 1 THEN time END) - min(CASE WHEN rn_d = 2 THEN time END)) END) * 1e4 + 0.5) / 1e4 AS irate_v
         |FROM pts GROUP BY bucket, cnt ORDER BY bucket""".stripMargin,
      roundCols = Seq("rate_v", "delta_v", "irate_v")),

    sq("q_sql_integral",
      s"select time_bucket(86400, time) as day, integral(value) as area " +
        s"from click where time >= $T0 and time < $T1 group by time_bucket(86400, time) order by day",
      s"""${ptsSql(86400L, "click")}, pairs AS (
         |  SELECT bucket, time, value,
         |         lag(time) OVER (PARTITION BY bucket ORDER BY time, value) AS pt,
         |         lag(value) OVER (PARTITION BY bucket ORDER BY time, value) AS pv
         |  FROM pts
         |)
         |SELECT bucket AS day,
         |       floor((coalesce(sum((time - pt) * (value + pv) / 2), 0)) * 1e4 + 0.5) / 1e4 AS area
         |FROM pairs GROUP BY bucket ORDER BY day""".stripMargin,
      roundCols = Seq("area")),

    // Scalar window functions THROUGH THE COMPILER (lag/lead/moving_avg/
    // fill_forward): exercises the SeriesWindows day-partitioned pre-pass
    // (within-day windows + broadcast boundary tails/heads/carry — no
    // whole-series single-partition window) over a deduped store, where
    // time is unique per series_id so the window order is total. The
    // 600 s moving_avg frame and the lag/lead(2) offsets cross the day
    // boundary inside the 2-day range.
    Q("q_sql_window_fns",
      (s, dir) => {
        val store = rawFixture(s, dir, T0, T0 + 2 * 86400, dedup = true)
        val df = Engine.executeOnStore(store,
          s"select tag.user as usr, time, value, lag(value) as pv, lead(value, 2) as nv, " +
            s"moving_avg(value, 600) as ma, fill_forward(value) as ff " +
            s"from click where time >= $T0 and time < ${T0 + 2 * 86400} order by usr, time",
          CompileOptions(now = NOW)).df
        df.withColumn("ma", floor(col("ma") * 1e4 + 0.5) / 1e4)
      },
      // dd mirrors the dedup'd store (max(value) per series/tags/time);
      // the ma fold is linear per frame (DuckDB's segment-tree windowed avg
      // drifts vs Spark's per-frame sums — see q_ts_moving_avg)
      Some(s"""$svSql, dd AS (
              |  SELECT tag_user, time, max(value) AS value FROM sv
              |  WHERE series = 'click' AND time >= $T0 AND time < ${T0 + 2 * 86400}
              |  GROUP BY 1, 2
              |)
              |SELECT tag_user AS usr, time, value,
              |       lag(value, 1) OVER (PARTITION BY tag_user ORDER BY time) AS pv,
              |       lead(value, 2) OVER (PARTITION BY tag_user ORDER BY time) AS nv,
              |       floor((list_reduce(list(value) OVER w, (x, y) -> x + y)
              |              / count(value) OVER w) * 1e4 + 0.5) / 1e4 AS ma,
              |       value AS ff
              |FROM dd
              |WINDOW w AS (PARTITION BY tag_user ORDER BY time
              |             RANGE BETWEEN 600 PRECEDING AND CURRENT ROW)
              |ORDER BY usr, time""".stripMargin)),

    // UNGROUPED integral/irate: exercises the day-partitioned pre-pass with
    // cross-day boundary correction (no single-partition window — PlanSpec
    // asserts the plan shape). Oracle: one global lag-trapezoid / desc-rank
    // pass over the full range.
    sq("q_sql_integral_global",
      s"select integral(value) as area, irate(value) as irate_v " +
        s"from click where time >= $T0 and time < $T1",
      s"""$svSql, f AS (
         |  SELECT time, value FROM sv WHERE series = 'click' AND time >= $T0 AND time < $T1
         |), pairs AS (
         |  SELECT time, value,
         |         lag(time) OVER (ORDER BY time, value) AS pt,
         |         lag(value) OVER (ORDER BY time, value) AS pv,
         |         row_number() OVER (ORDER BY time DESC, value DESC) AS rn_d,
         |         count(*) OVER () AS cnt
         |  FROM f
         |)
         |SELECT floor((coalesce(sum((time - pt) * (value + pv) / 2), 0)) * 1e4 + 0.5) / 1e4 AS area,
         |       floor((CASE WHEN cnt >= 2 AND min(CASE WHEN rn_d = 1 THEN time END) - min(CASE WHEN rn_d = 2 THEN time END) > 0
         |             THEN (min(CASE WHEN rn_d = 1 THEN value END) - min(CASE WHEN rn_d = 2 THEN value END))
         |                  / (min(CASE WHEN rn_d = 1 THEN time END) - min(CASE WHEN rn_d = 2 THEN time END)) END) * 1e4 + 0.5) / 1e4 AS irate_v
         |FROM pairs GROUP BY cnt""".stripMargin,
      roundCols = Seq("area", "irate_v")),

    // TAG-grouped integral/irate: a non-time group key means the group
    // spans the whole range — the keyed day-partitioned pre-pass (window
    // inside (tag, day), cross-day boundary join) replaces what would
    // otherwise be one task per tag holding its full history.
    sq("q_sql_integral_by_tag",
      s"select tag.user as usr, integral(value) as area, irate(value) as irate_v " +
        s"from click where time >= $T0 and time < ${T0 + 3 * 86400} group by tag.user order by usr",
      s"""$svSql, f AS (
         |  SELECT tag_user, time, value FROM sv
         |  WHERE series = 'click' AND time >= $T0 AND time < ${T0 + 3 * 86400}
         |), pairs AS (
         |  SELECT tag_user, time, value,
         |         lag(time) OVER (PARTITION BY tag_user ORDER BY time, value) AS pt,
         |         lag(value) OVER (PARTITION BY tag_user ORDER BY time, value) AS pv,
         |         row_number() OVER (PARTITION BY tag_user ORDER BY time DESC, value DESC) AS rn_d,
         |         count(*) OVER (PARTITION BY tag_user) AS cnt
         |  FROM f
         |)
         |SELECT tag_user AS usr,
         |       floor((coalesce(sum((time - pt) * (value + pv) / 2), 0)) * 1e4 + 0.5) / 1e4 AS area,
         |       floor((CASE WHEN max(cnt) >= 2 AND min(CASE WHEN rn_d = 1 THEN time END) - min(CASE WHEN rn_d = 2 THEN time END) > 0
         |             THEN (min(CASE WHEN rn_d = 1 THEN value END) - min(CASE WHEN rn_d = 2 THEN value END))
         |                  / (min(CASE WHEN rn_d = 1 THEN time END) - min(CASE WHEN rn_d = 2 THEN time END)) END) * 1e4 + 0.5) / 1e4 AS irate_v
         |FROM pairs GROUP BY tag_user ORDER BY usr""".stripMargin,
      roundCols = Seq("area", "irate_v")),

    // MULTI-key grouping (tag × day bucket): the keyed pre-pass carries
    // both group keys plus the day column — pins the multi-key boundary
    // join (within-bucket lag only; days inside a bucket compose).
    sq("q_sql_integral_tag_bucket",
      s"select tag.user as usr, time_bucket(86400, time) as day, integral(value) as area " +
        s"from click where time >= $T0 and time < ${T0 + 3 * 86400} " +
        "group by tag.user, time_bucket(86400, time) order by usr, day",
      s"""$svSql, f AS (
         |  SELECT tag_user, CAST(floor(time / 86400.0) AS BIGINT) * 86400 AS day, time, value
         |  FROM sv WHERE series = 'click' AND time >= $T0 AND time < ${T0 + 3 * 86400}
         |), pairs AS (
         |  SELECT tag_user, day, time, value,
         |         lag(time) OVER (PARTITION BY tag_user, day ORDER BY time, value) AS pt,
         |         lag(value) OVER (PARTITION BY tag_user, day ORDER BY time, value) AS pv
         |  FROM f
         |)
         |SELECT tag_user AS usr, day,
         |       floor((coalesce(sum((time - pt) * (value + pv) / 2), 0)) * 1e4 + 0.5) / 1e4 AS area
         |FROM pairs GROUP BY tag_user, day ORDER BY usr, day""".stripMargin,
      roundCols = Seq("area")),

    // TAG-grouped ema: the keyed two-phase fold (per-(tag, day) affine
    // coefficients composed per tag) with the null-safe join-back; the
    // oracle's sequential per-tag list_reduce agrees within the shared
    // 1e-4 rounding.
    sq("q_sql_ema_by_tag",
      s"select tag.user as usr, ema(value, 60, 0.5) as ema_v " +
        s"from click where time >= $T0 and time < ${T0 + 3 * 86400} group by tag.user order by usr",
      s"""$svSql
         |SELECT tag_user AS usr,
         |       floor((list_reduce(list(value ORDER BY time, value), (acc, x) -> 0.5 * x + 0.5 * acc)) * 1e4 + 0.5) / 1e4 AS ema_v
         |FROM sv WHERE series = 'click' AND time >= $T0 AND time < ${T0 + 3 * 86400}
         |GROUP BY tag_user ORDER BY usr""".stripMargin,
      roundCols = Seq("ema_v")),

    sq("q_sql_ema",
      s"select time_bucket(86400, time) as day, ema(value, 60, 0.5) as ema_v " +
        s"from error where time >= $T0 and time < ${T0 + 3 * 86400} group by time_bucket(86400, time) order by day",
      s"""$svSql
         |SELECT CAST(floor(time / 86400.0) AS BIGINT) * 86400 AS day,
         |       floor((list_reduce(list(value ORDER BY time, value), (acc, x) -> 0.5 * x + 0.5 * acc)) * 1e4 + 0.5) / 1e4 AS ema_v
         |FROM sv WHERE series = 'error' AND time >= $T0 AND time < ${T0 + 3 * 86400}
         |GROUP BY day ORDER BY day""".stripMargin,
      roundCols = Seq("ema_v")),

    // UNGROUPED ema superset: the two-phase day-partitioned affine fold
    // (SeriesWindows.emaGlobal, cross-day composition exercised over 3
    // days) mixed with a plain aggregate through the broadcast cross-join.
    // Oracle: DuckDB's sequential list_reduce — the associative regrouping
    // drifts only at ulp level, absorbed by the shared 1e-4 rounding.
    sq("q_sql_ema_global",
      s"select ema(value, 60, 0.5) as ema_v, avg(value) as avg_v " +
        s"from error where time >= $T0 and time < ${T0 + 3 * 86400}",
      s"""$svSql
         |SELECT floor((list_reduce(list(value ORDER BY time, value), (acc, x) -> 0.5 * x + 0.5 * acc)) * 1e4 + 0.5) / 1e4 AS ema_v,
         |       floor((avg(value)) * 1e4 + 0.5) / 1e4 AS avg_v
         |FROM sv WHERE series = 'error' AND time >= $T0 AND time < ${T0 + 3 * 86400}""".stripMargin,
      roundCols = Seq("ema_v", "avg_v")),

    // Full storage round-trip inside the gate: events → hour-partitioned
    // store (append: series_id hash, hour bucketing, partition write) →
    // sydraQL over the store's scan → oracle on the raw parquet.
    Q("q_store_roundtrip",
      (s, dir) => {
        val store = rawFixture(s, dir, T0, T0 + 2 * 86400)
        val df = Engine.executeOnStore(store,
          s"select time_bucket(3600, time) as bucket, avg(value) as avg_value, count() as n " +
            s"from click where time >= $T0 and time < ${T0 + 2 * 86400} " +
            "group by time_bucket(3600, time) order by bucket",
          CompileOptions(now = NOW)).df
        df.withColumn("avg_value", floor((col("avg_value")) * 1e4 + 0.5) / 1e4)
      },
      Some(s"""$svSql
              |SELECT CAST(floor(time / 3600.0) AS BIGINT) * 3600 AS bucket,
              |       floor((avg(value)) * 1e4 + 0.5) / 1e4 AS avg_value, count(*) AS n
              |FROM sv WHERE series = 'click' AND time >= $T0 AND time < ${T0 + 2 * 86400}
              |GROUP BY bucket ORDER BY bucket""".stripMargin)),

    // The SAME round-trip through the OPT-IN bucketed layout (SeriesStore
    // seriesBuckets > 0: CLUSTERED BY series_id, catalog-registered scan) —
    // the oracle pins result-equivalence between the two physical layouts;
    // PlanSpec separately asserts the layout's no-Exchange property on
    // series-keyed aggregates.
    Q("q_store_bucketed",
      (s, dir) => {
        val store = rawFixture(s, dir, T0, T0 + 2 * 86400, buckets = 8)
        val df = Engine.executeOnStore(store,
          s"select time_bucket(3600, time) as bucket, avg(value) as avg_value, count() as n " +
            s"from click where time >= $T0 and time < ${T0 + 2 * 86400} " +
            "group by time_bucket(3600, time) order by bucket",
          CompileOptions(now = NOW)).df
        df.withColumn("avg_value", floor((col("avg_value")) * 1e4 + 0.5) / 1e4)
      },
      Some(s"""$svSql
              |SELECT CAST(floor(time / 3600.0) AS BIGINT) * 3600 AS bucket,
              |       floor((avg(value)) * 1e4 + 0.5) / 1e4 AS avg_value, count(*) AS n
              |FROM sv WHERE series = 'click' AND time >= $T0 AND time < ${T0 + 2 * 86400}
              |GROUP BY bucket ORDER BY bucket""".stripMargin)),

    // Full series-keyed analytics over the BUCKETED layout — the query
    // class the layout exists for: GROUP BY series_id reads a scan that
    // already satisfies HashPartitioning(series_id), so the aggregate
    // runs with NO hash Exchange (PlanSpec asserts it on THIS gate's
    // plan; at 100× that shuffle is the dominant cost of per-series
    // analytics). The oracle groups the raw parquet by the same series
    // identity (series, tag) — result-equivalence across layouts.
    Q("q_store_bucketed_series_agg",
      (s, dir) => {
        val store = rawFixture(s, dir, T0, T0 + 2 * 86400, buckets = 8)
        store.scan()
          .groupBy(col("series_id"), col("series"), col("tags")("user").as("usr"))
          .agg(
            (floor(avg("value") * 1e4 + 0.5) / 1e4).as("avg_value"),
            (floor(sum("value") * 1e4 + 0.5) / 1e4).as("sum_value"),
            count(lit(1)).as("n"))
          .select("series", "usr", "avg_value", "sum_value", "n")
          .orderBy("series", "usr")
      },
      Some(s"""$svSql
              |SELECT series, tag_user AS usr,
              |       floor((avg(value)) * 1e4 + 0.5) / 1e4 AS avg_value,
              |       floor((sum(value)) * 1e4 + 0.5) / 1e4 AS sum_value,
              |       count(*) AS n
              |FROM sv WHERE time >= $T0 AND time < ${T0 + 2 * 86400}
              |GROUP BY 1, 2 ORDER BY series, usr""".stripMargin)),

    // CO-LOCATED join over the bucketed layout — the other query class
    // bucketing exists for: enrich every point with its own series'
    // aggregate (here: count points above the series mean). Both join
    // inputs derive from the bucketed scan, so the per-series stats
    // aggregate AND the merge join run on the scan's
    // HashPartitioning(series_id) with NO hash Exchange anywhere
    // (PlanSpec pins it on this gate's plan); at 100 TB this is the
    // difference between a join that shuffles the full point set and one
    // that never moves a row. `hint("merge")` keeps the demonstration
    // honest — a broadcast of the stats frame would also avoid the
    // shuffle, but only while per-series stats stay dimension-sized.
    // The mean is pre-rounded 1e-6 before the comparison (the SAX
    // stance: pin engine-order-dependent stats before APPLYING them).
    Q("q_store_bucketed_join",
      (s, dir) => {
        val store = rawFixture(s, dir, T0, T0 + 2 * 86400, buckets = 8)
        val sc = store.scan()
        val stats = sc.groupBy(col("series_id"))
          .agg((floor(avg(col("value")) * 1e6 + 0.5) / 1e6).as("mean_v"))
        // final rollup keys on series_id too (series/usr are functions of
        // it, carried via first) so the whole pipeline — stats agg, merge
        // join, final agg — rides ONE partitioning, zero hash Exchanges
        sc.hint("merge").join(stats, "series_id")
          .groupBy(col("series_id"))
          .agg(first(col("series")).as("series"),
            first(col("tags")("user")).as("usr"),
            count(lit(1)).as("n"),
            sum(when(col("value") > col("mean_v"), 1L).otherwise(0L)).as("n_above"))
          .select("series", "usr", "n", "n_above")
          .orderBy("series", "usr")
      },
      Some(s"""$svSql, w AS (
              |  SELECT * FROM sv WHERE time >= $T0 AND time < ${T0 + 2 * 86400}
              |), m AS (
              |  SELECT series, tag_user,
              |         floor((avg(value)) * 1e6 + 0.5) / 1e6 AS mean_v
              |  FROM w GROUP BY 1, 2
              |)
              |SELECT w.series, w.tag_user AS usr, count(*) AS n,
              |       CAST(sum(CASE WHEN w.value > m.mean_v THEN 1 ELSE 0 END) AS BIGINT) AS n_above
              |FROM w JOIN m ON w.series = m.series AND w.tag_user = m.tag_user
              |GROUP BY 1, 2 ORDER BY w.series, usr""".stripMargin)),

    // Continuous aggregate: the rollup table is maintained INCREMENTALLY
    // across two appends (manifest-driven, only changed hour partitions
    // re-aggregate), stores mergeable partials, and the gate re-merges
    // them to the (series, bucket) grain — the oracle is one flat
    // aggregation over the raw events. Equality pins that incremental
    // maintenance + partial merge = direct aggregation.
    Q("q_store_rollup",
      (s, dir) => {
        import org.apache.spark.sql.functions.{col, lit, map}
        val tmp = java.nio.file.Files.createTempDirectory("graft-gate-roll").toString
        val store = new graft.storage.SeriesStore(s, tmp + "/store")
        def pts(pred: org.apache.spark.sql.Column) = Tables.events(s, dir).select(
            col("event_type").as("series"),
            map(lit("user"), (col("user_id") % 8).cast("string")).as("tags"),
            (col("ts") / lit(1000000000L)).cast("long").as("time"),
            col("value"))
          .filter(col("time") >= T0 && col("time") < T0 + 2 * 86400 && pred)
        val rollDir = tmp + "/agg"
        store.append(pts(col("series") === "click"))
        graft.storage.Maintenance.continuousRollup(store, rollDir)
        store.append(pts(col("series") =!= "click"))
        graft.storage.Maintenance.continuousRollup(store, rollDir)
        // merged partials, not derived averages: avg = sum/n can land on
        // an exact half-ulp rounding boundary (2-decimal inputs, n a
        // power of two ⇒ 5-decimal averages), where the regrouped fold
        // legitimately differs from the oracle's flat fold by 1 ulp and
        // flips the rounded digit. The SUM of 2-decimal values can't tie
        // at 1e-4 — so the gate pins the mergeable partials themselves.
        graft.storage.Maintenance.readRollup(s, rollDir)
          .groupBy(col("series"), col("bucket"))
          .agg(
            (floor(sum(col("sum_v")) * 1e4 + 0.5) / 1e4).as("sum_v"),
            sum(col("n")).as("n"),
            (floor(min(col("min_v")) * 1e4 + 0.5) / 1e4).as("min_v"),
            (floor(max(col("max_v")) * 1e4 + 0.5) / 1e4).as("max_v"))
          .orderBy("series", "bucket")
      },
      Some(s"""$svSql
              |SELECT series, time - time % 3600 AS bucket,
              |       floor(sum(value) * 1e4 + 0.5) / 1e4 AS sum_v,
              |       count(*) AS n,
              |       floor(min(value) * 1e4 + 0.5) / 1e4 AS min_v,
              |       floor(max(value) * 1e4 + 0.5) / 1e4 AS max_v
              |FROM sv WHERE time >= $T0 AND time < ${T0 + 2 * 86400}
              |GROUP BY 1, 2 ORDER BY series, bucket""".stripMargin)),

    // Rollup HIERARCHY exactness (the continuousRollup scaladoc's claim
    // that coarser re-rollups stay exact by re-summing partials): the
    // DAY tier is derived purely from the HOUR rollup's mergeable
    // partials — the raw points are never re-read — and the oracle
    // aggregates the raw data straight to days. Equality pins that the
    // hour tier loses nothing a day tier needs (the sum/n/min/max
    // algebra is associative end to end).
    Q("q_store_rollup_day",
      (s, dir) => {
        import org.apache.spark.sql.functions.{col, lit, map}
        val tmp = java.nio.file.Files.createTempDirectory("graft-gate-rollday").toString
        val store = new graft.storage.SeriesStore(s, tmp + "/store")
        store.append(Tables.events(s, dir).select(
            col("event_type").as("series"),
            map(lit("user"), (col("user_id") % 8).cast("string")).as("tags"),
            (col("ts") / lit(1000000000L)).cast("long").as("time"),
            col("value"))
          .filter(col("time") >= T0 && col("time") < T0 + 3 * 86400))
        val rollDir = tmp + "/agg"
        graft.storage.Maintenance.continuousRollup(store, rollDir)
        graft.storage.Maintenance.readRollup(s, rollDir)
          .groupBy(col("series"),
            (col("bucket") - pmod(col("bucket"), lit(86400L))).as("day"))
          .agg(
            (floor(sum(col("sum_v")) * 1e4 + 0.5) / 1e4).as("sum_v"),
            sum(col("n")).as("n"),
            (floor(min(col("min_v")) * 1e4 + 0.5) / 1e4).as("min_v"),
            (floor(max(col("max_v")) * 1e4 + 0.5) / 1e4).as("max_v"))
          .orderBy("series", "day")
      },
      Some(s"""$svSql
              |SELECT series, time - time % 86400 AS day,
              |       floor(sum(value) * 1e4 + 0.5) / 1e4 AS sum_v,
              |       count(*) AS n,
              |       floor(min(value) * 1e4 + 0.5) / 1e4 AS min_v,
              |       floor(max(value) * 1e4 + 0.5) / 1e4 AS max_v
              |FROM sv WHERE time >= $T0 AND time < ${T0 + 3 * 86400}
              |GROUP BY 1, 2 ORDER BY series, day""".stripMargin)),

    // Z-order clustered layout: events written sorted by the Morton key of
    // (user_id, time), then queried with BOTH predicates. The oracle runs
    // on the raw parquet — the gate pins that clustering is a pure layout
    // change (identical results); StorageSpec pins the pruning claim
    // (per-file min/max spans tight on both dimensions).
    Q("q_store_zorder",
      (s, dir) => {
        val tmp = java.nio.file.Files.createTempDirectory("graft-gate-zorder")
          .toString + "/events_z"
        val evf = Tables.events(s, dir).select(
          col("event_id"), col("user_id"), col("event_type"),
          (col("ts") / 1000000000L).cast("long").as("time"), col("value"))
        graft.storage.ZOrder.write(evf, tmp, "user_id", "time")
        s.read.parquet(tmp)
          .filter(col("user_id") >= 40 && col("user_id") < 80 &&
            col("time") >= T0 && col("time") < T0 + 3 * 86400)
          .groupBy(col("event_type"))
          .agg(
            (floor(avg("value") * 1e4 + 0.5) / 1e4).as("avg_value"),
            (floor(sum("value") * 1e4 + 0.5) / 1e4).as("sum_value"),
            count(lit(1)).as("n"))
          .orderBy("event_type")
      },
      Some(s"""SELECT event_type,
              |       floor((avg(value)) * 1e4 + 0.5) / 1e4 AS avg_value,
              |       floor((sum(value)) * 1e4 + 0.5) / 1e4 AS sum_value,
              |       count(*) AS n
              |FROM events
              |WHERE user_id >= 40 AND user_id < 80
              |  AND epoch_ns(ts) // 1000000000 >= $T0
              |  AND epoch_ns(ts) // 1000000000 < ${T0 + 3 * 86400}
              |GROUP BY 1 ORDER BY event_type""".stripMargin)),

    // by_id selector: the physical scan path (operator.zig:242-245) — the
    // id is resolved from the series catalog exactly like a client would.
    Q("q_sql_by_id",
      (s, dir) => {
        val sv = Tables.seriesView(s, dir)
        val id = sv.filter(col("series") === "click" && col("tags")("user") === "3")
          .select("series_id").head().getLong(0)
        val df = Engine.sql(s, sv,
          s"select time, value from by_id($id) where time >= $T0 and time < $T1 order by time, value",
          CompileOptions(now = NOW))
        df
      },
      Some(s"""$svSql
              |SELECT time, value FROM sv
              |WHERE series = 'click' AND tag_user = '3' AND time >= $T0 AND time < $T1
              |ORDER BY time, value""".stripMargin)),

    // Case-insensitive keywords + column identifiers through the whole
    // language pipeline (expression.zig:64-80 namesEqual). Series NAMES
    // stay case-sensitive — they are hashed data, not identifiers.
    sq("q_sql_case_insensitive",
      s"SELECT Time, VALUE AS v FROM click WHERE TIME >= $T0 AND time < ${T0 + 86400} ORDER BY tImE, V",
      s"""$svSql
         |SELECT time, value AS v FROM sv
         |WHERE series = 'click' AND time >= $T0 AND time < ${T0 + 86400}
         |ORDER BY time, v""".stripMargin),

    // The pg-compat path in the data plane: SQL → Translator → sydraQL →
    // engine (translator.zig:77-264); oracle runs the SQL directly.
    Q("q_compat_translate",
      (s, dir) => {
        val sql = s"SELECT time, value FROM view WHERE time >= $T0 and time < ${T0 + 86400} and value > 50 order by time, value"
        val sydraql = graft.api.Translator.translate(sql) match {
          case graft.api.Translator.Success(q) => q
          case f => throw new IllegalStateException(s"translation failed: $f")
        }
        Engine.sql(s, Tables.seriesView(s, dir), sydraql, CompileOptions(now = NOW))
      },
      Some(s"""$svSql
              |SELECT time, value FROM sv
              |WHERE series = 'view' AND time >= $T0 AND time < ${T0 + 86400} AND value > 50
              |ORDER BY time, value""".stripMargin)),

    // CSV ingest path (series,ts,value; the reference's sydra-csv tool is
    // an empty stub — this one works): events → CSV → store → query.
    Q("q_csv_ingest",
      (s, dir) => {
        import org.apache.spark.sql.functions.{col, lit}
        val csvDir = java.nio.file.Files.createTempDirectory("graft-gate-csv").toString + "/in"
        Tables.events(s, dir)
          .filter(col("event_type") === "error")
          .select(col("event_type").as("series"),
            (col("ts") / lit(1000000000L)).cast("long").as("ts"), col("value"))
          .filter(col("ts") >= T0 && col("ts") < T0 + 86400)
          .write.option("header", "true").csv(csvDir)
        val store = new graft.storage.SeriesStore(s,
          java.nio.file.Files.createTempDirectory("graft-gate-csvstore").toString)
        graft.storage.Ingest.csv(store, csvDir)
        Engine.executeOnStore(store,
          s"select time_bucket(3600, time) as bucket, count() as n, sum(value) as sum_v " +
            s"from error where time >= $T0 and time < ${T0 + 86400} " +
            "group by time_bucket(3600, time) order by bucket",
          CompileOptions(now = NOW)).df
          .withColumn("sum_v", floor(col("sum_v") * 1e4 + 0.5) / 1e4)
      },
      Some(s"""$svSql
              |SELECT CAST(floor(time / 3600.0) AS BIGINT) * 3600 AS bucket, count(*) AS n,
              |       floor((sum(value)) * 1e4 + 0.5) / 1e4 AS sum_v
              |FROM sv WHERE series = 'error' AND time >= $T0 AND time < ${T0 + 86400}
              |GROUP BY bucket ORDER BY bucket""".stripMargin)),

    // ORC source/sink round-trip (r10 format breadth): the same events
    // slice written as ORC (Spark's other built-in columnar format — the
    // Hive-ecosystem interchange), read back, aggregated; the oracle
    // reads the PARQUET originals, so equality pins write→read fidelity
    // of longs/doubles/strings through the ORC codec path. Predicate
    // pushdown/row-group pruning on ORC ride the same DataSource V1
    // machinery the parquet scans use.
    Q("q_store_orc_roundtrip",
      (s, dir) => {
        import org.apache.spark.sql.functions.{col, lit}
        // fixed per-SF path under target/: repeated verify/bench rounds
        // overwrite instead of leaking a fresh /tmp dir per invocation
        val orcDir = s"target/gate-tmp/orc-${dir.replace('/', '_')}/t"
        Tables.events(s, dir)
          .select(col("event_id"), col("event_type"), col("user_id"),
            (col("ts") / lit(1000000000L)).cast("long").as("time"), col("value"))
          .filter(col("time") >= T0 && col("time") < T0 + 86400)
          .write.mode("overwrite").orc(orcDir)
        s.read.orc(orcDir)
          .filter(col("time") >= T0) // pushed predicate rides the ORC scan
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            (floor(sum(col("value")) * 1e4 + 0.5) / 1e4).as("sum_v"),
            min(col("time")).as("t_min"), max(col("time")).as("t_max"),
            countDistinct(col("user_id")).as("n_users"))
          .orderBy("event_type")
      },
      Some(s"""WITH e AS (
              |  SELECT event_type, user_id, epoch_ns(ts) // 1000000000 AS time, value
              |  FROM events
              |)
              |SELECT event_type, count(*) AS n,
              |       floor((sum(value)) * 1e4 + 0.5) / 1e4 AS sum_v,
              |       min(time) AS t_min, max(time) AS t_max,
              |       count(DISTINCT user_id) AS n_users
              |FROM e WHERE time >= $T0 AND time < ${T0 + 86400}
              |GROUP BY 1 ORDER BY event_type""".stripMargin)),

    // File-level data-skipping manifest (r11): per-file min/max stats +
    // a series-id bloom, probed for a (series, 12 h) slice. The manifest
    // changes what is READ (SkipIndex scaladoc — the 100 TB listing/
    // footer round-trip killer), never what is true: the oracle is the
    // plain filtered scan of the original events. The probe's pruning
    // evidence (files read < files total) is pinned in StorageSpec; here
    // the gate pins row-level equality end to end through build → prune
    // → residual filter.
    Q("q_store_skip_probe",
      (s, dir) => {
        import org.apache.spark.sql.functions.{col, lit, map}
        val store = rawFixture(s, dir, T0, T0 + 2 * 86400)
        val mdir = s"target/gate-tmp/skip-${dir.replace('/', '_')}/m"
        graft.storage.SkipIndex.build(store, mdir)
        val sid = s.range(1).select(graft.core.Functions.seriesId(
          lit("click"), map(lit("user"), lit("3"))).as("sid")).head().getLong(0)
        val probe = graft.storage.SkipIndex.scan(store, mdir, graft.storage.ScanProbe(
          lo = Some(T0 + 6 * 3600), hi = Some(T0 + 18 * 3600), seriesId = Some(sid)))
        probe.df.select(col("time"), col("value")).orderBy("time", "value")
      },
      Some(s"""$svSql
              |SELECT time, value FROM sv
              |WHERE series = 'click' AND tag_user = '3'
              |  AND time >= ${T0 + 6 * 3600} AND time <= ${T0 + 18 * 3600}
              |ORDER BY time, value""".stripMargin)),

    // Value-threshold sweep through the same manifest: prunes on the
    // per-file max_value stat (the "every point above X last week"
    // anomaly query, all series at once). Reuses the skip-probe gate's
    // store + manifest build.
    Q("q_store_skip_value",
      (s, dir) => {
        import org.apache.spark.sql.functions.col
        val store = rawFixture(s, dir, T0, T0 + 2 * 86400)
        val mdir = s"target/gate-tmp/skipv-${dir.replace('/', '_')}/m"
        graft.storage.SkipIndex.build(store, mdir)
        val sweep = graft.storage.SkipIndex.scan(store, mdir, graft.storage.ScanProbe(
          lo = Some(T0), hi = Some(T0 + 86400), vlo = Some(99.0)))
        sweep.df.select(col("series"), col("time"), col("value"))
          .orderBy("series", "time", "value")
      },
      Some(s"""$svSql
              |SELECT series, time, value FROM sv
              |WHERE value >= 99.0 AND time >= $T0 AND time <= ${T0 + 86400}
              |ORDER BY series, time, value""".stripMargin)),

    // EXPLAIN surface (plan text is engine-specific → rows-only gate).
    // EXPLAIN surface, gated on a normalized plan FINGERPRINT instead of
    // rows-only (r11): operator-kind sequence (root→leaf, AQE wrapper
    // dropped, no ids/sizes/paths), pushed-filter count, Exchange count.
    // These are engine-independent CLAIMS about the plan — the bucketed
    // aggregation must ride one scan with the event-type filter pushed,
    // one partial+final aggregate pair around a single shuffle — which
    // the oracle pins as literals. The user-facing EXPLAIN (Engine.sql)
    // still returns the full plan text; only the gate normalizes.
    Q("q_sql_explain",
      (s, dir) => {
        import s.implicits._
        val plan = Engine.sql(s, Tables.seriesView(s, dir),
          s"explain select time_bucket(3600, time) as b, avg(value) as a from click " +
            s"where time >= $T0 and time < $T1 group by time_bucket(3600, time)",
          CompileOptions(now = NOW)).collect()(0).getString(0)
        val tree = plan.linesIterator
          .dropWhile(l => !l.startsWith("==")).drop(1)
          .takeWhile(_.trim.nonEmpty)
          .map(_.replaceAll("^[\\s+\\-*:]+", "").replaceAll("\\s*\\(\\d+\\)\\s*$", "").trim)
          .filter(_.nonEmpty).filterNot(_ == "AdaptiveSparkPlan").toSeq
        // ts-referencing filters are EXCLUDED from the count: whether the
        // time bounds push depends on the events parquet encoding
        // (TIMESTAMP(NANOS)→INT64 pushes, TIMESTAMP(MICROS)→TIMESTAMP_NTZ
        // rides a cast — the driver's generator has shipped both, see
        // Tables.events); the event_type dimension filters push under
        // either and are the stable claim
        val pushed = "PushedFilters: \\[([^\\]]*)\\]".r.findFirstMatchIn(plan)
          .map(_.group(1).split(",").map(_.trim)
            .count(f => f.nonEmpty && !f.contains("(ts"))).getOrElse(0)
        Seq((tree.mkString(">"), pushed.toLong,
          tree.count(_.startsWith("Exchange")).toLong))
          .toDF("ops", "pushed_filters", "exchanges")
      },
      Some("""SELECT 'HashAggregate>Exchange>HashAggregate>Project>Filter>Scan parquet' AS ops,
             |       CAST(3 AS BIGINT) AS pushed_filters,
             |       CAST(1 AS BIGINT) AS exchanges""".stripMargin)),

    // Streaming windowed aggregation executed in batch mode (watermark is
    // a no-op on a static frame — same plan shape Structured Streaming
    // runs incrementally; StreamingSpec covers the incremental/late-data
    // path).
    Q("q_stream_window_agg",
      (s, dir) => graft.streaming.StreamOps.windowedAgg(
          Tables.seriesView(s, dir)
            .filter(col("time") >= T0 && col("time") < T0 + 2 * 86400)
            .select(col("series"), col("time"), col("value")),
          windowDur = "1 hour")
        .withColumn("avg_value", floor(col("avg_value") * 1e4 + 0.5) / 1e4)
        .withColumn("min_value", floor(col("min_value") * 1e4 + 0.5) / 1e4)
        .withColumn("max_value", floor(col("max_value") * 1e4 + 0.5) / 1e4)
        .orderBy("series", "window_start"),
      Some(s"""$svSql
              |SELECT series, CAST(floor(time / 3600.0) AS BIGINT) * 3600 AS window_start,
              |       floor((avg(value)) * 1e4 + 0.5) / 1e4 AS avg_value, count(value) AS n,
              |       floor((min(value)) * 1e4 + 0.5) / 1e4 AS min_value,
              |       floor((max(value)) * 1e4 + 0.5) / 1e4 AS max_value
              |FROM sv WHERE time >= $T0 AND time < ${T0 + 2 * 86400}
              |GROUP BY series, window_start
              |ORDER BY series, window_start""".stripMargin)),

    // Executed INSERT + DELETE lifecycle (Engine.executeOnStore write
    // paths; the reference parses but never plans these, plan.zig:99-104):
    // two inserted rows, then DELETE prunes odd-second rows, final state
    // hash-checked against the oracle's reconstruction.
    Q("q_sql_insert_delete",
      (s, dir) => {
        val store = privateStore(s, dir, T0, T0 + 86400)
        Engine.executeOnStore(store,
          s"insert into click (time, value) values (${T0 + 10000}, 500.5), (${T0 + 20001}, 600.25)",
          CompileOptions(now = NOW))
        Engine.executeOnStore(store,
          s"delete from click where time >= $T0 and time % 2 = 1",
          CompileOptions(now = NOW))
        Engine.executeOnStore(store,
          s"select time_bucket(3600, time) as bucket, count() as n, sum(value) as sum_v " +
            s"from click where time >= $T0 and time < ${T0 + 86400} " +
            "group by time_bucket(3600, time) order by bucket",
          CompileOptions(now = NOW)).df
          .withColumn("sum_v", floor(col("sum_v") * 1e4 + 0.5) / 1e4)
      },
      Some(s"""$svSql, aug AS (
              |  SELECT time, value FROM sv
              |  WHERE series = 'click' AND time >= $T0 AND time < ${T0 + 86400}
              |  UNION ALL SELECT CAST(${T0 + 10000} AS BIGINT), CAST(500.5 AS DOUBLE)
              |  UNION ALL SELECT CAST(${T0 + 20001} AS BIGINT), CAST(600.25 AS DOUBLE)
              |)
              |SELECT CAST(floor(time / 3600.0) AS BIGINT) * 3600 AS bucket, count(*) AS n,
              |       floor((sum(value)) * 1e4 + 0.5) / 1e4 AS sum_v
              |FROM aug WHERE time % 2 = 0
              |GROUP BY bucket ORDER BY bucket""".stripMargin)),

    // Snapshot → restore → query on the restored store (snapshot.zig:3-47).
    Q("q_snapshot_restore",
      (s, dir) => {
        val store = rawFixture(s, dir, T0, T0 + 86400)
        val dest = java.nio.file.Files.createTempDirectory("graft-gate-snap").toString + "/snap"
        graft.storage.Maintenance.snapshot(store, dest)
        val restored = new graft.storage.SeriesStore(s, dest)
        Engine.executeOnStore(restored,
          s"select time_bucket(3600, time) as bucket, avg(value) as avg_value, count() as n " +
            s"from click where time >= $T0 and time < ${T0 + 86400} " +
            "group by time_bucket(3600, time) order by bucket",
          CompileOptions(now = NOW)).df
          .withColumn("avg_value", floor(col("avg_value") * 1e4 + 0.5) / 1e4)
      },
      Some(s"""$svSql
              |SELECT CAST(floor(time / 3600.0) AS BIGINT) * 3600 AS bucket,
              |       floor((avg(value)) * 1e4 + 0.5) / 1e4 AS avg_value, count(*) AS n
              |FROM sv WHERE series = 'click' AND time >= $T0 AND time < ${T0 + 86400}
              |GROUP BY bucket ORDER BY bucket""".stripMargin)),

    // Per-namespace retention (config.zig:96-105, retention.zig:4-20):
    // click expires after 1 day, every other series keeps its 30-day
    // default — surviving rows per series hash-checked.
    Q("q_ns_retention",
      (s, dir) => {
        val store = privateStore(s, dir, T0, T0 + 2 * 86400)
        graft.storage.Maintenance.applyRetention(store,
          defaultTtlDays = 30, nsTtlDays = Map("click" -> 1L), nowTs = T0 + 2 * 86400)
        store.scan()
          .filter(col("time") >= T0 && col("time") < T0 + 2 * 86400)
          .groupBy("series")
          .agg(count(lit(1)).as("n"), (floor(sum("value") * 1e4 + 0.5) / 1e4).as("sum_v"))
          .orderBy("series")
      },
      Some(s"""$svSql
              |SELECT series, count(*) AS n,
              |       floor((sum(value)) * 1e4 + 0.5) / 1e4 AS sum_v
              |FROM sv
              |WHERE time >= $T0 AND time < ${T0 + 2 * 86400}
              |  AND (series != 'click' OR time >= ${T0 + 86400})
              |GROUP BY series ORDER BY series""".stripMargin)),

    // SYSEG2 export → WAL tail → import → by_id query: gates the binary
    // segment codec, manifest/tags.json, WAL decode and highwater replay
    // (segment.zig, wal.zig:4-156, engine.zig:406-437) in one lifecycle.
    Q("q_export_import_wal",
      (s, dir) => {
        import graft.storage.codec.WalCodec
        val store = rawFixture(s, dir, T0, T0 + 86400, dedup = true)
        val sid = store.scan()
          .filter(col("series") === "click" && col("tags")("user") === "3")
          .select("series_id").head().getLong(0)
        val dest = java.nio.file.Files.createTempDirectory("graft-gate-exp").toString + "/dd"
        graft.storage.SydraImport.exportDataDir(store, dest)
        val walDir = new java.io.File(dest, "wal"); walDir.mkdirs()
        java.nio.file.Files.write(walDir.toPath.resolve("current.wal"), WalCodec.encode(Seq(
          WalCodec.Record(sid, T0, 999.0),                 // ≤ highwater → skipped
          WalCodec.Record(sid, T0 + 86400 + 100, 123.25)))) // tail → applied
        val restored = new graft.storage.SeriesStore(s,
          java.nio.file.Files.createTempDirectory("graft-gate-imp").toString)
        graft.storage.SydraImport.importDataDir(restored, dest)
        Engine.executeOnStore(restored,
          s"select time, value from by_id($sid) where time >= $T0 and time < ${T0 + 2 * 86400} order by time, value",
          CompileOptions(now = NOW)).df
      },
      Some(s"""$svSql
              |SELECT time, value FROM (
              |  SELECT time, max(value) AS value FROM sv
              |  WHERE series = 'click' AND tag_user = '3' AND time >= $T0 AND time < ${T0 + 86400}
              |  GROUP BY time
              |  UNION ALL SELECT CAST(${T0 + 86400 + 100} AS BIGINT), CAST(123.25 AS DOUBLE)
              |)
              |ORDER BY time, value""".stripMargin))
  )
}
