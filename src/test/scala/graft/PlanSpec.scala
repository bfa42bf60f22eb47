package graft

import graft.storage.{Ingest, SeriesStore}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Physical-plan shape checks: the properties that matter at 100 TB.
  * `.explain` output is asserted, not eyeballed.
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  /** `f` with a split size below any cell file's bytes, so every served
    * window takes the Spark merge whose plan the served-plan pins read
    * (`SketchCells.mergePartitions` > 1); the setting is restored after.
    */
  private def onSparkRoute[T](f: => T): T = {
    val key = "spark.sql.files.maxPartitionBytes"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "512")
    try f finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** A cells-only served shape at default settings is answered on the
    * driver: its route, a read set of exactly the window's
    * `sketchcells/<table>/day=<d>` files (no segments path), no Spark job,
    * and the raw compile's answer.
    */
  private def assertDriverServed(store: SeriesStore, ql: String, route: String,
      table: String, days: Seq[Long]): Unit = {
    import graft.sydraql.{CompileOptions, Engine}
    val opts = CompileOptions(now = 0L)
    Engine.executeOnStore(store, ql, opts) // the cell table's metadata loads once
    val ((res, rows), jobs) = TestSpark.jobsDuring {
      val r = Engine.executeOnStore(store, ql, opts)
      (r, r.df.collect().toSeq)
    }
    assert(res.stats.route === route, ql)
    val read = res.stats.served.get
    assert(read.site === "driver", ql)
    val dir = new org.apache.hadoop.fs.Path(
      s"${graft.storage.SketchCells.dirFor(store)}/$table")
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val want = days.flatMap(d => fs.listStatus(new org.apache.hadoop.fs.Path(dir, s"day=$d"))
      .filter(st => st.isFile && !st.getPath.getName.startsWith(".") &&
        !st.getPath.getName.startsWith("_"))
      .map(st => (st.getPath.toString, st.getLen)))
    assert(read.files.sorted === want.sorted, ql)
    assert(read.files.forall { case (f, _) =>
      f.contains(s"sketchcells/$table/day=") && !f.contains("segments") }, ql)
    assert(jobs.isEmpty, s"$ql ran ${jobs.size} jobs: ${jobs.mkString(" | ")}")
    assert(rows === Engine.sql(spark, store.source(), ql, opts).collect().toSeq, ql)
  }

  test("series-bucketed store: group-by-series_id aggregate has NO Exchange") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val store = new SeriesStore(spark, Files.createTempDirectory("graft-bstore").toString,
      seriesBuckets = 4)
    val pts = (0 until 200).map { i =>
      (s"cpu.load.${i % 7}", Map("host" -> s"h${i % 3}"), 1700000000L + i * 60L, i / 10.0)
    }.toDF("series", "tags", "time", "value")
    store.append(pts)
    val agg = store.scan().groupBy("series_id")
      .agg(avg("value").as("a"), count(lit(1)).as("n"))
    val p = agg.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"),
      s"bucketed scan must satisfy HashPartitioning(series_id):\n${p.take(1500)}")
    // and the data round-trips: same per-series aggregate as an unbucketed
    // store over the same points
    val flat = new SeriesStore(spark, Files.createTempDirectory("graft-fstore").toString)
    flat.append(pts)
    // avg rounded: bucketing regroups the partial sums → ulp-level drift
    def agg2(s: SeriesStore) = s.scan().groupBy("series_id")
      .agg((floor(avg("value") * 1e6 + 0.5) / 1e6).as("a"), count(lit(1)).as("n"))
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    assert(agg2(store) === agg2(flat))
  }

  test("q_store_bucketed_series_agg gate plan: series-keyed aggregate has no hash Exchange") {
    val df = SparkEntry.queries("q_store_bucketed_series_agg")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // the bucketed scan must satisfy the aggregate's distribution — the
    // only allowed Exchange is the final ORDER BY's rangepartitioning
    // over the (tiny) per-series result
    assert(!p.contains("Exchange hashpartitioning"),
      s"series-keyed agg over the bucketed store must not shuffle:\n${p.take(1500)}")
  }

  test("q_store_bucketed_join gate plan: stats agg + merge join + rollup share one partitioning") {
    val df = SparkEntry.queries("q_store_bucketed_join")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin"), s"merge hint must hold:\n${p.take(1500)}")
    // scan → per-series stats → co-located join → series-keyed rollup,
    // all on the bucketed HashPartitioning(series_id); only the final
    // ORDER BY's rangepartitioning over the per-series result may move rows
    assert(!p.contains("Exchange hashpartitioning"),
      s"co-located bucketed join must not shuffle:\n${p.take(2000)}")
  }

  test("filters are pushed to the parquet scan") {
    val p = plan("q_scan_filter_project")
    assert(p.contains("PushedFilters:"), p.take(500))
    assert(p.contains("GreaterThan(l_quantity,45"), "l_quantity filter should reach parquet")
  }

  test("column pruning: scan reads only needed columns") {
    val p = plan("q_scan_filter_project")
    val readSchema = p.linesIterator.find(_.trim.startsWith("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_comment") && !readSchema.contains("l_tax"),
      s"scan should prune unused columns: $readSchema")
  }

  test("small-dimension join broadcasts") {
    val p = plan("q_join_broadcast")
    assert(p.contains("BroadcastHashJoin"), p.take(800))
  }

  test("adaptiveJoin: small right broadcasts, skewed left salts, balanced goes plain — outputs identical") {
    import org.apache.spark.sql.functions._
    import graft.operators.AdaptiveJoin
    // skewed fact: 90% of rows on one hot key
    val skewed = spark.range(10000).select(
      when(col("id") % 10 === 0, concat(lit("k"), col("id") % 100))
        .otherwise(lit("hot")).as("k"),
      col("id").as("v"))
    val balanced = spark.range(10000).select(
      concat(lit("k"), col("id") % 5000).as("k"), col("id").as("v"))
    val dim = spark.range(5000).select(
      concat(lit("k"), col("id") % 5000).as("k"), lit(1.0).as("w"))
      .unionByName(spark.range(1).select(lit("hot").as("k"), lit(2.0).as("w")))
    // branch 1: right under the row threshold → broadcast-hint join
    val b = AdaptiveJoin.join(skewed, dim, Seq("k"))
    assert(b.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
      "small right must broadcast")
    // branch 2: right over the (forced-low) threshold + skewed left → the
    // salted layout must be visible in the optimized plan's join keys
    val s = AdaptiveJoin.join(skewed, dim, Seq("k"),
      spread = col("v"), broadcastRowThreshold = 10)
    assert(s.queryExecution.optimizedPlan.toString.contains("__salt"),
      "skewed fixture must plan the salted layout")
    // branch 3: balanced left, big right → plain join: no salt column and
    // no explicit broadcast hint (Catalyst may still pick broadcast from
    // byte stats — the DECISION layer must not have forced anything)
    val p = AdaptiveJoin.join(balanced, dim, Seq("k"), broadcastRowThreshold = 10)
    assert(!p.queryExecution.optimizedPlan.toString.contains("__salt"))
    assert(!p.queryExecution.analyzed.toString.contains("ResolvedHint"))
    // output invariance: all three branches must be the same relation
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.toString).toSeq
    assert(rows(s) === rows(skewed.join(dim, Seq("k"))),
      "salted branch must equal the plain join")
    assert(rows(b) === rows(s), "broadcast and salted branches must agree")
  }

  test("adaptiveJoin probe is bounded and the default spread survives map columns + clone rows") {
    import org.apache.spark.sql.functions._
    import graft.operators.AdaptiveJoin
    // the broadcast probe must carry a GlobalLimit — never a full count
    // of a (potentially 100 TB) right side
    val big = spark.range(100000).selectExpr("cast(id % 97 as string) k", "id v")
    val probePlan = AdaptiveJoin.broadcastProbe(big, 10)
      .queryExecution.optimizedPlan.toString
    assert(probePlan.contains("GlobalLimit"),
      s"probe must be a bounded limit scan:\n$probePlan")
    // left with a MAP column and full-row duplicate hot-key rows: the
    // default spread must not fail analysis (Spark disallows hashing
    // maps) and the salted branch must still return the plain join's rows
    val leftMap = spark.range(400).select(
      when(col("id") % 4 === 0, concat(lit("k"), col("id"))).otherwise(lit("hot")).as("k"),
      map(lit("a"), lit("b")).as("tags"))
    val right = spark.range(30).select(
      lit("hot").as("k"), col("id").as("w"))
    val out = AdaptiveJoin.join(leftMap, right, Seq("k"),
      broadcastRowThreshold = 5, skewShareThreshold = 0.2, salts = 4)
    assert(out.queryExecution.optimizedPlan.toString.contains("__salt"),
      "clone-heavy hot key must take the salted branch")
    assert(out.count() === 300L * 30L,
      "salted output must equal the plain join (300 hot rows x 30 right rows)")
  }

  test("q_join_adaptive gate plan: the pre-flight measures the dim small and broadcasts") {
    val p = plan("q_join_adaptive")
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("__salt"))
  }

  test("top-K compiles to TakeOrderedAndProject (no global sort)") {
    val p = plan("q_topk")
    assert(p.contains("TakeOrderedAndProject"), p.take(800))
  }

  test("aggregation is partial+final hash aggregate (map-side combine)") {
    val p = plan("q_pricing_summary")
    assert(p.contains("HashAggregate"))
    assert(p.contains("partial_sum") || p.contains("partial_avg"), "expect partial aggregation")
  }

  test("whole-stage codegen covers the aggregation pipeline") {
    // AQE finalizes the plan on execution; WholeStageCodegen spans print
    // as *(N) prefixes in the executed plan
    val df = SparkEntry.queries("q_pricing_summary")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("*("), p.take(800))
  }

  test("pair-generation queries never plan a nested-loop join") {
    // the O(n²) scale-killers from round 2: candidate generation must be a
    // hash/sort-merge equi-join (banding / triangle blocking), never a
    // BroadcastNestedLoopJoin or CartesianProduct
    for (q <- Seq("q_pl_simhash", "q_pl_cos_pairs", "q_pl_cos_pairs_lsh",
        "q_pl_ngram_jaccard", "q_pl_minhash_lsh")) {
      val p = plan(q)
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q plans a nested-loop join")
      assert(!p.contains("CartesianProduct"), s"$q plans a cartesian product")
    }
  }

  test("as-of and range joins never plan a nested-loop join") {
    // the whole point of the union-tag scan (as-of) and bucket-exploded
    // equi-join (range): an inequality condition must never reach the
    // join operator
    for (q <- Seq("q_ts_asof", "q_ts_asof_tol", "q_ts_range_join",
        "q_ts_align_join", "q_ts_corr")) {
      val p = plan(q)
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q plans a nested-loop join")
      assert(!p.contains("CartesianProduct"), s"$q plans a cartesian product")
    }
  }

  test("decontamination corpus pass is a broadcast semi-join (no corpus shuffle)") {
    val p = plan("q_pl_decontam")
    assert(p.contains("BroadcastHashJoin LeftSemi"), "benchmark side must broadcast")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
  }

  test("packing's prefix-sum windows are partitioned (no global single-partition window)") {
    val p = plan("q_pl_pack")
    assert(p.contains("windowspecdefinition(__pid"),
      "the running sum must window per range-partition, not globally")
    assert(!p.contains("windowspecdefinition(time"), "no unpartitioned ordering window")
  }

  test("ANN top-k rank filters get the window-group-limit pushdown (map-side top-k)") {
    // rank<=k over the scored candidates must prune per-partition BEFORE
    // the q_id shuffle — without WindowGroupLimit every (q_id, vec_id, cos)
    // row of the corpus moves to one task per query; same for TF-IDF's
    // per-doc term rank
    for (q <- Seq("q_ann_brute", "q_ann_quant", "q_pl_tfidf")) {
      val p = plan(q)
      assert(p.contains("WindowGroupLimit"), s"$q should plan WindowGroupLimit")
    }
  }

  test("per-stratum cap ranks get the group-limit pushdown in both phases") {
    // WindowGroupLimit prunes each window partition to the top-n while
    // sorting — without it the rank materializes every row per stratum
    val p = plan("q_pl_cap")
    assert("WindowGroupLimit".r.findAllIn(p).size >= 2, p.linesIterator.take(30).mkString("\n"))
  }

  test("ungrouped integral/irate pre-pass windows are day-partitioned (no single-partition sort of the scan)") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    val df = SparkEntry.queries("q_sql_integral_global")(spark, sf)
    val wins = df.queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(wins.nonEmpty, "expected window pre-pass nodes")
    // windows over the raw scan (no Aggregate below them) carry the full
    // point volume — they must be partitioned; only the per-day boundary
    // frames (above an Aggregate, ≤ one row per day) may be unpartitioned
    val rawScanWins = wins.filter(w => w.child.collectFirst { case a: Aggregate => a }.isEmpty)
    assert(rawScanWins.nonEmpty, "expected lag/rank windows over the scan")
    rawScanWins.foreach { w =>
      assert(w.partitionSpec.nonEmpty,
        s"window over the raw scan must not be single-partition: $w")
    }
  }

  test("tag-grouped integral/irate windows partition by (tag, day) — not the tag alone") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    val df = SparkEntry.queries("q_sql_integral_by_tag")(spark, sf)
    val wins = df.queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(wins.nonEmpty, "expected keyed window pre-pass nodes")
    // a pure tag group spans the whole time range: a window partitioned by
    // the tag alone would hold the tag's entire history in one task. The
    // full-volume windows must carry BOTH the key and the day column; only
    // the per-(tag, day) boundary frames (above an Aggregate, ≤ one row
    // per tag-day) may partition by the key alone
    wins.foreach { w =>
      assert(w.partitionSpec.nonEmpty, s"unpartitioned window in plan: $w")
      if (w.partitionSpec.size < 2)
        assert(w.child.collectFirst { case a: Aggregate => a }.isDefined,
          s"key-only window must be over a per-day aggregate frame: $w")
    }
  }

  test("scalar window functions are day-partitioned (lag/lead/moving_avg/fill_forward pre-pass)") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    val df = SparkEntry.queries("q_sql_window_fns")(spark, sf)
    val wins = df.queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(wins.nonEmpty, "expected SeriesWindows pre-pass nodes")
    // the full-volume windows partition by BOTH series_id and the day key;
    // only the per-day boundary frames (sitting above an Aggregate, ≤ one
    // row per series-day) may partition by series_id alone — and nothing
    // may run an unpartitioned window
    wins.foreach { w =>
      assert(w.partitionSpec.nonEmpty, s"unpartitioned window in plan: $w")
      if (w.partitionSpec.size < 2)
        assert(w.child.collectFirst { case a: Aggregate => a }.isDefined,
          s"series-only window must be over a per-day aggregate frame: $w")
    }
    assert(wins.exists(_.partitionSpec.size >= 2),
      "expected (series_id, day)-partitioned full-volume windows")
  }

  test("sydraQL time predicates prune store partitions (hour_bucket)") {
    val store = new SeriesStore(spark, Files.createTempDirectory("graft-plan").toString)
    Ingest.batch(store, {
      val d = Files.createTempDirectory("graft-plan-nd")
      Files.write(d.resolve("in.ndjson"),
        (0 until 50).map(i => s"""{"series":"m","ts":${i * 600},"value":$i}""").mkString("\n").getBytes)
      d.toString
    })
    assert(store.partitions().size > 1)
    val df = store.scanRange(0, 3599)
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // partition filters on hour_bucket must be in the scan node (these are
    // evaluated against the partition index, never touching file contents),
    // and the time bounds must be pushed to parquet for row-group pruning
    val scanSection = p.linesIterator.dropWhile(l => !l.contains("Scan parquet")).take(12).mkString("\n")
    assert(scanSection.contains("PartitionFilters") && scanSection.contains("hour_bucket"), p.take(1200))
    assert(p.contains("GreaterThanOrEqual(time,0"), "time lower bound should reach parquet")
    // and the pruned result is correct: only hour 0 rows survive
    assert(df.count() === 6) // ts = 0, 600, ..., 3000
  }

  test("manifest-routed engine scan reads only surviving files (by_id + time bounds)") {
    import org.apache.spark.sql.functions.{col, lit, map}
    import spark.implicits._
    val store = new SeriesStore(spark, Files.createTempDirectory("graft-skiprt").toString)
    // 8 hour partitions, one series per file via two appends
    def pts(series: String) =
      (0 until 8).map(h => (series, h * 3600L + 5, h.toDouble)).toDF("series", "time", "value")
        .withColumn("tags", map(lit("host"), lit(series)))
        .select("series", "tags", "time", "value")
    def sidOf(name: String) = spark.range(1).select(graft.core.Functions.seriesId(
      lit(name), map(lit("host"), lit(name))).as("s")).head().getLong(0)
    // by_id takes an unsigned literal — pick a probe series with a
    // non-negative 64-bit id
    val probeName = Seq("cpu", "mem", "disk", "net", "io0", "gpu")
      .find(sidOf(_) >= 0).get
    store.append(pts(probeName)); store.append(pts("other"))
    graft.storage.SkipIndex.build(store, graft.storage.SkipIndex.dirFor(store))
    val sid = sidOf(probeName)
    val df = graft.sydraql.Engine.executeOnStore(store,
      s"select time, value from by_id($sid) where time >= 3600 and time <= 7300",
      graft.sydraql.CompileOptions(now = 0L)).df
    // 16 data files total; time overlap keeps hours 1-2 (4 files), the
    // series bloom then drops the mem file in each → the SCAN's input is
    // exactly 2 files — the listing/footer round-trips a 100 TB probe
    // never pays
    assert(df.inputFiles.length === 2,
      s"routed scan must read exactly the 2 surviving files, got ${df.inputFiles.length}")
    assert(df.orderBy("time").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      === Seq((3605L, 1.0), (7205L, 2.0)))
  }

  test("sketch-cell rollup routing: served plan reads pruned cell partitions, never raw points; misaligned windows fall through") {
    import org.apache.spark.sql.functions.{col, lit, map}
    import spark.implicits._
    val store = new SeriesStore(spark, Files.createTempDirectory("graft-cells").toString)
    // 6 days of points, 4/day
    val pts = (0 until 24).map(i => ("cpu", i.toLong * 21600L, i.toDouble))
      .toDF("series", "time", "value")
      .withColumn("tags", map(lit("host"), lit("a")))
      .select("series", "tags", "time", "value")
    store.append(pts)
    graft.storage.SketchCells.build(store, graft.storage.SketchCells.dirFor(store))
    // at default settings the day-aligned cells-only shapes below merge on
    // the driver
    val d = 86400L
    val w12 = s"where time >= $d and time < ${3 * d}"
    Seq(s"select percentile_approx(value, 0.5) as p50a from cpu $w12",
      s"select avg(value) as av, count() as n $w12",
      "select avg(value) as av, sum(value) as sv, count() as n, count(value) as nv, " +
        s"min(value) as mn, max(value) as mx from cpu $w12",
      s"select percentile_approx(value, 0.5) as p, avg(value) as av from cpu $w12",
      s"select first(value) as fv, last(value) as lv from cpu $w12",
      s"select delta(value) as dv, rate(value) as rv from cpu $w12").foreach { ql =>
      assertDriverServed(store, ql, "served:cells:td", "td", Seq(d, 2 * d))
    }
    Seq("select time_bucket(86400, time) as b, avg(value) as av " +
        s"from cpu where time >= 0 and time < ${6 * d} " +
        "group by time_bucket(86400, time) order by b desc limit 2",
      "select time_bucket(172800, time) as b, percentile_approx(value, 0.5) as p50a " +
        s"from cpu where time >= 0 and time < ${6 * d} group by time_bucket(172800, time) order by b",
      "select time_bucket(172800, time, 86400) as b, avg(value) as av " +
        s"from cpu where time >= 0 and time < ${6 * d} " +
        "group by time_bucket(172800, time, 86400) order by b").foreach { ql =>
      assertDriverServed(store, ql, "served:cells:td", "td", (0 until 6).map(_ * d))
    }
    // EXPLAIN of a driver merge names the cell table and the days it reads
    val dex = graft.sydraql.Engine.executeOnStore(store,
      s"explain select percentile_approx(value, 0.5) as p50a from cpu $w12",
      graft.sydraql.CompileOptions(now = 0L)).df.head().getString(0)
    assert(dex.contains("Driver cell merge") && dex.contains("sketchcells/td [day=86400, day=172800]") &&
      !dex.contains("segments"), dex.take(1200))
    // the plan pins below read the Spark merge's plan
    onSparkRoute {
      def planOf(ql: String) = {
        val df = graft.sydraql.Engine.executeOnStore(store, ql,
          graft.sydraql.CompileOptions(now = 0L)).df
        (df, df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
      }
      // day-aligned 2-day window over 6 days of cells → served from the
      // cell store: day PartitionFilters, 2 of 6 day partitions read, the
      // raw segments path absent from the plan entirely
      val (df, p) = planOf(
        s"select percentile_approx(value, 0.5) as p50a from cpu where time >= 86400 and time < ${3 * 86400}")
      assert(p.contains("sketchcells"), p.take(1200))
      assert(!p.contains("segments"), "served plan must not touch the raw store:\n" + p.take(1200))
      // both day bounds sit in the scan's PartitionFilters — evaluated
      // against the partition index, so 2 of the 6 day dirs are read
      // (inputFiles can't show this: it lists the relation pre-pruning)
      val pf = p.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
      assert(pf.contains("day") && pf.contains("86400") && pf.contains("259200"),
        s"day bounds must prune cell partitions: $pf")
      // the estimate agrees with the raw route's error contract: exact p50
      // of days 1-2 values (4..11) is 7.5; the digest over 8 points is exact
      assert(df.head().getDouble(0) === 7.5)
      // HOUR-aligned (not day-aligned) window → HYBRID (r14): the interior
      // whole day [172800, 259200) comes from cells, the ragged leading
      // edge [90000, 172800) from an hour-pruned raw scan aggregated into
      // the same partial shapes — the plan carries BOTH paths, and the
      // segments scan is hour_bucket-pruned to the edge
      val (hdf, praw) = planOf(
        s"select percentile_approx(value, 0.5) as p50a from cpu where time >= ${86400 + 3600} and time < ${3 * 86400}")
      assert(praw.contains("sketchcells") && praw.contains("segments"),
        "ragged window must serve hybrid (cells + edge scan):\n" + praw.take(1200))
      val epf = praw.linesIterator.filter(_.contains("PartitionFilters"))
        .find(_.contains("hour_bucket")).getOrElse("")
      assert(epf.nonEmpty, s"edge scan must be hour_bucket-pruned:\n$praw")
      // points i*21600 for i in 5..11 survive the window: p50 of 5..11 = 8
      // (7 points — the digest is exact), bit-equal to the raw route
      assert(hdf.head().getDouble(0) === 8.0)
      // with a skip manifest present the edges route through its explicit
      // edge-hour file list (no full segments listing at plan time — the
      // ScaleBench-measured 2×~8 s saving) and the answer is unchanged
      graft.storage.SkipIndex.build(store, graft.storage.SkipIndex.dirFor(store))
      val (hdf2, praw2) = planOf(
        s"select percentile_approx(value, 0.5) as p50a from cpu where time >= ${86400 + 3600} and time < ${3 * 86400}")
      assert(praw2.contains("sketchcells") && praw2.contains("segments"),
        "manifest-routed hybrid still reads cells + edge files:\n" + praw2.take(1200))
      assert(hdf2.head().getDouble(0) === 8.0)
      // a ragged window with NO whole interior day (all edge) → raw route
      val (_, nid) = planOf(
        s"select percentile_approx(value, 0.5) as p50a from cpu where time >= 3600 and time < 90000")
      assert(nid.contains("segments") && !nid.contains("sketchcells"),
        "a window with no interior day must fall through to raw:\n" + nid.take(800))
      // r17 crossover: an interior day exists, but the edges (23 h + 23 h)
      // are wider than it — the hybrid would scan more than half the
      // window raw and cannot beat the raw route it wraps → raw
      val (_, edgy) = planOf(
        s"select percentile_approx(value, 0.5) as p50a from cpu " +
          s"where time >= ${86400 + 3600} and time < ${4 * 86400 - 3600}")
      assert(edgy.contains("segments") && !edgy.contains("sketchcells"),
        "an edge-dominated window must fall through to raw:\n" + edgy.take(800))
      // all-series (FROM-less) shape serves from cells alone (r14): the
      // fleet-wide dashboard merge across series — here one series, but the
      // plan must be cells-only and the bounds must prune
      val (sdf, sp) = planOf(
        s"select avg(value) as av, count() as n where time >= 86400 and time < ${3 * 86400}")
      assert(sp.contains("sketchcells") && !sp.contains("segments"),
        "all-series day-aligned window must serve cells-only:\n" + sp.take(800))
      assert(sdf.head().getDouble(0) === 7.5 && sdf.head().getLong(1) === 8L)
      // LIMIT on a served shape (r14 fix — it was silently dropped):
      // ORDER BY covers the one group key → total order → served WITH the
      // limit applied (2 rows, not 6); an UNORDERED grouped limit's
      // tie-breaking belongs to the raw route → falls through
      val (ldf2, lp2) = planOf(
        "select time_bucket(86400, time) as b, avg(value) as av " +
          s"from cpu where time >= 0 and time < ${6 * 86400} " +
          "group by time_bucket(86400, time) order by b desc limit 2")
      assert(lp2.contains("sketchcells") && !lp2.contains("segments"),
        "total-order limit must stay served:\n" + lp2.take(800))
      assert(ldf2.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        === Seq((5 * 86400L, 21.5), (4 * 86400L, 17.5)))
      val (_, lnp) = planOf(
        "select time_bucket(86400, time) as b, avg(value) as av " +
          s"from cpu where time >= 0 and time < ${6 * 86400} " +
          "group by time_bucket(86400, time) limit 2")
      assert(lnp.contains("segments"),
        "unordered grouped limit must fall through to raw:\n" + lnp.take(800))
      // r14: the REVERSED conjunct order (`time < HI and time >= LO`) is the
      // same day-aligned window — must serve, not fall through
      val (rdf, rp) = planOf(
        s"select percentile_approx(value, 0.5) as p50a from cpu where time < ${3 * 86400} and time >= 86400")
      assert(rp.contains("sketchcells") && !rp.contains("segments"),
        "reversed conjunct order must still serve from cells:\n" + rp.take(800))
      assert(rdf.head().getDouble(0) === 7.5)
      // an EXTRA conjunct the cells can't answer → raw route, right answer
      val (_, xp) = planOf(
        s"select percentile_approx(value, 0.5) as p50a from cpu where time >= 86400 and time < ${3 * 86400} and value >= 5")
      assert(xp.contains("segments"),
        "extra conjuncts must fall through to raw:\n" + xp.take(800))
      // GROUP BY time_bucket with a DAY-MULTIPLE step coarsens the day
      // cells → still served (2-day buckets from 1-day blobs), pruned the
      // same way; values follow the rollup math exactly (days 0-5 values
      // 4/day: bucket0 p50 over 0..7 = 3.5, bucket1 over 8..15 = 11.5,
      // bucket2 over 16..23 = 19.5)
      val (bdf, bp) = planOf(
        "select time_bucket(172800, time) as b, percentile_approx(value, 0.5) as p50a " +
          s"from cpu where time >= 0 and time < ${6 * 86400} " +
          "group by time_bucket(172800, time) order by b")
      assert(bp.contains("sketchcells") && !bp.contains("segments"),
        "day-multiple bucket query must serve from cells:\n" + bp.take(800))
      assert(bdf.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        === Seq((0L, 3.5), (172800L, 11.5), (345600L, 19.5)))
      // fill(...) on a served bucketed shape stays served (r14): fill is
      // post-aggregation, so the cells-only plan gains only the spine
      // join — never a raw rescan (this fixture is dense, so the values
      // are the unfilled ones; the gate pins real gap semantics)
      val (fdf2, fp2) = planOf(
        "select time_bucket(172800, time) as b, avg(value) as av " +
          s"from cpu where time >= 0 and time < ${6 * 86400} " +
          "group by time_bucket(172800, time) fill(previous) order by b")
      assert(fp2.contains("sketchcells") && !fp2.contains("segments"),
        "filled bucketed query must serve from cells:\n" + fp2.take(800))
      assert(fdf2.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        === Seq((0L, 3.5), (172800L, 11.5), (345600L, 19.5)))
      // 3-arg time_bucket with a DAY-ALIGNED origin serves (bucket
      // boundaries stay on day boundaries): origin=day1 over days 0-5 at
      // 2-day steps → buckets {-2d:[d0], 0d:[d1,d2], 2d:[d3,d4], 4d:[d5]}
      // relative to origin 86400 — values 0..3 / 4..11 / 12..19 / 20..23
      val (odf, op) = planOf(
        "select time_bucket(172800, time, 86400) as b, avg(value) as av " +
          s"from cpu where time >= 0 and time < ${6 * 86400} " +
          "group by time_bucket(172800, time, 86400) order by b")
      assert(op.contains("sketchcells") && !op.contains("segments"),
        "day-aligned-origin bucket must serve from cells:\n" + op.take(800))
      assert(odf.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        === Seq((-86400L, 1.5), (86400L, 7.5), (259200L, 15.5), (432000L, 21.5)))
      // a sub-day origin breaks day containment → raw route
      val (_, onp) = planOf(
        "select time_bucket(172800, time, 3600) as b, avg(value) as av " +
          s"from cpu where time >= 0 and time < ${6 * 86400} " +
          "group by time_bucket(172800, time, 3600) order by b")
      assert(onp.contains("segments"),
        "sub-day origin must fall through to raw:\n" + onp.take(800))
      // a NON-day-multiple step (hourly buckets) cannot → raw route
      val (_, hb) = planOf(
        "select time_bucket(3600, time) as b, percentile_approx(value, 0.5) as p50a " +
          s"from cpu where time >= 0 and time < ${6 * 86400} " +
          "group by time_bucket(3600, time) order by b")
      assert(hb.contains("segments"), "sub-day buckets must read raw:\n" + hb.take(800))
      // EXPLAIN of a served query shows the SERVED plan, not the raw route
      val ex = graft.sydraql.Engine.executeOnStore(store,
        s"explain select percentile_approx(value, 0.5) as p50a from cpu " +
          s"where time >= 86400 and time < ${3 * 86400}",
        graft.sydraql.CompileOptions(now = 0L)).df.head().getString(0)
      assert(ex.contains("sketchcells") && !ex.contains("segments"),
        "EXPLAIN must describe the served plan:\n" + ex.take(600))
      // r14: basic aggregates serve EXACTLY from the cells' mergeable
      // partials — same day pruning, raw segments path absent. Days 1-2
      // hold values 4..11: avg 7.5, sum 60, n 8, min 4, max 11.
      val (adf, ap) = planOf(
        "select avg(value) as av, sum(value) as sv, count() as n, " +
          "count(value) as nv, min(value) as mn, max(value) as mx " +
          s"from cpu where time >= 86400 and time < ${3 * 86400}")
      assert(ap.contains("sketchcells") && !ap.contains("segments"),
        "basic aggregates must serve from cells:\n" + ap.take(800))
      val ar = adf.head()
      assert(ar.getDouble(0) === 7.5 && ar.getDouble(1) === 60.0 &&
        ar.getLong(2) === 8L && ar.getLong(3) === 8L &&
        ar.getDouble(4) === 4.0 && ar.getDouble(5) === 11.0)
      // mixed basic + quantile projections share ONE merge aggregate
      val (mdf, mp) = planOf(
        "select percentile_approx(value, 0.5) as p, avg(value) as av " +
          s"from cpu where time >= 86400 and time < ${3 * 86400}")
      assert(mp.contains("sketchcells") && !mp.contains("segments"),
        "mixed projections must serve from cells:\n" + mp.take(800))
      assert(mdf.head().getDouble(1) === 7.5)
      // first/last serve from the struct partials: days 1-2 run values
      // 4..11 at times 4·21600..11·21600 — first 4.0, last 11.0
      val (fldf, flp) = planOf(
        "select first(value) as fv, last(value) as lv " +
          s"from cpu where time >= 86400 and time < ${3 * 86400}")
      assert(flp.contains("sketchcells") && !flp.contains("segments"),
        "first/last must serve from cells:\n" + flp.take(800))
      assert(fldf.head().getDouble(0) === 4.0 && fldf.head().getDouble(1) === 11.0)
      // delta/rate from the null-skipping extremes: values 4..11 over
      // 7 × 21600 s → delta 7, rate 7/151200 (bit-exact vs the raw route)
      val (drdf, drp) = planOf(
        "select delta(value) as dv, rate(value) as rv " +
          s"from cpu where time >= 86400 and time < ${3 * 86400}")
      assert(drp.contains("sketchcells") && !drp.contains("segments"),
        "delta/rate must serve from cells:\n" + drp.take(800))
      assert(drdf.head().getDouble(0) === 7.0 &&
        drdf.head().getDouble(1) === 7.0 / 151200.0)
      // a PRE-r14 cell store (no basic-partial columns) falls through to
      // raw for basic aggregates — correct, just unserved — while
      // quantiles keep serving from the remaining td blobs
      val cellDir = graft.storage.SketchCells.dirFor(store)
      val legacy = spark.read.parquet(s"$cellDir/td")
        .drop("sum_v", "min_v", "max_v", "n_vals").cache()
      legacy.count()
      legacy.write.mode("overwrite").partitionBy("day").parquet(s"$cellDir/td")
      legacy.unpersist()
      val (ldf, lp) = planOf(
        s"select avg(value) as av from cpu where time >= 86400 and time < ${3 * 86400}")
      assert(lp.contains("segments"),
        "basic agg on a pre-r14 cell store must fall through to raw:\n" + lp.take(800))
      assert(ldf.head().getDouble(0) === 7.5)
      val (_, lq) = planOf(
        s"select percentile_approx(value, 0.5) as p from cpu where time >= 86400 and time < ${3 * 86400}")
      assert(lq.contains("sketchcells") && !lq.contains("segments"),
        "quantiles must still serve from a pre-r14 store:\n" + lq.take(800))
    }
  }

  test("small-store served plans merge the day cells with no Exchange; a smaller split size keeps the parallel plan") {
    import org.apache.spark.sql.functions.{col, lit, map, when}
    import spark.implicits._
    val store = new SeriesStore(spark, Files.createTempDirectory("graft-cellsplit").toString)
    // 6 days of points, 4/day, alternating hosts a and b
    store.append((0 until 24).map(i => ("cpu", i.toLong * 21600L, i.toDouble))
      .toDF("series", "time", "value")
      .withColumn("tags", map(lit("host"),
        when(col("value").cast("long") % 2 === 0, lit("a")).otherwise(lit("b"))))
      .select("series", "tags", "time", "value"))
    graft.storage.SketchCells.build(store, graft.storage.SketchCells.dirFor(store),
      groupTags = Seq("host"))
    val shapes = Seq(
      "td" -> (s"select avg(value) as av, count() as n from cpu " +
        s"where time >= 86400 and time < ${3 * 86400}", Seq("86400", "259200")),
      "tdtag" -> ("select tag.host as h, avg(value) as av, max(value) as mx from cpu " +
        s"where time >= 0 and time < ${2 * 86400} group by tag.host order by h",
        Seq("172800")),
      "bucket" -> ("select time_bucket(172800, time) as b, avg(value) as av, count() as n " +
        s"from cpu where time >= 0 and time < ${6 * 86400} " +
        "group by time_bucket(172800, time) order by b", Seq("518400")))
    // a few KB of cells fit one split: the driver merges them, with no
    // plan to exchange in and no job
    val days = Map("td" -> Seq(1L, 2L), "tdtag" -> Seq(0L, 1L), "bucket" -> (0L until 6L))
    shapes.foreach { case (name, (ql, _)) =>
      assertDriverServed(store, ql, if (name == "tdtag") "served:cells:tdtag" else "served:cells:td",
        if (name == "tdtag") "tdtag/host" else "td", days(name).map(_ * 86400L))
    }
    // a split size below the cells' bytes: the scan's parallel plan and
    // the merge's Exchange stay, served cells-only, day-pruned, and equal
    // to the raw route
    onSparkRoute(shapes.foreach { case (name, (ql, bounds)) =>
      val df = graft.sydraql.Engine.executeOnStore(store, ql,
        graft.sydraql.CompileOptions(now = 0L)).df
      val p = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      assert(p.contains("sketchcells") && !p.contains("segments"), s"$name:\n" + p.take(1200))
      assert(p.contains("Exchange"), s"$name:\n$p")
      val pf = p.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
      assert(pf.contains("day") && bounds.forall(pf.contains),
        s"$name: day bounds must prune cell partitions: $pf")
      assert(df.collect().toSeq === graft.sydraql.Engine.sql(spark, store.source(), ql,
        graft.sydraql.CompileOptions(now = 0L)).collect().toSeq, name)
    })
  }

  test("every served cells shape answers the same schema and rows from the driver merge as from the Spark merge") {
    import graft.sydraql.{CompileOptions, Engine}
    import org.apache.spark.sql.functions.{col, lit, map, when}
    import spark.implicits._
    val store = new SeriesStore(spark, Files.createTempDirectory("graft-cellmatrix").toString)
    val d = 86400L
    // cpu: 6 days, 4 points/day, hosts a and b; mem: the same times, every
    // third point untagged (a NULL tagval) and every fifth value NULL
    val cpu = (0 until 24).map(i => ("cpu", i.toLong * 21600L, Option(i.toDouble), Option(if (i % 2 == 0) "a" else "b")))
    val mem = (0 until 24).map(i => ("mem", i.toLong * 21600L,
      if (i % 5 == 0) None else Some(i * 1.5), if (i % 3 == 0) None else Some(if (i % 2 == 0) "a" else "b")))
    store.append((cpu ++ mem).toDF("series", "time", "value", "host")
      .withColumn("tags", when(col("host").isNull, map().cast("map<string,string>"))
        .otherwise(map(lit("host"), col("host"))))
      .select("series", "tags", "time", "value"))
    graft.storage.SketchCells.build(store, graft.storage.SketchCells.dirFor(store),
      ndvTags = Seq("host"), groupTags = Seq("host"))
    val sid = store.catalog().filter(col("series") === "cpu").head().getLong(1)
    val byId = if (sid >= 0) s"by_id($sid)" else "cpu"
    val w = s"where time >= $d and time < ${5 * d}"
    val all = s"where time >= 0 and time < ${6 * d}"
    val basic = "avg(value) as av, sum(value) as sv, count() as n, count(value) as nv, " +
      "min(value) as mn, max(value) as mx, first(value) as fv, last(value) as lv, " +
      "delta(value) as dv, rate(value) as rv, percentile_approx(value, 0.5) as p"
    val shapes = Seq(
      s"select $basic from cpu $w",
      s"select $basic from mem $w",
      s"select avg(value) as av, count() as n from $byId $w",
      s"select avg(value) as av, count() as n, ndv(tag.host) as nh $w",
      s"select $basic from cpu $w and tag.host = 'a'",
      s"select time_bucket(172800, time) as b, $basic from mem $all " +
        "group by time_bucket(172800, time) order by b desc limit 2 offset 1",
      s"select time_bucket(172800, time, 86400) as b, avg(value) as av from cpu $all " +
        "group by time_bucket(172800, time, 86400) order by b",
      s"select tag.host as h, $basic from mem $w group by tag.host order by h",
      s"select tag.host as h, avg(value) as av, count() as n from mem $w group by tag.host order by h desc",
      s"select tag.host as h, ndv(tag.host) as nh, count(value) as nv from mem $w group by tag.host",
      s"select time_bucket(172800, time) as b, tag.host as h, percentile_approx(value, 0.9) as p " +
        s"from mem $all group by time_bucket(172800, time), tag.host order by b, h limit 4")
    val opts = CompileOptions(now = 0L)
    def answer(ql: String) = {
      val res = Engine.executeOnStore(store, ql, opts)
      (res.stats.served.map(_.site), res.df.schema, res.df.collect().toSeq)
    }
    shapes.foreach { ql =>
      val (site, schema, rows) = answer(ql)
      val (sparkSite, sparkSchema, sparkRows) = onSparkRoute(answer(ql))
      assert((site, sparkSite) === ((Some("driver"), Some("spark"))), ql)
      assert(schema === sparkSchema, ql)
      // a grouped shape without ORDER BY has no row order to compare
      if (ql.contains("order by") || !ql.contains("group by")) assert(rows === sparkRows, ql)
      else assert(rows.toSet === sparkRows.toSet, ql)
    }
    // no cell in the window (0 bytes fit any split, so only the driver
    // answers): one row for a global aggregate, none grouped — the raw
    // route's answers
    val none = s"where time >= ${10 * d} and time < ${12 * d}"
    Seq(s"select avg(value) as av, count() as n, count(value) as nv from cpu $none",
      s"select tag.host as h, count() as n from cpu $none group by tag.host order by h").foreach { ql =>
      val (site, _, rows) = answer(ql)
      assert(site === Some("driver"), ql)
      assert(rows === Engine.sql(spark, store.source(), ql, opts).collect().toSeq, ql)
    }
    assert(answer(s"select count() as n from cpu $none")._3.map(_.getLong(0)) === Seq(0L))
    // the untagged cells group under a NULL host, first ascending, last descending
    assert(answer(shapes(7))._3.map(r => Option(r.getString(0))) === Seq(None, Some("a"), Some("b")))
    assert(answer(shapes(8))._3.map(r => Option(r.getString(0))) === Seq(Some("b"), Some("a"), None))
  }

  test("tag-grouped quantile and bucketed ndv serve from cell tiers, day-pruned; ndv-under-tag serves from theta cells") {
    import org.apache.spark.sql.functions.{col, lit, map, when}
    import spark.implicits._
    val store = new SeriesStore(spark, Files.createTempDirectory("graft-tagcells").toString)
    val pts = (0 until 24).map(i => ("cpu", i.toLong * 21600L, i.toDouble))
      .toDF("series", "time", "value")
      .withColumn("tags", map(lit("host"),
        when(col("value").cast("long") % 2 === 0, lit("a")).otherwise(lit("b"))))
      .select("series", "tags", "time", "value")
    store.append(pts)
    graft.storage.SketchCells.build(store, graft.storage.SketchCells.dirFor(store),
      ndvTags = Seq("host"), groupTags = Seq("host"))
    // at default settings the same cells-only shapes merge on the driver
    val d = 86400L
    Seq("select tag.host as h, percentile_approx(value, 0.5) as p50a " +
        s"from cpu where time >= 0 and time < ${2 * d} group by tag.host order by h",
      "select tag.host as h, ndv(tag.host) as nh " +
        s"from cpu where time >= 0 and time < ${2 * d} group by tag.host order by h",
      "select tag.host as h, percentile_approx(value, 0.5) as p50a " +
        s"from cpu where time >= 0 and time < ${2 * d} group by tag.host order by h desc",
      "select tag.host as h, avg(value) as av, count() as n " +
        s"from cpu where time >= 0 and time < ${2 * d} group by tag.host order by h").foreach { ql =>
      assertDriverServed(store, ql, "served:cells:tdtag", "tdtag/host", Seq(0L, d))
    }
    assertDriverServed(store,
      "select time_bucket(172800, time) as b, tag.host as h, percentile_approx(value, 0.5) as p50a " +
        s"from cpu where time >= 0 and time < ${4 * d} " +
        "group by time_bucket(172800, time), tag.host order by b, h",
      "served:cells:tdtag", "tdtag/host", (0 until 4).map(_ * d))
    assertDriverServed(store,
      "select time_bucket(172800, time) as b, ndv(tag.host) as nh " +
        s"from cpu where time >= 0 and time < ${4 * d} group by time_bucket(172800, time) order by b",
      "served:cells:td", "td", (0 until 4).map(_ * d))
    // the plan pins below read the Spark merge's plan
    onSparkRoute {
      def planOf(ql: String) = {
        val df = graft.sydraql.Engine.executeOnStore(store, ql,
          graft.sydraql.CompileOptions(now = 0L)).df
        (df, df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
      }
      // GROUP BY tag.host over a 2-day window: served from the tag tier —
      // tdtag path present, raw segments absent, day PartitionFilters prune
      val (tdf, tp) = planOf(
        "select tag.host as h, percentile_approx(value, 0.5) as p50a " +
          s"from cpu where time >= 0 and time < ${2 * 86400} " +
          "group by tag.host order by h")
      assert(tp.contains("tdtag"), tp.take(1200))
      assert(!tp.contains("segments"),
        "tag-grouped served plan must not touch raw points:\n" + tp.take(1200))
      val tpf = tp.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
      assert(tpf.contains("day") && tpf.contains("172800"),
        s"day bounds must prune tag-cell partitions: $tpf")
      // days 0-1 hold values 0..7: host a = {0,2,4,6} (p50 3.0 exact at
      // this size), host b = {1,3,5,7} (4.0)
      assert(tdf.collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
        === Seq(("a", 3.0), ("b", 4.0)))
      // ndv per day-multiple bucket: served from the td table's theta
      // cells (2 hosts per bucket, theta exact)
      val (ndf, np) = planOf(
        "select time_bucket(172800, time) as b, ndv(tag.host) as nh " +
          s"from cpu where time >= 0 and time < ${4 * 86400} " +
          "group by time_bucket(172800, time) order by b")
      assert(np.contains("sketchcells") && !np.contains("segments"),
        "bucketed ndv must serve from theta cells:\n" + np.take(1200))
      assert(ndf.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        === Seq((0L, 2.0), (172800L, 2.0)))
      // NDV under a TAG grouping (r14): the tag tier carries the store's
      // theta cells, so it SERVES — here ndv of the group key itself is 1
      // per group, exactly the raw route's answer
      val (fdf, fp) = planOf(
        "select tag.host as h, ndv(tag.host) as nh " +
          s"from cpu where time >= 0 and time < ${2 * 86400} " +
          "group by tag.host order by h")
      assert(fp.contains("tdtag") && !fp.contains("segments"),
        "ndv under tag grouping must serve from the tag tier's theta cells:\n" + fp.take(800))
      assert(fdf.collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
        === Seq(("a", 1.0), ("b", 1.0)))
      // …but a key WITHOUT theta cells in the tier falls through to raw
      val (_, f2) = planOf(
        "select tag.host as h, ndv(tag.ghost) as ng " +
          s"from cpu where time >= 0 and time < ${2 * 86400} " +
          "group by tag.host order by h")
      assert(f2.contains("segments"),
        "ndv of an uncovered key must fall through to raw:\n" + f2.take(800))
      // COMPOSITE bucket × tag grouping: still served from the tag tier —
      // both keys coarsen the (series, day, value) cells
      val (cdf, cp) = planOf(
        "select time_bucket(172800, time) as b, tag.host as h, " +
          "percentile_approx(value, 0.5) as p50a " +
          s"from cpu where time >= 0 and time < ${4 * 86400} " +
          "group by time_bucket(172800, time), tag.host order by b, h")
      assert(cp.contains("tdtag") && !cp.contains("segments"),
        "composite grouping must serve from the tag tier:\n" + cp.take(1200))
      // days 0-3 hold values 0..15; per 2-day bucket each host has 4
      // values (exact at this size): bucket0 a={0,2,4,6}→3, b={1,3,5,7}→4;
      // bucket1 a={8,...,14}→11, b={9,...,15}→12
      assert(cdf.collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
        === Seq((0L, "a", 3.0), (0L, "b", 4.0), (172800L, "a", 11.0), (172800L, "b", 12.0)))
      // r14: DESCENDING order on a served shape sorts the SERVED frame —
      // still tdtag-only, no raw rescan
      val (ddf, dp) = planOf(
        "select tag.host as h, percentile_approx(value, 0.5) as p50a " +
          s"from cpu where time >= 0 and time < ${2 * 86400} " +
          "group by tag.host order by h desc")
      assert(dp.contains("tdtag") && !dp.contains("segments"),
        "desc order on a served shape must stay served:\n" + dp.take(800))
      assert(ddf.collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
        === Seq(("b", 4.0), ("a", 3.0)))
      // r14 (ADVICE): the SAME group key projected under two aliases is a
      // valid query the serving path can't express (one alias per key) —
      // it must fall through to raw, not throw from inside the attempt
      val (dupDf, dupP) = planOf(
        "select tag.host as h1, tag.host as h2, percentile_approx(value, 0.5) as p " +
          s"from cpu where time >= 0 and time < ${2 * 86400} " +
          "group by tag.host order by h1")
      assert(dupP.contains("segments"),
        "duplicate group-key aliases must fall through to raw:\n" + dupP.take(800))
      assert(dupDf.collect().map(r => (r.getString(0), r.getString(1))).toSeq
        === Seq(("a", "a"), ("b", "b")))
      // r14: basic aggregates under a tag grouping serve from the tag
      // tier's partials (host a days 0-1 = {0,2,4,6}: avg 3, n 4)
      val (tbdf, tbp) = planOf(
        "select tag.host as h, avg(value) as av, count() as n " +
          s"from cpu where time >= 0 and time < ${2 * 86400} " +
          "group by tag.host order by h")
      assert(tbp.contains("tdtag") && !tbp.contains("segments"),
        "tag-grouped basic aggs must serve from the tag tier:\n" + tbp.take(800))
      assert(tbdf.collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSeq
        === Seq(("a", 3.0, 4L), ("b", 4.0, 4L)))
    }
  }

  test("at-rest IVF probe scan prunes index partitions; result matches the in-memory path") {
    import graft.pipeline.{IvfIndex, Similarity}
    import org.apache.spark.sql.functions.col
    val emb = graft.core.Tables.embeddings(spark, sf)
    val idx = Files.createTempDirectory("graft-plan-ivf").toString + "/index"
    val cs = IvfIndex.build(emb, idx, nCells = 8, iters = 2)
    // centroid sidecar round-trips bit-exactly
    assert(IvfIndex.loadCentroids(spark, idx).toSeq === cs.toSeq)
    val q = emb.filter(col("vec_id") < 3)
    val df = IvfIndex.topK(spark, idx, q, 5, nprobe = 2, centroids = Some(cs))
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // the probed cells must reach the index scan as PartitionFilters —
    // evaluated against the partition index, so non-probed partition
    // directories are never read (THE at-rest IVF property)
    assert(p.linesIterator.exists(l => l.contains("PartitionFilters") && l.contains("bucket")),
      p.take(1500))
    // and the pruned serve returns exactly what the in-memory path computes
    // from the same fitted quantizer
    val rest = df.orderBy("q_id", "rank").collect().toSeq
    val mem = Similarity.kmeansIvfTopK(emb, q, 5, nprobe = 2, centroids = Some(cs))
      .orderBy("q_id", "rank").collect().toSeq
    assert(rest === mem)
  }

  test("distributed ANN probe route (corpus-as-queries) keeps pruning and equi-joins") {
    import graft.pipeline.IvfIndex
    val emb = graft.core.Tables.embeddings(spark, sf)
    val idx = Files.createTempDirectory("graft-plan-selfj").toString + "/index"
    val cs = IvfIndex.build(emb, idx, nCells = 8, iters = 2)
    // maxDriverBatch = 0 forces the over-threshold route: probes stay a
    // DataFrame, only the ≤ nCells distinct-bucket list reaches the driver
    val df = IvfIndex.topK(spark, idx, emb, 3, nprobe = 2,
      centroids = Some(cs), maxDriverBatch = 0)
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // partition pruning must survive the route switch…
    assert(p.linesIterator.exists(l => l.contains("PartitionFilters") && l.contains("bucket")),
      p.take(1500))
    // …and the probe join must stay an equi-join on bucket, never a
    // nested loop over the corpus-sized probe frame
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p.take(1500))
  }

  test("at-rest IVFPQ probe scan prunes partitions and reads codes, never vectors") {
    import graft.pipeline.IvfIndex
    import org.apache.spark.sql.functions.col
    val emb = graft.core.Tables.embeddings(spark, sf)
    val idx = Files.createTempDirectory("graft-plan-ivfpq").toString + "/index"
    val (cs, books) = IvfIndex.buildPq(emb, idx, nCells = 8, iters = 2, m = 4, ksub = 16)
    // both sidecars round-trip bit-exactly
    assert(IvfIndex.loadCentroids(spark, idx).toSeq === cs.toSeq)
    assert(IvfIndex.loadBooks(spark, idx).map(_.toSeq).toSeq === books.map(_.toSeq).toSeq)
    // the index itself holds no raw vectors — its at-rest footprint is the
    // m codes per row (THE PQ property)
    assert(spark.read.parquet(idx).columns.sorted.toSeq === Seq("bucket", "codes", "vec_id"))
    val q = emb.filter(col("vec_id") < 3)
    val df = IvfIndex.topKPq(spark, idx, q, 5, nprobe = 2,
      centroids = Some(cs), books = Some(books))
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.linesIterator.exists(l => l.contains("PartitionFilters") && l.contains("bucket")),
      p.take(1500))
    assert(df.count() > 0)
  }

  test("linear trend (deriv/predict) is one aggregate pass — no window, no raw-point sort") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow, Sort}
    val df = SparkEntry.queries("q_ts_deriv")(spark, sf)
    val plan = df.queryExecution.optimizedPlan
    assert(plan.collect { case w: LWindow => w }.isEmpty, "no window operator")
    val sorts = plan.collect { case s: Sort => s }
    assert(sorts.length <= 1, s"raw points must not be sorted: $sorts")
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("partial_sum") || p.contains("partial_count"),
      "expected a partial+final hash aggregate\n" + p.take(1200))
  }

  test("M4 downsampling is one aggregate pass — no window, no sort of the raw points") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow, Sort}
    val df = SparkEntry.queries("q_ts_m4")(spark, sf)
    val plan = df.queryExecution.optimizedPlan
    assert(plan.collect { case w: LWindow => w }.isEmpty, "no window operator")
    // the only sort is the final presentation ORDER BY over ≤4 rows/bucket
    val sorts = plan.collect { case s: Sort => s }
    assert(sorts.length <= 1, s"raw points must not be sorted: $sorts")
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("partial_min") || p.contains("partial_max"),
      "expected a partial+final hash aggregate\n" + p.take(1200))
  }

  test("sydraQL compile produces a pushed-down scan filter for series") {
    val src = graft.core.Tables.seriesView(spark, sf)
    val df = graft.sydraql.Engine.sql(spark, src,
      "select time, value from click where time >= 0 and time < 100000000000")
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains("EqualTo(event_type,click)"), "series selector should push to parquet scan")
  }

  test("seasonal decompose is aggregate + broadcast join-back — no window") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val df = SparkEntry.queries("q_ts_seasonal")(spark, sf)
    assert(df.queryExecution.optimizedPlan.collect { case w: LWindow => w }.isEmpty,
      "no window operator")
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), "profile join-back should broadcast\n" + p.take(1200))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p.take(1200))
  }

  test("cusum windows all partition by the full key set (never whole-series)") {
    val df = SparkEntry.queries("q_ts_cusum")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // every Window node must carry both keys — a series-only partition
    // would put a whole series' history in one task
    val winLines = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(winLines.nonEmpty, p.take(1200))
    winLines.foreach { l =>
      assert(l.contains("series") && l.contains("day"), s"window not day-partitioned: $l")
    }
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p.take(1200))
  }

  test("rollup/cube/grouping-sets plan one scan + Expand + partial+final aggregate") {
    // Spark's Expand multiplies rows by the number of grouping sets BEFORE
    // the partial aggregate — an L-level rollup is one scan and one shuffle
    // of ~L× the distinct groups, never L scans of the fact table
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    for (q <- Seq("q_rollup", "q_cube", "q_grouping_sets")) {
      val df = SparkEntry.queries(q)(spark, sf)
      assert(df.queryExecution.optimizedPlan.collect {
        case r: LogicalRelation => r }.size == 1, s"$q should scan once")
      val p = plan(q)
      assert(p.contains("Expand"), s"$q should plan Expand")
      assert("HashAggregate".r.findAllIn(p).size >= 2,
        s"$q should plan partial+final hash aggregates")
    }
  }

  test("topk-per-bucket aggregates first, then gets the rank group-limit pushdown") {
    // rnk <= k over the window must prune map-side (WindowGroupLimit), and
    // the window runs over the (series, bucket) rollup — never raw points
    val p = plan("q_ts_topk_series")
    assert(p.contains("WindowGroupLimit"), "q_ts_topk_series should plan WindowGroupLimit")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "topk must aggregate to the (series, bucket) rollup before the window")
  }

  test("rank-family window is hash-partitioned by the group key (no global sort-all)") {
    // no rank filter here (every ranked row is output), so no group limit —
    // the property that matters is the per-status partitioning of the sort
    val p = plan("q_rank_fns")
    assert(p.contains("hashpartitioning(o_orderstatus"),
      "rank window must partition by o_orderstatus:\n" + p.take(1200))
  }

  test("pivot with explicit values is a single aggregate pass — no distinct-values job") {
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    val df = SparkEntry.queries("q_pivot")(spark, sf)
    assert(df.queryExecution.optimizedPlan.collect {
      case r: LogicalRelation => r }.size == 1, "pivot should scan once")
    assert("HashAggregate".r.findAllIn(plan("q_pivot")).size >= 2,
      "pivot should plan partial+final hash aggregates")
  }

  test("PMI vocab prune broadcasts; the pair join is an equi-join on doc_id") {
    val p = plan("q_pl_pmi")
    assert(p.contains("BroadcastHashJoin"), "vocab dictionary should broadcast\n" + p.take(1200))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "pair expansion must ride the doc_id equi-join, not a nested loop\n" + p.take(1200))
  }

  test("mutual-NN top-1 pass is a partial+final aggregate, never a pair exchange") {
    val p = plan("q_ann_mutual_nn")
    assert(!p.contains("Window"),
      "top-1 must be the max-of-struct aggregate, not a window over n² pairs")
    // the struct buffer plans as SortAggregate — still partial+final, so
    // only one pre-combined row per a_id per partition reaches the shuffle
    assert("(Sort|Hash)Aggregate".r.findAllIn(p).size >= 2,
      "top-1 aggregate should plan partial+final (pre-shuffle combine)")
  }

  test("EXISTS/NOT EXISTS decorrelate to semi/anti hash joins — no per-row subquery") {
    val p = plan("q_exists_subquery")
    assert(p.contains("LeftSemi") || p.contains("ExistenceJoin"),
      "EXISTS must plan as a semi join:\n" + p.take(1500))
    assert(p.contains("LeftAnti"),
      "NOT EXISTS must plan as an anti join:\n" + p.take(1500))
    assert(!p.contains("Subquery") || !p.contains("InSubquery"),
      "no per-row subquery execution nodes expected")
  }

  test("scalar subqueries: uncorrelated becomes a one-row broadcast; correlated decorrelates to an agg+join") {
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    val df = SparkEntry.queries("q_scalar_subquery")(spark, sf)
    val opt = df.queryExecution.optimizedPlan.toString
    // the correlated per-custkey max rewrites to Aggregate + Join, not a
    // row-at-a-time correlated lookup
    assert(!opt.contains("DomainJoin") && df.queryExecution.executedPlan != null)
    val p = plan("q_scalar_subquery")
    assert(p.contains("Join"), "correlated scalar should decorrelate to a join:\n" + p.take(1200))
  }

  test("FILTER-clause aggregates + multi-distinct stay a single scan") {
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    val df = SparkEntry.queries("q_agg_filter")(spark, sf)
    assert(df.queryExecution.optimizedPlan.collect {
      case r: LogicalRelation => r }.size == 1,
      "all conditional aggregates must ride one scan (no N-segments-N-scans)")
    assert(plan("q_agg_filter").contains("Expand"),
      "two COUNT(DISTINCT)s should plan via Expand (single-scan multi-distinct)")
  }

  test("unpivot is generate-only — no shuffle beyond the wide aggregate and final sort") {
    val df = SparkEntry.queries("q_unpivot")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // one hash Exchange for the groupBy; the melt itself (Expand/Generate)
    // must not introduce another
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 1,
      "unpivot must not add a shuffle over the melted rows:\n" + p.take(1500))
  }

  test("funnel steps pre-filter the scan: each stage joins on user_id only") {
    val p = plan("q_ev_funnel")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "funnel stages must be equi-joins on user_id:\n" + p.take(1500))
    // the 3 per-step MIN aggregates plan partial+final
    assert("HashAggregate".r.findAllIn(p).size >= 6,
      "per-step MINs should pre-combine before their shuffles")
  }

  test("bloom decontam probes inside codegen and verifies on a broadcast semi-join") {
    val p = plan("q_pl_decontam_bloom")
    assert(p.contains("might_contain"),
      "bloom probe must be the Catalyst expression:\n" + p.take(1500))
    assert(p.contains("LeftSemi"), "exact verify must be a semi-join")
    assert(!p.toLowerCase.contains("batchevalpython") && !p.contains("UDF"),
      "no row UDF in the probe path")
  }

  test("transitions/attribution: one user-keyed window pass, channel-sized aggregates") {
    for (q <- Seq("q_ev_transitions", "q_ev_attribution")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$q must stay equi-join/window only:\n" + p.take(1200))
      // the user-history window partitions by user_id — never whole-table
      assert(p.contains("user_id"), s"$q window must partition by user_id")
    }
  }

  test("LTTB plans per-bucket windows — no whole-series window partition") {
    val p = plan("q_ts_lttb")
    // every Window partitions by at least (series); the argmax and anchor
    // windows by (series, bucket) — nothing partitions by nothing
    assert(!p.contains("Window [") || !p.contains("PartitionBy: []"),
      "no unpartitioned window allowed:\n" + p.take(1200))
    assert(!p.contains("CartesianProduct"), "anchor join must be equi-join")
  }

  test("KS drift: baseline replicates via broadcast, ECDF window keys on the pair") {
    val p = plan("q_pl_ks_drift")
    assert(p.contains("BroadcastExchange"),
      "the group dimension must broadcast into the baseline replication:\n" + p.take(1200))
    assert(!p.contains("CartesianProduct"),
      "the replication is a broadcast nested-loop over a |groups|-row dim, never Cartesian")
  }

  test("engagement/SLA/pattern gates: user- or series-keyed shuffles only") {
    for (q <- Seq("q_ev_active_users", "q_ts_sla", "q_ev_pattern", "q_ev_rfm")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"),
        s"$q must not plan a Cartesian product:\n" + p.take(1200))
    }
    // the SLA window partitions by series, never whole-table
    assert(plan("q_ts_sla").contains("series"), "sla window keys on series")
  }

  test("TPC-H Q18: pre-aggregated fact, broadcast customer, TakeOrderedAndProject top-100") {
    val df = SparkEntry.queries("q_tpch_q18")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"), s"top-100 must not global-sort:\n${p.take(1500)}")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"customer dim must broadcast:\n${p.take(1500)}")
    // the quantity aggregate runs BELOW the joins: exactly one hash
    // Exchange on l_orderkey feeds both the HAVING filter and the join
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("TPC-H Q6: every predicate pushed to the scan, 4-column read schema") {
    val p = plan("q_tpch_q6")
    assert(p.contains("PushedFilters") && p.contains("GreaterThanOrEqual(l_discount,0.05)"),
      s"discount band must reach the parquet scan:\n${p.take(1500)}")
    assert(p.contains("LessThan(l_quantity,24.0)"),
      "quantity cap must reach the parquet scan")
    // column pruning: the scan reads only the 4 referenced columns
    val read = "ReadSchema: struct<([^>]*)>".r.findFirstMatchIn(p).map(_.group(1)).getOrElse("")
    assert(read.split(",").length == 4, s"scan must read exactly 4 columns: $read")
  }

  test("TPC-H r11 pack: disjunctive predicate extraction, semi/anti shapes, no pairwise joins") {
    // Q19: Catalyst extracts BOTH projections of the OR-of-conjuncts —
    // the quantity bands reach the lineitem scan and the brand/size
    // bands reach the part scan as pushed disjunctions, so at 100 TB the
    // fact read is pruned before the join evaluates the full residual
    val p19 = plan("q_tpch_q19")
    assert(p19.contains("Or(Or(And(GreaterThanOrEqual(l_quantity"),
      s"quantity-band disjunction must reach the lineitem scan:\n${p19.take(2000)}")
    assert(p19.contains("Or(Or(And(EqualTo(p_brand"),
      s"brand/size disjunction must reach the part scan:\n${p19.take(2000)}")
    // Q4: correlated EXISTS = ONE LeftSemi join on orderkey with the
    // 90-day lateness as a residual — no per-row subquery, no re-scan
    val p4 = plan("q_tpch_q4")
    assert(p4.contains("LeftSemi"), s"EXISTS must compile to a semi join:\n${p4.take(1500)}")
    assert(!p4.contains("CartesianProduct") && !p4.contains("BroadcastNestedLoopJoin"))
    // Q22: NOT EXISTS = LeftAnti on custkey (the scalar avg threshold is
    // a benign one-row broadcast)
    val p22 = plan("q_tpch_q22")
    assert(p22.contains("LeftAnti"), s"NOT EXISTS must compile to an anti join:\n${p22.take(1500)}")
    // Q17: the correlated per-part threshold is a WINDOW over the same
    // joined pass (one fact scan), not a second lineitem aggregate join
    val p17 = plan("q_tpch_q17")
    assert(p17.contains("Window"), s"threshold must ride a window:\n${p17.take(1500)}")
    // the rest of the pack: equi-joins throughout
    for (q <- Seq("q_tpch_q7", "q_tpch_q8", "q_tpch_q13", "q_tpch_q15", "q_tpch_q17")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$q must join on keys only:\n${p.take(1500)}")
    }
  }

  test("grid-DBSCAN: 9-stencil equi-joins only — no nested-loop join at any grid resolution") {
    val p = plan("q_pl_grid_dbscan")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "cell adjacency and border attach must be hash equi-joins on the packed cell id:\n" +
        p.take(2000))
  }

  test("r11 stencil/correlated gates: equi-joins only — no nested-loop join") {
    // Q21's double correlation must stay semi/anti hash joins keyed on
    // orderkey (suppkey≠ as a residual); modularity's label joins are
    // node-keyed; the sketch sliding windows use the temporal stencil
    // explode + equi-join (a range join here would BNLJ)
    for (q <- Seq("q_tpch_q21", "q_tpch_q12",
        "q_ts_rolling_p95", "q_ts_rolling_ndv", "q_ts_tdigest",
        // late r11: the ACF lag expansion and the decomposition's
        // phase/mean joins must stay equi-joins
        "q_ts_acf", "q_ts_decompose")) {
      val p = plan(q)
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q plans a nested-loop join")
      assert(!p.contains("CartesianProduct"), s"$q plans a cartesian product")
    }
    // modularity: the label/degree joins must be hash joins; the ONLY
    // BNLJ allowed is the benign one-row broadcast of the edge-count
    // meta frame (the same pattern as q_pl_bm25/q_pl_neyman)
    // (formatted explain prints each node twice: tree + details, so one
    // node = 2 string occurrences)
    val pm = plan("q_pl_modularity")
    assert("BroadcastNestedLoopJoin".r.findAllIn(pm).size <= 2 &&
      pm.contains("BroadcastNestedLoopJoin Cross") &&
      !pm.contains("CartesianProduct"),
      s"modularity: only the one-row m-frame cross may be non-equi:\n${pm.take(1500)}")
  }

  test("drift distances: only benign broadcast crosses (dim/one-row frames), no cartesian") {
    // pairedBinCounts replicates the baseline through a broadcast cross
    // of the GROUP DIMENSION and joins the one-row bounds frame — those
    // are the only non-equi joins allowed; a data-sized cross would mean
    // the shared-grid binning degenerated. Formatted explain prints each
    // node twice (tree + details); Cross appears once per node.
    for (q <- Seq("q_dq_wasserstein", "q_dq_jsd")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q plans a cartesian product")
      val all = "BroadcastNestedLoopJoin".r.findAllIn(p).size
      val cross = "BroadcastNestedLoopJoin Cross".r.findAllIn(p).size
      assert(all == 2 * cross,
        s"$q has a non-Cross nested-loop join (a data-sized theta join):\n${p.take(1500)}")
    }
  }

  test("skip-index probe: the pruned read is one filtered scan, predicates pushed") {
    for (q <- Seq("q_store_skip_probe", "q_store_skip_value")) {
      val p = plan(q)
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        s"$q: the probe must be a bare scan, got joins:\n${p.take(1200)}")
      // residual predicates reach the parquet reader — the files that DO
      // get read still row-group-prune inside
      assert(p.contains("PushedFilters: ["), s"$q: no pushed filters:\n${p.take(1200)}")
    }
  }

  test("banded kNN graph: candidate generation is equi-joins only — never a pairwise scan") {
    val p = plan("q_ann_knn_graph")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "band collision candidates must come from hash equi-joins on (band, bval):\n" +
        p.take(2000))
  }

  test("silhouette: k×d centroids broadcast into one distance scan") {
    val p = plan("q_pl_silhouette")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "centroid frame must broadcast:\n" + p.take(1200))
    assert(!p.contains("SortMergeJoin"), "no vector-sized shuffle join")
  }

  test("whitening joins dim-sized stats as a broadcast — the data pass never shuffles") {
    import org.apache.spark.sql.functions._
    val w = graft.pipeline.Projection.whiten(
      graft.core.Tables.embeddings(spark, sf), "embedding")
    val p = w.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "stats must broadcast:\n" + p.take(1200))
    assert(!p.contains("SortMergeJoin"), "no data-sized shuffle join for stats")
  }

  test("at-rest text index probe prunes postings partitions; ranking equals the direct path") {
    import graft.pipeline.{TextAnalysis, TextIndex}
    val docs = graft.core.Tables.documents(spark, sf)
    val idx = Files.createTempDirectory("graft-plan-tix").toString + "/i"
    TextIndex.build(docs, idx)
    val df = TextIndex.topK(spark, idx, Seq("spark", "hash", "merge"), 20)
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // the query terms' buckets reach the postings scan as
    // PartitionFilters — non-probed term buckets are never read (the
    // IvfIndex property, on the lexical index)
    assert(p.linesIterator.exists(l => l.contains("PartitionFilters") && l.contains("bucket")),
      p.take(1500))
    val direct = TextAnalysis.bm25TopK(docs, Seq("spark", "hash", "merge"),
      docs.count(), 20).collect().map(_.toSeq).toSeq
    assert(df.orderBy("rank").collect().map(_.toSeq).toSeq === direct,
      "index route must reproduce the direct ranking")
  }

  test("salted join spreads the hot key across reducers (partition histogram)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // the operator's reason to exist: q_join_salted pins OUTPUT
    // invariance; this pins the LAYOUT claim — the hot key's rows land
    // in many shuffle partitions instead of one straggler. AQE and
    // broadcast are disabled so the shuffle-hash layout is observable.
    val saved = Seq("spark.sql.adaptive.enabled",
      "spark.sql.autoBroadcastJoinThreshold").map(k => k -> spark.conf.get(k))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val fact = (0 until 4000).map(i =>
        (i.toLong, if (i % 10 != 0) "hot" else s"k${i % 7}", i * 0.5))
        .toDF("rid", "key", "v")
      val dim = (Seq("hot") ++ (0 until 7).map(i => s"k$i"))
        .zipWithIndex.map { case (k, i) => (k, i.toDouble) }.toDF("key", "w")
      def hotPids(df: org.apache.spark.sql.DataFrame): Long = df
        .withColumn("pid", spark_partition_id())
        .filter(col("key") === "hot").select("pid").distinct().count()
      val plainPids = hotPids(fact.join(dim, "key"))
      assert(plainPids === 1L, s"unsalted hot key should sit on one reducer, got $plainPids")
      val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
      val saltedPids = hotPids(graft.operators.SaltedJoin.join(
        fact, dim, "key", col("rid"), salts = 16))
      // spread is bounded by min(salts, reducers); demand >= 3/4 of it
      // (hash collisions across (key, salt) pairs can lose a reducer or two)
      val bound = math.min(16, parts) * 3 / 4
      assert(saltedPids >= bound,
        s"16 salts should spread the hot key across >=$bound of $parts reducers, got $saltedPids")
    } finally saved.foreach { case (k, v) => spark.conf.set(k, v) }
  }
}
