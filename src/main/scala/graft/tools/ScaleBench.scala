package graft.tools

import graft.{Bench, SparkEntry}
import graft.core.Tables
import graft.operators.{AsofJoin, RangeJoin}
import graft.pipeline.{Dedup, Graph, IvfIndex, Similarity, TextIndex}
import graft.storage.{Maintenance, ScanProbe, SeriesStore, SketchCells, SkipIndex}
import graft.sydraql.{CompileOptions, Engine}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The amplified-scale tool: times named workloads at `mult`× the
  * SPARK_GRAFT_SF_DIR tables, so data-bound behaviour is measurable where
  * the sf0.1 headline is overhead-bound (the c8 vs c32 artifacts put every
  * headline query at ratio ≈ 1 — the fixture is too small, not the code
  * serial).
  *
  *   SPARK_GRAFT_CPUS=32 sbt "runMain graft.tools.ScaleBench 10"
  *   SPARK_GRAFT_CPUS=8  sbt "runMain graft.tools.ScaleBench 20 q_pl_cms,pagerank"
  *
  * `ScaleBench [mult] [name,...]` (mult 1..26, default 10; default names:
  * the headline plus ten heavy extras). A name is either
  *  - a registry query, run on [[writeAmplified]]'s `mult`× copy of the
  *    sf tables, or
  *  - an entry of [[ops]]: a workload whose SCALE.md curve measures its own
  *    input generator, a documented sizing rule, or a timed probe/append
  *    after an untimed build. Each builds its own regime (time-axis
  *    events, synthetic graphs and embeddings, clone-amplified corpora).
  *
  * Every name runs with the bench's methodology ([[Bench.timeOne]]: cache
  * cleared, noop sink, untimed setup first); one JSON line on stdout. A
  * failed name gets no time: it is listed under `failed` and the main
  * exits 1 after printing the line.
  *
  * Amplification in [[writeAmplified]] keeps the workload's SHAPE linear
  * in `mult`:
  *  - relational tables: every join key shifts by copy × 1e9 — disjoint
  *    parallel universes, so per-key join fan-outs are unchanged;
  *  - events: user_id shifts by copy × 8 (tag classes preserved), rows
  *    densify inside the same time window — the growth direction the
  *    bucketed aggregates must absorb;
  *  - documents: doc_id shifts; each copy's text goes through a per-copy
  *    letter rotation (translate), so WITHIN-copy near-dup structure is
  *    preserved while cross-copy shingle collisions — which would grow
  *    dup cliques quadratically in `mult` — are suppressed. The rotation
  *    is cyclic mod 26, hence `mult <= 26`;
  *  - embeddings: vec_id shifts; each copy applies a per-copy
  *    deterministic sign pattern (norms preserved, cross-copy cosine
  *    decorrelated) so signature/banding schemes keep linear buckets.
  *
  * Measurement tooling ONLY: the amplified tables (written when a registry
  * name is asked for) and every scratch store live under
  * `target/scalebench/` and are rebuilt on every invocation — nothing is
  * reused across runs. Scale-dependent session knobs ride
  * `SPARK_GRAFT_CONF` (SparkEntry).
  */
object ScaleBench {

  private val OFF = 1000000000L

  /** What an op sees: the session, the sf tables, the amplified copy,
    * a scratch dir wiped per invocation, and the multiplier.
    */
  final case class Ctx(spark: SparkSession, sfDir: String, ampDir: String,
      work: String, mult: Int)

  /** Calling an op runs its untimed setup; the returned thunk is timed. */
  type Op = Ctx => () => DataFrame

  val defaultNames: Seq[String] = SparkEntry.benchQueries ++ Seq(
    "q_pl_dup_clusters", "q_pl_communities", "q_pl_lm_bigram",
    "q_pl_lm_score", "q_pl_ppl_buckets", "q_pl_minhash_est",
    "q_pl_containment", "q_pl_span_dedup", "q_pl_curation_chain",
    "q_pl_leakage_split")

  /** Rejects a multiplier outside 1..26 and any name that is neither a
    * registry query nor an op.
    */
  private[graft] def check(mult: Int, names: Seq[String]): Unit = {
    require(1 <= mult && mult <= 26, s"mult must be in 1..26, got $mult: the " +
      "per-copy letter rotation is cyclic mod 26, so copies i and i-26 would " +
      "get identical text and bring back cross-copy duplicate cliques")
    val unknown = names.filterNot(n => SparkEntry.queries.contains(n) || ops.contains(n))
    require(unknown.isEmpty, s"unknown names: ${unknown.mkString(", ")}")
  }

  def main(args: Array[String]): Unit = {
    val mult = args.headOption.map(_.toInt).getOrElse(10)
    val names = args.lift(1)
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(defaultNames)
    check(mult, names)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkEntry.localSession(32)
    val ctx = Ctx(spark, sfDir, s"target/scalebench/x$mult",
      s"target/scalebench/x$mult-work", mult)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ctx.work))
    // only registry names read the amplified copy
    val copied = names.exists(n => !ops.contains(n))
    if (copied) writeAmplified(spark, sfDir, ctx.ampDir, mult)

    val warmFailed = Bench.warmUp(spark, if (copied) ctx.ampDir else sfDir)
    val results = names.map { n =>
      spark.catalog.clearCache()
      spark.sparkContext.setJobDescription(s"scalebench: $n")
      val op = ops.getOrElse(n, (c: Ctx) => () => SparkEntry.queries(n)(c.spark, c.ampDir))
      val r = Bench.timeOne(n)(op(ctx))
      r.foreach(rd => System.err.println(f"[scalebench] $n%-28s ${rd.wall}%8.2f s"))
      n -> r
    }
    val walls = results.collect { case (n, Some(r)) => n -> r.wall }
    val failed = warmFailed ++ results.collect { case (n, None) => n }
    val body = walls.map { case (n, w) => "\"" + n + f"\":$w%.3f" }.mkString("{", ",", "}")
    println(s"""{"metric":"scalebench","mult":$mult,""" +
      s""""cpus":${spark.sparkContext.defaultParallelism},""" +
      f""""total":${walls.map(_._2).sum}%.3f,"queries":$body,""" +
      s""""failed":${failed.map("\"" + _ + "\"").mkString("[", ",", "]")},"sf":"$sfDir"}""")
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }

  // ------------------------------------------------------------ regimes

  /** The union of `f(df, i)` for copies i in 0 until mult. */
  private def amp(df: DataFrame, mult: Int)(f: (DataFrame, Int) => DataFrame): DataFrame =
    (0 until mult).map(i => f(df, i)).reduce(_ unionByName _)

  /** Copy i with each of `cols` shifted by i × 1e9. */
  private def shift(cols: String*): (DataFrame, Int) => DataFrame = (df, i) =>
    cols.foldLeft(df)((d, c) => d.withColumn(c, col(c) + lit(i * OFF)))

  /** An sf table as `mult` id-shifted clones (identical rows
    * otherwise), materialized untimed.
    */
  private def cloned(c: Ctx, table: String, idCol: String): DataFrame = {
    val df = amp(Tables.table(c.spark, c.sfDir, table), c.mult)(shift(idCol))
      .persist(StorageLevel.MEMORY_AND_DISK)
    df.count()
    df
  }

  /** Events amplified along the TIME axis as store points: copy i shifts
    * by i × 14 days — same 8 tag keys, mult× points AND mult× day/hour
    * partitions, the growth direction day-partitioned machinery must
    * absorb (amplifying ids would only widen the key space).
    */
  private def timeAxisPoints(c: Ctx): DataFrame = {
    amp(Tables.events(c.spark, c.sfDir), c.mult)((e, i) =>
        e.withColumn("ts", col("ts") + lit(i.toLong * 14L * 86400L * OFF)))
      .select(col("event_type").as("series"),
        map(lit("user"), (col("user_id") % 8).cast("string")).as("tags"),
        (col("ts") / lit(OFF)).cast("long").as("time"), col("value"))
  }

  /** The shared time-axis store, appended on first use in a run. */
  private def eventStore(c: Ctx): SeriesStore = {
    val s = new SeriesStore(c.spark, s"${c.work}/store")
    if (s.isEmpty) s.append(timeAxisPoints(c))
    s
  }

  /** The shared store with its skip manifest (and optionally its cells). */
  private def servedStore(c: Ctx, cells: Boolean = false): SeriesStore = {
    val s = eventStore(c)
    if (!SkipIndex.exists(c.spark, SkipIndex.dirFor(s)))
      SkipIndex.build(s, SkipIndex.dirFor(s))
    if (cells && !SketchCells.exists(c.spark, SketchCells.dirFor(s)))
      SketchCells.build(s, SketchCells.dirFor(s), groupTags = Seq("user"))
    s
  }

  private val T0 = graft.queries.TimeSeries.T0

  /** A window covering every shifted copy of the time-axis events. */
  private def fullSpan(c: Ctx): (Long, Long) =
    (T0 - 2 * 86400, T0 - 2 * 86400 + (c.mult.toLong * 14L + 14L) * 86400L)

  /** A fixed 12-hour window: a probe survives the same files at every mult. */
  private val halfDay = (T0 + 6 * 3600, T0 + 18 * 3600)

  /** `select … from click` over `window` on a store, through the engine. */
  private def served(s: SeriesStore, select: String, window: (Long, Long),
      rest: String = ""): DataFrame =
    Engine.executeOnStore(s, s"select $select from click where time >= ${window._1} " +
      s"and time < ${window._2}$rest", CompileOptions(now = 0L)).df

  /** 90% of ids map to one hot key, the rest to 1000 cold keys. */
  private def skewedKey(id: Column): Column =
    when(id % 10 < 9, lit("hot")).otherwise(concat(lit("k"), (id % 1000).cast("string")))

  /** Deterministic ±-uniform 64-dim embeddings (a hash of (id, dim) picks
    * each sign), sized n — clone amplification would make every clone
    * group collide totally in any signature scheme.
    */
  private def synthEmb(spark: SparkSession, n: Long): DataFrame =
    spark.range(n).select(col("id").as("vec_id"),
      array((0 until 64).map(d =>
        when(pmod(col("id") * lit(2654435761L) + lit(d.toLong * 40503L), lit(9973L)) < 4986,
          lit(1.0)).otherwise(lit(-1.0))): _*).as("embedding"))

  /** CLUSTERED deterministic embeddings: n/`cluster` near-duplicate
    * clusters, each member ONE sign flip from its cluster center — the
    * clone-heavy regime where banded LSH buckets grow with cluster size.
    * With bounded cluster size, Σ bucket² grows LINEARLY in n (cluster ·
    * n), the claim the r12 guard curve records.
    */
  private def synthClusteredEmb(spark: SparkSession, n: Long, cluster: Int): DataFrame = {
    val ctr = (col("id") / lit(cluster.toLong)).cast("long")
    val flipDim = pmod(col("id"), lit(64L)) // member's single flipped dim
    spark.range(n).select(col("id").as("vec_id"),
      array((0 until 64).map { d =>
        // center signs from xxhash64, NOT the linear-congruential mix the
        // uniform frame uses: a linear hash makes cluster pairs at small
        // phase offsets share near-identical sign walks, silently merging
        // whole clusters into mega-buckets — measured 9× wall (207 s vs
        // ~25) and an 8 GiB-driver OOM before this fix. A clustered
        // fixture must have DISTINCT clusters or it measures the
        // adversarial case, not the clustered one.
        val base = when(pmod(xxhash64(ctr, lit(d)), lit(2L)) === 0, lit(1.0))
          .otherwise(lit(-1.0))
        when(flipDim === d && pmod(col("id"), lit(cluster.toLong)) =!= 0, base * -1.0)
          .otherwise(base)
      }: _*).as("embedding"))
  }

  /** An op with no untimed setup. */
  private def timed(run: Ctx => DataFrame): Op = c => () => run(c)

  private def nVec(c: Ctx): Long = Tables.embeddings(c.spark, c.sfDir).count() * c.mult

  // ---------------------------------------------------------------- ops

  /** The non-registry workloads, by name (SCALE.md records each curve). */
  val ops: Map[String, Op] = Map(
    // KEY-cardinality amplification: 100k+ synthetic series × 16 days —
    // the per-(key, day) carry frame (nKeys × days rows) outgrows
    // broadcast size; AQE measures it at runtime and degrades to a
    // shuffle join on the (keys, __d) the resolve pass already shuffled on
    "asof_join_keys" -> timed { c =>
      val nKeys = 100000L * math.max(1, c.mult / 10)
      val days = 16L
      val l = c.spark.range(nKeys * days).select(
        (col("id") % nKeys).cast("string").as("k"),
        ((col("id") / nKeys) * 86400L + 50000L).as("time"),
        (col("id") % 1000).as("l_val"))
      val r = c.spark.range(nKeys * days).select(
        (col("id") % nKeys).cast("string").as("k"),
        ((col("id") / nKeys) * 86400L + 10L).as("time"),
        (col("id") % 777).cast("double").as("r_val"))
      AsofJoin.backward(l, r, keys = Seq("k"), timeCol = "time", rightCols = Seq("r_val"))
    },
    // KEY-skew amplification: one hot key carries 90% of the mass. The
    // day/bucket split caps what one task receives; the residual hot
    // (key, day) cells are what AQE's skew-split keeps bounded. The right
    // side pre-aggregates to per-(key, time) uniqueness, the operator's
    // documented contract.
    "asof_join_skew" -> timed { c =>
      val n = 2000000L * math.max(1, c.mult / 10)
      val span = 4L * 86400L
      val l = c.spark.range(n).select(skewedKey(col("id")).as("k"),
        pmod(col("id") * 2654435761L, lit(span)).as("time"),
        (col("id") % 1000).as("l_val"))
      val r = c.spark.range(n / 10).select(skewedKey(col("id")).as("k"),
          pmod(col("id") * 40503L, lit(span)).as("time"),
          (col("id") % 777).cast("double").as("r_val"))
        .groupBy("k", "time").agg(max(col("r_val")).as("r_val"))
      AsofJoin.backward(l, r, keys = Seq("k"), timeCol = "time", rightCols = Seq("r_val"))
    },
    "range_join_skew" -> timed { c =>
      val n = 2000000L * math.max(1, c.mult / 10)
      val span = 4L * 86400L
      val p = c.spark.range(n).select(skewedKey(col("id")).as("k"),
        pmod(col("id") * 2654435761L, lit(span)).as("time"),
        (col("id") % 1000).as("p_val"))
      val iv = c.spark.range(n / 100).select(skewedKey(col("id")).as("k"),
          pmod(col("id") * 48271L, lit(span)).as("w_start"))
        .withColumn("w_end", col("w_start") + 5400L)
      RangeJoin.pointInInterval(p, iv, keys = Seq("k"), timeCol = "time",
        startCol = "w_start", endCol = "w_end", bucket = 1800L)
    },
    // PageRank iterations on a synthetic graph (10 out-edges per node,
    // hubs via modulo collisions): measures the iterate-join path, which
    // must stay linear in |E| per iteration
    "pagerank" -> timed { c =>
      val nNodes = 100000L * math.max(1, c.mult / 10)
      val edges = c.spark.range(nNodes * 10).select(
        (col("id") % nNodes).as("src"),
        ((col("id") * 2654435761L) % nNodes).as("dst"))
      Graph.pageRank(edges, c.spark.range(nNodes).select(col("id")), nNodes, iters = 3)
    },
    // SemDeDup under the documented k ∝ n rule (target cluster size ~250):
    // within-cluster pairs stay ~n·250/2, so the curve must be ~linear in
    // n. A fixed k would re-quadratize the pair join (n²/k).
    "semdedup" -> { (c: Ctx) =>
      val emb = cloned(c, "embeddings", "vec_id")
      val k = math.max(8, (nVec(c) / 250L).toInt)
      () => Dedup.semDedup(emb, k = k, iters = 2)
    },
    // √n-rule cell count with FIXED nprobe — SCALE.md's sizing math
    // (candidates/query ≈ n·nprobe/nCells = √n·nprobe, total n^1.5).
    // Growing nprobe with nCells probes a constant corpus FRACTION and
    // sends the self-join quadratic however cells scale (measured
    // 13.5→32→113 s at 10→20→40× before r7).
    "ann_self_join" -> { (c: Ctx) =>
      val emb = cloned(c, "embeddings", "vec_id")
      val nCells = math.max(8, math.sqrt(nVec(c).toDouble).toInt)
      () => {
        val cs = IvfIndex.build(emb, s"${c.work}/ivf", nCells = nCells, iters = 2)
        IvfIndex.topK(c.spark, s"${c.work}/ivf", emb, 3, nprobe = math.min(nCells, 16),
          centroids = Some(cs), maxDriverBatch = 0)
      }
    },
    // kNN-graph shoot-out on a SYNTHETIC nVec-sized ±-uniform frame: the
    // chunked exact route is ceil(n/limit) FULL corpus scans — Θ(n²/limit)
    // — the banded route pays only for band collisions (band width by the
    // dim/bands ≳ log2(n) rule → 16-bit bands at this n). The banded
    // fixtures are materialized first: real sizes for the join planner,
    // and no 64-expression projection re-inlined into every task binary
    // of the self-join DAG (measured: task-deserialization OOM at 8 GiB).
    "knn_graph_banded" -> { (c: Ctx) =>
      val emb = synthEmb(c.spark, nVec(c)).localCheckpoint(true)
      () => Similarity.knnGraphBanded(emb, 4, bands = 4, candMult = 4)
    },
    // the CLUSTERED curve, auto-sized bands and the bucket guard live:
    // n/200 near-dup clusters give cluster-sized band buckets, so
    // candidate growth is Σ bucket² ≈ 200·n and the guard must NOT trip
    "knn_graph_banded_clustered" -> { (c: Ctx) =>
      val emb = synthClusteredEmb(c.spark, nVec(c), 200).localCheckpoint(true)
      () => Similarity.knnGraphBanded(emb, 4, candMult = 4)
    },
    "knn_graph_exact" -> { (c: Ctx) =>
      val n = nVec(c)
      () => Similarity.hammingTopK(synthEmb(c.spark, n), synthEmb(c.spark, n), 4, candMult = 4)
    },
    // incremental append vs a full rebuild: the corpus (all but the first
    // clone copy's doc_id < 40) is indexed untimed; the timed part appends
    // a FIXED 40-doc batch + probes. 1024 buckets, so a small batch's
    // vocabulary leaves most partitions untouched.
    "bm25_idx_append" -> { (c: Ctx) =>
      val docs = cloned(c, "documents", "doc_id")
      val idx = s"${c.work}/tixa/i"
      TextIndex.build(docs.filter(col("doc_id") >= 40), idx, nBuckets = 1024)
      () => {
        TextIndex.append(c.spark, docs.filter(col("doc_id") < 40), idx)
        TextIndex.topK(c.spark, idx, Seq("spark", "hash", "merge"), 20)
      }
    },
    // the skip manifest's one-pass build over the untimed time-axis store
    // (stats + bloom aggregates share the scan — must track the data)
    "skip_manifest" -> { (c: Ctx) =>
      val s = eventStore(c)
      () => {
        SkipIndex.build(s, SkipIndex.dirFor(s))
        SkipIndex.read(c.spark, SkipIndex.dirFor(s))
      }
    },
    // (series, 12 h) probe against the prebuilt manifest — must track the
    // FILE count, not the row count
    "skip_probe" -> { (c: Ctx) =>
      val s = servedStore(c)
      val sid = c.spark.range(1).select(graft.core.Functions.seriesId(
        lit("click"), map(lit("user"), lit("3"))).as("s")).head().getLong(0)
      () => SkipIndex.scan(s, SkipIndex.dirFor(s), ScanProbe(lo = Some(halfDay._1),
        hi = Some(halfDay._2), seriesId = Some(sid))).df
    },
    // the tag-keyed cell tier: one partial-aggregated pass over the points
    "tag_cells_build" -> { (c: Ctx) =>
      val s = eventStore(c)
      val dir = SketchCells.dirFor(s)
      () => {
        SketchCells.build(s, dir, groupTags = Seq("user"))
        SketchCells.readTag(c.spark, dir, "user")
      }
    },
    // `GROUP BY tag.user` quantile over the whole span from the tag tier:
    // reads series × days × 8 cells, so it tracks the CELL count
    "tag_cells_serve" -> { (c: Ctx) =>
      val s = servedStore(c, cells = true)
      () => served(s, "tag.user as usr, percentile_approx(value, 0.95) as p95",
        fullSpan(c), " group by tag.user order by usr")
    },
    // exact avg/count/max per user over the whole span, from the tag
    // tier's mergeable partials
    "rollup_cells_serve" -> { (c: Ctx) =>
      val s = servedStore(c, cells = true)
      () => served(s, "tag.user as usr, avg(value) as av, count() as n, max(value) as mx",
        fullSpan(c), " group by tag.user order by usr")
    },
    // the RAGGED hybrid: the span starts 1 h late and ends 2 h early, so
    // interior days come from cells plus TWO hour-pruned edge scans routed
    // through the manifest — a constant premium at every mult
    "ragged_cells_serve" -> { (c: Ctx) =>
      val s = servedStore(c, cells = true)
      val (a, b) = fullSpan(c)
      () => served(s, "avg(value) as av, count() as n, percentile_approx(value, 0.95) as p95",
        (a + 3600, b - 7200))
    },
    // value >= 400 keeps ~4% of hour files: one manifest read + the
    // pruned file read, not the row count
    "value_skip_probe" -> { (c: Ctx) =>
      val s = servedStore(c)
      () => served(s, "time, value", fullSpan(c), " and value >= 400 order by time, value")
    },
    // the batched DELETE on its own throwaway store (the shared one must
    // stay byte-stable for the serve curves): value >= 300 hits ~30% of
    // hour partitions at every mult, so affected partitions grow with
    // mult while the JOB count stays constant
    "delete_bounded" -> { (c: Ctx) =>
      val s = new SeriesStore(c.spark, s"${c.work}/del")
      s.append(timeAxisPoints(c))
      SkipIndex.build(s, SkipIndex.dirFor(s))
      () => {
        val report = Maintenance.deleteRows(s, col("value") >= 300, ScanProbe(lo = Some(0L)))
        c.spark.range(report.rewrittenHours.length.toLong)
          .select(lit(report.deletedRows).as("deleted"))
      }
    },
    // NAME-selector probe: a fixed 12-hour `from click` prunes on the
    // manifest's name bloom — tracks the pruned file count + one manifest
    // read, never the store size
    "name_skip_probe" -> { (c: Ctx) =>
      val s = servedStore(c)
      () => served(s, "time, value", halfDay, " order by time, value")
    },
    // TAG-equality probe: the name probe plus the k=v tag bloom; every
    // hour file holds all 8 users here, so the curve pins the probe's
    // ADDED cost staying flat as the manifest grows
    "tag_skip_probe" -> { (c: Ctx) =>
      val s = servedStore(c)
      () => served(s, "time, value", halfDay, " and tag.user = '3' order by time, value")
    },
    // the OR'd multi-select twin: must sit on tag_skip_probe's curve
    "tag_skip_or_probe" -> { (c: Ctx) =>
      val s = servedStore(c)
      () => served(s, "time, value", halfDay,
        " and (tag.user = '3' or tag.user = '5') order by time, value")
    },
    // the STREAMING cell-maintenance twin at mult× ingest: a 1× seed store
    // with tag/ndv tiers, then the time-axis points staged as exactly 8
    // files = 8 micro-batches (maxFilesPerTrigger=1). Per-batch cost must
    // track BATCH rows + touched-day cell rows, never the store size.
    "stream_cells_maint" -> { (c: Ctx) =>
      val root = s"${c.work}/stream"
      val s = new SeriesStore(c.spark, s"$root/store")
      s.append(Tables.seriesView(c.spark, c.sfDir).select("series", "tags", "time", "value"))
      SketchCells.build(s, SketchCells.dirFor(s), groupTags = Seq("user"), ndvTags = Seq("user"))
      timeAxisPoints(c)
        .select(col("series"), graft.core.Functions.seriesId(col("series"), col("tags"))
          .as("series_id"), col("tags"), col("time"), col("value"))
        .repartition(8).write.parquet(s"$root/in")
      () => {
        val inSchema = c.spark.read.parquet(s"$root/in").schema
        graft.streaming.StreamOps.tdigestCellMaintenance(
          c.spark.readStream.schema(inSchema)
            .option("maxFilesPerTrigger", 1).parquet(s"$root/in"),
          SketchCells.dirFor(s), s"$root/ckpt").awaitTermination()
        c.spark.read.parquet(s"${SketchCells.dirFor(s)}/td")
      }
    })

  /** One amplified copy of every driver table under `out` (overwritten
    * per invocation).
    */
  def writeAmplified(spark: SparkSession, sfDir: String, out: String,
      mult: Int): Unit = {
    val alpha = "abcdefghijklmnopqrstuvwxyz"
    def rot(s: String, i: Int) = s.drop(i % 26) + s.take(i % 26)

    val tables: Seq[(String, DataFrame)] = Seq(
      "lineitem" -> amp(Tables.lineitem(spark, sfDir), mult)(
        shift("l_orderkey", "l_partkey", "l_suppkey")),
      "orders" -> amp(Tables.orders(spark, sfDir), mult)(shift("o_orderkey", "o_custkey")),
      "customer" -> amp(Tables.customer(spark, sfDir), mult)(shift("c_custkey", "c_nationkey")),
      "supplier" -> amp(Tables.supplier(spark, sfDir), mult)(shift("s_suppkey", "s_nationkey")),
      "part" -> amp(Tables.part(spark, sfDir), mult)(shift("p_partkey")),
      "nation" -> amp(Tables.nation(spark, sfDir), mult)(shift("n_nationkey", "n_regionkey")),
      "region" -> amp(Tables.region(spark, sfDir), mult)(shift("r_regionkey")),
      // events: same window, mult× density; user_id + i*8 keeps the %8 tag
      // classes of every copy
      "events" -> amp(spark.read.parquet(s"$sfDir/events.parquet"), mult)((df, i) =>
        df.withColumn("user_id", col("user_id") + lit(i.toLong * 8L))),
      "documents" -> amp(Tables.documents(spark, sfDir), mult)((df, i) =>
        shift("doc_id")(df, i)
          .withColumn("text",
            if (i == 0) col("text")
            else translate(col("text"), alpha + alpha.toUpperCase,
              rot(alpha, i) + rot(alpha.toUpperCase, i)))),
      "embeddings" -> amp(Tables.embeddings(spark, sfDir), mult)((df, i) =>
        shift("vec_id")(df, i)
          .withColumn("embedding",
            if (i == 0) col("embedding")
            else {
              val e = col("embedding")
              zip_with(e, sequence(lit(0), size(e) - 1), (x, d) =>
                when(pmod(xxhash64(lit(i), d), lit(2L)) === 0, x)
                  .otherwise(x * lit(-1)))
            })))
    tables.foreach { case (name, df) =>
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")
    }
  }
}
