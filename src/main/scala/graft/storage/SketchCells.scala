package graft.storage

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, DataType, DoubleType, LongType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** At-rest day-cell store for a [[SeriesStore]] — the engine-facing
  * slice of the sketch tier: one row of mergeable partials per
  * (series, day) cell, day-PARTITIONED parquet, so any later aggregate
  * over a day-aligned window is a partition-pruned read + partial merge
  * — never a raw-point rescan. `q_ts_tdigest` gates the sketch math;
  * this object gives the store a PLACE for the cells and
  * [[graft.sydraql.Engine]] a routing rule: a sydraQL aggregate whose
  * group keys coarsen the (series, day) cell keys is served from here
  * instead of the raw scan.
  *
  * The cell format is defined ONCE, here: [[partials]] is the table of
  * partial columns — each with its aggregate over raw points and its
  * merge aggregate over partials — and [[servedAggs]] (plus
  * [[quantileServed]]/[[ndvServed]]) the table of served aggregates —
  * the partials each reads and its final column. The batch build and
  * [[refresh]] ([[cellsOf]]), the streaming twin
  * ([[graft.streaming.StreamOps.tdigestCellMaintenance]]: [[cellsOf]] +
  * [[mergeCells]]) and the engine's served and hybrid merges all read
  * these two tables, so the writers and the reader cannot drift apart.
  * Each partial also carries its merge on the driver ([[Partial.local]]):
  * a served window whose cells fit one split ([[mergePartitions]]) is
  * read ([[readLocal]], behind a listing freshness guard) and merged
  * ([[mergeLocal]]) in-process, with no Spark job.
  *
  * Scale shape: the build is one partial-aggregated pass over the store
  * per table (digest state is bounded per cell); the store is
  * O(series × days) KB-sized rows; serving reads only the probed days'
  * partitions (PlanSpec pins the PartitionFilters). Append freshness
  * follows the skip-manifest stance ([[SkipIndex.dirFor]]):
  * [[SeriesStore.append]] recomputes the touched days when the store
  * exists — a stale cell would silently under-count, the one failure
  * mode that isn't loud. Since r13 every [[Maintenance]] mutator
  * (deleteRows, retention, compaction) runs the same refresh hook for
  * what it touched, so engine DELETEs and TTL sweeps can no longer leave
  * the cells serving deleted rows.
  */
object SketchCells {

  /** Engine-integration convention: a store's cells live at
    * `<root>/sketchcells`.
    */
  def dirFor(store: SeriesStore): String = s"${store.root}/sketchcells"

  /** Memoized per (dir, refresh generation) — [[MetaCache]]: existence,
    * NDV keys and group keys are pure metadata a dashboard pays on EVERY
    * served query; every writer ([[build]], [[refresh]] incl. the
    * whole-store drop, the streaming maintenance twin) bumps the
    * generation via [[invalidate]].
    */
  def exists(spark: SparkSession, dir: String): Boolean =
    MetaCache.cached(dir, "exists") {
      val p = new org.apache.hadoop.fs.Path(s"$dir/td")
      java.lang.Boolean.valueOf(
        p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p))
    }.booleanValue()

  /** Writer hook: bump `dir`'s metadata generation after mutating the
    * tier outside [[build]]/[[refresh]] (the streaming twin's publishes).
    */
  def invalidate(dir: String): Unit = MetaCache.invalidate(dir)

  /** One cell partial: its column, its aggregate over raw points
    * (`time`, `value`, `tags`), its merge aggregate over a frame of
    * partials carrying that column, and the same merge on the driver
    * ([[Local]]).
    */
  private[graft] final case class Partial(name: String, raw: Column, merge: Column, local: Local)

  /** A partial's merge on the driver: one group's values of a column of
    * type `t`, in Catalyst's internal form (NULLs included) and in merge
    * order, to the merged value. It answers what the Spark merge
    * aggregate answers over the same cells in one partition in the same
    * order.
    */
  private[graft] type Local = (DataType, Iterator[Any]) => Any

  private object Local {
    /** `first`: the first value, NULL or not. */
    val first: Local = (_, vs) => if (vs.hasNext) vs.next() else null

    /** `sum`: Spark's `Sum` — NULLs skipped, NULL when none, each value
      * added to the running sum or to 0 (so a lone -0.0 sums to 0.0).
      */
    val sum: Local = (t, vs) => t match {
      case LongType => vs.foldLeft(null: Any) {
        case (r, null) => r
        case (r, v) => (if (r == null) 0L else r.asInstanceOf[Long]) + v.asInstanceOf[Long]
      }
      case DoubleType => vs.foldLeft(null: Any) {
        case (r, null) => r
        case (r, v) => (if (r == null) 0.0 else r.asInstanceOf[Double]) + v.asInstanceOf[Double]
      }
      case other => throw new IllegalArgumentException(s"no driver sum over $other")
    }

    /** `min`/`max` under Spark's own ordering of `t` (NaN above every
      * number, -0.0 equal to 0.0, NULL struct fields first); NULLs
      * skipped, and an equal later value does not replace the kept one,
      * as `least`/`greatest` keep theirs.
      */
    def extreme(max: Boolean): Local = { (t, vs) =>
      val o = org.apache.spark.sql.catalyst.util.TypeUtils.getInterpretedOrdering(t)
      vs.foldLeft(null: Any)((r, v) =>
        if (v != null && (r == null || (if (max) o.gt(v, r) else o.lt(v, r)))) v else r)
    }

    val tdigest: Local = (_, vs) => graft.functions.TDigest.mergeAll(vs)
    val theta: Local = (_, vs) => graft.functions.ThetaSketch.unionAll(vs)
  }

  /** The cell's day: the epoch-second floor every writer groups by. */
  private[graft] def day: Column = col("time") - pmod(col("time"), lit(86400L))

  /** A tag tier's cell key: the value of tag `k` (NULL where absent). */
  private[graft] def tagval(k: String): Column =
    try_element_at(col("tags"), lit(k)).as("tagval")

  private def point = struct(col("time").as("t"), col("value").as("v"))

  /** The partial table, in on-disk column order (between the cell keys
    * and `day`). Beside the t-digest and `n_rows`, the basic partials
    * (r14) let the engine serve `avg/sum/count/min/max(value)` EXACTLY
    * (avg = merged sum / merged non-null count; min/max/counts merge
    * losslessly) — the reference's own RollupHint breadcrumb
    * (`src/sydra/query/plan.zig:19-21`, `physical.zig:47-54`) marks
    * exactly these plans for pre-aggregated serving.
    *
    * first/last partials: min/max over struct(time, value) IS the raw
    * route's min_by/max_by on (time, value) — lexicographic struct
    * ordering, value tiebreak included — and the struct min of day
    * minima is the window's min, so first/last coarsen like min/max.
    * Two variants because the language's aggregates disagree on nulls:
    * first()/last() rank null-valued rows (fl_*), delta()/rate() skip
    * them (nn_*, the orderedExtremes contract) — serving must be
    * raw-route-exact on EITHER, whatever the store holds.
    *
    * NDV partials (`theta_<k>`, one per key in `thetaKeys`) are THETA
    * sketches (lgK 12), the SAME estimator family — same lgK, same
    * exact-mode range — as the raw-scan `ndv()` route (Compiler's
    * ThetaSketch.agg): creating or dropping the cell tier must never
    * change what a query returns merely by switching estimator (the r12
    * HLL cells did exactly that past the sparse range). The value is
    * cast to string exactly as the raw route casts its argument, so both
    * routes hash identical bytes; merge = blob union.
    */
  private[graft] def partials(thetaKeys: Seq[String]): Seq[Partial] = Seq(
    Partial("series", first(col("series")), first(col("series")), Local.first),
    Partial("td", graft.functions.TDigest.agg(col("value")),
      graft.functions.TDigest.mergeAgg(col("td")), Local.tdigest),
    Partial("n_rows", count(lit(1)), sum(col("n_rows")), Local.sum),
    Partial("sum_v", sum(col("value")), sum(col("sum_v")), Local.sum),
    Partial("min_v", min(col("value")), min(col("min_v")), Local.extreme(max = false)),
    Partial("max_v", max(col("value")), max(col("max_v")), Local.extreme(max = true)),
    // non-null count — the avg/count(value) denominator
    Partial("n_vals", count(col("value")), sum(col("n_vals")), Local.sum),
    Partial("fl_first", min(point), min(col("fl_first")), Local.extreme(max = false)),
    Partial("fl_last", max(point), max(col("fl_last")), Local.extreme(max = true)),
    Partial("nn_first", min(when(col("value").isNotNull, point)), min(col("nn_first")),
      Local.extreme(max = false)),
    Partial("nn_last", max(when(col("value").isNotNull, point)), max(col("nn_last")),
      Local.extreme(max = true))) ++
    thetaKeys.map(k => Partial(s"theta_$k",
      graft.functions.ThetaSketch.agg(try_element_at(col("tags"), lit(k)).cast("string")),
      graft.functions.ThetaSketch.unionAgg(col(s"theta_$k")), Local.theta))

  /** The rows of [[partials]] named in `names`, in table order. */
  private[graft] def partialsNamed(names: Set[String]): Seq[Partial] =
    partials(names.toSeq.filter(_.startsWith("theta_"))
      .map(_.stripPrefix("theta_")).sorted).filter(p => names(p.name))

  /** One served aggregate: the partials it reads, and its final column
    * given each partial's MERGED column (`m(name)`).
    */
  private[graft] final case class Served(reads: Seq[String],
      result: (String => Column) => Column)

  private def nnDelta(m: String => Column) =
    m("nn_last").getField("v") - m("nn_first").getField("v")

  /** The served-aggregate table, keyed by the sydraQL call over `value`.
    * avg = merged sum / merged non-null count — the raw route's exact
    * value up to double fold order (the gates' rounding discipline); the
    * others merge losslessly. delta/rate read the null-skipping extremes
    * (orderedExtremes parity): subtractions of exact point values,
    * bit-exact vs raw.
    */
  private[graft] val servedAggs: Map[String, Served] = Map(
    "avg" -> Served(Seq("sum_v", "n_vals"), m => m("sum_v") / m("n_vals")),
    "sum" -> Served(Seq("sum_v"), _("sum_v")),
    "min" -> Served(Seq("min_v"), _("min_v")),
    "max" -> Served(Seq("max_v"), _("max_v")),
    // a merged count over no cells (a window holding no cell day) is the
    // raw route's 0, not the sum's NULL
    "count()" -> Served(Seq("n_rows"), m => coalesce(m("n_rows"), lit(0L))),
    "count(value)" -> Served(Seq("n_vals"), m => coalesce(m("n_vals"), lit(0L))),
    "first" -> Served(Seq("fl_first"), _("fl_first").getField("v")),
    "last" -> Served(Seq("fl_last"), _("fl_last").getField("v")),
    "delta" -> Served(Seq("nn_first", "nn_last", "n_vals"),
      m => when(m("n_vals") >= 1, nnDelta(m))),
    "rate" -> Served(Seq("nn_first", "nn_last", "n_vals"), { m =>
      val dt = m("nn_last").getField("t") - m("nn_first").getField("t")
      when(m("n_vals") >= 2 && dt > 0, nnDelta(m) / dt.cast("double"))
    }))

  /** `percentile_approx(value, p)`: the merged t-digest's quantile. */
  private[graft] def quantileServed(p: Double): Served =
    Served(Seq("td"), m => graft.functions.TDigest.quantileOf(m("td"), p))

  /** `ndv(tag.k)`: the merged theta union's estimate, cast to double —
    * the raw ndv route's type, so routing never changes the result
    * schema.
    */
  private[graft] def ndvServed(k: String): Served =
    Served(Seq(s"theta_$k"), m =>
      graft.functions.ThetaSketch.estimate(m(s"theta_$k")).cast("double"))

  /** On-disk column order of a td (`tagged` = false) or tag-tier table. */
  private def layout(tagged: Boolean, thetaKeys: Seq[String]): Seq[Column] =
    (Seq("series_id", "series") ++ (if (tagged) Seq("tagval") else Nil) ++
      partials(thetaKeys).map(_.name).filterNot(_ == "series") :+ "day").map(col)

  /** Fresh cells of raw `points`: the raw aggregates per
    * (series_id, day) — or, for tag tier `tagKey`, per
    * (series_id, tagval, day) — in on-disk column order.
    */
  private[graft] def cellsOf(points: DataFrame, tagKey: Option[String],
      thetaKeys: Seq[String]): DataFrame = {
    val aggs = partials(thetaKeys).map(p => p.raw.as(p.name))
    points
      .groupBy((Seq(col("series_id")) ++ tagKey.map(tagval) :+ day.as("day")): _*)
      .agg(aggs.head, aggs.tail: _*)
      .select(layout(tagKey.isDefined, thetaKeys): _*)
  }

  /** Merge a frame of cells (same layout, possibly several rows per
    * cell) into one row per cell with the merge aggregates.
    */
  private[graft] def mergeCells(cells: DataFrame, tagged: Boolean,
      thetaKeys: Seq[String]): DataFrame = {
    val aggs = partials(thetaKeys).map(p => p.merge.as(p.name))
    cells
      .groupBy((Seq("series_id") ++ (if (tagged) Seq("tagval") else Nil) :+ "day").map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .select(layout(tagged, thetaKeys): _*)
  }

  /** Loud legacy guard for incremental writers ([[refresh]], the
    * streaming twin), returning the table's theta keys: they write
    * recomputed day partitions with the CURRENT schema while untouched
    * days keep theirs — on a table whose schema predates it (r12 `hll_*`
    * NDV cells, or pre-r14 cells without the basic partials) that would
    * leave inconsistent per-partition schemas, and which columns a later
    * read sees would depend on which footer Spark samples. Mixed schemas
    * are a silent-corruption mode; demand the rebuild instead.
    */
  private[graft] def requireCurrent(path: String, cols: Seq[String]): Seq[String] = {
    if (cols.exists(_.startsWith("hll_")))
      throw new IllegalStateException(
        s"cell table at $path carries pre-r13 hll_* NDV cells; an incremental " +
          "update would mix schemas across day partitions — rebuild via " +
          "SketchCells.build (NDV cells are theta sketches since r13)")
    val missing = partials(Nil).map(_.name).filterNot(cols.contains)
    if (missing.nonEmpty)
      throw new IllegalStateException(
        s"cell table at $path lacks the partial columns " +
          s"(${missing.mkString(", ")}); an incremental update would mix " +
          "schemas across day partitions — rebuild via SketchCells.build")
    cols.filter(_.startsWith("theta_")).map(_.stripPrefix("theta_"))
  }

  /** Tag-tier layout: one cell per (series, day, tag `k`=v), its own
    * day-partitioned table per key — the tier that serves `GROUP BY
    * tag.k` (and `tag.k = 'v'` filters) without a raw rescan. Since r14
    * the tag tier also carries the store's theta NDV cells, so
    * `ndv(tag.j) … GROUP BY tag.k` — "distinct users per host per day" —
    * merges KB blobs instead of rescanning raw points.
    */
  def tagDir(dir: String, k: String): String = s"$dir/tdtag/$k"

  /** Build (overwrite) the full cell store: one t-digest per
    * (series, day), plus — per `ndvTags` key — a theta sketch of that
    * tag's distinct values (the NDV half the engine's `ndv(tag.k)`
    * routing serves from), plus — per `groupTags` key — a tag-keyed
    * t-digest tier ([[tagDir]]) for `GROUP BY tag.k` serving. The store
    * is self-describing: `theta_<k>` columns record the NDV keys,
    * `tdtag/<k>` child dirs record the group keys, and [[refresh]]
    * re-derives both from what exists so incremental upkeep can never
    * silently change the store's shape.
    */
  def build(store: SeriesStore, dir: String, ndvTags: Seq[String] = Seq.empty,
      groupTags: Seq[String] = Seq.empty): Unit = {
    require(!store.isEmpty, s"store at ${store.root} has no flushed segments")
    cellsOf(store.scan(), None, ndvTags)
      .write.mode(SaveMode.Overwrite)
      // full rebuild replaces the WHOLE store: static overwrite explicitly,
      // so a session whose conf defaults to dynamic can never leave
      // removed-day partitions behind
      .option("partitionOverwriteMode", "static")
      .partitionBy("day").parquet(s"$dir/td")
    groupTags.foreach { k =>
      // the tag tier carries the SAME theta NDV keys as the td table, so
      // any NDV a global window can serve, a tag-grouped one can too
      cellsOf(store.scan(), Some(k), ndvTags)
        .write.mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "static")
        .partitionBy("day").parquet(tagDir(dir, k))
    }
    // a rebuild may add/remove NDV or group-tag tiers: the serving
    // metadata memo must reload
    MetaCache.invalidate(dir)
  }

  /** Tag keys with a [[tagDir]] group tier in the store (memoized —
    * one directory listing per refresh generation, not per query).
    */
  def groupTagsOf(spark: SparkSession, dir: String): Seq[String] =
    MetaCache.cached(dir, "groupTags") {
      val p = new org.apache.hadoop.fs.Path(s"$dir/tdtag")
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      if (!fs.exists(p)) Seq.empty[String]
      else fs.listStatus(p).toSeq.filter(_.isDirectory).map(_.getPath.getName).sorted
    }

  def readTag(spark: SparkSession, dir: String, k: String): DataFrame =
    readTable(spark, dir, s"tdtag/$k").df

  /** Recompute ONLY `days`' cells from the store (a read of exactly
    * their hour dirs, [[SeriesStore.scanHours]]) and overwrite exactly
    * those day partitions — the incremental
    * ingest path (same dynamic-partition-overwrite shape as the
    * streaming sketch-maintenance twin). The NDV tag keys come from the
    * existing store's schema. The dynamic mode is a WRITER option only —
    * never a session conf set (a leaked session-wide dynamic mode would
    * silently turn a later [[build]]'s intended full overwrite into a
    * partial one).
    *
    * Days in `days` with NO remaining rows (a delete or retention emptied
    * them) produce no fresh cells, which dynamic overwrite alone would
    * leave serving stale estimates — their partitions are dropped
    * explicitly after the write. (A crash between write and drop leaves
    * the emptied day's old cells behind — the same bounded crash window
    * as a crash before any refresh; the next refresh of that day heals it.)
    */
  def refresh(store: SeriesStore, dir: String, days: Seq[Long]): Unit = {
    if (days.isEmpty) return
    val spark = store.spark
    // each table is self-describing: recompute it with ITS theta keys.
    // The legacy guard reads each table's schema from disk, not the
    // serving memo: it guards what this write mixes with, so it checks
    // what is there, once per refresh rather than per query
    def onDisk(path: String) = spark.read.parquet(path).columns.toSeq
    val ndvKeys = requireCurrent(s"$dir/td", onDisk(s"$dir/td"))
    val tiers = groupTagsOf(spark, dir).map(k =>
      k -> requireCurrent(tagDir(dir, k), onDisk(tagDir(dir, k))))
    // exactly the touched days' hour dirs: a filter on `day` (an
    // expression of `time`) would prune no hour partition. A day keeps
    // cells iff one of its hour dirs remains (no writer leaves an empty one)
    val hours = store.partitions().filter(h => days.contains(SeriesStore.dayOf(h)))
    val touched = store.readHours(hours)
    val remaining = hours.map(SeriesStore.dayOf).toSet
    // one sweep per table (td + each group-tag tier): dynamic-overwrite
    // the recomputed days, drop the emptied ones
    def sweep(path: String, fresh: => DataFrame): Unit = {
      if (remaining.nonEmpty)
        fresh.write.mode(SaveMode.Overwrite)
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("day").parquet(path)
      val root = new org.apache.hadoop.fs.Path(path)
      val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
      days.filterNot(remaining.contains).foreach { d =>
        fs.delete(new org.apache.hadoop.fs.Path(root, s"day=$d"), true)
      }
    }
    sweep(s"$dir/td", cellsOf(touched, None, ndvKeys))
    tiers.foreach { case (k, nk) => sweep(tagDir(dir, k), cellsOf(touched, Some(k), nk)) }
    // everything emptied → no partitions left to read; drop the whole
    // store (td + tag tiers) so exists() turns false and the engine
    // falls through to the raw route
    val tdRoot = new org.apache.hadoop.fs.Path(s"$dir/td")
    val fs = tdRoot.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(tdRoot) &&
        !fs.listStatus(tdRoot).exists(_.getPath.getName.startsWith("day="))) {
      fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    }
    // any refresh (including the whole-store drop above) changes what the
    // serving metadata would answer — bump the memo generation
    MetaCache.invalidate(dir)
  }

  /** Refresh the store-convention cells for `days`, if the store exists. */
  def autoRefresh(store: SeriesStore, days: Seq[Long]): Unit = {
    val dir = dirFor(store)
    if (days.nonEmpty && exists(store.spark, dir)) refresh(store, dir, days)
  }

  def read(spark: SparkSession, dir: String): DataFrame = readTable(spark, dir, "td").df

  /** A cell table's metadata as memoized per refresh generation: its
    * data files (path, bytes), sorted by path, and its schema.
    */
  private[graft] final case class Meta(files: Seq[(String, Long)], schema: StructType) {
    /** Bytes per `day=<d>` partition directory. */
    val dayBytes: Map[Long, Long] =
      files.groupMapReduce { case (p, _) => dayOf(p) }(_._2)(_ + _)

    /** The data files of the day partitions in [lo, hi), in path order. */
    def filesIn(lo: Long, hi: Long): Seq[(String, Long)] =
      files.filter { case (p, _) => val d = dayOf(p); d >= lo && d < hi }

    /** Bytes of the day partitions in [lo, hi). */
    def bytesIn(lo: Long, hi: Long): Long =
      dayBytes.iterator.collect { case (d, b) if d >= lo && d < hi => b }.sum
  }

  /** A cell table as served by Spark: the frame, and the metadata it was
    * read under.
    */
  private[graft] final case class Table(df: DataFrame, meta: Meta)

  /** The data files (path, bytes) of a file-source frame, from the file
    * index its read already listed — no further filesystem call.
    */
  private def dataFiles(df: DataFrame): Seq[(String, Long)] = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
      LogicalRelation, PartitioningAwareFileIndex}
    df.queryExecution.analyzed.collectFirst {
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) => fs.location
    }.collect { case i: PartitioningAwareFileIndex =>
      i.allFiles().map(f => (f.getPath.toString, f.getLen))
    }.getOrElse(Nil).sorted
  }

  /** The `day=<d>` partition a data file sits in. */
  private def dayOf(file: String): Long =
    new org.apache.hadoop.fs.Path(file).getParent.getName.stripPrefix("day=").toLong

  /** Partitions the served merge needs for `bytes` of cell files: Spark's
    * split-size rule (`FilePartition.maxSplitBytes` over
    * `spark.sql.files.maxPartitionBytes`, `openCostInBytes` and the
    * default parallelism) applied to the files' own bytes. The file scan
    * itself charges `openCostInBytes` (4 MB) per file, so it plans one task
    * per KB-sized cell file, and the merge then needs an Exchange — a
    * second job for a few KB of partials.
    *
    * One partition is also the bound for merging on the driver
    * ([[readLocal]]): at default settings, cells up to `openCostInBytes`
    * (4 MB) are read and merged in-process with no Spark job.
    */
  private[graft] def mergePartitions(spark: SparkSession, bytes: Long): Int = {
    val split = org.apache.spark.sql.execution.datasources.FilePartition
      .maxSplitBytes(spark, bytes)
    math.max(1L, (bytes + split - 1) / split).toInt
  }

  /** The metadata of the cell table at `dir/table` (`td` or
    * `tdtag/<k>`), memoized per refresh generation of `dir`
    * ([[MetaCache]]): a bare `spark.read.parquet` runs a one-task
    * schema-inference job on every call, i.e. on every served query, for
    * a schema that only a writer changes. Every writer of the tier bumps
    * the generation, so a rebuild that adds or drops NDV keys is seen at
    * the next read, in this JVM and in others.
    *
    * The memo holds the StructType, not a DataFrame (a schema does not
    * depend on the session), plus the table's data files and their bytes
    * at load.
    */
  private[graft] def meta(spark: SparkSession, dir: String, table: String): Meta =
    MetaCache.cached(dir, s"schema:$table") {
      val df = spark.read.parquet(s"$dir/$table")
      Meta(dataFiles(df), df.schema)
    }

  /** The cell table at `dir/table` as a Spark frame, read with its
    * memoized [[meta]].
    *
    * Only the memoized `day=` directories inside [lo, hi) are read (with
    * `basePath`, so `day` stays a partition column), the way
    * [[SeriesStore.scanRange]] reads hours: a read of the table root lists
    * every day, and above
    * `spark.sql.sources.parallelPartitionDiscovery.threshold` (32 paths)
    * it runs that listing as a Spark job on every served query. A window
    * holding no cell day reads an empty frame of the memoized schema.
    *
    * A read that lists other files for the days it read (or cannot read a
    * memoized day) — a rewrite that bypassed the writer hook — reads the
    * whole table again and infers instead of trusting the memo: a schema
    * naming a column the files lack would read it as NULL, and the
    * engine's served-partials check, which reads these columns, would
    * serve NULLs.
    *
    * The frame itself is not memoized, so each read lists the window's day
    * partitions again (a fresh file index). Measured without an
    * end-to-end gain: a variant that memoized the frame per session,
    * guarded by a driver-side Hadoop listing of the table's files, cut
    * `sydraql.compile_us` from 21–24 to 16–17 ms in three traced seed-7
    * dashboard pairs on 4 cores, but the cells-only shapes' median wall
    * times were slower in one pair, faster in one and mixed in the third.
    * That measurement covers the Spark route only: a window that fits one
    * split builds no frame at all ([[readLocal]]).
    */
  private[graft] def readTable(spark: SparkSession, dir: String, table: String,
      lo: Long = Long.MinValue, hi: Long = Long.MaxValue): Table = {
    val path = s"$dir/$table"
    val m = meta(spark, dir, table)
    val read = scala.util.Try(m.dayBytes.keys.filter(d => d >= lo && d < hi).toSeq.sorted match {
      case Seq() => spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], m.schema)
      case ds => spark.read.schema(m.schema).option("basePath", path)
        .parquet(ds.map(d => s"$path/day=$d"): _*)
    }).toOption
    read.filter(dataFiles(_) == m.filesIn(lo, hi)) match {
      case Some(df) => Table(df, m)
      case None =>
        val fresh = spark.read.parquet(path)
        Table(fresh, Meta(dataFiles(fresh), fresh.schema))
    }
  }

  /** A window's cells as read on the driver: one row per cell, `day`
    * first and then the columns asked for, in Catalyst's internal form, in
    * day, file and row order; and the files read (path, bytes).
    */
  private[graft] final case class LocalCells(rows: Seq[InternalRow], files: Seq[(String, Long)])

  /** Cell files opened by [[readLocal]], so tests can pin which requests
    * read cells.
    */
  private[graft] val localFilesRead = new java.util.concurrent.atomic.AtomicLong()

  /** Read columns `cols` of the cell table `dir/table`'s days in [lo, hi)
    * on the driver, with no Spark job and no DataFrame: for a window whose
    * cells fit one split ([[mergePartitions]]), a job's planning and
    * scheduling cost several times the merge itself.
    *
    * Freshness guard: the memoized days in the window are listed again
    * through the root's Hadoop `FileSystem`, and the listing must equal
    * the memo's (path, bytes) for those days. Any difference — a day
    * rewritten behind the writer hook (a new file name or length), a day
    * gone, or a file lacking one of `cols` — answers None, and the caller
    * takes the Spark route, which re-reads and re-infers ([[readTable]]).
    * Like that route, it reads only the memo's days.
    *
    * The parquet read options are built once per call; each file opens
    * from its listed `FileStatus`, with no further filesystem call.
    */
  private[graft] def readLocal(dir: String, table: String, m: Meta, lo: Long, hi: Long,
      cols: Seq[String]): Option[LocalCells] = {
    import org.apache.hadoop.fs.{FileStatus, Path}
    import org.apache.parquet.example.data.Group
    val conf = MetaCache.hadoopConf()
    val root = new Path(s"$dir/$table")
    val fs = root.getFileSystem(conf)
    def isData(st: FileStatus): Boolean = {
      val n = st.getPath.getName
      st.isFile && !n.startsWith("_") && !n.startsWith(".")
    }
    val days = m.dayBytes.keys.filter(d => d >= lo && d < hi).toSeq.sorted
    val listed: Seq[(Long, FileStatus)] =
      try days.flatMap(d => fs.listStatus(new Path(root, s"day=$d")).toSeq.filter(isData)
        .sortBy(_.getPath.toString).map(d -> _))
      catch { case _: java.io.FileNotFoundException => return None }
    val files = listed.map { case (_, st) => (st.getPath.toString, st.getLen) }
    if (files.sorted != m.filesIn(lo, hi)) return None
    val types = cols.map(c => m.schema(c).dataType)
    // a parquet value of Spark type `t` in Catalyst's internal form
    def value(g: Group, i: Int, t: DataType): Any =
      if (g.getFieldRepetitionCount(i) == 0) null
      else t match {
        case LongType => g.getLong(i, 0)
        case DoubleType => g.getDouble(i, 0)
        case _: StringType => UTF8String.fromBytes(g.getBinary(i, 0).getBytes)
        case BinaryType => g.getBinary(i, 0).getBytes
        case st: StructType =>
          val sg = g.getGroup(i, 0)
          new GenericInternalRow(st.fields.map(f =>
            value(sg, sg.getType.getFieldIndex(f.name), f.dataType)))
        case other => throw new IllegalStateException(s"no driver read of $other cells")
      }
    val options = org.apache.parquet.HadoopReadOptions.builder(conf).build()
    // one file's rows (day, `cols`…); None when it lacks one of `cols`
    def readFile(day: Long, st: FileStatus): Option[Seq[InternalRow]] = {
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf), options)
      localFilesRead.incrementAndGet()
      try {
        val fileSchema = reader.getFooter.getFileMetaData.getSchema
        if (!cols.forall(fileSchema.containsField)) None
        else {
          val requested = new org.apache.parquet.schema.MessageType(fileSchema.getName,
            cols.map(c => fileSchema.getType(fileSchema.getFieldIndex(c))): _*)
          reader.setRequestedSchema(requested)
          val io = new org.apache.parquet.io.ColumnIOFactory().getColumnIO(requested, fileSchema)
          val rows = Seq.newBuilder[InternalRow]
          var pages = reader.readNextRowGroup()
          while (pages != null) {
            val records = io.getRecordReader(pages,
              new org.apache.parquet.example.data.simple.convert.GroupRecordConverter(requested))
            var n = 0L
            while (n < pages.getRowCount) {
              val g = records.read()
              rows += new GenericInternalRow(
                (day +: types.indices.map(i => value(g, i, types(i)))).toArray)
              n += 1
            }
            pages = reader.readNextRowGroup()
          }
          Some(rows.result())
        }
      } finally reader.close()
    }
    val rows = Seq.newBuilder[InternalRow]
    val complete = listed.forall { case (day, st) =>
      readFile(day, st).exists { rs => rows ++= rs; true }
    }
    if (complete) Some(LocalCells(rows.result(), files)) else None
  }

  /** The merge aggregates of `parts` on the driver: `rows` grouped by
    * `key` (None: one global group, present even over no rows, as a
    * global aggregate answers one row), each group's values of each
    * partial (`(partial, column index, type)`) merged in row order by
    * [[Partial.local]]. One row per group, in no particular order: the
    * key's values, then the merged partials.
    */
  private[graft] def mergeLocal(rows: Seq[InternalRow], key: Option[InternalRow => Seq[Any]],
      parts: Seq[(Partial, Int, DataType)]): Seq[InternalRow] = {
    val groups = key.fold(Seq(Seq.empty[Any] -> rows))(rows.groupBy(_).toSeq)
    groups.map { case (k, rs) =>
      new GenericInternalRow((k ++ parts.map { case (p, i, t) =>
        p.local(t, rs.iterator.map(_.get(i, t)))
      }).toArray)
    }
  }

  /** The store's series count from its `td` cells (distinct `series_id`)
    * instead of a scan of every point. Cells that fit one split
    * ([[mergePartitions]]) are read on the driver ([[readLocal]]); larger
    * tables, or a failed freshness guard, count with Spark.
    */
  def seriesCount(spark: SparkSession, dir: String): Long = {
    val m = meta(spark, dir, "td")
    val local =
      if (mergePartitions(spark, m.files.map(_._2).sum) > 1) None
      else readLocal(dir, "td", m, Long.MinValue, Long.MaxValue, Seq("series_id"))
    local.fold(readTable(spark, dir, "td").df.select("series_id").distinct().count())(
      _.rows.map(_.getLong(1)).distinct.size.toLong)
  }
}
