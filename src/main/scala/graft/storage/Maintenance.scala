package graft.storage

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.{FileSystem, FileUtil, Path => HPath}

/** Compaction + retention jobs, ported semantics:
  *  - compaction merges each (series, hour)'s rows and dedups identical
  *    timestamps keeping the LAST write
  *    (`/root/reference/src/sydra/storage/compact.zig:36-50`) — arrival
  *    order here is the monotone `seq` column;
  *  - retention drops whole hour partitions older than the TTL cutoff
  *    (`storage/retention.zig:4-20`) — a metadata-only partition delete.
  *
  * All filesystem traffic goes through the Hadoop [[FileSystem]] API
  * resolved from each path's own scheme, so the same code runs on
  * file://, hdfs:// and s3a:// stores.
  *
  * The swap protocol. Every in-place rewrite in the project — the
  * segment rewrites here, the skip manifest ([[SkipIndex.refresh]]), the
  * text index's buckets and meta (`TextIndex.append`) and the IVF
  * index's cells and whole-index rebalance (`IvfIndex.compact`,
  * `IvfIndex.rebalance`) — replaces child dirs of one root through
  * [[swapIn]], and [[recoverSwaps]] is its only recovery:
  *  1. the replacements are written under `root/_repack_tmp`; Spark's file
  *     listing ignores underscore-prefixed dirs, so a concurrent reader
  *     never sees a half-written child, and the write completes before
  *     any live dir is touched;
  *  2. per child: the live dir is parked in `root/_repack_old`, the
  *     replacement renamed in, the parked copy deleted; a child the write
  *     left no replacement for is deleted by its park;
  *  3. a crash is repaired by [[recoverSwaps]], which every rewrite entry
  *     runs first: a parked child whose live dir is missing died between
  *     the two renames and is restored; one whose live dir exists is a
  *     completed swap and is dropped; the scratch root is discarded.
  * Each child's swap is atomic; a multi-child swap that crashes leaves a
  * prefix of children replaced. Rename atomicity (and therefore the
  * crash-safety guarantee) holds on file:// and hdfs://; s3a://
  * deployments should quiesce readers around maintenance or layer a
  * commit-marker protocol on top (write under a versioned name, flip a
  * manifest — the S3A committers' own design).
  */
object Maintenance {

  private def fsFor(spark: SparkSession, path: String): (FileSystem, HPath) = {
    val p = new HPath(path)
    (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }

  private def renameOrThrow(fs: FileSystem, src: HPath, dst: HPath): Unit =
    if (!fs.rename(src, dst))
      throw new java.io.IOException(s"maintenance: rename $src -> $dst failed")

  /** Repair what a crashed [[swapIn]] under `root` left (the protocol in
    * this object's doc): restore each parked child whose live dir is
    * missing, drop the others, discard the scratch root.
    */
  def recoverSwaps(spark: SparkSession, root: String): Unit = {
    val (fs, r) = fsFor(spark, root)
    val parked = new HPath(r, "_repack_old")
    if (fs.exists(parked)) {
      fs.listStatus(parked).foreach { s =>
        val live = new HPath(r, s.getPath.getName)
        if (!fs.exists(live)) renameOrThrow(fs, s.getPath, live)
        else fs.delete(s.getPath, true)
      }
      fs.delete(parked, true)
    }
    fs.delete(new HPath(r, "_repack_tmp"), true) // stale partial writes
    ()
  }

  /** Replace the child dirs `names` of `root` (the protocol in this
    * object's doc): `write` is given the scratch dir and puts each
    * replacement at `<scratch>/<name>`; a name it writes nothing for is
    * deleted. Returns what `write` returns.
    */
  private[graft] def swapIn[T](spark: SparkSession, root: String, names: Seq[String])
      (write: String => T): T = {
    recoverSwaps(spark, root)
    val (fs, r) = fsFor(spark, root)
    val scratch = new HPath(r, "_repack_tmp")
    val parked = new HPath(r, "_repack_old")
    val out = write(scratch.toString)
    fs.mkdirs(parked)
    names.foreach { name =>
      val live = new HPath(r, name)
      val old = new HPath(parked, name)
      if (fs.exists(live)) renameOrThrow(fs, live, old)
      val fresh = new HPath(scratch, name)
      if (fs.exists(fresh)) renameOrThrow(fs, fresh, live)
      fs.delete(old, true)
    }
    fs.delete(scratch, true)
    fs.delete(parked, true)
    out
  }

  /** Continuous aggregate maintenance (the TimescaleDB continuous-
    * aggregate / materialized-rollup pattern): keep a per-(series,
    * `step`-bucket) rollup table at `dir` incrementally up to date with
    * the store.
    *
    * Incrementality is hour-partition-granular and METADATA-driven: a
    * manifest records each source hour partition's file signature
    * (name:length list — no data read); refresh recomputes ONLY hours
    * whose signature changed since the last run and rewrites exactly
    * those rollup partitions (dynamic partition overwrite). An append
    * touching one hour re-aggregates one hour, never the table — the
    * property that makes a rollup maintainable over years of history.
    *
    * Signature listing and the manifest both go through the Hadoop
    * FileSystem of their respective roots (store and rollup may live on
    * different filesystems); the manifest is written to a `.tmp` sibling
    * and renamed in, so a crashed refresh leaves the previous manifest
    * intact and the next run simply re-refreshes (idempotent — rewriting
    * an already-refreshed rollup partition is a no-op overwrite).
    *
    * The rollup stores MERGEABLE partials (sum, n, min, max), not
    * averages: serving layers derive avg = sum/n, and coarser re-rollups
    * (day from hour) stay exact by re-summing. Rollup rows reflect the
    * stored rows as-is (same multiplicity contract as `scan()`);
    * run [[compact]] first if last-wins visibility is wanted.
    * `step` must divide 3600 so buckets never straddle the hour
    * partitioning. Returns the refreshed hour buckets.
    */
  def continuousRollup(store: SeriesStore, dir: String,
      step: Long = 3600L): Seq[Long] = {
    require(step > 0 && 3600 % step == 0,
      "rollup step must divide the hour partition")
    val spark = store.spark
    val (rollFs, rollRoot) = fsFor(spark, dir)
    val (segFs, _) = fsFor(spark, store.root)
    val manifest = new HPath(rollRoot, "_manifest.tsv")
    val prev: Map[Long, String] =
      if (!rollFs.exists(manifest)) Map.empty
      else {
        val in = rollFs.open(manifest)
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
          .filter(_.nonEmpty).map { l =>
            val Array(h, s) = l.split("\t", 2); h.toLong -> s
          }.toMap
        finally in.close()
      }
    def sigOf(h: Long): String = {
      val d = new HPath(s"${store.root}/segments/hour_bucket=$h")
      segFs.listStatus(d).toSeq.filter(_.isFile)
        .filterNot(_.getPath.getName.startsWith("_"))
        .map(s => s"${s.getPath.getName}:${s.getLen}").sorted.mkString(",")
    }
    val current = store.partitions().map(h => h -> sigOf(h)).toMap
    val changed = current.collect {
      case (h, s) if !prev.get(h).contains(s) => h
    }.toSeq.sorted
    if (changed.nonEmpty) {
      val roll = store.readHours(changed)
        .groupBy(col("series_id"), col("series"), col("hour_bucket"),
          (col("time") - pmod(col("time"), lit(step))).as("bucket"))
        .agg(sum(col("value")).as("sum_v"), count(col("value")).as("n"),
          min(col("value")).as("min_v"), max(col("value")).as("max_v"))
      // dynamic mode as a WRITER option: a session-conf set would leak to
      // every concurrent partitioned Overwrite on the shared session
      roll.write.mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("hour_bucket").parquet(s"$dir/rollup")
    }
    // hours DROPPED from the store (retention) leave stale rollup
    // partitions — remove them so the rollup tracks deletes too
    val dropped = prev.keySet -- current.keySet
    dropped.foreach { h =>
      rollFs.delete(new HPath(rollRoot, s"rollup/hour_bucket=$h"), true)
    }
    val manifestTmp = new HPath(rollRoot, "_manifest.tsv.tmp")
    val out = rollFs.create(manifestTmp, true)
    try out.write(current.toSeq.sorted.map { case (h, s) => s"$h\t$s" }
      .mkString("\n").getBytes("UTF-8"))
    finally out.close()
    if (rollFs.exists(manifest)) rollFs.delete(manifest, false)
    renameOrThrow(rollFs, manifestTmp, manifest)
    changed
  }

  /** Read the rollup table maintained by [[continuousRollup]]. */
  def readRollup(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/rollup")

  /** Last-wins dedup on (series_id, time). */
  def dedupLastWins(df: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("series_id"), col("time")).orderBy(col("seq").desc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Refuse an in-place segment rewrite of a bucketed store: the rewrites
    * write plain parquet files, which a bucketed table's reads cannot
    * open — every later scan would fail.
    */
  private def requireUnbucketed(store: SeriesStore): Unit =
    if (store.seriesBuckets > 0)
      throw new IllegalStateException(
        s"store at ${store.root} uses the ${store.seriesBuckets}-bucket layout; " +
          "compaction and DELETE rewrite only unbucketed stores")

  /** The one batched segment rewrite: one read of exactly the `hours`
    * partitions on disk, `f`, one write of the result into the scratch
    * dir (repartitioned by hour, sorted (series_id, time) — the store's
    * file order), swapped in per hour through [[swapIn]], then the derived
    * tiers refreshed. However many hours it touches, the job count is
    * constant. An hour `f` leaves no rows in is dropped.
    */
  private def rewriteHours(store: SeriesStore, hours: Seq[Long])
      (f: DataFrame => DataFrame): Unit = {
    requireUnbucketed(store)
    recoverSwaps(store.spark, store.segDir) // a parked hour must be read
    val present = store.partitions().filter(hours.toSet)
    if (present.nonEmpty) {
      val live = store.readHours(present)
      swapIn(store.spark, store.segDir, present.map(h => s"hour_bucket=$h")) { scratch =>
        f(live).repartition(col("hour_bucket"))
          .sortWithinPartitions(col("series_id"), col("time"))
          .write.mode(SaveMode.Overwrite).partitionBy("hour_bucket").parquet(scratch)
      }
      refreshTiers(store, present)
    }
  }

  /** Compact every hour partition (reference: one atomic manifest-entry
    * swap per compacted segment, `compact.zig:52-78`).
    */
  def compact(store: SeriesStore): Unit = {
    recoverSwaps(store.spark, store.segDir) // a parked hour must be listed
    rewriteHours(store, store.partitions())(dedupLastWins)
  }

  /** Compact selected hour partitions; hours not on disk are skipped. */
  def compactPartitions(store: SeriesStore, hours: Seq[Long]): Unit =
    rewriteHours(store, hours)(dedupLastWins)

  /** Small-file compaction: re-layout every hour partition whose parquet
    * files average under `targetBytes / 2` into
    * `ceil(totalBytes / targetBytes)` files — the bin-packing maintenance
    * pass that keeps scan task counts proportional to DATA, not to
    * ingest-batch count (each streaming micro-batch appends its own
    * files; a day of 1-minute triggers is 1 440 tiny files per hot hour,
    * and at 1 000 executors that is 1 440 scan tasks per hour doing
    * per-file open/footer work).
    *
    * Pure layout: no dedup (that is [[compact]]'s job), rows re-sorted
    * (series_id, time) within each output file — the same order segment
    * writes guarantee. Each packed hour is written to the scratch dir by
    * its own job, and all of them are swapped in through one [[swapIn]].
    *
    * Returns (hour, files_before, files_after, bytes) per compacted hour;
    * hours already at-or-under target density are untouched.
    */
  def compactSmallFiles(store: SeriesStore, targetBytes: Long): Seq[(Long, Int, Int, Long)] = {
    require(targetBytes > 0, "targetBytes must be positive")
    requireUnbucketed(store)
    val segRoot = store.segDir
    recoverSwaps(store.spark, segRoot)
    val (fs, _) = fsFor(store.spark, segRoot)
    val out = store.partitions().flatMap { hour =>
      val files = fs.listStatus(new HPath(s"$segRoot/hour_bucket=$hour"))
        .filter(_.getPath.getName.endsWith(".parquet"))
      val total = files.map(_.getLen).sum
      val n = files.length
      val want = math.max(1, math.ceil(total.toDouble / targetBytes).toInt)
      if (n > want && total.toDouble / n < targetBytes / 2.0) Some((hour, n, want, total))
      else None
    }
    def dirOf(hour: Long) = s"hour_bucket=$hour"
    swapIn(store.spark, segRoot, out.map(o => dirOf(o._1))) { scratch =>
      out.foreach { case (hour, _, want, _) =>
        store.spark.read.schema(store.schema).parquet(s"$segRoot/${dirOf(hour)}")
          .coalesce(want)
          .sortWithinPartitions(col("series_id"), col("time"))
          .write.mode(SaveMode.Overwrite).parquet(s"$scratch/${dirOf(hour)}")
      }
    }
    // pure re-layout: rows (and therefore sketch cells) are unchanged,
    // but every repacked file path is new — only the manifest must follow
    SkipIndex.autoRefresh(store, out.map(_._1))
    out
  }

  /** Drop hour partitions strictly older than `cutoffTs` (epoch seconds).
    * Pure directory delete — no data rewrite, constant-time per partition.
    */
  def applyRetention(store: SeriesStore, cutoffTs: Long): Seq[Long] = {
    val dropped = store.partitions().filter(h => h + 3599 < cutoffTs)
    val (fs, _) = fsFor(store.spark, store.root)
    dropped.foreach { h =>
      fs.delete(new HPath(s"${store.root}/segments/hour_bucket=$h"), true)
    }
    // dropped hours contribute no recomputed manifest rows / day cells —
    // the refresh removes them from both tiers
    refreshTiers(store, dropped)
    dropped
  }

  /** Per-namespace TTL retention (`config.zig:96-105` `retention.<ns>`
    * overrides + `ttlForSeries`, `storage/retention.zig:4-20`): namespace
    * is the series prefix before the first '.' (whole name if none,
    * `config.zig:96-99`); `ttlDays == 0` keeps forever.
    *
    * Hour partitions mix namespaces, so namespace-dependent expiry needs a
    * row-level rewrite — but only of partitions old enough to contain ANY
    * expirable row. Two phases:
    *  1. fast path: when every TTL is finite, partitions older than the
    *     LONGEST TTL are expired for every namespace → constant-time
    *     directory drop (the global-TTL path);
    *  2. row-level: `deleteRows` with a per-row TTL predicate — touches
    *     only partitions the predicate can match (all newer partitions
    *     prune away), each rewritten independently, no global shuffle.
    *
    * Returns the fast-path-dropped partition hours.
    */
  def applyRetention(
      store: SeriesStore,
      defaultTtlDays: Long,
      nsTtlDays: Map[String, Long],
      nowTs: Long): Seq[Long] = {
    if (store.isEmpty) return Nil
    val ttls = defaultTtlDays +: nsTtlDays.values.toSeq
    val dropped =
      if (ttls.forall(_ > 0)) applyRetention(store, nowTs - ttls.max * 86400L)
      else Nil
    // namespaceOf(series): prefix before the first '.' (config.zig:96-99)
    val ns = substring_index(col("series"), ".", 1)
    val ttlCol = nsTtlDays.foldLeft(lit(defaultTtlDays)) {
      case (acc, (n, d)) => when(ns === n, lit(d)).otherwise(acc)
    }
    deleteRows(store, ttlCol > 0 && col("time") < (lit(nowTs) - ttlCol * 86400L))
    dropped
  }

  /** Recompute the store-convention derived tiers (skip manifest, sketch
    * cells) for the hours a maintenance op touched — the same hook
    * [[SeriesStore.append]] runs, because a delete/retention/compaction
    * that leaves the tiers behind makes routed queries silently include
    * (or, for renamed files, loudly miss) the rewritten rows.
    */
  private def refreshTiers(store: SeriesStore, hours: Seq[Long]): Unit =
    if (hours.nonEmpty) {
      SkipIndex.autoRefresh(store, hours)
      SketchCells.autoRefresh(store, hours.map(SeriesStore.dayOf).distinct)
    }

  /** What a [[deleteRows]] call did: which hour partitions were
    * rewritten, how many rows the rewrites removed (`deletedRows` —
    * tallied over the rewritten hours' read, so the engine's DELETE
    * response needs no separate matched-row scan), and —
    * when the discovery ran through the skip manifest — how many
    * candidate data files the manifest let it scan out of the store's
    * total (`scannedFiles = totalFiles = -1` on the unrouted path). The
    * file counts exist so tests can PIN that a bounded delete's
    * discovery is pruned I/O, not a full-store scan.
    */
  final case class DeleteReport(rewrittenHours: Seq[Long],
      scannedFiles: Int, totalFiles: Int, deletedRows: Long = 0L)

  /** Row-level delete for `DELETE FROM <sel> WHERE <pred>`: one
    * [[rewriteHours]] of the hour partitions that hold matches, keeping
    * the rows `predicate` does not hold for; an hour left empty is
    * dropped, derived tiers are refreshed after.
    *
    * Affected-partition DISCOVERY reads [[SeriesStore.scanPruned]] of
    * `probe` — the same pruned read as the matching SELECT (the engine
    * builds both probes with one walker): skip-manifest file pruning on
    * every probe dimension when the store has a manifest, hour-bucket
    * pruning on the time bounds otherwise. `probe` must be implied by
    * `predicate`; it prunes what is READ during discovery, never what is
    * deleted — the exact predicate decides row fate on whatever survives
    * pruning, so a too-wide probe costs I/O only.
    */
  def deleteRows(store: SeriesStore, predicate: org.apache.spark.sql.Column,
      probe: ScanProbe = ScanProbe()): DeleteReport = {
    recoverSwaps(store.spark, store.segDir) // discovery must see a parked hour
    val discovery = store.scanPruned(probe)
    // cast: the routed path re-infers hour_bucket from dir names (int
    // when values fit), the store schema carries it as long
    val affected = discovery.df.filter(predicate)
      .select(col("hour_bucket").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSeq.sorted
    val (scanned, totalF) = (discovery.filesRead, discovery.filesTotal)
    if (affected.isEmpty) return DeleteReport(Nil, scanned, totalF)
    val keep = !predicate || predicate.isNull
    var deleted = 0L
    rewriteHours(store, affected) { live =>
      // the removed-row tally: one aggregate over exactly the rewritten hours
      deleted = live.select(count(lit(1)) - count(when(keep, 1))).head().getLong(0)
      live.filter(keep)
    }
    DeleteReport(affected, scanned, totalF, deleted)
  }

  /** Snapshot: recursive copy of the data dir (`snapshot.zig:3-47`),
    * through the Hadoop FS of source and destination (which may differ —
    * snapshot-to-s3a from an hdfs store is the expected production use).
    */
  def snapshot(store: SeriesStore, dest: String): Unit = {
    val (srcFs, src) = fsFor(store.spark, store.root)
    val (dstFs, dst) = fsFor(store.spark, dest)
    FileUtil.copy(srcFs, src, dstFs, dst, false, true,
      store.spark.sessionState.newHadoopConf())
    ()
  }
}
