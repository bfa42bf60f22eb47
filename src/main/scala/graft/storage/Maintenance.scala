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
  * resolved from each path's own scheme (the r7 `IvfIndex.compact` port,
  * extended to the whole maintenance surface in r10), so the same code
  * runs on file://, hdfs:// and s3a:// stores. Per-partition rewrites use
  * a crash-safe swap through underscore-prefixed scratch dirs that
  * Spark's file listing ignores — a concurrent reader never sees a
  * half-written partition, and a malformed `hour_bucket=N.new` dir can no
  * longer break typed partition discovery for the whole store (the old
  * in-tree `.new` pattern). Swap order mirrors `IvfIndex.compact`:
  * write tmp → rename live aside → rename tmp in → delete old; every
  * rename result is checked and a crash mid-swap is repaired by
  * [[recoverSwaps]] on the next maintenance call. As with the index,
  * rename atomicity (and therefore the crash-safety guarantee) holds on
  * file:// and hdfs://; s3a:// deployments should quiesce readers around
  * maintenance or layer a commit-marker protocol on top.
  */
object Maintenance {

  private def fsFor(spark: SparkSession, path: String): (FileSystem, HPath) = {
    val p = new HPath(path)
    (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }

  private def renameOrThrow(fs: FileSystem, src: HPath, dst: HPath): Unit =
    if (!fs.rename(src, dst))
      throw new java.io.IOException(s"maintenance: rename $src -> $dst failed")

  /** Repair partitions parked by a crashed [[swapRewrite]]: a leftover in
    * `_repack_old` whose live dir is missing is a swap that died between
    * the two renames — restore it; one whose live dir exists is a
    * completed swap whose delete didn't run — drop it. Called by every
    * per-partition maintenance entry before it does anything else.
    */
  def recoverSwaps(spark: SparkSession, segRoot: String): Unit = {
    val (fs, root) = fsFor(spark, segRoot)
    val oldRoot = new HPath(root, "_repack_old")
    if (fs.exists(oldRoot)) {
      fs.listStatus(oldRoot).foreach { s =>
        val live = new HPath(root, s.getPath.getName)
        if (!fs.exists(live)) renameOrThrow(fs, s.getPath, live)
        else fs.delete(s.getPath, true)
      }
      fs.delete(oldRoot, true)
    }
    val tmpRoot = new HPath(root, "_repack_tmp")
    if (fs.exists(tmpRoot)) fs.delete(tmpRoot, true) // stale partial writes
    ()
  }

  /** Crash-safe replacement of one child dir of `segRoot`: `writeTo` is
    * given a scratch path under `_repack_tmp` (invisible to Spark's
    * listing), then the live dir is swapped out through `_repack_old`.
    * Nothing is deleted until the replacement is live.
    */
  private[graft] def swapRewrite(spark: SparkSession, segRoot: String, name: String)
      (writeTo: String => Unit): Unit = {
    val (fs, root) = fsFor(spark, segRoot)
    val tmp = new HPath(root, s"_repack_tmp/$name")
    val old = new HPath(root, s"_repack_old/$name")
    if (fs.exists(tmp)) fs.delete(tmp, true)
    writeTo(tmp.toString)
    fs.mkdirs(old.getParent)
    if (fs.exists(old)) fs.delete(old, true)
    val live = new HPath(root, name)
    renameOrThrow(fs, live, old)
    renameOrThrow(fs, tmp, live)
    fs.delete(old, true)
    ()
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
      val roll = store.scan()
        .filter(col("hour_bucket").isInCollection(changed))
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

  /** Rewrite the whole segment table deduped (small stores / tests). At
    * scale, compact per-partition: read one hour_bucket dir, dedup, write
    * back — embarrassingly parallel across partitions.
    */
  def compact(store: SeriesStore): Unit = {
    val spark = store.spark
    val deduped = dedupLastWins(store.scan()).cache()
    deduped.count() // materialize before overwrite
    deduped
      .repartition(col("hour_bucket"))
      .sortWithinPartitions(col("series_id"), col("time"))
      .write.mode(SaveMode.Overwrite).partitionBy("hour_bucket")
      .parquet(s"${store.root}/segments.compact")
    // atomic swap (manifest-entry swap in the reference, compact.zig:52-78)
    val (fs, rootDir) = fsFor(spark, store.root)
    val live = new HPath(rootDir, "segments")
    val next = new HPath(rootDir, "segments.compact")
    val bak = new HPath(rootDir, "segments.old")
    if (fs.exists(bak)) fs.delete(bak, true)
    if (fs.exists(live)) renameOrThrow(fs, live, bak)
    renameOrThrow(fs, next, live)
    if (fs.exists(bak)) fs.delete(bak, true)
    // scoped release (r14): clearCache() here evicted EVERY cached frame
    // in the session — a concurrent serving session's persisted index
    // frames were nuked by an unrelated compaction
    deduped.unpersist()
    // every file path changed and last-wins dedup changed row contents —
    // both derived tiers must follow
    refreshTiers(store, store.partitions())
  }

  /** Compact selected hour partitions independently — one read+dedup+
    * rewrite per partition dir, no global shuffle; at scale each hour is
    * its own job (embarrassingly parallel, mirrors the reference's
    * per-(series,hour) compaction unit). Crash-safe per-partition swap
    * via [[swapRewrite]].
    */
  def compactPartitions(store: SeriesStore, hours: Seq[Long]): Unit = {
    val segRoot = s"${store.root}/segments"
    recoverSwaps(store.spark, segRoot)
    val (fs, _) = fsFor(store.spark, segRoot)
    hours.foreach { h =>
      val name = s"hour_bucket=$h"
      if (fs.exists(new HPath(s"$segRoot/$name"))) {
        val deduped = dedupLastWins(
          store.spark.read.schema(store.schema).parquet(s"$segRoot/$name"))
          .sortWithinPartitions(col("series_id"), col("time"))
          .cache()
        deduped.count()
        swapRewrite(store.spark, segRoot, name) { tmp =>
          deduped.write.mode(SaveMode.Overwrite).parquet(tmp)
        }
        deduped.unpersist() // scoped — never the session-wide clearCache
        ()
      }
    }
    refreshTiers(store, hours.filter(h =>
      fs.exists(new HPath(s"$segRoot/hour_bucket=$h"))))
  }

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
    * writes guarantee. Per-hour independent jobs through the checked,
    * crash-recoverable [[swapRewrite]] (scratch dirs invisible to
    * partition discovery; a crash leaves the hour restorable by
    * [[recoverSwaps]], never a half-state at the live path).
    *
    * Returns (hour, files_before, files_after, bytes) per compacted hour;
    * hours already at-or-under target density are untouched.
    */
  def compactSmallFiles(store: SeriesStore, targetBytes: Long): Seq[(Long, Int, Int, Long)] = {
    require(targetBytes > 0, "targetBytes must be positive")
    val segRoot = s"${store.root}/segments"
    recoverSwaps(store.spark, segRoot)
    val (fs, root) = fsFor(store.spark, segRoot)
    val hourDirs = (if (fs.exists(root)) fs.listStatus(root) else Array.empty[org.apache.hadoop.fs.FileStatus])
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("hour_bucket="))
    val out = hourDirs.toSeq.sortBy(_.getPath.getName).flatMap { hd =>
      val files = fs.listStatus(hd.getPath)
        .filter(_.getPath.getName.endsWith(".parquet"))
      val total = files.map(_.getLen).sum
      val n = files.length
      val want = math.max(1, math.ceil(total.toDouble / targetBytes).toInt)
      if (n > want && total.toDouble / n < targetBytes / 2.0) {
        val hour = hd.getPath.getName.stripPrefix("hour_bucket=").toLong
        val packed = store.spark.read.schema(store.schema).parquet(hd.getPath.toString)
          .coalesce(want)
          .sortWithinPartitions(col("series_id"), col("time"))
          .cache()
        packed.count() // materialize before the overwrite
        swapRewrite(store.spark, segRoot, hd.getPath.getName) { tmp =>
          packed.write.mode(SaveMode.Overwrite).parquet(tmp)
        }
        packed.unpersist() // scoped — never the session-wide clearCache
        Some((hour, n, want, total))
      } else None
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

  private def dayOf(h: Long): Long = h - Math.floorMod(h, 86400L)

  /** Recompute the store-convention derived tiers (skip manifest, sketch
    * cells) for the hours a maintenance op touched — the same hook
    * [[SeriesStore.append]] runs, because a delete/retention/compaction
    * that leaves the tiers behind makes routed queries silently include
    * (or, for renamed files, loudly miss) the rewritten rows.
    */
  private def refreshTiers(store: SeriesStore, hours: Seq[Long]): Unit =
    if (hours.nonEmpty) {
      SkipIndex.autoRefresh(store, hours)
      SketchCells.autoRefresh(store, hours.map(dayOf).distinct)
    }

  /** What a [[deleteRows]] call did: which hour partitions were
    * rewritten, how many rows the rewrites removed (`deletedRows` —
    * derived per partition as metadata-count-before − survivors, so the
    * engine's DELETE response needs no separate matched-row scan), and —
    * when the discovery ran through the skip manifest — how many
    * candidate data files the manifest let it scan out of the store's
    * total (`scannedFiles = totalFiles = -1` on the unrouted path). The
    * file counts exist so tests can PIN that a bounded delete's
    * discovery is pruned I/O, not a full-store scan.
    */
  final case class DeleteReport(rewrittenHours: Seq[Long],
      scannedFiles: Int, totalFiles: Int, deletedRows: Long = 0L)

  /** Row-level delete for `DELETE FROM <sel> WHERE <pred>`: rewrite only
    * the hour partitions that may contain matches — survivors for ALL of
    * them written in ONE job (r14), then swapped in per-partition with
    * the crash-safe rename discipline; derived tiers refreshed after.
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
    val spark = store.spark
    val discovery = store.scanPruned(probe)
    // cast: the routed path re-infers hour_bucket from dir names (int
    // when values fit), the store schema carries it as long
    val affected = discovery.df.filter(predicate)
      .select(col("hour_bucket").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSeq.sorted
    val (scanned, totalF) = (discovery.filesRead, discovery.filesTotal)
    if (affected.isEmpty) return DeleteReport(Nil, scanned, totalF)
    val segRoot = s"${store.root}/segments"
    recoverSwaps(spark, segRoot)
    val (fs, root) = fsFor(spark, segRoot)
    // BATCHED rewrite (r14): however many hour partitions a delete
    // touches, the job count is constant — a month-wide DELETE was
    // previously ~2 serialized Spark jobs per affected hour, and at that
    // point job-scheduling overhead dominated the rewrite. One scan of
    // exactly the affected partitions tallies per-hour before/after
    // counts, one job writes every survivor to a scratch dir under
    // `_repack_tmp` partitioned by hour (re-sorted (series_id, time),
    // the store's file order), and the only per-hour work left is the
    // crash-safe pair of renames through `_repack_old` — driver
    // metadata ops, no jobs. Nothing reads the live partitions after
    // the first rename, and a crash anywhere mid-swap is healed by
    // [[recoverSwaps]] (a restored hour simply re-runs the delete).
    val base = fs.makeQualified(root).toString
    val keep = !predicate || predicate.isNull
    val live = spark.read.option("basePath", base)
      .parquet(affected.map(h => s"$segRoot/hour_bucket=$h"): _*)
      .withColumn("hour_bucket", col("hour_bucket").cast("long"))
    val counts = live.groupBy(col("hour_bucket"))
      .agg(count(lit(1)).as("before"), count(when(keep, 1)).as("after"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val deleted = counts.map { case (_, b, a) => b - a }.sum
    val scratch = new HPath(root, "_repack_tmp/delete")
    if (fs.exists(scratch)) fs.delete(scratch, true)
    live.filter(keep)
      .repartition(col("hour_bucket"))
      .sortWithinPartitions(col("series_id"), col("time"))
      .write.mode(SaveMode.Overwrite).partitionBy("hour_bucket")
      .parquet(scratch.toString)
    fs.mkdirs(new HPath(root, "_repack_old"))
    affected.foreach { h =>
      val name = s"hour_bucket=$h"
      val liveDir = new HPath(root, name)
      val old = new HPath(root, s"_repack_old/$name")
      if (fs.exists(old)) fs.delete(old, true)
      renameOrThrow(fs, liveDir, old)
      val fresh = new HPath(scratch, name)
      // an hour whose every row matched the predicate has no survivors
      // dir — the swap-out IS the delete (recoverSwaps would restore it
      // if we crashed before the old-side cleanup: unapplied, consistent)
      if (fs.exists(fresh)) renameOrThrow(fs, fresh, liveDir)
      fs.delete(old, true)
    }
    fs.delete(scratch, true)
    refreshTiers(store, affected)
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
