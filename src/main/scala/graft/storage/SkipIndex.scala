package graft.storage

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** File-level data-skipping manifest for a [[SeriesStore]] — the layer
  * between partition pruning and parquet row-group stats.
  *
  * The store's hour partitioning already turns time predicates into
  * directory pruning, and parquet footers carry per-row-group min/max.
  * But at 100 TB a selective probe ("series S, 6-hour window") still has
  * to LIST every surviving partition and open every file's footer before
  * it can skip anything — tens of thousands of round-trips on an object
  * store. This manifest is one metadata-sized parquet table, read once:
  *
  *   file, hour_bucket, min_time, max_time, min_value, max_value,
  *   n_rows, bloom ARRAY<LONG>(16)
  *
  * per data file, where `bloom` is a 1024-bit / 3-hash Bloom filter over
  * the file's distinct `series_id`s. A probe prunes the manifest frame
  * (time-range overlap + bloom membership), collects the surviving file
  * list (metadata-sized), and reads ONLY those files; exact residual
  * predicates run on what is read, so a bloom false positive costs one
  * extra file read, never a wrong row. The same role as Delta/Iceberg
  * file statistics + bloom column indexes, rebuilt store-native.
  *
  * Scale shape: the build is one pass over the data (two aggregates that
  * share the scan: per-file stats, and per-(file, distinct series)
  * bit-position OR); the manifest is O(files) rows. [[refresh]] keeps it
  * incremental after appends/compaction/retention: recompute the touched
  * hours from data, carry the rest forward from the old manifest, swap
  * crash-safely.
  *
  * Reference: file-stat pruning generalizes the segment store's
  * TimeBounds skip (`/root/reference/src/sydra/query/physical.zig:138-264`)
  * from partitions to individual files, and adds the series dimension the
  * reference's per-(series, hour) file naming gives it implicitly.
  */
object SkipIndex {

  private val Bits = 1024
  private val Words = Bits / 64
  private val Hashes = 3

  /** Bit positions of `id` (a series_id column) — k salted xxhash64s. */
  private def positions(id: org.apache.spark.sql.Column) =
    (0 until Hashes).map(k => pmod(xxhash64(id, lit(k)), lit(Bits.toLong)))

  /** Probe-side bit positions, computed ON THE DRIVER — bit-identical to
    * [[positions]] (FunctionsSpec pins parity on random inputs against
    * the Spark expression) via the same catalyst XXH64 kernel the
    * expression runs: `xxhash64(x, lit(k))` folds seed 42 through x then
    * the Int literal k. r15 ran a `spark.range(1)` projection per probe
    * to guarantee parity — one scheduler round-trip per query on the
    * highest-QPS path; a shared kernel gives parity without the job.
    */
  private[graft] def localPositions(id: Long): Seq[Int] = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    (0 until Hashes).map { k =>
      Math.floorMod(XXH64.hashInt(k, XXH64.hashLong(id, 42L)), Bits.toLong).toInt
    }
  }

  /** [[localPositions]] for a string probe (series name, `k=v` tag pair). */
  private[graft] def localPositions(s: String): Seq[Int] = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    val utf8 = org.apache.spark.unsafe.types.UTF8String.fromString(s)
    (0 until Hashes).map { k =>
      Math.floorMod(XXH64.hashInt(k, XXH64.hashUTF8String(utf8, 42L)),
        Bits.toLong).toInt
    }
  }

  /** Manifest-frame predicate "this file's bloom may contain every probed
    * bit position" over `bloomCol`. NULL-tolerant: a row carried forward
    * through an in-place manifest upgrade ([[refresh]]) has NULL for the
    * blooms its build predates — NULL means "cannot prune", the file is
    * read and the exact residual decides (the per-file fallback the
    * upgrade semantics rely on).
    */
  private def bloomMayContain(bloomCol: String, pos: Seq[Int]) =
    coalesce(
      pos.map { p =>
        (element_at(col(bloomCol), lit(p / 64 + 1))
          .bitwiseAND(lit(1L << (p % 64)))) =!= 0L
      }.reduce(_ && _),
      lit(true))

  /** One manifest row, driver-resident (see [[cachedRows]]). Nullable
    * blooms mirror an in-place-upgraded manifest's carried rows; null
    * value stats mirror an all-null-value file.
    */
  private final case class ManifestRow(file: String, minTime: Long,
      maxTime: Long, vNull: Boolean, minValue: Double, maxValue: Double,
      bloom: Array[Long], bloomName: Array[Long], bloomTags: Array[Long])

  /** A manifest small enough to mirror on the driver is cached as rows
    * (~400 B each; 200k ≈ 80 MB) — beyond the cap the Spark-side filter
    * path stays.
    */
  private val MaxCachedRows = 200000

  /** Driver-cached manifest rows (r16), keyed on the dir's refresh
    * generation via [[MetaCache]]. The manifest is metadata-sized BY
    * DESIGN (one row per data file, one parquet object), yet every
    * routed query was paying a Spark job — manifest scan + filter +
    * collect — just to learn the surviving file list, a fixed ~100 ms of
    * local job floor (and a scheduler round-trip per probe at cluster
    * QPS). With the rows driver-resident, survivor selection is a local
    * array filter: ZERO jobs on the probe path, the same driver-side
    * snapshot-cache tradeoff Delta and Iceberg make. Bounded by
    * `maxRows`: a beyond-cap manifest keeps the Spark path — the
    * per-query job is amortized at that file count, and the driver heap
    * is not the place for an unbounded metadata mirror.
    */
  private def cachedRows(spark: SparkSession, manifestDir: String,
      maxRows: Int): Option[Array[ManifestRow]] =
    // the total is resolved BEFORE entering the memo's compute: a cached()
    // load that itself calls cached() is a nested computeIfAbsent on one
    // ConcurrentHashMap — the JDK throws "Recursive update" when the two
    // keys share a bin. Sequential lookups are safe.
    if (filesTotal(spark, manifestDir) > maxRows) None
    else Some(MetaCache.cached(manifestDir, "rows") {
      val m = read(spark, manifestDir)
      def arrOr(c: String) =
        if (m.columns.contains(c)) col(c) else lit(null).cast("array<long>")
      m.select(col("file"), col("min_time"), col("max_time"),
        col("min_value"), col("max_value"), col("bloom"),
        arrOr("bloom_name"), arrOr("bloom_tags"))
        .collect().map { r =>
          def words(i: Int): Array[Long] =
            if (r.isNullAt(i)) null
            else r.getSeq[Long](i).toArray
          ManifestRow(r.getString(0), r.getLong(1), r.getLong(2),
            vNull = r.isNullAt(3),
            if (r.isNullAt(3)) 0d else r.getDouble(3),
            if (r.isNullAt(4)) 0d else r.getDouble(4),
            words(5), words(6), words(7))
        }
    })

  /** Surviving files + manifest total for `probe`: time overlap ∧ id,
    * name and tag blooms ∧ value stats — driver-local when the rows are
    * cached ([[cachedRows]]), else the Spark-side filter (`maxCachedRows`
    * exists so tests can force that path). Both evaluators implement
    * the SAME semantics: a missing bloom column or a NULL bloom cannot
    * prune (upgrade carry-forward), NULL value stats fail a value bound
    * (an all-null file cannot match a value residual), and a tag group
    * survives when any of its pairs may be present. Every filter is a
    * superset of the probe's exact residual run on what is read.
    */
  private[graft] def prune(store: SeriesStore, manifestDir: String,
      probe: ScanProbe,
      maxCachedRows: Int = MaxCachedRows): (Array[String], Int) = {
    val spark = store.spark
    val (startTs, endTs) = (probe.startTs, probe.endTs)
    val (minValue, maxValue) = (probe.vlo.getOrElse(Double.NegativeInfinity),
      probe.vhi.getOrElse(Double.PositiveInfinity))
    val hasV = probe.vlo.nonEmpty || probe.vhi.nonEmpty
    // probe-side bit positions on the driver (r16) — the shared XXH64
    // kernel [[localPositions]], FunctionsSpec-pinned bit-identical to
    // the build expressions; r15 paid a Spark job per probe for parity
    val idPos = probe.seriesId.map(localPositions(_))
    val namePos = probe.series.map(localPositions(_))
    val tagPos = probe.tags.map(_.map { case (k, v) => localPositions(s"$k=$v") })
    cachedRows(spark, manifestDir, maxCachedRows) match {
      case Some(rows) =>
        def bloomOk(arr: Array[Long], pos: Seq[Int]): Boolean =
          arr == null || pos.forall(p => (arr(p / 64) & (1L << (p % 64))) != 0L)
        val files = rows.filter { r =>
          r.minTime <= endTs && r.maxTime >= startTs &&
            idPos.forall(bloomOk(r.bloom, _)) &&
            namePos.forall(bloomOk(r.bloomName, _)) &&
            (!hasV || (!r.vNull && r.maxValue >= minValue && r.minValue <= maxValue)) &&
            tagPos.forall(_.exists(bloomOk(r.bloomTags, _)))
        }.map(_.file)
        (files, rows.length)
      case None =>
        val m = read(spark, manifestDir)
        // A pre-upgrade manifest may lack a bloom column entirely (vs a
        // carried row's NULL, which bloomMayContain already tolerates) —
        // a missing column prunes nothing, matching the driver path's
        // arrOr(null) semantics instead of throwing AnalysisException.
        def mayContain(c: String, pos: Seq[Int]) =
          if (m.columns.contains(c)) bloomMayContain(c, pos) else lit(true)
        val cond = col("min_time") <= endTs && col("max_time") >= startTs &&
          idPos.fold(lit(true))(mayContain("bloom", _)) &&
          namePos.fold(lit(true))(mayContain("bloom_name", _)) &&
          (if (hasV) col("max_value") >= minValue && col("min_value") <= maxValue
          else lit(true)) &&
          tagPos.map(_.map(mayContain("bloom_tags", _)).reduce(_ || _))
            .foldLeft(lit(true))(_ && _)
        (m.filter(cond).select("file").collect().map(_.getString(0)),
          filesTotal(spark, manifestDir))
    }
  }

  /** One manifest row per data file of `scan` (which must carry the
    * store schema + hour_bucket): the stats aggregate and the
    * distinct-series bit-position OR share the one pass over the data.
    */
  private def manifestRows(scan: DataFrame): DataFrame = {
    val raw = scan.withColumn("__file", col("_metadata.file_path"))
    val stats = raw.groupBy(col("__file"))
      .agg(first(col("hour_bucket")).as("hour_bucket"),
        min(col("time")).as("min_time"), max(col("time")).as("max_time"),
        min(col("value")).as("min_value"), max(col("value")).as("max_value"),
        count(lit(1)).as("n_rows"))
    // THREE blooms from ONE distinct pass (series_id functionally
    // determines series AND tags, so the exploded distinct is still the
    // id-distinct — duplicate id rows across a series' tag entries are
    // harmless, bit-OR is idempotent): the id bloom serves by_id()
    // probes, the NAME bloom (r15) serves `from cpu.load`, and the TAG
    // bloom (r16) holds the file-distinct `k=v` tag pairs so
    // `where tag.host = 'a'` prunes inside a name's files (reference tag
    // index semantics, `/root/reference/src/sydra/storage/tags.zig:4-76`,
    // re-expressed as file skipping). Name positions offset into
    // [Bits, 2*Bits), tag positions into [2*Bits, 3*Bits), so one
    // explode → bit-OR chain builds all three; the final projection
    // splits the 3*Words-word space back into the arrays.
    // explode_outer keeps tagless series in the id/name blooms.
    val basePos = positions(col("series_id")) ++
      positions(col("series")).map(_ + lit(Bits.toLong))
    val tagPos = positions(concat(col("key"), lit("="), col("value")))
      .map(_ + lit((2 * Bits).toLong))
    val blooms = raw
      .select(col("__file"), col("series_id"), col("series"),
        explode_outer(col("tags")))
      .distinct()
      .select(col("__file"), explode(concat(array(basePos: _*),
        when(col("key").isNull, array().cast("array<long>"))
          .otherwise(array(tagPos: _*)))).as("pos"))
      .select(col("__file"), (col("pos") / 64).cast("int").as("word"),
        expr("shiftleft(1L, CAST(pos % 64 AS INT))").as("mask"))
      .groupBy(col("__file"), col("word"))
      .agg(bit_or(col("mask")).as("bits"))
      .groupBy(col("__file"))
      .agg(map_from_entries(collect_list(struct(col("word"), col("bits")))).as("m"))
      .select(col("__file"),
        array((0 until Words).map(w =>
          coalesce(element_at(col("m"), lit(w)), lit(0L))): _*).as("bloom"),
        array((Words until 2 * Words).map(w =>
          coalesce(element_at(col("m"), lit(w)), lit(0L))): _*).as("bloom_name"),
        array((2 * Words until 3 * Words).map(w =>
          coalesce(element_at(col("m"), lit(w)), lit(0L))): _*).as("bloom_tags"))
    stats.join(blooms, "__file")
      .withColumnRenamed("__file", "file")
      .select("file", "min_time", "max_time", "min_value", "max_value",
        "n_rows", "bloom", "bloom_name", "bloom_tags", "hour_bucket")
  }

  /** Build (overwrite) the manifest for every data file in the store.
    *
    * Written as ONE parquet file under `manifestDir/m`: a manifest that
    * were itself partitioned into thousands of tiny files would recreate
    * the listing pathology it exists to kill — the probe must read it in
    * one round-trip. O(files) rows ≈ a few hundred bytes each; even a
    * million-file store is a ~100 MB single object.
    */
  def build(store: SeriesStore, manifestDir: String): Unit = {
    require(!store.isEmpty, s"store at ${store.root} has no flushed segments to index")
    manifestRows(store.scan())
      .coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(s"$manifestDir/m")
    MetaCache.invalidate(manifestDir)
  }

  /** Incremental refresh after appends/compaction/retention touched
    * `hours`: recompute ONLY those hours' rows from the data (a read of
    * exactly those hour dirs, [[SeriesStore.scanHours]]), carry every
    * untouched hour's rows forward from the existing manifest (a
    * metadata-sized read), and swap the manifest dir in through
    * [[Maintenance.swapIn]] (the swap protocol in [[Maintenance]]'s doc —
    * a died-mid-swap manifest is restored by the recovery pass the next
    * read runs). Hours the store no longer has (retention drops) simply
    * contribute no recomputed rows.
    *
    * Schema upgrades stay incremental (r16 — a pre-r15/r16 manifest
    * used to trigger a FULL rebuild here, O(store) hidden inside an
    * O(touched hours) call): carried rows keep NULL for blooms their
    * build predates (`unionByName` fills them), probes treat NULL as
    * "cannot prune" ([[bloomMayContain]]) and read those files, and
    * each hour gains its blooms when it next refreshes. Loud on stderr
    * so the weaker pruning during the transition is attributable.
    */
  def refresh(store: SeriesStore, manifestDir: String, hours: Seq[Long]): Unit = {
    if (hours.isEmpty) return
    val spark = store.spark
    val old = read(spark, manifestDir)
    val missing = Seq("bloom_name", "bloom_tags").filterNot(old.columns.contains)
    if (missing.nonEmpty)
      System.err.println(s"[graft] SkipIndex: upgrading manifest at $manifestDir " +
        s"in place — refreshed hours gain ${missing.mkString(", ")}; carried " +
        "rows keep them NULL (no pruning on those files) until their hours refresh")
    val kept = old.filter(!col("hour_bucket").isin(hours: _*))
    // hours all dropped: no file read to take `_metadata` from
    val present = store.partitions().filter(hours.toSet)
    val next = (if (present.nonEmpty)
      kept.unionByName(manifestRows(store.readHours(present)), allowMissingColumns = true)
    else kept).coalesce(1)
    Maintenance.swapIn(spark, manifestDir, Seq("m")) { scratch =>
      // `next` lazily READS the live manifest while writing to the
      // scratch path — the swap happens only after the write succeeds
      next.write.parquet(s"$scratch/m")
    }
    MetaCache.invalidate(manifestDir)
  }

  /** Engine-integration convention (r12): a store's own manifest lives at
    * `<root>/skipindex`. [[SeriesStore.scanPruned]] — the engine's
    * SELECTs, served hybrid edges and DELETE discovery — prunes through
    * it when present, and
    * [[SeriesStore.append]] keeps it fresh for the hours a batch touches
    * (a stale manifest after an append would silently MISS the new files;
    * since r13 [[Maintenance]]'s delete/retention/compaction paths run
    * the same refresh hook for the partitions they touch, and the
    * streaming maintenance twin covers continuous ingest).
    */
  def dirFor(store: SeriesStore): String = s"${store.root}/skipindex"

  /** Memoized per (dir, refresh generation) — [[MetaCache]]; [[build]]
    * and [[refresh]] bump the generation.
    */
  def exists(spark: SparkSession, manifestDir: String): Boolean =
    MetaCache.cached(manifestDir, "exists") {
      val p = new org.apache.hadoop.fs.Path(s"$manifestDir/m")
      java.lang.Boolean.valueOf(
        p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p))
    }.booleanValue()

  /** The manifest's total file count — the `filesTotal` evidence every
    * routed scan reports. Memoized: this was an extra count job on EVERY
    * routed query for a number that only changes when the manifest does.
    */
  private def filesTotal(spark: SparkSession, manifestDir: String): Int =
    MetaCache.cached(manifestDir, "filesTotal") {
      java.lang.Integer.valueOf(read(spark, manifestDir).count().toInt)
    }.intValue()

  /** Refresh the store-convention manifest for `hours`, if one exists. */
  def autoRefresh(store: SeriesStore, hours: Seq[Long]): Unit = {
    val dir = dirFor(store)
    if (hours.nonEmpty && exists(store.spark, dir)) refresh(store, dir, hours)
  }

  def read(spark: SparkSession, manifestDir: String): DataFrame = {
    Maintenance.recoverSwaps(spark, manifestDir) // heal a died-mid-swap refresh
    spark.read.parquet(s"$manifestDir/m")
  }

  /** A manifest-pruned scan plus its skipping evidence. */
  final case class SkipScan(df: DataFrame, filesRead: Int, filesTotal: Int)

  /** Read exactly `files` of the store (partition column recovered via
    * basePath) with the store's own schema, so the frame has exactly
    * [[SeriesStore.scan]]'s schema and no read runs a parquet
    * schema-inference job; the store's typed empty frame when nothing
    * survived.
    */
  private def readFiles(store: SeriesStore, files: Array[String]): DataFrame =
    if (files.isEmpty) store.scanHours(Nil)
    else {
      val spark = store.spark
      val fs = new org.apache.hadoop.fs.Path(store.segDir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val base = fs.makeQualified(new org.apache.hadoop.fs.Path(store.segDir)).toString
      spark.read.schema(store.fullSchema).option("basePath", base)
        .parquet(files.toIndexedSeq: _*)
    }

  /** The one manifest-pruned scan: rows of `store` that satisfy
    * `probe`, reading only the files [[prune]] keeps (one prune, one
    * residual — pruning changes what is READ, never what is true, so the
    * rows equal the full-scan filter by `probe.residual`). Frames carry
    * the store columns plus `hour_bucket`. An empty probe prunes nothing
    * and reads the plain store scan without consulting the manifest
    * (`filesRead = filesTotal = -1`). Callers that follow the
    * store-convention manifest use [[SeriesStore.scanPruned]].
    */
  def scan(store: SeriesStore, manifestDir: String, probe: ScanProbe): SkipScan =
    if (probe.isEmpty) SkipScan(store.scan(), -1, -1)
    else {
      val (survivors, total) = prune(store, manifestDir, probe)
      SkipScan(readFiles(store, survivors).filter(probe.residual),
        survivors.length, total)
    }
}
