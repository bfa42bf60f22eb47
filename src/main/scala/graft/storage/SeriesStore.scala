package graft.storage

import graft.core.{Functions => F}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The hour-partitioned Parquet series table — the Spark rebuild of the
  * reference's segment store (per-(series, UTC-hour) immutable columnar
  * files, `/root/reference/src/sydra/engine.zig:317-374`,
  * `storage/segment.zig`).
  *
  * Layout: `{root}/segments/hour_bucket=<epoch-hour>/part-*.parquet` with
  * columns series STRING, series_id LONG, tags MAP<STRING,STRING>,
  * time LONG (epoch seconds), value DOUBLE, seq LONG (monotone ingest
  * sequence — the arrival-order tiebreak compaction's last-wins dedup
  * needs, standing in for the reference's manifest file order).
  *
  * Scale design:
  *  - hour partitioning ⇒ time predicates become partition pruning (the
  *    reference's TimeBounds extraction, `physical.zig:138-264`, for free);
  *  - within a partition files are sorted by (series_id, time) ⇒ parquet
  *    row-group min/max stats prune series scans;
  *  - writes repartition by hour so each partition dir is written by one
  *    task (no small-file explosion at 1000 executors);
  *  - retention = partition-dir drop (metadata-only, no rewrite);
  *  - OPT-IN series bucketing (`seriesBuckets > 0`, SURVEY §7.4-7): the
  *    segments become a bucketed table (`CLUSTERED BY (series_id) INTO n
  *    BUCKETS`, hour partitioning unchanged), so every series-keyed
  *    aggregation/join reads a scan that already satisfies
  *    HashPartitioning(series_id) — NO Exchange in `GROUP BY series_id`
  *    plans (PlanSpec asserts it). At 100× scale that shuffle is the
  *    dominant cost of per-series analytics; bucketing moves it to write
  *    time, once. Registered in the session catalog as an external table
  *    over the same directory (re-attached on a fresh session).
  */
final class SeriesStore(val spark: SparkSession, val root: String,
    val seriesBuckets: Int = 0) {

  private[storage] def segDir = s"$root/segments"

  /** Catalog name for the bucketed layout: bucket metadata lives in the
    * table definition (a bare `read.parquet` cannot carry it), so the
    * store registers an external table pinned to `segDir`.
    */
  private def tableName: String =
    "graft_segments_" + java.security.MessageDigest.getInstance("MD5")
      .digest(root.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)

  private def ensureTable(): Unit =
    if (spark.catalog.tableExists(tableName)) {
      // Reopen validation: the catalog entry is authoritative for the
      // on-disk layout — a constructor whose bucket count disagrees would
      // silently write a second, incompatible layout into the same dirs.
      val meta = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(tableName))
      val spec = meta.bucketSpec
      if (!spec.exists(b => b.numBuckets == seriesBuckets &&
          b.bucketColumnNames.map(_.toLowerCase) == Seq("series_id")))
        throw new IllegalStateException(
          s"store at $root is registered with bucket spec " +
            spec.map(b => s"${b.numBuckets} buckets on (${b.bucketColumnNames.mkString(", ")})").getOrElse("<none>") +
            s" but this SeriesStore was constructed with seriesBuckets=$seriesBuckets; " +
            "reopen with the original layout or rewrite the store")
    } else {
      // A root previously written by the UNBUCKETED path has data files
      // without the _NNNNN bucket-id suffix; a bucketed table over them
      // dies at scan time with an obscure 'Invalid bucket file'. Fail at
      // open with the actionable message instead.
      sampleDataFile().foreach { f =>
        if (!isBucketedFileName(f))
          throw new IllegalStateException(
            s"store at $root was written by the unbucketed layout (data file '$f' " +
              "has no bucket-id suffix); reopen with seriesBuckets=0 or rewrite the " +
              s"store to the $seriesBuckets-bucket layout")
      }
      segFs.mkdirs(segPath) // CREATE TABLE LOCATION needs the dir
      spark.sql(
        s"""CREATE TABLE $tableName (
           |  series STRING, series_id BIGINT, tags MAP<STRING,STRING>,
           |  time BIGINT, value DOUBLE, seq BIGINT)
           |USING PARQUET
           |PARTITIONED BY (hour_bucket BIGINT)
           |CLUSTERED BY (series_id) SORTED BY (series_id, time)
           |INTO $seriesBuckets BUCKETS
           |LOCATION '$segDir'""".stripMargin)
      // discover partition dirs an earlier session (or process) wrote
      spark.sql(s"MSCK REPAIR TABLE $tableName")
      ()
    }

  /** Bucketed-writer data files carry the bucket id as a `_NNNNN` suffix
    * before the codec extension (FileFormatWriter's bucketIdToString);
    * the unbucketed writer's names have none — a one-file fingerprint of
    * which layout wrote a root, used for reopen validation.
    */
  private def isBucketedFileName(name: String): Boolean =
    name.matches(".*_\\d{5}(\\.c\\d+)?\\..*")

  /** The segments dir and its Hadoop filesystem, resolved from the root's
    * own scheme (file://, hdfs://, s3a:// or a bare local path).
    */
  private def segPath = new org.apache.hadoop.fs.Path(segDir)
  private def segFs = segPath.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def sampleDataFile(): Option[String] = {
    val fs = segFs
    if (!fs.exists(segPath)) None
    else {
      val it = fs.listFiles(segPath, true)
      var found: Option[String] = None
      while (found.isEmpty && it.hasNext) {
        val n = it.next().getPath.getName
        if (n.startsWith("part-")) found = Some(n)
      }
      found
    }
  }

  /** One-time guard for the `seriesBuckets = 0` direction: appending plain
    * files into a root the bucketed writer produced would corrupt the
    * bucketed table for every future bucketed reader.
    */
  private lazy val unbucketedLayoutOk: Unit =
    sampleDataFile().foreach { f =>
      if (isBucketedFileName(f))
        throw new IllegalStateException(
          s"store at $root was written by a bucketed layout (data file '$f' carries " +
            "a bucket-id suffix); reopen with the original seriesBuckets to keep the " +
            "layout consistent")
    }

  val schema: StructType = StructType(Seq(
    StructField("series", StringType, nullable = false),
    StructField("series_id", LongType, nullable = false),
    StructField("tags", MapType(StringType, StringType), nullable = true),
    StructField("time", LongType, nullable = false),
    StructField("value", DoubleType, nullable = true),
    StructField("seq", LongType, nullable = false)))

  /** Append points. Input needs (series, tags, time, value); series_id/seq
    * derived here. Mirrors flush: per-series sort by ts, hour bucketing
    * (`engine.zig:317-369`). A missing column or one whose type differs
    * from [[schema]] is rejected before anything is written: parquet keeps
    * whatever type it is given, so a DOUBLE `time` would write segments
    * every later scan rejects.
    */
  def append(points: DataFrame): Unit = {
    SeriesStore.checkPointTypes(points.schema, schema)
    // seq is a strictly-increasing PER-BATCH constant: later appends always
    // win compaction's last-wins dedup over earlier ones (the property the
    // reference's WAL/manifest order provides). Order among duplicate keys
    // WITHIN one parallel batch is explicitly undefined, as in any
    // multi-writer ingest.
    val hasSkip = SkipIndex.exists(spark, SkipIndex.dirFor(this))
    val hasCells = SketchCells.exists(spark, SketchCells.dirFor(this))
    val derived = points
      .withColumn("series_id", F.seriesId(col("series"), col("tags")))
      .withColumn("seq", lit(SeriesStore.nextBatchSeq()))
      .withColumn("hour_bucket", (col("time") - pmod(col("time"), lit(3600L))).cast("long"))
      .repartition(col("hour_bucket"))
      .sortWithinPartitions(col("series_id"), col("time"))
      .select("series", "series_id", "tags", "time", "value", "seq", "hour_bucket")
    // when a derived tier must learn the batch's touched hours, pin the
    // batch (disk-backed persist) BEFORE writing: the write materializes
    // the cache, and the touched-hour distinct below reads that SAME
    // materialization — a non-deterministic input (sampling, rand) can no
    // longer yield a different hour set than what was written, which
    // would leave a tier silently stale for the difference
    val df = if (hasSkip || hasCells)
      derived.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else derived
    try {
      if (seriesBuckets > 0) {
        ensureTable()
        // the bucketed writer hashes each row to its series bucket file
        // itself; the hour repartition above still bounds files to
        // seriesBuckets per hour dir per batch
        df.write.mode(SaveMode.Append).insertInto(tableName)
      } else {
        unbucketedLayoutOk
        df.write.mode(SaveMode.Append).partitionBy("hour_bucket").parquet(segDir)
      }
      // keep the store-convention derived tiers fresh for what this batch
      // touched (SkipIndex.dirFor scaladoc: a post-append stale manifest /
      // cell would silently MISS or under-count the new rows on routed
      // scans — the one staleness mode that isn't loud). No tier → zero
      // cost; with one, the extra pass is one metadata-sized distinct over
      // the persisted batch plus the tier's bounded touched-partition
      // recompute.
      if (hasSkip || hasCells) {
        val touched = df.select(col("hour_bucket").as("h"))
          .distinct().collect().map(_.getLong(0)).toSeq
        if (hasSkip) SkipIndex.refresh(this, SkipIndex.dirFor(this), touched)
        if (hasCells) SketchCells.autoRefresh(this,
          touched.map(SeriesStore.dayOf).distinct)
      }
    } finally if (hasSkip || hasCells) { df.unpersist(); () }
  }

  def isEmpty: Boolean = !segFs.exists(segPath)

  /** The schema of every store read: [[schema]] plus `hour_bucket`. */
  private[storage] val fullSchema = StructType(schema.fields :+ StructField("hour_bucket", LongType))

  private def emptyFrame: DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], fullSchema)

  /** Full scan (partition column `hour_bucket` included); empty frame for a
    * store with no flushed segments yet.
    */
  def scan(): DataFrame =
    if (isEmpty) emptyFrame
    else if (seriesBuckets > 0) {
      // the table scan carries the bucket spec — outputPartitioning =
      // HashPartitioning(series_id), which is what kills the Exchange in
      // series-keyed aggregates; a bare read.parquet would not
      ensureTable()
      spark.table(tableName).select(fullSchema.fieldNames.map(col): _*)
    } else spark.read.schema(fullSchema).parquet(segDir)

  /** Rows of exactly the hour partitions `hours` that exist on disk, with
    * [[scan]]'s schema; the empty frame when none does.
    *
    * On the unbucketed layout Spark is handed only those hour directories
    * (with `basePath`, so `hour_bucket` stays a partition column): a read
    * of the whole `segDir` lists every hour, and above
    * `spark.sql.sources.parallelPartitionDiscovery.threshold` (32 paths)
    * it runs that listing as a Spark job, on every read. The bucketed
    * layout reads its catalog table, which carries the bucket spec.
    */
  def scanHours(hours: Seq[Long]): DataFrame =
    readHours(if (hours.isEmpty) Nil else partitions().filter(hours.toSet))

  /** [[scanHours]] of hour partitions `hs` already read from
    * [[partitions]], without listing them again.
    */
  private[storage] def readHours(hs: Seq[Long]): DataFrame = hs match {
    case Seq() => emptyFrame
    case _ if seriesBuckets > 0 => scan().filter(col("hour_bucket").isin(hs: _*))
    case _ => spark.read.schema(fullSchema).option("basePath", segDir)
      .parquet(hs.map(h => s"$segDir/hour_bucket=$h"): _*)
  }

  /** Range scan with explicit partition pruning on hour_bucket + row-group
    * pruning on time (inclusive bounds, `segment.zig:156,172`), through
    * [[scanHours]] of the window's hours.
    */
  def scanRange(startTs: Long, endTs: Long): DataFrame = {
    val lo = SeriesStore.hourFloor(startTs)
    readHours(partitions().filter(h => h >= lo && h <= endTs)).filter(
      col("hour_bucket") >= lo && col("hour_bucket") <= endTs &&
        col("time") >= startTs && col("time") <= endTs)
  }

  /** Rows satisfying `probe`, pruned the store-convention way: through
    * the skip manifest at [[SkipIndex.dirFor]] when one exists (files
    * pruned on every probe dimension), else through hour-partition
    * pruning on the probe's time bounds. Either way the probe's exact
    * residual runs on what is read, and the frame carries `hour_bucket`.
    * This is the one routed read behind the engine's SELECTs, the served
    * hybrid's raw edges and DELETE discovery.
    */
  def scanPruned(probe: ScanProbe): SkipIndex.SkipScan = {
    val dir = SkipIndex.dirFor(this)
    if (probe.isEmpty || SkipIndex.exists(spark, dir)) SkipIndex.scan(this, dir, probe)
    else SkipIndex.SkipScan(
      scanRange(probe.startTs, probe.endTs).filter(probe.residual), -1, -1)
  }

  /** The sydraQL source view (series, series_id, tags, time, value). */
  def source(): DataFrame = scan().select("series", "series_id", "tags", "time", "value")

  /** Distinct series catalog — replaces the inverted tag index
    * (`storage/tags.zig`): a small dimension the optimizer broadcasts.
    */
  def catalog(): DataFrame =
    // series_id functionally determines (series, tags); MAP columns don't
    // support set-op distinct, so dedupe by id
    scan().groupBy("series_id")
      .agg(first("series").as("series"), first("tags").as("tags"))
      .select("series", "series_id", "tags")

  /** Tag find (`http.zig:832-912`): AND = every (k,v) matches, OR = any. */
  def findSeries(tags: Map[String, String], op: String = "and"): DataFrame = {
    require(tags.nonEmpty, "tag find requires at least one tag")
    val preds = tags.toSeq.map { case (k, v) => try_element_at(col("tags"), lit(k)) === v }
    val pred = op.toLowerCase match {
      case "and" => preds.reduce(_ && _)
      case "or" => preds.reduce(_ || _)
      case other => throw new IllegalArgumentException(s"op must be and|or, got $other")
    }
    catalog().filter(pred).select("series_id")
  }

  /** Hour partitions present on disk. */
  def partitions(): Seq[Long] = {
    val fs = segFs
    if (!fs.exists(segPath)) Seq.empty
    else fs.listStatus(segPath).toSeq
      .filter(f => f.isDirectory && f.getPath.getName.startsWith("hour_bucket="))
      .map(_.getPath.getName.stripPrefix("hour_bucket=").toLong)
      .sorted
  }
}

object SeriesStore {
  /** Throws IllegalArgumentException naming the first of series, tags,
    * time, value that `input` lacks or types differently from `store`
    * (nullability aside).
    */
  private def checkPointTypes(input: StructType, store: StructType): Unit = {
    def loose(t: DataType): DataType = t match {
      case m: MapType => MapType(m.keyType, m.valueType, valueContainsNull = true)
      case other => other
    }
    Seq("series", "tags", "time", "value").foreach { c =>
      val want = store(c).dataType
      input.find(_.name.equalsIgnoreCase(c)) match {
        case None => throw new IllegalArgumentException(
          s"append needs column '$c' (${want.simpleString}); got ${input.simpleString}")
        case Some(f) if loose(f.dataType) != loose(want) =>
          throw new IllegalArgumentException(
            s"append column '$c' is ${f.dataType.simpleString}, the store's is ${want.simpleString}")
        case _ =>
      }
    }
  }

  /** The hour partition holding `ts` — floorDiv, not %: hour_bucket is
    * written with pmod (floor semantics), so a negative (pre-1970) `ts`
    * must floor too or valid negative hour partitions get pruned away.
    * Clamped to `Long.MinValue` in the first partial hour, where the
    * floor itself is below the Long range and the product would wrap to
    * a huge positive bound that prunes every partition.
    */
  private[storage] def hourFloor(ts: Long): Long = {
    val h = Math.floorDiv(ts, 3600L)
    if (h < Long.MinValue / 3600L) Long.MinValue else h * 3600L
  }

  /** The day (epoch-second floor) an hour partition belongs to. */
  private[storage] def dayOf(hour: Long): Long = hour - Math.floorMod(hour, 86400L)

  private val lastSeq = new java.util.concurrent.atomic.AtomicLong()

  /** Strictly increasing, wall-clock anchored (so ordering also holds
    * across process restarts against an existing store).
    */
  private[storage] def nextBatchSeq(): Long =
    lastSeq.updateAndGet(prev => math.max(prev + 1, System.currentTimeMillis()))
}
