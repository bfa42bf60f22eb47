package graft.perfbench

import graft.storage.{SeriesStore, SketchCells, SkipIndex}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Store shape: metrics x hosts series, `days` whole UTC days from [[Gen.T0]]
  * at one point per `stepS` seconds.
  */
final case class Shape(metrics: Seq[String], hosts: Int, days: Int, stepS: Long) {
  def perSeries: Long = days * 86400L / stepS
  def nSeries: Int = metrics.length * hosts
  def points: Long = nSeries * perSeries
  def end: Long = Gen.T0 + days * 86400L
  def hostNames: Seq[String] = (0 until hosts).map(Gen.host)
  def series: Seq[(String, String)] = for (m <- metrics; h <- hostNames) yield (m, h)
}

object Shape {
  val full = Shape(Seq("cpu", "mem", "disk", "net"), hosts = 8, days = 4, stepS = 12)
  val smoke = Shape(Seq("cpu", "mem"), hosts = 2, days = 4, stepS = 900)
}

/** The seeded synthetic series generator. */
object Gen {
  /** One point: ((metric, host), time, value). */
  type Point = ((String, String), Long, Double)

  /** 2024-01-01T00:00:00Z: day-aligned, so day windows hit whole cells. */
  val T0 = 1704067200L

  def host(i: Int): String = f"h$i%02d"

  /** Every point of the store. Each column is cast to the store's type
    * explicitly: `SeriesStore.append` writes whatever types it is given,
    * and a DOUBLE `time` (what `/` yields) makes a store that every later
    * scan rejects.
    */
  def points(spark: SparkSession, seed: Long, shape: Shape): DataFrame = {
    val per = lit(shape.perSeries)
    val seriesIdx = floor(col("id") / per)
    val metricIdx = floor(seriesIdx / lit(shape.hosts))
    val hostIdx = pmod(seriesIdx, lit(shape.hosts.toLong))
    val time = lit(T0) + pmod(col("id"), per) * lit(shape.stepS)
    val diurnal = sin(pmod(time, lit(86400L)) * lit(2 * math.Pi / 86400) + hostIdx)
    val noise = pmod(xxhash64(lit(seed), col("id")), lit(1000L)) / lit(100.0)
    spark.range(shape.points).select(
      element_at(array(shape.metrics.map(lit): _*), (metricIdx + 1).cast(IntegerType))
        .cast(StringType).as("series"),
      map(lit("host"), format_string("h%02d", hostIdx.cast(IntegerType)))
        .cast(MapType(StringType, StringType)).as("tags"),
      time.cast(LongType).as("time"),
      round(lit(10.0) + metricIdx * lit(20.0) + lit(15.0) * diurnal + noise, 2)
        .cast(DoubleType).as("value"))
  }

  /** (count, sum(value)) per (series, host) of a points frame. */
  def totals(df: DataFrame): Map[(String, String), (Long, Double)] =
    df.groupBy(col("series"), element_at(col("tags"), lit("host")).as("host"))
      .agg(count(lit(1)), sum(col("value")))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap

  /** Bulk-load a fresh store under `root`, then build its skip manifest and
    * sketch cells (grouped and NDV on `host`). Returns the store and the
    * seconds each of the three steps took.
    */
  def buildStore(spark: SparkSession, root: String, seed: Long,
      shape: Shape): (SeriesStore, Map[String, Double]) = {
    val s = new SeriesStore(spark, root)
    def secs(f: => Unit): Double = { val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e9 }
    val steps = Map(
      "load_s" -> secs(s.append(points(spark, seed, shape))),
      "skip_index_s" -> secs(SkipIndex.build(s, SkipIndex.dirFor(s))),
      "cells_s" -> secs(SketchCells.build(s, SketchCells.dirFor(s),
        ndvTags = Seq("host"), groupTags = Seq("host"))))
    (s, steps)
  }

  /** Seconds between two points of one series in an ingested batch. */
  val BatchStep = 60L

  /** A seeded batch of `perSeries` points for every series, one a minute
    * from `start`.
    */
  def batch(rng: scala.util.Random, shape: Shape, start: Long, perSeries: Int): Seq[Point] =
    for {
      j <- 0 until perSeries
      sh <- shape.series
    } yield (sh, start + j * BatchStep, rng.nextInt(10000) / 100.0)

  /** A batch as the NDJSON body `/api/v1/ingest` takes. */
  def ndjson(pts: Seq[Point]): String = pts.map { case ((m, h), t, v) =>
    s"""{"series":"$m","tags":{"host":"$h"},"ts":$t,"value":$v}"""
  }.mkString("\n")

  /** A batch as the frame `SeriesStore.append` takes, explicitly typed. */
  def frame(spark: SparkSession, pts: Seq[Point]): DataFrame = {
    val schema = StructType(Seq(StructField("series", StringType),
      StructField("tags", MapType(StringType, StringType)),
      StructField("time", LongType), StructField("value", DoubleType)))
    val rows = pts.map { case ((m, h), t, v) => org.apache.spark.sql.Row(m, Map("host" -> h), t, v) }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** sydraQL deleting one series' points in [lo, hi). */
  def deleteQl(k: (String, String), lo: Long, hi: Long): String =
    s"delete from ${k._1} where tag.host = '${k._2}' and time >= $lo and time < $hi"

  /** A copy of `store`'s segments with no derived tier: no cells, no skip
    * manifest.
    */
  def tierlessClone(store: SeriesStore, root: String): SeriesStore = {
    val src = java.nio.file.Paths.get(store.root, "segments")
    val dst = java.nio.file.Paths.get(root, "segments")
    val walk = java.nio.file.Files.walk(src)
    try walk.forEach { p =>
      val t = dst.resolve(src.relativize(p).toString)
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(t)
      else java.nio.file.Files.copy(p, t)
    } finally walk.close()
    new SeriesStore(store.spark, root)
  }
}
