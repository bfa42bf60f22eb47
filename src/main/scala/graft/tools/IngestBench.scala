package graft.tools

import graft.SparkEntry
import graft.storage.SeriesStore
import org.apache.spark.sql.functions._

/** Ingest throughput benchmark mirroring the reference harness shape
  * (`tools/bench_alloc.zig`: 200k ops, 128 series default): synthesizes
  * points, appends through the full store path (series-id hashing, hour
  * bucketing, partitioned parquet write), reports ops/s.
  *
  * `sbt "runMain graft.tools.IngestBench [ops] [series]"`
  */
object IngestBench {
  def main(args: Array[String]): Unit = {
    val ops = args.headOption.map(_.toLong).getOrElse(200000L)
    val nSeries = args.lift(1).map(_.toInt).getOrElse(128)
    val spark = graft.SparkEntry.localSession(32)
    val root = java.nio.file.Files.createTempDirectory("graft-ingest-bench").toString
    val store = new SeriesStore(spark, root)
    // one day of data spread over nSeries series, ~ops points
    val pts = spark.range(ops).select(
      concat(lit("bench.s"), (col("id") % nSeries).cast("string")).as("series"),
      map(lit("host"), (col("id") % 8).cast("string")).as("tags"),
      (lit(1704067200L) + (col("id") * 86400L / ops)).cast("long").as("time"),
      (col("id") % 1000).cast("double").as("value"))
    // profile mode (3rd arg "profile"): time the append's component
    // stages separately to name the bottleneck — (a) the series-id hash
    // alone, (b) hash + hour shuffle + sort into a noop sink (everything
    // but parquet), (c) the full partitioned parquet append.
    if (args.lift(2).contains("profile")) {
      import graft.core.{Functions => F}
      def timed(tag: String)(f: => Unit): Unit = {
        val t0 = System.nanoTime()
        f
        println(f"""{"stage":"$tag","seconds":${(System.nanoTime() - t0) / 1e9}%.2f,"ops":$ops}""")
      }
      val hashed = pts.withColumn("series_id", F.seriesId(col("series"), col("tags")))
      timed("series_id_hash_only")(
        hashed.write.format("noop").mode("overwrite").save())
      timed("hash_shuffle_sort_noop")(
        hashed
          .withColumn("hour_bucket", (col("time") - pmod(col("time"), lit(3600L))).cast("long"))
          .repartition(col("hour_bucket"))
          .sortWithinPartitions(col("series_id"), col("time"))
          .write.format("noop").mode("overwrite").save())
      timed("full_partitioned_append")(store.append(pts))
      spark.stop()
      return
    }
    val t0 = System.nanoTime()
    store.append(pts)
    val secs = (System.nanoTime() - t0) / 1e9
    val n = store.scan().count()
    println(f"""{"metric":"ingest_ops_per_sec","value":${n / secs}%.0f,"ops":$n,"seconds":$secs%.2f,"series":$nSeries,"partitions":${store.partitions().size}}""")
    spark.stop()
  }
}
