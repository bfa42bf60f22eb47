package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Canonical table access for the driver-provided parquet test data and the
  * time-series view the sydraQL engine queries.
  *
  * Data model (reference: sydraDB, see SURVEY.md §1): a *series* is a named
  * stream of `(time, value)` points identified by
  * `series_id = XXH64(seed=0, series + "|" + tags_json)`
  * (`/root/reference/src/sydra/types.zig:16-22`). Every sydraQL scan emits
  * `[time LONG (epoch seconds), value DOUBLE]`, carrying `series_id` and
  * `tags MAP<STRING,STRING>` for predicate evaluation
  * (`/root/reference/src/sydra/query/plan.zig:255-280`).
  *
  * The driver's `events` table is mapped onto that model deterministically:
  * series = event_type, time = epoch seconds of ts, value = value,
  * tags = {"user": user_id % 8}. This mapping is mirrored 1:1 in the DuckDB
  * oracle SQL so correctness is checked end-to-end.
  */
object Tables {

  /** Spark reads parquet TIMESTAMP(NANOS) only with this legacy flag, which
    * surfaces the column as LONG nanoseconds — exactly what we want, since
    * the reference's `time` is integer epoch seconds, not a calendar type.
    */
  val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def lineitem(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "region")
  /** `events` with `ts` normalized to LONG epoch nanoseconds regardless of
    * how the parquet encodes it. The driver's generator has shipped both
    * TIMESTAMP(NANOS) (surfaced as LONG via [[NanosAsLong]] — identity
    * here) and TIMESTAMP(MICROS) (surfaced as TIMESTAMP_NTZ — converted
    * via unix_micros under the pinned UTC session zone, so the wall-clock
    * instant is preserved exactly; micros→nanos is a lossless ×1000).
    * Downstream code always sees nanos, matching the DuckDB oracle's
    * `epoch_ns(ts)`.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val raw = table(spark, dir, "events")
    raw.schema("ts").dataType match {
      case LongType => raw
      case TimestampNTZType =>
        raw.withColumn("ts", unix_micros(col("ts").cast(TimestampType)) * lit(1000L))
      case TimestampType =>
        raw.withColumn("ts", unix_micros(col("ts")) * lit(1000L))
      case other =>
        throw new IllegalStateException(s"unsupported events.ts type: $other")
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")

  /** The time-series view of `events`: one series per event_type.
    *
    * Columns: series STRING, series_id LONG (xxh64 seed-0 parity hash of
    * `series|tags_json`), tags MAP<STRING,STRING>, time LONG (epoch secs),
    * value DOUBLE.
    *
    * `ts` arrives as LONG nanoseconds (see [[NanosAsLong]]); integer
    * division by 1e9 floors for positive epochs, matching the DuckDB oracle
    * `epoch_ns(ts) // 1000000000`.
    */
  def seriesView(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
    ev.select(
      col("event_type").as("series"),
      Functions.seriesId(col("event_type"), map(lit("user"), (col("user_id") % 8).cast(StringType))).as("series_id"),
      map(lit("user"), (col("user_id") % 8).cast(StringType)).as("tags"),
      (col("ts") / lit(1000000000L)).cast(LongType).as("time"),
      col("value").as("value")
    )
  }
}
