package graft.core

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.XxHash64
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.GraftShim

/** Core scalar helpers shared across the engine. */
object Functions {

  /** XXH64 with an explicit seed over a string column's UTF-8 bytes.
    *
    * Spark's SQL-level `xxhash64(...)` pins seed=42; the reference's series
    * ids use seed=0 (`/root/reference/src/sydra/types.zig:16-22`), so we
    * instantiate the (codegen'd) Catalyst expression directly with the seed
    * we need.
    */
  def xxhash64Seed(seed: Long, cols: Column*): Column =
    GraftShim.column(XxHash64(cols.map(GraftShim.expression), seed))

  /** Canonical JSON for a tags map: `{}` when empty/null, else compact JSON
    * in map insertion order (single-key maps in practice; multi-key callers
    * must pre-sort keys).
    */
  def tagsJson(tags: Column): Column =
    when(tags.isNull.or(size(tags) === 0), lit("{}")).otherwise(to_json(tags))

  /** series_id = XXH64(seed=0, series + "|" + tags_json) — parity with
    * `/root/reference/src/sydra/types.zig:16-22`.
    */
  def seriesId(series: Column, tags: Column): Column =
    xxhash64Seed(0L, concat(series, lit("|"), tagsJson(tags)))

  /** series_id for an untagged series (CLI ingest path hashes the bare name:
    * `/root/reference/src/sydra/server.zig:110`).
    */
  def seriesIdBare(series: Column): Column = xxhash64Seed(0L, series)

  /** `time_bucket(step, ts)` = floor(ts/step)*step over epoch seconds —
    * executed semantics at `/root/reference/src/sydra/query/expression.zig:147-156`
    * (float math, floor, returns integer; correct for negative ts).
    */
  def timeBucket(step: Column, ts: Column): Column =
    floor(ts.cast("double") / step.cast("double")).cast("long") * step.cast("long")

  /** 3-arg `time_bucket` with origin (declared surface,
    * `/root/reference/src/sydra/query/functions.zig:314-324`).
    */
  def timeBucket(step: Column, ts: Column, origin: Column): Column =
    floor((ts.cast("double") - origin.cast("double")) / step.cast("double"))
      .cast("long") * step.cast("long") + origin.cast("long")

  /** The 3-arg [[timeBucket]]'s arithmetic on one value, for grouping on
    * the driver (origin 0 is the 2-arg form: subtracting and adding 0
    * changes nothing).
    */
  def timeBucketOf(step: Long, ts: Long, origin: Long): Long =
    math.floor((ts.toDouble - origin.toDouble) / step.toDouble).toLong * step + origin
}
