package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode,
  StreamingQuery, Trigger}

/** Stream-query operators over the series model. The reference has no
  * stream-query surface (SURVEY.md §2.12 — its "streaming" is only the
  * ingest pipeline); these are the standard Structured Streaming
  * capabilities a training-data/metrics pipeline needs on top:
  * watermarked windowed aggregation and custom keyed state.
  *
  * Scale notes: windowed aggregation shuffles on (series, window) with
  * partial aggregation and watermark-driven state eviction; keyed state is
  * per-series (the natural shard key) and O(1) per key.
  *
  * Event time. Every twin below that reads one event-time column reads
  * `event_time` (its `time` column, epoch seconds, as a timestamp) under
  * a `watermarkDelay` watermark; Spark drops rows behind the watermark
  * before any stateful operator sees them. The keyed twins
  * (`flatMapGroupsWithState` with an event-time timeout) follow one of two
  * protocols, both in event time, so a replay or backfill behaves like
  * the live run:
  *  1. Confirmation ([[funnel]], [[transitions]], [[attribution]],
  *     [[scd2]], [[scd2Lookup]]). A key's events wait in a `pending`
  *     buffer until the watermark passes their time (`time <= wm`); only
  *     then do they fold, in the twin's own sort key, so a straggler
  *     inside the delay still lands in order. The timeout arms at the
  *     earliest pending `time + 1`, else at `lastSeen + retentionSecs`. A
  *     key with nothing pending and no event for `retentionSecs` is
  *     dropped, which bounds idle-key state. State per key is its
  *     confirmed fold plus at most the watermark delay's pending events.
  *  2. Open buckets ([[dayOverDay]], [[bucketZScore]], [[psiDayOverDay]],
  *     [[holtWinters]], [[lttb]]). A point folds into its `step`-aligned
  *     bucket `b` while `b + step > wm` or `b` is still open, so a late
  *     point for a closed bucket is dropped (append-mode aggregation
  *     semantics). Once `wm >= b + step` the due buckets close in
  *     ascending order: a bucket closed earlier in a step can pair with
  *     one closed later in it. Closed results a twin pairs against are
  *     kept only while a bucket that can use them may still close. The
  *     timeout arms at the earliest open bucket's close, carried result's
  *     eviction or `lastSeen + retentionSecs`, so a quiet key still
  *     closes its buckets and is collected. State per key is at most the
  *     watermark delay's open buckets plus the twin's bounded carry.
  * Both end in one settle step: an idle key's state is removed;
  * otherwise the state is updated and the timeout armed at the earliest
  * due strictly after the watermark, or not at all when none lies ahead.
  * [[darkSeries]] (its timeout is the output) and [[heavyHitters]] (one
  * key per window) keep their own protocols.
  *
  * Delivery. The maintenance sinks ([[indexMaintenance]],
  * [[sketchMaintenance]], [[tdigestCellMaintenance]],
  * [[skipIndexMaintenance]]) run `foreachBatch`, which is at-least-once,
  * over writes that are not idempotent. Each batch therefore runs behind
  * a replay guard: a `_last_batch` sidecar in the sink's directory,
  * published by an overwriting rename after the batch's body completes,
  * records the last fully-applied batch id, and a redelivered id at or
  * below it is skipped, as is an empty batch. A crash inside a body, after
  * some writes and before the sidecar, requires a rebuild.
  */
object StreamOps {

  final case class SeriesPoint(series: String, time: Long, value: Double)
  final case class SeriesEma(series: String, ema: Double, n: Long)
  final case class TimedPoint(series: String, time: Long, value: Double,
      event_time: java.sql.Timestamp)
  final case class LastSeen(lastSeen: Long)
  final case class DarkAlert(series: String, last_seen: Long, dark_since: Long)
  /** [[dayOverDay]] and [[bucketZScore]] state: open buckets' (sum, n) and
    * closed buckets' averages.
    */
  final case class BucketMeans(open: Map[Long, (Double, Long)], closed: Map[Long, Double])
  final case class FunnelState(pending: Seq[(Long, Int)], times: Seq[Long],
      lastSeen: Long)
  final case class FunnelProgress(user_id: Long, stage: Int, times: Seq[Long])
  final case class TransState(pending: Seq[(Long, Long, String)],
      last: Option[(Long, String)], lastSeen: Long)
  final case class TransitionEdge(user_id: Long, src: String, dst: String,
      t_src: Long, t_dst: Long)
  final case class TiedPoint(series: String, time: Long, value: Double,
      tie: Double, event_time: java.sql.Timestamp)
  // point triples are (time, value, tie)
  final case class LttbState(open: Map[Long, Vector[(Long, Double, Double)]],
      pending: Option[(Long, Vector[(Long, Double, Double)])],
      prevAnchor: Option[(Long, Double)], lastSeen: Long)
  final case class LttbPoint(series: String, bucket: Long, time: Long,
      value: Double, area: Double)
  final case class AttrState(pending: Seq[(Long, Long, String)],
      first: Option[String], lastNp: Option[String], lastSeen: Long)
  final case class AttributionCredit(user_id: Long, first_ch: String,
      last_ch: Option[String], t_purchase: Long)
  final case class PsiState(open: Map[Long, Map[Int, Long]],
      closed: Map[Long, Map[Int, Long]])
  final case class SeriesPsi(series: String, day: Long, psi: Double,
      n_cur: Long, n_prev: Long)
  final case class BucketZ(series: String, bucket: Long, v: Double, mu: Double,
      sigma: Double, z: Option[Double], anomaly: Boolean)
  final case class DayOverDay(series: String, bucket: Long, v: Double,
      v_prev: Double, delta_1d: Double, ratio_1d: Option[Double])

  /** `df` with `ts` (its `from` column as a timestamp) under a `delay`
    * watermark.
    */
  private def watermarked(df: DataFrame, delay: String, ts: String = "event_time",
      from: String = "time"): DataFrame =
    df.withColumn(ts, col(from).cast("timestamp")).withWatermark(ts, delay)

  /** (series, time, value) points as watermarked [[TimedPoint]]s. */
  private def timedPoints(points: DataFrame, delay: String): Dataset[TimedPoint] = {
    val spark = points.sparkSession
    import spark.implicits._
    watermarked(points.select(col("series"), col("time").cast("long"),
      col("value").cast("double")), delay).as[TimedPoint]
  }

  /** The settle step that ends every keyed twin's call (object doc): an
    * `idle` key's state is removed, and `true` returned; otherwise the
    * state becomes `next` and the timeout arms at the earliest of `dues`
    * (epoch seconds) strictly after `wm`, or at none.
    */
  private[graft] def settle[S](state: GroupState[S], wm: Long, idle: Boolean,
      dues: Iterable[Long])(next: => S): Boolean =
    if (idle) { state.remove(); true }
    else {
      state.update(next)
      val ahead = dues.filter(_ > wm)
      if (ahead.nonEmpty) state.setTimeoutTimestamp(ahead.min * 1000L)
      false
    }

  /** One confirmation step (object doc): `ready` is what the watermark
    * confirms, `pending` what still waits; `idle` and `dues` are the
    * key's [[settle]] arguments.
    */
  private[graft] final case class Confirmed[E](ready: Seq[E], pending: Seq[E],
      lastSeen: Long, idle: Boolean, dues: Seq[Long])

  /** Confirm a key's `pending` events plus its `fresh` ones at watermark
    * `wm`: events with `time <= wm` are ready, `lastSeen` advances over
    * every event, and the key is idle once nothing waits and
    * `wm >= lastSeen + retentionSecs`.
    */
  private[graft] def confirm[E](pending: Seq[E], fresh: Iterator[E], lastSeen: Long,
      wm: Long, retentionSecs: Long)(time: E => Long): Confirmed[E] = {
    val all = pending ++ fresh
    val seen = (lastSeen +: all.map(time)).max
    val (ready, waiting) = all.partition(time(_) <= wm)
    Confirmed(ready, waiting, seen, waiting.isEmpty && wm >= seen + retentionSecs,
      waiting.map(time(_) + 1) :+ (seen + retentionSecs))
  }

  /** One open-bucket step (object doc): each of `points` folds (`add`,
    * from `zero`) into its `step`-aligned bucket `b` while
    * `b + step > wm` or `b` is open, then every bucket with
    * `b + step <= wm` is handed to `close` in ascending order. Returns the
    * still-open buckets and the latest point time seen (`Long.MinValue`
    * for none).
    */
  private[graft] def closeDue[P, A](open: Map[Long, A], points: Iterator[P], wm: Long,
      step: Long, zero: A)(time: P => Long, add: (A, P) => A)(
      close: (Long, A) => Unit): (Map[Long, A], Long) = {
    var buckets = open
    var seen = Long.MinValue
    points.foreach { p =>
      val t = time(p)
      seen = math.max(seen, t)
      val b = t - math.floorMod(t, step)
      if (b + step > wm || buckets.contains(b))
        buckets += b -> add(buckets.getOrElse(b, zero), p)
    }
    val (due, still) = buckets.partition { case (b, _) => b + step <= wm }
    due.toSeq.sortBy(_._1).foreach { case (b, a) => close(b, a) }
    (still, seen)
  }

  /** The (sum, n) fold of a bucket's values. */
  private def addValue(acc: (Double, Long), p: TimedPoint): (Double, Long) =
    (acc._1 + p.value, acc._2 + 1)

  /** Tumbling-window aggregates with a watermark: late points beyond
    * `watermarkDelay` are dropped (in append mode) instead of growing
    * state forever. Works on a streaming or batch frame with
    * (series, time LONG epoch-secs, value).
    */
  def windowedAgg(
      points: DataFrame,
      windowDur: String = "1 hour",
      watermarkDelay: String = "10 minutes"): DataFrame =
    watermarked(points, watermarkDelay)
      .groupBy(col("series"), window(col("event_time"), windowDur))
      .agg(
        avg(col("value")).as("avg_value"),
        count(col("value")).as("n"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"))
      .select(
        col("series"),
        col("window.start").cast("long").as("window_start"),
        col("avg_value"), col("n"), col("min_value"), col("max_value"))

  /** Continuous data-contract monitoring — the streaming twin of
    * [[graft.pipeline.Checks.tableSuite]]: the same fused pass-fraction
    * metrics (identical Column expressions, shared via
    * `Checks.suiteAggs`/`suiteRows`), evaluated per tumbling window of
    * the stream. One watermarked windowed aggregate; state per open
    * window is the checks' O(#checks) partial sums, evicted by the
    * watermark. Distinct-based checks (uniqueness) are batch-only and
    * rejected loudly — a streaming pipeline dedups first and counts.
    *
    * Output (append mode, one emission per closed window):
    * (window_start, check, target, metric, threshold, pass).
    */
  def checks(points: DataFrame, table: String,
      suite: Seq[graft.pipeline.Checks.Check],
      windowDur: String = "1 hour",
      watermarkDelay: String = "10 minutes"): DataFrame = {
    require(suite.nonEmpty, "empty check suite")
    val bad = suite.filterNot(_.streamable).map(_.name).distinct
    require(bad.isEmpty,
      s"checks not expressible in a streaming aggregate: ${bad.mkString(", ")}")
    val aggs = graft.pipeline.Checks.suiteAggs(suite)
    watermarked(points, watermarkDelay)
      .groupBy(window(col("event_time"), windowDur))
      .agg(aggs.head, aggs.tail: _*)
      .select(col("window.start").cast("long").as("window_start"),
        graft.pipeline.Checks.suiteRows(table, suite).as("__r"))
      .select(col("window_start"), col("__r.check"), col("__r.target"),
        col("__r.metric"), col("__r.threshold"), col("__r.pass"))
  }

  /** Streaming sessionization: Spark's `session_window` merges events of
    * one series into sessions separated by > `gap`; the watermark closes
    * (and emits) sessions once no more late events can extend them. The
    * batch twin with identical gap semantics for point events is
    * `graft.pipeline.Sessionize.sessions`.
    */
  def sessionAgg(
      points: DataFrame,
      gap: String = "30 minutes",
      watermarkDelay: String = "10 minutes"): DataFrame =
    watermarked(points, watermarkDelay)
      .groupBy(col("series"), session_window(col("event_time"), gap))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("total_value"))
      .select(
        col("series"),
        col("session_window.start").cast("long").as("session_start"),
        col("session_window.end").cast("long").as("session_end"),
        col("n_events"), col("total_value"))

  /** Streaming M4 downsampling — the live-dashboard twin of
    * [[graft.operators.Downsample.m4]]: per (series, `step`-second
    * bucket) the four extreme points (earliest, latest, min-value,
    * max-value), which exactly reproduce a pixel column's min/max
    * envelope as data arrives. Same tie-breaks as the batch operator
    * (first/last lexicographic on (t, v), min/max on (v, t)) and the
    * same ≤ 4 distinct rows per bucket, so a closed bucket's output
    * equals the batch operator's row-for-row (StreamingSpec pins it).
    *
    * One watermarked tumbling-window aggregate: four O(1) struct-extreme
    * states per open (series, bucket), evicted by the watermark; the
    * explode only ever touches the ≤ 4 survivors. Append mode — a bucket
    * emits once no more late points can change its extremes.
    */
  def m4(points: DataFrame, step: Long,
      watermarkDelay: String = "10 minutes"): DataFrame = {
    require(step > 0, "m4 needs a positive bucket step")
    val t = col("time").cast("long")
    val v = col("value").cast("double")
    val tv = struct(t.as("t"), v.as("v"))
    val vt = struct(v.as("v"), t.as("t"))
    watermarked(points, watermarkDelay)
      .groupBy(col("series"), window(col("event_time"), s"$step seconds"))
      .agg(
        min(tv).as("__first"), max(tv).as("__last"),
        min(vt).as("__vmin"), max(vt).as("__vmax"))
      .select(col("series"), col("window.start").cast("long").as("bucket"),
        explode(array_distinct(array(
          col("__first"),
          col("__last"),
          struct(col("__vmin.t").as("t"), col("__vmin.v").as("v")),
          struct(col("__vmax.t").as("t"), col("__vmax.v").as("v"))))).as("__p"))
      .select(col("series"), col("bucket"),
        col("__p.t").as("time"), col("__p.v").as("value"))
  }

  /** Stream-stream interval join — the streaming twin of
    * [[graft.operators.RangeJoin]]: each point pairs with the same-series
    * markers whose `[m_time, m_time + windowSecs]` window contains it
    * (clicks inside purchase windows, errors inside deploy windows),
    * computed while BOTH sides are unbounded streams. Watermarks on both
    * event-time columns plus the two-sided time constraint let Spark
    * bound the join state: a buffered marker is evicted once the point
    * watermark passes `m_time + windowSecs`, a buffered point once the
    * marker watermark passes its time — state is the horizon's worth of
    * rows per side, not the stream's lifetime.
    *
    * Inner join (append-mode emittable). Output: the point's
    * (series, time, value) plus the matched (m_time, m_value).
    */
  def intervalJoin(points: DataFrame, markers: DataFrame, windowSecs: Long,
      watermarkDelay: String = "10 minutes"): DataFrame = {
    val p = watermarked(points, watermarkDelay, "pts")
    val m = markers.select(col("series").as("m_series"),
        col("time").as("m_time"), col("value").as("m_value"))
      .transform(watermarked(_, watermarkDelay, "mts", "m_time"))
    p.join(m,
        col("series") === col("m_series") &&
          col("pts") >= col("mts") &&
          col("pts") <= col("mts") + expr(s"INTERVAL $windowSecs SECONDS"))
      .select(col("series"), col("time"), col("value"),
        col("m_time"), col("m_value"))
  }

  /** Streaming point-in-interval range join — the incremental twin of
    * [[graft.operators.RangeJoin.pointInInterval]] with EXPLICIT per-row
    * intervals (`w_start` inclusive, `w_end` exclusive, epoch seconds),
    * unlike [[intervalJoin]]'s fixed marker+length shim: "events inside
    * live maintenance windows" where every window has its own bounds.
    *
    * `maxDurationSecs` (an upper bound on interval length) is what makes
    * the streaming form possible: the join's two-sided range condition is
    * on the WATERMARKED event-time columns (`point ≥ interval start` and
    * `point ≤ start + maxDuration`), so Spark evicts a buffered interval
    * once the point watermark passes `w_start + maxDuration`, and a
    * buffered point once the interval watermark passes its time. The
    * actual end bound `time < w_end` rides along as a residual conjunct
    * (on the timestamps `pts < iend`) —
    * exactly the batch operator's bucket-join + containment-filter split,
    * transposed to state eviction. Intervals LONGER than the cap are
    * dropped defensively (a partial match would silently diverge from the
    * batch twin; dropping is loud in any batch-parity check).
    *
    * Inner join (append-mode emittable). Input: points
    * (series, time, value); intervals (series, w_start, w_end, w_value).
    * Output: (series, time, value, w_start, w_end, w_value).
    */
  def rangeJoin(points: DataFrame, intervals: DataFrame, maxDurationSecs: Long,
      watermarkDelay: String = "10 minutes"): DataFrame = {
    require(maxDurationSecs > 0, "streaming range join needs a positive duration cap")
    val p = watermarked(points, watermarkDelay, "pts")
    val i = intervals.select(col("series").as("i_series"),
        col("w_start"), col("w_end"), col("w_value"))
      .filter(col("w_start") < col("w_end") &&
        col("w_end") - col("w_start") <= maxDurationSecs)
      .transform(watermarked(_, watermarkDelay, "ists", "w_start"))
    // the end bound compares the watermarked point timestamp with the
    // interval end's: written over the raw `time`, Spark's state-watermark
    // analysis of the join condition (where Catalyst also pushes a filter
    // on the join's output) cannot evaluate `time` and logs a stack trace
    // each time the query plans; over `pts` it solves the bound, and the
    // eviction watermark stays the smaller `w_start` one
    p.join(i.withColumn("iend", col("w_end").cast("timestamp")),
        col("series") === col("i_series") &&
          col("pts") >= col("ists") &&
          col("pts") <= col("ists") + expr(s"INTERVAL $maxDurationSecs SECONDS") &&
          col("pts") < col("iend"))
      .select(col("series"), col("time"), col("value"),
        col("w_start"), col("w_end"), col("w_value"))
  }

  /** Streaming tolerance-bounded as-of join — the incremental twin of
    * [[graft.operators.AsofJoin.backward]] with a tolerance: each point
    * gets the LATEST same-series marker in `[time − toleranceSecs, time]`
    * (unmatched points kept with nulls, LEFT semantics). A tolerance is
    * what makes the streaming form possible at all: an unbounded as-of
    * would have to buffer every marker forever, while the bounded lookback
    * gives Spark a two-sided time constraint to evict state against.
    *
    * Shape: left-outer stream-stream interval join (marker state evicted
    * once the point watermark passes `m_time + tolerance`, point state
    * once the marker watermark passes its time) followed by a windowed
    * max-of-(time, value)-struct aggregate that picks the latest candidate
    * per point — the chained join→window-agg pattern Spark supports in
    * append mode. State: tolerance horizon of markers + `bucket` of open
    * aggregation windows per series.
    *
    * Emission lag: the join shifts the downstream watermark back by the
    * interval bound (Spark's late-event propagation), so a row emits
    * once the source watermark passes `its window end + toleranceSecs` —
    * verified against the batch as-of on the events table (zero
    * mismatching rows; the only holdback was exactly this horizon).
    *
    * DISTINCT-POINT contract: the latest-candidate aggregate groups by
    * (window, series, time, value), so two input points with identical
    * (series, time, value) collapse to ONE output row — the batch twin
    * preserves both left rows. Points are expected unique per
    * (series, time, value); if the stream can carry true duplicates that
    * must survive, add a unique id column upstream and thread it through
    * a widened groupBy (the aggregate is the only collapsing step).
    * [[dedupStream]] upstream establishes the contract for ingest-shaped
    * streams.
    *
    * Output: (series, time, value, r_time, r_value).
    */
  def asofJoin(
      points: DataFrame,
      markers: DataFrame,
      toleranceSecs: Long,
      bucket: String = "1 hour",
      watermarkDelay: String = "10 minutes"): DataFrame = {
    require(toleranceSecs > 0, "streaming as-of needs a positive tolerance")
    val p = watermarked(points, watermarkDelay, "pts")
    val m = markers.select(col("series").as("m_series"),
        col("time").as("m_time"), col("value").as("m_value"))
      .transform(watermarked(_, watermarkDelay, "mts", "m_time"))
    p.join(m,
        col("series") === col("m_series") &&
          col("mts") >= col("pts") - expr(s"INTERVAL $toleranceSecs SECONDS") &&
          col("mts") <= col("pts"),
        "leftOuter")
      .groupBy(window(col("pts"), bucket),
        col("series"), col("time"), col("value"))
      // unmatched rows contribute a genuinely NULL struct (skipped by
      // max); a struct OF nulls would sort below real matches
      .agg(max(when(col("m_time").isNotNull,
        struct(col("m_time"), col("m_value")))).as("__m"))
      .select(col("series"), col("time"), col("value"),
        col("__m")("m_time").as("r_time"), col("__m")("m_value").as("r_value"))
  }

  /** Streaming alert evaluation — the incremental twin of
    * [[graft.operators.Alerts.firing]] (Prometheus `for`-clause): emit a
    * firing tick for every rollup bucket whose trailing `forBuckets`
    * buckets ALL satisfy `cond` — i.e. the alert's condition has held
    * continuously for the `for` duration, evaluated as data arrives
    * instead of by rescanning. A missing bucket (no points rolled up)
    * breaks the run, exactly as an absent evaluation does in the batch
    * operator.
    *
    * No custom state: two CHAINED watermarked window aggregates (the
    * multi-stateful pattern Spark supports natively in append mode).
    * First the `step`-second rollup (state evicted by the watermark),
    * then a sliding `window(window_time(bucket), forBuckets·step, step)`
    * over the condition-true buckets: each sliding window spans exactly
    * `forBuckets` bucket slots, so `count == forBuckets` ⟺ that many
    * consecutive breaches, and the firing tick is the window's last slot
    * (`window.end − step`). Both aggregates shuffle on (series, window)
    * with partial aggregation; state is the watermark horizon's worth of
    * open windows per series, not the stream's lifetime.
    *
    * `cond` is evaluated against the rollup average exposed as column
    * `v` (e.g. `col("v") > 50.0`). Output: (series, fired_at,
    * episode-position `window_start`) — one row per firing tick, the
    * streaming shape of the batch episode rows (a batch episode
    * [s, e] expands to ticks s+(forBuckets−1)·step … e).
    */
  def alertFiring(
      points: DataFrame,
      step: Long,
      cond: Column,
      forBuckets: Int,
      watermarkDelay: String = "10 minutes"): DataFrame = {
    require(step > 0, "alert evaluation needs a positive bucket step")
    require(forBuckets >= 1, "forBuckets must be >= 1")
    val bucketed = watermarked(points, watermarkDelay)
      .groupBy(col("series"), window(col("event_time"), s"$step seconds"))
      .agg(avg(col("value")).as("v"))
      .filter(cond)
    bucketed
      .groupBy(col("series"),
        window(window_time(col("window")),
          s"${step * forBuckets} seconds", s"$step seconds"))
      .agg(count(lit(1)).as("n_ok"))
      .filter(col("n_ok") === forBuckets)
      .select(col("series"),
        (col("window.end").cast("long") - step).as("fired_at"),
        col("window.start").cast("long").as("window_start"))
  }

  /** Streaming exact dedup on point identity within the watermark
    * horizon: the dedup key is (series_id, time) where series_id is the
    * same XXH64(series + tags) the store uses — two same-named series
    * with different tags are distinct points, exactly as in batch
    * ingest/compaction. State older than the watermark is evicted, so
    * dedup memory is bounded by the horizon, not the stream's lifetime.
    * First arrival wins (batch compaction's last-wins needs a total seq
    * order, which a stream doesn't have until flush).
    */
  def dedupStream(points: DataFrame, watermarkDelay: String = "10 minutes"): DataFrame = {
    val sid =
      if (points.columns.contains("tags"))
        graft.core.Functions.seriesId(col("series"), col("tags"))
      else graft.core.Functions.seriesIdBare(col("series"))
    watermarked(points.withColumn("__sid", sid), watermarkDelay)
      .dropDuplicatesWithinWatermark("__sid", "event_time")
      .drop("event_time", "__sid")
  }

  /** Streaming vocabulary counts: per-window word document-ish counts over
    * a text stream (the incremental twin of the batch
    * [[graft.pipeline.TextAnalysis.vocabTopK]] dictionary build — corpus
    * stats that keep up with ingestion instead of re-scanning). Tokens
    * shuffle on (window, word) with partial aggregation; watermark-driven
    * eviction bounds state to the window horizon, not the stream lifetime.
    * Input: (doc_id, time LONG epoch-secs, text).
    */
  def vocabCounts(
      docs: DataFrame,
      windowDur: String = "1 hour",
      watermarkDelay: String = "10 minutes"): DataFrame =
    watermarked(docs, watermarkDelay)
      .select(col("event_time"),
        explode(array_distinct(split(lower(col("text")), "\\s+"))).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(window(col("event_time"), windowDur), col("word"))
      .agg(count(lit(1)).as("doc_freq"))
      .select(col("window.start").cast("long").as("window_start"),
        col("word"), col("doc_freq"))

  /** Streaming topk-per-bucket — the live twin of `q_ts_topk_series`
    * (PromQL `topk()` on a dashboard): the k highest-avg series per
    * `step`-second evaluation window, emitted once per window when the
    * watermark closes it.
    *
    * Shape: two CHAINED stateful aggregations in append mode (Spark's
    * multiple-stateful-operator support) — the (window, series) rollup,
    * then a re-window on `window_time` that folds the per-series
    * aggregates of one window into a sorted list and slices the top k.
    * The second stage's state is one row per (window, series) — the
    * rollup's own output size, bounded by live series per window, the
    * same boundedness contract as [[vocabCounts]]' dictionaries. Raw
    * points never reach stage two.
    *
    * The (avg desc, series asc) tie-break matches the batch twin: the
    * collected struct negates the average so one ascending sort orders
    * both slots.
    *
    * Output: (bucket, rnk, series, avg_value).
    */
  def topkPerWindow(points: DataFrame, k: Int, step: Long,
      watermarkDelay: String = "10 minutes"): DataFrame = {
    require(k > 0 && step > 0, "topk needs positive k and bucket step")
    watermarked(points, watermarkDelay)
      .groupBy(window(col("event_time"), s"$step seconds"), col("series"))
      .agg(avg(col("value")).as("avg_value"))
      .groupBy(window(window_time(col("window")), s"$step seconds").as("w2"))
      .agg(sort_array(collect_list(
        struct((-col("avg_value")).as("na"), col("series")))).as("ranked"))
      .select(col("w2.start").cast("long").as("bucket"),
        posexplode(slice(col("ranked"), 1, k)))
      .select(col("bucket"), (col("pos") + 1).cast("long").as("rnk"),
        col("col.series").as("series"), (-col("col.na")).as("avg_value"))
  }

  /** Streaming full-absence detection — the live twin of
    * [[graft.operators.Alerts.gapsWithSpine]]'s dark-window reporting and
    * the true Prometheus `absent()` shape: emit ONE alert per dark
    * episode, when a series that has been seen before produces no point
    * for `forBuckets × step` seconds of EVENT time. Absence cannot fall
    * out of an aggregation (there is no row to aggregate); it needs
    * per-key state plus a clock, which is exactly
    * `flatMapGroupsWithState` with an EVENT-TIME timeout: state carries
    * the series' latest seen time, the timeout arms at
    * `last_seen + forBuckets·step`, and the WATERMARK passing that mark
    * — not wall clock, so replays/backfills behave identically — fires
    * the alert. Firing removes the state, so a returning series starts a
    * fresh episode (and its next point re-arms detection); a series dark
    * forever alerts exactly once.
    *
    * Scale shape: state is one (series → long) entry per live series —
    * the natural shard key, O(1) per point, eviction by firing. Output:
    * (series, last_seen, dark_since = last_seen + forBuckets·step).
    *
    * Late data past the watermark can arrive in the same micro-batch as
    * an already-due timeout; the data branch fires the overdue alert
    * inline (arming a timeout at-or-before the current watermark is an
    * error by API contract).
    */
  def darkSeries(
      spark: SparkSession,
      points: DataFrame,
      step: Long,
      forBuckets: Int,
      watermarkDelay: String = "10 minutes"): Dataset[DarkAlert] = {
    import spark.implicits._
    require(step > 0 && forBuckets >= 1, "dark-series detection needs a positive horizon")
    val horizon = step * forBuckets
    timedPoints(points, watermarkDelay)
      .groupByKey(_.series)
      .flatMapGroupsWithState[LastSeen, DarkAlert](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (series: String, it: Iterator[TimedPoint], state: GroupState[LastSeen]) =>
          if (state.hasTimedOut) {
            val ls = state.get
            state.remove()
            Iterator.single(DarkAlert(series, ls.lastSeen, ls.lastSeen + horizon))
          } else {
            val maxT = it.map(_.time).max
            val last = math.max(state.getOption.map(_.lastSeen).getOrElse(Long.MinValue), maxT)
            val due = (last + horizon) * 1000
            if (state.getCurrentWatermarkMs() >= due) {
              // the episode is ALREADY over by event time: fire inline
              state.remove()
              Iterator.single(DarkAlert(series, last, last + horizon))
            } else {
              state.update(LastSeen(last))
              state.setTimeoutTimestamp(due)
              Iterator.empty
            }
          }
      }
  }

  /** Streaming day-over-day offset comparison — the live twin of
    * `q_ts_offset` (PromQL's `offset` modifier): each closed
    * `step`-second bucket's average against the SAME series' bucket
    * `offsetSecs` earlier, emitted once when the current bucket closes.
    * Inner semantics: a bucket with no `offsetSecs`-ago twin emits
    * nothing (matching the batch gate); `ratio_1d` is None when the
    * prior bucket's average is 0.
    *
    * Comparing against a window a full DAY older cannot fall out of one
    * windowed aggregation (the pair is 24 h apart — no single window
    * holds both), and chaining `flatMapGroupsWithState` BEHIND an
    * aggregation is not a supported stateful combination; so the rollup
    * and the carry live together in per-series keyed state:
    * `open`  = in-progress buckets' (sum, n) — the windowed-agg state,
    *           closed and emitted when the WATERMARK passes bucket end
    *           (event time, so replays behave identically);
    * `closed`= closed buckets' averages retained as pairing candidates
    *           until `wm >= bucket + offsetSecs + step`, the exact
    *           instant the last bucket that could pair with them closes
    *           — eviction loses no pair opportunity.
    *
    * Scale shape (100 TB): state per series is (delay/step) open buckets
    * + (offsetSecs/step) closed averages — ~26 map entries at hourly
    * buckets/day offset, constant per series, sharded on the natural
    * series key; raw points fold into (sum, n) on arrival and never
    * accumulate.
    *
    * Output: (series, bucket, v, v_prev, delta_1d, ratio_1d).
    */
  def dayOverDay(
      spark: SparkSession,
      points: DataFrame,
      step: Long = 3600L,
      offsetSecs: Long = 86400L,
      watermarkDelay: String = "10 minutes"): Dataset[DayOverDay] = {
    import spark.implicits._
    require(step > 0 && offsetSecs > 0 && offsetSecs % step == 0,
      "offset must be a positive multiple of the bucket step")
    timedPoints(points, watermarkDelay)
      .groupByKey(_.series)
      .flatMapGroupsWithState[BucketMeans, DayOverDay](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (series: String, it: Iterator[TimedPoint], state: GroupState[BucketMeans]) =>
          val wm = state.getCurrentWatermarkMs() / 1000L
          val st = state.getOption.getOrElse(BucketMeans(Map.empty, Map.empty))
          var closed = st.closed
          val out = Seq.newBuilder[DayOverDay]
          val (open, _) = closeDue(st.open, it, wm, step, (0.0, 0L))(_.time, addValue) {
            case (b, (s, n)) =>
              val v = s / n
              closed += b -> v
              closed.get(b - offsetSecs).foreach { pv =>
                out += DayOverDay(series, b, v, pv, v - pv,
                  if (pv != 0.0) Some(v / pv) else None)
              }
          }
          // retain a closed bucket only while its pairing target can
          // still close
          closed = closed.filter { case (b, _) => wm < b + offsetSecs + step }
          settle(state, wm, open.isEmpty && closed.isEmpty,
            open.keys.map(_ + step) ++ closed.keys.map(_ + offsetSecs + step))(
            BucketMeans(open, closed))
          out.result().iterator
      }
  }

  /** Streaming LTTB — the live twin of
    * [[graft.operators.Downsample.lttb]]'s bucket-anchor variant: one
    * max-triangle-area point per closed (series, bucket), scored against
    * the neighboring NONEMPTY buckets' first-point anchors, exactly the
    * batch operator's lag/lead-over-existing-buckets semantics. Ties
    * break on (time, tie key): `tieCol` names a NUMERIC column carried
    * through the state (exact as a double up to 2^53 — event ids
    * qualify) so streaming and batch use the SAME sort key — pass the
    * column the batch call passes as `tieCols` (q_ts_lttb uses
    * event_id); the default is the value itself, matching batch
    * `tieCols = Seq("value")`.
    *
    * A bucket emits when (a) it is watermark-closed AND (b) its successor
    * bucket is watermark-closed — the successor's anchor (its earliest
    * point) is only final once no late point can precede it. Edge buckets
    * (no predecessor yet / no successor ever) never emit, matching the
    * batch operator's interior-only contract; compose with [[m4]] for
    * live boundary envelopes.
    *
    * State per series = the open buffers (≤ watermark-delay's worth of
    * raw points), ONE closed bucket awaiting its successor, and the
    * predecessor's 16-byte anchor — bounded by delay × density, except
    * that a series going dark holds its last closed bucket until
    * `retentionSecs` evicts it (the final bucket would never emit
    * anyway). Sharded on series.
    */
  def lttb(
      spark: SparkSession,
      points: DataFrame,
      step: Long,
      watermarkDelay: String = "10 minutes",
      retentionSecs: Long = 30 * 86400L,
      tieCol: Option[String] = None): Dataset[LttbPoint] = {
    import spark.implicits._
    require(step > 0, "lttb needs a positive bucket step")
    val tie = tieCol.map(c => col(c).cast("double"))
      .getOrElse(col("value").cast("double"))
    watermarked(points.select(col("series"), col("time").cast("long"),
        col("value").cast("double"), tie.as("tie")), watermarkDelay)
      .as[TiedPoint]
      .groupByKey(_.series)
      .flatMapGroupsWithState[LttbState, LttbPoint](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (series: String, it: Iterator[TiedPoint], state: GroupState[LttbState]) =>
          val wm = state.getCurrentWatermarkMs() / 1000L
          val st = state.getOption.getOrElse(LttbState(Map.empty, None, None, 0L))
          var pending = st.pending
          var prevAnchor = st.prevAnchor
          val out = Seq.newBuilder[LttbPoint]
          val (open, seen) = closeDue(st.open, it, wm, step,
              Vector.empty[(Long, Double, Double)])(
              _.time, (pts, p) => pts :+ ((p.time, p.value, p.tie))) { (b, pts) =>
            // (time, tie) ascending — the batch wIn ordering
            val a0 = pts.minBy(p => (p._1, p._3))
            val anchor = (a0._1, a0._2)
            pending match {
              case Some((pb, ppts)) =>
                prevAnchor.foreach { case (pt, pv) =>
                  val (nt, nv) = anchor
                  val best = ppts.maxBy { case (t, v, k) =>
                    val area = math.abs((pt - nt) * (v - pv) - (pt - t) * (nv - pv))
                    (area, -t.toDouble, -k)
                  }
                  val area = math.abs((pt - nt) * (best._2 - pv) -
                    (pt - best._1) * (nv - pv))
                  out += LttbPoint(series, pb, best._1, best._2,
                    math.floor(area * 1e4 + 0.5) / 1e4)
                }
                prevAnchor = Some { val m = ppts.minBy(p => (p._1, p._3)); (m._1, m._2) }
              case None => ()
            }
            pending = Some((b, pts))
          }
          val lastSeen = math.max(st.lastSeen, seen)
          // a dark series' trailing bucket can never emit: retention drops it
          settle(state, wm, open.isEmpty && wm >= lastSeen + retentionSecs,
            open.keys.map(_ + step) ++ Iterable(lastSeen + retentionSecs))(
            LttbState(open, pending, prevAnchor, lastSeen))
          out.result().iterator
      }
  }

  /** Streaming conversion attribution — the live twin of
    * `q_ev_attribution`: one credit row per watermark-confirmed
    * conversion event, carrying the user's first-ever event type
    * (first-touch; the conversion itself if it opens the history — the
    * batch twin's full-prefix frame) and the most recent STRICTLY-PRIOR
    * non-conversion type (last-touch; None when the conversion is first
    * — the batch [-∞, -1] frame). The channel rollup downstream is a
    * plain aggregation; this operator owns order restoration, exactly
    * like [[transitions]].
    *
    * State per user = two channel strings + the pending buffer — bounded
    * by the watermark delay, sharded on user_id.
    */
  def attribution(
      spark: SparkSession,
      events: DataFrame,
      convType: String = "purchase",
      watermarkDelay: String = "10 minutes",
      retentionSecs: Long = 30 * 86400L): Dataset[AttributionCredit] = {
    import spark.implicits._
    watermarked(events.select(col("user_id").cast("long"), col("event_type"),
        col("time").cast("long"), col("event_id").cast("long")), watermarkDelay)
      .as[(Long, String, Long, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[AttrState, AttributionCredit](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, it: Iterator[(Long, String, Long, Long, java.sql.Timestamp)],
            state: GroupState[AttrState]) =>
          val wm = state.getCurrentWatermarkMs() / 1000L
          val st = state.getOption.getOrElse(AttrState(Nil, None, None, 0L))
          val c = confirm(st.pending, it.map(e => (e._3, e._4, e._2)), st.lastSeen,
            wm, retentionSecs)(_._1)
          var first = st.first
          var lastNp = st.lastNp
          val out = Seq.newBuilder[AttributionCredit]
          c.ready.sortBy(e => (e._1, e._2)).foreach { case (t, _, et) =>
            if (first.isEmpty) first = Some(et)
            if (et == convType) out += AttributionCredit(user, first.get, lastNp, t)
            else lastNp = Some(et)
          }
          settle(state, wm, c.idle, c.dues)(AttrState(c.pending, first, lastNp, c.lastSeen))
          out.result().iterator
      }
  }

  /** Streaming day-over-day PSI — the live twin of `q_ts_psi`: when a
    * day closes (watermark passes its end), its `bins`-bin value
    * histogram is scored against the previous CLOSED day of the same
    * series with the ε-smoothed Population Stability Index (ε = 1e-4,
    * the batch gate's formula; orientation prev→current).
    *
    * One contract difference from the batch gate, inherent to streaming:
    * bin bounds are CONFIGURED (`lo`/`hi`), not derived from the data —
    * a live monitor cannot know the combined min/max of a day that
    * hasn't finished; out-of-range values clamp to the edge bins. Feed
    * the batch-derived bounds and the numbers coincide (StreamingSpec
    * pins this).
    *
    * State per series = open-day histograms (≤ watermark-delay days ×
    * `bins` counts) + closed-day histograms retained one pairing horizon
    * (2 days) — constant, sharded on series.
    */
  def psiDayOverDay(
      spark: SparkSession,
      points: DataFrame,
      lo: Double,
      hi: Double,
      bins: Int = 10,
      daySecs: Long = 86400L,
      watermarkDelay: String = "10 minutes"): Dataset[SeriesPsi] = {
    import spark.implicits._
    require(hi > lo && bins > 0, "psi needs hi > lo and positive bins")
    timedPoints(points, watermarkDelay)
      .groupByKey(_.series)
      .flatMapGroupsWithState[PsiState, SeriesPsi](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (series: String, it: Iterator[TimedPoint], state: GroupState[PsiState]) =>
          val wm = state.getCurrentWatermarkMs() / 1000L
          val st = state.getOption.getOrElse(PsiState(Map.empty, Map.empty))
          var closed = st.closed
          val out = Seq.newBuilder[SeriesPsi]
          val (open, _) = closeDue(st.open, it, wm, daySecs, Map.empty[Int, Long])(_.time,
            { (h, p) =>
              val bin = math.max(0, math.min(bins - 1,
                math.floor((p.value - lo) / ((hi - lo) / bins)).toInt))
              h + (bin -> (h.getOrElse(bin, 0L) + 1L))
            }) { (d, h) =>
            closed += d -> h
            closed.get(d - daySecs).foreach { hp =>
              val na = hp.values.sum.toDouble
              val nb = h.values.sum.toDouble
              val eps = 1e-4
              val psi = (0 until bins).map { b =>
                val pa = hp.getOrElse(b, 0L) / na
                val pb = h.getOrElse(b, 0L) / nb
                (pa + eps - (pb + eps)) * math.log((pa + eps) / (pb + eps))
              }.sum
              out += SeriesPsi(series, d,
                math.floor(psi * 1e4 + 0.5) / 1e4, nb.toLong, na.toLong)
            }
          }
          // retain a closed day only while the NEXT day can still close
          closed = closed.filter { case (d, _) => wm < d + 2 * daySecs }
          settle(state, wm, open.isEmpty && closed.isEmpty,
            open.keys.map(_ + daySecs) ++ closed.keys.map(_ + 2 * daySecs))(
            PsiState(open, closed))
          out.result().iterator
      }
  }

  /** Streaming rolling z-score anomaly detection — the live twin of
    * `q_ts_zscore`'s post-rollup form: when a `step`-second bucket closes
    * (watermark passes its end), its average is scored against the
    * trailing `lookbackSecs` of CLOSED buckets of the same series
    * (inclusive of itself — the same [-dur, 0] frame as the batch RANGE
    * window), with population σ; `z` is None on a zero-σ frame, and
    * `anomaly` fires at |z| ≥ `threshold`.
    *
    * `closed` retains only averages inside the lookback horizon —
    * evicted the instant the last bucket that could include them closes
    * (wm ≥ b + lookback + step). State per series is (delay/step) open +
    * (lookback/step) closed entries, constant, sharded on the series key.
    */
  def bucketZScore(
      spark: SparkSession,
      points: DataFrame,
      step: Long = 600L,
      lookbackSecs: Long = 3600L,
      threshold: Double = 3.0,
      watermarkDelay: String = "10 minutes"): Dataset[BucketZ] = {
    import spark.implicits._
    require(step > 0 && lookbackSecs > 0 && lookbackSecs % step == 0,
      "lookback must be a positive multiple of the bucket step")
    timedPoints(points, watermarkDelay)
      .groupByKey(_.series)
      .flatMapGroupsWithState[BucketMeans, BucketZ](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (series: String, it: Iterator[TimedPoint], state: GroupState[BucketMeans]) =>
          val wm = state.getCurrentWatermarkMs() / 1000L
          val st = state.getOption.getOrElse(BucketMeans(Map.empty, Map.empty))
          var closed = st.closed
          val out = Seq.newBuilder[BucketZ]
          val (open, _) = closeDue(st.open, it, wm, step, (0.0, 0L))(_.time, addValue) {
            case (b, (s, n)) =>
              val v = s / n
              closed += b -> v
              // sorted: a Map's iteration order is arbitrary, and the
              // float fold must not depend on it across runs/restarts
              val frame = closed.collect {
                case (cb, cv) if cb >= b - lookbackSecs && cb <= b => cv
              }.toSeq.sorted
              val mu = frame.sum / frame.size
              val sigma = math.sqrt(math.max(
                frame.map(x => (x - mu) * (x - mu)).sum / frame.size, 0.0))
              val z = if (sigma > 0) Some((v - mu) / sigma) else None
              out += BucketZ(series, b, v, mu, sigma, z,
                z.exists(x => math.abs(x) >= threshold))
          }
          closed = closed.filter { case (b, _) => wm < b + lookbackSecs + step }
          settle(state, wm, open.isEmpty && closed.isEmpty,
            open.keys.map(_ + step) ++ closed.keys.map(_ + lookbackSecs + step))(
            BucketMeans(open, closed))
          out.result().iterator
      }
  }

  /** Streaming ordered funnel — the live twin of `q_ev_funnel`: per user,
    * step i completes at the first event of `steps(i)` at-or-after step
    * i−1's completion (step 0 at its first event). Emits a
    * [[FunnelProgress]] row each time a user's stage advances.
    *
    * Exactness under disorder comes from the confirmation protocol
    * (object doc): events fold in true event-time order, so a straggling
    * earlier signup cannot be preempted by a click that arrived first.
    * Confirmed state is `steps.size` longs; `retentionSecs` is the
    * conversion window (a funnel that never closes is a memory leak at
    * 100 TB user counts).
    */
  def funnel(
      spark: SparkSession,
      events: DataFrame,
      steps: Seq[String],
      watermarkDelay: String = "10 minutes",
      retentionSecs: Long = 30 * 86400L): Dataset[FunnelProgress] = {
    import spark.implicits._
    require(steps.nonEmpty, "funnel needs at least one step")
    val step = coalesce(element_at(typedlit(steps.zipWithIndex.toMap), col("event_type")),
      lit(-1)).cast("int")
    watermarked(events.select(col("user_id").cast("long"), step.as("step"),
        col("time").cast("long")).filter(col("step") >= 0), watermarkDelay)
      .as[(Long, Int, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[FunnelState, FunnelProgress](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, it: Iterator[(Long, Int, Long, java.sql.Timestamp)],
            state: GroupState[FunnelState]) =>
          val wm = state.getCurrentWatermarkMs() / 1000L
          val st = state.getOption.getOrElse(FunnelState(Nil, Nil, 0L))
          val c = confirm(st.pending, it.map(e => (e._3, e._2)), st.lastSeen,
            wm, retentionSecs)(_._1)
          var times = st.times
          // (time, step) order — true event-time order, ties resolved
          // earlier-step-first so same-second signup→click completes
          c.ready.sorted.foreach { case (t, i) =>
            // only the NEXT step can complete; an event for a later step
            // (or a repeat of a done one) is exactly what the batch
            // min-at-or-after chain excludes
            if (i == times.size && (i == 0 || t >= times(i - 1)))
              times = times :+ t
          }
          settle(state, wm, c.idle, c.dues)(FunnelState(c.pending, times, c.lastSeen))
          if (times.size > st.times.size)
            Iterator.single(FunnelProgress(user, times.size, times))
          else Iterator.empty
      }
  }

  /** Streaming next-event transitions — the live twin of
    * `q_ev_transitions`' pair stage: one (src → dst) edge per consecutive
    * event pair in each user's watermark-confirmed, event-time-ordered
    * stream. The downstream count/probability rollup is a plain windowed
    * aggregation over the emitted edges; the hard part — restoring
    * per-user event ORDER from out-of-order micro-batches — is what this
    * operator owns.
    *
    * Confirmed events (object doc) fold in (time, event_id) order, the
    * batch twin's exact sort key; state carries the last confirmed event
    * as the next edge's source.
    *
    * Output is edge-at-a-time, nothing global.
    */
  def transitions(
      spark: SparkSession,
      events: DataFrame,
      watermarkDelay: String = "10 minutes",
      retentionSecs: Long = 30 * 86400L): Dataset[TransitionEdge] = {
    import spark.implicits._
    watermarked(events.select(col("user_id").cast("long"), col("event_type"),
        col("time").cast("long"), col("event_id").cast("long")), watermarkDelay)
      .as[(Long, String, Long, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[TransState, TransitionEdge](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, it: Iterator[(Long, String, Long, Long, java.sql.Timestamp)],
            state: GroupState[TransState]) =>
          val wm = state.getCurrentWatermarkMs() / 1000L
          val st = state.getOption.getOrElse(TransState(Nil, None, 0L))
          val c = confirm(st.pending, it.map(e => (e._3, e._4, e._2)), st.lastSeen,
            wm, retentionSecs)(_._1)
          var last = st.last
          val edges = Seq.newBuilder[TransitionEdge]
          // (time, event_id) ascending — the batch twin's sort key
          c.ready.sortBy(e => (e._1, e._2)).foreach { case (t, _, et) =>
            last.foreach { case (pt, pet) =>
              edges += TransitionEdge(user, pet, et, pt, t)
            }
            last = Some((t, et))
          }
          settle(state, wm, c.idle, c.dues)(TransState(c.pending, last, c.lastSeen))
          edges.result().iterator
      }
  }

  final case class Scd2St(pending: Seq[(Long, Long, String)],
      open: Option[(Long, String, Int)], lastSeen: Long)
  final case class Scd2Ep(key: Long, attr: String, valid_from: Long,
      valid_to: Option[Long], version: Int, is_current: Boolean)

  /** Streaming SCD2 — the live-CDC twin of
    * [[graft.operators.Scd2.history]]: per key, fold watermark-CONFIRMED
    * observations (object doc) in (time, event_id) order and emit each
    * episode the moment a changed attribute CLOSES it — (key, attr,
    * valid_from, valid_to, version, is_current=false), append mode,
    * bit-equal to the batch operator's closed rows on the same data
    * (StreamingSpec pins it). The OPEN episode lives in state (it is the
    * key's current dimension row); retention eviction flushes it once
    * with is_current=true, exactly the batch operator's current row.
    *
    * State per key = open episode (3 fields) + the pending buffer.
    * Same-attribute observations collapse in-state (no output,
    * no growth): a k-state dimension emits O(changes), never O(events).
    */
  def scd2(
      spark: SparkSession,
      events: DataFrame,
      watermarkDelay: String = "10 minutes",
      retentionSecs: Long = 30 * 86400L): Dataset[Scd2Ep] = {
    import spark.implicits._
    watermarked(events.select(col("key").cast("long"), col("time").cast("long"),
        col("event_id").cast("long"), col("attr").cast("string")), watermarkDelay)
      .as[(Long, Long, Long, String, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Scd2St, Scd2Ep](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key: Long, it: Iterator[(Long, Long, Long, String, java.sql.Timestamp)],
            state: GroupState[Scd2St]) =>
          val wm = state.getCurrentWatermarkMs() / 1000L
          val st = state.getOption.getOrElse(Scd2St(Nil, None, 0L))
          val c = confirm(st.pending, it.map(e => (e._2, e._3, e._4)), st.lastSeen,
            wm, retentionSecs)(_._1)
          var open = st.open
          val eps = Seq.newBuilder[Scd2Ep]
          // (time, event_id) ascending — the batch operator's sort key
          c.ready.sortBy(e => (e._1, e._2)).foreach { case (t, _, a) =>
            open match {
              case None => open = Some((t, a, 1))
              case Some((vf, pa, v)) if a != pa =>
                eps += Scd2Ep(key, pa, vf, Some(t), v, is_current = false)
                open = Some((t, a, v + 1))
              case _ => () // unchanged attribute: collapse in-state
            }
          }
          if (settle(state, wm, c.idle, c.dues)(Scd2St(c.pending, open, c.lastSeen)))
            // idle eviction: flush the open episode as the current row
            open.foreach { case (vf, a, v) =>
              eps += Scd2Ep(key, a, vf, None, v, is_current = true)
            }
          eps.result().iterator
      }
  }

  final case class LookupSt(pending: Seq[(Long, Long, String, String)],
      open: Option[(Long, String, Int)], lastSeen: Long)
  final case class EnrichedFact(key: Long, time: Long, event_id: Long,
      state: Option[String], state_since: Option[Long], version: Option[Int])

  /** Streaming SCD2 point-in-time enrichment — the live twin of
    * `q_ev_scd2_lookup` (Scd2.history ∘ AsofJoin.backward): one mixed
    * stream of dimension observations (`kind` = "obs") and facts
    * (anything else), keyed and watermark-confirmed like [[scd2]];
    * the single in-order fold maintains the open episode AND stamps
    * every confirmed fact with the state as of its event time —
    * (key, time, event_id, state, state_since, version), append mode.
    * At an equal timestamp the observation applies BEFORE the fact
    * (the batch as-of join's time-equality match; spec-pinned).
    *
    * This is the streaming answer to "join the fact stream against the
    * dimension AS OF event time" WITHOUT a stream-stream join: the
    * dimension is 3 fields of keyed state, facts never wait for a join
    * trigger, and out-of-order arrivals inside the watermark still see
    * exactly the state their event time implies.
    */
  def scd2Lookup(
      spark: SparkSession,
      events: DataFrame,
      watermarkDelay: String = "10 minutes",
      retentionSecs: Long = 30 * 86400L): Dataset[EnrichedFact] = {
    import spark.implicits._
    watermarked(events.select(col("key").cast("long"), col("time").cast("long"),
        col("event_id").cast("long"), col("kind").cast("string"),
        col("attr").cast("string")), watermarkDelay)
      .as[(Long, Long, Long, String, String, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[LookupSt, EnrichedFact](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key: Long, it: Iterator[(Long, Long, Long, String, String, java.sql.Timestamp)],
            state: GroupState[LookupSt]) =>
          val wm = state.getCurrentWatermarkMs() / 1000L
          val st = state.getOption.getOrElse(LookupSt(Nil, None, 0L))
          val c = confirm(st.pending, it.map(e => (e._2, e._3, e._4, e._5)), st.lastSeen,
            wm, retentionSecs)(_._1)
          var open = st.open
          val out = Seq.newBuilder[EnrichedFact]
          // (time, obs-before-fact, event_id): the as-of equality match
          c.ready.sortBy(e => (e._1, if (e._3 == "obs") 0 else 1, e._2))
            .foreach { case (t, oid, kind, a) =>
              if (kind == "obs") open match {
                case None => open = Some((t, a, 1))
                case Some((_, pa, v)) if a != pa => open = Some((t, a, v + 1))
                case _ => ()
              }
              else out += (open match {
                case Some((vf, sa, v)) =>
                  EnrichedFact(key, t, oid, Some(sa), Some(vf), Some(v))
                case None => EnrichedFact(key, t, oid, None, None, None)
              })
            }
          settle(state, wm, c.idle, c.dues)(LookupSt(c.pending, open, c.lastSeen))
          out.result().iterator
      }
  }

  /** Per-series running EMA as custom keyed state
    * (`flatMapGroupsWithState`): state = (ema, n); each batch folds its
    * points in time order into the carried state. State survives restarts
    * via the query checkpoint.
    */
  def emaState(
      spark: SparkSession,
      points: DataFrame,
      alpha: Double): Dataset[SeriesEma] = {
    import spark.implicits._
    points.select(col("series"), col("time").cast("long"), col("value").cast("double"))
      .as[SeriesPoint]
      .groupByKey(_.series)
      .flatMapGroupsWithState[SeriesEma, SeriesEma](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (series: String, it: Iterator[SeriesPoint], state: GroupState[SeriesEma]) =>
          val sorted = it.toSeq.sortBy(p => (p.time, p.value))
          if (sorted.isEmpty) Iterator.empty
          else {
            val init = state.getOption.getOrElse(SeriesEma(series, sorted.head.value, 0L))
            var ema = if (state.exists) init.ema else sorted.head.value
            var n = init.n
            val rest = if (state.exists) sorted else sorted.tail
            if (!state.exists) n += 1
            rest.foreach { p => ema = alpha * p.value + (1 - alpha) * ema; n += 1 }
            val out = SeriesEma(series, ema, n)
            state.update(out)
            Iterator.single(out)
          }
      }
  }

  /** Streaming count–min sketch — the live twin of
    * [[graft.pipeline.TextAnalysis.cmsEstimate]]'s counter table: the
    * depth bucket projections ride the SAME md5-derived affine schedule
    * (CmsA/CmsB — replay the full schedule), and the per-window cell
    * counts are a NATIVE watermarked windowed aggregation — counters are
    * pure counts, so Spark's incremental stateful agg IS the sketch; no
    * custom state machine, append mode emits each window's final cells
    * once the watermark closes it. Downstream point estimates are
    * min-over-rows lookups against the emitted (≤ depth×width)-cell
    * frame, and cells from adjacent windows MERGE by addition (the CMS
    * mergeability that makes the sketch the right shape for both axes:
    * time and shards).
    *
    * State per (window, row, bucket) key = one long — bounded by
    * open-windows × depth × width regardless of stream vocabulary, the
    * whole point vs exact per-word counting.
    */
  def cms(
      words: DataFrame,
      windowSecs: Long,
      width: Int = 256,
      watermarkDelay: String = "10 minutes"): DataFrame = {
    import graft.pipeline.TextAnalysis.{CmsA, CmsB, CmsP, hash31}
    require(windowSecs > 0, "windowSecs must be positive")
    require(width >= 2, "cms width must be >= 2")
    val h = hash31(col("word"))
    def bucket(i: Int): Column =
      pmod(pmod(h * lit(CmsA(i)) + lit(CmsB(i)), lit(CmsP)), lit(width.toLong))
    watermarked(words.select(col("word").cast("string"), col("time").cast("long")),
        watermarkDelay)
      .select(col("event_time"),
        posexplode(array(CmsA.indices.map(bucket): _*)).as(Seq("row_i", "bucket")))
      .groupBy(window(col("event_time"), s"$windowSecs seconds").as("w"),
        col("row_i"), col("bucket"))
      .agg(count(lit(1)).as("c"))
      .select(col("w.start").cast("long").as("window"),
        col("row_i").cast("int").as("row_i"),
        col("bucket").cast("int").as("bucket"), col("c"))
  }

  // open buckets fold to (sum, n); buf holds (bucket, 1e-6-rounded mean)
  // until the 2m-bucket seed; st = [l, b, s₁..s_m] after seeding
  final case class HwState(open: Map[Long, (Double, Long)],
      buf: Vector[(Long, Double)], st: Vector[Double], lastSeen: Long)
  final case class HwPoint(series: String, bucket: Long, level: Double,
      trend: Double, forecast: Double)

  /** Streaming Holt–Winters — the live twin of
    * [[graft.operators.Trend.holtWinters]]: per series, open buckets fold
    * points to (sum, n); each watermark-CLOSED bucket contributes its
    * pre-rounded mean to the recursion (the batch operator's exact
    * arithmetic — seed from the first two seasons, then the rotating
    * (m+2)-double state), and every post-seed bucket emits
    * (series, bucket, level, trend, one-step forecast) in append mode —
    * the live forecast a drift alert compares actuals against.
    *
    * State per series = the ≤ watermark-delay open buckets + the m+2
    * smoothing doubles (+ the 2m-bucket seed buffer, once) — bounded.
    * Seasonal index = ordinal position over CLOSED buckets in time
    * order, matching the batch contract; the final emitted row per
    * series equals the batch operator's output on the same data
    * (StreamingSpec pins it).
    */
  def holtWinters(
      spark: SparkSession,
      points: DataFrame,
      period: Int,
      step: Long,
      watermarkDelay: String = "10 minutes",
      alpha: Double = 0.5, beta: Double = 0.25, gamma: Double = 0.25,
      retentionSecs: Long = 30 * 86400L): Dataset[HwPoint] = {
    import spark.implicits._
    require(period >= 2, "seasonal period must be >= 2")
    require(step > 0, "step must be positive")
    val m = period
    timedPoints(points, watermarkDelay)
      .groupByKey(_.series)
      .flatMapGroupsWithState[HwState, HwPoint](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (series: String, it: Iterator[TimedPoint], state: GroupState[HwState]) =>
          val wm = state.getCurrentWatermarkMs() / 1000L
          val s0 = state.getOption.getOrElse(HwState(Map.empty, Vector.empty, Vector.empty, 0L))
          var buf = s0.buf
          var st = s0.st
          val out = Seq.newBuilder[HwPoint]
          def fold(bucket: Long, x: Double): Unit = {
            val (l, b, sh) = (st(0), st(1), st(2))
            val l2 = alpha * (x - sh) + (1 - alpha) * (l + b)
            val b2 = beta * (l2 - l) + (1 - beta) * b
            val sN = gamma * (x - l2) + (1 - gamma) * sh
            st = Vector(l2, b2) ++ st.slice(3, m + 2) :+ sN
            out += HwPoint(series, bucket, st(0), st(1), st(0) + st(1) + st(2))
          }
          val (open, seen) = closeDue(s0.open, it, wm, step, (0.0, 0L))(_.time, addValue) {
            case (b, (sum, n)) =>
              val mean = math.floor(sum / n * 1e6 + 0.5) / 1e6
              if (st.nonEmpty) fold(b, mean)
              else {
                buf = buf :+ (b, mean)
                if (buf.size == 2 * m) {
                  val xs = buf.map(_._2)
                  val m1 = xs.take(m).foldLeft(0.0)(_ + _) / m
                  val m2 = xs.slice(m, 2 * m).foldLeft(0.0)(_ + _) / m
                  st = Vector(m1, (m2 - m1) / m) ++ xs.take(m).map(_ - m1)
                  buf.drop(m).foreach { case (bk, x) => fold(bk, x) }
                  buf = Vector.empty
                }
              }
          }
          val lastSeen = math.max(s0.lastSeen, seen)
          settle(state, wm, open.isEmpty && wm >= lastSeen + retentionSecs,
            open.keys.map(_ + step) ++ Iterable(lastSeen + retentionSecs))(
            HwState(open, buf, st, lastSeen))
          out.result().iterator
      }
  }

  final case class HhEvent(word: String, time: Long,
      event_time: java.sql.Timestamp, window: Long, shard: Int)
  final case class HhState(counters: Map[String, Long], n: Long)
  final case class HeavyHitterRow(window: Long, shard: Int, word: String,
      cnt: Long, n: Long)

  /** Streaming heavy hitters — the live twin of
    * [[graft.pipeline.TextAnalysis.heavyHitters]]: Misra–Gries is
    * natively streaming, so each (window, shard) group keeps exactly the
    * batch pass-1 sketch (≤ k−1 counters + a running total) and emits its
    * survivors once the window is watermark-closed.
    *
    * Guarantees (the MG bounds, valid under ANY arrival order):
    *  - every word with true count > n/k in the shard IS a survivor (no
    *    false negatives) — and with words hash-sharded, a globally-heavy
    *    word is heavy inside its own shard (its full count lands there
    *    while the shard total can only shrink), so sharding for
    *    throughput costs no recall;
    *  - a survivor's counter is a lower bound: cnt ≤ true ≤ cnt + n/k.
    *    `cnt * k > n` therefore CONFIRMS heaviness; when the sketch never
    *    decremented (distinct words in the window ≤ k−1) counters are
    *    exact and that filter reproduces the batch operator's output —
    *    the regime the spec pins. The batch twin's exact second pass has
    *    no streaming analogue (the data is gone), which is why the
    *    streaming contract is the sketch's own guarantee, stated, rather
    *    than a silent approximation.
    *
    * State per (window, shard): k−1 counters — watermark-bounded count
    * of open windows, each O(k). `numShards > 1` spreads a hot window
    * across tasks at the price of per-shard totals in `n` (callers
    * re-aggregate the global total by summing one row per shard).
    */
  def heavyHitters(
      spark: SparkSession,
      words: DataFrame,
      k: Int,
      windowSecs: Long,
      watermarkDelay: String = "10 minutes",
      numShards: Int = 1): Dataset[HeavyHitterRow] = {
    import spark.implicits._
    require(k >= 2, "heavy hitters needs k >= 2")
    require(windowSecs > 0, "windowSecs must be positive")
    require(numShards >= 1, "numShards must be >= 1")
    watermarked(words.select(col("word").cast("string"), col("time").cast("long")),
        watermarkDelay)
      .withColumn("window", col("time") - pmod(col("time"), lit(windowSecs)))
      .withColumn("shard", pmod(hash(col("word")), lit(numShards)).cast("int"))
      .as[HhEvent]
      .groupByKey(e => (e.window, e.shard))
      .flatMapGroupsWithState[HhState, HeavyHitterRow](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case ((window, shard), it, state) =>
          val wm = state.getCurrentWatermarkMs() / 1000L
          if (window + windowSecs <= wm) {
            // watermark-closed: emit survivors (word-sorted for stable
            // output), drop state; any rows in `it` are beyond-watermark
            // stragglers — ignored, the other twins' late-row guard
            val st = state.getOption.getOrElse(HhState(Map.empty, 0L))
            if (state.exists) state.remove()
            st.counters.toSeq.sortBy(_._1).map { case (w0, c) =>
              HeavyHitterRow(window, shard, w0, c, st.n)
            }.iterator
          } else {
            val st = state.getOption.getOrElse(HhState(Map.empty, 0L))
            var m = st.counters
            var n = st.n
            it.foreach { e =>
              n += 1
              m.get(e.word) match {
                case Some(c) => m += e.word -> (c + 1)
                case None if m.size < k - 1 => m += e.word -> 1L
                case None => m = m.collect {
                  case (kk, c) if c > 1 => kk -> (c - 1)
                }
              }
            }
            state.update(HhState(m, n))
            state.setTimeoutTimestamp((window + windowSecs) * 1000L)
            Iterator.empty
          }
      }
  }

  /** Streaming twin #21 — continuous retrieval-tier index maintenance:
    * stream documents `(doc_id, text)` into the at-rest BM25 inverted
    * index via [[graft.pipeline.TextIndex.append]] — each micro-batch
    * rewrites only the term buckets its vocabulary touches (the
    * changed-bucket pattern), so a serving tier stays fresh without ever
    * re-exploding the corpus. This is the streaming closure of the r10
    * wall ("a retrieval tier that re-indexes the corpus per batch"):
    * cost per trigger ∝ batch size + touched-bucket bytes.
    *
    * Delivery is the replay-guarded one (object doc), the sidecar next to
    * the index; StreamingSpec pins multi-wave append-then-probe ≡ full
    * rebuild and the replay guard.
    */
  def indexMaintenance(docs: DataFrame, path: String, checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    guardedSink(docs, path, checkpoint, trigger) { b =>
      graft.pipeline.TextIndex.append(b.sparkSession, b, path)
    }

  /** `stream`'s micro-batches applied by `body` behind the replay guard
    * kept in `guardDir` (object doc).
    */
  private def guardedSink(stream: DataFrame, guardDir: String, checkpoint: String,
      trigger: Trigger)(body: DataFrame => Unit): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        withReplayGuard(guardDir, batchId, batch)(body)
      }
      .start()

  /** Apply `body` to a non-empty `batch` whose id is above the one in
    * `path/_last_batch`, then record the id there.
    */
  private def withReplayGuard(path: String, batchId: Long, batch: DataFrame)(
      body: DataFrame => Unit): Unit = {
    val conf = batch.sparkSession.sessionState.newHadoopConf()
    val p = new org.apache.hadoop.fs.Path(s"$path/_last_batch")
    val fs = p.getFileSystem(conf)
    val last: Long =
      if (!fs.exists(p)) -1L
      else {
        val in = fs.open(p)
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toLong
        finally in.close()
      }
    if (batchId > last && !batch.isEmpty) {
      body(batch)
      // Atomic-overwrite publish: write the new marker to a tmp file, then
      // rename over the old one with Rename.OVERWRITE. There is never a
      // window where the marker is absent (a delete-then-rename crash would
      // reset `last` to -1 and silently double-apply the redelivered batch
      // into the non-idempotent sinks), and a crash mid-tmp-write leaves
      // the OLD marker intact — the replayed batch is then re-applied only
      // if the body itself also did not complete, the documented contract.
      val tmp = new org.apache.hadoop.fs.Path(s"$path/_last_batch.tmp")
      val out = fs.create(tmp, true)
      try out.write(batchId.toString.getBytes("UTF-8")) finally out.close()
      org.apache.hadoop.fs.FileContext.getFileContext(p.toUri, conf)
        .rename(tmp, p, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    }
  }

  private def pathExists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)
  }

  /** The distinct `unit`-aligned floors of `batch`'s `time`: the days or
    * hours it touches, metadata-sized (bounded by the batch's span).
    */
  private def touched(batch: DataFrame, unit: Long): Seq[Long] =
    batch.select(col("time") - pmod(col("time"), lit(unit)))
      .distinct().collect().map(_.getLong(0)).toSeq

  /** A cell table's update for one batch, staged: the stored cells of
    * `days` (a partition-pruned read of `dir`, or none when `stored` is
    * false) unioned with the batch's `fresh` cells, merged, and
    * materialised, because the plan reads the path [[publishDays]]
    * replaces.
    */
  private def stageDays(dir: String, stored: Boolean, days: Seq[Long], fresh: DataFrame)(
      merge: DataFrame => DataFrame): DataFrame = {
    val current =
      if (!stored) fresh.limit(0)
      else fresh.sparkSession.read.parquet(dir)
        .filter(col("day").isin(days: _*))
        .select(fresh.columns.map(col).toSeq: _*)
    merge(current.unionByName(fresh)).localCheckpoint(true)
  }

  /** Overwrite exactly the `day` partitions `cells` carries in `dir`. */
  private def publishDays(dir: String, cells: DataFrame): Unit =
    cells.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("day").parquet(dir)

  /** Streaming maintenance of the at-rest HLL cell store
    * (`Approx.hllCells`' schema, the store `q_ts_hll_rollup` /
    * `q_ts_rolling_ndv` read): per micro-batch, sketch the batch into
    * (series, day) cells, MERGE them with the stored cells of the touched
    * days only (partition-pruned read — untouched days are never
    * opened), and rewrite exactly those day partitions via dynamic
    * partition overwrite. The ingest-side half of the sketch tier: a
    * day's NDV stays a KB-sized blob that absorbs events incrementally —
    * no raw-event retention, no full-store rewrite per batch.
    *
    * Cost per trigger ∝ batch size + touched-day cell bytes. Replay-guarded
    * (object doc). StreamingSpec pins multi-wave maintenance ≡ one-shot
    * batch build, and the replay guard.
    */
  def sketchMaintenance(events: DataFrame, path: String, checkpoint: String,
      lgK: Int = 12,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    guardedSink(events, path, checkpoint, trigger) { b =>
      val cellDir = s"$path/cells"
      val fresh = graft.functions.Approx.hllCells(
        b.select(col("series"), col("uid"),
          (col("time") - pmod(col("time"), lit(86400L))).as("day")),
        col("uid"), Seq(col("series"), col("day")), lgK)
      publishDays(cellDir, stageDays(cellDir, pathExists(b.sparkSession, cellDir),
          touched(b, 86400L), fresh) {
        _.groupBy(col("series"), col("day"))
          .agg(hll_union_agg(col("hll"), lit(false)).as("hll"),
            sum(col("n_rows")).as("n_rows"))
          .select(col("series"), col("day"), col("hll"), col("n_rows"))
      })
    }

  /** Streaming maintenance of the ENGINE's t-digest cell store
    * ([[graft.storage.SketchCells]] — the tier `q_sql_sketch_cells`
    * serves `percentile_approx` from): per micro-batch of
    * (series, series_id, time, value) points, digest the batch into
    * (series_id, day) cells, MERGE with the stored cells of the touched
    * days only (partition-pruned read), and rewrite exactly those day
    * partitions. The ingest half of the language-served rollup: a day's
    * quantile state stays a KB digest that absorbs points incrementally,
    * and the engine's routed queries read the maintained store directly.
    *
    * Merged day digests are a DIFFERENT centroid structure than a
    * one-shot digest over the same points — both honor the same t-digest
    * quantile error contract, which is what the gates pin (the
    * q_ts_tdigest stance); exact n_rows rides every cell for the parts
    * that must be exact. Replay-guarded (object doc). StreamingSpec pins
    * multi-wave upkeep: exact per-cell n_rows, the engine serving
    * end-to-end from the maintained store within exact bounds, and
    * replay idempotence.
    *
    * Tag-keyed tiers (r13): when the store carries
    * [[graft.storage.SketchCells.tagDir]] tiers, each is maintained the
    * same way per batch — the batch must then carry a `tags` column
    * (refused loudly otherwise), and the engine's `GROUP BY tag.k`
    * serving stays fresh under continuous ingest.
    *
    * Theta NDV cells (r14): `theta_<k>` columns — in the td table or any
    * tag tier — are maintained too: each batch is sketched with the raw
    * route's aggregator (same family/lgK), merge = blob union, per-table
    * keys from that table's own schema. A tags-less stream against an
    * NDV-carrying store is refused up front like the tag-tier case.
    * Pre-r13 `hll_*` stores stay refused (rebuild — different estimator
    * family). A union-merged theta is a different blob than a one-shot
    * rebuild's but the same estimator state contract (exact in the
    * sparse regime — StreamingSpec pins equality there), the
    * q_ts_tdigest stance applied to NDV.
    */
  def tdigestCellMaintenance(points: DataFrame, path: String, checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    // Tier COLUMN SETS, read once per stream (r15, ADVICE): the legacy
    // guard was opening every tier's parquet footer on every micro-batch for
    // pure validation — metadata round-trips that scale with the tag
    // tier count. The stream itself writes the same columns each batch,
    // so the sets cannot change underneath it; an out-of-band rebuild
    // that changes them mid-stream is outside the serving contract
    // (MetaCache's stance) — restart the stream after a rebuild. The
    // validation requires still run per batch, against the memo.
    val tierColsMemo =
      new java.util.concurrent.ConcurrentHashMap[String, Seq[String]]()
    guardedSink(points, path, checkpoint, trigger) { b =>
      val spark = b.sparkSession
      val cellDir = s"$path/td"
      def tierCols(d: String): Seq[String] =
        tierColsMemo.computeIfAbsent(d, dd => spark.read.parquet(dd).columns.toSeq)
      // EVERYTHING that can fail — input validation, legacy-schema
      // guards, and the materialization of every merged frame — runs
      // BEFORE the first publish (r14, ADVICE): the replay guard
      // marks the batch done only after the whole body succeeds, so
      // a failure AFTER the td overwrite (a tag-less stream against
      // a tag-tiered store, a bad tag-tier schema) would replay the
      // batch into already-merged, non-idempotent digests —
      // deterministic double-counting. Validate-then-stage-then-
      // publish shrinks that to the transient-write-failure window
      // the rebuild contract already covers.
      val cells = graft.storage.SketchCells
      val groupKs = cells.groupTagsOf(spark, path)
      val tdExists = pathExists(spark, cellDir)
      // ALL schema validation runs here, before any aggregation or
      // write: the store's one legacy guard refuses hll_* cells and
      // tables without the current partials (a dynamic overwrite
      // would mix schemas across day partitions) and hands back each
      // table's own theta_<k> NDV keys (r14) — maintained per batch
      // like the digests, merge = blob union
      val ndvKs =
        if (tdExists) cells.requireCurrent(cellDir, tierCols(cellDir))
        else Seq.empty
      // (table dir, tag-tier key, theta keys): td first, then each tier
      val tables: Seq[(String, Option[String], Seq[String])] =
        (cellDir, None, ndvKs) +: groupKs.map { k =>
          val tDir = cells.tagDir(path, k)
          (tDir, Some(k), cells.requireCurrent(tDir, tierCols(tDir)))
        }
      if (groupKs.nonEmpty || ndvKs.nonEmpty)
        require(b.columns.contains("tags"),
          "this cell store carries tag-keyed tiers or theta NDV cells (" +
            (groupKs ++ ndvKs).distinct.mkString(", ") +
            ") but the stream batch has no tags column — feed " +
            "(series, series_id, tags, time, value)")
      // per table (td, then each tag tier — r13): STAGE every merge
      // before the first publish, so nothing after it recomputes
      val days = touched(b, 86400L)
      val staged = tables.map { case (dir, tagKey, nk) =>
        dir -> stageDays(dir, tagKey.isDefined || tdExists, days,
          cells.cellsOf(b, tagKey, nk))(cells.mergeCells(_, tagKey.isDefined, nk))
      }
      staged.foreach { case (dir, m) => publishDays(dir, m) }
      // writer hook: the engine's serving-metadata memo (existence,
      // key lists) must reload after an out-of-build publish
      cells.invalidate(path)
    }
  }

  /** Streaming maintenance of the data-skipping manifest
    * ([[graft.storage.SkipIndex]]): per micro-batch of points, append
    * them to the store and refresh EXACTLY the touched hours' manifest
    * rows (first batch builds the manifest). The ingest-side half of the
    * skip tier: probes stay one-metadata-read fast while the store
    * grows, without ever rebuilding the manifest from the full store.
    *
    * Cost per trigger ∝ batch size (the append + the touched hours'
    * recompute) + one metadata-sized manifest carry-forward.
    * Replay-guarded (object doc), the sidecar next to the manifest;
    * StreamingSpec pins maintained-manifest ≡ full rebuild of the final
    * store, plus replayed-batch idempotence.
    */
  def skipIndexMaintenance(points: DataFrame, storeRoot: String,
      manifestDir: String, checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    guardedSink(points, manifestDir, checkpoint, trigger) { b =>
      val store = new graft.storage.SeriesStore(b.sparkSession, storeRoot)
      store.append(b.select("series", "tags", "time", "value"))
      if (pathExists(b.sparkSession, s"$manifestDir/m"))
        graft.storage.SkipIndex.refresh(store, manifestDir, touched(b, 3600L))
      else graft.storage.SkipIndex.build(store, manifestDir)
    }

  /** Streaming windowed distinct-user counts — the live twin of the HLL
    * rollup tier (`q_ts_hll_rollup` / `q_ts_rolling_ndv`): per
    * (series, window), `approx_count_distinct`'s HLL++ buffer is the
    * streaming aggregation state — bounded sketch bytes per open window
    * vs the unbounded per-key set an exact streaming distinct would need
    * (exact distinct aggregation is unsupported in streaming for exactly
    * that reason). Sparse-mode HLL++ is EXACT below ~rsd⁻² distinct
    * values, so small windows emit exact counts (StreamingSpec pins
    * equality there); large windows inherit the documented rsd bound.
    */
  def ndvWindow(
      points: DataFrame,
      windowSecs: Long,
      watermarkDelay: String = "10 minutes",
      rsd: Double = 0.02): DataFrame = {
    require(windowSecs > 0, "windowSecs must be positive")
    watermarked(points.select(col("series").cast("string"), col("time").cast("long"),
        col("uid")), watermarkDelay)
      .groupBy(col("series"), window(col("event_time"), s"$windowSecs seconds").as("w"))
      .agg(approx_count_distinct(col("uid"), rsd).as("ndv"),
        count(lit(1)).as("n"))
      .select(col("series"), col("w.start").cast("long").as("window"),
        col("n"), col("ndv"))
  }

  /** Streaming windowed t-digest quantiles — the live twin of
    * `q_ts_tdigest`'s rollup: per (series, window) the
    * [[graft.functions.TDigestAgg]] sketch IS the streaming aggregation
    * state (its serialize/deserialize round-trips through the state
    * store every micro-batch), so per-window latency quantiles cost O(δ)
    * centroids of state instead of buffering the window's raw points —
    * the difference between bounded and unbounded state on a hot series.
    * Quantiles are extracted on emission (append mode: once, at
    * watermark close).
    *
    * Contract (StreamingSpec): closed windows/keys/counts equal the
    * batch frame exactly; quantiles satisfy the t-digest rank-error
    * bound vs the window's exact percentiles. Bit-equality across
    * micro-batch splits is NOT claimed — centroid layout is
    * order-dependent (the same reason every sketch here gates on its
    * error contract).
    */
  def tdigestWindow(
      points: DataFrame,
      windowSecs: Long,
      watermarkDelay: String = "10 minutes",
      compression: Double = 100.0): DataFrame = {
    require(windowSecs > 0, "windowSecs must be positive")
    watermarked(points.select(col("series").cast("string"), col("time").cast("long"),
        col("value").cast("double")), watermarkDelay)
      .groupBy(col("series"), window(col("event_time"), s"$windowSecs seconds").as("w"))
      .agg(graft.functions.TDigest.agg(col("value"), compression).as("td"),
        count(lit(1)).as("n"))
      .select(col("series"), col("w.start").cast("long").as("window"), col("n"),
        graft.functions.TDigest.quantileOf(col("td"), 0.5).as("p50"),
        graft.functions.TDigest.quantileOf(col("td"), 0.95).as("p95"),
        graft.functions.TDigest.quantileOf(col("td"), 0.99).as("p99"))
  }

  /** Streaming windowed drift monitor — the live twin of `q_dq_jsd`: per
    * (series, window) the value distribution's Jensen–Shannon divergence
    * (base 2, in [0, 1]) against a STATIC baseline histogram, the alarm a
    * pipeline keeps on an ingest feed ("has this source's length/score
    * distribution moved since acceptance?").
    *
    * The histogram IS the aggregation row: `bins` conditional-count
    * columns inside ONE windowed aggregate — Structured Streaming allows
    * a single aggregation, so the batch op's (group, bin) count frame +
    * second rollup is re-expressed as a width-`bins` row, and JSD becomes
    * a scalar expression over that row and the baseline literals,
    * evaluated once at append-mode emission. State per open (series,
    * window) is `bins` longs; watermark-evicted. Values outside the
    * baseline grid clamp into the edge bins (live data CAN leave the
    * historical range — that mass showing up at an edge is itself drift).
    *
    * Emits BOTH distances of the batch drift surface: `jsd` (bounded
    * [0,1], thresholdable uniformly) and `w1` (earth mover's — how FAR
    * the mass moved, in value units; the one that keeps growing as a
    * shifted distribution drifts further). Both are scalar expressions
    * over the same count row — the second distance costs no state.
    *
    * Determinism: counts are exact, baseline probs are literals, and the
    * final rounds (1e-4 for jsd per the q_ts_psi / q_dq_jsd precedent,
    * 1e-6 for w1 per q_dq_wasserstein) make closed rows reproducible
    * across micro-batch splits (the StreamingSpec contract).
    */
  def driftWindow(
      points: DataFrame,
      windowSecs: Long,
      lo: Double, hi: Double, bins: Int,
      baseline: Seq[Double],
      watermarkDelay: String = "10 minutes"): DataFrame = {
    require(windowSecs > 0, "windowSecs must be positive")
    require(bins >= 2 && hi > lo, s"need >= 2 bins over a non-empty range, got $bins over [$lo, $hi]")
    require(baseline.length == bins, s"baseline has ${baseline.length} cells, expected $bins")
    require(math.abs(baseline.sum - 1.0) < 1e-9, "baseline must be a probability vector")
    val width = (hi - lo) / bins
    val bin = greatest(lit(0L), least(lit(bins - 1L),
      floor((col("value") - lo) / width).cast("long")))
    val counts = (0 until bins).map(b =>
      sum(when(bin === b.toLong, 1L).otherwise(0L)).as(s"c$b"))
    val agg = watermarked(points.select(col("series").cast("string"),
        col("time").cast("long"), col("value").cast("double")), watermarkDelay)
      .groupBy(col("series"), window(col("event_time"), s"$windowSecs seconds").as("w"))
      .agg(count(lit(1)).as("n"), counts: _*)
    val term = (0 until bins).map { b =>
      val p = col(s"c$b") / col("n")
      val q = lit(baseline(b))
      val m = (p + q) / 2.0
      when(col(s"c$b") > 0L, p * log(p / m)).otherwise(lit(0.0)) * 0.5 +
        (if (baseline(b) > 0.0) q * log(q / m) * 0.5 else lit(0.0))
    }.reduce(_ + _)
    // W1 over the same row: |CDF gap| summed bin by bin, cumulative
    // counts folded left-to-right (index order — the spec mirrors it)
    val w1 = (0 until bins - 1).map { b =>
      val cum = (0 to b).map(i => col(s"c$i")).reduce(_ + _)
      val qcum = baseline.take(b + 1).sum
      abs(cum / col("n") - qcum)
    }.reduce(_ + _) * width
    agg.select(col("series"), col("w.start").cast("long").as("window"), col("n"),
      (floor(term / math.log(2.0) * 1e4 + 0.5) / 1e4).as("jsd"),
      (floor(w1 * 1e6 + 0.5) / 1e6).as("w1"))
  }
}
