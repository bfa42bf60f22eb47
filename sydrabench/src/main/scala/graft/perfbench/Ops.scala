package graft.perfbench

import com.fasterxml.jackson.databind.JsonNode
import graft.storage.SeriesStore
import graft.sydraql.{CompileOptions, Engine}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import scala.jdk.CollectionConverters._

/** One request of a workload. `kind` is "served" for the six served
  * shapes and "raw" for drilldowns.
  */
sealed trait Op {
  def kind: String
  def name: String
  def send(c: Client): Reply
  /** Whether the reply went the way this request must go. */
  def routeOk(r: Reply): Boolean
  /** How the reply's answer differs from the same request answered without
    * the serving tiers or the HTTP layer, if it does.
    */
  def mismatch(r: Reply, store: SeriesStore): Option[String]
}

/** A sydraQL statement; served shapes must take `expectRoute`. */
final case class QlOp(kind: String, name: String, ql: String, expectRoute: Option[String]) extends Op {
  def send(c: Client): Reply = c.sydraql(ql)
  def routeOk(r: Reply): Boolean = expectRoute.forall(_ == r.route)

  /** The statement compiled over the store's raw source view (no cells, no
    * skip manifest), with each `percentile_approx(value, p) as x` replaced
    * by the exact percentiles at p - 0.01 and p + 0.01 (`x_lo`, `x_hi`).
    */
  private def reference(store: SeriesStore): Seq[Map[String, Any]] = {
    val bounds = QlOp.approx.replaceAllIn(ql, m => {
      val p = m.group(1).toDouble
      s"percentile(value, ${math.max(0.0, p - 0.01)}) as ${m.group(2)}_lo, " +
        s"percentile(value, ${math.min(1.0, p + 0.01)}) as ${m.group(2)}_hi"
    })
    val df = Engine.sql(store.spark, store.source(), bounds, CompileOptions(now = 0L))
    df.collect().toSeq.map(r => df.columns.zipWithIndex.map { case (c, i) =>
      c -> (if (r.isNullAt(i)) null else r.get(i))
    }.toMap)
  }

  /** A `percentile_approx` answer must fall between the exact percentiles
    * one rank-percent either side (t-digests merged per day are not one
    * digest over the same points); every other value must match, doubles
    * to 1e-9 relative since partial sums are added in another order.
    */
  def mismatch(r: Reply, store: SeriesStore): Option[String] = {
    val cols = r.json.get("columns").elements().asScala.map(_.asText()).toSeq
    val got = r.json.get("rows").elements().asScala.toSeq
      .map(row => cols.zip(row.elements().asScala.map(Ops.jsonValue).toSeq).toMap)
    val want = reference(store)
    val approxCols = QlOp.approx.findAllMatchIn(ql).map(_.group(2)).toSet
    def ok(g: Map[String, Any], w: Map[String, Any]): Boolean = cols.forall { c =>
      if (approxCols(c)) (g(c), w(s"${c}_lo"), w(s"${c}_hi")) match {
        case (null, null, null) => true
        case (v: Number, lo: Number, hi: Number) =>
          val slack = 1e-9 * math.max(math.abs(lo.doubleValue), math.abs(hi.doubleValue))
          v.doubleValue >= lo.doubleValue - slack && v.doubleValue <= hi.doubleValue + slack
        case _ => false
      } else Ops.same(g(c), w(c))
    }
    if (got.length == want.length && got.zip(want).forall { case (g, w) => ok(g, w) }) None
    else Some(s"$name: served ${got.take(3)} != raw ${want.take(3)}")
  }
}

object QlOp {
  private val approx = "percentile_approx\\(value, ([0-9.]+)\\) as (\\w+)".r
}

/** `/api/v1/query/range` by series id. */
final case class RangeOp(seriesId: Long, start: Long, end: Long) extends Op {
  def kind = "raw"
  def name = "drill_range"
  def send(c: Client): Reply = c.range(seriesId, start, end)
  def routeOk(r: Reply): Boolean = true
  def mismatch(r: Reply, store: SeriesStore): Option[String] = {
    val got = r.json.elements().asScala.toSeq.map(p => (p.get("ts").asLong(), Ops.jsonValue(p.get("value"))))
    // the raw source view, filtered on time alone: no hour-partition
    // predicate, so the route's partition pruning is what this checks
    val want = store.source()
      .filter(col("series_id") === seriesId && col("time") >= start && col("time") <= end)
      .orderBy("time").select("time", "value").collect().toSeq
      .map((w: Row) => (w.getLong(0), w.get(1)))
    if (got.length == want.length && got.zip(want).forall { case ((t, v), (wt, wv)) =>
      t == wt && Ops.same(v, wv) }) None
    else Some(s"$name: served ${got.take(3)} != raw ${want.take(3)}")
  }
}

object Ops {
  private val Day = 86400L

  def jsonValue(n: JsonNode): Any =
    if (n == null || n.isNull) null
    else if (n.isIntegralNumber) n.asLong()
    else if (n.isNumber) n.asDouble()
    else if (n.isBoolean) n.asBoolean()
    else n.asText()

  /** Two answer values agree; doubles to 1e-9 relative. */
  def same(a: Any, b: Any): Boolean = (a, b) match {
    case (p: Number, q: Number) =>
      val (u, v) = (p.doubleValue, q.doubleValue)
      u == v || math.abs(u - v) <= 1e-9 * math.max(math.abs(u), math.abs(v))
    case _ => a == b
  }

  /** The six served shapes over the day-aligned window [lo, hi). `ragged`
    * cuts an hour and two hours off its ends; the engine serves it only
    * while the whole interior days outweigh those edges, so its window
    * must span at least four days.
    */
  def served(shape: String, m: String, host: String, lo: Long, hi: Long): QlOp = shape match {
    case "aligned" => QlOp("served", shape,
      s"select avg(value) as av, count() as n, percentile_approx(value, 0.5) as p50 from $m " +
        s"where time >= $lo and time < $hi", Some("served:cells:td"))
    case "ragged" => QlOp("served", shape,
      s"select avg(value) as av, count() as n, percentile_approx(value, 0.5) as p50 from $m " +
        s"where time >= ${lo + 3600} and time < ${hi - 7200}", Some("served:hybrid:td"))
    case "tag" => QlOp("served", shape,
      s"select tag.host as h, percentile_approx(value, 0.95) as p95, avg(value) as av from $m " +
        s"where time >= $lo and time < $hi group by tag.host order by h", Some("served:cells:tdtag"))
    case "fleet" => QlOp("served", shape,
      s"select avg(value) as av, count() as n where time >= $lo and time < $hi", Some("served:cells:td"))
    case "origin" => QlOp("served", shape,
      s"select time_bucket(172800, time, ${lo + Day}) as b, avg(value) as av from $m " +
        s"where time >= $lo and time < $hi group by time_bucket(172800, time, ${lo + Day}) order by b",
      Some("served:cells:td"))
    case "tagfilter" => QlOp("served", shape,
      s"select percentile_approx(value, 0.95) as p95, avg(value) as av, count() as n from $m " +
        s"where time >= $lo and time < $hi and tag.host = '$host'", Some("served:cells:tdtag"))
  }

  val servedShapes: Seq[String] = Seq("aligned", "ragged", "tag", "fleet", "origin", "tagfilter")

  /** Minute buckets of one series and host over [lo, hi): below the cell
    * tier's day grain, so it reads segments.
    */
  def drillBucket(m: String, host: String, lo: Long, hi: Long): QlOp = QlOp("raw", "drill_bucket",
    s"select time_bucket(60, time) as b, avg(value) as av, max(value) as mx from $m " +
      s"where tag.host = '$host' and time >= $lo and time < $hi " +
      s"group by time_bucket(60, time) order by b", None)

  /** A value predicate, which no cell can answer. */
  def drillValue(m: String, lo: Long, hi: Long, threshold: Int): QlOp = QlOp("raw", "drill_value",
    s"select count() as n, avg(value) as av from $m " +
      s"where time >= $lo and time < $hi and value > $threshold", None)

  /** Request kind `i` of the dashboard's nine (the six served shapes, then
    * the three drilldowns), with a seeded window, series and host.
    */
  def dashboardOp(i: Int, rng: scala.util.Random, shape: Shape,
      ids: Map[(String, String), Long]): Op = {
    def pick[T](xs: Seq[T]): T = xs(rng.nextInt(xs.length))
    val m = pick(shape.metrics)
    val h = pick(shape.hostNames)
    i match {
      case i if i < 6 =>
        val minDays = if (servedShapes(i) == "ragged") 4 else 2
        val w = minDays + rng.nextInt(shape.days - minDays + 1)
        val lo = Gen.T0 + rng.nextInt(shape.days - w + 1) * Day
        served(servedShapes(i), m, h, lo, lo + w * Day)
      case 6 =>
        val lo = Gen.T0 + rng.nextInt((shape.days * 24 - 4) * 60) * 60L
        drillBucket(m, h, lo, lo + 4 * 3600L)
      case 7 =>
        val lo = Gen.T0 + rng.nextInt(shape.days) * Day
        drillValue(m, lo, lo + Day, 20 + rng.nextInt(60))
      case _ =>
        val lo = Gen.T0 + rng.nextInt((shape.days * 24 - 2) * 60) * 60L
        RangeOp(ids((m, h)), lo, lo + 2 * 3600L)
    }
  }

  /** The dashboard's request stream: rounds of the nine kinds, each round
    * in a seeded order, so every run sends the same mix.
    */
  def dashboard(rng: scala.util.Random, shape: Shape, ids: Map[(String, String), Long]): Iterator[Op] =
    Iterator.continually(rng.shuffle((0 until 9).toVector)).flatten
      .map(dashboardOp(_, rng, shape, ids))
}
