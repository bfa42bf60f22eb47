package graft.perfbench

import graft.api.HttpApi
import graft.perfbench.Gen.Point
import graft.storage.{Maintenance, SeriesStore}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** What a workload hands back to [[Main]]: the result line's fields. */
final case class Outcome(correct: Boolean, attempted: Long, failed: Long, metrics: Map[String, Metric])

/** Set-up shared by the two workloads that serve over HTTP: a freshly
  * built store, the in-process HTTP API and the one client.
  */
final class Served(spark: SparkSession, a: Args) {
  val shape: Shape = if (a.smoke) Shape.smoke else Shape.full
  val (store: SeriesStore, buildSteps: Map[String, Double]) =
    Gen.buildStore(spark, s"${a.tmp}/store", a.seed, shape)
  val buildS: Double = buildSteps.values.sum
  val api = new HttpApi(store)
  val client = new Client(api.start(0))

  /** series_id per (metric, host), as `/api/v1/query/range` takes it. */
  lazy val ids: Map[(String, String), Long] =
    store.catalog().collect().map { r =>
      (r.getString(0), r.getMap[String, String](2)("host")) -> r.getLong(1)
    }.toMap

  def close(): Unit = api.stop()

  private lazy val tierless = Gen.tierlessClone(store, s"${a.tmp}/tierless")

  /** Traced runs only: the write path call by call. `pts` is appended
    * directly to the tiered store and to a tier-less clone, so the tiers'
    * share of a write shows; then `deleteQl` goes over HTTP and the hours
    * the batch touched are compacted. Returns whether the append and the
    * delete took effect.
    */
  def writeProbes(p: Phase, pts: Seq[Point], deleteQl: String): (Boolean, Boolean) = {
    tierless
    val df = Gen.frame(spark, pts)
    val appended = p.call("append", "append_tiered")(store.append(df)).isDefined
    p.call("segment_write", "append_tierless")(tierless.append(df))
    val deleted = p.http("delete", "delete")(client.sydraql(deleteQl))(_.route == "delete").isDefined
    val hours = pts.map { case (_, t, _) => t - Math.floorMod(t, 3600L) }.distinct.sorted
    p.call("compact", "compact")(Maintenance.compactPartitions(store, hours))
    (appended, deleted)
  }

  /** The storage layer's write-path metrics of a traced phase. */
  def writeMetrics(p: Phase, t: Tracer, batchPoints: Long): Map[String, Double] = {
    def ms(name: String) = t.spans.find(_.name == name).map(_.ms).getOrElse(0.0)
    def med(kind: String) = if (p.lat(kind).isEmpty) 0.0 else p.lat(kind).p50
    val appends = t.spans.filter(x => x.kind == "ingest" || x.kind == "append")
    Map("append_ms" -> ms("append_tiered"), "segment_write_ms" -> ms("append_tierless"),
      "tier_refresh_ms" -> (ms("append_tiered") - ms("append_tierless")),
      "compact_ms" -> med("compact"), "delete_ms" -> med("delete"),
      "bytes_written_per_point" ->
        appends.map(_.delta.outputBytes).sum.toDouble / (appends.size * batchPoints))
  }

  /** Bytes under the store root per live point. */
  def storedBytesPerPoint: Double = Disk.bytes(store.root).toDouble / store.scan().count()

  /** Parquet files per hour partition of the segment tier. */
  def filesPerHour: Double = {
    val parts = store.partitions()
    Disk.walk(s"${store.root}/segments").count(_.getName.endsWith(".parquet")).toDouble / parts.size
  }

  /** Send `ops` and check each answer; returns the failures. */
  def checkAnswers(ops: Seq[Op], phase: Phase): Seq[String] =
    ops.flatMap { op =>
      phase.http(op.kind, op.name, op.kind == "served")(op.send(client))(op.routeOk)
        .fold(Option(s"${op.name}: request failed"))(op.mismatch(_, store))
    }
}

/** Dashboard panels: the six served shapes and three raw drilldowns. */
object Dashboard {
  def run(spark: SparkSession, a: Args): Outcome = {
    val s = new Served(spark, a)
    try {
      val rng = new scala.util.Random(a.seed)
      val ops = Ops.dashboard(rng, s.shape, s.ids)
      // warm-up: one seeded request of each kind. After the timed phase the
      // answers of a seeded three of them (two served shapes, one
      // drilldown) are checked against the raw compile.
      val sample = (0 until 9).map(Ops.dashboardOp(_, rng, s.shape, s.ids))
      val warm = new Phase(None)
      val tw = System.nanoTime()
      val replies = sample.map(op => warm.http(op.kind, op.name)(op.send(s.client))(op.routeOk))
      val warmS = (System.nanoTime() - tw) / 1e9
      val checked = rng.shuffle((0 until 6).toVector).take(2) :+ (6 + rng.nextInt(3))
      def verify(): Seq[String] = checked.flatMap { i =>
        replies(i).toSeq.flatMap(sample(i).mismatch(_, s.store))
      }

      val storage = mutable.Map.empty[String, Double]
      def loop(p: Phase, seconds: Double): Phase = {
        val deadline = System.nanoTime() + (seconds * 1e9).toLong
        p.start()
        while (System.nanoTime() < deadline) {
          val op = ops.next()
          p.http(op.kind, op.name, op.kind == "served")(op.send(s.client))(op.routeOk)
        }
        p.stop()
        // traced runs: the write path, on a day after every window the
        // dashboard reads, once the timed half is over
        p.tracer.foreach { t =>
          val pts = Gen.batch(rng, s.shape, s.shape.end, Dashboard.probePerSeries)
          s.writeProbes(p, pts, Gen.deleteQl(s.shape.series.head, s.shape.end, s.shape.end + 600L))
          storage ++= s.writeMetrics(p, t, pts.size)
        }
        p
      }
      def uniform(p: Phase): Map[String, Double] = {
        val done = p.lat("served").n + p.lat("raw").n
        Map("p50_ms" -> p.lat("served").p50, "ops_per_s" -> done / p.wallS,
          "cpu_ms_per_op" -> p.cpuMs / done)
      }
      val setupS = Main.sessionS + s.buildS + warmS
      Main.finish(a, setupS, s.buildS, loop, uniform, verify = () => verify(), warm = warm,
        report = p => s.buildSteps ++ Map(
          "served_p50_ms" -> p.lat("served").p50, "served_tail_ms" -> p.lat("served").tail,
          "served_tail_pct" -> p.lat("served").tailPct, "served_n" -> p.lat("served").n,
          "raw_p50_ms" -> p.lat("raw").p50, "raw_tail_ms" -> p.lat("raw").tail,
          "raw_tail_pct" -> p.lat("raw").tailPct, "raw_n" -> p.lat("raw").n,
          "queries_per_s" -> (p.lat("served").n + p.lat("raw").n) / p.wallS,
          "stored_bytes_per_point" -> s.storedBytesPerPoint),
        storage = _ => storage.toMap ++ Map(
          "files_per_hour" -> s.filesPerHour,
          "stored_bytes_per_point" -> s.storedBytesPerPoint),
        queries = _ => Map.empty)
    } finally s.close()
  }

  /** Points per series of the traced run's write-probe batch. */
  val probePerSeries = 32
}

/** NDJSON ingest into the newest hours, with reads, deletes and
  * compaction beside it on the same store.
  */
object Ingest {
  def run(spark: SparkSession, a: Args): Outcome = {
    val s = new Served(spark, a)
    try {
      val shape = s.shape
      val perSeries = if (a.smoke) 4 else 32
      val batchPoints = perSeries * shape.nSeries
      val rng = new scala.util.Random(a.seed)
      // (count, sum(value)) per (series, host): generated, plus acknowledged,
      // minus deleted
      val ledger = mutable.Map(Gen.totals(Gen.points(spark, a.seed, shape)).toSeq: _*)
      // ingested points per (series, host), by time, so a delete knows what it removes
      val fresh = mutable.Map.empty[(String, String), mutable.TreeMap[Long, Double]]
      var cursor = shape.end // next ingest time; the base store ends here
      var touched = Set.empty[Long]

      def nextBatch(): Seq[Point] = {
        val pts = Gen.batch(rng, shape, cursor, perSeries)
        cursor += perSeries * Gen.BatchStep
        pts
      }
      def acknowledge(pts: Seq[Point]): Unit = pts.foreach {
        case (k, t, v) =>
          val (n, sum) = ledger(k)
          ledger(k) = (n + 1, sum + v)
          fresh.getOrElseUpdate(k, mutable.TreeMap.empty)(t) = v
          touched += t - Math.floorMod(t, 3600L)
      }
      def deleted(k: (String, String), lo: Long, hi: Long): Unit = {
        fresh.get(k).foreach { pts =>
          val gone = pts.range(lo, hi)
          val (n, sum) = ledger(k)
          ledger(k) = (n - gone.size, sum - gone.values.sum)
          gone.keys.toSeq.foreach(pts.remove)
        }
        touched += lo - Math.floorMod(lo, 3600L)
      }
      def day(t: Long): Long = t - Math.floorMod(t, 86400L)

      var stepNo = 0
      var deadline = Long.MaxValue
      def live(): Boolean = System.nanoTime() < deadline
      // one step: a batch, a served read of the fresh day, a last-hour
      // drilldown, a delete every 4th step and a compaction every 6th; the
      // timed phase may end between any two of them
      def step(p: Phase): Unit = {
        stepNo += 1
        val pts = nextBatch()
        p.http("ingest", "ingest")(s.client.ingest(Gen.ndjson(pts)))(
          _.json.get("ingested").asLong() == pts.length)
          .foreach(_ => acknowledge(pts))
        val (m, h) = shape.series(rng.nextInt(shape.nSeries))
        val d = day(cursor - 1)
        val read = Ops.served("aligned", m, h, d - 2 * 86400L, d + 86400L)
        if (live()) p.http("served", read.name, servedShape = true)(read.send(s.client))(read.routeOk)
        val drill = Ops.drillBucket(m, h, cursor - 3600L, cursor)
        if (live()) p.http("raw", drill.name)(drill.send(s.client))(drill.routeOk)
        if (stepNo % 4 == 0 && live()) delete(p)
        if (stepNo % 6 == 0 && live()) compact(p)
      }
      // the last ten minutes of one series' fresh points
      def delete(p: Phase): Unit = {
        val k = shape.series(rng.nextInt(shape.nSeries))
        val (lo, hi) = (cursor - 600L, cursor)
        p.http("delete", "delete")(s.client.sydraql(Gen.deleteQl(k, lo, hi)))(_.route == "delete")
          .foreach(_ => deleted(k, lo, hi))
      }
      def compact(p: Phase): Unit = {
        val hours = touched.toSeq.sorted
        touched = Set.empty
        p.call("compact", "compact")(Maintenance.compactPartitions(s.store, hours))
      }

      val tw = System.nanoTime()
      val warm = new Phase(None)
      step(warm)
      val warmS = (System.nanoTime() - tw) / 1e9

      val storage = mutable.Map.empty[String, Double]
      def loop(p: Phase, seconds: Double): Phase = {
        p.tracer.foreach { _ =>
          val pts = nextBatch()
          val k = shape.series.head
          val (appended, dropped) = s.writeProbes(p, pts, Gen.deleteQl(k, cursor - 600L, cursor))
          if (appended) acknowledge(pts)
          if (dropped) deleted(k, cursor - 600L, cursor)
        }
        deadline = System.nanoTime() + (seconds * 1e9).toLong
        p.start()
        while (live()) step(p)
        p.stop()
        deadline = Long.MaxValue
        p.tracer.foreach(t => storage ++= s.writeMetrics(p, t, batchPoints))
        p
      }

      def uniform(p: Phase): Map[String, Double] = {
        val acked = p.lat("ingest").n.toDouble * batchPoints
        Map("p50_ms" -> p.lat("ingest").p50, "ops_per_s" -> acked / p.wallS,
          "cpu_ms_per_op" -> p.cpuMs / acked)
      }

      // after the timed phases: the ledger against a raw scan, and served
      // answers over the fresh day against the raw compile
      def verify(): Seq[String] = {
        val got = Gen.totals(s.store.scan())
        val ledgerBad = ledger.toSeq.sortBy(_._1).flatMap { case (k, (n, sum)) =>
          got.get(k) match {
            case Some((gn, gs)) if gn == n && math.abs(gs - sum) <= 1e-6 * math.max(1.0, math.abs(sum)) => None
            case other => Some(s"ledger $k: acknowledged-deleted ($n, $sum) but scan has $other")
          }
        }
        val d = day(cursor - 1)
        val (m, h) = shape.series.head
        val freshOps = Seq("tag")
          .map(Ops.served(_, m, h, d - 2 * 86400L, d + 86400L))
        ledgerBad ++ s.checkAnswers(freshOps, new Phase(None))
      }

      val setupS = Main.sessionS + s.buildS + warmS
      Main.finish(a, setupS, s.buildS, loop, uniform, verify = () => verify(), warm = warm,
        report = p => s.buildSteps ++ Map(
          "ingest_p50_ms" -> p.lat("ingest").p50, "ingest_tail_ms" -> p.lat("ingest").tail,
          "ingest_n" -> p.lat("ingest").n, "batch_points" -> batchPoints,
          "ingest_points_per_s" -> p.lat("ingest").n.toDouble * batchPoints / p.wallS,
          "served_p50_ms" -> p.lat("served").p50, "served_tail_ms" -> p.lat("served").tail,
          "served_n" -> p.lat("served").n,
          "raw_p50_ms" -> p.lat("raw").p50, "raw_tail_ms" -> p.lat("raw").tail,
          "raw_n" -> p.lat("raw").n,
          "delete_p50_ms" -> p.lat("delete").p50, "compact_p50_ms" -> p.lat("compact").p50,
          "stored_bytes_per_point" -> s.storedBytesPerPoint),
        storage = _ => storage.toMap ++ Map(
          "files_per_hour" -> s.filesPerHour,
          "stored_bytes_per_point" -> s.storedBytesPerPoint),
        queries = _ => Map.empty)
    } finally s.close()
  }
}
