package graft.perfbench

import org.apache.spark.sql.SparkSession

/** The benchmark JVM: one workload, one Spark `local[nproc]` session, one
  * closed-loop client. It prints a `PERFBENCH_REPORT` line (the workload's
  * own figures, set-up parts and failures) and a `PERFBENCH_RESULT` line
  * (the metrics `run.py` prints), then exits by itself.
  */
object Main {
  /** JVM start to a ready Spark session, in seconds. */
  var sessionS = 0.0
  private var spark: SparkSession = _

  val units: Map[String, String] = Map("setup_s" -> "s", "p50_ms" -> "ms", "ops_per_s" -> "1/s",
    "cpu_ms_per_op" -> "ms", "peak_rss_mb" -> "MB")
  def unitOf(name: String): String = units(name)

  def main(argv: Array[String]): Unit = {
    val code =
      try {
        val a = Args.parse(argv)
        val cpus = Runtime.getRuntime.availableProcessors
        spark = graft.SparkEntry.configure(SparkSession.builder()
          .master(s"local[$cpus]")
          .config("spark.sql.shuffle.partitions", cpus.toString)
          .config("spark.ui.enabled", "false")
          .config("spark.local.dir", s"${a.tmp}/spark-local")
          .config("spark.sql.warehouse.dir", s"${a.tmp}/warehouse"))
          .getOrCreate()
        spark.sparkContext.setLogLevel("ERROR")
        sessionS = Proc.uptimeS
        val out = a.workload match {
          case "dashboard" => Dashboard.run(spark, a)
          case "ingest" => Ingest.run(spark, a)
          case "analytic" => Analytic.run(spark, a)
          case other => throw new IllegalArgumentException(s"unknown workload '$other'")
        }
        println("PERFBENCH_RESULT " + json(out))
        if (out.correct) 0 else 1
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          2
      } finally if (spark != null) spark.stop()
    System.out.flush()
    // HttpApi.stop() leaves its request executor's threads running, so the
    // JVM would not end on its own when main returns
    System.exit(code)
  }

  /** Run the timed phase (or, traced, an untraced half and a traced half),
    * then `verify`, and assemble the outcome.
    */
  def finish(a: Args, setupS: Double, buildS: Double,
      loop: (Phase, Double) => Phase, uniform: Phase => Map[String, Double],
      verify: () => Seq[String], warm: Phase,
      report: Phase => Map[String, Double], storage: Phase => Map[String, Double],
      queries: Phase => Map[String, (Double, Double)]): Outcome = {
    val (phases, metrics) =
      if (!a.trace) {
        val p = loop(new Phase(None), a.seconds)
        val m = uniform(p) ++ Map("setup_s" -> setupS, "peak_rss_mb" -> Proc.peakRssMb)
        (Seq(p), m.map { case (k, v) => k -> Metric(v, unitOf(k)) })
      } else {
        val untraced = loop(new Phase(None), a.seconds / 2)
        val tracer = new Tracer(spark)
        tracer.install()
        val gc0 = Proc.gcMs
        val traced = loop(new Phase(Some(tracer)), a.seconds / 2)
        val gcMs = Proc.gcMs - gc0
        tracer.uninstall()
        if (a.spans.nonEmpty) tracer.write(a.spans)
        val (u, t) = (uniform(untraced), uniform(traced))
        val overhead = Layers.overheadOf.map(n => n -> (t(n) - u(n))).toMap
        (Seq(untraced, traced),
          Layers.metrics(traced, tracer, gcMs, storage(traced), queries(traced), overhead))
      }
    val problems = verify()
    val unmeasured = metrics.collect {
      case (k, m) if m.value.isNaN || m.value.isInfinite || (!a.trace && m.value <= 0) =>
        s"metric $k not measured"
    }
    val failures = warm.failures.toSeq ++ phases.flatMap(_.failures) ++ problems ++ unmeasured
    val failed = warm.failed + phases.map(_.failed).sum + problems.size
    val rep = report(phases.head) ++
      Map("session_s" -> sessionS, "build_s" -> buildS, "setup_s" -> setupS)
    println("PERFBENCH_REPORT " + obj(rep.toSeq.sortBy(_._1).map { case (k, v) => k -> num(v) }) +
      "\t" + failures.map(quote).mkString("[", ",", "]"))
    Outcome(
      correct = failures.isEmpty && failed == 0,
      attempted = warm.attempted + phases.map(_.attempted).sum,
      failed = failed,
      metrics = metrics.map { case (k, m) => k -> (if (m.value.isNaN || m.value.isInfinite) Metric(0, m.unit) else m) })
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString else v.toString

  private def quote(s: String): String = Client.mapper.writeValueAsString(s)

  private def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${quote(k)}:$v" }.mkString("{", ",", "}")

  private def json(o: Outcome): String = obj(Seq(
    "correct" -> o.correct.toString,
    "attempted" -> o.attempted.toString,
    "failed" -> o.failed.toString,
    "metrics" -> obj(o.metrics.toSeq.sortBy(_._1).map { case (k, m) =>
      k -> obj(Seq("value" -> num(m.value), "unit" -> quote(m.unit)))
    })))
}
