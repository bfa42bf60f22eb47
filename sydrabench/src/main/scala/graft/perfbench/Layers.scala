package graft.perfbench

/** The traced run's per-layer metrics. Every workload reports every name;
  * a layer the workload does not reach reads 0.
  */
object Layers {
  val routeNames: Seq[String] = Seq("raw", "served:cells:td", "served:cells:tdtag",
    "served:hybrid:td", "served:hybrid:tdtag", "delete")

  val storageNames: Seq[String] = Seq("append_ms", "segment_write_ms", "tier_refresh_ms",
    "compact_ms", "delete_ms", "files_per_hour", "bytes_written_per_point",
    "meta_loads_per_query", "meta_marker_reads_per_query", "stored_bytes_per_point")

  /** Span kinds that are one query each. */
  val queryKinds: Set[String] = Set("served", "raw", "query")

  /** The end-to-end metrics whose traced-minus-untraced difference is the
    * tracing overhead (set-up runs untraced, and RSS is a high-water mark).
    */
  val overheadOf: Seq[String] = Seq("p50_ms", "ops_per_s", "cpu_ms_per_op")

  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
  private def med(s: Samples): Double = if (s.isEmpty) 0.0 else s.p50

  def metrics(traced: Phase, tracer: Tracer, gcMs: Double, storage: Map[String, Double],
      queries: Map[String, (Double, Double)], overhead: Map[String, Double]): Map[String, Metric] = {
    val q = tracer.spans.toSeq.filter(s => queryKinds(s.kind))
    def perQuery(f: Counters => Long): Double = mean(q.map(s => f(s.delta).toDouble))
    val appends = tracer.spans.toSeq.filter(s => s.kind == "append" || s.kind == "ingest")
    val sentRoutes = traced.routes.values.sum
    val m = Seq.newBuilder[(String, Metric)]
    m += "api.self_ms" -> Metric(med(traced.selfMs), "ms")
    m += "api.response_bytes" -> Metric(med(traced.responseBytes), "bytes")
    m += "api.requests" -> Metric(traced.requests.toDouble, "count")
    m += "api.errors" -> Metric(traced.errors.toDouble, "count")
    m += "sydraql.parse_us" -> Metric(med(traced.parseUs), "us")
    m += "sydraql.validate_us" -> Metric(med(traced.validateUs), "us")
    m += "sydraql.compile_us" -> Metric(med(traced.compileUs), "us")
    routeNames.foreach { r =>
      m += s"sydraql.route.${r.replace(':', '_')}" -> Metric(traced.routes(r).toDouble, "count")
    }
    m += "sydraql.route.other" ->
      Metric((sentRoutes - routeNames.map(traced.routes).sum).toDouble, "count")
    m += "sydraql.served_ratio" -> Metric(
      if (traced.servedSent == 0) 0.0 else traced.servedServed.toDouble / traced.servedSent, "ratio")
    m += "catalyst.optimize_us" -> Metric(med(traced.optimizeUs), "us")
    m += "catalyst.physical_us" -> Metric(med(traced.physicalUs), "us")
    val analysis = new Samples
    q.foreach(s => analysis.add(s.delta.analysisUs.toDouble))
    m += "catalyst.analysis_us" -> Metric(med(analysis), "us")
    m += "spark.jobs_per_query" -> Metric(perQuery(_.jobs), "count")
    m += "spark.stages_per_query" -> Metric(perQuery(_.stages), "count")
    m += "spark.tasks_per_query" -> Metric(perQuery(_.tasks), "count")
    m += "spark.jobs_per_append" -> Metric(mean(appends.map(_.delta.jobs.toDouble)), "count")
    m += "spark.executor_run_ms" -> Metric(perQuery(_.runMs), "ms")
    m += "spark.executor_cpu_ms" -> Metric(perQuery(_.cpuMs), "ms")
    m += "spark.input_bytes" -> Metric(perQuery(_.inputBytes), "bytes")
    m += "spark.shuffle_read_bytes" -> Metric(perQuery(_.shuffleReadBytes), "bytes")
    m += "spark.shuffle_write_bytes" -> Metric(perQuery(_.shuffleWriteBytes), "bytes")
    m += "spark.spill_bytes" -> Metric(perQuery(_.spillBytes), "bytes")
    storageNames.foreach { n =>
      val unit = if (n.endsWith("_ms")) "ms" else if (n.contains("bytes")) "bytes" else "count"
      m += s"storage.$n" -> Metric(storage.getOrElse(n,
        n match {
          case "meta_loads_per_query" => perQuery(_.metaLoads)
          case "meta_marker_reads_per_query" => perQuery(_.markerReads)
          case _ => 0.0
        }), unit)
    }
    Analytic.names.foreach { n =>
      val (s, cpu) = queries.getOrElse(n, (0.0, 0.0))
      m += s"queries.${n}_s" -> Metric(s, "s")
      m += s"queries.${n}_cpu_s" -> Metric(cpu, "s")
    }
    m += "jvm.gc_ms" -> Metric(gcMs, "ms")
    m += "jvm.peak_heap_mb" -> Metric(Proc.peakHeapMb, "MB")
    overheadOf.foreach { n => m += s"overhead.$n" -> Metric(overhead.getOrElse(n, 0.0), Main.unitOf(n)) }
    m.result().toMap
  }
}
