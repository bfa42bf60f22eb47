package graft.perfbench

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import java.util.concurrent.atomic.AtomicLong

/** Spark, Catalyst and MetaCache counters, as totals since the tracer was
  * installed.
  */
final case class Counters(
    jobs: Long, stages: Long, tasks: Long, runMs: Long, cpuMs: Long, inputBytes: Long,
    shuffleReadBytes: Long, shuffleWriteBytes: Long, spillBytes: Long, outputBytes: Long,
    analysisUs: Long, metaLoads: Long, markerReads: Long) {
  def -(o: Counters): Counters = Counters(
    jobs - o.jobs, stages - o.stages, tasks - o.tasks, runMs - o.runMs, cpuMs - o.cpuMs,
    inputBytes - o.inputBytes, shuffleReadBytes - o.shuffleReadBytes,
    shuffleWriteBytes - o.shuffleWriteBytes, spillBytes - o.spillBytes,
    outputBytes - o.outputBytes, analysisUs - o.analysisUs, metaLoads - o.metaLoads,
    markerReads - o.markerReads)
}

/** One traced call: which layer call it was, its wall time, and the
  * Spark/Catalyst work done while it ran.
  */
final case class Span(kind: String, name: String, startNs: Long, ms: Double, delta: Counters)

/** The traced run's instruments: a SparkListener and a
  * QueryExecutionListener registered from outside the engine, read as
  * per-call deltas. With one closed-loop client nothing else runs between
  * two reads, so a delta belongs to the call it brackets.
  */
final class Tracer(spark: SparkSession) {
  private val jobs, stages, tasks, runMs, cpuMs, inputBytes = new AtomicLong
  private val shuffleRead, shuffleWrite, spill, output, analysisUs = new AtomicLong
  val spans = scala.collection.mutable.ArrayBuffer.empty[Span]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      Option(e.taskMetrics).foreach { m =>
        runMs.addAndGet(m.executorRunTime)
        cpuMs.addAndGet(m.executorCpuTime / 1000000L)
        inputBytes.addAndGet(m.inputMetrics.bytesRead)
        shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        output.addAndGet(m.outputMetrics.bytesWritten)
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      qe.tracker.phases.get("analysis").foreach(p =>
        analysisUs.addAndGet((p.endTimeMs - p.startTimeMs) * 1000L))
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
  }

  def uninstall(): Unit = {
    PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
  }

  def snapshot(): Counters = {
    PerfbenchBus.drain(spark.sparkContext)
    Counters(jobs.get, stages.get, tasks.get, runMs.get, cpuMs.get, inputBytes.get,
      shuffleRead.get, shuffleWrite.get, spill.get, output.get, analysisUs.get,
      graft.storage.MetaCache.loads.get, graft.storage.MetaCache.markerReads.get)
  }

  /** Run `f` as one span of `kind`. */
  def span[T](kind: String, name: String)(f: => T): T = {
    val c0 = snapshot()
    val t0 = System.nanoTime()
    val out = f
    val ms = (System.nanoTime() - t0) / 1e6
    spans += Span(kind, name, t0, ms, snapshot() - c0)
    out
  }

  /** Spans as JSON lines, written when the run ends. */
  def write(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      val d = s.delta
      w.println(
        s"""{"kind":"${s.kind}","name":"${s.name}","start_ns":${s.startNs},"ms":${s.ms},""" +
          s""""jobs":${d.jobs},"stages":${d.stages},"tasks":${d.tasks},""" +
          s""""executor_run_ms":${d.runMs},"executor_cpu_ms":${d.cpuMs},""" +
          s""""input_bytes":${d.inputBytes},"shuffle_read_bytes":${d.shuffleReadBytes},""" +
          s""""shuffle_write_bytes":${d.shuffleWriteBytes},"spill_bytes":${d.spillBytes},""" +
          s""""output_bytes":${d.outputBytes},"analysis_us":${d.analysisUs},""" +
          s""""meta_loads":${d.metaLoads},"meta_marker_reads":${d.markerReads}}""")
    } finally w.close()
  }
}
