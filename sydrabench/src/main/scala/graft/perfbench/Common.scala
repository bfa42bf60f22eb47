package graft.perfbench

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._

/** Command line of the benchmark JVM (run.py builds it). */
final case class Args(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    smoke: Boolean,
    tmp: String,
    sfDir: String,
    resultsDir: String,
    spans: String)

object Args {
  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"--$k required"))
    Args(
      workload = need("workload"),
      seed = need("seed").toLong,
      seconds = need("seconds").toDouble,
      trace = need("trace") == "1",
      smoke = kv.get("smoke").contains("1"),
      tmp = need("tmp"),
      sfDir = kv.getOrElse("sf-dir", ""),
      resultsDir = kv.getOrElse("results-dir", ""),
      spans = kv.getOrElse("spans", ""))
  }
}

/** One named metric value with its unit. */
final case class Metric(value: Double, unit: String)

/** Latency samples of one request kind, successes only. */
final class Samples {
  private val buf = scala.collection.mutable.ArrayBuffer.empty[Double]
  def add(ms: Double): Unit = buf += ms
  def n: Int = buf.length
  def sorted: IndexedSeq[Double] = buf.sorted.toIndexedSeq
  def isEmpty: Boolean = buf.isEmpty
  def last: Double = buf.last
  def p50: Double = Samples.median(buf.toSeq)
  /** The highest percentile with at least ten samples above it: the 11th
    * largest sample, or NaN when there are fewer than 11.
    */
  def tail: Double = if (n < 11) Double.NaN else sorted(n - 11)
  def tailPct: Double = if (n < 11) Double.NaN else 100.0 * (n - 10) / n
}

object Samples {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }
}

/** Process-level probes: CPU, GC, heap and resident-set high-water marks. */
object Proc {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuMs: Double = os.getProcessCpuTime / 1e6

  def gcMs: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum.toDouble

  def peakHeapMb: Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** `VmHWM` of this process in MB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(throw new IllegalStateException("VmHWM missing from /proc/self/status"))
    finally src.close()
  }

  /** Seconds since this JVM started. */
  def uptimeS: Double = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
}

/** Files and bytes under a directory tree. */
object Disk {
  def walk(root: String): Seq[java.io.File] = {
    val out = Seq.newBuilder[java.io.File]
    def go(f: java.io.File): Unit =
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(go)) else out += f
    go(new java.io.File(root))
    out.result()
  }
  def bytes(root: String): Long = walk(root).map(_.length).sum
}
