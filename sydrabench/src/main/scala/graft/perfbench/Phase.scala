package graft.perfbench

import scala.collection.mutable

/** What one measured phase saw: per-kind latencies of successful
  * operations, failures (counted, never timed), and the stats each reply
  * carries. With a tracer every operation is also a [[Span]].
  */
final class Phase(val tracer: Option[Tracer]) {
  private val byKind = mutable.Map.empty[String, Samples]
  def lat(kind: String): Samples = byKind.getOrElseUpdate(kind, new Samples)
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]

  // the api, sydraql and catalyst layers, from each reply's own stats
  val selfMs, responseBytes, parseUs, validateUs, compileUs, optimizeUs, physicalUs = new Samples
  var requests, errors = 0L
  val routes: mutable.Map[String, Long] = mutable.Map.empty.withDefaultValue(0L)
  var servedSent, servedServed = 0L

  private var t0 = 0L
  private var t1 = 0L
  private var cpu0, cpu1 = 0.0

  /** Starts the clocks after a full collection, so that the set-up's
    * garbage is not collected on the phase's time.
    */
  def start(): Unit = { System.gc(); t0 = System.nanoTime(); cpu0 = Proc.cpuMs }
  def stop(): Unit = { t1 = System.nanoTime(); cpu1 = Proc.cpuMs }
  def wallS: Double = (t1 - t0) / 1e9
  def cpuMs: Double = cpu1 - cpu0

  def fail(what: String): Unit = {
    failed += 1
    if (failures.length < 5) failures += what
  }

  private def timed[T](kind: String, name: String)(f: => T): T =
    tracer.fold(f)(_.span(kind, name)(f))

  /** Send one HTTP request; it succeeds when the reply is 2xx and `check`
    * holds.
    */
  def http(kind: String, name: String, servedShape: Boolean = false)(send: => Reply)(
      check: Reply => Boolean): Option[Reply] = {
    attempted += 1
    requests += 1
    if (servedShape) servedSent += 1
    val r = try Right(timed(kind, name)(send)) catch { case e: Exception => Left(e) }
    r match {
      case Right(rep) if rep.ok && check(rep) =>
        lat(kind).add(rep.ms)
        responseBytes.add(rep.body.length)
        if (rep.json.has("stats")) {
          selfMs.add(rep.ms - rep.stat("pipeline_us") / 1000.0)
          parseUs.add(rep.stat("parse_us"))
          validateUs.add(rep.stat("validate_us"))
          compileUs.add(rep.stat("compile_us"))
          optimizeUs.add(rep.stat("optimize_us"))
          physicalUs.add(rep.stat("physical_us"))
          routes(rep.route) += 1
          if (servedShape && rep.route.startsWith("served:")) servedServed += 1
        }
        Some(rep)
      case Right(rep) =>
        if (!rep.ok) errors += 1
        fail(s"$name: HTTP ${rep.status}, route '${if (rep.ok) rep.route else ""}': ${rep.body.take(300)}")
        None
      case Left(e) =>
        errors += 1
        fail(s"$name: $e")
        None
    }
  }

  /** Run one in-process call (not an HTTP request). */
  def call[T](kind: String, name: String)(f: => T): Option[T] = {
    attempted += 1
    val t = System.nanoTime()
    try {
      val out = timed(kind, name)(f)
      lat(kind).add((System.nanoTime() - t) / 1e6)
      Some(out)
    } catch { case e: Exception => fail(s"$name: $e"); None }
  }
}
