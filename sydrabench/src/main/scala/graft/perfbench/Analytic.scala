package graft.perfbench

import graft.queries.Registry
import org.apache.spark.sql.SparkSession

/** The registry's headline queries as one batch, each forced into a `noop`
  * sink; the seed permutes their order. It bypasses the HTTP API, routing
  * and the store.
  */
object Analytic {
  def names: Seq[String] = graft.SparkEntry.benchQueries

  def run(spark: SparkSession, a: Args): Outcome = {
    // Registry.all loads this file relative to the working directory
    val rotation = new java.io.File("OPQ_ROTATION.txt")
    if (!rotation.isFile) throw new IllegalStateException(
      s"OPQ_ROTATION.txt not found in ${rotation.getAbsoluteFile.getParent}: " +
        "the analytic workload runs from the repository root")
    if (!new java.io.File(a.sfDir, "lineitem.parquet").exists()) throw new IllegalStateException(
      s"no lineitem.parquet under ${a.sfDir}")
    val rng = new scala.util.Random(a.seed)

    def force(n: String): Unit =
      Registry.byName(n).run(spark, a.sfDir).write.format("noop").mode("overwrite").save()

    // Every pass starts with no cached frame: the kernels persist their
    // intermediates for the session, and a pass that found the previous
    // pass's would time cache reads, not the kernels. Within a pass the
    // kernels share what they cache, as in Bench's headline pass.
    def pass(f: String => Unit): Unit = {
      spark.catalog.clearCache()
      rng.shuffle(names).foreach(f)
    }

    // warm-up, one pass that writes each result out for run.py's hash check
    val warm = new Phase(None)
    val tw = System.nanoTime()
    pass(n => warm.call("query", n)(Registry.byName(n).run(spark, a.sfDir)
      .write.mode("overwrite").parquet(s"${a.resultsDir}/$n")))
    val warmS = (System.nanoTime() - tw) / 1e9

    // whole passes while the next one, as long as the last, still ends
    // within `seconds`; at least one
    def loop(p: Phase, seconds: Double): Phase = {
      val deadline = System.nanoTime() + (seconds * 1e9).toLong
      p.start()
      do {
        val (t0, c0) = (System.nanoTime(), Proc.cpuMs)
        pass { n =>
          val c = Proc.cpuMs
          p.call("query", n)(force(n)).foreach { _ =>
            p.lat(s"wall:$n").add(p.lat("query").last)
            p.lat(s"cpu:$n").add(Proc.cpuMs - c)
          }
        }
        p.lat("pass").add((System.nanoTime() - t0) / 1e6)
        p.lat("pass_cpu").add(Proc.cpuMs - c0)
      } while (System.nanoTime() + p.lat("pass").last * 1e6 <= deadline)
      p.stop()
      p
    }

    // the per-query latency of a pass, median over passes: the median of
    // eleven different queries' times would jump from one query's time to
    // another's as the order changes
    def uniform(p: Phase): Map[String, Double] = {
      val q = p.lat("query")
      Map("p50_ms" -> p.lat("pass").p50 / names.length, "ops_per_s" -> q.n / p.wallS,
        "cpu_ms_per_op" -> p.cpuMs / q.n)
    }

    Main.finish(a, Main.sessionS + warmS, 0.0, loop, uniform, verify = () => Nil, warm = warm,
      report = p => Map(
        "batch_total_s" -> p.lat("pass").p50 / 1e3, "batch_cpu_s" -> p.lat("pass_cpu").p50 / 1e3,
        "passes" -> p.lat("pass").n, "query_p50_ms" -> p.lat("query").p50),
      storage = _ => Map.empty,
      queries = p => names.map(n =>
        n -> (p.lat(s"wall:$n").p50 / 1e3, p.lat(s"cpu:$n").p50 / 1e3)).toMap)
  }
}

/** Prints the DuckDB oracle SQL of each headline query as one JSON object
  * (null where the registry has none); `expected_hashes.py` reads it.
  */
object OracleSql {
  def main(args: Array[String]): Unit = {
    val oracle = graft.SparkEntry.oracleSql
    val node = Client.mapper.createObjectNode()
    Analytic.names.foreach(n => oracle.get(n).fold(node.putNull(n))(node.put(n, _)))
    println(node.toString)
  }
}
