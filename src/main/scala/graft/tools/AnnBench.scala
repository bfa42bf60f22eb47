package graft.tools

import graft.pipeline.IvfIndex
import org.apache.spark.sql.functions.col

/** ANN serving benchmark: build the at-rest IVFPQ index once, then
  * measure steady-state probe-batch latency (the shape a serving tier
  * runs: frozen quantizer, pruned partition reads, ADC ranking). Reports
  * the reference bench's vocabulary — p50/p95/p99 — over query batches,
  * one JSON line on stdout. Latencies include Spark's local job
  * scheduling floor; on a cluster the same plan serves from executors.
  *
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default 32).
  */
object AnnBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.SparkEntry.localSession(32)
    val emb = graft.core.Tables.embeddings(spark, sfDir)
    val nVec = emb.count()
    val idx = java.nio.file.Files.createTempDirectory("graft-annbench").toString + "/index"
    val tb = System.nanoTime()
    val (cs, books) = IvfIndex.buildPq(emb, idx, nCells = 8, iters = 3, m = 4, ksub = 16)
    val buildS = (System.nanoTime() - tb) / 1e9
    val batches = 35
    val warmup = 5
    val lats = (0 until batches).map { b =>
      val lo = (b.toLong * 10) % math.max(nVec - 10, 1)
      val qs = emb.filter(col("vec_id") >= lo && col("vec_id") < lo + 10)
      val t0 = System.nanoTime()
      IvfIndex.topKPq(spark, idx, qs, 5, nprobe = 4,
        centroids = Some(cs), books = Some(books)).collect()
      (System.nanoTime() - t0) / 1e6
    }.drop(warmup).sorted
    // Steady-state tier: the same batches served from a persisted copy of
    // the index frame (codes resident in executor memory — the long-lived
    // serving shape), isolating the at-rest file-open cost from ADC work.
    val resident = spark.read.parquet(idx).persist()
    resident.count()
    val hotLats = (0 until batches).map { b =>
      val lo = (b.toLong * 10) % math.max(nVec - 10, 1)
      val qs = emb.filter(col("vec_id") >= lo && col("vec_id") < lo + 10)
      val t0 = System.nanoTime()
      IvfIndex.topKPq(spark, idx, qs, 5, nprobe = 4,
        centroids = Some(cs), books = Some(books), index = Some(resident)).collect()
      (System.nanoTime() - t0) / 1e6
    }.drop(warmup).sorted
    // Hamming route (binary signatures + exact rerank) on the same query
    // batches — the documented swap-in for corpus-scale top-1/mutual-NN
    // and the 32×-lighter candidate scan; its serving number belongs on
    // record next to the PQ/IVFPQ paths. The signature frame is persisted
    // like `resident` above (the long-lived serving shape).
    val embResident = emb.persist()
    embResident.count()
    // Batch-size sweep: the Hamming route's latency floor is the per-BATCH
    // local job overhead (scheduling + 2 shuffle stages), not per-query
    // work — p50 at batch 1/10/100 puts numbers on that amortization claim
    // (BASELINE.md "Hamming serving batch sweep").
    def hamSweep(bs: Int): Seq[Double] = (0 until batches).map { b =>
      val lo = (b.toLong * bs) % math.max(nVec - bs, 1)
      val qs = embResident.filter(col("vec_id") >= lo && col("vec_id") < lo + bs)
      val t0 = System.nanoTime()
      graft.pipeline.Similarity.hammingTopK(embResident, qs, 5, candMult = 4).collect()
      (System.nanoTime() - t0) / 1e6
    }.drop(warmup).sorted
    val hamLats = hamSweep(10)
    val sweep = Seq(1, 10, 100).map { bs =>
      val l = if (bs == 10) hamLats else hamSweep(bs)
      bs -> l((0.50 * (l.length - 1)).round.toInt)
    }
    def pct(p: Double): Double = lats((p * (lats.length - 1)).round.toInt)
    def pctHot(p: Double): Double = hotLats((p * (hotLats.length - 1)).round.toInt)
    def pctHam(p: Double): Double = hamLats((p * (hamLats.length - 1)).round.toInt)
    val sweepJson = sweep.map { case (bs, p50) =>
      f""""$bs":{"p50_ms":$p50%.1f,"per_query_ms":${p50 / bs}%.2f}"""
    }.mkString("{", ",", "}")
    println(f"""{"metric":"ann_serve","n_vectors":$nVec,"build_s":$buildS%.2f,"batches":${batches - warmup},"queries_per_batch":10,"p50_ms":${pct(0.50)}%.1f,"p95_ms":${pct(0.95)}%.1f,"p99_ms":${pct(0.99)}%.1f,"hot_p50_ms":${pctHot(0.50)}%.1f,"hot_p95_ms":${pctHot(0.95)}%.1f,"hot_p99_ms":${pctHot(0.99)}%.1f,"hamming_p50_ms":${pctHam(0.50)}%.1f,"hamming_p95_ms":${pctHam(0.95)}%.1f,"hamming_p99_ms":${pctHam(0.99)}%.1f,"hamming_batch_sweep":$sweepJson,"sf":"$sfDir"}""")
    spark.stop()
  }
}
