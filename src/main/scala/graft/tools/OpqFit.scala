package graft.tools


/** Train the OPQ rotation on the embeddings table and record it as
  * `OPQ_ROTATION.txt` (one row per line, 1e-6-rounded — the frozen
  * checkpoint `q_ann_opq` and its oracle both embed as a plan literal;
  * see Pq.fitOpq's scaladoc for why the artifact, not the trainer, is
  * the replayed contract). Rerun after a testdata regeneration; the gate
  * fails loudly if the file is missing.
  *
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default 32).
  */
object OpqFit {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.SparkEntry.localSession(32)
    val emb = graft.core.Tables.embeddings(spark, sfDir)
    val r = graft.pipeline.Pq.fitOpq(emb, m = 4, ksub = 16, iters = 1, sweeps = 2)
    val out = args.headOption.getOrElse("OPQ_ROTATION.txt")
    val txt = r.map(_.mkString(" ")).mkString("\n") + "\n"
    java.nio.file.Files.write(java.nio.file.Paths.get(out), txt.getBytes("UTF-8"))
    // recall@5 vs exact cosine for the plain-PQ and OPQ-PQ ADC routes on
    // the same 200-query batch — the BASELINE.md row beside the pinned
    // IVFPQ recall curve (rotation = pure preprocessing; serving
    // unchanged). Rotation is an isometry, so exact neighbors are
    // identical in both spaces; only the QUANTIZED ranking differs.
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    // exact L2 top-5 ground truth (ADC approximates L2, so recall must be
    // measured against the metric it serves)
    val parsed = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val q = parsed.filter(col("vec_id") < 200)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val d2 = parsed.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        aggregate(zip_with(col("v"), col("qv"), (x, y) => (x - y) * (x - y)),
          lit(0.0), (a, x) => a + x).as("d2"))
    val exact = d2
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("d2"), col("vec_id"))))
      .filter(col("rk") <= 5)
      .select("q_id", "vec_id").collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    def recallOf(corpus: org.apache.spark.sql.DataFrame): Double = {
      val books = graft.pipeline.Pq.fit(corpus, m = 4, ksub = 16, iters = 1)
      val got = graft.pipeline.Pq.adcTopK(corpus,
          corpus.filter(col("vec_id") < 200), books, 5)
        .select("q_id", "vec_id").collect().map(x => (x.getLong(0), x.getLong(1))).toSet
      got.count(exact.contains).toDouble / exact.size
    }
    val plain = recallOf(emb)
    val opq = recallOf(graft.pipeline.Pq.rotate(emb, r))
    println(f"""{"metric":"opq_fit","dim":${r.length},"out":"$out","recall5_pq":$plain%.3f,"recall5_opq":$opq%.3f,"sf":"$sfDir"}""")
    spark.stop()
  }
}
