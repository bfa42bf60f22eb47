package graft.pipeline

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** At-rest inverted text index — [[IvfIndex]]'s analogue for lexical
  * retrieval: BM25 serving without touching the corpus.
  *
  * [[TextAnalysis.bm25TopK]] recomputes token statistics from the raw
  * documents on every call — correct as the gated ground truth, but at
  * 100 TB a retrieval tier cannot re-explode the corpus per query. The
  * index materializes the postings ONCE, term-bucket-partitioned
  * (`bucket = hash31(term) % nBuckets` — the IVF cell layout, so a probe
  * reads only the query terms' partitions via partition pruning,
  * PlanSpec-asserted), with the per-posting scoring context DENORMALIZED
  * in: each row carries (term, doc_id, tf, dl, df). That trades bytes at
  * rest for a probe with ZERO joins — score = f(posting row, broadcast
  * meta), one per-doc sum, the shared distributed top-k tail. `meta`
  * holds the two corpus scalars (n_docs, avgdl pre-rounded 1e-6 — the
  * same rounding the direct path applies before use).
  *
  * Freshness: [[append]] rewrites ONLY the term buckets the new batch
  * touches (the continuousRollup partition-rewrite pattern, crash-safe
  * per-bucket swaps) — the corpus is never re-exploded. Same-route
  * determinism: probe scoring replays the direct path's exact
  * arithmetic, so `q_pl_bm25_idx` shares `q_pl_bm25`'s oracle —
  * index-backed and direct rankings are bit-equal, and StorageSpec pins
  * append-then-probe ≡ full-rebuild probe.
  */
object TextIndex {

  /** Per-doc lengths and term frequencies — the shared shape of [[build]]
    * and [[append]].
    */
  private def stats(docs: DataFrame): (DataFrame, DataFrame) = {
    val wl = docs.select(col("doc_id"),
      size(filter(TextAnalysis.words(col("text")), t => length(t) > 0))
        .cast("double").as("dl"))
    val tf = docs
      .select(col("doc_id"), explode(TextAnalysis.words(col("text"))).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy("doc_id", "term").agg(count(lit(1)).cast("double").as("tf"))
    (wl, tf)
  }

  /** One corpus pass each for doc lengths, tf, and df; postings join the
    * three (term- and doc-keyed shuffles) and land partitioned by term
    * bucket. All shapes partial+final; nothing collects. The doc-length
    * frame feeds both the postings join and the meta aggregate — cached
    * across the two writes so the corpus is length-scanned once.
    * `meta` carries `sum_dl` (exact: integer-valued double sums never
    * round below 2^53) so [[append]] can extend `avgdl` bit-exactly.
    */
  def build(docs: DataFrame, path: String, nBuckets: Int = 64): Unit = {
    require(nBuckets >= 1, "need at least one term bucket")
    val (wl0, tf) = stats(docs)
    val wl = wl0.cache()
    try {
      val dfx = tf.groupBy("term").agg(count(lit(1)).cast("double").as("df"))
      tf.join(dfx, "term").join(wl, "doc_id")
        .withColumn("bucket", pmod(TextAnalysis.hash31(col("term")), lit(nBuckets.toLong)))
        .write.mode(SaveMode.Overwrite).partitionBy("bucket")
        .parquet(s"$path/postings")
      docs.agg(count(lit(1)).as("n_docs"))
        .crossJoin(wl.agg(sum(col("dl")).as("sum_dl")))
        .withColumn("avgdl",
          floor(col("sum_dl") / col("n_docs") * 1e6 + 0.5) / 1e6)
        .withColumn("n_buckets", lit(nBuckets.toLong))
        .write.mode(SaveMode.Overwrite).parquet(s"$path/meta")
    } finally { wl.unpersist(); () }
  }

  /** Incremental append: index `batch` (docs with NEW doc_ids) by
    * rewriting only the term buckets its vocabulary hashes into — the
    * changed-bucket partition-rewrite the class doc promises. Steps:
    *
    *  1. batch tf/dl (batch-sized, one explode of the BATCH only);
    *  2. touched buckets = distinct hash31(term) % nBuckets over the
    *     batch vocabulary (vocab-sized collect — metadata);
    *  3. partition-pruned read of ONLY those buckets; per-term df is
    *     extended (old df + batch df — a term's postings live entirely
    *     in its hash bucket, so every affected row is in the read set);
    *  4. ONE partitioned write lands every touched bucket in the scratch
    *     dir, then the buckets swap in through
    *     [[graft.storage.Maintenance.swapIn]] (the swap protocol in
    *     `Maintenance`'s doc — a concurrent probe never sees a
    *     half-written bucket); `meta` swaps LAST:
    *     n_docs += |batch|, avgdl extended from the exact `sum_dl` —
    *     bit-equal to a full rebuild (StorageSpec).
    *
    * Each bucket swap is atomic, but the append as a WHOLE is not: a
    * crash mid-loop leaves a prefix of buckets extended with the old
    * meta (probes of untouched terms are unaffected; probes of the
    * batch's terms see pre-append rankings until meta lands). Re-running
    * the same batch is NOT idempotent — on doubt, [[build]] from the
    * corpus. Scale shape: cost ∝ batch size + touched-bucket bytes,
    * never corpus size.
    */
  def append(spark: SparkSession, batch: DataFrame, path: String): Seq[Long] = {
    import spark.implicits._
    val postingsRoot = s"$path/postings"
    graft.storage.Maintenance.recoverSwaps(spark, postingsRoot)
    graft.storage.Maintenance.recoverSwaps(spark, path)
    // the WRITE modulus must be build's exact nBuckets — the dir-name
    // heuristic topK uses for pruning would under-count when high
    // buckets happen to be term-free, silently mis-bucketing new terms
    val meta0 = spark.read.parquet(s"$path/meta")
    require(meta0.columns.contains("sum_dl") && meta0.columns.contains("n_buckets"),
      "index meta lacks sum_dl/n_buckets (pre-r11 layout) — rebuild before appending")
    val nBuckets = meta0.select(col("n_buckets")).as[Long].head()
    val (bwl0, btf0) = stats(batch)
    val bwl = bwl0.cache()
    val btf = btf0.cache()
    try {
      val bdf = btf.groupBy("term").agg(count(lit(1)).cast("double").as("df_b"))
        .withColumn("bucket", pmod(TextAnalysis.hash31(col("term")), lit(nBuckets)))
        .cache()
      val touched = bdf.select(col("bucket")).distinct().as[Long].collect().sorted.toSeq
      if (touched.isEmpty) return Nil
      val old = spark.read.parquet(postingsRoot)
        .filter(col("bucket").isInCollection(touched))
      // per-term df extension: old df is constant per term — one distinct
      val oldDf = old.select(col("term"), col("df")).distinct()
      val newDf = oldDf.join(bdf.select(col("term"), col("df_b")), Seq("term"), "full_outer")
        .select(col("term"),
          (coalesce(col("df"), lit(0.0)) + coalesce(col("df_b"), lit(0.0))).as("df"))
      val batchRows = btf.join(bwl, "doc_id")
        .select(col("doc_id"), col("term"), col("tf"), col("dl"))
      val merged = old.select(col("doc_id"), col("term"), col("tf"), col("dl"))
        .unionByName(batchRows)
        .join(newDf, "term")
        .withColumn("bucket", pmod(TextAnalysis.hash31(col("term")), lit(nBuckets)))
        .select(col("term"), col("doc_id"), col("tf"), col("df"), col("dl"), col("bucket"))
      // ONE partitioned write of every touched bucket into the scratch
      // dir, then one swap of the touched buckets — no Spark job per
      // bucket (a small batch can touch hundreds of buckets; per-bucket
      // jobs made append SLOWER than a rebuild at smoke scale)
      graft.storage.Maintenance.swapIn(spark, postingsRoot, touched.map(b => s"bucket=$b")) { scratch =>
        merged.write.mode(SaveMode.Overwrite).partitionBy("bucket").parquet(scratch)
      }
      val newMeta = meta0
        .crossJoin(broadcast(batch.agg(count(lit(1)).as("n_b"))
          .crossJoin(bwl.agg(sum(col("dl")).as("s_b")))))
        .select((col("n_docs") + col("n_b")).as("n_docs"),
          (col("sum_dl") + col("s_b")).as("sum_dl"), col("n_buckets"))
        .withColumn("avgdl",
          floor(col("sum_dl") / col("n_docs") * 1e6 + 0.5) / 1e6)
      // the scratch write reads the live meta to completion before the swap
      graft.storage.Maintenance.swapIn(spark, path, Seq("meta")) { scratch =>
        newMeta.write.mode(SaveMode.Overwrite).parquet(s"$scratch/meta")
      }
      bdf.unpersist()
      touched
    } finally { bwl.unpersist(); btf.unpersist(); () }
  }


  /** BM25 top-k from the at-rest index: the postings scan filters on the
    * query terms' bucket VALUES (computed through the same hash
    * expression on a |terms|-row local frame), so partition pruning
    * drops every other bucket before a byte is read; the term filter
    * then prunes within the bucket via parquet min/max. Scoring is the
    * direct path's formula verbatim on the denormalized row + the
    * 2-scalar broadcast meta.
    */
  def topK(spark: SparkSession, path: String, query: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    require(query.nonEmpty, "empty query")
    val terms = query.map(_.toLowerCase).distinct
    val meta = spark.read.parquet(s"$path/meta")
    val nBuckets =
      // build's exact modulus from meta (r11) — the dir-name heuristic
      // under-counts when the top buckets happen to be term-free, which
      // would hash query terms to the WRONG bucket and silently miss
      // their postings; dirs remain the fallback for pre-r11 layouts
      // (where every bucket was always occupied at the corpus sizes that
      // shipped them)
      if (meta.columns.contains("n_buckets"))
        meta.select(col("n_buckets")).as[Long].head()
      else {
        val dirs = new org.apache.hadoop.fs.Path(s"$path/postings")
        val fs = dirs.getFileSystem(spark.sessionState.newHadoopConf())
        fs.listStatus(dirs).map(_.getPath.getName)
          .filter(_.startsWith("bucket=")).map(_.stripPrefix("bucket=").toLong).max + 1
      }
    val buckets = terms.toDF("term")
      .select(pmod(TextAnalysis.hash31(col("term")), lit(nBuckets)).as("b"))
      .as[Long].collect().distinct.toSeq
    val p = spark.read.parquet(s"$path/postings")
      .filter(col("bucket").isInCollection(buckets) && col("term").isin(terms: _*))
    val idf = log(lit(1.0) + (col("n_docs").cast("double") - col("df") + 0.5) / (col("df") + 0.5))
    val norm = col("tf") + lit(k1) * (lit(1.0) - b + lit(b) * col("dl") / col("avgdl"))
    val scored = p.crossJoin(broadcast(meta))
      .groupBy("doc_id")
      .agg(sum(idf * col("tf") * (k1 + 1) / norm).as("__s"))
    val rounded = scored.withColumn("score", floor(col("__s") * 1e4 + 0.5) / 1e4)
    val top = rounded.orderBy(col("score").desc, col("doc_id")).limit(k)
    val w = Window.orderBy(col("score").desc, col("doc_id"))
    top.withColumn("rank", row_number().over(w).cast("long"))
      .select(col("doc_id"), col("rank"), col("score"))
  }
}
