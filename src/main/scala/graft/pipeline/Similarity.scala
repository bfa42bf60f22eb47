package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (ARRAY<FLOAT>).
  *
  * All arithmetic is double-precision with a fixed left-to-right summation
  * order (`aggregate` HOF over `zip_with` products), so results are
  * bit-reproducible across engines that fold the same way.
  *
  * Scale notes (100 TB): brute-force top-k broadcasts the (small) query
  * set and computes per-partition local top-k before the final merge —
  * one narrow pass over the corpus, no corpus shuffle. The IVF variant
  * assigns each vector to a hyperplane-sign bucket; probing `nprobe`
  * buckets prunes the corpus scan to matching partitions (bucket column =
  * partition key on a real table). nprobe = all buckets ⇒ exact.
  */
object Similarity {

  /** Query batches up to this size are served with driver-side probe/LUT
    * arithmetic (the serving fast path: one bounded `head` job, then pure
    * metadata math — no extra Spark job per serve). Batches above it MUST
    * route through the distributed probe/LUT builders: a corpus-sized
    * "query" frame (ANN-based semantic dedup, corpus vs itself) would
    * otherwise collect every query embedding onto the driver.
    * `overrideLimit >= 0` wins (0 forces the distributed route); -1 reads
    * `spark.graft.ann.maxDriverBatch` (default 10000).
    */
  private[pipeline] def driverBatchLimit(spark: org.apache.spark.sql.SparkSession,
      overrideLimit: Int): Int =
    if (overrideLimit >= 0) overrideLimit
    else spark.conf.get("spark.graft.ann.maxDriverBatch", "10000").toInt

  /** The parsed `(vec_id, v)` query rows IF the batch is within `limit`
    * (the same bounded `head(limit + 1)` that checks the size also yields
    * the rows — no second job), else None: the caller must use the
    * distributed path. PipelineSpec pins both routes to identical results.
    */
  private[pipeline] def boundedBatch(queries: DataFrame,
      limit: Int): Option[Seq[org.apache.spark.sql.Row]] = {
    val rows = Clustering.parsed(queries).head(limit + 1).toSeq
    if (rows.length <= limit) Some(rows) else None
  }

  /** Double-cast embedding. */
  private def vec(c: Column): Column = c.cast("array<double>")

  private def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  /** Fused codegen'd kernel (bit-identical to the HOF composition —
    * same left-to-right summation; see graft.functions.CosineSimilarity).
    */
  def cosine(a: Column, b: Column): Column =
    graft.functions.CosineSimilarity(a, b)

  /** Shared top-k tail: rank <= k with the (cos desc, vec_id) tie-break
    * and 1e-6 floor rounding. Spark's WindowGroupLimit prunes each
    * partition to the top-k BEFORE the q_id shuffle (PlanSpec asserts it),
    * so this never moves the full scored set per query.
    */
  private[pipeline] def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("vec_id"), col("rank").cast("long").as("rank"),
        (floor((col("cos")) * 1e6 + 0.5) / 1e6).as("cos"))
  }

  /** Exact brute-force top-k cosine neighbors for each query vector.
    * Output: (q_id, vec_id, rank, cos round 6), ties broken by vec_id.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val c = corpus.select(col("vec_id"), vec(col("embedding")).as("v"))
    val q = queries.select(col("vec_id").as("q_id"), vec(col("embedding")).as("qv"))
    rankTopK(c.join(broadcast(q), col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id"), cosine(col("qv"), col("v")).as("cos")), k)
  }

  /** Reciprocal (mutual) nearest-neighbor pairs: (a, b) where b is a's
    * top-1 cosine neighbor AND a is b's — the margin-free filter used for
    * bitext/translation mining and high-precision near-dup discovery
    * (mutuality is a much stronger signal than a one-sided threshold).
    *
    * Scale shape: the top-1 pass here is the exact all-pairs scan, one
    * self-join feeding a partial+final max-of-struct AGGREGATE (not a
    * window): each partition collapses to one candidate per a_id before
    * the shuffle, so only n rows move instead of the n² scored pairs. At
    * corpus scale swap that pass for [[mutualNnIdx]] (the gated
    * index-backed route) — the mutuality join after it is unchanged and
    * cheap (n rows equi-joined with n rows on both endpoints).
    * Output: (vec_a, vec_b, cos round 6), vec_a < vec_b, one row per
    * mutual pair.
    */
  def mutualNn(corpus: DataFrame): DataFrame = {
    val c = corpus.select(col("vec_id"), vec(col("embedding")).as("v"))
    // Top-1 per a_id as a partial+final max-of-struct aggregate, NOT a
    // window: the partial aggregate collapses every partition to one
    // candidate per a_id before the shuffle, so only n rows move instead
    // of the n² scored pairs (measured 11.3 → 3.6 s at sf0.1; the struct
    // buffer plans as SortAggregate, whose per-partition sort on the
    // narrow (a_id, b_id, cos) rows is still far cheaper than exchanging
    // and ranking the full pair set). The (cos desc, b_id asc) tie-break
    // rides the struct's lexicographic order via the negated id.
    val nn = c.as("a").join(c.as("b"), col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"),
        cosine(col("a.v"), col("b.v")).as("cos"))
      .groupBy(col("a_id"))
      .agg(max(struct(col("cos"), (-col("b_id")).as("nb"))).as("m"))
      .select(col("a_id"), (-col("m.nb")).as("b_id"), col("m.cos").as("cos"))
    nn.as("x").join(nn.as("y"),
        col("x.a_id") === col("y.b_id") && col("x.b_id") === col("y.a_id") &&
          col("x.a_id") < col("x.b_id"))
      .select(col("x.a_id").as("vec_a"), col("x.b_id").as("vec_b"),
        (floor((col("x.cos")) * 1e6 + 0.5) / 1e6).as("cos"))
  }

  /** Mutual nearest neighbors with the top-1 pass routed through the
    * binary-signature index ([[hammingTopK]] k = 1: 16-byte Hamming
    * candidate scan, exact cosine rerank of the top `candMult`
    * candidates) instead of [[mutualNn]]'s exact all-pairs cosine scan —
    * the corpus-scale form. The mutuality join after the top-1 pass is
    * identical to [[mutualNn]]'s (n rows equi-joined on both endpoints).
    *
    * The ALGORITHM is the contract (like [[hammingTopK]]): an oracle must
    * replay the same integer Hamming candidate ranking and exact rerank,
    * not brute force — with `candMult` spanning the corpus the result
    * equals [[mutualNn]] exactly (PipelineSpec pins it).
    *
    * Scale shape (100 TB): the per-compare cost drops 32× (two XOR+
    * popcounts on packed bits vs a 64-dim float kernel) and only
    * `candMult` survivors per vector load their float vectors for the
    * rerank. This overload broadcasts the query-side signatures (fine up
    * to ~10M vectors × 24 B); beyond that, build the signatures once and
    * band them into an equi-join (the [[cosinePairsLsh]] shape) or probe
    * the at-rest [[IvfIndex]] — the mutuality tail is unchanged either way.
    *
    * `candMult = 64` default: mutual-top-1 is the hardest ANN recall
    * target (BOTH endpoints must survive pruning, and on near-uniform
    * embeddings the top-1 margin is tiny), so the rerank budget is sized
    * up from [[hammingTopK]]'s serving default — still a constant per
    * query, i.e. a vanishing corpus fraction at scale (PipelineSpec pins
    * ≥ 0.8 pair recall on the worst-case synthetic embeddings; real
    * near-dup corpora with fat top-1 margins sit far higher).
    * Output: (vec_a, vec_b, cos round 6), vec_a < vec_b.
    */
  def mutualNnIdx(corpus: DataFrame, candMult: Int = 64, dim: Int = 64): DataFrame = {
    // deliberately NOT cached (r17, measured): the mutuality self-join
    // reads the top-1 frame on both endpoints, but both sides share the
    // candidate stage's q_id exchange (ReuseExchange dedups the n²
    // Hamming scan at runtime) and only the node-sized window+rerank tail
    // re-runs — caching the frame forced an InMemoryRelation
    // materialization that read SLOWER solo-cold (8.9 vs 7.1 s median of
    // 3 at sf0.1)
    val nn = hammingTopK(corpus, corpus, 1, candMult, dim)
      .select(col("q_id").as("a_id"), col("vec_id").as("b_id"), col("cos"))
    nn.as("x").join(nn.as("y"),
        col("x.a_id") === col("y.b_id") && col("x.b_id") === col("y.a_id") &&
          col("x.a_id") < col("x.b_id"))
      .select(col("x.a_id").as("vec_a"), col("x.b_id").as("vec_b"),
        col("x.cos").as("cos"))
  }

  /** Retrieval-quality evaluation against labeled relevance:
    * precision@k, recall@k and NDCG@k per query, with rel(q, v) = 1 iff
    * the corpus labels match — the eval harness for any of the ANN
    * serving paths (swap the exact scoring pass for the index under test
    * and re-run; the metric tail is identical).
    *
    * Scale shape: queries broadcast against the corpus scan (the same
    * shape as [[bruteForceTopK]]), WindowGroupLimit prunes to k map-side,
    * and everything after the top-k is query-sized. IDCG is the
    * closed-form ideal prefix Σ 1/log2(i+1) over min(n_rel, k) slots,
    * computed as a HOF fold so the oracle can replay the identical
    * left-to-right summation.
    *
    * Output: (q_id, n_rel, p_at_k, r_at_k, ndcg), doubles rounded 1e-4.
    */
  def retrievalEval(corpus: DataFrame, nQueries: Int, k: Int): DataFrame = {
    val c = corpus.select(col("vec_id"), vec(col("embedding")).as("v"), col("label"))
    val q = c.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("label").as("q_label"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id"))
    val top = c.join(broadcast(q), col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("q_label"), col("vec_id"), col("label"),
        cosine(col("qv"), col("v")).as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .withColumn("rel", (col("label") === col("q_label")).cast("double"))
    val relTotals = c.join(broadcast(q),
        col("q_label") === col("label") && col("q_id") =!= col("vec_id"))
      .groupBy("q_id").agg(count(lit(1)).as("n_rel"))
    val idcg = aggregate(
      sequence(lit(1L), least(col("n_rel"), lit(k.toLong))), lit(0.0),
      (acc, i) => acc + lit(1.0) / log2(i.cast("double") + 1))
    top.groupBy("q_id")
      .agg(sum(col("rel")).as("hits"),
        sum(col("rel") / log2(col("rank").cast("double") + 1)).as("dcg"))
      .join(broadcast(relTotals), "q_id")
      .select(col("q_id"), col("n_rel"),
        (floor(col("hits") / k.toDouble * 1e4 + 0.5) / 1e4).as("p_at_k"),
        (floor(col("hits") / col("n_rel") * 1e4 + 0.5) / 1e4).as("r_at_k"),
        (floor(col("dcg") / idcg * 1e4 + 0.5) / 1e4).as("ndcg"))
  }

  /** Matryoshka truncation eval: recall@k of brute-force retrieval in the
    * first-`dims` prefix subspace against full-dimension retrieval — the
    * acceptance check before serving MRL-style truncated embeddings (store
    * 4× fewer floats if prefix recall holds). Output per query:
    * (q_id, n_hit, recall), recall = |prefix top-k ∩ full top-k| / k.
    *
    * Shape: two broadcast-query scans (one over the prefix slice — a
    * narrow projection riding the same vector read — one full), each
    * map-side pruned by the top-k window, then a k-row-per-query
    * intersection join. Never more than n·|queries| scored rows, and the
    * prefix pass reads no extra bytes (`slice` on the in-memory array).
    */
  def matryoshkaEval(corpus: DataFrame, nQueries: Int, k: Int, dims: Int): DataFrame = {
    val trunc = corpus.withColumn("embedding", slice(col("embedding"), 1, dims))
    val full = bruteForceTopK(corpus, corpus.filter(col("vec_id") < nQueries), k)
      .select(col("q_id"), col("vec_id"))
    val pre = bruteForceTopK(trunc, trunc.filter(col("vec_id") < nQueries), k)
      .select(col("q_id"), col("vec_id"))
    val hits = pre.join(full, Seq("q_id", "vec_id")).groupBy("q_id")
      .agg(count(lit(1)).as("n_hit"))
    full.select("q_id").distinct()
      .join(hits, Seq("q_id"), "left")
      .select(col("q_id"), coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        (floor(coalesce(col("n_hit"), lit(0L)) / k.toDouble * 1e4 + 0.5) / 1e4).as("recall"))
  }

  /** Deterministic pseudo-random hyperplanes (no RNG dependency: public
    * Knuth multiplicative-hash constants).
    */
  private def hyperplane(j: Int, dim: Int): Seq[Double] =
    (0 until dim).map(d => (((j * dim + d) * 2654435761L) % 1999L).toDouble / 1999.0 - 0.5)

  /** Bucket id = sign bits of projections onto `nPlanes` fixed hyperplanes
    * (2^nPlanes buckets). Also carries the raw projections (`projs`) —
    * multiprobe ranking needs the sign-bit margins.
    */
  def bucketed(corpus: DataFrame, nPlanes: Int = 4, dim: Int = 64): DataFrame = {
    val v = vec(col("embedding"))
    val projs = array((0 until nPlanes).map { j =>
      dot(v, array(hyperplane(j, dim).map(lit): _*))
    }: _*)
    corpus.select(col("vec_id"), v.as("v"), projs.as("projs"))
      .withColumn("bucket",
        (0 until nPlanes).map(j =>
          when(element_at(col("projs"), j + 1) > 0, 1 << j).otherwise(0)).reduce(_ + _))
  }

  /** IVF/LSH-bucketed top-k with MULTIPROBE ranking: per query, probe the
    * `nprobe` buckets with the smallest summed |projection margin| over the
    * sign bits they flip — a true neighbor most likely disagrees on exactly
    * the bits where the query's projection is near zero (classic multiprobe
    * LSH), which beats Hamming-distance ranking by a wide margin. Exact
    * cosine within the probed subset. With nprobe = 2^nPlanes this equals
    * brute force (the oracle-checked mode); smaller nprobe trades recall
    * for a pruned scan.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      nPlanes: Int = 4, nprobe: Int = 16, dim: Int = 64): DataFrame = {
    val nBuckets = 1 << nPlanes
    val c = bucketed(corpus, nPlanes, dim).drop("projs")
    val q = bucketed(queries, nPlanes, dim)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("projs").as("qprojs"), col("bucket").as("qbucket"))
    // probe set: nprobe buckets ranked by flipped-bit margin sum (0 for the
    // query's own bucket, so it always ranks first)
    val score = (b: Column) => aggregate(sequence(lit(0), lit(nPlanes - 1)), lit(0.0),
      (acc, j) => acc + when(
        call_function("shiftright", b.bitwiseXOR(col("qbucket")), j).bitwiseAND(lit(1)) === 1,
        abs(element_at(col("qprojs"), j + 1))).otherwise(0.0))
    val probes = q.select(col("q_id"), col("qv"), explode(
      slice(
        array_sort(transform(sequence(lit(0), lit(nBuckets - 1)), b =>
          struct(score(b).as("d"), b.as("b")))),
        1, nprobe).getField("b")).as("bucket"))
    rankTopK(c.join(broadcast(probes), Seq("bucket"))
      .filter(col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id"), cosine(col("qv"), col("v")).as("cos")), k)
  }

  /** FAISS-style IVF: a k-means coarse quantizer (data-dependent Voronoi
    * cells, [[Clustering.fitCentroids]]) instead of fixed hyperplane sign
    * bits. The corpus is assigned once (narrow pass; at rest this is the
    * partition key of the index table); each query probes its `nprobe`
    * nearest cells by centroid distance, then exact cosine within the
    * probed subset. nprobe = nCells ⇒ exact (the oracle-checked mode);
    * data-dependent cells beat fixed hyperplanes when the corpus is
    * clustered — on uniform data both degrade to scan-fraction recall.
    */
  def kmeansIvfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      nCells: Int = 16, iters: Int = 3, nprobe: Int = 16,
      centroids: Option[Array[Seq[Double]]] = None): DataFrame = {
    // serving reuses a fitted quantizer; fitting per call is the
    // convenience path for one-shot jobs
    val cs = centroids.getOrElse(Clustering.fitCentroids(corpus, nCells, iters))
    val c = corpus.select(col("vec_id"), vec(col("embedding")).as("v"))
      .withColumn("bucket", Clustering.assignment(cs).getField("c"))
    val qs = queries.select(col("vec_id").as("q_id"), vec(col("embedding")).as("qv"))
    rankTopK(c.join(broadcast(cellProbes(qs, cs, nprobe)), Seq("bucket"))
      .filter(col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id"), cosine(col("qv"), col("v")).as("cos")), k)
  }

  /** `(q_id, qv, bucket)` probe rows: each query's `nprobe` nearest
    * quantizer cells by centroid distance, ties → lower cell id (the exact
    * ordering the at-rest-index DuckDB oracle mirrors). Shared by the
    * in-memory [[kmeansIvfTopK]] and the at-rest [[IvfIndex]].
    */
  private[pipeline] def cellProbes(qs: DataFrame, cs: Array[Seq[Double]],
      nprobe: Int): DataFrame =
    qs.select(col("q_id"), col("qv"), explode(
      slice(
        array_sort(array(cs.zipWithIndex.map { case (cent, i) =>
          struct(Clustering.assignment(Array(cent), col("qv")).getField("d").as("d"),
            lit(i).as("b"))
        }: _*)),
        1, nprobe).getField("b")).as("bucket"))

  /** Embedding-cosine near-duplicate pairs (threshold on cosine), EXACT.
    *
    * Exact all-pairs at a low threshold is inherently Θ(n²) compares (the
    * answer set itself can be quadratic), but the *plan* need not be a
    * broadcast nested-loop join: [[Blocking.allPairs]] turns it into an
    * evenly-balanced equi-join on a triangle-block task id.
    *
    * For sub-quadratic candidate generation at scale use
    * [[cosinePairsLsh]] — at realistic near-dup thresholds (>= ~0.8) its
    * recall is ~1; at low thresholds only the exact path is faithful.
    */
  def cosinePairs(corpus: DataFrame, threshold: Double, groups: Int = 8): DataFrame =
    Blocking.allPairs(
        corpus.select(col("vec_id"), vec(col("embedding")).as("v")), "vec_id", groups)
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        cosine(col("a.v"), col("b.v")).as("cos"))
      .filter(col("cos") >= threshold)
      .select(col("vec_a"), col("vec_b"), (floor((col("cos")) * 1e6 + 0.5) / 1e6).as("cos"))

  /** Sign-bit LSH near-dup pairs — the sub-quadratic 100 TB path.
    *
    * `nPlanes` deterministic hyperplane sign bits per vector, split into
    * bands of `bandBits`; candidates = pairs agreeing bit-exactly on at
    * least one band (equi-join on (band, value)); each candidate is then
    * verified with the exact cosine kernel, so precision is 1. Recall for
    * a pair at angle θ is `1 - (1 - (1-θ/π)^bandBits)^(nPlanes/bandBits)`
    * (≈1 at cosine >= 0.8 with the defaults; the algorithm, not
    * brute-force equivalence, is the documented contract — mirror it in
    * any oracle).
    */
  def cosinePairsLsh(corpus: DataFrame, threshold: Double,
      nPlanes: Int = 16, bandBits: Int = 4, dim: Int = 64): DataFrame = {
    require(nPlanes % bandBits == 0, "nPlanes must divide into whole bands")
    val nBands = nPlanes / bandBits
    val c = corpus.select(col("vec_id"), vec(col("embedding")).as("v"))
    val sig = (0 until nPlanes).map { j =>
      val plane = array(hyperplane(j, dim).map(lit): _*)
      when(dot(col("v"), plane) > 0, 1L << j).otherwise(0L)
    }.reduce(_ + _)
    // materialize the signature once; banding from col("sig") keeps the
    // nPlanes dot products from being re-expanded per band
    val banded = c.withColumn("sig", sig).select(col("vec_id"), col("v"),
      posexplode(array((0 until nBands).map { b =>
        shiftright(col("sig"), b * bandBits).bitwiseAND(lit((1L << bandBits) - 1))
      }: _*)))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "bval"))
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bval") === col("b.bval") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        cosine(col("a.v"), col("b.v")).as("cos"))
      .filter(col("cos") >= threshold)
      .select(col("vec_a"), col("vec_b"), (floor((col("cos")) * 1e6 + 0.5) / 1e6).as("cos"))
      .distinct()
  }

  /** Top-k cosine search over QUANTIZED codes (asymmetric: full-precision
    * query against reconstructed `qmin + code·qscale` corpus vectors) —
    * what a 100 TB corpus actually serves, with 4× less memory/IO per
    * vector. Same broadcast-query/narrow-corpus shape as
    * [[bruteForceTopK]]; recall vs exact is bounded by the quantization
    * error (PipelineSpec pins ≥ 0.9 on the test embeddings).
    */
  def quantizedTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val c = quantize(corpus).select(col("vec_id"),
      transform(col("codes"), x => col("qmin") + x.cast("double") * col("qscale")).as("v"))
    val q = queries.select(col("vec_id").as("q_id"), vec(col("embedding")).as("qv"))
    rankTopK(c.join(broadcast(q), col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id"), cosine(col("qv"), col("v")).as("cos")), k)
  }

  /** Packed sign-bit signature half: bit `d - lo` of the result is set iff
    * `v[d] > 0`, for `d` in `[lo, hi)`. Two 32-bit halves (rather than one
    * 64-bit word) keep bit 63 — the BIGINT sign bit — out of play, so a
    * replaying SQL engine never hits shift-overflow semantics.
    */
  private def signHalf(v: Column, lo: Int, hi: Int): Column =
    (lo until hi).map(d =>
      when(element_at(v, d + 1) > 0, lit(1L << (d - lo))).otherwise(lit(0L)))
      .reduce(_ + _)

  /** `(vec_id, v, sig_lo, sig_hi)`: the 1-bit-per-dimension binary
    * quantization of each embedding (sign of each coordinate), packed into
    * two BIGINT halves. 32× smaller than float32 storage — the form a
    * 100 TB corpus keeps resident for candidate generation.
    */
  def binarySig(corpus: DataFrame, dim: Int = 64): DataFrame =
    corpus.select(col("vec_id"), vec(col("embedding")).as("v"))
      .withColumn("sig_lo", signHalf(col("v"), 0, dim / 2))
      .withColumn("sig_hi", signHalf(col("v"), dim / 2, dim))

  /** Binary-quantization ANN: Hamming-distance candidate scan over the
    * packed sign bits, then EXACT cosine rerank of the top
    * `k * candMult` candidates — the modern vector-store serving pattern
    * (1-bit quantization + rescoring). Deterministic end to end: the
    * candidate stage ranks on the INTEGER Hamming distance with a vec_id
    * tie-break, the rerank is the shared [[rankTopK]] tail.
    *
    * Scale shape (100 TB): the scan that touches every corpus row reads
    * 16 bytes/vector (two BIGINTs) and does two XOR+popcounts — pure
    * codegen, no shuffle (queries broadcast); only the `k·candMult`
    * survivors per query load their float vectors for the exact rerank.
    * Both window stages prune per-partition via WindowGroupLimit before
    * the per-query shuffle. With `candMult` spanning the whole corpus the
    * result equals [[bruteForceTopK]] (PipelineSpec pins it); small
    * `candMult` trades recall for a 32× lighter scan.
    */
  def hammingTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      candMult: Int = 4, dim: Int = 64, maxDriverBatch: Int = -1): DataFrame = {
    val c = binarySig(corpus, dim)
    val q = binarySig(queries, dim)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("sig_lo").as("q_lo"), col("sig_hi").as("q_hi"))
    val cn = c.select(col("vec_id"), col("sig_lo"), col("sig_hi"))
    val ham = (lo: Column, hi: Column) =>
      bit_count(col("sig_lo").bitwiseXOR(lo)) + bit_count(col("sig_hi").bitwiseXOR(hi))
    // Two rules keep the scan at its 16-bytes-per-compare promise:
    //  1. the candidate stage stays NARROW — (q_id, vec_id, hamming)
    //     only. Dragging the 64-double vectors through the candidate
    //     window multiplies the bytes ~60× (multi-GB spill once the
    //     query side is corpus-sized); the float vectors are equi-joined
    //     back for just the k·candMult survivors, which is also how the
    //     at-rest form serves (codes resident, vectors on rerank).
    //  2. bounded query batches ride the plan as a LITERAL array of
    //     (q_id, lo, hi) — 24 B/query — exploded INSIDE whole-stage
    //     codegen. The non-equi broadcast join alternative plans as
    //     BroadcastNestedLoopJoin, whose row-at-a-time joined-row
    //     materialization costs ~16 µs/pair (measured 66 s vs 1.2 s for
    //     the same 4M pairs at sf0.1) — the join overhead, not the
    //     popcounts, dominates. Above the driver-batch limit the query
    //     frame is CHUNKED into ceil(n/limit) hash-groups, each riding
    //     the same literal-explode route (r10: the BNLJ fallback made
    //     corpus-as-queries kNN-graph builds quadratic in wall time the
    //     moment they crossed the limit — 20k self-queries at smoke
    //     scale never finished; chunking is nChunks clean scans, driver
    //     state still ≤ 24 B × limit per chunk, and every q_id's rows
    //     stay in one chunk so the candidate window is untouched).
    //     maxDriverBatch = 0 retains its contract — NO query data on the
    //     driver — via the broadcast BNLJ route. Honest accounting: the
    //     UNION plan retains every chunk's rows as Literals, so total
    //     plan/driver state for the chunked route is O(total queries) ×
    //     24 B — bounded by `spark.graft.ann.maxChunkedQueries` (default
    //     250k ≈ 6 MB + codegen overhead); past the cap the route falls
    //     back to the zero-driver-state BNLJ. Corpus-as-queries builds
    //     past the cap should use [[knnGraphBanded]] instead — the
    //     chunked route is ceil(n/limit) FULL corpus scans (Θ(n²/limit)
    //     when queries ≈ corpus): fine for eval builds, not a 100 TB
    //     kNN-graph path.
    def literalScan(rows: Seq[org.apache.spark.sql.Row]) = {
      val qlit = array(rows.map(r => struct(lit(r.getLong(0)).as("q_id"),
        lit(r.getLong(1)).as("q_lo"), lit(r.getLong(2)).as("q_hi"))): _*)
      cn.select(col("vec_id"), col("sig_lo"), col("sig_hi"), explode(qlit).as("q"))
        .filter(col("q.q_id") =!= col("vec_id"))
        .select(col("q.q_id").as("q_id"), col("vec_id"),
          ham(col("q.q_lo"), col("q.q_hi")).as("hamming"))
    }
    val limit = driverBatchLimit(corpus.sparkSession, maxDriverBatch)
    val cap = corpus.sparkSession.conf
      .get("spark.graft.ann.maxChunkedQueries", "250000").toInt
    val qs = q.select(col("q_id"), col("q_lo"), col("q_hi"))
    def bnljScan =
      cn.join(broadcast(qs), col("q_id") =!= col("vec_id"))
        .select(col("q_id"), col("vec_id"),
          ham(col("q_lo"), col("q_hi")).as("hamming"))
    // one head() collects up to cap+1 rows (≤ ~6 MB at the default cap)
    // and slices locally — no per-chunk recomputation of the signature
    // frame, exact limit-sized chunks regardless of id hash skew. Chunk
    // composition cannot affect the result: each chunk scans the FULL
    // corpus for its queries, and the candidate window keys on q_id.
    val sigRows = if (limit > 0) qs.head(cap + 1).toSeq else Seq.empty
    // empty query frame: an empty typed frame with the scored schema —
    // literalScan(Seq.empty) would build array() (types as array<null>)
    // and fail analysis on col("q.q_id") instead of returning no rows
    def emptyScan =
      cn.limit(0).select(col("vec_id").as("q_id"), col("vec_id"),
        ham(col("sig_lo"), col("sig_hi")).as("hamming"))
    val scored =
      if (limit > 0 && sigRows.isEmpty) emptyScan
      else if (limit > 0 && sigRows.length <= cap)
        sigRows.grouped(limit).map(literalScan).reduce(_ unionAll _)
      else bnljScan
    val wCand = Window.partitionBy(col("q_id"))
      .orderBy(col("hamming"), col("vec_id"))
    val cand = scored.withColumn("crank", row_number().over(wCand))
      .filter(col("crank") <= k * candMult)
      .select(col("q_id"), col("vec_id"))
    rankTopK(cand
      .join(c.select(col("vec_id"), col("v")), Seq("vec_id"))
      .join(broadcast(q.select(col("q_id"), col("qv"))), Seq("q_id"))
      .select(col("q_id"), col("vec_id"),
        cosine(col("qv"), col("v")).as("cos")), k)
  }

  /** Sub-quadratic kNN-graph construction: Hamming pigeonhole BANDS
    * generate candidates by equi-join, then the exact Hamming ranking +
    * cosine rerank tail shared with [[hammingTopK]]. This is THE
    * corpus-as-queries route at scale — [[hammingTopK]] with queries =
    * corpus is Θ(n²/limit) sequential full-corpus literal scans past the
    * driver-batch limit, while this route touches only signature-band
    * collisions.
    *
    * Algorithm (deterministic, SQL-replayable — the banding IS the
    * contract, same stance as the LSH dedup gates):
    *  1. [[binarySig]] sign bits, packed in two BIGINT halves;
    *  2. split the `dim` bits into `bands` equal slices; explode each
    *     vector to its (band_idx, band_value) keys;
    *  3. candidates = pairs colliding on ≥1 band (equi-join on the key,
    *     distinct, mirrored to both directions) — by pigeonhole this
    *     catches EVERY pair within Hamming distance `bands - 1`, and with
    *     probability rising steeply below `dim/bands` bits;
    *  4. rank candidates per query by exact integer Hamming (vec_id
    *     tie-break), keep k·candMult, exact-cosine rerank (shared
    *     [[rankTopK]] tail: rank ≤ k, cos floor-rounded 1e-6).
    *
    * Scale shape (100 TB): no full pairwise scan anywhere — the band
    * self-join costs Σ_bucket |bucket|², so band WIDTH is the knob: at
    * n vectors choose `bands` so dim/bands ≳ log2(n) (wider bands →
    * smaller buckets → fewer, higher-precision candidates, lower recall).
    * `bands = 0` (the r12 default) AUTO-SIZES from `corpus.count()` by
    * that rule — one count job, then the smallest power-of-two band
    * width ≥ log2(n) (clamped to [4, dim/2]) — so a caller who doesn't
    * know n cannot ship the 8-band hand-tune to a 10⁹-row corpus where
    * buckets grow linearly in n and candidates quadratically per bucket.
    * Recall vs the exact route is pinned in PipelineSpec; SCALE.md
    * records the growth curve vs the chunked exact route and the
    * clustered-data guard curve.
    *
    * Skew guard: clustered or adversarial (clone-heavy) data can
    * concentrate one band value regardless of width, going quietly
    * quadratic. Before the self-join, bucket sizes are counted and any
    * bucket over `spark.graft.ann.maxBandBucket` (default 65536 —
    * ~4×10⁹ candidate pairs from one bucket) raises loudly with the
    * remediation (wider bands / dedup the clones first). Set
    * `spark.graft.ann.dropOversizedBuckets=true` to instead DROP those
    * buckets with a stderr warning — explicit opt-in because a dropped
    * bucket loses all edges between its members.
    *
    * Output: (q_id, vec_id, rank, cos round 6) — only queries with ≥1
    * collision appear (isolated vectors have no edges, the kNN-graph
    * semantics).
    */
  def knnGraphBanded(corpus: DataFrame, k: Int, bands: Int = 0,
      candMult: Int = 4, dim: Int = 64): DataFrame = {
    val half = dim / 2
    val nBands = if (bands != 0) bands else {
      val n = math.max(corpus.count(), 2L)
      val lg = 64 - java.lang.Long.numberOfLeadingZeros(n - 1) // ceil(log2 n)
      var w0 = 4
      while (w0 < lg && w0 < half) w0 *= 2 // smallest pow2 width ≥ log2(n)
      math.max(dim / w0, 2)
    }
    val w = dim / nBands
    require(nBands >= 2 && dim % nBands == 0 && half % w == 0,
      s"bands must divide dim with band width dividing the $half-bit halves")
    val sig = binarySig(corpus, dim)
    val mask = lit((1L << w) - 1L)
    def bandVal(i: Int): Column =
      if (i * w < half) shiftright(col("sig_lo"), i * w).bitwiseAND(mask)
      else shiftright(col("sig_hi"), i * w - half).bitwiseAND(mask)
    val keyed = sig.select(col("vec_id"), col("sig_lo"), col("sig_hi"),
      posexplode(array((0 until nBands).map(bandVal): _*)).as(Seq("band", "bval")))
    // skew pre-flight (scaladoc): a single partial-aggregated count pass
    // over the band keys — trivial next to the Σ bucket² self-join it
    // protects, and the only way a clone-heavy corpus fails LOUDLY
    // instead of hanging in a quadratic bucket.
    val spark = corpus.sparkSession
    val capB = spark.conf.get("spark.graft.ann.maxBandBucket", "65536").toLong
    val dropBig = spark.conf
      .get("spark.graft.ann.dropOversizedBuckets", "false").toBoolean
    val bucketCounts = keyed.groupBy(col("band"), col("bval")).count()
    val big = bucketCounts.filter(col("count") > capB)
      .orderBy(col("count").desc).limit(5).collect()
    val guarded = if (big.isEmpty) keyed else {
      val msg = big.map(r => s"band=${r.get(0)} bval=${r.get(1)} size=${r.get(2)}")
        .mkString("; ")
      if (!dropBig) throw new IllegalStateException(
        s"knnGraphBanded: band buckets over spark.graft.ann.maxBandBucket=$capB " +
          s"($msg) — the self-join would go quadratic in the bucket. Use wider " +
          "bands (fewer, e.g. bands=0 auto-sizing), dedup near-identical vectors " +
          "first, or opt in to spark.graft.ann.dropOversizedBuckets=true.")
      System.err.println(s"[knnGraphBanded] DROPPING oversized band buckets " +
        s"(> $capB): $msg — edges between their members are lost")
      keyed.join(broadcast(bucketCounts.filter(col("count") > capB)
        .select(col("band"), col("bval"))), Seq("band", "bval"), "left_anti")
    }
    val a = guarded.select(col("vec_id").as("a_id"), col("band"), col("bval"))
    val b = guarded.select(col("vec_id").as("b_id"), col("band"), col("bval"))
    // Join-strategy note (r12): the signature/vector sides (n rows ×
    // ~24 B) broadcast when n is genuinely small and shuffle when it
    // isn't — that decision belongs to Catalyst/AQE, which sees REAL
    // sizes from real sources; the candidate frame must never broadcast
    // (Σ bucket² rows). That holds automatically for parquet corpora.
    // A caller feeding a SYNTHETIC/range-derived corpus must materialize
    // it first (localCheckpoint/persist): static estimates of a literal
    // projection read ~0 bytes, and Catalyst then broadcasts the
    // candidate frame itself — measured as an 8 GiB-driver OOM in the
    // ScaleBench `knn_graph_banded_clustered` fixture before it was
    // materialized. (A
    // blanket shuffle_hash pin was tried and rejected: it forces three
    // shuffles of the candidate volume that the broadcast plan never
    // pays — 43→131 s vs 23→31 s on the uniform smoke curve.)
    // undirected distinct collision pairs, then mirrored: half the dedup
    // work of a directed self-join, same candidate set per query
    val undirected = a.join(b, Seq("band", "bval"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id")).distinct()
    val cand = undirected.select(col("a_id").as("q_id"), col("b_id").as("vec_id"))
      .unionAll(undirected.select(col("b_id").as("q_id"), col("a_id").as("vec_id")))
    val cs = sig.select(col("vec_id"), col("sig_lo"), col("sig_hi"))
    val scored = cand
      .join(cs.select(col("vec_id").as("q_id"), col("sig_lo").as("q_lo"),
        col("sig_hi").as("q_hi")), Seq("q_id"))
      .join(cs, Seq("vec_id"))
      .select(col("q_id"), col("vec_id"),
        (bit_count(col("sig_lo").bitwiseXOR(col("q_lo"))) +
          bit_count(col("sig_hi").bitwiseXOR(col("q_hi")))).as("hamming"))
    val wCand = Window.partitionBy(col("q_id"))
      .orderBy(col("hamming"), col("vec_id"))
    val top = scored.withColumn("crank", row_number().over(wCand))
      .filter(col("crank") <= k * candMult)
      .select(col("q_id"), col("vec_id"))
    val v = sig.select(col("vec_id"), col("v"))
    rankTopK(top
      .join(v, Seq("vec_id"))
      .join(v.select(col("vec_id").as("q_id"), col("v").as("qv")), Seq("q_id"))
      .select(col("q_id"), col("vec_id"),
        cosine(col("qv"), col("v")).as("cos")), k)
  }

  /** Hard-negative mining for contrastive training: per query, the top-k
    * most-similar corpus vectors with a DIFFERENT label (the query's
    * positives and itself excluded) — the standard in-batch-negatives
    * upgrade (mine the near-misses the model must learn to separate).
    * Same broadcast-query/narrow-corpus scan as [[bruteForceTopK]]; the
    * label predicate rides the scan, so nothing label-equal ever reaches
    * the top-k window. Output: (q_id, vec_id, rank, cos round 6).
    */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val c = corpus.select(col("vec_id"), col("label"), vec(col("embedding")).as("v"))
    val q = queries.select(col("vec_id").as("q_id"), col("label").as("q_label"),
      vec(col("embedding")).as("qv"))
    rankTopK(c.join(broadcast(q),
        col("q_id") =!= col("vec_id") && col("label") =!= col("q_label"))
      .select(col("q_id"), col("vec_id"), cosine(col("qv"), col("v")).as("cos")), k)
  }

  /** Scalar int8 quantization: per-vector affine codes
    * `code[i] = floor((v[i] - min) / scale + 0.5)` with
    * `scale = (max - min) / 255` (constant vectors get scale 1 → all-zero
    * codes), plus the L2 reconstruction error. 4× smaller embedding
    * storage for ANN at scale; pure narrow per-row arithmetic, and every
    * op (floor-based rounding, left-to-right error fold, explicit
    * squaring) is chosen to be bit-reproducible in any SQL engine.
    */
  def quantize(emb: DataFrame): DataFrame = {
    val v = col("__v")
    val mn = col("__mn")
    val sc = col("__sc")
    val codes = col("codes")
    val recon = (i: Column) => mn + element_at(codes, i).cast("double") * sc
    val diff = (i: Column) => element_at(v, i) - recon(i)
    emb
      .withColumn("__v", vec(col("embedding")))
      .withColumn("__mn", array_min(col("__v")))
      .withColumn("__mx", array_max(col("__v")))
      .withColumn("__sc",
        when(col("__mx") === col("__mn"), lit(1.0))
          .otherwise((col("__mx") - col("__mn")) / 255.0))
      .withColumn("codes", transform(v, x => floor((x - mn) / sc + 0.5).cast("int")))
      .select(
        col("vec_id"),
        (floor(mn * 1e6 + 0.5) / 1e6).as("qmin"),
        (floor(sc * 1e6 + 0.5) / 1e6).as("qscale"),
        codes,
        // guard: sequence(1, 0) would DESCEND for an empty vector and the
        // lambda would index past the array under ANSI
        when(size(v) === 0, lit(0.0))
          .otherwise(floor(sqrt(aggregate(sequence(lit(1), size(v)), lit(0.0),
            (acc, i) => acc + diff(i) * diff(i))) * 1e6 + 0.5) / 1e6).as("recon_err"))
  }
}
