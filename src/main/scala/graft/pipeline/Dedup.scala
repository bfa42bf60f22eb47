package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines:
  * exact, n-gram Jaccard (brute force), MinHash+LSH (scale path), SimHash.
  *
  * All similarity outputs are *verified* pairs: LSH/banding only generates
  * candidates; the emitted pair set is filtered by exact Jaccard, so the
  * result is well-defined independent of hashing internals (and
  * oracle-checkable by brute force).
  *
  * Scale notes (100 TB): exact dedup is one hash-shuffle on a 16-byte
  * digest, not the document body; MinHash banding turns the O(n²) pair
  * space into per-bucket joins (shuffle key = band hash); verification
  * joins shingle sets only for candidate pairs. SimHash packs to one
  * BIGINT — band by prefix for candidate generation at scale.
  */
object Dedup {

  import TextAnalysis.hash31

  /** Exact dedup on normalized text (lowercase, collapsed whitespace):
    * keeper = min doc_id per digest group.
    */
  def exact(docs: DataFrame): DataFrame = {
    val norm = regexp_replace(trim(lower(col("text"))), "\\s+", " ")
    docs.select(col("doc_id"), md5(norm).as("digest"))
      .groupBy("digest")
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
  }

  /** Cross-document n-gram SPAN dedup stats — the exact-substring dedup
    * signal of training-data curation (hash-approximated: a rolling
    * n-token window per position, flagged when its digest occurs in ≥ 2
    * distinct documents). Spans count per INSTANCE, not distinct — a doc
    * repeating a cross-doc span twice has both instances flagged.
    * Output: (doc_id, n_spans, n_dup_spans, dup_span_frac round 4); docs
    * shorter than n tokens report 0 / 0.0.
    *
    * Scale (100 TB): the explode emits (digest, doc_id) — after hashing,
    * no text moves; the digest dictionary aggregates distinct-doc counts
    * by digest (vocabulary-sized) and joins back on the same key. One
    * shuffle family keyed on the digest, one on doc_id.
    */
  def spanDupStats(docs: DataFrame, n: Int = 8): DataFrame = {
    // shape notes: (a) the token array is materialized BEFORE any span
    // arithmetic — an inlined split() would re-tokenize the full text at
    // every element reference (the 41 s/sf0.1 pathology); (b) the span
    // START INDEX explodes first and the hash runs in a plain per-row
    // projection — higher-order-function lambdas stay interpreted, while
    // this shape keeps the hash inside whole-stage codegen (~3× cold /
    // ~1.5× warm over the transform() form at sf0.1); (c) the span key is
    // the fused 60-bit md5 prefix (graft.functions.Hash60), not the hex
    // string — the digest shuffle carries 8-byte longs instead of
    // 32-char strings (the dominant shuffle of this operator at 100 TB),
    // and the contract is hash-approximated either way (the oracle
    // groups on the same 60-bit value)
    val w = col("__w")
    val sp = docs
      .select(col("doc_id"), TextAnalysis.words(col("text")).as("__w"))
      .filter(size(w) >= n)
      .select(col("doc_id"), w, explode(sequence(lit(0), size(w) - n)).as("__i"))
      .select(col("doc_id"),
        TextAnalysis.hash60(concat_ws(" ", (0 until n).map(j =>
          element_at(w, col("__i") + j + 1)): _*)).as("dg"))
    // ONE evaluation of the span-hash explode (r17): the old
    // dict-then-join shape shuffled sp on dg twice through two DIFFERENT
    // exchanges (partial-aggregated dict rows vs raw span rows), so the
    // per-position concat+md5 ran twice per document. Pre-aggregating to
    // (dg, doc_id) instance counts first consumes sp once, the
    // distinct-doc count per digest is a window over that (already
    // dg-partitioned, deduped) frame — integer-identical to the
    // count_distinct + join-back, with fewer shuffled bytes (deduped
    // pairs instead of raw span instances on the dg exchange).
    val spg = sp.groupBy("dg", "doc_id").agg(count(lit(1)).as("__c"))
    val wDg = org.apache.spark.sql.expressions.Window.partitionBy(col("dg"))
    val st = spg
      .withColumn("__nd", count(lit(1)).over(wDg))
      .groupBy("doc_id")
      .agg(sum(col("__c")).as("n_spans"),
        sum(when(col("__nd") >= 2, col("__c")).otherwise(0L)).as("n_dup_spans"))
    docs.select("doc_id").join(st, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        (floor(when(coalesce(col("n_spans"), lit(0L)) === 0, lit(0.0))
          .otherwise(col("n_dup_spans") / col("n_spans")) * 1e4 + 0.5) / 1e4)
          .as("dup_span_frac"))
  }

  /** Shingle-hash sets per doc: (doc_id, hs ARRAY<LONG> sorted distinct). */
  private[graft] def shingleHashes(docs: DataFrame, n: Int): DataFrame =
    TextAnalysis.shingleSets(docs, n)

  private def jaccard(a: Column, b: Column): Column = {
    // sorted-merge intersect count (graft.functions.SortedIntersectSize):
    // the shingle sets are sorted distinct, so the count is
    // size(array_intersect) without the per-eval hash set + output array —
    // and the verify projection evaluates the intersection up to 4× per
    // pair once the threshold filter is pushed through the alias (r17)
    val inter = graft.functions.SortedIntersectSize(a, b).cast("double")
    inter / (size(a) + size(b) - graft.functions.SortedIntersectSize(a, b)).cast("double")
  }

  /** Exact n-gram Jaccard near-dup pairs with PPJoin-style prefix +
    * length filtering (both lossless):
    *  - prefix: J(A,B) >= t implies |A∩B| >= t·|A|, so A and B must share
    *    a hash within each one's `|X| - ceil(t·|X|) + 1` smallest hashes —
    *    candidate generation explodes only that prefix of the (sorted)
    *    sets, ~(1-t)² of the naive inverted index's join volume;
    *  - length: J >= t implies min(|A|,|B|) >= t·max(|A|,|B|) (since
    *    |A∩B| <= min and |A∪B| >= max), so set sizes ride along the
    *    exploded prefixes and prune mismatched-size candidates during the
    *    join probe, before the distinct/verify shuffle;
    *  - positional: a match at (sorted) positions i,j bounds the overlap
    *    by min(|A|-i, |B|-j), while J >= t needs |A∩B| >= t/(1+t)·(|A|+|B|)
    *    — candidates whose matching prefix element sits too late in either
    *    set are pruned in the same join probe.
    */
  def ngramJaccardPairs(docs: DataFrame, threshold: Double, n: Int = 3): DataFrame = {
    val sh = graft.core.Caches.corpus(shingleHashes(docs, n))
    val prefixLen = (size(col("hs")) - ceil(lit(threshold) * size(col("hs"))).cast("int") + 1)
    val ex = sh.select(col("doc_id"), size(col("hs")).as("sz"),
      posexplode(slice(col("hs"), lit(1), prefixLen)))
      .withColumnsRenamed(Map("pos" -> "i", "col" -> "h"))
    val overlapBound = least(col("a.sz") - col("a.i"), col("b.sz") - col("b.i"))
    val requiredOverlap = lit(threshold / (1.0 + threshold)) * (col("a.sz") + col("b.sz"))
    val cand = ex.as("a").join(ex.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id") &&
          col("a.sz") * threshold <= col("b.sz") &&
          col("b.sz") * threshold <= col("a.sz") &&
          overlapBound.cast("double") >= requiredOverlap)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    verifyPairs(cand, sh, threshold)
  }

  /** Asymmetric CONTAINMENT near-dup pairs: |A∩B| / |A| ≥ `threshold`
    * for the shingle-sets with A the (size, doc_id)-smaller side — the
    * inclusion detector symmetric Jaccard misses by construction (a
    * benchmark question quoted inside a long document, a paragraph
    * lifted into a page: the union is large, the SMALL side is almost
    * entirely covered). The decontamination literature's containment
    * check, as a first-class pair miner.
    *
    * Candidate generation is the one-sided PPJoin prefix: if
    * |A∩B| ≥ t·|A| then one of A's first |A| − ⌈t·|A|⌉ + 1 sorted
    * shingles must appear in B (pigeonhole), so only the contained
    * side's prefix explodes against the container side's FULL shingle
    * explode (the span-dedup shape — hash-keyed equi-join, skew rides
    * the shingle-frequency distribution). Verification is the exact
    * intersection over the candidate pairs only. No symmetric length
    * band — a contained doc may be arbitrarily smaller, which is the
    * point. Output: (doc_inner, doc_outer, containment 1e-4-rounded).
    */
  def containmentPairs(docs: DataFrame, threshold: Double, n: Int = 3): DataFrame = {
    require(threshold > 0 && threshold <= 1, "threshold in (0, 1]")
    val sh = graft.core.Caches.corpus(shingleHashes(docs, n))
    val prefixLen = (size(col("hs")) - ceil(lit(threshold) * size(col("hs"))).cast("int") + 1)
    val pre = sh.select(col("doc_id"), size(col("hs")).as("sz"),
      explode(slice(col("hs"), lit(1), prefixLen)).as("h"))
    val full = sh.select(col("doc_id"), size(col("hs")).as("sz"),
      explode(col("hs")).as("h"))
    val cand = pre.as("a").join(full.as("b"),
        col("a.h") === col("b.h") &&
          struct(col("a.sz"), col("a.doc_id")) < struct(col("b.sz"), col("b.doc_id")))
      .select(col("a.doc_id").as("doc_inner"), col("b.doc_id").as("doc_outer"))
      .distinct()
    cand
      .join(sh.select(col("doc_id").as("doc_inner"), col("hs").as("hs_a"),
        size(col("hs")).as("sz_a")), "doc_inner")
      .join(sh.select(col("doc_id").as("doc_outer"), col("hs").as("hs_b")), "doc_outer")
      .select(col("doc_inner"), col("doc_outer"),
        (floor(graft.functions.SortedIntersectSize(col("hs_a"), col("hs_b")) /
          col("sz_a").cast("double") * 1e4 + 0.5) / 1e4).as("containment"))
      .filter(col("containment") >= threshold)
  }

  private def verifyPairs(cand: DataFrame, sh: DataFrame, threshold: Double): DataFrame =
    cand
      .join(sh.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("hs", "hs_a"), "doc_a")
      .join(sh.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("hs", "hs_b"), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (floor((jaccard(col("hs_a"), col("hs_b"))) * 1e4 + 0.5) / 1e4).as("jaccard"))
      .filter(col("jaccard") >= threshold)

  /** MinHash+LSH near-dup pairs: signature → band buckets → candidate
    * pairs → exact-Jaccard verification.
    *
    * numHashes = bands * rowsPerBand. Default 16 bands × 2 rows: candidate
    * probability 1-(1-j²)^16 ≈ 1-8e-8 at j=0.8 — recall ≈ 1 at the 0.8
    * threshold this ships with.
    */
  def minhashLshPairs(
      docs: DataFrame,
      threshold: Double,
      bands: Int = 16,
      rowsPerBand: Int = 2,
      n: Int = 3): DataFrame = {
    val numHashes = bands * rowsPerBand
    val sh = graft.core.Caches.corpus(shingleHashes(docs, n))
    // one codegen'd pass computes every (a_i*x+b_i) % P minimum — the
    // schedule lives in MinHashSignature.coefficients; the HOF equivalent
    // (numHashes × array_min(transform(...))) walks the array per hash
    // function through interpreted lambdas
    val sig = sh.select(col("doc_id"),
      graft.functions.MinHashSignature(col("hs"), numHashes).as("sig"))
    lshPairsFromSig(sh, sig, threshold, bands, rowsPerBand)
  }

  /** LSH band candidates + exact-Jaccard verification from PRE-BUILT
    * shingle sets (`sh`: doc_id, hs) and signatures (`sig`: doc_id, sig) —
    * shared by [[minhashLshPairs]] and [[minhashEstimate]] so a caller
    * that also needs the signatures computes them ONCE (r17: the estimate
    * gate re-ran the full shingle+signature pass three times — once inside
    * the pair path, once per uncached estimate-side join).
    */
  private def lshPairsFromSig(sh: DataFrame, sig: DataFrame,
      threshold: Double, bands: Int, rowsPerBand: Int): DataFrame = {
    val bandsDf = bandRows(sig, bands, rowsPerBand)
    val cand = bandsDf.as("a").join(bandsDf.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    verifyPairs(cand, sh, threshold)
  }

  /** (doc_id, band, bkey) rows from a MinHash signature frame: the band
    * key is the md5 of the band's signature slice, so two docs collide on
    * a band iff that slice matches exactly. Shared by the in-memory pair
    * path and the at-rest incremental index.
    */
  private def bandRows(sig: DataFrame, bands: Int, rowsPerBand: Int): DataFrame =
    sig.select(col("doc_id"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)), bi =>
        md5(concat_ws(",", (0 until rowsPerBand).map(r =>
          element_at(col("sig"), (bi * rowsPerBand + r + 1).cast("int"))): _*)))))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "bkey"))

  /** Estimator-quality eval for the MinHash sketch: per LSH-verified pair,
    * the signature-agreement estimate ĵ = |{i : sigA[i] = sigB[i]}| / k
    * against the exact n-gram Jaccard — the calibration check before
    * trusting the sketch alone (e.g. skipping exact verification at
    * larger thresholds). E[ĵ] = J by the MinHash property; k = 32 gives
    * σ ≈ √(J(1−J)/32) ≈ 0.07 at J = 0.8, which is why the shipped dedup
    * path always verifies exactly.
    *
    * Output: (doc_a, doc_b, jaccard, est round 4, abs_err round 4).
    * Shape: the pair frame is the verified LSH output (tiny); signatures
    * join on doc_id — nothing all-pairs.
    */
  def minhashEstimate(
      docs: DataFrame,
      threshold: Double,
      bands: Int = 16,
      rowsPerBand: Int = 2,
      n: Int = 3): DataFrame = {
    val numHashes = bands * rowsPerBand
    // ONE shingle pass and ONE signature pass feed candidate generation,
    // verification AND both estimate-side joins: sig is cached because it
    // is referenced three times (bands + the a/b joins), and re-deriving
    // it re-runs the full shingle+MinHash kernel over the corpus each
    // time (r17 measurement: 3× recompute ≈ 40 CPU-s warm at sf0.1, the
    // hottest extra by CPU after the graph family).
    val sh = graft.core.Caches.corpus(shingleHashes(docs, n))
    val sig = sh.select(col("doc_id"),
      graft.functions.MinHashSignature(col("hs"), numHashes).as("sig")).transform(graft.core.Caches.corpus)
    val est = aggregate(
      zip_with(col("sa"), col("sb"), (x, y) => (x === y).cast("long")),
      lit(0L), (acc, v) => acc + v) / numHashes.toDouble
    lshPairsFromSig(sh, sig, threshold, bands, rowsPerBand)
      .join(sig.select(col("doc_id").as("doc_a"), col("sig").as("sa")), "doc_a")
      .join(sig.select(col("doc_id").as("doc_b"), col("sig").as("sb")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("jaccard"),
        (floor(est * 1e4 + 0.5) / 1e4).as("est"))
      .withColumn("abs_err",
        floor(abs(col("jaccard") - col("est")) * 1e4 + 0.5) / 1e4)
  }

  /** Write the at-rest MinHash dedup index for `docs`: band rows
    * (`bands/`) + shingle sets (`shingles/`), both parquet. The point at
    * corpus scale: deduplicating a NEW batch (today's crawl) against the
    * existing corpus becomes one equi-join of the batch's band rows
    * against `bands/` plus verification against `shingles/` — the corpus
    * is never re-shingled, re-hashed, or re-scanned beyond the index
    * (bands/ is ~bands rows × 16-byte keys per doc; shingles/ is read
    * only for candidate-matched corpus docs).
    */
  def minhashIndexWrite(docs: DataFrame, path: String, bands: Int = 16,
      rowsPerBand: Int = 2, n: Int = 3): Unit = {
    val sh = shingleHashes(docs, n)
    val sig = sh.select(col("doc_id"), col("hs"),
      graft.functions.MinHashSignature(col("hs"), bands * rowsPerBand).as("sig"))
    sig.cache()
    try {
      bandRows(sig, bands, rowsPerBand)
        .write.mode("overwrite").parquet(s"$path/bands")
      sig.select(col("doc_id"), col("hs"))
        .write.mode("overwrite").parquet(s"$path/shingles")
    } finally sig.unpersist()
  }

  /** Incremental near-dup detection: verified (batch_id, corpus_id,
    * jaccard) pairs of `batch` docs against the at-rest index written by
    * [[minhashIndexWrite]] (same bands/rows/n). The batch side is
    * shingled/signed fresh; the corpus side comes entirely from the
    * index. Identical pair semantics to [[minhashLshPairs]] restricted to
    * batch×corpus.
    */
  def minhashIndexProbe(spark: org.apache.spark.sql.SparkSession,
      batch: DataFrame, path: String, threshold: Double, bands: Int = 16,
      rowsPerBand: Int = 2, n: Int = 3): DataFrame = {
    val sh = graft.core.Caches.corpus(shingleHashes(batch, n))
    val sig = sh.select(col("doc_id"), col("hs"),
      graft.functions.MinHashSignature(col("hs"), bands * rowsPerBand).as("sig"))
    val qb = bandRows(sig, bands, rowsPerBand)
    val ib = spark.read.parquet(s"$path/bands")
    val cand = qb.as("q").join(ib.as("c"),
        col("q.band") === col("c.band") && col("q.bkey") === col("c.bkey"))
      .select(col("q.doc_id").as("batch_id"), col("c.doc_id").as("corpus_id"))
      .distinct()
    val ish = spark.read.parquet(s"$path/shingles")
    cand
      .join(sh.select(col("doc_id").as("batch_id"), col("hs").as("hs_b")), "batch_id")
      .join(ish.select(col("doc_id").as("corpus_id"), col("hs").as("hs_c")), "corpus_id")
      .select(col("batch_id"), col("corpus_id"),
        (floor((jaccard(col("hs_b"), col("hs_c"))) * 1e4 + 0.5) / 1e4).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Fuzzy near-dup pairs by bounded edit distance on a normalized text
    * prefix, with equi-join blocking — the ALGORITHM (block key + prefix
    * length + threshold) is the operator's contract, like the banding
    * family above: blocking is what makes edit-distance dedup runnable at
    * all beyond toy sizes (unblocked Levenshtein is an n² quadratic-cost
    * compare). The block key is the first TWO whitespace tokens of the
    * lowercased text — the standard blocking-key trade (recall is bounded
    * by the key agreeing, which an edit inside it can break; one token
    * alone blocks too coarsely on low-entropy corpora — ~30× more pairs
    * on the test corpus for identical verified output).
    *
    * Scale shape: one projection computes (block, prefix) per doc; the
    * candidate join is an equi-join on the block key (hash shuffle, never
    * all-pairs); the length band |len(a)−len(b)| ≤ maxDist — a lossless
    * lower bound on edit distance — prunes in the join probe BEFORE the
    * O(len²) Levenshtein runs; the triangle condition halves the rest.
    */
  def editDistancePairs(docs: DataFrame, maxDist: Int, prefixLen: Int = 80): DataFrame = {
    val norm = regexp_replace(trim(lower(col("text"))), "\\s+", " ")
    val parts = split(norm, " ")
    val d = docs.select(col("doc_id"),
      substring(norm, 1, prefixLen).as("p"),
      concat_ws(" ", parts.getItem(0), parts.getItem(1)).as("blk"))
    d.as("a").join(d.as("b"),
        col("a.blk") === col("b.blk") && col("a.doc_id") < col("b.doc_id") &&
          abs(length(col("a.p")) - length(col("b.p"))) <= maxDist &&
          levenshtein(col("a.p"), col("b.p")) <= maxDist)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        levenshtein(col("a.p"), col("b.p")).cast("long").as("edit_dist"))
  }

  /** SimHash: 60-bit signature from per-bit votes of word-hash bits
    * (multiplicity-weighted). Emits pairs with Hamming distance <=
    * maxHamming plus the packed signatures.
    */
  def simhash(docs: DataFrame): DataFrame =
    // one fused codegen pass per doc (see graft.functions.SimHashSignature
    // — bit-identical to the former 60-fold nested-HOF form, which paid
    // 60 interpreted per-element folds per document)
    TextAnalysis.spread(docs).withColumn("__w", TextAnalysis.words(col("text")))
      .withColumn("__h", transform(col("__w"), x => TextAnalysis.hash60(x)))
      .select(col("doc_id"),
        graft.functions.SimHashSignature(col("__h")).as("simhash"))

  /** SimHash near-dup pairs via LOSSLESS pigeonhole banding: the 60-bit
    * signature splits into `maxHamming + 1` contiguous bands, so a pair at
    * Hamming distance <= maxHamming corrupts at most maxHamming bands and
    * must agree bit-exactly on at least one. Candidates come from an
    * equi-join on (band index, band value) — a hash-shuffle join, never a
    * broadcast nested loop — then exact `bit_count` verification. Output
    * is identical to the all-pairs filter for any input.
    *
    * Scale note: candidate volume is sum over (band, value) buckets of
    * |bucket|²; with 60-bit signatures the band width shrinks as
    * maxHamming grows (11 bands of 5-6 bits at maxHamming=10), which is
    * the inherent pigeonhole price — still an even hash shuffle, not n².
    */
  def simhashPairs(docs: DataFrame, maxHamming: Int): DataFrame = {
    val s = simhash(docs).cache()
    if (maxHamming >= 60) {
      // every pair qualifies — banding can't pigeonhole past 59; fall back
      // to the triangle-blocked exact all-pairs equi-join
      return Blocking.allPairs(s, "doc_id", 8)
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).cast("long").as("hamming"))
        .filter(col("hamming") <= maxHamming)
    }
    val nBands = maxHamming + 1
    // distribute 60 bits as evenly as possible: (60 % nBands) bands get
    // one extra bit
    val base = 60 / nBands
    val widths = Seq.tabulate(nBands)(i => if (i < 60 % nBands) base + 1 else base)
    val offsets = widths.scanLeft(0)(_ + _).init
    val banded = s.select(col("doc_id"), col("simhash"),
      posexplode(array(offsets.zip(widths).map { case (off, w) =>
        shiftright(col("simhash"), off).bitwiseAND(lit((1L << w) - 1))
      }: _*)))
      .withColumnsRenamed(Map("pos" -> "band", "col" -> "bval"))
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bval") === col("b.bval") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct() // a pair can share several clean bands
  }

  /** Near-dup CLUSTERS from a pair list: connected components by iterative
    * min-label propagation, then canonical-doc selection (min doc_id per
    * component — the doc a dedup pass would keep).
    *
    * Each iteration is one hash-join + min-aggregate on the *edge* set
    * (dup pairs ≪ corpus at 100 TB), converging in O(component diameter)
    * rounds — near-dup clusters are shallow (stars/chains of a few hops),
    * so this is a handful of shuffles over a small frame, the standard
    * distributed-CC shape. `localCheckpoint` truncates lineage per round so
    * plans don't grow with iteration count. Docs in no pair never enter the
    * loop and come back as their own singleton cluster via the final left
    * join.
    *
    * @param pairs (doc_a, doc_b) near-dup pairs, e.g. [[minhashLshPairs]]
    */
  /** SemDeDup — cluster-scoped semantic near-dup removal (Abbas et al.
    * 2023): k-means the embedding corpus, then compare pairs ONLY within
    * a cluster and drop the higher vec_id of every pair with cosine ≥
    * `tau`. Output: (vec_id, cluster, kept) for every vector, kept =
    * false iff it has a τ-neighbor with a LOWER vec_id in its own cluster
    * (the deterministic keeper rule).
    *
    * The clustering is the whole point at scale: exact all-pairs over
    * 100 TB of embeddings is Θ(n²) compares, but n²/k within balanced
    * clusters — and the pair generation is an equi-join ON the cluster id
    * (one shuffle keyed by cluster), never a cross join. The fit is
    * [[Clustering.fitCentroids]]'s deterministic Lloyd's, so a SQL engine
    * replaying the same seeds/folds/rounding makes identical cluster —
    * and therefore identical keep/drop — calls. Cross-cluster near-dups
    * are missed by design (SemDeDup's documented recall trade); raise k
    * for cheaper pairs, lower k for higher recall.
    *
    * Sizing k: scale k WITH n so the TARGET CLUSTER SIZE (n/k) stays
    * constant — k ∝ n keeps within-cluster pairs at n·(n/k)/2, i.e.
    * LINEAR in n; holding k fixed while n grows 100× makes the pair join
    * quadratic again (n²/k). The gate's k=8 is sized for the sf0.01/0.1
    * corpus (~60–250 vectors/cluster); at 100 TB pick k ≈ n / 200 and
    * feed [[Clustering.fitCentroids]] a sampled fit if the k×dim driver
    * state matters. ScaleBench's `semdedup` op records the k∝n curve
    * (docs ×2 ⇒ time ~×2, SCALE.md).
    */
  def semDedup(emb: DataFrame, k: Int = 8, iters: Int = 2,
      tau: Double = 0.45): DataFrame = {
    val cs = Clustering.fitCentroids(emb, k, iters)
    val asg = emb.select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      .withColumn("cluster", Clustering.assignment(cs).getField("c").cast("long"))
    val dropped = asg.as("a").join(asg.as("b"),
        col("a.cluster") === col("b.cluster") &&
          col("a.vec_id") < col("b.vec_id") &&
          Similarity.cosine(col("a.v"), col("b.v")) >= tau)
      .select(col("b.vec_id").as("vec_id")).distinct()
      .withColumn("__dup", lit(true))
    asg.join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"), col("__dup").isNull.as("kept"))
  }

  def dupClusters(docs: DataFrame, pairs: DataFrame, maxIters: Int = 50): DataFrame = {
    // pre-partition the cached edge set on the per-round join key (dst):
    // only the (small) labels frame shuffles each iteration, the edges'
    // exchange is reused from cache
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .distinct().repartition(col("dst")).cache()
    var labels = edges.select(col("src").as("doc_id")).distinct()
      .select(col("doc_id"), col("doc_id").as("label"))
    var changed = 1L
    var iter = 0
    while (changed > 0) {
      if (iter >= maxIters)
        // un-converged labels would silently split one component into
        // several "canonical" docs — fail loudly instead
        throw new IllegalStateException(
          s"dupClusters did not converge in $maxIters rounds ($changed labels still " +
            "dropping); raise maxIters — component diameter exceeds it")
      val neighborMin = edges
        .join(labels.select(col("doc_id").as("dst"), col("label").as("nlabel")), "dst")
        .groupBy(col("src").as("doc_id")).agg(min("nlabel").as("nmin"))
      // EAGER checkpoint, deliberately (r18 negative result): folding the
      // materialization into the convergence count via localCheckpoint(
      // false) — "one job per round instead of two" — measured SLOWER
      // warm in paired A/B runs (dup_clusters 1.01–1.08×, star 1.16–1.25×,
      // core_numbers 1.07–1.11×): under AQE the probe's plan computes the
      // marked RDD inline in its own stages and the persist write
      // serializes with the hot path, costing more than the separate
      // cheap count job it saves.
      val upd = labels.join(neighborMin, Seq("doc_id"), "left")
        .select(col("doc_id"), col("label").as("old"),
          least(col("label"), coalesce(col("nmin"), col("label"))).as("label"))
        .localCheckpoint()
      changed = upd.filter(col("label") < col("old")).count()
      labels = upd.select("doc_id", "label")
      iter += 1
    }
    edges.unpersist()
    docs.select(col("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("label"), col("doc_id")).as("cluster_id"))
      .withColumn("is_canonical", col("doc_id") === col("cluster_id"))
  }

  /** Connected components by alternating large-star / small-star (Kiveris
    * et al., "Connected Components in MapReduce and Beyond") — the
    * corpus-scale alternative to [[dupClusters]]'s min-label propagation:
    * label propagation converges in O(component diameter) rounds (a long
    * near-dup chain = a long job), star contraction in O(log n) — each
    * round REWIRES edges toward the component minimum instead of just
    * carrying labels one hop.
    *
    *  - large-star(u): every strictly-larger neighbor of u links to
    *    min(Γ(u) ∪ u) — applied over the bidirected edge set;
    *  - small-star(u): u and its ≤-neighbors link to their minimum —
    *    applied over large→small directed edges.
    *
    * Both steps are one groupBy(u) min + an equi-join back — partial+final
    * aggregates on the edge frame, no windows. Rounds run until the edge
    * set is a fixed point (star graphs node→root); same loud
    * non-convergence contract as [[dupClusters]]. Output identical:
    * (doc_id, cluster_id = component min, is_canonical).
    */
  def dupClustersStar(docs: DataFrame, pairs: DataFrame, maxIters: Int = 25): DataFrame = {
    var edges = pairs.filter(col("doc_a") =!= col("doc_b"))
      .select(greatest(col("doc_a"), col("doc_b")).as("u"),
        least(col("doc_a"), col("doc_b")).as("v"))
      .distinct().localCheckpoint()
    var nEdges = edges.count()
    var stable = false
    var iter = 0
    while (!stable) {
      if (iter >= maxIters)
        throw new IllegalStateException(
          s"dupClustersStar did not converge in $maxIters rounds; raise maxIters")
      // large-star over the bidirected set: m(u) = min(Γ(u) ∪ u);
      // emit (v, m) for v ∈ Γ(u), v > u
      val bidir = edges.union(edges.select(col("v").as("u"), col("u").as("v")))
      val mL = bidir.groupBy("u").agg(min(col("v")).as("mv"))
        .select(col("u"), least(col("u"), col("mv")).as("m"))
      val ls = bidir.join(mL, "u").filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v")).distinct()
      // small-star over large→small edges: m(u) = min(Γ⁻(u) ∪ u);
      // emit (w, m) for w ∈ Γ⁻(u) ∪ {u}, w ≠ m
      val mS = ls.groupBy("u").agg(min(col("v")).as("m"))
      val ss = ls.join(mS, "u")
        .select(col("v").as("w"), col("m"))
        .union(mS.select(col("u").as("w"), col("m")))
        .filter(col("w") =!= col("m"))
        .select(col("w").as("u"), col("m").as("v")).distinct()
        // eager, deliberately — lazy-fold-into-count measured 1.16–1.25×
        // warm here (see dupClusters' r18 note)
        .localCheckpoint()
      // fixed-point test on two DISTINCT edge sets: equal cardinality +
      // empty one-sided difference ⇔ set equality — one except job per
      // round instead of two exceptAll materializations (the counts are
      // near-free on the checkpointed frames), and the except job only
      // runs at all once the cardinalities stop shrinking.
      val nSs = ss.count()
      stable = nSs == nEdges && ss.except(edges).isEmpty
      edges = ss
      nEdges = nSs
      iter += 1
    }
    docs.select(col("doc_id"))
      .join(edges.select(col("u").as("doc_id"), col("v").as("root")), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("root"), col("doc_id")).as("cluster_id"))
      .withColumn("is_canonical", col("doc_id") === col("cluster_id"))
  }
}
