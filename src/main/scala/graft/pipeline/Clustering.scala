package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed k-means corpus clustering (Lloyd's algorithm) — the standard
  * training-data curation primitive behind topic balancing, diversity
  * sampling, and cluster-based dedup/pruning of web-scale corpora, and the
  * coarse quantizer of a FAISS-style IVF index.
  *
  * Built deterministic so a SQL oracle can replay it exactly:
  *  - seeding: the k vectors with the smallest vec_id (no RNG);
  *  - assignment: argmin of the left-to-right squared-L2 fold, ties to the
  *    lowest cluster index (struct-min);
  *  - update: per-dim mean, rounded to 1e-4 (`floor(avg·1e4+0.5)/1e4`) so
  *    the last-ulp difference between engines' summation orders cannot
  *    change the next iteration's assignments;
  *  - empty clusters keep their previous centroid.
  *
  * Scale shape (100 TB): each iteration is one narrow codegen assignment
  * pass over the corpus plus one partial+final aggregate of k×dim cells;
  * the driver holds only the k×dim centroid matrix (tiny). No shuffle
  * carries vectors — only the per-cluster dimension sums move.
  */
object Clustering {

  /** Squared L2 distance with a fixed left-to-right fold (bit-reproducible
    * in any engine that folds the same way). Interpreted reference form —
    * [[assignment]] is the codegen'd production path; FunctionsSpec pins
    * their bit-equivalence.
    */
  private[graft] def sqDistHof(v: Column, centroid: Seq[Double]): Column =
    aggregate(
      zip_with(v, array(centroid.map(lit): _*), (x, c) => (x - c) * (x - c)),
      lit(0.0), (acc, x) => acc + x)

  /** Interpreted `struct(dist, cluster)` argmin (the pre-r5 form, kept as
    * the equivalence-test reference for the fused kernel).
    */
  private[graft] def assignmentHof(cs: Array[Seq[Double]], v: Column = col("v")): Column =
    array_min(array(cs.zipWithIndex.map { case (c, i) =>
      struct(sqDistHof(v, c).as("d"), lit(i).as("c"))
    }: _*))

  /** `struct(dist, cluster)` argmin of `v` over the centroids — ONE fused
    * codegen pass (elements outer, centroids inner, same left-to-right fold
    * as the HOF form; graft.functions.KMeansAssign).
    */
  def assignment(cs: Array[Seq[Double]], v: Column = col("v")): Column =
    graft.functions.KMeansAssign(v, cs)

  private def round4(x: Double): Double = math.floor(x * 1e4 + 0.5) / 1e4

  private[pipeline] def parsed(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))

  /** Deterministic k-means++-style farthest-point seeds over a parsed
    * `(vec_id, v)` frame. The smallest-vec_id default seeding degrades on
    * adversarial orderings (ids clustered by topic put every seed in one
    * corner); this spreads them without RNG:
    *  - seed 1: the vector with the smallest md5-salted hash of its id
    *    (a fixed pseudo-random draw — same portable-hash primitive as
    *    [[Sampling]]), ties → lowest vec_id;
    *  - seeds 2..k: greedily the vector FARTHEST from its nearest chosen
    *    seed (classic farthest-point / k-means++ mode), ties → lowest
    *    vec_id.
    * k narrow passes over the (persisted) frame, one row back to the
    * driver per pick; distances use the same fused left-to-right fold as
    * assignment, so an engine replaying the same rule picks the same
    * seeds bit-for-bit.
    */
  private def farthestPointSeeds(e: DataFrame, k: Int): Array[Seq[Double]] = {
    // without this, a corpus with fewer than k vectors would re-pick the
    // lowest vec_id forever (all distances 0 once every vector is a seed)
    // and silently return duplicate centroids — match default seeding's
    // loud failure instead
    val n = e.count()
    require(n >= k, s"need at least $k vectors, got $n")
    val salted = conv(substring(md5(concat(lit("seed:"), col("vec_id").cast("string"))), 1, 15), 16, 10).cast("long")
    var seeds: Array[Seq[Double]] = e
      .orderBy(salted, col("vec_id")).limit(1)
      .collect().map(_.getSeq[Double](1))
    require(seeds.nonEmpty, "need at least one vector to seed")
    while (seeds.length < k) {
      val next = e
        .withColumn("__d", assignment(seeds).getField("d"))
        .orderBy(col("__d").desc, col("vec_id")).limit(1)
        .collect().map(_.getSeq[Double](1))
      seeds = seeds ++ next
    }
    seeds
  }

  /** Lloyd-iterated centroids (see object doc for the determinism
    * contract). The k×dim matrix is the only driver-side state. The parsed
    * frame is persisted for the duration of the fit — the dim probe, the
    * seed collect(s), and each Lloyd iteration read the cached vectors
    * instead of re-scanning and re-casting the source per pass (the
    * r4-flagged rescan cost of `q_pl_kmeans`).
    *
    * `plusPlusSeeding = true` opts into [[farthestPointSeeds]]; the
    * default stays the k smallest vec_ids (the oracle-gated contract).
    */
  def fitCentroids(emb: DataFrame, k: Int, iters: Int,
      plusPlusSeeding: Boolean = false): Array[Seq[Double]] = {
    // skip the fit-scoped persist when the caller passes the cached frame
    // ITSELF (IvfIndex.build/buildPq's shared parsed corpus — r18):
    // re-persisting it would only duplicate the columnar copy.
    // `storageLevel` sees the frame's own cache entry only, so a
    // projection or slice of a cached frame (Pq.fit's block slices) reads
    // as uncached and is persisted again here.
    val preCached = emb.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    val e =
      if (preCached) parsed(emb)
      else parsed(emb).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val dim = e.select(size(col("v"))).head().getInt(0)

      // deterministic seeds: the k smallest vec_ids (k rows to the driver)
      var centroids: Array[Seq[Double]] =
        if (plusPlusSeeding) farthestPointSeeds(e, k)
        else e.orderBy("vec_id").limit(k).collect().map(_.getSeq[Double](1))
      require(centroids.length == k, s"need at least $k vectors, got ${centroids.length}")

      for (_ <- 1 to iters) {
        // one narrow pass + a k×dim-cell aggregate; k rows return to the driver
        val means = e.withColumn("c", assignment(centroids).getField("c"))
          .groupBy("c")
          .agg(count(lit(1)).as("n"), (1 to dim).map(d =>
            avg(element_at(col("v"), d)).as(s"m$d")): _*)
          .collect()
          .map(r => r.getInt(0) -> (1 to dim).map(d => round4(r.getDouble(d + 1))))
          .toMap
        centroids = centroids.indices.map(i => means.getOrElse(i, centroids(i)): Seq[Double]).toArray
      }
      centroids
    } finally if (!preCached) { e.unpersist(blocking = false); () }
  }

  /** Final assignments after `iters` Lloyd iterations:
    * `(vec_id, cluster, dist)` with dist = squared L2 to the final centroid
    * rounded to 1e-4. Input needs `(vec_id, embedding ARRAY<numeric>)`.
    */
  def kmeans(emb: DataFrame, k: Int = 8, iters: Int = 3,
      plusPlusSeeding: Boolean = false): DataFrame = {
    val centroids = fitCentroids(emb, k, iters, plusPlusSeeding)
    val a = assignment(centroids)
    parsed(emb)
      .select(col("vec_id"),
        a.getField("c").cast("long").as("cluster"),
        (floor(a.getField("d") * 1e4 + 0.5) / 1e4).as("dist"))
  }

  /** Simplified (centroid-based, "medoid-free") silhouette per cluster
    * label: a = distance to the OWN label's centroid, b = distance to the
    * nearest OTHER centroid, s = (b−a)/max(a,b) — the standard clustering-
    * quality screen (how separable are the labels in embedding space?)
    * at O(n·k) instead of the exact silhouette's O(n²).
    *
    * Determinism: centroids are per-dim means rounded 1e-6 before use
    * (the whiten stance); distances are exact left-to-right folds over
    * the rounded centroids (the PCA stance), so an oracle replays them
    * bit-for-bit. Output per label: (label, n, mean_sil, mean_a, mean_b),
    * means rounded 1e-4.
    *
    * Shape: one (label, dim) aggregate for centroids (k×d cells), then a
    * broadcast of the k×d matrix into one scan computing all k distances
    * per row — no shuffle carries vectors.
    */
  def silhouette(emb: DataFrame, labelCol: String = "label"): DataFrame = {
    // silhouette is undefined for a single label (min over the empty
    // other-centroid set would null __b) — fail loudly, don't emit nulls
    require(emb.select(col(labelCol)).distinct().limit(2).count() == 2,
      s"silhouette needs >= 2 distinct '$labelCol' labels")
    val e = parsed(emb).join(
      emb.select(col("vec_id"), col(labelCol).cast("long").as("__lbl")), "vec_id")
    val cent = e.select(col("__lbl"), posexplode(col("v")).as(Seq("__p", "__x")))
      .groupBy(col("__lbl"), col("__p"))
      .agg((floor(avg(col("__x")) * 1e6 + 0.5) / 1e6).as("__mu"))
      .groupBy(col("__lbl"))
      .agg(sort_array(collect_list(struct(col("__p"), col("__mu")))).as("__st"))
      .select(col("__lbl").as("__clbl"),
        transform(col("__st"), s => s.getField("__mu")).as("__c"))
    val dist = sqrt(aggregate(
      zip_with(col("v"), col("__c"), (x, c) => (x - c) * (x - c)),
      lit(0.0), (acc, x) => acc + x))
    val d = e.crossJoin(broadcast(cent))
      .select(col("vec_id"), col("__lbl"), col("__clbl"), dist.as("__d"))
    val ab = d.groupBy(col("vec_id"))
      .agg(first(col("__lbl")).as("label"),
        max(when(col("__lbl") === col("__clbl"), col("__d"))).as("__a"),
        min(when(col("__lbl") =!= col("__clbl"), col("__d"))).as("__b"))
    // a point exactly on its centroid with b = 0 would divide 0/0; the
    // standard convention scores s = 0 when a = b = 0 (degenerate
    // coincident clusters carry no separation signal either way)
    ab.select(col("label"),
        when(greatest(col("__a"), col("__b")) > 0,
          (col("__b") - col("__a")) / greatest(col("__a"), col("__b")))
          .otherwise(lit(0.0)).as("__s"),
        col("__a"), col("__b"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
        (floor(avg(col("__s")) * 1e4 + 0.5) / 1e4).as("mean_sil"),
        (floor(avg(col("__a")) * 1e4 + 0.5) / 1e4).as("mean_a"),
        (floor(avg(col("__b")) * 1e4 + 0.5) / 1e4).as("mean_b"))
  }

  /** Grid-density clustering (the GriDBSCAN/Gridding family) over a 2-D
    * projection of the embedding space — density-based cluster discovery
    * as the complement of [[kmeans]] (no k, finds arbitrary-shape dense
    * regions, labels sparse points noise):
    *
    *  1. cell = (⌊x/eps⌋, ⌊y/eps⌋) over embedding dims `dimX`/`dimY`;
    *  2. CORE cells: ≥ minPts points;
    *  3. clusters = connected components of the core-cell 8-adjacency
    *     graph (the O(log n)-round star contraction, reused from
    *     [[Dedup.dupClustersStar]]); cluster_id = min cell id;
    *  4. points in core cells are 'core'; points in non-core cells
    *     adjacent to ≥1 core cell attach to the minimum adjacent cluster
    *     ('border', deterministic); the rest are 'noise' (NULL cluster).
    *
    * This is the grid approximation, stated: density is per CELL, not
    * per eps-ball (classic DBSCAN's neighborhood query has no
    * shuffle-free distributed form — the grid is the standard scale
    * answer), so clusters merge through any chain of adjacent dense
    * cells. Everything is integer-exact after the one ⌊x/eps⌋ division
    * of engine-identical doubles — fully SQL-replayable, including the
    * component closure (recursive CTE in the oracle).
    *
    * Scale shape: one narrow cell-assignment pass, one cell-count
    * aggregate (occupied-cell-sized, ≤ n and typically ≪), the CC loop
    * on the core-cell graph (cell-sized frames), one broadcast join
    * back to points. No shuffle ever carries vectors.
    */
  def gridDensityClusters(emb: DataFrame, eps: Double, minPts: Int,
      dimX: Int = 1, dimY: Int = 2): DataFrame = {
    require(eps > 0, "eps must be positive")
    require(minPts >= 1, "minPts must be >= 1")
    // single-long cell id: (cx, cy) packed with a 1e6 offset/stride —
    // coordinates beyond ±5e5 cells would alias (unreachable for unit-
    // scale embeddings), so packing fails LOUDLY past the range instead
    // of silently merging unrelated clusters
    def packId(cx: Column, cy: Column): Column =
      (cx + lit(500000L)) * lit(1000000L) + (cy + lit(500000L))
    def cellId(cx: Column, cy: Column): Column = {
      val guard = (c: Column) => when(abs(c) >= lit(500000L),
        raise_error(concat(lit("gridDensityClusters: cell coordinate "), c.cast("string"),
          lit(" outside packable range ±5e5 (coordinate/eps too large — rescale inputs or raise eps)")))
        .cast("long")).otherwise(c)
      packId(guard(cx), guard(cy))
    }
    // 9-stencil neighbor offsets (includes (0,0) — self-pairs are dropped
    // by the ca<cb filter, and a non-core cell never equi-matches a core
    // id at offset (0,0)). Exploding each cell to its 9 neighbor ids turns
    // both adjacency joins into hash equi-joins on the packed cell id —
    // no BroadcastNestedLoopJoin at any grid resolution.
    val stencil = array((for { dx <- -1L to 1L; dy <- -1L to 1L } yield
      struct(lit(dx).as("dx"), lit(dy).as("dy"))): _*)
    val cx = floor(element_at(col("embedding"), dimX).cast("double") / eps).cast("long")
    val cy = floor(element_at(col("embedding"), dimY).cast("double") / eps).cast("long")
    val pts = emb.select(col("vec_id"), cx.as("__cx"), cy.as("__cy"))
    val cells = pts.groupBy(col("__cx"), col("__cy")).agg(count(lit(1)).as("__n"))
    val core = cells.filter(col("__n") >= minPts)
      .select(col("__cx"), col("__cy"), cellId(col("__cx"), col("__cy")).as("__cid"))
    // 8-adjacency among core cells: explode each core cell to its 9
    // neighbor ids, equi-join against the core-id set (9·|core| × |core|)
    val coreNbr = core
      .select(col("__cid").as("ca"), col("__cx"), col("__cy"), explode(stencil).as("__o"))
      .select(col("ca"),
        // unguarded pack: probes at a guarded cell's edge reach ±5e5, whose
        // packed ids no guarded REAL cell can hold — never a false match
        packId(col("__cx") + col("__o.dx"), col("__cy") + col("__o.dy")).as("__nid"))
    val adj = coreNbr.join(core.select(col("__cid").as("cb")), col("__nid") === col("cb"))
      .filter(col("ca") < col("cb"))
      .select(col("ca").as("doc_a"), col("cb").as("doc_b"))
    val comp = Dedup.dupClustersStar(core.select(col("__cid").as("doc_id")), adj)
      .select(col("doc_id").as("__cid"), col("cluster_id").as("__cl"))
    val coreLabeled = core.join(comp, "__cid")
      .select(col("__cid"), col("__cx"), col("__cy"), col("__cl"))
    // border attach: non-core cells take the MIN cluster among adjacent
    // core cells — same 9-stencil explode, equi-join on the packed id
    val nonCore = cells.filter(col("__n") < minPts).select(col("__cx"), col("__cy"))
    val nonCoreNbr = nonCore
      .select(col("__cx"), col("__cy"), explode(stencil).as("__o"))
      .select(col("__cx"), col("__cy"),
        packId(col("__cx") + col("__o.dx"), col("__cy") + col("__o.dy")).as("__nid"))
    val borderCells = nonCoreNbr
      .join(coreLabeled.select(col("__cid").as("__nid"), col("__cl")), "__nid")
      .groupBy(col("__cx"), col("__cy"))
      .agg(min(col("__cl")).as("__cl"))
    val coreCellLabel = coreLabeled.select(col("__cx"), col("__cy"), col("__cl"))
    val cellLabel = coreCellLabel.withColumn("__role", lit("core"))
      .unionByName(borderCells.withColumn("__role", lit("border")))
    // no broadcast hint: the label frame is occupied-cell-sized, which is
    // usually ≪ points but degenerates to n on an all-singleton-cell
    // layout — let AQE measure it and pick broadcast vs shuffle
    pts.join(cellLabel, Seq("__cx", "__cy"), "left")
      .select(col("vec_id"), col("__cl").as("cluster_id"),
        coalesce(col("__role"), lit("noise")).as("role"))
  }
}
