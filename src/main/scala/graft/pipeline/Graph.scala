package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Graph centrality over data-derived graphs (e.g. the embedding
  * similarity graph): PageRank as iterated DataFrame joins — the
  * link-analysis data-valuation pass of a curation pipeline (rank
  * documents by how central they sit in the near-duplicate/topical
  * neighborhood structure; sample or weight by the score).
  */
object Graph {

  /** PageRank with damping `d` over directed `edges` (src, dst), ranks
    * over every node in `nodes` (id) — isolated nodes keep the teleport
    * mass (1−d)/N. Dangling mass is dropped (the usual simplification for
    * similarity graphs, where undirected construction means no danglers).
    *
    * Shape per iteration: one edges⋈rank equi-join + one partial+final
    * sum aggregate; `rank` and `deg` stay node-sized (≪ edges), so at
    * cluster scale both sides of the join shuffle on the same src key and
    * the rank frame is broadcast-able. The loop is unrolled in the plan —
    * past ~5 iterations set `checkpointEvery` (e.g. 4): every k-th rank
    * frame is `localCheckpoint`ed (eager), truncating the lineage so deep
    * iteration keeps a bounded plan instead of an exponentially analyzed
    * tree (values unchanged — GraphSpec pins 12-deep equality). 0 = off,
    * the pure-plan default the 3-iteration gates use.
    *
    * `nNodes` is passed in (count the nodes frame once at the call site)
    * so the operator itself stays a pure plan.
    */
  def pageRank(edges: DataFrame, nodes: DataFrame, nNodes: Long,
      iters: Int = 3, damping: Double = 0.85,
      checkpointEvery: Int = 0): DataFrame = {
    require(iters >= 1 && nNodes > 0, "pageRank needs iterations and nodes")
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    // materialize (edges ⋈ deg) ONCE: every power iteration references it,
    // and without the cut the edge subtree — often an expensive pair miner
    // (blocked all-pairs cosine, banded kNN) — re-enters the plan per
    // iteration: iters× the planning/codegen volume and, for an uncached
    // caller frame, iters× the edge-generation work itself (r17; the same
    // eager-cut stance as coreNumbers/kCore). Edge-sized, MEMORY_AND_DISK.
    val withDeg = cut(edges.join(deg, "src"))
    var rank = nodes.select(col("id"), lit(1.0 / nNodes).as("rank"))
    for (it <- 1 to iters) {
      val contrib = withDeg.join(rank, col("src") === col("id"))
        .select(col("dst"), (col("rank") / col("deg")).as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("in"))
      rank = nodes.select(col("id"))
        .join(contrib, col("id") === col("dst"), "left")
        .select(col("id"),
          (lit((1 - damping) / nNodes) +
            lit(damping) * coalesce(col("in"), lit(0.0))).as("rank"))
      rank = maybeCheckpoint(rank, it, iters, checkpointEvery)
    }
    rank
  }

  /** Lineage cut for the iterate frames: eager localCheckpoint every
    * `every`-th round (never on the last — the caller composes the final
    * frame into a larger plan).
    */
  private def maybeCheckpoint(df: DataFrame, it: Int, iters: Int,
      every: Int): DataFrame =
    if (every > 0 && it % every == 0 && it < iters) cut(df)
    else df

  /** The lineage cut used by every iterative builder here. Two caveats
    * a 100 TB deployment must know (r17 ADVICE):
    *
    *  - EAGER EVALUATION: builders with a cut (pageRank/PPR's `withDeg`,
    *    labelPropagation's default `checkpointEvery = 1`) run Spark jobs
    *    at DataFrame-CONSTRUCTION time, not first action. Pass
    *    `checkpointEvery = 0` for a pure unrolled plan (fine at few
    *    iterations).
    *  - FAULT TOLERANCE: `localCheckpoint` trades lineage for speed — on
    *    a cluster, losing an executor that holds checkpointed blocks
    *    FAILS the job instead of recomputing (acceptable on local[n];
    *    not under decommissioning). Set the session conf
    *    `spark.graft.graph.reliableCheckpoint = true` (and a
    *    `sparkContext.setCheckpointDir`) to route every cut through a
    *    reliable `checkpoint(true)` instead.
    */
  private def cut(df: DataFrame): DataFrame =
    if (df.sparkSession.conf.get("spark.graft.graph.reliableCheckpoint",
        "false").toBoolean) df.checkpoint(true)
    // EAGER, deliberately — the lazy form was tried r18 and measured ~2×
    // SLOWER solo-cold on these loops (communities 19.8 s vs the 10.0
    // bracket, ppr 8.3 vs 5.6, centrality 7.3 vs 5.7): with AQE, each
    // round's unmaterialized checkpoint chains into the next round's
    // stage materialization and the deferred result stages re-enter
    // instead of amortizing. (The convergence-probe loops in
    // Dedup/coreNumbers/kCore, where a count/isEmpty action follows the
    // cut in the SAME round, were tried lazy too and measured slower as
    // well — 1.01–1.25× warm, OPTIMIZATION_r18.md §3 — so they stay eager.)
    else df.localCheckpoint(true)

  /** Personalized PageRank: teleport mass goes to the `seeds` node set
    * instead of uniformly — the similarity-expansion primitive ("find
    * more like these"): rank concentrates around the seeds' graph
    * neighborhood, and the top non-seed nodes are the expansion
    * candidates (seed-set growing for curation, label propagation from
    * a few hand-labeled docs, contamination neighborhoods around known
    * benchmark members).
    *
    * r₀ = seed distribution; r_{k+1}(v) = (1−d)·s(v) + d·Σ_in r_k/deg
    * with s(v) = 1/|seeds| on seeds, else 0. Same per-iteration shapes,
    * node-sized frames and `checkpointEvery` lineage knob as
    * [[pageRank]]; dangling mass dropped identically.
    */
  def pageRankPersonalized(edges: DataFrame, nodes: DataFrame,
      seeds: DataFrame, nSeeds: Long, iters: Int = 3,
      damping: Double = 0.85, checkpointEvery: Int = 0): DataFrame = {
    require(iters >= 1 && nSeeds > 0, "needs iterations and a seed set")
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    // same once-per-run materialization as [[pageRank]]'s withDeg (r17)
    val withDeg = cut(edges.join(deg, "src"))
    val sv = nodes.join(seeds.select(col("id"), lit(1.0).as("__s")), Seq("id"), "left")
      .select(col("id"), (coalesce(col("__s"), lit(0.0)) / nSeeds).as("sv"))
    var rank = sv.select(col("id"), col("sv").as("rank"))
    for (it <- 1 to iters) {
      val contrib = withDeg.join(rank, col("src") === col("id"))
        .select(col("dst"), (col("rank") / col("deg")).as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("in"))
      rank = sv
        .join(contrib, col("id") === col("dst"), "left")
        .select(col("id"), col("sv"),
          (lit(1 - damping) * col("sv") +
            lit(damping) * coalesce(col("in"), lit(0.0))).as("rank"))
        .select(col("id"), col("sv"), col("rank"))
      rank = maybeCheckpoint(rank, it, iters, checkpointEvery)
    }
    rank.select(col("id"), col("rank"))
  }

  /** Undirected edge list (both directions) from one-sided pairs. */
  def undirected(pairs: DataFrame, a: String, b: String): DataFrame =
    pairs.select(col(a).as("src"), col(b).as("dst"))
      .unionAll(pairs.select(col(b).as("src"), col(a).as("dst")))

  /** Synchronous label-propagation community detection, DETERMINISTIC
    * variant: every node simultaneously adopts its neighbors' most
    * frequent label, ties broken by the smaller label; isolated nodes
    * keep their own. A FIXED iteration count (no convergence loop) keeps
    * the result a pure unrollable plan — the classic async/random-order
    * LPA is irreproducible by design, which disqualifies it from a
    * curation pipeline that must re-run identically.
    *
    * Shape per iteration: one edges⋈labels equi-join, one count
    * aggregate on (node, label), one per-node arg-max — all shuffles on
    * the node key, labels frame node-sized. Same `checkpointEvery`
    * lineage knob as [[pageRank]] for deep iteration — but here it
    * defaults ON (every round): unlike pageRank's once-per-iteration rank
    * reference, each LPA round references the previous labels frame TWICE
    * (the neighbor-count join and the keep-own-label coalesce), so an
    * uncut plan doubles per round — 2^iters copies of the join+window
    * subtree to analyze and codegen even though exchange reuse dedups the
    * runtime shuffles (r17: cutting each round took the communities gate's
    * cold solo from ~13.5 s to ~10 s at sf0.1, values unchanged —
    * PipelineSpec pins 12-round equality across checkpoint settings).
    * The cut frame is node-sized; 0 restores the pure unrolled plan.
    */
  def labelPropagation(edges: DataFrame, nodes: DataFrame,
      iters: Int = 3, checkpointEvery: Int = 1): DataFrame = {
    require(iters >= 1, "labelPropagation needs iterations")
    import org.apache.spark.sql.expressions.Window
    var labels = nodes.select(col("id"), col("id").as("label"))
    for (it <- 1 to iters) {
      val counts = edges
        .join(labels.select(col("id").as("dst"), col("label").as("nl")), "dst")
        .groupBy(col("src"), col("nl")).agg(count(lit(1)).as("c"))
      val w = Window.partitionBy(col("src"))
        .orderBy(col("c").desc, col("nl"))
      val picked = counts
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col("src").as("id"), col("nl").as("picked"))
      labels = labels.join(picked, Seq("id"), "left")
        .select(col("id"), coalesce(col("picked"), col("label")).as("label"))
      labels = maybeCheckpoint(labels, it, iters, checkpointEvery)
    }
    labels
  }

  /** Per-node triangle counts + local clustering coefficient over an
    * undirected graph — the cohesion statistics behind near-dup cluster
    * densification checks and community quality (LPA finds the groups,
    * the coefficient says how tight they are).
    *
    * The degree-orientation algorithm (Cohen's MapReduce triangles /
    * "compact-forward"): direct every edge from its (degree, id)-smaller
    * endpoint to the larger, making the orientation ACYCLIC with
    * max out-degree O(√|E|) even on power-law graphs — the skew bound
    * that keeps the wedge join from exploding on hub nodes. Each
    * triangle {x<y<z} (by that order) then appears exactly once as
    * wedge x→y, x→z closed by edge y→z. Shapes: one degree aggregate,
    * one self-join of the oriented edge list keyed on src (wedges), one
    * equi-join closing them, one explode+count — node- and edge-sized
    * frames throughout; integer outputs, so any engine replays exactly.
    *
    * `pairs` = one row per undirected edge with `a` < `b` (distinct);
    * `nodes` = (id). Output: (id, degree, triangles, coeff) with
    * coeff = 2T / (deg·(deg−1)) rounded 1e-4 (0 when deg < 2).
    */
  def triangles(pairs: DataFrame, nodes: DataFrame): DataFrame = {
    val e = pairs.select(col("a"), col("b"))
    val deg = e.select(col("a").as("id")).unionAll(e.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
    val withDeg = e
      .join(deg.select(col("id").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("id").as("b"), col("deg").as("db")), "b")
    val aFirst = struct(col("da"), col("a")) < struct(col("db"), col("b"))
    val oriented = withDeg.select(
      when(aFirst, col("a")).otherwise(col("b")).as("src"),
      when(aFirst, col("b")).otherwise(col("a")).as("dst"),
      when(aFirst, col("db")).otherwise(col("da")).as("ddeg"))
    val o1 = oriented.select(col("src"), col("dst").as("y"), col("ddeg").as("dy"))
    val o2 = oriented.select(col("src"), col("dst").as("z"), col("ddeg").as("dz"))
    val wedges = o1.join(o2, Seq("src"))
      .filter(struct(col("dy"), col("y")) < struct(col("dz"), col("z")))
    val tri = wedges.join(
      oriented.select(col("src").as("y"), col("dst").as("z")), Seq("y", "z"))
      .select(col("src").as("x"), col("y"), col("z"))
    val tn = tri.select(explode(array(col("x"), col("y"), col("z"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("t"))
    nodes.select(col("id"))
      .join(deg, Seq("id"), "left")
      .join(tn, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("deg"), lit(0L)).as("degree"),
        coalesce(col("t"), lit(0L)).as("triangles"),
        when(coalesce(col("deg"), lit(0L)) >= 2,
          floor(lit(2.0) * coalesce(col("t"), lit(0L)) /
            (col("deg") * (col("deg") - 1)) * 1e4 + 0.5) / 1e4)
          .otherwise(lit(0.0)).as("coeff"))
  }

  /** Newman modularity of a node partition over an undirected graph —
    * the quality metric that tells you whether a community assignment
    * (LPA output, dup clusters, or any attribute partition) beats random
    * wiring: per community c, Q_c = L_c/m − (d_c/2m)², where m = #edges,
    * L_c = intra-community edges, d_c = degree sum. Σ Q_c ∈ [−0.5, 1).
    *
    * `pairs` = one row per undirected edge, `a` < `b`, distinct (the
    * same contract as [[triangles]]); `labels` = (node, label). Shape:
    * two node-keyed equi-joins of edges with labels (shuffle on node id),
    * one degree aggregate, label-sized final frames; m rides a one-row
    * broadcast meta frame — nothing driver-side, no collect. Output per
    * label: (label, deg_sum, intra_edges, q_contrib 1e-4-rounded).
    * Unlabeled endpoints count toward m and degree but join out of the
    * per-label frames — document the labels frame as total if that
    * matters to the caller.
    */
  def modularity(pairs: DataFrame, labels: DataFrame): DataFrame = {
    val e = pairs.select(col("a"), col("b"))
    val m = e.agg(count(lit(1)).cast("double").as("__m"))
    val la = labels.select(col("node").as("a"), col("label").as("__la"))
    val lb = labels.select(col("node").as("b"), col("label").as("__lb"))
    val deg = e.select(col("a").as("node")).unionAll(e.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("d"))
    val degC = deg.join(labels, "node")
      .groupBy(col("label")).agg(sum(col("d")).as("deg_sum"))
    val intraC = e.join(la, "a").join(lb, "b")
      .filter(col("__la") === col("__lb"))
      .groupBy(col("__la").as("label")).agg(count(lit(1)).as("intra_edges"))
    // explicit x*x (not pow) so the float op sequence matches any SQL
    // oracle bit-for-bit from the same integer inputs
    val half = col("deg_sum") / (lit(2.0) * col("__m"))
    degC.join(intraC, Seq("label"), "left")
      .crossJoin(broadcast(m))
      .select(col("label"), col("deg_sum"),
        coalesce(col("intra_edges"), lit(0L)).as("intra_edges"),
        (floor((coalesce(col("intra_edges"), lit(0L)) / col("__m") -
          half * half) * 1e4 + 0.5) / 1e4).as("q_contrib"))
  }

  /** k-core decomposition membership: the maximal subgraph in which
    * every node has degree ≥ k, found by iterative peeling (drop
    * below-k nodes, recompute degrees, repeat to fixpoint). The dense
    * "actually connected" community kernel — degree alone overcounts
    * hubs whose neighbors are all peripheral; the k-core survives only
    * on mutual support. Returns surviving (id, deg) with deg measured
    * INSIDE the core.
    *
    * `pairs` is one row per undirected edge (a, b). Shape per round:
    * one node-keyed degree aggregate + two anti-joins against the
    * (metadata-checked, usually tiny) below-k frame; each round's edge
    * frame is eagerly localCheckpointed — peeling's iterative plan
    * would otherwise nest anti-joins `rounds` deep. Peels converge in
    * few rounds on real graphs; a graph still peeling after `maxIters`
    * fails LOUDLY rather than returning a non-fixpoint (the oracle
    * unrolls a fixed round count, so convergence within it is part of
    * the gated contract).
    */
  /** FULL core decomposition: every node's core number — the largest k
    * for which the node survives in the k-core — in ONE run, via the
    * iterated h-index (Lü et al., Nature Communications 2016, public):
    * h₀(v) = deg(v), h_{t+1}(v) = H({h_t(u) : u ~ v}) where H is the
    * Hirsch operator (largest h such that ≥ h neighbors score ≥ h); the
    * fixpoint of this monotone-decreasing sequence IS the coreness. The
    * standard degeneracy profile a k-sweep of [[kCore]] would need one
    * peel per k for.
    *
    * Shape per round: one edges⋈state equi-join + one node-partitioned
    * rank window + one node-keyed max aggregate — all node/edge-keyed,
    * no global sort. The H operator over a node's sorted neighbor scores
    * is max(least(score_(r), r)), which depends only on the sorted
    * VALUES (ties cannot flip it), so the SQL oracle replays it exactly.
    * State is one long per node per round; every round's frame is
    * eagerly localCheckpointed (the convergence probe materializes it
    * anyway), so the plan stays bounded at any round count. Converges in
    * few rounds on real graphs (bounded by a graph-structural distance,
    * not n); still iterating after `maxIters` fails LOUDLY — the oracle
    * unrolls a fixed round count, so convergence within it is part of
    * the gated contract (the fixpoint makes extra oracle rounds no-ops).
    *
    * Returns (id, core) for every non-isolated node.
    */
  def coreNumbers(pairs: DataFrame, maxIters: Int = 12): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(maxIters >= 1, "coreNumbers needs at least one round")
    val nbr = pairs.select(col("a").as("id"), col("b").as("nb"))
      .unionAll(pairs.select(col("b").as("id"), col("a").as("nb")))
      .localCheckpoint(true) // scanned every round
    var h = nbr.groupBy(col("id")).agg(count(lit(1)).as("h"))
      .localCheckpoint(true)
    var it = 0
    while (true) {
      it += 1
      require(it <= maxIters,
        s"coreNumbers still refining after $maxIters rounds — raise maxIters")
      val joined = nbr.join(
        h.select(col("id").as("nb"), col("h").as("nh")), Seq("nb"))
      val w = Window.partitionBy(col("id")).orderBy(col("nh").desc)
      val next = joined
        .withColumn("rn", row_number().over(w).cast("long"))
        .groupBy(col("id")).agg(max(least(col("nh"), col("rn"))).as("h"))
        // eager, deliberately — the lazy fold-into-probe variant measured
        // 1.07–1.11× warm (r18 A/B; see Dedup.dupClusters' note)
        .localCheckpoint(true)
      val converged = next
        .join(h.withColumnRenamed("h", "hp"), Seq("id"))
        .filter(col("h") =!= col("hp")).isEmpty
      h = next
      if (converged) return h.select(col("id"), col("h").as("core"))
    }
    throw new IllegalStateException("unreachable")
  }

  def kCore(pairs: DataFrame, k: Int, maxIters: Int = 12): DataFrame = {
    require(k >= 1, "k-core needs k >= 1")
    require(maxIters >= 1, "k-core needs at least one round")
    var edges = pairs.select(col("a"), col("b"))
    var it = 0
    while (true) {
      it += 1
      require(it <= maxIters,
        s"kCore still peeling after $maxIters rounds — raise maxIters")
      val deg = edges.select(col("a").as("id"))
        .unionAll(edges.select(col("b").as("id")))
        .groupBy(col("id")).agg(count(lit(1)).as("deg"))
      // eager cuts, deliberately — the r18 lazy variant (fold
      // materialization into the isEmpty probe) measured SLOWER warm on
      // every convergence loop tested (see Dedup.dupClusters' note)
      val bad = deg.filter(col("deg") < k).select("id").localCheckpoint(true)
      if (bad.isEmpty) return deg
      edges = edges
        .join(bad.withColumnRenamed("id", "a"), Seq("a"), "left_anti")
        .join(bad.withColumnRenamed("id", "b"), Seq("b"), "left_anti")
        .localCheckpoint(true)
    }
    throw new IllegalStateException("unreachable")
  }
}
