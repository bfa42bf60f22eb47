package graft

/** FROZEN bench-extras family composition (r12).
  *
  * Until r11, `Bench` sliced extras families from REGISTRY ORDER
  * (name-token groupBy + chunks of 12), so every gate insertion shifted
  * positions. Extras readings are position-dependent: a family child JVM
  * is cold only for slot 1, and later slots run warmed AND pressured by
  * the earlier ones. So a query's reading is comparable across rounds
  * only while its (family, slot) holds, and membership and slot are
  * pinned HERE, explicitly.
  *
  * Rules (spec-enforced in ConfigSpec):
  *  - a NEW bench extra appends at the END of its family (slot = max+1)
  *    if the family has < [[maxFamilySize]] members, else opens a new
  *    family — existing (family, slot) pairs NEVER change;
  *  - ≤ [[maxFamilySize]] queries per family, so no child JVM
  *    re-accumulates the shared-JVM pressure the child harness exists to
  *    avoid;
  *  - every `benchExtra` registry entry MUST have a row here —
  *    [[groups]] fails loudly otherwise (no silent re-derivation).
  *
  * The r12 freeze reproduces the exact r11 composition, so every reading
  * recorded since r11 keeps its (family, slot).
  */
object BenchFamilies {
  val maxFamilySize = 12

  /** Family → ordered member queries (slot = 1-based position). */
  val frozen: Seq[(String, Seq[String])] = Seq(
    "ann0" -> Seq("q_ann_rp", "q_ann_ivf_km", "q_ann_ivf_at_rest",
      "q_ann_self_join", "q_ann_quant", "q_ann_pq", "q_ann_pq_cos",
      "q_ann_ivfpq_at_rest", "q_ann_ivfpq_residual", "q_ann_hamming",
      "q_ann_eval", "q_ann_matryoshka"),
    "ann1" -> Seq("q_ann_mutual_nn_idx", "q_ann_knn_graph", "q_ann_opq"),
    "dq" -> Seq("q_dq_benford", "q_dq_suite", "q_dq_skew",
      "q_dq_join_estimate", "q_dq_histogram", "q_dq_wasserstein",
      "q_dq_jsd", "q_dq_mad", "q_dq_mutual_info"),
    "ev" -> Seq("q_ev_transitions", "q_ev_attribution",
      "q_ev_time_to_convert", "q_ev_cohort_ltv", "q_ev_active_users",
      "q_ev_pattern", "q_ev_rfm", "q_ev_scd2_hist", "q_ev_scd2_lookup"),
    "join" -> Seq("q_join_full_outer", "q_join_adaptive"),
    "pl0" -> Seq("q_pl_entropy", "q_pl_span_dedup", "q_pl_containment",
      "q_pl_minhash_est", "q_pl_simhash", "q_pl_cos_pairs_lsh",
      "q_pl_vocab", "q_pl_cluster_balance", "q_pl_bm25", "q_pl_bm25_idx",
      "q_pl_bm25_probe", "q_pl_tfidf"),
    "pl1" -> Seq("q_pl_lm_score", "q_pl_ppl_buckets", "q_pl_kmeans",
      "q_pl_repetition", "q_pl_weighted_sample", "q_pl_decontam",
      "q_pl_decontam_bloom", "q_pl_grid_dbscan", "q_pl_silhouette",
      "q_pl_pca", "q_pl_whiten", "q_pl_readability"),
    "pl2" -> Seq("q_pl_zipf", "q_pl_ks_drift", "q_pl_dup_clusters",
      "q_pl_dup_clusters_star", "q_pl_pack", "q_pl_cap", "q_pl_neyman",
      "q_pl_mixture", "q_pl_temperature", "q_pl_curation_chain",
      "q_pl_quant", "q_pl_chunk_text"),
    "pl3" -> Seq("q_pl_sessions", "q_pl_hard_negatives", "q_pl_semdedup",
      "q_pl_lm_bigram", "q_pl_rrf", "q_pl_pmi", "q_pl_triangles",
      "q_pl_modularity", "q_pl_ppr", "q_pl_centrality",
      "q_pl_centrality_banded", "q_pl_centrality_knn"),
    "pl4" -> Seq("q_pl_heavy_hitters", "q_pl_cms", "q_pl_edit_dist",
      "q_pl_incr_dedup", "q_pl_communities", "q_pl_bpe", "q_pl_bpe_apply",
      "q_pl_quality_clf", "q_pl_leakage_split", "q_pl_shards",
      "q_pl_winsorize", "q_pl_core_numbers"),
    "pl5" -> Seq("q_pl_assoc_rules"),
    "tpch0" -> Seq("q_tpch_q3", "q_tpch_q5", "q_tpch_q18", "q_tpch_q10",
      "q_tpch_q6", "q_tpch_q14", "q_tpch_q4", "q_tpch_q7", "q_tpch_q8",
      "q_tpch_q13", "q_tpch_q15", "q_tpch_q17"),
    "tpch1" -> Seq("q_tpch_q19", "q_tpch_q22", "q_tpch_q12", "q_tpch_q21"),
    "ts0" -> Seq("q_ts_tdigest", "q_ts_cusum", "q_ts_seasonal",
      "q_ts_deriv", "q_ts_holt", "q_ts_holt_winters", "q_ts_lttb",
      "q_ts_asof", "q_ts_asof_fwd", "q_ts_corr", "q_ts_xcorr",
      "q_ts_alert"),
    "ts1" -> Seq("q_ts_gaps", "q_ts_gaps_absent", "q_ts_rolling_median",
      "q_ts_over_time", "q_ts_align_join", "q_ts_range_join",
      "q_ts_rolling_p95", "q_ts_rolling_ndv", "q_ts_hll_rollup",
      "q_ts_theta_pairs", "q_ts_entropy", "q_ts_backtest"),
    "ts2" -> Seq("q_ts_anomaly_vote", "q_ts_jackknife", "q_ts_sla",
      "q_ts_theil_sen", "q_ts_psi"),
    // r15: the 17 post-r12 cell-serving/value-skip gates enter the bench
    // watch (the engine's flagship serving surface previously had zero
    // per-round perf regression signal). NEW families per the append-only
    // rule — existing (family, slot) pairs untouched, so every recorded
    // reading stays comparable. Registry order within each.
    "cells0" -> Seq("q_sql_sketch_cells_tag", "q_sql_sketch_cells_tag_bucket",
      "q_sql_sketch_cells_ndv_bucket", "q_sql_sketch_cells_ndv_tag",
      "q_sql_value_skip", "q_sql_rollup_cells_basic",
      "q_sql_rollup_cells_bucket", "q_sql_rollup_cells_tag",
      "q_sql_rollup_cells_fl", "q_sql_rollup_cells_rate",
      "q_sql_sketch_cells_desc", "q_sql_rollup_cells_ragged"),
    "cells1" -> Seq("q_sql_sketch_cells_ragged", "q_sql_rollup_cells_limit",
      "q_sql_rollup_cells_origin", "q_sql_rollup_cells_fill",
      "q_sql_rollup_cells_all",
      // r16 appends (slots 6-7): tag-bloom skip routing; tag-filtered
      // cell serving
      "q_sql_tag_skip", "q_sql_rollup_cells_tagfilter",
      // r17 appends (slots 8-9): OR'd tag-pair skip routing; the
      // ragged-hybrid edge-dominated crossover (tier declines → raw)
      "q_sql_tag_skip_or", "q_sql_rollup_edge_window"))

  /** name → (family, 1-based slot) */
  lazy val slotOf: Map[String, (String, Int)] = {
    val m = frozen.flatMap { case (fam, qs) =>
      qs.zipWithIndex.map { case (q, i) => q -> (fam, i + 1) }
    }
    require(m.map(_._1).distinct.size == m.size,
      "BenchFamilies.frozen assigns a query to two slots")
    frozen.foreach { case (fam, qs) =>
      require(qs.size <= maxFamilySize,
        s"bench family $fam has ${qs.size} > $maxFamilySize members — open a new family")
    }
    m.toMap
  }

  /** The child-JVM groups for the given extras set, in frozen order.
    * A benchExtra without a frozen slot is a loud error — assign it a
    * slot (append-only) before flagging it, so its position is fixed
    * from its first recorded run.
    */
  def groups(extras: Seq[String]): Seq[(String, Seq[String])] = {
    val known = slotOf // forces the uniqueness/size checks
    val missing = extras.filterNot(known.contains)
    require(missing.isEmpty,
      s"bench extras without a frozen (family, slot) in BenchFamilies: ${missing.mkString(", ")}")
    val present = extras.toSet
    frozen.map { case (fam, qs) => fam -> qs.filter(present) }
      .filter(_._2.nonEmpty)
  }
}
