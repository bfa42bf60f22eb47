package graft.tools

import graft.SparkEntry
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode
import java.nio.file.{Files, Paths}

/** Formatted physical plans of registry queries.
  *
  *  - `Plans [sfDir]` writes PLANS.md: the headline queries plus the
  *    listed shape-critical gates — the artifact to eyeball for
  *    pushdown/pruning/broadcast/top-K shape.
  *  - `Plans <sfDir> <outDir> <suffix> q...` writes each named query's
  *    plan to `<outDir>/<q>_<suffix>.txt` — the before/after dumps that
  *    back a plan claim (e.g. `plans/r17/`).
  */
object Plans {
  private def plan(spark: SparkSession, sfDir: String, name: String): String =
    SparkEntry.queries(name)(spark, sfDir).queryExecution.explainString(FormattedMode)

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val dump = args.drop(1).toList
    if (dump.nonEmpty && dump.size < 3) {
      System.err.println(s"usage: Plans [sfDir] | Plans <sfDir> <outDir> <suffix> q...  (got: ${args.mkString(" ")})")
      sys.exit(2)
    }
    val unknown = dump.drop(2).filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val spark = SparkEntry.localSession(4)
    dump match {
      case outDir :: suffix :: names =>
        new java.io.File(outDir).mkdirs()
        names.foreach { n =>
          val txt = plan(spark, sfDir, n)
          Files.writeString(Paths.get(outDir, s"${n}_$suffix.txt"), txt)
          println(s"[plans] wrote $outDir/${n}_$suffix.txt (${txt.length} chars)")
        }
      case _ => writePlansMd(spark, sfDir)
    }
    spark.stop()
  }

  private def writePlansMd(spark: SparkSession, sfDir: String): Unit = {
    val sb = new StringBuilder
    sb.append("# PLANS — physical plans of the headline queries\n\n")
    sb.append(s"Generated by `graft.tools.Plans` on `$sfDir`. The properties to\n")
    sb.append("check: `PushedFilters`/`ReadSchema` (pushdown + column pruning),\n")
    sb.append("`PartitionFilters` (hour pruning on the store), `BroadcastHashJoin`\n")
    sb.append("(dimension joins), `TakeOrderedAndProject` (top-K without a global\n")
    sb.append("sort), `partial_*` HashAggregate (map-side combine).\n")
    // bench queries + the pair-generation queries whose plans must stay
    // equi-join (no BroadcastNestedLoopJoin/CartesianProduct — PlanSpec
    // asserts it; this file is where to eyeball it)
    val names = SparkEntry.benchQueries ++
      Seq("q_pl_simhash", "q_pl_cos_pairs", "q_pl_cos_pairs_lsh",
          "q_pl_decontam", "q_pl_cap", "q_pl_pack",
          // ungrouped + keyed integral/irate/ema: the day-partitioned
          // pre-passes (no single-partition or whole-group sort of the
          // scan) must stay visible here
          "q_sql_integral_global", "q_sql_window_fns",
          "q_sql_integral_by_tag", "q_sql_ema_by_tag", "q_sql_ema_global",
          // ANN serving: pruned at-rest probes and the ADC scan
          "q_ann_pq", "q_pl_span_dedup", "q_pl_mixture",
          "q_ts_zscore", "q_ts_m4", "q_ts_increase",
          // r6: one-aggregate trend, affine-fold holt, pruned BM25
          // retrieval, A-Res sampling, the distributed self-join route
          "q_ts_deriv", "q_ts_holt", "q_pl_bm25", "q_pl_weighted_sample",
          "q_ann_self_join",
          // r7: the time joins (no nested loop anywhere), the moment
          // aggregate, the narrow projection map, the banded samplers
          "q_ts_asof", "q_ts_range_join", "q_ts_align_join", "q_ts_corr",
          "q_ann_rp", "q_pl_temperature", "q_pl_split",
          // late r7: alert islands, the negated-time forward as-of, the
          // integer-statistic scans
          "q_ts_alert", "q_ts_asof_fwd", "q_ts_cusum", "q_ts_seasonal",
          // r9: subquery decorrelation (semi/anti + agg-join), single-scan
          // conditional aggregates, the melt, funnel equi-joins, the
          // shared-frame over_time window, the blocked/sketch dedup trio
          "q_exists_subquery", "q_scalar_subquery", "q_agg_filter",
          "q_unpivot", "q_ev_funnel", "q_ev_retention", "q_ts_over_time",
          "q_pl_heavy_hitters", "q_pl_edit_dist", "q_pl_incr_dedup",
          // r10: the one-pass CMS cell aggregate, the integer-arithmetic
          // Neyman caps, the partition-pruned BM25 index probe, TPC-H
          // join shapes, the zero-Exchange bucketed join, the
          // degree-oriented wedge close, grid-density CC, Holt-Winters'
          // single rollup+fold
          "q_pl_cms", "q_pl_neyman", "q_pl_bm25_idx", "q_tpch_q3",
          "q_tpch_q5", "q_store_bucketed_join", "q_pl_triangles",
          "q_pl_grid_dbscan", "q_ts_holt_winters", "q_pl_ppr", "q_pl_containment",
          // r11: the full expressible TPC-H set — pure pushdown (Q6),
          // conditional-ratio broadcast joins (Q14/Q8), correlated
          // EXISTS with non-equi residual (Q4), disjunctive nation pair
          // (Q7), outer-join count distribution (Q13), windowed
          // view-max (Q15), correlated-threshold window (Q17),
          // disjunctive pushdown (Q19), anti-join opportunity (Q22),
          // pre-aggregated HAVING top-K (Q18), returned items (Q10)
          "q_tpch_q4", "q_tpch_q6", "q_tpch_q7", "q_tpch_q8",
          "q_tpch_q10", "q_tpch_q13", "q_tpch_q14", "q_tpch_q15",
          "q_tpch_q17", "q_tpch_q18", "q_tpch_q19", "q_tpch_q22",
          // r11 continuation: single-Exchange SCD2 + the as-of lookup
          // composition (no inequality join), the fused single-scan
          // contract suite, the one-shuffle shard layout, the key-skew
          // pre-flight (one-row-broadcast meta joins only), the
          // two-phase winsorize, the cluster-keyed leakage split
          "q_ev_scd2_hist", "q_ev_scd2_lookup", "q_dq_suite",
          "q_dq_skew", "q_pl_shards", "q_pl_winsorize",
          "q_pl_leakage_split",
          // r11 continuation: sketch rollups + stencil sliding windows,
          // the double-correlated Q21 / conditional-agg Q12 shapes, the
          // modularity label joins, the join-size pre-flight
          "q_ts_tdigest", "q_ts_hll_rollup", "q_ts_rolling_p95",
          "q_ts_rolling_ndv", "q_tpch_q12", "q_tpch_q21",
          "q_pl_modularity", "q_dq_join_estimate",
          "q_ts_theta_pairs", "q_dq_histogram",
          // late r11: drift distances (benign broadcast crosses only)
          // and the skip-index probes (bare pushed-filter scans after
          // manifest pruning)
          "q_dq_wasserstein", "q_dq_jsd",
          "q_store_skip_probe", "q_store_skip_value",
          // late r11: lag-stencil ACF, window+phase-join decomposition,
          // the ACF-composed Ljung-Box, the partials-only day re-rollup
          "q_ts_acf", "q_ts_decompose", "q_ts_ljung_box",
          "q_store_rollup_day",
          // r12: the h-index core rounds (node-keyed joins + rank
          // windows), the OPQ-rotated ADC scan (rotation = plan
          // literal), the adaptive-join broadcast decision, the
          // cell-served sketch routes (day PartitionFilters, no raw
          // path), the ordered-fold MI and the two-percentile MAD screen
          "q_pl_core_numbers", "q_ann_opq", "q_join_adaptive",
          "q_sql_sketch_cells", "q_sql_sketch_cells_bucket",
          "q_dq_mad", "q_dq_mutual_info",
          // r13: the tag-keyed cell tier (tdtag scan, day
          // PartitionFilters, no raw path) and the theta-cell-served
          // bucketed NDV
          "q_sql_sketch_cells_tag", "q_sql_sketch_cells_ndv_bucket",
          "q_sql_sketch_cells_tag_bucket", "q_sql_value_skip",
          // r14: the exact basic-aggregate cell routes, the ragged-window
          // HYBRID (cells + hour-pruned edge scans in ONE plan), the
          // fleet-wide selector-less serve, the served total-order LIMIT
          "q_sql_rollup_cells_basic", "q_sql_rollup_cells_tag",
          "q_sql_rollup_cells_rate", "q_sql_rollup_cells_ragged",
          "q_sql_sketch_cells_ragged", "q_sql_rollup_cells_all",
          "q_sql_rollup_cells_limit", "q_sql_rollup_cells_origin",
          "q_sql_rollup_cells_fill",
          // r15: the raw fleet-wide route (selector-less aggregate over
          // the whole source — no OneRow, no tier dependence)
          "q_sql_fleet_raw",
          // r16: the tag-bloom skip route (time ∧ name ∧ k=v tag bits —
          // the plan reads only the surviving file list) and the
          // tag-filtered cell serve (the r16 verdict noted it missing)
          "q_sql_tag_skip", "q_sql_rollup_cells_tagfilter",
          // r17: the OR'd tag-pair union probe and the ragged-hybrid
          // crossover's raw-route decline
          "q_sql_tag_skip_or", "q_sql_rollup_edge_window")
        .filterNot(SparkEntry.benchQueries.contains)
    names.foreach { name =>
      sb.append(s"\n## $name\n\n```\n${plan(spark, sfDir, name)}```\n")
    }
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println(s"wrote PLANS.md (${names.size} queries)")
  }
}
