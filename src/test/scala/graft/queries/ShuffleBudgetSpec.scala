package graft.queries

import graft.SparkSpec

/** Catalog-wide shuffle-budget invariant — the fourth sweep-style check
  * (after [[JoinShapeSpec]], [[ScalingSpec]], [[ScanPruningSpec]]): every
  * query's physical plan must not EXCEED its audited shuffle-exchange
  * count. Shuffles are the unit of cost that survives a 1000x scale-up —
  * a broadcast join silently degrading to a shuffle join, a lost
  * partitioning reuse (window then groupBy on the same key should pay ONE
  * exchange), or a new aggregation grain each add an all-data network
  * pass that no correctness test can see. The budget freezes the plan
  * shape the per-query PlanSpec asserts piecemeal, for ALL 175 entries.
  *
  * Budgets are the audited round-11 population (`ShuffleBudgetAudit`
  * regenerates them): broadcast exchanges are deliberately NOT counted
  * (the cheap alternative the budget protects), and AQE coalescing never
  * REMOVES a logical shuffle from the initial plan, so the count is
  * stable across sf tiers. A query coming in UNDER budget is fine (an
  * improvement — re-run the audit and tighten when one lands); OVER
  * budget fails until the new exchange is reviewed as intrinsic.
  */
class ShuffleBudgetSpec extends SparkSpec {

  private val budget: Map[String, Int] = Map(
    "a1_group_agg" -> 1,
    "a5_median" -> 1,
    "a5b_median_approx" -> 1,
    "a6_count" -> 1,
    "a7_distinct" -> 1,
    "a8_duplicate_keys" -> 1,
    "a9_range_check" -> 1,
    "ag1_rollup" -> 1,
    // r20 re-audit: the multi-distinct EXPAND (3× the input rows through
    // 2 exchanges) was split into two dedup-then-count aggregations
    // joined on the 6-row group key — 4 exchanges, but each carries
    // map-side-deduped (flag, key) pairs instead of the tripled raw
    // table. Measured 1.34 s → 0.60 s at sf0.1, identical output.
    "ag2_approx_distinct" -> 4,
    "ag3_cube" -> 1,
    "aj1_asof_join" -> 1,
    "bk1_bucketed_join" -> 0,
    "bm25_1_retrieval" -> 5,
    "bp1_boilerplate" -> 1,
    "bpe1_subword_stats" -> 0,
    "c1_scalar_suite" -> 0,
    "cd1_chunk_dedup" -> 2,
    "cd2_line_dedup" -> 2,
    "cen1_label_centroids" -> 1,
    "ch1_doc_chunking" -> 0,
    "cms1_count_min" -> 0,
    "cp1_compaction" -> 1,
    "cp2_compact_partitions" -> 1,
    "cr1_corpus_report" -> 1,
    "ct1_contamination" -> 1,
    "ct2_ngram_decontamination" -> 2,
    "ctr1_contrastive_pairs" -> 3,
    "ctr2_contrastive_ivf" -> 5,
    "cur1_curation" -> 7,
    "cur2_curation_v2" -> 2,
    "cur3_bpe_curation" -> 2,
    "d1_exact_dedup" -> 1,
    "d2_minhash_lsh" -> 4,
    "d3_simhash" -> 1,
    "d3b_simhash_wide" -> 1,
    "d4_ngram_jaccard" -> 1,
    "d5_cosine_near_dup" -> 0,
    "d5b_banded_near_dup" -> 1,
    "dc1_dup_clusters" -> 0,
    "dc2_incremental_clusters" -> 3,
    "diff1_snapshot_diff" -> 2,
    "diff2_apply_delta" -> 6,
    "dq_checks" -> 1,
    "dsir1_importance_weights" -> 4,
    "ew1_ewma_clicks" -> 1,
    "ex1_shard_export" -> 2,
    "ex2_jsonl_export" -> 2,
    "f1_conj_filter" -> 0,
    "f2_isin_filter" -> 0,
    "f3_disjunctive_filter" -> 0,
    "f4_null_guard" -> 0,
    "f5_notnull_filter" -> 1,
    "ff1_filter_funnel" -> 1,
    "fq1_mean_token_freq" -> 2,
    "fr1_token_frequency" -> 1,
    "fz1_fuzzy_match" -> 0,
    "g1_explode_tokens" -> 1,
    "gf1_gopher_funnel" -> 1,
    "gq1_gopher_repetition" -> 0,
    "h1_top_revenue_orders" -> 1,
    "h2_region_nation_revenue" -> 1,
    "h3_returned_revenue" -> 1,
    "h4_big_orders" -> 1,
    // hc1 moved 1 → 2 deliberately (round 11): the pre-cap host_total
    // left the rank window (a count-over-partition there blocked the
    // WindowGroupLimit pushdown and buffered whole hosts in one task)
    // for a partial-aggregated groupBy joined back on the host key.
    "hc1_host_cap" -> 2,
    "hh1_heavy_hitters" -> 2,
    "hist1_price_histogram" -> 2,
    "hll1_sketch_reuse" -> 6,
    // 8 → 4: each side is shingled once into its shingle sets, the band
    // keys come from those sets and the candidates feed only the verify
    // join — no semi-join copies of the candidates or the sets
    "il1_incremental_lsh" -> 4,
    "il2_bloom_prefilter" -> 0,
    "j1_left_join" -> 0,
    "j2_anti_join" -> 0,
    "j3_inner_join_orderby" -> 1,
    "j4_star_chain" -> 1,
    "js1_json_extract" -> 1,
    "js2_from_json" -> 1,
    "k1_table_roundtrip" -> 0,
    "k2_probe_staging" -> 1,
    "k4_catalog_comments" -> 0,
    "kl1_source_divergence" -> 10,
    "la1_list_agg" -> 1,
    "m1_metric_by_brand" -> 1,
    "m2_metric_no_join" -> 1,
    "m3_metric_multi_dim" -> 1,
    "m4_metric_fanout" -> 1,
    "m5_view_roundtrip" -> 1,
    "m6_metric_having" -> 1,
    "m7_metric_yaml" -> 1,
    "m8_review_metrics_yaml" -> 1,
    // 8 → 7: mh1 probes the stored LSH index, whose `_sets` table is
    // bucketed by doc, so the verify reads it without the corpus-side
    // exchange the parquet-path sets paid. 7 → 3: the probe builds its
    // candidates once from the batch's one shingle-set pass, and
    // `_banded` is bucketed by the join's own (band, bh) keys, so its
    // scan no longer shuffles
    "mh1_signature_reuse" -> 3,
    "mix1_corpus_mix" -> 0,
    "mix2_temperature_mix" -> 3,
    "ml1_mixed_language" -> 2,
    "mm1_media_meta" -> 0,
    "mm2_media_features" -> 0,
    "mm3_frame_sample" -> 0,
    "mrr1_retrieval_eval" -> 6,
    "p1_project_rename" -> 0,
    "p2_strip_prefix" -> 0,
    "p3_derived_column" -> 0,
    "p4_fillna" -> 0,
    "pca1_top_component" -> 0,
    "pii1_redaction" -> 0,
    "pk1_sequence_packing" -> 1,
    // pk1b (round 11): Prefix.runningSum trades pk1's single exchange —
    // whose window sorts an entire source in one task — for four extra
    // compact-key exchanges (order-cut agg, band agg, G×B boundary
    // window, band-local window) so each task sorts ~|source|/bands
    // rows. Reviewed as intrinsic: the tb1b argument, for a projection.
    "pk1b_packing_prefix" -> 5,
    "pk2_bpe_packing" -> 1,
    "pmi1_collocations" -> 4,
    "ppl1_lm_perplexity" -> 5,
    "pr1_profile" -> 2,
    "pt1_partition_pruning" -> 0,
    "pv1_pivot" -> 2,
    "pv2_unpivot" -> 0,
    "qb1_quality_quartile" -> 1,
    // qb1b (round 11): distributed ntile — four extra compact-key
    // exchanges (score-cut agg, band-count agg, boundary window,
    // band-local window; the group total rides the boundary window's
    // frame, not a second input pass) so no task sorts a whole source.
    // Reviewed as intrinsic: the tb1b argument, for a rank.
    "qb1b_quartile_prefix" -> 5,
    "qk1_top_quality_docs" -> 1,
    "r1_raw_explore" -> 1,
    "ret1_weekly_retention" -> 5,
    "rf1_reviews_pipeline" -> 2,
    "rj1_range_join" -> 0,
    "s1_topk" -> 0,
    "s2_csv_roundtrip" -> 0,
    "s3_landing_route" -> 6,
    "s4_orc_roundtrip" -> 2,
    "sd1_first_event" -> 1,
    "se1_schema_evolution" -> 1,
    "semd1_semantic_dedup" -> 3,
    "semd2_incremental_semantic" -> 3,
    "seq1_user_event_sequence" -> 1,
    "seq2_bounded_sequence" -> 1,
    "sim1_ann_topk" -> 1,
    "sim2_ivf_topk" -> 5,
    "sim3_quantized_topk" -> 1,
    "sim4_ivf_persisted" -> 5,
    "sim5_knn_graph" -> 2,
    "sim5b_knn_graph_approx" -> 7,
    "sk1_salted_join" -> 0,
    "sk2_salted_agg" -> 2,
    "sk3_power_law_agg" -> 2,
    "so1_set_ops" -> 2,
    "sp1_dataset_split" -> 0,
    "sp2_leakage_safe_split" -> 2,
    "ss1_stratified_sample" -> 1,
    "st1_window_agg" -> 1,
    "st2_sessionization" -> 1,
    "st3_sliding_window" -> 1,
    "st4_interval_join" -> 0,
    "st5_stream_static_enrich" -> 1,
    "st6_session_window" -> 1,
    "stat1_correlation" -> 1,
    "std1_standardize" -> 1,
    "t1_token_stats" -> 0,
    "t2_quality_score" -> 0,
    "t3_langid" -> 0,
    "t4_fingerprint" -> 0,
    "t5_regex_tokens" -> 0,
    "t6_normalize" -> 0,
    "tb1_token_budget" -> 1,
    // tb1b (round 11): the histogram-pruned budgetFillByScore trades the
    // generic form's single exchange — whose window SORTS each entire
    // group in one task — for four extra compact-key exchanges (score-cut
    // agg, band agg, G×B boundary window, threshold min) so the remaining
    // per-group sort covers only the ~budget-sized survivor head.
    // Reviewed as intrinsic: each new exchange carries (group,
    // score/band) grains, never documents.
    "tb1b_token_budget_pruned" -> 5,
    "tb2_bpe_token_budget" -> 1,
    "tf1_tfidf_topterms" -> 3,
    // th1 moved 0 → 5 deliberately (round 12): the overlap matrix now
    // computes END-TO-END in-plan (r11 collected blobs and looped on
    // the driver, so the RETURNED plan was a 0-shuffle local scan). The
    // five exchanges are the exact-companion's distinct + self-join +
    // pair aggregation plus the sketch aggregate — all compact-key;
    // sketch joins are broadcast (uncounted, G rows by construction).
    "th1_theta_overlap" -> 5,
    "ts1_resample_gaps" -> 2,
    "u1_sentiment_udf" -> 0,
    "u2_ai_translate" -> 1,
    "up1_upsert" -> 0,
    "up2_upsert_partitioned" -> 0,
    "url1_url_filter" -> 0,
    "url2_canonical_dedup" -> 1,
    "w1_row_number" -> 1,
    "w2_running_sum" -> 1,
    "w3_rank_family" -> 1,
    "wf1_workflow_dag" -> 0,
    "ws1_weighted_sample" -> 1,
    "x1_adhoc_sample" -> 0,
    "zo1_zorder_key" -> 0,
    "zo2_zorder_skipping" -> 0
  )

  test("catalog-wide: no query exceeds its audited shuffle budget") {
    val offenders = CatalogPlans.executedPlans
      .flatMap { case (name, plan) =>
        val n = ScanPruning.shuffleCount(plan)
        budget.get(name) match {
          case None => Some(s"$name: no audited budget (new query?)")
          case Some(b) if n > b => Some(s"$name: $n shuffles > budget $b")
          case _ => None
        }
      }
    assert(offenders.isEmpty,
      "shuffle-budget violations (review the new exchange before " +
        "raising the budget):\n  " + offenders.mkString("\n  "))
  }

  test("budget table carries no dead entries") {
    val dead = budget.keySet -- graft.SparkEntry.queries.keySet
    assert(dead.isEmpty, s"stale budget entries: ${dead.mkString(", ")}")
  }
}
