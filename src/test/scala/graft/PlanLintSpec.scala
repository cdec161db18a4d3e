package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-hygiene gate over the WHOLE batch registry: no registered query
  * may plan a CartesianProduct, and BroadcastNestedLoopJoin is allowed
  * only for the named 1-row-totals broadcasts (corpus size / normalizer
  * cross joins — the pattern the round-2 audit blessed). Catches the
  * classic scale regressions (accidental cross join from a dropped join
  * key, a non-equi join slipping in) for every future query added.
  */
class PlanLintSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = TestSpark.sf

  /** Queries that EXECUTE work on construction (streaming runs, writes,
    * iterative loops) — a lint pass over the final frame would re-run
    * them here, so they are exempt from THIS spec's planning pass and
    * instead gated by [[ConstructionPlanSpec]], which executes each one
    * with a listener linting every plan it actually runs (round-12
    * item 5: the exemption list is no longer a manual promise).
    */
  private val constructionRuns: Set[String] = PlanLintSpec.constructionRuns


  /** 1-row aggregate broadcast cross joins (corpus totals/normalizers):
    * the build side is a single row by construction, so the nested-loop
    * join is O(n) — the approved exception.
    */
  private val oneRowCross: Set[String] = Set(
    "curate_unigram_surprisal", "curate_mix_weights", "doc_bm25_topk",
    "doc_known_item_eval",
    // 1-row piece-mass total broadcast (the lp normalizer readout)
    "tok_unigram_em",
    "doc_pmi_bigrams",
    "q14_promo_share", "q17_small_quantity", "q22_rich_no_orders",
    "doc_rrf_fusion",
    "ev_funnel", "q_above_avg_orders", "dq_documents", "dq_events",
    "layout_zorder", "sketch_hist_quantiles", "doc_lm_nll",
    "curate_pps_sample",
    // bounded-broadcast exception: the exact-scan baseline joins the
    // 10-row query side against the collection on a non-equi condition
    // (q_id <> n_id) — the deliberate brute-force shape
    "sim_bruteforce_topk", "sim_matryoshka_overlap", "sim_ivf_recall",
    "sim_ann_recall", "sim_ivfpq_recall",
    // |labels|-row centroid-frame broadcast (the k-means assignment shape)
    "sim_centroid_eval",
    // 1-row source-count broadcast (epoch ordering normalizer)
    "curate_curriculum",
    // 1-row day-span broadcast (calendar scaffold for gap filling)
    "ev_acf", "dq_benford",
    "ev_gap_fill", "ev_trend_regression", "ev_anomaly_zscore",
    "ev_changepoint", "ev_holt_forecast", "ev_holt_backtest",
    "ev_holt_winters", "ev_anomaly_mad",
    "dq_value_drift", "q_weighted_median", "ev_ab_cuped",
    "curate_sample_ks", "curate_upsample_plan",
    "ev_seasonality_dow", "q11_important_stock", "q_copurchase_pairs",
    // q_copurchase_pairs' exact shape: 1-row basket-total broadcast
    "q_assoc_rules",
    // Scans.shardByRange's 1-row bounds broadcast (the segmented-scan
    // scaffold curate_pps_sample also rides)
    "er_sorted_neighborhood",
    "ev_ewma", "sketch_hll_sliding", "q_relational_division",
    // two 1-row scalar totals (all-period bitmap popcount + exact total)
    "sketch_bitmap_dau",
    // fixed-cardinality type-pair enumeration (≤ |event_type|² rows) and
    // the OR-keyed minima fan-in — both sides bounded by k·|types|
    "sketch_kmv_overlap",
    // round-5 continuation: 1-row corpus-total / model-artifact
    // broadcasts — N docs (chi2), community degree totals (modularity),
    // point estimate + two CI rank picks (bootstrap), date anchor +
    // customer count (rfm), the fitted 1-row PCA component (project)
    "doc_chi2_terms", "graph_modularity", "q_bootstrap_ci",
    "q_rfm_segments", "sim_pca_project",
    // round-6 continuation: 1-row target-corpus LM totals (DSIR) and the
    // 1-row corpus-mean / correct-count frames of the trained classifier
    "curate_dsir_weights", "doc_lr_classifier",
    // rides doc_lr_classifier's approved 1-row frames (corpus mean,
    // doc-count normalizer) plus its own 1-row count broadcast
    "curate_el2n",
    // round-7: 1-row time/id bounds broadcast (file-slot assignment) and
    // the kmv_overlap-style type-pair enumeration (≤ |types|² rows,
    // k-minima fan-in bounded by k·|types|)
    "layout_range_sort", "sketch_kmv_diff", "layout_hilbert",
    // round-7 continuation: PACF rides on ev_acf's approved 1-row
    // span/total broadcasts (the ladder itself is a 1-row fold); DSIR
    // selection rides on the weights' approved 1-row target/total
    // crosses (the selection itself is a narrow map + top-k)
    "ev_pacf", "ev_yule_walker", "curate_dsir_select",
    // round-7 continuation 3: the AR forecast folds the same ladder on
    // the acf pivot × last-4-window × mean — three 1-row broadcasts;
    // Ljung–Box crosses the 1-row model/mean/denominator frames onto
    // the metadata-sized dense series and pivoted residual ACF
    "ev_ar_forecast", "ev_ljung_box",
    // rides on doc_lm_nll's approved 1-row vocab-size broadcast; the
    // bucketing itself is a |langs|-row equi-join
    "doc_ppl_buckets",
    // round-7 continuation 4: the ADC retrieval broadcasts the bounded
    // 10-row query side against the quantized collection (the
    // sim_bruteforce_topk shape); the temperature mix crosses two
    // 1-row totals (token mass, tempered mass) onto the |langs| frame
    "sim_sq8_topk", "curate_temperature_mix",
    // the 8-byte-signature Hamming scan broadcasts the bounded 10-row
    // query side against the collection (the sim_bruteforce_topk shape
    // — and cheaper: the probe row is two BIGINTs, not the vector)
    "sim_bq_hamming", "curate_hard_negatives",
    // doc_lm_nll's shape with the 1-row bigram-type-count broadcast
    "doc_lm_kn_nll",
    // round-7 continuation 5: DTW rides the approved 1-row day-span
    // scaffold broadcast plus the kmv_overlap-style type-pair
    // enumeration (|types|²/2 rows, series bounded by calendar span)
    "ev_dtw",
    // ev_holt_forecast's exact shape: 1-row max(day) anchor broadcast
    "ev_kalman_level", "ev_theta_forecast",
    // round-11 continuation: the exact ground-truth side range-joins the
    // 15-row query-interval frame (itself derived from a 1-row bounds
    // aggregate) against per-minute counts — a ≤15-row broadcast
    "sketch_dyadic_range")

  /** Undefined-partition WindowExec frames that are VALUE-BOUNDED by
    * construction — the only unpartitioned windows a registered batch
    * query may plan. Every name here ranks a frame whose row count is
    * bounded independent of corpus size: a post-`limit(K)` cut (the
    * q_assoc_rules TakeOrdered-then-rank pattern), a calendar-day /
    * bucket / fixed-k model frame, or a ≤|types|² enumeration. Anything
    * NOT on this list that plans an unpartitioned window fails the gate
    * — the all-rows-to-one-partition shape at corpus scale. Justify
    * every addition with the bound.
    */
  private val boundedGlobalWindow: Set[String] = Set(
    // post-limit(K) rank frames (the TakeOrdered-then-rank pattern)
    "q_assoc_rules", "doc_zipf_fit", "doc_bm25_topk", "doc_rrf_fusion",
    // calendar-day frames: the window input is the gap-filled day
    // scaffold (or a per-day count table) — bounded by the date span
    "ev_cumulative_users", "ev_moving_corr", "ev_decompose",
    "ev_poisson_burst", "ev_ar_forecast", "ev_ljung_box", "ev_survival_km",
    // value-bounded histogram/bucket-count frames (prefix sums over
    // per-bucket counts: distinct lengths, quantile buckets, 10k money
    // bands / discrete recency-freq values via shardRank)
    "curate_sample_ks", "sketch_hist_quantiles", "q_rfm_segments",
    // fixed-cardinality model frames: B bootstrap replica means,
    // |sources| epochs, ≤50 distinct part sizes, vocab/piece-sized EM
    // frame, |folds|-sized classifier eval frame
    "q_bootstrap_ci", "curate_curriculum", "q_skyline_parts",
    "tok_unigram_em", "doc_lr_classifier")

  /** One planning pass per registered batch query (streaming and
    * construction-running queries excluded — the latter execute work on
    * construction; their plans are asserted by their own specs), shared
    * by both plan-shape gates below so the registry is planned once.
    */
  private lazy val planInfo: Seq[(String, String, Int)] = {
    val targets = SparkEntry.queries.filterNot { case (n, _) =>
      n.startsWith("stream_") || constructionRuns(n)
    }
    targets.toSeq.sortBy(_._1).map { case (name, fn) =>
      val qe = fn(spark, sf).queryExecution
      val undef = qe.sparkPlan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.isEmpty => w
      }.size
      (name, qe.explainString(org.apache.spark.sql.execution.SimpleMode),
        undef)
    }
  }

  test("no registered batch query plans a cartesian product or stray nested-loop join") {
    val violations = planInfo.flatMap { case (name, plan, _) =>
      val cart = plan.contains("CartesianProduct")
      val bnlj = plan.contains("BroadcastNestedLoopJoin") && !oneRowCross(name)
      if (cart) Some(s"$name: CartesianProduct")
      else if (bnlj) Some(s"$name: unapproved BroadcastNestedLoopJoin")
      else None
    }
    assert(violations.isEmpty, violations.mkString("\n"))
  }

  /** REGISTRY-WIDE undefined-partition window gate (round-11 verdict
    * item 1): no registered batch query may plan a WindowExec with an
    * empty partitionSpec unless its frame is on the value-bounded
    * allowlist above. This subsumes the former six-name segmented-scan
    * assertion (curate_pps_sample, ev_peak_concurrency, curate_el2n,
    * q_weighted_median, dedup_exact_substr, dedup_substr_savings — none
    * of which may ever join the allowlist) and is the mechanical form
    * of the manual sweep that caught sim_ood_knn / graph_single_linkage.
    */
  test("no registered batch query plans an unbounded undefined-partition window") {
    val bad = planInfo.flatMap { case (name, _, undef) =>
      if (undef > 0 && !boundedGlobalWindow(name))
        Some(s"$name: $undef undefined-partition WindowExec") else None
    }
    assert(bad.isEmpty, bad.mkString("\n"))
  }
}

object PlanLintSpec {
  /** The construction-running exemption list, shared with
    * [[ConstructionPlanSpec]] — adding a name here automatically
    * subjects it to the executed-plan gate (round-12 item 5).
    */
  private[graft] val constructionRuns: Set[String] = Set(
    "dedup_clusters", "dedup_canonical", "curate_soft_dedup",
    "curate_full_pipeline",
    "graph_pagerank", "doc_textrank", "graph_triangles",
    "graph_neighbor_jaccard",
    "graph_hits", "graph_bfs", "graph_sssp", "graph_mst",
    "graph_single_linkage",
    "sim_mmr_rerank",
    "sim_kmeans",
    "tok_bpe_merges", "tok_bpe_compression", "tok_bpe_fertility",
    "ev_markov_stationary", "ev_markov_hitting", "ev_markov_entropy",
    "q_bucketed_join", "q_merge_upsert",
    "src_csv_roundtrip", "src_json_roundtrip", "src_json_extract",
    "src_orc_roundtrip", "src_partitioned_layout",
    "src_text_roundtrip", "src_binaryfile_scan",
    "src_parquet_zstd_roundtrip", "src_schema_evolution",
    "src_csv_badrecords",
    // writes the cell-partitioned inverted-file layout on construction
    "layout_ivfpq_lists",
    // collects the bounded query-cell ranking + truth count on construction
    "sim_ivfpq_probe_curve",
    // collects the bounded query-cell ranking + radius truth count
    "sim_range_probe_curve",
    // iterative frontier loop (graft.Iterate) with a pin every 4 steps; the
    // walk-multiplicity scaffold is a 3-row broadcast cross hidden
    // behind the initial checkpoint, every step join is an equi-join
    "graph_random_walks",
    // seeded iterative refinement (count + per-round checkpoints on
    // construction); every expansion/scoring join is an equi-join
    "sim_nndescent",
    // beam-search hops checkpoint on construction; the 10-query × 8-entry
    // seed scoring is the bounded-broadcast exception, hops are equi-joins
    "sim_graph_search",
    // ADC-scored beam hops checkpoint on construction; the 10-row query
    // x entry seed is the bounded-broadcast exception, hops equi-joins
    "sim_graph_pq_search",
    // the beam sweep runs three checkpointed hop loops on construction
    "sim_graph_recall_curve",
    // insert path: base-graph build + hop loop checkpoint on construction
    "sim_graph_insert",
    // canonical-graph consumers: the shared searchGraph artifact
    // checkpoints on construction; all downstream joins are equi-joins
    "sim_knn_graph", "sim_ood_knn",
    // graph_random_walks' loop shape with the biased per-step window;
    // same hidden 2-row walk scaffold, equi-joins throughout
    "graph_node2vec",
    // greedy selection loop: one 1-row top-1 collect per round, the
    // min-distance state is narrow re-projections (no joins at all)
    "curate_kcenter_coreset",
    // chunk-metadata / frame-index frames are checkpointed on
    // construction; downstream is fp-keyed / (asset, frame)-keyed
    // equi-joins only
    "dedup_cdc_chunks", "mm_frame_sample",
    // pagerank's iteration shape with a 1-row seed collect
    "graph_ppr",
    // ALS-shaped iterative factorization: per-half-step localCheckpoint
    // pins; the k² gram frames are 1-row broadcast crosses
    "doc_nmf_topics",
    // level-synchronous multi-source BFS with checkpoint pins
    "graph_betweenness", "graph_betweenness_approx", "graph_closeness",
    // HyperANF register-propagation loop with checkpoint pins
    "graph_anf",
    // collects the 65-double centroid artifact on construction; the
    // decile-edge / median / totals frames are 1-row broadcasts
    "dq_embedding_drift",
    // collects the 2·|dims| moment artifact on construction; the score
    // pass is one scan + top-k
    "dq_embedding_outliers")
}
