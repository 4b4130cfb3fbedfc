"""Physical-plan quality gates (SURVEY.md §4: Catalyst supplies the
optimizer — these tests assert the free optimizations actually land,
because a plan that reads extra columns or shuffles a dim table is a
100 TB bug even when sf0.01 correctness is green)."""

from __future__ import annotations

import pytest

from mapreduce_c_implementation_spark.plans.inspect import (
    assert_broadcast_join,
    assert_parquet_pushdown,
    assert_read_schema_only,
    count_shuffles,
    physical_plan,
)
from mapreduce_c_implementation_spark.registry import get_operator


def test_q6_predicates_push_to_parquet(spark, sf_correct):
    df = get_operator("tpch_q6").query_fn(spark, sf_correct)
    assert_parquet_pushdown(df, "GreaterThanOrEqual(l_shipdate")
    assert_parquet_pushdown(df, "GreaterThanOrEqual(l_discount")
    assert_parquet_pushdown(df, "LessThan(l_quantity")


def test_q6_scan_prunes_columns(spark, sf_correct):
    df = get_operator("tpch_q6").query_fn(spark, sf_correct)
    assert_read_schema_only(
        df, {"l_extendedprice", "l_discount", "l_shipdate", "l_quantity"}
    )


def test_filter_project_prunes_and_pushes(spark, sf_correct):
    df = get_operator("filter_project_pushdown").query_fn(spark, sf_correct)
    assert_parquet_pushdown(df, "EqualTo(l_returnflag,R)")
    assert_read_schema_only(
        df,
        {
            "l_orderkey",
            "l_partkey",
            "l_quantity",
            "l_extendedprice",
            "l_discount",
            "l_shipdate",
            "l_returnflag",
        },
    )


def test_star_join_broadcasts_both_dims(spark, sf_correct):
    df = get_operator("join_star_broadcast").query_fn(spark, sf_correct)
    assert_broadcast_join(df, expect=2)
    # joins are broadcast => the only shuffle is the final aggregation's
    assert count_shuffles(df) == 1


def test_word_count_single_shuffle(spark, sf_correct):
    """The flagship map->combine->shuffle->reduce pipeline must compile
    to exactly one exchange (the partial agg IS the combiner)."""
    df = get_operator("word_count").query_fn(spark, sf_correct)
    assert count_shuffles(df) == 1
    plan = physical_plan(df)
    assert "partial_count" in plan  # the map-side combiner


def test_inverted_index_single_shuffle(spark, sf_correct):
    df = get_operator("inverted_index").query_fn(spark, sf_correct)
    assert count_shuffles(df) == 1


def test_topk_uses_take_ordered(spark, sf_correct):
    """orderBy().limit(k) must compile to TakeOrderedAndProject — never a
    global sort of the full aggregate."""
    df = get_operator("word_count_topk").query_fn(spark, sf_correct)
    plan = physical_plan(df)
    assert "TakeOrderedAndProject" in plan, plan


def test_lineage_agg_prunes_documents_text(spark, sf_correct):
    """input_lineage aggregates metadata only — the (large) text column
    must not be read."""
    df = get_operator("input_lineage").query_fn(spark, sf_correct)
    assert_read_schema_only(df, {"lang", "n_chars"})


def test_session_windows_share_one_exchange(spark, sf_correct):
    """Both window functions and the final agg in sessionize_batch share
    user_id partitioning; Catalyst must reuse it (1 shuffle total)."""
    df = get_operator("sessionize_batch").query_fn(spark, sf_correct)
    assert count_shuffles(df) == 1


def test_partitioned_sink_prunes_partitions(spark, sf_correct):
    """The partitioned-parquet read must prune to the single matching
    partition directory (PartitionFilters, not just PushedFilters)."""
    df = get_operator("partitioned_parquet_sink").query_fn(spark, sf_correct)
    plan = physical_plan(df)
    assert "PartitionFilters" in plan and "l_returnflag" in plan, plan


def test_topk_windows_push_rank_limit(spark, sf_correct):
    """rank<=K filters over partitioned windows must compile to
    WindowGroupLimit (per-partition top-K state, map-side pre-limited)
    — without it every bucket/query group buffers its FULL membership
    through the sort, the difference between O(K) and O(group) state at
    100 TB."""
    for name in ("quality_bucket_sample", "ann_pq_adc"):
        plan = physical_plan(get_operator(name).query_fn(spark, sf_correct))
        assert "WindowGroupLimit" in plan, (name, plan)


def test_dpp_scan_has_dynamic_pruning_subquery(spark, sf_correct):
    """The join-derived dim filter must reach the fact scan as a
    DYNAMIC partition-pruning expression — the scan's PartitionFilters
    contain a dynamicpruning subquery, so partition directories are
    skipped at runtime based on the dim side's evaluated keys."""
    df = get_operator("dynamic_partition_pruning_join").query_fn(spark, sf_correct)
    plan = physical_plan(df)
    assert "dynamicpruning" in plan.lower(), plan
    assert "PartitionFilters" in plan, plan


def test_minhash_band_join_is_equi_join(spark, sf_correct):
    """The LSH candidate join must be a hash-key equi-join (SortMerge or
    ShuffledHash/Broadcast), NEVER BroadcastNestedLoop — the O(n*m)
    plan that kills near-dedup at scale."""
    df = get_operator("dedup_minhash_lsh").query_fn(spark, sf_correct)
    plan = physical_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_q5_broadcasts_all_dims(spark, sf_correct):
    """Six-table Q5: the four dims broadcast; at most the fact-fact join
    + final agg shuffle."""
    df = get_operator("tpch_q5_local_supplier").query_fn(spark, sf_correct)
    # 4 dims + the 1-row min(r_name) scalar-subquery semi join
    assert_broadcast_join(df, expect=5)
    assert count_shuffles(df) <= 2


def test_ann_lsh_candidate_join_broadcasts_probes(spark, sf_correct):
    """The probe set is tiny and explicitly broadcast — the corpus side
    must not shuffle for the candidate join."""
    df = get_operator("ann_lsh_bucketed").query_fn(spark, sf_correct)
    assert_broadcast_join(df, expect=1)


def test_embedding_cosine_candidates_are_equi_join(spark, sf_correct):
    """Round-2 de-weak: near-dup candidates come from the 2x3-bit LSH
    band equi-join; the all-pairs vec_id < vec_id nested loop is gone."""
    df = get_operator("dedup_embedding_cosine").query_fn(spark, sf_correct)
    plan = physical_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_tfidf_df_table_shuffle_joins(spark, sf_correct):
    """Round-2 de-weak: the vocabulary-sized document-frequency table
    must NOT broadcast (zero broadcast joins); N arrives via a scalar
    subquery, not a join or a driver-side count()."""
    df = get_operator("tfidf_top_terms").query_fn(spark, sf_correct)
    assert_broadcast_join(df, expect=0)
    plan = physical_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "Subquery" in plan, plan


# Ops whose SEMANTICS are a cross product (explicit cartesian surface,
# exact brute-force baseline) — everything else must never nested-loop.
# join_asof_nearest's BNLJ over the broadcast DISTINCT-dates side (dim-
# sized by construction) is its documented design, not an accident.
# unigram_logprob_score's BNLJ is the 1-row corpus-total broadcast into
# the frequency table (a scalar subquery in DataFrame form) — the
# nested-loop side is exactly one row by construction.
_NESTED_LOOP_EXEMPT = {
    "join_cross",
    "ann_bruteforce_topk",
    "join_asof_nearest",
    "unigram_logprob_score",
    # 1-row (N, avgdl) stats broadcast — single-row side by construction
    "bm25_topk_docs",
    # 1-row unigram-total and pair-total broadcasts, same pattern
    "token_pmi_pairs",
    # 1-row key-count totals broadcast into the top-N, same pattern
    "key_skew_profile",
    # 1-row nation-total broadcast into the HAVING threshold compare —
    # the nested-loop side is exactly one row by construction
    "tpch_q11_important_stock",
    # K-row centroid broadcast per Lloyd round — the assignment step IS
    # a cross product against K centroids, like ann_bruteforce's probes
    "kmeans_lloyd",
    # 1-row corpus-total broadcasts (min stratum count / weight total /
    # doc count) — single-row nested-loop side by construction
    "stratified_sample_balanced",
    "source_token_budget_mix",
    "pmi_term_cooccurrence",
    # 1-row max-key broadcast re-keys the RF1 insert slice
    "tpch_rf1_rf2_refresh",
    # 1-row global-mean broadcast onto the category aggregate — the
    # smoothing prior; single-row nested-loop side by construction
    "feature_target_encode",
    # 1-row token-grand-total broadcast, the bm25 scalar pattern
    "vocab_coverage_topk",
    # inherits ann_bruteforce_topk's documented exact cross product as
    # its ground-truth side
    "ann_recall_eval",
    # 1-row query-vector broadcast + bm25's 1-row stats broadcast
    "hybrid_search_rrf",
    # 1-row reference-point broadcast (max event date) — single-row
    # nested-loop side by construction
    "decayed_event_counts",
    # 1-row grand-total broadcast for the per-mille shares
    "benford_first_digit",
    # 1-row (total, n_months) broadcast for the index ratios
    "seasonality_month_index",
    # 1-row reference-date broadcast for the recency clock
    "customer_rfm_segmentation",
    # 1-row margin/total broadcasts (n_a/n_b, grand total, bin totals)
    "ks_two_sample",
    "chi_square_contingency",
    "psi_population_stability",
    # 1-row vocabulary-size broadcast for the add-one denominator
    "ngram_lm_perplexity",
    # 1-row corpus-token-total broadcast for the MI normalizer
    "token_label_mutual_information",
    # per-step 1-row best-pair broadcast driving the merge rewrite
    "bpe_merge_steps",
    # inherits the BPE chain's per-step 1-row broadcasts
    "tokenizer_apply_bpe",
    # 1-row half-total broadcasts for the KL/ppm normalizers
    "corpus_js_divergence",
    "token_drift_topk",
    # source-grain all-pairs Gini (n_sources^2 cells) + 1-row totals
    "source_concentration_metrics",
    # 1-row corpus-horizon broadcast for censoring durations
    "kaplan_meier_retention",
    # |groups|-row stats self-join on grp < grp — dim-sized by design
    "welch_t_test_pairs",
    # 1-row centroid-array + count broadcasts
    "embedding_centroid_outliers",
    # 1-row (n_a, n_b) totals broadcast onto the bounded bin-domain ECDF
    "ks_two_sample_binned",
    # three 1-row broadcasts: class totals, smoothed default, prior
    "nb_quality_classifier_train_apply",
    # 1-row vocab broadcast (inherited LM shape) + 1-row threshold
    "perplexity_filter_rewrite",
    # 1-row totals broadcast for the ppm shares
    "source_temperature_mixing",
    # 1-row eval-shingle / bit-count broadcasts folded onto the 1-row
    # result; the bloom probe itself is a broadcast HASH join on pos
    "bloom_contamination_screen",
    # 1-row totals broadcast onto the bounded bin-domain ECDF (KS twin)
    "cvm_two_sample_binned",
    # 1-row bigram-total broadcast for the entropy normalizers
    "corpus_entropy_rate",
    # hash-bounded sample all-pairs (the ann_recall_eval calibration
    # pattern: pair cost is a fixed budget, never corpus-quadratic)
    # + 1-row pair-total broadcast
    "cosine_similarity_histogram",
    # 1-row (n_a, n_b) totals broadcast onto the 1-row rank-sum terms
    # (the binned-KS/CvM twin)
    "mann_whitney_u_binned",
    # two 1-row broadcasts: (target, raw) token totals for the
    # smoothing denominators — single-row nested-loop sides
    "dsir_importance_resampling",
    # 1-row corpus totals + 1-row peak broadcast onto the day-grain scan
    "cusum_changepoint_scan",
    # constant-size bin-triple enumeration (<=20-row sides by
    # construction) for the max-min isotonic closed form
    "isotonic_calibration_rewrite",
    # three 1-row broadcasts (corpus total, global surprisal, weight
    # normalizer) — single-row nested-loop sides by construction
    "doremi_domain_reweighting",
    # 1-row (N, V) stats + 1-row OOV-default broadcasts (the LM shape)
    "lm_holdout_perplexity",
    # 1-row bigram-type-total broadcast (the LM shape)
    "kneser_ney_bigram_lm",
    # 1-row doc-count broadcast for the percentile normalizer
    "quality_signal_ensemble_rank",
    # inherits ann_bruteforce_topk's documented exact cross product on
    # both (full and truncated) ground-truth sides
    "matryoshka_truncation_recall",
    # 1-row conformal-threshold broadcast onto the test-side aggregate
    "conformal_prediction_threshold",
    # 1-row (pos, neg, bucket) totals broadcast for the WOE smoothing
    "woe_information_value",
    # 1-row basket-total broadcast for the lift normalizer (the pair
    # join itself is a basket-keyed equi join)
    "association_rules_parts",
    # inherits ann_bruteforce_topk's documented probe-set cross product
    "ndcg_ranking_eval",
    # 1-row (n, npos, sdd) total broadcast onto the 20-bin table
    "brier_score_decomposition",
    # 1-row point-estimate broadcast onto the 64-replicate table
    "paired_bootstrap_significance",
    # calendar-bounded day-table pairwise slope join (xj > xi) + 1-row
    # median broadcasts — both sides bounded by construction
    "theil_sen_daily_trend",
    # inherits ann_bruteforce_topk's documented probe-set cross product
    "knn_classification_eval",
    # per-round 1-row center broadcast (the relax step's nested-loop
    # side is exactly one row by construction)
    "kcenter_greedy_coreset",
    # 1-row argmax-struct broadcast flagging the best threshold row
    "f1_threshold_sweep",
    # 1-row per-class threshold broadcast (t_en x t_other)
    "confident_learning_label_noise",
    # 1-row distinct-user-total broadcast for the support ppm
    "sequential_pattern_mining",
    # 1-row (m, capped_total) broadcast onto the language-grain table
    "unimax_budget_allocation",
    # two 1-row rollup broadcasts (totals, Lorenz shares)
    "key_gini_concentration",
    # 1-row floor-average error-count broadcast splitting treatment
    "diff_in_differences_events",
    # two 1-row broadcasts: (N, tie_cubes) totals and the S term —
    # single-row nested-loop sides onto the |groups|-row rank table
    "kruskal_wallis_binned",
    # broadcast cross of the QI table with the <=10-row band table
    # (plus the band table's own 1-row totals broadcast)
    "t_closeness_check",
    # inherits ann_bruteforce_topk's documented probe-set cross product
    # (the valuation recursion needs every rank of every test)
    "knn_shapley_valuation",
    # 1-row chi2-stat broadcast replicated onto the K-treatment rows
    "friedman_test_daily",
    # the K x K pair grid on the broadcast top-K head IS the census —
    # bounded non-equi join by contract (term < term)
    "kendall_tau_topk_terms",
    # 1-row fold-complement global-mean broadcast (the smoothing
    # prior), feature_target_encode's pattern at the (cat, fold) grain
    "feature_target_encode_oof",
    # documented probe-set cross product (ann_bruteforce_topk pattern)
    "maxsim_late_interaction_topk",
    # 1x1 source-confusion x target-moments cross by construction
    "label_shift_bbse_estimate",
    # 1-row best-trigram (query phrase) broadcast onto the postings
    "phrase_query_positional_index",
    # per-pair 1-row parent-distinct-count broadcast onto the 1-row
    # containment aggregate — single-row nested-loop sides throughout
    "fk_candidate_discovery",
    # (r13: index_delete_propagation no longer needs an exemption — its
    # audit values are collected eagerly for the snapshot manifests and
    # the returned frame is a local table; the rewrites stay plan-gated
    # in test_rtbf_rewrite_never_shuffles_index)
    # 1-row post-append (count, checksum) audit broadcast onto the
    # decision rows — single-row nested-loop side by construction
    "dedup_minhash_index_append",
    # per-epoch 1-row live-audit x 1-row tombstone-count crosses —
    # single-row nested-loop sides by construction
    "index_upsert_delete_lifecycle",
}

# Modules whose query_fns build lazy plans (streaming/io execute jobs
# in the fn, so they are covered by their own tests instead).
_LAZY_MODULES = {
    "mapreduce_core", "aggregates", "joins", "windows", "setops",
    "scalars", "udfs", "analytics", "dedup", "similarity", "textanalysis",
    "corpus_filters", "tpch_extra", "features", "modern_sql", "sampling",
    "timeseries", "robust_stats",
}


def test_no_accidental_nested_loop_joins(spark, sf_correct):
    """Repo-wide scale gate: no registered batch operator may compile to
    CartesianProduct or BroadcastNestedLoopJoin unless a cross product
    IS its contract."""
    from mapreduce_c_implementation_spark.registry import all_operators

    offenders = []
    for name, op in all_operators().items():
        mod = op.query_fn.__module__.rsplit(".", 1)[-1]
        if mod not in _LAZY_MODULES or name in _NESTED_LOOP_EXEMPT:
            continue
        plan = physical_plan(op.query_fn(spark, sf_correct))
        if "CartesianProduct" in plan or "BroadcastNestedLoopJoin" in plan:
            offenders.append(name)
    assert not offenders, offenders


def test_bucketed_join_has_no_join_shuffle(spark, sf_correct):
    """Both sides bucketed+sorted on the join key: the sort-merge join
    must read buckets directly — the ONLY exchange in the query is the
    final aggregate's, and no Sort feeds the join."""
    df = get_operator("bucketed_join_colocated").query_fn(spark, sf_correct)
    plan = physical_plan(df)
    assert "SortMergeJoin" in plan, plan
    assert count_shuffles(df) == 1, plan


def test_ann_ivf_candidate_join_broadcasts_probes(spark, sf_correct):
    """IVF: the nprobe-cells-per-query probe table is tiny and
    broadcast; the cell-partitioned corpus must not shuffle for the
    candidate join, and the join is a plain equi-join on cell id."""
    df = get_operator("ann_ivf_coarse").query_fn(spark, sf_correct)
    plan = physical_plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_skew_join_salts_both_sides(spark, sf_correct):
    """The salted join must compile to a hash/sort equi-join whose key
    includes the salt column on BOTH sides (that is the whole point:
    one hot orderkey fans out over SALT_BUCKETS reducers)."""
    df = get_operator("skew_join_salted").query_fn(spark, sf_correct)
    plan = physical_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert plan.count("salt") >= 2, plan


def _single_partition_exchanges(df) -> int:
    """Count DISTINCT SinglePartition Exchange nodes (by plan node id —
    AQE prints cached sub-plans twice, once per Initial/Final plan)."""
    lines = physical_plan(df).splitlines()
    nodes = set()
    for i, line in enumerate(lines):
        if "Arguments: SinglePartition" in line:
            for j in range(i, max(0, i - 8), -1):
                if lines[j].startswith("("):
                    nodes.add(lines[j])
                    break
    return len(nodes)


# (op, bucket, min hashpartitioning(<bucket> count, max SinglePartition
# exchanges); each comment names the allowed SinglePartition exchanges.
_PREFIX_GATES = [
    # zval top-bit buckets; the prefix table (<= 2^ZORDER_RB_BITS rows)
    ("zorder_layout", "rb", 1, 1),
    # doc_id range buckets; the bucket-total prefix table
    ("sequence_packing", "rb", 1, 1),
    # three ranks over approxQuantile pids; their three
    # RFM_RANK_PARTS-row prefix tables plus the 1-row ref-date
    # aggregate (AQE prints it twice, initial + final plan)
    ("customer_rfm_segmentation", "pid", 3, 5),
    # revenue-range pids; the pid-subtotal prefix table
    ("part_abc_classification", "pid", 1, 1),
    # difficulty range buckets; the bucket-size prefix table
    ("curriculum_data_ordering", "bk", 1, 1),
    # token-prefix buckets; the prefix table (<= alphabet^NEG_BUCKET_PREFIX)
    ("negative_sampling_table", "bk", 1, 1),
    # hd range buckets; the prefix table (<= 2^HB_RB_BITS rows)
    ("hilbert_curve_layout", "rb", 1, 1),
    # log2-count buckets; the prefix table plus the 1-row rollup
    # stages (totals, shares and their final-join sides)
    ("key_gini_concentration", "bk", 1, 4),
    # doc_id range buckets; the bucket-total prefix table
    ("size_balanced_shards", "rb", 1, 1),
    # approxQuantile pids; the RANK_PARTS-row prefix table
    ("feature_quantile_bins", "pid", 1, 1),
    # negated score buckets; the prefix table plus the 1-row AP reduce
    ("average_precision_eval", "neg_bp", 1, 2),
    # score buckets (<= 10,001); the prefix table
    ("conformal_prediction_threshold", "nonconf_bp", 1, 1),
]


@pytest.mark.parametrize(
    "op, bucket, min_hash, max_single",
    _PREFIX_GATES,
    ids=[g[0] for g in _PREFIX_GATES],
)
def test_prefix_sum_is_distributed(
    spark, sf_correct, op, bucket, min_hash, max_single
):
    """Two-pass global rank / prefix sum (functions/prefix.py): rows may
    only cross hashpartitioning(<bucket>) exchanges; the SinglePartition
    bound counts every allowed bucket-grain or 1-row exchange."""
    df = get_operator(op).query_fn(spark, sf_correct)
    plan = physical_plan(df)
    assert plan.count(f"hashpartitioning({bucket}") >= min_hash, plan
    assert _single_partition_exchanges(df) <= max_single, plan


def test_pipeline_end2end_two_shuffles(spark, sf_correct):
    """The composed filter->dedup->split pipeline must stay one pass
    over the corpus: only the digest-keyed dedup groupBy and the tiny
    3-group split aggregate may exchange."""
    df = get_operator("corpus_pipeline_end2end").query_fn(spark, sf_correct)
    assert count_shuffles(df) <= 2


def test_contamination_probe_is_equi_join(spark, sf_correct):
    """The eval slice scales with the corpus, so its shingle set must
    NOT carry a broadcast HINT (the TF-IDF vocabulary rule).  With
    auto-broadcast disabled, any BroadcastHashJoin left in the plan can
    only come from an explicit hint — so the probe must compile to a
    shuffled equi-join."""
    orig = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        df = get_operator("contamination_ngram_overlap").query_fn(spark, sf_correct)
        plan = physical_plan(df)
        assert "BroadcastHashJoin" not in plan, plan
        assert "BroadcastNestedLoopJoin" not in plan, plan
        assert "CartesianProduct" not in plan, plan
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", orig)


def test_substring_dedup_shuffles_only_digests(spark, sf_correct):
    """Exact-substring windows: the text never leaves the scan stage —
    only 16-byte window digests shuffle.  Two exchanges are the standard
    distinct-agg expansion ((win_hash, doc_id) partial, then win_hash);
    the text column must not appear downstream of the scan project."""
    df = get_operator("exact_substring_duplicates").query_fn(spark, sf_correct)
    assert count_shuffles(df) <= 2
    plan = physical_plan(df)
    assert "win_hash" in plan
    # every Exchange carries digests, never the text payload
    for frag in plan.split("Exchange")[1:]:
        first_line = frag.splitlines()[0]
        assert "text" not in first_line, plan


def test_gram_matrix_shuffle_is_dim_bounded(spark, sf_correct):
    """The Gram partial-agg pattern: the aggregate exchange keys on
    (dim_i, dim_j) — cardinality d^2 regardless of corpus size.  The
    optional second exchange is compute_scan's round-robin fan-out of
    an under-parallelized small input (a no-op on a real multi-split
    table)."""
    df = get_operator("embedding_gram_matrix").query_fn(spark, sf_correct)
    assert count_shuffles(df) <= 2


def test_scd2_windows_share_one_exchange(spark, sf_correct):
    """Both SCD2 windows partition on o_custkey: Catalyst must reuse a
    single customer-keyed exchange for lag detection and lead close."""
    df = get_operator("scd2_history").query_fn(spark, sf_correct)
    assert count_shuffles(df) == 1


def test_q10_broadcasts_dims_and_takes_ordered(spark, sf_correct):
    """Q10: customer + nation broadcast; the top-20 compiles to
    TakeOrderedAndProject, never a global sort."""
    df = get_operator("tpch_q10_returned_items").query_fn(spark, sf_correct)
    plan = physical_plan(df)
    assert "TakeOrderedAndProject" in plan, plan
    assert_broadcast_join(df, expect=2)


def test_q18_having_subquery_is_semi_join(spark, sf_correct):
    """Q18: the IN-subquery over the lineitem aggregate must compile to
    a semi join (hash or sort-merge), never a nested loop."""
    df = get_operator("tpch_q18_large_orders").query_fn(spark, sf_correct)
    plan = physical_plan(df)
    assert "Semi" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_q8_single_fact_exchange(spark, sf_correct):
    """Q8's eight-table join: part, customer, supplier, region, and both
    nation aliases broadcast — six broadcast joins; the only exchanges
    are the year aggregate (hash + order range) and the two 1-row
    scalar-subquery aggregates — never a fact-side join shuffle (at
    fixture scale even orders broadcasts; at 100 TB that join becomes
    the one sort-merge exchange)."""
    df = get_operator("tpch_q8_market_share").query_fn(spark, sf_correct)
    assert_broadcast_join(df, expect=6)
    plan = physical_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert count_shuffles(df) <= 4, plan


def test_q13_left_join_reuses_custkey_partitioning(spark, sf_correct):
    """Q13: the customer⋈orders left join and the per-customer count
    share the custkey partitioning — the only extra exchange is the
    tiny histogram aggregate."""
    df = get_operator("tpch_q13_customer_distribution").query_fn(spark, sf_correct)
    assert count_shuffles(df) <= 3, physical_plan(df)


def test_q17_threshold_is_keyed_join(spark, sf_correct):
    """Q17's decorrelated 20%-of-average subquery: the per-part
    aggregate joins back on the part key — hash/sort-merge, never a
    nested loop; part broadcasts."""
    df = get_operator("tpch_q17_small_qty_revenue").query_fn(spark, sf_correct)
    plan = physical_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert_broadcast_join(df, expect=1)


def test_q21_exists_compile_to_semi_and_anti(spark, sf_correct):
    """Q21's double correlation: EXISTS -> left semi, NOT EXISTS ->
    left anti, both equi on the order key with a supplier residual —
    no nested loop anywhere in the hardest decorrelation."""
    df = get_operator("tpch_q21_waiting_supplier").query_fn(spark, sf_correct)
    plan = physical_plan(df)
    assert "Semi" in plan, plan
    assert "Anti" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_q2_min_decorrelation_no_nested_loop(spark, sf_correct):
    """Q2's correlated min-cost subquery: the per-part min aggregate
    and the equality probe are keyed joins — no nested loop; the
    supplier/nation/region dims broadcast; top-100 is
    TakeOrderedAndProject."""
    df = get_operator("tpch_q2_min_cost_supplier").query_fn(spark, sf_correct)
    plan = physical_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert_broadcast_join(df, expect=3)


def test_q16_exclusion_is_anti_join(spark, sf_correct):
    """Q16's NOT-IN supplier screen compiles to a broadcast anti join
    (keys are non-null), feeding the two-level count-distinct."""
    df = get_operator("tpch_q16_supplier_counts").query_fn(spark, sf_correct)
    plan = physical_plan(df)
    assert "Anti" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_q20_nested_in_compiles_to_semi(spark, sf_correct):
    """Q20's nested IN subqueries: the supplier probe is a semi join
    and the never-shipped case is a left outer — never a nested loop."""
    df = get_operator("tpch_q20_potential_promotion").query_fn(spark, sf_correct)
    plan = physical_plan(df)
    assert "Semi" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_q7_nation_broadcasts_twice(spark, sf_correct):
    """Q7's join diamond: supplier, customer, and BOTH nation aliases
    broadcast — four broadcast joins, one fact-fact exchange."""
    df = get_operator("tpch_q7_nation_volume").query_fn(spark, sf_correct)
    assert_broadcast_join(df, expect=4)
    assert count_shuffles(df) <= 2  # fact-fact join + final agg


def test_corpus_ops_prune_document_columns(spark, sf_correct):
    """The corpus-hygiene ops consume only (doc_id, text) — lang/source/
    n_chars must be pruned from the parquet scan (at 100 TB every extra
    column is real I/O)."""
    for name in (
        "repetition_ngram_stats",
        "contamination_ngram_overlap",
        "exact_substring_duplicates",
        "pii_redaction",
        "token_pmi_pairs",
    ):
        df = get_operator(name).query_fn(spark, sf_correct)
        assert_read_schema_only(df, {"doc_id", "text"})


def test_gram_matrix_reads_embedding_only(spark, sf_correct):
    """embedding_gram_matrix needs only the embedding column — vec_id
    and label must not reach the scan."""
    df = get_operator("embedding_gram_matrix").query_fn(spark, sf_correct)
    assert_read_schema_only(df, {"embedding"})


def test_ann_ivf_pq_score_join_carries_cell_key(spark, sf_correct):
    """IVF-PQ's defining property: the ADC score join is keyed on the
    IVF cell (plus subspace + code), so a candidate's codes are touched
    only when its cell is probed.  Gate: the broadcast hash join's key
    list leads with `cell`, and nothing degenerates to a nested-loop /
    cartesian scan of the code table."""
    import re

    df = get_operator("ann_ivf_pq").query_fn(spark, sf_correct)
    plan = physical_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert re.search(r"Left keys \[3\]: \[cell#", plan), plan
    assert re.search(r"Right keys \[3\]: \[cell#", plan), plan


def test_minhash_bucketed_probe_index_side_never_shuffles(spark, sf_correct):
    """The persisted band index must be read bucket-aligned: the scan of
    b_mh_index_* reports Bucketed: true, the probe joins it sort-merge,
    and only ONE logical exchange on the join key exists — the probe
    side aligning to the bucket layout.  (Formatted explain under AQE
    renders each logical exchange at most twice — initial + re-planned —
    so an index-side exchange would push the count past 2.)"""
    import re

    df = get_operator("dedup_minhash_bucketed_probe").query_fn(spark, sf_correct)
    plan = physical_plan(df)
    assert "SortMergeJoin" in plan, plan
    assert re.search(r"Scan parquet [^\n]*b_mh_index", plan), plan
    assert "Bucketed: true" in plan, plan
    assert len(re.findall(r"hashpartitioning\(bkey", plan)) <= 2, plan


def test_skipgram_single_shuffle_topk(spark, sf_correct):
    """skipgram_cooccurrence: in-row pair generation means exactly ONE
    data-dependent shuffle (the pair-count aggregate, map-side combined)
    and the top-k must lower to TakeOrderedAndProject, never a global
    sort."""
    from mapreduce_c_implementation_spark.registry import get_operator

    plan = physical_plan(
        get_operator("skipgram_cooccurrence").query_fn(spark, sf_correct)
    )
    assert "TakeOrderedAndProject" in plan
    assert plan.count("hashpartitioning") == 1
    assert "Sort [" not in plan  # no global sort anywhere


def test_lexical_diversity_is_pure_map(spark, sf_correct):
    """lexical_diversity_ttr must compile to a shuffle-free map (the
    only exchanges allowed are the scan's round-robin spread and the
    presentation sort)."""
    from mapreduce_c_implementation_spark.registry import get_operator

    plan = physical_plan(
        get_operator("lexical_diversity_ttr").query_fn(spark, sf_correct)
    )
    assert "hashpartitioning" not in plan


def test_parquet_aggregate_pushdown_reaches_scan(spark, sf_correct):
    """DSv2 + aggregatePushDown: COUNT/MIN/MAX must appear as
    PushedAggregation on the BatchScan — the metadata-only read that
    makes table stats free at 100 TB."""
    from mapreduce_c_implementation_spark.sources.io_ops import _agg_pushdown_plan

    plan = _agg_pushdown_plan(spark, sf_correct)
    assert "PushedAggregation" in plan, plan


def test_runtime_bloom_filter_injected(spark, sf_correct):
    """With broadcast off and the scan-size threshold zeroed, the
    optimizer must inject a bloom might_contain predicate into the
    lineitem side of the selective orders join."""
    from mapreduce_c_implementation_spark.sources.io_ops import _bloom_join_plan

    plan = _bloom_join_plan(spark, sf_correct)
    assert "might_contain" in plan, plan


def test_prefix_join_reuses_cached_sets(spark, sf_correct):
    """set_similarity_prefix_join's set/prefix tables feed multiple
    consumers; the plan must read them from cache (InMemoryTableScan)
    — losing the cache re-runs the corpus tokenize+shingle lineage
    per consumer (the 69 s -> 2.8 s sf0.1 regression this guards)."""
    df = get_operator("set_similarity_prefix_join").query_fn(spark, sf_correct)
    plan = physical_plan(df)
    assert "InMemoryTableScan" in plan, plan


def test_interval_join_is_equi_join(spark, sf_correct):
    """interval_overlap_join must compile to the week-bin EQUI-join
    decomposition — a raw overlap predicate becomes a broadcast-
    nested-loop / cartesian plan, the O(n*m) shape that cannot run at
    100 TB."""
    df = get_operator("interval_overlap_join").query_fn(spark, sf_correct)
    plan = physical_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "bin" in plan, plan


def test_bpe_merge_steps_no_corpus_rescan(spark, sf_correct):
    """BPE merge learning must collapse the corpus ONCE to the word-
    frequency table and iterate at vocabulary grain: the physical plan
    may contain at most one scan of documents per merge step's lineage
    replay (Spark replays the shared words lineage per step — that is
    vocab-grain recompute), and the argmax rows must arrive as
    broadcast 1-rows, never via a driver collect in the operator body
    (the operator builds one lazily-composed plan)."""
    df = get_operator("bpe_merge_steps").query_fn(spark, sf_correct)
    plan = physical_plan(df)
    assert "BroadcastExchange" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_whitening_stats_join_broadcasts(spark, sf_correct):
    """Dimension whitening: the d-row moment table joins back
    BROADCAST — the corpus-sized (vec_id, dim) stream must never
    shuffle for it, and no SinglePartition exchange may appear (the
    moments are an ordinary partial/final aggregate)."""
    df = get_operator("embedding_dimension_whitening").query_fn(
        spark, sf_correct
    )
    plan = physical_plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert _single_partition_exchanges(df) == 0, plan


def test_cross_source_matrix_is_equijoin(spark, sf_correct):
    """The source-pair matrix joins distinct shingle sets ON THE HASH
    (equi-join; the source inequality rides as a post-filter) — a
    nested-loop over shingle sets would be the quadratic scale-killer."""
    df = get_operator("cross_source_contamination_matrix").query_fn(
        spark, sf_correct
    )
    plan = physical_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_no_expression_fed_ngram_hofs():
    """Source lint: the ngrams() higher-order function reads its input
    once per gram element, so feeding it the raw tokenize() expression
    re-runs the regex tokenizer per gram — the re-tokenization trap
    that cost skipgram 10x (round 6) and novelty/contamination-matrix
    13.7x/19.2x at 32x (round 7, docs/SCALING.md Findings).  Bind the
    token array to a column first; this sweep keeps the rule enforced
    repo-wide.
    """
    from pathlib import Path

    pkg = Path(__file__).resolve().parents[1] / "mapreduce_c_implementation_spark"
    offenders = []
    for py in pkg.rglob("*.py"):
        src = py.read_text()
        if "ngrams(tokenize(" in src:
            offenders.append(str(py))
    assert not offenders, (
        "ngrams() fed a raw tokenize() expression (re-tokenizes per "
        f"gram — bind the token array to a column first): {offenders}"
    )


def test_hard_negative_mining_anchor_side_not_hinted(spark, sf_correct):
    """Round-8 de-weak (verdict item 2): the anchor side is corpus/17 —
    a FORCED broadcast hint would pin it driver-side at any scale.  The
    logical plan must carry no broadcast hint; the candidate join must
    stay an equi-join on the bucket key (AQE may still pick a broadcast
    build when the measured size is small — that's runtime-gated, which
    is exactly the point)."""
    op = get_operator("hard_negative_mining")
    df = op.query_fn(spark, sf_correct)
    logical = df._jdf.queryExecution().logical().toString()
    assert "hint" not in logical.lower(), logical
    plan = physical_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_ensemble_rank_tables_broadcast(spark, sf_correct):
    """The three value-grain rank tables (bounded by the signal domains)
    and the 1-row count must all broadcast — the corpus side must never
    shuffle for the percentile joins."""
    df = get_operator("quality_signal_ensemble_rank").query_fn(spark, sf_correct)
    assert_broadcast_join(df, expect=3)


def test_trim_rewrite_never_nested_loops(spark, sf_correct):
    """The span/gap/chunk chain is doc_id-equi-keyed end to end."""
    df = get_operator("substring_trim_rewrite").query_fn(spark, sf_correct)
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_count_min_cells_broadcast_to_probes(spark, sf_correct):
    """The 64-cell sketch table broadcasts onto the 80-row probe set;
    nothing corpus-sized reaches the probe join."""
    df = get_operator("count_min_sketch_tokens").query_fn(spark, sf_correct)
    assert_broadcast_join(df, expect=1)


def test_tiered_trim_stays_keyed(spark, sf_correct):
    """The tiered exact-substring pipeline is equi-keyed end to end:
    digest/gram/doc exchanges only, no nested-loop or cartesian stage
    anywhere in screen -> flag -> exact tier -> stitch."""
    df = get_operator("substring_tiered_trim_rewrite").query_fn(
        spark, sf_correct
    )
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert _single_partition_exchanges(df) == 0, plan


def test_tfidf_pairs_stay_term_keyed(spark, sf_correct):
    """Sparse-cosine pairs: the dot-product stage is a term-keyed
    equi-join (posting lists), the norm joins doc-keyed — never
    all-pairs."""
    df = get_operator("tfidf_cosine_pairs").query_fn(spark, sf_correct)
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_e2lsh_candidate_join_is_hash_join(spark, sf_correct):
    """E2LSH: candidates must pair through a hash equi-join on the
    cell signature — never a nested loop; the exact-L2 verify rides
    the joined rows."""
    df = get_operator("lsh_euclidean_e2lsh").query_fn(spark, sf_correct)
    plan = physical_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan, plan


def test_rake_phrase_build_is_doc_partitioned(spark, sf_correct):
    """RAKE: the islands window must partition by doc_id (parallel
    phrase build), the word/phrase stats must be keyed aggregates, and
    the corpus-wide head must compile to TakeOrdered — the ONLY
    global-order operator allowed is over the already-reduced top-k."""
    df = get_operator("rake_keyword_extraction").query_fn(spark, sf_correct)
    plan = physical_plan(df)
    assert "hashpartitioning(doc_id" in plan, plan
    assert "TakeOrdered" in plan, plan


def test_heaps_fit_windows_are_source_partitioned(spark, sf_correct):
    """Heaps fit: the cumulative-curve windows must partition by
    source; no corpus-grain SinglePartition exchange anywhere."""
    df = get_operator("heaps_law_power_fit").query_fn(spark, sf_correct)
    plan = physical_plan(df)
    assert "hashpartitioning(source" in plan, plan
    assert _single_partition_exchanges(df) == 0, plan


def test_ewma_contributions_are_keyed(spark, sf_correct):
    """EWMA: the lag fan-out must aggregate through (type, day)-keyed
    exchanges only — no SinglePartition, no nested loop."""
    df = get_operator("ewma_daily_anomaly").query_fn(spark, sf_correct)
    plan = physical_plan(df)
    assert "hashpartitioning(event_type" in plan, plan
    assert _single_partition_exchanges(df) == 0, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_sscr_probe_index_side_never_shuffles(spark, sf_correct):
    """stream_substring_screen's per-batch probe must read the persisted
    window-hash index bucket-aligned: Bucketed: true on the b_sscr_index
    scan, sort-merge join, and at most the probe side exchanging on the
    join key (<=2 renders under AQE)."""
    import re

    from pyspark.sql import functions as F

    from mapreduce_c_implementation_spark.streaming.queries import (
        SSCR_BASE_MOD,
        _sscr_anchored_wins,
        _sscr_ensure_index,
    )

    idx = _sscr_ensure_index(spark, sf_correct)
    arr = (
        spark.read.parquet(f"{sf_correct}/documents.parquet")
        .select("doc_id", "text")
        .filter(F.col("doc_id") % SSCR_BASE_MOD == 1)
    )
    probe = (
        _sscr_anchored_wins(arr, "arr_doc")
        .join(idx.hint("merge"), "win_hash")
        .select("arr_doc", "base_doc")
        .distinct()
    )
    plan = physical_plan(probe)
    assert "SortMergeJoin" in plan, plan
    assert re.search(r"Scan parquet [^\n]*b_sscr_index", plan), plan
    assert "Bucketed: true" in plan, plan
    assert len(re.findall(r"hashpartitioning\(win_hash", plan)) <= 2, plan


def test_sscrc_probe_and_append_stay_bucket_aligned(spark, sf_correct):
    """stream_substring_screen_cumulative's maintained index must stay
    bucket-aligned through appends: after a bucketBy(win_hash) append of
    an increment, the probe still scans the table Bucketed: true,
    sort-merge-joins, and only the probe side exchanges on the join key
    (the index side may re-sort across files-per-bucket but never
    shuffles).  The append itself shuffles ONLY the increment (exactly
    one hashpartitioning(win_hash) in its plan — never the index)."""
    import re

    from pyspark.sql import functions as F

    from mapreduce_c_implementation_spark.streaming.queries import (
        SSCR_BASE_MOD,
        SSCR_BUCKETS,
        _sscr_anchored_wins,
    )

    tbl = "b_sscrc_plangate"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    docs = (
        spark.read.parquet(f"{sf_correct}/documents.parquet")
        .select("doc_id", "text")
    )
    base = docs.filter(F.col("doc_id") % SSCR_BASE_MOD == 0)
    arr = docs.filter(F.col("doc_id") % SSCR_BASE_MOD == 1)
    try:
        base_wins = _sscr_anchored_wins(base, "base_doc")
        (
            base_wins.repartition(SSCR_BUCKETS, F.col("win_hash"))
            .write.bucketBy(SSCR_BUCKETS, "win_hash")
            .sortBy("win_hash")
            .mode("overwrite")
            .format("parquet")
            .saveAsTable(tbl)
        )
        # the append path: increment-only shuffle
        inc = _sscr_anchored_wins(arr.limit(50), "base_doc").repartition(
            SSCR_BUCKETS, F.col("win_hash")
        )
        inc_plan = physical_plan(inc)
        assert len(re.findall(r"hashpartitioning\(win_hash", inc_plan)) == 1, inc_plan
        assert "b_sscrc_plangate" not in inc_plan, inc_plan
        (
            inc.write.bucketBy(SSCR_BUCKETS, "win_hash")
            .sortBy("win_hash")
            .mode("append")
            .format("parquet")
            .saveAsTable(tbl)
        )
        spark.catalog.refreshTable(tbl)
        # the probe path AFTER the append: index side still bucket-aligned
        probe = (
            _sscr_anchored_wins(arr, "arr_doc")
            .join(spark.table(tbl).hint("merge"), "win_hash")
            .select("arr_doc", "base_doc")
            .distinct()
        )
        plan = physical_plan(probe)
        assert "SortMergeJoin" in plan, plan
        assert re.search(r"Scan parquet [^\n]*b_sscrc_plangate", plan), plan
        assert "Bucketed: true" in plan, plan
        assert len(re.findall(r"hashpartitioning\(win_hash", plan)) <= 2, plan
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_rtbf_rewrite_never_shuffles_index(spark, sf_correct):
    """index_delete_propagation's anti-join rewrite must never shuffle
    the index: the v2 snapshot plan is a bucketed scan filtered through
    a BROADCAST anti-join — the only exchange is the broadcast of the
    delete set (no hashpartitioning anywhere; the bucketBy write
    computes bucket ids in-task and adds no exchange)."""
    import re

    from pyspark.sql import functions as F

    from mapreduce_c_implementation_spark.operators.dedup import (
        RTBF_BUCKETS,
        RTBF_DELETE_MOD,
        RTBF_DELETE_REM,
    )

    tbl = "b_rtbf_plangate"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    docs = spark.read.parquet(f"{sf_correct}/documents.parquet").select(
        "doc_id", "text"
    )
    try:
        members = docs.select(
            "doc_id",
            F.sha2(F.encode(F.col("text"), "UTF-8"), 256).alias(
                "payload_sha256"
            ),
        )
        (
            members.repartition(RTBF_BUCKETS, F.col("payload_sha256"))
            .write.bucketBy(RTBF_BUCKETS, "payload_sha256")
            .sortBy("payload_sha256")
            .mode("overwrite")
            .format("parquet")
            .saveAsTable(tbl)
        )
        deletes = docs.filter(
            F.col("doc_id") % RTBF_DELETE_MOD == RTBF_DELETE_REM
        ).select("doc_id")
        rewrite = spark.table(tbl).join(F.broadcast(deletes), "doc_id", "anti")
        plan = physical_plan(rewrite)
        assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
        assert not re.search(r"Exchange hashpartitioning", plan), plan
        assert re.search(r"Scan parquet [^\n]*b_rtbf_plangate", plan), plan
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_asof_binned_all_equi_no_python(spark, sf_correct):
    """join_asof_binned exists to avoid join_asof_keyed's cogrouped
    Python stage AND any non-equi nested loop: the plan must contain
    only equi joins (SMJ/broadcast-hash), no BroadcastNestedLoopJoin,
    no FlatMapCoGroupsInPandas / ArrowEvalPython."""
    plan = physical_plan(
        get_operator("join_asof_binned").query_fn(spark, sf_correct)
    )
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "CoGroup" not in plan, plan
    assert "Python" not in plan, plan


def test_round11_pure_map_ops_never_shuffle(spark, sf_correct):
    """luhn_checksum_pii_screen and span_token_alignment claim to be
    single-stage maps (in-row HOF folds, no aggregate): no
    DATA-DEPENDENT exchange may appear — the only allowed movement is
    the compute_scan helper's round-robin spread of the single input
    file across cores."""
    for name in ("luhn_checksum_pii_screen", "span_token_alignment"):
        plan = physical_plan(get_operator(name).query_fn(spark, sf_correct))
        assert "hashpartitioning" not in plan, (name, plan)
        assert "rangepartitioning" not in plan, (name, plan)
        assert "SinglePartition" not in plan, (name, plan)
        assert "Python" not in plan, (name, plan)


def test_nfc_normalize_takes_arrow_path(spark, sf_correct):
    """The NFC normalizer must run as a VECTORIZED pandas UDF
    (ArrowEvalPython), never the row-at-a-time BatchEvalPython path,
    and nothing in the op shuffles."""
    plan = physical_plan(
        get_operator("unicode_nfc_canonicalize").query_fn(spark, sf_correct)
    )
    assert "ArrowEvalPython" in plan, plan
    assert "BatchEvalPython" not in plan, plan
    assert "Exchange" not in plan, plan


def test_maxsim_scoring_stays_jvm_side(spark, sf_correct):
    """MaxSim's dot grid / max-pool / sum must be in-row codegen — no
    Python stage anywhere; ranking is the probe-partitioned window
    top-k (WindowGroupLimit pushes the rank head per partition)."""
    plan = physical_plan(
        get_operator("maxsim_late_interaction_topk").query_fn(spark, sf_correct)
    )
    assert "Python" not in plan, plan
    assert "WindowGroupLimit" in plan, plan
