#!/usr/bin/env python
"""Benchmark harness: run the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) and print ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Execution is forced with the noop sink (full plan, no collect, no sink
I/O) — the distributed-friendly way to measure query time.  Baseline
context: the reference indexes ~37 MB/s of raw text end-to-end on 20
cores (BASELINE.md); our flagship inverted_index at sf0.1 is the direct
comparison point.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from contextlib import contextmanager
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

# Headline set: the flagship pipeline + one representative per operator
# family.  Extended as phases land.
HEADLINE = [
    "inverted_index",
    "word_count",
    "distinct_pairs",
    "word_count_topk",
    "tpch_q1",
    "tpch_q6",
    "join_star_broadcast",
    "join_orders_lineitem",
    "window_topk_per_group",
    "sessionize_batch",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "text_quality_score",
    "doc_fingerprint",
    "ann_bruteforce_topk",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier",
    "tfidf_top_terms",
    # round-2 additions
    "dedup_embedding_cosine",
    "tpch_q4_order_priority",
    "bucketed_join_colocated",
    "corpus_quality_filter",
    "deterministic_split",
    "dedup_connected_components",
    "ann_ivf_coarse",
    "skew_join_salted",
    "time_rollup_multigrain",
    "merge_upsert_scd1",
    "event_funnel",
    # corpus-hygiene + late round-2 additions
    "repetition_ngram_stats",
    "contamination_ngram_overlap",
    "exact_substring_duplicates",
    "pii_redaction",
    "embedding_gram_matrix",
    "semdedup_cells",
    "scd2_history",
    "cross_split_leakage_audit",
    "bm25_topk_docs",
    "corpus_pipeline_end2end",
    "cogroup_reconcile",
    "time_gap_fill_ffill",
    # round-2 second wave
    "tpch_q9_product_profit",
    "tpch_q21_waiting_supplier",
    "kmeans_lloyd",
    "correlation_matrix",
    "hll_sketch_mergeable",
    "feature_quantile_bins",
    # round-3 additions
    "dedup_minhash_incremental",
    "pmi_term_cooccurrence",
    "quality_bucket_sample",
    "stratified_sample_balanced",
    "ann_pq_adc",
    "dynamic_partition_pruning_join",
    "tpch_rf1_rf2_refresh",
    # round-4 additions
    "ann_ivf_pq",
    "dedup_cc_stars",
    "skipgram_cooccurrence",
    "char_entropy_quality",
    "lexical_diversity_ttr",
    "graph_bfs_distances",
    "dataset_card_stats",
    "vocab_coverage_topk",
    "event_retention_cohorts",
    "ann_recall_eval",
    "hybrid_search_rrf",
    "multimodal_simhash_neardup",
    "event_attribution_last_touch",
    "poisson_bootstrap_mean",
    # round-4 second wave
    "set_similarity_prefix_join",
    "embedding_random_projection",
    "heaps_vocab_growth",
    "decayed_event_counts",
    "size_balanced_shards",
    "winsorized_group_stats",
    "group_linear_regression",
    # round-4 third wave
    "shingle_containment_pairs",
    "shingle_novelty_curve",
    "sliding_distinct_users",
    "concurrency_sweep",
    "customer_rfm_segmentation",
    "part_abc_classification",
    "dedup_recall_eval",
    "runtime_bloom_filter_join",
    # round-6 wave: LM scoring, tokenizer learning, corpus rewrite,
    # interval join, drift screens
    "ngram_lm_perplexity",
    "bpe_merge_steps",
    "dedup_paragraph_rewrite",
    "interval_overlap_join",
    "token_label_mutual_information",
    "ks_two_sample",
    "psi_population_stability",
    # round-8 wave: audit-to-fix loops, fingerprinting, eval metrics,
    # and mixture optimization
    "dedup_quality_representatives",
    "isotonic_calibration_rewrite",
    "leakage_split_repair",
    "substring_overlap_spans",
    "winnowing_fingerprint_dedup",
    "generation_eval_overlap",
    "doremi_domain_reweighting",
    "lm_holdout_perplexity",
    "toxicity_wordlist_filter",
    "best_of_n_rejection_sampling",
    "elo_pairwise_ratings",
    "cluster_capped_diversity_sample",
    "kneser_ney_bigram_lm",
    "quality_signal_ensemble_rank",
    "substring_trim_rewrite",
    "count_min_sketch_tokens",
    "matryoshka_truncation_recall",
    # round-9 additions
    "suffix_array_ranked_lcp",
    "substring_exact_spans",
    "quantile_sketch_mergeable",
    "association_rules_parts",
    "ndcg_ranking_eval",
    "generation_cer_eval",
    "brier_score_decomposition",
    "paired_bootstrap_significance",
    "autocorrelation_daily_values",
    "theil_sen_daily_trend",
    "substring_exact_trim_rewrite",
    "knn_classification_eval",
    "kcenter_greedy_coreset",
    "multimodal_cdc_chunk_dedup",
    "negative_sampling_table",
    # round-10 additions + the r9 linkage de-weak (verdict r9 #3:
    # bench must track ops most recently rewritten for performance)
    "substring_tiered_trim_rewrite",
    "priority_sample_weighted",
    "rouge_n_overlap_eval",
    "f1_threshold_sweep",
    "confident_learning_label_noise",
    "char_class_profile",
    "sequential_pattern_mining",
    "unimax_budget_allocation",
    "key_gini_concentration",
    "hilbert_curve_layout",
    "l_diversity_check",
    "tfidf_cosine_pairs",
    "event_burstiness_fano",
    "diff_in_differences_events",
    "record_linkage_blocked",
    "entity_resolution_clusters",
    # round-10 second wave
    "kruskal_wallis_binned",
    "benjamini_hochberg_fdr",
    "median_of_means_value",
    "graph_hits_scores",
    "graph_kcore_peel_layers",
    "t_closeness_check",
    "rake_keyword_extraction",
    "ewma_daily_anomaly",
    "lsh_euclidean_e2lsh",
    "mmr_diverse_reranking",
    "dbscan_grid_clusters",
    "heaps_law_power_fit",
    "wilcoxon_signed_rank_daily",
    "knn_shapley_valuation",
    "anova_one_way_value",
    "brown_forsythe_levene",
    "gumbel_weighted_sample_per_group",
    "platt_scaling_calibration",
    "quantile_treatment_effects",
    "greedy_set_cover_docs",
    # round-11 additions
    "join_asof_binned",
    "roc_auc_rank_exact",
    "average_precision_eval",
    "mcnemar_paired_eval",
    "bleu_ngram_component_eval",
    "friedman_test_daily",
    "kendall_tau_topk_terms",
    "graph_clustering_coefficient",
    "luhn_checksum_pii_screen",
    "feature_target_encode_oof",
    "fk_candidate_discovery",
    "holt_linear_daily",
    "maxsim_late_interaction_topk",
    "graph_widest_path_bottleneck",
    "cohort_ltv_accumulation",
    "sql_scalar_udf_inline",
    "sql_pipe_syntax_revenue",
    "udtf_table_argument_partitioned",
    "label_shift_bbse_estimate",
    "phrase_query_positional_index",
    "unicode_nfc_canonicalize",
    "span_token_alignment",
    "observed_metrics_pipeline",
    "sql_identifier_dynamic_table",
    # round-12 additions
    "index_delete_propagation",
    "dedup_minhash_index_append",
    "index_bucket_compaction",
    "index_upsert_delete_lifecycle",
    # round-13 additions (batch surface; the two streaming r13 ops are
    # probed via `scripts/measure.py scale` and timed by their own tests)
    "index_snapshot_vacuum",
]


def warm_up(spark, sf_dir: str) -> None:
    """Warm the JVM once (codegen, arrow, shuffle machinery, noop sink) on
    a representative tiny pipeline so timings measure steady-state
    query execution, not first-query session initialization."""
    from pyspark.sql import functions as F

    warm = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .limit(50)
        .select(F.explode(F.split("text", " ")).alias("w"))
        .groupBy("w")
        .agg(F.collect_set("w"))
    )
    warm.write.format("noop").mode("overwrite").save()

    # Warm the Python worker pool too: the first Arrow stage otherwise
    # pays one cold interpreter + numpy/pandas import PER CORE (~10 s
    # across 32 workers), billed to whichever pandas-UDF query runs
    # first.  Workers are reused afterwards (spark.python.worker.reuse).
    def _warm_py(batches):
        import pandas as pd  # noqa: F401

        yield from batches

    spark.range(0, 64, 1, 64).mapInPandas(_warm_py, schema="id long").write.format(
        "noop"
    ).mode("overwrite").save()


def timed_run(spark, query_fn, sf_dir: str) -> float:
    """Seconds for one run of ``query_fn(spark, sf_dir)`` into the noop
    sink (full plan, no collect, no sink I/O).

    The clock starts BEFORE query_fn: several operators do eager work
    inside it (cache-scoped forced materialization of codebooks/band
    tables, fixture staging) and excluding that would overstate any op
    that fronts its dominant stage.  The cache is cleared afterwards so
    a query that caches an intermediate is always billed for building
    it."""
    t0 = time.perf_counter()
    query_fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    dt = time.perf_counter() - t0
    spark.catalog.clearCache()
    return dt


@contextmanager
def flagship_job(spark, sf_dir: str, target_mb: int, metrics_path: str | None = None):
    """Stage a ~target_mb text corpus (documents.text replicated) and
    yield ``(job, corpus_bytes)``: a ``MapReduceJob`` over it writing to
    a scratch output dir.  Both directories are removed on exit, so
    staging stays outside every timed window."""
    import math
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from mapreduce_c_implementation_spark.job import MapReduceJob
    from mapreduce_c_implementation_spark.metrics import input_bytes

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("text")
    base_bytes = docs.agg(
        F.sum(F.octet_length("text") + F.lit(1)).alias("b")
    ).collect()[0][0]
    copies = max(1, math.ceil(target_mb * 1_000_000 / max(1, base_bytes)))
    corpus = tempfile.mkdtemp(prefix="flagship_corpus_")
    out_dir = tempfile.mkdtemp(prefix="flagship_out_")
    try:
        (
            docs.crossJoin(F.broadcast(spark.range(copies)))
            .select("text")
            .repartition(64)
            .write.mode("overwrite")
            .text(corpus)
        )
        job = MapReduceJob(
            input_paths=[corpus], output_dir=out_dir, metrics_path=metrics_path
        )
        yield job, input_bytes([corpus])
    finally:
        shutil.rmtree(corpus, ignore_errors=True)
        shutil.rmtree(out_dir, ignore_errors=True)


def flagship_throughput(spark, sf_dir: str, target_mb: int) -> dict:
    """The BASELINE.md comparison: the reference indexes ~708 MB of raw
    text in 19.1 s (~37 MB/s on 20 cores).  Same-shape measurement —
    stage a ~target_mb text corpus (documents.text replicated), then run
    ``run_inverted_index_job`` end to end (text scan -> tokenize ->
    combine -> word-keyed shuffle -> sorted postings -> part-%05d sink)
    and report MB/s.  Staging is excluded from the timed window."""
    from mapreduce_c_implementation_spark.job import run_inverted_index_job

    report = str(Path(__file__).resolve().parent / "metrics_report.txt")
    with flagship_job(spark, sf_dir, target_mb, report) as (job, corpus_bytes):
        # Same best-of-N rule as the headline loop: this box's noise
        # windows can double a single run's wall time.  Staging is
        # shared; each rep re-runs the full job (scan -> tokenize ->
        # shuffle -> sink) from scratch.
        reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "2")))
        wall = float("inf")
        for _ in range(reps):
            result = run_inverted_index_job(spark, job)
            wall = min(wall, result.metrics.wall_s)
    return {
        "corpus_mb": round(corpus_bytes / 1e6, 1),
        "wall_s": wall,
        "mb_per_s": round(corpus_bytes / 1e6 / wall, 1) if wall else 0.0,
        "metrics_report": report,
    }


def git_rev() -> str | None:
    """HEAD of the git checkout holding bench.py; None outside one."""
    here = Path(__file__).resolve().parent
    cmd = ["git", "rev-parse", "--show-toplevel", "HEAD"]
    try:
        out = subprocess.check_output(cmd, cwd=here, stderr=subprocess.DEVNULL)
    except (OSError, subprocess.CalledProcessError):
        return None
    top, rev = out.decode().splitlines()
    return rev if Path(top).resolve() == here else None


def fixture() -> tuple[str, float]:
    """The fixture directory ($SPARK_GRAFT_SF_DIR) and its scale factor."""
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    if not Path(sf_dir).is_dir():
        sys.exit(f"bench.py: SPARK_GRAFT_SF_DIR={sf_dir!r} is not a directory")
    try:
        sf = float(Path(sf_dir).name.removeprefix("sf"))
    except ValueError:
        sf = -1.0  # non-sf-named dir; still benchable
    return sf_dir, sf


def main() -> None:
    sf_dir, sf = fixture()

    from mapreduce_c_implementation_spark.registry import all_operators
    from mapreduce_c_implementation_spark.session import build_session

    spark = build_session("bench")
    ops = all_operators()
    names = [n for n in HEADLINE if n in ops]
    warm_up(spark, sf_dir)

    # Best-of-N timing with INTERLEAVED passes: this box shows noise
    # windows tens of seconds long during which every query runs many
    # times slower (measured: the same plan swings 0.8 s <-> 8 s).
    # Back-to-back repeats of one query both land inside such a window;
    # running the whole suite N times and taking each query's min means
    # a noise window must recur at the same point of every pass to bias
    # a result.
    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "2")))
    timings: dict[str, float] = {name: float("inf") for name in names}
    for _ in range(reps):
        for name in names:
            # Staging helpers cache per sf_dir, so reps after the first
            # measure steady state and min() absorbs it.
            dt = timed_run(spark, ops[name].query_fn, sf_dir)
            timings[name] = min(timings[name], dt)
        # Deterministic heap reset between passes: identical query order
        # means identical allocation profiles, so without this a major GC
        # lands at the SAME position in every pass and min() can't filter
        # it (r2 postmortem: tpch_q1 2.39 s in-suite vs 1.05 s isolated).
        spark.sparkContext._jvm.System.gc()
    timings = {name: round(t, 3) for name, t in timings.items()}

    total = round(sum(timings.values()), 3)
    payload = {
        "metric": "headline_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "cpus": spark.sparkContext.defaultParallelism,
        "reps": reps,
        "git_rev": git_rev(),
        # Round-3 methodology change, affects cross-round comparison:
        # the clock now includes query CONSTRUCTION, so operators that
        # execute eagerly inside query_fn (iterative localCheckpoint
        # ops like dedup_connected_components/kmeans_lloyd, and the
        # cache-scoped forced materializations) report their full cost.
        # Earlier rounds under-reported those (e.g. connected
        # components measured 0.03 s while its label propagation ran
        # pre-clock).  Not a regression — the same work, now counted.
        # clearCache() leaves load_table's per-session reader memo warm
        # on purpose: it holds file-listing and footer metadata only, and
        # every execution still scans the parquet files.
        "timing_note": (
            "clock includes query construction (eager in-op work counted "
            "from r3); the timed region reuses warm per-session reader "
            "plans (load_table memo: listing and footer metadata only, "
            "every execution still scans)"
        ),
    }

    # Flagship end-to-end throughput vs BASELINE.md (MB/s over raw text).
    # SPARK_GRAFT_FLAGSHIP_MB sizes the staged corpus; 0 disables.  The
    # default matches the reference's 708 MB workload (README.md:305) —
    # at 256 MB the job's fixed costs (codegen JIT, stage scheduling)
    # eat ~35% of the wall and understate steady-state MB/s.
    flagship_mb = int(os.environ.get("SPARK_GRAFT_FLAGSHIP_MB", "708"))
    if flagship_mb > 0:
        payload["flagship"] = flagship_throughput(spark, sf_dir, flagship_mb)

    # Second flagship row at ~2x the reference corpus (VERDICT r2 #8):
    # confirms MB/s holds once the scan outgrows the page-cache sweet
    # spot the reference's 708 MB enjoys.  0 disables.
    flagship_mb_2x = int(os.environ.get("SPARK_GRAFT_FLAGSHIP_MB_2X", "1416"))
    if flagship_mb_2x > 0:
        payload["flagship_2x"] = flagship_throughput(spark, sf_dir, flagship_mb_2x)

    # Third flagship row at ~4x (VERDICT r3 #8): throughput ROSE from 1x
    # to 2x (fixed costs amortize); this row checks the trend once the
    # scan is ~2.8 GB and executor memory pressure begins.  0 disables.
    flagship_mb_4x = int(os.environ.get("SPARK_GRAFT_FLAGSHIP_MB_4X", "2832"))
    if flagship_mb_4x > 0:
        payload["flagship_4x"] = flagship_throughput(spark, sf_dir, flagship_mb_4x)

    # The driver captures only a stdout TAIL; alphabetically-early
    # per-query times fell outside the window in past rounds
    # (BENCH_r06.json "parsed": null, BENCH_r12.json likewise).  Two
    # mitigations (VERDICT r13 item 3b, additions-only — the full
    # payload line below is unchanged and still printed LAST):
    #   1. a compact summary line printed first, so a reader scanning
    #      the whole log always finds the total even if the big line
    #      is truncated;
    #   2. the complete payload landed in-repo (BENCH_LOCAL.json) so
    #      the artifact can never be truncated.
    summary = {
        "metric": "headline_total_wall_summary",
        "value": payload["value"],
        "unit": "sec",
        "sf": sf,
        "cpus": payload["cpus"],
    }
    print(json.dumps(summary), flush=True)
    out_path = os.environ.get("SPARK_GRAFT_BENCH_OUT", "BENCH_LOCAL.json")
    if out_path:
        try:
            with open(out_path, "w") as fh:
                json.dump(payload, fh, indent=1)
                fh.write("\n")
        except OSError:
            pass  # read-only checkout must not fail the bench
    print(json.dumps(payload))
    spark.stop()


if __name__ == "__main__":
    main()
