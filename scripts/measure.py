#!/usr/bin/env python
"""Same-session measurement, timed by bench.py's rule (warm-up, a clock
that includes query construction, noop sink, clearCache, a GC between
passes):

    python scripts/measure.py ab Q [Q ...] [--old-root DIR] [--conf K=V ...]
                                           [--plans DIR]
    python scripts/measure.py scale [--k K] [--dims] [--cores A,B] [--top N]
    python scripts/measure.py flagship [--sizes MB,MB,...]

Every subcommand feeds one loop, ``compare``.  A *form* is one variant
under test: the checkout, another revision (``--old-root``: the root of
e.g. a ``git worktree``), a runtime-conf overlay, a fixture or a core
count.  The loop keeps the best of ``--reps`` passes, times the
no-change ``CONTROL`` query before every measurement, and reverses the
form order on every other rep, so warm-up order favours no form.  Each
form after the first reports ``ratio`` (its best wall over the first
form's) and ``normalized`` (that ratio over the control's ratio), which
reads ~1 when only the host changed.  The fixture is $SPARK_GRAFT_SF_DIR,
as in bench.py.  The JSON report is printed last on stdout; ``scale``
also writes its table as one section of docs/SCALING.md.
"""

from __future__ import annotations

import argparse
import importlib
import json
import shutil
import sys
import tempfile
from contextlib import contextmanager, nullcontext
from functools import partial, reduce
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

import bench  # noqa: E402

PKG = "mapreduce_c_implementation_spark"
CONTROL = "tpch_q6"
PLAN_NODES = ("Exchange", "BatchEvalPython", "ArrowEvalPython")

# Fact-axis probe set: one or more operators per plan shape (aggregate,
# join, similarity join, prefix sum, iterative, streaming), so a
# super-linear 1x -> Kx ratio flags an accidental quadratic.
PROBE_OPS = [
    "word_count",
    "inverted_index",
    "tpch_q1",
    "join_orders_lineitem",
    "dedup_minhash_lsh",
    "char_entropy_quality",
    "skipgram_cooccurrence",
    "dedup_exact",
    "set_similarity_prefix_join",
    "shingle_containment_pairs",
    "embedding_random_projection",
    "concurrency_sweep",
    "sequence_packing",
    "zorder_layout",
    "customer_rfm_segmentation",
    "part_abc_classification",
    "ngram_lm_perplexity",
    "bpe_merge_steps",
    "dedup_paragraph_rewrite",
    "interval_overlap_join",
    "token_label_mutual_information",
    "span_corruption_masking",
    "rag_chunk_index_build",
    "contamination_filter_rewrite",
    "mlm_token_masking",
    "kaplan_meier_retention",
    "welch_t_test_pairs",
    "langid_confusion_matrix",
    "preference_pair_construction",
    "graph_random_walk_pairs",
    "url_canonicalize_dedup",
    "bloom_contamination_screen",
    "nb_quality_classifier_train_apply",
    "perplexity_filter_rewrite",
    "domain_cap_rewrite",
    "join_fuzzy_levenshtein",
    "boilerplate_ngram_removal",
    "hard_negative_mining",
    "feature_rank_normalize",
    "corpus_entropy_rate",
    "fim_transformation",
    "cross_source_contamination_matrix",
    "curriculum_data_ordering",
    "embedding_dimension_whitening",
    "duplicate_token_run_collapse",
    "dsir_importance_resampling",
    "ngram_novelty_score",
    "dedup_soft_weighting",
    "cusum_changepoint_scan",
    "dp_laplace_source_histogram",
    "pass_at_k_eval",
    "spearman_rank_correlation",
    "group_holdout_split",
    "stratified_kfold_assign",
    "feature_hash_collision_stats",
    "url_blocklist_filter",
    "ks_two_sample_binned",
    "quality_classifier_inference",
    "length_bucket_batching",
    "graph_adamic_adar",
    "source_temperature_mixing",
    "cvm_two_sample_binned",
    "cosine_similarity_histogram",
    "mann_whitney_u_binned",
    "cohen_kappa_agreement",
    "dedup_quality_representatives",
    "isotonic_calibration_rewrite",
    "leakage_split_repair",
    "substring_overlap_spans",
    "toxicity_wordlist_filter",
    "winnowing_fingerprint_dedup",
    "generation_eval_overlap",
    "doremi_domain_reweighting",
    "best_of_n_rejection_sampling",
    "lm_holdout_perplexity",
    "elo_pairwise_ratings",
    "cluster_capped_diversity_sample",
    "kneser_ney_bigram_lm",
    "quality_signal_ensemble_rank",
    "substring_trim_rewrite",
    "count_min_sketch_tokens",
    "matryoshka_truncation_recall",
    "entity_resolution_clusters",
    "conformal_prediction_threshold",
    "woe_information_value",
    "suffix_array_ranked_lcp",
    "substring_exact_spans",
    "substring_exact_trim_rewrite",
    "quantile_sketch_mergeable",
    "association_rules_parts",
    "ndcg_ranking_eval",
    "generation_cer_eval",
    "brier_score_decomposition",
    "paired_bootstrap_significance",
    "autocorrelation_daily_values",
    "theil_sen_daily_trend",
    "knn_classification_eval",
    "kcenter_greedy_coreset",
    "multimodal_cdc_chunk_dedup",
    "negative_sampling_table",
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
    "stream_substring_screen",
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
    "stream_substring_screen_cumulative",
    "index_delete_propagation",
    "dedup_minhash_index_append",
    "index_bucket_compaction",
    "index_upsert_delete_lifecycle",
    "stream_substring_screen_resumable",
    "index_snapshot_vacuum",
    "stream_substring_screen_rtbf",
]

# Dimension-axis probe set: the ops whose cost is driven by the
# part/supplier dimension tables, which the fact-axis probe holds fixed.
DIM_PROBE_OPS = [
    "record_linkage_blocked",
    "entity_resolution_clusters",
    "fk_candidate_discovery",
    "join_fuzzy_levenshtein",
    "tpch_q2_min_cost_supplier",
    "tpch_q9_product_profit",
    "tpch_q16_supplier_counts",
]

# The key shifted per replica: keys stay unique across replicas while
# each replica keeps its own FK structure.
FACT_KEYS = {
    "orders": "o_orderkey",
    "lineitem": "l_orderkey",
    "events": "event_id",
    "documents": "doc_id",
    "embeddings": "vec_id",
}
DIM_KEYS = {"part": "p_partkey", "supplier": "s_suppkey"}

# --top skips the maintained-index ops: their wall is in-op warehouse
# staging cached per sf_dir, so a freshly staged fixture would measure
# the staging, not the query.
TOP_SKIP = {
    "index_delete_propagation",
    "index_upsert_delete_lifecycle",
    "index_bucket_compaction",
    "index_snapshot_vacuum",
    "dedup_minhash_index_append",
}


def _time_op(spark, ops, sf_dir: str, name: str) -> float:
    return bench.timed_run(spark, ops[name].query_fn, sf_dir)


def compare(forms: dict, names: list[str], reps: int, control_dir: str, run=_time_op):
    """Time every name under every form; return the JSON-ready report.

    ``forms`` maps a tag to a zero-argument callable returning a context
    manager that yields ``(spark, ops, sf_dir)``; it is entered once per
    rep.  ``run(spark, ops, sf_dir, name)`` returns seconds.  CONTROL
    runs at ``control_dir`` before every measurement."""
    order = list(forms)
    walls = {t: {n: [] for n in names} for t in order}
    controls = {t: [] for t in order}
    for rep in range(reps):
        for tag in order[:: -1 if rep % 2 else 1]:
            with forms[tag]() as (spark, ops, sf_dir):
                for n in names:
                    ctl = bench.timed_run(spark, ops[CONTROL].query_fn, control_dir)
                    controls[tag].append(round(ctl, 3))
                    walls[tag][n].append(round(run(spark, ops, sf_dir, n), 3))
                spark.sparkContext._jvm.System.gc()
    base, alts = order[0], order[1:]
    ctl_ratio = {t: min(controls[t]) / min(controls[base]) for t in alts}
    queries = {}
    for n in names:
        best = {t: min(walls[t][n]) for t in order}
        ratio = {t: best[t] / best[base] for t in alts}
        queries[n] = {
            "runs": {t: walls[t][n] for t in order},
            "best": best,
            "ratio": {t: round(r, 3) for t, r in ratio.items()},
            "normalized": {t: round(r / ctl_ratio[t], 3) for t, r in ratio.items()},
        }
    return {
        "control": CONTROL,
        "reps": reps,
        "forms": order,
        "controls": controls,
        "control_ratio": {t: round(r, 3) for t, r in ctl_ratio.items()},
        "queries": queries,
    }


def fixed(spark, ops, sf_dir: str):
    """A form that runs ``ops`` on ``spark`` at ``sf_dir`` unchanged."""
    return lambda: nullcontext((spark, ops, sf_dir))


def _pop_pkg() -> dict:
    mods = [m for m in sys.modules if m == PKG or m.startswith(PKG + ".")]
    return {m: sys.modules.pop(m) for m in mods}


@contextmanager
def package_form(spark, root: str, sf_dir: str):
    """A form running the package imported from ``root``.

    The driver imports it from there, and cloudpickle ships its functions
    by value: Python workers import by-reference UDFs from their own
    path, which is the checkout, so without this an old revision's UDFs
    would run the current code.  Every entry re-imports the package, so
    per-module memos (the load_table reader memo) start cold in every rep
    of every package form alike.  sys.path, sys.modules and the by-value
    registry are restored on exit."""
    from pyspark import cloudpickle

    saved = _pop_pkg()
    by_value = PKG in cloudpickle.list_registry_pickle_by_value()
    sys.path.insert(0, root)
    try:
        ops = importlib.import_module(PKG + ".registry").all_operators()
        cloudpickle.register_pickle_by_value(sys.modules[PKG])
        yield spark, ops, sf_dir
    finally:
        sys.path.remove(root)
        if not by_value and PKG in cloudpickle.list_registry_pickle_by_value():
            cloudpickle.unregister_pickle_by_value(sys.modules[PKG])
        _pop_pkg()
        sys.modules.update(saved)


@contextmanager
def with_conf(form, overlay: dict[str, str]):
    """``form`` with ``overlay`` set on its session.  Each key's prior
    value is restored on exit, and only a key that was unset is unset
    again: unsetting a key that build_session set falls back to Spark's
    default, not to the session's value."""
    with form() as (spark, ops, sf_dir):
        prior = {k: spark.conf.get(k, None) for k in overlay}
        try:
            for k, v in overlay.items():
                spark.conf.set(k, v)
            yield spark, ops, sf_dir
        finally:
            for k, v in prior.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)


@contextmanager
def session_form(cores: int, sf_dir: str):
    """A form on a fresh, warmed local[cores] session, stopped on exit."""
    from mapreduce_c_implementation_spark.registry import all_operators
    from mapreduce_c_implementation_spark.session import build_session

    spark = build_session(f"measure-{cores}", cores=cores)
    try:
        bench.warm_up(spark, sf_dir)
        yield spark, all_operators(), sf_dir
    finally:
        spark.stop()


def stage(spark, src: str, out: str, k: int, keys: dict, grow_names=False) -> None:
    """Write every fixture table to ``out``: the ``keys`` tables replicated
    k-fold with their key shifted per replica, the rest copied as is.
    ``grow_names`` prefixes replica r > 0's part names with 'v{r} ', so
    the distinct-name space grows k-fold too: the axis that measures
    linkage blocking selectivity instead of value-grain compaction."""
    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F

    for path in sorted(Path(src).glob("*.parquet")):
        table, df = path.stem, spark.read.parquet(str(path))
        if table in keys:
            key = keys[table]
            span = df.agg(F.max(key)).first()[0] + 1
            parts = [df.withColumn(key, F.col(key) + r * span) for r in range(k)]
            if grow_names and table == "part":
                parts[1:] = [
                    p.withColumn("p_name", F.concat(F.lit(f"v{r} "), "p_name"))
                    for r, p in enumerate(parts[1:], 1)
                ]
            df = reduce(DataFrame.unionByName, parts)
        df.write.mode("overwrite").parquet(f"{out}/{table}.parquet")


def write_section(heading: str, note: str, report: dict) -> None:
    """Replace docs/SCALING.md's ``## heading`` section with the report's
    table, or append it; the rest of the file is kept as is."""
    forms, alts = report["forms"], report["forms"][1:]
    cols = [f"{t} wall (s)" for t in forms] + [f"{t} ratio" for t in alts]
    header = f"| Operator | {' | '.join(cols)} |"
    lines = ["", note, "", header, "|---" * (len(cols) + 1) + "|"]
    for n, q in report["queries"].items():
        cells = [str(q["best"][t]) for t in forms] + [f"{q['ratio'][t]}x" for t in alts]
        lines.append(f"| `{n}` | {' | '.join(cells)} |")
    path = ROOT / "docs" / "SCALING.md"
    marker = f"\n## {heading}\n"
    head, found, rest = path.read_text().partition(marker)
    nxt = rest.find("\n## ")
    tail = rest[nxt:] if found and nxt >= 0 else ""
    if not found:
        head = head.rstrip("\n") + "\n"
    path.write_text(head + marker + "\n".join(lines) + "\n" + tail)


def top_names(n: int) -> list[str]:
    """The n heaviest headline queries in the committed BENCH_LOCAL.json."""
    walls = json.loads((ROOT / "BENCH_LOCAL.json").read_text())["queries"]
    return sorted(set(walls) - TOP_SKIP, key=walls.get, reverse=True)[:n]


def cmd_ab(args, spark, sf_dir: str) -> dict:
    from mapreduce_c_implementation_spark.plans.inspect import physical_plan
    from mapreduce_c_implementation_spark.registry import all_operators

    ops = all_operators()
    missing = [n for n in args.queries if n not in ops]
    if missing:
        sys.exit(f"measure.py: unknown operators {missing}")
    if args.old_root:
        roots = {"new": str(ROOT), "old": args.old_root}
        forms = {t: partial(package_form, spark, r, sf_dir) for t, r in roots.items()}
    else:
        forms = {"base": fixed(spark, ops, sf_dir)}
    if args.conf:
        forms["conf"] = partial(with_conf, next(iter(forms.values())), dict(args.conf))
    report = compare(forms, args.queries, args.reps, sf_dir)
    if args.plans:
        Path(args.plans).mkdir(parents=True, exist_ok=True)
    for tag, form in forms.items():
        with form() as (spark, form_ops, sf_dir):
            for n in args.queries:
                plan = physical_plan(form_ops[n].query_fn(spark, sf_dir))
                spark.catalog.clearCache()
                counts = {node: plan.count(node) for node in PLAN_NODES}
                report["queries"][n].setdefault("plan", {})[tag] = counts
                if args.plans:
                    (Path(args.plans) / f"{n}_{tag}.txt").write_text(plan)
    return report


def cmd_scale(args, spark, sf_dir: str) -> dict:
    from mapreduce_c_implementation_spark.registry import all_operators

    names = (
        top_names(args.top) if args.top else DIM_PROBE_OPS if args.dims else PROBE_OPS
    )
    keys = DIM_KEYS if args.dims else FACT_KEYS
    heading = f"{'dims ' if args.dims else ''}{args.k}x"
    where = f"local[{spark.sparkContext.defaultParallelism}]"
    tmp = tempfile.mkdtemp(prefix="measure_scale_")
    try:
        big = f"{tmp}/big"
        stage(spark, sf_dir, big, args.k, keys)
        if args.cores:
            spark.stop()
            forms = {f"local[{c}]": partial(session_form, c, big) for c in args.cores}
            where = " vs ".join(forms)
            heading += f", {where}"
        else:
            ops = all_operators()
            forms = {"1x": fixed(spark, ops, sf_dir), heading: fixed(spark, ops, big)}
            if args.dims:
                stage(spark, sf_dir, f"{tmp}/grown", args.k, keys, grow_names=True)
                forms[f"{heading} names grown"] = fixed(spark, ops, f"{tmp}/grown")
        report = compare(forms, names, args.reps, sf_dir)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    ctl = ", ".join(f"{t} {r}x" for t, r in report["control_ratio"].items())
    note = (
        f"Generated by `python scripts/measure.py {' '.join(sys.argv[1:])}` from "
        f"`{Path(sf_dir).name}` on {where}: best of {args.reps}; control "
        f"`{CONTROL}` ratio {ctl}."
    )
    write_section(heading, note, report)
    return report


def cmd_flagship(args, spark, sf_dir: str) -> dict:
    from mapreduce_c_implementation_spark.job import run_inverted_index_job
    from mapreduce_c_implementation_spark.registry import all_operators

    ops = all_operators()
    sizes = {}
    for mb in args.sizes:
        with bench.flagship_job(spark, sf_dir, mb) as (job, nbytes):
            results = []

            def run(spark, ops, sf_dir, name):
                results.append(run_inverted_index_job(spark, job))
                return results[-1].metrics.wall_s

            form = {"checkout": fixed(spark, ops, sf_dir)}
            r = compare(form, ["flagship"], args.reps, sf_dir, run)
        best = min(results, key=lambda res: res.metrics.wall_s)
        sizes[str(mb)] = {
            "corpus_mb": round(nbytes / 1e6, 1),
            "walls_s": r["queries"]["flagship"]["runs"]["checkout"],
            "mb_per_s": round(nbytes / 1e6 / best.metrics.wall_s, 1),
            "controls_s": r["controls"]["checkout"],
            "stages": [vars(s) for s in best.metrics.stages],
        }
        print(json.dumps({str(mb): sizes[str(mb)]}), flush=True)
    return {"control": CONTROL, "reps": args.reps, "sizes": sizes}


def _conf_pair(text: str) -> tuple[str, str]:
    key, eq, value = text.partition("=")
    if not (key and eq):
        raise argparse.ArgumentTypeError(f"expected KEY=VALUE, got {text!r}")
    return key, value


def _ints(text: str) -> list[int]:
    return [int(x) for x in text.split(",")]


def main() -> None:
    common = argparse.ArgumentParser(add_help=False)
    common.add_argument(
        "--reps", type=int, default=2, choices=range(1, 100), metavar="N"
    )
    ap = argparse.ArgumentParser(description="Same-session measurement.")
    sub = ap.add_subparsers(required=True)
    ab = sub.add_parser("ab", parents=[common], help="time queries per form")
    ab.add_argument("queries", nargs="+")
    ab.add_argument("--old-root", help="another revision's checkout root")
    ab.add_argument(
        "--conf",
        action="append",
        type=_conf_pair,
        metavar="KEY=VALUE",
        help="add a form with this runtime conf overlay (repeatable)",
    )
    ab.add_argument("--plans", help="write formatted plans to PLANS/<q>_<form>.txt")
    ab.set_defaults(cmd=cmd_ab)
    sc = sub.add_parser("scale", parents=[common], help="1x vs Kx, or per core count")
    sc.add_argument("--k", type=int, default=4, help="replication factor")
    sc.add_argument("--dims", action="store_true", help="replicate part/supplier")
    sc.add_argument("--cores", type=_ints, help="A,B: time Kx at local[A] vs local[B]")
    sc.add_argument("--top", type=int, help="the N heaviest BENCH_LOCAL.json queries")
    sc.set_defaults(cmd=cmd_scale)
    fl = sub.add_parser("flagship", parents=[common], help="flagship MB/s per size")
    fl.add_argument("--sizes", type=_ints, default=[708, 1416, 2832], help="MB,MB,...")
    fl.set_defaults(cmd=cmd_flagship)
    args = ap.parse_args()

    sf_dir, _ = bench.fixture()
    from mapreduce_c_implementation_spark.session import build_session

    spark = build_session("measure")
    bench.warm_up(spark, sf_dir)
    report = args.cmd(args, spark, sf_dir)
    print(json.dumps(report))
    spark.stop()


if __name__ == "__main__":
    main()
