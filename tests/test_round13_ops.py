"""Round-13 operator semantics: snapshot retention (vacuum), the
resumable cumulative screen (kill-and-restart mid-ingest), and RTBF
delete propagation composed into the live streaming loop — the checks
the driver's DuckDB differential cannot express (restart behavior,
catalog/filesystem state, rewrite plans)."""

from __future__ import annotations

import hashlib
import os
import shutil
from pathlib import Path

from pyspark.sql import functions as F

from mapreduce_c_implementation_spark.registry import get_operator


def _file_snapshot(root: str) -> dict[str, float]:
    return {
        str(p): p.stat().st_mtime
        for p in Path(root).rglob("*")
        if p.is_file()
    }


# --- index_snapshot_vacuum --------------------------------------------


def test_vacuum_op_reclaims_superseded_generations(spark, sf_correct):
    """The registered op stages a two-epoch swap history (g0 -> v2 ->
    v3) and vacuums it: both superseded versions dropped, the current
    snapshot verified against its manifest, real bytes reclaimed."""
    out = (
        get_operator("index_snapshot_vacuum")
        .query_fn(spark, sf_correct)
        .collect()
    )
    assert len(out) == 1
    row = out[0]
    assert row.verified == 1
    assert row.versions_kept == 1
    assert row.versions_dropped == 2
    audit = get_operator("index_snapshot_vacuum").query_fn.last_audit
    assert audit["bytes_reclaimed"] > 0
    tag = hashlib.md5(sf_correct.encode()).hexdigest()[:8]
    g0 = f"b_vac_cas_{tag}"
    assert not spark.catalog.tableExists(g0)
    assert not spark.catalog.tableExists(f"{g0}_v2")
    assert spark.catalog.tableExists(f"{g0}_v3")


def test_vacuum_after_rtbf_leaves_only_v2_and_probes_stay_bucketed(
    spark, sf_correct
):
    """VERDICT r12 #2's done-criterion: vacuum after
    index_delete_propagation leaves exactly the v2 tables, and the
    probe ops still plan zero-shuffle against them (bucketed scan, the
    only exchange being the probe side's)."""
    import re

    from mapreduce_c_implementation_spark.operators.dedup import (
        vacuum_superseded,
    )
    from mapreduce_c_implementation_spark.plans.inspect import physical_plan

    get_operator("index_delete_propagation").query_fn(
        spark, sf_correct
    ).collect()
    tag = hashlib.md5(sf_correct.encode()).hexdigest()[:8]
    for short in ("sscr", "mh", "cas"):
        tbl = f"b_rtbf_{short}_{tag}"
        audit = vacuum_superseded(spark, f"{tbl}_v2")
        assert audit["verified"] == 1, audit
        assert audit["versions_dropped"] == 1, audit
        assert audit["bytes_reclaimed"] > 0, audit
        assert not spark.catalog.tableExists(tbl)
        assert spark.catalog.tableExists(f"{tbl}_v2")
    # probe the surviving mh snapshot: bucket-aligned sort-merge join,
    # index side never shuffles (only the probe side may hash-partition)
    probe = (
        spark.range(50)
        .select(F.concat_ws("#", F.lit("0"), F.col("id")).alias("bkey"))
        .join(spark.table(f"b_rtbf_mh_{tag}_v2").hint("merge"), "bkey")
    )
    plan = physical_plan(probe)
    assert "SortMergeJoin" in plan, plan
    assert re.search(r"Scan parquet [^\n]*b_rtbf_mh_", plan), plan
    assert "Bucketed: true" in plan, plan
    assert len(re.findall(r"hashpartitioning\(bkey", plan)) <= 1, plan


def test_vacuum_refuses_to_drop_on_checksum_mismatch(spark, sf_smoke):
    """The safety the swap pattern promised in prose: if the LIVE
    current snapshot does not match its committed manifest, NOTHING is
    dropped — a wrong live snapshot is exactly when the superseded
    version must survive."""
    from mapreduce_c_implementation_spark.operators.dedup import (
        _write_snapshot_manifest,
        vacuum_superseded,
    )

    old_t, new_t = "b_vac_gate_old", "b_vac_gate_new"
    for t in (old_t, new_t):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    try:
        df = spark.range(100).select(
            F.col("id").alias("doc_id"),
            F.md5(F.col("id").cast("string")).alias("k"),
        )
        for t in (old_t, new_t):
            (
                df.repartition(4, "k")
                .write.bucketBy(4, "k")
                .sortBy("k")
                .mode("overwrite")
                .format("parquet")
                .saveAsTable(t)
            )
        _write_snapshot_manifest(
            spark, new_t, supersedes=old_t, chk=12345, rows=100,
            chk_cols=["doc_id", "k"],
        )  # checksum deliberately wrong
        audit = vacuum_superseded(spark, new_t)
        assert audit["verified"] == 0
        assert audit["versions_dropped"] == 0
        assert audit["bytes_reclaimed"] == 0
        assert spark.catalog.tableExists(old_t), "dropped despite mismatch"
    finally:
        for t in (old_t, new_t):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_observed_manifest_matches_readback_and_vacuum_sees_lost_file(
    spark,
):
    """The manifest observed on the swap's write equals the checksum
    read back from the written table.  The vacuum's verify reads the
    files on disk: after one bucket file of the new snapshot is lost,
    it refuses (verified == 0) and drops nothing."""
    from mapreduce_c_implementation_spark.operators.dedup import (
        RTBF_BUCKETS,
        _rtbf_checksum_agg,
        _save_observed_snapshot,
        read_snapshot_manifest,
        vacuum_superseded,
    )
    from mapreduce_c_implementation_spark.sources.tables import (
        save_bucketed,
        table_location,
    )

    old_t, new_t = "b_vac_obs_old", "b_vac_obs_new"
    cols = ["doc_id", "k"]
    try:
        df = spark.range(500).select(
            F.col("id").alias("doc_id"),
            F.md5(F.col("id").cast("string")).alias("k"),
        )
        save_bucketed(
            spark, df.repartition(RTBF_BUCKETS, "k"), old_t, "k", RTBF_BUCKETS
        )
        _save_observed_snapshot(
            spark,
            spark.table(old_t).filter(F.col("doc_id") % 10 != 3),
            new_t,
            "k",
            supersedes=old_t,
            chk_cols=cols,
        )
        m = read_snapshot_manifest(spark, new_t)
        back = _rtbf_checksum_agg(spark.table(new_t), cols).first()
        assert (m["checksum"], m["rows"]) == (back["chk"], back["cnt"])
        assert m["rows"] == 450
        assert m["supersedes"] == old_t and m["chk_cols"] == cols

        parts = sorted(Path(table_location(spark, new_t)).glob("part-*"))
        assert len(parts) > 1
        parts[0].unlink()
        audit = vacuum_superseded(spark, new_t)
        assert audit["verified"] == 0, audit
        assert audit["versions_dropped"] == 0
        assert audit["bytes_reclaimed"] == 0
        assert audit["rows_current"] < 450
        assert spark.catalog.tableExists(old_t), "dropped despite lost file"
    finally:
        for t in (old_t, new_t):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_vacuum_op_runs_at_most_nine_jobs(spark, sf_correct):
    """Per call (query_fn + toPandas): build 2, two observed swaps 2 x 2,
    verify 2, result collect 1.  The swaps' manifests come from their
    writes, so no job re-reads a new snapshot."""
    op = get_operator("index_snapshot_vacuum").query_fn
    op(spark, sf_correct).toPandas()  # warm: reader and catalog caches
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    jobs = dag.numTotalJobs()
    op(spark, sf_correct).toPandas()
    assert dag.numTotalJobs() - jobs <= 9


# --- stream_substring_screen_resumable --------------------------------


def test_sscrr_kill_restart_resumes_mid_ingest(spark, sf_correct, tmp_path):
    """The round-13 headline contract (VERDICT r12 #1): kill the stream
    after batch 0, restart from the same state root, and prove
    (a) no corpus pass — the shared base index files are byte-untouched
        across the restart,
    (b) no re-screening — epoch 0's audit files are not rewritten and
        no doc is screened twice,
    (c) the final output equals the uninterrupted run's exactly."""
    from mapreduce_c_implementation_spark.sources.tables import (
        table_location,
    )
    from mapreduce_c_implementation_spark.streaming.queries import (
        SSCR_BUCKETS,
        _sscrr_load_state,
        _sscrr_run,
    )
    from mapreduce_c_implementation_spark.streaming.staging import (
        stage_documents,
    )
    from tests.oracle import canonical_rows

    staged = stage_documents(sf_correct)
    batches = sorted(
        f for f in os.listdir(staged) if f.endswith(".parquet")
    )
    assert len(batches) == 3
    src = tmp_path / "src"
    src.mkdir()
    root = str(tmp_path / "state")
    tags = []
    try:
        # Phase 1: only batch 0 exists; run to completion, "kill".
        shutil.copy2(f"{staged}/{batches[0]}", src / batches[0])
        partial = _sscrr_run(spark, sf_correct, root, str(src)).collect()
        tags.append(hashlib.md5(root.encode()).hexdigest()[:8])
        st1 = _sscrr_load_state(root)
        assert st1["screened_through"] == 0
        assert {r.batch_id for r in partial} == {0}

        base_tbl = (
            f"b_sscr_index_{hashlib.md5(sf_correct.encode()).hexdigest()[:8]}"
        )
        base_snap = _file_snapshot(table_location(spark, base_tbl))
        e0_snap = _file_snapshot(str(Path(root) / "out" / "e00000"))
        assert base_snap and e0_snap

        # Phase 2: deliver the rest, restart from the same root.
        for b in batches[1:]:
            shutil.copy2(f"{staged}/{b}", src / b)
        final = _sscrr_run(spark, sf_correct, root, str(src)).toPandas()

        # (a) base tier untouched; (b) epoch 0 not reprocessed, and no
        # doc screened twice across the whole run
        assert _file_snapshot(table_location(spark, base_tbl)) == base_snap
        assert _file_snapshot(str(Path(root) / "out" / "e00000")) == e0_snap
        assert final["doc_id"].nunique() == len(final)
        assert sorted(final["batch_id"].unique()) == [0, 1, 2]
        assert int(final["accepted"].sum()) > 0

        # in-loop compaction ran at epoch 1 and only epoch 2 is live
        st2 = _sscrr_load_state(root)
        assert st2["screened_through"] == 2
        assert st2["gen_table"], "in-loop compaction never committed"
        assert st2["live_epochs"] == [2]
        gen_files = [
            f
            for f in _file_snapshot(
                table_location(spark, st2["gen_table"])
            )
            if not Path(f).name.startswith(("_", "."))
        ]
        assert len(gen_files) <= SSCR_BUCKETS

        # (c) identical to the uninterrupted run
        root2 = str(tmp_path / "ref_state")
        src2 = tmp_path / "ref_src"
        src2.mkdir()
        for b in batches:
            shutil.copy2(f"{staged}/{b}", src2 / b)
        ref = _sscrr_run(spark, sf_correct, root2, str(src2)).toPandas()
        tags.append(hashlib.md5(root2.encode()).hexdigest()[:8])
        assert canonical_rows(final) == canonical_rows(ref)
    finally:
        for t in spark.catalog.listTables():
            if any(t.name.startswith(f"b_sscrr_{tag}_") for tag in tags):
                spark.sql(f"DROP TABLE IF EXISTS {t.name}")


def test_sscrr_compaction_reads_only_overlay(spark, sf_smoke, tmp_path):
    """The in-loop compaction's inputs must be overlay tiers ONLY — the
    base index is never an input and never rewritten (its files are
    checked byte-identical in the restart test; here the recorded
    source paths pin the read set itself)."""
    from mapreduce_c_implementation_spark.streaming.queries import (
        _sscrr_compact,
        _sscrr_run,
    )
    from mapreduce_c_implementation_spark.streaming.staging import (
        stage_documents,
    )

    root = str(tmp_path / "state")
    tag = hashlib.md5(root.encode()).hexdigest()[:8]
    try:
        _sscrr_run(spark, sf_smoke, root, stage_documents(sf_smoke))
        paths = _sscrr_compact.last_source_paths
        assert paths, "compaction never ran"
        assert all(f"b_sscrr_{tag}_" in p for p in paths), paths
        assert not any("b_sscr_index_" in p for p in paths), paths
    finally:
        for t in spark.catalog.listTables():
            if t.name.startswith(f"b_sscrr_{tag}_"):
                spark.sql(f"DROP TABLE IF EXISTS {t.name}")


def test_sscrr_compaction_handles_zero_accept_epoch(spark):
    """An epoch that accepts ZERO docs (every arrival a full duplicate —
    routine under heavy replication) leaves an overlay table with no
    data files; compaction must merge it anyway (explicit schema, no
    inference) — the 32x probe crash class."""
    from mapreduce_c_implementation_spark.streaming.queries import (
        SSCR_BUCKETS,
        _sscrr_compact,
    )

    full_t, empty_t, dest = (
        "b_sscrr_gate_full", "b_sscrr_gate_empty", "b_sscrr_gate_gen",
    )
    for t in (full_t, empty_t, dest):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    try:
        (
            spark.range(100)
            .select(
                F.col("id").alias("base_doc"),
                F.md5(F.col("id").cast("string")).alias("win_hash"),
            )
            .repartition(SSCR_BUCKETS, "win_hash")
            .write.bucketBy(SSCR_BUCKETS, "win_hash")
            .sortBy("win_hash")
            .mode("overwrite")
            .format("parquet")
            .saveAsTable(full_t)
        )
        spark.createDataFrame(
            [], "base_doc long, win_hash string"
        ).write.bucketBy(SSCR_BUCKETS, "win_hash").sortBy(
            "win_hash"
        ).mode("overwrite").format("parquet").saveAsTable(empty_t)
        _sscrr_compact(spark, [full_t, empty_t], dest)
        assert spark.table(dest).count() == 100
    finally:
        for t in (full_t, empty_t, dest):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


# --- stream_substring_screen_rtbf -------------------------------------


def test_sscrv_mid_stream_delete_propagates_all_tiers(spark, sf_correct):
    """After the op runs: exactly one delete epoch was applied; the
    live generation tables and the accepted-texts store contain ZERO
    rows for deleted docs; the superseded generation is gone; data
    batches landed on epochs 0, 1, 3 (the control batch consumed
    epoch 2); and the recorded rewrite plans are broadcast-only."""
    from mapreduce_c_implementation_spark.operators.dedup import (
        RTBF_DELETE_MOD,
        RTBF_DELETE_REM,
    )
    from mapreduce_c_implementation_spark.streaming.queries import (
        _FEBATCH_DIRS,
    )

    fn = get_operator("stream_substring_screen_rtbf").query_fn
    out = fn(spark, sf_correct).toPandas()
    assert sorted(out["batch_id"].unique()) == [0, 1, 3]
    assert out["doc_id"].nunique() == len(out)

    audits = fn.last_delete_audit
    assert len(audits) == 1, audits
    assert audits[0]["base_rows_removed"] > 0, audits

    tag = hashlib.md5(sf_correct.encode()).hexdigest()[:8]
    assert not spark.catalog.tableExists(f"b_sscrv_{tag}_base_v0")
    assert not spark.catalog.tableExists(f"b_sscrv_{tag}_ovl_v0")
    # Base docs never re-arrive: the live base tier must hold ZERO rows
    # for deleted docs.  The overlay may legitimately hold rows for
    # deleted doc_ids that RE-ARRIVED in batch 3 (post-delete data is
    # new data) — but none for docs indexed BEFORE the delete epoch.
    base_live = spark.table(f"b_sscrv_{tag}_base_v1")
    assert (
        base_live.filter(
            F.col("base_doc") % RTBF_DELETE_MOD == RTBF_DELETE_REM
        ).count()
        == 0
    ), "deleted docs leaked in live base tier"
    post_delete_ok = out[out["batch_id"] == 3]["doc_id"].tolist()
    ovl_live = spark.table(f"b_sscrv_{tag}_ovl_v1")
    leaked = ovl_live.filter(
        (F.col("base_doc") % RTBF_DELETE_MOD == RTBF_DELETE_REM)
        & (~F.col("base_doc").isin(post_delete_ok))
    ).count()
    assert leaked == 0, "pre-delete deleted docs leaked in live overlay"
    # the texts store was rewritten: only batch-3 accepted deleted-id
    # docs (which RE-ARRIVED after their delete, i.e. new data) may
    # appear; every doc accepted BEFORE the delete epoch must be gone
    texts = spark.read.parquet(_FEBATCH_DIRS[(sf_correct, "sscrv_texts")] + "/v1")
    pre_delete_accepted = out[
        (out["batch_id"] < 2)
        & (out["accepted"] == 1)
        & (out["doc_id"] % RTBF_DELETE_MOD == RTBF_DELETE_REM)
    ]["doc_id"].tolist()
    if pre_delete_accepted:
        n = texts.filter(F.col("doc_id").isin(pre_delete_accepted)).count()
        assert n == 0, "deleted accepted arrivals survive in texts store"


def test_sscrv_rewrites_are_broadcast_only(spark, sf_correct):
    """Plan gate (VERDICT r12 #3 done-criterion): every recorded
    mid-stream rewrite is a broadcast anti-join — the maintained state
    is never shuffled by a delete (no hash-partition exchange
    anywhere in the rewrite plans)."""
    import re

    fn = get_operator("stream_substring_screen_rtbf").query_fn
    if not getattr(fn, "last_rewrite_plans", None):
        fn(spark, sf_correct)
    plans = fn.last_rewrite_plans
    assert len(plans) == 3  # base tier, overlay tier, texts store
    for plan in plans:
        assert "BroadcastHashJoin" in plan, plan
        assert "LeftAnti" in plan, plan
        assert not re.search(r"Exchange hashpartitioning", plan), plan
