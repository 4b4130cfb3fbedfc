#!/usr/bin/env python3
"""The repository benchmark.

    python3 perfbench/run.py --workload index_zipf --seed 1 --seconds 6 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 6 --trace 0

Run from the repository root.  One invocation runs one workload in a
fresh Spark session at ``local[nproc]`` (``$SPARK_GRAFT_CPUS`` if set)
and a fresh working directory under ``.perfbench_work/``; ``all`` runs
every workload, each in its own process.  The last line of standard
output is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` -- the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``.  Lines before it print every metric by name
and unit, and describe the run (cores, memory, seed, inputs, versions).
The traced run also writes its spans to ``.perfbench_out/``.

Workloads, metrics and their reasons are in ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import random
import shlex
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import check  # noqa: E402
import gen  # noqa: E402
from probe import (  # noqa: E402
    Poller,
    RssSampler,
    Spans,
    StatusStore,
    covered_s,
    descendants_cpu_s,
    driver_hwm_bytes,
    rss_bytes,
)

PACKAGE = "mapreduce_c_implementation_spark"

# The flagship corpus: the reference's 7-file shape with Zipf(s~1)
# tokens over a 0.5 M-word vocabulary, scaled to about 28 MB so that
# every run fits the benchmark's time budget (see README.md).
CORPUS = {"n_files": 7, "file_bytes": 4_000_000, "vocab_size": 500_000}
# Scale factor of the generated fixture tables for the operator
# workloads (lineitem has 6 M x SUITE_SF rows).
SUITE_SF = 0.01
# Input generation is repeated and its median taken, so that set-up
# time is not one sample of disk and allocator noise.
GEN_REPEATS = 3
# Timed passes run until --seconds have passed, and at least this many,
# so that every run's median is over the same number of passes (the
# flagship's job wall still falls over its first few calls).
MIN_PASSES = {"index_zipf": 3, "operators": 3}

# Registered operators, in the order of the warm-up pass; the first is
# the cold op timed as first_op_s.  Iterative ops run 10-25 Spark jobs
# inside query_fn's eager checkpoint loop; single-plan ops are data- and
# scan-bound; the writer maintains a warehouse table.
OPERATORS = [
    "tpch_q1",  # single plan: scan + aggregate
    "kmeans_lloyd",  # iterative
    "tpch_q3_shipping_priority",  # single plan: 3-way join
    "word_count",  # single plan: JVM tokenizer
    "index_snapshot_vacuum",  # warehouse writer
]
WORKLOADS = ("index_zipf", "operators")

E2E_UNITS = {
    "setup_s": "s",
    "pass_wall_s": "s",
    "peak_rss_mb": "MB",
}

# Per-layer metrics of the traced run.  Op-level figures are per pass:
# the sum over the pass's ops of each op's median over its timed runs.
LAYER_UNITS = {
    "session.build_s": "s",
    "registry.import_s": "s",
    "sources.scan_input_bytes": "B",
    "sources.scan_stage_run_s": "s",
    "sources.map_tasks_per_core": "ratio",
    "functions.tokenize_mb_per_s": "MB/s",
    "functions.combine_ratio": "ratio",
    "functions.tokenize_peak_rss_mb": "MB",
    "job.reduce_stage_run_s": "s",
    "job.shuffle_write_bytes": "B",
    "job.shuffle_read_bytes": "B",
    "job.output_bytes": "B",
    "metrics.snapshot_s": "s",
    "operators.build_s": "s",
    "operators.exec_s": "s",
    "operators.jobs": "count",
    "operators.stages": "count",
    "operators.tasks": "count",
    "operators.ms_per_job": "ms",
    "operators.cpu_busy_ratio": "ratio",
    "operators.driver_gap_s": "s",
    "trace.coverage": "ratio",
    "trace.overhead_ratio": "ratio",
}


def _cores() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def _prepare_env(root: Path, work: Path) -> None:
    """Process environment the Spark driver JVM and its Python workers
    inherit: the checkout on PYTHONPATH (workers import the package),
    and every scratch directory inside the run's working directory."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    sys.path.insert(0, str(root))
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = str(root) + (os.pathsep + path if path else "")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(_cores()))
    # The session's own default (24g) exceeds small machines' RAM.
    mem = os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    # A fixed-size heap (-Xms = -Xmx): otherwise the JVM's heap sizing,
    # which depends on early GC timing, moves the driver's RSS by a
    # gigabyte or more between otherwise identical runs.
    # -XX:-UsePerfData: the JVMs write no hsperfdata file to /tmp.
    java_opts = shlex.quote(f"-Xms{mem} -XX:-UsePerfData -Djava.io.tmpdir={tmp}")
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"--driver-java-options {java_opts} pyspark-shell"
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    import tempfile

    tempfile.tempdir = str(tmp)


def _stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    if proc is not None:
        proc.stdin.close()  # the gateway exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _tail(walls: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it, never below the median."""
    s = sorted(walls)
    i = max(len(s) - 11, len(s) // 2)
    return s[i], 100.0 * (i + 1) / len(s)


class Run:
    """One workload run: its session, inputs, op records and spans."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, root: Path):
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.root = root
        self.work = root / ".perfbench_work" / f"{workload}-s{seed}-p{os.getpid()}"
        self.cores = _cores()
        self.spans = Spans()
        self.setup: dict[str, float] = {}
        self.inputs: dict = {}
        self.executions: list[dict] = []  # every op execution, warm-up included
        self.records: list[dict] = []  # the timed ones
        self.bad_ops: dict[str, str] = {}  # op -> why its output check failed
        self.errors: dict[str, str] = {}
        self.result_rows: dict[str, int] = {}
        self.first_op_s = 0.0
        self.pass_walls: list[float] = []
        self.pass_cpus: list[float] = []
        self.peak_rss = 0
        self.store: StatusStore | None = None
        self.layer: dict[str, float] = {}

    # -- set-up -------------------------------------------------------------

    def _generate(self) -> None:
        times, root_span = [], self.spans.now()
        for k in range(GEN_REPEATS):
            target = self.work / f"inputs{k}"
            t0 = time.perf_counter()
            if self.workload == "index_zipf":
                desc = gen.write_corpus(target, self.seed, **CORPUS)
            else:
                desc = {"sf": SUITE_SF, "rows": gen.write_tables(target, self.seed, SUITE_SF)}
                desc["bytes"] = sum(p.stat().st_size for p in target.iterdir())
            times.append(time.perf_counter() - t0)
            if k:
                shutil.rmtree(self.work / f"inputs{k - 1}")
        self.inputs_dir = target
        self.inputs = desc
        self.setup["inputs_s"] = statistics.median(times)
        self.spans.add("setup.inputs", root_span, self.spans.now(), repeats=GEN_REPEATS)

    def set_up(self) -> None:
        os.chdir(self.work)  # spark-warehouse/ lands in the fresh directory
        t0 = time.perf_counter()
        from mapreduce_c_implementation_spark.session import build_session

        self.spark = build_session(f"perfbench-{self.workload}")
        self.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        from mapreduce_c_implementation_spark.registry import all_operators

        self.ops = all_operators()
        t2 = time.perf_counter()
        self.setup["session_s"], self.setup["registry_s"] = t1 - t0, t2 - t1
        now = self.spans.now()
        self.spans.add("setup.session", now - (t2 - t0), now - (t2 - t1))
        self.spans.add("setup.registry", now - (t2 - t1), now)
        if self.trace:
            self.store = StatusStore(self.spark)
        self._generate()

    # -- op execution ---------------------------------------------------------

    def _timed(self, name: str, call, parent: int | None) -> dict:
        """Run one op, recording its wall, its phases and (traced) its
        Spark jobs and stages."""
        rec = {"op": name, "ok": True}
        floors = self.store.ids() if self.store else None
        poller = Poller(self.store, floors) if self.store else None
        start = self.spans.now()
        t0 = time.perf_counter()
        if poller:
            poller.start()
        try:
            rec["phases"] = call()
        except Exception as e:  # an op that raises is counted, not fatal
            rec["ok"] = False
            rec["phases"] = {}
            self.errors.setdefault(name, f"{type(e).__name__}: {str(e)[:300]}")
        rec["wall_s"] = time.perf_counter() - t0
        end = self.spans.now()
        if poller:
            poller.stop()
        sid = self.spans.add(f"op {name}", start, end, parent, ok=rec["ok"])
        at = start
        for phase, secs in rec["phases"].items():
            self.spans.add(phase, at, at + secs, sid)
            at += secs
        if self.store:
            self._attach_spark(rec, floors, start, end, sid)
        self.executions.append(rec)
        return rec

    def _attach_spark(self, rec, floors, start, end, sid) -> None:
        j1, s1 = self.store.ids()
        j0, s0 = floors
        stages = [self.store.stages[i] for i in range(s0, s1) if i in self.store.stages]
        jobs = [self.store.jobs[i] for i in range(j0, j1) if i in self.store.jobs]
        for j in jobs:
            if j["start"] and j["end"]:
                self.spans.add(f"spark.job {j['id']}", j["start"], j["end"], sid)
        for s in stages:
            if s["start"] and s["end"]:
                self.spans.add(f"spark.stage {s['id']}", s["start"], s["end"], sid,
                               tasks=s["tasks"], stage_name=s["name"])
        ran = [s for s in stages if s["status"] != "SKIPPED"]
        scan = [s for s in ran if s["input_bytes"] > 0]
        first_job = min((j["start"] for j in jobs if j["start"]), default=end)
        rec.update(
            jobs=j1 - j0,
            stages=s1 - s0,
            stages_seen=len(stages),
            tasks=sum(s["tasks"] for s in ran),
            run_s=sum(s["run_s"] for s in ran),
            scan_run_s=sum(s["run_s"] for s in scan),
            scan_tasks=sum(s["tasks"] for s in scan),
            reduce_run_s=sum(s["run_s"] for s in ran if s["shuffle_read_bytes"] > 0),
            input_bytes=sum(s["input_bytes"] for s in ran),
            output_bytes=sum(s["output_bytes"] for s in ran),
            shuffle_read_bytes=sum(s["shuffle_read_bytes"] for s in ran),
            shuffle_write_bytes=sum(s["shuffle_write_bytes"] for s in ran),
            driver_gap_s=rec["wall_s"] - covered_s(
                [(s["start"], s["end"]) for s in ran if s["start"] and s["end"]], start, end
            ),
        )
        # The flagship call has no separate query_fn: its plan-building
        # phase is the time before its first Spark job.
        rec["build_s"] = rec["phases"].get("query_fn", max(0.0, first_job - start))
        from mapreduce_c_implementation_spark.metrics import (
            collect_stage_metrics,
            max_stage_id,
        )

        t0 = time.perf_counter()
        collect_stage_metrics(self.spark, after=max_stage_id(self.spark) - 1)
        rec["snapshot_s"] = time.perf_counter() - t0

    # -- workloads ------------------------------------------------------------

    def _flagship_call(self):
        from mapreduce_c_implementation_spark.job import MapReduceJob, run_inverted_index_job

        job = MapReduceJob(
            input_paths=[str(self.inputs_dir)], output_dir=str(self.work / "postings")
        )

        def call():
            t0 = time.perf_counter()
            run_inverted_index_job(self.spark, job)
            return {"job": time.perf_counter() - t0}

        return call

    def _check_postings(self) -> None:
        why = check.postings_mismatch(self.work / "postings", self.inputs["expected_hash"])
        if why:
            self.bad_ops["index_zipf"] = why

    def _op_call(self, name: str):
        """``query_fn`` then ``toPandas``: the same plans in the warm-up
        and the timed passes, and a result to check."""
        op = self.ops[name]
        sf_dir = str(self.inputs_dir)

        def call():
            t0 = time.perf_counter()
            df = op.query_fn(self.spark, sf_dir)
            t1 = time.perf_counter()
            self._last = df.toPandas()
            self.result_rows[name] = len(self._last)
            return {"query_fn": t1 - t0, "collect": time.perf_counter() - t1}

        return call

    def warm_up(self) -> None:
        """The first op in the fresh session (first_op_s); for the
        operator workload, the rest of one pass in list order.  Every
        result is checked (check time is not set-up time): the flagship's
        part files against the generator's postings, each operator's
        collected result against its oracle."""
        span = self.spans.now()
        busy = 0.0
        if self.workload == "index_zipf":
            rec = self._timed("index_zipf", self._flagship_call(), None)
            busy = self.first_op_s = rec["wall_s"]
            self._check_postings()
        else:
            from mapreduce_c_implementation_spark.sources import TABLES

            for k, name in enumerate(OPERATORS):
                self._last = None
                rec = self._timed(name, self._op_call(name), None)
                busy += rec["wall_s"]
                if k == 0:
                    self.first_op_s = rec["wall_s"]
                if rec["ok"]:
                    why = check.oracle_mismatch(
                        self._last, self.ops[name].oracle_sql, self.inputs_dir, TABLES
                    )
                    if why:
                        self.bad_ops[name] = why
            self._last = None
        self.setup["warm_up_s"] = busy
        self.spans.add("setup.warm_up", span, self.spans.now())

    def measure(self) -> None:
        """Timed region: whole passes over the op list, each in an order
        drawn from the seed, until ``seconds`` have passed and at least
        ``MIN_PASSES`` are done."""
        if self.workload == "index_zipf":
            names, calls = ["index_zipf"], {"index_zipf": self._flagship_call()}
        else:
            names = list(OPERATORS)
            calls = {n: self._op_call(n) for n in names}
        order = random.Random(self.seed)
        span_start = self.spans.now()
        region = self.spans.add("timed", span_start, span_start)
        pid = os.getpid()
        with RssSampler(lambda: driver_hwm_bytes(pid), period_s=0.2) as rss:
            t0 = time.perf_counter()
            while (len(self.pass_walls) < MIN_PASSES[self.workload]
                   or time.perf_counter() - t0 < self.seconds):
                order.shuffle(names)
                cpu = descendants_cpu_s(pid)
                recs = [self._timed(n, calls[n], region) for n in names]
                self.pass_cpus.append(descendants_cpu_s(pid) - cpu)
                self.records.extend(recs)
                self.pass_walls.append(sum(r["wall_s"] for r in recs))
        self.spans.close(region)
        self.peak_rss = rss.peak
        self._last = None
        if self.workload == "index_zipf":
            self._check_postings()

    def failures(self) -> int:
        """Executions that raised, plus every execution of an op whose
        checked output was wrong."""
        return sum(1 for r in self.executions if not r["ok"] or r["op"] in self.bad_ops)

    # -- direct call into functions.text ---------------------------------

    def tokenize_direct(self) -> None:
        """``tokenize_pairs_arrow`` called in this process on the
        workload's text, one call per input file (a map task's unit)."""
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        from mapreduce_c_implementation_spark.functions.text import tokenize_pairs_arrow

        units = []
        if self.workload == "index_zipf":
            for p in sorted(self.inputs_dir.glob("*.txt")):
                lines = pa.array(p.read_text().splitlines())
                units.append(pa.table({"line": lines, "fname": pa.array([p.name] * len(lines))}))
            tokens_in = self.inputs["tokens"]
        else:
            docs = pq.read_table(self.inputs_dir / "documents.parquet")
            units.append(pa.table({
                "line": docs.column("text"),
                "fname": pc.cast(docs.column("doc_id"), pa.string()),
            }))
            # Generated documents are single-space-separated words.
            tokens_in = pc.sum(pc.list_value_length(pc.split_pattern(docs.column("text"), " "))).as_py()
        nbytes = sum(pc.sum(pc.binary_length(u.column("line"))).as_py() for u in units)
        base = rss_bytes(os.getpid())
        pairs, busy = 0, 0.0
        with RssSampler(lambda: rss_bytes(os.getpid()), period_s=0.01) as rss:
            for u in units:
                t0 = time.perf_counter()
                out = list(tokenize_pairs_arrow(iter(u.to_batches(max_chunksize=10_000))))
                busy += time.perf_counter() - t0
                pairs += sum(b.num_rows for b in out)
        self.layer["functions.tokenize_mb_per_s"] = nbytes / 1e6 / busy
        self.layer["functions.combine_ratio"] = pairs / tokens_in
        self.layer["functions.tokenize_peak_rss_mb"] = (rss.peak - base) / 1e6

    # -- results ------------------------------------------------------------

    def _per_op(self, key: str) -> dict[str, float]:
        by: dict[str, list[float]] = {}
        for r in self.records:
            if r["ok"] and key in r:
                by.setdefault(r["op"], []).append(r[key])
        return {op: statistics.median(v) for op, v in by.items()}

    def _pass_sum(self, key: str) -> float:
        """A pass's value: the sum over ops of each op's median."""
        return sum(self._per_op(key).values())

    def end_to_end(self) -> dict[str, float]:
        """The gated end-to-end metrics (``E2E_UNITS``)."""
        return {
            "setup_s": sum(self.setup.values()),
            "pass_wall_s": statistics.median(self.pass_walls),
            "peak_rss_mb": self.peak_rss / 1e6,
        }

    def reported(self) -> list[tuple[str, float, str]]:
        """End-to-end figures printed beside the gated ones: their
        run-to-run spread is too wide to gate on (one cold op per run; a
        handful of op executions per run; CPU time that moves with the
        load other tenants put on a shared machine)."""
        walls = [r["wall_s"] for r in self.records if r["ok"]]
        tail, pct = _tail(walls) if walls else (0.0, 0.0)
        failed = self.failures()
        rows = [
            ("first_op_s", self.first_op_s, "s (cold; part of setup_s)"),
            ("op_wall_s_p50", statistics.median(walls) if walls else 0.0,
             f"s (of {len(walls)} op walls)"),
            ("op_wall_s_tail", tail, f"s (p{pct:.0f} of {len(walls)} op walls)"),
            ("pass_cpu_s", statistics.median(self.pass_cpus),
             "s (CPU of the driver JVM and its workers per pass)"),
            ("ops_failed_ratio", failed / len(self.executions),
             f"ratio ({failed} of {len(self.executions)})"),
            ("passes", len(self.pass_walls), "count"),
        ]
        if self.workload == "index_zipf":
            rows.append(("mb_per_s", self.inputs["bytes"] / 1e6 / statistics.median(self.pass_walls), "MB/s"))
        return rows

    def per_layer(self) -> dict[str, float]:
        wall = self._pass_sum("wall_s")
        jobs = self._pass_sum("jobs")
        ran = [r for r in self.records if "stages" in r]
        layer = {
            "session.build_s": self.setup["session_s"],
            "registry.import_s": self.setup["registry_s"],
            "sources.scan_input_bytes": self._pass_sum("input_bytes"),
            "sources.scan_stage_run_s": self._pass_sum("scan_run_s"),
            "sources.map_tasks_per_core": self._pass_sum("scan_tasks") / self.cores,
            "job.reduce_stage_run_s": self._pass_sum("reduce_run_s"),
            "job.shuffle_write_bytes": self._pass_sum("shuffle_write_bytes"),
            "job.shuffle_read_bytes": self._pass_sum("shuffle_read_bytes"),
            "job.output_bytes": self._pass_sum("output_bytes"),
            "metrics.snapshot_s": statistics.median(r["snapshot_s"] for r in ran),
            "operators.build_s": self._pass_sum("build_s"),
            "operators.exec_s": wall - self._pass_sum("build_s"),
            "operators.jobs": jobs,
            "operators.stages": self._pass_sum("stages"),
            "operators.tasks": self._pass_sum("tasks"),
            "operators.ms_per_job": 1000.0 * wall / jobs if jobs else 0.0,
            "operators.cpu_busy_ratio": self._pass_sum("run_s") / (wall * self.cores),
            "operators.driver_gap_s": self._pass_sum("driver_gap_s"),
            "trace.coverage": sum(r["stages_seen"] for r in ran) / max(1, sum(r["stages"] for r in ran)),
            "trace.overhead_ratio": self.store.busy_s / sum(r["wall_s"] for r in self.executions),
        }
        layer.update(self.layer)
        return layer

    def describe(self) -> dict:
        import pyarrow
        import pyspark

        rev = "unknown"
        if (self.root / ".git").exists():
            rev = subprocess.run(
                ["git", "-C", str(self.root), "rev-parse", "HEAD"],
                capture_output=True, text=True, check=False,
            ).stdout.strip() or rev
        return {
            "workload": self.workload,
            "seed": self.seed,
            "seconds": self.seconds,
            "trace": self.trace,
            "cores": self.cores,
            "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
            "driver_mem": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
            "inputs": self.inputs,
            "ops": sorted({r["op"] for r in self.records}),
            "op_executions": len(self.records),
            "pass_walls": self.pass_walls,
            "pass_cpus": self.pass_cpus,
            "op_wall_s": self._per_op("wall_s"),
            "setup_parts_s": self.setup,
            "git_rev": rev,
            "spark": pyspark.__version__,
            "pyarrow": pyarrow.__version__,
            "python": platform.python_version(),
            "result_rows": self.result_rows,
            "bad_outputs": self.bad_ops,
            "errors": self.errors,
        }


def _print_rows(title: str, rows) -> None:
    print(title)
    for name, value, unit in rows:
        print(f"  {name:<32} {value:>16.6g} {unit}")


def run_one(args, root: Path) -> int:
    if not (root / PACKAGE / "__init__.py").is_file():
        print(f"perfbench: no {PACKAGE}/ in {root}; run from the repository root",
              file=sys.stderr)
        return 2
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), root)
    _prepare_env(root, run.work)
    spark = None
    try:
        run.set_up()
        spark = run.spark
        run.warm_up()
        run.measure()
        if run.trace:
            run.tokenize_direct()
            metrics, units = run.per_layer(), LAYER_UNITS
        else:
            metrics, units = run.end_to_end(), E2E_UNITS
    finally:
        if spark is not None:
            _stop_spark(spark)
        os.chdir(root)
        shutil.rmtree(run.work, ignore_errors=True)

    desc = run.describe()
    kind = "per layer" if run.trace else "end to end"
    _print_rows(f"[{run.workload}] {kind} (seed {run.seed})",
                [(k, v, units[k]) for k, v in metrics.items()] + run.reported())
    if run.trace:
        cols = ("wall_s", "build_s", "jobs", "stages", "stages_seen", "tasks",
                "driver_gap_s", "shuffle_write_bytes", "output_bytes")
        print("  per op, median of timed executions: " + " ".join(cols))
        per_op = {c: run._per_op(c) for c in cols}
        for op in sorted(per_op["wall_s"]):
            print(f"    {op:<30} " + " ".join(f"{per_op[c].get(op, float('nan')):.4g}" for c in cols))
        out = root / ".perfbench_out" / f"spans-{run.workload}-seed{run.seed}.json"
        run.spans.write(out, desc)
        print(f"  spans: {out.relative_to(root)}")
    print(json.dumps({"perfbench": desc}))
    print(json.dumps({
        "correct": not run.bad_ops,
        "attempted": len(run.executions),
        "failed": run.failures(),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


def _child(args, workload: str, trace: int, root: Path) -> tuple[dict, dict]:
    """Run one workload in its own process; echo its output and return
    its (result, description) lines."""
    proc = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", str(args.seed),
         "--seconds", str(args.seconds), "--trace", str(trace)],
        cwd=root, capture_output=True, text=True, check=False,
    )
    sys.stdout.write(proc.stdout)
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(proc.returncode)
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-1]), json.loads(lines[-2])["perfbench"]


def run_all(args, root: Path) -> int:
    """Every workload, each in its own process, ending with a combined
    result line.  With ``--trace 1`` each workload also runs untraced,
    and the traced run's overhead on pass wall time is printed."""
    combined = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for w in WORKLOADS:
        last, desc = _child(args, w, 0, root)
        if args.trace:
            base = statistics.median(desc["pass_walls"])
            last, desc = _child(args, w, 1, root)
            print(f"[{w}] tracing overhead on pass_wall_s: "
                  f"{statistics.median(desc['pass_walls']) / base - 1:+.1%}")
        combined["correct"] &= last["correct"]
        combined["attempted"] += last["attempted"]
        combined["failed"] += last["failed"]
        for k, v in last["metrics"].items():
            combined["metrics"][f"{w}.{k}"] = v
    print(json.dumps(combined))
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    root = Path.cwd()
    return run_all(args, root) if args.workload == "all" else run_one(args, root)


if __name__ == "__main__":
    sys.exit(main())
