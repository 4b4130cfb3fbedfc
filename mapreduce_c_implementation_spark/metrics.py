"""Metrics subsystem — the analog of the reference's always-on metrics
report (/root/reference/src/metrics.c, 550 LoC of atomic counters, stage
clocks, and per-partition skew tables written as diffable plaintext;
README.md:417 uses the stable section order for regression diffing).

Spark already collects the deep numbers (per-stage run time, shuffle
bytes, task counts) on the driver's status store; ``collect_stage_metrics``
fetches one job's stage records by id through the public status API —
the listener-bus-backed store behind the UI/REST endpoints — so stage
timing costs nothing extra, exactly like the reference's always-on
clocks.  Partition skew (the
reference's "Top 10 partitions by key count", src/metrics.c:360-395)
is reported from reducer-output shard sizes: bytes per part file IS the
per-reduce-partition load, with no second pass over the data.
"""

from __future__ import annotations

import glob as _glob
import json
import time
from dataclasses import dataclass, field
from pathlib import Path


@dataclass(frozen=True)
class StageMetric:
    """One completed Spark stage, as reported by the driver status store
    (the analog of a reference stage timer, src/metrics.c:179-230)."""

    stage_id: int
    status: str
    name: str
    num_tasks: int
    run_time_ms: int
    input_bytes: int
    output_bytes: int
    shuffle_read_bytes: int
    shuffle_write_bytes: int


def max_stage_id(spark) -> int:
    """Highest stage id allocated so far — pass as ``after`` to scope a
    later ``collect_stage_metrics`` snapshot to one job.  Read from the
    DAG scheduler's id counter, which store retention cannot drop."""
    return spark.sparkContext._jsc.sc().dagScheduler().nextStageId() - 1


def collect_stage_metrics(spark, after: int = -1) -> list[StageMetric]:
    """Stages with id > ``after``, each fetched from the driver status
    store by id (public status API; zero instrumentation cost).  A stage
    the store no longer holds (``spark.ui.retainedStages``) is left out."""
    from py4j.protocol import Py4JJavaError

    sc = spark.sparkContext
    jvm = sc._gateway.jvm
    store = sc._jsc.sc().statusStore()
    no_quantiles = sc._gateway.new_array(jvm.double, 0)
    out: list[StageMetric] = []
    for sid in range(after + 1, max_stage_id(spark) + 1):
        try:
            attempts = store.stageData(
                sid, False, jvm.java.util.ArrayList(), False, no_quantiles
            )
        except Py4JJavaError:  # NoSuchElementException: not (or no longer) stored
            continue
        if attempts.isEmpty():
            continue
        s = attempts.last()
        out.append(
            StageMetric(
                stage_id=sid,
                status=s.status().toString(),
                name=str(s.name()).split("\n")[0][:60],
                num_tasks=s.numCompleteTasks(),
                run_time_ms=s.executorRunTime(),
                input_bytes=s.inputBytes(),
                output_bytes=s.outputBytes(),
                shuffle_read_bytes=s.shuffleReadBytes(),
                shuffle_write_bytes=s.shuffleWriteBytes(),
            )
        )
    return out


def partition_skew(
    sized: list[tuple[str, int]], top: int = 10
) -> list[tuple[str, int]]:
    """Top-N reducer partitions by output bytes, from ``(path, bytes)``
    per part file — the Spark-native form of the reference's
    per-partition key-count table: one part file per reduce partition,
    so shard size == partition load."""
    named = sorted(((Path(p).name, n) for p, n in sized), key=lambda t: (-t[1], t[0]))
    return named[:top]


def input_bytes(paths: list[str]) -> int:
    """Total bytes across files, directories, and glob patterns (the
    reference counts per-file sizes at enqueue, src/reader_queue.c)."""
    total = 0
    for p in paths:
        path = Path(p)
        if path.is_file():
            total += path.stat().st_size
        elif path.is_dir():
            total += sum(f.stat().st_size for f in path.rglob("*") if f.is_file())
        else:
            total += sum(
                Path(m).stat().st_size for m in _glob.glob(p) if Path(m).is_file()
            )
    return total


@dataclass
class JobMetrics:
    config: dict = field(default_factory=dict)
    wall_s: float = 0.0
    counters: dict = field(default_factory=dict)
    stages: list[StageMetric] = field(default_factory=list)
    partition_top: list[tuple[str, int]] = field(default_factory=list)
    started_unix: float = field(default_factory=time.time)

    def render_report(self) -> str:
        """Plaintext report with stable section order (diffable, like
        the reference's metrics_write_report, src/metrics.c:426-526)."""
        lines = ["=== JOB CONFIG ==="]
        for k in sorted(self.config):
            lines.append(f"{k}: {self.config[k]}")
        lines.append("=== TIMING ===")
        lines.append(f"wall_s: {self.wall_s}")
        if self.stages:
            lines.append("=== STAGE TIMINGS ===")
            lines.append(
                "  Stage  Status    Tasks  Run(ms)  Input(B)  ShufRead(B)  ShufWrite(B)  Name"
            )
            for s in self.stages:
                lines.append(
                    f"  {s.stage_id:5d}  {s.status:<8}  {s.num_tasks:5d}  "
                    f"{s.run_time_ms:7d}  {s.input_bytes:8d}  "
                    f"{s.shuffle_read_bytes:11d}  {s.shuffle_write_bytes:12d}  {s.name}"
                )
        if self.partition_top:
            lines.append(
                f"=== TOP {len(self.partition_top)} PARTITIONS BY OUTPUT BYTES ==="
            )
            lines.append("  Shard  Bytes")
            for name, size in self.partition_top:
                lines.append(f"  {name}  {size}")
        lines.append("=== COUNTERS ===")
        for k in sorted(self.counters):
            lines.append(f"{k}: {self.counters[k]}")
        return "\n".join(lines) + "\n"

    def write_report(self, path: str) -> None:
        with open(path, "w") as f:
            f.write(self.render_report())

    def to_json(self) -> str:
        return json.dumps(
            {
                "config": self.config,
                "wall_s": self.wall_s,
                "counters": self.counters,
                "stages": [vars(s) for s in self.stages],
                "partition_top": self.partition_top,
            }
        )
