"""Outside-in measurement: Spark's status store read over py4j, process
RSS read from ``/proc``, and in-memory spans.

Nothing here changes the program under test; it reads what Spark
already records (job and stage ids, stage clocks, task counts and byte
counters) around each call the benchmark makes into the program.
"""

from __future__ import annotations

import json
import os
import threading
import time
from pathlib import Path

_PAGE = os.sysconf("SC_PAGE_SIZE")
_DONE = ("COMPLETE", "FAILED", "SKIPPED")
_PENDING: dict = {}  # a record that exists but is not finished yet


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


class StatusStore:
    """Job and stage records of one SparkContext.

    Counts come from id deltas (``DAGScheduler.numTotalJobs`` /
    ``nextStageId``), which the store's retention cap
    (``spark.ui.retainedJobs`` / ``retainedStages``) cannot drop.  Stage
    and job records are fetched by id; a record evicted before it was
    fetched is missing, which ``coverage`` reports.
    """

    def __init__(self, spark):
        sc = spark.sparkContext
        jsc = sc._jsc.sc()
        self._dag = jsc.dagScheduler()
        self._store = jsc.statusStore()
        self._jvm = sc._gateway.jvm
        self._no_quantiles = sc._gateway.new_array(self._jvm.double, 0)
        self._lock = threading.Lock()
        self.stages: dict[int, dict] = {}
        self.jobs: dict[int, dict] = {}
        self._lost: set[tuple[str, int]] = set()  # evicted before fetched
        self.busy_s = 0.0  # time this object spent reading the store

    def ids(self) -> tuple[int, int]:
        """(next job id, next stage id)."""
        return int(self._dag.numTotalJobs()), int(self._dag.nextStageId())

    def _stage(self, sid: int) -> dict | None:
        """The stage's record once finished, ``_PENDING`` before, None if
        the store does not hold it."""
        try:
            attempts = self._store.stageData(
                sid, False, self._jvm.java.util.ArrayList(), False, self._no_quantiles
            )
        except Exception:  # py4j: NoSuchElementException (not yet / no longer stored)
            return None
        if attempts.isEmpty():
            return None
        s = attempts.last()
        status = s.status().toString()
        if status not in _DONE:
            return _PENDING
        return {
            "id": sid,
            "status": status,
            "name": s.name(),
            "tasks": int(s.numCompleteTasks()),
            "run_s": s.executorRunTime() / 1000.0,
            "input_bytes": int(s.inputBytes()),
            "output_bytes": int(s.outputBytes()),
            "shuffle_read_bytes": int(s.shuffleReadBytes()),
            "shuffle_write_bytes": int(s.shuffleWriteBytes()),
            "start": _opt_ms(s.submissionTime()),
            "end": _opt_ms(s.completionTime()),
        }

    def _job(self, jid: int) -> dict | None:
        try:
            j = self._store.job(jid)
        except Exception:  # py4j: NoSuchElementException
            return None
        status = j.status().toString()
        if status == "RUNNING":
            return _PENDING
        return {
            "id": jid,
            "status": status,
            "start": _opt_ms(j.submissionTime()),
            "end": _opt_ms(j.completionTime()),
        }

    def sweep(self, job_floor: int, stage_floor: int) -> None:
        """Fetch every finished job and stage record from the floors up
        that is not fetched yet."""
        t0 = time.perf_counter()
        with self._lock:
            n_jobs, n_stages = self.ids()
            self._fetch("stage", self.stages, self._stage, stage_floor, n_stages)
            self._fetch("job", self.jobs, self._job, job_floor, n_jobs)
        self.busy_s += time.perf_counter() - t0


    def _fetch(self, kind: str, done: dict, fetch, lo: int, hi: int) -> None:
        # Ids finish roughly in order: an id still missing below one
        # already fetched was evicted, so it is not asked for again.
        top = max((i for i in done if lo <= i < hi), default=lo - 1)
        for i in range(lo, hi):
            if i in done or (kind, i) in self._lost:
                continue
            rec = fetch(i)
            if rec is None and i < top:
                self._lost.add((kind, i))
            elif rec is not None and rec is not _PENDING:
                done[i] = rec
                top = max(top, i)


class Poller:
    """Sweeps a ``StatusStore`` from a background thread while an
    operation runs, so records of long operations are fetched before
    the retention cap evicts them."""

    def __init__(self, store: StatusStore, floors: tuple[int, int], period_s: float = 2.0):
        self._store, self._floors, self._period = store, floors, period_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.wait(self._period):
            self._store.sweep(*self._floors)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        """Stop the thread and make a last sweep."""
        self._stop.set()
        self._thread.join()
        self._store.sweep(*self._floors)


def _children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(x) for x in f.read().split())
    except OSError:  # process or thread ended between listing and reading
        pass
    return out


def rss_bytes(pid: int) -> int:
    """Current resident bytes of ``pid`` (0 once it has exited)."""
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except (OSError, IndexError):
        return 0


def _hwm_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def _is_python(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().startswith("python")
    except OSError:
        return False


def driver_hwm_bytes(root_pid: int) -> int:
    """Sum of the peak resident bytes (``VmHWM``) of the Spark driver JVM
    (``root_pid``'s child) and its live Python workers.  Each process's
    own peak is kept by the kernel, so a sample between two peaks still
    sees them.  Other descendants are left out: a child the JVM forks to
    run a shell command shares the JVM's pages until it execs, and would
    count them twice."""
    total = 0
    stack = _children(root_pid)
    jvms = set(stack)
    while stack:
        pid = stack.pop()
        if pid in jvms or _is_python(pid):
            total += _hwm_bytes(pid)
        stack.extend(_children(pid))
    return total


_TICK = os.sysconf("SC_CLK_TCK")


def descendants_cpu_s(root_pid: int) -> float:
    """CPU seconds (user + system, including reaped children) used so
    far by ``root_pid``'s live descendants.  Time the hypervisor steals
    from the machine is not in it, unlike wall time."""
    ticks = 0
    stack = _children(root_pid)
    while stack:
        pid = stack.pop()
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rpartition(")")[2].split()
            ticks += sum(int(x) for x in fields[11:15])
        except (OSError, IndexError, ValueError):  # exited meanwhile
            pass
        stack.extend(_children(pid))
    return ticks / _TICK


class RssSampler:
    """Peak of ``measure()`` (bytes) sampled every ``period_s`` while open."""

    def __init__(self, measure, period_s: float = 0.05):
        self._measure, self._period = measure, period_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        self.peak = max(self.peak, self._measure())

    def _run(self) -> None:
        while not self._stop.wait(self._period):
            self._sample()

    def __enter__(self) -> RssSampler:
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()


class Spans:
    """Spans kept in memory and written once: name, start, end (epoch
    seconds), parent span id, and attributes."""

    def __init__(self):
        self._spans: list[dict] = []
        self._epoch = time.time() - time.perf_counter()

    def now(self) -> float:
        return self._epoch + time.perf_counter()

    def add(self, name: str, start: float, end: float, parent: int | None = None, **attrs) -> int:
        self._spans.append(
            {"id": len(self._spans), "parent": parent, "name": name,
             "start": start, "end": end, **attrs}
        )
        return len(self._spans) - 1

    def close(self, sid: int) -> None:
        """End span ``sid`` now."""
        self._spans[sid]["end"] = self.now()

    def write(self, path: Path, description: dict) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps({"description": description, "spans": self._spans}))


def covered_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total
