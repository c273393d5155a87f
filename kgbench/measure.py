"""Measurement helpers of the benchmark: latency statistics, in-memory
spans with self time and Spark job accounting, and the peak RSS of the
process tree read from ``/proc``.

Nothing here imports Spark; a tracer is handed the ``SparkContext`` it
accounts jobs on, so the span and statistics math is testable alone.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

# Candidate percentiles for a tail metric, lowest first.
TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
TAIL_MIN_BEYOND = 10


def nearest_rank(sorted_vals: list[float], pct: float) -> tuple[float, int]:
    """→ (value, 1-based rank) of the nearest-rank percentile."""
    rank = max(1, math.ceil(round(pct * len(sorted_vals) / 100.0, 9)))
    return sorted_vals[rank - 1], rank


def tail(values: list[float]) -> dict:
    """The highest percentile of ``TAIL_LADDER`` that has at least
    ``TAIL_MIN_BEYOND`` samples above its rank. With fewer than
    2 × TAIL_MIN_BEYOND samples no percentile qualifies and the tail
    falls back to the median (``qualified`` is then false)."""
    if not values:
        raise ValueError("tail of an empty sample")
    vals = sorted(values)
    for pct in reversed(TAIL_LADDER):
        v, rank = nearest_rank(vals, pct)
        if len(vals) - rank >= TAIL_MIN_BEYOND:
            return {"value": v, "percentile": pct, "samples": len(vals), "qualified": True}
    return {
        "value": statistics.median(vals),
        "percentile": 50.0,
        "samples": len(vals),
        "qualified": False,
    }


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------
@dataclass
class Span:
    span_id: int
    name: str
    op_id: int
    parent: int | None
    start: float
    end: float = 0.0
    jobs: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    counters: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_seconds(spans: list[Span]) -> dict[int, float]:
    """span_id → duration minus the part covered by its child spans."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.span_id: s.seconds - covered(children.get(s.span_id, []), s.start, s.end)
        for s in spans
    }


class Tracer:
    """Spans kept in memory. With a SparkContext each span runs its
    Spark jobs under its own job group, so the status tracker yields
    the jobs, tasks and failed tasks the span itself launched.

    A job also lists the stages it skipped because their shuffle output
    or cache already existed; such a stage keeps the id and task counts
    of the run that computed it. So the tasks of a stage are credited
    once, to the span whose job ran it: jobs are accounted in the order
    they ran (a parent's jobs so far whenever a child span starts), and
    a stage already credited is passed over."""

    JOB_END_WAIT_S = 10.0

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._jobs_seen: set[int] = set()
        self._stages_seen: set[int] = set()

    @staticmethod
    def group(s: Span) -> str:
        return f"kgbench-span-{s.span_id}"

    @contextmanager
    def span(self, name: str, op_id: int, **counters):
        parent = self._stack[-1] if self._stack else None
        if parent is not None and self.sc is not None:
            self._account(parent)
        s = Span(len(self.spans), name, op_id, parent.span_id if parent else None,
                 time.perf_counter(), counters=dict(counters))
        self.spans.append(s)
        self._stack.append(s)
        if self.sc is not None:
            self.sc.setJobGroup(self.group(s), name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if self.sc is not None:
                self._account(s)
                if parent is not None:
                    self.sc.setJobGroup(self.group(parent), parent.name)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)

    def _finished(self, st, jid: int):
        """Job info once the job has ended. Its end event follows its
        task events, so the stage counts are then complete."""
        deadline = time.perf_counter() + self.JOB_END_WAIT_S
        info = st.getJobInfo(jid)
        while info is not None and info.status in ("RUNNING", "UNKNOWN") \
                and time.perf_counter() < deadline:
            time.sleep(0.005)
            info = st.getJobInfo(jid)
        return info

    def _account(self, s: Span) -> None:
        st = self.sc.statusTracker()
        for jid in sorted(set(st.getJobIdsForGroup(self.group(s))) - self._jobs_seen):
            self._jobs_seen.add(jid)
            info = self._finished(st, jid)
            if info is None:
                continue
            s.jobs += 1
            for sid in sorted(set(info.stageIds) - self._stages_seen):
                self._stages_seen.add(sid)
                stage = st.getStageInfo(sid)
                if stage is not None:
                    s.tasks += stage.numCompletedTasks + stage.numFailedTasks
                    s.failed_tasks += stage.numFailedTasks

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        selfs = self_seconds(self.spans)
        with open(path, "w") as fh:
            for s in self.spans:
                row = asdict(s)
                row["self_s"] = selfs[s.span_id]
                fh.write(json.dumps(row) + "\n")


# ---------------------------------------------------------------------------
# memory and disk
# ---------------------------------------------------------------------------
def _tree(root: int) -> dict[int, str]:
    """pid → command name of ``root`` and all its descendants."""
    parent: dict[int, tuple[int, str]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after ')'
        comm = stat[stat.index("(") + 1:stat.rindex(")")]
        parent[int(d)] = (int(stat[stat.rindex(")") + 2:].split()[1]), comm)
    out = {root: parent.get(root, (0, "?"))[1]}
    frontier = {root}
    while frontier:
        nxt = {p: c for p, (pp, c) in parent.items() if pp in frontier}
        out.update(nxt)
        frontier = set(nxt)
    return out


def tree_memory(root: int) -> dict[str, int]:
    """Resident bytes of ``root`` and its descendants by command name,
    counted as proportional set size so that pages shared by forked
    Python workers count once."""
    out: dict[str, int] = {}
    for pid, comm in _tree(root).items():
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                pss = next(int(ln.split()[1]) for ln in fh if ln.startswith("Pss:"))
        except (OSError, StopIteration):
            continue
        out[comm] = out.get(comm, 0) + pss * 1024
    return out


class PeakRss:
    """Background sampler of the process tree's resident memory:
    ``peak`` in bytes, and ``peak_by_command`` for the record."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0
        self.peak_by_command: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> None:
        mem = tree_memory(os.getpid())
        self.peak = max(self.peak, sum(mem.values()))
        for comm, b in mem.items():
            self.peak_by_command[comm] = max(self.peak_by_command.get(comm, 0), b)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def dir_stats(path: str, suffix: str = ".parquet") -> tuple[int, int]:
    """→ (bytes, files) of the ``suffix`` files under ``path``."""
    size = n = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            if f.endswith(suffix):
                size += os.path.getsize(os.path.join(dirpath, f))
                n += 1
    return size, n


def load_average() -> float:
    return os.getloadavg()[0]
