"""Measurement plumbing shared by the workloads: summary statistics, the
span tracer with per-call Spark job accounting, and process telemetry.

Tracing is kept outside the measured program: spans are opened by the
benchmark around each call it makes into a package layer, and Spark
counts are harvested from Spark's status store right after the
call, off the clock of the enclosing op.
"""

from __future__ import annotations

import itertools
import json
import math
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

# Percentiles are reported only with this many samples beyond them, so
# that a tail value rests on more than one or two slow samples.
MIN_BEYOND = 10


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return float(statistics.median(values))


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank ``q``-quantile (0 < q < 1) of ``values``. Refuses a
    quantile with fewer than ``MIN_BEYOND`` samples above it."""
    if not 0.0 < q < 1.0:
        raise ValueError("q must lie strictly between 0 and 1")
    n = len(values)
    rank = max(1, math.ceil(q * n))
    if n - rank < MIN_BEYOND:
        raise ValueError(
            f"p{q * 100:g} of {n} samples leaves {n - rank} beyond it; "
            f"at least {MIN_BEYOND} are required"
        )
    return float(sorted(values)[rank - 1])


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set size (``VmHWM``) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise ValueError(f"no VmHWM for pid {pid}")


def reset_peak_rss(pid: int | str = "self") -> None:
    """Resets a process's ``VmHWM`` to its current resident set size."""
    with open(f"/proc/{pid}/clear_refs", "w") as fh:
        fh.write("5")


def tree_inodes(root: str) -> dict[int, int]:
    """inode → size of every regular file under ``root``."""
    out: dict[int, int] = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            st = os.lstat(os.path.join(dirpath, f))
            out[st.st_ino] = st.st_size
    return out


def tree_bytes(root: str) -> tuple[int, int]:
    """(files, bytes) of the regular files under ``root``."""
    sizes = tree_inodes(root).values()
    return len(sizes), sum(sizes)


@dataclass
class Span:
    span_id: int
    name: str
    layer: str
    op_id: int
    parent: int | None
    start: float
    end: float = 0.0
    # the interval including the tracer's own bookkeeping for this span;
    # a parent's self time excludes it along with the child's duration
    outer_start: float = 0.0
    outer_end: float = 0.0
    group: str = ""
    launched: int = 0  # jobs started while the span was open, children's too
    # Spark counts of the jobs launched by this span itself (children's
    # jobs carry their own group); None when the harvest failed
    counts: dict | None = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_time(span: Span, spans: list[Span]) -> float:
    """Duration of ``span`` minus the part of its interval covered by its
    direct children, each with its tracing bookkeeping (overlapping
    children are counted once)."""
    kids = sorted(
        (max(s.outer_start, span.start), min(s.outer_end, span.end))
        for s in spans
        if s.parent == span.span_id
    )
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in kids:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return span.duration - covered


_STAGE_FIELDS = ("tasks", "executor_run_s", "shuffle_write_bytes", "spill_bytes",
                 "input_records")


class Tracer:
    """Records a span around each call into a layer. Disabled, it only
    hands out ``None`` and costs one branch per call.

    Every traced call runs in its own Spark job group, so its jobs are
    found by group right after it returns. The group is checked against
    the scheduler's job counter: if the status store has dropped any of
    the call's jobs the span is marked as a trace failure instead of
    reporting fewer jobs than ran."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.failures = 0
        # op id -> seconds the tracer spent on its own bookkeeping
        self.cost: dict[int, float] = {}
        self._ids = itertools.count(1)
        self._stack: list[Span] = []
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()

    def _launched(self) -> int:
        return int(self._jsc.dagScheduler().numTotalJobs())

    @contextmanager
    def span(self, name: str, op_id: int):
        if not self.enabled:
            yield None
            return
        t_in = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        sp = Span(next(self._ids), name, name.split(".")[0], op_id,
                  parent.span_id if parent else None, 0.0, outer_start=t_in)
        sp.group = f"perfbench-{sp.span_id}"
        self._sc.setJobGroup(sp.group, name)
        self._stack.append(sp)
        before = self._launched()
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            launched = self._launched() - before
            self._stack.pop()
            if parent is not None:
                self._sc.setJobGroup(parent.group, parent.name)
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)
            self.spans.append(sp)
            self._harvest(sp, launched)
            sp.outer_end = time.perf_counter()
            self.cost[op_id] = self.cost.get(op_id, 0.0) + (
                sp.start - sp.outer_start + sp.outer_end - sp.end
            )

    def _harvest(self, sp: Span, launched: int) -> None:
        st = self._sc.statusTracker()
        jobs = list(st.getJobIdsForGroup(sp.group))
        sp.launched = launched
        kids = sum(s.launched for s in self.spans if s.parent == sp.span_id)
        counts = {"jobs": len(jobs)}
        stage_ids: set[int] = set()
        ok = len(jobs) == launched - kids
        for j in jobs:
            info = st.getJobInfo(j)
            if info is None:
                ok = False
                break
            stage_ids.update(info.stageIds)
        sums = dict.fromkeys(_STAGE_FIELDS, 0)
        store = self._jsc.statusStore()
        for sid in sorted(stage_ids) if ok else ():
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 — a dropped stage is a trace failure
                ok = False
                break
            sums["tasks"] += sd.numCompleteTasks()
            sums["executor_run_s"] += sd.executorRunTime() / 1000.0
            sums["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            sums["spill_bytes"] += sd.diskBytesSpilled()
            sums["input_records"] += sd.inputRecords()
        if not ok:
            self.failures += 1
            sp.counts = None
            return
        counts["stages"] = len(stage_ids)
        counts.update(sums)
        sp.counts = counts

    def op_spans(self, op_id: int) -> list[Span]:
        return [s for s in self.spans if s.op_id == op_id]

    def dump(self, path: str) -> None:
        """Write every span as one JSON line, with its self time."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                rec = asdict(s)
                rec["self_s"] = self_time(s, self.spans)
                fh.write(json.dumps(rec) + "\n")


def sum_counts(spans: list[Span], key: str, name_filter=lambda s: True) -> float:
    """Sum of one Spark count over spans; raises if any span failed its
    harvest, so a lost group never reads as zero."""
    total = 0.0
    for s in spans:
        if not name_filter(s):
            continue
        if s.counts is None:
            raise LookupError(f"span {s.name} lost its job group")
        total += s.counts.get(key, 0)
    return total
