"""Spans recorded around the benchmark's own calls, plus readers for
Spark's in-process stores (job/stage status store, Catalyst phase
tracker; etl.py reads the streaming progress). Nothing here changes the
program: every number is read from outside it.

A span is (name, layer, start, end, parent). A layer's self time is its
spans' durations minus the part of each span that its child spans
cover. Spans stay in memory; `self_time_table` and `to_json` turn them
into the traced run's output at the end.
"""

from __future__ import annotations

import math
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    layer: str
    start: float  # wall-clock seconds (time.time() scale)
    end: float
    parent: int | None = None


class Tracer:
    """In-memory span recorder. Disabled tracers record nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield None
            return
        idx = self.add(name, layer, time.time(), float("nan"))
        self._stack.append(idx)
        try:
            yield idx
        finally:
            self._stack.pop()
            self.spans[idx].end = time.time()

    def add(self, name, layer, start, end, parent=None) -> int:
        """Record a span whose times are already known (e.g. read from a
        Spark store). `parent` defaults to the innermost open span."""
        if parent is None and self._stack:
            parent = self._stack[-1]
        self.spans.append(Span(name, layer, start, end, parent))
        return len(self.spans) - 1

    def self_time_table(self) -> dict[str, dict[str, float]]:
        """layer -> {"self_s", "total_s", "spans"}."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        table: dict[str, dict[str, float]] = {}
        for i, s in enumerate(self.spans):
            dur = max(0.0, s.end - s.start)
            covered = _covered(s.start, s.end, children.get(i, []))
            row = table.setdefault(s.layer, {"self_s": 0.0, "total_s": 0.0, "spans": 0})
            row["self_s"] += dur - covered
            row["total_s"] += dur
            row["spans"] += 1
        return {
            k: {"self_s": round(v["self_s"], 4), "total_s": round(v["total_s"], 4), "spans": v["spans"]}
            for k, v in sorted(table.items(), key=lambda kv: -kv[1]["self_s"])
        }

    def to_json(self) -> list[dict]:
        return [vars(s) for s in self.spans]


def _covered(lo: float, hi: float, kids: list[Span]) -> float:
    """Length of [lo, hi] covered by the union of the children's spans."""
    ivs = sorted((max(lo, k.start), min(hi, k.end)) for k in kids)
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in ivs:
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


def p50(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def quantile(sorted_vals: list[float], q: float) -> float:
    """Nearest-rank quantile of an ascending list."""
    idx = min(len(sorted_vals) - 1, max(0, math.ceil(q * len(sorted_vals)) - 1))
    return sorted_vals[idx]


def latency_summary(sorted_vals: list[float]) -> dict[str, float]:
    """The latency metrics every workload reports over its items."""
    if not sorted_vals:
        return {}
    return {
        "latency_p50_s": statistics.median(sorted_vals),
        "latency_p95_s": quantile(sorted_vals, 0.95),
        "latency_p99_s": quantile(sorted_vals, 0.99),
        "geomean_latency_s": math.exp(
            sum(math.log(max(v, 1e-6)) for v in sorted_vals) / len(sorted_vals)
        ),
    }


# ---------------------------------------------------------------------------
# Spark store readers (py4j; work with spark.ui.enabled=false)
# ---------------------------------------------------------------------------


def _seq(seq) -> list:
    return [seq.apply(i) for i in range(seq.size())]


def _opt(opt):
    return opt.get() if opt.isDefined() else None


def _ms(opt_date) -> float | None:
    d = _opt(opt_date)
    return d.getTime() / 1000.0 if d is not None else None


@dataclass
class JobInfo:
    job_id: int
    group: str | None
    description: str | None
    start: float | None  # wall-clock seconds
    end: float | None
    stage_ids: list[int]


@dataclass
class StageInfo:
    stage_id: int
    status: str
    run_s: float  # summed executor run time of the stage's tasks
    cpu_s: float
    gc_s: float
    shuffle_write_bytes: int
    spill_bytes: int
    num_tasks: int


class SparkStores:
    """Snapshot readers over the SparkContext's AppStatusStore."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._store = self._sc._jsc.sc().statusStore()

    def jobs(self) -> list[JobInfo]:
        out = []
        for j in _seq(self._store.jobsList(None)):
            out.append(
                JobInfo(
                    job_id=j.jobId(),
                    group=_opt(j.jobGroup()),
                    description=_opt(j.description()),
                    start=_ms(j.submissionTime()),
                    end=_ms(j.completionTime()),
                    stage_ids=list(_seq(j.stageIds())),
                )
            )
        return sorted(out, key=lambda j: j.job_id)

    def stages(self) -> dict[int, StageInfo]:
        gw = self._sc._gateway
        empty = gw.new_array(gw.jvm.double, 0)
        out: dict[int, StageInfo] = {}
        for s in _seq(self._store.stageList(None, False, False, empty, None)):
            info = StageInfo(
                stage_id=s.stageId(),
                status=s.status().toString(),
                run_s=s.executorRunTime() / 1000.0,
                cpu_s=s.executorCpuTime() / 1e9,
                gc_s=s.jvmGcTime() / 1000.0,
                shuffle_write_bytes=s.shuffleWriteBytes(),
                spill_bytes=s.diskBytesSpilled(),
                num_tasks=s.numTasks(),
            )
            prev = out.get(info.stage_id)
            if prev is None or info.status != "SKIPPED":
                out[info.stage_id] = info
        return out


def ran_stages(job: JobInfo, stages: dict[int, StageInfo]) -> list[StageInfo]:
    """The job's stages that actually ran (skipped stages reuse shuffle
    output of an earlier job and cost nothing)."""
    return [
        stages[i] for i in job.stage_ids if i in stages and stages[i].status != "SKIPPED"
    ]


def catalyst_phase_ms(df) -> float:
    """Analysis + optimization + planning of `df`'s own QueryExecution,
    forcing the later phases if nothing has run them yet."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    total = 0.0
    for key in _seq(phases.keys().toSeq()):
        ph = phases.apply(key)
        total += ph.endTimeMs() - ph.startTimeMs()
    return total
