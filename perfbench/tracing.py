"""Spans around the benchmark's calls into each engine layer.

A span records name, start, end, parent and op id, plus the range of
Spark job and stage ids the driver's scheduler handed out while it was
open (the scheduler numbers jobs and stages from one counter each, and
the benchmark is a single client, so the ranges of sequential spans
never interleave). After each op the stage counters of those ranges
are read from the live session's status store. Spans stay in memory
and are written out when the run ends.

Layers are named by engine module: a span ``compare.diff`` belongs to
layer ``compare``. The root span of each op is named ``op.<kind>``.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from dataclasses import asdict, dataclass, field

from py4j.protocol import Py4JJavaError

LAYERS = [
    "io", "compare", "mask", "pattern", "textstats", "dedup", "similarity",
    "pipeline",
]
COUNTER_UNITS = {
    "spark_jobs": "jobs/op",
    "tasks": "tasks/op",
    "failed_tasks": "tasks/op",
    "shuffle_write_mb": "MB/op",
    "input_mb": "MB/op",
}
COUNTERS = list(COUNTER_UNITS)
# Every per-layer metric of the traced run with its unit. Layer and
# session figures are means per traced op.
UNITS = {
    **{
        f"{layer}.{m}": u
        for layer in LAYERS
        for m, u in {"calls": "calls/op", "self_s": "s/op", **COUNTER_UNITS}.items()
    },
    "session.jobs_per_op": "jobs/op",
    "session.driver_only_s": "s/op",
    "session.jvm_cpu_s": "s/op",
    "session.pyworker_cpu_s": "s/op",
    "session.peak_rss_mb": "MB",
    "session.trace_overhead_s": "s",
    "pipeline.state_mb": "MB",
    "pipeline.state_files": "count",
    "pipeline.write_amp": "ratio",
    "pipeline.read_delta_rows": "rows",
}
MB = 1024 * 1024


@dataclass
class Span:
    id: int
    name: str
    op_id: int
    parent: int | None
    start: float
    end: float = 0.0
    first_job: int = 0
    end_job: int = 0
    first_stage: int = 0
    end_stage: int = 0
    counters: dict = field(default_factory=dict)
    # (submission, completion) seconds of each job, root spans only
    job_times: list = field(default_factory=list)

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
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


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of it that child spans cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.id: (s.end - s.start) - covered(children.get(s.id, []), s.start, s.end)
        for s in spans
    }


def self_counters(spans: list[Span]) -> dict[int, dict[str, float]]:
    """A span's counters minus those of its direct children."""
    out = {s.id: dict(s.counters) for s in spans}
    for s in spans:
        if s.parent is not None and s.parent in out:
            for k, v in s.counters.items():
                out[s.parent][k] = out[s.parent].get(k, 0) - v
    return out


def tail_percentile(samples: list[float]) -> tuple[int, float, int] | None:
    """Highest percentile with at least 10 samples beyond it.

    Returns (percentile, value, samples beyond) or None when the run has
    fewer than 11 samples. The value is the k-th smallest sample with k
    the largest rank leaving 10 samples above it; the percentile is the
    share of samples at or below it, rounded down.
    """
    n = len(samples)
    if n < 11:
        return None
    xs = sorted(samples)
    k = n - 10  # 1-based rank
    return (100 * k) // n, xs[k - 1], n - k


def layer_metrics(spans: list[Span], n_ops: int) -> dict[str, float]:
    """Per-op means of each layer's calls, self time and self counters."""
    st, sc = self_times(spans), self_counters(spans)
    out = {}
    for layer in LAYERS:
        mine = [s for s in spans if s.layer == layer]
        out[f"{layer}.calls"] = len(mine) / n_ops
        out[f"{layer}.self_s"] = sum(st[s.id] for s in mine) / n_ops
        for c in COUNTERS:
            out[f"{layer}.{c}"] = sum(sc[s.id].get(c, 0) for s in mine) / n_ops
    return out


def driver_only_s(root: Span) -> float:
    """Op wall time during which no Spark job of the op was running."""
    return (root.end - root.start) - covered(root.job_times, root.start, root.end)


# ---------------------------------------------------------------------------
# process counters from /proc
# ---------------------------------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # fields after the parenthesised command name, which may hold spaces
    return raw[raw.rindex(")") + 2 :].split()


def ended(pid: int) -> bool:
    """The process has exited: it is gone, or a zombie its parent has
    not yet reaped."""
    st = _stat(pid)
    return st is None or st[0] == "Z"


def _children(pid: int) -> list[int]:
    out = []
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            st = _stat(int(entry))
            if st is not None and int(st[1]) == pid:
                out.append(int(entry))
    return out


def descendants(pid: int) -> list[int]:
    todo, out = [pid], []
    while todo:
        kids = _children(todo.pop())
        out.extend(kids)
        todo.extend(kids)
    return out


def cpu_s(pid: int, reaped: bool) -> float:
    """User+system CPU seconds of ``pid``; with ``reaped`` also those of
    its children that have exited and been waited for."""
    st = _stat(pid)
    if st is None:
        return 0.0
    ticks = int(st[11]) + int(st[12])
    if reaped:
        ticks += int(st[13]) + int(st[14])
    return ticks / _TICK


def cpu_ticks() -> tuple[int, int]:
    """Machine-wide (steal, total) CPU ticks: on a virtual machine,
    steal is the time the hypervisor ran something else on our CPUs."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def hwm_mb(pid: int) -> float:
    """Peak resident set size (VmHWM) of ``pid`` in MB."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


class ProcessCounters:
    """CPU of the Spark JVM and of its Python worker processes."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid

    def workers(self) -> list[int]:
        out = []
        for pid in descendants(self.jvm_pid):
            try:
                with open(f"/proc/{pid}/comm") as f:
                    if f.read().startswith("python"):
                        out.append(pid)
            except OSError:
                pass
        return out

    def sample(self) -> dict[str, float]:
        workers = self.workers()
        return {
            "jvm_cpu_s": cpu_s(self.jvm_pid, reaped=False),
            "pyworker_cpu_s": sum(cpu_s(p, reaped=True) for p in workers),
            "peak_rss_mb": hwm_mb(self.jvm_pid)
            + hwm_mb(os.getpid())
            + sum(hwm_mb(p) for p in workers),
        }


# ---------------------------------------------------------------------------
# tracer
# ---------------------------------------------------------------------------


class NullTracer:
    """Tracing off: spans cost one context-manager entry, frames stay lazy."""

    enabled = False

    @contextlib.contextmanager
    def span(self, name: str):
        yield

    @contextlib.contextmanager
    def op(self, op_id: int, kind: str):
        yield

    def settle(self, df):
        return df


class Tracer(NullTracer):
    """Records spans and attaches Spark counters to them."""

    enabled = True

    def __init__(self, spark):
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        self._dag = self._jsc.dagScheduler()
        self._store = self._jsc.statusStore()
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._op_id = -1

    def _ids(self) -> tuple[int, int]:
        return self._dag.nextJobId(), self._dag.nextStageId()

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1].id if self._stack else None
        j, s = self._ids()
        sp = Span(len(self.spans), name, self._op_id, parent, time.time(),
                  first_job=j, first_stage=s)
        self.spans.append(sp)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            self._stack.pop()
            sp.end_job, sp.end_stage = self._ids()
            sp.end = time.time()

    @contextlib.contextmanager
    def op(self, op_id: int, kind: str):
        self._op_id = op_id
        first = len(self.spans)
        with self.span(f"op.{kind}") as root:
            yield root
        self._attach(self.spans[first:], root)

    def settle(self, df):
        """Run the frame's plan inside the current span (noop sink)."""
        df.write.format("noop").mode("overwrite").save()
        return df

    def _attach(self, spans: list[Span], root: Span) -> None:
        self._jsc.listenerBus().waitUntilEmpty()
        stages = {}
        for sid in range(root.first_stage, root.end_stage):
            stages[sid] = self._stage(sid)
        for sp in spans:
            c = {k: 0.0 for k in COUNTERS}
            c["spark_jobs"] = sp.end_job - sp.first_job
            for sid in range(sp.first_stage, sp.end_stage):
                for k, v in stages[sid].items():
                    c[k] += v
            sp.counters = c
        for jid in range(root.first_job, root.end_job):
            job = self._job(jid)
            if job is not None:
                root.job_times.append(job)

    def _stage(self, sid: int) -> dict[str, float]:
        out = {"tasks": 0.0, "failed_tasks": 0.0, "shuffle_write_mb": 0.0, "input_mb": 0.0}
        try:
            attempts = self._store.stageData(sid, False, None, False, None)
        except Py4JJavaError:  # stage never submitted (e.g. skipped): no data
            return out
        for i in range(attempts.size()):
            a = attempts.apply(i)
            out["tasks"] += a.numCompleteTasks() + a.numFailedTasks() + a.numKilledTasks()
            out["failed_tasks"] += a.numFailedTasks()
            out["shuffle_write_mb"] += a.shuffleWriteBytes() / MB
            out["input_mb"] += a.inputBytes() / MB
        return out

    def _job(self, jid: int) -> tuple[float, float] | None:
        try:
            j = self._store.job(jid)
        except Py4JJavaError:  # evicted or never registered
            return None
        sub, done = j.submissionTime(), j.completionTime()
        if sub.isEmpty():
            return None
        end = done.get().getTime() / 1000 if not done.isEmpty() else time.time()
        return sub.get().getTime() / 1000, end

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)
