"""Spans around calls into dbqt_spark layers, with Spark counters per call.

A span covers one call into a layer's public function together with the
action that materializes its output. When tracing is on, each span runs
under its own Spark job group; when it ends the tracer drains the
listener bus and reads that group's jobs and stages from Spark's status
store (``sc._jsc.sc().statusStore()``). Spans and counters stay in memory
until the run writes them out.

With tracing off a span only measures wall time (the op latency the
end-to-end metrics need) and touches no Spark state.
"""

from __future__ import annotations

import itertools
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# The layers, by module; every one reports COUNTERS except these two,
# which run no Spark jobs of their own and report busy_s only.
SPARK_LAYERS = [
    "catalog",
    "schema_df",
    "operators.rowcount",
    "operators.colcompare",
    "operators.profile",
    "operators.keyfinder",
    "operators.checks",
    "operators.datadiff",
    "operators.textstats",
    "operators.dedup",
    "operators.minhash_index",
    "streaming.neardup",
    "operators.pipeline",
]
BUSY_ONLY_LAYERS = ["session", "report"]
COUNTERS = [
    "busy_s",
    "driver_s",
    "jobs",
    "stages",
    "tasks",
    "task_run_s",
    "jvm_cpu_s",
    "sched_wait_s",
    "shuffle_bytes",
]
UNITS = {
    "busy_s": "s", "driver_s": "s", "task_run_s": "s", "jvm_cpu_s": "s",
    "sched_wait_s": "s", "jobs": "count", "stages": "count",
    "tasks": "count", "shuffle_bytes": "B",
}


@dataclass
class Span:
    span_id: int
    parent: int | None
    op_id: int | None
    name: str
    layer: str | None
    pass_no: int
    start: float
    end: float = 0.0
    counters: dict = field(default_factory=dict)


def _ms(opt) -> float | None:
    """scala Option[java.util.Date] -> epoch seconds (None if empty)."""
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
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


class Tracer:
    """Records spans for one run. ``enabled`` switches counter reads on;
    ``pass_no`` tags the spans of the pass being run."""

    def __init__(self) -> None:
        self.enabled = False
        self.pass_no = 0
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._op: Span | None = None  # the operation being run
        self._spark = None

    def bind(self, spark) -> None:
        """Attach to the live session (after every session rebuild)."""
        self._spark = spark

    @contextmanager
    def op(self, name: str):
        """Root span of one operation; yields the op id its calls share."""
        op_id = next(self._ids)
        span = Span(op_id, None, op_id, name, None, self.pass_no, time.time())
        self._op = span
        try:
            yield span
        finally:
            span.end = time.time()
            self._op = None
            if self.enabled:
                self.spans.append(span)

    @contextmanager
    def call(self, layer: str, fn: str):
        """Span around one call into ``layer`` (action included)."""
        if not self.enabled:
            yield
            return
        parent = self._op
        span = Span(
            next(self._ids), parent.span_id if parent else None,
            parent.op_id if parent else None, f"{layer}.{fn}", layer,
            self.pass_no, time.time(),
        )
        sc = None
        if layer not in BUSY_ONLY_LAYERS and self._spark is not None:
            sc = self._spark.sparkContext
        group = f"perfbench-{span.span_id}"
        if sc is not None:
            sc.setJobGroup(group, span.name)
        try:
            yield
        finally:
            span.end = time.time()
            if sc is not None:
                sc.setLocalProperty("spark.jobGroup.id", None)
                span.counters = self._read_counters(sc, group, span)
            else:
                span.counters = {"busy_s": span.end - span.start}
            self.spans.append(span)

    def _read_counters(self, sc, group: str, span: Span) -> dict:
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        jvm = sc._jvm
        no_status = jvm.java.util.ArrayList()
        no_quantiles = sc._gateway.new_array(jvm.double, 0)
        c = dict.fromkeys(COUNTERS, 0)
        c["busy_s"] = span.end - span.start
        intervals = []
        seen: set[int] = set()
        for jid in sc.statusTracker().getJobIdsForGroup(group):
            job = store.job(jid)
            start, end = _ms(job.submissionTime()), _ms(job.completionTime())
            if start is not None:
                intervals.append((start, end if end is not None else span.end))
            c["jobs"] += 1
            ids = job.stageIds()
            for i in range(ids.length()):
                sid = ids.apply(i)
                if sid in seen:
                    continue
                seen.add(sid)
                attempts = store.stageData(sid, False, no_status, False, no_quantiles)
                for k in range(attempts.length()):
                    st = attempts.apply(k)
                    if st.status().toString() == "SKIPPED":
                        continue
                    c["stages"] += 1
                    c["tasks"] += st.numTasks()
                    c["task_run_s"] += st.executorRunTime() / 1e3
                    c["jvm_cpu_s"] += st.executorCpuTime() / 1e9
                    c["shuffle_bytes"] += st.shuffleWriteBytes()
                    sub, first = _ms(st.submissionTime()), _ms(st.firstTaskLaunchedTime())
                    if sub is not None and first is not None:
                        c["sched_wait_s"] += max(0.0, first - sub)
        c["driver_s"] = max(0.0, c["busy_s"] - _covered(intervals, span.start, span.end))
        return c

    def layer_totals(self, pass_no: int) -> dict[str, dict[str, float]]:
        """Per-layer counter sums over the spans of one pass."""
        out: dict[str, dict[str, float]] = {}
        for s in self.spans:
            if s.pass_no != pass_no or s.layer is None:
                continue
            acc = out.setdefault(s.layer, dict.fromkeys(COUNTERS, 0))
            for k, v in s.counters.items():
                acc[k] += v
        return out

    def dump(self) -> list[dict]:
        return [s.__dict__ for s in self.spans]


def counter_repeat(totals: list[dict]) -> dict[str, dict]:
    """For each layer seen in every one of ``totals`` (per-pass
    ``layer_totals``): whether jobs, stages and tasks are identical across
    the passes, and the shuffle-byte spread (max - min) over the max."""
    out = {}
    layers = set.intersection(*(set(t) for t in totals)) if totals else set()
    for layer in sorted(layers):
        counts = {(t[layer]["jobs"], t[layer]["stages"], t[layer]["tasks"]) for t in totals}
        sb = [t[layer]["shuffle_bytes"] for t in totals]
        out[layer] = {
            "exact": len(counts) == 1,
            "jobs": totals[0][layer]["jobs"],
            "shuffle_spread": (max(sb) - min(sb)) / max(sb) if max(sb) else 0.0,
        }
    return out
