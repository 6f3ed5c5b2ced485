"""Spans around calls into the resolver's layers, with Spark counters.

A span has a name, a layer (a module of `entity_resolver_spark`), a start,
an end, a parent and an operation id. Opening a span sets a Spark job group;
closing it reads the jobs of that group from the status store (this works
with the UI off) and sums shuffle, spill, task-time and CPU counters over
their stages. Jobs run while a child span is open belong to the child, so
every counter is already "self". Spans stay in memory until `write`.

Spark is lazy: a span around a call that only builds a plan times planning.
So spans wrap only calls that materialize, and the benchmark's wrappers
(`workloads.probes`) target exactly those.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

# The per-layer metrics the benchmark reports, one block per module.
LAYERS = (
    "collapse", "normalize", "vectorize", "blocking", "pairs", "components",
    "communities", "refine", "validate", "canonical", "confidence",
    "checkpoint", "lineage", "predict", "dedup", "ann",
)
LAYER_METRICS = {
    "self_pct": "%",
    "spark_jobs": "count",
    "shuffle_read_mb": "MB",
    "shuffle_write_mb": "MB",
    "spill_mb": "MB",
    "task_skew": "ratio",
    "executor_cpu_pct": "%",
}
_COUNTERS = ("jobs", "run_ms", "cpu_ns", "shuffle_read", "shuffle_write", "spill",
             "task_max_ms", "task_median_ms")


@dataclass
class Span:
    id: int
    name: str
    layer: str
    op: str
    parent: int | None
    start: float
    end: float = 0.0
    rows_out: int | None = None
    counters: dict = field(default_factory=lambda: dict.fromkeys(_COUNTERS, 0))


class Tracer:
    """Records spans while `enabled`; every method is a no-op otherwise, so
    the same workload code runs traced and untraced."""

    def __init__(self, spark, enabled: bool = False) -> None:
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.op = "setup"
        self.gates: Span | None = None  # opened by workloads.probes

    # ------------------------------------------------------------------
    def begin(self, name: str, layer: str) -> Span | None:
        if not self.enabled:
            return None
        parent = self._stack[-1].id if self._stack else None
        span = Span(len(self.spans), name, layer, self.op, parent, time.perf_counter())
        self.spans.append(span)
        self._stack.append(span)
        self.sc.setJobGroup(self._group(span), f"{layer}:{name}")
        return span

    def end(self, span: Span | None, rows_out: int | None = None) -> None:
        if span is None:
            return
        span.end = time.perf_counter()
        span.rows_out = rows_out
        self._collect(span)
        self._stack.remove(span)
        if self._stack:
            self.sc.setJobGroup(self._group(self._stack[-1]), self._stack[-1].name)
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    def close_open(self) -> None:
        """End every open span, innermost first (after a failed operation)."""
        while self._stack:
            self.end(self._stack[-1])
        self.gates = None

    def end_gates(self) -> None:
        self.end(self.gates)
        self.gates = None

    @contextmanager
    def span(self, name: str, layer: str):
        s = self.begin(name, layer)
        try:
            yield s
        finally:
            self.end(s)

    @staticmethod
    def _group(span: Span) -> str:
        return f"perfbench-{span.id}"

    def _collect(self, span: Span) -> None:
        """Sum stage counters over the jobs run under this span's group."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()  # stage-completed events land async
        store = jsc.statusStore()
        gw = self.sc._gateway
        quantiles = gw.new_array(gw.jvm.double, 2)
        quantiles[0], quantiles[1] = 0.5, 1.0
        c = span.counters
        seen: set[int] = set()
        job_ids = self.sc.statusTracker().getJobIdsForGroup(self._group(span))
        c["jobs"] = len(job_ids)
        for job_id in job_ids:
            info = self.sc.statusTracker().getJobInfo(job_id)
            for stage_id in info.stageIds if info else ():
                if stage_id in seen:
                    continue
                seen.add(stage_id)
                try:
                    st = store.lastStageAttempt(stage_id)
                except Exception:  # py4j error: stage evicted from the store
                    continue
                if st.numCompleteTasks() == 0:
                    continue  # skipped: its output was reused
                c["run_ms"] += st.executorRunTime()
                c["cpu_ns"] += st.executorCpuTime()
                c["shuffle_read"] += st.shuffleReadBytes()
                c["shuffle_write"] += st.shuffleWriteBytes()
                c["spill"] += st.diskBytesSpilled()
                summary = store.taskSummary(stage_id, st.attemptId(), quantiles)
                if st.numCompleteTasks() > 1 and summary.isDefined():
                    run = summary.get().executorRunTime()
                    c["task_median_ms"] += run.apply(0)
                    c["task_max_ms"] += run.apply(1)

    # ------------------------------------------------------------------
    def self_seconds(self, span: Span) -> float:
        """Duration minus the part of it the span's children cover."""
        kids = sorted((s.start, s.end) for s in self.spans if s.parent == span.id)
        covered, cursor = 0.0, span.start
        for a, b in kids:
            a, b = max(a, cursor), min(b, span.end)
            if b > a:
                covered += b - a
                cursor = b
        return span.end - span.start - covered

    def layer_totals(self) -> dict[str, dict]:
        """Absolute per-layer sums over every recorded span."""
        out: dict[str, dict] = {}
        for s in self.spans:
            t = out.setdefault(s.layer, dict.fromkeys(("self_s", *_COUNTERS), 0.0))
            t["self_s"] += self.self_seconds(s)
            for k in _COUNTERS:
                t[k] += s.counters[k]
        return out

    def layer_metrics(self) -> dict[str, float]:
        """`<layer>.<metric>` for every layer in LAYERS. Shares are taken
        over all traced root spans, so a layer this workload never reaches
        reads 0 rather than being absent."""
        totals = self.layer_totals()
        wall = sum(s.end - s.start for s in self.spans if s.parent is None) or 1.0
        cpu = sum(t["cpu_ns"] for t in totals.values()) or 1.0
        out = {}
        for layer in LAYERS:
            t = totals.get(layer, dict.fromkeys(("self_s", *_COUNTERS), 0.0))
            out[f"{layer}.self_pct"] = 100.0 * t["self_s"] / wall
            out[f"{layer}.spark_jobs"] = t["jobs"]
            out[f"{layer}.shuffle_read_mb"] = t["shuffle_read"] / 2**20
            out[f"{layer}.shuffle_write_mb"] = t["shuffle_write"] / 2**20
            out[f"{layer}.spill_mb"] = t["spill"] / 2**20
            out[f"{layer}.task_skew"] = (
                t["task_max_ms"] / t["task_median_ms"] if t["task_median_ms"] else 0.0
            )
            out[f"{layer}.executor_cpu_pct"] = 100.0 * t["cpu_ns"] / cpu
        return out

    def write(self, path: str, header: dict) -> None:
        """One JSON line for the header, one per span (with its self time),
        and a closing line with the absolute per-layer totals."""
        with open(path, "w") as f:
            f.write(json.dumps({"header": header}) + "\n")
            for s in self.spans:
                f.write(json.dumps({**asdict(s), "self_s": self.self_seconds(s)}) + "\n")
            f.write(json.dumps({"layer_totals": self.layer_totals()}) + "\n")
