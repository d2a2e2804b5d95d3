"""Metric arithmetic and the traced run's status-store reader.

The traced run wraps every call into a program layer in ``Tracer.span``:
the call runs under its own Spark job group, and afterwards the JVM
status store (read over py4j, so it works with the UI off and without
the REST API) says which jobs, stages and tasks the call started. The
untraced run uses the same ``span`` calls with the store reads turned
off, so the two runs differ only by the tracing work.
"""

from __future__ import annotations

import itertools
import math
import time
from dataclasses import dataclass, field

MB = 1 << 20
GROUP_PREFIX = "perfbench-"


def percentile(values, q: float) -> float:
    """The ``q``-th percentile (0..100) by linear interpolation between
    closest ranks, as numpy's default method computes it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def interval_union(intervals, lo: float, hi: float) -> float:
    """Total length of the union of ``intervals`` clipped to [lo, hi]."""
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo)
    )
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


#: Counters summed over the stages a span started; the first seven are
#: the field set of ``tools/scale_probe.py::_stage_metrics``.
STAGE_FIELDS = (
    "stages",
    "tasks",
    "input_bytes",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "peak_task_input",
    "peak_task_shuffle_read",
    "executor_run_s",
    "executor_cpu_s",
    "spill_bytes",
)


@dataclass
class Span:
    layer: str
    name: str
    start: float
    end: float = 0.0
    jobs: int = 0
    job_intervals: list = field(default_factory=list)
    counters: dict = field(default_factory=lambda: dict.fromkeys(STAGE_FIELDS, 0))

    @property
    def wall_s(self) -> float:
        return self.end - self.start

    @property
    def outside_jobs_s(self) -> float:
        """Wall time in which none of the span's jobs was running."""
        return self.wall_s - interval_union(self.job_intervals, self.start, self.end)

    def record(self) -> dict:
        return {
            "layer": self.layer,
            "name": self.name,
            "wall_s": self.wall_s,
            "jobs": self.jobs,
            "outside_jobs_s": self.outside_jobs_s,
            **self.counters,
        }


def spark_totals(records) -> dict:
    """Spark metrics over span records (``Span.record()`` dicts or
    dicts of the same keys): counts and times summed, peaks maxed,
    bytes reported in MB."""
    records = [r if isinstance(r, dict) else r.record() for r in records]
    out = {
        "spark.jobs": sum(r["jobs"] for r in records),
        "spark.outside_jobs_s": sum(r["outside_jobs_s"] for r in records),
    }
    for k in STAGE_FIELDS:
        vals = [r[k] for r in records]
        v = max(vals, default=0) if k.startswith("peak_") else sum(vals)
        if k.endswith("_bytes") or k.startswith("peak_"):
            out[f"spark.{k.removesuffix('_bytes')}_mb"] = v / MB
        else:
            out[f"spark.{k}"] = v
    return out


class StatusStore:
    """Reads jobs and stages from the live ``AppStatusStore`` over py4j."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()
        gw = spark.sparkContext._gateway
        self._no_status = gw.jvm.java.util.ArrayList()
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)
        self._max_q = gw.new_array(gw.jvm.double, 1)
        self._max_q[0] = 1.0
        self._seen_stages: set = set()
        self.last_job_id = self._newest_job_id()

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        store holds the final state of every job that has ended."""
        self._sc.listenerBus().waitUntilEmpty(30_000)

    def _newest_job_id(self) -> int:
        jobs = self._store.jobsList(None)
        return jobs.apply(0).jobId() if jobs.size() else -1

    def new_jobs(self) -> list[dict]:
        """Jobs submitted since the previous call, oldest first."""
        jobs = self._store.jobsList(None)  # newest first
        out = []
        for i in range(jobs.size()):
            j = jobs.apply(i)
            jid = j.jobId()
            if jid <= self.last_job_id:
                break
            sub, end = j.submissionTime(), j.completionTime()
            group = j.jobGroup()
            out.append({
                "id": jid,
                "group": group.get() if group.isDefined() else None,
                "start": sub.get().getTime() / 1000 if sub.isDefined() else None,
                "end": end.get().getTime() / 1000 if end.isDefined() else None,
                "stage_ids": _seq(j.stageIds()),
            })
        if out:
            self.last_job_id = out[0]["id"]
        return out[::-1]

    def stage_counters(self, stage_ids) -> dict:
        agg = dict.fromkeys(STAGE_FIELDS, 0)
        for sid in stage_ids:
            attempts = self._store.stageData(
                sid, False, self._no_status, False, self._no_quantiles
            )
            for i in range(attempts.size()):
                st = attempts.apply(i)
                key = (sid, st.attemptId())
                if key in self._seen_stages or st.status().toString() == "SKIPPED":
                    continue
                self._seen_stages.add(key)
                agg["stages"] += 1
                agg["tasks"] += st.numCompleteTasks()
                agg["input_bytes"] += st.inputBytes()
                agg["shuffle_read_bytes"] += st.shuffleReadBytes()
                agg["shuffle_write_bytes"] += st.shuffleWriteBytes()
                agg["executor_run_s"] += st.executorRunTime() / 1000
                agg["executor_cpu_s"] += st.executorCpuTime() / 1e9
                agg["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                summ = self._store.taskSummary(sid, st.attemptId(), self._max_q)
                if summ.isDefined():
                    d = summ.get()
                    agg["peak_task_input"] = max(
                        agg["peak_task_input"],
                        int(d.inputMetrics().bytesRead().apply(0)),
                    )
                    agg["peak_task_shuffle_read"] = max(
                        agg["peak_task_shuffle_read"],
                        int(d.shuffleReadMetrics().readBytes().apply(0)),
                    )
        return agg


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def attribute_jobs(jobs: list[dict], group: str, start: float, end: float) -> list[dict]:
    """The jobs a span started: those in its job group, plus jobs of no
    other span's group submitted inside its window (a stream's
    micro-batch jobs run on the stream thread under the stream's own
    group, not the caller's)."""
    return [
        j for j in jobs
        if j["group"] == group
        or (not (j["group"] or "").startswith(GROUP_PREFIX)
            and j["start"] is not None and start <= j["start"] <= end)
    ]


class Tracer:
    """Times calls into program layers; with ``enabled`` it also reads
    each call's jobs and stages from the status store."""

    def __init__(self, spark, enabled: bool) -> None:
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self.read_s = 0.0  # time spent reading the store: tracing overhead
        self._ids = itertools.count()
        self._store = StatusStore(spark) if enabled else None

    def span(self, layer: str, name: str):
        return _SpanCtx(self, layer, name)

    def _begin(self, layer: str, name: str) -> tuple[Span, str | None]:
        group = None
        if self.enabled:
            group = f"{GROUP_PREFIX}{next(self._ids)}-{layer}"
            self.spark.sparkContext.setJobGroup(group, name)
        return Span(layer, name, time.time()), group

    def _end(self, span: Span, group: str | None) -> None:
        span.end = time.time()
        if self.enabled:
            t0 = time.perf_counter()
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
            self._store.drain()
            mine = attribute_jobs(self._store.new_jobs(), group, span.start, span.end)
            span.jobs = len(mine)
            span.job_intervals = [
                (j["start"], j["end"] if j["end"] is not None else span.end)
                for j in mine if j["start"] is not None
            ]
            span.counters = self._store.stage_counters(
                sid for j in mine for sid in j["stage_ids"]
            )
            self.read_s += time.perf_counter() - t0
        self.spans.append(span)

    def layer_spans(self, layer: str) -> list[Span]:
        return [s for s in self.spans if s.layer == layer]


class _SpanCtx:
    def __init__(self, tracer: Tracer, layer: str, name: str) -> None:
        self.tracer, self.layer, self.name = tracer, layer, name

    def __enter__(self) -> Span:
        self.span, self.group = self.tracer._begin(self.layer, self.name)
        return self.span

    def __exit__(self, *exc) -> None:
        self.tracer._end(self.span, self.group)
