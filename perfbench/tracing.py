"""Spans, counters and Spark's own metrics for the traced run.

A :class:`Tracer` keeps spans in memory: name, start, end, parent span and
op id. Spans are recorded by the benchmark around its calls into a layer's
public function; nothing in the engine package is edited. Spark jobs started
from the benchmark thread inside a span carry the span's id as their job
group, so jobs can be charged to the span that caused them. Jobs the
benchmark does not start itself (a streaming query's micro-batches) are
charged to the op whose time window they were submitted in: the loop has one
client, so every job in an op's window belongs to that op.

Job, stage and task metrics come from Spark's REST API, which the traced run
turns on (``spark.ui.enabled``); they are fetched once, after the timed loop.

With tracing off every method is a no-op, so the untraced run pays nothing.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import json
import statistics
import sys
import time
import urllib.request
from collections import defaultdict
from dataclasses import dataclass, field
from urllib.parse import urlparse

# Spark's UI store keeps only the most recent jobs and stages; a traced run
# must keep all of them until they are read.
TRACE_CONF = {
    "spark.ui.enabled": "true",
    "spark.ui.port": "0",
    "spark.ui.retainedJobs": "100000",
    "spark.ui.retainedStages": "100000",
    "spark.ui.retainedTasks": "1000000",
    "spark.sql.ui.retainedExecutions": "100000",
}


@dataclass
class Span:
    name: str
    start: float  # epoch seconds
    end: float | None
    parent: int | None
    op: int | None


@dataclass
class Op:
    op_id: int
    start: float  # epoch seconds
    end: float = 0.0
    counters: dict[str, float] = field(default_factory=lambda: defaultdict(float))


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.ops: list[Op] = []
        self._stack: list[int] = []
        self._sc = None

    def bind(self, spark) -> None:
        self._sc = spark.sparkContext

    @contextlib.contextmanager
    def op(self, op_id: int):
        """The root span of one op; counters recorded inside belong to it."""
        if not self.enabled:
            yield
            return
        self.ops.append(Op(op_id, time.time()))
        try:
            with self.span("op"):
                yield
        finally:
            self.ops[-1].end = time.time()

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        op_id = self.ops[-1].op_id if self.ops and not self.ops[-1].end else None
        sid = len(self.spans)
        span = Span(name, time.time(), None, parent, op_id)
        self.spans.append(span)
        self._stack.append(sid)
        self._set_group(sid)
        try:
            yield
        finally:
            span.end = time.time()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def count(self, name: str, value: float) -> None:
        if self.enabled and self.ops:
            self.ops[-1].counters[name] += value

    def _set_group(self, sid: int | None) -> None:
        if self._sc is None:
            return
        if sid is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        else:
            self._sc.setJobGroup(f"span-{sid}", self.spans[sid].name)

    def span_seconds(self, op: Op, name: str) -> float:
        """Total time of the op's spans called ``name``."""
        return sum(
            s.end - s.start for s in self.spans if s.op == op.op_id and s.name == name
        )

    def span_ids(self, op: Op, name: str) -> set[str]:
        return {
            f"span-{i}"
            for i, s in enumerate(self.spans)
            if s.op == op.op_id and s.name == name
        }


@contextlib.contextmanager
def wrapped(tracer: Tracer, targets: list[tuple[object, str, str]]):
    """Record a span around each ``module.attr`` call while the block runs.

    ``targets`` is a list of ``(module, attribute, span name)``. A function
    that other engine modules imported by name is re-bound in each of them,
    so their calls are seen too. A target the engine no longer has is reported
    on stderr and skipped: its span metrics then read 0.
    """
    if not tracer.enabled:
        yield
        return
    patched: list[tuple[object, str, object]] = []
    for module, attr, name in targets:
        original = getattr(module, attr, None)
        if original is None:
            print(f"# trace: {module.__name__}.{attr} not found; "
                  f"span {name} not recorded", file=sys.stderr)
            continue

        def wrapper(*args, __original=original, __name=name, **kwargs):
            with tracer.span(__name):
                return __original(*args, **kwargs)

        for mod in list(sys.modules.values()):
            if (getattr(mod, "__name__", "").startswith("full_data_infrastructure_spark")
                    and getattr(mod, attr, None) is original):
                patched.append((mod, attr, original))
                setattr(mod, attr, wrapper)
    try:
        yield
    finally:
        for mod, attr, original in patched:
            setattr(mod, attr, original)


# --------------------------------------------------------------------------
# Spark REST API
# --------------------------------------------------------------------------


def _epoch(ts: str | None) -> float | None:
    """REST timestamps look like ``2026-01-01T00:00:00.123GMT``."""
    if not ts:
        return None
    return dt.datetime.strptime(ts[:23], "%Y-%m-%dT%H:%M:%S.%f").replace(
        tzinfo=dt.timezone.utc
    ).timestamp()


_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}


def _size_bytes(value: str) -> float:
    """A SQL size metric as bytes: ``"10.3 MiB"``, or the total line of
    ``"total (min, med, max ...)\n10.3 MiB (...)"``."""
    line = value.splitlines()[-1] if value.startswith("total") else value
    number, unit = line.split()[:2]
    return float(number.replace(",", "")) * _UNITS[unit]


class SparkRest:
    def __init__(self, spark):
        sc = spark.sparkContext
        port = urlparse(sc.uiWebUrl).port
        self.base = f"http://localhost:{port}/api/v1/applications/{sc.applicationId}"
        self._sc = sc

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=60) as resp:
            return json.load(resp)

    def settle(self, timeout: float = 30.0) -> None:
        """Wait until the UI store has seen every job finish."""
        deadline = time.time() + timeout
        tracker = self._sc.statusTracker()
        last = None
        while time.time() < deadline:
            jobs = self.get("/jobs")
            running = [j for j in jobs if j["status"] == "RUNNING"]
            if not running and not tracker.getActiveJobsIds() and len(jobs) == last:
                return
            last = len(jobs)
            time.sleep(0.3)


def _union_seconds(intervals: list[tuple[float, float]]) -> float:
    total, cur_start, cur_end = 0.0, None, None
    for a, b in sorted(intervals):
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def spark_op_metrics(
    rest: SparkRest, tracer: Tracer, cores: int
) -> list[dict[str, float]]:
    """Per-op job, stage and task metrics, in the order of ``tracer.ops``."""
    rest.settle()
    jobs = rest.get("/jobs")
    # /sql pages its list; the default page is the first 20 executions.
    executions = rest.get("/sql?details=true&planDescription=false&offset=0&length=1000000")
    # A retried stage lists once per attempt; the last completed one stands.
    stages = {s["stageId"]: s for s in rest.get("/stages?status=complete")}
    out = []
    for op in tracer.ops:
        lo, hi = op.start - 0.002, op.end + 0.002
        mine = [j for j in jobs if lo <= (_epoch(j.get("submissionTime")) or 0) <= hi]
        intervals = []
        for j in mine:
            a = _epoch(j.get("submissionTime"))
            b = _epoch(j.get("completionTime")) or op.end
            intervals.append((max(a, op.start), min(b, op.end)))
        wall = op.end - op.start
        st = [stages[i] for j in mine for i in j["stageIds"] if i in stages]
        scans = [
            metric["value"]
            for e in executions
            if lo <= (_epoch(e.get("submissionTime")) or 0) <= hi
            for node in e["nodes"]
            if node["nodeName"].startswith("Scan")
            for metric in node["metrics"]
            if metric["name"] == "size of files read"
        ]
        m: dict[str, float] = {
            "spark.jobs": len(mine),
            "spark.stages": len(st),
            "spark.tasks": sum(s["numCompleteTasks"] for s in st),
            "spark.driver_gap_s": max(0.0, wall - _union_seconds(intervals)),
            "spark.task_run_s": sum(s["executorRunTime"] for s in st) / 1e3,
            "spark.task_cpu_s": sum(s["executorCpuTime"] for s in st) / 1e9,
            "spark.shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in st),
            "spark.shuffle_read_bytes": sum(s["shuffleReadBytes"] for s in st),
            "spark.spill_bytes": sum(
                s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in st
            ),
            "spark.gc_s": sum(s["jvmGcTime"] for s in st) / 1e3,
            # Stage inputBytes undercounts vectorized parquet reads; the scan
            # node's "size of files read" counts the files it opened.
            "sources.scan_bytes": sum(_size_bytes(v) for v in scans),
            "sources.scan_rows": sum(s["inputRecords"] for s in st),
            "spark.output_bytes": sum(s["outputBytes"] for s in st),
            "spark.task_skew": 1.0,
        }
        m["spark.core_busy_ratio"] = m["spark.task_run_s"] / (wall * cores) if wall else 0.0
        m["spark.gc_share"] = m["spark.gc_s"] / m["spark.task_run_s"] if m["spark.task_run_s"] else 0.0
        longest = max(
            st,
            key=lambda s: (_epoch(s.get("completionTime")) or 0)
            - (_epoch(s.get("firstTaskLaunchedTime")) or 0),
            default=None,
        )
        if longest is not None and longest["numCompleteTasks"] > 1:
            summary = rest.get(
                f"/stages/{longest['stageId']}/{longest['attemptId']}"
                "/taskSummary?quantiles=0.5,1.0"
            )
            median, top = summary["executorRunTime"]
            m["spark.task_skew"] = top / median if median > 0 else 1.0
        out.append(m)
    return out


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0
