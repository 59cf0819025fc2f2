"""Shared pieces of the benchmark: percentiles, latency attribution,
the span tracer, Spark job accounting and memory readings."""

from __future__ import annotations

import bisect
import itertools
import json
import statistics
import threading
import time
import uuid
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

#: end-to-end metric names and units every workload reports (BENCHMARK.json)
E2E = {
    "latency_p50_ms": "ms",
    "latency_tail_ms": "ms",
    "throughput_per_s": "1/s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
}

#: per-layer metric names and units every workload reports in a traced
#: run; a layer the workload never calls reads 0
LAYER = {
    "gen.lateness_ms": "ms",
    "sources.mockbroker.lag_records_p50": "count",
    "sources.mockbroker.lag_records_max": "count",
    "streaming.pipeline.batches": "count",
    "streaming.pipeline.jobs": "count",
    "streaming.state.rows_total": "count",
    "streaming.state.memory_bytes": "bytes",
    "streaming.state.rows_dropped_by_watermark": "count",
    "streaming.sink.rows_out": "count",
    "plans.jobs": "count",
    "plans.stages": "count",
    "plans.tasks": "count",
    "streaming.bm25index.store_files": "count",
    "streaming.annindex.store_files": "count",
    "serve.jobs_per_read": "jobs/op",
    "serve.jobs_per_write": "jobs/op",
}

#: how many times each workload repeats its repeatable set-up step;
#: setup_s reports the median
SETUP_REPEATS = 3


@dataclass
class Ctx:
    """What a workload gets from the command line and the harness."""

    run_dir: str  # per-run scratch, removed when the run ends
    seed: int
    seconds: float
    tracer: "Tracer"
    spark: object = None

    def start_spark(self):
        from kafkastreamsproject_spark.session import get_spark

        self.spark = get_spark(
            app_name="perfbench",
            extra_conf={
                "spark.sql.warehouse.dir": f"{self.run_dir}/warehouse",
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.run_dir}/tmp",
                # job/stage accounting reads the status store; keep every
                # job of a run in it
                "spark.ui.retainedJobs": "1000000",
                "spark.ui.retainedStages": "1000000",
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark


@dataclass
class Result:
    """A finished run: the five end-to-end metrics, the per-layer
    metrics, every workload-specific metric as (name, value, unit) for
    the printed report, and the operation tally."""

    e2e: dict[str, float]
    layer: dict[str, float]
    report: list[tuple[str, float, str]]
    attempted: int
    failed: int
    trace_extra: dict = field(default_factory=dict)


# --------------------------------------------------------------------------
# percentiles
# --------------------------------------------------------------------------


def p50(values: list[float]) -> float:
    return float(statistics.median(values))


def tail(values: list[float], beyond: int = 10) -> tuple[float, float]:
    """(value, percentile) at the highest percentile that still has at
    least ``beyond`` samples above it: the nearest-rank value of rank
    n - beyond, i.e. the (beyond+1)-th largest sample.  When that rank
    would not lie above the median (2 * beyond samples or fewer), the
    sample is too small for a tail and the maximum is reported, at
    percentile 100."""
    xs = sorted(values)
    n = len(xs)
    if n <= 2 * beyond:
        return float(xs[-1]), 100.0
    return float(xs[n - beyond - 1]), 100.0 * (n - beyond) / n


# --------------------------------------------------------------------------
# segment -> micro-batch latency attribution
# --------------------------------------------------------------------------


@dataclass(frozen=True)
class BatchEnd:
    """One finished micro-batch of one query: wall-clock end (epoch
    seconds) and the source end offset per partition it committed."""

    end_s: float
    end_offsets: dict[int, int]


def attribute_latency(
    segments: list[tuple[int, int, float]],
    batches_by_query: dict[str, list[BatchEnd]],
) -> list[float | None]:
    """For each segment ``(partition, end_offset, due_s)`` the latency
    from ``due_s`` to the end of the first batch, in EACH query, whose
    end offset on that partition covers the segment — the later of the
    queries.  ``None`` where some query never covered it."""
    index = {}
    for q, batches in batches_by_query.items():
        ordered = sorted(batches, key=lambda b: b.end_s)
        per_part: dict[int, tuple[list[int], list[float]]] = {}
        for p in {p for b in ordered for p in b.end_offsets}:
            offs, ends, hi = [], [], -1
            for b in ordered:
                o = b.end_offsets.get(p, -1)
                if o > hi:  # only batches that advanced this partition
                    hi = o
                    offs.append(o)
                    ends.append(b.end_s)
            per_part[p] = (offs, ends)
        index[q] = per_part
    out: list[float | None] = []
    for part, end_off, due in segments:
        worst: float | None = 0.0
        for per_part in index.values():
            offs, ends = per_part.get(part, ([], []))
            i = bisect.bisect_left(offs, end_off)
            if i == len(offs):
                worst = None
                break
            worst = max(worst, ends[i] - due)
        out.append(worst)
    return out


# --------------------------------------------------------------------------
# tracing
# --------------------------------------------------------------------------


class Tracer:
    """Spans around each call the benchmark makes into a layer.

    A span has a name, start, end, parent span and an operation id
    shared by every span of one operation.  Spans and counts stay in
    memory until :meth:`write`.  A disabled tracer records nothing and
    costs one attribute test per span."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        sid = next(self._ids)
        op = op or (parent["op"] if parent else f"op{sid}")
        rec = {"id": sid, "name": name, "parent": parent["id"] if parent else None,
               "op": op, "thread": threading.get_ident(),
               "start": time.perf_counter(), "end": None}
        stack.append(rec)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def count(self, name: str, n: float = 1) -> None:
        if self.enabled:
            with self._lock:
                self.counts[name] += n

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, minus the time its child spans cover."""
        children = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append((s["start"], s["end"]))
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            covered, cur_lo, cur_hi = 0.0, None, None
            for lo, hi in sorted(children.get(s["id"], [])):
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            out[s["name"]] += (s["end"] - s["start"]) - covered
        return dict(out)

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump(
                {"spans": self.spans, "counts": dict(self.counts),
                 "self_s": self.self_times(), **extra},
                f,
            )


# --------------------------------------------------------------------------
# Spark job accounting
# --------------------------------------------------------------------------


@dataclass
class JobGroups:
    """Fresh, unique ``setJobGroup`` ids per call, resolved to job,
    stage and task counts at the end of the run (the status store is
    fed asynchronously, so counting right after an action can miss
    its last events)."""

    sc: object
    groups: dict[str, list[str]] = field(default_factory=lambda: defaultdict(list))

    def start(self, kind: str) -> str:
        gid = f"{kind}-{uuid.uuid4().hex}"
        self.sc.setJobGroup(gid, kind)
        self.groups[kind].append(gid)
        return gid

    def totals(self, kind: str) -> dict[str, int]:
        st = self.sc.statusTracker()
        jobs = stages = tasks = 0
        for gid in self.groups.get(kind, []):
            for j in st.getJobIdsForGroup(gid):
                jobs += 1
                info = st.getJobInfo(j)
                for s in info.stageIds if info else ():
                    si = st.getStageInfo(s)
                    if si is not None and si.numCompletedTasks > 0:
                        stages += 1
                        tasks += si.numCompletedTasks
        return {"jobs": jobs, "stages": stages, "tasks": tasks}

    def n(self, kind: str) -> int:
        return len(self.groups.get(kind, []))


# --------------------------------------------------------------------------
# memory
# --------------------------------------------------------------------------


def _hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(spark) -> float:
    """Peak resident set of the driver process plus the Spark JVM."""
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    return (_hwm_kb("self") + _hwm_kb(jvm_pid)) / 1024.0
