"""stream_live: the reference's own job on a live Kafka-shaped stream.

The generator writes trip JSON into a mock-broker ``input-topic`` (two
partitions).  Topology 1 (``daily_agg_stream``, update mode) and
Topology 2 (``windowed_anomaly_stream``, P=60, D=10, append mode) both
consume it at once and sink through ``to_mock_topic_sink`` to
``etl-topic`` and ``anomalies-topic``.

Phase 1 drains a pre-loaded backlog from earliest (the reference's
cleanUp-then-start); phase 2 is an open loop that appends one segment
per tick at a fixed rate while event time runs fast enough for days to
roll over and watermarks to evict state.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import statistics
import threading
import time
from collections import defaultdict
from pathlib import Path

import numpy as np

from perfbench import gen
from perfbench.common import (
    LAYER,
    SETUP_REPEATS,
    BatchEnd,
    Ctx,
    Result,
    attribute_latency,
    p50,
    tail,
)

SPEC = gen.StreamSpec()
PERIOD_MIN = 60
THRESHOLD_PCT = 10.0
#: the topologies' default watermark delays
T1_DELAY_MS = 24 * 3_600_000
T2_DELAY_MS = 2 * 3_600_000
#: how long the run may wait for the queries to finish the backlog or
#: the tail of the live input before it counts the rest as failed
DRAIN_TIMEOUT_S = 60.0


def _epoch_s(iso: str) -> float:
    return dt.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def _progress_listener():
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        """Every progress update of every query (``recentProgress`` keeps
        only the last 100)."""

        def __init__(self) -> None:
            self.by_query: dict[str, list] = defaultdict(list)
            self.cond = threading.Condition()

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            with self.cond:
                self.by_query[str(event.progress.id)].append(event.progress)
                self.cond.notify_all()

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

        def wait(self, pred, timeout: float) -> bool:
            with self.cond:
                return self.cond.wait_for(pred, timeout)

    return Progress()


def _end_offsets(progress) -> dict[int, int]:
    return {int(p): int(o) for p, o in json.loads(progress.sources[0].endOffset).items()}


def _batch_end(progress) -> float:
    return _epoch_s(progress.timestamp) + progress.batchDuration / 1000.0


def _append(topic: str, staging: str, seg: gen.Segment) -> None:
    """``append_segment`` into a staging directory, then an atomic
    rename into the topic, so a poll never sees a half-written file."""
    from kafkastreamsproject_spark.sources.mockbroker import append_segment

    append_segment(staging, seg.partition, seg.seq, seg.records)
    name = f"p{seg.partition}-{seg.seq:06d}.jsonl"
    os.replace(os.path.join(staging, name), os.path.join(topic, name))


def _read_topic(path: str) -> list[tuple[int, dict]]:
    """(epoch, value) for every record the mock sink wrote."""
    out = []
    for f in sorted(Path(path).glob("p*-*.jsonl")):
        epoch = int(f.stem.split("-")[1])
        for line in f.read_text().splitlines():
            if line.strip():
                out.append((epoch, json.loads(json.loads(line)["value"])))
    return out


# --------------------------------------------------------------------------
# reference computation (plain numpy over the generated events)
# --------------------------------------------------------------------------


def expected_daily(ev: np.ndarray, names: list[str]) -> dict:
    """Topology 1 over every event that is not beyond the watermark:
    (station, day) -> (avgTemperature, started, ended, updateTime ms)."""
    ev = ev[~ev["late"]]
    day = ev["ts_ms"] // (24 * 3_600_000)
    out = {}
    order = np.lexsort((day, ev["station"]))
    ev, day = ev[order], day[order]
    keys = np.stack([ev["station"], day], axis=1)
    bounds = np.flatnonzero(np.any(keys[1:] != keys[:-1], axis=1)) + 1
    for grp in np.split(np.arange(len(ev)), bounds):
        g = ev[grp]
        started = int((g["type"] == 1).sum())
        d = dt.date(1970, 1, 1) + dt.timedelta(days=int(day[grp[0]]))
        out[(names[int(g["station"][0])], d.isoformat())] = (
            float(g["temperature"].sum() / len(g)),
            started,
            len(g) - started,
            int(g["ts_ms"].max()),
        )
    return out


def expected_anomalies(
    ev: np.ndarray, names: list[str], docks: list[int], watermark_ms: int
) -> dict:
    """Topology 2's append-mode output once the watermark has reached
    ``watermark_ms``: every closed (window start, station) whose
    |ended - started| / docks reaches the threshold."""
    ev = ev[~ev["late"]]
    width = PERIOD_MIN * 60_000
    start = ev["ts_ms"] // width * width
    counts: dict[tuple[int, int], list[int]] = defaultdict(lambda: [0, 0])
    for s, st, ty in zip(start.tolist(), ev["station"].tolist(), ev["type"].tolist()):
        counts[(s, st)][0 if ty == 1 else 1] += 1
    out = {}
    for (s, st), (started, ended) in counts.items():
        if s + width > watermark_ms:
            continue
        ratio = abs(ended - started) / float(docks[st])
        if ratio >= THRESHOLD_PCT / 100.0:
            out[(gen.iso_ms(s), names[st])] = (
                max(ended - started, 0),
                max(started - ended, 0),
                docks[st],
                ratio,
            )
    return out


def _check_daily(rows: list[tuple[int, dict]], want: dict) -> bool:
    got = {}
    for epoch, v in sorted(rows, key=lambda r: r[0]):
        got[(v["stationName"], v["eventDay"])] = v
    if set(got) != set(want):
        return False
    for k, (avg, started, ended, upd) in want.items():
        v = got[k]
        if (v["startedTrips"], v["endedTrips"]) != (started, ended):
            return False
        if round(_epoch_s(v["updateTime"]) * 1000) != upd:
            return False
        if abs(v["avgTemperature"] - avg) > 1e-9 * max(1.0, abs(avg)):
            return False
    return True


def _check_anomalies(rows: list[tuple[int, dict]], want: dict) -> bool:
    got = {}
    for _, v in rows:
        key = (gen.iso_ms(round(_epoch_s(v["window"]["start"]) * 1000)), v["stationName"])
        if key in got:  # append mode emits each window once
            return False
        got[key] = v
    if set(got) != set(want):
        return False
    for k, (ret, rent, docks, ratio) in want.items():
        v = got[k]
        if (v["returnedOverRented"], v["rentedOverReturned"], v["totalDocks"]) != (
            ret, rent, docks,
        ):
            return False
        if abs(v["nToDocksRatio"] - ratio) > 1e-12:
            return False
    return True


# --------------------------------------------------------------------------
# the workload
# --------------------------------------------------------------------------


def run(ctx: Ctx) -> Result:
    tr = ctx.tracer
    t0 = time.perf_counter()
    with tr.span("setup.spark"):
        spark = ctx.start_spark()
    from kafkastreamsproject_spark.schemas import STATION
    from kafkastreamsproject_spark.sources.mockbroker import mock_trip_stream, to_mock_topic_sink
    from kafkastreamsproject_spark.streaming.pipeline import (
        daily_agg_stream,
        windowed_anomaly_stream,
    )

    station_rows = gen.stations(SPEC, ctx.seed)
    names = [r[1] for r in station_rows]
    docks = [r[2] for r in station_rows]
    fixed_s = time.perf_counter() - t0

    def start(topic: str, tag: str) -> dict:
        """Both topologies on ``topic``, each sinking to its own topic."""
        trips = mock_trip_stream(spark, topic)
        return {
            "t1": to_mock_topic_sink(
                daily_agg_stream(trips, stations),
                f"{ctx.run_dir}/{tag}-etl-topic", f"{ctx.run_dir}/{tag}-ckpt-t1",
                key_col="stationName", output_mode="update",
            ),
            "t2": to_mock_topic_sink(
                windowed_anomaly_stream(
                    trips, stations, period_minutes=PERIOD_MIN, threshold_pct=THRESHOLD_PCT
                ),
                f"{ctx.run_dir}/{tag}-anomalies-topic", f"{ctx.run_dir}/{tag}-ckpt-t2",
                key_col="stationName", output_mode="append",
            ),
        }

    def covered(queries: dict, target: dict[int, int]):
        def pred() -> bool:
            for q in queries.values():
                prog = listener.by_query.get(str(q.id))
                if not prog:
                    return False
                end = _end_offsets(prog[-1])
                if any(end.get(p, 0) < n for p, n in target.items()):
                    return False
            return True
        return pred

    # repeatable set-up: generate the inputs and load the backlog into a
    # fresh topic; the last repetition's topic is the one consumed
    repeats = []
    for k in range(SETUP_REPEATS):
        t = time.perf_counter()
        with tr.span("setup.backlog"):
            backlog, live = gen.stream_segments(SPEC, ctx.seed, ctx.seconds)
            topic = f"{ctx.run_dir}/input-topic-{k}"
            os.makedirs(topic)
            for seg in backlog:
                _append(topic, f"{ctx.run_dir}/staging-{k}", seg)
        repeats.append(time.perf_counter() - t)
    stations = spark.createDataFrame(station_rows, STATION)
    listener = _progress_listener()
    spark.streams.addListener(listener)

    # no warm-up: the catch-up is a consumer restarting on a backlog,
    # so it includes the first-batch code generation of a fresh JVM
    setup_s = fixed_s + statistics.median(repeats)

    with tr.span("stream.start"):
        start_s = time.time()
        queries = start(topic, "run")
    qids = {k: str(q.id) for k, q in queries.items()}
    out = {"t1": f"{ctx.run_dir}/run-etl-topic", "t2": f"{ctx.run_dir}/run-anomalies-topic"}
    appended = {p: 0 for p in range(SPEC.n_partitions)}
    for seg in backlog:
        appended[seg.partition] += len(seg.records)

    failed = 0
    try:
        # phase 1: catch-up
        with tr.span("stream.catchup"):
            caught_up = listener.wait(covered(queries, dict(appended)), DRAIN_TIMEOUT_S)
        if not caught_up:
            raise RuntimeError("queries did not drain the backlog in time")
        catchup_end = max(
            next(_batch_end(p) for p in listener.by_query[q]
                 if all(_end_offsets(p).get(k, 0) >= n for k, n in appended.items()))
            for q in qids.values()
        )
        catchup_s = catchup_end - start_s

        # phase 2: open loop, one segment per tick
        seg_meta: list[tuple[int, int, float]] = []
        lateness: list[float] = []
        appended_at: list[tuple[float, int]] = []
        total = sum(appended.values())
        live_t0 = time.time() + 0.05
        staging = f"{ctx.run_dir}/staging-live"
        with tr.span("stream.live"):
            for seg in live:
                due = live_t0 + seg.due_s
                wait = due - time.time()
                if wait > 0:
                    time.sleep(wait)
                with tr.span("gen.append"):
                    _append(topic, staging, seg)
                tr.count("gen.records_appended", len(seg.records))
                now = time.time()
                lateness.append(now - due)
                appended[seg.partition] += len(seg.records)
                total += len(seg.records)
                appended_at.append((now, total))
                seg_meta.append((seg.partition, appended[seg.partition], due))

        # drain: both queries commit every offset, and the no-data batch
        # that carries the final watermark has run
        all_ev = np.concatenate([s.events for s in backlog + live])
        max_ms = int(all_ev["ts_ms"][~all_ev["late"]].max())
        final_wm = {"t1": max_ms - T1_DELAY_MS, "t2": max_ms - T2_DELAY_MS}

        def drained() -> bool:
            if not covered(queries, dict(appended))():
                return False
            return all(
                any(p.eventTime.get("watermark") == gen.iso_ms(final_wm[k])
                    for p in listener.by_query[qid][-3:])
                for k, qid in qids.items()
            )

        with tr.span("stream.drain"):
            if not listener.wait(drained, DRAIN_TIMEOUT_S):
                failed += 1  # the watermark check below cannot pass either
    finally:
        for q in queries.values():
            q.stop()
        spark.streams.removeListener(listener)

    progress = {k: list(listener.by_query[qid]) for k, qid in qids.items()}
    batches = {
        k: [BatchEnd(_batch_end(p), _end_offsets(p)) for p in progs]
        for k, progs in progress.items()
    }
    lat = attribute_latency(seg_meta, batches)
    lat_ms = [x * 1000.0 for x in lat if x is not None]
    failed += sum(x is None for x in lat)

    with tr.span("check"):
        sunk = {k: _read_topic(path) for k, path in out.items()}
        ok_t1 = _check_daily(sunk["t1"], expected_daily(all_ev, names))
        ok_t2 = _check_anomalies(
            sunk["t2"], expected_anomalies(all_ev, names, docks, final_wm["t2"])
        )
    failed += (not ok_t1) + (not ok_t2)
    attempted = len(live) + 1 + 2  # live segments, the catch-up, two checks

    tail_ms, tail_pct = tail(lat_ms)
    backlog_n = sum(len(s.records) for s in backlog)
    e2e = {
        "latency_p50_ms": p50(lat_ms),
        "latency_tail_ms": tail_ms,
        "throughput_per_s": backlog_n / catchup_s,
        "setup_s": setup_s,
    }

    # source lag: generator-appended records minus committed end offsets,
    # sampled at every live batch end of either query
    lags = []
    times = [t for t, _ in appended_at]
    for progs in progress.values():
        for p in progs:
            end = _batch_end(p)
            i = np.searchsorted(times, end, side="right")
            if i:
                lags.append(appended_at[i - 1][1] - sum(_end_offsets(p).values()))

    def per_query(fn) -> dict[str, list]:
        return {k: [fn(p) for p in progs] for k, progs in progress.items()}

    dur = lambda key: per_query(lambda p: p.durationMs.get(key, 0))  # noqa: E731
    state_last = {k: progs[-1].stateOperators[0] for k, progs in progress.items()}
    dropped = {
        k: sum(p.stateOperators[0].numRowsDroppedByWatermark for p in progs)
        for k, progs in progress.items()
    }
    rows_out = {k: len(rows) for k, rows in sunk.items()}
    # a streaming query's job group is its run id
    tracker = spark.sparkContext.statusTracker()
    jobs = {k: len(tracker.getJobIdsForGroup(str(q.runId))) for k, q in queries.items()}

    layer = dict.fromkeys(LAYER, 0.0)
    layer.update({
        "gen.lateness_ms": max(lateness) * 1000.0,
        "sources.mockbroker.lag_records_p50": p50(lags) if lags else 0.0,
        "sources.mockbroker.lag_records_max": float(max(lags, default=0)),
        "streaming.pipeline.batches": float(sum(len(v) for v in progress.values())),
        "streaming.pipeline.jobs": float(sum(jobs.values())),
        "streaming.state.rows_total": float(sum(s.numRowsTotal for s in state_last.values())),
        "streaming.state.memory_bytes": float(sum(s.memoryUsedBytes for s in state_last.values())),
        "streaming.state.rows_dropped_by_watermark": float(sum(dropped.values())),
        "streaming.sink.rows_out": float(sum(rows_out.values())),
    })

    report = [
        ("stream_catchup_eps", e2e["throughput_per_s"], "1/s"),
        ("stream_latency_p50_ms", e2e["latency_p50_ms"], "ms"),
        ("stream_latency_tail_ms", tail_ms, "ms"),
        ("stream_latency_tail_pct", tail_pct, "%"),
        ("stream_latency_samples", float(len(lat_ms)), "count"),
        ("stream_catchup_s", catchup_s, "s"),
        ("gen.lateness_p50_ms", p50(lateness) * 1000.0, "ms"),
    ]
    for k in ("t1", "t2"):
        report += [
            (f"sources.mockbroker.latest_offset_ms.{k}", p50(dur("latestOffset")[k]), "ms"),
            (f"streaming.pipeline.add_batch_ms.{k}", p50(dur("addBatch")[k]), "ms"),
            (f"streaming.pipeline.query_planning_ms.{k}", p50(dur("queryPlanning")[k]), "ms"),
            (f"streaming.pipeline.wal_commit_ms.{k}", p50(dur("walCommit")[k]), "ms"),
            (f"streaming.pipeline.trigger_ms.{k}", p50(dur("triggerExecution")[k]), "ms"),
            (f"streaming.pipeline.batches.{k}", float(len(progress[k])), "count"),
            (f"streaming.pipeline.jobs.{k}", float(jobs[k]), "count"),
            (f"streaming.state.rows_total.{k}", float(state_last[k].numRowsTotal), "count"),
            (f"streaming.state.memory_bytes.{k}", float(state_last[k].memoryUsedBytes), "bytes"),
            (f"streaming.state.commit_ms.{k}",
             p50([p.stateOperators[0].commitTimeMs for p in progress[k]]), "ms"),
            (f"streaming.state.rows_dropped_by_watermark.{k}", float(dropped[k]), "count"),
            (f"streaming.sink.rows_out.{k}", float(rows_out[k]), "count"),
        ]
    return Result(
        e2e, layer, report, attempted, failed,
        trace_extra={"progress": {k: [json.loads(p.json) for p in v] for k, v in progress.items()}}
        if tr.enabled else {},
    )

