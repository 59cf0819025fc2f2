"""Tests of the benchmark itself.

    PYTHONDONTWRITEBYTECODE=1 python3 -m pytest perfbench/tests -q -p no:cacheprovider

The smoke tests start a Spark JVM per workload (about a minute each);
deselect them with ``-m 'not smoke'``.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import numpy as np
import pyarrow.parquet as pq
import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench import gen  # noqa: E402
from perfbench.common import BatchEnd, Tracer, attribute_latency, tail  # noqa: E402


# --------------------------------------------------------------------------
# generator determinism
# --------------------------------------------------------------------------


def _stream_fingerprint(seed: int):
    spec = gen.StreamSpec(backlog_events=600, backlog_segment_events=100)
    backlog, live = gen.stream_segments(spec, seed, 1.0)
    return [(s.partition, s.seq, s.due_s, s.records) for s in backlog + live]


def test_stream_generator_is_seeded():
    assert _stream_fingerprint(7) == _stream_fingerprint(7)
    assert _stream_fingerprint(7) != _stream_fingerprint(8)
    spec = gen.StreamSpec()
    assert gen.stations(spec, 7) == gen.stations(spec, 7)


def test_stream_generator_late_events_are_beyond_both_watermarks():
    spec = gen.StreamSpec(backlog_events=600, backlog_segment_events=100)
    backlog, live = gen.stream_segments(spec, 3, 5.0)
    assert not any(s.events["late"].any() for s in backlog)
    ev = np.concatenate([s.events for s in live])
    assert ev["late"].any()
    on_time_floor = gen.STREAM_T0_MS + spec.backlog_span_ms - spec.out_of_order_max_ms
    assert (ev["ts_ms"][ev["late"]] < on_time_floor - 2 * 24 * 3_600_000).all()
    assert (ev["ts_ms"][~ev["late"]] >= on_time_floor).all()


def test_testdata_generator_is_seeded(tmp_path):
    a, b, c = (tmp_path / "a", tmp_path / "b", tmp_path / "c")
    gen.write_testdata(str(a), 5, 0.001)
    gen.write_testdata(str(b), 5, 0.001)
    gen.write_testdata(str(c), 6, 0.001)
    for name in ("lineitem", "events", "documents", "embeddings"):
        ta, tb, tc = (pq.read_table(d / f"{name}.parquet") for d in (a, b, c))
        assert ta.equals(tb)
        assert not ta.equals(tc)


def test_corpus_generators_are_seeded():
    def make(seed):
        rng = np.random.default_rng(seed)
        return gen.documents(rng, 50)["text"], gen.embeddings(rng, 20)["embedding"]

    (d1, e1), (d2, e2) = make(1), make(1)
    assert d1 == d2 and np.array_equal(e1, e2)
    assert make(2)[0] != d1


# --------------------------------------------------------------------------
# latency attribution and the tail percentile
# --------------------------------------------------------------------------


def test_attribution_takes_first_covering_batch_and_later_query():
    # segments: (partition, end offset, due)
    segments = [(0, 100, 10.0), (1, 50, 10.5), (0, 200, 11.0), (1, 120, 11.5)]
    batches = {
        "t1": [
            BatchEnd(12.0, {0: 100, 1: 0}),
            BatchEnd(13.0, {0: 200, 1: 120}),
        ],
        "t2": [
            BatchEnd(11.0, {0: 100, 1: 50}),
            BatchEnd(14.0, {0: 150, 1: 120}),  # partition 0 not yet covered
            BatchEnd(15.0, {0: 200, 1: 120}),
        ],
    }
    lat = attribute_latency(segments, batches)
    assert lat == pytest.approx([2.0, 2.5, 4.0, 2.5])


def test_attribution_ignores_batches_that_did_not_advance():
    segments = [(0, 10, 0.0)]
    batches = {"q": [BatchEnd(5.0, {0: 10}), BatchEnd(6.0, {0: 10}), BatchEnd(7.0, {0: 10})]}
    assert attribute_latency(segments, batches) == [5.0]


def test_attribution_reports_uncovered_segments():
    segments = [(0, 10, 0.0), (0, 20, 1.0)]
    batches = {"a": [BatchEnd(2.0, {0: 20})], "b": [BatchEnd(3.0, {0: 10})]}
    assert attribute_latency(segments, batches) == [3.0, None]


def test_tail_is_highest_percentile_with_ten_beyond():
    xs = list(range(1, 101))  # 1..100
    value, pct = tail(xs)
    assert value == 90 and pct == 90.0  # ten samples (91..100) beyond it
    value, pct = tail(list(range(1, 31)))
    assert value == 20 and pct == pytest.approx(100 * 20 / 30)
    assert sum(x > value for x in range(1, 31)) == 10


def test_tail_with_too_few_samples_is_the_maximum():
    assert tail([3.0, 1.0, 2.0]) == (3.0, 100.0)
    assert tail(list(range(10))) == (9.0, 100.0)
    # 14 samples: ten beyond would sit below the median
    assert tail(list(range(14))) == (13.0, 100.0)
    assert tail(list(range(21))) == (10.0, pytest.approx(100 * 11 / 21))


def test_tracer_self_time_subtracts_children():
    tr = Tracer(True)
    tr.spans = [
        {"id": 1, "name": "op", "parent": None, "op": "o", "start": 0.0, "end": 10.0},
        {"id": 2, "name": "layer", "parent": 1, "op": "o", "start": 1.0, "end": 4.0},
        {"id": 3, "name": "layer", "parent": 1, "op": "o", "start": 3.0, "end": 6.0},
    ]
    assert tr.self_times() == pytest.approx({"op": 5.0, "layer": 6.0})


def test_disabled_tracer_records_nothing():
    tr = Tracer(False)
    with tr.span("x"):
        tr.count("n")
    assert tr.spans == [] and not tr.counts


# --------------------------------------------------------------------------
# smoke: every workload prints every metric BENCHMARK.json lists
# --------------------------------------------------------------------------


@pytest.mark.smoke
@pytest.mark.parametrize("workload", ["stream_live", "batch_sweep", "serving_mixed"])
def test_workload_smoke_reports_every_metric(workload):
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert workload in {w["name"] for w in spec["workloads"]}
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "1", "--seconds", "2", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == layer
    printed = {line.split(" = ")[0]: line.split()[-1] for line in lines if " = " in line}
    for m in spec["end_to_end"]:
        assert printed[m["name"]] == m["unit"]
        assert float(next(l for l in lines if l.startswith(m["name"] + " = ")).split()[2]) > 0
