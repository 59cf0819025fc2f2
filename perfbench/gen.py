"""Seeded input generators.

Every input a workload feeds the program comes from here, as a pure
function of the seed (and of the run length, for the open-loop stream).
The program under test never sees the seed, only what these functions
return or write.
"""

from __future__ import annotations

import datetime as dt
import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --------------------------------------------------------------------------
# stream_live: Divvy-shaped trip events for the mock broker
# --------------------------------------------------------------------------

#: event-time origin of the stream (UTC midnight, so day windows align)
STREAM_T0_MS = int(dt.datetime(2024, 3, 1, tzinfo=dt.timezone.utc).timestamp() * 1000)
_HOUR_MS = 3_600_000
_DAY_MS = 24 * _HOUR_MS


@dataclass(frozen=True)
class StreamSpec:
    """Shape of the stream_live input (sizes and event-time dynamics)."""

    n_stations: int = 64
    zipf_s: float = 1.1
    backlog_events: int = 3_000
    backlog_segment_events: int = 250
    backlog_span_ms: int = 36 * _HOUR_MS
    live_rate: int = 1_000  # events per wall second
    tick_s: float = 0.1  # one segment per tick
    event_ms_per_wall_s: int = 2 * _HOUR_MS  # event clock speed while live
    out_of_order_share: float = 0.05  # up to 60 min behind, within both watermarks
    out_of_order_max_ms: int = _HOUR_MS
    late_share: float = 0.01  # 3-4 days behind, beyond both watermarks
    late_min_ms: int = 3 * _DAY_MS
    n_partitions: int = 2


@dataclass(frozen=True)
class Segment:
    partition: int
    seq: int
    due_s: float  # seconds after the live phase starts (0 for the backlog)
    records: list  # mock-broker records {"key", "value"}
    events: np.ndarray  # structured rows, for the reference computation


EVENT_DTYPE = np.dtype(
    [
        ("id", "i8"),
        ("type", "i8"),
        ("ts_ms", "i8"),
        ("station", "i8"),
        ("temperature", "f8"),
        ("late", "?"),
    ]
)


def stations(spec: StreamSpec, seed: int) -> list[tuple]:
    """STATION rows (schemas.STATION order)."""
    rng = np.random.default_rng([seed, 1])
    docks = rng.integers(10, 41, spec.n_stations)
    return [
        (
            i,
            f"Station {i:03d}",
            int(docks[i]),
            int(docks[i]),
            "In Service",
            41.8 + i / 1000.0,
            -87.6 - i / 1000.0,
            "POINT",
        )
        for i in range(spec.n_stations)
    ]


def iso_ms(ts_ms: int) -> str:
    """Epoch milliseconds as the ISO-8601 UTC text Spark reads and writes."""
    d = dt.datetime.fromtimestamp(ts_ms // 1000, tz=dt.timezone.utc)
    return d.strftime("%Y-%m-%dT%H:%M:%S.") + f"{ts_ms % 1000:03d}Z"


def _records(ev: np.ndarray, rng: np.random.Generator) -> list[dict]:
    user = rng.choice(["Subscriber", "Customer"], len(ev))
    out = []
    for row, u in zip(ev, user):
        doc = {
            "id": int(row["id"]),
            "type": int(row["type"]),
            "dateTime": iso_ms(int(row["ts_ms"])),
            "stationId": int(row["station"]),
            "duration": 300.0,
            "userType": str(u),
            "gender": "",
            "week": 9,
            "temperature": float(row["temperature"]),
            "events": "clear",
        }
        out.append({"key": str(int(row["station"])), "value": json.dumps(doc)})
    return out


def _events(
    spec: StreamSpec,
    rng: np.random.Generator,
    first_id: int,
    base_ms: np.ndarray,
    allow_late: bool,
    zipf_p: np.ndarray,
) -> np.ndarray:
    n = len(base_ms)
    ev = np.zeros(n, EVENT_DTYPE)
    ev["id"] = np.arange(first_id, first_id + n)
    ev["type"] = rng.integers(0, 2, n)
    ev["station"] = rng.choice(spec.n_stations, n, p=zipf_p)
    ev["temperature"] = np.round(rng.uniform(-10.0, 35.0, n), 1)
    ts = base_ms.copy()
    u = rng.random(n)
    ooo = u < spec.out_of_order_share
    ts[ooo] -= rng.integers(0, spec.out_of_order_max_ms, int(ooo.sum()))
    if allow_late:
        late = u > 1.0 - spec.late_share
        ts[late] -= spec.late_min_ms + rng.integers(0, _DAY_MS, int(late.sum()))
        ev["late"] = late
    ev["ts_ms"] = ts
    return ev


def stream_segments(
    spec: StreamSpec, seed: int, live_seconds: float
) -> tuple[list[Segment], list[Segment]]:
    """(backlog, live) segments.  Station keys are Zipf-skewed; a share
    of events is out of order within both topologies' watermarks and a
    smaller share of live events arrives days late, beyond them.  The
    backlog holds no late events, so which rows the engine drops never
    depends on how it cuts micro-batches."""
    rng = np.random.default_rng([seed, 2])
    ranks = rng.permutation(spec.n_stations) + 1
    zipf_p = 1.0 / ranks**spec.zipf_s
    zipf_p /= zipf_p.sum()

    backlog: list[Segment] = []
    n_back = spec.backlog_events
    base = STREAM_T0_MS + (
        np.arange(n_back, dtype=np.int64) * spec.backlog_span_ms // n_back
    )
    ev = _events(spec, rng, 0, base, False, zipf_p)
    step = spec.backlog_segment_events
    for seq, lo in enumerate(range(0, n_back, step)):
        chunk = ev[lo : lo + step]
        backlog.append(
            Segment(seq % spec.n_partitions, seq, 0.0, _records(chunk, rng), chunk)
        )

    live: list[Segment] = []
    per_seg = max(1, int(round(spec.live_rate * spec.tick_s)))
    n_ticks = int(np.ceil(live_seconds / spec.tick_s))
    live_t0 = STREAM_T0_MS + spec.backlog_span_ms
    next_id = n_back
    for j in range(n_ticks):
        due = j * spec.tick_s
        wall = due + np.arange(per_seg) * (spec.tick_s / per_seg)
        base = live_t0 + (wall * spec.event_ms_per_wall_s).astype(np.int64)
        chunk = _events(spec, rng, next_id, base, True, zipf_p)
        next_id += per_seg
        seq = len(backlog) + j
        live.append(
            Segment(seq % spec.n_partitions, seq, due, _records(chunk, rng), chunk)
        )
    return backlog, live


# --------------------------------------------------------------------------
# batch_sweep: the ten testdata tables, TPC-H-shaped, at a chosen scale
# --------------------------------------------------------------------------

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]
_LANGS = ["en", "zh", "es", "fr", "de"]
EMBED_DIM = 64


def _days(rng, lo: str, hi: str, n: int) -> np.ndarray:
    d0 = np.datetime64(lo, "D")
    span = int((np.datetime64(hi, "D") - d0).astype(int))
    return (d0 + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def documents(rng: np.random.Generator, n: int, first_id: int = 0) -> dict:
    """``documents`` columns: 30-word vocabulary, 10-100 tokens; ~5% are
    an earlier doc plus `` dup`` (near duplicates) and ~0.2% exact
    copies, so the dedup and similarity queries have work to find."""
    texts: list[str] = []
    for i in range(n):
        u = rng.random()
        if i > 10 and u < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and u < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(rng.choice(VOCAB, k)))
    return {
        "doc_id": np.arange(first_id, first_id + n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, n, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": [f"src{i % 20}" for i in range(first_id, first_id + n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def embeddings(rng: np.random.Generator, n: int, first_id: int = 0) -> dict:
    """``embeddings`` columns: unit-norm float32 vectors, 64-d, with a
    weak per-label centre."""
    label = rng.integers(0, 10, n)
    centres = np.random.default_rng(7).normal(0.0, 0.02, (10, EMBED_DIM))
    x = rng.normal(0.0, 1.0 / np.sqrt(EMBED_DIM), (n, EMBED_DIM)) + centres[label]
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return {
        "vec_id": np.arange(first_id, first_id + n, dtype=np.int64),
        "embedding": x.astype(np.float32),
        "label": label.astype(np.int32),
    }


def _table(cols: dict, types: dict | None = None) -> pa.Table:
    types = types or {}
    arrays = {}
    for k, v in cols.items():
        if k == "embedding":
            arrays[k] = pa.array(list(v), type=pa.list_(pa.float32()))
        else:
            arrays[k] = pa.array(v, type=types.get(k))
    return pa.table(arrays)


def write_testdata(out_dir: str, seed: int, scale: float) -> dict[str, int]:
    """Write the ten testdata tables (schemas.TESTDATA_TABLES) as parquet
    under ``out_dir``; ``scale`` 0.1 matches the sf0.1 fixture's row
    counts.  Returns rows per table."""
    rng = np.random.default_rng([seed, 3])
    i32 = pa.int32()
    n_cust = int(150_000 * scale)
    n_ord = int(1_500_000 * scale)
    n_li = int(6_000_000 * scale)
    n_part = int(200_000 * scale)
    n_supp = int(10_000 * scale)
    n_ev = int(1_000_000 * scale)
    n_users = int(15_000 * scale)
    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)  # noqa: E731
    tables = {
        "region": _table(
            {"r_regionkey": np.arange(5), "r_name": _REGIONS}, {"r_regionkey": i32}
        ),
        "nation": _table(
            {
                "n_nationkey": np.arange(25),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": np.arange(25) % 5,
            },
            {"n_nationkey": i32, "n_regionkey": i32},
        ),
        "customer": _table(
            {
                "c_custkey": np.arange(n_cust, dtype=np.int64),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": rng.integers(0, 25, n_cust),
                "c_acctbal": money(-999.99, 9999.99, n_cust),
                "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
            },
            {"c_nationkey": i32},
        ),
        "supplier": _table(
            {
                "s_suppkey": np.arange(n_supp, dtype=np.int64),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": rng.integers(0, 25, n_supp),
                "s_acctbal": money(-999.99, 9999.99, n_supp),
            },
            {"s_nationkey": i32},
        ),
        "part": _table(
            {
                "p_partkey": np.arange(n_part, dtype=np.int64),
                "p_name": [
                    f"{_ADJ[a]} {_NOUN[b]}"
                    for a, b in rng.integers(0, 8, (n_part, 2))
                ],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                "p_type": rng.choice(
                    ["LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD"], n_part
                ),
                "p_size": rng.integers(1, 51, n_part),
                "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0,
            },
            {"p_size": i32},
        ),
        "orders": _table(
            {
                "o_orderkey": np.arange(n_ord, dtype=np.int64),
                "o_custkey": rng.integers(0, n_cust, n_ord),
                "o_orderstatus": rng.choice(["O", "F", "P"], n_ord),
                "o_totalprice": money(1000.0, 500_000.0, n_ord),
                "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
                "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
            }
        ),
        "lineitem": _table(
            {
                "l_orderkey": rng.integers(0, n_ord, n_li),
                "l_partkey": rng.integers(0, n_part, n_li),
                "l_suppkey": rng.integers(0, n_supp, n_li),
                "l_linenumber": rng.integers(1, 8, n_li),
                "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
                "l_extendedprice": money(900.0, 105_000.0, n_li),
                "l_discount": rng.choice(
                    np.arange(11) / 100.0, n_li, p=np.r_[0.5, [1.0] * 9, 0.5] / 10.0
                ),
                "l_tax": rng.choice(
                    np.arange(9) / 100.0, n_li, p=np.r_[0.5, [1.0] * 7, 0.5] / 8.0
                ),
                "l_returnflag": rng.choice(["A", "N", "R"], n_li),
                "l_linestatus": rng.choice(["F", "O"], n_li),
                "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_li),
            },
            {"l_linenumber": i32},
        ),
        "events": _table(
            {
                "event_id": np.arange(n_ev, dtype=np.int64),
                "ts": np.sort(
                    np.datetime64("2024-01-01", "us")
                    + rng.integers(0, 30 * 86_400_000_000, n_ev).astype("timedelta64[us]")
                ),
                "user_id": rng.integers(0, n_users, n_ev),
                "event_type": rng.choice(_EVENT_TYPES, n_ev),
                "value": np.round(np.minimum(rng.exponential(60.0, n_ev), 560.0), 2),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
            }
        ),
        "documents": _table(documents(rng, int(50_000 * scale))),
        "embeddings": _table(embeddings(rng, int(20_000 * scale))),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


# --------------------------------------------------------------------------
# serving_mixed: corpus, fresh write batches and read probes
# --------------------------------------------------------------------------


def query_terms(rng: np.random.Generator) -> tuple[str, ...]:
    """Three distinct vocabulary terms for one BM25 read."""
    return tuple(str(t) for t in rng.choice(VOCAB, 3, replace=False))
