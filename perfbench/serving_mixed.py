"""serving_mixed: index serving with writes beside reads.

A closed loop of two client threads on one SparkSession.  Each client
issues BM25 ``query_index`` reads (three seeded terms) and IVF-PQ
``ann_query_index`` reads (k=5, nprobe=2), and one operation in five is
a write: an ``index_ingest_batch`` or ``ann_ingest_batch`` fold of
fresh seeded documents or vectors.  Each store keeps its single-writer
contract: a fold excludes reads of the same store, so a read that
arrives during a fold waits for it.
"""

from __future__ import annotations

import math
import statistics
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

import numpy as np

from perfbench import gen
from perfbench.common import LAYER, SETUP_REPEATS, Ctx, JobGroups, Result, p50, tail

N_DOCS = 500
N_VECS = 300
CLIENTS = 2
#: operations per client cycle; the third of each cycle is a fold, so
#: even a short run writes into both stores
WRITE_EVERY = 5
FOLD_DOCS = 50
FOLD_VECS = 20
K, NPROBE = 5, 2
#: the batch-family geometry, so the store equals the batch IVF-PQ search
GEOMETRY = {"c_cells": 8, "k_codes": 16, "m_subspaces": 4, "n_buckets": 8}
PROBE_TERMS = 1  # BM25 term triples re-issued by the final check
PROBE_QUERIES = 5  # ANN queries (vec_id < 5) re-issued by the final check


class RWLock:
    """Many readers or one writer."""

    def __init__(self) -> None:
        self._cond = threading.Condition()
        self._readers = 0
        self._writer = False

    def acquire_read(self) -> None:
        with self._cond:
            self._cond.wait_for(lambda: not self._writer)
            self._readers += 1

    def release_read(self) -> None:
        with self._cond:
            self._readers -= 1
            self._cond.notify_all()

    def acquire_write(self) -> None:
        with self._cond:
            self._cond.wait_for(lambda: not self._writer and self._readers == 0)
            self._writer = True

    def release_write(self) -> None:
        with self._cond:
            self._writer = False
            self._cond.notify_all()


# --------------------------------------------------------------------------
# reference scorers (plain Python / numpy over the same docs and vectors)
# --------------------------------------------------------------------------


def bm25_reference(texts: dict[int, str], terms: tuple[str, ...]) -> dict[int, float]:
    """The batch BM25 scorer (k1=1.2, b=0.75, BM25+1 idf, 6-dp round),
    same term order and operation order as the engine's expression."""
    toks = {d: t.strip().split() for d, t in texts.items()}
    n = float(len(toks))
    avgdl = sum(len(t) for t in toks.values()) / n
    df = [float(sum(1 for t in toks.values() if w in t)) for w in terms]
    out = {}
    for d, t in toks.items():
        tf = [float(t.count(w)) for w in terms]
        if not any(tf):
            continue
        dl = float(len(t))
        score = None
        for i in range(len(terms)):
            idf = math.log((n - df[i] + 0.5) / (df[i] + 0.5) + 1.0)
            s = idf * (tf[i] * 2.2) / (tf[i] + 1.2 * (0.25 + 0.75 * dl / avgdl))
            score = s if score is None else score + s
        out[d] = round(score, 6)
    return out


def quantize(x: np.ndarray) -> np.ndarray:
    """round(x * 127) half away from zero, as int64."""
    y = x.astype(np.float64) * 127.0
    return (np.sign(y) * np.floor(np.abs(y) + 0.5)).astype(np.int64)


def ivfpq_reference(
    ids: np.ndarray, vecs: np.ndarray, query_ids: list[int], geo: dict, k: int, nprobe: int
) -> set[tuple]:
    """Batch IVF-PQ search: coarse cells and PQ codebook from the first
    C / K vectors by id, integer L2 with lowest-id tie-breaks, ADC over
    the probed cells, top-k by (distance, vec_id), the query excluded.
    Rows are (query_id, vec_id, cell, adc_dist2, rank)."""
    order = np.argsort(ids)
    ids, q = ids[order], quantize(vecs[order])
    c, kc, m = geo["c_cells"], geo["k_codes"], geo["m_subspaces"]
    dim = q.shape[1]
    sub = math.ceil(dim / m)
    slices = [slice(s * sub, min((s + 1) * sub, dim)) for s in range(m)]

    def d2(a, b):
        return ((a[:, None, :] - b[None, :, :]) ** 2).sum(axis=2)

    coarse = q[:c]
    cells = np.argmin(d2(q, coarse), axis=1)
    books = [q[:kc, sl] for sl in slices]
    codes = np.stack([np.argmin(d2(q[:, sl], books[s]), axis=1) for s, sl in enumerate(slices)], 1)
    rows = set()
    pos = {int(v): i for i, v in enumerate(ids)}
    for qid in query_ids:
        qv = q[pos[qid]]
        cd = ((coarse - qv) ** 2).sum(axis=1)
        probes = np.lexsort((np.arange(c), cd))[:nprobe]
        cand = np.flatnonzero(np.isin(cells, probes) & (ids != qid))
        adc = np.zeros(len(cand), dtype=np.int64)
        for s, sl in enumerate(slices):
            adc += ((books[s][codes[cand, s]] - qv[sl]) ** 2).sum(axis=1)
        top = np.lexsort((ids[cand], adc))[:k]
        for rank, j in enumerate(top, 1):
            v = cand[j]
            rows.add((qid, int(ids[v]), int(cells[v]), int(adc[j]), rank))
    return rows


# --------------------------------------------------------------------------
# the workload
# --------------------------------------------------------------------------


def _store_files(path: str) -> int:
    return sum(1 for _ in Path(path).rglob("*.parquet"))


def run(ctx: Ctx) -> Result:
    tr = ctx.tracer
    t0 = time.perf_counter()
    with tr.span("setup.spark"):
        spark = ctx.start_spark()
    from kafkastreamsproject_spark.streaming.annindex import (
        ann_ingest_batch,
        ann_query_index,
        create_ann_store,
    )
    from kafkastreamsproject_spark.streaming.bm25index import index_ingest_batch, query_index

    fixed_s = time.perf_counter() - t0

    def docs_df(d: dict):
        return spark.createDataFrame(
            list(zip(d["doc_id"].tolist(), d["text"])), "doc_id long, text string"
        )

    def vecs_df(ids, vecs):
        return spark.createDataFrame(
            [(int(i), v.tolist()) for i, v in zip(ids, vecs)],
            "vec_id long, embedding array<float>",
        )

    # repeatable set-up: generate the corpus
    repeats = []
    for _ in range(SETUP_REPEATS):
        t = time.perf_counter()
        with tr.span("setup.corpus"):
            rng = np.random.default_rng([ctx.seed, 4])
            docs = gen.documents(rng, N_DOCS)
            emb = gen.embeddings(rng, N_VECS)
        repeats.append(time.perf_counter() - t)

    def build_ann(path: str) -> None:
        vdf = vecs_df(emb["vec_id"], emb["embedding"])
        create_ann_store(spark, path, vdf, **GEOMETRY)
        ann_ingest_batch(vdf, path)

    t = time.perf_counter()
    with tr.span("setup.stores"):
        bm25 = f"{ctx.run_dir}/bm25"
        ann = f"{ctx.run_dir}/ann"
        # the two stores are independent: build them side by side
        with ThreadPoolExecutor(1) as pool:
            built = pool.submit(build_ann, ann)
            index_ingest_batch(docs_df(docs), bm25)
            built.result()
    with tr.span("setup.warmup"):
        query_index(spark, bm25, ("spark", "hash", "stream")).collect()
        ann_query_index(spark, ann, vecs_df(emb["vec_id"][:1], emb["embedding"][:1]),
                        k=K, nprobe=NPROBE).collect()
    setup_s = fixed_s + statistics.median(repeats) + time.perf_counter() - t

    texts = dict(zip(docs["doc_id"].tolist(), docs["text"]))
    all_ids = [emb["vec_id"]]
    all_vecs = [emb["embedding"]]
    locks = {"bm25": RWLock(), "ann": RWLock()}
    ids_lock = threading.Lock()
    next_id = {"bm25": N_DOCS, "ann": N_VECS}
    groups = JobGroups(spark.sparkContext)
    lat = {"read": [], "write": []}  # (kind, seconds)
    lateness: list[float] = []
    errors: list[BaseException] = []
    deadline = time.perf_counter() + ctx.seconds

    def read(kind: str, crng: np.random.Generator) -> None:
        if kind == "bm25":
            query_index(spark, bm25, gen.query_terms(crng)).collect()
        else:
            j = int(crng.integers(0, N_VECS))
            qdf = vecs_df(emb["vec_id"][j : j + 1], emb["embedding"][j : j + 1])
            ann_query_index(spark, ann, qdf, k=K, nprobe=NPROBE).collect()

    def write(kind: str, crng: np.random.Generator) -> None:
        with ids_lock:
            first = next_id[kind]
            next_id[kind] += FOLD_DOCS if kind == "bm25" else FOLD_VECS
        if kind == "bm25":
            d = gen.documents(crng, FOLD_DOCS, first)
            index_ingest_batch(docs_df(d), bm25)
            with ids_lock:
                texts.update(zip(d["doc_id"].tolist(), d["text"]))
        else:
            e = gen.embeddings(crng, FOLD_VECS, first)
            ann_ingest_batch(vecs_df(e["vec_id"], e["embedding"]), ann)
            with ids_lock:
                all_ids.append(e["vec_id"])
                all_vecs.append(e["embedding"])

    def client(cid: int) -> None:
        crng = np.random.default_rng([ctx.seed, 5, cid])
        i = 0
        prev_end = time.perf_counter()
        try:
            while time.perf_counter() < deadline:
                is_write = i % WRITE_EVERY == 2
                kind = ("bm25", "ann")[((i // WRITE_EVERY if is_write else i) + cid) % 2]
                op = "write" if is_write else "read"
                start = time.perf_counter()
                lateness.append(start - prev_end)
                if tr.enabled:
                    groups.start(op)
                with tr.span(f"serve.{op}.{kind}", op=f"c{cid}-{i}"):
                    lock = locks[kind]
                    (lock.acquire_write if is_write else lock.acquire_read)()
                    try:
                        with tr.span(
                            f"streaming.{'bm25index' if kind == 'bm25' else 'annindex'}."
                            f"{'ingest' if is_write else 'query'}"
                        ):
                            (write if is_write else read)(kind, crng)
                    finally:
                        (lock.release_write if is_write else lock.release_read)()
                prev_end = time.perf_counter()
                lat[op].append((kind, prev_end - start))
                tr.count(f"serve.{op}s.{kind}")
                i += 1
        except Exception as e:  # noqa: BLE001 - re-raised in the main thread below
            errors.append(e)

    start = time.perf_counter()
    threads = [threading.Thread(target=client, args=(c,)) for c in range(CLIENTS)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    wall = time.perf_counter() - start
    if errors:
        raise errors[0]

    # correctness: a fixed probe set re-issued after the last fold
    failed = 0
    prng = np.random.default_rng([ctx.seed, 6])
    with tr.span("check"):
        for _ in range(PROBE_TERMS):
            terms = gen.query_terms(prng)
            got = {r.doc_id: r.bm25 for r in query_index(spark, bm25, terms).collect()}
            want = bm25_reference(texts, terms)
            if got.keys() != want.keys() or any(
                abs(got[d] - want[d]) > 1.5e-6 for d in want
            ):
                failed += 1
        qids = list(range(PROBE_QUERIES))
        got_rows = {
            (r.query_id, r.vec_id, r.cell, r.adc_dist2, r.rnk)
            for r in ann_query_index(
                spark, ann, vecs_df(emb["vec_id"][:PROBE_QUERIES],
                                    emb["embedding"][:PROBE_QUERIES]),
                k=K, nprobe=NPROBE,
            ).collect()
        }
        want_rows = ivfpq_reference(
            np.concatenate(all_ids), np.concatenate(all_vecs), qids, GEOMETRY, K, NPROBE
        )
        failed += got_rows != want_rows

    reads_ms = [s * 1000.0 for _, s in lat["read"]]
    writes_ms = [s * 1000.0 for _, s in lat["write"]]
    n_ops = len(reads_ms) + len(writes_ms)
    attempted = n_ops + PROBE_TERMS + 1
    tail_ms, tail_pct = tail(reads_ms)

    def by_kind(op: str, kind: str) -> list[float]:
        return [s * 1000.0 for k, s in lat[op] if k == kind]

    # a BM25 read costs about half an ANN read, so the pooled median
    # would jump between the two modes with the read mix; average the
    # per-kind medians instead
    kind_p50 = [p50(by_kind("read", k)) for k in ("bm25", "ann")]
    e2e = {
        "latency_p50_ms": sum(kind_p50) / len(kind_p50),
        "latency_tail_ms": tail_ms,
        "throughput_per_s": n_ops / wall,
        "setup_s": setup_s,
    }
    layer = dict.fromkeys(LAYER, 0.0)
    layer.update({
        "gen.lateness_ms": max(lateness) * 1000.0,
        "streaming.bm25index.store_files": float(_store_files(bm25)),
        "streaming.annindex.store_files": float(_store_files(ann)),
    })
    if tr.enabled:
        for op in ("read", "write"):
            jobs = groups.totals(op)["jobs"]
            layer[f"serve.jobs_per_{op}"] = jobs / max(1, groups.n(op))

    report = [
        ("serve_read_p50_ms", e2e["latency_p50_ms"], "ms"),
        ("serve_read_tail_ms", tail_ms, "ms"),
        ("serve_read_tail_pct", tail_pct, "%"),
        ("serve_write_p50_ms", p50(writes_ms) if writes_ms else 0.0, "ms"),
        ("serve_ops_per_s", e2e["throughput_per_s"], "1/s"),
        ("serve_reads", float(len(reads_ms)), "count"),
        ("serve_writes", float(len(writes_ms)), "count"),
    ]
    for kind, layer_name in (("bm25", "bm25index"), ("ann", "annindex")):
        q, w = by_kind("read", kind), by_kind("write", kind)
        report += [
            (f"streaming.{layer_name}.query_ms", p50(q) if q else 0.0, "ms"),
            (f"streaming.{layer_name}.ingest_ms", p50(w) if w else 0.0, "ms"),
            (f"streaming.{layer_name}.store_files",
             layer[f"streaming.{layer_name}.store_files"], "count"),
        ]
    return Result(e2e, layer, report, attempted, failed)
