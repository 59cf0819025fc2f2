"""Incremental IVF-PQ index (streaming/annindex.py): replay
idempotency, duplicate-vector drops, cross-epoch growth, compaction
safety, and the store plan shapes.  Exact agreement with the batch
ivf_pq_search runs in tests/test_shadow_queries.py
(streaming_ann_index reuses its DuckDB oracle verbatim)."""

from __future__ import annotations

import pytest

import contextlib
import io
import re

from pyspark.sql import functions as F

from kafkastreamsproject_spark.streaming.annindex import (
    ann_ingest_batch,
    ann_query_index,
    compact_codes,
    create_ann_store,
    read_codes,
    read_seen,
)


def _emb(spark, lo, hi, dim=8):
    rows = [
        (int(v), [((v * 7 + i) % 13) / 13.0 for i in range(dim)])
        for v in range(lo, hi)
    ]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    )


def _res(df):
    return {(r.query_id, r.rnk): (r.vec_id, r.adc_dist2) for r in df.collect()}


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _fresh_store(spark, tmp_path, name):
    store = str(tmp_path / name)
    # codebooks freeze from the first 16 vectors (the family
    # convention); later folds only APPEND codes under them
    create_ann_store(spark, store, _emb(spark, 0, 40))
    return store


def test_replay_and_duplicates_are_dropped(spark, tmp_path):
    store = _fresh_store(spark, tmp_path, "replay")
    first = ann_ingest_batch(_emb(spark, 0, 20), store)
    assert first["vecs_indexed"] == 20
    assert first["codes_appended"] == 80  # 4 subspaces per vector
    second = ann_ingest_batch(_emb(spark, 20, 40), store)
    assert second["vecs_indexed"] == 20
    before = _res(ann_query_index(spark, store, _emb(spark, 0, 3)))
    # full-batch replay AND a partial re-delivery: both no-ops
    assert ann_ingest_batch(_emb(spark, 20, 40), store) == {
        "vecs_indexed": 0, "codes_appended": 0,
    }
    assert ann_ingest_batch(_emb(spark, 10, 30), store) == {
        "vecs_indexed": 0, "codes_appended": 0,
    }
    assert _res(ann_query_index(spark, store, _emb(spark, 0, 3))) == before
    assert read_seen(spark, store).count() == 40


def test_duplicate_vectors_within_one_batch_are_dropped(spark, tmp_path):
    """A vec_id appearing twice inside ONE micro-batch indexes once —
    before the intra-batch dedup both copies passed the store-side
    freshness probe, duplicating ledger rows and inflating
    vecs_indexed (r12 ADVICE)."""
    store = _fresh_store(spark, tmp_path, "intradup")
    doubled = _emb(spark, 0, 20).unionAll(_emb(spark, 5, 15))
    res = ann_ingest_batch(doubled, store)
    assert res["vecs_indexed"] == 20
    assert res["codes_appended"] == 80
    assert read_seen(spark, store).count() == 20
    # and the query result equals a clean single-copy build
    clean = _fresh_store(spark, tmp_path, "intradup_clean")
    ann_ingest_batch(_emb(spark, 0, 20), clean)
    q = _emb(spark, 0, 3)
    assert _res(ann_query_index(spark, store, q)) == _res(
        ann_query_index(spark, clean, q)
    )


def test_index_grows_across_epochs(spark, tmp_path):
    """Vectors folded in epoch 0 stay searchable after epoch 1, and
    new vectors become candidates — the running index serves at every
    point without any rebuild."""
    store = _fresh_store(spark, tmp_path, "grow")
    ann_ingest_batch(_emb(spark, 0, 20), store)
    e0 = _res(ann_query_index(spark, store, _emb(spark, 0, 3)))
    found0 = {v for (v, _d) in e0.values()}
    assert found0 and all(v < 20 for v in found0)
    ann_ingest_batch(_emb(spark, 20, 40), store)
    e1 = _res(ann_query_index(spark, store, _emb(spark, 0, 3)))
    found1 = {v for (v, _d) in e1.values()}
    assert any(v >= 20 for v in found1)
    assert len(e1) >= len(e0)


def test_compaction_preserves_results(spark, tmp_path):
    store = _fresh_store(spark, tmp_path, "compact")
    ann_ingest_batch(_emb(spark, 0, 20), store)
    ann_ingest_batch(_emb(spark, 20, 40), store)
    before = _res(ann_query_index(spark, store, _emb(spark, 0, 3)))
    assert compact_codes(spark, store) > 0
    assert _res(ann_query_index(spark, store, _emb(spark, 0, 3))) == before


def test_store_plan_shapes(spark, tmp_path):
    """(a) ingest-side seen probe: bucket-key anti-join, store scans
    its buckets in place; (b) query-side candidate join: the probes
    broadcast against the cell-bucketed codes store — no Exchange
    anywhere on the store path."""
    from kafkastreamsproject_spark.sources.bucketed import (
        shuffle_scoped_to_buckets,
    )
    from kafkastreamsproject_spark.streaming.annindex import N_BUCKETS

    store = _fresh_store(spark, tmp_path, "plan")
    ann_ingest_batch(_emb(spark, 0, 20), store)

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        probe = _emb(spark, 20, 40).join(
            read_seen(spark, store).select("vec_id"), "vec_id", "left_anti"
        )
        with shuffle_scoped_to_buckets(spark, N_BUCKETS):
            j_plan = _plan(probe)
        assert "Bucketed: true" in j_plan, j_plan
        assert len(re.findall(r"\(\d+\) Exchange", j_plan)) <= 1, j_plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

    probes = spark.createDataFrame(
        [(0, 1), (0, 2)], "query_id long, cell int"
    )
    cand = F.broadcast(probes).join(read_codes(spark, store), "cell")
    c_plan = _plan(cand)
    assert "BroadcastHashJoin" in c_plan, c_plan
    assert len(re.findall(r"\(\d+\) Exchange", c_plan)) == 0, c_plan


def test_geometry_is_persisted_and_mismatches_are_rejected(spark, tmp_path):
    """Geometry is a store-creation parameter persisted in the
    _ann_meta.json sidecar (r12 verdict #1): folds/queries read it
    from there, a caller expectation that disagrees raises, and
    nprobe can never exceed the store's cell count."""
    import pytest

    from kafkastreamsproject_spark.streaming.annindex import (
        ann_geometry,
        sized_geometry,
    )

    geo = {"c_cells": 12, "k_codes": 24, "m_subspaces": 2, "n_buckets": 4}
    store = str(tmp_path / "geo")
    assert create_ann_store(spark, store, _emb(spark, 0, 40), **geo) == geo
    assert ann_geometry(spark, store) == geo
    # folds and queries pick the sidecar geometry up with NO caller args
    res = ann_ingest_batch(_emb(spark, 0, 40), store)
    assert res["codes_appended"] == 40 * geo["m_subspaces"]
    got = _res(ann_query_index(spark, store, _emb(spark, 0, 3), nprobe=3))
    assert got
    # a caller built for a different geometry fails loudly
    with pytest.raises(ValueError, match="c_cells=8"):
        ann_ingest_batch(_emb(spark, 40, 50), store, geometry={"c_cells": 8})
    with pytest.raises(ValueError, match="m_subspaces=4"):
        ann_query_index(
            spark, store, _emb(spark, 0, 3), geometry={"m_subspaces": 4}
        )
    with pytest.raises(ValueError, match="nprobe"):
        ann_query_index(spark, store, _emb(spark, 0, 3), nprobe=13)
    # the sizing rule: C ≈ √N, floored at the family default
    assert sized_geometry(1_000_000)["c_cells"] == 1000
    assert sized_geometry(10)["c_cells"] == 8
    assert sized_geometry(1_000_000)["n_buckets"] == 64


def test_sized_geometry_store_answers_like_default_brute_force(
    spark, tmp_path
):
    """A store created with corpus-sized C (√N rule) still returns
    sound neighbors: its top-1 per query comes from the probed cells'
    exact ADC ranking — verified against an independent recompute of
    the same geometry by a second store built in ONE shot (epoch-split
    invariance at non-default geometry)."""
    geo = {"c_cells": 16, "k_codes": 16, "m_subspaces": 4, "n_buckets": 8}
    split, oneshot = str(tmp_path / "split"), str(tmp_path / "oneshot")
    corpus = _emb(spark, 0, 60)
    for path in (split, oneshot):
        create_ann_store(spark, path, corpus, **geo)
    ann_ingest_batch(corpus.filter(F.col("vec_id") % 2 == 0), split)
    ann_ingest_batch(corpus.filter(F.col("vec_id") % 2 == 1), split)
    ann_ingest_batch(corpus, oneshot)
    q = _emb(spark, 0, 4)
    assert _res(ann_query_index(spark, split, q, nprobe=4)) == _res(
        ann_query_index(spark, oneshot, q, nprobe=4)
    )


def test_vectorized_assignment_equals_expression_path(spark):
    """The large-C Arrow/numpy assignment is BIT-identical to the
    expression-tree argmin — including the lowest-ccid tie-break,
    which the _emb generator exercises (its vectors repeat every 13
    ids, so the 100-centroid codebook contains exact duplicates)."""
    from kafkastreamsproject_spark.streaming.annindex import (
        _assign_cells_vectorized,
        assign_cells,
        quantize,
    )

    base = quantize(_emb(spark, 0, 300))
    coarse = quantize(_emb(spark, 0, 100)).select(
        F.col("vec_id").cast("int").alias("ccid"), F.col("qv").alias("cv2")
    )
    expr = {
        r.vec_id: r.cell for r in assign_cells(base, coarse).collect()
    }
    vec = {
        r.vec_id: r.cell
        for r in _assign_cells_vectorized(base, coarse).collect()
    }
    assert expr == vec
    # and the dispatch threshold routes large C to the vectorized path
    big = {
        r.vec_id: r.cell
        for r in assign_cells(base, coarse, c_cells=100).collect()
    }
    assert big == expr


def test_forget_vectors_is_exact_and_reindexable(spark, tmp_path):
    """Vector erasure: after forgetting, queries equal a fresh index
    built from the survivors; replay is a no-op; the erased id is
    re-indexable."""
    from kafkastreamsproject_spark.streaming.annindex import (
        forget_vectors_in_index,
    )

    store = _fresh_store(spark, tmp_path, "forget")
    ann_ingest_batch(_emb(spark, 0, 40), store)
    victims = spark.createDataFrame([(25,), (33,)], "vec_id long")
    res = forget_vectors_in_index(spark, victims, store)
    assert res["codes"]["rows_deleted"] == 8  # 2 vectors x 4 subspaces
    assert res["seen"]["rows_deleted"] == 2

    fresh = str(tmp_path / "survivors")
    create_ann_store(spark, fresh, _emb(spark, 0, 40))
    ann_ingest_batch(
        _emb(spark, 0, 40).filter(~F.col("vec_id").isin([25, 33])), fresh
    )
    q = _emb(spark, 0, 3)
    assert _res(ann_query_index(spark, store, q)) == _res(
        ann_query_index(spark, fresh, q)
    )

    replay = forget_vectors_in_index(spark, victims, store)
    assert replay["codes"]["rows_deleted"] == 0
    assert replay["seen"]["rows_deleted"] == 0

    back = ann_ingest_batch(
        _emb(spark, 0, 40).filter(F.col("vec_id") == 25), store
    )
    assert back["vecs_indexed"] == 1


def test_forget_replay_reaches_the_vecs_sidecar(spark, tmp_path, monkeypatch):
    """An erasure that crashes before its vecs rewrite and is then
    replayed must still erase the victim's quantized embedding: each
    row substore finds its victims in its own rows, and the ledger
    goes last."""
    import kafkastreamsproject_spark.sources.bucketed as bucketed
    from kafkastreamsproject_spark.streaming.annindex import (
        default_geometry,
        forget_vectors_in_index,
        read_vecs,
    )

    store = str(tmp_path / "vecs_replay")
    corpus = _emb(spark, 0, 40)
    create_ann_store(
        spark, store, corpus, **default_geometry(), store_vectors=True
    )
    ann_ingest_batch(corpus, store)

    real, crashed = bucketed.forget_rows_in_store, []

    def crash_before_vecs(spark, keys, path, *args, **kwargs):
        if path.endswith("/vecs") and not crashed:
            crashed.append(path)
            raise RuntimeError("crash before the vecs rewrite")
        return real(spark, keys, path, *args, **kwargs)

    monkeypatch.setattr(bucketed, "forget_rows_in_store", crash_before_vecs)
    victims = spark.createDataFrame([(25,)], "vec_id long")
    with pytest.raises(RuntimeError, match="vecs rewrite"):
        forget_vectors_in_index(spark, victims, store)
    forget_vectors_in_index(spark, victims, store)
    monkeypatch.undo()

    for read in (read_vecs, read_codes, read_seen):
        assert read(spark, store).filter(F.col("vec_id") == 25).count() == 0


def test_forget_codebook_training_vector_requires_acknowledgement(
    spark, tmp_path
):
    """GDPR honesty (r12 ADVICE): the codebook snapshot retains the
    training vectors' quantized embeddings verbatim, so erasing a
    training vec_id is NOT full erasure — it must raise unless the
    caller acknowledges the residue, and the residue count must come
    back in the result."""
    import pytest

    from kafkastreamsproject_spark.streaming.annindex import (
        forget_vectors_in_index,
    )

    store = _fresh_store(spark, tmp_path, "cb_forget")
    ann_ingest_batch(_emb(spark, 0, 40), store)
    # vec_id 5 is both a coarse centroid (<8) and a PQ codebook row
    victims = spark.createDataFrame([(5,), (30,)], "vec_id long")
    with pytest.raises(ValueError, match="codebook"):
        forget_vectors_in_index(spark, victims, store)
    res = forget_vectors_in_index(
        spark, victims, store, allow_codebook_residue=True
    )
    assert res["codebook_residue"] == 1
    assert res["seen"]["rows_deleted"] == 2
    # the search index no longer serves either victim …
    out = ann_query_index(spark, store, _emb(spark, 0, 3), k=40)
    assert {5, 30}.isdisjoint(
        {r.vec_id for r in out.collect()}
    )
    # … but non-training victims leave no residue and need no flag
    clean = forget_vectors_in_index(
        spark, spark.createDataFrame([(31,)], "vec_id long"), store
    )
    assert clean["codebook_residue"] == 0


def test_rebuild_erases_codebook_training_vectors(spark, tmp_path):
    """Full erasure: rebuild_ann_store retrains the codebooks on the
    survivors (deterministic first-C/first-K by vec_id), so a victim
    that WAS a training vector leaves no byte anywhere — and the
    rebuilt store answers exactly like a fresh survivors-only build."""
    from kafkastreamsproject_spark.streaming.annindex import (
        ann_geometry,
        read_codebooks,
        rebuild_ann_store,
    )

    victims = spark.createDataFrame([(2,), (25,)], "vec_id long")
    corpus = _emb(spark, 0, 40)
    new = str(tmp_path / "rebuilt")
    res = rebuild_ann_store(
        spark, corpus, victims, new,
        c_cells=8, k_codes=16, m_subspaces=4, n_buckets=8,
    )
    assert res["survivors"] == 38
    coarse, cb = read_codebooks(spark, new)
    ccids = {r.ccid for r in coarse.collect()}
    cids = {r.cid for r in cb.select("cid").distinct().collect()}
    assert 2 not in ccids and 2 not in cids  # the training victim is gone
    assert ccids == {0, 1, 3, 4, 5, 6, 7, 8}  # first-8 survivors
    assert ann_geometry(spark, new)["c_cells"] == 8
    # equality with a from-scratch survivors-only build
    fresh = str(tmp_path / "fresh")
    surv = corpus.filter(~F.col("vec_id").isin([2, 25]))
    create_ann_store(spark, fresh, surv)
    ann_ingest_batch(surv, fresh)
    q = _emb(spark, 0, 4)
    assert _res(ann_query_index(spark, new, q)) == _res(
        ann_query_index(spark, fresh, q)
    )


def test_create_store_rejects_int32_overflow_training_ids(spark, tmp_path):
    """Codebook keys (ccid/cid) are int32: a training vec_id past 2^31
    would overflow the cast SILENTLY, corrupting every codes join and
    the erasure residue guard (r13 ADVICE) — creation fails loudly
    instead.  Big ids OUTSIDE the training prefix are fine: they stay
    long everywhere."""
    import pytest

    big = spark.createDataFrame(
        [(int(v), [0.1 * i for i in range(8)]) for v in range(15)]
        + [(2**31 + 5, [0.5] * 8)],
        "vec_id long, embedding array<float>",
    )
    with pytest.raises(ValueError, match="int32"):
        create_ann_store(spark, str(tmp_path / "ovf"), big)
    # 16+ low-id training vectors ahead of the big id: creation and
    # ingest succeed, the big id is an ordinary (long) corpus member
    ok = _emb(spark, 0, 20).unionAll(
        spark.createDataFrame(
            [(2**31 + 5, [0.5] * 8)], "vec_id long, embedding array<float>"
        )
    )
    store = str(tmp_path / "ok")
    create_ann_store(spark, store, ok)
    res = ann_ingest_batch(ok, store)
    assert res["vecs_indexed"] == 21
    assert read_seen(spark, store).filter(
        F.col("vec_id") == 2**31 + 5
    ).count() == 1


def test_vectorized_assignment_handles_empty_batches(spark):
    """Zero-row Arrow batches reach the pandas UDF as empty Series —
    np.array([]) is 1-D and the axis=1 reductions would raise (r13
    ADVICE); the guard early-returns an empty int32 Series.  Empty
    partitions (the repartition below makes some) and a fully empty
    input must both come back clean."""
    from kafkastreamsproject_spark.streaming.annindex import (
        _assign_cells_vectorized,
        quantize,
    )

    coarse = quantize(_emb(spark, 0, 8)).select(
        F.col("vec_id").cast("int").alias("ccid"), F.col("qv").alias("cv2")
    )
    sparse = quantize(_emb(spark, 0, 3)).repartition(8)
    got = {
        r.vec_id: r.cell
        for r in _assign_cells_vectorized(sparse, coarse).collect()
    }
    assert set(got) == {0, 1, 2}
    empty = quantize(_emb(spark, 0, 0))
    assert _assign_cells_vectorized(empty, coarse).collect() == []


def test_bare_creation_sizes_geometry_to_the_corpus(spark, tmp_path):
    """r13 verdict #1: a bare create_ann_store call sizes C ≈ √N from
    the training corpus — the frozen test-SF C=8 is now an explicit
    opt-in (default_geometry()), so production-N callers can't silently
    build the O(N)-query store r12 flagged.  An explicit C more than
    4× below the √N rule draws a UserWarning; test-SF-scale explicit
    stores stay quiet."""
    import warnings

    import pytest

    from kafkastreamsproject_spark.streaming.annindex import (
        ann_geometry,
        default_geometry,
        sized_geometry,
    )

    corpus = _emb(spark, 0, 2000)
    store = str(tmp_path / "sized")
    geo = create_ann_store(spark, store, corpus)
    assert geo == sized_geometry(2000)
    assert geo["c_cells"] == 45  # round(sqrt(2000))
    assert ann_geometry(spark, store) == geo
    # the sized store ingests and serves under its sidecar geometry
    ann_ingest_batch(corpus.filter(F.col("vec_id") < 200), store)
    assert _res(ann_query_index(spark, store, _emb(spark, 0, 2), k=3))

    # explicit C >4x below the sqrt-N rule: warn (the footgun path)
    with pytest.warns(UserWarning, match="sized_geometry would pick"):
        create_ann_store(
            spark, str(tmp_path / "warned"), corpus, **default_geometry()
        )
    # deliberate test-SF stores (N <= (4C)^2) stay warning-free
    # (record=True, not simplefilter("error"): erroring filters turn
    # GC-time py4j socket ResourceWarnings into unraisable noise)
    with warnings.catch_warnings(record=True) as rec:
        warnings.simplefilter("always")
        create_ann_store(
            spark, str(tmp_path / "quiet"), _emb(spark, 0, 40),
            **default_geometry(),
        )
    assert not [w for w in rec if w.category is UserWarning]


@pytest.mark.slowsuite  # r16: slowest-tail; deselected by default (pyproject addopts), run via -m slowsuite
def test_coarse_codebook_collects_once_per_store(spark, tmp_path):
    """r13 verdict #3: the large-C ingest path pulls the coarse
    codebook to the driver ONCE per store (then folds read the Spark
    broadcast), not once per micro-batch; re-creating the store
    invalidates the cached broadcast.  Results stay identical to the
    small-C expression path, which needs no collect at all."""
    from kafkastreamsproject_spark.streaming.annindex import (
        _COARSE_COLLECTS,
    )

    geo = {"c_cells": 100, "k_codes": 16, "m_subspaces": 4, "n_buckets": 8}
    store = str(tmp_path / "bc")
    corpus = _emb(spark, 0, 300)
    create_ann_store(spark, store, corpus, **geo)

    before = _COARSE_COLLECTS["n"]
    for lo, hi in [(0, 100), (100, 200), (200, 300)]:
        ann_ingest_batch(_emb(spark, lo, hi), store)
    assert _COARSE_COLLECTS["n"] == before + 1  # one collect, three folds

    # (re)creation invalidates: the next fold collects the NEW codebook
    create_ann_store(spark, store, corpus, **geo)
    ann_ingest_batch(_emb(spark, 0, 100), store)
    assert _COARSE_COLLECTS["n"] == before + 2

    # and the broadcast-fed store answers exactly like a small-C-free
    # one-shot build at the same geometry
    oneshot = str(tmp_path / "bc_oneshot")
    create_ann_store(spark, oneshot, corpus, **geo)
    ann_ingest_batch(corpus, oneshot)
    q = _emb(spark, 0, 3)
    store2 = str(tmp_path / "bc_refold")
    create_ann_store(spark, store2, corpus, **geo)
    for lo, hi in [(0, 100), (100, 200), (200, 300)]:
        ann_ingest_batch(_emb(spark, lo, hi), store2)
    assert _res(ann_query_index(spark, store2, q, nprobe=8)) == _res(
        ann_query_index(spark, oneshot, q, nprobe=8)
    )


def test_filtered_search_fills_k_where_post_filtering_cannot(
    spark, tmp_path
):
    """Filtered vector search (r13 verdict #5): the ``allowed``
    predicate applies INSIDE the cell-probe stage (a LeftSemi join
    before any ADC), so the top-k ranks eligible vectors only and
    fills k — post-filtering the unfiltered top-k under-fills it
    whenever ineligible vectors held top slots (here: query 0's exact
    duplicates 13 and 39 are odd, so the odd-excluding post-filter
    keeps <k of the unfiltered top-5)."""
    store = _fresh_store(spark, tmp_path, "filtered")
    ann_ingest_batch(_emb(spark, 0, 40), store)
    q = _emb(spark, 0, 1)
    evens = spark.range(0, 40, 2).select(F.col("id").alias("vec_id"))

    unfiltered = ann_query_index(spark, store, q, k=5, nprobe=8)
    post = [r for r in unfiltered.collect() if r.vec_id % 2 == 0]
    assert len(post) < 5  # the naive approach silently under-fills

    filt = ann_query_index(spark, store, q, k=5, nprobe=8, allowed=evens)
    rows = filt.collect()
    assert len(rows) == 5 and all(r.vec_id % 2 == 0 for r in rows)
    assert [r.rnk for r in sorted(rows, key=lambda r: r.rnk)] == [1, 2, 3, 4, 5]
    # the predicate sits in the plan as a broadcast semi-join on the
    # candidate side (pre-ADC, zero store-side Exchange), not a
    # post-top-k Filter — asserted on the pre-checkpoint candidate
    # stage (the operator's return value is pinned by localCheckpoint,
    # so its own plan is an RDD scan)
    probes = spark.createDataFrame(
        [(0, 1), (0, 2)], "query_id long, cell int"
    )
    cand = (
        F.broadcast(probes)
        .join(read_codes(spark, store), "cell")
        .join(F.broadcast(evens), "vec_id", "left_semi")
    )
    c_plan = _plan(cand)
    assert "LeftSemi" in c_plan, c_plan
    assert len(re.findall(r"\(\d+\) Exchange", c_plan)) == 0, c_plan


def test_rerank_index_recovers_exact_ordering(spark, tmp_path):
    """ann_rerank_index with every cell probed and a corpus-wide
    shortlist IS the exact integer-L2 top-k — verified against an
    independent numpy recompute of the quantize→distance→rank chain
    (no Spark primitives shared).  The quantization grid here never
    lands on .5, so python round == Spark's HALF_UP round."""
    import numpy as np

    from kafkastreamsproject_spark.streaming.annindex import (
        ann_rerank_index,
    )

    store = _fresh_store(spark, tmp_path, "rerank")
    corpus = _emb(spark, 0, 40)
    ann_ingest_batch(corpus, store)
    q = _emb(spark, 0, 3)
    got = {
        (r.query_id, r.rnk): (r.vec_id, r.exact_dist2)
        for r in ann_rerank_index(
            spark, store, q, corpus, k=5, nprobe=8, r_shortlist=40
        ).collect()
    }

    vecs = {
        v: np.round(
            np.array([((v * 7 + i) % 13) / 13.0 for i in range(8)]) * 127
        ).astype(np.int64)
        for v in range(40)
    }
    want = {}
    for qid in range(3):
        dists = sorted(
            (int(((vecs[v] - vecs[qid]) ** 2).sum()), v)
            for v in range(40)
            if v != qid
        )
        for rnk, (d, v) in enumerate(dists[:5], start=1):
            want[(qid, rnk)] = (v, d)
    assert got == want


def test_vector_sidecar_rerank_reads_probed_cells_only(spark, tmp_path):
    """IVF-Flat sidecar: a store created with store_vectors=True also
    persists the quantized vectors cell-bucketed, and rerank with
    vectors_from_store=True answers IDENTICALLY to the corpus-pass
    rerank while its vecs scan carries a pushed cell-IN filter (reads
    the probed cells, not the corpus).  Erasure reaches the sidecar:
    the victims' quantized embeddings leave the vecs store with their
    codes.  A store without the sidecar refuses the store-path
    rerank."""
    import pytest

    from kafkastreamsproject_spark.streaming.annindex import (
        ann_rerank_index,
        default_geometry,
        forget_vectors_in_index,
        read_vecs,
    )

    corpus = _emb(spark, 0, 40)
    store = str(tmp_path / "sidecar")
    create_ann_store(
        spark, store, corpus, **default_geometry(), store_vectors=True
    )
    ann_ingest_batch(corpus.filter(F.col("vec_id") % 2 == 0), store)
    ann_ingest_batch(corpus.filter(F.col("vec_id") % 2 == 1), store)
    assert read_vecs(spark, store).count() == 40

    q = _emb(spark, 0, 3)

    def _rr(df):
        return {
            (r.query_id, r.rnk): (r.vec_id, r.exact_dist2)
            for r in df.collect()
        }

    from_store = ann_rerank_index(
        spark, store, q, k=5, nprobe=4, r_shortlist=20,
        vectors_from_store=True,
    )
    from_corpus = ann_rerank_index(
        spark, store, q, corpus, k=5, nprobe=4, r_shortlist=20
    )
    assert _rr(from_store) == _rr(from_corpus)

    # the vecs scan prunes on the probed cells (pushed IN filter)
    pruned = read_vecs(spark, store).filter(F.col("cell").isin([1, 2]))
    assert "In(cell" in _plan(pruned).replace(" ", ""), _plan(pruned)

    # replay stays a no-op with the sidecar enabled
    assert ann_ingest_batch(corpus, store)["vecs_indexed"] == 0
    assert read_vecs(spark, store).count() == 40

    # compaction covers the sidecar and preserves answers
    before = _rr(from_store)
    assert compact_codes(spark, store) > 0
    assert _rr(
        ann_rerank_index(
            spark, store, q, k=5, nprobe=4, r_shortlist=20,
            vectors_from_store=True,
        )
    ) == before

    # erasure removes the victims' sidecar rows too
    victims = spark.createDataFrame([(25,), (33,)], "vec_id long")
    res = forget_vectors_in_index(spark, victims, store)
    assert res["vecs"]["rows_deleted"] == 2
    assert read_vecs(spark, store).filter(
        F.col("vec_id").isin([25, 33])
    ).count() == 0

    # a sidecar-less store refuses the store-path rerank
    plain = _fresh_store(spark, tmp_path, "nosidecar")
    ann_ingest_batch(corpus, plain)
    with pytest.raises(ValueError, match="sidecar"):
        ann_rerank_index(
            spark, plain, q, k=5, nprobe=4, vectors_from_store=True
        )


def test_filtered_rerank_composes(spark, tmp_path):
    """allowed= and the rerank stage compose: the shortlist is already
    predicate-filtered (pre-ADC), so the exact-reranked top-k is the
    best k ELIGIBLE vectors — equal to brute-force exact search over
    the allowed subset when every cell is probed — and the sidecar
    path agrees with the corpus path under the filter."""
    from kafkastreamsproject_spark.streaming.annindex import (
        ann_rerank_index,
        default_geometry,
    )

    corpus = _emb(spark, 0, 40)
    store = str(tmp_path / "filtrerank")
    create_ann_store(
        spark, store, corpus, **default_geometry(), store_vectors=True
    )
    ann_ingest_batch(corpus, store)
    q = _emb(spark, 0, 2)
    evens = spark.range(0, 40, 2).select(F.col("id").alias("vec_id"))

    def _rr(df):
        return {
            (r.query_id, r.rnk): (r.vec_id, r.exact_dist2)
            for r in df.collect()
        }

    got = _rr(
        ann_rerank_index(
            spark, store, q, k=5, nprobe=8, r_shortlist=40,
            allowed=evens, vectors_from_store=True,
        )
    )
    assert got == _rr(
        ann_rerank_index(
            spark, store, q, corpus, k=5, nprobe=8, r_shortlist=40,
            allowed=evens,
        )
    )
    # equal to exact filtered search: brute-force over the allowed set
    import numpy as np

    vecs = {
        v: np.round(
            np.array([((v * 7 + i) % 13) / 13.0 for i in range(8)]) * 127
        ).astype(np.int64)
        for v in range(40)
    }
    want = {}
    for qid in range(2):
        dists = sorted(
            (int(((vecs[v] - vecs[qid]) ** 2).sum()), v)
            for v in range(0, 40, 2)
            if v != qid
        )
        for rnk, (d, v) in enumerate(dists[:5], start=1):
            want[(qid, rnk)] = (v, d)
    assert got == want


def test_vectorized_probe_assignment_equals_window_path(spark):
    """The query-side top-nprobe vectorized assignment is bit-identical
    to the crossJoin+window path — including lowest-ccid tie-breaks
    (the 100-centroid codebook over 13-periodic vectors is full of
    exact duplicates) and nprobe > the number of distinct distances."""
    from pyspark.sql import Window as W

    from kafkastreamsproject_spark.streaming.annindex import (
        _int_dist2,
        _probe_cells_vectorized,
        quantize,
    )

    base = quantize(_emb(spark, 0, 50))
    coarse = quantize(_emb(spark, 0, 100)).select(
        F.col("vec_id").cast("int").alias("ccid"), F.col("qv").alias("cv2")
    )
    for nprobe in (1, 3, 17):
        qd = base.crossJoin(F.broadcast(coarse)).select(
            F.col("vec_id").alias("query_id"),
            "ccid",
            _int_dist2(F.col("qv"), F.col("cv2")).alias("dist2"),
        )
        wq = W.partitionBy("query_id").orderBy("dist2", "ccid")
        want = {
            (r.query_id, r.ccid)
            for r in qd.withColumn("rn", F.row_number().over(wq))
            .filter(F.col("rn") <= nprobe)
            .collect()
        }
        got = {
            (r.query_id, r.cell)
            for r in _probe_cells_vectorized(base, coarse, nprobe).collect()
        }
        assert got == want, f"nprobe={nprobe}"


@pytest.mark.slowsuite  # r16: slowest-tail; deselected by default (pyproject addopts), run via -m slowsuite
def test_streaming_sink_folds_with_sidecar_and_skips_replays(
    spark, tmp_path
):
    """to_ann_ingest_sink end-to-end: epochs fold through the store
    with _applied_epochs markers (restart over the same checkpoint
    plus a new file folds ONLY the new epoch), the IVF-Flat sidecar
    fills at ingest with no caller wiring, and the streamed store
    serves query + sidecar-rerank identically to a one-shot batch
    build."""
    import os

    from kafkastreamsproject_spark.streaming.annindex import (
        ann_rerank_index,
        default_geometry,
        read_vecs,
        to_ann_ingest_sink,
    )

    src = tmp_path / "src"
    src.mkdir()
    store = str(tmp_path / "stream_store")
    create_ann_store(
        spark, store, _emb(spark, 0, 50), **default_geometry(),
        store_vectors=True,
    )

    def write_batch(i, lo, hi):
        _emb(spark, lo, hi).coalesce(1).write.parquet(
            str(src / f"b{i}.parquet")
        )

    def run_stream():
        stream = (
            spark.readStream.schema("vec_id long, embedding array<float>")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src) + "/*")
        )
        q = to_ann_ingest_sink(stream, store, str(tmp_path / "ckpt"))
        q.processAllAvailable()
        q.stop()

    write_batch(0, 0, 20)
    write_batch(1, 20, 40)
    run_stream()
    assert read_seen(spark, store).count() == 40
    assert read_vecs(spark, store).count() == 40

    def _markers():
        return [
            f
            for f in os.listdir(f"{store}/_applied_epochs")
            if not f.startswith(".")
        ]

    assert len(_markers()) == 2

    # the streamed store serves like a one-shot build: plain query
    # AND the sidecar rerank
    oneshot = str(tmp_path / "oneshot")
    create_ann_store(
        spark, oneshot, _emb(spark, 0, 50), **default_geometry(),
        store_vectors=True,
    )
    ann_ingest_batch(_emb(spark, 0, 40), oneshot)
    q3 = _emb(spark, 0, 3)
    assert _res(ann_query_index(spark, store, q3)) == _res(
        ann_query_index(spark, oneshot, q3)
    )

    def _rr(path):
        return {
            (r.query_id, r.rnk): (r.vec_id, r.exact_dist2)
            for r in ann_rerank_index(
                spark, path, q3, k=5, nprobe=4, r_shortlist=20,
                vectors_from_store=True,
            ).collect()
        }

    assert _rr(store) == _rr(oneshot)

    # restart with one NEW file: only the new epoch folds
    write_batch(2, 40, 50)
    run_stream()
    assert read_seen(spark, store).count() == 50
    assert read_vecs(spark, store).count() == 50
    assert len(_markers()) == 3


def test_tombstone_is_instant_and_fills_k_from_survivors(spark, tmp_path):
    """Logical delete (r14): tombstoned vectors leave query results at
    the NEXT query with zero store rewrite, and the top-k fills from
    survivors (the pre-ADC anti-join seam — post-filtering the
    unrestricted top-k would return k-1 rows here)."""
    from kafkastreamsproject_spark.streaming.annindex import (
        read_tombstones,
        tombstone_vectors_in_index,
    )

    store = _fresh_store(spark, tmp_path, "tomb")
    ann_ingest_batch(_emb(spark, 0, 40), store)
    q = _emb(spark, 0, 3)
    base = ann_query_index(spark, store, q, k=3)
    victim = base.filter(
        (F.col("query_id") == 0) & (F.col("rnk") == 1)
    ).collect()[0].vec_id

    assert read_tombstones(spark, store) is None
    res = tombstone_vectors_in_index(
        spark, spark.createDataFrame([(int(victim),)], "vec_id long"), store
    )
    assert res == {"tombstoned": 1, "pending": 1}

    after = ann_query_index(spark, store, q, k=3)
    got = {r.vec_id for r in after.collect()}
    assert victim not in got
    # every query still fills k — the victim's slot went to a survivor
    assert after.groupBy("query_id").count().filter(
        F.col("count") != 3
    ).count() == 0
    # survivors' relative order is untouched (exclusion, not rescoring)
    surv = {
        (r.query_id, r.vec_id): r.adc_dist2
        for r in base.collect()
        if r.vec_id != victim
    }
    for r in after.collect():
        if (r.query_id, r.vec_id) in surv:
            assert surv[(r.query_id, r.vec_id)] == r.adc_dist2

    # tombstone appends are idempotent under replay: same id again
    # leaves pending unchanged
    replay = tombstone_vectors_in_index(
        spark, spark.createDataFrame([(int(victim),)], "vec_id long"), store
    )
    assert replay == {"tombstoned": 1, "pending": 1}


def test_tombstone_on_a_path_without_a_store_raises_and_writes_nothing(
    spark, tmp_path
):
    """The store-must-exist check only reads: tombstoning a fresh path
    raises and leaves no geometry sidecar or tombstone set behind."""
    from kafkastreamsproject_spark.streaming.annindex import (
        tombstone_vectors_in_index,
    )

    path = tmp_path / "nostore"
    with pytest.raises(ValueError, match="no ANN store"):
        tombstone_vectors_in_index(
            spark, spark.range(2).withColumnRenamed("id", "vec_id"), str(path)
        )
    assert not path.exists()


def test_apply_tombstones_is_physical_idempotent_and_reingestable(
    spark, tmp_path
):
    """apply_tombstones = log cleaning: bytes leave codes+seen, the
    pending set clears (commit point LAST), queries are identical
    before and after, replay is a no-op, and the erased id becomes
    re-ingestable."""
    from kafkastreamsproject_spark.streaming.annindex import (
        apply_tombstones,
        read_tombstones,
        tombstone_vectors_in_index,
    )

    store = _fresh_store(spark, tmp_path, "tombapply")
    ann_ingest_batch(_emb(spark, 0, 40), store)
    victims = spark.createDataFrame([(25,), (33,)], "vec_id long")
    tombstone_vectors_in_index(spark, victims, store)

    # re-ingest of a PENDING id is blocked (seen row still present) —
    # delete-then-reinsert completes only after apply
    blocked = ann_ingest_batch(
        _emb(spark, 0, 40).filter(F.col("vec_id") == 25), store
    )
    assert blocked["vecs_indexed"] == 0

    q = _emb(spark, 0, 3)
    logical = _res(ann_query_index(spark, store, q))

    out = apply_tombstones(spark, store)
    assert out["applied"] == 2
    assert out["codes"]["rows_deleted"] == 8
    assert out["seen"]["rows_deleted"] == 2
    assert read_tombstones(spark, store) is None
    assert read_codes(spark, store).filter(
        F.col("vec_id").isin([25, 33])
    ).count() == 0
    assert _res(ann_query_index(spark, store, q)) == logical

    assert apply_tombstones(spark, store) == {"applied": 0}

    back = ann_ingest_batch(
        _emb(spark, 0, 40).filter(F.col("vec_id") == 25), store
    )
    assert back["vecs_indexed"] == 1


def test_apply_tombstones_keeps_the_codebook_residue_guard(spark, tmp_path):
    """A pending delete of a codebook TRAINING vector raises at apply
    (its bytes would survive in codebooks/), exactly like the direct
    forget path; the acknowledgement flag passes through."""
    import pytest

    from kafkastreamsproject_spark.streaming.annindex import (
        apply_tombstones,
        read_tombstones,
        tombstone_vectors_in_index,
    )

    store = _fresh_store(spark, tmp_path, "tombresidue")
    ann_ingest_batch(_emb(spark, 0, 40), store)
    tombstone_vectors_in_index(
        spark, spark.createDataFrame([(0,)], "vec_id long"), store
    )
    with pytest.raises(ValueError, match="TRAINING"):
        apply_tombstones(spark, store)
    # the failed apply must NOT have cleared the pending set
    assert read_tombstones(spark, store).count() == 1
    out = apply_tombstones(spark, store, allow_codebook_residue=True)
    assert out["applied"] == 1
    assert out["codebook_residue"] == 1
    assert read_tombstones(spark, store) is None


def test_tombstones_compose_with_filtered_rerank(spark, tmp_path):
    """The tombstone anti-join sits upstream of both the `allowed`
    semi-join and the exact-rerank stage: a tombstoned id never
    reaches rerank even when the metadata predicate admits it."""
    from kafkastreamsproject_spark.streaming.annindex import (
        ann_rerank_index,
        tombstone_vectors_in_index,
    )

    store = _fresh_store(spark, tmp_path, "tombrerank")
    corpus = _emb(spark, 0, 40)
    ann_ingest_batch(corpus, store)
    q = _emb(spark, 0, 2)
    allowed = spark.createDataFrame(
        [(int(v),) for v in range(40) if v % 2 == 0], "vec_id long"
    )
    base = ann_rerank_index(
        spark, store, q, corpus=corpus, k=3, r_shortlist=10, allowed=allowed
    )
    victim = base.filter(
        (F.col("query_id") == 0) & (F.col("rnk") == 1)
    ).collect()[0].vec_id
    tombstone_vectors_in_index(
        spark, spark.createDataFrame([(int(victim),)], "vec_id long"), store
    )
    after = ann_rerank_index(
        spark, store, q, corpus=corpus, k=3, r_shortlist=10, allowed=allowed
    )
    rows = after.collect()
    assert victim not in {r.vec_id for r in rows}
    assert all(r.vec_id % 2 == 0 for r in rows)
    assert after.groupBy("query_id").count().filter(
        F.col("count") != 3
    ).count() == 0


def test_range_search_sidecar_equals_corpus_fallback(spark, tmp_path):
    """ann_range_index returns identical rows from the IVF-Flat
    sidecar and from the corpus fallback (codes pairs + corpus join);
    results respect the radius and never include the query itself."""
    from kafkastreamsproject_spark.streaming.annindex import (
        ann_range_index,
        create_ann_store,
    )

    corpus = _emb(spark, 0, 60)
    with_vecs = str(tmp_path / "range_sidecar")
    create_ann_store(
        spark, with_vecs, _emb(spark, 0, 40), store_vectors=True
    )
    ann_ingest_batch(corpus, with_vecs)
    no_vecs = str(tmp_path / "range_plain")
    create_ann_store(spark, no_vecs, _emb(spark, 0, 40))
    ann_ingest_batch(corpus, no_vecs)

    q = _emb(spark, 0, 5)
    r2 = 40_000
    a = ann_range_index(spark, with_vecs, q, radius2=r2, nprobe=2)
    b = ann_range_index(
        spark, no_vecs, q, radius2=r2, nprobe=2, corpus=corpus
    )
    rows_a = {(r.query_id, r.vec_id, r.cell, r.exact_dist2)
              for r in a.collect()}
    rows_b = {(r.query_id, r.vec_id, r.cell, r.exact_dist2)
              for r in b.collect()}
    assert rows_a and rows_a == rows_b
    assert all(d <= r2 for (_, _, _, d) in rows_a)
    assert all(qid != vid for (qid, vid, _, _) in rows_a)

    # no sidecar and no corpus is a contract error, not a wrong answer
    import pytest

    with pytest.raises(ValueError, match="sidecar"):
        ann_range_index(spark, no_vecs, q, radius2=r2, nprobe=2)


def test_range_search_composes_with_tombstones_and_filter(spark, tmp_path):
    """Pending tombstones and the `allowed` predicate apply to range
    results at the same pre-scoring seams as top-k; an empty
    neighborhood returns zero rows, not an error."""
    from kafkastreamsproject_spark.streaming.annindex import (
        ann_range_index,
        create_ann_store,
        tombstone_vectors_in_index,
    )

    store = str(tmp_path / "range_tomb")
    create_ann_store(
        spark, store, _emb(spark, 0, 40), store_vectors=True
    )
    ann_ingest_batch(_emb(spark, 0, 40), store)
    q = _emb(spark, 0, 3)
    base = ann_range_index(spark, store, q, radius2=40_000, nprobe=2)
    victim = base.collect()[0].vec_id
    tombstone_vectors_in_index(
        spark, spark.createDataFrame([(int(victim),)], "vec_id long"), store
    )
    after = ann_range_index(spark, store, q, radius2=40_000, nprobe=2)
    assert victim not in {r.vec_id for r in after.collect()}

    evens = spark.createDataFrame(
        [(int(v),) for v in range(0, 40, 2)], "vec_id long"
    )
    filt = ann_range_index(
        spark, store, q, radius2=40_000, nprobe=2, allowed=evens
    )
    assert all(r.vec_id % 2 == 0 for r in filt.collect())

    # radius 0 IS exact-duplicate detection: the generator repeats
    # vectors with period 13, and only those twins qualify
    zero = ann_range_index(spark, store, q, radius2=0, nprobe=2).collect()
    assert zero and all(r.exact_dist2 == 0 for r in zero)
    assert all((r.vec_id - r.query_id) % 13 == 0 for r in zero)


def _emb29(spark, lo, hi, dim=8, shift=0.0):
    # period-29 pattern: more distinct vectors than K=16 codes, so the
    # codebook CANNOT memorize the training set and baseline_err2 > 0
    rows = [
        (int(v), [shift + ((v * 11 + i * 3) % 29) / 29.0 for i in range(dim)])
        for v in range(lo, hi)
    ]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    )


def test_codebook_drift_baseline_and_in_distribution_ratio(spark, tmp_path):
    """create_ann_store stamps the training-time fidelity baseline;
    measuring the training set itself reads drift_ratio == 1.0, a
    same-distribution continuation stays near 1, and a degenerate
    (memorizable) training set yields a NULL ratio, not Inf/NaN."""
    from kafkastreamsproject_spark.streaming.annindex import (
        ann_baseline,
        codebook_drift,
    )

    store = str(tmp_path / "drift")
    create_ann_store(spark, store, _emb29(spark, 0, 40))
    rec = ann_baseline(spark, store)
    assert rec is not None and rec["trained_n"] == 40
    assert rec["baseline_err2"] > 0

    same = codebook_drift(spark, store, _emb29(spark, 0, 40)).first()
    assert same.n_vectors == 40
    assert same.drift_ratio == 1.0
    cont = codebook_drift(spark, store, _emb29(spark, 40, 80)).first()
    assert 0.5 < cont.drift_ratio < 1.5

    # degenerate store: period-13 generator, 16 codes memorize it all
    degen = _fresh_store(spark, tmp_path, "drift_degen")
    z = codebook_drift(spark, degen, _emb(spark, 0, 40)).first()
    assert z.baseline_err2 == 0.0 and z.drift_ratio is None


def test_drift_gate_blocks_out_of_distribution_folds(spark, tmp_path):
    """The opt-in ingest gate: an out-of-distribution batch (training
    values live in [0,1); the batch sits at 10+) raises BEFORE any
    append — the store is byte-identical after — while the same gate
    passes an in-distribution batch.  Ungated folds still accept
    anything (alert-only deployments)."""
    import pytest

    from kafkastreamsproject_spark.streaming.annindex import read_seen

    store = str(tmp_path / "driftgate")
    create_ann_store(spark, store, _emb29(spark, 0, 40))
    ann_ingest_batch(_emb29(spark, 0, 20), store)

    far = _emb29(spark, 100, 120, shift=10.0)
    before_codes = read_codes(spark, store).count()
    before_seen = read_seen(spark, store).count()
    with pytest.raises(ValueError, match="drift gate"):
        ann_ingest_batch(far, store, max_drift_ratio=5.0)
    assert read_codes(spark, store).count() == before_codes
    assert read_seen(spark, store).count() == before_seen

    ok = ann_ingest_batch(
        _emb29(spark, 20, 40), store, max_drift_ratio=5.0
    )
    assert ok["vecs_indexed"] == 20
    # ungated: the same far batch folds (measure-and-alert deployments)
    assert ann_ingest_batch(far, store)["vecs_indexed"] == 20


def test_versioned_rebuild_publish_swap_and_retire(spark, tmp_path):
    """The versioned-serving loop end-to-end: build v0001 + publish,
    readers resolve it; rebuild_and_publish after an erasure swaps the
    pointer to v0002 atomically (an unpublished build leaves v0001
    serving); retire drops the old version but never the current."""
    import pytest

    from kafkastreamsproject_spark.sources.bucketed import (
        current_store_version,
        publish_store_version,
        resolve_store_version,
        retire_store_versions,
    )
    from kafkastreamsproject_spark.streaming.annindex import (
        rebuild_and_publish_ann_store,
        rebuild_ann_store,
    )

    base = str(tmp_path / "serving")
    corpus = _emb(spark, 0, 40)

    # a versioned base with no pointer refuses to serve
    with pytest.raises(ValueError, match="no published version"):
        resolve_store_version(spark, base)
    # publishing a nonexistent version dir refuses too
    (tmp_path / "serving").mkdir()
    with pytest.raises(ValueError, match="does not exist"):
        publish_store_version(spark, base, "v0001")

    create_ann_store(spark, f"{base}/v0001", corpus)
    ann_ingest_batch(corpus, f"{base}/v0001")
    publish_store_version(spark, base, "v0001")
    assert resolve_store_version(spark, base) == f"{base}/v0001"

    q = _emb(spark, 0, 3)
    before = _res(ann_query_index(spark, resolve_store_version(spark, base), q))
    assert before

    # an UNPUBLISHED rebuild (the crash window) changes nothing for
    # readers
    victims = spark.createDataFrame([(25,)], "vec_id long")
    rebuild_ann_store(spark, corpus, victims, f"{base}/v0002")
    assert current_store_version(spark, base) == "v0001"
    assert _res(
        ann_query_index(spark, resolve_store_version(spark, base), q)
    ) == before

    # the real swap: next version number derives past the orphan
    out = rebuild_and_publish_ann_store(spark, corpus, victims, base)
    assert out["version"] == "v0003"
    assert resolve_store_version(spark, base) == f"{base}/v0003"
    served = ann_query_index(spark, resolve_store_version(spark, base), q)
    assert 25 not in {r.vec_id for r in served.collect()}

    # retire: current survives, older versions leave
    doomed = retire_store_versions(spark, base, keep=1)
    assert doomed == ["v0001", "v0002"]
    assert resolve_store_version(spark, base) == f"{base}/v0003"
    assert _res(
        ann_query_index(spark, resolve_store_version(spark, base), q)
    ) == _res(served)


def test_store_stats_reflect_compaction_and_applies(spark, tmp_path):
    """describe_store's physical column: data_files climbs with
    epochs, drops at compaction; the tombstones row tracks pending →
    applied; species dispatch raises on a non-store path."""
    import pytest

    from kafkastreamsproject_spark.streaming.annindex import (
        apply_tombstones,
        tombstone_vectors_in_index,
    )
    from kafkastreamsproject_spark.streaming.storestats import (
        describe_store,
    )

    store = _fresh_store(spark, tmp_path, "stats")
    ann_ingest_batch(_emb(spark, 0, 20), store)
    ann_ingest_batch(_emb(spark, 20, 40), store)

    def snap():
        return {
            r.substore: (r.rows, r.data_files)
            for r in describe_store(spark, store).collect()
        }

    s1 = snap()
    assert s1["codes"][0] == 160 and s1["seen"][0] == 40
    assert s1["tombstones"] == (0, 0)
    assert "vecs" not in s1  # no sidecar on this store

    tombstone_vectors_in_index(
        spark, spark.createDataFrame([(25,), (33,)], "vec_id long"), store
    )
    assert snap()["tombstones"][0] == 2

    files_before = s1["codes"][1]
    compact_codes(spark, store)
    s2 = snap()
    assert s2["codes"][1] < files_before  # compaction shrank the layout
    assert s2["codes"][0] == 160          # without touching the rows

    apply_tombstones(spark, store)
    s3 = snap()
    assert s3["tombstones"] == (0, 0)
    assert s3["codes"][0] == 152 and s3["seen"][0] == 38

    with pytest.raises(ValueError, match="neither"):
        describe_store(spark, str(tmp_path / "not_a_store"))


def test_vector_upsert_reencodes_and_respects_residue_guard(
    spark, tmp_path
):
    """upsert_vectors_in_index re-encodes changed embeddings (equal to
    a survivors+new fresh build), converges on replay, and raises on a
    codebook training member (its old embedding persists in the
    snapshot)."""
    import pytest

    from kafkastreamsproject_spark.streaming.annindex import (
        upsert_vectors_in_index,
    )

    store = _fresh_store(spark, tmp_path, "vupsert")
    ann_ingest_batch(_emb(spark, 0, 40), store)

    changed = spark.createDataFrame(
        [(25, [float(i) / 8 for i in range(8)])],
        "vec_id long, embedding array<float>",
    )
    out = upsert_vectors_in_index(spark, changed, store)
    assert out["forgotten"]["codes"]["rows_deleted"] == 4
    assert out["vecs_indexed"] == 1

    fresh = str(tmp_path / "vupsert_fresh")
    create_ann_store(spark, fresh, _emb(spark, 0, 40))
    ann_ingest_batch(
        _emb(spark, 0, 40).filter(F.col("vec_id") != 25), fresh
    )
    ann_ingest_batch(changed, fresh)
    q = _emb(spark, 0, 3)
    assert _res(ann_query_index(spark, store, q)) == _res(
        ann_query_index(spark, fresh, q)
    )

    before = _res(ann_query_index(spark, store, q))
    upsert_vectors_in_index(spark, changed, store)
    assert _res(ann_query_index(spark, store, q)) == before

    training = spark.createDataFrame(
        [(2, [0.5] * 8)], "vec_id long, embedding array<float>"
    )
    with pytest.raises(ValueError, match="TRAINING"):
        upsert_vectors_in_index(spark, training, store)


def test_topk_and_range_store_scans_prune_to_probed_cells(
    spark, tmp_path, monkeypatch
):
    """r14 verdict #1: the serving reads push the probed cells into
    the codes/vecs scan as a literal ``cell IN (...)`` parquet filter
    (bucket pruning + SORTED-BY row-group skip — bytes ∝ probed
    cells), and the pruned results are IDENTICAL to an unpruned scan
    (the filter can only drop rows the probe equi-join would have
    dropped anyway)."""
    import kafkastreamsproject_spark.streaming.annindex as ai

    corpus = _emb(spark, 0, 40)
    store = str(tmp_path / "prune")
    ai.create_ann_store(
        spark, store, corpus,
        c_cells=12, k_codes=16, m_subspaces=4, n_buckets=8,
        store_vectors=True,
    )
    ann_ingest_batch(corpus, store)
    q = _emb(spark, 0, 3)

    got_topk = _res(ann_query_index(spark, store, q, k=5, nprobe=2))
    got_range = {
        (r.query_id, r.vec_id): r.exact_dist2
        for r in ai.ann_range_index(spark, store, q, radius2=3000).collect()
    }
    assert got_topk and got_range

    # the pruning helper pushes a literal IN on the clustering column
    probes = spark.createDataFrame(
        [(0, 1), (0, 2)], "query_id long, cell int"
    )
    pruned_plan = _plan(ai._pruned_to_probes(read_codes(spark, store), probes))
    assert "In(cell" in pruned_plan.replace(" ", ""), pruned_plan

    # equivalence: disabling the pruning changes NOTHING but bytes
    monkeypatch.setattr(ai, "_pruned_to_probes", lambda df, probes: df)
    assert _res(ann_query_index(spark, store, q, k=5, nprobe=2)) == got_topk
    assert {
        (r.query_id, r.vec_id): r.exact_dist2
        for r in ai.ann_range_index(spark, store, q, radius2=3000).collect()
    } == got_range
    monkeypatch.undo()

    # an empty query batch prunes to an empty (not full-store) scan
    empty = _emb(spark, 0, 0)
    assert ann_query_index(spark, store, empty).count() == 0

    # adversarial probe width (r15): past the cap the literal IN is
    # dropped (plan-bloat guard) and the broadcast-hash join alone
    # bounds the rows — results identical, plan carries no In(cell)
    monkeypatch.setenv("SPARK_GRAFT_MAX_PRUNE_CELLS", "1")
    wide_plan = _plan(ai._pruned_to_probes(read_codes(spark, store), probes))
    assert "In(cell" not in wide_plan.replace(" ", ""), wide_plan
    assert _res(ann_query_index(spark, store, q, k=5, nprobe=2)) == got_topk
    assert {
        (r.query_id, r.vec_id): r.exact_dist2
        for r in ai.ann_range_index(spark, store, q, radius2=3000).collect()
    } == got_range
    monkeypatch.delenv("SPARK_GRAFT_MAX_PRUNE_CELLS")


def test_vector_upsert_raises_on_pending_tombstones(spark, tmp_path):
    """r14 ADVICE (high), vector side: an upsert of a vec_id with a
    PENDING tombstone fails loudly instead of being silently swallowed
    by the pending set and the next apply; after apply_tombstones the
    same upsert goes through."""
    import pytest

    from kafkastreamsproject_spark.streaming.annindex import (
        apply_tombstones,
        tombstone_vectors_in_index,
        upsert_vectors_in_index,
    )

    store = _fresh_store(spark, tmp_path, "tombupsert")
    ann_ingest_batch(_emb(spark, 0, 40), store)
    tombstone_vectors_in_index(
        spark, spark.createDataFrame([(25,)], "vec_id long"), store
    )
    changed = spark.createDataFrame(
        [(25, [float(i) / 8 for i in range(8)])],
        "vec_id long, embedding array<float>",
    )
    with pytest.raises(ValueError, match="PENDING tombstone"):
        upsert_vectors_in_index(spark, changed, store)
    apply_tombstones(spark, store)
    out = upsert_vectors_in_index(spark, changed, store)
    assert out["vecs_indexed"] == 1

    fresh = _fresh_store(spark, tmp_path, "tombupsert_fresh")
    ann_ingest_batch(_emb(spark, 0, 40).filter(F.col("vec_id") != 25), fresh)
    ann_ingest_batch(changed, fresh)
    q = _emb(spark, 0, 3)
    assert _res(ann_query_index(spark, store, q)) == _res(
        ann_query_index(spark, fresh, q)
    )


def test_retire_store_versions_spares_unpublished_and_nonversion_dirs(
    spark, tmp_path
):
    """r14 ADVICE (low): with no _current pointer (crash before the
    first publish) retire is a NO-OP — it must never delete a
    fully-built, about-to-be-published store — and only ``v<digits>``
    directories are ever retirement candidates."""
    from kafkastreamsproject_spark.sources.bucketed import (
        publish_store_version,
        retire_store_versions,
    )

    base = tmp_path / "vbase"
    for name in ("v0001", "v0002", "scratch", "postings"):
        (base / name).mkdir(parents=True)

    # unpublished base: nothing may be deleted
    assert retire_store_versions(spark, str(base)) == []
    assert (base / "v0001").exists() and (base / "v0002").exists()

    publish_store_version(spark, str(base), "v0002")
    doomed = retire_store_versions(spark, str(base), keep=1)
    assert doomed == ["v0001"]
    assert not (base / "v0001").exists()
    # non-version children are never candidates
    assert (base / "scratch").exists() and (base / "postings").exists()
    assert (base / "v0002").exists()


def test_each_read_evaluates_its_query_batch_once(spark, tmp_path):
    """Top-k, range and rerank reads evaluate the caller's query
    relation once per call: a Python UDF in it counts one call per
    query row, and the rows equal those of an uncounted batch."""
    from pyspark.sql.functions import udf

    from kafkastreamsproject_spark.streaming.annindex import (
        ann_range_index,
        ann_rerank_index,
    )

    corpus = _emb(spark, 0, 40)
    store = str(tmp_path / "once")
    create_ann_store(
        spark, store, corpus,
        c_cells=12, k_codes=16, m_subspaces=4, n_buckets=8,
        store_vectors=True,
    )
    ann_ingest_batch(corpus, store)

    calls = spark.sparkContext.accumulator(0)

    @udf("array<float>")
    def counted(v):
        calls.add(1)
        return v

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    reads = {
        "topk": lambda q: ann_query_index(spark, store, q, k=5, nprobe=2),
        "range": lambda q: ann_range_index(spark, store, q, radius2=3000),
        "rerank": lambda q: ann_rerank_index(
            spark, store, q, k=5, nprobe=2, r_shortlist=10,
            vectors_from_store=True,
        ),
    }
    for name, read in reads.items():
        want = rows(read(_emb(spark, 0, 3)))
        assert want, name
        before = calls.value
        q = _emb(spark, 0, 3).select(
            "vec_id", counted("embedding").alias("embedding")
        )
        assert rows(read(q)) == want, name
        assert calls.value - before == 3, name
