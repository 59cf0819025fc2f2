"""Incremental BM25 inverted index (streaming/bm25index.py): exact
agreement with the batch scorer, replay idempotency, duplicate-doc
drops, living scores as the corpus grows, compaction safety, and the
store plan shapes.  The cross-engine check runs in
tests/test_shadow_queries.py (streaming_bm25_index vs the DuckDB
batch-BM25 oracle)."""

from __future__ import annotations

import pytest

import contextlib
import io
import re

from pyspark.sql import functions as F

from kafkastreamsproject_spark.plans.text import _BM25_TERMS, bm25_retrieval
from kafkastreamsproject_spark.streaming.bm25index import (
    compact_postings,
    index_ingest_batch,
    query_index,
    read_postings,
    read_seen,
)

TERMS = ("alpha", "beta", "gamma")


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _scores(df):
    return {r.doc_id: r.bm25 for r in df.collect()}


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


B1 = [
    (1, "alpha beta beta filler one"),
    (2, "gamma filler two three"),
    (3, "no match here at all"),
]
B2 = [
    (4, "alpha alpha gamma"),
    (5, "beta"),
    (6, "filler only document"),
]


def test_incremental_index_matches_batch_scorer(spark, sf_dir, tmp_path):
    """Folding the real corpus in two epochs then querying the stores
    scores EXACTLY like the batch full-scan scorer — same floats, same
    rows."""
    store = str(tmp_path / "corpus_idx")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    index_ingest_batch(docs.filter(F.col("doc_id") % 2 == 0), store)
    index_ingest_batch(docs.filter(F.col("doc_id") % 2 == 1), store)
    got = _scores(query_index(spark, store, _BM25_TERMS))
    want = _scores(bm25_retrieval(spark, sf_dir))
    assert got == want


def test_replay_is_idempotent(spark, tmp_path):
    """Re-folding a fully-applied batch is a no-op at every layer:
    nothing indexed, nothing appended, scores (and the seen-derived
    corpus stats under them) unchanged."""
    store = str(tmp_path / "replay_idx")
    index_ingest_batch(_docs(spark, B1), store)
    first = index_ingest_batch(_docs(spark, B2), store)
    assert first["docs_indexed"] == 3
    assert first["postings_appended"] > 0
    before = _scores(query_index(spark, store, TERMS))
    replay = index_ingest_batch(_docs(spark, B2), store)
    assert replay == {"docs_indexed": 0, "postings_appended": 0}
    assert _scores(query_index(spark, store, TERMS)) == before


def test_duplicate_doc_arrivals_are_dropped(spark, tmp_path):
    """A doc_id that re-arrives in a LATER batch (re-crawl, even with
    different text) is dropped at the seen probe — first-writer-wins
    at document granularity, so tf/df/N never double-count."""
    store = str(tmp_path / "dup_idx")
    index_ingest_batch(_docs(spark, B1), store)
    before = _scores(query_index(spark, store, TERMS))
    res = index_ingest_batch(
        _docs(spark, [(1, "alpha alpha alpha rewritten")]), store
    )
    assert res == {"docs_indexed": 0, "postings_appended": 0}
    assert _scores(query_index(spark, store, TERMS)) == before
    assert read_seen(spark, store).count() == 3


def test_duplicate_docs_within_one_batch_are_dropped(spark, tmp_path):
    """A doc_id appearing TWICE inside one micro-batch indexes once:
    before the intra-batch dedup, both copies passed the store-side
    freshness probe — duplicate seen-ledger rows (N and dl_sum
    double-counted, skewing every score) and doubled tf in postings
    (r12 ADVICE)."""
    store = str(tmp_path / "intradup_idx")
    doubled = B1 + [(1, "alpha beta beta filler one")]
    res = index_ingest_batch(_docs(spark, doubled), store)
    assert res["docs_indexed"] == 3
    assert read_seen(spark, store).count() == 3
    # postings carry ONE (t, doc) row per distinct pair, tf not doubled
    tf = {
        (r.t, r.doc_id): r.tf
        for r in read_postings(spark, store).collect()
    }
    assert tf[("beta", 1)] == 2
    # and the scores equal a clean single-copy build exactly
    clean = str(tmp_path / "intradup_clean")
    index_ingest_batch(_docs(spark, B1), clean)
    assert _scores(query_index(spark, store, TERMS)) == _scores(
        query_index(spark, clean, TERMS)
    )


def test_df_cap_bounds_posting_lists_first_writers_win(spark, tmp_path):
    """The append-time term-skew gate: a term's posting list never
    exceeds df_cap rows, the keepers are the first-cap docs in
    (epoch, doc_id) order, the seen ledger still counts EVERY doc
    (stats are uncapped), and the cap is a store property — a fold
    with a different cap is rejected at the sidecar."""
    import pytest

    store = str(tmp_path / "cap_idx")
    mk = lambda lo, hi: _docs(  # noqa: E731
        spark, [(i, f"hot rare{i}") for i in range(lo, hi)]
    )
    index_ingest_batch(mk(0, 4), store, df_cap=5)
    index_ingest_batch(mk(4, 10), store, df_cap=5)
    hot = {
        r.doc_id
        for r in read_postings(spark, store)
        .filter(F.col("t") == "hot")
        .collect()
    }
    assert hot == {0, 1, 2, 3, 4}  # first-5-writers-win
    # rare terms (df 1 each) are untouched by the gate
    assert (
        read_postings(spark, store).filter(F.col("t") != "hot").count() == 10
    )
    # the ledger still counts all 10 docs — N/avgdl are uncapped
    assert read_seen(spark, store).count() == 10
    # the cap is a store property: a mismatched fold fails loudly
    with pytest.raises(ValueError, match="df_cap=5"):
        index_ingest_batch(mk(10, 12), store, df_cap=7)
    with pytest.raises(ValueError, match="df_cap=5"):
        index_ingest_batch(mk(10, 12), store)
    # replaying the capped epochs is still a no-op (seen probe first)
    res = index_ingest_batch(mk(4, 10), store, df_cap=5)
    assert res == {"docs_indexed": 0, "postings_appended": 0}


def test_df_cap_gates_positional_store_consistently(spark, tmp_path):
    """With positional=True the phrase store keeps exactly the capped
    term set — a phrase probe can never see a (t, doc) the term probe
    can't."""
    from kafkastreamsproject_spark.streaming.bm25index import (
        read_positions,
    )

    store = str(tmp_path / "cap_pos")
    docs = _docs(
        spark, [(i, "hot hot filler") for i in range(6)]
    )
    index_ingest_batch(docs, store, positional=True, df_cap=3)
    posts = {
        (r.t, r.doc_id) for r in read_postings(spark, store).collect()
    }
    pos = {
        (r.t, r.doc_id) for r in read_positions(spark, store).collect()
    }
    assert pos == posts
    assert len({d for (t, d) in posts if t == "hot"}) == 3


def test_scores_are_corpus_relative_and_docs_persist(spark, tmp_path):
    """A doc indexed in epoch 0 stays retrievable after epoch 1, and
    its score MOVES — df/N/avgdl are corpus statistics, so new data
    re-prices old documents without re-indexing them."""
    store = str(tmp_path / "grow_idx")
    index_ingest_batch(_docs(spark, B1), store)
    e0 = _scores(query_index(spark, store, TERMS))
    index_ingest_batch(_docs(spark, B2), store)
    e1 = _scores(query_index(spark, store, TERMS))
    assert set(e0) == {1, 2}
    assert set(e1) == {1, 2, 4, 5}
    assert e1[1] != e0[1]


def test_compaction_preserves_scores(spark, tmp_path):
    store = str(tmp_path / "compact_idx")
    index_ingest_batch(_docs(spark, B1), store)
    index_ingest_batch(_docs(spark, B2), store)
    before = _scores(query_index(spark, store, TERMS))
    n_files = compact_postings(spark, store)
    assert n_files > 0
    assert _scores(query_index(spark, store, TERMS)) == before


def test_store_plan_shapes(spark, tmp_path):
    """The two store disciplines, plan-asserted: (a) the query-side
    postings probe pushes the term filter into the scan with zero
    Exchange — the corpus-sized store never re-shuffles for a query;
    (b) the ingest-side seen probe anti-joins ON THE BUCKET KEY, so
    the store side scans its buckets in place (Bucketed: true, ≤1
    Exchange — the batch side's only)."""
    from kafkastreamsproject_spark.sources.bucketed import (
        shuffle_scoped_to_buckets,
    )
    from kafkastreamsproject_spark.streaming.bm25index import N_BUCKETS

    store = str(tmp_path / "plan_idx")
    index_ingest_batch(_docs(spark, B1), store)

    hits = read_postings(spark, store).filter(F.col("t").isin(list(TERMS)))
    plan = _plan(hits)
    assert re.search(r"PushedFilters: \[.*In\(t, ", plan), plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 0, plan

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        probe = _docs(spark, B2).join(
            read_seen(spark, store).select("doc_id"), "doc_id", "left_anti"
        )
        with shuffle_scoped_to_buckets(spark, N_BUCKETS):
            j_plan = _plan(probe)
        assert "Bucketed: true" in j_plan, j_plan
        assert len(re.findall(r"\(\d+\) Exchange", j_plan)) <= 1, j_plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_phrase_query_counts_overlaps_and_spans_epochs(spark, tmp_path):
    """Positional leg edges: overlapping matches count individually
    ("a a a" contains "a a" twice), phrase matches assemble across
    docs folded in DIFFERENT epochs, non-adjacent term pairs don't
    match, and a replayed fold changes nothing."""
    from kafkastreamsproject_spark.streaming.bm25index import (
        phrase_query_index,
    )

    store = str(tmp_path / "phrase_idx")
    p1 = [
        (1, "a a a"),            # overlap: "a a" twice
        (2, "a b a a b"),        # "a a" once (positions 2,3)
        (3, "a x a"),            # never adjacent: no match
    ]
    p2 = [
        (4, "z a a z a a"),      # two occurrences, folded later
        (5, "b b b"),            # wrong terms entirely
    ]
    index_ingest_batch(_docs(spark, p1), store, positional=True)
    index_ingest_batch(_docs(spark, p2), store, positional=True)
    got = {
        r.doc_id: r.n_occurrences
        for r in phrase_query_index(spark, store, ("a", "a")).collect()
    }
    assert got == {1: 2, 2: 1, 4: 2}
    # replayed fold: no change
    index_ingest_batch(_docs(spark, p2), store, positional=True)
    again = {
        r.doc_id: r.n_occurrences
        for r in phrase_query_index(spark, store, ("a", "a")).collect()
    }
    assert again == got
    # three-term phrase over the same store
    tri = {
        r.doc_id: r.n_occurrences
        for r in phrase_query_index(spark, store, ("a", "a", "a")).collect()
    }
    assert tri == {1: 1}


def test_forget_docs_is_bucket_local_and_reindexable(spark, tmp_path):
    """Erasure discipline: (a) postings buckets the victims' terms
    don't hash to keep byte-identical files; (b) after erasure the
    index scores exactly like one built from the survivors (incl.
    positional phrase counts); (c) the erased doc_id is re-indexable
    (first-writer-wins restarts); (d) replaying the erasure is a
    no-op."""
    import os

    from kafkastreamsproject_spark.streaming.bm25index import (
        forget_docs_in_index,
        phrase_query_index,
    )

    def files(store, sub):
        root = f"{store}/{sub}"
        return {
            f: os.path.getmtime(os.path.join(root, f))
            for f in os.listdir(root)
            if f.endswith(".parquet")
        }

    docs = [
        (1, "alpha beta alpha"),
        (2, "beta gamma"),
        (3, "victim victim beta victim"),
        (4, "gamma gamma alpha"),
    ]
    store = str(tmp_path / "forget_idx")
    index_ingest_batch(_docs(spark, docs), store, positional=True)
    victims = spark.createDataFrame([(3,)], "doc_id long")
    before_files = files(store, "postings")

    res = forget_docs_in_index(spark, victims, store)
    assert res["postings"]["rows_deleted"] == 2  # victim, beta
    assert res["seen"]["rows_deleted"] == 1

    # (a) untouched buckets byte-identical: every parquet file not
    # rewritten still has its original mtime, and at least one
    # survives (alpha/gamma buckets differ from victim/beta's)
    after_files = files(store, "postings")
    untouched = {
        f for f in after_files
        if f in before_files and after_files[f] == before_files[f]
    }
    assert untouched, (before_files, after_files)

    # (b) scores == a fresh index over the survivors
    surv = [d for d in docs if d[0] != 3]
    fresh_store = str(tmp_path / "fresh_idx")
    index_ingest_batch(_docs(spark, surv), fresh_store, positional=True)
    assert _scores(query_index(spark, store, TERMS)) == _scores(
        query_index(spark, fresh_store, TERMS)
    )
    got_phrase = {
        r.doc_id: r.n_occurrences
        for r in phrase_query_index(spark, store, ("victim", "victim")).collect()
    }
    assert got_phrase == {}

    # (d) replay: no-op
    res2 = forget_docs_in_index(spark, victims, store)
    assert res2["postings"]["rows_deleted"] == 0
    assert res2["seen"]["rows_deleted"] == 0

    # (c) re-indexable afterwards
    back = index_ingest_batch(
        _docs(spark, [(3, "victim victim beta victim")]), store,
        positional=True,
    )
    assert back["docs_indexed"] == 1
    got_phrase2 = {
        r.doc_id: r.n_occurrences
        for r in phrase_query_index(spark, store, ("victim", "victim")).collect()
    }
    assert got_phrase2 == {3: 1}


def test_forget_rows_requires_bucket_key_in_match_cols(spark, tmp_path):
    import pytest

    from kafkastreamsproject_spark.sources.bucketed import (
        forget_rows_in_store,
    )

    with pytest.raises(ValueError, match="must include the bucket key"):
        forget_rows_in_store(
            spark,
            spark.createDataFrame([(1,)], "doc_id long"),
            str(tmp_path / "nope"),
            "nope_table",
            "t string, doc_id long",
            ["t"],
            8,
            match_cols=["doc_id"],
        )


def test_streaming_sink_applies_markers_and_skips_replays(spark, tmp_path):
    """The foreachBatch wrapper: epochs fold through the store with
    _applied_epochs markers; re-running the stream over the same
    checkpoint (plus a new file) folds ONLY the new epoch — marked
    epochs are skipped, which is what keeps the batch API's crash
    window unreachable in streaming operation.  A NEW query (fresh
    checkpoint, so its epoch ids restart at 0) over the same store
    must fold its epochs: markers belong to the query that wrote
    them."""
    from kafkastreamsproject_spark.streaming.bm25index import (
        to_index_ingest_sink,
    )

    src = tmp_path / "src"
    src.mkdir()

    def write_batch(i, rows, src=src):
        _docs(spark, rows).coalesce(1).write.parquet(str(src / f"b{i}.parquet"))

    def run_stream(src=src, ckpt="ckpt"):
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src) + "/*")
        )
        q = to_index_ingest_sink(
            stream, str(tmp_path / "store"), str(tmp_path / ckpt)
        )
        q.processAllAvailable()
        q.stop()

    write_batch(0, B1)
    write_batch(1, B2)
    run_stream()
    after_two = _scores(query_index(spark, str(tmp_path / "store"), TERMS))
    assert set(after_two) == {1, 2, 4, 5}
    import os

    def _markers():
        return [
            f
            for f in os.listdir(str(tmp_path / "store" / "_applied_epochs"))
            if not f.startswith(".")
        ]

    assert len(_markers()) == 2

    # restart with one NEW file: only the new epoch folds
    write_batch(2, [(7, "alpha gamma fresh")])
    run_stream()
    after_three = _scores(query_index(spark, str(tmp_path / "store"), TERMS))
    assert set(after_three) == {1, 2, 4, 5, 7}
    assert len(_markers()) == 3

    # a fresh checkpoint over the same store: its epoch 0 is a new
    # epoch of a new query, not a replay of the first query's epoch 0
    fresh_src = tmp_path / "fresh_src"
    fresh_src.mkdir()
    write_batch(0, [(8, "beta fresh start")], src=fresh_src)
    run_stream(src=fresh_src, ckpt="fresh_ckpt")
    after_fresh = _scores(query_index(spark, str(tmp_path / "store"), TERMS))
    assert set(after_fresh) == {1, 2, 4, 5, 7, 8}
    assert len(_markers()) == 4


@pytest.mark.slowsuite  # r16: slowest-tail; deselected by default (pyproject addopts), run via -m slowsuite
def test_adaptive_compaction_trigger_fires(spark, tmp_path, monkeypatch):
    """The file-count compaction trigger (r12 verdict #6): with the
    storeconfig threshold lowered to one file per bucket, streaming six
    epochs through the sink leaves the postings store at ≤ 2 files per
    bucket — the trigger fired on its own — and the scores equal an
    uncompacted build exactly."""
    import dataclasses

    from kafkastreamsproject_spark import storeconfig
    from kafkastreamsproject_spark.sources.bucketed import (
        max_files_per_bucket,
    )
    from kafkastreamsproject_spark.streaming.bm25index import (
        to_index_ingest_sink,
    )

    src = tmp_path / "src"
    src.mkdir()
    batches = [
        [(10 * i + j, f"alpha beta doc{10 * i + j}") for j in range(3)]
        for i in range(6)
    ]
    for i, rows in enumerate(batches):
        _docs(spark, rows).coalesce(1).write.parquet(str(src / f"b{i}.parquet"))
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*")
    )
    store = str(tmp_path / "adaptive_store")
    monkeypatch.setattr(
        storeconfig,
        "DEFAULTS",
        dataclasses.replace(storeconfig.DEFAULTS, compact_files_per_bucket=1),
    )
    q = to_index_ingest_sink(stream, store, str(tmp_path / "ckpt"))
    q.processAllAvailable()
    q.stop()
    # six epochs appended ≥6 files into the hot terms' bucket; the
    # trigger must have compacted back down (≤1 per bucket + at most
    # one post-compaction epoch's worth)
    assert max_files_per_bucket(spark, f"{store}/postings") <= 2
    # and compaction changed no answer
    manual = str(tmp_path / "manual_store")
    for rows in batches:
        index_ingest_batch(_docs(spark, rows), manual)
    assert _scores(query_index(spark, store, TERMS)) == _scores(
        query_index(spark, manual, TERMS)
    )


def test_df_cap_replay_in_crash_window_is_deterministic(spark, tmp_path):
    """r13 ADVICE: the df-cap gate must compute the SAME kept set on a
    crash-window replay (postings appended, seen never committed) as on
    the first run — the gate's store probe excludes the batch's own
    doc_ids, so orphaned rows can't inflate df_now.  Before the fix, a
    PARTIAL orphan append (crash mid-write) permanently dropped
    under-cap postings the first run kept: here the orphaned 'hot' row
    of doc 2 would push df_now(hot) to 3, so the replayed gate rejected
    doc 2's own posting and the store diverged from the
    first-cap-writers-win state the DuckDB oracle recomputes."""
    from kafkastreamsproject_spark.sources.bucketed import (
        append_bucketed_store,
        shuffle_scoped_to_buckets,
        store_table_name,
    )
    from kafkastreamsproject_spark.streaming.bm25index import (
        N_BUCKETS,
        _apply_df_cap,
        _postings_path,
        doc_postings,
    )

    b1 = _docs(spark, [(0, "hot filler"), (1, "hot filler")])
    b2 = _docs(spark, [(2, "hot rare2"), (3, "hot rare3"), (4, "hot rare4")])

    crash, clean = str(tmp_path / "crash"), str(tmp_path / "clean")
    for store in (crash, clean):
        index_ingest_batch(b1, store, df_cap=3)

    # crash window on `crash`: batch 2's capped postings PARTIALLY
    # appended (only the hot rows reached the store), seen never
    # committed — then the full fold replays
    with shuffle_scoped_to_buckets(spark, N_BUCKETS):
        orphan = (
            _apply_df_cap(
                spark, doc_postings(b2), crash, N_BUCKETS, 3
            )
            .filter(F.col("t") == "hot")
            .localCheckpoint(eager=True)
        )
        assert orphan.count() == 1  # doc 2: the one under-cap hot slot
        p_path = _postings_path(crash)
        append_bucketed_store(
            spark, orphan, p_path,
            store_table_name("bm25_postings", p_path), ["t"], N_BUCKETS,
        )
    index_ingest_batch(b2, crash, df_cap=3)
    index_ingest_batch(b2, clean, df_cap=3)

    def distinct_rows(store):
        return {
            (r.t, r.doc_id, r.tf, r.dl)
            for r in read_postings(spark, store).collect()
        }

    # identical kept set — the orphan duplicated a KEPT row, never
    # changed membership
    assert distinct_rows(crash) == distinct_rows(clean)
    assert ("hot", 2, 1, 2) in distinct_rows(crash)
    # the only duplicates are exact copies of kept rows
    dup = (
        read_postings(spark, crash)
        .groupBy("t", "doc_id")
        .count()
        .filter(F.col("count") > 1)
        .collect()
    )
    assert {(r.t, r.doc_id) for r in dup} == {("hot", 2)}


def test_tombstone_scores_exactly_like_survivor_index(spark, tmp_path):
    """Logical delete (r14): with doc 1 pending, every surviving doc
    scores EXACTLY as an index that never held doc 1 — BM25 is a
    corpus-statistics scorer, so the pending set must leave df AND
    N/avgdl, not just the result rows (hiding the doc but keeping its
    statistics would mis-score every survivor until compaction)."""
    from kafkastreamsproject_spark.streaming.bm25index import (
        read_tombstones,
        tombstone_docs_in_index,
    )

    store = str(tmp_path / "tombidx")
    index_ingest_batch(_docs(spark, B1), store)
    index_ingest_batch(_docs(spark, B2), store)
    assert read_tombstones(spark, store) is None
    res = tombstone_docs_in_index(
        spark, spark.createDataFrame([(1,)], "doc_id long"), store
    )
    assert res == {"tombstoned": 1, "pending": 1}

    survivor_store = str(tmp_path / "system_of_record")
    index_ingest_batch(
        _docs(spark, [r for r in B1 if r[0] != 1]), survivor_store
    )
    index_ingest_batch(_docs(spark, B2), survivor_store)

    got = _scores(query_index(spark, store, TERMS))
    want = _scores(query_index(spark, survivor_store, TERMS))
    assert 1 not in got
    assert got == want


def test_apply_tombstones_is_physical_invisible_and_idempotent(
    spark, tmp_path
):
    """apply_tombstones: same scores before and after, postings bytes
    gone, pending set cleared LAST, replay a no-op, id re-indexable;
    the positional store leaves too — it holds rows, so it takes part
    without a flag, and an erased doc never comes back to a phrase
    query."""
    from kafkastreamsproject_spark.streaming.bm25index import (
        apply_tombstones,
        phrase_query_index,
        read_positions,
        read_tombstones,
        tombstone_docs_in_index,
    )

    store = str(tmp_path / "tombapplyidx")
    index_ingest_batch(_docs(spark, B1), store, positional=True)
    index_ingest_batch(_docs(spark, B2), store, positional=True)
    tombstone_docs_in_index(
        spark, spark.createDataFrame([(1,), (4,)], "doc_id long"), store
    )
    # pending docs leave phrase results too
    assert {
        r.doc_id
        for r in phrase_query_index(spark, store, ("alpha", "beta")).collect()
    } == set()

    logical = _scores(query_index(spark, store, TERMS))
    out = apply_tombstones(spark, store)
    assert out["applied"] == 2
    assert out["postings"]["rows_deleted"] > 0
    assert out["seen"]["rows_deleted"] == 2
    assert read_tombstones(spark, store) is None
    assert read_postings(spark, store).filter(
        F.col("doc_id").isin([1, 4])
    ).count() == 0
    assert read_positions(spark, store).filter(
        F.col("doc_id").isin([1, 4])
    ).count() == 0
    assert {
        r.doc_id
        for r in phrase_query_index(spark, store, ("alpha", "beta")).collect()
    }.isdisjoint({1, 4})
    assert _scores(query_index(spark, store, TERMS)) == logical
    assert apply_tombstones(spark, store) == {"applied": 0}

    # re-ingest blocked while pending, open after apply
    back = index_ingest_batch(
        _docs(spark, [(1, "alpha beta beta filler one")]), store,
        positional=True,
    )
    assert back["docs_indexed"] == 1


def test_boolean_query_semantics(spark, tmp_path):
    """must = AND, must_not = veto (never scores), should-only
    degenerates to query_index verbatim; contract errors raise."""
    import pytest

    from kafkastreamsproject_spark.streaming.bm25index import (
        boolean_query_index,
    )

    store = str(tmp_path / "boolidx")
    index_ingest_batch(_docs(spark, B1), store)
    index_ingest_batch(_docs(spark, B2), store)

    # must: only docs containing BOTH alpha and beta (doc 1)
    both = _scores(boolean_query_index(spark, store, must=("alpha", "beta")))
    assert set(both) == {1}
    # veto: alpha-docs without gamma (docs 1, 4 have alpha; 4 has gamma)
    no_gamma = _scores(
        boolean_query_index(spark, store, must=("alpha",),
                            must_not=("gamma",))
    )
    assert set(no_gamma) == {1}
    # should-only == the disjunctive scorer, float for float
    assert _scores(boolean_query_index(spark, store, should=TERMS)) == (
        _scores(query_index(spark, store, TERMS))
    )
    # a must+should doc scores over BOTH terms: doc 1 (alpha+beta)
    # must=alpha should=beta > must=alpha alone for doc 1
    a = _scores(boolean_query_index(spark, store, must=("alpha",),
                                    should=("beta",)))
    b = _scores(boolean_query_index(spark, store, must=("alpha",)))
    assert a[1] > b[1]
    with pytest.raises(ValueError, match="at least one scoring term"):
        boolean_query_index(spark, store, must_not=("alpha",))
    with pytest.raises(ValueError, match="cannot both"):
        boolean_query_index(spark, store, must=("alpha",),
                            must_not=("alpha",))


def test_boolean_query_honors_tombstones(spark, tmp_path):
    """A pending logical delete leaves boolean results and their
    statistics: scores equal a survivors-only index."""
    from kafkastreamsproject_spark.streaming.bm25index import (
        boolean_query_index,
        tombstone_docs_in_index,
    )

    store = str(tmp_path / "booltomb")
    index_ingest_batch(_docs(spark, B1), store)
    index_ingest_batch(_docs(spark, B2), store)
    tombstone_docs_in_index(
        spark, spark.createDataFrame([(4,)], "doc_id long"), store
    )
    surv = str(tmp_path / "boolsurv")
    index_ingest_batch(_docs(spark, B1), surv)
    index_ingest_batch(_docs(spark, [r for r in B2 if r[0] != 4]), surv)
    got = _scores(boolean_query_index(spark, store, must=("alpha",)))
    want = _scores(boolean_query_index(spark, surv, must=("alpha",)))
    assert 4 not in got and got == want


def test_upsert_reindexes_changed_docs_and_converges_on_replay(
    spark, tmp_path
):
    """upsert = forget-then-fold: changed text re-prices the whole
    index (equal to a fresh build over the updated corpus); replaying
    the upsert is a no-op; genuinely-new ids pass straight through."""
    from kafkastreamsproject_spark.streaming.bm25index import (
        upsert_docs_in_index,
    )

    store = str(tmp_path / "upsertidx")
    index_ingest_batch(_docs(spark, B1), store)
    index_ingest_batch(_docs(spark, B2), store)

    changed = _docs(spark, [(1, "gamma gamma gamma"), (7, "alpha beta new")])
    out = upsert_docs_in_index(spark, changed, store)
    assert out["forgotten"]["seen"]["rows_deleted"] == 1  # only doc 1 existed
    assert out["docs_indexed"] == 2

    fresh = str(tmp_path / "upsertfresh")
    index_ingest_batch(
        _docs(spark, [(1, "gamma gamma gamma")] + B1[1:] + B2
              + [(7, "alpha beta new")]),
        fresh,
    )
    assert _scores(query_index(spark, store, TERMS)) == _scores(
        query_index(spark, fresh, TERMS)
    )

    # at-least-once replay of the SAME upsert converges (forget
    # re-runs against the new rows, fold restores them identically)
    before = _scores(query_index(spark, store, TERMS))
    upsert_docs_in_index(spark, changed, store)
    assert _scores(query_index(spark, store, TERMS)) == before


def test_upsert_raises_on_pending_tombstones(spark, tmp_path):
    """r14 ADVICE (high): upserting a doc whose delete is still
    PENDING must fail loudly — silently proceeding loses the update
    (the pending set anti-joins the re-folded rows out of every query
    and the next apply physically deletes the NEW rows).  After
    apply_tombstones the same upsert goes through and scores like a
    fresh build over the updated corpus."""
    import pytest

    from kafkastreamsproject_spark.streaming.bm25index import (
        apply_tombstones,
        tombstone_docs_in_index,
        upsert_docs_in_index,
    )

    store = str(tmp_path / "tombupsert")
    index_ingest_batch(_docs(spark, B1), store)
    index_ingest_batch(_docs(spark, B2), store)
    tombstone_docs_in_index(
        spark, spark.createDataFrame([(1,)], "doc_id long"), store
    )
    changed = _docs(spark, [(1, "gamma gamma gamma")])
    with pytest.raises(ValueError, match="PENDING tombstone"):
        upsert_docs_in_index(spark, changed, store)
    # the documented resolution order: apply first, then upsert
    apply_tombstones(spark, store)
    upsert_docs_in_index(spark, changed, store)

    fresh = str(tmp_path / "tombupsert_fresh")
    index_ingest_batch(
        _docs(spark, [(1, "gamma gamma gamma")] + B1[1:] + B2), fresh
    )
    assert _scores(query_index(spark, store, TERMS)) == _scores(
        query_index(spark, fresh, TERMS)
    )


def test_upsert_replayed_after_its_forget_emptied_positions_stays_positional(
    spark, tmp_path, monkeypatch
):
    """An upsert of every doc of a positional index forgets all their
    positions, leaving the positions store without files.  A crash
    before the fold, then a replay, must still fold positionally: the
    flag comes from the index's sidecar, not from the store's files."""
    from kafkastreamsproject_spark.streaming import bm25index
    from kafkastreamsproject_spark.streaming import keyedstore as ks

    store = str(tmp_path / "upsertcrash")
    index_ingest_batch(
        _docs(spark, [(1, "red fox runs"), (2, "blue fox sleeps")]),
        store, positional=True,
    )
    changed = _docs(spark, [(1, "red fox naps"), (2, "blue fox sleeps")])
    fold = bm25index.index_ingest_batch

    def crash_once(*args, **kwargs):
        monkeypatch.setattr(bm25index, "index_ingest_batch", fold)
        raise RuntimeError("crash before the fold")

    monkeypatch.setattr(bm25index, "index_ingest_batch", crash_once)
    with pytest.raises(RuntimeError, match="crash before the fold"):
        bm25index.upsert_docs_in_index(spark, changed, store)
    assert not ks.takes_part(
        spark, bm25index._POSITIONS, store, bm25index.N_BUCKETS
    )

    bm25index.upsert_docs_in_index(spark, changed, store)
    got = {
        r.doc_id: r.n_occurrences
        for r in bm25index.phrase_query_index(
            spark, store, ("red", "fox")
        ).collect()
    }
    assert got == {1: 1}


def test_corpus_stats_sidecar_tracks_ledger_without_scanning_it(
    spark, tmp_path, monkeypatch
):
    """r14 verdict #2: (n_docs, dl_sum) maintained incrementally in
    the stats/ delta log — the query path's corpus stats come from the
    sidecar (no seen-ledger scan in the plan), stay equal to a full
    ledger aggregate through folds / replays / forgets / upserts /
    compaction, and score bit-identically to the legacy ledger-scan
    path with and without pending tombstones."""
    import kafkastreamsproject_spark.streaming.bm25index as bm

    store = str(tmp_path / "statsidecar")

    def ledger_truth():
        r = (
            read_seen(spark, store)
            .agg(F.count(F.lit(1)).alias("n"), F.sum("dl").alias("s"))
            .first()
        )
        return (r.n, r.s or 0)

    index_ingest_batch(_docs(spark, B1), store)
    index_ingest_batch(_docs(spark, B2), store)
    assert bm.read_stats_sidecar(spark, store) == ledger_truth()

    # replayed epochs add nothing (fresh set is empty -> no delta)
    index_ingest_batch(_docs(spark, B2), store)
    assert bm.read_stats_sidecar(spark, store) == ledger_truth()

    # the serving read plans NO seen-ledger scan (the O(N)-bytes leg
    # the sidecar exists to remove); the postings probe remains
    plan = _plan(query_index(spark, store, TERMS))
    assert "bm25_seen" not in plan, plan
    assert "bm25_postings" in plan, plan

    # scores == the legacy full-ledger aggregate path, bit-identical
    with_sidecar = _scores(query_index(spark, store, TERMS))
    monkeypatch.setattr(bm, "read_stats_sidecar", lambda *a, **k: None)
    assert _scores(query_index(spark, store, TERMS)) == with_sidecar
    monkeypatch.undo()

    # forget writes a negative delta from the pre-forget ledger
    from kafkastreamsproject_spark.streaming.bm25index import (
        forget_docs_in_index,
        tombstone_docs_in_index,
    )

    forget_docs_in_index(
        spark, spark.createDataFrame([(3,)], "doc_id long"), store
    )
    assert bm.read_stats_sidecar(spark, store) == ledger_truth()
    # replaying a completed forget is a no-op for the stats too
    forget_docs_in_index(
        spark, spark.createDataFrame([(3,)], "doc_id long"), store
    )
    assert bm.read_stats_sidecar(spark, store) == ledger_truth()

    # pending tombstones adjust through the PRUNED ledger probe with
    # the exact legacy anti-join semantics
    tombstone_docs_in_index(
        spark, spark.createDataFrame([(2,)], "doc_id long"), store
    )
    with_sidecar = _scores(query_index(spark, store, TERMS))
    monkeypatch.setattr(bm, "read_stats_sidecar", lambda *a, **k: None)
    assert _scores(query_index(spark, store, TERMS)) == with_sidecar
    monkeypatch.undo()

    # compaction collapses the delta log to one file, totals unchanged
    before = bm.read_stats_sidecar(spark, store)
    compact_postings(spark, store)
    assert bm.read_stats_sidecar(spark, store) == before
    assert len(bm._list_stats_deltas(spark, store)) == 1


def test_stats_delta_crash_window_replay_is_exactly_once(spark, tmp_path):
    """The delta writer's fingerprint skip: a fold that crashed AFTER
    its stats delta but BEFORE the seen commit replays to the same
    fresh set and must NOT double-count — simulated by writing the
    delta manually (the crashed fold's state) and then running the
    full fold."""
    import kafkastreamsproject_spark.streaming.bm25index as bm

    store = str(tmp_path / "statscrash")
    index_ingest_batch(_docs(spark, B1), store)

    # simulate the crash window for batch B2: postings + stats delta
    # written, seen never committed
    fresh = _docs(spark, B2).select(
        "doc_id", F.size(bm.TX.tokens(F.col("text"))).cast("long").alias("dl")
    )
    rec = bm._stats_record(fresh)
    bm._write_stats_delta(spark, store, "a", rec.n, rec.s, rec.fp)

    # the replayed fold recomputes the identical delta and skips it
    index_ingest_batch(_docs(spark, B2), store)
    r = (
        read_seen(spark, store)
        .agg(F.count(F.lit(1)).alias("n"), F.sum("dl").alias("s"))
        .first()
    )
    assert bm.read_stats_sidecar(spark, store) == (r.n, r.s)


def test_bm25_store_stats_resolves_nondefault_width(spark, tmp_path):
    """r14 ADVICE (low): the ops readout must resolve each substore's
    bucket width from its _store_meta.json — a hardcoded default made
    it raise on any index created at a non-default width (exactly the
    large stores it targets)."""
    from kafkastreamsproject_spark.streaming.storestats import (
        bm25_store_stats,
        describe_store,
    )

    store = str(tmp_path / "widestats")
    index_ingest_batch(_docs(spark, B1), store, n_buckets=4)
    rows = {r.substore: r.rows for r in bm25_store_stats(spark, store).collect()}
    assert rows["seen"] == len(B1)
    assert rows["postings"] > 0
    assert {
        r.substore: r.rows for r in describe_store(spark, store).collect()
    }["seen"] == len(B1)


def test_wide_term_probe_switches_to_semi_join(spark, tmp_path, monkeypatch):
    """r15 VERDICT #8: past $SPARK_GRAFT_MAX_PROBE_TERMS distinct terms
    the ``t IN (...)`` probe switches to a broadcast left-semi join —
    identical results (query and boolean), no giant In(t, ...) literal
    in the wide plan."""
    from kafkastreamsproject_spark.streaming.bm25index import (
        boolean_query_index,
    )

    store = str(tmp_path / "wide_probe_idx")
    index_ingest_batch(_docs(spark, B1), store)
    index_ingest_batch(_docs(spark, B2), store)

    terms = ("alpha", "beta", "gamma")
    narrow = _scores(query_index(spark, store, terms))
    narrow_bool = _scores(
        boolean_query_index(
            spark, store, must=("alpha",), should=("beta", "gamma")
        )
    )
    narrow_plan = _plan(query_index(spark, store, terms))
    assert "In(t," in narrow_plan.replace(" ", ""), narrow_plan

    # adversarial width: cap of 1 forces every probe onto the
    # semi-join path
    monkeypatch.setenv("SPARK_GRAFT_MAX_PROBE_TERMS", "1")
    wide_plan = _plan(query_index(spark, store, terms))
    assert "In(t," not in wide_plan.replace(" ", ""), wide_plan
    assert "LeftSemi" in wide_plan, wide_plan
    assert _scores(query_index(spark, store, terms)) == narrow
    assert (
        _scores(
            boolean_query_index(
                spark, store, must=("alpha",), should=("beta", "gamma")
            )
        )
        == narrow_bool
    )
    monkeypatch.delenv("SPARK_GRAFT_MAX_PROBE_TERMS")


def test_sidecar_reads_plan_no_python_rdd(spark, tmp_path, monkeypatch):
    """Over a store with a stats sidecar, neither read form plans a
    Python-RDD relation (a ``LogicalRDD`` leaf): the corpus-stats row
    is JVM-local, so a read starts no Python-worker task.  Holds with
    pending tombstones and on the wide-probe semi-join path, and the
    scores equal the legacy ledger path's."""
    import kafkastreamsproject_spark.streaming.bm25index as bm
    from kafkastreamsproject_spark.streaming.bm25index import (
        boolean_query_index,
        tombstone_docs_in_index,
    )

    store = str(tmp_path / "jvm_reads")
    index_ingest_batch(_docs(spark, B1), store)
    index_ingest_batch(_docs(spark, B2), store)
    assert bm.read_stats_sidecar(spark, store) is not None

    def reads():
        return [
            query_index(spark, store, TERMS),
            boolean_query_index(
                spark, store, must=("alpha",), should=("beta", "gamma")
            ),
        ]

    def check():
        with_sidecar = []
        for df in reads():
            plan = df._jdf.queryExecution().optimizedPlan().toString()
            assert "LogicalRDD" not in plan, plan
            with_sidecar.append(_scores(df))
        with monkeypatch.context() as m:
            m.setattr(bm, "read_stats_sidecar", lambda *a, **k: None)
            assert [_scores(df) for df in reads()] == with_sidecar

    check()
    tombstone_docs_in_index(
        spark, spark.createDataFrame([(2,)], "doc_id long"), store
    )
    check()
    monkeypatch.setenv("SPARK_GRAFT_MAX_PROBE_TERMS", "1")
    check()
