"""Incremental near-dup at ingest (streaming/neardup.py): store growth,
verdict correctness, batch-internal dedup, restart idempotence."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from kafkastreamsproject_spark.streaming.neardup import (
    ingest_batch,
    to_neardup_ingest_sink,
)

# ≥ 5 tokens each (the shingle width).  C is A with ONE trailing token
# changed: 5-shingle sets intersect 5/7 → Jaccard ≈ 0.714 ≥ 0.5.
# D and E are exact copies arriving in the same batch.
_A = "the quick brown fox jumps over the lazy dog today"
_B = "completely different words about training data pipelines at scale"
_C = "the quick brown fox jumps over the lazy dog tomorrow"
_D = "another document full of entirely novel tokens for testing"
_E = _D


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_ingest_batch_dedups_against_store_and_within_batch(spark, tmp_path):
    store = str(tmp_path / "neardup_store")

    m1, a1 = ingest_batch(_docs(spark, [(1, _A), (2, _B)]), store)
    assert m1.count() == 0
    assert sorted(r.doc_id for r in a1.select("doc_id").collect()) == [1, 2]

    m2, a2 = ingest_batch(
        _docs(spark, [(3, _C), (4, _D), (5, _E)]), store
    )
    verdicts = {
        (r.new_doc_id, r.matched_doc_id): r.jaccard for r in m2.collect()
    }
    assert set(verdicts) == {(3, 1), (5, 4)}
    assert verdicts[(3, 1)] == 0.714286  # 5/7, rounded to 6 dp
    assert verdicts[(5, 4)] == 1.0
    # only the canonical fresh doc enters the store
    assert [r.doc_id for r in a2.select("doc_id").collect()] == [4]

    stored = spark.read.parquet(f"{store}/signatures")
    assert sorted(r.doc_id for r in stored.select("doc_id").collect()) == [1, 2, 4]


def test_neardup_ingest_sink_is_restart_safe(spark, tmp_path):
    data_dir = tmp_path / "doc_stream"
    data_dir.mkdir()
    _docs(spark, [(1, _A), (2, _B)]).coalesce(1).write.parquet(
        str(data_dir / "chunk0")
    )
    _docs(spark, [(3, _C), (4, _D)]).coalesce(1).write.parquet(
        str(data_dir / "chunk1")
    )
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")

    def drain():
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(data_dir / "*"))
        )
        q = to_neardup_ingest_sink(stream, store, ckpt)
        q.awaitTermination()

    drain()
    sigs = spark.read.parquet(f"{store}/signatures")
    matches = spark.read.parquet(f"{store}/matches")
    assert sorted(r.doc_id for r in sigs.select("doc_id").collect()) == [1, 2, 4]
    assert {(r.new_doc_id, r.matched_doc_id) for r in matches.collect()} == {(3, 1)}

    # restart from the same checkpoint: no new files → no re-folds,
    # store byte-stable
    drain()
    assert spark.read.parquet(f"{store}/signatures").count() == 3
    assert spark.read.parquet(f"{store}/matches").count() == 1


def test_compact_store_preserves_rows_and_verdicts(spark, tmp_path):
    """Compaction rewrites the append log into few large files without
    changing a single stored row, and the next ingest sees identical
    state."""
    import glob

    from kafkastreamsproject_spark.streaming.neardup import compact_store

    store = str(tmp_path / "compact_store")
    ingest_batch(_docs(spark, [(1, _A), (2, _B)]), store)
    ingest_batch(_docs(spark, [(4, _D)]), store)
    ingest_batch(
        _docs(spark, [(6, "yet more fresh vocabulary nothing matches here at all")]),
        store,
    )
    sig_glob = f"{store}/signatures/*.parquet"
    files_before = len(glob.glob(sig_glob))
    assert files_before >= 3  # one-plus file per epoch: the append log
    before = {
        (r.doc_id, tuple(r.mhs))
        for r in spark.read.parquet(f"{store}/signatures").collect()
    }

    n_files = compact_store(spark, store)
    assert n_files == 1  # tiny store → single file
    assert len(glob.glob(sig_glob)) < files_before
    after = {
        (r.doc_id, tuple(r.mhs))
        for r in spark.read.parquet(f"{store}/signatures").collect()
    }
    assert after == before

    # post-compaction ingest still deduplicates against the same state
    m, a = ingest_batch(_docs(spark, [(7, _C)]), store)
    assert {(r.new_doc_id, r.matched_doc_id) for r in m.collect()} == {(7, 1)}
    assert a.count() == 0


def test_banded_store_probe_matches_and_avoids_store_shuffle(spark, tmp_path):
    """The bucketed band table yields exactly the candidate pairs the
    direct banded join produces, with zero Exchange above the store-side
    scan — the 100 TB probe shape (only the incoming batch shuffles)."""
    import contextlib
    import io

    from kafkastreamsproject_spark.streaming.neardup import (
        _bands,
        doc_signatures,
        materialize_banded_store,
        probe_banded_store,
    )

    store = str(tmp_path / "banded_store")
    ingest_batch(_docs(spark, [(1, _A), (2, _B), (4, _D)]), store)
    materialize_banded_store(spark, store, "banded_store_test", n_buckets=4)

    batch = doc_signatures(_docs(spark, [(7, _C), (8, _E)]))
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        cands = probe_banded_store(batch, spark, "banded_store_test")
        # capture the plan BEFORE executing: after an action AQE's
        # explain prints initial + final plans and double-counts nodes
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            cands.explain("formatted")
        plan = buf.getvalue()
        got = {(r.new_doc_id, r.matched_doc_id) for r in cands.collect()}
        # direct (unbucketed) banded join over the same state
        store_bands = _bands(
            spark.read.parquet(f"{store}/signatures")
        ).selectExpr(
            "doc_id AS matched_doc_id", "band_id AS band_id_b",
            "h1 AS h1_b", "h2 AS h2_b",
        )
        nb = _bands(batch).selectExpr(
            "doc_id AS new_doc_id", "band_id", "h1", "h2"
        )
        from pyspark.sql import functions as FF

        want_df = nb.join(
            store_bands,
            (FF.col("band_id") == FF.col("band_id_b"))
            & (FF.col("h1") == FF.col("h1_b"))
            & (FF.col("h2") == FF.col("h2_b")),
        ).select("new_doc_id", "matched_doc_id").distinct()
        want = {(r.new_doc_id, r.matched_doc_id) for r in want_df.collect()}
        assert got == want and (7, 1) in got

        # store side: bucketed scan, no Exchange feeding it.  The only
        # hashpartitioning Exchanges allowed are on the BATCH side and
        # the final distinct — the store's FileScan must carry the
        # bucket spec instead.
        assert "Bucketed: true" in plan, plan
        import re

        n_exchanges = len(re.findall(r"\(\d+\) Exchange", plan))
        assert n_exchanges <= 2, f"store side gained a shuffle:\n{plan}"
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS banded_store_test")


@pytest.mark.slowsuite  # r16: slowest-tail; deselected by default (pyproject addopts), run via -m slowsuite
def test_sink_with_periodic_compaction_matches_uncompacted(
    spark, tmp_path, monkeypatch
):
    """The sink's compaction trigger, with the storeconfig plain-store
    threshold lowered to one file so it fires between folds: same
    signatures and verdicts as an uncompacted run, fewer store files."""
    import dataclasses
    import glob

    from kafkastreamsproject_spark import storeconfig

    data_dir = tmp_path / "cstream"
    data_dir.mkdir()
    for i, rows in enumerate([[(1, _A)], [(2, _B)], [(3, _C)], [(4, _D)]]):
        _docs(spark, rows).coalesce(1).write.parquet(str(data_dir / f"chunk{i}"))

    stores = {}
    plain_limit = storeconfig.DEFAULTS.compact_files_plain
    for label, limit in (("plain", plain_limit), ("compacted", 1)):
        monkeypatch.setattr(
            storeconfig,
            "DEFAULTS",
            dataclasses.replace(storeconfig.DEFAULTS, compact_files_plain=limit),
        )
        store = str(tmp_path / f"store_{label}")
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(data_dir / "*"))
        )
        q = to_neardup_ingest_sink(stream, store, str(tmp_path / f"ckpt_{label}"))
        q.awaitTermination()
        stores[label] = {
            "sigs": sorted(
                r.doc_id
                for r in spark.read.parquet(f"{store}/signatures").collect()
            ),
            "matches": {
                (r.new_doc_id, r.matched_doc_id)
                for r in spark.read.parquet(f"{store}/matches").collect()
            },
            "files": len(glob.glob(f"{store}/signatures/*.parquet")),
        }
    assert stores["plain"]["sigs"] == stores["compacted"]["sigs"] == [1, 2, 4]
    assert stores["plain"]["matches"] == stores["compacted"]["matches"] == {(3, 1)}
    assert stores["compacted"]["files"] < stores["plain"]["files"]


def test_streaming_verdicts_agree_with_batch_family(spark, sf_dir, tmp_path):
    """Feeding the documents table through ingest in one batch yields
    the same (pair, jaccard) set as the batch minhash_lsh_pairs query —
    identical hashing end-to-end."""
    from kafkastreamsproject_spark.plans.dedup import _corpus2, minhash_lsh_pairs

    store = str(tmp_path / "store_agree")
    matches, _ = ingest_batch(_corpus2(spark, sf_dir), store)
    got = {
        (r.matched_doc_id, r.new_doc_id, r.jaccard) for r in matches.collect()
    }
    want = {
        (r.id_a, r.id_b, r.jaccard)
        for r in minhash_lsh_pairs(spark, sf_dir).collect()
    }
    assert got == want


def test_dedup_shard_against_store_verdicts_and_probe_parity(spark, tmp_path):
    """Batch shard-vs-snapshot probe: near-dup of a store doc rejected
    with the store id, fresh doc accepted, within-shard twin rejected
    canonical-first, sub-shingle-width doc trivially accepted; the
    bucketed banded-table path returns IDENTICAL verdicts; and the
    probe is read-only (store admission stays a separate step)."""
    from kafkastreamsproject_spark.streaming.neardup import (
        dedup_shard_against_store,
        materialize_banded_store,
    )

    store = str(tmp_path / "shard_store")
    ingest_batch(_docs(spark, [(1, _A), (2, _B)]), store)
    shard = _docs(spark, [(3, _C), (4, _D), (5, _E), (6, "tiny")])

    direct = dedup_shard_against_store(shard, store)
    rows = {r.doc_id: r for r in direct.collect()}
    assert rows[3].accepted is False and rows[3].first_match_id == 1
    assert rows[4].accepted is True and rows[4].n_matches == 0
    assert rows[5].accepted is False and rows[5].first_match_id == 4
    assert rows[6].accepted is True and rows[6].first_match_id is None

    materialize_banded_store(spark, store, "shard_banded_test", n_buckets=4)
    try:
        banded = dedup_shard_against_store(
            shard, store, banded_table="shard_banded_test"
        )
        assert sorted(map(tuple, banded.collect())) == sorted(
            map(tuple, direct.collect())
        )
    finally:
        spark.sql("DROP TABLE IF EXISTS shard_banded_test")

    stored = spark.read.parquet(f"{store}/signatures")
    assert sorted(r.doc_id for r in stored.select("doc_id").collect()) == [1, 2]


def test_novelty_ingest_replay_is_idempotent(spark, tmp_path):
    """Crash-replay contract of the novelty store: replaying an epoch
    whose hashes already landed must not double-admit them (anti-join
    append idempotence), and a later batch scores identically whether
    the earlier epoch ran once or twice.  Also pins the attribution
    semantics: partial trigram overlap yields partial novelty, an
    exact twin of an admitted doc scores zero."""
    from kafkastreamsproject_spark.streaming import keyedstore as ks
    from kafkastreamsproject_spark.streaming.novelty import (
        N_BUCKETS,
        TRIGRAMS,
        novelty_ingest_batch,
    )

    b1 = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon"),
         (2, "one two three four five six")],
        "doc_id long, text string",
    )
    b2 = spark.createDataFrame(
        # doc 10 has 3 trigrams, sharing 2 with doc 1 ('alpha beta
        # gamma', 'beta gamma delta') -> exactly 1 novel
        [(10, "alpha beta gamma delta zeta"),
         (11, "seven eight nine ten eleven")],
        "doc_id long, text string",
    )
    b3 = spark.createDataFrame(
        [(20, "alpha beta gamma delta zeta"),  # exact twin of 10 -> zero novel
         (21, "twelve thirteen fourteen fifteen sixteen")],
        "doc_id long, text string",
    )
    store = str(tmp_path / "nov_store")
    novelty_ingest_batch(b1, store)
    s2a = {r.doc_id: r for r in novelty_ingest_batch(b2, store).collect()}
    assert s2a[10].n_novel == 1 and s2a[10].n_trigrams == 3
    assert s2a[11].novelty == 1.0

    n_store = ks.read(spark, TRIGRAMS, store, N_BUCKETS).count()
    # replay epoch 2 (crash after append): store must not grow
    novelty_ingest_batch(b2, store)
    assert ks.read(spark, TRIGRAMS, store, N_BUCKETS).count() == n_store

    s3 = {r.doc_id: r for r in novelty_ingest_batch(b3, store).collect()}
    assert s3[20].n_novel == 0  # twin of an admitted doc
    assert s3[21].novelty == 1.0


def test_line_dedup_ingest_keep_first_and_replay(spark, tmp_path):
    """Crash-replay and keep-first contracts of the line-hash store:
    within a batch a repeated line is kept only at its min (doc_id,
    ordinal); a later batch keeps nothing the store already holds;
    replaying an epoch neither grows the store nor changes a later
    batch's verdicts."""
    from kafkastreamsproject_spark.streaming import keyedstore as ks
    from kafkastreamsproject_spark.streaming.linededup import (
        LINES,
        N_BUCKETS,
        line_dedup_ingest_batch,
    )

    line_a = " ".join(f"a{i}" for i in range(12))  # one full line
    line_b = " ".join(f"b{i}" for i in range(12))
    line_c = " ".join(f"c{i}" for i in range(12))
    b1 = spark.createDataFrame(
        [
            (1, f"{line_a} {line_b}"),      # keeps both
            (2, f"{line_b} {line_c}"),      # line_b lost to doc 1
        ],
        "doc_id long, text string",
    )
    b2 = spark.createDataFrame(
        [
            (10, f"{line_a} {line_c}"),     # both already in the store
            (11, f"{line_a} d0 d1 d2"),     # tail partial line is new
        ],
        "doc_id long, text string",
    )
    store = str(tmp_path / "line_store")
    s1 = {r.doc_id: r for r in line_dedup_ingest_batch(b1, store).collect()}
    assert (s1[1].n_lines, s1[1].n_kept, s1[1].kept_ords) == (2, 2, "0,1")
    assert (s1[2].n_lines, s1[2].n_kept, s1[2].kept_ords) == (2, 1, "1")

    n_store = ks.read(spark, LINES, store, N_BUCKETS).count()
    assert n_store == 3  # line_a, line_b, line_c
    line_dedup_ingest_batch(b1, store)  # crash replay after append
    assert ks.read(spark, LINES, store, N_BUCKETS).count() == n_store

    s2 = {r.doc_id: r for r in line_dedup_ingest_batch(b2, store).collect()}
    assert (s2[10].n_lines, s2[10].n_kept, s2[10].kept_ords) == (2, 0, "")
    assert (s2[11].n_lines, s2[11].n_kept, s2[11].kept_ords) == (2, 1, "1")
    assert s2[11].keep_frac == 0.5


def _plan_of(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_line_store_probe_is_bucketed_with_zero_store_exchange(
    spark, tmp_path
):
    """The line-hash store is a bucketed table keyed on lh: the
    per-batch anti-join probe's store side is a bucketed FileScan with
    NO Exchange feeding it — only the batch side shuffles.  At 100 TB
    the store is corpus-sized; this is the difference between a probe
    that moves one micro-batch and one that re-shuffles the corpus."""
    import re

    from kafkastreamsproject_spark.sources.bucketed import (
        shuffle_scoped_to_buckets,
    )
    from kafkastreamsproject_spark.streaming import keyedstore as ks
    from kafkastreamsproject_spark.streaming.linededup import (
        LINES,
        N_BUCKETS,
        line_dedup_ingest_batch,
        lines_expr,
    )
    from kafkastreamsproject_spark.functions import text as TX

    line_a = " ".join(f"a{i}" for i in range(12))
    store = str(tmp_path / "lstore")
    # ambient conf deliberately ABOVE the bucket count: the fold must
    # still fold correctly (it scopes shuffle partitions internally —
    # without the scope the planner demotes the bucketed scan, the r10
    # regression a sibling job's conf re-application exposed)
    prev_sp = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(4 * N_BUCKETS))
    try:
        line_dedup_ingest_batch(
            _docs(spark, [(1, line_a), (2, "x " * 30)]), store
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_sp)

    toks = TX.tokens(F.col("text"))
    batch_first = (
        _docs(spark, [(9, line_a)])
        .select(
            "doc_id",
            F.posexplode(F.transform(lines_expr(toks), F.md5)).alias(
                "ord", "lh"
            ),
        )
        .groupBy("lh")
        .agg(F.min(F.struct("doc_id", "ord")).alias("w"))
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        probe = ks.probe(
            LINES, batch_first, ks.read(spark, LINES, store, N_BUCKETS)
        )
        with shuffle_scoped_to_buckets(spark, N_BUCKETS):
            plan = _plan_of(probe)
        assert "Bucketed: true" in plan, plan
        # exactly one Exchange: the batch side's hashpartitioning to the
        # bucket count; zero above the store scan
        assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 1, plan
        # and the probe is still CORRECT: line_a anti-joins away
        assert {r.lh for r in probe.collect()} == {
            r.lh
            for r in batch_first.collect()
        } - {
            r.lh
            for r in spark.read.parquet(f"{store}/lines").collect()
        }
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_novelty_store_probe_is_bucketed_with_zero_store_exchange(
    spark, tmp_path
):
    """Same zero-store-side-Exchange contract for the trigram novelty
    store, keyed on h."""
    import re

    from kafkastreamsproject_spark.sources.bucketed import (
        shuffle_scoped_to_buckets,
    )
    from kafkastreamsproject_spark.streaming import keyedstore as ks
    from kafkastreamsproject_spark.streaming.novelty import (
        N_BUCKETS,
        TRIGRAMS,
        doc_trigram_hashes,
        novelty_ingest_batch,
    )

    store = str(tmp_path / "nstore")
    novelty_ingest_batch(
        _docs(spark, [(1, "alpha beta gamma delta epsilon")]), store
    )
    batch_first = (
        doc_trigram_hashes(
            _docs(spark, [(9, "alpha beta gamma zeta eta")])
        )
        .groupBy("h")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        probe = ks.probe(
            TRIGRAMS, batch_first, ks.read(spark, TRIGRAMS, store, N_BUCKETS)
        )
        with shuffle_scoped_to_buckets(spark, N_BUCKETS):
            plan = _plan_of(probe)
        assert "Bucketed: true" in plan, plan
        assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 1, plan
        # 'alpha beta gamma' is stored; the other two trigrams are fresh
        assert probe.count() == 2
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_line_store_nondefault_width_keeps_zero_store_exchange(
    spark, tmp_path
):
    """VERDICT r10 #5: the bucket width is configuration, not a baked
    constant.  A fold at n_buckets=32 (4x the default — the
    'production sizing: at least ingest parallelism' path) must (a)
    create a 32-bucket store, (b) dedup correctly across folds, and
    (c) plan the probe with ZERO store-side Exchange at that width —
    the same contract the default-width test asserts."""
    import glob
    import re

    from kafkastreamsproject_spark.sources.bucketed import (
        shuffle_scoped_to_buckets,
    )
    from kafkastreamsproject_spark.streaming import keyedstore as ks
    from kafkastreamsproject_spark.streaming.linededup import (
        LINES,
        line_dedup_ingest_batch,
        lines_expr,
    )
    from kafkastreamsproject_spark.functions import text as TX

    width = 32
    line_a = " ".join(f"a{i}" for i in range(12))
    store = str(tmp_path / "lstore_w32")
    line_dedup_ingest_batch(
        _docs(spark, [(1, line_a), (2, "x " * 30)]), store, n_buckets=width
    )
    # a 32-bucket table writes bucket-suffixed files across 32 slots
    files = glob.glob(f"{store}/lines/*.parquet")
    assert files, "store not written"
    # cross-fold dedup at the same width: the twin keeps nothing
    s = {
        r.doc_id: r.n_kept
        for r in line_dedup_ingest_batch(
            _docs(spark, [(10, line_a)]), store, n_buckets=width
        ).collect()
    }
    assert s[10] == 0

    toks = TX.tokens(F.col("text"))
    batch_first = (
        _docs(spark, [(9, line_a)])
        .select(
            "doc_id",
            F.posexplode(F.transform(lines_expr(toks), F.md5)).alias(
                "ord", "lh"
            ),
        )
        .groupBy("lh")
        .agg(F.min(F.struct("doc_id", "ord")).alias("w"))
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        probe = ks.probe(
            LINES, batch_first, ks.read(spark, LINES, store, width)
        )
        with shuffle_scoped_to_buckets(spark, width):
            plan = _plan_of(probe)
        assert "Bucketed: true" in plan, plan
        assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 1, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_line_and_novelty_store_compaction(spark, tmp_path):
    """keyedstore.compact bounds the per-epoch file accumulation for both
    ingest stores: fewer data files, identical rows, and the next fold
    still dedups against the compacted state."""
    import glob

    from kafkastreamsproject_spark.streaming import keyedstore as ks
    from kafkastreamsproject_spark.streaming import linededup as LD
    from kafkastreamsproject_spark.streaming import novelty as NV

    line_a = " ".join(f"a{i}" for i in range(12))
    lstore = str(tmp_path / "lstore_c")
    for i, txt in enumerate([line_a, "x " * 30, "y " * 30]):
        LD.line_dedup_ingest_batch(_docs(spark, [(i, txt)]), lstore)
    before = sorted(
        r.lh for r in spark.read.parquet(f"{lstore}/lines").collect()
    )
    files_before = len(glob.glob(f"{lstore}/lines/*.parquet"))
    n_after = ks.compact(spark, LD.LINES, lstore, LD.N_BUCKETS)
    files_after = len(glob.glob(f"{lstore}/lines/*.parquet"))
    assert n_after == files_after <= min(LD.N_BUCKETS, files_before)
    assert (
        sorted(r.lh for r in spark.read.parquet(f"{lstore}/lines").collect())
        == before
    )
    s = {
        r.doc_id: r.n_kept
        for r in LD.line_dedup_ingest_batch(
            _docs(spark, [(10, line_a)]), lstore
        ).collect()
    }
    assert s[10] == 0  # still deduped post-compaction

    nstore = str(tmp_path / "nstore_c")
    for i, txt in enumerate(
        ["alpha beta gamma delta", "one two three four", "five six seven eight"]
    ):
        NV.novelty_ingest_batch(_docs(spark, [(i, txt)]), nstore)
    nbefore = sorted(
        (r.h, r.first_doc)
        for r in spark.read.parquet(f"{nstore}/trigrams").collect()
    )
    nfiles_before = len(glob.glob(f"{nstore}/trigrams/*.parquet"))
    nn_after = ks.compact(spark, NV.TRIGRAMS, nstore, NV.N_BUCKETS)
    nfiles_after = len(glob.glob(f"{nstore}/trigrams/*.parquet"))
    assert nn_after == nfiles_after <= min(NV.N_BUCKETS, nfiles_before)
    assert (
        sorted(
            (r.h, r.first_doc)
            for r in spark.read.parquet(f"{nstore}/trigrams").collect()
        )
        == nbefore
    )
    s = {
        r.doc_id: r.n_novel
        for r in NV.novelty_ingest_batch(
            _docs(spark, [(10, "alpha beta gamma delta")]), nstore
        ).collect()
    }
    assert s[10] == 0  # twin of an admitted doc scores zero novelty


def test_forget_keys_touches_only_affected_buckets(spark, sf_dir, tmp_path):
    """GDPR-style targeted deletion (streaming/keyedstore.py:
    forget_keys): forgetting a handful of line hashes must
    (a) remove exactly those rows, (b) re-admit them on re-ingest, and
    (c) leave every unaffected bucket's files BYTE-IDENTICAL (same
    path, length, mtime) — the deletion-cost ∝ affected-buckets claim,
    checked at the file level."""
    from kafkastreamsproject_spark.operators.fs import _fs_and_path
    from kafkastreamsproject_spark.streaming import keyedstore as ks
    from kafkastreamsproject_spark.streaming.linededup import (
        LINES,
        N_BUCKETS,
        line_dedup_ingest_batch,
    )

    store = str(tmp_path / "fstore")
    docs = _docs(
        spark,
        [(i, " ".join(f"w{i}_{j}" for j in range(24))) for i in range(1, 9)],
    )
    line_dedup_ingest_batch(docs, store)
    path = f"{store}/lines"
    before = ks.read(spark, LINES, store, N_BUCKETS).select("lh").toPandas()
    assert len(before) == 16  # 8 docs x 2 lines, all unique

    # forget the two lexicographically-lowest line hashes
    import pyspark.sql.functions as F2

    all_rows = sorted(
        r.lh for r in ks.read(spark, LINES, store, N_BUCKETS).collect()
    )
    victims = spark.createDataFrame(
        [(h,) for h in all_rows[:2]], LINES.schema
    )
    fs, root = _fs_and_path(spark, path)
    snap = {
        s.getPath().getName(): (s.getLen(), s.getModificationTime())
        for s in fs.listStatus(root)
        if s.getPath().getName().endswith(".parquet")
    }
    victim_buckets = {
        r.b
        for r in victims.select(
            F2.pmod(F2.hash("lh"), F2.lit(N_BUCKETS)).alias("b")
        ).collect()
    }
    stats = ks.forget_keys(spark, LINES, victims, store, N_BUCKETS)
    assert stats["rows_deleted"] == 2
    assert stats["affected_buckets"] == len(victim_buckets)

    after_rows = sorted(
        r.lh for r in ks.read(spark, LINES, store, N_BUCKETS).collect()
    )
    assert after_rows == all_rows[2:]  # victims gone, everything else kept

    # unaffected buckets: files byte-identical (name, length, mtime)
    import re

    pat = re.compile(r"_(\d{5})(?:\.|$)")
    untouched = 0
    now = {
        s.getPath().getName(): (s.getLen(), s.getModificationTime())
        for s in fs.listStatus(root)
        if s.getPath().getName().endswith(".parquet")
    }
    for fname, meta in snap.items():
        b = int(pat.search(fname).group(1))
        if b not in victim_buckets:
            assert now.get(fname) == meta, fname
            untouched += 1
    assert untouched > 0  # the claim is only meaningful if some survive

    # forgotten hashes re-admit: re-ingest the same docs — only the
    # victims' ordinals come back
    stats2 = line_dedup_ingest_batch(docs, store).toPandas()
    readmitted = stats2[stats2.n_kept > 0]
    assert int(stats2.n_kept.sum()) == 2
    assert set(readmitted.doc_id) <= {1, 2, 3, 4, 5, 6, 7, 8}


def test_line_store_compaction_bounds_files_and_preserves_probes(
    spark, tmp_path
):
    """Four epochs of appends accumulate one file per task per epoch;
    compaction must shrink the store to ~1 file per bucket (ratio
    recorded in the assertion), keep every admitted hash, and leave
    the next fold's verdicts identical to an uncompacted twin store."""
    from kafkastreamsproject_spark.operators.fs import _fs_and_path
    from kafkastreamsproject_spark.streaming import keyedstore as ks
    from kafkastreamsproject_spark.streaming.linededup import (
        LINES,
        N_BUCKETS,
        line_dedup_ingest_batch,
    )

    stores = {lbl: str(tmp_path / lbl) for lbl in ("compacted", "plain")}
    batches = [
        _docs(
            spark,
            [
                (e * 100 + i, " ".join(f"t{e}_{i}_{j}" for j in range(24)))
                for i in range(1, 6)
            ],
        )
        for e in range(4)
    ]
    for lbl, store in stores.items():
        for b in batches:
            line_dedup_ingest_batch(b, store)

    def n_files(store):
        fs, root = _fs_and_path(spark, f"{store}/lines")
        return sum(
            1
            for s in fs.listStatus(root)
            if s.getPath().getName().endswith(".parquet")
        )

    before = n_files(stores["compacted"])
    after = ks.compact(spark, LINES, stores["compacted"], N_BUCKETS)
    assert after == n_files(stores["compacted"])
    # 4 epochs x files-per-epoch collapses to <= 1 file per bucket
    assert before >= 2 * after
    assert after <= N_BUCKETS

    rows_c = sorted(
        r.lh
        for r in ks.read(spark, LINES, stores["compacted"], N_BUCKETS).collect()
    )
    rows_p = sorted(
        r.lh for r in ks.read(spark, LINES, stores["plain"], N_BUCKETS).collect()
    )
    assert rows_c == rows_p

    # next fold: identical verdicts through the compacted store
    nxt = _docs(
        spark,
        [(999, " ".join(f"t0_1_{j}" for j in range(24)))],  # dup of epoch 0
    )
    s_c = line_dedup_ingest_batch(nxt, stores["compacted"]).toPandas()
    s_p = line_dedup_ingest_batch(nxt, stores["plain"]).toPandas()
    assert s_c.to_dict("records") == s_p.to_dict("records")
    assert int(s_c.n_kept.sum()) == 0  # fully deduplicated


def test_store_width_mismatch_is_rejected(spark, tmp_path):
    """r11 ADVICE: the store records the bucket width it was created
    with; folding, probing, compacting, or erasing with a mismatched
    n_buckets must raise (Spark would otherwise trust wrong bucket
    metadata and silently co-locate joins on misaligned buckets)."""
    import json

    import pytest

    from kafkastreamsproject_spark.sources.bucketed import read_store_meta
    from kafkastreamsproject_spark.streaming import keyedstore as ks
    from kafkastreamsproject_spark.streaming.linededup import (
        LINES,
        line_dedup_ingest_batch,
    )

    store = str(tmp_path / "lstore_meta")
    line_dedup_ingest_batch(
        _docs(spark, [(1, "w " * 24)]), store, n_buckets=8
    )
    lines = f"{store}/lines"
    meta = read_store_meta(spark, lines)
    assert meta == {"n_buckets": 8, "bucket_cols": ["lh"]}

    # every entry point refuses the wrong width
    with pytest.raises(ValueError, match="created with"):
        line_dedup_ingest_batch(
            _docs(spark, [(2, "w " * 24)]), store, n_buckets=32
        )
    with pytest.raises(ValueError, match="created with"):
        ks.read(spark, LINES, store, 32)
    with pytest.raises(ValueError, match="created with"):
        ks.compact(spark, LINES, store, 32)
    with pytest.raises(ValueError, match="created with"):
        ks.forget_keys(
            spark, LINES, _docs(spark, [(1, "x")]).selectExpr("text as lh"),
            store, 32,
        )

    # the right width still works, and compaction re-stamps the sidecar
    # (the rename swap moves the old one away with the old files)
    s = {
        r.doc_id: r.n_kept
        for r in line_dedup_ingest_batch(
            _docs(spark, [(3, "w " * 24)]), store, n_buckets=8
        ).collect()
    }
    assert s[3] == 0
    ks.compact(spark, LINES, store, 8)
    assert read_store_meta(spark, lines) == {
        "n_buckets": 8,
        "bucket_cols": ["lh"],
    }

    # a legacy store (sidecar missing) is stamped on first touch
    import os

    os.remove(f"{lines}/_store_meta.json")
    line_dedup_ingest_batch(_docs(spark, [(4, "q " * 24)]), store, n_buckets=8)
    assert read_store_meta(spark, lines)["n_buckets"] == 8


def test_novelty_store_width_mismatch_is_rejected(spark, tmp_path):
    """The width sidecar guards the novelty store too (r11 ADVICE named
    both stores; the enforcement is central in sources/bucketed.py but
    each store's fold path must actually route through it)."""
    import pytest

    from kafkastreamsproject_spark.sources.bucketed import read_store_meta
    from kafkastreamsproject_spark.streaming.novelty import (
        novelty_ingest_batch,
    )

    store = str(tmp_path / "nstore_meta")
    novelty_ingest_batch(_docs(spark, [(1, "a b c d e f")]), store, n_buckets=8)
    assert read_store_meta(spark, f"{store}/trigrams") == {
        "n_buckets": 8,
        "bucket_cols": ["h"],
    }
    with pytest.raises(ValueError, match="created with"):
        novelty_ingest_batch(
            _docs(spark, [(2, "g h i j k l")]), store, n_buckets=16
        )


def test_hash_set_drop_removes_table_and_directory(spark, tmp_path):
    """keyedstore.drop after two folds into a hash set: the set's
    catalog entry and its directory are both gone, and the catalog
    holds what it held before the first fold."""
    import os

    from kafkastreamsproject_spark.streaming import keyedstore as ks
    from kafkastreamsproject_spark.streaming.novelty import (
        N_BUCKETS,
        TRIGRAMS,
        novelty_ingest_batch,
    )

    def tables():
        return {t.name for t in spark.catalog.listTables()}

    before = tables()
    store = str(tmp_path / "drop_store")
    novelty_ingest_batch(_docs(spark, [(1, "alpha beta gamma delta")]), store)
    novelty_ingest_batch(_docs(spark, [(2, "one two three four")]), store)
    assert spark.catalog.tableExists(TRIGRAMS.table(store))
    assert ks.read(spark, TRIGRAMS, store, N_BUCKETS).count() == 4

    ks.drop(spark, TRIGRAMS, store)
    assert not spark.catalog.tableExists(TRIGRAMS.table(store))
    assert tables() == before
    assert not os.path.exists(store)


def test_line_dedup_ingest_builder_leaves_catalog_unchanged(spark, sf_dir):
    """Building ``streaming_line_dedup_ingest`` folds into a temp line
    store and deletes it; the session catalog must list the same tables
    afterwards, with no ``line_store_<md5>`` entry left pointing at the
    deleted directory."""
    from kafkastreamsproject_spark.plans.registry import shadow_queries

    def tables():
        return {t.name for t in spark.catalog.listTables()}

    before = tables()
    shadow_queries()["streaming_line_dedup_ingest"].spark(spark, sf_dir)
    assert tables() == before
