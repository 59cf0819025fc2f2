"""Hadoop FileSystem probe helpers (operators/fs.py) — the
scheme-agnostic existence checks the persistent stores rely on."""

from __future__ import annotations

from kafkastreamsproject_spark.operators.fs import (
    hadoop_exists,
    hadoop_has_files,
    hadoop_touch,
)


def test_exists_and_touch_roundtrip(spark, tmp_path):
    marker = str(tmp_path / "nested" / "deep" / "epoch-7.done")
    assert not hadoop_exists(spark, marker)
    hadoop_touch(spark, marker)  # creates parents
    assert hadoop_exists(spark, marker)
    # idempotent overwrite
    hadoop_touch(spark, marker)
    assert hadoop_exists(spark, marker)


def test_has_files_requires_matching_suffix(spark, tmp_path):
    store = tmp_path / "store"
    assert not hadoop_has_files(spark, str(store))  # absent dir
    store.mkdir()
    assert not hadoop_has_files(spark, str(store))  # empty dir
    (store / "_SUCCESS").touch()
    assert not hadoop_has_files(spark, str(store))  # marker only
    (store / "part-0000.parquet").touch()
    assert hadoop_has_files(spark, str(store))


def test_store_readers_survive_marker_only_dir(spark, tmp_path):
    """A store dir holding only a _SUCCESS marker (crash before any part
    file) must read as empty, not explode or mis-detect."""
    from kafkastreamsproject_spark.streaming.neardup import _read_store

    sig = tmp_path / "signatures"
    sig.mkdir()
    (sig / "_SUCCESS").touch()
    assert _read_store(spark, str(sig)).count() == 0


def test_interrupted_compaction_swap_keeps_every_row(spark, tmp_path):
    """A crash between the compaction swap's two renames leaves the
    store only at ``<live>_old``.  The next open puts it back, so a
    fold and a compaction after the crash keep every row from before
    it."""
    from kafkastreamsproject_spark.operators.fs import _fs_and_path
    from kafkastreamsproject_spark.sources.bucketed import (
        append_bucketed_store,
        compact_bucketed_store,
        read_bucketed_store,
        store_table_name,
    )

    path = str(tmp_path / "store")
    table = store_table_name("swap_test", path)

    def fold(keys):
        df = spark.createDataFrame([(k,) for k in keys], "k string")
        append_bucketed_store(spark, df, path, table, ["k"], 4)

    def rows():
        store = read_bucketed_store(spark, path, table, "k string", ["k"], 4)
        return sorted(r.k for r in store.collect())

    fold(["a", "b"])
    # the swap's first rename lands, then the process dies
    fs, live = _fs_and_path(spark, path)
    fs.rename(live, _fs_and_path(spark, f"{path}_old")[1])
    fold(["c"])
    compact_bucketed_store(spark, path, table, "k string", ["k"], 4)
    assert rows() == ["a", "b", "c"]

    # the near-dup signature store opens through the same restore
    from kafkastreamsproject_spark.streaming.neardup import _read_store

    sig = str(tmp_path / "signatures")
    spark.range(3).selectExpr("id AS doc_id").write.parquet(sig)
    fs.rename(_fs_and_path(spark, sig)[1], _fs_and_path(spark, f"{sig}_old")[1])
    assert _read_store(spark, sig).count() == 3
