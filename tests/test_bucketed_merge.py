"""Bucket-local MERGE upsert (sources/bucketed.py:merge_upsert_in_store).

The lakehouse ``MERGE INTO`` contract on the appendable bucketed hash
store: matched change rows replace store rows, unmatched ones insert,
tombstones delete — and the rewrite touches ONLY the buckets the
change keys hash to (file-identity asserted for every other bucket,
the same claim the GDPR-erasure test pins for deletions).
"""

from __future__ import annotations

import re

import pyspark.sql.functions as F
import pytest

from kafkastreamsproject_spark.operators.fs import _fs_and_path
from kafkastreamsproject_spark.sources.bucketed import (
    append_bucketed_store,
    merge_upsert_in_store,
    read_bucketed_store,
)

SCHEMA = "k string, v bigint"
N_BUCKETS = 8
_PAT = re.compile(r"_(\d{5})(?:\.|$)")


def _store_rows(spark, path, table):
    df = read_bucketed_store(spark, path, table, SCHEMA, ["k"], N_BUCKETS)
    return sorted((r.k, r.v) for r in df.collect())


def _file_snap(spark, path):
    fs, root = _fs_and_path(spark, path)
    return {
        s.getPath().getName(): (s.getLen(), s.getModificationTime())
        for s in fs.listStatus(root)
        if s.getPath().getName().endswith(".parquet")
    }


def test_merge_upsert_semantics_and_bucket_locality(spark, tmp_path):
    path = str(tmp_path / "mstore")
    table = "t_merge_sem"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    base = spark.createDataFrame(
        [(f"key{i}", i * 10) for i in range(40)], SCHEMA
    )
    append_bucketed_store(spark, base, path, table, ["k"], N_BUCKETS)
    snap = _file_snap(spark, path)

    # CDC batch: update key0/key1, delete key2/key3, insert new0/new1;
    # a tombstone for a key the store never held is a no-op
    changes = spark.createDataFrame(
        [
            ("key0", 999, False),
            ("key1", 888, False),
            ("key2", None, True),
            ("key3", None, True),
            ("new0", 7, False),
            ("new1", 8, False),
            ("ghost", None, True),
        ],
        "k string, v bigint, deleted boolean",
    )
    stats = merge_upsert_in_store(
        spark, changes, path, table, SCHEMA, ["k"], N_BUCKETS,
        tombstone_col="deleted",
    )
    assert stats["rows_updated"] == 2
    assert stats["rows_deleted"] == 2
    assert stats["rows_inserted"] == 2

    expected = sorted(
        [(f"key{i}", i * 10) for i in range(4, 40)]
        + [("key0", 999), ("key1", 888), ("new0", 7), ("new1", 8)]
    )
    assert _store_rows(spark, path, table) == expected

    # bucket locality: every bucket NO change key routes to is
    # byte-identical (same file name, length, mtime)
    change_buckets = {
        r.b
        for r in changes.select(
            F.pmod(F.hash("k"), F.lit(N_BUCKETS)).alias("b")
        ).collect()
    }
    assert stats["affected_buckets"] == len(change_buckets)
    now = _file_snap(spark, path)
    untouched = 0
    for fname, meta in snap.items():
        if int(_PAT.search(fname).group(1)) not in change_buckets:
            assert now.get(fname) == meta, fname
            untouched += 1
    assert untouched > 0

    # the merged store still joins shuffle-free on the bucket key
    import contextlib
    import io

    from kafkastreamsproject_spark.sources.bucketed import (
        shuffle_scoped_to_buckets,
    )

    probe = spark.createDataFrame([("key5",), ("new0",)], "k string")
    store = read_bucketed_store(spark, path, table, SCHEMA, ["k"], N_BUCKETS)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        with shuffle_scoped_to_buckets(spark, N_BUCKETS):
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                store.join(probe, "k").explain("formatted")
            plan = buf.getvalue()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "Bucketed: true" in plan
    spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_merge_into_absent_store_creates_it(spark, tmp_path):
    path = str(tmp_path / "mstore_new")
    table = "t_merge_new"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    changes = spark.createDataFrame(
        [("a", 1, False), ("b", 2, False), ("dead", None, True)],
        "k string, v bigint, deleted boolean",
    )
    stats = merge_upsert_in_store(
        spark, changes, path, table, SCHEMA, ["k"], N_BUCKETS,
        tombstone_col="deleted",
    )
    assert stats == {
        "affected_buckets": 0,
        "files_rewritten": 0,
        "rows_updated": 0,
        "rows_inserted": 2,
        "rows_deleted": 0,
    }
    assert _store_rows(spark, path, table) == [("a", 1), ("b", 2)]
    spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_merge_rejects_uncompacted_batch(spark, tmp_path):
    path = str(tmp_path / "mstore_dup")
    table = "t_merge_dup"
    changes = spark.createDataFrame(
        [("a", 1), ("a", 2)], SCHEMA
    )
    with pytest.raises(ValueError, match="one row per key"):
        merge_upsert_in_store(
            spark, changes, path, table, SCHEMA, ["k"], N_BUCKETS
        )


def test_merge_without_tombstone_col_is_pure_upsert(spark, tmp_path):
    path = str(tmp_path / "mstore_ut")
    table = "t_merge_ut"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    base = spark.createDataFrame([("x", 1), ("y", 2)], SCHEMA)
    append_bucketed_store(spark, base, path, table, ["k"], N_BUCKETS)
    changes = spark.createDataFrame([("y", 20), ("z", 30)], SCHEMA)
    stats = merge_upsert_in_store(
        spark, changes, path, table, SCHEMA, ["k"], N_BUCKETS
    )
    assert stats["rows_updated"] == 1
    assert stats["rows_inserted"] == 1
    assert stats["rows_deleted"] == 0
    assert _store_rows(spark, path, table) == [("x", 1), ("y", 20), ("z", 30)]
    spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_merge_replay_is_idempotent(spark, tmp_path):
    """Crash-replaying the SAME compacted CDC batch must leave the
    store unchanged (the epoch-replay contract every ingest fold
    pins): updates re-apply the same image, inserts re-replace the
    row they created, tombstones re-delete nothing."""
    path = str(tmp_path / "mstore_rp")
    table = "t_merge_rp"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    base = spark.createDataFrame(
        [(f"k{i}", i) for i in range(20)], SCHEMA
    )
    append_bucketed_store(spark, base, path, table, ["k"], N_BUCKETS)
    changes = spark.createDataFrame(
        [("k0", 100, False), ("k1", None, True), ("fresh", 7, False)],
        "k string, v bigint, deleted boolean",
    )
    merge_upsert_in_store(
        spark, changes, path, table, SCHEMA, ["k"], N_BUCKETS,
        tombstone_col="deleted",
    )
    first = _store_rows(spark, path, table)
    stats = merge_upsert_in_store(
        spark, changes, path, table, SCHEMA, ["k"], N_BUCKETS,
        tombstone_col="deleted",
    )
    assert _store_rows(spark, path, table) == first
    # on replay the insert is now a match (update), the delete a no-op
    assert stats["rows_updated"] == 2
    assert stats["rows_inserted"] == 0
    assert stats["rows_deleted"] == 0
    spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_merge_rejects_mismatched_store_width(spark, tmp_path):
    """The _store_meta.json sidecar guards the merge like every other
    store op: merging with a different n_buckets than the store was
    created with must raise, not silently co-locate on wrong buckets."""
    path = str(tmp_path / "mstore_w")
    table = "t_merge_w"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    base = spark.createDataFrame([("a", 1)], SCHEMA)
    append_bucketed_store(spark, base, path, table, ["k"], N_BUCKETS)
    changes = spark.createDataFrame([("a", 2)], SCHEMA)
    with pytest.raises(ValueError, match="n_buckets"):
        merge_upsert_in_store(
            spark, changes, path, table, SCHEMA, ["k"], N_BUCKETS * 2
        )
    spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_merge_handles_nested_type_schemas(spark, tmp_path):
    """Column-name extraction must survive DDL with commas inside
    types (decimal(10,2), map<string,int>) — a naive comma-split
    would shred these."""
    schema = "k string, v decimal(10,2), m map<string,int>"
    path = str(tmp_path / "mstore_nested")
    table = "t_merge_nested"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    from decimal import Decimal

    base = spark.createDataFrame(
        [("a", Decimal("1.50"), {"x": 1})], schema
    )
    append_bucketed_store(spark, base, path, table, ["k"], N_BUCKETS)
    changes = spark.createDataFrame(
        [("a", Decimal("2.25"), {"y": 2}, False),
         ("b", Decimal("9.99"), {"z": 3}, False)],
        schema + ", deleted boolean",
    )
    stats = merge_upsert_in_store(
        spark, changes, path, table, schema, ["k"], N_BUCKETS,
        tombstone_col="deleted",
    )
    assert stats["rows_updated"] == 1 and stats["rows_inserted"] == 1
    rows = sorted(
        (r.k, str(r.v), dict(r.m))
        for r in read_bucketed_store(
            spark, path, table, schema, ["k"], N_BUCKETS
        ).collect()
    )
    assert rows == [("a", "2.25", {"y": 2}), ("b", "9.99", {"z": 3})]
    spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_absent_store_opens_without_a_python_rdd(spark, tmp_path):
    """An absent store (never written, or a stale catalog entry whose
    files are gone) opens as an empty relation of the store schema
    that Spark evaluates in the JVM: no ``LogicalRDD`` leaf in its
    optimized plan, so a fold's probe of it starts no Python-worker
    task.  The near-dup signature store opens the same way."""
    from kafkastreamsproject_spark.streaming.neardup import _read_store

    schema = "k string, v bigint, tags array<string>"

    def check(df, want_schema):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "LogicalRDD" not in plan, plan
        assert df.schema.simpleString() == want_schema
        assert df.collect() == []

    def opened(path):
        return read_bucketed_store(
            spark, path, table, schema, ["k"], N_BUCKETS
        )

    table = "t_absent_store"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    check(
        opened(str(tmp_path / "absent")),
        "struct<k:string,v:bigint,tags:array<string>>",
    )
    stale = str(tmp_path / "stale")
    spark.sql(
        f"CREATE TABLE {table} ({schema}) USING parquet LOCATION '{stale}'"
    )
    check(opened(stale), "struct<k:string,v:bigint,tags:array<string>>")
    assert not spark.catalog.tableExists(table)
    check(
        _read_store(spark, str(tmp_path / "sigs")),
        "struct<doc_id:bigint,hset:array<bigint>,mhs:array<bigint>>",
    )
