"""Tests: SCD2 merge emulation, streaming dedup."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from kafkastreamsproject_spark.operators.scd2 import scd2_apply_changes


def test_scd2_apply_changes(spark):
    t0 = dt.datetime(2024, 1, 1)
    t1 = dt.datetime(2024, 6, 1)
    snapshot = spark.createDataFrame(
        [
            (1, "alice", "GOLD", t0, None, True),
            (2, "bob", "SILVER", t0, None, True),
            # an already-closed historical version of key 1
            (1, "alice", "SILVER", dt.datetime(2023, 1, 1), t0, False),
        ],
        "custkey int, name string, tier string, valid_from timestamp, "
        "valid_to timestamp, is_current boolean",
    )
    changes = spark.createDataFrame(
        [(2, "bob", "GOLD"), (3, "carol", "BRONZE")],
        "custkey int, name string, tier string",
    )
    out = scd2_apply_changes(snapshot, changes, "custkey", F.lit(t1))
    rows = {(r.custkey, r.tier): r for r in out.collect()}

    assert len(rows) == 5
    # untouched current row carried
    assert rows[(1, "GOLD")].is_current and rows[(1, "GOLD")].valid_to is None
    # history preserved
    assert not rows[(1, "SILVER")].is_current
    # changed key: old version closed at change time...
    closed = rows[(2, "SILVER")]
    assert not closed.is_current and closed.valid_to == t1
    # ...new version open
    opened = rows[(2, "GOLD")]
    assert opened.is_current and opened.valid_from == t1 and opened.valid_to is None
    # brand-new key inserted current
    assert rows[(3, "BRONZE")].is_current


def test_streaming_dedup_drops_replayed_rows(spark, tmp_path):
    from kafkastreamsproject_spark.streaming.dedup import dedup_stream
    from kafkastreamsproject_spark.streaming.replay import write_trip_chunk
    from kafkastreamsproject_spark.streaming.sources import trip_file_stream

    rows = [
        (1, 1, dt.datetime(2024, 3, 1, 8), 168, 1.0, "s", "m", 9, 1.0, "c"),
        (2, 0, dt.datetime(2024, 3, 1, 9), 42, 1.0, "s", "m", 9, 1.0, "c"),
    ]
    data_dir = str(tmp_path / "replay")
    write_trip_chunk(data_dir, rows, 0)
    write_trip_chunk(data_dir, rows, 1)  # the replayed duplicates

    stream = trip_file_stream(spark, data_dir)
    deduped = dedup_stream(stream, ["id"], "dateTime", watermark="1 hour")
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = spark.sql("SELECT id FROM dedup_out").collect()
    assert sorted(r.id for r in got) == [1, 2]
