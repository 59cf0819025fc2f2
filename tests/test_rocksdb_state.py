"""RocksDB state store: the 100 TB streaming state path, proven live.

The default HDFS-backed state store keeps every key on the executor
heap; at production key cardinality the documented posture
(ARCHITECTURE.md) is the RocksDB provider.  This test runs the flagship
streaming aggregation under RocksDB and checks results are identical —
the provider is a pure physical swap.
"""

from __future__ import annotations

import datetime as dt

import pytest

from kafkastreamsproject_spark.schemas import STATION
from kafkastreamsproject_spark.streaming.pipeline import daily_agg_stream, to_memory_sink
from kafkastreamsproject_spark.streaming.punctuate import punctuated_daily_agg
from kafkastreamsproject_spark.streaming.replay import write_trip_chunk
from kafkastreamsproject_spark.streaming.sources import trip_file_stream

ROCKSDB = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def test_daily_agg_stream_on_rocksdb(spark, tmp_path):
    stations = spark.createDataFrame(
        [(168, "Michigan Ave", 24, 20, "In Service", 41.88, -87.62, "P")],
        STATION,
    )
    rows = [
        (1, 1, dt.datetime(2024, 3, 1, 8), 168, 1.0, "s", "m", 9, 10.0, "c"),
        (2, 0, dt.datetime(2024, 3, 1, 9), 168, 1.0, "s", "m", 9, 14.0, "c"),
    ]
    data_dir = str(tmp_path / "replay")
    write_trip_chunk(data_dir, rows, 0)

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", ROCKSDB)
    try:
        agg = daily_agg_stream(trip_file_stream(spark, data_dir), stations)
        q = to_memory_sink(agg, "rocksdb_out", str(tmp_path / "ckpt"), "update")
        q.processAllAvailable()
        q.stop()
    finally:
        if prev:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")

    rows_out = spark.sql("SELECT * FROM rocksdb_out").collect()
    assert len(rows_out) == 1
    r = rows_out[0]
    assert r.startedTrips == 1 and r.endedTrips == 1
    assert r.avgTemperature == pytest.approx(12.0)


@pytest.mark.parametrize(
    "op", [punctuated_daily_agg], ids=["applyInPandasWithState"]
)
def test_punctuated_daily_agg_on_rocksdb(spark, tmp_path, op):
    """The faithful-punctuation operator (T2) exercised on the
    scale-targeted state backend — custom state encoding, timer
    registration, and eviction all pass through the RocksDB provider,
    not just the built-in agg's state."""
    stations = spark.createDataFrame(
        [(168, "Michigan Ave", 24, 20, "In Service", 41.88, -87.62, "P")],
        STATION,
    )
    day1 = [
        (1, 1, dt.datetime(2024, 3, 1, 8), 168, 1.0, "s", "m", 9, 10.0, "c"),
        (2, 0, dt.datetime(2024, 3, 1, 9), 168, 1.0, "s", "m", 9, 14.0, "c"),
    ]
    # Day-2 rows push the watermark past day 1 so the day-1 timer fires.
    day2 = [
        (3, 1, dt.datetime(2024, 3, 2, 8), 168, 1.0, "s", "m", 9, 20.0, "c"),
    ]
    data_dir = str(tmp_path / "replay_punct")
    write_trip_chunk(data_dir, day1, 0)
    write_trip_chunk(data_dir, day2, 1)

    collected: list = []
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", ROCKSDB)
    try:
        agg = op(
            trip_file_stream(spark, data_dir, max_files_per_trigger=1),
            stations,
            watermark="10 minutes",
        )
        q = (
            agg.writeStream.outputMode("update")
            .foreachBatch(lambda df, _epoch: collected.extend(df.collect()))
            .option("checkpointLocation", str(tmp_path / "ckpt_punct"))
            .trigger(availableNow=True)
            .start()
        )
        q.processAllAvailable()
        q.stop()
    finally:
        if prev:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")

    emitted = {(r.stationName, str(r.eventDay)): r for r in collected}
    r = emitted[("Michigan Ave", "2024-03-01")]
    assert r.startedTrips == 1 and r.endedTrips == 1
    assert r.avgTemperature == pytest.approx(12.0)
