"""Mock-broker Python data source (sources/mockbroker.py): the S6
Kafka topology driven end-to-end locally through Spark 4's Python Data
Source API — partition/offset semantics, the identical boundary parse,
and checkpointed restart-resume."""

from __future__ import annotations

import datetime as dt
import json

import pytest

from pyspark.sql import functions as F

from kafkastreamsproject_spark.sources.mockbroker import (
    append_segment,
    mock_trip_stream,
    register_mock_broker,
)


def _trip(i: int, type_: int, station: int, hour: int) -> dict:
    doc = {
        "id": i,
        "type": type_,
        "dateTime": f"2024-03-01T{hour:02d}:00:00.000Z",
        "stationId": station,
        "duration": 300.0,
        "userType": "Subscriber",
        "gender": "Male",
        "week": 9,
        "temperature": 10.5,
        "events": "clear",
    }
    return {"key": str(station), "value": json.dumps(doc)}


def _drain(df, name, ckpt):
    q = (
        df.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()


def test_mock_broker_offsets_and_partitions(spark, tmp_path):
    """Raw source rows carry Kafka-shaped (partition, offset, key,
    value); offsets count per partition independently."""
    log = str(tmp_path / "log")
    append_segment(log, 0, 0, [_trip(1, 1, 168, 8), _trip(2, 0, 168, 9)])
    append_segment(log, 1, 0, [_trip(3, 1, 42, 8)])
    register_mock_broker(spark)
    raw = spark.readStream.format("mockbroker").option("path", log).load()
    _drain(raw, "mb_raw", str(tmp_path / "ck0"))
    rows = sorted(
        (r.partition, r.offset, r.key)
        for r in spark.sql("SELECT * FROM mb_raw").collect()
    )
    assert rows == [(0, 0, "168"), (0, 1, "168"), (1, 0, "42")]


def test_mock_trip_stream_parses_s6_contract(spark, tmp_path):
    """The downstream topology is byte-identical to kafka_trip_stream:
    from_json(value, TRIP) yields fully-typed trips."""
    log = str(tmp_path / "log")
    append_segment(log, 0, 0, [_trip(1, 1, 168, 8), _trip(2, 0, 42, 9)])
    trips = mock_trip_stream(spark, log)
    _drain(trips, "mb_trips", str(tmp_path / "ck1"))
    got = {r.id: r for r in spark.sql("SELECT * FROM mb_trips").collect()}
    assert set(got) == {1, 2}
    assert got[1].stationId == 168 and got[1].type == 1
    assert got[1].dateTime == dt.datetime(2024, 3, 1, 8, 0, 0)
    assert got[2].userType == "Subscriber"


def test_mock_broker_restart_resumes_from_checkpoint(spark, tmp_path):
    """Exactly-once across restarts: a second run with the same
    checkpoint consumes ONLY the records appended after the first run
    — the offset cursor lives in the checkpoint, like Kafka's."""
    log = str(tmp_path / "log")
    ckpt = str(tmp_path / "ck2")
    out = str(tmp_path / "out")
    append_segment(log, 0, 0, [_trip(1, 1, 168, 8)])
    register_mock_broker(spark)

    def run():
        raw = (
            spark.readStream.format("mockbroker").option("path", log).load()
        )
        q = (
            raw.select("partition", "offset", "key")
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.processAllAvailable()
        q.stop()

    run()
    assert spark.read.parquet(out).count() == 1
    append_segment(log, 0, 1, [_trip(2, 0, 168, 9), _trip(3, 1, 42, 10)])
    run()
    rows = sorted(
        (r.partition, r.offset) for r in spark.read.parquet(out).collect()
    )
    # the file sink accumulates across restarts: offset 0 appears once
    # (never re-consumed), and the appended records arrive exactly once
    assert rows == [(0, 0), (0, 1), (0, 2)]


def test_mock_broker_daily_agg_matches_batch(spark, tmp_path):
    """The reference topology (A1 daily aggregation) over the mock
    broker equals the same aggregation computed batch-side."""
    log = str(tmp_path / "log")
    recs = [
        _trip(1, 1, 168, 8),
        _trip(2, 1, 168, 9),
        _trip(3, 0, 168, 10),
        _trip(4, 1, 42, 8),
    ]
    append_segment(log, 0, 0, recs[:2])
    append_segment(log, 1, 0, recs[2:])
    trips = mock_trip_stream(spark, log)
    agg = trips.groupBy(
        "stationId", F.to_date("dateTime").alias("day")
    ).agg(
        F.sum((F.col("type") == 1).cast("long")).alias("started"),
        F.count(F.lit(1)).alias("n"),
    )
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("mb_agg")
        .option("checkpointLocation", str(tmp_path / "ck3"))
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {
        (r.stationId, str(r.day)): (r.started, r.n)
        for r in spark.sql("SELECT * FROM mb_agg").collect()
    }
    assert got == {
        (168, "2024-03-01"): (2, 3),
        (42, "2024-03-01"): (1, 1),
    }


def test_mock_topic_roundtrip_produce_consume(spark, tmp_path):
    """Full S4/S9 loop without a broker: trips stream in from the input
    log, the topology JSON-serializes to the mock etl-topic via
    to_mock_topic_sink, and a second consumer reads the topic back —
    payloads parse to the original rows and same-key records land in
    the same topic-partition."""
    from pyspark.sql import types as T

    from kafkastreamsproject_spark.sources.mockbroker import (
        to_mock_topic_sink,
    )

    in_log = str(tmp_path / "input-topic")
    etl_log = str(tmp_path / "etl-topic")
    append_segment(
        in_log,
        0,
        0,
        [_trip(1, 1, 168, 8), _trip(2, 0, 168, 9), _trip(3, 1, 42, 10)],
    )
    trips = mock_trip_stream(spark, in_log).select(
        "id", "type", "stationId"
    )
    q = to_mock_topic_sink(
        trips,
        etl_log,
        str(tmp_path / "ck_prod"),
        key_col="stationId",
        n_partitions=2,
        output_mode="append",
    )
    q.processAllAvailable()
    q.stop()

    raw = spark.readStream.format("mockbroker").option("path", etl_log).load()
    _drain(raw, "mb_etl", str(tmp_path / "ck_cons"))
    out_schema = T.StructType(
        [
            T.StructField("id", T.IntegerType()),
            T.StructField("type", T.IntegerType()),
            T.StructField("stationId", T.IntegerType()),
        ]
    )
    consumed = spark.sql("SELECT * FROM mb_etl").select(
        "partition",
        "key",
        F.from_json("value", out_schema).alias("r"),
    )
    rows = {
        r["r"]["id"]: (r["partition"], r["key"], r["r"]["stationId"])
        for r in consumed.collect()
    }
    assert set(rows) == {1, 2, 3}
    assert rows[1][1] == "168" and rows[1][2] == 168
    # same key -> same partition (Kafka's key-hash contract)
    assert rows[1][0] == rows[2][0]


def test_full_anomaly_topology_over_mock_broker(spark, tmp_path):
    """The reference's SECOND topology end-to-end on the mock broker:
    trips consumed from input-topic, windowed anomaly detection (A6+A7)
    with watermark-closed append windows, anomalies produced to
    anomalies-topic, and the topic consumed back — both reference
    topologies now run source→sink locally."""
    from pyspark.sql import types as T

    from kafkastreamsproject_spark.schemas import STATION
    from kafkastreamsproject_spark.sources.mockbroker import (
        to_mock_topic_sink,
    )
    from kafkastreamsproject_spark.streaming.pipeline import (
        windowed_anomaly_stream,
    )

    stations = spark.createDataFrame(
        [
            (168, "Michigan Ave", 24, 20, "In Service", 41.88, -87.62, "P"),
            (42, "Wabash Ave", 10, 10, "In Service", 41.89, -87.63, "P"),
        ],
        STATION,
    )
    in_log = str(tmp_path / "input-topic")
    an_log = str(tmp_path / "anomalies-topic")
    # day 1: Wabash 10:00 window gets 2 starts, 0 ends, 10 docks →
    # ratio 0.2 ≥ 5% threshold
    day1 = [_trip(3, 1, 42, 10), _trip(4, 1, 42, 10), _trip(1, 1, 168, 8)]
    append_segment(in_log, 0, 0, day1)

    trips = mock_trip_stream(spark, in_log)
    anomalies = windowed_anomaly_stream(
        trips,
        stations,
        period_minutes=60,
        threshold_pct=5.0,
        watermark="30 minutes",
    ).select(
        F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias("ws"),
        "stationName",
        "rentedOverReturned",
        "returnedOverRented",
        "nToDocksRatio",
    )
    q = to_mock_topic_sink(
        anomalies,
        an_log,
        str(tmp_path / "ck_anom"),
        key_col="stationName",
        output_mode="append",
    )
    q.processAllAvailable()
    # day-2 data advances the watermark past day 1; the closed windows
    # emit in a subsequent micro-batch of the still-running query
    append_segment(in_log, 0, 1, [_trip(5, 1, 168, 8)])
    # bump dateTime to day 2 by rewriting the record
    import json as _json

    rec = _trip(6, 0, 42, 9)
    doc = _json.loads(rec["value"])
    doc["dateTime"] = "2024-03-02T09:00:00.000Z"
    doc["id"] = 6
    append_segment(in_log, 0, 2, [{"key": "42", "value": _json.dumps(doc)}])
    q.processAllAvailable()
    # one more empty-ish batch so append-mode emission lands in the log
    doc["dateTime"] = "2024-03-03T09:00:00.000Z"
    doc["id"] = 7
    append_segment(in_log, 0, 3, [{"key": "42", "value": _json.dumps(doc)}])
    q.processAllAvailable()
    q.stop()

    raw = spark.readStream.format("mockbroker").option("path", an_log).load()
    _drain(raw, "mb_anom", str(tmp_path / "ck_anom_cons"))
    schema = T.StructType(
        [
            T.StructField("ws", T.StringType()),
            T.StructField("stationName", T.StringType()),
            T.StructField("rentedOverReturned", T.LongType()),
            T.StructField("returnedOverRented", T.LongType()),
            T.StructField("nToDocksRatio", T.DoubleType()),
        ]
    )
    got = {
        (r["a"]["stationName"], r["a"]["ws"]): r["a"]
        for r in spark.sql("SELECT * FROM mb_anom")
        .select(F.from_json("value", schema).alias("a"))
        .collect()
    }
    key = ("Wabash Ave", "2024-03-01 10:00:00")
    assert key in got, sorted(got)
    assert got[key]["rentedOverReturned"] == 2
    assert got[key]["returnedOverRented"] == 0
    assert abs(got[key]["nToDocksRatio"] - 0.2) < 1e-9


def test_mock_broker_crash_replay_of_committed_range(spark, tmp_path):
    """The Kafka-shaped failure case: partitions interleave across
    segments over several micro-batches, then a crash between the
    offset-log write and the commit (simulated by deleting the batch's
    commit marker) forces the restarted query to REPLAY exactly the
    planned range via readBetweenOffsets — not from zero, not nothing.
    The fresh memory sink makes the replayed content observable: it
    must hold precisely the replayed batch plus the new backlog, each
    record once."""
    log = str(tmp_path / "log")
    ckpt = tmp_path / "ck_replay"
    out = str(tmp_path / "out_replay")
    register_mock_broker(spark)

    def run():
        raw = (
            spark.readStream.format("mockbroker").option("path", log).load()
        )
        q = (
            raw.select("partition", "offset", "key")
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.processAllAvailable()
        q.stop()
        return sorted(
            (r.partition, r.offset, r.key)
            for r in spark.read.parquet(out).collect()
        )

    # batch 0: both partitions populated
    append_segment(log, 0, 0, [_trip(1, 1, 168, 8), _trip(2, 0, 168, 9)])
    append_segment(log, 1, 0, [_trip(3, 1, 42, 8)])
    assert run() == [(0, 0, "168"), (0, 1, "168"), (1, 0, "42")]

    # batch 1: interleaved appends — partition 1 then partition 0
    append_segment(log, 1, 1, [_trip(4, 0, 42, 9), _trip(5, 1, 42, 10)])
    append_segment(log, 0, 1, [_trip(6, 1, 168, 10)])
    assert run() == [
        (0, 0, "168"),
        (0, 1, "168"),
        (0, 2, "168"),
        (1, 0, "42"),
        (1, 1, "42"),
        (1, 2, "42"),
    ]

    # crash between offset write and commit of batch 1: the restarted
    # query must re-construct batch 1 from the offset log
    # (readBetweenOffsets) and deliver exactly-once end to end
    (ckpt / "commits" / "1").unlink()
    # ...including Hadoop's checksum companion, or the re-commit's
    # rename fails on the stale crc
    (ckpt / "commits" / ".1.crc").unlink()
    append_segment(log, 0, 2, [_trip(7, 0, 168, 11)])
    # the simple-reader API falls back to single-batch execution, so
    # the recovery run processes ONLY the replayed batch — and the
    # replay must introduce no duplicates despite re-reading the range
    assert run() == [
        (0, 0, "168"),
        (0, 1, "168"),
        (0, 2, "168"),
        (1, 0, "42"),
        (1, 1, "42"),
        (1, 2, "42"),
    ]
    # the next run drains the backlog appended before the crash-restart
    assert run() == [
        (0, 0, "168"),
        (0, 1, "168"),
        (0, 2, "168"),
        (0, 3, "168"),  # the new backlog, exactly once
        (1, 0, "42"),
        (1, 1, "42"),
        (1, 2, "42"),
    ]


def test_read_between_offsets_multi_segment_interleave(tmp_path):
    """Unit contract for the range replay itself: with partitions
    interleaved across several segment files, readBetweenOffsets
    returns exactly the half-open per-partition ranges — partition
    cursors never bleed into each other and segment boundaries are
    invisible."""
    from kafkastreamsproject_spark.sources.mockbroker import (
        MockBrokerStreamReader,
    )

    log = str(tmp_path / "log")
    append_segment(log, 0, 0, [_trip(1, 1, 168, 8)])
    append_segment(log, 1, 0, [_trip(2, 1, 42, 8), _trip(3, 0, 42, 9)])
    append_segment(log, 0, 1, [_trip(4, 0, 168, 9), _trip(5, 1, 168, 10)])
    append_segment(log, 1, 1, [_trip(6, 1, 42, 10)])

    reader = MockBrokerStreamReader({"path": log})
    rows = list(
        reader.readBetweenOffsets({"0": 1, "1": 1}, {"0": 3, "1": 2})
    )
    assert [(p, off) for p, off, *_ in rows] == [
        (0, 1),  # second record of p0, from the second segment
        (0, 2),
        (1, 1),  # second record of p1, from the FIRST segment
    ]
    # replaying the same range is deterministic (exactly-once relies
    # on it)
    assert rows == list(
        reader.readBetweenOffsets({"0": 1, "1": 1}, {"0": 3, "1": 2})
    )


def test_mock_sink_stamps_deterministic_utc_timestamps(spark, tmp_path):
    """Produced records carry the default append clock's instant
    (MOCK_APPEND_T0 + epoch_id — epoch-seconds-shaped, VERDICT r8 #7);
    consumed back, the timestamp is that exact UTC instant on any host
    (ADVICE r7 — no local-zone parse, no unstamped epoch-0 default)."""
    from kafkastreamsproject_spark.sources.mockbroker import (
        MOCK_APPEND_T0,
        to_mock_topic_sink,
    )

    in_log = str(tmp_path / "in-topic")
    out_log = str(tmp_path / "out-topic")
    append_segment(in_log, 0, 0, [_trip(1, 1, 168, 8), _trip(2, 0, 42, 9)])
    trips = mock_trip_stream(spark, in_log).select("id", "stationId")
    q = to_mock_topic_sink(
        trips,
        out_log,
        str(tmp_path / "ck_ts"),
        key_col="stationId",
        n_partitions=3,
        output_mode="append",
    )
    q.processAllAvailable()
    q.stop()

    # every partition has an epoch-0 segment, even if empty (replay
    # truncation contract)
    import pathlib

    names = sorted(p.name for p in pathlib.Path(out_log).glob("p*-*.jsonl"))
    assert names == ["p0-000000.jsonl", "p1-000000.jsonl", "p2-000000.jsonl"]

    raw = spark.readStream.format("mockbroker").option("path", out_log).load()
    _drain(raw, "mb_ts", str(tmp_path / "ck_ts_cons"))
    got = spark.sql(
        "SELECT DISTINCT unix_timestamp(timestamp) AS s FROM mb_ts"
    ).collect()
    # epoch 0 under the default clock: MOCK_APPEND_T0 exactly, in UTC
    assert [r.s for r in got] == [int(MOCK_APPEND_T0)]


def test_mock_sink_append_timestamps_monotone_nondecreasing(spark, tmp_path):
    """Append timestamps are per-topic monotone non-decreasing across
    micro-batches (Kafka's LogAppendTime guarantee): the default clock
    advances one second per epoch from MOCK_APPEND_T0, and a
    caller-supplied clock that runs BACKWARD is clamped rather than
    letting records time-travel (VERDICT r8 #7)."""
    from kafkastreamsproject_spark.sources.mockbroker import (
        MOCK_APPEND_T0,
        _scan,
        to_mock_topic_sink,
    )

    in_log = str(tmp_path / "in-topic")
    out_log = str(tmp_path / "out-topic")
    append_segment(in_log, 0, 0, [_trip(1, 1, 168, 8)])
    trips = mock_trip_stream(spark, in_log).select("id", "stationId")
    q = to_mock_topic_sink(
        trips,
        out_log,
        str(tmp_path / "ck_mono"),
        key_col="stationId",
        n_partitions=1,
        output_mode="append",
    )
    q.processAllAvailable()  # epoch 0
    append_segment(in_log, 0, 1, [_trip(2, 0, 42, 9)])
    q.processAllAvailable()  # epoch 1
    append_segment(in_log, 0, 2, [_trip(3, 1, 7, 10)])
    q.processAllAvailable()  # epoch 2
    q.stop()

    stamped = [ts for ts, _k, _v in _scan(out_log)[0]]
    assert len(stamped) == 3
    assert stamped == sorted(stamped)  # non-decreasing in log order
    epochs = [ts.timestamp() for ts in stamped]
    assert epochs == [MOCK_APPEND_T0 + i for i in range(3)]

    # a misbehaving (decreasing) caller clock is clamped, never reversed
    out2 = str(tmp_path / "out-topic-2")
    in2 = str(tmp_path / "in-topic-2")
    append_segment(in2, 0, 0, [_trip(1, 1, 168, 8)])
    trips2 = mock_trip_stream(spark, in2).select("id", "stationId")
    q2 = to_mock_topic_sink(
        trips2,
        out2,
        str(tmp_path / "ck_mono2"),
        key_col="stationId",
        n_partitions=1,
        output_mode="append",
        append_clock=lambda e: 100.0 - e,
    )
    q2.processAllAvailable()  # epoch 0 -> 100
    append_segment(in2, 0, 1, [_trip(2, 0, 42, 9)])
    q2.processAllAvailable()  # epoch 1 -> clock says 99, clamped to 100
    q2.stop()
    epochs2 = [ts.timestamp() for ts, _k, _v in _scan(out2)[0]]
    assert epochs2 == [100.0, 100.0]


def test_mock_sink_replay_truncates_stale_partition_segment(tmp_path):
    """Writing an epoch's segment again (replay) with fewer records
    truncates the file — stale first-attempt records cannot survive a
    replay that hashed rows into fewer partitions."""
    from kafkastreamsproject_spark.sources.mockbroker import _scan

    log = str(tmp_path / "topic")
    append_segment(log, 0, 0, [{"key": "a", "value": "v1", "ts_epoch": 0.0}])
    append_segment(log, 1, 0, [{"key": "b", "value": "v2", "ts_epoch": 0.0}])
    # replay of epoch 0 routes everything to partition 0
    append_segment(
        log,
        0,
        0,
        [
            {"key": "a", "value": "v1", "ts_epoch": 0.0},
            {"key": "b", "value": "v2", "ts_epoch": 0.0},
        ],
    )
    append_segment(log, 1, 0, [])
    logs = _scan(log)
    assert [v for _, _, v in logs.get(0, [])] == ["v1", "v2"]
    assert logs.get(1, []) == []


def test_reader_parses_each_segment_once_until_rewritten(tmp_path, monkeypatch):
    """The reader keeps parsed segments across polls: an unchanged
    segment is not parsed again, a new one is, and a segment rewritten
    in place (a replayed epoch of to_mock_topic_sink) parses again and
    shows its new records."""
    from kafkastreamsproject_spark.sources import mockbroker

    parsed = []
    real = mockbroker._parse_segment
    monkeypatch.setattr(
        mockbroker, "_parse_segment", lambda f: parsed.append(f.name) or real(f)
    )
    log = str(tmp_path / "log")
    append_segment(log, 0, 0, [_trip(1, 1, 168, 8)])
    reader = mockbroker.MockBrokerStreamReader({"path": log})
    _, end = reader.read({"0": 0})
    assert end == {"0": 1} and parsed == ["p0-000000.jsonl"]

    append_segment(log, 0, 1, [_trip(2, 0, 168, 9)])
    _, end = reader.read(end)
    assert end == {"0": 2}
    assert parsed == ["p0-000000.jsonl", "p0-000001.jsonl"]

    append_segment(log, 0, 1, [_trip(3, 0, 42, 9), _trip(4, 1, 42, 9)])
    rows = list(reader.readBetweenOffsets({"0": 1}, {"0": 3}))
    assert [json.loads(v)["id"] for _, _, _, v, _ in rows] == [3, 4]
    assert parsed[2:] == ["p0-000001.jsonl"]


_STATIONS = [
    (168, "Michigan Ave", 24, 20, "In Service", 41.88, -87.62, "P"),
    (42, "Wabash Ave", 10, 10, "In Service", 41.89, -87.63, "P"),
]


def _station_df(spark):
    from kafkastreamsproject_spark.schemas import STATION

    return spark.createDataFrame(_STATIONS, STATION)


def _state_widths(q) -> set[int]:
    return {
        op.numShufflePartitions
        for p in q.recentProgress
        for op in p.stateOperators
    }


def _sunk_values(path: str) -> list[str]:
    import pathlib

    return sorted(
        json.loads(line)["value"]
        for f in pathlib.Path(path).glob("p*-*.jsonl")
        for line in f.read_text().splitlines()
        if line.strip()
    )


def test_topologies_keep_state_in_one_partition(spark, tmp_path):
    """Both topologies, started through to_mock_topic_sink, keep every
    stateful operator in one state partition, whatever the session's
    shuffle width, and the session's width is restored after start."""
    from kafkastreamsproject_spark.sources.mockbroker import to_mock_topic_sink
    from kafkastreamsproject_spark.streaming.pipeline import (
        daily_agg_stream,
        windowed_anomaly_stream,
    )

    width = spark.conf.get("spark.sql.shuffle.partitions")
    assert width != "1"
    log = str(tmp_path / "input-topic")
    append_segment(log, 0, 0, [_trip(1, 1, 168, 8), _trip(2, 1, 42, 10)])
    append_segment(log, 1, 0, [_trip(3, 0, 168, 9), _trip(4, 1, 42, 10)])
    trips = mock_trip_stream(spark, log)
    stations = _station_df(spark)
    queries = [
        to_mock_topic_sink(
            daily_agg_stream(trips, stations),
            str(tmp_path / "etl-topic"),
            str(tmp_path / "ck-t1"),
            key_col="stationName",
        ),
        to_mock_topic_sink(
            windowed_anomaly_stream(trips, stations),
            str(tmp_path / "anomalies-topic"),
            str(tmp_path / "ck-t2"),
            key_col="stationName",
            output_mode="append",
        ),
    ]
    assert spark.conf.get("spark.sql.shuffle.partitions") == width
    try:
        for q in queries:
            q.processAllAvailable()
            assert _state_widths(q) == {1}
    finally:
        for q in queries:
            q.stop()


def test_restart_keeps_the_state_width_of_its_checkpoint(
    spark, tmp_path, monkeypatch
):
    """A checkpoint created at the session's width keeps that width when
    the query restarts through to_mock_topic_sink: Spark restores it from
    the offset log, so the restored state lines up.  The restarted run
    emits exactly the rows of a run that never restarted."""
    import os

    from kafkastreamsproject_spark.sources import mockbroker
    from kafkastreamsproject_spark.streaming.pipeline import daily_agg_stream

    width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert width != 1
    part1 = [_trip(1, 1, 168, 8), _trip(2, 0, 42, 9), _trip(3, 1, 42, 9)]
    part2 = [_trip(4, 0, 168, 10), _trip(5, 1, 42, 11), _trip(6, 1, 7, 11)]
    stations = _station_df(spark)

    def append(log: str, seq: int, records: list) -> None:
        # whole segments only: a poll must not split a part in two
        staging = f"{log}-staging"
        append_segment(staging, 0, seq, records)
        name = f"p0-{seq:06d}.jsonl"
        os.makedirs(log, exist_ok=True)
        os.replace(f"{staging}/{name}", f"{log}/{name}")

    def start(tag: str):
        trips = mock_trip_stream(spark, str(tmp_path / f"{tag}-in"))
        return mockbroker.to_mock_topic_sink(
            daily_agg_stream(trips, stations),
            str(tmp_path / f"{tag}-out"),
            str(tmp_path / f"{tag}-ck"),
            key_col="stationName",
        )

    # never restarted
    append(str(tmp_path / "once-in"), 0, part1)
    q = start("once")
    try:
        q.processAllAvailable()
        append(str(tmp_path / "once-in"), 1, part2)
        q.processAllAvailable()
    finally:
        q.stop()

    # first run at the session's width, as a checkpoint written before
    # the sinks fixed the state width
    append(str(tmp_path / "restart-in"), 0, part1)
    with monkeypatch.context() as m:
        m.setattr(mockbroker, "STATE_PARTITIONS", width)
        q = start("restart")
    try:
        q.processAllAvailable()
        assert _state_widths(q) == {width}
    finally:
        q.stop()
    append(str(tmp_path / "restart-in"), 1, part2)
    q = start("restart")
    try:
        q.processAllAvailable()
        assert _state_widths(q) == {width}
    finally:
        q.stop()

    once = _sunk_values(str(tmp_path / "once-out"))
    assert len(once) == 4  # two keys from part 1, both updated by part 2
    assert _sunk_values(str(tmp_path / "restart-out")) == once


@pytest.mark.parametrize("on_miss", ["drop", "null", "error"])
def test_stream_enrich_joins_a_station_snapshot(spark, tmp_path, on_miss):
    """A stream enriched against stations built with createDataFrame(list)
    joins a driver-local snapshot (a LocalRelation, not the Python-RDD
    scan Spark would re-run every micro-batch), with the rows of a
    plain-Python join under every miss policy."""
    from kafkastreamsproject_spark.operators.joins import enrich_trips
    from kafkastreamsproject_spark.streaming.pipeline import to_memory_sink

    known = [_trip(1, 1, 168, 8), _trip(2, 0, 42, 9), _trip(3, 1, 42, 10)]
    unknown = [_trip(4, 1, 7, 11)]
    records = known if on_miss == "error" else known + unknown
    log = str(tmp_path / "log")
    append_segment(log, 0, 0, records)
    enriched = enrich_trips(
        mock_trip_stream(spark, log), _station_df(spark), on_miss=on_miss
    )
    plan = enriched._jdf.queryExecution().analyzed().toString()
    assert "LocalRelation" in plan and "LogicalRDD" not in plan

    q = to_memory_sink(
        enriched.select("tripId", "stationId", "stationName"),
        f"snap_{on_miss}",
        str(tmp_path / "ck"),
        output_mode="append",
    )
    q.processAllAvailable()
    q.stop()
    got = sorted(tuple(r) for r in spark.sql(f"SELECT * FROM snap_{on_miss}").collect())
    names = {sid: name for sid, name, *_ in _STATIONS}
    want = sorted(
        (doc["id"], doc["stationId"], names.get(doc["stationId"]))
        for doc in (json.loads(r["value"]) for r in records)
        if doc["stationId"] in names or on_miss == "null"
    )
    assert got == want


def test_stream_enrich_error_mode_raises_on_unknown_station(spark, tmp_path):
    from pyspark.errors import StreamingQueryException

    from kafkastreamsproject_spark.operators.joins import enrich_trips
    from kafkastreamsproject_spark.streaming.pipeline import to_memory_sink

    log = str(tmp_path / "log")
    append_segment(log, 0, 0, [_trip(1, 1, 168, 8), _trip(2, 1, 7, 9)])
    enriched = enrich_trips(mock_trip_stream(spark, log), _station_df(spark))
    q = to_memory_sink(enriched, "snap_raise", str(tmp_path / "ck"), "append")
    try:
        with pytest.raises(StreamingQueryException, match="No such"):
            q.processAllAvailable()
    finally:
        q.stop()


def test_batch_enrich_keeps_its_dimension_plan(spark, tmp_path):
    """A batch fact keeps the dimension's own plan, and building the
    join runs no job (no snapshot collect); only a stream build does."""
    from kafkastreamsproject_spark.operators.joins import enrich_trips
    from kafkastreamsproject_spark.schemas import TRIP

    sc = spark.sparkContext
    stations = _station_df(spark)
    fact = spark.createDataFrame(
        [(1, 1, dt.datetime(2024, 3, 1, 8), 168, 1.0, "S", "M", 9, 1.0, "c")],
        TRIP,
    )

    def jobs_to_build(group: str, trips):
        sc.setJobGroup(group, "plan build")
        try:
            df = enrich_trips(trips, stations)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return df, sc.statusTracker().getJobIdsForGroup(group)

    batch, jobs = jobs_to_build("enrich-batch", fact)
    assert jobs == []
    plan = batch._jdf.queryExecution().analyzed().toString()
    assert "LogicalRDD" in plan and "LocalRelation" not in plan
    assert [r.stationName for r in batch.collect()] == ["Michigan Ave"]

    _, jobs = jobs_to_build("enrich-stream", mock_trip_stream(spark, str(tmp_path)))
    assert jobs  # the snapshot is collected when the topology is built
