"""Batch CSV source tests (S1–S3, S7): explicit schemas, the reference's
timestamp format, and FAILFAST on malformed rows."""

from __future__ import annotations

import pytest

from kafkastreamsproject_spark.sources.csv import read_stations_csv, read_trips_csv
from kafkastreamsproject_spark.sources.testdata import load_table


@pytest.fixture()
def station_csv(tmp_path):
    p = tmp_path / "stations.csv"
    p.write_text(
        "ID,name,totalDocks,docksInService,status,lat,lon,location\n"
        "168,Michigan Ave,24,20,In Service,41.88,-87.62,POINT\n"
        "42,Wabash Ave,10,10,In Service,41.89,-87.63,POINT\n"
    )
    return str(p)


@pytest.fixture()
def trip_csv(tmp_path):
    p = tmp_path / "trips.csv"
    p.write_text(
        "trip_id,type,dateTime,stationId,duration,userType,gender,week,temperature,events\n"
        "1,1,2024-03-01T08:00:00.000Z,168,300.0,Subscriber,Male,9,10.0,clear\n"
        "2,0,2024-03-01T09:30:15.250Z,42,600.0,Customer,Female,9,14.5,rain\n"
    )
    return str(p)


def test_read_stations(spark, station_csv):
    df = read_stations_csv(spark, station_csv)
    rows = {r.id: r for r in df.collect()}
    assert rows[168].name == "Michigan Ave"
    assert rows[168].totalDocks == 24
    assert df.schema["totalDocks"].dataType.typeName() == "long"


def test_read_trips_timestamp_format(spark, trip_csv):
    df = read_trips_csv(spark, trip_csv)
    rows = {r.id: r for r in df.collect()}
    assert rows[2].dateTime.microsecond == 250000
    assert rows[1].type == 1 and rows[1].stationId == 168


def test_failfast_on_malformed(spark, tmp_path):
    p = tmp_path / "bad.csv"
    p.write_text(
        "trip_id,type,dateTime,stationId,duration,userType,gender,week,temperature,events\n"
        "notanint,1,2024-03-01T08:00:00.000Z,168,300.0,s,m,9,10.0,clear\n"
    )
    with pytest.raises(Exception):
        read_trips_csv(spark, str(p)).collect()


# ---------------------------------------------------------------------------
# parquet testdata loader (sources/testdata.py): schema once per process
# ---------------------------------------------------------------------------


def test_load_table_reads_an_unchanged_table_alike_twice(spark, sf_dir):
    """The second read reuses the inferred schema; the events vintage
    handling still yields a zoned ``ts``."""
    first = load_table(spark, "events", sf_dir)
    second = load_table(spark, "events", sf_dir)
    assert second.schema == first.schema
    assert dict(second.dtypes)["ts"] == "timestamp"
    assert sorted(second.collect()) == sorted(first.collect())


def test_load_table_sees_a_table_rewritten_in_place(spark, tmp_path):
    """A table rewritten at the same path with an extra column is read
    with that column on the next call, never with the old schema."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = tmp_path / "region.parquet"
    pq.write_table(pa.table({"k": [1, 2], "name": ["a", "b"]}), path)
    assert load_table(spark, "region", str(tmp_path)).columns == ["k", "name"]

    pq.write_table(
        pa.table({"k": [1, 2], "name": ["a", "b"], "extra": [0.5, 1.5]}), path
    )
    df = load_table(spark, "region", str(tmp_path))
    assert df.columns == ["k", "name", "extra"]
    assert sorted(tuple(r) for r in df.collect()) == [(1, "a", 0.5), (2, "b", 1.5)]


# ---------------------------------------------------------------------------
# JSONL source/sink (sources/jsonl.py)
# ---------------------------------------------------------------------------


def test_jsonl_roundtrip_documents(spark, sf_dir, tmp_path):
    """documents → gzip JSONL shards → read back: byte-identical rows,
    schema preserved, no inference involved."""
    from kafkastreamsproject_spark.sources.jsonl import (
        DOCUMENT_JSONL,
        read_jsonl,
        write_jsonl,
    )
    from kafkastreamsproject_spark.sources.testdata import load_table

    docs = load_table(spark, "documents", sf_dir).select(
        *[f.name for f in DOCUMENT_JSONL.fields]
    )
    out = str(tmp_path / "docs_jsonl")
    write_jsonl(docs, out, compression="gzip", partitions=4)
    back = read_jsonl(spark, out, DOCUMENT_JSONL)
    assert back.schema == DOCUMENT_JSONL
    assert back.count() == docs.count()
    assert back.exceptAll(docs).count() == 0
    assert docs.exceptAll(back).count() == 0


def test_jsonl_failfast_on_malformed(spark, tmp_path):
    from pyspark.sql import types as T

    from kafkastreamsproject_spark.sources.jsonl import read_jsonl

    p = tmp_path / "bad.jsonl"
    p.write_text('{"doc_id": 1, "text": "ok"}\n{"doc_id": "notanint", "text": 3]\n')
    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    with pytest.raises(Exception):
        read_jsonl(spark, str(p), schema).collect()
    # lenient mode drops the malformed line instead
    assert read_jsonl(spark, str(p), schema, mode="DROPMALFORMED").count() == 1
