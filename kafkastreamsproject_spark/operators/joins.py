"""Joins — reference operator J1 (stream–static equi-join) and friends.

The reference enriches each trip by a linear scan of the in-memory station
list, throwing on a miss (consumer/KafkaConsumer.kt:45-46).  Spark-first
re-expression: a **broadcast hash join** — the dimension is tiny relative
to the fact stream, so broadcasting removes the shuffle entirely; at
100 TB of facts the join stays map-side and scales linearly with input
splits.  The fail-on-miss contract becomes an explicit guard mode.
"""

from __future__ import annotations

from typing import Literal

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kafkastreamsproject_spark.schemas import TRIP_STATION_COLUMNS

OnMiss = Literal["error", "drop", "null"]
DimSize = Literal["bounded", "scaling"]


def broadcast_enrich(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    on_miss: OnMiss = "error",
    dim_size: DimSize = "bounded",
) -> DataFrame:
    """Generic fact⨝dim enrichment with a miss policy.

    - ``error``: replicate the reference's throw-on-miss (KafkaConsumer.kt:46)
      via a left join + ``raise_error`` guard (evaluated distributed, no
      driver round-trip).
    - ``drop``: inner join (misses silently dropped).
    - ``null``: left join (misses null-padded).

    ``dim_size`` is the scale contract: ``bounded`` dims (stations,
    nation, region — cardinality fixed regardless of data volume) are
    FORCE-broadcast; ``scaling`` dims (customer, supplier — grow with
    the dataset) are left to Catalyst, which broadcasts below
    ``spark.sql.autoBroadcastJoinThreshold`` and falls back to a
    shuffled join beyond it.  Forcing a broadcast of a scaling table is
    the classic 100 TB OOM: correct at sf0.1, fatal at sf100.

    Start-time snapshot: when ``fact`` is a stream and ``dim`` a bounded
    static table, ``dim`` is collected here, once, when the topology is
    built, and joined as a driver-local relation.  Each micro-batch then
    broadcasts that snapshot from the driver, with no job over the
    dimension's source; without it Spark re-evaluates the static side
    on every micro-batch.  The query sees the dimension as it was when
    the topology was built; rows added to its source later appear only
    after the topology is built again (a restart).  The reference does
    the same: it reads the station CSV once at consumer start-up
    (KafkaConsumer.kt).  Batch facts and ``scaling`` dims keep their
    plans and collect nothing.
    """
    if fact.isStreaming and dim_size == "bounded":
        dim = dim.sparkSession.createDataFrame(dim.toArrow())
    dimb = F.broadcast(dim) if dim_size == "bounded" else dim
    if on_miss == "drop":
        return fact.join(dimb, fact[fact_key] == dimb[dim_key], "inner")
    joined = fact.join(dimb, fact[fact_key] == dimb[dim_key], "left")
    if on_miss == "null":
        return joined
    # error mode: assert_true evaluates per row on the executors and raises
    # on the first miss; it returns NULL when the assertion holds, so the
    # filter keeps every surviving row. Catalyst cannot prune it away
    # because it sits in the filter predicate.
    guard = F.assert_true(
        dimb[dim_key].isNotNull(),
        F.concat(F.lit(f"No such {dim_key} for key "), fact[fact_key].cast("string")),
    )
    return joined.filter(guard.isNull())


def enrich_trips(trips: DataFrame, stations: DataFrame, on_miss: OnMiss = "error") -> DataFrame:
    """J1 + P3: trips ⨝ stations → the reference's 17-column TripStation.

    Column renames follow model/TripStation.kt:25-43 (dateTime→tripTime,
    name→stationName, station.* → station-prefixed).
    """
    # Both sides carry an `id` column; rename the dim's before joining so
    # every downstream reference is unambiguous.
    stations = stations.withColumnRenamed("id", "__station_id")
    joined = broadcast_enrich(trips, stations, "stationId", "__station_id", on_miss)
    return joined.select(
        F.col("id").alias("tripId"),
        F.col("type").alias("tripType"),
        F.col("dateTime").alias("tripTime"),
        F.col("stationId"),
        F.col("duration"),
        F.col("userType"),
        F.col("gender"),
        F.col("week"),
        F.col("temperature"),
        F.col("events"),
        F.col("name").alias("stationName"),
        F.col("totalDocks").alias("stationTotalDocks"),
        F.col("docksInService").alias("stationDocksInService"),
        F.col("status").alias("stationStatus"),
        F.col("latitude").alias("stationLatitude"),
        F.col("longitude").alias("stationLongitude"),
        F.col("location").alias("stationLocation"),
    )
