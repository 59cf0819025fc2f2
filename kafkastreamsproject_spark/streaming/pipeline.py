"""Streaming pipelines — the reference's two topologies on Structured
Streaming, with the same logical plans the batch operators use.

Topology 1 (wired in the reference): trip stream → broadcast station
join (J1) → per-(station, day) aggregation in a streaming state store
(A1–A5), emitted in update mode (the scale-correct default: changed
keys per micro-batch).  The reference's T2 punctuation has BOTH
faithful twins here: streaming/punctuate.py for per-key event-time
timers, and :func:`to_full_store_sink` (complete mode) for the global
full-store emission every punctuation interval
(CustomTransformer.kt:57-64).
Watermarking (T1/T4/T7) bounds state: the reference evicts all days
older than the newest and zero-reinitializes late events
(CustomTransformer.kt:71-80 — a bug); the watermark instead drops
late-beyond-delay rows and retires state deterministically.

Topology 2 (declared, unwired in the reference): windowed per-station
counts (A6) + anomaly summarization with the D% dock threshold (A7),
append mode after the watermark closes each window.

Checkpointing (T3): every query takes a ``checkpoint`` path; micro-batch
commit replaces the reference's ``commit.interval.ms=0`` eager commits
with exactly-once epochs.

State width: the sinks below start their queries with
``session.STATE_PARTITIONS`` (one) shuffle partition, which a new
checkpoint keeps as its state-partition count (see session.py).
``_replay_safe_sink`` does not: its folds run on the stream's cloned
session, so their shuffles keep the session width and any bucket
scope.
"""

from __future__ import annotations

import json
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from kafkastreamsproject_spark import storeconfig
from kafkastreamsproject_spark.operators.fs import (
    hadoop_count_files,
    hadoop_exists,
    hadoop_read_text,
    hadoop_touch,
)
from kafkastreamsproject_spark.operators.joins import enrich_trips
from kafkastreamsproject_spark.session import (
    STATE_PARTITIONS,
    shuffle_partitions_scoped,
)
from kafkastreamsproject_spark.sources.bucketed import max_files_per_bucket


def daily_agg_stream(
    trips: DataFrame,
    stations: DataFrame,
    watermark: str = "1 day",
) -> DataFrame:
    """Topology 1 logical plan (A1–A5 over a stream).

    Same aggregation the batch ``daily_aggregate`` declares, but grouped
    on a day-window of the event time: streaming update mode requires
    the event-time column inside the grouping to let the watermark
    retire per-day state (T4).  ``updateTime = max(tripTime)`` is the
    deterministic stand-in for last-arrival (SURVEY §2 A5).
    """
    enriched = enrich_trips(trips, stations, on_miss="drop")
    started = (F.col("tripType") == 1).cast("long")
    return (
        enriched.withWatermark("tripTime", watermark)
        .groupBy(
            F.col("stationName"),
            F.window("tripTime", "1 day").alias("day_window"),
        )
        .agg(
            F.avg("temperature").alias("avgTemperature"),
            F.sum(started).alias("startedTrips"),
            F.sum(1 - started).alias("endedTrips"),
            F.max("tripTime").alias("updateTime"),
        )
        .select(
            "stationName",
            F.to_date("day_window.start").alias("eventDay"),
            "avgTemperature",
            "startedTrips",
            "endedTrips",
            "updateTime",
        )
    )


def windowed_anomaly_stream(
    trips: DataFrame,
    stations: DataFrame,
    period_minutes: int = 60,
    threshold_pct: float = 10.0,
    watermark: str = "2 hours",
) -> DataFrame:
    """Topology 2 logical plan (A6+A7 over a stream, append mode).

    P and D are the reference consumer's unused CLI parameters
    (KafkaConsumer.kt:21-28; wired per scripts/processing.sh:12).
    """
    enriched = enrich_trips(trips, stations, on_miss="drop")
    started = (F.col("tripType") == 1).cast("long")
    counts = (
        enriched.withWatermark("tripTime", watermark)
        .groupBy(
            F.window("tripTime", f"{period_minutes} minutes").alias("window"),
            "stationName",
        )
        .agg(
            F.sum(started).alias("started"),
            F.sum(1 - started).alias("ended"),
            F.first("stationTotalDocks").alias("totalDocks"),
        )
    )
    s, e, d = F.col("started"), F.col("ended"), F.col("totalDocks")
    return (
        counts.select(
            "window",
            "stationName",
            F.when(e > s, e - s).otherwise(F.lit(0)).alias("returnedOverRented"),
            F.when(s > e, s - e).otherwise(F.lit(0)).alias("rentedOverReturned"),
            "totalDocks",
            (F.abs(e - s) / d.cast("double")).alias("nToDocksRatio"),
        )
        .filter(F.col("nToDocksRatio") >= threshold_pct / 100.0)
    )


def to_memory_sink(
    df: DataFrame,
    query_name: str,
    checkpoint: str,
    output_mode: str = "update",
) -> StreamingQuery:
    """S8 stand-in for tests: memory sink, availableNow trigger."""
    w = (
        df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )
    with shuffle_partitions_scoped(df.sparkSession, STATE_PARTITIONS):
        return w.start()


def to_full_store_sink(
    df: DataFrame,
    query_name: str,
    checkpoint: str,
    trigger_seconds: int | None = None,
) -> StreamingQuery:
    """T2 faithful GLOBAL variant: emit the ENTIRE aggregation store
    every trigger (reference ``CustomTransformer.kt:57-64`` — the
    punctuator iterates ``store.all()`` and forwards every (station,
    day) row each 5 stream-minutes, not just changed keys).

    Structured Streaming's ``complete`` output mode IS that semantics:
    each micro-batch replaces the sink with the full state store.  The
    cost is also the reference's cost: state is never retired (complete
    mode ignores the watermark), so the keyspace must be bounded — true
    here (stations × days, and the reference's own store evicts old
    days).  The default topology stays ``update`` mode (emit changed
    keys only — the scale-correct choice); this sink exists for parity
    with the reference's full-store punctuation contract.

    ``trigger_seconds`` maps the reference's 5-minute wall-clock
    punctuation interval (``PUNCTUATE_INTERVAL_MS``) onto a
    processing-time trigger; ``None`` = availableNow (drain, for tests).
    """
    w = df.writeStream.outputMode("complete").format("memory").queryName(query_name)
    w = w.option("checkpointLocation", checkpoint)
    if trigger_seconds is None:
        w = w.trigger(availableNow=True)
    else:
        w = w.trigger(processingTime=f"{trigger_seconds} seconds")
    with shuffle_partitions_scoped(df.sparkSession, STATE_PARTITIONS):
        return w.start()


def _replay_safe_sink(
    stream: DataFrame,
    store_path: str,
    checkpoint: str,
    fold: Callable[[DataFrame], object],
    *,
    available_now: bool,
    compact: Callable[[SparkSession], object] | None = None,
    compact_probe: str | None = None,
    per_bucket: bool = True,
) -> StreamingQuery:
    """The one exactly-once ``foreachBatch`` fold every persistent store
    streams through (Structured Streaming's rule: a replayable source
    plus a sink that is idempotent per epoch).  Per epoch, in order:

    1. skip the epoch if its marker exists — the engine replays an
       uncommitted epoch after a crash, and re-applying a fold would
       double-count;
    2. run ``fold(batch)``;
    3. write the marker ``<store>/_applied_epochs/<query id>_<epoch>.done``
       only after the fold returned, so a fold that raises leaves no
       marker and the restart folds that epoch again;
    4. if ``compact`` is given and the store at ``compact_probe`` is
       over the ``storeconfig.DEFAULTS`` threshold — more than
       ``compact_files_per_bucket`` files in any bucket
       (``per_bucket``) or ``compact_files_plain`` files in total —
       run ``compact(spark)`` (between folds: single-writer window).

    Markers carry the query id Spark keeps in ``<checkpoint>/metadata``:
    epoch ids restart at 0 under a fresh checkpoint, so markers keyed
    by epoch alone would make a new query over an existing store skip
    its first epochs.  The id survives restarts from the same checkpoint,
    which is the replay the markers guard.  Markers go through the
    Hadoop FS (operators/fs.py), so the store may be a remote URI.

    The crash window between the fold's commit and the marker write is
    the documented at-least-once residue; closing it needs an atomically
    committing table format (Delta/Iceberg), which is exactly what those
    formats' transaction logs exist for.
    """
    query: dict[str, str] = {}

    def _apply(batch: DataFrame, epoch_id: int) -> None:
        spark = batch.sparkSession
        if not query:
            meta = hadoop_read_text(spark, f"{checkpoint}/metadata")
            query["id"] = json.loads(meta)["id"]
        marker = f"{store_path}/_applied_epochs/{query['id']}_{epoch_id}.done"
        if hadoop_exists(spark, marker):
            return  # replayed epoch: already folded into the store
        fold(batch)
        hadoop_touch(spark, marker)
        if compact is None:
            return
        if per_bucket:
            files = max_files_per_bucket(spark, compact_probe)
            limit = storeconfig.DEFAULTS.compact_files_per_bucket
        else:
            files = hadoop_count_files(spark, compact_probe)
            limit = storeconfig.DEFAULTS.compact_files_plain
        if files > limit:
            compact(spark)

    writer = stream.writeStream.foreachBatch(_apply).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def to_rollup_store_sink(
    trips: DataFrame,
    stations: DataFrame,
    store_path: str,
    checkpoint: str,
) -> StreamingQuery:
    """Durable continuous aggregate: fold each micro-batch of RAW trips
    into the day-partitioned rollup store (operators/incremental.py) —
    the reference's whole Topology 1 (enrich → A1–A5 upsert) made
    persistent, queryable mid-stream via ``finalize_rollup``.

    ``foreachBatch`` hands us the micro-batch as a plain DataFrame, so
    the batch enrich + the store merge run unchanged, through
    :func:`_replay_safe_sink` (a replayed epoch is skipped, so the
    additive store never double-counts).  Each fold overwrites the day
    partitions it touches instead of appending, so the store has no
    small-file pile-up to compact.
    """
    from kafkastreamsproject_spark.operators.incremental import (
        merge_daily_rollup,
    )

    def _fold(batch: DataFrame) -> None:
        merge_daily_rollup(
            batch.sparkSession,
            store_path,
            enrich_trips(batch, stations, on_miss="drop"),
            key_alias="stationName",
            key_col="stationName",
            time_col="tripTime",
            value_col="temperature",
            type_col="tripType",
            started_types=(1,),
        )

    return _replay_safe_sink(
        trips, store_path, checkpoint, _fold, available_now=True
    )


def to_console_sink(
    df: DataFrame, checkpoint: str, output_mode: str = "update"
) -> StreamingQuery:
    """S8: the reference's foreach-println terminal operator."""
    w = (
        df.writeStream.outputMode(output_mode)
        .format("console")
        .option("checkpointLocation", checkpoint)
    )
    with shuffle_partitions_scoped(df.sparkSession, STATE_PARTITIONS):
        return w.start()


def to_kafka_sink(
    df: DataFrame,
    checkpoint: str,
    brokers: str = "localhost:9092",
    topic: str = "etl-topic",
    output_mode: str = "update",
) -> StreamingQuery:
    """S9: JSON-serialize rows to a Kafka topic (etl-topic /
    anomalies-topic are the reference's declared sinks,
    scripts/prepareAndRun.sh:12-14).  Requires the Kafka connector."""
    payload = df.select(
        F.to_json(F.struct(*df.columns)).alias("value")
    )
    w = (
        payload.writeStream.outputMode(output_mode)
        .format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("topic", topic)
        .option("checkpointLocation", checkpoint)
    )
    with shuffle_partitions_scoped(df.sparkSession, STATE_PARTITIONS):
        return w.start()


def session_stream(
    trips: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Sessionization on a stream: ``session_window`` merges events into
    variable-length sessions closed after ``gap`` of event-time silence —
    the streaming twin of the batch lag+cumsum sessionization query.
    Append mode: a session emits once its window is sealed by the
    watermark."""
    return (
        trips.withWatermark("dateTime", watermark)
        .groupBy(
            F.session_window("dateTime", gap).alias("session"),
            F.col("stationId"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("dateTime").alias("first_event"),
            F.max("dateTime").alias("last_event"),
        )
        .select(
            "stationId",
            F.col("session.start").alias("session_start"),
            F.col("session.end").alias("session_end"),
            "n_events",
            "first_event",
            "last_event",
        )
    )


def to_parquet_sink(
    df: DataFrame,
    path: str,
    checkpoint: str,
    output_mode: str = "append",
) -> StreamingQuery:
    """Exactly-once parquet sink: the file sink commits each epoch's
    files through the checkpointed metadata log, so replayed batches
    after failure never double-write (the engine's replacement for the
    reference's eager commit.interval.ms=0, T3)."""
    w = (
        df.writeStream.outputMode(output_mode)
        .format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )
    with shuffle_partitions_scoped(df.sparkSession, STATE_PARTITIONS):
        return w.start()
