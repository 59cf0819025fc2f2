"""Operational readout for the serving stores — the `DESCRIBE
TABLE`-equivalent an on-call engineer (or a capacity planner) asks a
store before trusting it: which substores exist, how many rows each
holds, how many data files they have accumulated since the last
compaction, and how many logical deletes are pending.

One row per substore, one uniform schema across species::

    (substore string, rows long, data_files int)

- ``rows`` is the substore's logical row count (pending tombstones
  are a substore themselves — their row count IS the pending-delete
  gauge from the tombstone docstrings, surfaced without reading any
  store internals).
- ``data_files`` is the physical small-file count (the adaptive
  compaction trigger's input, surfaced so "should I compact?" is a
  query, not a filesystem walk).  Driver-side listing, O(files).

Costs: one count per substore (column-pruned parquet scans — the
seen/tombstone ledgers are ≤16 B/row) plus the listings.  At 100 TB a
deployment samples this on a cadence, not per query; nothing here
touches text or vectors.

Reference scope: ops surface for the store extension family (the
reference's Kafka Streams state stores expose the analogous
``approximateNumEntries``); no reference query maps here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafkastreamsproject_spark.streaming import keyedstore as ks


def ann_store_stats(spark: SparkSession, store_path: str) -> DataFrame:
    """One row per substore of the ANN index at ``store_path``:
    codes, seen, the vecs sidecar (when it holds files), and pending
    tombstones.  Codebook snapshots are geometry-sized (C + M·K rows
    by construction) and excluded."""
    from kafkastreamsproject_spark.streaming.annindex import ANN, ann_geometry

    nb = ann_geometry(spark, store_path)["n_buckets"]
    return ks.store_stats(spark, ANN, store_path, nb)


def bm25_store_stats(
    spark: SparkSession, store_path: str
) -> DataFrame:
    """One row per substore of the BM25 index at ``store_path``:
    postings, seen, positions (when the positional store exists), and
    pending tombstones.  Each substore's bucket width resolves from
    its own ``_store_meta.json`` (r14 ADVICE: the previous hardcoded
    default width made ``check_store_meta`` raise for any index
    created at a non-default width — the ops readout failed exactly
    on the large stores it targets)."""
    from kafkastreamsproject_spark.streaming.bm25index import BM25, N_BUCKETS

    return ks.store_stats(spark, BM25, store_path, N_BUCKETS)


def describe_store(
    spark: SparkSession, store_path: str
) -> DataFrame:
    """Species-dispatching stats: an ANN store (has the
    ``_ann_meta.json`` geometry sidecar) or a BM25 index (postings
    dir).  Adds a ``store`` column naming the species so fleets of
    stores can union their readouts."""
    from kafkastreamsproject_spark.operators.fs import (
        hadoop_exists,
        hadoop_has_files,
    )
    from kafkastreamsproject_spark.streaming.annindex import _GEO_FILE
    from kafkastreamsproject_spark.streaming.bm25index import _POSTINGS

    if hadoop_exists(spark, f"{store_path}/{_GEO_FILE}"):
        return ann_store_stats(spark, store_path).select(
            F.lit("ann").alias("store"), "*"
        )
    if hadoop_has_files(spark, _POSTINGS.path(store_path)):
        return bm25_store_stats(spark, store_path).select(
            F.lit("bm25").alias("store"), "*"
        )
    raise ValueError(
        f"{store_path} is neither an ANN store (_ann_meta.json) nor a "
        "BM25 index (postings/) — use the species-specific stats "
        "function for other store kinds"
    )
