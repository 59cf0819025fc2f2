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

from kafkastreamsproject_spark.session import local_rows


def _stat_row(spark, name: str, df: DataFrame | None, files: int):
    n = 0 if df is None else df.count()
    return local_rows(
        spark,
        "substore string, rows long, data_files int",
        [(name, int(n), int(files))],
    )


def ann_store_stats(spark: SparkSession, store_path: str) -> DataFrame:
    """One row per substore of the ANN index at ``store_path``:
    codes, seen, the vecs sidecar (when present), and pending
    tombstones.  Codebook snapshots are geometry-sized (C + M·K rows
    by construction) and excluded."""
    from kafkastreamsproject_spark.operators.fs import hadoop_count_files
    from kafkastreamsproject_spark.streaming.annindex import (
        _codes_path,
        _seen_path,
        _tomb_path,
        _vecs_path,
        ann_geometry,
        has_vector_sidecar,
        read_codes,
        read_seen,
        read_tombstones,
        read_vecs,
    )

    geo = ann_geometry(spark, store_path)
    nb = geo["n_buckets"]
    parts = [
        _stat_row(
            spark, "codes", read_codes(spark, store_path, nb),
            hadoop_count_files(spark, _codes_path(store_path)),
        ),
        _stat_row(
            spark, "seen", read_seen(spark, store_path, nb),
            hadoop_count_files(spark, _seen_path(store_path)),
        ),
    ]
    if has_vector_sidecar(spark, store_path):
        parts.append(
            _stat_row(
                spark, "vecs", read_vecs(spark, store_path, nb),
                hadoop_count_files(spark, _vecs_path(store_path)),
            )
        )
    parts.append(
        _stat_row(
            spark, "tombstones", read_tombstones(spark, store_path),
            hadoop_count_files(spark, _tomb_path(store_path)),
        )
    )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def bm25_store_stats(
    spark: SparkSession, store_path: str
) -> DataFrame:
    """One row per substore of the BM25 index at ``store_path``:
    postings, seen, positions (when the positional store exists), and
    pending tombstones.  Each substore's bucket width resolves from
    its own ``_store_meta.json`` (r14 ADVICE: the previous hardcoded
    default width made ``check_store_meta`` raise for any index
    created at a non-default width — the ops readout failed exactly
    on the large stores it targets), the way :func:`ann_store_stats`
    reads the geometry sidecar."""
    from kafkastreamsproject_spark.operators.fs import (
        hadoop_count_files,
        hadoop_has_files,
    )
    from kafkastreamsproject_spark.sources.bucketed import read_store_meta
    from kafkastreamsproject_spark.streaming.bm25index import (
        N_BUCKETS,
        _positions_path,
        _postings_path,
        _seen_path,
        _tomb_path,
        read_positions,
        read_postings,
        read_seen,
        read_tombstones,
    )

    def _width(path: str) -> int:
        meta = read_store_meta(spark, path)
        return meta["n_buckets"] if meta else N_BUCKETS

    parts = [
        _stat_row(
            spark, "postings",
            read_postings(spark, store_path, _width(_postings_path(store_path))),
            hadoop_count_files(spark, _postings_path(store_path)),
        ),
        _stat_row(
            spark, "seen",
            read_seen(spark, store_path, _width(_seen_path(store_path))),
            hadoop_count_files(spark, _seen_path(store_path)),
        ),
    ]
    if hadoop_has_files(spark, _positions_path(store_path)):
        parts.append(
            _stat_row(
                spark, "positions",
                read_positions(
                    spark, store_path, _width(_positions_path(store_path))
                ),
                hadoop_count_files(spark, _positions_path(store_path)),
            )
        )
    parts.append(
        _stat_row(
            spark, "tombstones", read_tombstones(spark, store_path),
            hadoop_count_files(spark, _tomb_path(store_path)),
        )
    )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


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
    from kafkastreamsproject_spark.streaming.bm25index import (
        _postings_path,
    )

    if hadoop_exists(spark, f"{store_path}/{_GEO_FILE}"):
        return ann_store_stats(spark, store_path).select(
            F.lit("ann").alias("store"), "*"
        )
    if hadoop_has_files(spark, _postings_path(store_path)):
        return bm25_store_stats(spark, store_path).select(
            F.lit("bm25").alias("store"), "*"
        )
    raise ValueError(
        f"{store_path} is neither an ANN store (_ann_meta.json) nor a "
        "BM25 index (postings/) — use the species-specific stats "
        "function for other store kinds"
    )
