"""One store lifecycle for the keyed serving indexes (BM25, IVF-PQ)
and the first-seen hash sets (line dedup, corpus novelty).

The reference keeps its state in Kafka Streams key-value stores that
all share one lifecycle; Structured Streaming puts every state store
behind one provider.  The stores here do the same: a serving index is
described by a :class:`KeyedIndex` spec, a hash set by one
:class:`Substore`, and this module holds the one implementation of
reading, admitting, compacting, erasing, upserting, tombstoning,
describing and dropping them, over the ``sources/bucketed.py``
helpers.  It is also the only module that maps a store directory to
its catalog table (:meth:`Substore.table`).  Batch shaping, stats
and query paths stay with each store's module.

A hash set (``streaming/linededup.py``'s ``lines``,
``streaming/novelty.py``'s ``trigrams``) is one substore bucketed on
its hash column.  A fold (:func:`admit`) elects the batch's first row
per hash, anti-joins those against the set (:func:`probe`, zero
store-side Exchange), pins the caller's stats and the admitted rows
to the pre-append snapshot, then appends: a replayed fold admits
nothing twice.  :func:`compact` and :func:`forget_keys` maintain it,
:func:`drop` removes it.

An index lives under one root directory and is keyed by one id column
(``doc_id`` / ``vec_id``):

- **seen** — the freshness ledger, bucketed on the key.  A fold
  appends its row substores first and the ledger last, so the ledger
  is the fold's commit point: a doc not yet in the ledger is fully
  re-indexed on replay (the reverse order would mark docs seen whose
  rows were never written).  A batch-level replay of a fold that
  crashed between the two can re-append row-substore rows; the
  streaming sinks skip replayed epochs, so only the batch API reaches
  that window.
- **row substores** — the serving rows, each bucketed on its own
  column and carrying the key: ``postings``/``positions`` for BM25,
  ``codes``/``vecs`` for ANN.  The first is required; the others are
  optional.
- **tombstones** — a plain-parquet append set of pending logical
  deletes, excluded by every read until :func:`apply_tombstones`
  makes them physical.

Four rules hold for every index:

1. An optional substore takes part in forget, compact and stats iff
   its directory holds data files.
2. Each row substore finds its victims' keys in its own rows — a
   replayed erasure reaches every substore whatever step the first
   run stopped at.
3. The ledger is forgotten last: a crash mid-erasure leaves a doc
   counted but unsearchable (consistent), never searchable but
   uncounted, and the erased ids become re-indexable only once every
   row is gone.
4. The tombstone files are deleted last: a crash after the rewrite
   replays the forget as a no-op and clears on retry, and reads are
   correct throughout because pending ids are excluded whether or not
   their bytes are gone.

Every mutation here is a single-writer maintenance op: run it between
folds.  Replaying a completed or partial one is a no-op.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafkastreamsproject_spark.operators.fs import (
    _fs_and_path,
    hadoop_count_files,
    hadoop_has_files,
)
from kafkastreamsproject_spark.session import local_rows
from kafkastreamsproject_spark.sources import bucketed


@dataclass(frozen=True)
class Substore:
    """One bucketed substore: its directory under the store root (also
    its stats row name), schema, bucket columns and catalog prefix.  A
    hash set is one substore, bucketed on its hash column."""

    name: str
    schema: str
    bucket_cols: tuple[str, ...]
    prefix: str
    optional: bool = False

    def path(self, root: str) -> str:
        return f"{root}/{self.name}"

    def table(self, root: str) -> str:
        return bucketed.store_table_name(self.prefix, self.path(root))


@dataclass(frozen=True)
class KeyedIndex:
    """A keyed index: the key column, the ``seen`` ledger and the row
    substores (required one first)."""

    key: str
    seen: Substore
    rows: tuple[Substore, ...]


def read(
    spark: SparkSession, sub: Substore, root: str, n_buckets: int
) -> DataFrame:
    return bucketed.read_bucketed_store(
        spark, sub.path(root), sub.table(root), sub.schema,
        list(sub.bucket_cols), n_buckets,
    )


def append(
    spark: SparkSession, sub: Substore, df: DataFrame, root: str, n_buckets: int
) -> None:
    bucketed.append_bucketed_store(
        spark, df, sub.path(root), sub.table(root),
        list(sub.bucket_cols), n_buckets,
    )


def takes_part(
    spark: SparkSession, sub: Substore, root: str, n_buckets: int
) -> bool:
    """Rule 1: a required substore always takes part in maintenance,
    an optional one iff its directory holds data files."""
    return not sub.optional or bucketed.open_store(
        spark, sub.path(root), list(sub.bucket_cols), n_buckets
    )


def _live(
    spark: SparkSession, spec: KeyedIndex, root: str, n_buckets: int
) -> list[Substore]:
    return [s for s in spec.rows if takes_part(spark, s, root, n_buckets)]


def probe(sub: Substore, first: DataFrame, store: DataFrame) -> DataFrame:
    """The rows of ``first`` whose hash (``sub``'s bucket column) the
    set ``store`` has never admitted.  The store side scans its buckets
    in place PROVIDED the session's shuffle partitions do not exceed
    its bucket count at execution (EnsureRequirements reuses the bucket
    partitioning only then; :func:`admit` scopes this, and a batch-side
    repartition is no substitute — Catalyst hoists it above the
    join)."""
    key = sub.bucket_cols[0]
    return first.join(store.select(key), key, "left_anti")


def admit(
    sub: Substore,
    rows: DataFrame,
    elect: Callable[[DataFrame], DataFrame],
    stats: Callable[[DataFrame, DataFrame], DataFrame],
    root: str,
    n_buckets: int,
) -> DataFrame:
    """One first-seen fold of the hash set ``sub``: ``elect(rows)``
    picks the batch's first row per hash (the set's columns plus
    anything ``stats`` needs), :func:`probe` keeps those the set has
    never admitted, and ``stats(rows, fresh)`` is the caller's result.
    The result and the admitted rows are both pinned to the pre-append
    snapshot (eager localCheckpoint), so neither carries lineage into
    the files the append writes and a replay admits nothing twice.
    Runs under ``shuffle_scoped_to_buckets``: the probe plans no
    store-side Exchange whatever the ambient shuffle partitions."""
    spark = rows.sparkSession
    with bucketed.shuffle_scoped_to_buckets(spark, n_buckets):
        rows.persist()
        store = read(spark, sub, root, n_buckets)
        fresh = probe(sub, elect(rows), store)
        out = stats(rows, fresh).localCheckpoint(eager=True)
        admitted = fresh.select(*store.columns).localCheckpoint(eager=True)
        rows.unpersist()
        append(spark, sub, admitted, root, n_buckets)
    return out


def compact(
    spark: SparkSession, spec: KeyedIndex | Substore, root: str, n_buckets: int
) -> int:
    """Compact a hash set, or an index's ledger and every live row
    substore, to ~1 file per bucket; returns the data-file count of
    the set, or of the index's required row substore."""
    if isinstance(spec, Substore):
        return bucketed.compact_bucketed_store(
            spark, spec.path(root), spec.table(root), spec.schema,
            list(spec.bucket_cols), n_buckets,
        )
    files = {
        sub.name: compact(spark, sub, root, n_buckets)
        for sub in [spec.seen, *_live(spark, spec, root, n_buckets)]
    }
    return files[spec.rows[0].name]


def forget_keys(
    spark: SparkSession,
    sub: Substore,
    keys: DataFrame,
    root: str,
    n_buckets: int,
) -> dict:
    """Delete every row of ``sub`` whose values on ``keys``' columns
    (the bucket column among them) appear in ``keys``, rewriting only
    the buckets those keys hash to.  Returns affected_buckets,
    files_rewritten and rows_deleted."""
    return bucketed.forget_rows_in_store(
        spark, keys, sub.path(root), sub.table(root), sub.schema,
        list(sub.bucket_cols), n_buckets, match_cols=keys.columns,
    )


def forget(
    spark: SparkSession,
    spec: KeyedIndex,
    ids: DataFrame,
    root: str,
    n_buckets: int,
    before_ledger: Callable[[DataFrame], None] | None = None,
) -> dict:
    """Erase ``ids`` (one column, the key) from every substore: each
    live row substore through a bucket-local (bucket column, key)
    row-level forget, keyed from its own rows (rule 2), then
    ``before_ledger(victims)``, then the ledger (rule 3).  Returns
    per-substore deletion counts."""
    key = spec.key
    victims = ids.select(key).distinct().localCheckpoint(eager=True)
    out = {}
    for sub in _live(spark, spec, root, n_buckets):
        match = [sub.bucket_cols[0], key]
        keys = (
            read(spark, sub, root, n_buckets)
            .select(*match)
            .join(F.broadcast(victims), key)
            .distinct()
            .localCheckpoint(eager=True)
        )
        out[sub.name] = forget_keys(spark, sub, keys, root, n_buckets)
    if before_ledger is not None:
        before_ledger(victims)
    out["seen"] = forget_keys(spark, spec.seen, victims, root, n_buckets)
    return out


def _tomb_path(root: str) -> str:
    return f"{root}/tombstones"


def read_tombstones(
    spark: SparkSession, spec: KeyedIndex, root: str
) -> DataFrame | None:
    """The PENDING logical deletes as a one-column (key) DataFrame, or
    ``None`` when nothing is pending.  Replayed tombstone appends leave
    duplicate rows in the files; the read de-duplicates them."""
    path = _tomb_path(root)
    if not hadoop_has_files(spark, path):
        return None
    return (
        spark.read.schema(f"{spec.key} long").parquet(path)
        .select(spec.key)
        .distinct()
    )


def tombstone(
    spark: SparkSession, spec: KeyedIndex, ids: DataFrame, root: str
) -> dict:
    """LOGICAL delete: append ``ids`` to the pending set — one tiny
    parquet append, O(|victims|) whatever the index size.  Returns
    {"tombstoned": n, "pending": m}."""
    key = spec.key
    victims = (
        ids.select(F.col(key).cast("long").alias(key))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = victims.count()
    if n:
        victims.coalesce(1).write.mode("append").parquet(_tomb_path(root))
    pending = read_tombstones(spark, spec, root)
    return {
        "tombstoned": n,
        "pending": pending.count() if pending is not None else 0,
    }


def apply_tombstones(
    spark: SparkSession,
    spec: KeyedIndex,
    root: str,
    forget_ids: Callable[[DataFrame], dict],
) -> dict:
    """Make the pending deletes PHYSICAL through ``forget_ids`` (the
    index's forget), then delete the tombstone files (rule 4).
    Returns the forget counts plus {"applied": n}; {"applied": 0} when
    nothing was pending."""
    tombs = read_tombstones(spark, spec, root)
    if tombs is None:
        return {"applied": 0}
    victims = tombs.localCheckpoint(eager=True)
    n = victims.count()
    out = forget_ids(victims)
    fs, hpath = _fs_and_path(spark, _tomb_path(root))
    fs.delete(hpath, True)
    out["applied"] = n
    return out


def upsert(
    spark: SparkSession,
    spec: KeyedIndex,
    rows: DataFrame,
    root: str,
    forget_ids: Callable[[DataFrame], dict],
    fold: Callable[[DataFrame], dict],
) -> dict:
    """REINDEX arriving rows: forget their ids (a no-op for new ids),
    then fold the batch as fresh.  A crash between the two leaves the
    ids absent but consistent, and a replay converges (the forget is a
    no-op, the fold re-runs).  RAISES when an arriving id has a
    PENDING tombstone: the next apply would delete the new rows, so the
    caller runs apply first (delete wins, then the upsert re-creates).
    Returns the forget counts under "forgotten" plus the fold counts."""
    key = spec.key
    ids = rows.select(key).distinct().localCheckpoint(eager=True)
    pending = read_tombstones(spark, spec, root)
    if pending is not None:
        n_pending = ids.join(F.broadcast(pending), key, "left_semi").count()
        if n_pending:
            raise ValueError(
                f"{n_pending} arriving {key}(s) have PENDING tombstones "
                f"at {root} — upserting them now would be silently "
                "swallowed by the pending set and the next apply.  Run "
                "apply_tombstones first, then retry the upsert"
            )
    out = {"forgotten": forget_ids(ids)}
    out.update(fold(rows))
    return out


def store_stats(
    spark: SparkSession, spec: KeyedIndex, root: str, n_buckets: int
) -> DataFrame:
    """One ``(substore, rows, data_files)`` row per live substore plus
    the pending tombstones.  Each substore's bucket width comes from
    its own ``_store_meta.json`` (``n_buckets`` only for a store that
    predates the sidecar)."""
    out = []
    for sub in [*spec.rows, spec.seen]:
        meta = bucketed.read_store_meta(spark, sub.path(root))
        width = meta["n_buckets"] if meta else n_buckets
        if takes_part(spark, sub, root, width):
            n = read(spark, sub, root, width).count()
            out.append((sub.name, n, hadoop_count_files(spark, sub.path(root))))
    tombs = read_tombstones(spark, spec, root)
    out.append((
        "tombstones",
        tombs.count() if tombs is not None else 0,
        hadoop_count_files(spark, _tomb_path(root)),
    ))
    return local_rows(
        spark, "substore string, rows long, data_files int", out
    )


def drop(spark: SparkSession, spec: KeyedIndex | Substore, root: str) -> None:
    """Remove the store at ``root``: drop the catalog entry of every
    substore of ``spec`` (a hash set is its own one substore; optional
    substores included, present or not), then delete ``root``."""
    subs = [spec] if isinstance(spec, Substore) else [spec.seen, *spec.rows]
    for sub in subs:
        spark.sql(f"DROP TABLE IF EXISTS {sub.table(root)}")
    fs, path = _fs_and_path(spark, root)
    fs.delete(path, True)
