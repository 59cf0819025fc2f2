"""Incremental keep-first LINE dedup at ingest — the streaming twin of
``plans/shadow.py:line_dedup_keep_first``.

A curation deployment dedups lines AS SHARDS ARRIVE: each batch's
lines are probed against a persistent first-seen line-hash store (which
line hashes has the corpus already kept a copy of), survivors are
elected keep-first WITHIN the batch by (doc_id, ordinal), and the
batch's genuinely-new hashes are admitted so the next batch dedups
against them.  Same persisted-store fold discipline as
``streaming/neardup.py:ingest_batch`` and ``streaming/novelty.py``:
read-only probe, verdicts pinned pre-append with an eager
localCheckpoint, idempotent append.

Attribution contract (matches the batch operator): a line belongs to
its FIRST keeper in arrival order — across batches by batch order,
within a batch by minimum (doc_id, ordinal).

Scale shape: lines are sliced and hashed in-row (text never shuffles);
the store carries one 32-char md5 per distinct corpus line, written as
a BUCKETED external table keyed on the hash (sources/bucketed.py) so
the per-batch anti-join probe reads co-located buckets and plans ZERO
store-side Exchange — at 100 TB the line store is corpus-sized and an
unbucketed store would re-shuffle its entire history every micro-batch.
Only the (small) batch side shuffles; per-doc rollups shuffle
(doc_id, small ints).  compact_store bounds the per-epoch small files.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from kafkastreamsproject_spark.storeconfig import DEFAULTS
from kafkastreamsproject_spark.functions import text as TX
from kafkastreamsproject_spark.sources.bucketed import (
    append_bucketed_store,
    compact_bucketed_store,
    read_bucketed_store,
    shuffle_scoped_to_buckets,
    store_table_name,
)

LINE_W = 12  # tokens per synthetic line — must match the batch operator
_STORE_SCHEMA = "lh string"
#: default store width, sized for the test SF.  Every entry point takes
#: ``n_buckets``; production sizing rule (sources/bucketed.py:61-74):
#: at least the ingest parallelism, targeting 128-512 MB per bucket.
#: All folds against one store MUST use the width it was created with.
N_BUCKETS = DEFAULTS.n_buckets


def lines_expr(toks: Column, w: int = LINE_W) -> Column:
    """``array<string>`` of consecutive ``w``-token lines (row-major,
    tail partial line included) over a token-array column — the shared
    line construction of the batch and ingest operators.  The token
    array is let-bound (functions/text.py:let1) so a split-expression
    argument evaluates once per row, not once per line."""
    return TX.let1(
        toks,
        lambda ts: F.transform(
            F.sequence(F.lit(0), ((F.size(ts) - 1) / w).cast("int")),
            lambda i: F.array_join(F.slice(ts, i * w + 1, w), " "),
        ),
    )


def _read_store(
    spark: SparkSession, path: str, n_buckets: int = N_BUCKETS
) -> DataFrame:
    """The store as a bucketed-table scan — probes against it plan no
    store-side Exchange (asserted in tests/test_neardup_ingest.py at
    the default AND a non-default width)."""
    return read_bucketed_store(
        spark, path, store_table_name("line_store", path), _STORE_SCHEMA,
        ["lh"], n_buckets,
    )


def fresh_against_store(batch_first: DataFrame, store: DataFrame) -> DataFrame:
    """The probe: batch-elected first-keepers whose line hash the store
    has never admitted.  Store side scans its buckets in place —
    PROVIDED the session's shuffle partitions do not exceed N_BUCKETS
    at execution time (EnsureRequirements only reuses the bucket
    partitioning then; the fold enforces this with
    shuffle_scoped_to_buckets, and an explicit batch-side repartition
    is NOT a substitute — Catalyst hoists it above the join)."""
    return batch_first.join(store.select("lh"), "lh", "left_anti")


def compact_store(
    spark: SparkSession, store_path: str, n_buckets: int = N_BUCKETS
) -> int:
    """Bound the store's per-epoch small files (~1 file per bucket
    after).  Single-writer: run between epochs.  Returns the data-file
    count after compaction."""
    path = f"{store_path}/lines"
    return compact_bucketed_store(
        spark, path, store_table_name("line_store", path), _STORE_SCHEMA,
        ["lh"], n_buckets,
    )


def line_dedup_ingest_batch(
    batch: DataFrame, store_path: str, n_buckets: int = N_BUCKETS
) -> DataFrame:
    """One fold of the line-dedup-at-ingest loop, one call per arriving
    shard (a stream would run it per epoch through streaming/pipeline.py's
    ``_replay_safe_sink``).

    Returns per-document stats ``(doc_id, n_lines, n_kept, kept_ords,
    keep_frac)`` where a line is kept iff its hash is absent from the
    store AND this (doc_id, ordinal) is its minimum keeper within the
    batch.  Side effect: appends the batch's fresh line hashes under
    ``<store>/lines`` (idempotent under epoch replay: already-admitted
    hashes anti-join away)."""
    spark = batch.sparkSession
    path = f"{store_path}/lines"

    with shuffle_scoped_to_buckets(spark, n_buckets):
        toks = TX.tokens(F.col("text"))
        base = batch.filter(F.size(toks) >= 1).select(
            "doc_id", lines_expr(toks).alias("lines")
        )
        ex = base.select(
            "doc_id",
            F.posexplode(F.transform("lines", F.md5)).alias("ord", "lh"),
        )
        ex.persist()
        store = _read_store(spark, path, n_buckets)

        batch_first = ex.groupBy("lh").agg(
            F.min(F.struct("doc_id", "ord")).alias("w")
        )
        fresh = fresh_against_store(batch_first, store)
        kept = (
            ex.join(fresh, "lh")
            .filter(
                (F.col("doc_id") == F.col("w.doc_id"))
                & (F.col("ord") == F.col("w.ord"))
            )
            .groupBy("doc_id")
            .agg(F.sort_array(F.collect_list("ord")).alias("keep"))
        )
        stats = (
            base.select("doc_id", F.size("lines").alias("n_lines"))
            .join(kept, "doc_id", "left")
            .withColumn(
                "keep", F.coalesce("keep", F.array().cast("array<int>"))
            )
            .select(
                "doc_id",
                "n_lines",
                F.size("keep").alias("n_kept"),
                F.array_join(F.col("keep").cast("array<string>"), ",").alias(
                    "kept_ords"
                ),
                (F.size("keep") / F.col("n_lines").cast("double")).alias(
                    "keep_frac"
                ),
            )
        )
        # pin stats AND the append set to the pre-append store snapshot:
        # neither carries lineage into files this fold writes
        stats = stats.localCheckpoint(eager=True)
        admitted = fresh.select("lh").localCheckpoint(eager=True)
        ex.unpersist()

        append_bucketed_store(
            spark, admitted, path, store_table_name("line_store", path),
            ["lh"], n_buckets,
        )
    return stats
