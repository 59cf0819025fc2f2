"""Incremental corpus-novelty tracking at ingest — the streaming twin
of ``plans/llmdata.py:doc_novelty_audit``.

A curation deployment wants the novelty curve AS SHARDS ARRIVE, not as
a full-corpus recompute: each batch's documents are scored against a
persistent first-seen trigram store (which trigram hashes has the
corpus already carried, and which document carried each first), then
the batch's genuinely-new hashes are admitted so the next batch dedups
novelty against them.  The same persisted-store fold as
``streaming/neardup.py:ingest_batch`` — read-only probe, verdicts
pinned pre-append with an eager localCheckpoint, idempotent anti-join
append — applied to the 8-byte trigram-hash relation instead of
MinHash signatures.

Attribution contract (matches the batch audit): a trigram belongs to
the FIRST carrier in arrival order — across batches by batch order,
within a batch by minimum doc_id.  Replaying a crashed epoch is safe:
hashes already admitted are anti-joined away, and the per-doc stats of
a replay equal the original's because the store snapshot they probe is
the same (verdicts-before-append discipline).

Scale shape: trigrams md5-hash inside the row before the explode (text
never shuffles), the store carries (h, first_doc) longs — 16 B per
distinct corpus trigram — written as a BUCKETED external table keyed
on h (sources/bucketed.py) so the per-batch anti-join probe reads
co-located buckets and plans ZERO store-side Exchange; an unbucketed
store would re-shuffle its entire (ever-growing) history every
micro-batch.  Only the batch side shuffles; per-doc rollups shuffle
(doc_id, long) pairs.  compact_store bounds per-epoch small files.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafkastreamsproject_spark.storeconfig import DEFAULTS
from kafkastreamsproject_spark.functions import hashing as H
from kafkastreamsproject_spark.functions import text as TX
from kafkastreamsproject_spark.sources.bucketed import (
    append_bucketed_store,
    compact_bucketed_store,
    read_bucketed_store,
    shuffle_scoped_to_buckets,
    store_table_name,
)

_NOVELTY_SCHEMA = "h long, first_doc long"
_TRI_W = 3
#: default store width, sized for the test SF.  Every entry point takes
#: ``n_buckets``; production sizing rule (sources/bucketed.py:61-74):
#: at least the ingest parallelism, targeting 128-512 MB per bucket.
#: All folds against one store MUST use the width it was created with.
N_BUCKETS = DEFAULTS.n_buckets


def doc_trigram_hashes(docs: DataFrame) -> DataFrame:
    """(doc_id, h) — distinct word-trigram hashes per document, hashed
    in-row (docs under the trigram width contribute nothing, the batch
    audit's documented behavior)."""
    toks = TX.tokens(F.col("text"))
    return (
        docs.filter(F.size(toks) >= _TRI_W)
        .select(
            "doc_id",
            F.explode(
                H.hash_list(TX.shingles(F.col("text"), _TRI_W))
            ).alias("h"),
        )
    )


def _read_store(
    spark: SparkSession, path: str, n_buckets: int = N_BUCKETS
) -> DataFrame:
    """The store as a bucketed-table scan — probes against it plan no
    store-side Exchange (asserted in tests/test_neardup_ingest.py at
    the default AND a non-default width)."""
    return read_bucketed_store(
        spark, path, store_table_name("novelty_store", path),
        _NOVELTY_SCHEMA, ["h"], n_buckets,
    )


def fresh_against_store(batch_first: DataFrame, store: DataFrame) -> DataFrame:
    """The probe: batch-elected first-carriers whose trigram hash the
    store has never admitted.  Store side scans its buckets in place —
    provided shuffle partitions <= N_BUCKETS at execution time (the
    fold enforces this with shuffle_scoped_to_buckets; see
    streaming/linededup.py:fresh_against_store)."""
    return batch_first.join(store.select("h"), "h", "left_anti")


def compact_store(
    spark: SparkSession, store_path: str, n_buckets: int = N_BUCKETS
) -> int:
    """Bound the store's per-epoch small files (~1 file per bucket
    after).  Single-writer: run between epochs.  Returns the data-file
    count after compaction."""
    path = f"{store_path}/trigrams"
    return compact_bucketed_store(
        spark, path, store_table_name("novelty_store", path),
        _NOVELTY_SCHEMA, ["h"], n_buckets,
    )


def novelty_ingest_batch(
    batch: DataFrame, store_path: str, n_buckets: int = N_BUCKETS
) -> DataFrame:
    """One fold of the novelty-at-ingest loop, one call per arriving
    shard (a stream would run it per epoch through streaming/pipeline.py's
    ``_replay_safe_sink``).

    Returns per-document stats ``(doc_id, n_trigrams, n_novel,
    novelty)`` where a trigram is novel iff it is absent from the
    store AND this doc is its minimum-doc_id carrier within the batch.
    Side effect: appends the batch's novel (h, first_doc) rows under
    ``<store>/trigrams`` (idempotent under epoch replay)."""
    spark = batch.sparkSession
    tri_path = f"{store_path}/trigrams"

    with shuffle_scoped_to_buckets(spark, n_buckets):
        tri = doc_trigram_hashes(batch)
        tri.persist()
        store = _read_store(spark, tri_path, n_buckets)

        batch_first = tri.groupBy("h").agg(
            F.min("doc_id").alias("first_doc")
        )
        fresh = fresh_against_store(batch_first, store)

        stats = (
            tri.join(
                fresh.select("h", F.col("first_doc").alias("nf")), "h", "left"
            )
            .groupBy("doc_id")
            .agg(
                F.count(F.lit(1)).alias("n_trigrams"),
                F.sum(
                    (F.col("nf") == F.col("doc_id")).cast("long")
                ).alias("n_novel"),
            )
            .select(
                "doc_id",
                "n_trigrams",
                F.coalesce(F.col("n_novel"), F.lit(0).cast("long")).alias(
                    "n_novel"
                ),
                (
                    F.coalesce(F.col("n_novel"), F.lit(0))
                    / F.col("n_trigrams").cast("double")
                ).alias("novelty"),
            )
        )
        # pin stats AND the append set to the pre-append store snapshot:
        # neither carries lineage into files this fold writes
        stats = stats.localCheckpoint(eager=True)
        admitted = fresh.localCheckpoint(eager=True)
        tri.unpersist()

        append_bucketed_store(
            spark, admitted, tri_path,
            store_table_name("novelty_store", tri_path),
            ["h"], n_buckets,
        )
    return stats
