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
never shuffles); the store is the ``trigrams`` hash set of
``streaming/keyedstore.py``, (h, first_doc) longs — 16 B per distinct
corpus trigram — bucketed on h so the per-batch anti-join probe plans
ZERO store-side Exchange; an unbucketed store would re-shuffle its
entire (ever-growing) history every micro-batch.  Only the batch side
shuffles; per-doc rollups shuffle (doc_id, long) pairs.
``keyedstore.compact`` bounds per-epoch small files.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kafkastreamsproject_spark.storeconfig import DEFAULTS
from kafkastreamsproject_spark.functions import hashing as H
from kafkastreamsproject_spark.functions import text as TX
from kafkastreamsproject_spark.streaming import keyedstore as ks

#: the first-seen trigram set, under ``<store>/trigrams``
TRIGRAMS = ks.Substore(
    "trigrams", "h long, first_doc long", ("h",), "novelty_store"
)
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

    def elect(tri: DataFrame) -> DataFrame:
        return tri.groupBy("h").agg(F.min("doc_id").alias("first_doc"))

    def stats(tri: DataFrame, fresh: DataFrame) -> DataFrame:
        return (
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

    return ks.admit(
        TRIGRAMS, doc_trigram_hashes(batch), elect, stats, store_path,
        n_buckets,
    )
