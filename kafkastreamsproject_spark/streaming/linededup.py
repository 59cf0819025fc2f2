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
the store is the ``lines`` hash set of ``streaming/keyedstore.py``, one
32-char md5 per distinct corpus line, bucketed on the hash so the
per-batch anti-join probe plans ZERO store-side Exchange — at 100 TB
the line store is corpus-sized and an unbucketed store would re-shuffle
its entire history every micro-batch.  Only the (small) batch side
shuffles; per-doc rollups shuffle (doc_id, small ints).
``keyedstore.compact`` bounds the per-epoch small files.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kafkastreamsproject_spark.storeconfig import DEFAULTS
from kafkastreamsproject_spark.functions import text as TX
from kafkastreamsproject_spark.streaming import keyedstore as ks

LINE_W = 12  # tokens per synthetic line — must match the batch operator
#: the first-seen line-hash set, under ``<store>/lines``
LINES = ks.Substore("lines", "lh string", ("lh",), "line_store")
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
    toks = TX.tokens(F.col("text"))
    base = batch.filter(F.size(toks) >= 1).select(
        "doc_id", lines_expr(toks).alias("lines")
    )
    ex = base.select(
        "doc_id",
        F.posexplode(F.transform("lines", F.md5)).alias("ord", "lh"),
    )

    def elect(ex: DataFrame) -> DataFrame:
        return ex.groupBy("lh").agg(
            F.min(F.struct("doc_id", "ord")).alias("w")
        )

    def stats(ex: DataFrame, fresh: DataFrame) -> DataFrame:
        kept = (
            ex.join(fresh, "lh")
            .filter(
                (F.col("doc_id") == F.col("w.doc_id"))
                & (F.col("ord") == F.col("w.ord"))
            )
            .groupBy("doc_id")
            .agg(F.sort_array(F.collect_list("ord")).alias("keep"))
        )
        return (
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

    return ks.admit(LINES, ex, elect, stats, store_path, n_buckets)
