"""Incremental near-dup at ingest — the streaming member of the
MinHash-LSH family.

A training-data pipeline doesn't near-dup a frozen corpus once: new
documents arrive continuously and each must be checked against
EVERYTHING already accepted, without rescanning the accepted corpus.
The classic answer is a persistent signature store: per micro-batch,

1. signature the batch (shingle → 32-bit hash → MinHash, the same
   relational pipeline as the batch query `minhash_lsh_pairs`);
2. LSH-band both the batch and the store and equi-join on
   (band_id, h1, h2) — candidate work scales with signature
   collisions, never with |store| × |batch|;
3. confirm candidates with exact Jaccard over the hashed shingle sets
   and write the (new_doc, matched_doc, jaccard) verdicts;
4. append only the NON-duplicate signatures to the store — the first
   occurrence stays canonical, so the store grows with the UNIQUE
   corpus, not the raw stream.

State lives in parquet, not the streaming state store: signatures are
~450 B/doc and must outlive any one query (state-store TTL is bounded
by watermarks; a dedup corpus is forever).  At scale the store would
be bucketed by band hash so step 2's join is shuffle-free on the store
side.

Restart safety is streaming/pipeline.py's ``_replay_safe_sink``:
replayed epochs are skipped via marker files.  The two appends
(signatures, then matches) are individually non-atomic, so the crash
windows are: (a) after signatures, before matches — replay re-derives
the batch; the store append is idempotent (anti-join vs existing store
ids) and the verdict log is at-least-once (duplicate match rows
possible, documented); (b) after matches, before the marker — same
replay, same guarantees.  Signatures are written FIRST because store
consistency outranks the verdict log: a lost verdict row is
re-derivable, lost accepted signatures would admit a later twin as
canonical.  A transactional table format would close both windows.
All store probes go through the Hadoop FileSystem API
(operators/fs.py) so a remote store URI is never mistaken for absent.

Batch-internal duplicates: within one micro-batch the same banded join
runs batch×batch (id-ordered) so two copies arriving together yield
one canonical survivor, same as the batch query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from kafkastreamsproject_spark.functions import hashing as H
from kafkastreamsproject_spark.functions import text as TX
from kafkastreamsproject_spark.operators.fs import (
    _fs_and_path,
    hadoop_has_files,
    hadoop_restore_swapped,
    hadoop_swap_dir,
)
from kafkastreamsproject_spark.session import local_rows
from kafkastreamsproject_spark.streaming.pipeline import _replay_safe_sink

SHINGLE_W = 5
N_BANDS = 4  # 8 perms → 4 bands of 2 rows
JACCARD_T = 0.5

_SIG_SCHEMA = "doc_id long, hset array<bigint>, mhs array<bigint>"


def doc_shingle_sets(docs: DataFrame) -> DataFrame:
    """(doc_id, hset) only — :func:`doc_signatures` WITHOUT the 8-perm
    MinHash.  For consumers that need just the Jaccard/containment
    side (the curation funnel's decontamination gate), the MinHash leg
    is pure waste — 8 hash-combines per shingle over every document.
    r13's same-JVM 100× A/B priced it at ~6% of that stage's wall
    (31.5 → 29.7 s; the bulk is the shingle construction itself —
    smokes/r13.json funnel_decon_attribution) — kept because it is
    free waste-removal.  Hashing is identical to doc_signatures, so
    set semantics agree exactly."""
    sh = TX.shingles(F.col("text"), SHINGLE_W)
    return (
        docs.filter(F.size(TX.tokens(F.col("text"))) >= SHINGLE_W)
        .select("doc_id", H.hash_list(sh).alias("hs"))
        .select("doc_id", F.array_distinct("hs").alias("hset"))
    )


def doc_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, hset, mhs) for every doc with ≥ SHINGLE_W tokens.

    hset = distinct 32-bit shingle hashes (Jaccard confirmation side),
    mhs = 8-perm MinHash signature (banding side).  Identical hashing
    to the batch family, so batch and streaming verdicts agree.
    """
    sh = TX.shingles(F.col("text"), SHINGLE_W)
    return (
        docs.filter(F.size(TX.tokens(F.col("text"))) >= SHINGLE_W)
        .select("doc_id", H.hash_list(sh).alias("hs"))
        .select(
            "doc_id",
            F.array_distinct("hs").alias("hset"),
            H.minhash_signature_array(F.col("hs")).alias("mhs"),
        )
    )


def _bands(sigs: DataFrame) -> DataFrame:
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.col("mhs")[2 * b].alias("h1"),
                F.col("mhs")[2 * b + 1].alias("h2"),
            )
            for b in range(N_BANDS)
        ]
    )
    return sigs.select("doc_id", F.explode(band_structs).alias("band")).select(
        "doc_id", "band.band_id", "band.h1", "band.h2"
    )


def _confirmed_pairs(
    new_sigs: DataFrame, against_sigs: DataFrame, within_batch: bool
) -> DataFrame:
    """(new_doc_id, matched_doc_id, jaccard ≥ T) — banded candidates
    confirmed by exact Jaccard.  ``within_batch`` orders ids so each
    batch-internal pair surfaces once with the LOWER id canonical."""
    nb = _bands(new_sigs).select(
        F.col("doc_id").alias("new_doc_id"), "band_id", "h1", "h2"
    )
    ab = _bands(against_sigs).select(
        F.col("doc_id").alias("matched_doc_id"),
        F.col("band_id").alias("band_id_b"),
        F.col("h1").alias("h1_b"),
        F.col("h2").alias("h2_b"),
    )
    cond = (
        (F.col("band_id") == F.col("band_id_b"))
        & (F.col("h1") == F.col("h1_b"))
        & (F.col("h2") == F.col("h2_b"))
    )
    if within_batch:
        cond = cond & (F.col("matched_doc_id") < F.col("new_doc_id"))
    else:
        # Store probe: a doc id never collides with a store id in normal
        # operation, but a crash-replayed epoch (signatures already
        # appended, marker unwritten) re-presents its own docs; the
        # self-pair must not surface as a duplicate verdict.  Store
        # idempotency under that replay is handled separately in
        # ingest_batch (anti-join vs existing store ids).
        cond = cond & (F.col("matched_doc_id") != F.col("new_doc_id"))
    cands = nb.join(ab, cond).select("new_doc_id", "matched_doc_id").distinct()
    return jaccard_confirm(cands, new_sigs, against_sigs)


def jaccard_confirm(
    cands: DataFrame, new_sigs: DataFrame, against_sigs: DataFrame
) -> DataFrame:
    """Exact-Jaccard confirmation of banded candidate pairs: keep
    (new_doc_id, matched_doc_id) where the hashed-shingle-set Jaccard
    clears JACCARD_T.  Shared by the per-batch probe and the bucketed
    banded-table probe — the candidate list is small after banding, so
    both joins ship only (doc_id, hash-array) rows for implicated docs."""
    sa = new_sigs.select(F.col("doc_id").alias("new_doc_id"), F.col("hset").alias("h_a"))
    sb = against_sigs.select(
        F.col("doc_id").alias("matched_doc_id"), F.col("hset").alias("h_b")
    )
    # hset is distinct, so |A∪B| = |A|+|B|−|A∩B| — same identity as the
    # batch family; no union array is materialized per candidate pair.
    inter = F.size(F.array_intersect("h_a", "h_b"))
    jac = inter / (F.size("h_a") + F.size("h_b") - inter).cast("double")
    return (
        cands.join(sa, "new_doc_id")
        .join(sb, "matched_doc_id")
        .filter(jac >= JACCARD_T)
        .select("new_doc_id", "matched_doc_id", F.round(jac, 6).alias("jaccard"))
    )


def _read_store(spark: SparkSession, sig_path: str) -> DataFrame:
    # Hadoop FS probe, not os.path: the store may be a remote URI, and a
    # driver-local check would silently treat it as absent (first batch
    # overwrites-from-empty instead of merging).  An interrupted
    # compaction swap is undone first (operators/fs.py).
    hadoop_restore_swapped(spark, sig_path)
    if hadoop_has_files(spark, sig_path):
        return spark.read.schema(_SIG_SCHEMA).parquet(sig_path)
    return local_rows(spark, _SIG_SCHEMA)


def ingest_batch(
    batch: DataFrame, store_path: str
) -> tuple[DataFrame, DataFrame]:
    """One fold of the dedup-at-ingest loop, batch-mode callable (the
    foreachBatch body, exposed for tests and backfills).

    Returns (matches, accepted): near-dup verdicts for this batch and
    the signatures admitted to the store.  Side effect: appends
    ``accepted`` under ``<store>/signatures`` and ``matches`` under
    ``<store>/matches``.
    """
    spark = batch.sparkSession
    sig_path = f"{store_path}/signatures"

    sigs = doc_signatures(batch)
    sigs.persist()
    store = _read_store(spark, sig_path)

    vs_store = _confirmed_pairs(sigs, store, within_batch=False)
    vs_batch = _confirmed_pairs(sigs, sigs, within_batch=True)
    # localCheckpoint(eager) pins BOTH results to the store's PRE-append
    # snapshot: the returned DataFrames carry no lineage back to the
    # store files, so later evaluation cannot re-scan the store after
    # this batch's own signatures were appended (a doc would "match"
    # itself) and the appends below never read what they write.
    matches = vs_store.unionByName(vs_batch).localCheckpoint(eager=True)
    dup_ids = matches.select(F.col("new_doc_id").alias("doc_id")).distinct()
    # Second anti-join (vs store ids, column-pruned to 8 B/row): a
    # crash-replayed epoch whose signatures already landed re-admits the
    # same docs, and without this guard would append them twice.  With
    # it, the store append is idempotent under replay.
    accepted = (
        sigs.join(dup_ids, "doc_id", "left_anti")
        .join(store.select("doc_id"), "doc_id", "left_anti")
        .localCheckpoint(eager=True)
    )
    sigs.unpersist()

    # Signatures append FIRST: the two appends are not atomic, and a
    # crash between them must leave the STORE consistent (a replayed
    # epoch then re-derives the same verdicts) — losing a verdict log
    # row is recoverable, losing accepted signatures is corpus
    # corruption (a later twin would be admitted as canonical).
    accepted.write.mode("append").parquet(sig_path)
    matches.write.mode("append").parquet(f"{store_path}/matches")
    return matches, accepted


def compact_store(
    spark: SparkSession,
    store_path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Compact the signature store's append log into few large files.

    Every epoch appends one parquet file per shuffle partition, so a
    long-running ingest accumulates thousands of tiny files and the
    per-batch store scan becomes metadata-bound (the classic streaming
    small-files failure).  This maintenance op rewrites the store at
    ~``target_file_bytes`` per file and swaps it in with
    operators/fs.py:hadoop_swap_dir.  Returns the number of files after
    compaction.

    Contract: single-writer — run between epochs (the ingest loop is a
    sequential foreachBatch, so any pause point is safe).
    """
    import math

    sig_path = f"{store_path}/signatures"
    if not hadoop_has_files(spark, sig_path):
        return 0
    store = spark.read.schema(_SIG_SCHEMA).parquet(sig_path)
    fs, src = _fs_and_path(spark, sig_path)
    total_bytes = fs.getContentSummary(src).getLength()
    n_files = max(1, math.ceil(total_bytes / target_file_bytes))
    tmp = f"{store_path}/signatures_compacting"
    store.repartition(n_files).write.mode("overwrite").parquet(tmp)
    hadoop_swap_dir(spark, sig_path, tmp)
    return n_files


def materialize_banded_store(
    spark: SparkSession,
    store_path: str,
    table_name: str,
    n_buckets: int = 64,
) -> None:
    """Materialize the store's LSH bands as a BUCKETED table — the
    at-scale probe shape: bucketed on the candidate join key
    (band_id, h1, h2), so :func:`probe_banded_store`'s equi-join reads
    co-located buckets and plans ZERO Exchange on the store side; only
    the (small) incoming batch shuffles.  Refresh cadence matches
    compaction: bands derive from the signature log, so rebuild after
    every compact (or every K epochs)."""
    store = _read_store(spark, f"{store_path}/signatures")
    (
        _bands(store)
        .write.mode("overwrite")
        .bucketBy(n_buckets, "band_id", "h1", "h2")
        .sortBy("band_id", "h1", "h2")
        .saveAsTable(table_name)
    )


def probe_banded_store(
    batch_sigs: DataFrame, spark: SparkSession, table_name: str
) -> DataFrame:
    """Candidate (new_doc_id, matched_doc_id) pairs from the bucketed
    band table: store side scans its buckets in place, batch side
    shuffles to match — the |store|-proportional half of the probe never
    moves at 100 TB."""
    store_bands = spark.table(table_name).select(
        F.col("doc_id").alias("matched_doc_id"),
        F.col("band_id").alias("band_id_b"),
        F.col("h1").alias("h1_b"),
        F.col("h2").alias("h2_b"),
    )
    nb = _bands(batch_sigs).select(
        F.col("doc_id").alias("new_doc_id"), "band_id", "h1", "h2"
    )
    cond = (
        (F.col("band_id") == F.col("band_id_b"))
        & (F.col("h1") == F.col("h1_b"))
        & (F.col("h2") == F.col("h2_b"))
        & (F.col("matched_doc_id") != F.col("new_doc_id"))
    )
    return nb.join(store_bands, cond).select("new_doc_id", "matched_doc_id").distinct()


def dedup_shard_against_store(
    shard: DataFrame,
    store_path: str,
    banded_table: str | None = None,
) -> DataFrame:
    """Cross-snapshot incremental BATCH dedup: probe a new shard of
    documents (doc_id, text) against a persisted corpus snapshot's
    signature store WITHOUT recomputing the corpus — the most common
    production dedup shape (daily crawl shard vs frozen corpus).

    Verdict per shard document: ``(doc_id, accepted, n_matches,
    first_match_id)`` — accepted iff no confirmed near-dup against
    either the store or a LOWER-id shard doc (canonical-first
    admission, identical to :func:`ingest_batch`'s fold semantics);
    n_matches counts confirmed matches and first_match_id is the
    smallest, NULL when accepted.  Docs under SHINGLE_W tokens carry no
    signature and are trivially accepted.

    ``banded_table`` selects the at-scale probe shape: candidates come
    from :func:`probe_banded_store`'s bucketed equi-join (store-side
    scan in place, ZERO store Exchange) and only the Jaccard
    confirmation touches the signature store — the path a 100 TB
    corpus uses after :func:`materialize_banded_store`.  Without it the
    store is re-banded per call (fine for small snapshots/tests).

    Read-only: unlike :func:`ingest_batch` this does NOT admit the
    accepted shard docs into the store — verdict computation and store
    mutation are separate steps so a pipeline can veto, sample, or
    re-shard before committing (call ingest_batch to commit)."""
    spark = shard.sparkSession
    sigs = doc_signatures(shard).persist()
    store = _read_store(spark, f"{store_path}/signatures")
    if banded_table is not None:
        cands = probe_banded_store(sigs, spark, banded_table)
        vs_store = jaccard_confirm(cands, sigs, store)
    else:
        vs_store = _confirmed_pairs(sigs, store, within_batch=False)
    vs_batch = _confirmed_pairs(sigs, sigs, within_batch=True)
    matches = vs_store.unionByName(vs_batch)
    agg = (
        matches.groupBy(F.col("new_doc_id").alias("doc_id"))
        .agg(
            F.count(F.lit(1)).alias("n_matches"),
            F.min("matched_doc_id").alias("first_match_id"),
        )
    )
    verdicts = (
        shard.select("doc_id")
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_matches").isNull().alias("accepted"),
            F.coalesce("n_matches", F.lit(0).cast("long")).alias("n_matches"),
            "first_match_id",
        )
        .localCheckpoint(eager=True)
    )
    sigs.unpersist()
    return verdicts


def to_neardup_ingest_sink(
    docs: DataFrame, store_path: str, checkpoint: str
) -> StreamingQuery:
    """Streaming dedup-at-ingest: fold each micro-batch of documents
    (doc_id, text, ...) through :func:`ingest_batch` via
    streaming/pipeline.py's :func:`_replay_safe_sink`.  Replayed epochs
    are skipped, and once the signature append log passes the
    storeconfig ``compact_files_plain`` file count :func:`compact_store`
    runs — inside the sequential foreachBatch loop, so the
    single-writer contract holds by construction (the store is a plain
    parquet append log, so the trigger counts files, not
    files-per-bucket)."""
    return _replay_safe_sink(
        docs,
        store_path,
        checkpoint,
        lambda batch: ingest_batch(batch, store_path),
        available_now=True,
        compact=lambda spark: compact_store(spark, store_path),
        compact_probe=f"{store_path}/signatures",
        per_bucket=False,
    )
