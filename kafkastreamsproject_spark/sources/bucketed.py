"""Bucketed tables: shuffle-free co-located joins.

At 100 TB the single biggest recurring cost is re-shuffling the fact
table on its join key for every query.  Bucketing amortizes it:
``write.bucketBy(n, key).sortBy(key)`` materializes the table already
hash-partitioned; any later equi-join or aggregation on the bucket key
reads co-located buckets and skips the Exchange entirely (verified in
tests/test_scale_ops.py by asserting the bucketed join plans zero
shuffles).  Pick n_buckets so a bucket ≈ one task's worth of data
(128–512 MB); both join sides must share n_buckets and key.
"""

from __future__ import annotations

import hashlib
import json
import re
from collections import Counter

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafkastreamsproject_spark.operators.fs import (
    _fs_and_path,
    hadoop_count_files,
    hadoop_exists,
    hadoop_has_files,
    hadoop_read_text,
    hadoop_restore_swapped,
    hadoop_swap_dir,
    hadoop_write_text,
)
from kafkastreamsproject_spark.session import (
    local_rows,
    shuffle_partitions_scoped,
)


def materialize_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_col: str,
    n_buckets: int,
    sort: bool = True,
) -> None:
    """Write ``df`` as a bucketed managed table (overwrite)."""
    writer = df.write.mode("overwrite").bucketBy(n_buckets, bucket_col)
    if sort:
        writer = writer.sortBy(bucket_col)
    writer.saveAsTable(table_name)


# ---------------------------------------------------------------------------
# Appendable bucketed hash stores (streaming-ingest state)
#
# The first-seen hash sets and the serving indexes
# (streaming/keyedstore.py) probe an ever-growing hash relation every
# micro-batch.  A plain parquet append log makes that probe re-shuffle
# the ENTIRE store per batch — at 100 TB the line store is corpus-sized
# and the per-batch Exchange dominates everything else.  Writing the
# store as a bucketed external table keyed on the probe column makes
# the anti-join read co-located buckets: only the (small) incoming
# batch shuffles, the store side plans zero Exchange (asserted in
# tests/test_neardup_ingest.py).
#
# Appends go through saveAsTable(mode="append") with a matching bucket
# spec — each epoch adds one bucket-encoded file per task, so the scan
# stays bucketed (multiple files per bucket disable only the sorted
# read, never the shuffle elimination).  compact_bucketed_store bounds
# the resulting small-file count between epochs.
# ---------------------------------------------------------------------------


def shuffle_scoped_to_buckets(spark: SparkSession, n_buckets: int):
    """Pin ``spark.sql.shuffle.partitions`` to the store's bucket count
    for the scope — the conf contract a bucketed-store probe needs.

    EnsureRequirements reuses a child's existing partitioning only when
    its partition count is >= the session's shuffle partitions; with
    ambient partitions above the bucket count the planner re-shuffles
    BOTH join sides and DisableUnnecessaryBucketedScan then demotes the
    bucketed scan entirely (measured r10: a sibling job re-applying its
    own shuffle conf onto a shared session silently re-introduced the
    store-side Exchange).  Production guidance at 100 TB: bucket the
    store at least as wide as the ingest job's parallelism; this scope
    encodes the same invariant for the single-writer fold, where the
    batch-sized rollups are cheap at any width."""
    return shuffle_partitions_scoped(spark, n_buckets)


#: sidecar file recording the bucket spec a store was CREATED with.
#: The bucket count lives only in file names + the catalog entry; a
#: fresh session re-opening an existing store declares the table with
#: the CALLER's width, so a mismatched ``n_buckets`` would make Spark
#: trust wrong bucket metadata — silently co-locating joins on buckets
#: that don't line up (wrong dedup verdicts, not an error).  Every
#: read/append/compact/forget asserts the caller's spec against this
#: sidecar (r11 ADVICE).  Leading underscore: Spark's file listing
#: treats it as hidden, so scans never read it as data.
_META_FILE = "_store_meta.json"


def write_store_meta(
    spark: SparkSession, path: str, bucket_cols: list[str], n_buckets: int
) -> None:
    hadoop_write_text(
        spark,
        f"{path}/{_META_FILE}",
        json.dumps({"n_buckets": n_buckets, "bucket_cols": list(bucket_cols)}),
    )


def read_store_meta(spark: SparkSession, path: str) -> dict | None:
    text = hadoop_read_text(spark, f"{path}/{_META_FILE}")
    return json.loads(text) if text else None


def check_store_meta(
    spark: SparkSession, path: str, bucket_cols: list[str], n_buckets: int
) -> None:
    """Assert the caller's bucket spec matches the one the store at
    ``path`` was created with; raises ValueError on mismatch.  A store
    predating the sidecar (no meta file) is stamped with the caller's
    spec on first touch — the documented migration assumption is that
    the first post-upgrade open uses the original width."""
    meta = read_store_meta(spark, path)
    if meta is None:
        write_store_meta(spark, path, bucket_cols, n_buckets)
        return
    if meta["n_buckets"] != n_buckets or meta["bucket_cols"] != list(bucket_cols):
        raise ValueError(
            f"bucketed store at {path} was created with "
            f"n_buckets={meta['n_buckets']} bucket_cols={meta['bucket_cols']}; "
            f"caller supplied n_buckets={n_buckets} bucket_cols="
            f"{list(bucket_cols)} — all folds against one store must use "
            "the width it was created with (sources/bucketed.py)"
        )


def store_table_name(prefix: str, path: str) -> str:
    """Deterministic catalog name for the store at ``path`` — the same
    store re-opened in a new session maps back to the same table."""
    digest = hashlib.md5(path.encode("utf-8")).hexdigest()[:12]
    return f"{prefix}_{digest}"


def open_store(
    spark: SparkSession, path: str, bucket_cols: list[str], n_buckets: int
) -> bool:
    """The one place a bucketed store is opened — every read, append,
    compact, forget and merge goes through it.  Puts back a store an
    interrupted compaction swap left at ``<path>_old``
    (operators/fs.py:hadoop_restore_swapped), then returns whether the
    store holds data files, asserting the caller's bucket spec against
    the sidecar when it does."""
    hadoop_restore_swapped(spark, path)
    has_files = hadoop_has_files(spark, path)
    if has_files:
        check_store_meta(spark, path, bucket_cols, n_buckets)
    return has_files


def read_bucketed_store(
    spark: SparkSession,
    path: str,
    table_name: str,
    schema: str,
    bucket_cols: list[str],
    n_buckets: int,
) -> DataFrame:
    """Open the bucketed store at ``path`` (empty DataFrame if absent).

    Registers the external table on first touch of an existing store
    (fresh session over persisted state: the bucket ids live in the
    file names, so re-declaring the table over them restores the
    shuffle-free probe) and drops a stale catalog entry whose files
    are gone (recycled test tmpdirs)."""
    has_files = open_store(spark, path, bucket_cols, n_buckets)
    if spark.catalog.tableExists(table_name):
        if has_files:
            # Always re-list: appends may have happened in ANOTHER
            # session sharing this catalog — foreachBatch hands the
            # fold a CLONED SparkSession, so a fold's append refreshes
            # the clone's relation cache, not this session's.  Without
            # this, a reader outside the stream serves the file
            # listing from before the stream started (observed: a
            # fresh epoch's rows on disk but invisible to the main
            # session).  The listing is work the scan would do anyway
            # on a cold cache.
            spark.sql(f"REFRESH TABLE {table_name}")
            return spark.table(table_name)
        spark.sql(f"DROP TABLE IF EXISTS {table_name}")
        return local_rows(spark, schema)
    if has_files:
        cluster = ", ".join(bucket_cols)
        spark.sql(
            f"CREATE TABLE {table_name} ({schema}) USING parquet "
            f"CLUSTERED BY ({cluster}) SORTED BY ({cluster}) "
            f"INTO {n_buckets} BUCKETS LOCATION '{path}'"
        )
        return spark.table(table_name)
    return local_rows(spark, schema)


def _bucketed_write(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    table_name: str,
    bucket_cols: list[str],
    n_buckets: int,
    mode: str = "append",
) -> None:
    """Repartition ``df`` onto the bucket key and write it bucketed,
    declaring the external table at ``path`` when the catalog has no
    entry yet."""
    writer = (
        df.repartition(n_buckets, *[F.col(c) for c in bucket_cols])
        .write.mode(mode)
        .format("parquet")
        .bucketBy(n_buckets, *bucket_cols)
        .sortBy(*bucket_cols)
    )
    if not spark.catalog.tableExists(table_name):
        writer = writer.option("path", path)
    writer.saveAsTable(table_name)


def append_bucketed_store(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    table_name: str,
    bucket_cols: list[str],
    n_buckets: int,
) -> None:
    """Append ``df`` to the bucketed store, creating the external table
    at ``path`` on first write.  Idempotency under epoch replay is the
    CALLER's contract (anti-join the append set against the store
    before calling), same as the plain-parquet folds.

    The append REPARTITIONS onto the bucket key first (r14): Spark's
    bucketed write does not align tasks to buckets, so an unaligned
    batch writes one file into EVERY bucket it touches per task —
    measured at ~32 files/bucket/epoch on the ANN seen ledger, which
    made constant-size fold walls climb with the store's directory
    size until compaction caught up (smokes/r14.json
    ann_ingest_slope).  ``repartition(n_buckets, keys)`` uses the same
    Murmur3-pmod placement as the bucket-id assignment, so each write
    task holds exactly one bucket and every append lands ≤1 file per
    bucket — file count grows with EPOCHS, not epochs×tasks, and the
    adaptive compaction trigger fires for real load, not write
    amplification.  Cost: one batch-sized shuffle per append (appends
    are batch-sized by contract; the store side still never
    shuffles)."""
    open_store(spark, path, bucket_cols, n_buckets)
    _bucketed_write(spark, df, path, table_name, bucket_cols, n_buckets)
    # stamp the spec the store now physically has (first write creates
    # the sidecar; later appends re-assert above, so this is a no-op
    # rewrite of identical bytes)
    write_store_meta(spark, path, bucket_cols, n_buckets)


def compact_bucketed_store(
    spark: SparkSession,
    path: str,
    table_name: str,
    schema: str,
    bucket_cols: list[str],
    n_buckets: int,
) -> int:
    """Compact the store's append-accumulated files to ~1 per bucket.

    Every epoch appends one file per task; a long-running ingest
    accumulates thousands of tiny files and the per-batch probe goes
    metadata-bound (the classic streaming small-files failure).  This
    maintenance op rewrites the store bucketed (repartition on the
    bucket key aligns tasks to buckets, so each bucket lands in one
    file) and swaps it in with operators/fs.py:hadoop_swap_dir
    (single-writer: run between epochs; the rename swap is atomic on
    HDFS/local FS).

    Reads via plain parquet (bucket metadata is ignored on read), so
    this also MIGRATES a legacy unbucketed store into the bucketed
    layout.  Returns the data-file count after compaction."""
    if not open_store(spark, path, bucket_cols, n_buckets):
        return 0
    store = spark.read.schema(schema).parquet(path)
    tmp_path = f"{path}_compacting"
    tmp_name = f"{table_name}_compacting"
    spark.sql(f"DROP TABLE IF EXISTS {tmp_name}")
    _bucketed_write(
        spark, store, tmp_path, tmp_name, bucket_cols, n_buckets, "overwrite"
    )
    spark.sql(f"DROP TABLE IF EXISTS {tmp_name}")  # external: files stay
    hadoop_swap_dir(spark, path, tmp_path)
    # the rename swap moved the old sidecar away with the old files;
    # re-stamp the (unchanged) spec on the compacted directory
    write_store_meta(spark, path, bucket_cols, n_buckets)
    if spark.catalog.tableExists(table_name):
        spark.sql(f"REFRESH TABLE {table_name}")
    return hadoop_count_files(spark, path)


#: the bucket id Spark's bucketed write encodes in each file name
_BUCKET_ID = re.compile(r"_(\d{5})(?:\.|$)")


def _bucket_files(spark: SparkSession, path: str) -> list[tuple[int, object]]:
    """(bucket id, Hadoop Path) of every bucket-encoded data file
    directly under ``path`` (empty when the directory is absent).  One
    driver-side listing."""
    fs, root = _fs_and_path(spark, path)
    if not fs.exists(root):
        return []
    out = []
    for status in fs.listStatus(root):
        name = status.getPath().getName()
        m = _BUCKET_ID.search(name)
        if name.endswith(".parquet") and m:
            out.append((int(m.group(1)), status.getPath()))
    return out


def max_files_per_bucket(spark: SparkSession, path: str) -> int:
    """Largest data-file count any single bucket of the store at
    ``path`` has accumulated (0 if the store is absent).  This is the
    quantity compaction exists to bound — every epoch appends one
    bucket-encoded file per task, and the per-batch probe goes
    metadata-bound as files pile up — so the streaming sinks use it
    as their ADAPTIVE compaction trigger (a file-count trigger
    compacts exactly when the store needs it, whatever the epoch
    pattern).  One directory listing, driver-side
    and bounded by the file count the trigger itself keeps small."""
    counts = Counter(b for b, _ in _bucket_files(spark, path))
    return max(counts.values(), default=0)


def _affected_bucket_files(
    spark: SparkSession, keys: DataFrame, key_col: str, n_buckets: int, path: str
) -> tuple[list[int], list]:
    """(bucket ids, data-file Paths) the distinct ``key_col`` values in
    ``keys`` hash-route to — the shared locality step of
    :func:`forget_rows_in_store` and :func:`merge_upsert_in_store`.
    The bucket id is ``pmod(murmur3(key), n)`` — the same expression
    ``bucketBy`` routes writes with (and ``F.hash`` exposes) — so any
    store row that could match a key lives in one of these files.
    Driver state is bounded: at most ``n_buckets`` ids come back (one
    collect_list row, the perceptron-trainer device)."""
    row = (
        keys.select(F.pmod(F.hash(F.col(key_col)), F.lit(n_buckets)).alias("b"))
        .distinct()
        .groupBy()
        .agg(F.collect_list("b").alias("bs"))
        .first()
    )
    bucket_ids = sorted(row.bs) if row and row.bs else []
    if not bucket_ids:
        return [], []
    wanted = set(bucket_ids)
    return bucket_ids, [p for b, p in _bucket_files(spark, path) if b in wanted]


def _rewrite_buckets(
    spark: SparkSession,
    kept: DataFrame,
    files: list,
    path: str,
    table_name: str,
    bucket_cols: list[str],
    n_buckets: int,
) -> int:
    """The bucket-local rewrite tail of every row-level change: pin
    ``kept`` (the rows the touched bucket ``files`` keep), delete those
    files, append ``kept`` back bucketed and refresh the table.
    Returns the number of rows written back."""
    kept = kept.localCheckpoint(eager=True)  # pin before deleting sources
    n_kept = kept.count()
    fs, _root = _fs_and_path(spark, path)
    for p in files:
        fs.delete(p, False)
    if n_kept > 0:
        _bucketed_write(spark, kept, path, table_name, bucket_cols, n_buckets)
    if spark.catalog.tableExists(table_name):
        spark.sql(f"REFRESH TABLE {table_name}")
    return n_kept


def merge_upsert_in_store(
    spark: SparkSession,
    changes: DataFrame,
    path: str,
    table_name: str,
    schema: str,
    bucket_cols: list[str],
    n_buckets: int,
    tombstone_col: str | None = None,
) -> dict[str, int]:
    """MERGE a CDC batch into a bucketed store, touching ONLY the
    buckets the change keys hash to (the lakehouse ``MERGE INTO``:
    matched → the change row replaces the store row, not matched →
    insert; a true ``tombstone_col`` marks a delete instead).

    ``changes`` must carry the store columns (plus the optional
    tombstone flag) with AT MOST ONE row per ``bucket_cols[0]`` key —
    a CDC batch is compacted to last-writer-wins BEFORE merging
    (asserted; resolving intra-batch order is the upstream log's
    contract, not a hash store's).

    At 100 TB this is the update path the append-only folds lack: a
    full-store rewrite per CDC batch is as untenable as one per
    erasure.  Bucketing makes the merge local — the change set maps to
    a bounded set of bucket ids (same collect_list device as
    :func:`forget_rows_in_store`), only THOSE buckets' files are read,
    anti-joined, unioned with the change rows, and rewritten; every
    other bucket's files are untouched bytes (file-identity asserted
    in tests/test_bucketed_merge.py).  Cost ∝ |affected buckets| ·
    bucket size, independent of store size for localized change sets.

    Single-writer maintenance op (the compaction contract): run
    between epochs; delete-then-append is not atomic under concurrent
    probes.  Returns counts: affected_buckets, files_rewritten,
    rows_updated (matched, replaced), rows_inserted (unmatched),
    rows_deleted (matched tombstones)."""
    key_col = bucket_cols[0]
    n_changes = changes.count()
    n_keys = changes.select(key_col).distinct().count()
    if n_changes != n_keys:
        raise ValueError(
            f"merge_upsert_in_store: {n_changes} change rows over "
            f"{n_keys} distinct {key_col} keys — compact the CDC batch "
            "to one row per key (last-writer-wins) before merging"
        )
    # parse the DDL properly — a naive comma-split breaks on nested
    # types like decimal(10,2) or map<string,int>
    store_cols = spark.createDataFrame([], schema).columns
    ts = (
        F.col(tombstone_col).cast("boolean")
        if tombstone_col is not None
        else F.lit(False)
    )
    upserts = changes.filter(~F.coalesce(ts, F.lit(False))).select(*store_cols)
    tombstones = changes.filter(F.coalesce(ts, F.lit(False))).select(key_col)

    if not open_store(spark, path, bucket_cols, n_buckets):
        n_ins = upserts.count()
        if n_ins:
            append_bucketed_store(
                spark, upserts, path, table_name, bucket_cols, n_buckets
            )
        return {
            "affected_buckets": 0,
            "files_rewritten": 0,
            "rows_updated": 0,
            "rows_inserted": n_ins,
            "rows_deleted": 0,
        }
    bucket_ids, affected_files = _affected_bucket_files(
        spark, changes, key_col, n_buckets, path
    )
    paths = [p.toString() for p in affected_files]
    old_rows = (
        spark.read.schema(schema).parquet(*paths)
        if paths
        else local_rows(spark, schema)
    )
    change_keys = changes.select(key_col).distinct()
    # matched counts BEFORE touching files (the change set is the CDC
    # batch — the broadcast side, same as the erasure's victim list)
    n_upd = old_rows.join(
        F.broadcast(upserts.select(key_col)), key_col, "left_semi"
    ).count()
    n_del = old_rows.join(
        F.broadcast(tombstones), key_col, "left_semi"
    ).count()
    n_ins = upserts.count() - n_upd
    kept = old_rows.join(
        F.broadcast(change_keys), key_col, "left_anti"
    ).unionByName(upserts)
    _rewrite_buckets(
        spark, kept, affected_files, path, table_name, bucket_cols, n_buckets
    )
    return {
        "affected_buckets": len(bucket_ids),
        "files_rewritten": len(affected_files),
        "rows_updated": n_upd,
        "rows_inserted": n_ins,
        "rows_deleted": n_del,
    }


def forget_rows_in_store(
    spark: SparkSession,
    keys: DataFrame,
    path: str,
    table_name: str,
    schema: str,
    bucket_cols: list[str],
    n_buckets: int,
    match_cols: list[str] | None = None,
) -> dict[str, int]:
    """Targeted deletion (right-to-be-forgotten) from a bucketed store:
    remove every store row whose ``match_cols`` tuple (default: the
    bucket key alone) appears in ``keys``, touching ONLY the buckets
    those keys hash to.

    At 100 TB a GDPR erasure over an append-only corpus-sized store
    cannot be a full rewrite.  Bucketing makes deletion local: the
    keys' bucket-key values map to a bounded set of bucket ids
    (:func:`_affected_bucket_files`), and only THOSE buckets' files
    are read, anti-joined on the full ``match_cols`` tuple, and
    rewritten; every other bucket's files are untouched bytes
    (asserted by file identity in tests/test_neardup_ingest.py).  Cost
    ∝ |affected buckets| · bucket size, independent of store size for
    localized delete sets.  ``match_cols`` may be FINER than the
    bucket key (a postings store bucketed on the term, erased by
    (term, doc): many rows share the bucket key and only the victim
    doc's must go), but must contain ``bucket_cols[0]`` — without it
    the delete set cannot be bucket-localized.

    Single-writer maintenance op (the compaction contract): run
    between epochs; delete-then-append is not atomic under concurrent
    probes.  Returns counts: affected_buckets, files_rewritten,
    rows_deleted."""
    key_col = bucket_cols[0]
    match_cols = list(match_cols or [key_col])
    if key_col not in match_cols:
        raise ValueError(
            f"match_cols {match_cols} must include the bucket key "
            f"{key_col!r} — without it the delete set cannot be "
            "bucket-localized"
        )
    if not open_store(spark, path, bucket_cols, n_buckets):
        return {"affected_buckets": 0, "files_rewritten": 0, "rows_deleted": 0}
    bucket_ids, files = _affected_bucket_files(
        spark, keys, key_col, n_buckets, path
    )
    if not files:
        return {
            "affected_buckets": len(bucket_ids),
            "files_rewritten": 0,
            "rows_deleted": 0,
        }
    old_rows = spark.read.schema(schema).parquet(*[p.toString() for p in files])
    # count BEFORE deleting the files, off the one reader — a second
    # spark.read of the same paths doubled the rewrite's read cost
    # (r12 ADVICE); a bare count() reads only parquet footers anyway
    n_old = old_rows.count()
    kept = old_rows.join(
        F.broadcast(keys.select(*match_cols).distinct()), match_cols, "left_anti"
    )
    n_kept = _rewrite_buckets(
        spark, kept, files, path, table_name, bucket_cols, n_buckets
    )
    return {
        "affected_buckets": len(bucket_ids),
        "files_rewritten": len(files),
        "rows_deleted": n_old - n_kept,
    }


# ---------------------------------------------------------------------------
# Versioned serving (r14): a base directory holding immutable store
# VERSIONS plus a `_current` pointer file.  Readers resolve the
# pointer; writers build a full new version OUT OF BAND and publish it
# with one tiny pointer write — the atomic-swap half of the
# "versioned-rebuild deployment" every rebuild docstring promises
# (codebook retrain, bucket-width change, full recrawl).  The pointer
# write is the commit point: a crash anywhere before it leaves the old
# version serving, complete and untouched; after it, every new
# resolve sees the new version.  Species-agnostic — an ANN store, a
# BM25 index, or any bucketed store can sit under a version dir.
# ---------------------------------------------------------------------------

_CURRENT_FILE = "_current"


def current_store_version(
    spark: SparkSession, base_path: str
) -> str | None:
    """The published version name under ``base_path``, or None when
    nothing has been published yet."""
    text = hadoop_read_text(spark, f"{base_path}/{_CURRENT_FILE}")
    return text.strip() if text else None


def publish_store_version(
    spark: SparkSession, base_path: str, version: str
) -> None:
    """Atomically point ``base_path``'s readers at ``version`` (a
    child directory that must already hold a complete store).  One
    small file write — the swap costs the same whether the version
    holds 10³ or 10¹² rows."""
    if not hadoop_exists(spark, f"{base_path}/{version}"):
        raise ValueError(
            f"cannot publish {base_path}/{version}: the version "
            "directory does not exist — build the store first, publish "
            "last (the pointer write is the commit point)"
        )
    hadoop_write_text(spark, f"{base_path}/{_CURRENT_FILE}", version)


def resolve_store_version(spark: SparkSession, base_path: str) -> str:
    """The concrete store path readers should open: the published
    version under ``base_path``.  Raises when nothing is published —
    a versioned base with no pointer is a half-deployed store, and
    silently serving some directory would hide the deployment bug."""
    v = current_store_version(spark, base_path)
    if v is None:
        raise ValueError(
            f"no published version under {base_path} (no "
            f"{_CURRENT_FILE} pointer) — publish_store_version after "
            "building, or open a concrete store path directly"
        )
    return f"{base_path}/{v}"


def retire_store_versions(
    spark: SparkSession, base_path: str, keep: int = 1
) -> list[str]:
    """Drop unpublished version directories under ``base_path``,
    keeping the published one plus the ``keep``-1 most recent others
    (lexicographic — use sortable version names) as rollback targets.
    Never touches the published version regardless of age.  Returns
    the removed version names.

    Safety rails (r14 ADVICE): only directories matching the
    ``v<digits>`` naming convention are retirement candidates (a
    non-version child — a scratch dir, a store substore — is never
    deleted), and when NO ``_current`` pointer exists yet (crash
    before the first publish) this is a no-op: retiring against an
    unpublished base could delete a fully-built, about-to-be-published
    store, contradicting the 'never touches the published version'
    contract's intent."""
    cur = current_store_version(spark, base_path)
    if cur is None:
        return []
    fs, hbase = _fs_and_path(spark, base_path)
    if not fs.exists(hbase):
        return []
    versions = sorted(
        st.getPath().getName()
        for st in fs.listStatus(hbase)
        if st.isDirectory()
        and st.getPath().getName().startswith("v")
        and st.getPath().getName()[1:].isdigit()
    )
    others = [v for v in versions if v != cur]
    doomed = others[: max(0, len(others) - max(0, keep - 1))]
    for v in doomed:
        vfs, vpath = _fs_and_path(spark, f"{base_path}/{v}")
        vfs.delete(vpath, True)
    return doomed
