"""Path-scheme-agnostic filesystem probes via the Hadoop FileSystem API.

The persistent stores (near-dup signature store, incremental rollup
store) live at a caller-supplied URI.  Driver-local ``os.path`` /
``pathlib`` checks silently treat an HDFS/S3 store as absent — the
first batch would overwrite-from-empty instead of merging (round-2
advice).  These helpers resolve existence through the same FileSystem
the Spark reads/writes will use, so a remote URI can never drop
history.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def _fs_and_path(spark: SparkSession, path: str):
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath


def hadoop_exists(spark: SparkSession, path: str) -> bool:
    """True iff ``path`` exists on its own filesystem (local, HDFS, S3A …)."""
    fs, hpath = _fs_and_path(spark, path)
    return bool(fs.exists(hpath))


def hadoop_touch(spark: SparkSession, path: str) -> None:
    """Create an empty marker file (parents included) at ``path``."""
    fs, hpath = _fs_and_path(spark, path)
    parent = hpath.getParent()
    if parent is not None and not fs.exists(parent):
        fs.mkdirs(parent)
    out = fs.create(hpath, True)
    out.close()


def hadoop_write_text(spark: SparkSession, path: str, text: str) -> None:
    """Write ``text`` (UTF-8, overwrite) at ``path`` on its own
    filesystem — used for store sidecar metadata, so the sidecar lives
    wherever the store lives (local, HDFS, S3A …)."""
    fs, hpath = _fs_and_path(spark, path)
    parent = hpath.getParent()
    if parent is not None and not fs.exists(parent):
        fs.mkdirs(parent)
    out = fs.create(hpath, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def hadoop_read_text(spark: SparkSession, path: str) -> str | None:
    """Read ``path`` as UTF-8 text; None if it does not exist."""
    fs, hpath = _fs_and_path(spark, path)
    if not fs.exists(hpath):
        return None
    stream = fs.open(hpath)
    try:
        jvm = spark._jvm
        return jvm.org.apache.commons.io.IOUtils.toString(
            stream, "UTF-8"
        )
    finally:
        stream.close()


def hadoop_swap_dir(spark: SparkSession, live: str, staged: str) -> None:
    """Replace directory ``live`` with ``staged`` by renames: live →
    ``<live>_old``, staged → live, then delete ``<live>_old``.  The
    compaction swap: atomic on HDFS/local FS; on rename-less object
    stores it degrades to copy+delete with a visible-but-consistent
    intermediate (both generations hold identical rows).  Single-writer:
    run between folds.  A failed rename raises; a crash between the two
    renames leaves only ``<live>_old``, which
    :func:`hadoop_restore_swapped` puts back on the next open."""
    fs, live_p = _fs_and_path(spark, live)
    _, staged_p = _fs_and_path(spark, staged)
    _, old_p = _fs_and_path(spark, f"{live}_old")
    if fs.exists(old_p):
        fs.delete(old_p, True)
    for src, dst in ((live_p, old_p), (staged_p, live_p)):
        if not fs.rename(src, dst):
            raise OSError(f"compaction swap: rename {src} -> {dst} failed")
    fs.delete(old_p, True)


def hadoop_restore_swapped(spark: SparkSession, live: str) -> None:
    """Undo a compaction swap interrupted between its two renames:
    when ``live`` is missing and ``<live>_old`` exists, the old
    generation is the only copy of the store, so it moves back.  Run
    before a store is opened; without it the next fold starts an empty
    live store and the next swap deletes ``<live>_old``.  Like the
    swap itself this assumes the single-writer contract: an open that
    lands inside a RUNNING swap's two-rename window would restore too
    early."""
    fs, live_p = _fs_and_path(spark, live)
    if fs.exists(live_p):
        return
    _, old_p = _fs_and_path(spark, f"{live}_old")
    if fs.exists(old_p) and not fs.rename(old_p, live_p):
        raise OSError(f"cannot restore {old_p} -> {live_p}")


def hadoop_count_files(
    spark: SparkSession, path: str, suffix: str = ".parquet"
) -> int:
    """Number of ``suffix`` files directly under ``path`` (0 if the
    directory is absent) — the adaptive-compaction trigger input for
    PLAIN parquet append stores, where no bucket id is encoded in the
    file names (bucketed stores use
    sources/bucketed.py:max_files_per_bucket instead)."""
    fs, hpath = _fs_and_path(spark, path)
    if not fs.exists(hpath):
        return 0
    return sum(
        1
        for status in fs.listStatus(hpath)
        if status.getPath().getName().endswith(suffix)
    )


def hadoop_has_files(spark: SparkSession, path: str, suffix: str = ".parquet") -> bool:
    """True iff ``path`` is a directory containing at least one
    ``suffix`` file (non-recursive) — the 'store already initialized'
    probe for parquet-backed state."""
    fs, hpath = _fs_and_path(spark, path)
    if not fs.exists(hpath):
        return False
    for status in fs.listStatus(hpath):
        if status.getPath().getName().endswith(suffix):
            return True
    return False
