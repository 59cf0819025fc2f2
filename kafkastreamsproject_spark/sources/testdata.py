"""Readers for the driver's synthetic parquet tables.

Parquet is the engine's canonical batch format: columnar, splittable,
predicate-pushdown-able.  At 100 TB these reads are the dominant cost, so
nothing here materializes or caches by default — callers compose lazy
DataFrames and Catalyst prunes columns/row-groups from the final plan.

Schema once per process: a parquet read without a schema makes Spark
infer one with a one-task job, on every call, even for a single file.
:func:`load_table` keeps the schema Spark inferred for each table and
hands it back to ``spark.read.schema(...)`` while the table is
unchanged, so a rebuilt query plans its reads without a job.  The memo
key is the table file's absolute path, its size and ``mtime_ns`` —
the key the mock-broker reader uses for its parsed segments — and
the two session confs besides the pinned ones that change what
inference returns (``spark.sql.parquet.binaryAsString``/
``int96AsTimestamp``).  It assumes local files whose timestamps have
nanosecond resolution: a rewrite that keeps a file's size within one
timestamp tick would be read with the old schema.  A table stored as a
directory, or a path ``os.stat`` cannot see (a remote URI), infers on
every call, as without the memo.
"""

from __future__ import annotations

import os
import stat
import urllib.parse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from kafkastreamsproject_spark.schemas import TESTDATA_TABLES

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: the session confs, besides the two load_table pins, whose value
#: changes the inferred schema
_SCHEMA_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
)
#: (absolute path, _SCHEMA_CONFS values) -> (_file_key, inferred schema)
_SCHEMAS: dict[tuple, tuple[tuple, StructType]] = {}


def _file_key(path: str) -> tuple | None:
    """A table file's (size, mtime_ns); None for a directory or a path
    ``os.stat`` cannot see."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_size, st.st_mtime_ns) if stat.S_ISREG(st.st_mode) else None


def load_table(spark: SparkSession, name: str, sf_dir: str | None = None) -> DataFrame:
    """Load one testdata table lazily. ``name`` ∈ TESTDATA_TABLES.

    ``events.ts`` has shifted format across fixture generations:
    TIMESTAMP(NANOS) originally, parquet ``timestamp[us]`` without a
    zone (Spark TIMESTAMP_NTZ) since round 4.  The engine's contract is
    that downstream plans always see a plain zoned ``timestamp`` under
    the UTC session zone, so every ``unix_millis``/``unix_micros``/
    window expression works regardless of which fixture vintage is on
    disk.  Three absorption layers, cheapest first:

    1. ``spark.sql.parquet.inferTimestampNTZ.enabled=false`` — schema
       inference maps unzoned µs parquet timestamps straight to
       TIMESTAMP (identical epoch values under the UTC session zone);
    2. ``nanosAsLong`` + integral ``div 1000`` — the old TIMESTAMP(NANOS)
       fixtures (ns epoch exceeds 2^53, so the divide must stay integer);
    3. a defensive NTZ→TIMESTAMP cast in case a future Spark ignores (1).
    """
    sf_dir = sf_dir or DEFAULT_SF_DIR
    path = os.path.join(sf_dir, f"{name}.parquet")
    # Both read-path confs are consumed at ANALYSIS time (schema
    # inference), so setting them only around the inferring read() call
    # below is sufficient — but neither has a per-reader option form, so
    # save/restore rather than leak session mutation out of a query
    # builder.  The timezone, by contrast, is consumed at EXECUTION time
    # by timestamp expressions; restoring it here would re-expose
    # event-time results to the caller's JVM-default zone.  It is
    # therefore pinned once per session (idempotent; the driver's oracle
    # recipe assumes UTC) rather than toggled per read.
    if spark.conf.get("spark.sql.session.timeZone") != "UTC":
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    slot = (
        os.path.abspath(path),
        tuple(spark.conf.get(k, None) for k in _SCHEMA_CONFS),
    )
    # stat before the read: a rewrite in between is recorded under the
    # old key, so the next call misses and infers again
    files = _file_key(path)
    known = _SCHEMAS.get(slot)
    if files is not None and known is not None and known[0] == files:
        # the schema Spark inferred for these very files: no job
        df = spark.read.schema(known[1]).parquet(path)
    else:
        _READ_CONFS = {
            "spark.sql.legacy.parquet.nanosAsLong": "true",
            "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
        }
        prev = {k: spark.conf.get(k, None) for k in _READ_CONFS}
        for k, v in _READ_CONFS.items():
            spark.conf.set(k, v)
        try:
            df = spark.read.parquet(path)
        finally:
            for k, v in prev.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)
        if files is not None:
            _SCHEMAS[slot] = (files, df.schema)
    if name == "events":
        dtype = dict(df.dtypes).get("ts")
        if dtype == "bigint":  # legacy TIMESTAMP(NANOS) fixtures
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        elif dtype == "timestamp_ntz":  # belt-and-braces; layer (1) handles this
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def fan_out(df: DataFrame) -> DataFrame:
    """Widen a narrow scan before CPU-heavy per-row work.

    A single-row-group parquet file is unsplittable, so a scan of it
    yields one partition and per-row compute (md5 shingle hashing,
    cosine over embedding arrays) serializes on one core no matter how
    many the session has.  When — and only when — the scan's parallelism
    is below the session's, round-robin repartition to the session's
    parallelism: a shuffle of the (small, or it would be splittable)
    input that unlocks every core for the expensive map stage.

    At 100 TB the corpus has orders of magnitude more row groups than
    the cluster has cores, the gate is false, and this is a no-op — no
    accidental full-corpus shuffle at scale.

    The gate reads driver-side FILE METADATA (``df.inputFiles()`` +
    local file sizes), never ``df.rdd.getNumPartitions()`` — the RDD
    conversion forces full physical planning per call and was measured
    at ~0.4 s of pure plan-build latency per query at test scale.  The
    scan-partition estimate mirrors Spark's own splitting rule
    (ceil(bytes / maxPartitionBytes), at least one per file).
    """
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    try:
        files = df.inputFiles()
    except Exception:
        return df  # non-file source: no basis to estimate, leave as-is
    if not files:
        return df
    total = 0
    for uri in files:
        path = urllib.parse.unquote(urllib.parse.urlparse(uri).path)
        try:
            total += os.path.getsize(path)
        except OSError:
            # remote / unstatable FS: a corpus worth putting there has
            # plenty of row groups — treat as already wide
            return df
    try:
        max_pb = _parse_bytes(spark.conf.get("spark.sql.files.maxPartitionBytes"))
    except Exception:
        max_pb = 128 * 1024 * 1024
    est_partitions = max(len(files), -(-total // max_pb))
    if est_partitions < target:
        return df.repartition(target)
    return df


_BYTE_SUFFIXES = {"b": 1, "k": 1 << 10, "m": 1 << 20, "g": 1 << 30}


def _parse_bytes(v: str) -> int:
    """Parse Spark byte-conf forms: '134217728', '134217728b', '128m', '128MB'."""
    s = v.strip().lower().removesuffix("b")
    if s and s[-1] in _BYTE_SUFFIXES:
        return int(s[:-1]) * _BYTE_SUFFIXES[s[-1]]
    return int(s)


def load_tables(spark: SparkSession, sf_dir: str | None = None) -> dict[str, DataFrame]:
    """Load every testdata table as a dict of lazy DataFrames."""
    return {t: load_table(spark, t, sf_dir) for t in TESTDATA_TABLES}
