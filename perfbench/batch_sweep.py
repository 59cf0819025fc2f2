"""batch_sweep: the analytics surface as a closed loop with one client.

Runs the 14 headline registry queries back to back through
``all_queries()[name].spark(spark, sf_dir)`` over generated
TPC-H-shaped tables, and collects each result.  Covers reference
parity, TPC-H shapes, dedup and similarity; never touches the stream
source or the index stores.
"""

from __future__ import annotations

import statistics
import time
from concurrent.futures import ThreadPoolExecutor

from perfbench import gen
from perfbench.common import LAYER, SETUP_REPEATS, Ctx, JobGroups, Result, p50, tail

#: the headline set (same 14 names as the legacy bench.py series)
QUERIES = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_revenue",
    "daily_agg",
    "enrich_join",
    "windowed_counts",
    "anomaly_detect",
    "sessionization",
    "top3_orders_per_customer",
    "dedup_exact_keep_first",
    "minhash_lsh_pairs",
    "ann_topk_cosine",
    "time_rollup",
    "stratified_sample",
]
#: table sizes relative to the sf0.1 fixture's row counts (x0.1 = sf0.1)
SCALE = 0.005


def _matches(got, want) -> bool:
    from kafkastreamsproject_spark.testing.compare import canonical_rows

    return (
        len(got) == len(want)
        and sorted(got.columns) == sorted(want.columns)
        and canonical_rows(got) == canonical_rows(want)
    )


def run(ctx: Ctx) -> Result:
    tr = ctx.tracer
    t0 = time.perf_counter()
    with tr.span("setup.spark"):
        spark = ctx.start_spark()
    with tr.span("setup.registry"):
        from kafkastreamsproject_spark.plans.registry import all_queries

        specs = all_queries()
    fixed_s = time.perf_counter() - t0

    repeats = []
    for k in range(SETUP_REPEATS):
        t = time.perf_counter()
        with tr.span("setup.tables"):
            sf_dir = f"{ctx.run_dir}/tables-{k}"
            gen.write_testdata(sf_dir, ctx.seed, SCALE)
        repeats.append(time.perf_counter() - t)

    groups = JobGroups(spark.sparkContext)

    def sweep(kind: str) -> tuple[float, dict, dict]:
        """One pass; returns (wall, per-query (wall, build, execute), results)."""
        walls, frames = {}, {}
        start = time.perf_counter()
        for name in QUERIES:
            if tr.enabled:
                groups.start(kind)
            with tr.span(f"plans.{name}"):
                t = time.perf_counter()
                with tr.span("plans.build"):
                    df = specs[name].spark(spark, sf_dir)
                b = time.perf_counter()
                with tr.span("plans.execute"):
                    frames[name] = df.toPandas()
                e = time.perf_counter()
            walls[name] = (e - t, b - t, e - b)
            tr.count("plans.queries")
            tr.count("plans.rows_out", len(frames[name]))
        return time.perf_counter() - start, walls, frames

    # warm-up: every query once (code generation, Python workers),
    # four at a time to keep set-up short
    def warm(name: str) -> None:
        specs[name].spark(spark, sf_dir).toPandas()

    t = time.perf_counter()
    with tr.span("setup.warmup"), ThreadPoolExecutor(4) as pool:
        list(pool.map(warm, QUERIES))
    warmup_s = time.perf_counter() - t
    setup_s = fixed_s + statistics.median(repeats) + warmup_s

    passes = []
    deadline = time.perf_counter() + ctx.seconds
    lateness = []
    prev_end = time.perf_counter()
    # whole passes, none expected to end past the deadline
    while not passes or prev_end + passes[-1][0] <= deadline:
        lateness.append(time.perf_counter() - prev_end)
        with tr.span("sweep"):
            passes.append(sweep(f"sweep{len(passes)}"))
        prev_end = time.perf_counter()

    # correctness, outside the timed region: the last pass's results
    # against each query's DuckDB oracle
    from kafkastreamsproject_spark.testing.compare import duckdb_connection

    failed = 0
    frames = passes[-1][2]
    with tr.span("check"):
        con = duckdb_connection(sf_dir)
        try:
            for name in QUERIES:
                if not _matches(frames[name], con.execute(specs[name].oracle).df()):
                    failed += 1
        finally:
            con.close()
    attempted = len(passes) * len(QUERIES) + len(QUERIES)

    q_walls = [w[0] * 1000.0 for _, walls, _ in passes for w in walls.values()]
    sweep_s = p50([wall for wall, _, _ in passes])
    tail_ms, tail_pct = tail(q_walls)
    e2e = {
        "latency_p50_ms": p50(q_walls),
        "latency_tail_ms": tail_ms,
        "throughput_per_s": len(QUERIES) / sweep_s,
        "setup_s": setup_s,
    }
    layer = dict.fromkeys(LAYER, 0.0)
    layer["gen.lateness_ms"] = max(lateness) * 1000.0
    report = [
        ("batch_sweep_s", sweep_s, "s"),
        ("batch_passes", float(len(passes)), "count"),
        ("batch_query_tail_pct", tail_pct, "%"),
        ("batch_warmup_pass_s", warmup_s, "s"),
        ("plans.build_s", p50([sum(w[1] for w in walls.values()) for _, walls, _ in passes]), "s"),
        ("plans.execute_s", p50([sum(w[2] for w in walls.values()) for _, walls, _ in passes]), "s"),
    ]
    for name in QUERIES:
        report.append(
            (f"plans.{name}.wall_s", p50([walls[name][0] for _, walls, _ in passes]), "s")
        )
    if tr.enabled:
        per_pass = [groups.totals(f"sweep{i}") for i in range(len(passes))]
        for k in ("jobs", "stages", "tasks"):
            layer[f"plans.{k}"] = p50([c[k] for c in per_pass])
    return Result(e2e, layer, report, attempted, failed)
