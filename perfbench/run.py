#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload stream_live --seed 1 --seconds 8 --trace 0

Run from the repository root.  Prints every metric by name with its
unit, then, as the last line, one JSON object
``{"correct", "attempted", "failed", "metrics"}`` holding the
end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``).  A traced run also writes its spans to
``.perfbench/traces/`` and reports tracing overhead against the last
untraced run of the same workload and seed.  Exits non-zero, printing
no result, when the run cannot complete.
"""

from __future__ import annotations

import sys

sys.dont_write_bytecode = True

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import tempfile  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
WORKLOADS = ("stream_live", "batch_sweep", "serving_mixed")


def _hermetic(run_dir: Path) -> None:
    """Environment for this process, the Spark JVM and its Python
    workers: the package importable from the checkout, cores pinned to
    the machine's, and every scratch file under ``run_dir``."""
    env = os.environ
    env["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + ([env["PYTHONPATH"]] if env.get("PYTHONPATH") else [])
    )
    env["PYTHONDONTWRITEBYTECODE"] = "1"
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    env["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    env["TMPDIR"] = str(run_dir / "tmp")
    for d in ("spark-local", "tmp"):
        (run_dir / d).mkdir(parents=True, exist_ok=True)
    tempfile.tempdir = None  # re-read TMPDIR
    sys.path.insert(0, str(ROOT))


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers it started) to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    state = ROOT / ".perfbench"
    run_dir = state / f"run-{os.getpid()}"
    _hermetic(run_dir)
    ctx = None
    try:
        import kafkastreamsproject_spark  # noqa: F401  (fail fast without the package)

        from perfbench.common import E2E, LAYER, Ctx, Tracer, peak_rss_mb

        workload = importlib.import_module(f"perfbench.{args.workload}")
        ctx = Ctx(str(run_dir), args.seed, args.seconds, Tracer(bool(args.trace)))
        res = workload.run(ctx)
        res.e2e["peak_rss_mb"] = peak_rss_mb(ctx.spark)
    finally:
        if ctx is not None and ctx.spark is not None:
            _stop_spark(ctx.spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    tag = f"{args.workload}-seed{args.seed}"
    print(f"# {args.workload} seed={args.seed} seconds={args.seconds:g} trace={args.trace}")
    for name in E2E:
        print(f"{name} = {res.e2e[name]:.6g} {E2E[name]}")
    print(f"op_fail_ratio = {res.failed / res.attempted:.6g} ratio "
          f"({res.failed} of {res.attempted})")
    for name, value, unit in res.report:
        print(f"{name} = {value:.6g} {unit}")

    results = state / "results"
    results.mkdir(parents=True, exist_ok=True)
    if args.trace:
        for name in LAYER:
            print(f"{name} = {res.layer[name]:.6g} {LAYER[name]}")
        for name, secs in sorted(ctx.tracer.self_times().items()):
            print(f"self_ms.{name} = {secs * 1000:.6g} ms")
        for name, n in sorted(ctx.tracer.counts.items()):
            print(f"count.{name} = {n:.6g} count")
        overhead = {}
        base = results / f"{tag}.json"
        if base.exists():
            untraced = json.loads(base.read_text())
            overhead = {k: res.e2e[k] - untraced[k] for k in E2E}
            for k, v in overhead.items():
                print(f"trace_overhead.{k} = {v:.6g} {E2E[k]}")
        else:
            print(f"trace_overhead: no untraced run of {tag} to compare with")
        traces = state / "traces"
        traces.mkdir(parents=True, exist_ok=True)
        ctx.tracer.write(
            str(traces / f"{tag}.json"),
            {"e2e": res.e2e, "layer": res.layer, "report": res.report,
             "trace_overhead": overhead, **res.trace_extra},
        )
        print(f"trace written to {traces / f'{tag}.json'}")
        metrics = {k: {"value": res.layer[k], "unit": u} for k, u in LAYER.items()}
    else:
        (results / f"{tag}.json").write_text(json.dumps(res.e2e))
        metrics = {k: {"value": res.e2e[k], "unit": E2E[k]} for k in E2E}

    print(json.dumps({
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
