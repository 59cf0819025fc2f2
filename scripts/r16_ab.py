#!/usr/bin/env python
"""Same-JVM A/B for the r16 structural rewrites.

Protocol of r15_norm_cse_ab.py: the PRE-change modules are
materialized from their pinned git blobs (the r15-final tree,
f80d333) and imported as parallel modules with the query registry
swapped during import — old plans modules additionally import the OLD
functions/text.py (sys.modules swapped for the duration of their
import), so A is literally the old code.  A and B alternate in one
JVM, results asserted IDENTICAL at sf0.1 before anything is timed.

Covers: simhash_neardup (Hamming filter pushed below the distinct),
ngram_jaccard_pairs (count-based intersection from the inverted
index), tfidf_top_terms (document frequency as a window count over
the one tf relation, so the corpus is scanned once; a persisted-tf
variant was measured slower and not shipped), order_existence_counts
(single max-shipdate aggregate), lang_id_predict / quality_score
(the token array let1-bound, so each row splits once; quality_score
then binds its three scalar features once), grouping_sets_revenue
(coalesce guard — expected flat).

Writes /tmp/r16_ab.json and prints it.
"""

from __future__ import annotations

import importlib.util
import json
import os
import subprocess
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from kafkastreamsproject_spark.operators.cache import (  # noqa: E402
    release_persisted,
)
from kafkastreamsproject_spark.plans import registry as R  # noqa: E402
from kafkastreamsproject_spark.plans.registry import all_queries  # noqa: E402
from kafkastreamsproject_spark.session import get_spark  # noqa: E402

#: pre-change blobs (HEAD = f80d333, the r15-final tree)
OLD_FUNCTIONS_TEXT = "fa041b0f69fa86167e05d74d08a2a526e5841a61"
OLD_PLAN_BLOBS = {
    "dedup_old": "2580f963caf7c9ff465d9543e5e0bd063cf0c867",
    "relational_old": "686c21fe099afd5abec0fb8d74ad36769733e78c",
    "plans_text_old": "a1d66283a31c184369fc28be3ce48bf22101d08f",
}

N_RUNS = int(os.environ.get("R16_AB_RUNS", "5"))
QUERIES = sys.argv[1:] or [
    "simhash_neardup",
    "ngram_jaccard_pairs",
    "tfidf_top_terms",
    "order_existence_counts",
    "lang_id_predict",
    "quality_score",
    "grouping_sets_revenue",
]
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _blob_to_module(mod_name: str, blob: str, swap_text_mod=None):
    src = subprocess.run(
        ["git", "-C", str(ROOT), "cat-file", "blob", blob],
        check=True,
        capture_output=True,
        text=True,
    ).stdout
    with tempfile.NamedTemporaryFile(
        "w", suffix=f"_{mod_name}.py", delete=False
    ) as fh:
        fh.write(src)
        path = fh.name
    spec = importlib.util.spec_from_file_location(mod_name, path)
    mod = importlib.util.module_from_spec(spec)
    sys.modules[mod_name] = mod
    if swap_text_mod is not None:
        import kafkastreamsproject_spark.functions as FPKG
        import kafkastreamsproject_spark.functions.text  # noqa: F401

        key = "kafkastreamsproject_spark.functions.text"
        saved_mod, saved_attr = sys.modules[key], FPKG.text
        sys.modules[key], FPKG.text = swap_text_mod, swap_text_mod
        try:
            spec.loader.exec_module(mod)
        finally:
            sys.modules[key], FPKG.text = saved_mod, saved_attr
    else:
        spec.loader.exec_module(mod)
    return mod


def _load_old_specs() -> dict:
    """Import the pre-change modules under a swapped registry, with the
    pre-change functions/text.py in place of the committed one."""
    old_tx = _blob_to_module("functions_text_old", OLD_FUNCTIONS_TEXT)
    saved = R._REGISTRY, R._SHADOW
    R._REGISTRY, R._SHADOW = {}, {}
    try:
        for mod_name, blob in OLD_PLAN_BLOBS.items():
            _blob_to_module(mod_name, blob, swap_text_mod=old_tx)
        old_specs = {**R._REGISTRY, **R._SHADOW}
    finally:
        R._REGISTRY, R._SHADOW = saved
    return old_specs


def main() -> None:
    spark = get_spark(app_name="r16-ab")
    spark.sparkContext.setLogLevel("ERROR")
    old_specs = _load_old_specs()
    new_specs = {**all_queries(), **R.shadow_queries()}
    li = os.path.join(SF_DIR, "lineitem.parquet")

    def canary() -> float:
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            spark.read.parquet(li).selectExpr(
                "sum(l_quantity)", "sum(l_extendedprice)", "count(*)"
            ).collect()
            best = min(best, time.perf_counter() - t0)
        return round(best, 4)

    def run(df, action: str) -> float:
        t0 = time.perf_counter()
        if action == "noop":
            df.write.format("noop").mode("overwrite").save()
        else:
            df.count()
        wall = time.perf_counter() - t0
        release_persisted()
        spark.catalog.clearCache()
        return wall

    out: dict = {
        "sf_dir": SF_DIR,
        "n_runs": N_RUNS,
        "old_functions_text": OLD_FUNCTIONS_TEXT,
        "old_plan_blobs": OLD_PLAN_BLOBS,
        "canary_before": canary(),
    }
    for name in QUERIES:
        old_fn = old_specs[name].spark
        new_fn = new_specs[name].spark
        o_rows = sorted(map(tuple, old_fn(spark, SF_DIR).collect()), key=repr)
        n_rows = sorted(map(tuple, new_fn(spark, SF_DIR).collect()), key=repr)
        assert o_rows == n_rows, f"{name}: old/new results differ"
        release_persisted()
        spark.catalog.clearCache()
        rec: dict = {"rows": len(o_rows)}
        for action in ("noop", "count"):
            a_s, b_s = [], []
            for _ in range(N_RUNS):
                a_s.append(run(old_fn(spark, SF_DIR), action))
                b_s.append(run(new_fn(spark, SF_DIR), action))
            rec[f"old_{action}_min"] = round(min(a_s), 4)
            rec[f"new_{action}_min"] = round(min(b_s), 4)
            rec[f"old_{action}_all"] = [round(x, 4) for x in a_s]
            rec[f"new_{action}_all"] = [round(x, 4) for x in b_s]
            rec[f"{action}_ratio_new_over_old"] = round(
                min(b_s) / min(a_s), 3
            )
        out[name] = rec
        print(
            f"{name}: rows={rec['rows']} noop {rec['noop_ratio_new_over_old']}"
            f" count {rec['count_ratio_new_over_old']}",
            file=sys.stderr,
        )
    out["canary_after"] = canary()
    with open("/tmp/r16_ab.json", "w") as fh:
        json.dump(out, fh, indent=2)
    print(json.dumps(out, indent=2))


if __name__ == "__main__":
    main()
