#!/usr/bin/env python
"""Round-12 scale smoke (VERDICT r11 #2/#3): the three persistent
ingest stores and the composed 12-stage funnel at 10× the r11 corpus
(sf1.0-equivalent documents: 50k docs), with honest measurement
discipline:

- a full DISCARDED warm-up pass before anything is timed (the r11
  smoke's ratio_10x < 1 artifacts were a cold JVM measured at the
  small size first);
- stores folded at ``n_buckets=32`` (the production 'at least ingest
  parallelism' width), with the zero-store-side-Exchange plan property
  re-asserted on the 10× store at that width;
- 1× and 10× folds measured in the SAME (warm) JVM, ratios reported
  per fold;
- the funnel run with every optional stage on and per-stage wall
  attribution (curate_corpus's stage_walls hook), so the top stages
  are identified, not guessed.

Results merge into ``smokes/r12.json`` (never overwrite — r11 ADVICE).
Manual diagnostic — not part of the test suite.
"""

from __future__ import annotations

import contextlib
import io
import json
import re
import time
from pathlib import Path
import sys

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
sys.path.insert(0, str(Path(__file__).resolve().parent))

from pyspark.sql import functions as F

from kafkastreamsproject_spark.operators.cache import release_persisted
from kafkastreamsproject_spark.pipelines.curation import curate_corpus
from kafkastreamsproject_spark.session import get_spark
from kafkastreamsproject_spark.sources.bucketed import (
    shuffle_scoped_to_buckets,
)
from kafkastreamsproject_spark.sources.testdata import load_table

from scale_smoke import _scaled_corpus_dir

SF_DIR = "/root/testdata/sf0.1"
N = 10  # 10x the r11 corpus = 50k docs (sf1.0-equivalent documents)
WIDTH = 32  # store bucket width under test (r11 ran the default 8)
EPOCHS = 5  # ingest folds per store


def _funnel_corpus(spark, sf_dir: str, n: int):
    """n× corpus for the FUNNEL: every 7th token gets a replica-
    specific suffix.  scale_smoke's per-word salting is right for the
    dedup stores (cross-replica Jaccard 0) but wrong for the funnel —
    it rewrites stopwords ('the'→'the0'), so the Gopher battery fails
    every doc and the auto-blocklist drops 100% of the corpus (the
    first 10x run measured exactly that: after_blocklist=0).  Tagging
    1/7 of tokens keeps stopword counts, lang markers, and char/word
    ratios intact while pushing cross-replica shingle Jaccard to ~0.2
    (< the 0.5 near-dup confirm), so replicas are real new docs to
    every stage."""
    docs = load_table(spark, "documents", sf_dir).select(
        "doc_id", "text", "source"
    )
    parts = []
    for i in range(n):
        tagged = F.array_join(
            F.transform(
                F.split(F.trim(F.col("text")), " +"),
                lambda w, idx: F.when(
                    idx % 7 == 6, F.concat(w, F.lit(f"_r{i}"))
                ).otherwise(w),
            ),
            " ",
        )
        parts.append(
            docs.select(
                (F.col("doc_id") + i * 100_000_000).alias("doc_id"),
                tagged.alias("text"),
                "source",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _epochs(docs, n_epochs: int):
    return [
        docs.filter(F.pmod(F.col("doc_id"), F.lit(n_epochs)) == i)
        for i in range(n_epochs)
    ]


def smoke_line_store(spark, docs, root: str, label: str, width: int = WIDTH, epochs: int = EPOCHS) -> dict:
    from kafkastreamsproject_spark.streaming import keyedstore as ks
    from kafkastreamsproject_spark.streaming.linededup import (
        LINES,
        line_dedup_ingest_batch,
        lines_expr,
    )
    from kafkastreamsproject_spark.functions import text as TX

    store = f"{root}/line_{label}"
    walls, kept = [], 0
    for batch in _epochs(docs, epochs):
        t0 = time.perf_counter()
        stats = line_dedup_ingest_batch(batch, store, n_buckets=width)
        kept += int(
            stats.agg(F.coalesce(F.sum("n_kept"), F.lit(0))).first()[0]
        )
        walls.append(round(time.perf_counter() - t0, 2))

    # the 100 TB property on the FULL 10x store at width 32: the probe
    # plans a bucketed store scan with zero store-side Exchange
    toks = TX.tokens(F.col("text"))
    batch_first = (
        docs.filter(F.col("doc_id") < 200)
        .select(
            "doc_id",
            F.posexplode(F.transform(lines_expr(toks), F.md5)).alias(
                "ord", "lh"
            ),
        )
        .groupBy("lh")
        .agg(F.min(F.struct("doc_id", "ord")).alias("w"))
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        probe = ks.probe(
            LINES, batch_first, ks.read(spark, LINES, store, width)
        )
        with shuffle_scoped_to_buckets(spark, width):
            plan = _plan_of(probe)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    bucketed = "Bucketed: true" in plan
    n_ex = len(re.findall(r"\(\d+\) Exchange", plan))
    return {
        "fold_walls_s": walls,
        "lines_kept": kept,
        "probe_bucketed": bucketed,
        "probe_exchanges": n_ex,
        "zero_store_exchange": bucketed and n_ex <= 1,
    }


def smoke_novelty_store(spark, docs, root: str, label: str, width: int = WIDTH, epochs: int = EPOCHS) -> dict:
    from kafkastreamsproject_spark.streaming import keyedstore as ks
    from kafkastreamsproject_spark.streaming.novelty import (
        TRIGRAMS,
        doc_trigram_hashes,
        novelty_ingest_batch,
    )

    store = f"{root}/nov_{label}"
    walls, novel = [], 0
    for batch in _epochs(docs, epochs):
        t0 = time.perf_counter()
        stats = novelty_ingest_batch(batch, store, n_buckets=width)
        novel += int(
            stats.agg(F.coalesce(F.sum("n_novel"), F.lit(0))).first()[0]
        )
        walls.append(round(time.perf_counter() - t0, 2))

    batch_first = (
        doc_trigram_hashes(docs.filter(F.col("doc_id") < 200))
        .groupBy("h")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        probe = ks.probe(
            TRIGRAMS, batch_first, ks.read(spark, TRIGRAMS, store, width)
        )
        with shuffle_scoped_to_buckets(spark, width):
            plan = _plan_of(probe)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    bucketed = "Bucketed: true" in plan
    n_ex = len(re.findall(r"\(\d+\) Exchange", plan))
    return {
        "fold_walls_s": walls,
        "trigrams_admitted": novel,
        "probe_bucketed": bucketed,
        "probe_exchanges": n_ex,
        "zero_store_exchange": bucketed and n_ex <= 1,
    }


def smoke_neardup_store(spark, docs, root: str, label: str, width: int = WIDTH, epochs: int = EPOCHS) -> dict:
    from kafkastreamsproject_spark.streaming.neardup import (
        doc_signatures,
        ingest_batch,
        materialize_banded_store,
        probe_banded_store,
    )

    store = f"{root}/nd_{label}"
    table = f"r12_banded_{label}"
    walls, admitted = [], 0
    for batch in _epochs(docs, epochs):
        t0 = time.perf_counter()
        _m, acc = ingest_batch(batch, store)
        admitted += acc.count()
        walls.append(round(time.perf_counter() - t0, 2))

    spark.sql(f"DROP TABLE IF EXISTS {table}")
    t0 = time.perf_counter()
    materialize_banded_store(spark, store, table, n_buckets=width)
    t_band = round(time.perf_counter() - t0, 2)

    batch = doc_signatures(docs.filter(F.col("doc_id") < 200))
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        cands = probe_banded_store(batch, spark, table)
        with shuffle_scoped_to_buckets(spark, width):
            plan = _plan_of(cands)
        t0 = time.perf_counter()
        n_cands = cands.count()
        t_probe = round(time.perf_counter() - t0, 2)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql(f"DROP TABLE IF EXISTS {table}")
    bucketed = "Bucketed: true" in plan
    n_ex = len(re.findall(r"\(\d+\) Exchange", plan))
    return {
        "fold_walls_s": walls,
        "signatures_admitted": admitted,
        "banded_rebuild_s": t_band,
        "probe_wall_s": t_probe,
        "probe_candidates": n_cands,
        "probe_bucketed": bucketed,
        # batch-side band build + distinct legitimately shuffle; the
        # store side must not (<= 2 matches the pinned unit test)
        "probe_exchanges": n_ex,
        "zero_store_exchange": bucketed and n_ex <= 2,
    }


def run_funnel(spark, n: int = N, curate_overrides: dict | None = None) -> dict:
    docs = _funnel_corpus(spark, SF_DIR, n)
    full = load_table(spark, "documents", SF_DIR)
    # classifier seed labeled by an independent rule (char length) —
    # the r11 smoke's construction, over the base corpus
    seed = full.filter(F.pmod(F.xxhash64("doc_id"), F.lit(25)) == 0).select(
        "text",
        F.when(F.col("n_chars") < 200, F.lit(1)).otherwise(F.lit(-1)).alias("y"),
    )
    holdout = docs.filter(F.pmod(F.xxhash64("doc_id"), F.lit(200)) == 0).select(
        "doc_id", "text"
    )
    # DSIR target: replica-0 English src0 pages (docs are word-salted
    # per replica, so the target domain is a concentrated slice)
    target = docs.filter(
        (F.col("doc_id") < 100_000_000) & (F.col("source") == "src0")
    ).select("doc_id", "text")
    rates = {f"src{i}": 1000 - 30 * i for i in range(20)}

    stage_walls: dict[str, float] = {}
    t0 = time.perf_counter()
    packed, stats = curate_corpus(
        docs,
        quality_min=0.3,
        quality_top_p=0.95,
        source_blocklist="auto",
        repetition_max=0.8,
        classifier_seed=seed,
        classifier_steps=12,
        classifier_tau="auto",
        langs=("en", "de", "fr", "es", "zh"),
        surprisal_max=8.0,
        holdout=holdout,
        containment_max=0.5,
        dsir_target=target,
        dsir_base_m=900,
        mixture_rates_m=rates,
        pack_budget=2048,
        stage_walls=stage_walls,
        **(curate_overrides or {}),
    )
    n_packed = packed.count()
    wall = time.perf_counter() - t0
    from kafkastreamsproject_spark.operators.cache import (
        release_local_checkpoint,
    )

    release_local_checkpoint(packed)
    top2 = sorted(stage_walls.items(), key=lambda kv: -kv[1])[:2]
    return {
        "docs_in": stats.input,
        "packed_docs": n_packed,
        "packs": stats.packs,
        "wall_s": round(wall, 2),
        "docs_per_s": round(stats.input / wall, 0),
        "stage_walls_s": stage_walls,
        "top2_stages": [t[0] for t in top2],
        "funnel": {
            "after_exact_dedup": stats.after_exact_dedup,
            "after_neardup_dedup": stats.after_neardup_dedup,
            "after_blocklist": stats.after_blocklist,
            "after_quality": stats.after_quality,
            "after_quality_top_p": stats.after_quality_top_p,
            "after_repetition": stats.after_repetition,
            "after_classifier": stats.after_classifier,
            "after_lang": stats.after_lang,
            "after_surprisal": stats.after_surprisal,
            "after_decontamination": stats.after_decontamination,
            "after_dsir": stats.after_dsir,
            "after_mixture": stats.after_mixture,
        },
    }


def main() -> None:
    import tempfile

    spark = get_spark(app_name="r12-scale-smoke")
    root = tempfile.mkdtemp(prefix="r12_stores_")

    print("== building 1x and 10x corpora ==", flush=True)
    dir_1x = _scaled_corpus_dir(spark, SF_DIR, 1)
    dir_10x = _scaled_corpus_dir(spark, SF_DIR, N)
    docs_1x = spark.read.parquet(f"{dir_1x}/documents.parquet")
    docs_10x = spark.read.parquet(f"{dir_10x}/documents.parquet")

    # DISCARDED warm-up: full fold loop of every store at 1x on a
    # throwaway path, so JIT/parquet-footer warm-up never lands in a
    # measured number (r11 smoke's ratio<1 artifact)
    print("== warm-up (discarded) ==", flush=True)
    smoke_line_store(spark, docs_1x, root, "warm")
    smoke_novelty_store(spark, docs_1x, root, "warm")
    smoke_neardup_store(spark, docs_1x, root, "warm")
    release_persisted()

    stores: dict[str, dict] = {}
    for name, fn in [
        ("line_dedup", smoke_line_store),
        ("novelty", smoke_novelty_store),
        ("neardup_banded", smoke_neardup_store),
    ]:
        print(f"== {name} ==", flush=True)
        r1 = fn(spark, docs_1x, root, "1x")
        r10 = fn(spark, docs_10x, root, "10x")
        release_persisted()
        w1, w10 = sum(r1["fold_walls_s"]), sum(r10["fold_walls_s"])
        stores[name] = {
            "1x": r1,
            "10x": r10,
            "wall_1x_s": round(w1, 2),
            "wall_10x_s": round(w10, 2),
            "ratio_10x": round(w10 / w1, 2) if w1 else None,
        }
        print(
            f"  1x {w1:.1f}s → 10x {w10:.1f}s (ratio "
            f"{stores[name]['ratio_10x']}), zero-store-exchange@{WIDTH}: "
            f"{r10['zero_store_exchange']}",
            flush=True,
        )

    print("== 12-stage funnel at 10x ==", flush=True)
    funnel = run_funnel(spark)
    print(json.dumps(funnel["stage_walls_s"], indent=2), flush=True)

    out = {
        "kind": "r12_scale_smoke",
        "scale": f"{N}x sf0.1 documents (50k docs, sf1.0-equivalent)",
        "n_buckets": WIDTH,
        "epochs_per_store": EPOCHS,
        "warmup": "full 1x fold loop per store, discarded",
        "stores": stores,
        "funnel_10x": funnel,
    }
    line = json.dumps({k: out[k] for k in ("kind", "scale", "n_buckets")})
    print(line)
    repo = Path(__file__).resolve().parent.parent
    target = repo / "smokes" / "r12.json"
    existing = json.loads(target.read_text()) if target.exists() else {}
    existing.update({k: v for k, v in out.items() if k != "kind"})
    existing.setdefault("kind", "r12_smokes")
    target.write_text(json.dumps(existing, indent=2) + "\n")
    with open(repo / "PROGRESS.jsonl", "a") as f:
        f.write(
            json.dumps(
                {
                    "kind": "r12_scale_smoke",
                    "stores_ratio_10x": {
                        k: v["ratio_10x"] for k, v in stores.items()
                    },
                    "funnel_wall_s": funnel["wall_s"],
                    "funnel_top2": funnel["top2_stages"],
                }
            )
            + "\n"
        )


if __name__ == "__main__":
    main()
