"""One configuration surface for the persistent store species
(r12 verdict #5).

Five store species exist, each previously carrying its own frozen
test-SF defaults as module constants.  This module is the single
place those defaults live, together with the sizing rules a 100 TB
deployment applies; the per-store sidecar guards (``_store_meta.json``
/ ``_sketch_meta.json`` / ``_ann_meta.json`` / ``_bm25_meta.json``)
stay exactly as they are — the sidecar is always the source of truth
for an EXISTING store, this module only supplies creation-time
defaults.

Species and sizing rules
------------------------
- **bucketed hash append stores** (the line and trigram hash sets,
  bm25 seen/postings/positions, ann seen/codes/vecs; one lifecycle in
  streaming/keyedstore.py over sources/bucketed.py):
  ``n_buckets`` — bucket at least as wide as the ingest job's
  parallelism, 128–512 MB per bucket; the 8-bucket default is the
  test-SF width.  All folds against one store must use the width it
  was created with (``_store_meta.json``).
- **rollup / centroid snapshot stores** (operators/incremental.py,
  streaming/centroids.py): |keys|-row snapshots, overwritten whole —
  no width knob; nothing to configure here.
- **sketch snapshot store** (streaming/distinctsketch.py):
  ``hll_lg_k`` — 2^lg_k registers per sketch, relative standard error
  ≈ 1.04/√(2^lg_k) (1.6% at the default 12); ``sketch_retain_epochs``
  snapshot dirs are kept (current + the predecessor a replay needs).
- **postings stores** (streaming/bm25index.py): ``bm25_df_cap`` — the
  append-time term-skew gate; None (uncapped) by default, sized by
  the bm25_dfcap_curve staircase when turned on (pick the cap where
  recall flattens; posting lists, hot buckets, and the gate's own
  probe are all bounded by it).
- **codes stores / ANN geometry** (streaming/annindex.py): C ≈ √N
  coarse cells (candidates per query ≈ nprobe·√N), K/M are
  quantization-fidelity knobs — ``sized_geometry(n)`` encodes the
  rule; bare ``create_ann_store`` sizes to the training corpus, the
  defaults here are the batch-family convention the default-geometry
  oracle equality depends on (opt in via ``default_geometry()``).
  Coarse-codebook memory bound: the large-C ingest path holds ONE
  collected centroid matrix per store as a Spark broadcast —
  C·dim·8 B ≈ √N·dim·8 B on the driver and once per executor JVM
  (~80 MB at N=10¹⁰, dim=1024) — collected at first fold, reused for
  the stream's lifetime, invalidated on (re)creation.

Compaction cadence (all append stores) is ADAPTIVE: a streaming sink
compacts its store when any bucket exceeds ``compact_files_per_bucket``
data files (plain append logs: ``compact_files_plain`` total files) —
see sources/bucketed.py:max_files_per_bucket.  The one check reading
these thresholds is streaming/pipeline.py:_replay_safe_sink, at fold
time, so no sink carries a threshold or epoch-cadence argument of its
own.

Changing a default here changes what NEW stores are created with;
existing stores keep their sidecar-pinned spec and reject mismatched
folds.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class StoreDefaults:
    # bucketed hash append stores
    n_buckets: int = 8
    # adaptive compaction triggers
    compact_files_per_bucket: int = 4
    compact_files_plain: int = 128
    # HLL sketch snapshot store
    hll_lg_k: int = 12
    sketch_retain_epochs: int = 2
    # ANN serving-index geometry (creation defaults; prefer
    # streaming/annindex.py:sized_geometry for real corpora)
    ann_c_cells: int = 8
    ann_k_codes: int = 16
    ann_m_subspaces: int = 4
    # BM25 append-time df cap (None = uncapped)
    bm25_df_cap: int | None = None


#: the one shared instance every store module reads its defaults from
DEFAULTS = StoreDefaults()
