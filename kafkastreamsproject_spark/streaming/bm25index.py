"""Incremental BM25 inverted-index maintenance at ingest — the
retrieval index kept fresh as shards arrive.

``plans/text.py:bm25_retrieval`` scores a query by RESCANNING the
corpus: one pass computes per-document term frequencies, a 1-row stats
aggregate broadcasts back, scoring is row-local.  That is the right
plan for one-off analytics, and exactly the wrong one for a serving
index — at 100 TB every query would re-read every document.  This
module maintains the classic inverted-index decomposition instead, as
two persistent stores folded per micro-batch:

- **seen** (bucketed append store keyed on doc_id): one row
  ``(doc_id, dl)`` per indexed document.  The per-batch freshness
  probe anti-joins the batch against it ON THE BUCKET KEY, so the
  store side plans ZERO Exchange (the streaming/novelty.py
  discipline) — per-epoch probe cost ∝ batch, never ∝ corpus.  It is
  also the ground truth for corpus stats: N and avgdl are maintained
  INCREMENTALLY in the ``stats/`` delta-log sidecar as each fold
  commits (r14 verdict #2), so a query reads them driver-side without
  scanning the ledger — and they can never double-count a replayed or
  re-crawled document (the delta writer is replay-idempotent; see the
  sidecar block comment).
- **postings** (bucketed append store keyed on the term): one row
  ``(t, doc_id, tf, dl)`` per distinct (term, doc) of each FRESH
  document.  Ingest never reads this store at all — freshness is
  doc-granular via ``seen`` — so appends cost ∝ batch postings.  A
  query probe reads only its terms' rows through a pushed
  ``t IN (...)`` filter; the scoring shuffle is ∝ matching postings.

Lifecycle: the stores are one :data:`BM25` spec of
``streaming/keyedstore.py`` (key ``doc_id``; the ``seen`` ledger; the
``postings`` and optional ``positions`` row substores), so reads,
compaction, erasure, upsert and tombstones follow its four rules and
its write order — rows first, the ledger last as the commit point.  A
fully-applied epoch replayed through :func:`index_ingest_batch` is a
no-op: the seen probe yields nothing, postings append nothing, and the
stats delta writer skips its own record.  Duplicate-doc ARRIVALS are
dropped at document granularity — same doc_id in a later batch at the
seen probe (first-writer-wins across batches), same doc_id twice in
ONE batch at an intra-batch dropDuplicates before the probe (one
arbitrary representative — an unordered batch has no "first").

Exactness: the maintained index scores BIT-IDENTICALLY to the batch
scorer.  tf/dl/df are exact integers however the corpus is split into
epochs, dl sums in longs, and :func:`query_index` re-creates the batch
scorer's pinned expression (same literals, same left-to-right term
order, same 6-dp round) — so the DuckDB batch-BM25 oracle verifies
the incremental path end-to-end
(``plans/ingest.py:streaming_bm25_index``) and replay/growth/
compaction behavior is pytest-pinned (tests/test_bm25_index.py).

Term skew at 100 TB: posting lists are Zipf-skewed — stopword rows
concentrate in their term's buckets, and the ``the``-bucket straggles
on every probe that includes a stopword.  The countermeasure is the
**append-time df cap** (``df_cap=`` at ingest, persisted in the
``_bm25_meta.json`` sidecar): once a term's posting list holds
``df_cap`` rows, later docs' postings for that term are DROPPED at
the gate — first-``df_cap``-writers-win, ordered by (epoch, doc_id),
so the capped index is a deterministic function of the corpus and the
DuckDB oracle can recompute it exactly
(``plans/ingest.py:streaming_bm25_dfcap``).  Consequences, priced
honestly by the ``bm25_dfcap_curve`` staircase (the
winnowing_recall_curve precedent): every posting list — hence every
per-probe bucket read and the gate's own store probe — is bounded by
``df_cap`` rows; capped terms score with df = min(df, cap) and
post-cap docs don't match on that term (stats N/avgdl still count
every doc via the seen ledger, which the cap never touches).  This is
the classic static-pruning trade: common terms carry little idf
anyway, so recall@k degrades slowly while the hot buckets become
flat.  Store widths follow the sizing rule in sources/bucketed.py;
all folds against one store must use the width (and df_cap) it was
created with (enforced by the ``_store_meta.json`` /
``_bm25_meta.json`` sidecars).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from kafkastreamsproject_spark.functions import text as TX
from kafkastreamsproject_spark.session import local_rows
from kafkastreamsproject_spark.storeconfig import DEFAULTS
from kafkastreamsproject_spark.sources.bucketed import shuffle_scoped_to_buckets
from kafkastreamsproject_spark.streaming import keyedstore as ks
from kafkastreamsproject_spark.streaming.keyedstore import KeyedIndex, Substore
from kafkastreamsproject_spark.streaming.pipeline import _replay_safe_sink

_SEEN = Substore("seen", "doc_id long, dl long", ("doc_id",), "bm25_seen")
_POSTINGS = Substore(
    "postings", "t string, doc_id long, tf long, dl long", ("t",),
    "bm25_postings",
)
#: the positional leg (phrase queries) — present once a fold ran with
#: ``positional=True``
_POSITIONS = Substore(
    "positions", "t string, doc_id long, ps array<bigint>", ("t",),
    "bm25_positions", optional=True,
)
BM25 = KeyedIndex("doc_id", _SEEN, (_POSTINGS, _POSITIONS))
_postings_path = _POSTINGS.path

#: default store width, sized for the test SF — the shared store
#: config (storeconfig.py) holds the value and the sizing rule
#: (at least the ingest parallelism, 128-512 MB per bucket).
N_BUCKETS = DEFAULTS.n_buckets
_K1 = 1.2
_B = 0.75


def doc_postings(docs: DataFrame) -> DataFrame:
    """(t, doc_id, tf, dl) — one row per distinct (term, doc): term
    frequency plus the doc's token length (constant per doc,
    denormalized into the posting so scoring never rejoins a lengths
    table).  Tokenization is the engine-wide TX.tokens split; docs
    whose token list is empty contribute no postings (they still count
    in the seen ledger)."""
    toks = TX.tokens(F.col("text"))
    return (
        docs.select(
            "doc_id",
            F.size(toks).cast("long").alias("dl"),
            F.explode(toks).alias("t"),
        )
        .groupBy("t", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"), F.max("dl").alias("dl"))
    )


_INDEX_META_FILE = "_bm25_meta.json"


def _read_index_meta(spark: SparkSession, store_path: str) -> dict | None:
    import json

    from kafkastreamsproject_spark.operators.fs import hadoop_read_text

    text = hadoop_read_text(spark, f"{store_path}/{_INDEX_META_FILE}")
    return json.loads(text) if text else None


def _check_index_meta(
    spark: SparkSession, store_path: str, df_cap: int | None, positional: bool
) -> None:
    """Sidecar guard (the distinctsketch lg_k discipline): the df cap
    is a STORE property — an uncapped fold against a capped store (or
    a different cap) would silently break the first-cap-writers-win
    invariant that makes the capped index deterministic, so the first
    fold stamps the cap and every later fold must match it.  The first
    positional fold also stamps ``positional: true``, which
    :func:`upsert_docs_in_index` reads: a forget may empty the
    positions store, and its files no longer tell."""
    import json

    from kafkastreamsproject_spark.operators.fs import hadoop_write_text

    meta = _read_index_meta(spark, store_path)
    if meta is not None and meta["df_cap"] != df_cap:
        raise ValueError(
            f"bm25 index at {store_path} was created with df_cap="
            f"{meta['df_cap']}; caller supplied df_cap={df_cap} — all "
            "folds against one index must use the cap it was created with"
        )
    want = dict(meta or {"df_cap": df_cap})
    if positional:
        want["positional"] = True
    if want != meta:
        hadoop_write_text(
            spark, f"{store_path}/{_INDEX_META_FILE}", json.dumps(want)
        )


def _apply_df_cap(
    spark: SparkSession,
    posts: DataFrame,
    store_path: str,
    n_buckets: int,
    df_cap: int,
) -> DataFrame:
    """The append-time gate: keep a batch posting (t, doc_id) iff the
    term's STORE posting count plus the doc's within-batch rank (by
    doc_id — the deterministic arrival order inside one epoch) fits
    under the cap.  The store probe is bounded by the cap's own
    invariant: every existing list holds ≤ df_cap rows, so counting
    the batch terms' current dfs reads ≤ df_cap · |batch terms| rows
    through a broadcast semi-join on the store's bucket key (zero
    store-side Exchange).

    The probe EXCLUDES store rows carrying this batch's own doc_ids
    (r13 ADVICE): on a clean fold that anti-join removes nothing (a
    fresh doc has no store rows by definition — it just passed the
    seen probe), but on a crash-window replay (postings appended, seen
    never committed) the orphaned rows are exactly this batch's, and
    counting them would inflate df_now — permanently dropping some of
    the batch's under-cap postings and keeping others the first run
    rejected.  Excluding them makes the replayed gate compute the SAME
    df_now, hence the SAME kept set, so the capped index stays the
    deterministic first-cap-writers-win function of the corpus the
    DuckDB oracle recomputes (replay is idempotent modulo the
    pre-existing duplicate-postings window, which duplicates KEPT rows
    only)."""
    batch_terms = posts.select("t").distinct()
    batch_docs = posts.select("doc_id").distinct()
    df_now = (
        read_postings(spark, store_path, n_buckets)
        .join(F.broadcast(batch_terms), "t", "left_semi")
        .join(F.broadcast(batch_docs), "doc_id", "left_anti")
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("df_now"))
    )
    w = W.partitionBy("t").orderBy("doc_id")
    return (
        posts.withColumn("rnk", F.row_number().over(w))
        .join(df_now, "t", "left")
        .filter(
            F.col("rnk") + F.coalesce(F.col("df_now"), F.lit(0)) <= df_cap
        )
        .drop("rnk", "df_now")
    )


def read_postings(
    spark: SparkSession, store_path: str, n_buckets: int = N_BUCKETS
) -> DataFrame:
    return ks.read(spark, _POSTINGS, store_path, n_buckets)


def read_seen(
    spark: SparkSession, store_path: str, n_buckets: int = N_BUCKETS
) -> DataFrame:
    return ks.read(spark, _SEEN, store_path, n_buckets)


def read_positions(
    spark: SparkSession, store_path: str, n_buckets: int = N_BUCKETS
) -> DataFrame:
    return ks.read(spark, _POSITIONS, store_path, n_buckets)


def read_tombstones(
    spark: SparkSession, store_path: str
) -> DataFrame | None:
    """The index's PENDING logical deletes (one ``doc_id`` column), or
    ``None`` when nothing is pending."""
    return ks.read_tombstones(spark, BM25, store_path)


# ---------------------------------------------------------------------------
# Corpus-stats sidecar (r14 verdict #2): (n_docs, dl_sum) maintained
# incrementally per mutation as a delta log under ``{store}/stats/``,
# so the QUERY path never scans the seen ledger — before this,
# :func:`query_index` re-aggregated the whole ledger on every query,
# an O(N)-bytes read on a serving path (16 B/doc is cheap at test SF
# and ~160 GB/query at 10¹⁰ docs).  Design:
#
# - One tiny JSON file per ledger mutation, named
#   ``{seq:08d}-{kind}.json`` with content
#   {"n_docs": ±n, "dl_sum": ±s, "fp": fingerprint}; reading the
#   stats sums the deltas (driver-side, O(#mutations);
#   :func:`compact_postings` merges them to one file on the
#   compaction cadence, so the count tracks EPOCHS between compacts).
# - Idempotent under at-least-once replay (the df-cap discipline):
#   the fingerprint is a deterministic function of the contributing
#   (doc_id, dl) set, and a writer SKIPS when the last delta already
#   carries its (kind, n, s, fp) — a replayed crash-window op
#   recomputes the identical contributing set (the ledger it derives
#   from is unchanged until the op's own commit point), matches, and
#   skips; a genuine later op with coincidentally equal content is
#   impossible mid-generation (an insert's doc set can't re-insert
#   without a forget between, which writes its own delta between the
#   two).  Single-writer contract, like every mutation here.
# - Write order: ingest writes its (+) delta after the postings
#   append and BEFORE the seen append (the commit point) — replay
#   converges through every crash window; forget writes its (−) delta
#   right before the seen forget, computed from the pre-forget
#   ledger.  A crash between a forget's delta and its ledger rewrite
#   leaves stats briefly under-counting until the op replays — the
#   same documented mid-maintenance window as the partial erasure
#   itself.
# - Stores created before this sidecar have no stats/ dir:
#   :func:`corpus_stats` falls back to the old full-ledger aggregate
#   (and every post-upgrade fold starts the delta log).
# ---------------------------------------------------------------------------


def _stats_path(store_path: str) -> str:
    return f"{store_path}/stats"


def _stats_record(df: DataFrame):
    """(n, s, fp) over a (doc_id, dl) set: exact count/sum plus an
    order-independent xxhash64 XOR fingerprint — the replay-identity
    key for the delta log (bit_xor, not sum: ANSI mode makes a long
    sum of hashes overflow; XOR is closed over longs, and the rows
    are unique per doc_id so pairs can't cancel)."""
    return df.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.coalesce(F.sum("dl"), F.lit(0).cast("long")).alias("s"),
        F.coalesce(
            F.expr("bit_xor(xxhash64(doc_id, dl))"),
            F.lit(0).cast("long"),
        ).alias("fp"),
    ).first()


def _list_stats_deltas(spark: SparkSession, store_path: str) -> list:
    from kafkastreamsproject_spark.operators.fs import _fs_and_path

    fs, hpath = _fs_and_path(spark, _stats_path(store_path))
    if not fs.exists(hpath):
        return []
    return sorted(
        st.getPath().getName()
        for st in fs.listStatus(hpath)
        if st.getPath().getName().endswith(".json")
    )


def _write_stats_delta(
    spark: SparkSession,
    store_path: str,
    kind: str,
    n_docs: int,
    dl_sum: int,
    fp: int,
) -> None:
    """Append one delta, skipping the write when the LAST delta is
    this op's own (the crash-window replay — see the block comment)."""
    import json

    from kafkastreamsproject_spark.operators.fs import (
        hadoop_read_text,
        hadoop_write_text,
    )

    record = {"n_docs": int(n_docs), "dl_sum": int(dl_sum), "fp": int(fp)}
    names = _list_stats_deltas(spark, store_path)
    if names:
        last = json.loads(
            hadoop_read_text(spark, f"{_stats_path(store_path)}/{names[-1]}")
        )
        if last == record and names[-1].split("-", 1)[1] == f"{kind}.json":
            return  # replayed crash-window op: delta already logged
        seq = int(names[-1].split("-", 1)[0]) + 1
    else:
        seq = 0
    hadoop_write_text(
        spark,
        f"{_stats_path(store_path)}/{seq:08d}-{kind}.json",
        json.dumps(record),
    )


def read_stats_sidecar(
    spark: SparkSession, store_path: str
) -> tuple[int, int] | None:
    """The delta log's (n_docs, dl_sum) total, or None when the store
    predates the sidecar (no stats/ dir — fall back to the ledger)."""
    import json

    from kafkastreamsproject_spark.operators.fs import hadoop_read_text

    names = _list_stats_deltas(spark, store_path)
    if not names:
        return None
    n, s = 0, 0
    for name in names:
        rec = json.loads(
            hadoop_read_text(spark, f"{_stats_path(store_path)}/{name}")
        )
        n += rec["n_docs"]
        s += rec["dl_sum"]
    return n, s


def _merge_stats_deltas(spark: SparkSession, store_path: str) -> None:
    """Collapse the delta log to one snapshot file (compaction-cadence
    maintenance, single-writer window — never racing a mutation's
    delta/commit pair)."""
    from kafkastreamsproject_spark.operators.fs import _fs_and_path

    totals = read_stats_sidecar(spark, store_path)
    if totals is None or len(_list_stats_deltas(spark, store_path)) <= 1:
        return
    fs, hpath = _fs_and_path(spark, _stats_path(store_path))
    fs.delete(hpath, True)
    _write_stats_delta(spark, store_path, "m", totals[0], totals[1], 0)


def corpus_stats(spark: SparkSession, store_path: str,
                 n_buckets: int = N_BUCKETS,
                 exclude: DataFrame | None = None) -> DataFrame:
    """1-row (n_docs, dl_sum) — from the stats sidecar when the store
    has one (driver-side delta sum, ZERO ledger scan: the r14-verdict
    fix that takes the O(N)-bytes seen aggregate out of every query),
    else the legacy full-ledger aggregate (pre-sidecar stores).
    ``exclude`` (one column, ``doc_id``) drops docs from the count —
    the tombstone hook: pending logical deletes must stop moving
    N/avgdl the moment they are tombstoned, or a pending-phase score
    would differ from the post-apply one.  With the sidecar, the
    exclusion is a PRUNED ledger probe: the pending ids (broadcast-
    bounded by contract) push into the doc_id-bucketed seen scan as a
    literal ``doc_id IN (...)`` filter — bucket pruning + SORTED-BY
    row-group skipping, bytes ∝ pending set, never ∝ corpus — and
    only ledger-present pending docs adjust the totals (identical
    semantics to the legacy anti-join)."""
    base = read_stats_sidecar(spark, store_path)
    if base is not None:
        n, s = base
        if exclude is not None:
            ids = [
                r.doc_id
                for r in exclude.select("doc_id").distinct().collect()
            ]
            if ids:
                adj = (
                    read_seen(spark, store_path, n_buckets)
                    .filter(F.col("doc_id").isin(ids))
                    .agg(
                        F.count(F.lit(1)).cast("long").alias("n"),
                        F.coalesce(
                            F.sum("dl"), F.lit(0).cast("long")
                        ).alias("s"),
                    )
                    .first()
                )
                n -= adj.n
                s -= adj.s
        return local_rows(
            spark, "n_docs long, dl_sum long", [(int(n), int(s))]
        )
    seen = read_seen(spark, store_path, n_buckets)
    if exclude is not None:
        seen = seen.join(
            F.broadcast(exclude.select("doc_id")), "doc_id", "left_anti"
        )
    return seen.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.coalesce(F.sum("dl"), F.lit(0).cast("long")).alias("dl_sum"),
    )


def index_ingest_batch(
    batch: DataFrame,
    store_path: str,
    n_buckets: int = N_BUCKETS,
    positional: bool = False,
    df_cap: int | None = None,
) -> dict:
    """Fold one micro-batch of documents ``(doc_id, text)`` into the
    index (the foreachBatch body).  Returns
    ``{"docs_indexed": n, "postings_appended": m}``.  With
    ``positional=True`` the fold also appends the fresh docs'
    positional postings (phrase-query support) — a third append
    BEFORE the seen commit point, extending the same crash-window
    analysis.  With ``df_cap=k`` the append-time term-skew gate is on
    (module docstring): a term's posting list never exceeds k rows,
    first-k-writers-win by (epoch, doc_id); the positional store gets
    the SAME kept set so phrase and term probes stay consistent.  The
    cap is a store property (``_bm25_meta.json`` sidecar) — every
    fold must pass the value the index was created with.  See the
    module docstring for the idempotency contract and write order."""
    spark = batch.sparkSession
    _check_index_meta(spark, store_path, df_cap, positional)

    with shuffle_scoped_to_buckets(spark, n_buckets):
        toks = TX.tokens(F.col("text"))
        # intra-batch dedup FIRST: two rows sharing a doc_id inside one
        # micro-batch would both pass the (store-side) freshness probe
        # and double-count the seen ledger + postings (r12 ADVICE).
        # One representative per doc_id survives — arbitrary but
        # single, matching the cross-batch first-writer-wins contract
        # (a batch carrying two texts under one id has no defined
        # order to prefer anyway).
        docs = batch.dropDuplicates(["doc_id"]).select(
            "doc_id", "text", F.size(toks).cast("long").alias("dl")
        )
        seen = read_seen(spark, store_path, n_buckets)
        # doc-granular freshness: bucket-key anti-join, zero store-side
        # Exchange; pins to the pre-append snapshot
        fresh = docs.join(
            seen.select("doc_id"), "doc_id", "left_anti"
        ).localCheckpoint(eager=True)

        posts = doc_postings(fresh)
        if df_cap is not None:
            posts = _apply_df_cap(spark, posts, store_path, n_buckets, df_cap)
        posts = posts.localCheckpoint(eager=True)

        # postings FIRST, seen last (the commit point) — the
        # streaming/keyedstore.py write order
        ks.append(spark, _POSTINGS, posts, store_path, n_buckets)
        if positional:
            pos = doc_positional_postings(fresh)
            if df_cap is not None:
                # the phrase store keeps exactly the capped term set
                pos = pos.join(
                    posts.select("t", "doc_id"), ["t", "doc_id"], "left_semi"
                )
            pos = pos.localCheckpoint(eager=True)
            ks.append(spark, _POSITIONS, pos, store_path, n_buckets)
        # stats delta between the postings append and the seen commit
        # point: a crash on either side replays to the identical fresh
        # set (seen unchanged until the commit), so the delta writer's
        # fingerprint skip makes this exactly-once (block comment at
        # _stats_path) — and the record doubles as the fold's own
        # row counts, saving the separate count() jobs
        rec = _stats_record(fresh.select("doc_id", "dl"))
        if rec.n:
            _write_stats_delta(
                spark, store_path, "a", rec.n, rec.s, rec.fp
            )
        ks.append(
            spark, _SEEN, fresh.select("doc_id", "dl"), store_path, n_buckets
        )
    return {
        "docs_indexed": int(rec.n),
        "postings_appended": posts.count(),
    }


def compact_postings(
    spark: SparkSession, store_path: str, n_buckets: int = N_BUCKETS
) -> int:
    """Bound per-epoch small files in every store of the index (~1
    file per bucket after) and collapse the stats delta log to one
    snapshot; run between epochs (single-writer window).  Returns the
    postings store's data-file count after compaction."""
    _merge_stats_deltas(spark, store_path)
    return ks.compact(spark, BM25, store_path, n_buckets)


def _score_expr(n_terms: int) -> Column:
    """The batch scorer's pinned left-to-right score sum
    (plans/text.py:bm25_retrieval) over columns tf{i}/df{i}/dl/n_docs/
    avgdl — identical literals, identical order, so the incremental
    path rounds to the same 6 decimals on both engines."""
    score = None
    for i in range(n_terms):
        idf = F.log(
            (F.col("n_docs") - F.col(f"df{i}") + F.lit(0.5))
            / (F.col(f"df{i}") + F.lit(0.5))
            + F.lit(1.0)
        )
        s_i = (
            idf
            * (F.col(f"tf{i}") * F.lit(_K1 + 1.0))
            / (
                F.col(f"tf{i}")
                + F.lit(_K1)
                * (F.lit(1.0 - _B) + F.lit(_B) * F.col("dl") / F.col("avgdl"))
            )
        )
        score = s_i if score is None else score + s_i
    return score


_MAX_PROBE_TERMS = 8192


def _max_probe_terms() -> int:
    import os

    return int(os.environ.get("SPARK_GRAFT_MAX_PROBE_TERMS", _MAX_PROBE_TERMS))


def _term_probe(rel: DataFrame, terms: list[str]) -> DataFrame:
    """``t ∈ terms`` over a postings-shaped relation.

    Query-sized term lists use a literal ``t IN (...)`` — predicate
    pushdown + bucket pruning on the t-bucketed store.  Past
    $SPARK_GRAFT_MAX_PROBE_TERMS (default 8192) distinct terms the
    literal would bloat the plan (and at that width the probe touches
    most buckets anyway), so the probe switches to a broadcast
    left-semi join on the term column — the same plan-bloat guard as
    the ANN store's $SPARK_GRAFT_MAX_PRUNE_CELLS (r15).  Row set is
    identical either way; columns are unchanged (left-semi keeps the
    probe side only)."""
    terms = list(dict.fromkeys(terms))
    if len(terms) <= _max_probe_terms():
        return rel.filter(F.col("t").isin(terms))
    tdf = local_rows(rel.sparkSession, "t string", [(t,) for t in terms])
    return rel.join(F.broadcast(tdf), "t", "left_semi")


def query_index(
    spark: SparkSession,
    store_path: str,
    terms: tuple[str, ...],
    n_buckets: int = N_BUCKETS,
) -> DataFrame:
    """Score every indexed document matching ≥1 query term — from the
    STORES alone, never the corpus: the postings probe pushes
    ``t IN terms`` into the bucketed scan, df per term is a 1-row
    aggregate of the same probe, and N/avgdl come from the stats
    sidecar (driver-side delta sum — no seen-ledger scan in the
    plan; bytes read ∝ the query terms' postings plus, when deletes
    are pending, the pending ids' ledger buckets).  Returns
    (doc_id, bm25), bit-identical to the batch scorer over the union
    of every folded batch.  Single-writer contract: run between
    folds (a query racing an in-flight fold could see a posting
    whose doc is not yet in the ledger)."""
    hits = _term_probe(read_postings(spark, store_path, n_buckets), list(terms))
    tombs = read_tombstones(spark, store_path)
    if tombs is not None:
        # pending logical deletes leave the probe BEFORE df/tf
        # aggregation and the ledger stats BELOW exclude them too, so
        # every surviving doc scores EXACTLY as it will after
        # apply_tombstones — the delete's visibility is total, not
        # just "victim missing from results"
        hits = hits.join(F.broadcast(tombs), "doc_id", "left_anti")
    per_doc = hits.groupBy("doc_id").agg(
        F.max("dl").cast("double").alias("dl"),
        *[
            F.sum(F.when(F.col("t") == w, F.col("tf")).otherwise(0))
            .cast("double")
            .alias(f"tf{i}")
            for i, w in enumerate(terms)
        ],
    )
    dfs = hits.agg(
        *[
            F.sum((F.col("t") == w).cast("long")).cast("double").alias(f"df{i}")
            for i, w in enumerate(terms)
        ]
    )
    corpus = corpus_stats(spark, store_path, n_buckets, exclude=tombs).select(
        F.col("n_docs").cast("double").alias("n_docs"),
        (F.col("dl_sum").cast("double") / F.col("n_docs").cast("double"))
        .alias("avgdl"),
    )
    return (
        per_doc.join(F.broadcast(dfs))
        .join(F.broadcast(corpus))
        .select(
            "doc_id", F.round(_score_expr(len(terms)), 6).alias("bm25")
        )
    )


def boolean_query_index(
    spark: SparkSession,
    store_path: str,
    must: tuple[str, ...] = (),
    should: tuple[str, ...] = (),
    must_not: tuple[str, ...] = (),
    n_buckets: int = N_BUCKETS,
) -> DataFrame:
    """Boolean retrieval FROM THE STORES — the Lucene-style query
    shape production search runs far more often than bag-of-terms:
    a doc qualifies iff it contains EVERY ``must`` term (all of them
    when ``must`` is empty: any scoring term suffices) and NO
    ``must_not`` term; qualifying docs score by the standard BM25 sum
    over ``must`` + ``should`` (must_not never scores — it only
    vetoes).  df/N/avgdl stay CORPUS-wide, exactly like
    :func:`query_index` (eligibility restricts WHO is returned, not
    what the statistics mean — the same convention as the batch
    scorer's WHERE clause), so ``boolean_query_index(should=terms)``
    with no must/must_not returns :func:`query_index` verbatim
    (pytest-pinned).

    Plan shape: ONE pushed ``t IN (must ∪ should ∪ must_not)`` probe
    of the postings store feeds everything — eligibility (a
    count-distinct-must filter and a must_not anti-join over 16 B/row
    slices of the probe) and scoring (the usual tf pivot) — so the
    boolean structure adds zero store scans over the disjunctive
    query.  Pending tombstones leave the probe and the ledger stats
    at the same seams as query_index."""
    must = tuple(must)
    should = tuple(w for w in should if w not in must)
    terms = must + should
    if not terms:
        raise ValueError(
            "boolean_query_index needs at least one scoring term "
            "(must or should) — must_not alone has nothing to rank"
        )
    overlap = set(terms) & set(must_not)
    if overlap:
        raise ValueError(
            f"terms {sorted(overlap)} appear in must/should AND "
            "must_not — a term cannot both score and veto"
        )
    probe = list(dict.fromkeys(terms + tuple(must_not)))
    hits_all = _term_probe(
        read_postings(spark, store_path, n_buckets), probe
    )
    tombs = read_tombstones(spark, store_path)
    if tombs is not None:
        hits_all = hits_all.join(F.broadcast(tombs), "doc_id", "left_anti")

    hits = _term_probe(hits_all, list(terms))
    if must:
        eligible = (
            _term_probe(hits_all, list(must))
            .groupBy("doc_id")
            .agg(F.countDistinct("t").alias("nm"))
            .filter(F.col("nm") == len(set(must)))
            .select("doc_id")
        )
    else:
        eligible = hits.select("doc_id").distinct()
    if must_not:
        veto = _term_probe(hits_all, list(must_not)).select(
            "doc_id"
        ).distinct()
        eligible = eligible.join(veto, "doc_id", "left_anti")

    per_doc = (
        hits.groupBy("doc_id")
        .agg(
            F.max("dl").cast("double").alias("dl"),
            *[
                F.sum(F.when(F.col("t") == w, F.col("tf")).otherwise(0))
                .cast("double")
                .alias(f"tf{i}")
                for i, w in enumerate(terms)
            ],
        )
        .join(eligible, "doc_id", "left_semi")
    )
    dfs = hits.agg(
        *[
            F.sum((F.col("t") == w).cast("long")).cast("double").alias(f"df{i}")
            for i, w in enumerate(terms)
        ]
    )
    corpus = corpus_stats(spark, store_path, n_buckets, exclude=tombs).select(
        F.col("n_docs").cast("double").alias("n_docs"),
        (F.col("dl_sum").cast("double") / F.col("n_docs").cast("double"))
        .alias("avgdl"),
    )
    return (
        per_doc.join(F.broadcast(dfs))
        .join(F.broadcast(corpus))
        .select(
            "doc_id", F.round(_score_expr(len(terms)), 6).alias("bm25")
        )
    )


def to_index_ingest_sink(
    docs: DataFrame,
    store_path: str,
    checkpoint: str,
    n_buckets: int = N_BUCKETS,
    df_cap: int | None = None,
):
    """Streaming form: fold each micro-batch through
    :func:`index_ingest_batch` via streaming/pipeline.py's
    :func:`_replay_safe_sink` — replayed epochs are skipped, which keeps
    the batch API's one crash window unreachable in streaming
    operation, and the stores compact between folds once any postings
    bucket passes the storeconfig file-count threshold."""
    return _replay_safe_sink(
        docs,
        store_path,
        checkpoint,
        lambda batch: index_ingest_batch(
            batch, store_path, n_buckets, df_cap=df_cap
        ),
        available_now=False,
        compact=lambda spark: compact_postings(spark, store_path, n_buckets),
        compact_probe=_postings_path(store_path),
    )


# ---------------------------------------------------------------------------
# Positional leg: exact phrase queries from the index.  The positional
# postings store carries each (term, doc)'s sorted position list —
# the classic Lucene-style positional index, ~1 int per corpus token —
# so "w0 w1 ... wk" answers from k term probes and an in-row position
# intersection, never a text rescan.
# ---------------------------------------------------------------------------

def doc_positional_postings(docs: DataFrame) -> DataFrame:
    """(t, doc_id, ps) — sorted 0-based token positions per distinct
    (term, doc).  sort_array pins collect_list's arrival order, so the
    store's bytes are deterministic under any partitioning."""
    toks = TX.tokens(F.col("text"))
    return (
        docs.select("doc_id", F.posexplode(toks).alias("pos", "t"))
        .groupBy("t", "doc_id")
        .agg(
            F.sort_array(
                F.collect_list(F.col("pos").cast("long"))
            ).alias("ps")
        )
    )


def phrase_query_index(
    spark: SparkSession,
    store_path: str,
    phrase: tuple[str, ...],
    n_buckets: int = N_BUCKETS,
) -> DataFrame:
    """Exact-phrase search FROM THE POSITIONAL STORE: probe the
    phrase's terms (pushed ``t IN`` scan filter), pivot each doc's k
    position lists onto one row, and count in-row the positions x
    where term i sits at x+i for every i — overlapping occurrences
    count individually ("a a a" contains "a a" twice).  Returns
    (doc_id, n_occurrences) for matching docs only.

    Scale shape: shuffle ∝ the phrase terms' postings (position lists
    ride along as arrays); the intersection is row-local.  The in-row
    scan is O(|P0|·k·|Pi|) per doc via array_contains — fine for
    document-sized lists; a production engine would gallop/merge the
    sorted lists, same plan shape."""
    k = len(phrase)
    hits = _term_probe(
        read_positions(spark, store_path, n_buckets), list(phrase)
    )
    tombs = read_tombstones(spark, store_path)
    if tombs is not None:
        # phrase search honors pending logical deletes at the same
        # pre-aggregation seam as the term probe
        hits = hits.join(F.broadcast(tombs), "doc_id", "left_anti")
    per_doc = hits.groupBy("doc_id").agg(
        *[
            F.first(F.when(F.col("t") == w, F.col("ps")), ignorenulls=True)
            .alias(f"p{i}")
            for i, w in enumerate(phrase)
        ]
    )
    have_all = None
    for i in range(k):
        c = F.col(f"p{i}").isNotNull()
        have_all = c if have_all is None else have_all & c

    def _at_offsets(x):
        cond = None
        for i in range(1, k):
            c = F.array_contains(F.col(f"p{i}"), x + F.lit(i))
            cond = c if cond is None else cond & c
        return cond if cond is not None else F.lit(True)

    occ = F.size(F.filter(F.col("p0"), _at_offsets))
    return (
        per_doc.filter(have_all)
        .select("doc_id", occ.cast("long").alias("n_occurrences"))
        .filter(F.col("n_occurrences") > 0)
    )


# ---------------------------------------------------------------------------
# Right-to-be-forgotten, reindex-upsert and the tombstone tier: the
# streaming/keyedstore.py lifecycle over the BM25 spec.  A pending
# tombstone is excluded from term probes, phrase probes, AND the
# N/avgdl/df statistics, so every surviving doc scores exactly as it
# will after the physical apply (the bm25_tombstone_delete oracle).
# ---------------------------------------------------------------------------


def forget_docs_in_index(
    spark: SparkSession,
    doc_ids: DataFrame,
    store_path: str,
    n_buckets: int = N_BUCKETS,
) -> dict:
    """Erase ``doc_ids`` (one column, ``doc_id``) from the index: their
    postings and positional rows leave the term-bucketed stores via a
    bucket-local (t, doc_id) row-level forget, and their seen-ledger
    rows last — after a negative stats delta, so N/avgdl shrink too.
    Afterward the index scores EXACTLY like one built from the
    surviving corpus (the index_forget_replay oracle), and the erased
    doc_ids become re-indexable (first-writer-wins restarts).

    The victims' (t, doc_id) keys come from a column-pruned scan of
    each term-bucketed store itself (16 B/row, no text needed) — the
    price of not keeping a forward doc→terms index.  Crash and replay
    behaviour: the keyedstore rules.  Returns per-store deletion
    counts."""

    def stats_delta(victims: DataFrame) -> None:
        # negative stats delta from the PRE-forget ledger, written
        # before the seen rewrite: a crash between the two replays to
        # the same removed set (the ledger rows are still there), so
        # the delta writer's fingerprint skip holds — see the stats
        # block comment
        rec = _stats_record(
            read_seen(spark, store_path, n_buckets).join(
                F.broadcast(victims), "doc_id", "left_semi"
            )
        )
        if rec.n:
            _write_stats_delta(
                spark, store_path, "f", -rec.n, -rec.s, rec.fp
            )

    return ks.forget(
        spark, BM25, doc_ids, store_path, n_buckets, before_ledger=stats_delta
    )


def upsert_docs_in_index(
    spark: SparkSession,
    docs: DataFrame,
    store_path: str,
    n_buckets: int = N_BUCKETS,
    df_cap: int | None = None,
) -> dict:
    """REINDEX arriving documents — the recrawl/CDC shape the
    first-writer-wins ingest contract deliberately excludes: a doc_id
    already in the ledger is DROPPED by :func:`index_ingest_batch`
    (correct for replay/duplicate delivery, wrong for a re-crawled
    page whose text changed).  This op updates instead
    (``keyedstore.upsert``): the arriving doc_ids leave via
    :func:`forget_docs_in_index`, then the batch folds as fresh —
    positionally when the sidecar stamps the index ``positional`` (a
    store stamped before the flag: when its positions store holds
    files) — and the index scores EXACTLY like one built from the
    updated corpus (the ``bm25_reindex_upsert`` oracle).  Cost ∝ the arriving docs'
    terms' buckets (the forget bound) + the normal fold.  With
    ``df_cap`` set, the fold re-enters the cap gate at the POST-forget
    df — a term the old version had capped out may admit the recrawl —
    so a capped index under upserts is deterministic given the
    operation history, no longer a pure function of the final corpus.
    RAISES when an arriving doc_id has a PENDING tombstone (run
    :func:`apply_tombstones` first).  Returns the forget counts plus
    the fold counts."""
    meta = _read_index_meta(spark, store_path) or {}
    positional = meta.get("positional") or ks.takes_part(
        spark, _POSITIONS, store_path, n_buckets
    )
    return ks.upsert(
        spark, BM25, docs, store_path,
        lambda ids: forget_docs_in_index(spark, ids, store_path, n_buckets),
        lambda batch: index_ingest_batch(
            batch, store_path, n_buckets, positional=positional, df_cap=df_cap
        ),
    )


def tombstone_docs_in_index(
    spark: SparkSession, doc_ids: DataFrame, store_path: str
) -> dict:
    """LOGICAL delete: append ``doc_ids`` (one column, ``doc_id``) to
    the pending set (``keyedstore.tombstone``).  From the next query on
    the victims are invisible EVERYWHERE: no term-probe hit, no phrase
    hit, no df contribution, no N/avgdl contribution — BM25 is a
    corpus-statistics scorer, so hiding a doc from results while
    leaving it in the statistics would quietly mis-score every
    survivor until compaction; the pending set therefore excludes at
    both seams (:func:`query_index`'s probe AND :func:`corpus_stats`).

    Re-ingest of a pending id stays blocked (its seen row persists
    until apply) — delete-then-reinsert completes only after
    :func:`apply_tombstones`.  The append-time df cap counts a pending
    doc's rows until apply (the cap is first-writers-win over BYTES
    in the store, and those bytes are still there), so capped-index
    determinism survives deletes unchanged.  Returns
    {"tombstoned": n, "pending": m}."""
    return ks.tombstone(spark, BM25, doc_ids, store_path)


def apply_tombstones(
    spark: SparkSession, store_path: str, n_buckets: int = N_BUCKETS
) -> dict:
    """Make the pending logical deletes PHYSICAL through
    :func:`forget_docs_in_index` and clear the set last
    (``keyedstore.apply_tombstones``).  After apply the erased ids are
    re-indexable.  Returns the forget counts plus {"applied": n}."""
    return ks.apply_tombstones(
        spark, BM25, store_path,
        lambda ids: forget_docs_in_index(spark, ids, store_path, n_buckets),
    )
