"""Column-level text analysis functions (training-data-pipeline surface).

Everything here is built from JVM-side ``pyspark.sql.functions`` — no
Python UDFs — so the expressions stay inside whole-stage codegen and
scale linearly with input splits.  Each builder returns a Column usable
in any select/filter/groupBy.

Design notes for 100 TB corpora:
- token ops use a single ``split`` per row; Catalyst collapses repeated
  identical ``split`` calls via common-subexpression elimination,
  but we still pass the tokens column explicitly where several features
  are derived at once.
- fingerprints are md5-based (stable across engines and releases);
  for sharded dedup the first 8 hex chars give a uniform 32-bit
  partition key.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: the token delimiter regex for the synthetic corpus (and a sane default
#: for whitespace-separated text generally)
TOKEN_SEP = " +"

# A tiny function-word list for quality scoring; 'the'/'a' are the only
# function words in the synthetic vocabulary.
STOPWORDS = ("the", "a", "of", "and", "in", "to", "is")


def tokens(text: Column) -> Column:
    """Split into non-empty tokens (trailing separators drop cleanly)."""
    return F.split(F.trim(text), TOKEN_SEP)


def let1(expr: Column, body) -> Column:
    """Bind ``expr`` ONCE per row and evaluate ``body`` over it — the
    single-element-array transform idiom.

    Catalyst evaluates higher-order-function lambdas interpreted, with
    no subexpression elimination: an expression referenced inside a
    per-element lambda re-evaluates per element, so building an
    L-element array of shingles/bigrams/lines over ``split(text)``
    re-runs the split L times — O(L²) per document (measured 6× wall
    on the sf0.1 shingle scan, r11).  Wrapping the expression as the
    lambda VARIABLE of an outer one-element ``transform`` evaluates it
    exactly once per row; the body sees a materialized value.  Works
    for any expression type an array can hold."""
    return F.element_at(F.transform(F.array(expr), body), 1)


def n_tokens(text: Column) -> Column:
    return F.size(tokens(text))


def n_distinct_tokens(text: Column) -> Column:
    return F.size(F.array_distinct(tokens(text)))


def avg_token_len(text: Column) -> Column:
    """Mean token length = non-space chars / token count (double)."""
    compact = F.length(F.regexp_replace(F.trim(text), " ", ""))
    return compact.cast("double") / n_tokens(text).cast("double")


def stopword_count(text: Column, stopwords: tuple[str, ...] = STOPWORDS) -> Column:
    toks = tokens(text)
    return F.size(F.filter(toks, lambda t: t.isin(*stopwords)))


def stopword_ratio(text: Column, stopwords: tuple[str, ...] = STOPWORDS) -> Column:
    return stopword_count(text, stopwords).cast("double") / n_tokens(text).cast(
        "double"
    )


def type_token_ratio(text: Column) -> Column:
    """Lexical diversity: distinct tokens / tokens."""
    return n_distinct_tokens(text).cast("double") / n_tokens(text).cast("double")


#: BPE-ish pre-tokenization pattern (GPT-2 style, lookahead-free so both
#: Java regex and DuckDB's RE2 accept it verbatim): contraction
#: suffixes, space-prefixed letter runs, space-prefixed digit runs,
#: space-prefixed punctuation runs.  Counting these pieces is the
#: standard cheap proxy for LLM token budget — real BPE merges only
#: split WITHIN these pieces, so the piece count is a lower bound and
#: tracks the true token count closely on natural text.
BPE_ISH_PATTERN = "'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+"


def bpe_ish_pieces(text: Column) -> Column:
    """BPE-style pre-token pieces (array<string>), JVM-side regex."""
    return F.regexp_extract_all(text, F.lit(BPE_ISH_PATTERN), F.lit(0))


def n_bpe_tokens(text: Column) -> Column:
    """LLM token-budget estimate: count of BPE-ish pieces."""
    return F.size(bpe_ish_pieces(text))


def sql_n_bpe_tokens(text: str = "text") -> str:
    """DuckDB twin of :func:`n_bpe_tokens` (same RE2-safe pattern)."""
    pat = BPE_ISH_PATTERN.replace("'", "''")
    return f"CAST(len(regexp_extract_all({text}, '{pat}')) AS INT)"


def quality_score(text: Column) -> Column:
    """Composite quality heuristic in [0, ~1]: rewards lexical diversity,
    penalizes stopword stuffing and degenerate token lengths.  The exact
    weights are a policy choice; determinism is what matters here.

    Bound once per row (r16): the naive form re-evaluates
    ``split(trim(text))`` ~8× per row (ttr, stopword ratio, avg length,
    and the len_ok branch each inline their own tokenization — lambdas
    and repeated column references defeat subexpression elimination).
    :func:`let1` binds the token array, then the three scalar features,
    so the split and each feature run exactly once; the composite is
    the same expression tree over the same exact doubles."""

    def features(toks: Column) -> Column:
        nt = F.size(toks).cast("double")
        return F.array(
            F.size(F.array_distinct(toks)).cast("double") / nt,
            F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS))).cast(
                "double"
            )
            / nt,
            F.length(F.regexp_replace(F.trim(text), " ", "")).cast("double")
            / nt,
        )

    def compose(feat: Column) -> Column:
        ttr = F.element_at(feat, 1)
        sw = F.element_at(feat, 2)
        alen = F.element_at(feat, 3)
        len_ok = F.when((alen >= 3.0) & (alen <= 8.0), F.lit(1.0)).otherwise(
            F.lit(0.5)
        )
        return (
            ttr * F.lit(0.6) + (F.lit(1.0) - sw) * F.lit(0.3) + len_ok * F.lit(0.1)
        )

    return let1(let1(tokens(text), features), compose)


def shingles(text: Column, width: int = 5) -> Column:
    """Distinct w-word shingles (the near-dup signature unit: token sets
    are degenerate on small vocabularies; shingles discriminate).
    The token array is let-bound (:func:`let1`) so the tokenizing
    split runs once per row, not once per shingle."""
    return let1(
        tokens(text),
        lambda ts: F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(ts) - (width - 1)),
                lambda i: F.concat_ws(" ", F.slice(ts, i, width)),
            )
        ),
    )


def sql_shingles(width: int = 5, text: str = "text") -> str:
    """DuckDB twin of :func:`shingles` (1-based inclusive list slicing)."""
    t = f"string_split_regex(trim({text}), ' +')"
    return (
        f"list_distinct(list_transform(range(1, len({t}) - {width} + 2), "
        f"i -> array_to_string({t}[i:i+{width - 1}], ' ')))"
    )


def exact_fingerprint(text: Column) -> Column:
    """md5 of the raw text — exact-duplicate key."""
    return F.md5(text)


def tokenset_fingerprint(text: Column) -> Column:
    """md5 over the sorted distinct token set — an order-insensitive
    content fingerprint (catches shuffled/duplicated-word copies)."""
    return F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(tokens(text)))))


# ---------------------------------------------------------------------------
# Language identification (marker-token heuristic)
# ---------------------------------------------------------------------------

#: marker tokens per language — for real corpora these would be function
#: words; the synthetic vocabulary is shared, so markers double as a
#: deterministic demonstration of the operator shape.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "fast"),
    "fr": ("le", "la", "merge"),
    "es": ("el", "los", "scan"),
    "de": ("der", "das", "hash"),
    "zh": ("de0", "le0", "window"),
}


def lang_marker_count(text: Column, lang: str) -> Column:
    return F.size(F.filter(tokens(text), lambda t: t.isin(*LANG_MARKERS[lang])))


def lang_id(text: Column) -> Column:
    """Argmax over marker counts with a fixed priority tie-break
    (en > fr > es > de > zh) so the prediction is deterministic.

    The counts are bound ONCE per row (r16): the naive CASE inlines
    every count into every branch AND into each branch's greatest(),
    which plans 30 ``size(filter(split(...)))`` evaluations per row —
    higher-order lambdas are interpreted with no subexpression
    elimination, so each one re-splits the text
    (plans/r16/lang_id_predict_before.txt).  Binding the token array
    and then the 5-element count array via :func:`let1` evaluates the
    split once and each marker filter once; the CASE compares
    element_at/array_max over materialized ints.  greatest(c1..c5) ≡
    array_max([c1..c5]) for non-null ints (both null-propagate on a
    null text the same way), and the branch order is unchanged, so the
    prediction is bit-identical."""
    langs = list(LANG_MARKERS)

    def counts_of(toks: Column) -> Column:
        return F.array(
            *[
                F.size(F.filter(toks, lambda t: t.isin(*LANG_MARKERS[lang])))
                for lang in langs
            ]
        )

    def pick(counts: Column) -> Column:
        best = F.array_max(counts)
        expr = F.lit("unknown")
        # build the CASE from lowest to highest priority so the
        # highest priority match wins
        for i in reversed(range(len(langs))):
            expr = F.when(
                F.element_at(counts, i + 1) == best, F.lit(langs[i])
            ).otherwise(expr)
        return expr

    return let1(let1(tokens(text), counts_of), pick)
