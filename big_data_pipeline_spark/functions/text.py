"""Text-analysis column builders: tokenize, shingle, quality, lang-id.

Extension surface for the LLM-data-pipeline north star (SURVEY.md §0):
language ID (stopword-hit heuristic), quality scoring (length/stopword
ratios), token counting, and document fingerprinting. Everything here is
built from ``pyspark.sql.functions`` — no Python UDFs — so it runs inside
whole-stage codegen and vectorized scans at any scale.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tokenization: trim + split on runs of whitespace. Mirrors the DuckDB
# oracle's regexp_split_to_array(trim(x), '\s+') exactly.
_WS = r"\s+"


def tokenize(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.trim(c), _WS)


def shingles(tokens: Column, k: int = 3) -> Column:
    """k-word shingles of a token array (standard MinHash input unit).

    Array-valued form (transform+slice higher-order functions). NOTE:
    HOF lambdas are interpreted per element — measured ~15x slower than
    the exploded form at sf0.1. Hot paths should use
    ``exploded_shingles`` and only fall back to this when an array
    column is genuinely required.
    """
    # slice() is 1-based; sequence(1, n-k+1) enumerates start positions.
    # Clamp the upper bound to 1 (not 0): sequence(1, 0) is the
    # DESCENDING sequence [1, 0] and slice(tokens, 0, k) raises at
    # runtime, so docs shorter than k tokens would crash the whole
    # stage. The ≥1 clamp yields one (partial) shingle instead,
    # matching exploded_shingles' behavior on short docs.
    return F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(tokens) - (k - 1), F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(tokens, i, k)),
    )


def exploded_shingles(
    df,
    id_col: str,
    text_col: str,
    k: int = 3,
    distinct: bool = True,
    extra_cols: tuple[str, ...] = (),
):
    """(id, *extra, shingle) rows, one narrow map-side explode.

    At 100 TB the explode fan-out (~tokens/doc) happens map-side with
    no shuffle until the consumer aggregates. ``extra_cols`` ride along
    through the explode so consumers never need a join back to the
    source table to recover per-document attributes.

    ``distinct=True`` dedups PER DOCUMENT and is ROW-LOCAL: the shingle
    array is built with ``transform`` and deduped with
    ``array_distinct`` before the explode, so no shuffle happens at
    all. (The old formulation exploded first and ran a global
    ``.distinct()`` — a full corpus-sized exchange of the exploded
    frame, and consumers that reference the result twice, like DSIR's
    stats + join-back, paid it twice. The r9 sf10 stress measured
    dsir_importance_score at 13.5x on 10x data from exactly that.)
    Output rows are identical as a set as long as ``df`` has one row
    per ``id_col`` — true for every caller (documents-shaped inputs).

    ``distinct=False`` keeps the explode + try_element_at form, which
    stays inside whole-stage codegen (transform lambdas are
    interpreted, a fine trade only when it buys the shuffle back).
    """
    keep = [id_col, *extra_cols]
    toks = df.select(*[F.col(c) for c in keep], tokenize(text_col).alias("__toks"))
    if distinct:
        # clamp to ≥1 so short docs yield one (partial) shingle;
        # try_element_at nulls out-of-range under ANSI, concat_ws
        # skips nulls — same edge semantics as the explode form below
        def _shingle_at(pos):
            return F.concat_ws(
                " ",
                *[F.try_element_at("__toks", pos + i) for i in range(k)],
            )

        arr = F.array_distinct(
            F.transform(
                F.sequence(
                    F.lit(1),
                    F.greatest(F.size("__toks") - (k - 1), F.lit(1)),
                ),
                _shingle_at,
            )
        )
        return toks.select(*keep, F.explode(arr).alias("shingle"))
    pos = F.explode(
        F.sequence(F.lit(1), F.greatest(F.size("__toks") - (k - 1), F.lit(1)))
    ).alias("__pos")
    words = [
        F.try_element_at("__toks", F.col("__pos") + i) for i in range(k)
    ]
    return toks.select(*keep, pos, "__toks").select(
        *keep, F.concat_ws(" ", *words).alias("shingle")
    )


# Stopword lists for the language-ID heuristic. Tiny on purpose: the
# point is the operator shape (per-language hit counting + argmax), not
# linguistic accuracy. Order fixes argmax tie-breaking.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein"),
    "en": ("the", "a", "of", "and", "to", "in", "is"),
    "es": ("el", "la", "de", "que", "y", "en", "los"),
    "fr": ("le", "les", "des", "et", "est", "une", "dans"),
    "zh": ("的", "是", "不", "了", "在", "人", "有"),
}


def stopword_hits(tokens: Column, words: tuple[str, ...]) -> Column:
    arr = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(tokens, lambda t: F.array_contains(arr, t)))


def lang_scores(tokens: Column) -> dict[str, Column]:
    return {lang: stopword_hits(tokens, ws) for lang, ws in LANG_STOPWORDS.items()}


def quality_score(n_chars: Column, n_tokens: Column, stop_ratio: Column) -> Column:
    """Heuristic document quality in [0, 1]: rewards mid-length docs and
    a natural-language-like stopword ratio. Same closed form as the SQL
    oracle in workloads/text.py."""
    len_score = F.least(n_chars / F.lit(400.0), F.lit(1.0))
    tok_score = F.least(n_tokens / F.lit(60.0), F.lit(1.0))
    stop_score = F.lit(1.0) - F.abs(stop_ratio - F.lit(0.4))
    return F.round((len_score + tok_score + stop_score) / F.lit(3.0), 6)


def md5_fingerprint(col: str | Column) -> Column:
    """Exact-dedup content fingerprint (hex md5, engine-portable)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.md5(c)
