"""Text-analysis column helpers (north-star ops, SURVEY.md §2.10).

Everything here is built-in-function composition (tokenize, n-gram
shingles, quality stats, language heuristic, fingerprints) so it runs
JVM-side at 100 TB; no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# tiny stopword lists for the language-ID heuristic; the signal is
# which list matches the most tokens.
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is"],
    "de": ["der", "die", "das", "und", "ist", "ein"],
    "fr": ["le", "la", "les", "et", "est", "un"],
    "es": ["el", "la", "los", "y", "es", "un"],
}

EN_STOPWORDS = STOPWORDS["en"]


def tokens(col: Column | str, pattern: str = " ") -> Column:
    """Whitespace tokenization -> array<string>."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(c, pattern)


def n_tokens(col: Column | str) -> Column:
    return F.size(tokens(col))


def word_shingles(col: Column | str, n: int = 5) -> Column:
    """n-gram word shingles -> array<string>; empty array for short docs.

    Pure array ops — stays in codegen. Built as a zip_with fold over n
    shifted slices of the token array, NOT a transform whose lambda
    slices the array: any non-trivial expression inside a higher-order
    -function lambda is re-evaluated PER ELEMENT, so the old
    ``transform(idx, i -> array_join(slice(split(text),...)))`` shape
    re-split the document once per shingle position — O(words²) per
    doc (measured 7x on the quality gate at sf0.1). Here ``split`` is
    referenced only outside lambda bodies (n+1 constant evaluations
    per row) and every lambda touches lambda variables only.
    Used by MinHash/Jaccard dedup (SURVEY §2.10 north-star).
    """
    c = F.col(col) if isinstance(col, str) else col
    ts = F.split(c, " ")
    m = F.size(ts) - n + 1  # number of shingles
    acc = F.slice(ts, 1, m)
    for i in range(1, n):
        acc = F.zip_with(
            acc,
            F.slice(ts, i + 1, m),
            lambda a, b: F.concat_ws(" ", a, b),
        )
    return F.when(F.size(ts) >= n, acc).otherwise(F.array().cast("array<string>"))


def token_type_ratio(col: Column | str, ts: Column | None = None) -> Column:
    """distinct tokens / total tokens — a repetition-quality signal.

    Pass a pre-projected token-array column as ``ts`` when composing
    several token statistics: each reference to an inline ``split``
    re-materializes the array (see :func:`word_shingles`)."""
    ts = tokens(col) if ts is None else ts
    return F.size(F.array_distinct(ts)) / F.size(ts)


def mean_token_len(col: Column | str) -> Column:
    ts = tokens(col)
    total = F.aggregate(ts, F.lit(0), lambda acc, t: acc + F.length(t))
    return total / F.size(ts)


def stopword_ratio(
    col: Column | str,
    stopwords: list[str] | None = None,
    ts: Column | None = None,
) -> Column:
    sw = F.array(*[F.lit(w) for w in (stopwords or EN_STOPWORDS)])
    ts = tokens(col) if ts is None else ts
    n_sw = F.size(F.filter(ts, lambda t: F.array_contains(sw, t)))
    return n_sw / F.size(ts)


def regex_token_count(col: Column | str, pattern: str = "[A-Za-z]+|[0-9]+") -> Column:
    """BPE-ish token counting: count regex word/number pieces."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(pattern), F.lit(0)))


def md5_fingerprint(col: Column | str, length: int = 16) -> Column:
    """Normalized-document fingerprint: md5 of lower(trim(text)).

    md5 is engine-portable (DuckDB computes the identical digest),
    which makes exact-dedup oracle-checkable; xxhash64 variants are
    Spark-only and used where speed matters more than portability.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.substring(F.md5(F.lower(F.trim(c))), 1, length)


def quality_score(col: Column | str, ts: Column | None = None) -> Column:
    """Composite [0,1] quality score: length, repetition, stopwords.

    A document scores high when it is long enough, non-repetitive,
    and has a natural-language stopword density — the standard cheap
    pre-training quality gate shape. Pass a pre-projected token array
    as ``ts`` when composing with other token statistics.
    """
    c = F.col(col) if isinstance(col, str) else col
    len_score = F.least(F.length(c) / F.lit(500.0), F.lit(1.0))
    rep_score = token_type_ratio(c, ts=ts)
    sw = stopword_ratio(c, ts=ts)
    sw_score = F.lit(1.0) - F.abs(sw - F.lit(0.4)) / F.lit(0.4)
    # unrounded: the components are ratios of small ints, which land
    # on .xxxx5 decimal boundaries where engines' round() modes
    # disagree; raw IEEE arithmetic is bit-identical instead.
    return (len_score + rep_score + F.greatest(sw_score, F.lit(0.0))) / 3.0


def lang_guess(col: Column | str, ts: Column | None = None) -> Column:
    """Stopword-vote language ID over the STOPWORDS lists; 'und'
    (undetermined) when nothing matches. First-max-wins on ties
    (dict order).

    Single struct-array max instead of a when-chain fold: the fold
    shape ``best = when(n_k > best, ...)`` re-embeds every earlier
    vote count into each later branch (each count — a filter over the
    token array — evaluated up to 2^k times), and each reference
    re-materialized the inline split. Here every vote count appears
    exactly once; ties resolve by the negated list index riding the
    struct comparison. Pass a pre-projected LOWERCASED token array as
    ``ts`` to share it with other statistics.
    """
    c = F.col(col) if isinstance(col, str) else col
    ts = F.split(F.lower(c), " ") if ts is None else ts
    votes = []
    for idx, (lang, words) in enumerate(STOPWORDS.items()):
        sw = F.array(*[F.lit(w) for w in words])
        n = F.size(F.filter(ts, lambda t: F.array_contains(sw, t)))
        votes.append(
            F.struct(
                n.alias("n"), F.lit(-idx).alias("ord"), F.lit(lang).alias("lang")
            )
        )
    best = F.array_max(F.array(*votes))
    return F.when(best["n"] > 0, best["lang"]).otherwise(F.lit("und"))
