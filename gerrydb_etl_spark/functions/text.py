"""Text-analysis expressions for the LLM-data pipeline surface.

All of these are pure Catalyst expressions (whole-stage codegen, no
Python in the hot path) so they run at scan speed over 100 TB of
documents. Shingling and fingerprinting use higher-order array
functions (transform/filter/aggregate) — still JVM-side.

The reference has no text pipeline; this is the north-star extension
demanded by the brief (SURVEY.md §2.12), designed so every operator
has an exact DuckDB-SQL equivalent for the correctness oracle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny public stopword lists (top function words per language). Used
# by the language-ID heuristic and quality scoring. Deliberately
# small: they ride along as array literals inside the expression, so
# the lookup is a broadcast-free in-expression scan.
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "it", "that", "for"),
    "fr": ("le", "la", "de", "et", "un", "une", "est", "que", "pour", "dans"),
    "es": ("el", "la", "de", "y", "un", "una", "es", "que", "por", "para"),
    "de": ("der", "die", "das", "und", "ein", "eine", "ist", "zu", "für", "mit"),
    "zh": ("的", "了", "是", "在", "我", "有", "和", "就", "不", "人"),
}

# Modulus for the rolling document fingerprint: keeps the fold value
# < 1e9 so acc*131 + code never overflows int64 in either engine
# (DuckDB raises on overflow; Spark silently wraps — stay below both).
FP_MOD = 1_000_000_007
FP_BASE = 131


def tokenize(col: Column | str) -> Column:
    """Whitespace tokenizer (single-space contract, matching the
    corpus); returns array<string>."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(c, " ")


def shingles(tokens: Column, n: int = 3) -> Column:
    """Word n-gram shingles of a token array.

    `sequence(1, size-n+1)` is guarded: Spark's sequence() counts
    *down* when stop < start, so short docs must short-circuit to an
    empty array instead.
    """
    make = F.transform(
        F.sequence(F.lit(1), F.size(tokens) - (n - 1)),
        lambda i: F.concat_ws(" ", F.slice(tokens, i, n)),
    )
    return F.when(F.size(tokens) >= n, make).otherwise(
        F.array().cast("array<string>")
    )


def shingle_array(text: Column, n: int = 3) -> Column:
    """Word n-gram shingles straight off the raw string: one
    codegen'd regex pass with a token-anchored lookahead
    (``(?<!\\S)`` pins each match to a token start; the zero-width
    lookahead makes matches overlap), equivalent to
    ``shingles(tokenize(text), n)`` on the single-space corpus
    contract but ~2x cheaper per evaluation — higher-order lambdas
    (transform/slice) fall back to interpreted evaluation, and the
    per-shingle slice+concat allocates; this allocates only the
    matched substrings. The saving triples: Catalyst evaluates a
    shingle expression up to three times per row around an explode
    (the pushed ``size(arr) > 0`` scan filter, the generator, and
    any ``size(arr)`` projection)."""
    pat = r"(?<!\S)(?=(\S+" + r"(?: \S+)" * (n - 1) + r"))"
    return F.regexp_extract_all(text, F.lit(pat), 1)


def stopword_hits(tokens: Column, lang: str) -> Column:
    """Count of tokens that are stopwords of ``lang`` (multiset count,
    not distinct — repeated stopwords count every time)."""
    words = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.size(F.filter(tokens, lambda t: F.array_contains(words, t)))


def stopword_ratio(tokens: Column, lang: str) -> Column:
    return stopword_hits(tokens, lang) / F.size(tokens)


def lang_id(tokens: Column) -> Column:
    """N-gram-heuristic language ID: argmax of per-language stopword
    hit counts, alphabetical tie-break, 'und' (undetermined) when no
    language scores a hit."""
    scored = None
    for lang in sorted(STOPWORDS):
        hits = stopword_hits(tokens, lang)
        # struct sorts lexicographically: (-hits, lang) → max hits,
        # then alphabetical lang wins ties deterministically.
        entry = F.struct((-hits).alias("neg"), F.lit(lang).alias("lang"), hits.alias("hits"))
        scored = entry if scored is None else F.least(scored, entry)
    return F.when(scored["hits"] > 0, scored["lang"]).otherwise(F.lit("und"))


def avg_token_len(tokens: Column) -> Column:
    """Mean token length — integer sums divided once, so the double
    result is engine-independent."""
    total = F.aggregate(tokens, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t))
    return total / F.size(tokens)


def type_token_ratio(tokens: Column) -> Column:
    """Lexical diversity: distinct tokens / tokens."""
    return F.size(F.array_distinct(tokens)) / F.size(tokens)


def quality_score(tokens: Column, lang: str = "en") -> Column:
    """Composite quality heuristic in [0, ~1]: rewards mid-length
    docs, lexical diversity, and a plausible stopword rate. All
    integer-ratio arithmetic → exact cross-engine."""
    n = F.size(tokens)
    length_ok = F.when((n >= 20) & (n <= 1000), F.lit(1.0)).otherwise(F.lit(0.5))
    diversity = type_token_ratio(tokens)
    stop = stopword_ratio(tokens, lang)
    return length_ok * (diversity + stop) / 2


def rolling_fingerprint(tokens: Column) -> Column:
    """Order-sensitive rolling-hash document fingerprint.

    Left fold of (len(token)*256 + ascii(first char)) codes with
    base-131 polynomial accumulation mod FP_MOD. Sequential fold =
    deterministic and identical in Spark (`aggregate`) and DuckDB
    (`list_reduce`), unlike engine-specific hash functions.
    """
    return F.aggregate(
        tokens,
        F.lit(0).cast("long"),
        lambda acc, t: (acc * FP_BASE + (F.length(t).cast("long") * 256 + F.ascii(t)))
        % FP_MOD,
    )
