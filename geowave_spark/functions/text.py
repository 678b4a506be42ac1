"""Text-analysis column expressions (JVM-side, no Python in the hot path).

The reference has no text pipeline (its only text surface is the secondary
text index, `core/store/.../index/text/TextIndexStrategy.java`), but a
100 TB training-data engine needs language ID, quality scoring, token
counting and fingerprinting as first-class operators.  Everything here is a
pure Catalyst ``Column`` builder — whole-stage-codegen friendly, no UDFs —
and every function has a DuckDB-SQL twin (same algorithm, independent
implementation) used by the correctness oracle.

Cross-engine deterministic hash: ``H(s) = bigint(first 15 hex chars of
md5(s))`` — Spark ``conv(substr(md5(s),1,15),16,10)``, DuckDB
``('0x'||substr(md5(s),1,15))::BIGINT``.  15 hex chars < 2^60 fits a signed
64-bit integer in both engines.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# modulus for minhash/fingerprint arithmetic: Mersenne prime 2^31-1.
# Multipliers stay < 2^20 so a*h + b < 2^51 — no 64-bit overflow in either
# engine (DuckDB BIGINT and Spark LongType are both signed 64-bit).
MOD = 2_147_483_647

STOPWORDS = ("a", "the", "of", "to", "and", "in", "is", "it", "on", "for")


def md5_long(col: Column) -> Column:
    """Deterministic 60-bit integer hash shared with the DuckDB oracle."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def md5_long_sql(expr: str) -> str:
    """DuckDB twin of :func:`md5_long`."""
    return f"CAST(('0x' || substr(md5({expr}), 1, 15)) AS BIGINT)"


def tokens(col: Column) -> Column:
    """Whitespace tokenization (documents are single-space separated)."""
    return F.split(col, " ")


def word_ngrams(toks: Column, n: int) -> Column:
    """Word n-gram shingles: ``size-n+1`` space-joined windows (empty array
    when the doc has < n tokens)."""
    return F.when(F.size(toks) >= n, F.transform(
        F.sequence(F.lit(0), F.size(toks) - n),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
    )).otherwise(F.array().cast("array<string>"))


def word_ngrams_sql(toks_expr: str, n: int) -> str:
    """DuckDB twin of :func:`word_ngrams` (1-based inclusive list slices)."""
    return (
        f"CASE WHEN len({toks_expr}) >= {n} THEN "
        f"list_transform(range(0, len({toks_expr}) - {n} + 1), "
        f"i -> array_to_string(({toks_expr})[i + 1 : i + {n}], ' ')) "
        f"ELSE [] END"
    )


def doc_fingerprint(toks: Column) -> Column:
    """Order-sensitive polynomial rolling hash of the token stream:
    ``h = (h * 31 + H(tok) % MOD) % MOD`` left-to-right — integer-exact and
    identical in any engine that folds sequentially (DuckDB ``list_reduce``).

    The per-token hash uses :func:`md5_long` so two docs with the same token
    multiset but different order get different fingerprints (vs the
    commutative hashes the dedup family uses).
    """
    hashed = F.transform(toks, lambda t: md5_long(t) % MOD)
    return F.aggregate(
        hashed,
        F.lit(0).cast("long"),
        lambda acc, h: (acc * 31 + h) % MOD,
    )


def doc_fingerprint_sql(toks_expr: str) -> str:
    h = md5_long_sql("t")
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform({toks_expr}, t -> {h} % {MOD})), "
        f"(acc, h) -> (acc * 31 + h) % {MOD})"
    )


# --- language ID: marker-word profiles -------------------------------------
# deterministic n-gram/stopword heuristic; profiles are fixed constants so
# the oracle can re-score identically.  (The driver corpus is en-only; the
# profiles still exercise the scoring machinery.)
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "value", "table", "fast", "row"),
    "de": ("der", "die", "das", "und", "nicht", "ist"),
    "fr": ("le", "la", "les", "et", "est", "une"),
}


def lang_scores(toks: Column) -> dict[str, Column]:
    out = {}
    for lang, markers in LANG_MARKERS.items():
        arr = F.array(*[F.lit(m) for m in markers])
        out[lang] = F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))
    return out


def lang_id(toks: Column) -> Column:
    """argmax over marker-hit counts; ties broken by language code order —
    the oracle uses the same greatest/case chain."""
    scores = lang_scores(toks)
    langs = sorted(LANG_MARKERS)  # deterministic tie-break: alphabetical
    best = scores[langs[0]]
    best_lang = F.lit(langs[0])
    for lang in langs[1:]:
        is_better = scores[lang] > best
        best_lang = F.when(is_better, F.lit(lang)).otherwise(best_lang)
        best = F.when(is_better, scores[lang]).otherwise(best)
    return best_lang
