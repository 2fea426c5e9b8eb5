"""Text analysis operators for training-data pipelines.

Beyond-reference surface (the reference's text tooling stops at
scalar string functions, SURVEY.md §2.9): language ID, quality
scoring, token counting, and document fingerprinting, each as pure
Column expressions (JVM-side, no Python UDFs) with DuckDB SQL twins
for the differential oracle.

Scale: every operator here is a narrow per-row projection — no
shuffle, no state; at 100 TB they pipeline inside the scan stage and
their cost is bounded by bytes read.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from presto_0_235_spark.operators.dedup import (
    bind_once,
    normalized_text,
    sql_bind_once,
    sql_normalized_text,
)

# Tiny per-language stopword seeds for the n-gram/stopword language-ID
# heuristic. (A production list is larger; the operator shape — token
# membership scoring — is what matters, and what the oracle recomputes.)
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "is", "in"),
    "de": ("der", "die", "das", "und", "ist", "ein"),
    "fr": ("le", "la", "les", "et", "est", "un"),
    "es": ("el", "la", "los", "y", "es", "un"),
}
LANG_ORDER = ("en", "de", "fr", "es")  # deterministic tie-break order

# "BPE-ish" pre-tokenizer: letter runs | digit runs | single non-space
# symbol. Same RE2-compatible pattern on both engines.
BPE_PATTERN = "[a-z]+|[0-9]+|[^a-z0-9 ]"

FP_MOD = 2147483647  # 2^31-1, rolling-hash modulus
FP_BASE = 31
FP_SEED = 7
FP_PREFIX = 256  # fingerprint the first N chars (cost bound per row)


def ws_tokens(col: Column | str) -> Column:
    """Whitespace tokens of the normalized text."""
    return F.split(normalized_text(col), " ")


def sql_ws_tokens(expr: str) -> str:
    return f"string_split({sql_normalized_text(expr)}, ' ')"


def stopword_score(tokens: Column, lang: str) -> Column:
    """How many tokens are in ``lang``'s stopword list (with repeats)."""
    stops = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.size(F.filter(tokens, lambda t: F.array_contains(stops, t)))


def sql_stopword_score(tokens: str, lang: str) -> str:
    lst = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return f"len(list_filter({tokens}, t -> list_contains([{lst}], t)))"


def lang_id(tokens: Column) -> Column:
    """argmax over per-language stopword scores; ties resolve in
    LANG_ORDER; all-zero scores -> 'und' (undetermined)."""
    scores = {lang: stopword_score(tokens, lang) for lang in LANG_ORDER}
    best = F.greatest(*scores.values())
    guess = F.lit("und")
    # Build the CASE chain in reverse so earlier langs win ties.
    for lang in reversed(LANG_ORDER):
        guess = F.when(scores[lang] == best, F.lit(lang)).otherwise(guess)
    return F.when(best > 0, guess).otherwise(F.lit("und"))


def sql_lang_id(tokens: str) -> str:
    scores = {lang: sql_stopword_score(tokens, lang) for lang in LANG_ORDER}
    best = "greatest(" + ", ".join(scores.values()) + ")"
    whens = " ".join(
        f"WHEN {scores[lang]} = {best} THEN '{lang}'" for lang in LANG_ORDER
    )
    return f"(CASE WHEN {best} = 0 THEN 'und' {whens} ELSE 'und' END)"


def rolling_fingerprint(col: Column | str, prefix: int = FP_PREFIX) -> Column:
    """Polynomial rolling hash over the first ``prefix`` chars:
    fold(acc*31 + codepoint) mod 2^31-1 — integer-exact on any engine.
    The prefix is cut once per row (`bind_once`), not per character."""
    c = F.col(col) if isinstance(col, str) else col

    def fold(head: Column) -> Column:
        codes = F.transform(
            F.sequence(F.lit(1), F.length(head)),
            lambda i: F.ascii(head.substr(i, F.lit(1))),
        )
        return F.aggregate(
            codes,
            F.lit(FP_SEED).cast("long"),
            lambda acc, x: (acc * FP_BASE + x) % FP_MOD,
        )

    return bind_once(F.substring(c, 1, prefix), fold)


def sql_rolling_fingerprint(expr: str, prefix: int = FP_PREFIX) -> str:
    codes = (
        "list_transform(generate_series(1, length(h)), "
        "i -> ascii(substr(h, i, 1)))"
    )
    return sql_bind_once(
        f"substr({expr}, 1, {prefix})",
        "h",
        f"list_reduce(list_prepend({FP_SEED}::BIGINT, {codes}), "
        f"(acc, x) -> (acc * {FP_BASE} + x) % {FP_MOD})",
    )
