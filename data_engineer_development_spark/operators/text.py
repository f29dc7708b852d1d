"""Text-analysis operators for LLM training-data pipelines (north-star
extension, SURVEY.md §0/§7.2 item 5 — not reference-derived).

All operators are pure JVM-side column expressions (split / filter /
aggregate higher-order functions) — no Python UDFs anywhere, so at 100 TB
they run inside whole-stage codegen at scan speed. Each has an exact DuckDB
dual used by the oracle queries (queries/text_analysis.py).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from data_engineer_development_spark.functions.portable_hash import (
    P,
    spark_md5_int,
)

#: tiny per-language stopword lists for the n-gram/stopword language-ID
#: heuristic. Order is the deterministic tie-break priority.
STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "on", "for", "with"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "por", "con", "los"],
    "de": ["der", "die", "und", "das", "ist", "von", "mit", "den", "im", "ein"],
    "fr": ["le", "la", "de", "et", "les", "des", "un", "une", "dans", "est"],
    "zh": ["的", "是", "在", "了", "和", "有", "我", "不", "这", "个"],
}


def tokens(col: str = "text") -> Column:
    """Whitespace tokenization (single-space corpus ⇒ split on ' ' matches
    DuckDB string_split exactly)."""
    return F.split(F.col(col), " ")


def shingles_expr(tokens_col: str, k: int = 3) -> Column:
    """Distinct k-token shingles. Documents with <k tokens yield an empty
    set — matching DuckDB, where generate_series(1, 0) is empty (Spark's
    sequence(1, 0) would instead descend [1, 0], so short docs are gated
    explicitly)."""
    parts = ", ".join(f"element_at({tokens_col}, i + {j})" for j in range(k))
    return F.expr(
        f"if(size({tokens_col}) < {k}, array(), "
        f"array_distinct(transform(sequence(1, size({tokens_col}) - {k - 1}), "
        f"i -> concat_ws(' ', {parts}))))"
    )


def stopword_count(tokens_col: str, lang: str) -> Column:
    """Tokens (with repetition) that are stopwords of ``lang``."""
    lst = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return F.expr(
        f"size(filter({tokens_col}, x -> array_contains(array({lst}), x)))"
    )


def lang_id(tokens_col: str) -> Column:
    """Stopword-vote language ID: argmax of per-language stopword counts,
    ties broken by STOPWORDS order, zero evidence ⇒ 'und' (undetermined)."""
    scores = {lang: stopword_count(tokens_col, lang) for lang in STOPWORDS}
    mx = F.greatest(*scores.values())
    out = F.when(mx == 0, F.lit("und"))
    for lang in STOPWORDS:
        out = out.when(scores[lang] == mx, F.lit(lang))
    return out


def char_sum(tokens_col: str) -> Column:
    """Total token characters (portable fold; deterministic)."""
    return F.expr(f"aggregate({tokens_col}, 0L, (acc, x) -> acc + length(x))")


def quality_score(tokens_col: str) -> Column:
    """Heuristic quality score in [0,1]:
    0.4 * min(n_tokens/100, 1)  — length credit
    0.4 * distinct_ratio        — repetition penalty
    0.2 * min(5*stopword_ratio, 1) — naturalness credit
    Every ratio is an int/int double division and the weighted sum is
    evaluated in a fixed order, so both engines produce identical doubles."""
    n = F.size(F.col(tokens_col)).cast("double")
    nd = F.size(F.array_distinct(F.col(tokens_col))).cast("double")
    sw = stopword_count(tokens_col, "en").cast("double")
    length_credit = F.least(n / F.lit(100.0), F.lit(1.0))
    distinct_ratio = nd / n
    natural = F.least(F.lit(5.0) * (sw / n), F.lit(1.0))
    return (
        F.lit(0.4) * length_credit + F.lit(0.4) * distinct_ratio
    ) + F.lit(0.2) * natural


def fingerprint(tokens_col: str) -> Column:
    """Order-sensitive rolling document fingerprint:
    fold(tokens, 0, (acc, t) -> (acc*31 + md5int(t) mod P) mod P).
    Identical in DuckDB via list_reduce over a 0-prepended hash list."""
    h = spark_md5_int("x")
    return F.expr(
        f"aggregate({tokens_col}, 0L, (acc, x) -> (acc * 31 + ({h} % {P})) % {P})"
    )
