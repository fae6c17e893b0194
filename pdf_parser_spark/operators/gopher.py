"""Gopher-style composite document-quality gate (JVM-side, codegen-friendly).

Implements the repetition-free subset of the Gopher quality signals
(Rae et al. 2021, "Scaling Language Models: Methods, Analysis & Insights
from Training Gopher", appendix A1.1) as one declarative Spark expression
tree per document — word-count bounds, mean-word-length bounds,
symbol-to-word ratio (``#`` and ``...``), bullet-line / ellipsis-line
ratios, alphabetic-word fraction, and the canonical 8-word stop-word
presence check.  The repetition signals (duplicate lines / n-grams) live in
:mod:`pdf_parser_spark.operators.cleaning` (``repetition_flags``,
``line_dedup``); this module is the per-document structural gate that a
curation pipeline runs right after extraction.

Everything compiles to built-in Spark SQL expressions (split / filter /
aggregate higher-order functions — no Python in the hot path, whole-stage
codegen applies) and has an exact DuckDB-SQL oracle.  At 100 TB the gate is
a narrow projection: it reads one string column, emits fixed-width stats +
booleans, never shuffles, and pushes nothing to Python workers.

Reference parity note: the reference app (iWhyDuck/pdf-parser) has no
quality gate — its only text filters are the size band and empty-text guard
(``src/pdf_parser/validators/validators.py:37-39``); this operator is part
of the beyond-reference training-data-pipeline surface (SURVEY.md §2,
"LLM-data-pipeline operators").
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .textstats import lines, symbol_count, tokens

__all__ = ["GOPHER_STOPWORDS", "stopword_hits", "gopher_quality_gate"]

# the canonical Gopher stop-word list (Rae et al. 2021, A1.1: "contains at
# least two of the following English words: the, be, to, of, and, that,
# have, with")
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def stopword_hits(arr: Column) -> Column:
    """The tokens of arr that are Gopher stop words, case-insensitively.
    Pass a projected column: arr is filtered by a lambda."""
    return F.filter(arr, lambda x: F.lower(x).isin(GOPHER_STOPWORDS))


def gopher_quality_gate(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "url",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_ratio: float = 0.9,
    max_ellipsis_ratio: float = 0.3,
    min_alpha_word_ratio: float = 0.8,
    min_stop_hits: int = 2,
) -> DataFrame:
    """Per-document Gopher quality stats + rule booleans + a final ``keep``.

    Thresholds default to the published Gopher values.  Ratios are rounded
    to 4 places (engine-stable, same convention as
    ``textstats.quality_score``); the rule booleans are evaluated on the
    UNROUNDED values so the gate itself is exact.
    """
    t = F.col(text_col)
    arrays = df.select(
        id_col,
        tokens(t).alias("_toks"),
        lines(t).alias("_lines"),
        symbol_count(t).alias("_n_sym"),
    )
    toks, lns = F.col("_toks"), F.col("_lines")
    n_words = F.size(toks)
    nz = F.greatest(n_words, F.lit(1)).cast("double")
    sum_len = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
    )
    mean_word_len = sum_len.cast("double") / nz
    n_alpha = F.size(F.filter(toks, lambda x: x.rlike("[A-Za-z]")))
    frac_alpha = n_alpha.cast("double") / nz
    n_stop = F.size(stopword_hits(toks))
    symbol_ratio = F.col("_n_sym").cast("double") / nz

    n_lines = F.size(lns)
    nlz = F.greatest(n_lines, F.lit(1)).cast("double")
    n_bullet = F.size(
        F.filter(lns, lambda l: F.ltrim(l).rlike(r"^[-*•]"))
    )
    n_ellipsis = F.size(
        F.filter(lns, lambda l: F.rtrim(l).rlike(r"(\.\.\.|…)$"))
    )
    frac_bullet = n_bullet.cast("double") / nlz
    frac_ellipsis = n_ellipsis.cast("double") / nlz

    rules = {
        "rule_word_count": (n_words >= min_words) & (n_words <= max_words),
        "rule_mean_word_len": (mean_word_len >= min_mean_word_len)
        & (mean_word_len <= max_mean_word_len),
        "rule_symbol_ratio": symbol_ratio <= max_symbol_ratio,
        "rule_bullet_lines": frac_bullet <= max_bullet_ratio,
        "rule_ellipsis_lines": frac_ellipsis <= max_ellipsis_ratio,
        "rule_alpha_words": frac_alpha >= min_alpha_word_ratio,
        "rule_stopwords": n_stop >= min_stop_hits,
    }
    keep = F.lit(True)
    for c in rules.values():
        keep = keep & c
    return arrays.select(
        id_col,
        n_words.alias("n_words"),
        F.round(mean_word_len, 4).alias("mean_word_len"),
        F.round(frac_alpha, 4).alias("frac_alpha_words"),
        n_stop.alias("n_stop_hits"),
        F.round(symbol_ratio, 4).alias("symbol_ratio"),
        n_lines.alias("n_lines"),
        F.round(frac_bullet, 4).alias("frac_bullet_lines"),
        F.round(frac_ellipsis, 4).alias("frac_ellipsis_lines"),
        *[c.alias(name) for name, c in rules.items()],
        keep.alias("keep"),
    )
