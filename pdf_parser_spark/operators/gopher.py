"""Gopher-style composite document-quality gate (JVM-side).

Implements the repetition-free subset of the Gopher quality rules (Rae et
al. 2021, "Scaling Language Models: Methods, Analysis & Insights from
Training Gopher", appendix A1.1) as one declarative Spark expression tree
per document: word-count bounds, mean-word-length bounds, symbol-to-word
ratio (``#`` and ``...``), bullet-line / ellipsis-line ratios,
alphabetic-word fraction, and the stop-word rule (at least two DISTINCT
words of the 8-word list). This module is the one definition of each of
these rules, at the paper's thresholds (module constants, not parameters).
The repetition signals (duplicate lines, modal-word frequency) live in
:mod:`pdf_parser_spark.operators.cleaning` (``repetition_flags``,
``line_dedup``); this module is the per-document structural gate that a
curation pipeline runs right after extraction.

Everything compiles to built-in Spark SQL expressions (split / filter /
aggregate higher-order functions, which run outside whole-stage codegen;
no Python in the hot path) and has an exact DuckDB-SQL oracle. At 100 TB
the gate is a narrow projection: one string column in, fixed-width stats
and booleans out, no shuffle, nothing pushed to Python workers.

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

__all__ = ["GOPHER_STOPWORDS", "stopword_kinds", "gopher_quality_gate"]

# the canonical Gopher stop-word list (Rae et al. 2021, A1.1: "contains at
# least two of the following English words: the, be, to, of, and, that,
# have, with")
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]

# the published thresholds (A1.1): a document is kept only if it passes all
MIN_WORDS, MAX_WORDS = 50, 100_000
MIN_MEAN_WORD_LEN, MAX_MEAN_WORD_LEN = 3.0, 10.0
MAX_SYMBOL_RATIO = 0.1
MAX_BULLET_RATIO = 0.9
MAX_ELLIPSIS_RATIO = 0.3
MIN_ALPHA_WORD_RATIO = 0.8
MIN_STOP_KINDS = 2


def stopword_kinds(arr: Column) -> Column:
    """How many DISTINCT Gopher stop words the tokens of arr hold,
    case-insensitively ("THE the with" holds 2, "the the" holds 1). Pass
    the gate's projected token column, not a split expression."""
    lowered = F.transform(arr, lambda x: F.lower(x))
    return F.size(F.array_distinct(
        F.filter(lowered, lambda x: x.isin(GOPHER_STOPWORDS))))


def gopher_quality_gate(
    df: DataFrame, text_col: str = "text", id_col: str = "url"
) -> DataFrame:
    """Per-document Gopher quality stats + rule booleans + a final ``keep``,
    at the published thresholds above.

    Ratios are rounded to 4 places (engine-stable, same convention as
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
    n_kinds = stopword_kinds(toks)
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
        "rule_word_count": (n_words >= MIN_WORDS) & (n_words <= MAX_WORDS),
        "rule_mean_word_len": (mean_word_len >= MIN_MEAN_WORD_LEN)
        & (mean_word_len <= MAX_MEAN_WORD_LEN),
        "rule_symbol_ratio": symbol_ratio <= MAX_SYMBOL_RATIO,
        "rule_bullet_lines": frac_bullet <= MAX_BULLET_RATIO,
        "rule_ellipsis_lines": frac_ellipsis <= MAX_ELLIPSIS_RATIO,
        "rule_alpha_words": frac_alpha >= MIN_ALPHA_WORD_RATIO,
        "rule_stopwords": n_kinds >= MIN_STOP_KINDS,
    }
    keep = F.lit(True)
    for c in rules.values():
        keep = keep & c
    return arrays.select(
        id_col,
        n_words.alias("n_words"),
        F.round(mean_word_len, 4).alias("mean_word_len"),
        F.round(frac_alpha, 4).alias("frac_alpha_words"),
        n_kinds.alias("n_stop_kinds"),
        F.round(symbol_ratio, 4).alias("symbol_ratio"),
        n_lines.alias("n_lines"),
        F.round(frac_bullet, 4).alias("frac_bullet_lines"),
        F.round(frac_ellipsis, 4).alias("frac_ellipsis_lines"),
        *[c.alias(name) for name, c in rules.items()],
        keep.alias("keep"),
    )
