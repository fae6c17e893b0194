"""Benchmark decontamination — n-gram overlap against a held-out set.

The standard training-data step (GPT-3 appendix C, Llama 2 §A.6): a
document is contaminated when it shares at least ``min_hits`` distinct
word n-grams with any benchmark/eval document; contaminated documents are
flagged (and usually dropped) before training.

Spark-first design for 100 TB: the benchmark side is small by definition
(eval sets are thousands of rows, the corpus is billions), so its distinct
n-gram set is **broadcast** — the big side never shuffles for the join;
the only exchange is the per-document hit count keyed by ``doc_id``, and
even that carries just (doc_id, gram-hit) pairs for the tiny fraction of
rows with any overlap. N-grams are dedup.word_shingles, built with pure
array expressions (split / transform / sequence / concat_ws — whole-stage
codegen, no Python). At extreme scale the exact broadcast set swaps for a
bloom filter built from the same grams; the exact form here IS the
oracle-able semantics.

Reference parity: no counterpart in the reference app — part of the
beyond-reference training-data-pipeline surface (SURVEY.md §2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .dedup import word_shingles

__all__ = ["ngram_set", "decontaminate"]


def ngram_set(df: DataFrame, n: int = 8, text_col: str = "text") -> DataFrame:
    """Distinct word n-grams (space-joined, lowercased) of every row."""
    return (
        word_shingles(df, text_col, None, n)
        .select(F.col("shingle").alias("gram"))
        .distinct()
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    min_hits: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document contamination flags against a benchmark corpus.

    Returns one row per input document: ``n_contaminated_grams`` =
    distinct n-grams shared with ANY benchmark document, and
    ``contaminated`` = that count >= min_hits.
    """
    bench = F.broadcast(ngram_set(benchmark, n=n, text_col=text_col))
    hits = (
        word_shingles(docs, text_col, id_col, n)
        .join(bench, F.col("shingle") == F.col("gram"))
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_contaminated_grams"))
    )
    return (
        docs.select(id_col)
        .join(hits, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_contaminated_grams", F.lit(0))
            .cast("long").alias("n_contaminated_grams"),
            (F.coalesce("n_contaminated_grams", F.lit(0)) >= min_hits)
            .alias("contaminated"),
        )
    )
