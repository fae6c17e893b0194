"""Benchmark decontamination — n-gram overlap against a held-out set.

The standard training-data step (GPT-3 appendix C, Llama 2 §A.6): a
document is contaminated when it shares at least one distinct word
N-gram with any benchmark/eval document; contaminated documents are
flagged (and usually dropped) before training.

Spark-first design for 100 TB, over ONE exploded frame:

1. ``explode_outer`` gives one (doc, gram) row per distinct lower-case
   word n-gram of each document (``textstats.lower_tokens`` + ``ngrams``,
   pure array expressions, no Python) — narrow, no shuffle. A document
   with no n-gram (short, empty or NULL text) keeps one row with a NULL
   gram, so it needs no second scan of the ids and no rejoin;
2. the benchmark side is small by definition (eval sets are thousands of
   rows, the corpus is billions), so its distinct n-gram set is
   **broadcast** and LEFT-joined: the big side never shuffles for the
   join, and a NULL gram never matches;
3. one ``groupBy(doc)`` counts the matched grams and gives every output
   column; its partial aggregation runs map-side, so the corpus side's
   one exchange carries one (doc, count) row per document and task.

At extreme scale the exact broadcast set swaps for a bloom filter built
from the same grams; the exact form here IS the oracle-able semantics.

Reference parity: no counterpart in the reference app — part of the
beyond-reference training-data-pipeline surface (SURVEY.md §2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .dedup import word_shingles
from .textstats import lower_tokens, ngrams

__all__ = ["decontaminate"]

N = 8  # word n-gram length (the GPT-3 / Llama 2 overlap unit)


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document contamination flags against a benchmark corpus.

    ``id_col`` must be a key of ``docs``; one row per id:
    ``n_contaminated_grams`` = distinct N-grams shared with ANY benchmark
    document (0 for short, empty or NULL text), and ``contaminated`` =
    that count > 0.
    """
    bench = F.broadcast(
        word_shingles(benchmark, text_col, None, N)
        .select(F.col("shingle").alias("gram")).distinct()
    )
    grams = (
        docs.select(id_col, lower_tokens(F.col(text_col)).alias("_toks"))
        .select(id_col, F.explode_outer(
            F.array_distinct(ngrams(F.col("_toks"), N))).alias("shingle"))
    )
    hits = F.col("n_contaminated_grams")
    return (
        grams.join(bench, F.col("shingle") == F.col("gram"), "left")
        .groupBy(id_col).agg(F.count("gram").alias("n_contaminated_grams"))
        .select(id_col, hits, (hits > 0).alias("contaminated"))
    )
