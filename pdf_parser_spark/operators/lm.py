"""Char-n-gram language-model quality scoring (the CCNet-style perplexity
filter, Wenzek et al. 2020 — public method; KenLM replaced by a simple
add-k-smoothed char-trigram model, which is what the filter needs at
corpus-cleaning fidelity).

Spark-first split:
  * model training = one distributed explode + hash aggregate with a
    deterministic top-K cutoff (the driver holds only the model, never the
    corpus);
  * scoring = vectorized pandas UDF with the count tables broadcast in the
    closure; output is bits-per-char (lower = more natural text).
"""

from __future__ import annotations

import math
from typing import Dict, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .textstats import _py_lower_tokens, ngrams, normalized

__all__ = ["train_char_trigram_lm", "trigram_model", "lm_bits_per_char",
           "lm_quality_flags"]

BOS = "\x02"  # sentence padding chars (never appear in normalized text)
TOP_K = 200_000          # trigrams the trained model keeps
ADD_K = 0.1              # add-k smoothing constant
MAX_BITS_PER_CHAR = 6.0  # quality cut: keep documents scoring at most this


def train_char_trigram_lm(
    df: DataFrame, text_col: str = "text"
) -> Tuple[Dict[str, int], Dict[str, int], int]:
    """Distributed trigram/bigram counting -> (tri_counts, bi_counts, vocab).

    One pass builds char trigrams of the padded normalized text via pure
    array expressions (chars projected once, then textstats.ngrams); two
    hash aggregates produce the count tables with deterministic TOP_K
    cutoffs.
    """
    padded = F.concat(F.lit(BOS + BOS), normalized(F.col(text_col)))
    exploded = (
        df.select(F.split(padded, "").alias("_chars"))
        .select(F.explode(ngrams(F.col("_chars"), 3, sep="")).alias("tri"))
        .where(F.length("tri") == 3)
    )
    tri_rows = (
        exploded.groupBy("tri").agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), F.asc("tri")).limit(TOP_K).collect()
    )
    return trigram_model({r.tri: r.c for r in tri_rows})


def trigram_model(
    tri_counts: Dict[str, int],
) -> Tuple[Dict[str, int], Dict[str, int], int]:
    """(tri_counts, bi_counts, vocab) from a (truncated) trigram table: the
    bigram counts and the vocab are derived from it, not counted
    independently, so a trained and a frozen table give the same model."""
    bi_counts: Dict[str, int] = {}
    vocab = set()
    for tri, c in tri_counts.items():
        bi_counts[tri[:2]] = bi_counts.get(tri[:2], 0) + c
        vocab.add(tri[2])
    return tri_counts, bi_counts, max(len(vocab), 1)


def lm_bits_per_char(
    df: DataFrame,
    model: Tuple[Dict[str, int], Dict[str, int], int],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Score documents: mean -log2 P(c | prev two chars), add-k smoothed
    (k = ADD_K).

    Lower = closer to the training distribution; gibberish, wrong-language,
    and binary-ish text score high. Returns (id, n_scored, bits_per_char).
    """
    tri_counts, bi_counts, vocab = model

    # no annotations: PEP-563 stringification breaks pandas_udf inspection
    @F.pandas_udf("double")
    def score(texts):
        out = []
        for t in texts:
            s = " ".join(_py_lower_tokens(t))  # textstats.normalized's form
            if not s:
                out.append(None)
                continue
            padded = BOS + BOS + s
            total = 0.0
            n = 0
            for i in range(len(s)):
                tri = padded[i : i + 3]
                num = tri_counts.get(tri, 0) + ADD_K
                den = bi_counts.get(tri[:2], 0) + ADD_K * vocab
                total += -math.log2(num / den)
                n += 1
            out.append(round(total / n, 6) if n else None)
        return pd.Series(out)

    return df.select(
        F.col(id_col),
        F.length(normalized(F.col(text_col))).alias("n_scored"),
        score(F.col(text_col)).alias("bits_per_char"),
    )


def lm_quality_flags(
    df: DataFrame,
    model: Tuple[Dict[str, int], Dict[str, int], int],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """CCNet-style keep/drop verdict from the LM score: keep at most
    MAX_BITS_PER_CHAR (CCNet buckets by perplexity tertiles — a hard cut is
    the simple form)."""
    scored = lm_bits_per_char(df, model, text_col, id_col)
    return scored.withColumn(
        "keep",
        F.when(F.col("bits_per_char").isNull(), F.lit(False)).otherwise(
            F.col("bits_per_char") <= MAX_BITS_PER_CHAR
        ),
    )
