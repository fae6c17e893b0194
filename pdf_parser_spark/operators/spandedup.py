"""Span-level exact-substring dedup — duplicated k-token window coverage.

"Deduplicating Training Data Makes Language Models Better" (Lee et al.
2021) removes text SPANS that appear verbatim elsewhere in the corpus —
document-level near-dup (MinHash, SimHash; `operators/dedup.py`) misses
boilerplate repeated inside otherwise-distinct pages, which is most of the
duplication in web text. Their suffix-array construction is single-machine;
the Spark-first equivalent used at web scale is k-token window hashing:

1. every k-token window of every document becomes one (doc, pos, key) row
   — a narrow `posexplode`, no shuffle;
2. one `groupBy(key)` (map-side partial aggregation collapses repeats
   before the exchange) finds windows occurring >= ``min_count`` times
   corpus-wide — including repeats WITHIN one document;
3. windows join back to the duplicated-key set (both sides shuffle on the
   8-byte key; AQE handles the hot-key skew that duplicated boilerplate
   creates by definition);
4. per document, the union length of the flagged [pos, pos+k) intervals is
   computed with an ordered window function (running max of interval end)
   — exact coverage even when duplicated windows overlap, no
   driver-side interval merging.

With ``hashed=True`` (the default, the scale path) the shuffle key is
``xxhash64(gram)`` — 8 bytes instead of a ~60-byte string. A 64-bit
collision can merge two gram classes and at most flag a handful of
false-positive windows per ~10^13 grams; standard practice accepts this
(the published pipelines hash too). ``hashed=False`` keys on the gram
string itself; a test pins both paths to identical output.

Reference parity: no counterpart in the reference app — part of the
beyond-reference training-data-pipeline surface (SURVEY.md §2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from .textstats import lower_tokens, ngrams

__all__ = ["duplicated_span_stats"]


def duplicated_span_stats(
    docs: DataFrame,
    k: int = 10,
    min_count: int = 2,
    max_coverage_pct: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
    hashed: bool = True,
) -> DataFrame:
    """Per-document duplicated-span statistics and a keep flag.

    One row per input document: ``n_tokens``, ``n_windows`` (k-token
    windows), ``n_dup_windows`` (windows whose content occurs >=
    ``min_count`` times corpus-wide), ``dup_tokens`` (union length of the
    flagged windows' token intervals), and ``keep`` — true iff the
    duplicated-token coverage is <= ``max_coverage_pct`` percent (exact
    integer math: ``dup_tokens * 100 <= n_tokens * pct``; empty documents
    keep).
    """
    base = docs.select(id_col, lower_tokens(F.col(text_col)).alias("_toks"))
    totals = base.select(
        id_col, F.size("_toks").cast("long").alias("n_tokens")
    )
    grams = ngrams(F.col("_toks"), k)
    key = F.xxhash64("gram") if hashed else F.col("gram")
    wins = (
        base.select(id_col, F.posexplode(grams).alias("pos", "gram"))
        .select(id_col, "pos", key.alias("key"))
    )
    dup_keys = (
        wins.groupBy("key")
        .agg(F.count(F.lit(1)).alias("_c"))
        .where(F.col("_c") >= min_count)
        .select("key")
    )
    flagged = wins.join(dup_keys, "key").select(id_col, "pos")
    prev = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    covered = flagged.withColumn(
        "_prev_end", F.max(F.col("pos") + k).over(prev)
    )
    per_doc = covered.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_dup_windows"),
        F.sum(
            F.col("pos") + k
            - F.greatest(F.col("pos"), F.coalesce("_prev_end", F.col("pos")))
        ).cast("long").alias("dup_tokens"),
    )
    dup_tokens = F.coalesce("dup_tokens", F.lit(0)).cast("long")
    return totals.join(per_doc, id_col, "left").select(
        id_col,
        "n_tokens",
        F.greatest(F.col("n_tokens") - (k - 1), F.lit(0))
        .cast("long").alias("n_windows"),
        F.coalesce("n_dup_windows", F.lit(0))
        .cast("long").alias("n_dup_windows"),
        dup_tokens.alias("dup_tokens"),
        (dup_tokens * 100 <= F.col("n_tokens") * max_coverage_pct)
        .alias("keep"),
    )
