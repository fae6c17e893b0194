"""Span-level exact-substring dedup — duplicated k-token window coverage.

"Deduplicating Training Data Makes Language Models Better" (Lee et al.
2021) removes text SPANS that appear verbatim elsewhere in the corpus —
document-level near-dup (MinHash, SimHash; `operators/dedup.py`) misses
boilerplate repeated inside otherwise-distinct pages, which is most of the
duplication in web text. Their suffix-array construction is single-machine;
the Spark-first equivalent used at web scale is k-token window hashing,
over ONE exploded frame:

1. ``posexplode_outer`` gives one (doc, n_tokens, pos, key) row per k-token
   window — narrow, no shuffle. A document with no window (short, empty or
   NULL text) keeps one row with a NULL pos and key, so its totals need no
   second scan and no rejoin;
2. ``groupBy(key)`` counts each key's grams corpus-wide (map-side partial
   aggregation collapses repeats, including repeats WITHIN one document)
   and keeps the keys seen >= ``MIN_COUNT`` times. Not a window over the
   key: that buffers a hot key's group in one task (AQE splits skewed
   joins, not windows);
3. the duplicated keys LEFT-join back onto the frame; a NULL key never
   matches, so window-less rows never share a partition with a real key;
4. one ``groupBy(doc)`` gives every output column: the totals, and the
   sorted starts of the flagged windows, folded into the exact union
   length of their [pos, pos+k) intervals even where they overlap (no
   sort of the unflagged windows, no window function).

The key is ``xxhash64(gram)``, 8 bytes instead of a ~60-byte string. A
64-bit collision can merge two gram classes and at most flag a handful of
false-positive windows per ~10^13 grams, which the published pipelines
accept too; the DuckDB oracle groups the gram strings themselves.

Reference parity: no counterpart in the reference app — part of the
beyond-reference training-data-pipeline surface (SURVEY.md §2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .textstats import lower_tokens, ngrams

__all__ = ["duplicated_span_stats"]

K = 10                 # tokens per window
MIN_COUNT = 2          # corpus-wide occurrences that make a window duplicated
MAX_COVERAGE_PCT = 20  # a document keeps up to this duplicated-token share


def duplicated_span_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document duplicated-span statistics and a keep flag.

    ``id_col`` must be a key of ``docs``; one row per id: ``n_tokens``
    (NULL for NULL text), ``n_windows`` (K-token windows), ``n_dup_windows``
    (windows whose content occurs >= ``MIN_COUNT`` times corpus-wide),
    ``dup_tokens`` (union length of the flagged windows' token intervals),
    and ``keep`` — true iff the duplicated-token coverage is <=
    ``MAX_COVERAGE_PCT`` percent (exact integer math: ``dup_tokens * 100 <=
    n_tokens * pct``; empty documents keep).
    """
    toks = F.col("_toks")
    wins = (
        docs.select(id_col, lower_tokens(F.col(text_col)).alias("_toks"))
        .select(id_col, F.size(toks).cast("long").alias("n_tokens"),
                F.posexplode_outer(ngrams(toks, K)).alias("pos", "gram"))
        .select(id_col, "n_tokens", "pos", F.when(
            F.col("gram").isNotNull(), F.xxhash64("gram")).alias("key"))
    )
    dup_keys = (
        wins.groupBy("key").agg(F.count("key").alias("_c"))
        .where(F.col("_c") >= MIN_COUNT)
    )
    flagged = F.array_sort(F.collect_list(
        F.when(F.col("_c").isNotNull(), F.col("pos"))))
    # sorted equal-length intervals: each start adds min(K, its gap to the
    # previous flagged start) to their union; the first adds K
    union = F.aggregate(
        "_flagged",
        F.struct(F.lit(-K).alias("p"), F.lit(0).cast("long").alias("n")),
        lambda acc, p: F.struct(
            p.alias("p"),
            (acc["n"] + F.least(F.lit(K), p - acc["p"])).alias("n")),
        lambda acc: acc["n"],
    )
    n_tok, dup_tok = F.col("n_tokens"), F.col("dup_tokens")
    n_windows = F.greatest(n_tok - (K - 1), F.lit(0)).cast("long")
    return (
        wins.join(dup_keys, "key", "left").groupBy(id_col)
        .agg(F.max("n_tokens").alias("n_tokens"), flagged.alias("_flagged"))
        .withColumn("dup_tokens", union)
        .select(
            id_col, n_tok, n_windows.alias("n_windows"),
            F.size("_flagged").cast("long").alias("n_dup_windows"),
            dup_tok,
            (dup_tok * 100 <= n_tok * MAX_COVERAGE_PCT).alias("keep"),
        )
    )
