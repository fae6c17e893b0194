"""Training-data shaping: chunking, sequence packing, deterministic sampling.

The last mile of an LLM data pipeline: split documents into model-sized
chunks, pack them into fixed token budgets, and draw reproducible samples.
All three are pure JVM expressions (split/sequence/slice, window prefix
sums, portable hashes) with exact DuckDB oracles — no Python in the hot
path, no RNG (sampling is hash-threshold based, so membership is a pure
function of the key and survives retries/re-runs at any cluster size).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .dedup import md5_hash60
from .textstats import tokens

__all__ = ["chunk_documents", "pack_documents", "deterministic_sample"]

SAMPLE_DENOM = 10_000  # sample buckets: rates resolve to 1 / SAMPLE_DENOM


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 64,
    overlap: int = 8,
) -> DataFrame:
    """Split each document into overlapping whitespace-token chunks.

    Chunk k starts at token offset k*(chunk_tokens-overlap) and takes
    chunk_tokens tokens; the tail chunk is shorter. Tokens are projected
    once as a column, the chunk start offsets posexplode, and each chunk is
    a plain slice of the token column in the projection above (no lambda:
    slicing inside one re-evaluates what it captures per chunk; tokens()'
    own lambda filter keeps the token projection out of whole-stage
    codegen). The fan-out is bounded by n_tokens/stride per row, so skew
    follows document length, which the F1 size cap already bounds.
    Returns (id, chunk_idx, chunk_text, n_tokens).
    """
    if not 0 <= overlap < chunk_tokens:
        raise ValueError("overlap must be in [0, chunk_tokens)")
    step = chunk_tokens - overlap
    toks = F.col("_toks")
    starts = F.sequence(
        F.lit(1), F.greatest(F.size(toks) - overlap, F.lit(1)), F.lit(step)
    )
    chunk = F.slice(toks, F.col("_start"), chunk_tokens)
    return (
        df.select(F.col(id_col), tokens(F.col(text_col)).alias("_toks"))
        .select(id_col, "_toks",
                F.posexplode(starts).alias("chunk_idx", "_start"))
        .select(
            id_col,
            "chunk_idx",
            F.array_join(chunk, " ").alias("chunk_text"),
            F.size(chunk).alias("n_tokens"),
        )
    )


def pack_documents(
    df: DataFrame,
    shard_col: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    token_budget: int = 2048,
    tokens_col: Optional[str] = None,
) -> DataFrame:
    """Stream-order sequence packing: concatenate documents in key order and
    cut fixed token windows — each document is tagged with the pack window
    its first token lands in and its offset in the stream (pretraining-style
    packing, where documents may straddle a boundary).

    One prefix-sum window, partitioned by the required shard_col: packing
    happens independently per shard, which is both the scalable plan (no
    global single-partition sort is reachable through this API) and the
    semantics training actually wants (any consistent order works; only
    determinism matters).
    Returns (id, shard, n_tokens, stream_offset, pack_id).
    """
    if tokens_col is not None:
        # caller supplies the budget unit (e.g. real BPE token counts) —
        # whitespace counting is only the default proxy
        toks = F.col(tokens_col).cast("long")
    else:
        toks = F.size(tokens(F.col(text_col))).cast("long")
    base = df.select(
        F.col(shard_col),
        F.col(id_col),
        toks.alias("n_tokens"),
    )
    w = (
        Window.partitionBy(shard_col)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tokens").over(w)
    return base.select(
        shard_col,
        id_col,
        "n_tokens",
        (cum - F.col("n_tokens")).alias("stream_offset"),
        F.floor((cum - F.col("n_tokens")) / token_budget).alias("pack_id"),
    )


def deterministic_sample(
    df: DataFrame,
    key_col: str = "doc_id",
    rate: float = 0.1,
) -> DataFrame:
    """Hash-threshold sampling: keep rows whose md5-derived bucket (of
    SAMPLE_DENOM) falls under rate. Membership is a pure function of the
    key — identical on every engine, cluster size, and retry, unlike
    rand()-based sampling. A rate outside [0, 1] raises ValueError.
    """
    if not 0 <= rate <= 1:
        raise ValueError("rate must be in [0, 1]")
    bucket = md5_hash60(F.col(key_col).cast("string")) % SAMPLE_DENOM
    return df.where(bucket < round(rate * SAMPLE_DENOM))
