"""Similarity search over an embedding column (array<float>).

Baseline: brute-force cosine top-k, entirely JVM-side (zip_with + aggregate
over double-cast arrays — no Python in the hot path, one shuffle for top-k).

Scale paths: coordinate-sign LSH buckets (a pure JVM expression the DuckDB
oracles recompute exactly), so candidates meet only inside a bucket; at
100 TB the bucket equi-join replaces the full cross product, and the
approximate modes' recall is tested against the exact forms in pytest.
The batch KNN join is exact: it scores every pair over id-hash blocks, each
block pair as one BLAS matrix multiply.
"""

from __future__ import annotations

from typing import Optional

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .dedup import _key_pairs

__all__ = [
    "cosine", "dot", "l2_norm", "brute_force_topk", "embedding_near_dup_pairs",
    "coordinate_sign_bucket", "bucketed_near_dup_pairs", "lsh_bucketed_topk",
    "knn_join",
]

N_PLANES = 4        # coordinate-sign hyperplanes: 2^N_PLANES buckets
KNN_BLOCKS = 8      # id-hash blocks the batch KNN join scores pairwise


def _to_double(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def l2_norm(a: Column) -> Column:
    """L2 norm of an array column, computed in double."""
    ad = _to_double(a)
    return F.sqrt(F.aggregate(ad, F.lit(0.0), lambda acc, v: acc + v * v))


def dot(a: Column, b: Column) -> Column:
    """Dot product of two array columns, computed in double."""
    return F.aggregate(
        F.zip_with(_to_double(a), _to_double(b), lambda x, y: x * y),
        F.lit(0.0), lambda acc, v: acc + v,
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two array columns, computed in double.

    Re-folds both norms on every call (3 array folds per pair): the price
    of one JVM expression the SQL oracles mirror. knn_join instead
    normalizes each side once and scores a whole block pair as one matrix
    multiply.
    """
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def _unit_rows(vecs) -> np.ndarray:
    """Stack vectors as float64 matrix rows, each L2-normalized (an all-zero
    row stays zero)."""
    mat = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
    return mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)


def _query_topk(rows: DataFrame, query_id: int, k: int, id_col: str,
                vec_col: str, candidate: Optional[Column] = None) -> DataFrame:
    """Top-k rows by cosine to the stored row query_id, which is excluded.

    The query row is broadcast (crossJoin with a 1-row broadcast side), so
    the scan stays embarrassingly parallel; the only shuffle is the top-k.
    Its columns arrive suffixed _q, so `candidate` (the caller's predicate:
    the query's bucket) can compare against them.
    Order: score rounded to 6 places desc, then id asc.
    """
    q = rows.where(F.col(id_col) == query_id).select(
        *[F.col(c).alias(f"{c}_q") for c in rows.columns]
    )
    keep = F.col(id_col) != query_id
    if candidate is not None:
        keep = keep & candidate
    return (
        rows.crossJoin(F.broadcast(q))
        .where(keep)
        .select(
            F.col(id_col),
            F.round(cosine(F.col(vec_col), F.col(f"{vec_col}_q")), 6).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )


def brute_force_topk(
    embeddings: DataFrame,
    query_id: int = 0,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k nearest neighbours of one stored vector, by cosine (exact)."""
    return _query_topk(embeddings, query_id, k, id_col, vec_col)


def embedding_near_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs above a threshold.

    Exact (cross-product) form — the oracle-checkable baseline. At scale,
    gate the candidate set with lsh buckets first (see lsh_bucketed_topk).
    """
    l = embeddings.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    r = embeddings.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    return (
        l.join(r, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b",
            F.round(cosine(F.col("va"), F.col("vb")), 6).alias("score"),
        )
        .where(F.col("score") >= threshold)
    )


def coordinate_sign_bucket(vec_col: Column) -> Column:
    """Deterministic sign-difference LSH bucket, pure JVM expression.

    Bit i is sign(v[2i] - v[2i+1]) — i.e. the hyperplane with normal
    (e_2i - e_2i+1)/sqrt(2), a valid random-projection family for cosine
    similarity that needs no RNG and no Python: the whole bucketing stays
    inside whole-stage codegen and is exactly reproducible in any SQL
    engine with array indexing (the DuckDB oracle recomputes it).
    Requires dim >= 2*N_PLANES.
    """
    out: Optional[Column] = None
    for i in range(N_PLANES):
        bit = (
            F.element_at(vec_col, 2 * i + 1) > F.element_at(vec_col, 2 * i + 2)
        ).cast("int") * F.lit(1 << i)
        out = bit if out is None else out + bit
    return out


def bucketed_near_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket: Optional[int] = None,
) -> DataFrame:
    """Embedding near-dup pairs at scale: candidates meet only inside
    coordinate-sign buckets (equi-join), never as a cross product.

    The scale path for embedding_near_dup_pairs: a bucket holding M of N
    vectors yields M^2 candidates instead of N^2 — with 2^N_PLANES buckets
    that's a ~2^N_PLANES-fold pruning for near-uniform data. max_bucket is
    the shared skew cap (dedup._drop_large_groups): degenerate buckets
    (e.g. all-zero embeddings) are dropped rather than exploded.

    Contract: the result is the subset of embedding_near_dup_pairs (same
    threshold, same scores) whose two vectors share a bucket. A pair at
    angle theta shares one with probability about (1 - theta/pi)^N_PLANES:
    of 100 copies planted at cosine 0.97 next to the sf0.001 vectors, 76
    land in their original's bucket (the estimate is 0.72).
    """
    b = embeddings.select(
        F.col(id_col),
        F.col(vec_col),
        coordinate_sign_bucket(F.col(vec_col)).alias("_bucket"),
    )
    return (
        _key_pairs(b, ["_bucket"], id_col, carry=[vec_col], max_size=max_bucket)
        .select(
            "id_a", "id_b",
            F.round(
                cosine(F.col(f"{vec_col}_a"), F.col(f"{vec_col}_b")), 6
            ).alias("score"),
        )
        .where(F.col("score") >= threshold)
    )


def knn_join(
    embeddings: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Batch KNN join: exact top-k neighbours for EVERY row.

    A training pipeline needs every-document-vs-index, and one query is
    this join restricted to its qid. Each member lands in one of KNN_BLOCKS
    hash blocks (pmod(xxhash64(id), KNN_BLOCKS)) and each query row explodes
    to every block, so every pair is scored exactly once. Each block (all
    queries x its members) is scored as ONE numpy matrix multiply inside a
    cogrouped applyInPandas, so BLAS does the dim-loop at memory bandwidth
    instead of one JVM array fold per pair. Each block emits only its local
    top-k per query, so the global ranking window sees KNN_BLOCKS*k
    candidates per query, not the whole corpus. Ranking is (score rounded
    to 6 places desc, id asc) in both the local cut and the window, so ties
    break the same way in every engine. Returns (qid, nid, score).

    Contract: exact, each query's rows equal to brute_force_topk (the SQL
    oracle's QUALIFY window).
    """
    members = embeddings.select(
        F.col(id_col),
        F.col(vec_col),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(KNN_BLOCKS))
        .cast("int").alias("_block"),
    )
    q = embeddings.select(
        F.col(id_col).alias("qid"),
        F.col(vec_col).alias("_qv"),
        F.explode(F.sequence(F.lit(0), F.lit(KNN_BLOCKS - 1))).alias("_block"),
    )

    def score_list(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if left.empty or right.empty:
            return pd.DataFrame({"qid": [], "nid": [], "score": []}).astype(
                {"qid": "int64", "nid": "int64", "score": "float64"}
            )
        S = _unit_rows(left["_qv"]) @ _unit_rows(right[vec_col]).T
        qids = left["qid"].to_numpy()
        nids = right[id_col].to_numpy()
        S[qids[:, None] == nids[None, :]] = -np.inf  # mask self-matches
        kk = min(k, S.shape[1])
        # local top-k on ROUNDED scores with nid-ascending tiebreak — the
        # same total order as the ranking window below and the SQL oracle. An
        # unrounded argpartition cut can pick a different member of a tie
        # group straddling the local-k boundary (duplicate/near-dup vectors
        # are exactly this operator's target data) and diverge globally.
        Sr = np.round(S, 6)
        order = np.lexsort(
            (np.broadcast_to(nids, Sr.shape), -Sr), axis=1
        )[:, :kk]
        rows = np.repeat(np.arange(Sr.shape[0]), kk)
        cols = order.ravel()
        keep = np.isfinite(Sr[rows, cols])
        return pd.DataFrame({
            "qid": qids[rows[keep]],
            "nid": nids[cols[keep]],
            "score": Sr[rows[keep], cols[keep]],
        })

    candidates = (
        q.groupBy("_block")
        .cogroup(members.groupBy("_block"))
        .applyInPandas(
            lambda l, r: score_list(l, r),
            "qid long, nid long, score double",
        )
    )
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("nid"))
    return (
        candidates.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .drop("_rn")
    )


def lsh_bucketed_topk(
    embeddings: DataFrame,
    query_id: int = 0,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN top-k: score only vectors in the query's coordinate-sign bucket.

    The scale path for brute_force_topk: the bucket filter prunes the
    candidate set ~2^N_PLANES-fold before any cosine is computed. The
    bucket is coordinate_sign_bucket, a JVM expression the DuckDB oracle
    recomputes, so the approximate result itself is value-checked.

    Contract against brute_force_topk: its ranking restricted to the
    query's bucket, which a neighbour at angle theta shares with
    probability about (1 - theta/pi)^N_PLANES. On the near-isotropic
    sf0.01 embeddings (max cosine 0.51) that keeps 12% of the true top 10,
    averaged over all 500 queries.
    """
    bucketed = embeddings.withColumn(
        "_bucket", coordinate_sign_bucket(F.col(vec_col))
    )
    return _query_topk(bucketed, query_id, k, id_col, vec_col,
                       F.col("_bucket") == F.col("_bucket_q"))
