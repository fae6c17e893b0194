"""SemDeDup — semantic dedup via k-means clusters + within-cluster cosine.

Abbas et al. 2023 ("SemDeDup: Data-efficient learning at web-scale through
semantic deduplication"): cluster document embeddings with k-means, then
drop near-duplicate members WITHIN each cluster (pairwise cosine above a
threshold keeps only one representative). The clustering is what makes the
quadratic pairwise step tractable at web scale — pairs are confined to one
cluster, never the whole corpus.

Spark-first design:
- k-means follows the standard distributed pattern (MLlib's): centroids are
  driver state, the closure constant of one Arrow assignment kernel (the
  plan has the same size at every k); the only shuffle per iteration is one
  `groupBy(cluster)` with d per-dimension `sum` aggregates (map-side partial
  agg, NO explode — the shuffle moves k rows of d sums, not n*d rows).
- the keep flag comes from ONE LEFT self-join on `cluster` (each vector
  against the smaller ids of its cluster) and one `groupBy` per vector
  that the join's shuffle already partitions; no pair list is
  materialized, deduplicated or joined back. Its cost is bounded by the
  cluster size k chosen for the corpus (SemDeDup's own design knob), and
  the ``max_cluster`` cap empties the candidate side of larger clusters.

Exact cross-engine math (the oracle trick): embeddings are quantized to an
integer grid (``round(x * QUANT)``, exact in both engines because float ->
double widening and power-of-two scaling are IEEE-exact), so

- assignment distances are exact integer sums of squares (a float64 GEMM
  under a checked bound, see ``_assign``),
- centroid updates round the integer mean through one shared double
  expression (``floor(S/C + 0.5)``) whose inputs are identical integers,
- the cosine threshold test cross-multiplies to integers:
  ``cos > t`` with ``t = p/q``  <=>  ``dot > 0 AND q^2*dot^2 > p^2*|a|^2*|b|^2``
  evaluated in decimal(38,0)/HUGEINT — no float comparison anywhere.

Ties (equal distances) break toward the smaller centroid index; the kept
representative is the smallest vec_id of a near-dup group — both total
orders, so results are engine-independent.

Reference parity: no counterpart in the reference app — part of the
beyond-reference training-data-pipeline surface (SURVEY.md §2).
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import IntegerType, LongType, StructField, StructType

from .dedup import _drop_large_groups

__all__ = ["quantize", "semdedup"]

QUANT = 4096  # integer grid step of the quantized embeddings (a power of two)


def quantize(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Add ``q``: the embedding on an integer grid (round(x*QUANT), long).

    float->double widening is exact and ``QUANT`` is a power of two, so the
    product is IEEE-exact — every engine rounds the same value.
    """
    return df.withColumn(
        "q",
        F.transform(
            F.col(vec_col),
            lambda x: F.round(x.cast("double") * QUANT).cast("long"),
        ),
    )


def _assign(qdf: DataFrame, centroids: list[list[int]],
            dim: int) -> DataFrame:
    """Add ``cluster`` and the exact ``dist2`` to it (nearest centroid, ties
    to the smaller index: ``argmin`` keeps the first minimum) and ``norm2``.

    One Arrow kernel per batch: ``D = |q|^2 - 2*Q@C.T + |c|^2`` in float64
    over integers, exact while ``4*dim*M^2 < 2^53`` (M = largest |entry|;
    unit vectors at QUANT with dim=64 give 2^32); out-of-range or
    wrong-length rows raise ``ValueError``. The centroids are a closure
    constant (PySpark broadcasts a large pickled UDF), so the plan does not
    grow with k.
    """
    cent = np.asarray(centroids, dtype=np.float64).reshape(len(centroids), dim)
    c2 = (cent * cent).sum(axis=1)
    cmax = float(np.abs(cent).max(initial=0.0))
    schema = StructType(qdf.schema.fields + [
        StructField("cluster", IntegerType()), StructField("dist2", LongType()),
        StructField("norm2", LongType())])

    def nearest(batches):
        for pdf in batches:
            if any(v is None or len(v) != dim for v in pdf["q"]):
                raise ValueError(f"semdedup: embedding without {dim} entries")
            q = np.stack(pdf["q"].to_list()).astype(np.float64)
            m = max(float(np.abs(q).max()), cmax)
            if 4 * dim * m * m >= 2.0 ** 53:
                raise ValueError(f"semdedup: |entry| {m:.0f} breaks the exact "
                                 f"float64 bound 4*dim*M^2 < 2^53, dim={dim}")
            q2 = (q * q).sum(axis=1)
            d = q2[:, None] - 2.0 * (q @ cent.T) + c2
            yield pdf.assign(cluster=np.argmin(d, axis=1).astype(np.int32),
                             dist2=d.min(axis=1).astype(np.int64),
                             norm2=q2.astype(np.int64))

    return qdf.mapInPandas(nearest, schema)


def _kmeans(emb: DataFrame, k: int, iters: int,
            id_col: str, vec_col: str) -> DataFrame:
    """Deterministic fixed-iteration Lloyd k-means over quantized vectors:
    the final assignment, quantized ``q`` carried.

    Init: the ``k`` vectors with the smallest ``id_col`` values are the
    starting centroids, and their length is the dimension every row must
    have. Each iteration assigns (exact integer distances) and recomputes
    centroids as the rounded integer mean; an empty cluster keeps its
    previous centroid.
    """
    qdf = quantize(emb, vec_col=vec_col).select(id_col, "q")
    seeds = qdf.orderBy(id_col).limit(k).collect()
    centroids = [list(r["q"]) for r in seeds]
    dim = len(centroids[0]) if centroids else 0
    for _ in range(iters):
        rows = _assign(qdf, centroids, dim).groupBy("cluster").agg(
            F.count(F.lit(1)).alias("n"),
            *[F.sum(F.col("q")[i]).alias(f"s{i}") for i in range(dim)],
        ).collect()
        new = {
            r["cluster"]: [
                # one shared double expression over exact integer inputs:
                # identical in Spark / DuckDB / Python (IEEE doubles)
                int(math.floor(r[f"s{i}"] / r["n"] + 0.5))
                for i in range(dim)
            ]
            for r in rows
        }
        centroids = [new.get(j, c) for j, c in enumerate(centroids)]
    return _assign(qdf, centroids, dim)


def semdedup(
    emb: DataFrame,
    k: int = 8,
    iters: int = 2,
    threshold: tuple[int, int] = (9, 10),
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cluster: int | None = None,
) -> DataFrame:
    """SemDeDup keep flags: the k-means ``cluster`` of each vector (``k``
    seeds, ``iters`` Lloyd iterations, see ``_kmeans``), its exact ``dist2``
    to that cluster's final centroid, and ``keep``.

    A vector is dropped when a SMALLER-id member of its cluster has
    quantized cosine similarity above ``threshold`` (a rational p/q, e.g.
    (9, 10) = 0.9) — evaluated exactly: ``dot > 0 AND
    q^2*dot^2 > p^2*|a|^2*|b|^2`` in decimal(38,0).

    One LEFT self-join on ``cluster`` (candidate id < vector id) and one
    ``groupBy`` per vector, which the join's cluster shuffle already
    partitions: ``keep = NOT bool_or(near)``. A vector with no candidate
    (the smallest id of its cluster, or a cluster alone) joins NULL and
    keeps.

    ``max_cluster`` is the skew guard (the `max_bucket` of this family):
    clusters larger than the cap lose their candidate side
    (dedup._drop_large_groups: a window count by ``cluster`` that reuses
    the join's shuffle), so their members keep, bounding the quadratic
    cost when a degenerate corpus collapses into one cluster.
    """
    p, q = threshold
    assigned = _kmeans(emb, k, iters, id_col, vec_col)
    cand = _drop_large_groups(assigned, ["cluster"], max_cluster).select(
        F.col("cluster").alias("_cluster_a"), F.col(id_col).alias("_id_a"),
        F.col("q").alias("_q_a"), F.col("norm2").alias("_norm2_a"),
    )
    dot = F.aggregate(
        F.zip_with("q", "_q_a", lambda x, y: x * y),
        F.lit(0).cast("long"), lambda acc, v: acc + v,
    )
    dec = "decimal(38,0)"
    d = F.col("dot").cast(dec)
    near = (F.col("dot") > 0) & (
        F.lit(q * q).cast(dec) * d * d
        > F.lit(p * p).cast(dec) * F.col("norm2").cast(dec)
        * F.col("_norm2_a").cast(dec)
    )
    return (
        assigned.join(cand, (F.col("cluster") == F.col("_cluster_a"))
                      & (F.col("_id_a") < F.col(id_col)), "left")
        .select(id_col, "cluster", "dist2", "norm2", "_norm2_a",
                dot.alias("dot"))
        .groupBy(id_col, "cluster", "dist2")
        .agg((~F.coalesce(F.bool_or(near), F.lit(False))).alias("keep"))
    )
