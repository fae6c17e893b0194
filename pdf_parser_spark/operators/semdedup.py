"""SemDeDup — semantic dedup via k-means clusters + within-cluster cosine.

Abbas et al. 2023 ("SemDeDup: Data-efficient learning at web-scale through
semantic deduplication"): cluster document embeddings with k-means, then
drop near-duplicate members WITHIN each cluster (pairwise cosine above a
threshold keeps only one representative). The clustering is what makes the
quadratic pairwise step tractable at web scale — pairs are confined to one
cluster, never the whole corpus.

Spark-first design:
- k-means follows the standard distributed pattern (MLlib's): centroids are
  tiny driver state broadcast into a JVM assignment expression each
  iteration; the only shuffle per iteration is one `groupBy(cluster)` with
  d per-dimension `sum` aggregates (map-side partial agg, NO explode — the
  shuffle moves k rows of d sums, not n*d rows).
- the within-cluster pair join keys on `cluster`; its cost is bounded by
  the cluster size k chosen for the corpus (SemDeDup's own design knob).

Exact cross-engine math (the oracle trick): embeddings are quantized to an
integer grid (``round(x * quant)``, exact in both engines because float ->
double widening and power-of-two scaling are IEEE-exact), so

- assignment distances are exact integer sums of squares,
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

from pyspark.sql import DataFrame, functions as F

from .dedup import _key_pairs

__all__ = ["quantize", "kmeans_assign", "semdedup"]


def quantize(df: DataFrame, quant: int = 4096,
             vec_col: str = "embedding") -> DataFrame:
    """Add ``q``: the embedding on an integer grid (round(x*quant), long).

    float->double widening is exact and ``quant`` is a power of two, so the
    product is IEEE-exact — every engine rounds the same value.
    """
    return df.withColumn(
        "q",
        F.transform(
            F.col(vec_col),
            lambda x: F.round(x.cast("double") * quant).cast("long"),
        ),
    )


def _dist2(qcol, centroid: list[int]):
    """Exact integer squared distance from ``qcol`` to one centroid."""
    c = F.array(*[F.lit(int(v)) for v in centroid])
    return F.aggregate(
        F.zip_with(qcol, c, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def _assign(qdf: DataFrame, centroids: list[list[int]]) -> DataFrame:
    """Add ``cluster`` and ``dist2`` columns: nearest centroid, ties to the
    smaller index. One JVM expression — array_min over (dist2, j) structs."""
    pairs = F.array(*[
        F.struct(
            _dist2(F.col("q"), c).alias("d"),
            F.lit(j).alias("j"),
        )
        for j, c in enumerate(centroids)
    ])
    best = F.array_min(pairs)
    return qdf.withColumn("dist2", best["d"]).withColumn("cluster", best["j"])


def kmeans_assign(
    emb: DataFrame,
    k: int = 8,
    iters: int = 2,
    quant: int = 4096,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic fixed-iteration Lloyd k-means over quantized vectors.

    Init: the ``k`` vectors with the smallest ``id_col`` values are the
    starting centroids. Each iteration assigns (exact integer distances)
    and recomputes centroids as the rounded integer mean; an empty cluster
    keeps its previous centroid. Returns one row per vector with
    ``cluster`` and the exact ``dist2`` to its final centroid.

    Centroids are driver state (k*dim ints — the standard distributed
    k-means shape); data-side work stays in whole-stage codegen.
    """
    qdf = quantize(emb, quant=quant, vec_col=vec_col).select(id_col, "q")
    seeds = qdf.orderBy(id_col).limit(k).collect()
    centroids = [list(r["q"]) for r in seeds]
    for _ in range(iters):
        assigned = _assign(qdf, centroids)
        rows = assigned.groupBy("cluster").agg(
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
        centroids = [new.get(j, centroids[j]) for j in range(k)]
    return _assign(qdf, centroids).select(id_col, "cluster", "dist2")


def semdedup(
    emb: DataFrame,
    k: int = 8,
    iters: int = 2,
    quant: int = 4096,
    dim: int = 64,
    threshold: tuple[int, int] = (9, 10),
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cluster: int | None = None,
) -> DataFrame:
    """SemDeDup keep flags: cluster, exact dist2, and ``keep``.

    A vector is dropped when a SMALLER-id member of its cluster has
    quantized cosine similarity above ``threshold`` (a rational p/q, e.g.
    (9, 10) = 0.9) — evaluated exactly: ``dot > 0 AND
    q^2*dot^2 > p^2*|a|^2*|b|^2`` in decimal(38,0).

    ``max_cluster`` is the skew guard (the `max_bucket` of this family):
    the pairwise step SKIPS clusters larger than the cap (their members
    keep), bounding the quadratic cost when a degenerate corpus collapses
    into one cluster. It is the shared cap of the pair join
    (dedup._key_pairs): a window count by ``cluster`` that reuses the
    join's shuffle.
    """
    p, q = threshold
    assigned = kmeans_assign(
        emb, k=k, iters=iters, quant=quant, dim=dim,
        id_col=id_col, vec_col=vec_col,
    )
    qdf = quantize(emb, quant=quant, vec_col=vec_col).select(
        F.col(id_col), "q",
        F.aggregate(
            F.transform(F.col("q"), lambda x: x * x),
            F.lit(0).cast("long"), lambda acc, v: acc + v,
        ).alias("norm2"),
    )
    pairs = _key_pairs(assigned.join(qdf, id_col), ["cluster"], id_col,
                       carry=["q", "norm2"], max_size=max_cluster)
    dot = F.aggregate(
        F.zip_with("q_a", "q_b", lambda x, y: x * y),
        F.lit(0).cast("long"), lambda acc, v: acc + v,
    )
    dec = "decimal(38,0)"
    near = (
        pairs.withColumn("dot", dot)
        .where(
            (F.col("dot") > 0)
            & (
                F.lit(q * q).cast(dec) * F.col("dot").cast(dec)
                * F.col("dot").cast(dec)
                > F.lit(p * p).cast(dec) * F.col("norm2_a").cast(dec)
                * F.col("norm2_b").cast(dec)
            )
        )
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    return (
        assigned.join(near.withColumn("_dup", F.lit(True)), id_col, "left")
        .select(
            id_col, "cluster", "dist2",
            F.coalesce(~F.col("_dup"), F.lit(True)).alias("keep"),
        )
    )
