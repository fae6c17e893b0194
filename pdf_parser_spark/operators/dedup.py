"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Design for 100 TB:
  * exact dedup is one hash-aggregate (map-side partial agg is free);
  * MinHash is explode(shingles) -> one groupBy(doc) with K min() aggregates
    (no UDF: the per-seed hash is a JVM expression), then LSH banding turns
    the O(n^2) pair search into an equi-join on band keys — the only
    shuffle-heavy step joins tiny bucket groups, never the corpus;
  * SimHash is a vectorized Pandas UDF (numpy bit-voting; no per-row Python);
  * exact n-gram Jaccard uses an inverted shingle index (explode + self-join
    on shingle) so only co-occurring pairs are scored.

Cross-engine determinism: hashes are 60-bit ints from md5 hex prefixes, which
DuckDB computes identically (('0x'||substring(md5(s),1,15))::BIGINT), so the
driver's value-hash oracle can check MinHash signatures exactly.
"""

from __future__ import annotations

from typing import List, Optional, Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from .textstats import _py_lower_tokens, content_fingerprint, lower_tokens, ngrams

__all__ = [
    "md5_hash60", "exact_dedup", "word_shingles",
    "minhash_signatures", "minhash_lsh_pairs", "jaccard_pairs", "simhash64",
    "simhash_dups", "connected_components", "dup_clusters",
]


def md5_hash60(col: Column) -> Column:
    """Deterministic 60-bit hash portable across Spark and DuckDB."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def _drop_large_groups(df: DataFrame, keys: List[str],
                       max_size: Optional[int]) -> DataFrame:
    """The skew cap of every candidate-pair operator: drop the rows of key
    groups holding more than max_size rows. None = keep all (oracle mode).

    A group of M rows feeds M^2/2 pairs into the self-join on `keys` that
    follows, so one degenerate group (every empty document shares a
    signature) can dominate a job. The size is a window count, whose one
    shuffle by `keys` is also the self-join's, so the cap adds no exchange
    (a groupBy + join form shuffles the input twice more). Same rows as the
    oracles' QUALIFY count(*) OVER (PARTITION BY keys) <= max_size.
    """
    if max_size is None:
        return df
    return (
        df.withColumn("_gsz", F.count(F.lit(1)).over(Window.partitionBy(*keys)))
        .where(F.col("_gsz") <= max_size)
        .drop("_gsz")
    )


def _key_pairs(df: DataFrame, keys: List[str], id_col: str,
               carry: Sequence[str] = (),
               max_size: Optional[int] = None) -> DataFrame:
    """The one candidate-pair join of every near-duplicate operator.

    Drops key groups above max_size (_drop_large_groups), then self-joins
    the rows on `keys` with id_a < id_b. Returns (id_a, id_b) plus each
    side's `carry` columns suffixed _a / _b; the caller keeps only its own
    verify step (band distinct, Hamming test, shared-shingle count, cosine).
    A pair sharing several keys appears once per shared key.
    """
    df = _drop_large_groups(df, keys, max_size)

    def side(sfx: str) -> DataFrame:
        return df.select(*keys, F.col(id_col).alias(f"id{sfx}"),
                         *[F.col(c).alias(f"{c}{sfx}") for c in carry])

    left, right = side("_a"), side("_b")
    return (
        left.join(right, keys)
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", *[f"{c}{x}" for x in ("_a", "_b") for c in carry])
    )


# --------------------------------------------------------------------------
# Exact dedup
# --------------------------------------------------------------------------

def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Group identical normalized content; keep the smallest id as canonical.

    One shuffle (hash aggregate); partial aggregation runs map-side.
    NULL-text documents group under the empty-content fingerprint, visibly
    counted (see textstats.content_fingerprint).
    """
    fp = content_fingerprint(F.col(text_col))
    return (
        df.select(F.col(id_col), fp.alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


# --------------------------------------------------------------------------
# Shingling + MinHash + LSH
# --------------------------------------------------------------------------

def word_shingles(df: DataFrame, text_col: str = "text",
                  id_col: Optional[str] = "doc_id", n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per document, as (id, shingle) rows;
    id_col=None gives bare (shingle) rows, for frames without an id.

    Pure JVM: lowercase tokens projected once, then textstats.ngrams
    (sequence -> transform(slice+concat_ws)) -> explode. Documents with
    fewer than n tokens yield NO shingles. The explode takes the n-gram
    expression itself: exploding a projected array column makes Catalyst
    infer a size() filter and push it below the projections, inlining the
    split back into the lambda.
    """
    keep = [id_col] if id_col else []
    return (
        df.select(*keep, lower_tokens(F.col(text_col)).alias("_toks"))
        .select(
            *keep,
            F.explode(F.array_distinct(ngrams(F.col("_toks"), n))).alias("shingle"),
        )
    )


def minhash_signatures(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", n: int = 3,
                       num_hashes: int = 8) -> DataFrame:
    """K-permutation MinHash: sig_i = min over shingles of
    md5_hash60(shingle#i).

    One explode + one groupBy with K min() aggregates — all JVM expressions,
    map-side combinable, exactly one shuffle.
    """
    sh = word_shingles(df, text_col, id_col, n)
    aggs = [
        F.min(md5_hash60(F.concat(F.col("shingle"), F.lit(f"#{i}")))).alias(f"mh_{i}")
        for i in range(num_hashes)
    ]
    return sh.groupBy(id_col).agg(*aggs)


def minhash_lsh_pairs(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                      n: int = 3, num_hashes: int = 16, bands: int = 4,
                      max_bucket: Optional[int] = None) -> DataFrame:
    """Candidate near-duplicate pairs via LSH banding over MinHash signatures.

    Documents sharing any band key become a candidate pair; at scale each
    band bucket is tiny, so the self-join explodes only real collisions.
    Returns distinct (id_a, id_b) with id_a < id_b.

    max_bucket: skew guard for 10^12-doc corpora — a band bucket holding M
    members yields M^2/2 candidate pairs, so one degenerate bucket (e.g. all
    empty documents share a signature) can dominate the whole job. Buckets
    larger than max_bucket are dropped; their members are by construction
    near-identical to thousands of others, so exact_dedup (one cheap hash
    aggregate) already collapses them. None = no cap (oracle-exact mode).
    """
    rows_per_band = num_hashes // bands
    sig = minhash_signatures(df, text_col, id_col, n, num_hashes)
    band_cols = []
    for b in range(bands):
        cols = [F.col(f"mh_{b * rows_per_band + r}") for r in range(rows_per_band)]
        # md5 band key (not Spark's internal hash) so DuckDB oracles can
        # reproduce the exact candidate set
        band_cols.append(
            F.struct(
                F.lit(b).alias("band"), F.md5(F.concat_ws(",", *cols)).alias("key")
            ).alias(f"b{b}")
        )
    banded = sig.select(F.col(id_col), F.explode(F.array(*band_cols)).alias("bk"))
    return (
        _key_pairs(banded.select(id_col, "bk.band", "bk.key"), ["band", "key"],
                   id_col, max_size=max_bucket)
        .distinct()
    )


def jaccard_pairs(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                  n: int = 3, threshold: float = 0.6,
                  max_df: Optional[int] = None) -> DataFrame:
    """Exact n-gram Jaccard similarity via an inverted shingle index.

    ``id_col`` must be a key of ``df``. Returns (id_a, id_b, jaccard) with
    id_a < id_b for every pair sharing a shingle and J >= threshold, where
    J = common / (|A| + |B| - common), rounded to 6 places. Only
    co-occurring pairs are scored: common(a,b) counts the rows of the one
    self-join on shingle, and |A|, |B| are a per-document window count over
    the shingle frame that rides through that join as a carry column (no
    size aggregate, no join back).

    max_df: skew guard — a shingle appearing in M documents contributes
    M^2/2 join rows, so stop-shingles ("of the and") dominate web corpora.
    Shingles with document frequency > max_df are dropped from the index
    BEFORE the self-join; |A|/|B| are counted on the same filtered shingle
    sets, so the similarity stays a true Jaccard over the pruned universe
    (the standard prefix-filtering compromise). None = exact (oracle mode).
    """
    sh = _drop_large_groups(
        word_shingles(df, text_col, id_col, n), ["shingle"], max_df
    ).withColumn("sz", F.count(F.lit(1)).over(Window.partitionBy(id_col)))
    common, sz_a, sz_b = F.col("common"), F.col("sz_a"), F.col("sz_b")
    return (
        _key_pairs(sh, ["shingle"], id_col, carry=["sz"])
        .groupBy("id_a", "id_b", "sz_a", "sz_b")
        .agg(F.count(F.lit(1)).alias("common"))
        .withColumn("jaccard", F.round(common / (sz_a + sz_b - common), 6))
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# --------------------------------------------------------------------------
# Duplicate clusters: connected components over the near-dup pair graph
# --------------------------------------------------------------------------

def connected_components(
    nodes: DataFrame, edges: DataFrame, id_col: str = "doc_id",
    max_iters: int = 50,
) -> DataFrame:
    """Min-label propagation to a fixpoint: every node ends up labelled with
    the smallest id reachable from it. Returns (id_col, component).

    Iterative-algorithm-on-Spark shape: a driver loop of joins, with
    localCheckpoint() per round to truncate the lineage (else the plan
    doubles every iteration) and a LongAccumulator-free convergence test via
    a changed-count aggregate. Rounds needed = graph diameter, which for
    near-dup clusters is tiny (dups cluster into cliques/stars); each round
    is one shuffle join on (node -> label), never on payloads.
    """
    both = (
        edges.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .union(edges.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .distinct()
    )
    labels = nodes.select(F.col(id_col).alias("node"), F.col(id_col).alias("label"))
    labels = labels.localCheckpoint()
    for _ in range(max_iters):
        neighbor_min = (
            both.join(labels, both.dst == labels.node)
            .groupBy("src").agg(F.min("label").alias("nbr_label"))
        )
        updated = (
            labels.join(neighbor_min, labels.node == neighbor_min.src, "left")
            .select(
                "node",
                F.least(F.col("label"), F.coalesce("nbr_label", "label")).alias("label"),
                (F.coalesce("nbr_label", "label") < F.col("label")).alias("_chg"),
            )
        )
        updated = updated.localCheckpoint()
        changed = updated.where(F.col("_chg")).count()
        labels = updated.drop("_chg")
        if changed == 0:
            break
    else:
        # the loop exhausted max_iters with labels still moving: returning
        # silently would hand the caller wrong components with no signal
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} rounds "
            f"({changed} labels still changing); the pair graph has a longer "
            "diameter than near-dup clusters should — raise max_iters"
        )
    return labels.select(F.col("node").alias(id_col), F.col("label").alias("component"))


def dup_clusters(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    n: int = 3, num_hashes: int = 16, bands: int = 8,
    max_bucket: Optional[int] = None,
) -> DataFrame:
    """End-to-end near-dup clustering: MinHash+LSH pairs -> components.

    The canonical keep-one-per-cluster rule is then `component == doc_id`
    (smallest id survives), matching exact_dedup's keep_id convention.

    max_bucket forwards to minhash_lsh_pairs' skew guard — the clustering
    path is the one users run end-to-end, so at scale pass the same cap the
    capped pairs query uses (a degenerate band bucket of M members otherwise
    feeds M^2/2 edges into component propagation). None = oracle-exact mode.
    """
    pairs = minhash_lsh_pairs(
        df, text_col, id_col, n, num_hashes, bands, max_bucket=max_bucket
    )
    return connected_components(df.select(id_col), pairs, id_col)


# --------------------------------------------------------------------------
# SimHash (vectorized Pandas UDF — bit voting needs numpy, not a SQL shape)
# --------------------------------------------------------------------------

@F.pandas_udf(LongType())
def _simhash64_udf(texts: pd.Series) -> pd.Series:
    import hashlib

    import numpy as np

    shifts = np.arange(64, dtype=np.uint64)
    out = []
    for t in texts:
        toks = set(_py_lower_tokens(t))
        if not toks:
            out.append(0)
            continue
        hs = np.array(
            [
                int.from_bytes(hashlib.md5(tok.encode("utf-8")).digest()[:8], "big")
                for tok in toks
            ],
            dtype=np.uint64,
        )
        bits = (hs[:, None] >> shifts) & np.uint64(1)          # (n_tok, 64)
        votes = (bits.astype(np.int64) * 2 - 1).sum(axis=0)    # +1/-1 voting
        sim = int(((votes > 0).astype(np.uint64) << shifts).sum(dtype=np.uint64))
        out.append(sim - (1 << 64) if sim >= (1 << 63) else sim)  # to signed
    return pd.Series(out, dtype="int64")


def simhash64(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash per document (Arrow-batched; numpy bit voting)."""
    return df.select(F.col(id_col), _simhash64_udf(F.col(text_col)).alias("simhash"))


def simhash_dups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                 max_hamming: int = 3,
                 max_block: Optional[int] = None) -> DataFrame:
    """Near-dup pairs with Hamming distance <= max_hamming.

    Scale path: block on 4 16-bit sub-keys (pigeonhole: any pair within
    Hamming<=3 of 64 bits agrees on at least one 16-bit block), then verify
    distance with bit_count on the xor — JVM-side.

    max_block: the shared skew cap (_drop_large_groups) on blocks — a
    degenerate block (every empty document simhashes to 0) yields M^2/2
    verify pairs; blocks above the cap are dropped, their members being
    exact-dup material that exact_dedup already collapses. None = exact.
    """
    sig = simhash64(df, text_col, id_col)
    blocks = F.array(*[
        F.struct(
            F.lit(b).alias("blk"),
            F.shiftright(F.col("simhash"), b * 16).bitwiseAND(F.lit(0xFFFF)).alias("key"),
        )
        for b in range(4)
    ])
    banded = sig.select(id_col, "simhash", F.explode(blocks).alias("bk"))
    return (
        _key_pairs(banded.select(id_col, "simhash", "bk.blk", "bk.key"),
                   ["blk", "key"], id_col, carry=["simhash"], max_size=max_block)
        .select(
            "id_a", "id_b",
            F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b"))).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )
