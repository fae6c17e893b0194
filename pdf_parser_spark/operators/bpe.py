"""Byte-pair-encoding tokenizer (Sennrich et al. 2016, public algorithm),
Spark-first:

  * word-frequency counting is the distributed part (explode -> one hash
    aggregate -> top-K collect) — at 10^12 documents the driver only ever
    sees the K most frequent words, never the corpus;
  * merge training is the standard driver-side loop over the word-frequency
    table (the table is tiny; this is how reference BPE trainers work);
  * encoding is a vectorized pandas UDF with the merge ranks broadcast in
    the closure — greedy lowest-rank-first merging, the standard inference
    procedure.

Deterministic end to end: ties in pair frequency break lexicographically,
word sampling is a frequency cutoff (no randomness anywhere).
"""

from __future__ import annotations

from typing import Dict, List, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .textstats import _py_lower_tokens, lower_tokens

__all__ = ["word_frequencies", "bpe_train", "bpe_encode", "bpe_token_counts"]

END = "</w>"  # end-of-word marker, as in the reference algorithm


def word_frequencies(
    df: DataFrame, text_col: str = "text", top_k: int = 50_000
) -> List[Tuple[str, int]]:
    """Distributed word counts, deterministic top-K to the driver.

    One explode + one hash aggregate (map-side combinable); the orderBy
    ties break on the word itself so the training set is stable.
    """
    words = F.explode(lower_tokens(F.col(text_col))).alias("word")
    rows = (
        df.select(words)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), F.asc("word"))
        .limit(top_k)
        .collect()
    )
    return [(r.word, r.freq) for r in rows]


def _pair_stats(vocab: Dict[Tuple[str, ...], int]) -> Dict[Tuple[str, str], int]:
    stats: Dict[Tuple[str, str], int] = {}
    for symbols, freq in vocab.items():
        for a, b in zip(symbols, symbols[1:]):
            stats[(a, b)] = stats.get((a, b), 0) + freq
    return stats


def bpe_train(
    word_freqs: List[Tuple[str, int]], num_merges: int = 200
) -> List[Tuple[str, str]]:
    """Learn merge rules from word frequencies (driver-side, standard loop).

    Most-frequent pair wins each round; frequency ties break on the pair
    itself so training is fully deterministic.
    """
    vocab: Dict[Tuple[str, ...], int] = {}
    for word, freq in word_freqs:
        key = tuple(word) + (END,)
        vocab[key] = vocab.get(key, 0) + freq
    merges: List[Tuple[str, str]] = []
    for _ in range(num_merges):
        stats = _pair_stats(vocab)
        if not stats:
            break
        top_freq = max(stats.values())
        # among equal frequencies the lexicographically smallest pair wins
        best_pair = min(p for p, f in stats.items() if f == top_freq)
        if top_freq < 2:
            break  # nothing left worth merging
        merges.append(best_pair)
        merged = best_pair[0] + best_pair[1]
        new_vocab: Dict[Tuple[str, ...], int] = {}
        for symbols, freq in vocab.items():
            out: List[str] = []
            i = 0
            while i < len(symbols):
                if (
                    i + 1 < len(symbols)
                    and symbols[i] == best_pair[0]
                    and symbols[i + 1] == best_pair[1]
                ):
                    out.append(merged)
                    i += 2
                else:
                    out.append(symbols[i])
                    i += 1
            key = tuple(out)
            new_vocab[key] = new_vocab.get(key, 0) + freq
        vocab = new_vocab
    return merges


def _encode_word(word: str, ranks: Dict[Tuple[str, str], int]) -> List[str]:
    symbols = list(word) + [END]
    while len(symbols) > 1:
        best_rank = None
        best_i = -1
        for i in range(len(symbols) - 1):
            r = ranks.get((symbols[i], symbols[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_rank is None:
            break
        symbols[best_i : best_i + 2] = [symbols[best_i] + symbols[best_i + 1]]
    return symbols


def bpe_encode(
    df: DataFrame,
    merges: List[Tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Tokenize each document with the learned merges (Arrow-batched UDF;
    ranks dict rides the closure = broadcast). Returns (id, tokens)."""
    ranks = {pair: i for i, pair in enumerate(merges)}

    # no annotations: PEP-563 stringification breaks pandas_udf inspection
    @F.pandas_udf("array<string>")
    def encode(texts):
        cache: Dict[str, List[str]] = {}
        out = []
        for t in texts:
            toks: List[str] = []
            for w in _py_lower_tokens(t):
                got = cache.get(w)
                if got is None:
                    got = cache[w] = _encode_word(w, ranks)
                toks.extend(got)
            out.append(toks)
        return pd.Series(out)

    return df.select(F.col(id_col), encode(F.col(text_col)).alias("tokens"))


def bpe_token_counts(
    df: DataFrame,
    merges: List[Tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document BPE token counts — the real-tokenizer upgrade of
    textstats.token_count's regex proxy."""
    enc = bpe_encode(df, merges, text_col, id_col)
    return enc.select(
        id_col, F.size("tokens").alias("n_bpe_tokens")
    )
