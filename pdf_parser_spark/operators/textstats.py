"""Text-analysis operators over a documents table (JVM-side).

All of these compile to built-in Spark SQL expressions (no Python in the hot
path) and have exact DuckDB-SQL oracles: token counting, quality scoring,
n-gram-heuristic language ID, and document fingerprinting.
"""

from __future__ import annotations

import re
from typing import List, Tuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "tokens", "lower_tokens", "lines", "symbol_count", "normalized",
    "content_fingerprint", "ngrams", "token_count", "quality_score",
    "lang_id", "fingerprint", "winnow_fingerprint", "LANG_MARKERS",
]

# ASCII whitespace, exactly what Java's and RE2's \s match: the Python-side
# kernels tokenize with THIS, not str.split(), so Python and JVM/SQL ops
# agree on NBSP-laden web text (str.split() also breaks on U+00A0 etc.)
_ASCII_WS = re.compile(r"[ \t\n\r\f\x0b]+")

WINNOW_K = 5       # characters per winnowing k-gram
WINNOW_WINDOW = 4  # consecutive k-gram hashes per winnowing window


# The column functions below are the ONE definition of each text concept;
# every JVM operator and job builds its tokens, lines, symbol count, normal
# form, fingerprint and n-grams through them. A token array used inside a
# higher-order-function lambda must be projected as a column first and
# referenced by name: Spark re-evaluates a captured expression once per
# element, re-splitting the whole document for every chunk / gram. A gate
# that derives several stats from one array likewise projects the array
# once and computes every stat from that column.


def tokens(col: Column) -> Column:
    """ASCII-whitespace tokens: split on \\s+, empty strings dropped (so
    leading/trailing whitespace and "" yield no tokens). Its lambda filter
    keeps the plan node holding it out of whole-stage codegen."""
    return F.filter(F.split(col, r"\s+"), lambda x: x != "")


def lower_tokens(col: Column) -> Column:
    """tokens() of the lowercased text (lowercasing never creates or removes
    ASCII whitespace, so this equals lowercasing each token)."""
    return tokens(F.lower(col))


def lines(col: Column) -> Column:
    """Lines split on "\\n", blank lines kept ("" is one blank line)."""
    return F.split(col, "\n")


def symbol_count(col: Column) -> Column:
    """Gopher's symbol count: non-overlapping '#' and '...' matches."""
    return F.size(F.regexp_extract_all(col, F.lit(r"#|\.\.\."), 0))


def _py_lower_tokens(t) -> List[str]:
    """lower_tokens() for the Python-side kernels: ASCII-whitespace split
    (see _ASCII_WS) of the lowercased text, empties dropped; None -> []."""
    return [x for x in _ASCII_WS.split(("" if t is None else str(t)).lower()) if x]


def normalized(col: Column) -> Column:
    """Whitespace-collapsed, trimmed, lowercased text (shared normal form)."""
    return F.lower(F.trim(F.regexp_replace(col, r"\s+", " ")))


def content_fingerprint(col: Column) -> Column:
    """16-hex-char sha256 prefix of the normal form. NULL text hashes as ''
    (sha2(NULL) is NULL, which would silently merge every NULL-text row into
    one invisible group)."""
    return F.substring(F.sha2(F.coalesce(normalized(col), F.lit("")), 256), 1, 16)


def ngrams(arr: Column, n: int, sep: str = " ") -> Column:
    """In-order n-grams of an array column, each joined with sep; empty when
    the array holds fewer than n elements (an unguarded sequence would run
    DESCENDING there and crash slice()). Pass a projected column (see the
    note above): arr is referenced inside the lambda."""
    return F.when(
        F.size(arr) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(arr) - n),
            lambda i: F.concat_ws(sep, F.slice(arr, i + 1, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def token_count(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace tokens + a BPE-ish subword proxy (runs of letters/digits,
    plus standalone punctuation), both as JVM expressions."""
    t = F.col(text_col)
    ws = F.size(tokens(t))
    bpe = F.size(F.regexp_extract_all(t, F.lit(r"[A-Za-z0-9]+|[^A-Za-z0-9\s]"), 0))
    return df.select(
        "doc_id",
        ws.alias("n_tokens"),
        bpe.alias("n_subword_tokens"),
        F.length(t).alias("n_chars_measured"),
    )


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Deterministic document-quality heuristics (length, punctuation ratio,
    uppercase ratio, mean token length) combined into a 0..1 score."""
    t = F.col(text_col)
    counts = df.select(
        "doc_id",
        F.length(t).cast("double").alias("_n_chars"),
        F.size(tokens(t)).cast("double").alias("_n_tok"),
        F.size(F.regexp_extract_all(t, F.lit(r"[.,;:!?]"), 0))
        .cast("double").alias("_n_punct"),
        F.size(F.regexp_extract_all(t, F.lit(r"[A-Z]"), 0))
        .cast("double").alias("_n_upper"),
    )
    n_chars, n_tok, n_punct, n_upper = (
        F.col(c) for c in ("_n_chars", "_n_tok", "_n_punct", "_n_upper")
    )
    mean_tok_len = n_chars / F.greatest(n_tok, F.lit(1.0))
    punct_ratio = n_punct / F.greatest(n_chars, F.lit(1.0))
    upper_ratio = n_upper / F.greatest(n_chars, F.lit(1.0))
    # integer point score (0..1600): exact under any engine's float rounding
    len_pts = F.least(n_chars.cast("long"), F.lit(400))
    tok_pts = F.when((mean_tok_len >= 3.0) & (mean_tok_len <= 12.0), 400).otherwise(120)
    punct_pts = F.when(punct_ratio <= 0.1, 400).otherwise(160)
    upper_pts = F.when(upper_ratio <= 0.3, 400).otherwise(200)
    score = (len_pts + tok_pts + punct_pts + upper_pts).cast("long")
    return counts.select(
        "doc_id",
        F.round(mean_tok_len, 4).alias("mean_token_len"),
        F.round(punct_ratio, 4).alias("punct_ratio"),
        F.round(upper_ratio, 4).alias("upper_ratio"),
        score.alias("quality"),
    )


# (language, marker words) — tiny deterministic stopword heuristic.
# Order matters: ties break toward the earlier entry. Matching is
# TOKEN-EXACT (whole whitespace tokens), not \b-regex: Java's \b is
# Unicode-aware while RE2's is ASCII, so `\bna\b` matches inside "naïve"
# on one engine and not the other — found by the differential fuzz gate.
LANG_MARKERS: List[Tuple[str, List[str]]] = [
    ("en", ["the", "and", "is", "of", "to", "in"]),
    ("es", ["el", "la", "los", "las", "de", "y", "es"]),
    ("pl", ["i", "w", "z", "na", "się", "jest", "nie"]),
    ("de", ["der", "die", "das", "und", "ist", "nicht"]),
    ("fr", ["le", "la", "les", "et", "est", "ne", "pas"]),
]


def lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-marker language ID: count whole-token marker hits per
    language (pure JVM array ops) + a CASE argmax with deterministic
    tie-breaking (list order)."""
    arrays = df.select(
        "doc_id", "lang", lower_tokens(F.col(text_col)).alias("_toks")
    )
    toks = F.col("_toks")
    counts = [
        F.size(F.filter(toks, lambda x: x.isin(*words))).alias(f"c_{lang}")
        for lang, words in LANG_MARKERS
    ]
    with_counts = arrays.select("doc_id", "lang", *counts)
    best = F.greatest(*[F.col(f"c_{lang}") for lang, _ in LANG_MARKERS])
    pred = F.when(best == 0, F.lit("und"))
    for lang, _ in LANG_MARKERS:
        pred = pred.when(F.col(f"c_{lang}") == best, F.lit(lang))
    return with_counts.select(
        "doc_id",
        F.col("lang").alias("lang_declared"),
        pred.alias("lang_pred"),
    )


def winnow_fingerprint(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Winnowing document fingerprint (Schleimer et al., SIGMOD'03): rolling
    Rabin-Karp hash over character WINNOW_K-grams, then the minimum hash per
    sliding window of WINNOW_WINDOW hashes (rightmost on ties) — the
    standard public local-fingerprinting scheme behind MOSS. Vectorized
    numpy Pandas UDF: every k-gram hash is built at once from k shifted
    multiply-adds over the code points.

    Returns (id, fingerprints ARRAY<BIGINT>) — overlap of fingerprint sets
    localizes shared substrings, which plain sha256/minhash cannot.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import ArrayType, LongType

    base = np.uint64(1000003)
    mask = np.uint64((1 << 61) - 1)
    k, window = WINNOW_K, WINNOW_WINDOW

    # no annotations: pandas/numpy are function-local, so stringified
    # annotations (PEP 563 module) would not resolve during UDF inspection
    @F.pandas_udf(ArrayType(LongType()))
    def winnow(texts):
        np.seterr(over="ignore")  # uint64 wraparound IS the hash semantics
        out = []
        for t in texts:
            s = " ".join(_py_lower_tokens(t))
            if len(s) < k:
                out.append([])
                continue
            codes = np.frombuffer(s.encode("utf-32-le"), dtype=np.uint32)
            codes = codes.astype(np.uint64)
            n = len(codes) - k + 1
            # h[i] = sum_j c[i+j] * base^(k-1-j) mod 2^64, Horner over j
            hashes = np.zeros(n, dtype=np.uint64)
            for j in range(k):
                hashes = hashes * base + codes[j:j + n]
            hashes &= mask
            if n <= window:
                sel = {int(hashes.min())}
            else:
                # min per sliding window, rightmost occurrence on ties
                idx = np.arange(n - window + 1)
                windows = np.lib.stride_tricks.sliding_window_view(hashes, window)
                rev = windows[:, ::-1]
                amin = window - 1 - rev.argmin(axis=1)  # rightmost min
                sel = set((idx + amin).tolist())
                sel = {int(hashes[i]) for i in sel}
            out.append(sorted(sel))
        return pd.Series(out)

    return df.select(F.col(id_col), winnow(F.col(text_col)).alias("fingerprints"))


def fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Normalized-content fingerprint: sha256 of the whitespace-collapsed,
    lowercased text (stable across reflows), 16-hex-char prefix."""
    return df.select(
        "doc_id",
        content_fingerprint(F.col(text_col)).alias("fingerprint"),
    )
