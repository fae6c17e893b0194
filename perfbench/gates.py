"""Correctness gates: a job's committed output against an independent
reference. Every gate returns (attempted, failed), counted per input url; a
url that is missing, duplicated, unexpected or different counts as failed.

The gates read parquet with pyarrow and compute references with DuckDB, so
they share no code with the Spark plans they check.
"""

from __future__ import annotations

import glob
import os
from collections import Counter, defaultdict
from typing import Dict, List, Tuple

import pyarrow.parquet as pq

Expected = Dict[str, tuple]
Chunks = Dict[str, List[Tuple[int, str, int]]]

_EXTRACT_COLS = ["url", "status", "text", "fields_json"]


def read_output(out_dir: str, columns: List[str]) -> Dict[str, list]:
    """All rows of a parquet output directory (hidden and _-files skipped,
    as Spark does), one file at a time so differing file schemas are fine."""
    cols: Dict[str, list] = {c: [] for c in columns}
    for path in sorted(glob.glob(os.path.join(out_dir, "*.parquet"))):
        if os.path.basename(path).startswith(("_", ".")):
            continue
        part = pq.read_table(path, columns=columns).to_pydict()
        for c in columns:
            cols[c].extend(part[c])
    return cols


def check_extract(out_dir: str, expected: Expected) -> Tuple[int, int]:
    """Per url: exactly one row, byte-identical status, text and fields_json."""
    got = read_output(out_dir, _EXTRACT_COLS)
    counts = Counter(got["url"])
    rows = {
        u: (s, t, f) for u, s, t, f in zip(
            got["url"], got["status"], got["text"], got["fields_json"]
        )
    }
    failed = sum(
        counts[u] != 1 or rows[u] != want for u, want in expected.items()
    )
    extra = sum(1 for u in counts if u not in expected)
    return len(expected) + extra, failed + extra


def curate_reference(goldens_path: str, chunk_tokens: int = 64, overlap: int = 8,
                     min_tokens: int = 10) -> Chunks:
    """DuckDB mirror of oracle_sql()["pipeline_curate_end2end"] without the
    sample: ok texts -> NULL-coalesced normal-form exact dedup (smallest url
    survives) -> min-token gate -> overlapping whitespace-token chunks."""
    import duckdb

    step = chunk_tokens - overlap
    sql = f"""
        WITH ok AS (
          SELECT url, golden_text AS text FROM read_parquet(?)
          WHERE golden_status = 'ok'
        ), fp AS (
          SELECT url, text,
                 substring(sha256(COALESCE(
                   lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))),
                   '')), 1, 16) AS f
          FROM ok
        ), dd AS (
          SELECT url, text FROM fp
          QUALIFY row_number() OVER (PARTITION BY f ORDER BY url) = 1
        ), qual AS (
          SELECT url,
                 list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
          FROM dd
          WHERE len(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))
                >= {int(min_tokens)}
        ), c AS (
          SELECT url, (s - 1) // {step} AS chunk_idx,
                 toks[s : s + {chunk_tokens - 1}] AS chunk
          FROM qual,
               UNNEST(range(1, greatest(len(toks) - {overlap}, 1) + 1, {step})) AS t(s)
        )
        SELECT url, chunk_idx::INT AS chunk_idx,
               COALESCE(array_to_string(chunk, ' '), '') AS chunk_text,
               COALESCE(len(chunk), 0) AS n_tokens
        FROM c ORDER BY url, chunk_idx
    """
    con = duckdb.connect()
    try:
        rows = con.execute(sql, [goldens_path]).fetchall()
    finally:
        con.close()
    out: Chunks = defaultdict(list)
    for url, idx, text, n in rows:
        out[url].append((idx, text, n))
    return dict(out)


def check_chunks(out_dir: str, expected: Chunks, urls: List[str]) -> Tuple[int, int]:
    """Per input url: the same (chunk_idx, chunk_text, n_tokens) rows as
    the reference, with no chunk rows at all for a url the reference drops."""
    got = read_output(out_dir, ["url", "chunk_idx", "chunk_text", "n_tokens"])
    actual: Chunks = defaultdict(list)
    for u, i, t, n in zip(got["url"], got["chunk_idx"], got["chunk_text"], got["n_tokens"]):
        actual[u].append((i, t, n))
    known = set(urls)
    failed = sum(sorted(actual.get(u, [])) != expected.get(u, []) for u in urls)
    extra = sum(1 for u in actual if u not in known)
    return len(urls) + extra, failed + extra
