"""From-scratch WARC (ISO 28500) reader — the Common-Crawl ingestion path.

The north star describes "an Iceberg table of Common-Crawl-style pages"; this
source produces that table directly from raw WARC archives. Built from the
public WARC 1.0/1.1 format only (no external warc libraries):

    WARC/1.0\r\n
    <WARC headers: Name: value, \r\n separated>\r\n
    \r\n
    <Content-Length payload bytes>\r\n\r\n     (record separator)

For `WARC-Type: response` records the payload is an HTTP response; the body
after the first CRLFCRLF is the document bytes. `resource` and `conversion`
records carry the document directly. Gzip archives (the Common Crawl layout:
one gzip member per record, concatenated) are decompressed member-by-member
with zlib.

Execution model: `binaryFile` scan of *.warc / *.warc.gz -> one mapInPandas
kernel emitting one row per contained record. A 1 GB WARC file is one task's
work (WARC members are not independently splittable without an index); at
Common-Crawl scale the unit of parallelism is the archive file, of which
there are ~72k per crawl — ample for any cluster width. Per-record parse
errors are isolated (skip record, keep file), matching the pipeline's
row-level error discipline.
"""

from __future__ import annotations

import zlib
from datetime import datetime, timezone
from typing import Iterator, List, Optional, Tuple

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    BinaryType, StringType, StructField, StructType, TimestampType,
)

__all__ = ["parse_warc_bytes", "read_warc", "WARC_SCHEMA"]

WARC_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("warc_ts", TimestampType()),
    StructField("html", BinaryType()),
    StructField("text", StringType()),
    StructField("lang", StringType()),
])

_DOC_TYPES = {"response", "resource", "conversion"}


def _gunzip_members(data: bytes) -> bytes:
    """Decompress concatenated gzip members (Common Crawl writes one member
    per record; a plain single-member gzip is the degenerate case)."""
    out: List[bytes] = []
    pos = 0
    while pos < len(data):
        d = zlib.decompressobj(wbits=zlib.MAX_WBITS | 16)
        out.append(d.decompress(data[pos:]))
        out.append(d.flush())
        consumed = len(data) - pos - len(d.unused_data)
        if consumed <= 0:
            break
        pos += consumed
    return b"".join(out)


def _parse_headers(block: bytes) -> dict:
    headers: dict = {}
    for line in block.split(b"\r\n"):
        if b":" in line:
            k, v = line.split(b":", 1)
            headers[k.strip().lower().decode("latin-1")] = v.strip().decode("latin-1")
    return headers


def _parse_warc_date(s: Optional[str]) -> Optional[datetime]:
    if not s:
        return None
    try:
        # WARC-Date is W3C ISO-8601 Zulu, e.g. 2024-01-01T00:00:00Z
        return (
            datetime.fromisoformat(s.replace("Z", "+00:00"))
            .astimezone(timezone.utc)
            .replace(tzinfo=None)
        )
    except (ValueError, OverflowError):
        # malformed, or out of range once shifted to UTC (year 1 at +05:00)
        return None


def _http_body(payload: bytes) -> bytes:
    """Strip the HTTP response envelope from a response-record payload."""
    if payload[:5] in (b"HTTP/",):
        sep = payload.find(b"\r\n\r\n")
        if sep >= 0:
            return payload[sep + 4:]
    return payload


def parse_warc_bytes(
    data: bytes,
) -> List[Tuple[Optional[str], Optional[datetime], bytes]]:
    """Parse one WARC archive into (url, timestamp, document_bytes) tuples.

    Malformed records are skipped (never raise): the per-file parse keeps
    going from the next well-formed record boundary it can find. A record
    whose WARC-Date does not parse keeps a NULL timestamp; an archive whose
    gzip stream does not inflate yields no records.
    """
    if data[:2] == b"\x1f\x8b":
        try:
            data = _gunzip_members(data)
        except zlib.error:
            return []
    out: List[Tuple[Optional[str], Optional[datetime], bytes]] = []
    pos = 0
    n = len(data)
    while pos < n:
        start = data.find(b"WARC/", pos)
        if start < 0:
            break
        head_end = data.find(b"\r\n\r\n", start)
        if head_end < 0:
            break
        headers = _parse_headers(data[start:head_end])
        try:
            length = int(headers.get("content-length", ""))
            if length < 0:
                raise ValueError(length)  # would step the scan backwards
        except ValueError:
            pos = head_end + 4
            continue
        body_start = head_end + 4
        body_end = body_start + length
        if body_end > n:
            break  # truncated archive: drop the partial tail record
        rtype = headers.get("warc-type", "")
        if rtype in _DOC_TYPES:
            payload = data[body_start:body_end]
            if rtype == "response":
                payload = _http_body(payload)
            out.append((
                headers.get("warc-target-uri"),
                _parse_warc_date(headers.get("warc-date")),
                payload,
            ))
        pos = body_end
    return out


def _warc_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        rows: dict = {"url": [], "warc_ts": [], "html": [], "text": [], "lang": []}
        for path, content in zip(pdf["path"], pdf["content"]):
            for url, ts, doc in parse_warc_bytes(bytes(content)):
                rows["url"].append(url if url else str(path))
                rows["warc_ts"].append(ts)
                rows["html"].append(doc)
                rows["text"].append("")
                rows["lang"].append(None)
        if rows["url"]:  # an empty frame's columns are float64, not the schema's
            yield pd.DataFrame(rows)


def read_warc(spark: SparkSession, path: str, glob: str = "*.warc*") -> DataFrame:
    """Read WARC archives under `path` into the canonical pages schema."""
    files = (
        spark.read.format("binaryFile")
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", glob)
        .load(path)
        .select("path", "content")
    )
    return files.mapInPandas(_warc_kernel, WARC_SCHEMA)
