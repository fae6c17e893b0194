"""From-scratch WARC (ISO 28500) reader — the Common-Crawl ingestion path.

Builds the pages table straight from raw WARC archives, using only the
public WARC 1.0/1.1 format (no external warc libraries):

    WARC/1.0\r\n
    <WARC headers: Name: value, \r\n separated>\r\n
    \r\n
    <Content-Length payload bytes>\r\n\r\n     (record separator)

`response` payloads are HTTP responses (the body after the first CRLFCRLF is
the document); `resource` and `conversion` records carry the document
directly. Records are read one at a time off a stream: the archive bytes, or
`gzip.GzipFile` over them when they start with the gzip magic, which walks
concatenated members (Common Crawl writes one per record) in linear time.
Neither the inflated archive nor a per-member copy of the compressed rest is
built, a line is read at most MAX_LINE bytes at a time, and a payload is read
in bounded chunks, never by its claimed length. CPU time is not bounded: a
gzip bomb is inflated in full (about 0.6 s per 256 MiB) until an
inflated-byte budget per archive lands.
A corrupt or truncated gzip stream ends the archive after the records before
it. Execution: the shared `binaryFile` scan (`read_binary_files`) -> one
mapInPandas kernel, one row per document record, frames of at most the
session's Arrow `maxRecordsPerBatch` rows. An archive is one task's work.
"""

from __future__ import annotations

import functools
import gzip
import io
import zlib
from datetime import datetime, timezone
from typing import BinaryIO, Iterator, Optional, Tuple

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import BinaryType, StringType, StructField, StructType, TimestampType

from .binaryfile import read_binary_files

__all__ = ["parse_warc_bytes", "read_warc", "WARC_SCHEMA"]

WARC_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("warc_ts", TimestampType()),
    StructField("html", BinaryType()),
    StructField("text", StringType()),
    StructField("lang", StringType()),
])

_DOC_TYPES = {"response", "resource", "conversion"}
MAX_LINE = 1 << 16  # bytes per readline: a line never buffers more


def _records(fp: BinaryIO) -> Iterator[Tuple[dict, bytes]]:
    """Yield (lower-cased headers, payload) for each record on the stream."""
    while line := fp.readline(MAX_LINE):
        if b"WARC/" not in line:
            continue  # garbage between records, read MAX_LINE at a time
        headers: dict = {}
        while (line := fp.readline(MAX_LINE)).endswith(b"\n") and line != b"\r\n":
            if b":" in line:
                k, v = line.split(b":", 1)
                headers[k.strip().lower().decode("latin-1")] = v.strip().decode("latin-1")
        if line != b"\r\n":
            continue  # over-long or unterminated header line: resync on WARC/
        try:
            need = int(headers.get("content-length", ""))
        except ValueError:
            continue
        if need < 0:
            continue  # malformed: read(-n) would take the whole rest
        parts = []  # read in bounded chunks: never allocate a claimed length
        while need and (part := fp.read(min(need, 1 << 20))):
            parts.append(part)
            need -= len(part)
        if need:
            return  # truncated archive: drop the partial tail record
        yield headers, b"".join(parts)


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


def parse_warc_bytes(data: bytes) -> Iterator[Tuple[Optional[str], Optional[datetime], bytes]]:
    """Yield (url, timestamp, document_bytes) per document record of one archive.

    Never raises. A record without a valid Content-Length, or with a header
    line longer than MAX_LINE or never ended, is skipped (the parse resumes
    at the next line holding `WARC/`), a truncated tail record is dropped,
    a bad WARC-Date gives a NULL timestamp, and a corrupt or truncated gzip
    stream ends the archive after the records before it.
    """
    fp = io.BytesIO(data)
    if data[:2] == b"\x1f\x8b":
        fp = gzip.GzipFile(fileobj=fp)
    try:
        for headers, payload in _records(fp):
            rtype = headers.get("warc-type", "")
            if rtype in _DOC_TYPES:
                yield (
                    headers.get("warc-target-uri"),
                    _parse_warc_date(headers.get("warc-date")),
                    _http_body(payload) if rtype == "response" else payload,
                )
    except (OSError, EOFError, zlib.error):
        return


def _frame(rows: list) -> pd.DataFrame:
    return pd.DataFrame(rows, columns=["url", "warc_ts", "html"]).assign(text="", lang=None)


def _warc_kernel(batches: Iterator[pd.DataFrame], batch_rows: int) -> Iterator[pd.DataFrame]:
    rows: list = []
    for pdf in batches:
        for path, content in zip(pdf["url"], pdf["html"]):
            for url, ts, doc in parse_warc_bytes(bytes(content)):
                rows.append((url if url else str(path), ts, doc))
                if len(rows) == batch_rows:  # <= 0: one frame, as Arrow's no-limit
                    yield _frame(rows)
                    rows = []
    if rows:  # an empty frame's columns are float64, not the schema's
        yield _frame(rows)


def read_warc(spark: SparkSession, path: str) -> DataFrame:
    """Read the WARC archives (`*.warc*`) under `path` into the canonical
    pages schema."""
    files = read_binary_files(spark, path, "*.warc*").select("url", "html")
    n = int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
    return files.mapInPandas(functools.partial(_warc_kernel, batch_rows=n), WARC_SCHEMA)
