"""Seeded inputs and goldens for the benchmark workloads.

Every table is a pure function of (workload, seed): the same seed writes
byte-identical parquet files. Nothing here imports Spark, so the generator
and its goldens can be checked without a session.

Layout of one generated workload directory::

    pages.parquet/part-000N.parquet   the job's input (the corpus schema)
    goldens.parquet                   url -> expected status/text/fields_json
    committed/                        extract_web: half the rows, as committed
    new/pages.parquet/                extract_web: the rows not committed
    meta.json                         seed, rows, MB and mix of the inputs
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
import tempfile
from datetime import datetime, timedelta, timezone
from typing import Any, Dict, List

import pyarrow as pa
import pyarrow.parquet as pq

from pdf_parser_spark.corpus import generate_rows

WORKLOADS = ("extract_web", "curate_text")

# extract_web uses the sf0.1 per-document shape: 12/20 html, 4/20 pdf, 4/20
# invalid or pre-extracted, pad up to 30 KB, 2 MB every 300th row
EXTRACT_SF = 0.1
ROWS = {"extract_web": 1800, "curate_text": 3000}
FILES = 8  # small files, which the scan packs into about one task per core
# curate_text: share of rows that are normal-form duplicates of an earlier
# row, rows under the 10-token quality gate, and whitespace-only rows
DUP_SHARE = 0.25
SHORT_SHARE = 0.05
BLANK_SHARE = 0.02

_EPOCH = datetime(2024, 1, 1)
_UTC = timezone.utc

PAGES_SCHEMA = pa.schema([
    ("url", pa.string()),
    ("warc_ts", pa.timestamp("us")),
    ("html", pa.binary()),
    ("text", pa.string()),
    ("lang", pa.string()),
])

GOLDEN_SCHEMA = pa.schema([
    ("url", pa.string()),
    ("golden_status", pa.string()),
    ("golden_text", pa.string()),
    ("golden_fields_json", pa.string()),
])

# the extract job's output columns (pipeline.OUTPUT_SCHEMA + extracted_at),
# written with timezone-aware timestamps so Spark reads them as TIMESTAMP
COMMITTED_SCHEMA = pa.schema([
    ("url", pa.string()),
    ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("file_hash", pa.string()),
    ("method", pa.string()),
    ("text", pa.string()),
    ("spans", pa.list_(pa.struct([
        ("field", pa.string()), ("start", pa.int32()), ("end", pa.int32()),
    ]))),
    ("fields_json", pa.string()),
    ("lang", pa.string()),
    ("status", pa.string()),
    ("error", pa.string()),
    ("extracted_at", pa.timestamp("us", tz="UTC")),
])

_WORDS = (
    "the of and to in is was for on that with as by at from this be are have "
    "claim policy customer vehicle damage report office branch document "
    "insurance adjuster payment review status address city street river "
    "morning evening weather heavy rainfall photos police statement verified "
    "original record number amount travel delay medical expense property loss "
    "inspection scheduled nearest contact within two business days further "
    "correspondence sent file submitted supporting documentation incident "
    "occurred reported promptly system data table value update request "
    "Kraków Warszawa Praha Málaga Köln Göteborg José Łukasz Søren Tomáš "
    "Dvořák Wiśniewski Fernández García Müller André Björn Céline "
    "ubezpieczenie szkoda pojazd wypłata reclamación póliza importe"
).split()
_FIRST = ["Jan", "Anna", "José", "Łukasz", "Marie", "Søren", "Nina", "Pierre"]
_LAST = ["Kowalski", "Nowak", "García", "Müller", "Dvořák", "Lindqvist"]


def _langs(i: int) -> str:
    return ("pl", "en", "es")[i % 3]


def _sentence(rng: random.Random) -> str:
    words = [rng.choice(_WORDS) for _ in range(rng.randrange(6, 18))]
    return " ".join(words).capitalize() + "."


def _long_text(rng: random.Random, i: int) -> str:
    """A multi-hundred-token document; a third open with a claim block so
    the field regexes find values in realistic positions."""
    paras = []
    if rng.random() < 1 / 3:
        paras.append(
            f"Document ID: CLM-2024-{i:06d}\n"
            f"Customer Name: {rng.choice(_FIRST)} {rng.choice(_LAST)} (on file)\n"
            f"Policy Number: POL-{rng.randrange(10**8, 10**9)}\n"
            f"Claim Amount: ${rng.randrange(1, 20)},{rng.randrange(100, 999)}."
            f"{rng.randrange(10, 99)}"
        )
    target = rng.randrange(120, 700)
    n = 0
    while n < target:
        para = " ".join(_sentence(rng) for _ in range(rng.randrange(2, 6)))
        n += para.count(" ") + 1
        paras.append(para)
    return "\n".join(paras)


_UPPER_ASCII = str.maketrans(
    "abcdefghijklmnopqrstuvwxyz", "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
)


def _reflow(rng: random.Random, text: str) -> str:
    """Same normal form (collapsed ASCII whitespace, lowercased), other
    bytes: whitespace runs re-drawn, ASCII letters maybe upper-cased, and
    leading/trailing whitespace added."""
    seps = [" ", "  ", "\n", "\t", " \n ", "\r\n"]
    out = rng.choice(seps).join(text.split())
    if rng.random() < 0.5:
        out = out.translate(_UPPER_ASCII)
    return rng.choice(["", " ", "\n"]) + out + rng.choice(["", "\t", "\n\n"])


def _extract_rows(seed: int) -> List[Dict[str, Any]]:
    rows = generate_rows(EXTRACT_SF, seed, 0, ROWS["extract_web"])
    for r in rows:
        text_in = r["text"]
        ok = r["_golden_text"] is not None
        r["golden_status"] = "ok" if ok else "error"
        # pre-extracted text passes through the kernel even when it is
        # rejected (whitespace-only); byte branches yield no text on error
        r["golden_text"] = r["_golden_text"] if ok else (text_in or None)
        r["golden_fields_json"] = r["_golden_fields_json"] if ok else None
    return rows


def _curate_rows(seed: int) -> List[Dict[str, Any]]:
    rng = random.Random(f"curate_text:{seed}")
    originals: List[str] = []
    rows = []
    for i in range(ROWS["curate_text"]):
        u = rng.random()
        if u < BLANK_SHARE:
            text = rng.choice(["   ", " \n\t ", "\n\n"])
        elif u < BLANK_SHARE + SHORT_SHARE:
            text = " ".join(rng.choice(_WORDS) for _ in range(rng.randrange(1, 10)))
        elif u < BLANK_SHARE + SHORT_SHARE + DUP_SHARE and originals:
            text = _reflow(rng, rng.choice(originals))
        else:
            text = _long_text(rng, i)
            originals.append(text)
        ok = bool(text.strip())
        rows.append({
            "url": f"https://fixtures.test/feed/s{seed}/item{i:08d}",
            "warc_ts": _EPOCH + timedelta(seconds=i),
            "html": b"",
            "text": text,
            "lang": _langs(i),
            "golden_status": "ok" if ok else "error",
            "golden_text": text,
            "golden_fields_json": None,
        })
    return rows


def _write_pages(rows: List[Dict[str, Any]], pages_dir: str) -> None:
    os.makedirs(pages_dir)
    per = -(-len(rows) // FILES)
    for s in range(FILES):
        chunk = rows[s * per:(s + 1) * per]
        tbl = pa.Table.from_pydict(
            {f.name: [r[f.name] for r in chunk] for f in PAGES_SCHEMA},
            schema=PAGES_SCHEMA,
        )
        # 64-row groups, like the repo corpus: one Arrow batch per group
        pq.write_table(tbl, os.path.join(pages_dir, f"part-{s:04d}.parquet"),
                       row_group_size=64, compression="snappy")


def _write_goldens(rows: List[Dict[str, Any]], path: str) -> None:
    pq.write_table(pa.Table.from_pydict(
        {f.name: [r[f.name] for r in rows] for f in GOLDEN_SCHEMA},
        schema=GOLDEN_SCHEMA,
    ), path)


def _committed_table(rows: List[Dict[str, Any]]) -> pa.Table:
    """Rows as the extract job would have committed them (spans and error
    text are not gated, so they are left empty)."""
    def payload(r):
        return r["html"] if r["html"] else (r["text"] or "").encode("utf-8")

    cols = {
        "url": [r["url"] for r in rows],
        "warc_ts": [r["warc_ts"].replace(tzinfo=_UTC) for r in rows],
        "file_hash": [
            hashlib.sha256(payload(r)).hexdigest()[:6] if payload(r) else None
            for r in rows
        ],
        "method": ["classic"] * len(rows),
        "text": [r["golden_text"] for r in rows],
        "spans": [[] for _ in rows],
        "fields_json": [r["golden_fields_json"] for r in rows],
        "lang": [r["lang"] for r in rows],
        "status": [r["golden_status"] for r in rows],
        "error": [None] * len(rows),
        "extracted_at": [_EPOCH.replace(tzinfo=_UTC)] * len(rows),
    }
    return pa.Table.from_pydict(cols, schema=COMMITTED_SCHEMA)


def _committed(i: int, seed: int) -> bool:
    """Half of every 20-row kind cycle (the corpus assigns kinds by i % 20)
    and half of the mega-docs (i % 300 == 150) count as committed, with the
    seed choosing which half, so the resumed work is the same on every seed."""
    return (i + i // 20 + seed) % 2 == 0


def _meta(workload: str, seed: int, rows: List[Dict[str, Any]]) -> Dict[str, Any]:
    n = len(rows)
    in_bytes = sum(len(r["html"]) + len((r["text"] or "").encode("utf-8")) for r in rows)
    meta: Dict[str, Any] = {
        "workload": workload, "seed": seed, "rows": n,
        "input_mb": round(in_bytes / 1e6, 3),
        "ok_rows": sum(r["golden_status"] == "ok" for r in rows),
    }
    if workload == "curate_text":
        seen, dups = set(), 0
        for r in rows:
            key = " ".join(r["text"].split()).lower()
            dups += key in seen and bool(key)
            seen.add(key)
        meta["duplicate_share"] = round(dups / n, 4)
    else:
        kinds = {"html": 0, "pdf": 0, "invalid": 0, "text": 0, "mega": 0}
        for r in rows:
            if not r["html"]:
                kinds["text"] += 1
            elif r["golden_status"] == "error":
                kinds["invalid"] += 1
            elif r["html"].startswith(b"%PDF"):
                kinds["pdf"] += 1
            else:
                kinds["html"] += 1
            kinds["mega"] += len(r["html"]) > 1_000_000
        meta["branch_mix"] = kinds
    return meta


def generate(workload: str, seed: int, out_dir: str) -> Dict[str, Any]:
    """Write one workload's inputs and goldens under out_dir, replacing
    what is there, and return its meta record."""
    if workload not in WORKLOADS:
        raise ValueError(f"unknown workload {workload!r}")
    shutil.rmtree(out_dir, ignore_errors=True)
    rows = _curate_rows(seed) if workload == "curate_text" else _extract_rows(seed)
    parent = os.path.dirname(out_dir)
    os.makedirs(parent, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=".gen-", dir=parent)
    try:
        _write_pages(rows, os.path.join(tmp, "pages.parquet"))
        _write_goldens(rows, os.path.join(tmp, "goldens.parquet"))
        meta = _meta(workload, seed, rows)
        if workload == "extract_web":
            committed = [r for i, r in enumerate(rows) if _committed(i, seed)]
            done = {r["url"] for r in committed}
            os.makedirs(os.path.join(tmp, "committed"))
            pq.write_table(
                _committed_table(committed),
                os.path.join(tmp, "committed", "part-committed-0000.parquet"),
            )
            _write_pages([r for r in rows if r["url"] not in done],
                         os.path.join(tmp, "new", "pages.parquet"))
            meta["committed_rows"] = len(committed)
            meta["committed_share"] = round(len(committed) / len(rows), 4)
        with open(os.path.join(tmp, "meta.json"), "w") as fh:
            json.dump(meta, fh, sort_keys=True)
        os.rename(tmp, out_dir)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    return meta


def read_goldens(data_dir: str) -> Dict[str, tuple]:
    """url -> (status, text, fields_json) expected from the job."""
    t = pq.read_table(os.path.join(data_dir, "goldens.parquet")).to_pydict()
    return {
        u: (s, x, f) for u, s, x, f in zip(
            t["url"], t["golden_status"], t["golden_text"], t["golden_fields_json"]
        )
    }
