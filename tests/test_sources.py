"""Sources: binaryFile normalization (S1/S2) and the from-scratch WARC reader.

Reference intent: byte ingestion from upload handles
(/root/reference/src/app.py:165,218) — here re-expressed as file sources
feeding the same canonical pages schema.
"""

from __future__ import annotations

import gzip
import io
import os
import subprocess
import sys
import zlib
from datetime import datetime

import pytest

from pdf_parser_spark.kernels.pdfgen import build_pdf
from pdf_parser_spark.sources.warc import parse_warc_bytes

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _warc_record(rtype: str, uri: str, date: str, payload: bytes,
                 http: bool = False) -> bytes:
    if http:
        payload = (
            b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + payload
        )
    head = (
        f"WARC/1.0\r\n"
        f"WARC-Type: {rtype}\r\n"
        f"WARC-Target-URI: {uri}\r\n"
        f"WARC-Date: {date}\r\n"
        f"Content-Length: {len(payload)}\r\n"
        f"\r\n"
    ).encode()
    return head + payload + b"\r\n\r\n"


# >= 100 bytes so it clears the reference's F2 min-size validator
HTML_DOC = (
    b"<!DOCTYPE html><html><head><title>t</title></head><body>"
    b"<article><p>Hello crawl, this paragraph is the main content of the "
    b"page and long enough to score as body text.</p></article>"
    b"<footer><a href='/t'>Terms</a></footer></body></html>"
)


def _sample_warc() -> bytes:
    pdf = build_pdf([["Customer Name: Jan Kowalski"]], font_mode="simple")
    return b"".join([
        _warc_record("warcinfo", "urn:warcinfo", "2024-01-01T00:00:00Z",
                     b"software: test\r\n"),
        _warc_record("response", "https://example.org/a.html",
                     "2024-01-02T03:04:05Z", HTML_DOC, http=True),
        _warc_record("request", "https://example.org/a.html",
                     "2024-01-02T03:04:05Z", b"GET /a.html HTTP/1.1\r\n"),
        _warc_record("resource", "https://example.org/b.pdf",
                     "2024-01-03T00:00:00Z", pdf),
    ])


class TestParseWarcBytes:
    def test_extracts_only_document_records(self):
        recs = list(parse_warc_bytes(_sample_warc()))
        assert [u for u, _, _ in recs] == [
            "https://example.org/a.html", "https://example.org/b.pdf"
        ]

    def test_http_envelope_stripped(self):
        recs = list(parse_warc_bytes(_sample_warc()))
        assert recs[0][2] == HTML_DOC

    def test_pdf_payload_byte_identical(self):
        pdf = build_pdf([["Customer Name: Jan Kowalski"]], font_mode="simple")
        recs = list(parse_warc_bytes(_sample_warc()))
        assert recs[1][2] == pdf

    def test_warc_date_parsed(self):
        recs = list(parse_warc_bytes(_sample_warc()))
        assert recs[0][1] == datetime(2024, 1, 2, 3, 4, 5)

    def test_gzip_member_per_record(self):
        # Common Crawl layout: one gzip member per record, concatenated
        pdf = build_pdf([["x"]], font_mode="simple")
        raw = [
            _warc_record("response", "https://example.org/a.html",
                         "2024-01-02T03:04:05Z", HTML_DOC, http=True),
            _warc_record("resource", "https://example.org/b.pdf",
                         "2024-01-03T00:00:00Z", pdf),
        ]
        gz = b"".join(gzip.compress(r) for r in raw)
        recs = list(parse_warc_bytes(gz))
        assert len(recs) == 2 and recs[0][2] == HTML_DOC and recs[1][2] == pdf

    def test_truncated_tail_record_dropped(self):
        data = _sample_warc()
        recs_full = list(parse_warc_bytes(data))
        recs_cut = list(parse_warc_bytes(data[:-30]))  # cuts into the last payload
        assert len(recs_cut) == len(recs_full) - 1

    def test_garbage_between_records_skipped(self):
        data = b"junkjunk" + _sample_warc()
        assert len(list(parse_warc_bytes(data))) == 2

    def test_malformed_content_length_skips_record(self):
        bad = (
            b"WARC/1.0\r\nWARC-Type: response\r\n"
            b"WARC-Target-URI: https://x/\r\nContent-Length: nope\r\n\r\n"
        )
        data = bad + _sample_warc()
        assert len(list(parse_warc_bytes(data))) == 2

    def test_negative_content_length_skips_record(self):
        # a negative length would move the scan back before the record
        # and find the same record again forever
        data = _sample_warc() + _warc_record(
            "resource", "https://x/neg", "2024-01-01T00:00:00Z", b"x" * 64
        ).replace(b"Content-Length: 64", b"Content-Length: -300")
        assert len(list(parse_warc_bytes(data))) == 2

    def test_out_of_range_date_keeps_record(self):
        # year 1 at +05:00 is before datetime.min once shifted to UTC
        data = _warc_record("resource", "https://x/old",
                            "0001-01-01T00:00:00+05:00", HTML_DOC)
        assert list(parse_warc_bytes(data)) == [("https://x/old", None, HTML_DOC)]

    def test_corrupt_gzip_yields_no_records(self):
        gz = gzip.compress(_sample_warc())
        assert list(parse_warc_bytes(gz[:10] + b"\xff" * 20 + gz[30:])) == []

    def test_corrupt_member_keeps_records_before_it(self):
        # one gzip-failure rule: a corrupt member ends the archive, but the
        # records of the members before it survive
        members = [
            gzip.compress(_warc_record("resource", f"https://x/{i}",
                                       "2024-01-01T00:00:00Z", HTML_DOC))
            for i in range(3)
        ]
        members[2] = members[2][:10] + b"\xff" * 20 + members[2][30:]
        recs = list(parse_warc_bytes(b"".join(members)))
        assert recs == [
            ("https://x/0", datetime(2024, 1, 1), HTML_DOC),
            ("https://x/1", datetime(2024, 1, 1), HTML_DOC),
        ]

    @pytest.mark.parametrize("length", [
        "99999999999999999999",  # does not fit in a ssize_t
        "4611686018427387904",   # 2**62: fits, but must never be allocated
    ])
    @pytest.mark.parametrize("member_per_record", [False, True])
    def test_huge_content_length_ends_archive(self, length, member_per_record):
        # a claimed length past the end of the stream is a truncated tail:
        # the records before it are kept and nothing raises
        raw = [
            _warc_record("resource", f"https://x/{i}", "2024-01-01T00:00:00Z",
                         HTML_DOC)
            for i in range(2)
        ] + [_warc_record("resource", "https://x/huge", "2024-01-01T00:00:00Z",
                          b"x" * 64).replace(b"Content-Length: 64",
                                             f"Content-Length: {length}".encode())]
        data = (b"".join(gzip.compress(r) for r in raw) if member_per_record
                else b"".join(raw))
        assert list(parse_warc_bytes(data)) == [
            ("https://x/0", datetime(2024, 1, 1), HTML_DOC),
            ("https://x/1", datetime(2024, 1, 1), HTML_DOC),
        ]

    def test_overlong_header_line_skips_record(self):
        from pdf_parser_spark.sources.warc import MAX_LINE

        long = _warc_record("resource", "https://x/long", "2024-01-01T00:00:00Z",
                            HTML_DOC).replace(
            b"\r\n\r\n", b"\r\nX-Pad: " + b"a" * MAX_LINE + b"\r\n\r\n", 1)
        ok = _warc_record("resource", "https://x/ok", "2024-01-01T00:00:00Z",
                          HTML_DOC)
        assert [u for u, _, _ in parse_warc_bytes(long + ok)] == ["https://x/ok"]

    def test_unterminated_line_bomb_stays_bounded(self, tmp_path):
        # one valid record, then a 0.26 MB gzip member that inflates to
        # 256 MiB with no newline: an unbounded readline() holds the whole
        # line (peak RSS +506 MiB); a bounded one keeps the record and
        # scans the rest in MAX_LINE pieces
        buf = io.BytesIO()
        buf.write(gzip.compress(_warc_record(
            "resource", "https://x/ok", "2024-01-01T00:00:00Z", HTML_DOC)))
        with gzip.GzipFile(fileobj=buf, mode="wb") as bomb:
            for _ in range(256):
                bomb.write(b"x" * (1 << 20))
        path = tmp_path / "bomb.warc.gz"
        path.write_bytes(buf.getvalue())
        probe = (
            "import resource, sys\n"
            "from pdf_parser_spark.sources.warc import parse_warc_bytes\n"
            "data = open(sys.argv[1], 'rb').read()\n"
            "before = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss\n"
            "urls = [u for u, _, _ in parse_warc_bytes(data)]\n"
            "grown = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss - before\n"
            "print(urls, grown // 1024)\n"
        )
        r = subprocess.run([sys.executable, "-c", probe, str(path)],
                           capture_output=True, text=True, cwd=REPO,
                           timeout=300)
        assert r.returncode == 0, r.stderr[-2000:]
        urls, grown_mib = r.stdout.rsplit(" ", 1)
        assert urls == "['https://x/ok']"
        assert int(grown_mib) < 64, f"peak RSS grew by {grown_mib.strip()} MiB"

    def test_kernel_frames_bounded(self):
        # one input batch of archives holding 100 records in all must come
        # out as frames of at most 64 rows, with the same rows overall
        import pandas as pd

        from pdf_parser_spark.sources.warc import _warc_kernel

        archives = [
            b"".join(gzip.compress(_warc_record(
                "resource", f"https://x/{a}/{i}", "2024-01-01T00:00:00Z",
                HTML_DOC)) for i in range(25))
            for a in range(4)
        ]
        batch = pd.DataFrame({"url": [f"a{a}" for a in range(4)],
                              "html": archives})
        frames = list(_warc_kernel(iter([batch]), batch_rows=64))
        assert max(len(f) for f in frames) <= 64
        rows = pd.concat(frames)
        assert rows["url"].tolist() == [
            f"https://x/{a}/{i}" for a in range(4) for i in range(25)
        ]
        assert (rows["html"] == HTML_DOC).all()


class TestSparkSources:
    def test_read_warc_to_pages_schema(self, spark, tmp_path):
        from pdf_parser_spark.sources import read_warc

        (tmp_path / "crawl-00.warc").write_bytes(_sample_warc())
        (tmp_path / "crawl-01.warc.gz").write_bytes(
            gzip.compress(_warc_record(
                "response", "https://example.org/c.html",
                "2024-01-04T00:00:00Z", HTML_DOC, http=True))
        )
        (tmp_path / "crawl-02.warc").write_bytes(b"")  # no record, no row
        df = read_warc(spark, str(tmp_path))
        rows = {r.url: r for r in df.collect()}
        assert set(rows) == {
            "https://example.org/a.html", "https://example.org/b.pdf",
            "https://example.org/c.html",
        }
        assert df.columns == ["url", "warc_ts", "html", "text", "lang"]
        assert bytes(rows["https://example.org/a.html"].html) == HTML_DOC

    def test_warc_rows_flow_through_extraction(self, spark, tmp_path):
        from pdf_parser_spark.pipeline import extract_pipeline
        from pdf_parser_spark.sources import read_warc

        (tmp_path / "c.warc").write_bytes(_sample_warc())
        out = extract_pipeline(read_warc(spark, str(tmp_path)))
        by_url = {r.url: r for r in out.collect()}
        pdf_row = by_url["https://example.org/b.pdf"]
        assert pdf_row.status == "ok"
        assert pdf_row.text == "Customer Name: Jan Kowalski"
        html_row = by_url["https://example.org/a.html"]
        assert html_row.status == "ok" and "Hello crawl" in html_row.text

    def test_binaryfile_source(self, spark, tmp_path):
        from pdf_parser_spark.sources import read_binary_files

        pdf = build_pdf([["Policy Number: POL-1"]], font_mode="simple")
        (tmp_path / "one.pdf").write_bytes(pdf)
        (tmp_path / "sub").mkdir()
        (tmp_path / "sub" / "two.html").write_bytes(HTML_DOC)
        df = read_binary_files(spark, str(tmp_path))
        assert df.columns == ["url", "warc_ts", "html", "text", "lang"]
        rows = {os.path.basename(r.url): r for r in df.collect()}
        assert set(rows) == {"one.pdf", "two.html"}
        assert bytes(rows["one.pdf"].html) == pdf

    def test_zero_byte_file_is_a_row(self, spark, tmp_path):
        # the scan reads no zero-length file; the index's listing names it
        # URI-encoded, and also names a `_metadata` file the scan never reads
        from pdf_parser_spark.sources import read_binary_files

        (tmp_path / "a b%.html").write_bytes(HTML_DOC)
        (tmp_path / "sub").mkdir()
        (tmp_path / "sub" / "a b%.html").write_bytes(b"")
        (tmp_path / "_metadata").write_bytes(b"x")
        (tmp_path / "_empty").write_bytes(b"")
        rows = {r.url: r for r in read_binary_files(spark, str(tmp_path)).collect()}
        full = f"file:{tmp_path / 'a b%.html'}"
        empty = f"file:{tmp_path / 'sub' / 'a b%.html'}"
        assert set(rows) == {full, empty}
        assert bytes(rows[full].html) == HTML_DOC
        assert bytes(rows[empty].html) == b"" and rows[empty].warc_ts is None

    def test_empty_file_rows_only_when_the_scan_skips_a_file(self, spark, tmp_path):
        # the second scan and its join are planned only when the index lists
        # a file the scan does not read; read_warc never plans them
        from pdf_parser_spark.sources import read_binary_files, read_warc

        (tmp_path / "a.html").write_bytes(HTML_DOC)
        (tmp_path / "b.warc").write_bytes(b"")

        def joins(df):
            return df._jdf.queryExecution().optimizedPlan().toString().count("Join")

        assert joins(read_binary_files(spark, str(tmp_path), "*.html")) == 0
        assert joins(read_binary_files(spark, str(tmp_path))) == 1
        assert joins(read_warc(spark, str(tmp_path))) == 0

    def test_binaryfile_glob_filter(self, spark, tmp_path):
        from pdf_parser_spark.sources import read_binary_files

        (tmp_path / "a.pdf").write_bytes(b"%PDF-1.7 x" * 20)
        (tmp_path / "b.txt").write_bytes(b"not read")
        df = read_binary_files(spark, str(tmp_path), glob="*.pdf")
        assert [os.path.basename(r.url) for r in df.collect()] == ["a.pdf"]


class TestSinks:
    def test_json_export_matches_reference_rendering(self, spark):
        import json as _json

        from pdf_parser_spark.sinks import json_export

        fields = {"customer_name": "Żaneta Kowalska", "claim_amount": "3,450.00"}
        compact = _json.dumps(fields, ensure_ascii=False)
        df = spark.createDataFrame([("u1", compact), ("u2", None)],
                                   "url string, fields_json string")
        rows = {r.url: r.export_json for r in json_export(df).collect()}
        assert rows["u1"] == _json.dumps(fields, ensure_ascii=False, indent=2)
        assert "Żaneta" in rows["u1"]  # ensure_ascii=False preserved raw
        assert rows["u2"] is None

    def test_create_output_table_idempotent(self, spark, tmp_path):
        from pdf_parser_spark.sinks import create_output_table

        loc = str(tmp_path / "out_tbl")
        create_output_table(spark, "t_out_test", loc)
        create_output_table(spark, "t_out_test", loc)  # IF NOT EXISTS
        cols = [f.name for f in spark.table("t_out_test").schema.fields]
        assert cols[:3] == ["url", "warc_ts", "file_hash"]
        spark.sql("DROP TABLE t_out_test")


class TestWarcDataSource:
    def test_bad_archives_read_alike_without_task_failure(self, spark, tmp_path):
        # a bad date keeps its record with a NULL timestamp; a corrupt gzip
        # archive contributes no rows; neither costs the other archives
        # their rows nor fails a task
        from pdf_parser_spark.sources.warc import read_warc

        (tmp_path / "good.warc").write_bytes(_sample_warc())
        (tmp_path / "bad-date.warc").write_bytes(
            _warc_record("resource", "https://example.org/old.html",
                         "0001-01-01T00:00:00+05:00", HTML_DOC))
        gz = gzip.compress(_sample_warc())
        (tmp_path / "corrupt.warc.gz").write_bytes(
            gz[:10] + b"\xff" * 20 + gz[30:])
        rows = sorted(
            (r.url, r.warc_ts, bytes(r.html))
            for r in read_warc(spark, str(tmp_path)).collect()
        )
        assert [(u, ts) for u, ts, _ in rows] == [
            ("https://example.org/a.html", datetime(2024, 1, 2, 3, 4, 5)),
            ("https://example.org/b.pdf", datetime(2024, 1, 3)),
            ("https://example.org/old.html", None),
        ]
