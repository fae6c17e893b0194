"""Property-based tests (hypothesis): the PDF writer -> lexer roundtrip, the
HTML stripper, the WARC parser, and JSON canonicalization hold for arbitrary
inputs, not just the curated fixtures.

The reference has no property tests (SURVEY.md §5) — these go beyond its
suite because our kernels ARE the goldens for the distributed runs; any
text the writer can produce must survive the roundtrip byte-for-byte.
"""

from __future__ import annotations

import gzip
import json

from hypothesis import given, settings
from hypothesis import strategies as st

from pdf_parser_spark.kernels.fields import canonical_json
from pdf_parser_spark.kernels.htmlmain import extract_main_content
from pdf_parser_spark.kernels.pdfgen import build_pdf
from pdf_parser_spark.kernels.pdftext import extract_text
from pdf_parser_spark.sources.warc import parse_warc_bytes

# printable chars a PDF line may carry; excludes control chars, keeps the
# escaping-relevant ()\ and non-ASCII letters (CID mode must handle both).
# Spaces are DERIVED from glyph gaps by the lexer (pdfplumber-style), so the
# roundtrip contract is whitespace-normalized lines: runs of spaces collapse,
# leading/trailing spaces drop. Non-ASCII whitespace is excluded — it would
# be carried as a glyph, which is out of the normalization contract.
_line_ascii = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=126),
    min_size=1, max_size=60,
).filter(lambda s: s.strip() != "")

_line_unicode = st.text(
    alphabet=st.characters(
        min_codepoint=32, max_codepoint=0x024F,
        exclude_categories=("Cc", "Cs", "Zs", "Zl", "Zp"),
        include_characters=" ",
    ),
    min_size=1, max_size=60,
).filter(lambda s: s.strip() != "")


def _norm_pages(pages):
    return "\n".join(
        "\n".join(" ".join(line.split()) for line in p) for p in pages
    )

_pages_of = lambda line: st.lists(
    st.lists(line, min_size=1, max_size=6), min_size=1, max_size=3
)


class TestPdfRoundtrip:
    @settings(max_examples=60, deadline=None)
    @given(pages=_pages_of(_line_ascii), compress=st.booleans())
    def test_simple_font_roundtrip(self, pages, compress):
        pdf = build_pdf(pages, font_mode="simple", compress=compress)
        assert extract_text(pdf) == _norm_pages(pages)

    @settings(max_examples=60, deadline=None)
    @given(pages=_pages_of(_line_unicode), compress=st.booleans())
    def test_cid_font_roundtrip_unicode(self, pages, compress):
        pdf = build_pdf(pages, font_mode="cid", compress=compress)
        assert extract_text(pdf) == _norm_pages(pages)

    @settings(max_examples=30, deadline=None)
    @given(pages=_pages_of(_line_ascii), pad=st.integers(0, 50_000))
    def test_pad_stream_never_leaks_into_text(self, pages, pad):
        pdf = build_pdf(pages, font_mode="cid", pad_bytes=pad, pad_seed=1)
        assert extract_text(pdf) == _norm_pages(pages)

    @settings(max_examples=20, deadline=None)
    @given(data=st.binary(min_size=0, max_size=2048))
    def test_arbitrary_bytes_never_crash(self, data):
        # any input must either parse or raise the kernel's typed error
        from pdf_parser_spark.kernels.pdftext import PDFProcessingError

        try:
            extract_text(b"%PDF-1.7\n" + data)
        except PDFProcessingError:
            pass


class TestHtmlProperties:
    @settings(max_examples=60, deadline=None)
    @given(
        paras=st.lists(
            st.text(
                alphabet=st.characters(min_codepoint=32, max_codepoint=126,
                                       exclude_characters="<>&"),
                min_size=60, max_size=120,
            ).filter(lambda s: s.strip() != ""),
            min_size=1, max_size=5,
        ),
        n_nav=st.integers(0, 8),
    )
    def test_long_paragraphs_survive_boilerplate(self, paras, n_nav):
        nav = "".join(f'<a href="/x{i}">nav {i}</a>' for i in range(n_nav))
        html = (
            f"<html><body><nav>{nav}</nav>"
            + "".join(f"<p>{p}</p>" for p in paras)
            + f"<footer>{nav}</footer></body></html>"
        ).encode()
        text, spans = extract_main_content(html)
        for p in paras:
            # whitespace inside a block is normalized; content must survive
            assert " ".join(p.split()) in text
        # spans index into the text exactly
        for _, s, e in spans:
            assert 0 <= s <= e <= len(text)

    @settings(max_examples=30, deadline=None)
    @given(data=st.binary(min_size=0, max_size=4096))
    def test_arbitrary_bytes_never_crash(self, data):
        text, spans = extract_main_content(data)
        assert isinstance(text, str)


class TestWarcProperties:
    @settings(max_examples=40, deadline=None)
    @given(
        payloads=st.lists(st.binary(min_size=0, max_size=500), min_size=1, max_size=5),
        layout=st.sampled_from(["plain", "one_member", "member_per_record"]),
    )
    def test_payloads_roundtrip(self, payloads, layout):
        recs = [
            (
                f"WARC/1.0\r\nWARC-Type: resource\r\n"
                f"WARC-Target-URI: https://x/{i}\r\n"
                f"WARC-Date: 2024-01-01T00:00:00Z\r\n"
                f"Content-Length: {len(p)}\r\n\r\n"
            ).encode() + p + b"\r\n\r\n"
            for i, p in enumerate(payloads)
        ]
        if layout == "member_per_record":  # the Common Crawl layout
            data = b"".join(gzip.compress(r) for r in recs)
        elif layout == "one_member":
            data = gzip.compress(b"".join(recs))
        else:
            data = b"".join(recs)
        got = list(parse_warc_bytes(data))
        assert [g[2] for g in got] == payloads

    @settings(max_examples=30, deadline=None)
    @given(data=st.binary(min_size=0, max_size=2048))
    def test_garbage_never_crashes(self, data):
        assert all(len(r) == 3 for r in parse_warc_bytes(data))


class TestJsonCanonical:
    @settings(max_examples=60, deadline=None)
    @given(
        d=st.dictionaries(
            st.text(min_size=1, max_size=10),
            st.text(max_size=20),
            max_size=6,
        )
    )
    def test_matches_reference_serialization(self, d):
        # the reference persists json.dumps(data, ensure_ascii=False)
        # (extraction_repository.py:63); canonical_json must byte-match
        assert canonical_json(d) == json.dumps(d, ensure_ascii=False)
