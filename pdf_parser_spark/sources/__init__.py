"""Input sources normalizing every ingestion path to the canonical pages
schema (url, warc_ts, html, text, lang) from BASELINE.json input_hint."""

from .binaryfile import read_binary_files
from .warc import read_warc

__all__ = ["read_binary_files", "read_warc"]
