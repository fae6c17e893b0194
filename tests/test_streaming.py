"""Structured Streaming lift: same kernel, checkpointed exactly-once resume.

The reference has no streaming surface (SURVEY.md §2.9); these tests pin the
north-star's incremental-feed variant: streaming output must equal batch
output row-for-row, and a restarted query must not duplicate urls.
"""

from __future__ import annotations

import pytest


@pytest.fixture()
def stream_dirs(tmp_path):
    return str(tmp_path / "out"), str(tmp_path / "ckpt")


class TestStreamExtract:
    def test_stream_equals_batch(self, spark, corpus_001, stream_dirs):
        from pdf_parser_spark.pipeline import extract_pipeline, load_pages
        from pdf_parser_spark.streaming import stream_extract

        out, ckpt = stream_dirs
        q = stream_extract(spark, corpus_001, out, ckpt)
        q.awaitTermination(120)
        got = {
            (r.url, r.text, r.fields_json, r.status)
            for r in spark.read.parquet(out)
            .select("url", "text", "fields_json", "status").collect()
        }
        want = {
            (r.url, r.text, r.fields_json, r.status)
            for r in extract_pipeline(load_pages(spark, corpus_001))
            .select("url", "text", "fields_json", "status").collect()
        }
        assert got == want

    def test_restart_is_exactly_once(self, spark, corpus_001, stream_dirs):
        from pyspark.sql import functions as F

        from pdf_parser_spark.streaming import stream_extract

        out, ckpt = stream_dirs
        stream_extract(spark, corpus_001, out, ckpt).awaitTermination(120)
        # second start with the same checkpoint: backlog already committed
        stream_extract(spark, corpus_001, out, ckpt).awaitTermination(120)
        dup = (
            spark.read.parquet(out).groupBy("url")
            .agg(F.count(F.lit(1)).alias("n")).where(F.col("n") > 1).count()
        )
        assert dup == 0
