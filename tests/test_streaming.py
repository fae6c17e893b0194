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

    def test_windowed_status_counts(self, spark, corpus_001, tmp_path):
        from pdf_parser_spark.streaming import stream_status_counts

        q = stream_status_counts(
            spark, corpus_001, str(tmp_path / "ckpt2"), window="1 hour"
        )
        q.awaitTermination(120)
        rows = spark.sql("select * from status_counts").collect()
        # update-mode memory sink: each micro-batch appends the UPDATED
        # running totals, so the current count per key is the max
        latest: dict = {}
        for r in rows:
            key = (r.window_start, r.status)
            latest[key] = max(latest.get(key, 0), r.n)
        total = sum(latest.values())
        assert total == 100  # sf0.001 corpus size; every row lands in a window
        assert {s for _, s in latest} == {"ok", "error"}
        assert sum(n for (_, s), n in latest.items() if s == "error") == 16


class TestStatefulHostStats:
    def test_state_accumulates_across_microbatches(self, spark, corpus_001, tmp_path):
        from pyspark.sql import functions as F

        from pdf_parser_spark.pipeline import load_pages
        from pdf_parser_spark.streaming import stream_host_stats

        # maxFilesPerTrigger=2 over 8 shards forces multiple micro-batches,
        # so per-host state MUST carry across batches to reach batch totals
        q = stream_host_stats(
            spark, corpus_001, str(tmp_path / "ck_host"), max_files_per_trigger=2
        )
        q.awaitTermination(120)
        # update-mode memory sink: the LAST row per host is the running total
        got = {
            r.host: (r.docs, r.bytes, r.first_ts, r.last_ts)
            for r in spark.sql(
                "select * from host_stats order by docs"
            ).collect()
        }
        want = {
            r.host: (r.docs, r.bytes, r.first_ts, r.last_ts)
            for r in load_pages(spark, corpus_001)
            .groupBy(F.regexp_extract("url", r"^[a-z]+://([^/]+)", 1).alias("host"))
            .agg(
                F.count(F.lit(1)).alias("docs"),
                F.sum(F.coalesce(F.length("html"), F.lit(0))).alias("bytes"),
                F.min("warc_ts").alias("first_ts"),
                F.max("warc_ts").alias("last_ts"),
            )
            .collect()
        }
        assert got == want


class TestStreamExactDedup:
    def test_stream_dedup_matches_batch_distinct(self, spark, corpus_001, tmp_path):
        from pyspark.sql import functions as F

        from pdf_parser_spark.pipeline import load_pages
        from pdf_parser_spark.streaming import stream_exact_dedup

        out = str(tmp_path / "dedup_out")
        q = stream_exact_dedup(spark, corpus_001, out, str(tmp_path / "ck_dd"))
        q.awaitTermination(120)
        got = spark.read.parquet(out)
        # within one bounded drain the watermark horizon covers the whole
        # corpus, so the stream must emit exactly the batch-distinct set
        batch = (
            load_pages(spark, corpus_001)
            .select(
                F.substring(
                    F.sha2(
                        F.coalesce(
                            F.lower(F.trim(F.regexp_replace("text", r"\s+", " "))),
                            F.lit(""),
                        ),
                        256,
                    ), 1, 16,
                ).alias("fingerprint")
            )
            .distinct()
        )
        assert got.select("fingerprint").distinct().count() == batch.count()
        assert got.count() == got.select("fingerprint").distinct().count()
