"""Training-data shaping ops (operators/chunking.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pdf_parser_spark.operators.chunking import (
    chunk_documents, deterministic_sample, pack_documents,
)


class TestChunkDocuments:
    def test_overlap_and_tail(self, spark):
        words = " ".join(f"w{i}" for i in range(10))
        df = spark.createDataFrame([(0, words)], "doc_id bigint, text string")
        rows = sorted(
            chunk_documents(df, chunk_tokens=4, overlap=1).collect(),
            key=lambda r: r.chunk_idx,
        )
        # stride 3 over 10 tokens: starts 0,3,6 — the last chunk reaches the
        # end exactly (start bound n-overlap guarantees tail coverage with
        # no degenerate all-overlap chunk)
        assert [r.chunk_text for r in rows] == [
            "w0 w1 w2 w3", "w3 w4 w5 w6", "w6 w7 w8 w9",
        ]
        assert [r.n_tokens for r in rows] == [4, 4, 4]
        # consecutive chunks share exactly `overlap` tokens
        assert rows[0].chunk_text.split()[-1] == rows[1].chunk_text.split()[0]

    def test_empty_doc_yields_one_empty_chunk(self, spark):
        df = spark.createDataFrame([(0, "")], "doc_id bigint, text string")
        rows = chunk_documents(df).collect()
        assert len(rows) == 1 and rows[0].n_tokens == 0

    def test_coverage_no_token_lost(self, spark):
        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        chunks = chunk_documents(docs, chunk_tokens=16, overlap=4)
        got = chunks.groupBy("doc_id").agg(
            F.sum("n_tokens").alias("chunked"),
            F.max("chunk_idx").alias("last"),
        )
        base = docs.select(
            "doc_id",
            F.size(F.filter(F.split("text", r"\s+"), lambda x: x != "")).alias("n"),
        )
        j = got.join(base, "doc_id").collect()
        # sum of chunk tokens = n + overlap*(n_chunks-1): every token covered
        assert all(r.chunked == r.n + 4 * r.last for r in j)

    @pytest.mark.parametrize("overlap", [4, -1])
    def test_overlap_must_be_smaller(self, spark, overlap):
        # a negative overlap strides past tokens that no chunk covers
        df = spark.createDataFrame([(0, "a b")], "doc_id bigint, text string")
        with pytest.raises(ValueError):
            chunk_documents(df, chunk_tokens=4, overlap=overlap)


class TestPackDocuments:
    def test_offsets_are_contiguous_per_shard(self, spark):
        rows = [(i, i % 2, "tok " * (5 + i)) for i in range(8)]
        df = spark.createDataFrame(rows, "doc_id bigint, shard int, text string")
        out = sorted(
            pack_documents(df, token_budget=10, shard_col="shard").collect(),
            key=lambda r: (r.shard, r.doc_id),
        )
        for shard in (0, 1):
            expect = 0
            for r in [x for x in out if x.shard == shard]:
                assert r.stream_offset == expect
                assert r.pack_id == expect // 10
                expect += r.n_tokens


class TestDeterministicSample:
    def test_stable_across_runs(self, spark):
        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        a = {r.doc_id for r in deterministic_sample(docs, rate=0.3).collect()}
        b = {r.doc_id for r in deterministic_sample(docs, rate=0.3).collect()}
        assert a == b and 0 < len(a) < docs.count()

    def test_rate_monotone_nesting(self, spark):
        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        small = {r.doc_id for r in deterministic_sample(docs, rate=0.1).collect()}
        big = {r.doc_id for r in deterministic_sample(docs, rate=0.5).collect()}
        assert small <= big  # threshold sampling nests by construction

    def test_rate_threshold_is_not_truncated(self, spark):
        # md5 bucket of "k1772" is exactly 5699 of 10,000, and
        # int(0.57 * 10000) == 5699 would drop it at rate 0.57
        df = spark.createDataFrame([("k1772",)], "doc_id string")
        assert deterministic_sample(df, rate=0.57).count() == 1

    @pytest.mark.parametrize("rate", [1.5, -0.1])
    def test_rate_outside_unit_interval_raises(self, spark, corpus_001, rate):
        # 1.5 would keep every row and -0.1 none, both silently; the curate
        # job's --sample-rate reaches the same check
        from jobs.curate_job import build_curated_chunks

        df = spark.createDataFrame([("k1772",)], "doc_id string")
        with pytest.raises(ValueError, match="rate"):
            deterministic_sample(df, rate=rate)
        with pytest.raises(ValueError, match="rate"):
            build_curated_chunks(spark, corpus_001, sample_rate=rate)


class TestPackByTokensCol:
    def test_external_token_counts_drive_packing(self, spark):
        from pdf_parser_spark.operators.chunking import pack_documents

        rows = [(i, i % 2, 100 + i) for i in range(6)]
        df = spark.createDataFrame(rows, "doc_id bigint, shard int, n bigint")
        out = sorted(
            pack_documents(df, token_budget=150, shard_col="shard",
                           tokens_col="n").collect(),
            key=lambda r: (r.shard, r.doc_id),
        )
        for shard in (0, 1):
            expect = 0
            for r in [x for x in out if x.shard == shard]:
                assert r.n_tokens == 100 + r.doc_id  # taken from the column
                assert r.stream_offset == expect
                assert r.pack_id == expect // 150
                expect += r.n_tokens
