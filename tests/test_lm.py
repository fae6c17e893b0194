"""Char-trigram LM quality scoring (CCNet-style perplexity filter)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def model(spark):
    from pdf_parser_spark.operators.lm import train_char_trigram_lm

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    return train_char_trigram_lm(docs)


class TestTraining:
    def test_model_shape_and_determinism(self, spark, model):
        from pdf_parser_spark.operators.lm import train_char_trigram_lm

        tri, bi, vocab = model
        assert len(tri) > 100 and vocab > 10
        assert all(len(t) == 3 for t in tri)
        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        # a blank document adds no trigram (and must not crash slice())
        blank = docs.limit(1).withColumn("text", F.lit(" \t"))
        again = train_char_trigram_lm(docs.union(blank))
        assert again[0] == tri and again[2] == vocab


class TestScoring:
    def test_natural_beats_gibberish(self, spark, model):
        from pdf_parser_spark.operators.lm import lm_bits_per_char

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        sample = docs.limit(1).collect()[0].text
        rows = spark.createDataFrame(
            [
                (0, sample),                      # in-distribution
                (1, "qzxj wvqk zzxq jjqx qqqz"),  # gibberish
                (2, "   "),                       # empty after norm
            ],
            "doc_id bigint, text string",
        )
        got = {r.doc_id: r.bits_per_char for r in lm_bits_per_char(rows, model).collect()}
        assert got[0] < got[1]
        assert got[2] is None

    def test_flags_threshold(self, spark, model):
        from pdf_parser_spark.operators.lm import lm_bits_per_char, lm_quality_flags

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        flags = {r.doc_id: r.keep for r in lm_quality_flags(docs, model).collect()}
        # corpus text scored by a model trained on itself must overwhelmingly pass
        assert sum(flags.values()) >= 0.9 * len(flags)

    def test_deterministic_scores(self, spark, model):
        from pdf_parser_spark.operators.lm import lm_bits_per_char

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(20)
        a = {r.doc_id: r.bits_per_char for r in lm_bits_per_char(docs, model).collect()}
        b = {r.doc_id: r.bits_per_char for r in lm_bits_per_char(docs, model).collect()}
        assert a == b


class TestFrozenLM:
    def test_frozen_matches_fresh_training_at_sf001(self, spark):
        # drift gate for tools/freeze_models.py: the shipped artifact must be
        # exactly what a fresh distributed training run produces
        from pdf_parser_spark.operators.lm import train_char_trigram_lm
        from pdf_parser_spark.operators.models import load_frozen_lm

        docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
        fresh_tri, fresh_bi, fresh_v = train_char_trigram_lm(docs)
        tri, bi, v = load_frozen_lm()
        assert tri == fresh_tri and bi == fresh_bi and v == fresh_v

    def test_frozen_artifacts_load_from_the_zip(self, tmp_path):
        # spark-submit ships tools/package.py's zip: both artifacts must load
        # from it with no checkout on the path
        import json
        import os
        import subprocess
        import sys

        from pdf_parser_spark.operators.models import (
            load_frozen_bpe, load_frozen_lm,
        )

        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        zpath = subprocess.run(
            [sys.executable, os.path.join(repo, "tools", "package.py")],
            capture_output=True, text=True, check=True,
        ).stdout.strip()
        code = (
            "import json; from pdf_parser_spark.operators import models; "
            "print(json.dumps([models.__file__, models.load_frozen_lm(), "
            "models.load_frozen_bpe()]))"
        )
        out = subprocess.run(
            [sys.executable, "-c", code], cwd=tmp_path,
            env={**os.environ, "PYTHONPATH": zpath},
            capture_output=True, text=True, check=True,
        ).stdout
        where, lm, bpe = json.loads(out)
        assert where.startswith(zpath)
        assert [lm, bpe] == json.loads(
            json.dumps([load_frozen_lm(), load_frozen_bpe()]))
