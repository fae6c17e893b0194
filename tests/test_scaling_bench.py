"""tools/scaling_bench.py: every --plan value builds against the operators
it names, so an operator signature change cannot break the bench unseen,
and one pinned level runs the timed child end to end."""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest

from tools.scaling_bench import PLANS, build_plan, run_level


@pytest.mark.parametrize("plan", PLANS)
def test_plan_builds(spark, corpus_001, plan):
    from pdf_parser_spark.pipeline import load_pages

    df = build_plan(spark, load_pages(spark, corpus_001), corpus_001, plan)
    # planned, not run
    assert df._jdf.queryExecution().executedPlan() is not None


def test_run_level_smoke(corpus_001):
    # a fresh JVM pinned to one core times the extract plan once
    r = run_level(1, corpus_001, runs=1, trials=1, plan="extract")
    pages = pq.read_table(os.path.join(corpus_001, "pages.parquet"),
                          columns=["html", "text"]).to_pydict()
    want_bytes = (sum(len(h) for h in pages["html"] if h is not None)
                  + sum(len((t or "").encode("utf-8")) for t in pages["text"]))
    assert r["cores"] == 1 and r["sec"] > 0
    assert r["docs"] == len(pages["html"]) == 100
    assert r["bytes"] == want_bytes
