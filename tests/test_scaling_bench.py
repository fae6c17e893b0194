"""tools/scaling_bench.py: every --plan value builds against the operators
it names, so an operator signature change cannot break the bench unseen."""

from __future__ import annotations

import pytest

from tools.scaling_bench import PLANS, build_plan


@pytest.mark.parametrize("plan", PLANS)
def test_plan_builds(spark, corpus_001, plan):
    from pdf_parser_spark.pipeline import load_pages

    df = build_plan(spark, load_pages(spark, corpus_001), corpus_001, plan, 8)
    # planned, not run
    assert df._jdf.queryExecution().executedPlan() is not None
