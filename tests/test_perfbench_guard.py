"""The benchmark's copy of the curate plan still builds the job's plan.

perfbench/ledger.py `curate_prefixes` rebuilds jobs.curate_job's plan stage
by stage, inline, so it can time each prefix. The traced benchmark run
refuses to time a copy that drifted from the job; this test fails first, so
a change to the job's extract, dedup or quality expressions (or to the
textstats helpers they call) is caught by the suite, not by the benchmark.
perfbench/ is imported read-only: no bytecode is written under it.
"""

from __future__ import annotations

import os
import sys

import pytest

PERFBENCH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench")


@pytest.fixture
def perfbench(monkeypatch):
    monkeypatch.syspath_prepend(PERFBENCH)
    monkeypatch.setattr(sys, "dont_write_bytecode", True)
    import ledger
    import workloads

    yield ledger, workloads
    # perfbench's flat module names (ledger, gates, gen, ...) leave with it
    for name, mod in list(sys.modules.items()):
        if (getattr(mod, "__file__", None) or "").startswith(PERFBENCH + os.sep):
            del sys.modules[name]


def test_curate_prefixes_build_the_job_plan(spark, corpus_001, perfbench):
    from jobs.curate_job import build_curated_chunks

    ledger, wl = perfbench
    chunks = ledger.curate_prefixes(spark, corpus_001)["chunks"]
    job = build_curated_chunks(
        spark, corpus_001, chunk_tokens=wl.CHUNK_TOKENS, overlap=wl.OVERLAP,
        min_tokens=wl.MIN_TOKENS,
    )
    assert chunks.sameSemantics(job)
