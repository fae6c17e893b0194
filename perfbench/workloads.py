"""The two workloads: how one timed pass calls the production job, how its
committed state is restored before the pass, and how its output is gated.
Restoring and gating happen outside the timed region.
"""

from __future__ import annotations

import os
import shutil
from typing import Tuple

import gates
import gen

# the pipeline_curate_end2end chunk parameters, without the sample
CHUNK_TOKENS, OVERLAP, MIN_TOKENS = 64, 8, 10


class Workload:
    name = ""

    def __init__(self, data_dir: str, out_dir: str):
        self.data_dir = data_dir
        self.out_dir = out_dir
        self.pages_dir = os.path.join(data_dir, "pages.parquet")

    def prepare(self) -> None:
        shutil.rmtree(self.out_dir, ignore_errors=True)

    def run(self, spark) -> None:
        raise NotImplementedError

    def check(self) -> Tuple[int, int]:
        raise NotImplementedError


class ExtractWeb(Workload):
    """run_job over the mixed table, written to a fresh parquet directory."""

    name = "extract_web"
    resume = False

    def __init__(self, data_dir: str, out_dir: str):
        super().__init__(data_dir, out_dir)
        self.expected = gen.read_goldens(data_dir)

    def run(self, spark) -> None:
        from pdf_parser_spark.pipeline import run_job

        run_job(spark, self.data_dir, out_path=self.out_dir, resume=self.resume)

    def check(self) -> Tuple[int, int]:
        return gates.check_extract(self.out_dir, self.expected)


class ExtractResume(ExtractWeb):
    """run_job(resume=True) over the extract_web table, against an output
    that already holds half of its urls; the committed files are copied
    back before every pass. The traced run of extract_web measures the
    resume layer with it; it is not a timed workload of its own."""

    name = "extract_resume"
    resume = True

    def prepare(self) -> None:
        super().prepare()
        shutil.copytree(os.path.join(self.data_dir, "committed"), self.out_dir)


class CurateText(Workload):
    """build_curated_chunks over pre-extracted text, written as the curate
    job's CLI writes it; gated against a DuckDB reference."""

    name = "curate_text"

    def __init__(self, data_dir: str, out_dir: str):
        super().__init__(data_dir, out_dir)
        goldens = os.path.join(data_dir, "goldens.parquet")
        self.expected = gates.curate_reference(goldens, CHUNK_TOKENS, OVERLAP, MIN_TOKENS)
        self.urls = list(gen.read_goldens(data_dir))

    def plan(self, spark):
        from jobs.curate_job import build_curated_chunks

        return build_curated_chunks(
            spark, self.data_dir, chunk_tokens=CHUNK_TOKENS, overlap=OVERLAP,
            min_tokens=MIN_TOKENS,
        )

    def run(self, spark) -> None:
        self.plan(spark).write.mode("overwrite").parquet(self.out_dir)

    def check(self) -> Tuple[int, int]:
        return gates.check_chunks(self.out_dir, self.expected, self.urls)


WORKLOADS = {w.name: w for w in (ExtractWeb, CurateText)}
