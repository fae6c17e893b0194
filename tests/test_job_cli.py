"""The spark-submit job entry (jobs/extract_job.py) driven as a subprocess —
the deployment surface users actually launch."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import duckdb
import pytest
from pyspark.sql import functions as F


REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def corpus():
    from pdf_parser_spark.corpus import ensure_corpus

    return ensure_corpus(0.001)


def _run(args):
    return subprocess.run(
        [sys.executable, "jobs/extract_job.py", *args],
        capture_output=True, text=True, cwd=REPO, timeout=300,
    )


class TestExtractJobCli:
    def test_table_source_end_to_end(self, corpus, tmp_path):
        out = str(tmp_path / "out")
        r = _run(["--input", corpus, "--output", out])
        assert r.returncode == 0, r.stderr[-2000:]
        counts = dict(duckdb.sql(
            f"SELECT status, count(*) FROM read_parquet('{out}/*.parquet') GROUP BY 1"
        ).fetchall())
        assert counts == {"ok": 84, "error": 16}

    def test_resume_skips_committed(self, corpus, tmp_path):
        out = str(tmp_path / "out2")
        _run(["--input", corpus, "--output", out])
        r = _run(["--input", corpus, "--output", out])
        assert r.returncode == 0
        assert "'docs': 0" in r.stderr  # second run processes nothing
        n = duckdb.sql(
            f"SELECT count(DISTINCT url), count(*) FROM read_parquet('{out}/*.parquet')"
        ).fetchone()
        assert n[0] == n[1] == 100  # no duplicate urls after the rerun

    def test_resume_fails_on_unreadable_commit(self, corpus, tmp_path):
        # committed part files that cannot be read must fail the job, not
        # read as "nothing committed" and re-extract every url again (every
        # part is cut, so the one schema inference reads is cut too)
        out = str(tmp_path / "out_bad")
        assert _run(["--input", corpus, "--output", out]).returncode == 0
        for f in os.listdir(out):
            if f.endswith(".parquet"):
                with open(os.path.join(out, f), "r+b") as fh:
                    fh.truncate(os.path.getsize(fh.name) // 2)
        before = sorted(os.listdir(out))
        r = _run(["--input", corpus, "--output", out])
        assert r.returncode != 0
        assert sorted(os.listdir(out)) == before  # nothing appended

    def test_warc_source_end_to_end(self, spark, corpus, tmp_path):
        # the spark-submit ingestion path: WARC archives in, one extraction
        # row per archived url, equal to extract_pipeline over the table
        from pdf_parser_spark.pipeline import extract_pipeline, load_pages
        from pdf_parser_spark.sources.warc_fixture import ensure_warc_fixture

        out = str(tmp_path / "out_warc")
        r = _run(["--input", ensure_warc_fixture(corpus), "--source", "warc",
                  "--output", out])
        assert r.returncode == 0, r.stderr[-2000:]
        got = duckdb.sql(
            f"SELECT url, status, text, fields_json "
            f"FROM read_parquet('{out}/*.parquet') ORDER BY url"
        ).fetchall()
        urls = [u for u, *_ in got]
        assert len(urls) == len(set(urls)) == 50
        want = sorted(
            tuple(row) for row in extract_pipeline(load_pages(spark, corpus))
            .where(F.col("url").isin(urls))
            .select("url", "status", "text", "fields_json").collect()
        )
        assert got == want

    def test_binary_source_ai_method_repartition(self, spark, corpus, tmp_path):
        # loose files in, the ai method, the forced url-hash exchange: the
        # rows equal the in-process plan over the same directory
        import pyarrow.parquet as pq

        from pdf_parser_spark.pipeline import extract_pipeline
        from pdf_parser_spark.sources import read_binary_files

        src = tmp_path / "loose"
        src.mkdir()
        pages = pq.read_table(os.path.join(corpus, "pages.parquet"),
                              columns=["url", "html"]).to_pylist()[:20]
        for p in pages:  # one of them is a zero-byte file
            (src / p["url"].rsplit("/", 1)[-1]).write_bytes(p["html"])
        out = str(tmp_path / "out_bin")
        r = _run(["--input", str(src), "--source", "binary", "--method", "ai",
                  "--repartition", "3", "--output", out])
        assert r.returncode == 0, r.stderr[-2000:]
        got = duckdb.sql(
            f"SELECT url, status, text, fields_json "
            f"FROM read_parquet('{out}/*.parquet') ORDER BY url"
        ).fetchall()
        want = sorted(
            tuple(row) for row in
            extract_pipeline(read_binary_files(spark, str(src)), method="ai")
            .select("url", "status", "text", "fields_json").collect()
        )
        assert len(got) == len(os.listdir(src)) and got == want
        assert {s for _, s, _, _ in got} == {"ok", "error"}
        empty = duckdb.sql(
            f"SELECT status, error FROM read_parquet('{out}/*.parquet') "
            f"WHERE url LIKE '%/item00000019'"
        ).fetchall()
        assert empty == [("error", "empty document")]

    @pytest.mark.parametrize("value", ["0", "-3"])
    def test_repartition_below_one_is_a_usage_error(self, value, capsys):
        # rejected by argparse, exit 2, before any Spark session starts
        from jobs.extract_job import main

        with pytest.raises(SystemExit) as e:
            main(["--input", "in", "--output", "out", "--repartition", value])
        assert e.value.code == 2
        assert "--repartition: must be >= 1" in capsys.readouterr().err

    def test_resume_flag_is_a_usage_error(self, capsys):
        # every run resumes: a launch line that still passes the removed
        # flag stops at argparse, exit 2, before any Spark session starts
        from jobs.extract_job import main

        with pytest.raises(SystemExit) as e:
            main(["--input", "in", "--output", "out", "--resume"])
        assert e.value.code == 2
        assert "unrecognized arguments: --resume" in capsys.readouterr().err

    def test_lineage_output(self, corpus, tmp_path):
        out, lin = str(tmp_path / "out3"), str(tmp_path / "lineage")
        r = _run(["--input", corpus, "--output", out, "--lineage-output", lin])
        assert r.returncode == 0
        rows = duckdb.sql(
            f"SELECT sum(docs), sum(ok), sum(errors) FROM read_parquet('{lin}/*.parquet')"
        ).fetchone()
        assert tuple(int(x) for x in rows) == (100, 84, 16)


class TestCurateJobCli:
    def test_end_to_end_chunks(self, corpus, tmp_path):
        out = str(tmp_path / "chunks")
        r = subprocess.run(
            [sys.executable, "jobs/curate_job.py", "--input", corpus,
             "--output", out, "--chunk-tokens", "64", "--overlap", "8"],
            capture_output=True, text=True, cwd=REPO, timeout=300,
        )
        assert r.returncode == 0, r.stderr[-2000:]
        rows = duckdb.sql(
            f"SELECT count(*), count(DISTINCT url), max(n_tokens) "
            f"FROM read_parquet('{out}/*.parquet')"
        ).fetchone()
        assert rows[0] > 0 and rows[1] > 0 and rows[2] <= 64
        # the printed count comes from the write itself, not a re-read
        assert f"chunks written: {rows[0]}\n" in r.stderr

    def test_sampling_flag_reduces_docs(self, corpus, tmp_path):
        out = str(tmp_path / "chunks_s")
        r = subprocess.run(
            [sys.executable, "jobs/curate_job.py", "--input", corpus,
             "--output", out, "--sample-rate", "0.3"],
            capture_output=True, text=True, cwd=REPO, timeout=300,
        )
        assert r.returncode == 0, r.stderr[-2000:]
        n_docs = duckdb.sql(
            f"SELECT count(DISTINCT url) FROM read_parquet('{out}/*.parquet')"
        ).fetchone()[0]
        assert 0 < n_docs < 84  # strict subset of the 84 ok docs

    def test_min_tokens_gate(self, spark, corpus, tmp_path):
        # the job's rows are the in-process plan's at the same settings, and
        # a stricter gate keeps fewer documents than the default one
        from jobs.curate_job import build_curated_chunks

        out = str(tmp_path / "chunks_m")
        r = subprocess.run(
            [sys.executable, "jobs/curate_job.py", "--input", corpus,
             "--output", out, "--chunk-tokens", "64", "--overlap", "8",
             "--min-tokens", "200"],
            capture_output=True, text=True, cwd=REPO, timeout=300,
        )
        assert r.returncode == 0, r.stderr[-2000:]
        got = duckdb.sql(
            f"SELECT url, chunk_idx, chunk_text, n_tokens "
            f"FROM read_parquet('{out}/*.parquet') ORDER BY url, chunk_idx"
        ).fetchall()
        want = sorted(
            tuple(row) for row in build_curated_chunks(spark, corpus, 64, 8, 200)
            .select("url", "chunk_idx", "chunk_text", "n_tokens").collect()
        )
        assert got and got == want
        default_urls = (
            build_curated_chunks(spark, corpus, 64, 8)
            .select("url").distinct().count()
        )
        assert len({u for u, *_ in got}) < default_urls


class TestParallelismInvariance:
    def test_local1_equals_local8(self, corpus, tmp_path):
        # SURVEY §5(d): the job's output must be a pure function of the
        # input, independent of parallelism (modulo row order)
        import os

        outs = {}
        for n in (1, 8):
            out = str(tmp_path / f"out_n{n}")
            env = {**os.environ,
                   "PYSPARK_SUBMIT_ARGS": f"--master local[{n}] pyspark-shell"}
            r = subprocess.run(
                [sys.executable, "jobs/extract_job.py",
                 "--input", corpus, "--output", out],
                capture_output=True, text=True, cwd=REPO,
                timeout=300, env=env,
            )
            assert r.returncode == 0, r.stderr[-2000:]
            outs[n] = out
        q = ("SELECT url, file_hash, method, text, fields_json, status, error "
             "FROM read_parquet('{}/*.parquet') ORDER BY url")
        a = duckdb.sql(q.format(outs[1])).fetchall()
        b = duckdb.sql(q.format(outs[8])).fetchall()
        assert len(a) == 100 and a == b


@pytest.mark.parametrize("job", ["extract_job.py", "curate_job.py"])
def test_job_imports_the_package_on_the_path(job, tmp_path):
    # spark-submit --py-files puts the zip on the driver's path: the job must
    # import that package, the one its executors run, not the checkout next
    # to it; with nothing on the path, the checkout is the fallback
    import zipfile

    shipped = str(tmp_path / "pdf_parser_spark.zip")
    with zipfile.ZipFile(shipped, "w") as z:
        z.writestr("pdf_parser_spark/__init__.py", "")
    code = ("import runpy, sys; runpy.run_path(sys.argv[1]); "
            "import pdf_parser_spark; print(pdf_parser_spark.__file__)")
    found = {}
    for pythonpath in (shipped, ""):
        r = subprocess.run(
            [sys.executable, "-c", code, os.path.join(REPO, "jobs", job)],
            capture_output=True, text=True, cwd=str(tmp_path), timeout=60,
            env={**os.environ, "PYTHONPATH": pythonpath},
        )
        assert r.returncode == 0, r.stderr[-2000:]
        found[pythonpath] = r.stdout.strip()
    assert found[shipped] == os.path.join(shipped, "pdf_parser_spark", "__init__.py")
    assert found[""] == os.path.join(REPO, "pdf_parser_spark", "__init__.py")
