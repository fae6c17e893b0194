"""Driver-contract invariants for __spark_entry__ (regression guards).

Round 1's only hard failures were queries returning array<float> columns:
the driver's canonicalizer sorts on raw cell values and Python lists are
unhashable there. These guards keep every future queries() addition inside
the contract without waiting for a driver round.
"""

from __future__ import annotations

import importlib.util
import json
import os
import sys

import pytest
from pyspark.sql.types import ArrayType, MapType

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.001"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))
import freshness_ledger  # noqa: E402


def _load_stub(directory, filename, text):
    """Write `text` to directory/filename and import it as a module."""
    directory.mkdir(parents=True, exist_ok=True)
    path = directory / filename
    path.write_text(text)
    spec = importlib.util.spec_from_file_location(path.stem, path)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


@pytest.fixture(scope="module")
def contract(spark):
    return entrymod.queries(), entrymod.oracle_sql()


class TestEntryContract:
    def test_every_query_has_an_oracle(self, contract):
        qs, oracles = contract
        assert set(qs) == set(oracles)

    def test_verify_window_is_full(self, contract):
        """_VERIFY_FIRST fills the driver's window exactly: a short or
        duplicated list lets the next query in dict order in unchosen."""
        qs, _ = contract
        names = entrymod._VERIFY_FIRST
        assert len(set(names)) == len(names) == freshness_ledger.WINDOW
        assert set(names) <= set(qs)

    def test_no_query_returns_array_or_map_columns(self, spark, contract):
        qs, _ = contract
        offenders = []
        for name, fn in qs.items():
            schema = fn(spark, SF_DIR).schema
            for f in schema.fields:
                if isinstance(f.dataType, (ArrayType, MapType)):
                    offenders.append((name, f.name, f.dataType.simpleString()))
        assert offenders == []

    def test_entry_returns_stable_schema(self, spark):
        df = entrymod.entry(spark)
        assert df.columns == [
            "url", "file_hash", "method", "text", "fields_json", "status", "error",
        ]

    def test_oracle_freshness(self):
        """VERDICT r3 item 8: a query whose implementing module (or its own
        definition / oracle SQL) changed since its last driver-green round
        must sit inside the first-50 verification window, or this gate goes
        red. tools/freshness_ledger.py holds the per-query last-verified
        commit; fix a violation by promoting the query into _VERIFY_FIRST
        and running `python tools/freshness_ledger.py promote`."""
        import subprocess

        # git metadata may be absent in exported source trees; the gate only
        # means something inside the tracked checkout
        probe = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=REPO, capture_output=True
        )
        if probe.returncode != 0:
            pytest.skip("not a git checkout")

        offenders = freshness_ledger.check(entrymod)
        assert offenders == [], (
            "stale driver evidence — promote into _VERIFY_FIRST "
            f"and re-stamp: {offenders}"
        )

    def test_oracle_hash_independent_of_checkout(self, monkeypatch, tmp_path):
        """Oracle SQL and path constants embed <repo>: the ledger hashes must
        not change with where the repo is checked out."""
        stub = (
            "import os\n"
            "CORPUS_01 = os.path.join(os.path.dirname(os.path.abspath("
            "__file__)), '.corpus', 'sf0.01')\n\n"
            "def queries():\n"
            "    def q(spark, sf_dir):\n"
            "        return CORPUS_01\n"
            "    return {'q': q}\n\n"
            "def oracle_sql():\n"
            "    return {'q': f\"SELECT * FROM '{CORPUS_01}/pages.parquet'\"}\n"
        )

        def snap(repo):
            monkeypatch.setattr(freshness_ledger, "REPO", str(repo))
            entry = _load_stub(repo, "stub_entry.py", stub)
            return entry.CORPUS_01, freshness_ledger.snapshot(entry)

        (path_a, snap_a), (path_b, snap_b) = (
            snap(tmp_path / "a" / "repo"), snap(tmp_path / "b" / "copy"))
        assert path_a != path_b
        assert snap_a == snap_b

    def test_entry_helper_change_is_a_violation(self, monkeypatch, tmp_path):
        """An edit to an entry helper a stamped off-window query calls (the
        `_events(...).limit(3)` probe) turns the gate red."""
        helper = ("    return spark.read.parquet("
                  "os.path.join(sf_dir, 'events.parquet'))TAIL\n")
        stub = (
            "import os\n\n"
            "def _events(spark, sf_dir):\n" + helper + "\n"
            "def queries():\n"
            "    def q(spark, sf_dir):\n"
            "        return _events(spark, sf_dir)\n"
            "    return {'q': q}\n\n"
            "def oracle_sql():\n"
            "    return {'q': 'SELECT 1'}\n"
        )
        ledger = tmp_path / "ledger.json"
        monkeypatch.setattr(freshness_ledger, "LEDGER", str(ledger))
        monkeypatch.setattr(freshness_ledger, "WINDOW", 0)
        stamped = _load_stub(tmp_path, "v1.py", stub.replace("TAIL", ""))
        ledger.write_text(json.dumps({"queries": {
            "q": {"commit": "0" * 40,
                  **freshness_ledger.snapshot(stamped)["q"]}}}))
        assert freshness_ledger.check(stamped) == []
        edited = _load_stub(tmp_path, "v2.py", stub.replace("TAIL", ".limit(3)"))
        assert [n for n, _ in freshness_ledger.check(edited)] == ["q"]

    def test_namespace_package_import_enters_closure(self, monkeypatch,
                                                     tmp_path):
        """A query that imports a module of a repo-root namespace package
        (as the curate queries import jobs.curate_job) has that file and
        the package files it imports, transitively, in its closure; a
        dotted import names the module's file, not parent __init__.py."""
        files = {
            "nsjob/job.py": "from lib.mod import f\n",
            "lib/__init__.py": "",
            "lib/mod.py": "from .util import g\n\ndef f():\n    return g()\n",
            "lib/util.py": "def g():\n    return 1\n",
            "lib/unused.py": "",
        }
        for rel, text in files.items():
            (tmp_path / rel).parent.mkdir(parents=True, exist_ok=True)
            (tmp_path / rel).write_text(text)
        monkeypatch.setattr(freshness_ledger, "REPO", str(tmp_path))
        entry = _load_stub(tmp_path, "stub_entry.py", (
            "def queries():\n"
            "    def q(spark, sf_dir):\n"
            "        from nsjob.job import f\n"
            "        return f()\n"
            "    return {'q': q}\n"
        ))
        assert freshness_ledger.query_closures(entry)["q"] == {
            "nsjob/job.py", "lib/mod.py", "lib/util.py"}

    def test_curate_queries_close_over_the_job(self):
        closures = freshness_ledger.query_closures(entrymod)
        for name in ("pipeline_extract_dedup_chunk", "pipeline_curate_end2end"):
            assert {"jobs/curate_job.py",
                    "pdf_parser_spark/pipeline.py"} <= closures[name], name

    def test_entry_scope_import_enters_closure(self, tmp_path):
        """A name the entry module imports at module scope from the package
        puts that module in the closure of every query that uses it, with
        no hand-kept alias table to forget it in."""
        import importlib.util
        import os
        import sys

        sys.path.insert(0, os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "tools"))
        import freshness_ledger

        stub = tmp_path / "stub_entry.py"
        stub.write_text(
            "from pdf_parser_spark.sources.exif_fixture import "
            "ensure_exif_fixture\n\n"
            "def queries():\n"
            "    def q(spark, sf_dir):\n"
            "        return ensure_exif_fixture(sf_dir)\n"
            "    return {'q': q}\n"
        )
        spec = importlib.util.spec_from_file_location("stub_entry", stub)
        entry = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(entry)
        closures = freshness_ledger.query_closures(entry)
        assert "pdf_parser_spark/sources/exif_fixture.py" in closures["q"]

    def test_oracle_dtype_parity(self, spark, contract):
        """The r1/r2 red rows (text_bpe_token_counts, olap_event_pivot) were
        value-equal but hash-mismatched: DuckDB sum()/sum(CASE) returns
        HUGEINT which pandas renders float64, while Spark returns int64 —
        the driver's value hash sees 190.0 vs 190. HUGEINT maps to float64
        even on EMPTY DuckDB frames, so comparing pandas dtype kinds on
        limit-0 results catches the whole artifact class without executing
        the queries. Fix mismatches by CASTing the oracle (BIGINT) or the
        Spark side — never by weakening this gate."""
        import duckdb

        qs, oracles = contract
        con = duckdb.connect()
        sf01 = "/root/testdata/sf0.01"
        import os
        for t in ("region nation customer supplier part orders lineitem "
                  "events documents embeddings").split():
            p = os.path.join(sf01, f"{t}.parquet")
            if os.path.exists(p):
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')"
                )

        def kinds(pdf):
            # u->i (unsigned ints hash like ints); M unit differences
            # (ns vs us) are not an artifact
            return {
                c: ("i" if pdf[c].dtype.kind == "u" else pdf[c].dtype.kind)
                for c in pdf.columns
            }

        offenders = []
        for name, fn in qs.items():
            if name not in oracles:
                continue
            sk = kinds(fn(spark, sf01).limit(0).toPandas())
            dk = kinds(
                con.execute(
                    f"SELECT * FROM ({oracles[name]}) LIMIT 0"
                ).df()
            )
            if set(sk) != set(dk):
                offenders.append((name, "columns", sorted(sk), sorted(dk)))
                continue
            for c in sk:
                if sk[c] != dk[c]:
                    offenders.append((name, c, sk[c], dk[c]))
        assert offenders == [], offenders
