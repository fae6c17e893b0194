"""Driver-contract invariants for __spark_entry__ (regression guards).

Round 1's only hard failures were queries returning array<float> columns:
the driver's canonicalizer sorts on raw cell values and Python lists are
unhashable there. These guards keep every future queries() addition inside
the contract without waiting for a driver round.
"""

from __future__ import annotations

import pytest
from pyspark.sql.types import ArrayType, MapType

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def contract(spark):
    return entrymod.queries(), entrymod.oracle_sql()


class TestEntryContract:
    def test_every_query_has_an_oracle(self, contract):
        qs, oracles = contract
        assert set(qs) == set(oracles)

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
        import os
        import subprocess
        import sys

        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        # git metadata may be absent in exported source trees; the gate only
        # means something inside the tracked checkout
        probe = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=repo, capture_output=True
        )
        if probe.returncode != 0:
            pytest.skip("not a git checkout")
        sys.path.insert(0, os.path.join(repo, "tools"))
        import freshness_ledger

        offenders = freshness_ledger.check(entrymod)
        assert offenders == [], (
            "stale driver evidence — promote into _VERIFY_FIRST "
            f"and re-stamp: {offenders}"
        )

    def test_oracle_hash_independent_of_checkout(self, monkeypatch):
        """Oracle SQL embeds <repo>/.corpus: the ledger hash must not change
        with where the repo is checked out."""
        import os
        import sys
        from types import SimpleNamespace

        sys.path.insert(0, os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "tools"))
        import freshness_ledger

        def q(spark, sf_dir):
            return None

        def snap(repo):
            monkeypatch.setattr(freshness_ledger, "REPO", repo)
            entry = SimpleNamespace(
                queries=lambda: {"q": q},
                oracle_sql=lambda: {
                    "q": f"SELECT * FROM '{repo}/.corpus/sf0.01/pages.parquet'"
                },
            )
            return freshness_ledger.snapshot(entry)

        assert snap("/srv/a/repo") == snap("/home/b/copy")

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
