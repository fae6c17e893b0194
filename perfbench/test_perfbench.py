"""Self-tests of the benchmark's generator, gates and metric names. No Spark.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
import sys
import tempfile
import unittest
from unittest import mock

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

import gates  # noqa: E402
import gen  # noqa: E402
import ledger  # noqa: E402
import run  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+\Z")
SMALL = {"extract_web": 80, "curate_text": 300}


def _digest(root: str) -> str:
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class _TmpDir(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp(prefix="perfbench-test-")
        patch = mock.patch.dict(gen.ROWS, SMALL)
        patch.start()
        self.addCleanup(patch.stop)
        self.addCleanup(shutil.rmtree, self.tmp, True)


class GeneratorTest(_TmpDir):
    def test_same_seed_writes_identical_bytes(self):
        for w in gen.WORKLOADS:
            a = os.path.join(self.tmp, f"{w}-a")
            b = os.path.join(self.tmp, f"{w}-b")
            self.assertEqual(gen.generate(w, 7, a), gen.generate(w, 7, b))
            self.assertEqual(_digest(a), _digest(b), w)

    def test_other_seed_writes_other_content(self):
        for w in gen.WORKLOADS:
            a = os.path.join(self.tmp, f"{w}-7")
            b = os.path.join(self.tmp, f"{w}-8")
            gen.generate(w, 7, a)
            gen.generate(w, 8, b)
            self.assertNotEqual(_digest(os.path.join(a, "pages.parquet")),
                                _digest(os.path.join(b, "pages.parquet")), w)

    def test_resume_splits_urls_between_committed_and_new(self):
        d = os.path.join(self.tmp, "r")
        meta = gen.generate("extract_web", 3, d)
        committed = set(gates.read_output(os.path.join(d, "committed"), ["url"])["url"])
        new = set(gates.read_output(os.path.join(d, "new", "pages.parquet"), ["url"])["url"])
        self.assertFalse(committed & new)
        self.assertEqual(committed | new, set(gen.read_goldens(d)))
        self.assertEqual(meta["committed_rows"], len(committed))
        self.assertEqual(len(committed), len(new))


class NamesTest(unittest.TestCase):
    def test_benchmark_json_matches_emitted_names(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        self.assertEqual([w["name"] for w in spec["workloads"]], list(gen.WORKLOADS))
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]}, run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]}, ledger.PER_LAYER)
        names = ([w["name"] for w in spec["workloads"]] + list(run.END_TO_END)
                 + list(ledger.PER_LAYER) + list(ledger.DESCRIPTORS))
        for name in names:
            self.assertRegex(name, NAME)
            self.assertLessEqual(len(name), 64)
        self.assertEqual(len(names), len(set(names)))


class KernelLedgerTest(_TmpDir):
    def test_counts_follow_the_shipped_kernel(self):
        from pdf_parser_spark import pipeline

        d = os.path.join(self.tmp, "k")
        meta = gen.generate("extract_web", 2, d)
        pages = os.path.join(d, "pages.parquet")
        original = pipeline.extract_text
        tr = ledger.Tracer()
        c = ledger.kernel_ledger(tr, pages)
        self.assertIs(pipeline.extract_text, original)
        ok = sum((out["status"] == "ok").sum() for out in
                 pipeline.extract_kernel()(iter(ledger._batches(pages))))
        html = c["kernels.htmlmain.extract_main_content.calls"]
        pdf = c["kernels.pdftext.extract_text.calls"]
        fields = "kernels.fields.extract_fields_with_spans"
        # every validated, accepted document goes to exactly one branch
        self.assertEqual(html + pdf, c["kernels.validate.calls"] - c["kernels.validate.truthy"])
        self.assertGreaterEqual(html, meta["branch_mix"]["html"])
        self.assertGreaterEqual(pdf, meta["branch_mix"]["pdf"])
        self.assertEqual(c[fields + ".calls"] - c[fields + ".errors"], ok)
        self.assertEqual(ok, meta["ok_rows"])
        for name in ("kernels.validate", "kernels.htmlmain.extract_main_content",
                     "kernels.pdftext.extract_text", fields):
            self.assertGreater(tr.total(name), 0, name)


class ExtractGateTest(_TmpDir):
    def setUp(self):
        super().setUp()
        rows = gen._extract_rows(5)
        self.table = gen._committed_table(rows)
        self.expected = {
            r["url"]: (r["golden_status"], r["golden_text"], r["golden_fields_json"])
            for r in rows
        }

    def _check(self, table):
        out = os.path.join(self.tmp, "out")
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        pq.write_table(table, os.path.join(out, "part-0.parquet"))
        return gates.check_extract(out, self.expected)

    def test_goldens_pass(self):
        self.assertEqual(self._check(self.table), (len(self.expected), 0))

    def test_one_corrupt_row_fails(self):
        text = self.table.column("text").to_pylist()
        i = next(k for k, t in enumerate(text) if t)
        text[i] = text[i] + " "
        t = self.table.set_column(4, "text", pa.array(text, pa.string()))
        self.assertEqual(self._check(t)[1], 1)

    def test_dropped_url_fails(self):
        self.assertEqual(self._check(self.table.slice(1))[1], 1)

    def test_duplicated_url_fails(self):
        t = pa.concat_tables([self.table, self.table.slice(0, 1)])
        self.assertEqual(self._check(t)[1], 1)


class CurateGateTest(_TmpDir):
    def setUp(self):
        super().setUp()
        d = os.path.join(self.tmp, "c")
        gen.generate("curate_text", 4, d)
        self.urls = list(gen.read_goldens(d))
        self.expected = gates.curate_reference(os.path.join(d, "goldens.parquet"))
        self.rows = [(u, i, t, n) for u, cs in self.expected.items() for i, t, n in cs]

    def _check(self, rows):
        out = os.path.join(self.tmp, "out")
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        cols = list(zip(*rows))
        pq.write_table(pa.table({
            "url": pa.array(cols[0], pa.string()),
            "chunk_idx": pa.array(cols[1], pa.int32()),
            "chunk_text": pa.array(cols[2], pa.string()),
            "n_tokens": pa.array(cols[3], pa.int32()),
        }), os.path.join(out, "part-0.parquet"))
        return gates.check_chunks(out, self.expected, self.urls)

    def test_reference_drops_duplicates_and_short_texts(self):
        self.assertLess(len(self.expected), len(self.urls))
        self.assertTrue(all(n <= 64 for cs in self.expected.values() for _, _, n in cs))

    def test_reference_passes(self):
        self.assertEqual(self._check(self.rows), (len(self.urls), 0))

    def test_one_corrupt_chunk_fails(self):
        rows = list(self.rows)
        u, i, t, n = rows[0]
        rows[0] = (u, i, t + "x", n)
        self.assertEqual(self._check(rows)[1], 1)

    def test_dropped_url_fails(self):
        first = self.rows[0][0]
        self.assertEqual(self._check([r for r in self.rows if r[0] != first])[1], 1)


if __name__ == "__main__":
    unittest.main()
