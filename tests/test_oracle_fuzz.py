"""Differential fuzz: Spark operators vs their DuckDB oracle math on random
documents (seeded). The driver's correctness gate runs one fixed dataset;
this gate proves the oracle transcriptions (md5 bit-voting, rolling-hash
window minima, band keys) hold across many random shapes — empty strings,
repeated tokens, unicode letters, long runs — not just the corpus.

Content stays ASCII-whitespace-separated: engine Unicode *semantics* (what
counts as whitespace/case) are out of scope here, the algorithms are in.
"""

from __future__ import annotations

import random

import duckdb
import pytest


def _random_docs(seed: int, n: int = 40):
    rng = random.Random(seed)
    words = ["alpha", "beta", "Gamma", "DELTA", "épsilon", "zeta", "0xff",
             "a", "bb", "ccc", "x-y", "über", "naïve", "'quote'", "commas,",
             # NBSP-joined: ONE token under ASCII-whitespace tokenization
             # (Java/RE2 \s and the aligned Python kernels); str.split()
             # would break it in two and diverge from every SQL engine
             "nb\xa0sp"]
    docs = []
    for i in range(n):
        k = rng.randrange(0, 30)
        body = " ".join(rng.choice(words) for _ in range(k))
        if rng.random() < 0.15:
            body = body + " " + body  # duplication pressure
        if rng.random() < 0.3:
            # multi-line structure for the line-ratio rules: bullets,
            # ellipsis endings, '#' symbols, stop-words, blank lines
            lines = []
            for _ in range(rng.randrange(1, 7)):
                core = " ".join(rng.choice(words + ["the", "of", "and"])
                                for _ in range(rng.randrange(0, 6)))
                pre = rng.choice(["", "- ", "* ", "  • ", "# "])
                post = rng.choice(["", "...", "…", " ..."])
                lines.append(pre + core + post)
            body = "\n".join([body] + lines)
        docs.append((i, body))
    docs.append((n, ""))  # empty
    docs.append((n + 1, "   "))
    docs.append((n + 2, "repeat " * 50))
    docs.append((n + 3, "\n\n- only bullets...\n* again…\n"))
    # ASCII-whitespace zoo between tokens: Java \s and RE2 \s (DuckDB)
    # must both treat \t \n \f \r (and \r\n) as separators — a divergence
    # shifts every \s+-split operator. \x0B (\v) is deliberately EXCLUDED:
    # Java \s includes it, this DuckDB's RE2 \s does not (probed), so \v
    # is an engine-semantics boundary like the NBSP note above — the
    # product semantics are Spark's, the oracle harness can't express it
    docs.append((n + 4, "alpha\tbeta\fGamma\rDELTA\r\nzeta  a\n\nbb"))
    return docs


@pytest.fixture(scope="module", params=[7, 1234, 99999])
def tables(request, spark):
    docs = _random_docs(request.param)
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", docs)
    return df, con


def _oracle(name: str) -> str:
    import __spark_entry__ as e

    return e.oracle_sql()[name]


class TestOracleFuzz:
    def test_simhash_bit_voting(self, tables):
        from pdf_parser_spark.operators.dedup import simhash64

        df, con = tables
        got = {r.doc_id: r.simhash for r in simhash64(df).collect()}
        want = dict(con.execute(_oracle("dedup_simhash")).fetchall())
        assert got == want

    def test_winnow_window_minima(self, tables):
        from pyspark.sql import functions as F

        from pdf_parser_spark.operators.textstats import winnow_fingerprint

        df, con = tables
        got = {
            r.doc_id: r.n
            for r in winnow_fingerprint(df)
            .select("doc_id", F.size("fingerprints").alias("n")).collect()
        }
        want = dict(con.execute(_oracle("text_winnow_fingerprint")).fetchall())
        assert got == want

    def test_minhash_signatures(self, tables):
        from pdf_parser_spark.operators.dedup import minhash_signatures

        df, con = tables
        got = {
            r.doc_id: tuple(r[f"mh_{i}"] for i in range(8))
            for r in minhash_signatures(df, num_hashes=8).collect()
        }
        want = {
            row[0]: tuple(row[1:])
            for row in con.execute(_oracle("dedup_minhash_signatures")).fetchall()
        }
        assert got == want

    def test_lsh_pair_sets(self, tables):
        from pdf_parser_spark.operators.dedup import minhash_lsh_pairs

        df, con = tables
        got = {(r.id_a, r.id_b)
               for r in minhash_lsh_pairs(df, num_hashes=16, bands=8).collect()}
        want = {tuple(r)
                for r in con.execute(_oracle("dedup_minhash_lsh_pairs")).fetchall()}
        assert got == want

    def test_exact_dedup_fingerprints(self, tables):
        from pdf_parser_spark.operators.dedup import exact_dedup

        df, con = tables
        got = {(r.fingerprint, r.keep_id, r.n_dups)
               for r in exact_dedup(df).collect()}
        want = {tuple(r) for r in con.execute(_oracle("dedup_exact")).fetchall()}
        assert got == want

    def test_decontaminate_gram_overlap(self, tables):
        from pdf_parser_spark.operators.decontaminate import decontaminate

        df, con = tables
        bench = df.where("doc_id % 20 = 0")  # same slice as the oracle
        got = {
            r.doc_id: (r.n_contaminated_grams, r.contaminated)
            for r in decontaminate(df, bench, n=8).collect()
        }
        want = {
            row[0]: (row[1], row[2])
            for row in con.execute(_oracle("clean_decontaminate")).fetchall()
        }
        assert got == want

    def test_jaccard_pairs(self, tables):
        from pyspark.sql import functions as F

        from pdf_parser_spark.operators.dedup import jaccard_pairs

        df, con = tables
        # the oracle's top 20 is a total order (jaccard desc, id_a, id_b).
        # The most documents sharing one shingle here is 3, so the pruned
        # form caps document frequency at 2: the pruning binds, and |A|,
        # |B| shrink with it
        pruned = _oracle("dedup_ngram_jaccard_pruned")
        assert pruned.count("<= 100") == 1
        tops = []
        for max_df, sql in [(None, _oracle("dedup_ngram_jaccard")),
                            (2, pruned.replace("<= 100", "<= 2"))]:
            got = [
                tuple(r) for r in jaccard_pairs(df, threshold=0.0, max_df=max_df)
                .orderBy(F.desc("jaccard"), "id_a", "id_b").limit(20).collect()
            ]
            assert got == [tuple(r) for r in con.execute(sql).fetchall()], max_df
            tops.append(got)
        assert len(tops[0]) == 20 and tops[0] != tops[1]

    def test_span_coverage_interval_union(self, tables):
        from pdf_parser_spark.operators.spandedup import duplicated_span_stats

        df, con = tables
        got = {
            r.doc_id: tuple(r)[1:]
            for r in duplicated_span_stats(df, k=10).collect()
        }
        want = {
            row[0]: tuple(row[1:])
            for row in con.execute(_oracle("dedup_span_coverage")).fetchall()
        }
        assert got == want

    def test_line_dedup_doc_frequency(self, tables):
        import __spark_entry__ as e

        from pdf_parser_spark.operators.cleaning import line_dedup

        df, con = tables
        got = {
            r.url: tuple(r)[1:]
            for r in line_dedup(
                df.selectExpr("doc_id AS url", "text"), id_col="url"
            ).collect()
        }
        # the driver oracle reads the feed pages; point it at the fuzz
        # documents table instead (same math, same aliases)
        feed = f"FROM {e._corpus_glob()} WHERE url LIKE '%/feed/%'"
        sql = _oracle("clean_line_dedup")
        assert sql.count(feed) == 2  # the rewrite must match both reads
        sql = sql.replace(
            feed, "FROM (SELECT doc_id AS url, text FROM documents)")
        want = {row[0]: tuple(row[1:]) for row in con.execute(sql).fetchall()}
        assert got == want
        assert any(n_kept < n_total for _, n_kept, n_total in got.values())

    def test_gopher_gate_rules(self, tables):
        import math
        import re

        from pdf_parser_spark.operators.gopher import gopher_quality_gate

        df, con = tables
        got = {
            r.url: tuple(r)[1:]
            for r in gopher_quality_gate(
                df.selectExpr("doc_id AS url", "text")
            ).collect()
        }
        # the driver oracle reads the extract goldens; point its `ok` CTE
        # at the fuzz documents table instead (same math, same aliases)
        sql = re.sub(
            r"SELECT url, golden_text AS text FROM read_parquet\('[^']+'\)"
            r"\s+WHERE golden_text IS NOT NULL",
            "SELECT doc_id AS url, text FROM documents",
            _oracle("clean_gopher_gate"),
        )
        assert "documents" in sql  # the rewrite must have matched
        want = {row[0]: tuple(row[1:]) for row in con.execute(sql).fetchall()}
        assert set(got) == set(want)
        for k in got:
            for a, b in zip(got[k], want[k]):
                if isinstance(a, float) or isinstance(b, float):
                    assert math.isclose(a, b, abs_tol=1e-9), (k, a, b)
                else:
                    assert a == b, (k, got[k], want[k])


def _random_embeddings(seed: int, n: int = 60, dim: int = 64):
    """Random float32 vectors, salted with exact quantization-tie values
    ((2m+1)/8192 makes x*4096 land exactly on .5 — the round-half-away
    convention must agree across Spark, DuckDB, and the operator's Python
    centroid math) and near-duplicate pairs (scaled copies share cosine 1).
    """
    import struct as _struct

    rng = random.Random(seed)

    def f32(v):  # the parquet column is float32; quantize through it
        return _struct.unpack("f", _struct.pack("f", v))[0]

    vecs = []
    for i in range(n):
        v = [f32(rng.uniform(-0.5, 0.5)) for _ in range(dim)]
        if i % 7 == 0:  # exact .5 ties on the quant grid, both signs
            v[0] = f32((2 * rng.randrange(0, 1000) + 1) / 8192)
            v[1] = f32(-(2 * rng.randrange(0, 1000) + 1) / 8192)
        if i % 11 == 3:  # scaled copy of an earlier vector: cosine == 1
            base = vecs[rng.randrange(0, len(vecs))][1]
            v = [f32(x * 0.5) for x in base]
        vecs.append((i, v))
    return vecs


class TestSemDeDupOracleFuzz:
    # DuckDB stays the independent reference at a large k too (a
    # per-centroid expression would hold ~60 nodes per centroid there);
    # 256 vectors leave ~4 per cluster, so planted duplicates still meet
    @pytest.mark.parametrize("seed,k,n", [
        *(pytest.param(s, 8, 60, id=str(s)) for s in (11, 4242, 777)),
        *(pytest.param(s, 64, 256, id=f"{s}-k64") for s in (11, 4242, 777)),
    ])
    def test_semdedup_exact_across_engines(self, spark, seed, k, n):
        from pdf_parser_spark.operators.semdedup import semdedup

        vecs = _random_embeddings(seed, n=n)
        df = spark.createDataFrame(
            vecs, "vec_id bigint, embedding array<float>")
        got = {r.vec_id: (r.cluster, r.dist2, r.keep)
               for r in semdedup(df, k=k, iters=2, dim=64,
                                 threshold=(2, 5)).collect()}
        oracle = _oracle("ann_semdedup")
        assert oracle.count("LIMIT 8") == 1
        con = duckdb.connect()
        con.execute(
            "CREATE TABLE embeddings (vec_id BIGINT, embedding FLOAT[])")
        con.executemany("INSERT INTO embeddings VALUES (?, ?)", vecs)
        want = {row[0]: (row[1], row[2], row[3])
                for row in con.execute(
                    oracle.replace("LIMIT 8", f"LIMIT {k}")).fetchall()}
        assert got == want
        assert any(not keep for _, _, keep in got.values())  # dups fire
