"""Whole-surface differential fuzz: run the REAL driver pairings —
queries()[name] on Spark vs oracle_sql()[name] on DuckDB — over random
seeded tables, not the fixed testdata. Anything that only worked by
coincidence of the sf0.01 data (hash math, rounding, NULL paths, window
frames) fails here. Excludes pages/goldens-backed queries (their oracles
read fixed corpus paths) and fixture-backed media/WARC queries.
"""

from __future__ import annotations

import datetime
import os
import random

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import __spark_entry__ as entrymod
from tools.check_oracles import compare

SEED = 20260817

DOC_QUERIES = [
    "dedup_exact", "dedup_minhash_signatures", "dedup_minhash_lsh_pairs",
    "dedup_minhash_lsh_pairs_capped", "dedup_ngram_jaccard",
    "dedup_ngram_jaccard_pruned", "dedup_simhash", "dedup_simhash_pairs",
    "dedup_clusters", "dedup_clusters_capped",
    "text_token_count", "text_quality_score",
    "text_lang_id", "text_fingerprint", "text_winnow_fingerprint",
    "text_lm_quality", "text_bpe_token_counts", "clean_repetition_flags",
    "shape_chunk_documents", "shape_pack_documents",
    "shape_deterministic_sample", "shape_pack_bpe_tokens", "udaf_geomean_chars",
    "udf_groupmap_zscore", "p12_display_name_join", "w1_topk_limit",
    "w2_label_band_filter",
]
EMB_QUERIES = [
    "ann_bruteforce_topk", "ann_embedding_near_dup", "ann_lsh_bucketed_topk",
    "ann_bucketed_near_dup", "ann_knn_join", "ann_dup_clusters",
]
EVENT_QUERIES = [
    "p11_json_sniff", "p11b_typed_json_parse", "temporal_sessionize",
    "temporal_session_window_native", "olap_value_quantiles",
    "olap_event_pivot", "olap_event_moving_avg", "olap_event_cube",
]
RELATIONAL_QUERIES = [
    "temporal_asof_join", "temporal_interval_join", "olap_pricing_summary",
    "olap_user_activity_fullouter",
    "olap_regional_revenue", "olap_order_priority", "olap_priority_rollup",
]


def _make_tables(tmpdir: str) -> None:
    rng = random.Random(SEED)
    words = ["the", "quick", "brown", "Fox", "and", "of", "to", "lazy",
             "dog", "spark", "parquet", "shuffle", "x1", "y2", "z-3",
             "naïve", "über", "###", "..."]
    langs = ["en", "es", "de", "xx"]
    docs = []
    for i in range(50):
        k = rng.randrange(0, 60)
        t = " ".join(rng.choice(words) for _ in range(k))
        if rng.random() < 0.2:
            t = t + "\n" + t  # duplicate lines / near-dup pressure
        docs.append((i, t, rng.choice(langs), len(t)))
    docs += [(50, "", "en", 0), (51, "solo", "es", 4),
             (52, "\tfoo bar", "en", 8)]
    pq.write_table(
        pa.Table.from_pydict(
            {"doc_id": [d[0] for d in docs], "text": [d[1] for d in docs],
             "lang": [d[2] for d in docs], "n_chars": [d[3] for d in docs]},
            schema=pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                              ("lang", pa.string()), ("n_chars", pa.int64())]),
        ),
        os.path.join(tmpdir, "documents.parquet"),
    )
    vecs = [
        (i, [round(rng.uniform(-1, 1), 4) for _ in range(16)], rng.randrange(4))
        for i in range(60)
    ]
    pq.write_table(
        pa.Table.from_pydict(
            {"vec_id": [v[0] for v in vecs],
             "embedding": [v[1] for v in vecs],
             "label": [v[2] for v in vecs]},
            schema=pa.schema([("vec_id", pa.int64()),
                              ("embedding", pa.list_(pa.float32())),
                              ("label", pa.int32())]),
        ),
        os.path.join(tmpdir, "embeddings.parquet"),
    )
    base = datetime.datetime(2024, 3, 1)
    events = []
    for i in range(400):
        events.append((
            i,
            base + datetime.timedelta(seconds=rng.randrange(0, 3_000_000)),
            rng.randrange(12),
            rng.choice(["click", "error", "purchase", "signup", "view"]),
            round(rng.uniform(0, 50), 2),
            '{"k": %d}' % rng.randrange(100),
        ))
    pq.write_table(
        pa.Table.from_pydict(
            {"event_id": [e[0] for e in events],
             "ts": [e[1] for e in events],
             "user_id": [e[2] for e in events],
             "event_type": [e[3] for e in events],
             "value": [e[4] for e in events],
             "props": [e[5] for e in events]},
            schema=pa.schema([("event_id", pa.int64()),
                              ("ts", pa.timestamp("us")),
                              ("user_id", pa.int64()),
                              ("event_type", pa.string()),
                              ("value", pa.float64()),
                              ("props", pa.string())]),
        ),
        os.path.join(tmpdir, "events.parquet"),
    )


def _make_relational_tables(tmpdir: str) -> None:
    rng = random.Random(SEED + 1)
    base = datetime.datetime(2024, 3, 1)

    def w(name, cols, rows, types):
        pq.write_table(
            pa.Table.from_pydict(
                {c: [r[i] for r in rows] for i, c in enumerate(cols)},
                schema=pa.schema(list(zip(cols, types))),
            ),
            os.path.join(tmpdir, f"{name}.parquet"),
        )

    w("region", ["r_regionkey", "r_name"],
      [(0, "AMERICA"), (1, "EUROPE")], [pa.int64(), pa.string()])
    w("nation", ["n_nationkey", "n_name", "n_regionkey"],
      [(i, f"NATION{i}", i % 2) for i in range(5)],
      [pa.int64(), pa.string(), pa.int64()])
    w("customer", ["c_custkey", "c_nationkey"],
      [(i, rng.randrange(5)) for i in range(40)], [pa.int64(), pa.int64()])
    orders = []
    for i in range(300):
        orders.append((
            i, rng.randrange(40), rng.choice(["O", "F", "P"]),
            round(rng.uniform(10, 5000), 2),
            base + datetime.timedelta(seconds=rng.randrange(0, 3_000_000)),
            rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM"]),
        ))
    # tie pressure: two orders sharing (custkey, orderdate) and an order
    # whose date exactly equals an event timestamp (inclusive asof match)
    tie_ts = base + datetime.timedelta(seconds=1000)
    orders += [(300, 12, "O", 1.0, tie_ts, "2-HIGH"),
               (301, 12, "F", 2.0, tie_ts, "2-HIGH")]
    w("orders", ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
                 "o_orderdate", "o_orderpriority"],
      orders, [pa.int64(), pa.int64(), pa.string(), pa.float64(),
               pa.timestamp("us"), pa.string()])
    lineitem = []
    for i in range(600):
        lineitem.append((
            rng.randrange(302), rng.randrange(50), rng.randrange(20), i,
            float(rng.randrange(1, 50)), round(rng.uniform(100, 9000), 2),
            round(rng.uniform(0, 0.1), 2), round(rng.uniform(0, 0.08), 2),
            rng.choice(["A", "N", "R"]), rng.choice(["O", "F"]),
            base + datetime.timedelta(seconds=rng.randrange(0, 3_000_000)),
        ))
    w("lineitem", ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
                   "l_quantity", "l_extendedprice", "l_discount", "l_tax",
                   "l_returnflag", "l_linestatus", "l_shipdate"],
      lineitem, [pa.int64(), pa.int64(), pa.int64(), pa.int32(),
                 pa.float64(), pa.float64(), pa.float64(), pa.float64(),
                 pa.string(), pa.string(), pa.timestamp("us")])


@pytest.fixture(scope="module", params=[0, 31337])
def fuzz_env(request, spark, tmp_path_factory):
    global SEED
    SEED = 20260817 + request.param
    d = str(tmp_path_factory.mktemp(f"driver_fuzz_{request.param}"))
    _make_tables(d)
    _make_relational_tables(d)
    con = duckdb.connect()
    for t in ("documents", "embeddings", "events", "orders", "customer",
              "nation", "region", "lineitem"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{d}/{t}.parquet')"
        )
    return d, con


def _run(spark, fuzz_env, names):
    d, con = fuzz_env
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    bad = []
    for name in names:
        reason = compare(qs[name](spark, d).toPandas(),
                         con.execute(oracles[name]).df())
        if reason is not None:
            bad.append((name, reason))
    assert bad == [], bad


class TestDriverFuzz:
    def test_document_queries(self, spark, fuzz_env):
        _run(spark, fuzz_env, DOC_QUERIES)

    # leading whitespace starts no token and "" has none, on both engines;
    # quality's mean_token_len is chars / max(tokens, 1): 8 / 2 for doc 52
    @pytest.mark.parametrize("query,col,want", [
        ("text_token_count", "n_tokens", {50: 0, 52: 2}),
        ("text_quality_score", "mean_token_len", {50: 0.0, 52: 4.0}),
    ])
    def test_edge_whitespace_token_counts(self, spark, fuzz_env, query, col,
                                          want):
        d, con = fuzz_env
        got = {r.doc_id: r[col] for r in
               entrymod.queries()[query](spark, d).collect() if r.doc_id in want}
        ref = con.execute(entrymod.oracle_sql()[query]).df().set_index("doc_id")
        assert got == want
        assert {k: ref[col][k] for k in want} == want

    def test_embedding_queries(self, spark, fuzz_env):
        _run(spark, fuzz_env, EMB_QUERIES)

    def test_event_queries(self, spark, fuzz_env):
        _run(spark, fuzz_env, EVENT_QUERIES)

    def test_relational_queries(self, spark, fuzz_env):
        _run(spark, fuzz_env, RELATIONAL_QUERIES)


PAGES_QUERIES = [
    "f1_f2_size_filter", "f3_magic_router", "f4_extension_predicate",
    "f5_empty_text_guard", "p3_content_hash", "p4_regex_fields",
    "p5_multi_pattern_fallback", "p9_prompt_truncation",
    "p10_discovery_truncation", "f6_unknown_field_skip",
    "p7_pattern_precompile", "a3_idempotent_resume", "ai_label_discovery",
    "clean_canonical_url", "clean_scrub_pii", "clean_domain_stats",
    "clean_line_dedup", "media_metadata", "media_features",
    "media_frame_sample",
]


def _make_pages(tmpdir: str) -> None:
    rng = random.Random(SEED + 2)
    base = datetime.datetime(2024, 1, 1)
    rows = []
    bodies = [
        "Customer Name: Ana Maria Lopez (extra prose here)",
        "Policy Number: POL-123456789 and more words",
        "Policyholder: HOLDER-77 Policy Number: POL-999",
        "Claim Amount: $1,234.56 due promptly",
        "contact me at jane.doe+spam@example.co.uk or 192.168.0.1 today",
        "call +48 123-456-789 about the claim",
        "plain filler sentence with nothing to extract",
        "Ünicode prose möre wörds but ascii around PII: 10.0.0.1 ok",
        "",
        "   \n\t   ",
    ]
    hosts = ["fixtures.test", "EXAMPLE.org:443", "sub.site.pl:80",
             "weird.host:8080"]
    for i in range(60):
        scheme = rng.choice(["https", "HTTP"])
        host = rng.choice(hosts)
        path = rng.choice([
            f"/a/p{i}.html", f"/docs/d{i}.PDF", f"/feed/item{i:04d}",
            f"/q{i}?x=1&y=2", "/",
        ])
        url = f"{scheme}://{host}{path}"
        kind = rng.randrange(7)
        if kind == 0:
            html = b"%PDF-1.4 fake body " + bytes([rng.randrange(256)] * 40)
        elif kind == 1:
            html = ("<html><body>" + rng.choice(bodies) + "</body></html>").encode()
        elif kind == 2:
            html = b""
        elif kind == 3:  # media magics through the typed-metadata sniff
            html = b"fLaC\x00\x00\x00\x22" + bytes(rng.randrange(20))
        elif kind == 4:
            html = b"OggS\x00\x02" + bytes(rng.randrange(30))
        elif kind == 5:  # ftyp: HEIF still brand vs plain video brand
            brand = rng.choice([b"avif", b"heic", b"isom", b"mp42"])
            html = (b"\x00\x00\x00\x18ftyp" + brand + b"\x00\x00\x00\x00"
                    + brand + bytes(rng.randrange(10)))
        else:
            html = bytes(rng.randrange(256) for _ in range(80))
        text = rng.choice(bodies) if "/feed/" in path else ""
        rows.append((url, base + datetime.timedelta(seconds=i), html, text,
                     rng.choice(["en", "pl", "es"])))
    os.makedirs(os.path.join(tmpdir, "pages.parquet"), exist_ok=True)
    pq.write_table(
        pa.Table.from_pydict(
            {"url": [r[0] for r in rows], "warc_ts": [r[1] for r in rows],
             "html": [r[2] for r in rows], "text": [r[3] for r in rows],
             "lang": [r[4] for r in rows]},
            schema=pa.schema([("url", pa.string()),
                              ("warc_ts", pa.timestamp("us")),
                              ("html", pa.binary()), ("text", pa.string()),
                              ("lang", pa.string())]),
        ),
        os.path.join(tmpdir, "pages.parquet", "part-0000.parquet"),
    )


class TestPagesFuzz:
    def test_pages_queries(self, spark, tmp_path_factory):
        d = str(tmp_path_factory.mktemp("pages_fuzz"))
        _make_pages(d)
        con = duckdb.connect()
        qs, oracles = entrymod.queries(), entrymod.oracle_sql()
        real_glob = f"read_parquet('{entrymod.CORPUS_01}/pages.parquet/*.parquet')"
        fuzz_glob = f"read_parquet('{d}/pages.parquet/*.parquet')"
        orig = entrymod.ensure_corpus
        entrymod.ensure_corpus = lambda _sf: d
        try:
            bad = []
            for name in PAGES_QUERIES:
                sql = oracles[name].replace(real_glob, fuzz_glob)
                reason = compare(qs[name](spark, d).toPandas(),
                                 con.execute(sql).df())
                if reason is not None:
                    bad.append((name, reason))
            assert bad == [], bad
        finally:
            entrymod.ensure_corpus = orig
