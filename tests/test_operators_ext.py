"""Batch KNN join, connected-components clustering, and multimodal resize/frames."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet("/root/testdata/sf0.001/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")


@pytest.fixture(scope="module")
def emb01(spark):
    return spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")


class TestConnectedComponents:
    def _components(self, spark, edges, n_nodes):
        from pdf_parser_spark.operators.dedup import connected_components

        nodes = spark.createDataFrame(
            [(i,) for i in range(n_nodes)], "doc_id bigint"
        )
        e = spark.createDataFrame(edges, "id_a bigint, id_b bigint")
        rows = connected_components(nodes, e).collect()
        return {r.doc_id: r.component for r in rows}

    def test_two_cliques_and_singleton(self, spark):
        comp = self._components(spark, [(0, 1), (1, 2), (3, 4)], 6)
        assert comp == {0: 0, 1: 0, 2: 0, 3: 3, 4: 3, 5: 5}

    def test_chain_propagates_to_min(self, spark):
        # a path 4-3-2-1-0 needs multiple rounds: tests the fixpoint loop
        comp = self._components(spark, [(3, 4), (2, 3), (1, 2), (0, 1)], 5)
        assert set(comp.values()) == {0}

    def test_no_edges_all_singletons(self, spark):
        comp = self._components(spark, [], 4)
        assert comp == {i: i for i in range(4)}

    def test_dup_clusters_end_to_end(self, spark):
        from pdf_parser_spark.operators.dedup import dup_clusters

        rows = [
            (0, "the quick brown fox jumps over the lazy dog again and again"),
            (1, "the quick brown fox jumps over the lazy dog again and again"),
            (2, "a completely different document about spark physical planning"),
            (3, "the quick brown fox jumps over the lazy dog again and again!"),
        ]
        df = spark.createDataFrame(rows, "doc_id bigint, text string")
        comp = {r.doc_id: r.component for r in dup_clusters(df).collect()}
        assert comp[0] == comp[1] == 0   # exact dups cluster to smallest id
        assert comp[2] == 2              # unrelated text stays alone
        # keep-rule: survivors are rows whose component == own id
        survivors = {d for d, c in comp.items() if c == d}
        assert 0 in survivors and 2 in survivors and 1 not in survivors

    def test_dup_clusters_max_bucket_passthrough(self, spark):
        # r2 verdict: the clustering wrapper silently ignored the skew cap.
        # 5 identical docs share every band bucket; max_bucket=4 drops those
        # buckets, so every doc must come back a singleton — if the cap were
        # ignored they would all collapse to component 0.
        from pdf_parser_spark.operators.dedup import dup_clusters

        rows = [(i, "same text repeated across every single document here")
                for i in range(5)]
        df = spark.createDataFrame(rows, "doc_id bigint, text string")
        capped = {r.doc_id: r.component
                  for r in dup_clusters(df, max_bucket=4).collect()}
        assert capped == {i: i for i in range(5)}
        uncapped = {r.doc_id: r.component for r in dup_clusters(df).collect()}
        assert uncapped == {i: 0 for i in range(5)}

    # chain 0-1-...-6 (7 rounds to the fixpoint), node 7 joined only to an
    # id outside the node set
    CHAIN = [(i, i + 1) for i in range(6)] + [(100, 7)]

    def test_edge_frame_evaluated_once(self, spark):
        # every row the edge plan yields bumps the accumulator: re-running
        # the pair plan each round would count 7 edges per read, per round
        acc = spark.sparkContext.accumulator(0)

        def count_rows(batches):
            for pdf in batches:
                acc.add(len(pdf))
                yield pdf

        from pdf_parser_spark.operators.dedup import connected_components

        nodes = spark.createDataFrame([(i,) for i in range(8)], "doc_id bigint")
        e = spark.createDataFrame(self.CHAIN, "id_a bigint, id_b bigint")
        connected_components(nodes, e.mapInPandas(count_rows, e.schema)).collect()
        assert acc.value == len(self.CHAIN)

    def test_edge_outside_nodes_never_enters_output(self, spark):
        assert self._components(spark, self.CHAIN, 8) == {
            **{i: 0 for i in range(7)}, 7: 7}

    def test_leaves_session_cache_empty(self, spark):
        spark.catalog.clearCache()
        self._components(spark, self.CHAIN, 8)
        assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


class TestMultimodalExt:
    def test_image_resize_contract(self, spark):
        from pdf_parser_spark.operators.multimodal import image_resize

        df = spark.createDataFrame(
            [("u1", b"\x89PNG fake payload bytes"), ("u2", None)],
            "url string, html binary",
        )
        rows = {r.url: r for r in image_resize(df, out_w=8, out_h=4).collect()}
        assert len(bytes(rows["u1"].thumb)) == 8 * 4
        assert rows["u1"].out_w == 8 and rows["u1"].out_h == 4
        assert len(bytes(rows["u2"].thumb)) == 8 * 4  # null payload still yields a row
        # determinism: same payload -> same thumb
        again = {r.url: r for r in image_resize(df, out_w=8, out_h=4).collect()}
        assert bytes(again["u1"].thumb) == bytes(rows["u1"].thumb)

    def test_image_resize_real_decode(self, spark):
        # real path: thumb is a lossless PNG of the nearest-neighbor
        # resample — decode it back and check exact pixels
        import numpy as np

        from pdf_parser_spark.kernels.png import decode_png, encode_png
        from pdf_parser_spark.operators.multimodal import (
            _nn_resize, image_resize,
        )

        arr = np.random.RandomState(5).randint(0, 256, (20, 30, 3)).astype(np.uint8)
        df = spark.createDataFrame(
            [("img", bytearray(encode_png(arr))), ("junk", b"not an image")],
            "url string, html binary",
        )
        rows = {r.url: r
                for r in image_resize(df, out_w=10, out_h=5,
                                      real_decode=True).collect()}
        thumb = decode_png(bytes(rows["img"].thumb))
        assert thumb.shape == (5, 10, 3)
        assert np.array_equal(thumb, _nn_resize(arr, 10, 5))
        # undecodable payload keeps the raw digest-thumbnail contract
        assert len(bytes(rows["junk"].thumb)) == 10 * 5

    def test_frame_sample_fans_out(self, spark):
        from pdf_parser_spark.operators.multimodal import frame_sample

        df = spark.createDataFrame(
            [("v1", bytes(range(256)) * 4), ("v2", b"")],
            "url string, html binary",
        )
        out = frame_sample(df, n_frames=3, dim=4).collect()
        assert len(out) == 6  # 2 rows x 3 frames
        v1 = sorted([r for r in out if r.url == "v1"], key=lambda r: r.frame_idx)
        assert [r.frame_idx for r in v1] == [0, 1, 2]
        assert all(len(r.frame_features) == 4 for r in out)
        # distinct offsets must featurize differently on real payloads
        assert v1[0].frame_features != v1[2].frame_features

    def test_decode_stub_raises(self):
        # JPEG/PNG/GIF now decode for real; the remaining stub boundary is
        # video (and any unrecognized magic)
        from pdf_parser_spark.operators.multimodal import decode_image

        with pytest.raises(NotImplementedError):
            decode_image(b"\x00\x00\x00\x20ftypisom fake mp4")


class TestWinnowFingerprint:
    def test_reflow_invariance_and_locality(self, spark):
        from pdf_parser_spark.operators.textstats import winnow_fingerprint

        rows = [
            (0, "the quick brown fox jumps over the lazy dog"),
            (1, "THE  quick   brown fox jumps over the lazy dog"),  # reflow
            (2, "a completely different sentence with no overlap whatsoever"),
            (3, "the quick brown fox jumps over the lazy dog and then sleeps"),
            (4, "xy"),      # shorter than k -> empty
            (5, None),      # null -> empty
        ]
        df = spark.createDataFrame(rows, "doc_id bigint, text string")
        got = {r.doc_id: r.fingerprints for r in winnow_fingerprint(df).collect()}
        assert got[0] == got[1]                       # normalization-invariant
        assert not set(got[0]) & set(got[2])          # unrelated: no overlap
        assert set(got[0]) <= set(got[3])             # shared prefix localizes
        assert got[4] == [] and got[5] == []

    def test_deterministic_across_runs(self, spark):
        from pdf_parser_spark.operators.textstats import winnow_fingerprint

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(50)
        a = {r.doc_id: r.fingerprints for r in winnow_fingerprint(docs).collect()}
        b = {r.doc_id: r.fingerprints for r in winnow_fingerprint(docs).collect()}
        assert a == b


class TestMinhashFastHash:
    def test_hash_domain_is_60_bit_nonnegative(self, spark):
        from pdf_parser_spark.operators.dedup import minhash_signatures

        df = spark.createDataFrame(
            [(0, "alpha beta gamma delta epsilon zeta")], "doc_id bigint, text string"
        )
        row = minhash_signatures(df, num_hashes=4).collect()[0]
        for i in range(4):
            assert 0 <= row[f"mh_{i}"] < (1 << 60)


class TestExactDedupNulls:
    def test_null_text_groups_visibly_not_as_null_fingerprint(self, spark):
        from pdf_parser_spark.operators.dedup import exact_dedup

        rows = [(0, None), (1, None), (2, ""), (3, "real content here")]
        df = spark.createDataFrame(rows, "doc_id bigint, text string")
        out = {r.fingerprint: r for r in exact_dedup(df).collect()}
        # no NULL fingerprint group: NULL text coalesces to the ''-content
        # fingerprint and is counted there alongside genuinely empty docs
        assert None not in out
        empty_fp = [r for r in out.values() if r.n_dups == 3]
        assert len(empty_fp) == 1 and empty_fp[0].keep_id == 0
        assert sum(r.n_dups for r in out.values()) == 4


class TestDedupSkewGuards:
    def test_lsh_bucket_cap_drops_degenerate_bucket(self, spark):
        from pdf_parser_spark.operators.dedup import minhash_lsh_pairs

        # 6 identical docs -> one bucket of 6 (15 pairs); 2 identical docs
        # -> bucket of 2 (1 pair). Cap at 3 keeps only the small cluster.
        rows = [(i, "same text repeated for everyone in this degenerate group")
                for i in range(6)]
        rows += [(10, "a small pair of matching documents right here"),
                 (11, "a small pair of matching documents right here")]
        df = spark.createDataFrame(rows, "doc_id bigint, text string")
        uncapped = {(r.id_a, r.id_b) for r in minhash_lsh_pairs(df).collect()}
        capped = {(r.id_a, r.id_b)
                  for r in minhash_lsh_pairs(df, max_bucket=3).collect()}
        assert (10, 11) in uncapped and len(uncapped) == 15 + 1
        assert capped == {(10, 11)}

    def test_jaccard_max_df_prunes_stop_shingles(self, spark):
        from pdf_parser_spark.operators.dedup import jaccard_pairs

        # every doc shares the same stop-shingle prefix; only 0/1 truly match
        stop = "of the and in a"
        rows = [
            (0, f"{stop} unique matching tail for the pair here"),
            (1, f"{stop} unique matching tail for the pair here"),
            (2, f"{stop} totally different content altogether now"),
            (3, f"{stop} yet another unrelated document body text"),
        ]
        df = spark.createDataFrame(rows, "doc_id bigint, text string")
        pruned = {
            (r.id_a, r.id_b): r.jaccard
            for r in jaccard_pairs(df, max_df=2).collect()
        }
        assert set(pruned) == {(0, 1)}
        assert pruned[(0, 1)] == 1.0  # identical over the pruned universe

    @pytest.mark.parametrize(
        "op", ["minhash", "simhash", "bucketed", "jaccard", "semdedup"])
    def test_cap_adds_no_exchange(self, spark, op):
        # the skew cap is a window count partitioned by the self-join key,
        # so it must reuse the join's shuffle instead of adding its own
        # (a groupBy + join cap adds two hash exchanges per operator).
        # AQE and broadcast joins off: the plan is the static one.
        from pdf_parser_spark.operators import dedup as D
        from pdf_parser_spark.operators import similarity as S
        from pdf_parser_spark.operators.semdedup import semdedup
        from tools.plan_audit import node_counts

        docs = spark.createDataFrame(
            [(i, f"cap exchange probe text number {i % 3} with shared words")
             for i in range(8)],
            "doc_id bigint, text string",
        )
        emb = spark.createDataFrame(
            [(i, [float(i % 2), 1.0, float(i % 3), 0.5] * 2) for i in range(8)],
            "vec_id bigint, embedding array<float>",
        )
        build = {
            "minhash": lambda cap: D.minhash_lsh_pairs(docs, max_bucket=cap),
            "simhash": lambda cap: D.simhash_dups(docs, max_block=cap),
            "bucketed": lambda cap: S.bucketed_near_dup_pairs(
                emb, 0.2, max_bucket=cap),
            "jaccard": lambda cap: D.jaccard_pairs(docs, max_df=cap),
            "semdedup": lambda cap: semdedup(emb, k=2, iters=1,
                                             threshold=(1, 2), max_cluster=cap),
        }[op]

        def exchanges(df):
            # shuffles that run: a reused exchange ("ReusedExchange ...
            # Exchange hashpartitioning" in the plan text) runs no shuffle
            plan = df._jdf.queryExecution().executedPlan()
            return node_counts(plan)["ShuffleExchangeExec"]

        conf = {"spark.sql.adaptive.enabled": "false",
                "spark.sql.autoBroadcastJoinThreshold": "-1"}
        saved = {k: spark.conf.get(k) for k in conf}
        try:
            for k, v in conf.items():
                spark.conf.set(k, v)
            uncapped, capped = exchanges(build(None)), exchanges(build(5))
        finally:
            for k, v in saved.items():
                spark.conf.set(k, v)
        # jaccard's per-document size window (by id) sits between the cap
        # window (by shingle) and the self-join, so the join shuffles by
        # shingle again: at most one more
        assert capped <= uncapped + (1 if op == "jaccard" else 0), (
            op, uncapped, capped)


class TestMinhashLshContract:
    def test_pairs_co_occur_and_find_high_jaccard(self, spark):
        # banding against the exact Jaccard it approximates, at sf0.01:
        # every candidate shares a shingle, and a pair of Jaccard s is
        # missed with probability (1 - s^2)^8, 3e-4 at s = 0.8. Measured:
        # all 25 pairs at s >= 0.8 are found, so the floor is all of them
        from pdf_parser_spark.operators.dedup import jaccard_pairs, minhash_lsh_pairs

        docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
        got = {(r.id_a, r.id_b) for r in minhash_lsh_pairs(docs).collect()}
        exact = {(r.id_a, r.id_b): r.jaccard
                 for r in jaccard_pairs(docs).collect()}
        assert got <= set(exact)
        high = {p for p, s in exact.items() if s >= 0.8}
        assert len(high) >= 25 and high <= got


class TestLshBucketedTopkContract:
    def test_bucket_restricted_brute_force_and_recall(self, emb01):
        # exact inside the query's bucket: the answer is brute force's
        # ranking restricted to that bucket. Recall against brute force is
        # the bucket collision rate; on the near-isotropic sf0.01 vectors
        # (max cosine 0.51) queries 0-9 keep 16 of their 100 true top-10
        from pdf_parser_spark.operators.similarity import (
            brute_force_topk, coordinate_sign_bucket, lsh_bucketed_topk,
        )

        bucket = dict(emb01.select(
            "vec_id", coordinate_sign_bucket(F.col("embedding"))).collect())
        n, hits = emb01.count(), 0
        for q in range(10):
            ranked = [(r.vec_id, r.score)
                      for r in brute_force_topk(emb01, query_id=q, k=n).collect()]
            got = [(r.vec_id, r.score)
                   for r in lsh_bucketed_topk(emb01, query_id=q, k=10).collect()]
            assert got == [p for p in ranked if bucket[p[0]] == bucket[q]][:10]
            hits += len({i for i, _ in got} & {i for i, _ in ranked[:10]})
        assert hits >= 16


class TestBucketedNearDup:
    def test_recall_vs_exact_pairs(self, spark, emb):
        # the sf0.001 vectors hold no near duplicate (max cosine 0.479), so
        # plant one: a copy of each of the first 100 vectors at cosine 0.97
        # (the unit original plus a seeded orthogonal part), id + 10000
        import numpy as np

        from pdf_parser_spark.operators.similarity import (
            bucketed_near_dup_pairs, embedding_near_dup_pairs,
        )

        rows = [(r.vec_id, r.embedding)
                for r in emb.orderBy("vec_id").limit(100).collect()]
        rng = np.random.RandomState(0)
        planted = []
        for vid, v in rows:
            u = np.asarray(v, dtype=np.float64)
            u /= np.linalg.norm(u)
            w = rng.standard_normal(len(u))
            w -= (w @ u) * u
            w /= np.linalg.norm(w)
            planted.append(
                (vid + 10000, (0.97 * u + np.sqrt(1 - 0.97 ** 2) * w).tolist()))
        df = spark.createDataFrame(
            emb.select("vec_id", "embedding").collect() + planted,
            "vec_id bigint, embedding array<float>")

        exact = {(r.id_a, r.id_b) for r in
                 embedding_near_dup_pairs(df, threshold=0.95).collect()}
        got = {(r.id_a, r.id_b) for r in
               bucketed_near_dup_pairs(df, threshold=0.95).collect()}
        assert exact == {(vid, vid + 10000) for vid, _ in rows}
        # a subset of the exact pairs: a pair is found iff its two vectors
        # share a coordinate-sign bucket, here 76 of the 100
        assert got <= exact
        assert len(got) >= 76

    def test_max_bucket_drops_degenerate_bucket(self, spark):
        from pdf_parser_spark.operators.similarity import bucketed_near_dup_pairs

        # 6 identical vectors = one bucket of 6; a distinct pair elsewhere
        rows = [(i, [1.0, -1.0, 1.0, -1.0, 1.0, -1.0, 1.0, -1.0]) for i in range(6)]
        rows += [(10, [-1.0, 1.0, -1.0, 1.0, -1.0, 1.0, -1.0, 1.0]),
                 (11, [-1.0, 1.0, -1.0, 1.0, -1.0, 1.0, -1.0, 1.0])]
        df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
        uncapped = {(r.id_a, r.id_b)
                    for r in bucketed_near_dup_pairs(df, 0.9).collect()}
        capped = {(r.id_a, r.id_b)
                  for r in bucketed_near_dup_pairs(df, 0.9,
                                                   max_bucket=3).collect()}
        assert len(uncapped) == 15 + 1 and capped == {(10, 11)}


class TestKnnJoin:
    def test_exhaustive_probe_equals_brute_force_per_query(self, emb):
        from pdf_parser_spark.operators.similarity import (
            KNN_BLOCKS, brute_force_topk, knn_join,
        )

        # 40 vectors fill every block; fewer than KNN_BLOCKS leave some
        # blocks with queries and no members (an empty cogroup side)
        for size in (40, KNN_BLOCKS - 3):
            small = emb.where(F.col("vec_id") < size)
            out = knn_join(small, k=3).collect()
            by_q = {}
            for r in out:
                by_q.setdefault(r.qid, []).append((r.nid, r.score))
            assert set(by_q) == set(range(size))
            assert all(len(v) == 3 for v in by_q.values())
            # every query against the single-query baseline: nids exactly,
            # scores within 2e-6 (numpy float64 GEMM vs brute force's JVM
            # fold can differ in the last ulp before the 6-place rounding)
            for qid in range(size):
                want = [(r.vec_id, r.score)
                        for r in brute_force_topk(small, query_id=qid,
                                                  k=3).collect()]
                got = sorted(by_q[qid], key=lambda t: (-t[1], t[0]))
                assert [n for n, _ in got] == [n for n, _ in want], qid
                assert all(abs(g - w) < 2e-6
                           for (_, g), (_, w) in zip(got, want)), qid

    def test_tied_candidates_break_by_nid(self, spark):
        # duplicate embeddings tie at each block's local-k cut: the smallest
        # nids must survive (an unrounded argpartition cut could pick any
        # tie-group member and diverge from the oracle)
        from pdf_parser_spark.operators.similarity import knn_join

        rows = [(i, [1.0, 0.0, 0.0]) for i in range(6)]        # 6 identical
        rows += [(i, [0.0, 1.0, float(i)]) for i in range(6, 10)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        got = {}
        for r in knn_join(df, k=2).collect():
            got.setdefault(r.qid, []).append((r.score, r.nid))
        for qid in range(6):
            # each duplicate's top-2 are the two smallest OTHER dup ids
            want = sorted(i for i in range(6) if i != qid)[:2]
            assert [n for _, n in sorted(got[qid], key=lambda t: (-t[0], t[1]))] == want


class TestSimHash:
    def test_pairs_equal_brute_force(self, spark):
        # the 4 x 16-bit blocking must find every pair within MAX_HAMMING
        # bits that a cross join of the signatures finds
        from pdf_parser_spark.operators.dedup import (
            MAX_HAMMING, simhash64, simhash_dups,
        )

        docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
        sig = simhash64(docs)
        a = sig.select(F.col("doc_id").alias("id_a"), F.col("simhash").alias("sa"))
        b = sig.select(F.col("doc_id").alias("id_b"), F.col("simhash").alias("sb"))
        hamming = F.bit_count(F.col("sa").bitwiseXOR(F.col("sb")))
        want = {
            tuple(r) for r in a.join(b, F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", hamming.alias("hamming"))
            .where(F.col("hamming") <= MAX_HAMMING).collect()
        }
        got = {tuple(r) for r in simhash_dups(docs).collect()}
        assert len(want) > 0 and got == want


class TestSimhashBlockCap:
    def test_max_block_drops_degenerate_block(self, spark):
        from pdf_parser_spark.operators.dedup import simhash_dups

        rows = [(i, "identical text for everyone here") for i in range(6)]
        rows += [(10, "a small matching pair of documents"),
                 (11, "a small matching pair of documents")]
        df = spark.createDataFrame(rows, "doc_id bigint, text string")
        uncapped = {(r.id_a, r.id_b) for r in simhash_dups(df).collect()}
        capped = {(r.id_a, r.id_b)
                  for r in simhash_dups(df, max_block=3).collect()}
        assert (10, 11) in uncapped and len(uncapped) == 15 + 1
        assert capped == {(10, 11)}


class TestRiffWav:
    def _wav_bytes(self, channels=2, rate=8000, frames=4000, width=2):
        import io
        import wave

        buf = io.BytesIO()
        w = wave.open(buf, "wb")
        w.setnchannels(channels)
        w.setsampwidth(width)
        w.setframerate(rate)
        w.writeframes(b"\x00" * (frames * channels * width))
        w.close()
        return buf.getvalue()

    def test_parse_real_wav(self):
        from pdf_parser_spark.operators.multimodal import parse_riff_wav

        meta = parse_riff_wav(self._wav_bytes(channels=2, rate=8000, frames=4000))
        assert meta["channels"] == 2 and meta["sample_rate"] == 8000
        assert meta["bits_per_sample"] == 16
        assert meta["duration_ms"] == 500  # 4000 frames at 8 kHz

    def test_rejects_non_wav(self):
        import pytest as _pytest

        from pdf_parser_spark.operators.multimodal import parse_riff_wav

        with _pytest.raises(ValueError):
            parse_riff_wav(b"RIFF\x00\x00\x00\x00AVI LIST")
        with _pytest.raises(ValueError):
            parse_riff_wav(b"\x89PNG not riff at all")

    def test_media_av_metadata_isolation(self, spark):
        from pdf_parser_spark.operators.multimodal import media_av_metadata

        rows = [
            ("wav", bytearray(self._wav_bytes(channels=1, rate=16000, frames=16000))),
            ("riff-but-not-wav", bytearray(b"RIFF\x08\x00\x00\x00AVI LIST")),
            ("junk", bytearray(b"not even riff")),
            ("empty", None),
        ]
        df = spark.createDataFrame(rows, "url string, html binary")
        got = {r.url: r for r in media_av_metadata(df).collect()}
        assert len(got) == 4
        assert got["wav"].media_kind == "wav" and got["wav"].sample_rate == 16000
        assert got["wav"].duration_ms == 1000
        assert got["riff-but-not-wav"].media_kind == "riff"
        assert got["riff-but-not-wav"].channels is None
        assert got["junk"].media_kind == "unknown"
        assert got["empty"].media_kind == "unknown"


class TestAudioSamples:
    def _wav(self, samples, rate=8000, width=2, channels=1):
        import io
        import wave

        buf = io.BytesIO()
        w = wave.open(buf, "wb")
        w.setnchannels(channels)
        w.setsampwidth(width)
        w.setframerate(rate)
        if width == 2:
            import struct

            w.writeframes(b"".join(struct.pack("<h", s) for s in samples))
        else:
            w.writeframes(bytes((s + 128) % 256 for s in samples))
        w.close()
        return buf.getvalue()

    def test_decode_matches_written_samples(self):
        from pdf_parser_spark.operators.multimodal import decode_wav_samples

        samples = [0, 1000, -1000, 32767, -32768, 5]
        out = decode_wav_samples(self._wav(samples))
        assert out.tolist() == samples
        # 8-bit offset PCM
        out8 = decode_wav_samples(self._wav([0, 10, -10, 127, -128], width=1))
        assert out8.tolist() == [0, 10, -10, 127, -128]

    def test_audio_features_exact_integers(self, spark):
        from pdf_parser_spark.operators.multimodal import audio_features

        samples = [100, -200, 300, -400, 0, 500]
        wav = self._wav(samples)
        df = spark.createDataFrame(
            [("w", bytearray(wav)), ("r", b"RIFF\x04\x00\x00\x00AVI "),
             ("j", b"junk")],
            "url string, html binary",
        )
        rows = {r.url: r for r in audio_features(df).collect()}
        w = rows["w"]
        assert w.media_kind == "wav"
        assert w.n_samples == 6
        assert w.sum_squares == sum(s * s for s in samples)
        # sign changes: 100/-200, -200/300, 300/-400 -> 3 strict crossings
        # (pairs involving 0 are not strict sign flips)
        assert w.zero_crossings == 3
        assert w.peak_abs == 500
        assert rows["r"].media_kind == "riff" and rows["r"].n_samples is None
        assert rows["j"].media_kind == "unknown"

    def test_media_metadata_kind_sniff(self, spark):
        from pdf_parser_spark.operators.multimodal import media_metadata

        rows = [
            ("flac", b"fLaC\x00\x00\x00\x22" + b"\x00" * 10),
            ("ogg", b"OggS\x00\x02" + b"\x00" * 10),
            ("avif", b"\x00\x00\x00\x18ftypavif\x00\x00\x00\x00avif"),
            ("heic", b"\x00\x00\x00\x18ftypheic\x00\x00\x00\x00heic"),
            ("isom", b"\x00\x00\x00\x18ftypisom\x00\x00\x00\x00isom"),
            ("wav", b"RIFF\x08\x00\x00\x00WAVE"),
            ("none", None),
        ]
        df = spark.createDataFrame(
            [(u, bytearray(b) if b is not None else None) for u, b in rows],
            "url string, html binary",
        )
        got = {r.url: r for r in media_metadata(df).collect()}
        # HEIF still-image brands outrank the generic mp4 label; plain
        # video brands keep it
        assert got["flac"].media_kind == "flac"
        assert got["ogg"].media_kind == "ogg"
        assert got["avif"].media_kind == "heif"
        assert got["heic"].media_kind == "heif"
        assert got["isom"].media_kind == "mp4"
        assert got["wav"].media_kind == "riff"
        assert got["none"].media_kind == "unknown" and got["none"].n_bytes == 0


class TestImageDimensions:
    def test_matches_real_decoders_on_fixture(self, spark, tmp_path):
        # differential: the header-sniffed dims must equal the shape the
        # real codecs decode to, for every png/gif/vp8l row in the fixture
        import pyarrow.parquet as pq

        from pdf_parser_spark.operators.multimodal import (
            decode_image, image_dimensions,
        )
        from pdf_parser_spark.sources.img_fixture import ensure_img_fixture

        path = ensure_img_fixture(str(tmp_path))
        media = pq.read_table(path).to_pydict()
        df = spark.read.parquet(path)
        got = {r.url: r for r in
               image_dimensions(df, bin_col="payload").collect()}
        # header-only fixture rows have no decoder; their expected dims
        # are the ones the fixture builder wrote into the headers
        header_only = {
            "t-bmp": ("bmp", 129, 47),
            "u-bmp-topdown": ("bmp", 64, 33),   # |negative| = top-down
            "v-ico": ("ico", 256, 19),          # width byte 0 -> 256
            "w-tiff-le": ("tiff", 77, 3000),
            "x-tiff-be": ("tiff", 513, 21),
            "y-vp8x-anim": ("webp-vp8x", 400, 260),
            # lossy VP8 keyframe: 14-bit dims with nonzero scale bits
            # that the gate must mask off; a broken sync code is 'other'
            # (checked via the kind=='other' branch below)
            "ye-vp8-lossy": ("webp-vp8", 481, 359),
            # HEIF/AVIF: the largest ispe wins (za carries a 320x240
            # thumbnail property too); no iprp -> NULL dims; the isom
            # video brand lands in the kind=='other' branch below
            "za-avif": ("heif", 4032, 3024),
            "zb-heic": ("heif", 1440, 960),
            "zc-mif1-noprops": ("heif", None, None),
        }
        n_checked = 0
        for url, payload in zip(media["url"], media["payload"]):
            r = got[url]
            name = url.rsplit("/", 1)[1].rsplit(".", 1)[0]
            if name in header_only:
                assert (r.img_kind, r.width, r.height) == header_only[name], url
                n_checked += 1
                continue
            if r.img_kind == "other":
                assert r.width is None and r.height is None, url
                continue
            try:
                h, w = decode_image(bytes(payload)).shape[:2]
            except Exception:
                # corrupt fixture rows truncate the STREAM but keep the
                # header: a header sniffer still reports dims (correct),
                # there is just no decoded shape to compare against
                assert "corrupt" in url or "truncated" in url, url
                continue
            assert (r.width, r.height) == (w, h), (url, r)
            n_checked += 1
        # every png + gif + vp8l + JPEG (baseline, 4:2:0+restart, gray,
        # progressive) row sniffs and matches its real decoded shape,
        # plus the six header-only rows checked against built dims
        assert n_checked >= 20

    def test_corrupt_header_rows_are_other(self, spark):
        from pdf_parser_spark.kernels.webp import encode_webp_vp8l
        from pdf_parser_spark.operators.multimodal import image_dimensions

        import numpy as np

        wp = encode_webp_vp8l(np.zeros((3, 300, 4), np.uint8))
        rows = [
            ("png-7-bytes", bytearray(b"\x89PNG\r\n\x1a")),
            ("gif-9-bytes", bytearray(b"GIF89a\x05\x00\x05")),
            ("webp-under-header", bytearray(wp[:24])),
            # JPEG sniffs by magic, but a zero-length segment means the
            # marker walk desyncs -> kind 'jpeg' with NULL dims
            ("jpeg-desync", bytearray(b"\xff\xd8\xff\xe0" + b"\x00" * 40)),
            # SOS before any SOF: the walk must give up, not misread
            ("jpeg-sos-first", bytearray(
                b"\xff\xd8\xff\xda\x00\x04\x01\x00" + b"\x55" * 20)),
            # SOF0 whose dims lie beyond the buffer end
            ("jpeg-sof-truncated", bytearray(
                b"\xff\xd8\xff\xc0\x00\x11\x08\x00")),
            ("tiff-truncated-ifd", bytearray(b"II*\x00\x08\x00\x00\x00\x40")),
            ("null", None),
            ("wide-webp", bytearray(wp)),
        ]
        # adversarial headers with dims past int32: ANSI mode is on, so a
        # plain cast would kill the task with CAST_OVERFLOW — these must
        # come back as rows with NULL dims (found live in round 5)
        import struct
        info = struct.pack("<IIiHHIIiiII", 40, 0x90000000, 20, 1, 24,
                           0, 0, 2835, 2835, 0, 0)
        rows.append(("bmp-huge-width", bytearray(
            b"BM" + struct.pack("<IHHI", 54, 0, 0, 54) + info + b"\x00" * 12)))
        rows.append(("png-huge-width", bytearray(
            b"\x89PNG\r\n\x1a\n\x00\x00\x00\x0dIHDR"
            + b"\xff\xff\xff\xff\x00\x00\x00\x05\x08\x00\x00\x00\x00"
            + b"\x00" * 8)))
        tif_huge = (b"II*\x00" + struct.pack("<I", 8) + struct.pack("<H", 2)
                    + struct.pack("<HHII", 256, 4, 1, 0xFFFFFFFE)
                    + struct.pack("<HHIHH", 257, 3, 1, 5, 0)
                    + struct.pack("<I", 0))
        rows.append(("tiff-huge-width", bytearray(tif_huge)))

        def bx(t, body):
            return struct.pack(">I", 8 + len(body)) + t + body

        heif_huge = (
            bx(b"ftyp", b"avif\x00\x00\x00\x00avif")
            + bx(b"meta", struct.pack(">I", 0) + bx(
                b"iprp", bx(b"ipco", bx(
                    b"ispe", struct.pack(">III", 0, 0x90000000, 5)))))
        )
        rows.append(("heif-huge-width", bytearray(heif_huge)))
        df = spark.createDataFrame(rows, "url string, payload binary")
        got = {r.url: r for r in
               image_dimensions(df, bin_col="payload").collect()}
        for u in ("png-7-bytes", "gif-9-bytes", "webp-under-header", "null"):
            assert got[u].img_kind == "other" and got[u].width is None, u
        for u in ("jpeg-desync", "jpeg-sos-first", "jpeg-sof-truncated"):
            assert got[u].img_kind == "jpeg" and got[u].width is None, u
        assert (got["tiff-truncated-ifd"].img_kind,
                got["tiff-truncated-ifd"].width) == ("tiff", None)
        assert (got["wide-webp"].img_kind, got["wide-webp"].width,
                got["wide-webp"].height) == ("webp-vp8l", 300, 3)
        assert (got["bmp-huge-width"].img_kind,
                got["bmp-huge-width"].width) == ("bmp", None)
        assert (got["png-huge-width"].img_kind,
                got["png-huge-width"].width) == ("png", None)
        assert (got["tiff-huge-width"].img_kind,
                got["tiff-huge-width"].width,
                got["tiff-huge-width"].height) == ("tiff", None, None)
        assert (got["heif-huge-width"].img_kind,
                got["heif-huge-width"].width,
                got["heif-huge-width"].height) == ("heif", None, None)

    def test_boundary_dims_differential_vs_encoders(self, spark):
        # field-boundary crossings where an offset/packing mistake flips
        # the answer: GIF LE16 high byte (w=256), VP8L b1->b2 carry
        # (w=257), VP8L height crossing the b2>>6 | b3<<2 seam (h=5, 100,
        # 1025), PNG 32-bit field past 16 bits (w=70000 would be 1.4 GB as
        # RGBA; 1x70000 grayscale is 70 kB)
        import numpy as np

        from pdf_parser_spark.kernels.gif import encode_gif
        from pdf_parser_spark.kernels.png import encode_png
        from pdf_parser_spark.kernels.webp import encode_webp_vp8l
        from pdf_parser_spark.operators.multimodal import image_dimensions

        cases = []
        for w, h in [(256, 3), (255, 2), (1, 300)]:
            cases.append((f"gif-{w}x{h}", "gif", w, h,
                          encode_gif(np.zeros((h, w, 3), np.uint8))))
        for w, h in [(257, 5), (16384, 1), (1, 1025), (3, 100)]:
            cases.append((f"webp-{w}x{h}", "webp-vp8l", w, h,
                          encode_webp_vp8l(np.zeros((h, w, 4), np.uint8))))
        for w, h in [(70000, 1), (1, 70000), (300, 2)]:
            cases.append((f"png-{w}x{h}", "png", w, h,
                          encode_png(np.zeros((h, w), np.uint8))))
        # JPEG 16-bit big-endian dims at the byte boundary, via every
        # encoder mode (baseline 4:4:4, 4:2:0 with restart markers,
        # progressive SOF2) — the sniffed dims must equal what
        # decode_jpeg actually decodes to
        from pdf_parser_spark.kernels.jpeg import (
            decode_jpeg, encode_jpeg, encode_jpeg_progressive,
        )

        for w, h in [(256, 3), (255, 2), (1, 300)]:
            g = np.zeros((h, w), np.uint8)
            cases.append((f"jpeg-{w}x{h}", "jpeg", w, h, encode_jpeg(g)))
        rgb = np.zeros((17, 257, 3), np.uint8)
        cases.append(("jpeg-420-restart", "jpeg", 257, 17,
                      encode_jpeg(rgb, subsample=(2, 2), restart_interval=1)))
        cases.append(("jpeg-progressive", "jpeg", 257, 17,
                      encode_jpeg_progressive(rgb)))
        for name, k, w, h, data in cases:
            if k == "jpeg":
                got_shape = decode_jpeg(data).shape[:2]
                assert got_shape == (h, w), (name, got_shape)
        df = spark.createDataFrame(
            [(name, bytearray(data)) for name, _k, _w, _h, data in cases],
            "url string, payload binary",
        )
        got = {r.url: r for r in
               image_dimensions(df, bin_col="payload").collect()}
        for name, k, w, h, _data in cases:
            r = got[name]
            assert (r.img_kind, r.width, r.height) == (k, w, h), (name, r)

    def test_jpeg_sniffer_marker_walk_edges(self):
        # pure-Python unit cases the fixture can't produce: fill bytes
        # before markers, an APPn segment bigger than the dims offset,
        # RST-standalone skipping, and SOF dims straddling the 64 KB
        # prefix boundary
        from pdf_parser_spark.operators.multimodal import (
            jpeg_sniff_dimensions,
        )

        sof = b"\xff\xc0\x00\x11\x08\x01\x04\x02\x03" + b"\x00" * 10
        # fill bytes (FF padding) before the SOF marker are legal
        assert jpeg_sniff_dimensions(
            b"\xff\xd8\xff\xff\xff" + sof[1:]) == (0x203, 0x104)
        # a fat APP1 (EXIF-style) segment before SOF
        app1 = b"\xff\xe1" + (1000 + 2).to_bytes(2, "big") + b"\x45" * 1000
        assert jpeg_sniff_dimensions(
            b"\xff\xd8" + app1 + sof) == (0x203, 0x104)
        # standalone TEM/RST markers between segments are skipped
        assert jpeg_sniff_dimensions(
            b"\xff\xd8\xff\x01\xff\xd0" + sof) == (0x203, 0x104)
        # SOF past the prefix end: None, never a crash
        assert jpeg_sniff_dimensions(b"\xff\xd8" + app1[:500]) is None
        assert jpeg_sniff_dimensions(b"") is None
        assert jpeg_sniff_dimensions(b"\xff\xd8") is None

    def test_tiff_sniffer_ifd_edges(self):
        import struct

        from pdf_parser_spark.operators.multimodal import (
            tiff_sniff_dimensions,
        )

        # LONG-typed width + SHORT-typed height, big-endian, IFD not at 8
        pad = b"\x77" * 6
        entries = [
            struct.pack(">HHII", 256, 4, 1, 70000),
            struct.pack(">HHIHH", 257, 3, 1, 12, 0),
        ]
        tif = (b"MM\x00*" + struct.pack(">I", 8 + len(pad)) + pad
               + struct.pack(">H", len(entries)) + b"".join(entries)
               + struct.pack(">I", 0))
        assert tiff_sniff_dimensions(tif) == (70000, 12)
        # width tag without height tag -> None
        only_w = (b"II*\x00" + struct.pack("<I", 8) + struct.pack("<H", 1)
                  + struct.pack("<HHIHH", 256, 3, 1, 9, 0)
                  + struct.pack("<I", 0))
        assert tiff_sniff_dimensions(only_w) is None
        assert tiff_sniff_dimensions(b"II*\x00\x08") is None
        assert tiff_sniff_dimensions(b"not a tiff at all") is None

    def test_flac_streaminfo_edges(self):
        # bitfield packing rebuilt here by hand (shift-by-shift, not via
        # the fixture's single 64-bit pack) — independent of both
        import struct

        from pdf_parser_spark.operators.multimodal import (
            parse_flac_streaminfo,
        )

        def flac(rate, ch, bits, total, first_type=0):
            b18 = rate >> 12
            b19 = (rate >> 4) & 0xFF
            b20 = ((rate & 0xF) << 4) | ((ch - 1) << 1) | ((bits - 1) >> 4)
            b21 = (((bits - 1) & 0xF) << 4) | ((total >> 32) & 0xF)
            return (b"fLaC" + bytes([first_type]) + (34).to_bytes(3, "big")
                    + struct.pack(">HH", 16, 65535) + b"\x00" * 6
                    + bytes([b18, b19, b20, b21])
                    + struct.pack(">I", total & 0xFFFFFFFF) + b"\x00" * 16)

        m = parse_flac_streaminfo(flac(96000, 8, 32, (5 << 32) + 99))
        assert (m["sample_rate"], m["channels"], m["bits_per_sample"]) == \
            (96000, 8, 32)
        # 36-bit total: (5<<32)+99 samples at 96 kHz
        assert m["duration_ms"] == round(((5 << 32) + 99) * 1000 / 96000)
        assert parse_flac_streaminfo(flac(8000, 1, 4, 0))["duration_ms"] is None
        import pytest
        with pytest.raises(ValueError):  # VORBIS_COMMENT first, not spec
            parse_flac_streaminfo(flac(8000, 1, 16, 1, first_type=4))
        with pytest.raises(ValueError):  # zero rate
            parse_flac_streaminfo(flac(0, 1, 16, 1))
        with pytest.raises(ValueError):
            parse_flac_streaminfo(b"fLaC\x00\x00")
        with pytest.raises(ValueError):
            parse_flac_streaminfo(b"OggS junk")

    def test_ogg_id_edges(self):
        import struct

        import pytest

        from pdf_parser_spark.operators.multimodal import parse_ogg_id

        def page(htype, granule, seq, pkt):
            # test-local page builder: explicit lacing, zero CRC
            segs, rem = [], len(pkt)
            while True:
                segs.append(min(rem, 255))
                rem -= segs[-1]
                if segs[-1] < 255:
                    break
            return (b"OggS\x00" + bytes([htype])
                    + struct.pack("<QII", granule, 7, seq)
                    + b"\x00" * 4 + bytes([len(segs)]) + bytes(segs) + pkt)

        head = (b"OpusHead" + bytes([1, 6]) + struct.pack("<H", 120)
                + struct.pack("<I", 24000) + b"\x00" * 3)
        # last page carries granule -1 ("no packet ends"): the walk must
        # fall back to the previous page's granule
        stream = (page(2, 0, 0, head) + page(0, 96120, 1, b"d" * 10)
                  + page(4, 0xFFFFFFFFFFFFFFFF, 2, b"e"))
        m = parse_ogg_id(stream)
        assert (m["kind"], m["channels"], m["sample_rate"]) == \
            ("ogg-opus", 6, 24000)
        assert m["duration_ms"] == round((96120 - 120) * 1000 / 48000)
        # vorbis: granule ticks at the stream rate
        vid = (b"\x01vorbis" + struct.pack("<I", 0) + bytes([2])
               + struct.pack("<I", 8000) + b"\x00" * 10)
        mv = parse_ogg_id(page(2, 0, 0, vid) + page(4, 4100, 1, b"x" * 5))
        # 4100*1000/8000 = 512.5: Python round() banker-rounds to 512
        # (DuckDB rounds half away) — which is why the av fixture pins
        # granules that never land on .5 (av_fixture.py docstring)
        assert (mv["kind"], mv["channels"], mv["sample_rate"],
                mv["duration_ms"]) == ("ogg-vorbis", 2, 8000, 512)
        # truncated final page: its granule must NOT count
        trunc = (page(2, 0, 0, head) + page(0, 48120, 1, b"d" * 10)
                 + page(4, 960000, 2, b"f" * 50)[:40])
        assert parse_ogg_id(trunc)["duration_ms"] == 1000
        with pytest.raises(ValueError):
            parse_ogg_id(page(2, 0, 0, b"NotAKnownIDPacket"))
        with pytest.raises(ValueError):
            parse_ogg_id(b"OggS\x01" + b"\x00" * 30)  # bad version
        with pytest.raises(ValueError):
            parse_ogg_id(b"RIFF" + b"\x00" * 30)

    def test_heif_sniffer_box_walk_edges(self):
        # built here with a test-local box packer, independent of BOTH the
        # fixture builder and the sniffer (the differential-anchor rule)
        import struct

        from pdf_parser_spark.operators.multimodal import (
            heif_sniff_dimensions,
        )

        def box(t, body, large=False):
            if large:
                return struct.pack(">I", 1) + t + struct.pack(
                    ">Q", 16 + len(body)) + body
            return struct.pack(">I", 8 + len(body)) + t + body

        def ispe(w, h):
            return box(b"ispe", struct.pack(">III", 0, w, h))

        ftyp = box(b"ftyp", b"avif\x00\x00\x00\x00avifmif1")

        def meta(*children):
            return box(b"meta", struct.pack(">I", 0) + b"".join(children))

        def iprp(ipco_body):
            return box(b"iprp", box(b"ipco", ipco_body))

        # free box before meta, junk property between two ispes; the
        # larger (primary) ispe wins regardless of order
        f = (ftyp + box(b"free", b"\x00" * 7)
             + meta(box(b"hdlr", b"\x00" * 21),
                    iprp(ispe(100, 50) + box(b"junk", b"\xee" * 3)
                         + ispe(99, 51))))
        # 99*51 = 5049 > 100*50 = 5000: area, not order or width, decides
        assert heif_sniff_dimensions(f) == (99, 51)
        # 64-bit largesize meta box: the walker must honor hdr=16
        f2 = ftyp + meta(iprp(ispe(7, 9)))
        big = (ftyp + box(b"meta",
                          struct.pack(">I", 0) + iprp(ispe(21, 34)),
                          large=True))
        assert heif_sniff_dimensions(f2) == (7, 9)
        assert heif_sniff_dimensions(big) == (21, 34)
        # non-HEIF brand, truncated ispe, empty ipco, bare ftyp
        assert heif_sniff_dimensions(
            box(b"ftyp", b"isom\x00\x00\x00\x00isom") + f2[24:]) is None
        trunc = ftyp + meta(iprp(box(b"ispe", struct.pack(">IH", 0, 3))))
        assert heif_sniff_dimensions(trunc) is None
        assert heif_sniff_dimensions(ftyp + meta(iprp(b""))) is None
        assert heif_sniff_dimensions(ftyp) is None
        assert heif_sniff_dimensions(b"") is None
        # zero-size box (extends to end) terminates cleanly
        zed = ftyp + struct.pack(">I", 0) + b"meta" + b"\x00" * 4
        assert heif_sniff_dimensions(zed) is None


def _text_operators():
    """name -> build(spark, docs, corpus_dir) for every operator that turns
    text into tokens, grams or chars."""
    from jobs.curate_job import build_curated_chunks
    from pdf_parser_spark.operators import (
        bpe, chunking, cleaning, decontaminate, dedup, gopher, lm, spandedup,
        textstats,
    )

    return {
        "token_count": lambda s, d, c: textstats.token_count(d),
        "quality_score": lambda s, d, c: textstats.quality_score(d),
        "lang_id": lambda s, d, c: textstats.lang_id(d),
        "fingerprint": lambda s, d, c: textstats.fingerprint(d),
        "exact_dedup": lambda s, d, c: dedup.exact_dedup(d),
        "word_shingles": lambda s, d, c: dedup.word_shingles(d),
        "minhash_signatures": lambda s, d, c: dedup.minhash_signatures(d),
        "chunk_documents": lambda s, d, c: chunking.chunk_documents(d),
        "pack_documents": lambda s, d, c: chunking.pack_documents(
            d.withColumn("shard", F.lit(0)), shard_col="shard"),
        "repetition_flags": lambda s, d, c: cleaning.repetition_flags(d),
        "gopher_quality_gate":
            lambda s, d, c: gopher.gopher_quality_gate(d, id_col="doc_id"),
        "decontaminate": lambda s, d, c: decontaminate.decontaminate(d, d),
        "duplicated_span_stats":
            lambda s, d, c: spandedup.duplicated_span_stats(d),
        "word_frequencies": lambda s, d, c: bpe.word_frequencies(d),
        "train_char_trigram_lm": lambda s, d, c: lm.train_char_trigram_lm(d),
        "lm_bits_per_char":
            lambda s, d, c: lm.lm_bits_per_char(d, ({}, {}, 1)),
        "build_curated_chunks":
            lambda s, d, c: build_curated_chunks(s, c, 64, 8, 10),
    }


class TestNoTextRescanInLambdas:
    """A token / char array used inside a higher-order-function lambda must
    be projected as a column first: Spark re-evaluates a captured expression
    once per element, so a captured split re-splits the whole document for
    every chunk or gram. A gate projects each array once, so no plan node
    splits the same text twice. Walks each operator's optimized plan."""

    @staticmethod
    def _optimized_plan(spark, monkeypatch, corpus_001, name):
        from pyspark.sql import DataFrame

        docs = spark.createDataFrame(
            [(0, "the quick brown fox jumps over the lazy dog", "en"),
             (1, "", "en")], "doc_id bigint, text string, lang string")
        # operators that collect (model training) are planned, not run
        planned = []
        monkeypatch.setattr(type(docs), "collect",
                            lambda self: planned.append(self) or [])
        out = _text_operators()[name](spark, docs, corpus_001)
        df = out if isinstance(out, DataFrame) else planned[-1]
        return df._jdf.queryExecution().optimizedPlan()

    @pytest.mark.parametrize("name", sorted(_text_operators()))
    def test_lambda_bodies_never_rescan_text(self, spark, corpus_001,
                                             monkeypatch, name):
        from tools.plan_audit import node_expressions

        plan = self._optimized_plan(spark, monkeypatch, corpus_001, name)
        bodies = [
            e.function().toString()
            for exprs in node_expressions(plan) for e in exprs
            if e.getClass().getSimpleName() == "LambdaFunction"
        ]
        assert [b for b in bodies
                if "split(" in b or "regexp_replace(" in b] == []

    @pytest.mark.parametrize("name", sorted(_text_operators()))
    def test_each_text_array_split_once(self, spark, corpus_001,
                                        monkeypatch, name):
        from tools.plan_audit import split_copies

        plan = self._optimized_plan(spark, monkeypatch, corpus_001, name)
        assert split_copies(plan) <= 1


class TestOneExplodedPass:
    """Span dedup, line dedup, decontamination and n-gram Jaccard explode
    each document once, and every per-document column comes from that one
    exploded frame: the input is read at most twice (span / line: the key
    counts and the join back; decontaminate: the corpus and the benchmark;
    jaccard: the self-join's two sides) and joined once — no totals or size
    aggregate, no rescan of the ids, no rejoin. SemDeDup's keep flag is one
    LEFT self-join of the final assignment plus one groupBy (no pair
    distinct joined back). Counted in the executed (final adaptive) plan
    over a parquet input."""

    @pytest.mark.parametrize(
        "op", ["span", "line", "decontaminate", "jaccard", "semdedup"])
    def test_reads_input_twice_joins_once(self, spark, tmp_path, op):
        from pyspark.sql import functions as F

        from pdf_parser_spark.operators.cleaning import line_dedup
        from pdf_parser_spark.operators.decontaminate import decontaminate
        from pdf_parser_spark.operators.dedup import jaccard_pairs
        from pdf_parser_spark.operators.semdedup import semdedup
        from pdf_parser_spark.operators.spandedup import duplicated_span_stats
        from tools.plan_audit import scans_and_joins

        if op == "semdedup":
            rows = [(i, [float(i % 2), 1.0, float(i % 3), 0.5])
                    for i in range(20)]
            schema = "vec_id bigint, embedding array<float>"
        else:
            rows = [(i, f"shared banner line\nbody {i} " + "w " * (i % 12))
                    for i in range(20)] + [(20, None), (21, "")]
            schema = "doc_id bigint, text string"
        path = str(tmp_path / "input")
        spark.createDataFrame(rows, schema).write.parquet(path)
        docs = spark.read.parquet(path)
        out = {"span": lambda: duplicated_span_stats(docs),
               "line": lambda: line_dedup(docs),
               "decontaminate": lambda: decontaminate(
                   docs, docs.where(F.col("doc_id") % 5 == 0)),
               "jaccard": lambda: jaccard_pairs(docs),
               "semdedup": lambda: semdedup(docs, k=2, iters=1,
                                            threshold=(1, 2))}[op]()
        out.write.format("noop").mode("overwrite").save()
        plan = out._jdf.queryExecution().executedPlan()
        scans, joins = scans_and_joins(plan)
        assert scans <= 2 and joins <= 1, (op, scans, joins)

    def test_jaccard_leaves_session_cache_empty(self, spark):
        # a cached operator-internal frame stays registered in the session's
        # CacheManager, which then substitutes it into later plans that
        # share the subtree
        from pdf_parser_spark.operators.dedup import jaccard_pairs

        docs = spark.createDataFrame(
            [(i, f"cache probe text {i % 3} with shared words") for i in range(6)],
            "doc_id bigint, text string")
        spark.catalog.clearCache()
        assert jaccard_pairs(docs).count() > 0
        assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


class TestDuplicatedSpans:
    """spandedup.duplicated_span_stats — span-level exact-substring dedup
    over 10-token windows (K) repeated at least twice (MIN_COUNT)."""

    SPAN = "one two three four five six seven eight nine ten"
    # extra inputs in every case: NULL text and a doc shorter than K both
    # keep their row (no window to explode) and change no other row
    NULL_DOC, SHORT_DOC = 900, 901

    def _run(self, spark, docs):
        from pdf_parser_spark.operators.spandedup import duplicated_span_stats

        extra = [(self.NULL_DOC, None), (self.SHORT_DOC, "three short words")]
        df = spark.createDataFrame(docs + extra, "doc_id bigint, text string")
        out = {r.doc_id: r for r in duplicated_span_stats(df).collect()}
        assert len(out) == len(docs) + 2
        assert tuple(out.pop(self.NULL_DOC))[1:] == (None, 0, 0, 0, None)
        assert tuple(out.pop(self.SHORT_DOC))[1:] == (3, 0, 0, 0, True)
        return out

    def test_cross_doc_span_flagged_in_both(self, spark):
        docs = [(0, "prefix " + self.SPAN), (1, self.SPAN + " suffix"),
                (2, "totally different words everywhere around here")]
        out = self._run(spark, docs)
        assert out[0].n_dup_windows == 1 and out[0].dup_tokens == 10
        assert out[1].n_dup_windows == 1 and out[1].dup_tokens == 10
        assert out[2].n_dup_windows == 0 and out[2].dup_tokens == 0
        assert out[2].keep is True

    def test_within_doc_repeat_counts(self, spark):
        # the bridging windows across the junction are unique; only the two
        # copies of the 10-window are duplicated, and their intervals overlap
        # is empty (positions 0 and 10) -> coverage = 20 tokens
        out = self._run(spark, [(0, self.SPAN + " " + self.SPAN)])
        r = out[0]
        assert r.n_tokens == 20 and r.n_windows == 11
        assert r.n_dup_windows == 2 and r.dup_tokens == 20
        assert r.keep is False  # 100% coverage > 20%

    def test_overlapping_windows_union_not_sum(self, spark):
        # 11 tokens, windows at pos 0 and 1 both duplicated via doc 1:
        # union covers all 11 tokens, NOT 20
        t = self.SPAN + " eleven"
        out = self._run(spark, [(0, t), (1, t)])
        r = out[0]
        assert r.n_dup_windows == 2
        assert r.dup_tokens == 11

    def test_short_and_empty_docs_keep(self, spark):
        out = self._run(spark, [(0, "under ten words"), (1, "")])
        assert out[0].n_windows == 0 and out[0].keep is True
        assert out[1].n_tokens == 0 and out[1].keep is True

    def test_case_and_whitespace_normalized(self, spark):
        out = self._run(spark, [
            (0, "One  Two\tThree Four FIVE six SEVEN  eight Nine\tTEN"),
            (1, self.SPAN)])
        assert out[0].n_dup_windows == 1 and out[1].n_dup_windows == 1

    def test_coverage_threshold_exact_integer_math(self, spark):
        # 50 tokens, one duplicated 10-window -> 10/50 = exactly 20% -> keep
        filler = " ".join(f"w{i}" for i in range(40))
        out = self._run(spark, [(0, filler + " " + self.SPAN),
                                (1, self.SPAN)])
        assert out[0].n_tokens == 50 and out[0].dup_tokens == 10
        assert out[0].keep is True
        # tighten by one token: 10/49 > 20% -> drop
        out = self._run(
            spark,
            [(0, " ".join(f"w{i}" for i in range(39)) + " " + self.SPAN),
             (1, self.SPAN)])
        assert out[0].n_tokens == 49 and out[0].keep is False


class TestSemDeDup:
    """semdedup — exact-integer k-means + within-cluster cosine dedup."""

    def _emb(self, spark, rows):
        return spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in rows],
            "vec_id bigint, embedding array<float>",
        )

    def test_two_clusters_and_near_dup_drop(self, spark):
        from pdf_parser_spark.operators.semdedup import semdedup

        # seeds = vec 0 and 1 (k=2). 0/2/3 sit near +x, 1/4 near -x;
        # 2 is (almost) parallel to 0 -> cosine ~1 > 0.4 -> dropped;
        # 3 is orthogonal-ish within the cluster -> kept
        rows = [
            (0, [1.0, 0.0, 0.0, 0.0]),
            (1, [-1.0, 0.0, 0.0, 0.0]),
            (2, [0.9, 0.01, 0.0, 0.0]),
            (3, [0.3, 0.9, 0.0, 0.0]),
            (4, [-0.8, -0.1, 0.0, 0.0]),
        ]
        df = self._emb(spark, rows)
        out = {r.vec_id: r for r in
               semdedup(df, k=2, iters=2, threshold=(2, 5)).collect()}
        assert out[0].cluster == out[2].cluster == out[3].cluster
        assert out[1].cluster == out[4].cluster
        assert out[0].cluster != out[1].cluster
        assert out[0].keep is True and out[2].keep is False  # smaller id wins
        assert out[3].keep is True  # cos(0,3) ~ 0.316 < 0.4
        assert out[1].keep is True and out[4].keep is False  # cos ~ 0.996

    def test_assignment_tie_breaks_to_smaller_centroid(self, spark):
        from pdf_parser_spark.operators.semdedup import semdedup

        # vec 2 exactly equidistant from both seeds -> cluster 0
        rows = [(0, [1.0, 0.0]), (1, [3.0, 0.0]), (2, [2.0, 0.0])]
        df = self._emb(spark, rows)
        out = {r.vec_id: r.cluster for r in semdedup(df, k=2, iters=0).collect()}
        assert out[2] == 0

    def test_quantization_ties_away_from_zero(self, spark):
        from pdf_parser_spark.operators.semdedup import quantize

        # 1.5/4096 is exact in float32; *4096 -> exactly 1.5 -> rounds to 2
        # away from zero in Spark (HALF_UP), DuckDB, and the operator's
        # Python centroid math alike
        v = 1.5 / 4096
        df = self._emb(spark, [(0, [v, -v])])
        q = quantize(df).select("q").collect()[0][0]
        assert q == [2, -2]

    def test_empty_cluster_keeps_previous_centroid(self, spark):
        from pdf_parser_spark.operators.semdedup import semdedup

        # seed 2 duplicates seed 0: in iteration 1 every vector ties to the
        # smaller centroid index, so cluster 2 goes EMPTY — the update must
        # not crash, and the empty cluster's centroid must carry over: once
        # centroid 0 drifts toward the cluster mean in iteration 2, the
        # preserved seed re-captures its identical vector at dist2 == 0 (a
        # zeroed-out centroid could not)
        rows = [(0, [1.0, 0.0]), (1, [-1.0, 0.0]), (2, [1.0, 0.0]),
                (3, [0.9, 0.1])]
        df = self._emb(spark, rows)
        out = {r.vec_id: r for r in semdedup(df, k=3, iters=2).collect()}
        assert out[2].cluster == 2 and out[2].dist2 == 0

    def test_exact_dist2_integers(self, spark):
        from pdf_parser_spark.operators.semdedup import semdedup

        # quantized: [4096,0] and [0,4096]; seed = vec 0 only (k=1):
        # after 1 iter centroid = floor(mean+0.5) = [2048,2048]
        rows = [(0, [1.0, 0.0]), (1, [0.0, 1.0])]
        df = self._emb(spark, rows)
        out = {r.vec_id: r.dist2 for r in semdedup(df, k=1, iters=1).collect()}
        assert out[0] == 2048 * 2048 * 2 and out[1] == 2048 * 2048 * 2

    def test_max_cluster_skew_guard(self, spark):
        from pdf_parser_spark.operators.semdedup import semdedup

        # degenerate corpus: every embedding identical -> ONE cluster of 6
        # holding 15 cosine-1 pairs. The cap skips the pairwise step for
        # oversized clusters (everyone keeps); uncapped, only vec 0 keeps.
        rows = [(i, [1.0, 0.0]) for i in range(6)]
        df = self._emb(spark, rows)
        capped = {r.vec_id: r.keep
                  for r in semdedup(df, k=2, iters=1, threshold=(2, 5),
                                    max_cluster=5).collect()}
        assert all(capped.values())
        uncapped = {r.vec_id: r.keep
                    for r in semdedup(df, k=2, iters=1,
                                      threshold=(2, 5)).collect()}
        assert uncapped[0] is True and not any(
            uncapped[i] for i in range(1, 6))

    def test_cap_is_per_cluster(self, spark):
        from pdf_parser_spark.operators.semdedup import semdedup

        # seeds 0, 1, 2 (k=3). Cluster of 0: four identical vectors, above
        # the cap of 3, so all four keep. Cluster of 1: two near-parallel
        # vectors, under the cap, so 6 drops. Vector 2 is alone and keeps.
        rows = [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [-1.0, -1.0]),
                (3, [1.0, 0.0]), (4, [1.0, 0.0]), (5, [1.0, 0.0]),
                (6, [0.01, 1.0])]
        df = self._emb(spark, rows)
        out = {r.vec_id: r for r in
               semdedup(df, k=3, iters=1, threshold=(9, 10),
                        max_cluster=3).collect()}
        clusters = {}
        for r in out.values():
            clusters.setdefault(r.cluster, set()).add(r.vec_id)
        assert sorted(map(sorted, clusters.values())) == [
            [0, 3, 4, 5], [1, 6], [2]]
        assert {i: r.keep for i, r in out.items()} == {
            0: True, 3: True, 4: True, 5: True, 1: True, 6: False, 2: True}

    def test_assignment_plan_size_constant_in_k(self, spark):
        from pdf_parser_spark.operators.semdedup import semdedup
        from tools.plan_audit import node_expressions

        # the centroids ride in the kernel's closure, not in the plan, so
        # the plan cannot grow with k (a per-centroid expression adds ~60
        # nodes per centroid)
        df = self._emb(spark, [(i, [float(i % 5), 1.0, -float(i % 3)])
                               for i in range(64)])

        def exprs(k):
            plan = semdedup(df, k=k, iters=0)._jdf \
                .queryExecution().optimizedPlan()
            return sum(map(len, node_expressions(plan)))

        assert exprs(2) == exprs(64)

    @pytest.mark.parametrize("bad", [[1e5, 0.0], [1.0]])
    def test_inexact_input_raises(self, spark, bad):
        from pyspark.errors import PythonException

        from pdf_parser_spark.operators.semdedup import semdedup

        # 1e5 quantizes to 409,600,000: 4*dim*M^2 >= 2^53, so float64 could
        # no longer hold dist2 exactly; a 1-entry row has no distance to the
        # 2-entry seeds. Neither is a seed, so the kernel itself must refuse
        # it.
        rows = [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, bad)]
        df = self._emb(spark, rows)
        with pytest.raises(PythonException, match="ValueError"):
            semdedup(df, k=2, iters=0).collect()

    def test_k_above_row_count(self, spark):
        from pdf_parser_spark.operators.semdedup import semdedup

        # 3 rows, k=5: every row seeds its own cluster (the oracle's
        # LIMIT k yields 3 seeds too); iterating must not index past them
        rows = [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [-1.0, 0.0])]
        df = self._emb(spark, rows)
        out = {r.vec_id: (r.cluster, r.dist2)
               for r in semdedup(df, k=5, iters=2).collect()}
        assert out == {0: (0, 0), 1: (1, 0), 2: (2, 0)}

    def test_empty_input_gives_empty_frame(self, spark):
        from pdf_parser_spark.operators.semdedup import semdedup

        # no seed to read the dimension from, and nothing to assign
        df = self._emb(spark, [])
        assert semdedup(df, k=2, iters=2).collect() == []
