"""Corpus-cleaning operators (C4/Gopher/RefinedWeb-style public methods)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


class TestCanonicalizeUrl:
    CASES = [
        ("HTTPS://Example.COM:443/Path/?q=1#frag", "https://example.com/Path/?q=1"),
        ("http://a.b:80/", "http://a.b"),
        ("http://a.b/", "http://a.b"),
        ("http://a.b/x", "http://a.b/x"),
        ("https://a.b:8080/x", "https://a.b:8080/x"),  # non-default port kept
        ("not-a-url", "not-a-url"),                     # pass-through
    ]

    def test_cases(self, spark):
        from pdf_parser_spark.operators.cleaning import canonicalize_url

        df = spark.createDataFrame([(u,) for u, _ in self.CASES], "url string")
        got = {r.url: r.canonical_url for r in canonicalize_url(df).collect()}
        for raw, want in self.CASES:
            assert got[raw] == want, raw


class TestScrubPii:
    def test_masks_and_counts(self, spark):
        from pdf_parser_spark.operators.cleaning import scrub_pii

        text = (
            "contact jan.kowalski+x@example.co.uk or call +48 123-456-789; "
            "server at 192.168.0.1 answered"
        )
        df = spark.createDataFrame([(text,), (None,)], "text string")
        rows = scrub_pii(df).collect()
        s = rows[0].text_scrubbed
        assert "<EMAIL>" in s and "<PHONE>" in s and "<IP>" in s
        assert "example.co.uk" not in s and "192.168.0.1" not in s
        assert rows[0].n_pii == 3
        assert rows[1].text_scrubbed is None

    def test_clean_text_untouched(self, spark):
        from pdf_parser_spark.operators.cleaning import scrub_pii

        text = "a perfectly normal sentence with the year 2024 in it"
        r = scrub_pii(spark.createDataFrame([(text,)], "text string")).collect()[0]
        assert r.text_scrubbed == text and r.n_pii == 0


class TestRepetitionFlags:
    def _flags(self, spark, text):
        from pdf_parser_spark.operators.cleaning import repetition_flags

        df = spark.createDataFrame([(0, text)], "doc_id bigint, text string")
        return repetition_flags(df).collect()[0]

    def test_clean_doc_kept(self, spark):
        r = self._flags(spark, "one two three four five\nsix seven eight nine ten")
        assert r.keep and r.dup_line_frac == 0.0 and r.top_word_frac == 0.1

    def test_duplicate_lines_flagged(self, spark):
        r = self._flags(spark, "same line\n" * 10 + "unique words differ here")
        assert r.dup_line_frac > 0.3 and not r.keep

    def test_keyword_stuffing_flagged(self, spark):
        r = self._flags(spark, "buy " * 30 + "now cheap deals")
        assert r.top_word_frac > 0.2 and not r.keep

    def test_empty_text_zeroes(self, spark):
        r = self._flags(spark, "")
        assert (r.dup_line_frac, r.top_word_frac) == (0.0, 0.0)


class TestDomainOps:
    def test_stats(self, spark):
        from pdf_parser_spark.operators.cleaning import domain_stats

        rows = [(f"https://big.site/{i}", "x" * 10) for i in range(5)]
        rows += [("https://solo.site/1", "y" * 20)]
        df = spark.createDataFrame(rows, "url string, text string")
        stats = {r.host: (r.docs, r.mean_chars) for r in domain_stats(df).collect()}
        assert stats == {"big.site": (5, 10.0), "solo.site": (1, 20.0)}


class TestLineDedup:
    # extra inputs in every case: NULL text keeps a row with no lines, ""
    # is one blank line that no other doc shares; neither changes a row
    NULL_DOC, EMPTY_DOC = 900, 901

    def _run(self, spark, rows):
        from pdf_parser_spark.operators.cleaning import line_dedup

        extra = [(self.NULL_DOC, None), (self.EMPTY_DOC, "")]
        df = spark.createDataFrame(rows + extra, "doc_id bigint, text string")
        out = {r.doc_id: r for r in line_dedup(df).collect()}
        assert len(out) == len(rows) + 2
        assert tuple(out.pop(self.NULL_DOC))[1:] == ("", 0, 0)
        assert tuple(out.pop(self.EMPTY_DOC))[1:] == ("", 1, 1)
        return out

    def test_common_lines_dropped_order_preserved(self, spark):
        boiler = "COOKIE BANNER"
        rows = [
            (0, f"{boiler}\nunique alpha\nmiddle zero\n{boiler}"),
            (1, f"{boiler}\nunique beta"),
            (2, "entirely unique document"),
        ]
        out = self._run(spark, rows)
        assert out[0].text_deduped == "unique alpha\nmiddle zero"
        assert out[0].n_lines_total == 4 and out[0].n_lines_kept == 2
        assert out[1].text_deduped == "unique beta"
        assert out[2].text_deduped == "entirely unique document"

    def test_all_lines_dropped_yields_empty_row_not_missing(self, spark):
        out = self._run(spark, [(0, "same\nsame2"), (1, "same\nsame2")])
        assert set(out) == {0, 1}
        assert out[0].text_deduped == "" and out[0].n_lines_kept == 0
        assert out[0].n_lines_total == 2

    def test_within_doc_repeats_survive_freq_filter(self, spark):
        out = self._run(spark, [(0, "twice\ntwice\nother"), (1, "unrelated")])
        # 'twice' occurs in only ONE doc (doc-frequency 1) -> both copies kept
        assert out[0].text_deduped == "twice\ntwice\nother"


class TestGopherQualityGate:
    """gopher.gopher_quality_gate — the canonical Gopher rule set
    (Rae et al. 2021 A1.1) as pure JVM expressions."""

    def _gate(self, spark, rows):
        from pdf_parser_spark.operators.gopher import gopher_quality_gate

        df = spark.createDataFrame(rows, "url string, text string")
        return {r.url: r for r in gopher_quality_gate(df).collect()}

    def test_good_doc_keeps(self, spark):
        text = " ".join(
            ["the quick brown fox jumps over"] * 10
            + ["and that sentence must have enough words to pass with room"]
        )
        out = self._gate(spark, [("a", text)])["a"]
        assert out.keep is True
        assert out.n_words == 71
        assert out.rule_word_count and out.rule_stopwords

    def test_short_doc_fails_word_count_only(self, spark):
        out = self._gate(spark, [("a", "the cat sat on the mat with joy")])["a"]
        assert out.n_words == 8
        assert out.rule_word_count is False
        assert out.rule_stopwords is True  # 'the' x2 + 'with'
        assert out.keep is False

    def test_stopword_rule(self, spark):
        # 60 alpha words, zero Gopher stop-words
        text = " ".join(["lorem", "ipsum", "dolor"] * 20)
        out = self._gate(spark, [("a", text)])["a"]
        assert out.n_stop_kinds == 0 and out.rule_stopwords is False
        assert out.rule_word_count is True and out.keep is False

    def test_stopword_kinds_ignore_case_and_repeats(self, spark):
        out = self._gate(spark, [("a", "THE the The with zebra")])["a"]
        assert (out.n_stop_kinds, out.rule_stopwords) == (2, True)

    def test_repeats_of_one_stopword_are_one_kind(self, spark):
        # Gopher's rule asks for two of the listed WORDS: "the the" holds one
        out = self._gate(spark, [("a", "the the")])["a"]
        assert (out.n_stop_kinds, out.rule_stopwords) == (1, False)

    def test_bullet_and_ellipsis_line_ratios(self, spark):
        lines = ["- item one", "* item two", "  • indented bullet",
                 "trailing dots...", "unicode ellipsis…", "plain line"]
        out = self._gate(spark, [("a", "\n".join(lines))])["a"]
        assert out.n_lines == 6
        assert out.frac_bullet_lines == pytest.approx(3 / 6, abs=1e-4)
        assert out.frac_ellipsis_lines == pytest.approx(2 / 6, abs=1e-4)
        assert out.rule_ellipsis_lines is False  # 0.3333 > 0.3

    def test_symbol_ratio_counts_hash_and_dots(self, spark):
        # 4 words, '##' = 2 symbols + one non-overlapping '...' = 3
        out = self._gate(spark, [("a", "alpha ## beta... gamma delta")])["a"]
        assert out.symbol_ratio == pytest.approx(3 / 5, abs=1e-4)
        assert out.rule_symbol_ratio is False

    def test_mean_word_len_and_alpha_fraction(self, spark):
        out = self._gate(spark, [("a", "abcd 1234 ef12")])["a"]
        assert out.mean_word_len == pytest.approx(4.0, abs=1e-4)
        assert out.frac_alpha_words == pytest.approx(2 / 3, abs=1e-4)
        assert out.rule_alpha_words is False

    def test_empty_and_whitespace_text_rejected_not_crashed(self, spark):
        out = self._gate(spark, [("a", ""), ("b", "   \n  ")])
        for r in out.values():
            assert r.n_words == 0 and r.keep is False
            assert r.mean_word_len == 0.0 and r.symbol_ratio == 0.0


class TestDecontaminate:
    """decontaminate.decontaminate — benchmark n-gram overlap flags."""

    BENCH = "the quick brown fox jumps over the lazy dog tonight"
    # extra input in every case: NULL text keeps its row with no hits and
    # changes no other row
    NULL_DOC = 900

    def _run(self, spark, docs):
        from pdf_parser_spark.operators.decontaminate import decontaminate

        ddf = spark.createDataFrame(docs + [(self.NULL_DOC, None)],
                                    "doc_id bigint, text string")
        bdf = spark.createDataFrame([(100, self.BENCH)],
                                    "doc_id bigint, text string")
        out = {r.doc_id: r for r in decontaminate(ddf, bdf).collect()}
        assert len(out) == len(docs) + 1
        assert tuple(out.pop(self.NULL_DOC))[1:] == (0, False)
        return out

    def test_exact_overlap_flagged(self, spark):
        docs = [
            (0, "prefix words " + self.BENCH + " suffix words"),
            (1, "entirely unrelated content with many different words here"),
        ]
        out = self._run(spark, docs)
        assert out[0].contaminated is True
        assert out[0].n_contaminated_grams == 3  # 10 bench tokens -> 3 8-grams
        assert out[1].contaminated is False
        assert out[1].n_contaminated_grams == 0

    def test_case_insensitive(self, spark):
        out = self._run(spark, [(0, self.BENCH.upper())])
        assert out[0].contaminated is True

    def test_short_docs_never_flagged(self, spark):
        out = self._run(spark, [(0, "the quick brown fox"), (1, "")])
        assert out[0].n_contaminated_grams == 0
        assert out[1].contaminated is False

    def test_min_hits_threshold(self, spark):
        docs = [(0, " ".join(self.BENCH.split()[:8]))]  # exactly one gram
        assert self._run(spark, docs)[0].contaminated is True

    def test_repeated_gram_counts_once(self, spark):
        one = " ".join(self.BENCH.split()[:8])
        out = self._run(spark, [(0, one + " " + one)])
        # doc grams are distinct-counted; the repeat adds bridging grams
        # that are NOT in the benchmark, so the hit count stays 1
        assert out[0].n_contaminated_grams == 1

    def test_benchmark_side_broadcasts(self, spark):
        from pdf_parser_spark.operators.decontaminate import decontaminate

        ddf = spark.createDataFrame([(0, self.BENCH)],
                                    "doc_id bigint, text string")
        df = decontaminate(ddf, ddf)
        mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode \
            .fromString("formatted")
        plan = df._jdf.queryExecution().explainString(mode)
        # the one join, corpus grams LEFT-joined to the benchmark set, must
        # broadcast the benchmark side (small by definition), so the big
        # side never shuffles for it
        assert "BroadcastHashJoin" in plan
        assert "LeftOuter BuildRight" in plan.split("BroadcastHashJoin")[1][:40]
