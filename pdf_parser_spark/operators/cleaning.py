"""Corpus-cleaning operators from the public training-data literature
(C4 [Raffel et al. 2020], Gopher [Rae et al. 2021], RefinedWeb [Penedo et
al. 2023]): URL canonicalization, PII scrubbing, Gopher's repetition
flags, CCNet-style line dedup, and domain-level rollups. All JVM
expressions (no Python in the hot path) with exact DuckDB-SQL oracles.
Gopher's other quality rules (stop words, symbol ratio, word and line
shape) are the one gate in :mod:`.gopher`.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .textstats import lines, lower_tokens

__all__ = [
    "canonicalize_url", "host_of", "scrub_pii", "repetition_flags",
    "line_dedup", "domain_stats",
]

# Gopher's repetition bounds (Rae et al. 2021, A1.1): duplicate-line
# fraction 0.30; the modal-word fraction takes the paper's top-2-gram
# character fraction bound, 0.20
MAX_DUP_LINE_FRAC = 0.30
MAX_TOP_WORD_FRAC = 0.20

# PII patterns (shared verbatim with the DuckDB oracles; RE2-safe, no
# backrefs). Order matters: emails before phones (an email may contain
# digit runs a phone pattern would partially eat).
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\+?\d[\d .-]{7,14}\d"
IPV4_RE = r"\b(\d{1,3})\.(\d{1,3})\.(\d{1,3})\.(\d{1,3})\b"


def host_of(url: Column) -> Column:
    """Lowercased hostname without a default-port suffix."""
    host = F.lower(F.regexp_extract(url, r"^[a-zA-Z]+://([^/?#]+)", 1))
    return F.regexp_replace(host, r":(80|443)$", "")


def canonicalize_url(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Canonical form for dedup/join keys: lowercase scheme+host, default
    ports stripped, fragment dropped, and a bare "/" path dropped (a longer
    path keeps its trailing slash).

    Two pages differing only in these never differ in content, so the
    canonical url is the natural dedup/bucketing key at crawl scale.
    """
    u = F.col(url_col)
    scheme = F.lower(F.regexp_extract(u, r"^([a-zA-Z]+)://", 1))
    rest = F.regexp_extract(u, r"^[a-zA-Z]+://[^/?#]+([^#]*)", 1)  # path+query
    rest = F.regexp_replace(rest, r"^/$", "")  # bare trailing slash
    canon = F.when(
        scheme == "", u  # not a hierarchical url: pass through untouched
    ).otherwise(F.concat(scheme, F.lit("://"), host_of(u), rest))
    return df.withColumn("canonical_url", canon)


def scrub_pii(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Mask emails, phone-like digit runs, and IPv4 addresses with typed
    placeholder tokens (the standard pre-training redaction pass). Adds
    `text_scrubbed` plus per-kind match counts for audit/lineage.
    """
    t = F.col(text_col)
    after_email = F.regexp_replace(t, EMAIL_RE, "<EMAIL>")
    after_ip = F.regexp_replace(after_email, IPV4_RE, "<IP>")
    scrubbed = F.regexp_replace(after_ip, PHONE_RE, "<PHONE>")
    # counts follow the same redaction order as the replacements, so an
    # IPv4 (digit runs with dots) is never double-counted as a phone
    return df.withColumn("text_scrubbed", scrubbed).withColumn(
        "n_pii",
        F.size(F.regexp_extract_all(t, F.lit(EMAIL_RE), 0))
        + F.size(F.regexp_extract_all(after_email, F.lit(IPV4_RE), 0))
        + F.size(F.regexp_extract_all(after_ip, F.lit(PHONE_RE), 0)),
    )


def repetition_flags(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style repetition signals, pure array expressions:

    - dup_line_frac: 1 - distinct(lines)/lines over non-blank lines
      (boilerplate pages repeat nav/footer lines)
    - top_word_frac: frequency of the most common word / total words
      (keyword-stuffed spam)

    Emits the fractions and a combined `keep` verdict at the bounds above.
    """
    t = F.col(text_col)
    arrays = df.select(
        F.col(id_col),
        F.filter(lines(t), lambda x: F.trim(x) != "").alias("_lines"),
        lower_tokens(t).alias("_words"),
    )
    lns, words = F.col("_lines"), F.col("_words")
    n_lines = F.size(lns)
    dup_line_frac = F.when(n_lines <= 0, F.lit(0.0)).otherwise(
        1.0 - F.size(F.array_distinct(lns)) / n_lines.cast("double")
    )

    n_words = F.size(words)
    # modal-word frequency in O(n log n): sort, then one linear fold
    # tracking (prev, current run, best run) — not the O(n^2)
    # count-each-distinct shape, which dies on long documents
    folded = F.aggregate(
        F.array_sort(words),
        F.struct(
            F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
        ),
        lambda acc, w: F.struct(
            w.alias("prev"),
            F.when(w == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc["best"],
                F.when(w == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
    )
    top_word_frac = F.when(n_words <= 0, F.lit(0.0)).otherwise(
        folded["best"] / n_words.cast("double")
    )

    return arrays.select(
        F.col(id_col),
        F.round(dup_line_frac, 6).alias("dup_line_frac"),
        F.round(top_word_frac, 6).alias("top_word_frac"),
        (
            (dup_line_frac <= MAX_DUP_LINE_FRAC)
            & (top_word_frac <= MAX_TOP_WORD_FRAC)
        ).alias("keep"),
    )


def line_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """CCNet-style cross-document line dedup: drop every line that occurs in
    more than one document (site boilerplate, cookie banners, nav text),
    then reassemble each document's remaining lines in their original order.

    ``id_col`` must be a key of ``df``: one row per id, NULL text giving
    ("", 0, 0). Shape at scale: one posexplode_outer (NULL text keeps one
    row with a NULL pos and line, so no document needs a rejoin) -> one
    distinct-doc count per line (two map-side-combinable aggregates) ->
    the too-common lines LEFT-join back (a NULL line never matches) -> one
    groupBy(doc) that counts lines and array_sorts the kept (pos, line)
    structs back into text. Shuffles carry lines, never whole documents,
    and the frequency side can be computed on a sample or a sketch at
    10^12 docs without changing the plan shape.
    """
    line_rows = df.select(
        F.col(id_col),
        F.posexplode_outer(lines(F.col(text_col))).alias("pos", "line"),
    )
    common = (
        line_rows.groupBy("line")
        .agg(F.countDistinct(id_col).alias("_df"))
        .where(F.col("_df") > 1)
    )
    kept = F.col("pos").isNotNull() & F.col("_df").isNull()
    kept_lines = F.array_sort(
        F.collect_list(F.when(kept, F.struct("pos", "line"))))
    return line_rows.join(common, "line", "left").groupBy(id_col).agg(
        F.array_join(F.transform(kept_lines, lambda x: x["line"]), "\n")
        .alias("text_deduped"),
        F.count(F.when(kept, 1)).alias("n_lines_kept"),
        F.count("pos").alias("n_lines_total"),
    )


def domain_stats(
    df: DataFrame, url_col: str = "url", text_col: str = "text"
) -> DataFrame:
    """Per-host rollup (docs, mean length) — the RefinedWeb-style signal for
    domain-level curation. One hash aggregate, map-side combinable."""
    return (
        df.select(host_of(F.col(url_col)).alias("host"), F.col(text_col))
        .groupBy("host")
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.round(F.avg(F.length(text_col)), 4).alias("mean_chars"),
        )
    )

