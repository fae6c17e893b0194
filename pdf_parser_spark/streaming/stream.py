"""Structured Streaming lift of the extraction pipeline.

The reference is a bounded interactive app (SURVEY.md §2.9) and the batch
job's resume story is snapshot-based; this module is the incremental-feed
variant the north star anticipates ("if the corpus were fed incrementally").
The SAME plan runs unchanged: pipeline.extract_pipeline is stateless
(mapInPandas), so the streaming jobs call the batch plan builder with a file
(or Iceberg/Kafka) stream source in front.

Semantics at scale:
  * exactly-once via the checkpoint: file-source offsets + sink commit log
    replace the batch anti-join resume; a killed job resumes from the last
    committed micro-batch with zero duplicate urls.
  * Trigger.AvailableNow drains the backlog in bounded micro-batches and
    exits — the deployment shape for "catch up nightly on new crawls".
  * watermarked event-time windows on warc_ts give late-data-tolerant
    per-window counters (the streaming analog of the lineage counters).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.cleaning import host_of
from ..operators.textstats import content_fingerprint
from ..pipeline import extract_pipeline
from ..sources.warc import WARC_SCHEMA

MAX_FILES_PER_TRIGGER = 4  # pages files per micro-batch
WATERMARK = "2 hours"      # event-time lateness a stream's state tolerates
WINDOW = "1 hour"          # event-time window of the status counters


def _pages_stream(spark: SparkSession, corpus_dir: str) -> DataFrame:
    return (
        # the pages table's schema (a streaming source cannot infer it)
        spark.readStream.schema(WARC_SCHEMA)
        .option("maxFilesPerTrigger", MAX_FILES_PER_TRIGGER)
        .parquet(f"{corpus_dir}/pages.parquet")
    )


def stream_extract(
    spark: SparkSession,
    corpus_dir: str,
    out_path: str,
    checkpoint: str,
) -> StreamingQuery:
    """Run the extraction kernel as a streaming job with checkpointed resume.

    Returns the started query; callers awaitTermination() (AvailableNow
    stops by itself once the backlog drains).
    """
    pages = _pages_stream(spark, corpus_dir)
    extracted = extract_pipeline(pages)
    return (
        extracted.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def stream_host_stats(
    spark: SparkSession,
    corpus_dir: str,
    checkpoint: str,
) -> StreamingQuery:
    """Incremental per-host crawl statistics that survive across
    micro-batches: Spark's built-in streaming aggregate, no per-row Python.

    Per host (cleaning.host_of: lowercased, default port stripped, the
    host every batch operator keys on): docs, bytes (html length, 0 for
    NULL html), first_ts and last_ts (min / max warc_ts). The partial
    aggregates live in the state
    store, partitioned by host hash, so state shards across executors and
    each micro-batch folds only its own rows into it. UPDATE mode emits the
    running totals of the hosts a micro-batch touched; the latest row per
    host is its total.

    Emits to an in-memory sink named 'host_stats'.
    """
    pages = _pages_stream(spark, corpus_dir)
    stats = (
        pages.groupBy(host_of(F.col("url")).alias("host"))
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum(F.coalesce(F.length("html"), F.lit(0))).alias("bytes"),
            F.min("warc_ts").alias("first_ts"),
            F.max("warc_ts").alias("last_ts"),
        )
    )
    return (
        stats.writeStream.format("memory")
        .queryName("host_stats")
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )


def stream_status_counts(
    spark: SparkSession,
    corpus_dir: str,
    checkpoint: str,
) -> StreamingQuery:
    """Watermarked per-WINDOW ok/error counters over the live stream.

    Late rows beyond the watermark are dropped from their window instead of
    blocking state forever, and UPDATE output mode lets the watermark
    actually evict closed windows — complete mode would retain every window
    ever seen, unbounding state at 10^12-document scale. Each micro-batch
    emits the updated running totals; the latest row per (window, status)
    is the current count. In-memory sink named 'status_counts'.
    """
    pages = _pages_stream(spark, corpus_dir)
    extracted = extract_pipeline(pages)
    counts = (
        extracted.withWatermark("warc_ts", WATERMARK)
        .groupBy(F.window("warc_ts", WINDOW).alias("w"), "status")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "status", "n")
    )
    return (
        counts.writeStream.format("memory")
        .queryName("status_counts")
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )


def stream_exact_dedup(
    spark: SparkSession,
    corpus_dir: str,
    out_path: str,
    checkpoint: str,
) -> StreamingQuery:
    """Streaming exact dedup: emit each normalized-content fingerprint once.

    dropDuplicatesWithinWatermark keeps only fingerprints seen within the
    watermark horizon in state — the streaming analog of the batch
    exact_dedup hash aggregate, with BOUNDED state at web scale: a crawl
    feed's duplicates cluster in time (re-fetches, mirrors), so a horizon
    of hours catches them while the state store never holds the full
    corpus's fingerprint set. Batch-global dedup remains exact_dedup /
    resume_against; this operator is the incremental front-line filter.
    """
    pages = _pages_stream(spark, corpus_dir)
    deduped = (
        pages.select(
            "url",
            "warc_ts",
            content_fingerprint(F.col("text")).alias("fingerprint"),
        )
        .withWatermark("warc_ts", WATERMARK)
        .dropDuplicatesWithinWatermark(["fingerprint"])
    )
    return (
        deduped.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
