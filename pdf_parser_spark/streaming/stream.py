"""Structured Streaming lift of the extraction pipeline.

The reference is a bounded interactive app (SURVEY.md §2.9) and the batch
job's resume story is snapshot-based; this module is the incremental-feed
variant the north star anticipates ("if the corpus were fed incrementally").
The SAME plan runs unchanged: pipeline.extract_pipeline is stateless
(mapInPandas), so the streaming job calls the batch plan builder with a file
(or Iceberg/Kafka) stream source in front.

Semantics at scale:
  * exactly-once via the checkpoint: file-source offsets + sink commit log
    replace the batch anti-join resume; a killed job resumes from the last
    committed micro-batch with zero duplicate urls.
  * Trigger.AvailableNow drains the backlog in bounded micro-batches and
    exits — the deployment shape for "catch up nightly on new crawls".
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..pipeline import extract_pipeline
from ..sources.warc import WARC_SCHEMA

MAX_FILES_PER_TRIGGER = 4  # pages files per micro-batch


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
    pages = (
        spark.readStream.schema(WARC_SCHEMA)  # a stream cannot infer it
        .option("maxFilesPerTrigger", MAX_FILES_PER_TRIGGER)
        .parquet(f"{corpus_dir}/pages.parquet")
    )
    extracted = extract_pipeline(pages)
    return (
        extracted.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )

