"""Loose-file byte source (SURVEY.md §2.1 S1/S2).

The reference ingests raw document bytes from upload handles one file at a
time (/root/reference/src/app.py:165,218; batch loop
/root/reference/src/pdf_parser/processors/batch_processor.py:66-68). The
Spark-native equivalent is the built-in `binaryFile` source: every file
becomes one row, parallelism comes from file partitioning, not a loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_binary_files(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
) -> DataFrame:
    """Read loose files (PDFs, HTML dumps) under `path`, recursively, into
    the canonical pages schema.

    url      <- file path (the reference's `filename`; F4's extension
                predicate works unchanged on it)
    warc_ts  <- file modification time (stand-in for crawl timestamp)
    html     <- raw bytes (BinaryType, exactly what the kernel consumes)
    text     <- '' (nothing pre-extracted)
    lang     <- NULL (unknown at ingest)

    binaryFile supports predicate pushdown on path/length/modificationTime,
    so e.g. `.where(F.col("length") < 50*1024*1024)` prunes at the listing —
    apply F1 before the bytes are ever read when filtering by size.
    """
    reader = spark.read.format("binaryFile").option("recursiveFileLookup", "true")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    df = reader.load(path)
    return df.select(
        F.col("path").alias("url"),
        F.col("modificationTime").alias("warc_ts"),
        F.col("content").alias("html"),
        F.lit("").alias("text"),
        F.lit(None).cast("string").alias("lang"),
    )
