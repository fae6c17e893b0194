"""Loose-file byte source (SURVEY.md §2.1 S1/S2).

The reference ingests raw document bytes from upload handles one file at a
time (/root/reference/src/app.py:165,218; batch loop
/root/reference/src/pdf_parser/processors/batch_processor.py:66-68). The
Spark-native equivalent is the built-in `binaryFile` source: every file
becomes one row, parallelism comes from file partitioning, not a loop.
"""

from __future__ import annotations

import posixpath
from urllib.parse import unquote, urlsplit

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _scan(spark: SparkSession, path: str, glob: str | None = None) -> DataFrame:
    """The `binaryFile` scan of the files under `path`, recursively: one row
    (path, modificationTime, length, content) per non-empty data file."""
    reader = spark.read.format("binaryFile").option("recursiveFileLookup", "true")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path)


def _lists_unread_files(df: DataFrame) -> bool:
    """Whether the index of the bare scan `df` lists a file the scan reads
    no row of: a zero-length file, or a `_metadata` file.

    Both counts come from the driver's cached listing in two calls, none per
    file: `inputFiles()` names every listed file, the planned scan's
    `selectedPartitions` only the non-empty data files
    (`PartitioningAwareFileIndex.listFiles`).
    """
    listed = len(df._jdf.inputFiles())
    read = df._jdf.queryExecution().sparkPlan().selectedPartitions().totalNumberOfFiles()
    return listed != read


def _listed_data_files(df: DataFrame) -> list[str]:
    """Every file the scan's index lists and may read, as `path` strings.

    `inputFiles()` names the listed files as URIs (`file:///d/a%20b`); the
    `path` column holds Hadoop's `Path.toString` (`file:/d/a b`). The index
    also lists `_metadata` files that the scan never reads: Spark keeps a file
    only when its name starts with neither `.` nor `_`, or holds `=`
    (`PartitioningAwareFileIndex.isDataPath`).
    """
    out = []
    for uri in df.inputFiles():
        u = urlsplit(uri)
        fs_path = unquote(u.path)
        name = posixpath.basename(fs_path)
        if name.startswith(".") or (name.startswith("_") and "=" not in name):
            continue
        out.append(f"{u.scheme}:" + (f"//{u.netloc}" if u.netloc else "") + fs_path)
    return out


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

    A zero-byte file is a row too, with empty `html` (the kernel makes it an
    'empty document' error row) and a NULL `warc_ts`. The scan reads no file
    of length 0, so when the index lists a file the scan lacks, those rows
    come from the index's own listing (`inputFiles()`, no second listing):
    each listed data file left-anti-joined against a second scan that
    projects `path` alone. That scan reads no bytes but stats every file
    again, once per file as the first scan does, and the listing is copied
    to the driver's Python one call per file; a directory with no empty
    file pays neither (see `_lists_unread_files`).
    """
    df = _scan(spark, path, glob)
    pages = df.select(
        F.col("path").alias("url"),
        F.col("modificationTime").alias("warc_ts"),
        F.col("content").alias("html"),
    )
    if _lists_unread_files(df):
        listed = spark.createDataFrame([(f,) for f in _listed_data_files(df)], "url string")
        pages = pages.unionByName(
            listed.join(pages.select("url"), "url", "left_anti").select(
                "url",
                F.lit(None).cast("timestamp").alias("warc_ts"),
                F.lit("").cast("binary").alias("html"),
            )
        )
    return pages.select(
        "url", "warc_ts", "html",
        F.lit("").alias("text"),
        F.lit(None).cast("string").alias("lang"),
    )
