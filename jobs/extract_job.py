"""Production entry point: the extraction pipeline under spark-submit.

Cluster launch (the north rule's deployment shape):

    python tools/package.py                       # -> dist/pdf_parser_spark.zip
    spark-submit --py-files dist/pdf_parser_spark.zip \
        jobs/extract_job.py \
        --input  s3://bucket/pages_table \
        --output s3://bucket/extractions \
        --method classic

Local smoke:

    python jobs/extract_job.py --input /root/repo/.corpus/sf0.001 \
        --output /tmp/extract_out

The script never creates its own master/config in cluster mode — all sizing
(executors, memory, shuffle partitions) belongs to spark-submit; getOrCreate
picks up the submitted conf. Source selection: by default --input is a
directory with pages.parquet (the table scan); --source warc treats it as a
directory of WARC archives, --source binary as loose document files.

Every run resumes: it extracts only the urls not already committed at
--output (a left-anti join on url), so a rerun after a partial or complete
commit appends no url twice. A missing or empty --output means nothing is
committed yet; any other failure to read it fails the job before anything
is written, rather than re-extracting. To keep a second method's rows for
urls already committed, write them to a different --output.
"""

from __future__ import annotations

import argparse
import os
import sys

# under spark-submit --py-files the package arrives on sys.path via the zip,
# which must win; bare local runs fall back to the checkout appended here
sys.path.append(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="web-scale extraction job")
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--method", default="classic", choices=["classic", "ai"])
    ap.add_argument("--source", default="table", choices=["table", "warc", "binary"])
    ap.add_argument("--repartition", type=int, default=None,
                    help="force the url-hash exchange (unsplittable sources)")
    ap.add_argument("--lineage-output", default=None,
                    help="where to write per-partition lineage rows")
    args = ap.parse_args(argv)
    if args.repartition is not None and args.repartition < 1:
        ap.error(f"argument --repartition: must be >= 1, got {args.repartition}")

    from pyspark.errors import AnalysisException
    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("pdf-parser-spark-extract").getOrCreate()
    from pdf_parser_spark.pipeline import (
        extract_pipeline, lineage_rows, load_pages, resume_against,
        with_metrics, write_output,
    )
    from pdf_parser_spark.sources import read_binary_files, read_warc

    if args.source == "warc":
        pages = read_warc(spark, args.input)
    elif args.source == "binary":
        pages = read_binary_files(spark, args.input)
    else:
        pages = load_pages(spark, args.input)

    try:
        pages = resume_against(pages, spark.read.parquet(args.output))
    except AnalysisException as e:
        if e.getCondition() not in ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA"):
            raise  # unreadable committed output: never re-extract over it

    result, obs = with_metrics(
        extract_pipeline(
            pages, method=args.method,
            repartition_partitions=args.repartition,
        )
    )
    write_output(result, args.output)
    print(f"metrics: {obs.get}", file=sys.stderr)

    if args.lineage_output:
        lineage_rows(spark.read.parquet(args.output)).write.mode(
            "overwrite"
        ).parquet(args.lineage_output)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
