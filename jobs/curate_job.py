"""Production entry point: the curation pipeline under spark-submit.

Runs the full training-data path over a pages table in ONE Spark plan:
extract -> exact-dedup (smallest url survives) -> token-count quality
gate -> overlapping token chunks, written as parquet.

    python tools/package.py
    spark-submit --py-files dist/pdf_parser_spark.zip jobs/curate_job.py \
        --input s3://bucket/pages_table --output s3://bucket/chunks \
        --chunk-tokens 2048 --overlap 64 --min-tokens 50

Local smoke:

    python jobs/curate_job.py --input /root/repo/.corpus/sf0.001 \
        --output /tmp/curate_out
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def build_curated_chunks(spark, input_dir, chunk_tokens=2048, overlap=64,
                         min_tokens=10, sample_rate=None):
    """The job's full lazy plan (extract -> exact-dedup -> quality gate ->
    optional deterministic sample -> overlapping chunks) as a DataFrame,
    shared by the CLI main() and the driver-verified
    `pipeline_curate_end2end` query so the composed path that ships under
    spark-submit is the exact path the correctness harness re-proves."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from pdf_parser_spark.operators.chunking import (
        chunk_documents, deterministic_sample,
    )
    from pdf_parser_spark.operators.textstats import content_fingerprint, tokens
    from pdf_parser_spark.pipeline import extract_pipeline, load_pages

    pages = load_pages(spark, input_dir)
    ok = (
        extract_pipeline(pages)
        .where(F.col("status") == "ok")
        .select("url", "text")
    )
    w = Window.partitionBy("fingerprint").orderBy("url")
    deduped = (
        ok.withColumn("fingerprint", content_fingerprint(F.col("text")))
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn", "fingerprint")
    )
    quality = deduped.where(F.size(tokens(F.col("text"))) >= min_tokens)
    if sample_rate is not None:
        quality = deterministic_sample(quality, key_col="url", rate=sample_rate)
    return chunk_documents(
        quality, text_col="text", id_col="url",
        chunk_tokens=chunk_tokens, overlap=overlap,
    )


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="extract -> dedup -> chunk job")
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--chunk-tokens", type=int, default=2048)
    ap.add_argument("--overlap", type=int, default=64)
    ap.add_argument("--min-tokens", type=int, default=10)
    ap.add_argument("--sample-rate", type=float, default=None,
                    help="deterministic hash-threshold sampling by url")
    args = ap.parse_args(argv)

    from pyspark.sql import Observation, SparkSession
    from pyspark.sql import functions as F

    spark = SparkSession.builder.appName("pdf-parser-spark-curate").getOrCreate()
    chunks = build_curated_chunks(
        spark, args.input, chunk_tokens=args.chunk_tokens,
        overlap=args.overlap, min_tokens=args.min_tokens,
        sample_rate=args.sample_rate,
    )
    obs = Observation("curate_metrics")
    counted = chunks.observe(obs, F.count(F.lit(1)).alias("chunks"))
    counted.write.mode("overwrite").parquet(args.output)
    print(f"chunks written: {obs.get['chunks']}", file=sys.stderr)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
