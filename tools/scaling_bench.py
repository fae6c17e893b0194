"""Scaling-efficiency evidence for the north rule (BASELINE.json).

The two-cluster-size criterion (>=0.8 throughput efficiency from N to 4N
executors) cannot use a real cluster in this sandbox; per driver instruction
it is evidenced by running the IDENTICAL job on the IDENTICAL input at two
local parallelism levels — local[8] vs local[32] — each in a fresh JVM.

Both runs use the same plan: same shuffle-partition count (128, so the unit
of work is identical and only the parallelism differs), same Arrow batching,
same kernel. Reported: docs/sec + MB/sec at each level, and
efficiency = tput(4N) / (4 * tput(N)).

Usage: python tools/scaling_bench.py [--sf 1.0] [--runs 3] [--update-docs]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CHILD = r"""
import json, sys, time
sys.path.insert(0, {repo!r})
from pyspark.sql import functions as F
from pdf_parser_spark.session import get_spark
from pdf_parser_spark.pipeline import load_pages
from tools.scaling_bench import build_plan

cores, corpus, runs, parts = {cores}, {corpus!r}, {runs}, {parts}
plan_name = {plan!r}
spark = get_spark(master=f"local[{{cores}}]", app_name=f"scale-{{cores}}",
                  shuffle_partitions=parts)
spark.sparkContext.setLogLevel("ERROR")
pages = load_pages(spark, corpus)
stats = pages.agg(
    F.count(F.lit(1)).alias("docs"),
    (F.sum(F.coalesce(F.length("html"), F.lit(0)))
     + F.sum(F.length(F.encode(F.coalesce(F.col("text"), F.lit("")), "utf-8")))
     ).alias("bytes"),
).collect()[0]
plan = build_plan(spark, pages, corpus, plan_name, parts)
plan.count()  # cold run: worker fork + plan compile, excluded from timing
best = float("inf")
for _ in range(runs):
    t0 = time.perf_counter()
    plan.count()
    best = min(best, time.perf_counter() - t0)
print(json.dumps({{"cores": cores, "sec": round(best, 3),
                   "docs": int(stats["docs"]), "bytes": int(stats["bytes"])}}))
spark.stop()
"""


PLANS = ("extract", "lsh", "repartition", "curate", "spandedup")


def build_plan(spark, pages, corpus: str, plan_name: str, parts: int):
    """The lazy plan a --plan value times over `pages` (the corpus's pages
    table); building it runs nothing."""
    from pyspark.sql import functions as F

    from pdf_parser_spark.pipeline import extract_pipeline

    if plan_name == "lsh":
        # shuffle-BEARING evidence plan (VERDICT r3 item 4): the end-to-end
        # extract -> MinHash-LSH path users actually run. The banding is
        # shingle-explode -> groupBy(doc) -> band-explode -> window count ->
        # self-join — the exchange-heavy stages where 4N could stall on
        # shuffle. (The corpus `text` COLUMN is a ~9-char stub; real document
        # text only exists post-extraction, so LSH over the raw column would
        # measure nothing but fixed overhead.)
        from pdf_parser_spark.operators.dedup import minhash_lsh_pairs
        docs = (
            extract_pipeline(pages)
            .where(F.col("status") == "ok")
            .select(F.col("url").alias("doc_id"),
                    F.coalesce(F.col("text"), F.lit("")).alias("text"))
        )
        return minhash_lsh_pairs(docs, max_bucket=50)
    elif plan_name == "spandedup":
        # span-level exact-substring dedup (r5): the operator's one big
        # exchange keys on 8-byte xxhash64 gram hashes with map-side partial
        # counts, then a join-back and a per-doc groupBy — the shuffle-heaviest
        # of the dedup family, so the natural 4N stall probe
        from pdf_parser_spark.operators.spandedup import duplicated_span_stats
        docs = (
            extract_pipeline(pages)
            .where(F.col("status") == "ok")
            .select(F.xxhash64("url").alias("doc_id"),
                    F.coalesce(F.col("text"), F.lit("")).alias("text"))
        )
        return duplicated_span_stats(docs)
    elif plan_name == "curate":
        # the ENTIRE production job (jobs/curate_job.py build_curated_chunks:
        # extract -> exact-dedup window -> token-count gate -> overlapping
        # chunks): end-to-end evidence that the composed plan a user ships
        # under spark-submit scales, not just its stages in isolation
        from jobs.curate_job import build_curated_chunks
        return build_curated_chunks(
            spark, corpus, chunk_tokens=512, overlap=32
        ).select("url", "chunk_idx")
    elif plan_name == "repartition":
        # the OPT-IN url-hash + mega-doc-spread exchange (r4 VERDICT item 7):
        # what a genuinely unsplittable source (gzip WARC dump) pays — the
        # full binary payload crosses the wire before the kernel runs
        return extract_pipeline(
            pages, repartition_partitions=parts
        ).select("url", "status")
    else:
        return extract_pipeline(pages).select("url", "status")  # shuffle-free


def run_level(cores: int, corpus: str, runs: int, parts: int, trials: int,
              plan: str = "extract") -> dict:
    # Pin the WHOLE process tree (JVM task threads + forked Python workers)
    # to exactly `cores` CPUs: local[N] alone only caps JVM task threads —
    # Python kernel workers would land on other cores, so an unpinned
    # "local[8]" really consumes ~2N cores and corrupts the N-vs-4N proxy.
    #
    # Each trial is a fresh JVM; the reported time is the best across
    # trials x runs. Host noise (page cache, neighbor activity) only ever
    # ADDS time, so best-of is the right estimator of machine capability —
    # single-trial efficiency on this box scatters 0.72-0.95 purely from
    # that noise.
    code = CHILD.format(repo=REPO, cores=cores, corpus=corpus, runs=runs,
                        parts=parts, plan=plan)
    best = None
    for _ in range(trials):
        out = subprocess.run(
            ["taskset", "-c", f"0-{cores - 1}", sys.executable, "-c", code],
            capture_output=True, text=True, check=True,
        )
        line = [l for l in out.stdout.strip().splitlines() if l.startswith("{")][-1]
        r = json.loads(line)
        if best is None or r["sec"] < best["sec"]:
            best = r
    return best


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", type=float, default=1.0)
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--parts", type=int, default=128)
    ap.add_argument("--n", type=int, default=8)
    ap.add_argument("--trials", type=int, default=3,
                    help="fresh-JVM trials per level; best-of is reported")
    ap.add_argument("--plan",
                    choices=PLANS,
                    default="extract",
                    help="extract = shuffle-free kernel plan; lsh = "
                         "shuffle-bearing MinHash-LSH dedup plan; "
                         "repartition = opt-in payload-exchange path for "
                         "unsplittable sources; curate = the full "
                         "composed spark-submit job (extract -> dedup -> "
                         "gate -> chunk)")
    args = ap.parse_args()

    sys.path.insert(0, REPO)
    from pdf_parser_spark.corpus import ensure_corpus

    corpus = ensure_corpus(args.sf)
    n, n4 = args.n, args.n * 4
    lo = run_level(n, corpus, args.runs, args.parts, args.trials, args.plan)
    hi = run_level(n4, corpus, args.runs, args.parts, args.trials, args.plan)

    def tput(r):
        return {
            "docs_per_sec": round(r["docs"] / r["sec"], 1),
            "mb_per_sec": round(r["bytes"] / 1e6 / r["sec"], 1),
            "sec": r["sec"],
        }

    eff = (hi["docs"] / hi["sec"]) / (4 * lo["docs"] / lo["sec"])
    result = {
        "plan": args.plan,
        "sf": args.sf,
        "docs": lo["docs"],
        "mb": round(lo["bytes"] / 1e6, 1),
        "shuffle_partitions": args.parts,
        f"local[{n}]": tput(lo),
        f"local[{n4}]": tput(hi),
        "scaling_efficiency": round(eff, 3),
        "pass": eff >= 0.8,
    }
    print(json.dumps(result, indent=2))
    return 0 if eff >= 0.8 else 1


if __name__ == "__main__":
    raise SystemExit(main())
