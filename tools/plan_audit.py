"""Physical-plan audit: exchanges / pushdown / pruning / join strategy, file
scans and joins, cached scans, text splits and optimized-plan expression
count per query.
Backs the 'Plan audit' section of BENCH.md.

Usage: python tools/plan_audit.py [query ...]
"""

from __future__ import annotations

import os
import re
import sys
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from pdf_parser_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"

DEFAULT = [
    "extract_classic_pipeline", "p4_regex_fields", "p12_display_name_join",
    "w1_topk_limit", "dedup_exact", "dedup_minhash_lsh_pairs",
    "dedup_minhash_lsh_pairs_capped", "ann_bruteforce_topk", "ann_knn_join",
    "ann_bucketed_near_dup", "text_quality_score", "f1_f2_size_filter",
    "pipeline_extract_dedup_chunk", "shape_pack_documents",
    "temporal_asof_join", "temporal_interval_join",
    "clean_gopher_gate",  # r5: must stay one fused JVM projection
    "clean_decontaminate",  # bench side broadcast; scans=2 joins=1
    "dedup_ngram_jaccard_pruned",  # one self-join, sizes carried: joins=1
    "dedup_span_coverage",  # 8-byte-key shuffles; scans=2 joins=1
    "ann_semdedup",  # one Arrow GEMM assignment, exprs= flat in k; cluster join
    "pipeline_training_mix",  # r5: three curation gates in ONE composed plan
    "clean_line_dedup",  # like span dedup: scans=2 joins=1
    # each gate projects its token / line arrays once: splits=1
    "clean_repetition_flags", "clean_stopword_stats", "text_lang_id",
]


def _seq(s):
    return [s.apply(i) for i in range(s.size())]


def node_expressions(plan):
    """For each node of a Catalyst plan tree, the list of every expression
    it holds, nested ones included."""
    nodes, out = [plan], []
    while nodes:
        node = nodes.pop()
        nodes += _seq(node.children())
        exprs = _seq(node.expressions())
        for e in exprs:  # appending while iterating walks the whole tree
            exprs += _seq(e.children())
        out.append(exprs)
    return out


def split_copies(plan) -> int:
    """Most copies of one split expression (equal canonical form) that a
    single plan node holds; 1 means no node splits the same text twice."""
    most = 0
    for exprs in node_expressions(plan):
        splits = Counter(
            e.canonicalized().toString() for e in exprs
            if e.getClass().getSimpleName() == "StringSplit"
        )
        most = max([most, *splits.values()])
    return most


def node_counts(plan) -> Counter:
    """Physical operators in a plan's current tree, by class name. An
    adaptive plan counts its current plan (the final one once executed), a
    query stage counts its exchange, and a reused exchange counts once as
    ReusedExchangeExec with no subtree (it runs where it first appears)."""
    counts, nodes = Counter(), [plan]
    while nodes:
        node = nodes.pop()
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            nodes.append(node.executedPlan())
        elif name.endswith("QueryStageExec"):
            nodes.append(node.plan())
        else:
            counts[name] += 1
            if name != "ReusedExchangeExec":
                nodes += _seq(node.children())
    return counts


def scans_and_joins(plan) -> tuple[int, int]:
    """(file scans, joins) in a physical plan's current tree."""
    counts = node_counts(plan)
    return (counts["FileSourceScanExec"],
            sum(v for k, v in counts.items() if k.endswith("JoinExec")))


def audit(df) -> dict:
    """The per-query figures main() prints, counted in the physical plan's
    current tree (exchanges: shuffle and broadcast exchanges that run)."""
    qe = df._jdf.queryExecution()
    plan, optimized = qe.executedPlan(), qe.optimizedPlan()
    counts = node_counts(plan)
    scans, joins = scans_and_joins(plan)
    return {
        "exchanges": counts["ShuffleExchangeExec"] + counts["BroadcastExchangeExec"],
        "scans": scans, "joins": joins,
        "broadcastJoin": counts["BroadcastHashJoinExec"],
        "sortMergeJoin": counts["SortMergeJoinExec"],
        "topK": counts["TakeOrderedAndProjectExec"],
        "cached": counts["InMemoryTableScanExec"],
        "splits": split_copies(optimized),
        "exprs": sum(map(len, node_expressions(optimized))),
    }


def main() -> int:
    names = sys.argv[1:] or DEFAULT
    spark = get_spark(master="local[4]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    from pdf_parser_spark.corpus import ensure_corpus

    ensure_corpus(SF_DIR)
    q = entrymod.queries()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    for name in names:
        df = q[name](spark, SF_DIR)
        plan = df._jdf.queryExecution().explainString(mode)
        pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
        schemas = re.findall(r"ReadSchema: (.*)", plan)
        print(f"== {name}: " + " ".join(f"{k}={v}" for k, v in audit(df).items()))
        for p, s in zip(pushed or ["-"] * len(schemas), schemas):
            print(f"   pushed=[{p[:70]}] read={s[:100]}")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
