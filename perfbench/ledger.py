"""The traced run (--trace 1): a per-layer ledger of one workload.

Spans are recorded from this file around calls into each layer's public
functions; Spark's own SQL metrics are read from the executed plan of the
traced job; lazy layers that only run inside one Spark stage are split by
differences between prefix plans that end in a noop sink. End-to-end
numbers never come from here: the untraced passes of the same run give the
job time the tracing overhead is measured against.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import ExitStack, contextmanager
from typing import Callable, Dict, List, Optional
from unittest import mock

import pyarrow.parquet as pq

ROUNDS = 2  # interleaved probe rounds; differences are paired medians
TRACED_PASSES = 1

# every per-layer metric, with its unit; emitted on every workload (0 where
# the layer is not on that workload's path)
PER_LAYER = {
    "session.get_spark.s": "s",
    "session.cold_minus_warm_s": "s",
    "pipeline.load_pages.scan_s": "s",
    "pipeline.extract_pipeline.python_boot_s": "s",
    "pipeline.extract_pipeline.python_init_s": "s",
    "pipeline.extract_pipeline.python_total_s": "s",
    "pipeline.extract_pipeline.python_sent_mb": "MB",
    "pipeline.extract_pipeline.python_received_mb": "MB",
    "pipeline.extract_pipeline.boundary_s": "s",
    "pipeline.extract_pipeline.max_batch_mb": "MB",
    "pipeline.extract_kernel.s": "s",
    "kernels.validate.s": "s",
    "kernels.htmlmain.extract_main_content.s": "s",
    "kernels.pdftext.extract_text.s": "s",
    "kernels.fields.extract_fields_with_spans.s": "s",
    "operators.dedup.s": "s",
    "operators.chunking.chunk_documents.s": "s",
    "exchange.shuffle_write_mb": "MB",
    "exchange.shuffle_write_s": "s",
    "exchange.records": "count",
    "sort.time_s": "s",
    "sort.spill_mb": "MB",
    "codegen.duration_s": "s",
    "pipeline.resume_against.s": "s",
    "pipeline.write_output.s": "s",
    "pipeline.write_output.out_mb": "MB",
    "pipeline.write_output.commit_s": "s",
    "python_workers.peak_rss_mb": "MB",
    "jvm.peak_rss_mb": "MB",
    "spark.failed_task_ratio": "ratio",
    "trace.overhead_s": "s",
    "ledger.kernels_share": "ratio",
    "ledger.operators_share": "ratio",
    "ledger.exchange_share": "ratio",
}

# counts and ratios fixed by the seed's inputs and the job's contract, not by
# its speed: a change that moves one dropped, lost or re-routed rows. They go
# into the run record and the trace file, not the scored ledger.
DESCRIPTORS = {
    "pipeline.load_pages.files_mb": "MB",
    "pipeline.load_pages.rows": "count",
    "pipeline.extract_pipeline.tasks": "count",
    "kernels.validate.reject_ratio": "ratio",
    "kernels.htmlmain.extract_main_content.docs": "count",
    "kernels.htmlmain.extract_main_content.in_mb": "MB",
    "kernels.pdftext.extract_text.docs": "count",
    "kernels.pdftext.extract_text.in_mb": "MB",
    "kernels.pdftext.extract_text.error_docs": "count",
    "kernels.fields.extract_fields_with_spans.calls": "count",
    "operators.dedup.keep_ratio": "ratio",
    "operators.quality.keep_ratio": "ratio",
    "operators.chunking.chunks_out": "count",
    "pipeline.resume_against.committed_rows_read": "count",
    "pipeline.resume_against.new_ratio": "ratio",
    "pipeline.write_output.files": "count",
    "spark.task_attempts": "count",
    "trace.spans": "count",
}


class Tracer:
    """In-memory spans (name, start, end, parent, run id), written at the end."""

    def __init__(self):
        self.spans: List[dict] = []
        self._stack: List[int] = []
        self.run_id = "setup"

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        self.spans.append({
            "id": sid, "name": name, "run": self.run_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(), "end": None,
        })
        self._stack.append(sid)
        try:
            yield
        finally:
            self.spans[sid]["end"] = time.perf_counter()
            self._stack.pop()

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def self_times(self) -> Dict[str, dict]:
        """Per span name: count, total, and self time (total minus the part
        covered by child spans)."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        table: Dict[str, dict] = {}
        for s in self.spans:
            row = table.setdefault(s["name"], {"count": 0, "total_s": 0.0, "self_s": 0.0})
            d = s["end"] - s["start"]
            row["count"] += 1
            row["total_s"] += d
            row["self_s"] += d - child[s["id"]]
        return table


class PlanCapture:
    """QueryExecutionListener (a py4j callback) keeping every executed
    QueryExecution, so SQL metrics of write commands can be read."""

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        ensure_callback_server_started(spark.sparkContext._gateway)
        self.qes: list = []
        self._manager = spark._jsparkSession.listenerManager()
        self._manager.register(self)

    def onSuccess(self, func, qe, duration_ns):  # noqa: N802 (Java interface)
        self.qes.append(qe)

    def onFailure(self, func, qe, exception):  # noqa: N802
        pass

    def wait_for(self, n: int, timeout: float = 20.0) -> None:
        deadline = time.monotonic() + timeout
        while len(self.qes) < n and time.monotonic() < deadline:
            time.sleep(0.05)

    def close(self) -> None:
        self._manager.unregister(self)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def _scala_map(m) -> Dict[str, object]:
    out, it = {}, m.iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2()
    return out


def _metric_value(metric) -> float:
    v, kind = metric.value(), metric.metricType()
    if kind == "timing":
        return v / 1e3
    if kind == "nsTiming":
        return v / 1e9
    return float(v)


_WRITE = "Execute InsertIntoHadoopFsRelationCommand"


def plan_nodes(qe) -> List[tuple]:
    """(nodeName, {metric: value in s/bytes/count}, description) for every
    node of an executed plan, through adaptive plans and query stages."""
    out, todo = [], [qe.executedPlan()]
    while todo:
        p = todo.pop()
        cls = p.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(p.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            todo.append(p.plan())
            continue
        metrics = {k: _metric_value(v) for k, v in _scala_map(p.metrics()).items()}
        out.append((p.nodeName(), metrics, p.toString() if "Scan" in p.nodeName() else ""))
        if cls == "ReusedExchangeExec":
            continue
        it = p.children().iterator()
        while it.hasNext():
            todo.append(it.next())
    return out


def plan_metrics(nodes: List[tuple], committed_marker: Optional[str]) -> Dict[str, float]:
    """Sum the SQL metrics of one executed plan by layer."""
    m: Dict[str, float] = defaultdict(float)
    for name, v, desc in nodes:
        if name.startswith("Scan parquet"):
            if committed_marker and committed_marker in desc:
                m["committed_rows"] += v.get("numOutputRows", 0)
            else:
                m["scan_s"] += v.get("scanTime", 0)
                m["files_bytes"] += v.get("filesSize", 0)
                m["rows"] += v.get("numOutputRows", 0)
        elif name == "MapInPandas":
            for k in ("pythonBootTime", "pythonInitTime", "pythonTotalTime",
                      "pythonDataSent", "pythonDataReceived", "pythonNumRowsReceived"):
                m[k] += v.get(k, 0)
        elif name == "Exchange":
            m["shuffle_bytes"] += v.get("shuffleBytesWritten", 0)
            m["shuffle_s"] += v.get("shuffleWriteTime", 0)
            m["shuffle_records"] += v.get("shuffleRecordsWritten", 0)
        elif name == "Sort":
            m["sort_s"] += v.get("sortTime", 0)
            m["spill_bytes"] += v.get("spillSize", 0)
        elif name.startswith("WholeStageCodegen"):
            m["codegen_s"] += v.get("pipelineTime", 0)
        elif name.startswith(_WRITE):
            m["out_bytes"] += v.get("numOutputBytes", 0)
            m["out_files"] += v.get("numFiles", 0)
            m["commit_s"] += v.get("taskCommitTime", 0) + v.get("jobCommitTime", 0)
    return m


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _batches(pages_dir: str):
    """The kernel's input as 64-row pandas batches (maxRecordsPerBatch)."""
    for f in sorted(os.listdir(pages_dir)):
        if f.endswith(".parquet"):
            pf = pq.ParquetFile(os.path.join(pages_dir, f))
            for b in pf.iter_batches(batch_size=64, columns=["url", "warc_ts", "html", "text", "lang"]):
                yield b.to_pandas()


def kernel_ledger(tr: Tracer, pages_dir: str) -> Dict[str, float]:
    """In-process kernel timing in this Spark driver process, over the job's
    own 64-row pandas batches: pipeline.extract_kernel once as it ships, then
    once more with the validators and kernel calls it makes wrapped in spans
    and counters, so every branch figure follows the pipeline's own routing.
    The wrappers live only in this process; Spark's Python workers never see
    them."""
    from pdf_parser_spark import pipeline
    from pdf_parser_spark.kernels import validate as V

    batches = list(_batches(pages_dir))
    tr.run_id = "kernel"
    with tr.span("pipeline.extract_kernel"):
        for _ in pipeline.extract_kernel()(iter(batches)):
            pass
    c: Dict[str, float] = defaultdict(float)
    c["max_batch_bytes"] = max(
        sum(len(h or b"") + len((t or "").encode("utf-8")) for h, t in zip(b["html"], b["text"]))
        for b in batches
    )

    active = set()

    def counted(name: str, fn: Callable) -> Callable:
        """fn in a span; counts calls, bytes in, raised errors and truthy
        returns (a validator returns its reason when it rejects). A call made
        inside an open span of the same name (validate_pdf_document calls
        validate_size) is part of that span and not counted again."""
        def wrapped(*args, **kwargs):
            if name in active:
                return fn(*args, **kwargs)
            c[name + ".calls"] += 1
            if isinstance(args[0], bytes):
                c[name + ".in_bytes"] += len(args[0])
            active.add(name)
            try:
                with tr.span(name):
                    out = fn(*args, **kwargs)
            except Exception:
                c[name + ".errors"] += 1
                raise
            finally:
                active.discard(name)
            c[name + ".truthy"] += bool(out)
            return out
        return wrapped

    targets = [
        (V, "validate_pdf_document", "kernels.validate"),
        (V, "validate_size", "kernels.validate"),
        (pipeline, "extract_text", "kernels.pdftext.extract_text"),
        (pipeline, "extract_main_content", "kernels.htmlmain.extract_main_content"),
        (pipeline, "extract_fields_with_spans", "kernels.fields.extract_fields_with_spans"),
    ]
    tr.run_id = "branches"
    with ExitStack() as stack:
        for module, attr, name in targets:
            stack.enter_context(
                mock.patch.object(module, attr, counted(name, getattr(module, attr))))
        for _ in pipeline.extract_kernel()(iter(batches)):
            pass
    # a kernel that stopped calling these functions would read as free
    assert c["kernels.fields.extract_fields_with_spans.calls"], \
        "pipeline.extract_kernel no longer calls the wrapped kernel functions"
    return c


def probe_rounds(probes: Dict[str, Callable[[int], float]],
                 rounds: int = ROUNDS) -> Dict[str, List[float]]:
    """Time every probe once per round, interleaved, so a difference between
    two probes is taken within one round and shares its host state."""
    times: Dict[str, List[float]] = defaultdict(list)
    for i in range(rounds):
        for name, fn in probes.items():
            times[name].append(fn(i))
    return times


def paired_diff(times: Dict[str, List[float]], a: str, b: str) -> float:
    """Median over rounds of probe a minus probe b. It reads near 0, and can
    read below it, when the layer between them costs less than the noise."""
    return statistics.median(x - y for x, y in zip(times[a], times[b]))


def _noop_probe(tr: Tracer, name: str, df_fn: Callable[[], object],
                prepare: Callable[[], None]) -> Callable[[int], float]:
    def probe(i: int) -> float:
        prepare()
        tr.run_id = f"{name}-{i}"
        t0 = time.perf_counter()
        with tr.span(name):
            _noop(df_fn())
        return time.perf_counter() - t0
    return probe


def trace_run(s, cpus: int, meta: dict, data_dir: str, cold: float,
              warm: List[float], args):
    """Traced passes, prefix probes and kernel timing on the run's session.
    Returns a function that, given the run's closing numbers, writes the
    trace file and returns the per-layer metrics, the input and output
    descriptors, and the trace file's path."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from pdf_parser_spark.pipeline import (
        extract_pipeline, load_pages, resume_against, with_metrics, write_output,
    )
    from workloads import ExtractResume

    spark, wl = s.spark, s.wl
    name = wl.name
    tr = Tracer()
    L: Dict[str, float] = {k: 0.0 for k in (*PER_LAYER, *DESCRIPTORS)}
    job_s = statistics.median(warm)
    L["session.get_spark.s"] = s.get_spark_s
    L["session.cold_minus_warm_s"] = cold - job_s

    def traced_job(w):
        def job(sp) -> None:
            with tr.span(f"job.{w.name}"):
                if w.name == "curate_text":
                    with tr.span("jobs.curate_job.build_curated_chunks"):
                        df = w.plan(sp)
                    with tr.span("pipeline.write_output"):
                        write_output(df, w.out_dir, mode="overwrite")
                    return
                with tr.span("pipeline.load_pages"):
                    pages = load_pages(sp, data_dir)
                if w.resume:
                    with tr.span("pipeline.resume_against"):
                        pages = resume_against(pages, sp.read.parquet(w.out_dir))
                with tr.span("pipeline.extract_pipeline"):
                    df, _ = with_metrics(extract_pipeline(pages))
                with tr.span("pipeline.write_output"):
                    write_output(df, w.out_dir)
        return job

    def traced_pass(tag: str, w) -> float:
        """One gated pass of w with spans; its write plan is kept in cap."""
        tr.run_id = tag
        n = len(cap.qes)
        dt = s.one_pass(tag, run=traced_job(w), wl=w)
        cap.wait_for(n + 1)
        return dt

    def last_write() -> List[tuple]:
        return [nodes for nodes in map(plan_nodes, cap.qes)
                if any(n[0].startswith(_WRITE) for n in nodes)][-1]

    # extract_web also resumes against its half-committed output, so the
    # resume layer is measured on the same table and session
    resume_wl = ExtractResume(data_dir, wl.out_dir + "-resume") if name == "extract_web" else None
    cap = PlanCapture(spark)
    try:
        traced = [traced_pass(f"traced-{i}", wl) for i in range(TRACED_PASSES)]
        pm = plan_metrics(last_write(), None)
        if resume_wl:
            traced_pass("traced-resume", resume_wl)
            # the resumed plan also scans the committed output; count it apart
            pm_resume = plan_metrics(last_write(), resume_wl.out_dir)
    finally:
        cap.close()
    L["trace.overhead_s"] = statistics.median(traced) - job_s

    L["pipeline.load_pages.scan_s"] = pm["scan_s"]
    L["pipeline.load_pages.files_mb"] = pm["files_bytes"] / 1e6
    L["pipeline.load_pages.rows"] = pm["rows"]
    L["pipeline.extract_pipeline.python_boot_s"] = pm["pythonBootTime"]
    L["pipeline.extract_pipeline.python_init_s"] = pm["pythonInitTime"]
    L["pipeline.extract_pipeline.python_total_s"] = pm["pythonTotalTime"]
    L["pipeline.extract_pipeline.python_sent_mb"] = pm["pythonDataSent"] / 1e6
    L["pipeline.extract_pipeline.python_received_mb"] = pm["pythonDataReceived"] / 1e6
    L["pipeline.extract_pipeline.tasks"] = load_pages(spark, data_dir).rdd.getNumPartitions()
    L["exchange.shuffle_write_mb"] = pm["shuffle_bytes"] / 1e6
    L["exchange.shuffle_write_s"] = pm["shuffle_s"]
    L["exchange.records"] = pm["shuffle_records"]
    L["sort.time_s"] = pm["sort_s"]
    L["sort.spill_mb"] = pm["spill_bytes"] / 1e6
    L["codegen.duration_s"] = pm["codegen_s"]
    L["pipeline.write_output.out_mb"] = pm["out_bytes"] / 1e6
    L["pipeline.write_output.files"] = pm["out_files"]
    L["pipeline.write_output.commit_s"] = pm["commit_s"]

    # prefix plans ending in a noop sink, interleaved round by round with
    # the full job (parquet sink, gated like every timed pass)
    probes: Dict[str, Callable[[int], float]] = {}
    if name == "curate_text":
        stages = curate_prefixes(spark, data_dir)
        # the prefixes are a copy of the job's plan; fail if it drifted from it
        if not stages["chunks"].sameSemantics(wl.plan(spark)):
            raise AssertionError(
                "curate_prefixes no longer builds jobs.curate_job.build_curated_chunks")
        counts = {}
        for stage, df in stages.items():
            # the counting pass also compiles the prefix plan before timing
            obs = Observation(stage)
            _noop(df.observe(obs, F.count(F.lit(1)).alias("n")))
            counts[stage] = obs.get["n"]
            probes[stage] = _noop_probe(tr, f"probe.{stage}", lambda d=df: d, wl.prepare)
        probes["job"] = lambda i: s.one_pass(f"probe-job-{i}")
        times = probe_rounds(probes)
        L["operators.dedup.s"] = paired_diff(times, "dedup", "extract")
        L["operators.chunking.chunk_documents.s"] = paired_diff(times, "chunks", "quality")
        L["operators.dedup.keep_ratio"] = counts["dedup"] / max(1, counts["extract"])
        L["operators.quality.keep_ratio"] = counts["quality"] / max(1, counts["dedup"])
        L["operators.chunking.chunks_out"] = counts["chunks"]
        L["pipeline.write_output.s"] = paired_diff(times, "job", "chunks")
    else:
        def plan(corpus_dir, committed_dir=None):
            pages = load_pages(spark, corpus_dir)
            if committed_dir:
                pages = resume_against(pages, spark.read.parquet(committed_dir))
            return with_metrics(extract_pipeline(pages))[0]

        new_dir = os.path.join(data_dir, "new")
        probes["noop"] = _noop_probe(tr, "probe.noop", lambda: plan(data_dir), wl.prepare)
        probes["resume"] = _noop_probe(
            tr, "probe.resume", lambda: plan(data_dir, resume_wl.out_dir), resume_wl.prepare)
        probes["plain_new"] = _noop_probe(
            tr, "probe.plain_new", lambda: plan(new_dir), wl.prepare)
        probes["job"] = lambda i: s.one_pass(f"probe-job-{i}")
        times = probe_rounds(probes)
        L["pipeline.write_output.s"] = paired_diff(times, "job", "noop")
        L["pipeline.resume_against.s"] = paired_diff(times, "resume", "plain_new")
        L["pipeline.resume_against.committed_rows_read"] = pm_resume["committed_rows"]
        L["pipeline.resume_against.new_ratio"] = (
            pm_resume["pythonNumRowsReceived"] / max(1, pm_resume["rows"]))

    c = kernel_ledger(tr, wl.pages_dir)
    L["pipeline.extract_kernel.s"] = tr.total("pipeline.extract_kernel")
    L["pipeline.extract_pipeline.boundary_s"] = (
        L["pipeline.extract_pipeline.python_total_s"] - L["pipeline.extract_kernel.s"])
    L["pipeline.extract_pipeline.max_batch_mb"] = c["max_batch_bytes"] / 1e6
    L["kernels.validate.s"] = tr.total("kernels.validate")
    L["kernels.validate.reject_ratio"] = (
        c["kernels.validate.truthy"] / max(1, c["kernels.validate.calls"]))
    for branch in ("kernels.htmlmain.extract_main_content", "kernels.pdftext.extract_text"):
        L[branch + ".s"] = tr.total(branch)
        L[branch + ".docs"] = c[branch + ".calls"]
        L[branch + ".in_mb"] = c[branch + ".in_bytes"] / 1e6
    L["kernels.pdftext.extract_text.error_docs"] = c["kernels.pdftext.extract_text.errors"]
    L["kernels.fields.extract_fields_with_spans.s"] = tr.total("kernels.fields.extract_fields_with_spans")
    L["kernels.fields.extract_fields_with_spans.calls"] = c["kernels.fields.extract_fields_with_spans.calls"]
    kernels_s = sum(L[k] for k in (
        "kernels.validate.s", "kernels.htmlmain.extract_main_content.s",
        "kernels.pdftext.extract_text.s", "kernels.fields.extract_fields_with_spans.s"))
    L["ledger.kernels_share"] = kernels_s / (cpus * job_s)
    L["ledger.operators_share"] = (
        L["operators.dedup.s"] + L["operators.chunking.chunk_documents.s"]) / job_s
    L["ledger.exchange_share"] = L["exchange.shuffle_write_s"] / (cpus * job_s)
    L["trace.spans"] = len(tr.spans)

    def finish(rss: Dict[str, float], done: int, failed_tasks: int):
        L["python_workers.peak_rss_mb"] = rss["python_mb"]
        L["jvm.peak_rss_mb"] = rss["jvm_mb"]
        L["spark.task_attempts"] = done + failed_tasks
        L["spark.failed_task_ratio"] = failed_tasks / max(1, done + failed_tasks)
        path = os.path.join(os.path.dirname(os.path.dirname(data_dir)), "trace",
                            f"{name}-s{args.seed}.json")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"workload": meta, "layers": L, "probes_s": times,
                       "self_time": tr.self_times(), "spans": tr.spans}, fh)
        metrics = {k: {"value": L[k], "unit": u} for k, u in PER_LAYER.items()}
        descriptors = {k: {"value": L[k], "unit": u} for k, u in DESCRIPTORS.items()}
        return metrics, descriptors, path

    return finish


def curate_prefixes(spark, data_dir: str):
    """The curate job's plan cut after each stage, built with the same calls
    as jobs.curate_job.build_curated_chunks (sample off). trace_run checks
    that the last prefix is the job's own plan before it times any."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from pdf_parser_spark.operators.chunking import chunk_documents
    from pdf_parser_spark.operators.textstats import normalized
    from pdf_parser_spark.pipeline import extract_pipeline, load_pages
    from workloads import CHUNK_TOKENS, MIN_TOKENS, OVERLAP

    ok = (extract_pipeline(load_pages(spark, data_dir))
          .where(F.col("status") == "ok").select("url", "text"))
    fp = F.substring(F.sha2(F.coalesce(normalized(F.col("text")), F.lit("")), 256), 1, 16)
    w = Window.partitionBy("fingerprint").orderBy("url")
    dedup = (ok.withColumn("fingerprint", fp)
             .withColumn("_rn", F.row_number().over(w))
             .where(F.col("_rn") == 1).drop("_rn", "fingerprint"))
    quality = dedup.where(
        F.size(F.filter(F.split("text", r"\s+"), lambda x: x != "")) >= MIN_TOKENS)
    chunks = chunk_documents(quality, text_col="text", id_col="url",
                             chunk_tokens=CHUNK_TOKENS, overlap=OVERLAP)
    return {"extract": ok, "dedup": dedup, "quality": quality, "chunks": chunks}
