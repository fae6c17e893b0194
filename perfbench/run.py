"""Benchmark of the repository's two production jobs, run as a user runs them.

    python3 perfbench/run.py --workload extract_web --seed 1 --seconds 10 --trace 0

Workloads (see perfbench/README.md for why each exists):
  extract_web  pipeline.run_job over a seeded mixed html/pdf/invalid table
  curate_text  jobs.curate_job.build_curated_chunks over pre-extracted text

Inputs are generated from --seed before any timing. One job runs at a time
(closed loop, one client) in this single Spark driver process, on Spark
local[min(4, nproc - 1)]. Every pass's output is checked against an independent
reference; the command exits nonzero if any url disagrees.

The last stdout line is one JSON object {correct, attempted, failed,
metrics}: the end-to-end metrics with --trace 0, the per-layer ledger with
--trace 1. The line before it is the run's record: host, noise probe,
workload descriptors and raw samples.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import statistics
import sys
import time
import zlib

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

MIN_PASSES = 4
# warm passes made before the timed window: the JIT keeps shortening passes
# for several passes after the cold one, and a slow host would otherwise
# move the median along that curve
WARMUP_PASSES = 2
# the end-to-end metrics and their units, as BENCHMARK.json lists them
END_TO_END = {"setup_s": "s", "job_s": "s", "docs_per_s": "docs/s"}


def cpu_probe() -> float:
    """Single-thread calibration: best of 3 zlib compressions of 4 MB of
    seeded bytes. A high value marks a run taken on a loaded host."""
    data = random.Random(0).randbytes(4 << 20)
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        zlib.compress(data, 6)
        best = min(best, time.perf_counter() - t0)
    return best


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["extract_web", "curate_text"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def task_attempts(sc, groups):
    """(completed, failed) task attempts over the stages of these job groups."""
    tracker = sc.statusTracker()
    stages = {
        s for g in groups for j in tracker.getJobIdsForGroup(g)
        for s in (tracker.getJobInfo(j).stageIds if tracker.getJobInfo(j) else [])
    }
    done = failed = 0
    for s in stages:
        info = tracker.getStageInfo(s)
        if info is not None:
            done += info.numCompletedTasks
            failed += info.numFailedTasks
    return done, failed


class Session:
    """The measured Spark session of one run and the passes made on it."""

    def __init__(self, workload, cpus: int):
        from spark_proc import PeakRss, start_spark

        self.wl = workload
        self.spark, self.get_spark_s, jvm = start_spark(cpus)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm = jvm
        self.rss = PeakRss(jvm).start()
        self.cpu = []
        self.steal = []
        self.groups = []
        self.attempted = self.failed = 0

    def one_pass(self, tag: str, run=None, wl=None) -> float:
        """Restore state, time one job call until its output is committed,
        then gate the output. wl defaults to the run's workload."""
        from spark_proc import cpu_seconds, steal_seconds

        wl = wl or self.wl
        wl.prepare()
        # every pass starts from a collected heap, as a fresh launch does, so
        # GC pauses owed to earlier passes do not land in this one
        self.spark.sparkContext._jvm.java.lang.System.gc()
        self.spark.sparkContext.setJobGroup(tag, tag)
        self.groups.append(tag)
        c0, s0, t0 = cpu_seconds(self.jvm), steal_seconds(), time.perf_counter()
        (run or wl.run)(self.spark)
        dt = time.perf_counter() - t0
        self.cpu.append(cpu_seconds(self.jvm) - c0)
        self.steal.append(steal_seconds() - s0)
        a, f = wl.check()
        self.attempted += a
        self.failed += f
        return dt

    def close(self):
        from spark_proc import stop_spark

        tasks = task_attempts(self.spark.sparkContext, self.groups)
        rss = self.rss.stop()
        stop_spark(self.spark)
        return tasks, rss


def main(argv=None) -> int:
    args = parse_args(argv)
    if not all(os.path.isdir(os.path.join(ROOT, d)) for d in ("pdf_parser_spark", "jobs")):
        print(f"perfbench: no pdf_parser_spark/ and jobs/ beside {HERE}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    import gen
    from spark_proc import prepare_env
    from workloads import WORKLOADS

    data_dir = os.path.join(WORK, "data", f"{args.workload}-s{args.seed}")
    meta = gen.generate(args.workload, args.seed, data_dir)
    env = prepare_env(WORK)
    # one core is left to the JVM's JIT and GC threads, this Spark driver and the
    # OS: on a 4-vCPU VM whose hypervisor steals CPU time, local[4] passes
    # follow the steal far more than local[3] ones do
    cpus = max(1, min(4, nproc() - 1))
    workload = WORKLOADS[args.workload](data_dir, os.path.join(WORK, "out", args.workload))
    probe_cpu_s = cpu_probe()
    s = Session(workload, cpus)
    ledger = None
    try:
        cold = s.one_pass("cold")
        warmup = [s.one_pass(f"warmup-{i}") for i in range(WARMUP_PASSES)]
        warm = []
        t_end = time.monotonic() + args.seconds
        while len(warm) < MIN_PASSES or time.monotonic() < t_end:
            warm.append(s.one_pass(f"warm-{len(warm)}"))
        if args.trace:
            from ledger import trace_run

            ledger = trace_run(s, cpus, meta, data_dir, cold, warm, args)
    finally:
        (done, failed_tasks), rss = s.close()

    setup_s = s.get_spark_s + cold
    attempted, failed = s.attempted, s.failed
    job_s = statistics.median(warm)
    record = {
        "workload": meta, "cpus": cpus, "master": f"local[{cpus}]", "nproc": nproc(),
        **env, "cpu_probe_s": probe_cpu_s, "get_spark_s": s.get_spark_s,
        "cold_pass_s": cold, "warmup_samples_s": warmup, "job_samples_s": warm, "cpu_samples_s": s.cpu,
        "steal_samples_s": s.steal,
        "mismatch_ratio": failed / attempted,
        "task_attempts": done + failed_tasks,
        "failed_task_ratio": failed_tasks / max(1, done + failed_tasks),
        "peak_rss": rss,
    }
    if ledger is not None:
        metrics, record["layer_descriptors"], record["trace_file"] = ledger(rss, done, failed_tasks)
    else:
        values = {"setup_s": setup_s, "job_s": job_s, "docs_per_s": meta["rows"] / job_s}
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({"record": record}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    raise SystemExit(main())
