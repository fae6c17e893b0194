"""One Spark session for the benchmark: environment, process tree, teardown.

Spark is started through the package's own `get_spark`, with every file it
writes (local dirs, JVM temp files, warehouse) kept under the benchmark's
work directory. The JVM and its Python workers are tracked from /proc so the
benchmark can report their memory and wait for every one of them to exit.
"""

from __future__ import annotations

import os
import tempfile
import threading
import time
from typing import Dict, List

_LOG4J = """\
rootLogger.level = error
rootLogger.appenderRef.stderr.ref = console
appender.console.type = Console
appender.console.name = console
appender.console.target = SYSTEM_ERR
appender.console.layout.type = PatternLayout
appender.console.layout.pattern = %d{HH:mm:ss} %p %c{1}: %m%n
"""


def prepare_env(work: str) -> Dict[str, str]:
    """Point Spark, the JVM and Python temp files at directories under work;
    returns the settings recorded with each result."""
    dirs = {k: os.path.join(work, k) for k in ("conf", "spark-local", "tmp", "warehouse")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    with open(os.path.join(dirs["conf"], "spark-defaults.conf"), "w") as fh:
        fh.write(
            "spark.ui.showConsoleProgress false\n"
            f"spark.sql.warehouse.dir {dirs['warehouse']}\n"
            f"spark.driver.extraJavaOptions -Djava.io.tmpdir={dirs['tmp']} "
            "-XX:-UsePerfData\n"
        )
    with open(os.path.join(dirs["conf"], "log4j2.properties"), "w") as fh:
        fh.write(_LOG4J)
    os.environ["SPARK_CONF_DIR"] = dirs["conf"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["spark-local"]
    os.environ["TMPDIR"] = dirs["tmp"]
    tempfile.tempdir = dirs["tmp"]
    return {"SPARK_LOCAL_DIRS": dirs["spark-local"], "SPARK_CONF_DIR": dirs["conf"]}


def _ppid(pid: int) -> int:
    with open(f"/proc/{pid}/stat") as fh:
        return int(fh.read().rsplit(")", 1)[1].split()[1])


def process_tree(root: int) -> List[int]:
    """root and all its live descendants."""
    kids: Dict[int, List[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                kids.setdefault(_ppid(int(d)), []).append(int(d))
            except (OSError, ValueError, IndexError):
                continue
    out = [root]
    for pid in out:
        out.extend(kids.get(pid, []))
    return out


def _cpu_ticks(pid: int) -> int:
    with open(f"/proc/{pid}/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    return int(fields[11]) + int(fields[12])  # utime + stime


def cpu_seconds(root: int) -> float:
    """CPU time used so far by root and its live descendants."""
    ticks = 0
    for pid in process_tree(root):
        try:
            ticks += _cpu_ticks(pid)
        except (OSError, ValueError, IndexError):
            continue
    return ticks / os.sysconf("SC_CLK_TCK")


def steal_seconds() -> float:
    """CPU time the hypervisor took from this machine's CPUs so far, summed
    over CPUs (the steal column of /proc/stat); 0 where it is not kept."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def _hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


class PeakRss:
    """Sum over the JVM and its descendants of each process's peak resident
    set (VmHWM). Polled on a thread so workers that exit early still count;
    the sum of per-process peaks bounds the simultaneous peak from above and
    needs no sampling luck to repeat."""

    def __init__(self, jvm_pid: int, period: float = 0.5):
        self.jvm_pid = jvm_pid
        self.period = period
        self.peak_kb: Dict[int, int] = {}
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> "PeakRss":
        self._thread.start()
        return self

    def poll(self) -> None:
        for pid in process_tree(self.jvm_pid):
            try:
                kb = _hwm_kb(pid)
            except OSError:
                continue
            with self._lock:
                self.peak_kb[pid] = max(kb, self.peak_kb.get(pid, 0))

    def _loop(self) -> None:
        while not self._stop.wait(self.period):
            self.poll()

    def stop(self) -> Dict[str, float]:
        self._stop.set()
        self._thread.join(timeout=10)
        self.poll()
        with self._lock:
            jvm = self.peak_kb.get(self.jvm_pid, 0)
            total = sum(self.peak_kb.values())
        return {"total_mb": total / 1024, "jvm_mb": jvm / 1024,
                "python_mb": (total - jvm) / 1024}


def start_spark(cpus: int):
    """get_spark at local[cpus]; returns (spark, seconds, jvm pid)."""
    from pdf_parser_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(master=f"local[{cpus}]", app_name="perfbench")
    dt = time.perf_counter() - t0
    return spark, dt, spark.sparkContext._gateway.proc.pid


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session, end the JVM by closing its stdin (the gateway exits
    on EOF), and wait until the JVM and every Python worker have exited."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    pids = process_tree(proc.pid)
    spark.stop()
    try:
        gateway.shutdown()
    except Exception:  # the JVM may already be gone; the wait below decides
        pass
    proc.stdin.close()
    try:
        proc.wait(timeout=timeout)
    except Exception:
        proc.kill()
        proc.wait(timeout=timeout)
    deadline = time.monotonic() + timeout
    live = pids
    while live and time.monotonic() < deadline:
        live = [p for p in live if os.path.exists(f"/proc/{p}")
                and not _is_zombie(p)]
        if live:
            time.sleep(0.1)
    for p in live:
        try:
            os.kill(p, 9)
        except OSError:
            pass


def _is_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True
