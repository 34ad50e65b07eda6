"""Host-sized Spark session, peak-RSS sampling, and the work directory.

Everything the benchmark writes lives under ``<checkout>/.bench_work``:
Spark's local dir, the JVM temp dir, the event log, the staged inputs
and the oracle cache. Nothing depends on the caller's working directory
or environment beyond the host's CPU count and memory.
"""

from __future__ import annotations

import os
import signal
import subprocess
import tempfile
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".bench_work")
JIT_FLAG = "-XX:-DontCompileHugeMethods"


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def mem_available_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemAvailable missing from /proc/meminfo")


def cpu_ticks() -> tuple[int, int]:
    """(stolen, total) clock ticks of all CPUs since boot: the time the
    hypervisor ran something else on this machine's vCPUs, and all."""
    with open("/proc/stat") as f:
        ticks = [int(v) for v in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def driver_heap_mb() -> int:
    """A quarter of available memory, within [1 GiB, 2 GiB]: the driver
    JVM is also the executor in local mode, and the Python workers and
    page cache need the rest."""
    return max(1024, min(2048, mem_available_mb() // 4))


def build_bench_session(app: str, event_log_dir: str | None):
    """``local[nproc]`` session with a heap sized from the host.

    Python workers inherit ``PYTHONPATH`` from the JVM's environment,
    so setting it before the JVM starts lets them import
    ``slog_agent_spark`` wherever the benchmark was launched from.
    """
    from slog_agent_spark.session import build_session

    prior = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + prior if prior else "")
    # temp files stay in the work dir: Python's (the gateway's connection
    # file, inherited by workers), the JVM's, and no hsperfdata in /tmp
    # from either JVM the launcher starts
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    cpus = host_cpus()
    heap = driver_heap_mb()
    # the package's tuned-JVM flags (session.py, SLOG_JVM_TUNED): a
    # fixed, pre-touched heap, so neither GC work nor resident memory in
    # a short run depends on when the heap grows
    jvm_flags = (f"-Xms{heap}m -XX:+AlwaysPreTouch -XX:+UseTransparentHugePages "
                 f"{JIT_FLAG} -Djava.io.tmpdir={tmp}")
    conf = {
        "spark.driver.memory": f"{heap}m",
        "spark.driver.extraJavaOptions": jvm_flags,
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.dir": event_log_dir,
        })
    spark = build_session(
        app_name=app, master=f"local[{cpus}]",
        shuffle_partitions=2 * cpus, extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    host = {"cpus": cpus, "heap_mb": heap, "jvm_flags": jvm_flags,
            "mem_available_mb": mem_available_mb()}
    return spark, host


def stop_session(spark, timeout: float = 30.0) -> None:
    """Stop the session, then the JVM it launched, and wait until the
    JVM and every process it forked (Python workers, helpers) has ended.

    ``spark.stop()`` leaves the JVM running until this process exits;
    closing its stdin makes it exit now. Workers outlive the JVM by a
    moment, so they are waited for by pid."""
    from pyspark import SparkContext

    kids = _descendants(os.getpid())
    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        deadline = time.monotonic() + timeout
        for pid in kids:
            while _alive(pid):
                if time.monotonic() > deadline:
                    try:
                        os.kill(pid, signal.SIGKILL)
                    except ProcessLookupError:
                        break
                time.sleep(0.05)


def _alive(pid: int) -> bool:
    """Whether ``pid`` still runs (a zombie has ended)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:  # gone
        return False


def _descendants(pid: int) -> list[int]:
    """All descendant pids, from /proc/<pid>/task/*/children."""
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        try:
            tasks = os.listdir(f"/proc/{p}/task")
        except OSError:  # the process exited
            continue
        for t in tasks:
            try:
                with open(f"/proc/{p}/task/{t}/children") as f:
                    kids = [int(k) for k in f.read().split()]
            except OSError:  # the thread or process exited
                continue
            out.extend(kids)
            todo.extend(kids)
    return out


def _pss_kb(pid: int) -> int:
    """Proportional resident set: pages shared between processes count
    once in a sum. The JVM forks briefly to run helpers (Hadoop's
    ``chmod``) and Python workers fork from one daemon; summing plain
    RSS would count their shared pages once per process."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:  # the process exited
        pass
    return 0


class RssSampler:
    """Peak resident memory of this process's descendants (the JVM and
    the Python workers it forks), sampled every ``period`` seconds over
    a window that ``window()`` restarts."""

    def __init__(self, period: float = 0.1):
        self.period = period
        self.window_kb = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            kb = sum(_pss_kb(p) for p in _descendants(me))
            with self._lock:
                self.window_kb = max(self.window_kb, kb)
            time.sleep(self.period)

    def window(self) -> float:
        """Peak MB since the previous call; starts a new window."""
        if not self._thread.is_alive():
            raise RuntimeError("the RSS sampler thread has stopped")
        with self._lock:
            kb, self.window_kb = self.window_kb, 0
        return kb / 1024

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
