# -*- coding: utf-8 -*-
"""Host fit, Spark session set-up, memory sampling and result sinks
shared by the workloads.

Everything the benchmark writes lives under ``<checkout>/perfbench/.work``
(ignored by git): generated inputs, Spark scratch, event logs and the
oracle cache.
"""

from __future__ import annotations

import hashlib
import os
import platform
import sys
import threading
import time
from decimal import Decimal

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, "perfbench", ".work")

# The program files the benchmark drives; a checkout without them is
# not something to measure.
PROGRAM_FILES = (
    "job.py",
    "__spark_entry__.py",
    "fixtures/generator.py",
    "rdf_converter_spark/pipelines/runner.py",
)

TRIPLE_COLS = ("subj", "pred", "obj", "obj_is_uri", "obj_lang",
               "obj_datatype", "graph")

# how often the RSS sampler reads /proc; coarse on purpose, as the
# sampler shares the host's cores with the run
RSS_INTERVAL_S = 0.5


def source_digest(*rel_paths: str) -> str:
    """Short hash of the checkout files (or directory trees) a cached
    value is derived from. Cache keys carry it, so a cache left by
    another commit in the same workspace is never trusted."""
    h = hashlib.sha256()
    for rel in rel_paths:
        full = os.path.join(ROOT, rel)
        if os.path.isfile(full):
            files = [full]
        else:
            files = sorted(
                os.path.join(d, f) for d, _, fs in os.walk(full)
                if "__pycache__" not in d.split(os.sep)
                for f in fs if not f.endswith(".pyc"))
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode() + b"\0")
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:12]


class HostError(RuntimeError):
    """The host or checkout cannot run a workload as sized."""


def host_facts() -> dict:
    cores = len(os.sched_getaffinity(0))
    mem = {}
    with open("/proc/meminfo") as fh:
        for line in fh:
            key, val = line.split(":", 1)
            mem[key] = int(val.split()[0]) * 1024
    return {"cores": cores, "mem_total": mem["MemTotal"],
            "mem_available": mem.get("MemAvailable", mem["MemFree"])}


def check_host(min_cores: int, min_avail_gb: float, needs=()) -> dict:
    """Refuse early, with the reason, instead of timing a host or a
    checkout the workload was not sized for."""
    missing = [p for p in PROGRAM_FILES
               if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        raise HostError("checkout lacks the program files %s; run from "
                        "the root of a full checkout" % ", ".join(missing))
    for mod in ("pyspark", "pyarrow", "pandas") + tuple(needs):
        try:
            __import__(mod)
        except ImportError:
            raise HostError("python module %r is not installed" % mod)
    facts = host_facts()
    if facts["cores"] < min_cores:
        raise HostError("workload needs >= %d usable CPUs, host has %d"
                        % (min_cores, facts["cores"]))
    if facts["mem_available"] < min_avail_gb * 2 ** 30:
        raise HostError(
            "workload needs >= %.1f GB available memory, host has %.1f GB"
            % (min_avail_gb, facts["mem_available"] / 2 ** 30))
    return facts


def driver_memory_mb(facts: dict) -> int:
    """An eighth of RAM, clamped to [1 GB, 2 GB]: the local driver JVM
    holds every executor, and the rest stays for Python workers and
    the page cache."""
    return int(min(2048, max(1024, facts["mem_total"] // 8 // 2 ** 20)))


def provenance(facts: dict, argv, java: str) -> dict:
    import pyspark

    return {
        "cores": facts["cores"],
        "mem_total_gb": round(facts["mem_total"] / 2 ** 30, 1),
        "driver_memory_mb": driver_memory_mb(facts),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": java,
        "command": " ".join([os.path.basename(sys.executable)] + list(argv)),
    }


def java_version(spark) -> str:
    return spark._jvm.java.lang.System.getProperty("java.version")


def start_session(facts: dict, event_log: str = None):
    """A local[N] session sized to the host (cores, heap, shuffle
    partitions), scratch inside the checkout, and (traced runs only) an
    uncompressed, non-rolling event log. Spark's defaults otherwise:
    job.main applies its own settings when it runs."""
    from pyspark.sql import SparkSession

    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # workers import the program from the checkout; temp files stay in it
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    os.environ["TMPDIR"] = tmp
    mem = driver_memory_mb(facts)
    b = (
        SparkSession.builder.master("local[%d]" % facts["cores"])
        .appName("perfbench")
        .config("spark.driver.memory", "%dm" % mem)
        # a heap fixed at its maximum and touched at start keeps the
        # JVM's resident size from depending on when G1 grew the heap or
        # first wrote to a region; peak RSS then moves with off-heap
        # and Python-worker memory, not with GC timing
        .config("spark.driver.extraJavaOptions",
                "-Xms%dm -XX:+AlwaysPreTouch -Djava.io.tmpdir=%s"
                % (mem, tmp))
        .config("spark.local.dir", os.path.join(WORK, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(WORK, "warehouse"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # four shuffle tasks per core, as a deployment sizes it for its
        # cluster; Spark's default of 200 is sized for none in particular
        .config("spark.sql.shuffle.partitions", str(4 * facts["cores"]))
    )
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", "file://" + event_log)
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def fingerprint(df, cols) -> tuple:
    """Order-independent fingerprint: (rows, sum of xxhash64 over the
    given columns). Hashing every column forces every column, so the
    fingerprint is also a sink nothing can be pruned from."""
    from pyspark.sql import functions as F

    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return int(row["n"]), str(row["h"] if row["h"] is not None
                              else Decimal(0))


def noop_sink(df) -> None:
    """Materialize every row and column without keeping them."""
    df.write.format("noop").mode("overwrite").save()


def _descendants(root: int) -> list:
    """Process tree below ``root`` from /proc/<pid>/task/*/children."""
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        try:
            tids = os.listdir("/proc/%d/task" % pid)
        except OSError:
            continue
        for tid in tids:
            try:
                with open("/proc/%d/task/%s/children" % (pid, tid)) as fh:
                    kids = [int(k) for k in fh.read().split()]
            except OSError:
                continue
            out.extend(kids)
            todo.extend(kids)
    return out


def _resident_bytes(pid: int) -> int:
    """Proportional set size: resident pages, each shared page split
    among the processes sharing it. Plain RSS counts a shared page once
    per process, so a JVM forking a helper (the pre-exec child shares
    the whole heap) or a Python daemon forking workers would be counted
    twice or more."""
    try:
        with open("/proc/%d/smaps_rollup" % pid) as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak summed resident memory (PSS) of this process's descendants
    (the driver JVM and the Python workers it forks), read from /proc
    every ``RSS_INTERVAL_S`` seconds outside the program."""

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        me = os.getpid()
        while not self._stop.is_set():
            total = sum(_resident_bytes(p) for p in _descendants(me))
            self.peak = max(self.peak, total)
            self._stop.wait(RSS_INTERVAL_S)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        if self._thread.is_alive():
            raise RuntimeError("RSS sampler did not stop")


def _running(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open("/proc/%d/stat" % pid) as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def _wait_gone(pids, timeout: float) -> list:
    deadline = time.monotonic() + timeout
    while True:
        left = [p for p in pids if _running(p)]
        if not left or time.monotonic() > deadline:
            return left
        time.sleep(0.05)


def stop_processes() -> None:
    """Stop the Spark session, the JVM py4j launched for it and every
    process below this one, and wait until each has ended.

    ``spark.stop()`` leaves the gateway JVM running; it exits only when
    it sees its stdin close, which otherwise happens after this process
    has exited, so the JVM and its Python workers would outlive the
    benchmark."""
    import signal
    import subprocess

    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is not None:
        sc.stop()
    pids = _descendants(os.getpid())
    gateway = SparkContext._gateway
    if gateway is not None:
        SparkContext._gateway = SparkContext._jvm = None
        gateway.shutdown()
        proc = gateway.proc  # None when the JVM was not launched here
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    left = _wait_gone(pids, 30)
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    left = _wait_gone(left, 30)
    if left:
        raise RuntimeError("processes %s did not end" % left)


def timed(fn, *args):
    t0 = time.perf_counter()
    out = fn(*args)
    return time.perf_counter() - t0, out
