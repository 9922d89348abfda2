"""Spark session, host record, CPU probe and the process-tree RSS sampler."""

from __future__ import annotations

import contextlib
import glob
import hashlib
import json
import os
import platform
import signal
import subprocess
import threading
import time

from .corpus import CACHE, ROOT

#: the settings ``docling_api_spark/job.py`` ships
JOB_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "64",
}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def bench_conf(trace: bool) -> dict:
    """Every setting the benchmark adds on top of ``JOB_CONF``."""
    tmp = os.path.join(CACHE, "tmp")
    return {
        "spark.master": f"local[{nproc()}]",
        # one parquet file per map task (the corpora's files are < 8 MB)
        "spark.sql.files.maxPartitionBytes": "8m",
        "spark.sql.files.openCostInBytes": "8m",
        # a fixed, pre-touched heap (initial = max) keeps the JVM's
        # resident size from depending on when the collector grew it or
        # which of its pages a run happened to touch
        "spark.driver.memory": "1g",
        "spark.driver.host": "127.0.0.1",
        "spark.driver.bindAddress": "127.0.0.1",
        # the traced run reads stage and task metrics from the UI's REST API
        "spark.ui.enabled": "true" if trace else "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(tmp, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Xms1g -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp}",
    }


def prepare_env() -> None:
    """Python workers import the engine from the checkout; temporary files
    stay inside it."""
    tmp = os.path.join(CACHE, "tmp")
    os.makedirs(os.path.join(tmp, "spark-local"), exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)


def start_session(trace: bool):
    from pyspark.sql import SparkSession
    b = SparkSession.builder.appName("perfbench")
    for k, v in {**JOB_CONF, **bench_conf(trace)}.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _alive(pid: int) -> bool:
    """Running, or at least not yet a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_session(spark, timeout: float = 60) -> None:
    """Stop the session and wait until the JVM and every process under it
    (the Python worker daemon and its workers) have ended."""
    from pyspark import SparkContext
    tree = RssSampler(jvm_pid(spark))._tree()
    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is not None:   # the JVM exits when its stdin closes
        proc.stdin.close()
        proc.wait(timeout)
    # a later session in this process launches a new JVM
    SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + timeout
    while any(_alive(p) for p in tree):
        if time.monotonic() > deadline:
            for p in tree:
                with contextlib.suppress(OSError):
                    os.kill(p, signal.SIGKILL)
            break
        time.sleep(0.05)


def cpu_probe(dur: float = 0.5) -> float:
    """Single-thread zlib+md5 loops per second (same kernel as
    ``bench._cpu_probe``): a loaded window shows as a low or shifting
    probe in the record itself."""
    import zlib
    payload = b"the quick brown fox jumps over the lazy dog " * 180
    t_end = time.perf_counter() + dur
    n = 0
    while time.perf_counter() < t_end:
        z = zlib.compress(payload, 6)
        zlib.decompress(z)
        hashlib.md5(z).hexdigest()
        n += 1
    return round(n / dur, 1)


def best_probe(probe: float) -> float:
    """The highest CPU probe any run in this checkout has taken, this one
    included: the reference a loaded window is told apart by."""
    path = os.path.join(CACHE, "cpu_probe_best.json")
    try:
        with open(path) as f:
            probe = max(probe, json.load(f)["probe"])
    except (OSError, ValueError, KeyError):
        pass
    with open(path, "w") as f:
        json.dump({"probe": probe}, f)
    return probe


def source_id() -> dict:
    """The git commit when the checkout is a repository, and always a
    digest of the engine sources."""
    h = hashlib.sha256()
    for p in sorted(glob.glob(os.path.join(ROOT, "docling_api_spark", "**",
                                           "*.py"), recursive=True)):
        with open(p, "rb") as f:
            h.update(os.path.relpath(p, ROOT).encode() + b"\0" + f.read())
    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    return {"git_commit": commit, "engine_sha256": h.hexdigest()[:16]}


def host_record() -> dict:
    import pyarrow
    import pyspark
    return {
        "nproc": nproc(),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "machine": platform.machine(),
        **source_id(),
    }


def steal_s() -> float:
    """Seconds the hypervisor ran something else on this machine's CPUs
    (the ``steal`` column of ``/proc/stat``), summed over CPUs."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for st in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(st) as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        kids.setdefault(int(fields[1]), []).append(
            int(st.split("/")[2]))
    return kids


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


class RssSampler:
    """Peak summed RSS of the Spark JVM and every process under it (the
    Python worker daemon and its workers), sampled every ``every`` s."""

    def __init__(self, jvm_pid: int, every: float = 0.1):
        self.pid, self.every = jvm_pid, every
        self.peak = 0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, daemon=True)

    def _tree(self) -> list[int]:
        kids, out, todo = _children(), [], [self.pid]
        while todo:
            p = todo.pop()
            out.append(p)
            todo += kids.get(p, [])
        return out

    def _run(self):
        while not self._stop.is_set():
            self.peak = max(self.peak,
                            sum(_rss_bytes(p) for p in self._tree()))
            self._stop.wait(self.every)

    def __enter__(self):
        self._t.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._t.join()
        return False

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
