"""Session lifecycle, worker memory sampling, machine-load marker and spans.

Everything here is benchmark plumbing around the public ``grenier_spark``
calls; nothing reaches into the library.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def session_conf(work: str, n: int, event_log_dir: "str | None") -> dict:
    """Spark config for one ``local[n]`` session. The whole benchmark (JVM
    heap, n Python workers, the inputs) stays within a few GB, well inside
    the 15 GB host; every path Spark writes to lies under ``work``."""
    conf = {
        "spark.master": f"local[{n}]",
        "spark.app.name": "perfbench",
        "spark.driver.memory": "3g",
        # the default collector (G1) and a small class space: ZGC reserves
        # many times the heap in address space, and the JVM must start under
        # a per-process virtual-memory limit of a few GB. The tmpdir is
        # quoted because the checkout path may hold spaces.
        "spark.driver.extraJavaOptions":
            "-XX:-UsePerfData -XX:CompressedClassSpaceSize=256m"
            f' "-Djava.io.tmpdir={work}/tmp"',
        # loopback only, whatever the host name resolves to
        "spark.driver.host": "127.0.0.1",
        "spark.driver.bindAddress": "127.0.0.1",
        "spark.local.dir": f"{work}/local",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        "spark.sql.shuffle.partitions": str(n),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log_dir:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def prepare_env(root: str, work: str) -> None:
    """Point the JVM and the Python workers at this checkout before the
    first session starts (workers import ``grenier_spark`` from ``root``)."""
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = root + os.pathsep + os.environ.get(
        "PYTHONPATH", "")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # no JVM (spark-submit's launcher included) writes /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    # glibc's per-thread malloc arenas (64 MB of address space each) would
    # otherwise count against a virtual-memory limit in every JVM thread
    os.environ.setdefault("MALLOC_ARENA_MAX", "4")


def start_session(conf: dict):
    from pyspark.sql import SparkSession

    b = SparkSession.builder
    for k, v in conf.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_up(spark, n: int) -> None:
    """Start the Python workers on all n cores and import the library in
    them: one ``mapInArrow`` job with one task per core. Spark reuses these
    workers for every later Python task of the session."""
    import pyarrow as pa

    def load(batches):
        import grenier_spark.functions  # noqa: F401
        import grenier_spark.operators.sketch_build  # noqa: F401
        for b in batches:
            yield pa.RecordBatch.from_pydict(
                {"n": [b.num_rows]}, schema=pa.schema([("n", pa.int64())]))

    spark.range(0, n, numPartitions=n).mapInArrow(load, "n long").collect()


def shutdown(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for both: the
    JVM exits when its stdin closes and takes its Python workers with it."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


# -- worker memory ----------------------------------------------------------

def _proc_table() -> "dict[int, tuple[int, str]]":
    """pid -> (ppid, comm) for every visible process."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                s = f.read()
        except OSError:
            continue
        r = s.rfind(")")
        comm = s[s.find("(") + 1:r]
        out[int(d)] = (int(s[r + 2:].split()[1]), comm)
    return out


def python_worker_rss_mb(root_pid: int) -> float:
    """Summed RSS of the Python processes descended from ``root_pid`` other
    than ``root_pid`` itself: Spark's Python daemon and its workers."""
    table = _proc_table()
    children: dict = {}
    for pid, (ppid, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    total_kb = 0
    stack = list(children.get(root_pid, []))
    while stack:
        pid = stack.pop()
        stack.extend(children.get(pid, []))
        if not table[pid][1].startswith("python"):
            continue
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


class RssSampler:
    """Background thread recording the peak of :func:`python_worker_rss_mb`
    every ``interval`` seconds while the timed section runs."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, python_worker_rss_mb(me))
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


# -- machine load -------------------------------------------------------------

def _sort_once(a: np.ndarray) -> float:
    t0 = time.perf_counter()
    np.sort(a, kind="quicksort")
    return time.perf_counter() - t0


def load_marker(n: int) -> dict:
    """How busy the machine is right now, sized to ``n`` cores: the median
    wall of one 1 Mi-element sort alone, and of the same sort run on ``n``
    threads at once (numpy releases the GIL), plus loadavg and steal.
    ``par_ratio`` near 1 means n idle cores; a diagnostic, not a metric."""
    a = np.random.default_rng(0).random(1 << 20)
    single = statistics.median(_sort_once(a) for _ in range(3))
    with ThreadPoolExecutor(n) as ex:
        par = statistics.median(
            max(ex.map(_sort_once, [a] * n)) for _ in range(3))
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    return {"single_s": round(single, 5), "par_ratio": round(par / single, 3),
            "loadavg_1m": load1, "steal_jiffies": int(cpu[8])}


# -- spans ------------------------------------------------------------------

class Tracer:
    """In-memory spans (name, start, end, parent, op id), written out once at
    the end. While enabled it also tags every Spark job with the current op
    and step as local properties, which the event log records; a disabled
    tracer records nothing and costs one branch per call."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: "list[dict]" = []
        self._stack: "list[int]" = []
        self.op_id = None

    def span(self, name: str):
        return _Span(self, name)

    def start_op(self, spark, op_id: str) -> None:
        self.op_id = op_id
        if self.enabled:
            spark.sparkContext.setLocalProperty("perfbench.op", op_id)
            self.label(spark, "op")

    def label(self, spark, step: str) -> None:
        if self.enabled:
            spark.sparkContext.setLocalProperty("perfbench.step", step)

    def wrap(self, spark, obj, method: str, step: str, after: str) -> None:
        """Replace ``obj.method`` on this instance only by a wrapper that
        spans the call and tags its Spark jobs with ``step``, then tags
        later jobs with ``after``. Used on public methods the timed call
        makes, to split its jobs by step from outside the library."""
        if not self.enabled:
            return
        inner = getattr(obj, method)

        def wrapper(*args, **kwargs):
            self.label(spark, step)
            try:
                with self.span(f"checkpoint.{step}"):
                    return inner(*args, **kwargs)
            finally:
                self.label(spark, after)

        setattr(obj, method, wrapper)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


class _Span:
    __slots__ = ("tracer", "name", "idx")

    def __init__(self, tracer: Tracer, name: str):
        self.tracer = tracer
        self.name = name
        self.idx = None

    def __enter__(self) -> "_Span":
        t = self.tracer
        if t.enabled:
            self.idx = len(t.spans)
            t.spans.append({"name": self.name, "start": time.time(),
                            "end": None,
                            "parent": t._stack[-1] if t._stack else None,
                            "op": t.op_id})
            t._stack.append(self.idx)
        return self

    def __exit__(self, *exc) -> None:
        t = self.tracer
        if t.enabled:
            t.spans[self.idx]["end"] = time.time()
            t._stack.pop()
