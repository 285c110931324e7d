"""Measurement plumbing shared by the workloads: the Spark session the
benchmark owns, the tracer, Spark/JVM counters, provenance and the
statistics the result line reports.

Nothing here runs at import time; ``run.py`` drives it.
"""

from __future__ import annotations

import json
import os
import platform
import statistics
import subprocess
import tempfile
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

DRIVER_HEAP = "2g"


# ---------------------------------------------------------------------------
# Session
# ---------------------------------------------------------------------------

def start_session(root: str, work: str, width: int):
    """Start the benchmark's SparkSession at ``local[width]``.

    The package is shipped to Python workers through ``PYTHONPATH`` (set
    before the JVM launches, so every worker the JVM forks inherits it):
    without it a Python UDF whose pickled closure names the package fails
    to import on the worker. Scratch space (shuffle files, JVM temp files,
    the SQL warehouse) lives under ``work`` so a run touches nothing
    outside its checkout.
    """
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    py_path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = root if not py_path else f"{root}{os.pathsep}{py_path}"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp  # the gateway's connection-info file goes here
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"--driver-memory {DRIVER_HEAP} pyspark-shell"

    from data_engineering_nd_datalake_project_4_spark.session import session_builder

    java_opts = f"-Duser.timezone=UTC -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    return (
        session_builder(app_name="perfbench", master=f"local[{width}]")
        .config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
        .config("spark.driver.extraJavaOptions", java_opts)
        .config("spark.executor.extraJavaOptions", java_opts)
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )


def stop_session(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for the JVM
    to exit (its Python workers end with it)."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.terminate()
    gateway.proc.wait(timeout=60)


def warm_session(spark) -> None:
    """Session-level warm-up shared by every workload: one small shuffle,
    so the JVM class loading of a session's first job is paid in set-up.
    The workload's own code paths stay cold: a batch job submitted fresh
    pays their JIT on every run."""
    from pyspark.sql import functions as F

    spark.range(10_000).groupBy(F.col("id") % 7).count().collect()


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def provenance(spark, root: str, seed: int, width: int, workload: str) -> dict:
    jvm = spark._jvm
    n = nproc()
    commit = None
    if os.path.isdir(os.path.join(root, ".git")):
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root,
                             capture_output=True, text=True, check=False)
        commit = out.stdout.strip() or None
    import pyspark

    return {
        "workload": workload,
        "seed": seed,
        "nproc": n,
        "local_width": width,
        "width_differs_from_nproc": width != n,
        "driver_heap": DRIVER_HEAP,
        "driver_heap_max_bytes": int(jvm.java.lang.Runtime.getRuntime().maxMemory()),
        "pyspark": pyspark.__version__,
        "java": str(jvm.java.lang.System.getProperty("java.version")),
        "python": platform.python_version(),
        "git_commit": commit,
    }


# ---------------------------------------------------------------------------
# Spark and JVM counters
# ---------------------------------------------------------------------------

class SparkCounters:
    """Jobs, stages and tasks run between two points, read from the
    status tracker after the listener bus has drained; JVM GC time from
    the garbage-collector MXBeans; peak RSS from ``/proc``."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._jvm = spark._jvm
        self._tracker = self._sc.statusTracker()
        self.jvm_pid = int(self._jvm.java.lang.ProcessHandle.current().pid())

    def _drain(self) -> None:
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()

    def last_job_id(self) -> int:
        self._drain()
        ids = list(self._tracker.getJobIdsForGroup(None)) + list(self._tracker.getActiveJobsIds())
        return max(ids, default=-1)

    def since(self, last_job: int) -> dict[str, int]:
        """Jobs started after job id ``last_job``, their executed stages
        (skipped stages excluded) and completed tasks."""
        self._drain()
        jobs = [j for j in self._tracker.getJobIdsForGroup(None) if j > last_job]
        stages = tasks = 0
        for j in jobs:
            info = self._tracker.getJobInfo(j)
            for s in (info.stageIds if info else ()):
                st = self._tracker.getStageInfo(s)
                if st and st.numCompletedTasks > 0:
                    stages += 1
                    tasks += st.numCompletedTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks}

    def gc_seconds(self) -> float:
        beans = self._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(max(int(b.getCollectionTime()), 0) for b in beans) / 1000.0

    def peak_rss_mb(self) -> float:
        """VmHWM of the driver JVM plus this client process."""
        return (_vm_hwm_kb(self.jvm_pid) + _vm_hwm_kb(os.getpid())) / 1024.0


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


# ---------------------------------------------------------------------------
# Tracing
# ---------------------------------------------------------------------------

@dataclass
class Span:
    name: str
    trace_id: int
    span_id: int
    parent: int | None
    start: float
    end: float = 0.0
    counts: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Times calls into the program. With ``enabled`` it also keeps every
    span (name, start, end, parent, trace id) in memory with the Spark
    counts taken at the same boundaries; :meth:`write` dumps them at exit.
    Disabled, a span costs two clock reads, so end-to-end timings are
    measured with tracing off."""

    def __init__(self, enabled: bool, counters: SparkCounters | None = None):
        self.enabled = enabled
        self.counters = counters
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._next_id = 0
        self.trace_id = 0
        self.overhead_s = 0.0  # time spent reading counters at span boundaries

    def new_trace(self) -> None:
        """Start a new trace id: one per pass of a workload."""
        self.trace_id += 1

    @contextmanager
    def span(self, name: str):
        self._next_id += 1
        parent = self._stack[-1].span_id if self._stack else None
        before = None
        if self.enabled:
            t = time.perf_counter()
            before = self.counters.last_job_id()
            self.overhead_s += time.perf_counter() - t
        sp = Span(name, self.trace_id, self._next_id, parent, time.perf_counter())
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if self.enabled:
                sp.counts.update(self.counters.since(before))
                self.spans.append(sp)
                self.overhead_s += time.perf_counter() - sp.end

    def self_seconds(self) -> dict[str, float]:
        """Per span name: total duration minus the time its child spans
        cover (children never overlap: the client is one thread)."""
        child = {}
        for sp in self.spans:
            if sp.parent is not None:
                child[sp.parent] = child.get(sp.parent, 0.0) + sp.seconds
        out: dict[str, float] = {}
        for sp in self.spans:
            out[sp.name] = out.get(sp.name, 0.0) + sp.seconds - child.get(sp.span_id, 0.0)
        return out

    def write(self, path: str) -> None:
        t0 = min((sp.start for sp in self.spans), default=0.0)
        with open(path, "w") as f:
            json.dump({
                "spans": [{
                    "name": sp.name, "trace_id": sp.trace_id, "span_id": sp.span_id,
                    "parent": sp.parent, "start": sp.start - t0, "end": sp.end - t0,
                    **sp.counts,
                } for sp in self.spans],
                "self_seconds": self.self_seconds(),
            }, f, indent=1)


# ---------------------------------------------------------------------------
# Statistics and disk usage
# ---------------------------------------------------------------------------

def median(xs) -> float:
    return float(statistics.median(xs))


def median_by_key(dicts: list[dict]) -> dict:
    """Key-wise median over dicts with the same keys (one per pass)."""
    return {k: median([d[k] for d in dicts]) for k in dicts[0]}


def tail(xs) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it; the maximum when that percentile would fall below
    the median (fewer than 21 samples)."""
    s = sorted(xs)
    k = len(s) - 11
    if k < (len(s) - 1) // 2:
        return s[-1], 100.0
    return s[k], 100.0 * (k + 1) / len(s)


def tree_size(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``, skipping checksum and hidden files."""
    n_bytes = n_files = 0
    for d, _, files in os.walk(path):
        for f in files:
            if f.startswith(".") or f.endswith(".crc"):
                continue
            n_bytes += os.path.getsize(os.path.join(d, f))
            n_files += 1
    return n_bytes, n_files
